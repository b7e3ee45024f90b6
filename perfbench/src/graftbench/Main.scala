package graftbench

import org.apache.spark.sql.SparkSession

/** The session and run-wide state a workload gets. */
final class Session(work: String) {
  var spark: SparkSession = _
  var jobs: Option[JobListener] = None
  val progress = new ProgressLog

  def start(cpus: Int, traced: Boolean): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.spill.dir", s"$work/spill")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(progress)
    if (traced) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      jobs = Some(l)
    }
  }
}

final class Ctx(val session: Session, val seed: Long, val seconds: Int, val trace: Boolean,
    val tracer: Tracer, val work: String, val setupMark: Array[Long]) {
  def spark: SparkSession = session.spark
  def progress: ProgressLog = session.progress
  def jobs: Option[JobListener] = session.jobs
  /** End of set-up: everything before this counts in `setup_s`. */
  def setupDone(): Unit = { setupMark(1) = System.nanoTime(); mark("set-up done") }
  /** Progress note on stderr (the run log), with seconds since start. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - setupMark(0)) / 1e9}%.2fs $what")
  /** Switch span recording on or off; the Spark jobs, tasks, task time
    * and shuffle bytes run while it is on are reported as `spark.*`.
    */
  def traceOn(on: Boolean, rep: Report): Unit = {
    tracer.on = on
    jobs.foreach { l =>
      val now = l.snap(spark)
      if (on) jobMark = now
      else Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_ms" -> "ms",
          "spark.shuffle_bytes" -> "bytes").zipWithIndex.foreach { case ((n, u), i) =>
        rep.put(n, (now(i) - jobMark(i)).toDouble, u)
      }
    }
  }
  private var jobMark = Array(0L, 0L, 0L, 0L)

  def restartSession(cpus: Int): Unit = {
    session.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session.start(cpus, trace)
  }
}

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir>
  *
  * Prints `@@RESULT {...}` (counts and metrics) and `@@DETAIL {...}`
  * (the workload's own named figures and notes) on stdout; spans of a traced run
  * go to `<work>/trace.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val session = new Session(work)
    val tracer = new Tracer(trace)
    val ctx = new Ctx(session, opts("seed").toLong, opts("seconds").toInt, trace, tracer,
      work, Array(t0, 0L))
    session.start(cpus, trace)
    ctx.mark("session started")
    val rep = new Report
    workload match {
      case "ingest_paced" => IngestBench.paced(ctx, rep)
      case "ingest_backlog" => IngestBench.backlog(ctx, rep)
      case "store_aging" => StoreAging.run(ctx, rep)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rep.put("setup_s", (ctx.setupMark(1) - t0) / 1e9, "s")
    rep.put("peak_rss_mb", Stats.peakRssMb(), "MB")
    if (trace) {
      tracer.selfTimeMs.foreach { case (layer, ms) => rep.put(s"self.${layer}_ms", ms, "ms") }
      rep.put("trace.spans", tracer.all.size.toDouble, "count")
      tracer.write(java.nio.file.Paths.get(work, "trace.json"))
    }
    val metrics = rep.metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    println("@@RESULT " + Json.obj(Seq(
      "attempted" -> rep.attempted.toString,
      "failed" -> rep.failed.toString,
      "problems" -> rep.problems.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics))))
    println("@@DETAIL " + Json.obj(rep.notes.toSeq.map { case (k, v) => k -> Json.str(v) }))
    System.out.flush()
    session.spark.stop()
  }
}
