package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import graft.kafka.{KafkaStubBroker, KafkaWireSource}
import graft.streaming.{DeltaUpsertStore, EsHttpStore, EsStub, Ingest}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{DecimalType, StructType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The reference topology as one streaming query: kafka-wire source →
  * `Ingest.decodeJsonWire` → 10 s watermark → per-(user, 1-minute
  * window) count and decimal sum in update mode → `foreachBatch`, which
  * persists the batch once and upserts it into the ES `_bulk` stub (K3,
  * external version = the window's count) and into a `DeltaUpsertStore`.
  */
final class Pipeline(ctx: Ctx, port: Int, val topic: String, stub: EsStub, val name: String) {
  val es = new EsHttpStore(stub.baseUrl, name, "doc_key", Seq("n"), "n", Pipeline.DocSchema)
  val deltaRoot = s"${ctx.work}/stores/$name"
  val delta = new DeltaUpsertStore(deltaRoot, "doc_key", Seq("n"))
  /** batchId -> nanoTime at which both sink calls had returned. */
  val sinkDone = new ConcurrentHashMap[Long, Long]()
  val esNs = new ConcurrentLinkedQueue[Long]()
  val deltaNs = new ConcurrentLinkedQueue[Long]()

  def start(cap: Option[Long], trigger: Trigger): StreamingQuery = {
    val spark = ctx.spark
    val reader = spark.readStream.format("kafka-wire")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("topic", topic)
    cap.foreach(c => reader.option("maxOffsetsPerTrigger", c.toString))
    val agg = Ingest.decodeJsonWire(reader.load())
      .withWatermark("ts", "10 seconds")
      .groupBy(col("user_id"), window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).as("sum_value"))
      .select(col("user_id"), unix_timestamp(col("window.start")).as("win_start"),
        col("n"), col("sum_value"))
      .withColumn("doc_key", concat_ws(":", col("user_id"), col("win_start")))
    require(es.healthCheck() && delta.healthCheck(), "sink preflight failed")
    val tracer = ctx.tracer
    Ingest.withStatePartitions(spark) {
      agg.writeStream
        .outputMode("update")
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          val trace = s"$name/batch-$id"
          tracer.span("streaming", "foreachBatch", trace) {
            b.persist()
            try {
              val t0 = System.nanoTime()
              tracer.span("sink", "es_upsert", trace)(es.upsert(b.toDF(), id))
              val t1 = System.nanoTime()
              tracer.span("sink", "delta_upsert", trace)(delta.upsert(b.toDF(), id))
              val t2 = System.nanoTime()
              esNs.add(t1 - t0)
              deltaNs.add(t2 - t1)
              sinkDone.put(id, t2)
            } finally b.unpersist()
          }
          ()
        }
        .option("checkpointLocation", s"${ctx.work}/chk/$name")
        .trigger(trigger)
        .start()
    }
  }

  /** Compare both sinks with the feed's model; returns the records that
    * sit in a group either sink got wrong (lost, duplicated or missing).
    */
  def check(feed: Feed, rep: Report): Long = {
    val mapper = new ObjectMapper().enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    def key(u: Long, w: Long) = s"$u:$w"
    val want = feed.model.map { case ((u, w), g) => key(u, w) -> (g(0), g(1)) }
    val esGot = stub.snapshot(name).map { case (_, id, src) =>
      val j = mapper.readTree(src)
      id -> (j.get("n").asLong(), j.get("sum_value").decimalValue().movePointRight(2).longValueExact())
    }.toMap
    val deltaGot = delta.read(ctx.spark).select("doc_key", "n", "sum_value").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).movePointRight(2).longValueExact()))
      .toMap
    var bad = 0L
    for (k <- want.keySet ++ esGot.keySet ++ deltaGot.keySet) {
      val w = want.get(k)
      if (esGot.get(k) != w || deltaGot.get(k) != w) {
        bad += w.map(_._1).getOrElse(esGot.get(k).orElse(deltaGot.get(k)).map(_._1).getOrElse(1L))
        rep.problem(s"$name group $k: want $w, es ${esGot.get(k)}, delta ${deltaGot.get(k)}")
      }
    }
    bad
  }

  def segments: Int = {
    val m = new java.io.File(s"$deltaRoot/MANIFEST")
    if (!m.exists()) 0
    else java.nio.file.Files.readAllLines(m.toPath).asScala.count(_.nonEmpty)
  }
}

object Pipeline {
  val DocSchema: StructType = StructType.fromDDL(
    "user_id BIGINT, win_start BIGINT, n BIGINT, sum_value DECIMAL(28,2)")

  /** Per-partition [start, end) offsets of each data batch of a query. */
  def batchRanges(ps: Seq[StreamingQueryProgress], topic: String)
      : Seq[(Long, Map[Int, (Long, Long)])] =
    ps.filter(p => p.numInputRows > 0 && p.sources.nonEmpty).map { p =>
      val src = p.sources.head
      val start = Option(src.startOffset).filter(s => s != null && s != "null")
        .map(KafkaWireSource.fromJson(_, topic)).getOrElse(Map.empty)
      val end = KafkaWireSource.fromJson(src.endOffset, topic)
      p.batchId -> end.map { case ((_, part), e) =>
        part -> (start.getOrElse((topic, part), 0L), e)
      }
    }
}

/** `ingest_paced`, `ingest_backlog` and their traced extras. */
object IngestBench {
  /** Offered rate of `ingest_paced`, rows/s: about a third of the
    * backlog drain rate measured on a 4-core box.
    */
  val PacedRate = 2000.0
  /** Paced due time before the measured window (not timed). */
  val LeadS = 15.0
  /** The backlog covers this many seconds of the paced feed. */
  val BacklogSpanS = 20
  /** Records admitted per micro-batch when draining the backlog. */
  val BacklogCap = 20000L

  def durations(ps: Seq[StreamingQueryProgress], key: String): Seq[Double] =
    ps.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))

  /** Broker and ES stub, shared by every stream of a run. */
  final class Env {
    val broker = new KafkaStubBroker(3)
    broker.start()
    val stub = new EsStub()
    stub.start()
    private var n = 0
    /** A name not used before in this run (topics, indices, stores). */
    def fresh(prefix: String): String = { n += 1; s"${prefix}_$n" }
    def close(): Unit = { broker.stop(); stub.stop() }
  }

  /** Latency of each record due in [fromNs, toNs): the time its batch's
    * sink calls returned minus its due time.
    */
  final case class Window(samples: Array[Double], batchOf: Array[Long], startNs: Long,
      lastDoneNs: Long) {
    def p50: Double = Stats.median(samples)
    /** Window records delivered per second, from the window's start to
      * the return of the batch holding its last record: the offered rate
      * while the stream keeps up, less as it falls behind.
      */
    def deliveredPerS: Double = samples.length / ((lastDoneNs - startNs) / 1e9)
    def p95: Double = Stats.pct(samples, 95)
    /** Distinct batches holding a record slower than `thr` ms. */
    def batchesBeyond(thr: Double): Int =
      samples.indices.filter(i => samples(i) > thr).map(batchOf).distinct.size
  }

  /** Per window, the latency samples; plus the records no batch held or
    * more than one batch held.
    */
  def latencies(feed: Feed, p: Pipeline, ps: Seq[StreamingQueryProgress],
      windows: Seq[(Long, Long)]): (Seq[Window], Long) = {
    var dup = 0L
    val seen = Array.fill(feed.due.length)(mutable.BitSet.empty)
    val lat = windows.map(_ => (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Long]))
    val lastDone = Array.fill(windows.size)(0L)
    for ((bid, ranges) <- Pipeline.batchRanges(ps, feed.topic);
         done <- Option(p.sinkDone.get(bid)); (part, (s, e)) <- ranges; o <- s until e) {
      val d = feed.due(part)(o.toInt)
      if (seen(part).contains(o.toInt)) dup += 1
      seen(part) += o.toInt
      val w = windows.indexWhere { case (a, b) => d >= a && d < b }
      if (w >= 0) {
        lat(w)._1 += (done - d) / 1e6
        lat(w)._2 += bid
        lastDone(w) = math.max(lastDone(w), done)
      }
    }
    val missing = feed.due.indices.map(part => feed.due(part).size - seen(part).size).sum + dup
    (lat.indices.map { w =>
      Window(lat(w)._1.toArray, lat(w)._2.toArray, windows(w)._1, lastDone(w))
    }, missing)
  }

  def paced(ctx: Ctx, rep: Report): Unit = {
    val env = new Env
    try {
      // traced: untraced half-windows before and after the traced one,
      // on one stream, so the warm-up trend cancels in the overhead
      val secs = ctx.seconds.toDouble
      val plan = if (ctx.trace) Seq((secs / 2, false), (secs, true), (secs / 2, false))
        else Seq((secs, false))
      val (ws, _, topic, _) = pacedRun(ctx, env, rep, PacedRate, ctx.seed, LeadS, plan,
        layers = true, ready = () => ctx.setupDone())
      val main = if (ctx.trace) ws(1) else ws.head
      rep.put("latency_p50_ms", main.p50, "ms")
      rep.put("latency_tail_ms", main.p95, "ms")
      rep.put("throughput_per_s", main.deliveredPerS, "1/s")
      rep.notes("ingest_latency_p50_ms") = f"${main.p50}%.1f"
      rep.notes("ingest_latency_p95_ms") = f"${main.p95}%.1f"
      rep.notes("latency_samples") = main.samples.length.toString
      rep.notes("batches_beyond_p95") = main.batchesBeyond(main.p95).toString
      if (ctx.trace) {
        rep.put("trace.overhead_pct", 100.0 * (main.p50 / ((ws(0).p50 + ws(2).p50) / 2) - 1.0), "%")
        isolatedReads(ctx, env.broker.port, topic, rep)
        sweep(ctx, env, rep)
      }
    } finally env.close()
  }

  /** One paced stream: `leadS` seconds of due time to warm up, then the
    * windows (seconds, traced) back to back. Returns the windows'
    * latencies, whether consumer lag grew, and the topic.
    */
  private def pacedRun(ctx: Ctx, env: Env, rep: Report, rate: Double, seed: Long,
      leadS: Double, windows: Seq[(Double, Boolean)], layers: Boolean,
      ready: () => Unit = () => ())
      : (Seq[Window], Boolean, String, Map[String, Double]) = {
    val topic = env.fresh("paced")
    val feed = new Feed(seed, env.broker.port, topic, rate, ctx.tracer)
    val p = new Pipeline(ctx, env.broker.port, topic, env.stub, topic)
    val lag = new ConcurrentLinkedQueue[Long]()
    ctx.progress.onProgress = pr =>
      if (pr.sources.nonEmpty && pr.sources.head.endOffset != null) {
        val end = KafkaWireSource.fromJson(pr.sources.head.endOffset, topic)
        val hw = (0 until 3).map(i => env.broker.highWatermark(topic, i)).sum
        lag.add(hw - end.values.sum)
      }
    ctx.tracer.on = false
    // one primer record first: the new query's cold first batch runs
    // before the paced feed starts, so no backlog builds up behind it
    feed.preload(1)
    val q = p.start(None, Trigger.ProcessingTime(0L))
    val deadline = System.nanoTime() + 120000000000L
    while (!p.sinkDone.containsKey(0L) && q.isActive && System.nanoTime() < deadline)
      Thread.sleep(20)
    ready()
    val t0 = System.nanoTime() + 20000000L
    val bounds = windows.scanLeft(t0 + (leadS * 1e9).toLong)((a, w) => a + (w._1 * 1e9).toLong)
    val gen = feed.paceAsync(t0, bounds.last - t0)
    for (((_, traced), start) <- windows.zip(bounds)) {
      val wait = start - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      if (traced != ctx.tracer.on) ctx.traceOn(traced, rep)
    }
    gen.join()
    q.processAllAvailable()
    q.stop()
    if (ctx.tracer.on) ctx.traceOn(false, rep)
    ctx.progress.onProgress = _ => ()
    feed.close()
    ctx.mark(s"paced stream at $rate rows/s stopped")
    org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
    val ps = ctx.progress.of(q.id)
    ps.foreach(pr => ctx.mark(s"batch ${pr.batchId}: ${pr.numInputRows} rows, ${pr.durationMs}"))
    val (ws, missing) = latencies(feed, p, ps, bounds.zip(bounds.tail))
    val bad = p.check(feed, rep)
    rep.attempted += feed.produced + feed.produceFailures
    rep.fail(feed.produceFailures + missing + bad,
      s"paced: ${feed.produceFailures} produce failures, $missing records in no or two batches, " +
        s"$bad in wrong groups")
    val lags = lag.asScala.toSeq
    val half = lags.length / 2
    val growing = lags.nonEmpty &&
      lags.drop(half).max > 2 * math.max(rate, lags.take(half).maxOption.getOrElse(0L).toDouble)
    val traced = windows.indices.find(windows(_)._2).map(i => (bounds(i), bounds(i + 1)))
    if (layers && traced.isDefined) {
      rep.put("gen.late_ms_p99", Stats.pct(feed.lateNs.map(_ / 1e6), 99), "ms")
      rep.put("kafka.produce_ms_p50", Stats.median(feed.produceNs.map(_ / 1e6)), "ms")
      rep.put("kafka.produce_bytes", feed.produceBytes.toDouble, "bytes")
      rep.put("kafka.lag_rows_max", lags.maxOption.getOrElse(0L).toDouble, "rows")
      // layer figures of the traced window only
      val (from, to) = traced.get
      streamLayers(ctx, p, ps.filter { pr =>
        val done = p.sinkDone.getOrDefault(pr.batchId, 0L)
        done >= from && done < to
      }, rep)
    }
    // per-batch time of each layer, for naming the one that saturates
    val data = ps.filter(_.numInputRows > 0)
    val layerMs = Map(
      "offsets" -> Stats.median(durations(data, "latestOffset")),
      "planning" -> Stats.median(durations(data, "queryPlanning")),
      "state commit" -> Stats.median(data.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)),
      "es upsert" -> Stats.median(p.esNs.asScala.map(_ / 1e6)),
      "delta upsert" -> Stats.median(p.deltaNs.asScala.map(_ / 1e6)),
      "wal and offset commit" -> Stats.median(durations(data, "walCommit").zip(
        durations(data, "commitOffsets")).map { case (a, b) => a + b }))
    (ws, growing, topic, layerMs)
  }

  /** Per-layer figures from the progress events and sink timings. */
  private def streamLayers(ctx: Ctx, p: Pipeline, ps: Seq[StreamingQueryProgress],
      rep: Report): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def p50(key: String) = Stats.median(durations(data, key))
    rep.put("stream.batches", data.size.toDouble, "count")
    rep.put("stream.rows_per_batch_p50", Stats.median(data.map(_.numInputRows.toDouble)), "rows")
    rep.put("stream.trigger_ms_p50", p50("triggerExecution"), "ms")
    rep.put("stream.latest_offset_ms_p50", p50("latestOffset"), "ms")
    rep.put("stream.query_planning_ms_p50", p50("queryPlanning"), "ms")
    rep.put("stream.add_batch_ms_p50", p50("addBatch"), "ms")
    rep.put("stream.wal_commit_ms_p50", p50("walCommit"), "ms")
    rep.put("stream.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
    val st = ps.flatMap(_.stateOperators.headOption)
    rep.put("state.rows_total_max", st.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "rows")
    rep.put("state.commit_ms_p50", Stats.median(st.map(_.commitTimeMs.toDouble)), "ms")
    rep.put("state.memory_bytes_max", st.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "bytes")
    rep.put("sink.es_upsert_ms_p50", Stats.median(p.esNs.asScala.map(_ / 1e6)), "ms")
    rep.put("sink.delta_upsert_ms_p50", Stats.median(p.deltaNs.asScala.map(_ / 1e6)), "ms")
    rep.put("sink.delta_segments_end", p.segments.toDouble, "count")
    // each micro-batch as a span (trigger start from the progress
    // timestamp), parent of its foreachBatch sink spans
    val clockNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    data.foreach { pr =>
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000000L + clockNs
      val dur = (durations(Seq(pr), "triggerExecution").headOption.getOrElse(0.0) * 1e6).toLong
      ctx.tracer.adopt("streaming", "micro_batch", s"${p.name}/batch-${pr.batchId}", start, start + dur)
    }
  }

  /** Batch kafka-wire read of `topic` into noop, then the same with the
    * decode chain — the fetch and decode layers without the stream.
    */
  private def isolatedReads(ctx: Ctx, port: Int, topic: String, rep: Report): Unit = {
    val spark = ctx.spark
    def wire = spark.read.format("kafka-wire").option("host", "127.0.0.1")
      .option("port", port.toString).option("topic", topic).load()
    val rows = wire.count().toDouble
    ctx.tracer.on = true
    def rate(df: => DataFrame, name: String): Double = {
      val ts = (1 to 3).map { i =>
        val t0 = System.nanoTime()
        ctx.tracer.span("kafka", name, s"isolated/$name-$i") {
          df.write.format("noop").mode("overwrite").save()
        }
        System.nanoTime() - t0
      }
      rows / (ts.min / 1e9)
    }
    rep.put("kafka.fetch_rows_per_s", rate(wire, "fetch"), "rows/s")
    rep.put("decode.rows_per_s", rate(Ingest.decodeJsonWire(wire), "fetch_decode"), "rows/s")
    ctx.tracer.on = false
  }

  /** Rate steps at fixed fractions of the backlog drain rate: latency at
    * each, whether lag grows, and the layer whose per-batch time grows
    * most from the lowest step to the first step whose lag grows (or the
    * highest) — the one that saturates (traced run only, not gated).
    */
  private def sweep(ctx: Ctx, env: Env, rep: Report): Unit = {
    val base = PacedRate * 3
    val res = Seq(1.0 / 3, 2.0 / 3, 1.0).zipWithIndex.map { case (f, i) =>
      val (ws, growing, _, layerMs) = pacedRun(ctx, env, rep, base * f, ctx.seed + 100 + i, 3.0,
        Seq((5.0, false)), layers = false)
      rep.put(s"sweep.r${i + 1}_rows_per_s", base * f, "rows/s")
      rep.put(s"sweep.r${i + 1}_latency_p50_ms", ws.head.p50, "ms")
      rep.put(s"sweep.r${i + 1}_lag_growing", if (growing) 1.0 else 0.0, "bool")
      (f"${base * f}%.0f rows/s: p50 ${ws.head.p50}%.0f ms, p95 ${ws.head.p95}%.0f ms, lag " +
        (if (growing) "growing" else "bounded"), growing, layerMs)
    }
    rep.notes("sweep") = res.map(_._1).mkString("; ")
    val knee = res.indexWhere(_._2) match { case -1 => res.size - 1; case i => i }
    val (layer, grew) = res(knee)._3.map { case (l, ms) => l -> (ms - res.head._3(l)) }.maxBy(_._2)
    rep.notes("sweep_knee_layer") =
      f"$layer ($grew%+.0f ms per batch from ${base / 3}%.0f to ${base * (knee + 1) / 3}%.0f rows/s)"
  }

  def backlog(ctx: Ctx, rep: Report): Unit = {
    val env = new Env
    try {
      // warm-up: a short drain of the same topology on its own topic
      val warm = new Feed(ctx.seed ^ 0x5eedL, env.broker.port, "warmup", PacedRate, ctx.tracer)
      warm.preload(2000)
      warm.close()
      drainOnce(ctx, env, warm, new Report, cap = 2000L)
      val feed = new Feed(ctx.seed, env.broker.port, "backlog", PacedRate, ctx.tracer)
      ctx.tracer.on = ctx.trace
      feed.preload((PacedRate * BacklogSpanS).toLong)
      ctx.tracer.on = false
      feed.close()
      ctx.setupDone()
      // traced: one untraced drain before and one after the traced ones
      val before = if (ctx.trace) Some(drainOnce(ctx, env, feed, rep, BacklogCap)._1) else None
      if (ctx.trace) ctx.traceOn(true, rep)
      val main = drains(ctx, env, feed, rep)
      if (ctx.trace) ctx.traceOn(false, rep)
      val untraced = before.map(b => (b + drainOnce(ctx, env, feed, rep, BacklogCap)._1) / 2)
      rep.put("throughput_per_s", main._1, "1/s")
      rep.put("latency_p50_ms", main._2, "ms")
      rep.put("latency_tail_ms", main._3, "ms")
      rep.notes("backlog_rows_per_s") = f"${main._1}%.0f"
      untraced.foreach(u => rep.put("trace.overhead_pct", 100.0 * (u / main._1 - 1.0), "%"))
      if (ctx.trace) {
        rep.put("gen.late_ms_p99", 0.0, "ms")
        rep.put("kafka.produce_ms_p50", Stats.median(feed.produceNs.map(_ / 1e6)), "ms")
        rep.put("kafka.produce_bytes", feed.produceBytes.toDouble, "bytes")
        isolatedReads(ctx, env.broker.port, "backlog", rep)
        // single-threaded baseline: the same drain on local[1]
        ctx.restartSession(1)
        val one = drainOnce(ctx, env, feed, new Report, BacklogCap)
        rep.put("baseline.local1_rows_per_s", one._1, "rows/s")
      }
    } finally env.close()
  }

  /** Drain the backlog into fresh sinks, three times per 10 s of the
    * run's seconds (a fixed amount of work); returns (median rows/s, batch
    * p50 ms, batch p90 ms).
    */
  private def drains(ctx: Ctx, env: Env, feed: Feed, rep: Report): (Double, Double, Double) = {
    val rates = mutable.ArrayBuffer.empty[Double]
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val n = math.max(3L, math.round(ctx.seconds * 0.3))
    while (rates.size < n) {
      val r = drainOnce(ctx, env, feed, rep, BacklogCap)
      rates += r._1
      batchMs ++= r._2
    }
    rep.notes("drains") = rates.size.toString
    (Stats.median(rates), Stats.median(batchMs), Stats.pct(batchMs, 90))
  }

  /** One drain from `start()` to termination; (rows/s, batch ms). */
  private def drainOnce(ctx: Ctx, env: Env, feed: Feed, rep: Report, cap: Long)
      : (Double, Seq[Double]) = {
    val p = new Pipeline(ctx, env.broker.port, feed.topic, env.stub, env.fresh("drain"))
    val t0 = System.nanoTime()
    val q = p.start(Some(cap), Trigger.AvailableNow())
    q.awaitTermination()
    val wall = System.nanoTime() - t0
    ctx.mark(f"drained ${feed.topic} in ${wall / 1e9}%.2f s")
    org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
    val ps = ctx.progress.of(q.id)
    val rows = ps.map(_.numInputRows).sum
    val bad = p.check(feed, rep)
    rep.attempted += feed.produced
    rep.fail(bad + math.max(0L, feed.produced - rows),
      s"backlog drain: $rows of ${feed.produced} rows consumed, $bad in wrong groups")
    if (ctx.tracer.on) {
      val lags = ps.flatMap(pr => Option(pr.sources.head.endOffset))
        .map(e => feed.produced - KafkaWireSource.fromJson(e, feed.topic).values.sum)
      rep.put("kafka.lag_rows_max", lags.maxOption.getOrElse(0L).toDouble, "rows")
      streamLayers(ctx, p, ps, rep)
    }
    (rows / (wall / 1e9), durations(ps.filter(_.numInputRows > 0), "triggerExecution"))
  }
}
