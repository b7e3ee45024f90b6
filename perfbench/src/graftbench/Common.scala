package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Deterministic random stream (splitmix64): every input the benchmark
  * feeds the engine derives from the command-line seed through this.
  */
final class Rng(seed: Long) {
  private var x = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
  def nextLong(): Long = {
    x += 0x9E3779B97F4A7C15L
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
}

object Stats {
  /** Nearest-rank percentile (q in [0, 100]); NaN on no samples. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val a = xs.toArray.sorted
    if (a.isEmpty) Double.NaN
    else a(math.min(a.length - 1, math.max(0, math.ceil(q / 100.0 * a.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  def ms(ns: Long): Double = ns / 1e6

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
}

/** One timed region at a layer boundary. `parent` 0 = a root span. */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
    name: String, startNs: Long, endNs: Long)

/** In-memory span recorder, written once when the run ends. Switched
  * off, it records nothing and costs one branch per call.
  */
final class Tracer(@volatile var on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Time `body` as a span under the calling thread's open span. */
  def span[T](layer: String, name: String, trace: String)(body: => T): T = {
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, trace, layer, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }
  }

  /** Record a span timed elsewhere (e.g. from a progress event). */
  def record(layer: String, name: String, trace: String, startNs: Long, endNs: Long): Long = {
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, 0L, trace, layer, name, startNs, endNs))
      id
    }
  }

  /** Record a span timed elsewhere and make it the parent of the root
    * spans of the same trace that lie inside it (a micro-batch over its
    * `foreachBatch` sink calls).
    */
  def adopt(layer: String, name: String, trace: String, startNs: Long, endNs: Long): Unit =
    if (on) {
      val id = record(layer, name, trace, startNs, endNs)
      spans.asScala.toSeq
        .filter(s => s.trace == trace && s.parent == 0L && s.id != id &&
          s.startNs >= startNs - Slack && s.endNs <= endNs + Slack)
        .foreach { s => spans.remove(s); spans.add(s.copy(parent = id)) }
    }

  /** Clock slack when matching spans timed by different clocks. */
  private val Slack = 5000000L

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per layer: span time minus the part of it covered by child spans. */
  def selfTimeMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var cov = 0L
        var end = Long.MinValue
        covered.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) cov += b - from
          end = math.max(end, b)
        }
        Stats.ms(s.endNs - s.startNs - cov)
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** What one workload run measured: the counts behind `failed_ratio`,
  * named metrics with units, and free-form notes for the detail line.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fail(n: Long, why: String): Unit = if (n > 0) {
    failed += n
    problem(why)
  }
  def problem(why: String): Unit = if (problems.size < 20) problems += why
}
