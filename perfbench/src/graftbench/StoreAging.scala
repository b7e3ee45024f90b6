package graftbench

import graft.streaming.DeltaUpsertStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** `store_aging`: one caller, closed loop, against `DeltaUpsertStore`.
  *
  * Each cycle opens a fresh store, seeds it with one segment holding
  * every key, then upserts small latest-per-key batches drawn from a
  * skewed key space (key = ⌊K·u³⌋, so low keys are hot). After every
  * `ReadEvery`-th upsert it runs a materialized full `read` and a 10-key
  * `lookup`. A cycle ends when the store holds `Segments` segments, so
  * reads see the store at 4, 7, 10 and 13 segments as it ages. A run
  * measures one cycle per 10 s of `--seconds` (a fixed amount of work,
  * so every run sees the same store ages). Every read and lookup is
  * compared with an in-memory model of the upserts.
  */
object StoreAging {
  val Keys = 5000
  val Batch = 200
  val Segments = 13
  val ReadEvery = 3

  private val schema = StructType.fromDDL("k BIGINT, ver BIGINT, payload BIGINT, tag STRING")

  final class Cycle(ctx: Ctx, rng: Rng, id: Int) {
    val root = s"${ctx.work}/stores/aging_$id"
    val store = new DeltaUpsertStore(root, "k", Seq("ver"))
    val model = mutable.HashMap.empty[Long, (Long, Long)]
    private var ver = 0L
    var upserts = 0

    private def rows(keys: Iterable[Long]): DataFrame = {
      val rs = keys.map { k =>
        ver += 1
        val payload = rng.nextLong()
        model(k) = (ver, payload)
        Row(k, ver, payload, s"t${payload & 0xff}")
      }.toSeq
      ctx.spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    }
    def skewedKey(): Long = {
      val u = rng.nextDouble()
      (Keys * u * u * u).toLong
    }
    def seed(): Unit = store.upsert(rows(0L until Keys), 0L)
    def upsertBatch(): DataFrame = rows(Seq.fill(Batch)(skewedKey()))
    def upsert(df: DataFrame): Unit = { upserts += 1; store.upsert(df, upserts.toLong) }

    def matches(got: Array[Row], keys: Option[Set[Long]]): Boolean = {
      val g = got.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = keys.fold(model.toMap)(ks => model.filter(kv => ks.contains(kv._1)).toMap)
      g.size == got.length && g == want
    }
  }

  /** What one measured pass saw. */
  final class Pass {
    val upsertMs, readMs, readBuildMs, readExecMs = mutable.ArrayBuffer.empty[Double]
    val lookupMs, lookupBuildMs, lookupExecMs = mutable.ArrayBuffer.empty[Double]
    var calls = 0L
    var wallS = 0.0
    var segmentsEnd = 0
    var last: Cycle = _
    def throughput: Double = calls / wallS
  }

  def run(ctx: Ctx, rep: Report): Unit = {
    val rng = new Rng(ctx.seed)
    var cycleId = 0
    def newCycle(): Cycle = {
      cycleId += 1
      val c = new Cycle(ctx, rng, cycleId)
      ctx.tracer.span("store", "seed", s"cycle-$cycleId")(c.seed())
      c
    }
    // warm-up: one short untimed cycle
    ctx.tracer.on = false
    val warm = newCycle()
    for (_ <- 1 to 3) warm.upsert(warm.upsertBatch())
    warm.store.read(ctx.spark).collect()
    warm.store.lookup(ctx.spark, Seq(1L, 2L)).collect()
    ctx.setupDone()

    /** One cycle per 10 s of the run's seconds. */
    def measure(): Pass = {
      val cycles = math.max(1L, math.round(ctx.seconds / 10.0))
      val ps = new Pass
      val t = ctx.tracer
      var cycle = newCycle()
      val first = cycleId
      val t0 = System.nanoTime()
      var done = false
      while (!done) {
        val df = cycle.upsertBatch()
        val trace = s"cycle-$cycleId/round-${cycle.upserts + 1}"
        val u0 = System.nanoTime()
        try t.span("store", "upsert", trace)(cycle.upsert(df))
        catch { case e: Exception => rep.fail(1, s"upsert failed: $e") }
        ps.upsertMs += Stats.ms(System.nanoTime() - u0)
        ps.calls += 1
        if (cycle.upserts % ReadEvery == 0) {
          val r0 = System.nanoTime()
          val got = try {
            val view = t.span("store", "read_build", trace)(cycle.store.read(ctx.spark))
            val r1 = System.nanoTime()
            val rows = t.span("store", "read_exec", trace)(view.select("k", "ver", "payload").collect())
            ps.readBuildMs += Stats.ms(r1 - r0)
            ps.readExecMs += Stats.ms(System.nanoTime() - r1)
            Some(rows)
          } catch { case e: Exception => rep.fail(1, s"read failed: $e"); None }
          ps.readMs += Stats.ms(System.nanoTime() - r0)
          if (!got.exists(cycle.matches(_, None))) rep.fail(1, s"read $trace differs from the model")
          val keys = Iterator.continually(cycle.skewedKey()).distinct.take(10).toSeq
          val l0 = System.nanoTime()
          val hit = try {
            val view = t.span("store", "lookup_build", trace)(cycle.store.lookup(ctx.spark, keys))
            val l1 = System.nanoTime()
            val rows = t.span("store", "lookup_exec", trace)(view.select("k", "ver", "payload").collect())
            ps.lookupBuildMs += Stats.ms(l1 - l0)
            ps.lookupExecMs += Stats.ms(System.nanoTime() - l1)
            Some(rows)
          } catch { case e: Exception => rep.fail(1, s"lookup failed: $e"); None }
          ps.lookupMs += Stats.ms(System.nanoTime() - l0)
          if (!hit.exists(cycle.matches(_, Some(keys.toSet)))) rep.fail(1, s"lookup $trace differs from the model")
          ps.calls += 2
        }
        if (cycle.upserts + 1 >= Segments) {
          ctx.mark(s"cycle $cycleId done")
          ps.segmentsEnd = cycle.upserts + 1
          if (cycleId - first + 1 >= cycles) done = true
          else cycle = newCycle()
        }
      }
      ps.wallS = (System.nanoTime() - t0) / 1e9
      ps.last = cycle
      rep.attempted += ps.calls
      ps
    }

    // traced: untraced passes before and after the traced one, for the
    // tracing overhead
    val before = if (ctx.trace) Some(measure()) else None
    if (ctx.trace) ctx.traceOn(true, rep)
    val ps = measure()
    if (ctx.trace) ctx.traceOn(false, rep)
    val untraced = before.map(b => (b.throughput + measure().throughput) / 2)
    rep.put("latency_p50_ms", Stats.median(ps.upsertMs), "ms")
    rep.put("latency_tail_ms", Stats.pct(ps.upsertMs, 90), "ms")
    rep.put("throughput_per_s", ps.throughput, "1/s")
    rep.notes("store_upsert_p50_ms") = f"${Stats.median(ps.upsertMs)}%.2f"
    rep.notes("store_upsert_p90_ms") = f"${Stats.pct(ps.upsertMs, 90)}%.2f"
    rep.notes("store_read_p50_ms") = f"${Stats.median(ps.readMs)}%.2f"
    rep.notes("store_lookup_p50_ms") = f"${Stats.median(ps.lookupMs)}%.2f"
    rep.notes("upserts") = ps.upsertMs.size.toString
    rep.notes("reads") = ps.readMs.size.toString
    untraced.foreach { u =>
      rep.put("trace.overhead_pct", 100.0 * (u / ps.throughput - 1.0), "%")
      rep.put("store.read_build_ms_p50", Stats.median(ps.readBuildMs), "ms")
      rep.put("store.read_exec_ms_p50", Stats.median(ps.readExecMs), "ms")
      rep.put("store.lookup_build_ms_p50", Stats.median(ps.lookupBuildMs), "ms")
      rep.put("store.lookup_exec_ms_p50", Stats.median(ps.lookupExecMs), "ms")
      rep.put("store.segments_end", ps.segmentsEnd.toDouble, "count")
      rep.put("store.disk_bytes_per_live_row",
        Stats.dirBytes(new java.io.File(ps.last.root)) / ps.last.model.size.toDouble, "bytes")
    }
  }
}
