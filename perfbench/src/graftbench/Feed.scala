package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.kafka.{KafkaCodec, KafkaWireClient}

import scala.collection.mutable

/** The load generator: events-wire JSON records (the `Ingest.jsonWireSchema`
  * fields), keys and types distributed like the sf0.1 `events` table
  * (1500 users and 5 event types, both uniform; `value` exponential with
  * mean 50 at cent precision; `props` = `{"k": 0..99}`), produced over one
  * producer connection to a 3-partition topic, keyed by user (murmur2
  * placement, like the reference's keyed producer).
  *
  * Record i is due at `i / rate` seconds after the feed starts; that due
  * time is both its CreateTime and its event time (`ts_us`), on a fixed
  * UTC origin 58 s past a minute boundary so every run crosses a 1-minute
  * window boundary after 2 s of event time and state evicts.
  *
  * The feed keeps a plain-Scala model of what it produced: the due time
  * of every offset (for latency) and the count and cent sum per
  * (user, 1-minute window) — the state the sinks must end up holding.
  */
final class Feed(seed: Long, port: Int, val topic: String, rate: Double,
    tracer: Tracer, partitions: Int = 3) {
  import Feed._

  private val rng = new Rng(seed)
  private val client = new KafkaWireClient("127.0.0.1", port, clientId = "perfbench-gen")
  /** Due time (nanoTime) of each produced offset, per partition. */
  val due: Array[mutable.ArrayBuffer[Long]] = Array.fill(partitions)(mutable.ArrayBuffer.empty[Long])
  /** (user, window start s) -> (count, cents). */
  val model = mutable.HashMap.empty[(Long, Long), Array[Long]]
  var produced = 0L
  var produceFailures = 0L
  var produceBytes = 0L
  val produceNs = mutable.ArrayBuffer.empty[Long]
  val lateNs = mutable.ArrayBuffer.empty[Long]
  private var next = 0L

  def close(): Unit = client.close()

  /** Event-time micros of record `i`. */
  private def tsUs(i: Long): Long = OriginUs + (i * 1e6 / rate).toLong

  /** Produce records next until `upto` (exclusive); their due times are
    * `dueOf(i)`. One produce call per partition.
    */
  private def emit(upto: Long, dueOf: Long => Long): Unit = {
    val byPart = Array.fill(partitions)(mutable.ArrayBuffer.empty[(Long, Array[Byte], Array[Byte])])
    val dues = Array.fill(partitions)(mutable.ArrayBuffer.empty[Long])
    val sendNs = System.nanoTime()
    while (next < upto) {
      val i = next
      val user = rng.nextInt(Users).toLong
      val et = rng.nextInt(Types.length)
      val cents = math.min(56021L,
        math.round(-math.log(1.0 - rng.nextDouble()) * 5000.0))
      val k = rng.nextInt(100)
      val ts = tsUs(i)
      val key = user.toString.getBytes(UTF_8)
      val value = (s"""{"event_id":$i,"user_id":$user,"event_type":"${Types(et)}",""" +
        s""""value":${java.math.BigDecimal.valueOf(cents, 2).toPlainString},""" +
        s""""props":"{\\"k\\": $k}","ts_us":$ts}""").getBytes(UTF_8)
      val p = KafkaCodec.partitionFor(key, partitions)
      byPart(p) += ((ts / 1000L, key, value))
      dues(p) += dueOf(i)
      val g = model.getOrElseUpdate((user, Math.floorDiv(ts, 60000000L) * 60L), Array(0L, 0L))
      g(0) += 1
      g(1) += cents
      next += 1
    }
    for (p <- 0 until partitions if byPart(p).nonEmpty) {
      val recs = byPart(p).toSeq
      val t0 = System.nanoTime()
      try {
        val base = tracer.span("kafka", "produce", s"$topic/$p") {
          client.produce(topic, p, recs)
        }
        require(base == due(p).size, s"offset gap on $topic/$p: $base vs ${due(p).size}")
        due(p) ++= dues(p)
        produced += recs.size
        produceBytes += recs.map(r => r._2.length + r._3.length).sum
        dues(p).foreach(d => lateNs += sendNs - d)
      } catch {
        case e: Exception =>
          produceFailures += recs.size
          System.err.println(s"[perfbench] produce failed on $topic/$p: $e")
      }
      produceNs += System.nanoTime() - t0
    }
  }

  /** Backlog: `n` records produced as fast as one connection allows. */
  def preload(n: Long): Unit =
    while (next < n) emit(math.min(n, next + 3000), _ => 0L)

  /** Open loop: produce record i at `t0 + i / rate` until `durNs` of due
    * time has passed, never slowing when the consumer does.
    */
  def pace(t0: Long, durNs: Long): Unit = {
    val total = (rate * durNs / 1e9).toLong
    val perNs = 1e9 / rate
    while (next < total) {
      val now = System.nanoTime()
      val dueIdx = math.min(total - 1, ((now - t0) / perNs).toLong)
      if (dueIdx < next)
        java.util.concurrent.locks.LockSupport.parkNanos(t0 + (next * perNs).toLong - now)
      else emit(math.min(dueIdx + 1, next + 2000), i => t0 + (i * perNs).toLong)
    }
  }

  /** Start [[pace]] on its own thread. */
  def paceAsync(t0: Long, durNs: Long): Thread = {
    val t = new Thread(() => pace(t0, durNs), "perfbench-generator")
    t.setDaemon(true)
    t.start()
    t
  }
}

object Feed {
  val Users = 1500
  val Types: Array[String] = Array("signup", "purchase", "view", "click", "error")
  /** 2024-01-01T00:00:58Z in micros. */
  val OriginUs: Long = 1704067258000000L
}
