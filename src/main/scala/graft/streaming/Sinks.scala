package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Pluggable index stores reproducing the reference's two Elasticsearch
  * sink semantics (SURVEY.md §2.8) against a local parquet store — the
  * zero-egress stand-in the sink trait was designed for (§7.1 step 4):
  *
  *  - K3 (`es.mapping.id=room`, `spark_streaming_kafka.py:41`):
  *    upsert-by-key, last write per key wins — the store never holds
  *    more than one doc per key.
  *  - K4 (`kafka_to_es.py:55-71`): append-only with dynamic per-key
  *    index routing (`room-{room}`); duplicates possible on retry
  *    (at-least-once), so replays are tolerated, not deduped.
  *  - K5 (`kafka_to_es.py:7-14`): health preflight before starting the
  *    stream.
  *
  * Scale notes: the upsert store does read-merge-overwrite per
  * micro-batch, which is correct but O(store) per batch — the
  * production path is an upsert-capable table format (Delta/Iceberg
  * MERGE) or the ES bulk API with doc ids; the micro-batch reduction
  * (latest-per-key BEFORE touching the store) is the part that carries
  * to 100 TB, since it shrinks each batch to ≤ |keys| rows map-side.
  */
trait IndexStore {
  def healthCheck(): Boolean
  def read(spark: SparkSession): DataFrame
}

/** K3: last-write-wins keyed store. `orderCol` breaks ordering within a
  * batch (event time, then a unique tiebreaker).
  */
final class UpsertParquetStore(root: String, keyCol: String, orderCols: Seq[String])
    extends IndexStore {

  private val dir = new java.io.File(root)

  override def healthCheck(): Boolean = { dir.mkdirs(); dir.canWrite }

  private def latestPerKey(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col(_).desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Micro-batch upsert: reduce the batch to latest-per-key, merge with
    * the store, keep the winner per key, overwrite atomically (write to
    * a versioned subdir, then flip a pointer file).
    */
  def upsert(batch: DataFrame, batchId: Long): Unit = synchronized {
    val spark = batch.sparkSession
    val reduced = latestPerKey(batch)
    val current = currentVersion()
    val merged = current match {
      case Some(v) =>
        val existing = spark.read.parquet(s"$root/v$v")
        latestPerKey(existing.unionByName(reduced))
      case None => reduced
    }
    val next = current.getOrElse(-1L) + 1
    merged.write.mode(SaveMode.Overwrite).parquet(s"$root/v$next")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/CURRENT"), next.toString)
    // GC superseded versions (keep the immediate predecessor so an
    // in-flight reader of the old CURRENT finishes cleanly)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .filter(_.getName.drop(1).toLongOption.exists(_ < next - 1))
      .foreach(deleteRecursively)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  private def currentVersion(): Option[Long] = {
    val p = java.nio.file.Paths.get(s"$root/CURRENT")
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim.toLong)
    else None
  }

  override def read(spark: SparkSession): DataFrame =
    currentVersion() match {
      case Some(v) => spark.read.parquet(s"$root/v$v")
      case None    => spark.emptyDataFrame
    }
}

/** K3 at scale: log-structured upsert store. Each micro-batch appends
  * ONE delta segment holding only the batch's latest-per-key rows —
  * O(batch) write cost, versus [[UpsertParquetStore]]'s O(store)
  * read-merge-overwrite per batch. Readers merge base + deltas with
  * "global orderCols maximum per key, newest segment breaking ties" (a
  * window over the unioned segments — identical last-write-wins state
  * to [[UpsertParquetStore]]); [[compact]] folds segments into a base so read
  * amplification stays bounded — the same base/delta/compaction shape
  * Delta Lake and Iceberg MERGE pipelines use, minus the format
  * machinery this zero-egress build can't carry.
  *
  * Read path: every segment records its schema at write time (in its
  * `_KEYSTATS` sidecar), so a read is ONE multi-path parquet scan per
  * distinct segment schema — typically two, data and tombstone — with
  * that schema supplied up front: no per-segment schema-inference job,
  * no N-deep union, and build cost flat as the store ages. Each row's
  * segment ordinal comes from its file's directory name. A segment with
  * no recorded schema (written before schemas were recorded, or whose
  * sidecar was lost) falls back to its own inferred scan, so old stores
  * stay readable.
  *
  * Commit protocol: segments land in their own directories first, then
  * MANIFEST (the single source of truth, listing active segments in
  * order) flips via atomic rename — a reader sees the old or the new
  * segment list, never a partial one. Compaction GC keeps superseded
  * segments until the NEXT commit so in-flight readers of the previous
  * manifest finish cleanly.
  *
  * Every commit also writes an immutable `MANIFEST.v<n>` twin, so the
  * store supports time travel ([[readAt]]) back to any version whose
  * segments compaction GC has not yet reclaimed — the Delta/Iceberg
  * snapshot-read pattern with the same retention caveat as VACUUM.
  */
final class DeltaUpsertStore(root: String, keyCol: String, orderCols: Seq[String])
    extends IndexStore {

  private val dir = new java.io.File(root)

  override def healthCheck(): Boolean = { dir.mkdirs(); dir.canWrite }

  private def latestPerKey(df: DataFrame, segOrdered: Boolean): DataFrame = {
    // orderCols FIRST, segment only as tiebreaker: the winner per key is
    // the global orderCols maximum across all segments — the same merge
    // [[UpsertParquetStore]] computes — not "newest segment wins", which
    // would let a late-arriving batch holding an older event time
    // clobber the newer stored row
    val ord = orderCols.map(col(_).desc) ++
      (if (segOrdered) Seq(col("__seg").desc) else Nil)
    val w = Window.partitionBy(keyCol).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "__seg")
  }

  /** Current segment list. Source of truth is the IMMUTABLE version
    * log (`MANIFEST.v<n>`, highest n), not the `MANIFEST` pointer file:
    * the version twin's non-replacing atomic rename is the single
    * commit point, so reading "max version, then its file" is one
    * consistent snapshot — whereas pointer + version read separately
    * can tear under a concurrent writer (commit landed between the two
    * reads). The pointer file is still maintained for debuggability
    * and as the plain-readers' old-or-new view.
    */
  private def manifest(): Seq[String] = {
    val vs = versions()
    if (vs.nonEmpty) versionSegments(vs.max)
    else Seq.empty
  }

  private def versionPath(v: Long) =
    java.nio.file.Paths.get(s"$root/MANIFEST.v$v")

  /** Committed versions, ascending (1-based, one per commit). */
  def versions(): Seq[Long] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("MANIFEST.v"))
      .flatMap(_.drop("MANIFEST.v".length).toLongOption)
      .sorted.toSeq

  /** The current committed state as one consistent read: (segment
    * list, version) both derived from the SAME version-log entry (the
    * highest `MANIFEST.v<n>`, which is immutable once renamed in).
    * Writers build their commit on this pair; [[commit]] then uses the
    * version as the optimistic-concurrency token — so a commit that
    * landed between "list versions" and "read the entry" is impossible
    * to miss: the entry read IS the snapshot.
    */
  private def currentState(): (Seq[String], Long) = {
    val vs = versions()
    if (vs.isEmpty) (Seq.empty, 0L)
    else (versionSegments(vs.max), vs.max)
  }

  /** Commit `segments` as version `baseVersion + 1`.
    *
    * Concurrency protocol (the Delta-Lake commit-log arbitration): the
    * versioned twin `MANIFEST.v<n>` is created with an atomic
    * create-if-absent (hard link), so of two writers that both built
    * on `baseVersion`, exactly ONE wins; the loser throws and the
    * commit aborts LOUDLY (ConcurrentModificationException) with the
    * store untouched — its caller re-reads and retries, or surfaces
    * the conflict. Never a torn manifest: a reader sees the old or the
    * new list, and a lost race is an exception, not a silent clobber
    * (SinksSpec's two-writer interleaving property pins this).
    *
    * Versioned twin FIRST (time-travel history is complete even if the
    * flip below is lost to a crash — an orphan version that never
    * became current is harmless: the next commit arbitrates against
    * its number and builds on the still-current MANIFEST), then the
    * atomic current-pointer flip. Both writes go through a
    * commit-unique tmp + ATOMIC_MOVE: a direct write could be cut
    * mid-stream, and a truncated version file is a valid PREFIX of the
    * segment list — readAt would silently serve a partial state
    * instead of failing loudly; a SHARED tmp name would let two
    * writers interleave write/move and publish each other's content.
    */
  private def commit(segments: Seq[String], baseVersion: Long): Unit = {
    val tmp = java.nio.file.Paths.get(
      s"$root/MANIFEST.tmp.${java.util.UUID.randomUUID()}")
    java.nio.file.Files.writeString(tmp, segments.mkString("\n"))
    // createLink, NOT a rename: POSIX rename(2) silently REPLACES an
    // existing target (ATOMIC_MOVE inherits that), so a rename race
    // would let the second writer clobber the first's version entry
    // with both reporting success. link(2) fails EEXIST atomically —
    // the only loser outcome is the loud conflict below.
    try
      java.nio.file.Files.createLink(versionPath(baseVersion + 1), tmp)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        java.nio.file.Files.deleteIfExists(tmp)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit to $root: version ${baseVersion + 1} was " +
            "taken by another writer; this commit was aborted (re-read " +
            "and retry)", e)
    }
    // the version entry IS the commit; the pointer flip below is the
    // plain-readers' convenience view (rename replace is fine here —
    // old-or-new, and manifest() derives from the version log anyway)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$root/MANIFEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Append `newSegs` on top of the `(baseSegs, baseVersion)` snapshot
    * with the Delta/Iceberg optimistic-concurrency protocol: losing the
    * version race is not yet a conflict. The loser re-reads the current
    * committed state and checks whether the interloping commits
    * actually CONFLICT with what it wrote:
    *
    *  - every base segment must still be current (a compaction that
    *    rewrote the list invalidates the snapshot the append was built
    *    on → genuine conflict), and
    *  - every interloper segment's key range must be PROVABLY disjoint
    *    from every appended segment's (via the `_KEYSTATS` sidecars —
    *    the same per-segment min/max Delta keeps in its commit log and
    *    Iceberg in its manifests; a missing sidecar or mixed key types
    *    mean disjointness can't be proven and the conflict stands).
    *
    * Disjoint writers rebase silently: the append retries on top of the
    * new current list (bounded attempts — each retry races fresh
    * interlopers). Overlapping writers still fail LOUDLY with
    * ConcurrentModificationException: a blind upsert is per-key
    * last-write-wins with a segment-order tiebreak, so two concurrent
    * same-key writers are a genuine write-write race whose outcome
    * would depend on arbitration order — exactly what serializability
    * must surface, never absorb. MERGE and compaction never take this
    * path: their outputs depend on the snapshot they READ (per-key
    * match decisions / the folded list), so any interloper invalidates
    * them regardless of key ranges.
    */
  private def commitAppend(
      newSegs: Seq[String], baseSegs: Seq[String], baseVersion: Long): Unit = {
    var segs = baseSegs
    var v = baseVersion
    var attempts = 0
    val maxAttempts = 5
    while (true) {
      try { commit(segs ++ newSegs, v); return }
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= maxAttempts) throw e
          val (curSegs, curV) = currentState()
          if (!segs.forall(curSegs.contains))
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit to $root rewrote the base segment list " +
                "(compaction) under this append; aborted — re-read and " +
                "retry against the new snapshot", e)
          val interlopers = curSegs.filterNot(segs.contains)
          val ours = newSegs.map(readKeyStats)
          val theirs = interlopers.map(readKeyStats)
          val provablyDisjoint =
            ours.forall(_.isDefined) && theirs.forall(_.isDefined) &&
              ours.flatten.forall(a => theirs.flatten.forall(disjointRanges(a, _)))
          if (!provablyDisjoint)
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit to $root touches a key range overlapping " +
                "this append (or disjointness is unprovable from segment " +
                "stats); aborted — a same-key write-write race must be " +
                "arbitrated by the caller, not absorbed", e)
          segs = curSegs
          v = curV
      }
    }
  }

  // test seams (package-private): deterministic OCC interleavings need
  // to pin a STALE base snapshot, which the public API reads internally
  // right before committing — a thread race can't force the stale-base
  // branch reliably, these can
  private[graft] def snapshotForTest(): (Seq[String], Long) = currentState()
  private[graft] def writeSegmentForTest(df: DataFrame): String = {
    val seg = nextSegment("d")
    writeSegmentWithStats(df, seg)
    seg
  }
  private[graft] def commitAppendForTest(
      newSegs: Seq[String], base: (Seq[String], Long)): Unit =
    commitAppend(newSegs, base._1, base._2)

  /** Both ranges provably non-overlapping: same key type and one's max
    * strictly below the other's min, in the type's own order (numeric
    * for 'L', UTF-8 byte order for 'S' — matching the sidecar's
    * provenance). Anything unprovable is an overlap.
    */
  private def disjointRanges(a: KeyStats, b: KeyStats): Boolean =
    (a.typ, b.typ) match {
      case ('L', 'L') => a.hi.toLong < b.lo.toLong || b.hi.toLong < a.lo.toLong
      case ('S', 'S') =>
        KeyStats.utf8Cmp(a.hi, b.lo) < 0 || KeyStats.utf8Cmp(b.hi, a.lo) < 0
      case _ => false
    }

  private var segCounter = -1L

  // writer-unique segment namespace: two store instances on the same
  // root can never collide on a segment PATH (a shared path would let
  // concurrent parquet overwrites corrupt each other's data before the
  // manifest arbitration even runs); which segment LIST becomes
  // current is then solely [[commit]]'s optimistic-concurrency call
  private val writerTag = java.lang.Long.toHexString(
    java.util.concurrent.ThreadLocalRandom.current().nextLong() & 0xffffffffffffL)

  private def nextSegment(prefix: String): String = synchronized {
    if (segCounter < 0)
      segCounter = Option(dir.listFiles()).getOrElse(Array.empty)
        .flatMap(f => f.getName.drop(1).takeWhile(_.isDigit).toLongOption)
        .foldLeft(-1L)(math.max)
    segCounter += 1
    s"$prefix$segCounter-$writerTag"
  }

  /** O(batch): reduce to latest-per-key and append one delta segment. */
  def upsert(batch: DataFrame, batchId: Long): Unit = synchronized {
    val (segs, v) = currentState()
    val seg = nextSegment("d")
    // drop("__seg") inside latestPerKey is a no-op here (drop ignores
    // missing columns) — no synthetic column needed on the batch path
    writeSegmentWithStats(latestPerKey(batch, segOrdered = false), seg)
    commitAppend(Seq(seg), segs, v)
  }

  /** Delete-by-key (the GDPR right-to-be-forgotten path): append one
    * tombstone segment — O(keys), no store rewrite. `keys` must carry
    * `keyCol` plus the orderCols giving each tombstone's position in
    * event-time order: a key is gone from [[read]] while the tombstone
    * is its orderCols maximum, and an upsert NEWER than the tombstone
    * resurrects it — the same global event-time contract the upsert
    * merge keeps (deleting "as of now" = tombstone at wall-clock now,
    * which out-orders everything stored). [[compact]] then physically
    * erases tombstoned rows from disk: delete + compact is the actual
    * forget. Caveat, same as Cassandra's gc_grace / Delta's VACUUM
    * retention: compaction also drops the tombstone itself, so
    * late-arriving data OLDER than a compacted-away tombstone would
    * resurrect its key — only compact once no writer can still deliver
    * events from before the tombstone's position.
    */
  def delete(keys: DataFrame, batchId: Long): Unit = synchronized {
    val (segs, v) = currentState()
    val seg = nextSegment("t")
    writeSegmentWithStats(
      latestPerKey(keys.select((keyCol +: orderCols).map(col): _*),
        segOrdered = false).withColumn("__tomb", lit(true)), seg)
    commitAppend(Seq(seg), segs, v)
  }

  /** Merged view: global orderCols max per key across segments. */
  override def read(spark: SparkSession): DataFrame =
    mergedView(spark, manifest())

  /** Time travel: the merged view as of `version` (from [[versions]]).
    * Valid while the version's segments survive compaction GC —
    * superseded segments are deleted one compaction AFTER they leave the
    * current manifest (the in-flight-reader grace), so history older
    * than that is gone, VACUUM-style; a stale version fails loudly here
    * rather than returning a partial state.
    */
  def readAt(spark: SparkSession, version: Long): DataFrame =
    mergedView(spark, versionSegments(version))

  /** The segment list a committed version's immutable manifest twin
    * records, with the compaction-GC liveness check.
    */
  private def versionSegments(version: Long): Seq[String] = {
    val segs = versionSegmentsRaw(version)
    segs.foreach { seg =>
      require(new java.io.File(s"$root/$seg").isDirectory,
        s"version $version references segment $seg, GC'd by compaction — " +
          "history beyond the retention window is not readable")
    }
    segs
  }

  /** The raw recorded segment list, WITHOUT the liveness check —
    * GC's ever-committed census must read versions whose segments it
    * already reclaimed.
    */
  private def versionSegmentsRaw(version: Long): Seq[String] = {
    val p = versionPath(version)
    require(java.nio.file.Files.exists(p),
      s"unknown version $version (have: ${versions().mkString(",")})")
    java.nio.file.Files.readAllLines(p)
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
  }

  // ---- per-segment metadata: key-range stats and schema ----

  /** Key-range stats of one immutable segment — the per-file metadata
    * Iceberg keeps in its manifest files and Delta in its commit log.
    * Stored, with the segment's schema, as a `_KEYSTATS` sidecar INSIDE
    * the segment directory (underscore-prefixed, so parquet readers
    * ignore it; immutable because segments are; GC'd with the segment),
    * which keeps the manifest commit protocol untouched. The sidecar is
    * one tab-separated line `typ lo hi schemaJson` (stats fields empty
    * when the key type gets none); a legacy sidecar has only the three
    * stats fields. Every read and lookup opens one sidecar per segment
    * it considers — tiny local reads, and the price of not inlining
    * the metadata in the manifest as a production table format would.
    * Nothing compacts automatically, so that count grows with the
    * store until [[compact]] or [[compactDeltas]] runs.
    * `mayContain` is conservative: an unknown type tag, a type
    * mismatch, or a missing sidecar (legacy segment) never prunes.
    */
  private final case class KeyStats(typ: Char, lo: String, hi: String) {
    def mayContain(k: Any): Boolean = typ match {
      case 'L' => k match {
        case n: Long => n >= lo.toLong && n <= hi.toLong
        case n: Int  => n >= lo.toLong && n <= hi.toLong
        case _       => true
      }
      case 'S' => k match {
        // compare in UTF-8 BYTE order, because the sidecar's min/max
        // came from Spark's StringType ordering (UTF8String = unsigned
        // UTF-8 bytes). Java's String ordering is UTF-16 code units,
        // which DISAGREES for supplementary characters vs U+E000..FFFF
        // — the mismatch would wrongly prune a segment and silently
        // drop a stored key from a lookup
        case s: String =>
          KeyStats.utf8Cmp(s, lo) >= 0 && KeyStats.utf8Cmp(s, hi) <= 0
        case _ => true
      }
      case _ => true
    }
  }

  private object KeyStats {
    def utf8Cmp(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
  }

  /** Write `df` as segment `seg` AND collect the keyCol min/max
    * sidecar in the SAME Spark job via `observe()` — the write pass
    * computes the stats as it streams rows out, so no second job
    * re-reads what was just written (per-micro-batch upserts keep one
    * job per batch, the stats effectively free). Integral and
    * (tab/control-free) string keys get stats; any other type, or an
    * empty segment, leaves the stats fields empty and the segment is
    * simply never pruned. The schema is recorded either way.
    */
  private def writeSegmentWithStats(df: DataFrame, seg: String): Unit = {
    val path = s"$root/$seg"
    val tag = df.schema.find(_.name == keyCol).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) |
           Some(org.apache.spark.sql.types.IntegerType) |
           Some(org.apache.spark.sql.types.ShortType) |
           Some(org.apache.spark.sql.types.ByteType) => Some('L')
      case Some(org.apache.spark.sql.types.StringType) => Some('S')
      case _ => None
    }
    val stats = tag match {
      case None =>
        df.write.mode(SaveMode.Overwrite).parquet(path)
        "\t\t"
      case Some(t) =>
        val obs = org.apache.spark.sql.Observation()
        df.observe(obs, min(col(keyCol)).cast("string").as("lo"),
            max(col(keyCol)).cast("string").as("hi"))
          .write.mode(SaveMode.Overwrite).parquet(path)
        val m = obs.get
        (m.get("lo"), m.get("hi")) match {
          case (Some(lo: String), Some(hi: String))
              if t == 'L' || (lo + hi).forall(_ >= ' ') => // no tab/control chars in the sidecar
            s"$t\t$lo\t$hi"
          case _ => "\t\t" // empty segment (null min/max): no stats
        }
    }
    // schema JSON escapes tabs and newlines, so it is safe as the last field
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/_KEYSTATS"),
      s"$stats\t${nullable(df.schema).json}")
  }

  /** `dt` with every level nullable — the schema a parquet read reports
    * for what was written, so segments whose frames differed only in
    * nullability share one scan.
    */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  /** A segment's sidecar: its key-range stats (if any) and its recorded
    * schema JSON (None for a legacy sidecar or a missing one).
    */
  private def readSidecar(seg: String): (Option[KeyStats], Option[String]) = {
    val p = java.nio.file.Paths.get(s"$root/$seg/_KEYSTATS")
    if (!java.nio.file.Files.exists(p)) (None, None)
    else {
      val f = java.nio.file.Files.readString(p).split("\t", -1)
      val stats = f match {
        case Array(t, lo, hi, _*) if t.length == 1 => Some(KeyStats(t.head, lo, hi))
        case _ => None
      }
      (stats, f.lift(3))
    }
  }

  private def readKeyStats(seg: String): Option[KeyStats] = readSidecar(seg)._1

  /** The current segments that may hold any of `keys` — the data-
    * skipping decision, exposed for pruning assertions. A segment is
    * kept unless its stats PROVE no requested key falls in its range.
    */
  private[graft] def candidateSegments(keys: Seq[Any]): Seq[String] =
    manifest().filter { seg =>
      readKeyStats(seg).forall(st => keys.exists(st.mayContain))
    }

  /** Point lookup of `keys` in the current snapshot with segment
    * skipping: only segments whose key-range stats may contain a
    * requested key are read and merged — at 100 TB the difference
    * between touching O(matching segments) and O(store) for the "fetch
    * these ids" query every serving layer runs. Correct under the
    * last-write-wins merge because a key's winner and every contender
    * live only in segments whose range covers it (tombstone segments
    * included — they carry the key column and their own sidecar). The
    * residual `IN` filter pushes through the merge window to the
    * pruned parquet scans (partition-column predicates cross Window
    * operators), so row-group stats prune again WITHIN each kept
    * segment.
    */
  def lookup(spark: SparkSession, keys: Seq[Any]): DataFrame = {
    val hit = candidateSegments(keys)
    if (hit.isEmpty)
      // empty result with the FIRST segment's schema when any segment
      // exists (pruned-to-nothing lookups stay schema-stable for
      // downstream selects). A store with NO committed segments has no
      // schema to offer — the store is schemaless until first write —
      // so that case degrades to a zero-column empty frame, same as
      // read() on an empty store.
      mergedView(spark, manifest().take(1)).filter(lit(false))
    else
      mergedView(spark, hit).filter(col(keyCol).isin(keys: _*))
  }

  /** Conditional MERGE INTO (the Delta/Iceberg `MERGE` statement) against
    * the current snapshot, committed ATOMICALLY: the update/insert delta
    * segment and the delete tombstone segment land in ONE manifest flip,
    * so a reader sees either the pre-merge or the post-merge state, never
    * a half-applied merge — the all-or-nothing contract that makes MERGE
    * usable as a CDC apply step.
    *
    * Clause semantics (first match wins, like the SQL statement):
    *  - `whenMatchedDelete`: source rows whose key exists in the snapshot
    *    and satisfy the condition → tombstone at the TARGET row's
    *    orderCols position (so the store's event-time contract holds: a
    *    later genuine event still resurrects the key).
    *  - `whenMatchedUpdate`: matched rows NOT claimed by the delete
    *    clause → upserted with the SOURCE row's orderCols (the source
    *    must out-order the stored row for the update to surface, the
    *    same global contract as [[upsert]]; ties break toward the newer
    *    segment, i.e. the merge).
    *  - `whenNotMatchedInsert`: unmatched source rows → upserted.
    *
    * Conditions are evaluated over the source row joined with its target
    * match exposed as a `__target` struct column (e.g.
    * `col("__target.value") < col("value")`), mirroring
    * `MERGE ... ON t.key = s.key WHEN MATCHED AND <cond>`.
    *
    * Scale shape: ONE equi-join of the (deduplicated) source against the
    * merged view on the store key — both sides shuffle on keyCol once —
    * then O(source) segment appends; the store is never rewritten. A
    * multi-row-per-key source is reduced latest-per-key first (the SQL
    * statement errors on duplicate matches; a CDC feed wants
    * newest-change-wins, which is what this picks).
    */
  def merge(source: DataFrame,
      whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
      whenMatchedUpdate: Option[org.apache.spark.sql.Column] = None,
      whenNotMatchedInsert: Option[org.apache.spark.sql.Column] = None): Unit = synchronized {
    val spark = source.sparkSession
    val src = latestPerKey(source, segOrdered = false)
    val cur = read(spark)
    val (upserts, deletes) =
      if (cur.columns.isEmpty) {
        // empty store: nothing can match, so the matched clauses are
        // skipped WITHOUT analyzing their conditions — a condition
        // reading `__target` fields must not fail the very first
        // micro-batch of a streaming CDC apply
        (whenNotMatchedInsert.map(c => src.filter(c)), None)
      } else {
        val tgt = cur.select(col(keyCol).as("__tkey"),
          struct(cur.columns.map(col): _*).as("__target"))
        val joined = src.join(tgt, src(keyCol) === tgt("__tkey"), "left")
          .drop("__tkey")
        val matched = joined.filter(col("__target").isNotNull)
        val unmatched = joined.filter(col("__target").isNull)
        // delete has first-match precedence: a row it claims never updates
        val notDeleted =
          !coalesce(whenMatchedDelete.getOrElse(lit(false)), lit(false))
        val ups = (whenMatchedUpdate.map(c => matched.filter(notDeleted && c)).toSeq ++
            whenNotMatchedInsert.map(c => unmatched.filter(c)).toSeq) match {
          case Seq() => None
          case dfs   => Some(dfs.reduce(_ unionByName _).drop("__target"))
        }
        val dels = whenMatchedDelete.map { c =>
          matched.filter(c)
            .select(col(keyCol) +: orderCols.map(oc => col("__target." + oc).as(oc)): _*)
            .withColumn("__tomb", lit(true))
        }
        (ups, dels)
      }
    val (base, v) = currentState()
    var segs = base
    upserts.foreach { u =>
      val seg = nextSegment("d")
      writeSegmentWithStats(u, seg)
      segs :+= seg
    }
    deletes.foreach { d =>
      val seg = nextSegment("t")
      writeSegmentWithStats(d, seg)
      segs :+= seg
    }
    commit(segs, v)
  }

  /** Change data feed between two committed versions: one row per key
    * whose last-write-wins state differs, `op` ∈ insert | update | delete
    * with the post-image data columns (null for delete) — the
    * Delta-CDF-style diff a downstream incremental consumer reads
    * instead of re-scanning the store.
    *
    * Scale shape: candidate keys are bounded by the segments the later
    * version ADDED (a key absent from every new segment cannot have
    * changed — its winner row and every contender were already present
    * at `fromVersion`), so the snapshot diff is two semi-join-pruned
    * reads plus one full-outer join, all shuffling on keyCol — O(changed
    * keys) join work, not O(store). If a compaction rewrote the base in
    * between, the new base segment honestly degrades candidates to the
    * full store (compaction erases the provenance the bound relies on).
    */
  def changes(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame = {
    // reversed bounds would make newSegs empty and read as a silently
    // empty feed — fail loudly like readAt does for bad versions
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    val fromSegs = versionSegments(fromVersion)
    val toSegs = versionSegments(toVersion)
    val newSegs = toSegs.filterNot(fromSegs.toSet)
    val pre0 = mergedView(spark, fromSegs)
    val post0 = mergedView(spark, toSegs)
    val dataCols = post0.columns.filterNot(_ == keyCol).toSeq
    if (newSegs.isEmpty) // nothing committed in between: empty feed
      post0.withColumn("op", lit("")).limit(0)
        .select(col(keyCol) +: col("op") +: dataCols.map(col): _*)
    else {
        val candidates = segmentRows(spark, newSegs).select(col(keyCol)).distinct()
        val pre = pre0.join(candidates, Seq(keyCol), "left_semi")
          .select(col(keyCol).as("__pkey"),
            struct(orderCols.map(col): _*).as("__pord"))
        val post = post0.join(candidates, Seq(keyCol), "left_semi")
          .select(col(keyCol).as("__qkey"),
            struct(orderCols.map(col): _*).as("__qord"),
            struct(dataCols.map(col): _*).as("__post"))
        pre.join(post, col("__pkey") === col("__qkey"), "full_outer")
          .select(
            coalesce(col("__qkey"), col("__pkey")).as(keyCol) +:
              when(col("__pkey").isNull, "insert")
                .when(col("__qkey").isNull, "delete")
                // both present: changed iff the winning row moved (the
                // orderCols tuple is the row's identity in this store)
                .when(col("__pord") =!= col("__qord"), "update").as("op") +:
              dataCols.map(c => col("__post." + c).as(c)): _*)
          .filter(col("op").isNotNull)
      }
  }

  private def mergedView(spark: SparkSession, segs: Seq[String]): DataFrame = {
    if (segs.isEmpty) spark.emptyDataFrame
    else {
      // A key whose orderCols winner is a tombstone is filtered from the
      // view (and thus from the next compaction's base — that is the
      // physical erasure).
      val merged = latestPerKey(segmentRows(spark, segs), segOrdered = true)
      if (merged.columns.contains("__tomb"))
        merged.filter(!coalesce(col("__tomb"), lit(false))).drop("__tomb")
      else merged
    }
  }

  /** Every row of the non-empty `segs`, tagged with its position in
    * `segs` as `__seg` (the newest-segment tie-break). Segments sharing
    * a recorded schema are read by ONE multi-path scan with that schema
    * given up front, so no schema inference runs; each row's `__seg` is
    * its file's directory name looked up in a literal ordinal map. A
    * segment with no recorded schema gets its own inferred scan. The
    * scans are unioned in order of each schema's first segment, which
    * keeps the column order a segment-by-segment union would give.
    * allowMissingColumns: tombstone segments carry only key + orderCols
    * + __tomb; data segments lack __tomb — both sides null-fill.
    */
  private def segmentRows(spark: SparkSession, segs: Seq[String]): DataFrame = {
    val schemas = segs.map(readSidecar(_)._2)
    // group by recorded schema; a segment without one is its own group
    segs.indices.groupBy(i => schemas(i).toRight(i)).values.toSeq
      .sortBy(_.head)
      .map { idx =>
        schemas(idx.head) match {
          case None =>
            spark.read.parquet(s"$root/${segs(idx.head)}")
              .withColumn("__seg", lit(idx.head.toLong))
          case Some(json) =>
            val df = spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
              .parquet(idx.map(i => s"$root/${segs(i)}"): _*)
            val dirName = element_at(
              split(df.metadataColumn("_metadata").getField("file_path"), "/"), -2)
            df.withColumn("__seg",
              element_at(typedLit(idx.map(i => segs(i) -> i.toLong).toMap), dirName))
        }
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Fold all segments into one base segment; superseded segments are
    * GC'd on the NEXT compaction (in-flight-reader grace, same policy as
    * [[UpsertParquetStore]]).
    */
  def compact(spark: SparkSession): Unit = synchronized {
    val (old, v) = currentState()
    val current =
      if (old.size > 1) {
        val base = nextSegment("b")
        // CLUSTER the base by key: range-partition + in-partition sort
        // make each parquet file's key range tight and disjoint, so
        // lookup()'s pushed IN filter skips whole files/row-groups
        // inside the base — compaction is the rewrite anyway, and this
        // is the Z-order-lite layout every table format applies when
        // it rewrites (OPTIMIZE ... ZORDER/SORT BY). Semantics are
        // unchanged: row order never affects the last-write-wins merge.
        writeSegmentWithStats(read(spark)
          .repartitionByRange(col(keyCol))
          .sortWithinPartitions(keyCol), base)
        commit(Seq(base), v)
        Seq(base)
      } else old
    // GC runs even when there was nothing to fold: segments superseded
    // by the PREVIOUS compaction (one full round of in-flight-reader
    // grace) must still be reclaimed, or a fold-to-one store would keep
    // tombstoned rows on disk forever — the erasure would never finish
    gcSuperseded((old ++ current).toSet)
  }

  /** Reclaim superseded segment directories, safely under CONCURRENT
    * writers: a candidate must (a) have been COMMITTED at some point —
    * it appears in a retained `MANIFEST.v` — so another writer's
    * in-flight, not-yet-committed segment directory is never touched
    * (its name appears in no manifest until its commit wins), and
    * (b) be absent from BOTH the caller's keep-set and the manifest
    * re-read HERE — so a segment another writer committed after the
    * caller took its snapshot survives (the commit either landed
    * before the version listing, putting the segment in the re-read
    * current list, or after it, keeping the segment out of the
    * ever-committed set; deletable = everCommitted minus live, which
    * excludes it either way). Crash-orphaned never-committed
    * directories are deliberately NOT reclaimed here (indistinguishable
    * from in-flight writes without a lease).
    */
  // ever-committed census, maintained INCREMENTALLY: manifest version
  // files are immutable and never deleted, so each call reads only the
  // versions committed since the last scan — O(new commits) per call,
  // not O(total commits) (a per-micro-batch compaction cadence would
  // otherwise pay quadratic manifest IO over the stream's life).
  // Another writer's commits surface as new versions and are picked up
  // the same way.
  private var censusVersion = 0L
  private var censusSegs = Set.empty[String]
  private def everCommitted(): Set[String] = synchronized {
    versions().filter(_ > censusVersion).sorted.foreach { v =>
      censusSegs ++= versionSegmentsRaw(v)
      censusVersion = v
    }
    censusSegs
  }

  private def gcSuperseded(keepSnapshot: Set[String]): Unit = {
    val everCommittedSegs = everCommitted()
    val keep = keepSnapshot ++ currentState()._1
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && everCommittedSegs.contains(f.getName) &&
        !keep.contains(f.getName))
      .foreach(deleteRecursively)
  }

  /** Reclaim NEVER-COMMITTED segment directories older than
    * `olderThanMs` — crash orphans from writers that died between
    * writing their segment and winning the commit. Regular GC
    * deliberately spares these (a live writer's in-flight segment is
    * indistinguishable from an orphan without a lease); age is the
    * lease substitute, so run this with a bound comfortably above any
    * writer's write-to-commit latency (Delta's VACUUM default
    * posture). Returns the reclaimed names.
    */
  def vacuumOrphans(olderThanMs: Long): Seq[String] = synchronized {
    val committed =
      everCommitted() ++ currentState()._1
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphanSegs = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !committed.contains(f.getName) &&
        f.getName.headOption.exists(c => c == 'b' || c == 'd' ||
          c == 'm' || c == 't') &&
        f.lastModified() < cutoff)
      .map { f => deleteRecursively(f); f.getName }.toSeq
    // a writer that crashed between staging its MANIFEST.tmp.<uuid>
    // and the atomic link/move leaves the tmp file behind forever —
    // no other GC path touches it, so repeated crashes would
    // accumulate them unboundedly
    val orphanTmps = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("MANIFEST.tmp.") &&
        f.lastModified() < cutoff)
      .map { f => f.delete(); f.getName }.toSeq
    orphanSegs ++ orphanTmps
  }

  /** MINOR compaction (the LSM L0→L1 fold): collapse only the DELTA
    * segments — everything after the first segment — into one
    * key-clustered segment, leaving the (large) head segment untouched.
    * This is the 100 TB maintenance shape: rewrite cost is O(delta
    * bytes) per call instead of [[compact]]'s O(store bytes), so a
    * store taking a delta per micro-batch can fold its tail frequently
    * and cheap, and run the full fold rarely. Read cost drops the same
    * way — the merge window unions 2 segments, not N.
    *
    * Semantics are EXACTLY [[compact]]'s view with one difference:
    * tombstones whose key may still exist in the head segment are
    * KEPT (as tombstone rows) in the folded segment — minor compaction
    * HIDES deleted keys, only the full fold physically ERASES them
    * (the GDPR path stays [[compact]]). Winner-per-key across the
    * folded deltas uses the same (orderCols, later-segment) order the
    * merge view uses, so folding can never change a read.
    */
  def compactDeltas(spark: SparkSession): Unit = synchronized {
    val (old, v) = currentState()
    val current =
      if (old.size > 2) {
        val head = old.head
        val seg = nextSegment("m")
        // latestPerKey keeps a winning tombstone as a ROW (unlike the
        // read view, which filters it) — it must keep hiding the head
        // segment's version of the key
        writeSegmentWithStats(latestPerKey(segmentRows(spark, old.tail), segOrdered = true)
          .repartitionByRange(col(keyCol))
          .sortWithinPartitions(keyCol), seg)
        commit(Seq(head, seg), v)
        Seq(head, seg)
      } else old
    // same GC grace policy as compact(): reclaim segments superseded
    // before this call; what this call superseded survives one round
    // for in-flight readers
    gcSuperseded((old ++ current).toSet)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}

/** K4: append-only store with dynamic index routing — each row lands in
  * `index=<prefix><key>/`. Hive-style partitioned parquet gives the
  * same "one index per key" layout the per-row `es.index(index=...)`
  * loop produced, but as bulk columnar writes.
  */
final class RoutedAppendStore(root: String) extends IndexStore {

  private val dir = new java.io.File(root)

  override def healthCheck(): Boolean = { dir.mkdirs(); dir.canWrite }

  def append(batch: DataFrame, indexCol: String): Unit =
    batch.withColumn("index", col(indexCol))
      .write.mode(SaveMode.Append).partitionBy("index").parquet(root)

  override def read(spark: SparkSession): DataFrame =
    spark.read.parquet(root)
}
