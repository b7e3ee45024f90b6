package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{DeltaUpsertStore, RoutedAppendStore, UpsertParquetStore}

/** Sink-semantics fixtures (FIXTURES.md §4): K3 upsert-by-id keeps only
  * the last write per key across batches; K4 routed append keeps
  * duplicates and lands rows in per-key index partitions.
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) =
    Files.createTempDirectory(Paths.get("target"), p).toString

  test("K3: last write per key wins, across micro-batches") {
    val store = new UpsertParquetStore(tmp("upsert_"), "room", Seq("ts"))
    assert(store.healthCheck())
    store.upsert(Seq(("413", 1L, "a"), ("413", 2L, "b"), ("644", 1L, "c"))
      .toDF("room", "ts", "v"), 0)
    store.upsert(Seq(("413", 0L, "stale"), ("644", 5L, "d")).toDF("room", "ts", "v"), 1)
    val out = store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(out.toSeq == Seq(("413", "b"), ("644", "d")))
  }

  test("K4: append with dynamic index routing keeps duplicates") {
    val store = new RoutedAppendStore(tmp("route_"))
    assert(store.healthCheck())
    val batch = Seq(("413", "x"), ("644", "y")).toDF("room", "v")
      .withColumn("route",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("room-"),
          org.apache.spark.sql.functions.col("room")))
    store.append(batch, "route")
    store.append(batch, "route")  // at-least-once retry → duplicates allowed
    val out = store.read(spark)
    assert(out.count() == 4)
    assert(out.select("index").distinct().collect().map(_.get(0).toString).toSet ==
      Set("room-413", "room-644"))
  }

  test("K3 delta store: stale keys lose across segments; compaction preserves state") {
    val store = new DeltaUpsertStore(tmp("delta_"), "room", Seq("ts"))
    assert(store.healthCheck())
    store.upsert(Seq(("413", 1L, "a"), ("413", 2L, "b"), ("644", 1L, "c"))
      .toDF("room", "ts", "v"), 0)
    store.upsert(Seq(("413", 0L, "stale"), ("644", 5L, "d")).toDF("room", "ts", "v"), 1)
    def state() = store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    // a LATER segment holding an OLDER event time must NOT clobber the
    // stored newer row: winner = global orderCols max across segments,
    // exactly the overwrite store's merge
    assert(state() == Seq(("413", "b"), ("644", "d")))
    store.compact(spark)
    assert(state() == Seq(("413", "b"), ("644", "d")))
    // post-compaction upserts still apply on top of the folded base
    store.upsert(Seq(("999", 9L, "z")).toDF("room", "ts", "v"), 2)
    assert(state() == Seq(("413", "b"), ("644", "d"), ("999", "z")))
    // second compaction GCs superseded segments; only base dirs + the
    // just-written base remain active
    store.compact(spark)
    assert(state() == Seq(("413", "b"), ("644", "d"), ("999", "z")))
  }

  test("K3 delta store: GC spares in-flight (never-committed) segment directories") {
    val root = tmp("delta_gc_")
    val store = new DeltaUpsertStore(root, "room", Seq("ts"))
    store.upsert(Seq(("413", 1L, "a")).toDF("room", "ts", "v"), 0)
    store.upsert(Seq(("644", 1L, "b")).toDF("room", "ts", "v"), 1)
    store.compact(spark)
    // a concurrent writer's segment directory that has NOT yet won its
    // commit: it appears in no manifest, so GC must never touch it —
    // deleting it would corrupt that writer's commit the moment it
    // lands (the multi-writer hole a keep-set from one writer's own
    // snapshot leaves open)
    val inflight = new java.io.File(root, "d9999-feedface")
    inflight.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(inflight, "part-00000.parquet").toPath, "x")
    store.upsert(Seq(("777", 1L, "c")).toDF("room", "ts", "v"), 2)
    store.compact(spark) // fold + GC round
    store.compact(spark) // second GC round (reclaims prior superseded)
    assert(inflight.exists, "GC reclaimed a never-committed segment dir")
    // committed-and-superseded segments DID get reclaimed: only live
    // segments + the one-round grace + the in-flight dir remain
    val state = store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(state == Seq(("413", "a"), ("644", "b"), ("777", "c")))
  }

  test("K3 delta store: vacuumOrphans reclaims only AGED never-committed dirs") {
    val root = tmp("delta_vac_")
    val store = new DeltaUpsertStore(root, "room", Seq("ts"))
    store.upsert(Seq(("413", 1L, "a")).toDF("room", "ts", "v"), 0)
    def mkOrphan(name: String, aged: Boolean): java.io.File = {
      val d = new java.io.File(root, name)
      d.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(d, "part-00000.parquet").toPath, "x")
      if (aged) {
        d.listFiles.foreach(_.setLastModified(System.currentTimeMillis() - 3600000))
        d.setLastModified(System.currentTimeMillis() - 3600000)
      }
      d
    }
    val oldOrphan = mkOrphan("d8888-cafebabe", aged = true)
    val freshOrphan = mkOrphan("d8889-cafebabe", aged = false)
    val unrelated = new java.io.File(root, "somedir"); unrelated.mkdirs()
    unrelated.setLastModified(System.currentTimeMillis() - 3600000)
    val reclaimed = store.vacuumOrphans(60000)
    assert(reclaimed == Seq("d8888-cafebabe"))
    assert(!oldOrphan.exists)
    assert(freshOrphan.exists, "a fresh (possibly in-flight) dir must survive")
    assert(unrelated.exists, "non-segment dirs are never touched")
    // committed segments are untouched regardless of age
    assert(store.read(spark).count() == 1)
  }

  test("K3 delta store: string-key pruning uses UTF-8 byte order, not UTF-16") {
    val store = new DeltaUpsertStore(tmp("delta_utf8_"), "k", Seq("ts"))
    // U+1F600 sorts ABOVE U+FFFF in UTF-8 bytes but BELOW it in Java's
    // UTF-16 comparison (its surrogates are < ￿) — the mismatch
    // that would wrongly prune a segment and silently lose a lookup
    store.upsert(Seq(("a", 1L, "lo"), ("😀", 1L, "emoji"))
      .toDF("k", "ts", "v"), 0)
    assert(store.candidateSegments(Seq("￿")).nonEmpty,
      "segment wrongly pruned for a key inside its UTF-8 range")
    store.upsert(Seq(("￿", 2L, "high")).toDF("k", "ts", "v"), 1)
    val got = store.lookup(spark, Seq("￿"))
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(got == Seq(("￿", "high")))
  }

  test("K3 delta store: MINOR compaction folds deltas only, head untouched, reads unchanged") {
    val root = tmp("delta_minor_")
    val store = new DeltaUpsertStore(root, "room", Seq("ts"))
    store.upsert(Seq(("413", 1L, "a"), ("644", 1L, "c"))
      .toDF("room", "ts", "v"), 0)
    store.upsert(Seq(("777", 1L, "e")).toDF("room", "ts", "v"), 1)
    store.compact(spark) // establish a base segment (folds the two deltas)
    def segs() = new java.io.File(root).listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    val base = segs().find(_.startsWith("b")).get
    // three deltas: update, stale-loser, tombstone, fresh insert
    store.upsert(Seq(("413", 5L, "b2"), ("888", 2L, "new")).toDF("room", "ts", "v"), 1)
    store.upsert(Seq(("413", 3L, "stale"), ("644", 4L, "d2")).toDF("room", "ts", "v"), 2)
    store.delete(Seq(("777", 9L)).toDF("room", "ts"), 3)
    def state() = store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    val before = state()
    assert(before == Seq(("413", "b2"), ("644", "d2"), ("888", "new")))
    store.compactDeltas(spark)
    // folding must be invisible to readers
    assert(state() == before)
    // the base segment was NOT rewritten; the manifest is head + one
    // folded delta
    assert(segs().contains(base))
    val manifest = Files.readString(Paths.get(s"$root/MANIFEST")).split("\n").toSeq
    assert(manifest.size == 2 && manifest.head == base &&
      manifest(1).startsWith("m"))
    // the tombstone still HIDES 777 (whose row lives in the head): a
    // stale write older than it stays dead, a newer one resurrects
    store.upsert(Seq(("777", 8L, "stale")).toDF("room", "ts", "v"), 4)
    assert(state() == before)
    store.upsert(Seq(("777", 11L, "back")).toDF("room", "ts", "v"), 5)
    assert(state() == Seq(("413", "b2"), ("644", "d2"), ("777", "back"), ("888", "new")))
    // full compact afterwards still physically erases what it should
    store.compact(spark)
    assert(state() == Seq(("413", "b2"), ("644", "d2"), ("777", "back"), ("888", "new")))
  }

  test("K3 delta store: minor compaction preserves point-lookup skipping") {
    val store = new DeltaUpsertStore(tmp("delta_minor_lk_"), "event_id", Seq("ts"))
    store.upsert((0 until 100).map(i => (i.toLong, 1L, s"v$i"))
      .toDF("event_id", "ts", "v"), 0)
    store.compact(spark)
    store.upsert((100 until 150).map(i => (i.toLong, 2L, s"w$i"))
      .toDF("event_id", "ts", "v"), 1)
    store.upsert((150 until 200).map(i => (i.toLong, 2L, s"w$i"))
      .toDF("event_id", "ts", "v"), 2)
    store.compactDeltas(spark)
    // the folded segment carries a fresh stats sidecar: a lookup below
    // the deltas' key range reads the base only
    assert(store.candidateSegments(Seq(5L)).size == 1)
    val got = store.lookup(spark, Seq(5L, 170L)).orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((5L, "v5"), (170L, "w170")))
  }

  test("K3 delta store: tombstone delete hides, resurrects, and compacts to physical erasure") {
    val root = tmp("delta_del_")
    val store = new DeltaUpsertStore(root, "room", Seq("ts"))
    store.upsert(Seq(("413", 5L, "secret"), ("644", 3L, "keep"))
      .toDF("room", "ts", "v"), 0)
    def state() = store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    // delete 413 as of ts=7 (newer than its stored row): key gone
    store.delete(Seq(("413", 7L)).toDF("room", "ts"), 1)
    assert(state() == Seq(("644", "keep")))
    // a stale upsert OLDER than the tombstone stays deleted
    store.upsert(Seq(("413", 6L, "stale")).toDF("room", "ts", "v"), 2)
    assert(state() == Seq(("644", "keep")))
    // an upsert NEWER than the tombstone resurrects the key
    store.upsert(Seq(("413", 9L, "back")).toDF("room", "ts", "v"), 3)
    assert(state() == Seq(("413", "back"), ("644", "keep")))
    // time travel still sees the pre-delete state (version 1 = first upsert)
    val v1 = store.readAt(spark, 1).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(v1 == Seq(("413", "secret"), ("644", "keep")))
    // two compactions: fold + GC. The erased value must appear in NO
    // surviving parquet byte on disk — the actual right-to-be-forgotten
    store.compact(spark)
    store.compact(spark)
    assert(state() == Seq(("413", "back"), ("644", "keep")))
    val leaked = new java.io.File(root).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.getName.endsWith(".parquet"))
      .exists(f => new String(Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.ISO_8859_1).contains("secret"))
    assert(!leaked, "deleted value still present in live segment bytes")
    // and the pre-delete version is now honestly unreadable (GC'd), not partial
    intercept[IllegalArgumentException](store.readAt(spark, 1))
  }

  test("K3 delta store: a delete on an absent key is a no-op for readers") {
    val store = new DeltaUpsertStore(tmp("delta_del2_"), "room", Seq("ts"))
    store.upsert(Seq(("644", 3L, "keep")).toDF("room", "ts", "v"), 0)
    store.delete(Seq(("nosuch", 9L)).toDF("room", "ts"), 1)
    val out = store.read(spark).collect().map(r => (r.getString(0), r.getString(2)))
    assert(out.toSeq == Seq(("644", "keep")))
    // and stays a no-op through compaction
    store.compact(spark)
    assert(store.read(spark).count() == 1)
  }

  test("K3 delta store: time travel reads each committed version until GC") {
    val store = new DeltaUpsertStore(tmp("delta_tt_"), "room", Seq("ts"))
    assert(store.healthCheck())
    store.upsert(Seq(("413", 1L, "a")).toDF("room", "ts", "v"), 0)
    store.upsert(Seq(("413", 2L, "b"), ("644", 1L, "c")).toDF("room", "ts", "v"), 1)
    store.upsert(Seq(("644", 5L, "d")).toDF("room", "ts", "v"), 2)
    assert(store.versions() == Seq(1L, 2L, 3L))
    def at(v: Long) = store.readAt(spark, v).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(at(1) == Seq(("413", "a")))
    assert(at(2) == Seq(("413", "b"), ("644", "c")))
    assert(at(3) == Seq(("413", "b"), ("644", "d")))
    // the latest version IS the current read
    assert(at(3) == store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq)
    intercept[IllegalArgumentException] { store.readAt(spark, 99) }
    // compaction 1 folds to a base but keeps the old segments for
    // in-flight readers — all history still readable
    store.compact(spark)
    assert(at(1) == Seq(("413", "a")))
    // an upsert + compaction 2 GC the pre-fold segments: history beyond
    // the retention window fails LOUDLY, never a partial state
    store.upsert(Seq(("999", 9L, "z")).toDF("room", "ts", "v"), 3)
    store.compact(spark)
    intercept[IllegalArgumentException] { store.readAt(spark, 1) }
  }

  test("K3 delta store: MERGE applies all three clauses in ONE atomic commit") {
    import org.apache.spark.sql.functions.{col, lit}
    val store = new DeltaUpsertStore(tmp("delta_merge_"), "room", Seq("ts"))
    store.upsert(Seq(("413", 1L, "a"), ("644", 1L, "c"), ("656", 1L, "e"))
      .toDF("room", "ts", "v"), 0)
    val before = store.versions().size
    // one source carrying a delete (413), an update (644), an insert
    // (999), and a non-qualifying matched row (656: neither clause fires)
    store.merge(
      Seq(("413", 2L, "gone"), ("644", 2L, "C2"), ("999", 2L, "new"),
        ("656", 2L, "ignored")).toDF("room", "ts", "v"),
      whenMatchedDelete = Some(col("v") === "gone"),
      whenMatchedUpdate = Some(col("v") === "C2"),
      whenNotMatchedInsert = Some(lit(true)))
    // atomicity: both the upsert segment and the tombstone segment land
    // under ONE version flip
    assert(store.versions().size == before + 1)
    val out = store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(out == Seq(("644", "C2"), ("656", "e"), ("999", "new")))
    // a later genuine event resurrects the merged-away key (the
    // tombstone sits at the TARGET row's position, not the far future)
    store.upsert(Seq(("413", 9L, "back")).toDF("room", "ts", "v"), 9)
    assert(store.read(spark).filter(col("room") === "413").count() == 1)
  }

  test("K3 delta store: MERGE conditions can read the matched target row") {
    import org.apache.spark.sql.functions.col
    val store = new DeltaUpsertStore(tmp("delta_merge2_"), "room", Seq("ts"))
    store.upsert(Seq(("413", 5L, "a"), ("644", 1L, "c")).toDF("room", "ts", "v"), 0)
    // CDC-style guard: update only when the source is strictly newer
    // than the stored row — 413's source (ts=3) is stale and must lose
    store.merge(Seq(("413", 3L, "stale"), ("644", 2L, "C2")).toDF("room", "ts", "v"),
      whenMatchedUpdate = Some(col("ts") > col("__target.ts")))
    val out = store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(out == Seq(("413", "a"), ("644", "C2")))
  }

  test("K3 delta store: MERGE into an empty store inserts everything") {
    import org.apache.spark.sql.functions.{col, lit}
    val store = new DeltaUpsertStore(tmp("delta_merge3_"), "room", Seq("ts"))
    assert(store.healthCheck())
    // matched clauses reference __target fields — on an empty store they
    // must be SKIPPED unanalyzed, not fail the first streaming batch
    // (the q_stream_cdc_apply batch-0 regression)
    store.merge(Seq(("413", 1L, "a")).toDF("room", "ts", "v"),
      whenMatchedDelete = Some(col("__target.v") === "x"),
      whenMatchedUpdate = Some(col("ts") > col("__target.ts")),
      whenNotMatchedInsert = Some(lit(true)))
    assert(store.read(spark).count() == 1)
  }

  test("K3 delta store: change feed classifies insert/update/delete and skips no-ops") {
    val store = new DeltaUpsertStore(tmp("delta_cdf_"), "room", Seq("ts"))
    store.upsert(Seq(("413", 5L, "a"), ("644", 1L, "c")).toDF("room", "ts", "v"), 0)
    // 413 re-appears with an OLDER row (no-op for the merged view), 644
    // advances, 999 is new
    store.upsert(Seq(("413", 2L, "old"), ("644", 2L, "C2"), ("999", 1L, "n"))
      .toDF("room", "ts", "v"), 1)
    store.delete(Seq(("644", 9L)).toDF("room", "ts"), 2)
    val ops = store.changes(spark, 1, 3).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // 413 is ABSENT: its winning row never moved even though a new
    // segment mentions the key
    assert(ops == Seq(("644", "delete"), ("999", "insert")))
    val upd = store.changes(spark, 1, 2).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(upd == Seq(("644", "update"), ("999", "insert")))
    // identical versions → empty feed with the full output schema
    val none = store.changes(spark, 2, 2)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("room", "op", "ts", "v"))
  }

  test("K3 delta store: change feed stays correct across a compaction in the window") {
    val store = new DeltaUpsertStore(tmp("delta_cdf2_"), "room", Seq("ts"))
    store.upsert(Seq(("413", 1L, "a"), ("644", 1L, "c")).toDF("room", "ts", "v"), 0)
    store.upsert(Seq(("644", 2L, "C2"), ("999", 1L, "n")).toDF("room", "ts", "v"), 1)
    store.compact(spark) // → version 3: base rewrite erases provenance
    // candidates honestly degrade to the full store (the new base
    // mentions every key) — the DIFF must still be exact: 413 unchanged
    // and therefore absent
    val ops = store.changes(spark, 1, 3).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(ops == Seq(("644", "update"), ("999", "insert")))
  }

  test("K3 delta store: two concurrent DISJOINT-KEY writers both commit, never a torn manifest") {
    // Two INDEPENDENT store instances on the same root race an upsert
    // from two threads, 100 rounds, on DISJOINT keys (a$round vs
    // b$round — provably non-overlapping ranges in the _KEYSTATS
    // sidecars). The optimistic-concurrency protocol (MANIFEST.v<n>
    // created with an atomic create-if-absent; the version-race loser
    // re-reads, proves key disjointness from segment stats, and
    // rebases its append on the new current list) must let BOTH
    // writers commit every round — a lost version race between
    // non-conflicting appends is a rebase, not an abort. After every
    // round the invariants hold: the manifest parses, every listed
    // segment directory exists (no dangling references), and the
    // store's readable state contains a row for exactly the keys whose
    // writer COMMITTED — an accepted commit is never silently dropped,
    // a rejected one never partially applied.
    val root = tmp("delta_race_")
    val a = new DeltaUpsertStore(root, "room", Seq("ts"))
    val b = new DeltaUpsertStore(root, "room", Seq("ts"))
    var conflicts = 0
    var bothCommitted = 0
    for (round <- 0 until 100) {
      val committed = Array(false, false)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def racer(idx: Int, store: DeltaUpsertStore, key: String): Thread = {
        val t = new Thread(() => {
          barrier.await()
          try {
            store.upsert(Seq((key, round.toLong, s"w$idx-$round"))
              .toDF("room", "ts", "v"), round.toLong)
            committed(idx) = true
          } catch {
            case _: java.util.ConcurrentModificationException => // loud loss
          }
        })
        t.start(); t
      }
      val t0 = racer(0, a, s"a$round")
      val t1 = racer(1, b, s"b$round")
      t0.join(60000); t1.join(60000)
      if (committed(0) && committed(1)) bothCommitted += 1
      else conflicts += 1
      assert(committed(0) && committed(1),
        s"round $round: a disjoint-key writer was aborted " +
          s"(committed=${committed.toSeq}) — the OCC rebase must absorb " +
          "a lost version race between non-conflicting appends")
      // invariant 1a: the committed state (highest immutable version
      // entry) references only existing segment dirs
      def lines(p: java.nio.file.Path): Seq[String] = java.nio.file.Files
        .readAllLines(p).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
      val versionFiles = java.nio.file.Files.list(Paths.get(root)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("MANIFEST.v")).toSeq
      val maxVersion = versionFiles
        .maxBy(_.getFileName.toString.drop("MANIFEST.v".length).toLong)
      lines(maxVersion).foreach(seg =>
        assert(Files.isDirectory(Paths.get(s"$root/$seg")),
          s"round $round: version lists missing segment $seg — torn commit"))
      // invariant 1b: the MANIFEST pointer, if present, is byte-equal
      // to SOME committed version (an old-or-new view, never a torn mix)
      val pointer = lines(Paths.get(s"$root/MANIFEST"))
      assert(versionFiles.map(lines).contains(pointer),
        s"round $round: MANIFEST pointer matches no committed version — torn")
      // invariant 2: committed keys (and only those) are readable
      // (read through either instance — same root, same MANIFEST)
      val keys = a.read(spark).select("room")
        .collect().map(_.getString(0)).toSet
      if (committed(0)) assert(keys.contains(s"a$round"),
        s"round $round: writer 0's accepted commit vanished")
      if (committed(1)) assert(keys.contains(s"b$round"),
        s"round $round: writer 1's accepted commit vanished")
      if (!committed(0)) assert(!keys.contains(s"a$round"),
        s"round $round: writer 0's REJECTED commit is visible")
      if (!committed(1)) assert(!keys.contains(s"b$round"),
        s"round $round: writer 1's REJECTED commit is visible")
    }
    assert(conflicts == 0 && bothCommitted == 100,
      s"disjoint-key writers must ALL commit ($conflicts rounds aborted)")
    info(s"two-writer disjoint race: $bothCommitted/100 rounds both committed")
  }

  test("K3 delta store OCC: disjoint-key append rebases onto an interloper commit") {
    // Deterministic stale-base interleaving (a thread race can't force
    // it reliably): writer W snapshots at v1, an interloper commits v2
    // with key "m", then W appends key "z" against the STALE v1 base.
    // The version race is lost, the stats prove z/m disjoint -> W must
    // rebase and commit v3 with ALL of a, m, z readable.
    val store = new DeltaUpsertStore(tmp("delta_occ1_"), "room", Seq("ts"))
    store.upsert(Seq(("a", 1L, "base")).toDF("room", "ts", "v"), 0)
    val staleBase = store.snapshotForTest()
    store.upsert(Seq(("m", 1L, "interloper")).toDF("room", "ts", "v"), 1)
    val seg = store.writeSegmentForTest(
      Seq(("z", 1L, "rebased")).toDF("room", "ts", "v"))
    store.commitAppendForTest(Seq(seg), staleBase)
    assert(store.versions().max == 3L)
    val rows = store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(rows == Seq(("a", "base"), ("m", "interloper"), ("z", "rebased")))
  }

  test("K3 delta store OCC: overlapping-key append still conflicts loudly, store untouched") {
    // Same stale-base interleaving, but W's append touches the SAME key
    // the interloper wrote: a write-write race whose outcome depends on
    // arbitration order -> must abort with ConcurrentModificationException,
    // and the store must show NO trace of the aborted append.
    val store = new DeltaUpsertStore(tmp("delta_occ2_"), "room", Seq("ts"))
    store.upsert(Seq(("a", 1L, "base")).toDF("room", "ts", "v"), 0)
    val staleBase = store.snapshotForTest()
    store.upsert(Seq(("m", 1L, "interloper")).toDF("room", "ts", "v"), 1)
    val seg = store.writeSegmentForTest(
      Seq(("m", 2L, "racer")).toDF("room", "ts", "v"))
    val e = intercept[java.util.ConcurrentModificationException] {
      store.commitAppendForTest(Seq(seg), staleBase)
    }
    assert(e.getMessage.contains("overlapping"))
    assert(store.versions().max == 2L)
    val rows = store.read(spark).orderBy("room")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(rows == Seq(("a", "base"), ("m", "interloper")))
  }

  test("K3 delta store OCC: a concurrent compaction invalidates the append's base") {
    // The rebase is only sound when the base list survives verbatim in
    // the current manifest; a compaction REWROTE it, so even a
    // disjoint-key append must abort (its snapshot no longer exists).
    val store = new DeltaUpsertStore(tmp("delta_occ3_"), "room", Seq("ts"))
    store.upsert(Seq(("a", 1L, "x")).toDF("room", "ts", "v"), 0)
    store.upsert(Seq(("b", 1L, "y")).toDF("room", "ts", "v"), 1)
    val staleBase = store.snapshotForTest()
    store.compact(spark) // folds the two segments -> base rewritten
    val seg = store.writeSegmentForTest(
      Seq(("z", 1L, "late")).toDF("room", "ts", "v"))
    val e = intercept[java.util.ConcurrentModificationException] {
      store.commitAppendForTest(Seq(seg), staleBase)
    }
    assert(e.getMessage.contains("rewrote the base"))
  }

  test("K3 delta store OCC: missing interloper stats block the rebase (conservative)") {
    // Disjointness must be PROVEN: strip the interloper segment's
    // _KEYSTATS sidecar and the otherwise-disjoint rebase must abort —
    // an unprovable overlap is an overlap.
    val root = tmp("delta_occ4_")
    val store = new DeltaUpsertStore(root, "room", Seq("ts"))
    store.upsert(Seq(("a", 1L, "base")).toDF("room", "ts", "v"), 0)
    val staleBase = store.snapshotForTest()
    store.upsert(Seq(("m", 1L, "interloper")).toDF("room", "ts", "v"), 1)
    val interloperSeg = store.snapshotForTest()._1
      .filterNot(staleBase._1.contains).head
    Files.delete(Paths.get(s"$root/$interloperSeg/_KEYSTATS"))
    val seg = store.writeSegmentForTest(
      Seq(("z", 1L, "blocked")).toDF("room", "ts", "v"))
    intercept[java.util.ConcurrentModificationException] {
      store.commitAppendForTest(Seq(seg), staleBase)
    }
    assert(store.versions().max == 2L)
  }

  test("K3 delta store: point lookup prunes segments by key-range stats") {
    val store = new DeltaUpsertStore(tmp("delta_lookup_"), "id", Seq("ts"))
    store.upsert(Seq((1L, 1L, "a"), (5L, 1L, "b")).toDF("id", "ts", "v"), 0)
    store.upsert(Seq((10L, 1L, "c"), (15L, 1L, "d")).toDF("id", "ts", "v"), 1)
    store.upsert(Seq((20L, 1L, "e"), (25L, 1L, "f")).toDF("id", "ts", "v"), 2)
    // a key set touching only the outer ranges must skip the middle segment
    assert(store.candidateSegments(Seq(5L, 20L)).size == 2)
    assert(store.candidateSegments(Seq(12L)).size == 1)
    // range gaps prune everything even when min < key < max of the store
    assert(store.candidateSegments(Seq(7L)).isEmpty)
    assert(store.lookup(spark, Seq(7L)).count() == 0)
    val out = store.lookup(spark, Seq(5L, 20L)).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(out.toSeq == Seq((5L, "b"), (20L, "e")))
    // pruned lookup ≡ unpruned filter on the full merged view
    val full = store.read(spark).filter($"id".isin(5L, 20L)).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(out.toSeq == full.toSeq)
  }

  test("K3 delta store: lookup respects last-write-wins and tombstones across pruned segments") {
    val store = new DeltaUpsertStore(tmp("delta_lookup2_"), "id", Seq("ts"))
    store.upsert(Seq((1L, 1L, "old"), (2L, 1L, "x")).toDF("id", "ts", "v"), 0)
    store.upsert(Seq((1L, 5L, "new")).toDF("id", "ts", "v"), 1)
    // the winner row lives in the second segment; both cover key 1
    assert(store.lookup(spark, Seq(1L)).collect().map(_.getString(2)).toSeq ==
      Seq("new"))
    store.delete(Seq((2L, 9L)).toDF("id", "ts"), 2)
    assert(store.lookup(spark, Seq(2L)).count() == 0)
    // and the un-deleted neighbor still resolves
    assert(store.lookup(spark, Seq(1L, 2L)).count() == 1)
  }

  test("K3 delta store: a segment without a stats sidecar is never pruned") {
    val root = tmp("delta_legacy_")
    val store = new DeltaUpsertStore(root, "id", Seq("ts"))
    store.upsert(Seq((1L, 1L, "a")).toDF("id", "ts", "v"), 0)
    store.upsert(Seq((50L, 1L, "z")).toDF("id", "ts", "v"), 1)
    // simulate a legacy segment written before stats existed
    new java.io.File(root).listFiles().filter(_.isDirectory).foreach { seg =>
      Files.deleteIfExists(Paths.get(seg.getPath, "_KEYSTATS"))
    }
    assert(store.candidateSegments(Seq(1L)).size == 2) // conservative: read both
    assert(store.lookup(spark, Seq(1L)).collect().map(_.getString(2)).toSeq ==
      Seq("a"))
  }

  test("K3 delta store: string keys get stats and prune lexicographically") {
    val store = new DeltaUpsertStore(tmp("delta_lookup3_"), "room", Seq("ts"))
    store.upsert(Seq(("alpha", 1L, "a"), ("delta", 1L, "b")).toDF("room", "ts", "v"), 0)
    store.upsert(Seq(("mike", 1L, "c"), ("zulu", 1L, "d")).toDF("room", "ts", "v"), 1)
    assert(store.candidateSegments(Seq("zulu")).size == 1)
    assert(store.candidateSegments(Seq("echo")).isEmpty) // in the gap
    assert(store.lookup(spark, Seq("alpha", "zulu")).count() == 2)
  }

  test("K3 delta store: schema evolves across segments — new columns null-fill old rows") {
    val store = new DeltaUpsertStore(tmp("delta_evolve_"), "id", Seq("ts"))
    store.upsert(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "ts", "v"), 0)
    // a later batch carries a NEW column (and updates one key)
    store.upsert(Seq((2L, 5L, "b2", "extra"), (3L, 1L, "c", "x"))
      .toDF("id", "ts", "v", "tag"), 1)
    def state() = store.read(spark).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2),
        if (r.schema.fieldNames.contains("tag") && !r.isNullAt(r.fieldIndex("tag")))
          r.getString(r.fieldIndex("tag")) else null)).toSeq
    assert(state() == Seq((1L, "a", null), (2L, "b2", "extra"), (3L, "c", "x")))
    // compaction folds the union schema into the base and preserves it
    store.compact(spark)
    assert(state() == Seq((1L, "a", null), (2L, "b2", "extra"), (3L, "c", "x")))
    // lookups see the evolved schema too
    assert(store.lookup(spark, Seq(3L)).select("tag")
      .collect().map(_.getString(0)).toSeq == Seq("x"))
  }

  /** The merged view as the store built it before segment schemas were
    * recorded: one inferred scan per segment, tagged with its position,
    * folded into a union and merged by the same window — the reference
    * the grouped scans must reproduce.
    */
  private def perSegmentView(root: String, segs: Seq[String]) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, col, lit, row_number}
    val union = segs.zipWithIndex.map { case (seg, i) =>
      spark.read.parquet(s"$root/$seg").withColumn("__seg", lit(i.toLong))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val w = Window.partitionBy("id").orderBy(col("ts").desc, col("__seg").desc)
    val merged = union.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__seg")
    if (merged.columns.contains("__tomb"))
      merged.filter(!coalesce(col("__tomb"), lit(false))).drop("__tomb")
    else merged
  }

  private def versionSegs(root: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(s"$root/MANIFEST.v$v"))
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)

  private def sameRows(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.collect().toSeq.sortBy(_.getLong(0)) ==
      want.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("K3 delta store: grouped scans read exactly what per-segment scans read") {
    // 22 segments: data, tombstones, one schema-evolved segment (extra
    // `tag` column) and two legacy segments (sidecar deleted), so the
    // view spans three recorded-schema scans plus two inferred ones.
    val root = tmp("delta_scan_")
    val store = new DeltaUpsertStore(root, "id", Seq("ts"))
    def up(rows: (Long, Long, String)*): Unit =
      store.upsert(rows.toDF("id", "ts", "v"), 0)
    def del(rows: (Long, Long)*): Unit = store.delete(rows.toDF("id", "ts"), 0)
    def makeLegacy(): Unit =
      Files.delete(Paths.get(s"$root/${store.snapshotForTest()._1.last}/_KEYSTATS"))
    up((0L until 40L).map(k => (k, 1L, s"base$k")): _*)
    up((7L, 100L, "data7"), (8L, 5L, "x"), (9L, 100L, "data9"), (11L, 100L, "data11"))
    // equal-orderCols contenders in different scan groups: the newer
    // segment wins whichever scan it sits in
    store.upsert(Seq((7L, 100L, "evolved7", "t7"), (8L, 100L, "evolved8", "t8"),
      (20L, 3L, "e20", "t20")).toDF("id", "ts", "v", "tag"), 0) // 7 beats data7
    del((9L, 100L)) // the tombstone ties data9 and wins: 9 is gone
    for (r <- 4 until 20) {
      if (r % 4 == 0) del((r.toLong, r.toLong), ((r * 3 % 40).toLong, 2L))
      else up(((r * 7 % 40).toLong, r.toLong, s"r$r"), ((r + 21).toLong, r.toLong, s"q$r"))
      if (r == 6) makeLegacy()
    }
    up((8L, 100L, "data8")) // beats the evolved segment's equal-ts row
    up((11L, 100L, "legacy11")) // beats data11 from the legacy scan
    makeLegacy()
    val segs = store.snapshotForTest()._1
    assert(segs.size == 22)

    val ref = perSegmentView(root, segs)
    sameRows(store.read(spark), ref)
    val won = store.read(spark).filter($"id".isin(7L, 8L, 9L, 11L)).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(won == Seq((7L, "evolved7"), (8L, "data8"), (11L, "legacy11")))
    val keys = Seq(7L, 8L, 9L, 11L, 20L, 25L, 33L, 999L)
    sameRows(store.lookup(spark, keys), ref.filter($"id".isin(keys: _*)))
    for (v <- Seq(3L, 12L))
      sameRows(store.readAt(spark, v), perSegmentView(root, versionSegs(root, v)))
  }

  test("K3 delta store: a 30-segment read runs no per-segment job and one scan per schema") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val store = new DeltaUpsertStore(tmp("delta_scan30_"), "id", Seq("ts"))
    for (r <- 0 until 30) {
      if (r % 6 == 5) store.delete(Seq((r.toLong - 1, r.toLong)).toDF("id", "ts"), r)
      else store.upsert(Seq((r.toLong, r.toLong, s"v$r")).toDF("id", "ts", "v"), r)
    }
    assert(store.snapshotForTest()._1.size == 30)
    val sc = spark.sparkContext
    val group = s"delta-read-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val view = try {
      sc.setJobGroup(group, "build the merged view")
      try store.read(spark) finally sc.clearJobGroup()
    } finally {
      org.apache.spark.TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    // listing 30 paths stays on the driver; only a listing job over more
    // paths than the parallel-discovery threshold may run, never one
    // schema-inference job per segment
    assert(jobs.get <= 1, s"building the read launched ${jobs.get} jobs")
    assert(view.collect().length == 20) // 25 keys upserted, 5 of them deleted
    val scans = new AdaptiveSparkPlanHelper {}
      .collect(view.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size <= 2, s"${scans.size} scans for 2 segment schemas (data, tombstone)")
  }

  test("K3 delta store: compaction folds stats into the base segment") {
    val store = new DeltaUpsertStore(tmp("delta_lookup4_"), "id", Seq("ts"))
    store.upsert(Seq((1L, 1L, "a")).toDF("id", "ts", "v"), 0)
    store.upsert(Seq((9L, 1L, "b")).toDF("id", "ts", "v"), 1)
    store.compact(spark)
    assert(store.candidateSegments(Seq(5L)).size == 1) // base covers [1,9]
    assert(store.candidateSegments(Seq(99L)).isEmpty)
    assert(store.lookup(spark, Seq(9L)).count() == 1)
  }
}
