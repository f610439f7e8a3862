package graft

import graft.cdc.Op
import graft.sinks.CdcParquetSink
import graft.sources.CdcChunkFile
import graft.streaming.CdcStreaming
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class SinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("continuous materialization: streamed table equals batch upsert") {
    val dir = TestDirs.tmp("gcl")
    val tableDir = TestDirs.tmp("tbl")
    val ckpt = TestDirs.tmp("ck")
    CdcFixtures.writeChunks(dir)
    val q = CdcParquetSink.start(
      CdcStreaming.readStream(spark, dir, maxChunksPerTrigger = Some(1)),
      tableDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    val table = CdcParquetSink.readTable(spark, tableDir).get
    // expected: last DML per key, DELETE tombstoned (key k2 deleted by
    // record 29; k0 -> 27, k1 -> 28 survive)
    val byKey = table.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("recordId")).toMap
    assert(byKey.values.toSet == Set(27L, 28L))
    assert(!byKey.keySet.exists(_.endsWith("k2")))
    // after-image preserved
    val after = table.filter(col("recordId") === 27L)
      .select(element_at(col("after"), "v")).head().getString(0)
    assert(after == "v27")
  }

  test("late chunk after restart folds into a new snapshot version") {
    val dir = TestDirs.tmp("gcl")
    val tableDir = TestDirs.tmp("tbl")
    val ckpt = TestDirs.tmp("ck")
    CdcFixtures.writeChunks(dir)
    def run() = {
      val q = CdcParquetSink.start(
        CdcStreaming.readStream(spark, dir), tableDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val v1 = CdcParquetSink.latestSnapshot(tableDir).get
    // k2 comes back to life after its delete
    CdcChunkFile.write(s"$dir/chunk-00050${CdcChunkFile.Extension}",
      Seq(CdcFixtures.rec(200L, 99000000L, Op.Insert, "k2", "reborn")))
    run()
    val v2 = CdcParquetSink.latestSnapshot(tableDir).get
    assert(v1 != v2)
    val table = CdcParquetSink.readTable(spark, tableDir).get
    assert(table.filter(col("recordId") === 200L).count() == 1)
    assert(table.count() == 3) // k0, k1, reborn k2
  }

  test("micro-batch touching one key rewrites only its bucket") {
    val dir = TestDirs.tmp("gcl")
    val tableDir = TestDirs.tmp("tbl")
    val ckpt = TestDirs.tmp("ck")
    CdcFixtures.writeChunks(dir)
    def run() = {
      val q = CdcParquetSink.start(
        CdcStreaming.readStream(spark, dir), tableDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val m1 = CdcParquetSink.latestManifest(tableDir).get
    // one late record for a single key => exactly one bucket rewritten
    CdcChunkFile.write(s"$dir/chunk-00060${CdcChunkFile.Extension}",
      Seq(CdcFixtures.rec(300L, 95000000L, Op.Update, "k1", "vnew")))
    run()
    val m2 = CdcParquetSink.latestManifest(tableDir).get
    val changed = m2.filter { case (b, rel) => !m1.get(b).contains(rel) }
    assert(changed.size == 1,
      s"expected 1 rewritten bucket, got ${changed.size}: $changed")
    // untouched buckets still point at the previous version's data
    assert((m2 -- changed.keys) == (m1 -- changed.keys))
    // and the table reflects the update
    val table = CdcParquetSink.readTable(spark, tableDir).get
    assert(table.filter(col("recordId") === 300L).count() == 1)
  }

  test("hot key: steady-state write is delta-sized; chain folds at maxDeltas") {
    val tableDir = TestDirs.tmp("tbl")
    def oneRec(id: Long, tsSec: Long, v: String) = {
      val d = TestDirs.tmp("gcl")
      CdcChunkFile.write(s"$d/chunk-00000${CdcChunkFile.Extension}",
        Seq(CdcFixtures.rec(id, tsSec * 1000000L, Op.Update, "k1", v)))
      CdcStreaming.readBatch(spark, d)
    }
    // batch 0: the full fixture set becomes the base
    val dir0 = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir0)
    CdcParquetSink.applyBatch(spark, CdcStreaming.readBatch(spark, dir0),
      tableDir, 0L, nBuckets = 4, maxDeltas = 2)
    val m0 = CdcParquetSink.latestManifest(tableDir).get

    // batch 1: a single-record update of k1 — must APPEND a delta, not
    // rewrite k1's bucket
    CdcParquetSink.applyBatch(spark, oneRec(100L, 50L, "u1"),
      tableDir, 1L, nBuckets = 4, maxDeltas = 2)
    val m1 = CdcParquetSink.latestManifest(tableDir).get
    val hot = m1.collectFirst {
      case (b, chain) if !m0.get(b).contains(chain) => b }.get
    assert(m1(hot).size == m0(hot).size + 1, "chain should grow by one delta")
    assert(m1(hot).init == m0(hot), "base must be untouched by the append")
    // the delta holds exactly the batch's row, not the bucket's data
    assert(spark.read.parquet(s"$tableDir/${m1(hot).last}").count() == 1)

    // batch 2: chain is at maxDeltas — this batch folds k1's bucket
    // into a fresh single-file base; other buckets' chains untouched
    CdcParquetSink.applyBatch(spark, oneRec(101L, 51L, "u2"),
      tableDir, 2L, nBuckets = 4, maxDeltas = 2)
    val m2 = CdcParquetSink.latestManifest(tableDir).get
    assert(m2(hot).size == 1, s"chain should fold to a base, got ${m2(hot)}")
    assert(SinkSpec.partFiles(tableDir, m2(hot).head) == 1,
      s"the fresh base ${m2(hot).head} should be a single file")
    assert((m2 - hot) == (m1 - hot))

    // merged read is still last-DML-wins with tombstones honored: the
    // fold must RETAIN k2's delete tombstone if it shares the bucket
    val table = CdcParquetSink.readTable(spark, tableDir).get
    val k1v = table.filter(col("key").endsWith("|k1"))
      .select(element_at(col("after"), "v")).head().getString(0)
    assert(k1v == "u2")
    assert(table.filter(col("key").endsWith("|k2")).count() == 0)

    // GC with snapshot retention (round 10): the fold superseded
    // hot's old base+deltas, but they stay on disk ONE more publish —
    // RetainVersions=2 keeps the previous manifest's files readable
    // for time travel. After the NEXT publish they are outside the
    // retention window and must be gone; the live manifest's files
    // always survive (file count bounded at ≤ RetainVersions chains).
    m1(hot).foreach { rel =>
      assert(Files.exists(Paths.get(tableDir, rel)),
        s"$rel is inside the retention window and must survive the fold") }
    CdcParquetSink.applyBatch(spark, oneRec(102L, 52L, "u3"),
      tableDir, 3L, nBuckets = 4, maxDeltas = 2)
    val m3 = CdcParquetSink.latestManifest(tableDir).get
    val live = (m2.values.flatten ++ m3.values.flatten).toSet
    m1(hot).filterNot(live).foreach { rel =>
      assert(!Files.exists(Paths.get(tableDir, rel)),
        s"superseded $rel aged out of retention and should be GC'd") }
    live.foreach { rel =>
      assert(Files.exists(Paths.get(tableDir, rel)),
        s"live $rel must survive GC") }
    // manifests are the replay short-circuit: all four survive
    (0L to 3L).foreach { b =>
      assert(Files.exists(Paths.get(tableDir, f"manifest-v$b%012d.tsv"))) }
  }

  test("every bucket dir a write produces holds one file: delta, " +
      "inline fold and compact") {
    // AQE off, as in every micro-batch: with AQE on, a small batch's
    // shuffle coalesces to one partition and would hide a write in
    // which several tasks each open a file in the same bucket
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val dir = TestDirs.tmp("gcl")
    val tableDir = TestDirs.tmp("tbl")
    val ckpt = TestDirs.tmp("ck")
    // 200 keys over 4 buckets: ~50 keys a bucket, so a key-clustered
    // merge would spread each bucket over all 4 shuffle tasks
    val keys = 0 until 200
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}",
      keys.map(i => CdcFixtures.rec(i.toLong, 1000000L, Op.Insert, s"k$i", "a")))
    CdcChunkFile.write(s"$dir/chunk-00001${CdcChunkFile.Extension}",
      keys.map(i => CdcFixtures.rec(1000L + i, 2000000L, Op.Update, s"k$i", "b")))
    // maxDeltas = 1: trigger 0 appends deltas, trigger 1 folds every bucket
    val q = CdcParquetSink.start(
      CdcStreaming.readStream(s, dir, maxChunksPerTrigger = Some(1)),
      tableDir, ckpt, nBuckets = 4, maxDeltas = 1)
    try q.processAllAvailable() finally q.stop()
    def assertOneFileEach(m: Map[Int, Seq[String]], what: String): Unit = {
      assert(m.size == 4, s"$what should touch all 4 buckets: $m")
      m.values.flatten.foreach { rel =>
        assert(SinkSpec.partFiles(tableDir, rel) == 1,
          s"$what dir $rel holds ${SinkSpec.partFiles(tableDir, rel)} files")
      }
    }
    val deltas = CdcParquetSink.manifestAsOf(tableDir, 0L).get
    assert(deltas.values.forall(_.size == 1))
    assertOneFileEach(deltas, "delta")
    // ONE exchange, on bucket: the (bucket, key) window reuses it
    val plan = CdcParquetSink.mergeByBucket(
      s.read.schema(CdcParquetSink.StoreSchema)
        .parquet(deltas.values.flatten.map(r => s"$tableDir/$r").toSeq: _*), 4)
      .queryExecution.executedPlan.toString
    assert("Exchange ".r.findAllIn(plan).size == 1 &&
      plan.contains("Exchange hashpartitioning(bucket"), plan)
    val folded = CdcParquetSink.latestManifest(tableDir).get
    assert(folded.values.forall(_.head.contains("-base/")), folded)
    assertOneFileEach(folded, "fold")
    CdcParquetSink.compact(s, tableDir, nBuckets = 4)
    val compacted = CdcParquetSink.latestManifest(tableDir).get
    assert(compacted.values.forall(_.head.startsWith("compact-")), compacted)
    assertOneFileEach(compacted, "compact")
    // the clustered merge is still last-DML-wins per key
    val table = CdcParquetSink.readTable(s, tableDir).get
    assert(table.count() == keys.size)
    assert(table.filter(element_at(col("after"), "v") =!= "b").count() == 0)
  }

  test("time travel: as-of reads pin snapshots; aged-out reads are None") {
    val tableDir = TestDirs.tmp("tbl")
    def oneRec(id: Long, tsSec: Long, key: String, v: String) = {
      val d = TestDirs.tmp("gcl")
      CdcChunkFile.write(s"$d/chunk-00000${CdcChunkFile.Extension}",
        Seq(CdcFixtures.rec(id, tsSec * 1000000L, Op.Update, key, v)))
      CdcStreaming.readBatch(spark, d)
    }
    def k1v(df: org.apache.spark.sql.DataFrame): String =
      df.filter(col("key").endsWith("|k1"))
        .select(element_at(col("after"), "v")).head().getString(0)
    // k1 gets a new value every batch; folds happen at maxDeltas=1 so
    // each batch rewrites k1's chain and old inputs age out fast
    (0L to 3L).foreach { b =>
      CdcParquetSink.applyBatch(spark, oneRec(100 + b, 50 + b, "k1", s"u$b"),
        tableDir, b, nBuckets = 2, maxDeltas = 1)
    }
    // the two most recent snapshots read exactly their own state
    assert(k1v(CdcParquetSink.readTableAsOf(spark, tableDir, 3L).get) == "u3")
    assert(k1v(CdcParquetSink.readTableAsOf(spark, tableDir, 2L).get) == "u2")
    // as-of an id BETWEEN published batches resolves to the newest ≤ it
    assert(k1v(CdcParquetSink.readTableAsOf(spark, tableDir, 99L).get) == "u3")
    // batch 0's inputs were rewritten by later folds and are outside
    // the RetainVersions=2 window: None, never a silently-partial read
    assert(CdcParquetSink.readTableAsOf(spark, tableDir, 0L).isEmpty)
    // before any publish: None
    assert(CdcParquetSink.readTableAsOf(spark, tableDir, -1L).isEmpty)
    // the latest read is unaffected by time travel machinery
    assert(k1v(CdcParquetSink.readTable(spark, tableDir).get) == "u3")
  }

  test("versionAsOf reader option serves the API snapshot; aged-out raises") {
    val tableDir = TestDirs.tmp("tbl")
    def oneRec(id: Long, tsSec: Long, key: String, v: String) = {
      val d = TestDirs.tmp("gcl")
      CdcChunkFile.write(s"$d/chunk-00000${CdcChunkFile.Extension}",
        Seq(CdcFixtures.rec(id, tsSec * 1000000L, Op.Update, key, v)))
      CdcStreaming.readBatch(spark, d)
    }
    (0L to 3L).foreach { b =>
      CdcParquetSink.applyBatch(spark, oneRec(100 + b, 50 + b, "k1", s"u$b"),
        tableDir, b, nBuckets = 2, maxDeltas = 1)
    }
    // the declarative surface (VERDICT r10 #7): format("graft-cdc") +
    // versionAsOf ≡ the readTableAsOf API, row for row including the
    // after map — the provider's snapshot mode is merge-on-read per
    // bucket, no shuffle
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key"), col("tsUs"), col("recordId"), col("op"),
        element_at(col("after"), "v").as("v"))
        .collect().map(_.toSeq).toSet
    for (v <- Seq(2L, 3L, 99L)) {
      val sqlRead = spark.read.format("graft-cdc")
        .option("versionAsOf", v).load(tableDir)
      assert(norm(sqlRead) ==
        norm(CdcParquetSink.readTableAsOf(spark, tableDir, v).get),
        s"versionAsOf=$v diverges from the API read")
    }
    // aged-out / never-published versions FAIL the declarative read
    // (no Option on the SQL surface; Delta's vacuumed-version shape)
    val e = intercept[Exception] {
      spark.read.format("graft-cdc").option("versionAsOf", 0L)
        .load(tableDir).collect()
    }
    assert(e.getMessage != null)
  }

  test("tableChanges: typed diff between snapshots, untouched buckets pruned") {
    val tableDir = TestDirs.tmp("tbl")
    def batchOf(recs: Seq[graft.cdc.ChangeRecord]) = {
      val d = TestDirs.tmp("gcl")
      CdcChunkFile.write(s"$d/chunk-00000${CdcChunkFile.Extension}", recs)
      CdcStreaming.readBatch(spark, d)
    }
    // batch 0: three keys; batch 1 touches only kA (update), kNew
    // (insert) and kB (delete) — kC's bucket may stay untouched
    CdcParquetSink.applyBatch(spark, batchOf(Seq(
      CdcFixtures.rec(1, 1000000L, Op.Insert, "kA", "a0"),
      CdcFixtures.rec(2, 1000000L, Op.Insert, "kB", "b0"),
      CdcFixtures.rec(3, 1000000L, Op.Insert, "kC", "c0"))),
      tableDir, 0L, nBuckets = 8, maxDeltas = 4)
    CdcParquetSink.applyBatch(spark, batchOf(Seq(
      CdcFixtures.rec(4, 2000000L, Op.Update, "kA", "a1"),
      CdcFixtures.rec(5, 2000000L, Op.Insert, "kNew", "n0"),
      CdcFixtures.rec(6, 2000000L, Op.Delete, "kB", null))),
      tableDir, 1L, nBuckets = 8, maxDeltas = 4)
    val diff = CdcParquetSink.tableChanges(spark, tableDir, 0L, 1L).get
      .select(col("change_type"), col("key"),
        element_at(col("after"), "v").as("v"))
      .collect().map(r => (r.getString(0),
        r.getString(1).split('|').last, r.getString(2))).toSet
    assert(diff == Set(
      ("update", "kA", "a1"), ("insert", "kNew", "n0"),
      ("delete", "kB", "b0")), s"got $diff")
    // manifest-level pruning: only the buckets batch 1 touched differ
    val touched = CdcParquetSink.changedBuckets(tableDir, 0L, 1L).get
    val m1 = CdcParquetSink.latestManifest(tableDir).get
    val batch1Buckets = m1.filter(_._2.exists(_.startsWith("v000000000001")))
      .keySet
    assert(touched.toSet == batch1Buckets,
      s"diff read $touched but batch 1 touched $batch1Buckets")
    // identical versions diff to nothing without opening any bucket
    assert(CdcParquetSink.changedBuckets(tableDir, 1L, 1L).get.isEmpty)
    assert(CdcParquetSink.tableChanges(spark, tableDir, 1L, 1L).get.count() == 0)
    // an aged-out endpoint yields None, mirroring readTableAsOf
    assert(CdcParquetSink.tableChanges(spark, tableDir, -1L, 1L).isEmpty)
  }

  test("GC retention follows the publication log and keeps the live manifest") {
    val tableDir = TestDirs.tmp("tbl")
    def oneRec(id: Long, tsSec: Long, key: String, v: String) = {
      val d = TestDirs.tmp("gcl")
      CdcChunkFile.write(s"$d/chunk-00000${CdcChunkFile.Extension}",
        Seq(CdcFixtures.rec(id, tsSec * 1000000L, Op.Update, key, v)))
      CdcStreaming.readBatch(spark, d)
    }
    (0L to 2L).foreach { b =>
      CdcParquetSink.applyBatch(spark, oneRec(10 + b, 5 + b, "k1", s"u$b"),
        tableDir, b, nBuckets = 2, maxDeltas = 1)
    }
    // a compact publishes a hash-named manifest; ADVICE r10: on an
    // mtime tie its name sorts BEFORE every versioned manifest, which
    // used to let the just-published live manifest's data get GC'd.
    // The publication log orders by publish, not mtime — so the
    // compact IS the newest entry and its data survives, and _LATEST
    // resolves to a readable table whatever the filesystem's mtime
    // granularity.
    CdcParquetSink.compact(spark, tableDir, nBuckets = 2)
    val pub = Files.readAllLines(Paths.get(tableDir, "_PUBLISHED"))
    assert(pub.size() == 4 && pub.get(3).startsWith("manifest-compact-"))
    val latest = Files.readString(Paths.get(tableDir, "_LATEST")).trim
    assert(latest.startsWith("manifest-compact-"))
    val df = CdcParquetSink.readTable(spark, tableDir).get
    assert(df.filter(col("key").endsWith("|k1")).count() == 1)
    assert(df.select(element_at(col("after"), "v")).head().getString(0) == "u2")
  }

  test("maxDeltas < 1 is rejected (would degrade to whole-bucket rewrites)") {
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    val batch = CdcStreaming.readBatch(spark, dir)
    intercept[IllegalArgumentException] {
      CdcParquetSink.applyBatch(spark, batch,
        TestDirs.tmp("tbl"), 0L, maxDeltas = 0)
    }
  }

  test("replayed micro-batch no-ops once its manifest exists") {
    val dir = TestDirs.tmp("gcl")
    val tableDir = TestDirs.tmp("tbl")
    val ckpt = TestDirs.tmp("ck")
    CdcFixtures.writeChunks(dir)
    val q = CdcParquetSink.start(
      CdcStreaming.readStream(spark, dir), tableDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val v1 = CdcParquetSink.latestSnapshot(tableDir).get
    val rows1 = CdcParquetSink.readTable(spark, tableDir).get.collect().toSet
    // foreachBatch is at-least-once: re-deliver batch 0 with DIFFERENT
    // content — the committed manifest must make it a no-op, not a
    // double-apply (or a read-own-output corruption)
    val poison = CdcStreaming.readBatch(spark, dir)
      .withColumn("tsUs", col("tsUs") + 999999999L)
    CdcParquetSink.applyBatch(spark, poison, tableDir, 0L)
    assert(CdcParquetSink.latestSnapshot(tableDir).get == v1)
    assert(CdcParquetSink.readTable(spark, tableDir).get
      .collect().toSet == rows1)
  }

  test("crash between manifest write and _LATEST swap: replay completes the publish") {
    val dir = TestDirs.tmp("gcl")
    val tableDir = TestDirs.tmp("tbl")
    CdcFixtures.writeChunks(dir)
    val all = CdcStreaming.readBatch(spark, dir)
    CdcParquetSink.applyBatch(spark, all.filter(col("id") < 25), tableDir, 0L)
    val v0Name = Paths.get(CdcParquetSink.latestSnapshot(tableDir).get)
      .getFileName.toString
    CdcParquetSink.applyBatch(spark, all.filter(col("id") >= 25), tableDir, 1L)
    val v1 = CdcParquetSink.latestSnapshot(tableDir).get
    val v1Name = Paths.get(v1).getFileName.toString
    val rows = CdcParquetSink.readTable(spark, tableDir).get.collect().toSet
    // simulate the ADVICE r11 crash window: batch 1's manifest landed
    // but the publish never completed — _LATEST still points at v0 and
    // the publication log never saw v1
    Files.writeString(Paths.get(tableDir, "_LATEST"), v0Name)
    val log = Paths.get(tableDir, "_PUBLISHED")
    Files.writeString(log, Files.readString(log).linesIterator
      .filterNot(_.trim == v1Name).mkString("", "\n", "\n"))
    assert(CdcParquetSink.latestSnapshot(tableDir).get != v1)
    // the at-least-once replay of batch 1 must COMPLETE the publish
    // instead of short-circuiting (which silently lost the batch)
    CdcParquetSink.applyBatch(spark, all.filter(col("id") >= 25), tableDir, 1L)
    assert(CdcParquetSink.latestSnapshot(tableDir).get == v1)
    assert(CdcParquetSink.readTable(spark, tableDir).get
      .collect().toSet == rows)
    // and a replay of an OLDER fully-committed batch must never roll
    // _LATEST back past its successors
    CdcParquetSink.applyBatch(spark, all.filter(col("id") < 25), tableDir, 0L)
    assert(CdcParquetSink.latestSnapshot(tableDir).get == v1)
  }

  test("stale pre-delete record cannot resurrect a deleted key") {
    val dir = TestDirs.tmp("gcl")
    val tableDir = TestDirs.tmp("tbl")
    val ckpt = TestDirs.tmp("ck")
    // batch 1: insert k9 at t=10s, delete k9 at t=20s
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", Seq(
      CdcFixtures.rec(1L, 10000000L, Op.Insert, "k9", "v1"),
      CdcFixtures.rec(2L, 20000000L, Op.Delete, "k9", "v1")))
    def run() = {
      val q = CdcParquetSink.start(
        CdcStreaming.readStream(spark, dir), tableDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // batch 2 delivers a STALE update (t=15s, before the delete) —
    // without a retained tombstone this would resurrect k9
    CdcChunkFile.write(s"$dir/chunk-00001${CdcChunkFile.Extension}",
      Seq(CdcFixtures.rec(3L, 15000000L, Op.Update, "k9", "stale")))
    run()
    val table = CdcParquetSink.readTable(spark, tableDir).get
    assert(table.filter(col("key").endsWith("k9")).count() == 0)
    // compaction drops the tombstone once replay that old is impossible
    CdcParquetSink.compact(spark, tableDir)
    assert(CdcParquetSink.readTable(spark, tableDir).isEmpty ||
      CdcParquetSink.readTable(spark, tableDir).get
        .filter(col("key").endsWith("k9")).count() == 0)
  }

  test("compact folds every chain to length 1 and stores zero tombstone rows") {
    val dir = TestDirs.tmp("gcl")
    val tableDir = TestDirs.tmp("tbl")
    val ckpt = TestDirs.tmp("ck")
    // three batches over 5 keys with a delete — chains grow past 1
    // (maxDeltas default is high enough not to fold at this size)
    (0 until 3).foreach { b =>
      CdcChunkFile.write(f"$dir/chunk-$b%05d${CdcChunkFile.Extension}",
        (0 until 10).map { i =>
          val id = (b * 10 + i).toLong
          val op = if (id == 25L) Op.Delete else
            if (id % 10 < 2) Op.Insert else Op.Update
          CdcFixtures.rec(id, 1000000L * (id + 1), op, s"k${id % 5}", s"v$id")
        })
      val q = CdcParquetSink.start(
        CdcStreaming.readStream(spark, dir), tableDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    val before = CdcParquetSink.readTable(spark, tableDir).get
      .orderBy("key").collect().toSeq
    val pre = CdcParquetSink.latestManifest(tableDir).get
    assert(pre.values.exists(_.size > 1), "fixture never grew a chain")
    CdcParquetSink.compact(spark, tableDir)
    // every surviving bucket chain is a single path, and the stored
    // files carry no DELETE rows (tombstones dropped past the horizon)
    val post = CdcParquetSink.latestManifest(tableDir).get
    assert(post.nonEmpty && post.values.forall(_.size == 1))
    val stored = spark.read.parquet(
      post.values.flatten.map(rel => s"$tableDir/$rel").toSeq: _*)
    assert(stored.filter(col("op") === Op.Delete).count() == 0)
    // and the READ state is byte-identical to the pre-compact table
    val after = CdcParquetSink.readTable(spark, tableDir).get
      .orderBy("key").collect().toSeq
    assert(before == after)
  }

  test("change feed replays to the live table, resumes by suffix, ignores compaction") {
    val dir = TestDirs.tmp("gcl")
    val tableDir = TestDirs.tmp("tbl")
    val ckpt = TestDirs.tmp("ck")
    (0 until 3).foreach { b =>
      CdcChunkFile.write(f"$dir/chunk-$b%05d${CdcChunkFile.Extension}",
        (0 until 10).map { i =>
          val id = (b * 10 + i).toLong
          val op = if (id == 25L) Op.Delete else
            if (id % 10 < 2) Op.Insert else Op.Update
          CdcFixtures.rec(id, 1000000L * (id + 1), op, s"k${id % 5}", s"v$id")
        })
      val q = CdcParquetSink.start(
        CdcStreaming.readStream(spark, dir), tableDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    val feed = CdcParquetSink.changeFeed(spark, tableDir).get
      .localCheckpoint(true)
    assert(feed.select("version").distinct().collect()
      .map(_.getLong(0)).sorted.sameElements(Array(0L, 1L, 2L)))
    // the delete of id 25 (key k0) must surface as a typed delete row
    // carrying the PRE-image: k0's winner in the LAST PUBLISHED state
    // (id 15 — id 20 arrives in the same batch as the delete and is
    // never visible in any published version)
    val dels = feed.filter(col("change_type") === "delete").collect()
    assert(dels.length == 1 && dels.head.getAs[Long]("recordId") == 15L)
    // CONSUMER CONTRACT: replaying the feed in version order onto an
    // empty table reconstructs the live state exactly
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("version").desc)
    val live = feed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("change_type") =!= "delete")
      .select("key", "recordId", "tsUs")
    val table = CdcParquetSink.readTable(spark, tableDir).get
      .select("key", "recordId", "tsUs")
    assert(live.exceptAll(table).count() == 0 &&
      table.exceptAll(live).count() == 0)
    // set comparisons project off the `after` map (exceptAll rejects
    // MapType); the scalar columns fully determine a feed row
    def flat(df: org.apache.spark.sql.DataFrame) = df.select(
      "version", "change_type", "key", "recordId", "tsUs")
    // resume-from-checkpoint = the strict suffix of the full feed
    val resumed = CdcParquetSink.changeFeed(spark, tableDir, 0L).get
    val suffix = feed.filter(col("version") > 0)
    assert(flat(resumed).exceptAll(flat(suffix)).count() == 0 &&
      flat(suffix).exceptAll(flat(resumed)).count() == 0)
    // a resume point that is not a published version → None (aged-out
    // consumers must re-bootstrap, never silently skip)
    assert(CdcParquetSink.changeFeed(spark, tableDir, 7L).isEmpty)
    // compaction is layout-only: it publishes NO feed rows
    CdcParquetSink.compact(spark, tableDir)
    val post = CdcParquetSink.changeFeed(spark, tableDir).get
    assert(flat(post).exceptAll(flat(feed)).count() == 0 &&
      flat(feed).exceptAll(flat(post)).count() == 0)
  }

  test("multi-task chunk write: segments share a job prefix and admit in partition order") {
    // round 13 (the writeOrderedBatch contract): a range-partitioned
    // write job's segments must be admitted in PARTITION-ID order —
    // the per-task commit-millis prefix this replaced made same-job
    // segment order a task-finish race, which would let a key's later
    // record precede its earlier one in a time-range-dealt batch
    val dir = TestDirs.tmp("gcl_order")
    import spark.implicits._
    val recs = (0 until 300).map { i =>
      (i.toLong, s"tx-$i", 1000000L * (i + 1), 1000000L * (i + 1) - 500L,
        "INSERT", "db", "t")
    }.toDF("id", "transactionId", "tsUs", "bornUs", "op", "db", "tbl")
      .withColumn("pkNames", array(lit("pk")))
      .withColumn("before", lit(null).cast("map<string,string>"))
      .withColumn("after", map(lit("pk"), col("id").cast("string")))
      .withColumn("props", lit(null).cast("map<string,string>"))
      .withColumn("sourceType", lit("MySQL"))
      .withColumn("sourceVersion", lit("5.7"))
      .withColumn("ukNames", lit(null).cast("array<string>"))
    recs.repartitionByRange(3, col("tsUs"), col("id"))
      .write.format("graft-cdc").mode("append").option("path", dir).save()
    val chunks = graft.sources.CdcChunkFile.listChunks(dir)
    assert(chunks.size == 3, s"expected 3 segments, got $chunks")
    // one shared job prefix, partition ids in listed (= name) order
    val names = chunks.map(c => new java.io.File(c).getName)
    val prefixes = names.map(_.split("-p").head).distinct
    assert(prefixes.size == 1, s"segments did not share a job prefix: $names")
    assert(names == names.sorted, s"listChunks not name-ordered: $names")
    // admission order = event-time order: reading chunk by chunk in
    // listed order yields globally ascending tsUs across boundaries
    val maxima: Seq[(Long, Long)] = chunks.map { c =>
      val ts = graft.sources.CdcChunkFile.readRecords(c).map(_.tsUs).toSeq
      (ts.min, ts.max)
    }
    maxima.sliding(2).foreach { w =>
      if (w.size == 2)
        assert(w(0)._2 < w(1)._1, s"segment time ranges interleave: $maxima")
    }
  }

  test("stream-stream interval join matches the batch range join") {
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    // INSERTs joined to DELETEs of the same key within ±10s
    val q = CdcStreaming.intervalJoin(
        CdcStreaming.readStream(spark, dir), Op.Insert, Op.Delete,
        toleranceUs = 10000000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("ssjoin_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssjoin_t")
      val batch = CdcStreaming.intervalJoin(
        CdcStreaming.readBatch(spark, dir), Op.Insert, Op.Delete,
        toleranceUs = 10000000L)
      assert(streamed.count() > 0)
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      // tolerance respected
      assert(streamed.filter(abs(col("delta_us")) > 10000000L).count() == 0)
    } finally q.stop()
  }

  test("streaming session windows close under watermark and match batch") {
    val dir = TestDirs.tmp("gcl")
    // bursts separated by real gaps so sessions can close before the
    // final watermark (a burst at t=40s advances the watermark past
    // the early sessions' end)
    def r(id: Long, sec: Long, key: String) =
      CdcFixtures.rec(id, sec * 1000000L, Op.Update, key, s"v$id")
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}",
      Seq(r(0, 1, "a"), r(1, 2, "a"), r(2, 3, "a"),
          r(3, 5, "b"), r(4, 6, "b")))
    CdcChunkFile.write(s"$dir/chunk-00001${CdcChunkFile.Extension}",
      Seq(r(5, 40, "a"), r(6, 41, "b")))
    val q = CdcStreaming.sessionizedActivity(
        CdcStreaming.readStream(spark, dir), gap = "5 seconds",
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_t")
      // the two early bursts (a: 1-3s, b: 5-6s) closed when the t=40s
      // burst advanced the watermark; the t=40/41s sessions stay open
      assert(streamed.count() == 2)
      // every emitted (closed) session must agree with the batch result
      val batch = CdcStreaming.sessionizedActivity(
        CdcStreaming.readBatch(spark, dir), gap = "5 seconds")
      assert(streamed.except(batch).count() == 0)
      val a = streamed.filter(col("key").endsWith("|a")).head()
      assert(a.getAs[Long]("n_changes") == 3 &&
        a.getAs[Long]("end_us") == 8000000L)
    } finally q.stop()
  }

  private def collectRecs(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("id").collect().map { r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getString(6),
        Option(r.getAs[scala.collection.Seq[String]]("pkNames")).map(_.toSeq),
        Option(r.getAs[Map[String, String]]("before")),
        Option(r.getAs[Map[String, String]]("after")))
    }.toSeq

  test("graft-cdc write: batch roundtrip through the chunk transport") {
    val src = TestDirs.tmp("gcl")
    val dst = TestDirs.tmp("gcl")
    val recs = CdcFixtures.writeChunks(src)
    val df = CdcStreaming.readBatch(spark, src)
    df.write.format("graft-cdc").mode("append").option("path", dst).save()
    val back = CdcStreaming.readBatch(spark, dst)
    assert(collectRecs(back) == collectRecs(df))
    // written segments carry valid footers
    val chunks = CdcChunkFile.listChunks(dst)
    assert(chunks.nonEmpty)
    assert(chunks.map(CdcChunkFile.readFooter(_).nRecords).sum == recs.size)
  }

  test("graft-cdc write: streaming relay preserves the subscription") {
    val src = TestDirs.tmp("gcl")
    val dst = TestDirs.tmp("gcl")
    val ckpt = TestDirs.tmp("ck")
    CdcFixtures.writeChunks(src)
    val q = CdcStreaming.readStream(spark, src, maxChunksPerTrigger = Some(1))
      .writeStream.format("graft-cdc").option("path", dst)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val a = collectRecs(CdcStreaming.readBatch(spark, src))
    val b = collectRecs(CdcStreaming.readBatch(spark, dst))
    assert(a == b)
  }

  test("graft-cdc write: a chunk-name collision fails, never replaces") {
    val src = TestDirs.tmp("gcl")
    val dst = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(src)
    val rows = CdcStreaming.readBatch(spark, src)
      .queryExecution.toRdd.map(_.copy()).collect()
    // same jobMillis and partition id => the same chunk name
    def writer() = new graft.sources.CdcDataWriter(dst, -1L, 0, 0L, 1234L)
    val first = writer()
    rows.take(10).foreach(first.write)
    first.commit()
    val second = writer()
    rows.drop(10).foreach(second.write)
    intercept[java.nio.file.FileAlreadyExistsException](second.commit())
    // the first chunk survives intact, and no temp file is left behind
    val chunks = CdcChunkFile.listChunks(dst)
    assert(chunks.size == 1)
    assert(CdcChunkFile.readRecords(chunks.head).map(_.id).toSeq ==
      rows.take(10).map(_.getLong(0)).toSeq)
    assert(Fs.listDir(Paths.get(dst)).size == 1)
  }

  test("randomized model check: any DML sequence folds to the map model") {
    // deterministic fuzz: random insert/update/delete streams over a
    // small key space, random timestamps WITH ties (exercising the
    // record-id tie-break), random batch boundaries, maxDeltas=2 so
    // chains fold mid-run — the sink's read must equal the naive
    // per-key argmax-(tsUs, id) model, and compaction must not change
    // the live rows
    for (seed <- Seq(7, 41, 1337)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val recs = (0 until n).map { i =>
        val op = rnd.nextInt(6) match {
          case 0 => Op.Delete
          case 1 => Op.Insert
          case _ => Op.Update
        }
        // ~50% tie odds per draw: ts from just 8 distinct values
        CdcFixtures.rec(i.toLong, 1000000L * (1 + rnd.nextInt(8)), op,
          s"k${rnd.nextInt(10)}", s"v$i")
      }
      val tableDir = TestDirs.tmp(s"tbl_model_$seed")
      var batchId = 0L
      var rest = recs
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(25)
        val (batch, tail) = rest.splitAt(take)
        val d = TestDirs.tmp("gcl_model")
        CdcChunkFile.write(s"$d/chunk-00000${CdcChunkFile.Extension}", batch)
        CdcParquetSink.applyBatch(spark, CdcStreaming.readBatch(spark, d),
          tableDir, batchId, nBuckets = 4, maxDeltas = 2)
        batchId += 1
        rest = tail
      }
      val model = SinkSpec.model(recs)
      def liveRows: Map[String, String] =
        SinkSpec.live(CdcParquetSink.readTable(spark, tableDir).get)
      withClue(s"seed $seed: ") { assert(liveRows == model) }
      CdcParquetSink.compact(spark, tableDir)
      withClue(s"seed $seed after compact: ") { assert(liveRows == model) }
    }
  }

  test("chain reads and folds over more than 32 chain dirs run no " +
      "listing job") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    // Spark's file discovery lists more than 32 paths with a Spark job
    // (parallelPartitionDiscovery.threshold); the sink's chain reads
    // take their files from the manifest instead
    val tableDir = TestDirs.tmp("tbl")
    // batch b updates 200 keys (inserts them at 0), deletes every key
    // with i % 10 == b and inserts one new key
    def recsOf(b: Int): Seq[graft.cdc.ChangeRecord] =
      (0 until 200).map { i =>
        val id = b * 1000L + i
        val op = if (b == 0) Op.Insert else if (i % 10 == b) Op.Delete
          else Op.Update
        CdcFixtures.rec(id, 1000000L * (b + 1), op, s"k$i", s"v$id")
      } ++ (if (b == 0) Nil else Seq(CdcFixtures.rec(b * 1000L + 999,
        1000000L * (b + 1), Op.Insert, s"n$b", s"new$b")))
    def upTo(b: Int) = SinkSpec.model((0 to b).flatMap(recsOf))
    def batchOf(b: Int) = {
      val d = TestDirs.tmp("gcl")
      CdcChunkFile.write(s"$d/chunk-00000${CdcChunkFile.Extension}", recsOf(b))
      CdcStreaming.readBatch(spark, d)
    }
    def apply(b: Int, maxDeltas: Int = CdcParquetSink.DefaultMaxDeltas) =
      CdcParquetSink.applyBatch(spark, batchOf(b), tableDir, b.toLong,
        nBuckets = 16, maxDeltas = maxDeltas)
    def noListing[T](what: String)(f: => T): T = {
      val c = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT
      val before = c.getCount
      val out = f
      assert(c.getCount == before, s"$what ran a listing job")
      out
    }
    def dirs = CdcParquetSink.latestManifest(tableDir).get.values.flatten.size
    def table = SinkSpec.live(CdcParquetSink.readTable(spark, tableDir).get)
    def changes(df: org.apache.spark.sql.DataFrame) =
      df.select(col("change_type"), expr("after['uid']"), expr("after['v']"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet

    (0 to 3).foreach(apply(_))
    assert(dirs == 64)
    assert(noListing("readTable")(table) == upTo(3))
    assert(noListing("readTableAsOf")(SinkSpec.live(
      CdcParquetSink.readTableAsOf(spark, tableDir, 2L).get)) == upTo(2))
    assert(noListing("tableChanges")(changes(
      CdcParquetSink.tableChanges(spark, tableDir, 0L, 3L).get)) ==
      SinkSpec.diff(upTo(0), upTo(3)))
    val feed = noListing("changeFeed")(
      CdcParquetSink.changeFeed(spark, tableDir).get
        .select(col("version"), col("change_type"), expr("after['uid']"),
          expr("after['v']"))
        .collect().map(r => (r.getLong(0), (r.getString(1), r.getString(2),
          r.getString(3)))).toSet)
    assert(feed == (0 to 3).flatMap { b =>
      val from = if (b == 0) Map.empty[String, String] else upTo(b - 1)
      SinkSpec.diff(from, upTo(b)).map(b.toLong -> _)
    }.toSet)
    noListing("compact")(CdcParquetSink.compact(spark, tableDir, nBuckets = 16))
    assert(dirs == 16 && table == upTo(3))
    // two more deltas, then a fold of every bucket's 4-dir chain
    (4 to 5).foreach(apply(_))
    assert(dirs == 48)
    noListing("fold")(apply(6, maxDeltas = 2))
    val folded = CdcParquetSink.latestManifest(tableDir).get
    assert(folded.size == 16 &&
      folded.values.forall(c => c.size == 1 && c.head.contains("-base/")))
    assert(table == upTo(6))
  }

  test("a bucket dir holding several part files reads, folds and " +
      "compacts last-wins; sidecars and markers are not read") {
    import org.apache.spark.sql.Row
    val recs = (0 until 8).map(i =>
      CdcFixtures.rec(i.toLong, 10000000L, Op.Insert, s"k$i", s"v$i"))
    val expected = SinkSpec.model(recs) + ("k0" -> "newer")
    def batchOf(rs: Seq[graft.cdc.ChangeRecord]) = {
      val d = TestDirs.tmp("gcl")
      CdcChunkFile.write(s"$d/chunk-00000${CdcChunkFile.Extension}", rs)
      CdcStreaming.readBatch(spark, d)
    }
    def table(tableDir: String) =
      SinkSpec.live(CdcParquetSink.readTable(spark, tableDir).get)
    // a one-batch table whose k0 bucket dir then gets a second part
    // file holding an older and a newer version of k0, moved in with
    // its `.crc` sidecar, a `_SUCCESS` marker and the marker's sidecar
    def twoFileTable(): (String, String) = {
      val tableDir = TestDirs.tmp("tbl")
      CdcParquetSink.applyBatch(spark, batchOf(recs), tableDir, 0L,
        nBuckets = 2)
      val k0 = CdcParquetSink.readTable(spark, tableDir).get
        .filter(col("key").endsWith("|k0")).head()
      val (key, ts) = (k0.getAs[String]("key"), k0.getAs[Long]("tsUs"))
      val rel = CdcParquetSink.latestManifest(tableDir).get.values.flatten
        .find(r => spark.read.parquet(s"$tableDir/$r")
          .filter(col("key") === key).count() > 0).get
      val staging = TestDirs.tmp("part")
      spark.createDataFrame(java.util.List.of(
          Row(key, ts - 1, 100L, Op.Update, Map("uid" -> "k0", "v" -> "older")),
          Row(key, ts + 1, 101L, Op.Update, Map("uid" -> "k0", "v" -> "newer"))),
          CdcParquetSink.StoreSchema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val moved = Fs.listDir(Paths.get(staging))
      moved.foreach(p => Files.move(p, Paths.get(tableDir, rel, p.getFileName.toString)))
      assert(moved.map(_.getFileName.toString).exists(_.endsWith(".crc")) &&
        moved.exists(_.getFileName.toString == "_SUCCESS"))
      assert(SinkSpec.partFiles(tableDir, rel) == 2)
      (tableDir, rel)
    }

    val (t1, _) = twoFileTable()
    assert(table(t1) == expected)
    val snapshot = spark.read.format("graft-cdc").option("versionAsOf", 0L)
      .load(t1)
    assert(SinkSpec.live(snapshot) == expected)

    // a fold reads both files: a record between the base and "newer"
    // must lose to "newer"
    val (t2, rel2) = twoFileTable()
    val between = recs.head.copy(id = 200L, after = Map("uid" -> "k0", "v" -> "between"))
    CdcParquetSink.applyBatch(spark, batchOf(Seq(between)), t2, 1L,
      nBuckets = 2, maxDeltas = 1)
    val bucket = CdcParquetSink.latestManifest(t2).get
      .collectFirst { case (b, c) if c.head.contains("-base/") => b }.get
    assert(CdcParquetSink.manifestAsOf(t2, 0L).get(bucket) == Seq(rel2))
    assert(table(t2) == expected)

    val (t3, _) = twoFileTable()
    CdcParquetSink.compact(spark, t3, nBuckets = 2)
    assert(table(t3) == expected)
    val stored = spark.read.parquet(CdcParquetSink.latestManifest(t3).get
      .values.flatten.map(r => s"$t3/$r").toSeq: _*)
    assert(stored.count() == expected.size)
  }

  test("pk-less tables key on their unique index (codec v3 ukNames)") {
    implicit val s = spark
    // a table with NO primary key but a unique index on (email):
    // updates to the same email must collapse to one live row, and a
    // delete must tombstone it — the reference's RowImage
    // getUniqueKeyValues fallback beside getPrimaryKeyValues
    def rec(id: Long, sec: Long, op: String, email: String, v: String) =
      graft.cdc.ChangeRecord(id, "tx", sec * 1000000L, 0L, op, "app", "nopk",
        Seq.empty, // no pk declared
        if (op == Op.Insert) null else Map("email" -> email, "v" -> "old"),
        if (op == Op.Delete) null else Map("email" -> email, "v" -> v),
        ukNames = Seq("email"))
    val dir = TestDirs.tmp("gcl_uk")
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", Seq(
      rec(1, 10, Op.Insert, "a@x", "v1"),
      rec(2, 20, Op.Update, "a@x", "v2"),
      rec(3, 30, Op.Insert, "b@x", "v3"),
      rec(4, 40, Op.Delete, "b@x", null)))
    // wire roundtrip carries ukNames through the source schema
    val batch = CdcStreaming.readBatch(spark, dir)
    assert(batch.filter(col("ukNames") === array(lit("email"))).count() == 4)
    // sink materialization keys on the unique index: a@x collapses to
    // v2, b@x is deleted, NOT all four records on one empty key
    val tableDir = TestDirs.tmp("tbl_uk")
    CdcParquetSink.applyBatch(spark, batch, tableDir, 0L, nBuckets = 2)
    val live = CdcParquetSink.readTable(spark, tableDir).get
      .select(expr("after['email']"), expr("after['v']"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(live == Map("a@x" -> "v2"))
  }

  test("randomized streaming retract model: live counts equal the batch model") {
    implicit val s = spark
    // random DML with timestamp ties arriving OUT OF ORDER across
    // micro-batches: the retract materializer's monotone state must
    // converge to the per-key argmax-(tsUs, id) model regardless, and
    // the chained sign-sum must telescope to the live counts
    for (seed <- Seq(11, 97)) {
      val rnd = new scala.util.Random(seed)
      val recs = (0 until 40).map { i =>
        val op = rnd.nextInt(5) match {
          case 0 => Op.Delete
          case 1 => Op.Insert
          case _ => Op.Update
        }
        CdcFixtures.rec(i.toLong, 1000000L * (1 + rnd.nextInt(8)), op,
          s"k${rnd.nextInt(8)}", s"v${rnd.nextInt(6)}")
      }
      val shuffled = rnd.shuffle(recs)
      val dir = TestDirs.tmp(s"gcl_retract_$seed")
      shuffled.grouped(10).zipWithIndex.foreach { case (g, i) =>
        CdcChunkFile.write(f"$dir/chunk-$i%05d${CdcChunkFile.Extension}", g)
      }
      val q = CdcStreaming.liveCountByValue(
          CdcStreaming.readStream(spark, dir, maxChunksPerTrigger = Some(1)),
          expr("after['v']"))
        .writeStream.format("memory").queryName(s"retract_model_$seed")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        val got = spark.table(s"retract_model_$seed")
          .filter(col("live_rows") =!= 0)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val model = recs.groupBy(r =>
            (if (r.op == Op.Delete) r.before else r.after)("uid"))
          .flatMap { case (_, rs) =>
            val w = rs.maxBy(r => (r.tsUs, r.id))
            if (w.op == Op.Delete) None else Some(w.after("v"))
          }
          .groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
        withClue(s"seed $seed: ") { assert(got == model) }
      } finally q.stop()
    }
  }

  test("dedupRedelivered drops exact redeliveries by record id") {
    val dir = TestDirs.tmp("gcl")
    val recs = CdcFixtures.writeChunks(dir)
    // chunk 3 redelivers the first 10 records (failover replay)
    CdcChunkFile.write(s"$dir/chunk-00090${CdcChunkFile.Extension}",
      recs.take(10))
    val q = CdcStreaming.dedupRedelivered(CdcStreaming.readStream(spark, dir))
      .writeStream.format("memory").queryName("dedup_redeliver_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_redeliver_t")
      assert(got.count() == recs.size) // duplicates collapsed
      assert(got.select("id").distinct().count() == recs.size)
    } finally q.stop()
  }
}

object SinkSpec {
  /** The map model of the sink: per key, the winner by (tsUs, id); a
    * DELETE winner leaves the key absent. `uid` → the winner's `v`. */
  def model(recs: Seq[graft.cdc.ChangeRecord]): Map[String, String] =
    recs.groupBy(r => (if (r.op == Op.Delete) r.before else r.after)("uid"))
      .flatMap { case (k, rs) =>
        val w = rs.maxBy(r => (r.tsUs, r.id))
        if (w.op == Op.Delete) None else Some(k -> w.after("v"))
      }

  /** A table read as the model's shape; a key read twice fails. */
  def live(df: org.apache.spark.sql.DataFrame): Map[String, String] = {
    val rows = df.select(expr("after['uid']"), expr("after['v']"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    val m = rows.toMap
    assert(m.size == rows.length, s"a key is read twice: ${rows.toSeq}")
    m
  }

  /** The typed diff [[CdcParquetSink.tableChanges]] emits between two
    * model states, as (change_type, uid, v). */
  def diff(a: Map[String, String],
      b: Map[String, String]): Set[(String, String, String)] =
    (a.keySet ++ b.keySet).flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(v))              => Some(("insert", k, v))
        case (Some(v), None)              => Some(("delete", k, v))
        case (Some(x), Some(y)) if x != y => Some(("update", k, y))
        case _                            => None
      }
    }

  /** Parquet data files in one bucket dir of a table. */
  def partFiles(tableDir: String, rel: String): Int =
    Fs.listDir(Paths.get(tableDir, rel)).count { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }
}
