package graft

import graft.cdc.{ChangeRecord, Op, TypedSchema}
import graft.sinks.CdcParquetSink
import graft.sources.{CdcChunkFile, CdcSubscription}
import graft.streaming.CdcStreaming
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The full pipeline a user of the reference connector runs, stitched
  * end-to-end on graft: subscribe (with per-table selection and a
  * checkpoint) → typed-schema projection → watermarked event-time
  * aggregation, alongside continuous materialization into the
  * bucketed sink — all from one chunk-dir transport, all through the
  * public API surface (CdcSubscription / TypedSchema / CdcStreaming /
  * CdcParquetSink).
  */
class EndToEndSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def orderRec(id: Long, sec: Long, op: String, oid: Int,
      amount: String): ChangeRecord =
    ChangeRecord(id, s"tx-${id / 4}", sec * 1000000L, sec * 1000000L - 900L,
      op, "shop", "orders", Seq("oid"),
      if (op == Op.Insert) null
      else Map("oid" -> oid.toString, "amount" -> amount),
      if (op == Op.Delete) null
      else Map("oid" -> oid.toString, "amount" -> amount),
      props = Map("tag" -> "e2e"), sourceType = "MySQL",
      sourceVersion = "8.0")

  private def noiseRec(id: Long, sec: Long): ChangeRecord =
    ChangeRecord(id, "tx-x", sec * 1000000L, sec * 1000000L - 900L,
      Op.Update, "shop", "audit_log", Seq("aid"), null,
      Map("aid" -> id.toString, "note" -> "ignore me"))

  test("subscription -> table select -> typed schema -> windowed agg -> sink") {
    val server = TestDirs.tmp("e2e")
    Files.createDirectory(java.nio.file.Paths.get(s"$server/shop-topic"))
    val dir = s"$server/shop-topic"

    // the transport carries two tables interleaved + a trailing
    // heartbeat that closes the last window
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", Seq(
      orderRec(1L, 1, Op.Insert, 100, "10.50"),
      noiseRec(2L, 2),
      orderRec(3L, 4, Op.Insert, 101, "5.25"),
      orderRec(4L, 8, Op.Update, 100, "12.00")))
    CdcChunkFile.write(s"$dir/chunk-00001${CdcChunkFile.Extension}", Seq(
      noiseRec(5L, 11),
      orderRec(6L, 12, Op.Insert, 102, "7.75"),
      orderRec(7L, 14, Op.Delete, 101, "5.25"),
      ChangeRecord(8L, null, 60000000L, 59999100L, Op.Heartbeat,
        "shop", "orders", Seq.empty, null, null)))

    val sub = CdcSubscription(server = server, topic = "shop-topic",
      sid = Some("sid-e2e"), table = Some("shop.orders"))
    val ordersSchema = TypedSchema.TableSchema("shop", "orders", Seq("oid"),
      Seq(TypedSchema.RecordField("oid", "bigint"),
        TypedSchema.RecordField("amount", "decimal(10,2)")))

    // analytics leg: typed DML amounts summed per 10s event-time
    // window, heartbeat advances the watermark so all windows close
    val typed = TypedSchema.project(
      CdcStreaming.withHeartbeatWatermark(sub.readStream(spark),
        watermark = "0 seconds"),
      ordersSchema)
    // the op filter must be watermark-guarded: a plain filter pushes
    // below the EventTimeWatermark node and heartbeats never reach
    // the stats (see CdcStreaming.guardedFilter)
    val agg = CdcStreaming.guardedFilter(typed,
        col("record_op").isin(Op.Insert, Op.Update))
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("amt"))
      .select(unix_micros(col("window.start")).as("win_us"),
        col("n"), col("amt"))
    val q1 = agg.writeStream.format("memory").queryName("e2e_agg")
      .outputMode("append").start()
    try {
      q1.processAllAvailable()
      val wins = spark.table("e2e_agg").orderBy("win_us").collect()
      assert(wins.length == 2)
      // window [0,10s): inserts 10.50 + 5.25, update 12.00
      assert(wins(0).getAs[Long]("win_us") == 0L)
      assert(wins(0).getAs[Long]("n") == 3L)
      assert(wins(0).getAs[java.math.BigDecimal]("amt")
        .compareTo(new java.math.BigDecimal("27.75")) == 0)
      // window [10,20s): one insert (noise + delete excluded)
      assert(wins(1).getAs[Long]("win_us") == 10000000L)
      assert(wins(1).getAs[Long]("n") == 1L)
    } finally q1.stop()

    // materialization leg: same subscription into the bucketed sink;
    // current state = oid 100 (12.00) and 102 (7.75); 101 deleted
    val tableDir = TestDirs.tmp("e2e_tbl")
    val ckpt = TestDirs.tmp("e2e_ck")
    val q2 = CdcParquetSink.start(sub.readStream(spark), tableDir, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val state = CdcParquetSink.readTable(spark, tableDir).get
      .withColumn("oid", element_at(col("after"), "oid").cast("long"))
      .withColumn("amount", element_at(col("after"), "amount"))
    assert(state.count() == 2)
    val byOid = state.collect()
      .map(r => r.getAs[Long]("oid") -> r.getAs[String]("amount")).toMap
    assert(byOid == Map(100L -> "12.00", 102L -> "7.75"))
    // the audit_log table never reached the pipeline (table pushdown)
    assert(state.filter(col("key").contains("audit_log")).count() == 0)
  }

  test("corpus pipeline: cluster -> decontaminate -> quality-filter -> keep list") {
    // the training-data leg, composed from the operator surface the
    // way a real pipeline chains them: one keeper per near-dup
    // cluster, benchmark-contaminated docs dropped, high rare-word
    // docs dropped
    val sf = "/root/testdata/sf0.001"
    val clusters = SparkEntry.queries("dd06_dup_clusters")(spark, sf)
    val decon = SparkEntry.queries("dd07_decontaminate")(spark, sf)
    val quality = SparkEntry.queries("tx06_rareword")(spark, sf)
    val keep = clusters.filter(col("is_keeper"))
      .join(decon, "doc_id")
      .filter(!col("contaminated") && !col("is_benchmark"))
      .join(quality.select(col("doc_id"), col("rare_ratio")), "doc_id")
      .filter(col("rare_ratio") < 0.95)
      .select(col("doc_id"), col("cluster"))
    val kept = keep.count()
    assert(kept > 0)
    // one doc per cluster, and each keeper is its cluster's id
    assert(keep.groupBy("cluster").count()
      .filter(col("count") > 1).count() == 0)
    assert(keep.filter(col("doc_id") =!= col("cluster")).count() == 0)
    // the pipeline actually dropped something (dups + benchmark set)
    val total = Tables.load(spark, sf, "documents").count()
    assert(kept < total)
  }
}
