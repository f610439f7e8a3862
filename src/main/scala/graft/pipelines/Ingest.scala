package graft.pipelines

import graft.{QueryDef, Tables}
import graft.streaming.StreamGate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** §2.3 ↔ §2.2 bridge under the ORACLE GATE (round 9): the streaming
  * ingest-dedup path ([[graft.streaming.IngestDedup]]) — spec-only
  * since round 5, Bloom-gated since round 7 — driven end-to-end
  * through REAL Structured Streaming micro-batches and hash-matched
  * against the declarative DuckDB twin, the cdc10/cdc11 pattern
  * applied to the training-data ingest topology.
  */
object Ingest {

  /** Corpus cut: every 4th doc is "already ingested"; the rest arrive
    * as the stream, dealt into [[NBatches]] micro-batches by doc_id
    * residue — deliberately NOT event-time-contiguous, because every
    * per-doc decision here is stateless (the LSH probe is a
    * stream-static join, the Bloom probe a projection) and the result
    * must not depend on arrival order. */
  private val CorpusMod = 4
  private val NBatches = 3

  /** Shingle-Bloom budget: the corpus' distinct 3-shingle set at the
    * gate SFs is ~10⁴–10⁵ keys, so 2^20 bits keeps kn/B ≤ ~0.4 and
    * fp under 1% (BloomBitsAgg sizing math) — and exercises the
    * round-8 `bits` parameter at a non-default size on the streaming
    * path. 128 KB rides the plan as one literal array. */
  private val ShingleBloomBits = 1L << 20

  // ------------------------------------------------------------- ing01
  /** Streaming ingest dedup end-to-end: the static corpus collapses
    * ONCE into (a) the LSH band index and (b) a shingle-level Bloom
    * seen-set (dd07's approximate stand-in — the exact broadcast
    * shingle list is the MB-scale tool; the bitmap is
    * corpus-size-independent). The document stream then flows through
    * TWO real streaming queries over the same parquet-file source
    * (one file per micro-batch):
    *
    *  1. the stateless ADMISSION projection: per doc, distinct
    *     3-shingle hashes ([[graft.functions.ShingleHashSet]], one
    *     codegen'd call) probed against the broadcast bitmap —
    *     n_maybe_seen of n_shingles with k-bit integer tests inside
    *     a lambda, no join, no state. A doc with high overlap is
    *     near-certainly contaminated content (Bloom never
    *     false-negatives on a shingle; fp budget is sized above);
    *  2. the stateful NEAR-DUP flag: [[graft.streaming.IngestDedup
    *     .flagNearDuplicates]] — band explode, stream-static
    *     left-semi join against the index,
    *     `dropDuplicatesWithinWatermark` collapse (the only stateful
    *     operator; the watermark is sized so nothing is ever late —
    *     arrival order must not matter, and the out-of-order batch
    *     deal proves it doesn't).
    *
    * Output: one row per streamed doc — (doc_id, n_shingles,
    * n_maybe_seen, near_dup). The DuckDB oracle replays shingling,
    * the 60-bit md5 hashes, the Kirsch-Mitzenmacher positions against
    * the same-size bitmap's position set, the band signatures and the
    * index membership — hash-exact, arrival-order-free. */
  private val ing01 = QueryDef(
    "ing01_stream_ingest_dedup",
    (outer, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      // streams run in the gate's child session; the read-back join
      // below is built on the OUTER session (the StreamGate contract).
      val s = StreamGate.gateSession(outer)
      // materialize once: the corpus index build, the Bloom aggregate
      // and the NBatches batch writes each re-scanned documents.parquet
      // — the fixture pays the scan once, the five downstream actions
      // read cached blocks. Freed after the batch writes below.
      val docs = StreamGate.fixture(Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          timestamp_micros(col("doc_id") * 1000000L).as("ts")))
      val corpus = docs.filter(col("doc_id") % CorpusMod === 0)
      val streamSet = docs.filter(col("doc_id") % CorpusMod =!= 0)
      // static builds, once per ingest epoch (at 100 TB: a bucketed
      // parquet index table + a bitmap rebuilt on corpus compaction)
      val index = graft.streaming.IngestDedup.corpusIndex(corpus)
        .localCheckpoint(true)
      val bloom = graft.streaming.IngestDedup
        .corpusShingleBloom(corpus, ShingleBloomBits)
      val batchDir = StreamGate.ring("ing01", dir)
      (0L until NBatches.toLong).foreach { b =>
        streamSet.filter(pmod(col("doc_id"), lit(NBatches)) === b)
          .coalesce(1)
          .write.mode("append").parquet(batchDir)
      }
      // index and bloom are materialized, batch files are written —
      // nothing still reads the docs fixture
      StreamGate.free(docs)
      val stream = s.readStream
        .schema(streamSet.schema)
        // admission cap 2 (optimization r18, the CdcQueries cap-2
        // rationale): both consumers are per-doc deterministic
        // (stateless bloom probe; index join under a 10-year
        // watermark), so trigger granularity cannot change a row —
        // 3 triggers per stream become 2, and the gate still proves
        // multi-micro-batch streaming admission
        .option("maxFilesPerTrigger", "2")
        .parquet(batchDir)
      // FILE sinks + read-back (VERDICT r9 #3/#5: the memory sink was
      // the last query-path materialization whose row count scales
      // with the corpus — a 100 TB ingest writes its admission log to
      // storage, so the gate harness does too). Both consumers of the
      // one stream run concurrently.
      val admOut = s"${batchDir}_adm"
      val dupOut = s"${batchDir}_dup"
      StreamGate.runToEnd(
        StreamGate.startParquet(graft.streaming.IngestDedup
          .withShingleOverlap(stream, bloom, ShingleBloomBits)
          .select(col("doc_id"), col("n_shingles"), col("n_maybe_seen")),
          admOut, complete = false),
        StreamGate.startParquet(graft.streaming.IngestDedup
          .flagNearDuplicates(stream, index, watermark = "3650 days")
          .select(col("doc_id")),
          dupOut, complete = false))
      // explicit schemas on read-back: a stream that emitted zero
      // rows leaves a dir with no data files to infer from. Read on
      // the OUTER session.
      val adm = outer.read.parquet(admOut)
      val flagged = outer.read
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType))))
        .parquet(dupOut)
        .withColumn("near_dup", lit(true))
      adm
        .join(flagged, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"), col("n_maybe_seen"),
          coalesce(col("near_dup"), lit(false)).as("near_dup"))
    },
    Some {
      val B = ShingleBloomBits
      val h60 = graft.OracleSafe.hash60Sql("sg")
      def posSql(i: Int) =
        graft.functions.BloomBitsAgg.posSqlDuck("h", i.toString, B)
      def posUnion(pred: String) = (0 until graft.functions.BloomBitsAgg.K)
        .map(i => s"SELECT doc_id, h, ${posSql(i)} AS p FROM shh WHERE $pred")
        .mkString("\n  UNION ALL ")
      s"""WITH ${TextShingles.shinglesSql(Dedup.ShingleK)},
         |${Dedup.signaturesSql},
         |shh AS (SELECT DISTINCT doc_id, $h60 AS h FROM sh),
         |cpos AS (SELECT DISTINCT p FROM (
         |  ${posUnion(s"doc_id % $CorpusMod = 0")})),
         |hit AS (SELECT doc_id, h, BOOL_AND(p IN (SELECT p FROM cpos)) AS hit
         |  FROM (${posUnion(s"doc_id % $CorpusMod <> 0")})
         |  GROUP BY doc_id, h),
         |cnts AS (SELECT doc_id, COUNT(*) AS n_shingles,
         |    COUNT(*) FILTER (hit) AS n_maybe_seen
         |  FROM hit GROUP BY doc_id),
         |cidx AS (SELECT DISTINCT b, sig FROM sig WHERE doc_id % $CorpusMod = 0),
         |flagged AS (SELECT DISTINCT s.doc_id FROM sig s
         |  JOIN cidx c ON s.b = c.b AND s.sig = c.sig
         |  WHERE s.doc_id % $CorpusMod <> 0)
         |SELECT s.doc_id,
         |  COALESCE(c.n_shingles, 0) AS n_shingles,
         |  COALESCE(c.n_maybe_seen, 0) AS n_maybe_seen,
         |  s.doc_id IN (SELECT doc_id FROM flagged) AS near_dup
         |FROM (SELECT doc_id FROM documents WHERE doc_id % $CorpusMod <> 0) s
         |LEFT JOIN cnts c USING (doc_id)""".stripMargin
    })

  // -------------------------------------------------------------- ing02
  /** DEAD-LETTER QUARANTINE ROUTING (round 12) — the error path of
    * the ingest story: the wire decode's permissive mode DROPS
    * undecodable payloads (ing01/cdc18 exercise the happy path; the
    * drop is visible only as a DSv2 metric), but a production ingest
    * routes them to a quarantine table for forensics and replay —
    * bad data must be ACCOUNTED FOR, not silently shed. Every data
    * record round-trips through the real v3 wire codec; a
    * deterministic subset (record_id ≡ 0 mod 37) is truncated to 5
    * bytes — an unconditionally undecodable prefix — and ONE
    * stateless routing pass ([[graft.streaming.CdcStreaming
    * .routeWireRecords]], identical under batch and streaming) lands
    * each wire payload as either its decoded identity or a quarantine
    * verdict. The oracle knows the corruption RULE, not the bytes:
    * the routing outcome per wire id is fully determined by it, so
    * the entire encode→corrupt→route path is hash-gated. Scale: a
    * per-row narrow map riding the wire scan — no shuffle, no state,
    * no driver involvement. */
  /** Wire payloads for the quarantine pair (ing02/ing04): every data
    * record encoded through the real v3 codec; ids ≡ 0 mod
    * `corruptMod` truncated to 5 bytes — an unconditionally
    * undecodable prefix. `onlyIds` (a `record_id` frame) restricts to
    * a re-delivery subset via a broadcast semi join — the replay path
    * re-fetches quarantined positions from the source, and the
    * quarantine set is tiny relative to the corpus by construction. */
  private def wireFrame(s: SparkSession, dir: String, corruptMod: Long,
      onlyIds: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val log = graft.cdc.CdcQueries.changelog(s, dir)
      .filter(col("op") =!= "HEARTBEAT")
    val picked = onlyIds.fold(log)(ids =>
      log.join(broadcast(ids), Seq("record_id"), "left_semi"))
    val recs = picked
      .select(col("record_id"), col("ts_us"), col("op"),
        col("pk").cast("string").as("pk"),
        col("val").cast("string").as("val"),
        col("k").cast("string").as("k"))
      .as[(Long, Long, String, String, String, String)]
    recs.map { case (id, ts, op, pk, v, k) =>
      val after =
        if (op == "DELETE") null
        else Map("pk" -> pk, "val" -> v, "k" -> k).filter(_._2 != null)
      val before = if (op == "DELETE") Map("pk" -> pk) else null
      val bytes = graft.cdc.RecordCodec.encode(graft.cdc.ChangeRecord(
        id, s"tx-${id / 100}", ts, ts - 500L, op, "app", "users",
        Seq("pk"), before, after))
      (id, if (id % corruptMod == 0) bytes.take(5) else bytes)
    }.toDF("wire_id", "value")
  }

  private val ing02 = QueryDef(
    "ing02_quarantine_route",
    (s, dir) => {
      graft.streaming.CdcStreaming.routeWireRecords(wireFrame(s, dir, 37))
        .select(col("wire_id"), col("ok"),
          col("record_id").as("rec_id"), col("op"),
          // the library surface carries the JVM error class; the
          // oracled query normalizes it (engine-portable verdict)
          when(col("ok"), lit(null).cast("string"))
            .otherwise(lit("decode_error")).as("err"))
    },
    Some(s"""${graft.cdc.CdcQueries.changelogSql}
      |SELECT record_id AS wire_id,
      |  record_id % 37 <> 0 AS ok,
      |  CASE WHEN record_id % 37 <> 0 THEN record_id END AS rec_id,
      |  CASE WHEN record_id % 37 <> 0 THEN op END AS op,
      |  CASE WHEN record_id % 37 = 0 THEN 'decode_error' END AS err
      |FROM changelog WHERE op <> 'HEARTBEAT'""".stripMargin))

  // ------------------------------------------------------------- ing03
  /** BACKFILL / STREAMING-TAIL SEAM (round 12) — the bootstrap every
    * production ingest runs once and must get exactly-once right: a
    * consumer arrives after history already exists, so it (a)
    * batch-backfills the archived range and (b) subscribes the live
    * stream from an offset EARLIER than the archive's high-water mark
    * (the only safe order — subscribe first, snapshot later; a gap
    * between archive end and subscription start loses records
    * forever, so production always overlaps and dedups the seam).
    * The seam rule is STATELESS: the archive publishes its high-water
    * mark (max archived position), and the stream leg admits only
    * records ABOVE it — O(1) per record, no key state, no anti-join
    * against a corpus-sized id set; the redelivered overlap
    * ([subscription start, HWM)) is dropped on sight. Here: HWM =
    * ⌊3/5·max record_id⌋, subscription from ⌊4/5·HWM⌋ (a genuinely
    * non-empty overlap at every SF), the tail dealt into
    * [[NBatches]] out-of-order micro-batches (the seam must be
    * arrival-order-free, and is — the filter is stateless); file
    * sink + outer-session read-back (the ing01 contract). Output:
    * every data record exactly once, tagged with the leg that
    * delivered it. The oracle is the declarative partition of the
    * changelog at HWM — the hash match proves the streaming path
    * implements exactly-once across the seam. */
  private val ing03 = QueryDef(
    "ing03_backfill_seam",
    (outer, dir) => {
      val s = StreamGate.gateSession(outer)
      val log = graft.cdc.CdcQueries.changelog(s, dir)
        .filter(col("op") =!= "HEARTBEAT")
        .select(col("record_id"), col("ts_us"), col("op"), col("pk"))
      // 1-row driver scalar (the emb05 sanctioned pattern): the
      // archive's high-water mark; Long division matches DuckDB `//`
      val hwm = log.agg(max("record_id")).head().getLong(0) * 3 / 5
      val pstart = hwm * 4 / 5
      val backfill = log.filter(col("record_id") < hwm)
        .withColumn("via", lit("backfill"))
      val tail = log.filter(col("record_id") >= pstart)
      val batchDir = StreamGate.ring("ing03", dir)
      (0L until NBatches.toLong).foreach { b =>
        tail.filter(pmod(col("record_id"), lit(NBatches)) === b)
          .coalesce(1)
          .write.mode("append").parquet(batchDir)
      }
      val stream = s.readStream
        .schema(tail.schema)
        // admission cap 2 (optimization r18): the seam admission is a
        // stateless per-record position filter — trigger granularity
        // cannot change a row; 3 triggers become 2
        .option("maxFilesPerTrigger", "2")
        .parquet(batchDir)
      // the seam: stateless position admission against the published
      // high-water mark — the overlap redelivery drops on sight
      val admitted = stream.filter(col("record_id") >= hwm)
        .withColumn("via", lit("stream"))
      // file sink + outer-session read-back (the StreamGate contract)
      val streamed = StreamGate.runToParquetAndRead(outer, admitted,
        s"${batchDir}_out", complete = false,
        org.apache.spark.sql.types.StructType(
          tail.schema.fields :+ org.apache.spark.sql.types.StructField(
            "via", org.apache.spark.sql.types.StringType)))
      backfill.unionByName(streamed)
    },
    Some(s"""${graft.cdc.CdcQueries.changelogSql},
      |hw AS (SELECT (MAX(record_id) * 3) // 5 AS hwm FROM changelog
      |  WHERE op <> 'HEARTBEAT')
      |SELECT record_id, ts_us, op, pk,
      |  CASE WHEN record_id < hwm THEN 'backfill' ELSE 'stream' END AS via
      |FROM changelog, hw WHERE op <> 'HEARTBEAT'""".stripMargin))

  // ------------------------------------------------------------- ing04
  /** QUARANTINE REPLAY (round 12) — the second half of the dead-letter
    * contract ing02 opened: quarantined payloads are not a graveyard
    * but a WORK QUEUE. After the outage that corrupted them clears,
    * the pipeline re-requests each quarantined position from the
    * source and routes the re-delivery through the identical decode;
    * records whose corruption was transient are admitted on attempt 2,
    * records broken AT SOURCE stay dead with their attempt count — and
    * the union of (first-pass admissions, replay admissions, dead
    * letters) must cover every data record EXACTLY ONCE, the
    * exactly-once-across-retries invariant a redrive loop has to keep
    * (the DLQ-redrive contract, same shape as Kinesis/SQS redrive or a
    * Kafka dead-letter-topic re-consumer).
    *
    * Gate: pass 1 corrupts ids ≡ 0 mod 37 (ing02's rule); the replay
    * re-fetches exactly the quarantined positions (a BROADCAST semi
    * join — the quarantine set is 1/37 of the corpus by construction,
    * and at 100 TB a redrive batch is always small relative to the
    * stream) and re-encodes them, but ids ≡ 0 mod 74 are broken at
    * source, so re-delivery truncates them again. Both passes run the
    * one [[graft.streaming.CdcStreaming.routeWireRecords]] definition.
    * The oracle knows the two corruption RULES, not the bytes: since
    * 74 = 2·37, %37≠0 ⇒ admitted on attempt 1, else %74≠0 ⇒ replayed
    * on attempt 2, else dead — the whole
    * encode→corrupt→route→refetch→reroute loop is hash-gated. Scale:
    * two narrow codec maps riding scans + one broadcast semi join; no
    * shuffle on the corpus side, no state, no driver collection. */
  private val ing04 = QueryDef(
    "ing04_quarantine_replay",
    (s, dir) => {
      val r1 = graft.streaming.CdcStreaming
        .routeWireRecords(wireFrame(s, dir, 37))
      val admitted = r1.filter(col("ok"))
        .select(col("wire_id"), col("record_id").as("rec_id"), col("op"),
          lit(1).as("attempts"), lit("admitted").as("status"))
      // the quarantine verdict's position is the re-fetch key
      val quarantineIds = r1.filter(!col("ok"))
        .select(col("wire_id").as("record_id"))
      val r2 = graft.streaming.CdcStreaming.routeWireRecords(
        wireFrame(s, dir, 74, Some(quarantineIds)))
      val replay = r2.select(col("wire_id"),
        col("record_id").as("rec_id"), col("op"),
        lit(2).as("attempts"),
        when(col("ok"), lit("replayed")).otherwise(lit("dead"))
          .as("status"))
      admitted.unionByName(replay)
    },
    // 74 = 2·37, so %37≠0 ⇒ %74≠0: one CASE ladder covers the lattice
    Some(s"""${graft.cdc.CdcQueries.changelogSql}
      |SELECT record_id AS wire_id,
      |  CASE WHEN record_id % 74 <> 0 THEN record_id END AS rec_id,
      |  CASE WHEN record_id % 74 <> 0 THEN op END AS op,
      |  CASE WHEN record_id % 37 <> 0 THEN 1 ELSE 2 END AS attempts,
      |  CASE WHEN record_id % 37 <> 0 THEN 'admitted'
      |       WHEN record_id % 74 <> 0 THEN 'replayed'
      |       ELSE 'dead' END AS status
      |FROM changelog WHERE op <> 'HEARTBEAT'""".stripMargin))

  val defs: Seq[QueryDef] = Seq(ing01, ing02, ing03, ing04)
}
