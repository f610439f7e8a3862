package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch diagnostic: measured scaling evidence for the plan-shape
  * claims in SURVEY §5. Synthesizes k× corpora from sf0.1 (replicas
  * get a mutated text tail and jittered embeddings so near-dup /
  * similarity structure stays realistic instead of k² exact copies),
  * writes them as parquet, and times representative operators at each
  * multiplier. A linear-shaped operator should scale ~k; dd05's
  * blocked GEMM is O(n²) by design (exact all-pairs) and is measured
  * at small multipliers to show the expected quadratic growth.
  * Not part of the driver contract.
  */
object ScaleProbe {

  /** Scaled `events` table: replicas shift event ids and user ids so
    * the changelog has k× records over k× keys (realistic growth, not
    * k× duplicates of one history). `ts` passes through in whatever
    * physical shape the source parquet carries — [[Tables.events]]
    * normalizes all of them (ns INT64, µs NTZ, UTC-adjusted). */
  private def scaledEvents(spark: SparkSession, srcDir: String, outDir: String, k: Int): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = Tables.load(spark, srcDir, "events")
    val nEv = ev.count()
    val nUsers = ev.agg(max("user_id")).head().getLong(0) + 1
    val reps = spark.range(k).select(col("id").as("rep"))
    ev.crossJoin(reps)
      .select((col("event_id") + col("rep") * nEv).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * nUsers).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // the static dim rides along unscaled (cdc27's lookup side — the
    // probe scales the FACT stream; a dimension doesn't grow with it)
    Tables.load(spark, srcDir, "customer")
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
  }

  private def scaled(spark: SparkSession, srcDir: String, outDir: String, k: Int): Unit = {
    val docs = Tables.load(spark, srcDir, "documents")
    val embs = Tables.load(spark, srcDir, "embeddings")
    val nDocs = docs.count()
    val nEmbs = embs.count()
    val reps = spark.range(k).select(col("id").as("rep"))
    // replica texts get a distinct tail token so replicas are NEAR
    // duplicates of each other, not byte-identical clones
    docs.crossJoin(reps)
      .select((col("doc_id") + col("rep") * nDocs).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rtoken"), col("rep")))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    // deterministic per-(vec,rep,dim) jitter ~1e-3 keeps cosines close
    // but not identical
    embs.crossJoin(reps)
      .select((col("vec_id") + col("rep") * nEmbs).as("vec_id"),
        expr("""transform(embedding,
          |  (x, i) -> CAST(x + (CASE WHEN rep = 0 THEN 0.0 ELSE
          |    ((pmod(hash(vec_id, rep, i), 13) - 6) * 0.001) END) AS FLOAT))
          |""".stripMargin).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional 2nd arg: comma-separated op filter (dev iteration —
    // probe one family without paying the whole sweep)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    def wanted(op: String): Boolean = only.forall(_.contains(op))
    val spark = GraftSession.fromEnv(appName = "scale-probe")
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.Scratch.root), "graft_scale").toString
    // "linear" = linear in corpus SCAN cost; dd02 and dd09 are
    // output-bound on this fixture (replicas share near-all text, so
    // TRUE pairs grow ~k² — the printed rows(x16/x1) makes the output
    // bound visible and SURVEY §6 interprets the ratios against it)
    val linearOps = Seq("dd01_dedup_exact", "dd02_minhash_lsh", "dd03_simhash",
      "tx05_keyterms", "tx09_unigram_lm", "emb01_int8_quant",
      "emb02_label_centroid", "pk01_seq_pack", "dd07_decontaminate",
      "dd09_passage_overlap", "dd10_temperature_mix", "pk02_chunk_split",
      "tx10_filter_funnel", "emb05_kmeans",
      // dd12: bitmap build + probe both ride the scan (8 KB state);
      // dd13: the position explode is k× rows and the replica fixture
      // makes nearly every position duplicated — time should track the
      // exploded row count, the op's honest linear cost
      "dd12_bloom_dedup", "dd13_exact_substring",
      // round 8: tx12's bigram explode + hash-keyed count joins,
      // pk03's scan-riding bucket table and dd14's df-join weighting
      // are all corpus-linear
      "tx12_bigram_surprise", "pk03_length_bucket", "dd14_soft_dedup",
      // round 10 (VERDICT r9 #4): pk04's two-phase rank is one
      // per-bucket window + a 256-row histogram — linear, no global
      // sort; ing01's streaming path is per-record-flat (stateless
      // Bloom projection + stream-static semi join); tx13/pk05 ride
      // the scan (one codegen'd encoder call per doc)
      "pk04_shard_shuffle", "ing01_stream_ingest_dedup",
      "tx13_subword_tokens", "pk05_subword_pack", "tx14_source_drift",
      // round 11: tx15's trainer is ONE corpus pass + BpeRounds rounds
      // over the collapsed vocab table (grows far slower than the
      // corpus), pk06 adds a narrow chained-replace projection — both
      // should track the scan
      "tx15_bpe_train", "pk06_trained_pack",
      // round 12: dd15's timed cost is the PROBE (the stored base
      // index is built once per dir outside the timed run): delta
      // shingling is batch-fixed, the (band,sig) join streams the base
      // signature table (4 rows/doc — linear with a tiny constant; a
      // bucketed index layout would prune it at 100 TB) and verified
      // candidates grow with true cross-boundary dups
      "dd15_incremental_dedup",
      // dd16 pays dd13's position explode + a dup-mass covered-token
      // explode + one doc-keyed reassembly shuffle; on this replica
      // fixture nearly every position is duplicated, so time should
      // track the exploded row count like dd13's
      "dd16_exact_substr_removal",
      // dd19 (round 15): the LSH completeness audit — truth is the
      // variant-side shingle equi-join (cost ∝ shingle mass × the
      // 1/19 sample), verdicts dd02's banding restricted to variants;
      // on this replica fixture the variants collide with every
      // replica of their source, so output grows ~k× per k× corpus
      "dd19_lsh_audit",
      // ann15's hamming pass is ann01's linear broadcast-probe shape
      // over two longs per vector (queries fixed); rerank touches
      // Depth rows per query — the slope is the code-table scan's
      "ann15_binary_quant",
      // round 12 late additions: emb08 = emb05's training passes + one
      // cluster-keyed window; tx16 = one span-keyed distinct-agg + one
      // doc-keyed reassembly, both riding the scan; pk07 = pk01 + one
      // (shard,bin)-keyed window
      "emb08_proto_prune", "tx16_boilerplate", "pk07_pack_manifest",
      // q38: one map-side-combined 5-key agg + one salted SMJ whose
      // exchange carries (lang, salt) — corpus-linear by construction
      "q38_skew_salted_join",
      // tx17: reference-slice ctf agg + one token-stream hash join +
      // the bounded-histogram integer rank — corpus-linear, no global
      // sort
      "tx17_ppl_buckets",
      // emb09: ann01's broadcast-anchors brute scan with a label
      // predicate — corpus-linear, queries fixed
      "emb09_hard_negatives",
      // tx18: two bounded gram explodes + doc-keyed counts/windows;
      // tx19: one narrow codegen'd regex map riding the scan
      "tx18_gopher_repeat", "tx19_pii_redact",
      // dd17: a narrow string chain + one canonical-keyed window
      "dd17_url_dedup",
      // tx20: one bigram explode + doc-keyed agg + a narrow scoring map
      "tx20_quality_classifier",
      // mm05: two bounded explodes + one (doc,band)-keyed join
      "mm05_av_align",
      // mm06 (round 13): ≤16-row frame explode riding the scan + the
      // df-capped frame-hash vote join (Σdf² bounded, the dd18 shape);
      // replicas share aligned frames, so true pairs grow ~k² —
      // output-bound like dd02/dd09/dd18
      "mm06_clip_dedup",
      // pk08: tx17's corpus-linear scoring + one (phase,shard) window
      "pk08_curriculum_pack",
      // pk09 (round 13): one shard shuffle + the per-shard BFD fold —
      // fold cost is O(docs·bins) per shard; shards are the
      // parallelism unit, linear overall
      "pk09_bestfit_pack",
      // px01 (round 13): the chained curation plan — dedup's hash agg
      // is the one corpus-wide exchange, funnel rides the scan, pack
      // windows per shard; linear end to end
      "px01_curation_pipeline",
      // dd18: the shingle equi-join (output-bound on the replica
      // fixture, like dd02/dd09 — true pairs grow ~k²)
      "dd18_containment",
      // tx21 (round 14): one feature explode + two B-row histograms +
      // a broadcast score join + one per-doc agg — corpus-linear
      "tx21_dsir",
      // mm07 (round 14): bounded ≤16-row frame explode + one lag
      // window sharing the scene agg's partitioning — corpus-linear
      "mm07_scene_cut",
      // px02 (round 14): the day-2 increment pipeline — the probe
      // scales base AND increment together, so time tracks the
      // increment volume (1/3 of docs) plus the base index build
      "px02_incremental_curation")
    // dd05 is exact all-pairs BY DESIGN; emb06 holds K fixed here, so
    // intra-cluster blocks grow k× and pairwise work k² — the probe
    // shows the growth the K ∝ n/B rule (SemDeDup's own) exists to cap
    val quadOps = Seq("dd05_embed_dup", "emb06_semdedup")
    def time(name: String, dir: String): (Double, Long) = {
      def run() = Bench.timed(spark)(SparkEntry.queries(name)(spark, dir))
      run() // warm
      run()
    }
    // optional 3rd arg: comma-separated multipliers (round 8: the
    // 64x/128x runs that pull cheap linear ops out of the per-query
    // overhead floor — at 16x several sat under job overhead, which is
    // consistent with linear but proves nothing)
    val mults: Seq[Int] =
      if (args.length > 2) args(2).split(",").toSeq.map(_.trim.toInt)
      else Seq(1, 4, 16)
    // fixtures build LAZILY per multiplier: with an op filter, corpora
    // no probed op touches are never written (the dominant cost of a
    // filtered run), and the quad loop's x2 builds exactly once
    val built = scala.collection.mutable.Map.empty[Int, String]
    def dirFor(k: Int): String = built.getOrElseUpdate(k, {
      val d = s"$base/x$k"
      scaled(spark, srcDir, d, k)
      d
    })
    for (op <- linearOps if wanted(op)) {
      val ts = mults.map(k => k -> time(op, dirFor(k)))
      val line = ts.map { case (k, (t, rows)) => f"x$k=$t%.2fs/${rows}r" }
        .mkString(" ")
      val r = ts.last._2._1 / ts.head._2._1
      val rr = ts.last._2._2.toDouble / math.max(1L, ts.head._2._2)
      val lbl = s"x${ts.last._1}/x${ts.head._1}"
      println(f"SCALE $op%-22s $line time($lbl)=$r%.1f rows($lbl)=$rr%.1f")
    }
    val quadMults = if (args.length > 2) mults else Seq(1, 2, 4)
    for (op <- quadOps if wanted(op); k <- quadMults) {
      val (t, rows) = time(op, dirFor(k))
      println(f"SCALE $op%-22s x$k=$t%.2fs/${rows}r (quadratic by design)")
    }
    // the ANN ladder at a FIXED query set over a k× corpus: every rung
    // should scale ~linearly in corpus size (brute = full scan, the
    // others by their scan fraction), output constant at 50 rows
    // ann06: the capped init + per-node refinement make build time
    // ~linear in corpus (candidate mass per node is a constant);
    // ann07 adds a constant-work search on top of the member build
    for (op <- Seq("ann01_knn_brute", "ann02_knn_bucket", "ann03_knn_ivf",
        "ann04_knn_ivfpq", "ann05_knn_sq8", "ann06_knn_graph",
        "ann07_graph_search", "ann08_graph_insert", "ann09_graph_delete",
        // round 11: ann10 = the ann08 walk + a Degree²-bounded
        // refinement over the fixed batch — the added work is
        // corpus-independent
        "ann10_insert_refine",
        // round 12: ann11 = ann07's walk + a label post-filter over
        // the walk's constant scanned set — added work constant;
        // ann12 = the walk + an inverted-index lexical leg (token
        // explode + (term) shuffle — corpus-linear) + a per-query
        // fusion window (constant); emb07 = a constant-matrix narrow
        // map + the brute top-5 scan (corpus-linear, queries fixed)
        "ann11_filtered_search", "ann12_hybrid_rrf", "emb07_jl_recall",
        // ann13 = brute MaxSim over the member stream (queries
        // broadcast): corpus-linear with a LiSegs²·LiDim per-pair
        // constant — the scoring-kernel slope PLAID pays post-filter;
        // ann14 = the routed variant: the same kernel on the
        // ~13%-candidate frame the per-segment sign-bucket probe keeps
        "ann13_late_interaction", "ann14_routed_maxsim",
        // ann16 (round 14): the brute radius scan — corpus-linear at
        // fixed queries; output = the true in-radius pair set
        "ann16_range_search")
        if wanted(op)) {
      val ts = mults.map(k => k -> time(op, dirFor(k)))
      val line = ts.map { case (k, (t, rows)) => f"x$k=$t%.2fs/${rows}r" }
        .mkString(" ")
      val r = ts.last._2._1 / ts.head._2._1
      val lbl = s"x${ts.last._1}/x${ts.head._1}"
      println(f"SCALE $op%-22s $line time($lbl)=$r%.1f (queries fixed)")
    }
    // mm03's banded-join candidate volume (VERDICT r4 #2): collided
    // pairs BEFORE the Hamming radius filter — the join's true work.
    // Replicas share their first 64 bytes (the tail mutation sits past
    // the fingerprint window), so genuine near-dup groups grow k² —
    // candidate growth should track that output bound, not an
    // n²/buckets structural floor
    for (k <- mults if wanted("mm03_phash_dedup")) {
      val cands = graft.pipelines.Multimodal.Phash.collided(spark, dirFor(k)).count()
      val (t, out) = time("mm03_phash_dedup", dirFor(k))
      println(f"SCALE mm03 candidates      x$k=$t%.2fs cand=${cands} out=${out}")
    }
    // the SINK write path: cdc10 pushes k× changelog records over k×
    // keys through applyBatch (delta appends + mid-run folds) and the
    // chain-merge read — write I/O should scale with the BATCH
    val evBuilt = scala.collection.mutable.Map.empty[Int, String]
    def evDirFor(k: Int): String = evBuilt.getOrElseUpdate(k, {
      val d = s"$base/ev$k"
      scaledEvents(spark, srcDir, d, k)
      d
    })
    for (op <- Seq("cdc10_sink_materialize", "cdc16_sink_time_travel",
        // round 11: the diff read folds only CHANGED buckets — with
        // k× keys every bucket is touched, so time tracks the folded
        // volume (the pruning win shows on tables with quiet buckets,
        // pinned by SinkSpec, not by this volume sweep)
        "cdc17_sink_diff",
        // round 12: cdc19 is two per-pk windows over the changelog
        // (linear); cdc20's incremental path re-derives state0 from
        // the changelog in this harness (a deployment reads the
        // stored base aggregate), so the sweep measures the window +
        // delta algebra — linear in changelog, with the O(delta)
        // claim carried by the plan shape, not this fixture;
        // cdc21 is two keyed windows (txn commit + pk last-wins);
        // ing02 is a narrow encode→corrupt→route map riding the scan
        "cdc19_scd2_history", "cdc20_ivm_delta", "cdc21_txn_apply",
        "ing02_quarantine_route",
        // ing04 = ing02's narrow codec map twice + one broadcast semi
        // join re-fetching the 1/37 quarantine subset — rides the scan
        "ing04_quarantine_replay",
        // cdc22 = the cdc10 write path + one full-rewrite compaction
        // job (input = live chains, output = k× keys once each);
        // cdc23 = the same write path + one changed-bucket-pruned
        // diff per version pair (feed cost ∝ Σ deltas, not versions×table)
        "cdc22_sink_compact", "cdc23_change_feed",
        // ing03 = one batch filter + the streamed tail's stateless
        // position admission — both ride the changelog scan; output
        // rows are the full data-record set, so rows grow k×
        "ing03_backfill_seam",
        // cdc25 = the cdc16/cdc17 write path + two manifest-pruned
        // chain merges with a per-row typed projection — the
        // evolution itself costs nothing at write time
        "cdc25_evolved_snapshots")
         if wanted(op); k <- mults) {
      val ts = time(op, evDirFor(k))
      println(f"SCALE sink($op) x$k=${ts._1}%.2fs/${ts._2}r")
    }
    // the STREAMING topologies (round 8): k× changelog records over k×
    // keys through the DSv2 write + micro-batched retract machinery —
    // per-record state work is O(1), so time should scale with the
    // record volume plus the fixed per-micro-batch floor
    for (op <- Seq("cdc11_stream_retract_agg", "cdc12_stream_windowed_live",
        "cdc13_stream_sessions", "cdc14_stream_interval_join",
        "cdc15_stream_redelivery",
        // round 11: the full source→stream→sink-table topology —
        // per-record sink work is O(batch), so time tracks volume
        // plus the fixed per-micro-batch floor
        "cdc18_stream_to_sink",
        // round 12: the changelog scan through the append-mode window
        // + the stateless side-output filter; streaming state bounded
        // by open windows × values, so time tracks volume plus the
        // per-micro-batch floor
        "cdc24_late_side_output",
        // cdc26: cdc14's join-state machinery under leftOuter — state
        // bounded by watermark + tolerance, output = INSERT-side rows
        "cdc26_outer_interval_join",
        // cdc27: stateless stream-static broadcast enrichment — rides
        // the record volume plus the per-micro-batch floor
        "cdc27_lookup_join",
        // cdc28 (round 13): the tumble window join — state bounded by
        // open windows × keys inside the watermark horizon; output =
        // per-window insert×update pair mass (grows with key density
        // per window, k× keys ⇒ ~k× pairs on this fixture)
        "cdc28_window_join",
        // q39 (events-based, so it sweeps on this fixture): constant
        // ≤4-row explode riding the scan + one map-side-combined agg
        // over 120 window keys
        "q39_window_cumulate",
        // q40 (round 13, events-based): the MATCH_RECOGNIZE pattern
        // scan — one user_id exchange carries every window, the run
        // aggregation and the lead-based run adjacency; k× keys ⇒ k×
        // rows and ~k× matches, linear by construction
        "q40_match_recognize",
        // cdc29 (round 14): cdc21's apply machinery + the rollback
        // flag — batch windows over the wire read, scales with the
        // changelog volume
        "cdc29_txn_rollback",
        // cdc31 (round 14): the fetch-session completeness audit —
        // markers are O(sessions) = records/50, the audit one
        // map-side-combined aggregate riding the decoded scan
        "cdc31_protocol_markers",
        // cdc32 (round 14): streaming top-N — aggregate state =
        // windows × keys in the horizon, the per-trigger re-rank
        // touches each window's ≤ keys rows
        "cdc32_stream_topn",
        // cdc33 (round 15): the real-Avro wire round trip riding the
        // changelog scan — per-record encode+decode, no state, linear
        "cdc33_avro_wire",
        // cdc34 (round 15): update-mode top-N — aggregate state =
        // windows × keys, rank store = 3 × windows; per-trigger work
        // = delta rows + the CHANGED windows' top-3 only
        "cdc34_stream_topn_update",
        // cdc35 (round 15): idleness topology — append windows whose
        // state is open windows × tables; heartbeats advance the
        // watermark, so state FALLS as windows finalize (cdc24's curve)
        "cdc35_idle_partition",
        // cdc36 (round 15): the composed subscription path. The
        // kafka-protocol SHIM keeps its log in driver heap (an in-JVM
        // test double, not a transport), so large multipliers also
        // price the double's registry — the loop itself runs cdc36 at
        // whatever mults the CLI gives (restrict via the 'only'/mults
        // arguments when that matters); round 16 swept it to 64× with
        // state peaks (SURVEY §6), the cdc24/cdc26 treatment
        "cdc36_avro_subscription",
        // cdc37 (round 16): wire-derived typing — cdc33's stateless
        // encode+decode shape plus one O(1) schema fetch; linear
        "cdc37_wire_typed",
        // cdc38 (round 16): the failover-reseek composition — wire
        // volume ×(1 + overlap fraction) through the dedup (state =
        // ids in the watermark horizon) + the keyed count aggregate
        "cdc38_cluster_switch",
        // cdc39 (round 16): DDL evolution × wire typing — cdc37's
        // stateless shape + two O(1) schema fetches and one DDL row
        "cdc39_ddl_evolved_typing",
        // cdc40 (round 16): transport-metadata carry — the stateless
        // decode with four (six since round 17) constant-width
        // columns appended; linear
        "cdc40_wire_metadata",
        // cdc41 (round 17): pk-less uk-keyed materialize — the
        // stateless wire encode+decode plus ONE key-partitioned
        // window (the upsert shuffle); linear in the changelog
        "cdc41_ukonly_materialize",
        // cdc42 (round 17): the SQL metadata-column table — cdc40's
        // stateless decode behind the session catalog; the sim
        // registry is driver-heap like cdc36 (same caveat)
        "cdc42_sql_metadata",
        // cdc43 (round 17): the typed-changelog DDL table — cdc42's
        // decode plus the declared-type TRY-cast projection and the
        // ≤2-row UPDATE fan-out; linear, no shuffle
        "cdc43_sql_typed_changelog")
         if wanted(op); k <- mults) {
      graft.StreamStats.reset()
      val ts = time(op, evDirFor(k))
      // peak state-store rows across the op's streaming queries
      // (0 for batch-shaped ops): the number behind the "state is
      // watermark-bounded" claims in §6 — VERDICT r13 #6 asks for a
      // measured state curve at 64×, not an asserted bound
      println(f"SCALE $op%-22s x$k=${ts._1}%.2fs/${ts._2}r " +
        f"state=${graft.StreamStats.peakStateRows}")
    }
    spark.stop()
  }
}
