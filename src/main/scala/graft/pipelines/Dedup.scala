package graft.pipelines

import graft.{QueryDef, Tables}
import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.3 deduplication family for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine. Every
  * variant is banded/bucketed hash joins — candidate generation never
  * goes quadratic in corpus size (SURVEY §5); the only O(n²) op is the
  * small-bounded embedding near-dup baseline, whose scale path is
  * [[Similarity]]'s bucketed ANN.
  */
object Dedup {

  /** LSH band count and shingle size — THE single definition (ADVICE
    * r9: [[graft.streaming.IngestDedup]] mirrors these so a streamed
    * doc and its batch twin hash identically; it now references them
    * directly instead of repeating the literals by convention). */
  private[graft] val Bands = 4
  private[graft] val ShingleK = 3

  /** 60-bit shingle hash (first 15 hex digits of md5 as a BIGINT) —
    * the shared [[graft.OracleSafe.hash60]] twins, aliased to the
    * historical local names. Long-valued MinHash keeps every
    * aggregate fixed-width (HashAggregate, never the SortAggregate
    * fallback that string mins force) and every join key 8 bytes. */
  private def hash64(e: String): String = graft.OracleSafe.hash60(e)
  private def hash64Sql(e: String): String = graft.OracleSafe.hash60Sql(e)

  /** Per-doc shingle state WITHOUT exploding: per-band MinHash
    * signatures and the distinct 64-bit shingle-hash set, via ONE
    * native call per row ([[graft.functions.MinHashSigs]] /
    * [[graft.functions.ShingleHashSet]]). Everything rides the scan —
    * at 100 TB nothing row-multiplies before a shuffle (SURVEY §5) —
    * and nothing depends on lambda-interpretation JIT luck (the
    * declarative transform(...) form swung 4s..49s per run). */
  /** Per-doc shingle state over any (doc_id, ws) frame — factored out
    * (round 15) so dd19's injected-variant corpus rides the exact
    * machinery the organic corpus does. */
  private def shingleStateOf(w: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val sigCols = (0 until Bands).map(b =>
      element_at(col("sigs"), b + 1).as(s"sig$b"))
    w.withColumn("sigs",
        column(graft.functions.MinHashSigs(expression(col("ws")), ShingleK, Bands)))
      .withColumn("hset",
        column(graft.functions.ShingleHashSet(expression(col("ws")), ShingleK)))
      .select(Seq(col("doc_id"), col("hset")) ++ sigCols: _*)
  }

  private def docShingleState(s: org.apache.spark.sql.SparkSession, dir: String) =
    shingleStateOf(TextShingles.words(s, dir))

  /** (doc_id, b, sig) unpivoted signatures; docs with no shingles have
    * null sigs, which never join. */
  private def signatures(docState: org.apache.spark.sql.DataFrame) =
    docState
      .select(col("doc_id"), expr(
        s"stack($Bands, ${(0 until Bands).map(b => s"$b, sig$b").mkString(", ")})"))
      .withColumnRenamed("col0", "b").withColumnRenamed("col1", "sig")
      .filter(col("sig").isNotNull)

  /** DuckDB twin of [[signatures]] as a WITH-clause body (expects `sh`). */
  private[pipelines] def signaturesSql: String =
    s"""sig AS (
       |  SELECT doc_id, b,
       |    MIN(${hash64Sql("CAST(b AS VARCHAR) || '|' || sg")}) AS sig
       |  FROM sh CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${Bands - 1})) AS b) bands
       |  GROUP BY doc_id, b)""".stripMargin

  // -------------------------------------------------------------- dd01
  /** Exact dedup: content-hash groupBy, min doc_id survives. */
  private val dd01 = QueryDef(
    "dd01_dedup_exact",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(
          min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_copies"),
          sum(col("n_chars")).as("bytes_total")),
    Some("""SELECT md5(text) AS h, MIN(doc_id) AS keeper,
      | COUNT(*) AS n_copies, CAST(SUM(n_chars) AS BIGINT) AS bytes_total
      |FROM documents GROUP BY md5(text)""".stripMargin))

  // -------------------------------------------------------------- dd02
  /** MinHash+LSH candidate pairs: 3-word shingles, per-band min-hash
    * signature (min over md5 of salted shingle — a hash-order min is a
    * one-permutation MinHash), pairs bucket-join on (band, sig).
    */
  private val dd02 = QueryDef(
    "dd02_minhash_lsh",
    (s, dir) => {
      // persist the NARROW (doc_id, b, sig) frame — hset prunes out of
      // this branch — so the self-join's two consumers share one scan
      // + MinHashSigs pass instead of recomputing per side (see
      // jaccardPairs for the measured recompute + why exchange reuse
      // can't save a broadcast side); the pair result is checkpointed
      // so the cache is dropped before returning
      val sig = signatures(docShingleState(s, dir)).persist()
      val out = sig.as("s1").join(sig.as("s2"),
          col("s1.b") === col("s2.b") && col("s1.sig") === col("s2.sig") &&
          col("s1.doc_id") < col("s2.doc_id"))
        .select(col("s1.doc_id").as("d1"), col("s2.doc_id").as("d2"))
        .distinct()
        .localCheckpoint(true)
      sig.unpersist(blocking = false)
      out
    },
    Some(s"""WITH ${TextShingles.shinglesSql(3)},
      |$signaturesSql
      |SELECT DISTINCT s1.doc_id AS d1, s2.doc_id AS d2
      |FROM sig s1 JOIN sig s2
      |  ON s1.b = s2.b AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id
      |""".stripMargin))

  // -------------------------------------------------------------- dd03
  /** SimHash: 32-bit fingerprint from per-token hashes; 8-bit bands
    * for hamming-neighborhood bucketing. ONE native call per doc
    * ([[graft.functions.SimHash32]]) — round 1 exploded (doc, token)
    * rows and ran a 32-conditional-sum groupBy, a row-multiplication
    * + shuffle this narrow form eliminates entirely (SURVEY §5:
    * nothing row-multiplies before a shuffle; at 100 TB the shuffle
    * was the operator). */
  private val dd03 = {
    val bitSums = (0 until 32).map(j =>
      s"SUM(CASE WHEN ((v >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val fp = (0 until 32).map(j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    QueryDef(
      "dd03_simhash",
      (s, dir) => {
        import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
        TextShingles.words(s, dir)
          .withColumn("sh",
            column(graft.functions.SimHash32(expression(col("ws")))))
          .select(col("doc_id"),
            element_at(col("sh"), 1).as("n_tokens"),
            element_at(col("sh"), 2).as("simhash"))
          .filter(col("n_tokens") > 0) // token-less docs match the
          // oracle's empty unnest (no row)
          .select(col("doc_id"), col("n_tokens"), col("simhash"),
            expr("(simhash >> 24) & 255").as("band3"),
            expr("(simhash >> 16) & 255").as("band2"),
            expr("(simhash >> 8) & 255").as("band1"),
            expr("simhash & 255").as("band0"))
      },
      Some(s"""WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(t.w), 1, 8) AS BIGINT) AS v
        |  FROM w CROSS JOIN LATERAL (SELECT unnest(ws) AS w) t),
        |sums AS (SELECT doc_id, COUNT(*) AS n_tokens, $bitSums
        |  FROM tok GROUP BY doc_id),
        |fp AS (SELECT doc_id, n_tokens, $fp AS simhash FROM sums)
        |SELECT doc_id, n_tokens, simhash,
        | (simhash >> 24) & 255 AS band3, (simhash >> 16) & 255 AS band2,
        | (simhash >> 8) & 255 AS band1, simhash & 255 AS band0
        |FROM fp""".stripMargin))
  }

  // -------------------------------------------------------------- dd04
  /** Verified near-dup pairs: exact Jaccard |A∩B|/|A∪B| on distinct
    * 3-shingle sets, only for pairs the bands surfaced
    * (candidate-bounded — never all-pairs). Shared by dd04 and dd06.
    *
    * The shingle state is computed in ONE corpus pass and persisted:
    * the plan consumes it three times (both sides of the signature
    * self-join + the per-pair hash-set lookups), and without the cache
    * Spark re-runs the scan + MinHashSigs/ShingleHashSet under every
    * consumer — measured 4 corpus passes, each native hash twice, and
    * exchange reuse does NOT kick in (broadcast sides canonicalize
    * apart from streamed sides). Spark's own MinHashLSH caches the
    * transformed dataset before approxSimilarityJoin for the same
    * reason. The small verified-pair result is materialized eagerly
    * (localCheckpoint) so the corpus-sized cache can be dropped before
    * returning — at 100 TB the cache spills MEMORY_AND_DISK and one
    * materialization replaces four scan+hash passes. */
  private[pipelines] def jaccardPairs(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val st = docShingleState(s, dir).persist()
    val sig = signatures(st)
    val cand = sig.as("s1").join(sig.as("s2"),
        col("s1.b") === col("s2.b") && col("s1.sig") === col("s2.sig") &&
        col("s1.doc_id") < col("s2.doc_id"))
      .select(col("s1.doc_id").as("d1"), col("s2.doc_id").as("d2"))
      .distinct()
    // per-pair set intersection on the doc-level hash arrays — the
    // candidate list is band-bounded, so this is |cand| array ops,
    // not a shuffle of every (doc, shingle) row
    val sets = st.select(col("doc_id"), col("hset"))
    val out = cand
      .join(sets.as("a"), col("d1") === col("a.doc_id"))
      .join(sets.as("b"), col("d2") === col("b.doc_id"))
      .select(col("d1"), col("d2"),
        expr("size(array_intersect(a.hset, b.hset))").cast("long").as("n_inter"),
        expr("size(a.hset)").cast("long").as("n_a"),
        expr("size(b.hset)").cast("long").as("n_b"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= 0.2)
      .localCheckpoint(true)
    st.unpersist(blocking = false)
    out
  }

  /** DuckDB twin of [[jaccardPairs]] as a WITH-clause chain ending in
    * CTE `pairs` (d1, d2, n_inter, n_a, n_b, jaccard). */
  private def jaccardPairsSqlCtes: String =
    s"""${TextShingles.shinglesSql(3)},
       |shd AS (SELECT DISTINCT doc_id, ${hash64Sql("sg")} AS h FROM sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
       |$signaturesSql,
       |cand AS (SELECT DISTINCT s1.doc_id AS d1, s2.doc_id AS d2
       |  FROM sig s1 JOIN sig s2
       |    ON s1.b = s2.b AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id),
       |inter AS (SELECT c.d1, c.d2, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN shd a ON c.d1 = a.doc_id
       |  JOIN shd b ON c.d2 = b.doc_id AND a.h = b.h
       |  GROUP BY c.d1, c.d2),
       |pairs AS (
       |  SELECT i.d1, i.d2, i.n_inter, za.n AS n_a, zb.n AS n_b,
       |    CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jaccard
       |  FROM inter i
       |  JOIN sizes za ON i.d1 = za.doc_id
       |  JOIN sizes zb ON i.d2 = zb.doc_id
       |  WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) >= 0.2)""".stripMargin

  private val dd04 = QueryDef(
    "dd04_ngram_jaccard",
    (s, dir) => jaccardPairs(s, dir),
    Some(s"""WITH $jaccardPairsSqlCtes
      |SELECT d1, d2, n_inter, n_a, n_b, jaccard FROM pairs
      |""".stripMargin))

  // -------------------------------------------------------------- dd06
  /** Near-dup CLUSTERING: connected components over the verified pair
    * graph, the step a real training pipeline runs after pairwise
    * dedup — "keep one document per duplicate cluster". Implemented as
    * iterative min-label propagation: each round is one shuffle join +
    * min-agg, labels persisted per round so lineage stays flat, loop
    * ends at fixed point (iterations = component diameter; near-dup
    * blobs are shallow). This is the standard distributed CC recipe —
    * at 100 TB each round is an ordinary keyed join the cluster
    * absorbs, no driver state beyond the converged flag.
    *
    * Output: every document with its cluster id (min doc_id in its
    * component) and whether it is the cluster's keeper. Oracle:
    * DuckDB recursive transitive closure over the same pair CTEs.
    */
  /** Min-label propagation to the fixed point: `nodes(doc_id)` +
    * undirected `pairs(d1, d2)` → (doc_id, cluster, is_keeper).
    * Exposed so specs can drive it with multi-hop chain graphs — the
    * corpus' own near-dup components are cliques, which converge in
    * one round and would leave the propagation logic untested. */
  private[graft] def connectedComponents(
      nodes: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      maxIter: Int = 20): org.apache.spark.sql.DataFrame = {
    // Materialize the edge list ONCE: `pairs` is typically the whole
    // verification pipeline (shingles → signatures → candidate join →
    // Jaccard), and every propagation round references edges twice
    // (next-label join + convergence count). Unpersisted, round 2's
    // bench re-ran that pipeline every round — 7.9 s of a 26.7 s bench
    // for a 3-round loop. At 100 TB the same persist is the difference
    // between one pass over the corpus and diameter× passes.
    val edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .unionAll(pairs.select(col("d2").as("a"), col("d1").as("b")))
      .persist()
    // eager localCheckpoint (not just persist): each round references
    // the previous labels TWICE (neighbor join + own-label branch), so an
    // unbroken lineage doubles per round — 3 rounds planned as a
    // 210-exchange tree even though execution hit the cache. The
    // checkpoint truncates the plan to the materialized data, keeping
    // per-round planning O(1). On a real cluster swap in a reliable
    // checkpoint dir (localCheckpoint trades fault-tolerance for
    // speed) — the algorithm is unchanged.
    // localCheckpoint blocks are PINNED (eviction would break
    // recompute, so the unified memory manager can't reclaim them) and
    // are only freed when the ContextCleaner notices the RDD got GC'd.
    // Left to GC timing, a 20-round loop can hold 20 label snapshots in
    // storage memory and starve every LATER query's execution memory —
    // the ADVICE-r3 leak. Free each superseded snapshot explicitly the
    // moment its convergence count is done: the checkpointed RDD sits
    // under the Dataset's LogicalRDD leaf.
    def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    // `pinned` is always the LogicalRDD-rooted frame freeCheckpoint
    // can unpin; `labels` may be a projection over it (a Project root
    // would make freeCheckpoint silently no-op — the r3 leak shape)
    var pinned = nodes.select(col("doc_id"), col("doc_id").as("cluster"))
      .localCheckpoint(true)
    var labels = pinned
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val viaNeighbor = edges.join(labels, col("b") === col("doc_id"))
        .select(col("a").as("doc_id"), col("cluster"),
          lit(null).cast("long").as("old"))
      // convergence rides the SAME aggregation: the own-label branch
      // carries its cluster in `old` (exactly one such row per doc, so
      // min(old) = the previous label), and `changed` is then a plain
      // filter+count over the already-materialized checkpoint — the
      // old form re-joined next against labels every round, one extra
      // corpus-sized shuffle join per round at scale
      val own = labels
        .select(col("doc_id"), col("cluster"), col("cluster").as("old"))
      val next = own.unionAll(viaNeighbor)
        .groupBy("doc_id")
        .agg(min("cluster").as("cluster"), min("old").as("old"))
        .localCheckpoint(true)
      changed = next.filter(col("cluster") =!= col("old")).count()
      freeCheckpoint(pinned) // superseded: nothing reads it again
      pinned = next
      labels = next.select(col("doc_id"), col("cluster"))
      iter += 1
    }
    edges.unpersist()
    labels.withColumn("is_keeper", col("doc_id") === col("cluster"))
  }

  private val dd06 = QueryDef(
    "dd06_dup_clusters",
    (s, dir) => connectedComponents(
      Tables.load(s, dir, "documents").select(col("doc_id")),
      jaccardPairs(s, dir).select(col("d1"), col("d2"))),
    Some(s"""WITH RECURSIVE $jaccardPairsSqlCtes,
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
      |  UNION ALL SELECT d2, d1 FROM pairs),
      |reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      |SELECT a AS doc_id, MIN(b) AS cluster, MIN(b) = a AS is_keeper
      |FROM reach GROUP BY a
      |""".stripMargin))

  // -------------------------------------------------------------- dd05
  /** Embedding-cosine near-dup pairs (threshold 0.4), exact — a
    * distributed blocked GEMM ([[EmbedDup]]): one shuffle replicating
    * rows to block-pair tasks, tight monomorphic primitive loops, no
    * BNLJ and no ArrayData dispatch in the hot path. See EmbedDup's
    * scaladoc for why LSH candidates cannot hold recall=1 at this
    * threshold on this corpus. Fold-order-identical math => exact
    * double equality with the oracle. */
  private val dd05 = QueryDef(
    "dd05_embed_dup",
    (s, dir) => EmbedDup.pairs(s, dir),
    Some(s"""WITH e AS (SELECT vec_id,
      |  ${VectorOps.castSql("embedding")} AS v FROM embeddings),
      |n AS (SELECT vec_id, v, ${VectorOps.dotSql("v", "v")} AS nn FROM e)
      |SELECT a.vec_id AS v1, b.vec_id AS v2,
      |  ${VectorOps.cosineSql("a.v", "b.v", "a.nn", "b.nn")} AS cos
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE ${VectorOps.cosineSql("a.v", "b.v", "a.nn", "b.nn")} >= 0.4
      |""".stripMargin))

  // -------------------------------------------------------------- dd07
  /** Benchmark DECONTAMINATION: flag corpus documents sharing ≥3
    * distinct word-shingles with a benchmark/eval set (docs with
    * doc_id % 50 == 0 stand in for the benchmark) — the step a
    * training pipeline runs so eval data never leaks into training.
    * Shape: the benchmark's distinct shingle-hash set is collected
    * into ONE broadcast array (a benchmark suite is MBs even when the
    * corpus is 100 TB), and every corpus doc scores itself with a
    * single `array_intersect` against it — one narrow pass, zero
    * shuffles, nothing row-multiplies (SURVEY §5). */
  private val dd07 = QueryDef(
    "dd07_decontaminate",
    (s, dir) => {
      val st = docShingleState(s, dir).select(col("doc_id"), col("hset"))
      val bench = st.filter(col("doc_id") % 50 === 0)
        .select(explode(col("hset")).as("h")).distinct()
        .agg(sort_array(collect_list(col("h"))).as("bh"))
      st.crossJoin(broadcast(bench))
        .select(col("doc_id"),
          coalesce(size(col("hset")), lit(0)).cast("long").as("n_shingles"),
          coalesce(size(array_intersect(col("hset"), col("bh"))), lit(0))
            .cast("long").as("n_overlap"),
          (col("doc_id") % 50 === 0).as("is_benchmark"))
        .withColumn("contaminated",
          !col("is_benchmark") && col("n_overlap") >= 3)
    },
    Some(s"""WITH ${TextShingles.shinglesSql(3)},
      |shd AS (SELECT DISTINCT doc_id, ${hash64Sql("sg")} AS h FROM sh),
      |bh AS (SELECT DISTINCT h FROM shd WHERE doc_id % 50 = 0),
      |ov AS (SELECT s.doc_id, COUNT(*) AS n_overlap
      |  FROM shd s JOIN bh ON s.h = bh.h GROUP BY s.doc_id),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(z.n, 0) AS n_shingles,
      |  COALESCE(o.n_overlap, 0) AS n_overlap,
      |  d.doc_id % 50 = 0 AS is_benchmark,
      |  (d.doc_id % 50 <> 0 AND COALESCE(o.n_overlap, 0) >= 3) AS contaminated
      |FROM documents d
      |LEFT JOIN sizes z ON d.doc_id = z.doc_id
      |LEFT JOIN ov o ON d.doc_id = o.doc_id
      |""".stripMargin))

  // -------------------------------------------------------------- dd08
  /** Corpus MIXING / stratified downsampling: keep a fixed quota per
    * (lang, source) stratum, selection DETERMINISTIC by a salted md5
    * of the doc id — the "sample 20 docs per source per language"
    * step a training mix runs, reproducible across runs and engines
    * (no RNG state; md5 hex is identical everywhere). Executes on the
    * custom [[graft.plans.TopKPerGroup]] operator: bounded heap per
    * stratum with a map-side partial, so the 100 TB corpus shuffles
    * at most strata×quota rows per partition — never a full sort and
    * never the table (the exact shape Spark's row_number-over-window
    * plan would sort-and-spill on). */
  private val SampleQuota = 20
  private val dd08 = QueryDef(
    "dd08_sample_stratified",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("pick",
          md5(concat(col("doc_id").cast("string"), lit(":mix"))
            .cast("binary")))
      graft.plans.TopKPerGroup(docs,
        Seq(col("lang"), col("source")),
        Seq(col("pick").asc, col("doc_id").asc), SampleQuota)
        .select(col("doc_id"), col("lang"), col("source"), col("pick"))
    },
    Some(s"""SELECT doc_id, lang, source, pick FROM (
      |  SELECT doc_id, lang, source,
      |    md5(CAST(doc_id AS VARCHAR) || ':mix') AS pick,
      |    ROW_NUMBER() OVER (PARTITION BY lang, source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':mix') ASC,
      |        doc_id ASC) AS rn
      |  FROM documents)
      |WHERE rn <= $SampleQuota
      |""".stripMargin))

  // -------------------------------------------------------------- dd09
  /** Verbatim PASSAGE overlap — the ExactSubstr dedup signal ("these
    * two documents contain the same word-for-word run"), found via
    * robust winnowing (the public fingerprinting recipe: Schleimer/
    * Wilkerson/Aiken, SIGMOD'03). Per doc, ONE native call
    * ([[graft.functions.WinnowFingerprints]]) hashes every k-shingle
    * (the family's shared hash64 contract, so the oracle is bit-exact)
    * and keeps the distinct minima of each w-window of consecutive
    * shingle hashes via an O(n) monotonic deque. Any shared verbatim
    * run of >= w+k-1 tokens contains one complete window in both docs,
    * whose minimum both select — so the fingerprint equi-join is
    * COMPLETE for that passage length (PipelineSpec proves it on
    * crafted docs). Selected density is ~2/w of the shingles, so the
    * exploded join key is a bounded fraction of the corpus (the dd02
    * band shape, never all shingles); verification intersects the two
    * candidate docs' full shingle-hash sets only for collided pairs
    * (the dd04 shape). 100 TB: one narrow pass + one bounded-key join
    * + candidate-bounded verify. */
  private val PassageK = 5 // tokens per shingle
  private val PassageW = 4 // shingle hashes per winnowing window
  /** Boilerplate guard: a fingerprint present in more than this many
    * documents is shared template text (headers, licenses, nav chrome),
    * not a meaningful passage — and at web scale its bucket would make
    * the candidate self-join quadratic on one hot key. Far above any
    * genuine near-dup group in the corpus, so results here are
    * unaffected; at 10⁹ docs it is the difference between a bounded
    * join and a skew wall. */
  private val PassageMaxDf = 1000
  /** (d1, d2, n_shared_fp, n_shared_sh) for every pair sharing >= 1
    * winnowed fingerprint. `docs` needs (doc_id, text) — factored out
    * so PipelineSpec can drive the guarantee on constructed rows. */
  private[graft] def passagePairs(
      docs: org.apache.spark.sql.DataFrame,
      k: Int = PassageK, w: Int = PassageW,
      maxDf: Int = PassageMaxDf): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val st = docs
      .select(col("doc_id"),
        expr("filter(split(text, '\\\\s+'), x -> x <> '')").as("ws"))
      .withColumn("fps", column(
        graft.functions.WinnowFingerprints(expression(col("ws")), k, w)))
      .withColumn("hset", column(
        graft.functions.ShingleHashSet(expression(col("ws")), k)))
      .select(col("doc_id"), col("fps"), col("hset"))
    val f = st.select(col("doc_id"), explode(col("fps")).as("fp"))
    // fps are per-doc distinct, so count(*) per fp IS document
    // frequency; the hot list is tiny by definition (few fingerprints
    // exceed the cap), so dropping it is a broadcast anti-join and the
    // frequency count rides a map-side-combinable aggregate
    val hot = f.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("fp")
    val fk = f.join(broadcast(hot), Seq("fp"), "left_anti")
    val cand = fk.select(col("doc_id").as("d1"), col("fp"))
      .join(fk.select(col("doc_id").as("d2"), col("fp")), "fp")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).cast("long").as("n_shared_fp"))
    // exact verify on candidates only: true shared-shingle count
    cand
      .join(st.select(col("doc_id").as("d1"), col("hset").as("h1")), "d1")
      .join(st.select(col("doc_id").as("d2"), col("hset").as("h2")), "d2")
      .select(col("d1"), col("d2"), col("n_shared_fp"),
        expr("CAST(size(array_intersect(h1, h2)) AS BIGINT)")
          .as("n_shared_sh"))
  }

  private val dd09 = {
    val k = PassageK
    val w = PassageW
    val sgSql = (0 until k).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
    QueryDef(
      "dd09_passage_overlap",
      (s, dir) => passagePairs(Tables.load(s, dir, "documents")),
      // winnowing in SQL: positional shingle hashes, then a sliding
      // ROWS frame MIN per window start. Window starts are
      // i <= nsh-w+1; for 0 < nsh < w only i=1 survives and its
      // truncated frame covers the whole doc — the same short-doc
      // fallback the native expression applies.
      Some(s"""WITH wd AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id, i,
        |    ${hash64Sql(s"$sgSql")} AS h,
        |    len(ws) - ${k - 1} AS nsh
        |  FROM wd CROSS JOIN LATERAL
        |    (SELECT unnest(generate_series(1, len(ws) - ${k - 1})) AS i) t),
        |wm AS (SELECT doc_id, i, nsh,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp
        |  FROM sh),
        |f AS (SELECT DISTINCT doc_id, fp FROM wm
        |  WHERE i <= GREATEST(nsh - ${w - 1}, 1)),
        |hot AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) > $PassageMaxDf),
        |fk AS (SELECT doc_id, fp FROM f ANTI JOIN hot USING (fp)),
        |shd AS (SELECT DISTINCT doc_id, h FROM sh),
        |cand AS (SELECT l.doc_id AS d1, r.doc_id AS d2,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared_fp
        |  FROM fk l JOIN fk r ON l.fp = r.fp AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |inter AS (SELECT c.d1, c.d2, c.n_shared_fp,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared_sh
        |  FROM cand c
        |  JOIN shd a ON c.d1 = a.doc_id
        |  JOIN shd b ON c.d2 = b.doc_id AND a.h = b.h
        |  GROUP BY 1, 2, 3)
        |SELECT d1, d2, n_shared_fp, n_shared_sh FROM inter
        |""".stripMargin))
  }

  // -------------------------------------------------------------- dd10
  /** Temperature-based corpus MIXING (the multilingual up-sampling
    * recipe: sample language l with probability proportional to
    * p_l^alpha, alpha=0.5 — flattens the head so low-resource
    * languages are over-represented relative to corpus share). All
    * quota arithmetic is EXACT INTEGER math so both engines agree
    * bit-for-bit: weight = floor(sqrt(n_docs)) (correctly-rounded
    * double sqrt of a < 2^40 count floors identically everywhere),
    * base quota = Budget*w div SumW, largest-remainder allocation of
    * the flooring leftover (tie: lang asc), then quotas CAP at the
    * language's capacity and ONE spillover round redistributes the
    * capped surplus among languages with headroom (same integer
    * largest-remainder machinery) — a language with fewer docs than
    * its share no longer silently shrinks the sample; the budget
    * fills whenever total capacity allows. (A spillover that itself
    * overshoots remaining headroom is re-capped; the residual
    * shortfall — only possible under cascaded caps — is visible as
    * sum(quota) < budget beside the emitted n_docs column.)
    * Selection within a language is the dd08 salted-md5 deterministic
    * order on the bounded-heap [[graft.plans.TopKPerGroup]] operator —
    * at 100 TB, langs x Budget rows shuffle, never the corpus; the
    * quota table is #langs rows (driver-bounded, broadcast); the
    * final row_number window runs over the picked langs x Budget rows
    * only. */
  private val MixBudget = 100
  private val dd10 = QueryDef(
    "dd10_temperature_mix",
    (s, dir) => temperatureMix(Tables.load(s, dir, "documents")),
    Some(s"""WITH d AS (SELECT doc_id, lang,
      |    md5(CAST(doc_id AS VARCHAR) || ':tmix') AS pick FROM documents
      |    WHERE lang IS NOT NULL),
      |w AS (SELECT lang, COUNT(*) AS n_docs,
      |    CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS isq FROM d GROUP BY 1),
      |t AS (SELECT SUM(isq) AS tot FROM w),
      |q0 AS (SELECT lang, n_docs, isq,
      |    ($MixBudget * isq) // tot AS q_base,
      |    ($MixBudget * isq) % tot AS rem FROM w, t),
      |l AS (SELECT $MixBudget - SUM(q_base) AS leftover FROM q0),
      |qa AS (SELECT lang, n_docs, isq, q_base, rem,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rr FROM q0),
      |ca AS (SELECT lang, n_docs, isq,
      |    LEAST(q_base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END, n_docs)
      |      AS c FROM qa, l),
      |sp AS (SELECT $MixBudget - SUM(c) AS spill FROM ca),
      |u AS (SELECT COALESCE(SUM(isq) FILTER (WHERE c < n_docs), 0) AS totu
      |  FROM ca),
      |qb AS (SELECT lang, n_docs, c,
      |    CASE WHEN c < n_docs AND totu > 0 THEN (spill * isq) // totu
      |      ELSE 0 END AS b2,
      |    CASE WHEN c < n_docs AND totu > 0 THEN (spill * isq) % totu
      |      ELSE -1 END AS rem2
      |  FROM ca, sp, u),
      |l2 AS (SELECT (SELECT spill FROM sp) - SUM(b2) AS left2 FROM qb),
      |qc AS (SELECT lang, n_docs, c, b2, rem2,
      |    ROW_NUMBER() OVER (ORDER BY rem2 DESC, lang ASC) AS rr2 FROM qb),
      |quota AS (SELECT lang, n_docs,
      |    CAST(LEAST(c + b2 + CASE WHEN rem2 >= 0 AND rr2 <= left2
      |      THEN 1 ELSE 0 END, n_docs) AS BIGINT) AS quota FROM qc, l2),
      |r AS (SELECT doc_id, lang, pick, ROW_NUMBER() OVER
      |    (PARTITION BY lang ORDER BY pick ASC, doc_id ASC) AS rn FROM d)
      |SELECT r.doc_id, r.lang, q.n_docs, q.quota, r.pick
      |FROM r JOIN quota q ON r.lang = q.lang
      |WHERE r.rn <= q.quota
      |""".stripMargin))

  /** Factored out so PipelineSpec can drive quota math on constructed
    * (imbalanced) corpora. `docs` needs (doc_id, lang). */
  private[graft] def temperatureMix(
      docs: org.apache.spark.sql.DataFrame,
      budget: Int = MixBudget): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL-lang docs are excluded UP FRONT: left in, they'd form a
    // quota group that consumes budget share, then vanish in the
    // final equi-join on lang — an invisible undershoot (both engines
    // agreed, so the oracle never surfaced it).
    val d = docs.select(col("doc_id"), col("lang"))
      .filter(col("lang").isNotNull)
      .withColumn("pick",
        md5(concat(col("doc_id").cast("string"), lit(":tmix"))
          .cast("binary")))
    // Every cross-language scalar (tot, leftover, spill, totu, left2)
    // is an unbounded-frame window aggregate over the #langs-row
    // frame, NOT a separate .agg() crossJoined back in: each broadcast
    // one-row aggregate re-executes its whole lineage, so the chained
    // form re-scanned the corpus ~5x. The window form computes the
    // entire quota table in one pass after a single shuffle to one
    // partition — bounded (#langs rows) at any corpus size.
    val wAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val quotas = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("isq", floor(sqrt(col("n_docs"))).cast("long"))
      .withColumn("tot", sum("isq").over(wAll))
      .withColumn("q_base", expr(s"($budget * isq) div tot"))
      .withColumn("rem", expr(s"($budget * isq) % tot"))
      .withColumn("leftover", lit(budget.toLong) - sum("q_base").over(wAll))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("lang").asc)))
      .withColumn("c", least(
        col("q_base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L),
        col("n_docs")))
      // spillover round: redistribute capped surplus among languages
      // with headroom, same integer largest-remainder machinery;
      // capped languages carry rem2 = -1 so they rank last and never
      // receive
      .withColumn("spill", lit(budget.toLong) - sum("c").over(wAll))
      .withColumn("totu", coalesce(
        sum(when(col("c") < col("n_docs"), col("isq"))).over(wAll), lit(0L)))
      .withColumn("b2",
        when(col("c") < col("n_docs") && col("totu") > 0,
          expr("(spill * isq) div totu")).otherwise(0L))
      .withColumn("rem2",
        when(col("c") < col("n_docs") && col("totu") > 0,
          expr("(spill * isq) % totu")).otherwise(-1L))
      .withColumn("left2", col("spill") - sum("b2").over(wAll))
      .withColumn("rr2", row_number().over(
        Window.orderBy(col("rem2").desc, col("lang").asc)))
      .withColumn("quota", least(
        col("c") + col("b2") + when(
          col("rem2") >= 0 && col("rr2") <= col("left2"), 1L).otherwise(0L),
        col("n_docs")).cast("long"))
      .select(col("lang"), col("n_docs"), col("quota"))
    val picked = graft.plans.TopKPerGroup(d, Seq(col("lang")),
      Seq(col("pick").asc, col("doc_id").asc), budget)
    picked
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("pick").asc, col("doc_id").asc)))
      .join(broadcast(quotas), "lang")
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("n_docs"), col("quota"),
        col("pick"))
  }

  // -------------------------------------------------------------- dd11
  /** dd06's propagation output materialized ONCE per (process, corpus
    * dir) as a parquet cluster table and re-read afterwards — the
    * shape a real pipeline has (clustering lands on storage; every
    * downstream step reads the shared intermediate instead of
    * re-propagating). The harness's standalone-query design made dd11
    * pay a SECOND full propagation per run (VERDICT r6 #8, 1.8 s of
    * its 1.8 s bench line); with the shared table the dd11 line
    * measures the canonical pick itself. dd06's own QueryDef does NOT
    * read the cache — its bench line keeps measuring propagation.
    * Process-lifetime temp files, removed on JVM exit. */
  private val clusterTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Cache key = dir + a cheap content fingerprint (file count, total
    * length, max mtime of the documents parquet) so rewriting the
    * corpus at the SAME path within one process invalidates the
    * cached propagation instead of serving stale clusters.
    *
    * Known limits, accepted for the bench harness (ADVICE r7): an
    * in-place rewrite with identical size/count landing inside mtime
    * granularity would serve stale clusters, and the build runs inside
    * computeIfAbsent, so a concurrent caller hashing to the same bin
    * blocks for the two-job build. A hardened library version would
    * fold a content hash into the fingerprint and publish a future
    * via putIfAbsent instead of building under the map lock. */
  private def corpusFingerprint(s: SparkSession, dir: String): String = {
    import org.apache.hadoop.fs.Path
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(s"$dir/documents.parquet")
    val fs = root.getFileSystem(conf)
    val stats =
      if (fs.getFileStatus(root).isDirectory) {
        val it = fs.listFiles(root, true)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) out += it.next()
        out.toSeq
      } else Seq(fs.getFileStatus(root))
    val n = stats.size
    val len = stats.map(_.getLen).sum
    val mt = if (stats.isEmpty) 0L else stats.map(_.getModificationTime).max
    s"$dir|$n|$len|$mt"
  }

  private def clusterTable(s: SparkSession, dir: String): DataFrame = {
    val path = clusterTableCache.computeIfAbsent(
      corpusFingerprint(s, dir), _ => {
      val out = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(graft.Scratch.root),
        "graft_dd06_clusters").toString
      connectedComponents(
        Tables.load(s, dir, "documents").select(col("doc_id")),
        jaccardPairs(s, dir).select(col("d1"), col("d2")))
        .select(col("doc_id"), col("cluster"))
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(path)
  }

  /** Canonical-document selection — the step a pipeline runs right
    * AFTER dd06's clustering: every near-dup cluster keeps exactly ONE
    * representative, chosen by QUALITY, not by the accidental min
    * doc_id dd06's label happens to be. Pick order per cluster:
    * longest document first (most complete version), then source name
    * ascending (stand-in for a configured source-priority map), then
    * doc_id ascending as the final total-order tiebreak.
    *
    * Scale shape: reuses dd06's propagation output via the shared
    * cluster table (cluster sizes are near-dup blobs — small by
    * construction), so the canonical pick is one window over rows
    * already hashed by cluster: a single shuffle of (doc_id, cluster,
    * n_chars, source), never the text. At 100 TB the cost is one
    * cluster-table scan + one narrow exchange; no new corpus pass.
    */
  private val dd11 = QueryDef(
    "dd11_canonical_pick",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val meta = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val clusters = clusterTable(s, dir)
      val w = Window.partitionBy(col("cluster")).orderBy(
        col("n_chars").desc, col("source").asc, col("doc_id").asc)
      clusters.join(meta, "doc_id")
        .withColumn("canonical_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("cluster"), col("source"),
          col("n_chars"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).as("keep"))
    },
    Some(s"""WITH RECURSIVE $jaccardPairsSqlCtes,
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
      |  UNION ALL SELECT d2, d1 FROM pairs),
      |reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |cl AS (SELECT a AS doc_id, MIN(b) AS cluster FROM reach GROUP BY a)
      |SELECT c.doc_id, c.cluster, d.source, d.n_chars,
      |  FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.cluster ORDER BY
      |    d.n_chars DESC, d.source ASC, c.doc_id ASC) AS canonical_id,
      |  c.doc_id = FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.cluster
      |    ORDER BY d.n_chars DESC, d.source ASC, c.doc_id ASC) AS keep
      |FROM cl c JOIN documents d ON c.doc_id = d.doc_id
      |""".stripMargin))

  // -------------------------------------------------------------- dd12
  /** Bloom-filter SEEN-SET dedup — the membership sketch an ingest
    * pipeline checks new documents against (is this content already in
    * the corpus?) when the exact seen-set no longer fits a broadcast:
    * dd07 ships the benchmark's exact hash list (fine for MBs); a
    * 10¹⁰-key seen-set is ~80 GB exact but a FIXED-size bitmap at
    * whatever false-positive budget you size it to. Docs with even
    * doc_id stand in for the previously-ingested half; every doc
    * probes its content fingerprint against the sketch.
    *
    * Shape: one corpus pass builds the bitmap via the native OR-merge
    * aggregate ([[graft.functions.BloomBitsAgg]], 8 KB of state per
    * task, merge-order-invariant); the probe side crossJoin-broadcasts
    * that single 8 KB row and tests k bits with codegen'd integer ops
    * — zero shuffles on the corpus FOR THE SKETCH PATH, the dd07 plan
    * shape with corpus-size-independent state. The exact_seen column
    * re-derives ground truth purely to AUDIT the sketch in the gate:
    * false_pos must be the ONLY way the two disagree (Bloom filters
    * never false-negative — pinned in PipelineSpec). The audit is an
    * ordinary hash join on the distinct seen keys (round 8 — the r7
    * broadcast-array array_contains form was O(n·m): 432× time at 64×
    * corpus once the count()-pruned probe was fixed; a production
    * pipeline would drop the audit column entirely, it exists for the
    * oracle gate).
    *
    * Oracle parity: probe positions are pure integer math (Kirsch-
    * Mitzenmacher double hashing over the 60-bit md5 fingerprint), so
    * DuckDB replays bitmap semantics as set-membership over the same
    * positions — bit-for-bit the same booleans. */
  private val dd12 = {
    // gate size = the default; bits is a REAL parameter since round 8
    // (the query, probe expr and oracle all derive from this one value
    // — PipelineSpec re-proves the pipeline at a second size)
    val B = graft.functions.BloomBitsAgg.DefaultBits
    // probe math has ONE definition beside the aggregate it must
    // mirror (BloomBitsAgg.probeHitExpr); hash60 inputs are ≥ 0, so
    // the oracle's unmasked positions are the identical function
    val hitSpark = graft.functions.BloomBitsAgg.probeHitExpr("bloom")
    QueryDef(
      "dd12_bloom_dedup",
      (s, dir) => {
        import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            expr(graft.OracleSafe.hash60("text")).as("h"))
        // the Bloom bitmap is ONE aggregate over one scan — a single
        // broadcast row of bits/64 longs
        val aux = d.filter(col("doc_id") % 2 === 0)
          .agg(column(graft.functions.BloomBitsAgg(expression(col("h")))
            .toAggregateExpression()).as("bloom"))
        // the exact audit is a HASH JOIN on h against the distinct
        // seen keys — O(n) and shuffle- or broadcast-joined by size.
        // Round 8: the r7 form collected the seen set into one sorted
        // array and ran array_contains per row, an O(n·m) scan that
        // the count()-pruned probe never executed — the corrected
        // ScaleProbe caught it at 432× time for 64× input; the join
        // form is 64× -> ~linear
        val seen = d.filter(col("doc_id") % 2 === 0)
          .select(col("h")).distinct().withColumn("exact_seen", lit(true))
        d.crossJoin(broadcast(aux))
          .join(seen, Seq("h"), "left")
          .select(col("doc_id"),
            expr(hitSpark).as("bloom_hit"),
            coalesce(col("exact_seen"), lit(false)).as("exact_seen"))
          .withColumn("false_pos", col("bloom_hit") && !col("exact_seen"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
        |    ${graft.OracleSafe.hash60Sql("text")} AS h FROM documents),
        |sd AS (SELECT DISTINCT h FROM d WHERE doc_id % 2 = 0),
        |ii AS (SELECT unnest([0, 1, 2, 3]) AS i),
        |spos AS (SELECT DISTINCT
        |    ${graft.functions.BloomBitsAgg.posSqlDuck("h", "i", B)} AS p
        |  FROM sd CROSS JOIN ii),
        |dp AS (SELECT doc_id, h,
        |    ${graft.functions.BloomBitsAgg.posSqlDuck("h", "i", B)} AS p
        |  FROM d CROSS JOIN ii),
        |hit AS (SELECT doc_id, BOOL_AND(p IN (SELECT p FROM spos))
        |    AS bloom_hit
        |  FROM dp GROUP BY doc_id)
        |SELECT d.doc_id, hit.bloom_hit,
        |  d.h IN (SELECT h FROM sd) AS exact_seen,
        |  hit.bloom_hit AND NOT (d.h IN (SELECT h FROM sd)) AS false_pos
        |FROM d JOIN hit ON d.doc_id = hit.doc_id""".stripMargin))
  }

  // -------------------------------------------------------------- dd13
  /** EXACT duplicated-substring detection (Lee et al. 2021,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better", the ExactSubstr pass): for every document, find
    * every token position whose L-gram (L = [[SubstrL]] tokens) occurs
    * at least twice in the whole corpus, merge consecutive duplicated
    * positions into runs and overlapping runs into covered-token
    * islands, and report per-doc span statistics — n_dup_ngrams,
    * n_islands, max_island (longest contiguous duplicated-coverage
    * stretch), dup_tokens (exact union of covered tokens) and
    * dup_frac. The training pipeline drops or trims islands.
    *
    * dd09 is the sub-linear APPROXIMATION of this (winnowed
    * fingerprints, ~2/w of shingles); dd13 is the exact ground truth.
    * Exactness costs the position explode — one row per (doc, pos),
    * the same O(total tokens) working set as the paper's suffix
    * array, and inherent to any exact method — but nothing else
    * row-multiplies: duplicate detection is one count-window over the
    * 20-gram hash partition (uniform md5 keys ⇒ no skew), span/island
    * merging is two narrow windows per doc, and the corpus text never
    * shuffles (only 16-byte (doc, pos, hash) rows do). Fixed-L
    * equi-hashing replaces the suffix array entirely: a duplicated
    * span of ≥ L tokens exists iff some L-gram collides, so for a
    * FIXED threshold the sort the paper needs is just a hash
    * partition.
    *
    * Byte-exactness (round 8 — the r7 caveat now has its answer IN
    * the output): hash-path detection is 60-bit md5 equality, with
    * expected collision mass n²/2^61 positions (~zero at the gate
    * corpora, a 10⁻⁹ fraction at 10¹⁰ tokens). The
    * `n_verified_ngrams` column closes the gap with Lee et al.'s
    * byte-exact contract: every flagged position re-materializes its
    * actual L-gram STRING and only string-equal duplicates count —
    * equal strings always hash equal, so both members of a genuine
    * byte-duplicate are flagged and the string count over flagged
    * positions is EXACT. n_verified_ngrams < n_dup_ngrams is a
    * detected collision, never a silent one (equality at the gate SFs
    * pinned in PipelineSpec). Verify cost is candidate-bounded: only
    * flagged positions expand to L tokens; the gram-equality shuffle
    * carries dup-mass rows, not the corpus.
    *
    * Oracle parity: md5 shingle hashes, integer windows and one final
    * division — DuckDB replays every step hash-exact. */
  private val SubstrL = 20

  private val dd13 = {
    val L = SubstrL
    QueryDef(
      "dd13_exact_substring",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
        val base = TextShingles.words(s, dir)
          .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
            column(graft.functions.ShingleHashSeq(
              expression(col("ws")), L)).as("hs"))
        val pos = base
          .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
        // the duplicate-position frame feeds BOTH the span statistics
        // and the round-8 byte verify; checkpoint it eagerly (16-byte
        // rows, dup-mass-bounded — the dd02 pattern) so the corpus
        // explode + hash window run once, not once per consumer
        val dup = pos
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
          .filter(col("cnt") >= 2)
          .select(col("doc_id"), col("pos"))
          .localCheckpoint(true)
        val runs = dup
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
          .withColumn("g", col("pos") - col("rn"))
        val iv = runs.groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("c"), min(col("pos")).as("s"),
            (max(col("pos")) + lit(L - 1).cast("long")).as("e"))
        val isl = iv
          .withColumn("pmax", max(col("e")).over(
            Window.partitionBy(col("doc_id")).orderBy(col("s"))
              .rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("brk",
            when(col("s") > col("pmax") + 1, 1L).otherwise(0L))
          .withColumn("iid", sum(col("brk")).over(
            Window.partitionBy(col("doc_id")).orderBy(col("s"))))
        val islands = isl.groupBy(col("doc_id"), col("iid"))
          .agg(sum(col("c")).as("ic"),
            (max(col("e")) - min(col("s")) + 1).as("ilen"))
        val stats = islands.groupBy(col("doc_id"))
          .agg(sum(col("ic")).as("n_dup_ngrams"),
            count(lit(1)).as("n_islands"),
            max(col("ilen")).as("max_island"),
            sum(col("ilen")).as("dup_tokens"))
        // BYTE-EXACT verification (round 8, VERDICT r7 #3): Lee et
        // al.'s ExactSubstr contract is byte equality; the hash path
        // above flags 60-bit-hash equality. Re-derive the flagged
        // positions' actual L-gram STRINGS and count string-equal
        // occurrences — n_verified_ngrams counts the flagged positions
        // whose L-gram is byte-exactly duplicated, so any hash
        // collision shows up as n_verified_ngrams < n_dup_ngrams
        // instead of passing silently. String equality over flagged
        // positions is EXACT (equal strings always hash equal, so both
        // members of a byte-duplicate pair are flagged). Cost is
        // candidate-bounded in the dd04/dd09 sense: a broadcast
        // semi-join on the flagged DOC-ID set (8 bytes/doc) restricts
        // the token re-scan before anything shuffles, so only flagged
        // docs' token arrays move, flagged positions alone materialize
        // their L tokens, and the gram-equality shuffle carries
        // dup-mass rows. (At a corpus where even the flagged id set
        // outgrows a broadcast, drop the hints and this becomes an
        // ordinary doc_id shuffle join — the verify stays optional
        // work a byte-exactness requirement pays for.)
        val fp = dup.groupBy(col("doc_id"))
          .agg(collect_list(col("pos")).as("ps"))
        val grams = TextShingles.words(s, dir)
          .join(broadcast(fp), Seq("doc_id"))
          .select(col("doc_id"), explode(expr(
            s"transform(ps, p -> concat_ws(' ', slice(ws, CAST(p AS INT) + 1, $L)))"))
            .as("gram"))
        val nver = grams
          .withColumn("gcnt", count(lit(1)).over(
            Window.partitionBy(col("gram"))))
          .filter(col("gcnt") >= 2)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_verified_ngrams"))
        base.select(col("doc_id"), col("n_tokens"))
          .join(stats, Seq("doc_id"), "left")
          .join(nver, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_dup_ngrams"), lit(0L)).as("n_dup_ngrams"),
            coalesce(col("n_verified_ngrams"), lit(0L)).as("n_verified_ngrams"),
            coalesce(col("n_islands"), lit(0L)).as("n_islands"),
            coalesce(col("max_island"), lit(0L)).as("max_island"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
            col("n_tokens"),
            when(col("n_tokens") > 0,
              coalesce(col("dup_tokens"), lit(0L)).cast("double")
                / col("n_tokens"))
              .otherwise(lit(0.0)).as("dup_frac"))
      },
      Some({
        val cols = (0 until L).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
        s"""WITH w AS (SELECT doc_id,
          |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |base AS (SELECT doc_id, len(ws) AS n_tokens FROM w),
          |shp AS (SELECT doc_id, i AS pos,
          |    ${graft.OracleSafe.hash60Sql(s"($cols)")} AS h
          |  FROM w CROSS JOIN LATERAL
          |    (SELECT unnest(generate_series(1, len(ws) - ${L - 1})) AS i) t),
          |dup AS (SELECT doc_id, pos FROM (
          |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS cnt
          |    FROM shp) WHERE cnt >= 2),
          |runs AS (SELECT doc_id, pos,
          |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
          |  FROM dup),
          |iv AS (SELECT doc_id, g, COUNT(*) AS c, MIN(pos) AS s,
          |    MAX(pos) + ${L - 1} AS e
          |  FROM runs GROUP BY 1, 2),
          |isl AS (SELECT doc_id, c, s, e,
          |    CASE WHEN s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
          |      THEN 1 ELSE 0 END AS brk
          |  FROM iv),
          |isl2 AS (SELECT doc_id, c, s, e,
          |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS iid
          |  FROM isl),
          |islands AS (SELECT doc_id, iid, SUM(c) AS ic,
          |    MAX(e) - MIN(s) + 1 AS ilen
          |  FROM isl2 GROUP BY 1, 2),
          |stats AS (SELECT doc_id, CAST(SUM(ic) AS BIGINT) AS n_dup_ngrams,
          |    COUNT(*) AS n_islands, CAST(MAX(ilen) AS BIGINT) AS max_island,
          |    CAST(SUM(ilen) AS BIGINT) AS dup_tokens
          |  FROM islands GROUP BY 1),
          |vgrams AS (SELECT d.doc_id,
          |    array_to_string(list_slice(w.ws, d.pos, d.pos + ${L - 1}), ' ')
          |      AS gram
          |  FROM dup d JOIN w USING (doc_id)),
          |vcnt AS (SELECT doc_id,
          |    COUNT(*) OVER (PARTITION BY gram) AS gcnt FROM vgrams),
          |nver AS (SELECT doc_id, COUNT(*) AS n_verified_ngrams
          |  FROM vcnt WHERE gcnt >= 2 GROUP BY doc_id)
          |SELECT b.doc_id,
          |  COALESCE(s.n_dup_ngrams, 0) AS n_dup_ngrams,
          |  COALESCE(v.n_verified_ngrams, 0) AS n_verified_ngrams,
          |  COALESCE(s.n_islands, 0) AS n_islands,
          |  COALESCE(s.max_island, 0) AS max_island,
          |  COALESCE(s.dup_tokens, 0) AS dup_tokens,
          |  b.n_tokens,
          |  CASE WHEN b.n_tokens > 0 THEN
          |    CAST(COALESCE(s.dup_tokens, 0) AS DOUBLE) / b.n_tokens
          |  ELSE 0.0 END AS dup_frac
          |FROM base b LEFT JOIN stats s ON b.doc_id = s.doc_id
          |LEFT JOIN nver v ON b.doc_id = v.doc_id""".stripMargin
      }))
  }

  // -------------------------------------------------------------- dd14
  /** SOFT dedup weighting (round 8) — the graded alternative to
    * dropping: instead of a binary keep/remove decision, every doc
    * gets a training WEIGHT inversely proportional to how duplicated
    * its content is across the corpus (the soft-dedup reweighting
    * recipe, cf. SoftDeDup, ACL 2024 — down-weighting common content
    * preserves distributional coverage that hard dedup destroys).
    * Commonness = mean document-frequency of the doc's distinct
    * 3-shingles: a unique doc scores exactly 1.0 (every shingle df=1),
    * boilerplate-heavy docs score ≫ 1; weight = 1/commonness. Both
    * ratios are ONE exact division of integer aggregates, so the
    * oracle hash-matches; shingle identity is the shared 60-bit hash
    * (collision caveat as dd13, identical in both engines).
    *
    * Scale shape: the tx09 recipe — per-doc DISTINCT shingle hashes in
    * one native call ([[graft.functions.ShingleHashSet]], no
    * (doc,token) explode of raw text), a 16-byte (doc, h) explode, one
    * map-side-combined df aggregate, one hash join back, one per-doc
    * aggregate. Nothing reads the corpus twice; the df table is
    * hash-partitioned, never broadcast. Shingle-less docs keep full
    * weight 1.0 (nothing to judge them common by). */
  private val dd14 = QueryDef(
    "dd14_soft_dedup",
    (s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      val dsh = TextShingles.words(s, dir)
        .withColumn("hset",
          column(graft.functions.ShingleHashSet(expression(col("ws")), ShingleK)))
        .select(col("doc_id"), explode(col("hset")).as("h"))
      val dfh = dsh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val agg = dsh.join(dfh, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("sum_df"))
      Tables.load(s, dir, "documents").select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("sum_df"), lit(0L)).as("sum_df"),
          when(col("n_shingles") > 0,
            col("sum_df").cast("double") / col("n_shingles"))
            .otherwise(lit(0.0)).as("commonness"),
          when(col("n_shingles") > 0,
            col("n_shingles").cast("double") / col("sum_df"))
            .otherwise(lit(1.0)).as("weight"))
    },
    Some(s"""WITH ${TextShingles.shinglesSql(3)},
      |dsh AS (SELECT DISTINCT doc_id, ${hash64Sql("sg")} AS h FROM sh),
      |dfh AS (SELECT h, COUNT(*) AS df FROM dsh GROUP BY h),
      |agg AS (SELECT d.doc_id, COUNT(*) AS n_sh, SUM(df) AS sum_df
      |  FROM dsh d JOIN dfh USING (h) GROUP BY d.doc_id)
      |SELECT doc.doc_id,
      |  CAST(COALESCE(a.n_sh, 0) AS BIGINT) AS n_shingles,
      |  CAST(COALESCE(a.sum_df, 0) AS BIGINT) AS sum_df,
      |  CASE WHEN a.n_sh > 0 THEN CAST(a.sum_df AS DOUBLE) / a.n_sh
      |    ELSE 0.0 END AS commonness,
      |  CASE WHEN a.n_sh > 0 THEN CAST(a.n_sh AS DOUBLE) / a.sum_df
      |    ELSE 1.0 END AS weight
      |FROM documents doc LEFT JOIN agg a ON doc.doc_id = a.doc_id
      |""".stripMargin))

  // -------------------------------------------------------------- dd15
  /** Incremental-batch boundary: doc_id < DeltaN plays the ARRIVING
    * batch, the rest the already-deduped base corpus. */
  private val DeltaN = 100L

  /** Process-level registry for the stored BASE fingerprint index —
    * the artifact a day-2 dedup deployment keeps between batches
    * (the ann08/ann09 stored-index pattern applied to dedup):
    * `sigs` = the base docs' unpivoted (doc_id, b, sig) MinHash-LSH
    * signatures, `sets` = their distinct shingle-hash arrays for
    * exact verification. Built once per (dir, process) under the
    * process's own Scratch.root (ADVICE r11). */
  private val baseIndexBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureBaseIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    baseIndexBuilt.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Paths.get(
        graft.Scratch.root,
        "graft_dd15_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      graft.Fs.deleteRecursively(p)
      val st = docShingleState(s, dir).filter(col("doc_id") >= DeltaN)
        .persist()
      signatures(st).write.parquet(s"$p/sigs")
      st.select(col("doc_id"), col("hset"),
          expr("size(hset)").cast("long").as("n"))
        .write.parquet(s"$p/sets")
      st.unpersist(blocking = false)
      p.toString
    })

  /** INCREMENTAL dedup against a stored fingerprint index (round 12)
    * — the day-2 posture every production dedup runs: the corpus was
    * deduped yesterday, today's batch must check against it WITHOUT
    * rescanning it. The base index (MinHash-LSH signatures + exact
    * shingle-hash sets, [[ensureBaseIndex]]) is a stored artifact;
    * per batch the work is: shingle/sign the DELTA only (batch-sized,
    * rides the scan), probe the base signature table with the
    * BROADCAST delta signatures on (band, sig) — the base streams,
    * nothing corpus-sized shuffles — then exact-verify the
    * LSH-bounded candidates by hash-set intersection and report, per
    * delta doc, the best base match (jaccard ≥ 0.2; ties → lowest
    * base id) or none. Completes the dedup family's lifecycle the
    * way ann08/ann09 completed the ANN index's: dd02/dd04 are the
    * build-day batch pass, this is every day after. Work per batch
    * is O(batch + collisions), independent of base-corpus size —
    * the property that matters at a 100 TB base. Jaccard is one
    * exact integer division; replays as the dd04 CTE chain split at
    * the boundary. */
  /** The dd15 probe plan WITHOUT the final checkpoint — exposed so
    * PlanSpec can pin the broadcast orientation (the checkpointed
    * query result plans as an opaque RDD scan). Returns the output
    * frame plus the persisted delta state for the caller to release
    * after materializing. */
  private[graft] def incrementalProbe(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
      val idx = ensureBaseIndex(s, dir)
      val st = docShingleState(s, dir).filter(col("doc_id") < DeltaN)
        .persist()
      val dsig = signatures(st)
        .select(col("doc_id").as("did"), col("b"), col("sig"))
      val bsig = s.read.parquet(s"$idx/sigs")
        .select(col("doc_id").as("bid"), col("b"), col("sig"))
      val cand = bsig.join(broadcast(dsig), Seq("b", "sig"))
        .select(col("did"), col("bid"))
        .distinct()
      val bsets = s.read.parquet(s"$idx/sets")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("did"))
        .orderBy(col("jaccard").desc, col("bid").asc)
      val best = cand
        .join(st.select(col("doc_id").as("did"), col("hset").as("dh")), "did")
        .join(bsets.select(col("doc_id").as("bid"), col("hset").as("bh"),
          col("n").as("n_b")), "bid")
        .select(col("did"), col("bid"),
          expr("size(array_intersect(dh, bh))").cast("long").as("n_inter"),
          expr("size(dh)").cast("long").as("n_d"), col("n_b"))
        .withColumn("jaccard", col("n_inter").cast("double") /
          (col("n_d") + col("n_b") - col("n_inter")))
        .filter(col("jaccard") >= 0.2)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val out = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < DeltaN).select(col("doc_id"))
        .join(best.select(col("did").as("doc_id"), col("bid").as("dup_of"),
          col("jaccard")), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
          col("dup_of"), col("jaccard"))
      (out, st)
  }

  private val dd15 = QueryDef(
    "dd15_incremental_dedup",
    (s, dir) => {
      val (frame, st) = incrementalProbe(s, dir)
      val out = frame.localCheckpoint(true)
      st.unpersist(blocking = false)
      out
    },
    Some(s"""WITH ${TextShingles.shinglesSql(3)},
      |shd AS (SELECT DISTINCT doc_id, ${hash64Sql("sg")} AS h FROM sh),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
      |$signaturesSql,
      |cand AS (SELECT DISTINCT d.doc_id AS did, b2.doc_id AS bid
      |  FROM sig d JOIN sig b2
      |    ON d.b = b2.b AND d.sig = b2.sig
      |  WHERE d.doc_id < $DeltaN AND b2.doc_id >= $DeltaN),
      |inter AS (SELECT c.did, c.bid, COUNT(*) AS n_inter
      |  FROM cand c
      |  JOIN shd a ON c.did = a.doc_id
      |  JOIN shd b3 ON c.bid = b3.doc_id AND a.h = b3.h
      |  GROUP BY c.did, c.bid),
      |sc AS (SELECT i.did, i.bid,
      |    CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jaccard
      |  FROM inter i
      |  JOIN sizes za ON i.did = za.doc_id
      |  JOIN sizes zb ON i.bid = zb.doc_id
      |  WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) >= 0.2),
      |best AS (SELECT did, bid, jaccard FROM (
      |  SELECT did, bid, jaccard, ROW_NUMBER() OVER (PARTITION BY did
      |    ORDER BY jaccard DESC, bid ASC) AS rn FROM sc)
      |  WHERE rn = 1)
      |SELECT d.doc_id, best.bid IS NOT NULL AS is_dup,
      |  best.bid AS dup_of, best.jaccard
      |FROM (SELECT doc_id FROM documents WHERE doc_id < $DeltaN) d
      |LEFT JOIN best ON d.doc_id = best.did""".stripMargin))

  // -------------------------------------------------------------- dd16
  /** EXACT-SUBSTRING REMOVAL (round 12) — the step the Lee et al.
    * 2021 (arXiv:2107.06499) ExactSubstr pass actually EXISTS for:
    * dd13 detects the duplicated-coverage islands, this one removes
    * them and emits the cleaned corpus (the paper deletes one copy of
    * every duplicated span; the island union is dd13's exact covered
    * set). Mechanics: dd13's duplicate-position frame → merged
    * disjoint islands per doc → explode each island to its covered
    * token positions (dup-mass bounded, never corpus-sized) → anti-
    * join the corpus token frame → reassemble surviving tokens in
    * position order. The cleaned text is whitespace-normalized (both
    * engines rejoin with single spaces); a fully-covered doc comes
    * back as the empty string, never dropped — downstream mixing
    * keeps its row identity. Scale: the token explode is the O(total
    * tokens) cost dd13 already pays; removal adds one dup-mass
    * explode + one doc-keyed shuffle for the ordered reassembly; the
    * text never shuffles except as the final per-doc rows. Spec pins
    * kept + removed = n_tokens, removed == dd13's dup_tokens per doc,
    * and that no L-gram of the crafted duplicated passage survives in
    * the cleaned text. */
  private val dd16 = {
    val L = SubstrL
    QueryDef(
      "dd16_exact_substr_removal",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
        val w0 = TextShingles.words(s, dir)
        val base = w0
          .select(col("doc_id"), col("ws"),
            size(col("ws")).cast("long").as("n_tokens"),
            column(graft.functions.ShingleHashSeq(
              expression(col("ws")), L)).as("hs"))
        val pos = base
          .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
        val dup = pos
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
          .filter(col("cnt") >= 2)
          .select(col("doc_id"), col("pos"))
          .localCheckpoint(true)
        val runs = dup
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
          .withColumn("g", col("pos") - col("rn"))
        val iv = runs.groupBy(col("doc_id"), col("g"))
          .agg(min(col("pos")).as("s"),
            (max(col("pos")) + lit(L - 1).cast("long")).as("e"))
        val isl = iv
          .withColumn("pmax", max(col("e")).over(
            Window.partitionBy(col("doc_id")).orderBy(col("s"))
              .rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("brk",
            when(col("s") > col("pmax") + 1, 1L).otherwise(0L))
          .withColumn("iid", sum(col("brk")).over(
            Window.partitionBy(col("doc_id")).orderBy(col("s"))))
        val islands = isl.groupBy(col("doc_id"), col("iid"))
          .agg(min(col("s")).as("s"), max(col("e")).as("e"))
        // islands are disjoint and non-adjacent by construction, so
        // the covered-position explode emits each position once
        val cov = islands.select(col("doc_id"),
          explode(expr("sequence(s, e)")).as("tpos"))
        val tok = base.select(col("doc_id"),
            posexplode(col("ws")).as(Seq("tp", "token")))
          .select(col("doc_id"), col("tp").cast("long").as("tpos"),
            col("token"))
        val kept = tok.join(cov, Seq("doc_id", "tpos"), "left_anti")
        val clean = kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("kept_tokens"),
            array_join(expr(
              "transform(sort_array(collect_list(struct(tpos, token)))," +
                " x -> x.token)"), " ").as("cleaned"))
        base.select(col("doc_id"), col("n_tokens"))
          .join(clean, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
            (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
              .as("removed_tokens"),
            coalesce(col("cleaned"), lit("")).as("cleaned"))
      },
      Some({
        val cols = (0 until L).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
        s"""WITH w AS (SELECT doc_id,
          |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |base AS (SELECT doc_id, len(ws) AS n_tokens FROM w),
          |shp AS (SELECT doc_id, i AS pos,
          |    ${graft.OracleSafe.hash60Sql(s"($cols)")} AS h
          |  FROM w CROSS JOIN LATERAL
          |    (SELECT unnest(generate_series(1, len(ws) - ${L - 1})) AS i) t),
          |dup AS (SELECT doc_id, pos FROM (
          |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS cnt
          |    FROM shp) WHERE cnt >= 2),
          |runs AS (SELECT doc_id, pos,
          |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
          |  FROM dup),
          |iv AS (SELECT doc_id, g, MIN(pos) AS s, MAX(pos) + ${L - 1} AS e
          |  FROM runs GROUP BY 1, 2),
          |isl AS (SELECT doc_id, s, e,
          |    CASE WHEN s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
          |      THEN 1 ELSE 0 END AS brk
          |  FROM iv),
          |isl2 AS (SELECT doc_id, s, e,
          |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS iid
          |  FROM isl),
          |islands AS (SELECT doc_id, iid, MIN(s) AS s, MAX(e) AS e
          |  FROM isl2 GROUP BY 1, 2),
          |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS tpos
          |  FROM islands),
          |tok AS (SELECT doc_id, i AS tpos, ws[i] AS token
          |  FROM w CROSS JOIN LATERAL
          |    (SELECT unnest(generate_series(1, len(ws))) AS i) t),
          |kept AS (SELECT t.doc_id, t.tpos, t.token FROM tok t
          |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
          |  WHERE c.tpos IS NULL),
          |clean AS (SELECT doc_id, COUNT(*) AS kept_tokens,
          |    string_agg(token, ' ' ORDER BY tpos) AS cleaned
          |  FROM kept GROUP BY 1)
          |SELECT b.doc_id, b.n_tokens,
          |  COALESCE(c.kept_tokens, 0) AS kept_tokens,
          |  b.n_tokens - COALESCE(c.kept_tokens, 0) AS removed_tokens,
          |  COALESCE(c.cleaned, '') AS cleaned
          |FROM base b LEFT JOIN clean c ON b.doc_id = c.doc_id""".stripMargin
      }))
  }

  // ------------------------------------------------------------- dd17
  /** URL-LEVEL DEDUPLICATION with canonicalization (round 12) — the
    * STAGE-1 pass web-corpus pipelines run before any content dedup
    * (RefinedWeb §3.1 runs URL dedup first; CCNet dedups per crawl
    * snapshot by URL): the same page is crawled many times under URL
    * VARIANTS — scheme/case/www/tracking-param/trailing-slash noise —
    * and collapsing re-crawls by CANONICAL URL is orders of magnitude
    * cheaper than content-level MinHash, so it always runs first.
    *
    * The fixture has no URL column, so the gate SYNTHESIZES one
    * deterministically (the ing02/tx19 injection pattern): four docs
    * share each logical page (`page(doc_id div 4)` on a
    * page-group-keyed host), each with id-keyed variant noise — http/https,
    * host case, www., a utm_/sid tracking-param mix, trailing slash.
    * Canonicalization (one codegen'd regex/string chain, the
    * Java∩RE2-compatible subset): lowercase → strip scheme → strip
    * www. → drop utm_x / sid / ref params (then a dangling '?') →
    * strip trailing slash. keep = latest doc_id per canonical (dd-latest
    * semantics: the freshest crawl wins). Output carries the variant
    * URL, the canonical, group size and the keep flag — hash-gated
    * end-to-end because the oracle replays injection + the identical
    * chain. Spec pins: canonical groups are exactly the div-4 page
    * groups (injection never collides across pages), exactly one
    * keeper per group = max doc_id, and every canonicalization rule
    * actually fired. Scale: narrow per-row string chain riding the
    * scan + one canonical-keyed agg/window — corpus-linear, the
    * cheap-first property that makes stage-1 URL dedup worth it. */
  private val dd17 = QueryDef(
    "dd17_url_dedup",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val urled = Tables.load(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("host",
          expr("concat('site', CAST((doc_id div 4) % 20 AS STRING))"))
        .withColumn("url", expr(
          """concat(
            |  CASE WHEN doc_id % 3 = 0 THEN 'https://' ELSE 'http://' END,
            |  CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END,
            |  CASE WHEN doc_id % 5 = 0 THEN upper(host) ELSE host END,
            |  '.example.com/page', CAST(doc_id div 4 AS STRING),
            |  CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END,
            |  CASE WHEN doc_id % 2 = 1 THEN concat('?utm_source=s',
            |      CAST(doc_id % 9 AS STRING), '&sid=', CAST(doc_id AS STRING))
            |    ELSE '' END)""".stripMargin))
      val canon = urled.withColumn("canon",
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(lower(col("url")), "^https?://", ""),
                "^www\\.", ""),
              "(utm_[a-z]+|sid|ref)=[^&]*(&|$)", ""),
            "\\?$", ""),
          "/$", ""))
      val w = Window.partitionBy(col("canon"))
      canon
        .withColumn("group_n", count(lit(1)).over(w))
        .withColumn("keep", col("doc_id") === max(col("doc_id")).over(w))
        .select("doc_id", "url", "canon", "group_n", "keep")
    },
    Some("""WITH hosts AS (SELECT doc_id,
      |    'site' || CAST((doc_id // 4) % 20 AS VARCHAR) AS host
      |  FROM documents),
      |urled AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'https://' ELSE 'http://' END ||
      |  CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0 THEN upper(host) ELSE host END ||
      |  '.example.com/page' || CAST(doc_id // 4 AS VARCHAR) ||
      |  CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
      |  CASE WHEN doc_id % 2 = 1 THEN '?utm_source=s' ||
      |      CAST(doc_id % 9 AS VARCHAR) || '&sid=' || CAST(doc_id AS VARCHAR)
      |    ELSE '' END AS url
      |  FROM hosts),
      |canon AS (SELECT doc_id, url,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(lower(url), '^https?://', ''),
      |    '^www\.', ''),
      |    '(utm_[a-z]+|sid|ref)=[^&]*(&|$)', '', 'g'),
      |    '\?$', ''),
      |    '/$', '') AS canon
      |  FROM urled)
      |SELECT doc_id, url, canon,
      |  COUNT(*) OVER (PARTITION BY canon) AS group_n,
      |  doc_id = MAX(doc_id) OVER (PARTITION BY canon) AS keep
      |FROM canon""".stripMargin))

  // ------------------------------------------------------------- dd18
  /** CONTAINMENT dedup (round 12) — the asymmetric-overlap case every
    * Jaccard-only pass misses (Broder 1997 defined containment
    * alongside resemblance for exactly this; the web-dedup failure
    * mode: a snippet/quote page sits INSIDE a longer page — Jaccard ≈
    * |snippet|/|page| stays far under any dedup threshold while the
    * snippet is 100% duplicated content): per candidate pair, BOTH
    * directed containments C(a→b) = |Sa∩Sb|/|Sa| and C(b→a), a pair
    * flagged when either crosses [[Dd18Thresh]], typed mutual /
    * a_in_b / b_in_a.
    *
    * The fixture's planted near-dups are all MUTUAL (measured ≈0.99
    * both ways), so the gate INJECTS the asymmetric case (the
    * ing02/tx19/dd17 pattern at the set level): every 25th doc
    * contributes a SNIPPET pseudo-doc (its middle third of tokens,
    * id+10⁶) whose shingle set is contained in its host's by
    * construction while Jaccard ≈ 1/3 — below any dedup threshold;
    * the oracle replays the injection. Candidates = pairs sharing ≥
    * [[Dd18MinShared]] distinct SUB-CAP shingles via the shingle
    * equi-join (the dd04/dd09 shape — LSH banding is deliberately NOT
    * the candidate generator here: minhash collision probability
    * tracks JACCARD, so it misses exactly the asymmetric pairs this
    * operator exists to find). The join is guarded by the dd09
    * hot-shingle recipe (round 13, VERDICT r12 #1): shingles present
    * in more than [[Dd18MaxDf]] documents are template/boilerplate
    * mass — one boilerplate 3-gram shared by 10⁶ docs is 10¹²
    * candidate rows, a scale-killer in exactly the operator whose job
    * is boilerplate-adjacent content — so they are anti-joined OUT of
    * candidate generation (a broadcast anti-join: the hot list is tiny
    * by definition), bounding the self-join at Σ_{df≤cap} df². The
    * declared production contract: pairs sharing only ultra-common
    * shingles are not candidates. On every surviving candidate the
    * intersection is then computed EXACTLY from the stored per-doc
    * shingle HASH sets (dd04's array_intersect recipe; shingle
    * identity = the 64-bit hash, the dd02/dd04/dd09 convention — see
    * [[containmentPairs]] for the measured reason strings lose) — hot
    * shingles still count toward `inter`, so the answer is unchanged
    * for every pair that shares ≥ [[Dd18MinShared]] sub-cap shingles.
    * The cap is far
    * above any genuine content shingle here (max df 25 at sf0.1), so
    * the gate hashes are cap-invariant at all three SFs. Containments
    * are single exact-integer divisions — engine-identical
    * comparisons, hash-exact. */
  private val Dd18Thresh = 0.8
  private val Dd18MinShared = 3
  private val Dd18SnipMod = 25
  private val Dd18MaxDf = 128

  /** The containment pipeline, factored so PlanSpec can inspect the
    * LAZY plan (`materialize = false` skips the persist + eager
    * checkpoint — a checkpointed result reads back as a LogicalRDD
    * with no joins to pin). Shingle identity is the 64-bit hash set
    * ([[graft.functions.ShingleHashSet]] — the dd02/dd04/dd09
    * convention, and what a 100 TB pass stores: a round-13 first cut
    * carried the raw STRING shingle arrays through the verify joins
    * and ran 14× slower at sf0.1 — ~50-byte strings × 52/doc × every
    * candidate row through two shuffles, vs 8-byte longs). The state
    * is ONE corpus pass, persisted (the dd04 lesson: four consumers —
    * df agg, both self-join sides, the per-pair set lookups — would
    * each re-run the scan + native hash). */
  private[graft] def containmentPairs(
      s: SparkSession, dir: String,
      materialize: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val base = TextShingles.words(s, dir)
    // snippet ids offset past the real id domain (ADVICE r12: a
    // fixed 10⁶ collides once the corpus passes 1M docs) — a 1-row
    // driver scalar, the emb05 sanctioned pattern
    val off = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val snip = base
      .filter(col("doc_id") % Dd18SnipMod === 0 && size(col("ws")) >= 9)
      .select((col("doc_id") + off).as("doc_id"),
        expr("slice(ws, size(ws) div 3 + 1, size(ws) div 3)").as("ws"))
    val st0 = base.unionByName(snip)
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        column(graft.functions.ShingleHashSet(expression(col("ws")), 3))
          .as("hset"))
    val st = if (materialize) st0.persist() else st0
    val sh = st.select(col("doc_id"), explode(col("hset")).as("h"))
    // hset is per-doc distinct, so count(*) per h IS document
    // frequency; dropping the hot tail is a broadcast anti-join
    val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > Dd18MaxDf).select("h")
    val shc = sh.join(broadcast(hot), Seq("h"), "left_anti")
    val cand = shc.select(col("doc_id").as("ida"), col("h"))
      .join(shc.select(col("doc_id").as("idb"), col("h")), "h")
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("sub_cap"))
      .filter(col("sub_cap") >= Dd18MinShared)
      .select("ida", "idb")
    val out = cand
      .join(st.select(col("doc_id").as("ida"), col("hset").as("ha")), "ida")
      .join(st.select(col("doc_id").as("idb"), col("hset").as("hb")), "idb")
      .select(col("ida"), col("idb"),
        expr("CAST(size(array_intersect(ha, hb)) AS BIGINT)").as("inter"),
        expr("CAST(size(ha) AS BIGINT)").as("na"),
        expr("CAST(size(hb) AS BIGINT)").as("nb"))
      .withColumn("c_ab", expr("CAST(inter AS DOUBLE) / na"))
      .withColumn("c_ba", expr("CAST(inter AS DOUBLE) / nb"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= Dd18Thresh)
      .withColumn("rel",
        when(col("c_ab") >= Dd18Thresh && col("c_ba") >= Dd18Thresh,
          "mutual")
          .when(col("c_ab") >= Dd18Thresh, "a_in_b")
          .otherwise("b_in_a"))
      .select("ida", "idb", "inter", "na", "nb", "c_ab", "c_ba", "rel")
    if (!materialize) out
    else {
      val r = out.localCheckpoint(true)
      st.unpersist(blocking = false)
      r
    }
  }

  private val dd18 = QueryDef(
    "dd18_containment",
    (s, dir) => containmentPairs(s, dir),
    Some(s"""WITH w0 AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
      |  FROM documents),
      |snip AS (SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents)
      |    AS doc_id,
      |  list_slice(ws, len(ws) // 3 + 1, len(ws) // 3 + len(ws) // 3) AS ws
      |  FROM w0 WHERE doc_id % $Dd18SnipMod = 0 AND len(ws) >= 9),
      |w AS (SELECT * FROM w0 UNION ALL SELECT * FROM snip),
      |sh AS (SELECT DISTINCT doc_id,
      |    ${hash64Sql("ws[i]||' '||ws[i+1]||' '||ws[i+2]")} AS h
      |  FROM w CROSS JOIN LATERAL
      |    (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) t
      |  WHERE len(ws) >= 3),
      |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh
      |  GROUP BY doc_id),
      |hot AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > $Dd18MaxDf),
      |shc AS (SELECT doc_id, h FROM sh ANTI JOIN hot USING (h)),
      |cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb
      |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $Dd18MinShared),
      |inter AS (SELECT c.ida, c.idb, CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM cand c JOIN sh a ON a.doc_id = c.ida
      |  JOIN sh b ON b.doc_id = c.idb AND b.h = a.h
      |  GROUP BY 1, 2),
      |sc AS (SELECT ida, idb, inter, sa.n AS na, sb.n AS nb,
      |    CAST(inter AS DOUBLE) / sa.n AS c_ab,
      |    CAST(inter AS DOUBLE) / sb.n AS c_ba
      |  FROM inter JOIN sz sa ON sa.doc_id = ida
      |  JOIN sz sb ON sb.doc_id = idb)
      |SELECT ida, idb, inter, na, nb, c_ab, c_ba,
      |  CASE WHEN c_ab >= $Dd18Thresh AND c_ba >= $Dd18Thresh THEN 'mutual'
      |       WHEN c_ab >= $Dd18Thresh THEN 'a_in_b'
      |       ELSE 'b_in_a' END AS rel
      |FROM sc WHERE greatest(c_ab, c_ba) >= $Dd18Thresh""".stripMargin))

  // -------------------------------------------------------------- dd19
  /** MINHASH-LSH COMPLETENESS AUDIT (round 15) — the dedup-side
    * analogue of ann16's range audit: measure, pair by pair, whether
    * dd02's band generator — the candidate machinery that actually
    * runs at 100 TB — surfaces the near-duplicates that EXACTLY
    * qualify. The corpus has almost no organic near-dups (3 pairs at
    * j ≥ 0.2 corpus-wide at sf0.01 — an audit over them is vacuous),
    * so the gate INJECTS the case (the mm06/px02 pattern): every 19th
    * document contributes a PREFIX variant keeping 12-94% of its
    * words (the fraction varies per doc_id), which pins a known
    * Jaccard ladder — a prefix's shingles are a subset of its
    * source's, so j ≈ kept/total, spanning every decile from ~0.1 up.
    * With 4 one-hash bands P(hit) = 1-(1-s)⁴: ≈99% at s=0.7 but only
    * ≈42% at s=0.13 — the audited cut is j ≥ 0.1 precisely so BOTH
    * verdict classes fire (the miss tail is where a production dedup
    * quietly loses near-dups; measuring it is the operator's point).
    *
    * Truth is complete by construction: Jaccard > 0 ⟺ the pair shares
    * a shingle, so the variant-side shingle equi-join finds every
    * qualifying pair exactly (no banding, no cap); its cost is the
    * corpus' shingle mass × the variant fraction — the brute leg
    * priced the way ann16 prices its radius scan, affordable BECAUSE
    * it is sampled. All comparisons are integer-exact (10·|∩| ≥ |∪|
    * for the j ≥ 0.1 cut, (10·|∩|) div |∪| for the decile), so both
    * engines agree bit-for-bit. Scale shape: one shuffle on the
    * shingle hash for truth, dd02's (band, sig) join restricted to
    * the variants for the verdicts, one pair-keyed left join. */
  private val Dd19Offset = 1000000000L

  private val dd19 = QueryDef(
    "dd19_lsh_audit",
    (s, dir) => {
      val w0 = TextShingles.words(s, dir)
      val variants = w0.filter(pmod(col("doc_id"), lit(19)) === 0)
        .select((col("doc_id") + Dd19Offset).as("doc_id"),
          expr("slice(ws, 1, greatest(3, cast(size(ws) * " +
            "(12 + doc_id % 83) div 100 as int)))").as("ws"))
      val st = shingleStateOf(w0.unionAll(variants)).persist()
      val sh = st.select(col("doc_id"), explode(col("hset")).as("h"))
      val cand = sh.filter(col("doc_id") >= Dd19Offset)
        .select(col("doc_id").as("d1"), col("h"))
        .join(sh.select(col("doc_id").as("d2"), col("h")), Seq("h"))
        .filter(col("d1") =!= col("d2"))
        .select("d1", "d2").distinct()
      val sets = st.select(col("doc_id"), col("hset"))
      val truth = cand
        .join(sets.as("a"), col("d1") === col("a.doc_id"))
        .join(sets.as("b"), col("d2") === col("b.doc_id"))
        .select(col("d1"), col("d2"),
          expr("size(array_intersect(a.hset, b.hset))").cast("long")
            .as("n_inter"),
          (expr("size(a.hset)").cast("long") +
            expr("size(b.hset)").cast("long")).as("n_ab"))
        .withColumn("n_union", col("n_ab") - col("n_inter"))
        .filter(col("n_inter") * 10 >= col("n_union"))
        .drop("n_ab")
      val sig = signatures(st)
      val hits = sig.as("s1").filter(col("s1.doc_id") >= Dd19Offset)
        .join(sig.as("s2"),
          col("s1.b") === col("s2.b") && col("s1.sig") === col("s2.sig") &&
            col("s1.doc_id") =!= col("s2.doc_id"))
        .select(col("s1.doc_id").as("d1"), col("s2.doc_id").as("d2"))
        .distinct()
        .withColumn("hit", lit(true))
      val out = truth.join(hits, Seq("d1", "d2"), "left")
        .select(col("d1"), col("d2"), col("n_inter"), col("n_union"),
          expr("n_inter * 10 div n_union").as("j_decile"),
          coalesce(col("hit"), lit(false)).as("lsh_hit"))
        .localCheckpoint(true)
      st.unpersist(blocking = false)
      out
    },
    Some(s"""WITH w0 AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
      |  FROM documents),
      |w AS (SELECT doc_id, ws FROM w0
      |  UNION ALL
      |  SELECT doc_id + $Dd19Offset,
      |    ws[1 : greatest(3, CAST(len(ws) * (12 + doc_id % 83) // 100
      |      AS INT))]
      |  FROM w0 WHERE doc_id % 19 = 0),
      |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
      |    AS sg
      |  FROM w CROSS JOIN LATERAL
      |    (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) t),
      |shd AS (SELECT DISTINCT doc_id, ${hash64Sql("sg")} AS h FROM sh),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
      |$signaturesSql,
      |cand AS (SELECT DISTINCT q.doc_id AS d1, s.doc_id AS d2
      |  FROM shd q JOIN shd s ON q.h = s.h AND s.doc_id <> q.doc_id
      |  WHERE q.doc_id >= $Dd19Offset),
      |inter AS (SELECT c.d1, c.d2, COUNT(*) AS n_inter
      |  FROM cand c
      |  JOIN shd a ON c.d1 = a.doc_id
      |  JOIN shd b ON c.d2 = b.doc_id AND a.h = b.h
      |  GROUP BY c.d1, c.d2),
      |truth AS (SELECT i.d1, i.d2, i.n_inter,
      |    za.n + zb.n - i.n_inter AS n_union
      |  FROM inter i
      |  JOIN sizes za ON i.d1 = za.doc_id
      |  JOIN sizes zb ON i.d2 = zb.doc_id
      |  WHERE 10 * i.n_inter >= za.n + zb.n - i.n_inter),
      |hits AS (SELECT DISTINCT s1.doc_id AS d1, s2.doc_id AS d2
      |  FROM sig s1 JOIN sig s2
      |    ON s1.b = s2.b AND s1.sig = s2.sig AND s1.doc_id <> s2.doc_id
      |  WHERE s1.doc_id >= $Dd19Offset)
      |SELECT t.d1, t.d2, t.n_inter, t.n_union,
      |  (t.n_inter * 10) // t.n_union AS j_decile,
      |  h.d1 IS NOT NULL AS lsh_hit
      |FROM truth t LEFT JOIN hits h ON t.d1 = h.d1 AND t.d2 = h.d2
      |""".stripMargin))

  val defs: Seq[QueryDef] =
    Seq(dd01, dd02, dd03, dd04, dd05, dd06, dd07, dd08, dd09, dd10, dd11,
      dd12, dd13, dd14, dd15, dd16, dd17, dd18, dd19)
}
