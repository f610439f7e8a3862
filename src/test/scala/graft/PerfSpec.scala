package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard against the JIT cliff that bit round 1: after a long-lived
  * JVM has profiled dozens of codegen classes and ArrayData subtypes,
  * megamorphic dispatch can slow a hot loop 10-100x (dd05 went
  * 4s → 225s in the driver's JVM). The dd* family now runs its vector
  * math on monomorphic primitive arrays ([[graft.pipelines.EmbedDup]])
  * or single-call native expressions, so timings must stay flat even
  * after the whole query suite has polluted the profile pool.
  *
  * Bounds are ~15x the steady-state times at sf0.01 — loose enough
  * for CI noise, tight enough that a megamorphic regression (30x+)
  * fails loudly.
  */
class PerfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("dd* hot loops stay fast after the full suite ran in this JVM") {
    // pollute JIT profiles the way the driver bench does: every query
    // once, same JVM, before anything is timed
    SparkEntry.all.foreach(d => d.run(spark, "/root/testdata/sf0.001").count())

    val bounds = Map(
      "dd02_minhash_lsh"   -> 15.0,
      "dd04_ngram_jaccard" -> 15.0,
      "dd05_embed_dup"     -> 15.0,
      // round-3 additions: dd06's loop must stay O(rounds) over a
      // persisted edge list (round 2 shipped it recomputing the whole
      // verification pipeline per round); ann04's ADC + train path is
      // driver+primitive-loop math that must stay monomorphic
      "dd06_dup_clusters"  -> 20.0,
      "ann04_knn_ivfpq"    -> 15.0,
      // round-4 additions: cdc10 runs real sink I/O (4 micro-batches +
      // chain-merge read), mm03's banded join must stay candidate-
      // bounded — both guard against a pinned-block or plan regression
      "cdc10_sink_materialize" -> 25.0,
      "mm03_phash_dedup"   -> 15.0,
      // round-5 addition: dd09's winnow must stay ONE native call per
      // doc — its first declarative draft ran 100s+ at sf0.01 when the
      // optimizer inlined the nested lambdas into a Generate, exactly
      // the regression this bound would catch
      "dd09_passage_overlap" -> 15.0,
      // round-7 additions: emb06's pairwise stage must stay on the
      // sub-blocked primitive panels (the Catalyst row-join form it
      // replaced was 5x); dd13's explode+windows and the sketch
      // queries are declarative/native and must stay flat after
      // profile pollution
      "emb06_semdedup"      -> 25.0,
      "dd13_exact_substring" -> 15.0,
      "dd12_bloom_dedup"    -> 15.0,
      "q20_approx_distinct" -> 15.0,
      // round-8 additions: ann03's oracle graduation moved its trainer
      // to integer-sum updates — the driver-side loop and the assign
      // Dataset.map must both stay monomorphic; cdc11 drives the full
      // streaming retract topology (3 DSv2 writes + 2 micro-batches +
      // two stateful operators: at sf0.01 on local[4] each write is one
      // chunk, and the cap-2 admission takes them as 2 + 1), guarded
      // like cdc10's real I/O
      "ann03_knn_ivf"       -> 15.0,
      "cdc11_stream_retract_agg" -> 30.0,
      "cdc12_stream_windowed_live" -> 30.0,
      "cdc13_stream_sessions" -> 30.0,
      "cdc14_stream_interval_join" -> 30.0,
      "cdc15_stream_redelivery" -> 30.0,
      "tx12_bigram_surprise" -> 15.0,
      "mm04_media_dup_groups" -> 20.0)
    bounds.foreach { case (name, bound) =>
      val fn = SparkEntry.queries(name)
      // full-plan execution, not count() — count() lets Catalyst prune
      // the very loops this spec guards (see Bench.timed)
      fn(spark, "/root/testdata/sf0.01").queryExecution.toRdd.count() // warm
      // Bounded retries, min-of-up-to-3 (round 18, VERDICT r17 #2): a
      // megamorphic/JIT cliff is PERSISTENT — every rep pays it — while
      // a loaded box's multi-second stalls are transient (the r17
      // driver ran this suite on a box 1.5-3x slower than steady state
      // and `tests_ok` went red on wall-clock alone). One rep under the
      // bound proves the hot loop is still monomorphic; only a query
      // that exceeds the bound on ALL THREE reps fails.
      var best = Double.MaxValue
      var rep = 0
      while (rep < 3 && best >= bound) {
        val t0 = System.nanoTime()
        fn(spark, "/root/testdata/sf0.01").queryExecution.toRdd.count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        rep += 1
      }
      withClue(name) {
        assert(best < bound,
          s"$name took $best s (min of $rep reps) at sf0.01 — " +
            "megamorphic/JIT cliff?")
      }
    }
  }
}
