package graft

import graft.cdc.CdcQueries
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** cdc34's delta rule ([[CdcQueries.cdc34Rerank]]) against a full
  * recompute. A generated stream is a list of triggers, each a list of
  * (window, key, increment) count bumps, so every key's count only
  * grows. Trigger by trigger, the changed windows' stored top-3 and
  * the update-mode delta (each touched key's new total) go through the
  * rule, and the stored top-3 must then equal the top-3 of the running
  * totals, ranked `n DESC, pk ASC`, in every window.
  *
  * Windows 0 and 1 hold at most 1 and 2 keys (fewer than 3 ranked
  * rows); increments of 1 or 2 make ties on `n`, so the `pk`
  * tiebreak decides; a "tail" trigger keeps only bumps of keys outside
  * their window's current top-3. Each trigger is one small Spark job,
  * so the case count stays low.
  */
object RankDeltaProps extends Properties("cdc34 delta rule") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(30)

  private lazy val spark = SparkTestSession.spark

  private val DayUs = 86400L * 1000000L
  /** Keys per window: windows 0 and 1 never reach 3 ranked rows. */
  private val KeysPerWindow = Vector(1, 2, 4, 6)

  private case class Trigger(bumps: List[(Int, Int, Int)], tailOnly: Boolean)

  private val genTrigger: Gen[Trigger] = for {
    n <- Gen.choose(1, 8)
    bumps <- Gen.listOfN(n, Gen.zip(Gen.choose(0, KeysPerWindow.size - 1),
      Gen.choose(0, KeysPerWindow.max - 1), Gen.choose(1, 2)))
    tailOnly <- Gen.frequency(3 -> false, 1 -> true)
  } yield Trigger(bumps, tailOnly)

  private val genStream: Gen[List[Trigger]] =
    Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genTrigger))

  private type Key = (Long, Long) // (win_start_us, pk)

  /** Full recompute: each window's top-3 of the totals, with ranks. */
  private def top3(totals: Map[Key, Long]): Set[(Long, Long, Long, Long)] =
    totals.groupBy(_._1._1).toSeq.flatMap { case (w, ks) =>
      ks.toSeq.map { case ((_, pk), n) => (pk, n) }
        .sortBy { case (pk, n) => (-n, pk) }.take(3).zipWithIndex
        .map { case ((pk, n), i) => (w, pk, n, i.toLong + 1) }
    }.toSet

  property("re-ranking each trigger's changed windows from their stored " +
      "top-3 plus the delta equals a full recompute") =
    forAll(genStream) { stream =>
      val s = spark
      import s.implicits._
      var totals = Map.empty[Key, Long]
      var ranks = Set.empty[(Long, Long, Long, Long)]
      var tailTriggers = 0
      val perTrigger = stream.map { t =>
        val bumps = t.bumps.map { case (w, k, inc) =>
          ((w * DayUs, 100L + k % KeysPerWindow(w)), inc.toLong)
        }
        val kept =
          if (!t.tailOnly) bumps
          else {
            val top = top3(totals).map(r => (r._1, r._2))
            bumps.filterNot { case (key, _) => top.contains(key) }
          }
        if (t.tailOnly && kept.nonEmpty) tailTriggers += 1
        kept.foreach { case (key, inc) =>
          totals = totals.updated(key, totals.getOrElse(key, 0L) + inc)
        }
        // update mode: one row per touched key, carrying its new total
        val delta = kept.map(_._1).distinct
          .map { case (w, pk) => (w, pk, totals((w, pk))) }
        val wins = delta.map(_._1).toSet
        if (wins.nonEmpty) {
          val oldTop = ranks.filter(r => wins.contains(r._1)).toSeq
          val got = CdcQueries.cdc34Rerank(
              oldTop.toDF("win_start_us", "pk", "n", "rnk"),
              delta.toDF("win_start_us", "pk", "n"))
            .select("win_start_us", "pk", "n", "rnk")
            .as[(Long, Long, Long, Long)].collect().toSet
          ranks = ranks.filterNot(r => wins.contains(r._1)) ++ got
        }
        val want = top3(totals)
        Prop(ranks == want) :|
          s"after ${kept.size} bumps: got ${ranks -- want}, missing ${want -- ranks}"
      }
      Prop.classify(tailTriggers > 0, "with a tail-only trigger") {
        Prop.all(perTrigger: _*)
      }
    }
}
