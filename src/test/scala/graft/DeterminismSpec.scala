package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partitioning-invariance evidence: the engine's results must be
  * byte-identical regardless of parallelism (the difference between
  * local[4] and a 1000-executor cluster is only partition count) —
  * this is what the exact-decimal accumulation and fixed-fold vector
  * math buy (SURVEY §3/§5).
  */
class DeterminismSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  /** EVERY query must be partitioning-invariant, with ONE documented
    * exception: q35's GK quantile sketch is merge-order-sensitive by
    * definition (the same data split differently can emit a different
    * — equally valid — approximate quantile). q20's HLL IS
    * merge-order-insensitive, so it stays in. Everything exact is in. */
  private val sketchExempt = Set("q35_approx_quantile")
  private lazy val sensitive: Seq[String] =
    SparkEntry.all.map(_.name).filterNot(sketchExempt)

  test("results are identical at 1x and 16x input partitioning") {
    sensitive.foreach { name =>
      val fn = SparkEntry.queries(name)
      val base = fn(spark, sf)
      // force radically different partitioning upstream of every
      // aggregation by changing the split size => different task
      // boundaries, different accumulation groupings
      val conf = "spark.sql.files.maxPartitionBytes"
      val old = spark.conf.get(conf)
      try {
        spark.conf.set(conf, (64 * 1024).toString) // 64 KiB splits
        val repartitioned = fn(spark, sf)
        withClue(name) {
          assert(repartitioned.count() == base.count())
          assert(repartitioned.except(base).count() == 0)
          assert(base.except(repartitioned).count() == 0)
        }
      } finally spark.conf.set(conf, old)
    }
  }

  test("shuffle partition count does not change results") {
    val conf = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(conf)
    val fn = SparkEntry.queries("q04_agg_group")
    try {
      spark.conf.set(conf, "1")
      val p1 = fn(spark, sf).collect().toSet
      spark.conf.set(conf, "17")
      val p17 = fn(spark, sf).collect().toSet
      assert(p1 == p17)
    } finally spark.conf.set(conf, old)
  }

  test("cdc43's DOUBLE projection is exact: every unscaled value of " +
      "its DECIMAL(18,4) column is below 2^53") {
    // DOUBLE holds every integer below 2^53 exactly, so a DECIMAL(18,4)
    // whose unscaled value stays under it converts to the same DOUBLE
    // in every engine; checked at the smoke SF and the oracle's SF
    val limit = java.math.BigInteger.ONE.shiftLeft(53)
    for (dir <- Seq(sf, java.nio.file.Paths.get(sf).resolveSibling("sf0.01")
        .toString)) {
      graft.cdc.CdcQueries.defs.find(_.name == "cdc43_sql_typed_changelog")
        .get.run(spark, dir)
      // the table holds every emitted row, -U's before-image included
      val r = spark.table(graft.cdc.CdcQueries.cdc43Table(dir))
        .agg(count(col("val")), max(abs(col("val")))).head()
      withClue(dir) {
        assert(r.getLong(0) > 0, "no non-null val: the bound is vacuous")
        val unscaled = r.getDecimal(1).setScale(4).unscaledValue()
        assert(unscaled.compareTo(limit) < 0,
          s"max |unscaled val| $unscaled is not below 2^53")
      }
      graft.sources.KafkaSimBroker.clear()
    }
  }
}
