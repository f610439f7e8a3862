package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.timed]] is the one way graft times a query (Bench, every
  * [[Probe]] mode, ScaleProbe), so it must execute the plan a consumer
  * pays for, not the one Catalyst prunes `count()` down to. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("Bench.timed runs every row through a projection df.count() prunes") {
    val calls = spark.sparkContext.longAccumulator("probe-spec-udf")
    val bump = udf { (x: Long) => calls.add(1); x }
    def df = spark.range(1000).select(bump(col("id")).as("v"))

    assert(df.count() == 1000)
    assert(calls.value == 0,
      "df.count() ran the projection, so the check below proves nothing")
    val (secs, rows) = Bench.timed(spark)(df)
    assert(rows == 1000)
    assert(calls.value == 1000)
    assert(secs > 0)
  }

  test("Probe rejects an unknown mode or query name before it builds a session") {
    def rejected(args: String*): String =
      intercept[IllegalArgumentException](
        Probe.run(args.toArray, fail("built a session"))).getMessage
    val modes = Probe.Modes.mkString(", ")

    val badMode = rejected("bogus", "sf_dir")
    assert(badMode.contains("unknown mode 'bogus'") && badMode.contains(modes),
      badMode)
    val badName = rejected("time", "sf_dir", "q04_agg_group,no_such_query")
    assert(badName.contains("unknown query no_such_query") &&
      badName.contains(modes), badName)
    assert(rejected("time").contains(modes))
  }
}
