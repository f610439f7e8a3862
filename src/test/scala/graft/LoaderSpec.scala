package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression spec for [[Tables.events]]'s schema-adaptive `ts`
  * normalizer. Round 5 lost its entire driver run to an untested
  * generator change (events.ts shipped as µs TIMESTAMP_NTZ instead of
  * ns INT64 → 22 queries threw DATATYPE_MISMATCH); this spec writes
  * tiny parquet files in every physical shape the generator has ever
  * shipped and pins that the loader output is identical across them —
  * the next generator change becomes a test failure, not a lost round.
  */
class LoaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // one instant, three physical encodings
  private val epochMicros = Seq(
    1700000000000000L, 1700000123456789L, 1699999999999999L)

  private def dirFor(tag: String): String = TestDirs.tmp(s"graft_loader_$tag")

  private def loadedMicros(dir: String): Seq[Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType,
      s"loader must emit TimestampType, got ${df.schema("ts").dataType}")
    df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq.sorted
  }

  test("ns-INT64, µs-NTZ and UTC-adjusted ts normalize identically") {
    import spark.implicits._

    // shape 1: raw nanosecond longs (what nanosAsLong=true yields for
    // the generator's TIMESTAMP(NANOS) int64 column)
    val nsDir = dirFor("ns")
    epochMicros.map(_ * 1000L).toDF("ts")
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")

    // shape 2: microsecond TIMESTAMP_NTZ (no UTC adjustment)
    val ntzDir = dirFor("ntz")
    epochMicros.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")

    // shape 3: plain UTC-adjusted TIMESTAMP
    val tzDir = dirFor("tz")
    epochMicros.toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$tzDir/events.parquet")

    val expected = epochMicros.sorted
    assert(loadedMicros(nsDir) == expected, "ns-INT64 shape")
    assert(loadedMicros(ntzDir) == expected, "µs-NTZ shape")
    assert(loadedMicros(tzDir) == expected, "UTC-adjusted shape")
  }

  test("ntz normalization ignores spark.sql.timestampType override") {
    import spark.implicits._
    // a session configured to prefer NTZ must still get TimestampType
    // out of the loader (the cast pins the target type; to_timestamp
    // would become an identity under this conf)
    val d = dirFor("ntzconf")
    epochMicros.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val prev = spark.conf.getOption("spark.sql.timestampType")
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try assert(loadedMicros(d) == epochMicros.sorted)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.timestampType", v)
      case None => spark.conf.unset("spark.sql.timestampType")
    }
  }

  test("an unrecognized ts shape fails fast at the loader") {
    import spark.implicits._
    val d = dirFor("bad")
    Seq("2024-01-01 00:00:00").toDF("ts")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, d))
    assert(e.getMessage.contains("events.ts"))
  }
}
