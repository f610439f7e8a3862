package graft

import graft.fs.{ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("posture: a preset key wins, an unset key gets graft's value") {
    val all = GraftSession.posture(new SparkConf(false), 3, "app").toMap
    assert(all("spark.master") == "local[3]")
    assert(all("spark.sql.shuffle.partitions") == "3")
    assert(all("spark.sql.adaptive.enabled") == "true")
    assert(GraftSession.localFs.forall { case (k, v) => all(k) == v })
    val preset = new SparkConf(false)
      .set("spark.sql.adaptive.enabled", "false")
      .set("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    val left = GraftSession.posture(preset, 3, "app").toMap
    assert(left == all -- Seq("spark.sql.adaptive.enabled", "spark.hadoop.fs.file.impl"))
  }

  test("the test session runs on the engine's local filesystem") {
    val conf = SparkTestSession.spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getLocal(conf).getRawFileSystem
      .isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }
}
