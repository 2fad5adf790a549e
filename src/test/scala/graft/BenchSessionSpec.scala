package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSessionSpec extends AnyFunSuite {

  test("the shared measurement session keeps Bench's settings at a given width") {
    assert(Bench.sessionConf("8") === Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "4",
      "spark.ui.enabled" -> "false"))
  }
}
