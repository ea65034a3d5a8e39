package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The one session conf the driver mains share, checked as a pure map. */
class DataConfSpec extends AnyFunSuite {

  private val parts = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  test("dataConf: the driver mains' conf, key for key") {
    assert(GraftSession.dataConf("/nonexistent/sf", 4) === Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "8",
      parts -> "4",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.network.timeout" -> "800s",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("dataConf: start partitions follow the input footprint unless pinned") {
    val dir = java.nio.file.Files.createTempDirectory("data_conf")
    java.nio.file.Files.write(dir.resolve("a"), new Array[Byte](6 << 20))
    try {
      // 6 MiB of input at one start per 2 MiB is 3 starts, rounded up to
      // a power of two and floored at cpus
      assert(GraftSession.dataConf(dir.toString, 2)(parts) === "4")
      assert(GraftSession.dataConf(dir.toString, 8)(parts) === "8")
      assert(GraftSession.dataConf(dir.toString, 2, Some(256))(parts) === "256")
    } finally {
      java.nio.file.Files.delete(dir.resolve("a"))
      java.nio.file.Files.delete(dir)
    }
  }
}
