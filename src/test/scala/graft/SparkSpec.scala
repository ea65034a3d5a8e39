package graft

import graft.util.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared suite base: one session per forked test JVM (getOrCreate reuses). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(cores = 4, shufflePartitions = 4)
    // The fixtures are KB-sized, so exchanges start at the cores floor
    // that GraftSession.dataConf gives so small an input, not at local's
    // 256 no-footprint fallback, under which every shuffle of a few rows
    // wrote 256 map-side partitions and the suite ran ~1.6x as long.
    s.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      GraftSession.initialPartitions(0L, 4).toString)
    s
  }

  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath
}
