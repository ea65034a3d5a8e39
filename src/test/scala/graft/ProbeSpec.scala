package graft

import org.apache.spark.sql.functions._

/** The profiling pass's counters, and the shuffle claims pinned with them. */
class ProbeSpec extends SparkSpec {

  test("profile: a groupBy over parquet counts its jobs, input and shuffle, " +
    "and keeps the AQE final plan that ran") {
    val dir = java.nio.file.Files.createTempDirectory("probe_spec")
      .resolve("t").toString
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v").write.parquet(dir)
    val p = Probe.profile(spark)(spark.read.parquet(dir).groupBy("k").count())
    assert(p.error === None)
    assert(p.jobs >= 1 && p.stages >= 1 && p.tasks >= 1)
    assert(p.inputBytes > 0 && p.inputRecords === 1000L)
    assert(p.shuffleWriteRecords > 0 && p.shuffleReadBytes > 0)
    assert(p.planS > 0.0)
    assert(p.driverGapS >= 0.0 && p.driverGapS <= p.wallS)
    val plan = p.plan.get
    assert(plan.contains("isFinalPlan=true") && plan.contains("HashAggregate"))
  }

  test("profile: a query that fails is recorded with its error, not thrown") {
    val p = Probe.profile(spark)(spark.read.parquet("/nonexistent/probe_spec"))
    assert(p.error.exists(_.contains("PATH_NOT_FOUND")) && p.jobs === 0 &&
      p.plan === None)
  }

  test("Ranks.byValue shuffles the rows once: < 1.5 n shuffle-write records " +
    "(BASELINE.md, Round 11 — Ranks.byValue: 3,000,020 → 1,000,020 at 1 M)") {
    val n = 10000
    val df = spark.range(n).select(col("id"),
        (col("id") % 3).cast("string").as("g"))
      .withColumn("_v", struct(col("id").as("_a")))
    val p = Probe.profile(spark)(
      graft.ext.Ranks.byValue(df, "g", finish = identity, eager = false))
    assert(p.error === None)
    assert(p.shuffleWriteRecords >= n && p.shuffleWriteRecords < 1.5 * n)
  }
}
