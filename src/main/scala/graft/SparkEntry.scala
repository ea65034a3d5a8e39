package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates the per-module registries; every entry with a
  * DuckDB-expressible equivalent also appears in `oracleSql` (the driver's
  * correctness gate). Non-SQL-expressible ops get a rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] =
    RelationalQueries.all ++ WarehouseQueries.all ++ ExtensionQueries.all ++
      PipelineQueries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ WarehouseQueries.oracle ++ ExtensionQueries.oracle ++
      PipelineQueries.oracle

  /** Per-query `initialPartitionNum` overrides for exchanges AQE's
    * byte-based sizing mis-sizes. The footprint-derived session default
    * (32 starts at sf0.1) is right for the byte-heavy warehouse/retrieval
    * chains, but the postings/LM-pair exchanges carry few BYTES and much
    * CPU per row — byte-based coalescing starves them of tasks. Measured
    * idle 5-rep A/B at sf0.1 (BASELINE round 12): 32 → 256 starts gives
    * x96 2.32 → 1.81 s, x137 1.17 → 0.95 s, x138 1.23 → 0.94 s, x99
    * 3.22 → 2.77 s, while the chain queries that 256 hurts (x106 6.7 →
    * 9.5 s, x139 3.3 → 3.6 s) stay on the session default. Consumed by
    * [[Bench]], which sets the session conf around each query's reps.
    */
  def initialParts: Map[String, Int] = Map(
    "x96_bm25_topk" -> 256,
    "x99_hybrid_rrf" -> 256,
    "x137_lm_backoff_score" -> 256,
    "x138_lm_incr" -> 256)

  /** Set the session's `initialPartitionNum` for query `name`: its
    * [[initialParts]] entry, else `default`. SPARK_GRAFT_INITIAL_PARTS
    * wins over the per-query map: an A/B run requesting a width must
    * actually measure it, including for the queries the map covers
    * (round-12 advice — the override silently measured 256 vs 256 for
    * exactly the x96/x99/x137/x138 family). AQE reads the conf at stage
    * execution, so setting it before the query runs is what takes effect.
    */
  def setInitialParts(spark: SparkSession, name: String, default: String): Unit =
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      initialParts.get(name).filterNot(_ => sys.env.contains("SPARK_GRAFT_INITIAL_PARTS"))
        .fold(default)(_.toString))

  /** The queries a driver main runs: those named in `only` (the comma
    * list of SPARK_GRAFT_ONLY), or all of them when it is unset. Unknown
    * names are reported through `warn`, and a list naming no query
    * throws: a misspelled name must not yield a silent empty suite
    * (bench.json with total 0 reads as a suspiciously fast valid run).
    */
  def select(only: Option[String],
      warn: String => Unit = System.err.println): Map[String, Q] =
    only.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(names) =>
        val unknown = names -- queries.keySet
        if (unknown.nonEmpty)
          warn(s"WARNING: unknown SPARK_GRAFT_ONLY names: ${unknown.toSeq.sorted.mkString(",")}")
        val qs = queries.filter { case (n, _) => names(n) }
        require(qs.nonEmpty, s"SPARK_GRAFT_ONLY matched no queries: ${names.toSeq.sorted.mkString(",")}")
        qs
      case None => queries
    }
}
