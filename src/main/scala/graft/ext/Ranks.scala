package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed order statistics without a per-group total-order window.
  *
  * `Window.partitionBy(group).orderBy(value)` assigns each GROUP to one
  * reducer: correct at any size, but parallelism is bounded by group count —
  * five language strata over a 100 TB corpus means five tasks each sorting
  * ~20 TB. The shape here keeps parallelism bounded by the shuffle
  * partition count, and the corpus crosses the wire ONCE:
  *
  *  1. range-partition rows on `(group, value)` — Spark's RangePartitioner
  *     samples boundaries, so a single group spreads over many partitions
  *     while rows with EQUAL `(group, value)` keys always co-locate (range
  *     boundary assignment is a binary search on the full sort key) — and
  *     sort within partitions, PERSISTED so both consumers below read the
  *     one shuffle;
  *  2. per-row ordinals from `monotonically_increasing_id()` over the
  *     sorted partitions: a `(partition, group)` slice is contiguous after
  *     the sort and the id increments by one per row within a partition,
  *     so `_mid − min(_mid in slice) + 1` IS the slice-local rank — no
  *     window, no second corpus-sized exchange;
  *  3. per-slice counts/minima (a tiny `partitions × groups` aggregate)
  *     prefix-summed and broadcast back turn local ranks into global ones.
  *
  * Measured (BASELINE.md, "Round 11 — Ranks.byValue", 1 M rows; pinned
  * at 10 k rows by ProbeSpec): the earlier window-based two-pass
  * shuffled the corpus THREE times — the range exchange was built
  * once per consumer (column pruning gives the two branches different
  * payloads, so ReuseExchange never fires) plus a hash exchange the
  * `row_number` window demanded because Catalyst cannot know
  * `spark_partition_id` rows are already co-located. This shape shuffles
  * it once: 3,000,020 → 1,000,020 shuffle-write records.
  *
  * The offset table's own prefix-sum window IS per-group single-task, but
  * over `partitions` rows per group, not corpus rows — driver-side-small by
  * construction. Equal values may receive their tied ranks in a different
  * permutation than a single global window would produce; any consumer that
  * reads a VALUE at a rank (quantiles) is unaffected because permuted ties
  * are equal values, and order-sensitive callers pass a total-order `_v`
  * struct (md5/id tie-broken) anyway.
  */
private[graft] object Ranks {

  /** Rank `df`'s rows by `_v` ascending within `groupCol`, one shuffle.
    *
    * Input: columns (`groupCol`, `_v`), `_v` non-null. Output adds
    * `_pid` (range partition id — kept so callers/probes can assert the
    * spread), `_n` (group size) and `_rn` (1-based global rank in the
    * group).
    *
    * Cache lifecycle: the range-partitioned frame is operator-local and
    * corpus-sized; leaving it cached for the session would leak one
    * MEMORY_AND_DISK corpus copy per invocation (quantiles, shards,
    * packing, CCNet buckets all ride this). Two modes:
    *
    *  - `eager = true` (default): `finish(ranked)` — the caller's
    *    projection, which MUST be a compact reduction (quantile rows,
    *    boundary tables) — is materialized into its own cache via
    *    [[graft.util.Caching.materializeAndRelease]] and the parted frame
    *    (plus `alsoRelease`) is unpersisted before this returns. Passing a
    *    corpus-sized `finish` (or omitting it) here would persist a full
    *    corpus copy AND split the caller's query in two — pass
    *    `eager = false` for that shape instead.
    *  - `eager = false`: no job runs and the result is NOT persisted — the
    *    caller's own terminal action materializes everything as one fused
    *    query (full exchange reuse across sibling branches); the parted
    *    cache is registered via [[graft.util.Caching.releaseWhenUsed]] and
    *    released at the next cache-managed operator entry after that
    *    action has run. The right mode when the result is corpus-sized and
    *    consumed once (shard layouts, packing). A caller that re-consumes
    *    the result after the deferred release recomputes it from lineage —
    *    correct (offsets are tie-permutation-invariant: per-slice counts
    *    and min-ids over contiguous sorted runs), just unaided by cache.
    */
  def byValue(df: DataFrame, groupCol: String,
      // no default: eager = true REQUIRES a compact reduction here (a
      // defaulted identity would silently persist a corpus-sized copy
      // and split the caller's query in two) — every caller states its
      // finish, and `identity` is only legitimate alongside eager=false
      finish: DataFrame => DataFrame,
      alsoRelease: Seq[DataFrame] = Nil,
      eager: Boolean = true): DataFrame = {
    val nParts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // persisted: the offsets aggregate AND the rank attach both consume
    // this frame — unpersisted, each builds its own (differently-pruned,
    // hence never reused) copy of the range exchange
    val parted = df
      .repartitionByRange(nParts, col(groupCol).asc, col("_v").asc)
      .sortWithinPartitions(col(groupCol).asc, col("_v").asc)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_mid", monotonically_increasing_id())
      .persist()
    // per-slice row counts and ordinal bases: ≤ nParts × groups rows
    val offsets = parted
      .groupBy(col("_pid"), col(groupCol))
      .agg(count(lit(1)).as("_c"), min(col("_mid")).as("_m0"))
      .withColumn("_off", coalesce(
        sum(col("_c")).over(Window.partitionBy(col(groupCol))
          .orderBy(col("_pid").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", sum(col("_c"))
        .over(Window.partitionBy(col(groupCol))))
      .select(col("_pid"), col(groupCol), col("_m0"), col("_off"), col("_n"))
    val ranked = parted
      .join(broadcast(offsets), Seq("_pid", groupCol))
      .withColumn("_rn", col("_mid") - col("_m0") + 1 + col("_off"))
      .drop("_mid", "_m0", "_off")
    if (eager)
      graft.util.Caching.materializeAndRelease(
        finish(ranked), (parted +: alsoRelease): _*)
    else {
      graft.util.Caching.releaseWhenUsed((parted +: alsoRelease): _*)
      finish(ranked)
    }
  }
}
