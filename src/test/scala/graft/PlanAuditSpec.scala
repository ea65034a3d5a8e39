package graft

/** Scale-shape guard over the ENTIRE query surface: no query may plan a
  * CartesianProduct, and nested-loop joins are allowed only where they are
  * the documented design (bounded broadcast compares and the explicit
  * all-pairs exact baselines). Catches an accidental quadratic plan the
  * moment a refactor introduces one, on every future round.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose physical plan legitimately contains a broadcast
    * nested-loop join:
    *  - x6/x8: documented exact all-pairs baselines (the scale paths are
    *    x7/x16/x20/x27/x28);
    *  - x16/x20/x28/x33: the O(n·nCells) broadcast centroid compare of IVF
    *    assignment (bounded by the tiny centroid side, never pairwise);
    *  - x52: the same device twice over — the single-row coarse-centroid
    *    AND single-row codebook attaches of PQ assignment/ADC scoring
    *    (both build sides are one collected row);
    *  - x55/x58 (and x62, which composes x58): ONE-ROW scalar attaches
    *    (the corpus doc count under every tf row; the global budget B
    *    under every stratum total) — the build side is a single aggregate
    *    row, so the "nested loop" is a constant columnar append, never a
    *    pairwise compare.
    */
  private val nestedLoopAllowed = Set(
    // x80 embeds the x8 exact all-pairs baseline as its ground truth —
    // the same documented guarded sampled pass
    "x80_lsh_recall_report",
    "x6_cosine_topk", "x8_embed_neardup",
    "x16_ann_ivf", "x20_ann_ivf_kmeans", "x28_ann_ivf_nprobe",
    "x33_ann_quantized_rescore", "x52_ann_pq_adc",
    "x55_tfidf_terms", "x58_mixture_sample", "x62_layout_e2e",
    // x75/x76/x79/x83: the same single-row broadcast centroid attach as
    // the IVF family (x76 reads the centroids from its maintained table;
    // x79 repeats the attach once per Lloyd round; x83 routes both the
    // query and index sets through it — the candidate pairing itself is a
    // cell equi-join)
    "x75_cluster_cap_sample", "x76_cell_assign_incr", "x79_kmeans_assign",
    "x83_margin_mine",
    // x96/x98/x100: the same ONE-ROW scalar attach as x55/x58 (corpus
    // (N, T) under every postings hit; the global sensitive total under
    // every class row); x99/x106 additionally embed the x6 exact
    // all-pairs cosine baseline as their semantic list (the scale path
    // swaps in IVF)
    "x96_bm25_topk", "x98_bm25_incr", "x99_hybrid_rrf", "x100_t_closeness",
    // x107: x58's one-row global-budget attach through mixtureSample;
    // x108: the one-row (N_ref, N_cur) totals attach; x110: the G×G
    // group-pair generation (G = source cardinality, sketch rows only —
    // never corpus data)
    "x106_retrieval_e2e", "x107_temperature_mix", "x108_drift_report",
    "x110_kmv_overlap", "x111_kmv_incr",
    // x114 composes x110's pair generation as its triage head; x115 is
    // the IVF family's single-row broadcast centroid attach (twice: the
    // labeled and unlabeled sides' cell assignment)
    "x114_overlap_triage_e2e", "x115_label_propagation",
    "x116_label_prop_eval", "x117_cell_purity", "x118_label_confusion",
    "x119_confidence_calibration",
    // x122 embeds the x6 exact all-pairs baseline as its ground truth
    // (the guarded sampled tuning pass, like x80) AND the IVF family's
    // single-row broadcast centroid attach on the ANN side
    "x122_ivf_recall_report",
    // x123: the IVF family's single-row centroid attach (both occupancy
    // sides) + the one-row totals attach of the drift algebra
    "x123_centroid_drift",
    // x125: x122's shape for the seeded-vs-refined comparison — the
    // exact all-pairs ground truth + the IVF/Lloyd centroid attaches
    "x125_ivf_recall_refined",
    // x127: x108's one-row (N_ref, N_cur) totals attach over bins
    "x127_numeric_drift",
    // x130: x122's shape for the JL-distortion measurement — the exact
    // all-pairs ground truth AND the guarded all-pairs rank in the
    // projected space (both documented sampled tuning passes; production
    // composes jlProject with the IVF/LSH family)
    "x130_jl_recall_report",
    // x131: the IVF family's single-row broadcast centroid attach, over
    // JL-projected vectors (ivfTopKProbed's exact plan — the pairing
    // itself is the cell equi-join)
    "x131_jl_ivf_topk",
    // x143: same single-row centroid attach as x131; ranking reads only
    // the probed cells' members via the cell equi-join
    "x143_jl_ivf_rescore",
    // x147: x143's shape plus one projected-space Lloyd refinement round —
    // the refinement aggregates cells·outDims (nothing corpus-wide) and
    // re-attaches the refined single-row centroid array via the same
    // broadcast one-row attach (Similarity.scala kmeansCentroids/centRow)
    "x147_jl_ivf_rescore_refined",
    // x132: the same single-row centroid attach on both the corpus and
    // eval sides; the contamination pairing is the cell equi-join
    "x132_semantic_decontam",
    // x135/x137/x138: the x55/x58 ONE-ROW scalar attach again — the total
    // gram mass N under every CMS candidate row; the train token mass T
    // under every scored pair (both build sides are a single aggregate
    // row; x138 reads T off the merged maintained table)
    "x135_cms_heavy_hitters", "x135b_cms_hh_probe",
    "x137_lm_backoff_score", "x138_lm_incr",
    // x144/x146 compose x137's scoring leg (the same one-row T attach)
    "x144_ccnet_buckets", "x146_ccnet_route_incr",
    // x139 composes x137's scoring leg (the same T attach)
    "x139_lm_curation_e2e",
    // x154/x155: the single-row min/max BOUNDS attach (one aggregate row
    // of four longs broadcast under every input row — Corpus.zorderLayout
    // / zorderLayoutAgainst's frozen frame)
    "x154_zorder_layout", "x155_zorder_incr",
    // x156/x157 compose the x154 layout (the same bounds attach); x158
    // additionally pairs |probeKeys| rows against the shards-sized
    // broadcast bloom index — "which shards might hold this key" has no
    // equi-key by construction (Corpus.bloomShardIndex)
    "x156_shard_stats", "x157_bloom_index", "x158_bloom_probe",
    // x159 composes the x155 frozen-frame assignment on both slices
    // (the same bounds attach)
    "x159_shard_stats_incr",
    // x160/x163: the x154/x155 bounds attach generalized to the 3-d
    // frame (one aggregate row of six longs broadcast under every row)
    "x160_zorder_3d", "x163_zorder_3d_incr",
    // x164: the same single-row bounds attach with the string dim's
    // bounds assembled from the dict's OWN tiny aggregate (1-row ×
    // 1-row crossJoin inside the bounds build, then the one-row frame
    // under every input row — the dict value mapping itself is a
    // broadcast EQUI-join, not part of this allowance)
    "x164_zorder_string_dim")

  // the pipeline queries execute whole multi-minute chains on
  // construction; their physical shape is covered by PipelineSpec
  private val skip = Set("e2e_full_load", "e2e_delta_load", "e2e_stream_delta")

  // one test per query: no cartesian product, nested loops only where
  // documented. A query that throws while being built fails only its own
  // test, and `-oD` reports each query's time
  SparkEntry.queries.toSeq.filterNot { case (name, _) => skip(name) }
    .sortBy(_._1).foreach { case (name, fn) =>
      test(s"plan audit: $name") {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        spark.catalog.clearCache()
        assert(!plan.contains("CartesianProduct"), s"$name: CartesianProduct")
        assert(!plan.contains("BroadcastNestedLoopJoin") ||
          nestedLoopAllowed(name),
          s"$name: undocumented BroadcastNestedLoopJoin")
      }
    }

  test("x10 computes every quality signal in one fused expression pass") {
    // the signals are computed by the single codegen'd `quality_scores`
    // struct expression — a regression back to the staged split/HOF shape
    // (or a refactor that evaluates the expression once per extracted
    // field) shows up as extra split/regexp passes or repeated
    // quality_scores calls in the optimized plan.
    val plan = SparkEntry.queries("x10_quality_score")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    def count(s: String, sub: String): Int = s.sliding(sub.length).count(_ == sub)
    assert(count(plan, "quality_scores(") === 1,
      s"expected exactly one quality_scores, plan:\n$plan")
    assert(count(plan, "split(") === 0, s"expected no split, plan:\n$plan")
  }

  test("contamination scan broadcasts the eval side") {
    // x39's scale claim is that the corpus gram stream is map-only: the
    // eval grams must arrive as a broadcast, never as a shuffled join side
    val plan = SparkEntry.queries("x39_contamination_scan")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("mega-domain skew: AQE splits the skewed source join, and " +
    "saltedJoin bounds per-reducer key input as the manual fallback") {
    import graft.util.Skew
    import org.apache.spark.sql.functions._
    // one source holds 7/8 of the rows — the x69 scaladoc's hazard case
    val n = 80000
    val docs = spark.range(n.toLong).select(col("id").as("doc_id"),
      when(col("id") % 8 =!= 0, lit("megadomain"))
        .otherwise(concat(lit("s"), col("id") % 37)).as("source"),
      md5(col("id").cast("string")).as("payload"))
    val stats = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val confs = Seq(
      // model the stats-side-too-big-to-broadcast regime + scale AQE's
      // skew thresholds down to the fixture size
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "50KB")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // regime 1 — stats as a MAINTAINED table (the production shape for
      // source reputation): both join inputs are plain shuffles, and AQE
      // splits the megadomain partition. collect() executes THIS
      // Dataset's QueryExecution (count() would wrap a new one), so the
      // adaptive plan below is the final one.
      val statsDir = java.nio.file.Files
        .createTempDirectory("skewstats").toString
      stats.write.mode("overwrite").parquet(statsDir)
      val joinedTbl = docs.join(spark.read.parquet(statsDir), Seq("source"))
      assert(joinedTbl.collect().length === n)
      val planTbl = joinedTbl.queryExecution.executedPlan.toString
      assert(planTbl.contains("skew=true"),
        s"expected AQE to mark the skewed join, plan:\n$planTbl")
      // regime 2 — the same stats aggregated IN the query: the final
      // HashAggregate between the shuffle stage and the join means
      // OptimizeSkewedJoin cannot match (splitting an agg's input
      // partition would break it) — the documented case Skew.saltedJoin
      // exists for. Assert the limitation so a Spark version that lifts
      // it surfaces here.
      val joinedAgg = docs.join(stats, Seq("source"))
      assert(joinedAgg.collect().length === n)
      val planAgg = joinedAgg.queryExecution.executedPlan.toString
      assert(!planAgg.contains("skew=true"),
        s"AQE now splits agg-fed joins — revisit Skew scaladoc:\n$planAgg")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // the manual fallback: salting splits the hot key's reducer input by
    // ~salt, and the join result is exactly the plain join's
    val salt = 16
    val maxGroup = Skew.salted(docs, salt)
      .groupBy(col("source"), col("_salt")).agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head().getLong(0)
    assert(maxGroup <= (n * 7L / 8 / salt) * 3 / 2,
      s"hot-key group not split: max (source, salt) group = $maxGroup")
    val plainRows = docs.join(stats, Seq("source"))
      .agg(bit_xor(xxhash64(col("doc_id"), col("source"), col("n_docs"))))
      .head().getLong(0)
    val saltedRows = Skew.saltedJoin(docs, stats, Seq("source"), salt)
      .agg(bit_xor(xxhash64(col("doc_id"), col("source"), col("n_docs"))))
      .head().getLong(0)
    assert(saltedRows === plainRows)
  }

  test("IVF assignment is map-only: no per-id ranking window beyond top-k") {
    // the round-6 shape scores all centroids per row inside one higher-order
    // transform; reintroducing the old per-(vector, centroid) row stream
    // shows up as a second Window (row_number over _id) in the plan
    for (name <- Seq("x16_ann_ivf", "x20_ann_ivf_kmeans", "x28_ann_ivf_nprobe")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan.toString
      val windows = plan.linesIterator.count(_.contains("Window ["))
      assert(windows === 1, s"$name: expected only the rank window, got $windows")
    }
  }
}
