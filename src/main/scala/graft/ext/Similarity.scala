package graft.ext

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.functions.FloatDot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim

/** Similarity search over embedding columns (`array<float>`).
  *
  * Three paths:
  * - [[bruteForceTopK]]: exact all-pairs cosine + per-query rank. O(n²·d) —
  *   the correctness baseline, and still the right choice for one bounded
  *   side (queries × corpus with a broadcast of the small side).
  * - [[lshTopK]]: random-hyperplane LSH. Each vector gets a sign-bit bucket
  *   from `p` fixed hyperplanes; ranking runs only within buckets, so the
  *   join is an equi-join on bucket (shuffle O(n), compare O(Σ bucket²)).
  *   Hyperplanes are deterministic (md5-seeded ±1), so results are
  *   reproducible across runs and engines.
  * - [[ivfTopK]]: IVF coarse quantization — nearest-centroid cells,
  *   ranking within the cell (nprobe=1).
  *
  * All dot products fold left-to-right in double precision — bit-identical
  * to a serial evaluation regardless of partitioning. The hot loop is the
  * codegen'd [[graft.functions.FloatDot]] over primitive float arrays, and
  * per-vector norms are computed once on the O(n) side of every O(n²)
  * pairing (never per pair). Pair rows are projected down to
  * (id, id, cosine) before any shuffle, so the window/sort stages move
  * 24-byte rows, not embedding payloads.
  */
object Similarity {

  /** Codegen'd sequential-fold dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    shim.column(FloatDot(shim.expression(a), shim.expression(b)))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Deterministic ±1 hyperplane component: top bit of the first md5 nibble
    * of "plane:dim". Reproducible anywhere md5 exists (also used to build
    * the DuckDB oracle for the LSH query).
    */
  def planeSign(plane: Int, dim: Int): Double = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"$plane:$dim".getBytes(StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 0x8) != 0) 1.0 else -1.0
  }

  def planes(nPlanes: Int, dims: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map(p => (0 until dims).map(d => planeSign(p, d)))

  /** Sign-bucket id ('1'/'0' per hyperplane) for an embedding column.
    * ±1.0 is exact in float, so float-array plane literals keep the dot
    * product bit-identical to the double-list oracle.
    */
  def lshBucket(emb: Column, planeVectors: Seq[Seq[Double]]): Column = {
    val bits = planeVectors.map { pv =>
      val planeLit = array(pv.map(v => lit(v.toFloat)): _*)
      when(dot(emb, planeLit) >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** (id, vec, norm [, extra...]) projection: norms are computed once per
    * vector here, not once per pair in the O(n²) stage.
    */
  private def withNorm(emb: DataFrame, idCol: String, vecCol: String,
      id: String, vec: String, norm: String, extra: Column*): DataFrame =
    emb.select(Seq(col(idCol).as(id), col(vecCol).as(vec),
      sqrt(dot(col(vecCol), col(vecCol))).as(norm)) ++ extra: _*)

  /** Spread the stream side of an O(n²) broadcast join across every core:
    * an embeddings table is small on disk (a few MB per million rows), so
    * the file scan yields one partition and the quadratic compare would
    * otherwise run on a single thread. At cluster scale this is the same
    * shape — partition the query side, broadcast the corpus side.
    */
  private def spread(df: DataFrame): DataFrame =
    graft.util.Par.spread(df)

  /** Like [[spread]], but hash-partitioned on `key`: the broadcast join
    * preserves stream-side partitioning, so a downstream
    * `Window.partitionBy(key)` needs no exchange — the O(n²) pair stream
    * never gets shuffled, only sorted within partitions.
    */
  private def spreadBy(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** Shared ranking epilogue: cosine per (a, b) pair row, per-query
    * `row_number` ranked by cosine desc with neighbor-id tie-break, top k,
    * 9-digit rounding. Expects columns query_id/_va/_na and
    * neighbor_id/_vb/_nb on `pairs`.
    */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val slim = pairs.select(col("query_id"), col("neighbor_id"),
      (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("_cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id").asc)
    slim.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("_cos"), 9).as("cosine"), col("rank"))
  }

  /** Hard cap on the all-pairs exact baselines ([[bruteForceTopK]],
    * [[cosineNearDups]]): both are O(n²) by construction and exist as
    * recall oracles for bounded corpora only. The guard makes that contract
    * mechanical — a caller pointing one at a large corpus fails fast with
    * the scale-safe alternative named, instead of silently launching a
    * quadratic job; callers that really mean it pass a bigger cap.
    */
  val DefaultMaxExactRows: Long = 100000L

  private def guardAllPairs(emb: DataFrame, maxExactRows: Long, op: String,
      alternative: String): Unit = {
    // Catalyst's optimized-plan statistics answer the bound without a job
    // when an exact row count is known (e.g. a LocalRelation, a cached
    // plan, or CBO stats); only plans with no row-count stat pay the
    // eager count() action.
    val n = emb.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(emb.count())
    require(n <= maxExactRows,
      s"$op is an all-pairs exact baseline (O(n^2) pairs): corpus has $n rows" +
        s" > maxExactRows=$maxExactRows. Use $alternative at scale, or raise" +
        " maxExactRows explicitly to accept the quadratic cost.")
  }

  /** Exact top-k cosine neighbors for every vector (self excluded).
    * Output: (query_id, neighbor_id, cosine, rank); ties broken by
    * neighbor id for determinism. All-pairs — guarded by `maxExactRows`.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      maxExactRows: Long = DefaultMaxExactRows): DataFrame = {
    guardAllPairs(emb, maxExactRows, "bruteForceTopK",
      "lshTopK/ivfTopK/ivfQuantizedRescoreTopK")
    val a = spreadBy(withNorm(emb, idCol, vecCol, "query_id", "_va", "_na"), "query_id")
    val b = withNorm(emb, idCol, vecCol, "neighbor_id", "_vb", "_nb")
    rankTopK(a.join(b, col("query_id") =!= col("neighbor_id")), k)
  }

  /** Approximate top-k: rank only within the LSH sign bucket. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int, dims: Int): DataFrame = {
    val pv = planes(nPlanes, dims)
    val bucketed = withNorm(emb, idCol, vecCol, "_id", "_v", "_n",
      lshBucket(col(vecCol), pv).as("_bucket"))
    val a = bucketed.select(col("_id").as("query_id"), col("_v").as("_va"),
      col("_n").as("_na"), col("_bucket"))
    val b = bucketed.select(col("_id").as("neighbor_id"), col("_v").as("_vb"),
      col("_n").as("_nb"), col("_bucket").as("_bucket2"))
    rankTopK(a.join(b,
      col("_bucket") === col("_bucket2") && col("query_id") =!= col("neighbor_id")), k)
  }

  /** IVF-style approximate top-k: vectors are assigned to the nearest of
    * `nCells` coarse centroids (deterministic seeds: the `nCells` vectors
    * with smallest id — a k-means refinement slots in here without changing
    * the query shape), then ranking runs within the cell (nprobe=1).
    *
    * Scale shape: the centroid table is tiny and broadcast; assignment is
    * one O(n·nCells) pass; the pair join is an equi-join on cell, so
    * compare cost drops from n² to Σ cell². Deterministic end-to-end —
    * assignment ties break toward the smaller centroid id.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int): DataFrame =
    ivfTopKProbed(emb, idCol, vecCol, k, nCells, nprobe = 1)

  /** All `nCells` coarse centroids collected into ONE row
    * (`_cents: array<struct<_cid, _cvec, _cn>>`). Broadcast-joined under
    * every vector row, cell assignment becomes a MAP-ONLY higher-order
    * pass — no per-(vector, centroid) row stream, no per-id window shuffle,
    * no pick-to-vector rejoin, no persist. Seeds are the `nCells`
    * smallest-id vectors (deterministic; [[ivfTopKRefined]] slots a k-means
    * step in without changing the shape). The build side is a single row,
    * so the nested-loop join is the same documented bounded compare as the
    * previous broadcast-centroid shape.
    */
  private def centroidRow(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int): DataFrame =
    emb.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("_cid"), col(vecCol).as("_cvec"),
        sqrt(dot(col(vecCol), col(vecCol))).as("_cn"))
      .agg(collect_list(struct(col("_cid"), col("_cvec"), col("_cn")))
        .as("_cents"))

  /** Per-row scored centroid list over an attached `_cents` column,
    * ascending by (−cosine, centroid id): element 1 is the cell assignment,
    * the first `nprobe` elements are the probe list. Evaluates `nCells`
    * [[FloatDot]] products per row inside one transform — O(n·nCells) work
    * with no intermediate rows (zero-norm vectors would score NaN and sort
    * last; the corpus has none and norms are computed from the data, so the
    * ordering is total).
    */
  private def scoredCells(v: Column, n: Column): Column =
    array_sort(transform(col("_cents"), c =>
      struct((-dot(v, c.getField("_cvec")) / (n * c.getField("_cn"))).as("_neg"),
        c.getField("_cid").as("_cid"))))

  private def assignedCell(v: Column, n: Column): Column =
    element_at(scoredCells(v, n), 1).getField("_cid")

  /** IVF with multi-probe search (`nprobe > 1`): corpus vectors live in
    * their single nearest cell, but each QUERY probes its `nprobe` nearest
    * centroids and ranks over the union of those cells' members — the
    * standard IVF recall lever. Cost grows as nprobe × mean-cell-size per
    * query (still an equi-join on cell, never O(n²)); recall approaches
    * exact as nprobe → nCells. Deterministic: probe order ties break
    * toward the smaller centroid id, ranking ties toward the smaller
    * neighbor id.
    *
    * Plan shape: assignment is the map-only [[scoredCells]] pass; the pair
    * join is an equi-join on cell. For nprobe == 1 the two join inputs are
    * the SAME subtree modulo aliases, so ReuseExchange materializes the
    * assignment shuffle once — the whole query is one scoring pass, one
    * exchange, one ranking window, zero persists. For nprobe > 1 the corpus
    * side re-runs the O(n·nCells) scoring instead of caching it: the
    * recompute is a map over the (reused) spread exchange and costs less
    * than the cache write + two cache reads it replaces.
    */
  def ivfTopKProbed(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= nCells, "nprobe must be in 1..nCells")
    val cents = centroidRow(emb, idCol, vecCol, nCells)
    val vectors = spread(withNorm(emb, idCol, vecCol, "_id", "_v", "_n"))
    val corpus = vectors.join(broadcast(cents))
      .select(col("_id").as("neighbor_id"), col("_v").as("_vb"),
        col("_n").as("_nb"), assignedCell(col("_v"), col("_n")).as("_cell2"))
    val probes =
      if (nprobe == 1)
        vectors.join(broadcast(cents))
          .select(col("_id").as("query_id"), col("_v").as("_va"),
            col("_n").as("_na"), assignedCell(col("_v"), col("_n")).as("_cell"))
      else
        vectors.join(broadcast(cents))
          .select(col("_id").as("query_id"), col("_v").as("_va"),
            col("_n").as("_na"),
            explode(transform(slice(scoredCells(col("_v"), col("_n")), 1, nprobe),
              s => s.getField("_cid"))).as("_cell"))
    rankTopK(probes.join(corpus,
      col("_cell") === col("_cell2") && col("query_id") =!= col("neighbor_id")), k)
  }

  /** IVF with one Lloyd refinement step: seed cells as in [[ivfTopK]], then
    * recompute each cell's centroid as the element-wise mean of its members
    * and re-assign before ranking.
    *
    * Determinism at scale: a floating-point mean depends on partial-sum
    * order, so each element is summed as an exact DECIMAL(28,10) (decimal
    * addition commutes) followed by a single double division — bit-identical
    * on any partitioning, and reproducible by the DuckDB oracle. Further
    * Lloyd iterations repeat the same two bounded passes (O(n·d) sum +
    * O(n·nCells) assign); none of it is ever quadratic.
    */
  def ivfTopKRefined(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int): DataFrame = {
    val vectors = spread(withNorm(emb, idCol, vecCol, "_id", "_v", "_n"))
    val seeds = centroidRow(emb, idCol, vecCol, nCells)
    // seed assignment, map-only; only (_cell, _v) survives into the means
    val asn0 = vectors.join(broadcast(seeds))
      .select(assignedCell(col("_v"), col("_n")).as("_cell"), col("_v"))

    // element-wise mean per cell: exact decimal sum, one double division.
    // [[dot]] accepts the float/double mix (vectors are float, refined
    // centroids double), so the re-assignment pass below stays codegen'd.
    val sums = asn0
      .select(col("_cell"), posexplode(col("_v")).as(Seq("_pos", "_val")))
      .groupBy(col("_cell"), col("_pos"))
      .agg(sum(col("_val").cast("decimal(28,10)")).as("_sum"),
        count(lit(1)).as("_cnt"))
    val refined = sums
      .groupBy(col("_cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("_pos"),
          (col("_sum").cast("double") / col("_cnt")).as("_avg")))),
        s => s.getField("_avg")).as("_cvec"))
      .select(col("_cell").as("_cid"), col("_cvec"),
        sqrt(dot(col("_cvec"), col("_cvec"))).as("_cn"))
      .agg(collect_list(struct(col("_cid"), col("_cvec"), col("_cn")))
        .as("_cents"))

    // re-assignment against the refined single-row centroid set; the two
    // pair-join inputs are the same subtree modulo aliases, so ReuseExchange
    // materializes the refined assignment once — no persist
    val a = vectors.join(broadcast(refined))
      .select(col("_id").as("query_id"), col("_v").as("_va"),
        col("_n").as("_na"), assignedCell(col("_v"), col("_n")).as("_cell"))
    val b = vectors.join(broadcast(refined))
      .select(col("_id").as("neighbor_id"), col("_v").as("_vb"),
        col("_n").as("_nb"), assignedCell(col("_v"), col("_n")).as("_cell2"))
    rankTopK(a.join(b,
      col("_cell") === col("_cell2") && col("query_id") =!= col("neighbor_id")), k)
  }

  /** Symmetric per-vector int8 quantization: `scale = max|v| / 127`,
    * `q_i = floor(v_i/scale + 0.5)` — the explicit-floor form avoids
    * rounding-mode ambiguity across engines. Returns
    * (id, scale, q array<int>, n_sat) where n_sat counts saturated lanes.
    *
    * This is the storage/bandwidth lever for large embedding corpora: 4×
    * smaller vectors for ANN candidate generation, with exact re-ranking on
    * the float originals. The scale column is materialized before the
    * per-element lambda so the max-abs fold runs once per vector, not once
    * per element.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = aggregate(col(vecCol), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val scaled = emb.select(col(idCol), col(vecCol),
      (maxAbs / 127.0).as("scale"))
    val q = transform(col(vecCol), x =>
      when(col("scale") === 0.0, lit(0))
        .otherwise(floor(x.cast("double") / col("scale") + 0.5).cast("int")))
    scaled.select(col(idCol), col("scale"), q.as("q"))
      .select(col(idCol), round(col("scale"), 9).as("scale"),
        array_join(col("q"), ",").as("q_str"),
        size(filter(col("q"), x => abs(x) === 127)).as("n_sat"))
  }

  /** IVF + int8 candidate scoring + exact rescore — the
    * bandwidth-efficient production retrieval shape (FAISS-style IVF +
    * scalar quantization): vectors live in their nearest coarse cell;
    * within a cell, candidates are ranked by the QUANTIZED dot product
    * (int8 codes + per-vector scale, 4× smaller than the float payload);
    * only the top `candK` candidates per query are rescored with the exact
    * float cosine and cut to `k`.
    *
    * Deterministic end to end: the int dot products are exact in double,
    * scales/norms derive from order-independent folds, and every ranking
    * tie breaks toward the smaller neighbor id. The candidate pair stream
    * is projected down to (ids, approx score) before its shuffle; vectors
    * are joined back from the cached assignment only for the ≤ candK
    * survivors per query.
    */
  def ivfQuantizedRescoreTopK(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int, candK: Int): DataFrame = {
    require(candK >= k, "candK must be >= k")
    val maxAbs = aggregate(col(vecCol), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val base = spread(emb.select(col(idCol).as("_id"), col(vecCol).as("_v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("_n"), (maxAbs / 127.0).as("_sc")))
    val cents = centroidRow(emb, idCol, vecCol, nCells)
    // map-only assignment + quantization in one pass (see [[scoredCells]]);
    // the float vector is dropped here — the candidate stage moves only the
    // int8 codes, scale and norm. The two candidate-join inputs are the same
    // subtree modulo aliases, so ReuseExchange materializes this once;
    // the rescore stage re-reads the float vectors from `base`'s (equally
    // reused) spread exchange. Zero persists.
    def assigned = base.join(broadcast(cents))
      .select(col("_id"), col("_n"), col("_sc"),
        transform(col("_v"), x =>
          when(col("_sc") === 0.0, lit(0))
            .otherwise(floor(x.cast("double") / col("_sc") + 0.5).cast("int")))
          .as("_q"),
        assignedCell(col("_v"), col("_n")).as("_cell"))
    val a = assigned.select(col("_id").as("query_id"), col("_n").as("_na"),
      col("_sc").as("_sca"), col("_q").as("_qa"), col("_cell"))
    val b = assigned.select(col("_id").as("neighbor_id"), col("_n").as("_nb"),
      col("_sc").as("_scb"), col("_q").as("_qb"), col("_cell").as("_cell2"))
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("_approx").desc, col("neighbor_id").asc)
    val cands = a.join(b,
        col("_cell") === col("_cell2") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("_qa"), col("_qb")) * col("_sca") * col("_scb") /
          (col("_na") * col("_nb"))).as("_approx"))
      .withColumn("_crn", row_number().over(cw))
      .filter(col("_crn") <= candK)
      .select(col("query_id"), col("neighbor_id"))
    val va = base.select(col("_id").as("query_id"), col("_v").as("_va"),
      col("_n").as("_na"))
    val vb = base.select(col("_id").as("neighbor_id"), col("_v").as("_vb"),
      col("_n").as("_nb"))
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id").asc)
    cands.join(va, Seq("query_id")).join(vb, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("_cos"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("_cos"), 9).as("cosine"), col("rank"))
  }

  /** The `ksub` deterministic codebook seeds collected into one row
    * (`_seeds: array<struct<_sid, _svec>>`) — the smallest-id vectors,
    * the same seeding device as [[centroidRow]]. Sub-space slicing
    * happens at use sites (a slice of a float array is free relative to
    * the dot products it feeds).
    */
  private def seedsRow(emb: DataFrame, idCol: String, vecCol: String,
      ksub: Int): DataFrame =
    emb.orderBy(col(idCol)).limit(ksub)
      .select(col(idCol).as("_sid"), col(vecCol).as("_svec"))
      .agg(collect_list(struct(col("_sid"), col("_svec"))).as("_seeds"))

  /** IVF + Product Quantization with asymmetric-distance (ADC) candidate
    * scoring — the bandwidth shape large-scale ANN serving actually uses:
    * corpus vectors live in their nearest coarse cell (as in [[ivfTopK]])
    * and travel as `m` codebook CODES (per sub-space, argmin squared-L2
    * against `ksub` deterministic seed sub-vectors), 8 bytes of codes here
    * versus 256 bytes of floats. A query ranks its cell's members by the
    * asymmetric distance `Σ_j ‖q_j − c_{code_j}‖²` — computed from the
    * query's own sub-vectors and the broadcast codebook alone, the
    * candidate's floats never move — then the top `candK` are rescored
    * with the exact float cosine ([[ivfQuantizedRescoreTopK]]'s stage) and
    * cut to `k`.
    *
    * Determinism mirrors the rest of the IVF family: seeds and coarse
    * centroids are the smallest-id vectors, sub-space argmin ties break
    * toward the smaller seed id, candidate ties toward the smaller
    * neighbor id.
    *
    * The ADC distance is evaluated in its decomposed form
    * `‖q‖² + Σ_j ‖c_{code_j}‖² − 2 · q · recon(x)`, where `recon(x)` (the
    * concatenated chosen sub-vectors) and its norm term are PER-CANDIDATE
    * constants computed once in the assignment pass — per candidate pair
    * only one full-width dot product remains, instead of `m` per-sub-space
    * dot products through interpreted codebook lookups (measured 19.8 s →
    * per-pair cost of a plain cosine at sf0.1). The oracle mirrors the
    * same decomposition with the same fold order (`list_sum(list(...
    * ORDER BY j))` for the norm term), so the doubles match bit-for-bit.
    *
    * Scale shape: code assignment is one map-only pass under a broadcast
    * single-row codebook (O(n·ksub·dims) work, zero intermediate rows);
    * the candidate join is the same cell equi-join as every IVF path
    * moving (dims floats + 1 double) per candidate; only the guarded candK
    * rescore touches original float vectors again.
    */
  def ivfPqAdcTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int, m: Int, ksub: Int, candK: Int,
      dims: Int = 64): DataFrame = {
    require(candK >= k, "candK must be >= k")
    require(m > 0 && dims % m == 0, "m must divide dims")
    val sub = dims / m
    def sv(v: Column, j: Column): Column = slice(v, j * sub + 1, lit(sub))
    val base = spread(withNorm(emb, idCol, vecCol, "_id", "_v", "_n"))
    val cents = centroidRow(emb, idCol, vecCol, nCells)
    val seeds = seedsRow(emb, idCol, vecCol, ksub)
    // per sub-space the winning seed's SUB-VECTOR (argmin squared-L2, tie
    // on seed id; the id never decides between equal sub-vectors twice —
    // seed ids are unique — so the sort never compares the array field)
    val pick = transform(sequence(lit(0), lit(m - 1)), j =>
      element_at(array_sort(transform(col("_seeds"), s => struct(
        (dot(sv(s.getField("_svec"), j), sv(s.getField("_svec"), j)) -
          lit(2.0) * dot(sv(col("_v"), j), sv(s.getField("_svec"), j)))
          .as("_d"),
        s.getField("_sid").as("_sid"),
        sv(s.getField("_svec"), j).as("_sv")))), 1).getField("_sv"))
    def assigned = base.join(broadcast(cents)).join(broadcast(seeds))
      .select(col("_id"), col("_n"),
        assignedCell(col("_v"), col("_n")).as("_cell"),
        col("_v"), pick.as("_subs"))
      .select(col("_id"), col("_cell"), col("_v"),
        dot(col("_v"), col("_v")).as("_qn2"),
        flatten(col("_subs")).as("_recon"),
        aggregate(col("_subs"), lit(0.0), (acc, x) =>
          acc + dot(x, x)).as("_cn2"))
    val a = assigned.select(col("_id").as("query_id"), col("_v").as("_qv"),
      col("_qn2"), col("_cell"))
    val b = assigned.select(col("_id").as("neighbor_id"), col("_recon"),
      col("_cn2"), col("_cell").as("_cell2"))
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("_adc").asc, col("neighbor_id").asc)
    val cands = a.join(b,
        col("_cell") === col("_cell2") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("_qn2") + col("_cn2") -
          lit(2.0) * dot(col("_qv"), col("_recon"))).as("_adc"))
      .withColumn("_crn", row_number().over(cw))
      .filter(col("_crn") <= candK)
      .select(col("query_id"), col("neighbor_id"))
    val va = base.select(col("_id").as("query_id"), col("_v").as("_va"),
      col("_n").as("_na"))
    val vb = base.select(col("_id").as("neighbor_id"), col("_v").as("_vb"),
      col("_n").as("_nb"))
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id").asc)
    cands.join(va, Seq("query_id")).join(vb, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("_cos"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("_cos"), 9).as("cosine"), col("rank"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold (a < b).
    *
    * All-pairs by construction — the EXACT baseline, quadratic in corpus
    * size. Production path at scale is [[cosineNearDupsBlocked]]; this stays
    * as the recall oracle for bounded corpora, guarded by `maxExactRows`.
    */
  def cosineNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxExactRows: Long = DefaultMaxExactRows): DataFrame = {
    guardAllPairs(emb, maxExactRows, "cosineNearDups", "cosineNearDupsBlocked")
    val a = spread(withNorm(emb, idCol, vecCol, "doc_a", "_va", "_na"))
    val b = withNorm(emb, idCol, vecCol, "doc_b", "_vb", "_nb")
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("_cos"))
      .filter(col("_cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("_cos"), 9).as("cosine"))
  }

  /** Within-cell near-duplicate pairs under an IVF coarse partition:
    * every vector assigns to its nearest of `nCells` deterministic coarse
    * cells ([[centroidRow]] seeds, map-only [[scoredCells]] assignment),
    * then pairs with cosine ≥ `minCos` are found by an equi-join ON THE
    * CELL (a < b). This is the candidate structure of SemDeDup (Abbas et
    * al. 2023, arXiv:2303.09540): semantically-close vectors share a cell
    * with high probability, so the compare cost is Σ cell² ≈ n²/nCells —
    * with the nCells ∝ √n rule, O(n^1.5) instead of O(n²), and never a
    * cross join. Pairs in different cells are missed by design (the
    * SemDeDup recall trade); raise nCells' probe via [[cosineNearDupsBlocked]]
    * when band-LSH recall semantics fit better.
    */
  def cellNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, minCos: Double): DataFrame = {
    val cents = centroidRow(emb, idCol, vecCol, nCells)
    val vectors = spread(withNorm(emb, idCol, vecCol, "_id", "_v", "_n"))
    val a = vectors.join(broadcast(cents))
      .select(col("_id").as("doc_a"), col("_v").as("_va"),
        col("_n").as("_na"), assignedCell(col("_v"), col("_n")).as("_cell"))
    val b = vectors.join(broadcast(cents))
      .select(col("_id").as("doc_b"), col("_v").as("_vb"),
        col("_n").as("_nb"), assignedCell(col("_v"), col("_n")).as("_cell2"))
    // the two join inputs are the same subtree modulo aliases, so
    // ReuseExchange materializes the assignment once (the ivfTopK shape)
    a.join(b, col("_cell") === col("_cell2") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("_cos"))
      .filter(col("_cos") >= minCos)
      .select(col("doc_a"), col("doc_b"), round(col("_cos"), 9).as("cosine"))
  }

  /** SemDeDup-style semantic dedup: [[cellNearDupPairs]] within-cell
    * near-dup pairs → connected components ([[Dedup.dupClusters]],
    * O(diameter) label propagation) → keep each component's min-id
    * canonical plus every untouched row ([[Dedup.dedupByClusters]] —
    * the corpus anti-joins a compact drop list and never concentrates).
    * The embedding-space sibling of simhash cluster dedup (x34): same
    * consuming end, semantic rather than lexical evidence.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, minCos: Double): DataFrame =
    Dedup.dedupByClusters(emb, idCol,
      cellNearDupPairs(emb, idCol, vecCol, nCells, minCos))

  /** Recall report for the banded-LSH near-dup path: every EXACT pair at
    * `threshold` (the [[cosineNearDups]] baseline, `maxExactRows`-guarded)
    * checked for presence in [[cosineNearDupsBlocked]]'s candidate+verify
    * output, aggregated per cosine band (width 0.05) — the measured form
    * of the recall claim in the blocked path's docstring, and the tuning
    * harness for `nPlanes`/`bands`: run it on a guarded sample, read
    * where recall dips, adjust the banding. Output: (`band` =
    * ⌊cosine·20⌋, `n_exact`, `n_found`, `recall`), ascending.
    *
    * The exact side is deliberately the all-pairs oracle — this REPORT is
    * a sampled tuning pass (the guard makes that explicit), not a corpus
    * operator; production near-dup stays on the blocked path whose recall
    * this measures.
    */
  def nearDupRecallReport(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8, bands: Int = 2, dims: Int = 64,
      maxExactRows: Long = DefaultMaxExactRows): DataFrame = {
    val exact = cosineNearDups(emb, idCol, vecCol, threshold, maxExactRows)
    val found = cosineNearDupsBlocked(emb, idCol, vecCol, threshold,
        nPlanes, bands, dims)
      .select(col("doc_a"), col("doc_b"), lit(true).as("_found"))
    exact.join(found, Seq("doc_a", "doc_b"), "left")
      .groupBy(floor(col("cosine") * 20).cast("int").as("band"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("_found"), 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall",
        col("n_found").cast("double") / col("n_exact"))
  }

  /** Recall report for an ANN top-k surface against the exact
    * [[bruteForceTopK]] baseline — the top-k sibling of
    * [[nearDupRecallReport]], closing the measurement gap for the IVF
    * family (x16/x28/x33/x52): every exact (query, neighbor, rank ≤ k)
    * pair is checked for presence in the ANN output and aggregated per
    * 0.05-wide cosine band of the exact neighbor. Output: (`band` =
    * ⌊cosine·20⌋, `n_exact`, `n_found`, `recall`), so a tuner reads
    * exactly WHERE the approximation loses neighbors (recall should rise
    * toward the high-cosine bands — those are the neighbors that share a
    * cell) and ties `nprobe`/quantization settings to a measured number
    * instead of an asserted one.
    *
    * The exact side is the all-pairs oracle, `maxExactRows`-guarded: this
    * REPORT is a sampled tuning pass, not a corpus operator — production
    * retrieval stays on the ANN path whose recall this measures.
    */
  def topKRecallReport(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, ann: DataFrame,
      maxExactRows: Long = DefaultMaxExactRows): DataFrame = {
    val exact = bruteForceTopK(emb, idCol, vecCol, k, maxExactRows)
    val found = ann.select(col("query_id"), col("neighbor_id"),
      lit(true).as("_found"))
    exact.join(found, Seq("query_id", "neighbor_id"), "left")
      .groupBy(floor(col("cosine") * 20).cast("int").as("band"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("_found"), 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall",
        col("n_found").cast("double") / col("n_exact"))
  }

  // -------------------------------------------------------------------
  // Johnson–Lindenstrauss random projection (Achlioptas ±1 scheme)

  /** Deterministic ±1 JL matrix entry: top bit of the first md5 nibble of
    * `"jl:k:dim"` — the same reproducible-anywhere device as [[planeSign]],
    * under its own namespace so the projection matrix is independent of
    * the LSH hyperplane set. Achlioptas (2003, "Database-friendly random
    * projections") proves uniform ±1 entries satisfy the JL lemma with the
    * same distortion bound as Gaussian matrices — and integer entries are
    * what keeps the whole projection in exact-long arithmetic here.
    */
  def jlSign(k: Int, dim: Int): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"jl:$k:$dim".getBytes(StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 0x8) != 0) 1L else -1L
  }

  /** Fixed-point quantization scale for [[jlProject]]: components become
    * `floor(v · 10⁴)` longs. 10⁴ keeps every downstream value exact-in-
    * double for unit-scale embeddings: quantized components ≤ ~10⁵,
    * projected components ≤ inDims·10⁵ ≈ 10⁷ at 64 dims, and the pair
    * dots / norms² ≤ outDims·10¹⁴ ≈ 10¹⁵ < 2⁵³ — so the long→double casts
    * and the one cosine division per pair are bit-deterministic across
    * engines. The 10⁻⁴ quantization error is far below the JL distortion
    * itself (~1/√outDims).
    */
  val JlScale: Double = 10000.0

  /** Exact-long sequential dot of two long-array columns. */
  def dotLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** JL random projection of an embedding column to `outDims` exact-long
    * components: `jl[k] = Σ_j ±1 · floor(v[j]·10⁴)` with the deterministic
    * [[jlSign]] matrix (Johnson & Lindenstrauss 1984; Achlioptas 2003).
    * Cosine/distance structure is preserved within ~1/√outDims distortion,
    * so downstream ANN (IVF routing, near-dup banding, top-k rescore
    * candidates) can run over vectors `inDims/outDims`× smaller — at
    * 100 TB the projection is the difference between shuffling 768-float
    * payloads and 16-long ones (~12× fewer vector bytes on every exchange
    * of the ANN family). Map-only, zero shuffle; everything stays in exact
    * integer arithmetic so results are bit-identical across engines and
    * partitionings.
    *
    * `inDims` must equal the embedding dimensionality (sign literals are
    * baked per input dim; `zip_with` would null-pad a mismatch).
    * Output: (`idCol`, `jl` array<long>).
    */
  def jlProject(emb: DataFrame, idCol: String, vecCol: String,
      outDims: Int, inDims: Int): DataFrame = {
    require(outDims > 0 && inDims >= outDims,
      s"jlProject reduces dimensionality: need 0 < outDims=$outDims <= inDims=$inDims")
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * lit(JlScale)))
    emb.select(col(idCol), qv.as("_qv"))
      .select(col(idCol), jlArray(outDims, inDims).as("jl"))
  }

  /** The JL component array over an attached `_qv` quantized column —
    * shared by [[jlProject]] and [[jlIvfRescoreTopK]] (which carries the
    * original vector beside the projection in one map pass).
    */
  private def jlArray(outDims: Int, inDims: Int): Column =
    array((0 until outDims).map { k =>
      val signs = array((0 until inDims).map(j => lit(jlSign(k, j))): _*)
      aggregate(zip_with(col("_qv"), signs, (x, s) => x * s),
        lit(0L), (acc, x) => acc + x)
    }: _*)

  /** Exact top-k cosine in the JL-projected space — the measurement
    * harness for [[jlProject]]'s distortion (production composes the
    * projection with the IVF/LSH family instead of any all-pairs rank;
    * this method exists so [[topKRecallReport]] can price `outDims`
    * against measured recall, x122-style). All-pairs — guarded by
    * `maxExactRows`. Dot products and norms² stay exact longs; the one
    * division per pair is the only IEEE op, so ranking ties break
    * identically on any engine. Output: (query_id, neighbor_id, cosine
    * [projected-space, 9 dp], rank).
    */
  def jlTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      outDims: Int, inDims: Int,
      maxExactRows: Long = DefaultMaxExactRows): DataFrame = {
    guardAllPairs(emb, maxExactRows, "jlTopK",
      "ivfTopK/lshTopK over jlProject output")
    val p = jlProject(emb, idCol, vecCol, outDims, inDims)
      .select(col(idCol), col("jl"),
        sqrt(dotLong(col("jl"), col("jl")).cast("double")).as("_n"))
    val a = spreadBy(p.select(col(idCol).as("query_id"),
      col("jl").as("_pa"), col("_n").as("_na")), "query_id")
    val b = p.select(col(idCol).as("neighbor_id"), col("jl").as("_pb"),
      col("_n").as("_nb"))
    val pairs = a.join(b, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotLong(col("_pa"), col("_pb")).cast("double")
          / (col("_na") * col("_nb"))).as("_cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("_cos"), 9).as("cosine"), col("rank"))
  }

  /** The production composition of [[jlProject]] with the IVF family:
    * route AND rank in the JL-projected space. Projection is map-only;
    * centroid seeding/assignment and the cell equi-join are exactly
    * [[ivfTopKProbed]]'s plan, just over `outDims`-long vectors — so every
    * exchange of the ANN path (the spread repartition, the cell join, the
    * ranking window's pair rows) carries `inDims/outDims`× fewer vector
    * bytes, which is the point at 100 TB. Determinism: projected
    * components are exact longs ≤ inDims·10⁵, so every double product and
    * partial sum downstream is < 2⁵³ and exactly representable — the dot
    * folds are order-independent and the sqrt/division per score are the
    * only (correctly-rounded) IEEE ops, bit-identical across engines.
    * Recall = JL distortion (priced by x130) ∘ IVF cell loss (priced by
    * x122); BASELINE.md, "Round 10 — JL+IVF production composition
    * (x131)", records the composed number against the full-dim exact
    * baseline.
    */
  def jlIvfTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      outDims: Int, inDims: Int, nCells: Int, nprobe: Int = 1): DataFrame =
    ivfTopKProbed(
      jlProject(emb, idCol, vecCol, outDims, inDims)
        .select(col(idCol), transform(col("jl"), x => x.cast("double")).as("_jlv")),
      idCol, "_jlv", k, nCells, nprobe)

  /** JL-ROUTED, full-precision-RESCORED IVF top-k — the production
    * composition the clustered recall probe motivates ([[jlIvfTopK]]
    * ranks in the projected space, which preserves COARSE structure but
    * scrambles top-k margins finer than the ~1/√outDims distortion:
    * measured recall ≤ 0.24 on clustered vectors whose cells route
    * perfectly, BASELINE round-11). Here the projection decides WHICH
    * cells a query probes — the 100 TB win: the routing compare touches
    * outDims longs per vector and the broadcast centroid row is
    * outDims-wide — while the top-k itself ranks the probed cells'
    * members by ORIGINAL cosine, so recall returns to the full-precision
    * IVF ceiling (measured: 0.24 → 0.96 at outDims 16, nprobe 2 on the
    * spread-2 clustered corpus) and full-width vectors are read inside
    * cells. One map pass carries vector + projection side by side; same
    * single-cell-equi-join shape as [[ivfTopKProbed]].
    */
  def jlIvfRescoreTopK(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, outDims: Int, inDims: Int, nCells: Int,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= nCells, "nprobe must be in 1..nCells")
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * lit(JlScale)))
    val base = spread(emb
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("_n"), qv.as("_qv"))
      .select(col("_id"), col("_v"), col("_n"),
        transform(jlArray(outDims, inDims), x => x.cast("double")).as("_jv"))
      .select(col("_id"), col("_v"), col("_n"), col("_jv"),
        sqrt(dot(col("_jv"), col("_jv"))).as("_jn")))
    val cents = centroidRow(base.select(col("_id"), col("_jv")),
      "_id", "_jv", nCells)
    val withC = base.join(broadcast(cents))
    val corpus = withC.select(col("_id").as("neighbor_id"),
      col("_v").as("_vb"), col("_n").as("_nb"),
      assignedCell(col("_jv"), col("_jn")).as("_cell2"))
    val probes =
      if (nprobe == 1)
        withC.select(col("_id").as("query_id"), col("_v").as("_va"),
          col("_n").as("_na"),
          assignedCell(col("_jv"), col("_jn")).as("_cell"))
      else
        withC.select(col("_id").as("query_id"), col("_v").as("_va"),
          col("_n").as("_na"),
          explode(transform(slice(scoredCells(col("_jv"), col("_jn")), 1, nprobe),
            s => s.getField("_cid"))).as("_cell"))
    rankTopK(probes.join(corpus,
      col("_cell") === col("_cell2") && col("query_id") =!= col("neighbor_id")), k)
  }

  /** [[jlIvfRescoreTopK]] over LLOYD-REFINED JL-space cells — the
    * composition the clustered recall harness motivates (round-11 verdict
    * item 4): on OVERLAPPING clusters the smallest-id seeding leaves
    * several true clusters sharing one cell and recall capped at
    * 0.17–0.42 even with full-precision rescore, while x125 measured one
    * Lloyd step worth +35 recall points on exactly that geometry. Here
    * [[kmeansCentroids]] refines the cell centroids IN THE PROJECTED
    * SPACE (`iters` Lloyd rounds over outDims-long vectors — each round
    * one broadcast-assign pass + one O(cells·outDims) decimal-mean
    * aggregate, nothing corpus-wide), then routing and rescoring proceed
    * exactly as [[jlIvfRescoreTopK]]: probe list from the refined
    * broadcast row, ranking by ORIGINAL cosine inside probed cells.
    * `iters = 0` reproduces [[jlIvfRescoreTopK]] bit-for-bit (the seed
    * table IS [[centroidTable]]'s smallest-id row — spec-proved).
    * Deterministic end to end: JL components are exact longs, the Lloyd
    * mean is a decimal(28,10) sum with one double division (the x20
    * arithmetic), so the DuckDB oracle reproduces every centroid,
    * assignment and score bit-for-bit.
    */
  def jlIvfRescoreRefinedTopK(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, outDims: Int, inDims: Int, nCells: Int,
      nprobe: Int = 1, iters: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= nCells, "nprobe must be in 1..nCells")
    require(iters >= 0, "need iters >= 0")
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * lit(JlScale)))
    val base = spread(emb
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("_n"), qv.as("_qv"))
      .select(col("_id"), col("_v"), col("_n"),
        transform(jlArray(outDims, inDims), x => x.cast("double")).as("_jv"))
      .select(col("_id"), col("_v"), col("_n"), col("_jv"),
        sqrt(dot(col("_jv"), col("_jv"))).as("_jn")))
    val cents = kmeansCentroids(base.select(col("_id"), col("_jv")),
        "_id", "_jv", nCells, iters)
      .agg(collect_list(struct(col("_cid"), col("_cvec"), col("_cn")))
        .as("_cents"))
    val withC = base.join(broadcast(cents))
    val corpus = withC.select(col("_id").as("neighbor_id"),
      col("_v").as("_vb"), col("_n").as("_nb"),
      assignedCell(col("_jv"), col("_jn")).as("_cell2"))
    val probes =
      if (nprobe == 1)
        withC.select(col("_id").as("query_id"), col("_v").as("_va"),
          col("_n").as("_na"),
          assignedCell(col("_jv"), col("_jn")).as("_cell"))
      else
        withC.select(col("_id").as("query_id"), col("_v").as("_va"),
          col("_n").as("_na"),
          explode(transform(slice(scoredCells(col("_jv"), col("_jn")), 1, nprobe),
            s => s.getField("_cid"))).as("_cell"))
    rankTopK(probes.join(corpus,
      col("_cell") === col("_cell2") && col("query_id") =!= col("neighbor_id")), k)
  }

  /** Semantic decontamination: for every CORPUS vector, its maximum cosine
    * against an EVAL set and a `contaminated` verdict at `threshold` —
    * the embedding-level complement of the n-gram overlap scans
    * ([[graft.ext.Dedup.ngramOverlapAgainst]]): paraphrased or reworded
    * benchmark items share no 8-gram but sit near their source in
    * embedding space, so lexical decontamination alone under-removes.
    * Verdict-not-filter: EVERY corpus row is in the output (clean rows
    * with a null match), so the caller decides drop vs quarantine vs
    * re-route to the eval split.
    *
    * Scale shape: centroids seed from the corpus ([[centroidRow]]'s
    * smallest-id rule); the corpus assigns map-only to its single nearest
    * cell, the (small) eval side probes its `nprobe` nearest cells — the
    * pairing is a cell equi-join, work Σ |corpus-cell|·|eval-probes|,
    * never corpus × eval, and raising nprobe buys back boundary misses at
    * eval-side cost only. Per-corpus-id max is a lexicographic struct max
    * (ties → larger eval id), deterministic on any partitioning.
    * Output: (idCol, matched_eval_id, max_cosine [9 dp], contaminated).
    */
  def semanticContamination(corpus: DataFrame, eval: DataFrame,
      idCol: String, vecCol: String, nCells: Int, nprobe: Int,
      threshold: Double): DataFrame = {
    require(nprobe >= 1 && nprobe <= nCells, "nprobe must be in 1..nCells")
    contaminationCore(corpus, eval, idCol, vecCol,
      centroidRow(corpus, idCol, vecCol, nCells), nprobe, threshold)
  }

  /** [[semanticContamination]] against a MAINTAINED [[centroidTable]] —
    * the incremental form: centroids seed once from the corpus, the eval
    * set is fixed, and each arriving batch pays only its own map-only
    * assignment + cell equi-join against the eval probes. Row order of
    * the stored table is irrelevant (assignment ties break on centroid
    * id, not array position).
    */
  def semanticContaminationAgainst(vectors: DataFrame, eval: DataFrame,
      idCol: String, vecCol: String, cents: DataFrame, nprobe: Int,
      threshold: Double): DataFrame =
    contaminationCore(vectors, eval, idCol, vecCol,
      cents.agg(collect_list(struct(col("_cid"), col("_cvec"), col("_cn")))
        .as("_cents")), nprobe, threshold)

  private def contaminationCore(corpus: DataFrame, eval: DataFrame,
      idCol: String, vecCol: String, cents: DataFrame, nprobe: Int,
      threshold: Double): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val c = spread(withNorm(corpus, idCol, vecCol, "_id", "_v", "_n"))
      .join(broadcast(cents))
      .select(col("_id"), col("_v"), col("_n"),
        assignedCell(col("_v"), col("_n")).as("_cell"))
    val e = withNorm(eval, idCol, vecCol, "_eid", "_ev", "_en")
      .join(broadcast(cents))
      .select(col("_eid"), col("_ev"), col("_en"),
        explode(transform(slice(scoredCells(col("_ev"), col("_en")), 1, nprobe),
          s => s.getField("_cid"))).as("_cell"))
    val best = c.join(e, Seq("_cell"))
      .select(col("_id"),
        struct((dot(col("_v"), col("_ev")) / (col("_n") * col("_en")))
          .as("_c"), col("_eid")).as("_m"))
      .groupBy(col("_id")).agg(max(col("_m")).as("_best"))
    c.select(col("_id")).join(best, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        col("_best._eid").as("matched_eval_id"),
        round(col("_best._c"), 9).as("max_cosine"),
        coalesce(col("_best._c") >= threshold, lit(false)).as("contaminated"))
  }

  /** Margin-based cross-set neighbor mining (Artetxe & Schwenk 2019's
    * margin criterion, difference form): for every QUERY vector, its best
    * and second-best INDEX-set neighbors by cosine, and the margin
    * `cos1 − cos2` — a high margin means the best match stands clear of
    * the field, the standard acceptance signal when mining aligned pairs
    * (bitext, near-duplicate captions, cross-corpus citation linking)
    * where absolute cosine alone over-accepts hubs. A query whose cell
    * holds only one candidate scores its margin against 0 (an orthogonal
    * runner-up), documented in the output by `cos2` = NULL.
    *
    * Candidates come from IVF cell routing seeded on the INDEX set (the
    * [[centroidTable]]/[[cellAssignmentsAgainst]] pair), so the pairing is
    * an equi-join on cell — never queries × index. Queries landing in a
    * cell with no index member (impossible with shared centroids here, as
    * every centroid is an index vector) would simply emit nothing.
    *
    * Output: (`idCol`, `nn_id`, `cos1`, `cos2`, `margin`,
    * `accept` = margin > `minMargin`), cosines rounded to 9 dp like every
    * cosine surface in this module.
    *
    * Scale shape: two map-only assignment passes against one broadcast
    * k×dims centroid row; the candidate join shuffles both sides on the
    * cell id (compare work Σ |q-cell|·|i-cell|, bounded by routing, never
    * all-pairs); the per-query top-2 window partitions on the QUERY id —
    * parallelism ∝ #queries, the many-group window shape, not the
    * bounded-strata hazard. Pair rows carry (qid, iid, cosine) only.
    */
  def marginMine(queries: DataFrame, index: DataFrame, idCol: String,
      vecCol: String, nCells: Int, minMargin: Double): DataFrame = {
    val cents = centroidTable(index, idCol, vecCol, nCells)
    val q = queries.join(cellAssignmentsAgainst(queries, idCol, vecCol,
        cents), Seq(idCol))
      .select(col(idCol).as("_qid"), col("cell"),
        col(vecCol).as("_qv"), sqrt(dot(col(vecCol), col(vecCol))).as("_qn"))
    val i = index.join(cellAssignmentsAgainst(index, idCol, vecCol,
        cents), Seq(idCol))
      .select(col(idCol).as("_iid"), col("cell"),
        col(vecCol).as("_iv"), sqrt(dot(col(vecCol), col(vecCol))).as("_in"))
    val cand = q.join(i, Seq("cell"))
      .select(col("_qid"), col("_iid"),
        (dot(col("_qv"), col("_iv")) / (col("_qn") * col("_in"))).as("_c"))
    val top2 = cand
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_qid")).orderBy(col("_c").desc, col("_iid"))))
      .filter(col("_rn") <= 2)
      .groupBy(col("_qid"))
      .agg(max(when(col("_rn") === 1,
          struct(col("_c"), col("_iid")))).as("_t1"),
        max(when(col("_rn") === 2, col("_c"))).as("_c2"))
    top2.select(col("_qid").as(idCol), col("_t1._iid").as("nn_id"),
        round(col("_t1._c"), 9).as("cos1"), round(col("_c2"), 9).as("cos2"),
        round(col("_t1._c") - coalesce(col("_c2"), lit(0.0)), 9)
          .as("margin"))
      .withColumn("accept", col("margin") > minMargin)
  }

  /** Public IVF cell assignment: (`idCol`, `cell`) for every vector, the
    * same deterministic map-only pass the whole IVF family uses
    * ([[centroidRow]] seeds = `nCells` smallest-id vectors; ties toward
    * the smaller centroid id). The semantic-partition primitive: feed the
    * cells to [[graft.ext.Corpus.stratifiedSample]] (cap per cluster —
    * diversity downsampling), [[graft.ext.Corpus.mixtureSample]]
    * (cluster-balanced mixtures) or per-cell stats. One broadcast of a
    * single centroid row, zero shuffles beyond the spread.
    */
  def cellAssignments(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int): DataFrame =
    spread(withNorm(emb, idCol, vecCol, idCol, "_v", "_n"))
      .join(broadcast(centroidRow(emb, idCol, vecCol, nCells)))
      .select(col(idCol), assignedCell(col("_v"), col("_n")).as("cell"))

  /** Weak-label propagation: every UNLABELED vector adopts the label of
    * its nearest LABELED neighbor within its IVF cell — the 1-NN
    * semi-supervised labeling pass that turns a small annotated seed set
    * into corpus-wide weak labels (with `cosine` kept as the confidence
    * for downstream thresholding — verdict-not-filter). Cells are
    * assigned over labeled ∪ unlabeled with [[cellAssignments]]'
    * deterministic seeds, so candidate pairing is a cell equi-join —
    * work ∝ Σ cell_unlabeled · cell_labeled, never unlabeled × labeled —
    * the x83 margin-mining shape with a label payload. An unlabeled
    * vector whose cell holds no labeled neighbor is ABSENT from the
    * output (no prediction, not a null guess); ties break toward the
    * smaller labeled id. Output: (idCol, `cell`, `pred_label`,
    * `neighbor_id`, `cosine` rounded to 9).
    */
  def labelPropagate(labeled: DataFrame, unlabeled: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      nCells: Int): DataFrame = {
    val all = labeled.select(col(idCol), col(vecCol))
      .unionByName(unlabeled.select(col(idCol), col(vecCol)))
    val cells = cellAssignments(all, idCol, vecCol, nCells)
    val lab = labeled
      .select(col(idCol).as("_lid"), col(vecCol).as("_lv"),
        col(labelCol).as("_lab"))
      .withColumn("_ln", sqrt(dot(col("_lv"), col("_lv"))))
      .join(cells.select(col(idCol).as("_lid"), col("cell")), Seq("_lid"))
    val unl = unlabeled.select(col(idCol), col(vecCol).as("_uv"))
      .withColumn("_un", sqrt(dot(col("_uv"), col("_uv"))))
      .join(cells.select(col(idCol), col("cell")), Seq(idCol))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("_cos").desc, col("_lid").asc)
    unl.join(lab, Seq("cell"))
      .withColumn("_cos",
        dot(col("_uv"), col("_lv")) / (col("_un") * col("_ln")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(idCol), col("cell"), col("_lab").as("pred_label"),
        col("_lid").as("neighbor_id"), round(col("_cos"), 9).as("cosine"))
  }

  /** Per-cell label PURITY report — the unsupervised clustering-quality
    * measure behind every IVF routing decision: for each cell, the
    * member count, the majority label and its count, and
    * `purity = majority_n / n` (one IEEE division). Low-purity cells are
    * where [[labelPropagate]]'s 1-NN guesses go wrong and where more
    * centroids (or a [[kmeansCentroids]] refinement) pay off. NULL
    * labels don't vote (but still count toward `n` — unlabeled mass
    * lowers purity honestly); majority ties break toward the smaller
    * label. Output: (`cell`, `n`, `majority_label`, `majority_n`,
    * `purity`).
    *
    * Scale shape: one map-only cell assignment, one (cell, label)
    * aggregate, one min-struct majority pick per cell — output rows =
    * nCells.
    */
  def cellPurity(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nCells: Int): DataFrame = {
    val cells = cellAssignments(emb, idCol, vecCol, nCells)
      .join(emb.select(col(idCol), col(labelCol).as("_lab")), Seq(idCol))
    val counts = cells.groupBy(col("cell"), col("_lab"))
      .agg(count(lit(1)).as("_c"))
    val totals = counts.groupBy(col("cell")).agg(sum(col("_c")).as("n"))
    val majority = counts.filter(col("_lab").isNotNull)
      .groupBy(col("cell"))
      .agg(min(struct((-col("_c")).as("_neg"), col("_lab").as("_l"))).as("_m"))
      .select(col("cell"), col("_m._l").as("majority_label"),
        (-col("_m._neg")).as("majority_n"))
    totals.join(majority, Seq("cell"), "left")
      .select(col("cell"), col("n"), col("majority_label"),
        col("majority_n"),
        (col("majority_n").cast("double") / col("n")).as("purity"))
  }

  /** Materializable centroid table — (`_cid`, `_cvec`, `_cn`) rows, the
    * storage form of [[centroidRow]]'s single collected row (seeds =
    * `nCells` smallest-id vectors, same determinism). Register it once
    * with [[graft.util.Maintained]] and route every later batch with
    * [[cellAssignmentsAgainst]]: the corpus is never re-read to assign a
    * batch, the maintained-table contract of the signature/bucket/gram
    * tables (x41/x42/x50).
    */
  def centroidTable(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int): DataFrame =
    emb.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("_cid"), col(vecCol).as("_cvec"),
        sqrt(dot(col(vecCol), col(vecCol))).as("_cn"))

  /** [[cellAssignments]] against a MAINTAINED [[centroidTable]] — per-batch
    * work is the batch's own map-only scoring pass against one broadcast
    * centroid row; the row order of the stored table is irrelevant because
    * the assignment sort breaks ties on centroid id, not array position.
    */
  def cellAssignmentsAgainst(emb: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame = {
    val centRow = cents
      .agg(collect_list(struct(col("_cid"), col("_cvec"), col("_cn")))
        .as("_cents"))
    spread(withNorm(emb, idCol, vecCol, idCol, "_v", "_n"))
      .join(broadcast(centRow))
      .select(col(idCol), assignedCell(col("_v"), col("_n")).as("cell"))
  }

  /** Cell-occupancy histogram of a vector set under a maintained
    * [[centroidTable]] — (`cell`, `c`), the input to the drift-triggered
    * refresh policy below. One map-only assignment pass + one bounded
    * (≤ nCells rows) aggregate.
    */
  def cellOccupancy(emb: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    cellAssignmentsAgainst(emb, idCol, vecCol, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))

  /** Drift report over CELL OCCUPANCIES — x108's total-variation algebra
    * ([[graft.ext.Corpus.driftFromCounts]]) applied to the IVF routing
    * question "do arriving vectors still land where the corpus did when
    * the centroids were seeded": per cell the exact-integer drift mass,
    * plus `tv` (the total TV distance) and `refresh` (`tv > tau`) on
    * every row. Corpus drift degrades cell balance — hot cells grow
    * until Σ cell² work concentrates — and this report is the measured
    * trigger for re-seeding the maintained centroid table (x76) instead
    * of a calendar guess.
    *
    * `tv` is exact-integer arithmetic until one final division:
    * Σ drift_num / (2·N_ref·N_cur), never a float sum of per-cell shares
    * — so the report is bit-reproducible on any engine and partitioning.
    * `refCounts` is (`cell`, `c_ref`) — the occupancies recorded when the
    * table was seeded; `curCounts` is (`cell`, `c_cur`) — the current
    * batch through [[cellOccupancy]].
    */
  def centroidDriftReport(refCounts: DataFrame, curCounts: DataFrame,
      tau: Double): DataFrame = {
    val drift = Corpus.driftFromCounts(refCounts, curCounts, "cell")
    val tot = drift.agg(sum(col("drift_num")).as("_dn"),
      sum(col("c_ref")).as("_nr"), sum(col("c_cur")).as("_nc"))
    drift.crossJoin(broadcast(tot))
      .select(col("cell"), col("c_ref"), col("c_cur"), col("drift_num"),
        col("drift_share"),
        (col("_dn").cast("double") /
          (lit(2L) * col("_nr") * col("_nc")).cast("double")).as("tv"))
      .withColumn("refresh", col("tv") > tau)
  }

  /** The refresh POLICY applied: route with the existing centroid table
    * while occupancy drift stays ≤ `tau`; re-seed from the CURRENT corpus
    * snapshot when it exceeds it — via [[kmeansCentroids]] (`refineIters`
    * Lloyd rounds), so the new centroids genuinely adapt to the drifted
    * distribution rather than re-picking the same smallest-id seeds.
    * Returns the table to route with going forward plus the decision.
    * Assignments stay deterministic across the refresh: both the kept
    * and the re-seeded table are pure functions of their inputs
    * (smallest-id seeds + decimal-exact Lloyd means;
    * [[cellAssignmentsAgainst]] ties break on centroid id), so replaying
    * the same batches yields the same tables and the same cells.
    */
  def refreshedCentroids(corpusNow: DataFrame, idCol: String,
      vecCol: String, nCells: Int, cents: DataFrame, refOcc: DataFrame,
      batch: DataFrame, tau: Double,
      refineIters: Int = 2): (DataFrame, Boolean) = {
    val cur = cellOccupancy(batch, idCol, vecCol, cents)
      .withColumnRenamed("c", "c_cur")
    val doRefresh = centroidDriftReport(
        refOcc.withColumnRenamed("c", "c_ref"), cur, tau)
      .select(col("refresh")).limit(1).collect()
      .headOption.exists(_.getBoolean(0))
    (if (doRefresh)
       kmeansCentroids(corpusNow, idCol, vecCol, nCells, refineIters)
     else cents,
      doRefresh)
  }

  /** Full Lloyd k-means over the embedding corpus: `iters` rounds of
    * (assign to nearest centroid by cosine, recompute element-wise decimal
    * means), generalizing [[ivfTopKRefined]]'s single refine step into the
    * standalone clustering operator (topic discovery, cluster-balanced
    * mixtures, IVF codebook training). Returns the refined centroid table
    * in [[centroidTable]]'s row form — feed it to
    * [[cellAssignmentsAgainst]] for the final assignments, or persist it
    * as the maintained routing table (x76).
    *
    * Determinism and cross-engine exactness: seeds are the `k` smallest-id
    * vectors; assignment ties break toward the smaller centroid id; means
    * are exact decimal(28,10) sums with ONE double division per element —
    * the [[graft.ext.Corpus.strataCentroids]] arithmetic — so every round
    * is bit-reproducible on any engine and partitioning. A cell that loses
    * all members simply vanishes (standard Lloyd without re-seeding;
    * cluster count can only shrink).
    *
    * Scale shape per round: one map-only assignment pass (broadcast of a
    * single k×dims centroid row) + one (cell, dim)-keyed decimal-sum
    * aggregate with map-side combine (shuffle O(k·dims)) — the canonical
    * distributed k-means round, nothing corpus-wide ever concentrates.
    * Each round's centroid table is a few KB; at production iteration
    * counts materialize it between rounds (parquet/[[graft.util
    * .Maintained]]) instead of nesting `iters` plans, exactly like the
    * x76 routing-table contract.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, "need k > 0, iters >= 0")
    val vectors = spread(withNorm(emb, idCol, vecCol, "_id", "_v", "_n"))
    var cents = centroidTable(emb, idCol, vecCol, k)
    for (_ <- 1 to iters) {
      val centRow = cents
        .agg(collect_list(struct(col("_cid"), col("_cvec"), col("_cn")))
          .as("_cents"))
      val asn = vectors.join(broadcast(centRow))
        .select(assignedCell(col("_v"), col("_n")).as("_cell"), col("_v"))
      cents = asn
        .select(col("_cell"), posexplode(col("_v")).as(Seq("_pos", "_val")))
        .groupBy(col("_cell"), col("_pos"))
        .agg(sum(col("_val").cast("decimal(28,10)")).as("_sum"),
          count(lit(1)).as("_cnt"))
        .groupBy(col("_cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("_pos"),
            (col("_sum").cast("double") / col("_cnt")).as("_avg")))),
          s => s.getField("_avg")).as("_cvec"))
        .select(col("_cell").as("_cid"), col("_cvec"),
          sqrt(dot(col("_cvec"), col("_cvec"))).as("_cn"))
    }
    cents
  }

  /** Prototypicality of every vector against its OWN label's centroid —
    * the signal behind centroid-based example pruning (Sorscher et al.
    * 2022, "Beyond neural scaling laws": distance-to-prototype decides
    * which examples to keep; SemDeDup's outlier variant uses the same
    * quantity). Output: (`labelCol`, `idCol`, `proto_cos` = cosine of the
    * vector to its label centroid). Feed it to
    * [[graft.ext.Corpus.topFractionByMetric]] to KEEP the most central
    * fraction (drop noise/outliers) or rank ascending to drop the most
    * prototypical (dedup-ish pruning) — both ends of the published recipe.
    *
    * Determinism: the centroid is the [[graft.ext.Corpus.strataCentroids]]
    * arithmetic — per-dimension decimal(28,10) sums (exact, order-free)
    * divided once and cast to double — and the cosine is the sequential
    * [[graft.functions.FloatDot]] fold of the vector against that small
    * double array, so scores are bit-identical across engines and
    * partitionings.
    *
    * Scale shape: one (label, dim)-keyed aggregate with map-side combine
    * (shuffle O(labels·dims)); centroid arrays assemble per label
    * (collect_list bounded by dims) and broadcast back; scoring is a
    * map-only fold per row. Nothing corpus-wide ever concentrates; a
    * label-skewed corpus skews only the tiny agg, which partial
    * aggregation already flattens.
    */
  def centroidPrototypicality(emb: DataFrame, labelCol: String,
      idCol: String, vecCol: String): DataFrame = {
    val cents = emb
      .select(col(labelCol).as("_lb"), posexplode(col(vecCol)).as(Seq("_pos", "_val")))
      .groupBy(col("_lb"), col("_pos"))
      .agg((sum(col("_val").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("_m"))
      .groupBy(col("_lb"))
      .agg(array_sort(collect_list(struct(col("_pos"), col("_m")))).as("_cs"))
      .select(col("_lb"), transform(col("_cs"), s => s("_m")).as("_c"))
    emb.join(broadcast(cents), col(labelCol) <=> col("_lb"))
      .select(col(labelCol), col(idCol),
        cosine(col(vecCol), col("_c")).as("proto_cos"))
  }

  /** Scale-safe embedding near-dup: banded hyperplane-LSH candidate
    * generation + exact cosine verification on candidates only — the same
    * candidate-then-verify shape every other dedup path here uses, replacing
    * [[cosineNearDups]]'s all-pairs join at corpus scale.
    *
    * `nPlanes` hyperplanes split into `bands` bands of `nPlanes/bands` sign
    * bits; a pair is a candidate iff it agrees on every bit of some band
    * (candidates collide in ~cos-similarity^(r) per band, so near-identical
    * vectors are recalled with high probability while the join stays an
    * equi-join on (band, bucket) — never a cross/nested-loop plan). Pairs
    * colliding in several bands are deduplicated after the (deterministic)
    * cosine projection.
    */
  def cosineNearDupsBlocked(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8, bands: Int = 2,
      dims: Int = 64): DataFrame = {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    val banded = bandedSigns(emb, idCol, vecCol, nPlanes, bands, dims)
    val a = banded.select(col("_id").as("doc_a"), col("_v").as("_va"),
      col("_n").as("_na"), col("_band"), col("_bucket"))
    val b = banded.select(col("_id").as("doc_b"), col("_v").as("_vb"),
      col("_n").as("_nb"), col("_band").as("_band2"), col("_bucket").as("_bucket2"))
    verifiedBandPairs(a, b, col("doc_a") < col("doc_b"), threshold)
  }

  /** Incremental embedding near-dup: pairs of a NEW vector batch against an
    * existing corpus, cosine ≥ threshold — the embedding-side sibling of
    * [[graft.ext.Dedup.minhashNearDupsAgainst]]. Id spaces must be
    * disjoint. Both sides hash with the SAME deterministic hyperplanes, so
    * at scale the corpus side's (band, bucket) table is maintained
    * incrementally (each ingest appends its own banded signs) and the
    * candidate join is new-batch buckets × corpus buckets — per-batch work
    * proportional to the delta's collisions, never corpus².
    */
  def cosineNearDupsBlockedAgainst(newEmb: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double, nPlanes: Int = 8,
      bands: Int = 2, dims: Int = 64): DataFrame = {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    val a = bandedSigns(newEmb, idCol, vecCol, nPlanes, bands, dims)
      .select(col("_id").as("doc_a"), col("_v").as("_va"),
        col("_n").as("_na"), col("_band"), col("_bucket"))
    val b = bandedSigns(corpus, idCol, vecCol, nPlanes, bands, dims)
      .select(col("_id").as("doc_b"), col("_v").as("_vb"),
        col("_n").as("_nb"), col("_band").as("_band2"), col("_bucket").as("_bucket2"))
    verifiedBandPairs(a, b, lit(true), threshold)
  }

  /** The MAINTAINED corpus-side bucket table for
    * [[cosineNearDupsBlockedAgainstBuckets]]: compact (idCol, band, bucket)
    * rows — `bands` rows per vector, no payload. The hyperplanes are
    * deterministic ([[planeSign]]), so each ingest batch computes its own
    * rows with the same parameters and APPENDS them; the table never needs
    * a corpus-wide rebuild.
    */
  def bandedSignTable(emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 8, bands: Int = 2, dims: Int = 64): DataFrame = {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    bandedSigns(emb, idCol, vecCol, nPlanes, bands, dims)
      .select(col("_id").as(idCol), col("_band").as("band"),
        col("_bucket").as("bucket"))
  }

  /** [[cosineNearDupsBlockedAgainst]] with the corpus side read from a
    * MAINTAINED bucket table ([[bandedSignTable]] output) — per-batch cost
    * is genuinely delta-only: the corpus contributes a scan of its compact
    * (id, band, bucket) table into the candidate join plus vector fetches
    * for the few ids that appear in candidate pairs; its embeddings are
    * never re-hashed. `corpusEmb` supplies those verify-side vectors.
    * Candidate (doc_a, doc_b) pairs are deduplicated BEFORE the exact
    * verify, so multi-band collisions are scored once — same output as the
    * recompute path (cosine is deterministic per pair).
    */
  def cosineNearDupsBlockedAgainstBuckets(newEmb: DataFrame,
      corpusBuckets: DataFrame, corpusEmb: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nPlanes: Int = 8, bands: Int = 2,
      dims: Int = 64): DataFrame = {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    val bn = bandedSigns(newEmb, idCol, vecCol, nPlanes, bands, dims)
      .select(col("_id").as("doc_a"), col("_band"), col("_bucket"))
    val bc = corpusBuckets.select(col(idCol).as("doc_b"),
      col("band").as("_band2"), col("bucket").as("_bucket2"))
    val cands = bn.join(bc, col("_band") === col("_band2") &&
        col("_bucket") === col("_bucket2"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val va = withNorm(newEmb, idCol, vecCol, "doc_a", "_va", "_na")
    val vb = withNorm(corpusEmb, idCol, vecCol, "doc_b", "_vb", "_nb")
    cands.join(va, Seq("doc_a")).join(vb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("_cos"))
      .filter(col("_cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("_cos"), 9).as("cosine"))
  }

  /** (id, vec, norm, band, bucket) rows: `bands` sign-bit buckets per
    * vector over the deterministic hyperplane set.
    */
  private def bandedSigns(emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, bands: Int, dims: Int): DataFrame = {
    val r = nPlanes / bands
    val pv = planes(nPlanes, dims)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        lshBucket(col("_v"), pv.slice(b * r, (b + 1) * r)).as("bucket"))
    }
    spread(withNorm(emb, idCol, vecCol, "_id", "_v", "_n"))
      .select(col("_id"), col("_v"), col("_n"),
        explode(array(bandStructs: _*)).as("_b"))
      .select(col("_id"), col("_v"), col("_n"),
        col("_b.band").as("_band"), col("_b.bucket").as("_bucket"))
  }

  /** Equi-join on (band, bucket) + `extra`, exact cosine verify, multi-band
    * collisions deduplicated after the deterministic projection.
    */
  private def verifiedBandPairs(a: DataFrame, b: DataFrame,
      extra: Column, threshold: Double): DataFrame =
    a.join(b, col("_band") === col("_band2") &&
        col("_bucket") === col("_bucket2") && extra)
      .select(col("doc_a"), col("doc_b"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("_cos"))
      .filter(col("_cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("_cos"), 9).as("cosine"))
      .distinct()
}
