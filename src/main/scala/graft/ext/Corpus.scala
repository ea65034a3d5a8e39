package graft.ext

import graft.util.{Caching, Par}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Corpus-level training-data operators: per-stratum caps and vocabulary
  * statistics — the mixing/inspection passes a large-scale dataset build
  * runs between dedup and export.
  */
object Corpus {

  /** Deterministic stratified head sample: at most `k` rows per stratum,
    * chosen by a stable md5 order over the id (reproducible anywhere,
    * uncorrelated with ingestion order — a plain `limit` would bias toward
    * whatever happened to be written first). This is the standard per-class
    * cap when assembling a training mix.
    *
    * Classic distributed top-k, two stages. Stage 1 prunes each INPUT
    * partition to its k smallest-keyed rows per stratum with a bounded
    * per-partition buffer — no shuffle, no sort: a row in the global top-k
    * is necessarily in its own partition's top-k, so the prune never drops
    * a survivor. Stage 2 runs the exact rank window over the ≤ partitions×k
    * survivors per stratum — its per-stratum task now sorts a k-bounded
    * remnant instead of the corpus, so the old shape's real hazard (ONE
    * reducer ordering a whole stratum of a 100 TB corpus) is gone and the
    * only corpus-wide pass is the map-side prune.
    *
    * Stage 1 evicts whole key-groups (every row tied on the md5 key goes
    * together), so it needs no tie-break on the id — stage 2's window
    * applies the exact `(md5, id)` order to everything the prune kept.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "need k > 0")
    val keyed = df.withColumn("_sk", md5(concat_ws("|", col(idCol))))
    val schema = keyed.schema
    val sIdx = schema.fieldIndex(strataCol)
    val kIdx = schema.fieldIndex("_sk")
    val pruned = keyed.mapPartitions { it =>
      // per stratum: md5-key → buffered rows, total buffered; evict the
      // LARGEST key-group whenever the strictly-smaller groups already
      // hold ≥ k rows — memory stays O(k + one tie-group) per stratum
      class TopK {
        val m = mutable.TreeMap.empty[String, mutable.ArrayBuffer[Row]]
        var total = 0
      }
      val strata = mutable.HashMap.empty[Any, TopK]
      it.foreach { r =>
        val t = strata.getOrElseUpdate(r.get(sIdx), new TopK)
        t.m.getOrElseUpdate(r.getString(kIdx), mutable.ArrayBuffer.empty) += r
        t.total += 1
        var go = true
        while (go) {
          val (lk, lrows) = t.m.last
          if (t.total - lrows.size >= k) { t.m.remove(lk); t.total -= lrows.size }
          else go = false
        }
      }
      strata.valuesIterator.flatMap(_.m.valuesIterator.flatten)
    }(Encoders.row(schema))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("_sk"), col(idCol))
    pruned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn", "_sk")
  }

  /** Bottom-k (KMV) sketch of each group's distinct word-`n`-gram set —
    * the DETERMINISTIC sketch form: the k smallest 60-bit md5 slices of
    * the group's gram universe. Unlike probabilistic-register sketches
    * (HLL), a KMV sketch is a pure function of the input set, so sketch
    * rows are oracle-checkable bit-for-bit and two engines always agree.
    * Feed [[kmvJaccardEst]] for cross-group overlap estimation; ±1/√k
    * relative error on the estimates (Beyer et al. 2007). Output:
    * (`groupCol`, `h`, `rank` 1..k).
    *
    * Scale shape: gram hashes dedup on a (group, h)-keyed shuffle, then
    * the [[stratifiedSample]] two-stage top-k — per-partition bounded
    * TreeSet prune (no sort, no shuffle; a global bottom-k member is
    * necessarily in its partition's bottom-k), exact window over
    * ≤ partitions×k survivors. The sketch, not the gram universe, is
    * what leaves the corpus pass.
    */
  def kmvSketch(docs: DataFrame, groupCol: String, textCol: String,
      k: Int = 256, n: Int = 5): DataFrame = {
    require(k > 0 && n > 0, "need k > 0 and n > 0")
    // distinct() BEFORE the prune is a measured choice: its map-side
    // partial aggregate dedups within partitions in codegen before the
    // exchange, so on duplication-heavy corpora the interpreted prune
    // iterates a fraction of the raw stream (raw-stream pruning measured
    // 4× slower on 10× duplicated data). On a mostly-unique gram stream
    // the exchange approaches the full stream; the prune still bounds
    // everything downstream to partitions×k rows.
    // ONE fused pass for the gram→60-bit-hash stream (GramMd5Sixty, the
    // GramHashes device for this hash family): no per-gram strings,
    // within-doc dedup by primitive sort — byte-identical to the old
    // conv(substring(md5(gram),1,15),16,10) chain
    val hashed = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(groupCol), explode(shim.column(
        graft.functions.GramMd5Sixty(
          shim.expression(TextAnalysis.normalize(col(textCol))), n)))
        .as("h"))
      .distinct()
    val schema = hashed.schema
    val gIdx = schema.fieldIndex(groupCol)
    val hIdx = schema.fieldIndex("h")
    bottomKPerGroup(hashed, groupCol, "h", k, "rank")
  }

  /** Per-group bottom-k of a hash stream WITHOUT an unbounded per-group
    * window: a per-partition bounded TreeSet prune first (no sort, no
    * shuffle — a global bottom-k member is necessarily in its partition's
    * bottom-k), then the exact `row_number` window over the ≤
    * partitions×k survivors. This is the shape that keeps every KMV-style
    * sketch scalable: the exchange feeding the window is capped at
    * partitions×k rows, so per-group work never grows with the column's
    * NDV (the unpruned window sorts each group's ENTIRE distinct set on a
    * single reducer — parallelism capped at group count, work linear in
    * NDV). Shared by [[kmvSketch]] and [[shardStatsSketch]].
    *
    * Input: (`groupCol`, `hCol` long) rows, possibly with duplicates
    * (the prune tolerates them; a trailing distinct dedups survivors).
    * Output: (`groupCol`, `hCol`, `rankCol` 1..k) — the k smallest
    * DISTINCT hashes per group.
    */
  private[graft] def bottomKPerGroup(hashed: DataFrame, groupCol: String,
      hCol: String, k: Int, rankCol: String): DataFrame = {
    val schema = hashed.select(col(groupCol), col(hCol)).schema
    val gIdx = schema.fieldIndex(groupCol)
    val hIdx = schema.fieldIndex(hCol)
    val pruned = hashed.select(col(groupCol), col(hCol))
      .mapPartitions { it =>
        val groups = mutable.HashMap.empty[Any, mutable.TreeSet[Long]]
        it.foreach { r =>
          val s = groups.getOrElseUpdate(r.get(gIdx),
            mutable.TreeSet.empty[Long])
          s += r.getLong(hIdx)
          if (s.size > k) s -= s.last
        }
        groups.iterator.flatMap { case (g, s) => s.iterator.map(h => Row(g, h)) }
      }(Encoders.row(schema))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(hCol))
    pruned.distinct()
      .withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Merge [[kmvSketch]] tables: bottom-k of the unioned sketch rows per
    * group. KMV's defining algebra — `merge(sketch(A), sketch(B)) =
    * sketch(A ∪ B)` EXACTLY (the k smallest of a union are among the two
    * sides' k smallest) — which makes sketch tables maintainable: sketch
    * each batch once at ingest, merge instead of ever re-reading text.
    * The registered query proves the law by scoring merged
    * corpus-slice + batch-slice sketches against the full-corpus oracle.
    * Work: one distinct + one window over ≤ sides×k rows per group.
    */
  def kmvMerge(sketchRows: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k > 0, "need k > 0")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("h"))
    sketchRows.select(col(groupCol), col("h")).distinct()
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Pairwise Jaccard estimates from a [[kmvSketch]] table: for each
    * unordered group pair, the k smallest hashes of the sketch UNION are
    * taken and `jaccard_est = shared_k / union_k` where `shared_k` counts
    * union members present in BOTH sketches — the standard KMV set
    * estimator, one IEEE division. Deterministic: same sketches → same
    * estimate, so the whole report hash-checks. The cross-SOURCE overlap
    * triage that says which pairs deserve the exact near-dup machinery
    * (x93's syndication matrix) without any pairwise document work.
    *
    * Scale shape: input is `groups × k` sketch rows, never corpus data;
    * the per-pair window runs over ≤ 2k rows.
    */
  def kmvJaccardEst(sketch: DataFrame, groupCol: String,
      k: Int): DataFrame = {
    require(k > 0, "need k > 0")
    val g = sketch.select(col(groupCol)).distinct()
    val pairs = g.select(col(groupCol).as("g_1"))
      .join(g.select(col(groupCol).as("g_2")), col("g_1") < col("g_2"))
    val ra = pairs.join(sketch.select(col(groupCol).as("g_1"), col("h")),
        Seq("g_1"))
      .select(col("g_1"), col("g_2"), col("h"),
        lit(1L).as("_a"), lit(0L).as("_b"))
    val rb = pairs.join(sketch.select(col(groupCol).as("g_2"), col("h")),
        Seq("g_2"))
      .select(col("g_1"), col("g_2"), col("h"),
        lit(0L).as("_a"), lit(1L).as("_b"))
    val w = Window.partitionBy(col("g_1"), col("g_2")).orderBy(col("h"))
    ra.unionByName(rb)
      .groupBy(col("g_1"), col("g_2"), col("h"))
      .agg(max(col("_a")).as("_a"), max(col("_b")).as("_b"))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= k)
      .groupBy(col("g_1"), col("g_2"))
      .agg(count(lit(1)).as("union_k"),
        sum(when(col("_a") === 1 && col("_b") === 1, 1L).otherwise(0L))
          .as("shared_k"))
      .withColumn("jaccard_est",
        col("shared_k").cast("double") / col("union_k"))
  }

  /** The `depth` CMS (row, bucket) pairs of a gram, derived from
    * ⌈depth/4⌉ md5 digests — each 32-hex digest yields four independent
    * 32-bit slices ([[graft.functions.Md5Slices]], the minhash device),
    * so the hash cost per gram is depth/4 digests, not depth salted
    * re-hashes (measured 4.9× → expected ~linear scan cost at 10× data).
    * `slicesCol` must be the materialized `Md5Slices(gram, ⌈depth/4⌉)`
    * attribute so codegen computes each digest once.
    */
  private def cmsRowBuckets(slicesCol: Column, depth: Int,
      width: Int): Column =
    array((0 until depth).map(r => struct(lit(r).as("row_idx"),
      pmod(element_at(slicesCol, r + 1), lit(width.toLong)).cast("int")
        .as("bucket"))): _*)

  /** Count-Min sketch (Cormode & Muthukrishnan 2005, "An improved data
    * stream summary") of the corpus word-`n`-gram FREQUENCY distribution:
    * `depth` hash rows × `width` buckets of exact long counts, where each
    * gram occurrence adds 1 to bucket `h_r(g) mod width` in every row
    * `r` — the `h_r` are the independent 32-bit md5 slices of the
    * minhash hash family. The frequency analogue of [[kmvSketch]]'s
    * distinct-set sketch, and like it a PURE FUNCTION of the input
    * stream — deterministic md5-derived hash rows, exact integer
    * counts — so sketch tables oracle-check bit-for-bit; no probabilistic
    * register state that two engines could disagree on.
    *
    * Why a sketch when [[topTerms]] counts exactly: exact gram counting
    * shuffles one row per DISTINCT gram, and at 100 TB the n-gram
    * universe is trillions of distinct values — larger than any
    * vocabulary, often larger than the corpus's unique-document count.
    * The CMS exchange is bounded by depth×width rows per map partition no
    * matter how many distinct grams exist: the aggregate's key space is
    * (row, bucket), so map-side combine caps every partition's output and
    * the reduce state at depth×width exact longs. Estimates
    * ([[cmsEstimate]]) never under-count: `est(g) = min_r cnt[r][h_r(g)]
    * ≥ true count`, with overshoot ≤ e·N/width at confidence 1−e^−depth
    * (N = total gram mass). Size the production sketch from that bound —
    * `width ≥ e·N/(ε·N) = e/ε` buckets for additive error ε·N and
    * `depth = ⌈ln(1/δ)⌉`; the registered query pins depth=4, width=8192
    * for oracle comparability.
    *
    * Counts are ADDITIVE per (row, bucket) — [[cmsMerge]] — so the sketch
    * is maintainable exactly like the KMV table: sketch each ingest batch
    * once, add the tiny tables, never re-read text. Output: (`row_idx`
    * 0..depth−1, `bucket`, `cnt`), non-empty buckets only.
    */
  def cmsSketch(docs: DataFrame, textCol: String, n: Int = 3,
      depth: Int = 4, width: Int = 8192): DataFrame = {
    require(n > 0 && depth > 0 && width > 0, "need n, depth, width > 0")
    // the whole gram→digest→bucket pipeline is ONE fused expression
    // ([[graft.functions.CmsPairs]]): gram bytes are substrings of the
    // canonical text, so the pass allocates no per-gram strings — the
    // x71/x90 fused-native lesson applied to the sketch's corpus pass
    // (measured 25× on the 100× corpus, 55.6 → 2.2 s; hash-identical to
    // the Md5Slices-per-gram form, which cmsEstimate still uses
    // gram-side — the CorpusSpec estimate-equality test cross-checks
    // the two implementations against each other)
    Par.spread(docs).filter(col(textCol).isNotNull)
      .select(explode(shim.column(graft.functions.CmsPairs(
        shim.expression(TextAnalysis.normalize(col(textCol))),
        n, depth, width))).as("_p"))
      .groupBy(shiftright(col("_p"), 32).cast("int").as("row_idx"),
        col("_p").bitwiseAND(lit(0xFFFFFFFFL)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge [[cmsSketch]] tables: counts ADD per (row, bucket) — CMS's
    * defining algebra, `merge(sketch(A), sketch(B)) = sketch(A ⊎ B)`
    * EXACTLY (multiset union of the gram streams), the frequency
    * counterpart of [[kmvMerge]]'s bottom-k law. This is what makes the
    * sketch maintainable: per-batch sketches add at ingest, and the
    * heavy-hitter probe reads the running table instead of ever
    * re-reading text. Work: one bounded agg over ≤ sides×depth×width
    * rows.
    */
  def cmsMerge(sketchRows: DataFrame): DataFrame =
    sketchRows.groupBy(col("row_idx"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point-query a [[cmsSketch]]: for each row of `grams`, the CMS
    * estimate `est_n = min_r cnt[r][h_r(g)]`, missing buckets reading 0.
    * The estimate NEVER under-counts the true frequency (every
    * occurrence of `g` incremented all of g's buckets; collisions only
    * add). The sketch side is ≤ depth×width rows — broadcast — so
    * estimation is a map-side join over the candidates, no corpus
    * access at all.
    */
  def cmsEstimate(sketch: DataFrame, grams: DataFrame, gramCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0, "need depth, width > 0")
    grams
      .select(col(gramCol), shim.column(graft.functions.Md5Slices(
        shim.expression(col(gramCol)), (depth + 3) / 4)).as("_sl"))
      .select(col(gramCol),
        explode(cmsRowBuckets(col("_sl"), depth, width)).as("_rb"))
      .select(col(gramCol), col("_rb.row_idx").as("row_idx"),
        col("_rb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row_idx", "bucket"), "left")
      .groupBy(col(gramCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_n"))
  }

  /** φ-heavy-hitter phrases via CMS triage: candidate word-`n`-grams
    * whose CMS estimate clears `phiNum/phiDen` of the total gram mass N,
    * each verified with an exact count — the x114 sketch-to-exact
    * escalation applied to frequency instead of overlap. The CMS
    * guarantee makes the triage SOUND: est ≥ true count, so no truly
    * φ-heavy gram is ever missed; false positives cost one semi-joined
    * exact count each, never a gram-universe shuffle. This is boilerplate
    * phrase mining at corpus scale — a phrase holding ≥ φ of all token
    * mass is template text by definition (the phrase-level analogue of
    * [[Dedup.boilerplateStrip]]'s per-source tile rule).
    *
    * Batch form (the registered query): candidates are the corpus's
    * distinct grams. The production streaming form keeps only the
    * MAINTAINED sketch ([[cmsMerge]]) as state and probes each arriving
    * batch's grams against the running table: a gram only becomes φ-heavy
    * ON some arrival, and that batch contains it, so probing arrivals
    * catches every crossing with per-batch work ∝ batch and fixed sketch
    * state — the gram universe is never materialized.
    *
    * N rides the sketch itself (any row's counts sum to N — the sketch is
    * the only corpus-pass state); its one-row attach is a broadcast
    * scalar append, PlanAudit-documented. Output: (`gram`, `est_n`,
    * `exact_n`), exact longs, `est_n ≥ exact_n` always.
    */
  def cmsHeavyHitters(docs: DataFrame, textCol: String, n: Int = 3,
      depth: Int = 4, width: Int = 8192,
      phiNum: Long = 1, phiDen: Long = 4096): DataFrame = {
    require(phiNum > 0 && phiDen > 0, "need phiNum, phiDen > 0")
    val grams = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(explode(
        Dedup.wordNgrams(TextAnalysis.tokens(col(textCol)), n)).as("gram"))
    val sketch = cmsSketch(docs, textCol, n, depth, width).persist()
    val total = sketch.filter(col("row_idx") === 0)
      .agg(sum(col("cnt")).as("_N"))
    // the candidate list is consumed three times (the exact pass's
    // semi-join, the final join, and its own filter chain) and is tiny
    // by construction (≤ 1/φ truly-heavy grams + collision noise);
    // persisting it saves two full gram-stream replays
    val candidates =
      cmsEstimate(sketch, grams.distinct(), "gram", depth, width)
        .crossJoin(broadcast(total))
        .filter(col("est_n") * phiDen >= col("_N") * phiNum)
        .select(col("gram"), col("est_n")).persist()
    val exact = grams.join(candidates.select("gram").hint("broadcast"),
        Seq("gram"), "left_semi")
      .groupBy(col("gram")).agg(count(lit(1)).as("exact_n"))
    // eager: the verdict list is ≤ 1/φ rows — materialize it and release
    // the operator-local sketch + candidate caches (judge/advice round 11:
    // no operator leaks a cached frame past its own action)
    Caching.materializeAndRelease(
      candidates.join(exact, Seq("gram")).select("gram", "est_n", "exact_n"),
      sketch, candidates)
  }

  /** The maintained-probe form of [[cmsHeavyHitters]] — the shape the
    * streaming monitor
    * ([[graft.streaming.DeltaStream.startCmsHeavyHitterMonitor]]) runs
    * per arrival and the form a 100 TB deployment actually executes:
    * `sketch` is the maintained count state (seeded once, [[cmsMerge]]d
    * per batch), and only `batch`'s DISTINCT grams are estimated against
    * it. Per-invocation work is ∝ the batch's gram count; the corpus gram
    * universe is never materialized (the batch fallback's
    * `grams.distinct()` cost: 59.4 s at the 100× corpus vs ~2.5 s for a
    * sketch pass — BASELINE round-10). Triage stays SOUND across
    * arrivals: est ≥ true count always, and a gram only CROSSES the φ
    * threshold on an arrival that contains it, so probing arrivals
    * catches every crossing. Output (`gram`, `est_n`), the φ-heavy
    * verdict for this batch's grams against total corpus mass N (read
    * from the sketch itself — any hash row sums to N).
    */
  def cmsHeavyHitterProbe(sketch: DataFrame, batch: DataFrame,
      textCol: String, n: Int = 3, depth: Int = 4, width: Int = 8192,
      phiNum: Long = 1, phiDen: Long = 4096): DataFrame = {
    require(phiNum > 0 && phiDen > 0, "need phiNum, phiDen > 0")
    val total = sketch.filter(col("row_idx") === 0)
      .agg(sum(col("cnt")).as("_N"))
    val grams = Par.spread(batch).filter(col(textCol).isNotNull)
      .select(explode(
        Dedup.wordNgrams(TextAnalysis.tokens(col(textCol)), n)).as("gram"))
      .distinct()
    cmsEstimate(sketch, grams, "gram", depth, width)
      .crossJoin(broadcast(total))
      .filter(col("est_n") * phiDen >= col("_N") * phiNum)
      .select(col("gram"), col("est_n"))
  }

  /** Per-document corpus-common-gram statistics off a [[cmsSketch]] —
    * the sketch's map-side production use: `est(g) ≥ minCount ⟺ every
    * one of g's depth buckets holds ≥ minCount`, so the membership test
    * is `depth` broadcast joins against the HOT SLICE of each hash row
    * (buckets with cnt ≥ minCount — ≤ width rows each, usually far
    * fewer), never a gram-keyed shuffle. Output per document: `n_grams`
    * and `n_common` (grams the corpus holds ≥ minCount times, by the
    * never-under-counting CMS estimate — template/boilerplate mass).
    *
    * Scale shape: the ONLY exchange is the final doc-keyed aggregate of
    * map-side-combined rows; everything upstream is scan → explode →
    * hash → broadcast membership. At 100 TB this is the difference
    * between "join every document gram against a trillion-row count
    * table" and "carry a ≤ depth×width-row sketch to the data".
    */
  def cmsCommonGramStats(docs: DataFrame, textCol: String, idCol: String,
      sketch: DataFrame, n: Int = 3, depth: Int = 4, width: Int = 8192,
      minCount: Long = 4): DataFrame = {
    require(n > 0 && depth > 0 && width > 0 && minCount > 0,
      "need n, depth, width, minCount > 0")
    val hashed = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol), explode(
        Dedup.wordNgrams(TextAnalysis.tokens(col(textCol)), n)).as("_g"))
      .select(col(idCol), shim.column(graft.functions.Md5Slices(
        shim.expression(col("_g")), (depth + 3) / 4)).as("_sl"))
      .select(col(idCol) +: (0 until depth).map(r =>
        pmod(element_at(col("_sl"), r + 1), lit(width.toLong)).cast("int")
          .as(s"_b$r")): _*)
    val joined = (0 until depth).foldLeft(hashed) { (acc, r) =>
      acc.join(
        broadcast(sketch
          .filter(col("row_idx") === r && col("cnt") >= minCount)
          .select(col("bucket").as(s"_hb$r"), lit(1).as(s"_hit$r"))),
        col(s"_b$r") === col(s"_hb$r"), "left")
    }
    val common = (0 until depth).map(r => col(s"_hit$r").isNotNull)
      .reduce(_ && _)
    joined.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(common, 1L).otherwise(0L)).as("n_common"))
  }

  /** Referential-coverage audit between a document table and a sidecar
    * table keyed by the same id (embeddings, media, labels): per stratum,
    * how many documents exist, how many have a sidecar row, and how many
    * sidecar rows are ORPHANED (no document — they group under a null
    * stratum). The assembly QA gate a multi-table dataset build runs
    * before training: a silent 3% embedding gap or a batch of orphaned
    * vectors is exactly the kind of defect that survives every per-table
    * check. One id-keyed full-outer join + one stratum-bounded aggregate;
    * `coverage` spends the output's one IEEE division (null when the
    * stratum holds no documents).
    */
  def coverageAudit(docs: DataFrame, idCol: String, strataCol: String,
      side: DataFrame, sideIdCol: String): DataFrame =
    docs.select(col(idCol), col(strataCol))
      .join(side.select(col(sideIdCol)), col(idCol) === col(sideIdCol),
        "full_outer")
      .groupBy(col(strataCol))
      .agg(count(col(idCol)).as("n_docs"),
        count(when(col(idCol).isNotNull && col(sideIdCol).isNotNull, 1))
          .as("n_with_side"),
        count(when(col(idCol).isNull, 1)).as("n_orphan_side"))
      .withColumn("coverage", when(col("n_docs") > 0,
        col("n_with_side").cast("double") / col("n_docs")))

  /** Bigram language-model scoring with stupid backoff (Brants et al.
    * 2007, "Large Language Models in Machine Translation" §4) — the real
    * CCNet-style LM quality filter: train unigram/bigram counts on the
    * `trainPred` reference slice, then score EVERY document's adjacent
    * token pairs by
    * `S(v|u) = c₂(u,v)/c₁(u)` when the bigram was seen, else
    * `α·c₁(v)/T` (α = `alphaNum/alphaDen`, T = train token mass), else 0
    * for out-of-vocabulary `v`. A document of fluent reference-like text
    * scores high; gibberish, wrong-language, and template-fragment text
    * scores low — the model-BASED counterpart of the model-free
    * perplexity proxies ([[headCoverage]], [[tokenRarityScore]]).
    *
    * Log-free exact arithmetic (the x96 Okapi device): each pair
    * contributes the QUANTIZED probability `⌊scale·S⌋` computed with one
    * integer `DIV` — no `ln`/`pow`, whose last-ulp rounding differs
    * across engines — so per-document masses are exact longs, sums
    * commute, and the whole report hash-checks. `lm_score` (the
    * per-pair mean mass, the filterable signal) spends the output's one
    * IEEE division. Monotone in the geometric-mean sense that matters
    * for thresholding: more in-model pairs → strictly larger mass.
    * Overflow bound: the exactness argument needs `scale · max(c₂)` and
    * `scale · alphaNum · max(c₁)` inside a long — with the default
    * scale=1e6 that is reference slices up to ~4.6 trillion tokens;
    * past that, drop `scale` a decade per decade of corpus.
    *
    * Scale shape: the count tables are vocabulary-bounded (Heaps' law —
    * ≪ corpus, usually broadcastable; beyond that they are token-keyed
    * equi-joins where AQE's skew split handles the stop-word head). The
    * only corpus-sized pass is the pair stream itself: three equi-joins
    * against count dimensions and one doc-keyed aggregate with map-side
    * combine. T's one-row attach is a broadcast scalar append,
    * PlanAudit-documented. Output: one row per input document —
    * (`idCol`, `n_pairs`, `n_backoff`, `n_oov`, `lm_mass`, `lm_score`),
    * zero-pair documents kept with zeros and a null score.
    */
  def lmScoreBackoff(docs: DataFrame, textCol: String, idCol: String,
      trainPred: Column, scale: Long = 1000000L,
      alphaNum: Long = 2, alphaDen: Long = 5): DataFrame =
    lmScoreBackoffFromCounts(
      lmCountTable(Par.spread(docs).filter(trainPred), textCol),
      docs, textCol, idCol, scale, alphaNum, alphaDen)

  /** Adjacent token pairs of `d`, carrying `cols` through — the bigram
    * stream both LM passes run on. */
  private def lmPairs(d: DataFrame, textCol: String,
      cols: Column*): DataFrame = {
    val t = TextAnalysis.tokens(col(textCol))
    d.filter(col(textCol).isNotNull)
      .select(cols :+ explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("u"), b.as("v")))).as("_p"): _*)
      .select(cols :+ col("_p.u").as("_u") :+ col("_p.v").as("_v"): _*)
  }

  /** Long-form unigram+bigram count table of a training slice: unigram
    * rows (`_u`, `_v` = NULL, `_c`) and bigram rows (`_u`, `_v`, `_c`).
    * ADDITIVE by (_u, _v) — tables from disjoint batches merge by
    * summing `_c` per key ([[strataTermCounts]]'s algebra), so the LM's
    * entire training state is maintainable at ingest: count each batch
    * once, merge the vocab-bounded tables, and score against the running
    * table with zero train-text re-reads ([[lmScoreBackoffFromCounts]]).
    * The registered incremental query proves the law by scoring
    * merged split-slice tables against the whole-slice oracle.
    */
  def lmCountTable(train: DataFrame, textCol: String): DataFrame = {
    val c1 = train.filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("_u"))
      .groupBy(col("_u")).agg(count(lit(1)).as("_c"))
      .select(col("_u"), lit(null).cast("string").as("_v"), col("_c"))
    val c2 = lmPairs(train, textCol)
      .groupBy(col("_u"), col("_v")).agg(count(lit(1)).as("_c"))
      .select(col("_u"), col("_v"), col("_c"))
    c1.unionByName(c2)
  }

  /** [[lmScoreBackoff]]'s scoring pass against an existing
    * [[lmCountTable]] (merged from per-batch tables in the maintained
    * deployment): same exact arithmetic, same output contract, but the
    * training text is never touched — T, the unigram and the bigram
    * dimensions all come off the table.
    */
  def lmScoreBackoffFromCounts(counts: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, scale: Long = 1000000L,
      alphaNum: Long = 2, alphaDen: Long = 5): DataFrame = {
    require(scale > 0 && alphaNum > 0 && alphaDen > 0,
      "need scale, alphaNum, alphaDen > 0")
    val c1 = counts.filter(col("_v").isNull)
      .select(col("_u").as("_w"), col("_c").as("_c1"))
    val c2 = counts.filter(col("_v").isNotNull)
      .select(col("_u"), col("_v"), col("_c").as("_c2"))
    val totalRow = c1.agg(sum(col("_c1")).as("_T"))
    val scored = lmPairs(Par.spread(docs), textCol, col(idCol))
      .join(c2, Seq("_u", "_v"), "left")
      .join(c1.select(col("_w").as("_u"), col("_c1").as("_c1u")),
        Seq("_u"), "left")
      .join(c1.select(col("_w").as("_v"), col("_c1").as("_c1v")),
        Seq("_v"), "left")
      .crossJoin(broadcast(totalRow))
      .select(col(idCol),
        when(col("_c2").isNotNull, expr(s"${scale}L * _c2 DIV _c1u"))
          .otherwise(when(col("_c1v").isNotNull,
            expr(s"${scale}L * $alphaNum * _c1v DIV ($alphaDen * _T)"))
            .otherwise(lit(0L))).as("_q"),
        when(col("_c2").isNull && col("_c1v").isNotNull, 1L)
          .otherwise(0L).as("_bk"),
        when(col("_c1v").isNull, 1L).otherwise(0L).as("_ov"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pairs"), sum(col("_bk")).as("n_backoff"),
        sum(col("_ov")).as("n_oov"), sum(col("_q")).as("lm_mass"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("lm_mass"), lit(0L)).as("lm_mass"))
      .withColumn("lm_score", when(col("n_pairs") > 0,
        col("lm_mass").cast("double") / col("n_pairs")))
  }

  /** CCNet-style per-language perplexity bucketing (Wenzek et al., LREC
    * 2020 — the head/middle/tail split CCNet publishes its corpus in):
    * each language's scored documents split into `nBuckets` equal-count
    * fluency buckets of the backoff-LM score — `head` = most fluent (the
    * slice CCNet keeps for pretraining), then `middle`, `tail`.
    * Unscorable documents (no pairs / null text) land in a NULL bucket
    * rather than skewing a tercile. Deterministic: the ranking key is
    * (score desc, id) — score is `lm_mass / n_pairs`, ONE IEEE division
    * of exact longs, engine-exact — and the bucket boundary is exact
    * integer arithmetic (`(rank−1)·nBuckets div n`).
    *
    * Scale shape: scoring is x137's pass (vocab-bounded broadcast count
    * tables, pair stream never shuffles); ranking is [[Ranks.byValue]]'s
    * range-partitioned two-pass rank, so ONE language (at 100 TB: most
    * of the corpus) never collapses onto a single reducer the way a
    * per-lang NTILE window would.
    */
  def ccnetBuckets(docs: DataFrame, textCol: String, idCol: String,
      langCol: String, trainPred: Column, nBuckets: Int = 3): DataFrame = {
    require(nBuckets > 1, "need nBuckets > 1")
    val scored = lmScoreBackoff(docs, textCol, idCol, trainPred)
      .select(col(idCol), col("n_pairs"), col("lm_score"))
    // persisted: the scored frame feeds BOTH the ranked branch and the
    // unscored branch — unpersisted, the whole LM pass (count tables +
    // pair scoring) runs twice (the x139 sketch lesson)
    val base = docs.select(col(idCol), col(langCol))
      .join(scored, Seq(idCol), "left").persist()
    val rankable = base.filter(col("n_pairs") > 0)
      .withColumn("_v",
        struct((-col("lm_score")).as("_neg"), col(idCol).as("_tid")))
    val labels = array(lit("head"), lit("middle"), lit("tail"))
    val unscored = base.filter(coalesce(col("n_pairs"), lit(0L)) === 0)
      .select(col(idCol), col(langCol), lit(0L).as("n_pairs"),
        lit(null).cast("double").as("score"),
        lit(null).cast("string").as("bucket"))
    // eager = false: the bucketed corpus is corpus-sized and consumed once
    // by the caller's terminal action (x62's lesson — an eager pass splits
    // that action in two and re-executes the shared scoring subtree); both
    // operator-local caches (base here, the range-partitioned frame in
    // byValue) release at the next cache-managed operator entry
    Ranks.byValue(rankable, langCol, eager = false, finish = { r =>
      r.withColumn("_idx", expr(s"((_rn - 1) * $nBuckets) div _n"))
        .withColumn("bucket",
          if (nBuckets == 3) element_at(labels, col("_idx").cast("int") + 1)
          else concat(lit("b"), col("_idx")))
        .select(col(idCol), col(langCol), col("n_pairs"),
          round(col("lm_score"), 9).as("score"), col("bucket"))
        .unionByName(unscored)
    }, alsoRelease = Seq(base))
  }

  /** Frozen per-language bucket thresholds — the score at each tercile
    * boundary of [[ccnetBuckets]]'s ranking over a REFERENCE corpus,
    * long-form (`langCol`, `k` = 1..nBuckets−1, `bscore`). The boundary
    * rank is ⌈k·n/nBuckets⌉ (the LAST member of bucket k−1), so for
    * distinct scores routing by threshold reproduces [[ccnetBuckets]]'s
    * membership exactly (spec-proved). The table is (languages ×
    * (nBuckets−1)) rows — broadcast state, the CCNet production shape:
    * quantiles are computed ONCE on the reference corpus and arrivals are
    * gated O(1)/row against the frozen boundaries ([[ccnetRoute]]),
    * never re-ranking the corpus per batch.
    */
  def ccnetThresholds(docs: DataFrame, textCol: String, idCol: String,
      langCol: String, trainPred: Column, nBuckets: Int = 3): DataFrame =
    ccnetThresholdsFromCounts(docs,
      lmCountTable(Par.spread(docs).filter(trainPred), textCol),
      textCol, idCol, langCol, nBuckets)

  /** [[ccnetThresholds]] scoring against an existing (MAINTAINED) count
    * table — so a deployment computes/merges counts once ([[lmCountTable]]
    * additivity) and derives both the thresholds and the per-batch routing
    * ([[ccnetRoute]]) from the same state, zero train-text re-reads.
    */
  def ccnetThresholdsFromCounts(docs: DataFrame, counts: DataFrame,
      textCol: String, idCol: String, langCol: String,
      nBuckets: Int = 3): DataFrame = {
    require(nBuckets > 1, "need nBuckets > 1")
    val scored = lmScoreBackoffFromCounts(counts, docs, textCol, idCol)
      .select(col(idCol), col("n_pairs"), col("lm_score"))
    val rankable = docs.select(col(idCol), col(langCol))
      .join(scored, Seq(idCol)).filter(col("n_pairs") > 0)
      .withColumn("_v",
        struct((-col("lm_score")).as("_neg"), col(idCol).as("_tid")))
    Ranks.byValue(rankable, langCol, finish = _
      .withColumn("k", explode(array((1 until nBuckets).map(lit(_)): _*)))
      .filter(col("_rn") ===
        expr(s"(k * _n + ${nBuckets - 1}) div $nBuckets"))
      .select(col(langCol), col("k"), col("lm_score").as("bscore")))
  }

  /** Route an arriving batch into CCNet buckets against FROZEN state —
    * the maintained LM count table ([[lmCountTable]], x138's contract)
    * scores the batch, and the [[ccnetThresholds]] broadcast gates each
    * score: bucket index = #{boundaries strictly above the score}
    * (ties at a boundary stay in the better bucket, matching the
    * boundary-rank definition). Per-batch work ∝ batch: one scoring pass
    * against broadcast counts + one broadcast threshold join — the corpus
    * is never re-ranked, its text never re-read. Batch languages with no
    * threshold row and unscorable documents route to a NULL bucket
    * (quarantine, not a guess). Output (`idCol`, `langCol`, `score`,
    * `bucket`).
    */
  def ccnetRoute(newDocs: DataFrame, counts: DataFrame,
      thresholds: DataFrame, textCol: String, idCol: String,
      langCol: String, nBuckets: Int = 3): DataFrame = {
    require(nBuckets > 1, "need nBuckets > 1")
    val scored = lmScoreBackoffFromCounts(counts, newDocs, textCol, idCol)
      .select(col(idCol), col("n_pairs"), col("lm_score"))
    val base = newDocs.select(col(idCol), col(langCol))
      .join(scored, Seq(idCol), "left")
    val lbl = array(lit("head"), lit("middle"), lit("tail"))
    val routed = base.filter(col("n_pairs") > 0)
      .join(broadcast(thresholds), Seq(langCol), "left")
      .groupBy(col(idCol), col(langCol), col("lm_score"))
      .agg(count(when(col("bscore") > col("lm_score"), 1)).as("_ix"),
        count(col("k")).as("_nthr"))
      .withColumn("bucket",
        when(col("_nthr") === 0, lit(null).cast("string"))
          .otherwise(
            if (nBuckets == 3) element_at(lbl, col("_ix").cast("int") + 1)
            else concat(lit("b"), col("_ix"))))
      .select(col(idCol), col(langCol),
        round(col("lm_score"), 9).as("score"), col("bucket"))
    val unscored = base.filter(coalesce(col("n_pairs"), lit(0L)) === 0)
      .select(col(idCol), col(langCol),
        lit(null).cast("double").as("score"),
        lit(null).cast("string").as("bucket"))
    routed.unionByName(unscored)
  }

  /** Per-stratum embedding centroid: the element-wise mean vector of each
    * stratum's embeddings (class prototypes for data audits / classifier
    * init), emitted long-form as (stratum, pos, mean) so the result is
    * flat-comparable. Determinism at scale: each element sums as an exact
    * DECIMAL(28,10) (decimal addition commutes) followed by one double
    * division — partitioning-invariant, same device as the IVF k-means
    * means. One equi-join docs↔embeddings + one grouped aggregate; shuffle
    * is O(strata × dims).
    */
  def strataCentroids(docs: DataFrame, strataCol: String, docIdCol: String,
      emb: DataFrame, vecIdCol: String, vecCol: String): DataFrame =
    docs.select(col(docIdCol).as("_did"), col(strataCol))
      .join(emb.select(col(vecIdCol).as("_did"), col(vecCol).as("_v")), Seq("_did"))
      .select(col(strataCol), posexplode(col("_v")).as(Seq("pos", "_val")))
      .groupBy(col(strataCol), col("pos"))
      .agg((sum(col("_val").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("mean"))

  /** Top-k terms per stratum by exact occurrence count (ties broken by
    * term, so the result is deterministic): token explode → partial-agg
    * count (map-side combine keeps shuffle O(distinct terms)) → per-stratum
    * rank. The canonical vocabulary-inspection pass.
    */
  def topTermsPerStratum(docs: DataFrame, strataCol: String, textCol: String,
      k: Int): DataFrame = {
    val counts = Par.spread(docs)
      .select(col(strataCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(strataCol), col("term"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("n").desc, col("term").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Discrete quantiles (SQL `quantile_disc` semantics: the ACTUAL group
    * element at rank `max(1, ⌈p·n⌉)` of the sorted group — never an
    * interpolated value, so the result is always a member of the input).
    * Same two-pass rank shape as [[quantileCont]] ([[Ranks.byValue]] —
    * range-partitioned, parallelism bounded by shuffle partitions, not by
    * group count), then each requested `p` picks exactly one ranked row.
    * The companion for metrics where an interpolated value is meaningless
    * (ids, code points, bucketed sizes).
    *
    * NULL values are ignored (SQL aggregate semantics: they neither rank
    * nor count toward `n`); a group whose values are ALL null keeps its
    * output row with null quantiles, as `quantile_disc` would produce.
    */
  def quantileDisc(df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "need quantiles in [0, 1]")
    requireDistinctLabels(ps)
    val vals = df.select(col(groupCol), col(valCol).as("_v"))
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      val rank = greatest(ceil(col("_n") * lit(p)), lit(1L))
      // ties on _v rank arbitrarily, but tied rows are EQUAL values, so the
      // picked value is deterministic regardless of row_number's choice
      first(when(col("_rn") === rank, col("_v")), ignoreNulls = true)
        .as("p" + math.round(p * 100))
    }
    // finish = the per-group reduction, so the cache byValue leaves behind
    // is one row per group, not the ranked corpus
    completeGroups(vals,
      Ranks.byValue(vals.filter(col("_v").isNotNull), groupCol,
        finish = _.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)),
      groupCol, ps)
  }

  /** Restore groups the null-filter removed entirely: every group of the
    * source reappears with null quantile columns (what SQL's null-ignoring
    * quantile aggregates produce for an all-null group). Null-safe join so
    * a NULL grouping key round-trips. The distinct side is one map-side
    * combined aggregate over the grouping column only, broadcast into the
    * (one-row-per-group) quantile result.
    */
  /** Output columns are named `p<round(p·100)>`; two requested quantiles
    * rounding to the same percent (0.251 and 0.254 → both `p25`) would be
    * an ambiguous-column analysis failure downstream — fail fast with the
    * colliding values instead.
    */
  private def requireDistinctLabels(ps: Seq[Double]): Unit = {
    val collisions = ps.groupBy(p => math.round(p * 100))
      .filter(_._2.size > 1).values
    require(collisions.isEmpty,
      "quantile labels collide (columns are named p<round(p*100)>): " +
        collisions.map(_.mkString("=")).mkString(", "))
  }

  private def completeGroups(vals: DataFrame, quantiles: DataFrame,
      groupCol: String, ps: Seq[Double]): DataFrame = {
    val groups = vals.select(col(groupCol)).distinct()
    groups.as("_g")
      .join(broadcast(quantiles.as("_q")),
        col(s"_g.$groupCol") <=> col(s"_q.$groupCol"), "left")
      .select(col(s"_g.$groupCol").as(groupCol) +:
        ps.map(p => col("_q.p" + math.round(p * 100))): _*)
  }

  /** Most-repeated-bigram statistics per document — the classic
    * boilerplate/spam repetition signal (Gopher-style "fraction of the
    * document inside the top n-gram"): for each document with ≥ 2 tokens,
    * (n_bigrams, top_bigram_n, top_bigram_ratio) over canonical word
    * bigrams, plus the distinct-token ratio.
    *
    * Scale shape: the bigram stream is generated per row (one array
    * transform, no corpus-wide state), then ONE partial-aggregated shuffle
    * on (doc, bigram) and one on doc — both keys contain the document id,
    * so the corpus never concentrates; memory per reducer is one counter.
    * An all-expression formulation (array_distinct over the bigram array +
    * per-element frequency probing) would be O(tokens²) interpreted work
    * per row; the two-stage aggregate is O(tokens) and stays codegen'd.
    */
  def bigramRepetition(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val bigrams = docs
      .select(col(idCol), toks.as("_t"),
        TextAnalysis.distinctTokenRatio(col(textCol)).as("_dtr"))
      .filter(size(col("_t")) >= 2)
      .select(col(idCol), col("_dtr"), explode(transform(
        sequence(lit(1), size(col("_t")) - 1),
        i => concat_ws(" ", element_at(col("_t"), i),
          element_at(col("_t"), i + 1)))).as("_bg"))
    bigrams
      .groupBy(col(idCol), col("_dtr"), col("_bg"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col(idCol), col("_dtr"))
      .agg(sum(col("_n")).as("n_bigrams"), max(col("_n")).as("top_bigram_n"))
      .select(col(idCol),
        col("n_bigrams"), col("top_bigram_n"),
        (col("top_bigram_n").cast("double") / col("n_bigrams"))
          .as("top_bigram_ratio"),
        col("_dtr").as("distinct_token_ratio"))
  }

  /** Token-budget mixture sampling: per stratum, take documents in the
    * stable md5-over-id order until the cumulative token count reaches
    * `budgetTokens` — the deterministic greedy fill used to assemble a
    * training mix against per-source token budgets (the token-weighted
    * sibling of [[stratifiedSample]]'s per-class row cap). Returns the kept
    * rows with their running `cum_tokens`. Documents are kept while their
    * INCLUSIVE cumulative count stays ≤ budget (no overshoot row);
    * `tokenCol` must be non-negative (it is a count) — the prune below
    * relies on prefix sums being monotone.
    *
    * The greedy fill is inherently sequential per stratum, so the exact
    * pass cannot parallelize inside a stratum — instead the corpus-sized
    * work is cut BEFORE it: each input partition locally sorts by the same
    * md5 order (no shuffle) and drops every row whose partition-local
    * running count already exceeds the budget. A row's local prefix is a
    * subset of its global prefix, so local-over-budget ⇒ global-over-budget
    * and the prune never drops a keeper. The exact window then runs over
    * ≤ partitions × (budget worth of documents) survivors per stratum —
    * bounded by the budget, not the corpus (plus any zero-token rows inside
    * the budget prefix, which never advance the sum).
    */
  def tokenBudgetSample(docs: DataFrame, strataCol: String, idCol: String,
      tokenCol: String, budgetTokens: Long): DataFrame = {
    val keyed = docs
      .withColumn("_sk", md5(col(idCol).cast("string")))
      .withColumn("_tk", coalesce(col(tokenCol).cast("long"), lit(0L)))
    val schema = keyed.schema
    val sIdx = schema.fieldIndex(strataCol)
    val tIdx = schema.fieldIndex("_tk")
    val pruned = keyed.sortWithinPartitions(col("_sk"), col(idCol))
      .mapPartitions { it =>
        // partition is (_sk, id)-sorted, so each stratum's subsequence
        // arrives in md5 order: one running sum per stratum suffices
        val sums = mutable.HashMap.empty[Any, Long]
        it.filter { r =>
          val s = r.get(sIdx)
          val cur = sums.getOrElse(s, 0L) + r.getLong(tIdx)
          sums(s) = cur
          cur <= budgetTokens
        }
      }(Encoders.row(schema))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("_sk"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pruned.withColumn("cum_tokens", sum(col(tokenCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .drop("_sk", "_tk")
  }

  /** Sequence-packing offsets: concatenate each stratum's documents in the
    * stable md5-over-id order and cut the stream into fixed `seqLen`-token
    * training sequences — the concat-then-chunk layout pretraining data
    * loaders use (documents straddle sequence boundaries; no padding).
    * For every document this emits its exclusive token offset within the
    * stratum's stream (`tok_offset`), the sequence its first token lands
    * in (`seq_idx`) and the position inside it (`seq_pos`) — all a loader
    * needs to materialize any sequence shard independently.
    *
    * Unlike the greedy budget fill ([[tokenBudgetSample]]), the packing
    * offset is a pure prefix sum, so it parallelizes with the same
    * two-pass range-partition shape as [[Ranks.byValue]] — per-slice local
    * prefix sums plus broadcast per-slice totals — instead of one
    * sequential scan per stratum: parallelism is bounded by shuffle
    * partitions, not stratum count, and no reducer ever sees more than its
    * range slice. `tokenCol` must be non-negative.
    */
  def packSequences(docs: DataFrame, strataCol: String, idCol: String,
      tokenCol: String, seqLen: Long): DataFrame = {
    require(seqLen > 0, "need seqLen > 0")
    exclusivePrefix(docs, strataCol, idCol, tokenCol)
      .withColumnRenamed("_excl", "tok_offset")
      // offsets stay < 2^53, so the double division floors exactly
      .withColumn("seq_idx",
        floor(col("tok_offset") / lit(seqLen)).cast("long"))
      .withColumn("seq_pos", (col("tok_offset") % lit(seqLen)).cast("long"))
  }

  /** Exclusive per-stratum token prefix sum in the stable `(md5(id), id)`
    * order, via the two-pass range-partition shape (see [[packSequences]]
    * and [[Ranks.byValue]]): per-slice local prefixes + a broadcast
    * per-slice offset table. Adds `_excl`; drops the working columns.
    */
  private def exclusivePrefix(docs: DataFrame, strataCol: String,
      idCol: String, tokenCol: String): DataFrame = {
    val keyed = docs
      .withColumn("_sk", md5(col(idCol).cast("string")))
      .withColumn("_tk", coalesce(col(tokenCol).cast("long"), lit(0L)))
    val nParts =
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = keyed
      .repartitionByRange(nParts, col(strataCol).asc, col("_sk").asc,
        col(idCol).asc)
      .withColumn("_pid", spark_partition_id())
    // per-slice token totals → exclusive per-slice offsets (tiny:
    // ≤ partitions × strata rows; the prefix window runs over partition
    // ids, not documents); the range exchange is shared with the main
    // branch via AQE exchange reuse
    val offsets = parted
      .groupBy(col("_pid"), col(strataCol))
      .agg(sum(col("_tk")).as("_c"))
      .withColumn("_off", coalesce(
        sum(col("_c")).over(Window.partitionBy(col(strataCol))
          .orderBy(col("_pid").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col(strataCol), col("_off"))
    val wLocal = Window.partitionBy(col("_pid"), col(strataCol))
      .orderBy(col("_sk").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn("_lcum", coalesce(sum(col("_tk")).over(wLocal), lit(0L)))
      .join(broadcast(offsets), Seq("_pid", strataCol))
      .withColumn("_excl", col("_lcum") + col("_off"))
      .drop("_sk", "_tk", "_pid", "_lcum", "_off")
  }

  /** N-gram diversity profile (the distinct-n corpus diversity metric —
    * Li et al. 2016's distinct-1/distinct-2 at corpus scale): per stratum
    * and n-gram order, `distinct_ngrams / total_ngrams`. Low values mark
    * template-heavy or repetitively-generated slices BEFORE training on
    * them; the per-order trend (how fast diversity rises with n)
    * separates natural text from boilerplate. Counts are exact longs over
    * raw grams (the production-scale variant would count hashed grams;
    * exactness is kept here so the ratio is oracle-checkable bit-for-bit)
    * and the ratio is one IEEE division. Short documents contribute their
    * single partial tail gram, the [[Dedup.wordNgrams]] convention.
    *
    * Scale shape: all requested orders ride ONE corpus pass (a literal
    * array explode tags each gram stream with its order), then one
    * (stratum, n, gram)-keyed two-stage distinct aggregate — Spark's
    * partial-distinct spreads the gram stream before the count, so a
    * dominant stratum doesn't concentrate.
    */
  def ngramDiversity(docs: DataFrame, strataCol: String, textCol: String,
      ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ > 0), "need n-gram orders > 0")
    val base = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(strataCol), TextAnalysis.tokens(col(textCol)).as("_t"))
    val grams = base
      .select(col(strataCol), explode(array(ns.map(n =>
        struct(lit(n).as("_n"), Dedup.wordNgrams(col("_t"), n).as("_gs"))): _*))
        .as("_e"))
      .select(col(strataCol), col("_e._n").as("n"),
        explode(col("_e._gs")).as("_g"))
    grams.groupBy(col(strataCol), col("n"))
      .agg(count_distinct(col("_g")).as("distinct_ngrams"),
        count(lit(1)).as("total_ngrams"))
      .withColumn("distinct_ratio",
        col("distinct_ngrams").cast("double") / col("total_ngrams"))
  }

  /** Corpus-derived stopword coverage — the CCNet-style "does this
    * document use its language's common words" signal WITHOUT an external
    * stopword resource: the list is each stratum's own head vocabulary
    * ([[topTermsPerStratum]], the terms every natural document of that
    * language keeps hitting), and each document reports how much of its
    * token stream those terms cover. Gibberish, code dumps, and
    * wrong-language text score low in their claimed stratum. Output per
    * document: (`idCol`, strataCol, `n_toks`, `n_stop`, `stop_ratio` —
    * one IEEE division of exact longs).
    *
    * Scale shape: the head list is `strata × k` rows (broadcast); the
    * token stream left-joins it map-only and re-aggregates per document —
    * work is one corpus token pass, the x88 OOV shape with a per-stratum
    * vocabulary.
    */
  def stopwordCoverage(docs: DataFrame, strataCol: String, textCol: String,
      idCol: String, k: Int = 20): DataFrame = {
    require(k > 0, "need k > 0")
    val heads = topTermsPerStratum(docs, strataCol, textCol, k)
      .select(col(strataCol), col("term"), lit(true).as("_stop"))
    Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol), col(strataCol),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .join(broadcast(heads), Seq(strataCol, "term"), "left")
      .groupBy(col(idCol), col(strataCol))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("_stop"), 1L).otherwise(0L)).as("n_stop"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_toks"))
  }

  /** Vocabulary head-coverage planning: for each stratum and each
    * requested coverage fraction `fn/fd`, the SMALLEST head vocabulary —
    * terms taken in (count desc, term asc) order — whose token mass
    * reaches that fraction of the stratum's total. The Zipf planning
    * curve behind "how large a vocabulary covers 99% of English tokens":
    * tokenizer sizing, OOV budgeting ([[oovRateAgainstTable]]'s vocabSize
    * chosen from data), stopword-head inspection. Output per (stratum,
    * fraction): `frac`, `vocab_size` (the rank of the crossing term),
    * `covered_tokens`, `total_tokens` — exact longs; fractions are exact
    * rationals so the crossing test `(cum − cnt)·fd < fn·tot ≤ cum·fd`
    * never touches a float (`frac` itself is one IEEE division for the
    * caller).
    *
    * Scale shape: one map-side-combined (stratum, term) count, then the
    * [[Ranks.byValue]] two-pass rank-and-prefix-sum over the VOCABULARY
    * table — range-partitioned on (stratum, count desc, term), per-slice
    * local ranks/cumsums plus a broadcast ≤ partitions × strata offset
    * table — so a billion-term vocabulary never serializes into one
    * reducer per stratum. (count desc, term) is a TOTAL order per
    * stratum, so ranks, cumsums and the crossing row are deterministic.
    * The fraction probes ride the same pass as a literal-array explode.
    */
  def headCoverage(docs: DataFrame, strataCol: String, textCol: String,
      fracs: Seq[(Int, Int)]): DataFrame =
    headCoverageFromCounts(
      strataTermCounts(docs, strataCol, textCol), strataCol, fracs)

  /** Per-(stratum, term) occurrence counts — the stratum-tagged sibling
    * of [[termCountTable]], and like it ADDITIVE on disjoint document
    * batches (each count row depends only on its own documents'
    * token streams, aggregated by key): maintain per batch with a
    * `(strataCol, term)`-keyed re-aggregation, never re-tokenize.
    * Feeds [[headCoverageFromCounts]] and any per-stratum vocabulary
    * consumer.
    */
  def strataTermCounts(docs: DataFrame, strataCol: String,
      textCol: String): DataFrame =
    Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(strataCol),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(strataCol), col("term")).agg(count(lit(1)).as("_cnt"))

  /** [[headCoverage]] from a pre-aggregated [[strataTermCounts]] table —
    * the maintained entry point: vocabulary planning re-runs on CURRENT
    * counts without touching corpus text.
    */
  def headCoverageFromCounts(counts: DataFrame, strataCol: String,
      fracs: Seq[(Int, Int)]): DataFrame = {
    require(fracs.nonEmpty &&
      fracs.forall { case (n, d) => n > 0 && d > 0 && n <= d },
      "need fractions fn/fd in (0, 1]")
    val nParts =
      counts.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = counts
      .repartitionByRange(nParts, col(strataCol).asc, col("_cnt").desc,
        col("term").asc)
      .withColumn("_pid", spark_partition_id())
    val wPrev = Window.partitionBy(col(strataCol)).orderBy(col("_pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted
      .groupBy(col("_pid"), col(strataCol))
      .agg(sum(col("_cnt")).as("_c"), count(lit(1)).as("_k"))
      .withColumn("_coff", coalesce(sum(col("_c")).over(wPrev), lit(0L)))
      .withColumn("_koff", coalesce(sum(col("_k")).over(wPrev), lit(0L)))
      .withColumn("_tot",
        sum(col("_c")).over(Window.partitionBy(col(strataCol))))
      .select(col("_pid"), col(strataCol), col("_coff"), col("_koff"),
        col("_tot"))
    val wLocal = Window.partitionBy(col("_pid"), col(strataCol))
      .orderBy(col("_cnt").desc, col("term").asc)
    val cum = parted
      .withColumn("_lrn", row_number().over(wLocal))
      .withColumn("_lcum", sum(col("_cnt"))
        .over(wLocal.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets), Seq("_pid", strataCol))
      .withColumn("_rank", col("_lrn") + col("_koff"))
      .withColumn("_cum", col("_lcum") + col("_coff"))
    val probes = explode(array(fracs.map { case (n, d) =>
      struct(lit(n).as("_fn"), lit(d).as("_fd"))
    }: _*))
    cum.withColumn("_f", probes)
      .select(col(strataCol), col("_cnt"), col("_rank"), col("_cum"),
        col("_tot"), col("_f._fn").as("_fn"), col("_f._fd").as("_fd"))
      .filter((col("_cum") - col("_cnt")) * col("_fd") <
          col("_fn") * col("_tot") &&
        col("_cum") * col("_fd") >= col("_fn") * col("_tot"))
      .select(col(strataCol),
        (col("_fn").cast("double") / col("_fd")).as("frac"),
        col("_rank").cast("long").as("vocab_size"),
        col("_cum").as("covered_tokens"), col("_tot").as("total_tokens"))
  }

  /** Mixture sampling to TARGET PROPORTIONS: given per-stratum target
    * shares `w_s` (e.g. en 0.5, fr 0.2, de 0.3), find the largest total
    * token budget every stratum can supply — `B = min_s ⌊T_s / w_s⌋` over
    * the strata's token totals `T_s` — and greedily fill each stratum to
    * its quota `⌊w_s·B⌋` in the stable md5-over-id order. The result is
    * the largest deterministic sub-corpus whose strata hit the requested
    * mixture (up to one document's overshoot at each quota boundary, the
    * same no-overshoot rule as [[tokenBudgetSample]]). Strata absent from
    * `shares` are excluded; shares need not sum to 1 (only ratios
    * matter... up to the ⌊·⌋ quantization). A target stratum with NO rows
    * contributes no `T_s` row and so doesn't constrain `B` — callers
    * wanting a strict mixture should validate supply first. The scaling
    * arithmetic is one
    * division, one multiply and two floors on exact longs — bit-stable
    * across engines.
    *
    * Output: the kept rows with their inclusive `cum_tokens`. Scale
    * shape: token totals are a tiny per-stratum aggregate; quotas derive
    * from a strata-count-sized broadcast; the prefix sum is the two-pass
    * range-partition shape ([[packSequences]]) — no per-stratum sequential
    * scan, parallelism bounded by shuffle partitions.
    */
  /** Score-proportional Bernoulli sampling — SOFT quality filtering
    * (the FineWeb-style alternative to a hard threshold: keep each
    * document with probability equal to its clamped-[0,1] quality score,
    * so borderline documents survive in proportion instead of cliffing):
    * `keep` ⇔ the 32-bit `md5(salt|id)` slice falls below
    * `⌊p·2³²⌋` — [[hashSplit]]'s determinism extended to a PER-ROW
    * probability. The decision is pure per-row arithmetic (O(1),
    * codegen'd, reproducible on any engine and partitioning, re-saltable
    * for fresh draws), marginally Bernoulli(p) over the hash. A NULL
    * score yields a NULL verdict — unknown, not dropped
    * (verdict-not-filter). Output: the input plus `keep`.
    */
  def bernoulliByScore(docs: DataFrame, idCol: String, scoreCol: String,
      salt: String = "soft"): DataFrame = {
    val slice = conv(
      substring(md5(concat_ws("|", lit(salt), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long")
    val p = least(greatest(col(scoreCol).cast("double"), lit(0.0)), lit(1.0))
    // least/greatest SKIP nulls (both engines), so the unknown verdict
    // must be restored explicitly — a null score is not a zero score
    docs.withColumn("keep",
      when(col(scoreCol).isNull, lit(null))
        .otherwise(slice < floor(p * 4294967296.0).cast("long")))
  }

  /** Distribution drift between a REFERENCE population and a CURRENT one
    * over a categorical key (language, source, quality bucket...) — the
    * ingest-time monitoring question "does today's data still look like
    * the corpus": per key the exact-integer drift mass
    * `drift_num = |c_ref·N_cur − c_cur·N_ref|` (the x100 t-closeness
    * algebra: total-variation distance = Σ drift_num / (2·N_ref·N_cur),
    * so the per-key rows ARE the audit of which buckets moved) and
    * `drift_share`, its one-IEEE-division contribution to the total.
    * Keys absent from one side count with mass 0 — appearing/vanishing
    * categories are drift, not errors. NULL keys are excluded (missing
    * metadata is [[Privacy.kAnonymityReport]]'s concern, not a
    * distribution bucket).
    *
    * Scale shape: two map-side-combined key aggregates, one full-outer
    * join on the (bounded-cardinality) key, one one-row totals attach.
    * [[driftFromCounts]] is the same report from pre-aggregated count
    * tables — the maintained/streaming entry point.
    */
  def distributionDrift(ref: DataFrame, cur: DataFrame,
      keyCol: String): DataFrame =
    driftFromCounts(
      ref.filter(col(keyCol).isNotNull).groupBy(col(keyCol))
        .agg(count(lit(1)).as("c_ref")),
      cur.filter(col(keyCol).isNotNull).groupBy(col(keyCol))
        .agg(count(lit(1)).as("c_cur")),
      keyCol)

  /** [[distributionDrift]] for NUMERIC columns: values land in
    * fixed-width bins (`bin = ⌊value / binWidth⌋` — one IEEE division +
    * floor, engine-exact) and the same exact-integer TV algebra runs
    * over the bin histogram. The monitoring question x108 answers for
    * categorical keys ("does today's language/source mix still look
    * like the corpus"), asked of numeric ones — document lengths, token
    * counts, quality scores: a shifted length distribution is drift a
    * categorical monitor cannot see. NULL values are excluded; the
    * per-bin rows are the audit of WHERE the distribution moved.
    *
    * Scale shape: two map-side-combined bin aggregates (output rows
    * bounded by the value range / binWidth), one full-outer join on the
    * bin id, one one-row totals attach — [[distributionDrift]]'s cost
    * exactly.
    */
  def numericDistributionDrift(ref: DataFrame, cur: DataFrame,
      valueCol: String, binWidth: Double): DataFrame = {
    require(binWidth > 0.0, "need binWidth > 0")
    def binned(df: DataFrame, out: String) =
      df.filter(col(valueCol).isNotNull)
        .groupBy(floor(col(valueCol).cast("double") / binWidth)
          .cast("long").as("bin"))
        .agg(count(lit(1)).as(out))
    driftFromCounts(binned(ref, "c_ref"), binned(cur, "c_cur"), "bin")
  }

  /** [[distributionDrift]] from pre-aggregated count tables
    * (`keyCol`, `c_ref`) / (`keyCol`, `c_cur`).
    */
  def driftFromCounts(refCounts: DataFrame, curCounts: DataFrame,
      keyCol: String): DataFrame = {
    val joined = refCounts.join(curCounts, Seq(keyCol), "full_outer")
      .select(col(keyCol), coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val tot = joined.agg(sum(col("c_ref")).as("_nr"),
      sum(col("c_cur")).as("_nc"))
    joined.crossJoin(broadcast(tot))
      .select(col(keyCol), col("c_ref"), col("c_cur"),
        abs(col("c_ref") * col("_nc") - col("c_cur") * col("_nr"))
          .as("drift_num"),
        (abs(col("c_ref") * col("_nc") - col("c_cur") * col("_nr"))
          .cast("double") /
          (lit(2L) * col("_nr") * col("_nc")).cast("double"))
          .as("drift_share"))
  }

  /** Epoch/repetition plan for a token budget under an integer mixture
    * (the data-constrained scaling question of Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": when the target mixture
    * asks a stratum for more tokens than it has, how many EPOCHS of it
    * will repeat, and how much of the ask exceeds the acceptable
    * repetition cap). Per planned stratum:
    *
    *  - `avail_tokens` T_s — what the corpus holds (exact long sum);
    *  - `target_tokens` ⌊budget·w_s/W⌋ — the mixture's ask, exact integer
    *    arithmetic over the INTEGER weight parts (no float share sum);
    *  - `epochs` target/avail — the repetition factor, ONE IEEE division
    *    (null when the stratum has no tokens: the plan surfaces the hole
    *    instead of dividing by zero);
    *  - `over_cap` target·capDen > avail·capNum — the repetition-cap
    *    verdict as an EXACT integer compare (cap = capNum/capDen epochs);
    *  - `deficit_tokens` max(0, target − ⌊capNum·avail/capDen⌋) — the
    *    tokens the mixture must source elsewhere (or the cap must absorb).
    *
    * Driver/oracle-exact end to end: the one double is `epochs`, derived
    * from two exact longs. Strata are the WEIGHTS' rows (left join): a
    * planned stratum absent from the corpus surfaces with avail 0 rather
    * than vanishing; corpus strata outside the plan are ignored. One
    * stratum-keyed aggregate, output ≤ |weights| rows — the bounded
    * planning-table shape of [[temperatureShares]].
    */
  def repetitionPlan(docs: DataFrame, strataCol: String, tokenCol: String,
      weights: Seq[(String, Long)], budgetTokens: Long,
      capNum: Long, capDen: Long): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0L),
      "need positive integer weight parts")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate stratum in weights")
    require(budgetTokens > 0L && capNum > 0L && capDen > 0L,
      "budget and epoch cap must be positive")
    val w = weights.map(_._2).sum
    require(budgetTokens <= Long.MaxValue / weights.map(_._2).max,
      "budget x max weight part must fit in a long")
    val spark = docs.sparkSession
    import spark.implicits._
    val wDf = weights.toDF(strataCol, "_w")
    val avail = docs
      .withColumn(strataCol, col(strataCol).cast("string"))
      .groupBy(col(strataCol))
      .agg(sum(coalesce(col(tokenCol).cast("long"), lit(0L))).as("_T"))
    wDf.join(avail, Seq(strataCol), "left")
      .select(col(strataCol),
        coalesce(col("_T"), lit(0L)).as("avail_tokens"),
        // DIV, not /: Spark's / on integral types is a double divide —
        // exactness past 2^53 needs the integer division operator
        expr(s"${budgetTokens}L * _w DIV ${w}L").as("target_tokens"))
      .select(col(strataCol), col("avail_tokens"), col("target_tokens"),
        when(col("avail_tokens") > 0L,
          col("target_tokens").cast("double") /
            col("avail_tokens").cast("double")).as("epochs"),
        (col("target_tokens") * lit(capDen) >
          col("avail_tokens") * lit(capNum)).as("over_cap"),
        greatest(lit(0L),
          col("target_tokens") -
            expr(s"${capNum}L * avail_tokens DIV ${capDen}L"))
          .as("deficit_tokens"))
  }

  /** Temperature-flattened mixture shares at α = ½ (the multilingual
    * upsampling rule of XLM-R / mT5: raw stratum masses `T_s` are
    * flattened to `T_s^α` so low-resource strata train more than their
    * raw share, high-resource ones less): per non-null stratum the weight
    * `√T_s`, ready to feed [[mixtureSample]] (which only reads share
    * RATIOS, so no normalization — and therefore no order-sensitive
    * float sum — is ever computed). α is fixed at ½ deliberately: IEEE
    * `sqrt` is correctly rounded and thus bit-identical on every engine,
    * while a general `pow(x, α)` carries no such guarantee and would
    * break oracle hash equality.
    *
    * Driver-side by design: the result is one weight per stratum —
    * bounded by stratum cardinality (languages, sources), the same
    * contract as the collected centroid/budget tables elsewhere.
    */
  def temperatureShares(docs: DataFrame, strataCol: String,
      tokenCol: String): Seq[(String, Double)] =
    docs.filter(col(strataCol).isNotNull)
      .groupBy(col(strataCol))
      .agg(sum(coalesce(col(tokenCol).cast("long"), lit(0L))).as("_T"))
      .filter(col("_T") > 0)
      .collect()
      // r.get(0).toString, not getString: the generic strataCol may be a
      // non-string stratum (int source id, date bucket) — the
      // Seq[(String, Double)] contract stringifies it safely either way
      .map(r => r.get(0).toString -> math.sqrt(r.getLong(1).toDouble))
      .sortBy(_._1).toSeq

  def mixtureSample(docs: DataFrame, strataCol: String, idCol: String,
      tokenCol: String, shares: Seq[(String, Double)]): DataFrame = {
    require(shares.nonEmpty && shares.forall(_._2 > 0.0),
      "need positive target shares")
    require(shares.map(_._1).distinct.size == shares.size,
      "duplicate stratum in shares")
    val spark = docs.sparkSession
    import spark.implicits._
    val sharesDf = shares.toDF(strataCol, "_w")
    val inTarget = docs.join(broadcast(sharesDf), Seq(strataCol))
    val totals = inTarget
      .groupBy(col(strataCol))
      .agg(sum(coalesce(col(tokenCol).cast("long"), lit(0L))).as("_T"),
        first(col("_w")).as("_w"))
    val b = totals
      .agg(min(floor(col("_T") / col("_w")).cast("long")).as("_B"))
    val budgets = totals.crossJoin(broadcast(b))
      .select(col(strataCol),
        floor(col("_w") * col("_B")).cast("long").as("_budget"))
    exclusivePrefix(inTarget.drop("_w"), strataCol, idCol, tokenCol)
      .withColumn("cum_tokens",
        col("_excl") + coalesce(col(tokenCol).cast("long"), lit(0L)))
      .drop("_excl")
      .join(broadcast(budgets), Seq(strataCol))
      .filter(col("cum_tokens") <= col("_budget"))
      .drop("_budget")
  }

  /** Model-free heuristic quality filter in the style of Gopher's rules
    * (Rae et al. 2021, "Scaling Language Models" §A1.1): per document the
    * signal bundle and a single `keep` verdict —
    *
    *  - `n_tokens` within `[minTokens, maxTokens]` (word count rule),
    *  - `avg_token_len` within `[minAvgTokenLen, maxAvgTokenLen]`,
    *  - `punct_ratio ≤ maxPunctRatio` (symbol-to-char proxy of the
    *    symbol-to-word rule),
    *  - `stop_hits ≥ minStopwordHits` (Gopher's "≥ 2 stop words"),
    *  - `distinct_token_ratio ≥ minDistinctTokenRatio` and
    *    `top_bigram_ratio ≤ maxTopBigramRatio` — count-based adaptations
    *    of the duplicate-line / most-frequent-2-gram repetition rules.
    *
    * Emits every signal alongside `keep` so a pipeline can audit WHY a
    * document dropped, not just that it did.
    *
    * Scale shape: the scalar signals are one fused codegen'd pass
    * ([[TextAnalysis.qualityScores]]); the repetition signal reuses
    * [[bigramRepetition]] (doc-keyed two-stage aggregate) and joins back
    * on the id — every key contains the document id, so nothing
    * concentrates. `stop_hits` is recovered as `round(ratio · n)` from the
    * fused bundle rather than re-tokenizing: both factors are exact in
    * double, so the product rounds back to the exact integer count.
    */
  def gopherQualityFilter(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
      maxPunctRatio: Double = 0.1, minStopwordHits: Int = 2,
      minDistinctTokenRatio: Double = 0.3,
      maxTopBigramRatio: Double = 0.18): DataFrame = {
    val q = docs
      .select(col(idCol), TextAnalysis.qualityScores(col(textCol)).as("_q"),
        TextAnalysis.distinctTokenRatio(col(textCol)).as("distinct_token_ratio"))
      .select(col(idCol),
        col("_q.n_tokens").as("n_tokens"),
        col("_q.avg_token_len").as("avg_token_len"),
        col("_q.punct_ratio").as("punct_ratio"),
        round(col("_q.stopword_ratio") * col("_q.n_tokens"))
          .cast("int").as("stop_hits"),
        col("distinct_token_ratio"))
    val rep = bigramRepetition(docs, textCol, idCol)
      .select(col(idCol), col("top_bigram_ratio"))
    q.join(rep, Seq(idCol), "left")
      // a <2-token document has no bigram to repeat: ratio 0, not null
      .withColumn("top_bigram_ratio", coalesce(col("top_bigram_ratio"), lit(0.0)))
      .withColumn("keep",
        col("n_tokens").between(minTokens, maxTokens) &&
          col("avg_token_len").between(minAvgTokenLen, maxAvgTokenLen) &&
          col("punct_ratio") <= maxPunctRatio &&
          col("stop_hits") >= minStopwordHits &&
          col("distinct_token_ratio") >= minDistinctTokenRatio &&
          col("top_bigram_ratio") <= maxTopBigramRatio)
  }

  /** Exact linear-interpolation quantiles (SQL `quantile_cont` semantics:
    * rank `h = (n-1)·p`, value `v⌊h⌋ + (h-⌊h⌋)·(v⌈h⌉ - v⌊h⌋)` over the
    * sorted group) computed in TWO distributed passes instead of an
    * in-memory buffer.
    *
    * This is the continuous-column companion to the `percentile` aggregate
    * (x19): `percentile` buffers a value→count map per group — bounded and
    * fine for integer-valued metrics like char lengths, but O(group) state
    * on a continuous column (every double distinct) and therefore the wrong
    * shape at corpus scale. Ranks come from [[Ranks.byValue]] — the
    * range-partitioned two-pass rank whose parallelism is bounded by
    * shuffle partitions rather than group count (a per-group window would
    * hand each stratum to ONE reducer) — then each requested `p` reduces
    * to the weighted sum of at most two rows per group. Memory never
    * depends on group size or value cardinality.
    *
    * Output: (`groupCol`, `p<p·100>` per requested quantile), one row per
    * group. Interpolation multiplies exactly as written above — the same
    * association DuckDB's `quantile_cont` uses — so integer-valued inputs
    * reproduce bit-identically. NULL values are ignored (neither ranked
    * nor counted in `n`); an all-null group keeps its row with null
    * quantiles.
    */
  /** Per-document token-frequency statistics against the corpus unigram
    * table — the model-free analogue of CCNet's LM-perplexity signal: a
    * document whose tokens are all corpus-common scores a high `mean_tf`
    * (boilerplate-ish/low-information), one dominated by corpus-rare tokens
    * scores high `rare_ratio` (noise/garble-ish). Emitted per doc:
    * `n_toks`, `sum_tf` (Σ corpus count of each token occurrence, exact),
    * `mean_tf`, `n_rare` (tokens with corpus count ≤ `rareMax`) and
    * `rare_ratio`. All counts are exact integers and each ratio is ONE
    * IEEE division of exact integers, so results are bit-stable across
    * engines and partitionings — deliberately not a floating log-prob sum,
    * whose accumulation order would make the hash nondeterministic.
    *
    * Scale shape: token explode → one `groupBy(term)` count (map-side
    * combine, shuffle O(vocabulary)) → equi-join of the token stream back
    * on term (AQE broadcasts the count table when the vocabulary is small)
    * → doc-keyed re-aggregation. Every shuffle key is the term or the doc
    * id; nothing concentrates.
    */
  def tokenRarity(docs: DataFrame, textCol: String, idCol: String,
      rareMax: Long = 2): DataFrame = {
    val tok = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("_term"))
    val counts = tok.groupBy(col("_term")).agg(count(lit(1)).as("_c"))
    tok.join(counts, Seq("_term"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("_c")).as("sum_tf"),
        sum(when(col("_c") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
      .select(col("_id").as(idCol), col("n_toks"), col("sum_tf"),
        (col("sum_tf").cast("double") / col("n_toks")).as("mean_tf"),
        col("n_rare"),
        (col("n_rare").cast("double") / col("n_toks")).as("rare_ratio"))
  }

  /** Corpus unigram count table — the maintained-table form of
    * [[tokenRarity]]'s in-query aggregate: (term, c). Unlike the other
    * maintained tables (signatures, buckets, gram sets — append-only row
    * sets), counts MERGE ADDITIVELY: maintain with [[mergeTermCounts]],
    * whose invariant `table(a) ⊕ table(b) = table(a ∪ b)` means the corpus
    * is tokenized exactly once per ingest and never re-counted.
    */
  def termCountTable(docs: DataFrame, textCol: String): DataFrame =
    Par.spread(docs).filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))

  /** Additive merge of two unigram count tables (one union + one map-side
    * combined sum — commutative and associative, so batches fold in any
    * order).
    */
  def mergeTermCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("term")).agg(sum(col("c")).as("c"))

  /** Corpus accounting table — the "dataset card" numbers (docs, chars,
    * whitespace tokens per (lang, source) cell), built so the table is
    * ADDITIVE: `merge(table(a), table(b)) = table(a ∪ b)` for disjoint
    * batches, because every column is a key-wise sum of per-row integers.
    * Maintain it per ingest batch ([[graft.util.Maintained]] /
    * `foreachBatch`) and release-time reporting is a table scan, never a
    * corpus re-scan — the doc-level sibling of [[termCountTable]].
    * NULL text contributes 0 chars/tokens (the doc still counts).
    *
    * Scale shape: one aggregate keyed by the (lang, source) cell with
    * map-side combine; output rows = |lang|·|source| cells, KBs each.
    */
  def corpusStatsTable(docs: DataFrame, langCol: String, sourceCol: String,
      textCol: String): DataFrame =
    docs.groupBy(col(langCol), col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(length(col(textCol)).cast("long"), lit(0L)))
          .as("sum_chars"),
        sum(coalesce(TextAnalysis.whitespaceTokenCount(col(textCol))
          .cast("long"), lit(0L))).as("sum_toks"))

  /** Additive merge of two [[corpusStatsTable]]s (union + key-wise sums —
    * commutative and associative, so batches fold in any order).
    */
  def mergeCorpusStats(a: DataFrame, b: DataFrame): DataFrame = {
    val Seq(lang, source) = a.columns.take(2).toSeq
    a.unionByName(b).groupBy(col(lang), col(source))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("sum_chars"),
        sum(col("sum_toks")).as("sum_toks"))
  }

  /** [[tokenRarity]] scored against a MAINTAINED [[termCountTable]] — the
    * ingest-time contract: a new batch's quality signals are computed
    * against the CURRENT reference counts without re-tokenizing the
    * corpus; per-batch work is the batch's own token stream plus one
    * term-keyed join. Tokens absent from the table score `c = 0`
    * (maximally rare — the right reading for an unseen token).
    */
  def tokenRarityAgainstTable(docs: DataFrame, counts: DataFrame,
      textCol: String, idCol: String, rareMax: Long = 2): DataFrame = {
    val tok = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
    tok.join(counts, Seq("term"), "left")
      .withColumn("_c", coalesce(col("c"), lit(0L)))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("_c")).as("sum_tf"),
        sum(when(col("_c") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
      .select(col("_id").as(idCol), col("n_toks"), col("sum_tf"),
        (col("sum_tf").cast("double") / col("n_toks")).as("mean_tf"),
        col("n_rare"),
        (col("n_rare").cast("double") / col("n_toks")).as("rare_ratio"))
  }

  /** Out-of-vocabulary rate against a MAINTAINED [[termCountTable]]: the
    * vocabulary is the table's top `vocabSize` terms by (count desc, term
    * asc — deterministic ties), and each document reports `n_toks`,
    * `n_oov` (tokens outside that vocabulary) and `oov_rate` (one IEEE
    * division of exact longs). High OOV marks text the tokenizer will
    * shred into rare pieces — the standard cheap proxy for
    * tokenizer/corpus mismatch when choosing what to train or re-train a
    * vocabulary on. Unseen-by-the-table tokens are by definition OOV, so
    * the ingest-time contract matches [[tokenRarityAgainstTable]]: score
    * a batch against CURRENT reference counts, never re-tokenize the
    * corpus.
    *
    * Scale shape: the vocabulary is a bounded `vocabSize`-row TakeOrdered
    * over the count table (per-partition heaps, no global sort); the
    * token stream left-joins it — AQE broadcasts a bounded build side —
    * and re-aggregates per doc. Every shuffle key is the term or the doc
    * id.
    */
  def oovRateAgainstTable(docs: DataFrame, counts: DataFrame,
      textCol: String, idCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"need vocabSize > 0, got $vocabSize")
    val vocab = counts.orderBy(col("c").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(true).as("_inv"))
    Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .join(vocab, Seq("term"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("_id").as(idCol), col("n_toks"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_toks")).as("oov_rate"))
  }

  /** Top-`k` TF-IDF keywords per document. IDF is the RAW inverse document
    * frequency `n_docs / df` (no logarithm): the log variant reweights but
    * the machinery is identical, and the rational form keeps the score ONE
    * IEEE division of exact integers (`tf·n_docs` is an exact long), so
    * ranking and hashes are bit-stable across engines. Ties break on the
    * term string, so the top-k set is deterministic.
    *
    * Scale shape: `(doc, term)` term frequencies in one map-side-combined
    * aggregate; document frequencies in a second (O(vocabulary)); the
    * doc count joins in as a one-row broadcast. The final rank window
    * partitions BY DOCUMENT — millions of tiny groups, the opposite of the
    * per-stratum bottleneck [[Ranks]] exists to avoid.
    */
  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0, "need k > 0")
    val base = Par.spread(docs).filter(col(textCol).isNotNull)
    val tf = base
      .select(col(idCol).as("_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val nDocs = base.agg(count(lit(1)).as("_nd"))
    val w = Window.partitionBy(col("_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("_nd")).cast("double") / col("df_docs"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_id").as(idCol), col("term"), col("tf"), col("df_docs"),
        col("score"))
  }

  /** BM25 ranked retrieval (Robertson/Sparck Jones probabilistic model,
    * Okapi weighting with k1 = 6/5, b = 3/4): top-`k` corpus documents per
    * query, scored over the inverted-index shape — the workhorse for
    * "find the corpus documents most relevant to this probe/benchmark
    * question" sweeps over training data.
    *
    * Determinism across engines is engineered the same way as
    * [[tfidfTopTerms]]'s raw-idf: the idf is the log-free rational variant
    * `(N − df + ½)/(df + ½)` and every per-term contribution reduces to
    * ONE IEEE division of two exactly-representable products,
    *
    *   ((2N − 2df + 1) · 44·tf · T) / ((2df + 1) · (20·tf·T + 6T + 18·dl·N))
    *
    * (T = corpus token count, dl = doc length; the integer constants are
    * k1, b and the ½s cleared to a common denominator). The quotient is
    * quantized to millionths with `floor(q · 10⁶)` — bit-identical on any
    * IEEE-754 engine — so the per-(query, doc) score is an exact LONG sum,
    * associative under any partitioning. Long-range caveat: the products
    * stay exact while tf·T < 2⁵³ (T ≈ 4·10¹⁵ at tf=1) — beyond that,
    * pre-aggregate per shard or widen to decimal.
    *
    * Scale shape: term frequencies and document frequencies are map-side-
    * combined aggregates (shared with tfidf); query terms join the tf
    * postings on the TERM key — the classic inverted-index probe, work
    * ∝ Σ_{query term} df(term), never queries × corpus — then one
    * (query, doc)-keyed sum and a per-QUERY top-k window (millions of tiny
    * groups). `excludeSelf` drops qid = doc id hits when the queries are
    * themselves corpus rows.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, qIdCol: String, qTextCol: String, k: Int = 10,
      excludeSelf: Boolean = false): DataFrame =
    bm25TopKAgainstPostings(queries, postingsTable(docs, textCol, idCol),
      qIdCol, qTextCol, k, excludeSelf)

  /** The index side of [[bm25TopK]] as a MAINTAINED table — (`id`, `term`,
    * `tf`, `dl`) term-frequency postings, the inverted index's row form.
    * ADDITIVE on disjoint document batches: each row depends only on its
    * own document, so `postingsTable(a ∪ b) = postingsTable(a) ∪
    * postingsTable(b)` (spec-proved) — the production contract where
    * documents are tokenized ONCE at ingest, appended, and never
    * re-tokenized per query sweep. `dl` (document token count) is
    * denormalized into every row precisely to keep the table append-only:
    * a separate doc-length table would also work, but this way one table
    * carries the whole index.
    */
  def postingsTable(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val tf = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    tf.join(tf.groupBy(col("id")).agg(sum(col("tf")).as("dl")), Seq("id"))
  }

  /** [[bm25TopK]] scored against an existing [[postingsTable]] — the
    * incremental entry point: corpus-global statistics (df, N, T) are
    * re-derived from the table with two map-side-combined aggregates
    * (O(table), no re-tokenization), and the query batch pays only its own
    * term explode plus the postings probe. Same score, same output shape.
    */
  def bm25TopKAgainstPostings(queries: DataFrame, postings: DataFrame,
      qIdCol: String, qTextCol: String, k: Int = 10,
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, "need k > 0")
    val dfT = postings.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    val docLen = postings.groupBy(col("id")).agg(max(col("dl")).as("_dl"))
    val glob = docLen.agg(count(lit(1)).as("_N"), sum(col("_dl")).as("_T"))
    val qterms = Par.spread(queries).filter(col(qTextCol).isNotNull)
      .select(col(qIdCol).as("_qid"),
        explode(array_distinct(TextAnalysis.tokens(col(qTextCol)))).as("term"))
    val num = (lit(2) * col("_N") - lit(2) * col("_df") + 1).cast("double") *
      (col("_tf") * 44).cast("double") * col("_T").cast("double")
    val den = (lit(2) * col("_df") + 1).cast("double") *
      (col("_tf") * 20 * col("_T") + lit(6) * col("_T") +
        lit(18) * col("_dl") * col("_N")).cast("double")
    val hits = qterms
      .join(postings.select(col("id").as("_id"), col("term"),
        col("tf").as("_tf"), col("dl").as("_dl")), Seq("term"))
      .join(dfT, Seq("term"))
      .crossJoin(broadcast(glob))
    val scored = (if (excludeSelf) hits.filter(col("_qid") =!= col("_id"))
      else hits)
      .withColumn("_c", floor((num / den) * lit(1000000.0)).cast("long"))
    val w = Window.partitionBy(col("_qid"))
      .orderBy(col("score").desc, col("_id").asc)
    scored
      .groupBy(col("_qid"), col("_id")).agg(sum(col("_c")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("_qid").as("query_id"), col("_id").as("doc_id"),
        col("score"), col("rank"))
  }

  /** Diversity pruning of ranked retrieval lists: within each query's
    * list, a result that is a near-duplicate of a BETTER-ranked result of
    * the same list is dropped, survivors re-rank densely and the top `k`
    * remain — so a retrieval page isn't five copies of the same mirrored
    * article. `pairs` is any near-dup pair list over the result documents
    * ([[Dedup.simhashNearDups]] on the distinct result set is the natural
    * feed). The rule is deliberately ONE-STEP domination (drop iff some
    * better-ranked near-dup exists), not the greedy MMR recursion — a
    * dropped result does not rescue results it dominated; one join
    * instead of an iterative per-list scan, deterministic, and
    * order-of-evaluation-free. Output keeps the input's columns plus
    * `final_rank` (input `rank` is the ordering key).
    *
    * Scale shape: pairs symmetrize once, one equi-join against the
    * (N·k-bounded) ranked lists per side, and the re-rank window
    * partitions per QUERY — many tiny groups.
    */
  def diversityPrune(ranked: DataFrame, pairs: DataFrame,
      k: Int): DataFrame = {
    require(k > 0, "need k > 0")
    val sym = pairs.select(col("doc_a"), col("doc_b"))
      .unionByName(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b")))
    val dominated = ranked.as("_fa")
      .join(sym, col("_fa.doc_id") === col("doc_a"))
      .join(ranked.as("_fb"),
        col("_fa.query_id") === col("_fb.query_id") &&
          col("_fb.doc_id") === col("doc_b") &&
          col("_fb.rank") < col("_fa.rank"))
      .select(col("_fa.query_id").as("query_id"),
        col("_fa.doc_id").as("doc_id"))
      .distinct()
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank").asc)
    ranked.join(dominated, Seq("query_id", "doc_id"), "left_anti")
      .withColumn("final_rank", row_number().over(w))
      .filter(col("final_rank") <= k)
  }

  /** INCREMENTAL [[leakageSafeSplit]] — split routing at ingest: each new
    * document receives its train/val/test assignment by first looking for
    * near-duplicates in the EXISTING corpus (via the maintained signature
    * table, [[Dedup.minhashNearDupsAgainstSigs]]) and inheriting the
    * matched cluster's split key: a new doc whose near-dups all live in
    * ONE corpus cluster lands in that cluster's split. The guarantee has
    * one documented exception — the BRIDGING case: a batch doc (or batch
    * cluster) matching TWO distinct corpus clusters inherits only the
    * smaller key, so it can end up split opposite its near-dups in the
    * other cluster (the corpus keys are never rewritten; one-step
    * closure, not a transitive re-closure). Such rows are surfaced with
    * `bridging = true` in the output so callers can quarantine them or
    * re-close the corpus keys offline with [[recloseSplitKeys]] (which
    * rewrites the keys table from the maintained union signature table
    * and re-unifies exactly these clusters). Batch-internal near-dups are
    * closed with [[Dedup.dupClusters]] over the batch's own pairs, and a
    * batch cluster where ANY member matched the corpus adopts the
    * smallest matched corpus key. Unmatched singletons key on their own
    * id, which is exactly what [[leakageSafeSplit]] would assign — so a
    * doc's split is stable whether it arrived in the initial load or any
    * later batch. `corpusSplitKeys` is (`idCol`, `split_key`) — the
    * registration output of [[leakageSafeSplit]] (or this routine's own
    * prior output), maintained alongside the signature table.
    *
    * Scale shape: per batch — the delta-only signature/bucket probe of the
    * maintained path, one key-attach join against the (compact) corpus
    * split-key table, the batch-local cluster propagation, and the O(1)
    * md5 threshold test; the corpus text is never re-signatured and never
    * shuffles.
    */
  def splitRouteAgainst(newDocs: DataFrame, corpusSigs: DataFrame,
      corpusDocs: DataFrame, corpusSplitKeys: DataFrame, textCol: String,
      idCol: String, valFrac: Double, testFrac: Double,
      salt: String = "split", k: Int = 8, bands: Int = 4,
      shingleLen: Int = 5, thNum: Int = 4, thDen: Int = 5): DataFrame = {
    val cross = Dedup.minhashNearDupsAgainstSigs(newDocs, corpusSigs,
      corpusDocs, textCol, idCol, k, bands, shingleLen, thNum, thDen)
      .select(col("doc_a"), col("doc_b"))
    val matched = cross
      .join(corpusSplitKeys.select(col(idCol).as("doc_b"),
        col("split_key").as("_ck")), Seq("doc_b"))
      .select(col("doc_a").as(idCol), col("_ck"))
    val batchPairs = Dedup.minhashNearDups(newDocs, textCol, idCol, k,
      bands, shingleLen, thNum, thDen).select(col("doc_a"), col("doc_b"))
    val canon = Dedup.dupClusters(batchPairs)
      .withColumnRenamed("member_id", idCol)
    val withBc = newDocs
      .join(canon, Seq(idCol), "left")
      .withColumn("_bc", coalesce(col("canonical_id"), col(idCol)))
      .drop("canonical_id")
    // batch-cluster key propagation as an aggregate: one row per batch
    // cluster (bounded by the batch), carrying the adopted key AND the
    // count of DISTINCT corpus clusters the whole batch cluster touched —
    // > 1 is the bridging case the scaladoc documents
    val clusterKey = withBc.select(col(idCol), col("_bc"))
      .join(matched, Seq(idCol))
      .groupBy(col("_bc"))
      .agg(min(col("_ck")).as("_corpusKey"),
        countDistinct(col("_ck")).as("_nck"))
    val keyed = withBc
      .join(clusterKey, Seq("_bc"), "left")
      .withColumn("split_key", coalesce(col("_corpusKey"), col("_bc")))
      .withColumn("bridging", coalesce(col("_nck") > 1, lit(false)))
      .drop("_bc", "_corpusKey", "_nck")
    hashSplit(keyed, "split_key", valFrac, testFrac, salt)
  }

  /** OFFLINE re-closure of split keys — the repair routine
    * [[splitRouteAgainst]]'s `bridging = true` rows point at. Re-derives
    * every document's split key from the MAINTAINED union signature table
    * (corpus signatures ∪ every routed batch's signatures, the table
    * production keeps anyway — text is never re-signatured; only
    * candidate-pair members are re-shingled for exact verification),
    * closing near-dup components TRANSITIVELY across all loads:
    * `Dedup.minhashNearDupsFromSigs` → [[graft.ext.Dedup.dupClusters]] →
    * [[hashSplit]] on the canonical key. The result is IDENTICAL to
    * running [[leakageSafeSplit]] over the whole corpus at once
    * (signatures are a pure function of the text), so after the caller
    * atomically rewrites the keys table with this output, NO verified
    * near-dup pair straddles train/val/test — including the bridging
    * case, whose two corpus clusters merge into one component here
    * (spec-proved). Re-closure CAN move documents between splits (merging
    * clusters must — they now share one key); that is why it runs offline
    * between training epochs, not inline at ingest.
    *
    * Scale shape: one banded self-join over the signature table (band
    * equi-join, never pairs²), exact verification ∝ candidate pairs,
    * [[graft.ext.Dedup.dupClusters]]' O(diameter) checkpointed closure
    * over the sparse verified pair list, one key attach, and the O(1)/row
    * md5 split rule.
    */
  def recloseSplitKeys(docs: DataFrame, sigs: DataFrame, textCol: String,
      idCol: String, valFrac: Double, testFrac: Double,
      salt: String = "split", k: Int = 8, bands: Int = 4,
      shingleLen: Int = 5, thNum: Int = 4, thDen: Int = 5): DataFrame = {
    val pairs = Dedup.minhashNearDupsFromSigs(sigs, docs, textCol, idCol,
        k, bands, shingleLen, thNum, thDen)
      .select(col("doc_a"), col("doc_b"))
    leakageSafeSplit(docs, idCol, pairs, valFrac, testFrac, salt)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR 2009) of N
    * ranked retrieval lists — the standard hybrid-retrieval combiner for
    * lexical + semantic search ([[bm25TopK]] fused with
    * [[Similarity.bruteForceTopK]]/`ivfTopK`): each list contributes
    * `1/(kRrf + rank)` per (query, doc), fused score = the sum. Rankings
    * need only (`query_id`, `doc_id`, `rank`) columns; lists may cover
    * different doc subsets (`n_lists` records how many voted for each
    * hit). Scores are quantized to exact longs — `⌊10⁹/(kRrf + rank)⌋` is
    * bit-identical on any engine and the sum is order-independent — so
    * the fused ranking is deterministic (ties → doc id).
    *
    * Scale shape: one union of the (already top-k-bounded) lists, one
    * (query, doc)-keyed map-side-combined sum, one per-QUERY top-k window
    * — input is N·k rows per query, never corpus-sized.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k > 0 && kRrf >= 0, "need k > 0 and kRrf >= 0")
    val tagged = rankings.map(_.select(col("query_id"), col("doc_id"),
      floor(lit(1000000000.0) / (col("rank") + kRrf)).cast("long").as("_c")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    tagged.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_c")).as("rrf_score"), count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LEAKAGE-SAFE train/val/test split: [[hashSplit]] decided per
    * NEAR-DUP CLUSTER instead of per document, so two near-duplicate
    * documents can never land on opposite sides of the train/eval fence —
    * the split-level form of decontamination (random per-doc splits leak
    * evaluation answers through surviving near-dups; Lee et al. 2022
    * measure the effect). `pairs` is any near-dup pair list (`doc_a` <
    * `doc_b` — [[Dedup.minhashNearDups]], [[Dedup.simhashNearDups]],
    * [[Similarity.cosineNearDupsBlocked]]...); cluster membership comes
    * from [[Dedup.dupClusters]]' iterative min-label components, and the
    * md5 split key is each row's canonical cluster id (its own id for
    * singletons). Adds `split_key` and `split`; a document's assignment is
    * stable under corpus growth unless new pairs join its cluster.
    *
    * Scale shape: O(diameter) label-propagation rounds on the (tiny) pair
    * list, one left join of the corpus against the member table, then the
    * per-row O(1) md5 threshold test — the corpus itself never shuffles on
    * anything but the id.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      valFrac: Double, testFrac: Double, salt: String = "split"): DataFrame = {
    val canon = Dedup.dupClusters(pairs).withColumnRenamed("member_id", idCol)
    val keyed = docs.join(canon, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("canonical_id"), col(idCol)))
      .drop("canonical_id")
    hashSplit(keyed, "split_key", valFrac, testFrac, salt)
  }

  /** Deterministic balanced shard assignment for training-data export:
    * rows order globally by `(weight desc, md5(id), id)` and fill `nShards`
    * output shards in a serpentine (boustrophedon) pattern — pass `r` of
    * the order assigns shards `0..n-1` on even passes and `n-1..0` on odd
    * ones — so each shard's total weight tracks the global mean to within
    * one heaviest-row bound (classic LPT-ish balance without any stateful
    * packing). Output adds `shard` and `shard_pos` (the pass index = the
    * row's position within its shard).
    *
    * Scale shape: the global order comes from [[Ranks.byValue]]'s
    * range-partitioned two-pass rank under a constant group — parallelism
    * bounded by shuffle partitions, no single global-sort reducer — and the
    * shard arithmetic is per-row integer math on the rank. The md5 term
    * decorrelates equal-weight rows from ingestion order. (Spark logs a
    * `WindowExec: No Partition Defined` warning here: the constant group
    * folds out of Ranks' OFFSETS window's partition spec — that window runs
    * over one row per shuffle partition, never over data, so the single
    * task it warns about is a ≤`spark.sql.shuffle.partitions`-row
    * bookkeeping step.)
    */
  def shardAssign(docs: DataFrame, idCol: String, weightCol: String,
      nShards: Int): DataFrame = {
    require(nShards > 0, "need nShards > 0")
    val keyed = docs
      .select(col(idCol), coalesce(col(weightCol).cast("long"), lit(0L)).as("_w"))
      .withColumn("_v", struct((-col("_w")).as("_nw"),
        md5(col(idCol).cast("string")).as("_sk"), col(idCol).as("_tid")))
      .withColumn("_g", lit(1))
    val p = col("_rn") - 1
    // rank < 2^53, so the double division truncates exactly
    val pass = (p / nShards).cast("long")
    val idx = pmod(p, lit(nShards))
    // eager = false: the layout is corpus-sized and consumed once by the
    // caller's terminal action — forcing an eager pass here splits that
    // action into two queries and re-executes every upstream subtree the
    // halves share (x62's mixture stage ran twice: +1.0 s at sf0.1,
    // round-12 adjudication); the parted cache releases at the next
    // cache-managed operator entry instead
    Ranks.byValue(keyed, "_g", finish = _
      .select(col(idCol), col("_w").as(weightCol),
        when(pass % 2 === 0, idx).otherwise(lit(nShards) - 1 - idx)
          .cast("int").as("shard"),
        pass.as("shard_pos")), eager = false)
  }

  /** Z-ORDER (Morton-curve) layout over two integer dimensions — the
    * multi-column locality step of lakehouse file clustering (Delta's
    * `OPTIMIZE ... ZORDER`, here with exact engine-agnostic arithmetic):
    * rows written in `zvalue` order give every parquet row group a tight
    * min/max envelope on BOTH dimensions, so a 2-d predicate prunes files
    * on either column — the property a single-column sort ([[graft.util
    * .Compaction]]'s 1-D case) can only give one of them.
    *
    * Arithmetic (bit-exact in both engines, overflow-free for any bounds
    * whose span `max − min` is representable as a non-negative long; a
    * dimension spanning more than the signed-long range — min near
    * `Long.MinValue` AND max near `Long.MaxValue` — wraps that
    * subtraction, which [[zorderLayoutAgainstN]] detects and fails fast
    * on rather than silently diverging from an engine that raises on
    * BIGINT overflow):
    *
    *  - bounds: global `min`/`max` of each dimension (one aggregate, a
    *    1-row broadcast attach — the x131/x143 pattern);
    *  - cells, range ≥ 2^bits: `cell = (v − min) div
    *    (((max − min) >> bits) + 1)` — integer division by a shifted
    *    width, no product that can overflow; lands in `[0, 2^bits)`,
    *    using at least `2^(bits−1)` distinct cells;
    *  - cells, range < 2^bits: `cell = (v − min)·(2^bits − 1) div
    *    max(range, 1)` — the product is ≤ range·2^bits < 2^(2·bits),
    *    safely small. This SCALE-UP leg is load-bearing: a dimension
    *    whose raw range is narrower than its partner's (user ids vs
    *    epoch micros) would otherwise leave its high cell bits always
    *    zero, the top interleaved bits would be the wide dimension
    *    alone, and the curve would degenerate to a 1-D sort on it
    *    (measured: the unscaled layout pruned NOTHING on the narrow
    *    dimension — BASELINE.md, "Round 13 — ZorderProbe: measured 2-d
    *    skipping");
    *  - `zvalue`: bit-interleave of the two cells (x even bits, y odd
    *    bits), unrolled into `2·bits` shift/mask terms inside one
    *    codegen'd projection;
    *  - `shard = (zvalue · nShards) >> (2·bits)` — contiguous equal-width
    *    curve ranges, map-side arithmetic, no global sort or window.
    *
    * NULL in either dimension propagates to NULL cell/zvalue/shard — the
    * caller routes those rows explicitly rather than having them silently
    * clustered somewhere.
    *
    * Scale shape: one min/max aggregate over two longs (map-side
    * combined), then a pure per-row projection — no shuffle at all beyond
    * the caller's terminal write. To materialize the layout:
    * `repartitionByRange(nShards, col("shard"), col("zvalue"))
    * .sortWithinPartitions("zvalue")` and write — the range exchange is
    * the one corpus shuffle, same budget as any layout pass.
    */
  def zorderLayout(df: DataFrame, idCol: String, xCol: String, yCol: String,
      bits: Int = 16, nShards: Int = 64,
      keepCols: Seq[String] = Nil): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val bounds = df.agg(
      min(x).as("_xmin"), max(x).as("_xmax"),
      min(y).as("_ymin"), max(y).as("_ymax"))
    zorderLayoutAgainst(df, bounds, idCol, xCol, yCol, bits, nShards,
      keepCols)
  }

  /** [[zorderLayout]] against a FROZEN bounds table — the at-ingest form:
    * the curve's coordinate frame comes from a maintained 1-row bounds
    * table (seeded from the corpus once), so an arriving batch is
    * assigned cells/zvalue/shard by a pure map-side pass and lands in
    * the existing shard files WITHOUT re-scanning the corpus — the same
    * frozen-reference-state convention as the CCNet threshold router
    * (x146): assignments stay mutually consistent across batches because
    * everyone uses the same frame. Batch values OUTSIDE the frozen
    * bounds clamp to the edge cells (an out-of-range arrival is still
    * routed deterministically, to the curve's boundary); when drift
    * makes edge cells hot, re-base offline and rewrite — the x123
    * drift-then-reseed pattern.
    *
    * `bounds` is one row of `(_xmin, _xmax, _ymin, _ymax)` longs — what
    * [[zorderLayout]] computes internally, and what a maintained bounds
    * table stores.
    */
  def zorderLayoutAgainst(df: DataFrame, bounds: DataFrame, idCol: String,
      xCol: String, yCol: String, bits: Int = 16, nShards: Int = 64,
      keepCols: Seq[String] = Nil): DataFrame = {
    val b = bounds.select(
      col("_xmin").as(s"_min_$xCol"), col("_xmax").as(s"_max_$xCol"),
      col("_ymin").as(s"_min_$yCol"), col("_ymax").as(s"_max_$yCol"))
    zorderLayoutAgainstN(df, b, idCol, Seq(xCol, yCol), bits, nShards,
        keepCols)
      .withColumnRenamed(s"cell_$xCol", "cell_x")
      .withColumnRenamed(s"cell_$yCol", "cell_y")
  }

  /** N-DIMENSIONAL [[zorderLayout]] — Delta/Iceberg's `OPTIMIZE ZORDER BY
    * (c1, …, cn)` takes arbitrary column lists (real curation tables
    * cluster on 3+: source, time, length), and the Morton interleave
    * generalizes directly: bit `i` of dimension `j`'s cell lands at
    * position `i·D + j`, so every dimension contributes equally to every
    * prefix of the curve and each per-file envelope tightens as
    * ~1/2^(groups-log / D) per dimension. Bounds are computed here (one
    * min/max aggregate, 1-row broadcast attach); the frozen-frame form is
    * [[zorderLayoutAgainstN]]. Output: `idCol`, `keepCols`, one
    * `cell_<dim>` per dimension, `zvalue`, `shard`.
    */
  def zorderLayoutN(df: DataFrame, idCol: String, dimCols: Seq[String],
      bits: Int = 16, nShards: Int = 64,
      keepCols: Seq[String] = Nil,
      knownDicts: Map[String, DataFrame] = Map.empty): DataFrame = {
    require(dimCols.nonEmpty, "need at least one dimension")
    // STRING dimensions ride the curve through a dictionary-rank
    // embedding (see [[stringDimDict]]) — real curation tables cluster
    // on categorical text (source, language, domain), and Delta's
    // OPTIMIZE ZORDER BY takes string columns the same way. Numeric
    // dims keep the direct long cast. A caller that already holds a
    // dim's dictionary (to persist it as the table sidecar, say) passes
    // it via `knownDicts` — otherwise every downstream consumer of the
    // layout re-executes the dict's distinct+rank lineage; the value
    // MUST be [[stringDimDict]] of this very `df` (the layout frame and
    // the sidecar have to agree), which every passer satisfies by
    // construction.
    val strDims = dimCols.filter(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.StringType)
    val dicts = strDims.map(c =>
      c -> knownDicts.getOrElse(c, stringDimDict(df, c))).toMap
    val numDims = dimCols.filterNot(dicts.contains)
    val numAggs = numDims.flatMap { c =>
      Seq(min(col(c).cast("long")).as(s"_min_$c"),
        max(col(c).cast("long")).as(s"_max_$c"))
    }
    // dict dims' bounds come from the dict itself (rank 0..n−1) — tiny
    // aggregates cross-joined onto the 1-row numeric bounds frame
    val numBounds =
      if (numAggs.nonEmpty) df.agg(numAggs.head, numAggs.tail: _*)
      else df.sparkSession.range(1).select()
    val bounds = dicts.foldLeft(numBounds) { case (b, (c, dict)) =>
      b.crossJoin(broadcast(dict.agg(
        min(col("rank")).as(s"_min_$c"), max(col("rank")).as(s"_max_$c"))))
    }
    zorderLayoutAgainstN(df, bounds, idCol, dimCols, bits, nShards,
      keepCols, dicts)
  }

  /** Dictionary for a STRING z-order dimension: the column's distinct
    * non-NULL values dense-ranked `0..n−1` in binary (UTF8) order — the
    * order-preserving long embedding that lets a lexicographic dimension
    * ride the Morton curve, and the frozen mapping an append path reuses
    * so batch and corpus shard spaces agree
    * ([[zorderLayoutAgainstN]]'s `dicts`). Output: `value`, `rank`.
    *
    * Scale shape: rows out = NDV — a dictionary dimension is a
    * CATEGORICAL column (source, language, domain: NDV in the
    * hundreds), so the dict broadcasts; the ranking itself is one range
    * exchange over the DISTINCT values ([[Ranks.byValue]]), never a
    * single-task global sort.
    */
  def stringDimDict(df: DataFrame, c: String): DataFrame =
    Ranks.byValue(
      df.select(col(c).cast("string").as("_v"))
        .filter(col("_v").isNotNull).distinct()
        .withColumn("_g", lit(1)),
      "_g",
      r => r.select(col("_v").as("value"),
        (col("_rn") - 1).cast("long").as("rank")))

  /** [[zorderLayoutN]] against a FROZEN bounds row of `_min_<dim>` /
    * `_max_<dim>` longs — the at-ingest form (see [[zorderLayoutAgainst]]
    * for the frozen-frame contract: clamped edge-cell routing for
    * out-of-frame arrivals, NULL dimensions propagate to NULL shard).
    * A bounds row whose span wraps the signed-long range (`max − min`
    * negative — only possible when a dimension covers more than half the
    * long domain) fails fast with `raise_error` rather than silently
    * diverging between engines on the wrapped arithmetic; a dimension
    * whose bounds are NULL (all-NULL column) propagates NULL cells to a
    * NULL shard instead — the NULL-dimension contract, not an error.
    *
    * `dicts` maps STRING dimensions to their frozen value→rank
    * dictionaries ([[stringDimDict]]): the dim's value column is
    * broadcast-joined to its rank before entering the curve, and a value
    * ABSENT from the dictionary (a new category arriving after the frame
    * froze) gets a NULL rank → NULL shard — the same unroutable-row
    * contract as a NULL dimension, and the honest answer: a frozen
    * lexicographic frame has no position for an unseen string.
    */
  def zorderLayoutAgainstN(df: DataFrame, bounds: DataFrame, idCol: String,
      dimCols: Seq[String], bits: Int = 16, nShards: Int = 64,
      keepCols: Seq[String] = Nil,
      dicts: Map[String, DataFrame] = Map.empty): DataFrame = {
    val d = dimCols.length
    require(d >= 1 && dimCols.distinct.length == d, "need distinct dims")
    require(dicts.keySet.subsetOf(dimCols.toSet),
      "dicts must name z-order dimensions")
    require(bits >= 1 && d * bits <= 48, "need 1 <= bits and dims*bits <= 48")
    require(nShards >= 1 && nShards <= (1L << (62 - d * bits)),
      s"need 1 <= nShards <= 2^${62 - d * bits} at $d dims x $bits bits")
    def intDiv(n: Column, dd: Column): Column =
      shim.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        shim.expression(n), shim.expression(dd)))
    def cell(v0: Column, lo: Column, hi: Column): Column = {
      // clamp into the frozen frame; when/otherwise (NOT least/greatest,
      // which SKIP nulls) so a NULL dimension stays NULL
      val v = when(v0 < lo, lo).when(v0 > hi, hi).otherwise(v0)
      // NULL bounds (an all-NULL dimension aggregates to NULL min/max)
      // propagate a NULL cell — the documented NULL-dimension contract
      // (NULL shard, caller routes) — BEFORE the wrap check, which would
      // otherwise read `hi - lo >= 0` as NULL and misfire the
      // wrapped-span error on a frame that never wrapped.
      // A wrapped span (hi − lo negative despite hi ≥ lo) means the
      // dimension covers more than the signed-long range — fail fast,
      // an engine with checked BIGINT arithmetic would raise here
      val range = when(lo.isNull || hi.isNull, lit(null).cast("long"))
        .when(hi - lo >= 0, hi - lo)
        .otherwise(raise_error(concat(lit("zorder bounds span wrapped ("),
          lo.cast("string"), lit(" .. "), hi.cast("string"),
          lit(") — dimension spans more than the signed-long range")))
          .cast("long"))
      when(range < (1L << bits),
        intDiv((v - lo) * ((1L << bits) - 1), greatest(range, lit(1L))))
        .otherwise(intDiv(v - lo, shiftright(range, bits) + 1L))
    }
    val mapped = dicts.foldLeft(df) { case (acc, (c, dict)) =>
      acc.join(broadcast(dict.select(col("value").as(c),
        col("rank").as(s"_zdict_$c"))), Seq(c), "left")
    }
    def dimVal(c: String): Column =
      if (dicts.contains(c)) col(s"_zdict_$c") else col(c).cast("long")
    val cells = dimCols.map { c =>
      cell(dimVal(c), col(s"_min_$c"), col(s"_max_$c"))
        .as(s"cell_$c")
    }
    val zvalue = (0 until bits).flatMap { i =>
      dimCols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(col(s"cell_$c"), i).bitwiseAND(lit(1L)),
          d * i + j)
      }
    }.reduce(_ + _)
    // keepCols ride along so a consumer (stats manifest, bloom index,
    // the layout write itself) never re-joins the corpus onto its own
    // annotations by id — at scale that self-join is a full exchange
    mapped.crossJoin(broadcast(bounds))
      .select((col(idCol) +: keepCols.map(col)) ++ cells: _*)
      .withColumn("zvalue", zvalue)
      .withColumn("shard", shiftright(col("zvalue") * nShards, d * bits)
        .cast("int"))
  }

  /** Per-shard statistics MANIFEST — the sidecar a lakehouse scan
    * consults to skip files without opening them (Delta/Iceberg
    * `add_file` stats: row count, per-column min/max, shard-local NDV).
    * Completes the layout story: [[zorderLayout]] makes the per-shard
    * envelopes tight, this RECORDS them. Per `shardCol` group and each
    * stats column: `<c>_min`, `<c>_max`, `<c>_ndv` (exact shard-local
    * distinct — the shard is the unit of work, so at 100 TB the manifest
    * job is one aggregate, embarrassingly parallel per shard with
    * map-side combine; rows out = shards, KBs).
    */
  def shardStats(df: DataFrame, shardCol: String, statCols: Seq[String])
      : DataFrame = {
    require(statCols.nonEmpty, "need at least one stats column")
    val aggs = statCols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
        countDistinct(col(c)).as(s"${c}_ndv"))
    }
    df.groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** MERGEABLE shard-stats manifest — [[shardStats]]'s maintained form.
    * Exact per-shard NDV is not merge-maintainable (distinct counts
    * don't add), so the NDV column becomes a bottom-k KMV sketch of the
    * column's 60-bit md5 key hashes (the x110 hash family): per shard
    * and stats column, `<c>_min`, `<c>_max`, `<c>_kmv` (the sorted k
    * smallest distinct hashes), plus `n_rows`. KMV's defining algebra —
    * bottom-k of a union is computable from the two sides' bottom-ks —
    * makes the manifest ADDITIVE: sketch each batch at ingest, merge
    * with [[mergeShardStats]], never re-read the corpus. The registered
    * query proves the law the x74 way: merged corpus-slice + batch-slice
    * manifests hash-compared against the full-table oracle.
    *
    * Scale shape: one shard-keyed aggregate for rows/min/max + per stats
    * column a distinct-(shard,hash) exchange and a per-shard bottom-k
    * window; everything after the distinct is ≤ shards×k rows.
    */
  def shardStatsSketch(df: DataFrame, shardCol: String,
      statCols: Seq[String], k: Int = 16): DataFrame = {
    require(statCols.nonEmpty && k > 0, "need stats columns and k > 0")
    // the input is consumed by 1 + |statCols| passes, and when it carries
    // a computed layout (the x159 shape: z-order assignment = a 2·bits-
    // term interleave over CASE cells, inlined per reference by project
    // collapse) re-running that projection per pass dominates — measured
    // 6× the whole-query floor at 100× data. Persist once, reduce to the
    // compact manifest, release eagerly (rows out = shards).
    val in = df.select(col(shardCol) +: statCols.map(col): _*).persist()
    val base = in.groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_rows"),
        statCols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))): _*)
    val out = statCols.foldLeft(base) { (acc, c) =>
      val h = conv(substring(md5(concat(lit("kmv|"),
        col(c).cast("long").cast("string"))), 1, 15), 16, 10).cast("long")
      // bounded per-partition prune BEFORE the per-shard window: the
      // distinct (shard, hash) exchange is capped at partitions×k rows,
      // so a high-NDV stats column cannot turn the window into a
      // per-shard full-NDV sort (the kmvSketch shape, shared helper)
      val kmv = bottomKPerGroup(
          in.select(col(shardCol), h.as("_h")).filter(col("_h").isNotNull),
          shardCol, "_h", k, "_rk")
        .groupBy(col(shardCol))
        .agg(sort_array(collect_list(col("_h"))).as(s"${c}_kmv"))
      // coalesce: a shard whose stats column is entirely NULL gets an
      // EMPTY sketch, not a NULL one — keeps the mergeShardStats law
      // `merge(sketch(A), sketch(B)) = sketch(A ∪ B)` exact for all-NULL
      // shards (the merge side coalesces to [] too)
      acc.join(kmv, Seq(shardCol), "left")
        .withColumn(s"${c}_kmv", coalesce(col(s"${c}_kmv"),
          array().cast("array<long>")))
    }
    Caching.materializeAndRelease(out, in)
  }

  /** Merge two [[shardStatsSketch]] manifests over DISJOINT row sets:
    * `merge(sketch(A), sketch(B)) = sketch(A ∪ B)` exactly — counts add,
    * min/max fold, and the union's bottom-k is the bottom-k of the two
    * sides' concatenated sketches (every union hash small enough to make
    * the cut is in one side's bottom-k). Shards present on one side only
    * pass through. Work: one full-outer join of two manifests (rows =
    * shards) + per-row array arithmetic.
    */
  def mergeShardStats(a: DataFrame, b: DataFrame, shardCol: String,
      statCols: Seq[String], k: Int = 16): DataFrame = {
    val bb = b.columns.foldLeft(b)((d, c) =>
      if (c == shardCol) d else d.withColumnRenamed(c, s"_b_$c"))
    val empty = array().cast("array<long>")
    a.join(bb, Seq(shardCol), "full_outer")
      .select(col(shardCol) +:
        (coalesce(col("n_rows"), lit(0L)) +
          coalesce(col("_b_n_rows"), lit(0L))).as("n_rows") +:
        statCols.flatMap { c =>
          Seq(least(col(s"${c}_min"), col(s"_b_${c}_min")).as(s"${c}_min"),
            greatest(col(s"${c}_max"), col(s"_b_${c}_max")).as(s"${c}_max"),
            slice(array_sort(array_distinct(concat(
              coalesce(col(s"${c}_kmv"), empty),
              coalesce(col(s"_b_${c}_kmv"), empty)))), 1, k)
              .as(s"${c}_kmv"))
        }: _*)
  }

  /** The `k` bloom bit positions of a key — 32-bit md5 slices of
    * `"bloom|<key>"` mod `m`, the repo's md5-slice hash family (exactly
    * mirrorable in SQL, and reused by [[graft.util.Scan]] so a probe
    * computed anywhere agrees with the persisted index bit-for-bit). */
  private[graft] def bloomPositions(key: Column, m: Int, k: Int): Column =
    array((0 until k).map(j => bloomHash(key, j) % m): _*)

  /** [[bloomPositions]] with the geometry taken per row from the columns
    * `m` and `k` (1 ≤ k ≤ [[BloomMaxK]]): a bloom manifest row probes
    * with the geometry its own bits were built with, so no separate
    * read of the geometry is needed. */
  private[graft] def bloomPositions(key: Column, m: Column,
      k: Column): Column =
    slice(array((0 until BloomMaxK).map(j => bloomHash(key, j) % m): _*),
      lit(1), k)

  /** Hash `j` of a key: the `j`-th 32-bit md5 slice of `"bloom|<key>"`. */
  private def bloomHash(key: Column, j: Int): Column =
    conv(substring(md5(concat(lit("bloom|"), key.cast("string"))),
      1 + 8 * j, 8), 16, 10).cast("long")

  /** The most hashes a key takes: four 32-bit slices of one md5. */
  private[graft] val BloomMaxK = 4

  /** The per-shard bloom BIT TABLE behind [[bloomShardIndex]] — `shard`,
    * `n_keys` (distinct keys in the shard), `_bits` (the sorted set bit
    * positions), plus the self-describing `m`/`k` parameters. This is the
    * form a scan PERSISTS and consults ([[graft.util.Scan]]'s bloom
    * sidecar): candidate shards for an equality predicate are the rows
    * whose bit set covers the probe key's positions. Rows = shards; the
    * bit array is ≤ min(m, k·n_keys) longs.
    */
  def bloomBitsTable(df: DataFrame, shardCol: String, keyCol: String,
      m: Int = 4096, k: Int = 3): DataFrame = {
    require(m > 0 && k >= 1 && k <= BloomMaxK,
      s"need m > 0 and 1 <= k <= $BloomMaxK")
    // keys hash NATIVE-typed through bloomPositions' string form —
    // integral keys give the same digits they always did, and string
    // keys (language, source — the predicates real curation scans
    // carry) hash directly instead of casting to a NULL long
    val keys = df.select(col(shardCol).as("shard"),
      col(keyCol).as("_k")).distinct()
    // ONE shard-keyed aggregate builds the whole manifest row:
    // collect_set dedups positions inside the aggregate (map-side
    // partials included) and countDistinct recovers n_keys from the
    // exploded rows — no second aggregation, no 64-row self-join
    keys
      .select(col("shard"), col("_k"),
        explode(bloomPositions(col("_k"), m, k)).as("pos"))
      .groupBy(col("shard"))
      .agg(countDistinct(col("_k")).as("n_keys"),
        sort_array(collect_set(col("pos"))).as("_bits"))
      .withColumn("m", lit(m)).withColumn("k", lit(k))
  }

  /** Per-shard BLOOM INDEX over a point-lookup key, plus its measured
    * use: for equality predicates on a column the sort order does NOT
    * cover, min/max envelopes skip nothing — a tiny per-shard Bloom
    * filter routes the lookup to candidate shards instead (the
    * file-skipping index Parquet stores as a bloom per column chunk;
    * cf. [[graft.ext.Blocklist.bloomAntiJoin]], which uses a bloom to
    * route ROWS — this one is a persisted MANIFEST that routes SCANS;
    * [[graft.util.Scan.readPrunedByKey]] is the consumer that turns the
    * candidate set into actual skipped files).
    *
    * Deterministic and engine-agnostic: `k` positions per key, position
    * `j` = 32-bit md5 slice `j` of `"bloom|<key>"` mod `m` — the repo's
    * md5-slice hash family, exactly mirrorable in SQL. Per shard the
    * index row is (`n_keys` distinct keys, `n_bits_set`, `bits_md5` —
    * a digest of the sorted bit list, so the whole index hash-compares
    * without shipping `m` bits per row).
    *
    * The second output measures the index doing its job: for each
    * `probeKeys` value, `n_candidate_shards` (bloom says maybe) vs
    * `n_true_shards` (key actually present — no false negatives by
    * construction, so candidates ⊇ true and the gap IS the false-positive
    * rate). Returns (index, probeReport).
    *
    * Scale shape: one (shard,key)-distinct aggregate + one position
    * explode (k rows per distinct key) folded back to shards — manifest
    * rows = shards; the probe side is |probeKeys| × shards arithmetic
    * over the broadcast-size index.
    */
  def bloomShardIndex(df: DataFrame, shardCol: String, keyCol: String,
      probeKeys: Seq[Long], m: Int = 4096, k: Int = 3)
      : (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val shardAgg = bloomBitsTable(df, shardCol, keyCol, m, k)
    val bits = shardAgg.select(col("shard"), col("_bits"))
    val index = shardAgg
      .select(col("shard"), col("n_keys"),
        size(col("_bits")).cast("long").as("n_bits_set"),
        md5(concat_ws(",", transform(col("_bits"), _.cast("string"))))
          .as("bits_md5"))
    import spark.implicits._
    val probes = probeKeys.toDF("probe_key")
      .withColumn("_pp", bloomPositions(col("probe_key"), m, k))
    // probes × shard-index: |probeKeys| rows against a shards-sized
    // broadcast — the only sound shape for "which shards might hold this
    // key" (documented 1-row-class BNLJ, cf. PlanAuditSpec)
    val cand = probes.crossJoin(broadcast(bits))
      .filter(size(array_except(col("_pp"), col("_bits"))) === 0)
      .groupBy(col("probe_key"))
      .agg(count(lit(1)).as("n_candidate_shards"))
    val truth = probes.join(
        df.select(col(shardCol).as("shard"),
          col(keyCol).cast("long").as("_k")).distinct(),
        col("probe_key") === col("_k"))
      .groupBy(col("probe_key"))
      .agg(count(lit(1)).as("n_true_shards"))
    val report = probes.select("probe_key")
      .join(cand, Seq("probe_key"), "left")
      .join(truth, Seq("probe_key"), "left")
      .select(col("probe_key"),
        coalesce(col("n_candidate_shards"), lit(0L))
          .as("n_candidate_shards"),
        coalesce(col("n_true_shards"), lit(0L)).as("n_true_shards"))
    (index, report)
  }

  /** Source/domain-level reputation gate — the curation stage that filters
    * by PROVENANCE statistics rather than per-document content (the C4 /
    * RefinedWeb "domain filtering" step): a source whose output is mostly
    * junk condemns even its individually-plausible documents. Per source:
    * `src_n_docs`, `src_short_frac` (fraction of docs under `shortToks`
    * whitespace tokens — null/empty text counts as short), and the verdict
    * `src_keep` = (`src_n_docs` ≥ `minDocs` ∧ `src_short_frac` ≤
    * `maxShortFrac`). Every document comes back with its source's three
    * columns attached; callers filter on `src_keep` (verdict-not-filter,
    * the [[gopherQualityFilter]] contract, so audits can see WHY a source
    * fell). `src_short_frac` is ONE IEEE division of exact longs —
    * bit-stable across engines and partitionings.
    *
    * Scale shape: one source-keyed aggregate with map-side combine
    * (output rows = #domains, a few million at web scale, KBs each) and
    * one equi-join of the corpus against that stats table — AQE broadcasts
    * it below threshold; above it the join shuffles on source, where a
    * mega-domain key is exactly the skew AQE's skew-join splitting (or
    * [[graft.util.Skew.saltedJoin]]) handles. The join is null-safe:
    * documents with a NULL source form their own reputation group rather
    * than silently losing their stats.
    */
  def sourceReputationFilter(docs: DataFrame, sourceCol: String,
      textCol: String, idCol: String, minDocs: Long = 3L,
      shortToks: Int = 32, maxShortFrac: Double = 0.5): DataFrame = {
    require(shortToks > 0, "need shortToks > 0")
    val toks = coalesce(
      TextAnalysis.whitespaceTokenCount(col(textCol)), lit(0))
    val stats = docs
      .select(col(sourceCol).as("_src"), toks.as("_toks"))
      .groupBy(col("_src"))
      .agg(count(lit(1)).as("src_n_docs"),
        sum(when(col("_toks") < shortToks, 1L).otherwise(0L)).as("_n_short"))
      .withColumn("src_short_frac",
        col("_n_short").cast("double") / col("src_n_docs"))
      .withColumn("src_keep",
        col("src_n_docs") >= minDocs &&
          col("src_short_frac") <= maxShortFrac)
      .drop("_n_short")
    docs.join(stats, col(sourceCol) <=> col("_src"), "left").drop("_src")
  }

  /** Corpus snapshot diff: which documents were added, removed or changed
    * between two corpus versions, by content fingerprint — the audit pass
    * a dataset release runs before shipping (diff the new cut against the
    * last one, review what moved). One id-keyed full-outer join comparing
    * 128-bit digests; `unchanged` rows are filtered out so the result is
    * the (small) delta, never the corpus. Output: (`idCol`, `status` ∈
    * added|removed|changed, `fp_before`, `fp_after`).
    */
  def corpusDiff(before: DataFrame, after: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val a = before.select(col(idCol), md5(col(textCol)).as("fp_before"))
    val b = after.select(col(idCol), md5(col(textCol)).as("fp_after"))
    a.join(b, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("fp_after").isNull, "removed")
          .when(col("fp_before").isNull, "added")
          .when(col("fp_before") =!= col("fp_after"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col(idCol), col("status"), col("fp_before"), col("fp_after"))
  }

  /** Deterministic hash-based train/val/test split: `split` is decided by
    * the first 32 bits of `md5(salt|id)` against exact integer thresholds
    * (`⌊frac·2³²⌋`), so membership is a pure per-row expression — O(1),
    * codegen'd, reproducible on any engine and any partitioning, stable
    * under corpus growth (a document's split never changes when others
    * arrive — the property rank-based splits lack), and re-saltable for
    * fresh assignments. Fractions are expected proportions; realized
    * counts are binomial around them (use [[topFractionByMetric]]-style
    * ranking when EXACT counts matter more than stability).
    */
  def hashSplit(docs: DataFrame, idCol: String, valFrac: Double,
      testFrac: Double, salt: String = "split"): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac <= 1,
      "need valFrac, testFrac >= 0 with sum <= 1")
    val slice = conv(
      substring(md5(concat_ws("|", lit(salt), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long")
    val tVal = math.floor(valFrac * 4294967296.0).toLong
    val tTest = math.floor((valFrac + testFrac) * 4294967296.0).toLong
    docs.withColumn("split",
      when(slice < tVal, "val")
        .when(slice < tTest, "test")
        .otherwise("train"))
  }

  /** Keep the top `q` fraction of each stratum by `metricCol` (highest
    * values win; ties break on the id so the kept COUNT is exact:
    * `ceil(q·n)` rows per stratum). The quantile-threshold quality gate —
    * "keep the best 40% per language by signal X" — without ever
    * materializing the threshold value. Rows with a NULL metric are
    * dropped (they can't rank). Output: (`strataCol`, `idCol`,
    * `metricCol`, `pct_rank`), `pct_rank` = ascending-rank/n in (0, 1].
    *
    * Scale shape: ranking is [[Ranks.byValue]] — range-partitioned
    * two-pass, parallelism bounded by shuffle partitions, not stratum
    * count; the keep decision is per-row arithmetic on `(_rn, _n)`.
    */
  def topFractionByMetric(df: DataFrame, strataCol: String, idCol: String,
      metricCol: String, q: Double): DataFrame = {
    require(q > 0.0 && q <= 1.0, "need q in (0, 1]")
    val vals = df
      .select(col(strataCol), col(idCol), col(metricCol))
      .filter(col(metricCol).isNotNull)
      .withColumn("_v", struct(col(metricCol).cast("double").as("_m"),
        col(idCol).as("_tid")))
    // eager = false: the kept fraction is corpus-scale (q·n rows) and
    // consumed once downstream — same deferred-release shape as shardAssign
    Ranks.byValue(vals, strataCol, eager = false, finish = _
      .filter(col("_rn") > col("_n") - ceil(col("_n") * lit(q)))
      .select(col(strataCol), col(idCol), col(metricCol),
        (col("_rn").cast("double") / col("_n")).as("pct_rank")))
  }

  def quantileCont(df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "need quantiles in [0, 1]")
    requireDistinctLabels(ps)
    // rank over `_v`, not `valCol` — the select below renames the value
    // column before the rank applies, so ranking the original name would
    // never resolve (UNRESOLVED_COLUMN for every caller)
    val vals = df.select(col(groupCol), col(valCol).cast("double").as("_v"))
    // h, lo and frac are group-constants (functions of _n alone), so the
    // aggregate just picks the ≤2 ranked rows each p needs; interpolation
    // happens outside the agg, as (1−frac)·v_lo + frac·v_hi — verified
    // empirically to be DuckDB quantile_cont's association (the
    // v_lo + frac·(v_hi−v_lo) form differs by 1 ulp on adversarial
    // doubles), so double-valued metrics reproduce bit-identically too.
    // The lo+1 row may not exist at the group tail (frac = 0 there):
    // coalesce keeps the well-defined v_lo result instead of
    // NULL-poisoning the product.
    val aggs = ps.zipWithIndex.flatMap { case (p, i) =>
      val h = (col("_n") - 1) * lit(p)
      val lo = floor(h) + 1 // 1-based rank of v⌊h⌋
      Seq(
        sum(when(col("_rn") === lo, col("_v"))).as(s"_lo$i"),
        sum(when(col("_rn") === lo + 1, col("_v"))).as(s"_hi$i"),
        first(h - floor(h)).as(s"_fr$i"))
    }
    val named = ps.zipWithIndex.map { case (p, i) =>
      ((lit(1.0) - col(s"_fr$i")) * col(s"_lo$i") +
        col(s"_fr$i") * coalesce(col(s"_hi$i"), col(s"_lo$i")))
        .as("p" + math.round(p * 100))
    }
    completeGroups(vals,
      Ranks.byValue(vals.filter(col("_v").isNotNull), groupCol,
        finish = _.groupBy(col(groupCol))
          .agg(aggs.head, aggs.tail: _*)
          .select(col(groupCol) +: named: _*)),
      groupCol, ps)
  }

  /** md5-bucket of one token: first 8 hex chars of `md5("dsir|" + token)`
    * read as uint32, mod `buckets` — the hashing-trick feature map, salted
    * apart from the classifier ([[TextAnalysis.hashedLinearScore]]) and
    * takedown hashes, and mirrored verbatim by the DuckDB oracle.
    */
  private def tokenBucket(t: Column, buckets: Int): Column =
    conv(substring(md5(concat(lit("dsir|"), t)), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Hashed-unigram bucket counts over a corpus: (`bucket`, `n`), one row
    * per occupied bucket (≤ `buckets` rows total). The multinomial the
    * importance weighting reads; counts are ADDITIVE across disjoint
    * batches (merge = sum per bucket), so the table can be MAINTAINED
    * under ingest exactly like [[termCountTable]] — the corpus is never
    * re-tokenized to score a new batch.
    *
    * Scale shape: one token-explode pass with map-side combine into ≤
    * `buckets` partial rows per task; the shuffle moves O(`buckets` ×
    * partitions) tiny rows, never the token stream.
    */
  def hashedBucketTable(docs: DataFrame, textCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    Par.spread(docs).filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("_tk"))
      .groupBy(tokenBucket(col("_tk"), buckets).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** One distributed BPE-statistics round (Sennrich et al. 2016): corpus
    * counts of adjacent character pairs within tokens, top `topK` by count
    * — the argmax-pair statistic a byte-pair-encoding tokenizer build
    * computes per merge round. Real vocab induction iterates rounds with
    * re-segmentation; the COUNTING round is the distributed-scale part
    * (the merge itself is a driver-side table update), so this is the
    * operator a Spark-backed tokenizer trainer calls in its loop.
    *
    * Ties order deterministically by (count desc, pair asc). Tokens
    * shorter than 2 chars contribute nothing.
    *
    * Scale shape: pair explode is map-only; the aggregate's key space is
    * bounded by charset² (map-side combine collapses each task to that
    * bound); the final top-K plans as TakeOrderedAndProject — per-partition
    * heaps merged on the driver, never a global sort.
    */
  def bpePairCounts(docs: DataFrame, textCol: String,
      topK: Int): DataFrame = {
    require(topK > 0, s"need topK > 0, got $topK")
    Par.spread(docs).filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("_tk"))
      // filter BEFORE sequence(): Spark's sequence(1, 0) counts DOWN
      .filter(length(col("_tk")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("_tk")) - 1),
        i => col("_tk").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** Collocation extraction — adjacent-bigram LIFT in the log-free
    * rational form of PMI (Church & Hanks 1990): for every bigram with ≥
    * `minCount` occurrences, `lift` = `c_ab · N / (c_a · c_b)` where `N`
    * is the corpus unigram total — the monotone transform of pointwise
    * mutual information (PMI = log lift), kept as ONE IEEE division of
    * exact longs so ranking and hashes are bit-stable across engines (the
    * [[tfidfTopTerms]] raw-idf convention). High lift marks multiword
    * expressions ("new york", "machine learning") — tokenizer merge
    * candidates and phrase-mining seeds. Top `topK` by (lift desc,
    * bigram asc).
    *
    * Scale shape: the bigram and unigram counts are two map-side-combined
    * aggregates over the token stream (vocabulary- and vocabulary²-
    * bounded); the two unigram attaches join a bounded table (AQE
    * broadcast); the final top-K plans as TakeOrderedAndProject.
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount > 0 && topK > 0, "need minCount, topK > 0")
    val toks = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(TextAnalysis.tokens(col(textCol)).as("_t"))
    val uni = toks.select(explode(col("_t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("_c"))
    val nTotal = uni.agg(sum(col("_c"))).head().getLong(0)
    val bi = toks.filter(size(col("_t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("_t")) - 1),
        i => concat(element_at(col("_t"), i), lit(" "),
          element_at(col("_t"), i + 1)))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi
      .join(uni.select(col("term"), col("_c").as("c_a")),
        split(col("bigram"), " ").getItem(0) === col("term"))
      .drop("term")
      .join(uni.select(col("term"), col("_c").as("c_b")),
        split(col("bigram"), " ").getItem(1) === col("term"))
      .drop("term")
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab") * nTotal).cast("double") / (col("c_a") * col("c_b")))
          .as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(topK)
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its hashed-unigram features are under a TARGET
    * distribution (the docs matching `targetPred` — a trusted high-quality
    * slice) than under the RAW corpus. Downstream, sampling ∝ weight
    * shifts the mix toward target-like text without a trained classifier.
    *
    * This is the rational-arithmetic form of DSIR's log-likelihood-ratio:
    * per document, `target_mass` = Σ_tokens (target_count[bucket]+1) and
    * `raw_mass` = Σ_tokens (raw_count[bucket]+1) are EXACT integer sums
    * (add-one smoothing over the `buckets`-cell multinomial), and
    * `affinity` = (target_mass/targetTotal) / (raw_mass/rawTotal) is two
    * IEEE divisions of exact integers — bit-stable across engines and
    * partitionings, where a Σ log p float fold would not be. Affinity is a
    * monotone proxy for the mean (not summed) per-token ratio: > 1 means
    * target-like, < 1 raw-typical; consumers rank or threshold on it.
    *
    * Scale shape: TWO bucket-table passes ([[hashedBucketTable]] — the
    * target pass only over the `targetPred` slice), each collapsing to ≤
    * `buckets` rows COLLECTED to the driver (bounded by construction, like
    * the IVF centroid tables) and re-broadcast as literal maps; then ONE
    * map-only scoring pass — per row a fold over its own token buckets, no
    * explode, no join, no shuffle. For a maintained-table deployment,
    * build the two tables once, keep them additively updated, and call
    * [[importanceAffinityAgainst]] per batch.
    */
  def importanceAffinity(docs: DataFrame, textCol: String, idCol: String,
      targetPred: Column, buckets: Int = 256): DataFrame =
    importanceAffinityAgainst(docs, textCol, idCol,
      hashedBucketTable(docs.filter(targetPred), textCol, buckets),
      hashedBucketTable(docs, textCol, buckets), buckets)

  /** [[importanceAffinity]] against prebuilt (maintained) bucket tables —
    * the per-batch entry point: work ∝ batch, the corpus behind the tables
    * is never touched. Output: (`idCol`, `n_toks`, `target_mass`,
    * `raw_mass`, `affinity`), docs with NULL `textCol` dropped.
    *
    * The scoring fold is the fused native
    * [[graft.functions.HashedBucketMasses]] — one straight-line codegen'd
    * pass over the canonical bytes accumulating both masses (no token
    * array, no interpreted per-element lambdas), the [[graft.functions
    * .HashedLinearSum]] lesson applied: the HOF formulation it replaced
    * measured 1.40 s vs 0.76 s at sf0.1, hash-identical output.
    */
  def importanceAffinityAgainst(docs: DataFrame, textCol: String,
      idCol: String, targetTable: DataFrame, rawTable: DataFrame,
      buckets: Int): DataFrame = {
    def toArr(t: DataFrame): Array[Long] = {
      val arr = new Array[Long](buckets)
      t.collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
      arr
    }
    val (tArr, rArr) = (toArr(targetTable), toArr(rawTable))
    // smoothed totals: every one of the `buckets` cells contributes +1
    val (tN, rN) = (tArr.sum + buckets, rArr.sum + buckets)
    val acc = shim.column(graft.functions.HashedBucketMasses(
      shim.expression(TextAnalysis.normalize(col(textCol))), "dsir",
      tArr, rArr))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), acc.as("_acc"))
      .select(col(idCol), col("_acc").getItem(0).as("n_toks"),
        col("_acc").getItem(1).as("target_mass"),
        col("_acc").getItem(2).as("raw_mass"))
      .withColumn("affinity",
        (col("target_mass").cast("double") / lit(tN.toDouble)) /
          (col("raw_mass").cast("double") / lit(rN.toDouble)))
  }
}
