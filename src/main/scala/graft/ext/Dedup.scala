package graft.ext

import graft.functions.{GramHashes, MinhashSigs, SimhashFp}
import graft.util.{Caching, Par}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: nothing here ever collects or broadcasts the corpus.
  * - exact dedup shuffles a 128-bit digest, not the document text;
  * - MinHash/LSH shuffles (doc, band-bucket) pairs — candidates are found by
  *   an equi-join on bucket, the classic band trick, so cost is
  *   O(docs·bands + candidate pairs), never O(n²);
  * - verification (exact Jaccard) runs only over candidate pairs.
  *
  * Expression-shape note: the canonical text / token array is always
  * materialized as a column *before* any `transform` lambda references it —
  * Catalyst evaluates lambda bodies per element, so an embedded
  * `regexp_replace` would otherwise run once per shingle position instead
  * of once per document.
  */
object Dedup {

  /** Exact dedup: one surviving row (min id) per distinct value of `textCol`.
    * Groups by md5 digest so the shuffle key is 16 bytes regardless of
    * document size; the winner set then semi-joins back — both shuffles are
    * compact-key hash exchanges.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = docs
      .groupBy(md5(col(textCol)).as("_h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Segment-level exact dedup (the CCNet/RefinedWeb "line dedup" stage,
    * over token tiles since the corpus text has no line structure): each
    * document splits into non-overlapping `segTokens`-token segments, and
    * only the corpus-wide FIRST occurrence of each distinct segment —
    * smallest `(doc id, segment index)` — survives; every document is then
    * reassembled from its surviving segments in original order. This
    * removes boilerplate repeated ACROSS documents (headers, navigation,
    * license blocks) that whole-document dedup can't see, without dropping
    * whole documents.
    *
    * Output: one row per input document — (`idCol`, `n_segs`, `n_kept`,
    * `text_kept`), `text_kept` NULL when every segment was claimed by an
    * earlier document (the caller's drop signal; distinct from a document
    * whose text was genuinely empty, which keeps its one empty segment or
    * loses it to an earlier empty segment).
    *
    * Scale shape, three compact-key shuffles and nothing corpus-wide:
    * the segment stream (keyed by doc) groups on the 128-bit segment
    * digest to pick winners (map-side partial min), winners join back on
    * `(doc, segment index)`, and reassembly aggregates on doc id — every
    * key contains either the digest or the doc id, so no reducer ever sees
    * more than one document's (or one segment-value's) rows. Reassembly
    * buffers one document's surviving segments (`array_sort` over a
    * per-doc `collect_list`) — bounded by document size, same contract as
    * chunking.
    */
  def segmentDedup(docs: DataFrame, textCol: String, idCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens > 0, "need segTokens > 0")
    val segs = segments(docs, textCol, idCol, segTokens)
    // first corpus-wide occurrence per distinct segment value: min struct
    // is ordered (doc, idx) lexicographically, aggregated map-side
    val winners = segs
      .groupBy(md5(col("_seg")).as("_h"))
      .agg(min(struct(col("_id"), col("_si"))).as("_w"))
      .select(col("_w._id").as("_id"), col("_w._si").as("_si"),
        lit(true).as("_keep"))
    reassemble(segs, winners, idCol)
  }

  /** Per-source boilerplate strip — the C4/CCNet frequent-line rule over
    * token tiles: a tile value occurring in MORE than `maxDocFrac` of a
    * source's documents (and in ≥ 2 of them) is boilerplate for that
    * source — navigation, headers, license blocks stamped on everything a
    * domain emits — and EVERY occurrence is removed, including the first
    * ([[segmentDedup]] keeps first occurrences; this is the complementary
    * rule for text that shouldn't survive anywhere). Scoping to the source
    * is the CCNet insight: "click here to subscribe" is boilerplate on one
    * domain, content in a corpus-wide count.
    *
    * Output: one row per input document — (`idCol`, `n_segs`, `n_kept`,
    * `text_kept`), `text_kept` NULL when everything was boilerplate (the
    * same contract as [[segmentDedup]]).
    *
    * Scale shape: tile stream → (source, digest)-keyed doc-frequency agg
    * (distinct-doc count, map-side partial) joined against the per-source
    * doc counts (≤ #sources rows, AQE-broadcast); the resulting
    * boilerplate set is SMALL (only above-threshold tiles) and joins back
    * against the tile stream — broadcast under the threshold, else a
    * (source, digest)-keyed shuffle where the digest spreads any
    * mega-source; reassembly aggregates on doc id. No per-group windows,
    * no corpus-wide key.
    */
  def boilerplateStrip(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, segTokens: Int, maxDocFrac: Double): DataFrame = {
    require(segTokens > 0, "need segTokens > 0")
    require(maxDocFrac > 0 && maxDocFrac < 1,
      s"need maxDocFrac in (0, 1), got $maxDocFrac")
    val segs = segments(docs, textCol, idCol, segTokens, Seq(sourceCol))
      .withColumnRenamed(s"_x_$sourceCol", "_bsrc")
      .withColumn("_h", md5(col("_seg")))
    val srcDocs = docs.filter(col(textCol).isNotNull)
      .groupBy(col(sourceCol).as("_bsrc"))
      .agg(countDistinct(col(idCol)).as("_ndocs"))
    val bp = segs.groupBy(col("_bsrc"), col("_h"))
      .agg(countDistinct(col("_id")).as("_df"))
      .join(srcDocs, Seq("_bsrc"))
      .filter(col("_df") >= 2 &&
        col("_df").cast("double") / col("_ndocs") > maxDocFrac)
      .select(col("_bsrc"), col("_h"), lit(true).as("_bp"))
    val winners = segs.join(bp, Seq("_bsrc", "_h"), "left")
      .filter(col("_bp").isNull)
      .select(col("_id"), col("_si"), lit(true).as("_keep"))
    reassemble(segs.select(col("_id"), col("_si"), col("_seg")),
      winners, idCol)
  }

  /** Non-overlapping `segTokens`-token tiles of each document, one row per
    * (`_id`, `_si`, `_seg`); a doc shorter than one tile yields itself
    * whole (`greatest(...,1)` keeps the empty doc's single "" token).
    */
  private def segments(docs: DataFrame, textCol: String, idCol: String,
      segTokens: Int, carry: Seq[String] = Nil): DataFrame = {
    val keep = col(idCol).as("_id") +: carry.map(c => col(c).as(s"_x_$c"))
    val toks = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(keep :+ TextAnalysis.tokens(col(textCol)).as("_t"): _*)
    toks.select(col("_id") +: carry.map(c => col(s"_x_$c")) :+
      posexplode(transform(
        sequence(lit(1), greatest(size(col("_t")), lit(1)), lit(segTokens)),
        st => concat_ws(" ", slice(col("_t"), st, lit(segTokens)))))
        .as(Seq("_si", "_seg")): _*)
  }

  /** Within-document segment repetition — the count-based analogue of
    * Gopher's duplicate-line-fraction rule over token tiles: per document,
    * total tiles, distinct tile values, the duplicated-tile fraction
    * `1 − distinct/total`, and the most-repeated tile's count. High
    * `dup_seg_ratio` marks internally-repetitive documents (boilerplate
    * loops, generated spam) that whole-document and cross-document dedup
    * both miss. Two doc-keyed aggregates (the [[graft.ext.Corpus
    * .bigramRepetition]] shape) — every shuffle key contains the doc id,
    * O(tiles) per row, nothing corpus-wide.
    */
  def withinDocRepetition(docs: DataFrame, textCol: String, idCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens > 0, "need segTokens > 0")
    segments(docs, textCol, idCol, segTokens)
      .groupBy(col("_id"), col("_seg"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col("_id"))
      .agg(sum(col("_n")).as("n_segs"),
        count(lit(1)).as("n_distinct_segs"),
        max(col("_n")).as("top_seg_n"))
      .select(col("_id").as(idCol), col("n_segs"), col("n_distinct_segs"),
        (lit(1.0) - col("n_distinct_segs").cast("double") / col("n_segs"))
          .as("dup_seg_ratio"),
        col("top_seg_n"))
  }

  /** Cross-document duplicated-span detection — the exact-substring-dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better") at stride granularity: OVERLAPPING `spanTokens`-token
    * windows (every `stride` tokens) instead of [[segmentDedup]]'s disjoint
    * tiles, so a duplicated passage is caught at ANY alignment — tile
    * dedup misses a copy shifted by half a tile; stride-`s` windows bound
    * the miss to spans shorter than `spanTokens + s − 1`. A suffix array
    * finds arbitrary-length repeats; this is its shuffle-native
    * approximation with work O(tokens/stride), not O(corpus log corpus).
    *
    * Per document: `n_spans`, `n_shared` (spans whose exact token content
    * also occurs in at least one OTHER document, at any position), and
    * `shared_span_frac` (one IEEE division of exact longs). High fractions
    * mark near-verbatim syndication; downstream, feed the flagged docs to
    * [[segmentDedup]] or drop them.
    *
    * Scale shape: span stream → ONE digest-keyed aggregate where
    * cross-doc sharing is decided by `min(_id) ≠ max(_id)` — no
    * count-distinct state, plain min/max with map-side combine — then the
    * span stream re-joins on the digest and re-aggregates per doc. Every
    * shuffle key is the 128-bit digest or the doc id; a span value
    * repeated across the whole corpus concentrates only its (digest →
    * min,max) agg row, never the span text.
    */
  def dupSpans(docs: DataFrame, textCol: String, idCol: String,
      spanTokens: Int, stride: Int): DataFrame = {
    require(spanTokens > 0 && stride > 0, "need spanTokens, stride > 0")
    val toks = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"), TextAnalysis.tokens(col(textCol)).as("_t"))
    val spans = toks.select(col("_id"),
      explode(transform(
        sequence(lit(1),
          greatest(size(col("_t")) - spanTokens + 1, lit(1)), lit(stride)),
        st => concat_ws(" ", slice(col("_t"), st, lit(spanTokens)))))
        .as("_seg"))
      .select(col("_id"), md5(col("_seg")).as("_h"))
    val owners = spans.groupBy(col("_h"))
      .agg((min(col("_id")) =!= max(col("_id"))).as("_shared"))
    spans.join(owners, Seq("_h"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("_shared"), 1L).otherwise(0L)).as("n_shared"))
      .select(col("_id").as(idCol), col("n_spans"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_spans"))
          .as("shared_span_frac"))
  }

  /** Rebuild each document from its winning segments in original order;
    * shared epilogue of [[segmentDedup]]/[[segmentDedupAgainst]].
    */
  private def reassemble(segs: DataFrame, winners: DataFrame,
      idCol: String): DataFrame =
    segs.join(winners, Seq("_id", "_si"), "left")
      .groupBy(col("_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("_keep"),
          struct(col("_si"), col("_seg"))))).as("_kept"))
      .select(col("_id").as(idCol), col("n_segs"), col("n_kept"),
        when(col("n_kept") === 0, lit(null).cast("string"))
          .otherwise(concat_ws(" ",
            transform(col("_kept"), k => k("_seg")))).as("text_kept"))

  /** First-owner table for [[segmentDedupAgainst]]: one row per distinct
    * segment value — (`_h` 128-bit digest, `idCol` the smallest owning doc
    * id). Seeded once from the corpus and APPENDED per ingest batch (each
    * batch appends only hashes not yet present), so the corpus text is
    * never re-segmented — the segment sibling of the maintained minhash
    * signature table (x41).
    */
  def segmentHashTable(docs: DataFrame, textCol: String, idCol: String,
      segTokens: Int): DataFrame =
    segments(docs, textCol, idCol, segTokens)
      .groupBy(md5(col("_seg")).as("_h"))
      .agg(min(col("_id")).as(idCol))

  /** Cross-stratum duplication matrix over segment values: for every
    * stratum pair `(a < b)`, the number of DISTINCT `segTokens`-token
    * segment values appearing in both — the corpus-audit view of where
    * boilerplate crosses sources/languages (which [[segmentDedup]] would
    * then collapse). Segments travel as md5 digests from the moment they
    * leave the document (16-byte shuffle keys, no segment text in any
    * exchange).
    *
    * Scale shape: distinct (stratum, digest) pairs via one map-side
    * combined aggregate; the pair generation is a self-equi-join ON THE
    * DIGEST whose per-key fan-out is bounded by the stratum count (≤ k
    * rows per digest → < k²/2 pairs), so the matrix costs one
    * digest-keyed shuffle plus a strata²-sized result — never pairwise in
    * the corpus.
    */
  def segmentOverlapMatrix(docs: DataFrame, textCol: String,
      strataCol: String, idCol: String, segTokens: Int): DataFrame = {
    require(segTokens > 0, "need segTokens > 0")
    val toks = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(strataCol), TextAnalysis.tokens(col(textCol)).as("_t"))
    val segs = toks.select(col(strataCol),
      explode(transform(
        sequence(lit(1), greatest(size(col("_t")), lit(1)), lit(segTokens)),
        st => concat_ws(" ", slice(col("_t"), st, lit(segTokens)))))
        .as("_seg"))
      .select(col(strataCol), md5(col("_seg")).as("_h"))
      .distinct()
    val a = segs.select(col(strataCol).as("stratum_a"), col("_h"))
    val b = segs.select(col(strataCol).as("stratum_b"), col("_h"))
    a.join(b, Seq("_h"))
      .filter(col("stratum_a") < col("stratum_b"))
      .groupBy(col("stratum_a"), col("stratum_b"))
      .agg(count(lit(1)).as("shared_segments"))
  }

  /** Incremental segment-level dedup: a NEW batch against the maintained
    * segment table — a batch segment survives iff its value is absent from
    * `segTable` AND this occurrence is the batch-first (smallest
    * `(doc id, segment index)` within the batch). Same output contract as
    * [[segmentDedup]]. Id spaces must be disjoint (batch ids never appear
    * in `segTable`; the streaming mount closes the replay window by
    * excluding its own batch's table rows before scoring).
    *
    * Scale shape: per-batch work is the batch's own segment stream (two
    * batch-keyed shuffles) plus ONE column-pruned anti-join against the
    * table on the 16-byte digest — work ∝ batch, never corpus.
    */
  def segmentDedupAgainst(newDocs: DataFrame, segTable: DataFrame,
      textCol: String, idCol: String, segTokens: Int): DataFrame = {
    require(segTokens > 0, "need segTokens > 0")
    val segs = segments(newDocs, textCol, idCol, segTokens)
    val winners = segs
      .groupBy(md5(col("_seg")).as("_h"))
      .agg(min(struct(col("_id"), col("_si"))).as("_w"))
      .join(segTable.select(col("_h")), Seq("_h"), "left_anti")
      .select(col("_w._id").as("_id"), col("_w._si").as("_si"),
        lit(true).as("_keep"))
    reassemble(segs, winners, idCol)
  }

  /** Character n-shingle array over an already-materialized canonical-text
    * column (short texts yield one whole-text shingle). `canon` must be a
    * plain attribute, not a computed expression — see the class doc.
    */
  def shingleArray(canon: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(canon) - (n - 1), lit(1))),
      i => canon.substr(i, lit(n)))

  /** (_id, _set) distinct-shingle SETS, one array row per document — the
    * verify-side representation. Candidate pairs join to two of these rows
    * and compute `array_intersect` per pair, so verification is two compact
    * joins plus per-row array ops instead of a corpus-keyed element
    * explode + element-level join + re-aggregation (three shuffles saved).
    * Canonicalization is materialized before the per-position lambda runs
    * (class doc). NULL text yields no row, matching the oracle's explode.
    */
  private def shingleSets(docs: DataFrame, textCol: String, idCol: String,
      shingleLen: Int): DataFrame = {
    val canon = Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"), TextAnalysis.normalize(col(textCol)).as("_c"))
    canon.select(col("_id"),
      array_distinct(shingleArray(col("_c"), shingleLen)).as("_set"))
  }

  /** MinHash signature: k min-hashes over the shingle set, derived from
    * k/4 md5 digests per shingle — each 32-hex-char md5 is sliced into four
    * independent 8-hex (32-bit) hash values, so the hash cost per shingle is
    * k/4 digests, not k ([[graft.functions.Md5Slices]] family).
    * Returns (idCol, m0..m{k-1}) as longs.
    *
    * Fused: the whole signature is ONE codegen'd expression pass per
    * document ([[graft.functions.MinhashSigs]]) — the earlier exploded
    * (doc, shingle) frame (≈ len(text) rows/doc shuffled into a k-column
    * HashAggregate, then persisted) no longer exists. Map-only, no
    * shuffle: the shape that scales to any corpus.
    */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, shingleLen: Int = 5): DataFrame = {
    require(k % 4 == 0, "k must be a multiple of 4 (4 slices per md5)")
    val sig = shim.column(MinhashSigs(
      shim.expression(TextAnalysis.normalize(col(textCol))), k / 4, shingleLen))
    val mins = (0 until k).map(j => element_at(col("_sig"), j + 1).as(s"m$j"))
    // NULL text drops the document, matching the exploded formulation
    // (explode of a NULL shingle array emits no rows) and the oracle
    Par.spread(docs).filter(col(textCol).isNotNull)
      .withColumn("_sig", sig)
      .select(col(idCol) +: mins: _*)
  }

  /** LSH band buckets: `bands` groups of `k/bands` signature rows, each
    * hashed to ONE 64-bit bucket key with the band index folded in
    * (`xxhash64(band, m_i..)`), so the candidate self-join exchanges an
    * 8-byte long instead of a (band int, 32-char md5 hex) composite — a 5×
    * narrower shuffle key computed without any string materialization.
    * A 64-bit hash collision can only ADD a candidate pair, which exact
    * verification then scores on its true Jaccard — correctness never
    * rests on the hash. Returns (idCol, band, bucket).
    */
  /** Collision probability of the banded MinHash scheme at Jaccard `j`:
    * `1 − (1 − j^r)^b` with `r = k/bands` rows per band — the S-curve
    * every LSH parameter choice is read off of.
    */
  def lshCollisionProb(j: Double, k: Int, bands: Int): Double = {
    require(bands > 0 && k % bands == 0, "bands must divide k")
    val r = k / bands
    1.0 - math.pow(1.0 - math.pow(j, r), bands)
  }

  /** Closed-form LSH parameter planner: the smallest signature (fewest
    * total hashes `k = r·bands`, ties toward fewer bands = fewer
    * candidate-join rows) whose S-curve achieves recall ≥ `minRecall` at
    * the target threshold `jThreshold` AND collision rate ≤ `maxFpRate`
    * at the sub-threshold point `jLow` — the design calculation behind
    * [[minhashNearDups]]' defaults, done once at planning time instead of
    * by trial sweeps ([[Similarity.nearDupRecallReport]] then MEASURES
    * the choice on real data; this plans it). Searches r, bands ≤ 64.
    * Returns (k, bands); throws if no configuration in range satisfies
    * both constraints (loosen one).
    */
  def lshPlan(jThreshold: Double, minRecall: Double, jLow: Double,
      maxFpRate: Double): (Int, Int) = {
    require(jThreshold > 0 && jThreshold < 1 && jLow >= 0 &&
      jLow < jThreshold, "need 0 ≤ jLow < jThreshold < 1")
    require(minRecall > 0 && minRecall < 1 && maxFpRate > 0,
      "need recall/fp-rate targets in (0, 1)")
    val candidates = for {
      r <- 1 to 64
      b <- 1 to 64
      if lshCollisionProb(jThreshold, r * b, b) >= minRecall
      if lshCollisionProb(jLow, r * b, b) <= maxFpRate
    } yield (r * b, b)
    require(candidates.nonEmpty,
      s"no (rows, bands) ≤ 64 achieves recall ≥ $minRecall at " +
        s"$jThreshold with fp ≤ $maxFpRate at $jLow — loosen a constraint")
    candidates.minBy { case (k, b) => (k, b) }
  }

  def lshBuckets(sig: DataFrame, idCol: String, k: Int = 8, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(j => col(s"m$j"))
      struct(lit(b).as("band"), xxhash64(lit(b) +: cols: _*).as("bucket"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("_b"))
      .select(col(idCol), col("_b.band").as("band"), col("_b.bucket").as("bucket"))
  }

  /** Candidate pairs: ids sharing any band bucket (a < b, distinct). The
    * band index is already folded into the bucket hash, so this is a
    * single-long equi-join; both sides shuffle on the same key from the
    * same child plan, which Spark's exchange reuse serves with one scan.
    */
  def lshCandidates(buckets: DataFrame, idCol: String): DataFrame = {
    val a = buckets.select(col("bucket"), col(idCol).as("doc_a"))
    val b = buckets.select(col("bucket").as("_bucket2"), col(idCol).as("doc_b"))
    a.join(b, col("bucket") === col("_bucket2") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Exact Jaccard over per-doc shingle SETS and candidate (doc_a, doc_b)
    * pairs: two id-keyed joins attach both sets to each pair, then
    * `array_intersect` scores it in one pass (union by
    * inclusion-exclusion). Returns (doc_a, doc_b, inter, uni) with integer
    * counts so thresholding stays exact
    * (`thNum/thDen ≤ inter/uni` ⟺ `thDen·inter ≥ thNum·uni`).
    */
  private def jaccardFromSets(sets: DataFrame, candidates: DataFrame): DataFrame =
    candidates
      .join(sets.as("sa"), col("doc_a") === col("sa._id"))
      .join(sets.as("sb"), col("doc_b") === col("sb._id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa._set"), col("sb._set"))).cast("long").as("inter"),
        size(col("sa._set")).cast("long").as("_na"),
        size(col("sb._set")).cast("long").as("_nb"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("_na") + col("_nb") - col("inter")).as("uni"))

  /** Exact Jaccard verification of candidate pairs over distinct shingles. */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame, textCol: String,
      idCol: String, shingleLen: Int = 5): DataFrame =
    jaccardFromSets(shingleSets(docs, textCol, idCol, shingleLen), candidates)

  /** Full MinHash-LSH near-dup pipeline: signatures → bands → candidates →
    * exact-verified pairs with Jaccard ≥ thNum/thDen.
    *
    * Scale shape after the [[graft.functions.MinhashSigs]] fusion:
    * signatures are a map-only pass (no corpus-wide shingle explode at
    * all) feeding the banded self-join directly — cheaper to serve both
    * join sides from exchange reuse than to persist 4 bucket rows/doc.
    * Only the (tiny) candidate pair list is persisted, because it fans out
    * to the id extraction and the verify join. Exact-Jaccard verification
    * builds shingle SETS for the documents that appear in candidate pairs
    * ONLY — on a near-dup-sparse corpus that is a few dozen documents, not
    * the corpus — and scores each pair with one `array_intersect`.
    */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, bands: Int = 4, shingleLen: Int = 5,
      thNum: Int = 4, thDen: Int = 5): DataFrame = {
    val sig = minhashSignatures(docs, textCol, idCol, k, shingleLen).persist()
    val cands = lshCandidates(lshBuckets(sig, idCol, k, bands), idCol).persist()
    // no distinct: the left-semi join dedups its build side anyway, and the
    // duplicate factor is at most 2× the (sparse) pair list
    val candIds = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    val sets = shingleSets(docs.join(candIds, Seq(idCol), "left_semi"),
      textCol, idCol, shingleLen)
    Caching.materializeAndRelease(
      jaccardFromSets(sets, cands)
        .filter(col("inter") * thDen >= col("uni") * thNum),
      sig, cands)
  }

  /** Incremental near-dup detection: near-duplicates of a NEW document
    * batch AGAINST an existing corpus — the shape a production ingest runs
    * per delta instead of re-running the corpus self-join. Returns
    * (doc_a = new id, doc_b = corpus id, inter, uni) for pairs with
    * Jaccard ≥ thNum/thDen; id spaces must be disjoint (a document is
    * either new or existing).
    *
    * Scale shape: the candidate join is new-side buckets × corpus-side
    * buckets, so per-batch work is proportional to the DELTA's bucket
    * collisions, never corpus². At 100 TB the corpus signatures/buckets are
    * a maintained table (computed once per document by the same
    * map-only [[minhashSignatures]] pass, appended on ingest) and the tiny
    * new-side bucket list broadcasts; exact-Jaccard verification touches
    * only the documents that appear in candidate pairs — on both sides.
    */
  def minhashNearDupsAgainst(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, k: Int = 8, bands: Int = 4,
      shingleLen: Int = 5, thNum: Int = 4, thDen: Int = 5): DataFrame =
    incrementalNearDups(newDocs, corpus,
      lshBuckets(minhashSignatures(corpus, textCol, idCol, k, shingleLen),
        idCol, k, bands),
      textCol, idCol, k, bands, shingleLen, thNum, thDen)

  /** [[minhashNearDupsAgainst]] with the corpus side read from a MAINTAINED
    * signature table — `corpusSigs` is [[minhashSignatures]] output
    * (idCol, m0..m{k-1}), computed once per document at ingest and appended,
    * exactly what the scaladoc above describes production keeping. Per-batch
    * cost is then genuinely delta-only: the corpus contributes a scan of its
    * (k-longs-per-doc) signature table into the bucket join plus shingle
    * sets for the few documents that appear in candidate pairs; its TEXT is
    * never re-signatured. `corpusDocs` supplies those verify-side texts.
    */
  def minhashNearDupsAgainstSigs(newDocs: DataFrame, corpusSigs: DataFrame,
      corpusDocs: DataFrame, textCol: String, idCol: String, k: Int = 8,
      bands: Int = 4, shingleLen: Int = 5, thNum: Int = 4,
      thDen: Int = 5): DataFrame =
    incrementalNearDups(newDocs, corpusDocs, lshBuckets(corpusSigs, idCol, k, bands),
      textCol, idCol, k, bands, shingleLen, thNum, thDen)

  /** [[minhashNearDups]] with signatures read from a MAINTAINED table —
    * the corpus-wide re-closure feed
    * ([[graft.ext.Corpus.recloseSplitKeys]]): banding, candidate
    * generation, and exact-Jaccard verification run exactly as the
    * fresh-signature pipeline, but the corpus TEXT is only touched to
    * build shingle sets for candidate-pair members. Signatures are a pure
    * function of the text, so the verified pair set is identical to
    * [[minhashNearDups]] over the same corpus (spec-proved) — at 100 TB
    * the difference is re-reading a k-longs-per-doc table versus
    * re-hashing every shingle of every document.
    */
  def minhashNearDupsFromSigs(sigs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, k: Int = 8, bands: Int = 4,
      shingleLen: Int = 5, thNum: Int = 4, thDen: Int = 5): DataFrame = {
    val cands = lshCandidates(lshBuckets(sigs, idCol, k, bands), idCol).persist()
    val candIds = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    val sets = shingleSets(docs.join(candIds, Seq(idCol), "left_semi"),
      textCol, idCol, shingleLen)
    Caching.materializeAndRelease(
      jaccardFromSets(sets, cands)
        .filter(col("inter") * thDen >= col("uni") * thNum),
      cands)
  }

  /** Shared incremental-near-dup core: new-side signatures are always
    * computed fresh (they ARE the delta); the corpus side arrives as an
    * already-banded bucket frame — from a fresh signature pass
    * ([[minhashNearDupsAgainst]]) or from the maintained signature table
    * ([[minhashNearDupsAgainstSigs]]).
    */
  private def incrementalNearDups(newDocs: DataFrame, corpusDocs: DataFrame,
      corpusBuckets: DataFrame, textCol: String, idCol: String, k: Int,
      bands: Int, shingleLen: Int, thNum: Int, thDen: Int): DataFrame = {
    val bn = lshBuckets(minhashSignatures(newDocs, textCol, idCol, k, shingleLen),
        idCol, k, bands)
      .select(col("bucket"), col(idCol).as("doc_a"))
    val bc = corpusBuckets.select(col("bucket").as("_bucket2"), col(idCol).as("doc_b"))
    // the two bucket sides are different subtrees (no self-join reuse), so
    // nothing is persisted above the candidate list; each side is one
    // map-only pass into the bucket exchange
    val cands = bn.join(bc, col("bucket") === col("_bucket2"))
      .select(col("doc_a"), col("doc_b")).distinct().persist()
    val setsA = shingleSets(
      newDocs.join(cands.select(col("doc_a").as(idCol)), Seq(idCol), "left_semi"),
      textCol, idCol, shingleLen)
    val setsB = shingleSets(
      corpusDocs.join(cands.select(col("doc_b").as(idCol)), Seq(idCol), "left_semi"),
      textCol, idCol, shingleLen)
    Caching.materializeAndRelease(
      cands
        .join(setsA.as("sa"), col("doc_a") === col("sa._id"))
        .join(setsB.as("sb"), col("doc_b") === col("sb._id"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sa._set"), col("sb._set"))).cast("long").as("inter"),
          size(col("sa._set")).cast("long").as("_na"),
          size(col("sb._set")).cast("long").as("_nb"))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          (col("_na") + col("_nb") - col("inter")).as("uni"))
        .filter(col("inter") * thDen >= col("uni") * thNum),
      cands)
  }

  /** Benchmark-contamination scan: corpus documents sharing at least one
    * word `n`-gram with any document of a (small) evaluation set. Returns
    * (doc_id, eval_id, shared_grams) — the pre-training hygiene check that
    * catches eval examples leaked into the corpus.
    *
    * Scale shape: the eval side's hashed grams BROADCAST, so the corpus
    * side is one map-only pass over its gram stream — the corpus is never
    * shuffled at all; only the (tiny) matched (doc, eval) hits exchange for
    * the final count. Grams travel as xxhash64 longs (collision argument as
    * in [[ngramJaccardPairs]]: a 64-bit collision could add one phantom
    * shared gram at odds ~10⁻¹¹ — flag-worthy overlaps are not 1 gram).
    *
    * The "small evaluation set" precondition is mechanical, not advisory:
    * `maxEvalDocs` bounds the broadcast side, so an eval frame too big to
    * broadcast fails fast with the bound named instead of blowing up the
    * driver mid-build. Eval suites are thousands of documents; a caller
    * with a genuinely huge one should raise the cap only alongside
    * `spark.sql.autoBroadcastJoinThreshold`/driver memory, or shuffle-join
    * a gram table instead.
    */
  def ngramOverlapAgainst(docs: DataFrame, evalDocs: DataFrame,
      textCol: String, idCol: String, n: Int = 8,
      maxEvalDocs: Long = 100000L): DataFrame = {
    val nEval = evalDocs.count()
    require(nEval <= maxEvalDocs,
      s"ngramOverlapAgainst broadcasts the eval side's grams: eval set has" +
        s" $nEval docs > maxEvalDocs=$maxEvalDocs. Raise the cap only with" +
        " driver memory to match, or join a materialized gram table.")
    def grams(df: DataFrame, idAs: String) = df
      .select(col(idCol).as(idAs), gramHashStream(textCol, n).as("_g"))
    grams(Par.spread(docs), "_doc").join(broadcast(grams(evalDocs, "eval_id")), Seq("_g"))
      .groupBy(col("_doc").as(idCol), col("eval_id"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Multi-benchmark contamination scan: [[ngramOverlapAgainst]] against N
    * evaluation sets in ONE corpus pass. Real pipelines decontaminate
    * against dozens of benchmarks — re-scanning 100 TB once per benchmark
    * is the wrong shape, so here every eval set's hashed grams ride the
    * same broadcast (tagged with their `setCol`) and the corpus gram
    * stream probes them all at once.
    *
    * Returns (`idCol`, eval_set, shared_grams, eval_docs_hit) per corpus
    * document × eval set it overlaps: `shared_grams` counts the document's
    * DISTINCT grams found anywhere in that set (a gram shared with three
    * eval documents counts once — the signal is "how much of this document
    * is benchmark material"), `eval_docs_hit` the distinct eval documents
    * reached. Same scale shape as the single-set scan: eval grams
    * broadcast under the same `maxEvalDocs` guard (now the TOTAL across
    * sets, which is what bounds the broadcast), corpus never shuffled,
    * only matched hits exchange for the final count.
    */
  def ngramOverlapAgainstEvalSets(docs: DataFrame, evalDocs: DataFrame,
      setCol: String, textCol: String, idCol: String, n: Int = 8,
      maxEvalDocs: Long = 100000L): DataFrame = {
    val nEval = evalDocs.count()
    require(nEval <= maxEvalDocs,
      s"ngramOverlapAgainstEvalSets broadcasts every eval set's grams: the" +
        s" sets total $nEval docs > maxEvalDocs=$maxEvalDocs. Raise the cap" +
        " only with driver memory to match, or join a maintained gram table" +
        " via ngramOverlapAgainstGramTable.")
    overlapAgainstGrams(docs, textCol, idCol, n,
      broadcast(evalSetGramTable(evalDocs, setCol, textCol, idCol, n)))
  }

  /** The tagged eval-set gram table `(eval_set, _eid, _g)` that
    * [[ngramOverlapAgainstEvalSets]] broadcasts and
    * [[ngramOverlapAgainstGramTable]] joins: per eval document, its
    * DISTINCT hashed word `n`-grams with the owning set's tag. In
    * production this is the MAINTAINED side — computed once when a
    * benchmark is registered, appended when one is added, never
    * re-signatured per corpus scan (the decontamination sibling of the
    * minhash signature table, `Dedup.scala` x41).
    */
  def evalSetGramTable(evalDocs: DataFrame, setCol: String, textCol: String,
      idCol: String, n: Int = 8): DataFrame = evalDocs
    .select(col(setCol).as("eval_set"), col(idCol).as("_eid"),
      gramHashStream(textCol, n).as("_g"))

  /** [[ngramOverlapAgainstEvalSets]]'s result from a maintained gram TABLE
    * — the beyond-broadcast scale path its guard names. The corpus gram
    * stream shuffle-equi-joins the table on the 64-bit gram hash, so
    * neither side is collected anywhere: eval suites of any size work, at
    * the price of one corpus-gram exchange (the broadcast variant keeps
    * the corpus map-only and stays preferable whenever the grams fit).
    * `evalGrams` must have [[evalSetGramTable]]'s schema.
    */
  def ngramOverlapAgainstGramTable(docs: DataFrame, evalGrams: DataFrame,
      textCol: String, idCol: String, n: Int = 8): DataFrame =
    overlapAgainstGrams(docs, textCol, idCol, n, evalGrams)

  private def overlapAgainstGrams(docs: DataFrame, textCol: String,
      idCol: String, n: Int, evalGrams: DataFrame): DataFrame = {
    val corpusGrams = Par.spread(docs)
      .select(col(idCol).as("_doc"), gramHashStream(textCol, n).as("_g"))
    corpusGrams.join(evalGrams, Seq("_g"))
      .groupBy(col("_doc").as(idCol), col("eval_set"))
      .agg(count_distinct(col("_g")).as("shared_grams"),
        count_distinct(col("_eid")).as("eval_docs_hit"))
  }

  /** SimHash fingerprint, `bits ≤ 48`, oracle-mirrorable form: bit i of a
    * token's hash is the top bit of hex nibble i of `md5(t) ++ md5("1|"+t)`
    * (two digests give 64 nibbles — 48 bits keeps the packed long positive,
    * clear of the sign bit); per-bit ±1 votes are summed over all token
    * occurrences and the sign vector packs into a long. 48 bits makes the
    * Hamming-space neighborhood selective enough for near-dup banding
    * (12-bit bands at 4 bands) where 32 bits collapses ordinary same-domain
    * documents together.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String, bits: Int = 48): DataFrame = {
    require(bits <= 48)
    // Fully fused ([[graft.functions.SimhashFp]]): tokenization, per-token
    // digest votes ([[graft.functions.SimhashBits]] masks), vote summing
    // and sign packing all happen in one codegen'd pass per document —
    // no token explode, no 48-column aggregate, no shuffle. Map-only.
    // NULL text drops the document (exploded-formulation + oracle parity).
    Par.spread(docs).filter(col(textCol).isNotNull).select(col(idCol),
      shim.column(SimhashFp(
        shim.expression(TextAnalysis.normalize(col(textCol))), bits)).as("simhash"))
  }

  /** SimHash near-duplicate pairs: candidates share at least one of
    * `bands` equal fingerprint slices (LSH over Hamming space — by
    * pigeonhole, any pair within Hamming distance < `bands` shares a band,
    * so `maxHam ≤ bands - 1` gives guaranteed-complete recall), verified
    * with the exact popcount of the XOR. Returns (doc_a, doc_b, hamming).
    */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      bits: Int = 48, bands: Int = 4, maxHam: Int = 3): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val r = bits / bands
    val mask = (1L << r) - 1
    val fp = simhash(docs, textCol, idCol, bits).persist()
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * r).bitwiseAND(lit(mask)).as("v")))
    val banded = fp.select(col(idCol), explode(array(bandStructs: _*)).as("_b"))
      .select(col(idCol), col("_b.band").as("band"), col("_b.v").as("v"))
    val cands = banded.as("ba")
      .join(banded.as("bb"),
        col("ba.band") === col("bb.band") && col("ba.v") === col("bb.v") &&
          col(s"ba.$idCol") < col(s"bb.$idCol"))
      .select(col(s"ba.$idCol").as("doc_a"), col(s"bb.$idCol").as("doc_b"))
      .distinct()
    Caching.materializeAndRelease(
      cands
        .join(fp.select(col(idCol).as("doc_a"), col("simhash").as("_fa")), Seq("doc_a"))
        .join(fp.select(col(idCol).as("doc_b"), col("simhash").as("_fb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("_fa").bitwiseXOR(col("_fb"))).as("hamming"))
        .filter(col("hamming") <= maxHam),
      fp)
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair list (doc_a < doc_b), labeling every member with the smallest id
    * in its component — the canonical survivor a dedup pass would keep.
    * Returns (canonical_id, member_id), members only (singletons are their
    * own canonicals and never appear in pairs).
    *
    * Min-label propagation: each pass joins labels across edges and takes
    * the elementwise min — O(component diameter) passes, each one shuffle
    * on the id. Near-dup components are short transitive chains, so the
    * loop converges in a handful of iterations; convergence is detected by
    * the (strictly decreasing) exact label sum, one scalar read per pass.
    * Nothing is ever collected beyond that scalar, so the operator holds
    * at any corpus size — this is the iterative-join connected-components
    * shape, not a driver-side union-find.
    */
  /** Member count past which the pointer-doubling hop join can pay for
    * its extra per-round stage (~a few hundred rows per core of real
    * work — below it a round is scheduling fixed cost and the hop only
    * deepens the DAG; measured both ways, see the loop comment). */
  private val HopMinMembers = 8192L

  def dupClusters(pairs: DataFrame, maxIters: Int = 30): DataFrame = {
    // Each round is materialized with localCheckpoint to TRUNCATE LINEAGE:
    // round N's plan references round N−1 twice (union + join), so without
    // truncation the logical plan doubles per round and the analyzer — not
    // the data — becomes the bottleneck (observed as a driver OOM). This
    // is the standard iterative-join practice (GraphX's Pregel checkpoints
    // the same way); tradeoff: on executor loss the operator re-runs
    // instead of recomputing from lineage.
    val edges = pairs.select(col("doc_a").as("s"), col("doc_b").as("d"))
      .unionByName(pairs.select(col("doc_b").as("s"), col("doc_a").as("d")))
      .localCheckpoint(true)
    var labels = edges.select(col("s").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    // one job returns BOTH convergence scalars: the exact label sum
    // (strictly decreasing until fixed point) and the member count —
    // the count feeds the size-aware pointer-doubling trigger below at
    // zero extra cost (same aggregate, same job)
    def labelStats(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)")),
        count(lit(1))).head()
      (r.getDecimal(0), r.getLong(1))
    }
    var (prev, nLabels) = labelStats(labels)
    var iters = 0
    var converged = prev == null // no pairs → no members, nothing to iterate
    while (!converged && iters < maxIters) {
      val prop = edges.join(labels.withColumnRenamed("id", "_d"), col("d") === col("_d"))
        .select(col("s").as("id"), col("label"))
      // SIZE-AWARE POINTER DOUBLING (guide §2.4 — every round is a
      // shuffle plus a checkpoint, so fewer rounds is the lever): from
      // round 4 on, and only when the member table is big enough that a
      // round's cost is DATA rather than scheduling, follow the LABEL
      // link one extra hop — label(label(id)) — which compounds the
      // distance labels travel per round and cuts the round count on
      // chain components. Both gates are measured, not aesthetic
      // (interleaved idle A/Bs, BASELINE.md round 17):
      //  - an ALWAYS-ON hop regressed every CC query at sf0.1 by
      //    10–40% (x64 +22–42%): with ~3.5k members the per-round cost
      //    is pure driver/scheduling fixed cost and the extra join per
      //    round only deepens the DAG, while at sf1 (~25k members,
      //    15 rounds) the same hop won −17% (x29 −27%, x97 −16%) —
      //    rounds saved are real work there;
      //  - the round delay keeps the 2–3-round graphs (most near-dup
      //    batches) on the exact single-hop plan.
      // HopMinMembers ≈ a few hundred rows per core of useful work per
      // round (the minimum at which an extra stage amortizes, same
      // class of cost-model constant as a broadcast threshold); the
      // member count rides the convergence aggregate for free. At
      // corpus scale (millions of members) the hop is always on.
      // Correctness is unchanged: a label is always the id of a node
      // reachable from `id` inside its component (initially itself;
      // edge hops extend by one edge; label hops compose two
      // reachabilities), min() keeps the invariant, and labels only
      // ever DECREASE — so the label-sum convergence test still means
      // "no label changed", and a state stable under BOTH hops is in
      // particular stable under edge propagation alone, which forces
      // one label per component (spec-pinned against a driver-side
      // union-find on adversarial chain graphs in DedupSpec).
      val withHop =
        if (iters < 3 || nLabels < HopMinMembers)
          labels.unionByName(prop)
        else {
          val hop = labels.as("la")
            .join(labels.as("lb"), col("la.label") === col("lb.id"))
            .select(col("la.id").as("id"), col("lb.label").as("label"))
          labels.unionByName(prop).unionByName(hop)
        }
      val next = withHop
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      val (cur, n) = labelStats(next)
      labels = next
      nLabels = n
      converged = cur.compareTo(prev) == 0
      prev = cur
      iters += 1
    }
    // a silent early exit would split components across two canonicals
    // with no signal — fail loudly instead (raise maxIters for graphs
    // with diameter > 30, which near-dup chains never reach in practice)
    require(converged,
      s"dupClusters did not converge within $maxIters iterations — " +
        "component diameter exceeds maxIters")
    labels.select(col("label").as("canonical_id"), col("id").as("member_id"))
  }

  /** The consuming end of near-dup detection: drop every cluster member
    * except its canonical survivor. `pairs` is any near-dup pair list
    * (doc_a < doc_b, e.g. from [[minhashNearDups]], [[simhashNearDups]] or
    * [[Similarity.cosineNearDupsBlocked]]); rows whose id appears in a
    * cluster under a different canonical are anti-joined away — one
    * compact-key shuffle over the (tiny) member list, the corpus itself
    * streams through.
    */
  def dedupByClusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = dupClusters(pairs)
      .filter(col("member_id") =!= col("canonical_id"))
      .select(col("member_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** [[dedupByClusters]] with QUALITY-AWARE canonical selection: instead
    * of the min-id member, each cluster keeps its highest-`scoreCol`
    * member (ties → smallest id) — the production policy when dropping
    * near-dups ("keep the longest / highest-quality copy"), which min-id
    * cannot express. The keeper is picked with one `min(struct(−score,
    * id))` aggregate per cluster — deterministic under ties, unlike a bare
    * `max_by` — and the corpus still only anti-joins a compact drop list.
    * Rows never named in `pairs` are untouched; a NULL score sorts last
    * (every scored member beats it).
    */
  def dedupByClustersBest(docs: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    val members = dupClusters(pairs)
      .join(docs.select(col(idCol).as("member_id"),
        col(scoreCol).cast("double").as("_score")), Seq("member_id"))
    val keepers = members
      .groupBy(col("canonical_id"))
      .agg(min(struct(
        // a NULL score must sort LAST (min-struct ordering puts nulls
        // first): +∞ makes every scored member beat it
        coalesce(-col("_score"), lit(Double.PositiveInfinity)).as("_neg"),
        col("member_id").as("_mid"))).as("_k"))
      .select(col("canonical_id"), col("_k._mid").as("_keep_id"))
    val drop = members.join(keepers, Seq("canonical_id"))
      .filter(col("member_id") =!= col("_keep_id"))
      .select(col("member_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Exploded DISTINCT xxhash64 gram-hash stream of a text column in one
    * fused pass ([[graft.functions.GramHashes]]) — byte-identical to
    * `xxhash64(explode(array_distinct(wordNgrams(tokens(text)))))` but
    * allocates no per-gram strings (the CmsPairs substring device;
    * measured on x134's sibling pass: 25× at the 100× corpus). Every
    * n-gram SET operator's corpus scan rides this.
    */
  private def gramHashStream(textCol: String, n: Int): Column =
    explode(shim.column(GramHashes(
      shim.expression(TextAnalysis.normalize(col(textCol))), n)))

  /** Word n-gram array over an already-materialized token-array column
    * (short docs yield one partial n-gram — concat_ws skips the missing
    * tail). `toks` must be a plain attribute — see the class doc.
    */
  def wordNgrams(toks: Column, n: Int = 3): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", (0 until n).map(o => try_element_at(toks, i + o)): _*))

  /** N-gram Jaccard near-dups over *discriminative* n-grams: grams with
    * document frequency > `maxDf` are dropped from every set (the set-join
    * analogue of stopword removal), then exact integer Jaccard over the
    * filtered sets ≥ thNum/thDen, computed in one grouped self-join pass.
    *
    * The df cut is the scale guard: without it, stop-phrase n-grams
    * ("one of the") each contribute df² join pairs — quadratic blowup on
    * skewed keys that no partitioning fixes. With it the join is bounded by
    * Σ_{df ≤ maxDf} df², and a pair whose only overlap is stop-phrases
    * (which shouldn't count as near-duplicate evidence anyway) never joins.
    * On corpora with no mega-grams the cut is a no-op and the result equals
    * plain Jaccard. `inter`/`uni` stay exact integers over the filtered
    * universe, so thresholding is exact.
    *
    * Grams travel as 64-bit `xxhash64` keys from the moment they leave the
    * per-document array: the df-cut window and both sides of the self-join
    * shuffle an 8-byte long instead of the gram STRING (~20-30 bytes + hash
    * cost at every exchange) — same trick as [[lshBuckets]]. Collision
    * tolerance: two distinct grams hashing equal could merge set elements,
    * perturbing a count by 1; at 64 bits the corpus-wide collision odds are
    * ~m²/2⁶⁵ (≈10⁻¹¹ even for 10⁸ distinct grams), far below any near-dup
    * threshold's sensitivity, so pairs are not rescored on raw strings.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, thNum: Int = 3, thDen: Int = 5, maxDf: Int = 1000): DataFrame =
    ngramPairCounts(docs, textCol, idCol, n, maxDf)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("_na") + col("_nb") - col("inter")).as("uni"))
      .filter(col("inter") * thDen >= col("uni") * thNum)

  /** Cross-source syndication matrix: near-dup pairs ([[minhashNearDups]])
    * rolled up to the SOURCE level — `n_pairs` near-duplicate document
    * pairs per unordered source pair (`src_1` ≤ `src_2`; the diagonal is
    * within-source duplication). The corpus-forensics view: which domains
    * mirror which, where scraped content recirculates, which source to
    * keep when cluster dedup must pick a canonical side.
    *
    * Scale shape: the pair stream (already bounded by the LSH banding)
    * joins the doc→source map on each end — two doc-id equi-joins, the
    * map AQE-broadcast when sources fit — then ONE (source, source)-keyed
    * aggregate with map-side combine; output rows ≤ sources².
    */
  def syndicationMatrix(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, k: Int = 16, bands: Int = 4, shingleLen: Int = 7,
      thNum: Int = 4, thDen: Int = 5): DataFrame = {
    val pairs = minhashNearDups(docs, textCol, idCol, k, bands, shingleLen,
      thNum, thDen)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("doc_a"), col(sourceCol).as("_sa")),
        Seq("doc_a"))
      .join(src.select(col(idCol).as("doc_b"), col(sourceCol).as("_sb")),
        Seq("doc_b"))
      .groupBy(least(col("_sa"), col("_sb")).as("src_1"),
        greatest(col("_sa"), col("_sb")).as("src_2"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Asymmetric CONTAINMENT near-dups (Broder 1997's resemblance vs
    * containment distinction): pairs where the smaller gram set is mostly
    * inside the larger — `inter / min(|A|,|B|)` ≥ `thNum/thDen` — catching
    * quotes, excerpts, and doc-in-doc syndication whose Jaccard is tiny
    * because the larger document dilutes the union. `contained_id` names
    * the contained (smaller-set; tie → `doc_a`) document. Thresholding is
    * exact integer arithmetic; `containment` is one IEEE division of
    * exact longs for the caller.
    *
    * Same machinery and scale guards as [[ngramJaccardPairs]] (shared
    * core): df-cut gram buckets, in-place pair generation, 8-byte gram
    * keys.
    */
  def ngramContainmentPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, thNum: Int = 4, thDen: Int = 5, maxDf: Int = 1000): DataFrame =
    ngramPairCounts(docs, textCol, idCol, n, maxDf)
      .filter(col("inter") * thDen >= least(col("_na"), col("_nb")) * thNum)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("_na").as("n_a"), col("_nb").as("n_b"),
        (col("inter").cast("double") / least(col("_na"), col("_nb")))
          .as("containment"),
        when(col("_na") <= col("_nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_id"))

  /** Shared pair-counting core of [[ngramJaccardPairs]] /
    * [[ngramContainmentPairs]]: (`doc_a` < `doc_b`, `inter`, `_na`,
    * `_nb`) over the df-cut distinct-gram universe.
    */
  private def ngramPairCounts(docs: DataFrame, textCol: String,
      idCol: String, n: Int, maxDf: Int): DataFrame = {
    val ngAll = Par.spread(docs)
      .select(col(idCol).as("_id"), gramHashStream(textCol, n).as("_g"))
    // ONE groupBy(_g) shuffle of the exploded gram stream yields both the
    // df cut (list size) and, directly, each surviving gram's sorted doc
    // list — so co-occurring pairs are generated IN PLACE per gram bucket
    // by a higher-order expression instead of a self-join. vs the previous
    // window-count + persist + self-join shape this drops the cache write
    // of the full gram stream, the double scan of it, and the join, and the
    // (doc_a, doc_b) exchange now gets map-side partial counts (pairs
    // sharing several grams combine before the shuffle). Per-gram pair
    // fan-out is bounded by the same Σ_{df ≤ maxDf} df² as before; the
    // largest in-place pair array is maxDf²/2 structs — memory-bounded by
    // the df cut that already bounds the join blowup.
    val grouped = ngAll.groupBy(col("_g"))
      .agg(collect_list(col("_id")).as("_ids"))
      .filter(size(col("_ids")) <= maxDf)
      .select(array_sort(col("_ids")).as("_ids"))
    val sizes = grouped.select(explode(col("_ids")).as("_id"))
      .groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    // ids sorted ascending, so pairing each element with its suffix gives
    // every unordered pair exactly once with doc_a < doc_b
    val inter = grouped
      .select(explode(flatten(transform(col("_ids"), (a, i) =>
        transform(slice(col("_ids"), i + lit(2), size(col("_ids")) - i - lit(1)),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("_p"))
      .groupBy(col("_p.doc_a").as("doc_a"), col("_p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // `grouped` feeds both branches uncached: ReuseExchange materializes the
    // gram shuffle once, and only the cheap post-shuffle aggregation replays
    inter
      .join(sizes.as("na"), col("doc_a") === col("na._id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb._id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("na._n").as("_na"), col("nb._n").as("_nb"))
  }

  /** PREFIX-FILTERED exact n-gram Jaccard join (the AllPairs algorithm,
    * Bayardo/Ma/Srikant WWW 2007): identical output to
    * [[ngramJaccardPairs]] — every pair with filtered-set Jaccard ≥
    * `thNum/thDen` — but candidate pairs are generated only from each
    * document's PREFIX under a global rarest-first gram order, not from
    * every shared gram.
    *
    * Why this is the different algorithm x5 needed: [[ngramPairCounts]]
    * exchanges one pair occurrence per SHARED GRAM — Σ_{df ≤ maxDf} df²
    * pair rows — because it must count every intersection exactly for
    * every co-occurring pair. Here the exchange is bounded by the prefix
    * theorem instead: order all grams by (document frequency asc, hash),
    * keep only the first `|d| − ⌈t·|d|⌉ + 1` grams of each document, and
    * any pair with Jaccard ≥ t MUST share a prefix gram (if all shared
    * grams sat in both suffixes, the overlap would be < ⌈t·max(|A|,|B|)⌉,
    * contradicting J ≥ t for any length-compatible pair). Prefixes are
    * the RAREST (1−t)/(1+ε) slice of each document, so the per-gram df —
    * and with it the df² fan-out — collapses; stop-phrase grams never
    * generate a candidate at all. Candidates then take one LENGTH filter
    * (J ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|)) and are verified EXACTLY
    * with a per-pair sorted-array intersection over the two documents'
    * full filtered gram sets — two id-keyed joins moving each doc array
    * once per surviving candidate, no per-gram pair stream. (PPJoin's
    * positional filter is deliberately omitted: in set-bucket generation
    * it needs the probe-time running-overlap state to stay sound, and an
    * unsound variant would silently drop true pairs.)
    *
    * The `maxDf` cut is applied to the gram universe FIRST, exactly as in
    * [[ngramJaccardPairs]], so the two operators compute the same
    * function — x95 is hash-checked against x5's own oracle. Trade-off at
    * 100 TB: x5's shape pays one giant gram-keyed exchange and wins when
    * near-everything co-occurs; this shape pays per-doc array
    * materialization (bounded by document length) and wins — typically by
    * the candidate-count ratio — when the corpus is large and true
    * near-dup pairs are sparse, which is the production regime.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, thNum: Int = 3, thDen: Int = 5, maxDf: Int = 1000): DataFrame = {
    require(thNum > 0 && thDen >= thNum, "need 0 < thNum/thDen <= 1")
    val docArr = prefixDocArrays(docs, textCol, idCol, n, maxDf)
    // prefix length |d| − ⌈t·|d|⌉ + 1 (exact integer ceiling)
    val pfxLen = (col("_n") - floor((col("_n") * thNum + (thDen - 1))
      / thDen).cast("int") + 1)
    val prefix = docArr
      .select(col("_id"), col("_n"), explode(slice(col("_ga"), lit(1), pfxLen)).as("_g"))
    // candidate pairs generated in place per prefix-gram bucket (the same
    // suffix-pairing trick as ngramPairCounts), length-filtered before the
    // distinct so hopeless pairs never reach the pair exchange
    val cands = prefix.groupBy(col("_g"))
      .agg(array_sort(collect_list(struct(col("_id"), col("_n")))).as("_m"))
      .filter(size(col("_m")) > 1)
      .select(explode(flatten(transform(col("_m"), (a, i) =>
        transform(slice(col("_m"), i + lit(2), size(col("_m")) - i - lit(1)),
          b => struct(a.getField("_id").as("doc_a"), a.getField("_n").as("_na"),
            b.getField("_id").as("doc_b"), b.getField("_n").as("_nb")))))).as("_p"))
      .select(col("_p.doc_a").as("doc_a"), col("_p._na").as("_na"),
        col("_p.doc_b").as("doc_b"), col("_p._nb").as("_nb"))
      .filter(least(col("_na"), col("_nb")) * thDen
        >= greatest(col("_na"), col("_nb")) * thNum)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("_na")).as("_na"), max(col("_nb")).as("_nb"))
    // exact verify: intersect the two full sorted gram arrays per pair —
    // arrays are sets (distinct hashes), so size(array_intersect) IS the
    // exact intersection cardinality
    cands
      .join(docArr.select(col("_id").as("doc_a"), col("_ga").as("_gaa")), Seq("doc_a"))
      .join(docArr.select(col("_id").as("doc_b"), col("_ga").as("_gab")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("_gaa"), col("_gab"))).cast("long").as("inter"),
        col("_na"), col("_nb"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("_na").cast("long") + col("_nb") - col("inter")).as("uni"))
      .filter(col("inter") * thDen >= col("uni") * thNum)
  }

  /** Shared rarest-first doc-array prep for the prefix-filtered joins:
    * each document's df-cut distinct-gram set as ONE array sorted by
    * (df asc, hash asc) — a global total order, so array positions are
    * the canonical order the prefix theorem needs — plus its size. The
    * array is bounded by the document's own length; the df > `maxDf`
    * universe cut is identical to [[ngramJaccardPairs]]'s.
    */
  private def prefixDocArrays(docs: DataFrame, textCol: String,
      idCol: String, n: Int, maxDf: Int): DataFrame = {
    val ng = Par.spread(docs)
      .select(col(idCol).as("_id"), gramHashStream(textCol, n).as("_g"))
    val dfs = ng.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
    // Deliberately NOT materialized, on measurement: every consumer
    // references this frame 3-5 times and Catalyst reuses nothing (the
    // x95 plan re-runs the whole gram pipeline per reference — 12
    // parquet scans, zero ReusedExchange), which LOOKS like waste — but
    // the recomputed branches overlap across all cores inside one job,
    // while materializing serializes the critical path behind an eager
    // barrier plus nested-array encode: measured idle A/B at sf0.1,
    // x95 2.78 s unpersisted vs 4.10 s persist() / 3.98 s
    // localCheckpoint(). At a scale where three extra corpus passes
    // dominate, a caller should checkpoint the returned frame to
    // parquet once and join against that — the maintained-table form
    // x126 already implements.
    ng.join(dfs, Seq("_g"))
      .groupBy(col("_id"))
      .agg(array_sort(collect_list(struct(col("_df"), col("_g")))).as("_sg"))
      .select(col("_id"),
        transform(col("_sg"), s => s.getField("_g")).as("_ga"),
        size(col("_sg")).as("_n"))
  }

  /** Recall report for the banded MinHash near-dup path — the text
    * sibling of `Similarity.nearDupRecallReport`/`topKRecallReport`,
    * closing the last approximate path without its own measured recall:
    * every EXACT pair with shingle Jaccard ≥ `thNum/thDen` (all-pairs
    * verify, `maxExactRows`-guarded) is checked for presence in
    * [[minhashNearDups]]'s output and aggregated per Jaccard band
    * (`⌊20·J⌋` — exact-long division, band 16..20 at t = 0.8). Since
    * the banded path verifies exactly, precision is 1 by construction
    * and `recall` here is the banding's only loss — the measured form
    * of [[lshPlan]]'s S-curve prediction
    * (`lshCollisionProb(J, k, bands)` is the per-band expectation to
    * compare against). A sampled tuning pass by contract, not a corpus
    * operator.
    */
  def minhashRecallReport(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4, shingleLen: Int = 7, thNum: Int = 4,
      thDen: Int = 5, maxExactRows: Long = 100000L): DataFrame = {
    val n = docs.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(docs.count())
    require(n <= maxExactRows,
      s"minhashRecallReport's ground truth is all-pairs exact Jaccard " +
        s"(O(n^2)): corpus has $n rows > maxExactRows=$maxExactRows. " +
        "Run it on a sample; production near-dup stays on minhashNearDups.")
    val ids = docs.select(col(idCol))
    val cands = ids.select(col(idCol).as("doc_a"))
      .join(ids.select(col(idCol).as("doc_b")), col("doc_a") < col("doc_b"))
    // shingles travel as 64-bit hashes into the pairwise intersect — the
    // all-pairs exchange then ships 8-byte longs instead of 7-char
    // strings and the per-pair intersect hashes longs, not strings; the
    // x5-precedent collision argument (~m²/2⁶⁵) applies
    val hashedSets = shingleSets(docs, textCol, idCol, shingleLen)
      .select(col("_id"),
        array_distinct(transform(col("_set"), s => xxhash64(s))).as("_set"))
    val exact = jaccardFromSets(hashedSets, cands)
      .filter(col("inter") * thDen >= col("uni") * thNum)
    val found = minhashNearDups(docs, textCol, idCol, k, bands, shingleLen,
        thNum, thDen)
      .select(col("doc_a"), col("doc_b"), lit(true).as("_found"))
    exact.join(found, Seq("doc_a", "doc_b"), "left")
      .groupBy(floor(col("inter") * 20 / col("uni")).cast("int").as("band"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("_found"), 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall",
        col("n_found").cast("double") / col("n_exact"))
  }

  /** The four maintained tables of the incremental containment screen
    * ([[ngramContainmentAgainst]]), all pure functions of the corpus —
    * computed ONCE at registration (e.g. via `util/Maintained`), read
    * per batch:
    *  - `arrs`: per corpus doc its df-cut gram set as one rarest-first
    *    sorted array + size (the verify side);
    *  - `gramIdx`: `arrs` exploded — gram → corpus doc (the index the
    *    batch's PREFIX probes when the batch doc is the smaller side);
    *  - `pfxIdx`: only each corpus doc's containment prefix, exploded
    *    (what the batch's FULL gram set probes when the CORPUS doc is
    *    the smaller side — a corpus doc quoted inside a bigger arrival);
    *  - `dfs`: the FULL corpus gram-frequency table, uncut — probe-time
    *    needs to distinguish "cut for df > maxDf" from "novel gram"
    *    (novel grams keep df 1: they stay in the batch's set, diluting
    *    containment honestly, but can never probe the corpus index).
    */
  case class ContainmentIndex(arrs: DataFrame, gramIdx: DataFrame,
      pfxIdx: DataFrame, dfs: DataFrame)

  /** Build [[ContainmentIndex]] from the corpus. The df universe FREEZES
    * here — later batches are screened under the corpus's gram
    * frequencies (the same documented incremental approximation as the
    * maintained signature/gram tables: per-batch cost must not depend on
    * re-aggregating the corpus).
    */
  def containmentIndex(corpus: DataFrame, textCol: String, idCol: String,
      n: Int = 3, thNum: Int = 4, thDen: Int = 5,
      maxDf: Int = 1000): ContainmentIndex = {
    val ng = Par.spread(corpus)
      .select(col(idCol).as("_id"), gramHashStream(textCol, n).as("_g"))
    val dfs = ng.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
    val arrs = ng.join(dfs.filter(col("_df") <= maxDf), Seq("_g"))
      .groupBy(col("_id"))
      .agg(array_sort(collect_list(struct(col("_df"), col("_g")))).as("_sg"))
      .select(col("_id"),
        transform(col("_sg"), s => s.getField("_g")).as("_ga"),
        size(col("_sg")).as("_n"))
    val pfxLen = (col("_n") - floor((col("_n") * thNum + (thDen - 1))
      / thDen).cast("int") + 1)
    ContainmentIndex(
      arrs,
      arrs.select(col("_id"), explode(col("_ga")).as("_g")),
      arrs.select(col("_id"), explode(slice(col("_ga"), lit(1), pfxLen)).as("_g")),
      dfs)
  }

  /** Batch-side doc arrays under the FROZEN corpus frequencies —
    * (`_id`, `_ga`, `_n`) in [[ContainmentIndex]]`.arrs`'s exact shape:
    * novel grams keep df 1 and stay; grams the frozen table records
    * above `maxDf` are cut. Used inside [[ngramContainmentAgainst]] and
    * by the streaming mount to append screened batches into the growing
    * index tables.
    */
  def containmentBatchArrays(newDocs: DataFrame, frozenDfs: DataFrame,
      textCol: String, idCol: String, n: Int,
      maxDf: Int = 1000): DataFrame =
    Par.spread(newDocs)
      .select(col(idCol).as("_id"), gramHashStream(textCol, n).as("_g"))
      .join(frozenDfs, Seq("_g"), "left")
      .filter(coalesce(col("_df"), lit(1L)) <= maxDf)
      .groupBy(col("_id"))
      .agg(array_sort(collect_list(struct(
        coalesce(col("_df"), lit(1L)).as("_df"), col("_g")))).as("_sg"))
      .select(col("_id"),
        transform(col("_sg"), s => s.getField("_g")).as("_ga"),
        size(col("_sg")).as("_n"))

  /** INCREMENTAL containment screen — "is this arrival a quote/excerpt
    * of something we already have (or vice versa)": batch documents
    * against a FIXED corpus through the maintained [[ContainmentIndex]],
    * returning every (batch, corpus) pair with
    * `inter / min(|A|,|B|) ≥ thNum/thDen` over the frozen df-cut gram
    * universe. Output: (`doc_a` = batch id, `doc_b` = corpus id,
    * `inter`, `n_a`, `n_b`, `containment`, `contained_id` — tie →
    * `doc_a`), the [[ngramContainmentPairs]] contract restricted to
    * cross pairs.
    *
    * Both probe directions run ([[ngramContainmentPairsPrefix]]'s
    * asymmetric theorem, applied per side): the batch doc's rarest-gram
    * PREFIX probes the corpus full-gram index (arrival quoted FROM the
    * corpus — batch side smaller), and the batch doc's FULL set probes
    * the corpus PREFIX index (corpus doc quoted INSIDE a bigger
    * arrival). Each direction is sound on its own smaller side, so their
    * union needs no size-role filter; candidates dedupe and verify
    * exactly with one sorted-array intersection per pair.
    *
    * Scale shape per batch: the batch's own gram pass + two equi-joins
    * whose corpus sides are PRE-MATERIALIZED tables pruned by the
    * batch's probe grams — the corpus text is never re-read, never
    * re-aggregated; exchange is Σ_g probe_df(g)·idx_df(g) over the
    * batch's grams only.
    *
    * Threshold coupling: `pfxIdx` physically encodes the prefix length
    * of the threshold the index was BUILT with — screening at a LOWER
    * threshold than the build's would need longer corpus prefixes than
    * were stored and can miss direction-2 pairs. Screen at the build
    * threshold (or rebuild the index when loosening it); the batch-side
    * prefix always uses this call's threshold and is unaffected.
    */
  def ngramContainmentAgainst(newDocs: DataFrame, idx: ContainmentIndex,
      textCol: String, idCol: String, n: Int = 3, thNum: Int = 4,
      thDen: Int = 5, maxDf: Int = 1000): DataFrame = {
    require(thNum > 0 && thDen >= thNum, "need 0 < thNum/thDen <= 1")
    val bArr = containmentBatchArrays(newDocs, idx.dfs, textCol, idCol,
        n, maxDf)
      .select(col("_id").as("_bid"), col("_ga").as("_bga"),
        col("_n").as("_bn"))
    val pfxLenB = (col("_bn") - floor((col("_bn") * thNum + (thDen - 1))
      / thDen).cast("int") + 1)
    val bPfx = bArr.select(col("_bid"),
      explode(slice(col("_bga"), lit(1), pfxLenB)).as("_g"))
    val bFull = bArr.select(col("_bid"), explode(col("_bga")).as("_g"))
    val cands = bPfx
      .join(idx.gramIdx.select(col("_g"), col("_id").as("_cid")), Seq("_g"))
      .select(col("_bid"), col("_cid"))
      .unionByName(
        bFull.join(idx.pfxIdx.select(col("_g"), col("_id").as("_cid")), Seq("_g"))
          .select(col("_bid"), col("_cid")))
      .groupBy(col("_bid"), col("_cid")).agg(count(lit(1)).as("_h"))
      .drop("_h")
    cands
      .join(bArr, Seq("_bid"))
      .join(idx.arrs.select(col("_id").as("_cid"), col("_ga").as("_cga"),
        col("_n").as("_cn")), Seq("_cid"))
      .select(col("_bid").as("doc_a"), col("_cid").as("doc_b"),
        size(array_intersect(col("_bga"), col("_cga"))).cast("long").as("inter"),
        col("_bn").cast("long").as("n_a"), col("_cn").cast("long").as("n_b"))
      .filter(col("inter") * thDen >= least(col("n_a"), col("n_b")) * thNum)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("n_a"), col("n_b"),
        (col("inter").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"),
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_id"))
  }

  /** CONTAINMENT-specific prefix-filtered join: identical output to
    * [[ngramContainmentPairs]] — every pair with
    * `inter / min(|A|,|B|) ≥ thNum/thDen` over the df-cut gram universe —
    * without the Σ df² per-shared-gram pair exchange.
    *
    * Containment needs its own prefix argument (Bayardo/Ma/Srikant WWW
    * 2007 §3.2's overlap generalization): the required overlap
    * `⌈t·min(|A|,|B|)⌉` depends only on the SMALLER side, so the Jaccard
    * join's symmetric prefix–prefix bucketing is unsound here — the
    * larger document's Jaccard prefix can exclude every shared gram (its
    * required overlap for some partner sizes is far below what the
    * Jaccard prefix assumes). Instead the join is ASYMMETRIC, the
    * probe–index shape of the prefix-filter literature: the smaller side
    * probes with its containment prefix — the rarest
    * `|S| − ⌈t·|S|⌉ + 1` grams, exactly the Jaccard prefix length, since
    * its own required overlap IS `⌈t·|S|⌉` — and the larger side is
    * indexed by its FULL filtered gram set. Soundness is one-sided: if a
    * qualifying pair shared no probe-prefix gram, every shared gram
    * would sit in S's suffix of size `⌈t·|S|⌉ − 1 < ⌈t·|S|⌉` —
    * contradiction. Candidates are then verified EXACTLY with one
    * sorted-array intersection per pair, as in
    * [[ngramJaccardPairsPrefix]].
    *
    * Scale shape: the candidate exchange is
    * Σ_g prefix_df(g) · full_df(g) — prefixes hold each document's
    * RAREST grams, so the buckets with large full_df have near-zero
    * prefix_df and stop-phrase grams never probe. The index side pays
    * Σ df (each doc's grams once), not Σ df². There is deliberately no
    * upper length filter: a tiny quote inside a huge document is exactly
    * what containment must find.
    */
  def ngramContainmentPairsPrefix(docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3, thNum: Int = 4, thDen: Int = 5,
      maxDf: Int = 1000): DataFrame = {
    require(thNum > 0 && thDen >= thNum, "need 0 < thNum/thDen <= 1")
    val docArr = prefixDocArrays(docs, textCol, idCol, n, maxDf)
    val pfxLen = (col("_n") - floor((col("_n") * thNum + (thDen - 1))
      / thDen).cast("int") + 1)
    val probe = docArr
      .select(col("_id").as("_pid"), col("_n").as("_np"),
        explode(slice(col("_ga"), lit(1), pfxLen)).as("_g"))
    val index = docArr
      .select(col("_id").as("_iid"), col("_n").as("_ni"),
        explode(col("_ga")).as("_g"))
    // role filter: the probe is the strictly-(size, id)-smaller side, so
    // each unordered pair is generated from exactly one direction (for
    // equal sizes either side satisfies the prefix theorem)
    val cands = probe.join(index, Seq("_g"))
      .filter(col("_np") < col("_ni") ||
        (col("_np") === col("_ni") && col("_pid") < col("_iid")))
      .groupBy(least(col("_pid"), col("_iid")).as("doc_a"),
        greatest(col("_pid"), col("_iid")).as("doc_b"))
      .agg(count(lit(1)).as("_hits"))
      .drop("_hits")
    cands
      .join(docArr.select(col("_id").as("doc_a"), col("_ga").as("_gaa"),
        col("_n").as("_sa")), Seq("doc_a"))
      .join(docArr.select(col("_id").as("doc_b"), col("_ga").as("_gab"),
        col("_n").as("_sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("_gaa"), col("_gab"))).cast("long").as("inter"),
        col("_sa").cast("long").as("n_a"), col("_sb").cast("long").as("n_b"))
      .filter(col("inter") * thDen >= least(col("n_a"), col("n_b")) * thNum)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("n_a"), col("n_b"),
        (col("inter").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"),
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_id"))
  }

  /** Cross-document EXACT substring duplicates of at least `minTokens`
    * tokens (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" §3 — the exact-substring pass their suffix array
    * computes globally over the concatenated corpus), in the bounded
    * screened form: winnowing fingerprints
    * ([[TextAnalysis.winnowFingerprints]], `k`-token grams, window
    * `w = minTokens − k + 1`) are a SOUND candidate screen — any shared
    * substring of ≥ k + w − 1 = minTokens tokens is GUARANTEED to share a
    * selected fingerprint at corresponding positions (Schleimer's coverage
    * guarantee; window contents inside the shared region are identical in
    * both documents, so the rightmost-min pick lands on the same gram) —
    * and every anchor pair is then verified by EXACT token comparison, so
    * the output EQUALS the ground truth a global suffix array would find:
    * one row per maximal cross-doc shared run (`doc_a` < `doc_b`,
    * `a_pos`/`b_pos` 1-based token starts, `match_len` ≥ minTokens).
    * Fingerprint hash collisions and sub-minimum overlaps only ever ADD
    * candidate anchors; extension measures the true run and the length
    * filter drops them — the screen affects cost, never the result (the
    * DuckDB oracle computes the same set from raw minTokens-gram equality
    * with no winnowing at all).
    *
    * Extension arithmetic: from an anchor (pa, pb), `fwd` = index of the
    * first mismatching token on the shared diagonal going right (array
    * ends stop the run), `bk` = the same going left; the maximal run is
    * (pa − bk, pb − bk, len = bk + fwd). Every anchor inside one maximal
    * run — and any anchor immediately right of it — extends to the SAME
    * tuple, so `distinct` collapses candidates to the maximal-run set.
    *
    * Scale shape: picks are ~2/(w+1) of the gram stream and the anchor
    * join is an 8-byte-hash equi-join (bucketed, never all-pairs);
    * extension carries the two token arrays per CANDIDATE pair only. The
    * quadratic hazard is one fingerprint shared by m documents (m²
    * anchors): the `maxAnchorDf` guard fails fast naming the boilerplate
    * strip (x84) instead of silently launching the blowup — a span THAT
    * corpus-frequent is boilerplate to remove, not duplication to
    * measure. (The guard is the [[Similarity]] `maxExactRows` discipline:
    * one bounded driver check, a 0-or-1-row collect.)
    */
  def exactSubstringDups(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 50, k: Int = 25,
      maxAnchorDf: Long = 256L): DataFrame = {
    require(k >= 1 && minTokens > k,
      "need 1 <= k < minTokens (window w = minTokens - k + 1 >= 2)")
    val w = minTokens - k + 1
    val spread = Par.spread(docs)
    val toks = spread.filter(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_t"))
    val picks = TextAnalysis.winnowFingerprints(spread, textCol, idCol, k, w)
    val hot = picks.groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") > maxAnchorDf)
      .limit(1).collect()
    require(hot.isEmpty,
      s"a winnow fingerprint is shared by ${if (hot.isEmpty) 0 else hot.head.getLong(1)}" +
        s" documents > maxAnchorDf=$maxAnchorDf - strip corpus-frequent" +
        " spans first (Dedup.boilerplateStrip, x84) or raise maxAnchorDf" +
        " to accept the quadratic anchor cost on that span.")
    val lhs = picks.select(col(idCol).as("_ida"), col("pos").as("_pa"), col("fp"))
    val rhs = picks.select(col(idCol).as("_idb"), col("pos").as("_pb"), col("fp"))
    val anchors = lhs.join(rhs, Seq("fp")).filter(col("_ida") < col("_idb"))
      .select(col("_ida"), col("_pa"), col("_idb"), col("_pb")).distinct()
    extendAnchors(anchors, toks, toks, idCol, minTokens)
  }

  /** Verify-and-maximize shared by the exact-substring family: attach both
    * sides' token arrays per CANDIDATE anchor, extend to the maximal equal
    * run on the anchor's diagonal (first-mismatch arithmetic both ways),
    * keep runs >= minTokens, collapse duplicate discoveries of one run.
    */
  private def extendAnchors(anchors: DataFrame, toksA: DataFrame,
      toksB: DataFrame, idCol: String, minTokens: Int): DataFrame = {
    val withT = anchors
      .join(toksA.select(col(idCol).as("_ida"), col("_t").as("_ta")), Seq("_ida"))
      .join(toksB.select(col(idCol).as("_idb"), col("_t").as("_tb")), Seq("_idb"))
    def tok(arr: Column, i: Column) = element_at(arr, i.cast("int"))
    val maxF = (least(size(col("_ta")) - col("_pa"),
      size(col("_tb")) - col("_pb")) + lit(1)).cast("long")
    val maxB = (least(col("_pa"), col("_pb")) - lit(1)).cast("long")
    // try_element_at: the filtered mismatch list is EMPTY when the run
    // reaches the array end — ANSI element_at would throw there
    val fwd = coalesce(
      try_element_at(filter(sequence(lit(0L), maxF - 1), t =>
        tok(col("_ta"), col("_pa") + t) =!= tok(col("_tb"), col("_pb") + t)),
        lit(1)),
      maxF)
    val bk = when(maxB < 1, lit(0L)).otherwise(coalesce(
      try_element_at(filter(sequence(lit(1L), maxB), t =>
        tok(col("_ta"), col("_pa") - t) =!= tok(col("_tb"), col("_pb") - t)),
        lit(1)) - 1,
      maxB))
    withT
      .withColumn("_fwd", fwd).withColumn("_bk", bk)
      .filter(col("_bk") + col("_fwd") >= minTokens)
      .select(col("_ida").as("doc_a"), col("_idb").as("doc_b"),
        (col("_pa") - col("_bk")).cast("long").as("a_pos"),
        (col("_pb") - col("_bk")).cast("long").as("b_pos"),
        (col("_bk") + col("_fwd")).cast("long").as("match_len"))
      .distinct()
  }

  /** The INCREMENTAL form of [[exactSubstringDups]] — an arriving batch
    * screened against a CORPUS (the x60/x92 maintained contract for the
    * exact-substring family): batch winnow picks anchor against the
    * corpus's pick table, extension verifies against the candidate corpus
    * documents' texts, output is every maximal batch↔corpus shared run —
    * (`doc_a` = the owning CORPUS doc, `doc_b` = the batch doc, `a_pos`,
    * `b_pos`, `match_len` >= minTokens). Within-batch duplication is
    * [[exactSubstringDups]]'s concern; id spaces must be disjoint.
    *
    * Scale shape: per-batch work is the batch's own fused winnow pass +
    * one 8-byte-fp equi-join against the maintained pick table + the
    * extension join, which touches only CANDIDATE documents' token
    * arrays (id-keyed equi-join; the anchor side is batch-bounded, AQE
    * broadcasts it, and a range-clustered corpus text table prunes files
    * under it — `util/Compaction.compact(sortCols)`). In a deployment the
    * pick table is maintained x60-style: seeded once, each batch appends
    * its OWN picks after screening — the corpus is never re-winnowed.
    * The same coverage guarantee applies: any batch↔corpus shared run of
    * >= k + w − 1 = minTokens tokens MUST share a pick, and extension
    * makes the output exact (the oracle computes it from raw gram
    * equality across the two sides).
    */
  def exactSubstringAgainst(newDocs: DataFrame, corpusDocs: DataFrame,
      textCol: String, idCol: String, minTokens: Int = 50, k: Int = 25,
      maxAnchorDf: Long = 256L): DataFrame = {
    require(k >= 1 && minTokens > k,
      "need 1 <= k < minTokens (window w = minTokens - k + 1 >= 2)")
    val cd = Par.spread(corpusDocs)
    val corpusPicks = TextAnalysis.winnowFingerprints(cd, textCol, idCol,
      k, minTokens - k + 1)
    exactSubstringAgainstPicks(newDocs, corpusPicks, cd, textCol, idCol,
      minTokens, k, maxAnchorDf)
  }

  /** [[exactSubstringAgainst]] with a PRE-BUILT corpus pick table — the
    * maintained deployment's entry point (the pick table is seeded once
    * and appended per batch; the corpus is never re-winnowed): anchors =
    * batch picks ⋈ table on the 8-byte fp, extension reads only the
    * candidate corpus documents' texts. `corpusPicks` columns:
    * (`idCol`, `pos`, `fp`) — [[TextAnalysis.winnowFingerprints]]'s
    * output at the SAME (k, w = minTokens − k + 1) the seed used.
    */
  def exactSubstringAgainstPicks(newDocs: DataFrame, corpusPicks: DataFrame,
      corpusDocs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 50, k: Int = 25,
      maxAnchorDf: Long = 256L): DataFrame = {
    require(k >= 1 && minTokens > k,
      "need 1 <= k < minTokens (window w = minTokens - k + 1 >= 2)")
    val w = minTokens - k + 1
    val nd = Par.spread(newDocs)
    val batchPicks = TextAnalysis.winnowFingerprints(nd, textCol, idCol, k, w)
    // guard only the fingerprints THIS batch touches (semi-join keeps the
    // check batch-bounded — a per-batch scan of the whole pick table would
    // break the per-batch ∝ batch contract); exactly those fps anchor this
    // batch's join, so the blowup the guard exists for is fully covered
    val touched = corpusPicks.join(batchPicks.select(col("fp")).distinct(),
      Seq("fp"), "left_semi")
    val hot = touched.groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") > maxAnchorDf)
      .limit(1).collect()
    require(hot.isEmpty,
      s"a corpus winnow fingerprint is shared by ${if (hot.isEmpty) 0 else hot.head.getLong(1)}" +
        s" documents > maxAnchorDf=$maxAnchorDf - strip corpus-frequent" +
        " spans first (Dedup.boilerplateStrip, x84) or raise maxAnchorDf" +
        " to accept the quadratic anchor cost on that span.")
    val anchors = corpusPicks
      .select(col(idCol).as("_ida"), col("pos").as("_pa"), col("fp"))
      .join(batchPicks
        .select(col(idCol).as("_idb"), col("pos").as("_pb"), col("fp")),
        Seq("fp"))
      .select(col("_ida"), col("_pa"), col("_idb"), col("_pb")).distinct()
    def toks(d: DataFrame) = d.filter(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_t"))
    extendAnchors(anchors, toks(corpusDocs), toks(nd), idCol, minTokens)
  }

  /** The REMOVAL step of exact-substring dedup (Lee et al. 2022 §3 keep
    * one occurrence, drop the rest): every [[exactSubstringDups]] run is
    * owned by its smaller-id document — the larger-id side's tokens in
    * `[b_pos, b_pos + match_len)` are removed, first-occurrence-wins like
    * the segment dedup (x53) but at EXACT maximal-run granularity instead
    * of fixed tiles. Per document: `n_tokens`, `n_removed`, and
    * `text_kept` — the surviving tokens in order, NULL when nothing
    * survives (the x53 output convention). Documents with NULL text are
    * excluded (they have no tokens to keep or remove).
    *
    * A document in a copy GROUP keeps its text only if it is the group's
    * smallest id: pair rows remove via `doc_b` only, and every non-minimal
    * member is `doc_b` of its pair with the minimum — no cluster pass
    * needed for the removal semantics.
    *
    * Scale shape: [[exactSubstringDups]]'s cost plus one doc-keyed join of
    * the corpus against the per-doc span lists (span rows = dup runs ≪
    * corpus; collect_list groups them doc-locally) and a pure per-row
    * kept-token HOF — no token-level explode, no extra corpus shuffle.
    */
  def exactSubstringStrip(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 50, k: Int = 25,
      maxAnchorDf: Long = 256L): DataFrame = {
    val spans = exactSubstringDups(docs, textCol, idCol, minTokens, k,
        maxAnchorDf)
      .select(col("doc_b").as(idCol),
        struct(col("b_pos").as("_p0"), col("match_len").as("_ln")).as("_s"))
      .groupBy(col(idCol)).agg(collect_list(col("_s")).as("_spans"))
    val kept = filter(
      transform(sequence(lit(1), size(col("_t"))),
        i => struct(i.as("_i"), element_at(col("_t"), i).as("_tok"))),
      x => !exists(col("_spans"),
        s => x("_i").cast("long") >= s("_p0") &&
          x("_i").cast("long") < s("_p0") + s("_ln")))
    Par.spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_t"))
      .join(spans, Seq(idCol), "left")
      .withColumn("_spans", coalesce(col("_spans"),
        array().cast("array<struct<_p0:long,_ln:long>>")))
      .withColumn("_kept", kept)
      .select(col(idCol),
        size(col("_t")).cast("long").as("n_tokens"),
        (size(col("_t")) - size(col("_kept"))).cast("long").as("n_removed"),
        when(size(col("_kept")) === 0, lit(null).cast("string"))
          .otherwise(concat_ws(" ",
            transform(col("_kept"), x => x("_tok")))).as("text_kept"))
  }
}
