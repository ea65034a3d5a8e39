package graft.ext

import scala.collection.mutable

import graft.functions.{Md5Slices, QualityScores}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, fingerprinting, token counting, quality scoring and a
  * stopword-based language-ID heuristic.
  *
  * Everything is a pure column expression (whole-stage codegen, no UDFs):
  * per-row cost is constant-per-byte and the operators compose with any
  * partitioning, so they scale linearly with data volume.
  */
object TextAnalysis {

  /** Canonical text form: lowercase, whitespace collapsed, trimmed. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Deterministic document fingerprint over the canonical form. */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Polynomial (Rabin-Karp) rolling hash over the token stream:
    * `h = fold((acc, v) => (acc·B + v) mod M)` with each token's value a
    * 32-bit md5 slice mod M. Order-sensitive (unlike [[fingerprint]] it
    * distinguishes permuted documents), incremental (a streamed suffix
    * extends the hash in O(1) per token), and engine-agnostic: the fold
    * equals `Σ vᵢ·B^(n-i) mod M`, which the DuckDB oracle reproduces with a
    * recursive power table. All intermediates stay < 2^40, clear of
    * overflow in either engine.
    */
  def rollingHash(text: Column, b: Long = 131, m: Long = (1L << 31) - 1): Column = {
    val vals = transform(tokens(text), t =>
      element_at(shim.column(Md5Slices(shim.expression(t), 1)), 1) % m)
    aggregate(vals, lit(0L), (acc, v) => (acc * b + v) % m)
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003): hash every
    * token `k`-gram (uint32 md5 slice), slide a window of `w` consecutive
    * gram hashes, and in each window select the minimum (rightmost on
    * ties — the paper's rule, which makes consecutive windows reuse the
    * same pick and bounds the fingerprint density to ~2/(w+1)). The
    * selected set is position-robust: any shared substring of at least
    * `k + w − 1` tokens between two documents is GUARANTEED to share a
    * fingerprint — the coverage guarantee MinHash sampling lacks — which
    * is why winnowing is the standard local fingerprinting for
    * plagiarism/overlap detection (MOSS). Docs shorter than one window
    * winnow their whole gram list.
    *
    * Output: one row per distinct selected (position, hash) —
    * (`idCol`, `pos` 1-based gram position, `fp`). Downstream, group on
    * `fp` like any digest key ([[Dedup.dupSpans]]' shape) to find
    * overlaps.
    *
    * Scale shape: pure per-row array arithmetic (one fused md5 pass per
    * gram, window argmin via HOFs) — map-only until the caller's
    * digest-keyed group; explode emits the selected ~2/(w+1) fraction of
    * grams, never the full gram stream.
    */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, k: Int = 3, w: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    require(k > 0 && w > 0, "need k, w > 0")
    // the gram hashing + window scan is the fused native
    // [[graft.functions.WinnowPicks]] (packed pos<<32|hash longs): the
    // interpreted per-window HOF chain it replaced measured 1.79 s vs
    // 0.51 s at sf0.1 (9.06 s vs 0.84 s at sf1), hash-identical output
    val picks = shim.column(graft.functions.WinnowPicks(
      shim.expression(normalize(col(textCol))), k, w))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(picks).as("_p"))
      .select(col(idCol),
        shiftright(col("_p"), 32).cast("int").as("pos"),
        col("_p").bitwiseAND(lit(0xffffffffL)).as("fp"))
  }

  /** First-owner winnowing fingerprint table: one row per distinct
    * selected hash — (`fp`, `idCol` = smallest owning doc). Seeded once
    * from the corpus and APPENDED per ingest batch, the [[winnowFingerprints]]
    * sibling of the segment-hash table (x60): the corpus is never
    * re-winnowed to screen a new batch.
    */
  def winnowTable(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k: Int = 3, w: Int = 4)
      : org.apache.spark.sql.DataFrame =
    winnowFingerprints(docs, textCol, idCol, k, w)
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))

  /** Batch overlap screening against a MAINTAINED [[winnowTable]]: per
    * batch document, its selected fingerprint count (`n_fps`, pick rows —
    * a hash selected at two positions counts twice), how many hit the
    * table (`n_shared`), and `shared_frac` (one IEEE division of exact
    * longs). Winnowing's guarantee makes the screen sound: any ≥ k+w−1
    * token overlap with the corpus MUST hit at least one table row.
    *
    * Scale shape: per-batch work is the batch's own fused winnow pass +
    * one fp-keyed equi-join against the table (8-byte keys) + a
    * doc-keyed re-aggregation — work ∝ batch, the [[graft.ext.Dedup
    * .segmentDedupAgainst]] contract.
    */
  def winnowOverlapAgainst(docs: org.apache.spark.sql.DataFrame,
      table: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k: Int = 3, w: Int = 4)
      : org.apache.spark.sql.DataFrame =
    winnowFingerprints(docs, textCol, idCol, k, w)
      .join(table.select(col("fp"), lit(true).as("_sh")), Seq("fp"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("_sh"), 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_fps"))

  /** Canonical token array (single-space split of the normalized text). */
  def tokens(text: Column): Column = split(normalize(text), " ")

  /** Whitespace token count on the raw text. */
  def whitespaceTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: letter runs, single digits, single symbols —
    * a cheap proxy for subword tokenizer output length.
    */
  val BpePattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"
  def bpeishTokenCount(text: Column): Column = regexp_count(text, lit(BpePattern))

  /** Word-boundary sentinel for [[bpeApply]]: merges never contain it, so
    * merges can never cross a word boundary. */
  val BpeBoundary = "\u0001"

  /** BPE tokenization of a corpus against a TRAINED merge table — the
    * apply step of byte-pair encoding (Sennrich et al., ACL 2016), the
    * pass a training-data pipeline runs over every byte it ships (x85
    * computes one training round's pair statistic; this replays the
    * learned ranks). Semantics, mirrored 1:1 by the DuckDB oracle:
    *
    *  1. [[normalize]] the text; word boundaries become the [[BpeBoundary]]
    *     sentinel token (merges never cross words);
    *  2. every character becomes one token (`" c1 c2 … "`, space-joined);
    *  3. each merge `(left, right)` in RANK order runs one LEFTMOST-GREEDY
    *     pass over the token sequence: every adjacent `(left, right)` pair
    *     becomes the concatenation and the scan resumes after the merged
    *     token, so runs pair from the left (`a a a a` → `aa aa`, not the
    *     `aa a a` a non-overlapping string replace would give)
    *     ([[graft.functions.BpeMerge]] — one fused codegen'd expression,
    *     not a merges-deep column tree; the DuckDB oracle reproduces the
    *     greedy pass exactly via the doubled-delimiter replace chain
    *     documented there).
    *
    * Output: (`idCol`, `n_tokens` = final subword count excluding
    * boundary sentinels, `bpe_tokens` = the space-joined final token
    * string). Scale shape: MAP-ONLY — the merge table is collected once
    * on the driver (vocab state, bounded by `maxMerges`; production BPE
    * vocabularies are 30-50k merges) and rides the expression as a
    * broadcast-by-value reference; per-row work is O(merges × tokens).
    * [[graft.util.Par.spread]] lifts a few-split input to full
    * parallelism (a no-op at scale, where splits ≥ cores — measured:
    * unspread, sf0.1's single-split documents ran the whole pass on one
    * task, slower than 10× the data on 32).
    */
  def bpeApply(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, merges: org.apache.spark.sql.DataFrame,
      maxMerges: Int = 65536): org.apache.spark.sql.DataFrame = {
    val rows = merges
      .select(col("rank").cast("long").as("rank"),
        col("left").cast("string").as("left"),
        col("right").cast("string").as("right"))
      .orderBy(col("rank").asc).limit(maxMerges + 1).collect()
    require(rows.length <= maxMerges,
      s"merge table exceeds maxMerges=$maxMerges — raise the bound " +
        "explicitly if the vocabulary is genuinely that large")
    require(rows.map(_.getLong(0)).distinct.length == rows.length,
      "merge ranks must be unique (rank order IS the apply order)")
    val pairs = rows.toSeq.map(r => (r.getString(1), r.getString(2)))
    pairs.foreach { case (l, r) =>
      require(l.nonEmpty && r.nonEmpty &&
        !(l + r).contains(" ") && !(l + r).contains(BpeBoundary),
        s"merge tokens must be non-empty and free of space/boundary: ($l, $r)") }
    // " c1 c2 … cn " — every char one token, boundaries sentinel tokens
    val spreadTokens = concat(lit(" "), regexp_replace(
      translate(normalize(col(textCol)), " ", BpeBoundary), "(.)", "$1 "))
    // boundary enables BpeMerge's per-word factorization + cache: the
    // merge loop runs once per DISTINCT word per task, not per
    // occurrence (validated above: no merge token contains the
    // boundary, so the factorization is exact)
    val merged = trim(shim.column(graft.functions.BpeMerge(
      shim.expression(spreadTokens), pairs, BpeBoundary)))
    graft.util.Par.spread(docs).select(col(idCol),
      size(filter(split(merged, " "),
        t => t =!= lit(BpeBoundary) && t =!= lit("")))
        .cast("long").as("n_tokens"),
      merged.as("bpe_tokens"))
  }

  /** BPE merge-table TRAINING (Sennrich et al., ACL 2016 — `learn_bpe`):
    * the step that produces the table [[bpeApply]] replays. Completes the
    * repo's BPE story: x85 measures one round's pair statistic, this
    * learns the full rank-ordered table, x148 applies it, x150 lays out
    * by its token counts.
    *
    * Semantics (mirrored 1:1 by the DuckDB oracle):
    *
    *  1. [[normalize]] the corpus, split on spaces, count word
    *     frequencies — merges never cross word boundaries, so training
    *     state is the word-frequency table, NOT the corpus (exactly how
    *     reference trainers work: Sennrich's `learn_bpe` iterates a
    *     `Counter` of words);
    *  2. keep the `topWords` most frequent words (frequency desc, word
    *     asc — a total order, so the cut is deterministic). The tail's
    *     pair mass is negligible by construction (each dropped word
    *     contributes < the kept minimum);
    *  3. each word starts as its character sequence; `nMerges` times:
    *     count every ADJACENT token pair position weighted by word
    *     frequency (the canonical overlap-counting `get_stats` — a run
    *     `a a a` contributes (a,a) twice), pick the max (count desc,
    *     then lhs asc, rhs asc BY CODE POINT — Sennrich breaks ties
    *     arbitrarily; both engines here must agree, and code-point
    *     order IS UTF-8 byte order, the oracle's binary collation —
    *     Java's UTF-16 `compareTo` would diverge on supplementary vs
    *     U+E000..U+FFFF ties), merge it LEFTMOST-GREEDILY into every
    *     word (same pass as [[graft.functions.BpeMerge]]), stop early if
    *     no pair remains. (The `topWords` cut's word-asc leg needs no
    *     such care: Spark's string ordering compares UTF8String bytes —
    *     already code-point order, same as the oracle.)
    *
    * Output: (`rank`, `lhs`, `rhs`, `pair_count`) — feed straight into
    * [[bpeApply]] as (rank, left, right).
    *
    * Scale shape: the corpus-scale leg is ONE word-count shuffle (plus
    * the `topWords` cut); the merge loop runs on the collected
    * word-frequency table — bounded VOCAB state (topWords × avg word
    * length chars), the same adjudicated class as [[bpeApply]]'s
    * merge-table collect. At 100 TB the word count is a
    * map-side-combined aggregation over the scan, the loop cost is
    * unchanged (it never touches the corpus again).
    *
    * The loop itself runs at PRODUCTION settings (30–50k merges over a
    * 65k vocab, priced in BASELINE.md, "BPE training at production
    * settings"): Sennrich's incremental structures, not a per-round
    * recount —
    *
    *  - `stats`: current weighted count per adjacent pair;
    *  - `indices`: pair → (word → #positions), so a merge touches ONLY
    *    the words actually containing the winning pair (re-deriving
    *    their pair multisets before/after the merge), never the vocab;
    *  - argmax via a lazy-deletion max-heap ordered by the engine
    *    tie-break: every count change pushes a fresh entry, pops
    *    discard entries whose count no longer matches `stats` — the
    *    current version of every live pair is always present, so the
    *    popped top IS the `get_stats` argmax without an O(|pairs|)
    *    scan per round.
    *
    * Net: O(total tokens) init, then per merge O(affected-word tokens ·
    * log heap) — the naive O(nMerges × vocab-tokens) recount is what
    * made 30k-merge training driver-minutes; this is seconds.
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int, topWords: Int = 65536)
      : org.apache.spark.sql.DataFrame = {
    require(nMerges > 0 && topWords > 0, "need nMerges > 0 and topWords > 0")
    val spark = docs.sparkSession
    val wf = graft.util.Par.spread(docs)
      .select(explode(split(normalize(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(topWords)
      .collect()
    // vocab state: word as token array + its corpus frequency. Split by
    // CODE POINT (not UTF-16 unit) — the regex '(.)' spread in bpeApply
    // and the oracle both treat a supplementary character as one token
    val vocab: Array[Array[String]] =
      wf.map(r => r.getString(0).codePoints().toArray
        .map(cp => new String(Character.toChars(cp))))
    val freqs: Array[Long] = wf.map(_.getLong(1))
    val stats = mutable.HashMap.empty[(String, String), Long]
    val indices =
      mutable.HashMap.empty[(String, String), mutable.HashMap[Int, Int]]
    var idx = 0
    while (idx < vocab.length) {
      val toks = vocab(idx); val f = freqs(idx)
      var i = 0
      while (i < toks.length - 1) {
        val p = (toks(i), toks(i + 1))
        stats.update(p, stats.getOrElse(p, 0L) + f)
        val m = indices.getOrElseUpdate(p, mutable.HashMap.empty)
        m.update(idx, m.getOrElse(idx, 0) + 1)
        i += 1
      }
      idx += 1
    }
    // max-heap: count desc, then lhs/rhs asc by CODE POINT (bigger
    // priority = higher count or code-point-smaller pair)
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String),
          y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val l = codePointCompare(y._2, x._2)
          if (l != 0) l else codePointCompare(y._3, x._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    stats.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var rank = 0L
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      // lazy deletion: discard entries whose count is no longer current
      var top: (Long, String, String) = null
      while (top == null && heap.nonEmpty) {
        val e = heap.dequeue()
        if (e._1 > 0L && stats.getOrElse((e._2, e._3), 0L) == e._1)
          top = e
      }
      if (top == null) exhausted = true
      else {
        val (c, l, r) = top
        merges += ((rank, l, r, c))
        val pair = (l, r)
        val affected =
          indices.getOrElse(pair, mutable.HashMap.empty).keysIterator.toArray
        val changed = mutable.HashSet.empty[(String, String)]
        affected.foreach { w =>
          val toks = vocab(w); val f = freqs(w)
          var i = 0
          while (i < toks.length - 1) {
            val p = (toks(i), toks(i + 1))
            stats.update(p, stats(p) - f)
            val m = indices(p)
            val n = m(w) - 1
            if (n == 0) m.remove(w) else m.update(w, n)
            changed += p
            i += 1
          }
          val nt = greedyMerge(toks, l, r)
          vocab(w) = nt
          i = 0
          while (i < nt.length - 1) {
            val p = (nt(i), nt(i + 1))
            stats.update(p, stats.getOrElse(p, 0L) + f)
            val m = indices.getOrElseUpdate(p, mutable.HashMap.empty)
            m.update(w, m.getOrElse(w, 0) + 1)
            changed += p
            i += 1
          }
        }
        changed.foreach { p =>
          val c2 = stats.getOrElse(p, 0L)
          if (c2 <= 0L) { stats.remove(p); indices.remove(p) }
          else heap.enqueue((c2, p._1, p._2))
        }
        rank += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** Lexicographic comparison by Unicode CODE POINT — identical to
    * comparing the two strings' UTF-8 bytes, i.e. the oracle engine's
    * binary collation and Spark's own UTF8String ordering. Java's
    * `String.compareTo` compares UTF-16 code UNITS instead, which
    * disagrees exactly when a supplementary code point (surrogate pair,
    * units 0xD800–0xDFFF) meets a char in U+E000–U+FFFF. */
  private[graft] def codePointCompare(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(a.length, b.length)
  }

  /** One leftmost-greedy merge pass over a token array — the scan
    * [[graft.functions.BpeMerge]] runs per row, here on driver-side vocab
    * state: each adjacent (l, r) becomes l+r and the scan resumes AFTER
    * the merged token, so runs pair from the left. */
  private def greedyMerge(toks: Array[String], l: String, r: String)
      : Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == l && toks(i + 1) == r) {
        out += l + r; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toArray
  }

  /** Context-window chunking: overlapping token windows of `chunkTokens`
    * tokens starting every `chunkTokens - overlap` tokens — the
    * training/RAG window splitter. The final window clamps to the document
    * tail and a document shorter than one window yields itself whole. Pure
    * per-row expression (one array pass, no explode needed until the caller
    * chooses to), so chunking composes with any partitioning and scales
    * linearly with corpus bytes.
    *
    * An empty/whitespace-only document tokenizes to `[""]`, so by the
    * yields-itself-whole rule it produces one empty-string chunk;
    * `dropEmpty = true` yields zero chunks for it instead — the right
    * setting when the chunks feed training directly and an empty window is
    * noise rather than a record of the document's existence.
    */
  def chunks(text: Column, chunkTokens: Int, overlap: Int = 0,
      dropEmpty: Boolean = false): Column = {
    require(overlap >= 0 && chunkTokens > overlap,
      "need 0 <= overlap < chunkTokens")
    val toks = tokens(text)
    val windows = transform(
      sequence(lit(1), greatest(size(toks) - overlap, lit(1)),
        lit(chunkTokens - overlap)),
      st => concat_ws(" ", slice(toks, st, lit(chunkTokens))))
    if (dropEmpty)
      when(size(toks) === 1 && element_at(toks, 1) === "",
        array().cast("array<string>")).otherwise(windows)
    else windows
  }

  /** Count of tokens contained in `set`. */
  def stopwordHits(toks: Column, set: Seq[String]): Column =
    size(filter(toks, t => t.isin(set: _*)))

  /** Stopword lists used by the language-ID heuristic (order = tie-break
    * preference).
    */
  val StopwordSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "mit"),
    "fr" -> Seq("le", "les", "des", "et", "un", "une", "du", "est"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"))

  /** N-gram/stopword language ID: argmax of per-language stopword hits,
    * ties broken in [[StopwordSets]] order, all-zero → "unknown".
    */
  def langId(text: Column): Column = langIdOfToks(tokens(text))

  /** [[langId]] over an already-tokenized array — the shared core, and the
    * entry point for scoring document SLICES ([[codeSwitchFlag]]).
    */
  def langIdOfToks(toks: Column): Column = {
    val scores = StopwordSets.map { case (lang, set) => lang -> stopwordHits(toks, set) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(best === 0, "unknown")) { case (acc, (lang, s)) =>
      acc.when(s === best, lang)
    }.otherwise("unknown")
  }

  /** Code-switching / mixed-language detection: [[langId]] over each half
    * of the token stream independently; `mixed` flags documents whose
    * halves get CONFIDENT (non-"unknown") but DIFFERENT predictions — the
    * cheap two-window form of the sliding-window language-consistency
    * check corpus pipelines run after whole-document language ID, which
    * averages away a concatenated bilingual page. Head half takes the
    * extra token on odd lengths.
    *
    * Output: (`idCol`, `lang_head`, `lang_tail`, `mixed`); NULL text rows
    * are dropped. Pure per-row column arithmetic — map-only, zero
    * shuffles, same scale shape as [[langId]].
    */
  def codeSwitchFlag(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val headLen = ((size(col("_t")) + 1) / 2).cast("int")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .select(col(idCol),
        langIdOfToks(slice(col("_t"), lit(1), headLen)).as("lang_head"),
        langIdOfToks(slice(col("_t"), headLen + 1,
          size(col("_t")) - headLen)).as("lang_tail"))
      .withColumn("mixed",
        col("lang_head") =!= "unknown" && col("lang_tail") =!= "unknown" &&
          col("lang_head") =!= col("lang_tail"))
  }

  /** Hashing-trick linear classifier scoring (the fastText/linear-probe
    * quality-model shape, Weinberger et al. 2009): each unigram hashes
    * straight to its weight — no vocabulary table, no join, no explode —
    * and the document's score is the mean token weight plus a bias. The
    * weights here are a deterministic stand-in (token's 32-bit md5 slice,
    * uniform on [-0.5, 0.5) after centering) for trained ones, the same
    * contract as [[Multimodal]]'s stubbed codec: the SHAPE — per-row
    * array fold, zero shuffles, codegen'd, O(tokens) — is the real,
    * tested artifact, and a trained model drops in by replacing the
    * weight expression.
    *
    * Bit-stability: the fold accumulates the raw integer slices (exact
    * BIGINT sum, order-independent) and divides ONCE at the end —
    * `score = bias + (Σslice/n)/2³² − 0.5` — deliberately not a
    * per-token float sum, whose accumulation order would differ across
    * engines.
    *
    * The accumulator is the fused native
    * [[graft.functions.HashedLinearSum]] — one straight-line codegen'd
    * pass over the canonical bytes, no token array, no interpreted
    * higher-order lambdas (the `aggregate(transform(split(...)))`
    * formulation it replaced evaluates per-element lambdas outside
    * whole-stage codegen).
    */
  def hashedLinearScore(text: Column, salt: String = "clf",
      bias: Double = 0.0): Column = {
    val acc = shim.column(graft.functions.HashedLinearSum(
      shim.expression(normalize(text)), salt))
    lit(bias) +
      (acc.getItem(0).cast("double") / acc.getItem(1)) / 4294967296.0 - 0.5
  }

  /** PII-pattern scan counts (emails, phone-ish numbers, IPv4) — the
    * filter/redaction signal of a training-data pipeline. Pure
    * `regexp_count`, so the scan is codegen'd and embarrassingly parallel.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9()\\- ]{6,14}[0-9]"
  val Ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(EmailPattern)),
    "n_phones" -> regexp_count(text, lit(PhonePattern)),
    "n_ipv4" -> regexp_count(text, lit(Ipv4Pattern)))

  /** PII redaction: every match of the scan patterns replaced with a typed
    * placeholder, applied in a fixed order (emails, then phone-ish numbers,
    * then IPv4) so the output is deterministic. Same codegen'd
    * `regexp_replace` chain shape as the scan — map-only at any scale.
    */
  def redactPii(text: Column): Column =
    Seq(EmailPattern -> "[EMAIL]", PhonePattern -> "[PHONE]", Ipv4Pattern -> "[IP]")
      .foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** The full quality-signal bundle — `struct(n_chars_norm, n_tokens,
    * punct_ratio, stopword_ratio, avg_token_len)` — as ONE fused codegen'd
    * pass over the raw text ([[graft.functions.QualityScores]]).
    * Field-by-field identical to composing [[normalize]]/[[tokens]]/
    * [[punctRatioOfNorm]]/[[stopwordHits]]/[[avgTokenLenOfToks]], but with
    * none of the interpreted higher-order lambdas and no materialized token
    * array: the hot path of a corpus-wide quality filter should use this.
    */
  def qualityScores(text: Column,
      stopwords: Seq[String] = StopwordSets.head._2): Column =
    shim.column(QualityScores(shim.expression(text), stopwords))

  /** Token-repetition signal: distinct tokens / total tokens (1.0 = no
    * repetition; low values flag boilerplate/spam).
    */
  def distinctTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    size(array_distinct(toks)).cast("double") / size(toks)
  }

  /** Ratio of non-alphanumeric, non-space characters in the canonical form. */
  def punctRatio(text: Column): Column = punctRatioOfNorm(normalize(text))

  /** [[punctRatio]] over an already-normalized column. The split exists
    * because the higher-order-function operators in this file evaluate
    * interpreted (outside whole-stage codegen's subexpression elimination),
    * so a query combining several signals should materialize [[normalize]]/
    * [[tokens]] ONCE in a prior projection and feed the `OfNorm`/`OfToks`
    * variants — otherwise every signal re-runs the regex normalization and
    * split per row.
    */
  def punctRatioOfNorm(n: Column): Column =
    when(length(n) === 0, lit(0.0))
      .otherwise((length(n) - length(regexp_replace(n, "[^a-z0-9 ]", ""))) / length(n))

  /** Mean token length (exact integer sum / count, then one double divide). */
  def avgTokenLen(text: Column): Column = avgTokenLenOfToks(tokens(text))

  /** [[avgTokenLen]] over a precomputed token array (see [[punctRatioOfNorm]]). */
  def avgTokenLenOfToks(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t)) / size(toks)
}
