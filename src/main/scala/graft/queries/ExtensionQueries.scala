package graft.queries

import graft.ext.{Blocklist, Corpus, Dedup, Multimodal, Privacy, Similarity, TextAnalysis}
import graft.util.{Caching, Maintained, Tables}
import org.apache.spark.sql.functions._

/** Training-data pipeline extension operators (SURVEY §7.5), each exercising
  * the `graft.ext` modules over `documents`/`embeddings`, each with a DuckDB
  * oracle mirroring the exact arithmetic (md5-keyed hashes, sequential
  * double folds) so results compare bit-for-bit.
  */
object ExtensionQueries {

  /** DuckDB mirror of TextAnalysis.normalize. */
  private def normSql(c: String) = s"trim(regexp_replace(lower($c), '\\s+', ' ', 'g'))"

  private val highNibbles = "('8','9','a','b','c','d','e','f')"

  /** x148 fixture: a trained merge table replayed in RANK order by both
    * engines. Exercises chained ranks (t+h then th+e; e+r then er+g; a+l
    * then v+al), rank competition (rank 2's (a,l) consumes "small"'s a·l
    * before rank 4's (l,l) can pair — apply order IS rank order), and
    * same-char pairs, which pair leftmost-greedily within runs.
    */
  private val BpeFixture: Seq[(Long, String, String)] = Seq(
    (0L, "t", "h"), (1L, "th", "e"), (2L, "a", "l"), (3L, "v", "al"),
    (4L, "l", "l"), (5L, "g", "g"), (6L, "e", "r"), (7L, "er", "g"),
    (8L, "s", "c"), (9L, "a", "a"))

  /** Shared build for x157/x158: z-order shard the events, index user_id
    * per shard, probe five keys (1,7,42,123 present at every sf;
    * 10000000 absent by construction). */
  private def BloomIndexParts(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val e = Tables(s, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val z = Corpus.zorderLayout(e, "event_id", "user_id", "ts_us",
      bits = 16, nShards = 64, keepCols = Seq("user_id"))
    Corpus.bloomShardIndex(z, "shard", "user_id",
      probeKeys = Seq(1L, 7L, 42L, 123L, 10000000L))
  }

  /** Shared build for x161/x162: publish the z-ordered events table
    * shard-partitioned WITH its stats + bloom manifests (one atomic
    * swap, [[graft.util.Scan.writeSharded]]), and return the table path
    * plus the deterministic mid-~10% predicate bounds on each dimension
    * (the selectivity of BASELINE.md, "Round 13 — ZorderProbe", integer
    * arithmetic mirrored exactly by the oracle). Idempotent: both
    * queries rebuild the same bytes, so their order never matters.
    */
  private def PrunedTableBuild(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, (Long, Long), (Long, Long)) = {
    val table =
      s"target/scan/${new java.io.File(dir).getName}/events_z"
    val e = Tables(s, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val laid = Corpus.zorderLayout(e, "event_id", "user_id", "ts_us",
      bits = 16, nShards = 64,
      keepCols = Seq("user_id", "ts_us", "event_type"))
      .drop("cell_x", "cell_y")
    graft.util.Scan.writeSharded(s, laid, table,
      statCols = Seq("user_id", "ts_us"), sortCol = Some("zvalue"),
      bloomKeyCol = Some("user_id"), zTotalBits = Some(32),
      nShards = Some(64))
    val b = e.agg(min(col("user_id")), max(col("user_id")),
      min(col("ts_us")), max(col("ts_us"))).head()
    def mid(lo: Long, hi: Long): (Long, Long) =
      (lo + (hi - lo) * 45 / 100, lo + (hi - lo) * 55 / 100)
    (table, mid(b.getLong(0), b.getLong(1)), mid(b.getLong(2), b.getLong(3)))
  }

  /** Shared build for x165/x166/x168: publish the documents corpus laid
    * out on a STRING dimension (`lang`, dictionary-ranked into the curve)
    * × `n_chars`, with native-typed stats (string min/max envelopes) and
    * a STRING-keyed bloom sidecar — the predicate surface real curation
    * scans carry (language/source equality, length ranges). Also returns
    * the deterministic probe value: the lexicographically-MEDIAN
    * language (rank ⌊(n−1)/2⌋ of the dict — a dict-NDV-bounded driver
    * read, the same class as candidate enumeration). Idempotent: every
    * caller rebuilds the same bytes.
    */
  private def StringPrunedTableBuild(s: org.apache.spark.sql.SparkSession,
      dir: String, suffix: String = ""): (String, String) = {
    val table =
      s"target/scan/${new java.io.File(dir).getName}/documents_z$suffix"
    val d = Tables(s, dir, "documents")
    // ONE dict computation per build: persisted and shared by the
    // layout, the sidecar write, and the median-language probe — the
    // three consumers otherwise each re-execute the dict's
    // distinct+rank lineage over the documents table (the bench
    // harness clearCache()s between queries; a library caller
    // composing this build should release it likewise — the x47
    // caller contract)
    val dict = Corpus.stringDimDict(d, "lang").persist()
    val laid = Corpus.zorderLayoutN(d, "doc_id", Seq("lang", "n_chars"),
      bits = 8, nShards = 32,
      keepCols = Seq("lang", "source", "n_chars"),
      knownDicts = Map("lang" -> dict))
      .drop("cell_lang", "cell_n_chars")
    graft.util.Scan.writeSharded(s, laid, table,
      statCols = Seq("lang", "n_chars"), sortCol = Some("zvalue"),
      bloomKeyCol = Some("lang"), bloomM = 1024, bloomK = 3,
      zTotalBits = Some(16), nShards = Some(32),
      dicts = Map("lang" -> dict))
    val medianLang = dict
      .join(dict.agg(((max(col("rank")) + 0L) / 2).cast("long")
        .as("rank")), Seq("rank"))
      .head().getAs[String]("value")
    (table, medianLang)
  }

  val all: Map[String, Q] = Map(
    // exact dedup: one survivor per distinct text (min doc_id), digest-keyed
    "x1_dedup_exact" -> ((s, dir) => {
      Dedup.exact(Tables(s, dir, "documents"), "text", "doc_id").orderBy("doc_id")
    }),

    // MinHash signatures (k=8 over 5-char shingles of the canonical text)
    "x2_minhash_sig" -> ((s, dir) => {
      Dedup.minhashSignatures(Tables(s, dir, "documents"), "text", "doc_id",
        k = 8, shingleLen = 5).orderBy("doc_id")
    }),

    // MinHash + LSH banding (4 bands × 4 rows, 7-char shingles) +
    // exact-Jaccard verify ≥ 0.8. r=4 keeps the per-band collision
    // probability at sim⁴ — with short bands (r=2) ordinary same-language
    // documents collide constantly and the verify join explodes.
    "x3_minhash_lsh_neardup" -> ((s, dir) => {
      Dedup.minhashNearDups(Tables(s, dir, "documents"), "text", "doc_id",
        k = 16, bands = 4, shingleLen = 7, thNum = 4, thDen = 5)
        .orderBy("doc_a", "doc_b")
    }),

    // incremental near-dup: new batch (doc_id % 7 == 0) vs existing corpus
    // — per-delta bucket join against the corpus-side signature table, the
    // daily-ingest shape (work ∝ delta collisions, never corpus²)
    "x36_neardup_incremental" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      Dedup.minhashNearDupsAgainst(
        d.filter(col("doc_id") % 7 === 0), d.filter(col("doc_id") % 7 =!= 0),
        "text", "doc_id", k = 16, bands = 4, shingleLen = 7, thNum = 4, thDen = 5)
        .orderBy("doc_a", "doc_b")
    }),

    // x36's production contract: the corpus side read from a MAINTAINED
    // signature table (built once, appended at ingest — here disk-memoized
    // per sf dir) instead of re-signaturing the corpus text per batch.
    // Result set identical to x36; timed cost is delta-only.
    "x41_neardup_incr_sigtable" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 7 =!= 0)
      val sigs = Maintained.table(s, s"$dir/documents.parquet",
        "minhash_sigs_mod7_k16_s7") {
        Dedup.minhashSignatures(corpus, "text", "doc_id", k = 16, shingleLen = 7)
      }
      Dedup.minhashNearDupsAgainstSigs(
        d.filter(col("doc_id") % 7 === 0), sigs, corpus,
        "text", "doc_id", k = 16, bands = 4, shingleLen = 7, thNum = 4, thDen = 5)
        .orderBy("doc_a", "doc_b")
    }),

    // split routing at ingest: the batch (every 7th doc) inherits split
    // keys from corpus near-dup clusters via the SAME maintained sig
    // table as x41, plus a maintained corpus split-key table; batch-
    // internal clusters close locally
    "x102_split_route_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 7 =!= 0)
      val sigs = Maintained.table(s, s"$dir/documents.parquet",
        "minhash_sigs_mod7_k16_s7") {
        Dedup.minhashSignatures(corpus, "text", "doc_id", k = 16, shingleLen = 7)
      }
      val corpusKeys = Maintained.table(s, s"$dir/documents.parquet",
        "split_keys_mod7_k16_s7") {
        val pairs = Dedup.minhashNearDups(corpus, "text", "doc_id", k = 16,
          bands = 4, shingleLen = 7, thNum = 4, thDen = 5)
          .select(col("doc_a"), col("doc_b"))
        corpus.select(col("doc_id"))
          .join(Dedup.dupClusters(pairs).withColumnRenamed("member_id", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("canonical_id"), col("doc_id")).as("split_key"))
      }
      Corpus.splitRouteAgainst(
        d.filter(col("doc_id") % 7 === 0).select(col("doc_id"), col("text")),
        sigs, corpus, corpusKeys, "text", "doc_id",
        valFrac = 0.1, testFrac = 0.1,
        k = 16, bands = 4, shingleLen = 7, thNum = 4, thDen = 5)
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy("doc_id")
    }),

    // OFFLINE split-key re-closure — the bridging repair x102's
    // `bridging = true` rows point at: keys re-derived from the
    // MAINTAINED union signature table (corpus sigs ∪ routed batches'
    // sigs; text only re-shingled for candidate-pair members) and closed
    // TRANSITIVELY across loads. Result ≡ leakageSafeSplit over the whole
    // corpus, so after the atomic keys rewrite no verified near-dup pair
    // straddles train/val/test — including bridged clusters (spec-proved)
    "x142_reclose_split" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val sigs = Dedup.minhashSignatures(d.filter(col("doc_id") % 7 =!= 0),
          "text", "doc_id", k = 16, shingleLen = 7)
        .unionByName(Dedup.minhashSignatures(
          d.filter(col("doc_id") % 7 === 0), "text", "doc_id",
          k = 16, shingleLen = 7))
      Corpus.recloseSplitKeys(d, sigs, "text", "doc_id",
        valFrac = 0.1, testFrac = 0.1, k = 16, bands = 4, shingleLen = 7,
        thNum = 4, thDen = 5)
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy("doc_id")
    }),

    // Video release gate + frame-sample PLAN from PARSED container
    // metadata (x141's box walk made load-bearing): keep clips ≥ 0.2 s
    // with ≥ 2 tracks; for kept clips plan a 30 fps-proxy frame count and
    // an every-2nd-frame sample budget — all exact integer arithmetic
    // over mvhd fields. The 100 TB point: duration/track gating and
    // sample budgeting run on METADATA (bytes never decoded, payloads
    // never shuffled) — frame decode happens downstream only for clips
    // that survive, on the n_sampled budget planned here
    "x145_video_gate" -> ((s, dir) => {
      val meta = Multimodal.mp4MetaTable(
        Multimodal.deriveMp4MediaTable(Tables(s, dir, "documents"), "doc_id"))
      meta
        .withColumn("kept",
          col("duration") * 5 >= col("timescale") && col("n_tracks") >= 2)
        .withColumn("n_frames",
          when(col("kept"), expr("(duration * 30) div timescale"))
            .otherwise(lit(0L)))
        .withColumn("n_sampled", expr("(n_frames + 1) div 2"))
        .select(col("media_id"), col("duration"), col("n_tracks"),
          col("kept"), col("n_frames"), col("n_sampled"))
        .orderBy("media_id")
    }),

    // SimHash fingerprint (48-bit, md5-nibble votes over token occurrences)
    "x4_simhash" -> ((s, dir) => {
      Dedup.simhash(Tables(s, dir, "documents"), "text", "doc_id", bits = 48)
        .orderBy("doc_id")
    }),

    // SimHash near-dups: 4-band LSH over Hamming space, exact popcount ≤ 3
    "x21_simhash_neardup" -> ((s, dir) => {
      Dedup.simhashNearDups(Tables(s, dir, "documents"), "text", "doc_id",
        bits = 48, bands = 4, maxHam = 3).orderBy("doc_a", "doc_b")
    }),

    // duplicate-cluster resolution: connected components over the x21
    // SimHash pair set via iterative min-label propagation; one canonical
    // (smallest) id per component
    "x29_dedup_clusters" -> ((s, dir) => {
      Dedup.dupClusters(Dedup.simhashNearDups(Tables(s, dir, "documents"),
        "text", "doc_id", bits = 48, bands = 4, maxHam = 3))
        .orderBy("canonical_id", "member_id")
    }),

    // deterministic stratified sample: ≤50 docs per language by stable
    // md5-of-id order
    "x30_stratified_sample" -> ((s, dir) => {
      Corpus.stratifiedSample(Tables(s, dir, "documents"), "lang", "doc_id", 50)
        .orderBy("doc_id")
    }),

    // exact top-10 terms per language (vocabulary inspection pass)
    "x31_topk_terms" -> ((s, dir) => {
      Corpus.topTermsPerStratum(Tables(s, dir, "documents"), "lang", "text", 10)
        .orderBy("lang", "rank")
    }),

    // per-language embedding centroid (decimal-exact elementwise means)
    "x35_strata_centroids" -> ((s, dir) => {
      Corpus.strataCentroids(Tables(s, dir, "documents"), "lang", "doc_id",
        Tables(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("lang", "pos")
    }),

    // word-3-gram Jaccard near-dups ≥ 0.6 (integer-exact threshold)
    "x5_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables(s, dir, "documents"), "text", "doc_id",
        n = 3, thNum = 3, thDen = 5).orderBy("doc_a", "doc_b")
    }),

    // brute-force cosine top-5 per vector (exact ANN baseline)
    "x6_cosine_topk" -> ((s, dir) => {
      Similarity.bruteForceTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed ANN (8 deterministic hyperplanes → rank within bucket)
    "x7_ann_lsh" -> ((s, dir) => {
      Similarity.lshTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, nPlanes = 8, dims = 64).orderBy("query_id", "rank")
    }),

    // IVF ANN: 16 seed centroids, argmax-cosine cells, rank within cell
    "x16_ann_ivf" -> ((s, dir) => {
      Similarity.ivfTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, nCells = 16).orderBy("query_id", "rank")
    }),

    // IVF multi-probe: corpus in nearest cell, queries probe top-2 cells
    "x28_ann_ivf_nprobe" -> ((s, dir) => {
      Similarity.ivfTopKProbed(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, nCells = 16, nprobe = 2).orderBy("query_id", "rank")
    }),

    // IVF + one Lloyd step: decimal-exact centroid means, re-assign, rank
    "x20_ann_ivf_kmeans" -> ((s, dir) => {
      Similarity.ivfTopKRefined(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, nCells = 16).orderBy("query_id", "rank")
    }),

    // IVF + int8 candidate scoring + exact float rescore (the
    // bandwidth-efficient retrieval shape): top-20 quantized candidates
    // per query within the cell, rescored exactly, cut to top-5
    "x33_ann_quantized_rescore" -> ((s, dir) => {
      Similarity.ivfQuantizedRescoreTopK(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", k = 5, nCells = 16, candK = 20)
        .orderBy("query_id", "rank")
    }),

    // IVF + Product Quantization with asymmetric-distance scoring: corpus
    // vectors travel as 8 codebook codes, queries rank cell members from
    // the codebook alone, exact float rescore of the top-20 cut to top-5
    "x52_ann_pq_adc" -> ((s, dir) => {
      Similarity.ivfPqAdcTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, nCells = 16, m = 8, ksub = 16, candK = 20)
        .orderBy("query_id", "rank")
    }),

    // IVF recall report: exact top-5 neighbors vs the probed-IVF output,
    // per 0.05 cosine band, for nprobe 1/2/4 — ties the recall lever to
    // a measured number (x80's harness shape, applied to the top-k
    // family); exact side is the guarded all-pairs oracle (sampled
    // tuning pass, not a corpus operator)
    "x122_ivf_recall_report" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Seq(1, 2, 4).map { np =>
        Similarity.topKRecallReport(e, "vec_id", "embedding", k = 5,
          Similarity.ivfTopKProbed(e, "vec_id", "embedding", k = 5,
            nCells = 16, nprobe = np))
          .withColumn("nprobe", lit(np))
      }.reduce(_ unionByName _)
        .select(col("nprobe"), col("band"), col("n_exact"), col("n_found"),
          col("recall"))
        .orderBy("nprobe", "band")
    }),

    // int8 symmetric quantization of the embedding column
    "x17_embed_quantize" -> ((s, dir) => {
      Similarity.quantizeInt8(Tables(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")
    }),

    // embedding-cosine near-duplicate pairs ≥ 0.45 (exact all-pairs baseline)
    "x8_embed_neardup" -> ((s, dir) => {
      Similarity.cosineNearDups(Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
        .orderBy("doc_a", "doc_b")
    }),

    // embedding-cosine near-dup, scale path: banded hyperplane-LSH
    // candidates (equi-join on band bucket, no all-pairs join) + exact
    // cosine verify ≥ 0.45 on candidates only
    "x27_embed_neardup_blocked" -> ((s, dir) => {
      Similarity.cosineNearDupsBlocked(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", 0.45, nPlanes = 8, bands = 2, dims = 64)
        .orderBy("doc_a", "doc_b")
    }),

    // incremental embedding near-dup: new batch (vec_id % 2 == 0) vs
    // existing corpus — same hyperplanes on both sides, candidate join is
    // delta buckets × corpus buckets (the embedding sibling of x36)
    "x37_embed_neardup_incremental" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.cosineNearDupsBlockedAgainst(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", 0.45, nPlanes = 8, bands = 2, dims = 64)
        .orderBy("doc_a", "doc_b")
    }),

    // x37's production contract: the corpus side read from a MAINTAINED
    // (vec_id, band, bucket) table (x42's sibling of x41) — corpus
    // embeddings are never re-hashed per batch, only candidate ids fetch
    // their vectors for the exact verify. Result set identical to x37.
    "x42_embed_neardup_incr_buckets" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") % 2 =!= 0)
      val buckets = Maintained.table(s, s"$dir/embeddings.parquet",
        "embed_buckets_mod2_p8_b2") {
        Similarity.bandedSignTable(corpus, "vec_id", "embedding",
          nPlanes = 8, bands = 2, dims = 64)
      }
      Similarity.cosineNearDupsBlockedAgainstBuckets(
        e.filter(col("vec_id") % 2 === 0), buckets, corpus,
        "vec_id", "embedding", 0.45, nPlanes = 8, bands = 2, dims = 64)
        .orderBy("doc_a", "doc_b")
    }),

    // the consuming end of near-dup detection: blocked-cosine pairs →
    // connected-component clusters → corpus with only canonical survivors
    "x34_neardup_dedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val pairs = Similarity.cosineNearDupsBlocked(emb, "vec_id", "embedding",
        0.45, nPlanes = 8, bands = 2, dims = 64)
      Dedup.dedupByClusters(emb, "vec_id", pairs)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    // corpus snapshot diff: added/removed/changed docs by content
    // fingerprint between a synthetic "v2" cut and the base table —
    // one id-keyed full-outer join, emits only the delta
    "x66_corpus_diff" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val after = d.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      Corpus.corpusDiff(d, after, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // quality-aware cluster dedup: each simhash near-dup cluster keeps its
    // LONGEST member (ties → min id) instead of the min-id canonical —
    // the production keep-the-best-copy policy
    "x64_dedup_keep_best" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val pairs = Dedup.simhashNearDups(d, "text", "doc_id",
        bits = 48, bands = 4, maxHam = 3)
      Dedup.dedupByClustersBest(d, "doc_id", pairs, "n_chars")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // within-document segment repetition (Gopher duplicate-line-fraction
    // analogue over 4-token tiles): internally-repetitive docs that
    // cross-document dedup misses
    "x65_withindoc_repetition" -> ((s, dir) => {
      Dedup.withinDocRepetition(Tables(s, dir, "documents"), "text",
        "doc_id", segTokens = 4)
        .orderBy("doc_id")
    }),

    // cross-lingual segment-duplication matrix: distinct 8-token segment
    // values shared per language pair (digest-keyed, fan-out ≤ strata per
    // digest) — the audit view of where boilerplate crosses languages
    "x61_seg_overlap" -> ((s, dir) => {
      Dedup.segmentOverlapMatrix(Tables(s, dir, "documents"), "text",
        "lang", "doc_id", segTokens = 8)
        .orderBy("stratum_a", "stratum_b")
    }),

    // FLAGSHIP layout composition — the export half of the pipeline as ONE
    // chain: mixture-sample to target shares (x58) → sequence-packing
    // offsets (x51) → balanced shard assignment (x56), each stage the
    // standalone library call, all integer/md5 arithmetic
    "x62_layout_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("n_toks"))
      // kept feeds BOTH layout branches, which prune it differently, so
      // ReuseExchange never fires across them — persist it once (narrow:
      // 4 columns) instead of running the mixture stage per branch; the
      // deferred registry releases it after the terminal action
      val kept = Corpus.mixtureSample(d, "lang", "doc_id", "n_toks",
        Seq("en" -> 0.5, "fr" -> 0.2, "de" -> 0.3)).persist()
      graft.util.Caching.releaseWhenUsed(kept)
      val packed = Corpus.packSequences(
        kept.select(col("doc_id"), col("lang"), col("n_toks")),
        "lang", "doc_id", "n_toks", 1024L)
      val shards = Corpus.shardAssign(kept, "doc_id", "n_toks", nShards = 4)
      packed.join(shards.select(col("doc_id"), col("shard"), col("shard_pos")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_toks"), col("tok_offset"),
          col("seq_idx"), col("seq_pos"), col("shard"), col("shard_pos"))
        .orderBy("doc_id")
    }),

    // FLAGSHIP provenance/privacy chain: source-reputation gate →
    // Bloom-routed takedown anti-join → PII redaction → deterministic
    // train/val/test split — every stage the standalone library call its
    // own query uses (x69 → x68 → x40 → x63), composed and hash-verified
    "x73_provenance_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val reputable = Corpus.sourceReputationFilter(d, "source", "text",
        "doc_id", minDocs = 3L, shortToks = 40, maxShortFrac = 0.4)
        .filter(col("src_keep"))
        .select(d.columns.map(col): _*)
      val takedown = d.select("doc_id").filter(
        conv(substring(md5(concat(lit("takedown|"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
          < 644245094L)
      val cleared = Blocklist.bloomAntiJoin(reputable, takedown, "doc_id")
      Corpus.hashSplit(
        cleared.select(col("doc_id"), col("source"),
          TextAnalysis.redactPii(col("text")).as("redacted")),
        "doc_id", valFrac = 0.1, testFrac = 0.1)
        .orderBy("doc_id")
    }),

    // BM25 ranked retrieval over the inverted-index shape: every 101st
    // document probes the corpus as a query, top-10 by the log-free
    // rational Okapi score (k1=6/5, b=3/4), quantized to an exact long
    "x96_bm25_topk" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      Corpus.bm25TopK(d, d.filter(col("doc_id") % 101 === 0),
        "text", "doc_id", "doc_id", "text", k = 10, excludeSelf = true)
        .orderBy("query_id", "rank")
    }),

    // x96's production contract: the postings table (id, term, tf, dl) is
    // MAINTAINED — tokenized once at registration, appended per batch,
    // never re-tokenized per sweep; the query batch pays its own explode
    // plus the term-keyed probe. Same function as x96, same oracle.
    "x98_bm25_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val postings = Maintained.table(s, s"$dir/documents.parquet",
        "bm25_postings") {
        Corpus.postingsTable(d, "text", "doc_id")
      }
      Corpus.bm25TopKAgainstPostings(d.filter(col("doc_id") % 101 === 0),
        postings, "doc_id", "text", k = 10, excludeSelf = true)
        .orderBy("query_id", "rank")
    }),

    // FLAGSHIP retrieval composition — the full hybrid-retrieval flow as
    // ONE hash-verified query, every stage the standalone library call:
    // BM25 top-20 (x96) + exact cosine top-20 (x6 form) → RRF fusion to
    // 10 (x99) → simhash near-dup diversity pruning (x21's pairs) →
    // final diverse top-5
    "x106_retrieval_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val lex = Corpus.bm25TopK(d, d.filter(col("doc_id") % 101 === 0),
        "text", "doc_id", "doc_id", "text", k = 20, excludeSelf = true)
      val sem = Similarity.bruteForceTopK(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", k = 20)
        .filter(col("query_id") % 101 === 0)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      // localCheckpoint (eager) on the fused head: it feeds the
      // result-doc set, BOTH sides of the domination join, and the
      // final anti-join. A persist() stopped the four consumers from
      // RE-EXECUTING the BM25+cosine chain, but each still re-PLANNED
      // its full lineage (~2k printed plan nodes): the r17 job profile
      // put x106 at 6.9 s wall with only 1.6 s of summed job time —
      // ~5 s of per-consumer driver planning gaps (guide §3.3: very
      // wide plans make planning itself the bottleneck; materialize an
      // intermediate to truncate). The head is fusion-sized (top-10 per
      // query), so the checkpoint is one tiny job and every consumer
      // now plans against a LogicalRDD. Measured: 6.9 → ~2.5 s, rows
      // identical (oracle-verified).
      val fused = Corpus.rrfFuse(Seq(lex, sem), k = 10)
        .localCheckpoint(true)
      val resDocs = d.join(fused.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      val pairs = Dedup.simhashNearDups(resDocs, "text", "doc_id")
      Corpus.diversityPrune(fused, pairs, k = 5)
        .select(col("query_id"), col("doc_id"), col("rrf_score"),
          col("final_rank"))
        .orderBy("query_id", "final_rank")
    }),

    // hybrid retrieval: BM25 top-20 (lexical) fused with exact cosine
    // top-20 (semantic) by reciprocal-rank fusion — quantized-long RRF
    // scores, ties to doc id; at scale the semantic list comes from the
    // IVF paths, same fusion
    "x99_hybrid_rrf" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val lex = Corpus.bm25TopK(d, d.filter(col("doc_id") % 101 === 0),
        "text", "doc_id", "doc_id", "text", k = 20, excludeSelf = true)
      val sem = Similarity.bruteForceTopK(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", k = 20)
        .filter(col("query_id") % 101 === 0)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Corpus.rrfFuse(Seq(lex, sem), k = 10)
        .orderBy("query_id", "rank")
    }),

    // leakage-safe split: hashSplit decided per near-dup CLUSTER (x21's
    // simhash pairs → x29's components), so near-duplicates never
    // straddle the train/eval fence
    "x97_leakage_safe_split" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val pairs = Dedup.simhashNearDups(d, "text", "doc_id")
      Corpus.leakageSafeSplit(d.select(col("doc_id"), col("lang")),
        "doc_id", pairs, valFrac = 0.1, testFrac = 0.1)
        .orderBy("doc_id")
    }),

    // deterministic hash-based train/val/test split: 32-bit md5 slice vs
    // exact integer thresholds — O(1)/row, stable under corpus growth
    "x63_hash_split" -> ((s, dir) => {
      Corpus.hashSplit(Tables(s, dir, "documents").select(col("doc_id")),
        "doc_id", valFrac = 0.1, testFrac = 0.1)
        .orderBy("doc_id")
    }),

    // SemDeDup-style semantic dedup: IVF-cell candidate pairs (cos ≥ .45
    // within a cell) → connected components → min-id canonical survives;
    // compare cost Σ cell², never all-pairs
    "x59_semantic_dedup" -> ((s, dir) => {
      Similarity.semanticDedup(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", nCells = 16, minCos = 0.45)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    // FLAGSHIP composition — the full training-data curation flow as ONE
    // hash-verified query: language filter (x9) → exact dedup (x1) →
    // Gopher-rules quality filter (x49) → simhash near-dup cluster dedup
    // (x21→x29→x34) → per-source token-budget sampling (x46) →
    // context-window chunking (x38). Every stage is the same library call
    // its standalone query uses; the oracle mirrors the whole chain, so
    // the COMPOSITION is bit-verified, not just the parts.
    "x47_curation_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      // persist the filter+dedup head: langId evaluates interpreted HOFs
      // per row and the exact-dedup shuffles — every downstream consumer
      // (quality signals, simhash signatures, cluster anti-join, budget
      // sampling) would each replay both. The cached set is the curated
      // corpus slice — compact by construction. Quality-filtering AFTER
      // exact dedup is result-identical to before it (identical texts have
      // identical signals, and exact-dedup's min-id survivor doesn't
      // depend on quality), but scores each distinct text once and lets
      // the scoring read the persisted head.
      // CALLER CONTRACT: the head stays persisted after the query runs —
      // queries return lazy DataFrames, so there is no in-plan point to
      // unpersist without recomputing the four consumers. Verify/Bench
      // release it via spark.catalog.clearCache() between queries; a
      // library caller composing this chain should do the same (or call
      // .unpersist() on its own head) once the result is materialized.
      val exact = Dedup.exact(
        d.filter(TextAnalysis.langId(col("text")) === "en"),
        "text", "doc_id").persist()
      // eager localCheckpoint on the kept slice: the curated corpus is
      // compact (post-filter survivors), and its three consumers
      // (simhash signatures, the cluster anti-join, budget sampling)
      // otherwise each re-PLAN the langId-filter + dedup + gopher-join
      // lineage — the x106 planning-gap class (guide §3.3); the
      // checkpoint truncates them all to a LogicalRDD
      val kept = exact.join(
        Corpus.gopherQualityFilter(exact, "text", "doc_id")
          .filter(col("keep")).select(col("doc_id")),
        Seq("doc_id"), "leftsemi").localCheckpoint(true)
      val pairs = Dedup.simhashNearDups(kept, "text", "doc_id",
        bits = 48, bands = 4, maxHam = 3)
      val curated = Dedup.dedupByClusters(kept, "doc_id", pairs)
      val sampled = Corpus.tokenBudgetSample(
        curated.select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("_nt")),
        "lang", "doc_id", "_nt", 1500L)
      sampled
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), 64, 16)).as(Seq("_pos", "chunk")))
        .select(col("doc_id"), (col("_pos") + 1).cast("int").as("chunk_idx"),
          col("chunk"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // stopword-heuristic language ID
    "x9_lang_id" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred")).orderBy("doc_id")
    }),

    // quality scoring: char/token counts, punct + stopword ratios. The
    // normalized form and token array are materialized ONCE in staged
    // projections (CollapseProject keeps them: the aliases are non-cheap and
    // multiply referenced) because the HOF-based signals evaluate
    // interpreted — without this each ratio re-runs the regex normalization
    // and split per row (measured 0.95 s vs 0.37 s oracle at sf0.1)
    // one fused codegen'd pass (functions.QualityScores) — the composed-
    // column formulation paid interpreted higher-order lambdas per signal
    "x10_quality_score" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.qualityScores(col("text")).as("_q"))
        .select(col("doc_id"), col("_q.*"))
        .orderBy("doc_id")
    }),

    // token counting: whitespace + BPE-ish regex
    "x11_token_count" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    // context-window chunking: 64-token windows every 48 tokens (16 overlap)
    "x38_chunk_windows" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), 64, 16)).as(Seq("_pos", "chunk")))
        .select(col("doc_id"), (col("_pos") + 1).cast("int").as("chunk_idx"),
          col("chunk"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // benchmark-contamination scan: corpus docs (doc_id % 3 != 0) sharing
    // any 8-gram with the eval slice (doc_id % 3 == 0); eval grams broadcast
    "x39_contamination_scan" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      Dedup.ngramOverlapAgainst(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0),
        "text", "doc_id", n = 8)
        .orderBy("doc_id", "eval_id")
    }),

    // multi-benchmark decontamination: the eval slice split into two tagged
    // sets, scored against the corpus in ONE scan — per (doc, set) distinct
    // shared grams + eval docs reached; all sets ride one broadcast
    "x48_multi_eval_decontam" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val evals = d.filter(col("doc_id") % 3 === 0)
        .withColumn("eval_set",
          when(col("doc_id") % 2 === 0, "benchA").otherwise("benchB"))
      Dedup.ngramOverlapAgainstEvalSets(
        d.filter(col("doc_id") % 3 =!= 0), evals, "eval_set",
        "text", "doc_id", n = 8)
        .orderBy("doc_id", "eval_set")
    }),

    // canonical-form document fingerprint
    "x12_fingerprint" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // polynomial rolling-hash fingerprint over the token stream
    "x22_rolling_hash" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("rh"))
        .orderBy("doc_id")
    }),

    // PII redaction: the scan's matches replaced with typed placeholders
    "x40_pii_redact" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("redacted"))
        .orderBy("doc_id")
    }),

    // PII pattern scan + repetition signal per document
    "x18_pii_scan" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val pii = TextAnalysis.piiCounts(col("text")).map { case (n, c) => c.as(n) }
      d.select((col("doc_id") +: pii) :+
        round(TextAnalysis.distinctTokenRatio(col("text")), 9).as("distinct_token_ratio"): _*)
        .orderBy("doc_id")
    }),

    // exact corpus statistics: counts, means, discrete percentiles
    "x19_corpus_stats" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("lang"), length(col("text")).as("n_chars"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("n_toks"))
      d.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        min(col("n_toks")).as("min_toks"),
        max(col("n_toks")).as("max_toks"),
        // exact percentile (linear interpolation) — same index formula as
        // DuckDB's quantile_cont, unlike the approx sketch. NOTE the
        // `percentile` aggregate buffers a value→count map per group:
        // bounded for integer char-lengths (this column), but O(group)
        // state on a continuous metric — x43 (Corpus.quantileCont) is the
        // O(1)-state two-pass shape for those
        expr("percentile(n_chars, 0.5)").as("p50_chars"))
        .orderBy("lang")
    }),

    // exact quantiles on a CONTINUOUS (double) metric — chars per token —
    // via the two-pass rank-pick (Corpus.quantileCont): O(1) state per row
    // where x19's `percentile` would buffer every distinct double
    "x43_quantile_cont" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("lang"),
          (length(col("text")) /
            greatest(TextAnalysis.whitespaceTokenCount(col("text")), lit(1)))
            .as("chars_per_tok"))
      Corpus.quantileCont(d, "lang", "chars_per_tok", Seq(0.25, 0.5, 0.9))
        .orderBy("lang")
    }),

    // discrete quantiles — actual group members at rank ⌈p·n⌉, same
    // two-pass O(1)-state shape as x43 where interpolation is meaningless
    "x44_quantile_disc" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("lang"), length(col("text")).cast("long").as("n_chars"))
      Corpus.quantileDisc(d, "lang", "n_chars", Seq(0.25, 0.5, 0.9))
        .orderBy("lang")
    }),

    // boilerplate/spam repetition signal: top word-bigram concentration +
    // distinct-token ratio per document (docs with ≥2 tokens)
    "x45_bigram_repetition" -> ((s, dir) => {
      Corpus.bigramRepetition(Tables(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // token-budget mixture sampling: greedy md5-ordered fill to 5k
    // whitespace tokens per language (binding at sf0.01's ~12k tokens/lang,
    // so the correctness run exercises the cutoff, not just the window)
    "x46_token_budget_sample" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("n_toks"))
      Corpus.tokenBudgetSample(d, "lang", "doc_id", "n_toks", 5000L)
        .orderBy("doc_id")
    }),

    // x48's production contract: the eval-set grams read from a MAINTAINED
    // (eval_set, eval doc, gram-hash) table — benchmarks are signatured
    // once at registration, the corpus shuffle-joins the table instead of
    // broadcasting (the beyond-broadcast path for eval suites of any
    // size). Result set identical to x48.
    "x50_decontam_gram_table" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val grams = Maintained.table(s, s"$dir/documents.parquet",
        "eval_grams_mod3_n8") {
        Dedup.evalSetGramTable(
          d.filter(col("doc_id") % 3 === 0)
            .withColumn("eval_set",
              when(col("doc_id") % 2 === 0, "benchA").otherwise("benchB")),
          "eval_set", "text", "doc_id", n = 8)
      }
      Dedup.ngramOverlapAgainstGramTable(
        d.filter(col("doc_id") % 3 =!= 0), grams, "text", "doc_id", n = 8)
        .orderBy("doc_id", "eval_set")
    }),

    // Gopher-rules quality filter: the scalar signal bundle + count-based
    // repetition signals + one auditable keep verdict per document
    "x49_gopher_quality" -> ((s, dir) => {
      Corpus.gopherQualityFilter(Tables(s, dir, "documents"), "text", "doc_id",
        minTokens = 50)
        .orderBy("doc_id")
    }),

    // sequence packing: concat-then-chunk offsets — per language, each
    // doc's exclusive token offset in the md5-ordered stream and the
    // 1024-token training sequence (+ position) its first token lands in
    "x51_pack_sequences" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("n_toks"))
      Corpus.packSequences(d, "lang", "doc_id", "n_toks", 1024L)
        .select(col("doc_id"), col("lang"), col("n_toks"), col("tok_offset"),
          col("seq_idx"), col("seq_pos"))
        .orderBy("doc_id")
    }),

    // segment-level exact dedup (CCNet-style line dedup over 8-token
    // tiles): only the corpus-wide first occurrence of each segment
    // survives; docs reassemble from their surviving segments
    "x53_segment_dedup" -> ((s, dir) => {
      Dedup.segmentDedup(Tables(s, dir, "documents"), "text", "doc_id",
        segTokens = 8)
        .orderBy("doc_id")
    }),

    // x53's production contract: batch segments dedup against a MAINTAINED
    // first-owner segment-hash table (corpus segmented once at
    // registration; per-batch work ∝ batch) — the segment sibling of x41
    "x60_segment_dedup_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val segTable = Maintained.table(s, s"$dir/documents.parquet",
        "seg_hashes_mod3_t8") {
        Dedup.segmentHashTable(d.filter(col("doc_id") % 3 =!= 0),
          "text", "doc_id", segTokens = 8)
      }
      Dedup.segmentDedupAgainst(d.filter(col("doc_id") % 3 === 0), segTable,
        "text", "doc_id", segTokens = 8)
        .orderBy("doc_id")
    }),

    // token rarity vs the corpus unigram table — the exact-integer
    // perplexity-proxy quality signal (common-token mass + rare-token rate)
    "x54_token_rarity" -> ((s, dir) => {
      Corpus.tokenRarity(Tables(s, dir, "documents"), "text", "doc_id",
        rareMax = 2)
        .orderBy("doc_id")
    }),

    // x54's production contract: batch token-rarity signals scored
    // against a MAINTAINED unigram count table (corpus tokenized once at
    // registration; counts merge additively on later ingests) — unseen
    // tokens score c=0, maximally rare
    "x67_token_rarity_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val counts = Maintained.table(s, s"$dir/documents.parquet",
        "term_counts_mod3") {
        Corpus.termCountTable(d.filter(col("doc_id") % 3 =!= 0), "text")
      }
      Corpus.tokenRarityAgainstTable(d.filter(col("doc_id") % 3 === 0),
        counts, "text", "doc_id", rareMax = 2)
        .orderBy("doc_id")
    }),

    // collocation extraction: adjacent-bigram lift (log-free PMI, exact
    // rational) — multiword-expression mining / tokenizer merge candidates
    "x94_collocations" -> ((s, dir) => {
      Corpus.collocations(Tables(s, dir, "documents"), "text",
        minCount = 5L, topK = 40)
    }),

    // cross-source syndication matrix: x3's near-dup pairs rolled up per
    // unordered source pair — which domains mirror which
    "x93_syndication_matrix" -> ((s, dir) => {
      Dedup.syndicationMatrix(Tables(s, dir, "documents"), "text",
        "doc_id", "source")
        .orderBy("src_1", "src_2")
    }),

    // AllPairs prefix-filtered exact Jaccard join: the same function as
    // x5 (hash-checked against x5's own oracle) computed by a different
    // algorithm — rarest-first prefixes generate the candidates, one
    // sorted-array intersection per candidate verifies exactly
    "x95_prefix_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairsPrefix(Tables(s, dir, "documents"), "text",
        "doc_id", n = 3, thNum = 3, thDen = 5)
        .orderBy("doc_a", "doc_b")
    }),

    // asymmetric containment near-dups: inter/min(|A|,|B|) ≥ 4/5 — quotes
    // and excerpts whose Jaccard the larger doc dilutes; shared df-cut
    // gram-bucket core with x5
    "x91_containment" -> ((s, dir) => {
      Dedup.ngramContainmentPairs(Tables(s, dir, "documents"), "text",
        "doc_id", n = 3, thNum = 4, thDen = 5)
        .orderBy("doc_a", "doc_b")
    }),

    // containment by the ASYMMETRIC prefix filter: same function as x91
    // (hash-checked against x91's own oracle) without the Σ df² shared-
    // gram pair exchange — the smaller side probes with its rarest-gram
    // prefix, the larger side is indexed by its full gram set, exact
    // sorted-array verify per candidate
    "x121_containment_prefix" -> ((s, dir) => {
      Dedup.ngramContainmentPairsPrefix(Tables(s, dir, "documents"), "text",
        "doc_id", n = 3, thNum = 4, thDen = 5)
        .orderBy("doc_a", "doc_b")
    }),

    // INCREMENTAL containment screen: arrivals checked for quote/excerpt
    // relations against a FIXED corpus through four maintained tables
    // (doc arrays, full-gram index, prefix index, frozen dfs) — both
    // probe directions (arrival-quotes-corpus via arrival prefix x
    // corpus full index; corpus-quoted-in-arrival via arrival full x
    // corpus prefix index); per-batch work never re-reads corpus text
    "x126_containment_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 3 =!= 0)
      def idx = Dedup.containmentIndex(corpus, "text", "doc_id",
        n = 3, thNum = 4, thDen = 5)
      val src = s"$dir/documents.parquet"
      val stored = Dedup.ContainmentIndex(
        Maintained.table(s, src, "cont_arrs_mod3_n3")(idx.arrs),
        Maintained.table(s, src, "cont_gramidx_mod3_n3")(idx.gramIdx),
        Maintained.table(s, src, "cont_pfxidx_mod3_n3_t45")(idx.pfxIdx),
        Maintained.table(s, src, "cont_dfs_mod3_n3")(idx.dfs))
      Dedup.ngramContainmentAgainst(d.filter(col("doc_id") % 3 === 0),
        stored, "text", "doc_id", n = 3, thNum = 4, thDen = 5)
        .orderBy("doc_a", "doc_b")
    }),

    // winnowing fingerprint selection (Schleimer et al. 2003 / MOSS):
    // per-window rightmost-min gram hash — guaranteed coverage of any
    // shared k+w−1-token substring; map-only, ~2/(w+1) density
    "x90_winnow_fingerprints" -> ((s, dir) => {
      TextAnalysis.winnowFingerprints(Tables(s, dir, "documents"), "text",
        "doc_id", k = 3, w = 4)
        .orderBy("doc_id", "pos")
    }),

    // x90's production contract: batch docs screened against a MAINTAINED
    // first-owner fingerprint table (corpus winnowed once at registration;
    // per-batch work ∝ batch + one 8-byte-key join) — winnowing's
    // guarantee makes the screen sound for ≥ k+w−1-token overlaps
    "x92_winnow_overlap_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val table = Maintained.table(s, s"$dir/documents.parquet",
        "winnow_fps_mod3_k3w4") {
        TextAnalysis.winnowTable(d.filter(col("doc_id") % 3 =!= 0),
          "text", "doc_id", k = 3, w = 4)
      }
      TextAnalysis.winnowOverlapAgainst(d.filter(col("doc_id") % 3 === 0),
        table, "text", "doc_id", k = 3, w = 4)
        .orderBy("doc_id")
    }),

    // code-switching detection: langId over each half of the token stream;
    // mixed = confident-but-different halves — the check whole-document
    // language ID averages away on concatenated bilingual pages
    "x89_code_switch" -> ((s, dir) => {
      TextAnalysis.codeSwitchFlag(Tables(s, dir, "documents"), "text",
        "doc_id").orderBy("doc_id")
    }),

    // OOV rate against the MAINTAINED unigram table: vocabulary = its top
    // 20 terms (count desc, term asc); tokenizer/corpus-mismatch proxy,
    // scored per batch without re-tokenizing the corpus
    "x88_oov_rate" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val counts = Maintained.table(s, s"$dir/documents.parquet",
        "term_counts_mod3") {
        Corpus.termCountTable(d.filter(col("doc_id") % 3 =!= 0), "text")
      }
      Corpus.oovRateAgainstTable(d.filter(col("doc_id") % 3 === 0),
        counts, "text", "doc_id", vocabSize = 20)
        .orderBy("doc_id")
    }),

    // takedown/blocklist filtering: remove documents whose id arrives on a
    // removal feed (deterministic 15% md5 band stands in for the feed) via
    // the Bloom-routed exact anti join — at scale the corpus branch is
    // map-only, the exact join shuffles only the might-contain band
    "x68_blocklist_filter" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      // floor(0.15 · 2^32) = 644245094
      val blk = d.select("doc_id").filter(
        conv(substring(md5(concat(lit("takedown|"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
          < 644245094L)
      Blocklist.bloomAntiJoin(d, blk, "doc_id").orderBy("doc_id")
    }),

    // source/domain reputation gate: every doc annotated with its source's
    // doc count, short-doc fraction and keep verdict — provenance-level
    // curation (domain filtering), one tiny source-keyed aggregate
    "x69_source_reputation" -> ((s, dir) => {
      Corpus.sourceReputationFilter(Tables(s, dir, "documents"),
        "source", "text", "doc_id", minDocs = 3L, shortToks = 40,
        maxShortFrac = 0.4)
        .orderBy("doc_id")
    }),

    // cross-doc duplicated spans: overlapping 8-token windows every 4
    // tokens — exact-substring syndication signal at any alignment, which
    // disjoint tiles (x53) miss for shifted copies
    "x70_dup_spans" -> ((s, dir) => {
      Dedup.dupSpans(Tables(s, dir, "documents"), "text", "doc_id",
        spanTokens = 8, stride = 4)
        .orderBy("doc_id")
    }),

    // hashing-trick linear classifier scoring (fastText shape): mean
    // hashed-unigram weight per doc, map-only, no vocabulary join
    "x71_hashed_classifier" -> ((s, dir) => {
      Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextAnalysis.hashedLinearScore(col("text")).as("clf_score"))
        .withColumn("keep", col("clf_score") >= 0.0)
        .orderBy("doc_id")
    }),

    // semantic-diversity downsampling: IVF cell assignment (x16's
    // deterministic map-only pass) composed with the per-stratum cap —
    // at most 20 vectors per semantic cluster, md5-order deterministic
    "x75_cluster_cap_sample" -> ((s, dir) => {
      val cells = Similarity.cellAssignments(
        Tables(s, dir, "embeddings"), "vec_id", "embedding", nCells = 16)
      Corpus.stratifiedSample(cells, "cell", "vec_id", k = 20)
        .orderBy("cell", "vec_id")
    }),

    // incremental semantic routing: new vectors assigned to cells against
    // a MAINTAINED centroid table (corpus seeds computed once at
    // registration; per-batch work = the batch's own scoring pass)
    "x76_cell_assign_incr" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = Maintained.table(s, s"$dir/embeddings.parquet",
        "cell_centroids_mod3_c16") {
        Similarity.centroidTable(e.filter(col("vec_id") % 3 =!= 0),
          "vec_id", "embedding", nCells = 16)
      }
      Similarity.cellAssignmentsAgainst(e.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", cents)
        .orderBy("vec_id")
    }),

    // recall VALUE of the Lloyd refinement: x122's harness comparing
    // seeded IVF (x16) against one-k-means-step IVF (x20) at the same
    // nCells/nprobe — the measured answer to "what does the refinement
    // buy", per cosine band
    "x125_ivf_recall_refined" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Seq(
        "seeded" -> Similarity.ivfTopK(e, "vec_id", "embedding",
          k = 5, nCells = 16),
        "refined" -> Similarity.ivfTopKRefined(e, "vec_id", "embedding",
          k = 5, nCells = 16))
        .map { case (v, ann) =>
          Similarity.topKRecallReport(e, "vec_id", "embedding", k = 5, ann)
            .withColumn("variant", lit(v))
        }
        .reduce(_ unionByName _)
        .select(col("variant"), col("band"), col("n_exact"), col("n_found"),
          col("recall"))
        .orderBy("variant", "band")
    }),

    // centroid-refresh trigger for the maintained IVF table: x108's
    // TV-distance drift algebra over CELL OCCUPANCIES — per cell the
    // exact-integer drift mass of the "arriving" slice vs the corpus the
    // centroids were seeded on, with the total tv and the re-seed
    // decision (tv > τ) on every row; tv is Σ drift_num over one final
    // division, so it is engine-exact
    "x123_centroid_drift" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") % 3 =!= 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val cents = Similarity.centroidTable(corpus, "vec_id", "embedding",
        nCells = 16)
      Similarity.centroidDriftReport(
        Similarity.cellOccupancy(corpus, "vec_id", "embedding", cents)
          .withColumnRenamed("c", "c_ref"),
        Similarity.cellOccupancy(batch, "vec_id", "embedding", cents)
          .withColumnRenamed("c", "c_cur"),
        tau = 0.1)
        .orderBy("cell")
    }),

    // LSH recall report: exact near-dup pairs vs the blocked path's
    // output, per 0.05 cosine band — the measured tuning harness for
    // nPlanes/bands (sampled pass; the guard names the contract)
    "x80_lsh_recall_report" -> ((s, dir) => {
      Similarity.nearDupRecallReport(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.45)
        .orderBy("band")
    }),

    // FLAGSHIP target-mix release chain: DSIR importance weighting (x81)
    // → keep each language's top 60% most target-like (x57's rank gate)
    // → k-anonymity suppression of the released set (x82). Every stage is
    // the standalone library call; hash-verified against the composed
    // DuckDB oracle.
    "x87_target_mix_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val aff = Corpus.importanceAffinity(d, "text", "doc_id",
        targetPred = col("lang") === "en", buckets = 256)
      val metric = aff.join(d.select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      val kept = Corpus.topFractionByMetric(metric, "lang", "doc_id",
        "affinity", q = 0.6)
      val released = kept.select(col("doc_id"), col("affinity"))
        .join(d.select(col("doc_id"), col("lang"), col("source"),
          floor(col("n_chars") / lit(200.0)).cast("int").as("size_bucket")),
          Seq("doc_id"))
      Privacy.kAnonymitySuppress(released,
        Seq("lang", "source", "size_bucket"), k = 5)
        .orderBy("doc_id")
    }),

    // l-diversity audit: per (source, size-band) class, distinct langs as
    // the sensitive attribute — homogeneous classes disclose it even when
    // k-anonymous; the release gate pairs this with x82
    "x86_l_diversity" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("lang"), col("source"),
          floor(col("n_chars") / lit(200.0)).cast("int").as("size_bucket"))
      Privacy.lDiversityReport(d, Seq("source", "size_bucket"), "lang",
        l = 3).orderBy("source", "size_bucket")
    }),

    // weak-label EVALUATION: x115's predictions scored against the held
    // back truth, per true label — the measure-your-weak-labels loop
    // (n_labeled counts the slice, n_predicted its covered part,
    // n_correct the agreements; accuracy = one division)
    "x116_label_prop_eval" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val pred = Similarity.labelPropagate(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0).drop("label"),
        "vec_id", "embedding", "label", nCells = 16)
      e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("label").as("true_label"))
        .join(pred.select(col("vec_id"), col("pred_label")),
          Seq("vec_id"), "left")
        .groupBy(col("true_label"))
        .agg(count(lit(1)).as("n_labeled"),
          sum(when(col("pred_label").isNotNull, 1L).otherwise(0L))
            .as("n_predicted"),
          sum(when(col("pred_label") === col("true_label"), 1L)
            .otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          col("n_correct").cast("double") / col("n_predicted"))
        .orderBy("true_label")
    }),

    // confidence calibration: weak-label accuracy per cosine band
    // (floor(cos·10)) — the table that picks the confidence threshold
    // above which propagated labels are trustworthy
    "x119_confidence_calibration" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val pred = Similarity.labelPropagate(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0).drop("label"),
        "vec_id", "embedding", "label", nCells = 16)
      pred
        .join(e.select(col("vec_id"), col("label").as("true_label")),
          Seq("vec_id"))
        .withColumn("band", floor(col("cosine") * 10).cast("int"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred_label") === col("true_label"), 1L)
            .otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          col("n_correct").cast("double") / col("n"))
        .orderBy("band")
    }),

    // weak-label confusion matrix: WHICH classes the 1-NN propagation
    // confuses (true × predicted counts over the held-back slice;
    // unpredicted rows appear under a null pred_label)
    "x118_label_confusion" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val pred = Similarity.labelPropagate(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0).drop("label"),
        "vec_id", "embedding", "label", nCells = 16)
      e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("label").as("true_label"))
        .join(pred.select(col("vec_id"), col("pred_label")),
          Seq("vec_id"), "left")
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    }),

    // per-cell label purity: the clustering-quality measure behind the
    // IVF routing — low-purity cells are where 1-NN weak labels go wrong
    "x117_cell_purity" -> ((s, dir) => {
      Similarity.cellPurity(Tables(s, dir, "embeddings"), "vec_id",
        "embedding", "label", nCells = 16)
        .orderBy("cell")
    }),

    // 1-NN weak-label propagation: every 5th vector "loses" its label and
    // adopts the nearest labeled neighbor's within its IVF cell, cosine
    // kept as confidence; cells with no labeled member predict nothing
    "x115_label_propagation" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.labelPropagate(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0).drop("label"),
        "vec_id", "embedding", "label", nCells = 16)
        .orderBy("vec_id")
    }),

    // FLAGSHIP sketch-to-exact triage — the escalation pattern at corpus
    // scale as ONE hash-verified query: KMV estimates (x110) select the
    // hot source pairs (exact integer threshold est ≥ 1/25), then the
    // exact minhash syndication rollup (x93) runs over ONLY those
    // sources' documents; output pairs each estimate with its exact
    // near-dup pair count (0 when the sketch over-triaged)
    "x114_overlap_triage_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val sk = Corpus.kmvSketch(d, "source", "text", k = 256, n = 5)
      // persisted: the selection feeds the hot-source set AND the final
      // report join (x47's persisted-head pattern)
      val sel = Corpus.kmvJaccardEst(sk, "source", k = 256)
        .filter(col("shared_k") * 25 >= col("union_k")).persist()
      val hot = sel.select(col("g_1").as("source"))
        .unionByName(sel.select(col("g_2").as("source"))).distinct()
      val exact = Dedup.syndicationMatrix(
        d.join(broadcast(hot), Seq("source"), "left_semi"),
        "text", "doc_id", "source")
      sel.join(exact,
          col("g_1") === col("src_1") && col("g_2") === col("src_2"), "left")
        .select(col("g_1"), col("g_2"), col("jaccard_est"),
          coalesce(col("n_pairs"), lit(0L)).as("n_exact_pairs"))
        .orderBy("g_1", "g_2")
    }),

    // deterministic bottom-k sketches per source + pairwise Jaccard
    // estimates from the union sketch — cross-source overlap triage
    // without pairwise document work; every row oracle-exact
    "x110_kmv_overlap" -> ((s, dir) => {
      val sk = Corpus.kmvSketch(Tables(s, dir, "documents"), "source",
        "text", k = 256, n = 5)
      Corpus.kmvJaccardEst(sk, "source", k = 256)
        .orderBy("g_1", "g_2")
    }),

    // x110's production contract: the corpus slice's sketches are
    // MAINTAINED (sketched once at registration), the batch slice
    // sketches fresh, and the two merge — merge(sketch(A), sketch(B)) =
    // sketch(A ∪ B) exactly, so the full-corpus oracle IS the law's proof
    "x111_kmv_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val corpusSk = Maintained.table(s, s"$dir/documents.parquet",
        "kmv_sketch_mod3_k256_n5") {
        Corpus.kmvSketch(d.filter(col("doc_id") % 3 =!= 0), "source",
          "text", k = 256, n = 5)
      }
      val batchSk = Corpus.kmvSketch(d.filter(col("doc_id") % 3 === 0),
        "source", "text", k = 256, n = 5)
      val merged = Corpus.kmvMerge(
        corpusSk.select(col("source"), col("h"))
          .unionByName(batchSk.select(col("source"), col("h"))),
        "source", k = 256)
      Corpus.kmvJaccardEst(merged, "source", k = 256)
        .orderBy("g_1", "g_2")
    }),

    // soft quality sampling: keep each doc with probability equal to its
    // distinct-token ratio — borderline docs survive in proportion
    // instead of cliffing at a threshold; per-row md5 draw, verdict col
    "x109_soft_sample" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.distinctTokenRatio(col("text")).as("score"))
      Corpus.bernoulliByScore(d, "doc_id", "score")
        .orderBy("doc_id")
    }),

    // distribution drift report: source mix of the "arriving" slice
    // (every 3rd doc) vs the reference corpus — exact-integer TV-distance
    // masses per source, the ingest drift monitor
    "x108_drift_report" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      Corpus.distributionDrift(
        d.filter(col("doc_id") % 3 =!= 0),
        d.filter(col("doc_id") % 3 === 0), "source")
        .orderBy("source")
    }),

    // FLAGSHIP media-quality gate: both REAL codec paths (x120 PNG,
    // x124 WAV) decoded, joined back to document provenance, gated on
    // the decoded signal (brightness/level within [64, 192]), and rolled
    // up per (kind, source) — the release-gate shape for multimodal
    // corpora, every stage the standalone library call
    "x128_media_quality_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val png = Multimodal.decode(
          Multimodal.derivePngMediaTable(d, "doc_id")).toDF()
        .select(col("media_id"), lit("image").as("kind"),
          col("brightness").as("metric"))
      val wav = Multimodal.decode(
          Multimodal.deriveWavMediaTable(d, "doc_id")).toDF()
        .select(col("media_id"), lit("audio").as("kind"),
          col("brightness").as("metric"))
      png.unionByName(wav)
        .join(d.select(col("doc_id").as("media_id"), col("source")),
          Seq("media_id"))
        .withColumn("keep", col("metric") >= 64.0 && col("metric") <= 192.0)
        .groupBy(col("kind"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .withColumn("keep_frac", col("n_keep").cast("double") / col("n"))
        .orderBy("kind", "source")
    }),

    // NUMERIC distribution drift: x108's exact-integer TV algebra over
    // fixed-width bins of a numeric column (here n_chars, width 100) —
    // length-distribution shift the categorical monitor cannot see
    "x127_numeric_drift" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      Corpus.numericDistributionDrift(
        d.filter(col("doc_id") % 3 =!= 0),
        d.filter(col("doc_id") % 3 === 0), "n_chars", binWidth = 100.0)
        .orderBy("bin")
    }),

    // Johnson–Lindenstrauss ±1 projection of every embedding to 16
    // exact-long components (Achlioptas's database-friendly scheme, md5-
    // deterministic matrix): the vector-compression lever for the ANN
    // family — projected payloads shuffle inDims/outDims× fewer bytes.
    // Map-only, zero shuffle, bit-exact across engines.
    "x129_jl_project" -> ((s, dir) => {
      Similarity.jlProject(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        outDims = 16, inDims = 64)
        .select(col("vec_id"), array_join(col("jl"), ",").as("jl_str"),
          Similarity.dotLong(col("jl"), col("jl")).as("n2"))
        .orderBy("vec_id")
    }),

    // JL distortion priced in measured recall, x122-style: exact top-5 in
    // the projected space (outDims 4 and 16) vs the full-dim exact top-5,
    // per 0.05 cosine band — ties the compression ratio to a recall
    // number instead of the lemma's asymptotic bound; exact sides are the
    // guarded all-pairs oracles (sampled tuning pass, not a corpus op)
    "x130_jl_recall_report" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Seq(4, 16).map { d =>
        Similarity.topKRecallReport(e, "vec_id", "embedding", k = 5,
          Similarity.jlTopK(e, "vec_id", "embedding", k = 5,
            outDims = d, inDims = 64))
          .withColumn("dims", lit(d))
      }.reduce(_ unionByName _)
        .select(col("dims"), col("band"), col("n_exact"), col("n_found"),
          col("recall"))
        .orderBy("dims", "band")
    }),

    // Count-Min sketch of 3-gram frequencies (depth 4 × width 8192):
    // bounded-state frequency counting for gram universes too large to
    // count exactly (at 100 TB the distinct-gram table dwarfs any vocab;
    // the CMS exchange is capped at depth×width rows per partition) —
    // deterministic md5 hash rows + exact long counts make the sketch
    // itself the oracle-checked result
    "x134_cms_sketch" -> ((s, dir) => {
      Corpus.cmsSketch(Tables(s, dir, "documents"), "text", n = 3,
        depth = 4, width = 8192).orderBy("row_idx", "bucket")
    }),

    // φ-heavy-hitter phrase mining via CMS triage (φ = 1/16384 of total
    // gram mass, width sized so ε·N ≈ 2): candidates from the sketch
    // estimate, each exact-verified — est ≥ exact always, so no truly
    // heavy phrase is missed and false positives are visible, not silent
    "x135_cms_heavy_hitters" -> ((s, dir) => {
      Corpus.cmsHeavyHitters(Tables(s, dir, "documents"), "text", n = 3,
        depth = 4, width = 131072, phiNum = 1, phiDen = 16384)
        .orderBy("gram")
    }),

    // x135's PRODUCTION contract registered (the streaming monitor's
    // per-arrival shape): the maintained sketch is the only corpus-pass
    // state and candidates are the arriving slice's distinct grams
    // (doc_id % 10 = 7 as the arrival), so per-run work is ∝ batch grams
    // — the corpus gram universe is never materialized (the batch form's
    // distinct() pays 59.4 s at 100×; this form's probe stage stays
    // near-flat, BASELINE.md "Round 11 — x135b"). φ still reads TOTAL
    // corpus mass from the sketch itself, so verdicts match the batch
    // form on shared grams.
    "x135b_cms_hh_probe" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      // persisted: the sketch feeds the broadcast estimate build AND the
      // total-mass agg — unpersisted, each consumer replays the gram scan.
      // The verdict list is tiny (≤ 1/φ grams): materialize it and release
      // the depth×width sketch cache before returning (round-11 advice —
      // no query leaves an operator-local cache for the session to carry)
      val sketch = Corpus.cmsSketch(d, "text", n = 3, depth = 4,
        width = 131072).persist()
      Caching.materializeAndRelease(
        Corpus.cmsHeavyHitterProbe(sketch,
            d.filter(col("doc_id") % 10 === 7), "text", n = 3, depth = 4,
            width = 131072, phiNum = 1, phiDen = 16384)
          .orderBy("gram"),
        sketch)
    }),

    // CMS merge law: per-batch sketches ADD per (row, bucket) —
    // sketch(corpus slice) ⊕ sketch(batch) == sketch(whole corpus),
    // hash-proved against the full-corpus oracle; x111's maintained-table
    // algebra for frequencies instead of distinct sets
    "x136_cms_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      Corpus.cmsMerge(
        Corpus.cmsSketch(d.filter(col("doc_id") % 7 === 0), "text",
          n = 3, depth = 4, width = 8192)
          .unionByName(Corpus.cmsSketch(d.filter(col("doc_id") % 7 =!= 0),
            "text", n = 3, depth = 4, width = 8192)))
        .orderBy("row_idx", "bucket")
    }),

    // bigram stupid-backoff LM scoring trained on the lang='en' slice —
    // the model-BASED perplexity filter (CCNet's LM stage) in log-free
    // exact arithmetic: quantized ⌊1e6·S⌋ per pair, one integer DIV,
    // masses sum as exact longs
    "x137_lm_backoff_score" -> ((s, dir) => {
      Corpus.lmScoreBackoff(Tables(s, dir, "documents"), "text", "doc_id",
        trainPred = col("lang") === "en").orderBy("doc_id")
    }),

    // CCNet's head/middle/tail publication split (Wenzek et al. 2020):
    // per-language fluency terciles of x137's backoff-LM score — the
    // ranking runs on Ranks' range-partitioned two-pass rank so one
    // language never collapses onto a single reducer; unscorable docs
    // land in a NULL bucket instead of skewing a tercile
    "x144_ccnet_buckets" -> ((s, dir) => {
      Corpus.ccnetBuckets(Tables(s, dir, "documents"), "text", "doc_id",
        "lang", trainPred = col("lang") === "en")
        .orderBy("doc_id")
    }),

    // x144's production contract — route-at-ingest against FROZEN state:
    // thresholds computed ONCE on the corpus slice, arrivals scored by
    // the maintained count table and gated O(1)/row by the broadcast
    // boundaries; the corpus is never re-ranked per batch. Unroutable
    // rows (unscorable, or a language with no threshold) → NULL bucket
    "x146_ccnet_route_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 7 =!= 0)
      // persisted: the ONE maintained count table feeds the threshold
      // derivation AND the batch scoring (both consume it as broadcast
      // joins — unpersisted, the count aggregation runs once per build)
      val counts = Corpus.lmCountTable(
        graft.util.Par.spread(corpus.filter(col("lang") === "en")), "text")
        .persist()
      val thr = Corpus.ccnetThresholdsFromCounts(corpus, counts,
        "text", "doc_id", "lang")
      // the routed batch is narrow (id, lang, score, bucket): materialize
      // it and release the vocab-bounded count cache before returning
      Caching.materializeAndRelease(
        Corpus.ccnetRoute(d.filter(col("doc_id") % 7 === 0), counts, thr,
            "text", "doc_id", "lang")
          .orderBy("doc_id"),
        counts)
    }),

    // x137's production contract: training counts read from MERGED
    // per-slice tables (the additive law — table(a) ⊕ table(b) =
    // table(a ∪ b), x112/x136's algebra) instead of re-counting train
    // text per run; result identical to x137, proved against the same
    // whole-slice oracle
    "x138_lm_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val en = d.filter(col("lang") === "en")
      val merged = Corpus
        .lmCountTable(en.filter(col("doc_id") % 7 === 0), "text")
        .unionByName(
          Corpus.lmCountTable(en.filter(col("doc_id") % 7 =!= 0), "text"))
        .groupBy(col("_u"), col("_v")).agg(sum(col("_c")).as("_c"))
      Corpus.lmScoreBackoffFromCounts(merged, d, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // FLAGSHIP LM-gated, template-aware curation: x137's backoff-LM
    // fluency gate (exact-long compare — mean quantized pair prob ≥
    // 1/30) composed with the CMS membership pass (grams the corpus
    // holds ≥ 4 times, tested via 4 broadcast hot-slice joins — map-only
    // until the doc-keyed agg); template_heavy when ≥ 1/5 of a doc's
    // grams are corpus-common; kept = fluent AND not template-dominated
    "x139_lm_curation_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val lm = Corpus.lmScoreBackoff(d, "text", "doc_id",
        trainPred = col("lang") === "en")
      // persisted: cmsCommonGramStats consumes the sketch once per hash
      // row (4 filtered broadcast builds) — unpersisted, each build
      // replays the corpus gram scan
      val sketch = Corpus.cmsSketch(d, "text", n = 3, depth = 4,
        width = 131072).persist()
      val tpl = Corpus.cmsCommonGramStats(d, "text", "doc_id", sketch,
        n = 3, depth = 4, width = 131072, minCount = 4)
      // per-doc verdict frame is narrow longs/bools: materialize it and
      // release the depth×width sketch cache before returning
      Caching.materializeAndRelease(
        lm.join(tpl, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_pairs"), col("lm_mass"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_common"), lit(0L)).as("n_common"))
          .withColumn("lm_ok", col("n_pairs") > 0L &&
            col("lm_mass") * 30L >= col("n_pairs") * 1000000L)
          .withColumn("template_heavy",
            col("n_common") * 5L >= col("n_grams") && col("n_grams") > 0L)
          .withColumn("kept", col("lm_ok") && !col("template_heavy"))
          .orderBy("doc_id"),
        sketch)
    }),

    // assembly QA: per-lang doc↔embedding coverage + orphaned vectors
    // (the referential parity gate a multi-table dataset build runs
    // before training) — one id-keyed full-outer join, lang-bounded agg
    "x140_coverage_audit" -> ((s, dir) => {
      Corpus.coverageAudit(Tables(s, dir, "documents"), "doc_id", "lang",
          Tables(s, dir, "embeddings").filter(col("vec_id") % 11 =!= 0),
          "vec_id")
        .orderBy(col("lang"))
    }),

    // epoch/repetition planning under a token budget (Muennighoff et al.
    // 2023's data-constrained question): per planned language, the
    // mixture's exact-integer token ask vs what the corpus holds, the
    // repetition factor, and the exact over-cap verdict at 1.5 epochs —
    // es deliberately unplanned, so the plan-vs-corpus join semantics
    // (weights rows, left) are exercised
    "x133_repetition_plan" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("n_toks"))
      Corpus.repetitionPlan(d, "lang", "n_toks",
        Seq("en" -> 5L, "de" -> 3L, "fr" -> 1L, "zh" -> 1L),
        budgetTokens = 40000L, capNum = 3L, capDen = 2L)
        .orderBy("lang")
    }),

    // semantic decontamination: every training vector's max cosine against
    // the held-out eval slice (vec_id % 20 == 0) with a contaminated
    // verdict at 0.45 — the embedding-level complement of x39/x48's
    // n-gram scans (paraphrases share no 8-gram but sit near their source
    // in embedding space); corpus routes map-only to one cell, the small
    // eval side probes 2 cells, pairing is a cell equi-join
    "x132_semantic_decontam" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.semanticContamination(
        e.filter(col("vec_id") % 20 =!= 0), e.filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", nCells = 16, nprobe = 2, threshold = 0.45)
        .orderBy("vec_id")
    }),

    // the production JL composition: IVF routing AND ranking in the
    // 16-long projected space (nCells=16, nprobe=2) — ivfTopKProbed's
    // exact plan over vectors 4× smaller than the float originals; the
    // shape every exchange of the ANN family takes once the corpus
    // carries wide embeddings
    "x131_jl_ivf_topk" -> ((s, dir) => {
      Similarity.jlIvfTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, outDims = 16, inDims = 64, nCells = 16, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // x131's RESCORE composition — JL routes the cells (outDims-long
    // routing compare + outDims-wide centroid broadcast), ORIGINAL cosine
    // ranks the probed members: recall back at the full-precision IVF
    // ceiling (clustered probe: x131 0.24 → x143 0.96 at outDims 16,
    // nprobe 2) while
    // full-width vectors are only read inside probed cells
    "x143_jl_ivf_rescore" -> ((s, dir) => {
      Similarity.jlIvfRescoreTopK(Tables(s, dir, "embeddings"), "vec_id",
        "embedding", k = 5, outDims = 16, inDims = 64, nCells = 16,
        nprobe = 2).orderBy("query_id", "rank")
    }),

    // x143 over LLOYD-REFINED JL-space cells — the remaining recall lever
    // the clustered harness priced (smallest-id seeding leaves overlapping
    // clusters sharing a cell: x143 recall 0.17–0.42 at spread 6 where one
    // Lloyd step is worth +35 pts); one projected-space Lloyd round, then
    // route + original-cosine rescore at the same exchange shape
    "x147_jl_ivf_rescore_refined" -> ((s, dir) => {
      Similarity.jlIvfRescoreRefinedTopK(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", k = 5, outDims = 16, inDims = 64,
        nCells = 16, nprobe = 2, iters = 1).orderBy("query_id", "rank")
    }),

    // BPE apply: replay the trained merge fixture in rank order over every
    // document — the tokenization pass a training pipeline runs over every
    // byte it ships (x85 is one training round's statistic; this is the
    // apply step). Leftmost-greedy per rank, never across the word-boundary
    // sentinel; MAP-ONLY — the merge table rides the fused BpeMerge
    // expression as a driver-collected reference, the corpus never shuffles
    "x148_bpe_apply" -> ((s, dir) => {
      import s.implicits._
      val merges = BpeFixture.toDF("rank", "left", "right")
      TextAnalysis.bpeApply(Tables(s, dir, "documents"), "text", "doc_id",
        merges).orderBy("doc_id")
    }),

    // BPE merge-table TRAINING (Sennrich learn_bpe): ONE word-count
    // shuffle builds the frequency table, the merge loop runs on that
    // bounded vocab state — 8 ranks learned here, each the argmax
    // adjacent-pair count (ties lhs/rhs asc) merged leftmost-greedily.
    // Completes the BPE story: x85 one round's statistic → THIS learns
    // the table → x148 applies it → x150 lays out by its counts
    "x153_bpe_train" -> ((s, dir) => {
      TextAnalysis.bpeTrain(Tables(s, dir, "documents"), "text",
        nMerges = 8).orderBy("rank")
    }),

    // Z-order (Morton) layout over (user_id, event time): bit-interleaved
    // curve cells + contiguous curve-range shards — the 2-d file
    // clustering pass that gives parquet row groups tight min/max
    // envelopes on BOTH columns; one min/max aggregate (1-row broadcast
    // attach) + a pure map-side projection
    "x154_zorder_layout" -> ((s, dir) => {
      // ts is TIMESTAMP_NTZ; the session TZ is UTC, so the cast matches
      // DuckDB's epoch_us over the same naive values exactly
      val e = Tables(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      Corpus.zorderLayout(e, "event_id", "user_id", "ts_us",
        bits = 16, nShards = 64).orderBy("event_id")
    }),

    // z-order at INGEST: the arriving batch (event_id % 7 = 0) is
    // assigned cells/zvalue/shard against the corpus slice's FROZEN
    // bounds (maintained 1-row frame, seeded once) — pure map-side pass,
    // the corpus never re-scanned, out-of-frame arrivals clamp to edge
    // cells; the frozen-reference convention of the x146 router
    "x155_zorder_incr" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val corpus = e.filter(col("event_id") % 7 =!= 0)
      val bounds = corpus.agg(
        min(col("user_id").cast("long")).as("_xmin"),
        max(col("user_id").cast("long")).as("_xmax"),
        min(col("ts_us")).as("_ymin"), max(col("ts_us")).as("_ymax"))
      Corpus.zorderLayoutAgainst(e.filter(col("event_id") % 7 === 0),
        bounds, "event_id", "user_id", "ts_us", bits = 16, nShards = 64)
        .orderBy("event_id")
    }),

    // the layout's MANIFEST: per-shard row count + per-column min/max/NDV
    // over the z-order shards — the sidecar stats a scan consults to skip
    // files without opening them; one shard-keyed aggregate, rows = shards
    "x156_shard_stats" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val z = Corpus.zorderLayout(e, "event_id", "user_id", "ts_us",
        bits = 16, nShards = 64, keepCols = Seq("user_id", "ts_us"))
      Corpus.shardStats(z, "shard", Seq("user_id", "ts_us"))
        .orderBy("shard")
    }),

    // per-shard bloom INDEX over user_id (m=4096, k=3 md5-slice hashes):
    // the equality-predicate skip for a column the curve order doesn't
    // cover — manifest rows hash-compared via a sorted-bit-list digest
    "x157_bloom_index" -> ((s, dir) => {
      BloomIndexParts(s, dir)._1.orderBy("shard")
    }),

    // the index DOING ITS JOB: candidate shards (bloom says maybe) vs
    // true shards per probe key — candidates ⊇ true (no false negatives),
    // the gap is the measured false-positive rate; key 10000000 is absent
    // by construction, its candidate count is pure fp
    "x158_bloom_probe" -> ((s, dir) => {
      BloomIndexParts(s, dir)._2.orderBy("probe_key")
    }),

    // the manifest MAINTAINED: corpus and batch slices each sketched
    // once (KMV-NDV instead of exact — distinct counts don't add, bottom-k
    // hash sketches do), merged additively — proves merge(sketch(A),
    // sketch(B)) = sketch(A∪B) against the full-table oracle (the x74
    // law pattern); both slices assigned against the corpus's frozen
    // frame so shard spaces agree
    "x159_shard_stats_incr" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val corpus = e.filter(col("event_id") % 7 =!= 0)
      val batch = e.filter(col("event_id") % 7 === 0)
      val bounds = corpus.agg(
        min(col("user_id").cast("long")).as("_xmin"),
        max(col("user_id").cast("long")).as("_xmax"),
        min(col("ts_us")).as("_ymin"), max(col("ts_us")).as("_ymax"))
      val sc = Seq("user_id", "ts_us")
      def assign(df: org.apache.spark.sql.DataFrame) =
        Corpus.zorderLayoutAgainst(df, bounds, "event_id", "user_id",
          "ts_us", bits = 16, nShards = 64, keepCols = sc)
      val merged = Corpus.mergeShardStats(
        Corpus.shardStatsSketch(assign(corpus), "shard", sc),
        Corpus.shardStatsSketch(assign(batch), "shard", sc), "shard", sc)
      def digest(c: String) = Seq(
        md5(concat_ws(",", transform(col(s"${c}_kmv"), _.cast("string"))))
          .as(s"${c}_kmv_md5"),
        element_at(col(s"${c}_kmv"), -1).as(s"${c}_kmv_kth"),
        size(col(s"${c}_kmv")).cast("long").as(s"${c}_kmv_n"))
      merged.select(Seq(col("shard"), col("n_rows"),
        col("user_id_min"), col("user_id_max"),
        col("ts_us_min"), col("ts_us_max")) ++
        digest("user_id") ++ digest("ts_us"): _*)
        .orderBy("shard")
    }),

    // N-DIM z-order (here 3-d: user, time, payload length) — Delta's
    // OPTIMIZE ZORDER BY (c1..cn) generalized: bit i of dim j lands at
    // curve position i·3+j, so every dimension prunes; same one-aggregate
    // + map-side-projection shape as x154
    "x160_zorder_3d" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("props_len", length(col("props")).cast("long"))
      Corpus.zorderLayoutN(e, "event_id",
        Seq("user_id", "ts_us", "props_len"), bits = 16, nShards = 64)
        .orderBy("event_id")
    }),

    // N-dim z-order at INGEST: the arriving batch assigned against the
    // corpus slice's FROZEN 3-d frame — the x155 contract generalized;
    // pure map-side pass, out-of-frame arrivals clamp to edge cells
    "x163_zorder_3d_incr" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("props_len", length(col("props")).cast("long"))
      val dims = Seq("user_id", "ts_us", "props_len")
      val corpus = e.filter(col("event_id") % 7 =!= 0)
      val aggs = dims.flatMap { c =>
        Seq(min(col(c).cast("long")).as(s"_min_$c"),
          max(col(c).cast("long")).as(s"_max_$c"))
      }
      val bounds = corpus.agg(aggs.head, aggs.tail: _*)
      Corpus.zorderLayoutAgainstN(e.filter(col("event_id") % 7 === 0),
        bounds, "event_id", dims, bits = 16, nShards = 64)
        .orderBy("event_id")
    }),

    // the manifests ROUTING A REAL READ (the toolkit's consumer): the
    // z-ordered table is PUBLISHED shard-partitioned with its stats
    // manifest in one atomic swap, then a 2-d range scan enumerates
    // candidate shards from the manifest alone and hands the parquet
    // reader ONLY those directories — the untouched shards are never
    // opened. Hash-equal to the full-scan oracle (pruning lost nothing),
    // and the candidate/total shard counts ride in the output so the
    // skip itself is under hash check
    "x161_pruned_scan" -> ((s, dir) => {
      val (table, (u1, u2), (t1, t2)) = PrunedTableBuild(s, dir)
      val ranges = Seq(("user_id", u1, u2), ("ts_us", t1, t2))
      val cands = graft.util.Scan.candidateShardsByStats(
        graft.util.Scan.statsManifest(s, table), ranges)
      val nTotal = graft.util.Scan.statsManifest(s, table).count()
      graft.util.Scan.readPrunedByRange(s, table, ranges)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("user_id").as("sum_uid"),
          min("ts_us").as("min_ts"), max("ts_us").as("max_ts"))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .withColumn("n_total_shards", lit(nTotal))
        .orderBy("event_type")
    }),

    // bloom-pruned POINT LOOKUP: equality on a key the curve order does
    // not cover — the stats envelopes skip nothing, the bloom sidecar
    // routes the read to candidate shards instead (x157's index finally
    // consuming real I/O); probe key = the smallest user_id at or above
    // mid-range, deterministic and present at every sf
    "x162_pruned_point" -> ((s, dir) => {
      val (table, (u1, _), _) = PrunedTableBuild(s, dir)
      val e = Tables(s, dir, "events")
      val key = e.filter(col("user_id") >= u1)
        .agg(min(col("user_id"))).head().getLong(0)
      val cands = graft.util.Scan.candidateShardsByKey(
        graft.util.Scan.bloomManifest(s, table), key)
      graft.util.Scan.readPrunedByKey(s, table, "user_id", key)
        .agg(count(lit(1)).as("n_events"),
          sum("event_id").as("sum_eid"))
        .withColumn("probe_key", lit(key))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .orderBy("probe_key")
    }),

    // STRING z-order dimension: a lexicographic column rides the Morton
    // curve through its dictionary-rank embedding (distinct values
    // dense-ranked 0..n−1 — Delta's OPTIMIZE ZORDER BY over string
    // columns), interleaved with a numeric dim; per-row cells/curve
    // position/shard pinned against the oracle's dense_rank mirror
    "x164_zorder_string_dim" -> ((s, dir) => {
      Corpus.zorderLayoutN(Tables(s, dir, "documents"), "doc_id",
        Seq("lang", "n_chars"), bits = 8, nShards = 32)
        .orderBy("doc_id")
    }),

    // STRING-predicated pruned read — the gap a real user hits first
    // (curation predicates are `lang = …`, `source = …`; even the
    // reference's analytic surface filters on a string type label): the
    // stats manifest's min/max envelopes are NATIVE-typed, so a string
    // equality routes candidate enumeration directly as the degenerate
    // range [v, v]; hash-equal to the full-scan oracle with the
    // candidate counts riding in the output
    "x165_pruned_scan_string" -> ((s, dir) => {
      val (table, v) = StringPrunedTableBuild(s, dir)
      val ranges: Seq[(String, Any, Any)] = Seq(("lang", v, v))
      val cands = graft.util.Scan.candidateShardsByStats(
        graft.util.Scan.statsManifest(s, table), ranges)
      val nTotal = graft.util.Scan.statsManifest(s, table).count()
      graft.util.Scan.readPrunedByRange(s, table, ranges)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("lang_val", lit(v))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .withColumn("n_total_shards", lit(nTotal))
        .orderBy("source")
    }),

    // COMBINED-predicate pruned read — the shape real scans have
    // (`key = X AND col BETWEEN lo AND hi`): the bloom sidecar's
    // string-keyed maybe-set INTERSECTED with the stats envelopes'
    // range candidates; both sidecars' counts and the intersection ride
    // in the hashed output, so the conjunction's extra skip is itself
    // under hash check
    "x166_pruned_combined" -> ((s, dir) => {
      val (table, v) = StringPrunedTableBuild(s, dir)
      val d = Tables(s, dir, "documents")
      val b = d.agg(min(col("n_chars")), max(col("n_chars"))).head()
      val (cmin, cmax) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (cmin + (cmax - cmin) * 30 / 100,
        cmin + (cmax - cmin) * 70 / 100)
      val ranges: Seq[(String, Any, Any)] = Seq(("n_chars", lo, hi))
      val statsCands = graft.util.Scan.candidateShardsByStats(
        graft.util.Scan.statsManifest(s, table), ranges)
      val keyCands = graft.util.Scan.candidateShardsByKeys(
        graft.util.Scan.bloomManifest(s, table), Seq(v))
      graft.util.Scan.readPruned(s, table, ranges, keys = Seq(v))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_id"),
          sum("n_chars").as("sum_chars"))
        .withColumn("lang_val", lit(v))
        .withColumn("n_stats_cands", lit(statsCands.size.toLong))
        .withColumn("n_key_cands", lit(keyCands.size.toLong))
        .withColumn("n_candidate_shards",
          lit(statsCands.intersect(keyCands).size.toLong))
        .orderBy("lang_val")
    }),

    // the DW fact published through writeSharded and a DAX family
    // answered OFF THE SHARDED FACT through a pruned read: the
    // reference's measures are string-predicated (`LB_type =
    // "earthquake"` — DAX Measures Used.txt:8-11), so the type label is
    // a dictionary z-order dim with a string-keyed bloom, and the
    // eq-stats measure (Q2-Q4 shape) reads only the bloom-maybe shards;
    // hash-equal to the full-scan oracle, candidate count under hash
    "x167_dax_sharded_fact" -> ((s, dir) => {
      val table =
        s"target/scan/${new java.io.File(dir).getName}/events_fact_z"
      val e = Tables(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val laid = Corpus.zorderLayoutN(e, "event_id",
        Seq("event_type", "ts_us"), bits = 8, nShards = 32,
        keepCols = Seq("event_type", "ts_us", "value"))
        .drop("cell_event_type", "cell_ts_us")
      graft.util.Scan.writeSharded(s, laid, table,
        statCols = Seq("event_type", "ts_us"), sortCol = Some("zvalue"),
        bloomKeyCol = Some("event_type"), bloomM = 1024, bloomK = 3,
        zTotalBits = Some(16), nShards = Some(32))
      val t = e.agg(min(col("event_type"))).head().getString(0)
      val cands = graft.util.Scan.candidateShardsByKeys(
        graft.util.Scan.bloomManifest(s, table), Seq(t))
      val nTotal = graft.util.Scan.statsManifest(s, table).count()
      graft.util.Scan.readPrunedByKey(s, table, "event_type", t)
        .agg(graft.util.Exact.davg(col("value")).as("avg_value"),
          max(col("value")).as("max_value"),
          count(lit(1)).as("n_events"))
        .withColumn("lb_type", lit(t))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .withColumn("n_total_shards", lit(nTotal))
        .orderBy("lb_type")
    }),

    // IN-LIST pruned read: `lang IN (lo, hi)` routes through the UNION
    // of each key's bloom-maybe shards, computed in one shards-sized
    // manifest pass; probe keys = the dict's first and last values
    // (rank 0 and max — deterministic, read from the table's own
    // persisted dict sidecar), residual IN-filter keeps exactness
    "x169_pruned_in_list" -> ((s, dir) => {
      val (table, _) = StringPrunedTableBuild(s, dir)
      val dict = graft.util.Scan.readDicts(s, table)("lang")
      val vals = dict.orderBy("rank").collect().map(_.getString(0))
      val keys: Seq[Any] = Seq(vals.head, vals.last)
      val cands = graft.util.Scan.candidateShardsByKeys(
        graft.util.Scan.bloomManifest(s, table), keys)
      val nTotal = graft.util.Scan.statsManifest(s, table).count()
      graft.util.Scan.readPruned(s, table, keys = keys)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("lang_lo", lit(vals.head))
        .withColumn("lang_hi", lit(vals.last))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .withColumn("n_total_shards", lit(nTotal))
        .orderBy("source")
    }),

    // PRUNED DELETE — takedown routed by the index: removing one
    // language rewrites ONLY the bloom-candidate shards that hold it
    // (at 100 TB a compliance delete must not rewrite the corpus);
    // touched manifests recomputed exactly in the same protocol, the
    // deleted key stops routing, and the remaining table hash-matches
    // the oracle's table-minus-key — with removed/touched/candidate
    // counts riding in the hashed output
    "x171_pruned_delete" -> ((s, dir) => {
      val (table, v) = StringPrunedTableBuild(s, dir, suffix = "_d")
      val (cands, touched, removed) =
        graft.util.Scan.deleteByKeys(s, table, Seq(v))
      s.read.parquet(table)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("lang_deleted", lit(v))
        .withColumn("n_removed", lit(removed))
        .withColumn("n_touched_shards", lit(touched.size.toLong))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .orderBy("source")
    }),

    // RETENTION DELETE — expiry routed by the stats envelopes: rows
    // with n_chars at or below the 30% point are removed by rewriting
    // only the shards whose envelope intersects the expired range (the
    // `DELETE WHERE ts < cutoff` shape every retention policy runs);
    // the surviving table hash-matches the oracle's table-minus-range,
    // counts under hash
    "x172_retention_delete" -> ((s, dir) => {
      val (table, _) = StringPrunedTableBuild(s, dir, suffix = "_rt")
      val d = Tables(s, dir, "documents")
      val b = d.agg(min(col("n_chars")), max(col("n_chars"))).head()
      val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 30 / 100
      val ranges: Seq[(String, Any, Any)] =
        Seq(("n_chars", b.getLong(0), cutoff))
      val (cands, touched, removed) =
        graft.util.Scan.deleteByRange(s, table, ranges)
      s.read.parquet(table)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("cutoff", lit(cutoff))
        .withColumn("n_removed", lit(removed))
        .withColumn("n_touched_shards", lit(touched.size.toLong))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .orderBy("source")
    }),

    // PREFIX-pruned read — `lang LIKE 'e%'` (the language-family /
    // domain-prefix shape): the string dim's stats envelopes are
    // native UTF8-ordered min/max, so every 'e%' match lies in the
    // half-open range ['e', 'f') and the prefix routes the SAME
    // envelope a range does — no new sidecar machinery; the residual
    // startswith keeps exactness, candidate counts under hash
    "x173_pruned_prefix" -> ((s, dir) => {
      val (table, _) = StringPrunedTableBuild(s, dir)
      val cands = graft.util.Scan.candidateShardsByPrefix(
        graft.util.Scan.statsManifest(s, table), "lang", "e")
      val nTotal = graft.util.Scan.statsManifest(s, table).count()
      graft.util.Scan.readPrunedByPrefix(s, table, "lang", "e")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .withColumn("n_total_shards", lit(nTotal))
        .orderBy("lang")
    }),

    // MERGE UPSERT on the sharded z-ordered table — the reference's
    // fact MERGE (dw2_delta_load2.py:101-131) at lakehouse scale:
    // staged rows (updates re-sourced 'merged' + brand-new 'inserted'
    // ids) replace-or-insert by rewriting ONLY the key-bloom candidate
    // shards (deleteByKeys) then appending at their curve positions
    // (appendSharded); the final per-source aggregate hash-matches the
    // oracle's table-minus-matched ∪ staged, with replaced/touched/
    // candidate counts under hash
    "x175_upsert_sharded" -> ((s, dir) => {
      val table =
        s"target/scan/${new java.io.File(dir).getName}/documents_z_up"
      val d = Tables(s, dir, "documents")
      // persisted: the dict feeds the bounds agg, both lay() calls and
      // the sidecar write — unpersisted, each re-runs distinct+rank
      val dict = Corpus.stringDimDict(d, "lang").persist()
      val bounds = dict.agg(min(col("rank")).as("_min_lang"),
          max(col("rank")).as("_max_lang"))
        .crossJoin(d.agg(
          min(col("n_chars")).as("_min_n_chars"),
          max(col("n_chars")).as("_max_n_chars")))
      def lay(df: org.apache.spark.sql.DataFrame) =
        Corpus.zorderLayoutAgainstN(df, bounds, "doc_id",
          Seq("lang", "n_chars"), bits = 8, nShards = 32,
          keepCols = Seq("lang", "n_chars", "source"),
          dicts = Map("lang" -> dict))
          .drop("cell_lang", "cell_n_chars")
      graft.util.Scan.writeSharded(s, lay(d), table,
        statCols = Seq("lang", "n_chars"), sortCol = Some("zvalue"),
        bloomKeyCol = Some("doc_id"), bloomM = 4096, bloomK = 3,
        zTotalBits = Some(16), nShards = Some(32),
        dicts = Map("lang" -> dict))
      val upd = d.filter(col("doc_id") % 100 === 3)
        .withColumn("source", lit("merged"))
      val ins = d.filter(col("doc_id") % 100 === 4)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("source", lit("inserted"))
      val (cands, touched, removed) = graft.util.Scan.upsertSharded(s,
        table, lay(upd.unionByName(ins)), "doc_id")
      s.read.parquet(table)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("n_replaced", lit(removed))
        .withColumn("n_touched_shards", lit(touched.size.toLong))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .orderBy("source")
    }),

    // MERGE-ON-READ delete (DELETION VECTORS) — the scattered-takedown
    // answer: deleteByKeysDeferred masks the median language as
    // (shard, key) pairs in the _graft_dv sidecar (NO shard rewritten —
    // one metadata swap, where x171's rewrite pays I/O ∝ touched
    // shards), logical reads anti-join the mask out, and
    // applyDeletionVectors later rewrites exactly the DV shards and
    // clears the mask. Both phases' per-source aggregates are hashed
    // and must be identical — deferred and applied ARE the same
    // logical table; counts (candidates, DV shards, rows masked, rows
    // physically removed) ride under hash
    "x176_dv_delete" -> ((s, dir) => {
      val (table, v) = StringPrunedTableBuild(s, dir, suffix = "_mor")
      val (cands, touched, removed) =
        graft.util.Scan.deleteByKeysDeferred(s, table, Seq(v))
      val allShards = graft.util.Scan.statsManifest(s, table)
        .select(col("shard").cast("int")).collect()
        .map(_.getInt(0)).toSeq
      def snap() = graft.util.Scan.readShards(s, table, allShards)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      // the deferred-phase aggregate is pinned DRIVER-SIDE before the
      // vector is applied — a cached-but-evictable plan would lazily
      // recompute against the mutated table (the ADVICE r15 hazard)
      val deferredRows = snap().collect().toSeq
      val deferred = s.createDataFrame(
        s.sparkContext.parallelize(deferredRows, 1), snap().schema)
        .withColumn("phase", lit("deferred"))
      val (applied, removedPhys) =
        graft.util.Scan.applyDeletionVectors(s, table)
      deferred.unionByName(snap().withColumn("phase", lit("applied")))
        .withColumn("lang_deleted", lit(v))
        .withColumn("n_removed", lit(removed))
        .withColumn("n_dv_shards", lit(touched.size.toLong))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .withColumn("n_phys_removed", lit(removedPhys))
        .withColumn("n_applied_shards", lit(applied.size.toLong))
        .orderBy("phase", "source")
    }),

    // SCHEMA EVOLUTION under hash check — add-column as a METADATA op
    // (at 100 TB an ALTER TABLE ADD COLUMN must not republish): corpus
    // published WITHOUT `quality`, evolveAddColumn declares it, the
    // batch appends WITH it; the pruned read on the string dim then
    // spans pre-evolution (null-filled) and post-evolution files in
    // the same shards, sum(quality) proving the null-fill, and the
    // new column's candidate count proving pre-evolution shards are
    // skipped by predicates on it for free (NULL envelopes)
    "x174_schema_evolution" -> ((s, dir) => {
      val table =
        s"target/scan/${new java.io.File(dir).getName}/documents_z_evo"
      val d = Tables(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 7 =!= 0)
      val batch0 = d.filter(col("doc_id") % 7 === 0)
        .withColumn("quality", col("n_chars") % 100)
      val dict = Corpus.stringDimDict(corpus, "lang")
      val bounds = dict.agg(min(col("rank")).as("_min_lang"),
          max(col("rank")).as("_max_lang"))
        .crossJoin(corpus.agg(
          min(col("n_chars")).as("_min_n_chars"),
          max(col("n_chars")).as("_max_n_chars")))
      def lay(df: org.apache.spark.sql.DataFrame, keep: Seq[String]) =
        Corpus.zorderLayoutAgainstN(df, bounds, "doc_id",
          Seq("lang", "n_chars"), bits = 8, nShards = 32,
          keepCols = keep, dicts = Map("lang" -> dict))
          .drop("cell_lang", "cell_n_chars")
      graft.util.Scan.writeSharded(s,
        lay(corpus, Seq("lang", "n_chars")), table,
        statCols = Seq("lang", "n_chars"), sortCol = Some("zvalue"),
        zTotalBits = Some(16), nShards = Some(32),
        dicts = Map("lang" -> dict))
      graft.util.Scan.evolveAddColumn(s, table, "quality",
        org.apache.spark.sql.types.LongType)
      graft.util.Scan.appendSharded(s,
        lay(batch0, Seq("lang", "n_chars", "quality")), table, "doc_id")
      val v = dict
        .join(dict.agg(((max(col("rank")) + 0L) / 2).cast("long")
          .as("rank")), Seq("rank"))
        .head().getAs[String]("value")
      val qCands = graft.util.Scan.candidateShardsByStats(
        graft.util.Scan.statsManifest(s, table),
        Seq(("quality", 0L, 49L)))
      val nTotal = graft.util.Scan.statsManifest(s, table).count()
      graft.util.Scan.readPrunedByRange(s, table,
        Seq(("lang", v, v)))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("quality").as("sum_quality"))
        .withColumn("lang_val", lit(v))
        .withColumn("n_quality_cands", lit(qCands.size.toLong))
        .withColumn("n_total_shards", lit(nTotal))
        .orderBy("lang_val")
    }),

    // TARGETED COMPACTION under hash check — the maintenance verb a
    // per-batch trigger can afford: the appended batch gives every
    // corpus∩batch shard a second file; compactShardsTargeted rewrites
    // EXACTLY those shards (batch-only single-file shards and
    // untouched corpus shards are never read or written), after which
    // every shard is back to one file and the pruned read is
    // transparent across the rewrite; breaching-shard and
    // files-before counts ride under hash
    "x179_targeted_compact" -> ((s, dir) => {
      val table =
        s"target/scan/${new java.io.File(dir).getName}/documents_z_tc"
      val d = Tables(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 7 =!= 0)
      val batch = d.filter(col("doc_id") % 7 === 0)
      val dict = Corpus.stringDimDict(corpus, "lang")
      val bounds = dict.agg(min(col("rank")).as("_min_lang"),
          max(col("rank")).as("_max_lang"))
        .crossJoin(corpus.agg(
          min(col("n_chars")).as("_min_n_chars"),
          max(col("n_chars")).as("_max_n_chars")))
      def lay(df: org.apache.spark.sql.DataFrame) =
        Corpus.zorderLayoutAgainstN(df, bounds, "doc_id",
          Seq("lang", "n_chars"), bits = 8, nShards = 32,
          keepCols = Seq("lang", "n_chars", "source"),
          dicts = Map("lang" -> dict))
          .drop("cell_lang", "cell_n_chars")
      graft.util.Scan.writeSharded(s, lay(corpus), table,
        statCols = Seq("lang", "n_chars"), sortCol = Some("zvalue"),
        zTotalBits = Some(16), nShards = Some(32),
        dicts = Map("lang" -> dict))
      graft.util.Scan.appendSharded(s, lay(batch), table, "doc_id")
      val (breached, filesBefore) =
        graft.util.Compaction.compactShardsTargeted(s, table,
          maxFilesPerShard = 1)
      val v = dict
        .join(dict.agg(((max(col("rank")) + 0L) / 2).cast("long")
          .as("rank")), Seq("rank"))
        .head().getAs[String]("value")
      graft.util.Scan.readPrunedByRange(s, table, Seq(("lang", v, v)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("lang_val", lit(v))
        .withColumn("n_breaching_shards", lit(breached.size.toLong))
        .withColumn("n_files_before", lit(filesBefore.toLong))
        .orderBy("source")
    }),

    // STREAMING TAKEDOWN over deletion vectors — the removal FEED is
    // the stream and the sharded table is the target: the mount masks
    // each batch's keys in the deletion vector (no shard rewritten;
    // replayed batches re-mask as no-ops), and the later physical
    // application rewrites only the DV shards. Both phases' aggregates
    // hash-identical — the takedown is visible to every logical read
    // the moment the batch commits, not when the rewrite happens
    "x178_takedown_stream" -> ((s, dir) => {
      val (table, v) = StringPrunedTableBuild(s, dir, suffix = "_tds")
      val root =
        s"target/scan/${new java.io.File(dir).getName}/takedown_stream"
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$root/feed"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/feed/takedown-1.json"),
        s"""{"key":"$v"}""".getBytes("UTF-8"))
      val q = graft.streaming.DeltaStream.startTakedownMaintained(s,
        s"$root/feed", table, s"$root/ckpt")
      q.processAllAvailable()
      q.stop()
      val nDv = graft.util.Scan.deletionVector(s, table)
        .map(_.count()).getOrElse(0L)
      val allShards = graft.util.Scan.statsManifest(s, table)
        .select(col("shard").cast("int")).collect()
        .map(_.getInt(0)).toSeq
      def snap() = graft.util.Scan.readShards(s, table, allShards)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      val deferredRows = snap().collect().toSeq
      val deferred = s.createDataFrame(
        s.sparkContext.parallelize(deferredRows, 1), snap().schema)
        .withColumn("phase", lit("deferred"))
      val (applied, removedPhys) =
        graft.util.Scan.applyDeletionVectors(s, table)
      deferred.unionByName(snap().withColumn("phase", lit("applied")))
        .withColumn("lang_deleted", lit(v))
        .withColumn("n_dv_entries", lit(nDv))
        .withColumn("n_phys_removed", lit(removedPhys))
        .withColumn("n_applied_shards", lit(applied.size.toLong))
        .orderBy("phase", "source")
    }),

    // SCHEMA EVOLUTION, drop side — DROP COLUMN as a METADATA op: the
    // corpus publishes WITH `quality` (stats and all), evolveDropColumn
    // stops declaring it (reads project it away — old files keep the
    // bytes, never deserialized), the appended batch no longer carries
    // it, and the next compaction physically reclaims it. Hashed: the
    // pruned aggregate over the narrowed table, the logical column
    // absence, and the physical column counts before/after the
    // compaction (mergeSchema union — 6 evolved, 5 compacted)
    "x177_schema_drop" -> ((s, dir) => {
      val table =
        s"target/scan/${new java.io.File(dir).getName}/documents_z_drop"
      val d = Tables(s, dir, "documents")
        .withColumn("quality", col("n_chars") % 100)
      val corpus = d.filter(col("doc_id") % 7 =!= 0)
      val batch = d.filter(col("doc_id") % 7 === 0)
      val dict = Corpus.stringDimDict(corpus, "lang")
      val bounds = dict.agg(min(col("rank")).as("_min_lang"),
          max(col("rank")).as("_max_lang"))
        .crossJoin(corpus.agg(
          min(col("n_chars")).as("_min_n_chars"),
          max(col("n_chars")).as("_max_n_chars")))
      def lay(df: org.apache.spark.sql.DataFrame, keep: Seq[String]) =
        Corpus.zorderLayoutAgainstN(df, bounds, "doc_id",
          Seq("lang", "n_chars"), bits = 8, nShards = 32,
          keepCols = keep, dicts = Map("lang" -> dict))
          .drop("cell_lang", "cell_n_chars")
      graft.util.Scan.writeSharded(s,
        lay(corpus, Seq("lang", "n_chars", "quality")), table,
        statCols = Seq("lang", "n_chars", "quality"),
        sortCol = Some("zvalue"), zTotalBits = Some(16),
        nShards = Some(32), dicts = Map("lang" -> dict))
      graft.util.Scan.evolveDropColumn(s, table, "quality")
      graft.util.Scan.appendSharded(s,
        lay(batch, Seq("lang", "n_chars")), table, "doc_id")
      def physCols() = s.read.option("mergeSchema", "true")
        .parquet(table).columns.length.toLong
      val nPhysEvolved = physCols()
      graft.util.Compaction.compactSharded(s, table)
      val nPhysCompacted = physCols()
      val v = dict
        .join(dict.agg(((max(col("rank")) + 0L) / 2).cast("long")
          .as("rank")), Seq("rank"))
        .head().getAs[String]("value")
      val pruned = graft.util.Scan.readPrunedByRange(s, table,
        Seq(("lang", v, v)))
      pruned
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"))
        .withColumn("lang_val", lit(v))
        .withColumn("has_quality_logical",
          lit(pruned.columns.contains("quality")))
        .withColumn("n_phys_cols_evolved", lit(nPhysEvolved))
        .withColumn("n_phys_cols_compacted", lit(nPhysCompacted))
        .orderBy("lang_val")
    }),

    // the MANIFEST STALENESS fold under hash check: corpus slice
    // published, batch slice appended through appendSharded's
    // manifest-first fold — the per-shard (n_rows, _stale_rows) pairs
    // the refresh trigger reads are exactly the per-shard total and
    // batch-entered counts, which the oracle computes independently
    // from the same frozen-frame assignment; after refreshManifests
    // the staleness column must read zero everywhere (also hashed)
    "x170_manifest_staleness" -> ((s, dir) => {
      val table =
        s"target/scan/${new java.io.File(dir).getName}/documents_z_stale"
      val d = Tables(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 7 =!= 0)
      val batch = d.filter(col("doc_id") % 7 === 0)
      val dict = Corpus.stringDimDict(corpus, "lang")
      val bounds = dict.agg(min(col("rank")).as("_min_lang"),
          max(col("rank")).as("_max_lang"))
        .crossJoin(corpus.agg(
          min(col("n_chars")).as("_min_n_chars"),
          max(col("n_chars")).as("_max_n_chars")))
      def lay(df: org.apache.spark.sql.DataFrame) =
        Corpus.zorderLayoutAgainstN(df, bounds, "doc_id",
          Seq("lang", "n_chars"), bits = 8, nShards = 32,
          keepCols = Seq("lang", "n_chars"),
          dicts = Map("lang" -> dict))
          .drop("cell_lang", "cell_n_chars")
      graft.util.Scan.writeSharded(s, lay(corpus), table,
        statCols = Seq("lang", "n_chars"), sortCol = Some("zvalue"),
        zTotalBits = Some(16), nShards = Some(32),
        dicts = Map("lang" -> dict))
      graft.util.Scan.appendSharded(s, lay(batch), table, "doc_id")
      // shards-sized collect BEFORE the refresh replaces the sidecar a
      // lazy plan would still be reading
      val folded = graft.util.Scan.statsManifest(s, table)
        .select(col("shard").cast("int"), col("n_rows"),
          col("_stale_rows"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSeq
      graft.util.Scan.refreshManifests(s, table)
      val zeroAfter = graft.util.Scan.statsManifest(s, table)
        .agg(sum(col("_stale_rows")).as("z")).head().getLong(0)
      import s.implicits._
      folded.toDF("shard", "n_rows", "stale_rows")
        .withColumn("stale_after_refresh", lit(zeroAfter))
        .orderBy("shard")
    }),

    // SHARD-COUNT EVOLUTION under a pruned read: the published table
    // re-laid-out to a different nShards from its PERSISTED curve
    // positions (zvalue · newN >> z_total_bits — the meta sidecar
    // carries the shift), manifests rebuilt in the same atomic swap;
    // the same string-predicated scan stays hash-equal (transparency
    // across the re-shard), with the NEW candidate counts under hash
    "x168_pruned_after_reshard" -> ((s, dir) => {
      val (table, v) = StringPrunedTableBuild(s, dir, suffix = "_r")
      graft.util.Compaction.reshardSharded(s, table, newNShards = 8)
      val ranges: Seq[(String, Any, Any)] = Seq(("lang", v, v))
      val cands = graft.util.Scan.candidateShardsByStats(
        graft.util.Scan.statsManifest(s, table), ranges)
      val nTotal = graft.util.Scan.statsManifest(s, table).count()
      graft.util.Scan.readPrunedByRange(s, table, ranges)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("lang_val", lit(v))
        .withColumn("n_candidate_shards", lit(cands.size.toLong))
        .withColumn("n_total_shards", lit(nTotal))
        .orderBy("source")
    }),

    // FLAGSHIP tokenizer-aware layout: BPE-apply the trained merges (x148)
    // and pack training sequences by the TRUE subword counts (x51's
    // concat-then-chunk offsets) — the layout a loader actually consumes
    // is in tokenizer units, not whitespace words; both stages the
    // standalone library calls, composed and hash-verified
    "x150_bpe_layout_e2e" -> ((s, dir) => {
      import s.implicits._
      val merges = BpeFixture.toDF("rank", "left", "right")
      val docs = Tables(s, dir, "documents")
      val tok = TextAnalysis.bpeApply(docs, "text", "doc_id", merges)
        .select(col("doc_id"), col("n_tokens"))
      val d = docs.select(col("doc_id"), col("lang")).join(tok, Seq("doc_id"))
      Corpus.packSequences(d, "lang", "doc_id", "n_tokens", 1024L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("tok_offset"), col("seq_idx"), col("seq_pos"))
        .orderBy("doc_id")
    }),

    // incremental exact-substring screen: the arriving batch (doc_id % 7
    // = 0) anchored against the corpus slice's maintained winnow picks,
    // extension verified against candidate corpus texts only — per-batch
    // work ∝ batch, the corpus never re-winnowed (x60/x92's contract for
    // the exact-substring family)
    "x152_exact_substring_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      Dedup.exactSubstringAgainst(d.filter(col("doc_id") % 7 === 0),
        d.filter(col("doc_id") % 7 =!= 0), "text", "doc_id",
        minTokens = 8, k = 4)
        .orderBy("doc_a", "doc_b", "a_pos", "b_pos")
    }),

    // the REMOVAL step of exact-substring dedup: every >= 8-token maximal
    // run keeps only its smallest-id owner's occurrence; per doc the
    // surviving text + removal counts (x53's convention at exact
    // maximal-run granularity)
    "x151_exact_substring_strip" -> ((s, dir) => {
      Dedup.exactSubstringStrip(Tables(s, dir, "documents"), "text",
        "doc_id", minTokens = 8, k = 4)
        .orderBy("doc_id")
    }),

    // exact-substring dedup (Lee et al. 2022 §3): every maximal cross-doc
    // shared run of >= 8 tokens, found through the winnowing screen (k=4,
    // w=5 — coverage guarantee makes the screen sound) and verified by
    // exact token extension; the oracle computes the same set from raw
    // 8-gram equality with no winnowing, so the screen itself is under test
    "x149_exact_substring_dups" -> ((s, dir) => {
      Dedup.exactSubstringDups(Tables(s, dir, "documents"), "text", "doc_id",
        minTokens = 8, k = 4)
        .orderBy("doc_a", "doc_b", "a_pos", "b_pos")
    }),

    // temperature mixture at α=½: stratum weights √T_s (IEEE sqrt —
    // engine-exact, unlike pow) derived from the corpus itself, then the
    // same exact mixture fill as x58 — the XLM-R/mT5 low-resource
    // upsampling rule with no hand-written share table
    "x107_temperature_mix" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("n_toks"))
      val shares = Corpus.temperatureShares(d, "lang", "n_toks")
      Corpus.mixtureSample(d, "lang", "doc_id", "n_toks", shares)
        .select(col("doc_id"), col("lang"), col("n_toks"), col("cum_tokens"))
        .orderBy("doc_id")
    }),

    // distinct-n diversity profile: per language and n ∈ {1,2,3}, the
    // distinct/total n-gram ratio — template-heavy slices surface before
    // training on them; all orders ride one corpus pass
    "x104_ngram_diversity" -> ((s, dir) => {
      Corpus.ngramDiversity(Tables(s, dir, "documents"), "lang", "text",
        ns = Seq(1, 2, 3))
        .orderBy("lang", "n")
    }),

    // corpus-derived stopword coverage: each doc scored against its own
    // language's top-20 head terms — the no-external-resource CCNet
    // common-words signal; low coverage marks gibberish/wrong-language
    "x105_stopword_coverage" -> ((s, dir) => {
      Corpus.stopwordCoverage(Tables(s, dir, "documents"), "lang", "text",
        "doc_id", k = 20)
        .orderBy("doc_id")
    }),

    // x101's production contract: per-stratum term counts MAINTAINED
    // (additive — corpus slice counted once, batch counts summed in by
    // key), vocabulary planning re-runs without touching corpus text;
    // the shared full-corpus oracle is the additivity proof
    "x112_head_coverage_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val corpusCounts = Maintained.table(s, s"$dir/documents.parquet",
        "strata_term_counts_mod3") {
        Corpus.strataTermCounts(d.filter(col("doc_id") % 3 =!= 0),
          "lang", "text")
      }
      val batchCounts = Corpus.strataTermCounts(
        d.filter(col("doc_id") % 3 === 0), "lang", "text")
      val merged = corpusCounts.unionByName(batchCounts)
        .groupBy(col("lang"), col("term")).agg(sum(col("_cnt")).as("_cnt"))
      Corpus.headCoverageFromCounts(merged, "lang",
        fracs = Seq((1, 2), (9, 10), (99, 100)))
        .orderBy("lang", "frac")
    }),

    // Zipf head-coverage planning: smallest per-language head vocabulary
    // covering 50% / 90% / 99% of token mass — exact-rational crossing
    // test over the two-pass ranked prefix sum
    "x101_head_coverage" -> ((s, dir) => {
      Corpus.headCoverage(Tables(s, dir, "documents"), "lang", "text",
        fracs = Seq((1, 2), (9, 10), (99, 100)))
        .orderBy("lang", "frac")
    }),

    // t-closeness over the same QI/sensitive choice as x86 — the third
    // privacy gate: class-vs-corpus total-variation distance of the lang
    // distribution, exact-integer verdict at t = 1/4
    "x100_t_closeness" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("lang"), col("source"),
          floor(col("n_chars") / lit(200.0)).cast("int").as("size_bucket"))
      Privacy.tClosenessReport(d, Seq("source", "size_bucket"), "lang",
        tNum = 1, tDen = 4).orderBy("source", "size_bucket")
    }),

    // margin-based cross-set neighbor mining: label-0 vectors as queries
    // vs the rest as index, IVF-cell-routed candidates, top-2 cosines,
    // accept on the cos1−cos2 margin (Artetxe & Schwenk criterion)
    "x83_margin_mine" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.marginMine(e.filter(col("label") === 0),
        e.filter(col("label") =!= 0), "vec_id", "embedding",
        nCells = 16, minMargin = 0.05)
        .orderBy("vec_id")
    }),

    // distributed BPE-statistics round: top adjacent character-pair counts
    // (the per-merge-round argmax statistic of a tokenizer build);
    // map-only explode, charset²-bounded agg, TakeOrdered top-K
    "x85_bpe_pair_counts" -> ((s, dir) => {
      Corpus.bpePairCounts(Tables(s, dir, "documents"), "text", topK = 40)
    }),

    // per-source boilerplate strip (C4/CCNet frequent-line rule over token
    // tiles): a tile in >15% of a source's docs is removed EVERYWHERE —
    // the complementary rule to x53's first-occurrence-wins
    "x84_boilerplate_strip" -> ((s, dir) => {
      Dedup.boilerplateStrip(Tables(s, dir, "documents"), "text", "doc_id",
        "source", segTokens = 2, maxDocFrac = 0.15)
        .orderBy("doc_id")
    }),

    // DSIR-style importance weighting: hashed-unigram affinity of every
    // doc to the lang='en' target slice vs the raw corpus — exact integer
    // masses, two bounded bucket tables, map-only scoring pass
    "x81_importance_weight" -> ((s, dir) => {
      Corpus.importanceAffinity(Tables(s, dir, "documents"), "text",
        "doc_id", targetPred = col("lang") === "en", buckets = 256)
        .orderBy("doc_id")
    }),

    // k-anonymity suppression on (lang, source, size-band) quasi-
    // identifiers: rows whose QI equivalence class has < 5 members come
    // back with the QIs nulled — release-gate for corpus metadata
    "x82_k_anonymity" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          floor(col("n_chars") / lit(200.0)).cast("int").as("size_bucket"))
      Privacy.kAnonymitySuppress(d, Seq("lang", "source", "size_bucket"),
        k = 5).orderBy("doc_id")
    }),

    // full Lloyd k-means (2 rounds, k=8) + final assignment — the
    // standalone clustering operator; decimal-exact means, deterministic
    // seeds/ties, one broadcast + one (cell,dim) agg per round
    "x79_kmeans_assign" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        k = 8, iters = 2)
      Similarity.cellAssignmentsAgainst(e, "vec_id", "embedding", cents)
        .orderBy("vec_id")
    }),

    // centroid-based example pruning: keep each label's most prototypical
    // 70% by cosine-to-centroid (Sorscher et al. 2022 signal); decimal-
    // exact centroids, rank via the range-partitioned two-pass shape
    "x72_embed_outlier_prune" -> ((s, dir) => {
      val pro = Similarity.centroidPrototypicality(
        Tables(s, dir, "embeddings"), "label", "vec_id", "embedding")
      Corpus.topFractionByMetric(pro, "label", "vec_id", "proto_cos", q = 0.7)
        .select(col("label"), col("vec_id"),
          round(col("proto_cos"), 9).as("proto_cos"), col("pct_rank"))
        .orderBy("label", "vec_id")
    }),

    // incremental corpus accounting: dataset-card stats per (lang, source)
    // cell, built as the ADDITIVE merge of two disjoint batch tables —
    // the oracle is the straight full-corpus GROUP BY, so the hash check
    // itself proves merge(table(a), table(b)) = table(a ∪ b)
    "x74_corpus_stats_incr" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val a = Corpus.corpusStatsTable(
        d.filter(col("doc_id") % 3 =!= 0), "lang", "source", "text")
      val b = Corpus.corpusStatsTable(
        d.filter(col("doc_id") % 3 === 0), "lang", "source", "text")
      Corpus.mergeCorpusStats(a, b).orderBy("lang", "source")
    }),

    // top-3 TF-IDF keywords per document (raw-idf rational scoring,
    // term-tiebroken)
    "x55_tfidf_terms" -> ((s, dir) => {
      Corpus.tfidfTopTerms(Tables(s, dir, "documents"), "text", "doc_id",
        k = 3)
        .orderBy("doc_id", "term")
    }),

    // balanced training-shard assignment: serpentine fill of 8 shards over
    // the (tokens desc, md5) global order — rank via the range-partitioned
    // two-pass shape, no global-sort reducer
    "x56_shard_assign" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("n_toks"))
      Corpus.shardAssign(d, "doc_id", "n_toks", nShards = 8)
        .orderBy("doc_id")
    }),

    // mixture sampling to target proportions: largest budget every target
    // language can supply (B = min ⌊T_s/w_s⌋), each stratum greedy-fills
    // its ⌊w_s·B⌋ quota in md5 order; es/zh excluded by omission
    "x58_mixture_sample" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("n_toks"))
      Corpus.mixtureSample(d, "lang", "doc_id", "n_toks",
        Seq("en" -> 0.5, "fr" -> 0.2, "de" -> 0.3))
        .select(col("doc_id"), col("lang"), col("n_toks"), col("cum_tokens"))
        .orderBy("doc_id")
    }),

    // quantile-threshold quality gate: keep the top 40% of each language
    // by distinct-token ratio (rank via Ranks.byValue, exact kept-count)
    "x57_quality_topfrac" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      val metric = d.select(col("lang"), col("doc_id"),
        (size(array_distinct(toks)).cast("double") / size(toks))
          .as("distinct_token_ratio"))
      Corpus.topFractionByMetric(metric, "lang", "doc_id",
        "distinct_token_ratio", q = 0.4)
        .orderBy("lang", "doc_id")
    }),

    // multimodal ingestion: binary payload + md5-derived typed metadata
    "x13_media_meta" -> ((s, dir) => {
      Multimodal.deriveMediaTable(Tables(s, dir, "documents"), "doc_id", "text")
        .select(col("media_id"), col("kind"),
          length(col("payload")).as("n_bytes"), md5(col("payload")).as("payload_md5"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.n_frames").as("n_frames"), col("meta.format").as("format"))
        .orderBy("media_id")
    }),

    // video frame sampling: every 5th frame index, deterministic frame ids
    "x14_frame_sample" -> ((s, dir) => {
      Multimodal.sampleFrames(
        Multimodal.deriveMediaTable(Tables(s, dir, "documents"), "doc_id", "text"), 5)
        .orderBy("media_id", "frame_no")
    }),

    // decode (stubbed codec, real typed mapPartitions plumbing) + resize.
    // The resized feature vector is projected to scalar double columns so
    // the driver's pandas comparator can sort/hash the output (arrays are
    // unhashable there); byte/255.0 and the mean-byte brightness are exact
    // in double, so values compare bit-for-bit with the DuckDB oracle.
    "x15_decode_resize" -> ((s, dir) => {
      Multimodal.resizeFeatures(
        Multimodal.decode(
          Multimodal.deriveMediaTable(Tables(s, dir, "documents"), "doc_id", "text")),
        stride = 4)
        .select(col("media_id"), col("kind"),
          element_at(col("features_small"), 1).as("f0"),
          element_at(col("features_small"), 2).as("f1"),
          element_at(col("features_small"), 3).as("f2"),
          element_at(col("features_small"), 4).as("f3"),
          col("brightness"))
        .orderBy("media_id")
    }),

    // REAL image decode: genuine PNG payloads (javax.imageio encode per
    // partition) round-tripped through the JDK codec — decoded width/
    // height, first-pixel features, and exact mean-gray brightness. The
    // oracle reproduces the lossless round-trip arithmetically from the
    // deterministic pixel formula; matching hashes prove the real codec
    // path end-to-end.
    "x120_png_decode" -> ((s, dir) => {
      Multimodal.decode(
        Multimodal.derivePngMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 2).as("f1"),
          element_at(col("features"), 3).as("f2"),
          element_at(col("features"), 4).as("f3"),
          col("brightness"))
        .orderBy("media_id")
    }),

    // REAL audio decode: genuine RIFF/WAVE payloads (javax.sound.sampled
    // encode per partition, 8-bit unsigned PCM) round-tripped through the
    // JDK audio codec — first-sample features and exact mean level; the
    // oracle reproduces the lossless round-trip arithmetically
    "x124_wav_decode" -> ((s, dir) => {
      Multimodal.decode(
        Multimodal.deriveWavMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF()
        .select(col("media_id"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 2).as("f1"),
          element_at(col("features"), 3).as("f2"),
          element_at(col("features"), 4).as("f3"),
          col("brightness").as("level"))
        .orderBy("media_id")
    }),

    // REAL video container-metadata parse: genuine ISO-BMFF payloads
    // (ftyp/moov/mvhd/trak boxes, encoded per partition) walked
    // byte-for-byte by Multimodal.mp4Meta — duration, timescale, track
    // count; the oracle reproduces the deterministic box contents
    // arithmetically. Frame decode stays out of scope (no JDK video
    // codec) — and at 100 TB this is the pass curation runs anyway:
    // duration/track filters read container metadata, never frames
    "x141_mp4_meta" -> ((s, dir) => {
      Multimodal.mp4MetaTable(
        Multimodal.deriveMp4MediaTable(Tables(s, dir, "documents"), "doc_id"))
        .orderBy("media_id")
    }))

  // ── oracle SQL ──

  /** One min-hash slice: 8 hex chars (32 bits) of md5 number j/4 as a
    * bigint — mirrors Dedup.minhashSignatures exactly.
    */
  private def mhSlice(j: Int, shCol: String) =
    s"min(CAST(concat('0x', substr(md5('${j / 4}|' || $shCol), ${1 + 8 * (j % 4)}, 8)) AS BIGINT)) AS m$j"

  private def minhashSigSql: String = {
    val mins = (0 until 8).map(j => mhSlice(j, "sh")).mkString(", ")
    s"""WITH norm AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
       |sh AS (SELECT doc_id, substr(t, CAST(i AS INT), 5) AS sh
       |       FROM norm, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS u(i))
       |SELECT doc_id, $mins FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** MinHash-LSH pair detection, parameterized by the candidate predicate:
    * `a.doc_id < b.doc_id` is the corpus self-join (x3); the disjoint
    * new-vs-existing split is the incremental variant (x36).
    */
  private def minhashLshCoreSql(candPred: String): String = {
    val (k, nBands, shLen) = (16, 4, 7)
    val r = k / nBands
    val mins = (0 until k).map(j => mhSlice(j, "s")).mkString(", ")
    val bands = (0 until nBands).map { b =>
      val ms = (b * r until (b + 1) * r).map(j => s"m$j::VARCHAR").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($ms) AS bucket FROM sig"
    }.mkString("\n UNION ALL ")
    s"""WITH norm AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
       |sh AS (SELECT doc_id, substr(t, CAST(i AS INT), $shLen) AS s
       |       FROM norm, unnest(generate_series(1, greatest(length(t) - ${shLen - 1}, 1))) AS u(i)),
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bucket = b.bucket AND $candPred),
       |shd AS (SELECT DISTINCT doc_id, s FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
       |          FROM cand c
       |          JOIN shd sa ON sa.doc_id = c.doc_a
       |          JOIN shd sb ON sb.doc_id = c.doc_b AND sa.s = sb.s
       |          GROUP BY c.doc_a, c.doc_b)
       |SELECT i.doc_a, i.doc_b, i.inter, na.n + nb.n - i.inter AS uni
       |FROM inter i JOIN sizes na ON na.doc_id = i.doc_a
       |             JOIN sizes nb ON nb.doc_id = i.doc_b
       |WHERE i.inter * 5 >= (na.n + nb.n - i.inter) * 4
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private def minhashLshSql: String = minhashLshCoreSql("a.doc_id < b.doc_id")

  private def neardupIncrementalSql: String =
    minhashLshCoreSql("a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0")

  /** Shared CTE body computing (doc_id, simhash) — used by x4 and x21. */
  private def simhashCore: String = simhashCoreOver("documents")

  /** [[simhashCore]] parameterized over its source relation so composed
    * oracles (x47) can simhash a CTE subset instead of the whole table.
    */
  private def simhashCoreOver(src: String): String = {
    val bits = 48
    val votes = (1 to bits).map(i =>
      s"sum(CASE WHEN substr(h, $i, 1) IN $highNibbles THEN 1 ELSE -1 END) AS v$i")
      .mkString(", ")
    val pack = (1 to bits).map(i =>
      s"CASE WHEN v$i >= 0 THEN CAST(${1L << (bits - i)} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""toks AS (SELECT doc_id, md5(t) || md5('1|' || t) AS h FROM
       |  (SELECT doc_id, unnest(string_split(${normSql("text")}, ' ')) AS t FROM $src)),
       |v AS (SELECT doc_id, $votes FROM toks GROUP BY doc_id),
       |fp AS (SELECT doc_id, $pack AS simhash FROM v)""".stripMargin
  }

  private def simhashSql: String =
    s"""WITH $simhashCore
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin

  /** Banding + candidate CTEs over `fp` — shared by x21 and x29. */
  private def simhashBandCtes: String =
    """banded AS (SELECT doc_id, b AS band, (simhash >> (b * 12)) & 4095 AS bv
      |           FROM fp, unnest([0, 1, 2, 3]) AS u(b)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM banded a JOIN banded b
      |           ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)""".stripMargin

  private def simhashNearDupSql: String =
    s"""WITH $simhashCore,
       |$simhashBandCtes
       |SELECT c.doc_a, c.doc_b,
       |  CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
       |FROM cand c JOIN fp fa ON fa.doc_id = c.doc_a
       |            JOIN fp fb ON fb.doc_id = c.doc_b
       |WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** x29: recursive-CTE transitive closure over the x21 pair set — each
    * member reaches every node in its component; min reached id is the
    * canonical survivor.
    */
  private def dedupClustersSql: String =
    s"""WITH RECURSIVE $simhashCore,
       |$simhashBandCtes,
       |p AS (SELECT c.doc_a, c.doc_b
       |      FROM cand c JOIN fp fa ON fa.doc_id = c.doc_a
       |                  JOIN fp fb ON fb.doc_id = c.doc_b
       |      WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3),
       |e AS (SELECT doc_a AS s, doc_b AS d FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT s AS id, s AS r FROM e
       |          UNION
       |          SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d)
       |SELECT min(r) AS canonical_id, id AS member_id
       |FROM reach GROUP BY id ORDER BY canonical_id, member_id""".stripMargin

  /** BM25 ranked CTE chain (mirror of `Corpus.bm25TopK`): every
    * arithmetic step matches the Spark side exactly — long products
    * inside the CASTs are exact integers, the score is ONE IEEE division
    * per term, quantized with floor(q·10⁶) and summed as exact BIGINTs
    * (DuckDB's HUGEINT sum cast back down). Ends at `bmr(query_id,
    * doc_id, score, rank)`, unlimited — consumers slice their own top-k.
    */
  private def bm25RankedCtes: String = {
    val norm = normSql("text")
    s"""base AS (SELECT doc_id, string_split($norm, ' ') AS l
       |         FROM documents WHERE text IS NOT NULL),
       |tok AS (SELECT doc_id AS id, unnest(l) AS term FROM base),
       |tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |               CAST(sum(dl) AS BIGINT) AS t FROM dl),
       |qt AS (SELECT DISTINCT doc_id AS qid, unnest(l) AS term
       |       FROM base WHERE doc_id % 101 = 0),
       |hits AS (SELECT q.qid, f.id, f.tf, d.dl, x.df, g.n, g.t
       |         FROM qt q JOIN tf f ON f.term = q.term
       |         JOIN dl d ON d.id = f.id
       |         JOIN dft x ON x.term = q.term, tot g
       |         WHERE q.qid <> f.id),
       |sc AS (SELECT qid, id, CAST(sum(CAST(floor(
       |         ((CAST(2 * n - 2 * df + 1 AS DOUBLE) * CAST(44 * tf AS DOUBLE))
       |            * CAST(t AS DOUBLE))
       |         / (CAST(2 * df + 1 AS DOUBLE)
       |            * CAST(20 * tf * t + 6 * t + 18 * dl * n AS DOUBLE))
       |         * 1000000.0) AS BIGINT)) AS BIGINT) AS score
       |       FROM hits GROUP BY 1, 2),
       |bmr AS (SELECT qid AS query_id, id AS doc_id, score,
       |          CAST(row_number() OVER (PARTITION BY qid
       |            ORDER BY score DESC, id) AS INT) AS rank
       |        FROM sc)""".stripMargin
  }

  private def bm25Sql: String =
    s"""WITH $bm25RankedCtes
       |SELECT query_id, doc_id, score, rank FROM bmr WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** IVF cell-assignment CTEs over `embeddings` (16 smallest-id seeds) —
    * the x75 oracle core, shared by x115/x116/x117.
    */
  private def ivfAsnCtes: String =
    """cent AS (SELECT vec_id AS cid, embedding AS cvec
      |         FROM embeddings ORDER BY vec_id LIMIT 16),
      |scored AS (SELECT e.vec_id, c.cid,
      |             list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                              CAST(c.cvec AS DOUBLE[])) /
      |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                                      CAST(e.embedding AS DOUBLE[]))) *
      |                sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]),
      |                                      CAST(c.cvec AS DOUBLE[])))) AS s
      |           FROM embeddings e CROSS JOIN cent c),
      |asn AS (SELECT vec_id, cid AS cell FROM
      |          (SELECT *, row_number() OVER (PARTITION BY vec_id
      |             ORDER BY s DESC, cid) AS rn
      |           FROM scored) WHERE rn = 1)""".stripMargin

  /** [[ivfAsnCtes]] + the x115 1-NN propagation chain, ending at
    * `r(vec_id, cell, lab, lid, c, rn)` — rn = 1 is the prediction.
    */
  private def labelPropCtes: String =
    s"""$ivfAsnCtes,
       |lab AS (SELECT e.vec_id AS lid, e.embedding AS lv, e.label AS lab,
       |          a.cell
       |        FROM embeddings e JOIN asn a USING (vec_id)
       |        WHERE e.vec_id % 5 <> 0),
       |unl AS (SELECT e.vec_id, e.embedding AS uv, a.cell
       |        FROM embeddings e JOIN asn a USING (vec_id)
       |        WHERE e.vec_id % 5 = 0),
       |p AS (SELECT u.vec_id, u.cell, l.lab, l.lid,
       |        list_dot_product(CAST(u.uv AS DOUBLE[]), CAST(l.lv AS DOUBLE[])) /
       |          (sqrt(list_dot_product(CAST(u.uv AS DOUBLE[]), CAST(u.uv AS DOUBLE[]))) *
       |           sqrt(list_dot_product(CAST(l.lv AS DOUBLE[]), CAST(l.lv AS DOUBLE[])))) AS c
       |      FROM unl u JOIN lab l USING (cell)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY c DESC, lid) AS rn FROM p)""".stripMargin

  /** DuckDB mirror of x101 (and, through count additivity, x112). */
  private def headCoverageSql: String = {
    val norm = normSql("text")
    s"""WITH t AS (SELECT lang, unnest(string_split($norm, ' ')) AS term
       |           FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT lang, term, count(*) AS cnt FROM t GROUP BY 1, 2),
       |r AS (SELECT lang, term, cnt,
       |        CAST(row_number() OVER (PARTITION BY lang
       |          ORDER BY cnt DESC, term) AS BIGINT) AS rnk,
       |        sum(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, term
       |          ROWS UNBOUNDED PRECEDING) AS cum,
       |        sum(cnt) OVER (PARTITION BY lang) AS tot
       |      FROM c),
       |f(fn, fd) AS (VALUES (1, 2), (9, 10), (99, 100))
       |SELECT lang, CAST(fn AS DOUBLE) / fd AS frac, rnk AS vocab_size,
       |  CAST(cum AS BIGINT) AS covered_tokens,
       |  CAST(tot AS BIGINT) AS total_tokens
       |FROM r, f
       |WHERE (cum - cnt) * fd < fn * tot AND cum * fd >= fn * tot
       |ORDER BY lang, frac""".stripMargin
  }

  /** DuckDB mirror of x110 (and, through the exact merge law, x111):
    * per-source bottom-256 sketches of the distinct word-5-gram hashes,
    * pairwise union-sketch Jaccard estimates.
    */
  private def kmvOverlapSql: String = {
    val norm = normSql("text")
    s"""WITH nrm AS (SELECT source, string_split($norm, ' ') AS l
       |             FROM documents WHERE text IS NOT NULL),
       |ng AS (SELECT DISTINCT source,
       |         concat_ws(' ', l[CAST(i AS INT)], l[CAST(i AS INT) + 1],
       |           l[CAST(i AS INT) + 2], l[CAST(i AS INT) + 3],
       |           l[CAST(i AS INT) + 4]) AS g
       |       FROM nrm, unnest(generate_series(1, greatest(len(l) - 4, 1))) AS u(i)),
       |hs AS (SELECT DISTINCT source,
       |         CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
       |       FROM ng),
       |sk AS (SELECT source, h FROM hs
       |       QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 256),
       |gs AS (SELECT DISTINCT source FROM sk),
       |pr AS (SELECT a.source AS g_1, b.source AS g_2
       |       FROM gs a JOIN gs b ON a.source < b.source),
       |u AS (SELECT p.g_1, p.g_2, s.h,
       |        max(CASE WHEN s.source = p.g_1 THEN 1 ELSE 0 END) AS a,
       |        max(CASE WHEN s.source = p.g_2 THEN 1 ELSE 0 END) AS b
       |      FROM pr p JOIN sk s ON s.source IN (p.g_1, p.g_2)
       |      GROUP BY 1, 2, 3),
       |t AS (SELECT g_1, g_2, h, a, b FROM u
       |      QUALIFY row_number() OVER (PARTITION BY g_1, g_2 ORDER BY h) <= 256)
       |SELECT g_1, g_2, CAST(count(*) AS BIGINT) AS union_k,
       |  CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_k,
       |  CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS jaccard_est
       |FROM t GROUP BY 1, 2 ORDER BY g_1, g_2""".stripMargin
  }

  /** The x99 fusion chain over `bmr` (must follow [[bm25RankedCtes]]):
    * the x6 cosine core restricted to the query subset, both lists'
    * top-20 slices fused with quantized-long RRF contributions, ranked
    * into `rr(query_id, doc_id, rrf_score, n_lists, rank)`.
    */
  private def hybridRrfCtes: String =
    s"""cp AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id, $cosSql AS c
       |       FROM embeddings a JOIN embeddings b
       |         ON a.vec_id <> b.vec_id AND a.vec_id % 101 = 0),
       |cr AS (SELECT query_id, doc_id,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY c DESC, doc_id) AS INT) AS rank
       |       FROM cp),
       |u AS (SELECT query_id, doc_id,
       |        CAST(floor(1000000000.0 / (rank + 60)) AS BIGINT) AS c
       |      FROM bmr WHERE rank <= 20
       |      UNION ALL
       |      SELECT query_id, doc_id,
       |        CAST(floor(1000000000.0 / (rank + 60)) AS BIGINT)
       |      FROM cr WHERE rank <= 20),
       |f AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_score,
       |        CAST(count(*) AS BIGINT) AS n_lists
       |      FROM u GROUP BY 1, 2),
       |rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
       |       FROM f)""".stripMargin

  private def ngramJaccardSql: String =
    s"""WITH norm AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l FROM documents),
       |ng AS (SELECT DISTINCT doc_id,
       |         concat_ws(' ', l[CAST(i AS INT)], l[CAST(i AS INT) + 1], l[CAST(i AS INT) + 2]) AS g
       |       FROM norm, unnest(generate_series(1, greatest(len(l) - 2, 1))) AS u(i)),
       |ngr AS (SELECT doc_id, g FROM ng
       |        WHERE g IN (SELECT g FROM ng GROUP BY g HAVING count(*) <= 1000)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ngr GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |          FROM ngr a JOIN ngr b ON a.g = b.g AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.inter, na.n + nb.n - i.inter AS uni
       |FROM inter i JOIN sizes na ON na.doc_id = i.doc_a
       |             JOIN sizes nb ON nb.doc_id = i.doc_b
       |WHERE i.inter * 5 >= (na.n + nb.n - i.inter) * 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB mirror of x38: list-sliced 64-token windows every 48 tokens;
    * out-of-range slicing clamps to the tail on both engines.
    */
  private def chunkWindowsSql: String =
    s"""WITH norm AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l FROM documents),
       |c AS (SELECT doc_id, CAST((i - 1) / 48 + 1 AS INT) AS chunk_idx,
       |        array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 63], ' ') AS chunk
       |      FROM norm, unnest(generate_series(1, greatest(len(l) - 16, 1), 48)) AS u(i))
       |SELECT doc_id, chunk_idx, chunk FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** DuckDB mirror of x39: distinct word 8-grams per doc (partial tail gram
    * for short docs, as in x5), corpus × eval slice equi-join on the raw
    * gram string.
    */
  private def contaminationSql: String = {
    val gram = (0 until 8).map(o => s"l[CAST(i AS INT) + $o]").mkString(", ")
    s"""WITH norm AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l FROM documents),
       |ng AS (SELECT DISTINCT doc_id, concat_ws(' ', $gram) AS g
       |       FROM norm, unnest(generate_series(1, greatest(len(l) - 7, 1))) AS u(i))
       |SELECT a.doc_id AS doc_id, b.doc_id AS eval_id, count(*) AS shared_grams
       |FROM ng a JOIN ng b ON a.g = b.g
       |WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0
       |GROUP BY 1, 2 ORDER BY doc_id, eval_id""".stripMargin
  }

  /** DuckDB mirror of x49 over `src`: the x10 signal CTEs + the x45
    * bigram-repetition CTEs + the Gopher keep predicate (thresholds match
    * [[graft.ext.Corpus.gopherQualityFilter]]'s defaults). `stop_hits`
    * mirrors Spark's `round(ratio · n)` recovery — same double ops, same
    * bits. Parameterized over the source relation so the x47 composition
    * can quality-score a CTE subset.
    */
  private def gopherQualitySqlOver(src: String): String = {
    val en = TextAnalysis.StopwordSets.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""gt AS (SELECT doc_id, ${normSql("text")} AS n,
       |         string_split(${normSql("text")}, ' ') AS l FROM $src),
       |gq AS (SELECT doc_id,
       |  CAST(len(l) AS INT) AS n_tokens,
       |  list_sum(list_transform(l, x -> length(x))) / len(l) AS avg_token_len,
       |  CASE WHEN length(n) = 0 THEN 0.0
       |       ELSE (length(n) - length(regexp_replace(n, '[^a-z0-9 ]', '', 'g'))) / length(n)
       |  END AS punct_ratio,
       |  CAST(round(len(list_filter(l, x -> list_contains($en, x))) / len(l) * len(l)) AS INT) AS stop_hits,
       |  CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS distinct_token_ratio
       |  FROM gt),
       |gb AS (SELECT doc_id, l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS bg
       |       FROM gt, unnest(generate_series(1, len(l) - 1)) AS u(i)
       |       WHERE len(l) >= 2),
       |gc AS (SELECT doc_id, bg, count(*) AS nn FROM gb GROUP BY 1, 2),
       |gr AS (SELECT doc_id, CAST(max(nn) AS DOUBLE) / CAST(sum(nn) AS BIGINT) AS tbr
       |       FROM gc GROUP BY doc_id),
       |gkeep AS (SELECT gq.doc_id, gq.n_tokens, gq.avg_token_len,
       |    gq.punct_ratio, gq.stop_hits, gq.distinct_token_ratio,
       |    coalesce(gr.tbr, 0.0) AS top_bigram_ratio,
       |    (gq.n_tokens BETWEEN 50 AND 100000
       |     AND gq.avg_token_len BETWEEN 3.0 AND 10.0
       |     AND gq.punct_ratio <= 0.1 AND gq.stop_hits >= 2
       |     AND gq.distinct_token_ratio >= 0.3
       |     AND coalesce(gr.tbr, 0.0) <= 0.18) AS keep
       |  FROM gq LEFT JOIN gr ON gr.doc_id = gq.doc_id)""".stripMargin
  }

  private def gopherQualitySql: String =
    s"""WITH ${gopherQualitySqlOver("documents")}
       |SELECT doc_id, n_tokens, avg_token_len, punct_ratio, stop_hits,
       |  distinct_token_ratio, top_bigram_ratio, keep
       |FROM gkeep ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of x48: the x39 gram CTE, eval slice tagged into two
    * sets; per (corpus doc, set) distinct shared grams + eval docs reached.
    */
  private def multiEvalDecontamSql: String = {
    val gram = (0 until 8).map(o => s"l[CAST(i AS INT) + $o]").mkString(", ")
    s"""WITH norm AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l FROM documents),
       |ng AS (SELECT DISTINCT doc_id, concat_ws(' ', $gram) AS g
       |       FROM norm, unnest(generate_series(1, greatest(len(l) - 7, 1))) AS u(i)),
       |ev AS (SELECT doc_id AS eid,
       |         CASE WHEN doc_id % 2 = 0 THEN 'benchA' ELSE 'benchB' END AS eval_set, g
       |       FROM ng WHERE doc_id % 3 = 0)
       |SELECT a.doc_id AS doc_id, e.eval_set,
       |  count(DISTINCT a.g) AS shared_grams,
       |  count(DISTINCT e.eid) AS eval_docs_hit
       |FROM ng a JOIN ev e ON a.g = e.g
       |WHERE a.doc_id % 3 <> 0
       |GROUP BY 1, 2 ORDER BY doc_id, eval_set""".stripMargin
  }

  private val cosSql =
    """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |  (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      |   sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))""".stripMargin

  /** DuckDB mirror of x79: 2 unrolled Lloyd rounds (assign → decimal-exact
    * means) + the final assignment, sharing x35's VARCHAR-routed decimal
    * cast and the IVF family's assignment ordering.
    */
  private def kmeansAssignSql: String = {
    def asn(src: String, cents: String, out: String) =
      s"""$out AS (SELECT vec_id, v, cell FROM (
         |  SELECT t.vec_id, t.v, c.cid AS cell,
         |    row_number() OVER (PARTITION BY t.vec_id ORDER BY
         |      list_dot_product(t.v, c.cvec) /
         |        (sqrt(list_dot_product(t.v, t.v)) *
         |         sqrt(list_dot_product(c.cvec, c.cvec))) DESC, c.cid) AS rn
         |  FROM $src t CROSS JOIN $cents c) WHERE rn = 1)"""
    def means(src: String, out: String) =
      s"""${out}m AS (SELECT cell, CAST(i AS INT) - 1 AS pos,
         |    CAST(sum(CAST(CAST(v[CAST(i AS INT)] AS VARCHAR)
         |      AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
         |  FROM $src, unnest(generate_series(1, len(v))) AS u(i)
         |  GROUP BY 1, 2),
         |$out AS (SELECT cell AS cid, list(m ORDER BY pos) AS cvec
         |         FROM ${out}m GROUP BY cell)"""
    s"""WITH t0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |            FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
       |       FROM embeddings ORDER BY vec_id LIMIT 8),
       |${asn("t0", "c0", "a0")},
       |${means("a0", "c1")},
       |${asn("t0", "c1", "a1")},
       |${means("a1", "c2")},
       |${asn("t0", "c2", "af")}
       |SELECT vec_id, cell FROM af ORDER BY vec_id""".stripMargin
  }

  /** DuckDB mirror of x122: exact top-5 (topkSql's core) LEFT JOINed
    * against the probed-IVF mirror (annIvfProbedSql's core) for each
    * nprobe in (1,2,4), aggregated per ⌊cosine·20⌋ band of the exact
    * neighbor.
    */
  private def ivfRecallSql: String = {
    def f(np: Int) =
      s"""f$np AS (SELECT $np AS nprobe, query_id, neighbor_id FROM (
         |  SELECT p.query_id, p.neighbor_id,
         |    row_number() OVER (PARTITION BY p.query_id ORDER BY p.c DESC, p.neighbor_id) AS rank
         |  FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
         |        FROM (SELECT vec_id, embedding, cid AS cell FROM rk WHERE rn <= $np) a
         |        JOIN corpus b ON a.cell = b.cell AND a.vec_id <> b.vec_id) p
         |) WHERE rank <= 5)""".stripMargin
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
       |              FROM embeddings ORDER BY vec_id LIMIT 16),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |             list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) /
       |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |                sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS s
       |           FROM embeddings e CROSS JOIN cent c),
       |rk AS (SELECT vec_id, embedding, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |       FROM scored),
       |corpus AS (SELECT vec_id, embedding, cid AS cell FROM rk WHERE rn = 1),
       |ex AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
       |       FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       |exact AS (SELECT query_id, neighbor_id, round(c, 9) AS cosine FROM (
       |  SELECT query_id, neighbor_id, c,
       |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
       |  FROM ex) WHERE rank <= 5),
       |${f(1)}, ${f(2)}, ${f(4)},
       |found AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f4),
       |rep AS (SELECT n.nprobe, CAST(floor(e.cosine * 20) AS INT) AS band,
       |          CAST(count(*) AS BIGINT) AS n_exact,
       |          CAST(sum(CASE WHEN fnd.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
       |        FROM (VALUES (1), (2), (4)) AS n(nprobe)
       |        CROSS JOIN exact e
       |        LEFT JOIN found fnd ON fnd.nprobe = n.nprobe
       |          AND fnd.query_id = e.query_id AND fnd.neighbor_id = e.neighbor_id
       |        GROUP BY 1, 2)
       |SELECT nprobe, band, n_exact, n_found,
       |  CAST(n_found AS DOUBLE) / n_exact AS recall
       |FROM rep ORDER BY nprobe, band""".stripMargin
  }

  /** DuckDB mirror of x129/x130's shared JL projection: the same
    * floor-quantize (·10⁴ → BIGINT) and md5-derived ±1 matrix (top bit of
    * the first md5 nibble of "jl:k:j" ⇔ first hex char ≥ '8'), all exact
    * integer arithmetic.
    */
  private def jlProjectCte(outDims: Int): String =
    s"""q AS (SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 10000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${jlFromQ(outDims, s"p$outDims")}""".stripMargin

  private def jlFromQ(outDims: Int, out: String): String =
    s"""$out AS (SELECT vec_id,
       |    list_transform(range($outDims), k ->
       |      CAST(list_sum(list_transform(range(len(qv)), j ->
       |        qv[j + 1] * (CASE WHEN substr(md5('jl:' || k || ':' || j), 1, 1)
       |                          >= '8' THEN 1 ELSE -1 END))) AS BIGINT)) AS pv
       |  FROM q)""".stripMargin

  /** DuckDB mirror of x130: exact full-dim top-5 (ivfRecallSql's ground
    * truth) vs exact top-5 in the JL space at dims 4 and 16 — the
    * projected-space cosine is BIGINT dot / (sqrt·sqrt), every long below
    * 2⁵³ so the one division per pair is engine-exact.
    */
  private def jlRecallSql: String = {
    def f(d: Int) =
      s"""${jlFromQ(d, s"p$d")},
         |n$d AS (SELECT vec_id, pv,
         |    sqrt(CAST(CAST(list_sum(list_transform(pv, x -> x * x))
         |      AS BIGINT) AS DOUBLE)) AS nn
         |  FROM p$d),
         |f$d AS (SELECT $d AS dims, query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      CAST(CAST(list_sum(list_transform(range($d), i ->
         |        a.pv[i + 1] * b.pv[i + 1])) AS BIGINT) AS DOUBLE)
         |        / (a.nn * b.nn) DESC, b.vec_id) AS rank
         |  FROM n$d a JOIN n$d b ON a.vec_id <> b.vec_id)
         |  WHERE rank <= 5)""".stripMargin
    s"""WITH q AS (SELECT vec_id, embedding,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 10000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ex AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
       |       FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       |exact AS (SELECT query_id, neighbor_id, round(c, 9) AS cosine FROM (
       |  SELECT query_id, neighbor_id, c,
       |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
       |  FROM ex) WHERE rank <= 5),
       |${f(4)}, ${f(16)},
       |found AS (SELECT * FROM f4 UNION ALL SELECT * FROM f16),
       |rep AS (SELECT n.dims, CAST(floor(e.cosine * 20) AS INT) AS band,
       |          CAST(count(*) AS BIGINT) AS n_exact,
       |          CAST(sum(CASE WHEN fnd.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
       |        FROM (VALUES (4), (16)) AS n(dims)
       |        CROSS JOIN exact e
       |        LEFT JOIN found fnd ON fnd.dims = n.dims
       |          AND fnd.query_id = e.query_id AND fnd.neighbor_id = e.neighbor_id
       |        GROUP BY 1, 2)
       |SELECT dims, band, n_exact, n_found,
       |  CAST(n_found AS DOUBLE) / n_exact AS recall
       |FROM rep ORDER BY dims, band""".stripMargin
  }

  /** DuckDB mirror of x132: corpus-seeded centroids (annIvfSql's ordering),
    * corpus at rn = 1, eval probe list at rn ≤ 2, per-corpus-id best match
    * by (cosine DESC, eval id DESC) — the struct-max tie-break — left-joined
    * back under every corpus row.
    */
  private def semanticDecontamSql: String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
       |ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |cent AS (SELECT vec_id AS cid, embedding AS cvec
       |         FROM corpus ORDER BY vec_id LIMIT 16),
       |cs AS (SELECT a.vec_id, a.embedding, b.cid,
       |         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.cvec AS DOUBLE[])) /
       |           (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
       |            sqrt(list_dot_product(CAST(b.cvec AS DOUBLE[]), CAST(b.cvec AS DOUBLE[])))) AS s
       |       FROM corpus a CROSS JOIN cent b),
       |casn AS (SELECT vec_id, embedding, cid AS cell FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |            FROM cs) WHERE rn = 1),
       |es AS (SELECT a.vec_id, a.embedding, b.cid,
       |         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.cvec AS DOUBLE[])) /
       |           (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
       |            sqrt(list_dot_product(CAST(b.cvec AS DOUBLE[]), CAST(b.cvec AS DOUBLE[])))) AS s
       |       FROM ev a CROSS JOIN cent b),
       |eprobe AS (SELECT vec_id, embedding, cid AS cell FROM
       |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |              FROM es) WHERE rn <= 2),
       |hits AS (SELECT a.vec_id, b.vec_id AS eid, $cosSql AS c
       |         FROM casn a JOIN eprobe b ON a.cell = b.cell),
       |best AS (SELECT vec_id, eid, c FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, eid DESC) AS rn
       |            FROM hits) WHERE rn = 1)
       |SELECT a.vec_id, best.eid AS matched_eval_id,
       |  round(best.c, 9) AS max_cosine,
       |  coalesce(best.c >= 0.45, false) AS contaminated
       |FROM casn a LEFT JOIN best ON a.vec_id = best.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** DuckDB mirror of x131: the JL projection CTE feeding annIvfProbedSql's
    * exact structure — centroids = the 16 smallest-id PROJECTED vectors,
    * assignment/probe ranking and the pair cosines all in the projected
    * space (BIGINT components cast to DOUBLE: every product and partial
    * sum < 2⁵³, so the arithmetic is engine-exact).
    */
  private def jlIvfSql: String =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 10000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${jlFromQ(16, "p16")},
       |pd AS (SELECT vec_id, CAST(pv AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(pv AS DOUBLE[]), CAST(pv AS DOUBLE[]))) AS n
       |       FROM p16),
       |cent AS (SELECT vec_id AS cid, v AS cvec, n AS cn
       |         FROM pd ORDER BY vec_id LIMIT 16),
       |scored AS (SELECT e.vec_id, e.v, e.n, c.cid,
       |             list_dot_product(e.v, c.cvec) / (e.n * c.cn) AS s
       |           FROM pd e CROSS JOIN cent c),
       |rk AS (SELECT vec_id, v, n, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |       FROM scored),
       |corpus AS (SELECT vec_id, v, n, cid AS cell FROM rk WHERE rn = 1),
       |probes AS (SELECT vec_id, v, n, cid AS cell FROM rk WHERE rn <= 2),
       |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |        list_dot_product(a.v, b.v) / (a.n * b.n) AS c
       |      FROM probes a JOIN corpus b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, c,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
       |      FROM p)
       |SELECT query_id, neighbor_id, round(c, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of x143: jlIvfSql's routing (assignment and probe list
    * in the projected space) but the pair cosine over the ORIGINAL
    * embeddings — the rescore contract.
    */
  private def jlIvfRescoreSql: String =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 10000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${jlFromQ(16, "p16")},
       |pd AS (SELECT vec_id, CAST(pv AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(pv AS DOUBLE[]), CAST(pv AS DOUBLE[]))) AS n
       |       FROM p16),
       |cent AS (SELECT vec_id AS cid, v AS cvec, n AS cn
       |         FROM pd ORDER BY vec_id LIMIT 16),
       |scored AS (SELECT e.vec_id, c.cid,
       |             list_dot_product(e.v, c.cvec) / (e.n * c.cn) AS s
       |           FROM pd e CROSS JOIN cent c),
       |rk AS (SELECT vec_id, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |       FROM scored),
       |corpus AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
       |probes AS (SELECT vec_id, cid AS cell FROM rk WHERE rn <= 2),
       |fp AS (SELECT pa.vec_id AS query_id, pb.vec_id AS neighbor_id, $cosSql AS c
       |       FROM probes pa JOIN corpus pb
       |         ON pa.cell = pb.cell AND pa.vec_id <> pb.vec_id
       |       JOIN embeddings a ON a.vec_id = pa.vec_id
       |       JOIN embeddings b ON b.vec_id = pb.vec_id),
       |r AS (SELECT query_id, neighbor_id, c,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY c DESC, neighbor_id) AS INT) AS rank
       |      FROM fp)
       |SELECT query_id, neighbor_id, round(c, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of x148 — the doubled-delimiter replace chain that
    * reproduces BpeMerge's leftmost-greedy pass exactly (see the proof in
    * [[graft.functions.BpeMerge]]'s scaladoc): spread the normalized text
    * to the canonical one-char-per-token form (word boundaries become the
    * chr(1) sentinel), DOUBLE every delimiter space so adjacent pair
    * occurrences are disjoint in string space, then one non-overlapping
    * `replace(' l  r ', ' lr ')` per merge in rank order — each match
    * consumes only the inner space of its outer delimiters, so replace's
    * left-to-right scan selects exactly the greedy pairing and one pass
    * per rank is complete (lr can never recreate its own pair). Halve the
    * spaces at the end. A PLAIN single-space replace chain would
    * under-merge runs (`' a a a a '` → `' aa a a '`, not greedy
    * `' aa aa '`) — that bug class is exactly what this oracle exists to
    * catch, so it must not mirror it.
    */
  /** The trimmed merged-token string of the BpeFixture chain (see the
    * equivalence proof referenced in [[bpeApplySql]]). */
  private def bpeMergedExpr: String = {
    val spread = "' ' || regexp_replace(replace(" + normSql("text") +
      ", ' ', chr(1)), '(.)', '\\1 ', 'g')"
    val chained = BpeFixture.foldLeft(s"replace($spread, ' ', '  ')") {
      case (acc, (_, l, r)) => s"replace($acc, ' $l  $r ', ' $l$r ')"
    }
    s"trim(replace($chained, '  ', ' '))"
  }

  private def bpeTokenCountExpr(s: String): String =
    s"CAST(len(list_filter(string_split($s, ' '), " +
      s"t -> t <> chr(1) AND t <> '')) AS BIGINT)"

  private def bpeApplySql: String =
    s"""WITH b AS (SELECT doc_id, $bpeMergedExpr AS s FROM documents)
       |SELECT doc_id, ${bpeTokenCountExpr("s")} AS n_tokens, s AS bpe_tokens
       |FROM b ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of x153 — BPE training as `nMerges` chained CTE
    * blocks. Word frequencies once (the corpus leg), then per rank:
    * enumerate every adjacent token position of the current vocab
    * (canonical overlap counting — `get_stats`), argmax with the
    * count-desc/lhs-asc/rhs-asc tie-break, and apply the winner via the
    * x148 doubled-delimiter replace (the proven leftmost-greedy form).
    * Vocab strings stay in doubled-space form throughout: each replace
    * consumes only its pair's inner spaces, so gaps remain exactly two
    * spaces and the next rank's pattern still matches.
    */
  private def bpeTrainSql(nMerges: Int, topWords: Int): String = {
    val norm = normSql("text")
    val head =
      s"""WITH wf AS (
         |  SELECT word, freq FROM (
         |    SELECT w AS word, count(*) AS freq
         |    FROM (SELECT string_split($norm, ' ') AS l
         |          FROM documents WHERE text IS NOT NULL) t,
         |         unnest(t.l) AS u(w)
         |    WHERE w <> '' GROUP BY w)
         |  ORDER BY freq DESC, word LIMIT $topWords),
         |v0 AS (SELECT freq,
         |  replace(' ' || regexp_replace(word, '(.)', '\\1 ', 'g'),
         |    ' ', '  ') AS d FROM wf)""".stripMargin
    val rounds = (1 to nMerges).map { i =>
      s"""t$i AS (SELECT freq,
         |  list_filter(string_split(d, ' '), x -> x <> '') AS t
         |  FROM v${i - 1}),
         |p$i AS (SELECT t[CAST(k AS INT)] AS lhs,
         |    t[CAST(k AS INT) + 1] AS rhs,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM t$i, unnest(generate_series(1, len(t) - 1)) AS u(k)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT lhs, rhs, cnt FROM p$i
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |v$i AS (SELECT freq,
         |  replace(d, ' ' || b.lhs || '  ' || b.rhs || ' ',
         |    ' ' || b.lhs || b.rhs || ' ') AS d
         |  FROM v${i - 1}, b$i b)""".stripMargin
    }.mkString(",\n")
    val union = (1 to nMerges).map { i =>
      s"SELECT CAST(${i - 1} AS BIGINT) AS rank, lhs, rhs, " +
        s"cnt AS pair_count FROM b$i"
    }.mkString("\nUNION ALL ")
    s"$head,\n$rounds\n$union\nORDER BY rank"
  }

  /** DuckDB mirror of x154 — the same overflow-free z-order arithmetic:
    * scale-up multiply for narrow ranges / shifted-width integer division
    * for wide ones, an unrolled 2·bits-term bit interleave, curve-range
    * shards. */
  private def zorderSql(bits: Int, nShards: Int): String =
    s"""WITH ${zorderCtes(bits, boundsFrom = "s", assign = "s")}
       |SELECT event_id, cell_x, cell_y, zvalue,
       |  ${zorderShardSql(bits, nShards)} AS shard
       |FROM z ORDER BY event_id""".stripMargin

  private def zorderShardSql(bits: Int, nShards: Int): String =
    s"CAST((zvalue * $nShards) >> ${2 * bits} AS INT)"

  /** Shared z-order CTE body ending in `z(event_id, cell_x, cell_y,
    * zvalue)`: bounds from one slice, assignment over another (x154:
    * both the full table `s`; x155: corpus bounds `sb`, batch `sa` with
    * edge-cell clamping). `s` keeps (x, y) so downstream stats CTEs can
    * join the raw dimensions back by event_id. */
  /** The engine-shared cell arithmetic (scale-up multiply for narrow
    * ranges, shifted-width integer division for wide ones, NULL
    * propagation, edge clamp) as SQL — one definition for the 2-d and
    * N-d mirrors. */
  private def zorderCellSql(bits: Int)(v0: String, lo: String,
      hi: String): String = {
    val m = (1L << bits) - 1
    val v = s"least(greatest($v0, $lo), $hi)"
    s"CASE WHEN $v0 IS NULL THEN NULL WHEN $hi - $lo < ${m + 1} THEN " +
      s"(($v - $lo) * $m) // greatest($hi - $lo, 1) " +
      s"ELSE ($v - $lo) // ((($hi - $lo) >> $bits) + 1) END"
  }

  private def zorderCtes(bits: Int, boundsFrom: String,
      assign: String): String = {
    val terms = (0 until bits).map { i =>
      s"(((cx >> $i) & 1) << ${2 * i}) + (((cy >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    def cellSql(v0: String, lo: String, hi: String): String =
      zorderCellSql(bits)(v0, lo, hi)
    s"""s AS (SELECT event_id, user_id AS x, epoch_us(ts) AS y
       |           FROM events),
       |sb AS (SELECT * FROM s WHERE event_id % 7 <> 0),
       |sa AS (SELECT * FROM s WHERE event_id % 7 = 0),
       |b AS (SELECT min(x) AS xmin, max(x) AS xmax,
       |             min(y) AS ymin, max(y) AS ymax FROM $boundsFrom),
       |c AS (SELECT event_id,
       |        ${cellSql("x", "xmin", "xmax")} AS cx,
       |        ${cellSql("y", "ymin", "ymax")} AS cy
       |      FROM $assign, b),
       |z AS (SELECT event_id, cx AS cell_x, cy AS cell_y,
       |        $terms AS zvalue
       |      FROM c)""".stripMargin
  }

  private def zorderSqlWith(bits: Int, nShards: Int, boundsFrom: String,
      assign: String): String =
    s"""WITH ${zorderCtes(bits, boundsFrom, assign)}
       |SELECT event_id, cell_x, cell_y, zvalue,
       |  ${zorderShardSql(bits, nShards)} AS shard
       |FROM z ORDER BY event_id""".stripMargin

  /** DuckDB mirror of x156 — the z-order shards' stats manifest: per
    * shard n_rows + min/max/exact-NDV of each dimension. */
  private def shardStatsSql(bits: Int, nShards: Int): String =
    s"""WITH ${zorderCtes(bits, "s", "s")},
       |zs AS (SELECT event_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(x) AS user_id_min, max(x) AS user_id_max,
       |  CAST(count(DISTINCT x) AS BIGINT) AS user_id_ndv,
       |  min(y) AS ts_us_min, max(y) AS ts_us_max,
       |  CAST(count(DISTINCT y) AS BIGINT) AS ts_us_ndv
       |FROM zs JOIN s USING (event_id)
       |GROUP BY shard ORDER BY shard""".stripMargin

  /** Shared x157/x158 CTE tail: distinct (shard, key) and the per-shard
    * sorted bloom bit list (k md5-slice positions mod m per key). */
  private def bloomCtes(bits: Int, nShards: Int, m: Int, k: Int): String = {
    val hashes = (0 until k).map(_.toString).mkString(", ")
    s"""${zorderCtes(bits, "s", "s")},
       |zs AS (SELECT event_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |keys AS (SELECT DISTINCT shard, x AS kk
       |         FROM zs JOIN s USING (event_id)),
       |pos AS (SELECT DISTINCT shard,
       |          CAST(concat('0x', substr(md5('bloom|' ||
       |            CAST(kk AS VARCHAR)), 1 + 8 * j, 8)) AS BIGINT) % $m
       |            AS p
       |        FROM keys, unnest([$hashes]) AS u(j)),
       |bl AS (SELECT shard, list_sort(list(p)) AS bits
       |       FROM pos GROUP BY shard)""".stripMargin
  }

  /** DuckDB mirror of x159 — the FULL-TABLE manifest computed directly
    * (all events assigned against the corpus slice's frame), which the
    * Spark side must reproduce by MERGING the two slices' sketches: the
    * additive-manifest law under test. */
  private def shardStatsIncrSql(bits: Int, nShards: Int, k: Int): String = {
    def kmvCtes(tag: String, v: String, outCol: String): String =
      s"""h$tag AS (SELECT DISTINCT shard,
         |    CAST(concat('0x', substr(md5('kmv|' || CAST($v AS VARCHAR)),
         |      1, 15)) AS BIGINT) AS h
         |  FROM j WHERE $v IS NOT NULL),
         |r$tag AS (SELECT shard, h,
         |    row_number() OVER (PARTITION BY shard ORDER BY h) AS rk
         |  FROM h$tag),
         |k$tag AS (SELECT shard, list_sort(list(h)) AS kmv
         |  FROM r$tag WHERE rk <= $k GROUP BY shard),
         |d$tag AS (SELECT shard,
         |    md5(array_to_string(list_transform(kmv,
         |      v -> CAST(v AS VARCHAR)), ',')) AS ${outCol}_kmv_md5,
         |    kmv[-1] AS ${outCol}_kmv_kth,
         |    CAST(len(kmv) AS BIGINT) AS ${outCol}_kmv_n
         |  FROM k$tag)""".stripMargin
    s"""WITH ${zorderCtes(bits, boundsFrom = "sb", assign = "s")},
       |zs AS (SELECT event_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT shard, x, y FROM zs JOIN s USING (event_id)),
       |base AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
       |    min(x) AS user_id_min, max(x) AS user_id_max,
       |    min(y) AS ts_us_min, max(y) AS ts_us_max
       |  FROM j GROUP BY shard),
       |${kmvCtes("x", "x", "user_id")},
       |${kmvCtes("y", "y", "ts_us")}
       |SELECT base.*, dx.user_id_kmv_md5, dx.user_id_kmv_kth,
       |  dx.user_id_kmv_n, dy.ts_us_kmv_md5, dy.ts_us_kmv_kth,
       |  dy.ts_us_kmv_n
       |FROM base JOIN dx USING (shard) JOIN dy USING (shard)
       |ORDER BY shard""".stripMargin
  }

  /** DuckDB mirror of x160 — the 3-d Morton interleave: bit `i` of
    * dimension `j` lands at curve position `i·3 + j`; dims are (user_id,
    * event epoch-micros, props length), cells by the shared engine-exact
    * arithmetic. */
  private def zorder3dSql(bits: Int, nShards: Int,
      boundsFrom: String = "s3", assign: String = "s3"): String = {
    val cell = zorderCellSql(bits) _
    val terms = (0 until bits).flatMap { i =>
      Seq(s"(((cx >> $i) & 1) << ${3 * i})",
        s"(((cy >> $i) & 1) << ${3 * i + 1})",
        s"(((cw >> $i) & 1) << ${3 * i + 2})")
    }.mkString(" + ")
    s"""WITH s3 AS (SELECT event_id, user_id AS x, epoch_us(ts) AS y,
       |        CAST(length(props) AS BIGINT) AS w FROM events),
       |sb3 AS (SELECT * FROM s3 WHERE event_id % 7 <> 0),
       |sa3 AS (SELECT * FROM s3 WHERE event_id % 7 = 0),
       |b3 AS (SELECT min(x) AS xmin, max(x) AS xmax,
       |       min(y) AS ymin, max(y) AS ymax,
       |       min(w) AS wmin, max(w) AS wmax FROM $boundsFrom),
       |c3 AS (SELECT event_id,
       |        ${cell("x", "xmin", "xmax")} AS cx,
       |        ${cell("y", "ymin", "ymax")} AS cy,
       |        ${cell("w", "wmin", "wmax")} AS cw
       |       FROM $assign, b3),
       |z3 AS (SELECT event_id, cx, cy, cw, $terms AS zvalue FROM c3)
       |SELECT event_id, cx AS cell_user_id, cy AS cell_ts_us,
       |  cw AS cell_props_len, zvalue,
       |  CAST((zvalue * $nShards) >> ${3 * bits} AS INT) AS shard
       |FROM z3 ORDER BY event_id""".stripMargin
  }

  /** DuckDB mirror of x161 — the manifest-pruned 2-d range scan: the
    * oracle computes the SAME per-shard min/max manifest and candidate
    * count the Spark side prunes with (so the skip is under hash check),
    * but aggregates over the FULL table — hash equality proves the
    * pruned read lost nothing. */
  private def prunedScanSql(bits: Int, nShards: Int): String =
    s"""WITH ${zorderCtes(bits, "s", "s")},
       |zs AS (SELECT event_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, s.x, s.y, e.event_type
       |      FROM zs JOIN s USING (event_id)
       |      JOIN events e USING (event_id)),
       |man AS (SELECT shard, min(x) AS xmin_s, max(x) AS xmax_s,
       |               min(y) AS ymin_s, max(y) AS ymax_s
       |        FROM j GROUP BY shard),
       |pb AS (SELECT xmin + (xmax - xmin) * 45 // 100 AS u1,
       |              xmin + (xmax - xmin) * 55 // 100 AS u2,
       |              ymin + (ymax - ymin) * 45 // 100 AS t1,
       |              ymin + (ymax - ymin) * 55 // 100 AS t2 FROM b),
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM man, pb
       |         WHERE xmin_s <= u2 AND xmax_s >= u1
       |           AND ymin_s <= t2 AND ymax_s >= t1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM man)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(x) AS BIGINT) AS sum_uid,
       |  min(y) AS min_ts, max(y) AS max_ts,
       |  n_cand AS n_candidate_shards, n_tot AS n_total_shards
       |FROM j, pb, cand, tot
       |WHERE x BETWEEN u1 AND u2 AND y BETWEEN t1 AND t2
       |GROUP BY event_type, n_cand, n_tot
       |ORDER BY event_type""".stripMargin

  /** DuckDB mirror of x162 — the bloom-pruned point lookup: probe key =
    * smallest user_id at or above the 45% point; candidate count from
    * the same bloom arithmetic; aggregate over the full table at
    * `x = probe_key`. */
  private def prunedPointSql(bits: Int, nShards: Int, m: Int,
      k: Int): String = {
    val hashes = (0 until k).map(_.toString).mkString(", ")
    s"""WITH ${bloomCtes(bits, nShards, m, k)},
       |pb AS (SELECT min(x) + (max(x) - min(x)) * 45 // 100 AS u1 FROM s),
       |pk AS (SELECT min(x) AS probe_key FROM s, pb WHERE x >= u1),
       |ppos AS (SELECT probe_key, list_transform([$hashes],
       |           j -> CAST(concat('0x', substr(md5('bloom|' ||
       |             CAST(probe_key AS VARCHAR)), 1 + 8 * j, 8))
       |             AS BIGINT) % $m) AS pp
       |         FROM pk),
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand
       |         FROM ppos, bl
       |         WHERE len(list_filter(pp,
       |           q -> NOT list_contains(bits, q))) = 0),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
       |          CAST(sum(event_id) AS BIGINT) AS sum_eid
       |        FROM s, pk WHERE x = probe_key)
       |SELECT pk.probe_key, agg.n_events, agg.sum_eid,
       |  cand.n_cand AS n_candidate_shards
       |FROM pk, agg, cand ORDER BY probe_key""".stripMargin
  }

  /** Shared CTE body for a STRING-dim z-order layout (x164–x168): dict =
    * the string column's distinct values dense-ranked 0..n−1 (the
    * [[graft.ext.Corpus.stringDimDict]] embedding), per-row cells over
    * (rank, numeric dim), interleave with the string dim at bit 2i and
    * the numeric at 2i+1 (dimCols order), ending in
    * `z(<id>, cell_a, cell_b, zvalue)` with `s`/`b`/`dict` in scope. */
  private def stringZorderCtes(bits: Int, table: String, idCol: String,
      strCol: String, numExpr: String): String = {
    val terms = (0 until bits).map { i =>
      s"(((cx >> $i) & 1) << ${2 * i}) + (((cy >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    def cellSql(v0: String, lo: String, hi: String): String =
      zorderCellSql(bits)(v0, lo, hi)
    s"""dict AS (SELECT v, CAST(dense_rank() OVER (ORDER BY v) - 1
       |           AS BIGINT) AS r
       |         FROM (SELECT DISTINCT $strCol AS v FROM $table
       |               WHERE $strCol IS NOT NULL)),
       |s AS (SELECT $idCol, dict.r AS x, $numExpr AS y
       |      FROM $table LEFT JOIN dict ON $table.$strCol = dict.v),
       |b AS (SELECT min(x) AS xmin, max(x) AS xmax,
       |             min(y) AS ymin, max(y) AS ymax FROM s),
       |c AS (SELECT $idCol,
       |        ${cellSql("x", "xmin", "xmax")} AS cx,
       |        ${cellSql("y", "ymin", "ymax")} AS cy
       |      FROM s, b),
       |z AS (SELECT $idCol, cx, cy, $terms AS zvalue FROM c)""".stripMargin
  }

  /** DuckDB mirror of x164 — the string-dim layout row by row. */
  private def stringZorderSql(bits: Int, nShards: Int): String =
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")}
       |SELECT doc_id, cx AS cell_lang, cy AS cell_n_chars, zvalue,
       |  ${zorderShardSql(bits, nShards)} AS shard
       |FROM z ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of x165/x168 — the string-predicated pruned read:
    * probe value = the lexicographically-median language (dict rank
    * ⌊max/2⌋); candidate shards from the same NATIVE string min/max
    * envelopes; aggregate over the FULL table at `lang = v` — hash
    * equality proves the string-routed prune lost nothing. `nShards`
    * varies between the two (x168 re-shards to 8 from the same curve
    * positions — transparency across the re-shard is exactly this SQL
    * with a different shard divisor). */
  private def stringPrunedScanSql(bits: Int, nShards: Int): String =
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")},
       |zs AS (SELECT doc_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.lang, d.source, d.n_chars
       |      FROM zs JOIN documents d USING (doc_id)),
       |man AS (SELECT shard, min(lang) AS lmin, max(lang) AS lmax
       |        FROM j GROUP BY shard),
       |mv AS (SELECT v FROM dict
       |       WHERE r = (SELECT max(r) // 2 FROM dict)),
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM man, mv
       |         WHERE lmin <= v AND lmax >= v),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM man)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  mv.v AS lang_val, cand.n_cand AS n_candidate_shards,
       |  tot.n_tot AS n_total_shards
       |FROM j, mv, cand, tot
       |WHERE lang = mv.v
       |GROUP BY source, mv.v, cand.n_cand, tot.n_tot
       |ORDER BY source""".stripMargin

  /** DuckDB mirror of x166 — the combined-predicate pruned read: stats
    * candidates for the n_chars range, string-bloom candidates for the
    * median language, their intersection, and the full-table aggregate
    * under the conjunction. */
  private def stringPrunedCombinedSql(bits: Int, nShards: Int, m: Int,
      k: Int): String = {
    val hashes = (0 until k).map(_.toString).mkString(", ")
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")},
       |zs AS (SELECT doc_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.lang, d.n_chars
       |      FROM zs JOIN documents d USING (doc_id)),
       |man AS (SELECT shard, min(n_chars) AS nmin, max(n_chars) AS nmax
       |        FROM j GROUP BY shard),
       |keys AS (SELECT DISTINCT shard, lang AS kk FROM j
       |         WHERE lang IS NOT NULL),
       |pos AS (SELECT DISTINCT shard,
       |          CAST(concat('0x', substr(md5('bloom|' || kk),
       |            1 + 8 * j2, 8)) AS BIGINT) % $m AS p
       |        FROM keys, unnest([$hashes]) AS u(j2)),
       |bl AS (SELECT shard, list_sort(list(p)) AS bits
       |       FROM pos GROUP BY shard),
       |nb AS (SELECT min(n_chars) AS cmin, max(n_chars) AS cmax
       |       FROM documents),
       |pb AS (SELECT cmin + (cmax - cmin) * 30 // 100 AS lo,
       |              cmin + (cmax - cmin) * 70 // 100 AS hi FROM nb),
       |mv AS (SELECT v FROM dict
       |       WHERE r = (SELECT max(r) // 2 FROM dict)),
       |ppos AS (SELECT list_transform([$hashes],
       |           j2 -> CAST(concat('0x', substr(md5('bloom|' || v),
       |             1 + 8 * j2, 8)) AS BIGINT) % $m) AS pp
       |         FROM mv),
       |sc AS (SELECT coalesce(list(shard), []) AS ss FROM man, pb
       |       WHERE nmin <= hi AND nmax >= lo),
       |kc AS (SELECT coalesce(list(shard), []) AS ks FROM bl, ppos
       |       WHERE len(list_filter(pp,
       |         q -> NOT list_contains(bits, q))) = 0),
       |counts AS (SELECT CAST(len(ss) AS BIGINT) AS n_stats,
       |             CAST(len(ks) AS BIGINT) AS n_keyc,
       |             CAST(len(list_intersect(ss, ks)) AS BIGINT) AS n_both
       |           FROM sc, kc),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |          CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |        FROM documents, pb, mv
       |        WHERE n_chars BETWEEN lo AND hi AND lang = mv.v)
       |SELECT agg.n_docs, agg.sum_id, agg.sum_chars, mv.v AS lang_val,
       |  counts.n_stats AS n_stats_cands, counts.n_keyc AS n_key_cands,
       |  counts.n_both AS n_candidate_shards
       |FROM agg, mv, counts ORDER BY lang_val""".stripMargin
  }

  /** DuckDB mirror of x169 — the IN-list bloom-pruned read: probe keys =
    * the dict's first and last values; candidates = the UNION of each
    * key's bloom-maybe shards; aggregate over the full table under the
    * IN-filter. */
  private def stringPrunedInListSql(bits: Int, nShards: Int, m: Int,
      k: Int): String = {
    val hashes = (0 until k).map(_.toString).mkString(", ")
    def ppos(src: String) =
      s"""(SELECT list_transform([$hashes],
         |   j2 -> CAST(concat('0x', substr(md5('bloom|' || v),
         |     1 + 8 * j2, 8)) AS BIGINT) % $m) AS pp FROM $src)"""
        .stripMargin
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")},
       |zs AS (SELECT doc_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.lang, d.source, d.n_chars
       |      FROM zs JOIN documents d USING (doc_id)),
       |keys AS (SELECT DISTINCT shard, lang AS kk FROM j
       |         WHERE lang IS NOT NULL),
       |pos AS (SELECT DISTINCT shard,
       |          CAST(concat('0x', substr(md5('bloom|' || kk),
       |            1 + 8 * j2, 8)) AS BIGINT) % $m AS p
       |        FROM keys, unnest([$hashes]) AS u(j2)),
       |bl AS (SELECT shard, list_sort(list(p)) AS bits
       |       FROM pos GROUP BY shard),
       |v1 AS (SELECT v FROM dict WHERE r = 0),
       |v2 AS (SELECT v FROM dict WHERE r = (SELECT max(r) FROM dict)),
       |p1 AS ${ppos("v1")},
       |p2 AS ${ppos("v2")},
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand
       |         FROM bl, p1, p2
       |         WHERE len(list_filter(p1.pp,
       |             q -> NOT list_contains(bits, q))) = 0
       |            OR len(list_filter(p2.pp,
       |             q -> NOT list_contains(bits, q))) = 0),
       |tot AS (SELECT CAST(count(DISTINCT shard) AS BIGINT) AS n_tot
       |        FROM zs)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  v1.v AS lang_lo, v2.v AS lang_hi,
       |  cand.n_cand AS n_candidate_shards, tot.n_tot AS n_total_shards
       |FROM j, v1, v2, cand, tot
       |WHERE lang IN (v1.v, v2.v)
       |GROUP BY source, v1.v, v2.v, cand.n_cand, tot.n_tot
       |ORDER BY source""".stripMargin
  }

  /** DuckDB mirror of x173 — the prefix-pruned read: candidates = the
    * shards whose native string envelope intersects the half-open
    * range ['e', 'f') (succ('e') = 'f' — the same successor arithmetic
    * [[graft.util.Scan.prefixSucc]] computes); aggregate over the full
    * table under LIKE 'e%' — hash equality proves the prefix-routed
    * prune lost nothing. */
  private def stringPrunedPrefixSql(bits: Int, nShards: Int): String =
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")},
       |zs AS (SELECT doc_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.lang, d.n_chars
       |      FROM zs JOIN documents d USING (doc_id)),
       |man AS (SELECT shard, min(lang) AS lmin, max(lang) AS lmax
       |        FROM j GROUP BY shard),
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM man
       |         WHERE lmax >= 'e' AND lmin < 'f'),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM man)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  cand.n_cand AS n_candidate_shards, tot.n_tot AS n_total_shards
       |FROM j, cand, tot
       |WHERE lang LIKE 'e%'
       |GROUP BY lang, cand.n_cand, tot.n_tot
       |ORDER BY lang""".stripMargin

  /** DuckDB mirror of x171 — the pruned delete: candidates from the
    * same string-bloom arithmetic, touched = the distinct shards that
    * actually hold the key (⊆ candidates by the no-false-negative
    * guarantee), removed = the key's row count, and the surviving
    * table's aggregate is simply documents-minus-key. */
  private def stringPrunedDeleteSql(bits: Int, nShards: Int, m: Int,
      k: Int): String = {
    val hashes = (0 until k).map(_.toString).mkString(", ")
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")},
       |zs AS (SELECT doc_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.lang, d.source, d.n_chars
       |      FROM zs JOIN documents d USING (doc_id)),
       |keys AS (SELECT DISTINCT shard, lang AS kk FROM j
       |         WHERE lang IS NOT NULL),
       |pos AS (SELECT DISTINCT shard,
       |          CAST(concat('0x', substr(md5('bloom|' || kk),
       |            1 + 8 * j2, 8)) AS BIGINT) % $m AS p
       |        FROM keys, unnest([$hashes]) AS u(j2)),
       |bl AS (SELECT shard, list_sort(list(p)) AS bits
       |       FROM pos GROUP BY shard),
       |mv AS (SELECT v FROM dict
       |       WHERE r = (SELECT max(r) // 2 FROM dict)),
       |ppos AS (SELECT list_transform([$hashes],
       |           j2 -> CAST(concat('0x', substr(md5('bloom|' || v),
       |             1 + 8 * j2, 8)) AS BIGINT) % $m) AS pp
       |         FROM mv),
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand
       |         FROM bl, ppos
       |         WHERE len(list_filter(pp,
       |           q -> NOT list_contains(bits, q))) = 0),
       |hit AS (SELECT CAST(count(*) AS BIGINT) AS n_removed,
       |          CAST(count(DISTINCT shard) AS BIGINT) AS n_touched
       |        FROM j, mv WHERE lang = mv.v)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  mv.v AS lang_deleted, hit.n_removed,
       |  hit.n_touched AS n_touched_shards,
       |  cand.n_cand AS n_candidate_shards
       |FROM j, mv, cand, hit
       |WHERE lang IS NULL OR lang <> mv.v
       |GROUP BY source, mv.v, hit.n_removed, hit.n_touched, cand.n_cand
       |ORDER BY source""".stripMargin
  }

  /** DuckDB mirror of x177 — the drop-column evolution: the logical
    * table after the drop is documents (corpus + batch) without the
    * `quality` column, so the pruned aggregate on the median language
    * is the plain per-language aggregate; the column-count literals
    * (6 physical with the pre-drop files' quality still on disk, 5
    * after compaction rewrites) are deterministic by construction. */
  private def schemaDropSql(bits: Int, nShards: Int): String =
    s"""WITH dict AS (SELECT v, CAST(dense_rank() OVER (ORDER BY v) - 1
       |           AS BIGINT) AS r
       |         FROM (SELECT DISTINCT lang AS v FROM documents
       |               WHERE lang IS NOT NULL AND doc_id % 7 <> 0)),
       |mv AS (SELECT v FROM dict
       |       WHERE r = (SELECT max(r) // 2 FROM dict))
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  mv.v AS lang_val, false AS has_quality_logical,
       |  CAST(6 AS BIGINT) AS n_phys_cols_evolved,
       |  CAST(5 AS BIGINT) AS n_phys_cols_compacted
       |FROM documents d, mv
       |WHERE d.lang = mv.v
       |GROUP BY mv.v
       |ORDER BY lang_val""".stripMargin

  /** DuckDB mirror of x176 — the deletion-vector (merge-on-read)
    * delete: the logical table after masking the median language is
    * the SAME relation in both phases (deferred mask, physical
    * application), so the oracle computes x171's table-minus-key
    * aggregate once and crosses it with the two phase labels; the
    * mask/apply counts equal the rewrite delete's hit counts. */
  private def dvDeleteSql(bits: Int, nShards: Int, m: Int,
      k: Int): String = {
    val hashes = (0 until k).map(_.toString).mkString(", ")
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")},
       |zs AS (SELECT doc_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.lang, d.source, d.n_chars
       |      FROM zs JOIN documents d USING (doc_id)),
       |keys AS (SELECT DISTINCT shard, lang AS kk FROM j
       |         WHERE lang IS NOT NULL),
       |pos AS (SELECT DISTINCT shard,
       |          CAST(concat('0x', substr(md5('bloom|' || kk),
       |            1 + 8 * j2, 8)) AS BIGINT) % $m AS p
       |        FROM keys, unnest([$hashes]) AS u(j2)),
       |bl AS (SELECT shard, list_sort(list(p)) AS bits
       |       FROM pos GROUP BY shard),
       |mv AS (SELECT v FROM dict
       |       WHERE r = (SELECT max(r) // 2 FROM dict)),
       |ppos AS (SELECT list_transform([$hashes],
       |           j2 -> CAST(concat('0x', substr(md5('bloom|' || v),
       |             1 + 8 * j2, 8)) AS BIGINT) % $m) AS pp
       |         FROM mv),
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand
       |         FROM bl, ppos
       |         WHERE len(list_filter(pp,
       |           q -> NOT list_contains(bits, q))) = 0),
       |hit AS (SELECT CAST(count(*) AS BIGINT) AS n_removed,
       |          CAST(count(DISTINCT shard) AS BIGINT) AS n_touched
       |        FROM j, mv WHERE lang = mv.v),
       |phases AS (SELECT * FROM (VALUES ('deferred'), ('applied'))
       |           p(phase))
       |SELECT p.phase, source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  mv.v AS lang_deleted, hit.n_removed,
       |  hit.n_touched AS n_dv_shards,
       |  cand.n_cand AS n_candidate_shards,
       |  hit.n_removed AS n_phys_removed,
       |  hit.n_touched AS n_applied_shards
       |FROM j, mv, cand, hit, phases p
       |WHERE lang IS NULL OR lang <> mv.v
       |GROUP BY p.phase, source, mv.v, hit.n_removed, hit.n_touched,
       |  cand.n_cand
       |ORDER BY p.phase, source""".stripMargin
  }

  /** DuckDB mirror of x179 — the targeted compaction: breaching shards
    * are exactly the corpus∩batch shards (each holds the corpus
    * publish's one file plus the append's one — two files), and the
    * pruned aggregate after the rewrite is transparent (the logical
    * table is corpus ∪ batch regardless of file layout). */
  private def targetedCompactSql(bits: Int, nShards: Int): String =
    s"""WITH dict AS (SELECT v, CAST(dense_rank() OVER (ORDER BY v) - 1
       |           AS BIGINT) AS r
       |         FROM (SELECT DISTINCT lang AS v FROM documents
       |               WHERE lang IS NOT NULL AND doc_id % 7 <> 0)),
       |s AS (SELECT doc_id, dict.r AS x, n_chars AS y,
       |        doc_id % 7 = 0 AS is_batch
       |      FROM documents LEFT JOIN dict ON documents.lang = dict.v),
       |b AS (SELECT min(x) AS xmin, max(x) AS xmax,
       |             min(y) AS ymin, max(y) AS ymax
       |      FROM s WHERE NOT is_batch),
       |c AS (SELECT doc_id, is_batch,
       |        ${zorderCellSql(bits)("x", "xmin", "xmax")} AS cx,
       |        ${zorderCellSql(bits)("y", "ymin", "ymax")} AS cy
       |      FROM s, b),
       |z AS (SELECT doc_id, is_batch,
       |        ${(0 until bits).map { i =>
              s"(((cx >> $i) & 1) << ${2 * i}) + " +
                s"(((cy >> $i) & 1) << ${2 * i + 1})"
            }.mkString(" + ")} AS zvalue
       |      FROM c),
       |zs AS (SELECT doc_id, is_batch,
       |         ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, zs.is_batch, d.lang, d.source, d.n_chars
       |      FROM zs JOIN documents d USING (doc_id)),
       |br AS (SELECT shard FROM j GROUP BY shard
       |       HAVING bool_or(is_batch) AND bool_or(NOT is_batch)),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_br FROM br),
       |mv AS (SELECT v FROM dict
       |       WHERE r = (SELECT max(r) // 2 FROM dict))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  mv.v AS lang_val, cnt.n_br AS n_breaching_shards,
       |  cnt.n_br * 2 AS n_files_before
       |FROM j, mv, cnt
       |WHERE lang = mv.v
       |GROUP BY source, mv.v, cnt.n_br
       |ORDER BY source""".stripMargin

  /** DuckDB mirror of x178 — the streaming takedown: identical logical
    * relation to x176 (table minus the median language) in both
    * phases; the DV-entry count is the masked shard count, physical
    * removals equal the hit count. */
  private def takedownStreamSql(bits: Int, nShards: Int): String =
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")},
       |zs AS (SELECT doc_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.lang, d.source, d.n_chars
       |      FROM zs JOIN documents d USING (doc_id)),
       |mv AS (SELECT v FROM dict
       |       WHERE r = (SELECT max(r) // 2 FROM dict)),
       |hit AS (SELECT CAST(count(*) AS BIGINT) AS n_removed,
       |          CAST(count(DISTINCT shard) AS BIGINT) AS n_touched
       |        FROM j, mv WHERE lang = mv.v),
       |phases AS (SELECT * FROM (VALUES ('deferred'), ('applied'))
       |           p(phase))
       |SELECT p.phase, source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  mv.v AS lang_deleted,
       |  hit.n_touched AS n_dv_entries,
       |  hit.n_removed AS n_phys_removed,
       |  hit.n_touched AS n_applied_shards
       |FROM j, mv, hit, phases p
       |WHERE lang IS NULL OR lang <> mv.v
       |GROUP BY p.phase, source, mv.v, hit.n_removed, hit.n_touched
       |ORDER BY p.phase, source""".stripMargin

  /** DuckDB mirror of x172 — the retention delete: candidates from the
    * same per-shard n_chars envelopes, touched = the candidates that
    * actually hold expired rows, removed = the expired count, and the
    * surviving table's aggregate is documents-minus-range. */
  private def retentionDeleteSql(bits: Int, nShards: Int): String =
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")},
       |zs AS (SELECT doc_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.source, d.n_chars
       |      FROM zs JOIN documents d USING (doc_id)),
       |man AS (SELECT shard, min(n_chars) AS nmin, max(n_chars) AS nmax
       |        FROM j GROUP BY shard),
       |pb AS (SELECT min(n_chars) AS cmin,
       |              min(n_chars) + (max(n_chars) - min(n_chars))
       |                * 30 // 100 AS cutoff
       |       FROM documents),
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM man, pb
       |         WHERE nmin <= cutoff AND nmax >= cmin),
       |hit AS (SELECT CAST(count(*) AS BIGINT) AS n_removed,
       |          CAST(count(DISTINCT shard) AS BIGINT) AS n_touched
       |        FROM j, pb WHERE n_chars BETWEEN cmin AND cutoff)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  pb.cutoff, hit.n_removed,
       |  hit.n_touched AS n_touched_shards,
       |  cand.n_cand AS n_candidate_shards
       |FROM j, pb, cand, hit
       |WHERE n_chars IS NULL OR n_chars > pb.cutoff
       |GROUP BY source, pb.cutoff, hit.n_removed, hit.n_touched,
       |  cand.n_cand
       |ORDER BY source""".stripMargin

  /** DuckDB mirror of x170 — the manifest-staleness fold: corpus slice
    * (doc_id % 7 ≠ 0) frames the layout, every doc assigns against that
    * frozen frame (batch rows clamp), and the per-shard (n_rows,
    * stale_rows) pairs are the total and batch-entered counts; after a
    * refresh the staleness sum is zero by definition. */
  private def manifestStalenessSql(bits: Int, nShards: Int): String =
    s"""WITH dict AS (SELECT v, CAST(dense_rank() OVER (ORDER BY v) - 1
       |           AS BIGINT) AS r
       |         FROM (SELECT DISTINCT lang AS v FROM documents
       |               WHERE lang IS NOT NULL AND doc_id % 7 <> 0)),
       |s AS (SELECT doc_id, dict.r AS x, n_chars AS y,
       |        doc_id % 7 = 0 AS is_batch
       |      FROM documents LEFT JOIN dict ON documents.lang = dict.v),
       |b AS (SELECT min(x) AS xmin, max(x) AS xmax,
       |             min(y) AS ymin, max(y) AS ymax
       |      FROM s WHERE NOT is_batch),
       |c AS (SELECT doc_id, is_batch,
       |        ${zorderCellSql(bits)("x", "xmin", "xmax")} AS cx,
       |        ${zorderCellSql(bits)("y", "ymin", "ymax")} AS cy
       |      FROM s, b),
       |z AS (SELECT doc_id, is_batch,
       |        ${(0 until bits).map { i =>
              s"(((cx >> $i) & 1) << ${2 * i}) + " +
                s"(((cy >> $i) & 1) << ${2 * i + 1})"
            }.mkString(" + ")} AS zvalue
       |      FROM c)
       |SELECT ${zorderShardSql(bits, nShards)} AS shard,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(*) FILTER (WHERE is_batch) AS BIGINT) AS stale_rows,
       |  CAST(0 AS BIGINT) AS stale_after_refresh
       |FROM z GROUP BY 1 ORDER BY shard""".stripMargin

  /** DuckDB mirror of x175 — the sharded MERGE: staged keys = the
    * update ids (% 100 = 3, re-sourced 'merged') plus insert ids
    * (% 100 = 4, shifted +10M); candidates = shards where SOME staged
    * key is bloom-covered; touched = distinct shards actually holding
    * an update id; the final table is documents-minus-matched ∪
    * staged. */
  private def upsertShardedSql(bits: Int, nShards: Int, m: Int,
      k: Int): String = {
    val hashes = (0 until k).map(_.toString).mkString(", ")
    s"""WITH ${stringZorderCtes(bits, "documents", "doc_id", "lang",
        "n_chars")},
       |zs AS (SELECT doc_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.doc_id FROM zs
       |      JOIN documents d USING (doc_id)),
       |pos AS (SELECT DISTINCT shard,
       |          CAST(concat('0x', substr(md5('bloom|' || doc_id),
       |            1 + 8 * j2, 8)) AS BIGINT) % $m AS p
       |        FROM j, unnest([$hashes]) AS u(j2)),
       |bl AS (SELECT shard, list_sort(list(p)) AS bits
       |       FROM pos GROUP BY shard),
       |skeys AS (SELECT doc_id AS kk FROM documents
       |          WHERE doc_id % 100 = 3
       |          UNION ALL
       |          SELECT doc_id + 10000000 FROM documents
       |          WHERE doc_id % 100 = 4),
       |kpos AS (SELECT kk, list_transform([$hashes],
       |           j2 -> CAST(concat('0x', substr(md5('bloom|' || kk),
       |             1 + 8 * j2, 8)) AS BIGINT) % $m) AS pp
       |         FROM skeys),
       |cov AS (SELECT DISTINCT bl.shard FROM bl, kpos
       |        WHERE len(list_filter(kpos.pp,
       |          q -> NOT list_contains(bl.bits, q))) = 0),
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cov),
       |hit AS (SELECT CAST(count(*) AS BIGINT) AS n_removed,
       |          CAST(count(DISTINCT shard) AS BIGINT) AS n_touched
       |        FROM j WHERE doc_id % 100 = 3),
       |final AS (SELECT source, n_chars FROM documents
       |          WHERE doc_id % 100 <> 3
       |          UNION ALL
       |          SELECT 'merged' AS source, n_chars FROM documents
       |          WHERE doc_id % 100 = 3
       |          UNION ALL
       |          SELECT 'inserted' AS source, n_chars FROM documents
       |          WHERE doc_id % 100 = 4)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  hit.n_removed AS n_replaced,
       |  hit.n_touched AS n_touched_shards,
       |  cand.n_cand AS n_candidate_shards
       |FROM final, hit, cand
       |GROUP BY source, hit.n_removed, hit.n_touched, cand.n_cand
       |ORDER BY source""".stripMargin
  }

  /** DuckDB mirror of x174 — schema evolution: corpus (doc_id % 7 ≠ 0)
    * frames the layout and publishes WITHOUT `quality`; the batch
    * appends with `quality = n_chars % 100`; old rows read as NULL.
    * Candidates for the new column = shards whose quality envelope
    * (batch rows only — old rows contribute NULL, ignored by min/max)
    * intersects [0, 49]. */
  private def schemaEvolutionSql(bits: Int, nShards: Int): String =
    s"""WITH dict AS (SELECT v, CAST(dense_rank() OVER (ORDER BY v) - 1
       |           AS BIGINT) AS r
       |         FROM (SELECT DISTINCT lang AS v FROM documents
       |               WHERE lang IS NOT NULL AND doc_id % 7 <> 0)),
       |s AS (SELECT doc_id, dict.r AS x, n_chars AS y,
       |        doc_id % 7 = 0 AS is_batch
       |      FROM documents LEFT JOIN dict ON documents.lang = dict.v),
       |b AS (SELECT min(x) AS xmin, max(x) AS xmax,
       |             min(y) AS ymin, max(y) AS ymax
       |      FROM s WHERE NOT is_batch),
       |c AS (SELECT doc_id, is_batch,
       |        ${zorderCellSql(bits)("x", "xmin", "xmax")} AS cx,
       |        ${zorderCellSql(bits)("y", "ymin", "ymax")} AS cy
       |      FROM s, b),
       |z AS (SELECT doc_id, is_batch,
       |        ${(0 until bits).map { i =>
              s"(((cx >> $i) & 1) << ${2 * i}) + " +
                s"(((cy >> $i) & 1) << ${2 * i + 1})"
            }.mkString(" + ")} AS zvalue
       |      FROM c),
       |zs AS (SELECT doc_id, is_batch,
       |         ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, d.lang, d.n_chars,
       |        CASE WHEN zs.is_batch THEN d.n_chars % 100
       |             ELSE NULL END AS quality
       |      FROM zs JOIN documents d USING (doc_id)),
       |mv AS (SELECT v FROM dict
       |       WHERE r = (SELECT max(r) // 2 FROM dict)),
       |qman AS (SELECT shard, min(quality) AS qmin, max(quality) AS qmax
       |         FROM j GROUP BY shard),
       |qcand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM qman
       |          WHERE qmin <= 49 AND qmax >= 0),
       |tot AS (SELECT CAST(count(DISTINCT shard) AS BIGINT) AS n_tot
       |        FROM j)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(quality) AS BIGINT) AS sum_quality,
       |  mv.v AS lang_val, qcand.n_cand AS n_quality_cands,
       |  tot.n_tot AS n_total_shards
       |FROM j, mv, qcand, tot
       |WHERE lang = mv.v
       |GROUP BY mv.v, qcand.n_cand, tot.n_tot
       |ORDER BY lang_val""".stripMargin

  /** DuckDB mirror of x167 — the DAX eq-stats measure answered off the
    * sharded fact through a string-keyed bloom-pruned read: probe type =
    * min(event_type) (the dax_eq_stats convention), candidate count from
    * the same bloom arithmetic, aggregate over the full fact at
    * `event_type = t`. */
  private def daxShardedFactSql(bits: Int, nShards: Int, m: Int,
      k: Int): String = {
    val hashes = (0 until k).map(_.toString).mkString(", ")
    s"""WITH ${stringZorderCtes(bits, "events", "event_id", "event_type",
        "epoch_us(ts)")},
       |zs AS (SELECT event_id, ${zorderShardSql(bits, nShards)} AS shard
       |       FROM z),
       |j AS (SELECT zs.shard, e.event_type
       |      FROM zs JOIN events e USING (event_id)),
       |keys AS (SELECT DISTINCT shard, event_type AS kk FROM j
       |         WHERE event_type IS NOT NULL),
       |pos AS (SELECT DISTINCT shard,
       |          CAST(concat('0x', substr(md5('bloom|' || kk),
       |            1 + 8 * j2, 8)) AS BIGINT) % $m AS p
       |        FROM keys, unnest([$hashes]) AS u(j2)),
       |bl AS (SELECT shard, list_sort(list(p)) AS bits
       |       FROM pos GROUP BY shard),
       |pk AS (SELECT min(event_type) AS t FROM events),
       |ppos AS (SELECT list_transform([$hashes],
       |           j2 -> CAST(concat('0x', substr(md5('bloom|' || t),
       |             1 + 8 * j2, 8)) AS BIGINT) % $m) AS pp
       |         FROM pk),
       |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand
       |         FROM bl, ppos
       |         WHERE len(list_filter(pp,
       |           q -> NOT list_contains(bits, q))) = 0),
       |tot AS (SELECT CAST(count(DISTINCT shard) AS BIGINT) AS n_tot
       |        FROM zs),
       |agg AS (SELECT ${graft.util.Exact.davgSql("value")} AS avg_value,
       |          max(value) AS max_value,
       |          CAST(count(*) AS BIGINT) AS n_events
       |        FROM events, pk WHERE event_type = pk.t)
       |SELECT agg.avg_value, agg.max_value, agg.n_events,
       |  pk.t AS lb_type, cand.n_cand AS n_candidate_shards,
       |  tot.n_tot AS n_total_shards
       |FROM agg, pk, cand, tot ORDER BY lb_type""".stripMargin
  }

  /** DuckDB mirror of x157 — the per-shard bloom index manifest. */
  private def bloomIndexSql(bits: Int, nShards: Int, m: Int,
      k: Int): String =
    s"""WITH ${bloomCtes(bits, nShards, m, k)}
       |SELECT shard, nk.n_keys, CAST(len(bits) AS BIGINT) AS n_bits_set,
       |  md5(array_to_string(list_transform(bits,
       |    v -> CAST(v AS VARCHAR)), ',')) AS bits_md5
       |FROM bl JOIN (SELECT shard, CAST(count(*) AS BIGINT) AS n_keys
       |              FROM keys GROUP BY shard) nk USING (shard)
       |ORDER BY shard""".stripMargin

  /** DuckDB mirror of x158 — candidate (bloom-maybe) vs true shards per
    * probe key; the gap is the measured false-positive rate. */
  private def bloomProbeSql(bits: Int, nShards: Int, m: Int, k: Int,
      probeKeys: Seq[Long]): String = {
    val hashes = (0 until k).map(_.toString).mkString(", ")
    val pks = probeKeys.mkString(", ")
    s"""WITH ${bloomCtes(bits, nShards, m, k)},
       |probe AS (SELECT CAST(unnest([$pks]) AS BIGINT) AS probe_key),
       |ppos AS (SELECT probe_key, list_transform([$hashes],
       |           j -> CAST(concat('0x', substr(md5('bloom|' ||
       |             CAST(probe_key AS VARCHAR)), 1 + 8 * j, 8))
       |             AS BIGINT) % $m) AS pp
       |         FROM probe),
       |cand AS (SELECT probe_key, CAST(count(*) AS BIGINT) AS c
       |         FROM ppos, bl
       |         WHERE len(list_filter(pp,
       |           q -> NOT list_contains(bits, q))) = 0
       |         GROUP BY probe_key),
       |tr AS (SELECT probe_key, CAST(count(*) AS BIGINT) AS t
       |       FROM probe JOIN keys ON kk = probe_key GROUP BY probe_key)
       |SELECT probe_key,
       |  coalesce(c, 0) AS n_candidate_shards,
       |  coalesce(t, 0) AS n_true_shards
       |FROM probe LEFT JOIN cand USING (probe_key)
       |  LEFT JOIN tr USING (probe_key)
       |ORDER BY probe_key""".stripMargin
  }

  /** DuckDB mirror of x150: the x148 chain's subword count feeding x51's
    * md5-ordered concat-then-chunk packing window. */
  private def bpeLayoutSql: String =
    s"""WITH b AS (SELECT doc_id, lang, $bpeMergedExpr AS s FROM documents),
       |n AS (SELECT doc_id, lang, ${bpeTokenCountExpr("s")} AS n_tokens
       |      FROM b),
       |o AS (SELECT doc_id, lang, n_tokens,
       |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
       |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS tok_offset
       |      FROM n)
       |SELECT doc_id, lang, n_tokens, tok_offset,
       |  tok_offset // 1024 AS seq_idx, tok_offset % 1024 AS seq_pos
       |FROM o ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of x149 — ground truth with NO winnowing: anchors are
    * raw L-gram string equality across documents, extended to maximal
    * runs by the same first-mismatch diagonal arithmetic the Spark side
    * uses. The Spark result must equal this set exactly, which puts the
    * winnow screen's coverage guarantee itself under test.
    */
  private def exactSubstringCtes(l: Int): String = {
    val norm = normSql("text")
    s"""t AS (SELECT doc_id, string_split($norm, ' ') AS l
       |      FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, i,
       |        list_aggr(l[CAST(i AS INT):CAST(i AS INT) + $l - 1],
       |          'string_agg', ' ') AS gram
       |      FROM t, unnest(generate_series(1, len(l) - $l + 1)) AS u(i)
       |      WHERE len(l) >= $l),
       |a AS (SELECT ga.doc_id AS da, ga.i AS pa, gb.doc_id AS db, gb.i AS pb
       |      FROM g ga JOIN g gb ON ga.gram = gb.gram
       |        AND ga.doc_id < gb.doc_id),
       |e AS (SELECT da, db, pa, pb, ta.l AS la, tb.l AS lb,
       |        least(len(ta.l) - pa, len(tb.l) - pb) + 1 AS maxf,
       |        least(pa, pb) - 1 AS maxb
       |      FROM a JOIN t ta ON ta.doc_id = da JOIN t tb ON tb.doc_id = db),
       |x AS (SELECT da, db, pa, pb,
       |        coalesce(list_filter(range(0, maxf),
       |          t -> la[CAST(pa + t AS INT)] <> lb[CAST(pb + t AS INT)])[1],
       |          maxf) AS fwd,
       |        coalesce(list_filter(range(1, maxb + 1),
       |          t -> la[CAST(pa - t AS INT)] <> lb[CAST(pb - t AS INT)])[1]
       |          - 1, maxb) AS bk
       |      FROM e),
       |runs AS (SELECT DISTINCT da AS doc_a, db AS doc_b,
       |           CAST(pa - bk AS BIGINT) AS a_pos,
       |           CAST(pb - bk AS BIGINT) AS b_pos,
       |           CAST(bk + fwd AS BIGINT) AS match_len
       |         FROM x WHERE bk + fwd >= $l)""".stripMargin
  }

  private def exactSubstringSql(l: Int): String =
    s"""WITH ${exactSubstringCtes(l)}
       |SELECT doc_a, doc_b, a_pos, b_pos, match_len
       |FROM runs ORDER BY doc_a, doc_b, a_pos, b_pos""".stripMargin

  /** DuckDB mirror of x152 — the two-sided form of [[exactSubstringSql]]:
    * anchors are raw L-gram equality between the corpus side (doc_a) and
    * the batch side (doc_b), no winnowing, same extension arithmetic.
    */
  private def exactSubstringIncrSql(l: Int, corpusPred: String,
      batchPred: String): String = {
    val norm = normSql("text")
    s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
       |           FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, i,
       |        list_aggr(l[CAST(i AS INT):CAST(i AS INT) + $l - 1],
       |          'string_agg', ' ') AS gram
       |      FROM t, unnest(generate_series(1, len(l) - $l + 1)) AS u(i)
       |      WHERE len(l) >= $l),
       |a AS (SELECT ga.doc_id AS da, ga.i AS pa, gb.doc_id AS db, gb.i AS pb
       |      FROM g ga JOIN g gb ON ga.gram = gb.gram
       |      WHERE ga.doc_id $corpusPred AND gb.doc_id $batchPred),
       |e AS (SELECT da, db, pa, pb, ta.l AS la, tb.l AS lb,
       |        least(len(ta.l) - pa, len(tb.l) - pb) + 1 AS maxf,
       |        least(pa, pb) - 1 AS maxb
       |      FROM a JOIN t ta ON ta.doc_id = da JOIN t tb ON tb.doc_id = db),
       |x AS (SELECT da, db, pa, pb,
       |        coalesce(list_filter(range(0, maxf),
       |          t -> la[CAST(pa + t AS INT)] <> lb[CAST(pb + t AS INT)])[1],
       |          maxf) AS fwd,
       |        coalesce(list_filter(range(1, maxb + 1),
       |          t -> la[CAST(pa - t AS INT)] <> lb[CAST(pb - t AS INT)])[1]
       |          - 1, maxb) AS bk
       |      FROM e)
       |SELECT DISTINCT da AS doc_a, db AS doc_b,
       |  CAST(pa - bk AS BIGINT) AS a_pos, CAST(pb - bk AS BIGINT) AS b_pos,
       |  CAST(bk + fwd AS BIGINT) AS match_len
       |FROM x WHERE bk + fwd >= $l
       |ORDER BY doc_a, doc_b, a_pos, b_pos""".stripMargin
  }

  /** DuckDB mirror of x151: x149's runs, removal charged to the
    * larger-id side (`doc_b`), per-token covered test, kept text
    * reassembled in order (all-removed → NULL, the x53 convention).
    */
  private def exactSubstringStripSql(l: Int): String =
    s"""WITH ${exactSubstringCtes(l)},
       |sp AS (SELECT DISTINCT doc_b AS doc_id, b_pos, match_len FROM runs),
       |tok AS (SELECT t.doc_id, i, l[CAST(i AS INT)] AS tk
       |        FROM t, unnest(generate_series(1, len(l))) AS u(i)),
       |mk AS (SELECT tok.doc_id, i, tk,
       |         EXISTS(SELECT 1 FROM sp WHERE sp.doc_id = tok.doc_id
       |                AND i >= sp.b_pos
       |                AND i < sp.b_pos + sp.match_len) AS rm
       |       FROM tok)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CASE WHEN sum(CASE WHEN rm THEN 0 ELSE 1 END) = 0 THEN NULL
       |       ELSE string_agg(CASE WHEN NOT rm THEN tk END, ' ' ORDER BY i)
       |  END AS text_kept
       |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of x147: jlIvfRescoreSql with ONE Lloyd round between
    * seeding and routing — cent0 = 16 smallest-id PROJECTED vectors,
    * asn0 under cent0, cent1 = per-cell decimal(28,10) means of the
    * projected components (annIvfKmeansSql's arithmetic — exact-integer
    * sums, one double division per element), then assignment/probe list
    * under cent1 and the pair cosine over the ORIGINAL embeddings.
    */
  private def jlIvfRescoreRefinedSql: String =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 10000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${jlFromQ(16, "p16")},
       |pd AS (SELECT vec_id, CAST(pv AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(pv AS DOUBLE[]), CAST(pv AS DOUBLE[]))) AS n
       |       FROM p16),
       |cent0 AS (SELECT vec_id AS cid, v AS cvec, n AS cn
       |          FROM pd ORDER BY vec_id LIMIT 16),
       |s0 AS (SELECT e.vec_id, e.v, c.cid,
       |         list_dot_product(e.v, c.cvec) / (e.n * c.cn) AS s
       |       FROM pd e CROSS JOIN cent0 c),
       |asn0 AS (SELECT vec_id, v, cid AS cell FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |            FROM s0) WHERE rn = 1),
       |sums AS (SELECT cell, CAST(i AS INT) AS pos,
       |           sum(CAST(v[CAST(i AS INT)] AS DECIMAL(28,10))) AS sm,
       |           count(*) AS cnt
       |         FROM asn0 t, unnest(generate_series(1, len(v))) AS u(i)
       |         GROUP BY 1, 2),
       |cent1 AS (SELECT cid, cvec, sqrt(list_dot_product(cvec, cvec)) AS cn FROM
       |            (SELECT cell AS cid, list(CAST(sm AS DOUBLE) / cnt ORDER BY pos) AS cvec
       |             FROM sums GROUP BY cell)),
       |s1 AS (SELECT e.vec_id, c.cid,
       |         list_dot_product(e.v, c.cvec) / (e.n * c.cn) AS s
       |       FROM pd e CROSS JOIN cent1 c),
       |rk AS (SELECT vec_id, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |       FROM s1),
       |corpus AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
       |probes AS (SELECT vec_id, cid AS cell FROM rk WHERE rn <= 2),
       |fp AS (SELECT pa.vec_id AS query_id, pb.vec_id AS neighbor_id, $cosSql AS c
       |       FROM probes pa JOIN corpus pb
       |         ON pa.cell = pb.cell AND pa.vec_id <> pb.vec_id
       |       JOIN embeddings a ON a.vec_id = pa.vec_id
       |       JOIN embeddings b ON b.vec_id = pb.vec_id),
       |r AS (SELECT query_id, neighbor_id, c,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY c DESC, neighbor_id) AS INT) AS rank
       |      FROM fp)
       |SELECT query_id, neighbor_id, round(c, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of x123: cell assignment under corpus-seeded centroids
    * (annIvfSql's core), occupancy histograms per side, x108's exact-
    * integer drift algebra, and the engine-exact tv
    * (Σ drift_num, ONE division).
    */
  private def centroidDriftSql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
       |              FROM embeddings WHERE vec_id % 3 <> 0
       |              ORDER BY vec_id LIMIT 16),
       |scored AS (SELECT e.vec_id, c.cid,
       |             list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) /
       |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |                sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS s
       |           FROM embeddings e CROSS JOIN cent c),
       |asn AS (SELECT vec_id, cid AS cell FROM (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |  FROM scored) WHERE rn = 1),
       |refc AS (SELECT cell, CAST(count(*) AS BIGINT) AS c_ref FROM asn
       |         WHERE vec_id % 3 <> 0 GROUP BY cell),
       |curc AS (SELECT cell, CAST(count(*) AS BIGINT) AS c_cur FROM asn
       |         WHERE vec_id % 3 = 0 GROUP BY cell),
       |j AS (SELECT coalesce(r.cell, c.cell) AS cell,
       |        coalesce(r.c_ref, 0) AS c_ref, coalesce(c.c_cur, 0) AS c_cur
       |      FROM refc r FULL OUTER JOIN curc c ON r.cell = c.cell),
       |tot AS (SELECT CAST(sum(c_ref) AS BIGINT) AS nr,
       |          CAST(sum(c_cur) AS BIGINT) AS nc FROM j),
       |d AS (SELECT cell, c_ref, c_cur,
       |        abs(c_ref * nc - c_cur * nr) AS drift_num,
       |        CAST(abs(c_ref * nc - c_cur * nr) AS DOUBLE)
       |          / (2 * nr * nc) AS drift_share
       |      FROM j CROSS JOIN tot),
       |t AS (SELECT CAST(sum(drift_num) AS DOUBLE)
       |        / (2 * (SELECT nr FROM tot) * (SELECT nc FROM tot)) AS tv
       |      FROM d)
       |SELECT d.cell, d.c_ref, d.c_cur, d.drift_num, d.drift_share,
       |  t.tv, t.tv > 0.1 AS refresh
       |FROM d CROSS JOIN t ORDER BY d.cell""".stripMargin

  private def topkSql: String =
    s"""WITH p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
       |           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, c,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
       |      FROM p)
       |SELECT query_id, neighbor_id, round(c, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def annLshSql: String = {
    val buckets = Similarity.planes(8, 64).map { pv =>
      val lits = pv.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $lits) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH bk AS (SELECT vec_id, embedding, $buckets AS bucket FROM embeddings),
       |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
       |      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, c,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
       |      FROM p)
       |SELECT query_id, neighbor_id, round(c, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Shared CTEs of the blocked-cosine near-dup (x27/x34): 2 bands × 4
    * hyperplane sign bits, distinct same-band-bucket candidate pairs,
    * exact cosine verify ≥ 0.45 into `vp(doc_a, doc_b, cosine)`.
    */
  /** Banded hyperplane-LSH candidate + exact-verify CTEs, parameterized by
    * the candidate predicate: `x.vec_id < y.vec_id` is the corpus self-join
    * (x27/x34); the disjoint even-vs-odd split is the incremental variant
    * (x37).
    */
  private def embedPairCtes(candPred: String = "x.vec_id < y.vec_id"): String = {
    val pv = Similarity.planes(8, 64)
    def bucket(planeIdx: Range): String = planeIdx.map { p =>
      val lits = pv(p).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $lits) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""bk AS (SELECT vec_id, ${bucket(0 until 4)} AS bucket0,
       |                   ${bucket(4 until 8)} AS bucket1 FROM embeddings),
       |banded AS (SELECT vec_id, 0 AS band, bucket0 AS bucket FROM bk
       |           UNION ALL SELECT vec_id, 1, bucket1 FROM bk),
       |cand AS (SELECT DISTINCT x.vec_id AS doc_a, y.vec_id AS doc_b
       |         FROM banded x JOIN banded y
       |           ON x.band = y.band AND x.bucket = y.bucket AND $candPred),
       |vp AS (SELECT c.doc_a, c.doc_b, round($cosSql, 9) AS cosine
       |       FROM cand c JOIN embeddings a ON a.vec_id = c.doc_a
       |                   JOIN embeddings b ON b.vec_id = c.doc_b
       |       WHERE $cosSql >= 0.45)""".stripMargin
  }

  private def embedNearDupBlockedSql: String =
    s"""WITH ${embedPairCtes()}
       |SELECT doc_a, doc_b, cosine FROM vp ORDER BY doc_a, doc_b""".stripMargin

  private def embedNearDupIncrementalSql: String =
    s"""WITH ${embedPairCtes("x.vec_id % 2 = 0 AND y.vec_id % 2 <> 0")}
       |SELECT doc_a, doc_b, cosine FROM vp ORDER BY doc_a, doc_b""".stripMargin

  /** x34: blocked-cosine pairs → recursive-closure clusters → drop every
    * member except its canonical (min-id) survivor.
    */
  private def embedDedupSql: String =
    s"""WITH RECURSIVE ${embedPairCtes()},
       |e AS (SELECT doc_a AS s, doc_b AS d FROM vp
       |      UNION ALL SELECT doc_b, doc_a FROM vp),
       |reach AS (SELECT s AS id, s AS r FROM e
       |          UNION
       |          SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d),
       |dropped AS (SELECT id FROM (SELECT id, min(r) AS canon FROM reach GROUP BY id)
       |            WHERE canon <> id)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM dropped)
       |ORDER BY vec_id""".stripMargin

  /** x59: x16's IVF cell assignment → within-cell cosine ≥ .45 pairs →
    * x34's recursive-closure collapse to min-id canonicals.
    */
  private def semanticDedupSql: String =
    s"""WITH RECURSIVE cent AS (SELECT vec_id AS cid, embedding AS cvec
       |              FROM embeddings ORDER BY vec_id LIMIT 16),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |             list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) /
       |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |                sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS s
       |           FROM embeddings e CROSS JOIN cent c),
       |asn AS (SELECT vec_id, embedding, cid AS cell FROM
       |          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |           FROM scored) WHERE rn = 1),
       |vp AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |       FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |       WHERE $cosSql >= 0.45),
       |e AS (SELECT doc_a AS s, doc_b AS d FROM vp
       |      UNION ALL SELECT doc_b, doc_a FROM vp),
       |reach AS (SELECT s AS id, s AS r FROM e
       |          UNION
       |          SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d),
       |dropped AS (SELECT id FROM (SELECT id, min(r) AS canon FROM reach GROUP BY id)
       |            WHERE canon <> id)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM dropped)
       |ORDER BY vec_id""".stripMargin

  private def annIvfSql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
       |              FROM embeddings ORDER BY vec_id LIMIT 16),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |             list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) /
       |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |                sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS s
       |           FROM embeddings e CROSS JOIN cent c),
       |asn AS (SELECT vec_id, embedding, cid AS cell FROM
       |          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |           FROM scored) WHERE rn = 1),
       |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
       |      FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, c,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
       |      FROM p)
       |SELECT query_id, neighbor_id, round(c, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of ivfTopKProbed: one ranked centroid-score pass, corpus
    * at rn = 1, query probe list at rn ≤ 2, rank within probed cells.
    */
  private def annIvfProbedSql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
       |              FROM embeddings ORDER BY vec_id LIMIT 16),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |             list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) /
       |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |                sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS s
       |           FROM embeddings e CROSS JOIN cent c),
       |rk AS (SELECT vec_id, embedding, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |       FROM scored),
       |corpus AS (SELECT vec_id, embedding, cid AS cell FROM rk WHERE rn = 1),
       |probes AS (SELECT vec_id, embedding, cid AS cell FROM rk WHERE rn <= 2),
       |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
       |      FROM probes a JOIN corpus b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, c,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
       |      FROM p)
       |SELECT query_id, neighbor_id, round(c, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of ivfQuantizedRescoreTopK: x17's quantization, x16's
    * cell assignment, quantized-dot candidate rank (ints exact in double),
    * exact rescore of the top-20, cut to 5.
    */
  private def annQuantizedRescoreSql: String =
    s"""WITH qq AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |              sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n,
       |              list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS sc
       |            FROM embeddings),
       |qz AS (SELECT vec_id, v, n, sc,
       |         list_transform(v, x -> CAST(CASE WHEN sc = 0.0 THEN 0
       |                                          ELSE floor(x / sc + 0.5) END AS DOUBLE)) AS q
       |       FROM qq),
       |cent AS (SELECT vec_id AS cid, embedding AS cvec
       |         FROM embeddings ORDER BY vec_id LIMIT 16),
       |sc0 AS (SELECT e.vec_id, c.cid,
       |          list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) /
       |            (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |             sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS s
       |        FROM embeddings e CROSS JOIN cent c),
       |asn AS (SELECT vec_id, cid AS cell FROM
       |          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |           FROM sc0) WHERE rn = 1),
       |pair AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |           list_dot_product(pa.q, pb.q) * pa.sc * pb.sc / (pa.n * pb.n) AS approx
       |         FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |         JOIN qz pa ON pa.vec_id = a.vec_id
       |         JOIN qz pb ON pb.vec_id = b.vec_id),
       |cand AS (SELECT query_id, neighbor_id FROM
       |           (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS rn
       |            FROM pair) WHERE rn <= 20),
       |re AS (SELECT c.query_id, c.neighbor_id,
       |         list_dot_product(pa.v, pb.v) / (pa.n * pb.n) AS c2
       |       FROM cand c JOIN qz pa ON pa.vec_id = c.query_id
       |                   JOIN qz pb ON pb.vec_id = c.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, c2,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY c2 DESC, neighbor_id) AS INT) AS rank
       |      FROM re)
       |SELECT query_id, neighbor_id, round(c2, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of x52 (IVF + PQ-ADC): coarse cells as in annIvfSql;
    * per (vector, sub-space) the argmin-L2 codebook code against the 16
    * smallest-id seed sub-vectors; per candidate the reconstruction
    * (flattened chosen sub-vectors, ORDER BY j) and its norm term
    * (ORDER BY j list_sum — same left-to-right double folds as Spark's
    * aggregate()); per pair the decomposed ADC
    * `‖q‖² + cn2 − 2·q·recon`; exact rescore of the top-20.
    */
  private def annPqAdcSql: String = {
    def sl(v: String) = s"$v[CAST(j.j * 8 + 1 AS INT):CAST(j.j * 8 + 8 AS INT)]"
    def slc(v: String) = s"$v[CAST(c.jj * 8 + 1 AS INT):CAST(c.jj * 8 + 8 AS INT)]"
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
       |              FROM embeddings ORDER BY vec_id LIMIT 16),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n
       |       FROM embeddings),
       |sc0 AS (SELECT e.vec_id, c.cid,
       |          list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) /
       |            (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |             sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS s
       |        FROM embeddings e CROSS JOIN cent c),
       |asn AS (SELECT vec_id, cid AS cell FROM
       |          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |           FROM sc0) WHERE rn = 1),
       |seeds AS (SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS svec
       |          FROM embeddings ORDER BY vec_id LIMIT 16),
       |cd AS (SELECT vec_id, jj, sid AS code FROM (
       |         SELECT e.vec_id, j.j AS jj, s.sid,
       |           row_number() OVER (PARTITION BY e.vec_id, j.j ORDER BY
       |             list_dot_product(${sl("s.svec")}, ${sl("s.svec")}) -
       |               2.0 * list_dot_product(${sl("e.v")}, ${sl("s.svec")}),
       |             s.sid) AS rn
       |         FROM ev e
       |         CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
       |         CROSS JOIN seeds s) WHERE rn = 1),
       |rec AS (SELECT c.vec_id,
       |          flatten(list(${slc("s.svec")} ORDER BY c.jj)) AS recon,
       |          list_sum(list(
       |            list_dot_product(${slc("s.svec")}, ${slc("s.svec")})
       |            ORDER BY c.jj)) AS cn2
       |        FROM cd c JOIN seeds s ON s.sid = c.code
       |        GROUP BY c.vec_id),
       |pq AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         list_dot_product(qa.v, qa.v) + r.cn2 -
       |           2.0 * list_dot_product(qa.v, r.recon) AS adc
       |       FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |       JOIN ev qa ON qa.vec_id = a.vec_id
       |       JOIN rec r ON r.vec_id = b.vec_id),
       |cand AS (SELECT query_id, neighbor_id FROM
       |           (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |            FROM pq) WHERE rn <= 20),
       |re AS (SELECT c.query_id, c.neighbor_id,
       |         list_dot_product(pa.v, pb.v) / (pa.n * pb.n) AS c2
       |       FROM cand c JOIN ev pa ON pa.vec_id = c.query_id
       |                   JOIN ev pb ON pb.vec_id = c.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, c2,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY c2 DESC, neighbor_id) AS INT) AS rank
       |      FROM re)
       |SELECT query_id, neighbor_id, round(c2, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private def annIvfKmeansSql: String =
    s"""WITH cent0 AS (SELECT vec_id AS cid, embedding AS cvec
       |               FROM embeddings ORDER BY vec_id LIMIT 16),
       |s0 AS (SELECT e.vec_id, e.embedding, c.cid,
       |         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) /
       |           (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |            sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS s
       |       FROM embeddings e CROSS JOIN cent0 c),
       |asn0 AS (SELECT vec_id, embedding, cid AS cell FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |            FROM s0) WHERE rn = 1),
       |sums AS (SELECT cell, CAST(i AS INT) AS pos,
       |           sum(CAST(v[CAST(i AS INT)] AS DECIMAL(28,10))) AS sm, count(*) AS n
       |         FROM (SELECT cell, CAST(embedding AS DOUBLE[]) AS v FROM asn0) t,
       |              unnest(generate_series(1, len(v))) AS u(i)
       |         GROUP BY 1, 2),
       |cent1 AS (SELECT cell AS cid, list(CAST(sm AS DOUBLE) / n ORDER BY pos) AS cvec
       |          FROM sums GROUP BY cell),
       |s1 AS (SELECT e.vec_id, e.embedding, c.cid,
       |         list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec) /
       |           (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |            sqrt(list_dot_product(c.cvec, c.cvec))) AS s
       |       FROM embeddings e CROSS JOIN cent1 c),
       |asn1 AS (SELECT vec_id, embedding, cid AS cell FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |            FROM s1) WHERE rn = 1),
       |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
       |      FROM asn1 a JOIN asn1 b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, c,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
       |      FROM p)
       |SELECT query_id, neighbor_id, round(c, 9) AS cosine, rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of x125: annIvfKmeansSql's CTE chain yields BOTH
    * assignment generations (asn0 = seeded, asn1 = one Lloyd step); each
    * variant's in-cell top-5 is checked against the exact baseline per
    * cosine band, x122's report shape keyed by variant.
    */
  private def ivfRecallRefinedSql: String = {
    def f(asn: String, label: String, name: String) =
      s"""$name AS (SELECT '$label' AS variant, query_id, neighbor_id FROM (
         |  SELECT p.query_id, p.neighbor_id,
         |    row_number() OVER (PARTITION BY p.query_id ORDER BY p.c DESC, p.neighbor_id) AS rank
         |  FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
         |        FROM $asn a JOIN $asn b ON a.cell = b.cell AND a.vec_id <> b.vec_id) p
         |) WHERE rank <= 5)""".stripMargin
    s"""WITH cent0 AS (SELECT vec_id AS cid, embedding AS cvec
       |               FROM embeddings ORDER BY vec_id LIMIT 16),
       |s0 AS (SELECT e.vec_id, e.embedding, c.cid,
       |         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) /
       |           (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |            sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS s
       |       FROM embeddings e CROSS JOIN cent0 c),
       |asn0 AS (SELECT vec_id, embedding, cid AS cell FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |            FROM s0) WHERE rn = 1),
       |sums AS (SELECT cell, CAST(i AS INT) AS pos,
       |           sum(CAST(v[CAST(i AS INT)] AS DECIMAL(28,10))) AS sm, count(*) AS n
       |         FROM (SELECT cell, CAST(embedding AS DOUBLE[]) AS v FROM asn0) t,
       |              unnest(generate_series(1, len(v))) AS u(i)
       |         GROUP BY 1, 2),
       |cent1 AS (SELECT cell AS cid, list(CAST(sm AS DOUBLE) / n ORDER BY pos) AS cvec
       |          FROM sums GROUP BY cell),
       |s1 AS (SELECT e.vec_id, e.embedding, c.cid,
       |         list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec) /
       |           (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |            sqrt(list_dot_product(c.cvec, c.cvec))) AS s
       |       FROM embeddings e CROSS JOIN cent1 c),
       |asn1 AS (SELECT vec_id, embedding, cid AS cell FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |            FROM s1) WHERE rn = 1),
       |ex AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS c
       |       FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       |exact AS (SELECT query_id, neighbor_id, round(c, 9) AS cosine FROM (
       |  SELECT query_id, neighbor_id, c,
       |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
       |  FROM ex) WHERE rank <= 5),
       |${f("asn0", "seeded", "fs")},
       |${f("asn1", "refined", "fr")},
       |found AS (SELECT * FROM fs UNION ALL SELECT * FROM fr),
       |rep AS (SELECT v.variant, CAST(floor(e.cosine * 20) AS INT) AS band,
       |          CAST(count(*) AS BIGINT) AS n_exact,
       |          CAST(sum(CASE WHEN fnd.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
       |        FROM (VALUES ('seeded'), ('refined')) AS v(variant)
       |        CROSS JOIN exact e
       |        LEFT JOIN found fnd ON fnd.variant = v.variant
       |          AND fnd.query_id = e.query_id AND fnd.neighbor_id = e.neighbor_id
       |        GROUP BY 1, 2)
       |SELECT variant, band, n_exact, n_found,
       |  CAST(n_found AS DOUBLE) / n_exact AS recall
       |FROM rep ORDER BY variant, band""".stripMargin
  }

  /** CTE chain ending in `lp` = (doc_id, lang_pred) — the langId mirror
    * over `src`, shared by x9 and the x47 composition.
    */
  private def langPredCtes(src: String): String = {
    val scores = TextAnalysis.StopwordSets.map { case (lang, set) =>
      val arr = set.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(l, x -> list_contains($arr, x))) AS s_$lang"
    }.mkString(",\n  ")
    val langs = TextAnalysis.StopwordSets.map(_._1)
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val chain = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
    s"""lt AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l FROM $src),
       |ls AS (SELECT doc_id, $scores FROM lt),
       |lp AS (SELECT doc_id,
       |  CASE WHEN $best = 0 THEN 'unknown' $chain ELSE 'unknown' END AS lang_pred
       |  FROM ls)""".stripMargin
  }

  /** x90/x92 mirror: CTE chain ending in `p` = DISTINCT (doc_id, pos, fp)
    * winnowing picks (k=3 grams, w=4 windows, rightmost-min).
    */
  private def winnowPicksCtes: String = {
    val norm = normSql("text")
    s"""t AS (SELECT doc_id, string_split($norm, ' ') AS l
       |      FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id,
       |        list_transform(generate_series(1, greatest(len(l) - 2, 1)),
       |          i -> CAST(concat('0x', substr(md5('0|' ||
       |                 concat_ws(' ', l[CAST(i AS INT)],
       |                   l[CAST(i AS INT) + 1], l[CAST(i AS INT) + 2])),
       |                 1, 8)) AS BIGINT)) AS h
       |      FROM t),
       |win AS (SELECT doc_id, i,
       |          h[CAST(i AS INT):CAST(i AS INT) + 3] AS sub
       |        FROM g, unnest(generate_series(1, greatest(len(h) - 3, 1)))
       |          AS u(i)),
       |p AS (SELECT DISTINCT doc_id,
       |        CAST(i + len(sub)
       |          - list_position(list_reverse(sub), list_min(sub)) AS INT)
       |          AS pos,
       |        list_min(sub) AS fp
       |      FROM win)""".stripMargin
  }

  /** x89 mirror: per-half stopword scores + the langId CASE chain twice. */
  private def codeSwitchSql: String = {
    def scoreCols(arr: String, sfx: String) =
      TextAnalysis.StopwordSets.map { case (lang, set) =>
        val a = set.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($arr, x -> list_contains($a, x))) AS s_${lang}_$sfx"
      }.mkString(", ")
    def pred(sfx: String) = {
      val langs = TextAnalysis.StopwordSets.map(_._1)
      val best = langs.map(l => s"s_${l}_$sfx").mkString("greatest(", ", ", ")")
      val chain = langs.map(l => s"WHEN s_${l}_$sfx = $best THEN '$l'").mkString(" ")
      s"CASE WHEN $best = 0 THEN 'unknown' $chain ELSE 'unknown' END"
    }
    s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l
       |           FROM documents WHERE text IS NOT NULL),
       |h AS (SELECT doc_id,
       |        l[1:CAST((len(l) + 1) // 2 AS INT)] AS hl,
       |        l[CAST((len(l) + 1) // 2 AS INT) + 1:len(l)] AS tl
       |      FROM t),
       |s AS (SELECT doc_id, ${scoreCols("hl", "h")},
       |        ${scoreCols("tl", "t")} FROM h)
       |SELECT doc_id, ${pred("h")} AS lang_head, ${pred("t")} AS lang_tail,
       |  (${pred("h")} <> 'unknown' AND ${pred("t")} <> 'unknown'
       |    AND ${pred("h")} <> ${pred("t")}) AS mixed
       |FROM s ORDER BY doc_id""".stripMargin
  }

  private def langIdSql: String =
    s"""WITH ${langPredCtes("documents")}
       |SELECT d.doc_id, d.lang, lp.lang_pred
       |FROM documents d JOIN lp ON lp.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private def qualitySql: String = {
    val en = TextAnalysis.StopwordSets.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, ${normSql("text")} AS n,
       |             string_split(${normSql("text")}, ' ') AS l FROM documents)
       |SELECT doc_id,
       |  CAST(length(n) AS INT) AS n_chars_norm,
       |  CAST(len(l) AS INT) AS n_tokens,
       |  CASE WHEN length(n) = 0 THEN 0.0
       |       ELSE (length(n) - length(regexp_replace(n, '[^a-z0-9 ]', '', 'g'))) / length(n)
       |  END AS punct_ratio,
       |  len(list_filter(l, x -> list_contains($en, x))) / len(l) AS stopword_ratio,
       |  list_sum(list_transform(l, x -> length(x))) / len(l) AS avg_token_len
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Shared 3-gram stream CTEs for the CMS family — mirrors
    * `Dedup.wordNgrams` at n=3 (short docs yield one partial gram;
    * concat_ws skips the null tail on both engines).
    */
  private def cmsGramCtes: String = {
    val norm = normSql("text")
    s"""t AS (SELECT string_split($norm, ' ') AS l
       |      FROM documents WHERE text IS NOT NULL),
       |gs AS (SELECT concat_ws(' ', l[CAST(i AS INT)], l[CAST(i AS INT) + 1],
       |         l[CAST(i AS INT) + 2]) AS gram
       |       FROM t, unnest(generate_series(1, greatest(len(l) - 2, 1))) AS u(i))""".stripMargin
  }

  /** CMS sketch CTEs over `gs` (must follow [[cmsGramCtes]]): hash row
    * `r` is the r-th 32-bit slice of md5('0|' ‖ gram) — the Md5Slices
    * family, one digest for four rows — mod width, counts per
    * (row, bucket). Depth ≤ 4 only (one digest group).
    */
  private def cmsSketchCtes(depth: Int, width: Int): String =
    s"""h AS (SELECT r, CAST(concat('0x', substr(md5('0|' || gram),
       |        CAST(1 + 8 * r AS INT), 8)) AS BIGINT) % $width AS bucket
       |      FROM gs, unnest(generate_series(0, ${depth - 1})) AS s(r)),
       |sk AS (SELECT r, bucket, count(*) AS cnt FROM h GROUP BY 1, 2)""".stripMargin

  private def cmsSketchSql: String =
    s"""WITH $cmsGramCtes,
       |${cmsSketchCtes(4, 8192)}
       |SELECT CAST(r AS INT) AS row_idx, CAST(bucket AS INT) AS bucket,
       |  CAST(cnt AS BIGINT) AS cnt
       |FROM sk ORDER BY 1, 2""".stripMargin

  /** x135b: sketch over the whole corpus, candidates from the batch slice
    * only — no exact pass (the monitor's per-arrival output contract).
    */
  private def cmsHhProbeSql: String =
    s"""WITH $cmsGramCtes,
       |${cmsSketchCtes(4, 131072)},
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM sk WHERE r = 0),
       |bt AS (SELECT string_split(${normSql("text")}, ' ') AS l
       |       FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 7),
       |bgs AS (SELECT concat_ws(' ', l[CAST(i AS INT)], l[CAST(i AS INT) + 1],
       |          l[CAST(i AS INT) + 2]) AS gram
       |        FROM bt, unnest(generate_series(1, greatest(len(l) - 2, 1))) AS u(i)),
       |cds AS (SELECT DISTINCT gram FROM bgs),
       |pe AS (SELECT c.gram, s.r,
       |         CAST(concat('0x', substr(md5('0|' || c.gram),
       |           CAST(1 + 8 * s.r AS INT), 8)) AS BIGINT) % 131072 AS bucket
       |       FROM cds c, unnest(generate_series(0, 3)) AS s(r)),
       |est AS (SELECT p.gram, min(coalesce(sk.cnt, 0)) AS est_n
       |        FROM pe p LEFT JOIN sk ON sk.r = p.r AND sk.bucket = p.bucket
       |        GROUP BY 1)
       |SELECT e.gram, CAST(e.est_n AS BIGINT) AS est_n
       |FROM est e, tot WHERE e.est_n * 16384 >= tot.n
       |ORDER BY e.gram""".stripMargin

  private def cmsHeavyHittersSql: String =
    s"""WITH $cmsGramCtes,
       |${cmsSketchCtes(4, 131072)},
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM sk WHERE r = 0),
       |cds AS (SELECT DISTINCT gram FROM gs),
       |pe AS (SELECT c.gram, s.r,
       |         CAST(concat('0x', substr(md5('0|' || c.gram),
       |           CAST(1 + 8 * s.r AS INT), 8)) AS BIGINT) % 131072 AS bucket
       |       FROM cds c, unnest(generate_series(0, 3)) AS s(r)),
       |est AS (SELECT p.gram, min(coalesce(sk.cnt, 0)) AS est_n
       |        FROM pe p LEFT JOIN sk ON sk.r = p.r AND sk.bucket = p.bucket
       |        GROUP BY 1),
       |cand AS (SELECT e.gram, e.est_n FROM est e, tot
       |         WHERE e.est_n * 16384 >= tot.n),
       |ex AS (SELECT g.gram, CAST(count(*) AS BIGINT) AS exact_n
       |       FROM gs g JOIN cand c ON g.gram = c.gram GROUP BY 1)
       |SELECT c.gram, CAST(c.est_n AS BIGINT) AS est_n, e.exact_n
       |FROM cand c JOIN ex e ON c.gram = e.gram ORDER BY c.gram""".stripMargin

  /** The x137 CTE chain through `sc(doc_id, n_pairs, n_backoff, n_oov,
    * lm_mass)` — shared by the standalone scoring query, its incremental
    * twin, and the x139 curation composition.
    */
  private def lmBackoffCtes: String = lmBackoffCtesWhere("lang = 'en'")

  /** [[lmBackoffCtes]] with a parameterized TRAIN slice (the scoring side
    * `sc` still covers every document; consumers subset it).
    */
  private def lmBackoffCtesWhere(trainWhere: String): String = {
    val norm = normSql("text")
    s"""tr AS (SELECT string_split($norm, ' ') AS l
       |            FROM documents WHERE text IS NOT NULL AND ($trainWhere)),
       |c1 AS (SELECT w, count(*) AS c
       |       FROM (SELECT unnest(l) AS w FROM tr) GROUP BY 1),
       |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c1),
       |c2 AS (SELECT u, v, count(*) AS c
       |       FROM (SELECT l[CAST(i AS INT)] AS u, l[CAST(i AS INT) + 1] AS v
       |             FROM tr, unnest(generate_series(1, len(l) - 1)) AS s(i)
       |             WHERE len(l) >= 2)
       |       GROUP BY 1, 2),
       |d AS (SELECT doc_id, string_split($norm, ' ') AS l
       |      FROM documents WHERE text IS NOT NULL),
       |p AS (SELECT doc_id, l[CAST(i AS INT)] AS u, l[CAST(i AS INT) + 1] AS v
       |      FROM d, unnest(generate_series(1, len(l) - 1)) AS s(i)
       |      WHERE len(l) >= 2),
       |q AS (SELECT p.doc_id,
       |        CASE WHEN b.c IS NOT NULL THEN 1000000 * b.c // cu.c
       |             WHEN cv.c IS NOT NULL THEN 1000000 * 2 * cv.c // (5 * tt.t)
       |             ELSE 0 END AS q,
       |        CASE WHEN b.c IS NULL AND cv.c IS NOT NULL THEN 1 ELSE 0 END AS bk,
       |        CASE WHEN cv.c IS NULL THEN 1 ELSE 0 END AS ov
       |      FROM p
       |      LEFT JOIN c2 b ON p.u = b.u AND p.v = b.v
       |      LEFT JOIN c1 cu ON p.u = cu.w
       |      LEFT JOIN c1 cv ON p.v = cv.w
       |      CROSS JOIN tt),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(bk) AS BIGINT) AS n_backoff,
       |         CAST(sum(ov) AS BIGINT) AS n_oov,
       |         CAST(sum(q) AS BIGINT) AS lm_mass
       |       FROM q GROUP BY 1)""".stripMargin
  }

  /** x146: corpus-trained LM + frozen tercile boundaries (score at rank
    * ⌈k·n/3⌉ per lang over the corpus slice), then the batch routed by
    * strict-greater boundary counting; unroutable rows under NULL.
    */
  private def ccnetRouteSql: String =
    s"""WITH ${lmBackoffCtesWhere("lang = 'en' AND doc_id % 7 <> 0")},
       |cb AS (SELECT d.doc_id, d.lang, CAST(sc.lm_mass AS DOUBLE) / sc.n_pairs AS s
       |       FROM documents d JOIN sc ON sc.doc_id = d.doc_id
       |       WHERE sc.n_pairs > 0 AND d.doc_id % 7 <> 0),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |        ORDER BY s DESC, doc_id) AS rn,
       |        count(*) OVER (PARTITION BY lang) AS n FROM cb),
       |thr AS (SELECT lang, gs.k AS k,
       |          max(CASE WHEN rn = (gs.k * n + 2) // 3 THEN s END) AS bscore
       |        FROM r, unnest(generate_series(1, 2)) AS gs(k)
       |        GROUP BY 1, 2),
       |bb AS (SELECT d.doc_id, d.lang, CAST(sc.lm_mass AS DOUBLE) / sc.n_pairs AS s
       |       FROM documents d JOIN sc ON sc.doc_id = d.doc_id
       |       WHERE sc.n_pairs > 0 AND d.doc_id % 7 = 0),
       |ix AS (SELECT b.doc_id, b.lang, b.s,
       |         count(CASE WHEN t.bscore > b.s THEN 1 END) AS i,
       |         count(t.k) AS nthr
       |       FROM bb b LEFT JOIN thr t ON t.lang = b.lang
       |       GROUP BY 1, 2, 3)
       |SELECT doc_id, lang, round(s, 9) AS score,
       |  CASE WHEN nthr = 0 THEN NULL
       |       WHEN i = 0 THEN 'head' WHEN i = 1 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM ix
       |UNION ALL
       |SELECT d.doc_id, d.lang, CAST(NULL AS DOUBLE) AS score,
       |  CAST(NULL AS VARCHAR) AS bucket
       |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
       |WHERE d.doc_id % 7 = 0 AND coalesce(sc.n_pairs, 0) = 0
       |ORDER BY doc_id""".stripMargin

  /** x144: the lmBackoffCtes chain through sc, then the per-lang tercile
    * rule — row_number over (score desc, doc_id) and the exact integer
    * boundary; unscorable docs under a NULL bucket.
    */
  private def ccnetBucketsSql: String =
    s"""WITH $lmBackoffCtes,
       |b AS (SELECT d.doc_id, d.lang, sc.n_pairs,
       |        CAST(sc.lm_mass AS DOUBLE) / sc.n_pairs AS s
       |      FROM documents d JOIN sc ON sc.doc_id = d.doc_id
       |      WHERE sc.n_pairs > 0),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |        ORDER BY s DESC, doc_id) AS rn,
       |        count(*) OVER (PARTITION BY lang) AS n FROM b)
       |SELECT doc_id, lang, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  round(s, 9) AS score,
       |  CASE ((rn - 1) * 3) // n WHEN 0 THEN 'head'
       |       WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM r
       |UNION ALL
       |SELECT d.doc_id, d.lang, CAST(0 AS BIGINT) AS n_pairs,
       |  CAST(NULL AS DOUBLE) AS score, CAST(NULL AS VARCHAR) AS bucket
       |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
       |WHERE coalesce(sc.n_pairs, 0) = 0
       |ORDER BY doc_id""".stripMargin

  private def lmBackoffSql: String =
    s"""WITH $lmBackoffCtes
       |SELECT a.doc_id, CAST(coalesce(sc.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(sc.n_backoff, 0) AS BIGINT) AS n_backoff,
       |  CAST(coalesce(sc.n_oov, 0) AS BIGINT) AS n_oov,
       |  CAST(coalesce(sc.lm_mass, 0) AS BIGINT) AS lm_mass,
       |  CASE WHEN sc.n_pairs > 0
       |       THEN CAST(sc.lm_mass AS DOUBLE) / sc.n_pairs END AS lm_score
       |FROM documents a LEFT JOIN sc ON a.doc_id = sc.doc_id
       |ORDER BY a.doc_id""".stripMargin

  /** One CMS hot-slice membership probe for x139's template leg:
    * row `r`'s bucket of the gram, matched against `hot`. */
  private def hotProbe(alias: String, r: Int): String =
    s"LEFT JOIN hot $alias ON $alias.r = $r AND $alias.bucket = " +
      s"CAST(concat('0x', substr(md5('0|' || p.gram), ${1 + 8 * r}, 8)) " +
      s"AS BIGINT) % 131072"

  private def lmCurationSql: String = {
    val norm = normSql("text")
    s"""WITH $lmBackoffCtes,
       |pt AS (SELECT doc_id, string_split($norm, ' ') AS l
       |       FROM documents WHERE text IS NOT NULL),
       |pg AS (SELECT doc_id, concat_ws(' ', l[CAST(i AS INT)],
       |         l[CAST(i AS INT) + 1], l[CAST(i AS INT) + 2]) AS gram
       |       FROM pt, unnest(generate_series(1, greatest(len(l) - 2, 1))) AS u(i)),
       |hh AS (SELECT r, CAST(concat('0x', substr(md5('0|' || gram),
       |         CAST(1 + 8 * r AS INT), 8)) AS BIGINT) % 131072 AS bucket
       |       FROM pg, unnest(generate_series(0, 3)) AS s(r)),
       |hot AS (SELECT r, bucket FROM (SELECT r, bucket, count(*) AS cnt
       |                               FROM hh GROUP BY 1, 2)
       |        WHERE cnt >= 4),
       |fl AS (SELECT p.doc_id,
       |         CASE WHEN j0.bucket IS NOT NULL AND j1.bucket IS NOT NULL
       |               AND j2.bucket IS NOT NULL AND j3.bucket IS NOT NULL
       |              THEN 1 ELSE 0 END AS common
       |       FROM pg p
       |       ${hotProbe("j0", 0)}
       |       ${hotProbe("j1", 1)}
       |       ${hotProbe("j2", 2)}
       |       ${hotProbe("j3", 3)}),
       |ts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |         CAST(sum(common) AS BIGINT) AS n_common
       |       FROM fl GROUP BY 1)
       |SELECT a.doc_id,
       |  CAST(coalesce(sc.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(sc.lm_mass, 0) AS BIGINT) AS lm_mass,
       |  CAST(coalesce(ts.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(ts.n_common, 0) AS BIGINT) AS n_common,
       |  (coalesce(sc.n_pairs, 0) > 0 AND
       |   coalesce(sc.lm_mass, 0) * 30 >= coalesce(sc.n_pairs, 0) * 1000000)
       |    AS lm_ok,
       |  (coalesce(ts.n_common, 0) * 5 >= coalesce(ts.n_grams, 0) AND
       |   coalesce(ts.n_grams, 0) > 0) AS template_heavy,
       |  (coalesce(sc.n_pairs, 0) > 0 AND
       |   coalesce(sc.lm_mass, 0) * 30 >= coalesce(sc.n_pairs, 0) * 1000000
       |   AND NOT (coalesce(ts.n_common, 0) * 5 >= coalesce(ts.n_grams, 0)
       |            AND coalesce(ts.n_grams, 0) > 0)) AS kept
       |FROM documents a
       |LEFT JOIN sc ON a.doc_id = sc.doc_id
       |LEFT JOIN ts ON a.doc_id = ts.doc_id
       |ORDER BY a.doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "x134_cms_sketch" -> cmsSketchSql,
    "x135_cms_heavy_hitters" -> cmsHeavyHittersSql,
    "x135b_cms_hh_probe" -> cmsHhProbeSql,
    "x136_cms_incr" -> cmsSketchSql,
    "x137_lm_backoff_score" -> lmBackoffSql,
    "x144_ccnet_buckets" -> ccnetBucketsSql,
    "x146_ccnet_route_incr" -> ccnetRouteSql,
    "x138_lm_incr" -> lmBackoffSql,
    "x139_lm_curation_e2e" -> lmCurationSql,
    "x140_coverage_audit" ->
      """WITH e AS (SELECT vec_id FROM embeddings WHERE vec_id % 11 <> 0)
        |SELECT d.lang, CAST(count(d.doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN d.doc_id IS NOT NULL
        |                   AND e.vec_id IS NOT NULL THEN 1 END) AS BIGINT)
        |    AS n_with_side,
        |  CAST(count(CASE WHEN d.doc_id IS NULL THEN 1 END) AS BIGINT)
        |    AS n_orphan_side,
        |  CASE WHEN count(d.doc_id) > 0
        |       THEN CAST(count(CASE WHEN d.doc_id IS NOT NULL
        |                         AND e.vec_id IS NOT NULL THEN 1 END)
        |                 AS DOUBLE) / count(d.doc_id) END AS coverage
        |FROM documents d FULL OUTER JOIN e ON d.doc_id = e.vec_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "x1_dedup_exact" ->
      """SELECT * FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin,
    "x2_minhash_sig" -> minhashSigSql,
    "x3_minhash_lsh_neardup" -> minhashLshSql,
    "x36_neardup_incremental" -> neardupIncrementalSql,
    // same oracle as x36: the sig-table entry point must produce the
    // identical pair set — only where the corpus signatures COME FROM differs
    "x41_neardup_incr_sigtable" -> neardupIncrementalSql,
    "x102_split_route_incr" ->
      // three LSH cores (corpus-corpus for the cluster keys, batch-corpus
      // for the routing matches, batch-batch for the local closure), two
      // recursive component closures, then x63's md5-slice split rule on
      // the inherited key
      s"""WITH RECURSIVE
         |cpr AS (${minhashLshCoreSql("a.doc_id % 7 <> 0 AND b.doc_id % 7 <> 0 AND a.doc_id < b.doc_id")}),
         |xpr AS (${minhashLshCoreSql("a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0")}),
         |bpr AS (${minhashLshCoreSql("a.doc_id % 7 = 0 AND b.doc_id % 7 = 0 AND a.doc_id < b.doc_id")}),
         |ce AS (SELECT doc_a AS s, doc_b AS d FROM cpr
         |       UNION ALL SELECT doc_b, doc_a FROM cpr),
         |creach AS (SELECT s AS id, s AS r FROM ce
         |           UNION
         |           SELECT ce.s, creach.r FROM ce JOIN creach ON creach.id = ce.d),
         |ccanon AS (SELECT id, min(r) AS canon FROM creach GROUP BY id),
         |csplit AS (SELECT d.doc_id, coalesce(c.canon, d.doc_id) AS ck
         |           FROM documents d LEFT JOIN ccanon c ON c.id = d.doc_id
         |           WHERE d.doc_id % 7 <> 0),
         |be AS (SELECT doc_a AS s, doc_b AS d FROM bpr
         |       UNION ALL SELECT doc_b, doc_a FROM bpr),
         |breach AS (SELECT s AS id, s AS r FROM be
         |           UNION
         |           SELECT be.s, breach.r FROM be JOIN breach ON breach.id = be.d),
         |bcanon AS (SELECT id, min(r) AS canon FROM breach GROUP BY id),
         |wb AS (SELECT d.doc_id, coalesce(bc.canon, d.doc_id) AS bc
         |       FROM documents d LEFT JOIN bcanon bc ON bc.id = d.doc_id
         |       WHERE d.doc_id % 7 = 0),
         |mk AS (SELECT x.doc_a AS doc_id, min(cs.ck) AS corpus_key
         |       FROM xpr x JOIN csplit cs ON cs.doc_id = x.doc_b
         |       GROUP BY 1),
         |gk AS (SELECT w.doc_id, w.bc, mk.corpus_key,
         |         min(mk.corpus_key) OVER (PARTITION BY w.bc) AS cluster_ck
         |       FROM wb w LEFT JOIN mk ON mk.doc_id = w.doc_id),
         |keyed AS (SELECT doc_id, coalesce(cluster_ck, bc) AS split_key
         |          FROM gk)
         |SELECT doc_id, split_key,
         |  CASE WHEN sl < 429496729 THEN 'val'
         |       WHEN sl < 858993459 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM (SELECT *,
         |        CAST(concat('0x', substr(md5('split|' || CAST(split_key AS VARCHAR)), 1, 8)) AS BIGINT) AS sl
         |      FROM keyed)
         |ORDER BY doc_id""".stripMargin,
    "x142_reclose_split" ->
      // one LSH core over ALL pairs (the union signature table's view of
      // the corpus), one recursive closure, x63's md5-slice split rule —
      // the reclose invariant IS "leakageSafeSplit over the whole corpus"
      s"""WITH RECURSIVE
         |pr AS (${minhashLshCoreSql("a.doc_id < b.doc_id")}),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM pr
         |      UNION ALL SELECT doc_b, doc_a FROM pr),
         |reach AS (SELECT s AS id, s AS r FROM e
         |          UNION
         |          SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d),
         |canon AS (SELECT id, min(r) AS canon FROM reach GROUP BY id),
         |keyed AS (SELECT d.doc_id, coalesce(c.canon, d.doc_id) AS split_key
         |          FROM documents d LEFT JOIN canon c ON c.id = d.doc_id)
         |SELECT doc_id, split_key,
         |  CASE WHEN sl < 429496729 THEN 'val'
         |       WHEN sl < 858993459 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM (SELECT *,
         |        CAST(concat('0x', substr(md5('split|' || CAST(split_key AS VARCHAR)), 1, 8)) AS BIGINT) AS sl
         |      FROM keyed)
         |ORDER BY doc_id""".stripMargin,
    "x38_chunk_windows" -> chunkWindowsSql,
    "x39_contamination_scan" -> contaminationSql,
    "x48_multi_eval_decontam" -> multiEvalDecontamSql,
    // same oracle as x48 (the x41/x42 precedent): the gram-table entry
    // point must produce the identical overlap set — only where the eval
    // grams COME FROM differs
    "x50_decontam_gram_table" -> multiEvalDecontamSql,
    "x49_gopher_quality" -> gopherQualitySql,
    "x51_pack_sequences" ->
      """SELECT doc_id, lang, n_toks, tok_offset,
        |  tok_offset // 1024 AS seq_idx, tok_offset % 1024 AS seq_pos
        |FROM (
        |  SELECT doc_id, lang, n_toks,
        |    CAST(coalesce(sum(n_toks) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM (SELECT doc_id, lang,
        |          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_toks
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "x53_segment_dedup" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, CAST((i - 1) // 8 AS INT) AS si,
         |        array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS seg
         |      FROM t, unnest(generate_series(1, greatest(len(l), 1), 8)) AS u(i)),
         |k AS (SELECT *, row_number() OVER (PARTITION BY seg
         |        ORDER BY doc_id, si) AS rn FROM s)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) = 0 THEN NULL
         |       ELSE string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY si)
         |  END AS text_kept
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "x60_segment_dedup_incr" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, CAST((i - 1) // 8 AS INT) AS si,
         |        array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS seg
         |      FROM t, unnest(generate_series(1, greatest(len(l), 1), 8)) AS u(i)),
         |corp AS (SELECT DISTINCT seg FROM s WHERE doc_id % 3 <> 0),
         |k AS (SELECT *, row_number() OVER (PARTITION BY seg
         |        ORDER BY doc_id, si) AS rn
         |      FROM s WHERE doc_id % 3 = 0),
         |kk AS (SELECT k.*, CASE WHEN rn = 1 AND
         |         seg NOT IN (SELECT seg FROM corp) THEN 1 ELSE 0 END AS keep
         |       FROM k)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(sum(keep) AS BIGINT) AS n_kept,
         |  CASE WHEN sum(keep) = 0 THEN NULL
         |       ELSE string_agg(CASE WHEN keep = 1 THEN seg END, ' ' ORDER BY si)
         |  END AS text_kept
         |FROM kk GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "x54_token_rarity" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |tok AS (SELECT doc_id, unnest(l) AS term FROM t),
         |uc AS (SELECT term, count(*) AS c FROM tok GROUP BY term)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |  CAST(sum(c) AS BIGINT) AS sum_tf,
         |  CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / count(*) AS mean_tf,
         |  CAST(sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |  CAST(CAST(sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         |    / count(*) AS rare_ratio
         |FROM tok JOIN uc USING (term)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "x67_token_rarity_incr" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |tok AS (SELECT doc_id, unnest(l) AS term FROM t),
         |uc AS (SELECT term, count(*) AS c FROM tok
         |       WHERE doc_id % 3 <> 0 GROUP BY term),
         |bt AS (SELECT doc_id, term FROM tok WHERE doc_id % 3 = 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |  CAST(sum(coalesce(c, 0)) AS BIGINT) AS sum_tf,
         |  CAST(CAST(sum(coalesce(c, 0)) AS BIGINT) AS DOUBLE) / count(*) AS mean_tf,
         |  CAST(sum(CASE WHEN coalesce(c, 0) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |  CAST(CAST(sum(CASE WHEN coalesce(c, 0) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         |    / count(*) AS rare_ratio
         |FROM bt LEFT JOIN uc USING (term)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "x88_oov_rate" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |tok AS (SELECT doc_id, unnest(l) AS term FROM t),
         |uc AS (SELECT term, count(*) AS c FROM tok
         |       WHERE doc_id % 3 <> 0 GROUP BY term),
         |v AS (SELECT term, TRUE AS inv FROM uc
         |      ORDER BY c DESC, term LIMIT 20),
         |bt AS (SELECT doc_id, term FROM tok WHERE doc_id % 3 = 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |  CAST(sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(CAST(sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS DOUBLE) / count(*) AS oov_rate
         |FROM bt LEFT JOIN v USING (term)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "x68_blocklist_filter" ->
      // the Bloom filter only routes rows; the result is the plain anti
      // join of documents against the removal list (15% md5 band)
      """SELECT d.* FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents b
        |  WHERE b.doc_id = d.doc_id
        |    AND CAST(concat('0x', substr(md5('takedown|' ||
        |          CAST(b.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < 644245094)
        |ORDER BY doc_id""".stripMargin,
    "x69_source_reputation" ->
      """WITH b AS (SELECT source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n
        |  FROM documents),
        |st AS (SELECT source, CAST(count(*) AS BIGINT) AS src_n_docs,
        |         CAST(sum(CASE WHEN n < 40 THEN 1 ELSE 0 END) AS BIGINT) AS ns
        |       FROM b GROUP BY source)
        |SELECT d.*, st.src_n_docs,
        |  CAST(st.ns AS DOUBLE) / st.src_n_docs AS src_short_frac,
        |  (st.src_n_docs >= 3 AND
        |   CAST(st.ns AS DOUBLE) / st.src_n_docs <= 0.4) AS src_keep
        |FROM documents d
        |JOIN st ON d.source IS NOT DISTINCT FROM st.source
        |ORDER BY doc_id""".stripMargin,
    "x70_dup_spans" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id,
         |        array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS seg
         |      FROM t, unnest(generate_series(1,
         |               greatest(len(l) - 8 + 1, 1), 4)) AS u(i)),
         |o AS (SELECT seg, (min(doc_id) <> max(doc_id)) AS shared
         |      FROM s GROUP BY seg)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN o.shared THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared,
         |  CAST(CAST(sum(CASE WHEN o.shared THEN 1 ELSE 0 END) AS BIGINT)
         |    AS DOUBLE) / count(*) AS shared_span_frac
         |FROM s JOIN o USING (seg)
         |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin
    },
    "x71_hashed_classifier" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |tok AS (SELECT doc_id, unnest(l) AS tk FROM t),
         |s AS (SELECT doc_id,
         |        CAST(sum(CAST(concat('0x', substr(md5('clf|' || tk), 1, 8))
         |          AS BIGINT)) AS BIGINT) AS ss,
         |        count(*) AS n
         |      FROM tok GROUP BY doc_id)
         |SELECT doc_id,
         |  (CAST(ss AS DOUBLE) / n) / 4294967296.0 - 0.5 AS clf_score,
         |  ((CAST(ss AS DOUBLE) / n) / 4294967296.0 - 0.5 >= 0) AS keep
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "x79_kmeans_assign" -> kmeansAssignSql,
    "x87_target_mix_e2e" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |tok AS (SELECT doc_id,
         |          CAST(concat('0x', substr(md5('dsir|' || tk), 1, 8))
         |            AS BIGINT) % 256 AS b
         |        FROM (SELECT doc_id, unnest(l) AS tk FROM t)),
         |tgt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         |ttab AS (SELECT b, count(*) AS n FROM tok
         |         JOIN tgt USING (doc_id) GROUP BY b),
         |rtab AS (SELECT b, count(*) AS n FROM tok GROUP BY b),
         |tots AS (SELECT (SELECT COALESCE(sum(n), 0) FROM ttab) + 256 AS tn,
         |                (SELECT COALESCE(sum(n), 0) FROM rtab) + 256 AS rn),
         |m AS (SELECT tok.doc_id,
         |        CAST(sum(COALESCE(ttab.n, 0) + 1) AS BIGINT) AS target_mass,
         |        CAST(sum(COALESCE(rtab.n, 0) + 1) AS BIGINT) AS raw_mass
         |      FROM tok LEFT JOIN ttab USING (b) LEFT JOIN rtab USING (b)
         |      GROUP BY tok.doc_id),
         |aff AS (SELECT m.doc_id,
         |          (CAST(target_mass AS DOUBLE) / tn) /
         |            (CAST(raw_mass AS DOUBLE) / rn) AS affinity
         |        FROM m, tots),
         |a2 AS (SELECT aff.doc_id, aff.affinity, d.lang, d.source,
         |         CAST(floor(d.n_chars / 200.0) AS INT) AS size_bucket
         |       FROM aff JOIN documents d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |          ORDER BY affinity, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n FROM a2),
         |kept AS (SELECT doc_id, affinity, lang, source, size_bucket
         |         FROM r WHERE rn > n - ceil(n * 0.6)),
         |c AS (SELECT lang, source, size_bucket,
         |        CAST(count(*) AS BIGINT) AS class_size
         |      FROM kept GROUP BY 1, 2, 3)
         |SELECT k.doc_id, k.affinity,
         |  CASE WHEN c.class_size < 5 THEN NULL ELSE k.lang END AS lang,
         |  CASE WHEN c.class_size < 5 THEN NULL ELSE k.source END AS source,
         |  CASE WHEN c.class_size < 5 THEN NULL ELSE k.size_bucket END
         |    AS size_bucket,
         |  c.class_size, (c.class_size < 5) AS suppressed
         |FROM kept k JOIN c USING (lang, source, size_bucket)
         |ORDER BY doc_id""".stripMargin
    },
    "x86_l_diversity" ->
      """WITH d AS (SELECT lang, source,
        |             CAST(floor(n_chars / 200.0) AS INT) AS size_bucket
        |           FROM documents)
        |SELECT source, size_bucket,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive,
        |  (count(DISTINCT lang) < 3) AS at_risk
        |FROM d GROUP BY 1, 2
        |ORDER BY source, size_bucket""".stripMargin,
    "x104_ngram_diversity" -> {
      val norm = normSql("text")
      // one UNION ALL branch per order; out-of-range list elements are
      // NULL and concat_ws skips them — the partial-tail-gram convention
      val branches = Seq(1, 2, 3).map { n =>
        val parts = (0 until n).map(o => s"l[CAST(i AS INT) + $o]")
          .mkString(", ")
        s"""SELECT lang, $n AS n, concat_ws(' ', $parts) AS g
           |FROM norm, unnest(generate_series(1, greatest(len(l) - ${n - 1}, 1))) AS u(i)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH norm AS (SELECT lang, string_split($norm, ' ') AS l
         |              FROM documents WHERE text IS NOT NULL),
         |gr AS ($branches)
         |SELECT lang, n,
         |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
         |  CAST(count(*) AS BIGINT) AS total_ngrams,
         |  CAST(count(DISTINCT g) AS DOUBLE) / count(*) AS distinct_ratio
         |FROM gr GROUP BY 1, 2 ORDER BY lang, n""".stripMargin
    },
    "x105_stopword_coverage" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, lang, unnest(string_split($norm, ' ')) AS term
         |           FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT lang, term, count(*) AS cnt FROM t GROUP BY 1, 2),
         |h AS (SELECT lang, term FROM c
         |      QUALIFY row_number() OVER (PARTITION BY lang
         |        ORDER BY cnt DESC, term) <= 20)
         |SELECT t.doc_id, t.lang,
         |  CAST(count(*) AS BIGINT) AS n_toks,
         |  CAST(sum(CASE WHEN h.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
         |  CAST(sum(CASE WHEN h.term IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS stop_ratio
         |FROM t LEFT JOIN h ON h.lang = t.lang AND h.term = t.term
         |GROUP BY 1, 2 ORDER BY t.doc_id""".stripMargin
    },
    "x101_head_coverage" -> headCoverageSql,
    // identical function through the maintained count table — the shared
    // oracle IS the additivity claim
    "x112_head_coverage_incr" -> headCoverageSql,
    "x100_t_closeness" ->
      // HUGEINT intermediates (DuckDB's BIGINT sums/products widen) are
      // exact; the Spark side stays in longs — same integer values
      """WITH d AS (SELECT lang, source,
        |             CAST(floor(n_chars / 200.0) AS INT) AS size_bucket
        |           FROM documents),
        |nn AS (SELECT * FROM d WHERE lang IS NOT NULL),
        |c AS (SELECT source, size_bucket, lang, count(*) AS c
        |      FROM nn GROUP BY 1, 2, 3),
        |g AS (SELECT lang, count(*) AS g FROM nn GROUP BY 1),
        |nt AS (SELECT CAST(sum(g) AS BIGINT) AS n FROM g),
        |j AS (SELECT c.source, c.size_bucket, c.c, g.g, nt.n,
        |        sum(c.c) OVER (PARTITION BY c.source, c.size_bucket) AS m
        |      FROM c JOIN g USING (lang), nt),
        |per AS (SELECT source, size_bucket,
        |          CAST(max(m) AS BIGINT) AS class_n,
        |          sum(abs(c * n - g * m)) AS present,
        |          sum(g) AS gsum, max(n) AS n
        |        FROM j GROUP BY 1, 2),
        |pc AS (SELECT source, size_bucket, class_n,
        |         CAST(present + class_n * (n - gsum) AS BIGINT) AS tv_num,
        |         n
        |       FROM per),
        |base AS (SELECT source, size_bucket,
        |           CAST(count(*) AS BIGINT) AS class_size
        |         FROM d GROUP BY 1, 2)
        |SELECT b.source, b.size_bucket, b.class_size, p.class_n, p.tv_num,
        |  CAST(p.tv_num AS DOUBLE) / CAST(2 * p.class_n * p.n AS DOUBLE)
        |    AS tv_distance,
        |  (p.tv_num * 4 > 2 * 1 * p.class_n * p.n) AS at_risk
        |FROM base b LEFT JOIN pc p
        |  ON p.source IS NOT DISTINCT FROM b.source
        |  AND p.size_bucket IS NOT DISTINCT FROM b.size_bucket
        |ORDER BY b.source, b.size_bucket""".stripMargin,
    "x83_margin_mine" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        |              FROM embeddings WHERE label <> 0
        |              ORDER BY vec_id LIMIT 16),
        |scored AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
        |             list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                              CAST(c.cvec AS DOUBLE[])) /
        |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(e.embedding AS DOUBLE[]))) *
        |                sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]),
        |                                      CAST(c.cvec AS DOUBLE[])))) AS s
        |           FROM embeddings e CROSS JOIN cent c),
        |asn AS (SELECT vec_id, label, embedding, cid AS cell FROM
        |          (SELECT *, row_number() OVER (PARTITION BY vec_id
        |             ORDER BY s DESC, cid) AS rn
        |           FROM scored) WHERE rn = 1),
        |cand AS (SELECT q.vec_id AS qid, i.vec_id AS iid,
        |           list_dot_product(CAST(q.embedding AS DOUBLE[]),
        |                            CAST(i.embedding AS DOUBLE[])) /
        |             (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
        |                                    CAST(q.embedding AS DOUBLE[]))) *
        |              sqrt(list_dot_product(CAST(i.embedding AS DOUBLE[]),
        |                                    CAST(i.embedding AS DOUBLE[]))))
        |             AS c
        |         FROM asn q JOIN asn i ON q.cell = i.cell
        |         WHERE q.label = 0 AND i.label <> 0),
        |r AS (SELECT qid, iid, c, row_number() OVER (PARTITION BY qid
        |        ORDER BY c DESC, iid) AS rn FROM cand)
        |SELECT r1.qid AS vec_id, r1.iid AS nn_id, round(r1.c, 9) AS cos1,
        |  round(r2.c, 9) AS cos2,
        |  round(r1.c - COALESCE(r2.c, 0.0), 9) AS margin,
        |  (round(r1.c - COALESCE(r2.c, 0.0), 9) > 0.05) AS accept
        |FROM (SELECT * FROM r WHERE rn = 1) r1
        |LEFT JOIN (SELECT * FROM r WHERE rn = 2) r2 USING (qid)
        |ORDER BY vec_id""".stripMargin,
    "x85_bpe_pair_counts" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |tok AS (SELECT unnest(l) AS tk FROM t),
         |p AS (SELECT substr(tk, CAST(i AS INT), 2) AS pair
         |      FROM tok, unnest(generate_series(1, len(tk) - 1)) AS u(i)
         |      WHERE len(tk) >= 2)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 40""".stripMargin
    },
    "x84_boilerplate_strip" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, source, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, source, CAST((i - 1) // 2 AS INT) AS si,
         |        array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 1], ' ')
         |          AS seg
         |      FROM t, unnest(generate_series(1, greatest(len(l), 1), 2))
         |        AS u(i)),
         |nd AS (SELECT source, count(DISTINCT doc_id) AS ndocs
         |       FROM t GROUP BY 1),
         |bp AS (SELECT s.source, s.seg
         |       FROM s JOIN nd USING (source)
         |       GROUP BY s.source, s.seg, nd.ndocs
         |       HAVING count(DISTINCT s.doc_id) >= 2
         |          AND CAST(count(DISTINCT s.doc_id) AS DOUBLE) / nd.ndocs
         |              > 0.15),
         |k AS (SELECT s.*, (bp.seg IS NOT NULL) AS is_bp
         |      FROM s LEFT JOIN bp
         |        ON s.source = bp.source AND s.seg = bp.seg)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(sum(CASE WHEN NOT is_bp THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CASE WHEN sum(CASE WHEN NOT is_bp THEN 1 ELSE 0 END) = 0
         |       THEN NULL
         |       ELSE string_agg(CASE WHEN NOT is_bp THEN seg END, ' '
         |              ORDER BY si) END AS text_kept
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "x81_importance_weight" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |tok AS (SELECT doc_id,
         |          CAST(concat('0x', substr(md5('dsir|' || tk), 1, 8))
         |            AS BIGINT) % 256 AS b
         |        FROM (SELECT doc_id, unnest(l) AS tk FROM t)),
         |tgt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         |ttab AS (SELECT b, count(*) AS n FROM tok
         |         JOIN tgt USING (doc_id) GROUP BY b),
         |rtab AS (SELECT b, count(*) AS n FROM tok GROUP BY b),
         |tots AS (SELECT (SELECT COALESCE(sum(n), 0) FROM ttab) + 256 AS tn,
         |                (SELECT COALESCE(sum(n), 0) FROM rtab) + 256 AS rn),
         |m AS (SELECT tok.doc_id,
         |        CAST(sum(COALESCE(ttab.n, 0) + 1) AS BIGINT) AS target_mass,
         |        CAST(sum(COALESCE(rtab.n, 0) + 1) AS BIGINT) AS raw_mass,
         |        CAST(count(*) AS BIGINT) AS n_toks
         |      FROM tok LEFT JOIN ttab USING (b) LEFT JOIN rtab USING (b)
         |      GROUP BY tok.doc_id)
         |SELECT doc_id, n_toks, target_mass, raw_mass,
         |  (CAST(target_mass AS DOUBLE) / tn) /
         |    (CAST(raw_mass AS DOUBLE) / rn) AS affinity
         |FROM m, tots ORDER BY doc_id""".stripMargin
    },
    "x82_k_anonymity" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |             CAST(floor(n_chars / 200.0) AS INT) AS size_bucket
        |           FROM documents),
        |c AS (SELECT lang, source, size_bucket,
        |        CAST(count(*) AS BIGINT) AS class_size
        |      FROM d GROUP BY 1, 2, 3)
        |SELECT d.doc_id,
        |  CASE WHEN c.class_size < 5 THEN NULL ELSE d.lang END AS lang,
        |  CASE WHEN c.class_size < 5 THEN NULL ELSE d.source END AS source,
        |  CASE WHEN c.class_size < 5 THEN NULL ELSE d.size_bucket END
        |    AS size_bucket,
        |  c.class_size, (c.class_size < 5) AS suppressed
        |FROM d JOIN c USING (lang, source, size_bucket)
        |ORDER BY doc_id""".stripMargin,
    "x80_lsh_recall_report" ->
      s"""WITH ${embedPairCtes()},
         |ex AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         |         round($cosSql, 9) AS cosine
         |       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |       WHERE $cosSql >= 0.45)
         |SELECT CAST(floor(ex.cosine * 20) AS INT) AS band,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN vp.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_found,
         |  CAST(CAST(sum(CASE WHEN vp.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS DOUBLE) / count(*) AS recall
         |FROM ex LEFT JOIN vp USING (doc_a, doc_b)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x76_cell_assign_incr" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        |              FROM embeddings WHERE vec_id % 3 <> 0
        |              ORDER BY vec_id LIMIT 16),
        |scored AS (SELECT e.vec_id, c.cid,
        |             list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                              CAST(c.cvec AS DOUBLE[])) /
        |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(e.embedding AS DOUBLE[]))) *
        |                sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]),
        |                                      CAST(c.cvec AS DOUBLE[])))) AS s
        |           FROM embeddings e CROSS JOIN cent c
        |           WHERE e.vec_id % 3 = 0)
        |SELECT vec_id, cid AS cell FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY s DESC, cid) AS rn
        |   FROM scored) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "x115_label_propagation" ->
      s"""WITH $labelPropCtes
         |SELECT vec_id, cell, lab AS pred_label, lid AS neighbor_id,
         |  round(c, 9) AS cosine
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "x116_label_prop_eval" ->
      s"""WITH $labelPropCtes,
         |pred AS (SELECT vec_id, lab AS pred_label FROM r WHERE rn = 1),
         |truth AS (SELECT vec_id, label AS true_label FROM embeddings
         |          WHERE vec_id % 5 = 0)
         |SELECT t.true_label,
         |  CAST(count(*) AS BIGINT) AS n_labeled,
         |  CAST(sum(CASE WHEN p.pred_label IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_predicted,
         |  CAST(sum(CASE WHEN p.pred_label = t.true_label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST(sum(CASE WHEN p.pred_label = t.true_label THEN 1 ELSE 0 END)
         |    AS DOUBLE) /
         |    sum(CASE WHEN p.pred_label IS NOT NULL THEN 1 ELSE 0 END)
         |    AS accuracy
         |FROM truth t LEFT JOIN pred p USING (vec_id)
         |GROUP BY 1 ORDER BY true_label""".stripMargin,
    "x119_confidence_calibration" ->
      s"""WITH $labelPropCtes,
         |pred AS (SELECT vec_id, lab AS pred_label, round(c, 9) AS cosine
         |         FROM r WHERE rn = 1),
         |truth AS (SELECT vec_id, label AS true_label FROM embeddings
         |          WHERE vec_id % 5 = 0),
         |b AS (SELECT CAST(floor(p.cosine * 10) AS INT) AS band,
         |        CASE WHEN p.pred_label = t.true_label THEN 1 ELSE 0 END AS ok
         |      FROM pred p JOIN truth t USING (vec_id))
         |SELECT band, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(ok) AS BIGINT) AS n_correct,
         |  CAST(sum(ok) AS DOUBLE) / count(*) AS accuracy
         |FROM b GROUP BY 1 ORDER BY band""".stripMargin,
    "x118_label_confusion" ->
      s"""WITH $labelPropCtes,
         |pred AS (SELECT vec_id, lab AS pred_label FROM r WHERE rn = 1),
         |truth AS (SELECT vec_id, label AS true_label FROM embeddings
         |          WHERE vec_id % 5 = 0)
         |SELECT t.true_label, p.pred_label, CAST(count(*) AS BIGINT) AS n
         |FROM truth t LEFT JOIN pred p USING (vec_id)
         |GROUP BY 1, 2 ORDER BY true_label, pred_label""".stripMargin,
    "x117_cell_purity" ->
      s"""WITH $ivfAsnCtes,
         |j AS (SELECT a.cell, e.label FROM embeddings e
         |      JOIN asn a USING (vec_id)),
         |cnt AS (SELECT cell, label, count(*) AS c FROM j GROUP BY 1, 2),
         |tot AS (SELECT cell, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
         |maj AS (SELECT cell, label AS majority_label,
         |          CAST(c AS BIGINT) AS majority_n
         |        FROM (SELECT *, row_number() OVER (PARTITION BY cell
         |                ORDER BY c DESC, label) AS rn
         |              FROM cnt WHERE label IS NOT NULL)
         |        WHERE rn = 1)
         |SELECT t.cell, t.n, m.majority_label, m.majority_n,
         |  CAST(m.majority_n AS DOUBLE) / t.n AS purity
         |FROM tot t LEFT JOIN maj m USING (cell)
         |ORDER BY cell""".stripMargin,
    "x75_cluster_cap_sample" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        |              FROM embeddings ORDER BY vec_id LIMIT 16),
        |scored AS (SELECT e.vec_id, c.cid,
        |             list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                              CAST(c.cvec AS DOUBLE[])) /
        |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(e.embedding AS DOUBLE[]))) *
        |                sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]),
        |                                      CAST(c.cvec AS DOUBLE[])))) AS s
        |           FROM embeddings e CROSS JOIN cent c),
        |asn AS (SELECT vec_id, cid AS cell FROM
        |          (SELECT *, row_number() OVER (PARTITION BY vec_id
        |             ORDER BY s DESC, cid) AS rn
        |           FROM scored) WHERE rn = 1)
        |SELECT vec_id, cell FROM (
        |  SELECT *, row_number() OVER (PARTITION BY cell
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS _rn
        |  FROM asn)
        |WHERE _rn <= 20 ORDER BY cell, vec_id""".stripMargin,
    "x72_embed_outlier_prune" ->
      """WITH j AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT label, CAST(i AS INT) - 1 AS pos, v[CAST(i AS INT)] AS val
        |      FROM j, unnest(generate_series(1, len(v))) AS u(i)),
        |c AS (SELECT label, pos,
        |        CAST(sum(CAST(CAST(val AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)
        |          / count(*) AS m
        |      FROM x GROUP BY 1, 2),
        |ca AS (SELECT label, list(m ORDER BY pos) AS cv FROM c GROUP BY label),
        |s AS (SELECT j.label, j.vec_id,
        |        list_dot_product(j.v, ca.cv) /
        |          (sqrt(list_dot_product(j.v, j.v)) *
        |           sqrt(list_dot_product(ca.cv, ca.cv))) AS pc
        |      FROM j JOIN ca USING (label)),
        |r AS (SELECT label, vec_id, pc,
        |        row_number() OVER (PARTITION BY label ORDER BY pc, vec_id) AS rn,
        |        count(*) OVER (PARTITION BY label) AS n
        |      FROM s)
        |SELECT label, vec_id, round(pc, 9) AS proto_cos,
        |  CAST(rn AS DOUBLE) / n AS pct_rank
        |FROM r WHERE rn > n - ceil(n * 0.7)
        |ORDER BY label, vec_id""".stripMargin,
    "x74_corpus_stats_incr" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN text IS NULL THEN 0
        |                ELSE length(text) END) AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |                ELSE len(string_split_regex(trim(text), '\s+'))
        |           END) AS BIGINT) AS sum_toks
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x55_tfidf_terms" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |tok AS (SELECT doc_id, unnest(l) AS term FROM t),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
         |nd AS (SELECT count(*) AS n FROM t),
         |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfx.df_docs,
         |        CAST(tf.tf * nd.n AS DOUBLE) / dfx.df_docs AS score,
         |        row_number() OVER (PARTITION BY tf.doc_id
         |          ORDER BY CAST(tf.tf * nd.n AS DOUBLE) / dfx.df_docs DESC,
         |            tf.term) AS rn
         |      FROM tf JOIN dfx USING (term) CROSS JOIN nd)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
         |  CAST(df_docs AS BIGINT) AS df_docs, score
         |FROM r WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin
    },
    "x56_shard_assign" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_toks
        |  FROM documents),
        |r AS (SELECT doc_id, n_toks,
        |        row_number() OVER (ORDER BY n_toks DESC,
        |          md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS p
        |      FROM b)
        |SELECT doc_id, n_toks,
        |  CAST(CASE WHEN (p // 8) % 2 = 0 THEN p % 8 ELSE 7 - (p % 8) END AS INT) AS shard,
        |  CAST(p // 8 AS BIGINT) AS shard_pos
        |FROM r ORDER BY doc_id""".stripMargin,
    "x66_corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS fp_before FROM documents),
        |af AS (SELECT doc_id, CASE WHEN doc_id % 10 = 3 THEN text || ' v2'
        |          ELSE text END AS text
        |        FROM documents WHERE doc_id % 10 <> 7
        |        UNION ALL
        |        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 1),
        |b AS (SELECT doc_id, md5(text) AS fp_after FROM af),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, fp_before, fp_after
        |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |  CASE WHEN fp_after IS NULL THEN 'removed'
        |       WHEN fp_before IS NULL THEN 'added'
        |       ELSE 'changed' END AS status,
        |  fp_before, fp_after
        |FROM j
        |WHERE fp_after IS NULL OR fp_before IS NULL OR fp_before <> fp_after
        |ORDER BY doc_id""".stripMargin,
    "x64_dedup_keep_best" ->
      s"""WITH RECURSIVE $simhashCore,
         |$simhashBandCtes,
         |p AS (SELECT c.doc_a, c.doc_b
         |      FROM cand c JOIN fp fa ON fa.doc_id = c.doc_a
         |                  JOIN fp fb ON fb.doc_id = c.doc_b
         |      WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT s AS id, s AS r FROM e
         |          UNION
         |          SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d),
         |cl AS (SELECT min(r) AS canon, id FROM reach GROUP BY id),
         |scored AS (SELECT cl.canon, cl.id, d.n_chars
         |           FROM cl JOIN documents d ON d.doc_id = cl.id),
         |keep AS (SELECT id FROM (SELECT id, row_number() OVER
         |           (PARTITION BY canon ORDER BY n_chars DESC, id) AS rn
         |         FROM scored) WHERE rn = 1),
         |dropped AS (SELECT id FROM cl WHERE id NOT IN (SELECT id FROM keep))
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY doc_id""".stripMargin,
    "x65_withindoc_repetition" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id,
         |        array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS seg
         |      FROM t, unnest(generate_series(1, greatest(len(l), 1), 4)) AS u(i)),
         |c AS (SELECT doc_id, seg, count(*) AS n FROM s GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_segs,
         |  CAST(count(*) AS BIGINT) AS n_distinct_segs,
         |  1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS BIGINT) AS dup_seg_ratio,
         |  CAST(max(n) AS BIGINT) AS top_seg_n
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "x61_seg_overlap" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT lang, string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT DISTINCT lang,
         |        md5(array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 7], ' ')) AS h
         |      FROM t, unnest(generate_series(1, greatest(len(l), 1), 8)) AS u(i))
         |SELECT a.lang AS stratum_a, b.lang AS stratum_b,
         |  CAST(count(*) AS BIGINT) AS shared_segments
         |FROM s a JOIN s b ON a.h = b.h AND a.lang < b.lang
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "x62_layout_e2e" ->
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_toks
        |  FROM documents),
        |sh(lang, w) AS (VALUES ('en', 0.5), ('fr', 0.2), ('de', 0.3)),
        |tot AS (SELECT b.lang, CAST(sum(n_toks) AS BIGINT) AS t, min(w) AS w
        |        FROM b JOIN sh USING (lang) GROUP BY b.lang),
        |bb AS (SELECT min(CAST(floor(t / w) AS BIGINT)) AS bmax FROM tot),
        |bud AS (SELECT lang, CAST(floor(w * bmax) AS BIGINT) AS budget
        |        FROM tot CROSS JOIN bb),
        |c AS (SELECT b.doc_id, b.lang, b.n_toks,
        |        CAST(sum(b.n_toks) OVER (PARTITION BY b.lang
        |          ORDER BY md5(CAST(b.doc_id AS VARCHAR)), b.doc_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM b JOIN sh USING (lang)),
        |kept AS (SELECT c.doc_id, c.lang, c.n_toks FROM c
        |         JOIN bud USING (lang) WHERE c.cum_tokens <= bud.budget),
        |pk AS (SELECT doc_id, lang, n_toks,
        |         CAST(coalesce(sum(n_toks) OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |       FROM kept),
        |sr AS (SELECT doc_id, row_number() OVER (ORDER BY n_toks DESC,
        |         md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS p
        |       FROM kept)
        |SELECT pk.doc_id, pk.lang, pk.n_toks, pk.tok_offset,
        |  tok_offset // 1024 AS seq_idx, tok_offset % 1024 AS seq_pos,
        |  CAST(CASE WHEN (p // 4) % 2 = 0 THEN p % 4 ELSE 3 - (p % 4) END AS INT) AS shard,
        |  CAST(p // 4 AS BIGINT) AS shard_pos
        |FROM pk JOIN sr USING (doc_id) ORDER BY doc_id""".stripMargin,
    "x73_provenance_e2e" ->
      s"""WITH b AS (SELECT source,
         |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n
         |  FROM documents),
         |st AS (SELECT source, count(*) AS nd,
         |         sum(CASE WHEN n < 40 THEN 1 ELSE 0 END) AS ns
         |       FROM b GROUP BY source),
         |ks AS (SELECT source FROM st
         |       WHERE nd >= 3 AND CAST(ns AS DOUBLE) / nd <= 0.4),
         |k AS (SELECT d.* FROM documents d
         |      JOIN ks ON d.source IS NOT DISTINCT FROM ks.source
         |      WHERE NOT EXISTS (
         |        SELECT 1 FROM documents t
         |        WHERE t.doc_id = d.doc_id
         |          AND CAST(concat('0x', substr(md5('takedown|' ||
         |                CAST(t.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |              < 644245094))
         |SELECT doc_id, source,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailPattern}', '[EMAIL]', 'g'),
         |    '${TextAnalysis.PhonePattern}', '[PHONE]', 'g'),
         |    '${TextAnalysis.Ipv4Pattern}', '[IP]', 'g') AS redacted,
         |  CASE WHEN sl < 429496729 THEN 'val'
         |       WHEN sl < 858993459 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM (SELECT *,
         |        CAST(concat('0x', substr(md5('split|' ||
         |          CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS sl
         |      FROM k)
         |ORDER BY doc_id""".stripMargin,
    "x96_bm25_topk" -> bm25Sql,
    // same function through the maintained-postings entry point — the
    // shared oracle IS the equivalence claim (x41/x42/x98 convention)
    "x98_bm25_incr" -> bm25Sql,
    "x99_hybrid_rrf" ->
      s"""WITH $bm25RankedCtes,
         |$hybridRrfCtes
         |SELECT query_id, doc_id, rrf_score, n_lists, rank
         |FROM rr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x106_retrieval_e2e" ->
      // x99's fusion chain + x21's simhash core over the fused result
      // docs + the one-step domination rule + dense re-rank to top-5
      s"""WITH $bm25RankedCtes,
         |$hybridRrfCtes,
         |fr AS (SELECT * FROM rr WHERE rank <= 10),
         |${simhashCoreOver("(SELECT d.doc_id, d.text FROM documents d " +
             "JOIN (SELECT DISTINCT doc_id FROM fr) s ON s.doc_id = d.doc_id)")},
         |$simhashBandCtes,
         |dompairs AS (SELECT c.doc_a, c.doc_b
         |             FROM cand c JOIN fp fa ON fa.doc_id = c.doc_a
         |                         JOIN fp fb ON fb.doc_id = c.doc_b
         |             WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3),
         |dp AS (SELECT doc_a, doc_b FROM dompairs
         |       UNION ALL SELECT doc_b, doc_a FROM dompairs),
         |dom AS (SELECT DISTINCT fa.query_id, fa.doc_id
         |        FROM fr fa JOIN dp ON dp.doc_a = fa.doc_id
         |        JOIN fr fb ON fb.query_id = fa.query_id
         |          AND fb.doc_id = dp.doc_b AND fb.rank < fa.rank),
         |sv AS (SELECT f.* FROM fr f
         |       LEFT JOIN dom x ON x.query_id = f.query_id
         |         AND x.doc_id = f.doc_id
         |       WHERE x.doc_id IS NULL),
         |fin AS (SELECT query_id, doc_id, rrf_score,
         |          CAST(row_number() OVER (PARTITION BY query_id
         |            ORDER BY rank) AS INT) AS final_rank
         |        FROM sv)
         |SELECT query_id, doc_id, rrf_score, final_rank
         |FROM fin WHERE final_rank <= 5 ORDER BY query_id, final_rank""".stripMargin,
    "x97_leakage_safe_split" ->
      // x29's recursive component closure supplies the canonical id; the
      // split is x63's md5-slice rule applied to that cluster key
      s"""WITH RECURSIVE $simhashCore,
         |$simhashBandCtes,
         |p AS (SELECT c.doc_a, c.doc_b
         |      FROM cand c JOIN fp fa ON fa.doc_id = c.doc_a
         |                  JOIN fp fb ON fb.doc_id = c.doc_b
         |      WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT s AS id, s AS r FROM e
         |          UNION
         |          SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d),
         |canon AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
         |keyed AS (SELECT d.doc_id, d.lang,
         |            coalesce(c.canonical_id, d.doc_id) AS split_key
         |          FROM documents d LEFT JOIN canon c ON c.id = d.doc_id)
         |SELECT doc_id, lang, split_key,
         |  CASE WHEN sl < 429496729 THEN 'val'
         |       WHEN sl < 858993459 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM (SELECT *,
         |        CAST(concat('0x', substr(md5('split|' || CAST(split_key AS VARCHAR)), 1, 8)) AS BIGINT) AS sl
         |      FROM keyed)
         |ORDER BY doc_id""".stripMargin,
    "x63_hash_split" ->
      // thresholds: floor(0.1·2^32) = 429496729, floor(0.2·2^32) = 858993459
      """SELECT doc_id,
        |  CASE WHEN sl < 429496729 THEN 'val'
        |       WHEN sl < 858993459 THEN 'test'
        |       ELSE 'train' END AS split
        |FROM (SELECT doc_id,
        |        CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS sl
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // merge(sketch(corpus), sketch(batch)) = sketch(full) exactly — the
    // shared full-corpus oracle IS the equivalence claim (x98 convention)
    "x111_kmv_incr" -> kmvOverlapSql,
    "x110_kmv_overlap" -> kmvOverlapSql,
    "x114_overlap_triage_e2e" ->
      // the subset-restricted exact pass equals the full rollup on the
      // selected pairs (minhash sigs/candidates are pair-local), so the
      // oracle composes the unrestricted x93 core with the x110 selection
      s"""WITH kmv AS ($kmvOverlapSql),
         |sel AS (SELECT g_1, g_2, jaccard_est FROM kmv
         |        WHERE shared_k * 25 >= union_k),
         |pr AS (${minhashLshCoreSql("a.doc_id < b.doc_id")}),
         |syn AS (SELECT least(sa.source, sb.source) AS src_1,
         |          greatest(sa.source, sb.source) AS src_2,
         |          CAST(count(*) AS BIGINT) AS n_pairs
         |        FROM pr
         |        JOIN documents sa ON sa.doc_id = pr.doc_a
         |        JOIN documents sb ON sb.doc_id = pr.doc_b
         |        GROUP BY 1, 2)
         |SELECT sel.g_1, sel.g_2, sel.jaccard_est,
         |  coalesce(syn.n_pairs, 0) AS n_exact_pairs
         |FROM sel LEFT JOIN syn
         |  ON syn.src_1 = sel.g_1 AND syn.src_2 = sel.g_2
         |ORDER BY sel.g_1, sel.g_2""".stripMargin,
    "x109_soft_sample" -> {
      val norm = normSql("text")
      s"""WITH m AS (SELECT doc_id,
         |    CAST(len(list_distinct(string_split($norm, ' '))) AS DOUBLE) /
         |      len(string_split($norm, ' ')) AS score
         |  FROM documents)
         |SELECT doc_id, score,
         |  CASE WHEN score IS NULL THEN NULL ELSE
         |    CAST(concat('0x', substr(md5('soft|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      < CAST(floor(least(greatest(score, 0.0), 1.0) * 4294967296.0) AS BIGINT)
         |  END AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "x127_numeric_drift" ->
      """WITH r AS (SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 100.0) AS BIGINT) AS bin,
        |             count(*) AS c_ref FROM documents
        |           WHERE doc_id % 3 <> 0 AND n_chars IS NOT NULL GROUP BY 1),
        |c AS (SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 100.0) AS BIGINT) AS bin,
        |        count(*) AS c_cur FROM documents
        |      WHERE doc_id % 3 = 0 AND n_chars IS NOT NULL GROUP BY 1),
        |j AS (SELECT coalesce(r.bin, c.bin) AS bin,
        |        CAST(coalesce(c_ref, 0) AS BIGINT) AS c_ref,
        |        CAST(coalesce(c_cur, 0) AS BIGINT) AS c_cur
        |      FROM r FULL OUTER JOIN c ON c.bin = r.bin),
        |t AS (SELECT CAST(sum(c_ref) AS BIGINT) AS nr,
        |             CAST(sum(c_cur) AS BIGINT) AS nc FROM j)
        |SELECT bin, c_ref, c_cur,
        |  CAST(abs(c_ref * nc - c_cur * nr) AS BIGINT) AS drift_num,
        |  CAST(abs(c_ref * nc - c_cur * nr) AS DOUBLE)
        |    / CAST(2 * nr * nc AS DOUBLE) AS drift_share
        |FROM j, t ORDER BY bin""".stripMargin,
    "x108_drift_report" ->
      """WITH r AS (SELECT source, count(*) AS c_ref FROM documents
        |           WHERE doc_id % 3 <> 0 AND source IS NOT NULL GROUP BY 1),
        |c AS (SELECT source, count(*) AS c_cur FROM documents
        |      WHERE doc_id % 3 = 0 AND source IS NOT NULL GROUP BY 1),
        |j AS (SELECT coalesce(r.source, c.source) AS source,
        |        CAST(coalesce(c_ref, 0) AS BIGINT) AS c_ref,
        |        CAST(coalesce(c_cur, 0) AS BIGINT) AS c_cur
        |      FROM r FULL OUTER JOIN c ON c.source = r.source),
        |t AS (SELECT CAST(sum(c_ref) AS BIGINT) AS nr,
        |             CAST(sum(c_cur) AS BIGINT) AS nc FROM j)
        |SELECT source, c_ref, c_cur,
        |  CAST(abs(c_ref * nc - c_cur * nr) AS BIGINT) AS drift_num,
        |  CAST(abs(c_ref * nc - c_cur * nr) AS DOUBLE)
        |    / CAST(2 * nr * nc AS DOUBLE) AS drift_share
        |FROM j, t ORDER BY source""".stripMargin,
    "x107_temperature_mix" ->
      // x58's fill with the share table COMPUTED: w = sqrt(T_s) — IEEE
      // sqrt matches the Spark driver's math.sqrt bit for bit
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_toks
        |  FROM documents),
        |tot AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS t
        |        FROM b WHERE lang IS NOT NULL GROUP BY lang
        |        HAVING sum(n_toks) > 0),
        |sh AS (SELECT lang, sqrt(CAST(t AS DOUBLE)) AS w, t FROM tot),
        |bb AS (SELECT min(CAST(floor(t / w) AS BIGINT)) AS bmax FROM sh),
        |bud AS (SELECT lang, CAST(floor(w * bmax) AS BIGINT) AS budget
        |        FROM sh CROSS JOIN bb),
        |c AS (SELECT b.doc_id, b.lang, b.n_toks,
        |        CAST(sum(b.n_toks) OVER (PARTITION BY b.lang
        |          ORDER BY md5(CAST(b.doc_id AS VARCHAR)), b.doc_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM b JOIN sh USING (lang))
        |SELECT c.doc_id, c.lang, c.n_toks, c.cum_tokens
        |FROM c JOIN bud USING (lang) WHERE c.cum_tokens <= bud.budget
        |ORDER BY doc_id""".stripMargin,
    "x58_mixture_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_toks
        |  FROM documents),
        |sh(lang, w) AS (VALUES ('en', 0.5), ('fr', 0.2), ('de', 0.3)),
        |tot AS (SELECT b.lang, CAST(sum(n_toks) AS BIGINT) AS t, min(w) AS w
        |        FROM b JOIN sh USING (lang) GROUP BY b.lang),
        |bb AS (SELECT min(CAST(floor(t / w) AS BIGINT)) AS bmax FROM tot),
        |bud AS (SELECT lang, CAST(floor(w * bmax) AS BIGINT) AS budget
        |        FROM tot CROSS JOIN bb),
        |c AS (SELECT b.doc_id, b.lang, b.n_toks,
        |        CAST(sum(b.n_toks) OVER (PARTITION BY b.lang
        |          ORDER BY md5(CAST(b.doc_id AS VARCHAR)), b.doc_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM b JOIN sh USING (lang))
        |SELECT c.doc_id, c.lang, c.n_toks, c.cum_tokens
        |FROM c JOIN bud USING (lang) WHERE c.cum_tokens <= bud.budget
        |ORDER BY doc_id""".stripMargin,
    "x57_quality_topfrac" -> {
      val norm = normSql("text")
      s"""WITH m AS (SELECT lang, doc_id,
         |    CAST(len(list_distinct(string_split($norm, ' '))) AS DOUBLE) /
         |      len(string_split($norm, ' ')) AS distinct_token_ratio
         |  FROM documents),
         |r AS (SELECT *,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY distinct_token_ratio, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n
         |      FROM m)
         |SELECT lang, doc_id, distinct_token_ratio,
         |  CAST(rn AS DOUBLE) / n AS pct_rank
         |FROM r WHERE rn > n - ceil(n * 0.4) ORDER BY lang, doc_id""".stripMargin
    },
    "x4_simhash" -> simhashSql,
    "x21_simhash_neardup" -> simhashNearDupSql,
    "x29_dedup_clusters" -> dedupClustersSql,
    "x30_stratified_sample" ->
      """SELECT * EXCLUDE (_rn) FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS _rn
        |  FROM documents)
        |WHERE _rn <= 50 ORDER BY doc_id""".stripMargin,
    "x35_strata_centroids" ->
      """WITH j AS (SELECT d.lang, CAST(e.embedding AS DOUBLE[]) AS v
        |           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        |x AS (SELECT lang, CAST(i AS INT) - 1 AS pos, v[CAST(i AS INT)] AS val
        |      FROM j, unnest(generate_series(1, len(v))) AS u(i))
        |SELECT lang, pos,
        |       -- decimal cast routed through VARCHAR: Spark's double→decimal
        |       -- rounds the SHORTEST string repr (BigDecimal.valueOf), not the
        |       -- exact binary expansion — casting DuckDB's shortest-repr string
        |       -- reproduces it (direct CAST differs ~1 element in 300)
        |       CAST(sum(CAST(CAST(val AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS mean
        |FROM x GROUP BY 1, 2 ORDER BY lang, pos""".stripMargin,
    "x31_topk_terms" ->
      s"""WITH t AS (SELECT lang, unnest(string_split(${normSql("text")}, ' ')) AS term
         |           FROM documents),
         |c AS (SELECT lang, term, count(*) AS n FROM t GROUP BY 1, 2),
         |r AS (SELECT lang, term, n,
         |        CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS INT) AS rank
         |      FROM c)
         |SELECT lang, term, n, rank FROM r WHERE rank <= 10
         |ORDER BY lang, rank""".stripMargin,
    "x5_ngram_jaccard" -> ngramJaccardSql,
    // x95 computes the same function as x5 by a different algorithm —
    // the shared oracle IS the equivalence claim
    "x95_prefix_jaccard" -> ngramJaccardSql,
    "x6_cosine_topk" -> topkSql,
    "x7_ann_lsh" -> annLshSql,
    "x16_ann_ivf" -> annIvfSql,
    "x28_ann_ivf_nprobe" -> annIvfProbedSql,
    "x122_ivf_recall_report" -> ivfRecallSql,
    "x129_jl_project" ->
      s"""WITH ${jlProjectCte(16)}
         |SELECT vec_id, array_to_string(pv, ',') AS jl_str,
         |  CAST(list_sum(list_transform(pv, x -> x * x)) AS BIGINT) AS n2
         |FROM p16 ORDER BY vec_id""".stripMargin,
    "x130_jl_recall_report" -> jlRecallSql,
    "x131_jl_ivf_topk" -> jlIvfSql,
    "x143_jl_ivf_rescore" -> jlIvfRescoreSql,
    "x147_jl_ivf_rescore_refined" -> jlIvfRescoreRefinedSql,
    "x148_bpe_apply" -> bpeApplySql,
    "x153_bpe_train" -> bpeTrainSql(8, 65536),
    "x154_zorder_layout" -> zorderSql(16, 64),
    "x155_zorder_incr" ->
      zorderSqlWith(16, 64, boundsFrom = "sb", assign = "sa"),
    "x156_shard_stats" -> shardStatsSql(16, 64),
    "x159_shard_stats_incr" -> shardStatsIncrSql(16, 64, 16),
    "x160_zorder_3d" -> zorder3dSql(16, 64),
    "x163_zorder_3d_incr" ->
      zorder3dSql(16, 64, boundsFrom = "sb3", assign = "sa3"),
    "x161_pruned_scan" -> prunedScanSql(16, 64),
    "x162_pruned_point" -> prunedPointSql(16, 64, 4096, 3),
    "x164_zorder_string_dim" -> stringZorderSql(8, 32),
    "x165_pruned_scan_string" -> stringPrunedScanSql(8, 32),
    "x166_pruned_combined" -> stringPrunedCombinedSql(8, 32, 1024, 3),
    "x167_dax_sharded_fact" -> daxShardedFactSql(8, 32, 1024, 3),
    "x168_pruned_after_reshard" -> stringPrunedScanSql(8, 8),
    "x169_pruned_in_list" -> stringPrunedInListSql(8, 32, 1024, 3),
    "x170_manifest_staleness" -> manifestStalenessSql(8, 32),
    "x171_pruned_delete" -> stringPrunedDeleteSql(8, 32, 1024, 3),
    "x176_dv_delete" -> dvDeleteSql(8, 32, 1024, 3),
    "x177_schema_drop" -> schemaDropSql(8, 32),
    "x178_takedown_stream" -> takedownStreamSql(8, 32),
    "x179_targeted_compact" -> targetedCompactSql(8, 32),
    "x172_retention_delete" -> retentionDeleteSql(8, 32),
    "x173_pruned_prefix" -> stringPrunedPrefixSql(8, 32),
    "x174_schema_evolution" -> schemaEvolutionSql(8, 32),
    "x175_upsert_sharded" -> upsertShardedSql(8, 32, 4096, 3),
    "x157_bloom_index" -> bloomIndexSql(16, 64, 4096, 3),
    "x158_bloom_probe" ->
      bloomProbeSql(16, 64, 4096, 3, Seq(1L, 7L, 42L, 123L, 10000000L)),
    "x149_exact_substring_dups" -> exactSubstringSql(8),
    "x150_bpe_layout_e2e" -> bpeLayoutSql,
    "x151_exact_substring_strip" -> exactSubstringStripSql(8),
    "x152_exact_substring_incr" ->
      exactSubstringIncrSql(8, "% 7 <> 0", "% 7 = 0"),
    "x132_semantic_decontam" -> semanticDecontamSql,
    "x133_repetition_plan" ->
      """WITH w(lang, w) AS (VALUES ('en', 5), ('de', 3), ('fr', 1), ('zh', 1)),
        |a AS (SELECT lang, CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS t
        |      FROM documents GROUP BY lang),
        |p AS (SELECT w.lang, coalesce(a.t, 0) AS avail_tokens,
        |        CAST(40000 * w.w // 10 AS BIGINT) AS target_tokens
        |      FROM w LEFT JOIN a ON w.lang = a.lang)
        |SELECT lang, avail_tokens, target_tokens,
        |  CASE WHEN avail_tokens > 0
        |       THEN CAST(target_tokens AS DOUBLE) / avail_tokens END AS epochs,
        |  target_tokens * 2 > avail_tokens * 3 AS over_cap,
        |  greatest(0, target_tokens - CAST(3 * avail_tokens // 2 AS BIGINT))
        |    AS deficit_tokens
        |FROM p ORDER BY lang""".stripMargin,
    "x123_centroid_drift" -> centroidDriftSql,
    "x125_ivf_recall_refined" -> ivfRecallRefinedSql,
    "x33_ann_quantized_rescore" -> annQuantizedRescoreSql,
    "x52_ann_pq_adc" -> annPqAdcSql,
    "x20_ann_ivf_kmeans" -> annIvfKmeansSql,
    "x17_embed_quantize" ->
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
        |           FROM embeddings),
        |q AS (SELECT vec_id, scale,
        |        list_transform(v, x -> CASE WHEN scale = 0.0 THEN 0
        |                                    ELSE CAST(floor(x / scale + 0.5) AS INT) END) AS qv
        |      FROM s)
        |SELECT vec_id, round(scale, 9) AS scale,
        |  array_to_string(qv, ',') AS q_str,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INT) AS n_sat
        |FROM q ORDER BY vec_id""".stripMargin,
    "x8_embed_neardup" ->
      s"""SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, round($cosSql, 9) AS cosine
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE $cosSql >= 0.45
         |ORDER BY doc_a, doc_b""".stripMargin,
    "x27_embed_neardup_blocked" -> embedNearDupBlockedSql,
    "x37_embed_neardup_incremental" -> embedNearDupIncrementalSql,
    // same oracle as x37 (see x41's note)
    "x42_embed_neardup_incr_buckets" -> embedNearDupIncrementalSql,
    "x34_neardup_dedup" -> embedDedupSql,
    "x59_semantic_dedup" -> semanticDedupSql,
    "x9_lang_id" -> langIdSql,
    "x89_code_switch" -> codeSwitchSql,
    "x94_collocations" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT string_split($norm, ' ') AS l
         |           FROM documents WHERE text IS NOT NULL),
         |uni AS (SELECT tk AS term, count(*) AS c
         |        FROM (SELECT unnest(l) AS tk FROM t) GROUP BY 1),
         |tot AS (SELECT sum(c) AS n FROM uni),
         |bi AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
         |          AS bigram, count(*) AS c_ab
         |       FROM t, unnest(generate_series(1, len(l) - 1)) AS u(i)
         |       GROUP BY 1 HAVING count(*) >= 5)
         |SELECT bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
         |  CAST(c_ab * tot.n AS DOUBLE) / (ua.c * ub.c) AS lift
         |FROM bi, tot
         |JOIN uni ua ON ua.term = string_split(bigram, ' ')[1]
         |JOIN uni ub ON ub.term = string_split(bigram, ' ')[2]
         |ORDER BY lift DESC, bigram LIMIT 40""".stripMargin
    },
    "x93_syndication_matrix" ->
      s"""WITH pr AS (${minhashLshCoreSql("a.doc_id < b.doc_id")}),
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS src_1,
         |  greatest(sa.source, sb.source) AS src_2,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr JOIN src sa ON sa.doc_id = pr.doc_a
         |        JOIN src sb ON sb.doc_id = pr.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x91_containment" -> containmentSql,
    "x121_containment_prefix" -> containmentSql,
    "x126_containment_incr" -> containmentIncrSql,
    "x90_winnow_fingerprints" ->
      s"""WITH $winnowPicksCtes
         |SELECT doc_id, pos, fp FROM p ORDER BY doc_id, pos""".stripMargin,
    "x92_winnow_overlap_incr" ->
      s"""WITH $winnowPicksCtes,
         |ctab AS (SELECT DISTINCT fp FROM p WHERE doc_id % 3 <> 0),
         |b AS (SELECT p.doc_id, (ctab.fp IS NOT NULL) AS sh
         |      FROM p LEFT JOIN ctab USING (fp) WHERE p.doc_id % 3 = 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
         |  CAST(sum(CASE WHEN sh THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  CAST(CAST(sum(CASE WHEN sh THEN 1 ELSE 0 END) AS BIGINT)
         |    AS DOUBLE) / count(*) AS shared_frac
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x47_curation_e2e" -> curationE2eSql,
    "x10_quality_score" -> qualitySql,
    "x11_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS INT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x12_fingerprint" ->
      s"""SELECT doc_id, md5(${normSql("text")}) AS fp FROM documents ORDER BY doc_id""",
    "x13_media_meta" -> mediaMetaSql,
    "x14_frame_sample" -> frameSampleSql,
    "x15_decode_resize" -> decodeResizeSql,
    "x120_png_decode" -> pngDecodeSql,
    "x124_wav_decode" -> wavDecodeSql,
    // x145: the x141 metadata formulas + the exact-integer gate/budget
    "x145_video_gate" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    CAST(600 AS BIGINT) AS timescale,
        |    CAST(doc_id % 240 + 60 AS BIGINT) AS duration,
        |    CAST((doc_id // 3) % 3 + 1 AS INT) AS n_tracks
        |  FROM documents WHERE doc_id % 3 = 2),
        |g AS (SELECT *, (duration * 5 >= timescale AND n_tracks >= 2) AS kept FROM m),
        |f AS (SELECT *, CASE WHEN kept THEN (duration * 30) // timescale
        |                     ELSE 0 END AS n_frames FROM g)
        |SELECT media_id, duration, n_tracks, kept,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST((n_frames + 1) // 2 AS BIGINT) AS n_sampled
        |FROM f ORDER BY media_id""".stripMargin,

    // mirrors encodeMp4's deterministic mvhd/trak contents (the Spark
    // side parses real ISO-BMFF bytes; the oracle recomputes them)
    "x141_mp4_meta" ->
      """SELECT doc_id AS media_id, 'isom' AS brand,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST(doc_id % 240 + 60 AS BIGINT) AS duration,
        |  CAST((doc_id // 3) % 3 + 1 AS INT) AS n_tracks
        |FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""".stripMargin,
    "x128_media_quality_e2e" -> mediaQualitySql,
    "x18_pii_scan" -> piiScanSql,
    "x40_pii_redact" ->
      s"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
         |  '${TextAnalysis.EmailPattern}', '[EMAIL]', 'g'),
         |  '${TextAnalysis.PhonePattern}', '[PHONE]', 'g'),
         |  '${TextAnalysis.Ipv4Pattern}', '[IP]', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x22_rolling_hash" -> {
      val (b, m) = (131L, (1L << 31) - 1)
      s"""WITH RECURSIVE pw(k, p) AS (
         |  SELECT 0, CAST(1 AS BIGINT)
         |  UNION ALL SELECT k + 1, (p * $b) % $m FROM pw WHERE k < 100000
         |),
         |t AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l FROM documents),
         |tv AS (SELECT doc_id, CAST(i AS INT) AS i, len(l) AS n,
         |         CAST(concat('0x', substr(md5('0|' || l[CAST(i AS INT)]), 1, 8)) AS BIGINT) % $m AS v
         |       FROM t, unnest(generate_series(1, len(l))) AS u(i))
         |SELECT doc_id, CAST(sum((v * p) % $m) % $m AS BIGINT) AS rh
         |FROM tv JOIN pw ON pw.k = tv.n - tv.i
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "x43_quantile_cont" ->
      """WITH t AS (SELECT lang,
        |  length(text) / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS r
        |  FROM documents)
        |SELECT lang, quantile_cont(r, 0.25) AS p25, quantile_cont(r, 0.5) AS p50,
        |  quantile_cont(r, 0.9) AS p90
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "x44_quantile_disc" ->
      """SELECT lang,
        |  quantile_disc(CAST(length(text) AS BIGINT), 0.25) AS p25,
        |  quantile_disc(CAST(length(text) AS BIGINT), 0.5) AS p50,
        |  quantile_disc(CAST(length(text) AS BIGINT), 0.9) AS p90
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "x45_bigram_repetition" -> {
      val norm = normSql("text")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS l FROM documents),
         |b AS (SELECT doc_id, len(l) AS nt,
         |        CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS dtr,
         |        l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS bg
         |      FROM t, unnest(generate_series(1, len(l) - 1)) AS u(i)
         |      WHERE len(l) >= 2),
         |c AS (SELECT doc_id, dtr, bg, count(*) AS n FROM b GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         |  CAST(max(n) AS BIGINT) AS top_bigram_n,
         |  CAST(max(n) AS DOUBLE) / CAST(sum(n) AS BIGINT) AS top_bigram_ratio,
         |  dtr AS distinct_token_ratio
         |FROM c GROUP BY doc_id, dtr ORDER BY doc_id""".stripMargin
    },
    "x46_token_budget_sample" ->
      """SELECT * FROM (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_toks,
        |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END)
        |      OVER (PARTITION BY lang
        |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM documents)
        |WHERE cum_tokens <= 5000 ORDER BY doc_id""".stripMargin,
    "x19_corpus_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(min(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split_regex(trim(text), '\s+')) END) AS INT) AS min_toks,
        |  CAST(max(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split_regex(trim(text), '\s+')) END) AS INT) AS max_toks,
        |  quantile_cont(length(text), 0.5) AS p50_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)

  /** x47: the whole curation chain — lang filter, exact dedup, Gopher
    * quality filter, simhash cluster dedup, token-budget sampling,
    * chunking — mirrored as one composed query over CTE subsets (each
    * stage is the same SQL its standalone oracle uses, re-sourced via
    * [[langPredCtes]]/[[gopherQualitySqlOver]]/[[simhashCoreOver]]).
    */
  private def curationE2eSql: String =
    s"""WITH RECURSIVE
       |${langPredCtes("documents")},
       |enbase AS (SELECT d.* FROM documents d
       |           JOIN lp ON lp.doc_id = d.doc_id WHERE lp.lang_pred = 'en'),
       |ex AS (SELECT * FROM enbase WHERE doc_id IN
       |         (SELECT min(doc_id) FROM enbase GROUP BY md5(text))),
       |${gopherQualitySqlOver("ex")},
       |qk AS (SELECT e.* FROM ex e
       |       JOIN gkeep g ON g.doc_id = e.doc_id WHERE g.keep),
       |${simhashCoreOver("qk")},
       |$simhashBandCtes,
       |p AS (SELECT c.doc_a, c.doc_b
       |      FROM cand c JOIN fp fa ON fa.doc_id = c.doc_a
       |                  JOIN fp fb ON fb.doc_id = c.doc_b
       |      WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3),
       |e AS (SELECT doc_a AS s, doc_b AS d FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT s AS id, s AS r FROM e
       |          UNION
       |          SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d),
       |dropped AS (SELECT id FROM
       |              (SELECT id, min(r) AS canon FROM reach GROUP BY id)
       |            WHERE canon <> id),
       |curated AS (SELECT * FROM qk
       |            WHERE doc_id NOT IN (SELECT id FROM dropped)),
       |samp AS (SELECT doc_id, text FROM (
       |    SELECT *, sum(CASE WHEN length(trim(text)) = 0 THEN 0
       |        ELSE len(string_split_regex(trim(text), '\\s+')) END)
       |      OVER (PARTITION BY lang
       |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |            ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM curated)
       |  WHERE cum <= 1500),
       |nrm AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l FROM samp),
       |ch AS (SELECT doc_id, CAST((i - 1) / 48 + 1 AS INT) AS chunk_idx,
       |         array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 63], ' ') AS chunk
       |       FROM nrm, unnest(generate_series(1, greatest(len(l) - 16, 1), 48)) AS u(i))
       |SELECT doc_id, chunk_idx, chunk FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  private def piiScanSql: String = {
    // DuckDB (RE2) and Java regex agree on these patterns;
    // len(regexp_extract_all(...)) mirrors Spark's regexp_count
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PhonePattern}')) AS INT) AS n_phones,
       |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Pattern}')) AS INT) AS n_ipv4,
       |  round(CAST(len(list_distinct(string_split(${normSql("text")}, ' '))) AS DOUBLE) /
       |        len(string_split(${normSql("text")}, ' ')), 9) AS distinct_token_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of Multimodal.slice: bounded int from an md5 hex slice. */
  private def mmSlice(off: Int, bound: Int) =
    s"CAST(CAST(concat('0x', substr(md5(text), $off, 8)) AS BIGINT) % $bound + 1 AS INT)"

  private def mediaMetaSql: String =
    s"""SELECT doc_id AS media_id,
       |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
       |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       |  md5(text) AS payload_md5,
       |  ${mmSlice(1, 1920)} AS width,
       |  ${mmSlice(9, 1080)} AS height,
       |  [8000,16000,44100][CAST(CAST(concat('0x', substr(md5(text), 17, 8)) AS BIGINT) % 3 + 1 AS INT)] AS sample_rate,
       |  ${mmSlice(25, 240)} AS n_frames,
       |  ['png','wav','mp4'][CAST(doc_id % 3 + 1 AS INT)] AS format
       |FROM documents ORDER BY media_id""".stripMargin

  /** DuckDB mirror of the stub decode + stride-4 resize: feature i is UTF-8
    * byte 4·i scaled by /255.0 (0.0 past the payload end), brightness is the
    * mean byte value. Byte access via hex(encode(text)); the byte sum is an
    * exact integer in double (< 2^53), so the single division matches
    * Spark's fold bit-for-bit.
    */
  private def decodeResizeSql: String = {
    def f(i: Int) = {
      val byteIdx = 4 * i // 0-based byte position selected by the stride
      s"""CASE WHEN n > $byteIdx
         |  THEN CAST(CAST(concat('0x', substr(h, ${2 * byteIdx + 1}, 2)) AS INT) AS DOUBLE) / 255.0
         |  ELSE 0.0 END AS f$i""".stripMargin
    }
    s"""WITH b AS (SELECT doc_id AS media_id,
       |             ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
       |             hex(encode(text)) AS h, octet_length(encode(text)) AS n
       |           FROM documents),
       |br AS (SELECT media_id,
       |         CAST(sum(CAST(concat('0x', substr(h, 2 * CAST(i AS INT) - 1, 2)) AS INT)) AS DOUBLE) / n AS brightness
       |       FROM b, unnest(generate_series(1, n)) AS u(i)
       |       GROUP BY media_id, n)
       |SELECT b.media_id, b.kind,
       |  ${f(0)}, ${f(1)}, ${f(2)}, ${f(3)},
       |  coalesce(br.brightness, 0.0) AS brightness
       |FROM b LEFT JOIN br ON b.media_id = br.media_id
       |ORDER BY b.media_id""".stripMargin
  }

  /** Shared by x91 and x121: [[graft.ext.Dedup.ngramContainmentPairs]]
    * and [[graft.ext.Dedup.ngramContainmentPairsPrefix]] compute the same
    * function by different algorithms, so they share one oracle.
    */
  private def containmentSql: String =
    s"""WITH norm AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l FROM documents),
       |ng AS (SELECT DISTINCT doc_id,
       |         concat_ws(' ', l[CAST(i AS INT)], l[CAST(i AS INT) + 1], l[CAST(i AS INT) + 2]) AS g
       |       FROM norm, unnest(generate_series(1, greatest(len(l) - 2, 1))) AS u(i)),
       |ngr AS (SELECT doc_id, g FROM ng
       |        WHERE g IN (SELECT g FROM ng GROUP BY g HAVING count(*) <= 1000)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ngr GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |          FROM ngr a JOIN ngr b ON a.g = b.g AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.inter,
       |  na.n AS n_a, nb.n AS n_b,
       |  CAST(i.inter AS DOUBLE) / least(na.n, nb.n) AS containment,
       |  CASE WHEN na.n <= nb.n THEN i.doc_a ELSE i.doc_b END
       |    AS contained_id
       |FROM inter i JOIN sizes na ON na.doc_id = i.doc_a
       |             JOIN sizes nb ON nb.doc_id = i.doc_b
       |WHERE i.inter * 5 >= least(na.n, nb.n) * 4
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB mirror of x126: the incremental screen's SEMANTICS computed
    * directly — corpus gram sets df-cut under the corpus-only (frozen)
    * frequencies, batch gram sets keeping novel grams (df 1) and
    * dropping corpus-mega grams, cross-side containment over those sets.
    * The prefix/index mechanism is internal; the function it computes is
    * order-independent, so the oracle needs no prefix simulation.
    */
  private def containmentIncrSql: String =
    s"""WITH norm AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS l FROM documents),
       |ng AS (SELECT DISTINCT doc_id,
       |         concat_ws(' ', l[CAST(i AS INT)], l[CAST(i AS INT) + 1], l[CAST(i AS INT) + 2]) AS g
       |       FROM norm, unnest(generate_series(1, greatest(len(l) - 2, 1))) AS u(i)),
       |cg AS (SELECT doc_id, g FROM ng WHERE doc_id % 3 <> 0),
       |dfs AS (SELECT g, count(*) AS df FROM cg GROUP BY g),
       |cset AS (SELECT c.doc_id, c.g FROM cg c JOIN dfs d ON c.g = d.g
       |         WHERE d.df <= 1000),
       |bset AS (SELECT b.doc_id, b.g FROM ng b LEFT JOIN dfs d ON b.g = d.g
       |         WHERE b.doc_id % 3 = 0 AND coalesce(d.df, 1) <= 1000),
       |bsz AS (SELECT doc_id, count(*) AS n FROM bset GROUP BY doc_id),
       |csz AS (SELECT doc_id, count(*) AS n FROM cset GROUP BY doc_id),
       |inter AS (SELECT b.doc_id AS doc_a, c.doc_id AS doc_b, count(*) AS inter
       |          FROM bset b JOIN cset c ON b.g = c.g GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.inter, na.n AS n_a, nb.n AS n_b,
       |  CAST(i.inter AS DOUBLE) / least(na.n, nb.n) AS containment,
       |  CASE WHEN na.n <= nb.n THEN i.doc_a ELSE i.doc_b END AS contained_id
       |FROM inter i JOIN bsz na ON na.doc_id = i.doc_a
       |             JOIN csz nb ON nb.doc_id = i.doc_b
       |WHERE i.inter * 5 >= least(na.n, nb.n) * 4
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Arithmetic mirror of the REAL PNG round-trip: the synthesized PNGs'
    * pixels follow `pixel(x,y) = (id·31 + x·7 + y·13) mod 256`
    * ([[graft.ext.Multimodal.pngPixel]]) and PNG is lossless, so the
    * decoded raster values — and hence features and the exact-integer
    * mean-gray brightness — are reproducible without a codec. Every image
    * has ≥ 4 pixels (dims ≥ 2×2), so f0..f3 always exist.
    */
  private def pngDecodeSql: String =
    s"""WITH m AS (SELECT doc_id AS media_id,
       |             CAST(doc_id % 7 + 2 AS INT) AS width,
       |             CAST(doc_id % 5 + 2 AS INT) AS height
       |           FROM documents WHERE doc_id % 3 = 0),
       |px AS (SELECT media_id, width, height, CAST(i AS INT) AS idx,
       |         (media_id * 31 + (CAST(i AS INT) % width) * 7 + (CAST(i AS INT) // width) * 13) % 256 AS v
       |       FROM m, unnest(generate_series(0, width * height - 1)) AS u(i))
       |SELECT media_id, width, height,
       |  CAST(max(CASE WHEN idx = 0 THEN v END) AS DOUBLE) / 255.0 AS f0,
       |  CAST(max(CASE WHEN idx = 1 THEN v END) AS DOUBLE) / 255.0 AS f1,
       |  CAST(max(CASE WHEN idx = 2 THEN v END) AS DOUBLE) / 255.0 AS f2,
       |  CAST(max(CASE WHEN idx = 3 THEN v END) AS DOUBLE) / 255.0 AS f3,
       |  CAST(sum(v) AS DOUBLE) / (width * height) AS brightness
       |FROM px GROUP BY media_id, width, height
       |ORDER BY media_id""".stripMargin

  /** Arithmetic mirror of the REAL WAV round-trip: the synthesized WAVs'
    * 8-bit PCM samples follow `sample(i) = (id·31 + i·7) mod 256`
    * ([[graft.ext.Multimodal.wavSample]]) and 8-bit PCM is lossless
    * through the JDK codec, so decoded frames — features and the
    * exact-integer mean level — are reproducible without a codec. Every
    * clip has ≥ 20 samples, so f0..f3 always exist.
    */
  private def wavDecodeSql: String =
    s"""WITH m AS (SELECT doc_id AS media_id,
       |             CAST(doc_id % 50 + 20 AS INT) AS n
       |           FROM documents WHERE doc_id % 3 = 1),
       |sm AS (SELECT media_id, n, CAST(i AS INT) AS idx,
       |         (media_id * 31 + CAST(i AS INT) * 7) % 256 AS v
       |       FROM m, unnest(generate_series(0, n - 1)) AS u(i))
       |SELECT media_id,
       |  CAST(max(CASE WHEN idx = 0 THEN v END) AS DOUBLE) / 255.0 AS f0,
       |  CAST(max(CASE WHEN idx = 1 THEN v END) AS DOUBLE) / 255.0 AS f1,
       |  CAST(max(CASE WHEN idx = 2 THEN v END) AS DOUBLE) / 255.0 AS f2,
       |  CAST(max(CASE WHEN idx = 3 THEN v END) AS DOUBLE) / 255.0 AS f3,
       |  CAST(sum(v) AS DOUBLE) / n AS level
       |FROM sm GROUP BY media_id, n
       |ORDER BY media_id""".stripMargin

  /** Composed mirror of x128: the PNG brightness and WAV level formulas
    * (pngDecodeSql / wavDecodeSql arithmetic), unioned, joined to
    * provenance, gated, rolled up per (kind, source). Brightness/level
    * are exact integer sums over ONE division, so the gate comparisons
    * agree bit-for-bit.
    */
  private def mediaQualitySql: String =
    s"""WITH pm AS (SELECT doc_id AS media_id,
       |              CAST(doc_id % 7 + 2 AS INT) AS w, CAST(doc_id % 5 + 2 AS INT) AS h
       |            FROM documents WHERE doc_id % 3 = 0),
       |px AS (SELECT media_id, w, h,
       |         (media_id * 31 + (CAST(i AS INT) % w) * 7 + (CAST(i AS INT) // w) * 13) % 256 AS v
       |       FROM pm, unnest(generate_series(0, w * h - 1)) AS u(i)),
       |pb AS (SELECT media_id, 'image' AS kind,
       |         CAST(sum(v) AS DOUBLE) / (w * h) AS metric
       |       FROM px GROUP BY media_id, w, h),
       |wm AS (SELECT doc_id AS media_id, CAST(doc_id % 50 + 20 AS INT) AS n
       |       FROM documents WHERE doc_id % 3 = 1),
       |sm AS (SELECT media_id, n,
       |         (media_id * 31 + CAST(i AS INT) * 7) % 256 AS v
       |       FROM wm, unnest(generate_series(0, n - 1)) AS u(i)),
       |wb AS (SELECT media_id, 'audio' AS kind,
       |         CAST(sum(v) AS DOUBLE) / n AS metric
       |       FROM sm GROUP BY media_id, n),
       |m AS (SELECT * FROM pb UNION ALL SELECT * FROM wb),
       |g AS (SELECT m.kind, d.source,
       |        (m.metric >= 64.0 AND m.metric <= 192.0) AS keep
       |      FROM m JOIN documents d ON d.doc_id = m.media_id)
       |SELECT kind, source, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS keep_frac
       |FROM g GROUP BY 1, 2 ORDER BY kind, source""".stripMargin

  private def frameSampleSql: String =
    s"""WITH m AS (SELECT doc_id AS media_id, md5(text) AS ph,
       |             ${mmSlice(25, 240)} AS n_frames
       |           FROM documents WHERE doc_id % 3 = 2),
       |f AS (SELECT media_id, ph, CAST(i AS INT) AS frame_no
       |      FROM m, unnest(generate_series(0, n_frames - 1)) AS u(i))
       |SELECT media_id, frame_no, md5(ph || ':' || frame_no) AS frame_fp
       |FROM f WHERE frame_no % 5 = 0 ORDER BY media_id, frame_no""".stripMargin
}
