package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.ext.{Corpus, Dedup, TextAnalysis}
import graft.util.Scan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The corpus workload's client: curation through the public calls of the
  * curation chain, publication as a sharded z-ordered table with a
  * `doc_id` bloom index, then a seeded stream of table verbs. Every step's
  * result is checked against what the generator planted and what the
  * benchmark itself wrote.
  */
final class CorpusClient(spark: SparkSession, run: Run, root: Path, gen: Docs) {

  import CorpusClient._

  val table: String = root.resolve("published").toString
  private val inputs = root.resolve("inputs")
  Files.createDirectories(inputs)

  /** Write a generated batch as a JSON-lines file; the program reads only this. */
  def writeBatch(b: Docs.Batch, name: String): Path = {
    val p = inputs.resolve(name)
    Files.write(p, b.jsonLines.getBytes(StandardCharsets.UTF_8))
    p
  }

  private def read(p: Path): DataFrame = spark.read.schema(InputSchema).json(p.toString)
    .withColumn("n_chars", length(col("text")).cast("long"))
    .withColumn("rev", lit(0L))

  private var bounds: DataFrame = _
  private var dict: DataFrame = _

  private def lay(df: DataFrame): DataFrame =
    Corpus.zorderLayoutAgainstN(df, bounds, "doc_id", Seq("source", "n_chars"),
      bits = 8, nShards = Shards, keepCols = Seq("source", "n_chars", "lang", "rev", "text"),
      dicts = Map("source" -> dict))
      .drop("cell_source", "cell_n_chars")

  private def materialize(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  /** Expected logical table (doc_id → rev) after the verbs so far. */
  private val expected = scala.collection.mutable.Map.empty[Long, Long]
  private var takenDown = Set.empty[Long]

  /** Publish `docs` as the sharded table with a `doc_id` bloom index. */
  private def publish(docs: DataFrame, keep: DataFrame => DataFrame): Unit =
    Trace.span("util.scan.write_sharded") {
      dict = keep(materialize(Corpus.stringDimDict(docs, "source")))
      bounds = keep(materialize(dict.agg(min(col("rank")).as("_min_source"),
          max(col("rank")).as("_max_source"))
        .crossJoin(docs.agg(min(col("n_chars")).as("_min_n_chars"),
          max(col("n_chars")).as("_max_n_chars")))))
      Scan.writeSharded(spark, lay(docs), table, statCols = Seq("source", "n_chars"),
        sortCol = Some("zvalue"), bloomKeyCol = Some("doc_id"), bloomM = 4096, bloomK = 3,
        zTotalBits = Some(16), nShards = Some(Shards), dicts = Map("source" -> dict))
    }

  /** The table now holds exactly `ids`: a full read must show them. */
  private def published(ids: Iterable[Long]): Unit = {
    expected.clear()
    ids.foreach(id => expected(id) = 0L)
    takenDown = Set.empty
    checkTable("published")
  }

  /** Publish a batch file as it was generated, without curation. */
  def publishRaw(file: Path): Unit = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val docs = read(file)
    publish(docs, df => { held += df; df })
    published(docs.select("doc_id").collect().map(_.getLong(0)))
    held.foreach(_.unpersist())
  }

  /** Curate one batch file and publish the result. */
  def curateAndPublish(file: Path, batch: Docs.Batch): Unit = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { held += df; df }
    run.op("curate") {
      val docs = read(file)
      val en = keep(Trace.span("ext.lang_id") {
        materialize(docs.filter(TextAnalysis.langId(col("text")) === "en"))
      })
      val exact = keep(Trace.span("ext.exact") {
        materialize(Dedup.exact(en, "text", "doc_id"))
      })
      val kept = keep(Trace.span("ext.gopher") {
        materialize(exact.join(
          Corpus.gopherQualityFilter(exact, "text", "doc_id").filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "leftsemi"))
      })
      val pairs = keep(Trace.span("ext.simhash") {
        materialize(Dedup.simhashNearDups(kept, "text", "doc_id", bits = 48, bands = 4, maxHam = 3))
      })
      val curated = keep(Trace.span("ext.clusters") {
        materialize(Dedup.dedupByClusters(kept, "doc_id", pairs))
      })
      val sampled = keep(Trace.span("ext.budget") {
        val withTokens = curated.withColumn("_nt", TextAnalysis.whitespaceTokenCount(col("text")))
        materialize(Corpus.tokenBudgetSample(withTokens, "source", "doc_id", "_nt", TokenBudget)
          .drop("_nt", "cum_tokens", "_sk", "_tk"))
      })
      publish(sampled, keep)
      (exact.select("doc_id").collect().map(_.getLong(0)).toSet,
        sampled.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)),
        pairs.count())
    }.foreach { case (exactIds, published, nPairs) =>
      batch.exactGroups.foreach { g =>
        val n = g.count(exactIds)
        run.check("exactGroupKeepsOne", n == 1, s"group ${g.toSeq.sorted.take(3)} kept $n")
      }
      val texts = published.map(_._2)
      run.check("keptTextsDistinct", texts.distinct.length == texts.length,
        s"${texts.length - texts.distinct.length} repeated texts")
      run.check("publishedNonEmpty", published.nonEmpty)
      this.published(published.map(_._1))
      Trace.count("ext.kept_ratio", published.length.toDouble / batch.docs.length)
      Trace.count("ext.near_dup_pairs", nPairs.toDouble)
    }
    held.foreach(_.unpersist())
  }

  def liveKeys: IndexedSeq[Long] = expected.keys.toIndexedSeq.sorted

  /** One pruned point lookup, checked against the expected table. */
  def lookup(key: Long): Unit = {
    run.op("query") {
      Trace.span("util.scan.read_pruned") {
        Scan.readPrunedByKey(spark, table, "doc_id", key).select("doc_id", "rev").collect()
      }
    }.foreach { rows =>
      val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val want = expected.get(key).map(key -> _).toSeq
      run.check(if (takenDown(key)) "takenDownAbsent" else "lookup", got == want,
        s"key $key got $got want $want")
    }
    if (Trace.enabled) {
      // the shards the bloom index names for this key; all but the one
      // holding a live key are false positives
      val cands = Scan.candidateShardsByKey(Scan.bloomManifest(spark, table), key).length
      Trace.count("util.scan.candidates", cands.toDouble)
      Trace.count("util.scan.false_candidates",
        (cands - (if (expected.contains(key)) 1 else 0)).max(0).toDouble)
    }
  }

  def lookupHit(): Unit = {
    val live = liveKeys
    if (live.nonEmpty) lookup(live(gen.nextInt(live.length)))
  }
  def lookupMiss(): Unit = lookup(MissBase + gen.nextInt(1000000))

  /** Take down `k` live keys in `k` different shards: mask them with a deletion
    * vector, then apply the vector physically — one write. A lookup of a
    * taken-down key and a full read must no longer see them; the full read
    * must otherwise equal the expected table, as applying a vector leaves
    * the logical table unchanged.
    */
  def takedown(k: Int): Unit = {
    // one key from each of `k` shards, so every takedown rewrites as many
    val byShard = liveKeys.filter(shardOf.contains).groupBy(shardOf).toIndexedSeq.sortBy(_._1)
    val keys = gen.sample(byShard, k).map { case (_, ks) => ks(gen.nextInt(ks.length)) }
    if (keys.nonEmpty) run.op("write") {
      val masked = Trace.span("util.scan.delete_deferred")(Scan.deleteByKeysDeferred(spark, table, keys))
      (masked, Trace.span("util.scan.apply_dv")(Scan.applyDeletionVectors(spark, table)))
    }.foreach { case ((_, _, removed), (_, physical)) =>
      run.check("takedownRemoved", removed == keys.length, s"removed $removed of ${keys.length}")
      markTakenDown(keys)
      Trace.count("util.scan.apply_dv.rows_removed", physical.toDouble)
    }
    keys.headOption.foreach(lookup)
    checkTable("applyDvLogicalUnchanged")
  }

  /** Record `keys` as taken down: later checks expect them absent. */
  def markTakenDown(keys: Seq[Long]): Unit = {
    keys.foreach(expected.remove)
    takenDown ++= keys
  }

  /** Shard of each key in the last full read. */
  private var shardOf = Map.empty[Long, Int]

  /** The logical table through the Scan API: every shard, masks applied. */
  def logical(): Map[Long, Long] = {
    val shards = Scan.statsManifest(spark, table).select(col("shard").cast("int"))
      .collect().map(_.getInt(0)).toSeq
    val rows = Scan.readShards(spark, table, shards)
      .select(col("doc_id"), col("rev"), col("shard").cast("int")).collect()
    shardOf = rows.map(r => r.getLong(0) -> r.getInt(2)).toMap
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Full read equals the expected table: takedowns absent. */
  def checkTable(what: String): Unit = {
    val got = logical()
    run.check(what, got == expected.toMap,
      s"${got.size} rows, want ${expected.size}; " +
        s"resurrected ${got.keySet.intersect(takenDown).size}")
  }

  def publishedBytes: Long = Files2.bytes(Path.of(table))
}

object CorpusClient {
  val Shards = 16
  val TokenBudget = 60000L
  /** Lookup misses draw from ids no batch reaches. */
  val MissBase = 1L << 40
  val InputSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType)
    .add("lang", StringType).add("source", StringType)
}
