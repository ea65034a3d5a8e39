package graft.streaming

import java.sql.Timestamp

import graft.analytics.EventOps
import graft.ext.{Corpus, Dedup, Similarity, TextAnalysis}
import graft.ingest.Staging
import graft.ods.OdsTransform
import graft.util.{Compaction, Par, Scan}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType,
  StringType, StructType}

/** The reference's delta path (the `Delta Load Scripts` jobs), re-expressed as
  * Structured Streaming: the landing directory becomes a file-source stream
  * (each arriving `all_day_*.csv` is a micro-batch — exactly the
  * one-file-per-run cadence the Airflow DAG drives by hand,
  * `load_controller_DAG.py:188`), the staging parse/normalize runs as
  * stream transforms shared with the batch path, and the ODS
  * transform + key dedup + append run per micro-batch in `foreachBatch`
  * with the same anti-join semantics as the batch delta
  * (`ods_delta_load2.py:140-184`).
  *
  * Beyond reference parity, [[eventRates]] and [[networkStats]] give the
  * streaming-native analytics surface: watermarked windowed aggregation and
  * arbitrary keyed state (`mapGroupsWithState`).
  *
  * Every `start*` mount is its seed step plus a per-batch function over
  * one private skeleton ([[mount]]) and one of four state shapes: read-only
  * seeded state ([[mountReadOnly]]), id-keyed growing tables
  * ([[mountKeyed]]), `_src`-tagged additive tables ([[mountTagged]]) and
  * sharded tables (the `Scan` table is the sink — [[landBatch]],
  * [[maintain]], [[retryLease]]). Each shape carries the replay-safety
  * argument that holds for every mount built on it.
  */
object DeltaStream {

  /** Guard for the overwrite-per-batch output contract. `batch-<id>` dirs
    * are retry-idempotent WITHIN one checkpoint lineage, but after a
    * checkpoint reset micro-batch numbering restarts at 0 while stale
    * `batch-N` dirs from the prior lineage survive beside the replayed
    * output as duplicates (round-11 advice). A FRESH lineage — no
    * checkpoint dir yet — with leftover batch dirs is exactly that case,
    * so they are removed here; an existing checkpoint keeps its dirs
    * (restart-resume must never destroy committed output). Equivalent
    * contract for callers: wipe `outDir` whenever wiping the checkpoint.
    *
    * Existence and deletion both resolve through Hadoop's FileSystem on
    * each path's OWN filesystem — the same resolution the stream itself
    * uses to write them. A `java.io.File` probe would report any
    * non-local checkpoint URI (hdfs://, s3a://) as permanently missing
    * and destroy committed output on every restart of a live lineage
    * (round-12 advice).
    */
  private def cleanStaleBatchDirs(spark: SparkSession, checkpointDir: String,
      outDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ckpt = new Path(checkpointDir)
    if (!ckpt.getFileSystem(conf).exists(ckpt)) {
      val out = new Path(outDir)
      val fs = out.getFileSystem(conf)
      if (fs.exists(out))
        fs.listStatus(out).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
          .foreach(s => fs.delete(s.getPath, true))
    }
  }

  /** Run a mount's seed writes once per state lifetime, gated on a marker
    * created only AFTER every seed table commits. Gating on a table dir's
    * existence was crash-unsafe: parquet creates the directory before
    * committing, so a crash mid-seed (or between two seed writes) left the
    * gate dir present, the seed permanently skipped, and every later start
    * reading missing/partial state (round-11 advice). Re-running `seed`
    * after such a crash is safe — every seed write is mode("overwrite").
    * The marker lives INSIDE the last-written table dir (underscore-
    * prefixed, so parquet readers ignore it) and vanishes with the state
    * on an epoch wipe, which is exactly the reseed trigger.
    */
  private def seedOnce(lastSeededDir: String)(seed: => Unit): Unit =
    if (!new java.io.File(lastSeededDir, "_GRAFT_SEEDED").exists()) {
      seed
      markSeeded(lastSeededDir)
    }

  /** [[seedOnce]] for the common one-table seed: `rows` overwrite `dir`. */
  private def seedRows(dir: String)(rows: => DataFrame): Unit =
    seedOnce(dir)(overwrite(rows, dir))

  private def overwrite(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  /** Re-create the seed marker after a REFRESH overwrites a seedOnce-gated
    * table: parquet `overwrite` deletes the directory — marker included —
    * so without this a restart after a refresh would silently re-seed the
    * table from the corpus and revert the refreshed state. A crash in the
    * narrow window between the overwrite and this marker re-seeds on
    * restart, and the checkpoint then REPLAYS the batch: drift re-measures
    * against the reverted reference, re-triggers, and the tables converge
    * to the refreshed state again (the x123 convergence argument).
    */
  private def markSeeded(dir: String): Unit = {
    new java.io.File(dir, "_GRAFT_SEEDED").createNewFile(); ()
  }

  /** A per-batch REFRESH of a seeded table: overwrite, then re-mark. */
  private def reseed(dir: String)(rows: DataFrame): Unit = {
    overwrite(rows, dir)
    markSeeded(dir)
  }

  /** seedOnce for a table PUBLISHED through [[graft.util.Scan
    * .writeSharded]]: the swap protocol makes existence itself the
    * completeness signal (a visible table is a whole version;
    * `Merge.recover` first resolves any crash-window state), so no
    * marker file is needed — which matters because maintenance swaps
    * (`compactSharded`, `reshardSharded`) REPLACE the directory and
    * would delete a marker: with seedOnce's marker rule, the next mount
    * restart after a compaction silently re-seeded the table from the
    * corpus and WIPED every appended row (caught by the string-mount
    * re-shard spec; the r14 numeric mount had the same latent loss).
    */
  private def seedTableOnce(spark: SparkSession, tableDir: String)(
      seed: => Unit): Unit = {
    graft.dw.Merge.recover(spark, tableDir)
    if (!new java.io.File(tableDir).exists()) seed
  }

  /** A declared JSON schema: arrivals are read with it, never inferred
    * per file, and absent fields come back NULL. */
  private def schemaOf(cols: (String, DataType)*): StructType =
    cols.foldLeft(new StructType())((s, c) => s.add(c._1, c._2))

  private def docSchema(idCol: String, textCol: String): StructType =
    schemaOf(idCol -> LongType, textCol -> StringType)

  private def vecSchema(idCol: String, vecCol: String): StructType =
    schemaOf(idCol -> LongType, vecCol -> ArrayType(FloatType))

  private def eventSchema(idCol: String, xCol: String,
      yCol: String): StructType =
    schemaOf(idCol -> LongType, xCol -> LongType, yCol -> LongType)

  /** The mount skeleton: the stale-`batch-N` guard when the mount writes
    * per-batch output dirs (`outDir`), the checkpoint, and the
    * empty-batch skip. With `spread` the batch is first spread over the
    * cluster ([[graft.util.Par.spread]] — one arriving file is one input
    * partition) and persisted for the whole per-batch function, then
    * released. Exactly-once per input file comes from the checkpoint.
    */
  private def mount(source: DataFrame, checkpointDir: String,
      outDir: Option[String], spread: Boolean)(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    outDir.foreach(cleanStaleBatchDirs(source.sparkSession, checkpointDir, _))
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          if (!spread) perBatch(batch, batchId)
          else {
            val b = Par.spread(batch).persist()
            try perBatch(b, batchId) finally b.unpersist()
          }
        }
      }
      .start()
  }

  /** One non-empty micro-batch as a mount's per-batch function sees it:
    * the rows `b`, the batch's own session `s` (every state read goes
    * through it), and the batch's output dir `out`. [[emit]] overwrites
    * that dir, so a foreachBatch retry after a mid-batch crash rewrites
    * the same `batch-<id>` files — outputs are retry-idempotent.
    */
  private class Batch(val b: DataFrame, id: Long, outDir: String) {
    val s: SparkSession = b.sparkSession
    val out: String = s"$outDir/batch-$id"
    def read(dir: String): DataFrame = s.read.parquet(dir)
    def emit(df: DataFrame): Unit = df.write.mode("overwrite").parquet(out)
  }

  /** READ-ONLY SEEDED STATE: the state tables seed once and are only READ
    * per batch, so the loop needs no append-idempotence machinery at all
    * — the overwrite-per-batch output ([[Batch.emit]] of `score`) is the
    * whole replay argument, and because nothing grows, a batch's result
    * is independent of arrival order by construction.
    */
  private def mountReadOnly(source: DataFrame, checkpointDir: String,
      outDir: String, spread: Boolean)(
      score: Batch => DataFrame): StreamingQuery =
    mount(source, checkpointDir, Some(outDir), spread) { (b, id) =>
      val t = new Batch(b, id, outDir)
      t.emit(score(t))
    }

  /** ID-KEYED GROWING TABLES: the batch is scored against tables that
    * hold the corpus AND every earlier batch, then appends its own rows.
    * Replay safety under foreachBatch retry closes both crash windows
    * with one broadcast-sized anti-join each:
    *
    *  - reads EXCLUDE the batch's own ids ([[others]]) — a retry after a
    *    crash between an append and the checkpoint commit would otherwise
    *    match the batch against itself;
    *  - appends EXCLUDE keys already present ([[append]]) — no duplicate
    *    rows from a double-run. Each append gates on ITS OWN table's
    *    keys, so a crash between two appends converges on retry instead
    *    of desyncing the tables.
    *
    * A re-seed input built as `others(table) ∪ batch` is therefore the
    * same SET on every retry, even after a crash past the append, so any
    * state derived from it (refreshed centroids, thresholds, frames)
    * converges too. Id spaces must be disjoint across the corpus and
    * every stream file. Batches are always spread and persisted.
    */
  private final class Keyed(batch: DataFrame, id: Long, outDir: String,
      idCol: String) extends Batch(batch, id, outDir) {
    def others(dir: String, key: String = idCol): DataFrame = {
      val ids = b.select(col(idCol))
      read(dir).join(broadcast(
          if (key == idCol) ids else ids.withColumnRenamed(idCol, key)),
        Seq(key), "left_anti")
    }
    def unseen(dir: String, key: String = idCol, distinct: Boolean = false)(
        rows: => DataFrame): DataFrame = {
      val present = read(dir).select(col(key))
      rows.join(if (distinct) present.distinct() else present, Seq(key),
        "left_anti")
    }
    def append(dir: String, key: String = idCol, distinct: Boolean = false)(
        rows: => DataFrame): Unit =
      unseen(dir, key, distinct)(rows).write.mode("append").parquet(dir)
  }

  private def mountKeyed(source: DataFrame, checkpointDir: String,
      outDir: String, idCol: String)(
      perBatch: Keyed => Unit): StreamingQuery =
    mount(source, checkpointDir, Some(outDir), spread = true)((b, id) =>
      perBatch(new Keyed(b, id, outDir, idCol)))

  /** `_src`-TAGGED ADDITIVE TABLES: the table stores per-ingest ROWS tagged
    * with their source (the seed `corpus`, each batch `batch-<id>`), and
    * the state a batch scores against is the aggregate-on-read over the
    * table — additive laws make that equal to one table built from all
    * prior input, so nothing is re-read and appends never rewrite it.
    * Rows are not id-keyed, so a naive retry would DOUBLE-COUNT the
    * batch: both windows close on the tag — scoring reads exclude the
    * batch's own tag ([[others]]), and the append is skipped when the tag
    * already landed (a bounded existence probe — limit-1, not a data
    * collect).
    */
  private final class Tagged(batch: DataFrame, id: Long, outDir: String,
      dir: String) extends Batch(batch, id, outDir) {
    private val tag = s"batch-$id"
    def others: DataFrame = read(dir).filter(col("_src") =!= tag)
    def append(rows: DataFrame): Unit =
      if (read(dir).filter(col("_src") === tag).isEmpty)
        rows.withColumn("_src", lit(tag)).write.mode("append").parquet(dir)
  }

  private def seedTagged(dir: String)(rows: => DataFrame): Unit =
    seedRows(dir)(rows.withColumn("_src", lit("corpus")))

  private def mountTagged(source: DataFrame, checkpointDir: String,
      outDir: String, stateDir: String, spread: Boolean)(
      perBatch: Tagged => Unit): StreamingQuery =
    mount(source, checkpointDir, Some(outDir), spread)((b, id) =>
      perBatch(new Tagged(b, id, outDir, stateDir)))

  /** SHARDED-TABLE MOUNTS: the [[graft.util.Scan]] table is the sink, so
    * there are no per-batch output dirs to guard — a checkpoint reset
    * replays batches INTO the surviving table, and
    * [[graft.util.Scan.appendSharded]]'s bounded per-touched-shard id probe
    * drops rows already landed, so a replay converges instead of
    * duplicating.
    *
    * Poison events: a row whose dimension columns are NULL (the JSON
    * schema nulls absent fields) is UNROUTABLE — the int-keyed manifests
    * cannot name its shard, and `appendSharded` rejects it. Passing it
    * through would fail the micro-batch and checkpoint replay would
    * re-fail it forever — one malformed event wedging the stream. The
    * shape therefore QUARANTINES NULL-shard rows to a side table
    * (`<tableDir>_quarantine/<gen>`, with the batch id; the seed's go to
    * `seed` with id -1) BEFORE the append — the explicit routing the
    * layout contract demands. Idempotent under replay: the quarantine is
    * keyed by batch id, so a replayed batch overwrites its own rejects
    * rather than duplicating them. Returns the routable rows.
    */
  private def routable(laid: DataFrame, tableDir: String, batchId: Long,
      gen: String): DataFrame = {
    val bad = laid.filter(col("shard").isNull)
    if (!bad.isEmpty)
      bad.withColumn("_batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"${tableDir}_quarantine/$gen")
    laid.filter(col("shard").isNotNull)
  }

  /** The shard count from the TABLE's meta, not the mount's
    * construction-time parameter: a between-batches `reshardSharded`
    * changes the table's shard space, and an appender still sharding at
    * the old count would corrupt it. */
  private def shardsNow(s: SparkSession, tableDir: String): Int =
    Scan.metaOf(s, tableDir).nShards.getOrElse(sys.error(
      s"$tableDir: its ${Scan.MetaSidecar} records no n_shards"))

  /** Land one laid-out batch: persisted while its NULL shards quarantine
    * and the rest append, and while `andThen` (a mount's trigger) runs. */
  private def landBatch(s: SparkSession, laid: DataFrame, tableDir: String,
      idCol: String, batchId: Long)(andThen: DataFrame => Unit): Unit = {
    val l = laid.persist()
    try {
      Scan.appendSharded(s, routable(l, tableDir, batchId, s"batch-$batchId"),
        tableDir, idCol)
      andThen(l)
    } finally l.unpersist()
  }

  /** The scheduled maintenance of a streaming-maintained table, inside the
    * SAME foreachBatch because the table has exactly one writer (the
    * mount); a separate daemon would race the appender's directory swap,
    * and the writer lease would reject it.
    *
    * `maxFilesPerShard > 0` arms the scheduled-OPTIMIZE leg: one FS
    * metadata sweep counts data files per shard directory (no data read),
    * and when any shard exceeds the threshold the batch runs
    * [[graft.util.Compaction.compactShardsTargeted]] — rewriting ONLY the
    * breaching shards (work ∝ hot shards, never the table — what a
    * per-batch trigger can afford at 100 TB; the full
    * [[graft.util.Compaction.compactSharded]] republish stays the explicit
    * OPTIMIZE verb). Storage hygiene rides the same schedule: with the
    * lease held by this mount's thread, swap debris from any prior crash
    * is provably dead, one listing when clean.
    *
    * `maxStaleFraction > 0` arms the LOOSENESS-triggered leg: when any
    * shard's `_stale_rows / n_rows` (the fraction of rows that entered
    * through additive manifest folds since the stats were last exact —
    * [[graft.util.Scan.manifestStaleness]], a driver-side read of the
    * shards-sized manifest) exceeds the threshold after the (possibly
    * skipped) targeted pass, the STALE shards' manifest rows are
    * recomputed exactly ([[graft.util.Scan.refreshShards]] — a read of
    * those shards, no rewrite): manifests are refreshed because they are
    * LOOSE, not merely because files accumulated (the x123 drift
    * pattern, third use).
    */
  private def maintain(s: SparkSession, tableDir: String,
      maxFilesPerShard: Int, maxStaleFraction: Double): Unit = {
    if (maxFilesPerShard > 0 && Scan.shardFileCounts(s, tableDir)
        .values.exists(_ > maxFilesPerShard)) {
      Compaction.compactShardsTargeted(s, tableDir, maxFilesPerShard)
      Scan.vacuumTable(s, tableDir)
    }
    if (maxStaleFraction > 0 &&
        Scan.manifestStaleness(s, tableDir) > maxStaleFraction)
      Scan.refreshShards(s, tableDir, Scan.statsManifest(s, tableDir)
        .filter(col("_stale_rows") > 0L)
        .select(col(Scan.ShardCol).cast("int"))
        .collect().map(_.getInt(0)).toSeq)
  }

  /** Run a table verb, retrying with backoff while another writer holds
    * the lease: a mount sharing its table with another writer retries
    * instead of failing the stream. Exhausting `maxAttempts` fails the
    * batch, and the checkpoint retries it — converging, never
    * corrupting. */
  private def retryLease(maxAttempts: Int)(verb: => Any): Unit = {
    def attempt(n: Int): Unit =
      try { verb; () }
      catch {
        case _: Scan.ConcurrentWriterException if n < maxAttempts =>
          Thread.sleep(200); attempt(n + 1)
      }
    attempt(0)
  }

  /** The fixed 1-row (`_xmin/_xmax/_ymin/_ymax`) frame of two numeric
    * z-order dimensions. */
  private def frameOf(df: DataFrame, xCol: String, yCol: String): DataFrame =
    df.agg(
      min(col(xCol).cast("long")).as("_xmin"),
      max(col(xCol).cast("long")).as("_xmax"),
      min(col(yCol).cast("long")).as("_ymin"),
      max(col(yCol).cast("long")).as("_ymax"))

  /** Whether either dimension falls outside the collected frame `f` (was
    * clamped to an edge cell); a NULL dimension is unroutable, not
    * out-of-frame. */
  private def outOfFrame(f: Row, xCol: String, yCol: String): Column = {
    def out(v: String, lo: String, hi: String) =
      col(v) < f.getAs[Long](lo) || col(v) > f.getAs[Long](hi)
    coalesce(out(xCol, "_xmin", "_xmax") || out(yCol, "_ymin", "_ymax"),
      lit(false))
  }

  /** The string-dimension z-order layout of `df` against a frozen frame
    * (`bounds` + the string column's `dict`) at `n` shards. */
  private def layString(df: DataFrame, bounds: DataFrame, idCol: String,
      strCol: String, numCol: String, bits: Int, n: Int,
      dict: DataFrame): DataFrame = {
    val dims = Seq(strCol, numCol)
    Corpus.zorderLayoutAgainstN(df, bounds, idCol, dims, bits, n,
        keepCols = dims, dicts = Map(strCol -> dict))
      .drop(dims.map(c => s"cell_$c"): _*)
  }

  private def publishString(s: SparkSession, rows: DataFrame,
      tableDir: String, strCol: String, numCol: String, bits: Int, n: Int,
      dict: DataFrame): Unit =
    Scan.writeSharded(s, rows, tableDir, statCols = Seq(strCol, numCol),
      sortCol = Some("zvalue"), bloomKeyCol = Some(strCol), bloomM = 1024,
      zTotalBits = Some(2 * bits), nShards = Some(n),
      dicts = Map(strCol -> dict))

  /** The string-dimension table's seed, shared by both string mounts:
    * dict-rank + numeric bounds, then the table published with its dict.
    * A crash between a bounds-swap's renames (the re-base republish)
    * leaves boundsDir absent but fully recoverable — resolved BEFORE the
    * seed check, or the restart would re-seed pre-rebase bounds over a
    * rebased table and misroute every later batch. */
  private def seedStringTable(spark: SparkSession, corpusDocs: DataFrame,
      tableDir: String, boundsDir: String, idCol: String, strCol: String,
      numCol: String, bits: Int, nShards: Int): Unit = {
    graft.dw.Merge.recover(spark, boundsDir)
    seedRows(boundsDir) {
      val dict = Corpus.stringDimDict(corpusDocs, strCol)
      dict.agg(
          min(col("rank")).as(s"_min_$strCol"),
          max(col("rank")).as(s"_max_$strCol"))
        .crossJoin(corpusDocs.agg(
          min(col(numCol).cast("long")).as(s"_min_$numCol"),
          max(col(numCol).cast("long")).as(s"_max_$numCol")))
    }
    seedTableOnce(spark, tableDir) {
      val dict = Corpus.stringDimDict(corpusDocs, strCol)
      publishString(spark, routable(layString(corpusDocs,
          spark.read.parquet(boundsDir), idCol, strCol, numCol, bits,
          nShards, dict), tableDir, -1L, "seed"),
        tableDir, strCol, numCol, bits, nShards, dict)
    }
  }

  /** One string-table batch laid out against the frame recovered from
    * the table's own sidecars (dict via [[graft.util.Scan.readDicts]],
    * shard count via [[shardsNow]]); returns the layout and that count. */
  private def layStringBatch(s: SparkSession, batch: DataFrame,
      tableDir: String, boundsDir: String, idCol: String, strCol: String,
      numCol: String, bits: Int): (DataFrame, Int) = {
    val dict = Scan.readDicts(s, tableDir)(strCol)
    val n = shardsNow(s, tableDir)
    (layString(Par.spread(batch), s.read.parquet(boundsDir), idCol, strCol,
      numCol, bits, n, dict), n)
  }

  /** Landing-dir CSV stream → parsed, null-normalized staging stream.
    * Pure column transforms shared with the batch path
    * ([[Staging.parseRawLines]], [[Staging.normalizeNulls]]).
    */
  def stagingStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    Staging.normalizeNulls(Staging.parseRawLines(
      spark.readStream
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .text(landingDir)))

  /** One micro-batch of the delta pipeline — the exact batch-delta
    * semantics: DQ split → rejected raw lines to the side channel → audit/
    * stg finalize → typed ODS rows → in-batch key dedup → anti-join against
    * the existing ODS table → append. Shared by [[start]] and directly
    * testable without a streaming query.
    */
  def processBatch(batch: DataFrame, odsPath: String, rejectedDir: String,
      jobId: String, insertionTs: Timestamp, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val cached = batch.persist()
    try {
      val split = Staging.dqSplit(cached)
      // K4 — rejected/unparseable raw lines quarantined like the batch path
      // (stg_delta_load.py:137-144), not dropped
      split.rejected.unionByName(split.errors).select(Staging.RawLineCol)
        .coalesce(1).write.mode("overwrite")
        .text(s"$rejectedDir/batch-$batchId")
      val stg = Staging.finalizeStg(split.accepted, jobId,
        s"stream-batch-$batchId", insertionTs.toString)
      val ods = OdsTransform.toOds(stg, insertionTs)
        .dropDuplicates("ID_Event")
      val fs = new Path(odsPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deduped =
        if (fs.exists(new Path(odsPath)))
          OdsTransform.dedupeAgainstExisting(ods,
            spark.read.parquet(odsPath).select("ID_Event"))
        else ods
      deduped.write.mode("append").parquet(odsPath)
    } finally cached.unpersist()
  }

  /** Start the streaming delta load: landing dir → ODS parquet, exactly-once
    * per file via the checkpoint. `insertionTs` defaults to now per batch;
    * inject it for deterministic tests.
    */
  def start(spark: SparkSession, landingDir: String, odsPath: String,
      rejectedDir: String, checkpointDir: String, jobId: String,
      insertionTs: Option[Timestamp] = None): StreamingQuery =
    stagingStream(spark, landingDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, odsPath, rejectedDir, jobId,
          insertionTs.getOrElse(new Timestamp(System.currentTimeMillis())), batchId)
      }
      .start()

  /** Start the FULL streaming delta-load: each arriving landing file runs
    * the complete delta warehouse chain as one micro-batch — DQ split +
    * rejected side channel, STG truncate-write, then
    * [[graft.pipeline.DeltaLoad.warehouseStages]] (ODS/T_ODS key-deduped
    * appends, max-key dim extension, fact MERGE) — the exact batch-delta
    * semantics, shared by construction. Exactly-once per file comes from
    * the checkpoint; a replayed batch — including a foreachBatch RETRY
    * after a mid-batch failure, where some of the batch's writes already
    * committed — is additionally idempotent because `warehouseStages`
    * orders its commits (dims → fact swap → T_ODS last) so the slice that
    * drives the rerun is recomputed unchanged until everything it feeds is
    * durable; see its replay-safety note. One landing file arrives as one
    * input partition, so the batch is spread (as in `Staging.run`) for the
    * parse/DQ/stg write to parallelize.
    *
    * Requires an initialized warehouse (a full load has run) — the
    * reference's own cadence (`load_controller_DAG.py:186-188`: the first
    * run of the day is the full load, deltas follow).
    */
  def startDeltaLoad(spark: SparkSession, landingDir: String,
      states: DataFrame, wh: graft.pipeline.Warehouse, checkpointDir: String,
      jobId: String, insertionTs: Option[Timestamp] = None): StreamingQuery =
    mount(stagingStream(spark, landingDir), checkpointDir, None,
        spread = true) { (cached, batchId) =>
      val s = cached.sparkSession
      val ts = insertionTs.getOrElse(new Timestamp(System.currentTimeMillis()))
      graft.dw.Merge.recover(s, wh.fact)
      val split = Staging.dqSplit(cached)
      split.rejected.unionByName(split.errors).select(Staging.RawLineCol)
        .coalesce(1).write.mode("overwrite")
        .text(s"${wh.rejected}/batch-$batchId")
      Staging.finalizeStg(split.accepted, jobId,
          s"stream-batch-$batchId", ts.toString)
        .write.mode("overwrite").parquet(wh.stg)
      graft.pipeline.DeltaLoad.warehouseStages(s, states, wh, jobId, ts)
    }

  /** Streaming incremental near-dup flagging: each arriving JSON-lines
    * document file is one micro-batch scored against the (static) corpus by
    * [[graft.ext.Dedup.minhashNearDupsAgainst]] — x36's per-ingest shape
    * mounted on Structured Streaming, so the "daily delta" cadence becomes
    * continuous. Flagged (doc_a = new id, doc_b = corpus id, inter, uni)
    * pairs land in `outDir/batch-<id>` (read-only shape). Per-batch cost
    * is the batch's bucket collisions against the corpus, never corpus².
    */
  def startNearDupFlagging(spark: SparkSession, docsDir: String,
      corpus: DataFrame, outDir: String, checkpointDir: String,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 8, bands: Int = 4, shingleLen: Int = 5,
      thNum: Int = 4, thDen: Int = 5): StreamingQuery =
    mountReadOnly(spark.readStream
        .schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, spread = false) { t =>
      Dedup.minhashNearDupsAgainst(Par.spread(t.b), corpus,
        textCol, idCol, k, bands, shingleLen, thNum, thDen)
    }

  /** [[startNearDupFlagging]] with the corpus side kept as a MAINTAINED
    * signature table that GROWS with the stream — the production
    * continuous-dedup loop (the streaming mount of the x41 batch contract):
    *
    *  1. If `sigsDir` does not exist yet it is seeded once with the static
    *     corpus's signatures ([[graft.ext.Dedup.minhashSignatures]]).
    *  2. Each micro-batch is scored against the CURRENT table with
    *     [[graft.ext.Dedup.minhashNearDupsAgainstSigs]] — so a document is
    *     flagged against the original corpus AND every earlier streamed
    *     batch, and nothing is ever re-signatured; per-batch compute is the
    *     batch's own signatures plus one column-pruned scan of the table.
    *  3. The batch then APPENDS its own signatures, becoming corpus for
    *     every later batch.
    *
    * Verify-side texts come from `corpusDocs` ∪ the arrived stream files
    * (candidate partners are always in the signature table, which the
    * current batch is excluded from, so the exact-Jaccard join finds each
    * partner's text in that union). Replay safety is the id-keyed shape's.
    */
  def startNearDupFlaggingMaintained(spark: SparkSession, docsDir: String,
      corpusDocs: DataFrame, sigsDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 8, bands: Int = 4,
      shingleLen: Int = 5, thNum: Int = 4, thDen: Int = 5): StreamingQuery = {
    val schema = docSchema(idCol, textCol)
    seedRows(sigsDir)(Dedup.minhashSignatures(
      Par.spread(corpusDocs), textCol, idCol, k, shingleLen))
    mountKeyed(spark.readStream.schema(schema).json(docsDir),
        checkpointDir, outDir, idCol) { t =>
      val sigs = t.others(sigsDir)
      val texts = corpusDocs.select(col(idCol), col(textCol)).unionByName(
        t.s.read.schema(schema).json(docsDir)
          .select(col(idCol), col(textCol)))
      t.emit(Dedup.minhashNearDupsAgainstSigs(t.b, sigs, texts,
        textCol, idCol, k, bands, shingleLen, thNum, thDen))
      t.append(sigsDir)(
        Dedup.minhashSignatures(t.b, textCol, idCol, k, shingleLen))
    }
  }

  /** Embedding-side sibling of [[startNearDupFlaggingMaintained]] — the
    * streaming mount of the x42 batch contract. The (id, band, bucket)
    * table seeds once from the static corpus
    * ([[graft.ext.Similarity.bandedSignTable]]); each arriving vector file
    * is scored against the CURRENT table with
    * [[graft.ext.Similarity.cosineNearDupsBlockedAgainstBuckets]] (flagged
    * against the corpus and every earlier batch; the corpus is never
    * re-hashed — the hyperplanes are deterministic, so every batch's rows
    * compose), then appends its own bucket rows. Verify-side vectors come
    * from `corpusEmb` ∪ the arrived stream files. Replay safety is the
    * id-keyed shape's, as on the text path.
    */
  def startEmbedNearDupFlaggingMaintained(spark: SparkSession,
      vecsDir: String, corpusEmb: DataFrame, bucketsDir: String,
      outDir: String, checkpointDir: String, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nPlanes: Int = 8, bands: Int = 2, dims: Int = 64): StreamingQuery = {
    val schema = vecSchema(idCol, vecCol)
    seedRows(bucketsDir)(Similarity.bandedSignTable(
      Par.spread(corpusEmb), idCol, vecCol, nPlanes, bands, dims))
    mountKeyed(spark.readStream.schema(schema).json(vecsDir),
        checkpointDir, outDir, idCol) { t =>
      val buckets = t.others(bucketsDir)
      val vecs = corpusEmb.select(col(idCol), col(vecCol)).unionByName(
        t.s.read.schema(schema).json(vecsDir)
          .select(col(idCol), col(vecCol)))
      t.emit(Similarity.cosineNearDupsBlockedAgainstBuckets(t.b, buckets,
        vecs, idCol, vecCol, threshold, nPlanes, bands, dims))
      t.append(bucketsDir, distinct = true)(Similarity.bandedSignTable(
        t.b, idCol, vecCol, nPlanes, bands, dims))
    }
  }

  /** Streaming containment screen — the x126 contract mounted at ingest
    * with GROWING index tables: each arriving document is checked for
    * quote/excerpt relations ([[graft.ext.Dedup.ngramContainmentAgainst]],
    * both probe directions) against the corpus AND every earlier batch,
    * then its own arrays/grams/prefixes append into the index so later
    * arrivals screen against it (arrays once, then their exploded
    * gram/prefix projections). The df universe stays FROZEN at the
    * corpus seed (`dfsDir` is seeded once and never appended — the
    * documented incremental approximation: batch grams novel to the
    * corpus keep df 1 forever, so per-batch work never re-aggregates
    * history). Replay safety is the id-keyed shape's, keyed on `_id`.
    */
  def startContainmentScreen(spark: SparkSession, docsDir: String,
      corpusDocs: DataFrame, arrsDir: String, gramIdxDir: String,
      pfxIdxDir: String, dfsDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, thNum: Int = 4,
      thDen: Int = 5, maxDf: Int = 1000): StreamingQuery = {
    seedOnce(pfxIdxDir) {
      val idx = Dedup.containmentIndex(corpusDocs, textCol, idCol, n,
        thNum, thDen, maxDf)
      overwrite(idx.dfs, dfsDir)
      overwrite(idx.arrs, arrsDir)
      overwrite(idx.gramIdx, gramIdxDir)
      overwrite(idx.pfxIdx, pfxIdxDir)
    }
    mountKeyed(spark.readStream.schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, idCol) { t =>
      val dfs = t.read(dfsDir)
      val idx = Dedup.ContainmentIndex(t.others(arrsDir, "_id"),
        t.others(gramIdxDir, "_id"), t.others(pfxIdxDir, "_id"), dfs)
      t.emit(Dedup.ngramContainmentAgainst(t.b, idx, textCol, idCol, n,
        thNum, thDen, maxDf))
      val bArr = Dedup.containmentBatchArrays(t.b, dfs, textCol,
        idCol, n, maxDf).persist()
      try {
        def append(dir: String)(rows: => DataFrame): Unit =
          t.append(dir, "_id", distinct = true)(rows)
        append(arrsDir)(bArr)
        append(gramIdxDir)(
          bArr.select(col("_id"), explode(col("_ga")).as("_g")))
        val pfxLen = (col("_n") - floor((col("_n") * thNum
          + (thDen - 1)) / thDen).cast("int") + 1)
        append(pfxIdxDir)(bArr.select(col("_id"),
          explode(slice(col("_ga"), lit(1), pfxLen)).as("_g")))
      } finally bArr.unpersist()
    }
  }

  /** Streaming semantic cell routing against a MAINTAINED centroid table
    * WITH the drift-triggered refresh policy (the x76 + x123 composition
    * mounted at ingest): arriving vectors are routed map-only against
    * the current centroid table, and each batch first answers "do these
    * vectors still land where the reference corpus did" via
    * [[graft.ext.Similarity.centroidDriftReport]]'s exact-integer TV
    * distance over cell occupancies — `tv > tau` triggers a
    * deterministic Lloyd re-seed from the full corpus snapshot
    * (corpus ∪ every arrived vector, kept as a third maintained table)
    * before routing. Three maintained tables: `centsDir` (the routing
    * centroids — overwritten on refresh), `occDir` (the REFERENCE
    * occupancy histogram the drift compares against — re-referenced on
    * refresh so later drift is measured against the new normal), and
    * `vecTblDir` (the appended vector snapshot the re-seed draws from).
    * Batch outputs carry (`idCol`, `cell`, `refreshed`).
    *
    * Retry idempotence: the id-keyed shape makes the re-seed input —
    * prior snapshot ∪ batch — the same SET on a retry even after a crash
    * past the append. A retry after the centroid overwrite re-measures
    * drift against the refreshed reference; whether it then decides keep
    * or refresh-again, the resulting centroids are the same pure function
    * of the same snapshot, so the routing output and all three tables
    * converge to the identical state.
    *
    * Scale shape per batch: one map-only assignment + ≤ nCells-row drift
    * algebra on the no-refresh path; a refresh adds `refineIters`
    * bounded Lloyd rounds over the snapshot table — the full corpus is
    * touched ONLY when drift demands it, never per batch.
    */
  def startCellRoutingMaintained(spark: SparkSession, vecsDir: String,
      corpusEmb: DataFrame, centsDir: String, occDir: String,
      vecTblDir: String, outDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 16, tau: Double = 0.2,
      refineIters: Int = 2): StreamingQuery = {
    seedRows(centsDir)(
      Similarity.centroidTable(corpusEmb, idCol, vecCol, nCells))
    seedRows(vecTblDir)(corpusEmb.select(col(idCol), col(vecCol)))
    seedRows(occDir)(Similarity.cellOccupancy(corpusEmb, idCol, vecCol,
      spark.read.parquet(centsDir)))
    mountKeyed(spark.readStream.schema(vecSchema(idCol, vecCol)).json(vecsDir),
        checkpointDir, outDir, idCol) { t =>
      val cents = t.read(centsDir)
      val refOcc = t.read(occDir)
      val snapshot = t.others(vecTblDir)
        .unionByName(t.b.select(col(idCol), col(vecCol)))
      val (newCents, refreshed) = Similarity.refreshedCentroids(
        snapshot, idCol, vecCol, nCells, cents, refOcc, t.b, tau,
        refineIters)
      // materialize the (possibly refreshed) centroids before any
      // maintained table is overwritten: the routing, the centroid
      // overwrite, and the new reference all read this one copy
      val nc = newCents.persist()
      try {
        t.emit(Similarity.cellAssignmentsAgainst(t.b, idCol, vecCol, nc)
          .withColumn("refreshed", lit(refreshed)))
        if (refreshed) {
          reseed(centsDir)(nc)
          // the refreshed snapshot occupancy IS the new reference:
          // later batches drift against the new normal
          reseed(occDir)(Similarity.cellOccupancy(snapshot, idCol, vecCol, nc))
        }
      } finally nc.unpersist()
      t.append(vecTblDir)(t.b.select(col(idCol), col(vecCol)))
    }
  }

  /** Streaming CCNet bucket routing against MAINTAINED state WITH the
    * drift-triggered threshold refresh policy — the x146 + x127
    * composition mounted at ingest (the CCNet sibling of
    * [[startCellRoutingMaintained]]). Arriving documents are scored by
    * the FROZEN maintained LM count table and gated O(1)/row by the
    * current broadcast boundaries; each batch first answers "do these
    * scores still look like the reference distribution" via the
    * exact-integer TV distance ([[graft.ext.Corpus.driftFromCounts]])
    * over fixed-width score bins — `tv > tau` triggers an offline
    * [[graft.ext.Corpus.ccnetThresholdsFromCounts]] re-seed from the
    * full document snapshot (corpus ∪ every arrived doc, kept as a
    * maintained table) before routing. Four maintained tables:
    * `countsDir` (the scoring LM — seeded once from the `trainPred`
    * corpus slice, FROZEN: refreshing the LM itself is x138's additive
    * merge contract, orthogonal to boundary drift), `thDir` (the
    * routing boundaries — overwritten on refresh), `refDir` (the
    * REFERENCE score histogram the drift compares against —
    * re-referenced on refresh so later drift is measured against the
    * new normal), and `docTblDir` (the appended document snapshot the
    * re-seed draws from). Batch outputs carry (`idCol`, `langCol`,
    * `score`, `bucket`, `refreshed`).
    *
    * Retry idempotence (the x123 standard): the id-keyed shape makes the
    * re-seed input the same SET on a retry even after a crash past the
    * append. A retry after the threshold overwrite re-measures drift
    * against the refreshed reference; whether it then decides keep or
    * refresh-again, the resulting boundaries are the same pure function
    * of the same snapshot (ccnetThresholdsFromCounts ranks on a
    * total-order `(−score, id)` key), so the routing output and all
    * four tables converge to the identical state.
    *
    * Scale shape per batch: two batch scoring passes (drift histogram +
    * routing) against the broadcast count table plus a ≤ bins-row drift
    * algebra (one 1-row collect) on the no-refresh path; a refresh adds
    * two snapshot scoring passes (boundary rank + new reference
    * histogram) — the corpus is touched ONLY when drift demands it,
    * never per batch.
    */
  def startCcnetRoutingMaintained(spark: SparkSession, docsDir: String,
      corpusDocs: DataFrame, countsDir: String, thDir: String,
      refDir: String, docTblDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", langCol: String = "lang",
      trainPred: Column = lit(true), nBuckets: Int = 3,
      tau: Double = 0.2, binWidth: Double = 1000.0): StreamingQuery = {
    require(binWidth > 0.0, "need binWidth > 0")
    val docCols = Seq(col(idCol), col(langCol), col(textCol))
    def scoreHist(scored: DataFrame, out: String): DataFrame =
      scored.filter(col("n_pairs") > 0)
        .groupBy(floor(col("lm_score") / binWidth).cast("long").as("bin"))
        .agg(count(lit(1)).as(out))
    seedRows(countsDir)(Corpus.lmCountTable(
      Par.spread(corpusDocs.filter(trainPred)), textCol))
    seedRows(docTblDir)(corpusDocs.select(docCols: _*))
    seedRows(thDir)(Corpus.ccnetThresholdsFromCounts(corpusDocs,
      spark.read.parquet(countsDir), textCol, idCol, langCol, nBuckets))
    seedRows(refDir)(scoreHist(Corpus.lmScoreBackoffFromCounts(
      spark.read.parquet(countsDir), corpusDocs, textCol, idCol), "c_ref"))
    mountKeyed(spark.readStream.schema(schemaOf(idCol -> LongType,
        langCol -> StringType, textCol -> StringType)).json(docsDir),
        checkpointDir, outDir, idCol) { t =>
      val counts = t.read(countsDir)
      val curHist = scoreHist(
        Corpus.lmScoreBackoffFromCounts(counts, t.b, textCol, idCol),
        "c_cur")
      // exact-integer TV of batch scores vs the reference histogram:
      // ≤ bins rows, ONE bounded 1-row collect (null when the batch
      // has no scorable rows → no drift signal → keep)
      val tvRow = Corpus.driftFromCounts(t.read(refDir), curHist, "bin")
        .agg(sum(col("drift_share")).as("tv")).head()
      if (!tvRow.isNullAt(0) && tvRow.getDouble(0) > tau) {
        val snapshot = t.others(docTblDir)
          .unionByName(t.b.select(docCols: _*)).persist()
        try {
          // already materialized-eager (byValue's compact-finish
          // contract), so routing, the overwrite and the new
          // reference all read one computed copy
          val newThr = Corpus.ccnetThresholdsFromCounts(
            snapshot, counts, textCol, idCol, langCol, nBuckets)
          t.emit(Corpus.ccnetRoute(t.b, counts, newThr, textCol, idCol,
            langCol, nBuckets).withColumn("refreshed", lit(true)))
          reseed(thDir)(newThr)
          // the refreshed snapshot's histogram IS the new reference:
          // later batches drift against the new normal
          reseed(refDir)(scoreHist(Corpus.lmScoreBackoffFromCounts(
            counts, snapshot, textCol, idCol), "c_ref"))
          newThr.unpersist()
        } finally snapshot.unpersist()
      } else
        t.emit(Corpus.ccnetRoute(t.b, counts, t.read(thDir), textCol,
          idCol, langCol, nBuckets).withColumn("refreshed", lit(false)))
      t.append(docTblDir)(t.b.select(docCols: _*))
    }
  }

  /** Streaming exact-substring screening against a MAINTAINED winnow pick
    * table — the x152 batch contract mounted at ingest (the exact-run
    * sibling of [[startSegmentDedupMaintained]] and the mount that closes
    * the Lee et al. 2022 §3 family):
    *
    *  1. Two maintained tables seed once from the static corpus: the pick
    *     table ([[graft.ext.TextAnalysis.winnowFingerprints]] at
    *     (k, w = minTokens − k + 1)) and the document text table the
    *     extension verifies against.
    *  2. Each arriving batch screens against the CURRENT tables with
    *     [[graft.ext.Dedup.exactSubstringAgainstPicks]] — every maximal
    *     batch↔corpus shared run of ≥ minTokens tokens, exact positions
    *     and lengths, with the corpus never re-winnowed (per-batch work =
    *     the batch's own winnow pass + the batch-fp-bounded anchor join +
    *     candidate extensions).
    *  3. The batch appends its OWN picks and texts, becoming corpus for
    *     every later batch — a run shared only with an earlier BATCH
    *     document is still caught.
    *
    * Replay safety is the id-keyed shape's; the pick append gates the
    * batch's documents on the pick table's ids BEFORE winnowing them.
    */
  def startExactSubstringScreenMaintained(spark: SparkSession,
      docsDir: String, corpusDocs: DataFrame, picksDir: String,
      docTblDir: String, outDir: String, checkpointDir: String,
      textCol: String = "text", idCol: String = "doc_id",
      minTokens: Int = 50, k: Int = 25,
      maxAnchorDf: Long = 256L): StreamingQuery = {
    require(k >= 1 && minTokens > k,
      "need 1 <= k < minTokens (window w = minTokens - k + 1 >= 2)")
    val w = minTokens - k + 1
    seedRows(picksDir)(TextAnalysis.winnowFingerprints(
      Par.spread(corpusDocs), textCol, idCol, k, w))
    seedRows(docTblDir)(corpusDocs.select(col(idCol), col(textCol)))
    mountKeyed(spark.readStream.schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, idCol) { t =>
      t.emit(Dedup.exactSubstringAgainstPicks(t.b, t.others(picksDir),
        t.others(docTblDir), textCol, idCol, minTokens, k, maxAnchorDf))
      TextAnalysis.winnowFingerprints(
          t.unseen(picksDir, distinct = true)(t.b), textCol, idCol, k, w)
        .write.mode("append").parquet(picksDir)
      t.append(docTblDir)(t.b.select(col(idCol), col(textCol)))
    }
  }

  /** Streaming segment-level dedup against a MAINTAINED first-owner
    * segment-hash table — the streaming mount of the x60 batch contract
    * (and the segment sibling of [[startNearDupFlaggingMaintained]]):
    *
    *  1. The table seeds once from the static corpus
    *     ([[graft.ext.Dedup.segmentHashTable]]).
    *  2. Each arriving document batch dedups against the CURRENT table
    *     with [[graft.ext.Dedup.segmentDedupAgainst]] — a segment survives
    *     only if no earlier corpus/batch document (or earlier position in
    *     this batch) already owns its value; nothing is ever re-segmented.
    *  3. The batch appends its OWN surviving-value hashes, becoming corpus
    *     for every later batch.
    *
    * Replay safety is the id-keyed shape's: scoring excludes the current
    * batch's table rows (a retry after the append would otherwise claim
    * the batch's segments against itself), and the append excludes hashes
    * (`_h`) already present.
    */
  def startSegmentDedupMaintained(spark: SparkSession, docsDir: String,
      corpusDocs: DataFrame, segsDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", segTokens: Int = 8): StreamingQuery = {
    seedRows(segsDir)(Dedup.segmentHashTable(
      Par.spread(corpusDocs), textCol, idCol, segTokens))
    mountKeyed(spark.readStream.schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, idCol) { t =>
      t.emit(Dedup.segmentDedupAgainst(t.b, t.others(segsDir),
        textCol, idCol, segTokens))
      t.append(segsDir, "_h")(
        Dedup.segmentHashTable(t.b, textCol, idCol, segTokens))
    }
  }

  /** Streaming token-rarity scoring against a MAINTAINED unigram count
    * table — the streaming mount of the x67 batch contract, and the
    * ADDITIVE sibling of the append-only signature/bucket/gram loops: the
    * `_src`-tagged shape over [[graft.ext.Corpus.termCountTable]] rows;
    * the reference counts a batch scores against are the aggregate-on-read
    * sum ([[graft.ext.Corpus.mergeTermCounts]]' invariant makes that equal
    * to one table built from all prior text), so nothing is ever
    * re-tokenized and appends never rewrite the table.
    */
  def startTokenRarityMaintained(spark: SparkSession, docsDir: String,
      corpusDocs: DataFrame, countsDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", rareMax: Long = 2): StreamingQuery = {
    seedTagged(countsDir)(Corpus.termCountTable(corpusDocs, textCol))
    mountTagged(spark.readStream
        .schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, countsDir, spread = true) { t =>
      t.emit(Corpus.tokenRarityAgainstTable(t.b, t.others
          .groupBy(col("term")).agg(sum(col("c")).as("c")),
        textCol, idCol, rareMax))
      t.append(Corpus.termCountTable(t.b, textCol))
    }
  }

  /** Streaming LM scoring — x137/x138 mounted at ingest. The bigram
    * stupid-backoff model's training state is the MAINTAINED `_src`-tagged
    * [[graft.ext.Corpus.lmCountTable]] (seeded once from `refDocs`, the
    * curated reference slice): each arriving micro-batch is scored
    * against the aggregate-on-read table (additive by (u, v) — the x138
    * law), then its OWN counts are appended, so the model grows with
    * every curated arrival and later batches are scored by a strictly
    * better-trained LM. Per-batch work ∝ batch: the table rows are
    * vocab-bounded dimensions, training text is never re-read.
    */
  def startLmScoringMaintained(spark: SparkSession, docsDir: String,
      refDocs: DataFrame, countsDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id"): StreamingQuery = {
    seedTagged(countsDir)(Corpus.lmCountTable(refDocs, textCol))
    mountTagged(spark.readStream
        .schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, countsDir, spread = true) { t =>
      t.emit(Corpus.lmScoreBackoffFromCounts(t.others
          .groupBy(col("_u"), col("_v")).agg(sum(col("_c")).as("_c")),
        t.b, textCol, idCol))
      t.append(Corpus.lmCountTable(t.b, textCol))
    }
  }

  /** Streaming CCNet routing — x144/x146 mounted at ingest. The LM count
    * table and the per-language tercile thresholds are FROZEN reference
    * state, seeded once from `refDocs` (CCNet's contract: published
    * bucket boundaries don't drift with arrivals — a corpus routed today
    * and re-routed tomorrow lands in the same bucket). Every arriving
    * micro-batch is scored against the broadcast counts and gated
    * O(1)/row by the broadcast thresholds
    * ([[graft.ext.Corpus.ccnetRoute]]); per-batch work ∝ batch — the
    * reference corpus is never re-read or re-ranked. Unroutable rows
    * (unscorable, or a language absent from the reference) quarantine to
    * a NULL bucket. Refreshing the boundaries for a new reference epoch
    * is an OFFLINE rebuild of the two seed tables (delete `stateDir`,
    * reseed — the [[graft.ext.Corpus.recloseSplitKeys]] pattern of
    * periodic offline repair), never a per-batch mutation (read-only
    * shape).
    */
  def startCcnetRouting(spark: SparkSession, docsDir: String,
      refDocs: DataFrame, trainPred: Column, stateDir: String,
      outDir: String, checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", langCol: String = "lang",
      nBuckets: Int = 3): StreamingQuery = {
    val countsDir = s"$stateDir/counts"
    val thrDir = s"$stateDir/thresholds"
    seedOnce(thrDir) {
      overwrite(Corpus.lmCountTable(
        Par.spread(refDocs.filter(trainPred)), textCol), countsDir)
      overwrite(Corpus.ccnetThresholdsFromCounts(refDocs,
        spark.read.parquet(countsDir), textCol, idCol, langCol, nBuckets),
        thrDir)
    }
    mountReadOnly(spark.readStream.schema(schemaOf(idCol -> LongType,
        textCol -> StringType, langCol -> StringType)).json(docsDir),
        checkpointDir, outDir, spread = false) { t =>
      Corpus.ccnetRoute(Par.spread(t.b), t.read(countsDir), t.read(thrDir),
        textCol, idCol, langCol, nBuckets)
    }
  }

  /** Streaming z-order shard assignment against a MAINTAINED bounds
    * frame — the x155 batch contract mounted at ingest (the layout leg of
    * the maintained-state family):
    *
    *  1. The 1-row bounds frame (`_xmin/_xmax/_ymin/_ymax`) seeds once
    *     from the static corpus.
    *  2. Each arriving batch is assigned cells/zvalue/shard with
    *     [[graft.ext.Corpus.zorderLayoutAgainst]] against the FROZEN
    *     frame — a pure map-side pass, the corpus never re-read; because
    *     the frame never changes, every batch's assignment is mutually
    *     consistent with the corpus layout and with every other batch,
    *     and replay is idempotent BY CONSTRUCTION (read-only shape — the
    *     simplest member of the maintained family).
    *  3. Each output row carries `out_of_frame` — whether either
    *     dimension was clamped to an edge cell. The clamped fraction is
    *     the mount's DRIFT SIGNAL: when arrivals increasingly fall
    *     outside the seeded frame, re-base the bounds offline and rewrite
    *     the layout (the x123 drift-then-reseed pattern). A NULL
    *     dimension is unroutable (NULL shard), not out-of-frame.
    */
  def startZorderShardingMaintained(spark: SparkSession, eventsDir: String,
      corpusEvents: DataFrame, boundsDir: String, outDir: String,
      checkpointDir: String, idCol: String = "event_id",
      xCol: String = "user_id", yCol: String = "ts_us",
      bits: Int = 16, nShards: Int = 64): StreamingQuery = {
    seedRows(boundsDir)(frameOf(corpusEvents, xCol, yCol))
    mountReadOnly(spark.readStream
        .schema(eventSchema(idCol, xCol, yCol)).json(eventsDir),
        checkpointDir, outDir, spread = false) { t =>
      val bounds = t.read(boundsDir)
      // 1-row bounded collect: the frame as literals for the flag
      val f = bounds.head()
      Corpus.zorderLayoutAgainst(t.b, bounds, idCol, xCol, yCol,
          bits, nShards, keepCols = Seq(xCol, yCol))
        .withColumn("out_of_frame", outOfFrame(f, xCol, yCol))
        .drop(xCol, yCol)
    }
  }

  /** [[startZorderShardingMaintained]] WITH the drift-triggered RE-BASE
    * policy — the x123 flag-fraction → offline-re-base → marker-safe
    * overwrite composition for the layout leg (closing the "no mount
    * acts on `out_of_frame`" gap): the clamped fraction of each batch's
    * routable rows is the drift signal, and when it exceeds `tau` the
    * bounds frame is RE-BASED to the min/max of the full event snapshot
    * (corpus ∪ every arrived row, kept as a maintained appended table —
    * the re-base never re-reads the source) before routing. Two
    * maintained tables: `boundsDir` (the frame — overwritten on
    * re-base, [[markSeeded]] so a restart keeps the REBASED frame, the
    * seed-marker-wipe lesson), `evTblDir` (the appended (id, x, y)
    * snapshot the re-base draws from). Batch outputs carry
    * (`out_of_frame` — measured against the frame actually used, so a
    * re-based batch flags clean — and `rebased`).
    *
    * Retry idempotence (the x123 standard): the id-keyed shape makes the
    * re-base input the same SET on a retry even after a crash past the
    * append; the re-based frame is a pure function of that set, so
    * routing and both tables converge. A retry AFTER the bounds overwrite
    * re-measures the clamp fraction against the refreshed frame
    * (typically → keep): assignments are identical either way, only the
    * informational `rebased` flag can differ on such a retry — same
    * contract as [[startCellRoutingMaintained]]'s `refreshed`.
    *
    * Scale shape per batch: map-only assignment + a 1-row clamp-count
    * aggregate on the no-re-base path; a re-base adds one min/max
    * aggregate over the snapshot table — the corpus-scale table is
    * touched only when drift demands it, never per batch.
    */
  def startZorderShardingRebasing(spark: SparkSession, eventsDir: String,
      corpusEvents: DataFrame, boundsDir: String, evTblDir: String,
      outDir: String, checkpointDir: String, idCol: String = "event_id",
      xCol: String = "user_id", yCol: String = "ts_us",
      bits: Int = 16, nShards: Int = 64,
      tau: Double = 0.2): StreamingQuery = {
    val evCols = Seq(col(idCol), col(xCol), col(yCol))
    seedRows(boundsDir)(frameOf(corpusEvents, xCol, yCol))
    seedRows(evTblDir)(corpusEvents.select(evCols: _*))
    mountKeyed(spark.readStream
        .schema(eventSchema(idCol, xCol, yCol)).json(eventsDir),
        checkpointDir, outDir, idCol) { t =>
      import t.s.implicits._
      val f = t.read(boundsDir).head()
      // drift signal: clamped fraction of ROUTABLE rows (NULL
      // dims are unroutable, not out-of-frame) — one 1-row agg
      val d = t.b.agg(
        sum(when(outOfFrame(f, xCol, yCol), 1L).otherwise(0L)).as("_nOut"),
        sum(when(col(xCol).isNotNull && col(yCol).isNotNull, 1L)
          .otherwise(0L)).as("_nRt")).head()
      val nRt = d.getLong(1)
      val rebase = nRt > 0 && d.getLong(0).toDouble / nRt > tau
      val snapshot = t.others(evTblDir).unionByName(t.b.select(evCols: _*))
      // the frame actually used: re-based = pure function of
      // snapshot ∪ batch (1-row collect, then a literal frame so
      // output and bounds-table writes see the SAME values)
      val uf = if (rebase) frameOf(snapshot, xCol, yCol).head() else f
      val useBounds = Seq((uf.getAs[Long]("_xmin"),
        uf.getAs[Long]("_xmax"), uf.getAs[Long]("_ymin"),
        uf.getAs[Long]("_ymax")))
        .toDF("_xmin", "_xmax", "_ymin", "_ymax")
      t.emit(Corpus.zorderLayoutAgainst(t.b, useBounds, idCol, xCol, yCol,
          bits, nShards, keepCols = Seq(xCol, yCol))
        .withColumn("out_of_frame", outOfFrame(uf, xCol, yCol))
        .withColumn("rebased", lit(rebase))
        .drop(xCol, yCol))
      if (rebase) reseed(boundsDir)(useBounds)
      t.append(evTblDir)(t.b.select(evCols: _*))
    }
  }

  /** The full lakehouse loop mounted at ingest — a STREAMING-MAINTAINED
    * SKIPPABLE TABLE: the z-ordered corpus seeds a shard-partitioned
    * table WITH its stats + bloom manifests ([[graft.util.Scan
    * .writeSharded]], one atomic swap); each arriving micro-batch is
    * assigned against the table's FROZEN frame (map-side, the x155
    * contract — frame fixed so batch and corpus shard spaces agree
    * forever) and appended through [[graft.util.Scan.appendSharded]],
    * whose manifest-first ordering keeps every manifest fresh at all
    * times: a pruned read between ANY two batches sees exactly the rows
    * landed so far, and a crash mid-append leaves envelopes wider than
    * the data — over-approximate candidates, never missed rows. Small
    * files accumulate one per batch per touched shard;
    * [[graft.util.Compaction.compactSharded]] is the scheduled
    * maintenance that folds them back and restores exact NDV.
    *
    * Replay, poison-event quarantine and the table-is-the-sink contract
    * are the sharded-table shape's. `maxFilesPerShard > 0` and
    * `maxStaleFraction > 0` arm its scheduled OPTIMIZE and looseness
    * legs ([[maintain]]).
    *
    * `retentionHorizon > 0` arms the RETENTION leg of the maintained
    * loop: after each append the batch's newest `yCol` acts as the
    * event-time watermark, and rows older than `newest − horizon`
    * expire through [[graft.util.Scan.deleteByRange]] — the
    * stats-routed pruned delete, so expiry rewrites only the shards
    * whose envelope intersects the expired range and, once a range has
    * expired, it stops producing candidates at all (the envelopes
    * tightened past it) — a replayed batch's re-delete is a ZERO-
    * candidate no-op, which is the replay-idempotence argument. The
    * watermark is batch-derived (not wall clock), so checkpoint
    * replays compute the same cutoff deterministically. Scheduled
    * inside the same foreachBatch as the compaction leg: this mount is
    * the table's one writer, and the writer lease would reject a
    * separate expiry daemon racing it.
    *
    * Scale shape per batch: map-only assignment + work ∝ batch and its
    * touched shards (the append's dedup probe and manifest folds);
    * untouched shards are never read.
    */
  def startZorderTableMaintained(spark: SparkSession, eventsDir: String,
      corpusEvents: DataFrame, tableDir: String, boundsDir: String,
      checkpointDir: String, idCol: String = "event_id",
      xCol: String = "user_id", yCol: String = "ts_us",
      bits: Int = 16, nShards: Int = 64,
      maxFilesPerShard: Int = 0,
      maxStaleFraction: Double = 0.0,
      retentionHorizon: Long = 0L): StreamingQuery = {
    def lay(df: DataFrame, bounds: DataFrame, n: Int): DataFrame =
      Corpus.zorderLayoutAgainst(df, bounds, idCol, xCol, yCol, bits, n,
          keepCols = Seq(xCol, yCol))
        .drop("cell_x", "cell_y")
    seedRows(boundsDir)(frameOf(corpusEvents, xCol, yCol))
    seedTableOnce(spark, tableDir) {
      Scan.writeSharded(spark, routable(lay(corpusEvents,
          spark.read.parquet(boundsDir), nShards), tableDir, -1L, "seed"),
        tableDir, statCols = Seq(xCol, yCol), sortCol = Some("zvalue"),
        bloomKeyCol = Some(xCol), zTotalBits = Some(2 * bits),
        nShards = Some(nShards))
    }
    mount(spark.readStream
        .schema(eventSchema(idCol, xCol, yCol)).json(eventsDir),
        checkpointDir, None, spread = false) { (batch, batchId) =>
      val s = batch.sparkSession
      val n = shardsNow(s, tableDir)
      landBatch(s, lay(Par.spread(batch), s.read.parquet(boundsDir), n),
        tableDir, idCol, batchId)(_ => ())
      maintain(s, tableDir, maxFilesPerShard, maxStaleFraction)
      if (retentionHorizon > 0) {
        // batch-derived watermark -> deterministic under replay;
        // the expired range's shards stop being candidates after
        // the first delete, so a replayed expiry is a no-op
        val newest = batch.agg(max(col(yCol).cast("long"))).head()
        if (!newest.isNullAt(0))
          Scan.deleteByRange(s, tableDir, Seq((yCol, Long.MinValue + 1,
            newest.getLong(0) - retentionHorizon)))
      }
    }
  }

  /** [[startZorderTableMaintained]] for a table whose leading z-order
    * dimension is a STRING (the real curation shape: language/source ×
    * length or time) — the frozen frame is the persisted DICTIONARY +
    * bounds, both recovered from the table's own sidecars
    * ([[graft.util.Scan.readDicts]]), so the mount needs no caller-held
    * state: the corpus seeds dict + bounds + table once, every arriving
    * batch is assigned against that frozen frame map-side (dict
    * broadcast-joined), and appends flow through the same
    * manifest-fresh [[graft.util.Scan.appendSharded]].
    *
    * An arrival whose string value was NOT in the corpus dictionary (a
    * new language/source appearing after the frame froze) is an
    * unroutable row by the frozen-frame contract — it lands in the
    * quarantine table with the batch's NULL-dim rows, visible and
    * replayable, never silently dropped and never wedging the
    * checkpoint. Quarantine growth is the drift signal: when a new
    * category matters, re-publish with a refreshed dict (the x123
    * re-base pattern — dictionary evolution is a table rewrite, exactly
    * like a shard-count evolution).
    */
  def startZorderStringTableMaintained(spark: SparkSession,
      eventsDir: String, corpusDocs: DataFrame, tableDir: String,
      boundsDir: String, checkpointDir: String,
      idCol: String = "doc_id", strCol: String = "lang",
      numCol: String = "n_chars", bits: Int = 8, nShards: Int = 32,
      maxFilesPerShard: Int = 0,
      maxStaleFraction: Double = 0.0): StreamingQuery = {
    seedStringTable(spark, corpusDocs, tableDir, boundsDir, idCol, strCol,
      numCol, bits, nShards)
    mount(spark.readStream.schema(schemaOf(idCol -> LongType,
        strCol -> StringType, numCol -> LongType)).json(eventsDir),
        checkpointDir, None, spread = false) { (batch, batchId) =>
      val s = batch.sparkSession
      val (laid, _) = layStringBatch(s, batch, tableDir, boundsDir, idCol,
        strCol, numCol, bits)
      landBatch(s, laid, tableDir, idCol, batchId)(_ => ())
      maintain(s, tableDir, maxFilesPerShard, maxStaleFraction)
    }
  }

  /** [[startZorderStringTableMaintained]] with DICTIONARY EVOLUTION —
    * the re-base leg that ACTS on quarantine growth (the x123 drift
    * pattern, fourth use): a frozen dict has no position for a category
    * that appears after publication, so those arrivals quarantine; when
    * a batch's unseen-category fraction exceeds `tauNum/tauDen`, the
    * mount rebuilds the dictionary from the TABLE ∪ QUARANTINE rows,
    * re-lays every row against the refreshed frame (rank bounds grow to
    * the new 0..n'−1; the numeric dim's frame stays frozen), republishes
    * table + manifests + dict in ONE atomic swap, folds the
    * now-routable quarantine rows in (id-deduped against the table, so
    * a crash-retry converges), and rewrites the rows STILL unroutable
    * (NULL dims) to a single `rebase-<batch>` quarantine generation.
    *
    * Replay idempotence: a checkpoint replay after a re-base finds its
    * batch's formerly-unseen values IN the dict — the rows route, and
    * `appendSharded`'s bounded id probe drops the ones the re-base
    * already folded. Scale shape: the re-base is a full-table rewrite
    * (the same cost class as `reshardSharded` — run when the trigger
    * fires, typically rarely); every non-rebasing batch stays
    * map-side + touched-shards like the maintained mount.
    */
  def startZorderStringTableRebasing(spark: SparkSession,
      eventsDir: String, corpusDocs: DataFrame, tableDir: String,
      boundsDir: String, checkpointDir: String,
      idCol: String = "doc_id", strCol: String = "lang",
      numCol: String = "n_chars", bits: Int = 8, nShards: Int = 32,
      tauNum: Long = 1L, tauDen: Long = 10L): StreamingQuery = {
    require(tauNum >= 0 && tauDen > 0, "need tauNum >= 0 and tauDen > 0")
    val quarantineDir = s"${tableDir}_quarantine"
    seedStringTable(spark, corpusDocs, tableDir, boundsDir, idCol, strCol,
      numCol, bits, nShards)
    mount(spark.readStream.schema(schemaOf(idCol -> LongType,
        strCol -> StringType, numCol -> LongType)).json(eventsDir),
        checkpointDir, None, spread = false) { (batch, batchId) =>
      val s = batch.sparkSession
      val fs = new Path(tableDir).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val (laid, nShardsEff) = layStringBatch(s, batch, tableDir, boundsDir,
        idCol, strCol, numCol, bits)
      landBatch(s, laid, tableDir, idCol, batchId) { laid =>
        // the trigger: this batch's UNSEEN-category fraction (rows
        // whose string value exists but has no dict position; rows
        // with NULL dims are unroutable under ANY frame and never
        // argue for a re-base)
        val nUnseen = laid.filter(col("shard").isNull)
          .filter(col(strCol).isNotNull && col(numCol).isNotNull).count()
        val nBatch = laid.count()
        if (nUnseen * tauDen > nBatch * tauNum) {
          // ---- DICTIONARY RE-BASE (full-table rewrite) ----
          val payload = Seq(idCol, strCol, numCol)
          val tableRows = s.read.parquet(tableDir)
            .select(payload.map(col): _*)
          val qRows = s.read.option("basePath", quarantineDir)
            .parquet(s"$quarantineDir/*")
            .select(payload.map(col): _*)
            // fold only rows the table does not already hold —
            // a crash-retry of an earlier re-base converges here
            .join(tableRows.select(col(idCol)), Seq(idCol), "left_anti")
            .persist()
          qRows.count()
          val allRows = tableRows.unionByName(qRows).persist()
          val newDict = Corpus.stringDimDict(allRows, strCol).persist()
          newDict.count()
          // string frame grows to the new ranks; numeric frame
          // stays frozen (numeric drift is the other mount's job)
          // 1-row frame collected and rebuilt as literals: the
          // overwrite below targets boundsDir itself, and a lazy
          // plan still reading it would race its own deletion
          val ob = s.read.parquet(boundsDir).head()
          val nd = newDict.agg(min(col("rank")), max(col("rank"))).head()
          val newBounds = {
            import s.implicits._
            Seq((nd.getLong(0), nd.getLong(1),
                ob.getAs[Long](s"_min_$numCol"),
                ob.getAs[Long](s"_max_$numCol")))
              .toDF(s"_min_$strCol", s"_max_$strCol",
                s"_min_$numCol", s"_max_$numCol")
          }
          // materialize TO DISK before the swap: the
          // still-unroutable read below runs after tableDir is
          // replaced, and recomputing from lineage would read the
          // NEW table — persist() alone is not durable (lost
          // executor blocks recompute from lineage), so the
          // re-laid rows go through a temp parquet and every
          // post-swap read is against those bytes, never the
          // swapped table
          val relaidTmp = s"${tableDir}__rebase_relaid"
          overwrite(layString(allRows, newBounds, idCol, strCol, numCol,
            bits, nShardsEff, newDict), relaidTmp)
          val relaid = s.read.parquet(relaidTmp).persist()
          try {
            publishString(s, relaid.filter(col("shard").isNotNull),
              tableDir, strCol, numCol, bits, nShardsEff, newDict)
            // bounds + seed marker publish as ONE unit (marker
            // written inside the swap tmp): a crash can never leave
            // the rebased table paired with pre-rebase bounds and a
            // missing marker — the state where a restart re-seeds
            // the OLD (smaller) rank range and silently misroutes
            // every later batch
            graft.dw.Merge.atomicOverwriteDir(s, boundsDir) { tmp =>
              overwrite(newBounds, tmp)
              markSeeded(tmp)
            }
            // one new quarantine generation holds what is STILL
            // unroutable (NULL dims); the folded batch dirs go.
            // Crash windows re-fold idempotently via the anti-join.
            val still = relaid.filter(col("shard").isNull)
              .withColumn("_batch_id", lit(batchId))
              .persist()
            val nStill = still.count()
            val gens = fs.listStatus(new Path(quarantineDir)).toSeq
              .filter(_.isDirectory).map(_.getPath)
            if (nStill > 0)
              overwrite(still, s"$quarantineDir/rebase-$batchId")
            still.unpersist()
            gens.filter(_.getName != s"rebase-$batchId")
              .foreach(p => fs.delete(p, true))
          } finally {
            relaid.unpersist(); allRows.unpersist()
            newDict.unpersist(); qRows.unpersist()
            fs.delete(new Path(relaidTmp), true)
          }
        }
      }
    }
  }

  /** Streaming φ-heavy-hitter monitor — x134/x135 mounted at ingest. The
    * Count-Min sketch lives as a MAINTAINED `_src`-tagged table (seeded
    * once from `corpusDocs`, one per-batch sketch appended per arriving
    * micro-batch — [[graft.ext.Corpus.cmsMerge]]'s additive law makes the
    * aggregate-on-read view exactly `sketch(everything seen)`), and each
    * batch's DISTINCT grams are probed against the running sketch: a gram
    * only becomes φ-heavy ON an arrival that contains it, so probing
    * arrivals catches every crossing with per-batch work ∝ batch, fixed
    * depth×width sketch state, and zero text re-reads — the gram universe
    * is never materialized anywhere.
    *
    * Per batch, `outDir/batch-N` gets this batch's grams whose estimate
    * against (running sketch ⊎ this batch) clears `phiNum/phiDen` of the
    * total gram mass, estimate-only — the exact-verify escalation
    * ([[graft.ext.Corpus.cmsHeavyHitters]]) stays a batch job over the
    * flagged grams. Replay safety is the `_src`-tagged shape's.
    */
  def startCmsHeavyHitterMonitor(spark: SparkSession, docsDir: String,
      corpusDocs: DataFrame, sketchDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, depth: Int = 4,
      width: Int = 8192, phiNum: Long = 1,
      phiDen: Long = 4096): StreamingQuery = {
    seedTagged(sketchDir)(
      Corpus.cmsSketch(corpusDocs, textCol, n, depth, width))
    mountTagged(spark.readStream
        .schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, sketchDir, spread = true) { t =>
      val bs = Corpus.cmsSketch(t.b, textCol, n, depth, width).persist()
      try {
        val running = Corpus.cmsMerge(t.others
          .select("row_idx", "bucket", "cnt").unionByName(bs)).persist()
        try t.emit(Corpus.cmsHeavyHitterProbe(running, t.b, textCol,
          n, depth, width, phiNum, phiDen))
        finally running.unpersist()
        t.append(bs)
      } finally bs.unpersist()
    }
  }

  /** Streaming curation gate — x49 + x50 mounted at ingest: each arriving
    * document micro-batch is Gopher-quality-scored
    * ([[graft.ext.Corpus.gopherQualityFilter]]) and decontaminated against
    * a MAINTAINED eval gram table
    * ([[graft.ext.Dedup.ngramOverlapAgainstGramTable]]) in one pass, then
    * written with its audit columns: `keep_quality`, `contaminated`
    * (shared grams with ANY eval set ≥ `minSharedGrams`), and the final
    * `kept` verdict. Production filters documents when they ARRIVE, not in
    * a later corpus-wide sweep — by the time a corpus is assembled, the
    * rejects were never stored.
    *
    * The gram table seeds once from `evalDocs` (x50's registration-time
    * contract — benchmarks are never re-signatured) and is only READ per
    * batch (read-only shape).
    */
  def startCurationFilter(spark: SparkSession, docsDir: String,
      evalDocs: DataFrame, setCol: String, gramsDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 8,
      minSharedGrams: Long = 1L): StreamingQuery = {
    seedRows(gramsDir)(
      Dedup.evalSetGramTable(evalDocs, setCol, textCol, idCol, n))
    mountReadOnly(spark.readStream
        .schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, spread = true) { t =>
      val quality = Corpus.gopherQualityFilter(t.b, textCol, idCol)
        .select(col(idCol), col("keep").as("keep_quality"))
      val contaminated = Dedup.ngramOverlapAgainstGramTable(
          t.b, t.read(gramsDir), textCol, idCol, n)
        .groupBy(col(idCol))
        .agg(max(col("shared_grams")).as("_sg"))
        .filter(col("_sg") >= minSharedGrams)
        .select(col(idCol), lit(true).as("contaminated"))
      t.b.join(quality, Seq(idCol), "left")
        .join(contaminated, Seq(idCol), "left")
        .withColumn("contaminated",
          coalesce(col("contaminated"), lit(false)))
        .withColumn("kept", col("keep_quality") && !col("contaminated"))
    }
  }

  /** Streaming importance gate — x81's DSIR weighting mounted at ingest:
    * each arriving micro-batch is scored against FIXED target/raw
    * hashed-bucket tables ([[graft.ext.Corpus.hashedBucketTable]]) seeded
    * once from the corpus at first start, and released with its exact
    * integer masses, affinity, and a `keep` verdict (affinity ≥
    * `minAffinity`). The distributions deliberately do NOT grow with the
    * stream: DSIR scores against a fixed raw/target estimate, so a doc's
    * weight never depends on arrival order — re-seed explicitly when the
    * corpus estimate should move (read-only shape). Per-batch work: one
    * bounded table read + the batch's own map-only scoring fold.
    */
  def startImportanceGate(spark: SparkSession, docsDir: String,
      corpus: DataFrame, targetPred: Column, bucketsDir: String,
      outDir: String, checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", buckets: Int = 256,
      minAffinity: Double = 1.0): StreamingQuery = {
    seedOnce(s"$bucketsDir/raw") {
      overwrite(Corpus.hashedBucketTable(corpus.filter(targetPred),
        textCol, buckets), s"$bucketsDir/target")
      overwrite(Corpus.hashedBucketTable(corpus, textCol, buckets),
        s"$bucketsDir/raw")
    }
    mountReadOnly(spark.readStream
        .schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, spread = false) { t =>
      Corpus.importanceAffinityAgainst(t.b, textCol, idCol,
          t.read(s"$bucketsDir/target"), t.read(s"$bucketsDir/raw"), buckets)
        .withColumn("keep", col("affinity") >= minAffinity)
    }
  }

  /** Streaming event-rate monitor — x113 mounted at ingest with a GROWING
    * tagged daily-count table: the corpus's (type, day) counts seed once,
    * each arriving event micro-batch merges its own counts in (ADDITIVE —
    * [[graft.analytics.EventOps.dailyCounts]]), re-scores with
    * [[graft.analytics.EventOps.rateAnomaliesFromDaily]], and emits
    * verdicts for THE BATCH'S OWN (type, day) pairs to
    * `outDir/batch-<id>`. A day's verdict reflects counts known SO FAR
    * (snapshot semantics — late events re-raise on a later batch).
    * Replay safety is the x67 `_src`-tagged shape's.
    */
  def startRateMonitor(spark: SparkSession, eventsDir: String,
      corpusEvents: DataFrame, countsDir: String, outDir: String,
      checkpointDir: String, typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id",
      windowDays: Int = 7, factorNum: Long = 3,
      factorDen: Long = 2): StreamingQuery = {
    seedTagged(countsDir)(EventOps.dailyCounts(corpusEvents, typeCol, tsCol))
    mountTagged(spark.readStream.schema(schemaOf(idCol -> LongType,
        typeCol -> StringType, tsCol -> StringType)).json(eventsDir),
        checkpointDir, outDir, countsDir, spread = false) { t =>
      val bDaily = EventOps.dailyCounts(
        t.b.withColumn(tsCol, col(tsCol).cast("timestamp")),
        typeCol, tsCol).persist()
      try {
        val merged = t.others
          .select(col("event_type"), col("_day"), col("n"))
          .unionByName(bDaily)
          .groupBy(col("event_type"), col("_day"))
          .agg(sum(col("n")).as("n"))
        t.emit(EventOps.rateAnomaliesFromDaily(merged, windowDays,
            factorNum, factorDen)
          .join(bDaily.select(col("event_type"),
            date_format(date_add(to_date(lit("1970-01-01")),
              col("_day").cast("int")), "yyyy-MM-dd").as("day")),
            Seq("event_type", "day"), "left_semi"))
        t.append(bDaily)
      } finally bDaily.unpersist()
    }
  }

  /** Streaming drift monitor — [[graft.ext.Corpus.driftFromCounts]]
    * mounted at ingest: the corpus's key distribution (language, source,
    * quality bucket) is aggregated ONCE into a reference count table, and
    * every arriving micro-batch reports its own distribution's exact
    * TV-distance masses against it to `outDir/batch-<id>` — the "does
    * today's data still look like the corpus" alarm, one bounded-key
    * aggregate per batch (read-only shape).
    */
  def startDriftMonitor(spark: SparkSession, docsDir: String,
      corpus: DataFrame, keyCol: String, refDir: String, outDir: String,
      checkpointDir: String, idCol: String = "doc_id"): StreamingQuery = {
    def keyCounts(df: DataFrame, c: String): DataFrame =
      df.filter(col(keyCol).isNotNull).groupBy(col(keyCol))
        .agg(count(lit(1)).as(c))
    seedRows(refDir)(keyCounts(corpus, "c_ref"))
    mountReadOnly(spark.readStream.schema(schemaOf(idCol -> LongType,
        keyCol -> StringType)).json(docsDir),
        checkpointDir, outDir, spread = false) { t =>
      Corpus.driftFromCounts(t.read(refDir), keyCounts(t.b, "c_cur"), keyCol)
    }
  }

  /** Streaming split routing — the x102 contract mounted at ingest with
    * GROWING tables: arriving documents receive their leakage-safe
    * train/val/test assignment from
    * [[graft.ext.Corpus.splitRouteAgainst]], matching near-dups in the
    * corpus AND every earlier batch (the signature table grows like
    * [[startNearDupFlaggingMaintained]]'s), and split keys PROPAGATE
    * through the growing key table — a batch-2 near-dup of a batch-1
    * document inherits the key batch 1 inherited, CHAIN-wise across
    * arrival order. The inherited guarantee is
    * [[graft.ext.Corpus.splitRouteAgainst]]'s, including its documented
    * bridging exception: a doc matching two distinct existing clusters
    * adopts the smaller key only (flagged `bridging = true` in the batch
    * output) and may sit split-opposite its near-dups in the other
    * cluster until the keys are re-closed offline — the guarantee is
    * per-matched-cluster, not a global transitive closure. Texts ride a
    * third maintained table (`textsDir`, seeded from the corpus, appended
    * per batch) so per-batch verify-join cost follows the candidate set —
    * the stream history is never re-read as JSON. Each batch appends its
    * own signatures, texts, and assigned keys (the keys re-read from the
    * just-written output — no second routing pass); replay safety is the
    * id-keyed shape's.
    */
  def startSplitRouting(spark: SparkSession, docsDir: String,
      corpusDocs: DataFrame, sigsDir: String, keysDir: String,
      outDir: String, checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", valFrac: Double = 0.1,
      testFrac: Double = 0.1, salt: String = "split", k: Int = 8,
      bands: Int = 4, shingleLen: Int = 5, thNum: Int = 4,
      thDen: Int = 5, textsDirOpt: String = null): StreamingQuery = {
    val textsDir = Option(textsDirOpt).getOrElse(s"$sigsDir-texts")
    seedRows(sigsDir)(Dedup.minhashSignatures(
      Par.spread(corpusDocs), textCol, idCol, k, shingleLen))
    seedRows(keysDir) {
      val pairs = Dedup.minhashNearDups(corpusDocs, textCol,
        idCol, k, bands, shingleLen, thNum, thDen)
        .select(col("doc_a"), col("doc_b"))
      corpusDocs.select(col(idCol))
        .join(Dedup.dupClusters(pairs)
          .withColumnRenamed("member_id", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("canonical_id"), col(idCol)).as("split_key"))
    }
    seedRows(textsDir)(corpusDocs.select(col(idCol), col(textCol)))
    mountKeyed(spark.readStream.schema(docSchema(idCol, textCol)).json(docsDir),
        checkpointDir, outDir, idCol) { t =>
      val sigs = t.others(sigsDir)
      val keys = t.others(keysDir)
      t.emit(Corpus.splitRouteAgainst(t.b, sigs, t.others(textsDir), keys,
        textCol, idCol, valFrac, testFrac, salt, k, bands, shingleLen,
        thNum, thDen))
      t.append(sigsDir)(
        Dedup.minhashSignatures(t.b, textCol, idCol, k, shingleLen))
      t.append(textsDir)(t.b.select(col(idCol), col(textCol)))
      t.append(keysDir)(
        t.read(t.out).select(col(idCol), col("split_key")))
    }
  }

  /** Streaming retrieval probe — [[graft.ext.Corpus.bm25TopKAgainstPostings]]
    * mounted at ingest: probe/benchmark queries arrive as a file stream and
    * each micro-batch retrieves its top-`k` corpus documents against a
    * FIXED postings table seeded once from the corpus (the maintained-index
    * contract of x98: the corpus is tokenized exactly once, never per
    * batch). Read-only shape: a query's retrieval result is independent
    * of arrival order by construction.
    *
    * Scale shape per batch: the batch's own term explode + the term-keyed
    * postings probe (work ∝ Σ query-term df) + two map-side-combined
    * corpus-stats aggregates over the table — no re-tokenization, no
    * corpus shuffle.
    */
  def startBm25Probe(spark: SparkSession, queriesDir: String,
      corpus: DataFrame, postingsDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 10): StreamingQuery = {
    seedRows(postingsDir)(Corpus.postingsTable(corpus, textCol, idCol))
    mountReadOnly(spark.readStream
        .schema(docSchema(idCol, textCol)).json(queriesDir),
        checkpointDir, outDir, spread = false) { t =>
      Corpus.bm25TopKAgainstPostings(t.b, t.read(postingsDir), idCol,
        textCol, k)
    }
  }

  /** Streaming semantic decontamination — x132's contract mounted at
    * ingest: every arriving vector batch is scored against the FIXED
    * held-out eval set and receives its contaminated verdict before the
    * data joins the corpus (decontaminate-on-arrival, not as a later
    * sweep). Two tables seed once and never grow: the centroid table
    * (from the corpus, so batches route exactly as the corpus did — the
    * verdict is arrival-order independent by construction) and the eval
    * vector table (the benchmark is fixed). Per-batch work is the batch's
    * own map-only assignment + one cell equi-join against the eval probes
    * — ∝ batch, never ∝ history (read-only shape).
    */
  def startSemanticDecontam(spark: SparkSession, vecsDir: String,
      corpusEmb: DataFrame, evalEmb: DataFrame, centsDir: String,
      evalDir: String, outDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 16, nprobe: Int = 2,
      threshold: Double = 0.45): StreamingQuery = {
    seedRows(centsDir)(
      Similarity.centroidTable(corpusEmb, idCol, vecCol, nCells))
    seedRows(evalDir)(evalEmb.select(col(idCol), col(vecCol)))
    mountReadOnly(spark.readStream
        .schema(vecSchema(idCol, vecCol)).json(vecsDir),
        checkpointDir, outDir, spread = false) { t =>
      Similarity.semanticContaminationAgainst(t.b, t.read(evalDir), idCol,
        vecCol, t.read(centsDir), nprobe, threshold)
    }
  }

  /** Streaming takedown scan — the right-to-be-forgotten mount of
    * [[graft.ext.Blocklist]]: here the REMOVAL FEED is the stream
    * (deletion requests arrive over time; the corpus is at rest). Each
    * micro-batch of requested keys scans the corpus once and emits the
    * TOMBSTONES — the keys that actually exist and must be purged — to
    * `outDir/batch-<id>` (read-only shape). Downstream compaction applies
    * the tombstones with one anti-join
    * ([[graft.ext.Blocklist.bloomAntiJoin]] when the accumulated list
    * outgrows a broadcast).
    *
    * Scale shape: the corpus read is pruned to the key column (parquet
    * column pruning — the scan never touches text), and the batch's keys
    * broadcast into a map-only semi-join: per-request work is one pruned
    * corpus pass, zero shuffles.
    */
  def startTakedownScan(spark: SparkSession, feedDir: String,
      corpusPath: String, outDir: String, checkpointDir: String,
      keyCol: String = "doc_id"): StreamingQuery =
    mountReadOnly(spark.readStream
        .schema(schemaOf(keyCol -> LongType)).json(feedDir),
        checkpointDir, outDir, spread = false) { t =>
      t.read(corpusPath).select(col(keyCol))
        .join(broadcast(t.b.select(col(keyCol)).distinct()),
          Seq(keyCol), "left_semi")
    }

  /** TAKEDOWN FEED over DELETION VECTORS — [[startTakedownScan]] grown
    * into the lakehouse loop (a sharded-table mount): removal requests
    * stream in, and each micro-batch MASKS its keys in the sharded
    * table's deletion vector ([[graft.util.Scan.deleteByKeysDeferred]] —
    * one metadata swap, no shard rewritten, takedown latency decoupled
    * from rewrite cost); the physical rewrite rides the staleness trigger
    * (`maxStaleFraction`), because the masked counts fold into
    * `_stale_rows` — the same signal, so compaction both merges small
    * files AND applies the accumulated vector in one scheduled pass.
    *
    * Replay idempotence for free: a replayed batch's re-mask finds its
    * keys already masked (the matched probe reads LOGICAL rows) and is
    * a zero-entry no-op — the x172 zero-candidate property, deferred
    * form. Feed keys are JSON `{key: …}` strings, cast to the table's
    * bloom-key type from the DECLARED schema (a string probed against
    * a long-keyed bloom would hash differently and silently miss —
    * typed here, loudly, once).
    *
    * Two-writer reality: this mount may share the table with an ingest
    * mount. The writer lease serializes them ([[retryLease]]).
    */
  def startTakedownMaintained(spark: SparkSession, feedDir: String,
      tableDir: String, checkpointDir: String,
      keyField: String = "key",
      maxStaleFraction: Double = 0.0,
      maxAttempts: Int = 50,
      maxKeysPerBatch: Int = 100000): StreamingQuery =
    mount(spark.readStream
        .schema(schemaOf(keyField -> StringType)).json(feedDir),
        checkpointDir, None, spread = false) { (batch, _) =>
      val s = batch.sparkSession
      val keyCol = Scan.bloomKeyOf(s, tableDir)
      val keyType = Scan.tableSchemaOf(s, tableDir)
        .flatMap(sc => sc.fields.find(_.name == keyCol))
        .map(_.dataType)
        .getOrElse(sys.error(s"takedown mount: $tableDir has no " +
          s"declared schema naming '$keyCol'"))
      val raw = batch.select(col(keyField).cast(keyType))
        .filter(col(keyField).isNotNull)
        .distinct().limit(maxKeysPerBatch + 1)
        .collect().map(_.get(0)).toSeq
      require(raw.size <= maxKeysPerBatch,
        s"takedown batch exceeds $maxKeysPerBatch keys — split the " +
          "feed; a corpus-sized key list is a rewrite, not a takedown")
      if (raw.nonEmpty) {
        retryLease(maxAttempts)(Scan.deleteByKeysDeferred(s, tableDir, raw))
        if (maxStaleFraction > 0 &&
            Scan.manifestStaleness(s, tableDir) > maxStaleFraction)
          retryLease(maxAttempts)(Compaction.compactSharded(s, tableDir))
      }
    }

  /** Watermarked windowed aggregation over an ODS-shaped stream: events per
    * (event-time window × magnitude category). Late data beyond the
    * watermark is dropped and closed windows emit finalized counts — the
    * streaming replacement for the reference's daily re-aggregation.
    */
  def eventRates(odsStream: DataFrame, watermark: String = "2 hours",
      windowLen: String = "1 hour"): DataFrame =
    odsStream
      .select(to_timestamp(col("DT_time")).as("_ts"),
        coalesce(col("LB_magCategory"), lit("Unknown")).as("LB_magCategory"))
      .filter(col("_ts").isNotNull)
      .withWatermark("_ts", watermark)
      .groupBy(window(col("_ts"), windowLen), col("LB_magCategory"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("LB_magCategory"), col("n_events"))

  /** Streaming exact dedup by content fingerprint: keeps the first
    * occurrence of each canonical text within the watermark horizon.
    * State is keyed by the 128-bit digest, never the document — O(1) per
    * distinct doc — and the watermark bounds state growth, which an
    * unwindowed `dropDuplicates` would leak forever on an infinite stream.
    */
  def streamingDedup(docStream: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docStream
      .withColumn("_fp", graft.ext.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming gap-based sessionization via Spark's native
    * `session_window`: one row per closed session once the watermark passes
    * its gap horizon — the streaming counterpart of
    * [[graft.analytics.EventOps.sessionize]]. State is merged per
    * (entity, overlapping-window), bounded by the watermark; no custom
    * `flatMapGroupsWithState` needed because the built-in operator already
    * expresses the semantics (custom-operator ladder step (a)).
    *
    * Boundary note: `session_window` merges two events when the gap is
    * strictly smaller than `gapSeconds` (an event at exactly `t + gap`
    * starts a new session), while the batch operator keeps `== gap` in the
    * same session; and `session_end` here is `last event + gap` (window
    * end), not the last event time. Both are the native operator's
    * documented semantics, kept as-is rather than papered over.
    */
  def streamingSessionize(events: DataFrame, entityCol: String, tsCol: String,
      valueCol: String, gapSeconds: Long,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(entityCol),
        session_window(col(tsCol), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"),
        graft.util.Exact.dsum(col(valueCol)).as("total_value"))
      .select(col(entityCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Stream-stream interval join: each left event is matched to the right
    * events of the same entity with `left.ts - horizon ≤ right.ts ≤
    * left.ts` — the streaming primitive under attribution/enrichment
    * (e.g. purchases × recent views). Both sides are watermarked and the
    * join condition bounds event time on both ends, so Spark can size and
    * expire the join state — without the time bound a stream-stream join
    * would buffer both streams forever.
    *
    * Right-side columns come back prefixed `r_`; the right stream must
    * carry the same entity column name.
    */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame,
      entityCol: String, ltsCol: String, rtsCol: String,
      horizonSeconds: Long, watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(ltsCol, watermark)
    val r = right.select(right.columns.map(c => col(c).as(s"r_$c")): _*)
      .withWatermark(s"r_$rtsCol", watermark)
    l.join(r,
      col(entityCol) === col(s"r_$entityCol") &&
        col(s"r_$rtsCol") <= col(ltsCol) &&
        col(s"r_$rtsCol") >= col(ltsCol) - expr(s"INTERVAL $horizonSeconds SECONDS"))
  }

  case class NetState(n_events: Long, max_mag: Double)
  case class NetUpdate(net: String, n_events: Long, max_mag: Double)

  /** Arbitrary keyed state over the stream (`mapGroupsWithState`): per
    * seismic network, a running event count and max magnitude, updated every
    * trigger. State is O(#networks) — bounded by the dimension, not the
    * stream.
    */
  def networkStats(odsStream: DataFrame): Dataset[NetUpdate] = {
    val spark = odsStream.sparkSession
    import spark.implicits._
    odsStream
      .select(coalesce(col("LB_net"), lit("unknown")).as("net"),
        col("VL_n_mag").cast("double").as("mag"))
      .as[(String, Option[Double])]
      .groupByKey(_._1)
      .mapGroupsWithState[NetState, NetUpdate](GroupStateTimeout.NoTimeout) {
        case (net, rows, state) =>
          val prev = state.getOption.getOrElse(NetState(0L, Double.MinValue))
          var n = prev.n_events
          var mx = prev.max_mag
          rows.foreach { case (_, mag) =>
            n += 1
            mag.foreach(m => if (m > mx) mx = m)
          }
          val next = NetState(n, mx)
          state.update(next)
          NetUpdate(net, n, if (mx == Double.MinValue) Double.NaN else mx)
      }
  }
}
