package graft.util

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.shim

/** Small-file compaction — the table-maintenance pass every long-running
  * ingest loop needs: streaming micro-batches and delta appends
  * (`DeltaStream`, the warehouse's fact appends through
  * `Merge.commitAppend`) each add a few files, and after enough batches a
  * 100 TB table is millions of KB-sized parquet files whose per-file
  * open/footer cost dominates every scan. `compact` rewrites a
  * parquet directory into ⌈bytes / targetBytes⌉ files sized off the ACTUAL
  * on-disk footprint (no rows are collected, no data is interpreted — one
  * `FileSystem` metadata sweep decides the file count).
  *
  * The rewrite goes through [[graft.dw.Merge.atomicOverwrite]]'s
  * write-to-temp + double-rename swap, so readers never observe a partial
  * directory and a crash at any point leaves a recoverable state
  * (`Merge.recover`). Round-robin repartition gives uniformly-sized output
  * files regardless of input skew; pass `sortCols` to instead
  * range-partition + sort-within — clustering the rewrite by a scan key so
  * downstream predicate pushdown skips whole files (the layout half of the
  * compaction, à la OPTIMIZE ... ZORDER's 1-D case).
  *
  * Returns (filesBefore, filesAfter-target). Skips (returns unchanged
  * counts) when the directory is already at or below the target count —
  * compaction must be idempotent-cheap enough to run on a schedule.
  *
  * The sharded-table verbs below read their layout from the table, as
  * [[graft.util.Scan]] does: shards are the `shard=N` directories under
  * [[graft.util.Scan.ShardCol]], and a rewrite sorts each shard by the
  * `sort_col` its meta recorded at publication.
  */
object Compaction {

  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil): (Int, Int) = {
    require(targetBytes > 0, "need targetBytes > 0")
    graft.dw.Merge.recover(spark, dir)
    val files = dataFiles(spark, dir)
    val bytes = files.map(_.getLen).sum
    val nBefore = files.size
    val nTarget = filesFor(bytes.toDouble, targetBytes)
    if (nBefore <= nTarget) return (nBefore, nBefore)
    val df = spark.read.parquet(dir)
    val laid =
      if (sortCols.isEmpty) df.repartition(nTarget)
      else df.repartitionByRange(nTarget,
        sortCols.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
    graft.dw.Merge.atomicOverwrite(spark, laid, dir)
    (nBefore, nTarget)
  }

  /** [[compact]] under a size rule instead of a schedule, for a table
    * that grows by appends (the fact under delta loads): compacts when
    * files × `spark.sql.files.openCostInBytes` >
    * `spark.sql.files.maxPartitionBytes` + bytes — when the per-file cost
    * Spark's own split planner charges outweighs one split beyond the
    * data itself. The table then carries at most about
    * maxPartitionBytes / openCostInBytes files more than its bytes need,
    * and is rewritten to ⌈bytes / maxPartitionBytes⌉ files. Returns
    * [[compact]]'s counts, or None when the rule does not fire.
    */
  def compactIfFragmented(spark: SparkSession, dir: String): Option[(Int, Int)] = {
    graft.dw.Merge.recover(spark, dir)
    val files = dataFiles(spark, dir)
    val (maxSplit, openCost) = shim.fileSplitCosts(spark)
    if (files.size * openCost > maxSplit + files.map(_.getLen).sum)
      Some(compact(spark, dir, targetBytes = maxSplit))
    else None
  }

  /** Files an append of `rows` rows to the parquet table at `dir` should
    * write: ⌈rows × the table's on-disk bytes per row /
    * `spark.sql.files.maxPartitionBytes`⌉, at least 1. Bytes per row come
    * from the largest data file's footer, one driver-side read and no
    * Spark job; 1 file when the table holds no rows to measure.
    */
  def appendFiles(spark: SparkSession, dir: String, rows: Long): Int = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, dir).maxByOption(_.getLen).fold(1) { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      val fileRows = try r.getRecordCount finally r.close()
      if (fileRows == 0) 1
      else filesFor(rows * st.getLen.toDouble / fileRows,
        shim.fileSplitCosts(spark)._1)
    }
  }

  private def filesFor(bytes: Double, targetBytes: Long): Int =
    math.max(1, math.ceil(bytes / targetBytes).toInt)

  /** The parquet data files directly under `dir` (sidecars, `_SUCCESS`
    * and hidden files excluded). */
  private def dataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .filter(Scan.isDataFile)
  }

  /** Compaction for a SHARD-PARTITIONED table with manifest sidecars
    * ([[graft.util.Scan]]'s layout): rewrites each `shard=N` directory's
    * accumulated small files (streaming appends land a file per batch)
    * back to one file per shard, sorted within the file by the meta's
    * sort column (the z-order curve position), and RECOMPUTES the stats +
    * bloom manifests from the rewritten files INSIDE THE SAME atomic
    * swap — data and manifests publish together, so a compacted table
    * can never strand a stale sidecar describing files that no longer
    * exist (the round-13 gap: `compact` alone silently invalidated the
    * x156/x159 sidecars). The configuration is the table's meta
    * ([[republish]]) — a compaction never changes what the manifests
    * cover, only which files they describe.
    *
    * Skips (returns unchanged counts) when no shard directory holds more
    * than one data file — idempotent-cheap on a schedule, like
    * [[compact]]. Returns (dataFilesBefore, dataFilesAfter).
    *
    * Scale shape: one shard-keyed exchange + the per-shard manifest
    * aggregates — all embarrassingly parallel per shard; the shard count
    * (not the file count) bounds every post-shuffle stage.
    */
  def compactSharded(spark: SparkSession, dir: String): (Int, Int) =
      Scan.withWriterLease(spark, dir) {
    graft.dw.Merge.recover(spark, dir)
    val meta = Scan.metaOf(spark, dir)
    Scan.recoverPendingDelete(spark, dir)
    // merge-on-read contract: compaction is where deferred deletes
    // become physical — apply the pending deletion vector (targeted:
    // only the shards it names) before looking at file counts
    Scan.applyDeletionVectors(spark, dir)
    val perShard = Scan.shardFileCounts(spark, dir).values
    val nBefore = perShard.sum
    if (!perShard.exists(_ > 1)) {
      // nothing to rewrite, but the manifests may still be LOOSE: an
      // append that created a brand-new single-file shard folds
      // `_stale_rows` without breaching any file count, and skipping
      // the refresh here would leave a staleness-triggered caller
      // (`maxStaleFraction` mounts) re-triggering a no-op compact on
      // every subsequent batch, forever
      if (Scan.manifestStaleness(spark, dir) > 0)
        Scan.refreshManifests(spark, dir)
      return (nBefore, nBefore)
    }
    // declared-schema read: a compaction after evolveAddColumn widens
    // every pre-evolution file for good (null-filled on read, written
    // wide), after which the declared schema and the files agree
    republish(spark, dir, Scan.readTable(spark, dir), meta)
    (nBefore, perShard.size)
      }

  /** Republish `df` as the whole table `dir` under `meta` in one atomic
    * swap: data + exact manifests + meta through [[Scan.writeSharded]]'s
    * protocol (meta first, append-mode data write), so a rewrite keeps
    * the crash-heal property it relies on. The table's dict sidecars
    * (frozen string-dim frames) are materialized off the old directory
    * before it is replaced, and republished with it. */
  private def republish(spark: SparkSession, dir: String, df: DataFrame,
      meta: Scan.TableMeta): Unit = {
    val dicts = Scan.readDicts(spark, dir).map { case (c, d) =>
      c -> d.persist()
    }
    dicts.values.foreach(_.count())
    try Scan.writeSharded(spark, df, dir, meta.statCols, meta.sortCol,
      meta.bloomKey, meta.bloomM, meta.bloomK, meta.zTotalBits,
      meta.nShards, dicts)
    finally dicts.values.foreach(_.unpersist())
  }

  /** TARGETED compaction — rewrite ONLY the shards whose data-file
    * count exceeds `maxFilesPerShard`, through the pending/`_COMMIT`
    * protocol ([[graft.util.Scan.rewriteShards]]): each breaching
    * shard's accumulated batch files become one file, its manifest rows
    * recompute exactly
    * and its staleness zeroes, and every OTHER shard's files and
    * manifest rows pass through untouched. This is the maintenance
    * economics a 100 TB table requires: [[compactSharded]]'s full
    * republish re-reads and re-writes the whole table to fix one hot
    * shard's small files — work ∝ table; the targeted form is work ∝
    * breaching shards, which is what a streaming mount's per-batch
    * check can afford to trigger routinely. Pending deletion vectors
    * on the breaching shards become physical in the same rewrite
    * (and only those — a full [[graft.util.Scan.applyDeletionVectors]]
    * stays the explicit verb).
    *
    * Returns (breaching shard ids, data files before across them).
    */
  def compactShardsTargeted(spark: SparkSession, dir: String,
      maxFilesPerShard: Int = 1): (Seq[Int], Int) =
      Scan.withWriterLease(spark, dir) {
    require(maxFilesPerShard >= 1, "need maxFilesPerShard >= 1")
    graft.dw.Merge.recover(spark, dir)
    Scan.recoverPendingDelete(spark, dir)
    val breaching =
      Scan.shardFileCounts(spark, dir).filter(_._2 > maxFilesPerShard)
    if (breaching.isEmpty) return (Nil, 0)
    val shards = breaching.keys.toSeq.sorted
    Scan.rewriteShards(spark, dir, shards)
    Scan.logEntry(spark, dir, "compact_targeted",
      s"shards=${shards.size} files_before=${breaching.values.sum}")
    (shards, breaching.values.sum)
      }

  /** SHARD-COUNT EVOLUTION — the re-layout a growing table eventually
    * needs: `nShards` is frozen at publication and appends preserve it,
    * so per-shard bytes grow without bound; this re-maps every row's
    * shard from its PERSISTED curve position (`zvalue * newNShards >>
    * z_total_bits` — the same interleave arithmetic the layout used, so
    * curve locality and the per-shard envelope tightness carry over)
    * and republishes data + rebuilt manifests + updated meta in ONE
    * atomic swap. Pruned reads are TRANSPARENT across the re-shard (the
    * manifests describe the new shards; candidates just enumerate
    * differently — spec-pinned in `CompactionSpec`).
    *
    * Requires the table's meta to carry `z_total_bits`
    * ([[graft.util.Scan.writeSharded]]'s `zTotalBits` — every layout
    * publisher in this repo passes it).
    *
    * Scale shape: one full-table shard-keyed exchange + the manifest
    * aggregates — the same cost as a compaction, run as rarely (when
    * per-shard bytes breach the target, typically after ~2× growth).
    */
  def reshardSharded(spark: SparkSession, dir: String,
      newNShards: Int): (Int, Int) =
      Scan.withWriterLease(spark, dir) {
    require(newNShards >= 1, "need newNShards >= 1")
    graft.dw.Merge.recover(spark, dir)
    Scan.recoverPendingDelete(spark, dir)
    // apply any pending deletion vector before re-laying out: the DV
    // names OLD shard numbers, which the re-shard is about to retire
    Scan.applyDeletionVectors(spark, dir)
    val meta = Scan.metaOf(spark, dir)
    val shift = meta.zTotalBits.getOrElse(sys.error(
      s"reshardSharded: $dir's meta lacks z_total_bits — the table " +
        "was not published from a z-order layout"))
    import org.apache.spark.sql.functions.{col, shiftright}
    republish(spark, dir, Scan.readTable(spark, dir).withColumn(Scan.ShardCol,
      shiftright(col("zvalue") * newNShards, shift).cast("int")),
      meta.copy(nShards = Some(newNShards)))
    (meta.nShards.getOrElse(-1), newNShards)
  }
}

