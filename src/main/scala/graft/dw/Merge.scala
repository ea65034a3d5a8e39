package graft.dw

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Upsert (MERGE) and append commits over plain parquet tables.
  *
  * Reference behavior: `Delta Load Scripts/dw2_delta_load2.py:101-131` —
  * BigQuery `MERGE ... WHEN MATCHED THEN UPDATE (all columns) WHEN NOT
  * MATCHED THEN INSERT ROW` keyed on `ID_Event`, fed from a transient
  * staging table (`:388-404`).
  *
  * The delta chain does not rewrite the fact through [[mergeInto]]: its
  * staged rows are already deduped against T_ODS, whose key set equals
  * the fact's, so the matched branch is reachable only on a replay after
  * a crash between the fact commit and the T_ODS commit. The chain
  * anti-joins the staged rows against the fact's keys, pre-writes the
  * rest to a pending dir and publishes it with [[commitAppend]] — a
  * blind append, with no rewrite of rows already in the table
  * ([[graft.pipeline.DeltaLoad.warehouseStages]]).
  *
  * [[mergeInto]] is the general MERGE for a staged batch that may update
  * existing keys: "keep existing rows whose key is absent from staged,
  * then append all staged rows" — one left-anti join plus a union,
  * shuffle-free when the staged side broadcasts, rewritten through the
  * [[atomicOverwrite]] swap. Atomicity comes from write-new-then-swap (or
  * per-file renames for an append); the single-writer assumption mirrors
  * the reference's `max_active_runs=1` (`load_controller_DAG.py:20`).
  */
object Merge {

  /** MERGE semantics as a DataFrame: staged replaces matched, inserts rest. */
  def upsert(existing: DataFrame, staged: DataFrame, key: String = "ID_Event"): DataFrame =
    existing.join(staged.select(col(key)), Seq(key), "left_anti")
      .unionByName(staged)

  /** Overwrite `path` with `df` atomically even when `df` reads from `path`:
    * materialize to a sibling tmp dir, then swap directories. The final
    * rename pair is metadata-only; a crash between them loses no data (both
    * dirs still exist under deterministic names).
    *
    * `preSwap` runs after the tmp write completes but BEFORE any rename —
    * a commit-order barrier: callers pass work that must be durable before
    * this table's new version becomes visible (e.g. the delta chain awaits
    * its dimension appends here, so a fact version never references dim ids
    * that were not yet written). If it throws, the target is untouched.
    */
  def atomicOverwrite(spark: SparkSession, df: DataFrame, path: String,
      preSwap: () => Unit = () => ()): Unit =
    atomicOverwriteDir(spark, path, preSwap) { tmp =>
      df.write.mode("overwrite").parquet(tmp)
    }

  /** [[atomicOverwrite]]'s general form: `write` produces the new table
    * version into the tmp directory it is handed (a partitioned write, a
    * data write plus sidecar manifests — anything), and the rename-pair
    * swap then publishes everything it wrote as one visible unit. Readers
    * of `path` never observe a partial version; a crash mid-`write` leaves
    * the target untouched. One recovery nuance for multi-write `write`
    * bodies: [[recover]] promotes a tmp dir once the FIRST parquet write's
    * `_SUCCESS` exists, so a crash between that write and a later sidecar
    * write can recover the data without its sidecars — sidecar consumers
    * must treat a missing sidecar as "recompute" (see
    * [[graft.util.Scan.refreshManifests]]), not as corruption.
    */
  def atomicOverwriteDir(spark: SparkSession, path: String,
      preSwap: () => Unit = () => ())(write: String => Unit): Unit = {
    recover(spark, path)
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__swap_new")
    val old = new Path(path + "__swap_old")
    fs.delete(tmp, true)
    fs.delete(old, true)
    write(tmp.toString)
    preSwap()
    if (fs.exists(target)) {
      require(fs.rename(target, old), s"rename $target -> $old failed")
    }
    require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
    fs.delete(old, true)
  }

  /** Crash recovery for the swap protocol: a kill between the two renames
    * leaves no `target` but a complete `__swap_new` (its write finished —
    * `_SUCCESS` present — before any rename started) and/or the previous
    * `__swap_old`. Restores target from the newest complete copy. Callers
    * that branch on the table's existence (e.g. the delta-vs-full decision)
    * MUST call this first, or a crash window would silently masquerade as
    * an empty warehouse.
    */
  def recover(spark: SparkSession, path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) return
    val tmp = new Path(path + "__swap_new")
    val old = new Path(path + "__swap_old")
    if (fs.exists(new Path(tmp, "_SUCCESS"))) {
      require(fs.rename(tmp, target), s"recovery rename $tmp -> $target failed")
      fs.delete(old, true)
    } else if (fs.exists(old)) {
      require(fs.rename(old, target), s"recovery rename $old -> $target failed")
      fs.delete(tmp, true)
    }
  }

  /** Commit a pre-written append: move `pendingDir`'s part files into the
    * table directory, then delete `pendingDir`. The heavy parquet write
    * happens earlier (and concurrently with other work) into `pendingDir`,
    * which is NOT visible to readers of `tablePath`; this call is the
    * commit, and it is metadata-only — per-file renames within one
    * filesystem.
    *
    * Replay semantics under a crash mid-commit: each part file moves
    * atomically, so every row is either visible in the table or still in
    * `pendingDir`, never both. A rerun recomputes its delta from source,
    * dedupes against the table (seeing exactly the moved rows), overwrites
    * `pendingDir` with the complement, and commits that — converging to the
    * no-crash state. Part-file names carry the write job's UUID, so moved
    * files cannot collide with the table's existing files.
    */
  def commitAppend(spark: SparkSession, pendingDir: String, tablePath: String): Unit = {
    val src = new Path(pendingDir)
    val dst = new Path(tablePath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dst), s"commitAppend target $dst does not exist")
    fs.listStatus(src).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("part-"))
        require(fs.rename(st.getPath, new Path(dst, name)),
          s"rename ${st.getPath} -> $dst/$name failed")
    }
    fs.delete(src, true)
  }

  /** Full MERGE stage: read table, upsert staged batch, swap. The staged
    * batch is cached for the write: [[upsert]] consumes it twice (anti-join
    * keys + union payload) and its lineage is typically a multi-join build.
    * `schema`, when given, is the table's declared schema: the read skips
    * the footer-inference job.
    */
  def mergeInto(spark: SparkSession, tablePath: String, staged: DataFrame,
      key: String = "ID_Event", preSwap: () => Unit = () => (),
      schema: Option[StructType] = None): Unit = {
    recover(spark, tablePath) // the read below must see a post-crash-complete table
    val existing = schema.fold(spark.read)(spark.read.schema).parquet(tablePath)
    val s = staged.persist()
    try atomicOverwrite(spark, upsert(existing, s, key), tablePath, preSwap)
    finally s.unpersist(blocking = false)
  }
}
