package graft.pipeline

import java.sql.Timestamp

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.archive.Archive
import graft.dw.{FactBuilder, Merge}
import graft.ingest.Staging
import graft.ods.{OdsTransform, PlaceParser}
import graft.schemas.Schemas
import graft.util.{Compaction, SparkFuture}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Warehouse layout: one parquet directory per layer table, mirroring the
  * reference's BigQuery datasets (STG_ds / ODS_ds / DW_ds, SURVEY §1.2).
  */
final case class Warehouse(root: String) {
  val stg: String = s"$root/stg/T_STG_day_earthquake"
  val ods: String = s"$root/ods/ods_day_earthquake"
  val tOds: String = s"$root/ods/T_ODS_day_earthquake"
  def dim(name: String): String = s"$root/dw/$name"
  val fact: String = s"$root/dw/T_FACT_Events"
  val rejected: String = s"$root/rejected"
  val archive: String = s"$root/archive"
  val runLog: String = s"$root/run_log"

  val dimNames: Seq[String] = FactBuilder.dimNames
}

/** Stage sequencing (SURVEY §3.2): the reference's five sequential Dataflow
  * jobs collapse to function calls over DataFrames in one SparkSession; each
  * layer is still written out to preserve the layered-warehouse contract
  * (and its restartability). `Controller.run` reproduces the Airflow
  * branch: filename prefix picks the full or delta chain
  * (`load_controller_DAG.py:186-188`).
  */
object Controller {

  def run(spark: SparkSession, rawPattern: String, states: DataFrame,
      wh: Warehouse, jobId: String, insertionTs: Timestamp): Unit = {
    val newest = Staging.latestFile(spark, rawPattern)
    if (Archive.isFullLoad(newest.split('/').last))
      FullLoad.run(spark, rawPattern, states, wh, jobId, insertionTs)
    else
      DeltaLoad.run(spark, rawPattern, states, wh, jobId, insertionTs)
  }

  private[pipeline] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Write a driver-held dimension's rows as one file: a local relation
    * would otherwise split into a file per core. */
  private[pipeline] def writeDim(spark: SparkSession, wh: Warehouse,
      name: String, rows: Seq[Row], mode: String): Unit =
    spark.createDataFrame(rows.asJava, Schemas.dim(name)).coalesce(1)
      .write.mode(mode).parquet(wh.dim(name))
}

/** The full-load chain: STG → ODS → place parse → DW truncate-reload →
  * archive (`load_controller_DAG.py:187`).
  */
object FullLoad {

  import Controller.writeDim

  def run(spark: SparkSession, rawPattern: String, states: DataFrame,
      wh: Warehouse, jobId: String, insertionTs: Timestamp): Unit = {
    // stage 1 — RAW → STG (truncate) + rejected side channel; A5 counters
    // land in the run log
    val stgMetrics = Staging.run(spark, rawPattern, wh.stg,
      s"${wh.rejected}/${insertionTs.getTime}", jobId, insertionTs.toString)

    // stages 2–4 — ODS, T_ODS, six dims and the fact are all derived from
    // the just-written STG through IN-MEMORY state: ODS and T_ODS are
    // persisted frames (parquet round-trips are value-exact for these
    // types, so the written layer and the frame passed forward are
    // identical by construction), the dims are driver-held rows. Their
    // table writes are submitted as concurrent jobs: every write is to its
    // own path, dependencies flow through the caches (block-level locking
    // makes concurrent first materialization compute-once), and the chain's
    // wall time drops from the sum of sequential write barriers to roughly
    // its longest dependency path. Restartability is unchanged — every
    // layer is still on disk when run() returns.
    val ods = OdsTransform.toOds(spark.read.schema(Schemas.stg).parquet(wh.stg),
      insertionTs).persist()
    val tOds = PlaceParser.parsePlaces(ods, states, insertionTs).persist()
    try {
      implicit val ec: ExecutionContext = ExecutionContext.global
      val layers = Seq(
        // the staging metrics record is a metadata-sized append with no
        // reader in this chain — it overlaps the layer writes instead of
        // serializing between stage 1 and stage 2
        SparkFuture(spark)(RunLog.append(spark, wh.runLog, jobId, "staging",
          stgMetrics.counters, insertionTs)),
        SparkFuture(spark)(ods.write.mode("overwrite").parquet(wh.ods)),
        SparkFuture(spark)(tOds.write.mode("overwrite").parquet(wh.tOds)))
      // stage 4 — the star build the delta also runs, over the whole T_ODS
      // from empty dims (its one aggregate overlaps the writes above):
      // every value is new, so each dim is numbered from 1 and its rows are
      // the whole table
      val star = FactBuilder.star(tOds, _ => Nil, jobId, insertionTs)
      // A5 — the fact's row count rides its write via observe
      val obsFact = Observation()
      Await.result(Future.sequence(layers ++
        (SparkFuture(spark)(star.fact.observe(obsFact, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(wh.fact)) +:
        star.fresh.map { case (name, rows) =>
          SparkFuture(spark)(writeDim(spark, wh, name, rows, "overwrite"))
        })), Duration.Inf)
      RunLog.append(spark, wh.runLog, jobId, "full_load", Map(
        "rows_tods_written" -> star.rows,
        "rows_fact_written" -> obsFact.get("n").asInstanceOf[Long]),
        insertionTs)
    } finally {
      tOds.unpersist(blocking = false)
      ods.unpersist(blocking = false)
    }

    // stage 5 — archive processed raw files
    Archive.archiveMatching(spark, rawPattern, wh.archive)
  }
}

/** The delta chain: STG truncate → ODS append (key dedup) → T_ODS append
  * (key dedup) → dim extension + fact append → archive
  * (`load_controller_DAG.py:188`; stages per `Delta Load Scripts`).
  * A delta into an empty warehouse degenerates to a full load.
  */
object DeltaLoad {

  import Controller.{exists, writeDim}

  def run(spark: SparkSession, rawPattern: String, states: DataFrame,
      wh: Warehouse, jobId: String, insertionTs: Timestamp): Unit = {
    // a crash mid-compaction-swap must not masquerade as an empty warehouse —
    // that would silently rebuild from only the newest landing file
    Merge.recover(spark, wh.fact)
    if (!exists(spark, wh.fact)) {
      FullLoad.run(spark, rawPattern, states, wh, jobId, insertionTs)
      return
    }

    // stage 1 — RAW → STG (staging truncates on delta too, stg_delta_load.py:133)
    val stgMetrics = Staging.run(spark, rawPattern, wh.stg,
      s"${wh.rejected}/${insertionTs.getTime}", jobId, insertionTs.toString)
    // metadata-sized metrics append with no reader in this chain: overlap
    // the warehouse stages, but REQUIRE it durable before warehouseStages'
    // own closing 'delta_load' append — two concurrent parquet appends to
    // the same run-log directory share (and delete on commit) the same
    // <path>/_temporary, so an overlap could lose rows or fail the run
    // after the warehouse tables committed. The preRunLog barrier keeps the
    // overlap with the heavy stages and closes only the append-vs-append
    // window (FullLoad gets the same ordering from its Future.sequence).
    implicit val ec: ExecutionContext = ExecutionContext.global
    val stgLog = SparkFuture(spark)(RunLog.append(spark, wh.runLog, jobId, "staging",
      stgMetrics.counters, insertionTs))

    warehouseStages(spark, states, wh, jobId, insertionTs,
      preRunLog = () => Await.result(stgLog, Duration.Inf))
    Await.result(stgLog, Duration.Inf)

    // stage 5 — archive
    Archive.archiveMatching(spark, rawPattern, wh.archive)
  }

  /** Delta stages 2–4 (ODS/T_ODS appends, dim extension, fact append),
    * reading the already-truncate-written STG layer. Shared verbatim by the
    * batch chain above and the streaming per-micro-batch delta
    * ([[graft.streaming.DeltaStream.startDeltaLoad]]), so both paths have
    * identical warehouse semantics by construction.
    *
    * Scale shape: every stage-4 build (six dim extensions, the staged fact)
    * reads the cached DELTA SLICE — the place-parsed rows this batch
    * actually appends — never a re-scan of the whole T_ODS. Dim values and
    * dates present only in older rows are already in the dimension tables
    * by induction: the full load runs the same [[FactBuilder.star]] over the
    * whole table from empty dims, and every delta runs it over its slice
    * from the dims as they stand. So extending from the slice yields the
    * same new rows the full re-scan would, at delta cost instead of table
    * cost. The fact is APPENDED to, not rewritten: the reference's MERGE on
    * `ID_Event` (`dw2_delta_load2.py:101-131`) updates matched keys and
    * inserts the rest, but the slice is already deduped against T_ODS,
    * whose key set equals the fact's (the full load writes the fact from
    * T_ODS; every delta appends the same slice to both). So outside a
    * replay no staged key is in the fact, and the batch writes only its
    * own rows — a cost that grows with the delta, not with the history
    * (Delta Lake's blind-append commit, Iceberg's fast append). Each append
    * adds files; [[Compaction.compactIfFragmented]] rewrites the fact once
    * their open cost outweighs a split. An empty delta (every landed event
    * already warehoused) appends to no dim and skips the fact outright.
    *
    * Job shape: a 100-event delta is dominated by per-job cost, not data,
    * so no job here exists only to answer a small question. Every table is
    * read with its declared schema (no footer-inference job per read); one
    * aggregate over the slice yields its row count and every dimension's
    * distinct value tuples; each existing dimension is collected once (the
    * broadcast joins would pull it whole to the driver anyway) and extended
    * there ([[FactBuilder.star]]); an extension with no new values appends
    * nothing.
    *
    * Replay safety (crash / streaming foreachBatch retry): the batch's
    * commits are ORDERED — dim appends, then the fact commit (a visible
    * fact never references unwritten dim ids), then the T_ODS commit LAST.
    * The fact's and T_ODS's parquet bytes are pre-written to invisible
    * pending dirs during stage 4; each commit is a metadata-only rename
    * ([[Merge.commitAppend]]).
    * Because the delta slice is derived from T_ODS, a rerun after a crash
    * anywhere before that final commit recomputes the SAME slice (T_ODS
    * unchanged) and re-runs stage 4 idempotently: dim extension finds
    * already-appended values (their committed surrogate ids are reused,
    * max-key continuation is stable), the fact append anti-joins the
    * staged rows against the fact's keys — the one place MERGE's matched
    * branch is reachable: after a crash at `post-merge` the fact already
    * holds the slice, the staged rows are identical, and nothing is
    * appended twice — and only then does T_ODS absorb the slice. A stale
    * pending dir from a crashed run is overwritten, never committed. A
    * crash after the T_ODS commit means everything else already committed
    * — the rerun's slice is empty and the batch is a no-op; a crash inside
    * the fact compaction that follows it is healed by [[Merge.recover]].
    * The ODS append is independently idempotent (key-deduped against its
    * own table) and free to overlap.
    * `failpoint` is a test hook injecting crashes at the commit boundaries;
    * production callers leave the default no-op.
    */
  /** `preRunLog` runs immediately before this batch's closing RunLog
    * append — the batch caller parks its concurrent 'staging' log append
    * behind it so two appends never target the run-log dir at once.
    */
  def warehouseStages(spark: SparkSession, states: DataFrame, wh: Warehouse,
      jobId: String, insertionTs: Timestamp,
      failpoint: String => Unit = _ => (),
      preRunLog: () => Unit = () => ()): Unit = {
    // The fresh ODS frame feeds both appends and is cached. The T_ODS-shaped
    // delta slice (parsed + key-deduped against the table) feeds every
    // stage-4 build AND the final T_ODS append. Its dedup side is the T_ODS
    // key set, snapshotted with an EAGER localCheckpoint up front:
    // appending to wh.tOds makes Spark recache-by-path every cached plan
    // whose scan is under that path with a fresh file listing, so a slice
    // that read T_ODS directly would re-dedupe against its own append if
    // any of its cached blocks were evicted before the append job ran.
    // Checkpointing the narrow ID list freezes the pre-append view at a
    // fraction of the cost of checkpointing the slice itself.
    val freshOds = OdsTransform.toOds(spark.read.schema(Schemas.stg).parquet(wh.stg),
      insertionTs).dropDuplicates("ID_Event").persist()
    val tOdsIds = spark.read.schema(Schemas.tOds).parquet(wh.tOds).select("ID_Event")
      .localCheckpoint()
    val delta = OdsTransform.dedupeAgainstExisting(
        PlaceParser.parsePlaces(freshOds, states, insertionTs), tOdsIds)
      .persist()
    implicit val ec: ExecutionContext = ExecutionContext.global
    // stage 2 — the ODS append touches only its own table and is key-deduped
    // against it, so it is replay-safe in isolation: run it in the
    // background, overlapping all of stage 4. A5 — the appended-row count
    // rides the write via observe.
    val obsOds = Observation()
    val odsAppend = SparkFuture(spark) {
      OdsTransform.dedupeAgainstExisting(freshOds,
          spark.read.schema(Schemas.ods).parquet(wh.ods).select("ID_Event"))
        .observe(obsOds, count(lit(1)).as("n"))
        .write.mode("append").parquet(wh.ods)
    }
    // every background write this batch started; the finally drains them all
    // so a stage-4 failure can't leave a zombie job racing a same-JVM retry
    val background = scala.collection.mutable.ArrayBuffer[Future[Unit]](odsAppend)
    try {
      // stage 4 — incremental dims (max-key continuation) + fact append,
      // all from the delta slice. Each existing dim is collected once
      // (concurrent jobs, overlapping the slice's aggregate) and extended on
      // the driver by FactBuilder.star; its fact joins local relations of
      // existing ∪ new rows — content-identical to the post-append tables,
      // and free of any scan of the dim paths, so the appends below cannot
      // race a reader of those paths.
      val existing = wh.dimNames.map(name => name -> SparkFuture(spark)(
        spark.read.schema(Schemas.dim(name)).parquet(wh.dim(name)).collect().toSeq)).toMap
      val star = FactBuilder.star(delta, name => Await.result(existing(name), Duration.Inf),
        jobId, insertionTs)
      if (star.rows > 0) {
        // Pre-write the T_ODS slice to a pending dir CONCURRENTLY with the
        // fact write; the pending dir is invisible to T_ODS readers, so
        // replay ordering is preserved while the write overlaps the fact
        // build instead of serializing after it. Only the metadata-only
        // rename below (Merge.commitAppend) is the post-merge commit.
        val pendingTOds = s"${wh.tOds}__pending"
        val tOdsStage = SparkFuture(spark) {
          delta.write.mode("overwrite").parquet(pendingTOds)
        }
        background += tOdsStage
        // fact — a keyed append, pre-written to a pending dir while the dim
        // appends run. The slice is already deduped against T_ODS, whose key
        // set equals the fact's, so the anti-join against the fact's key
        // column drops rows only on a replay after a crash at post-merge.
        Merge.recover(spark, wh.fact)
        val pendingFact = s"${wh.fact}__pending"
        val factFiles = Compaction.appendFiles(spark, wh.fact, star.rows)
        val obsFact = Observation()
        val factStage = SparkFuture(spark) {
          OdsTransform.dedupeAgainstExisting(star.fact,
              spark.read.schema(Schemas.factEvents).parquet(wh.fact))
            .coalesce(factFiles).observe(obsFact, count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(pendingFact)
        }
        background += factStage
        // barrier: append each dim's new rows (a dim with none appends
        // nothing) and require them + the ODS append durable before the
        // fact commit
        val appends = star.fresh.collect { case (name, rows) if rows.nonEmpty =>
          SparkFuture(spark)(writeDim(spark, wh, name, rows, "append"))
        }
        background ++= appends
        Await.result(Future.sequence(odsAppend +: appends), Duration.Inf)
        failpoint("pre-fact-swap") // dims committed, fact not yet visible
        Await.result(factStage, Duration.Inf)
        if (obsFact.get("n").asInstanceOf[Long] > 0)
          Merge.commitAppend(spark, pendingFact, wh.fact)
        else {
          val p = new Path(pendingFact)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        }
        failpoint("post-merge") // fact visible, T_ODS commit not yet run
        // stage 3 — T_ODS absorbs the slice LAST: this is the commit that
        // makes the batch invisible to a replay, so everything the slice
        // feeds must already be durable. The parquet bytes were written to
        // the pending dir during stage 4; only the rename happens here.
        Await.result(tOdsStage, Duration.Inf)
        Merge.commitAppend(spark, pendingTOds, wh.tOds)
        // every append adds files to the fact; the size rule rewrites it
        // through the swap once their open cost outweighs a split. A kill
        // between the swap's renames is healed by the next run's recover.
        Compaction.compactIfFragmented(spark, wh.fact)
      }
      Await.result(odsAppend, Duration.Inf)
      preRunLog()
      // A5 — every write is durable; persist the run record (T_ODS
      // absorbed the whole slice)
      RunLog.append(spark, wh.runLog, jobId, "delta_load", Map(
        "rows_ods_appended" -> obsOds.get("n").asInstanceOf[Long],
        "rows_tods_appended" -> star.rows), insertionTs)
    } finally {
      // if stage 4 threw, the background writes (ODS append, pending T_ODS
      // slice) may still be running: unpersisting their source frames under
      // them — or letting a same-JVM foreachBatch retry race their commits
      // against the retry's dedup reads / pending-dir overwrite — could
      // duplicate rows. Drain them first; their own failures are secondary
      // to any in-flight primary exception.
      background.foreach { f =>
        try Await.ready(f, Duration.Inf) catch { case _: Throwable => () }
      }
      delta.unpersist(blocking = false)
      freshOds.unpersist(blocking = false)
    }
  }
}
