package graft.ingest

import graft.schemas.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RAW CSV → STG layer.
  *
  * Reference behavior: `Full Load Scripts/stg_full_load.py` /
  * `Delta Load Scripts/stg_delta_load.py` — read the newest matching CSV,
  * parse lines against the 22-column USGS schema (padding short rows),
  * normalize `'' | '0'` to NULL, route DQ-failing earthquakes to a rejected
  * side channel as raw lines, stamp audit columns, cast everything to string,
  * truncate-write staging.
  *
  * Spark-first shape: one scan, column expressions end-to-end (all
  * whole-stage-codegen), the accepted/rejected/error channels are three
  * filters over one cached frame (replacing Beam's tagged outputs), and the
  * original line is carried through `from_csv` so the reject channel writes
  * the *raw* line like the reference does (`stg_full_load.py:92,139-146`).
  */
object Staging {

  /** Column holding the untouched input line (reject channel payload). */
  val RawLineCol = "original_csv_line"

  /** S2 — resolve a glob to the single newest file by modification time
    * (`stg_full_load.py:37-46`). Driver-side metadata op, O(#files).
    */
  def latestFile(spark: SparkSession, pattern: String): String = {
    val path = new Path(pattern)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = fs.globStatus(path)
    require(matches != null && matches.nonEmpty, s"No file matched: $pattern")
    matches.maxBy(_.getModificationTime).getPath.toString
  }

  /** S1 + P1 — read CSV lines, skip the header, parse against the fixed
    * 22-column schema. Short rows are padded with NULL (PERMISSIVE mode —
    * reference pads with `''` then null-normalizes, same end state). Values
    * are trimmed (`stg_full_load.py:65`). The raw line is kept alongside the
    * parsed columns for the reject channel.
    */
  def readRawCsv(spark: SparkSession, path: String): DataFrame =
    parseRawLines(spark.read.text(path))

  /** The line-level parse as a pure transform over a `value: string` frame —
    * shared verbatim by the batch reader above and the Structured Streaming
    * delta source ([[graft.streaming.DeltaStream]]), so both paths have
    * identical parse semantics by construction.
    */
  def parseRawLines(lines: DataFrame): DataFrame = {
    val headerLine = Schemas.rawColumns.mkString(",")
    val parsed = lines
      .filter(trim(col("value")) =!= headerLine) // header skip, multi-file safe
      .filter(length(trim(col("value"))) > 0)
      .withColumn("_r", from_csv(col("value"), Schemas.raw, Map.empty[String, String]))
    val cols = Schemas.rawColumns.map(c => trim(col(s"_r.$c")).as(c))
    parsed.select(cols :+ col("value").as(RawLineCol): _*)
  }

  /** P2 — `'' | '0' → NULL` for every column (`stg_full_load.py:78-83`).
    * Deliberately lossy (a literal magnitude `0` becomes NULL) — observable
    * reference behavior, preserved.
    */
  def normalizeNulls(df: DataFrame, columns: Seq[String] = Schemas.rawColumns): DataFrame = {
    val exprs = df.columns.map { c =>
      if (columns.contains(c))
        when(trim(col(c)).isin("", "0"), lit(null)).otherwise(trim(col(c))).as(c)
      else col(c)
    }
    df.select(exprs.toIndexedSeq: _*)
  }

  /** Three-way DQ split (P3). */
  final case class DqResult(accepted: DataFrame, rejected: DataFrame, errors: DataFrame)

  // try_cast: Spark 4 runs ANSI mode by default, where a bad cast throws;
  // the reference's float() swallows errors, so the lenient cast is explicit.
  private def num(c: String): Column = coalesce(col(c).try_cast("double"), lit(0.0))

  /** DQ predicate — `stg_full_load.py:91`: earthquakes with
    * `depth < 1 OR magError > 0.5 OR depthError > 30 OR mag < 1` are rejected;
    * non-earthquake types pass regardless (type-gated). NULL numerics count
    * as 0 (`float(row.get(...) or 0)`).
    */
  def dqReject: Column =
    coalesce(col("type"), lit("")) === "earthquake" &&
      (num("depth") < 1 || num("magError") > 0.5 || num("depthError") > 30 || num("mag") < 1)

  /** Unparseable numeric: reference rows throwing in `float()` are swallowed
    * and dropped (`stg_full_load.py:106-107`); here they are an explicit,
    * countable channel.
    */
  def parseError: Column =
    Seq("depth", "magError", "depthError", "mag")
      .map(c => col(c).isNotNull && col(c).try_cast("double").isNull)
      .reduce(_ || _)

  def dqSplit(df: DataFrame): DqResult = {
    val flagged = df
      .withColumn("_err", parseError)
      .withColumn("_rej", dqReject)
    DqResult(
      accepted = flagged.filter(!col("_err") && !col("_rej")).drop("_err", "_rej"),
      rejected = flagged.filter(!col("_err") && col("_rej")).drop("_err", "_rej"),
      errors = flagged.filter(col("_err")).drop("_err", "_rej"))
  }

  /** P4 + P5 — audit columns (`stg_full_load.py:95-100`) then cast-all-to-
    * string (`:103`; trivially identity here, kept explicit for the layer
    * contract).
    */
  def finalizeStg(accepted: DataFrame, jobId: String, dataSource: String,
      insertionTs: String): DataFrame = {
    val withAudit = accepted
      .drop(RawLineCol)
      .withColumn("insertion_date", lit(insertionTs))
      .withColumn("updated_date", lit(null).cast("string"))
      .withColumn("job_execution_id", lit(jobId))
      .withColumn("data_source", lit(dataSource))
    withAudit.select(withAudit.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
  }

  /** Full staging stage: newest file → parse → normalize → split → write.
    * K1 (truncate-write staging) + K4 (rejected raw lines, single shard like
    * the reference's `shard_name_template=''`).
    *
    * A5 — the reference's `rows_in`/`rows_filtered`/`rows_written` Beam
    * counters (`ods_delta_load2.py:53,142-150`) map to `df.observe`
    * metrics: collected as a side effect of the writes that run anyway, no
    * extra job. Retrieve via [[RunMetrics.counters]].
    */
  final case class RunMetrics(split: DqResult, counters: Map[String, Long])

  def run(spark: SparkSession, rawPattern: String, stgPath: String,
      rejectedPath: String, jobId: String, insertionTs: String): RunMetrics = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import graft.util.SparkFuture
    import org.apache.spark.sql.{Encoders, Observation}
    val file = latestFile(spark, rawPattern)
    val fileName = file.split('/').last
    // a landing CSV is ONE file, and one file under maxPartitionBytes is one
    // scan partition — the parse, DQ split and staging write would all run
    // on a single core (and the staging parquet would come out single-file,
    // serializing every downstream layer too). Text is line-splittable, so
    // ask the Hadoop reader for core-count splits up front: the same
    // parallelism a repartition shuffle would buy, without shuffling the
    // raw bytes at all.
    val lines = spark.createDataset(spark.sparkContext.textFile(
      file, spark.sparkContext.defaultParallelism))(Encoders.STRING)
      .toDF("value")
    val parsed = normalizeNulls(parseRawLines(lines)).persist()
    try {
      val split = dqSplit(parsed)
      val obsW = Observation()
      val obsR = Observation()
      // the two channel writes share only the cached parse — concurrent jobs
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence(Seq(
        SparkFuture(spark) {
          finalizeStg(split.accepted, jobId, fileName, insertionTs)
            .observe(obsW, count(lit(1)).as("rows_written"))
            .write.mode("overwrite").parquet(stgPath)
        },
        SparkFuture(spark) {
          // repartition(1), not coalesce(1): coalesce would collapse the
          // whole filter stage to one task; this filters wide and shuffles
          // only the handful of rejected lines to the single writer
          split.rejected.select(RawLineCol)
            .observe(obsR, count(lit(1)).as("rows_filtered"))
            .repartition(1)
            .write.mode("overwrite").text(rejectedPath)
        })), Duration.Inf)
      val written = obsW.get("rows_written").asInstanceOf[Long]
      val filtered = obsR.get("rows_filtered").asInstanceOf[Long]
      RunMetrics(split, Map(
        "rows_written" -> written,
        "rows_filtered" -> filtered))
      // returned frames recompute from source if re-used; the cache only
      // spans the two writes above
    } finally parsed.unpersist()
  }
}
