package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import graft.analytics.Measures
import graft.pipeline.{Controller, Warehouse => Wh}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The earthquake warehouse as the benchmark drives it: generated files
  * land one at a time in the landing directory that `Controller.run`
  * loads; the dashboard reads the star schema through `Measures`. The
  * expected results come from the generator.
  */
final class WarehouseClient(spark: SparkSession, run: Run, root: Path, statesCsv: Path) {

  val wh: Wh = Wh(root.resolve("wh").toString)
  private val landing = root.resolve("landing")
  Files.createDirectories(landing)
  val states: DataFrame = spark.read.option("header", "true").csv(statesCsv.toString).cache()

  private var batchLoads = 0
  /** The truth the warehouse should hold after the files loaded so far. */
  private var expected: Usgs.File = _
  private var latestStamp: Option[Timestamp] = None

  private def stamp(i: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(2025, 1, 1, 0, 0).plusMinutes(i.toLong))

  private def land(file: Usgs.File): Unit = {
    val name = file.path.getFileName.toString
    val tmp = root.resolve(s".$name.tmp")
    Files.copy(file.path, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def loaded(file: Usgs.File, ts: Timestamp): Unit = {
    Trace.count("dw.fact.rows_added", file.added.toDouble)
    expected = file
    if (file.added > 0 && latestStamp.forall(_.before(ts))) latestStamp = Some(ts)
  }

  /** Land one file and load it through `Controller.run` (full or delta by name). */
  def loadBatch(file: Usgs.File): Unit = {
    batchLoads += 1
    val ts = stamp(batchLoads)
    land(file)
    Controller.run(spark, s"$landing/*.csv", states, wh, s"job-$batchLoads", ts)
    loaded(file, ts)
  }

  private def fact: DataFrame = spark.read.parquet(wh.fact)
  private def typeDim: DataFrame = spark.read.parquet(wh.dim("T_DIM_Seismic_Activity_Type"))

  /** One dashboard refresh — every `Measures` call — timed as one query,
    * each result checked against the generator's truth.
    */
  def dashboard(): Unit =
    run.op("query") {
      def call[A](body: => A): A = Trace.span("query.dashboard")(body)
      (call(Measures.latestDailyUpdate(fact).collect()),
        call(Measures.earthquakeStats(fact, typeDim).collect()),
        call(Measures.totalsByType(fact, typeDim).collect()),
        call(Measures.totalSeismicEvents(fact).collect()))
    }.foreach { case (latest, stats, byType, total) =>
      val got = Option(latest.head.getTimestamp(0))
      run.check("latestDailyUpdate", got == latestStamp, s"got $got want $latestStamp")
      run.check("earthquakeStats", !stats.head.isNullAt(0), "avg magnitude is null")
      val types = byType.map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = expected.typeCounts.filter(_._2 > 0)
      run.check("totalsByType", types == want, s"got $types want $want")
      val rows = total.head.getLong(0)
      run.check("factRows", rows == expected.distinct, s"got $rows want ${expected.distinct}")
    }

  /** Every dimension's surrogate key, and its natural key, is unique. */
  def checkDims(): Unit = wh.dimNames.foreach { name =>
    val d = spark.read.parquet(wh.dim(name))
    val idCol = d.columns.find(_.startsWith("ID_")).get
    val n = d.count()
    val ids = d.select(idCol).distinct().count()
    val natural = d.drop(idCol).distinct().count()
    run.check(s"dimKeys:$name", n == ids && n == natural,
      s"rows $n distinct ids $ids distinct values $natural")
  }

  /** Bytes of the published warehouse tables (landing and archive excluded). */
  def publishedBytes: Long =
    (Seq(wh.stg, wh.ods, wh.tOds, wh.fact, wh.rejected, wh.runLog) ++ wh.dimNames.map(wh.dim))
      .map(p => Files2.bytes(Path.of(p))).sum

  def factFiles: Long = Files2.dataFiles(Path.of(wh.fact))
  def factBytes: Long = Files2.bytes(Path.of(wh.fact))
  def factRows: Long = if (expected == null) 0L else expected.distinct
}
