package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Mid-batch crash → replay: the delta chain's commits are ordered
  * (dims → fact swap → T_ODS last), so a rerun after a failure at ANY
  * commit boundary converges to exactly the no-crash result. This is the
  * failure mode a streaming foreachBatch retry hits: the checkpoint only
  * commits after foreachBatch returns, so a crashed batch is re-delivered
  * with SOME of its writes already durable.
  *
  * The pre-round-4 ordering (T_ODS appended before stage 4) had a
  * permanent hole here: once T_ODS absorbed the slice, the replay's delta
  * deduped to empty and dims/fact never healed.
  */
class ReplaySpec extends SparkSpec {

  private val ts = Timestamp.valueOf("2026-08-12 10:00:00")
  private val ts2 = Timestamp.valueOf("2026-08-13 10:00:00")

  private lazy val states = spark.read.option("header", "true")
    .csv(resource("us_states.csv"))

  /** Full-loaded warehouse + the delta file staged into STG, ready for
    * `warehouseStages`. Built once; every case gets its own copy.
    */
  private lazy val staged: Path = {
    val root = Files.createTempDirectory("wh-replay")
    val raw = s"$root/raw"
    Files.createDirectories(Paths.get(raw))
    Files.copy(Paths.get(resource("usgs_sample.csv")),
      Paths.get(raw, "whole_month_07.csv"), StandardCopyOption.REPLACE_EXISTING)
    val wh = Warehouse(s"$root/wh")
    FullLoad.run(spark, s"$raw/*.csv", states, wh, "job-full", ts)

    val src = Files.readAllLines(Paths.get(resource("usgs_sample.csv")))
    val header = src.get(0)
    val replay = src.get(1)
    val novel = "2024-08-02T09:30:00.000Z,48.0,7.8,12.0,4.2,ml,30,60,0.2,0.1," +
      "zz,ev_new,2024-08-02T10:00:00.000Z,\"13 km E of Freiburg, Germany\"," +
      "earthquake,0.8,3.0,0.1,12,reviewed,zz,zz"
    Files.write(Paths.get(raw, "all_day_20240802-120000.csv"),
      java.util.Arrays.asList(header, replay, novel))
    graft.ingest.Staging.run(spark, s"$raw/all_day_*.csv", wh.stg,
      s"${wh.rejected}/delta", "job-delta", ts2.toString)
    root
  }

  /** A fresh copy of the [[staged]] warehouse (every file, checksums
    * included, so the copy reads exactly as the original). */
  private def setup(): Warehouse = {
    val root = Files.createTempDirectory("wh-replay")
    val files = Files.walk(staged)
    try files.iterator().asScala.foreach { p =>
      val to = root.resolve(staged.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally files.close()
    Warehouse(s"$root/wh")
  }

  private def snapshot(wh: Warehouse): Map[String, Set[String]] =
    (Seq("fact" -> wh.fact, "ods" -> wh.ods, "tOds" -> wh.tOds) ++
      wh.dimNames.map(n => n -> wh.dim(n))).map { case (name, path) =>
      val df = spark.read.parquet(path)
      // row-level set compare, column order normalized; jobId/insertionTs are
      // injected constants so replay output is bit-identical to the control
      name -> df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).toSet
    }.toMap

  private def runStages(wh: Warehouse, failAt: Option[String] = None): Unit =
    DeltaLoad.warehouseStages(spark, states, wh, "job-delta", ts2,
      failpoint = fp => failAt.foreach { f =>
        if (fp == f) throw new RuntimeException(s"injected crash at $f")
      })

  /** The warehouse after one uncrashed run: what every replay must equal. */
  private lazy val controlWh: Warehouse = {
    val wh = setup()
    runStages(wh)
    wh
  }

  private lazy val control: Map[String, Set[String]] = snapshot(controlWh)

  test("crash at pre-fact-swap (dims durable, fact not): replay heals") {
    val wh = setup()
    val factBefore = spark.read.parquet(wh.fact).count()
    val tOdsBefore = spark.read.parquet(wh.tOds).count()
    val ex = intercept[RuntimeException](runStages(wh, Some("pre-fact-swap")))
    assert(ex.getMessage.contains("pre-fact-swap"))
    // commit-order invariants at the crash instant: dims already extended,
    // fact and T_ODS untouched
    assert(spark.read.parquet(wh.dim("T_DIM_Network"))
      .filter("LB_NetworkSymbol = 'zz'").count() === 1)
    assert(spark.read.parquet(wh.fact).count() === factBefore)
    assert(spark.read.parquet(wh.tOds).count() === tOdsBefore)
    runStages(wh)
    assert(snapshot(wh) === control)
  }

  test("crash at post-merge (fact durable, T_ODS not): replay heals") {
    val wh = setup()
    val factBefore = spark.read.parquet(wh.fact).count()
    val tOdsBefore = spark.read.parquet(wh.tOds).count()
    intercept[RuntimeException](runStages(wh, Some("post-merge")))
    // fact swapped (one novel event merged in), but the slice is NOT yet in
    // T_ODS — the replay still sees it (this ordering is the whole fix)
    assert(spark.read.parquet(wh.fact).count() === factBefore + 1)
    assert(spark.read.parquet(wh.tOds).count() === tOdsBefore)
    runStages(wh)
    assert(snapshot(wh) === control)
  }

  test("replay after clean completion is a no-op") {
    val wh = setup()
    runStages(wh)
    runStages(wh) // foreachBatch re-delivery of a fully-committed batch
    assert(snapshot(wh) === control)
  }

  // `snapshot` compares sets of rows, so a fact row appended twice would
  // still equal the control; this case counts rows and keys instead
  test("replay appends no fact row twice, and a stale pending fact dir is " +
    "overwritten, not committed") {
    val controlRows = spark.read.parquet(controlWh.fact).count()
    def assertNoDuplicates(wh: Warehouse, label: String): Unit = {
      val fact = spark.read.parquet(wh.fact)
      assert(fact.count() === controlRows, label)
      assert(fact.select("ID_Event").distinct().count() === controlRows, label)
    }
    Seq("pre-fact-swap", "post-merge").foreach { fp =>
      val wh = setup()
      intercept[RuntimeException](runStages(wh, Some(fp)))
      runStages(wh)
      assertNoDuplicates(wh, s"replay after a crash at $fp")
      assert(snapshot(wh) === control)
    }
    // a pending dir left by an earlier crashed run, holding a copy of every
    // fact row: committing it would duplicate the whole fact
    val wh = setup()
    spark.read.parquet(wh.fact).write.parquet(s"${wh.fact}__pending")
    runStages(wh)
    assertNoDuplicates(wh, "stale pending dir")
    assert(snapshot(wh) === control)
  }
}
