package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.archive.Archive
import graft.dw.{DateDim, DimBuilder}
import graft.schemas.Schemas
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.StructType

/** Golden end-to-end pipeline test (SURVEY §5.4): full load on the USGS
  * fixture, then a delta on top, asserting layer contents, surrogate-key
  * continuation, MERGE idempotency, and archival.
  */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private val ts = Timestamp.valueOf("2026-08-12 10:00:00")
  private val ts2 = Timestamp.valueOf("2026-08-13 10:00:00")

  private lazy val states = spark.read.option("header", "true")
    .csv(resource("us_states.csv"))

  private def setup(): (String, Warehouse) = {
    val root = Files.createTempDirectory("wh").toString
    val raw = s"$root/raw"
    Files.createDirectories(Paths.get(raw))
    Files.copy(Paths.get(resource("usgs_sample.csv")),
      Paths.get(raw, "whole_month_07.csv"), StandardCopyOption.REPLACE_EXISTING)
    (raw, Warehouse(s"$root/wh"))
  }

  test("Archive: partition extraction and load routing") {
    assert(Archive.datePartition("whole_month_07.csv") === "07")
    assert(Archive.datePartition("whole_month_202407.csv") === "202407")
    assert(Archive.datePartition("all_day_20260812-013000.csv") === "20260812")
    assert(Archive.datePartition("misc.csv") === "unpartitioned")
    assert(Archive.isFullLoad("whole_month_07.csv"))
    assert(!Archive.isFullLoad("all_day_20260812-013000.csv"))
  }

  test("Staging.run: observe counters match channel counts") {
    val (raw, wh) = setup()
    val m = graft.ingest.Staging.run(spark, s"$raw/*.csv", wh.stg,
      s"${wh.rejected}/t", "job-m", ts.toString)
    assert(m.counters("rows_written") === spark.read.parquet(wh.stg).count())
    assert(m.counters("rows_filtered") === m.split.rejected.count())
    assert(m.counters("rows_written") > 0 && m.counters("rows_filtered") > 0)
  }

  test("full load then delta: layers, keys, merge, archive") {
    val (raw, wh) = setup()

    // ── full load via the controller's filename routing ──
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-full", ts)

    val stg = spark.read.parquet(wh.stg)
    val tOds = spark.read.parquet(wh.tOds)
    val fact = spark.read.parquet(wh.fact)
    val nFull = fact.count()
    assert(stg.count() === tOds.count())
    assert(nFull === stg.count())
    assert(stg.count() > 0)

    // DQ: fixture's reject-trigger rows must be absent from staging
    val ids = stg.select("id").as[String].collect().toSet
    assert(!ids.contains("ev_shallow") && !ids.contains("ev_magerr")
      && !ids.contains("ev_deptherr"))
    assert(ids.contains("ev_clean"))

    // place parse: US state resolved through the lookup
    val anch = tOds.filter($"LB_place".contains("Anchorage"))
    if (anch.count() > 0) {
      val r = anch.select("LB_Region", "LB_Country").head()
      assert(r.getString(0) === "Alaska" && r.getString(1) === "USA")
    }

    // star schema: every fact FK resolves (dims built from same ODS)
    assert(fact.filter($"ID_Network_ID".isNull).count() === 0)
    assert(fact.filter($"ID_date_ID".isNull).count() === 0)
    val netDim = spark.read.parquet(wh.dim("T_DIM_Network"))
    val maxNetId = netDim.agg(max("ID_Network_ID")).head().getLong(0)
    assert(netDim.count() === maxNetId) // dense 1..n

    // archive: raw file moved into the month partition
    assert(!Files.exists(Paths.get(raw, "whole_month_07.csv")))
    assert(Files.exists(Paths.get(s"${wh.archive}/07/whole_month_07.csv")))

    // ── delta: one replayed event (dedup/merge) + one new net/date ──
    val header = Files.readAllLines(Paths.get(resource("usgs_sample.csv"))).get(0)
    val replay = Files.readAllLines(Paths.get(resource("usgs_sample.csv"))).get(1)
    val novel = "2024-08-02T09:30:00.000Z,48.0,7.8,12.0,4.2,ml,30,60,0.2,0.1," +
      "zz,ev_new,2024-08-02T10:00:00.000Z,\"13 km E of Freiburg, Germany\"," +
      "earthquake,0.8,3.0,0.1,12,reviewed,zz,zz"
    Files.write(Paths.get(raw, "all_day_20240802-120000.csv"),
      java.util.Arrays.asList(header, replay, novel))

    Controller.run(spark, s"$raw/*.csv", states, wh, "job-delta", ts2)

    val fact2 = spark.read.parquet(wh.fact)
    assert(fact2.count() === nFull + 1) // replayed row merged, new row added

    // surrogate continuation: new network got max+1, existing kept their ids
    val netDim2 = spark.read.parquet(wh.dim("T_DIM_Network"))
    val zzId = netDim2.filter($"LB_NetworkSymbol" === "zz")
      .select("ID_Network_ID").head().getLong(0)
    assert(zzId === maxNetId + 1)
    // existing rows unchanged (set compare — SQL join would drop the
    // NULL-symbol row since NULL never equals NULL)
    val asSet = (df: org.apache.spark.sql.DataFrame) => df
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(asSet(netDim2.filter($"ID_Network_ID" <= maxNetId)) === asSet(netDim))

    // date dim: intrinsic yyyymmdd key appended for the new date
    val dates = spark.read.parquet(wh.dim("T_DIM_date"))
    assert(dates.filter($"ID_date_ID" === 20240802).count() === 1)

    // replaying the same delta file is a no-op (idempotency)
    Files.write(Paths.get(raw, "all_day_20240803-120000.csv"),
      java.util.Arrays.asList(header, replay, novel))
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-delta2", ts2)
    assert(spark.read.parquet(wh.fact).count() === nFull + 1)
    assert(spark.read.parquet(wh.dim("T_DIM_Network")).count() === netDim2.count())
  }

  test("A5 run log: persisted per-stage counters equal the table deltas") {
    val (raw, wh) = setup()
    def metric(job: String, stage: String, m: String): Long =
      spark.read.parquet(wh.runLog)
        .filter($"job_execution_id" === job && $"stage" === stage
          && $"metric" === m)
        .select("value").head().getLong(0)

    Controller.run(spark, s"$raw/*.csv", states, wh, "job-full", ts)
    assert(metric("job-full", "staging", "rows_written")
      === spark.read.parquet(wh.stg).count())
    assert(metric("job-full", "staging", "rows_filtered") > 0)
    assert(metric("job-full", "full_load", "rows_tods_written")
      === spark.read.parquet(wh.tOds).count())
    assert(metric("job-full", "full_load", "rows_fact_written")
      === spark.read.parquet(wh.fact).count())

    // delta: one replayed + one novel event (same fixture as the e2e test)
    val lines = Files.readAllLines(Paths.get(resource("usgs_sample.csv")))
    val novel = "2024-08-02T09:30:00.000Z,48.0,7.8,12.0,4.2,ml,30,60,0.2,0.1," +
      "zz,ev_new,2024-08-02T10:00:00.000Z,\"13 km E of Freiburg, Germany\"," +
      "earthquake,0.8,3.0,0.1,12,reviewed,zz,zz"
    Files.write(Paths.get(raw, "all_day_20240802-120000.csv"),
      java.util.Arrays.asList(lines.get(0), lines.get(1), novel))
    val odsBefore = spark.read.parquet(wh.ods).count()
    val tOdsBefore = spark.read.parquet(wh.tOds).count()
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-delta", ts2)
    assert(metric("job-delta", "staging", "rows_written")
      === spark.read.parquet(wh.stg).count())
    assert(metric("job-delta", "delta_load", "rows_ods_appended")
      === spark.read.parquet(wh.ods).count() - odsBefore)
    assert(metric("job-delta", "delta_load", "rows_tods_appended")
      === spark.read.parquet(wh.tOds).count() - tOdsBefore)
    assert(metric("job-delta", "delta_load", "rows_tods_appended") === 1L)
  }

  private val novelLine = "2024-08-02T09:30:00.000Z,48.0,7.8,12.0,4.2,ml,30,60,0.2,0.1," +
    "zz,ev_new,2024-08-02T10:00:00.000Z,\"13 km E of Freiburg, Germany\"," +
    "earthquake,0.8,3.0,0.1,12,reviewed,zz,zz"

  /** Land a delta file of the fixture header plus `rows`. */
  private def landDelta(raw: String, name: String, rows: String*): Unit = {
    val header = Files.readAllLines(Paths.get(resource("usgs_sample.csv"))).get(0)
    Files.write(Paths.get(raw, name), (header +: rows).asJava)
  }

  /** The local properties of every Spark job started while `body` ran, as
    * delivered to a listener.
    */
  private def jobsDuring(body: => Unit): Seq[java.util.Properties] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties()))
    }
    shim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      shim.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  test("declared schemas: every table FullLoad and DeltaLoad write infers to its Schemas shape") {
    val (raw, wh) = setup()
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-full", ts)
    landDelta(raw, "all_day_20240802-120000.csv", novelLine)
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-delta", ts2)
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    val declared = Seq(wh.stg -> Schemas.stg, wh.ods -> Schemas.ods,
      wh.tOds -> Schemas.tOds, wh.fact -> Schemas.factEvents) ++
      wh.dimNames.map(n => wh.dim(n) -> Schemas.dim(n))
    declared.foreach { case (path, schema) =>
      assert(shape(spark.read.parquet(path).schema) === shape(schema), path)
    }
  }

  test("a delta with no new dimension values appends no part file to any dim") {
    val (raw, wh) = setup()
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-full", ts)
    def parts(name: String): Int = new java.io.File(wh.dim(name)).listFiles()
      .count(_.getName.startsWith("part-"))
    val before = wh.dimNames.map(n => n -> parts(n)).toMap
    // a new event (new time, so a new key) whose network, region, type,
    // categories and Bucharest date all exist already
    val lines = Files.readAllLines(Paths.get(resource("usgs_sample.csv")))
    landDelta(raw, "all_day_20240802-120000.csv",
      lines.get(1).replace("2024-07-01T12:00:00.000Z", "2024-07-01T12:01:00.000Z"))
    val factBefore = spark.read.parquet(wh.fact).count()
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-delta", ts2)
    assert(spark.read.parquet(wh.fact).count() === factBefore + 1)
    assert(wh.dimNames.map(n => n -> parts(n)).toMap === before)
  }

  test("pool-thread jobs run under the caller's Spark local properties") {
    val (raw, wh) = setup()
    val key = "graft.spec.caller"
    val sc = spark.sparkContext
    def tags(run: String)(body: => Unit): Set[String] = {
      sc.setLocalProperty(key, run)
      try jobsDuring(body).map(p => String.valueOf(p.getProperty(key))).toSet
      finally sc.setLocalProperty(key, null)
    }
    // the pool workers the full load creates must not carry its properties
    // into the delta's jobs
    assert(tags("full")(Controller.run(spark, s"$raw/*.csv", states, wh,
      "job-full", ts)) === Set("full"))
    landDelta(raw, "all_day_20240802-120000.csv", novelLine)
    assert(tags("delta")(Controller.run(spark, s"$raw/*.csv", states, wh,
      "job-delta", ts2)) === Set("delta"))
  }

  // The delta chain's per-job cost outweighs its data work at this size, so
  // its job count is pinned: 74 jobs before the tables were read with their
  // declared schemas and the dims extended from one aggregate, 38 after.
  test("job count: one fixture delta runs in at most 40 Spark jobs") {
    val (raw, wh) = setup()
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-full", ts)
    landDelta(raw, "all_day_20240802-120000.csv", novelLine)
    val jobs = jobsDuring(Controller.run(spark, s"$raw/*.csv", states, wh,
      "job-delta", ts2)).size
    info(s"jobs per delta: $jobs")
    assert(jobs <= 40)
  }

  // The full load numbers its dims with the delta's driver-side extension
  // from empty dims: one aggregate feeds all six, and the dims and the
  // fact's dim joins are local relations instead of window-numbered
  // frames. A fixture full load ran 52 jobs with the window-numbered dims,
  // 26 after; graft.Probe's e2e_full_load at sf0.01 went from 60 to 34.
  test("job count: one fixture full load runs in at most 26 Spark jobs") {
    val (raw, wh) = setup()
    val lookup = states // its header read is not the full load's job
    val jobs = jobsDuring(Controller.run(spark, s"$raw/*.csv", lookup, wh,
      "job-full", ts)).size
    info(s"jobs per full load: $jobs")
    assert(jobs <= 26)
  }

  test("the full load's dims equal the window numbering over the written " +
    "T_ODS: the same rows and ids, one part file each") {
    val (raw, wh) = setup()
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-full", ts)
    val tOds = spark.read.parquet(wh.tOds)
    val mag = coalesce($"LB_magCategory", lit("Not Felt"))
    val depth = coalesce($"LB_depthCategory", lit("Shallow"))
    def window(name: String, values: Column*) = {
      val cols = Schemas.dim(name).fieldNames.toSeq
      DimBuilder.build(tOds, values, cols.tail, cols.head)
    }
    val reference = Map(
      "T_DIM_Network" -> window("T_DIM_Network", $"LB_net"),
      "T_DIM_RegionCountry" -> window("T_DIM_RegionCountry", $"LB_Region",
        $"LB_Country"),
      "T_DIM_Seismic_Activity_Type" -> window("T_DIM_Seismic_Activity_Type",
        $"LB_type"),
      "T_DIM_magCategory" -> window("T_DIM_magCategory", mag,
        DateDim.magDescription(mag)),
      "T_DIM_depthCategory" -> window("T_DIM_depthCategory", depth,
        DateDim.depthDescription(depth)),
      "T_DIM_date" -> DateDim.build(tOds,
        to_timestamp($"DT_time", "yyyy-MM-dd HH:mm:ss")))
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0000"))
    val dims = wh.dimNames.map(n => n -> spark.read.parquet(wh.dim(n))).toMap
    // the fixture's short row (NULL network, empty place) reaches the dims
    assert(dims("T_DIM_Network").filter($"LB_NetworkSymbol".isNull).count() === 1)
    assert(dims("T_DIM_RegionCountry")
      .filter($"LB_Region".isNull && $"LB_Country".isNull).count() === 1)
    wh.dimNames.foreach { n =>
      assert(rows(dims(n)) === rows(reference(n)), n)
      assert(new java.io.File(wh.dim(n)).listFiles()
        .count(_.getName.startsWith("part-")) === 1, n)
    }
  }

  /** The invariant the delta's fact append rests on: the fact holds
    * exactly T_ODS's keys, each once. */
  private def assertFactKeysAreTOds(wh: Warehouse, after: String): Unit = {
    val fact = spark.read.parquet(wh.fact).select("ID_Event").as[Long].collect()
    val tOds = spark.read.parquet(wh.tOds).select("ID_Event").as[Long].collect()
    assert(fact.length === fact.distinct.length, s"$after: a fact ID_Event repeats")
    assert(fact.toSet === tOds.toSet, s"$after: fact keys differ from T_ODS keys")
  }

  /** A new event: the novel fixture line at its own minute. */
  private def freshEvent(minute: Int): String =
    novelLine.replace("2024-08-02T09:30:00.000Z", f"2024-08-02T10:$minute%02d:00.000Z")

  test("after a full load and every delta the fact's ID_Event set is " +
    "T_ODS's, with no key repeated") {
    val (raw, wh) = setup()
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-full", ts)
    assertFactKeysAreTOds(wh, "full load")
    landDelta(raw, "all_day_20240802-120000.csv", novelLine)
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-delta", ts2)
    assertFactKeysAreTOds(wh, "first delta")
    // re-reports of a full-load event and of the first delta's event,
    // beside one new event
    val lines = Files.readAllLines(Paths.get(resource("usgs_sample.csv")))
    landDelta(raw, "all_day_20240803-120000.csv", lines.get(1), novelLine,
      freshEvent(1))
    val factBefore = spark.read.parquet(wh.fact).count()
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-delta2", ts2)
    assert(spark.read.parquet(wh.fact).count() === factBefore + 1)
    assertFactKeysAreTOds(wh, "second delta")
  }

  test("the delta compacts the fact once its files' open cost outweighs " +
    "a split, and the next delta heals a kill between the compaction's " +
    "swap renames") {
    val (raw, wh) = setup()
    Controller.run(spark, s"$raw/*.csv", states, wh, "job-full", ts)
    def dataFiles(dir: String): Seq[java.io.File] = new java.io.File(dir)
      .listFiles().toSeq.filter(_.getName.startsWith("part-"))
    def rows(dir: String): Set[String] = {
      val df = spark.read.parquet(dir)
      df.select(df.columns.sorted.toIndexedSeq.map(col): _*).collect().map(_.toString).toSet
    }
    val maxSplit = 256L << 10
    val openCost = 64L << 10
    spark.conf.set("spark.sql.files.maxPartitionBytes", maxSplit)
    spark.conf.set("spark.sql.files.openCostInBytes", openCost)
    try {
      // each delta appends one event and, under these costs, grows the fact
      // by one file until the rule fires
      var compactedAt = 0
      var delta = 0
      while (compactedAt == 0 && delta < 8) {
        delta += 1
        val filesBefore = dataFiles(wh.fact).size
        val before = rows(wh.fact)
        landDelta(raw, f"all_day_202408${delta + 2}%02d-120000.csv", freshEvent(delta))
        Controller.run(spark, s"$raw/*.csv", states, wh, s"job-delta$delta", ts2)
        val after = rows(wh.fact)
        assert(after.size === before.size + 1 && before.subsetOf(after))
        assertFactKeysAreTOds(wh, s"delta $delta")
        val files = dataFiles(wh.fact)
        val bytes = files.map(_.length).sum
        if (files.size <= filesBefore) {
          compactedAt = delta
          // bytes / maxSplit rounded up: one file at this size
          assert(files.size === math.ceil(bytes.toDouble / maxSplit).toInt)
        } else {
          assert(files.size === filesBefore + 1)
          assert(files.size * openCost <= maxSplit + bytes,
            s"${files.size} files outgrew the rule")
        }
      }
      assert(compactedAt > 0, "the size rule never fired")
      info(s"compacted at delta $compactedAt")

      // a kill between the compaction's two renames: no table dir, the
      // previous version in __swap_old, the complete rewrite in __swap_new
      val committed = rows(wh.fact)
      Files.move(Paths.get(wh.fact), Paths.get(wh.fact + "__swap_old"))
      spark.read.parquet(wh.fact + "__swap_old").coalesce(1)
        .write.parquet(wh.fact + "__swap_new")
      landDelta(raw, "all_day_20240830-120000.csv", freshEvent(59))
      Controller.run(spark, s"$raw/*.csv", states, wh, "job-heal", ts2)
      val healed = rows(wh.fact)
      assert(healed.size === committed.size + 1 && committed.subsetOf(healed))
      assertFactKeysAreTOds(wh, "healing delta")
      assert(!Files.exists(Paths.get(wh.fact + "__swap_old")))
      assert(!Files.exists(Paths.get(wh.fact + "__swap_new")))
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }
}
