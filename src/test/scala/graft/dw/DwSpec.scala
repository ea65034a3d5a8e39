package graft.dw

import graft.SparkSpec
import graft.ingest.Staging
import graft.ods.{OdsTransform, PlaceParser}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

class DwSpec extends SparkSpec {
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2024-07-01 15:00:00")

  private lazy val ods = {
    val raw = Staging.readRawCsv(spark, resource("usgs_sample.csv"))
    val split = Staging.dqSplit(Staging.normalizeNulls(raw))
    val base = OdsTransform.toOds(
      Staging.finalizeStg(split.accepted, "JOB-1", "whole_month_07.csv", "20240701-120000"), ts)
    val states = spark.read.option("header", "true").csv(resource("us_states.csv"))
    PlaceParser.parsePlaces(base, states, ts).cache()
  }

  test("W1: surrogate ids are dense, 1-based, sorted, nulls first") {
    val src = Seq(Some("b"), Some("a"), None, Some("b")).toDF("v")
    val dim = DimBuilder.build(src, Seq($"v"), Seq("LB_v"), "ID_v")
    val got = dim.orderBy("ID_v").collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq === Seq((1L, None), (2L, Some("a")), (3L, Some("b"))))
  }

  test("W1: maxDimRows guard fails an over-cardinality dim with a named error") {
    val src = (1 to 50).map(i => s"v$i").toDF("v")
    // under the bound: fine
    assert(DimBuilder.build(src, Seq($"v"), Seq("LB_v"), "ID_v", maxDimRows = 50)
      .count() === 50)
    // collect() the guarded id column, NOT count(): count lets Catalyst's
    // ColumnPruning delete the guarded projection, so raise_error would
    // never evaluate (the same pruning pitfall Bench.force documents)
    val e = intercept[Exception] {
      DimBuilder.build(src, Seq($"v"), Seq("LB_v"), "ID_v", maxDimRows = 10)
        .select("ID_v").collect()
    }
    assert(e.getMessage.contains("maxDimRows") ||
      Option(e.getCause).exists(_.getMessage.contains("maxDimRows")))
  }

  test("J4/W1 delta: extend continues ids from max, null-safe new-value detection") {
    val existing = Seq((1L, Option("a")), (2L, Option.empty[String])).toDF("ID_v", "LB_v")
    val src = Seq(Some("a"), None, Some("c"), Some("b")).toDF("v")
    val fresh = DimBuilder.extend(existing, src, Seq($"v"), Seq("LB_v"), "ID_v")
    val got = fresh.orderBy("ID_v").collect().map(r => (r.getLong(0), r.getString(1)))
    // 'a' and NULL already present (NULL must match null-safely); b,c get 3,4
    assert(got.toSeq === Seq((3L, "b"), (4L, "c")))
  }

  test("P12: ISO week and day-of-week edges match Python isocalendar/isoweekday") {
    val df = Seq("2021-01-01", "2024-12-30", "2024-02-29").toDF("d")
    val got = DateDim.build(df, $"d").orderBy("DT_date").collect()
    val r2021 = got.find(_.getAs[String]("DT_date") == "2021-01-01").get
    assert(r2021.getAs[Int]("ID_WeekNb") === 53)      // isocalendar week of 2021-01-01
    assert(r2021.getAs[Int]("ID_DayOfWeekNb") === 5)  // Friday, ISO Mon=1
    assert(r2021.getAs[String]("LB_DayOfWeek") === "Friday")
    assert(r2021.getAs[Int]("ID_date_ID") === 20210101)
    assert(r2021.getAs[Int]("ID_Quarter") === 1)
    val r2024 = got.find(_.getAs[String]("DT_date") == "2024-12-30").get
    assert(r2024.getAs[Int]("ID_WeekNb") === 1)       // ISO week 1 of 2025
    val leap = got.find(_.getAs[String]("DT_date") == "2024-02-29").get
    assert(leap.getAs[String]("LB_MonthName") === "February")
    assert(leap.getAs[Int]("ID_MonthNb") === 2)
  }

  test("P13: category descriptions incl. unknown-name fallback") {
    val df = Seq("Shallow", "Weird").toDF("n")
      .select(DateDim.depthDescription($"n").as("d"), DateDim.magDescription($"n").as("m"))
    val rows = df.collect()
    assert(rows(0).getString(0) === "less than 70km")
    assert(rows(1).getString(0) === "Depth category: Weird")
    assert(rows(1).getString(1) === "Magnitude category: Weird")
  }

  test("P14/J1: fact assembly resolves all FKs incl. NULL natural keys") {
    val fact = FactBuilder.star(ods, _ => Nil, "JOB-1", ts).fact.cache()
    assert(fact.count() === ods.count())
    // the short fixture row has NULL net — dict-lookup semantics say it must
    // still resolve (None is a key), so no fact row may have a NULL net FK
    assert(fact.filter($"ID_Network_ID".isNull).count() === 0)
    assert(fact.filter($"ID_RegionCountry_ID".isNull).count() === 0)
    assert(fact.filter($"ID_magCategory_ID".isNull).count() === 0)
    assert(fact.filter($"ID_depthCategory_ID".isNull).count() === 0)
    // date key straight from DT_time (summer row → EEST 2024-07-01)
    val clean = fact.filter($"LB_place" === "10km SSW of Idyllwild, CA").collect().head
    assert(clean.getAs[Int]("ID_date_ID") === 20240701)
    // schema parity with the declared star schema
    assert(fact.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      graft.schemas.Schemas.factEvents.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("K5/J5: upsert updates matched keys and inserts new ones") {
    val existing = Seq((1L, "old"), (2L, "keep")).toDF("ID_Event", "v")
    val staged = Seq((1L, "new"), (3L, "ins")).toDF("ID_Event", "v")
    val got = Merge.upsert(existing, staged).orderBy("ID_Event")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
  }

  test("K5: atomicOverwrite swaps even when the frame reads from the target") {
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val path = s"$dir/fact"
    Seq((1L, "old"), (2L, "keep")).toDF("ID_Event", "v").write.parquet(path)
    val staged = Seq((1L, "new"), (3L, "ins")).toDF("ID_Event", "v")
    Merge.mergeInto(spark, path, staged)
    val got = spark.read.parquet(path).orderBy("ID_Event")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
    // idempotency: applying the same staged batch twice is a no-op
    Merge.mergeInto(spark, path, staged)
    assert(spark.read.parquet(path).count() === 3)
  }

  test("one numbering: driver-side extendRows equals build's window numbering from max + 1") {
    val smile = "\uD83D\uDE00" // U+1F600, a surrogate pair in UTF-16
    val fullwidthA = "\uFF21"   // U+FF21: above the surrogates in UTF-16, below U+1F600 in UTF-8
    assert(fullwidthA.compareTo(smile) > 0) // the two orders really differ here
    // ids need not be dense: continuation is from the max
    val existing = Seq(Row(1L, "m", "x"), Row(2L, null, "x"), Row(7L, "\u00e9", null))
    val values = Seq[(String, String)]((null, null), (null, "x"), ("", ""), ("", null),
      ("A", "a"), ("a", "A"), ("a", "a"), ("\u00e9", null), ("\u00e9", "\u00e9"),
      (fullwidthA, "x"), (smile, "x"), ("z", smile), ("z", fullwidthA), ("m", "x"),
      ("a", "a")).map { case (a, b) => Row(a, b) }
    val fresh = DimBuilder.extendRows(existing, values)
    val known = existing.map(_.toSeq.tail).toSet
    val newValues = values.filterNot(r => known(r.toSeq)).distinct
    val windowed = DimBuilder.build(
      spark.createDataFrame(java.util.Arrays.asList(newValues: _*), StructType(Seq(
        StructField("a", StringType), StructField("b", StringType)))),
      Seq($"a", $"b"), Seq("a", "b"), "id", startId = 8L).collect().toSeq
    def tuples(rows: Seq[Row]) =
      rows.map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).sortBy(_._1)
    assert(tuples(fresh) === tuples(windowed))
    assert(fresh.map(_.getLong(0)).sorted === (8L until 8L + newValues.size))
    val id = fresh.map(r => (r.getString(1), r.getString(2)) -> r.getLong(0)).toMap
    assert(id((null, null)) === 8L)
    assert(id((fullwidthA, "x")) < id((smile, "x")))
    // the maxDimRows bound counts existing plus new rows
    assert(DimBuilder.extendRows(existing, values,
      maxDimRows = existing.size + newValues.size).size === newValues.size)
    val e = intercept[IllegalArgumentException](DimBuilder.extendRows(existing, values,
      maxDimRows = existing.size + newValues.size - 1))
    assert(e.getMessage.contains("maxDimRows"))
  }
}
