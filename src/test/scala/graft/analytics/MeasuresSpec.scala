package graft.analytics

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.dw.FactBuilder
import graft.ingest.Staging
import graft.ods.{OdsTransform, PlaceParser}
import graft.schemas.Schemas
import org.apache.spark.sql.functions._

class MeasuresSpec extends SparkSpec {
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2024-07-01 15:00:00")

  private lazy val (fact, typeDim) = {
    val raw = Staging.readRawCsv(spark, resource("usgs_sample.csv"))
    val split = Staging.dqSplit(Staging.normalizeNulls(raw))
    val ods0 = OdsTransform.toOds(
      Staging.finalizeStg(split.accepted, "JOB-1", "whole_month_07.csv", "20240701-120000"), ts)
    val states = spark.read.option("header", "true").csv(resource("us_states.csv"))
    val ods = PlaceParser.parsePlaces(ods0, states, ts)
    val star = FactBuilder.star(ods, _ => Nil, "JOB-1", ts)
    (star.fact.cache(), spark.createDataFrame(
      star.fresh.toMap.apply("T_DIM_Seismic_Activity_Type").asJava, Schemas.dimType))
  }

  test("Q12/Q5-Q11: totals by type and overall") {
    val total = Measures.totalSeismicEvents(fact).as[Long].head()
    assert(total === fact.count())
    val byType = Measures.totalsByType(fact, typeDim)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byType(Some("earthquake")) === 3L)      // ev_clean, ev_zeros, ev_deep
    assert(byType(Some("quarry blast")) === 1L)
    assert(byType.values.sum === total)
  }

  test("Q2-Q4: earthquake stats") {
    val r = Measures.earthquakeStats(fact, typeDim).collect().head
    // max mag: ev_deep VL_n_mag = 8.5 + 0.5*0.3 = 8.65
    assert(r.getAs[Double]("max_earthquake_magnitude") === 8.65)
    // max depth: ev_deep 320 + 0.5*6 = 323
    assert(r.getAs[Double]("max_earthquake_depth") === 323.0)
    assert(r.getAs[Double]("avg_earthquake_magnitude") > 0)
  }

  test("Q1: latest daily update") {
    val r = Measures.latestDailyUpdate(fact).collect().head
    assert(r.getTimestamp(0) === ts)
  }
}
