package graft.dw

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.schemas.Schemas
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-schema assembly: 6 dimensions + the event fact table.
  *
  * Reference behavior: `Full Load Scripts/dw_full_load2.py:96-238`. The
  * reference resolves foreign keys with Python dict side-inputs
  * (`:220-230`); a dict lookup with a `None` key *matches* a `None` entry,
  * which SQL `=` never does — hence every FK join here uses null-safe
  * equality `<=>` (SURVEY §7.4.2). All five dimension joins are broadcast
  * left-outer joins: dimensions are bounded, facts are not, so the fact
  * side never shuffles during enrichment — the same property the reference
  * engineered by hand with side inputs, but here it survives any scale of
  * fact table.
  */
object FactBuilder {

  /** The six dimension tables, in the reference's build order. */
  val dimNames: Seq[String] = Seq("T_DIM_Network", "T_DIM_RegionCountry",
    "T_DIM_Seismic_Activity_Type", "T_DIM_magCategory", "T_DIM_depthCategory",
    "T_DIM_date")

  /** One slice's star: its row count, each dimension's NEW rows (in
    * [[dimNames]] order, each row shaped like the table's), and its fact
    * resolved against the existing rows plus the new ones.
    */
  final case class Star(rows: Long, fresh: Seq[(String, Seq[Row])], fact: DataFrame)

  /** The warehouse's star build over an enriched-ODS `slice`, given each
    * dimension's `existing` rows: the reference's `enumerate(sorted(values),
    * start)` (`dw_full_load2.py:37-39`, `dw2_delta_load2.py:32-34,173-187`),
    * which starts from 1 over empty dims and from max + 1 otherwise.
    *
    * One aggregate over the slice yields its row count and every
    * dimension's distinct value tuples; the tuples absent from the existing
    * rows are numbered on the driver by [[DimBuilder.extendRows]] (date ids
    * are intrinsic yyyymmdd, `dw2_delta_load2.py:329-333`, so new dates are
    * kept as they are). The fact joins the slice to local relations of
    * existing plus new rows, so it reads no dimension table.
    */
  def star(slice: DataFrame, existing: String => Seq[Row], jobId: String,
      insertionTs: Timestamp): Star = {
    val summary = slice.agg(count(lit(1)), dimNames.map(name =>
      collect_set(struct(dimValues(name): _*))): _*).head()
    val old = dimNames.map(existing)
    val fresh = dimNames.zip(old).zipWithIndex.map { case ((name, rows), i) =>
      val values = summary.getSeq[Row](i + 1)
      name -> (
        if (name == "T_DIM_date") {
          val ids = rows.map(_.get(0)).toSet
          values.filter(r => !r.isNullAt(0) && !ids(r.get(0)))
        } else DimBuilder.extendRows(rows, values))
    }
    val dims = fresh.zip(old).map { case ((name, rows), known) =>
      name -> slice.sparkSession.createDataFrame((known ++ rows).asJava,
        Schemas.dim(name))
    }.toMap
    Star(summary.getLong(0), fresh, buildFact(slice, dims, jobId, insertionTs))
  }

  /** One dimension's row over enriched-ODS rows, as columns named and
    * ordered like the dimension table's own: the key tuple of a
    * surrogate-keyed dimension (the values [[star]] numbers), or the
    * whole row of the date dimension, whose id is intrinsic (NULL for a row
    * without a parseable time).
    */
  private def dimValues(name: String): Seq[Column] = name match {
    case "T_DIM_Network" => Seq(col("LB_net").as("LB_NetworkSymbol"))
    case "T_DIM_RegionCountry" => Seq(col("LB_Region"), col("LB_Country"))
    case "T_DIM_Seismic_Activity_Type" => Seq(col("LB_type"))
    case "T_DIM_magCategory" => Seq(magName.as("LB_magCategoryName"),
      DateDim.magDescription(magName).as("LB_magCategoryDescription"))
    case "T_DIM_depthCategory" => Seq(depthName.as("LB_depthCategoryName"),
      DateDim.depthDescription(depthName).as("LB_depthCategoryDescription"))
    case "T_DIM_date" =>
      DateDim.attrs(to_timestamp(col("DT_time"), "yyyy-MM-dd HH:mm:ss").cast("date"))
  }

  /** Category columns are defaulted before both dim build and fact lookup
    * (`dw_full_load2.py:145,159,201-202`).
    */
  private def magName: Column = coalesce(col("LB_magCategory"), lit("Not Felt"))
  private def depthName: Column = coalesce(col("LB_depthCategory"), lit("Shallow"))

  /** P14/J1 — fact assembly (`dw_full_load2.py:185-230`): five broadcast
    * null-safe left-outer dim joins, date key derived directly from
    * `DT_time`, audit stamping.
    */
  private def buildFact(ods: DataFrame, dims: Map[String, DataFrame],
      jobId: String, insertionTs: Timestamp): DataFrame = {
    val dtObj = to_timestamp(col("DT_time"), "yyyy-MM-dd HH:mm:ss")
    val enriched = ods
      .join(broadcast(dims("T_DIM_Network")), col("LB_net") <=> col("LB_NetworkSymbol"), "left_outer")
      .join(broadcast(dims("T_DIM_RegionCountry").withColumnRenamed("LB_Region", "_dim_region")
          .withColumnRenamed("LB_Country", "_dim_country")),
        col("LB_Region") <=> col("_dim_region") && col("LB_Country") <=> col("_dim_country"),
        "left_outer")
      .join(broadcast(dims("T_DIM_Seismic_Activity_Type").withColumnRenamed("LB_type", "_dim_type")),
        col("LB_type") <=> col("_dim_type"), "left_outer")
      .join(broadcast(dims("T_DIM_magCategory")), magName <=> col("LB_magCategoryName"), "left_outer")
      .join(broadcast(dims("T_DIM_depthCategory")), depthName <=> col("LB_depthCategoryName"), "left_outer")
    enriched.select(
      col("ID_Event"),
      col("ID_Network_ID"),
      col("ID_RegionCountry_ID"),
      col("ID_type_ID"),
      date_format(dtObj, "yyyyMMdd").cast(IntegerType).as("ID_date_ID"),
      col("ID_depthCategory_ID"),
      col("ID_magCategory_ID"),
      col("VL_n_mag").cast(DoubleType).as("VL_n_mag"),
      col("VL_n_depth").cast(DoubleType).as("VL_n_depth"),
      col("LB_place"),
      dtObj.as("DT_time"),
      col("VL_latitude").cast(DoubleType).as("VL_latitude"),
      col("VL_longitude").cast(DoubleType).as("VL_longitude"),
      col("ID_nst").cast(IntegerType).as("ID_nst"),
      col("ID_gap").cast(IntegerType).as("ID_gap"),
      col("VL_dmin").cast(DoubleType).as("VL_dmin"),
      col("VL_horizontalError").cast(DoubleType).as("VL_horizontalError"),
      col("ID_magNst").cast(IntegerType).as("ID_magNst"),
      lit(insertionTs).as("_DT_insertion_date"),
      lit(null).cast(TimestampType).as("_DT_updated_date"),
      lit(jobId).as("_LB_job_execution_id"),
      coalesce(col("_LB_data_source"), lit("T_ODS_day_earthquake")).as("_LB_data_source"))
  }
}
