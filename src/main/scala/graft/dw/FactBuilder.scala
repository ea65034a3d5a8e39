package graft.dw

import graft.schemas.Schemas
import org.apache.spark.sql.{Column, DataFrame}
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

  final case class Dims(network: DataFrame, regionCountry: DataFrame,
      seismicType: DataFrame, magCategory: DataFrame, depthCategory: DataFrame,
      date: DataFrame)

  /** Category columns are defaulted before both dim build and fact lookup
    * (`dw_full_load2.py:145,159,201-202`).
    */
  private def magName: Column = coalesce(col("LB_magCategory"), lit("Not Felt"))
  private def depthName: Column = coalesce(col("LB_depthCategory"), lit("Shallow"))

  /** All six dimensions from the enriched ODS (`dw_full_load2.py:102-182`). */
  def buildDims(ods: DataFrame): Dims = {
    def numbered(name: String): DataFrame = {
      val cols = Schemas.dim(name).fieldNames.toSeq
      DimBuilder.build(ods, dimValues(name), cols.tail, cols.head)
    }
    Dims(numbered("T_DIM_Network"), numbered("T_DIM_RegionCountry"),
      numbered("T_DIM_Seismic_Activity_Type"), numbered("T_DIM_magCategory"),
      numbered("T_DIM_depthCategory"),
      DateDim.build(ods, to_timestamp(col("DT_time"), "yyyy-MM-dd HH:mm:ss")))
  }

  /** One dimension's row over enriched-ODS rows, as columns named and
    * ordered like the dimension table's own: the key tuple of a
    * surrogate-keyed dimension (the values [[buildDims]] numbers), or the
    * whole row of the date dimension, whose id is intrinsic (NULL for a row
    * without a parseable time).
    */
  def dimValues(name: String): Seq[Column] = name match {
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

  /** P14/J1 — fact assembly (`dw_full_load2.py:185-230`): five broadcast
    * null-safe left-outer dim joins, date key derived directly from
    * `DT_time`, audit stamping.
    */
  def buildFact(ods: DataFrame, dims: Dims, jobId: String,
      insertionTs: java.sql.Timestamp): DataFrame = {
    val dtObj = to_timestamp(col("DT_time"), "yyyy-MM-dd HH:mm:ss")
    val enriched = ods
      .join(broadcast(dims.network), col("LB_net") <=> col("LB_NetworkSymbol"), "left_outer")
      .join(broadcast(dims.regionCountry.withColumnRenamed("LB_Region", "_dim_region")
          .withColumnRenamed("LB_Country", "_dim_country")),
        col("LB_Region") <=> col("_dim_region") && col("LB_Country") <=> col("_dim_country"),
        "left_outer")
      .join(broadcast(dims.seismicType.withColumnRenamed("LB_type", "_dim_type")),
        col("LB_type") <=> col("_dim_type"), "left_outer")
      .join(broadcast(dims.magCategory), magName <=> col("LB_magCategoryName"), "left_outer")
      .join(broadcast(dims.depthCategory), depthName <=> col("LB_depthCategoryName"), "left_outer")
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
