package graft.schemas

import org.apache.spark.sql.types._

/** Layer schemas for the earthquake warehouse.
  *
  * The reference keeps schemas external (BigQuery tables written with
  * `schema=None` + `CREATE_NEVER`, e.g. `Full Load Scripts/ods_full_load2.py:163-168`);
  * the shapes below are the ones its rows implicitly carry. We declare them
  * explicitly: the delta chain reads every warehouse table with its declared
  * schema (no footer inference), and PipelineSpec checks that every table
  * the full and delta loads write reads back with exactly these names and
  * types.
  */
object Schemas {

  /** 22-column USGS feed order — `Full Load Scripts/stg_full_load.py:53-58`. */
  val rawColumns: Seq[String] = Seq(
    "time", "latitude", "longitude", "depth", "mag", "magType", "nst", "gap",
    "dmin", "rms", "net", "id", "updated", "place", "type",
    "horizontalError", "depthError", "magError", "magNst", "status",
    "locationSource", "magSource")

  /** Raw layer: everything is a string at ingest. */
  val raw: StructType =
    StructType(rawColumns.map(StructField(_, StringType, nullable = true)))

  /** Audit columns appended at staging — `stg_full_load.py:95-100`. */
  val auditColumns: Seq[String] =
    Seq("insertion_date", "updated_date", "job_execution_id", "data_source")

  /** STG layer: raw columns + audit columns, all STRING
    * (`stg_full_load.py:103` casts every value to str).
    */
  val stg: StructType = StructType(
    (rawColumns ++ auditColumns).map(StructField(_, StringType, nullable = true)))

  /** ODS layer — column set and types from
    * `Full Load Scripts/ods_full_load2.py:111-137`.
    */
  val ods: StructType = StructType(Seq(
    StructField("ID_Event", LongType),
    StructField("VL_n_mag", DoubleType),
    StructField("LB_magCategory", StringType),
    StructField("VL_n_depth", DoubleType),
    StructField("LB_depthCategory", StringType),
    StructField("LB_Region", StringType),
    StructField("LB_Country", StringType),
    StructField("LB_place", StringType),
    StructField("DT_time", StringType), // 'yyyy-MM-dd HH:mm:ss' Europe/Bucharest wall clock
    StructField("VL_latitude", DoubleType),
    StructField("VL_longitude", DoubleType),
    StructField("ID_nst", IntegerType),
    StructField("ID_gap", IntegerType),
    StructField("VL_dmin", DoubleType),
    StructField("LB_net", StringType),
    StructField("LB_type", StringType),
    StructField("VL_horizontalError", DoubleType),
    StructField("ID_magNst", IntegerType),
    StructField("LB_status", StringType),
    StructField("LB_locationSource", StringType),
    StructField("LB_magSource", StringType),
    StructField("_DT_insertion_date", TimestampType),
    StructField("_DT_updated_date", TimestampType),
    StructField("_LB_job_execution_id", StringType),
    StructField("_LB_data_source", StringType)))

  /** T_ODS layer: the ODS rows with region and country filled in by the
    * place parse (`parse_country_ods_full_load2.py`), same columns and types.
    */
  val tOds: StructType = ods

  /** US-states lookup — `Full Load Scripts/parse_country_ods_full_load2.py:97-100`. */
  val usStates: StructType = StructType(Seq(
    StructField("State", StringType),
    StructField("Abbreviation", StringType)))

  // ── DW star schema — `Full Load Scripts/dw_full_load2.py:102-238` ──

  val dimNetwork: StructType = StructType(Seq(
    StructField("ID_Network_ID", LongType),
    StructField("LB_NetworkSymbol", StringType)))

  val dimRegionCountry: StructType = StructType(Seq(
    StructField("ID_RegionCountry_ID", LongType),
    StructField("LB_Region", StringType),
    StructField("LB_Country", StringType)))

  val dimType: StructType = StructType(Seq(
    StructField("ID_type_ID", LongType),
    StructField("LB_type", StringType)))

  val dimMagCategory: StructType = StructType(Seq(
    StructField("ID_magCategory_ID", LongType),
    StructField("LB_magCategoryName", StringType),
    StructField("LB_magCategoryDescription", StringType)))

  val dimDepthCategory: StructType = StructType(Seq(
    StructField("ID_depthCategory_ID", LongType),
    StructField("LB_depthCategoryName", StringType),
    StructField("LB_depthCategoryDescription", StringType)))

  /** Date dimension — `dw_full_load2.py:41-57`. */
  val dimDate: StructType = StructType(Seq(
    StructField("ID_date_ID", IntegerType),
    StructField("DT_date", StringType),
    StructField("LB_DayOfWeek", StringType),
    StructField("ID_DayOfWeekNb", IntegerType),
    StructField("ID_WeekNb", IntegerType),
    StructField("LB_MonthName", StringType),
    StructField("ID_MonthNb", IntegerType),
    StructField("ID_Quarter", IntegerType),
    StructField("ID_Year", IntegerType)))

  /** The declared schema of each warehouse dimension table, by table name. */
  def dim(name: String): StructType = name match {
    case "T_DIM_Network" => dimNetwork
    case "T_DIM_RegionCountry" => dimRegionCountry
    case "T_DIM_Seismic_Activity_Type" => dimType
    case "T_DIM_magCategory" => dimMagCategory
    case "T_DIM_depthCategory" => dimDepthCategory
    case "T_DIM_date" => dimDate
  }

  /** Fact table — `dw_full_load2.py:195-218`. */
  val factEvents: StructType = StructType(Seq(
    StructField("ID_Event", LongType),
    StructField("ID_Network_ID", LongType),
    StructField("ID_RegionCountry_ID", LongType),
    StructField("ID_type_ID", LongType),
    StructField("ID_date_ID", IntegerType),
    StructField("ID_depthCategory_ID", LongType),
    StructField("ID_magCategory_ID", LongType),
    StructField("VL_n_mag", DoubleType),
    StructField("VL_n_depth", DoubleType),
    StructField("LB_place", StringType),
    StructField("DT_time", TimestampType),
    StructField("VL_latitude", DoubleType),
    StructField("VL_longitude", DoubleType),
    StructField("ID_nst", IntegerType),
    StructField("ID_gap", IntegerType),
    StructField("VL_dmin", DoubleType),
    StructField("VL_horizontalError", DoubleType),
    StructField("ID_magNst", IntegerType),
    StructField("_DT_insertion_date", TimestampType),
    StructField("_DT_updated_date", TimestampType),
    StructField("_LB_job_execution_id", StringType),
    StructField("_LB_data_source", StringType)))
}
