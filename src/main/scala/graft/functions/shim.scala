package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public `Column` API and Catalyst `Expression`s for
  * graft's native expressions (e.g. [[graft.functions.FloatDot]]).
  *
  * Spark 4 made `Column` ↔ `Expression` conversion `private[sql]`
  * (`classic.ExpressionUtils`); this one-file subpackage of
  * `org.apache.spark.sql` re-exposes exactly the two conversions, the same
  * approach third-party Spark extension libraries use.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalog-resolved location of a managed table (handles case folding and
    * qualified names, unlike `warehouse.dir + "/" + name`).
    */
  def defaultTablePath(spark: org.apache.spark.sql.SparkSession,
      table: String): String =
    spark.sessionState.catalog.defaultTablePath(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).toString

  /** The session's file-split costs as Spark's split planner reads them:
    * (`spark.sql.files.maxPartitionBytes`, `spark.sql.files.openCostInBytes`).
    */
  def fileSplitCosts(spark: org.apache.spark.sql.SparkSession): (Long, Long) = {
    val conf = spark.sessionState.conf
    (conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
  }

  /** Block until the listener bus has delivered every event posted so far
    * (Spark-private `LiveListenerBus.waitUntilEmpty`): the deterministic
    * barrier a listener's counters need before they are read. Fixed sleeps
    * under-counted under load (round-11 advice).
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** A copy of the calling thread's Spark local properties (job group,
    * scheduler pool, SQL execution ids; Spark-private
    * `SparkContext.getLocalProperties`).
    */
  def localProperties(spark: org.apache.spark.sql.SparkSession): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(spark.sparkContext.getLocalProperties)

  /** Run `body` with `props` as this thread's Spark local properties, then
    * restore the thread's own.
    */
  def withLocalProperties[T](spark: org.apache.spark.sql.SparkSession,
      props: java.util.Properties)(body: => T): T = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(saved)
  }

  /** A DataFrame over `rows`, held on the driver as a `LocalRelation` of
    * `schema`: Catalyst folds a filter, projection or limit over it into
    * the relation (`ConvertToLocalRelation`), so collecting such a plan
    * runs no Spark job.
    */
  def localFrame(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        rows))

  /** Decode every row of one parquet file on the calling thread with
    * Spark's own row materializer (`ParquetReadSupport`, the record reader
    * a non-vectorized parquet scan runs), under `requested` — the Spark
    * schema the rows come out in. `conf` is a configuration the caller
    * owns: the requested schema and the session's parquet-read settings
    * are set on it, as a parquet scan sets them on its task's
    * configuration. The materializer reuses one row, so each is copied.
    */
  def decodeParquetRows(spark: org.apache.spark.sql.SparkSession,
      conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.FileStatus,
      requested: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.api.InitContext
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.spark.sql.execution.datasources.DataSourceUtils
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    import org.apache.spark.sql.internal.SQLConf
    import scala.jdk.CollectionConverters._
    val sql = spark.sessionState.conf
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    Seq(SQLConf.SESSION_LOCAL_TIMEZONE, SQLConf.CASE_SENSITIVE,
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED, SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED)
      .foreach(e => conf.set(e.key, sql.getConfString(e.key)))
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).build())
    try {
      val meta = r.getFooter.getFileMetaData
      val kv = meta.getKeyValueMetaData
      val support = new ParquetReadSupport(None, false,
        DataSourceUtils.datetimeRebaseSpec(kv.get,
          sql.getConfString(SQLConf.PARQUET_REBASE_MODE_IN_READ.key)),
        DataSourceUtils.int96RebaseSpec(kv.get,
          sql.getConfString(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key)))
      val ctx = support.init(new InitContext(conf,
        kv.asScala.map { case (k, v) => k -> java.util.Set.of(v) }.asJava,
        meta.getSchema))
      r.setRequestedSchema(ctx.getRequestedSchema)
      val materializer = support.prepareForRead(conf, kv, meta.getSchema, ctx)
      val io = new ColumnIOFactory(meta.getCreatedBy)
        .getColumnIO(ctx.getRequestedSchema, meta.getSchema, true)
      Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null)
        .flatMap { pages =>
          val records = io.getRecordReader(pages, materializer)
          Iterator.fill(pages.getRowCount.toInt)(records.read().copy())
        }.toVector
    } finally r.close()
  }

  /** Whether `df` is currently registered in the session's cache manager
    * (i.e. persisted and not yet unpersisted/cleared). */
  def isCacheRegistered(df: org.apache.spark.sql.DataFrame): Boolean = {
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined
  }

  /** Whether `df`'s persisted cache has MATERIALIZED column buffers — true
    * only after some action has computed through the cached plan. Lets a
    * cache-lifecycle manager release upstream intermediates exactly when
    * they have served their purpose, instead of forcing an eager pass
    * (`count()`) to find out. False when `df` is not cached at all.
    */
  def isCacheMaterialized(df: org.apache.spark.sql.DataFrame): Boolean = {
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
  }
}
