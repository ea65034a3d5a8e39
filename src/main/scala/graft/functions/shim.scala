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
