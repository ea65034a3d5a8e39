package graft.util

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.shim

/** `Future(body)` for bodies that run Spark jobs on a pool thread.
  *
  * Spark keeps its local properties (`spark.sql.execution.id`, its root id,
  * job group, scheduler pool) in an inheritable thread-local, so a pool
  * worker starts with a copy of whatever its creating thread held at that
  * moment and keeps it for its lifetime. Jobs a plain `Future` starts would
  * then carry the id of an execution that may have ended long ago, and the
  * Spark UI and any listener keyed on the execution id misattribute them.
  * The body here runs with the properties and active session of the thread
  * that created the future, restored afterwards — the pattern of Spark's own
  * `SQLExecution.withThreadLocalCaptured`.
  */
object SparkFuture {
  def apply[T](spark: SparkSession)(body: => T)(implicit ec: ExecutionContext): Future[T] = {
    val props = shim.localProperties(spark)
    Future {
      val session = SparkSession.getActiveSession
      SparkSession.setActiveSession(spark)
      try shim.withLocalProperties(spark, props)(body)
      finally session match {
        case Some(s) => SparkSession.setActiveSession(s)
        case None => SparkSession.clearActiveSession()
      }
    }
  }
}
