package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.util.QueryExecutionListener

/** The profiling pass: runs each selected [[SparkEntry]] query once,
  * untimed, through the noop sink under [[Bench]]'s session conf, and
  * records where its time went. Listeners cost time, so this is never
  * run inside Bench's timed reps.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_ONLY=a,b] sbt "runMain
  * graft.Probe"` writes one JSON object per query to `target/profile.json`
  * and the formatted plan of the sink execution that ran (the AQE final
  * plan) to `target/plans/<name>.txt`.
  */
object Probe {

  /** One query's profile: times in seconds, sizes in bytes. `driverGapS`
    * is wall time no job covers (planning, driver-side loops, scheduling);
    * `planS` is Catalyst's analysis, optimization and planning time summed
    * over every execution the query triggered.
    */
  final case class Profile(wallS: Double, jobs: Int, stages: Int, tasks: Long,
      jobS: Double, driverGapS: Double, planS: Double,
      inputBytes: Long, inputRecords: Long, shuffleWriteBytes: Long,
      shuffleWriteRecords: Long, shuffleReadBytes: Long, spillBytes: Long,
      gcS: Double, plan: Option[String], error: Option[String]) {

    def json(name: String): String = {
      def s(v: Double) = f"$v%.3f"
      Seq("query" -> Verify.jsonStr(name), "wall_s" -> s(wallS),
        "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "job_s" -> s(jobS), "driver_gap_s" -> s(driverGapS),
        "plan_s" -> s(planS),
        "input_bytes" -> inputBytes, "input_records" -> inputRecords,
        "shuffle_write_bytes" -> shuffleWriteBytes,
        "shuffle_write_records" -> shuffleWriteRecords,
        "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
        "gc_s" -> s(gcS))
        .++(error.map(e => "error" -> Verify.jsonStr(e)))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
  }

  /** Scheduler and query-execution events of one run, delivered on the
    * listener bus thread and read after [[shim.drainListenerBus]].
    */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    val jobStart = mutable.Map[Int, Long]()
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    var stages = 0
    var tasks, inBytes, inRecs, swBytes, swRecs, srBytes, spill, gcMs = 0L
    // a frame run by two actions posts its tracker twice: count it once
    val trackers = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryPlanningTracker, java.lang.Boolean])
    var last: Option[QueryExecution] = None

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        inBytes += m.inputMetrics.bytesRead
        inRecs += m.inputMetrics.recordsRead
        swBytes += m.shuffleWriteMetrics.bytesWritten
        swRecs += m.shuffleWriteMetrics.recordsWritten
        srBytes += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        gcMs += m.jvmGCTime
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized {
      trackers.add(qe.tracker)
      last = Some(qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = synchronized {
      trackers.add(qe.tracker)
    }
  }

  /** Build `query` and write it to the noop sink once, recording its
    * profile. A failure is recorded in `error`, not thrown, and leaves no
    * plan.
    */
  def profile(spark: SparkSession)(query: => DataFrame): Profile = {
    shim.drainListenerBus(spark) // earlier runs' events land on no counter
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    val t0 = System.currentTimeMillis()
    val error =
      try {
        // the build is inside the window: operators that materialize
        // eagerly do their work in the query function, not at the sink
        query.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    val t1 = System.currentTimeMillis()
    try shim.drainListenerBus(spark)
    finally {
      spark.sparkContext.removeSparkListener(r)
      spark.listenerManager.unregister(r)
    }
    r.synchronized {
      // union of the job intervals inside the run's window
      var covered = 0L
      var cur = t0
      r.jobSpans.map { case (a, b) => (a.max(t0), b.min(t1)) }.sortBy(_._1)
        .foreach { case (a, b) =>
          if (b > cur) { covered += b - a.max(cur); cur = b }
        }
      var planMs = 0L
      r.trackers.forEach(t => planMs += t.phases.values.map(_.durationMs).sum)
      Profile((t1 - t0) / 1e3, r.jobSpans.size, r.stages, r.tasks,
        r.jobSpans.map { case (a, b) => b - a }.sum / 1e3,
        (t1 - t0 - covered).max(0L) / 1e3, planMs / 1e3,
        r.inBytes, r.inRecs, r.swBytes, r.swRecs, r.srBytes, r.spill,
        r.gcMs / 1e3, r.last.filter(_ => error.isEmpty).map(_.explainString(FormattedMode)),
        error)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the scale-factor directory to profile"))
    val spark = graft.util.GraftSession.forData(sfDir)
    val queries = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val defaultParts =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val plans = Paths.get("target/plans")
    Files.createDirectories(plans)
    val stale = Files.list(plans)
    try stale.forEach(p => Files.delete(p)) finally stale.close()
    val lines = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      SparkEntry.setInitialParts(spark, name, defaultParts)
      val p = profile(spark)(fn(spark, sfDir))
      spark.catalog.clearCache()
      p.plan.foreach(t => Files.writeString(plans.resolve(s"$name.txt"), t))
      val line = p.json(name)
      System.err.println(s"[probe] $line")
      line
    }
    Files.write(Paths.get("target/profile.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
