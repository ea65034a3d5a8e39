package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are opened by the benchmark around its
  * own calls into the program; Spark's listeners record jobs, stages,
  * SQL executions and query plans. Everything stays in
  * memory and is written out once, when the run ends. Untraced runs never
  * enable it and register no listener.
  */
object Trace {

  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

  /** A finished Spark job with its stages' summed task metrics. */
  final case class Job(id: Int, start: Double, end: Double, execId: Long,
      taskS: Double, inBytes: Long, outBytes: Long, shuffleBytes: Long,
      spillBytes: Long)

  /** One query execution's Catalyst planning time. */
  final case class Plan(start: Double, planS: Double)

  @volatile var enabled = false
  var clock: () => Double = () => System.currentTimeMillis().toDouble
  var runId = ""

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = stack.get().headOption.getOrElse(0)
      val t0 = clock()
      stack.set(id :: stack.get())
      try body
      finally {
        stack.set(stack.get().tail)
        val s = Span(id, parent, name, t0, clock())
        synchronized { spans += s }
      }
    }

  /** Record a count at a layer boundary (traced runs only). */
  def count(name: String, value: Double): Unit =
    if (enabled) synchronized { counts += ((name, clock(), value)) }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** A span's duration minus the part of it its child spans cover, in seconds. */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    var covered = 0.0
    var cur = s.start
    all.filter(_.parent == s.id).map(c => (c.start.max(s.start), c.end.min(s.end)))
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - a.max(cur); cur = b }
      }
    ((s.end - s.start) - covered).max(0.0) / 1000.0
  }
  def allCounts: Seq[(String, Double, Double)] = synchronized(counts.toList)

  // ---- Spark-side records ------------------------------------------------

  private val jobStarts = new ConcurrentHashMap[Int, (Double, Long, Seq[Int])]()
  private val stageMetrics = new ConcurrentHashMap[Int, Array[Double]]()
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val execTargets = new ConcurrentHashMap[Long, String]()
  private val plans = mutable.ArrayBuffer.empty[Plan]
  @volatile private var gcPauseMaxMs = 0.0

  /** The output path of a write: the first argument of the plan's
    * `InsertIntoHadoopFsRelationCommand` node ("" for executions that write
    * no files).
    */
  private val WriteTarget = """InsertIntoHadoopFsRelationCommand (\S+?),""".r

  def targetOf(plan: org.apache.spark.sql.execution.SparkPlanInfo): String =
    WriteTarget.findFirstMatchIn(plan.simpleString).map(_.group(1))
      .orElse(plan.children.iterator.map(targetOf).find(_.nonEmpty)).getOrElse("")

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobStarts.put(e.jobId, (e.time.toDouble, exec, e.stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stageMetrics.put(e.stageInfo.stageId, Array(
        m.executorRunTime / 1000.0, m.inputMetrics.bytesRead.toDouble,
        m.outputMetrics.bytesWritten.toDouble, m.shuffleWriteMetrics.bytesWritten.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, exec, stages) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time.toDouble, -1L, Nil))
      val sum = new Array[Double](5)
      stages.foreach(s => Option(stageMetrics.remove(s)).foreach(m => m.indices.foreach(i => sum(i) += m(i))))
      val j = Job(e.jobId, t0, e.time.toDouble, exec, sum(0), sum(1).toLong, sum(2).toLong,
        sum(3).toLong, sum(4).toLong)
      Trace.synchronized { jobs += j }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execTargets.put(s.executionId, targetOf(s.sparkPlanInfo))
      case _ =>
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val p = Plan(phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum / 1000.0)
        Trace.synchronized { plans += p }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object GcPauses extends javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit = {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      // concurrent cycles are not pauses
      if (!info.getGcName.contains("Concurrent")) {
        val ms = info.getGcInfo.getDuration.toDouble
        if (ms > gcPauseMaxMs) gcPauseMaxMs = ms
      }
    }
  }

  private def gcEmitters = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }

  /** Turn tracing on: register the listeners and record spans. */
  def start(spark: SparkSession, id: String): Unit = {
    runId = id
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    gcEmitters.foreach(_.addNotificationListener(GcPauses, null, null))
    enabled = true
  }

  /** Let the listener bus deliver everything, then remove the listeners;
    * what was recorded is kept.
    */
  def stop(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    spark.sparkContext.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
    gcEmitters.foreach(_.removeNotificationListener(GcPauses))
    enabled = false
  }

  def allJobs: Seq[Job] = synchronized(jobs.toList)
  def allPlans: Seq[Plan] = synchronized(plans.toList)
  def execTarget(exec: Long): String = Option(execTargets.get(exec)).getOrElse("")
  def gcPauseMaxS: Double = gcPauseMaxMs / 1000.0
}
