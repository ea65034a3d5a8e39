package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation of a workload. Times are epoch milliseconds (as
  * doubles, from a monotonic clock anchored once), so they line up with
  * Spark's listener timestamps in the traced run; `cpu` is the CPU seconds
  * the JVM's Java threads (driver and task threads; not the JIT compiler's
  * or the collector's) spent in the operation, and `readBytes` and
  * `writtenBytes` the bytes its read and write calls moved (table files,
  * shuffle and spill files alike).
  */
final case class Op(kind: String, start: Double, end: Double, cpu: Double, allocBytes: Long,
    readBytes: Long, writtenBytes: Long, failed: Boolean) {
  def seconds: Double = (end - start) / 1000.0
}

/** Shared state of one benchmark run: the clock, the operation log, the
  * output-check log and the timed-phase boundaries.
  */
final class Run(val seed: Long, val seconds: Int, val work: Path) {

  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  val checkFailures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var checks = 0
  var timedStart = 0.0
  var timedEnd = 0.0

  def deadline: Double = timedStart + seconds * 1000.0

  /** Time `body` as one operation of `kind`; an exception counts as a
    * failed operation and is reported, not rethrown. Tracing wraps the
    * same call in a span when the run is traced.
    */
  def op[A](kind: String)(body: => A): Option[A] = {
    val (r0, w0) = Jvm.ioBytes
    val t0 = now()
    val c0 = Jvm.threadCpu()
    val a0 = Jvm.threadAlloc()
    val r = try Some(Trace.span(kind)(body)) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        None
    }
    val t1 = now()
    val cpu = Jvm.cpuSince(c0)
    val alloc = Jvm.allocSince(a0)
    val (r1, w1) = Jvm.ioBytes
    val o = Op(kind, t0, t1, cpu, alloc, r1 - r0, w1 - w0, r.isEmpty)
    ops += o
    System.err.println(f"[op] $kind ${o.seconds}%.3f cpu ${o.cpu}%.3f alloc ${o.allocBytes} " +
      f"read ${o.readBytes} " +
      f"written ${o.writtenBytes}${if (timing) "" else " untimed"}")
    r
  }

  /** Record one output check; a failed check counts in `failed`. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += 1
    if (!ok) {
      checkFailures += s"$what $detail"
      System.err.println(s"[perfbench] CHECK FAILED: $what $detail")
    }
  }

  def beginTimed(): Unit = { timedStart = now(); Jvm.resetPeak() }
  def endTimed(): Unit = { timedEnd = now() }
  /** Inside a timed phase (set-up and warm-up are not). */
  def timing: Boolean = timedStart > timedEnd
}

object Session {

  /** Size the session's start partitions from the workload's input
    * footprint with the program's own rule, as its launchers do (the
    * session factory's fixed fallback is meant for unknown inputs).
    */
  def sizeFor(spark: org.apache.spark.sql.SparkSession, inputBytes: Long): Unit =
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      graft.util.GraftSession.initialPartitions(inputBytes,
        spark.sparkContext.defaultParallelism).toString)
}

/** Order statistics as the benchmark reports them. */
object Stats {

  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the usual percentiles with at least ten samples above
    * it, as (percentile, value); the median when there are fewer than 20.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    val p = Seq(0.999, 0.99, 0.95, 0.9, 0.75).find(p => n * (1 - p) >= 10).getOrElse(0.5)
    (p * 100, quantile(xs, p))
  }
}

/** JVM readings: old-generation occupancy, GC time. */
object Jvm {

  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  @volatile private var peak = 0L

  def resetPeak(): Unit = { peak = 0L; sample() }

  /** Fold the old generation's current occupancy into the peak. */
  def sample(): Unit = {
    val used = oldPools.map(_.getUsage.getUsed).sum
    if (used > peak) peak = used
  }

  def peakMb: Double = { sample(); peak / 1048576.0 }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds of every live Java thread, by thread id. The JIT
    * compiler's and the collector's threads are not among them, so warm-up
    * and heap pressure move this less than the process's CPU time.
    */
  def threadCpu(): Map[Long, Long] =
    threads.getThreadInfo(threads.getAllThreadIds).iterator
      .filter(i => i != null && !i.getThreadName.contains("CompilerThread"))
      .map(i => i.getThreadId -> threads.getThreadCpuTime(i.getThreadId))
      .filter(_._2 >= 0).toMap

  /** CPU seconds Java threads spent since `before` was taken; a thread that
    * ended in between loses its share.
    */
  def cpuSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, t) => (t - before.getOrElse(id, 0L)).max(0L) }.sum / 1e9

  private val allocs = threads.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Heap bytes every live Java thread has allocated, by thread id. */
  def threadAlloc(): Map[Long, Long] = {
    val ids = allocs.getAllThreadIds
    ids.zip(allocs.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  /** Heap bytes Java threads allocated since `before` was taken. */
  def allocSince(before: Map[Long, Long]): Long =
    threadAlloc().iterator.map { case (id, b) => (b - before.getOrElse(id, 0L)).max(0L) }.sum

  /** Bytes this process has read and written through system calls, from
    * Linux's per-process I/O counters (page-cache hits included).
    */
  def ioBytes: (Long, Long) = {
    val fields = Files.readAllLines(Path.of("/proc/self/io")).asScala
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (fields("rchar"), fields("wchar"))
  }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

object Files2 {

  /** Bytes of every regular file under `p` (0 when absent). */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Number of parquet data files under `p`. */
  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => f.getFileName.toString.startsWith("part-")).toLong
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
