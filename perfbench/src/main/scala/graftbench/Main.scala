package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> --states <us_states.csv>
  * }}}
  *
  * After the session starts, the workload sets up [[Workloads.SetupReps]]
  * times from scratch (input generation, seeding); `setup_s` is the median
  * of those set-ups. One untimed warm-up cycle follows, then the timed
  * phase runs the workload's closed loop for the given seconds. With
  * `--trace 1` a second phase alternates traced and untraced cycles, and
  * the run reports per-layer metrics and the tracing overhead instead of
  * the end-to-end metrics. The last line of standard output is the result
  * object.
  */
object Main {

  /** End-to-end metric names and units, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "write_alloc_mb" -> "MB", "query_alloc_mb" -> "MB",
    "write_bytes_p50" -> "bytes", "query_bytes_p50" -> "bytes",
    "stored_bytes_per_input_byte" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val code = run(workload, opts("seed").toLong, opts("seconds").toInt,
      opts.getOrElse("trace", "0") == "1", Path.of(opts("work")).toAbsolutePath,
      Path.of(opts("states")).toAbsolutePath)
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive past the result
    Runtime.getRuntime.halt(code)
  }

  def run(workload: String, seed: Long, seconds: Int, traced: Boolean, work: Path,
      statesCsv: Path): Int = {
    Files2.deleteTree(work)
    Files.createDirectories(work)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    val r = new Run(seed, seconds, work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // the inputs are small: two task threads load about as fast as four,
    // and leave the run less exposed to CPU other tenants of a host take
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    val spark = graft.util.GraftSession.local(cores, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(f"[op] session $sessionS%.3f")
    val w = Workloads(workload, spark, r, statesCsv)
    val setups = Seq.fill(Workloads.SetupReps) {
      val t0 = r.now()
      w.setup()
      val s = (r.now() - t0) / 1000.0
      System.err.println(f"[op] setup $s%.3f")
      s
    }
    val setupS = Stats.median(setups)
    // the timed operations run once before timing starts
    w.cycle()

    val storagePeak = new StoragePeak(spark)
    /** Run cycles for the measured seconds, and at least `minCycles`;
      * `tracedCycle(i)` says whether cycle i is traced. Returns the
      * operations and each cycle's wall time with whether it was traced.
      */
    def phase(minCycles: Int)(tracedCycle: Int => Boolean): (Seq[Op], Seq[(Double, Boolean)]) = {
      val first = r.ops.length
      val cycles = mutable.ArrayBuffer.empty[(Double, Boolean)]
      r.beginTimed()
      // past the minimum, start a cycle only while it is expected to end
      // near the deadline
      while (cycles.length < minCycles ||
          r.now() + 0.5 * Stats.median(cycles.map(_._1).toSeq) < r.deadline) {
        val on = tracedCycle(cycles.length)
        if (on) Trace.start(spark, s"$workload-$seed")
        val t0 = r.now()
        w.cycle()
        cycles += ((r.now() - t0, on))
        if (on) { Trace.stop(spark); storagePeak.sample() }
        Jvm.sample()
      }
      r.endTimed()
      (r.ops.slice(first, r.ops.length).toSeq, cycles.toSeq)
    }

    if (traced) {
      // work only the traced run does, traced, before its untraced phase
      Trace.clock = () => r.now()
      Trace.start(spark, s"$workload-$seed")
      w.tracedExtras()
      Trace.stop(spark)
    }
    val (timedOps, timedCycles) = phase(1)(_ => false)
    val rows = w.rowsConsumed
    val opSeconds = timedOps.map(_.seconds).sum
    val heapMb = Jvm.peakMb
    val layerMetrics = if (traced) {
      // a second phase alternates traced and untraced cycles, so the
      // tracing overhead is not confounded with the JIT still warming up;
      // it runs at least one of each, however long a cycle takes
      val gc0 = Jvm.gcMillis
      val (_, cycles) = phase(2)(_ % 2 == 0)
      val gcS = (Jvm.gcMillis - gc0) / 1000.0 / math.max(1, cycles.length)
      val on = cycles.filter(_._2).map(_._1)
      val off = cycles.filterNot(_._2).map(_._1)
      val overhead = Stats.median(on) - Stats.median(off)
      val m = Layers.compute(Trace.allSpans, Trace.allJobs, Trace.allPlans,
        Trace.allCounts, w.readings, gcS, storagePeak.peakMb)
      TraceFile.write(work.resolve("trace.json"))
      w.ownLayers.foreach(n => r.check(s"traced:$n", m(n) > 0, "no work recorded for it"))
      Some(m ++ Map("trace.overhead_s" -> overhead / 1000.0,
        "trace.overhead_ratio" -> overhead / Stats.median(off)))
    } else None
    w.finish()

    def ofKind(k: String) = timedOps.filter(o => o.kind == k && !o.failed)
    def kind(k: String) = ofKind(k).map(_.seconds)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "write_alloc_mb" -> Stats.median(ofKind("write").map(_.allocBytes / 1048576.0)),
      "query_alloc_mb" -> Stats.median(ofKind("query").map(_.allocBytes / 1048576.0)),
      "write_bytes_p50" -> Stats.median(ofKind("write").map(o => (o.readBytes + o.writtenBytes).toDouble)),
      "query_bytes_p50" -> Stats.median(ofKind("query").map(o => (o.readBytes + o.writtenBytes).toDouble)),

      "stored_bytes_per_input_byte" -> w.publishedBytes.toDouble / math.max(1L, w.inputBytes))

    val failed = r.ops.count(_.failed) + r.checkFailures.length
    // the full report: every metric the benchmark measures, with sample counts
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "end_to_end" -> e2e)
    if (rows > 0) report("rows_per_s") = rows / math.max(opSeconds, 1e-9)
    Seq("write", "query").foreach { k =>
      val xs = kind(k)
      if (xs.nonEmpty) {
        val (p, v) = Stats.tail(xs)
        report(s"${k}_p50_s") = Stats.median(xs)
        report(s"${k}_tail_s") = Map("value" -> v, "percentile" -> p, "samples" -> xs.length)
      }
    }
    report("write_cpu_s") = Stats.median(ofKind("write").map(_.cpu))
    report("query_cpu_s") = Stats.median(ofKind("query").map(_.cpu))
    report("session_start_s") = sessionS
    report("setup_reps_s") = setups
    report("error_rate") = failed.toDouble / math.max(1, r.ops.length)
    report("heap_peak_mb") = heapMb
    report("operations") = r.ops.length
    report("checks") = r.checks
    report("check_failures") = r.checkFailures.toSeq
    report("cycles_timed") = timedCycles.length
    layerMetrics.foreach(m => report("per_layer") = m)
    val reportJson = Json.render(report)
    System.err.println(s"[perfbench] report $reportJson")
    Files.writeString(work.resolve("report.json"), reportJson)

    val metrics: Seq[(String, Double, String)] = layerMetrics match {
      case Some(m) => Layers.Units.map { case (n, u) => (n, m(n), u) }
      case None => EndToEnd.map { case (n, u) => (n, e2e(n), u) }
    }
    println(Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> r.ops.length,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }: _*))))
    if (failed == 0) 0 else 1
  }
}

/** Highest storage-memory use of cached and checkpointed blocks, sampled
  * between cycles.
  */
final class StoragePeak(spark: org.apache.spark.sql.SparkSession) {
  private var peak = 0L
  def reset(): Unit = peak = 0L
  def sample(): Unit = {
    val used = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (used > peak) peak = used
  }
  def peakMb: Double = peak / 1048576.0
}

/** Writes the traced run's spans and counts once, at the end. */
object TraceFile {
  def write(p: Path): Unit = {
    val all = Trace.allSpans
    val spans = all.map(s => mutable.LinkedHashMap[String, Any](
      "run" -> Trace.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_s" -> Trace.selfSeconds(s, all)))
    val counts = Trace.allCounts.map { case (n, t, v) =>
      mutable.LinkedHashMap[String, Any]("run" -> Trace.runId, "name" -> n, "at_ms" -> t, "value" -> v)
    }
    val jobs = Trace.allJobs.map(j => mutable.LinkedHashMap[String, Any](
      "run" -> Trace.runId, "job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
      "execution" -> j.execId, "writes" -> Trace.execTarget(j.execId), "task_s" -> j.taskS))
    Files.writeString(p, Json.render(mutable.LinkedHashMap[String, Any](
      "run" -> Trace.runId, "spans" -> spans, "counts" -> counts, "jobs" -> jobs)))
  }
}

/** A small JSON writer for the result and report objects. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }
}
