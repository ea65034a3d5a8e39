package graftbench

/** Per-layer metrics of a traced phase, from the benchmark's spans and
  * Spark's job and plan records. Jobs are attributed to the
  * operation or span whose interval contains their start; inside a
  * warehouse load, to a layer by the table their SQL execution writes.
  * A layer that does no work in a workload reads 0.
  */
object Layers {

  import Trace.{Job, Span}

  /** Per-layer metric names, in report order. */
  val Names: Seq[String] = Seq(
    "ingest.task_s", "ingest.bytes_read", "ods.task_s", "ods.bytes_written",
    "dw.task_s", "dw.fact.bytes_written", "dw.fact.write_amp", "dw.fact.files",
    "pipeline.jobs", "pipeline.driver_gap_s", "pipeline.plan_s", "pipeline.shuffle_bytes",
    "pipeline.spill_bytes",
    "analytics.busy_s", "analytics.plan_s", "analytics.jobs", "analytics.bytes_read",
    "ext.lang_id.busy_s", "ext.exact.busy_s", "ext.gopher.busy_s", "ext.simhash.busy_s",
    "ext.clusters.busy_s", "ext.budget.busy_s", "ext.shuffle_bytes", "ext.spill_bytes",
    "ext.driver_gap_s", "ext.kept_ratio", "ext.near_dup_pairs",
    "util.scan.write_sharded.busy_s", "util.scan.read_pruned.busy_s",
    "util.scan.delete_deferred.busy_s", "util.scan.apply_dv.busy_s",
    "util.scan.jobs_per_verb", "util.scan.driver_gap_s", "util.scan.candidates_per_lookup",
    "util.scan.bloom_fp_ratio", "util.scan.apply_dv.bytes_rewritten_per_row_removed",
    "jvm.gc_s", "jvm.gc_pause_max_s", "spark.storage_peak_mb")

  /** Every per-layer metric with its unit, the tracing overhead last. */
  val Units: Seq[(String, String)] = Names.map { n =>
    n -> (if (n.endsWith("_s")) "s"
      else if (n.endsWith("bytes_per_row_removed")) "bytes/row"
      else if (n.contains("bytes")) "bytes"
      else if (n.endsWith("_mb")) "MB"
      else if (n.endsWith(".files")) "files"
      else if (n.endsWith("jobs") || n.endsWith("jobs_per_verb") || n.endsWith("pairs") ||
        n.endsWith("candidates_per_lookup")) "count"
      else "ratio")
  } ++ Seq("trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio")

  /** Layer of a warehouse write, from its output path. */
  def layerOf(target: String): String =
    if (target.contains("/stg/") || target.contains("/rejected")) "ingest"
    else if (target.contains("/ods/")) "ods"
    else if (target.contains("/dw/")) "dw"
    else "pipeline"

  private def within(jobs: Seq[Job], s: Double, e: Double): Seq[Job] =
    jobs.filter(j => j.start >= s && j.start <= e)

  /** Wall time of an interval not covered by any of its jobs. */
  def driverGap(s: Double, e: Double, jobs: Seq[Job]): Double = {
    var covered = 0.0
    var cur = s
    jobs.map(j => (j.start.max(s), j.end.min(e))).filter(x => x._2 > x._1).sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cur) { covered += b - a.max(cur); cur = b }
      }
    ((e - s) - covered).max(0.0) / 1000.0
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def compute(spans: Seq[Span], jobs: Seq[Job], plans: Seq[Trace.Plan],
      counts: Seq[(String, Double, Double)],
      readings: Map[String, Double], gcS: Double, storagePeakMb: Double): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double](Names.map(_ -> 0.0): _*)
    def countsOf(name: String) = counts.filter(_._1 == name).map(_._3)

    // warehouse loads
    val loads = spans.filter(_.name == "load.batch")
    if (loads.nonEmpty) {
      val n = loads.length.toDouble
      val perLoad = loads.map(s => within(jobs, s.start, s.end))
      val all = perLoad.flatten
      def byLayer(l: String) = all.filter(j => layerOf(Trace.execTarget(j.execId)) == l)
      m("ingest.task_s") = byLayer("ingest").map(_.taskS).sum / n
      m("ingest.bytes_read") = byLayer("ingest").map(_.inBytes).sum / n
      m("ods.task_s") = byLayer("ods").map(_.taskS).sum / n
      m("ods.bytes_written") = byLayer("ods").map(_.outBytes).sum / n
      m("dw.task_s") = byLayer("dw").map(_.taskS).sum / n
      val factWritten = all.filter(j => Trace.execTarget(j.execId).contains("T_FACT_Events"))
        .map(_.outBytes).sum.toDouble
      m("dw.fact.bytes_written") = factWritten / n
      val addedBytes = countsOf("dw.fact.rows_added").sum * readings.getOrElse("fact_bytes_per_row", 0.0)
      m("dw.fact.write_amp") = if (addedBytes > 0) factWritten / addedBytes else 0.0
      m("dw.fact.files") = readings.getOrElse("fact_files", 0.0)
      m("pipeline.jobs") = all.length / n
      m("pipeline.driver_gap_s") = mean(loads.zip(perLoad).map { case (s, js) => driverGap(s.start, s.end, js) })
      m("pipeline.plan_s") = loads.map(s => plans.filter(p => p.start >= s.start && p.start <= s.end)
        .map(_.planS).sum).sum / n
      m("pipeline.shuffle_bytes") = all.map(_.shuffleBytes).sum / n
      m("pipeline.spill_bytes") = all.map(_.spillBytes).sum / n
    }

    // dashboard reads
    val queries = spans.filter(_.name == "query.dashboard")
    if (queries.nonEmpty) {
      val n = queries.length.toDouble
      val js = queries.flatMap(s => within(jobs, s.start, s.end))
      m("analytics.busy_s") = js.map(_.taskS).sum / n
      m("analytics.jobs") = js.length / n
      m("analytics.bytes_read") = js.map(_.inBytes).sum / n
      m("analytics.plan_s") = queries.map(s => plans.filter(p => p.start >= s.start && p.start <= s.end)
        .map(_.planS).sum).sum / n
    }

    // curation calls
    val ext = spans.filter(_.name.startsWith("ext."))
    if (ext.nonEmpty) {
      val passes = math.max(1, spans.count(_.name == "ext.lang_id")).toDouble
      ext.groupBy(_.name).foreach { case (name, ss) =>
        m(s"$name.busy_s") = ss.flatMap(s => within(jobs, s.start, s.end)).map(_.taskS).sum / ss.length
      }
      val js = ext.flatMap(s => within(jobs, s.start, s.end))
      m("ext.shuffle_bytes") = js.map(_.shuffleBytes).sum / passes
      m("ext.spill_bytes") = js.map(_.spillBytes).sum / passes
      m("ext.driver_gap_s") = ext.map(s => driverGap(s.start, s.end, within(jobs, s.start, s.end))).sum / passes
      m("ext.kept_ratio") = mean(countsOf("ext.kept_ratio"))
      m("ext.near_dup_pairs") = mean(countsOf("ext.near_dup_pairs"))
    }

    // sharded-table verbs
    val verbs = spans.filter(_.name.startsWith("util.scan."))
    if (verbs.nonEmpty) {
      verbs.groupBy(_.name).foreach { case (name, ss) =>
        m(s"$name.busy_s") = ss.flatMap(s => within(jobs, s.start, s.end)).map(_.taskS).sum / ss.length
      }
      m("util.scan.jobs_per_verb") = verbs.map(s => within(jobs, s.start, s.end).length).sum.toDouble / verbs.length
      m("util.scan.driver_gap_s") = mean(verbs.map(s => driverGap(s.start, s.end, within(jobs, s.start, s.end))))
      val cands = countsOf("util.scan.candidates")
      m("util.scan.candidates_per_lookup") = mean(cands)
      val fp = countsOf("util.scan.false_candidates").sum
      m("util.scan.bloom_fp_ratio") = if (cands.sum > 0) fp / cands.sum else 0.0
      val applied = verbs.filter(_.name == "util.scan.apply_dv")
      val removed = countsOf("util.scan.apply_dv.rows_removed").sum
      val rewritten = applied.flatMap(s => within(jobs, s.start, s.end)).map(_.outBytes).sum.toDouble
      m("util.scan.apply_dv.bytes_rewritten_per_row_removed") = if (removed > 0) rewritten / removed else 0.0
    }

    m("jvm.gc_s") = gcS
    m("jvm.gc_pause_max_s") = Trace.gcPauseMaxS
    m("spark.storage_peak_mb") = storagePeakMb
    m.toMap
  }
}
