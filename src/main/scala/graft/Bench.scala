package graft
import org.apache.spark.sql.DataFrame
object Bench {
  /** Materialize the FULL result — every projected column and the final
    * sort — via the noop sink. A bare `df.count()` lets Catalyst's
    * ColumnPruning delete the projections and EliminateSorts drop the
    * trailing orderBy, so narrow select-shaped queries would be timed as
    * little more than parquet scans while the DuckDB baseline computes
    * complete results. The noop writer consumes the physical plan as-is
    * (same work Verify's parquet write does, minus encoding I/O).
    */
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Touch the heap to its high-water mark ONCE, before any timed window.
    *
    * This VM lazily backs heap pages at ~40 MB/s on first write (BASELINE.md
    * round-5 diagnosis): pinning -Xms commits the address range but does not
    * back it, so the first cold bench of a round paid ~16 GB of first-touch
    * faults *inside* the timed queries, inflating every class 2-7× vs an
    * immediate rerun (r5: official 211.8 s vs rerun 74.8 s, same commit).
    * Allocating and writing through ~70% of -Xmx here converts that one-time
    * cost into visible startup time so rep 1 measures steady state. One byte
    * per 4 KiB page suffices — the fault, not the store, is the cost.
    * SPARK_GRAFT_PRETOUCH=0 skips (e.g. for quick single-query iteration).
    */
  /** @return true if the pre-touch itself hit an OutOfMemoryError (recorded
    *         in bench.json as `"pretouch_oome":true` so a reader can weigh
    *         the numbers, but the run CONTINUES: at OOME time the heap is by
    *         definition touched to its allocatable limit — which is the
    *         goal — and round 7 proved that aborting here costs the round's
    *         entire bench artifact when the driver resizes the heap.)
    */
  private def preTouchHeap(): Boolean = {
    val t0 = System.nanoTime()
    // 1 MiB chunks: far below G1's humongous threshold (half a region —
    // regions are 32 MiB on a ~90 GiB heap), so the pre-touch exercises the
    // normal young/old allocation path instead of fragmenting the heap with
    // humongous regions. Round 7's 64 MiB humongous arrays OOME'd at ~60%
    // of max on a 90 GiB heap for exactly that reason.
    val chunk = 1 << 20
    val max = Runtime.getRuntime.maxMemory()
    // absolute headroom: never aim within 8 GiB of max — live Spark/driver
    // state plus GC slack needs room regardless of how big the heap is
    val target = math.min((max * 0.7).toLong, max - (8L << 30)).max(0L)
    val n = (target / chunk).toInt
    // hold every chunk live until the end: without the references the GC
    // recycles the same young regions and most of the heap stays untouched
    val hold = new Array[Array[Byte]](n)
    var i = 0
    var oome = false
    try {
      while (i < n) {
        val a = new Array[Byte](chunk)
        var j = 0
        while (j < chunk) { a(j) = 1; j += 4096 }
        hold(i) = a
        i += 1
      }
    } catch { case _: OutOfMemoryError => oome = true }
    java.util.Arrays.fill(hold.asInstanceOf[Array[AnyRef]], null)
    System.gc()
    if (oome) System.err.println(
      "[bench] heap pre-touch hit OutOfMemoryError — heap touched to its " +
        "allocatable limit; continuing with pretouch_oome marker.")
    System.err.println(f"[bench] heap pre-touch: ${i.toLong * chunk / (1L << 20)} MiB in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    oome
  }

  /** First three /proc/loadavg fields — the run's weather report. */
  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ")
      finally src.close()
    } catch { case _: Throwable => "" }

  /** Host-steal ticks (/proc/stat cpu field 8) — a large delta across the
    * run means the hypervisor stole cycles and the numbers are suspect.
    */
  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().find(_.startsWith("cpu "))
          .getOrElse("").trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    // machine-state capture bracketing the whole run (r12 verdict item 3:
    // the official artifact must carry its own weather report — a loaded
    // box produced phantom 2-6x regressions the driver record could not
    // self-adjudicate); per-rep 1-min loads go to target/bench_load.json
    val load0 = loadavg()
    val steal0 = stealTicks()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.GraftSession.forData(sfDir)
    // SPARK_GRAFT_ONLY=a,b,c runs a subset — for iterating on one query and
    // for the sf1 scale probe (BASELINE.md) without paying the full suite
    val queries = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val pretouchOome =
      if (sys.env.getOrElse("SPARK_GRAFT_PRETOUCH", "1") != "0") preTouchHeap()
      else false
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Median-of-N timing: single-run totals on this machine swing 63-90 s
    // under background load (BASELINE.md), which is larger than every
    // remaining per-query gap vs the oracle — one sample can't adjudicate a
    // 2× bar. Each query runs `reps` consecutive times (cache cleared
    // between) and reports its MEDIAN; per-rep raw times go to
    // target/bench_runs.json so the spread stays inspectable without
    // bloating the driver's one-line JSON.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val runs = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // per-query exchange-width overrides (SparkEntry.initialParts): applied
    // around BOTH the warm-ups and the timed reps, restored to the session
    // default after
    val defaultParts =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val loads = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    val results = queries.map { case (name, fn) =>
      SparkEntry.setInitialParts(spark, name, defaultParts)
      // Untimed warm-up run IMMEDIATELY before the query's timed reps — a
      // single suite-level warm-up pass decayed by the time a late query's
      // reps ran (JIT code cache evicted, file cache cold, previous
      // queries' blocks pending cleanup), so first reps measured 1.5-3×
      // their steady state and dragged every median up. Per-query warm-up
      // costs the same total invocations and times the steady state.
      // the e2e chains execute ~60 jobs across dozens of generated classes
      // and need TWO untimed executions before rep 1 measures steady state
      // (measured: isolated reps decayed 38 → 21 → 16 s with one warm-up —
      // a JIT ramp, not state growth; rep 3 ≈ rep 6); everything else
      // stabilizes after one
      val warmups = if (name.startsWith("e2e")) 2 else 1
      (1 to warmups).foreach { w =>
        System.err.println(s"[bench] $name warmup $w/$warmups start")
        try force(fn(spark, sfDir)) catch {
          // swallowed for timing purposes, but NEVER silently: a failed
          // warm-up means the timed reps run against different JVM/FS state
          // than intended, and that must be visible when reading the log
          case e: Throwable => System.err.println(s"[bench] $name warmup FAILED: $e")
        }
      }
      spark.catalog.clearCache()
      System.gc()
      val repLoads = scala.collection.mutable.ArrayBuffer[String]()
      val times = (1 to reps).map { rep =>
        System.err.println(s"[bench] $name rep $rep start")
        repLoads += loadavg().split(" ").headOption.getOrElse("")
        val t0 = System.nanoTime()
        // a failed query must not masquerade as a fast one — record it
        try { force(fn(spark, sfDir)) } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name rep $rep done: $dt%.2f s")
        // operators may persist intermediates; drop them so no query is
        // timed against another query's leftover cache or storage pressure.
        // The explicit GC (outside the timed window) lets the ContextCleaner
        // reclaim orphaned localCheckpoint RDDs and broadcasts NOW instead
        // of mid-way through a later query — without it, suite-cumulative
        // block-manager pressure inflated the heavy queries up to 2×.
        spark.catalog.clearCache()
        System.gc()
        dt
      }
      runs(name) = times
      loads(name) = repLoads.toSeq
      name -> times.sorted.apply((times.size - 1) / 2)
    }
    val load1 = loadavg()
    val stealDelta = {
      val s1 = stealTicks()
      if (steal0 < 0 || s1 < 0) -1L else s1 - steal0
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // ms precision: the driver captures only a tail window of the run log,
    // and a full-precision line for 60+ queries overflows it (the JSON's
    // front gets truncated → unparseable; happened rounds 1 AND 2)
    def ms(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => jstr(k) + ":" + ms(v) }
      .mkString("{", ",", "}")
    // per-query min beside the median: this box's host-steal bursts can
    // poison 2 of 3 reps (r8: x39 medianed [3.28, 3.84, 0.58] as 3.28 —
    // noise read as regression until the raw runs were re-derived); the
    // min is the steal-resistant floor a reader can compare without
    // digging through bench_runs.json
    val qsMin = runs.map { case (k, ts) => jstr(k) + ":" + ms(ts.min) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v.take(120)) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // stdout keeps the original compact shape (the driver's tail window
    // truncates long lines — rounds 1 AND 2 lost the whole JSON to that);
    // queries_min rides only in target/bench.json, which has no size limit
    val machine = s""""load_before":${jstr(load0)},"load_after":${jstr(load1)},"steal_delta":$stealDelta"""
    val json =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","reps":$reps,"pretouch_oome":$pretouchOome,$machine,"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    val jsonFull =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","reps":$reps,"pretouch_oome":$pretouchOome,$machine,"queries":$qs,"queries_min":$qsMin,"errors":$errs,"sf":"$sfDir"}"""
    val runsJson = runs.map { case (k, ts) =>
      jstr(k) + ":" + ts.map(ms).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val runsOut = java.nio.file.Paths.get("target/bench_runs.json")
    java.nio.file.Files.createDirectories(runsOut.getParent)
    java.nio.file.Files.write(runsOut, runsJson.getBytes("UTF-8"))
    // per-rep 1-min loadavg at rep start, parallel to bench_runs.json —
    // a wild outlier rep (r12: a 76 s rep on a ~2 s query) self-annotates
    val loadJson = loads.map { case (k, ls) =>
      jstr(k) + ":" + ls.map(jstr).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_load.json"),
      loadJson.getBytes("UTF-8"))
    // a known file for the driver, plus stdout — printed TWICE so any tail
    // window at least one full line long contains a complete parseable copy
    // even when the window boundary falls mid-line
    println(json)
    println(json)
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, jsonFull.getBytes("UTF-8"))
    spark.stop()
  }
}
