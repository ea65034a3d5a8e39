package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's scale-oriented defaults.
  *
  * Local runs use `local[N]`; on a real cluster the same configs apply
  * unchanged — AQE handles runtime re-planning (skew joins, partition
  * coalescing), and shuffle partitions are sized by the launcher, not
  * hardcoded to the 200 default.
  */
object GraftSession {

  /** Scale-aware AQE start-partition count — one number derived from the
    * input footprint instead of the flat 256 of round 10.
    *
    * Two measured anchor points (BASELINE.md round-10/11 attribution):
    *  - at sf0.1 (~18 MB compressed input) a 256-start shape costs ~3.8 s
    *    of per-exchange fixed overhead on the many-tiny-exchange warehouse
    *    chains, while 32 (= cpus) is their round-8 optimum;
    *  - at sf10 (~300 MB compressed) the gram shuffles NEED ~256 starts or
    *    partition size grows with the data and spills (the defect the 256
    *    setting originally fixed on x3's sf10 probe).
    * One start partition per 2 MB of compressed input hits both anchors:
    * parquet text decompresses ~4-6× and the gram/shingle exchanges expand
    * a further ~5-10×, so 2 MB of input is ~64 MB — the AQE advisory size
    * — of worst-case shuffle bytes. Floor at `cpus` (never fewer starts
    * than cores), cap at 4096 (a real cluster's launcher raises it with
    * the executor count, same as `spark.sql.shuffle.partitions`).
    */
  def initialPartitions(inputBytes: Long, cpus: Int): Int = {
    val want = (inputBytes / (2L << 20)).max(1L).min(1L << 40)
    var p = 1L
    while (p < want) p <<= 1
    p.max(cpus.toLong).min(4096L).toInt
  }

  /** Recursive on-disk footprint of a dataset directory (0 if absent) —
    * the `inputBytes` feed for [[initialPartitions]] in local tools; a
    * cluster launcher would pass the catalog's table statistics instead.
    */
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }

  /** The conf the driver mains ([[graft.Bench]], [[graft.Verify]],
    * [[graft.Probe]]) run the queries under, so the program Bench times
    * is the one Verify checks and Probe profiles. Pure: the mains read
    * the environment and pass it in. Unlike [[local]], it installs no
    * `GraftExtensions`.
    *
    * `initialParts` pins the AQE start-partition count (an A/B run's
    * SPARK_GRAFT_INITIAL_PARTS); otherwise it is derived from the input
    * footprint by [[initialPartitions]].
    */
  def dataConf(sfDir: String, cpus: Int, initialParts: Option[Int] = None)
      : Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // see `local`: coalesce tiny exchanges to the advisory size instead of
    // pinning every stage at `cpus` tasks, floored at 8 tasks for
    // compute-dense narrow shuffles
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "8",
    // start exchanges wide and let AQE coalesce DOWN to the advisory size:
    // a fixed cpus-sized count made partitions grow with the data
    // (measured 1.7x on the 100x probe's gram shuffle), while a flat 256
    // paid ~3.8 s per warehouse chain at sf0.1 (round-10/11 A/B) —
    // 32 starts at sf0.1, 256 at sf10
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      initialParts.getOrElse(initialPartitions(dirBytes(sfDir), cpus)).toString,
    // single-JVM local run: the executor IS the driver, so heartbeat
    // eviction is pure downside — under full 32-thread load at sf1 the
    // heartbeater starved past the 120 s default, HeartbeatReceiver
    // evicted the local executor, and the fork died with exit 56
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.network.timeout" -> "800s",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** A driver main's session: [[dataConf]] with SPARK_GRAFT_CPUS (default
    * 4) and SPARK_GRAFT_INITIAL_PARTS from the environment, logging at
    * SPARK_GRAFT_LOGLEVEL (default WARN).
    */
  def forData(sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .config(dataConf(sfDir, sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
        sys.env.get("SPARK_GRAFT_INITIAL_PARTS").map(_.toInt)))
      .getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))
    spark
  }

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(graft.functions.GraftExtensions.install)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // respect the 64 MB advisory size when coalescing instead of refusing
      // to drop below default parallelism (Spark's tuning-guide-recommended
      // setting): small exchanges collapse to the few tasks their data
      // merits rather than paying cores× task-scheduling overhead per
      // stage, and at 100 TB the advisory size — not this flag — governs
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // ...but never below 8 tasks: byte-based coalescing is blind to
      // compute density, and a narrow (id, id, score) candidate stream
      // whose rows each cost a 64-dim dot product coalesced to ONE task at
      // sf1 (observed: a single thread grinding 50 M pairs for 20+ min
      // while 31 cores idled). A floor of 8 caps that hazard at 8× while
      // keeping small exchanges far under the cores× task count.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", "8")
      // decouple partition SIZE from data scale: exchanges start wide and
      // AQE coalesces down to the 64 MB advisory size, so a 100x corpus
      // gets 100x the reducers instead of 100x the partition size (the
      // fixed cpus-sized count spilled the big gram shuffles — measured on
      // the sf10 probe, BASELINE.md round-10 100x section). The count is
      // input-footprint-derived via [[initialPartitions]] — a flat 256
      // costs ~3.8 s of per-exchange fixed overhead on the many-tiny-
      // exchange chains at sf0.1 (round-10/11 A/B) — with 256 as the
      // no-footprint-known fallback here.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // local-mode heartbeats (executor == driver) only exist to be missed
      // under full-core load; see Bench for the observed eviction cascade
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "800s")
      .config("spark.sql.session.timeZone", "UTC")
      // driver testdata stores TIMESTAMP(NANOS) which Spark's parquet reader
      // rejects; read as long and convert in Tables (truncation to micros,
      // matching DuckDB's own ns→us handling)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Reads the driver's per-scale-factor parquet tables, canonicalizing
  * nanosecond timestamps (read as long via `nanosAsLong`) back to
  * TimestampType by truncation to microseconds — the same conversion DuckDB
  * applies, so oracle comparisons stay exact.
  */
object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.LongType

  private val TimestampCols = Set("ts")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (acc, f) if TimestampCols(f.name) && f.dataType == LongType =>
        acc.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000")))
      case (acc, _) => acc
    }
  }
}
