package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MANIFEST-PRUNED READS — the consumer side of the data-skipping toolkit
  * (the piece that makes the sidecars route real I/O): a shard-partitioned
  * parquet table written together with its per-shard stats manifest
  * ([[graft.ext.Corpus.shardStats]] — n_rows, per-column min/max/NDV) and
  * optional per-shard bloom index ([[graft.ext.Corpus.bloomBitsTable]]),
  * and reads that consult ONLY those manifests to enumerate candidate
  * shard directories and hand the parquet reader just those paths. This is
  * the lakehouse scan-planning step (Delta/Iceberg `add_file` stats +
  * bloom skipping) done engine-agnostically: predicate → candidate shards
  * → read only those files, with the untouched shards never opened, never
  * even listed past the manifest row.
  *
  * Layout on disk (all sidecars `_`-prefixed, so plain parquet reads of
  * the table directory ignore them):
  * {{{
  *   table/
  *     shard=0/part-*.parquet     — rows, zvalue-sorted within the file
  *     shard=1/…
  *     _graft_stats/              — shardStats manifest (rows = shards)
  *     _graft_bloom/              — bloomBitsTable + key_col (optional)
  * }}}
  *
  * Write and sidecars publish ATOMICALLY through
  * [[graft.dw.Merge.atomicOverwriteDir]]'s rename-pair swap, so a reader
  * never sees data without its manifests or a manifest describing files
  * that are not there. The pruned-read contract is transparency:
  * `readPrunedByRange(ranges)` ≡ full scan + the same conjunctive range
  * filter (candidate enumeration over-approximates — min/max overlap for
  * ranges, bloom maybe for equality — and the residual filter runs on the
  * rows read, so over-approximation costs I/O, never correctness; rows
  * whose predicate column is NULL match no predicate on either path).
  *
  * Scale shape: the manifests are rows = shards (KBs at 100 TB — Delta
  * checkpoints are the existence proof); candidate enumeration is a
  * driver-side filter-collect over that manifest — the scan-planning step
  * every lakehouse reader performs, bounded by shard count, never by data.
  * The data read is `|candidate shards| / |shards|` of the corpus; with a
  * z-ordered layout underneath, a d-dimensional predicate keeps that
  * fraction small on EVERY clustered dimension (measured: ZorderProbe).
  */
object Scan {

  /** Bound on every publish-path Await (sidecar futures, manifest
    * passes): finite and under the 15-min writer-lease default, so a
    * hung background write fails the publish LOUDLY while this writer
    * still holds the lease — instead of parking a thread forever while
    * the lease expires and a second writer breaks it. */
  private val SidecarAwait = scala.concurrent.duration.Duration(
    10, java.util.concurrent.TimeUnit.MINUTES)

  val StatsSidecar = "_graft_stats"
  val BloomSidecar = "_graft_bloom"
  val MetaSidecar = "_graft_meta"
  val DictSidecar = "_graft_dicts"
  val SchemaSidecar = "_graft_schema"
  val DvSidecar = "_graft_dv"

  /** A second writer raced this table's lease and must NOT proceed —
    * retry after the holder completes. Nothing was mutated. */
  class ConcurrentWriterException(msg: String)
    extends RuntimeException(msg)

  /** TABLE HISTORY — a generation counter + audit log for sharded
    * tables, as a SIBLING directory (`<dir>__log/`, like the lock:
    * directory swaps must not destroy it). One tiny file per completed
    * mutation, named `<gen 12-digit>-<verb>`, body `verb|detail`;
    * generations are monotonic (entries are created under the writer
    * lease, so max+1 cannot race). What it gives a 100 TB deployment:
    *
    *  - [[tableGeneration]] — an O(listing) "has this table changed
    *    since gen G" probe for incremental consumers (downstream
    *    caches, scheduled jobs) that otherwise re-derive freshness by
    *    diffing manifests;
    *  - [[tableHistory]] — the audit trail (what verb, when in the
    *    sequence, how many rows) compliance asks for after a takedown.
    *
    * Contract, stated honestly: entries are written AFTER a mutation's
    * commit point, and ONLY for mutations that changed state (no-ops
    * don't bump the generation — a maintained mount's steady-state
    * no-op retention pass must not look like change). A crash in the
    * window between a mutation's last commit step and its log write
    * loses that entry — the crash protocols converge the DATA, and the
    * next completed mutation's entry re-signals change; a consumer
    * needing hard freshness reads the manifests, the log is telemetry
    * and audit, never load-bearing for correctness. [[vacuumTable]]
    * truncates the log to its newest [[LogKeep]] entries (generation
    * numbering survives truncation — it lives in the file names).
    */
  val LogKeep = 256

  private def logDir(dir: String) = new Path(dir + "__log")

  private[graft] def logEntry(spark: SparkSession, dir: String,
      verb: String, detail: String): Unit = {
    val fs = logDir(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(logDir(dir))
    val gen = tableGeneration(spark, dir) + 1
    val out = fs.create(new Path(logDir(dir), f"$gen%012d-$verb"), false)
    out.write(s"$verb|$detail".getBytes("UTF-8"))
    out.close()
  }

  /** The table's current generation: 0 for a table with no history,
    * else the newest log entry's number. One directory listing. */
  def tableGeneration(spark: SparkSession, dir: String): Long = {
    val fs = logDir(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir(dir))) 0L
    else fs.listStatus(logDir(dir)).foldLeft(0L) { (m, st) =>
      val n = st.getPath.getName.takeWhile(_.isDigit)
      if (n.isEmpty) m else math.max(m, n.toLong)
    }
  }

  /** The table's mutation history, oldest first: (generation, verb,
    * detail). Truncated to the newest [[LogKeep]] entries by vacuum —
    * the generation numbers expose the truncation honestly. */
  def tableHistory(spark: SparkSession, dir: String)
      : Seq[(Long, String, String)] = {
    val fs = logDir(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir(dir))) Nil
    else fs.listStatus(logDir(dir)).toSeq
      .filter(_.getPath.getName.headOption.exists(_.isDigit))
      .sortBy(_.getPath.getName)
      .map { st =>
        val gen = st.getPath.getName.takeWhile(_.isDigit).toLong
        val len = st.getLen.toInt
        val in = fs.open(st.getPath)
        val body = try {
          val buf = new Array[Byte](len)
          in.readFully(0, buf)
          new String(buf, "UTF-8")
        } finally in.close()
        val (verb, detail) = body.span(_ != '|')
        (gen, verb, detail.drop(1))
      }
  }

  // table dirs whose lease THIS thread already holds (re-entrancy: a
  // compaction's internal writeSharded must not dead-lock on its own
  // lease; streaming mounts run each micro-batch on one thread)
  private val heldLeases = new ThreadLocal[
      scala.collection.mutable.Set[String]] {
    override def initialValue() =
      scala.collection.mutable.Set.empty[String]
  }

  // SAME-PROCESS lease arbitration: dir -> (expiry epoch ms, token).
  // `FileSystem.create(…, overwrite = false)` is atomic-exclusive on
  // HDFS but CHECK-THEN-CREATE on the local filesystem — two threads of
  // one JVM could both pass the existence check, both "acquire", and
  // collide inside the same swap-tmp path (observed: interleaved
  // appenders' stats swaps, FileNotFoundException mid-rename). A
  // `putIfAbsent` here decides same-process races atomically; the lock
  // FILE remains the cross-process protocol on filesystems whose create
  // primitive is genuinely exclusive.
  private val jvmLeases =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  // PER-VERB-CHAIN sidecar-config memo (guide §6 — the driver constant
  // IS the mutation family's floor: VERDICT r16 measured x161 at 4.1 s
  // wall vs 1.5 s summed job time). The 1-row meta sidecar and the 0-row
  // schema sidecar are read-only during every mutation chain — only the
  // evolve verbs and whole-table republishes change them — yet a single
  // upsert re-reads them ~8×, and each readMeta is a parquet listing +
  // footer read plus a collect-limit-1 JOB (~20–50 ms of driver time).
  // Every public verb opens a scope here; within it readMeta /
  // tableSchemaOf memoize per table dir, and the few sites that WRITE
  // either sidecar invalidate the entry. The scope dies with the
  // outermost verb on this thread — nothing is cached across calls, let
  // alone across queries or runs.
  private final class SidecarCtx {
    val meta = scala.collection.mutable.Map.empty[String,
      Option[TableMeta]]
    val schema = scala.collection.mutable.Map.empty[String,
      Option[org.apache.spark.sql.types.StructType]]
    // (table dir, sidecar name) → that sidecar's parquet schema, so
    // repeat constructions within one chain skip schema INFERENCE —
    // a ~25 ms job per `spark.read.parquet` (x175 profile). The FRAME
    // is never cached (files legally change mid-chain); every write to
    // a sidecar invalidates its entry (the append fold can ADD
    // `_stale_rows`, an evolve adds envelope columns).
    val sidecarSchema = scala.collection.mutable.Map.empty[
      (String, String), org.apache.spark.sql.types.StructType]
  }
  private val sidecarCtx = new ThreadLocal[SidecarCtx]

  private[graft] def withSidecarCtx[T](body: => T): T =
    if (sidecarCtx.get != null) body // re-entrant: inner verbs share it
    else {
      sidecarCtx.set(new SidecarCtx)
      try body finally sidecarCtx.remove()
    }

  private def invalidateSidecarCtx(dir: String): Unit = {
    val c = sidecarCtx.get
    if (c != null) {
      val k = new Path(dir).toString
      c.meta.remove(k)
      c.schema.remove(k)
      c.sidecarSchema.filterInPlace { case ((d, _), _) => d != k }
    }
  }

  private def invalidateSidecarSchema(dir: String, name: String): Unit = {
    val c = sidecarCtx.get
    if (c != null) c.sidecarSchema.remove((new Path(dir).toString, name))
  }

  /** After a sidecar WRITE whose frame we just built, the on-disk schema
    * IS that frame's schema — record it instead of forcing the next
    * construction to re-infer (each re-inference is a job). */
  private def noteSidecarSchema(dir: String, name: String,
      df: DataFrame): Unit = {
    val c = sidecarCtx.get
    if (c != null)
      c.sidecarSchema((new Path(dir).toString, name)) = df.schema
  }

  /** Settle concurrent sidecar swaps (`frames(i)` was swapped into
    * sidecar `name` by the future behind `done(i)`): a swap that landed
    * wrote exactly its frame, so its schema is noted; a FAILED swap may
    * have left either version on disk, so its entry is invalidated and
    * the next construction re-infers. Then the first failure rethrows. */
  private def settleSidecarSwaps(dir: String,
      frames: Seq[(String, DataFrame)],
      done: Seq[scala.util.Try[Unit]]): Unit = {
    frames.zip(done).foreach {
      case ((name, df), scala.util.Success(_)) =>
        noteSidecarSchema(dir, name, df)
      case ((name, _), _) => invalidateSidecarSchema(dir, name)
    }
    done.collectFirst { case scala.util.Failure(e) => throw e }
  }

  /** Construct a sidecar read, memoizing the sidecar's SCHEMA per verb
    * chain so repeat constructions skip parquet schema inference. The
    * data itself stays a fresh lazy frame every time. */
  private def readSidecar(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val path = s"$dir/$name"
    val c = sidecarCtx.get
    if (c == null) spark.read.parquet(path)
    else c.sidecarSchema.get((new Path(dir).toString, name)) match {
      case Some(sc) => spark.read.schema(sc).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        c.sidecarSchema((new Path(dir).toString, name)) = df.schema
        df
    }
  }

  /** CONCURRENT-WRITER SAFETY — the asserted writer lease every mutation
    * of a sharded table runs under. Two simultaneous mutators (an
    * `appendSharded` racing a `compactSharded` or `deleteByKeys`) would
    * otherwise both build against the same pre-state and the last
    * atomic swap would WIN SILENTLY, dropping the loser's rows; the
    * lease turns that into a loud [[ConcurrentWriterException]] on the
    * second writer, whose correct move is to retry (nothing was
    * mutated — the exception is thrown BEFORE any table state changes).
    *
    * Mechanism, two layers: same-process races are decided by an atomic
    * `putIfAbsent` on [[jvmLeases]] (the local filesystem's
    * `create(…, overwrite = false)` is check-then-create, NOT exclusive
    * — two threads of one JVM could both pass it); cross-process races
    * by `FileSystem.create(…, overwrite = false)` on a sibling lock
    * file (`<dir>__lock` — outside the table, so directory swaps
    * never destroy a held lease), which IS atomic-exclusive on HDFS:
    * exactly one of two racing writers creates it. The lock body
    * carries an expiry epoch + a holder token; a CRASHED writer's lease
    * is broken once expired (the table's crash protocols — swap
    * recovery, pending-delete roll-forward — run at the head of every
    * mutation, so the dead writer's partial state converges before new
    * work starts), and release deletes the lock only when the token is
    * still ours (a stale-break by another writer must not be released
    * on its behalf).
    *
    * `waitMs > 0` bounds a blocking acquire (200 ms polls) for callers
    * that prefer serializing to aborting — the reader-side recovery
    * path uses it. Object-store caveat: S3 lacks atomic
    * create-exclusive; there this becomes a conditional PUT
    * (If-None-Match) or an external lock service — same protocol, one
    * primitive swapped.
    */
  def withWriterLease[T](spark: SparkSession, dir: String,
      leaseMs: Long = 15 * 60 * 1000L, waitMs: Long = 0L)(
      body: => T): T = {
    val key = new Path(dir).toString
    if (heldLeases.get.contains(key)) return body // re-entrant
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lock = new Path(dir + "__lock")
    val token = java.util.UUID.randomUUID().toString
    def lockBody(): Option[String] =
      try {
        val len = fs.getFileStatus(lock).getLen.toInt
        val in = fs.open(lock)
        try {
          val buf = new Array[Byte](len)
          in.readFully(0, buf)
          Some(new String(buf, "UTF-8"))
        } finally in.close()
      } catch { case _: java.io.IOException => None }
    val deadline = System.currentTimeMillis() + waitMs
    def waitOrFail(): Unit =
      if (System.currentTimeMillis() < deadline) Thread.sleep(200)
      else throw new ConcurrentWriterException(
        s"$dir: another writer holds the lease ($lock) — retry " +
          "after it completes or expires")
    var acquired = false
    var slot: (Long, String) = null
    while (!acquired) {
      // layer 1: the same-process slot, decided atomically. An expired
      // in-JVM entry (a leaked lease — normally impossible: release
      // runs in `finally`) is broken the same way a stale file is.
      val now = System.currentTimeMillis()
      slot = (now + leaseMs, token)
      val cur = jvmLeases.get(key)
      if (cur != null && cur._1 >= now) waitOrFail()
      else if (cur != null) jvmLeases.remove(key, cur)
      else if (jvmLeases.putIfAbsent(key, slot) == null) {
        // layer 2: the cross-process lock file, under the JVM slot.
        // The outer finally guarantees the slot is released whenever
        // acquisition does not complete — including NON-IOException
        // throws from fs.create (which the catch below does not see);
        // without it a single failed acquire would block every
        // same-process writer on this table until the slot expires.
        try {
          try {
            val out = fs.create(lock, false)
            out.write(s"${System.currentTimeMillis() + leaseMs}|$token"
              .getBytes("UTF-8"))
            out.close()
            acquired = true
          } catch {
            case _: java.io.IOException =>
              // lock exists: stale (expired) → break it and re-race; live
              // → wait if allowed, else fail loudly. An unreadable or
              // still-empty body is treated as LIVE (a racing writer is
              // between its create and its write). The JVM slot is
              // released before waiting so a same-process writer is not
              // starved by a foreign process's lock.
              val expired = lockBody()
                .flatMap(_.split('|').headOption)
                .flatMap(s => scala.util.Try(s.toLong).toOption)
                .exists(_ < System.currentTimeMillis())
              if (expired) fs.delete(lock, false)
              jvmLeases.remove(key, slot)
              if (!expired) waitOrFail()
          }
        } finally if (!acquired) jvmLeases.remove(key, slot)
        if (!acquired) () // re-race both layers
      }
    }
    heldLeases.get += key
    try body finally {
      heldLeases.get -= key
      // release only OUR lease: a stale-break may have replaced it
      if (lockBody().exists(_.endsWith(token))) fs.delete(lock, false)
      jvmLeases.remove(key, slot)
    }
  }

  /** The table's durable manifest CONFIGURATION — a 1-row parquet sidecar
    * recording what the manifests cover (stats columns, bloom key/m/k)
    * and how the layout maps curve positions to shards (`z_total_bits`,
    * `n_shards` — what a re-shard needs). Written FIRST inside the swap's
    * tmp dir, before the data itself: [[graft.dw.Merge.recover]] promotes
    * a tmp once the DATA write's root `_SUCCESS` exists, so meta-first
    * ordering guarantees every crash-recovered table still carries its
    * configuration — [[refreshManifests]] can heal missing stats/bloom
    * sidecars with no operator-supplied knowledge (the round-14 recovery
    * gap: a recovered table was only repairable by someone who
    * independently knew the stats columns).
    */
  private[graft] case class TableMeta(statCols: Seq[String],
      shardCol: String, sortCol: Option[String], bloomKey: Option[String],
      bloomM: Int, bloomK: Int, zTotalBits: Option[Int],
      nShards: Option[Int])

  /** The meta sidecar's schema is FIXED by construction ([[writeMeta]]
    * always writes these eight columns) — supplying it to the read
    * skips parquet schema inference, which is a ~25 ms Spark JOB per
    * `spark.read.parquet` construction (measured in the x175 job
    * profile); the 1-row collect is then the chain's only meta job. */
  private val MetaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("stat_cols",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("shard_col",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("sort_col",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("bloom_key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("bloom_m",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bloom_k",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("z_total_bits",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("n_shards",
      org.apache.spark.sql.types.IntegerType)))

  private def writeMeta(spark: SparkSession, tableDir: String,
      meta: TableMeta): Unit = {
    import spark.implicits._
    Seq((meta.statCols, meta.shardCol, meta.sortCol, meta.bloomKey,
        meta.bloomM, meta.bloomK, meta.zTotalBits, meta.nShards))
      .toDF("stat_cols", "shard_col", "sort_col", "bloom_key",
        "bloom_m", "bloom_k", "z_total_bits", "n_shards")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tableDir/$MetaSidecar")
  }

  private[graft] def readMeta(spark: SparkSession,
      dir: String): Option[TableMeta] = {
    val c = sidecarCtx.get
    if (c == null) readMetaNow(spark, dir)
    else c.meta.getOrElseUpdate(new Path(dir).toString,
      readMetaNow(spark, dir))
  }

  private def readMetaNow(spark: SparkSession,
      dir: String): Option[TableMeta] = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/$MetaSidecar"))) None
    else {
      val r = spark.read.schema(MetaSchema)
        .parquet(s"$dir/$MetaSidecar").head()
      def optInt(c: String) =
        if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Int](c))
      def optStr(c: String) = Option(r.getAs[String](c))
      Some(TableMeta(r.getAs[scala.collection.Seq[String]]("stat_cols")
          .toSeq,
        r.getAs[String]("shard_col"), optStr("sort_col"),
        optStr("bloom_key"), r.getAs[Int]("bloom_m"),
        r.getAs[Int]("bloom_k"), optInt("z_total_bits"),
        optInt("n_shards")))
    }
  }

  /** The table's stats columns — from the meta sidecar when present, by
    * sniffing the stats manifest's `_min` columns otherwise (pre-meta
    * tables stay readable). */
  private[graft] def statColsOf(spark: SparkSession,
      dir: String): Seq[String] =
    readMeta(spark, dir).map(_.statCols).getOrElse(
      statsManifest(spark, dir).columns.toSeq
        .filter(_.endsWith("_min")).map(_.dropRight(4)))

  /** The table's bloom configuration (key column, m, k) — from the meta
    * sidecar when present, from a bloom manifest row otherwise. The
    * manifest-row fallback returns None on a ZERO-row bloom sidecar (a
    * delete can legally empty every shard, and the config must survive
    * that — which is exactly why the meta sidecar carries it). */
  private[graft] def bloomConfigOf(spark: SparkSession,
      dir: String): Option[(String, Int, Int)] =
    readMeta(spark, dir).flatMap(m =>
      m.bloomKey.map((_, m.bloomM, m.bloomK))).orElse {
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new Path(s"$dir/$BloomSidecar"))) None
      else bloomManifest(spark, dir)
        .select("key_col", "m", "k").limit(1).collect().headOption
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    }

  /** The table's persisted string-dimension dictionaries — the frozen
    * value→rank mappings its z-order layout was built with
    * ([[graft.ext.Corpus.stringDimDict]]), written as `_graft_dicts/
    * col=<c>/` sidecars by [[writeSharded]] so an append path recovers
    * the EXACT frame from the table itself (dict + bounds ARE the
    * frame for a string dim) instead of trusting the caller to have
    * kept a copy. Self-describing: the column set is the directory
    * listing. */
  def readDicts(spark: SparkSession,
      dir: String): Map[String, DataFrame] = {
    val p = new Path(s"$dir/$DictSidecar")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("col="))
      .map { s =>
        val c = s.getPath.getName.stripPrefix("col=")
        c -> spark.read.parquet(s.getPath.toString)
      }.toMap
  }

  /** Write `laid` — a frame already carrying `shardCol` (normally a
    * [[graft.ext.Corpus.zorderLayoutN]] assignment with the payload in
    * `keepCols`) — as a shard-partitioned parquet table with its stats
    * manifest (over `statCols`) and optional bloom index (over
    * `bloomKeyCol`), all published in ONE atomic swap. Rows are
    * range-grouped one task per shard (1 file per shard directory here;
    * at cluster scale add `maxRecordsPerFile` and the per-shard file set
    * stays a directory listing) and sorted within files by `sortCol`
    * when given (the z-order curve position), so every row group's
    * min/max envelope is as tight as the layout allows.
    *
    * Manifests are computed from the frame AS WRITTEN (one extra pass
    * over the tmp files, embarrassingly parallel per shard) — the
    * manifest describes the files, not the plan that produced them.
    */
  def writeSharded(spark: SparkSession, laid: DataFrame, dir: String,
      statCols: Seq[String], shardCol: String = "shard",
      sortCol: Option[String] = None, bloomKeyCol: Option[String] = None,
      bloomM: Int = 4096, bloomK: Int = 3,
      zTotalBits: Option[Int] = None, nShards: Option[Int] = None,
      maxRecordsPerFile: Long = 0L,
      dicts: Map[String, DataFrame] = Map.empty): Unit = {
    require(statCols.nonEmpty, "need at least one stats column")
    withSidecarCtx {
    withWriterLease(spark, dir) {
    graft.dw.Merge.atomicOverwriteDir(spark, dir) { tmp =>
      // meta FIRST: recover promotes on the DATA write's _SUCCESS, so
      // writing the configuration before the data means every
      // recoverable state carries it (see [[TableMeta]]); the data write
      // below uses append mode — tmp is freshly cleared, so the
      // semantics are identical, but overwrite mode would truncate the
      // directory and take the meta with it
      // the three configuration sidecars are independent tiny jobs with
      // distinct output dirs — submitted concurrently (the §2.6 sibling-
      // job overlap; ~0.1-0.2 s of scheduling fixed cost each when run
      // serially), and ALL awaited before the data write starts so the
      // meta/dicts/schema-before-data crash-safety ordering holds:
      // recover promotes on the DATA write's _SUCCESS, so every
      // recoverable state still carries its configuration
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val futs: Seq[Future[Unit]] = Seq(
          Future(writeMeta(spark, tmp, TableMeta(statCols, shardCol,
            sortCol, bloomKeyCol, bloomM, bloomK, zTotalBits,
            nShards))),
          // 0-row schema sidecar: a delete can legally empty EVERY
          // shard, after which the table dir holds only `_`-sidecars
          // and plain parquet schema inference fails — this keeps an
          // empty table readable (and the delete-recovery manifest
          // rebuild schema-safe). Built as an empty LocalRelation so
          // the write never plans (or risks executing) the layout
          // lineage behind `laid`.
          Future(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              laid.schema)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$tmp/$SchemaSidecar"))) ++
          // string-dim dictionaries are configuration too (dict +
          // bounds = the frozen frame): persisted with the meta,
          // before the data
          dicts.toSeq.map { case (c, d) =>
            Future(d.coalesce(1).write.mode("overwrite")
              .parquet(s"$tmp/$DictSidecar/col=$c"))
          }
        // await each INDIVIDUALLY (not a fail-fast Future.sequence) so a
        // failed sidecar never unwinds while siblings still write into
        // tmp — tmp is quiescent when the error-path cleanup runs; the
        // FIRST failure is rethrown after the drain. Finite timeout,
        // bounded under the lease term: a hung sidecar write must fail
        // the publish loudly before the lease expires and a second
        // writer breaks it.
        val done = futs.map(f => scala.util.Try(
          Await.result(f, SidecarAwait)))
        done.collectFirst { case scala.util.Failure(e) => throw e }
      }
      val parted = laid.repartition(col(shardCol))
      val sorted = sortCol.fold(parted)(c =>
        parted.sortWithinPartitions(shardCol, c))
      val writer =
        if (maxRecordsPerFile > 0)
          sorted.write.option("maxRecordsPerFile", maxRecordsPerFile)
        else sorted.write
      writer.partitionBy(shardCol).mode("append").parquet(tmp)
      // NULL shards (a z-order layout's unroutable NULL-dim rows) land
      // in Hive's default partition — a shard the int-keyed manifests
      // cannot name, so pruned reads would silently never see those
      // rows. Enforce the layout convention (the caller routes
      // unroutables explicitly) with a free FS probe; throwing here
      // aborts the swap and leaves the target untouched.
      val fs = new Path(tmp).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(new Path(
        s"$tmp/$shardCol=__HIVE_DEFAULT_PARTITION__")),
        s"writeSharded: rows with NULL $shardCol — route unroutable " +
          "(NULL-dimension) rows explicitly before publishing")
      writeManifests(spark, tmp, statCols, shardCol, bloomKeyCol,
        bloomM, bloomK)
    }
    // the swap replaced the whole table — a caller's chain (compact,
    // re-shard) must re-read meta/schema from the NEW version
    invalidateSidecarCtx(dir)
    logEntry(spark, dir, "publish",
      s"shards=${nShards.getOrElse(-1)} stat_cols=${statCols.mkString("+")}" +
        bloomKeyCol.fold("")(k => s" bloom=$k"))
    }
    }
  }

  /** APPEND a laid-out batch into an existing sharded table, keeping the
    * manifests fresh — the ingest leg of the lakehouse loop (write →
    * append per batch → compact on schedule), and the close of the gap
    * [[graft.util.Compaction.compactSharded]]'s spec exposes: a naive
    * `mode("append")` strands the sidecars stale and the pruned read
    * silently MISSES the appended rows.
    *
    * `laidBatch` carries `shardCol` (normally assigned against the
    * table's frozen z-order frame — [[graft.ext.Corpus
    * .zorderLayoutAgainstN]], so batch and corpus agree on shard
    * spaces). Steps, in a deliberately safe order:
    *
    *  1. id-dedup: batch rows whose `idCol` already exists in the
    *     TOUCHED shards' directories are dropped (a bounded per-shard
    *     probe — only the shards the batch lands in are read, never the
    *     table) — re-running a crashed append converges instead of
    *     duplicating;
    *  2. MANIFEST FIRST: the stats sidecar is atomically replaced with
    *     the fold of old rows + batch-side stats (min/max folds;
    *     `<c>_ndv` becomes the sum — an UPPER BOUND, the price of never
    *     re-reading untouched data; exact again at the next
    *     [[refreshManifests]]/`compactSharded`), and the bloom sidecar
    *     with the bitwise union of old bits + the batch keys' bits
    *     (`n_keys` likewise an upper bound). `n_rows` adds too, and
    *     under CRASH-RETRY it is also an upper bound, same reason as
    *     ndv: a crash after this fold but before step 3 lands the data
    *     means the retry's dedup probe sees no landed rows and folds
    *     the batch's counts a second time — wider-never-narrower is the
    *     crash-safety invariant for EVERY manifest figure, and the next
    *     refresh/compact restores exactness. The fold also adds the
    *     batch rows to `_stale_rows` — the per-shard count of rows that
    *     entered through additive folds since the last exact manifest,
    *     the staleness signal a scheduled refresh can trigger on
    *     (`_stale_rows / n_rows`, see [[graft.streaming.DeltaStream
    *     .startZorderTableMaintained]]);
    *  3. data lands via a plain partitioned append (Spark's job commit
    *     publishes part files only on success).
    *
    * The ordering IS the crash-safety argument: a crash after 2 but
    * before 3 leaves envelopes/bit sets strictly WIDER than the data —
    * pruned reads over-approximate candidates and stay transparent
    * (over-approximation costs I/O, never rows); the reverse order
    * would leave data the manifest doesn't cover, i.e. reads that MISS.
    *
    * Scale shape: work ∝ batch + touched shards (the dedup probe reads
    * only those directories); the manifest fold is shards-sized
    * arithmetic. Untouched shards are never listed, read, or
    * re-aggregated.
    */
  def appendSharded(spark: SparkSession, laidBatch: DataFrame,
      dir: String, idCol: String,
      shardCol: String = "shard"): Unit =
      withSidecarCtx { withWriterLease(spark, dir) {
    // every mutation rolls an interrupted delete forward first (the
    // id probe's readShards would too, but the manifest fold must
    // never read a pre-roll-forward sidecar)
    recoverPendingDelete(spark, dir, shardCol)
    val statCols = statColsOf(spark, dir)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val hasBloom = fs.exists(new Path(s"$dir/$BloomSidecar"))
    val b0 = laidBatch.persist()
    try {
      // NULL shards are rejected BEFORE anything lands (same contract
      // as writeSharded — the int-keyed manifests cannot name them)
      val touched = b0.select(col(shardCol).cast("int")).distinct()
        .collect().map { r =>
          require(!r.isNullAt(0),
            s"appendSharded: rows with NULL $shardCol — route " +
              "unroutable (NULL-dimension) rows explicitly")
          r.getInt(0)
        }.toSeq.sorted
      if (touched.isEmpty) return
      // deletion-vector collision guard: a masked (shard, key) pair
      // must not be re-appended into the shard that masks it — the
      // key-based anti-join has no row positions and would delete the
      // NEW row too. Fail loudly; applyDeletionVectors/compactSharded
      // clears the mask. Costs one broadcast semi-join, only while a
      // vector is pending.
      if (fs.exists(new Path(s"$dir/$DvSidecar"))) {
        val kc = bloomConfigOf(spark, dir).map(_._1).getOrElse(
          sys.error(s"appendSharded: $dir has a deletion-vector " +
            "sidecar but no recoverable bloom config"))
        val dv = dvManifest(spark, dir)
          .select(col("shard").cast("int").as("_dv_shard"),
            col("key").as("_dv_key"))
        val collisions = b0.join(broadcast(dv),
          b0(shardCol).cast("int") === col("_dv_shard") &&
            b0(kc) === col("_dv_key"), "left_semi").count()
        require(collisions == 0L,
          s"appendSharded: $collisions batch rows collide with " +
            "pending deletion-vector entries — apply the vector " +
            "(applyDeletionVectors / compactSharded) before " +
            "re-inserting these keys")
      }
      // 1. bounded idempotence probe: ids present in the touched shards
      val present = readShards(spark, dir, touched, shardCol)
        .select(col(idCol))
      val batch = b0.join(present, Seq(idCol), "left_anti").persist()
      try {
        // materialized COUNT, not isEmpty: the log entry after the data
        // write must not lazily re-run this anti-join (the landed rows
        // would then be "present" and the count would read 0)
        val nRows = batch.count()
        if (nRows == 0L) return
        // 2a. stats fold: old rows + batch-side exact stats per shard
        val batchStats = graft.ext.Corpus.shardStats(batch, shardCol,
          statCols)
        val old = statsManifest(spark, dir)
        val bb = batchStats.columns.foldLeft(batchStats)((d, c) =>
          if (c == shardCol) d else d.withColumnRenamed(c, s"_b_$c"))
        // pre-staleness manifests lack `_stale_rows`; treat as 0
        val oldStale =
          if (old.columns.contains("_stale_rows")) col("_stale_rows")
          else lit(0L)
        val merged = old.join(bb, Seq(shardCol), "full_outer")
          .select(col(shardCol) +:
            (coalesce(col("n_rows"), lit(0L)) +
              coalesce(col("_b_n_rows"), lit(0L))).as("n_rows") +:
            (coalesce(oldStale, lit(0L)) +
              coalesce(col("_b_n_rows"), lit(0L))).as("_stale_rows") +:
            statCols.flatMap { c =>
              Seq(
                least(col(s"${c}_min"), col(s"_b_${c}_min"))
                  .as(s"${c}_min"),
                greatest(col(s"${c}_max"), col(s"_b_${c}_max"))
                  .as(s"${c}_max"),
                // additive upper bound; exact at next refresh/compact
                (coalesce(col(s"${c}_ndv"), lit(0L)) +
                  coalesce(col(s"_b_${c}_ndv"), lit(0L)))
                  .as(s"${c}_ndv"))
            }: _*)
        // 2b. bloom fold: bitwise union per shard (wider = safe)
        val mergedBloom = if (!hasBloom) None else Some {
          val ob = bloomManifest(spark, dir)
          val (kc, m, k) = bloomConfigOf(spark, dir).getOrElse(sys.error(
            s"appendSharded: $dir has a bloom sidecar but no " +
              "recoverable bloom config (empty sidecar, no meta)"))
          val nb = graft.ext.Corpus.bloomBitsTable(batch, shardCol, kc,
              m, k)
            .select(col("shard"), col("n_keys").as("_b_n_keys"),
              col("_bits").as("_b_bits"))
          val empty = array().cast("array<long>")
          ob.join(nb, Seq("shard"), "full_outer")
            .select(col("shard"),
              (coalesce(col("n_keys"), lit(0L)) +
                coalesce(col("_b_n_keys"), lit(0L))).as("n_keys"),
              array_sort(array_distinct(concat(
                coalesce(col("_bits"), empty),
                coalesce(col("_b_bits"), empty)))).as("_bits"),
              lit(m).as("m"), lit(k).as("k"), lit(kc).as("key_col"))
        }
        // both folds are independent aggregations over the persisted
        // batch with distinct sidecar outputs — submitted concurrently
        // (guide §2.6: the append pays max(stats, bloom) instead of the
        // sum), both awaited before the data lands so the
        // manifest-before-data crash ordering holds: a crash anywhere
        // here leaves envelopes/bit sets wider-never-narrower (one fold
        // landed, neither landed — either way the manifests still cover
        // every landed row, because the batch has not landed).
        // Both frames were CONSTRUCTED on this thread (the sidecar memo
        // is thread-local); the futures only execute the swaps.
        locally {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          val folds = Seq(
            Future(graft.dw.Merge.atomicOverwrite(spark, merged,
              s"$dir/$StatsSidecar"))) ++
            mergedBloom.map(mb => Future(graft.dw.Merge.atomicOverwrite(
              spark, mb, s"$dir/$BloomSidecar")))
          val done = folds.map(f => scala.util.Try(
            Await.result(f, SidecarAwait)))
          // the folds rewrote both sidecars (and may have ADDED
          // `_stale_rows` to a pre-staleness manifest)
          settleSidecarSwaps(dir, (StatsSidecar -> merged) +:
            mergedBloom.map(BloomSidecar -> _).toSeq, done)
        }
        // 3. data lands last — the manifests already cover it; one file
        // per touched shard per batch (shard-keyed exchange), so file
        // growth is batches × touched shards, not × task parallelism
        batch.repartition(col(shardCol))
          .write.mode("append").partitionBy(shardCol).parquet(dir)
        logEntry(spark, dir, "append",
          s"rows=$nRows shards=${touched.size}")
      } finally batch.unpersist()
    } finally b0.unpersist()
  } }

  /** Recompute and atomically replace a table's manifest sidecars from
    * its CURRENT files — the maintenance call after any rewrite that
    * bypassed [[writeSharded]] (and the healer for the recovery window
    * documented on [[graft.dw.Merge.atomicOverwriteDir]]). Stats columns
    * are recovered from the existing sidecars when not passed, and the
    * bloom geometry ALWAYS is ([[bloomConfigOf]] — the meta sidecar, or
    * the bloom sidecar of a pre-meta table): the delete paths probe with
    * that geometry, so bits rebuilt with any other m/k would silently
    * miss rows. A refresh never changes what the manifest covers.
    */
  def refreshManifests(spark: SparkSession, dir: String,
      statCols: Seq[String] = Nil, shardCol: String = "shard"): Unit =
      withSidecarCtx { withWriterLease(spark, dir) {
    val sc =
      if (statCols.nonEmpty) statCols
      else statColsOf(spark, dir)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val bloomCfg = bloomConfigOf(spark, dir)
    // each sidecar swaps independently (sidecar paths are `_`-prefixed,
    // so their own __swap_new dirs stay invisible to table readers);
    // the declared-schema read null-fills evolved columns in old files
    val back = readTable(spark, dir)
    // a refresh makes the manifests exact FOR THE FILES — but rows a
    // pending deletion vector masks are still manifest looseness
    // (physical-but-not-logical), so `_stale_rows` carries the masked
    // count per shard instead of zero: the staleness signal that
    // drives the maintained mounts to compact (which applies the
    // vector) must survive a refresh, or the loop would never converge
    val masked: Option[DataFrame] =
      if (!fs.exists(new Path(s"$dir/$DvSidecar"))) None
      else bloomCfg.map { case (kc, _, _) =>
        val dv = dvManifest(spark, dir)
          .select(col("shard").cast("int").as("_dv_shard"),
            col("key").as("_dv_key"))
        back.join(broadcast(dv),
          back(shardCol).cast("int") === col("_dv_shard") &&
            back(kc) === col("_dv_key"), "left_semi")
          .groupBy(col(shardCol).cast("int").as(shardCol))
          .agg(count(lit(1)).as("_masked_rows"))
      }
    val exact = graft.ext.Corpus.shardStats(back, shardCol, sc)
    val stats = masked match {
      case None => exact.withColumn("_stale_rows", lit(0L))
      case Some(m) => exact
        .join(m.withColumnRenamed(shardCol, "_m_shard"),
          exact(shardCol).cast("int") === col("_m_shard"), "left_outer")
        .withColumn("_stale_rows",
          coalesce(col("_masked_rows"), lit(0L)))
        .drop("_m_shard", "_masked_rows")
    }
    // the two sidecar swaps are independent full-table aggregations
    // with distinct outputs — concurrent (§2.6), the refresh pays
    // max(stats, bloom) instead of the sum; both frames constructed on
    // this thread (thread-local sidecar memo), futures only execute
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val mb = bloomCfg.map { case (kc, m, k) =>
        graft.ext.Corpus.bloomBitsTable(back, shardCol, kc, m, k)
          .withColumn("key_col", lit(kc))
      }
      val swaps = Seq(
        Future(graft.dw.Merge.atomicOverwrite(spark, stats,
          s"$dir/$StatsSidecar"))) ++
        mb.map(df => Future(graft.dw.Merge.atomicOverwrite(spark, df,
          s"$dir/$BloomSidecar")))
      val done = swaps.map(f => scala.util.Try(
        Await.result(f, SidecarAwait)))
      settleSidecarSwaps(dir, (StatsSidecar -> stats) +:
        mb.map(BloomSidecar -> _).toSeq, done)
    }
    logEntry(spark, dir, "refresh", s"stat_cols=${sc.mkString("+")}")
  } }

  /** TARGETED manifest refresh — recompute ONLY the named shards'
    * stats (and bloom) rows exactly from their files, leaving every
    * other row untouched: the staleness-restoring maintenance a
    * 100 TB table can afford on a schedule. [[refreshManifests]]
    * re-reads the WHOLE table to restore exactness after appends
    * loosened a handful of shards; this reads just those shards —
    * work ∝ named shards (the maintained mounts pass the
    * `_stale_rows > 0` set). Rows a pending deletion vector masks
    * remain in the files, so the refreshed `_stale_rows` carries the
    * masked count (the compaction trigger survives, as in the full
    * refresh); a named shard whose directory is gone drops its
    * manifest row (the manifest-ahead heal). No data file is read for
    * unnamed shards, none is written at all.
    */
  def refreshShards(spark: SparkSession, dir: String, shards: Seq[Int],
      shardCol: String = "shard"): Unit =
      withSidecarCtx { withWriterLease(spark, dir) {
    if (shards.isEmpty) return
    recoverPendingDelete(spark, dir, shardCol)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val existing = existingShards(fs, dir, shards, shardCol)
    val statCols = statColsOf(spark, dir)
    val raw =
      if (existing.isEmpty) None
      else Some(readShardsRaw(spark, dir, existing, shardCol))
    val hasDv = fs.exists(new Path(s"$dir/$DvSidecar"))
    val masked: Option[DataFrame] = raw.flatMap { r =>
      if (!hasDv) None
      else bloomConfigOf(spark, dir).map { case (kc, _, _) =>
        val dv = dvManifest(spark, dir)
          .select(col("shard").cast("int").as("_dv_shard"),
            col("key").as("_dv_key"))
        r.join(broadcast(dv),
          r(shardCol).cast("int") === col("_dv_shard") &&
            r(kc) === col("_dv_key"), "left_semi")
          .groupBy(col(shardCol).cast("int").as("_m_shard"))
          .agg(count(lit(1)).as("_masked_rows"))
      }
    }
    val old = statsManifest(spark, dir)
    val oldStale =
      if (old.columns.contains("_stale_rows")) col("_stale_rows")
      else lit(0L)
    val keep = old.withColumn("_stale_rows", coalesce(oldStale, lit(0L)))
      .filter(!col(shardCol).cast("int").isin(shards: _*))
    val fresh = raw.map { r =>
      val exact = graft.ext.Corpus.shardStats(r, shardCol, statCols)
      masked match {
        case None => exact.withColumn("_stale_rows", lit(0L))
        case Some(m) => exact
          .join(m, exact(shardCol).cast("int") === col("_m_shard"),
            "left_outer")
          .withColumn("_stale_rows",
            coalesce(col("_masked_rows"), lit(0L)))
          .drop("_m_shard", "_masked_rows")
      }
    }
    // independent sidecar swaps, concurrent (§2.6) — same shape and
    // rationale as [[refreshManifests]]; frames built on this thread
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val statsSwap = {
        val df = fresh.fold(keep)(keep.unionByName(_))
        Future(graft.dw.Merge.atomicOverwrite(spark, df,
          s"$dir/$StatsSidecar"))
      }
      val bloomSwap =
        if (!fs.exists(new Path(s"$dir/$BloomSidecar"))) None
        else bloomConfigOf(spark, dir).map { case (kc, m, k) =>
          val ob = bloomManifest(spark, dir)
            .filter(!col("shard").cast("int").isin(shards: _*))
          val nb = raw.map(r =>
            graft.ext.Corpus.bloomBitsTable(r, shardCol, kc, m, k)
              .withColumn("key_col", lit(kc)))
          val df = nb.fold(ob)(ob.unionByName(_))
          Future(graft.dw.Merge.atomicOverwrite(spark, df,
            s"$dir/$BloomSidecar"))
        }
      val done = (Seq(statsSwap) ++ bloomSwap).map(f =>
        scala.util.Try(Await.result(f, SidecarAwait)))
      // the written frames' schemas are now on disk; the bloom swap is
      // conditional, so only note it when it ran
      invalidateSidecarSchema(dir, StatsSidecar)
      if (bloomSwap.isDefined) invalidateSidecarSchema(dir, BloomSidecar)
      done.collectFirst { case scala.util.Failure(e) => throw e }
    }
    logEntry(spark, dir, "refresh_shards", s"shards=${shards.size}")
  } }

  private def writeManifests(spark: SparkSession, tableDir: String,
      statCols: Seq[String], shardCol: String,
      bloomKeyCol: Option[String], bloomM: Int, bloomK: Int): Unit = {
    val back = spark.read.parquet(tableDir)
    // `_stale_rows` = rows folded in by [[appendSharded]] since the
    // stats were last computed EXACTLY from files — the measurable
    // staleness signal (0 here: this manifest IS exact). NDV looseness
    // itself is unobservable without re-reading the data; the rows that
    // entered through additive folds are a free, honest proxy.
    // The stats and bloom passes are INDEPENDENT aggregations over the
    // written files with distinct output dirs — submitted concurrently
    // (§2.6 sibling-job overlap) so the publish pays max() of the two
    // instead of their sum. A FUSED single aggregate was tried first
    // and measured WORSE at 10x (multiple countDistinct + collect_set
    // plans as an expanded sort-aggregate: x167's two ~100 ms passes
    // became one 1-2 s job; per-row bloom hashing repeated k md5 slices
    // per row where the distinct-first form hashes per distinct key) —
    // two well-shaped passes overlapped beat one mis-shaped pass.
    val bloomFut = bloomKeyCol.map { kc =>
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      Future(graft.ext.Corpus.bloomBitsTable(back, shardCol, kc,
          bloomM, bloomK)
        .withColumn("key_col", lit(kc))
        .write.mode("overwrite").parquet(s"$tableDir/$BloomSidecar"))
    }
    // the bloom future is awaited even when the stats pass THROWS — no
    // orphaned job keeps writing into the table dir while the caller
    // unwinds; the stats failure stays primary and carries a bloom
    // failure as suppressed, a bloom-only failure surfaces as its own.
    // Finite timeout: see [[SidecarAwait]].
    var primary: Throwable = null
    try {
      graft.ext.Corpus.shardStats(back, shardCol, statCols)
        .withColumn("_stale_rows", lit(0L))
        .write.mode("overwrite").parquet(s"$tableDir/$StatsSidecar")
    } catch { case t: Throwable => primary = t; throw t }
    finally bloomFut.foreach { f =>
      try scala.concurrent.Await.result(f, SidecarAwait)
      catch {
        case t: Throwable =>
          if (primary == null) throw t else primary.addSuppressed(t)
      }
    }
  }

  def statsManifest(spark: SparkSession, dir: String): DataFrame =
    readSidecar(spark, dir, StatsSidecar)

  def bloomManifest(spark: SparkSession, dir: String): DataFrame =
    readSidecar(spark, dir, BloomSidecar)

  private def dvManifest(spark: SparkSession, dir: String): DataFrame =
    readSidecar(spark, dir, DvSidecar)

  /** Candidate shards for a conjunction of closed ranges
    * `col ∈ [lo, hi]`: manifest rows whose `[min, max]` envelope
    * intersects EVERY range. Bounds are NATIVE-typed (`lit`-embedded, so
    * a string range compares in Spark's binary UTF8 order — the same
    * order the residual filter and the manifest's own min/max use; the
    * reference's analytic predicates are string equalities of exactly
    * this shape). A shard whose stats column is entirely NULL has NULL
    * min/max and is excluded — correct, since NULL matches no range
    * predicate. Driver-side filter-collect over the shards-sized
    * manifest (the scan-planning step, bounded by shard count).
    */
  def candidateShardsByStats(manifest: DataFrame,
      ranges: Seq[(String, Any, Any)],
      shardCol: String = "shard"): Seq[Int] = {
    require(ranges.nonEmpty, "need at least one range")
    val overlap = ranges.map { case (c, lo, hi) =>
      col(s"${c}_min") <= lit(hi) && col(s"${c}_max") >= lit(lo)
    }.reduce(_ && _)
    manifest.filter(overlap).select(col(shardCol).cast("int"))
      .collect().map(_.getInt(0)).toSeq.sorted
  }

  /** Candidate shards for an equality predicate `keyCol = key`: bloom
    * rows whose bit set covers all of the key's positions (no false
    * negatives by construction — a shard containing the key set exactly
    * these bits). Positions are computed with the SAME Catalyst
    * expression that built the index ([[graft.ext.Corpus
    * .bloomPositions]]), so probe and index can never disagree on the
    * hash family; keys are native-typed (string keys hash their own
    * bytes, integral keys the digits they always did). Driver-side
    * filter-collect over the shards-sized manifest.
    */
  def candidateShardsByKey(bloom: DataFrame, key: Any,
      shardCol: String = "shard"): Seq[Int] =
    candidateShardsByKeys(bloom, Seq(key), shardCol)

  /** Candidate shards for an IN-list `keyCol IN (keys…)`: the UNION of
    * each key's bloom-maybe shards, computed in ONE pass over the
    * shards-sized manifest (the coverage disjunction grows with the
    * IN-list, the scan does not). Two plan shapes for the same
    * semantics: small lists inline the per-key coverage checks as one
    * disjunction; large lists (a MERGE batch's thousands of staged
    * keys) switch to a broadcast key-table semi-join — the inline
    * disjunction is an expression tree as DEEP as the list, and
    * Catalyst's column converter recurses per node (measured: a
    * 1,500-key batch overflows the stack; the probe caught it). The
    * join shape is flat in the key count and stays shards-bounded on
    * the scan side. */
  def candidateShardsByKeys(bloom: DataFrame, keys: Seq[Any],
      shardCol: String = "shard"): Seq[Int] =
    candidateShardsByKeysCfg(bloom, keys, None, shardCol)

  /** [[candidateShardsByKeys]] with the bloom geometry supplied by the
    * caller (from the 1-row meta sidecar): skips the manifest's own
    * (m, k) probe — one collect-limit-1 job per verb call that the
    * mutation verbs, which already hold the config, need not pay. An
    * empty manifest still yields no candidates (the coverage
    * filter-collect over zero rows returns nothing). */
  private[graft] def candidateShardsByKeysCfg(bloom: DataFrame,
      keys: Seq[Any], mkKnown: Option[(Int, Int)],
      shardCol: String = "shard"): Seq[Int] = {
    require(keys.nonEmpty, "need at least one key")
    val (m, k) = mkKnown.getOrElse {
      // a zero-row manifest (every shard emptied) has no candidates
      val cfg0 = bloom.select("m", "k").limit(1).collect().headOption
      if (cfg0.isEmpty) return Nil
      (cfg0.get.getInt(0), cfg0.get.getInt(1))
    }
    if (keys.size <= 64) {
      val covered = keys.map { key =>
        size(array_except(graft.ext.Corpus.bloomPositions(lit(key), m,
          k), col("_bits"))) === 0
      }.reduce(_ || _)
      bloom.filter(covered).select(col(shardCol).cast("int"))
        .collect().map(_.getInt(0)).toSeq.sorted
    } else {
      val spark = bloom.sparkSession
      val keysDf = spark.range(1).select(
        explode(array(keys.map(lit(_)): _*)).as("_probe_key"))
      bloom.join(broadcast(keysDf),
        size(array_except(graft.ext.Corpus.bloomPositions(
          col("_probe_key"), m, k), col("_bits"))) === 0, "left_semi")
        .select(col(shardCol).cast("int"))
        .collect().map(_.getInt(0)).toSeq.sorted
    }
  }

  /** SCHEMA EVOLUTION — add a column WITHOUT republishing the table
    * (at 100 TB an add-column must be a metadata operation): the
    * declared schema (0-row sidecar) gains the column, reads null-fill
    * it for every pre-evolution file ([[readTable]]/[[readShards]] —
    * the ADD COLUMN semantics), appended batches carry it, and when
    * `addToStats` the stats manifest gains `<c>_min/_max/_ndv` columns
    * (NULL/NULL/0 for existing shards — correct envelopes, since old
    * rows read as NULL and NULL matches no range predicate, so
    * pre-evolution shards are SKIPPED by predicates on the new column
    * for free) plus the meta's `stat_cols`, so the very next
    * [[appendSharded]] folds batch-side stats for it and the next
    * [[refreshManifests]]/`compactSharded` makes them exact from
    * files.
    *
    * Idempotent per step (a crashed evolve re-run converges), ordered
    * so every prefix is a consistent state: manifest columns first
    * (extra columns nothing names — harmless), declared schema second
    * (reads widen), meta stat_cols last (appends start folding).
    */
  def evolveAddColumn(spark: SparkSession, dir: String, colName: String,
      dataType: org.apache.spark.sql.types.DataType,
      addToStats: Boolean = true,
      shardCol: String = "shard"): Unit =
      withSidecarCtx { withWriterLease(spark, dir) {
    recoverPendingDelete(spark, dir, shardCol)
    val schema = tableSchemaOf(spark, dir).getOrElse(sys.error(
      s"evolveAddColumn: $dir has no $SchemaSidecar declared-schema " +
        "sidecar — republish through writeSharded first"))
    // 1. stats manifest gains the new column's (NULL, NULL, 0) rows
    if (addToStats) {
      val man = statsManifest(spark, dir)
      if (!man.columns.contains(s"${colName}_min")) {
        val widened = man
          .withColumn(s"${colName}_min", lit(null).cast(dataType))
          .withColumn(s"${colName}_max", lit(null).cast(dataType))
          .withColumn(s"${colName}_ndv", lit(0L))
        graft.dw.Merge.atomicOverwrite(spark, widened,
          s"$dir/$StatsSidecar")
        invalidateSidecarSchema(dir, StatsSidecar)
      }
    }
    // 2. declared schema gains the column — from here every read
    // null-fills it for pre-evolution files
    if (!schema.fieldNames.contains(colName)) {
      val widened = spark.read.parquet(s"$dir/$SchemaSidecar")
        .withColumn(colName, lit(null).cast(dataType))
      graft.dw.Merge.atomicOverwrite(spark, widened,
        s"$dir/$SchemaSidecar")
      invalidateSidecarCtx(dir) // the declared schema just changed
    }
    // 3. meta stat_cols names it — appends start folding its stats
    if (addToStats) readMeta(spark, dir).foreach { m =>
      if (!m.statCols.contains(colName)) {
        import spark.implicits._
        val nm = m.copy(statCols = m.statCols :+ colName)
        graft.dw.Merge.atomicOverwrite(spark,
          Seq((nm.statCols, nm.shardCol, nm.sortCol, nm.bloomKey,
              nm.bloomM, nm.bloomK, nm.zTotalBits, nm.nShards))
            .toDF("stat_cols", "shard_col", "sort_col", "bloom_key",
              "bloom_m", "bloom_k", "z_total_bits", "n_shards")
            .coalesce(1),
          s"$dir/$MetaSidecar")
        invalidateSidecarCtx(dir) // the meta just changed
      }
    }
    logEntry(spark, dir, "evolve_add", s"col=$colName")
  } }

  /** SCHEMA EVOLUTION, drop side — remove a column WITHOUT republishing
    * (the ALTER TABLE DROP COLUMN contract at 100 TB): the declared
    * schema stops naming it, so every read projects it away (parquet
    * column pruning — old files keep the bytes but never deserialize
    * them); the stats manifest and meta `stat_cols` stop covering it;
    * the NEXT compaction/re-shard rewrite (which reads through the
    * declared schema) physically reclaims the space. Refuses the
    * columns the table's machinery depends on — the shard column, the
    * sort column, the bloom key, and any string-dim dictionary column
    * (those are the layout frame, not payload). Re-adding a dropped
    * name with a DIFFERENT type before a compaction has rewritten the
    * old files is undefined (the files still hold the old type) — the
    * same contract as engines without column mapping; re-add with the
    * SAME type is safe (old values resurface until compacted, exactly
    * the physical truth).
    *
    * Ordering mirrors [[evolveAddColumn]] (every crash prefix is a
    * consistent state, each step idempotent): meta first (appends stop
    * folding), manifests second (extra columns nothing names are
    * harmless), declared schema last (reads narrow). */
  def evolveDropColumn(spark: SparkSession, dir: String,
      colName: String,
      shardCol: String = "shard"): Unit =
      withSidecarCtx { withWriterLease(spark, dir) {
    recoverPendingDelete(spark, dir, shardCol)
    val schema = tableSchemaOf(spark, dir).getOrElse(sys.error(
      s"evolveDropColumn: $dir has no $SchemaSidecar declared-schema " +
        "sidecar — republish through writeSharded first"))
    require(schema.fieldNames.contains(colName),
      s"evolveDropColumn: $dir has no column '$colName'")
    val meta = readMeta(spark, dir)
    val protectedCols = Seq(shardCol) ++ meta.flatMap(_.sortCol) ++
      meta.flatMap(_.bloomKey) ++ readDicts(spark, dir).keys
    require(!protectedCols.contains(colName),
      s"evolveDropColumn: '$colName' is part of $dir's layout/index " +
        s"machinery (${protectedCols.mkString(", ")}) — it cannot be " +
        "dropped without republishing")
    // 1. meta stat_cols stops naming it — appends stop folding
    meta.foreach { m =>
      if (m.statCols.contains(colName)) {
        import spark.implicits._
        val nm = m.copy(statCols = m.statCols.filterNot(_ == colName))
        graft.dw.Merge.atomicOverwrite(spark,
          Seq((nm.statCols, nm.shardCol, nm.sortCol, nm.bloomKey,
              nm.bloomM, nm.bloomK, nm.zTotalBits, nm.nShards))
            .toDF("stat_cols", "shard_col", "sort_col", "bloom_key",
              "bloom_m", "bloom_k", "z_total_bits", "n_shards")
            .coalesce(1),
          s"$dir/$MetaSidecar")
        invalidateSidecarCtx(dir) // the meta just changed
      }
    }
    // 2. stats manifest drops its envelope columns
    val man = statsManifest(spark, dir)
    val manCols = Seq(s"${colName}_min", s"${colName}_max",
      s"${colName}_ndv").filter(man.columns.contains)
    if (manCols.nonEmpty) {
      graft.dw.Merge.atomicOverwrite(spark, man.drop(manCols: _*),
        s"$dir/$StatsSidecar")
      invalidateSidecarSchema(dir, StatsSidecar)
    }
    // 3. declared schema narrows — reads project the column away
    graft.dw.Merge.atomicOverwrite(spark,
      spark.read.parquet(s"$dir/$SchemaSidecar").drop(colName),
      s"$dir/$SchemaSidecar")
    invalidateSidecarCtx(dir) // the declared schema just changed
    logEntry(spark, dir, "evolve_drop", s"col=$colName")
  } }

  val PendingDelete = "_pending_delete"

  /** PRUNED DELETE — takedown routed BY THE INDEX: remove every row with
    * `keyCol ∈ keys` (the table's bloom key column) by REWRITING ONLY
    * the bloom-candidate shards — at 100 TB a compliance delete of one
    * source/user/language must not rewrite the corpus, and the bloom's
    * no-false-negatives guarantee makes the candidate set sufficient:
    * a shard the bloom rules out cannot hold the key. Shards where the
    * keys turn out absent (bloom false positives) are detected with one
    * count and NOT rewritten. Touched shards' stats + bloom manifest
    * rows are recomputed EXACTLY and swapped in; untouched rows pass
    * through — so after a delete the manifests are exact for touched
    * shards and unchanged elsewhere.
    *
    * Crash protocol (single-writer, like every maintenance op here):
    *
    *  1. kept rows land under `_pending_delete/shard=<s>` (underscore —
    *     invisible to table readers);
    *  2. `_pending_delete/_COMMIT` is written LAST, naming the touched
    *     shards — its absence means no table state changed and recovery
    *     ABORTS the delete;
    *  3. each touched `shard=<s>` is replaced by its pending dir
    *     (delete + rename, metadata-only);
    *  4. sidecars update; 5. `_pending_delete` is removed.
    *
    * [[recoverPendingDelete]] makes every window converge: pending
    * without `_COMMIT` → abort (table untouched); `_COMMIT` present →
    * re-apply remaining swaps (idempotent — the pending content IS the
    * final state) and re-run the sidecar update for the shards the
    * marker names. It runs at the head of every Scan/Compaction
    * mutation AND of [[readShards]], so a reader never observes the
    * mid-swap window (the one state where a shard's rows could
    * transiently disappear).
    *
    * Returns (candidate shards, shards actually rewritten, rows
    * removed).
    */
  def deleteByKeys(spark: SparkSession, dir: String, keys: Seq[Any],
      shardCol: String = "shard",
      sortCol: Option[String] = None): (Seq[Int], Seq[Int], Long) =
      withSidecarCtx { withWriterLease(spark, dir) {
    require(keys.nonEmpty, "need at least one key")
    graft.dw.Merge.recover(spark, dir)
    recoverPendingDelete(spark, dir, shardCol)
    val (keyCol, m, k) = bloomConfigOf(spark, dir).getOrElse(sys.error(
      s"deleteByKeys: $dir has no recoverable bloom config"))
    // an empty bloom manifest (every shard previously emptied) yields
    // no candidates from the coverage filter itself — no separate
    // isEmpty probe job; the known (m, k) skips the geometry probe too
    val cands = candidateShardsByKeysCfg(bloomManifest(spark, dir),
      keys, Some((m, k)), shardCol)
    val matchPred =
      if (keys.size == 1) col(keyCol) === lit(keys.head)
      else col(keyCol).isin(keys: _*)
    val r = deleteWhere(spark, dir, cands, matchPred, shardCol, sortCol)
    if (r._2.nonEmpty) logEntry(spark, dir, "delete_keys",
      s"keys=${keys.size} removed=${r._3} shards=${r._2.size}")
    r
      } }

  def deleteByKey(spark: SparkSession, dir: String, key: Any,
      shardCol: String = "shard",
      sortCol: Option[String] = None): (Seq[Int], Seq[Int], Long) =
    deleteByKeys(spark, dir, Seq(key), shardCol, sortCol)

  /** MERGE-ON-READ delete — the DEFERRED form of [[deleteByKeys]]: no
    * shard is rewritten; the matched (shard, key) pairs land in the
    * `_graft_dv` DELETION-VECTOR sidecar and every logical read
    * ([[readShards]] and everything built on it) filters them with a
    * broadcast anti-join. This is the Delta/Iceberg merge-on-read
    * model, and it is what makes a SCATTERED takedown affordable: a
    * key set spread across hundreds of shards costs one metadata swap
    * instead of rewriting every candidate shard — the rewrite is
    * deferred to [[applyDeletionVectors]] / `compactSharded`, which
    * apply the vector physically and clear it.
    *
    * Consequences, stated loudly: (a) the table directory is no longer
    * the logical table — plain `spark.read.parquet(dir)` sees masked
    * rows; readers must go through the Scan API (the sidecar contract
    * was already "read through the engine" for evolved schemas);
    * (b) masked keys cannot be re-appended into a shard that masks
    * them until the vector is applied ([[appendSharded]] fails loudly
    * — a key-based DV has no row positions, so the anti-join would
    * delete the NEW row too); (c) per-shard `n_rows` keeps counting
    * the physical rows — the masked counts fold into `_stale_rows`,
    * so the staleness signal the maintained mounts compact on now also
    * drives DV application.
    *
    * Crash protocol: the DV swap is the single commit point (pairs are
    * computed first, nothing mutates before the swap); the `_stale_rows`
    * fold after it is advisory (a crash between them loses only
    * compaction-trigger signal, never rows). Re-running a completed
    * delete is a no-op: the matched probe reads LOGICAL rows, and the
    * first run's vector already masks them.
    *
    * Returns (candidate shards, shards gaining DV entries, rows
    * logically removed).
    */
  def deleteByKeysDeferred(spark: SparkSession, dir: String,
      keys: Seq[Any], shardCol: String = "shard")
      : (Seq[Int], Seq[Int], Long) =
      withSidecarCtx { withWriterLease(spark, dir) {
    require(keys.nonEmpty, "need at least one key")
    graft.dw.Merge.recover(spark, dir)
    recoverPendingDelete(spark, dir, shardCol)
    val (keyCol, m, k) = bloomConfigOf(spark, dir).getOrElse(sys.error(
      s"deleteByKeysDeferred: $dir has no recoverable bloom config — " +
        "deletion vectors key on the bloom column"))
    // empty manifest → no candidates from the coverage filter; known
    // (m, k) skips the geometry probe (see deleteByKeys)
    val cands = candidateShardsByKeysCfg(bloomManifest(spark, dir),
      keys, Some((m, k)), shardCol)
    if (cands.isEmpty) return (cands, Nil, 0L)
    val matchPred =
      if (keys.size == 1) col(keyCol) === lit(keys.head)
      else col(keyCol).isin(keys: _*)
    // logical matches only — rows an earlier vector already masks do
    // not re-count (readShards applies the DV), so replay converges
    val delta = readShards(spark, dir, cands, shardCol)
      .filter(matchPred)
      .groupBy(col(shardCol).cast("int").as("shard"),
        col(keyCol).as("key"))
      .agg(count(lit(1)).as("_n")).persist()
    try {
      val perShard = delta.groupBy("shard")
        .agg(sum("_n").as("_n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val touched = perShard.keys.toSeq.sorted
      val removed = perShard.values.sum
      if (touched.isEmpty) return (cands, Nil, 0L)
      // the commit point: old vector ∪ delta, one atomic sidecar swap
      val newDv = deletionVector(spark, dir)
        .fold(delta.select(col("shard"), col("key")))(
          _.select(col("shard").cast("int").as("shard"), col("key"))
            .unionByName(delta.select(col("shard"), col("key")))
            .distinct())
      graft.dw.Merge.atomicOverwrite(spark, newDv.coalesce(1),
        s"$dir/$DvSidecar")
      invalidateSidecarSchema(dir, DvSidecar)
      // advisory staleness fold: masked rows are manifest looseness,
      // exactly like append-folded rows — the compaction trigger. The
      // per-shard bumps join in as a FLAT shards-sized frame: a nested
      // when/coalesce chain here is depth = touched shards, and
      // Catalyst's common-subexpression analysis is EXPONENTIAL in
      // conditional nesting depth (measured: 19 shards 3 s, 26 shards
      // 132 s — the probe caught it)
      val old = statsManifest(spark, dir)
      val oldStale =
        if (old.columns.contains("_stale_rows")) col("_stale_rows")
        else lit(0L)
      import spark.implicits._
      val bumps = perShard.toSeq.toDF("_b_shard", "_b_n")
      graft.dw.Merge.atomicOverwrite(spark,
        old.join(broadcast(bumps),
            old(shardCol).cast("int") === col("_b_shard"), "left_outer")
          .withColumn("_stale_rows",
            coalesce(oldStale, lit(0L)) + coalesce(col("_b_n"), lit(0L)))
          .drop("_b_shard", "_b_n"),
        s"$dir/$StatsSidecar")
      invalidateSidecarSchema(dir, StatsSidecar)
      logEntry(spark, dir, "delete_deferred",
        s"keys=${keys.size} masked=$removed shards=${touched.size}")
      (cands, touched, removed)
    } finally delta.unpersist()
  } }

  /** Apply the table's deletion vector PHYSICALLY: rewrite exactly the
    * shards the vector names (kept rows = raw files minus masked
    * pairs), through the same pending/`_COMMIT` crash protocol as
    * [[deleteByKeys]], then clear the applied entries — an empty
    * remainder drops the sidecar, so reads stop anti-joining entirely.
    * `compactSharded`/`reshardSharded` run this first; a standalone
    * call is the targeted form (touches only DV shards, not every
    * multi-file shard). Returns (shards rewritten, rows physically
    * removed). */
  def applyDeletionVectors(spark: SparkSession, dir: String,
      shardCol: String = "shard", sortCol: Option[String] = None)
      : (Seq[Int], Long) =
      withSidecarCtx { withWriterLease(spark, dir) {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/$DvSidecar"))) return (Nil, 0L)
    graft.dw.Merge.recover(spark, dir)
    recoverPendingDelete(spark, dir, shardCol)
    val dvShards = existingShards(fs, dir,
      dvManifest(spark, dir)
        .select(col("shard").cast("int")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted, shardCol)
    if (dvShards.isEmpty) {
      fs.delete(new Path(s"$dir/$DvSidecar"), true)
      return (Nil, 0L)
    }
    val raw = readShardsRaw(spark, dir, dvShards, shardCol)
    val kept = applyDv(spark, dir, raw, shardCol)
    val removed = raw.count() - kept.count()
    rewriteShards(spark, dir, dvShards, shardCol, sortCol)
    logEntry(spark, dir, "dv_apply",
      s"removed=$removed shards=${dvShards.size}")
    (dvShards, removed)
  } }

  /** The shared TARGETED-REWRITE core: republish exactly `shards` from
    * their logical rows (deletion vector applied — any pending mask on
    * these shards becomes physical and is cleared), one file per shard
    * (or `maxRecordsPerFile`-bounded), sorted by the table's sort
    * column, through the same pending/`_COMMIT` crash protocol as the
    * delete family — [[applyPendingDelete]] then recomputes exactly
    * the touched shards' manifest rows and zeroes their staleness,
    * untouched shards' files and manifest rows pass through
    * bit-stable. Work ∝ the named shards, never the table. */
  private[graft] def rewriteShards(spark: SparkSession, dir: String,
      shards: Seq[Int], shardCol: String = "shard",
      sortCol: Option[String] = None,
      maxRecordsPerFile: Long = 0L): Unit = {
    if (shards.isEmpty) return
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val sort = sortCol.orElse(readMeta(spark, dir).flatMap(_.sortCol))
    val raw = readShardsRaw(spark, dir, shards, shardCol)
    val kept = applyDv(spark, dir, raw, shardCol)
    val keptW = kept.repartition(col(shardCol))
    val sorted = sort.fold(keptW)(c =>
      keptW.sortWithinPartitions(shardCol, c))
    val writer =
      if (maxRecordsPerFile > 0)
        sorted.write.option("maxRecordsPerFile", maxRecordsPerFile)
      else sorted.write
    writer.mode("overwrite").partitionBy(shardCol)
      .parquet(s"$dir/$PendingDelete")
    val withRows = shards.filter(s =>
      fs.exists(new Path(s"$dir/$PendingDelete/$shardCol=$s")))
    val emptied = shards.diff(withRows)
    val commit = new Path(s"$dir/$PendingDelete/_COMMIT")
    val out = fs.create(commit, true)
    out.write((s"kept:${withRows.mkString(",")}" +
      s"|emptied:${emptied.mkString(",")}").getBytes("UTF-8"))
    out.close()
    applyPendingDelete(spark, dir, shardCol, withRows, emptied)
  }

  /** MERGE (upsert) on a sharded z-ordered table, routed BY THE INDEX —
    * the reference's fact MERGE (`Delta Load Scripts/dw2_delta_load2
    * .py:101-131`: WHEN MATCHED UPDATE all columns, WHEN NOT MATCHED
    * INSERT) at lakehouse scale: staged rows REPLACE rows with the same
    * key and insert otherwise, rewriting ONLY the bloom-candidate
    * shards for the staged keys — at 100 TB a delta MERGE must not
    * rewrite the corpus the way the plain-parquet
    * [[graft.dw.Merge.mergeInto]] swap does.
    *
    * Composition of the two proven verbs: [[deleteByKeys]] (staged
    * keys' old versions leave their candidate shards — wherever the
    * old row's DIMENSIONS placed it, which the new version may have
    * moved away from) then [[appendSharded]] (staged rows land at
    * their own curve positions, manifests folding as always). Requires
    * the table's bloom key to BE the merge key (`idCol`) — that is
    * what makes the old-version lookup routable; a table bloomed on
    * something else cannot claim a pruned MERGE and fails loudly.
    *
    * Not atomic ACROSS the two verbs (each is): a crash between them
    * leaves matched keys deleted but not yet re-inserted — a RE-RUN
    * converges (the delete finds no keys, the append's id probe is
    * clean), the same replay contract as every mutation here. Batch
    * keys are enumerated driver-side — a MERGE batch is delta-sized by
    * construction (the reference's shape); `maxKeys` guards the plan
    * from a caller handing it a corpus.
    *
    * Returns (candidate shards, shards rewritten by the delete leg,
    * old-version rows replaced).
    */
  def upsertSharded(spark: SparkSession, dir: String,
      laidBatch: DataFrame, idCol: String, shardCol: String = "shard",
      sortCol: Option[String] = None,
      maxKeys: Int = 100000): (Seq[Int], Seq[Int], Long) =
      withSidecarCtx { withWriterLease(spark, dir) {
    val kc = bloomConfigOf(spark, dir).map(_._1).getOrElse(sys.error(
      s"upsertSharded: $dir has no bloom index — a pruned MERGE " +
        "routes old versions through the key bloom"))
    require(kc == idCol,
      s"upsertSharded: $dir blooms on '$kc', not the merge key " +
        s"'$idCol' — old versions would not be routable")
    val b = laidBatch.persist()
    try {
      val keys = b.select(col(idCol)).distinct()
        .limit(maxKeys + 1).collect().map(_.get(0)).toSeq
      require(keys.size <= maxKeys,
        s"upsertSharded: staged batch exceeds $maxKeys distinct keys " +
          "— that is a rewrite, not a MERGE; use writeSharded")
      if (keys.isEmpty) return (Nil, Nil, 0L)
      val (cands, touched, removed) =
        deleteByKeys(spark, dir, keys, shardCol, sortCol)
      appendSharded(spark, b, dir, idCol, shardCol)
      logEntry(spark, dir, "upsert",
        s"keys=${keys.size} replaced=$removed shards=${touched.size}")
      (cands, touched, removed)
    } finally b.unpersist()
  } }

  /** [[deleteByKeys]] routed by the STATS envelopes instead of the
    * bloom — the retention-expiry shape (`DELETE WHERE ts < cutoff`,
    * `… BETWEEN lo AND hi`): candidate shards are the ones whose
    * min/max intersect the conjunction, everything else is untouched
    * by construction. Rows with NULL in any range column never match
    * the predicate and always survive (SQL DELETE semantics). Same
    * pending/commit crash protocol, same exact touched-manifest
    * rebuild — and after a retention delete the expired range stops
    * producing candidates at all (the envelopes tightened past it).
    */
  def deleteByRange(spark: SparkSession, dir: String,
      ranges: Seq[(String, Any, Any)], shardCol: String = "shard",
      sortCol: Option[String] = None): (Seq[Int], Seq[Int], Long) =
      withSidecarCtx { withWriterLease(spark, dir) {
    require(ranges.nonEmpty, "need at least one range")
    graft.dw.Merge.recover(spark, dir)
    recoverPendingDelete(spark, dir, shardCol)
    val cands = candidateShardsByStats(statsManifest(spark, dir),
      ranges, shardCol)
    val matchPred = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val r = deleteWhere(spark, dir, cands, matchPred, shardCol, sortCol)
    if (r._2.nonEmpty) logEntry(spark, dir, "delete_range",
      s"cols=${ranges.map(_._1).mkString("+")} removed=${r._3} " +
        s"shards=${r._2.size}")
    r
      } }

  /** The shared delete core (steps 1–2 of the protocol; see
    * [[deleteByKeys]]): probe the candidate shards for matches, land
    * kept rows in the pending area, write the `_COMMIT` pivot, then
    * roll forward. A row where `matchPred` evaluates NULL is KEPT —
    * deletes remove only rows the predicate PROVES match.
    *
    * Scale shape: TWO jobs regardless of how many shards are touched —
    * one aggregate over the candidate shards (per-shard match counts,
    * rows out = candidates) and one shard-partitioned write of every
    * touched shard's kept rows into the pending area — not a
    * per-shard driver loop, which would serialize a wide retention
    * delete no matter how many executors exist. A shard whose rows ALL
    * match writes no pending dir; the `_COMMIT` marker records it as
    * `emptied` so roll-forward deletes it without a replacement.
    */
  private def deleteWhere(spark: SparkSession, dir: String,
      cands0: Seq[Int], matchPred: Column, shardCol: String,
      sortCol: Option[String]): (Seq[Int], Seq[Int], Long) = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cands = existingShards(fs, dir, cands0, shardCol)
    if (cands.isEmpty) return (cands, Nil, 0L)
    val sort = sortCol.orElse(readMeta(spark, dir).flatMap(_.sortCol))
    val back = readShards(spark, dir, cands, shardCol)
    // one probe job: per-shard match counts (over-approximated
    // candidates — bloom fps, loose envelopes — rewrite nothing)
    val hits = back.filter(matchPred)
      .groupBy(col(shardCol).cast("int").as("_s"))
      .agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val touched = hits.keys.toSeq.sorted
    val removed = hits.values.sum
    if (touched.isEmpty) return (cands, Nil, 0L)
    // one write job: every touched shard's kept rows, shard-partitioned
    // into the pending area (a fully-emptied shard produces no dir)
    val kept = back
      .filter(col(shardCol).isin(touched: _*) &&
        !coalesce(matchPred, lit(false)))
      .repartition(col(shardCol))
    sort.fold(kept)(c => kept.sortWithinPartitions(shardCol, c))
      .write.mode("overwrite").partitionBy(shardCol)
      .parquet(s"$dir/$PendingDelete")
    val withRows = touched.filter(s =>
      fs.exists(new Path(s"$dir/$PendingDelete/$shardCol=$s")))
    val emptied = touched.diff(withRows)
    // 2. the commit point: after this marker exists, recovery ROLLS
    // FORWARD; before it, recovery rolls back (no table state changes
    // until the marker is durable)
    val commit = new Path(s"$dir/$PendingDelete/_COMMIT")
    val out = fs.create(commit, true)
    out.write((s"kept:${withRows.mkString(",")}" +
      s"|emptied:${emptied.mkString(",")}").getBytes("UTF-8"))
    out.close()
    applyPendingDelete(spark, dir, shardCol, withRows, emptied)
    (cands, touched, removed)
  }

  /** Steps 3–5 of the delete protocol: swap each kept shard, delete
    * each fully-emptied shard, rebuild the touched shards' manifest
    * rows exactly, drop the pending area. Idempotent — the pending
    * content is the final state (a kept shard whose pending dir is
    * already consumed is skipped, never re-deleted), emptied-shard
    * deletes are no-ops when re-applied, and the manifest recompute
    * reads the post-swap files. */
  private def applyPendingDelete(spark: SparkSession, dir: String,
      shardCol: String, kept: Seq[Int], emptied: Seq[Int]): Unit = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val touched = (kept ++ emptied).sorted
    kept.foreach { s =>
      val pending = new Path(s"$dir/$PendingDelete/$shardCol=$s")
      if (fs.exists(pending)) {
        val target = new Path(s"$dir/$shardCol=$s")
        fs.delete(target, true)
        require(fs.rename(pending, target),
          s"delete swap rename $pending -> $target failed")
      }
    }
    emptied.foreach { s =>
      fs.delete(new Path(s"$dir/$shardCol=$s"), true)
    }
    // touched shards' manifest rows recomputed EXACTLY from the
    // rewritten files; untouched rows pass through unchanged. Inline
    // shard read (NOT readShards — its reader-window recovery would
    // re-enter this very routine while the pending area still exists)
    val statCols = statColsOf(spark, dir)
    // only dirs with DATA files: a fully-emptied shard leaves a dir of
    // markers, which contributes no rows but would break schema
    // inference if it were the only path
    val existing = touched.filter { s =>
      val p = new Path(s"$dir/$shardCol=$s")
      fs.exists(p) && fs.listStatus(p).exists(f => f.isFile &&
        !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    }
    val oldStats = statsManifest(spark, dir)
    val stale =
      if (oldStats.columns.contains("_stale_rows")) col("_stale_rows")
      else lit(0L)
    val keepStats = oldStats
      .withColumn("_stale_rows", coalesce(stale, lit(0L)))
      .filter(!col(shardCol).isin(touched: _*))
    // every touched shard emptied → their manifest rows simply vanish;
    // no table-dir read (a delete that emptied EVERY shard leaves no
    // data dirs to infer a schema from — the wedge the sidecar-only
    // rebuild avoids)
    def backRead(): DataFrame = {
      val rd = tableSchemaOf(spark, dir)
        .fold(spark.read)(sc => spark.read.schema(sc))
      rd.option("basePath", dir)
        .parquet(existing.map(s => s"$dir/$shardCol=$s"): _*)
    }
    val newStats =
      if (existing.isEmpty) None
      else Some(graft.ext.Corpus.shardStats(backRead(),
        shardCol, statCols).withColumn("_stale_rows", lit(0L)))
    val statsDf = newStats.fold(keepStats)(keepStats.unionByName(_))
    val bloomDf =
      if (!fs.exists(new Path(s"$dir/$BloomSidecar"))) None
      else Some {
        val ob = bloomManifest(spark, dir)
        val (kc, m, k) = bloomConfigOf(spark, dir).getOrElse(sys.error(
          s"applyPendingDelete: $dir has a bloom sidecar but no " +
            "recoverable bloom config (empty sidecar, no meta)"))
        val keepBloom = ob.filter(!col("shard").isin(touched: _*))
        // a fully-emptied shard simply has no bloom row anymore
        val newBloom =
          if (existing.isEmpty) None
          else Some(graft.ext.Corpus.bloomBitsTable(backRead(),
            shardCol, kc, m, k).withColumn("key_col", lit(kc)))
        newBloom.fold(keepBloom)(keepBloom.unionByName(_))
      }
    // the two rebuilds read the SAME post-swap files into distinct
    // sidecar outputs — concurrent (§2.6), pays max() not the sum;
    // frames built on this thread, futures only execute the swaps
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val swaps = Seq(Future(graft.dw.Merge.atomicOverwrite(spark,
          statsDf, s"$dir/$StatsSidecar"))) ++
        bloomDf.map(df => Future(graft.dw.Merge.atomicOverwrite(spark,
          df, s"$dir/$BloomSidecar")))
      val done = swaps.map(f => scala.util.Try(
        Await.result(f, SidecarAwait)))
      settleSidecarSwaps(dir, (StatsSidecar -> statsDf) +:
        bloomDf.map(BloomSidecar -> _).toSeq, done)
    }
    // deletion-vector entries for the rewritten shards are now applied
    // physically (every rewrite path computes kept rows DV-filtered —
    // deleteWhere reads through readShards, applyDeletionVectors
    // anti-joins explicitly) — clear them; an empty remainder drops
    // the sidecar so readers stop anti-joining. Idempotent on
    // recovery re-runs (filtering already-cleared shards is a no-op).
    if (fs.exists(new Path(s"$dir/$DvSidecar"))) {
      val rest = dvManifest(spark, dir)
        .filter(!col("shard").cast("int").isin(touched: _*))
      if (rest.isEmpty) fs.delete(new Path(s"$dir/$DvSidecar"), true)
      else graft.dw.Merge.atomicOverwrite(spark, rest.coalesce(1),
        s"$dir/$DvSidecar")
      invalidateSidecarSchema(dir, DvSidecar)
    }
    // the pending area must by now be fully consumed for kept shards: a
    // shard dir still present there but NOT in the kept list means the
    // `_COMMIT` marker under-read (truncated) — deleting the area would
    // permanently lose those kept rows, so fail loudly instead
    val leftover = {
      val p = new Path(s"$dir/$PendingDelete")
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"$shardCol="))
        .map(_.stripPrefix(s"$shardCol=").toInt)
        .filterNot(kept.contains)
    }
    require(leftover.isEmpty,
      s"applyPendingDelete: pending shards $leftover not named by the " +
        "commit marker's kept list — refusing to drop the pending area " +
        "(truncated _COMMIT?)")
    fs.delete(new Path(s"$dir/$PendingDelete"), true)
  }

  /** Recovery for an interrupted [[deleteByKeys]]: no `_COMMIT` → the
    * delete never reached its commit point, abort (drop the pending
    * area, table untouched); `_COMMIT` present → roll forward
    * (re-apply the remaining swaps and the sidecar rebuild for the
    * shards the marker names — all idempotent). Cheap when there is
    * nothing to do: one FS existence probe. */
  def recoverPendingDelete(spark: SparkSession, dir: String,
      shardCol: String = "shard"): Unit = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val pending = new Path(s"$dir/$PendingDelete")
    if (!fs.exists(pending)) return
    val commit = new Path(s"$dir/$PendingDelete/_COMMIT")
    if (!fs.exists(commit)) { fs.delete(pending, true); return }
    // read the marker FULLY: a single read() may legally return a
    // prefix (HDFS/S3 streams), and a truncated kept list would make
    // the recovery below silently drop kept rows — readFully against
    // the file's recorded length cannot under-read
    val len = fs.getFileStatus(commit).getLen.toInt
    val in = fs.open(commit)
    val body = try {
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      new String(buf, "UTF-8")
    } finally in.close()
    def ints(s: String): Seq[Int] =
      s.split(",").filter(_.nonEmpty).map(_.toInt).toSeq
    // marker format `kept:a,b|emptied:c` (a plain list reads as kept —
    // the pre-emptied-shard marker form)
    val (kept, emptied) =
      if (body.contains("kept:")) {
        val parts = body.split('|').map(_.trim)
        (ints(parts.find(_.startsWith("kept:"))
          .map(_.stripPrefix("kept:")).getOrElse("")),
          ints(parts.find(_.startsWith("emptied:"))
            .map(_.stripPrefix("emptied:")).getOrElse("")))
      } else (ints(body), Nil)
    if (kept.nonEmpty || emptied.nonEmpty)
      applyPendingDelete(spark, dir, shardCol, kept, emptied)
    else fs.delete(pending, true)
  }

  /** Read ONLY the given shard directories (`dir/shard=<s>`), keeping the
    * partition column via `basePath`. The shards not named are never
    * listed, opened, or footer-read — this is the actual skip. An empty
    * candidate set returns the table's empty frame (schema intact, no
    * data read at runtime).
    *
    * Candidate shards whose directory does not exist are silently
    * skipped — legitimate, not an error: [[appendSharded]]'s
    * manifest-first ordering can leave a manifest row for a NEW shard
    * whose data never landed (the documented crash window), and "no
    * directory yet" means exactly "no rows there yet".
    */
  def readShards(spark: SparkSession, dir: String, shards: Seq[Int],
      shardCol: String = "shard"): DataFrame = withSidecarCtx {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // the one delete-protocol window a reader could observe (a shard
    // between its delete and its pending-rename) is closed by rolling
    // the interrupted delete forward first — one FS probe when idle.
    // The roll-forward MUTATES, so it runs under the writer lease —
    // blocking rather than aborting (a reader's recovery can wait out
    // a live writer, who will usually have finished the roll-forward
    // itself by the time the lease frees)
    if (fs.exists(new Path(s"$dir/$PendingDelete")))
      withWriterLease(spark, dir, waitMs = 60 * 1000L) {
        if (fs.exists(new Path(s"$dir/$PendingDelete")))
          recoverPendingDelete(spark, dir, shardCol)
      }
    applyDv(spark, dir,
      readShardsRaw(spark, dir, shards, shardCol), shardCol)
  }

  /** The PHYSICAL shard read — files as they are, deletion vectors NOT
    * applied. Internal: the maintenance paths that rewrite files
    * (deletion-vector application itself) read through this; every
    * logical read goes through [[readShards]]. */
  private[graft] def readShardsRaw(spark: SparkSession, dir: String,
      shards: Seq[Int], shardCol: String = "shard"): DataFrame = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val existing = existingShards(fs, dir, shards, shardCol)
    if (existing.isEmpty) emptyTableFrame(spark, dir, shardCol)
    else {
      // declared schema (one tiny sidecar footer) so shards written
      // before an evolveAddColumn null-fill the added columns
      val rd = tableSchemaOf(spark, dir)
        .fold(spark.read)(sc => spark.read.schema(sc))
      rd.option("basePath", dir)
        .parquet(existing.map(s => s"$dir/$shardCol=$s"): _*)
    }
  }

  /** Filter `shards` to the ones whose `shard=<s>` directory exists —
    * ONE directory listing instead of a per-shard existence probe when
    * the candidate set is wide (guide §6: on an object store N HEADs
    * lose to one LIST past a handful; on local FS both are cheap). A
    * narrow set keeps the per-shard probes — listing a 10k-shard table
    * dir to check 2 candidates would invert the saving. */
  private def existingShards(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, shards: Seq[Int], shardCol: String): Seq[Int] =
    if (shards.size <= 4)
      shards.filter(s => fs.exists(new Path(s"$dir/$shardCol=$s")))
    else {
      val present =
        try fs.listStatus(new Path(dir)).iterator.collect {
          case st if st.isDirectory => st.getPath.getName
        }.toSet
        catch { // missing table dir ≡ no shards, as the probes read it
          case _: java.io.FileNotFoundException => Set.empty[String]
        }
      shards.filter(s => present(s"$shardCol=$s"))
    }

  /** Apply the table's DELETION VECTOR to a frame read from its files:
    * rows whose (shard, key) pair the `_graft_dv` sidecar names are
    * logically deleted and filtered out with a broadcast anti-join (the
    * DV is takedown-sized — pairs, not rows). No sidecar → the frame
    * passes through at zero cost beyond one FS probe. */
  private def applyDv(spark: SparkSession, dir: String, df: DataFrame,
      shardCol: String): DataFrame = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/$DvSidecar"))) df
    else {
      val kc = bloomConfigOf(spark, dir).map(_._1).getOrElse(sys.error(
        s"$dir has a deletion-vector sidecar but no recoverable bloom " +
          "config — the DV keys are bloom-key-typed by construction"))
      val dv = dvManifest(spark, dir)
        .select(col("shard").cast("int").as("_dv_shard"),
          col("key").as("_dv_key"))
      df.join(broadcast(dv),
        df(shardCol).cast("int") === col("_dv_shard") &&
          df(kc) === col("_dv_key"), "left_anti")
    }
  }

  /** The table's deletion vector as (shard, key) pairs — empty frame
    * when none is pending. */
  def deletionVector(spark: SparkSession, dir: String): Option[DataFrame] = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/$DvSidecar"))) None
    else Some(dvManifest(spark, dir))
  }

  /** The table's DECLARED schema — the 0-row schema sidecar's, when
    * present. This is what makes both edge states readable: a table
    * whose every shard a delete emptied (no data files to infer from),
    * and an EVOLVED table whose old files lack the added columns
    * (reads with the declared schema null-fill them per file — the
    * add-column semantics — where bare inference would pick one
    * file's footer at random and silently drop or surface the new
    * column depending on which). */
  private[graft] def tableSchemaOf(spark: SparkSession,
      dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val c = sidecarCtx.get
    if (c == null) tableSchemaOfNow(spark, dir)
    else c.schema.getOrElseUpdate(new Path(dir).toString,
      tableSchemaOfNow(spark, dir))
  }

  private def tableSchemaOfNow(spark: SparkSession,
      dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/$SchemaSidecar"))) None
    else Some(spark.read.parquet(s"$dir/$SchemaSidecar").schema)
  }

  /** Full-table read under the declared schema (see [[tableSchemaOf]]);
    * plain inference for pre-sidecar tables. Every maintenance rewrite
    * (refresh, compact, re-shard) reads through this, so a rewrite
    * after an [[evolveAddColumn]] widens the old files for good. */
  private[graft] def readTable(spark: SparkSession,
      dir: String): DataFrame =
    tableSchemaOf(spark, dir) match {
      case Some(sc) => spark.read.schema(sc).parquet(dir)
      case None     => spark.read.parquet(dir)
    }

  /** The table's empty frame (schema intact, no data read). */
  private def emptyTableFrame(spark: SparkSession, dir: String,
      shardCol: String): DataFrame = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(s"$dir/$SchemaSidecar")))
      spark.read.parquet(s"$dir/$SchemaSidecar").filter(lit(false))
    else spark.read.parquet(dir).filter(lit(false))
  }

  /** Manifest-pruned range scan: candidate shards from the stats
    * manifest, read only those, then the residual filter — by the
    * transparency contract, row-identical to a full scan with the same
    * conjunctive `lo <= col <= hi` filter, at the I/O cost of the
    * candidate shards alone.
    */
  def readPrunedByRange(spark: SparkSession, dir: String,
      ranges: Seq[(String, Any, Any)],
      shardCol: String = "shard"): DataFrame = withSidecarCtx {
    val cands = candidateShardsByStats(statsManifest(spark, dir), ranges,
      shardCol)
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    readShards(spark, dir, cands, shardCol).filter(residual)
  }

  /** Manifest-pruned point lookup: candidate shards from the bloom
    * sidecar, read only those, then the equality filter — row-identical
    * to a full scan with `keyCol = key`, reading only the shards whose
    * bloom says maybe (false-positive shards cost I/O, never rows).
    */
  def readPrunedByKey(spark: SparkSession, dir: String, keyCol: String,
      key: Any, shardCol: String = "shard"): DataFrame = withSidecarCtx {
    // the bloom manifest's own (m, k) probe is KEPT here (unlike the
    // mutation verbs, which already hold the meta): swapping it for a
    // meta read measured consistently slightly SLOWER on x167 (+4–6%
    // across three interleaved A/Bs at two scales) — the meta read is
    // exists-probe + footer + collect where the geometry probe rides
    // the manifest the coverage filter reads anyway
    val cands = candidateShardsByKey(bloomManifest(spark, dir), key,
      shardCol)
    readShards(spark, dir, cands, shardCol)
      .filter(col(keyCol) === lit(key))
  }

  /** The least string strictly greater than EVERY string with this
    * prefix, under binary UTF8 order (Spark's string comparison): the
    * prefix with its last code point incremented — the half-open range
    * [prefix, succ) then contains exactly the `prefix%` matches. A
    * last code point at the top of the range recurses on the shorter
    * prefix; None means "no finite upper bound" (every shard whose max
    * is >= prefix is a candidate). The surrogate gap is stepped over
    * (U+D7FF's successor boundary is U+E000 — unpaired surrogates are
    * not valid UTF8, so no table value sorts between them).
    */
  private[graft] def prefixSucc(prefix: String): Option[String] = {
    if (prefix.isEmpty) None
    else {
      val cps = prefix.codePoints().toArray
      val last = cps.last
      if (last >= 0x10FFFF) prefixSucc(
        new String(cps, 0, cps.length - 1))
      else {
        val next = if (last == 0xD7FF) 0xE000 else last + 1
        Some(new String(cps.init :+ next, 0, cps.length))
      }
    }
  }

  /** Candidate shards for a LIKE-'prefix%' predicate on a string
    * column: because the stats envelopes are NATIVE-typed string
    * min/max in binary UTF8 order, every value matching `prefix%` lies
    * in the half-open range [prefix, succ(prefix)), so the prefix
    * predicate routes the SAME stats envelope a range does. Driver-side
    * filter-collect over the shards-sized manifest, like every
    * candidate enumerator here. */
  def candidateShardsByPrefix(manifest: DataFrame, c: String,
      prefix: String, shardCol: String = "shard"): Seq[Int] = {
    require(prefix.nonEmpty, "need a non-empty prefix")
    val lowOk = col(s"${c}_max") >= lit(prefix)
    val overlap = prefixSucc(prefix)
      .fold(lowOk)(hi => lowOk && col(s"${c}_min") < lit(hi))
    manifest.filter(overlap).select(col(shardCol).cast("int"))
      .collect().map(_.getInt(0)).toSeq.sorted
  }

  /** Manifest-pruned LIKE-'prefix%' scan — the real-user string shape
    * (language families `lang LIKE 'en%'`, domain prefixes, path
    * roots), routed through the existing stats envelopes with zero new
    * sidecar machinery; the residual `startswith` keeps exactness
    * (row-identical to a full scan with the same predicate). */
  def readPrunedByPrefix(spark: SparkSession, dir: String,
      prefixCol: String, prefix: String,
      shardCol: String = "shard"): DataFrame = withSidecarCtx {
    val cands = candidateShardsByPrefix(statsManifest(spark, dir),
      prefixCol, prefix, shardCol)
    readShards(spark, dir, cands, shardCol)
      .filter(col(prefixCol).startsWith(prefix))
  }

  /** COMBINED-predicate pruned read — the shape real scans have
    * (`key = X AND ts BETWEEN lo AND hi`, or `key IN (…) AND …`): both
    * sidecars are consulted and their candidate sets INTERSECTED — a
    * shard must be range-possible under the stats envelope AND
    * bloom-maybe for at least one key to be read at all; each sidecar
    * alone over-approximates, so the intersection still never loses a
    * row (transparency is per-sidecar, conjunction only removes shards
    * BOTH sides already ruled in). `keys` probe the table's bloom key
    * column (recovered from the sidecar — the index knows what it
    * indexes); multiple keys are the IN-list union
    * ([[candidateShardsByKeys]]). The residual conjunction then runs on
    * the rows read — row-identical to a full scan with the same
    * predicate.
    */
  def readPruned(spark: SparkSession, dir: String,
      ranges: Seq[(String, Any, Any)] = Nil,
      keys: Seq[Any] = Nil,
      shardCol: String = "shard"): DataFrame = withSidecarCtx {
    require(ranges.nonEmpty || keys.nonEmpty,
      "need at least one predicate (ranges and/or keys)")
    // FUSED planning: bloom key/m/k come from the 1-row meta sidecar
    // (the index knows what it indexes), and both shards-sized sidecar
    // filters run as ONE job — a union, not a join (no exchange), with
    // the set intersection done driver-side over the collected rows.
    // One manifest pass + one collect where the naive plan paid two
    // sidecar collects plus a key_col probe; the fixed planning cost is
    // what dominates a well-pruned read, so it is the term to halve.
    val keyed = if (keys.isEmpty) None else Some(
      bloomConfigOf(spark, dir).getOrElse(sys.error(
        s"readPruned: $dir has no bloom index for a key predicate")))
    val statsSide =
      if (ranges.isEmpty) None
      else {
        val overlap = ranges.map { case (c, lo, hi) =>
          col(s"${c}_min") <= lit(hi) && col(s"${c}_max") >= lit(lo)
        }.reduce(_ && _)
        Some(statsManifest(spark, dir).filter(overlap)
          .select(col(shardCol).cast("int").as("_shard"),
            lit(0).as("_side")))
      }
    // large IN-lists take the flat join shape (see
    // [[candidateShardsByKeys]] — the inline disjunction is
    // list-deep and overflows Catalyst's converter), giving up the
    // one-pass fusion for the rare big-list case
    val bigList = keys.size > 64
    val bloomSide =
      if (bigList) None
      else keyed.map { case (_, m, k) =>
        val covered = keys.map { key =>
          size(array_except(graft.ext.Corpus.bloomPositions(lit(key), m,
            k), col("_bits"))) === 0
        }.reduce(_ || _)
        bloomManifest(spark, dir).filter(covered)
          .select(col("shard").cast("int").as("_shard"),
            lit(1).as("_side"))
      }
    val rows = (statsSide, bloomSide) match {
      case (Some(a), Some(b)) => a.unionByName(b).collect()
      case (Some(a), None)    => a.collect()
      case (None, Some(b))    => b.collect()
      // big-list keys-only: everything comes from the join path below
      case (None, None)       => Array.empty[org.apache.spark.sql.Row]
    }
    def side(s: Int): Seq[Int] =
      rows.filter(_.getInt(1) == s).map(_.getInt(0)).toSeq.sorted
    val bloomCands: Option[Seq[Int]] =
      if (bigList) Some(candidateShardsByKeysCfg(
        bloomManifest(spark, dir), keys,
        keyed.map { case (_, m, k) => (m, k) }, shardCol))
      else if (bloomSide.isDefined) Some(side(1))
      else None
    val cands = (statsSide, bloomCands) match {
      case (Some(_), Some(b)) => side(0).intersect(b)
      case (Some(_), None)    => side(0)
      case (None, Some(b))    => b
      case _                  => sys.error("unreachable")
    }
    val residual = (ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    } ++ keyed.map { case (kc, _, _) =>
      if (keys.size == 1) col(kc) === lit(keys.head)
      else col(kc).isin(keys: _*)
    }).reduce(_ && _)
    readShards(spark, dir, cands, shardCol).filter(residual)
  }

  /** VACUUM — the storage-hygiene verb every long-lived table needs:
    * converge all crash protocols, then remove the debris they can
    * legally leave behind. The swap protocol
    * ([[graft.dw.Merge.atomicOverwriteDir]]) deletes its `__swap_new`/
    * `__swap_old` siblings at the START of the NEXT swap — so a
    * read-mostly table keeps a dead writer's partial tmp (or a full
    * pre-swap copy of a sidecar) on disk indefinitely, paying storage
    * and, on object stores, LIST cost. Specifically:
    *
    *  - table-level and sidecar-level `__swap_new`/`__swap_old`
    *    siblings whose base path exists (after running recovery, so a
    *    promotable crash window is HEALED, never discarded);
    *  - an interrupted delete's `_pending_delete` area (rolled forward
    *    or aborted by [[recoverPendingDelete]]);
    *  - an expired writer lease (broken by this call's own acquire).
    *
    * Runs under the writer lease — with it held, no writer is mid-swap,
    * which is what makes "sibling of an existing base" PROVABLY debris
    * rather than a racing writer's in-flight tmp. Returns the removed
    * paths and the bytes reclaimed; a clean table returns (Nil, 0) at
    * the cost of one directory listing.
    */
  def vacuumTable(spark: SparkSession, dir: String,
      shardCol: String = "shard"): (Seq[String], Long) =
      withSidecarCtx { withWriterLease(spark, dir) {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    graft.dw.Merge.recover(spark, dir)
    if (fs.exists(new Path(dir)))
      recoverPendingDelete(spark, dir, shardCol)
    val removed = scala.collection.mutable.Buffer.empty[(String, Long)]
    def drop(p: Path): Unit = if (fs.exists(p)) {
      val bytes = fs.getContentSummary(p).getLength
      removed += ((p.toString, bytes))
      fs.delete(p, true)
    }
    // table-level swap siblings: recover() above already promoted a
    // completed-but-unpublished version; what remains is debris (a
    // partial write, or the pre-swap copy of a completed one)
    drop(new Path(dir + "__swap_new"))
    drop(new Path(dir + "__swap_old"))
    if (fs.exists(new Path(dir))) {
      // sidecar-level swap debris inside the table dir: heal each
      // base through the same recovery before judging its siblings
      val children = fs.listStatus(new Path(dir)).toSeq
        .map(_.getPath.getName)
      val bases = children.collect {
        case n if n.endsWith("__swap_new") => n.dropRight(10)
        case n if n.endsWith("__swap_old") => n.dropRight(10)
      }.distinct
      bases.foreach { b =>
        graft.dw.Merge.recover(spark, s"$dir/$b")
        drop(new Path(s"$dir/${b}__swap_new"))
        drop(new Path(s"$dir/${b}__swap_old"))
      }
      // a promoted swap of ANY sidecar (meta, schema, stats, bloom, dv)
      // changed what the sidecars say
      if (bases.nonEmpty) invalidateSidecarCtx(dir)
    }
    // history-log truncation: keep the newest LogKeep entries (a
    // streaming mount writes one per batch — unbounded without this);
    // generation numbering lives in the file names, so it survives
    if (fs.exists(logDir(dir))) {
      val entries = fs.listStatus(logDir(dir)).toSeq
        .filter(_.getPath.getName.headOption.exists(_.isDigit))
        .sortBy(_.getPath.getName)
      entries.dropRight(LogKeep).foreach(st => drop(st.getPath))
    }
    (removed.map(_._1).toSeq, removed.map(_._2).sum)
      } }

  /** SNAPSHOT — a consistent point-in-time copy of the table (data
    * files, every `_graft_*` sidecar, and the history log) into
    * `snapDir`, taken UNDER THE WRITER LEASE after converging the
    * crash protocols — so the copy is a complete, healthy state, never
    * a mid-swap or mid-delete window. This is the savepoint/RESTORE
    * story for a directory-swap engine: full-copy here (honest for
    * local FS/HDFS — at object-store scale the same verb rides bucket
    * versioning or a metadata-only manifest snapshot; the API contract
    * is what this pins). [[restoreTable]] swaps a snapshot back
    * atomically — the rollback verb after a bad batch, takedown
    * mistake, or botched evolution; the restored table is live
    * immediately (its sidecars came with it) and the restore is
    * itself logged. Returns bytes copied.
    */
  def snapshotTable(spark: SparkSession, dir: String,
      snapDir: String): Long = withWriterLease(spark, dir) {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(dir)
    val fs = src.getFileSystem(conf)
    require(fs.exists(src), s"snapshotTable: $dir does not exist")
    // converge crash protocols AND clean debris first (re-entrant
    // lease) — the snapshot is a healthy state, not a museum of tmps
    vacuumTable(spark, dir)
    val dst = new Path(snapDir)
    require(!fs.exists(dst),
      s"snapshotTable: $snapDir already exists — snapshots are " +
        "immutable; pick a fresh path")
    // copy into a tmp sibling, rename into place: a crashed snapshot
    // is a missing snapshot, never a torn one
    val tmp = new Path(snapDir + "__swap_new")
    fs.delete(tmp, true)
    require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, tmp,
      false, conf), s"snapshot copy $src -> $tmp failed")
    // the sibling history log travels with the snapshot (it records
    // the generation the snapshot was taken at)
    if (fs.exists(logDir(dir)))
      org.apache.hadoop.fs.FileUtil.copy(fs, logDir(dir), fs,
        new Path(tmp, "_graft_snapshot_log"), false, conf)
    require(fs.rename(tmp, dst), s"snapshot rename $tmp -> $dst failed")
    fs.getContentSummary(dst).getLength
      }

  /** Swap a [[snapshotTable]] copy back in as the live table — the
    * ROLLBACK verb. The snapshot itself is left intact (copy, then the
    * standard atomic swap), the table's history log gains a `restore`
    * entry (generation numbering continues forward — a rollback is a
    * new mutation, not a rewind; the snapshot's own log ships inside
    * it as `_graft_snapshot_log` for audit). */
  def restoreTable(spark: SparkSession, dir: String,
      snapDir: String): Unit =
      withSidecarCtx { withWriterLease(spark, dir) {
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = new Path(snapDir)
    val fs = snap.getFileSystem(conf)
    require(fs.exists(snap), s"restoreTable: $snapDir does not exist")
    graft.dw.Merge.atomicOverwriteDir(spark, dir) { tmp =>
      require(org.apache.hadoop.fs.FileUtil.copy(fs, snap, fs,
        new Path(tmp), false, conf),
        s"restore copy $snap -> $tmp failed")
      // the snapshot's embedded log copy is audit payload of the
      // SNAPSHOT, not of the live table — drop it from the live copy
      fs.delete(new Path(tmp, "_graft_snapshot_log"), true)
      // recover() promotes a tmp only once it looks complete; the
      // copy brought _SUCCESS markers inside sidecar dirs but the
      // root needs one for the swap-recovery contract
      val ok = fs.create(new Path(tmp, "_SUCCESS"), true)
      ok.close()
    }
    invalidateSidecarCtx(dir) // the swap replaced the whole table
    logEntry(spark, dir, "restore", s"from=$snapDir")
  } }

  /** One [[fsckTable]] finding: `severity` is "error" (the reads-
    * through-manifests contract is broken — rows can be MISSED),
    * "warn" (a documented crash window or drift — heals at the next
    * refresh/compact), or "info" (hygiene — vacuum's business). */
  case class FsckFinding(severity: String, check: String,
      shard: Option[Int], detail: String)

  /** FSCK — the table-invariant checker (the `CHECK TABLE` every
    * operated store needs): verifies the contracts the pruned-read
    * machinery RELIES on, without mutating anything. Shallow checks
    * are metadata-only (listings + shards-sized sidecar reads):
    *
    *  - every `shard=N` data directory has a stats-manifest row —
    *    an UNMANIFESTED shard is an "error" (candidate enumeration
    *    would never name it: pruned reads MISS its rows);
    *  - a manifest row whose directory is missing is a "warn" (the
    *    documented append crash window — manifests run ahead of data;
    *    reads treat it as empty, the next refresh heals it);
    *  - bloom rows for shards the stats manifest does not know are
    *    a "warn" (wider-never-narrower: extra candidates cost I/O,
    *    never rows); a bloom or DV sidecar without a recoverable
    *    config is an "error";
    *  - deletion-vector entries naming missing shard dirs are "info"
    *    (masking nothing); shard ids ≥ the meta's `n_shards` are an
    *    "error" (the layout contract);
    *  - swap debris and an interrupted `_pending_delete` are "info"
    *    (vacuum / recovery handle them).
    *
    * `deep = true` adds one pass over the data: per-shard ACTUAL
    * min/max must lie INSIDE the manifest envelope (an envelope
    * narrower than the data is an "error" — pruned reads can miss),
    * and per-shard physical counts beyond `n_rows` likewise (n_rows
    * is contracted to be an upper bound under crash-retry).
    * Returns findings, empty when healthy.
    */
  def fsckTable(spark: SparkSession, dir: String,
      shardCol: String = "shard",
      deep: Boolean = false): Seq[FsckFinding] = withSidecarCtx {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.Buffer.empty[FsckFinding]
    def f(sev: String, check: String, shard: Option[Int], d: String) =
      out += FsckFinding(sev, check, shard, d)
    if (!fs.exists(new Path(dir))) {
      f("error", "table", None, s"$dir does not exist")
      return out.toSeq
    }
    val children = fs.listStatus(new Path(dir)).toSeq
    val dataShards = children.collect {
      case st if st.isDirectory &&
          st.getPath.getName.startsWith(s"$shardCol=") &&
          fs.listStatus(st.getPath).exists(x => x.isFile &&
            !x.getPath.getName.startsWith("_") &&
            !x.getPath.getName.startsWith(".")) =>
        st.getPath.getName.stripPrefix(s"$shardCol=").toInt
    }.toSet
    if (children.exists(_.getPath.getName == PendingDelete))
      f("info", "pending_delete", None,
        "interrupted delete present — recovery converges it at the " +
          "next read or mutation")
    children.map(_.getPath.getName)
      .filter(n => n.endsWith("__swap_new") || n.endsWith("__swap_old"))
      .foreach(n => f("info", "swap_debris", None, s"$n — vacuum"))
    if (!children.exists(_.getPath.getName == StatsSidecar)) {
      f("error", "stats_manifest", None,
        "no stats sidecar — pruned reads have no candidates " +
          "(refreshManifests heals if the meta sidecar survives)")
      return out.toSeq
    }
    val man = statsManifest(spark, dir)
    val manShards = man.select(col(shardCol).cast("int"))
      .collect().map(_.getInt(0)).toSet
    (dataShards -- manShards).toSeq.sorted.foreach(s =>
      f("error", "unmanifested_shard", Some(s),
        "data directory with no manifest row — pruned reads MISS " +
          "these rows; refreshManifests"))
    (manShards -- dataShards).toSeq.sorted.foreach(s =>
      f("warn", "manifest_ahead", Some(s),
        "manifest row but no data directory (append crash window) — " +
          "reads as empty, refresh heals"))
    val meta = readMeta(spark, dir)
    meta.flatMap(_.nShards).foreach { n =>
      (dataShards ++ manShards).filter(_ >= n).toSeq.sorted.foreach(s =>
        f("error", "shard_out_of_range", Some(s),
          s"shard id >= n_shards=$n — violates the layout contract"))
    }
    if (children.exists(_.getPath.getName == BloomSidecar)) {
      if (bloomConfigOf(spark, dir).isEmpty)
        f("error", "bloom_config", None,
          "bloom sidecar present but key/m/k unrecoverable (empty " +
            "sidecar, no meta) — key routing is dead")
      else {
        val bShards = bloomManifest(spark, dir)
          .select(col("shard").cast("int")).collect().map(_.getInt(0))
        bShards.filterNot(manShards).sorted.foreach(s =>
          f("warn", "bloom_orphan", Some(s),
            "bloom row for a shard the stats manifest does not know " +
              "— extra candidate I/O only"))
      }
    }
    if (children.exists(_.getPath.getName == DvSidecar)) {
      if (bloomConfigOf(spark, dir).isEmpty)
        f("error", "dv_config", None,
          "deletion-vector sidecar but no bloom config — masked " +
            "keys cannot be typed/applied")
      else dvManifest(spark, dir)
        .select(col("shard").cast("int")).distinct()
        .collect().map(_.getInt(0)).filterNot(dataShards)
        .sorted.foreach(s =>
          f("info", "dv_stale_entry", Some(s),
            "deletion-vector entry for a missing shard dir — masks " +
              "nothing; cleared at apply"))
    }
    if (deep && dataShards.nonEmpty) {
      val statCols = statColsOf(spark, dir)
      val actual = graft.ext.Corpus.shardStats(
        readShardsRaw(spark, dir, dataShards.toSeq.sorted, shardCol),
        shardCol, statCols)
      val a = actual.columns.foldLeft(actual)((d, c) =>
        if (c == shardCol) d else d.withColumnRenamed(c, s"_a_$c"))
      val joined = man.join(a, Seq(shardCol), "inner")
      val viol = statCols.flatMap { c =>
        Seq((s"${c}_min", s"_a_${c}_min",
            col(s"_a_${c}_min") < col(s"${c}_min")),
          (s"${c}_max", s"_a_${c}_max",
            col(s"_a_${c}_max") > col(s"${c}_max")))
      }
      val rowViol = col(s"_a_n_rows") > col("n_rows")
      val checks = joined.select(col(shardCol).cast("int").as("_s"),
        viol.map(v => coalesce(v._3, lit(false))).reduce(_ || _)
          .as("_env"), rowViol.as("_rows"))
        .filter(col("_env") || col("_rows")).collect()
      checks.foreach { r =>
        if (r.getBoolean(1))
          f("error", "envelope_narrower_than_data", Some(r.getInt(0)),
            "actual min/max outside the manifest envelope — pruned " +
              "reads can MISS rows; refreshManifests")
        if (r.getBoolean(2))
          f("error", "n_rows_narrower_than_data", Some(r.getInt(0)),
            "physical rows exceed manifest n_rows — violates " +
              "wider-never-narrower")
      }
    }
    out.toSeq
  }

  /** The table's measured manifest STALENESS: the largest per-shard
    * fraction of rows that entered through [[appendSharded]]'s additive
    * folds since the stats were last exact (`_stale_rows / n_rows`).
    * 0 right after [[writeSharded]]/[[refreshManifests]]/
    * `compactSharded`; grows toward 1 on an append-only shard that
    * never gets maintained. Driver-side aggregate over the shards-sized
    * manifest — the signal a scheduled refresh triggers on (looseness,
    * not file count). Pre-staleness manifests read as 0 (exactness
    * unknown but envelopes valid — refresh on file count still applies).
    */
  def manifestStaleness(spark: SparkSession, dir: String): Double = {
    val man = statsManifest(spark, dir)
    if (!man.columns.contains("_stale_rows")) 0.0
    else {
      val r = man.agg(max(
        when(col("n_rows") > 0,
          col("_stale_rows").cast("double") / col("n_rows"))
          .otherwise(lit(0.0))).as("s")).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
  }
}
