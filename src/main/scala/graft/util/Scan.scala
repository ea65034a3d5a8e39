package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  * the table directory ignore them), with the verbs that write each:
  * {{{
  *   table/
  *     shard=0/part-*.parquet — rows, sorted within the file by the meta's
  *     shard=1/…                sort column (the curve position)
  *     _graft_meta/   — TableMeta: stat cols, sort col, bloom key/m/k,
  *                      z bits, shard count (writeSharded; the evolve
  *                      verbs rewrite stat_cols)
  *     _graft_stats/  — shardStats manifest, rows = shards, with
  *                      `_stale_rows` (rebuilt by writeSharded, the
  *                      refreshes and every shard rewrite; folded by
  *                      appendSharded and deleteByKeysDeferred; widened
  *                      or narrowed by the evolve verbs)
  *     _graft_bloom/  — bloomBitsTable + key_col, when the meta names a
  *                      bloom key (rebuilt as the stats are; folded by
  *                      appendSharded)
  *     _graft_schema/ — 0-row declared schema (writeSharded, the evolve
  *                      verbs)
  *     _graft_dicts/  — col=<c>/ frozen string-dim dictionaries
  *                      (writeSharded)
  *     _graft_dv/     — pending deletion vector (deleteByKeysDeferred;
  *                      cleared by the rewrites that apply it)
  * }}}
  *
  * No other format is read: [[writeSharded]] writes the meta and the
  * declared schema before the data, so a table without them was not
  * published here, and every verb that needs the configuration refuses
  * it ([[metaOf]]) rather than guessing at it.
  *
  * The table describes itself: the shard column is always [[ShardCol]]
  * (`shard=N` directories, the `shard` column of every manifest), and a
  * verb that rewrites shards sorts them by the `sort_col` the meta
  * recorded at [[writeSharded]] — no verb takes either as an option.
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
  * checkpoints are the existence proof); they are decoded on the driver
  * and candidate enumeration filters them there with no Spark job — the
  * scan-planning step every lakehouse reader performs, bounded by shard
  * count, never by data.
  * The data read is `|candidate shards| / |shards|` of the corpus; with a
  * z-ordered layout underneath, a d-dimensional predicate keeps that
  * fraction small on EVERY clustered dimension (measured: BASELINE.md,
  * "Round 13 — ZorderProbe: measured 2-d skipping").
  */
object Scan {

  /** Bound on every publish-path Await (sidecar futures, manifest
    * passes): finite and under the 15-min writer-lease default, so a
    * hung background write fails the publish LOUDLY while this writer
    * still holds the lease — instead of parking a thread forever while
    * the lease expires and a second writer breaks it. */
  private val SidecarAwait = scala.concurrent.duration.Duration(
    10, java.util.concurrent.TimeUnit.MINUTES)

  /** The shard column: the `shard=N` partition directories and the
    * `shard` column of the stats, bloom and deletion-vector sidecars. */
  val ShardCol = "shard"

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

  /** Await concurrent sidecar swaps EACH individually (not a fail-fast
    * `Future.sequence`), so none is still writing when the caller
    * unwinds, then rethrow the first failure in `swaps` order with every
    * later one attached as suppressed — none is dropped. Finite timeout:
    * see [[SidecarAwait]]. */
  private def settleSidecarSwaps(
      swaps: Seq[scala.concurrent.Future[Unit]]): Unit =
    swaps.map(f => scala.util.Try(
      scala.concurrent.Await.result(f, SidecarAwait)))
      .collect { case scala.util.Failure(e) => e } match {
      case first +: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => ()
    }

  /** The Spark schema of the parquet directory `path`, from ONE footer
    * read on the driver: list the directory, open its first part file
    * and parse the row schema Spark's writer stores under
    * [[SparkRowMetadata]] — the schema `spark.read.parquet(path)` would
    * infer, nullable as a file source reads it, without the inference
    * job. None when there is no such file or key (a missing directory,
    * a footer another writer produced). */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): Option[org.apache.spark.sql.types.StructType] =
    partFiles(spark, path).headOption.flatMap(footerSchemaOf(spark, _))

  /** [[footerSchema]] of one part file. */
  private def footerSchemaOf(spark: SparkSession,
      st: org.apache.hadoop.fs.FileStatus)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val opts = HadoopReadOptions.builder(conf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .build()
    val json = scala.util.Try {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        opts)
      try r.getFooter.getFileMetaData.getKeyValueMetaData
        .get(SparkRowMetadata)
      finally r.close()
    }.toOption.flatMap(Option(_))
    json.flatMap(j => scala.util.Try(
      org.apache.spark.sql.types.DataType.fromJson(j)).toOption)
      .collect { case sc: org.apache.spark.sql.types.StructType =>
        asNullable(sc).asInstanceOf[org.apache.spark.sql.types.StructType]
      }
  }

  /** The data files, in name order, of the parquet directory `path`
    * (`_`- and `.`-prefixed names are not data); empty when the
    * directory is missing. One listing. */
  private def partFiles(spark: SparkSession,
      path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq.filter(isDataFile).sortBy(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** The rows of the parquet directory `path`, decoded ON THE DRIVER with
    * no Spark job: every part file, row group by row group, through
    * Spark's own parquet record materializer ([[graftshim.shim
    * .decodeParquetRows]]) under the schema [[footerSchema]] reads — the
    * rows and schema `spark.read.parquet(path)` reads. Each file is opened
    * under one copy of the session's Hadoop configuration per read:
    * `ParquetReader.builder(…, path)` would build and parse a fresh
    * default `Configuration` (~100 KB of XML) per call. None when the
    * directory holds no part file with a Spark schema in its footer.
    *
    * For sidecars whose size is bounded by the shard count, never by the
    * data: the whole directory is held in driver memory. */
  private def driverRows(spark: SparkSession, path: String)
      : Option[(org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    val files = partFiles(spark, path)
    files.headOption.flatMap(footerSchemaOf(spark, _)).map { sc =>
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      (sc, files.flatMap(st =>
        org.apache.spark.sql.graftshim.shim.decodeParquetRows(spark, conf,
          st, sc)))
    }
  }

  /** Whether a listed entry is a parquet data file: `_`- and
    * `.`-prefixed names (`_SUCCESS`, sidecars, checksums) are not. */
  private[graft] def isDataFile(st: org.apache.hadoop.fs.FileStatus)
      : Boolean =
    st.isFile && !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")

  /** The number of data files in one directory; 0 when it is missing. */
  private def dataFileCount(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Int =
    try fs.listStatus(p).count(isDataFile)
    catch { case _: java.io.FileNotFoundException => 0 }

  /** Data files per `shard=N` directory of the table: one listing of the
    * table directory and one of each shard directory, no file opened.
    * The count compaction and the maintained mounts trigger on, and the
    * one fsck checks manifests against. */
  private[graft] def shardFileCounts(spark: SparkSession,
      dir: String): Map[Int, Int] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$ShardCol="))
      .map(st => st.getPath.getName.stripPrefix(s"$ShardCol=").toInt ->
        dataFileCount(fs, st.getPath))
      .toMap
  }

  /** The footer key under which Spark's parquet writer stores the row
    * schema as JSON. */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** `dt` with every field, array element and map value nullable — the
    * form a file-source read reports whatever the writer declared. */
  private def asNullable(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case ArrayType(e, _) => ArrayType(asNullable(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(asNullable(k), asNullable(v), valueContainsNull = true)
      case other => other
    }
  }

  /** Construct a read of the parquet directory `path` with its footer
    * schema ([[footerSchema]]), so the construction starts no Spark job;
    * Spark infers only when the footer carries no Spark schema, and a
    * missing directory fails exactly as a plain `spark.read.parquet`
    * does. The data stays a fresh lazy frame every time. */
  private[graft] def readSidecarPath(spark: SparkSession,
      path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(sc =>
      spark.read.schema(sc).parquet(path))

  private def readSidecar(spark: SparkSession, dir: String,
      name: String): DataFrame =
    readSidecarPath(spark, s"$dir/$name")

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
    * independently knew the stats columns). `shardColumn` is the stored
    * `shard_col` value: [[ShardCol]] for every table this code writes;
    * `sortCol` is the sort every rewrite of the table applies.
    */
  private[graft] case class TableMeta(statCols: Seq[String],
      shardColumn: String, sortCol: Option[String], bloomKey: Option[String],
      bloomM: Int, bloomK: Int, zTotalBits: Option[Int],
      nShards: Option[Int]) {
    /** The bloom configuration (key column, m, k); None without a key. */
    def bloom: Option[(String, Int, Int)] = bloomKey.map((_, bloomM, bloomK))
  }

  /** `meta` as the sidecar's one-row, one-partition frame. */
  private def metaFrame(spark: SparkSession, meta: TableMeta): DataFrame = {
    import spark.implicits._
    Seq((meta.statCols, meta.shardColumn, meta.sortCol, meta.bloomKey,
        meta.bloomM, meta.bloomK, meta.zTotalBits, meta.nShards))
      .toDF("stat_cols", "shard_col", "sort_col", "bloom_key",
        "bloom_m", "bloom_k", "z_total_bits", "n_shards")
      .coalesce(1)
  }

  private def writeMeta(spark: SparkSession, tableDir: String,
      meta: TableMeta): Unit =
    metaFrame(spark, meta).write.mode("overwrite")
      .parquet(s"$tableDir/$MetaSidecar")

  /** The table's [[TableMeta]], read on the driver with no Spark job:
    * the sidecar's one row is decoded by [[driverRows]], the decoder the
    * stats and bloom manifests are read with. None when the table has no
    * meta sidecar; a sidecar directory without that row fails. */
  private[graft] def readMeta(spark: SparkSession,
      dir: String): Option[TableMeta] = {
    val path = s"$dir/$MetaSidecar"
    val conf = spark.sparkContext.hadoopConfiguration
    if (!new Path(path).getFileSystem(conf).exists(new Path(path))) None
    else {
      val (sc, rows) = driverRows(spark, path).getOrElse(sys.error(
        s"$path: meta sidecar without a data file"))
      val g = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(sc)(rows.headOption.getOrElse(sys.error(
          s"$path: meta sidecar without a row")))
        .asInstanceOf[org.apache.spark.sql.Row]
      def opt[T](f: String): Option[T] = {
        val i = sc.fieldIndex(f)
        if (g.isNullAt(i)) None else Some(g.getAs[T](i))
      }
      Some(TableMeta(
        opt[scala.collection.Seq[String]]("stat_cols").fold(
          Seq.empty[String])(_.toSeq),
        opt[String]("shard_col").orNull, opt[String]("sort_col"),
        opt[String]("bloom_key"), opt[Int]("bloom_m").getOrElse(0),
        opt[Int]("bloom_k").getOrElse(0), opt[Int]("z_total_bits"),
        opt[Int]("n_shards")))
    }
  }

  /** The table's [[TableMeta]], the one source of its configuration: a
    * table without the meta sidecar was not published by [[writeSharded]],
    * and every verb that reads its configuration fails here, naming the
    * sidecar. */
  private[graft] def metaOf(spark: SparkSession, dir: String): TableMeta =
    readMeta(spark, dir).getOrElse(sys.error(
      s"$dir has no $MetaSidecar sidecar — not a sharded table published " +
        "by writeSharded"))

  /** The table's bloom key column, for the verbs that route by it (key
    * deletes, deletion vectors, upserts, key predicates); fails when the
    * table was published without a bloom key. */
  private[graft] def bloomKeyOf(spark: SparkSession, dir: String): String =
    metaOf(spark, dir).bloomKey.getOrElse(sys.error(
      s"$dir has no bloom index — key routing and deletion vectors key " +
        "on the bloom column"))

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
        c -> readSidecarPath(spark, s.getPath.toString)
      }.toMap
  }

  /** Write `laid` — a frame already carrying [[ShardCol]] (normally a
    * [[graft.ext.Corpus.zorderLayoutN]] assignment with the payload in
    * `keepCols`) — as a shard-partitioned parquet table with its stats
    * manifest (over `statCols`) and optional bloom index (over
    * `bloomKeyCol`), all published in ONE atomic swap. Rows are
    * range-grouped one task per shard (1 file per shard directory) and
    * sorted within files by `sortCol`
    * when given (the z-order curve position), so every row group's
    * min/max envelope is as tight as the layout allows. The meta records
    * `sortCol`; every later rewrite of the table sorts by it.
    *
    * Manifests are computed from the frame AS WRITTEN (one extra pass
    * over the tmp files, embarrassingly parallel per shard) — the
    * manifest describes the files, not the plan that produced them.
    */
  def writeSharded(spark: SparkSession, laid: DataFrame, dir: String,
      statCols: Seq[String],
      sortCol: Option[String] = None, bloomKeyCol: Option[String] = None,
      bloomM: Int = 4096, bloomK: Int = 3,
      zTotalBits: Option[Int] = None, nShards: Option[Int] = None,
      dicts: Map[String, DataFrame] = Map.empty): Unit = {
    require(statCols.nonEmpty, "need at least one stats column")
    val meta = TableMeta(statCols, ShardCol, sortCol, bloomKeyCol, bloomM,
      bloomK, zTotalBits, nShards)
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
      // recoverable state still carries its configuration; a failed
      // sidecar unwinds only once its siblings stopped writing into tmp
      locally {
        import scala.concurrent.ExecutionContext.Implicits.global
        settleSidecarSwaps(Seq(
          SparkFuture(spark)(writeMeta(spark, tmp, meta)),
          // 0-row schema sidecar: a delete can legally empty EVERY
          // shard, after which the table dir holds only `_`-sidecars
          // and plain parquet schema inference fails — this keeps an
          // empty table readable (and the delete-recovery manifest
          // rebuild schema-safe). Built as an empty LocalRelation so
          // the write never plans (or risks executing) the layout
          // lineage behind `laid`.
          SparkFuture(spark)(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              laid.schema)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$tmp/$SchemaSidecar"))) ++
          // string-dim dictionaries are configuration too (dict +
          // bounds = the frozen frame): persisted with the meta,
          // before the data
          dicts.toSeq.map { case (c, d) =>
            SparkFuture(spark)(d.coalesce(1).write.mode("overwrite")
              .parquet(s"$tmp/$DictSidecar/col=$c"))
          })
      }
      val parted = laid.repartition(col(ShardCol))
      sortCol.fold(parted)(c => parted.sortWithinPartitions(ShardCol, c))
        .write.partitionBy(ShardCol).mode("append").parquet(tmp)
      // NULL shards (a z-order layout's unroutable NULL-dim rows) land
      // in Hive's default partition — a shard the int-keyed manifests
      // cannot name, so pruned reads would silently never see those
      // rows. Enforce the layout convention (the caller routes
      // unroutables explicitly) with a free FS probe; throwing here
      // aborts the swap and leaves the target untouched.
      val fs = new Path(tmp).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(new Path(
        s"$tmp/$ShardCol=__HIVE_DEFAULT_PARTITION__")),
        s"writeSharded: rows with NULL $ShardCol — route unroutable " +
          "(NULL-dimension) rows explicitly before publishing")
      // the written files' schema is known from the frame, so the read
      // starts no partition-discovery inference job
      val written = writtenSchema(spark, tmp, laid.schema)
        .fold(spark.read.parquet(tmp))(sc => spark.read.schema(sc).parquet(tmp))
      rebuildManifests(spark, tmp, meta, None, Some(written),
        countMasked = false)
    }
    logEntry(spark, dir, "publish",
      s"shards=${nShards.getOrElse(-1)} stat_cols=${statCols.mkString("+")}" +
        bloomKeyCol.fold("")(k => s" bloom=$k"))
    }
  }

  /** APPEND a laid-out batch into an existing sharded table, keeping the
    * manifests fresh — the ingest leg of the lakehouse loop (write →
    * append per batch → compact on schedule), and the close of the gap
    * [[graft.util.Compaction.compactSharded]]'s spec exposes: a naive
    * `mode("append")` strands the sidecars stale and the pruned read
    * silently MISSES the appended rows.
    *
    * `laidBatch` carries [[ShardCol]] (normally assigned against the
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
      dir: String, idCol: String): Unit =
      withWriterLease(spark, dir) {
    // every mutation rolls an interrupted delete forward first (the
    // id probe's readShards would too, but the manifest fold must
    // never read a pre-roll-forward sidecar)
    recoverPendingDelete(spark, dir)
    val meta = metaOf(spark, dir)
    val statCols = meta.statCols
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // the bloom fold needs the old bloom rows; a sidecar lost in the
    // publish crash window is rebuilt by the next refresh
    val bloomCfg =
      meta.bloom.filter(_ => fs.exists(new Path(s"$dir/$BloomSidecar")))
    val b0 = laidBatch.persist()
    try {
      // NULL shards are rejected BEFORE anything lands (same contract
      // as writeSharded — the int-keyed manifests cannot name them)
      val touched = b0.select(col(ShardCol).cast("int")).distinct()
        .collect().map { r =>
          require(!r.isNullAt(0),
            s"appendSharded: rows with NULL $ShardCol — route " +
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
        val collisions =
          joinDv(spark, dir, b0, bloomKeyOf(spark, dir), "left_semi").count()
        require(collisions == 0L,
          s"appendSharded: $collisions batch rows collide with " +
            "pending deletion-vector entries — apply the vector " +
            "(applyDeletionVectors / compactSharded) before " +
            "re-inserting these keys")
      }
      // 1. bounded idempotence probe: ids present in the touched shards
      val present = readShards(spark, dir, touched)
        .select(col(idCol))
      val batch = b0.join(present, Seq(idCol), "left_anti").persist()
      try {
        // materialized COUNT, not isEmpty: the log entry after the data
        // write must not lazily re-run this anti-join (the landed rows
        // would then be "present" and the count would read 0)
        val nRows = batch.count()
        if (nRows == 0L) return
        // 2a. stats fold: old rows + batch-side exact stats per shard
        val batchStats = graft.ext.Corpus.shardStats(batch, ShardCol,
          statCols)
        val old = statsManifest(spark, dir)
        val bb = batchStats.columns.foldLeft(batchStats)((d, c) =>
          if (c == ShardCol) d else d.withColumnRenamed(c, s"_b_$c"))
        val merged = old.join(bb, Seq(ShardCol), "full_outer")
          .select(col(ShardCol) +:
            (coalesce(col("n_rows"), lit(0L)) +
              coalesce(col("_b_n_rows"), lit(0L))).as("n_rows") +:
            (StaleRows + coalesce(col("_b_n_rows"), lit(0L)))
              .as("_stale_rows") +:
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
        val mergedBloom = bloomCfg.map { case (kc, m, k) =>
          val ob = bloomManifest(spark, dir)
          val nb = graft.ext.Corpus.bloomBitsTable(batch, ShardCol, kc,
              m, k)
            .select(col(ShardCol), col("n_keys").as("_b_n_keys"),
              col("_bits").as("_b_bits"))
          val empty = array().cast("array<long>")
          ob.join(nb, Seq(ShardCol), "full_outer")
            .select(col(ShardCol),
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
        locally {
          import scala.concurrent.ExecutionContext.Implicits.global
          settleSidecarSwaps(Seq(
            SparkFuture(spark)(graft.dw.Merge.atomicOverwrite(spark, merged,
              s"$dir/$StatsSidecar"))) ++
            mergedBloom.map(mb => SparkFuture(spark)(graft.dw.Merge.atomicOverwrite(
              spark, mb, s"$dir/$BloomSidecar"))))
        }
        // 3. data lands last — the manifests already cover it; one file
        // per touched shard per batch (shard-keyed exchange), so file
        // growth is batches × touched shards, not × task parallelism
        batch.repartition(col(ShardCol))
          .write.mode("append").partitionBy(ShardCol).parquet(dir)
        logEntry(spark, dir, "append",
          s"rows=$nRows shards=${touched.size}")
      } finally batch.unpersist()
    } finally b0.unpersist()
  }

  /** Recompute and atomically replace a table's manifest sidecars from
    * its CURRENT files — the maintenance call after any rewrite that
    * bypassed [[writeSharded]] (and the healer for the recovery window
    * documented on [[graft.dw.Merge.atomicOverwriteDir]]). The stats
    * columns and the bloom geometry are the meta's: a refresh never
    * changes what the manifest covers.
    */
  def refreshManifests(spark: SparkSession, dir: String): Unit =
      withWriterLease(spark, dir) {
    val meta = metaOf(spark, dir)
    // the declared-schema read null-fills evolved columns in old files
    rebuildManifests(spark, dir, meta, None, Some(readTable(spark, dir)),
      countMasked = true)
    logEntry(spark, dir, "refresh",
      s"stat_cols=${meta.statCols.mkString("+")}")
  }

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
  def refreshShards(spark: SparkSession, dir: String,
      shards: Seq[Int]): Unit =
      withWriterLease(spark, dir) {
    if (shards.isEmpty) return
    recoverPendingDelete(spark, dir)
    rebuildManifests(spark, dir, metaOf(spark, dir), Some(shards),
      shardFiles(spark, dir, shards), countMasked = true)
    logEntry(spark, dir, "refresh_shards", s"shards=${shards.size}")
  }

  /** The one EXACT MANIFEST BUILDER: [[writeSharded]]'s publish,
    * [[refreshManifests]], [[refreshShards]] and the delete protocol's
    * roll-forward ([[applyPendingDelete]]) all rebuild the stats and
    * bloom sidecars here. `files` are the rows of the rebuilt shards'
    * files (None when none of them holds a file). `shards` names the
    * rebuilt shards: every other shard's old manifest rows pass through
    * unchanged, and a named shard without files loses its rows; None
    * rebuilds the whole table and keeps no old row.
    *
    * `_stale_rows` counts the rows that entered a shard through additive
    * folds since its stats were last computed exactly from files — NDV
    * looseness itself is unobservable without re-reading the data, and
    * fold-entered rows are a free, honest proxy. It is 0 for a rebuilt
    * shard — its rows ARE exact for its files — except that under
    * `countMasked` the rows a pending
    * deletion vector masks count in: they are physical-but-not-logical
    * looseness, and the staleness signal that drives the maintained
    * mounts to compact (which applies the vector) must survive a
    * refresh, or the loop would never converge. The delete protocol
    * rewrites shards from rows read with the vector applied, so it
    * passes `countMasked = false` and pays no masked-row join.
    *
    * The stats columns and the bloom geometry are `meta`'s, the table's
    * own: the delete paths probe with that geometry, so bits rebuilt with
    * any other m/k would silently miss rows. A targeted rebuild keeps old
    * bloom rows, so it skips a bloom sidecar the publish crash window
    * lost (the next full refresh rebuilds it).
    *
    * Each sidecar is replaced in its own atomic swap (sidecar paths are
    * `_`-prefixed, so their `__swap_new` dirs stay invisible to table
    * readers), as ONE file: the kept rows are a driver-held relation,
    * which would otherwise split into a file per core. The stats and
    * bloom passes are INDEPENDENT aggregations with distinct outputs —
    * submitted concurrently (§2.6 sibling-job overlap), so a rebuild
    * pays max() of the two instead of their sum.
    * A FUSED single aggregate was tried first and measured WORSE at 10x
    * (multiple countDistinct + collect_set plans as an expanded
    * sort-aggregate: x167's two ~100 ms passes became one 1-2 s job;
    * per-row bloom hashing repeated k md5 slices per row where the
    * distinct-first form hashes per distinct key) — two well-shaped
    * passes overlapped beat one mis-shaped pass. Each frame is built
    * inside its own future, so a failing bloom pass rides a failing
    * stats pass as suppressed ([[settleSidecarSwaps]]).
    */
  private def rebuildManifests(spark: SparkSession, dir: String,
      meta: TableMeta, shards: Option[Seq[Int]],
      files: Option[DataFrame], countMasked: Boolean): Unit = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val bloomCfg = meta.bloom.filter(_ =>
      shards.isEmpty || fs.exists(new Path(s"$dir/$BloomSidecar")))
    val maskKey =
      if (countMasked && fs.exists(new Path(s"$dir/$DvSidecar")))
        meta.bloomKey
      else None
    def kept(man: => DataFrame): Option[DataFrame] = shards.map(s =>
      man.filter(!col(ShardCol).cast("int").isin(s: _*)))
    def stats(): DataFrame = {
      val fresh = files.map { f =>
        val exact = graft.ext.Corpus.shardStats(f, ShardCol, meta.statCols)
        maskKey.fold(exact.withColumn("_stale_rows", lit(0L))) { kc =>
          val masked = joinDv(spark, dir, f, kc, "left_semi")
            .groupBy(col(ShardCol).cast("int").as("_m_shard"))
            .agg(count(lit(1)).as("_masked_rows"))
          exact.join(masked,
              exact(ShardCol).cast("int") === col("_m_shard"), "left_outer")
            .withColumn("_stale_rows",
              coalesce(col("_masked_rows"), lit(0L)))
            .drop("_m_shard", "_masked_rows")
        }
      }
      val old = kept(statsManifest(spark, dir))
        .map(_.withColumn("_stale_rows", StaleRows))
      (old ++ fresh).reduce(_ unionByName _)
    }
    def bloom(kc: String, m: Int, k: Int): DataFrame =
      (kept(bloomManifest(spark, dir)) ++ files.map(f =>
        graft.ext.Corpus.bloomBitsTable(f, ShardCol, kc, m, k)
          .withColumn("key_col", lit(kc)))).reduce(_ unionByName _)
    import scala.concurrent.ExecutionContext.Implicits.global
    def swap(name: String)(df: => DataFrame) =
      SparkFuture(spark)(graft.dw.Merge.atomicOverwrite(spark,
        df.coalesce(1), s"$dir/$name"))
    settleSidecarSwaps(swap(StatsSidecar)(stats()) +:
      bloomCfg.toSeq.map { case (kc, m, k) =>
        swap(BloomSidecar)(bloom(kc, m, k))
      })
  }

  /** A manifest's `_stale_rows`, 0 where it is NULL: a full-outer fold's
    * new shard has no old row. */
  private val StaleRows: Column = coalesce(col("_stale_rows"), lit(0L))

  /** The schema `spark.read.parquet(dir)` infers for a table written
    * from a frame of `schema` partitioned by [[ShardCol]]: the other
    * columns in frame order, nullable as a file source reads them, then
    * the shard column typed as partition discovery types its directory
    * values — int when every value fits one, else long. None when a
    * value is not integral; the caller then infers. Lists `dir` only; no
    * Spark job. */
  private def writtenSchema(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val p = new Path(dir)
    val values = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$ShardCol=")).map(_.stripPrefix(s"$ShardCol="))
    val shardType =
      if (values.forall(_.toIntOption.isDefined)) Some(IntegerType)
      else if (values.forall(_.toLongOption.isDefined)) Some(LongType)
      else None
    shardType.map(t => StructType(
      asNullable(StructType(schema.filterNot(_.name == ShardCol)))
        .asInstanceOf[StructType].fields :+ StructField(ShardCol, t)))
  }

  /** The table's stats manifest (one row per shard: `shard`, `n_rows`,
    * `<c>_min`/`<c>_max`/`<c>_ndv` per stats column, `_stale_rows`) as a
    * SNAPSHOT taken at the call: the sidecar is decoded on the driver
    * ([[driverRows]]) and held as a local relation, so candidate planning
    * over it ([[candidateShardsByStats]], [[candidateShardsByPrefix]])
    * collects with no Spark job. A later mutation of the table does not
    * show in a frame already returned; call again to see it. A missing
    * sidecar fails as `spark.read.parquet` does.
    *
    * Driver memory: one row per shard, a few longs and strings each. */
  def statsManifest(spark: SparkSession, dir: String): DataFrame =
    driverSidecar(spark, s"$dir/$StatsSidecar")

  /** The table's bloom manifest (one row per shard: `shard`, `n_keys`,
    * `_bits`, `m`, `k`, `key_col`), a snapshot taken at the call like
    * [[statsManifest]]; the bloom probes ([[candidateShardsByKey]],
    * [[candidateShardsByKeys]] up to 64 keys) collect with no Spark job.
    *
    * Driver memory: a row's `_bits` holds at most min(m, k·n_keys) longs,
    * so 128 shards at m = 4096 hold at most 4 MB. */
  def bloomManifest(spark: SparkSession, dir: String): DataFrame =
    driverSidecar(spark, s"$dir/$BloomSidecar")

  /** The sidecar directory `path` as a local relation over its
    * [[driverRows]]; a plain (lazy) Spark read when no part file carries
    * a Spark schema, so a missing sidecar fails exactly as
    * `spark.read.parquet` does. */
  private def driverSidecar(spark: SparkSession, path: String): DataFrame =
    driverRows(spark, path).fold(spark.read.parquet(path)) {
      case (sc, rows) =>
        org.apache.spark.sql.graftshim.shim.localFrame(spark, sc, rows)
    }

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
    * predicate. Over a [[statsManifest]] frame the filter folds into
    * the driver-held manifest and the collect runs no Spark job (the
    * scan-planning step, bounded by shard count); any other frame pays
    * one filter-collect job.
    */
  def candidateShardsByStats(manifest: DataFrame,
      ranges: Seq[(String, Any, Any)]): Seq[Int] = {
    require(ranges.nonEmpty, "need at least one range")
    val overlap = ranges.map { case (c, lo, hi) =>
      col(s"${c}_min") <= lit(hi) && col(s"${c}_max") >= lit(lo)
    }.reduce(_ && _)
    manifest.filter(overlap).select(col(ShardCol).cast("int"))
      .collect().map(_.getInt(0)).toSeq.sorted
  }

  /** Candidate shards for an equality predicate `keyCol = key`: bloom
    * rows whose bit set covers all of the key's positions (no false
    * negatives by construction — a shard containing the key set exactly
    * these bits). Positions are computed with the SAME Catalyst
    * expression that built the index ([[graft.ext.Corpus
    * .bloomPositions]]), so probe and index can never disagree on the
    * hash family; keys are native-typed (string keys hash their own
    * bytes, integral keys the digits they always did), under each
    * manifest row's own (m, k). Over a [[bloomManifest]] frame the
    * coverage filter folds into the driver-held manifest and the collect
    * runs no Spark job.
    */
  def candidateShardsByKey(bloom: DataFrame, key: Any): Seq[Int] =
    candidateShardsByKeys(bloom, Seq(key))

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
    * the scan side. Over a [[bloomManifest]] frame the inline shape runs
    * no Spark job (the filter folds into the driver-held manifest); the
    * join shape runs its join. */
  def candidateShardsByKeys(bloom: DataFrame,
      keys: Seq[Any]): Seq[Int] = {
    require(keys.nonEmpty, "need at least one key")
    val matched =
      if (keys.size <= 64)
        bloom.filter(keys.map(key => bloomCovers(lit(key))).reduce(_ || _))
      else {
        val keysDf = bloom.sparkSession.range(1).select(
          explode(array(keys.map(lit(_)): _*)).as("_probe_key"))
        bloom.join(broadcast(keysDf), bloomCovers(col("_probe_key")),
          "left_semi")
      }
    matched.select(col(ShardCol).cast("int"))
      .collect().map(_.getInt(0)).toSeq.sorted
  }

  /** Whether a bloom manifest row's bit set covers every position of
    * `key`, computed with the row's OWN `m` and `k` columns — the
    * geometry its bits were built with — so the coverage pass needs no
    * separate geometry read, and a zero-row manifest (every shard
    * emptied) simply yields no candidates. */
  private def bloomCovers(key: Column): Column =
    size(array_except(graft.ext.Corpus.bloomPositions(key, col("m"),
      col("k")), col("_bits"))) === 0

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
      addToStats: Boolean = true): Unit =
      withWriterLease(spark, dir) {
    recoverPendingDelete(spark, dir)
    val meta = metaOf(spark, dir)
    val schema = declaredSchema(spark, dir)
    // 1. stats manifest gains the new column's (NULL, NULL, 0) rows
    if (addToStats) {
      val man = statsManifest(spark, dir)
      if (!man.columns.contains(s"${colName}_min")) {
        val widened = man
          .withColumn(s"${colName}_min", lit(null).cast(dataType))
          .withColumn(s"${colName}_max", lit(null).cast(dataType))
          .withColumn(s"${colName}_ndv", lit(0L))
        graft.dw.Merge.atomicOverwrite(spark, widened.coalesce(1),
          s"$dir/$StatsSidecar")
      }
    }
    // 2. declared schema gains the column — from here every read
    // null-fills it for pre-evolution files
    if (!schema.fieldNames.contains(colName)) {
      val widened = readSidecar(spark, dir, SchemaSidecar)
        .withColumn(colName, lit(null).cast(dataType))
      graft.dw.Merge.atomicOverwrite(spark, widened,
        s"$dir/$SchemaSidecar")
    }
    // 3. meta stat_cols names it — appends start folding its stats
    if (addToStats && !meta.statCols.contains(colName))
      graft.dw.Merge.atomicOverwrite(spark,
        metaFrame(spark, meta.copy(statCols = meta.statCols :+ colName)),
        s"$dir/$MetaSidecar")
    logEntry(spark, dir, "evolve_add", s"col=$colName")
  }

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
      colName: String): Unit =
      withWriterLease(spark, dir) {
    recoverPendingDelete(spark, dir)
    require(declaredSchema(spark, dir).fieldNames.contains(colName),
      s"evolveDropColumn: $dir has no column '$colName'")
    val meta = metaOf(spark, dir)
    val protectedCols = Seq(ShardCol) ++ meta.sortCol ++ meta.bloomKey ++
      readDicts(spark, dir).keys
    require(!protectedCols.contains(colName),
      s"evolveDropColumn: '$colName' is part of $dir's layout/index " +
        s"machinery (${protectedCols.mkString(", ")}) — it cannot be " +
        "dropped without republishing")
    // 1. meta stat_cols stops naming it — appends stop folding
    if (meta.statCols.contains(colName))
      graft.dw.Merge.atomicOverwrite(spark, metaFrame(spark,
        meta.copy(statCols = meta.statCols.filterNot(_ == colName))),
        s"$dir/$MetaSidecar")
    // 2. stats manifest drops its envelope columns
    val man = statsManifest(spark, dir)
    val manCols = Seq(s"${colName}_min", s"${colName}_max",
      s"${colName}_ndv").filter(man.columns.contains)
    if (manCols.nonEmpty) {
      graft.dw.Merge.atomicOverwrite(spark,
        man.drop(manCols: _*).coalesce(1), s"$dir/$StatsSidecar")
    }
    // 3. declared schema narrows — reads project the column away
    graft.dw.Merge.atomicOverwrite(spark,
      readSidecar(spark, dir, SchemaSidecar).drop(colName),
      s"$dir/$SchemaSidecar")
    logEntry(spark, dir, "evolve_drop", s"col=$colName")
  }

  val PendingDelete = "_pending_delete"

  /** The `_COMMIT` marker's body, as [[commitRewrite]] writes it. */
  private val CommitMarker = """kept:([\d,]*)\|emptied:([\d,]*)""".r

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
  def deleteByKeys(spark: SparkSession, dir: String,
      keys: Seq[Any]): (Seq[Int], Seq[Int], Long) =
      withWriterLease(spark, dir) {
    require(keys.nonEmpty, "need at least one key")
    graft.dw.Merge.recover(spark, dir)
    recoverPendingDelete(spark, dir)
    val keyCol = bloomKeyOf(spark, dir)
    // an empty bloom manifest (every shard previously emptied) yields
    // no candidates from the coverage filter itself — no separate
    // isEmpty probe job
    val cands = candidateShardsByKeys(bloomManifest(spark, dir), keys)
    val matchPred =
      if (keys.size == 1) col(keyCol) === lit(keys.head)
      else col(keyCol).isin(keys: _*)
    val r = deleteWhere(spark, dir, cands, matchPred)
    if (r._2.nonEmpty) logEntry(spark, dir, "delete_keys",
      s"keys=${keys.size} removed=${r._3} shards=${r._2.size}")
    r
      }

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
      keys: Seq[Any]): (Seq[Int], Seq[Int], Long) =
      withWriterLease(spark, dir) {
    require(keys.nonEmpty, "need at least one key")
    graft.dw.Merge.recover(spark, dir)
    recoverPendingDelete(spark, dir)
    val keyCol = bloomKeyOf(spark, dir)
    // empty manifest → no candidates from the coverage filter
    val cands = candidateShardsByKeys(bloomManifest(spark, dir), keys)
    if (cands.isEmpty) return (cands, Nil, 0L)
    val matchPred =
      if (keys.size == 1) col(keyCol) === lit(keys.head)
      else col(keyCol).isin(keys: _*)
    // logical matches only — rows an earlier vector already masks do
    // not re-count (readShards applies the DV), so replay converges
    val delta = readShards(spark, dir, cands)
      .filter(matchPred)
      .groupBy(col(ShardCol).cast("int").as(ShardCol),
        col(keyCol).as("key"))
      .agg(count(lit(1)).as("_n")).persist()
    try {
      val perShard = delta.groupBy(ShardCol)
        .agg(sum("_n").as("_n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val touched = perShard.keys.toSeq.sorted
      val removed = perShard.values.sum
      if (touched.isEmpty) return (cands, Nil, 0L)
      // the commit point: old vector ∪ delta, one atomic sidecar swap
      val newDv = deletionVector(spark, dir)
        .fold(delta.select(col(ShardCol), col("key")))(
          _.select(col(ShardCol).cast("int").as(ShardCol), col("key"))
            .unionByName(delta.select(col(ShardCol), col("key")))
            .distinct())
      graft.dw.Merge.atomicOverwrite(spark, newDv.coalesce(1),
        s"$dir/$DvSidecar")
      // advisory staleness fold: masked rows are manifest looseness,
      // exactly like append-folded rows — the compaction trigger. The
      // manifest's rows are on the driver already: the per-shard bumps
      // are added there and the result is written as one local frame
      val old = statsManifest(spark, dir)
      val stale = old.schema.fieldIndex("_stale_rows")
      val shardAt = old.schema.fieldIndex(ShardCol)
      val bumped = old.collect().toSeq.map { r =>
        Row.fromSeq(r.toSeq.updated(stale,
          (if (r.isNullAt(stale)) 0L else r.getLong(stale)) +
            perShard.getOrElse(r.getAs[Number](shardAt).intValue, 0L)))
      }
      graft.dw.Merge.atomicOverwrite(spark,
        spark.createDataFrame(java.util.Arrays.asList(bumped: _*),
          old.schema).coalesce(1),
        s"$dir/$StatsSidecar")
      logEntry(spark, dir, "delete_deferred",
        s"keys=${keys.size} masked=$removed shards=${touched.size}")
      (cands, touched, removed)
    } finally delta.unpersist()
  }

  /** Apply the table's deletion vector PHYSICALLY: rewrite exactly the
    * shards the vector names (kept rows = raw files minus masked
    * pairs), through the same pending/`_COMMIT` crash protocol as
    * [[deleteByKeys]], then clear the applied entries — an empty
    * remainder drops the sidecar, so reads stop anti-joining entirely.
    * `compactSharded`/`reshardSharded` run this first; a standalone
    * call is the targeted form (touches only DV shards, not every
    * multi-file shard). Returns (shards rewritten, rows physically
    * removed). */
  def applyDeletionVectors(spark: SparkSession,
      dir: String): (Seq[Int], Long) =
      withWriterLease(spark, dir) {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/$DvSidecar"))) return (Nil, 0L)
    graft.dw.Merge.recover(spark, dir)
    recoverPendingDelete(spark, dir)
    val named = dvManifest(spark, dir)
      .select(col(ShardCol).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val dvShards = existingShards(fs, dir, named)
    if (dvShards.isEmpty) {
      fs.delete(new Path(s"$dir/$DvSidecar"), true)
      return (Nil, 0L)
    }
    // rows the vector masks, counted in one pass over the DV shards
    val raw = readShardsRaw(spark, dir, dvShards)
    val removed =
      joinDv(spark, dir, raw, bloomKeyOf(spark, dir), "left_semi").count()
    rewriteShards(spark, dir, dvShards, dvShards = Some(named))
    logEntry(spark, dir, "dv_apply",
      s"removed=$removed shards=${dvShards.size}")
    (dvShards, removed)
  }

  /** The shared TARGETED-REWRITE core: republish exactly `shards` from
    * their logical rows (deletion vector applied — any pending mask on
    * these shards becomes physical and is cleared), one file per shard,
    * sorted by the table's sort column, through the same pending/`_COMMIT`
    * crash protocol as the delete family ([[commitRewrite]]) — the
    * touched shards' manifest rows are recomputed exactly with their
    * staleness zeroed, untouched shards' files and manifest rows pass
    * through bit-stable. Work ∝ the named shards, never the table.
    * `dvShards`: see [[applyPendingDelete]]. */
  private[graft] def rewriteShards(spark: SparkSession, dir: String,
      shards: Seq[Int], dvShards: Option[Seq[Int]] = None): Unit =
    if (shards.nonEmpty)
      commitRewrite(spark, dir, shards,
        applyDv(spark, dir, readShardsRaw(spark, dir, shards)), dvShards)

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
      laidBatch: DataFrame, idCol: String,
      maxKeys: Int = 100000): (Seq[Int], Seq[Int], Long) =
      withWriterLease(spark, dir) {
    val kc = bloomKeyOf(spark, dir)
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
      val (cands, touched, removed) = deleteByKeys(spark, dir, keys)
      appendSharded(spark, b, dir, idCol)
      logEntry(spark, dir, "upsert",
        s"keys=${keys.size} replaced=$removed shards=${touched.size}")
      (cands, touched, removed)
    } finally b.unpersist()
  }

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
      ranges: Seq[(String, Any, Any)]): (Seq[Int], Seq[Int], Long) =
      withWriterLease(spark, dir) {
    require(ranges.nonEmpty, "need at least one range")
    graft.dw.Merge.recover(spark, dir)
    recoverPendingDelete(spark, dir)
    val cands = candidateShardsByStats(statsManifest(spark, dir), ranges)
    val matchPred = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val r = deleteWhere(spark, dir, cands, matchPred)
    if (r._2.nonEmpty) logEntry(spark, dir, "delete_range",
      s"cols=${ranges.map(_._1).mkString("+")} removed=${r._3} " +
        s"shards=${r._2.size}")
    r
      }

  /** The shared delete core (see [[deleteByKeys]]): probe the
    * candidate shards for matches, then rewrite the touched shards
    * without them ([[commitRewrite]]). A row where `matchPred` evaluates
    * NULL is KEPT — deletes remove only rows the predicate PROVES match.
    *
    * Scale shape: TWO jobs regardless of how many shards are touched —
    * one aggregate over the candidate shards (per-shard match counts,
    * rows out = candidates) and one shard-partitioned write of every
    * touched shard's kept rows into the pending area — not a
    * per-shard driver loop, which would serialize a wide retention
    * delete no matter how many executors exist.
    */
  private def deleteWhere(spark: SparkSession, dir: String,
      cands0: Seq[Int], matchPred: Column): (Seq[Int], Seq[Int], Long) = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cands = existingShards(fs, dir, cands0)
    if (cands.isEmpty) return (cands, Nil, 0L)
    val back = readShards(spark, dir, cands)
    // one probe job: per-shard match counts (over-approximated
    // candidates — bloom fps, loose envelopes — rewrite nothing)
    val hits = back.filter(matchPred)
      .groupBy(col(ShardCol).cast("int").as("_s"))
      .agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val touched = hits.keys.toSeq.sorted
    val removed = hits.values.sum
    if (touched.isEmpty) return (cands, Nil, 0L)
    commitRewrite(spark, dir, touched, back.filter(
      col(ShardCol).isin(touched: _*) && !coalesce(matchPred, lit(false))))
    (cands, touched, removed)
  }

  /** Steps 1–2 of the delete protocol, then the roll-forward: `kept` —
    * the rows the rewritten `shards` keep — lands shard-partitioned
    * under `_pending_delete`, sorted within each file by the table's
    * sort column (a shard that keeps no row writes no pending dir), and
    * the `_COMMIT` marker written LAST names which shards kept rows and
    * which emptied — after it exists recovery ROLLS FORWARD, before it
    * recovery rolls back (no table state changes until the marker is
    * durable). [[applyPendingDelete]] then swaps the shards in.
    * `dvShards`: see there. */
  private def commitRewrite(spark: SparkSession, dir: String,
      shards: Seq[Int], kept: DataFrame,
      dvShards: Option[Seq[Int]] = None): Unit = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val parted = kept.repartition(col(ShardCol))
    metaOf(spark, dir).sortCol
      .fold(parted)(c => parted.sortWithinPartitions(ShardCol, c))
      .write.mode("overwrite").partitionBy(ShardCol)
      .parquet(s"$dir/$PendingDelete")
    val withRows = shards.filter(s =>
      fs.exists(new Path(s"$dir/$PendingDelete/$ShardCol=$s")))
    val emptied = shards.diff(withRows)
    val out = fs.create(new Path(s"$dir/$PendingDelete/_COMMIT"), true)
    out.write((s"kept:${withRows.mkString(",")}" +
      s"|emptied:${emptied.mkString(",")}").getBytes("UTF-8"))
    out.close()
    applyPendingDelete(spark, dir, withRows, emptied, dvShards)
  }

  /** Steps 3–5 of the delete protocol: swap each kept shard, delete
    * each fully-emptied shard, rebuild the touched shards' manifest
    * rows exactly ([[rebuildManifests]]; untouched rows pass through
    * unchanged), drop the pending area. Idempotent — the pending
    * content is the final state (a kept shard whose pending dir is
    * already consumed is skipped, never re-deleted), emptied-shard
    * deletes are no-ops when re-applied, and the manifest recompute
    * reads the post-swap files. `dvShards`, when the caller holds it, is
    * every shard the deletion vector names (collected under the same
    * lease). */
  private def applyPendingDelete(spark: SparkSession, dir: String,
      kept: Seq[Int], emptied: Seq[Int],
      dvShards: Option[Seq[Int]] = None): Unit = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val touched = (kept ++ emptied).sorted
    kept.foreach { s =>
      val pending = new Path(s"$dir/$PendingDelete/$ShardCol=$s")
      if (fs.exists(pending)) {
        val target = new Path(s"$dir/$ShardCol=$s")
        fs.delete(target, true)
        require(fs.rename(pending, target),
          s"delete swap rename $pending -> $target failed")
      }
    }
    emptied.foreach { s =>
      fs.delete(new Path(s"$dir/$ShardCol=$s"), true)
    }
    // the kept rows were read with the deletion vector applied, so no
    // rebuilt row is masked; a fully-emptied shard's rows simply vanish
    rebuildManifests(spark, dir, metaOf(spark, dir), Some(touched),
      shardFiles(spark, dir, touched), countMasked = false)
    // deletion-vector entries for the rewritten shards are now applied
    // physically (every rewrite path computes kept rows DV-filtered —
    // deleteWhere reads through readShards, rewriteShards through
    // applyDv) — clear them; an empty remainder drops the sidecar so
    // readers stop anti-joining. Idempotent on recovery re-runs
    // (filtering already-cleared shards is a no-op).
    if (fs.exists(new Path(s"$dir/$DvSidecar"))) {
      val rest = dvManifest(spark, dir)
        .filter(!col(ShardCol).cast("int").isin(touched: _*))
      // a caller holding the vector's shard set answers emptiness
      // without the probe job
      val restEmpty = dvShards.fold(rest.isEmpty)(_.forall(touched.contains))
      if (restEmpty) fs.delete(new Path(s"$dir/$DvSidecar"), true)
      else graft.dw.Merge.atomicOverwrite(spark, rest.coalesce(1),
        s"$dir/$DvSidecar")
    }
    // the pending area must by now be fully consumed for kept shards: a
    // shard dir still present there but NOT in the kept list means the
    // `_COMMIT` marker under-read (truncated) — deleting the area would
    // permanently lose those kept rows, so fail loudly instead
    val leftover = {
      val p = new Path(s"$dir/$PendingDelete")
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"$ShardCol="))
        .map(_.stripPrefix(s"$ShardCol=").toInt)
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
  def recoverPendingDelete(spark: SparkSession, dir: String): Unit = {
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
    // the marker [[commitRewrite]] writes: `kept:a,b|emptied:c`
    val (kept, emptied) = body match {
      case CommitMarker(k, e) => (ints(k), ints(e))
      case _ => sys.error(s"$commit: unreadable commit marker '$body' — " +
        "refusing to roll the delete forward or back")
    }
    if (kept.nonEmpty || emptied.nonEmpty)
      applyPendingDelete(spark, dir, kept, emptied)
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
  def readShards(spark: SparkSession, dir: String,
      shards: Seq[Int]): DataFrame = {
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
          recoverPendingDelete(spark, dir)
      }
    applyDv(spark, dir, readShardsRaw(spark, dir, shards))
  }

  /** The PHYSICAL shard read — files as they are, deletion vectors NOT
    * applied. Internal: the maintenance paths that rewrite files
    * (deletion-vector application itself) read through this; every
    * logical read goes through [[readShards]]. */
  private[graft] def readShardsRaw(spark: SparkSession, dir: String,
      shards: Seq[Int]): DataFrame = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val existing = existingShards(fs, dir, shards)
    if (existing.isEmpty) emptyTableFrame(spark, dir)
    else {
      // declared schema (one tiny sidecar footer) so shards written
      // before an evolveAddColumn null-fill the added columns
      spark.read.schema(declaredSchema(spark, dir)).option("basePath", dir)
        .parquet(existing.map(s => s"$dir/$ShardCol=$s"): _*)
    }
  }

  /** The physical rows of those of `shards` whose directory holds a
    * data file — None when none does: a fully-emptied shard leaves a
    * directory of markers, which holds no rows but would break schema
    * inference were it the only path. Read inline, never through
    * [[readShards]], whose reader-window recovery would re-enter the
    * delete roll-forward while the pending area still exists. */
  private def shardFiles(spark: SparkSession, dir: String,
      shards: Seq[Int]): Option[DataFrame] = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val withFiles = shards.filter(s =>
      dataFileCount(fs, new Path(s"$dir/$ShardCol=$s")) > 0)
    if (withFiles.isEmpty) None
    else Some(readShardsRaw(spark, dir, withFiles))
  }

  /** Filter `shards` to the ones whose `shard=<s>` directory exists —
    * ONE directory listing instead of a per-shard existence probe when
    * the candidate set is wide (guide §6: on an object store N HEADs
    * lose to one LIST past a handful; on local FS both are cheap). A
    * narrow set keeps the per-shard probes — listing a 10k-shard table
    * dir to check 2 candidates would invert the saving. */
  private def existingShards(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, shards: Seq[Int]): Seq[Int] =
    if (shards.size <= 4)
      shards.filter(s => fs.exists(new Path(s"$dir/$ShardCol=$s")))
    else {
      val present =
        try fs.listStatus(new Path(dir)).iterator.collect {
          case st if st.isDirectory => st.getPath.getName
        }.toSet
        catch { // missing table dir ≡ no shards, as the probes read it
          case _: java.io.FileNotFoundException => Set.empty[String]
        }
      shards.filter(s => present(s"$ShardCol=$s"))
    }

  /** Apply the table's DELETION VECTOR to a frame read from its files:
    * rows whose (shard, key) pair the `_graft_dv` sidecar names are
    * logically deleted and filtered out with a broadcast anti-join (the
    * DV is takedown-sized — pairs, not rows). No sidecar → the frame
    * passes through at zero cost beyond one FS probe. */
  private def applyDv(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/$DvSidecar"))) df
    else joinDv(spark, dir, df, bloomKeyOf(spark, dir), "left_anti")
  }

  /** `df` semi- or anti-joined (`how`) against the table's
    * deletion-vector (shard, key) pairs on ([[ShardCol]], `kc`, the
    * bloom key: the vector's keys are typed as it): a
    * broadcast join, the vector being takedown-sized. */
  private def joinDv(spark: SparkSession, dir: String, df: DataFrame,
      kc: String, how: String): DataFrame = {
    val dv = dvManifest(spark, dir)
      .select(col(ShardCol).cast("int").as("_dv_shard"),
        col("key").as("_dv_key"))
    df.join(broadcast(dv),
      df(ShardCol).cast("int") === col("_dv_shard") &&
        df(kc) === col("_dv_key"), how)
  }

  /** The table's deletion vector as (shard, key) pairs — empty frame
    * when none is pending. */
  def deletionVector(spark: SparkSession, dir: String): Option[DataFrame] = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/$DvSidecar"))) None
    else Some(dvManifest(spark, dir))
  }

  /** The table's DECLARED schema — the 0-row schema sidecar's, from its
    * footer; None when the sidecar is missing. This is what makes both
    * edge states readable: a table whose every shard a delete emptied
    * (no data files to infer from), and an EVOLVED table whose old files
    * lack the added columns (reads with the declared schema null-fill
    * them per file — the add-column semantics — where bare inference
    * would pick one file's footer at random and silently drop or surface
    * the new column depending on which). */
  private[graft] def tableSchemaOf(spark: SparkSession,
      dir: String): Option[org.apache.spark.sql.types.StructType] =
    footerSchema(spark, s"$dir/$SchemaSidecar")

  /** [[tableSchemaOf]], failing for a table without the sidecar. */
  private def declaredSchema(spark: SparkSession,
      dir: String): org.apache.spark.sql.types.StructType =
    tableSchemaOf(spark, dir).getOrElse(sys.error(
      s"$dir has no $SchemaSidecar declared-schema sidecar — not a " +
        "sharded table published by writeSharded"))

  /** Full-table read under the declared schema (see [[tableSchemaOf]]).
    * Every maintenance rewrite (refresh, compact, re-shard) reads through
    * this, so a rewrite after an [[evolveAddColumn]] widens the old files
    * for good. */
  private[graft] def readTable(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.schema(declaredSchema(spark, dir)).parquet(dir)

  /** The table's empty frame (schema intact, no data read). */
  private def emptyTableFrame(spark: SparkSession,
      dir: String): DataFrame =
    readSidecar(spark, dir, SchemaSidecar).filter(lit(false))

  /** Manifest-pruned range scan: candidate shards from the stats
    * manifest, read only those, then the residual filter — by the
    * transparency contract, row-identical to a full scan with the same
    * conjunctive `lo <= col <= hi` filter, at the I/O cost of the
    * candidate shards alone.
    */
  def readPrunedByRange(spark: SparkSession, dir: String,
      ranges: Seq[(String, Any, Any)]): DataFrame = {
    val cands = candidateShardsByStats(statsManifest(spark, dir), ranges)
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    readShards(spark, dir, cands).filter(residual)
  }

  /** Manifest-pruned point lookup: candidate shards from the bloom
    * sidecar, read only those, then the equality filter — row-identical
    * to a full scan with `keyCol = key`, reading only the shards whose
    * bloom says maybe (false-positive shards cost I/O, never rows).
    */
  def readPrunedByKey(spark: SparkSession, dir: String, keyCol: String,
      key: Any): DataFrame = {
    // one job on a hit, none on a miss: the bloom manifest is decoded
    // and probed on the driver with each row's own (m, k), the declared
    // schema comes from a footer and a pending vector's key column from
    // the meta, and an empty candidate set reads the declared-schema
    // empty frame, which plans no job
    val cands = candidateShardsByKey(bloomManifest(spark, dir), key)
    readShards(spark, dir, cands).filter(col(keyCol) === lit(key))
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
    * predicate routes the SAME stats envelope a range does. Over a
    * [[statsManifest]] frame the collect runs no Spark job, like every
    * candidate enumerator here. */
  def candidateShardsByPrefix(manifest: DataFrame, c: String,
      prefix: String): Seq[Int] = {
    require(prefix.nonEmpty, "need a non-empty prefix")
    val lowOk = col(s"${c}_max") >= lit(prefix)
    val overlap = prefixSucc(prefix)
      .fold(lowOk)(hi => lowOk && col(s"${c}_min") < lit(hi))
    manifest.filter(overlap).select(col(ShardCol).cast("int"))
      .collect().map(_.getInt(0)).toSeq.sorted
  }

  /** Manifest-pruned LIKE-'prefix%' scan — the real-user string shape
    * (language families `lang LIKE 'en%'`, domain prefixes, path
    * roots), routed through the existing stats envelopes with zero new
    * sidecar machinery; the residual `startswith` keeps exactness
    * (row-identical to a full scan with the same predicate). */
  def readPrunedByPrefix(spark: SparkSession, dir: String,
      prefixCol: String, prefix: String): DataFrame = {
    val cands = candidateShardsByPrefix(statsManifest(spark, dir),
      prefixCol, prefix)
    readShards(spark, dir, cands)
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
      keys: Seq[Any] = Nil): DataFrame = {
    require(ranges.nonEmpty || keys.nonEmpty,
      "need at least one predicate (ranges and/or keys)")
    // both manifests are decoded and filtered on the driver, so each
    // side's candidates cost no Spark job; the bloom key comes from the
    // meta (the index knows what it indexes)
    val keyCol = Option.when(keys.nonEmpty)(bloomKeyOf(spark, dir))
    val cands = (
      Option.when(ranges.nonEmpty)(
        candidateShardsByStats(statsManifest(spark, dir), ranges)) ++
      Option.when(keys.nonEmpty)(
        candidateShardsByKeys(bloomManifest(spark, dir), keys))
    ).reduce(_ intersect _)
    val residual = (ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    } ++ keyCol.map { kc =>
      if (keys.size == 1) col(kc) === lit(keys.head)
      else col(kc).isin(keys: _*)
    }).reduce(_ && _)
    readShards(spark, dir, cands).filter(residual)
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
  def vacuumTable(spark: SparkSession,
      dir: String): (Seq[String], Long) =
      withWriterLease(spark, dir) {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    graft.dw.Merge.recover(spark, dir)
    if (fs.exists(new Path(dir)))
      recoverPendingDelete(spark, dir)
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
      }

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
      withWriterLease(spark, dir) {
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
    logEntry(spark, dir, "restore", s"from=$snapDir")
  }

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
    *  - a table without its meta sidecar is an "error" (every verb that
    *    reads the configuration refuses it), and no further check runs;
    *  - every `shard=N` data directory has a stats-manifest row —
    *    an UNMANIFESTED shard is an "error" (candidate enumeration
    *    would never name it: pruned reads MISS its rows);
    *  - a manifest row whose directory is missing is a "warn" (the
    *    documented append crash window — manifests run ahead of data;
    *    reads treat it as empty, the next refresh heals it);
    *  - bloom rows for shards the stats manifest does not know are
    *    a "warn" (wider-never-narrower: extra candidates cost I/O,
    *    never rows);
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
      deep: Boolean = false): Seq[FsckFinding] = {
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
    val dataShards = shardFileCounts(spark, dir).filter(_._2 > 0).keySet
    if (children.exists(_.getPath.getName == PendingDelete))
      f("info", "pending_delete", None,
        "interrupted delete present — recovery converges it at the " +
          "next read or mutation")
    children.map(_.getPath.getName)
      .filter(n => n.endsWith("__swap_new") || n.endsWith("__swap_old"))
      .foreach(n => f("info", "swap_debris", None, s"$n — vacuum"))
    val meta = readMeta(spark, dir).getOrElse {
      f("error", "meta", None,
        s"no $MetaSidecar sidecar — the table's configuration is lost " +
          "and every verb that reads it refuses the table")
      return out.toSeq
    }
    if (!children.exists(_.getPath.getName == StatsSidecar)) {
      f("error", "stats_manifest", None,
        "no stats sidecar — pruned reads have no candidates " +
          "(refreshManifests heals if the meta sidecar survives)")
      return out.toSeq
    }
    val man = statsManifest(spark, dir)
    val manShards = man.select(col(ShardCol).cast("int"))
      .collect().map(_.getInt(0)).toSet
    (dataShards -- manShards).toSeq.sorted.foreach(s =>
      f("error", "unmanifested_shard", Some(s),
        "data directory with no manifest row — pruned reads MISS " +
          "these rows; refreshManifests"))
    (manShards -- dataShards).toSeq.sorted.foreach(s =>
      f("warn", "manifest_ahead", Some(s),
        "manifest row but no data directory (append crash window) — " +
          "reads as empty, refresh heals"))
    meta.nShards.foreach { n =>
      (dataShards ++ manShards).filter(_ >= n).toSeq.sorted.foreach(s =>
        f("error", "shard_out_of_range", Some(s),
          s"shard id >= n_shards=$n — violates the layout contract"))
    }
    if (children.exists(_.getPath.getName == BloomSidecar))
      bloomManifest(spark, dir).select(col(ShardCol).cast("int")).collect()
        .map(_.getInt(0)).filterNot(manShards).sorted.foreach(s =>
          f("warn", "bloom_orphan", Some(s),
            "bloom row for a shard the stats manifest does not know " +
              "— extra candidate I/O only"))
    if (children.exists(_.getPath.getName == DvSidecar))
      dvManifest(spark, dir)
        .select(col(ShardCol).cast("int")).distinct()
        .collect().map(_.getInt(0)).filterNot(dataShards)
        .sorted.foreach(s =>
          f("info", "dv_stale_entry", Some(s),
            "deletion-vector entry for a missing shard dir — masks " +
              "nothing; cleared at apply"))
    if (deep && dataShards.nonEmpty) {
      val statCols = meta.statCols
      val actual = graft.ext.Corpus.shardStats(
        readShardsRaw(spark, dir, dataShards.toSeq.sorted), ShardCol,
        statCols)
      val a = actual.columns.foldLeft(actual)((d, c) =>
        if (c == ShardCol) d else d.withColumnRenamed(c, s"_a_$c"))
      val joined = man.join(a, Seq(ShardCol), "inner")
      val viol = statCols.flatMap { c =>
        Seq((s"${c}_min", s"_a_${c}_min",
            col(s"_a_${c}_min") < col(s"${c}_min")),
          (s"${c}_max", s"_a_${c}_max",
            col(s"_a_${c}_max") > col(s"${c}_max")))
      }
      val rowViol = col(s"_a_n_rows") > col("n_rows")
      val checks = joined.select(col(ShardCol).cast("int").as("_s"),
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
    * never gets maintained. A fold over the driver-held manifest rows
    * ([[statsManifest]]) with no Spark job — the signal a scheduled
    * refresh triggers on (looseness, not file count).
    */
  def manifestStaleness(spark: SparkSession, dir: String): Double =
    statsManifest(spark, dir).select(col("n_rows"), col("_stale_rows"))
      .collect().flatMap { r =>
        if (r.isNullAt(0) || r.getLong(0) <= 0) Some(0.0)
        else Option.unless(r.isNullAt(1))(
          r.getLong(1).toDouble / r.getLong(0))
      }.maxOption.getOrElse(0.0)
}
