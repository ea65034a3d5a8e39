package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** A workload: its set-up and one cycle of its closed loop. Cycles repeat
  * until the measured seconds are used up.
  */
trait Workload {
  /** One set-up from scratch in a fresh directory: inputs generated from
    * the seed and the table seeded. It runs [[Workloads.SetupReps]] times
    * (`setup_s` is their median); the timed phase uses what the last one
    * built.
    */
  def setup(): Unit
  def cycle(): Unit
  /** Untimed checks once the timed phase is over. */
  def finish(): Unit
  /** Input rows consumed by timed operations. */
  def rowsConsumed: Long
  /** Bytes of generated input that went into the published tables. */
  def inputBytes: Long
  def publishedBytes: Long
  /** Readings only the workload can take (table files, sizes). */
  def readings: Map[String, Double] = Map.empty
  /** Work only the traced run does, traced, before its timed phases. */
  def tracedExtras(): Unit = ()
  /** Per-layer metrics that must not read 0 after a traced run: the
    * workload's own layers did work and their spans were recorded.
    */
  def ownLayers: Seq[String]
}

object Workloads {
  /** Set-ups per run. The first one runs while the JIT is cold; the
    * median leaves it out.
    */
  val SetupReps = 3

  val Names: Seq[String] = Seq("wh_daily", "corpus_table")

  def apply(name: String, spark: SparkSession, run: Run, statesCsv: Path): Workload = name match {
    case "wh_daily" => new WhDaily(spark, run, statesCsv)
    case "corpus_table" => new CorpusTable(spark, run)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Daily deltas into a large warehouse history through `Controller.run`,
  * one file at a time, each followed by a dashboard refresh.
  */
final class WhDaily(spark: SparkSession, run: Run, statesCsv: Path) extends Workload {

  import WhDaily._

  private val states = Usgs.readStates(statesCsv)
  private var reps = 0
  private var w: WarehouseClient = _
  private val deltas = scala.collection.mutable.Queue.empty[Usgs.File]
  private var rows = 0L
  private var bytesIn = 0L

  def setup(): Unit = {
    Files2.deleteTree(run.work.resolve(s"wh_daily-${reps - 1}"))
    val root = run.work.resolve(s"wh_daily-$reps")
    reps += 1
    val inputs = root.resolve("inputs")
    Files.createDirectories(inputs)
    val gen = new Usgs(run.seed, states)
    val history = gen.wholeMonth(inputs, HistoryEvents, HistoryDays)
    deltas.clear()
    (0 until MaxDeltas).foreach { i =>
      deltas += gen.allDay(inputs, DeltaEvents, ReportShare, newDim = i % NewDimEvery == 1)
    }
    Session.sizeFor(spark, history.bytes + deltas.map(_.bytes).sum)
    w = new WarehouseClient(spark, run, root, statesCsv)
    w.loadBatch(history)
    bytesIn = history.bytes
  }

  def cycle(): Unit = {
    val f = deltas.dequeue()
    run.op("write")(Trace.span("load.batch")(w.loadBatch(f)))
    bytesIn += f.bytes
    if (run.timing) rows += f.lines
    w.dashboard()
  }

  def finish(): Unit = w.checkDims()

  def rowsConsumed: Long = rows
  def inputBytes: Long = bytesIn
  def publishedBytes: Long = w.publishedBytes
  override def readings: Map[String, Double] = Map(
    "fact_files" -> w.factFiles.toDouble,
    "fact_bytes_per_row" -> w.factBytes.toDouble / math.max(1L, w.factRows))
  def ownLayers: Seq[String] = Seq("ingest.bytes_read", "ods.bytes_written",
    "dw.fact.bytes_written", "pipeline.jobs", "analytics.jobs")
}

/** The mix below is an assumption, not measured traffic: the repository
  * has no feed history to derive it from. Each value is there to make one
  * layer do its work.
  */
object WhDaily {
  /** History: 5,000 events over 30 days. A delta adds 100 new events, so
    * the fact starts 50 times larger than the delta and grows from there:
    * the full-fact rewrite of the merge (`dw.fact.write_amp`,
    * `dw.fact.bytes_written`) outweighs staging (`ingest.*`, `ods.*`).
    */
  val HistoryEvents = 5000
  val HistoryDays = 30
  val DeltaEvents = 100
  /** Re-reports of warehoused events, as a share of a delta's new events:
    * the key dedup of the merge has matches to drop.
    */
  val ReportShare = 0.10
  /** One delta in three brings a new network and a new region: the
    * dimension extension of `dw` runs in the timed phase.
    */
  val NewDimEvery = 3
  val MaxDeltas = 40
}

/** A seeded corpus batch published as a sharded table during set-up, then
  * rounds of pruned lookups and deletion-vector takedowns on it. The traced
  * run also curates a second batch and publishes the result before its
  * timed rounds, so the curation calls are traced and checked there.
  */
final class CorpusTable(spark: SparkSession, run: Run) extends Workload {

  import CorpusTable._

  private var reps = 0
  private var c: CorpusClient = _
  private val pool = scala.collection.mutable.ArrayBuffer.empty[(Path, Docs.Batch)]
  private var bytesIn = 0L

  def setup(): Unit = {
    Files2.deleteTree(run.work.resolve(s"corpus_table-${reps - 1}"))
    val root = run.work.resolve(s"corpus_table-$reps")
    reps += 1
    val gen = new Docs(run.seed)
    c = new CorpusClient(spark, run, root, gen)
    pool.clear()
    (0 until PoolBatches).foreach { i =>
      val b = gen.batch(BatchDocs)
      pool += ((c.writeBatch(b, s"batch-$i.jsonl"), b))
    }
    Session.sizeFor(spark, pool.map(_._2.bytes).sum)
    c.publishRaw(pool(0)._1)
    bytesIn = pool(0)._2.bytes
  }

  override def tracedExtras(): Unit = {
    val (file, batch) = pool(1)
    c.curateAndPublish(file, batch)
    bytesIn = batch.bytes
  }

  def cycle(): Unit = {
    c.lookupHit(); c.lookupMiss()
    c.takedown(Takedowns)
  }

  def finish(): Unit = ()
  def rowsConsumed: Long = 0L
  def inputBytes: Long = bytesIn
  def publishedBytes: Long = c.publishedBytes
  def ownLayers: Seq[String] = Seq("util.scan.jobs_per_verb", "util.scan.candidates_per_lookup",
    "util.scan.write_sharded.busy_s", "ext.kept_ratio", "ext.near_dup_pairs")
}

/** Sizes, and assumptions rather than measured traffic: the repository has
  * no corpus or takedown log to derive them from.
  */
object CorpusTable {
  /** Documents per batch; the planted shares are in [[Docs]]. */
  val BatchDocs = 500
  val PoolBatches = 2
  /** Keys per takedown, each in its own shard: a takedown rewrites four
    * shards (`util.scan.apply_dv.bytes_rewritten_per_row_removed`).
    */
  val Takedowns = 4
}
