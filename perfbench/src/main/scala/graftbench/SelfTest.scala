package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Self-tests of the benchmark's own code, run by `perfbench/selftest.py`:
  *
  *  - the generators are deterministic: one seed gives identical bytes,
  *    another seed gives different bytes;
  *  - the output checks pass on the program's real results and fail on a
  *    deliberately corrupted result: one dropped fact row, and one
  *    taken-down key brought back by removing the deletion vector.
  *
  * Prints one line per test and exits non-zero if any failed.
  */
object SelfTest {

  private var failures = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def usgsBytes(seed: Long, dir: Path, states: Seq[(String, String)]): Seq[Array[Byte]] = {
    Files.createDirectories(dir)
    val g = new Usgs(seed, states)
    val files = g.wholeMonth(dir, 2000, 10) +: (0 until 3).map(i => g.allDay(dir, 200, 0.1, i == 1))
    files.map(f => Files.readAllBytes(f.path))
  }

  private def docsBytes(seed: Long): Seq[String] = {
    val g = new Docs(seed)
    (0 until 2).map(_ => g.batch(300).jsonLines)
  }

  def main(args: Array[String]): Unit = {
    val work = Path.of(args(0)).toAbsolutePath
    val statesCsv = Path.of(args(1)).toAbsolutePath
    Files2.deleteTree(work)
    Files.createDirectories(work)
    val states = Usgs.readStates(statesCsv)

    val a = usgsBytes(7, work.resolve("usgs-a"), states)
    val b = usgsBytes(7, work.resolve("usgs-b"), states)
    val c = usgsBytes(8, work.resolve("usgs-c"), states)
    expect("USGS generator: same seed, identical bytes",
      a.length == b.length && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    expect("USGS generator: other seed, different bytes",
      a.zip(c).forall { case (x, y) => !java.util.Arrays.equals(x, y) })
    expect("corpus generator: same seed, identical bytes", docsBytes(7) == docsBytes(7))
    expect("corpus generator: other seed, different bytes",
      docsBytes(7).zip(docsBytes(8)).forall { case (x, y) => x != y })

    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    val spark = graft.util.GraftSession.local(2, 2)
    spark.sparkContext.setLogLevel("ERROR")
    Session.sizeFor(spark, 1L << 20)
    try {
      warehouseChecks(spark, work, statesCsv, states)
      corpusChecks(spark, work)
    } finally spark.stop()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    Runtime.getRuntime.halt(if (failures == 0) 0 else 1)
  }

  private def warehouseChecks(spark: SparkSession, work: Path, statesCsv: Path,
      states: Seq[(String, String)]): Unit = {
    val run = new Run(1, 1, work)
    val root = work.resolve("wh")
    val inputs = root.resolve("inputs")
    Files.createDirectories(inputs)
    val g = new Usgs(3, states)
    val history = g.wholeMonth(inputs, 1500, 5)
    val delta = g.allDay(inputs, 200, 0.2, newDim = true)
    val w = new WarehouseClient(spark, run, root, statesCsv)
    w.loadBatch(history)
    w.loadBatch(delta)
    w.dashboard()
    w.checkDims()
    expect("warehouse checks pass on the real warehouse", run.checkFailures.isEmpty)

    // corrupt the result: drop one fact row
    val fact = spark.read.parquet(w.wh.fact)
    val victim = fact.select("ID_Event").head().getLong(0)
    val kept = fact.filter(fact("ID_Event") =!= victim).localCheckpoint()
    kept.write.mode("overwrite").parquet(w.wh.fact)
    val before = run.checkFailures.length
    w.dashboard()
    val failed = run.checkFailures.drop(before)
    expect("warehouse checks fail on one dropped fact row",
      failed.exists(_.startsWith("factRows")) && failed.exists(_.startsWith("totalsByType")))
  }

  private def corpusChecks(spark: SparkSession, work: Path): Unit = {
    val run = new Run(1, 1, work)
    val gen = new Docs(5)
    val c = new CorpusClient(spark, run, work.resolve("corpus"), gen)
    val batch = gen.batch(300)
    c.curateAndPublish(c.writeBatch(batch, "batch.jsonl"), batch)
    c.lookupHit()
    c.lookupMiss()
    c.takedown(3)
    // mask three more keys and leave the deletion vector unapplied
    val taken = c.liveKeys.take(3)
    graft.util.Scan.deleteByKeysDeferred(spark, c.table, taken)
    c.markTakenDown(taken)
    taken.foreach(c.lookup)
    c.checkTable("fullRead")
    expect("corpus checks pass on the real table", run.checkFailures.isEmpty && taken.nonEmpty)

    // corrupt the result: resurrect the taken-down keys by removing the
    // deletion vector that masks them
    Files2.deleteTree(Path.of(c.table, graft.util.Scan.DvSidecar))
    val before = run.checkFailures.length
    taken.foreach(c.lookup)
    c.checkTable("fullRead")
    val failed = run.checkFailures.drop(before)
    expect("corpus checks fail on a resurrected taken-down key",
      failed.exists(_.startsWith("takenDownAbsent")) && failed.exists(_.startsWith("fullRead")))
  }
}
