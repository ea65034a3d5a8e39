package graft.util

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Small-file compaction: content preserved bit-for-bit, file count sized
  * off the on-disk footprint, already-compact dirs untouched, sorted
  * variant clusters by the scan key.
  */
class CompactionSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String = {
    val d = Files.createTempDirectory("compact").toString
    Files.delete(java.nio.file.Paths.get(d))
    d
  }

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  test("compact: many small files -> few, rows and schema identical") {
    val dir = freshDir()
    val df = (1L to 5000L).map(i => (i, s"row $i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir) // simulate 40 tiny appends
    assert(dataFiles(dir).size === 40)
    val (before, after) = Compaction.compact(spark, dir, targetBytes = 1L << 20)
    assert(before === 40 && after < 40)
    assert(dataFiles(dir).size === after)
    val back = spark.read.parquet(dir)
    assert(back.as[(Long, String)].collect().toSet ===
      df.as[(Long, String)].collect().toSet)
  }

  test("compact: a directory already at the target is left untouched") {
    val dir = freshDir()
    (1L to 10L).toDF("id").coalesce(1).write.parquet(dir)
    val names = dataFiles(dir).map(_.getName).toSet
    val (before, after) = Compaction.compact(spark, dir)
    assert(before === 1 && after === 1)
    assert(dataFiles(dir).map(_.getName).toSet === names) // no rewrite
  }

  test("compactIfFragmented: fires only when the files' open cost " +
    "outweighs a split beyond the bytes, and rewrites to " +
    "ceil(bytes / maxPartitionBytes) files with the rows unchanged") {
    val dir = freshDir()
    val df = (1L to 5000L).map(i => (i, s"row $i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir)
    val maxSplit = 16L << 10
    val openCost = 8L << 10
    val before = spark.read.parquet(dir).as[(Long, String)].collect().toSeq
    val bytes = dataFiles(dir).map(_.length).sum
    assert(40 * openCost > maxSplit + bytes) // the rule's premise here
    val target = math.ceil(bytes.toDouble / maxSplit).toInt
    spark.conf.set("spark.sql.files.maxPartitionBytes", maxSplit)
    spark.conf.set("spark.sql.files.openCostInBytes", openCost)
    try {
      assert(Compaction.compactIfFragmented(spark, dir) === Some((40, target)))
      assert(target > 1 && dataFiles(dir).size === target)
      assert(spark.read.parquet(dir).as[(Long, String)].collect().toSeq.sorted ===
        before.sorted)
      // compacted: the open cost no longer outweighs a split
      val names = dataFiles(dir).map(_.getName).toSet
      assert(Compaction.compactIfFragmented(spark, dir) === None)
      assert(dataFiles(dir).map(_.getName).toSet === names)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
    // at the default costs (128 MB splits, 4 MB per file) 32 small files
    // stay as they are
    val small = freshDir()
    df.repartition(32).write.parquet(small)
    assert(Compaction.compactIfFragmented(spark, small) === None)
  }

  test("reshardSharded: pruned reads are transparent across a shard-" +
    "count change — same rows, new candidate enumeration, manifests " +
    "and meta rebuilt in the swap") {
    import spark.implicits._
    val dir = freshDir()
    // 1000 rows over 10 shards via the curve mapping shard =
    // zvalue·10 >> 10 (zTotalBits 10, zvalue = row id in [0, 1024))
    val laid = (0L until 1000L).map(i =>
        (i, i, 10L * i, ((i * 10L) >> 10).toInt, i))
      .toDF("event_id", "user_id", "ts_us", "shard", "zvalue")
    Scan.writeSharded(spark, laid, dir,
      statCols = Seq("user_id", "ts_us"), sortCol = Some("zvalue"),
      bloomKeyCol = Some("user_id"), zTotalBits = Some(10),
      nShards = Some(10))
    val ranges: Seq[(String, Any, Any)] = Seq(("user_id", 250L, 349L))
    val before = Scan.readPrunedByRange(spark, dir, ranges)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val candsBefore = Scan.candidateShardsByStats(
      Scan.statsManifest(spark, dir), ranges)
    val (oldN, newN) = Compaction.reshardSharded(spark, dir, 40)
    assert(oldN === 10 && newN === 40)
    // the table re-laid to 40 shards: same rows, finer envelopes
    assert(spark.read.parquet(dir).count() === 1000L)
    assert(Scan.statsManifest(spark, dir).count() === 40L)
    assert(Scan.readMeta(spark, dir).flatMap(_.nShards) === Some(40))
    val after = Scan.readPrunedByRange(spark, dir, ranges)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(after === before) // transparency across the re-shard
    val candsAfter = Scan.candidateShardsByStats(
      Scan.statsManifest(spark, dir), ranges)
    // 4× the shards → the same predicate's candidate FRACTION shrinks
    assert(candsAfter.size.toDouble / 40 <
      candsBefore.size.toDouble / 10 + 1e-9)
    // bloom survived with its key re-indexed per new shard
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 777L)
      .select("event_id").collect().map(_.getLong(0)).toSeq ===
      Seq(777L))
    // shrinking works too (splits and merges share the curve mapping)
    Compaction.reshardSharded(spark, dir, 5)
    assert(Scan.statsManifest(spark, dir).count() === 5L)
    assert(Scan.readPrunedByRange(spark, dir, ranges)
      .select("event_id").collect().map(_.getLong(0)).toSet === before)
  }

  test("compactSharded with nothing to rewrite still RESETS a stale " +
    "manifest — an append into a brand-new single-file shard must not " +
    "leave the staleness trigger re-firing a no-op compact forever") {
    val dir = freshDir()
    val base = (0L until 300L).map(i =>
        (i, i, s"t${i % 3}", (i / 100).toInt, i))
      .toDF("event_id", "user_id", "event_type", "shard", "zvalue")
    Scan.writeSharded(spark, base, dir, statCols = Seq("user_id"),
      sortCol = Some("zvalue"))
    // append lands ONLY in a brand-new shard: one file there, one file
    // in each old shard — no shard breaches the >1-file condition, but
    // the new shard's manifest row is 100% fold-entered (staleness 1.0)
    Scan.appendSharded(spark,
      Seq((900L, 900L, "t0", 9, 900L))
        .toDF("event_id", "user_id", "event_type", "shard", "zvalue"),
      dir, "event_id")
    assert(Scan.manifestStaleness(spark, dir) === 1.0)
    val (before, after) = Compaction.compactSharded(spark, dir)
    assert(before === after) // no rewrite happened…
    // …but the manifests are exact again, so the trigger disarms
    assert(Scan.manifestStaleness(spark, dir) === 0.0)
  }

  test("compact with sortCols: output is range-clustered by the scan key") {
    val dir = freshDir()
    (1L to 4000L).map(i => (i, i % 97)).toDF("id", "k")
      .repartition(30).write.parquet(dir)
    val (_, after) = Compaction.compact(spark, dir,
      targetBytes = 32L << 10, sortCols = Seq("id"))
    assert(after > 1) // the clustering claim needs >1 file to mean anything
    // per-file id ranges must not overlap: range partition + sort-within
    val ranges = dataFiles(dir).map { f =>
      val one = spark.read.parquet(f.getAbsolutePath).agg(
        min(col("id")), max(col("id"))).head()
      (one.getLong(0), one.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
    assert(spark.read.parquet(dir).count() === 4000L)
  }
}
