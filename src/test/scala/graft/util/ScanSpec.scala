package graft.util

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Manifest-pruned reads: transparency vs the full scan, candidate
  * enumeration = the files actually opened, atomic publish of data +
  * sidecars, bloom point routing, and compaction refreshing the
  * manifests inside the same swap (a stale sidecar is shown to MISS
  * rows first, proving the refresh is load-bearing).
  */
class ScanSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String = {
    val d = Files.createTempDirectory("scan").toString
    Files.delete(java.nio.file.Paths.get(d))
    d
  }

  // 1000 rows in 10 known shards: shard i holds user_id [100i, 100i+99],
  // ts_us = 10·user_id, zvalue = user_id (stand-in curve position)
  private def laid = (0L until 1000L).map(i =>
      (i, i, 10L * i, s"t${i % 3}", (i / 100).toInt, i))
    .toDF("event_id", "user_id", "ts_us", "event_type", "shard", "zvalue")

  private def publish(dir: String): Unit =
    Scan.writeSharded(spark, laid, dir,
      statCols = Seq("user_id", "ts_us"), sortCol = Some("zvalue"),
      bloomKeyCol = Some("user_id"))

  test("writeSharded publishes data + stats + bloom sidecars as one " +
    "visible unit; table reads ignore the sidecars") {
    val dir = freshDir()
    publish(dir)
    assert(spark.read.parquet(dir).count() === 1000L)
    val man = Scan.statsManifest(spark, dir).orderBy("shard").collect()
    assert(man.length === 10)
    // shard 2's envelope: user_id [200,299], ts_us [2000,2990], 100 rows
    val s2 = man(2)
    assert(s2.getAs[Long]("n_rows") === 100L)
    assert(s2.getAs[Long]("user_id_min") === 200L &&
      s2.getAs[Long]("user_id_max") === 299L)
    assert(s2.getAs[Long]("ts_us_min") === 2000L &&
      s2.getAs[Long]("ts_us_max") === 2990L)
    assert(s2.getAs[Long]("user_id_ndv") === 100L)
    val bloom = Scan.bloomManifest(spark, dir)
    assert(bloom.count() === 10L &&
      bloom.head().getAs[String]("key_col") === "user_id")
  }

  test("readPrunedByRange: row-identical to full scan + filter; opens " +
    "exactly the candidate shard files; empty candidates read nothing") {
    val dir = freshDir()
    publish(dir)
    val ranges = Seq(("user_id", 250L, 349L), ("ts_us", 0L, 99999L))
    val cands = Scan.candidateShardsByStats(
      Scan.statsManifest(spark, dir), ranges)
    assert(cands === Seq(2, 3)) // envelopes: shard2 [200,299], shard3 [300,399]
    val pruned = Scan.readPrunedByRange(spark, dir, ranges)
    val full = spark.read.parquet(dir)
      .filter(col("user_id").between(250L, 349L) &&
        col("ts_us").between(0L, 99999L))
    assert(pruned.select("event_id").collect().map(_.getLong(0)).toSet ===
      full.select("event_id").collect().map(_.getLong(0)).toSet)
    assert(pruned.count() === 100L)
    // the candidate read opens exactly the candidate shards' files
    val opened = Scan.readShards(spark, dir, cands)
      .select(input_file_name()).distinct().collect()
      .map(_.getString(0)).toSeq
    assert(opened.size === cands.size)
    assert(opened.forall(p => cands.exists(c => p.contains(s"shard=$c/"))))
    // a range outside every envelope: zero candidates, empty frame,
    // schema intact
    val none = Scan.readPrunedByRange(spark, dir,
      Seq(("user_id", 5000L, 6000L)))
    assert(none.count() === 0L &&
      none.columns.contains("event_type"))
  }

  test("readPrunedByKey: bloom candidates cover the true shard (no " +
    "false negatives) and the read matches the full-scan lookup") {
    val dir = freshDir()
    publish(dir)
    val cands = Scan.candidateShardsByKey(
      Scan.bloomManifest(spark, dir), 777L)
    assert(cands.contains(7)) // true shard — bloom can add fps, never drop
    val got = Scan.readPrunedByKey(spark, dir, "user_id", 777L)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(777L))
    // an absent key may bloom-hit shards; the residual filter drops all
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 123456L)
      .count() === 0L)
  }

  test("compactSharded: a stale manifest MISSES appended rows; the " +
    "compaction rewrites shard files AND refreshes the manifests in " +
    "one swap, after which the pruned read is exact again") {
    val dir = freshDir()
    publish(dir)
    // appends land in shard 9 with user_ids [2000,2004] — beyond the
    // manifest's recorded envelope (max 999)
    (0 until 5).map(i => (5000L + i, 2000L + i, 10L * (2000 + i),
        "t9", 9, 2000L + i))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
      .coalesce(1)
      .write.mode("append").partitionBy("shard").parquet(dir)
    val ranges = Seq(("user_id", 2000L, 2004L))
    // stale sidecar: no envelope covers [2000,2004] → the pruned read
    // misses rows the table actually holds — exactly why compaction
    // must refresh manifests
    assert(Scan.readPrunedByRange(spark, dir, ranges).count() === 0L)
    assert(spark.read.parquet(dir)
      .filter(col("user_id").between(2000L, 2004L)).count() === 5L)
    val (before, after) = Compaction.compactSharded(spark, dir,
      sortCol = Some("zvalue"))
    assert(before === 11 && after === 10) // shard 9 had 2 files
    // manifests describe the rewritten files: envelope now covers the
    // appended rows and the pruned read is exact again
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      ranges) === Seq(9))
    assert(Scan.readPrunedByRange(spark, dir, ranges)
      .select("event_id").collect().map(_.getLong(0)).toSet ===
      Set(5000L, 5001L, 5002L, 5003L, 5004L))
    // bloom refreshed too: the appended key now routes
    assert(Scan.candidateShardsByKey(Scan.bloomManifest(spark, dir),
      2003L).contains(9))
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 2003L)
      .count() === 1L)
    // idempotent-cheap: a second run is a no-op
    assert(Compaction.compactSharded(spark, dir) === ((10, 10)))
  }

  test("appendSharded: manifests stay fresh through appends (pruned " +
    "reads see new rows immediately), re-append converges, NDV becomes " +
    "an upper bound until compaction restores exact") {
    val dir = freshDir()
    publish(dir)
    // batch extends shard 9 beyond its envelope AND adds new keys
    val batch = (0 until 5).map(i => (5000L + i, 2000L + i,
        10L * (2000 + i), "t9", 9, 2000L + i))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
    Scan.appendSharded(spark, batch, dir, "event_id")
    val ranges = Seq(("user_id", 2000L, 2004L))
    // the pruned read sees the appended rows with NO refresh/compact —
    // the stats fold already widened shard 9's envelope
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      ranges) === Seq(9))
    assert(Scan.readPrunedByRange(spark, dir, ranges)
      .select("event_id").collect().map(_.getLong(0)).toSet ===
      Set(5000L, 5001L, 5002L, 5003L, 5004L))
    // bloom folded too: the new key routes without a rebuild
    assert(Scan.candidateShardsByKey(Scan.bloomManifest(spark, dir),
      2003L).contains(9))
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 2003L)
      .count() === 1L)
    // counts add exactly; per-shard NDV is an upper bound post-append
    val s9 = Scan.statsManifest(spark, dir).filter(col("shard") === 9)
      .head()
    assert(s9.getAs[Long]("n_rows") === 105L)
    assert(s9.getAs[Long]("user_id_ndv") === 105L) // 100 + 5, no dups here
    // replaying the SAME batch converges: the touched-shard id probe
    // drops every row, data and manifests unchanged
    Scan.appendSharded(spark, batch, dir, "event_id")
    assert(spark.read.parquet(dir).count() === 1005L)
    assert(Scan.statsManifest(spark, dir).filter(col("shard") === 9)
      .head().getAs[Long]("n_rows") === 105L)
    // compaction folds the batch files back and restores exact stats
    val (before, after) = Compaction.compactSharded(spark, dir,
      sortCol = Some("zvalue"))
    assert(before === 11 && after === 10)
    assert(Scan.readPrunedByRange(spark, dir, ranges).count() === 5L)
  }

  test("property: pruned-read transparency holds on an ADVERSARIAL " +
    "layout (unclustered shards, overlapping envelopes) across many " +
    "predicates, and survives appends") {
    val dir = freshDir()
    // shard = i % 7: every shard's envelope spans nearly the whole
    // domain, so candidate sets are large — correctness must come from
    // the residual filter, not from lucky clustering
    val rnd = (0L until 2000L).map { i =>
      val u = (i * 2654435761L) % 997
      (i, u, (u * 31 + i) % 5000, s"t${i % 4}", (i % 7).toInt, i)
    }.toDF("event_id", "user_id", "ts_us", "event_type", "shard",
      "zvalue")
    // THREE stats columns: conjunctive pruning must compose across any
    // number of manifest dimensions (the N-dim table shape)
    Scan.writeSharded(spark, rnd, dir, Seq("user_id", "ts_us", "zvalue"),
      sortCol = Some("zvalue"), bloomKeyCol = Some("user_id"))
    def full = spark.read.parquet(dir)
    def check(lo: Long, hi: Long, tlo: Long, thi: Long): Unit = {
      val got = Scan.readPrunedByRange(spark, dir,
          Seq(("user_id", lo, hi), ("ts_us", tlo, thi)))
        .select("event_id").collect().map(_.getLong(0)).toSet
      val want = full.filter(col("user_id").between(lo, hi) &&
          col("ts_us").between(tlo, thi))
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got === want, s"ranges=[$lo,$hi]x[$tlo,$thi]")
    }
    for (s <- 1 to 8) {
      val lo = (s * 7919L) % 900
      val tlo = (s * 104729L) % 4500
      check(lo, lo + (s * 131L) % 300, tlo, tlo + (s * 37L) % 800)
    }
    // a 3-range conjunction over all manifest dimensions
    val got3 = Scan.readPrunedByRange(spark, dir,
        Seq(("user_id", 100L, 600L), ("ts_us", 500L, 3000L),
          ("zvalue", 200L, 1500L)))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want3 = full.filter(col("user_id").between(100L, 600L) &&
        col("ts_us").between(500L, 3000L) &&
        col("zvalue").between(200L, 1500L))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got3 === want3 && got3.nonEmpty)
    // bloom equality: present and absent keys both match the full scan
    for (k <- Seq(0L, 13L, 333L, 996L, 123456L)) {
      assert(Scan.readPrunedByKey(spark, dir, "user_id", k).count() ===
        full.filter(col("user_id") === k).count(), s"key=$k")
    }
    // an append folds the manifests; transparency must keep holding
    val batch = (5000L until 5050L).map { i =>
      (i, 960L + i % 40, 4900L + i % 120, "t9", (i % 7).toInt, i)
    }.toDF("event_id", "user_id", "ts_us", "event_type", "shard",
      "zvalue")
    Scan.appendSharded(spark, batch, dir, "event_id")
    check(950L, 999L, 4800L, 5100L)
    check(0L, 5000L, 0L, 99999L) // the everything-predicate
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 970L).count() ===
      full.filter(col("user_id") === 970L).count())
  }

  test("appendSharded into a shard with NO existing directory; and the " +
    "crash window (manifest row, data never landed) reads as empty, " +
    "not as an error") {
    val dir = freshDir()
    publish(dir)
    // a batch landing entirely in shard 15 — no shard=15 dir exists
    val batch = Seq((9000L, 3000L, 30000L, "tN", 15, 3000L))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
    Scan.appendSharded(spark, batch, dir, "event_id")
    assert(Scan.readPrunedByRange(spark, dir,
        Seq(("user_id", 3000L, 3000L)))
      .select("event_id").collect().map(_.getLong(0)).toSeq ===
      Seq(9000L))
    // simulate the manifest-first crash window: a manifest row for
    // shard 77 whose data never landed — candidates include 77, the
    // read skips the missing directory and stays exact (empty)
    val phantom = Scan.statsManifest(spark, dir).unionByName(
      Seq((77, 1L, 1L, 7777L, 7778L, 1L, 70000L, 70001L, 1L))
        .toDF("shard", "n_rows", "_stale_rows", "user_id_min",
          "user_id_max", "user_id_ndv", "ts_us_min", "ts_us_max",
          "ts_us_ndv"))
    graft.dw.Merge.atomicOverwrite(spark, phantom,
      s"$dir/${Scan.StatsSidecar}")
    val ranges = Seq(("user_id", 7777L, 7778L))
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      ranges) === Seq(77))
    assert(Scan.readPrunedByRange(spark, dir, ranges).count() === 0L)
  }

  test("NULL-shard rows are rejected up front: writeSharded aborts its " +
    "swap (target untouched), appendSharded refuses before anything " +
    "lands") {
    val dir = freshDir()
    val withNull = laid.unionByName(
      Seq((9999L, Option.empty[Long], Option.empty[Long], "tx",
          Option.empty[Int], 9999L))
        .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
          "zvalue"))
    val e1 = intercept[IllegalArgumentException] {
      Scan.writeSharded(spark, withNull, dir,
        statCols = Seq("user_id", "ts_us"))
    }
    assert(e1.getMessage.contains("NULL shard"))
    // the swap aborted: no table published
    assert(!new java.io.File(dir).exists())
    publish(dir)
    val e2 = intercept[IllegalArgumentException] {
      Scan.appendSharded(spark,
        Seq((9999L, Option.empty[Long], 1L, "tx", Option.empty[Int],
            9999L))
          .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
            "zvalue"),
        dir, "event_id")
    }
    assert(e2.getMessage.contains("NULL shard"))
    // nothing landed, manifests untouched
    assert(spark.read.parquet(dir).count() === 1000L)
    assert(Scan.statsManifest(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_rows")).head()
      .getLong(0) === 1000L)
  }

  test("refreshManifests heals a missing sidecar (the recovery window) " +
    "without changing coverage") {
    val dir = freshDir()
    publish(dir)
    // simulate the crash window: data recovered, stats sidecar gone
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${Scan.StatsSidecar}"),
      true)
    Scan.refreshManifests(spark, dir, statCols = Seq("user_id", "ts_us"))
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      Seq(("user_id", 250L, 349L))) === Seq(2, 3))
    // bloom config survived the refresh (recovered from its sidecar)
    assert(Scan.candidateShardsByKey(Scan.bloomManifest(spark, dir),
      777L).contains(7))
  }

  test("meta sidecar heals the recovery window with ZERO operator " +
    "knowledge: both manifests deleted, refreshManifests() with no " +
    "arguments rebuilds them from the durable configuration") {
    val dir = freshDir()
    publish(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // the worst recovery state writeSharded can leave: meta + data only
    // (meta is written FIRST, so any promotable tmp carries it)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${Scan.StatsSidecar}"),
      true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${Scan.BloomSidecar}"),
      true)
    Scan.refreshManifests(spark, dir)
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      Seq(("user_id", 250L, 349L))) === Seq(2, 3))
    assert(Scan.candidateShardsByKey(Scan.bloomManifest(spark, dir),
      777L).contains(7))
    assert(Scan.bloomManifest(spark, dir).head()
      .getAs[String]("key_col") === "user_id")
  }

  // string-keyed table: 5 shards of 200 rows, shard i = one language,
  // n_chars cycles 0..499 (shards 0 and 2 overlap [0,99], 1/3/4 don't)
  private def laidStr = (0L until 1000L).map { i =>
    val langs = Seq("de", "en", "es", "fr", "zh")
    (i, langs((i / 200).toInt), i % 500, (i / 200).toInt, i)
  }.toDF("doc_id", "lang", "n_chars", "shard", "zvalue")

  private def publishStr(dir: String): Unit =
    Scan.writeSharded(spark, laidStr, dir,
      statCols = Seq("lang", "n_chars"), sortCol = Some("zvalue"),
      bloomKeyCol = Some("lang"), bloomM = 1024)

  test("STRING envelopes and bloom keys route pruned reads: a string " +
    "equality prunes via native min/max, a string bloom key routes the " +
    "point lookup, both transparent vs the full scan") {
    val dir = freshDir()
    publishStr(dir)
    // string min/max landed natively in the manifest
    val man = Scan.statsManifest(spark, dir).orderBy("shard").collect()
    assert(man(2).getAs[String]("lang_min") === "es" &&
      man(2).getAs[String]("lang_max") === "es")
    // string equality as the degenerate range [v, v]
    val cands = Scan.candidateShardsByStats(
      Scan.statsManifest(spark, dir), Seq(("lang", "es", "es")))
    assert(cands === Seq(2))
    val pruned = Scan.readPrunedByRange(spark, dir,
      Seq(("lang", "es", "es")))
    assert(pruned.count() === 200L)
    assert(pruned.select("doc_id").collect().map(_.getLong(0)).toSet ===
      spark.read.parquet(dir).filter(col("lang") === "es")
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    // string bloom key: true shard always a candidate, read transparent
    val keyCands = Scan.candidateShardsByKey(
      Scan.bloomManifest(spark, dir), "zh")
    assert(keyCands.contains(4))
    assert(Scan.readPrunedByKey(spark, dir, "lang", "zh")
      .count() === 200L)
    // absent key: residual filter drops any false-positive shards' rows
    assert(Scan.readPrunedByKey(spark, dir, "lang", "xx").count() === 0L)
  }

  test("combined-predicate read: stats ∩ bloom candidates, transparent " +
    "vs the full conjunction; IN-list keys union their candidates") {
    val dir = freshDir()
    publishStr(dir)
    val ranges: Seq[(String, Any, Any)] = Seq(("n_chars", 0L, 99L))
    val statsCands = Scan.candidateShardsByStats(
      Scan.statsManifest(spark, dir), ranges)
    assert(statsCands === Seq(0, 2)) // the overlapping n_chars envelopes
    val keyCands = Scan.candidateShardsByKeys(
      Scan.bloomManifest(spark, dir), Seq("es"))
    assert(keyCands.contains(2))
    val both = Scan.readPruned(spark, dir, ranges, keys = Seq("es"))
    val full = spark.read.parquet(dir)
      .filter(col("n_chars").between(0L, 99L) && col("lang") === "es")
    assert(both.select("doc_id").collect().map(_.getLong(0)).toSet ===
      full.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(both.count() === 100L)
    // IN-list: union of per-key candidates, residual keeps exactness
    val inCands = Scan.candidateShardsByKeys(
      Scan.bloomManifest(spark, dir), Seq("de", "zh"))
    assert(inCands.contains(0) && inCands.contains(4))
    assert(Scan.readPruned(spark, dir, keys = Seq("de", "zh"))
      .count() === 400L)
  }

  test("deleteByKeys: a takedown rewrites ONLY the bloom-candidate " +
    "shards that actually hold the key; NULL-key rows survive; the " +
    "touched manifests are exact afterward and the key stops routing") {
    val dir = freshDir()
    // laidStr + one NULL-lang row in shard 2 (must survive the delete)
    val withNull = laidStr.unionByName(
      Seq((9999L, Option.empty[String], 123L, 2, 450L))
        .toDF("doc_id", "lang", "n_chars", "shard", "zvalue"))
    Scan.writeSharded(spark, withNull, dir,
      statCols = Seq("lang", "n_chars"), sortCol = Some("zvalue"),
      bloomKeyCol = Some("lang"), bloomM = 1024)
    // untouched shards' physical files must not be rewritten
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def files(s: Int) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/shard=$s")).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(f => (f.getPath.getName, f.getModificationTime)).toSet
    val before0 = files(0)
    val (cands, touched, removed) = Scan.deleteByKeys(spark, dir,
      Seq("es"))
    assert(cands.contains(2) && touched === Seq(2) && removed === 200L)
    assert(files(0) === before0) // untouched shard: same files, same mtimes
    // transparency: exactly the es rows are gone, the NULL-key row stays
    val left = spark.read.parquet(dir)
    assert(left.count() === 801L)
    assert(left.filter(col("lang") === "es").count() === 0L)
    assert(left.filter(col("doc_id") === 9999L).count() === 1L)
    // manifests exact: the es envelope is gone from stats (shard 2's
    // row now covers only the NULL-lang survivor → NULL lang bounds,
    // excluded from candidates) and the bloom no longer routes es
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      Seq(("lang", "es", "es"))) === Nil)
    assert(Scan.readPrunedByKey(spark, dir, "lang", "es").count() === 0L)
    val s2 = Scan.statsManifest(spark, dir)
      .filter(col("shard") === 2).head()
    assert(s2.getAs[Long]("n_rows") === 1L)
    assert(s2.getAs[Long]("_stale_rows") === 0L)
    // a bloom false positive (absent key) rewrites NOTHING
    val (_, touched2, removed2) = Scan.deleteByKeys(spark, dir,
      Seq("xx"))
    assert(touched2 === Nil && removed2 === 0L)
    assert(spark.read.parquet(dir).count() === 801L)
    // IN-list delete: two languages in one pass
    val (_, touched3, removed3) = Scan.deleteByKeys(spark, dir,
      Seq("de", "zh"))
    assert(removed3 === 400L && touched3.toSet === Set(0, 4))
    assert(spark.read.parquet(dir).count() === 401L)
  }

  test("deleteByRange: retention expiry routed by the stats envelopes — " +
    "only intersecting shards rewrite, and the expired range stops " +
    "producing candidates (the envelopes tightened past it)") {
    val dir = freshDir()
    publish(dir)
    val ranges: Seq[(String, Any, Any)] = Seq(("user_id", 250L, 349L))
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      ranges) === Seq(2, 3))
    val (cands, touched, removed) = Scan.deleteByRange(spark, dir,
      ranges)
    assert(cands === Seq(2, 3) && touched === Seq(2, 3) &&
      removed === 100L)
    val left = spark.read.parquet(dir)
    assert(left.count() === 900L)
    assert(left.filter(col("user_id").between(250L, 349L))
      .count() === 0L)
    // exact post-delete envelopes: shard 2 now [200,249], shard 3
    // [350,399] — the deleted range has NO candidates anymore
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      ranges) === Nil)
    val s2 = Scan.statsManifest(spark, dir)
      .filter(col("shard") === 2).head()
    assert(s2.getAs[Long]("user_id_max") === 249L &&
      s2.getAs[Long]("n_rows") === 50L)
    // non-intersecting retention pass: zero candidates, zero rewrites
    val (c2, t2, r2) = Scan.deleteByRange(spark, dir,
      Seq(("user_id", 5000L, 6000L)))
    assert(c2 === Nil && t2 === Nil && r2 === 0L)
  }

  test("deleteByKeys crash protocol: pending without _COMMIT aborts " +
    "(table untouched); _COMMIT present rolls forward on the next " +
    "read — the reader never observes the mid-swap window") {
    val dir = freshDir()
    publishStr(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // (a) crash BEFORE the commit point: pending kept-rows exist, no
    // _COMMIT — recovery aborts, nothing changed
    spark.read.parquet(s"$dir/shard=2")
      .filter(col("lang") =!= "es")
      .write.mode("overwrite")
      .parquet(s"$dir/${Scan.PendingDelete}/shard=2")
    Scan.recoverPendingDelete(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${Scan.PendingDelete}")))
    assert(spark.read.parquet(dir).count() === 1000L)
    // (b) crash AFTER the commit point, before any swap: the next
    // readShards rolls the delete forward — rows swapped, manifests
    // rebuilt for the named shard
    spark.read.parquet(s"$dir/shard=2")
      .filter(col("lang") =!= "es")
      .write.mode("overwrite")
      .parquet(s"$dir/${Scan.PendingDelete}/shard=2")
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/${Scan.PendingDelete}/_COMMIT"), true)
    out.write("2".getBytes("UTF-8")); out.close()
    // a pruned read triggers the roll-forward transparently
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("lang", "es", "es"))).count() === 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${Scan.PendingDelete}")))
    assert(spark.read.parquet(dir).count() === 800L)
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      Seq(("lang", "es", "es"))) === Nil)
  }

  test("a delete that empties EVERY shard leaves a READABLE table — " +
    "empty reads via the schema sidecar, manifests empty, and a later " +
    "append repopulates it (the all-rows-expired retention edge)") {
    val dir = freshDir()
    publish(dir)
    // expire the full envelope: every row matches, every shard empties
    val (cands, touched, removed) = Scan.deleteByRange(spark, dir,
      Seq(("user_id", 0L, 999L)))
    assert(cands.size === 10 && touched.size === 10 &&
      removed === 1000L)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${Scan.PendingDelete}")))
    // no data dirs remain, but reads DON'T wedge: schema comes from the
    // 0-row sidecar; the stats manifest lost every touched row
    assert(Scan.readShards(spark, dir, Seq(0, 5)).count() === 0L)
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("user_id", 0L, 999L))).count() === 0L)
    assert(Scan.statsManifest(spark, dir).count() === 0L)
    // the table is still a table: an append lands and routes again
    Scan.appendSharded(spark,
      Seq((5000L, 42L, 420L, "t0", 0, 42L))
        .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
          "zvalue"),
      dir, "event_id")
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("user_id", 42L, 42L))).count() === 1L)
  }

  test("recovery REFUSES to drop a pending area whose shard dirs the " +
    "_COMMIT marker does not name (the truncated-marker guard) — " +
    "unconsumed kept rows are never deleted") {
    val dir = freshDir()
    publish(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a pending area for shards 2 AND 3, but a marker naming only 2 —
    // the state a short _COMMIT read would fabricate
    Seq(2, 3).foreach { sh =>
      spark.read.parquet(s"$dir/shard=$sh")
        .filter(col("user_id") % 2 === 0)
        .write.mode("overwrite")
        .parquet(s"$dir/${Scan.PendingDelete}/shard=$sh")
    }
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/${Scan.PendingDelete}/_COMMIT"), true)
    out.write("kept:2|emptied:".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalArgumentException] {
      Scan.recoverPendingDelete(spark, dir)
    }
    assert(e.getMessage.contains("not named by the commit marker"))
    // shard 3's kept rows are still in the pending area, not lost
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${Scan.PendingDelete}/shard=3")))
  }

  test("readPrunedByPrefix: LIKE-'prefix%' routes the string stats " +
    "envelope (half-open [prefix, succ)) — row-identical to full scan " +
    "+ startswith, and succ handles code-point edges") {
    val dir = freshDir()
    publishStr(dir)
    // the fixture's langs are de/en/es/fr/zh in known shards
    val full = spark.read.parquet(dir)
      .filter(col("lang").startsWith("e"))
    val pruned = Scan.readPrunedByPrefix(spark, dir, "lang", "e")
    assert(pruned.select("doc_id").collect().map(_.getLong(0)).sorted
      === full.select("doc_id").collect().map(_.getLong(0)).sorted)
    // the candidate set skips shards whose envelope can't hold 'e%'
    val cands = Scan.candidateShardsByPrefix(
      Scan.statsManifest(spark, dir), "lang", "e")
    val all = Scan.statsManifest(spark, dir).count()
    assert(cands.nonEmpty && cands.size < all)
    // a prefix matching nothing reads nothing
    assert(Scan.readPrunedByPrefix(spark, dir, "lang", "q").count()
      === 0L)
    // successor arithmetic: plain increment, surrogate-gap step, and
    // max-code-point recursion (no finite successor for U+10FFFF alone)
    assert(Scan.prefixSucc("e") === Some("f"))
    assert(Scan.prefixSucc("en") === Some("eo"))
    assert(Scan.prefixSucc("a\uD7FF") === Some("a\uE000"))
    assert(Scan.prefixSucc(new String(Array(0x10FFFF), 0, 1)) === None)
    assert(Scan.prefixSucc("a" + new String(Array(0x10FFFF), 0, 1))
      === Some("b"))
  }

  test("upsertSharded: MERGE rewrites ONLY the staged keys' matching " +
    "shards (untouched shard files bit-stable by name+mtime), updates " +
    "replace, inserts land, replay converges") {
    val dir = freshDir()
    // the merge key IS the bloom key — what makes old versions routable
    Scan.writeSharded(spark, laid, dir,
      statCols = Seq("user_id", "ts_us"), sortCol = Some("zvalue"),
      bloomKeyCol = Some("event_id"))
    def fileSet(sh: Int): Set[(String, Long)] = {
      val d = new java.io.File(s"$dir/shard=$sh")
      if (!d.exists()) Set.empty
      else d.listFiles().toSeq
        .filter(f => !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before = (0 to 9).map(s => s -> fileSet(s)).toMap
    // 5 updates (ids 250–254 live in shard 2; event_type changes) and
    // 5 inserts (new ids, new shard 10)
    val staged = ((250 to 254).map(i =>
        (i.toLong, i.toLong, 10L * i, "upd", 2, i.toLong)) ++
      (5000 to 5004).map(i =>
        (i.toLong, 1000L + i, 10L * i, "ins", 10, 1000L + i)))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
    val (cands, touched, removed) =
      Scan.upsertSharded(spark, dir, staged, "event_id")
    assert(removed === 5L && touched === Seq(2))
    assert(cands.contains(2))
    val t = spark.read.parquet(dir)
    assert(t.count() === 1005L) // 1000 − 5 replaced + 10 staged
    assert(t.filter(col("event_type") === "upd").count() === 5L)
    assert(t.filter(col("event_type") === "ins").count() === 5L)
    assert(t.filter(col("event_id") === 250L).count() === 1L) // replaced, not duplicated
    // every shard the MERGE had no business in is bit-stable
    val untouchedShards = (0 to 9).toSet -- touched.toSet
    untouchedShards.foreach(s => assert(fileSet(s) === before(s),
      s"shard $s was rewritten by an unrelated MERGE"))
    // manifests stayed exact: updated and inserted keys both route
    assert(Scan.readPrunedByKey(spark, dir, "event_id", 250L)
      .head().getAs[String]("event_type") === "upd")
    assert(Scan.readPrunedByKey(spark, dir, "event_id", 5002L)
      .count() === 1L)
    // replay of the same staged batch converges to the same state
    val (_, _, r2) = Scan.upsertSharded(spark, dir, staged, "event_id")
    assert(r2 === 10L) // all 10 staged keys now exist, all replaced
    assert(spark.read.parquet(dir).count() === 1005L)
    // a table bloomed on a DIFFERENT column refuses the pruned MERGE
    val dir2 = freshDir()
    publish(dir2) // blooms on user_id
    intercept[RuntimeException] {
      Scan.upsertSharded(spark, dir2, staged, "event_id")
    }
  }

  test("evolveAddColumn: add-column is a METADATA op — old shards " +
    "null-fill on read, widened appends fold stats, pruned reads span " +
    "pre/post-evolution shards, and predicates on the new column skip " +
    "every pre-evolution shard for free") {
    val dir = freshDir()
    publish(dir) // 10 shards, no `score` column
    Scan.evolveAddColumn(spark, dir,
      "score", org.apache.spark.sql.types.LongType)
    // reads widen immediately: old files null-fill the new column
    val r = Scan.readShards(spark, dir, Seq(2))
    assert(r.columns.contains("score"))
    assert(r.filter(col("score").isNotNull).count() === 0L)
    // widened batch lands in an OLD shard (0) and a NEW one (10)
    Scan.appendSharded(spark,
      Seq((6000L, 15L, 150L, "t0", 0, 15L, 77L),
          (6001L, 1042L, 10420L, "t0", 10, 1042L, 99L))
        .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
          "zvalue", "score"),
      dir, "event_id")
    // pruned read on an ORIGINAL dim spans pre- and post-evolution
    // rows in one shard: 100 old (score NULL) + 1 new (score 77)
    val got = Scan.readPrunedByRange(spark, dir,
      Seq(("user_id", 0L, 99L)))
    assert(got.count() === 101L)
    assert(got.agg(sum("score")).head().getLong(0) === 77L)
    // the NEW column routes: only shards the widened batch touched
    // have non-NULL envelopes — every pre-evolution shard is skipped
    assert(Scan.candidateShardsByStats(Scan.statsManifest(spark, dir),
      Seq(("score", 0L, 1000L))) === Seq(0, 10))
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("score", 90L, 100L))).count() === 1L)
    // a maintenance rewrite makes the widening physical; still exact
    Compaction.compactSharded(spark, dir)
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("score", 90L, 100L))).count() === 1L)
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("user_id", 0L, 99L))).count() === 101L)
    // idempotent: a crashed/replayed evolve converges
    Scan.evolveAddColumn(spark, dir,
      "score", org.apache.spark.sql.types.LongType)
    assert(Scan.readShards(spark, dir, Seq(10)).count() === 1L)
  }

  test("sidecar memo: within one verb-chain scope meta/schema reads are " +
    "stable, and an evolve or republish invalidates them — a chained " +
    "reader never sees a pre-mutation config") {
    val dir = freshDir()
    publish(dir)
    Scan.withSidecarCtx {
      val s0 = Scan.tableSchemaOf(spark, dir).get
      assert(!s0.fieldNames.contains("score"))
      val m0 = Scan.readMeta(spark, dir).get
      // memoized re-read returns the identical config
      assert(Scan.readMeta(spark, dir).get === m0)
      // a nested evolve (re-entrant scope) must invalidate BOTH entries:
      // the chain's next reads see the post-evolution schema and meta
      Scan.evolveAddColumn(spark, dir, "score",
        org.apache.spark.sql.types.LongType)
      assert(Scan.tableSchemaOf(spark, dir).get.fieldNames
        .contains("score"))
      assert(Scan.readMeta(spark, dir).get.statCols.contains("score"))
      // a whole-table republish invalidates too (nShards changes)
      Scan.writeSharded(spark, laid.withColumn("score", lit(7L)), dir,
        statCols = Seq("user_id"), sortCol = Some("zvalue"),
        bloomKeyCol = Some("user_id"), zTotalBits = Some(32),
        nShards = Some(10))
      assert(Scan.readMeta(spark, dir).get.nShards === Some(10))
      assert(Scan.readMeta(spark, dir).get.statCols === Seq("user_id"))
    }
    // outside any scope reads are uncached — current state, as before
    assert(Scan.readMeta(spark, dir).get.nShards === Some(10))
  }

  test("sidecar memo: a FAILED manifest swap invalidates the chain's " +
    "memoized sidecar schema instead of recording the unwritten frame's") {
    val dir = freshDir()
    publish(dir)
    // a pre-staleness stats manifest (no `_stale_rows`) whose shard-0
    // row count sits at Long.MaxValue: the append's additive n_rows fold
    // overflows (ANSI arithmetic) inside the stats swap's write, so the
    // swap fails and the old manifest stays on disk
    val statsPath = s"$dir/${Scan.StatsSidecar}"
    graft.dw.Merge.atomicOverwrite(spark, spark.read.parquet(statsPath)
      .drop("_stale_rows")
      .withColumn("n_rows", when(col("shard") === 0, lit(Long.MaxValue))
        .otherwise(col("n_rows"))), statsPath)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try Scan.withSidecarCtx {
      assert(!Scan.statsManifest(spark, dir).columns
        .contains("_stale_rows"))
      intercept[Exception] {
        Scan.appendSharded(spark,
          Seq((5000L, 42L, 420L, "t0", 0, 42L)).toDF("event_id",
            "user_id", "ts_us", "event_type", "shard", "zvalue"),
          dir, "event_id")
      }
      assert(!spark.read.parquet(statsPath).columns
        .contains("_stale_rows"))
      // the chain's next read describes the manifest ON DISK
      assert(!Scan.statsManifest(spark, dir).columns
        .contains("_stale_rows"))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("sidecar memo: vacuum promoting ANY sidecar's completed swap " +
    "(here stats) invalidates the chain's memo") {
    val dir = freshDir()
    publish(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val statsPath = s"$dir/${Scan.StatsSidecar}"
    Scan.withSidecarCtx {
      assert(!Scan.statsManifest(spark, dir).columns.contains("score_min"))
      // the crash window between a stats swap's renames: a complete,
      // WIDER version in `__swap_new` and no base
      spark.read.parquet(statsPath).withColumn("score_min", lit(0L))
        .write.parquet(statsPath + "__swap_new")
      fs.delete(new org.apache.hadoop.fs.Path(statsPath), true)
      Scan.vacuumTable(spark, dir)
      assert(fs.exists(new org.apache.hadoop.fs.Path(statsPath)))
      assert(Scan.statsManifest(spark, dir).columns.contains("score_min"))
    }
  }

  test("refreshManifests rebuilds bloom bits with the table's OWN " +
    "geometry (meta), so a delete probing with it still finds its rows") {
    val dir = freshDir()
    Scan.writeSharded(spark, laid, dir,
      statCols = Seq("user_id", "ts_us"), sortCol = Some("zvalue"),
      bloomKeyCol = Some("user_id"), bloomM = 1024, bloomK = 2)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${Scan.BloomSidecar}"),
      true)
    Scan.refreshManifests(spark, dir)
    val b = Scan.bloomManifest(spark, dir).head()
    assert(b.getAs[Int]("m") === 1024 && b.getAs[Int]("k") === 2)
    Scan.deleteByKeys(spark, dir, Seq(777L))
    assert(spark.read.parquet(dir).filter(col("user_id") === 777L)
      .count() === 0L)
    assert(spark.read.parquet(dir).count() === 999L)
  }

  test("writeSharded: a bloom-pass failure rides the stats-pass failure " +
    "as a suppressed exception instead of being dropped") {
    val dir = freshDir()
    val e = intercept[Exception] {
      Scan.writeSharded(spark, laid, dir, statCols = Seq("no_such_stat"),
        bloomKeyCol = Some("no_such_key"))
    }
    // the stats failure stays primary; Spark may attach its own
    // stack-trace carrier, so count the suppressed bloom failure itself
    assert(e.getMessage.contains("no_such_stat"))
    assert(e.getSuppressed.count(s =>
      String.valueOf(s.getMessage).contains("no_such_key")) === 1)
  }

  test("writer lease: a second mutator aborts LOUDLY while the lease " +
    "is held, succeeds after release, and a crashed writer's expired " +
    "lease is broken — never a silent last-swap-wins") {
    val dir = freshDir()
    publish(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(dir + "__lock")
    val batch = Seq((5000L, 42L, 420L, "t0", 0, 42L))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
    // a foreign writer holds a LIVE lease (far-future expiry): every
    // mutation verb must refuse before touching any state
    val out = fs.create(lock, true)
    out.write(s"${System.currentTimeMillis() + 3600000L}|other"
      .getBytes("UTF-8")); out.close()
    intercept[Scan.ConcurrentWriterException] {
      Scan.appendSharded(spark, batch, dir, "event_id")
    }
    intercept[Scan.ConcurrentWriterException] {
      Compaction.compactSharded(spark, dir)
    }
    intercept[Scan.ConcurrentWriterException] {
      Scan.deleteByKeys(spark, dir, Seq(42L))
    }
    assert(spark.read.parquet(dir).count() === 1000L) // untouched
    // release → the append proceeds
    fs.delete(lock, false)
    Scan.appendSharded(spark, batch, dir, "event_id")
    assert(spark.read.parquet(dir).count() === 1001L)
    // a crashed writer's EXPIRED lease is broken transparently
    val out2 = fs.create(lock, true)
    out2.write(s"${System.currentTimeMillis() - 1000L}|dead"
      .getBytes("UTF-8")); out2.close()
    Scan.appendSharded(spark,
      Seq((5001L, 43L, 430L, "t0", 0, 43L))
        .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
          "zvalue"),
      dir, "event_id")
    assert(spark.read.parquet(dir).count() === 1002L)
    assert(!fs.exists(lock)) // released after the break
  }

  test("writer lease: two genuinely interleaved appenders serialize " +
    "via retry — every row from both lands, none lost") {
    val dir = freshDir()
    publish(dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def appender(base: Long): Future[Unit] = Future {
      (0 until 3).foreach { i =>
        val b = Seq((base + i, 100L * i, 10L, "t0", i, 100L * i))
          .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
            "zvalue")
        var done = false
        while (!done) {
          try { Scan.appendSharded(spark, b, dir, "event_id"); done = true }
          catch { case _: Scan.ConcurrentWriterException =>
            Thread.sleep(50) }
        }
      }
    }
    Await.result(
      Future.sequence(Seq(appender(7000L), appender(8000L))), 5.minutes)
    // 1000 base rows + 3 from each appender — nothing silently dropped
    assert(spark.read.parquet(dir).count() === 1006L)
    assert(spark.read.parquet(dir)
      .filter(col("event_id") >= 7000L).count() === 6L)
  }

  test("manifest staleness measures fold-entered rows and resets when " +
    "the stats become exact again") {
    val dir = freshDir()
    publish(dir)
    assert(Scan.manifestStaleness(spark, dir) === 0.0)
    Scan.appendSharded(spark,
      (0 until 5).map(i => (5000L + i, 2000L + i, 10L * (2000 + i),
          "t9", 9, 2000L + i))
        .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
          "zvalue"),
      dir, "event_id")
    // shard 9 folded 5 of its now-105 rows: staleness 5/105
    val s = Scan.manifestStaleness(spark, dir)
    assert(s > 0.047 && s < 0.048)
    Scan.refreshManifests(spark, dir)
    assert(Scan.manifestStaleness(spark, dir) === 0.0)
  }

  // ---- deletion vectors (merge-on-read deletes) ----

  test("deleteByKeysDeferred masks rows logically without rewriting a " +
    "single file; replay is a no-op; staleness folds the masked count") {
    val dir = freshDir()
    publish(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def files(s: Int) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/shard=$s"))
      .map(f => (f.getPath.getName, f.getModificationTime)).toSeq.sorted
    val before2 = files(2)
    val (cands, touched, removed) =
      Scan.deleteByKeysDeferred(spark, dir, Seq(250L, 777L))
    assert(cands.contains(2) && cands.contains(7))
    assert(touched === Seq(2, 7) && removed === 2L)
    // logical reads exclude the masked rows…
    val all = (0 until 10).toSeq
    assert(Scan.readShards(spark, dir, all).count() === 998L)
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 777L)
      .count() === 0L)
    // …but no data file was rewritten (the whole point)
    assert(files(2) === before2)
    assert(spark.read.parquet(dir).count() === 1000L)
    // masked rows are manifest looseness: _stale_rows carries them
    val st = Scan.statsManifest(spark, dir)
      .filter(col("shard").isin(2, 7))
      .select("_stale_rows").collect().map(_.getLong(0)).toSeq
    assert(st === Seq(1L, 1L))
    // replay: the first vector already masks the rows — no new entries
    val (_, t2, r2) = Scan.deleteByKeysDeferred(spark, dir,
      Seq(250L, 777L))
    assert(t2.isEmpty && r2 === 0L)
    assert(Scan.deletionVector(spark, dir).get.count() === 2L)
  }

  test("appendSharded refuses a batch colliding with pending " +
    "deletion-vector entries; a non-colliding shard passes") {
    val dir = freshDir()
    publish(dir)
    Scan.deleteByKeysDeferred(spark, dir, Seq(250L))
    // same key into the masking shard: the anti-join would delete the
    // NEW row too — must fail loudly
    val bad = Seq((9250L, 250L, 2500L, "t1", 2, 250L))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
    val e = intercept[IllegalArgumentException] {
      Scan.appendSharded(spark, bad, dir, "event_id")
    }
    assert(e.getMessage.contains("deletion-vector"))
    // same key into a DIFFERENT shard is a fresh insert — allowed
    val ok = Seq((9251L, 250L, 2500L, "t1", 5, 250L))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
    Scan.appendSharded(spark, ok, dir, "event_id")
    assert(Scan.readShards(spark, dir, Seq(5))
      .filter(col("user_id") === 250L).count() === 1L)
  }

  test("applyDeletionVectors rewrites exactly the DV shards through " +
    "the pending protocol, clears the sidecar, and the logical view " +
    "is unchanged; untouched shards are bit-stable") {
    val dir = freshDir()
    publish(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def files(s: Int) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/shard=$s"))
      .map(f => (f.getPath.getName, f.getModificationTime)).toSeq.sorted
    Scan.deleteByKeysDeferred(spark, dir, Seq(250L, 777L))
    val all = (0 until 10).toSeq
    val logicalBefore = Scan.readShards(spark, dir, all)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val before0 = files(0)
    val (applied, removedPhys) = Scan.applyDeletionVectors(spark, dir)
    assert(applied === Seq(2, 7) && removedPhys === 2L)
    // physically gone now, sidecar dropped, logical view identical
    assert(spark.read.parquet(dir).count() === 998L)
    assert(Scan.deletionVector(spark, dir).isEmpty)
    assert(Scan.readShards(spark, dir, all)
      .select("event_id").collect().map(_.getLong(0)).toSet ===
      logicalBefore)
    assert(files(0) === before0)
    // manifests exact again for the rewritten shards
    val st = Scan.statsManifest(spark, dir)
      .filter(col("shard").isin(2, 7)).orderBy("shard").collect()
    assert(st.map(_.getAs[Long]("n_rows")).toSeq === Seq(99L, 99L))
    assert(st.map(_.getAs[Long]("_stale_rows")).toSeq === Seq(0L, 0L))
    // re-running the application is a no-op
    assert(Scan.applyDeletionVectors(spark, dir) === ((Nil, 0L)))
  }

  test("compactSharded applies a pending deletion vector (merge-on-" +
    "read deletes become physical at compaction)") {
    val dir = freshDir()
    publish(dir)
    Scan.deleteByKeysDeferred(spark, dir, Seq(123L))
    Compaction.compactSharded(spark, dir, sortCol = Some("zvalue"))
    assert(spark.read.parquet(dir).count() === 999L)
    assert(Scan.deletionVector(spark, dir).isEmpty)
    assert(spark.read.parquet(dir)
      .filter(col("user_id") === 123L).count() === 0L)
  }

  test("a physical deleteByKeys on a shard with DV entries applies " +
    "them too and clears the vector for the rewritten shard") {
    val dir = freshDir()
    publish(dir)
    Scan.deleteByKeysDeferred(spark, dir, Seq(250L)) // masks in shard 2
    val (_, touched, removed) = Scan.deleteByKeys(spark, dir, Seq(251L))
    assert(touched === Seq(2) && removed === 1L)
    // the rewrite dropped BOTH rows physically and cleared the vector
    assert(spark.read.parquet(dir)
      .filter(col("user_id").isin(250L, 251L)).count() === 0L)
    assert(Scan.deletionVector(spark, dir).isEmpty)
  }

  test("refreshManifests keeps the masked-row staleness while a vector " +
    "is pending (the compaction trigger must survive a refresh)") {
    val dir = freshDir()
    publish(dir)
    Scan.deleteByKeysDeferred(spark, dir, Seq(250L, 251L, 777L))
    Scan.refreshManifests(spark, dir)
    val st = Scan.statsManifest(spark, dir)
      .filter(col("_stale_rows") > 0L)
      .select("shard", "_stale_rows").orderBy("shard")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(st === Seq((2, 2L), (7, 1L)))
    assert(Scan.manifestStaleness(spark, dir) > 0.0)
  }

  test("candidateShardsByKeys at MERGE-batch scale: the flat join " +
    "shape agrees with the inline disjunction and a 2000-key probe " +
    "neither overflows nor loses a true shard") {
    val dir = freshDir()
    publish(dir)
    val bloom = Scan.bloomManifest(spark, dir)
    val small: Seq[Any] = Seq(250L, 777L)
    // the two shapes are the same function: force both and compare
    val inline = Scan.candidateShardsByKeys(bloom, small)
    val present = (0L until 1000L by 7L)
    val probe: Seq[Any] =
      present ++ (2000L until 2000L + 1857L) // 2000 keys, 143 present
    val big = Scan.candidateShardsByKeys(bloom, probe)
    assert(inline.contains(2) && inline.contains(7))
    // every present key's true shard is covered (no false negatives)
    assert(present.map(k => (k / 100).toInt).distinct.forall(big.contains))
    // the pruned IN-list read is row-identical to the full scan
    val got = Scan.readPruned(spark, dir, keys = probe)
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(got === present.toSet)
  }

  // ---- vacuum ----

  test("vacuumTable removes swap debris, heals a promotable sidecar " +
    "crash window instead of discarding it, and breaks an expired " +
    "foreign lease; a clean table vacuums to (Nil, 0)") {
    val dir = freshDir()
    publish(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def put(p: String, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      out.write(body.getBytes("UTF-8")); out.close()
    }
    // a dead writer's partial table-level tmp (no _SUCCESS)
    put(s"${dir}__swap_new/part-000", "partial")
    // a completed sidecar swap's leftover pre-swap copy
    put(s"$dir/_graft_stats__swap_old/part-000", "old copy")
    // a promotable crash window: bloom base missing, tmp complete
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/${Scan.BloomSidecar}"),
      new org.apache.hadoop.fs.Path(
        s"$dir/${Scan.BloomSidecar}__swap_new"))
    // an EXPIRED foreign lease (epoch 123 is long past)
    put(s"${dir}__lock", "123|dead-writer-token")
    val (paths, bytes) = Scan.vacuumTable(spark, dir)
    assert(paths.exists(_.endsWith("__swap_new")) &&
      paths.exists(_.endsWith("_graft_stats__swap_old")))
    assert(bytes > 0L)
    // the bloom was HEALED (promoted), not discarded — point reads work
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${Scan.BloomSidecar}")))
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 777L)
      .count() === 1L)
    // the expired lease was broken by the acquire and our own released
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${dir}__lock")))
    assert(spark.read.parquet(dir).count() === 1000L)
    assert(Scan.vacuumTable(spark, dir) === ((Nil, 0L)))
  }

  test("compactShardsTargeted rewrites ONLY the breaching shards " +
    "(others bit-stable), applies their pending DV entries, and " +
    "re-runs as a no-op; refreshShards restores exactness with no " +
    "rewrite at all") {
    val dir = freshDir()
    publish(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def files(s: Int) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/shard=$s"))
      .filter(f => !f.getPath.getName.startsWith("_"))
      .map(f => (f.getPath.getName, f.getModificationTime)).toSeq.sorted
    // two appends into shard 9 → 3 files there; mask a key in shard 2
    Seq(0, 1).foreach { i =>
      Scan.appendSharded(spark,
        Seq((6000L + i, 2000L + i, 10L * (2000 + i), "t9", 9,
            2000L + i))
          .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
            "zvalue"),
        dir, "event_id")
    }
    Scan.deleteByKeysDeferred(spark, dir, Seq(250L))
    val before0 = files(0)
    val before2 = files(2)
    val (shards, nBefore) = Compaction.compactShardsTargeted(spark, dir,
      maxFilesPerShard = 1, sortCol = Some("zvalue"))
    assert(shards === Seq(9) && nBefore === 3)
    assert(files(9).size === 1)
    // untouched shards bit-stable; shard 2's mask SURVIVES (not its
    // shard — a full applyDeletionVectors stays the explicit verb)
    assert(files(0) === before0 && files(2) === before2)
    assert(Scan.deletionVector(spark, dir).get.count() === 1L)
    assert(Scan.readShards(spark, dir, (0 until 10))
      .filter(col("user_id") === 250L).count() === 0L)
    // shard 9's manifests exact, staleness zeroed there
    val s9 = Scan.statsManifest(spark, dir)
      .filter(col("shard") === 9).head()
    assert(s9.getAs[Long]("n_rows") === 102L)
    assert(s9.getAs[Long]("_stale_rows") === 0L)
    assert(s9.getAs[Long]("user_id_max") === 2001L)
    // the bloom learned the appended keys through the rewrite
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 2001L)
      .count() === 1L)
    assert(Compaction.compactShardsTargeted(spark, dir,
      maxFilesPerShard = 1) === ((Nil, 0)))

    // refreshShards: loosen shard 8 via a manual append, then restore
    // exactness by recomputing ONLY its rows — no data file written
    Seq((7000L, 3000L, 30000L, "t8", 8, 3000L))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
      .coalesce(1).write.mode("append").partitionBy("shard").parquet(dir)
    // stale manifest: the new key is invisible to the envelope
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("user_id", 3000L, 3000L))).count() === 0L)
    val files8Before = files(8)
    Scan.refreshShards(spark, dir, Seq(8))
    assert(files(8) === files8Before) // no data file written or touched
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("user_id", 3000L, 3000L))).count() === 1L)
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 3000L)
      .count() === 1L)
    val s8 = Scan.statsManifest(spark, dir)
      .filter(col("shard") === 8).head()
    assert(s8.getAs[Long]("n_rows") === 101L &&
      s8.getAs[Long]("_stale_rows") === 0L)
  }

  // ---- fsck ----

  test("fsckTable: clean table is empty; an unmanifested shard is an " +
    "error, a manifest-ahead row a warn, a DV entry for a missing " +
    "shard an info; deep mode catches an envelope narrower than the " +
    "data") {
    val dir = freshDir()
    publish(dir)
    assert(Scan.fsckTable(spark, dir, deep = true).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // unmanifested shard: a data dir the manifest does not know
    Seq((9999L, 9999L, 99990L, "tX", 77, 9999L))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
      .coalesce(1).write.mode("append").partitionBy("shard").parquet(dir)
    // manifest-ahead: remove a shard dir the manifest still names
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/shard=4"), true)
    val findings = Scan.fsckTable(spark, dir)
    assert(findings.exists(x => x.severity == "error" &&
      x.check == "unmanifested_shard" && x.shard.contains(77)))
    assert(findings.exists(x => x.severity == "warn" &&
      x.check == "manifest_ahead" && x.shard.contains(4)))
    // shard 77 also breaches nShards? publish() doesn't set nShards —
    // no range check without meta n_shards; heal and go deeper
    Scan.refreshManifests(spark, dir)
    assert(Scan.fsckTable(spark, dir, deep = true).isEmpty)
    // deep: append data BEYOND the envelope without folding manifests
    Seq((5000L, 2000L, 20000L, "t9", 9, 2000L))
      .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
        "zvalue")
      .coalesce(1).write.mode("append").partitionBy("shard").parquet(dir)
    val deepF = Scan.fsckTable(spark, dir, deep = true)
    assert(deepF.exists(x => x.severity == "error" &&
      x.check == "envelope_narrower_than_data" && x.shard.contains(9)))
    assert(deepF.exists(x => x.severity == "error" &&
      x.check == "n_rows_narrower_than_data" && x.shard.contains(9)))
    // a deferred delete's DV entry outlives its shard dir → info
    Scan.refreshManifests(spark, dir)
    Scan.deleteByKeysDeferred(spark, dir, Seq(250L))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/shard=2"), true)
    Scan.refreshManifests(spark, dir)
    assert(Scan.fsckTable(spark, dir).exists(x =>
      x.severity == "info" && x.check == "dv_stale_entry" &&
        x.shard.contains(2)))
  }

  test("the deletion-vector read path plans a broadcast hash anti-join " +
    "— the mask must never cost a shuffle") {
    val dir = freshDir()
    publish(dir)
    Scan.deleteByKeysDeferred(spark, dir, Seq(250L))
    val plan = Scan.readShards(spark, dir, (0 until 10))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  // ---- snapshot / restore ----

  test("snapshotTable + restoreTable: a consistent point-in-time copy " +
    "rolls the table back across a delete and an evolution; the " +
    "snapshot is immutable and generations continue forward") {
    val dir = freshDir()
    publish(dir)
    val snap = dir + "_snap1"
    val bytes = Scan.snapshotTable(spark, dir, snap)
    assert(bytes > 0L)
    // snapshots are immutable — a second write to the same path refuses
    intercept[IllegalArgumentException](
      Scan.snapshotTable(spark, dir, snap))
    // mutate past the snapshot: physical delete + drop a column
    Scan.deleteByKeys(spark, dir, Seq(250L))
    Scan.evolveDropColumn(spark, dir, "ts_us")
    assert(spark.read.parquet(dir).count() === 999L)
    assert(!Scan.readShards(spark, dir, (0 until 10))
      .columns.contains("ts_us"))
    val genBefore = Scan.tableGeneration(spark, dir)
    // rollback: the snapshot state returns wholesale — rows, schema,
    // manifests, bloom routing
    Scan.restoreTable(spark, dir, snap)
    assert(spark.read.parquet(dir).count() === 1000L)
    assert(Scan.readShards(spark, dir, (0 until 10))
      .columns.contains("ts_us"))
    assert(Scan.readPrunedByKey(spark, dir, "user_id", 250L)
      .count() === 1L)
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("ts_us", 2500L, 2500L))).count() === 1L)
    // the restore logged forward — a rollback is a mutation
    val hist = Scan.tableHistory(spark, dir)
    assert(Scan.tableGeneration(spark, dir) === genBefore + 1)
    assert(hist.last._2 === "restore")
    // the snapshot survives its own restore, audit log embedded
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$snap/_graft_snapshot_log")))
    assert(spark.read.parquet(snap).count() === 1000L)
  }

  // ---- history log / generation counter ----

  test("the history log records completed mutations with monotonic " +
    "generations, no-ops don't bump, and it survives directory swaps") {
    val dir = freshDir()
    assert(Scan.tableGeneration(spark, dir) === 0L)
    publish(dir)
    assert(Scan.tableGeneration(spark, dir) === 1L)
    Scan.appendSharded(spark,
      Seq((5000L, 2000L, 20000L, "t9", 9, 2000L))
        .toDF("event_id", "user_id", "ts_us", "event_type", "shard",
          "zvalue"),
      dir, "event_id")
    Scan.deleteByKeys(spark, dir, Seq(250L))
    // a delete that matches nothing is a no-op — generation unchanged
    val g = Scan.tableGeneration(spark, dir)
    Scan.deleteByKeys(spark, dir, Seq(999999L))
    assert(Scan.tableGeneration(spark, dir) === g)
    // a full republish (directory swap) keeps the sibling log
    Compaction.compactSharded(spark, dir, sortCol = Some("zvalue"))
    val hist = Scan.tableHistory(spark, dir)
    assert(hist.map(_._1) === hist.map(_._1).sorted &&
      hist.map(_._1).distinct.size === hist.size)
    assert(hist.map(_._2).startsWith(
      Seq("publish", "append", "delete_keys")))
    // compaction's internal republish logs too (composition trail)
    assert(hist.map(_._2).contains("publish") &&
      hist.exists(h => h._2 === "append" && h._3.contains("rows=1")))
  }

  // ---- drop-column evolution ----

  test("evolveDropColumn is metadata-only: reads project the column " +
    "away, the manifests stop covering it, compaction reclaims it " +
    "physically, and layout/index columns are refused") {
    val dir = freshDir()
    publish(dir)
    Scan.evolveDropColumn(spark, dir, "ts_us")
    val all = (0 until 10).toSeq
    // logical reads lack the column; the files still hold the bytes
    assert(!Scan.readShards(spark, dir, all).columns.contains("ts_us"))
    assert(spark.read.parquet(dir).columns.contains("ts_us"))
    // manifests and meta stop covering it
    assert(!Scan.statsManifest(spark, dir).columns
      .contains("ts_us_min"))
    assert(Scan.readMeta(spark, dir).get.statCols === Seq("user_id"))
    // pruned reads on the surviving stats column stay exact
    assert(Scan.readPrunedByRange(spark, dir,
      Seq(("user_id", 250L, 349L))).count() === 100L)
    // appends no longer carry or fold it
    Scan.appendSharded(spark,
      Seq((5000L, 2000L, "t9", 9, 2000L))
        .toDF("event_id", "user_id", "event_type", "shard", "zvalue"),
      dir, "event_id")
    // compaction rewrites through the declared schema → physical drop
    Compaction.compactSharded(spark, dir, sortCol = Some("zvalue"))
    assert(!spark.read.option("mergeSchema", "true").parquet(dir)
      .columns.contains("ts_us"))
    assert(spark.read.parquet(dir).count() === 1001L)
    // the machinery columns are refused
    intercept[IllegalArgumentException](
      Scan.evolveDropColumn(spark, dir, "user_id")) // bloom key
    intercept[IllegalArgumentException](
      Scan.evolveDropColumn(spark, dir, "shard"))
  }
}
