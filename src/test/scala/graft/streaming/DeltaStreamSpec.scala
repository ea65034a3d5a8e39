package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ingest.Staging
import graft.ods.OdsTransform
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class DeltaStreamSpec extends SparkSpec {

  private def tmpDir(name: String): String =
    Files.createTempDirectory(name).toString

  private val ts = Timestamp.valueOf("2026-08-12 12:00:00")

  test("file-source delta stream: matches batch path, re-delivery dedups") {
    val landing = tmpDir("landing")
    val ods = tmpDir("ods") + "/ods"
    val ckpt = tmpDir("ckpt")
    Files.copy(Paths.get(resource("usgs_sample.csv")),
      Paths.get(landing, "all_day_20260812-000000.csv"),
      StandardCopyOption.REPLACE_EXISTING)

    val rejected = tmpDir("rejected")
    val q = DeltaStream.start(spark, landing, ods, rejected, ckpt, "job-1", Some(ts))
    q.processAllAvailable()

    // K4: DQ-rejected raw lines land in the side channel, not the void
    val rejLines = spark.read.text(s"$rejected/batch-0").count()
    assert(rejLines > 0)

    // batch reference on the same file
    val parsed = Staging.normalizeNulls(
      Staging.readRawCsv(spark, s"$landing/all_day_20260812-000000.csv"))
    val stg = Staging.finalizeStg(Staging.dqSplit(parsed).accepted,
      "job-1", "batch", ts.toString)
    val want = OdsTransform.toOds(stg, ts).select("ID_Event")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet

    val got1 = spark.read.parquet(ods)
    assert(got1.select("ID_Event")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet === want)
    assert(want.nonEmpty)

    // same content re-delivered as a new file → anti-join drops every row
    Files.copy(Paths.get(resource("usgs_sample.csv")),
      Paths.get(landing, "all_day_20260813-000000.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(ods).count() === got1.count())
  }

  test("eventRates: watermarked window counts per magnitude category") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val rates = DeltaStream.eventRates(
      in.toDF().toDF("DT_time", "LB_magCategory"),
      watermark = "1 hour", windowLen = "1 hour")
    val q = rates.writeStream.format("memory")
      .queryName("rates").outputMode("complete").start()
    in.addData(
      ("2026-08-12 10:05:00", "Minor"),
      ("2026-08-12 10:55:00", "Minor"),
      ("2026-08-12 10:30:00", "Light"),
      ("2026-08-12 11:10:00", "Minor"))
    q.processAllAvailable()
    val got = spark.table("rates")
      .select(date_format($"window_start", "HH:mm").as("w"),
        $"LB_magCategory", $"n_events")
      .as[(String, String, Long)].collect().toSet
    q.stop()
    assert(got === Set(("10:00", "Minor", 2L), ("10:00", "Light", 1L),
      ("11:00", "Minor", 1L)))
  }

  test("streamingDedup: first canonical occurrence survives, dups within watermark dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, String)]
    val stream = DeltaStream.streamingDedup(
      in.toDF().toDF("ts", "doc_id", "text"), "text", "ts", "10 minutes")
    val q = stream.writeStream.format("memory")
      .queryName("dedup").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-08-12 10:00:00")
    in.addData((t0, 1L, "Hello World"), (t0, 2L, "hello  world"), (t0, 3L, "other"))
    q.processAllAvailable()
    in.addData((java.sql.Timestamp.valueOf("2026-08-12 10:05:00"), 4L, "HELLO WORLD"))
    q.processAllAvailable()
    val ids = spark.table("dedup").select($"doc_id").as[Long].collect().toSet
    q.stop()
    assert(ids.contains(3L))
    // exactly one of the three canonical "hello world" docs survives
    assert((ids - 3L).size === 1 && (ids - 3L).subsetOf(Set(1L, 2L, 4L)))
  }

  test("streamingSessionize: sessions close past the watermark with gap-window semantics") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val stream = DeltaStream.streamingSessionize(
      in.toDF().toDF("user_id", "ts", "value"), "user_id", "ts", "value",
      gapSeconds = 600, watermark = "1 minute")
    val q = stream.writeStream.format("memory")
      .queryName("sessions").outputMode("append").start()
    in.addData(
      (7L, ts("2026-08-12 10:00:00"), 1.5),
      (7L, ts("2026-08-12 10:05:00"), 2.5),  // within 10-min gap → same session
      (8L, ts("2026-08-12 10:00:00"), 4.0))
    q.processAllAvailable()
    // 11:00 advances the watermark to 10:59 — past both sessions' gap
    // horizons (10:15 / 10:10), so they finalize and emit
    in.addData((7L, ts("2026-08-12 11:00:00"), 0.5))
    q.processAllAvailable()
    val rows = spark.table("sessions")
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"total_value")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    q.stop()
    val s7 = rows((7L, ts("2026-08-12 10:00:00")))
    assert(s7._2 === 2L && s7._3 === 4.0)              // merged session, exact sum
    assert(s7._1 === ts("2026-08-12 10:15:00"))        // end = last event + gap
    val s8 = rows((8L, ts("2026-08-12 10:00:00")))
    assert(s8._2 === 1L && s8._1 === ts("2026-08-12 10:10:00"))
    // the 11:00 event's session is still open (watermark hasn't passed it)
    assert(!rows.contains((7L, ts("2026-08-12 11:00:00"))))
  }

  test("streamingIntervalJoin: matches within the horizon only, per entity") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = DeltaStream.streamingIntervalJoin(
      purchases.toDF().toDF("user_id", "ts", "p_id"),
      views.toDF().toDF("user_id", "ts", "v_id"),
      "user_id", "ts", "ts", horizonSeconds = 600, watermark = "1 minute")
    val q = joined.select($"p_id", $"r_v_id").writeStream.format("memory")
      .queryName("ivj").outputMode("append").start()
    views.addData(
      (7L, ts("2026-08-12 09:50:00"), 100L),  // exactly horizon before → in
      (7L, ts("2026-08-12 09:49:59"), 101L),  // 1s too old → out
      (7L, ts("2026-08-12 09:55:00"), 102L),  // in
      (7L, ts("2026-08-12 10:00:01"), 103L),  // after the purchase → out
      (8L, ts("2026-08-12 09:55:00"), 104L))  // other user → out
    purchases.addData((7L, ts("2026-08-12 10:00:00"), 1L))
    q.processAllAvailable()
    // advance both watermarks so the inner join emits
    views.addData((9L, ts("2026-08-12 11:00:00"), 999L))
    purchases.addData((9L, ts("2026-08-12 11:00:00"), 999L))
    q.processAllAvailable()
    val got = spark.table("ivj").as[(Long, Long)].collect().toSet
    q.stop()
    assert(got.filter(_._1 == 1L).map(_._2) === Set(100L, 102L))
  }

  test("startDeltaLoad: two files → two delta batches; checkpoint restart reprocesses neither") {
    import graft.pipeline.{FullLoad, Warehouse}
    val root = tmpDir("streamwh")
    val landing = s"$root/landing"
    Files.createDirectories(Paths.get(landing))
    val ckpt = s"$root/ckpt"
    val wh = Warehouse(s"$root/wh")
    val states = spark.read.option("header", "true")
      .csv(resource("us_states.csv"))

    // warehouse initialized by a batch full load (the reference's cadence)
    Files.copy(Paths.get(resource("usgs_sample.csv")),
      Paths.get(landing, "whole_month_07.csv"), StandardCopyOption.REPLACE_EXISTING)
    FullLoad.run(spark, s"$landing/*.csv", states, wh, "job-full", ts)
    val nFull = spark.read.parquet(wh.fact).count()

    val header = Files.readAllLines(Paths.get(resource("usgs_sample.csv"))).get(0)
    val replay = Files.readAllLines(Paths.get(resource("usgs_sample.csv"))).get(1)
    // the stable event key is (time, lat, lon) — each synthetic event needs
    // its own minute, or the key-dedup would correctly drop it as a replay
    def novel(id: String, net: String, minute: Int) =
      f"2024-08-02T09:$minute%02d:00.000Z,48.0,7.8,12.0,4.2,ml,30,60,0.2,0.1,$net,$id," +
        "2024-08-02T10:00:00.000Z,\"13 km E of Freiburg, Germany\"," +
        s"earthquake,0.8,3.0,0.1,12,reviewed,$net,$net"

    // batch 1: one replayed + one novel event
    Files.write(Paths.get(landing, "all_day_20240802-120000.csv"),
      java.util.Arrays.asList(header, replay, novel("ev_s1", "zz", 30)))
    val q1 = DeltaStream.startDeltaLoad(spark, landing, states, wh, ckpt,
      "job-s1", Some(ts))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(wh.fact).count() === nFull + 1)

    // stream DOWN; a second delta file lands; restart on the SAME
    // checkpoint → exactly the new file is processed, nothing replayed
    Files.write(Paths.get(landing, "all_day_20240803-120000.csv"),
      java.util.Arrays.asList(header, replay, novel("ev_s1", "zz", 30),
        novel("ev_s2", "zz", 31)))
    val q2 = DeltaStream.startDeltaLoad(spark, landing, states, wh, ckpt,
      "job-s2", Some(ts))
    q2.processAllAvailable()
    q2.stop()

    assert(spark.read.parquet(wh.fact).count() === nFull + 2)
    // the new network extended the dim exactly once across both batches
    val zz = spark.read.parquet(wh.dim("T_DIM_Network"))
      .filter(col("LB_NetworkSymbol") === "zz")
    assert(zz.count() === 1)
    // both streamed events share the single zz dim row in the fact
    val zzId = zz.select("ID_Network_ID").head().getLong(0)
    assert(spark.read.parquet(wh.fact)
      .filter(col("ID_Network_ID") === zzId).count() === 2)
  }

  test("networkStats: keyed state accumulates across triggers") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, String, Option[Double])]
    val ods = in.toDF().toDF("DT_time", "LB_net", "VL_n_mag")
    val q = DeltaStream.networkStats(ods).writeStream.format("memory")
      .queryName("netstats").outputMode("update").start()
    in.addData(("t", "us", Some(3.5)), ("t", "us", Some(5.0)), ("t", "ak", None))
    q.processAllAvailable()
    in.addData(("t", "us", Some(4.0)), ("t", "ak", Some(2.0)))
    q.processAllAvailable()
    val last = spark.table("netstats")
      .groupBy($"net")
      .agg(max($"n_events").as("n"), max_by($"max_mag", $"n_events").as("mx"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    q.stop()
    assert(last("us") === ((3L, 5.0)))
    assert(last("ak")._1 === 2L && last("ak")._2 === 2.0)
  }

  test("startCurationFilter: arriving docs are quality-gated and " +
    "decontaminated against the seeded gram table; restart skips batch 0") {
    import spark.implicits._
    val root = tmpDir("curation")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val evalText = "the canonical held out benchmark passage that must never " +
      "appear inside the training corpus at all"
    val evalDocs = Seq((900L, "benchA", evalText)).toDF("doc_id", "bench", "text")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    val clean = "the of " +
      (1 to 58).map(i => s"document$i").mkString(" ")   // 60 tokens, 2 stop hits
    // batch 1: a clean keeper, a too-short reject, a contaminated doc
    // (quality-passing text that embeds the benchmark passage)
    jsonl(s"$docsDir/b1.json",
      1L -> clean,
      2L -> "the of way too short",
      3L -> (clean + " " + evalText))
    val q1 = DeltaStream.startCurationFilter(spark, docsDir, evalDocs,
      "bench", s"$root/grams", s"$root/out", s"$root/ckpt")
    q1.processAllAvailable(); q1.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-0")
      .select("doc_id", "keep_quality", "contaminated", "kept")
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(b1 === Map(
      1L -> ((true, false, true)),
      2L -> ((false, false, false)),
      3L -> ((true, true, false))))
    // restart on the same checkpoint: only the new file is scored, and the
    // gram table is NOT re-seeded (read-only per batch)
    val gramsMtime = Files.getLastModifiedTime(Paths.get(s"$root/grams"))
    jsonl(s"$docsDir/b2.json", 4L -> clean)
    val q2 = DeltaStream.startCurationFilter(spark, docsDir, evalDocs,
      "bench", s"$root/grams", s"$root/out", s"$root/ckpt")
    q2.processAllAvailable(); q2.stop()
    val b2 = spark.read.parquet(s"$root/out/batch-1")
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(b2 === Map(4L -> true))
    assert(Files.getLastModifiedTime(Paths.get(s"$root/grams")) === gramsMtime)
  }

  test("startImportanceGate: arriving docs score against FIXED seeded " +
    "bucket tables; stream scores equal the batch operator; restart " +
    "neither rescores nor reseeds") {
    import spark.implicits._
    val root = tmpDir("impgate")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq(
      (100L, "alpha beta alpha beta", 1), (101L, "beta alpha beta", 1),
      (102L, "zulu yankee zulu", 0), (103L, "yankee zulu yankee", 0)
    ).toDF("doc_id", "text", "flag")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    jsonl(s"$docsDir/b1.json", 1L -> "alpha beta", 2L -> "zulu yankee")
    val q1 = DeltaStream.startImportanceGate(spark, docsDir, corpus,
      col("flag") === 1, s"$root/buckets", s"$root/out", s"$root/ckpt")
    q1.processAllAvailable(); q1.stop()
    val got = spark.read.parquet(s"$root/out/batch-0")
      .select("doc_id", "target_mass", "raw_mass", "affinity", "keep")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // the stream's scores must equal the batch operator's against the
    // same fixed tables the stream seeded
    val tTab = spark.read.parquet(s"$root/buckets/target")
    val rTab = spark.read.parquet(s"$root/buckets/raw")
    val direct = graft.ext.Corpus.importanceAffinityAgainst(
        Seq((1L, "alpha beta"), (2L, "zulu yankee")).toDF("doc_id", "text"),
        "text", "doc_id", tTab, rTab, buckets = 256)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got.view.mapValues(v => (v._1, v._2, v._3)).toMap === direct)
    // target-speak kept, raw-speak dropped at the affinity=1 boundary
    assert(got(1L)._4 && !got(2L)._4)
    // restart: batch 0 not rescored, tables not reseeded
    val mtime = Files.getLastModifiedTime(Paths.get(s"$root/buckets"))
    jsonl(s"$docsDir/b2.json", 3L -> "alpha zulu")
    val q2 = DeltaStream.startImportanceGate(spark, docsDir, corpus,
      col("flag") === 1, s"$root/buckets", s"$root/out", s"$root/ckpt")
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$root/out/batch-1")
      .select("doc_id").as[Long].collect().toSeq === Seq(3L))
    assert(Files.getLastModifiedTime(Paths.get(s"$root/buckets")) === mtime)
  }

  test("startRateMonitor: batch days scored against merged growing " +
    "counts; spike flagged; counts accumulate without double-append") {
    import spark.implicits._
    val root = tmpDir("ratemon")
    val evDir = s"$root/events"
    Files.createDirectories(Paths.get(evDir))
    // corpus baseline: 2 events/day on Jan 1..7
    val corpus = (0 to 6).flatMap(d => Seq(
        (d * 10L, f"2026-01-${d + 1}%02d 10:00:00"),
        (d * 10L + 1, f"2026-01-${d + 1}%02d 11:00:00")))
      .map { case (id, t) => (id, "a", java.sql.Timestamp.valueOf(t)) }
      .toDF("event_id", "event_type", "ts")
    def jsonl(path: String, evs: (Long, String)*): Unit =
      Files.write(Paths.get(path), evs.map { case (id, t) =>
        s"""{"event_id": $id, "event_type": "a", "ts": "$t"}"""
      }.asJava)
    // batch 1: a 5-event spike on Jan 8
    jsonl(s"$evDir/b1.json", (100L to 104L).map(i =>
      i -> s"2026-01-08 12:0${i - 100}:00"): _*)
    val q1 = DeltaStream.startRateMonitor(spark, evDir, corpus,
      s"$root/counts", s"$root/out", s"$root/ckpt")
    q1.processAllAvailable(); q1.stop()
    val b0 = spark.read.parquet(s"$root/out/batch-0")
      .select("event_type", "day", "n", "spike")
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    // 5 > 1.5 × (14/7 = 2) → spike, scored against corpus + batch counts
    assert(b0 === Map("2026-01-08" -> ((5L, true))))
    // batch 2: normal day Jan 9 (2 events) — trailing window now contains
    // the spike day, mean (2·6 + 5)/7; 2·7·2 = 28 < 17·3 → no spike
    jsonl(s"$evDir/b2.json", 200L -> "2026-01-09 09:00:00",
      201L -> "2026-01-09 09:30:00")
    val q2 = DeltaStream.startRateMonitor(spark, evDir, corpus,
      s"$root/counts", s"$root/out", s"$root/ckpt")
    q2.processAllAvailable(); q2.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1")
      .select("day", "n", "spike").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(b1 === Map("2026-01-09" -> ((2L, false))))
    // growing table holds corpus + both batches exactly once
    val total = spark.read.parquet(s"$root/counts")
      .agg(sum(col("n"))).head().getLong(0)
    assert(total === 14L + 5L + 2L)
  }

  test("startDriftMonitor: each batch's distribution scored against the " +
    "FIXED reference; a skewed batch shows the drift; restart clean") {
    import spark.implicits._
    val root = tmpDir("driftmon")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, "fr"))
      .toDF("doc_id", "lang")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, l) =>
        s"""{"doc_id": $id, "lang": "$l"}"""
      }.asJava)
    // batch matching the reference mix: 3:1 en:fr → zero drift
    jsonl(s"$docsDir/b1.json", 10L -> "en", 11L -> "en", 12L -> "en",
      13L -> "fr")
    val q1 = DeltaStream.startDriftMonitor(spark, docsDir, corpus, "lang",
      s"$root/ref", s"$root/out", s"$root/ckpt")
    q1.processAllAvailable(); q1.stop()
    val b0 = spark.read.parquet(s"$root/out/batch-0")
      .select("lang", "drift_num").as[(String, Long)].collect().toMap
    assert(b0 === Map("en" -> 0L, "fr" -> 0L))
    // an all-de batch: every key drifts
    jsonl(s"$docsDir/b2.json", 20L -> "de", 21L -> "de")
    val q2 = DeltaStream.startDriftMonitor(spark, docsDir, corpus, "lang",
      s"$root/ref", s"$root/out", s"$root/ckpt")
    q2.processAllAvailable(); q2.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1")
      .select("lang", "drift_share").as[(String, Double)].collect().toMap
    // TV = 1.0: ref mass gone (3/8 + 1/8), new category holds all (1/2)
    assert(math.abs(b1.values.sum - 1.0) < 1e-12)
    assert(b1("de") === 0.5)
  }

  test("startSplitRouting: keys inherit from the corpus, PROPAGATE through " +
    "earlier batches via the growing tables, and restart reprocesses nothing") {
    import spark.implicits._
    val root = tmpDir("splitroute")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    // trailing-char diffs keep shingle-7 Jaccard ≥ 4/5 (see CorpusSpec)
    val tmpl = "large language models are trained on vast corpora of text " +
      "data scraped from across the public web %s"
    val local = "a fresh document about exactly-once streaming watermark " +
      "semantics and state store compaction policies %s"
    val corpus = Seq(
      (10L, tmpl.format("aa")), (11L, tmpl.format("ac")),
      (12L, "completely unrelated content about volcanoes and magnitudes")
    ).toDF("doc_id", "text")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    // batch 1: one corpus near-dup, one novel doc
    jsonl(s"$docsDir/b1.json", 20L -> tmpl.format("ab"),
      21L -> local.format("zz"))
    val q1 = DeltaStream.startSplitRouting(spark, docsDir, corpus,
      s"$root/sigs", s"$root/keys", s"$root/out", s"$root/ckpt",
      k = 16, bands = 4, shingleLen = 7, thNum = 4, thDen = 5)
    q1.processAllAvailable(); q1.stop()
    val b0 = spark.read.parquet(s"$root/out/batch-0")
      .select("doc_id", "split_key", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // 20 inherits the corpus cluster key 10; 21 keys on itself
    assert(b0(20L)._1 === 10L && b0(21L)._1 === 21L)
    // batch 2: near-dups of BATCH-1 docs only — keys must propagate
    jsonl(s"$docsDir/b2.json", 30L -> local.format("zq"))
    val q2 = DeltaStream.startSplitRouting(spark, docsDir, corpus,
      s"$root/sigs", s"$root/keys", s"$root/out", s"$root/ckpt",
      k = 16, bands = 4, shingleLen = 7, thNum = 4, thDen = 5)
    q2.processAllAvailable(); q2.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1")
      .select("doc_id", "split_key", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // 30 never saw the corpus — it inherits 21's key through the grown
    // tables, and with it 21's split
    assert(b1(30L)._1 === 21L && b1(30L)._2 === b0(21L)._2)
    // the key table now carries corpus + both batches, no duplicates
    val keys = spark.read.parquet(s"$root/keys")
      .as[(Long, Long)].collect().toMap
    assert(keys.keySet === Set(10L, 11L, 12L, 20L, 21L, 30L))
    assert(keys(20L) === 10L && keys(30L) === 21L)
  }

  test("startBm25Probe: arriving queries retrieve against the FIXED seeded " +
    "postings table; stream results equal the batch operator; restart " +
    "neither rescores nor reseeds") {
    import spark.implicits._
    val root = tmpDir("bm25probe")
    val qDir = s"$root/queries"
    Files.createDirectories(Paths.get(qDir))
    val corpus = Seq(
      (100L, "apple banana cherry"), (101L, "apple apple banana"),
      (102L, "durian cherry fig"), (103L, "cherry cherry apple")
    ).toDF("doc_id", "text")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    jsonl(s"$qDir/b1.json", 1L -> "apple cherry", 2L -> "durian fig")
    val q1 = DeltaStream.startBm25Probe(spark, qDir, corpus,
      s"$root/postings", s"$root/out", s"$root/ckpt", k = 3)
    q1.processAllAvailable(); q1.stop()
    val got = spark.read.parquet(s"$root/out/batch-0")
      .as[(Long, Long, Long, Int)].collect().toSet
    val direct = graft.ext.Corpus.bm25TopKAgainstPostings(
        Seq((1L, "apple cherry"), (2L, "durian fig")).toDF("doc_id", "text"),
        spark.read.parquet(s"$root/postings"), "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got === direct && got.nonEmpty)
    // both queries retrieved something
    assert(got.map(_._1) === Set(1L, 2L))
    // restart: batch 0 not reprocessed, postings not reseeded
    val mtime = Files.getLastModifiedTime(Paths.get(s"$root/postings"))
    jsonl(s"$qDir/b2.json", 3L -> "banana")
    val q2 = DeltaStream.startBm25Probe(spark, qDir, corpus,
      s"$root/postings", s"$root/out", s"$root/ckpt", k = 3)
    q2.processAllAvailable(); q2.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1")
      .as[(Long, Long, Long, Int)].collect()
    assert(b1.map(_._1).toSet === Set(3L))
    // banana appears in docs 100 and 101 only
    assert(b1.map(_._2).toSet === Set(100L, 101L))
    assert(Files.getLastModifiedTime(Paths.get(s"$root/postings")) === mtime)
  }

  test("startSemanticDecontam: arriving vectors get verdicts against the " +
    "FIXED eval set through the FIXED corpus-seeded centroids; stream " +
    "equals the batch operator; restart neither rescores nor reseeds") {
    import spark.implicits._
    val root = tmpDir("semdecon")
    val vDir = s"$root/vecs"
    Files.createDirectories(Paths.get(vDir))
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.9f, 0.1f, 0.0f, 0.0f)), (4L, Seq(0.0f, 0.8f, 0.2f, 0.0f))
    ).toDF("vec_id", "embedding")
    val eval = Seq((100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    def jsonl(path: String, vecs: (Long, Seq[Float])*): Unit =
      Files.write(Paths.get(path), vecs.map { case (id, v) =>
        s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}"""
      }.asJava)
    jsonl(s"$vDir/b1.json",
      10L -> Seq(0.95f, 0.05f, 0.0f, 0.0f), 11L -> Seq(0.0f, 0.0f, 1.0f, 0.0f))
    val q1 = DeltaStream.startSemanticDecontam(spark, vDir, corpus, eval,
      s"$root/cents", s"$root/eval", s"$root/out", s"$root/ckpt",
      nCells = 2, nprobe = 2, threshold = 0.45)
    q1.processAllAvailable(); q1.stop()
    val got = spark.read.parquet(s"$root/out/batch-0")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), r.getBoolean(3))).toMap
    assert(got(10L) === ((Some(100L), true)), "near-copy of eval flagged")
    assert(got(11L)._2 === false, "orthogonal vector is clean")
    // stream ≡ batch operator on the same maintained tables
    val direct = graft.ext.Similarity.semanticContaminationAgainst(
        Seq((10L, Seq(0.95f, 0.05f, 0.0f, 0.0f)),
          (11L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding"),
        spark.read.parquet(s"$root/eval"), "vec_id", "embedding",
        spark.read.parquet(s"$root/cents"), nprobe = 2, threshold = 0.45)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), r.getBoolean(3))).toMap
    assert(got === direct)
    // restart: batch 0 not reprocessed; centroid/eval tables not reseeded
    val cm = Files.getLastModifiedTime(Paths.get(s"$root/cents"))
    jsonl(s"$vDir/b2.json", 12L -> Seq(0.99f, 0.0f, 0.0f, 0.0f))
    val q2 = DeltaStream.startSemanticDecontam(spark, vDir, corpus, eval,
      s"$root/cents", s"$root/eval", s"$root/out", s"$root/ckpt",
      nCells = 2, nprobe = 2, threshold = 0.45)
    q2.processAllAvailable(); q2.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1").collect()
    assert(b1.map(_.getLong(0)).toSet === Set(12L))
    assert(b1.head.getBoolean(3) === true)
    assert(Files.getLastModifiedTime(Paths.get(s"$root/cents")) === cm)
  }

  test("startNearDupFlagging: per-file batches flag cross-corpus near-dups; " +
    "checkpoint restart reprocesses nothing") {
    import spark.implicits._
    val root = tmpDir("neardup")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq(
      (10L, "large language models are trained on vast corpora of text data from the web"),
      (12L, "completely unrelated content about volcanoes and earthquake magnitudes here")
    ).toDF("doc_id", "text")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)

    // batch 1: one near-dup of corpus doc 10, one novel doc
    jsonl(s"$docsDir/b1.json",
      20L -> "large language models are trained on vast corpora of text data from the net",
      21L -> "fresh document about streaming watermark semantics and state stores")
    val q1 = DeltaStream.startNearDupFlagging(spark, docsDir, corpus,
      s"$root/out", s"$root/ckpt", k = 16, bands = 4, shingleLen = 7,
      thNum = 3, thDen = 5)
    q1.processAllAvailable(); q1.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-0")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(b1 === Set((20L, 10L)))

    // stream down; a second file lands; restart on the SAME checkpoint →
    // only the new file is scored (batch-0 output untouched)
    jsonl(s"$docsDir/b2.json",
      30L -> "completely unrelated content about volcanoes and earthquake magnitudes there")
    val q2 = DeltaStream.startNearDupFlagging(spark, docsDir, corpus,
      s"$root/out", s"$root/ckpt", k = 16, bands = 4, shingleLen = 7,
      thNum = 3, thDen = 5)
    q2.processAllAvailable(); q2.stop()
    val b2 = spark.read.parquet(s"$root/out/batch-1")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(b2 === Set((30L, 12L)))
  }

  test("startNearDupFlaggingMaintained: signature table seeds from the " +
    "corpus, grows with each batch, and later batches match earlier ones") {
    import spark.implicits._
    val root = tmpDir("neardup-maintained")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq(
      (10L, "large language models are trained on vast corpora of text data from the web"),
      (12L, "completely unrelated content about volcanoes and earthquake magnitudes here")
    ).toDF("doc_id", "text")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    def run(): Unit = {
      val q = DeltaStream.startNearDupFlaggingMaintained(spark, docsDir,
        corpus, s"$root/sigs", s"$root/out", s"$root/ckpt",
        k = 16, bands = 4, shingleLen = 7, thNum = 3, thDen = 5)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: near-dup of corpus doc 10 + a novel doc
    jsonl(s"$docsDir/b1.json",
      20L -> "large language models are trained on vast corpora of text data from the net",
      21L -> "fresh document about streaming watermark semantics and state stores")
    run()
    val b1 = spark.read.parquet(s"$root/out/batch-0")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(b1 === Set((20L, 10L)))
    // the table now holds corpus + batch-1 signatures, exactly once each
    val sigIds = spark.read.parquet(s"$root/sigs").select("doc_id")
      .as[Long].collect().sorted
    assert(sigIds === Array(10L, 12L, 20L, 21L))

    // batch 2: near-dup of batch 1's doc 21 — a pair the static-corpus path
    // can never produce — plus a near-dup of corpus doc 12
    jsonl(s"$docsDir/b2.json",
      30L -> "fresh document about streaming watermark semantics and state machines",
      31L -> "completely unrelated content about volcanoes and earthquake magnitudes there")
    run()
    val b2 = spark.read.parquet(s"$root/out/batch-1")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(b2 === Set((30L, 21L), (31L, 12L)))
    val sigIds2 = spark.read.parquet(s"$root/sigs").select("doc_id")
      .as[Long].collect().sorted
    assert(sigIds2 === Array(10L, 12L, 20L, 21L, 30L, 31L))

    // replay idempotence: re-running the SAME batch against a table that
    // already holds its signatures (the crash-between-append-and-commit
    // window) reproduces the same pairs — no self-matches, no dup sig rows
    val replayed = graft.ext.Dedup.minhashNearDupsAgainstSigs(
        Seq(30L -> "fresh document about streaming watermark semantics and state machines",
          31L -> "completely unrelated content about volcanoes and earthquake magnitudes there")
          .toDF("doc_id", "text"),
        spark.read.parquet(s"$root/sigs")
          .join(Seq(30L, 31L).toDF("doc_id"), Seq("doc_id"), "left_anti"),
        corpus.unionByName(spark.read.schema(
            new org.apache.spark.sql.types.StructType()
              .add("doc_id", org.apache.spark.sql.types.LongType)
              .add("text", org.apache.spark.sql.types.StringType))
          .json(docsDir)),
        "text", "doc_id", k = 16, bands = 4, shingleLen = 7, thNum = 3, thDen = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(replayed === b2)
  }

  test("startLmScoringMaintained: batches score against corpus + earlier " +
    "batches' counts; the maintained table equals one table over all text") {
    import spark.implicits._
    val root = tmpDir("lm-maintained")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    // reference counts: c1 = {a:2, b:2, c:1}, T=5; c2 = {(a,b):2, (b,a):1,
    // (b,c):1} — the hand-computed x137 fixture
    val ref = Seq((10L, "a b a b c")).toDF("doc_id", "text")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    def run(): Unit = {
      val q = DeltaStream.startLmScoringMaintained(spark, docsDir,
        ref, s"$root/counts", s"$root/out", s"$root/ckpt")
      q.processAllAvailable(); q.stop()
    }

    // batch 1 scores against the seed: (a,b) 1e6·2/2, (b,c) 1e6·1/2
    jsonl(s"$docsDir/b1.json", 20L -> "a b c")
    run()
    val b1 = spark.read.parquet(s"$root/out/batch-0")
      .select("doc_id", "n_pairs", "n_backoff", "n_oov", "lm_mass")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(b1 === Array((20L, 2L, 0L, 0L, 1500000L)))
    // batch 2 scores against seed + batch 1: c1 = {a:3, b:3, c:2}, T=8;
    // (c,a) unseen bigram → ⌊1e6·2·3/(5·8)⌋ = 150000 backoff; (a,z) OOV
    jsonl(s"$docsDir/b2.json", 30L -> "c a z")
    run()
    val b2 = spark.read.parquet(s"$root/out/batch-1")
      .select("doc_id", "n_pairs", "n_backoff", "n_oov", "lm_mass")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(b2 === Array((30L, 2L, 1L, 1L, 150000L)))
    // aggregate-on-read view of the maintained table = one count table
    // over all text ever seen (the x138 additivity law on the stream)
    val view = spark.read.parquet(s"$root/counts")
      .groupBy("_u", "_v").agg(sum("_c").as("_c"))
      .collect().map(_.toSeq).toSet
    val full = graft.ext.Corpus.lmCountTable(
        ref.unionByName(Seq((20L, "a b c"), (30L, "c a z"))
          .toDF("doc_id", "text")), "text")
      .collect().map(_.toSeq).toSet
    assert(view === full)
  }

  test("startCcnetRouting: frozen reference thresholds route arrivals; " +
    "buckets match the batch-form ccnetRoute; replay-idempotent") {
    import spark.implicits._
    val root = tmpDir("ccnet-routing")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    // the CorpusSpec fixture: en scores 0.9 / 0.857 / 0.767 → boundaries
    // b1=0.9, b2=0.857 frozen at seed time
    val ref = Seq(
      (1L, "a b a b a b a b", "en"), (2L, "a b a b x y", "en"),
      (3L, "x y z w q r", "en")).toDF("doc_id", "text", "lang")
    def jsonl(path: String, docs: (Long, String, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t, l) =>
        s"""{"doc_id": $id, "text": "$t", "lang": "$l"}"""
      }.asJava)
    def run(): Unit = {
      val q = DeltaStream.startCcnetRouting(spark, docsDir, ref,
        col("lang") === "en", s"$root/state", s"$root/out", s"$root/ckpt")
      q.processAllAvailable(); q.stop()
    }
    // batch 1: "a b" scores 1.0 > b1 → head; zz has no thresholds → NULL
    jsonl(s"$docsDir/b1.json", (20L, "a b", "en"), (21L, "a b", "zz"))
    run()
    def read(n: Int) = spark.read.parquet(s"$root/out/batch-$n")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.toString))
      .toMap
    assert(read(0) === Map(20L -> Some("head"), 21L -> None))
    // batch 2: 0.857 ≤ s < 0.9 → middle (the frozen boundary, not a
    // re-rank over ref ∪ batch1); unscorable → NULL
    jsonl(s"$docsDir/b2.json", (30L, "a b a b a b", "en"), (31L, "solo", "en"))
    run()
    assert(read(1) === Map(30L -> Some("middle"), 31L -> None))
    // batch outputs = the batch-form ccnetRoute on the same frozen state
    val counts = spark.read.parquet(s"$root/state/counts")
    val thr = spark.read.parquet(s"$root/state/thresholds")
    val direct = graft.ext.Corpus.ccnetRoute(
        Seq((30L, "a b a b a b", "en"), (31L, "solo", "en"))
          .toDF("doc_id", "text", "lang"),
        counts, thr, "text", "doc_id", "lang")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.toString))
      .toMap
    assert(read(1) === direct)
    // replay from scratch: wipe the checkpoint and re-run — both files
    // arrive as ONE micro-batch now, but the union of outputs routes
    // identically (frozen thresholds don't depend on batching) and the
    // frozen state is untouched (no append machinery to corrupt)
    val thrBefore = thr.collect().map(_.toSeq).toSet
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    rmTree(Paths.get(s"$root/ckpt"))
    run()
    val replayed = spark.read.parquet(s"$root/out/batch-*")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.toString))
      .toMap
    assert(replayed === Map(20L -> Some("head"), 21L -> None,
      30L -> Some("middle"), 31L -> None))
    assert(spark.read.parquet(s"$root/state/thresholds")
      .collect().map(_.toSeq).toSet === thrBefore)
  }

  test("startCmsHeavyHitterMonitor: maintained sketch adds per batch; a " +
    "gram is flagged on the arrival that makes it φ-heavy") {
    import spark.implicits._
    val root = tmpDir("cms-monitor")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq((10L, "t t t")).toDF("doc_id", "text") // 2× gram "t t"
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    def run(): Unit = {
      val q = DeltaStream.startCmsHeavyHitterMonitor(spark, docsDir,
        corpus, s"$root/sketch", s"$root/out", s"$root/ckpt",
        n = 2, depth = 4, width = 64, phiNum = 1, phiDen = 2)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: "a b" holds 1 of 3 total grams < φ=1/2 → nothing flagged
    jsonl(s"$docsDir/b1.json", 20L -> "a b")
    run()
    assert(spark.read.parquet(s"$root/out/batch-0").isEmpty)
    // batch 2: three more "t t" grams → "t t" now 5 of 6 ≥ 1/2, and it is
    // IN this batch → flagged with its running-sketch estimate
    jsonl(s"$docsDir/b2.json", 30L -> "t t t t")
    run()
    val b2 = spark.read.parquet(s"$root/out/batch-1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(b2 === Array(("t t", 5L)))
    // aggregate-on-read view of the maintained table = one sketch over
    // all text ever seen (the cmsMerge law on the stream)
    val view = spark.read.parquet(s"$root/sketch")
      .groupBy("row_idx", "bucket").agg(sum("cnt").as("cnt"))
      .collect().map(_.toSeq).toSet
    val full = graft.ext.Corpus.cmsSketch(
        corpus.unionByName(Seq((20L, "a b"), (30L, "t t t t"))
          .toDF("doc_id", "text")),
        "text", n = 2, depth = 4, width = 64)
      .collect().map(_.toSeq).toSet
    assert(view === full)
  }

  test("startTokenRarityMaintained: additive count table grows with the " +
    "stream; later batches score against corpus + earlier batches") {
    import spark.implicits._
    val root = tmpDir("rarity-maintained")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq((10L, "x x y")).toDF("doc_id", "text")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    def run(): Unit = {
      val q = DeltaStream.startTokenRarityMaintained(spark, docsDir,
        corpus, s"$root/counts", s"$root/out", s"$root/ckpt", rareMax = 1)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: x is common (corpus c=2), q unseen (c=0 → rare)
    jsonl(s"$docsDir/b1.json", 20L -> "x q")
    run()
    val b1 = spark.read.parquet(s"$root/out/batch-0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4))).head
    assert(b1 === ((20L, 2L, 2L, 1L))) // n_toks 2, sum_tf 2 (x only), 1 rare
    // batch 2: q now counted from batch 1 (c=1 → still rare at rareMax=1),
    // y from the corpus (c=1 → rare)
    jsonl(s"$docsDir/b2.json", 30L -> "q y x")
    run()
    val b2 = spark.read.parquet(s"$root/out/batch-1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4))).head
    // counts now: x 3, y 1, q 1 → sum_tf = 1 + 1 + 3 = 5, rare: q, y
    assert(b2 === ((30L, 3L, 5L, 2L)))
    // the aggregate-on-read view equals one table over all prior text
    val view = spark.read.parquet(s"$root/counts")
      .groupBy("term").agg(sum("c").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = graft.ext.Corpus.termCountTable(
        corpus.unionByName(Seq((20L, "x q"), (30L, "q y x"))
          .toDF("doc_id", "text")), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(view === full)
  }

  test("startSegmentDedupMaintained: segment table seeds from the corpus, " +
    "grows with each batch, and claims span corpus + earlier batches") {
    import spark.implicits._
    val root = tmpDir("segdedup-maintained")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq((10L, "a b c d")).toDF("doc_id", "text")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    def run(): Unit = {
      val q = DeltaStream.startSegmentDedupMaintained(spark, docsDir,
        corpus, s"$root/segs", s"$root/out", s"$root/ckpt", segTokens = 2)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: doc 20 loses "a b" to the corpus; doc 21 loses "x y" to
    // doc 20's batch-first occurrence
    jsonl(s"$docsDir/b1.json", 20L -> "a b x y", 21L -> "x y")
    run()
    val b1 = spark.read.parquet(s"$root/out/batch-0")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(b1 === Map(20L -> (2L, 1L, Some("x y")), 21L -> (1L, 0L, None)))
    // table: corpus segments (owner 10) + the batch's one NEW value
    // (owner 20 — the batch-first); no duplicate hash rows
    val t1 = spark.read.parquet(s"$root/segs")
      .select("doc_id").as[Long].collect().sorted
    assert(t1 === Array(10L, 10L, 20L))

    // batch 2: "x y" now claimed by batch 1, "e f" novel
    jsonl(s"$docsDir/b2.json", 30L -> "x y e f")
    run()
    val b2 = spark.read.parquet(s"$root/out/batch-1")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(b2 === Map(30L -> (2L, 1L, Some("e f"))))
    val t2 = spark.read.parquet(s"$root/segs")
      .select("doc_id").as[Long].collect().sorted
    assert(t2 === Array(10L, 10L, 20L, 30L))

    // replay idempotence: re-scoring batch 2 against a table that already
    // holds its append (crash between append and checkpoint commit) —
    // excluding the batch's own rows reproduces the same output
    val replayed = graft.ext.Dedup.segmentDedupAgainst(
        Seq(30L -> "x y e f").toDF("doc_id", "text"),
        spark.read.parquet(s"$root/segs")
          .join(Seq(30L).toDF("doc_id"), Seq("doc_id"), "left_anti"),
        "text", "doc_id", segTokens = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(replayed === b2)
  }

  test("startEmbedNearDupFlaggingMaintained: bucket table grows with the " +
    "stream and later batches match earlier vectors") {
    import spark.implicits._
    val root = tmpDir("embed-neardup-maintained")
    val vecsDir = s"$root/vecs"
    Files.createDirectories(Paths.get(vecsDir))
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def jsonl(path: String, vecs: (Long, Seq[Float])*): Unit =
      Files.write(Paths.get(path), vecs.map { case (id, v) =>
        s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}"""
      }.asJava)
    def run(): Unit = {
      val q = DeltaStream.startEmbedNearDupFlaggingMaintained(spark, vecsDir,
        corpus, s"$root/buckets", s"$root/out", s"$root/ckpt",
        threshold = 0.9, nPlanes = 4, bands = 2, dims = 3)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: parallel to corpus vector 1 + a novel direction
    jsonl(s"$vecsDir/b1.json",
      10L -> Seq(2.0f, 0.0f, 0.0f),
      11L -> Seq(0.0f, 0.0f, 5.0f))
    run()
    val b1 = spark.read.parquet(s"$root/out/batch-0")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(b1 === Set((10L, 1L)))
    assert(spark.read.parquet(s"$root/buckets").select("vec_id").distinct()
      .as[Long].collect().sorted === Array(1L, 2L, 10L, 11L))

    // batch 2: parallel to batch 1's novel vector 11 — a pair the
    // static-corpus path can never produce — plus one parallel to corpus 2
    jsonl(s"$vecsDir/b2.json",
      20L -> Seq(0.0f, 0.0f, 1.0f),
      21L -> Seq(0.0f, 3.0f, 0.0f))
    run()
    val b2 = spark.read.parquet(s"$root/out/batch-1")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(b2 === Set((20L, 11L), (21L, 2L)))
    assert(spark.read.parquet(s"$root/buckets").select("vec_id").distinct()
      .as[Long].collect().sorted === Array(1L, 2L, 10L, 11L, 20L, 21L))
  }

  test("takedown scan: each feed batch emits only the keys that exist in " +
    "the corpus, per-batch outputs are isolated") {
    import spark.implicits._
    val root = tmpDir("takedown")
    val corpus = s"$root/corpus"
    (1L to 50L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(corpus)
    val feed = s"$root/feed"
    Files.createDirectories(Paths.get(feed))

    def jsonl(path: String, ids: Long*): Unit =
      Files.write(Paths.get(path),
        ids.map(i => s"""{"doc_id": $i}""").asJava)

    val q = DeltaStream.startTakedownScan(spark, feed, corpus,
      s"$root/out", s"$root/ckpt")
    try {
      // batch 0: ids 3 and 7 exist, 999 doesn't — tombstones are the
      // intersection, requests for absent keys vanish
      jsonl(s"$feed/b0.json", 3L, 7L, 999L)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$root/out/batch-0")
        .as[Long].collect().sorted === Array(3L, 7L))
      // batch 1 lands in its own directory, batch 0 untouched
      jsonl(s"$feed/b1.json", 7L, 8L)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$root/out/batch-1")
        .as[Long].collect().sorted === Array(7L, 8L))
      assert(spark.read.parquet(s"$root/out/batch-0")
        .as[Long].collect().sorted === Array(3L, 7L))
    } finally q.stop()
  }

  test("startContainmentScreen: arrivals screen against the corpus AND " +
    "earlier batches via the growing index; restart reprocesses nothing") {
    import spark.implicits._
    val root = tmpDir("containscreen")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val excerpt = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val local = "seventeen astronauts calibrate spectral instruments " +
      "aboard the orbital platform every alternate morning before dawn"
    val corpus = Seq(
      (10L, s"$filler $excerpt"),
      (11L, "completely unrelated corpus content about volcanoes here")
    ).toDF("doc_id", "text")
    def jsonl(path: String, docs: (Long, String)*): Unit =
      Files.write(Paths.get(path), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    def mount() = DeltaStream.startContainmentScreen(spark, docsDir,
      corpus, s"$root/arrs", s"$root/gidx", s"$root/pidx", s"$root/dfs",
      s"$root/out", s"$root/ckpt", n = 3, thNum = 4, thDen = 5)
    // batch 1: a novel document — matches nothing, becomes index
    jsonl(s"$docsDir/b1.json", 20L -> local)
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$root/out/batch-0").count() === 0L)
    // batch 2: one corpus quote, one copy of the BATCH-1 doc — the
    // second is findable only through the grown tables (its grams are
    // novel to the frozen corpus df universe, df 1, indexed on append)
    jsonl(s"$docsDir/b2.json", 21L -> excerpt, 22L -> local)
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("contained_id"), r.getAs[Double]("containment"))).toMap
    assert(b1.contains((21L, 10L)) && b1((21L, 10L))._1 === 21L)
    assert(b1((21L, 10L))._2 === 1.0)
    assert(b1.contains((22L, 20L)) && b1((22L, 20L))._2 === 1.0)
    // index grew by every screened doc, exactly once
    assert(spark.read.parquet(s"$root/arrs").select("_id")
      .as[Long].collect().toSet === Set(10L, 11L, 20L, 21L, 22L))
    // restart with no new data reprocesses nothing
    val q3 = mount()
    q3.processAllAvailable(); q3.stop()
    assert(!Files.exists(Paths.get(s"$root/out/batch-2")))
  }

  test("startExactSubstringScreenMaintained: corpus runs caught with exact " +
    "positions; later batches match EARLIER batches' novel runs via the " +
    "grown tables; replay idempotent") {
    import spark.implicits._
    val root = tmpDir("xsubstr")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq(
      (10L, "p1 p2 c1 c2 c3 c4 c5 c6 c7 c8"),
      (11L, "q1 q2 q3 q4 q5 q6 q7 q8 q9")
    ).toDF("doc_id", "text")
    def jsonl(path: String, ds: (Long, String)*): Unit =
      Files.write(Paths.get(path), ds.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}"""
      }.asJava)
    def mount() = DeltaStream.startExactSubstringScreenMaintained(spark,
      docsDir, corpus, s"$root/picks", s"$root/dtbl", s"$root/out",
      s"$root/ckpt", minTokens = 8, k = 4)
    // batch 1: one corpus-run copy (shifted), one novel run
    jsonl(s"$docsDir/b1.json",
      20L -> "c1 c2 c3 c4 c5 c6 c7 c8 z1",
      21L -> "n1 n2 n3 n4 n5 n6 n7 n8")
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    val b0 = spark.read.parquet(s"$root/out/batch-0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(b0 === Set((10L, 20L, 3L, 1L, 8L)))
    // batch 2: copies BATCH-1's novel run — findable only through the
    // grown pick/text tables (novel to the frozen corpus)
    jsonl(s"$docsDir/b2.json", 30L -> "y0 n1 n2 n3 n4 n5 n6 n7 n8")
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(b1 === Set((21L, 30L, 1L, 2L, 8L)))
    // both tables grew by every screened doc, exactly once
    assert(spark.read.parquet(s"$root/dtbl").select("doc_id")
      .as[Long].collect().toSet === Set(10L, 11L, 20L, 21L, 30L))
    assert(spark.read.parquet(s"$root/picks").select("doc_id").distinct()
      .as[Long].collect().toSet === Set(10L, 11L, 20L, 21L, 30L))
    // restart with no new data reprocesses nothing
    val q3 = mount()
    q3.processAllAvailable(); q3.stop()
    assert(!Files.exists(Paths.get(s"$root/out/batch-2")))
  }

  test("startCcnetRoutingMaintained: stable batches route against the " +
    "seeded boundaries; a score-drifted batch triggers the threshold " +
    "re-base and re-references the drift baseline; replay idempotent") {
    import spark.implicits._
    val root = tmpDir("ccnetroute")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    // corpus: one language, three exact score strata under an LM trained
    // on the hi docs only (trainPred): hi = fully-covered bigrams (score
    // 6.25e6/7), mid = half-covered (2.75e6/7), lo = all-OOV (0). 12 docs,
    // 4 per stratum.
    val hi = "a b a b a b a b"
    val mid = "a b a b q r q r"
    val lo = "q r q r q r q r"
    val corpus = (0L until 12L)
      .map(i => (i, "en", Seq(hi, mid, lo)((i % 3L).toInt)))
      .toDF("doc_id", "lang", "text")
    def jsonl(path: String, ds: (Long, String)*): Unit =
      Files.write(Paths.get(path), ds.map { case (id, t) =>
        s"""{"doc_id": $id, "lang": "en", "text": "$t"}"""
      }.asJava)
    def mount() = DeltaStream.startCcnetRoutingMaintained(spark, docsDir,
      corpus, s"$root/counts", s"$root/th", s"$root/ref", s"$root/dtbl",
      s"$root/out", s"$root/ckpt", trainPred = col("doc_id") % 3 === 0,
      tau = 0.5, binWidth = 0.001)
    // batch 1: the corpus's own mixture — each score bin already in the
    // reference histogram at the same shares ⇒ TV 0 ⇒ no refresh, and the
    // routing reproduces the seeded tercile buckets
    jsonl(s"$docsDir/b1.json",
      100L -> hi, 101L -> hi, 102L -> mid, 103L -> mid, 104L -> lo, 105L -> lo)
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    val b0 = spark.read.parquet(s"$root/out/batch-0")
    assert(b0.select("refreshed").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(false))
    val buckets0 = b0.select("doc_id", "bucket").as[(Long, String)]
      .collect().toMap
    assert(buckets0(100L) === "head" && buckets0(101L) === "head")
    assert(buckets0(102L) === "middle" && buckets0(103L) === "middle")
    assert(buckets0(104L) === "tail" && buckets0(105L) === "tail")
    val thSeed = spark.read.parquet(s"$root/th")
      .select("k", "bscore").as[(Int, Double)].collect().toSet
    // batch 2: every doc scores in a bin the reference has never seen
    // (3.4e6/11 — covered bigrams + backoff (r,a) pairs) ⇒ TV 1 > τ ⇒
    // re-base from the full snapshot, new reference histogram
    val novel = "a b q r a b q r a b q r"
    jsonl(s"$docsDir/b2.json",
      (200L until 206L).map(i => i -> novel): _*)
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1")
    assert(b1.select("refreshed").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(true))
    assert(b1.filter(col("bucket").isNull).count() === 0L)
    // boundaries genuinely re-based (24-doc snapshot ranks ≠ 12-doc seed)
    val thNew = spark.read.parquet(s"$root/th")
      .select("k", "bscore").as[(Int, Double)].collect().toSet
    assert(thNew !== thSeed)
    // the new reference is the refreshed snapshot's histogram (24 docs,
    // all scorable) and the snapshot table carries corpus + both batches
    assert(spark.read.parquet(s"$root/ref")
      .agg(sum(col("c_ref"))).head().getLong(0) === 24L)
    assert(spark.read.parquet(s"$root/dtbl").count() === 24L)
    // restart with no new data reprocesses nothing and rewrites no state
    val q3 = mount()
    q3.processAllAvailable(); q3.stop()
    assert(!Files.exists(Paths.get(s"$root/out/batch-2")))
    assert(spark.read.parquet(s"$root/th")
      .select("k", "bscore").as[(Int, Double)].collect().toSet === thNew)
  }

  test("startCellRoutingMaintained: stable batches route against the " +
    "seeded table; a drifted batch triggers the Lloyd re-seed and " +
    "re-references the drift baseline") {
    import spark.implicits._
    val root = tmpDir("cellroute")
    val vecsDir = s"$root/vecs"
    Files.createDirectories(Paths.get(vecsDir))
    // corpus hugging the x-axis, 4 equal cells of 6 under the seeds
    val corpus = (0L until 24L).map(i => (i, Seq(1.0f, 0.01f * (i % 4))))
      .toDF("vec_id", "embedding")
    def jsonl(path: String, vs: (Long, Seq[Float])*): Unit =
      Files.write(Paths.get(path), vs.map { case (id, v) =>
        s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}"""
      }.asJava)
    def mount() = DeltaStream.startCellRoutingMaintained(spark, vecsDir,
      corpus, s"$root/cents", s"$root/occ", s"$root/vtbl", s"$root/out",
      s"$root/ckpt", nCells = 4, tau = 0.5)
    // batch 1: same distribution — routed under the SEEDED table, no refresh
    jsonl(s"$vecsDir/b1.json",
      (100L until 112L).map(i => i -> Seq(1.0f, 0.01f * (i % 4))): _*)
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    val b0 = spark.read.parquet(s"$root/out/batch-0")
    assert(b0.select("refreshed").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(false))
    val cells0 = b0.select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert((100L until 112L).forall(i => cells0(i) === i % 4))
    assert(spark.read.parquet(s"$root/cents").select("_cid")
      .as[Long].collect().toSet === Set(0L, 1L, 2L, 3L))
    // batch 2: orthogonal cluster — tv = 0.75 > 0.5 → re-seed
    jsonl(s"$vecsDir/b2.json",
      (200L until 212L).map(i => i -> Seq(0.0f, 1.0f)): _*)
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1")
    assert(b1.select("refreshed").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(true))
    // the maintained centroid table genuinely adapted toward the
    // drifted cluster, and every drifted vector routes to that one cell
    val cvecs = spark.read.parquet(s"$root/cents").select("_cvec")
      .collect().map(_.getSeq[Double](0))
    assert(cvecs.exists(v => v(1) > 0.5))
    assert(b1.select("cell").distinct().count() === 1L)
    // the drift baseline re-referenced to the refreshed 48-vector
    // snapshot; the vector snapshot table carries corpus + both batches
    assert(spark.read.parquet(s"$root/occ")
      .agg(sum(col("c"))).head().getLong(0) === 48L)
    assert(spark.read.parquet(s"$root/vtbl").count() === 48L)
    // restart with no new data reprocesses nothing — and must NOT
    // re-seed over the refreshed tables (the refresh overwrite re-creates
    // the seed markers its own `overwrite` wiped)
    val q3 = mount()
    q3.processAllAvailable(); q3.stop()
    assert(!Files.exists(Paths.get(s"$root/out/batch-2")))
    val cvecs3 = spark.read.parquet(s"$root/cents").select("_cvec")
      .collect().map(_.getSeq[Double](0))
    assert(cvecs3.exists(v => v(1) > 0.5),
      "restart reverted the refreshed centroid table to the corpus seed")
    assert(spark.read.parquet(s"$root/occ")
      .agg(sum(col("c"))).head().getLong(0) === 48L,
      "restart reverted the refreshed drift reference")
  }

  test("startZorderShardingMaintained: batch assignment equals the x155 " +
    "batch contract on the frozen frame; out-of-frame arrivals clamp and " +
    "flag; replay idempotent") {
    import spark.implicits._
    val root = tmpDir("zorder")
    val eventsDir = s"$root/events"
    Files.createDirectories(Paths.get(eventsDir))
    // corpus frame: x [0,300], y [0,3000] — the CorpusSpec fixture
    val corpus = Seq((1L, 0L, 0L), (2L, 300L, 3000L), (3L, 150L, 1500L))
      .toDF("event_id", "user_id", "ts_us")
    def jsonl(path: String, rows: (Long, Long, Long)*): Unit =
      Files.write(Paths.get(path), rows.map { case (id, x, y) =>
        s"""{"event_id": $id, "user_id": $x, "ts_us": $y}"""
      }.asJava)
    def mount() = DeltaStream.startZorderShardingMaintained(spark,
      eventsDir, corpus, s"$root/bounds", s"$root/out", s"$root/ckpt",
      bits = 2, nShards = 4)
    // batch 1: two in-frame rows + one out-of-frame (x beyond xmax)
    jsonl(s"$eventsDir/b1.json",
      (10L, 300L, 0L), (11L, 150L, 1500L), (12L, 999L, 0L))
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    val b0 = spark.read.parquet(s"$root/out/batch-0")
      .orderBy("event_id").collect()
    // in-frame rows match the direct batch-contract assignment:
    // (300,0) → cells (3,0) z 5; (150,1500) → (1,1) z 3
    assert(b0.map(r => (r.getLong(0), r.getLong(3),
      r.getBoolean(5))).toSeq === Seq((10L, 5L, false), (11L, 3L, false),
      (12L, 5L, true)))   // x=999 clamps to xmax → same cells as (300,0)
    // the frame stayed frozen (no appends anywhere)
    assert(spark.read.parquet(s"$root/bounds").head()
      .getAs[Long]("_xmax") === 300L)
    // restart with no new data reprocesses nothing
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    assert(!Files.exists(Paths.get(s"$root/out/batch-1")))
  }

  test("startZorderShardingRebasing: clamp-fraction over tau re-bases " +
    "the frame from the snapshot; restart KEEPS the rebased frame; " +
    "in-frame batches keep it frozen") {
    import spark.implicits._
    val root = tmpDir("zorder-rebase")
    val eventsDir = s"$root/events"
    Files.createDirectories(Paths.get(eventsDir))
    // corpus frame: x [0,300], y [0,3000]
    val corpus = Seq((1L, 0L, 0L), (2L, 300L, 3000L), (3L, 150L, 1500L))
      .toDF("event_id", "user_id", "ts_us")
    def jsonl(path: String, rows: (Long, Long, Long)*): Unit =
      Files.write(Paths.get(path), rows.map { case (id, x, y) =>
        s"""{"event_id": $id, "user_id": $x, "ts_us": $y}"""
      }.asJava)
    def mount() = DeltaStream.startZorderShardingRebasing(spark,
      eventsDir, corpus, s"$root/bounds", s"$root/evtbl", s"$root/out",
      s"$root/ckpt", bits = 2, nShards = 4, tau = 0.2)
    // batch 1: 2 of 3 rows out-of-frame → frac 2/3 > 0.2 → RE-BASE to
    // the snapshot ∪ batch frame x [0,999], y [0,6000]; assignment runs
    // against the NEW frame (wide legs: cx = x // 250, cy = y // 1501)
    jsonl(s"$eventsDir/b1.json",
      (10L, 999L, 6000L), (11L, 900L, 5000L), (12L, 150L, 1500L))
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    val b0 = spark.read.parquet(s"$root/out/batch-0")
      .orderBy("event_id").collect()
    assert(b0.map(r => (r.getLong(0), r.getLong(3), r.getInt(4),
      r.getBoolean(5), r.getBoolean(6))).toSeq === Seq(
      (10L, 15L, 3, false, true),   // (999,6000) → cells (3,3), z 15
      (11L, 15L, 3, false, true),   // (900,5000) → cells (3,3)
      (12L, 0L, 0, false, true)))   // (150,1500) → cells (0,0)
    assert(spark.read.parquet(s"$root/bounds").head()
      .getAs[Long]("_xmax") === 999L)
    // restart with no new data: nothing reprocessed, and the REBASED
    // frame survives (markSeeded after the overwrite — a re-seed here
    // would silently revert to the corpus frame)
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    assert(!Files.exists(Paths.get(s"$root/out/batch-1")))
    assert(spark.read.parquet(s"$root/bounds").head()
      .getAs[Long]("_xmax") === 999L)
    // batch 2 inside the rebased frame: no re-base, frame untouched,
    // assignment against the kept frame
    jsonl(s"$eventsDir/b2.json", (20L, 500L, 3000L))
    val q3 = mount()
    q3.processAllAvailable(); q3.stop()
    val b1 = spark.read.parquet(s"$root/out/batch-1").collect()
    assert(b1.map(r => (r.getLong(0), r.getLong(3), r.getInt(4),
      r.getBoolean(5), r.getBoolean(6))).toSeq === Seq(
      (20L, 6L, 1, false, false)))  // cells (2,1) → z 6, shard 1
    assert(spark.read.parquet(s"$root/bounds").head()
      .getAs[Long]("_xmax") === 999L)
    // the appended snapshot holds corpus ∪ arrivals exactly once
    val ev = spark.read.parquet(s"$root/evtbl")
    assert(ev.count() === 7L && ev.select("event_id").distinct()
      .count() === 7L)
  }

  test("startZorderTableMaintained: the table IS the sink — arrivals " +
    "append with manifests folded, pruned reads see them between " +
    "batches, replay converges") {
    import graft.util.Scan
    import spark.implicits._
    val root = tmpDir("zorder-table")
    val eventsDir = s"$root/events"
    Files.createDirectories(Paths.get(eventsDir))
    // corpus frame x [0,300], y [0,3000]; bits=2, 4 shards
    val corpus = Seq((1L, 0L, 0L), (2L, 300L, 3000L), (3L, 150L, 1500L))
      .toDF("event_id", "user_id", "ts_us")
    def jsonl(path: String, rows: (Long, Long, Long)*): Unit =
      Files.write(Paths.get(path), rows.map { case (id, x, y) =>
        s"""{"event_id": $id, "user_id": $x, "ts_us": $y}"""
      }.asJava)
    def mount() = DeltaStream.startZorderTableMaintained(spark,
      eventsDir, corpus, s"$root/table", s"$root/bounds", s"$root/ckpt",
      bits = 2, nShards = 4)
    // batch 1: two arrivals — (280,2800) → cells (3,3) z 15 shard 3;
    // (10,100) → cells (0,0) z 0 shard 0
    jsonl(s"$eventsDir/b1.json", (10L, 280L, 2800L), (11L, 10L, 100L))
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    val table = s"$root/table"
    assert(spark.read.parquet(table).count() === 5L)
    // pruned range read sees corpus AND streamed rows, no maintenance
    // call in between — appendSharded folded the manifests
    assert(Scan.readPrunedByRange(spark, table,
      Seq(("user_id", 250L, 300L))).select("event_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 10L))
    // bloom sees the streamed key
    assert(Scan.readPrunedByKey(spark, table, "user_id", 10L)
      .select("event_id").collect().map(_.getLong(0)).toSeq ===
      Seq(11L))
    // restart, no new data: replay converges (no dup rows/counts)
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(table).count() === 5L)
    assert(Scan.statsManifest(spark, table)
      .agg(org.apache.spark.sql.functions.sum("n_rows")).head()
      .getLong(0) === 5L)
    // batch 2 + compaction: files fold back, reads stay exact
    jsonl(s"$eventsDir/b2.json", (20L, 160L, 1600L))
    val q3 = mount()
    q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(table).count() === 6L)
    graft.util.Compaction.compactSharded(spark, table)
    assert(Scan.readPrunedByRange(spark, table,
      Seq(("user_id", 150L, 170L))).select("event_id")
      .collect().map(_.getLong(0)).toSet === Set(3L, 20L))
  }

  test("startZorderTableMaintained with retentionHorizon: rows older " +
    "than batch-watermark − horizon EXPIRE through the stats-routed " +
    "pruned delete, and a replay's re-delete is a zero-candidate " +
    "no-op (the envelopes tightened past the expired range)") {
    import graft.util.Scan
    import spark.implicits._
    val root = tmpDir("zorder-table-ret")
    val eventsDir = s"$root/events"
    Files.createDirectories(Paths.get(eventsDir))
    val corpus = Seq((1L, 0L, 0L), (2L, 300L, 3000L), (3L, 150L, 1500L))
      .toDF("event_id", "user_id", "ts_us")
    def jsonl(path: String, rows: (Long, Long, Long)*): Unit =
      Files.write(Paths.get(path), rows.map { case (id, x, y) =>
        s"""{"event_id": $id, "user_id": $x, "ts_us": $y}"""
      }.asJava)
    def mount() = DeltaStream.startZorderTableMaintained(spark,
      eventsDir, corpus, s"$root/table", s"$root/bounds", s"$root/ckpt",
      bits = 2, nShards = 4, retentionHorizon = 2000L)
    val table = s"$root/table"
    // batch 1: newest ts 2800 → cutoff 800 → corpus row ts 0 expires
    jsonl(s"$eventsDir/b1.json", (10L, 280L, 2800L))
    val q1 = mount(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(table).select("event_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L, 10L))
    // batch 2: newest ts 4000 → cutoff 2000 → ts 1500 expires too
    jsonl(s"$eventsDir/b2.json", (20L, 160L, 4000L))
    val q2 = mount(); q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(table).select("event_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 10L, 20L))
    // the expired range no longer produces candidates — the very
    // property that makes a replayed expiry free
    val (cands, touched, removed) = Scan.deleteByRange(spark, table,
      Seq(("ts_us", Long.MinValue + 1, 2000L)))
    assert(cands.isEmpty && touched.isEmpty && removed === 0L)
    // full replay (fresh checkpoint): appends dedup, the re-delete
    // no-ops, the table converges to the same rows
    Files.walk(Paths.get(s"$root/ckpt")).iterator().asScala.toSeq
      .reverse.foreach(Files.delete)
    val q3 = mount(); q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(table).select("event_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 10L, 20L))
  }

  test("startZorderTableMaintained with maxFilesPerShard: the scheduled " +
    "compact folds per-batch files back and restores exact manifests, " +
    "reads stay exact throughout") {
    import graft.util.Scan
    import spark.implicits._
    val root = tmpDir("zorder-table-compact")
    val eventsDir = s"$root/events"
    Files.createDirectories(Paths.get(eventsDir))
    val corpus = Seq((1L, 0L, 0L), (2L, 300L, 3000L), (3L, 150L, 1500L))
      .toDF("event_id", "user_id", "ts_us")
    def jsonl(path: String, rows: (Long, Long, Long)*): Unit =
      Files.write(Paths.get(path), rows.map { case (id, x, y) =>
        s"""{"event_id": $id, "user_id": $x, "ts_us": $y}"""
      }.asJava)
    def mount() = DeltaStream.startZorderTableMaintained(spark,
      eventsDir, corpus, s"$root/table", s"$root/bounds", s"$root/ckpt",
      bits = 2, nShards = 4, maxFilesPerShard = 1)
    // two batches landing in shard 3 (cells (3,3)) — each append adds a
    // file beside the corpus file there, tripping the threshold
    jsonl(s"$eventsDir/b1.json", (10L, 280L, 2800L))
    jsonl(s"$eventsDir/b2.json", (11L, 290L, 2900L))
    val q = mount()
    q.processAllAvailable(); q.stop()
    val table = s"$root/table"
    // every shard directory folded back to at most one data file
    val shardDirs = new java.io.File(table).listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val n = d.listFiles().count(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(n <= 1, s"${d.getName} has $n data files")
    }
    // reads exact, manifests exact (compact recomputed them)
    assert(spark.read.parquet(table).count() === 5L)
    assert(Scan.readPrunedByRange(spark, table,
      Seq(("user_id", 250L, 300L))).select("event_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 10L, 11L))
    val s3 = Scan.statsManifest(spark, table)
      .filter(col("shard") === 3).head()
    assert(s3.getAs[Long]("n_rows") === 3L)
    assert(s3.getAs[Long]("user_id_ndv") === 3L) // exact again post-compact
    // REGRESSION (latent in r14): the compaction swap replaces the table
    // directory — a marker-based seed guard would vanish with it, and
    // the next restart would re-seed from the corpus, WIPING the
    // streamed rows. The mount must key seeding on the atomic table's
    // existence: restart after the in-batch compact keeps all 5 rows.
    val qr = mount()
    qr.processAllAvailable(); qr.stop()
    assert(spark.read.parquet(table).count() === 5L)
  }

  test("startZorderTableMaintained: a POISON event (NULL dimension) is " +
    "quarantined, not a wedged checkpoint — the batch lands its clean " +
    "rows and replay converges") {
    import graft.util.Scan
    import spark.implicits._
    val root = tmpDir("zorder-table-poison")
    val eventsDir = s"$root/events"
    Files.createDirectories(Paths.get(eventsDir))
    val corpus = Seq((1L, 0L, 0L), (2L, 300L, 3000L), (3L, 150L, 1500L))
      .toDF("event_id", "user_id", "ts_us")
    def mount() = DeltaStream.startZorderTableMaintained(spark,
      eventsDir, corpus, s"$root/table", s"$root/bounds", s"$root/ckpt",
      bits = 2, nShards = 4)
    // one clean arrival + one poison (user_id absent → schema nulls it)
    Files.write(Paths.get(s"$eventsDir/b1.json"), Seq(
      """{"event_id": 10, "user_id": 280, "ts_us": 2800}""",
      """{"event_id": 666, "ts_us": 999}""").asJava)
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    val table = s"$root/table"
    // the clean row landed; the poison row did NOT corrupt the table
    assert(spark.read.parquet(table).count() === 4L)
    assert(Scan.readPrunedByRange(spark, table,
      Seq(("user_id", 250L, 300L))).select("event_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 10L))
    // the poison row is in quarantine with its batch id, dims intact
    val quarantined = spark.read.parquet(s"${table}_quarantine/batch-0")
    assert(quarantined.select("event_id").head().getLong(0) === 666L)
    assert(quarantined.filter(col("shard").isNull).count() === 1L)
    // a later batch still processes — the stream was never wedged
    Files.write(Paths.get(s"$eventsDir/b2.json"),
      Seq("""{"event_id": 11, "user_id": 10, "ts_us": 100}""").asJava)
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(table).count() === 5L)
    // replay converges: table unchanged, quarantine not duplicated
    val q3 = mount()
    q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(table).count() === 5L)
    assert(spark.read.parquet(s"${table}_quarantine/batch-0")
      .count() === 1L)
  }

  test("startZorderStringTableMaintained: the frozen frame is the " +
    "persisted dict + bounds — known categories route and append, an " +
    "UNSEEN category quarantines (never wedges), the dict survives " +
    "compaction, replay converges") {
    import graft.util.Scan
    import spark.implicits._
    val root = tmpDir("zorder-string-table")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq((1L, "de", 10L), (2L, "en", 50L), (3L, "es", 90L))
      .toDF("doc_id", "lang", "n_chars")
    def jsonl(path: String, rows: (Long, String, Long)*): Unit =
      Files.write(Paths.get(path), rows.map { case (id, l, n) =>
        s"""{"doc_id": $id, "lang": "$l", "n_chars": $n}"""
      }.asJava)
    def mount() = DeltaStream.startZorderStringTableMaintained(spark,
      docsDir, corpus, s"$root/table", s"$root/bounds", s"$root/ckpt",
      bits = 2, nShards = 4)
    // batch 1: a known language + an UNSEEN one (zh not in the corpus)
    jsonl(s"$docsDir/b1.json", (10L, "en", 60L), (666L, "zh", 70L))
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    val table = s"$root/table"
    assert(spark.read.parquet(table).count() === 4L)
    // string-predicated pruned read sees corpus AND streamed rows
    assert(Scan.readPrunedByRange(spark, table,
      Seq(("lang", "en", "en"))).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 10L))
    // the unseen category is quarantined with its value intact
    val quarantined = spark.read.parquet(s"${table}_quarantine/batch-0")
    assert(quarantined.select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((666L, "zh")))
    // the dict rode the publish as a sidecar: recoverable from the table
    assert(Scan.readDicts(spark, table)("lang").orderBy("rank")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("de", 0L), ("en", 1L), ("es", 2L)))
    // compaction preserves the dict (the frame survives maintenance)
    graft.util.Compaction.compactSharded(spark, table)
    assert(Scan.readDicts(spark, table).contains("lang"))
    // a later batch still routes against the frozen frame post-compact
    jsonl(s"$docsDir/b2.json", (11L, "de", 20L))
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    assert(Scan.readPrunedByRange(spark, table,
      Seq(("lang", "de", "de"))).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 11L))
    // replay converges: rows and quarantine unchanged
    val q3 = mount()
    q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(table).count() === 5L)
    assert(spark.read.parquet(s"${table}_quarantine/batch-0")
      .count() === 1L)
    // shard-count evolution UNDER the mount: re-shard between batches,
    // the next append follows the table's NEW shard space (meta-read
    // per batch), dict survives, pruned reads stay exact
    graft.util.Compaction.reshardSharded(spark, table, 8)
    assert(Scan.readDicts(spark, table).contains("lang"))
    jsonl(s"$docsDir/b3.json", (12L, "es", 80L))
    val q4 = mount()
    q4.processAllAvailable(); q4.stop()
    assert(spark.read.parquet(table).count() === 6L)
    assert(Scan.statsManifest(spark, table).count() <= 8L)
    assert(Scan.readPrunedByRange(spark, table,
      Seq(("lang", "es", "es"))).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(3L, 12L))
  }

  test("startZorderStringTableRebasing: quarantine growth past tau " +
    "re-bases the DICTIONARY — the table re-lays against the refreshed " +
    "frame, quarantined rows fold in (id-deduped), later arrivals of " +
    "the new category route directly, restart keeps the rebased dict") {
    import graft.util.Scan
    import spark.implicits._
    val root = tmpDir("zorder-string-rebase")
    val docsDir = s"$root/docs"
    Files.createDirectories(Paths.get(docsDir))
    val corpus = Seq((1L, "de", 10L), (2L, "en", 50L), (3L, "es", 90L))
      .toDF("doc_id", "lang", "n_chars")
    def jsonl(path: String, rows: (Long, String, Long)*): Unit =
      Files.write(Paths.get(path), rows.map { case (id, l, n) =>
        s"""{"doc_id": $id, "lang": "$l", "n_chars": $n}"""
      }.asJava)
    def mount() = DeltaStream.startZorderStringTableRebasing(spark,
      docsDir, corpus, s"$root/table", s"$root/bounds", s"$root/ckpt",
      bits = 2, nShards = 4, tauNum = 1L, tauDen = 4L)
    val table = s"$root/table"
    // batch 1: one known + one unseen of three rows — 1/3 > 1/4 → the
    // re-base fires: zh joins the dict, its row folds into the table
    jsonl(s"$docsDir/b1.json", (10L, "en", 60L), (11L, "zh", 70L),
      (12L, "de", 30L))
    val q1 = mount()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(table).count() === 6L)
    assert(Scan.readDicts(spark, table)("lang").orderBy("rank")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("de", 0L), ("en", 1L), ("es", 2L), ("zh", 3L)))
    // the folded row is pruned-readable under the refreshed frame
    assert(Scan.readPrunedByRange(spark, table,
      Seq(("lang", "zh", "zh"))).select("doc_id")
      .collect().map(_.getLong(0)).toSeq === Seq(11L))
    // the bounds frame grew with the dict (string rank max 2 → 3)
    assert(spark.read.parquet(s"$root/bounds").head()
      .getAs[Long]("_max_lang") === 3L)
    // quarantine generations were folded away (nothing left unroutable)
    val q = new java.io.File(s"${table}_quarantine")
    assert(!q.exists() || q.listFiles().forall(!_.isDirectory))
    // batch 2: zh now routes DIRECTLY — no quarantine, no re-base
    jsonl(s"$docsDir/b2.json", (13L, "zh", 80L))
    val q2 = mount()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(table).count() === 7L)
    assert(Scan.readPrunedByRange(spark, table,
      Seq(("lang", "zh", "zh"))).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(11L, 13L))
    assert(!new java.io.File(s"${table}_quarantine/batch-1").exists())
    // replay from scratch converges: same rows, same dict
    val q3 = mount()
    q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(table).count() === 7L)
    assert(Scan.readDicts(spark, table)("lang").count() === 4L)
  }

  test("startZorderTableMaintained with maxStaleFraction: the compact " +
    "triggers on manifest LOOSENESS (fold-entered rows), not file " +
    "count, and restores staleness to zero") {
    import graft.util.Scan
    import spark.implicits._
    val root = tmpDir("zorder-table-stale")
    val eventsDir = s"$root/events"
    Files.createDirectories(Paths.get(eventsDir))
    val corpus = Seq((1L, 0L, 0L), (2L, 300L, 3000L), (3L, 150L, 1500L))
      .toDF("event_id", "user_id", "ts_us")
    def jsonl(path: String, rows: (Long, Long, Long)*): Unit =
      Files.write(Paths.get(path), rows.map { case (id, x, y) =>
        s"""{"event_id": $id, "user_id": $x, "ts_us": $y}"""
      }.asJava)
    // threshold 0.4: one appended row beside shard 3's single corpus
    // row is 1/2 = 0.5 stale — breaches; file count alone would not
    // (maxFilesPerShard unarmed)
    def mount() = DeltaStream.startZorderTableMaintained(spark,
      eventsDir, corpus, s"$root/table", s"$root/bounds", s"$root/ckpt",
      bits = 2, nShards = 4, maxStaleFraction = 0.4)
    jsonl(s"$eventsDir/b1.json", (10L, 280L, 2800L))
    val q = mount()
    q.processAllAvailable(); q.stop()
    val table = s"$root/table"
    // the breach ran the compact inside the batch: staleness reset,
    // manifests exact, rows intact
    assert(Scan.manifestStaleness(spark, table) === 0.0)
    assert(spark.read.parquet(table).count() === 4L)
    val s3 = Scan.statsManifest(spark, table)
      .filter(col("shard") === 3).head()
    assert(s3.getAs[Long]("n_rows") === 2L)
    assert(s3.getAs[Long]("user_id_ndv") === 2L)
  }

  test("takedown mount over deletion vectors: batches mask keys with " +
    "no rewrite, replay converges, and the staleness breach applies " +
    "the vector physically") {
    import graft.util.Scan
    import spark.implicits._
    val root = tmpDir("dvmount")
    val table = s"$root/table"
    val feed = s"$root/feed"
    java.nio.file.Files.createDirectories(Paths.get(feed))
    val laid = (0L until 1000L).map(i =>
        (i, i, 10L * i, (i / 100).toInt, i))
      .toDF("event_id", "user_id", "ts_us", "shard", "zvalue")
    Scan.writeSharded(spark, laid, table,
      statCols = Seq("user_id", "ts_us"), sortCol = Some("zvalue"),
      bloomKeyCol = Some("user_id"))
    def put(name: String, keys: Long*): Unit =
      java.nio.file.Files.write(Paths.get(feed, name),
        keys.map(k => s"""{"key":"$k"}""").mkString("\n")
          .getBytes("UTF-8"))
    val all = (0 until 10).toSeq
    // batch 1: two keys masked — logical reads exclude, files untouched
    put("b1.json", 250L, 777L)
    val q = DeltaStream.startTakedownMaintained(spark, feed, table,
      s"$root/ckpt")
    q.processAllAvailable()
    assert(Scan.readShards(spark, table, all).count() === 998L)
    assert(spark.read.parquet(table).count() === 1000L)
    assert(Scan.deletionVector(spark, table).get.count() === 2L)
    // batch 2: one replayed key (no-op) + one new — 3 entries, not 4
    put("b2.json", 250L, 300L)
    q.processAllAvailable()
    q.stop()
    assert(Scan.readShards(spark, table, all).count() === 997L)
    assert(Scan.deletionVector(spark, table).get.count() === 3L)
    // fresh checkpoint replays the whole feed → converges, no dups
    val q2 = DeltaStream.startTakedownMaintained(spark, feed, table,
      s"$root/ckpt2")
    q2.processAllAvailable()
    q2.stop()
    assert(Scan.deletionVector(spark, table).get.count() === 3L)
    // staleness-armed mount: the next mask breaches and compaction
    // applies the accumulated vector physically
    put("b3.json", 400L)
    val q3 = DeltaStream.startTakedownMaintained(spark, feed, table,
      s"$root/ckpt3", maxStaleFraction = 0.0001)
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(table).count() === 996L)
    assert(Scan.deletionVector(spark, table).isEmpty)
    assert(Scan.readShards(spark, table, all).count() === 996L)
    assert(Scan.manifestStaleness(spark, table) === 0.0)
  }
}
