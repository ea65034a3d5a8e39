package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: derives a `factor`× dataset from an existing
  * sf dir by unioning offset copies, so BENCH ratios between sf0.1 and the
  * derived sf1 demonstrate the claimed linear runtime shapes empirically
  * (the PlanAudit proves no quadratic plan; a 10× datapoint proves no
  * quadratic constant). Bench-tooling only — correctness always runs against
  * the driver's own parquet.
  *
  * Copies are deterministic (no RNG — replays byte-identical):
  *  - `events`: `event_id` offset per copy; everything else kept, so the e2e
  *    chains see 10× distinct events with the same per-row stats.
  *  - `documents`: `doc_id` offset AND every word suffixed with the copy tag,
  *    so copies share zero shingles/grams — gram-frequency distribution
  *    replicates per copy instead of collapsing into artificial 10-deep
  *    exact-dup clusters, keeping near-dup work proportional to rows.
  *  - `embeddings`: `vec_id` offset and a small per-copy, per-coordinate
  *    deterministic perturbation, so ANN probes see 10× distinct directions
  *    rather than 10 zero-distance ties per point.
  */
object ScaleData {

  /** Copy stride = max(id) + 1 (1 for an empty source): dense, collision-free
    * for any source id range, and — for events — required, because the e2e
    * fixture derives a January-2025 timestamp from `event_id` seconds and
    * fails loudly past day 31 (`PipelineQueries.synthRawLines`); a fixed
    * large stride would blow that window (and collide if source ids ever
    * reached it).
    */
  private def stride(df: DataFrame, idCol: String): Long = {
    // cast to long in the agg: a user-supplied source table may carry an
    // integer id column, and getLong on an IntegerType row value throws
    val m = df.agg(max(col(idCol).cast("long"))).head()
    if (m.isNullAt(0)) 1L else m.getLong(0) + 1L
  }

  def scaleEvents(df: DataFrame, factor: Int): DataFrame = {
    val offset = stride(df, "event_id")
    (0 until factor).map { i =>
      df.withColumn("event_id", col("event_id") + lit(i.toLong * offset))
    }.reduce(_ unionByName _)
  }

  /** Deterministic per-copy permutation of a–z (Fisher–Yates over an LCG
    * stream seeded by the copy index — no RNG state, replays identical).
    */
  def permAlphabet(copy: Int): String = {
    val a = ('a' to 'z').toArray
    var s = copy.toLong * 6364136223846793005L + 1442695040888963407L
    for (i <- a.length - 1 to 1 by -1) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val j = ((s >>> 33) % (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
    }
    new String(a)
  }

  /** Word suffix + per-copy substitution CIPHER. The suffix alone makes
    * copies disjoint at the TOKEN level but not at the CHARACTER level —
    * "table17" and "table3" still share the 5-char shingle "table", so
    * the banded-MinHash paths (char shingles) saw buckets SPAN copies and
    * candidate pairs grow quadratically with the factor (measured: 93×
    * pairs at 10× docs before the cipher; the data, not the plan, was
    * quadratic). Ciphering a–z per copy makes char n-grams cross-copy
    * disjoint to ~26⁻ⁿ coincidence, while the suffix keeps tokens unique;
    * the (suffix ∘ cipher) map is a BIJECTION on tokens, so token-gram
    * frequency distributions — everything the word-level dedup/stats
    * paths measure — are preserved exactly per copy.
    */
  def scaleDocuments(df: DataFrame, factor: Int): DataFrame = {
    val offset = stride(df, "doc_id")
    (0 until factor).map { i =>
      val d = df.withColumn("doc_id", col("doc_id") + lit(i.toLong * offset))
      if (i == 0) d
      else d.withColumn("text",
        translate(regexp_replace(col("text"), "(\\w+)", "$1" + i),
          "abcdefghijklmnopqrstuvwxyz", permAlphabet(i)))
    }.reduce(_ unionByName _)
  }

  def scaleEmbeddings(df: DataFrame, factor: Int): DataFrame = {
    val offset = stride(df, "vec_id")
    (0 until factor).map { i =>
      val d = df.withColumn("vec_id", col("vec_id") + lit(i.toLong * offset))
      if (i == 0) d
      else d.withColumn("embedding",
        expr(s"transform(embedding, (x, j) -> cast(x + 0.01d * $i * sin(j * ${i + 1}) as float))"))
    }.reduce(_ unionByName _)
  }

  /** `runMain graft.ScaleData <srcSfDir> <outDir> <factor>`: writes
    * `factor`× copies of the sf dir's tables under `outDir`. */
  def main(args: Array[String]): Unit = {
    if (args.length != 3 || args(2).toIntOption.forall(_ < 1)) {
      System.err.println(
        "usage: graft.ScaleData <srcSfDir> <outDir> <factor (integer >= 1)>")
      sys.exit(2)
    }
    val Array(src, out, f) = args
    val factor = f.toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    scaleEvents(read("events"), factor)
      .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
    scaleDocuments(read("documents"), factor)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    scaleEmbeddings(read("embeddings"), factor)
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // small dims pass through unchanged so every registered query still runs
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    println(s"wrote ${factor}x of $src to $out")
    spark.stop()
  }
}
