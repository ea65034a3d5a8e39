package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Write each query's result under `outDir/<name>`; return the failures.
    *
    * A query that fails to BUILD must not silently vanish from the round's
    * correctness file (round 7 lost three regressed queries exactly that
    * way: no parquet → no row → the regression read as "not registered").
    * Every failure leaves an `_ERROR` marker inside the query's output dir —
    * the driver's parquet read then fails visibly as `err` — plus a row in
    * the returned map (main writes it as errors.json).
    */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // release anything a query persisted (x47's caller contract:
        // composition queries may leave their head cached for the caller
        // to reuse; here each query is independent, so drop it)
        spark.catalog.clearCache()
      }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        failed(name) = msg
        val dir = Paths.get(s"$outDir/$name")
        // clear the dir first (recursively — an aborted write can leave a
        // _temporary/ subtree): parquet readers skip underscore-prefixed
        // files, so stale parquet from a prior successful dump would read
        // back as passing results instead of err
        if (Files.isDirectory(dir)) {
          val s = Files.walk(dir)
          try s.sorted(java.util.Comparator.reverseOrder())
            .filter(p => p != dir).forEach(p => Files.deleteIfExists(p))
          finally s.close()
        }
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_ERROR"), msg)
      }
    }
    failed.toMap
  }

  /** JSON string literal of `s`. Escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.util.GraftSession.forData(sfDir)
    // SPARK_GRAFT_ONLY=a,b,c dumps a subset — local iteration on one query
    // without paying the full suite (driver runs without it → full dump)
    val queries = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val failed = dumpQueries(spark, sfDir, outDir, queries)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failed.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    // deliberately exit 0 even on per-query failures: round 7's bench showed
    // the driver discards the ENTIRE artifact on rc≠0 (parsed=null) — the
    // _ERROR markers already make each failed query surface as `err` in the
    // driver's correctness compare, which is the visibility we want without
    // risking the whole round's file.
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} failed to build: ${failed.keys.mkString(", ")}")
  }
}
