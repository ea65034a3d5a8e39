package graft.dw

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Dimension construction: distinct natural keys → dense sequential
  * surrogate IDs in sort order, continuing after the ids a dimension
  * already has.
  *
  * Reference behavior: `Full Load Scripts/dw_full_load2.py:37-39`
  * (`enumerate(sorted(values), start=1)` over a collected list) and the
  * delta continuation `Delta Load Scripts/dw2_delta_load2.py:32-34,70-73,179`
  * (`start=max+1`): one numbering, whose start is the only difference.
  *
  * The warehouse numbers its dims with [[extendRows]], the reference's own
  * shape on the driver: `enumerate(sorted(new values), start=max+1)` over
  * the collected existing dimension and the collected new value tuples,
  * from an empty dimension in the full load
  * ([[graft.dw.FactBuilder.star]]). A bounded dimension is already pulled
  * whole to the driver by the broadcast join that consumes it, so numbering
  * its values there costs no Spark job.
  *
  * [[build]] is the same numbering as a Spark plan, for the queries that
  * number a table's values in place (and the reference the tests compare
  * [[extendRows]] with): `distinct()` (map-side partial aggregation,
  * shuffled by key) followed by `row_number()` over a global sort. The
  * single-partition window is deliberate and safe: it runs over the
  * *post-distinct dimension values* (bounded, tiny — network codes,
  * category names, countries), never over fact rows. NULL sorts first in
  * both, making the engine strictly more defined than the reference
  * (Python `sorted()` raises on None among strings, SURVEY §1.4/§7.4.5);
  * [[extendRows]] uses [[build]]'s order, so both number alike.
  */
object DimBuilder {

  /** Distinct `keyCols` tuples of `src` numbered 1..n in sort order.
    *
    * `maxDimRows` makes the bounded-cardinality contract of the
    * single-partition window mechanical: the guard is fused into the id
    * projection (zero extra passes or actions), so a caller pointing this
    * at an unbounded key — where the global sort WOULD be the scaling
    * cliff — fails with a named error instead of silently funneling the
    * world through one partition.
    */
  def build(src: DataFrame, keyCols: Seq[Column], outCols: Seq[String],
      idCol: String, startId: Long = 1L,
      maxDimRows: Long = DefaultMaxDimRows): DataFrame = {
    val distinct = src
      .select(keyCols.zip(outCols).map { case (c, n) => c.as(n) }: _*)
      .distinct()
    val w = Window.orderBy(outCols.map(c => col(c).asc_nulls_first): _*)
    distinct
      .withColumn("_rn", row_number().over(w).cast("long") + lit(startId - 1L))
      .withColumn(idCol, when(col("_rn") <= startId - 1L + maxDimRows, col("_rn"))
        .otherwise(raise_error(lit(
          s"DimBuilder.build: dimension exceeds maxDimRows=$maxDimRows" +
            " distinct values — this surrogate-id window is single-partition" +
            " by design for BOUNDED dims; raise maxDimRows only if that" +
            " cardinality is intended")).cast("long")))
      .select((idCol +: outCols).map(col): _*)
  }

  /** Default [[build]] cardinality bound — far above any real dimension
    * (the reference's dims are networks/categories/countries, ≤10⁴), low
    * enough to catch a fact-keyed mistake before it becomes a one-partition
    * sort of the corpus.
    */
  val DefaultMaxDimRows: Long = 10000000L

  /** Extension (`dw2_delta_load2.py:173-187`; from an empty `existing`,
    * the full load's numbering) on the driver:
    * `existing` rows are `id +: key values`, `values` rows are key tuples in
    * the same column order. Tuples absent from `existing` (null-safe: a
    * NULL value matches a NULL value, as Python's `value not in dict` does)
    * get ids continuing after the existing max, in [[build]]'s window order
    * (ascending, NULLs first, strings by UTF-8 bytes as Spark compares
    * them). Returns only the NEW rows, as `id +: keys` (the reference
    * appends them to the table). The [[build]] bound holds over existing
    * plus new rows.
    */
  def extendRows(existing: Seq[Row], values: Iterable[Row],
      maxDimRows: Long = DefaultMaxDimRows): Seq[Row] = {
    val known = existing.iterator.map(_.toSeq.tail).toSet
    val maxId = existing.iterator.map(_.getAs[Number](0).longValue).foldLeft(0L)(math.max)
    val fresh = values.iterator.map(_.toSeq).filterNot(known).toSeq.distinct
      .sorted(ascNullsFirst)
    require(existing.size + fresh.size <= maxDimRows,
      s"DimBuilder.extendRows: dimension exceeds maxDimRows=$maxDimRows rows" +
        " — the driver-side numbering is for BOUNDED dims; raise" +
        " maxDimRows only if that cardinality is intended")
    fresh.zipWithIndex.map { case (k, i) => Row.fromSeq((maxId + 1L + i) +: k) }
  }

  /** Spark's `asc_nulls_first` over a key tuple: column by column, NULL
    * first, strings by their UTF-8 bytes (Spark's binary collation — not
    * Java's UTF-16 `compareTo`, which orders supplementary-plane characters
    * differently), other values by their natural order.
    */
  private val ascNullsFirst: Ordering[Seq[Any]] = (a, b) =>
    a.iterator.zip(b.iterator).map {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) =>
        UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
      case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
    }.find(_ != 0).getOrElse(0)

  /** [[extendRows]] over DataFrames: the distinct `keyCols` tuples of `src`
    * (named `outCols`) absent from `existing`, numbered after its max
    * `idCol`, as a local relation of the new rows only.
    */
  def extend(existing: DataFrame, src: DataFrame, keyCols: Seq[Column],
      outCols: Seq[String], idCol: String): DataFrame = {
    val values = src.select(keyCols.zip(outCols).map { case (c, n) => c.as(n) }: _*)
      .distinct()
    val rows = extendRows(
      existing.select((idCol +: outCols).map(col): _*).collect().toSeq,
      values.collect().toSeq)
    src.sparkSession.createDataFrame(rows.asJava,
      StructType(StructField(idCol, LongType) +: values.schema.fields))
  }
}
