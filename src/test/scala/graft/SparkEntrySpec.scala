package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one SPARK_GRAFT_ONLY parser Bench, Verify and Probe share. */
class SparkEntrySpec extends AnyFunSuite {

  test("select: unknown names warn, a list naming no query throws, " +
    "unset selects every query") {
    val warned = scala.collection.mutable.ArrayBuffer[String]()
    val qs = SparkEntry.select(Some(" q1_agg,nope_x ,"), warned += _)
    assert(qs.keySet === Set("q1_agg"))
    assert(warned.size === 1 && warned.head.contains("nope_x"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some("nope_x,nope_y"), _ => ())
    }
    assert(e.getMessage.contains("matched no queries"))
    warned.clear()
    assert(SparkEntry.select(None, warned += _).keySet === SparkEntry.queries.keySet)
    assert(warned.isEmpty)
  }
}
