package graft

import graft.SparkEntry.{Oracle, Q, RowsOnly}
import org.scalatest.funsuite.AnyFunSuite

/** The query catalog's own invariants, checked without a Spark session:
  * building the catalog runs no query, so a broken entry list fails here
  * rather than after a full Verify + DuckDB run.
  */
class CatalogSpec extends AnyFunSuite {
  private def q(name: String, check: SparkEntry.Check) = Q(name, check)((_, _) => null)
  private val names = SparkEntry.catalog.map(_.name).toSet

  test("catalog construction rejects a duplicate name") {
    val e = intercept[IllegalArgumentException](SparkEntry.checked(Seq(
      q("q_a", Oracle("SELECT 1")), q("q_b", Oracle("SELECT 2")), q("q_a", Oracle("SELECT 3")))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"), e.getMessage)
    assert(names.size === SparkEntry.catalog.size)
  }

  test("every rows-only query names an oracle-checked audit") {
    val e = intercept[IllegalArgumentException](SparkEntry.checked(Seq(
      q("q_a", RowsOnly("q_b")), q("q_b", RowsOnly("q_c")), q("q_c", Oracle("SELECT 1")))))
    assert(e.getMessage.contains("q_a -> q_b") && !e.getMessage.contains("q_b -> q_c"), e.getMessage)
    val audits = SparkEntry.catalog.collect { case Q(_, RowsOnly(a), _) => a }
    assert(audits.nonEmpty)
    audits.foreach(a => assert(SparkEntry.query(a).check.isInstanceOf[Oracle], a))
  }

  test("query looks an entry up by name and names an unknown one") {
    assert(SparkEntry.query("q_setops").name === "q_setops")
    val e = intercept[NoSuchElementException](SparkEntry.query("q_no_such_query"))
    assert(e.getMessage.contains("q_no_such_query"))
  }

  test("timed is every entry but the launch-bound ones, sorted by name") {
    val timed = SparkEntry.timed.map(_.name)
    assert(timed === timed.sorted)
    assert(timed.toSet === SparkEntry.catalog.filterNot(_.launchBound).map(_.name).toSet)
    assert(SparkEntry.catalog.exists(_.launchBound))
  }

  test("the bench and probe policies name catalog entries") {
    assert(ScaleProbe.heavyTail.diff(names).isEmpty, ScaleProbe.heavyTail.diff(names))
    assert(Bench.cpuBoundNames.diff(names).isEmpty, Bench.cpuBoundNames.diff(names))
    assert(names.exists(_.startsWith("q_dedup")), "cpuBoundFamily's q_dedup prefix")
  }
}
