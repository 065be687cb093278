package graft

import graft.QuerySpec._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of [[SparkEntry.registry]] and its derived views. No Spark
  * session: the rows are closures and strings until a query runs.
  */
class RegistrySpec extends AnyFunSuite {

  private val rows = SparkEntry.registry

  test("a registry with a duplicate name is rejected when it is built") {
    // the failure mode it replaces: a Map literal keeps the last duplicate
    assert(Map("q" -> 1, "q" -> 2) == Map("q" -> 2))
    val row = rows.head
    val e   = intercept[IllegalArgumentException](QuerySpec.registry(Seq(row, rows(1), row)))
    assert(e.getMessage.contains(row.name))
  }

  test("queries and oracleSql are views of the rows") {
    assert(SparkEntry.queries.keySet == rows.map(_.name).toSet)
    assert(SparkEntry.queries.size == rows.size)
    assert(SparkEntry.oracleSql.keySet == rows.collect { case QuerySpec(n, _, Sql(_), _, _) => n }.toSet)
    rows.foreach {
      case QuerySpec(n, _, Sql(text), _, _) => assert(SparkEntry.oracleSql(n) == text)
      case _                                => ()
    }
  }

  test("every NoOracle and Throws row states its reason") {
    val blank = rows.collect {
      case QuerySpec(n, _, NoOracle(r), _, _) if r.trim.isEmpty => n
      case QuerySpec(n, _, _, _, Throws(r)) if r.trim.isEmpty   => n
    }
    assert(blank.isEmpty, s"rows with an empty reason: $blank")
  }

  test("the benchmark's ops declare exactly the layouts it forces at set-up") {
    // perfbench/src/graft/perfbench/Main.scala: ShapeOps/PipelineOps and
    // the ShapeLayouts/PipelineLayouts it builds before its timed passes
    val expected = Map(
      "p1_partitioned_time_count" -> Seq("events_by_day"),
      "z1_zorder_range"           -> Seq("events_zorder"),
      "z2_bloom_pruned_point"     -> Seq("events_bloom_manifest"),
      "t6_bm25_indexed"           -> Seq("text_postings")
    ) ++ Seq(
      "q1_total_count", "q2_time_filter_count", "q3_filter_count", "q4_min_max", "q5_max_by",
      "q6_point_filter", "q7_distinct", "q9_star_join", "n16_containment_pairs", "s13_knn_join",
      "d26_source_affinity", "q51_supplier_busy_days"
    ).map(_ -> Nil)
    val byName = rows.map(r => r.name -> r.layouts).toMap
    expected.foreach { case (n, ls) => assert(byName(n) == ls, n) }
  }
}
