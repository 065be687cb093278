package graft

import graft.operators.SketchBounds
import org.apache.spark.sql.functions.{col, countDistinct, lit, when}

/** The bounded companions' local gate: every within_bound row must be TRUE
  * (the driver's oracle asserts the same by hash) and the exact columns
  * must agree with their already-oracled exact twins where one exists.
  */
class SketchBoundsSpec extends SparkSpec {

  test("x1b: exact distinct matches, sketch within bound") {
    val r = SketchBounds.x1bApproxDistinctBound(spark, sf0001).head()
    val exact = graft.sources.Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(r.getLong(0) == exact && r.getBoolean(1))
  }

  test("x3b: p50/p90 equal x2's exact percentiles; both rank gates hold") {
    val b = SketchBounds.x3bApproxPercentilesBound(spark, sf0001).collect()
    val x2 = graft.operators.CoreQueries.x2Percentiles(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(b.nonEmpty)
    b.foreach { r =>
      val (p50, p90) = x2(r.getString(0))
      assert(r.getDouble(1) == p50 && r.getDouble(2) == p90)
      assert(r.getBoolean(3) && r.getBoolean(4), r.getString(0))
    }
  }

  test("x4b: 5 ranked exact heavy hitters, sketch agreement bound true") {
    val rows = SketchBounds.x4bApproxTopUsersBound(spark, sf001).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 5L))
    assert(rows.map(_.getLong(2)).toSeq == rows.map(_.getLong(2)).toSeq.sorted(Ordering[Long].reverse))
    rows.foreach(r => assert(r.getBoolean(3)))
  }

  test("x5b: rollup total row present (nulls first), every bound true") {
    val rows = SketchBounds.x5bApproxDistinctRollupBound(spark, sf0001).collect()
    assert(rows.head.isNullAt(0)) // the rollup grand-total row
    assert(rows.length >= 2)
    rows.foreach(r => assert(r.getBoolean(2)))
  }

  test("x5b: a planted NULL event_type is its own group beside the total row, exact counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_x5b_null").toString
    // every event of users 0, 5 and 10 loses its event_type: the NULL group
    // (3 users) and the rollup total (15) both carry a null key, and must
    // still join one-to-one; the other groups keep 12 users each
    spark.read.parquet(s"$sf0001/events.parquet")
      .withColumn("event_type", when(col("user_id") % 5 === 0, lit(null).cast("string")).otherwise(col("event_type")))
      .write.parquet(s"$dir/events.parquet")
    val ev    = graft.sources.Tables.events(spark, dir)
    val users = ev.groupBy("event_type").agg(countDistinct("user_id").as("u")).collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(users.contains(None), "the plant must leave a NULL group")
    val total = ev.select("user_id").distinct().count()
    val rows  = SketchBounds.x5bApproxDistinctRollupBound(spark, dir).collect()
    assert(rows.length == users.size + 1, rows.mkString(", "))
    assert(rows.take(2).forall(_.isNullAt(0)))
    assert(rows.head.getLong(1) == total) // grand total first
    assert(rows(1).getLong(1) == users(None))
    assert(total == 15 && users(None) == 3)
    rows.drop(2).foreach(r => assert(r.getLong(1) == users(Some(r.getString(0))), r))
    rows.foreach(r => assert(r.getBoolean(2), r))
  }

  test("dq3b: one row per events column, exact profile equals dq1, bounds true") {
    val b = SketchBounds.dq3bProfileEventsBound(spark, sf0001)
    val dq1 = graft.operators.Profile.profileEvents(spark, sf0001)
    assert(b.count() == dq1.count())
    assert(
      b.select("col_name", "n_rows", "n_nonnull", "n_distinct")
        .exceptAll(dq1).count() == 0)
    assert(b.where(!col("within_bound")).count() == 0)
  }
}
