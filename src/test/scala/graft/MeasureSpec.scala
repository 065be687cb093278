package graft

/** The measurement harness: a snapshot delta sees the jobs and shuffle of
  * what ran between two snapshots, and because each snapshot drains the
  * listener bus first, a snapshot taken right after another reads the same
  * counters — no settle delay is needed before reading them.
  */
class MeasureSpec extends SparkSpec {

  test("snapshot delta covers a shuffle job; back-to-back snapshots are identical") {
    val before = Measure.snapshot(spark)
    spark.range(0, 100000, 1, 4).repartition(8).count()
    val after = Measure.snapshot(spark)
    val d     = after - before
    assert(d.jobs >= 1, d)
    assert(d.stages >= 2 && d.tasks >= 8, d)
    assert(d.shuffleWriteB > 0 && d.shuffleReadB > 0 && d.readTasks > 0, d)
    assert(Measure.listener(spark).reducerMax(before, after) > 0)
    assert(Measure.snapshot(spark) == after)
  }

  test("timed returns the body's value, its seconds and the counter delta") {
    val r = Measure.timed("measurespec", "repartition count")(spark.range(0, 1000, 1, 2).repartition(4).count())
    assert(r.value == 1000L)
    assert(r.secs > 0 && r.delta.jobs >= 1 && r.delta.shuffleWriteB > 0, r)
    assert(r.reducerMaxB > 0 && r.reducerMaxB <= r.delta.shuffleReadB)
  }

  test("Counters subtract and average field by field") {
    val a = Measure.Counters(jobs = 6, tasks = 30, shuffleWriteB = 900)
    val b = Measure.Counters(jobs = 2, tasks = 10, shuffleWriteB = 300)
    assert(a - b == Measure.Counters(jobs = 4, tasks = 20, shuffleWriteB = 600))
    assert((a - b) / 2 == Measure.Counters(jobs = 2, tasks = 10, shuffleWriteB = 300))
  }

  test("unknownQueries returns exactly the unregistered names, in order") {
    assert(SparkEntry.unknownQueries(Seq("q1_total_count", "q9_star_join")).isEmpty)
    assert(SparkEntry.unknownQueries(Seq("q1_total_cnt", "q9_star_join", "nope")) == Seq("q1_total_cnt", "nope"))
    assert(SparkEntry.unknownQueries(Nil).isEmpty)
  }
}
