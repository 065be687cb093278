package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  test("salted join returns exactly the plain join's result on skewed keys") {
    import spark.implicits._
    // 90% of the big side hits one hot key — the pathological shape
    val big = (1 to 10000).map(i => (if (i % 10 == 0) i.toLong % 100 else 7L, i.toLong)).toDF("k", "payload")
    val small = (0L to 99L).map(k => (k, s"dim_$k")).toDF("k2", "name")
    val plain  = big.join(small, col("k") === col("k2")).select("k", "payload", "name")
    val salted = Skew.saltedJoin(big, small, "k", "k2").select("k", "payload", "name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0L)
    assert(plain.exceptAll(salted).count() == 0L)
  }

  test("salt spreads the hot key over the full factor") {
    import spark.implicits._
    val big = (1 to 5000).map(i => (7L, i.toLong)).toDF("k", "payload")
    val salts = big
      .withColumn("__salt", pmod(xxhash64(big.columns.map(col).toSeq: _*), lit(8)).cast("int"))
      .select("__salt").distinct().count()
    assert(salts == 8L, s"hot key only spread over $salts salts")
  }

  // ---------------------------------------------------------------------
  // The MEASURED rule for when the manual salt is still needed (verdict
  // r11 #5): AQE's runtime skew split handles skewed JOINS on its own;
  // it never splits a skewed AGGREGATE partition (correctness needs the
  // whole key co-located) — there, partial aggregation absorbs algebraic
  // functions and salting is the remaining lever for holistic state.
  // ---------------------------------------------------------------------

  private def withSkewConfs[A](body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
    // scale the coalescer down with the corpus: at the defaults (1MB min
    // partition, parallelism-first) AQE merges this test's ~2MB shuffle
    // into 1-2 partitions, erasing the very distribution being measured
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
    try body
    finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    }
  }

  /** The action's value and its largest single-task shuffle read — the
    * straggler factor, read from the [[Measure]] listener.
    */
  private def measured[A](action: => A): (A, Long) = {
    val before = Measure.snapshot(spark)
    val r      = action
    (r, Measure.listener(spark).reducerMax(before, Measure.snapshot(spark)))
  }

  // one hot key carrying ~95% of the rows, wide enough payload that the
  // hot shuffle partition clears the (lowered) skew threshold
  private def skewedBig = {
    import spark.implicits._
    (1 to 200000)
      .map(i => (if (i % 20 == 0) (i % 100).toLong else 7L, "x" * 32 + i.toString))
      .toDF("k", "payload")
  }

  test("skewed JOIN: AQE alone splits the hot partition — no salt rewrite required") {
    import spark.implicits._
    withSkewConfs {
      val small = (0L to 99L).map(kk => (kk, s"dim_$kk")).toDF("k2", "name")
      def join()  = skewedBig.join(small, col("k") === col("k2")).select("k", "payload", "name")
      // AQE skew split ON: result is the plain join's, and the final plan
      // carries the split marker
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val dfOn           = join()
      val (cntOn, maxOn) = measured(dfOn.collect().length.toLong)
      // the plan must be read from the EXECUTED query (collect above), not
      // a fresh action's — AQE finalizes the plan per execution
      assert(dfOn.queryExecution.executedPlan.toString.contains("skew=true"), "AQE did not mark the join skewed")
      // negative control: split OFF -> no marker, and the fattest reducer
      // reads several times more than any post-split task
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val dfOff            = join()
      val (cntOff, maxOff) = measured(dfOff.collect().length.toLong)
      assert(!dfOff.queryExecution.executedPlan.toString.contains("skew=true"))
      assert(cntOn == cntOff && cntOn > 0)
      assert(
        maxOff > 3 * maxOn,
        s"skew split shows no reducer-balance win: max=$maxOff bytes without vs $maxOn with"
      )
    }
  }

  test("skewed ALGEBRAIC agg: partial aggregation absorbs the hot key — no salt, no AQE needed") {
    withSkewConfs {
      // count/sum combine map-side: each mapper emits ONE row per key, so
      // the hot reducer reads rows ~ #mappers, not rows ~ corpus — the
      // fattest reducer stays within a small factor of the rest
      val (_, maxAgg) = measured(
        skewedBig.groupBy("k").agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("bytes")).collect()
      )
      // the JOIN shuffle of the same corpus moves the full hot partition;
      // the algebraic agg's biggest read must be far below that
      val hotBytes = 190000L * 32L // lower bound on the hot key's payload bytes
      assert(maxAgg < hotBytes / 4, s"partial aggregation did not absorb the skew: max read $maxAgg bytes")
    }
  }

  test("skewed HOLISTIC agg: AQE cannot split it; salting the build stage balances the reducers") {
    withSkewConfs {
      // collect_list state is the rows themselves — partial aggregation
      // reduces nothing and AQE may not split the partition (every row of
      // a key must co-locate), so one reducer reads ~ the whole hot key
      val (_, maxPlain) = measured(
        skewedBig.groupBy("k").agg(collect_list("payload").as("ps")).collect()
      )
      // salted build stage: (k, salt) spreads the hot key's list-building
      // over the factor; the final per-key concat still co-locates, but
      // the heavy build shuffle is balanced — the lever AQE lacks here
      val salted = skewedBig
        .withColumn("__salt", pmod(xxhash64(col("payload")), lit(8)).cast("int"))
        .groupBy("k", "__salt")
        .agg(collect_list("payload").as("ps"))
      val (_, maxSalted) = measured(salted.collect())
      assert(
        maxPlain > 3 * maxSalted,
        s"salt shows no balance win on holistic state: plain max=$maxPlain vs salted max=$maxSalted"
      )
    }
  }
}
