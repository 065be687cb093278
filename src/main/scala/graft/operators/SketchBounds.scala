package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded-companion queries for the sketch family (x1/x3/x4/x5, dq3).
  *
  * The sketch operators' raw outputs are engine-internal (HLL register
  * state, Greenwald–Khanna summaries, frequent-items tables), so they can
  * never hash-match a DuckDB oracle — they sit as permanent `no_oracle`
  * rows at the driver gate even though each is spec-bounded against its
  * exact twin. These companions lift those spec bounds INTO the registry:
  * each emits `(exact …, within_bound)` where the exact columns are
  * deterministic relational results DuckDB reproduces, and `within_bound`
  * is the documented sketch-error gate evaluated in-engine (the oracle
  * asserts it TRUE). A sketch regression — wrong rsd plumbed through, a
  * broken merge, an accuracy cliff — now flips a hash-adjudicated row red
  * instead of only a local spec.
  *
  * Scale note: the exact twins these companions compute (COUNT DISTINCT,
  * exact percentile, exact top-k) are the test-scale adjudicators, not the
  * production rungs — at 100 TB you run x1/x3/x4/x5/dq3 themselves and the
  * companions run on samples or at gate time. That split (sketch ships,
  * exact adjudicates) is the same labeled-rung pattern as n1/n2.
  */
object SketchBounds {

  /** X1B — x1's HLL distinct estimate vs the exact count, one row
    * `(exact_users, within_bound)`. Both aggregates ride ONE pass; the
    * bound is the 5% gate CoreQueriesSpec pins (rsd=0.02, so 5% ≈ 2.5σ —
    * deterministically true: HLL is deterministic for a fixed input set).
    */
  def x1bApproxDistinctBound(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx")
      )
      .select(
        col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          greatest(lit(1L), (col("exact_users") * 0.05).cast("long"))).as("within_bound")
      )

  /** X5B — x5's rollup sketches vs exact grouped distinct: per event_type
    * AND the rollup total, `(event_type, exact_users, within_bound)`.
    * The exact COUNT(DISTINCT) under rollup plans an Expand — the cost x5
    * exists to avoid — which is exactly why this is the gate-time
    * companion, not the production rung.
    */
  def x5bApproxDistinctRollupBound(spark: SparkSession, dir: String): DataFrame = {
    // Two passes JOINED instead of one mixed aggregation (r22, the dq3b
    // lesson applied): one imperative HLL beside the exact
    // COUNT(DISTINCT) pushed the whole Expand(rollup) aggregation off the
    // codegen HashAggregate path into the sort-based fallback. Split, the
    // exact rollup stays codegen and the HLL pass is a plain single-agg
    // scan; the join is 3 rows. Output identical (same oracle row).
    //
    // The join key is (event_type, grouping_id): a NULL event_type in the
    // data forms its own group whose key is as null as the grand-total
    // row's, so `<=>` on event_type alone would match those two rows 2×2.
    // grouping_id() is 0 for a real group and 1 for the total.
    val exact = Tables
      .events(spark, dir)
      .rollup("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"), grouping_id().as("gid"))
    val approx = Tables
      .events(spark, dir)
      .rollup("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"), grouping_id().as("gid"))
    exact
      .join(approx, exact("event_type") <=> approx("event_type") && exact("gid") === approx("gid"))
      .orderBy(exact("event_type").asc_nulls_first, exact("gid").desc)
      .select(
        exact("event_type"),
        col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          greatest(lit(1L), (col("exact_users") * 0.05).cast("long"))).as("within_bound")
      )
  }

  /** X3B — x3's approx percentiles vs the 2% RANK-error gate: per group,
    * the exact p50/p90 (x2's definition, shared with DuckDB's
    * `quantile_cont`) plus booleans that x3's estimates sit within rank
    * 0.5±0.02 / 0.9±0.02 of the group's value distribution. Rank of the
    * estimate is computed relationally — broadcast the 5-row sketch result
    * back onto events and average BOTH `value < estimate` and
    * `value <= estimate` — so the companion is two scans of events (one
    * for the sketch, one for rank+exact), no collect. TIES: a repeated
    * value occupies the whole rank interval [P(<v), P(≤v)], so the gate
    * asks whether that interval INTERSECTS p±0.02 (`r_lt ≤ p+ε ∧
    * r_le ≥ p−ε`) — a one-sided `|P(≤v) − p| ≤ ε` would flag a perfectly
    * correct estimate red whenever one value carries more than 2ε of the
    * mass. The GK sketch guarantees ε=1/accuracy=10⁻⁴ rank error; the
    * 0.02 gate is 200× slack — deterministically true.
    */
  def x3bApproxPercentilesBound(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val approx = CoreQueries
      .x3ApproxPercentiles(spark, dir)
      .select(col("event_type"), col("p50").as("a50"), col("p90").as("a90"))
    ev.join(broadcast(approx), "event_type")
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        avg((col("value") < col("a50")).cast("double")).as("r50lt"),
        avg((col("value") <= col("a50")).cast("double")).as("r50le"),
        avg((col("value") < col("a90")).cast("double")).as("r90lt"),
        avg((col("value") <= col("a90")).cast("double")).as("r90le")
      )
      .select(
        col("event_type"),
        col("p50"),
        col("p90"),
        (col("r50lt") <= 0.52 && col("r50le") >= 0.48).as("p50_within"),
        (col("r90lt") <= 0.92 && col("r90le") >= 0.88).as("p90_within")
      )
      .orderBy("event_type")
  }

  /** X4B — x4's frequent-items sketch vs the exact top-5: the exact ranked
    * heavy hitters `(rnk, user_id, cnt)` plus one boolean asserting (a)
    * every count x4 reports is that user's true count (exactness below
    * sketch capacity) and (b) x4's count multiset IS the true top-5 count
    * multiset (item identity among boundary ties is sketch-internal, so
    * the multiset is the strongest deterministic claim). Exact top-5 plans
    * as TakeOrderedAndProject (per-partition top-k, no full sort); the
    * row_number window then runs over those 5 rows only.
    */
  def x4bApproxTopUsersBound(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"))
    val top5 = counts.orderBy(col("cnt").desc, col("user_id")).limit(5)
    val ranked = top5.withColumn(
      "rnk",
      // single-partition window is fine HERE: its input is the 5-row
      // TakeOrderedAndProject result, not the table
      row_number().over(Window.orderBy(col("cnt").desc, col("user_id"))).cast("long")
    )
    val sketchAgree = CoreQueries
      .x4ApproxTopUsers(spark, dir)
      .join(counts.withColumnRenamed("cnt", "exact_cnt"), "user_id")
      .agg(
        min(col("cnt") === col("exact_cnt")).as("items_exact"),
        count(lit(1)).as("n_matched"),
        sort_array(collect_list(col("cnt")), asc = false).as("ac")
      )
    val exactMultiset = top5.agg(sort_array(collect_list(col("cnt")), asc = false).as("ec"))
    ranked
      .crossJoin(broadcast(sketchAgree))
      .crossJoin(broadcast(exactMultiset))
      .select(
        col("rnk"),
        col("user_id"),
        col("cnt"),
        (col("items_exact") && col("n_matched") === 5 && col("ac") === col("ec"))
          .as("within_bound")
      )
      .orderBy("rnk")
  }

  /** DQ3B — dq3's HLL column profile vs dq1's exact profile: per column,
    * the exact `(n_rows, n_nonnull, n_distinct)` plus the 5% distinct
    * bound ProfileSpec pins. Counts (`n_rows`, `n_nonnull`) are exact in
    * BOTH dq1 and dq3 — only the distinct estimate carries sketch error —
    * so the companion's exact columns double-check dq3's count path too.
    */
  def dq3bProfileEventsBound(spark: SparkSession, dir: String): DataFrame = {
    // Two separate aggregation passes JOINED, kept deliberately (r21
    // optimization note): folding the HLL sketches into the exact pass
    // ("one scan") was tried and measured 2.7 -> 9.2 s — the imperative
    // HLL buffers push the whole Expand x7 aggregation off the codegen
    // HashAggregate path into a sort-based fallback, which costs far more
    // than the second scan of a column-pruned table ever did.
    val exact  = Profile.profileEvents(spark, dir)
    val approx = Profile
      .profileEventsApprox(spark, dir)
      .select(col("col_name"), col("n_distinct_approx"))
    exact
      .join(approx, "col_name")
      .select(
        col("col_name"),
        col("n_rows"),
        col("n_nonnull"),
        col("n_distinct"),
        (abs(col("n_distinct_approx") - col("n_distinct")) <=
          greatest(lit(1L), (col("n_distinct") * 0.05).cast("long"))).as("within_bound")
      )
      .orderBy("col_name")
  }
}
