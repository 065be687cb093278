package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Mirrors the reference's fixed runtime knobs (connection-limit tuning at
  * `Program.cs:16`, UTC timestamps throughout `QueryOrchestration.cs`) as
  * Spark session conf. Set once here so every entry point (Verify, Bench,
  * tests) reads identically:
  *
  *   - `nanosAsLong`: the `events.ts` column is Parquet TIMESTAMP(NANOS),
  *     which Spark 4.x rejects outright; with the flag it arrives as
  *     LongType nanos and [[graft.sources.Tables.events]] normalizes to µs.
  *   - `shuffle.partitions=32`: matches local[32]; on a real cluster this
  *     would scale with executor count (AQE coalesces down when small).
  *   - AQE on: runtime shuffle coalescing + skew-join splitting — the
  *     100 TB safety net for skewed group/join keys.
  *   - `outputTimestampType=TIMESTAMP_MICROS`: written results are hashed
  *     against a DuckDB oracle at µs precision (FIXTURES.md §3).
  *   - `codegen.cache.maxEntries=4000`: Spark's default of 100 entries is
  *     smaller than one pass of a repeated mix, so every warm run evicted
  *     and recompiled its generated classes (Janino, then a fresh JIT): the
  *     five perfbench `pipeline` ops compile about 145 classes per pass and
  *     recompiled about 27 per op. One cold full `Bench` run at sf0.1
  *     compiles 3,213 distinct classes with no bound on the cache (about
  *     1,900 in the query section, the rest in layout builds and warm-up),
  *     so 4000 holds a whole registry sweep with headroom. Cost, at the end
  *     of a full sf0.1 `Bench` run on 4 cores: Metaspace used 194 → 215 MB,
  *     committed 199 → 228 MB. A fixed setting, not a knob.
  */
object GraftSession {
  val defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: String = s"local[$defaultCpus]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Let AQE rewrite a planned sort-merge join to a SHUFFLED HASH join
      // at runtime when every post-shuffle partition of the build side is
      // under this byte threshold (guide §3.1): the rewrite is
      // runtime-size-informed — unlike preferSortMergeJoin=false it can
      // never act on a bad estimate — and scale-adaptive by construction
      // (the trigger is bytes-per-partition, not cluster geometry: a
      // 100 TB join whose partitions exceed 128 MB keeps the spillable
      // sort-merge). Locally this removes the two per-side sorts from
      // every big-big equi-join (inverted-index self-joins, fact-fact
      // joins); bucketed-layout joins have no shuffle stage, so their
      // pinned zero-exchange sort-merge plans are untouched. Default 0
      // (off) upstream; 128 MB is well inside a task's execution memory.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (every TypedImperativeAggregate — the TopK
      // family) falls back to SORT-BASED aggregation after this many
      // distinct keys per partition; the 128 default forces a full sort of
      // the scored stream the bounded TopK buffers exist to avoid (a kNN
      // join's partial agg sees ~n/partitions keys — 6k+ at sf0.1, far
      // past 128). 2^21 keys × a k-entry buffer each stays well inside an
      // executor heap while keeping the hash path for every realistic
      // group count. (knn100 rehearsal finding: the 17.6 GiB spill was
      // this sort, not the aggregation.)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2097152")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Generated-class cache, sized in the header. A static conf: Spark
      // reads it once, from the active session, when CodeGenerator loads.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // static conf; bucketed-table tests and any managed-table DDL land here
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/graft_warehouse")
      // derived-layout root (LayoutCache); env override so a driver run can
      // redirect ingest artifacts without touching code or config files
      .config("graft.layout.dir", sys.env.getOrElse("SPARK_GRAFT_LAYOUT_DIR", sys.props("java.io.tmpdir")))

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
