package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Folder-of-Parquet table model.
  *
  * The reference's sole data abstraction is "the table is the folder": list
  * every blob under a prefix, drop empty ones, union the contents
  * (`BlobCollection.cs:15-30`, `QueryOrchestration.cs:459-462`). Spark's
  * `InMemoryFileIndex` + `FileSourceScanExec` reproduce that wholesale —
  * `spark.read.parquet(dir)` performs listing, empty-file pruning, and the
  * per-file scatter the reference hand-rolls with one task per file split.
  */
object Tables {

  /** Generic table loader: `<dir>/<name>.parquet` may be a single file or a
    * folder of parts — Spark treats both as one table. Reads go through
    * [[cachedRead]], whose listing-digest guard keeps the supported
    * regenerate-the-corpus-in-place flow correct (StaleSpec scenarios).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cachedRead(spark, s"$dir/$name.parquet")

  /** Per-(session, path) cache of ANALYZED reads — every fresh
    * `spark.read.parquet` pays ~0.15 s of file listing + footer/schema
    * inference at plan-construction time (measured in r21),
    * which is pure waste when the path's contents haven't changed (the
    * overwhelmingly common case: content-keyed layouts and the corpus
    * dir). Caching the ANALYZED PLAN only: every action on the returned
    * frame still builds fresh physical RDDs, so no shuffle output or
    * result data is ever reused across actions — this memoizes metadata,
    * not computation.
    *
    * VALIDITY: each hit re-digests the path's recursive listing (relative
    * name, length, mtime — the [[listing]] walk
    * [[LayoutCache.contentKey]] also reads, measured ~1.4 ms against
    * ~150 ms for a fresh analysis) and rebuilds
    * the plan when it moved, so an in-place rewrite (a regenerated corpus,
    * a swept-and-rebuilt layout) can never be served a stale file index —
    * a parquet rewrite mints new part-file names, which the digest always
    * sees regardless of mtime granularity. Keyed by session identity so a
    * restarted session never reuses a dead session's plan (plus a
    * reference-equality guard in case an identity hash is recycled).
    */
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]()

  /** ONE recursive walk of `path`: the MD5 over every file's relative
    * path, length and mtime (directories in sorted name order, after the
    * optional `salt`), and the total listed bytes. Each child's status
    * comes from its parent's `listStatus`; only the root pays a
    * `getFileStatus`. [[listingDigest]], [[LayoutCache.contentKey]] and
    * [[fanOut]]'s byte gate all read this walk.
    */
  private[graft] def listing(spark: SparkSession, path: String, salt: String = ""): (String, Long) = {
    val p  = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(salt.getBytes("UTF-8"))
    def add(st: org.apache.hadoop.fs.FileStatus, rel: String): Long =
      if (st.isDirectory)
        fs.listStatus(st.getPath)
          .sortBy(_.getPath.getName)
          .map(c => add(c, s"$rel/${c.getPath.getName}"))
          .sum
      else {
        md.update(s"$rel#${st.getLen}#${st.getModificationTime}".getBytes("UTF-8"))
        st.getLen
      }
    val bytes = add(fs.getFileStatus(p), "")
    (md.digest().map("%02x".format(_)).mkString, bytes)
  }

  private[graft] def listingDigest(spark: SparkSession, path: String): String = listing(spark, path)._1

  def cachedRead(spark: SparkSession, path: String): DataFrame = {
    val key = s"${System.identityHashCode(spark)}:$path"
    // a listing failure (path gone / permission) falls through to the
    // plain read so callers see Spark's canonical error, not a digest one
    val digest =
      try listingDigest(spark, path)
      catch { case scala.util.control.NonFatal(_) => null }
    val cached = frameCache.get(key)
    if (cached != null && digest != null && cached._1 == digest && (cached._2.sparkSession eq spark))
      cached._2
    else {
      val df = spark.read.parquet(path)
      if (digest != null) frameCache.put(key, (digest, df))
      df
    }
  }

  /** Scale-adaptive FAN-OUT for CPU-heavy operators whose input is too
    * small to parallelize at the scan (guide §2.2/§2.5: a single-task
    * stage is the ultimate straggler). Parquet splits cannot subdivide a
    * row group, so a small input — often ONE row group — serializes every
    * downstream map-side computation (shingling, cosine scoring, regex
    * extraction, Expand aggregation) onto one core no matter how many the
    * cluster has. When the listed input bytes are under
    * `graft.fanout.small.bytes` (default 256 MiB), repartition to
    * `defaultParallelism` before the expensive computation; at or above
    * the threshold the input already carries ≥2 scan splits at the default
    * 128 MB `maxPartitionBytes` and grows with the corpus, so the extra
    * exchange vanishes exactly where it would start to cost — a 100 TB
    * table never pays it, a 2 MB one pays a trivially cheap shuffle to buy
    * the whole cluster. `keys` chooses HASH partitioning (each group's
    * rows land whole in one partition — partial aggregation state stays
    * single-owner). `keys` is REQUIRED non-empty: a key-less round-robin
    * repartition local-sorts the full row (`sortBeforeRepartition`, the
    * retry-determinism guard) — measured 3-18x the aggregation's own CPU —
    * so every fan site names a high-cardinality key instead (any id
    * column; the hash spreads uniformly and needs no sort). Results are
    * unaffected by construction where applied:
    * per-row transforms are partition-independent, and the call sites keep
    * exact aggregation (counts, min/max, distinct, integer/decimal sums)
    * or per-row float scores whose VALUES don't depend on placement —
    * never float accumulation whose result could move at ulp level.
    */
  def fanOut(df: DataFrame, sourcePaths: Seq[String], keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(keys.nonEmpty, "fanOut requires hash keys (round-robin would local-sort the full row)")
    val spark = df.sparkSession
    val smallBytes =
      graft.GraftConf.int(spark, "fanout.small.bytes", 268435456).toLong
    val bytes = sourcePaths.map(listedBytes(spark, _)).sum
    if (bytes >= smallBytes) df
    else df.repartition(spark.sparkContext.defaultParallelism, keys: _*)
  }

  /** Total listed bytes under `path` — the byte count feeding [[fanOut]]'s
    * size gate. A missing path reads as "large" (Long.MaxValue/16): the
    * caller's plan then stays un-fanned and the downstream read reports
    * Spark's canonical error instead of a listing one here.
    */
  private def listedBytes(spark: SparkSession, path: String): Long =
    try listing(spark, path)._2
    catch { case scala.util.control.NonFatal(_) => Long.MaxValue / 16 }

  /** Drop every cached plan whose path starts with `pathPrefix` — called by
    * [[LayoutCache]] when a layout directory is built (a concurrent session
    * may have cached a half-stale listing) or deleted by a retention sweep.
    * The cache key is `<sessionId>:<path>`; the session id is decimal, so
    * the first ':' always terminates it even when the path itself carries
    * colons (`file:/...`).
    */
  private[graft] def invalidate(pathPrefix: String): Unit = {
    val it = frameCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k.substring(k.indexOf(':') + 1).startsWith(pathPrefix)) it.remove()
    }
  }

  /** The `events` table (mirrors the reference's 7-column log table,
    * `QueryOrchestration.cs:418-419`). Its `ts` column is Parquet
    * TIMESTAMP(NANOS); under `spark.sql.legacy.parquet.nanosAsLong=true` it
    * reads as LongType nanos, which we normalize to TimestampType at µs
    * (`timestamp_micros(ts div 1000)`) — the precision the DuckDB oracle
    * compares at. If a future rewrite of the table carries a native
    * timestamp (e.g. after compaction), pass it through untouched.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      // TIMESTAMP_NTZ: the raw column is isAdjustedToUTC=false in the file,
      // and the DuckDB oracle reads it as a naive timestamp — keep the same
      // semantics (and parquet logical type) on our side.
      case LongType =>
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _        => raw
    }
  }

  /** `events` WITHOUT ts normalization — `ts` stays a raw nanos long when
    * the file carries TIMESTAMP(NANOS). Time-filtering queries use this and
    * compare against a nanos literal: a predicate on the *raw column* pushes
    * into the parquet scan (row-group min/max pruning), whereas one on
    * `timestamp_micros(ts div 1000)` wraps the column in an expression and
    * prunes nothing. Conversion is monotone, so filters and min/max commute
    * with it — normalize the (few) result values, not the billions of rows.
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")

  /** Whether this events table carries raw nanos (needs literal conversion). */
  def eventsTsIsNanos(df: DataFrame): Boolean = df.schema("ts").dataType == LongType

  /** `ts` as epoch micros regardless of physical encoding — THE single
    * definition of the µs view for operators that compute on raw time
    * (interval joins, sessionization). Schema changes are handled here or
    * nowhere.
    */
  def tsMicrosCol(eventsDf: DataFrame): org.apache.spark.sql.Column =
    if (eventsTsIsNanos(eventsDf)) expr("ts div 1000")
    else unix_micros(col("ts").cast("timestamp"))

  /** Epoch nanos for a UTC wall-clock instant — the pushable literal.
    * Full nanosecond fidelity (no ms truncation): sub-second literals
    * must not silently widen a pushed range predicate.
    */
  def nanosLiteral(isoUtc: String): Long = {
    val ldt = java.time.LocalDateTime.parse(isoUtc)
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + ldt.getNano
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `partsupp` derivation constants, shared verbatim by [[partsupp]] and
    * the DuckDB oracle CTE (`SparkEntry.partsuppCte`) — the QlContribSql
    * one-definition discipline applied to a whole table.
    */
  val PartSuppPerPart  = 4     // suppliers per part (the TPC-H cardinality)
  val AvailQtyMod      = 9999L // availqty ∈ [1, 9999]
  val CostCentsMod     = 99901L
  val CostCentsMin     = 100L  // supplycost ∈ [1.00, 1000.00] dollars, held in cents

  /** The TPC-H `partsupp` table, DERIVED deterministically from the stored
    * `part` and `supplier` tables (the testdata schema ships without it):
    * each part gets [[PartSuppPerPart]] suppliers at consecutive staggered
    * keys `(p_partkey·4 + i) mod S` — distinct for any supplier count
    * S ≥ 4 — with availqty and supplycost as integer hash mixes of the key
    * pair. ALL columns are integer arithmetic over BIGINT (cost lives in
    * CENTS), so the DuckDB oracle's identical formulas reproduce the table
    * bit-for-bit — the derived-table analogue of the e4-decimal rule, which
    * is what lets the partsupp-dependent TPC-H canon (Q2/Q9/Q11/Q20) carry
    * full hash oracles. Scale shape: 4 rows per part from a narrow
    * projection of `part` (a flatMap-free explode over a 4-literal
    * sequence), never materialized — at 100 TB it would be written once at
    * ingest like any layout, but its generation cost is a rounding error
    * next to one lineitem scan.
    */
  def partsupp(spark: SparkSession, dir: String): DataFrame = {
    // supplier count: one tiny-table aggregate to the driver — the same
    // C-sized coordination budget the IVF centroid reads use
    val s = supplier(spark, dir).count()
    part(spark, dir)
      .select(col("p_partkey"))
      .select(col("p_partkey"), explode(expr(s"sequence(0, ${PartSuppPerPart - 1})")).as("i0"))
      .select(col("p_partkey"), col("i0").cast("long").as("i"))
      .select(
        col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") * PartSuppPerPart + col("i")) % s).as("ps_suppkey"),
        col("i")
      )
      .select(
        col("ps_partkey"),
        col("ps_suppkey"),
        ((col("ps_partkey") * 47L + col("ps_suppkey") * 31L + col("i") * 7L) % AvailQtyMod + 1L).as("ps_availqty"),
        ((col("ps_partkey") * 13L + col("ps_suppkey") * 7L + col("i") * 3L) % CostCentsMod + CostCentsMin).as("ps_cost_cents")
      )
  }
}
