package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import scala.util.Try

/** Build-once derived-layout cache — the shared mechanism behind the
  * persisted MinHash index ([[graft.operators.Dedup.minhashIndexCache]]),
  * the IVF-partitioned vector layout
  * ([[graft.operators.Similarity.ivfLayoutCache]]), and the day-partitioned
  * events copy ([[graft.operators.Prep.dayPartitionedEventsCache]]).
  *
  * The cache key is a CONTENT fingerprint, not just the source path: a
  * digest over the source's recursive file listing (name, length,
  * modification time) plus a caller-supplied scheme tag (parameters + a
  * version constant). Regenerating the data under the same path, or
  * changing the signature scheme, therefore changes the key and forces a
  * rebuild — a stale index silently matched against fresh data is the one
  * failure mode a derived-layout cache must make impossible (a dedup index
  * that misses duplicates gives no error, just quietly worse data).
  * Listing-digest cost is O(files) driver-side metadata calls — no data
  * scan, same order of work as the `_SUCCESS` probe itself.
  *
  * RETENTION: content keys mean every source edit mints a NEW directory and
  * orphans the old one, so an unswept cache grows without bound (observed:
  * ~500 dirs after one test night). Each successful build therefore triggers
  * [[sweepPrefix]] for its own prefix — keep the `graft.layout.keep`
  * most-recently-USED layouts (reuse touches `_SUCCESS`, making the policy
  * LRU, not build-time FIFO), delete the rest, and never delete a
  * `_SUCCESS`-less directory younger than `graft.layout.grace.ms` (it may be
  * a build in progress on another session; older than the grace period it is
  * an abandoned half-build and goes). [[sweep]] applies the same policy to
  * every layout prefix under the root for explicit maintenance.
  */
object LayoutCache {

  /** Directory all derived layouts live under — the `graft.layout.dir`
    * session knob. The default, `java.io.tmpdir`, suits single-node
    * evaluation only; a real deployment points this at durable shared
    * storage (an ingest artifact must outlive the node that built it).
    */
  def root(spark: SparkSession): String =
    graft.GraftConf.string(spark, "layout.dir", sys.props("java.io.tmpdir"))

  // In-process record of layout BUILDS (name -> seconds inside the build
  // closure). [[graft.Bench]] drains this to report, per bench run, which
  // layouts were built vs reused and what each build cost — the round-7
  // lesson that a bench number is unexplainable when in-band layout builds
  // are invisible.
  private val buildLog = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  /** Per-thread side channel for [[graft.Layouts.buildAll]]'s CONCURRENT
    * forcers: when a thread installs a buffer here, every build it performs
    * (including transitive dependency builds on the same thread) is also
    * appended to that buffer, giving per-forcer attribution without the
    * drain-between-forcers protocol that only worked sequentially.
    */
  private[graft] val threadBuildEvents =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[(String, Double)]]

  private[graft] def recordBuild(name: String, secs: Double): Unit = {
    buildLog.synchronized { buildLog += (name -> secs); () }
    val te = threadBuildEvents.get()
    if (te != null) { te += (name -> secs); () }
  }

  /** Per-layout-path in-JVM build locks: two threads forcing layouts that
    * share a dependency (e.g. lss_table and lss_tombstoned both pulling
    * span_artifacts) must not both run the build closure for one output
    * directory — the loser waits, re-checks `_SUCCESS`, and reuses. Cross-
    * process exclusion stays what it was (the grace-window discipline).
    */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Return and clear the build events recorded since the last drain. */
  def drainBuildLog(): Seq[(String, Double)] =
    buildLog.synchronized { val r = buildLog.toList; buildLog.clear(); r }

  /** 12-hex digest of `scheme` + the recursive file listing under `src`
    * (each file contributes its path RELATIVE to `src`, byte length, and
    * mtime; directories recurse in sorted order). The relative path — not
    * just the base name — must enter the digest: for a hive-partitioned
    * source the partition VALUES live in directory names (`day=2024-01-02/
    * part-0.parquet`), so a partition-directory rename changes every row
    * while leaving each file's name/length/mtime untouched. Digesting
    * names only would serve a stale layout for exactly that edit.
    */
  def contentKey(spark: SparkSession, src: String, scheme: String): String =
    Tables.listing(spark, src, salt = s"$scheme#$src")._1.take(12)

  /** Return `<root>/<prefix>_<key>`, running `build` first iff the
    * layout's `_SUCCESS` guard is absent. `markSuccess = false` is for
    * builds whose Spark write commits `_SUCCESS` at the layout root itself;
    * multi-output builds keep the default and get the marker only after
    * every write committed (a half-built layout is retried, never reused).
    * A reuse touches the `_SUCCESS` mtime (LRU signal for [[sweepPrefix]]);
    * a fresh build sweeps its own prefix so the cache stays bounded.
    */
  def getOrBuild(spark: SparkSession, prefix: String, key: String, markSuccess: Boolean = true)(
      build: String => Unit
  ): String = {
    val out     = new Path(root(spark), s"${prefix}_$key")
    val fs      = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val success = new Path(out, "_SUCCESS")
    if (fs.exists(success)) {
      // best-effort: a filesystem that refuses setTimes degrades to FIFO
      Try(fs.setTimes(success, System.currentTimeMillis(), -1))
    } else {
      buildLocks.computeIfAbsent(out.toString, _ => new Object).synchronized {
        // double-check under the lock: a concurrent forcer may have built
        // this exact layout while we waited
        if (fs.exists(success)) {
          Try(fs.setTimes(success, System.currentTimeMillis(), -1))
        } else {
          val t0 = System.nanoTime()
          build(out.toString)
          if (markSuccess) fs.create(success).close()
          recordBuild(s"${prefix}_$key", (System.nanoTime() - t0) / 1e9)
          // a rebuild means any analyzed-plan cache entry under this dir
          // (from a prior half-build or a swept-then-rebuilt key) snapshots
          // a dead file listing — drop them before anyone reads the layout
          Tables.invalidate(out.toString)
          sweepPrefix(spark, prefix)
        }
      }
    }
    out.toString
  }

  /** Retention sweep for one layout prefix: among `<root>/<prefix>_<12-hex>`
    * directories, keep the `graft.layout.keep` (default 4) whose `_SUCCESS`
    * is most recently touched, delete the older complete ones, and delete
    * `_SUCCESS`-less directories only when their own mtime is older than
    * `graft.layout.grace.ms` (default 1 h) — a concurrent build writes files
    * and keeps its directory mtime fresh, so a live build inside the grace
    * window is never reaped. Returns the deleted paths. The key-shape match
    * is exact, so sweeping `graft_mhclusters` never touches
    * `graft_mhclusters_half_*`.
    */
  def sweepPrefix(spark: SparkSession, prefix: String): Seq[String] = {
    val keep    = graft.GraftConf.int(spark, "layout.keep", 4)
    val graceMs = graft.GraftConf.int(spark, "layout.grace.ms", 3600000).toLong
    require(keep >= 1, s"graft.layout.keep=$keep must be >= 1")
    val rootP = new Path(root(spark))
    val fs    = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return Nil
    val re  = ("^" + java.util.regex.Pattern.quote(prefix) + "_[0-9a-f]{12}$").r
    val now = System.currentTimeMillis()
    val dirs = fs
      .listStatus(rootP)
      .filter(st => st.isDirectory && re.findFirstIn(st.getPath.getName).isDefined)
    // Try() everywhere a concurrent sweep/build could remove an entry
    // between the listing and the stat — losing a race is fine, crashing
    // the build that triggered the sweep is not.
    val (complete, partial) =
      dirs.partition(st => Try(fs.exists(new Path(st.getPath, "_SUCCESS"))).getOrElse(false))
    val staleComplete = complete
      .flatMap(st =>
        Try(fs.getFileStatus(new Path(st.getPath, "_SUCCESS")).getModificationTime).toOption
          .map(t => (st.getPath, t))
      )
      .sortBy(-_._2)
      .drop(keep)
      .map(_._1)
    val stalePartial =
      partial.filter(st => now - st.getModificationTime > graceMs).map(_.getPath)
    val stale = staleComplete ++ stalePartial
    stale.foreach { p =>
      Try(fs.delete(p, true))
      Tables.invalidate(p.toString) // cached plans over a deleted dir are dead
    }
    stale.map(_.toString).toSeq
  }

  /** Apply [[sweepPrefix]] to every layout prefix under the root (any
    * directory shaped `graft_*_<12-hex>`). For explicit maintenance — e.g.
    * a deployment cron or the start of a bench run. Returns deleted paths.
    */
  def sweep(spark: SparkSession): Seq[String] = {
    val rootP = new Path(root(spark))
    val fs    = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return Nil
    val re = "^(graft_.+)_[0-9a-f]{12}$".r
    val prefixes = fs
      .listStatus(rootP)
      .iterator
      .filter(_.isDirectory)
      .flatMap(st => re.findFirstMatchIn(st.getPath.getName).map(_.group(1)))
      .toSet
    prefixes.toSeq.sorted.flatMap(p => sweepPrefix(spark, p))
  }
}
