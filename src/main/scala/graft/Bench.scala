package graft

import scala.jdk.CollectionConverters._

/** Benchmark main — times every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints ONE JSON line:
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`,
  * which it also writes to `SPARK_GRAFT_BENCH_OUT` (default
  * `BENCH_FULL.json`) so the full per-query record survives any stdout
  * truncation; the FINAL stdout line is a tail-budget-sized digest of the
  * same run (headline, environment sentinel, failures, slowest-10).
  *
  * Methodology mirrors the reference's stopwatch instrumentation
  * (`QueryOrchestration.cs:425-439`): one JVM-warmup action first, then an
  * explicit LAYOUT PHASE ([[Layouts.buildAll]]) forcing the derived layouts
  * the selected [[QuerySpec]] rows declare — each build separately timed and
  * flagged built-vs-reused in the JSON (`layout_phase_secs` / `layouts`) —
  * then each query is timed end-to-end (plan + execute + collect) against
  * warm layouts. `collect()` rather than `count()` so column pruning cannot skip
  * the projected work; all query results are small (aggregates / top-k /
  * per-doc stats).
  *
  * A query that throws is NOT silently folded into the total: it reports
  * -1 in the queries map and is listed under "failed" — a broken operator
  * must never read as a fast one.
  *
  * Each query is timed `Reps` (3) times and the `queries` map reports the
  * per-query MEDIAN; the parallel `spread` map carries `{med,min,max}`.
  * Rationale: the committed single-shot record diverged ~1.5x from
  * reproducible numbers twice (r7, r9) under co-tenant load, concentrated
  * in whichever queries happened to collide with the noise. A median of
  * three absorbs one bad interval, and a recorded max >> med flags the
  * remaining outliers as environmental rather than structural. The
  * reference applies the same repeat-and-compare methodology across its
  * cold/warm run pairs (`QueryOrchestration.cs:425-439`). The first rep
  * is also kept on its own (`spread.<q>.first`): it is the cold figure
  * (fresh plan, first codegen) that the median hides.
  *
  * Per-query execution counters ([[Measure.Counters]]: jobs, stages,
  * tasks, task/CPU/GC seconds, shuffle, spill and codegen compiles) land
  * in the full record's `counters` map, averaged over the reps. The
  * [[Measure]] listener stays attached for the whole run; its bus drain
  * and snapshot run between queries, outside the timed reps. The full
  * record's `jvm` entry holds the Metaspace pool's used and committed MB
  * and the JVM's total codegen compiles, read after the query section.
  *
  * A layout built DURING the query section is one the layout phase missed:
  * `late_builds` maps each query that built one to `{layout dir: secs}`,
  * drained after the query's reps, outside the timed region — so a missing
  * `layouts` declaration names the query that lacks it.
  *
  * Usage: `runMain graft.Bench [queryName ...]` — names select a subset,
  * and a subset forces only its own rows' layouts (the sentinels still run
  * in full); an unknown name exits 2.
  */
object Bench {
  /** One query's record: median/min/max/first-rep seconds (all -1 when the
    * first rep failed), its per-rep counter averages and the layouts it
    * built (layout dir -> build seconds).
    */
  private final case class QueryRun(name: String, med: Double, min: Double, max: Double, first: Double,
      counters: Option[Measure.Counters], lateBuilds: Seq[(String, Double)])

  def main(args: Array[String]): Unit = {
    if (SparkEntry.unknownQueries(args.toSeq).nonEmpty) sys.exit(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    Measure.listener(spark) // attached for the whole run
    val selected = SparkEntry.registry.sortBy(_.name).filter(r => args.isEmpty || args.contains(r.name))

    // JVM/codegen warmup on a trivial plan plus one 1-row touch of each
    // table family (parquet reader + vectorized decode init) — without the
    // latter, the first query in alphabetical order silently absorbs
    // one-time costs and reads ~3x slower than its steady state.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("events", "documents", "embeddings", "lineitem", "orders").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
      catch { case scala.util.control.NonFatal(_) => () } // fatal JVM errors must abort, not mislead
    }

    // In-band ENVIRONMENT SENTINEL: two fixed probes whose cost is
    // independent of the corpus and the code under test, stamped into the
    // record so a degraded host self-identifies. Two consecutive rounds
    // (r12, r13) needed forensic adjudication of uniform 1.3× inflation
    // across untouched queries; with the sentinel the comparison is
    // mechanical: queries inflated while BOTH probes flat ⇒ code
    // regression; single-thread flat but shuffle probe inflated ⇒
    // co-tenant multicore contention (the r13 signature); both inflated ⇒
    // throttled/steal-heavy host. Probes run after JVM warmup and BEFORE
    // the layout phase, so they measure the host, not our cache state.
    //
    // SENTINEL GATE (VERDICT r17 item 1): the r17 scoreboard carried a
    // 325.7 s loaded-host record (shuffle probe 4.237 vs the 1.6–2.4 s
    // quiet band across every committed record) that needed a full manual
    // re-adjudication. Nothing *acted* on the out-of-band probe — the gate
    // now does: if the pre-run probes are out of band, back off and
    // re-probe up to `SPARK_GRAFT_SENTINEL_RETRIES` (default 4) times,
    // waiting for the host to quiet down before spending ~2 min of bench.
    // A post-run probe catches load that ARRIVED mid-bench (the r17
    // signature was intra-run contention spikes). `degraded_host` is true
    // iff pre (after retries) or post is out of band — downstream tooling
    // (close_gate.sh) treats a degraded record as retryable, and
    // adjudication never again has to infer host state from query deltas.
    // Band thresholds are the committed-record envelope + headroom
    // (BASELINE.md §sentinel): quiet shuffle probe has never exceeded
    // 2.4 s, single-thread never 2.65 s, across 5 rounds of records.
    val shuffleMax = sys.env.get("SPARK_GRAFT_SENTINEL_SHUFFLE_MAX").map(_.toDouble).getOrElse(2.6)
    val singleMax  = sys.env.get("SPARK_GRAFT_SENTINEL_ST_MAX").map(_.toDouble).getOrElse(2.8)
    def inBand(s: (Double, Double)): Boolean = s._1 <= singleMax && s._2 <= shuffleMax
    val probeRetries = sys.env.get("SPARK_GRAFT_SENTINEL_RETRIES").map(_.toInt).getOrElse(4)
    var sentinel         = sentinelProbes(spark)
    var sentinelAttempts = 1
    while (!inBand(sentinel) && sentinelAttempts <= probeRetries) {
      val backoffSecs = 15L << (sentinelAttempts - 1) // 15, 30, 60, 120
      System.err.println(
        f"[bench] sentinel out of band (st=${sentinel._1}%.3f shuffle=${sentinel._2}%.3f; " +
          f"band st<=$singleMax%.1f shuffle<=$shuffleMax%.1f) — backing off ${backoffSecs}s " +
          s"(attempt $sentinelAttempts/$probeRetries)"
      )
      Thread.sleep(backoffSecs * 1000L)
      sentinel = sentinelProbes(spark)
      sentinelAttempts += 1
    }

    var membwPre = membwLast
    // Layout pre-build: force the selected rows' derived layouts in an
    // explicit, separately-timed phase (the reference's cold/warm split,
    // QueryOrchestration.cs:425-439, applied at the layout level). Without
    // this, whichever query first touches a cold layout silently absorbs
    // its build — the round-7 149.8s-vs-76.8s discrepancy. The query
    // section below therefore measures warm layouts by construction, and
    // the JSON records what each build cost and whether it ran at all.
    val lt0     = System.nanoTime()
    val layouts = Layouts.buildAll(spark, sfDir, selected.flatMap(_.layouts).toSet)
    val layoutPhaseSecs = (System.nanoTime() - lt0) / 1e9

    val Reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    // A first-rep failure records -1 and skips the remaining reps — a
    // broken operator costs one attempt, not three, and still reads as
    // failed.
    def measureQueries(): Seq[QueryRun] =
      selected.map { row =>
        val name = row.name
        def once(): Double = {
          val t0 = System.nanoTime()
          row.run(spark, sfDir).collect()
          (System.nanoTime() - t0) / 1e9
        }
        val before = Measure.snapshot(spark)
        val times =
          try {
            val first = once()
            first +: (2 to Reps).map(_ => once())
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] $name failed: $e"); Seq.empty[Double]
          }
        val late = graft.sources.LayoutCache.drainBuildLog()
        if (times.isEmpty) QueryRun(name, -1.0, -1.0, -1.0, -1.0, None, late)
        else {
          val perRep = (Measure.snapshot(spark) - before) / times.size
          val sorted = times.sorted
          QueryRun(name, sorted(sorted.size / 2), sorted.head, sorted.last, times.head, Some(perRep), late)
        }
      }
    var results = measureQueries()
    // Post-run probe: pre-run quiet does not prove the QUERY SECTION ran
    // quiet (the r17 record's contention arrived mid-run). WHOLE-RUN RETRY
    // (VERDICT r19 item 5): the pre-run gate cannot see load that arrives
    // mid-run, and close_gate's retry only covers close records — the bare
    // `runMain graft.Bench` the driver invokes kept landing degraded. When
    // the post-run probe is out of band, back off, re-gate the pre-probe,
    // and re-measure the query section (layouts already warm) up to
    // `SPARK_GRAFT_RUN_RETRIES` (default 1) times; the kept record is the
    // last attempt, bracketed by ITS OWN probe pair.
    var sentinelPost = sentinelProbes(spark)
    val runRetries   = sys.env.get("SPARK_GRAFT_RUN_RETRIES").map(_.toInt).getOrElse(1)
    var runAttempts  = 1
    while (!inBand(sentinelPost) && runAttempts <= runRetries) {
      System.err.println(
        f"[bench] post-run sentinel out of band (st=${sentinelPost._1}%.3f " +
          f"shuffle=${sentinelPost._2}%.3f) — mid-run load; retrying the query section " +
          s"(attempt ${runAttempts + 1}/${runRetries + 1})"
      )
      Thread.sleep(60000L)
      sentinel = sentinelProbes(spark)
      var a = 1
      while (!inBand(sentinel) && a <= probeRetries) {
        val backoffSecs = 15L << (a - 1)
        System.err.println(
          f"[bench] retry pre-probe out of band (st=${sentinel._1}%.3f " +
            f"shuffle=${sentinel._2}%.3f) — backing off ${backoffSecs}s"
        )
        Thread.sleep(backoffSecs * 1000L)
        sentinel = sentinelProbes(spark)
        a += 1
        sentinelAttempts += 1
      }
      // the discarded attempt's late builds are a pre-build-gap signal the
      // kept record would otherwise silently drop (ADVICE r20) — log them
      results.filter(_.lateBuilds.nonEmpty).foreach { r =>
        System.err.println(
          s"[bench] attempt $runAttempts late_builds of ${r.name} (discarded with its measurements): " +
            r.lateBuilds.map { case (n, s) => f"$n=$s%.3f" }.mkString(", ")
        )
      }
      membwPre = membwLast // the retry's own pre-probe pair brackets the kept attempt
      results = measureQueries()
      sentinelPost = sentinelProbes(spark)
      runAttempts += 1
    }
    // JVM cost of the run, read after the query section and outside every
    // timed region: Metaspace holds the generated classes the codegen
    // cache keeps alive, and `codegen_compiles` counts every class this
    // JVM compiled (warm-up, layouts, queries, probes).
    val metaspace = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage)
    val jvmJson =
      f"""{"metaspace_used_mb":${metaspace.fold(-1.0)(_.getUsed / 1048576.0)}%.1f,""" +
        f""""metaspace_committed_mb":${metaspace.fold(-1.0)(_.getCommitted / 1048576.0)}%.1f,""" +
        f""""codegen_compiles":${Measure.snapshot(spark).compiles}}"""
    val qs = results
      .map(r => "\"" + r.name + "\":" + f"${r.med}%.3f")
      .mkString("{", ",", "}")
    val spreadJson = results
      .map(r =>
        "\"" + r.name + "\":{" + f""""med":${r.med}%.3f,"min":${r.min}%.3f,"max":${r.max}%.3f,"first":${r.first}%.3f}"""
      )
      .mkString("{", ",", "}")
    val countersJson = results
      .collect { case QueryRun(k, _, _, _, _, Some(c), _) =>
        "\"" + k + "\":" +
          f"""{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_s":${c.taskMs / 1e3}%.3f,""" +
          f""""cpu_s":${c.cpuMs / 1e3}%.3f,"gc_s":${c.gcMs / 1e3}%.3f,"shuffle_read_mb":${c.shuffleReadB / 1048576.0}%.3f,""" +
          f""""shuffle_write_mb":${c.shuffleWriteB / 1048576.0}%.3f,"spill_mb":${c.spillB / 1048576.0}%.3f,""" +
          f""""compiles":${c.compiles}}"""
      }
      .mkString("{", ",", "}")
    val failed = results.collect { case r if r.med < 0 => "\"" + r.name + "\"" }
    val total  = results.map(_.med).filter(_ >= 0).sum
    val lateBuilds = results
      .filter(_.lateBuilds.nonEmpty)
      .map(r =>
        "\"" + r.name + "\":" + r.lateBuilds.map { case (n, s) => "\"" + n + "\":" + f"$s%.3f" }.mkString("{", ",", "}")
      )
      .mkString("{", ",", "}")
    val layoutJson = layouts
      .map(r =>
        "\"" + r.name + "\":{\"built\":" + r.built + ",\"secs\":" + f"${r.buildSecs}%.3f" + "}"
      )
      .mkString("{", ",", "}")
    // Explicit cold/warm tag so the headline `value` is never compared
    // across incompatible runs (ADVICE r8): "warm" = zero layout builds,
    // i.e. the query section measured reused layouts only; anything else
    // is "cold" and its total includes no build time either — builds live
    // exclusively in layout_phase_secs — but page/OS cache state differs.
    // A RETRIED query section is warm by construction — every query
    // already ran a full set of reps, so page cache and JIT state are
    // warmer than any first-pass cold record even if the layout phase
    // built; keeping attempt 1's "cold" tag would invite exactly the
    // cross-incompatible-run comparison the tag exists to prevent.
    val mode =
      if (runAttempts > 1) "warm"
      else if (layouts.exists(_.built)) "cold"
      else "warm"
    // A record is degraded if the host was loaded on either side of the
    // KEPT measurement (post-retry, both probes bracket the last attempt).
    val degradedHost = !inBand(sentinel) || !inBand(sentinelPost)
    val sentinelJson =
      f""""sentinel":{"single_thread_secs":${sentinel._1}%.3f,"shuffle_probe_secs":${sentinel._2}%.3f,"membw_probe_secs":$membwPre%.3f},""" +
        f""""sentinel_post":{"single_thread_secs":${sentinelPost._1}%.3f,"shuffle_probe_secs":${sentinelPost._2}%.3f,"membw_probe_secs":$membwLast%.3f},""" +
        f""""sentinel_attempts":$sentinelAttempts,"run_attempts":$runAttempts,"degraded_host":$degradedHost"""
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","mode":"$mode","reps":$Reps,$sentinelJson,"queries":$qs,"spread":$spreadJson,"counters":$countersJson,"failed":${failed
          .mkString("[", ",", "]")},"layout_phase_secs":$layoutPhaseSecs%.3f,"layouts":$layoutJson,"late_builds":$lateBuilds,"jvm":$jvmJson,"sf":"$sfDir"}"""
    println(json)
    // Also WRITE the line: stdout capture has twice truncated the per-query
    // record (BENCH_r05/r06.json were tail fragments) — the round's
    // performance evidence must not depend on a pipe. Overridable so a
    // sweep can keep multiple records side by side.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    // FINAL stdout line = a compact DIGEST that fits the driver's 2000-char
    // tail budget whole. The full record above is ~20 KB for 222 queries,
    // so any fixed-size tail capture slices it mid-line — exactly why
    // BENCH_r12/r13.json carried `parsed: null` and a text fragment.
    // Everything adjudication needs (headline total, mode, sentinel,
    // failures, the 10 slowest queries) fits in ~700 bytes; the complete
    // per-query map lives in the file written above, which is committed
    // with each round.
    val slowest = results
      .filter(_.med >= 0)
      .sortBy(-_.med)
      .take(10)
      .map(r => "\"" + r.name + "\":" + f"${r.med}%.3f")
      .mkString("{", ",", "}")
    val digest =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","mode":"$mode","reps":$Reps,"n_queries":${results.size},$sentinelJson,"failed":${failed
          .mkString("[", ",", "]")},"layout_phase_secs":$layoutPhaseSecs%.3f,"slowest":$slowest,"full":"$outFile","sf":"$sfDir"}"""
    println(digest)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  // 32M longs = 256 MiB, touched every probe call; allocated once so the
  // probe measures traversal bandwidth, not allocation. Initialized with a
  // cheap pattern so the pages are faulted in before the first timing.
  private lazy val membwArr: Array[Long] = {
    val a = new Array[Long](1 << 25)
    var i = 0
    while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }
  @volatile private var membwLast: Double = -1.0

  /** The two environment probes: (single-thread seconds, shuffle-probe
    * seconds).
    *
    *   - Single-thread: 1.2e9 xorshift64 steps of pure JVM register
    *     arithmetic — no allocation, no memory traffic, no Spark — so its
    *     runtime tracks ONE core's effective clock (≈2 s on this class of
    *     host, the "reference loop" BASELINE.md's r13 adjudication used
    *     forensically). Result folds into a sink branch so the JIT cannot
    *     eliminate the loop; a short warm pass runs first so tiering is
    *     settled before timing.
    *   - Shuffle probe: a fixed 16M-row range → hash repartition →
    *     groupBy-count through the real shuffle machinery on all local
    *     cores — corpus-independent by construction (range data), so it
    *     moves only when scheduler/multicore throughput moves (the r13
    *     degradation signature: this inflates, single-thread stays flat).
    */
  private def sentinelProbes(spark: org.apache.spark.sql.SparkSession): (Double, Double) = {
    def xorshift(iters: Long): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    // Third probe, RECORDED but NOT gated (no committed-record envelope to
    // band it against yet — this round establishes the baseline): a fixed
    // 256 MiB sequential long-array sweep, 4 passes ≈ 1 GiB of memory
    // traffic on one thread. Motivation (r22 adjudication of the r21
    // driver record): co-tenant MEMORY-BANDWIDTH pressure inflated exactly
    // the text/media-scan queries 4-11x while BOTH existing probes read
    // quiet — register arithmetic sees no memory, and the shuffle probe's
    // working set mostly sits in cache. This sweep moves when bandwidth
    // does, so that signature self-identifies in the record.
    membwLast = {
      val t = System.nanoTime()
      var pass = 0
      var sink = 0L
      while (pass < 4) {
        var i = 0
        while (i < membwArr.length) { sink += membwArr(i); i += 1 }
        pass += 1
      }
      if (sink == 42L) System.err.println("[bench] membw sink hit")
      (System.nanoTime() - t) / 1e9
    }
    val warmSink = xorshift(30000000L) // JIT warm pass, result consumed below
    val t0 = System.nanoTime()
    val r  = xorshift(1200000000L)
    val st = (System.nanoTime() - t0) / 1e9
    // sink: data-dependent branch the JIT cannot prove dead
    if (r == 42L || warmSink == 42L) System.err.println("[bench] sentinel sink hit")
    import org.apache.spark.sql.functions.col
    val t1 = System.nanoTime()
    spark
      .range(16777216L)
      .selectExpr("id % 97213 AS k")
      .repartition(32, col("k"))
      .groupBy("k")
      .count()
      .count()
    val sh = (System.nanoTime() - t1) / 1e9
    (st, sh)
  }
}
