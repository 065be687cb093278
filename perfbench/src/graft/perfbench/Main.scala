package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.{GraftSession, Layouts, SparkEntry}
import graft.operators.Prep
import graft.sources.LayoutCache

/** One benchmark run in one JVM with one client thread: set-up (session,
  * compaction, layout builds), a first pass over the workload's op mix,
  * a fixed number of warm-up passes, then whole warm passes until
  * `--seconds` of op time is measured. Every op's result in every pass
  * is compared, outside the timed spans, with its first-pass result; the
  * first pass (and any pass that differs from it) is written out for the
  * DuckDB checks. With `--trace 1` a SparkListener and the span recorder run
  * as well and the per-layer figures are written beside the end-to-end ones.
  *
  * Usage: Main --workload W --data DIR --raw DIR --out DIR --seconds S
  *             --trace 0|1 --compact-target-mb N
  */
object Main {

  val ShapeOps: Seq[String] = Seq(
    "q1_total_count", "q2_time_filter_count", "q3_filter_count", "q4_min_max", "q5_max_by",
    "q6_point_filter", "q7_distinct", "q9_star_join",
    "p1_partitioned_time_count", "z1_zorder_range", "z2_bloom_pruned_point"
  )
  val PipelineOps: Seq[String] = Seq(
    "n16_containment_pairs", "s13_knn_join", "t6_bm25_indexed", "d26_source_affinity", "q51_supplier_busy_days"
  )
  // layout families (names from Layouts.forcers) each workload builds at set-up
  val ShapeLayouts    = Seq("events_by_day", "events_zorder", "events_bloom_manifest")
  val PipelineLayouts = Seq("text_postings")
  val CompactedTables = Seq("lineitem", "orders")

  /** One execution of one op: registry call (frame) and collect (exec)
    * times, process CPU, result rows, Catalyst phase times (traced runs),
    * wall-clock bounds and whole-stage codegen compilations. */
  final case class OpSample(op: String, tag: String, frameNs: Long, execNs: Long, cpuNs: Long, rows: Long,
      phases: Map[String, Long], startMs: Long, endMs: Long, compiles: Long) {
    def ns: Long = frameNs + execNs
  }

  private def compiles(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Warm-up passes after the first pass. Under C1-only JIT the pass time
    * levels off after about this many passes on each workload; a fixed count
    * (not a time budget) keeps a slow spell of the host from also cutting
    * the warm-up short. */
  val WarmupPasses = Map("shapes_small" -> 4, "pipeline" -> 1)
  val MaxPassesCap = 1000

  def main(argv: Array[String]): Unit = {
    val a        = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val dataDir  = a("data")
    val rawDir   = a("raw")
    val outDir   = a("out")
    val seconds  = a("seconds").toDouble
    val trace    = a("trace") == "1"
    val targetMb = a("compact-target-mb").toInt
    val (ops, layouts, compacted) = workload match {
      case "shapes_small" => (ShapeOps, ShapeLayouts, CompactedTables)
      case "pipeline"     => (PipelineOps, PipelineLayouts, Nil)
      case other          => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(Paths.get(outDir))
    val tr  = new Tracer(trace)
    val run = tr.open("run", None, "run")

    // ---- set-up: everything up to the first op being ready to run ----
    val setup = tr.open("setup", Some(run), "setup")
    val sess  = tr.open("session", Some(setup), "setup")
    val spark = GraftSession.getOrCreate()
    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    tr.close(sess)
    val compaction = ArrayBuffer.empty[String]
    if (compacted.nonEmpty) {
      val sp = tr.open("prep.compact", Some(setup), "setup")
      compacted.foreach { t =>
        val t0 = System.nanoTime()
        val st = Prep.compact(spark, s"$rawDir/$t", s"$dataDir/$t.parquet", targetMb)
        compaction += s"""{"table":"$t","files_in":${st.inFiles},"bytes_in":${st.inBytes},""" +
          s""""files_out":${st.outFiles},"secs":${(System.nanoTime() - t0) / 1e9}}"""
      }
      tr.close(sp)
    }
    LayoutCache.drainBuildLog()
    val forcers = Layouts.forcers(spark, dataDir).toMap
    layouts.foreach { name =>
      val sp = tr.open(s"layout:$name", Some(setup), "setup")
      forcers(name)()
      tr.close(sp)
    }
    val builds = LayoutCache.drainBuildLog()
    val registry = SparkEntry.queries
    val fns      = ops.map(o => o -> registry(o))
    tr.close(setup)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // ---- passes ----
    val results  = new ResultLog(Paths.get(outDir, "results.jsonl"))
    val firstKey = scala.collection.mutable.Map.empty[String, String]
    var failed   = 0L
    var attempted = 0L
    val errors   = ArrayBuffer.empty[String]
    val osBean   = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def runPass(label: String, parent: Int): Seq[OpSample] = fns.map { case (op, fn) =>
      val tag = s"$label:$op"
      spark.sparkContext.setLocalProperty("perfbench.op", tag)
      val opSpan = tr.open(s"op:$op", Some(parent), tag)
      attempted += 1
      val startMs = System.currentTimeMillis()
      val k0 = compiles()
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      try {
        val fSpan = tr.open("frame", Some(opSpan), tag)
        val df    = fn(spark, dataDir)
        val t1    = System.nanoTime()
        tr.close(fSpan)
        val eSpan = tr.open("execute", Some(opSpan), tag)
        val rows  = df.collect()
        val t2    = System.nanoTime()
        val c1    = osBean.getProcessCpuTime
        tr.close(eSpan)
        tr.close(opSpan)
        val endMs = System.currentTimeMillis()
        // outside the timed span: compare with the first pass, log firsts and deviations
        val text = ResultLog.render(df.schema.fieldNames.toSeq, rows)
        firstKey.get(op) match {
          case None                 => firstKey(op) = text; results.write(op, label, text)
          case Some(k) if k != text => results.write(op, label, text)
          case _                    => ()
        }
        val phases =
          if (trace) df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
          else Map.empty[String, Long]
        OpSample(op, tag, t1 - t0, t2 - t1, c1 - c0, rows.length.toLong, phases, startMs, endMs, compiles() - k0)
      } catch {
        case NonFatal(e) =>
          tr.close(opSpan)
          failed += 1
          errors += s"$tag: ${e.toString.take(300)}"
          OpSample(op, tag, System.nanoTime() - t0, 0L, osBean.getProcessCpuTime - c0, 0L, Map.empty,
            startMs, System.currentTimeMillis(), compiles() - k0)
      } finally spark.sparkContext.setLocalProperty("perfbench.op", null)
    }
    def passNs(s: Seq[OpSample]): Long = s.map(_.ns).sum

    val fpSpan   = tr.open("first_pass", Some(run), "first_pass")
    val first    = runPass("first", fpSpan)
    tr.close(fpSpan)

    val warmSpan = tr.open("warm", Some(run), "warm")
    val warmups  = (0 until WarmupPasses(workload)).map(i => passNs(runPass(s"warmup$i", warmSpan)))
    val passes     = ArrayBuffer.empty[Seq[OpSample]]
    var measuredNs = 0L
    while (measuredNs < seconds * 1e9 && passes.size < MaxPassesCap) {
      val s = runPass(s"warm${passes.size}", warmSpan)
      passes += s
      measuredNs += passNs(s)
    }
    val measured = passes.flatten.toSeq
    tr.close(warmSpan)
    tr.close(run)
    results.close()

    // ---- figures: each op's median over the measured passes, so one
    // execution slowed by a neighbour on the host does not move them ----
    def opMedians(f: OpSample => Double): Seq[Double] =
      ops.map(op => median(measured.filter(_.op == op).map(f).sorted))
    val opMs  = opMedians(_.ns / 1e6)
    val opCpu = opMedians(_.cpuNs / 1e9)
    val e2e = Seq(
      "setup_s"      -> setupS,
      "first_pass_s" -> passNs(first) / 1e9,
      "ops_per_s"    -> ops.size * 1e3 / opMs.sum,
      "op_p50_ms"    -> median(opMs.sorted),
      "cpu_s_per_op" -> opCpu.sum / ops.size
    )
    val perOp = ops.map { op =>
      val warm = measured.filter(_.op == op)
      val ms   = warm.map(_.ns / 1e6).sorted
      val f    = first.find(_.op == op)
      s""""$op":{"first_ms":${fmt(f.map(_.ns / 1e6).getOrElse(0.0))},""" +
        s""""p50_ms":${fmt(median(ms))},"first_compiles":${f.map(_.compiles).getOrElse(0L)},""" +
        s""""warm_compiles":${fmt(warm.map(_.compiles).sum.toDouble / math.max(1, warm.size))}}"""
    }
    val layers = listener match {
      case None => Seq.empty[(String, Double)]
      case Some(l) =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        tr.addJobSpans(l)
        layerFigures(l, measured, builds, first.map(_.compiles).sum)
    }
    val json =
      s"""{"workload":"$workload","attempted":$attempted,"failed":$failed,""" +
        s""""warmup_passes":${warmups.size},"measured_passes":${passes.size},"measured_ops":${measured.size},""" +
        s""""warmup_pass_ms":[${warmups.map(p => fmt(p / 1e6)).mkString(",")}],""" +
        s""""pass_ms":[${passes.map(p => fmt(passNs(p) / 1e6)).mkString(",")}],""" +
        s""""e2e":{${e2e.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")}},""" +
        s""""per_op":{${perOp.mkString(",")}},""" +
        s""""layers":{${layers.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")}},""" +
        s""""builds":[${builds.map { case (k, v) => s"""{"name":"$k","secs":${fmt(v)}}""" }.mkString(",")}],""" +
        s""""compaction":[${compaction.mkString(",")}],""" +
        s""""errors":[${errors.map(ResultLog.quote).mkString(",")}]}"""
    Files.write(Paths.get(outDir, "jvm.json"), json.getBytes(StandardCharsets.UTF_8))
    if (trace) tr.write(Paths.get(outDir, "spans.json"))
    spark.stop()
  }

  private def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else if (xs.size % 2 == 1) xs(xs.size / 2)
    else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  /** Per-layer figures over the measured warm ops, from the listener's
    * per-op aggregates, the Catalyst phase tracker, the layout build log and
    * the JVM's MXBeans. */
  private def layerFigures(
      l: LayerListener,
      ops: Seq[OpSample],
      builds: Seq[(String, Double)],
      firstPassCompiles: Long
  ): Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    val n    = math.max(1, ops.size).toDouble
    val aggs = ops.map(o => l.agg(o.tag))
    def per(f: OpAgg => Double): Double = aggs.map(f).sum / n
    def phase(p: String): Double = ops.map(_.phases.getOrElse(p, 0L)).sum / n
    val frames  = ops.map(_.frameNs / 1e6).sorted
    val outside = ops.map(o => (o.endMs - o.startMs) - l.jobCoverMs(o.tag, o.startMs, o.endMs))
    val resultRows = math.max(1L, ops.map(_.rows).sum)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val mb = 1024.0 * 1024.0
    Seq(
      "sources.frame_ms"         -> median(frames),
      "catalyst.analysis_ms"     -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms"     -> phase("planning"),
      "codegen.compiles"         -> firstPassCompiles.toDouble,
      "codegen.warm_compiles_per_op" -> ops.map(_.compiles).sum / n,
      "jvm.jit_ms"               -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "sched.jobs_per_op"        -> per(_.jobs),
      "sched.stages_per_op"      -> per(_.stages),
      "sched.tasks_per_op"       -> per(_.tasks),
      "sched.outside_jobs_ms"    -> outside.sum / n,
      "exec.task_s_per_op"       -> per(_.runMs) / 1e3,
      "exec.cpu_s_per_op"        -> per(_.cpuNs) / 1e9,
      "exec.gc_s_per_op"         -> per(_.gcMs) / 1e3,
      "scan.mb_per_op"           -> per(_.inBytes) / mb,
      "scan.rows_per_op"         -> per(_.inRecords),
      "scan.rows_per_result"     -> aggs.map(_.inRecords).sum / resultRows,
      "shuffle.write_mb_per_op"  -> per(_.shWrite) / mb,
      "shuffle.read_mb_per_op"   -> per(_.shRead) / mb,
      "shuffle.spill_mb_per_op"  -> per(_.spill) / mb,
      "layouts.built"            -> builds.size.toDouble,
      "layouts.build_s"          -> builds.map(_._2).sum,
      "jvm.gc_s"                 -> gcMs / 1e3,
      "jvm.heap_peak_mb"         -> heapPeak / mb
    )
  }
}
