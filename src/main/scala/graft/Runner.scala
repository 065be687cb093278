package graft

import org.apache.spark.sql.SparkSession

/** Reference-style console runner (mirrors `Program.cs` → `QueryOrchestration
  * .RunAsync`): execute named queries from the registry against a data
  * folder, printing each result and its cold/warm timings — the reference's
  * dual-run methodology (`QueryOrchestration.cs:425-439`) where cold is the
  * first action and warm an immediate repeat.
  *
  * Like the reference, a run can be driven by a CONFIG FILE instead of
  * arguments (`Program.cs:44-54` deserializes a YAML `RootConfiguration` of
  * data folder + query selection, `Config/RootConfiguration.cs:10-23`): a
  * java-properties file mapping the same three knobs onto the registry —
  * point the engine at a folder and pick queries without recompiling.
  *
  * {{{
  * # graft.conf
  * data.dir   = /root/testdata/sf0.01
  * queries    = q1_total_count, q9_star_join   # omit to run everything
  * output.dir = /tmp/graft_results             # omit to print to stdout
  * conf.graft.ann.nprobe = 8                   # any conf.* key → session conf
  * conf.graft.minhash.bands = 32
  * }}}
  *
  * `conf.*` keys are applied to the SparkSession conf before any query
  * builds, so the [[GraftConf]] tuning knobs (probe width, LSH banding,
  * shingle/span granularity, BPE merge count — see README's knob table)
  * are reachable from a config file without recompiling, mirroring how
  * the reference exposes engine options through its YAML root config.
  *
  * Usage: `runMain graft.Runner --config <file>`
  *    or: `runMain graft.Runner <sfDir> [queryName ...]`
  * (no names → run every registered query). With `output.dir` set, each
  * result lands as `<output.dir>/<query>.parquet` instead of printing —
  * the batch-job shape, vs the console shape's take(5) preview.
  */
object Runner {

  final case class RunConfig(
      dataDir: String,
      queries: Seq[String],
      outputDir: Option[String],
      conf: Map[String, String] = Map.empty
  )

  /** Parse a java-properties run config. `data.dir` is mandatory; a missing
    * or empty `queries` list means the whole registry; unknown KEYS are an
    * error (a typo like `quries=` must not silently run everything).
    * `conf.<spark-or-graft-key>` entries pass through to the session conf.
    */
  def loadConfig(path: String): RunConfig = {
    val props = new java.util.Properties()
    val in    = new java.io.FileInputStream(path)
    try props.load(in)
    finally in.close()
    val known = Set("data.dir", "queries", "output.dir")
    val keys  = props.stringPropertyNames()
    keys.forEach { k =>
      require(
        known.contains(k) || k.startsWith("conf."),
        s"unknown config key '$k' in $path (known: ${known.toSeq.sorted.mkString(", ")}, conf.*)"
      )
    }
    val dataDir = Option(props.getProperty("data.dir")).map(_.trim).filter(_.nonEmpty)
    require(dataDir.isDefined, s"config $path is missing data.dir")
    val queries = Option(props.getProperty("queries")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val conf = {
      import scala.jdk.CollectionConverters._
      keys.asScala.toSeq
        .filter(_.startsWith("conf."))
        .map(k => k.stripPrefix("conf.") -> props.getProperty(k).trim)
        .toMap
    }
    RunConfig(dataDir.get, queries, Option(props.getProperty("output.dir")).map(_.trim).filter(_.nonEmpty), conf)
  }

  /** Execute `names` (empty → whole registry) against `dataDir`; returns the
    * count of unknown query names (0 = clean run). Testable core — `main`
    * only adds session lifecycle and the exit code.
    */
  def run(spark: SparkSession, dataDir: String, names: Seq[String], outputDir: Option[String]): Int = {
    val toRun   = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    val unknown = SparkEntry.unknownQueries(toRun)
    toRun.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        outputDir match {
          case Some(out) =>
            val t0 = System.nanoTime()
            fn(spark, dataDir).write.mode("overwrite").parquet(s"$out/$name.parquet")
            println(f"== $name: written to $out/$name.parquet in ${(System.nanoTime() - t0) / 1e9}%.3fs")
          case None =>
            // Console mode mirrors the reference's take(5) harness but
            // must time FULL execution honestly: a `limit(N).collect()`
            // pushes the limit into the plan (an orderBy becomes
            // TakeOrderedAndProject, scans early-exit), so for sub-cap
            // results it would time a cheaper plan than the query's
            // real cost. Timed runs therefore go to the noop sink —
            // every operator and column materializes, nothing is
            // limit-pruned, and no rows cross to the driver (a pair
            // table on a degenerate corpus can't OOM the console).
            // The row count and 5-row preview are separate, untimed
            // passes. `output.dir` is the path for full results.
            val df = fn(spark, dataDir)
            val t0 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            val cold = (System.nanoTime() - t0) / 1e9
            val t1   = System.nanoTime()
            fn(spark, dataDir).write.format("noop").mode("overwrite").save()
            val warm  = (System.nanoTime() - t1) / 1e9
            val nRows = fn(spark, dataDir).count()
            println(f"== $name: $nRows rows, cold $cold%.3fs, warm $warm%.3fs (noop-sink timings: full materialization, no driver fetch)")
            fn(spark, dataDir).take(5).foreach(r => println(s"   $r"))
        }
      }
    }
    unknown.size
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Runner --config <file> | Runner <sfDir> [queryName ...]")
    val cfg =
      if (args.head == "--config") {
        require(args.length == 2, "usage: Runner --config <file>")
        loadConfig(args(1))
      } else RunConfig(args.head, args.tail.toSeq, None)
    // conf.* entries go on the BUILDER, not `spark.conf.set` after creation:
    // static SQL confs (spark.sql.extensions, warehouse dir, ...) are
    // rejected or silently ignored once the session exists, and the config
    // file promises "any conf.* key".
    val b = GraftSession.builder()
    cfg.conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val unknown = run(spark, cfg.dataDir, cfg.queries, cfg.outputDir)
    spark.stop()
    if (unknown > 0) sys.exit(2)
  }
}
