package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump only those
    // (local iteration on a new operator without re-running the registry).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q.split(",").map(_.trim).filter(_.nonEmpty).toSet))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [query1,query2,...]")
        sys.exit(2) // : Nothing — unifies the match without a dummy value
    }
    if (only.exists(names => SparkEntry.unknownQueries(names.toSeq.sorted).nonEmpty)) sys.exit(2)
    val spark = GraftSession.getOrCreate()
    // The oracle SQL bakes in every knob's REGISTERED DEFAULT (n21/n22
    // inline graft.dhash.pair_cap=16, n19 inlines lss.max_tokens=16 and
    // the 3-token shingle width, ...), so a gate run under a retuned
    // session knob produces false FAILs that look like code bugs with no
    // hint that the knob diverged. Refuse to run with any semantic
    // graft.* override set; path knobs don't affect results.
    // graft.fixtures.dir is NOT exempt since r19: the engine no longer
    // reads it (fixtures resolve through the JVM-level graft.Fixtures),
    // so a session setting it believes in an override that does nothing —
    // refuse loudly instead of gating against the wrong expectation.
    val nonSemantic = Set("graft.layout.dir")
    val tuned = spark.conf.getAll.keys.filter(k => k.startsWith("graft.") && !nonSemantic(k)).toSeq.sorted
    require(
      tuned.isEmpty,
      s"Verify is the registered-default gate; unset these graft.* knobs " +
        s"(the oracle SQL inlines their defaults): ${tuned.mkString(", ")}"
    )
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) => // an OOM must abort the run, not read as a missing output
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
