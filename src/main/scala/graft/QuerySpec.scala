package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: every fact about it in one row, read by every
  * surface — the runner (Bench, Runner, Verify, ExplainDump), its DuckDB
  * oracle (`oracle_sql.json`), the layouts a subset run must force first,
  * and how it behaves on an all-empty dataset.
  *
  * @param layouts    [[Layouts.forcers]] names whose layouts the query reads
  * @param emptyInput `Throws(reason)` only where zero input rows are an
  *                   upstream failure the query must not mask
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: QuerySpec.Oracle,
    layouts: Seq[String] = Nil,
    emptyInput: QuerySpec.EmptyInput = QuerySpec.Degrades
)

object QuerySpec {
  sealed trait Oracle
  /** DuckDB SQL over the sf tables whose rows must hash-match the query's. */
  final case class Sql(text: String) extends Oracle
  /** No relational twin exists; `reason` says what gates the query instead. */
  final case class NoOracle(reason: String) extends Oracle

  sealed trait EmptyInput
  case object Degrades extends EmptyInput
  final case class Throws(reason: String) extends EmptyInput

  /** `rows`, rejected if two share a name — a `Map` literal would keep the
    * last and silently drop the other.
    */
  def registry(rows: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    rows
  }
}
