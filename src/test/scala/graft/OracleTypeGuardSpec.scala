package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._
import java.nio.file.{Files, Paths}

/** The HUGEINT class guard. DuckDB widens SUM(BIGINT) to HUGEINT (Arrow
  * decimal128(38,0)); the driver's differential then hash-mismatches against
  * Spark's int64 even when every value matches. Three rounds hit this with
  * three different oracle strings (q33, z1, d30) — this spec plans EVERY
  * `SparkEntry.oracleSqlJson` entry through DuckDB and fails on any decimal output
  * column, so a fourth recurrence dies in `sbt test` instead of a red
  * correctness row. No Spark session needed: the guard is schema-only
  * (LIMIT 0 wrap in tools/oracle_type_guard.py).
  */
class OracleTypeGuardSpec extends AnyFunSuite {

  test("no oracle SQL produces a HUGEINT/decimal output column") {
    val haveDuck = Process(Seq("python3", "-c", "import duckdb")).!(
      ProcessLogger(_ => ())) == 0
    assume(haveDuck, "python3+duckdb not available; guard runs driver-side")
    val tmp = Files.createTempFile("oracle_sql", ".json")
    Files.writeString(tmp, SparkEntry.oracleSqlJson) // the bytes Verify writes
    val out = new StringBuilder
    val code = Process(Seq(
      "python3", "tools/oracle_type_guard.py",
      tmp.toString, "/root/testdata/sf0.001"
    ), new java.io.File(".")).!(ProcessLogger(l => { out.append(l).append('\n'); () }))
    Files.deleteIfExists(tmp)
    assert(code == 0, s"oracle type guard failed:\n$out")
  }
}
