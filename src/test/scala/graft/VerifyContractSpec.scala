package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's structural contracts — the checks that make a
  * half-landed entry (round 14's r08: registered in `queries`, absent
  * from `oracleSql`, unnoticed for a full round) impossible to ship
  * silently again. */
class VerifyContractSpec extends AnyFunSuite {
  test("every catalog key carries a DuckDB oracle or an explicit " +
    "allowlist membership") {
    assert(SparkEntry.orphanKeys() == Set.empty[String],
      "unoracled queries keys — add oracleSql or RowsOnlyAllowlist + " +
        "a golden spec")
  }

  test("the guard actually fires: a synthetic orphan key is reported") {
    assert(SparkEntry.orphanKeys(
      SparkEntry.queries.keys ++ Seq("zz_synthetic_orphan")) ==
      Set("zz_synthetic_orphan"))
  }

  test("allowlist names only real catalog keys") {
    assert(SparkEntry.RowsOnlyAllowlist.subsetOf(SparkEntry.queries.keySet))
  }

  test("oracles never dangle: every oracleSql key is a queries key") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      "an oracle for a nonexistent query would silently test nothing")
  }

  test("phase decompositions decompose real catalog entries") {
    assert(SparkEntry.phases.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every persisted entry's build then serve equals its one-shot " +
    "query at sf0.001") {
    val spark = graft.etl.TestSpark.session
    val sf = "/root/testdata/sf0.001"
    def rows(df: DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toSeq.map {
        case b: Array[Byte] => b.mkString("bytes(", ",", ")")
        case v => String.valueOf(v)
      }.mkString("|")).sorted
    val differ = SparkEntry.phases.toSeq.sortBy(_._1).flatMap {
      case (k, (build, serve)) =>
        val oneShot = rows(SparkEntry.queries(k)(spark, sf))
        build(spark, sf)
        val phased = rows(serve(spark, sf))
        if (phased == oneShot) None
        else Some(s"$k: one-shot ${oneShot.size} rows, phases " +
          s"${phased.size} rows")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }
}
