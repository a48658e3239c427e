package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = Harness.localSession("4")
}

class SmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs at sf0.001 and is non-empty") {
    // All demos are designed non-degenerate at the correctness gate's
    // sf0.01 (asserted below). These TPC-DS conformance slices are too
    // parameter-narrow for sf0.001's ~6k lineitems (single-item /
    // single-brand / single-week predicates over ~1.5k-row channel
    // facts go dry), so zero rows is tolerated at sf0.001 only:
    val emptyOk = Set(
      "tpcds_q3", "tpcds_q6", "tpcds_q14b", "tpcds_q19", "tpcds_q21",
      "tpcds_q24a", "tpcds_q24b", "tpcds_q25", "tpcds_q26", "tpcds_q37",
      "tpcds_q40", "tpcds_q41", "tpcds_q42", "tpcds_q52", "tpcds_q55",
      "tpcds_q60", "tpcds_q64", "tpcds_q66", "tpcds_q71", "tpcds_q80",
      "tpcds_q82", "tpcds_q83", "tpcds_q84")
    // Accumulate every offender (a per-query assert would mask all but
    // the map-iteration-order first).
    val zeros = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n <= 0 && !emptyOk(name)) Some(name) else None
    }
    assert(zeros.isEmpty, s"queries returned 0 rows at sf0.001: $zeros")
  }

  test("sf0.001-exempt queries are non-degenerate at the gate's sf0.01") {
    val emptyOk = Seq(
      "tpcds_q3", "tpcds_q6", "tpcds_q14b", "tpcds_q19", "tpcds_q21",
      "tpcds_q24a", "tpcds_q24b", "tpcds_q25", "tpcds_q26", "tpcds_q37",
      "tpcds_q40", "tpcds_q41", "tpcds_q42", "tpcds_q52", "tpcds_q55",
      "tpcds_q60", "tpcds_q64", "tpcds_q66", "tpcds_q71", "tpcds_q80",
      "tpcds_q82", "tpcds_q83", "tpcds_q84")
    val zeros = emptyOk.filter(name =>
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.01").count() <= 0)
    assert(zeros.isEmpty, s"queries degenerate at sf0.01: $zeros")
  }

  test("oracleSql keys are a subset of queries") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
}
