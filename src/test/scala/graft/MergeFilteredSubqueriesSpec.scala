package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** `graft.plans.MergeFilteredSubqueries`: filtered scalar subqueries over
  * one relation become FILTER-per-aggregate subqueries over one shared
  * filter, which Spark's `MergeScalarSubqueries` then folds into one scan.
  * Each case compares against the same query with the rule excluded
  * through Spark's own `spark.sql.optimizer.excludedRules`. */
class MergeFilteredSubqueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val rule = "graft.plans.MergeFilteredSubqueries"

  /** A session of its own, with the rule on or excluded. */
  private def session(on: Boolean): SparkSession = {
    val s = spark.newSession()
    if (!on) s.conf.set("spark.sql.optimizer.excludedRules", rule)
    s
  }

  /** Scans, in the optimized plan, of relations with a column `col`.
    * Spark runs identical scalar subqueries once (subquery reuse), so each
    * distinct subquery plan counts once. */
  private def scansOf(df: DataFrame, col: String): Int = {
    def scans(p: LogicalPlan) =
      p.collect { case l: LeafNode if l.output.exists(_.name == col) => l }.size
    val plan = df.queryExecution.optimizedPlan
    val subqueries = plan.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect { case s: SubqueryExpression => s.plan })
    }.flatten
    scans(plan) + subqueries.distinctBy(_.canonicalized).map(scans).sum
  }

  /** Distinct aggregates carrying a FILTER clause, subqueries included. */
  private def filteredAggs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect {
        case e: AggregateExpression if e.filter.isDefined => e
      })
    }.flatten.distinctBy(_.canonicalized).size

  /** `t(q INT, a DECIMAL(7,2), g INT)` as a parquet-backed view (a local
    * relation would fold its filters away): q cycles 1..30, every 7th
    * row has a NULL q, a = q / 4, g = row mod 3. `u` holds the same rows
    * in a directory of its own, so it is a different relation. */
  private def views(s: SparkSession): Unit = {
    val dir = Files.createTempDirectory("graft_mfs").toString
    val rows = s.range(0, 300).selectExpr(
      "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 30 + 1 AS INT) END AS q",
      "CAST((id % 30 + 1) / 4 AS DECIMAL(7,2)) AS a",
      "CAST(id % 3 AS INT) AS g")
    Seq("t", "u").foreach { v =>
      rows.write.parquet(s"$dir/$v")
      s.read.parquet(s"$dir/$v").createOrReplaceTempView(v)
    }
  }

  /** The query's optimized plan and rows with the rule on and excluded. */
  private def both(sql: String): ((Int, Int, Seq[Row]), (Int, Int, Seq[Row])) = {
    def run(on: Boolean) = {
      val s = session(on)
      views(s)
      val df = s.sql(sql)
      (scansOf(df, "q"), filteredAggs(df), df.collect().toSeq)
    }
    (run(on = true), run(on = false))
  }

  test("q9 reads store_sales once, with the rows of the unrewritten plan") {
    val q9 = SparkEntry.queries("tpcds_q9")
    val on = q9(session(on = true), sf)
    val off = q9(session(on = false), sf)
    assert(scansOf(off, "ss_quantity") == 5, "set-up: five bucket filters, five scans")
    assert(scansOf(on, "ss_quantity") == 1)
    assert(filteredAggs(on) > 0)
    val (got, want) = (on.collect().toSeq, off.collect().toSeq)
    assert(got.size == 1 && got == want)
  }

  test("a bucket that matches no row counts 0 and sums NULL") {
    val ((scans, filtered, got), (scansOff, _, want)) = both(
      """SELECT (SELECT COUNT(*) FROM t WHERE q BETWEEN 1 AND 10),
        |       (SELECT SUM(a) FROM t WHERE q BETWEEN 1 AND 10),
        |       (SELECT COUNT(*) FROM t WHERE q BETWEEN 100 AND 110),
        |       (SELECT SUM(a) FROM t WHERE q BETWEEN 100 AND 110)""".stripMargin)
    assert(scansOff == 2 && scans == 1 && filtered == 4)
    assert(got == want)
    assert(got.head.getLong(2) == 0L && got.head.isNullAt(3))
    assert(got.head.getLong(0) > 0L && !got.head.isNullAt(1))
  }

  test("rows with a NULL predicate column fall in no bucket") {
    val sql = """SELECT (SELECT COUNT(*) FROM t WHERE q BETWEEN 1 AND 15),
                |       (SELECT COUNT(*) FROM t WHERE q BETWEEN 16 AND 30),
                |       (SELECT COUNT(*) FROM t WHERE q IS NULL OR q < 0),
                |       (SELECT COUNT(*) FROM t)""".stripMargin
    val ((scans, _, got), (_, _, want)) = both(sql)
    assert(scans == 2, "three filtered subqueries share a scan; the unfiltered one keeps its own")
    assert(got == want)
    val ids = 0 until 300
    val nulls = ids.count(_ % 7 == 0)
    def bucket(lo: Int, hi: Int) =
      ids.count(i => i % 7 != 0 && (i % 30 + 1) >= lo && (i % 30 + 1) <= hi)
    assert(got.head.toSeq == Seq(bucket(1, 15).toLong, bucket(16, 30).toLong,
      nulls.toLong, 300L))
  }

  test("DISTINCT, correlated, nondeterministic and single subqueries are left alone") {
    val cases = Seq(
      "distinct" ->
        """SELECT (SELECT COUNT(DISTINCT a) FROM t WHERE q BETWEEN 1 AND 10),
          |       (SELECT COUNT(DISTINCT a) FROM t WHERE q BETWEEN 11 AND 20)""",
      "correlated" ->
        """SELECT g, (SELECT SUM(a) FROM t i WHERE i.g = o.g AND q < 10),
          |          (SELECT SUM(a) FROM t i WHERE i.g = o.g AND q > 20)
          |FROM (SELECT DISTINCT g FROM t) o ORDER BY g""",
      "nondeterministic" ->
        """SELECT (SELECT COUNT(*) FROM t WHERE q < 10 AND monotonically_increasing_id() >= 0),
          |       (SELECT COUNT(*) FROM t WHERE q > 20 AND monotonically_increasing_id() >= 0)""",
      "single" -> "SELECT (SELECT SUM(a) FROM t WHERE q < 10)")
    cases.foreach { case (name, sql) =>
      val ((scans, filtered, got), (scansOff, filteredOff, want)) = both(sql.stripMargin)
      assert(filtered == filteredOff, s"$name: a FILTER clause was added")
      assert(scans == scansOff, s"$name: scans changed")
      assert(got == want, s"$name: rows changed")
    }
  }

  test("subqueries over different relations are left alone") {
    val ((scans, filtered, got), (scansOff, _, want)) = both(
      """SELECT (SELECT COUNT(*) FROM t WHERE q < 10),
        |       (SELECT COUNT(*) FROM u WHERE q > 20)""".stripMargin)
    assert(got == want)
    assert(scansOff == 2 && scans == 2 && filtered == 0)
  }
}
