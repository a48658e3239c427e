package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dev-loop profiler for the cdc_mor_read bench entry: times each phase
  * of the gate separately at sf0.01 so a perf regression names its
  * phase. Not a correctness gate (those live in CORRECTNESS via the
  * oracle); assertions are sanity-only. */
class CdcMorProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("phase timing breakdown") {
    val s = spark
    val d = "/root/testdata/sf0.01"
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      info(f"$tag%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    // warm
    Tables.load(s, d, "orders").count()

    val o = Tables.load(s, d, "orders")
    val keys = Seq("o_orderkey", "o_orderstatus")
    val src1 = o.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val src2 = o.filter(col("o_orderkey") % 20 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 500.0)
      .unionByName(o.filter(col("o_orderkey") % 23 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
        .withColumn("o_orderstatus", lit("P")))

    val base = t("stage: create+mor1") {
      new graft.sources.SnapshotTable(s, Scratch.dir("cdcprof_base"))
        .create(o, partitionBy = Some("o_orderstatus"))
        .merge(src1, keys, partitionBy = Some("o_orderstatus"), deferred = true)
    }
    // CDC-off baseline: same commits without capture
    for (round <- 1 to 2) {
      val c = base.shallowCloneTo(Scratch.dir(s"cdcprof_nt$round"))
      val u1 = t(s"nt$round merge deferred (no track)") {
        c.merge(src2, keys, partitionBy = Some("o_orderstatus"), deferred = true)
      }
      t(s"nt$round merge deferred delete (no track)") {
        u1.merge(
          o.filter(col("o_orderkey") % 13 === 0)
            .select("o_orderkey", "o_orderstatus"),
          keys, partitionBy = Some("o_orderstatus"), deleteMatched = true, deferred = true)
      }
    }
    for (round <- 1 to 2) {
      val clone = t(s"r$round clone") {
        base.shallowCloneTo(Scratch.dir(s"cdcprof_c$round"))
      }
      val t1 = t(s"r$round merge deferred (track)") {
        clone.merge(src2, keys, partitionBy = Some("o_orderstatus"),
          trackChanges = true, deferred = true)
      }
      val t2 = t(s"r$round merge deferred delete") {
        t1.merge(
          o.filter(col("o_orderkey") % 13 === 0)
            .select("o_orderkey", "o_orderstatus"),
          keys, partitionBy = Some("o_orderstatus"), trackChanges = true,
          deleteMatched = true, deferred = true)
      }
      val n = t(s"r$round changes+agg") {
        t2.changes(1).unionByName(t2.changes(2))
          .groupBy(col(graft.sources.SnapshotTable.ChangeCol))
          .agg(count(lit(1))).collect().length
      }
      assert(n > 0)
    }
    Scratch.sweep(s)
  }
}
