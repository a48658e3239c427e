package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Liquid-clustering surface (Delta CLUSTER BY analog): a stored
  * clustering spec that bare OPTIMIZE serves INCREMENTALLY — only files
  * written since the last clustering commit rewrite onto the Morton
  * curve; clustered files carry by reference. */
class ClusterBySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  /** A bare OPTIMIZE on `t` clustered by `cols`: incremental clustering. */
  private def cluster(t: SnapshotTable, cols: String*): Int =
    t.withProperty(SnapshotTable.ClusterSpecProp, cols.mkString(",")).optimize()

  test("clusterIncremental rewrites only the unclustered tail") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("liq"))
      .create((1L to 4000L).map(k => (k, (k * 37 % 1000).toDouble))
        .toDF("k", "v").repartition(4))
    assert(cluster(t, "k", "v") > 0) // v1: clusters all
    val clustered = t.files.map(_.path).toSet
    // appends after clustering form the unclustered tail
    t.append((4001L to 4200L).map(k => (k, k.toDouble)).toDF("k", "v")
      .repartition(2)) // v2
    assert(cluster(t, "k", "v") == 2) // v3: only the tail
    // the originally-clustered files carried by reference, path-identical
    assert(clustered.subsetOf(t.files.map(_.path).toSet),
      "clustered files must carry by reference across incremental runs")
    // nothing new → zero rewrites, no commit
    val v = t.currentVersion
    assert(cluster(t, "k", "v") == 0)
    assert(t.currentVersion == v)
    // content preserved
    assert(t.read().count() == 4200)
    assert(t.read().agg(sum("k")).head.getLong(0) == (1L to 4200L).sum)
    // curve clustering tightens per-file ranges → skipping prunes
    assert(t.planFiles(col("k").between(1, 10)).size < t.files.size)
  }

  test("clones cluster from scratch: negative carried origins still rewrite") {
    import spark.implicits._
    val src = new SnapshotTable(spark, tmp("liq_src"))
      .create((1L to 500L).map(k => (k, k * 2.0)).toDF("k", "v")
        .repartition(2))
    // shallow clone carries files with NEGATIVE rebased origins — the
    // first clustering on the clone must still rewrite them
    val c = src.shallowCloneTo(tmp("liq_clone"))
    assert(c.files.forall(_.origin < 0))
    assert(cluster(c, "k", "v") == 2)
    assert(c.read().count() == 500)
    // OR REPLACE clone onto a PREVIOUSLY CLUSTERED target: the clone
    // resets clustering state, so the next OPTIMIZE reclusters
    val tgtPath = tmp("liq_tgt")
    val tgt = new SnapshotTable(spark, tgtPath)
      .create((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"))
    cluster(tgt, "k")
    src.shallowCloneTo(tgtPath, src.currentVersion, orReplace = true)
    assert(cluster(tgt, "k") > 0,
      "post-replace clone files must recluster despite earlier CLUSTER commits")
  }

  test("random insert/cluster/compact interleavings preserve content; increments only touch the tail") {
    import spark.implicits._
    val rnd = new scala.util.Random(8843)
    for (trial <- 1 to 3) {
      val model = scala.collection.mutable.Map[Long, Double]()
      var nextK = 1L
      def batch(n: Int) = {
        val rows = (0 until n).map { _ =>
          val k = nextK; nextK += 1
          val v = (k * 37 % 997).toDouble
          model(k) = v
          (k, v)
        }
        rows.toDF("k", "v")
      }
      val t = new SnapshotTable(spark, tmp(s"liqprop$trial"))
        .create(batch(200).repartition(2))
      // paths clustered by the LAST cluster run, valid until a compact
      // rewrites them (compaction legitimately replaces everything)
      var clustered = Set.empty[String]
      for (_ <- 1 to 6 + rnd.nextInt(3)) {
        rnd.nextInt(3) match {
          case 0 => t.append(batch(20 + rnd.nextInt(50)))
          case 1 =>
            val carriedExpected = clustered
            cluster(t, "k", "v"): Unit
            // files clustered by the previous run carry by reference
            assert(carriedExpected.subsetOf(t.files.map(_.path).toSet),
              s"trial $trial: clustered files must carry by reference")
            clustered = t.files.map(_.path).toSet
          case _ => t.compact(2); clustered = Set.empty
        }
        // content invariant after every step
        assert(t.read().count() == model.size)
        assert(t.read().agg(org.apache.spark.sql.functions.sum("v"))
          .head.getDouble(0) == model.values.sum)
      }
    }
  }

  test("SQL CREATE TABLE CLUSTER BY + OPTIMIZE runs incremental clustering") {
    val cat = tmp("liq_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.liqcat", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.liqcat.root", cat)
    s.sql("CREATE NAMESPACE liqcat.ns")
    s.sql("CREATE TABLE liqcat.ns.t (k BIGINT, v DOUBLE) CLUSTER BY (k, v)")
    s.range(1, 2001).selectExpr("id AS k", "CAST(id * 37 % 500 AS DOUBLE) AS v")
      .createOrReplaceTempView("liq_src")
    s.sql("INSERT INTO liqcat.ns.t SELECT * FROM liq_src")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    assert(t.property(SnapshotTable.ClusterSpecProp).contains("k,v"))
    s.sql("OPTIMIZE liqcat.ns.t") // clusters
    assert(t.commitOperation(t.currentVersion) == "CLUSTER")
    val clustered = t.files.map(_.path).toSet
    s.sql("INSERT INTO liqcat.ns.t VALUES (9999, 1.0)")
    s.sql("OPTIMIZE liqcat.ns.t") // incremental: clustered files carry
    assert(clustered.subsetOf(t.files.map(_.path).toSet))
    assert(s.sql("SELECT count(*) FROM liqcat.ns.t").head.getLong(0) == 2001)
    // WHERE scoping is refused on clustered tables (Delta parity)
    assertThrows[Exception](s.sql("OPTIMIZE liqcat.ns.t WHERE k = '1'"))
    // OPTIMIZE FULL reclusters EVERYTHING (the escape hatch after
    // changing clustering columns): previously-clustered files rewrite
    s.sql("ALTER TABLE liqcat.ns.t CLUSTER BY (v)")
    val beforeFull = t.files.map(_.path).toSet
    s.sql("OPTIMIZE liqcat.ns.t FULL")
    assert(t.commitOperation(t.currentVersion) == "CLUSTER")
    assert(t.files.map(_.path).toSet.intersect(beforeFull).isEmpty,
      "FULL must rewrite previously-clustered files too")
    assert(s.sql("SELECT count(*) FROM liqcat.ns.t").head.getLong(0) == 2001)
    // FULL on an unclustered table refuses
    s.sql("ALTER TABLE liqcat.ns.t CLUSTER BY NONE")
    assertThrows[Exception](s.sql("OPTIMIZE liqcat.ns.t FULL"))
    // ALTER TABLE CLUSTER BY NONE reverts OPTIMIZE to bin-packing
    // (two small files so the bin-pack actually commits)
    s.sql("INSERT INTO liqcat.ns.t VALUES (10000, 2.0)")
    s.sql("OPTIMIZE liqcat.ns.t")
    assert(t.commitOperation(t.currentVersion) != "CLUSTER")
  }

  test("CLUSTER BY validates its columns at CREATE and ALTER, not at the next OPTIMIZE") {
    val cat = tmp("liq_val_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.liqval", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.liqval.root", cat)
    s.sql("CREATE NAMESPACE liqval.ns")
    // a typo'd CREATE spec fails loudly at CREATE time
    val e1 = intercept[Exception](s.sql(
      "CREATE TABLE liqval.ns.bad (k BIGINT, v DOUBLE) CLUSTER BY (kk)"))
    assert(e1.getMessage.contains("kk"), e1.getMessage)
    assert(!s.catalog.tableExists("liqval.ns.bad"))
    // and a typo'd ALTER spec fails at ALTER time
    s.sql("CREATE TABLE liqval.ns.t (k BIGINT, v DOUBLE)")
    val e2 = intercept[Exception](
      s.sql("ALTER TABLE liqval.ns.t CLUSTER BY (vv)"))
    assert(e2.getMessage.contains("vv"), e2.getMessage)
    // the valid spellings still land
    s.sql("ALTER TABLE liqval.ns.t CLUSTER BY (v)")
    assert(new SnapshotTable(s, s"$cat/ns/t")
      .property(SnapshotTable.ClusterSpecProp).contains("v"))
    s.sql("ALTER TABLE liqval.ns.t CLUSTER BY NONE")
  }
}
