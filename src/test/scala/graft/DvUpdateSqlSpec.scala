package graft

import graft.sources.SnapshotTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** SQL UPDATE through deletion vectors (Delta 3.1 DV-update parity):
  * with `graft.enableDeletionVectors` set, an arbitrary-predicate
  * UPDATE writes O(matched rows) of (file, position) marks PLUS the
  * updated images as new files — zero base files rewritten. The update
  * analog of the DV DELETE path (DvDeleteSqlSpec). */
class DvUpdateSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("arbitrary-predicate UPDATE marks + appends, zero base files rewritten") {
    val cat = tmp("dvu_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.dvu", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dvu.root", cat)
    graft.plans.GraftRowLevelOps.register(s)
    s.sql("CREATE NAMESPACE dvu.ns")
    s.sql("CREATE TABLE dvu.ns.t (k BIGINT, tag STRING, v DOUBLE) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    s.sql("""INSERT INTO dvu.ns.t
             SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END,
                    CAST(id AS DOUBLE) FROM range(1000)""")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    val filesBefore = t.files.map(_.path).toSet
    // a predicate pushdown can't express + an assignment off the old row
    s.sql("UPDATE dvu.ns.t SET v = v + 10000, tag = 'bumped' " +
      "WHERE tag = 'even' AND v > 100.0") // 449 rows: 102,104,…,998
    // content: matched rows carry the new images, everything else intact
    assert(s.sql("SELECT count(*) FROM dvu.ns.t").head.getLong(0) == 1000)
    assert(s.sql("SELECT count(*) FROM dvu.ns.t WHERE tag = 'bumped'")
      .head.getLong(0) == 449)
    assert(s.sql("SELECT sum(v) FROM dvu.ns.t WHERE tag = 'bumped'")
      .head.getDouble(0) ==
      (102 to 998 by 2).map(_ + 10000.0).sum)
    assert(s.sql("SELECT count(*) FROM dvu.ns.t WHERE tag = 'even'")
      .head.getLong(0) == 51)
    // shape: every base file still present (marks shadow the old rows);
    // the updated images land as NEW files only
    assert(filesBefore.subsetOf(t.files.map(_.path).toSet),
      "DV update must not rewrite base files")
    assert((t.files.map(_.path).toSet -- filesBefore).nonEmpty,
      "updated images append as new files")
    assert(t.dvFiles.nonEmpty && t.dvFiles.map(_.rows).sum == 449)
    assert(t.commitOperation(t.currentVersion) == "UPDATE_DV")
    // time travel below the update still sees the old images
    assert(s.sql(s"SELECT count(*) FROM dvu.ns.t VERSION AS OF 1 " +
      "WHERE tag = 'bumped'").head.getLong(0) == 0)
    // a matching-nothing update commits nothing
    val v = t.currentVersion
    s.sql("UPDATE dvu.ns.t SET v = 0 WHERE v < -1.0")
    assert(t.currentVersion == v, "empty update must not commit")
    // REORG APPLY (PURGE) folds the marks physically; content holds
    assert(t.optimize(purge = true) > 0)
    assert(t.dvFiles.isEmpty)
    assert(s.sql("SELECT count(*) FROM dvu.ns.t").head.getLong(0) == 1000)
    assert(s.sql("SELECT count(*) FROM dvu.ns.t WHERE tag = 'bumped'")
      .head.getLong(0) == 449)
    // a trivially-true UPDATE rewrites every row anyway — CoW, no marks
    s.sql("UPDATE dvu.ns.t SET v = 0")
    assert(t.commitOperation(t.currentVersion) != "UPDATE_DV")
    assert(t.dvFiles.isEmpty)
    assert(s.sql("SELECT sum(v) FROM dvu.ns.t").head.getDouble(0) == 0.0)
  }

  test("with change-data-feed enabled the DV update captures pre+post images") {
    val cat = tmp("dvu_cdf_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.dvucdf", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dvucdf.root", cat)
    graft.plans.GraftRowLevelOps.register(s)
    s.sql("CREATE NAMESPACE dvucdf.ns")
    s.sql("CREATE TABLE dvucdf.ns.t (k BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('graft.enableDeletionVectors' = 'true', " +
      " 'graft.enableChangeDataFeed' = 'true')")
    s.sql("INSERT INTO dvucdf.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    s.sql("UPDATE dvucdf.ns.t SET v = v * 2 WHERE k % 4 = 0 AND v < 50")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    assert(t.commitOperation(t.currentVersion) == "UPDATE_DV")
    val changes = s.sql(
      "SELECT k, v, _change_type FROM table_changes('dvucdf.ns.t', 2, 2)")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val ks = (0L until 50L by 4).toSeq // 13 matched rows
    assert(changes.count(_._3 == "update_preimage") == 13)
    assert(changes.count(_._3 == "update_postimage") == 13)
    assert(changes.filter(_._3 == "update_preimage").map(_._1).sorted.toSeq == ks)
    changes.filter(_._3 == "update_postimage").foreach { case (k, v, _) =>
      assert(v == k * 2.0, s"post-image of $k must carry the new value") }
  }

  test("a subquery in a SET expression falls back to CoW and stays correct") {
    val cat = tmp("dvu_sq_cat")
    val s = session_(cat)
    s.sql("CREATE NAMESPACE dvusq.ns")
    s.sql("CREATE TABLE dvusq.ns.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    s.sql("INSERT INTO dvusq.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(20)")
    s.sql("CREATE TABLE dvusq.ns.u (q BIGINT, x DOUBLE)")
    s.sql("INSERT INTO dvusq.ns.u VALUES (0, 100.0), (1, 200.0)")
    // an UNCORRELATED scalar subquery executes as its own plan (never a
    // leaf of the rewrite query) — the positional path handles it
    s.sql("UPDATE dvusq.ns.t SET v = (SELECT max(x) FROM dvusq.ns.u) " +
      "WHERE k < 5")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    assert(t.commitOperation(t.currentVersion) == "UPDATE_DV")
    assert(s.sql("SELECT k, v FROM dvusq.ns.t WHERE k < 5").collect()
      .forall(_.getDouble(1) == 200.0))
    // a CORRELATED subquery optimizes into a JOIN — a second leaf under
    // the rewrite query, where the condition-pushdown trick would
    // corrupt the subquery input; the strategy must fall back to CoW
    s.sql("UPDATE dvusq.ns.t SET v = " +
      "(SELECT max(x) FROM dvusq.ns.u WHERE u.q = t.k % 2) " +
      "WHERE k >= 10")
    assert(t.commitOperation(t.currentVersion) != "UPDATE_DV",
      "correlated-subquery SET must not take the positional path")
    val got = s.sql("SELECT k, v FROM dvusq.ns.t WHERE k >= 10").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((10L until 20L).forall(k =>
      got(k) == (if (k % 2 == 0) 100.0 else 200.0)), got.toString)
    // untouched middle band intact
    assert(s.sql("SELECT sum(v) FROM dvusq.ns.t WHERE k >= 5 AND k < 10")
      .head.getDouble(0) == (5 until 10).map(_.toDouble).sum)
  }

  private def session_(root: String) = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.dvusq", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dvusq.root", root)
    graft.plans.GraftRowLevelOps.register(s)
    s
  }

  test("generated columns recompute on the DV update path") {
    val cat = tmp("dvu_gen_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.dvugen", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dvugen.root", cat)
    graft.plans.GraftRowLevelOps.register(s)
    s.sql("CREATE NAMESPACE dvugen.ns")
    s.sql("CREATE TABLE dvugen.ns.t (k BIGINT, d BIGINT GENERATED ALWAYS AS " +
      "(k * 2)) TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    s.sql("INSERT INTO dvugen.ns.t (k) SELECT id FROM range(10)")
    s.sql("UPDATE dvugen.ns.t SET k = k + 100 WHERE k >= 8")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    assert(t.commitOperation(t.currentVersion) == "UPDATE_DV")
    val got = s.sql("SELECT k, d FROM dvugen.ns.t WHERE k >= 100")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((108L, 216L), (109L, 218L)),
      "generated column must recompute from the post-assignment source")
  }
}
