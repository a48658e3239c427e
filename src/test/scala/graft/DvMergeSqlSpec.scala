package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** SQL MERGE through deletion vectors (Delta's DV-enabled MERGE): with
  * `graft.enableDeletionVectors` set, MERGE INTO plans onto Spark's
  * DELTA-based row-level rewrite — the query emits one row per CHANGED
  * row, matched rows are marked positionally and update/insert images
  * append, ZERO base files rewritten. Write cost O(changed rows): the
  * 100 TB MERGE shape. */
class DvMergeSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  private def session(cat: String, root: String) = {
    val s = spark.newSession()
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftSqlCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    graft.plans.GraftRowLevelOps.register(s)
    s
  }

  test("MERGE marks + appends, zero base files rewritten; all three action kinds") {
    val cat = tmp("dvm_cat")
    val s = session("dvm", cat)
    s.sql("CREATE NAMESPACE dvm.ns")
    s.sql("CREATE TABLE dvm.ns.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    s.sql("INSERT INTO dvm.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(1000)")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    val filesBefore = t.files.map(_.path).toSet
    // matched-update (k%10=0 <600), matched-delete (k%10=0 >=600),
    // not-matched-insert (k 1000..1049)
    s.sql("""MERGE INTO dvm.ns.t t USING
      (SELECT id * 10 AS k, -1.0 AS v FROM range(105)) src ON t.k = src.k
      WHEN MATCHED AND t.k >= 600 THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.v = src.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)""")
    // content: 1000 - 40 deleted + 5 inserted (1000,1010,1020,1030,1040)
    assert(s.sql("SELECT count(*) FROM dvm.ns.t").head.getLong(0) == 965)
    assert(s.sql("SELECT count(*) FROM dvm.ns.t WHERE v = -1.0")
      .head.getLong(0) == 65) // 60 updated + 5 inserted
    assert(s.sql("SELECT count(*) FROM dvm.ns.t WHERE k >= 600 AND k % 10 = 0 AND k < 1000")
      .head.getLong(0) == 0, "matched-delete rows gone")
    // shape: every base file still present; marks carry deletes+updates
    assert(filesBefore.subsetOf(t.files.map(_.path).toSet),
      "DV merge must not rewrite base files")
    assert((t.files.map(_.path).toSet -- filesBefore).nonEmpty,
      "update/insert images append as new files")
    assert(t.dvFiles.nonEmpty && t.dvFiles.map(_.rows).sum == 100,
      s"60 updates + 40 deletes should mark 100 rows, got ${t.dvFiles.map(_.rows).sum}")
    assert(t.commitOperation(t.currentVersion) == "MERGE_DV")
    // time travel below the merge sees the original content
    assert(s.sql("SELECT count(*) FROM dvm.ns.t VERSION AS OF 1")
      .head.getLong(0) == 1000)
    // REORG folds the marks; content holds
    assert(t.optimize(purge = true, minBytes = 1L << 30) > 0)
    assert(t.dvFiles.isEmpty)
    assert(s.sql("SELECT count(*) FROM dvm.ns.t").head.getLong(0) == 965)
    // a matching-nothing merge commits nothing
    val v = t.currentVersion
    s.sql("""MERGE INTO dvm.ns.t t USING
      (SELECT -5 AS k, 0.0 AS v) src ON t.k = src.k
      WHEN MATCHED THEN UPDATE SET t.v = src.v""")
    assert(t.currentVersion == v, "empty merge must not commit")
  }

  test("MERGE with a subquery-using source and CDF captures all image kinds") {
    val cat = tmp("dvm_cdf_cat")
    val s = session("dvmc", cat)
    s.sql("CREATE NAMESPACE dvmc.ns")
    s.sql("CREATE TABLE dvmc.ns.t (k BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('graft.enableDeletionVectors' = 'true', " +
      " 'graft.enableChangeDataFeed' = 'true')")
    s.sql("INSERT INTO dvmc.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    s.sql("""MERGE INTO dvmc.ns.t t USING
      (SELECT id AS k, 500.0 AS v FROM range(120) WHERE id % 4 = 0) src
      ON t.k = src.k
      WHEN MATCHED AND t.k < 20 THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.v = src.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)""")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    assert(t.commitOperation(t.currentVersion) == "MERGE_DV")
    // matched: k in 0,4,...,96 (25); deleted: 0,4,8,12,16 (5);
    // updated: 20..96 by 4 (20); inserted: 100..116 by 4 (5)
    assert(s.sql("SELECT count(*) FROM dvmc.ns.t").head.getLong(0) == 100)
    val changes = s.sql(
      "SELECT k, v, _change_type FROM table_changes('dvmc.ns.t', 2, 2)")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(changes.count(_._3 == "delete") == 5)
    assert(changes.count(_._3 == "update_preimage") == 20)
    assert(changes.count(_._3 == "update_postimage") == 20)
    assert(changes.count(_._3 == "insert") == 5)
    assert(changes.filter(_._3 == "delete").map(_._1).sorted.toSeq ==
      Seq(0L, 4L, 8L, 12L, 16L))
    changes.filter(_._3 == "update_postimage").foreach { case (_, v2, _) =>
      assert(v2 == 500.0) }
    changes.filter(_._3 == "update_preimage").foreach { case (k, v2, _) =>
      assert(v2 == k.toDouble, "pre-image must carry the OLD value") }
  }

  test("row tracking: carried rows untouched, updated keep ids, inserts fresh — no group rewrite") {
    val cat = tmp("dvm_rt_cat")
    val s = session("dvmr", cat)
    s.sql("CREATE NAMESPACE dvmr.ns")
    s.sql("CREATE TABLE dvmr.ns.t (k BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('graft.enableDeletionVectors' = 'true', " +
      " 'graft.enableRowTracking' = 'true')")
    s.sql("INSERT INTO dvmr.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    def rids(): Map[Long, Long] = t.readWithRowIds()
      .select(col("k"), col(SnapshotTable.RidCol))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = rids()
    s.sql("""MERGE INTO dvmr.ns.t t USING
      (SELECT id * 10 AS k, -1.0 AS v FROM range(12)) src ON t.k = src.k
      WHEN MATCHED THEN UPDATE SET t.v = src.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)""")
    assert(t.commitOperation(t.currentVersion) == "MERGE_DV")
    val after = rids()
    assert(after.size == 102 && after.values.toSet.size == 102)
    (0L until 100L).foreach(k =>
      assert(after(k) == before(k), s"row $k renumbered"))
    assert(Seq(100L, 110L).forall(k => after(k) > before.values.max))
  }

  test("WHEN NOT MATCHED BY SOURCE routes through the delta path too") {
    val cat = tmp("dvm_nbs_cat")
    val s = session("dvmn", cat)
    s.sql("CREATE NAMESPACE dvmn.ns")
    s.sql("CREATE TABLE dvmn.ns.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    s.sql("INSERT INTO dvmn.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    val filesBefore = t.files.map(_.path).toSet
    // source covers k < 30 only: those update; everything else is
    // "not matched by source" — flag the stragglers, delete the tail
    s.sql("""MERGE INTO dvmn.ns.t t USING
      (SELECT id AS k FROM range(30)) src ON t.k = src.k
      WHEN MATCHED THEN UPDATE SET t.v = -1.0
      WHEN NOT MATCHED BY SOURCE AND t.k >= 90 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.v = t.v + 1000""")
    assert(t.commitOperation(t.currentVersion) == "MERGE_DV")
    assert(filesBefore.subsetOf(t.files.map(_.path).toSet),
      "NOT MATCHED BY SOURCE actions must not rewrite base files")
    assert(s.sql("SELECT count(*) FROM dvmn.ns.t").head.getLong(0) == 90)
    assert(s.sql("SELECT count(*) FROM dvmn.ns.t WHERE v = -1.0")
      .head.getLong(0) == 30)
    assert(s.sql("SELECT sum(v) FROM dvmn.ns.t WHERE k >= 30").head.getDouble(0)
      == (30 until 90).map(_ + 1000.0).sum)
    // marked: 60 by-source updates + 10 deletes + 30 matched updates
    assert(t.dvFiles.map(_.rows).sum == 100)
  }

  test("address metadata columns honor time travel") {
    val cat = tmp("dvm_tt_cat")
    val s = session("dvmt", cat)
    s.sql("CREATE NAMESPACE dvmt.ns")
    s.sql("CREATE TABLE dvmt.ns.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    s.sql("INSERT INTO dvmt.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(50)")
    s.sql("DELETE FROM dvmt.ns.t WHERE k >= 40")
    // current: 40 live rows; version 1: all 50 with their addresses
    assert(s.sql("SELECT k, __graft_dv_file FROM dvmt.ns.t")
      .collect().length == 40)
    val pinned = s.sql(
      "SELECT k, __graft_dv_file FROM dvmt.ns.t VERSION AS OF 1").collect()
    assert(pinned.length == 50,
      "time-travel address scan must serve the PINNED version")
    assert(pinned.forall(r => !r.isNullAt(1)))
  }

  test("identity columns fill on merge-inserts through the delta path") {
    val cat = tmp("dvm_id_cat")
    val s = session("dvmi", cat)
    s.sql("CREATE NAMESPACE dvmi.ns")
    s.sql("CREATE TABLE dvmi.ns.t (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "k BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('graft.enableDeletionVectors' = 'true')")
    s.sql("INSERT INTO dvmi.ns.t (k, v) VALUES (1, 1.0), (2, 2.0)")
    s.sql("""MERGE INTO dvmi.ns.t t USING
      (SELECT 2 AS k, 20.0 AS v UNION ALL SELECT 3, 30.0) src ON t.k = src.k
      WHEN MATCHED THEN UPDATE SET t.v = src.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)""")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    assert(t.commitOperation(t.currentVersion) == "MERGE_DV")
    val got = s.sql("SELECT k, id, v FROM dvmi.ns.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_._2).distinct.length == 3, "identity values unique")
    assert(got(1)._3 == 20.0 && got(2)._3 == 30.0)
  }
}
