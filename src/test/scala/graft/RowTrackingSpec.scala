package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Row tracking (Delta row-ids analog): every data file's manifest
  * entry carries a contiguous id base assigned at its writing commit
  * (free — pure manifest math), so row i of a file has id base + i.
  * With `graft.enableRowTracking` set, maintenance rewrites (OPTIMIZE /
  * CLUSTER / ZORDER / REORG) MATERIALIZE the id into the rewritten
  * files, keeping ids stable across rewrites that do not logically
  * change rows. */
class RowTrackingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  private def rids(t: SnapshotTable): Map[Long, Long] =
    t.readWithRowIds().select(col("k"), col(SnapshotTable.RidCol))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("ids are unique, batch-assigned, and invisible in logical reads") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("rt_base"))
      .create((0L until 100L).map(k => (k, k * 2.0)).toDF("k", "v"))
    t.append((100L until 150L).map(k => (k, k * 2.0)).toDF("k", "v"))
    val m = rids(t)
    assert(m.size == 150 && m.values.toSet.size == 150, "unique ids")
    // the second batch's ids all land above the first's
    val firstMax = (0L until 100L).map(m).max
    assert((100L until 150L).map(m).forall(_ > firstMax))
    // logical reads never see the engine column
    assert(!t.read().columns.contains(SnapshotTable.RidCol))
  }

  test("ids survive OPTIMIZE / CLUSTER / REORG under row tracking") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("rt_stable"))
      .create((0L until 500L).map(k => (k, (k % 7).toDouble)).toDF("k", "v"))
    t.withProperty(SnapshotTable.RowTrackingProp, "true")
    t.append((500L until 600L).map(k => (k, (k % 7).toDouble)).toDF("k", "v"))
    val before = rids(t)
    // compaction rewrites every file; ids must carry
    t.compact(2)
    assert(rids(t) == before, "ids changed across OPTIMIZE")
    // incremental clustering (everything is tail on first run)
    t.withProperty(SnapshotTable.ClusterSpecProp, "k")
    assert(t.optimize(minBytes = 1L << 20) > 0)
    assert(rids(t) == before, "ids changed across CLUSTER")
    // DV delete: survivors keep their ids; REORG PURGE keeps them too
    t.delete(col("k") % 10 === 0, positional = true)
    val afterDelete = rids(t)
    assert(afterDelete == before.filterNot { case (k, _) => k % 10 == 0 })
    assert(t.optimize(purge = true, minBytes = 1L << 30) > 0)
    assert(rids(t) == afterDelete, "ids changed across REORG PURGE")
    // a fresh append after the rewrites allocates above everything
    t.append(Seq((9999L, 1.0)).toDF("k", "v"))
    val m2 = rids(t)
    assert(m2(9999L) > before.values.max)
    assert(m2.values.toSet.size == m2.size)
  }

  test("without the property rewrites renumber; DML rewrites refresh either way") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("rt_off"))
      .create((0L until 100L).map(k => (k, 1.0)).toDF("k", "v"))
    val before = rids(t)
    t.compact(1)
    val after = rids(t)
    assert(after.keySet == before.keySet &&
      after.values.toSet.size == after.size)
    // engine-reserved names refuse in evolution paths
    intercept[IllegalArgumentException](t.renameColumn("v", "__graft_rid"))
    intercept[IllegalArgumentException](t.addColumns(Seq(
      org.apache.spark.sql.types.StructField("__graft_rid",
        org.apache.spark.sql.types.LongType))))
  }

  test("CoW DML preserves row ids: carried AND updated rows keep theirs, inserts refresh") {
    val cat = tmp("rt_dml_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.rtdml", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.rtdml.root", cat)
    graft.plans.GraftRowLevelOps.register(s)
    s.sql("CREATE NAMESPACE rtdml.ns")
    s.sql("CREATE TABLE rtdml.ns.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.enableRowTracking' = 'true')")
    s.sql("INSERT INTO rtdml.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    val before = rids(t)
    // a MERGE touching 10 rows of the single file: the other 90 carried
    // rows must keep their ids; the 10 updated rows keep theirs too
    // (row lineage — the id tracks the row through the update); the 5
    // inserted rows allocate fresh ids above everything
    s.sql("""MERGE INTO rtdml.ns.t t USING
      (SELECT id * 10 AS k, -1.0 AS v FROM range(15)) src ON t.k = src.k
      WHEN MATCHED THEN UPDATE SET t.v = src.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)""")
    val after = rids(t)
    assert(after.size == 105 && after.values.toSet.size == 105, "unique")
    val carried = (0L until 100L).filterNot(_ % 10 == 0)
    assert(carried.forall(k => after(k) == before(k)),
      "carried rows must keep their ids through the CoW MERGE")
    val updated = (0L until 100L).filter(_ % 10 == 0)
    assert(updated.forall(k => after(k) == before(k)),
      "updated rows keep their ids (row lineage)")
    val inserted = (100L to 140L by 10)
    assert(inserted.forall(k => after(k) > before.values.max),
      "merge-inserted rows allocate fresh ids above the mark")
    // SQL UPDATE (CoW) preserves too
    s.sql("UPDATE rtdml.ns.t SET v = v + 1 WHERE k < 50")
    val after2 = rids(t)
    assert(after2 == after, "ids changed across a CoW UPDATE")
    // SQL DELETE (CoW): survivors keep their ids
    s.sql("DELETE FROM rtdml.ns.t WHERE k >= 130")
    val after3 = rids(t)
    assert(after3 == after2.filter { case (k, _) => k < 130 })
    // the id is queryable as a DSv2 metadata column (hidden from *)
    val viaMeta = s.sql("SELECT k, __graft_rid FROM rtdml.ns.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaMeta == after3)
    assert(!s.sql("SELECT * FROM rtdml.ns.t").columns
      .contains(SnapshotTable.RidCol))
  }

  test("engine-API merge/mergeDelete keep carried rows' ids under row tracking") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("rt_api"))
      .create((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "v"))
    t.withProperty(SnapshotTable.RowTrackingProp, "true")
    val before = rids(t)
    // key-join MERGE: carried rows keep ids; source-matched rows
    // refresh (the scoped engine-API contract — the key join cannot
    // tell update from insert); inserts allocate fresh
    t.merge((Seq((10L, -1.0), (20L, -2.0), (500L, -5.0))).toDF("k", "v"),
      keys = Seq("k"))
    val after = rids(t)
    assert(after.size == 101 && after.values.toSet.size == 101)
    val carried = (0L until 100L).filterNot(Set(10L, 20L))
    assert(carried.forall(k => after(k) == before(k)),
      "carried rows must keep ids through the engine MERGE")
    assert(after(500L) > before.values.max)
    // deleteMatched merge: survivors keep theirs
    t.merge(Seq(Tuple1(500L)).toDF("k"), keys = Seq("k"), deleteMatched = true)
    val after2 = rids(t)
    assert(after2 == after.filter { case (k, _) => k != 500L },
      "mergeDelete survivors must keep their ids")
  }

  test("table_row_ids TVF serves rows + stable ids through SQL") {
    import spark.implicits._
    val root = tmp("rt_tvf")
    val t = new SnapshotTable(spark, root)
      .create((0L until 50L).map(k => (k, k * 1.0)).toDF("k", "v"))
    t.withProperty(SnapshotTable.RowTrackingProp, "true")
    val got = spark.sql(
      s"SELECT k, __graft_rid FROM table_row_ids('$root')").collect()
    assert(got.length == 50)
    assert(got.map(_.getLong(1)).distinct.length == 50)
    // stable through OPTIMIZE, visible through the same TVF
    val before = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    t.compact(1)
    val after = spark.sql(
      s"SELECT k, __graft_rid FROM table_row_ids('$root')").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before)
  }
}
