package graft

import graft.sources.{GraftV2Table, SnapshotTable}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** SQL DELETE through deletion vectors (Delta `enableDeletionVectors`):
  * with the table property set, an arbitrary-predicate DELETE writes
  * O(matched rows) of (file, position) marks and rewrites NOTHING —
  * the scale shape for predicate deletes at 100 TB. Without it, the
  * copy-on-write rewrite stays the default. */
class DvDeleteSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("arbitrary-predicate DELETE marks rows positionally, zero files rewritten") {
    val cat = tmp("dvd_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.dvd", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dvd.root", cat)
    graft.plans.GraftRowLevelOps.register(s)
    s.sql("CREATE NAMESPACE dvd.ns")
    s.sql("CREATE TABLE dvd.ns.t (k BIGINT, tag STRING, v DOUBLE) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    s.sql("""INSERT INTO dvd.ns.t
             SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END,
                    CAST(id AS DOUBLE) FROM range(1000)""")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    val filesBefore = t.files.map(_.path).toSet
    // a predicate no Filter pushdown can express (string + arithmetic)
    s.sql("DELETE FROM dvd.ns.t WHERE tag = 'even' AND v > 100.0")
    // content: evens above 100 gone, everything else intact
    assert(s.sql("SELECT count(*) FROM dvd.ns.t").head.getLong(0) ==
      1000 - 449)
    assert(s.sql("SELECT count(*) FROM dvd.ns.t WHERE tag = 'even'")
      .head.getLong(0) == 51)
    // shape: ZERO base files rewritten; marks carry the delete
    assert(t.files.map(_.path).toSet == filesBefore,
      "DV delete must not rewrite base files")
    assert(t.dvFiles.nonEmpty && t.dvFiles.map(_.rows).sum == 449)
    assert(t.commitOperation(t.currentVersion) == "DELETE_DV")
    // time travel below the delete still sees everything
    assert(s.sql(s"SELECT count(*) FROM dvd.ns.t VERSION AS OF 1")
      .head.getLong(0) == 1000)
    // a second DV delete stacks; a matching-nothing delete commits nothing
    val v = t.currentVersion
    s.sql("DELETE FROM dvd.ns.t WHERE v < -1.0")
    assert(t.currentVersion == v, "empty delete must not commit")
    s.sql("DELETE FROM dvd.ns.t WHERE k = 1")
    assert(s.sql("SELECT count(*) FROM dvd.ns.t").head.getLong(0) == 550)
    // REORG APPLY (PURGE) materializes the marks physically
    assert(t.optimize(purge = true) > 0)
    assert(t.dvFiles.isEmpty)
    assert(s.sql("SELECT count(*) FROM dvd.ns.t").head.getLong(0) == 550)
    // unconditional DELETE must NOT mark every row — it stays on the
    // CoW path (empty-result overwrite), never an O(rows) mark write
    s.sql("DELETE FROM dvd.ns.t")
    assert(s.sql("SELECT count(*) FROM dvd.ns.t").head.getLong(0) == 0)
    assert(t.commitOperation(t.currentVersion) != "DELETE_DV")
    assert(t.dvFiles.isEmpty)
  }

  test("an interval DELETE on a DV table opens only stat-intersecting files") {
    val s = spark.newSession()
    import s.implicits._
    val cat = tmp("dvr_cat")
    s.conf.set("spark.sql.catalog.dvr", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dvr.root", cat)
    graft.plans.GraftRowLevelOps.register(s)
    s.sql("CREATE NAMESPACE dvr.ns")
    // 100 rows range-clustered on k into 4 files (k-spans 0-24 / 25-49 /
    // 50-74 / 75-99)
    val t = new SnapshotTable(s, s"$cat/ns/t").create(
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "tag")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    t.withProperty(GraftV2Table.DvDeleteProp, "true")
    assert(t.files.size == 4)
    // warm the schema cache, then move the two files whose k-span misses
    // [10, 30] out of the table: a delete that opened them would fail
    assert(s.sql("SELECT sum(k) FROM dvr.ns.t").head.getLong(0) == 4950L)
    val (near, far) = t.files.partition(_.stats("k")._1 <= 30)
    assert(near.size == 2 && far.size == 2)
    val aside = Files.createTempDirectory("graft_dvr_aside")
    def local(p: String) = Paths.get(p.stripPrefix("file:"))
    val moved = far.map { e =>
      val src = local(e.path)
      src -> Files.move(src, aside.resolve(src.getFileName))
    }
    try s.sql("DELETE FROM dvr.ns.t WHERE k BETWEEN 10 AND 30")
    finally moved.foreach { case (src, dst) => Files.move(dst, src) }
    assert(t.commitOperation(t.currentVersion) == "DELETE_DV")
    assert(t.dvFiles.map(_.rows).sum == 21L)
    val marked = s.read.parquet(t.dvFiles.map(_.path): _*)
      .select(SnapshotTable.DvFileCol).distinct()
      .collect().map(_.getString(0)).toSet
    assert(marked == near.map(_.path).toSet)
    val ks = t.read().select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == ((0L to 9L) ++ (31L to 99L)))
  }

  test("with change-data-feed enabled the DV delete captures pre-images") {
    val cat = tmp("dvd_cdf_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.dvcdf", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dvcdf.root", cat)
    graft.plans.GraftRowLevelOps.register(s)
    s.sql("CREATE NAMESPACE dvcdf.ns")
    s.sql("CREATE TABLE dvcdf.ns.t (k BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('graft.enableDeletionVectors' = 'true', " +
      " 'graft.enableChangeDataFeed' = 'true')")
    s.sql("INSERT INTO dvcdf.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    s.sql("DELETE FROM dvcdf.ns.t WHERE k % 4 = 0 AND v < 50")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    assert(t.commitOperation(t.currentVersion) == "DELETE_DV")
    // table_changes serves the captured pre-images as deletes
    val changes = s.sql(
      s"""SELECT k, _change_type FROM table_changes('dvcdf.ns.t', 2, 2)""")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(changes.length == 13) // k in {0,4,...,48}
    assert(changes.forall(_._2 == "delete"))
    assert(changes.map(_._1).sorted.toSeq == (0L until 50L by 4).toSeq)
  }

  test("without the property the CoW rewrite stays; subqueries fall back to CoW") {
    val cat = tmp("dvd_off_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.dvoff", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dvoff.root", cat)
    graft.plans.GraftRowLevelOps.register(s)
    s.sql("CREATE NAMESPACE dvoff.ns")
    s.sql("CREATE TABLE dvoff.ns.t (k BIGINT, tag STRING)")
    s.sql("INSERT INTO dvoff.ns.t SELECT id, 'x' FROM range(100)")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    s.sql("DELETE FROM dvoff.ns.t WHERE tag = 'x' AND k >= 90")
    assert(s.sql("SELECT count(*) FROM dvoff.ns.t").head.getLong(0) == 90)
    assert(t.dvFiles.isEmpty, "property off: no DV marks")
    // DV-enabled table + subquery condition: falls back to CoW, correct
    val cat2 = tmp("dvd_sub_cat")
    s.conf.set("spark.sql.catalog.dvsub", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dvsub.root", cat2)
    s.sql("CREATE NAMESPACE dvsub.ns")
    s.sql("CREATE TABLE dvsub.ns.t (k BIGINT) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    s.sql("INSERT INTO dvsub.ns.t SELECT id FROM range(10)")
    s.sql("CREATE TABLE dvsub.ns.victims (k BIGINT)")
    s.sql("INSERT INTO dvsub.ns.victims VALUES (1), (3)")
    s.sql("DELETE FROM dvsub.ns.t WHERE k IN (SELECT k FROM dvsub.ns.victims)")
    assert(s.sql("SELECT count(*) FROM dvsub.ns.t").head.getLong(0) == 8)
  }
}
