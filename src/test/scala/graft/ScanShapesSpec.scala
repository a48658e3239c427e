package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** One table with every state a data-file scan resolves — DV marks,
  * row ids (materialized by a rewrite and derived from the file's id
  * base), a renamed column and an `ADD COLUMNS … DEFAULT` column — read
  * through each scan shape: `read()`, `readWithRowIds()`, the SQL scan
  * of the address and row-id columns, and the snapshot stream. Every
  * shape must serve the same rows. */
class ScanShapesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  private def sorted(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  test("every scan shape reads the same rows and row ids") {
    val cat = tmp("scan_shapes_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.shp", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.shp.root", cat)
    s.sql("CREATE NAMESPACE shp.ns")
    s.sql("CREATE TABLE shp.ns.t (k BIGINT, name STRING, v DOUBLE)")
    val root = s"$cat/ns/t"
    val t = new SnapshotTable(s, root).withProperty(SnapshotTable.RowTrackingProp, "true")
    Seq(0, 10, 20).foreach(lo => s.sql("INSERT INTO shp.ns.t SELECT id, " +
      s"concat('n', id), id * 1.5 FROM range($lo, ${lo + 10})"))
    assert(t.optimize() >= 2, "the rewrite materializes the row ids")
    s.sql("ALTER TABLE shp.ns.t ADD COLUMNS (c INT DEFAULT 5)")
    s.sql("INSERT INTO shp.ns.t SELECT id, concat('n', id), id * 1.5, 7 FROM range(30, 40)")

    // the stream reads the files written before ADD COLUMNS with its default
    def byC(df: DataFrame) = df.groupBy("c").agg(count(lit(1)).as("n"))
    val name = s"scan_shapes_${System.nanoTime()}"
    val q = byC(s.readStream.format("graft-snapshot").option("path", root)
        .option("startingVersion", "0").load())
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Complete)
      .option("checkpointLocation", tmp("scan_shapes_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = s.table(name).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamed == Map(5 -> 30L, 7 -> 10L))
    assert(byC(t.read()).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == streamed)

    t.renameColumn("name", "label")
    t.delete(col("k") % 3 === 0, positional = true)
    assert(t.dvFiles.nonEmpty)

    val cols = t.read().columns.toSeq
    assert(cols == Seq("k", "label", "v", "c"))
    val rows = sorted(t.read(), cols)
    assert(rows.size == 26, "the 14 marked rows are gone")
    assert(sorted(t.readWithRowIds().drop(SnapshotTable.RidCol), cols) == rows)
    val addressed = s.sql("SELECT __graft_dv_file, __graft_dv_pos, k, label, v, c " +
      "FROM shp.ns.t")
    assert(sorted(addressed.drop(SnapshotTable.DvFileCol, SnapshotTable.DvPosCol),
      cols) == rows)

    def ids(df: DataFrame): Map[Long, Long] =
      df.select(col("k"), col(SnapshotTable.RidCol)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val withIds = ids(t.readWithRowIds())
    assert(withIds.size == 26 && withIds.values.toSet.size == 26)
    assert(ids(s.sql("SELECT k, __graft_rid, __graft_dv_file FROM shp.ns.t")) == withIds)
  }
}
