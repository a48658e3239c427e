package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Column mapping (Delta columnMapping.mode=name analog): RENAME COLUMN
  * and DROP COLUMN as metadata-only commits. Physical names in data
  * files are immutable; the manifest's versioned logical↔physical
  * mapping re-points the schema — zero data rewritten, time-travel
  * correct, resurrection-safe on re-add. */
class ColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  private def dataPaths(t: SnapshotTable): Set[String] =
    t.files.map(_.path).toSet

  test("renameColumn is metadata-only and time-travel correct") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("cm_rename"))
      .create(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    val before = dataPaths(t)
    t.renameColumn("v", "amount")
    // no data rewritten: the same physical files back the new version
    assert(dataPaths(t) == before)
    assert(t.read().columns.toSeq == Seq("k", "amount"))
    assert(t.read().orderBy("k").select("amount").as[Double].collect()
      .toSeq == Seq(10.0, 20.0))
    // time travel below the rename sees the OLD logical name
    assert(t.read(0).columns.toSeq == Seq("k", "v"))
  }

  test("writes after a rename land under the stable physical name and read back logically") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("cm_write"))
      .create(Seq((1L, 10.0)).toDF("k", "v"))
    t.renameColumn("v", "amount")
    t.append(Seq((2L, 20.0)).toDF("k", "amount"))
    assert(t.read().orderBy("k").select("amount").as[Double].collect()
      .toSeq == Seq(10.0, 20.0))
    // DML through logical names: merge on the renamed column's table
    t.merge(Seq((2L, 99.0), (3L, 30.0)).toDF("k", "amount"), Seq("k"))
    assert(t.read().orderBy("k").select("amount").as[Double].collect()
      .toSeq == Seq(10.0, 99.0, 30.0))
    // footer-stats skipping still keys on the physical name
    assert(t.statsMinMax("amount").contains((10.0, 99.0)))
  }

  test("dropColumn hides the column without rewriting; re-add gets a fresh physical name") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("cm_drop"))
      .create(Seq((1L, 10.0, "x"), (2L, 20.0, "y")).toDF("k", "v", "tag"))
    val before = dataPaths(t)
    t.dropColumn("tag")
    assert(dataPaths(t) == before)
    assert(t.read().columns.toSeq == Seq("k", "v"))
    // time travel below the drop still reads the column
    assert(t.read(0).columns.toSeq == Seq("k", "v", "tag"))
    // re-adding the SAME name must NOT resurrect the old values
    t.addColumns(Seq(org.apache.spark.sql.types.StructField(
      "tag", org.apache.spark.sql.types.StringType)))
    val got = t.read().orderBy("k").select("tag").collect().map(_.isNullAt(0))
    assert(got.toSeq == Seq(true, true), "dropped values resurfaced on re-add")
    // and new writes populate the fresh physical column
    t.append(Seq((3L, 30.0, "z")).toDF("k", "v", "tag"))
    assert(t.read().filter(col("tag") === "z").count() == 1)
  }

  test("rename survives MoR deltas on non-key columns and RESTORE restores the old schema") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("cm_mor"))
      .create(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    t.renameColumn("v", "amount")                    // version 1
    t.merge(Seq((2L, 99.0)).toDF("k", "amount"), Seq("k"), deferred = true) // v2
    assert(t.read().orderBy("k").select("amount").as[Double].collect()
      .toSeq == Seq(10.0, 99.0))
    // merge keys with pending deltas refuse a rename; non-keys renamed fine
    assertThrows[IllegalArgumentException](t.renameColumn("k", "id"))
    t.compact(1)                                     // v3: folds deltas
    t.renameColumn("k", "id")                        // v4
    assert(t.read().columns.toSeq == Seq("id", "amount"))
    t.restoreTo(0)                                   // v5: pre-rename state
    assert(t.read().columns.toSeq == Seq("k", "v"))
    assert(t.read().orderBy("k").select("v").as[Double].collect()
      .toSeq == Seq(10.0, 20.0))
  }

  test("layout and collision guards refuse loudly") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("cm_guard"))
      .create(Seq((1L, "a", 1.0)).toDF("k", "p", "v"), Some("p"))
    assertThrows[IllegalArgumentException](t.renameColumn("p", "part"))
    assertThrows[IllegalArgumentException](t.dropColumn("p"))
    assertThrows[IllegalArgumentException](t.renameColumn("v", "k"))
    assertThrows[IllegalArgumentException](t.renameColumn("missing", "x"))
    // rename-away then re-use of the retired physical name is refused
    t.renameColumn("v", "amount")
    assertThrows[IllegalArgumentException](t.renameColumn("k", "v"))
    // …but renaming BACK to the original name is fine (identity mapping)
    t.renameColumn("amount", "v")
    assert(t.read().columns.toSeq == Seq("k", "p", "v"))
  }

  test("SQL ALTER TABLE RENAME/DROP COLUMN through the catalog") {
    val cat = tmp("cm_sqlcat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.cmcat",
      "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.cmcat.root", cat)
    s.sql("CREATE NAMESPACE cmcat.ns")
    s.sql("CREATE TABLE cmcat.ns.t (k BIGINT, v DOUBLE) USING `graft-snapshot`")
    s.sql("INSERT INTO cmcat.ns.t VALUES (1, 10.0), (2, 20.0)")
    s.sql("ALTER TABLE cmcat.ns.t RENAME COLUMN v TO amount")
    assert(s.table("cmcat.ns.t").columns.toSeq == Seq("k", "amount"))
    s.sql("INSERT INTO cmcat.ns.t VALUES (3, 30.0)")
    assert(s.sql("SELECT sum(amount) FROM cmcat.ns.t").head().getDouble(0)
      == 60.0)
    s.sql("ALTER TABLE cmcat.ns.t DROP COLUMN amount")
    assert(s.table("cmcat.ns.t").columns.toSeq == Seq("k"))
    // filter pushdown on the surviving column still plans
    assert(s.sql("SELECT * FROM cmcat.ns.t WHERE k = 2").count() == 1)
  }

  test("REORG APPLY (PURGE) physically sheds dropped-column data") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("cm_reorg"))
      .create(Seq((1L, 10.0, "secret"), (2L, 20.0, "pii")).toDF("k", "v", "tag"))
    t.dropColumn("tag")
    // the physical bytes still hold the column until REORG purges
    assert(spark.read.parquet(t.files.head.path)
      .schema.fieldNames.contains("tag"))
    val rewritten = t.optimize(purge = true)
    assert(rewritten > 0)
    // every current file is now physically free of the dropped column
    t.files.foreach(e => assert(!spark.read.parquet(e.path)
      .schema.fieldNames.contains("tag"), e.path))
    assert(t.read().orderBy("k").select("v").as[Double].collect()
      .toSeq == Seq(10.0, 20.0))
    // idempotent: a second REORG finds nothing to purge
    assert(t.optimize(purge = true) == 0)
  }

  test("OR REPLACE deep clone resets the target's stale mapping and sidecar") {
    import spark.implicits._
    val tgtPath = tmp("cm_dc_tgt")
    val tgt = new SnapshotTable(spark, tgtPath)
      .create(Seq((1L, 1.0, "old")).toDF("k", "v", "note"))
    tgt.dropColumn("note")                       // target mapping: note dropped
    tgt.withProperty("constraint.check.v_pos", "v > 0") // stale sidecar
    val src = new SnapshotTable(spark, tmp("cm_dc_src"))
      .create(Seq((7L, 7.0, "fresh")).toDF("k", "v", "note"))
    src.deepCloneTo(tgtPath, orReplace = true)
    val replaced = new SnapshotTable(spark, tgtPath)
    // the source's `note` column must be VISIBLE (the target's dropped-
    // column tombstone must not hide it) with the source's values
    assert(replaced.read().columns.toSeq == Seq("k", "v", "note"))
    assert(replaced.read().select("note").collect().map(_.getString(0))
      .toSeq == Seq("fresh"))
    // the stale sidecar (old CHECK constraint) is gone too
    assert(!replaced.propertiesMap.contains("constraint.check.v_pos"))
    // prior history stays time-travelable
    assert(replaced.read(0).columns.toSeq == Seq("k", "v", "note"))
  }

  test("OR REPLACE deep clone ignores the target's stale RENAMES on the copy write") {
    import spark.implicits._
    // the re-clone-from-backup case: the target renamed v -> w, so its
    // stale mapping is {w -> v}; the SOURCE (a backup taken after the
    // rename) carries the LOGICAL name w. The replace write must store
    // the source's w AS w — translating it through the stale mapping
    // would write physical `v`, and the reset (empty) mapping would then
    // surface the wrong column name.
    val tgtPath = tmp("cm_dcren_tgt")
    val tgt = new SnapshotTable(spark, tgtPath)
      .create(Seq((1L, 1.0)).toDF("k", "v"))
    tgt.renameColumn("v", "w") // target mapping: w -> v (stale after replace)
    val src = new SnapshotTable(spark, tmp("cm_dcren_src"))
      .create(Seq((7L, 7.5), (8L, 8.5)).toDF("k", "w"))
    src.deepCloneTo(tgtPath, orReplace = true)
    val replaced = new SnapshotTable(spark, tgtPath)
    assert(replaced.read().columns.toSeq == Seq("k", "w"))
    assert(replaced.read().orderBy("k").select("w").as[Double].collect()
      .toSeq == Seq(7.5, 8.5))
    // history below the replace still reads the target's own schema
    assert(replaced.read(1).columns.toSeq == Seq("k", "w"))
    assert(replaced.read(0).columns.toSeq == Seq("k", "v"))
  }

  test("rename/drop refuse on columns referenced by constraints, generation, clustering") {
    val cat = tmp("cm_ref_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.refcat", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.refcat.root", cat)
    s.sql("CREATE NAMESPACE refcat.ns")
    s.sql("CREATE TABLE refcat.ns.t (k BIGINT, v DOUBLE, " +
      "doubled DOUBLE GENERATED ALWAYS AS (v * 2)) CLUSTER BY (k)")
    s.sql("INSERT INTO refcat.ns.t (k, v) VALUES (1, 10.0)")
    s.sql("ALTER TABLE refcat.ns.t ADD CONSTRAINT v_pos CHECK (v > 0)")
    // v anchors a CHECK predicate AND a generation expression
    intercept[Exception](s.sql("ALTER TABLE refcat.ns.t RENAME COLUMN v TO w"))
    intercept[Exception](s.sql("ALTER TABLE refcat.ns.t DROP COLUMN v"))
    // k anchors the clustering spec
    intercept[Exception](s.sql("ALTER TABLE refcat.ns.t RENAME COLUMN k TO id"))
    // lifting the references unlocks the ALTERs
    s.sql("ALTER TABLE refcat.ns.t DROP CONSTRAINT v_pos")
    s.sql("ALTER TABLE refcat.ns.t DROP COLUMN doubled")
    s.sql("ALTER TABLE refcat.ns.t CLUSTER BY NONE")
    s.sql("ALTER TABLE refcat.ns.t RENAME COLUMN v TO w")
    s.sql("ALTER TABLE refcat.ns.t RENAME COLUMN k TO id")
    assert(s.table("refcat.ns.t").columns.toSeq == Seq("id", "w"))
  }

  test("shallow clone carries the mapping; CDF reads per-version names") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("cm_clone"))
      .create(Seq((1L, 10.0)).toDF("k", "v"))
    t.merge(Seq((1L, 11.0)).toDF("k", "v"), Seq("k"), trackChanges = true) // v1
    t.renameColumn("v", "amount") // v2
    t.merge(Seq((1L, 12.0)).toDF("k", "amount"), Seq("k"),
      trackChanges = true) // v3
    // CDF of v1 reads pre-rename names; v3 post-rename names
    assert(t.changes(1).columns.contains("v"))
    assert(t.changes(3).columns.contains("amount"))
    val c = t.shallowCloneTo(tmp("cm_clone_dst"))
    assert(c.read().columns.toSeq == Seq("k", "amount"))
    assert(c.read().select("amount").as[Double].head() == 12.0)
  }
}
