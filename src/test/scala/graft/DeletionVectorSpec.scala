package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Positional deletion vectors (Iceberg position-delete / Delta DV
  * analog): deletes recorded as (file, row-position) marks with no base
  * rewrite. This spec pins what the oracle gate cannot see — that base
  * files are untouched by the commit, that marks address only
  * stat-intersecting files, exact metadata row accounting, overlap
  * idempotence, composition with MoR deltas and CoW rewrites, compaction
  * fold, vacuum retention of DV files, and OCC conflict semantics. */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 100 rows range-clustered on k into 4 files (k-spans 0-24 / 25-49 /
    * 50-74 / 75-99), so footer stats make file skipping observable. */
  private def rangeTable(prefix: String): SnapshotTable = {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, i.toLong % 7, s"r$i"))
      .toDF("k", "g", "s")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    new SnapshotTable(spark, Scratch.dir(prefix)).create(df)
  }

  test("positional delete removes rows without rewriting any base file") {
    val t = rangeTable("dv_basic")
    val before = t.files.map(_.path).toSet
    t.delete(col("k").between(10, 30), positional = true)
    assert(t.files.map(_.path).toSet == before,
      "base file set must be unchanged by a DV commit")
    val ks = t.read().select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == ((0L to 9L) ++ (31L to 99L)))
    assert(t.countFromManifest == 79L, "metadata count must subtract marks")
    assert(t.dvFiles.map(_.rows).sum == 21L)
  }

  test("marks address only stat-intersecting files, in manifest path format") {
    val t = rangeTable("dv_skip")
    t.delete(col("k").between(10, 30), positional = true)
    val markFiles = t.read(t.currentVersion) // touch nothing; read dv parquet directly
    val dvPaths = spark.read.parquet(t.dvFiles.map(_.path): _*)
      .select(SnapshotTable.DvFileCol).distinct()
      .collect().map(_.getString(0)).toSet
    val basePaths = t.files.map(_.path).toSet
    assert(dvPaths.subsetOf(basePaths),
      s"DV file addresses $dvPaths must render exactly as manifest paths")
    // k in [10,30] spans only the first two range files
    assert(dvPaths.size == 2, s"expected marks in 2 files, got ${dvPaths.size}")
    assert(markFiles.columns.contains("k"))
  }

  test("a positional delete that matches no row commits nothing") {
    val t = rangeTable("dv_nomatch")
    val v = t.currentVersion
    t.delete(col("k").between(200, 300), positional = true) // no candidate
    t.delete(col("s") === "none", positional = true) // every file, no row
    assert(t.currentVersion == v, "a delete matching nothing must not commit")
    assert(t.dvFiles.isEmpty)
  }

  test("overlapping re-delete never duplicates marks (exact accounting)") {
    val t = rangeTable("dv_overlap")
    t.delete(col("k").between(10, 30), positional = true)
    t.delete(col("k").between(20, 40), positional = true) // overlaps [20,30]
    assert(t.countFromManifest == 69L)
    assert(t.dvFiles.map(_.rows).sum == 31L)
    assert(t.read().count() == 69L)
  }

  test("a pending upsert delta survives a positional delete of its base copy") {
    import spark.implicits._
    val t = rangeTable("dv_mor")
    // newer version of k=15 lives in a delta; base copy of k=15 is stale
    t.merge(Seq((15L, 99L, "fresh")).toDF("k", "g", "s"), Seq("k"), deferred = true)
    t.delete(col("k").between(10, 20), positional = true)
    val rows = t.read().filter(col("k") === 15L).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("s") == "fresh",
      "delta layer is newer than the DV'd base copy and must win")
    // keys 10-20 except 15 are gone for good
    assert(t.read().filter(col("k").between(10, 20)).count() == 1L)
  }

  test("tracked positional delete emits LOGICAL deletes only (delta keys excluded)") {
    import spark.implicits._
    val t = rangeTable("dv_cdc_mor")
    // k=15's current value lives in a pending upsert delta; k=17 is
    // already tombstoned. Positionally deleting their stale/retired base
    // copies must NOT surface in the change feed — neither key's logical
    // state changes (15 survives via the delta; 17 was already gone).
    t.merge(Seq((15L, 99L, "fresh")).toDF("k", "g", "s"), Seq("k"), deferred = true)
    t.merge(Seq(Tuple1(17L)).toDF("k"), Seq("k"), deleteMatched = true, deferred = true)
    t.delete(col("k").between(10, 20), positional = true, trackChanges = true)
    val fed = t.changes(t.currentVersion)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(fed == ((10L to 20L).filterNot(k => k == 15L || k == 17L)),
      s"feed must hold logical deletes only, got $fed")
    // the resolved read agrees: 15 survives, the rest of [10,20] is gone
    assert(t.read().filter(col("k").between(10, 20)).count() == 1L)
  }

  test("CoW merge applies DV marks on touched partitions and carries the rest") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, (i % 4).toLong, s"r$i"))
      .toDF("k", "g", "s")
    val t = new SnapshotTable(spark, Scratch.dir("dv_cow"))
      .create(df, partitionBy = Some("g"))
    // marks across all 4 partitions
    t.delete(col("k").between(0, 49), positional = true)
    val markedRows = t.dvFiles.map(_.rows).sum
    assert(markedRows == 50L)
    // merge touches only partition g=0 → its marks are applied in the
    // rewrite; marks for g=1..3 must survive the carry
    t.merge(Seq((0L, 0L, "merged")).toDF("k", "g", "s"),
      Seq("k", "g"), partitionBy = Some("g"))
    val left = t.dvFiles.map(_.rows).sum
    assert(left > 0 && left < markedRows,
      s"carried DV rows $left must shrink but not vanish")
    val ks = t.read().select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == (0L +: (50L until 100L).toSeq),
      "k=0 resurrected by the merge; 1-49 stay deleted; 50-99 untouched")
  }

  test("compact folds deletion vectors away; read is unchanged") {
    val t = rangeTable("dv_compact")
    t.delete(col("k").between(10, 30), positional = true)
    t.compact(numFiles = 2)
    assert(t.dvFiles.isEmpty, "compaction must fold DV marks into the base")
    assert(t.read().count() == 79L)
    assert(t.countFromManifest == 79L)
  }

  test("vacuum retains the DV files the current version references") {
    val t = rangeTable("dv_vacuum")
    t.delete(col("k").between(10, 30), positional = true)
    t.vacuum(retainVersions = 1)
    assert(t.read().count() == 79L, "DV files must survive vacuum")
  }

  test("restore to a pre-delete version brings every row back") {
    val t = rangeTable("dv_restore")
    t.delete(col("k").between(10, 30), positional = true)
    t.restoreTo(0)
    assert(t.read().count() == 100L)
  }

  test("NULL-predicate rows are never marked (SQL three-valued logic)") {
    import spark.implicits._
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(5L), "c")).toDF("k", "s")
    val t = new SnapshotTable(spark, Scratch.dir("dv_null")).create(df)
    t.delete(col("k").between(0, 10), positional = true)
    assert(t.read().select("s").collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("positional delete with trackChanges emits full-width delete rows") {
    val t = rangeTable("dv_cdc")
    t.delete(col("k").between(10, 12), positional = true, trackChanges = true)
    val ch = t.changes(t.currentVersion)
    assert(ch.count() == 3L)
    assert(ch.select(SnapshotTable.ChangeCol).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("delete"))
    assert(ch.columns.contains("s"), "CDC rows carry the full row image")
  }

  // k ∈ [0,5] marks odd keys too — partition g=1 is the writer's rewrite
  // slice, so this is a true conflict under the narrowed DV-aware OCC
  // rule (disjoint DV commits ride along instead; see ConcurrencySpec).
  test("a concurrent DV commit on the writer's slice conflicts with OCC merge") {
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, (i % 2).toLong, s"r$i"))
      .toDF("k", "g", "s")
    val t = new SnapshotTable(spark, Scratch.dir("dv_occ"))
      .create(df, partitionBy = Some("g"))
    val src = Seq((1L, 1L, "w1")).toDF("k", "g", "s")
    val rival = new SnapshotTable(spark, t.location)
    intercept[java.util.ConcurrentModificationException] {
      t.withCommitHook(rival.delete(col("k").between(0, 5), positional = true)) {
        t.merge(src, Seq("k", "g"), Some("g"))
      }
    }
  }
}
