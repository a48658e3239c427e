package graft

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.Replace
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** SnapshotTable DML semantics: copy-on-write MERGE (with partition
  * pruning + manifest carry-over), compaction invariance, history/detail
  * metadata. */
class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("merge updates matched keys and inserts new ones") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "p", "v")
    val src = Seq((2L, "a", 99.0), (4L, "b", 40.0)).toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("m"))
      .create(base, Some("p"))
      .merge(src, Seq("k", "p"), Some("p"))
    val got = t.read().orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "a", 99.0), (3L, "b", 30.0),
      (4L, "b", 40.0)))
  }

  test("partition-pruned merge carries over untouched partitions by reference") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "p", "v").repartition(3)
    val src = Seq((1L, "a", 9.0)).toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("mp"))
      .create(base, Some("p"))
      .merge(src, Seq("k", "p"), Some("p"))
    // b and c partition files must be the version-0 files (carried over,
    // not rewritten): their paths still point into the c00000 data dir.
    val carried = t.files.filter(e => e.partValue == "b" || e.partValue == "c")
    assert(carried.nonEmpty && carried.forall(_.path.contains("c00000")))
    // carried manifest entries keep their footer row counts
    assert(t.countFromManifest == 3)
    assert(t.read().orderBy("k").collect().map(_.getDouble(2)).toSeq ==
      Seq(9.0, 2.0, 3.0))
  }

  test("mergeDelete removes matched keys and prunes untouched partitions") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
      .toDF("k", "p", "v").repartition(2)
    val del = Seq((2L, "a")).toDF("k", "p")
    val t = new SnapshotTable(spark, tmp("md"))
      .create(base, Some("p"))
      .merge(del, Seq("k", "p"), Some("p"), deleteMatched = true)
    assert(t.read().orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L))
    // the b partition was not named by the delete source → carried over
    val carried = t.files.filter(_.partValue == "b")
    assert(carried.nonEmpty && carried.forall(_.path.contains("c00000")))
    assert(t.countFromManifest == 2)
    // history records the delete commit
    assert(t.history.orderBy("version").collect().map(_.getString(1)).toSeq
      == Seq("CREATE", "MERGE_DELETE"))
  }

  test("compaction preserves data and resets the file count") {
    val li = Tables.load(spark, sf, "lineitem")
    val t = new SnapshotTable(spark, tmp("c"))
      .create(li.repartition(16))
    val before = t.read().agg(sum("l_quantity")).head().getDouble(0)
    t.compact(2)
    assert(t.files.size == 2)
    assert(t.read().agg(sum("l_quantity")).head().getDouble(0) == before)
    assert(t.countFromManifest == li.count())
  }

  test("history records one commit row per operation in order") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("h"))
      .create(base, Some("p"))
      .merge(Seq((3L, "a", 3.0)).toDF("k", "p", "v"), Seq("k", "p"), Some("p"))
      .compact(1, Some("p"))
    val hist = t.history.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getLong(3))).toSeq
    assert(hist == Seq((0, "CREATE", 2L), (1, "MERGE", 3L), (2, "COMPACT", 3L)))
  }

  test("mergeDeferred appends deltas; read resolves last-writer-wins per key") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("mor"))
      .create(base, Some("p"))
      .merge(Seq((2L, "a", 99.0), (4L, "b", 40.0)).toDF("k", "p", "v"),
        Seq("k", "p"), Some("p"), deferred = true)
      .merge(Seq((2L, "a", 77.0)).toDF("k", "p", "v"),
        Seq("k", "p"), Some("p"), deferred = true)
    // base files untouched — both MoR commits only appended delta files
    assert(t.files.forall(_.path.contains("c00000")))
    val got = t.read().orderBy("k").collect().map(r =>
      (r.getLong(0), r.getDouble(2))).toSeq
    // k=2 takes the NEWEST delta (77.0), k=4 inserted, k=1/3 from base
    assert(got == Seq((1L, 10.0), (2L, 77.0), (3L, 30.0), (4L, 40.0)))
    // partition-scoped read resolves within the partition
    assert(t.read().filter(col("p") === "a").orderBy("k").collect().map(_.getDouble(2)).toSeq
      == Seq(10.0, 77.0))
    // compaction folds deltas into base files and drops delta entries
    t.compact(1)
    assert(t.read().orderBy("k").collect().map(r =>
      (r.getLong(0), r.getDouble(2))).toSeq == got)
    assert(t.countFromManifest == 4)
  }

  test("mergeDeleteDeferred tombstones delete at read; re-upsert resurrects") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("mordel"))
      .create(base, Some("p"))
      .merge(Seq((4L, "b", 40.0)).toDF("k", "p", "v"),
        Seq("k", "p"), Some("p"), deferred = true)
      .merge(Seq((2L, "a"), (4L, "b")).toDF("k", "p"),
        Seq("k", "p"), Some("p"), deleteMatched = true, deferred = true)
    // base files untouched — tombstones are delta files of keys only
    assert(t.files.forall(_.path.contains("c00000")))
    assert(t.read().orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // a key upserted AFTER its tombstone resurfaces with the newer row
    t.merge(Seq((2L, "a", 55.0)).toDF("k", "p", "v"),
      Seq("k", "p"), Some("p"), deferred = true)
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 55.0), (3L, 30.0)))
    // partition-scoped read applies tombstones within the partition
    assert(t.read().filter(col("p") === "b").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // compaction folds tombstones away; no marker column leaks
    t.compact(1)
    assert(t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq == got)
    assert(!t.read().columns.contains(SnapshotTable.DelCol))
    assert(t.countFromManifest == 3)
  }

  test("CoW merge on a table with pending deltas folds them in") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("morc"))
      .create(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "v"), Some("p"))
      .merge(Seq((1L, "a", 9.0)).toDF("k", "p", "v"), Seq("k", "p"), Some("p"),
        deferred = true)
      .merge(Seq((2L, "b", 8.0)).toDF("k", "p", "v"), Seq("k", "p"), Some("p"))
    assert(t.read().orderBy("k").collect().map(_.getDouble(2)).toSeq
      == Seq(9.0, 8.0))
  }

  test("shallowCloneTo shares files by reference; clone DML leaves source intact") {
    import spark.implicits._
    val src = new SnapshotTable(spark, tmp("clsrc"))
      .create(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "v"), Some("p"))
    val clone = src.shallowCloneTo(tmp("cldst"))
    // zero data copied: every clone file entry points into the source root
    assert(clone.files.nonEmpty && clone.files.forall(e =>
      src.files.exists(_.path == e.path)))
    clone.merge(Seq((1L, "a", 9.0)).toDF("k", "p", "v"), Seq("k", "p"), Some("p"))
    assert(clone.read().orderBy("k").collect().map(_.getDouble(2)).toSeq
      == Seq(9.0, 2.0))
    // source unchanged — clone rewrote only under its own root
    assert(src.read().orderBy("k").collect().map(_.getDouble(2)).toSeq
      == Seq(1.0, 2.0))
    // untouched partition still served from the shared source file
    assert(clone.files.filter(_.partValue == "b")
      .forall(e => src.files.exists(_.path == e.path)))
  }

  test("txn markers: replays skip, newer versions apply, markers carry forward") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("txn"))
      .create(Seq((1L, "a")).toDF("k", "s"))
    assert(t.txnVersion("app") === None)
    // whether an append of `k` tagged (app, id) committed
    def applied(k: Long, app: String, id: Long) = {
      val v = t.currentVersion
      t.append(Seq((k, "b")).toDF("k", "s"), txn = Some((app, id))).currentVersion > v
    }
    assert(applied(2L, "app", 1))
    assert(!applied(2L, "app", 1), "same (appId, version) must be a detected no-op")
    assert(t.read().count() === 2L, "the replay must not duplicate rows")
    assert(t.txnVersion("app") === Some(1L))
    // an unrelated commit between batches must not lose the marker
    t.merge(Seq((1L, "a2")).toDF("k", "s"), Seq("k"))
    assert(t.txnVersion("app") === Some(1L))
    assert(!applied(2L, "app", 1))
    // a NEWER version applies; other appIds are independent
    assert(applied(3L, "app", 2))
    assert(applied(4L, "other", 1))
    assert(t.read().count() === 4L)
    // merge-level txn: replayed keyed merge is skipped (version pinned)
    val vBefore = t.currentVersion
    t.merge(Seq((1L, "a3")).toDF("k", "s"), Seq("k"), txn = Some(("m", 1L)))
    t.merge(Seq((1L, "IGNORED")).toDF("k", "s"), Seq("k"), txn = Some(("m", 1L)))
    assert(t.currentVersion === vBefore + 1, "replayed merge must not commit")
    assert(t.read().filter(col("k") === 1L).head().getString(1) === "a3")
  }

  test("overwritePartitions replaces named partitions, carries the rest by reference") {
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, if (i % 2 == 0) "A" else "B", i * 1.0))
      .toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("ovw"))
      .create(df, partitionBy = Some("p"))
    val bFiles = t.files.filter(_.partValue == "B").map(_.path).toSet
    t.overwrite(
      Seq((100L, "A", 100.0), (101L, "A", 101.0)).toDF("k", "p", "v"), Some("p"), Replace.Present)
    // A replaced wholesale; B carried by reference (same physical files)
    val got = t.read().orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.count(_._2 == "A") === 2)
    assert(got.count(_._2 == "B") === 20)
    assert(t.files.filter(_.partValue == "B").map(_.path).toSet === bFiles)
    // mixed layout: a foreign-layout append may hold BOTH kinds of rows —
    // overwrite must rewrite it with the overwritten partition filtered out
    t.append(Seq((200L, "A", 200.0), (201L, "B", 201.0)).toDF("k", "p", "v"))
    t.overwrite(Seq((300L, "A", 300.0)).toDF("k", "p", "v"), Some("p"), Replace.Present)
    val ks = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ks.filter(_._2 == "A") === Set((300L, "A")),
      "foreign-file A rows must not survive the overwrite")
    assert(ks.contains((201L, "B")), "foreign-file B rows must survive")
    assert(ks.count(_._2 == "B") === 21)
  }

  test("overwritePartitions on a hidden months layout replaces only the data's months") {
    import spark.implicits._
    val base = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-02-10 00:00:00"), 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-02-20 00:00:00"), 3.0),
      (4L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 4.0))
      .toDF("k", "ts", "v")
    val t = new SnapshotTable(spark, tmp("ovwm"))
      .create(base, partitionBy = Some("months(ts)"))
    val otherMonths = t.files
      .filter(e => e.partValue != null && e.partValue != "2024-02")
      .map(_.path).toSet
    assert(otherMonths.nonEmpty)
    // one February row replaces exactly the 2024-02 partition — never a
    // full-table truncate (the silent-data-loss regression this pins)
    t.overwrite(
      Seq((20L, java.sql.Timestamp.valueOf("2024-02-15 00:00:00"), 20.0))
        .toDF("k", "ts", "v"), Some("months(ts)"), Replace.Present)
    assert(t.read().orderBy("k").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 4L, 20L))
    // untouched months carried by reference: same physical files
    assert(t.files.filter(e =>
      e.partValue != null && e.partValue != "2024-02").map(_.path).toSet
      == otherMonths)
    // a foreign-layout append holding two months' rows: a Feb overwrite
    // rewrites it keeping only the non-Feb rows
    t.append(Seq(
      (30L, java.sql.Timestamp.valueOf("2024-02-02 00:00:00"), 30.0),
      (31L, java.sql.Timestamp.valueOf("2024-03-12 00:00:00"), 31.0))
      .toDF("k", "ts", "v"))
    t.overwrite(
      Seq((40L, java.sql.Timestamp.valueOf("2024-02-28 00:00:00"), 40.0))
        .toDF("k", "ts", "v"), Some("months(ts)"), Replace.Present)
    val ks = t.read().collect().map(_.getLong(0)).toSet
    assert(ks == Set(1L, 4L, 31L, 40L),
      s"foreign-file Feb rows must not survive; others must: $ks")
  }

  test("shallow clone inherits the durable property sidecar") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("clonep"))
      .create(Seq((1L, "a")).toDF("k", "v"))
      .withProperty("partitionSpec", "months(ts)")
      .withBloomFilters("k")
    val c = t.shallowCloneTo(tmp("clonep_dst"))
    // a clone losing the spec would write later commits unpartitioned
    assert(c.property("partitionSpec").contains("months(ts)"))
    // bloom-filter columns ride along too (array-valued sidecar entry)
    assert(c.shallowCloneTo(tmp("clonep_dst2"))
      .property("partitionSpec").contains("months(ts)"),
      "clone-of-clone keeps properties")
  }

  test("overwritePartitionValues empties a filtered partition absent from the data") {
    import spark.implicits._
    val df = (0 until 30).map(i => (i.toLong, ('A' + i % 3).toChar.toString, i * 1.0))
      .toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("ovwv"))
      .create(df, partitionBy = Some("p"))
    val cFiles = t.files.filter(_.partValue == "C").map(_.path).toSet
    // REPLACE WHERE p IN ('A','B') with A-only data: B is EMPTIED (the
    // filter's set, not the data's), C carries by reference
    t.overwrite(Seq((100L, "A", 100.0)).toDF("k", "p", "v"), Some("p"),
      Replace.Values(Set(Some("A"), Some("B"))))
    val got = t.read().collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.filter(_._2 == "A").map(_._1).toSet == Set(100L))
    assert(!got.exists(_._2 == "B"), s"B must be emptied: ${got.toSeq}")
    assert(got.count(_._2 == "C") == 10)
    assert(t.files.filter(_.partValue == "C").map(_.path).toSet == cFiles)
    // an empty source empties every filtered partition instead of aborting
    t.overwrite(Seq.empty[(Long, String, Double)].toDF("k", "p", "v"), Some("p"),
      Replace.Values(Set(Some("C"))))
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(100L))
    // DYNAMIC overwrite of an empty source is a no-op (no partitions
    // present → nothing replaces), never an error or a truncate
    val vBefore = t.currentVersion
    t.overwrite(
      Seq.empty[(Long, String, Double)].toDF("k", "p", "v"), Some("p"), Replace.Present)
    assert(t.currentVersion == vBefore)
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(100L))
  }

  test("overwritePartitions treats NULL as a replaceable partition") {
    import spark.implicits._
    def p(i: Int): String = i % 3 match {
      case 0 => "A"; case 1 => "B"; case _ => null
    }
    val df = (0 until 30).map(i => (i.toLong, p(i), i * 1.0)).toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("ovwnull"))
      .create(df, partitionBy = Some("p"))
    assert(t.read().filter(col("p").isNull).count() === 10L)
    // source contains NULL rows → the null partition is REPLACED, not
    // duplicated; named partitions in the source replace as usual
    t.overwrite(
      Seq((100L, null.asInstanceOf[String], 100.0), (101L, "A", 101.0))
        .toDF("k", "p", "v"), Some("p"), Replace.Present)
    val got = t.read().collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.count(_._2.isEmpty) === 1, s"null partition must be replaced: ${got.toSeq}")
    assert(got.filter(_._2.isEmpty).map(_._1).toSet === Set(100L))
    assert(got.count(_._2.contains("A")) === 1)
    assert(got.count(_._2.contains("B")) === 10, "B untouched")
    // source WITHOUT nulls → the null partition survives untouched
    t.overwrite(Seq((200L, "B", 200.0)).toDF("k", "p", "v"), Some("p"), Replace.Present)
    val after = t.read().collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(after.filter(_._2.isEmpty).map(_._1).toSet === Set(100L))
    assert(after.count(_._2.contains("B")) === 1)
    // mixed layout: an unpartitioned append holding null AND named rows —
    // a null-replacing overwrite rewrites it keeping only the named rows
    t.append(Seq((300L, null.asInstanceOf[String], 300.0), (301L, "B", 301.0))
      .toDF("k", "p", "v"))
    t.overwrite(
      Seq((400L, null.asInstanceOf[String], 400.0)).toDF("k", "p", "v"), Some("p"), Replace.Present)
    val fin = t.read().collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(fin.filter(_._2.isEmpty).map(_._1).toSet === Set(400L),
      "foreign-file null rows must not survive a null-replacing overwrite")
    assert(fin.filter(_._2.contains("B")).map(_._1).toSet === Set(200L, 301L))
  }

  test("overwrite scopes keep their rules on DV marks, pending deltas and absent partitions") {
    import spark.implicits._
    def rows(p: String, ks: Seq[Int]) = ks.map(k => (k.toLong, p, k * 1.0)).toDF("k", "p", "v")
    def keys(t: SnapshotTable) = t.read().select("k").collect().map(_.getLong(0)).toSeq.sorted
    // partitions A (k 0-9), B (10-19) and C (20-29), DV marks on k = 5
    // and 15; with `deltas`, a pending merge-on-read delta re-prices k = 25
    def table(name: String, deltas: Boolean) = {
      val t = new SnapshotTable(spark, tmp(name)).create(rows("A", 0 until 10)
        .union(rows("B", 10 until 20)).union(rows("C", 20 until 30)), Some("p"))
      t.delete(col("k") === 5 || col("k") === 15, positional = true)
      if (deltas) t.merge(rows("C", Seq(25)).withColumn("v", lit(-1.0)), Seq("k"),
        Some("p"), deferred = true)
      t
    }
    def planned(t: SnapshotTable) = Replace.Planned(t.planFiles(col("p") === "A"),
      t.currentVersion, Seq(org.apache.spark.sql.sources.EqualTo("p", "A")))
    val a = rows("A", Seq(100, 101))
    val (b, c) = ((10 until 20).filterNot(_ == 15).map(_.toLong), (20 until 30).map(_.toLong))
    // "all" supersedes the pending delta and every mark
    val all = table("scope_all", deltas = true)
    all.overwrite(a, Some("p"))
    assert(keys(all) == Seq(100L, 101L) && all.deltaFiles.isEmpty && all.dvFiles.isEmpty)
    val scopes = Seq[(String, SnapshotTable => Replace, Seq[Long])](
      ("present", _ => Replace.Present, Seq(100L, 101L) ++ b ++ c),
      // C is named and the data has no row for it: emptied
      ("values", _ => Replace.Values(Set(Some("A"), Some("C"))), Seq(100L, 101L) ++ b),
      ("planned", planned, Seq(100L, 101L) ++ b ++ c))
    scopes.foreach { case (name, scope, left) =>
      val mor = table(s"scope_${name}_mor", deltas = true)
      intercept[IllegalArgumentException](mor.overwrite(a, Some("p"), scope(mor)))
      assert(mor.commitOperation(mor.currentVersion) == "MERGE_MOR", s"$name committed")
      val t = table(s"scope_$name", deltas = false)
      t.overwrite(a, Some("p"), scope(t))
      assert(keys(t) == left.sorted, name)
      assert(t.dvFiles.map(_.rows).sum == 1, s"$name: B's mark rides along, A's dies")
    }
    // "present" with no rows is a no-op, and without a layout it
    // replaces everything, deltas and marks included
    val t = table("scope_present_empty", deltas = true)
    val v = t.currentVersion
    t.overwrite(a.limit(0), Some("p"), Replace.Present)
    assert(t.currentVersion == v)
    t.overwrite(a, None, Replace.Present)
    assert(keys(t) == Seq(100L, 101L) && t.deltaFiles.isEmpty && t.dvFiles.isEmpty)
  }

  test("symlink manifest exports exactly the committed snapshot") {
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, if (i % 2 == 0) "A" else "B", i * 1.0))
      .toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("symlink"))
      .create(df, partitionBy = Some("p"))
    t.merge(Seq((0L, "A", 99.0)).toDF("k", "p", "v"), Seq("k", "p"),
      partitionBy = Some("p")) // supersedes partition A's v0 files
    val manifest = t.generateSymlinkManifest()
    val paths = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(manifest)),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
    assert(paths.toSet === t.files.map(_.path).toSet,
      "export must be exactly the current version's file list")
    assert(spark.read.parquet(paths: _*).count() === t.read().count())
    // unresolved MoR/DV state cannot be expressed as a file list
    t.merge(Seq((1L, "B", 7.0)).toDF("k", "p", "v"), Seq("k", "p"), deferred = true)
    val e = intercept[IllegalArgumentException](t.generateSymlinkManifest())
    assert(e.getMessage.contains("compacted state"))
  }

  test("compactSmallFiles folds only sub-threshold files, carries big ones") {
    import spark.implicits._
    val big = (0 until 5000).map(i => (i.toLong, s"row$i")).toDF("k", "s")
    val t = new SnapshotTable(spark, tmp("optsf")).create(big.coalesce(1))
    val bigPath = t.files.head.path
    (0 until 4).foreach(i =>
      t.append(Seq((10000L + i, s"small$i")).toDF("k", "s").coalesce(1)))
    assert(t.files.size === 5)
    t.optimize(minBytes = t.files.map(_.bytes).max)
    assert(t.files.map(_.path).contains(bigPath),
      "the big file must carry over by reference, not be rewritten")
    assert(t.files.size === 2, s"4 small files must fold into 1, got ${t.files.size}")
    assert(t.read().count() === 5004L)
    // idempotent when nothing qualifies: 0/1 small file → no new commit
    val v = t.currentVersion
    t.optimize(minBytes = t.files.map(_.bytes).max)
    assert(t.currentVersion === v)
  }

  test("unpartitioned OPTIMIZE bins small files by size, not into one file") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("optsf_flat"))
      .create((0L until 400L).map(k => (k, s"row$k")).toDF("k", "s").coalesce(1))
    (1 until 5).foreach(i => t.append((i * 400L until (i + 1) * 400L)
      .map(k => (k, s"row$k")).toDF("k", "s").coalesce(1)))
    val before = t.read().orderBy("k").collect().toSeq
    // 5 similar files totalling 2.5× the threshold, each under it
    val minBytes = t.files.map(_.bytes).sum * 2 / 5
    assert(t.files.size == 5 && t.files.forall(_.bytes < minBytes))
    assert(t.optimize(minBytes = minBytes) == 5)
    assert(t.files.size == 3,
      s"2.5 bins of small bytes must write 3 files, got ${t.files.size}")
    assert(t.read().orderBy("k").collect().toSeq == before)
  }

  test("scoped ZORDER and CLUSTER apply marks on rewritten files, keep marks on carried files") {
    import spark.implicits._
    def rows(lo: Long, hi: Long) = (lo until hi)
      .map(k => (k, k % 2, (k * 37 % 101).toDouble)).toDF("k", "p", "v").coalesce(1)
    def content(t: SnapshotTable) = t.read().orderBy("k").collect().toSeq
    // k % 5 == 0 marks 20 rows of each parity in [0, 200)
    val z = new SnapshotTable(spark, tmp("zorder_dv"))
      .create(rows(0, 100), partitionBy = Some("p"))
    z.append(rows(100, 200), partitionBy = Some("p"))
    z.delete(col("k") % 5 === 0, positional = true)
    assert(z.dvFiles.map(_.rows).sum == 40)
    val zBefore = content(z)
    val odd = z.files.filter(_.partValue == "1").map(_.path).toSet
    z.optimize(Some(Set("0")), zorderBy = Seq("k", "v"))
    assert(z.commitOperation(z.currentVersion) == "ZORDER")
    assert(content(z) == zBefore)
    assert(z.files.filter(_.partValue == "1").map(_.path).toSet == odd)
    assert(z.dvFiles.map(_.rows).sum == 20, "the carried partition's marks persist")
    // CLUSTER: the clustered file carries with its marks, the tail rewrites
    val c = new SnapshotTable(spark, tmp("cluster_dv")).create(rows(0, 100))
    c.withProperty(SnapshotTable.ClusterSpecProp, "k,v").optimize()
    val clustered = c.files.map(_.path).toSet
    c.append(rows(100, 200))
    c.delete(col("k") % 5 === 0, positional = true)
    val cBefore = content(c)
    assert(c.optimize() == 1)
    assert(c.commitOperation(c.currentVersion) == "CLUSTER")
    assert(content(c) == cBefore)
    assert(clustered.subsetOf(c.files.map(_.path).toSet))
    assert(c.dvFiles.map(_.rows).sum == 20, "the clustered file's marks persist")
  }

  test("partitioned writes split oversized partitions (optimized-write shape)") {
    import spark.implicits._
    // a partitioned CREATE/MERGE must not serialize a big partition
    // through one task → one unbounded file; with the advisory size
    // pinned low, the large partition must emit multiple files while
    // the small one stays single-file
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val old = spark.conf.get(advisory)
    spark.conf.set(advisory, "64KB")
    try {
      val df = (0 until 60000).map(i =>
        (i.toLong, if (i % 100 == 0) "small" else "big", s"pad-$i-${"x" * 40}"))
        .toDF("k", "p", "s")
      val t = new SnapshotTable(spark, tmp("ovwsplit"))
        .create(df, partitionBy = Some("p"))
      val big = t.files.count(_.partValue == "big")
      val small = t.files.count(_.partValue == "small")
      assert(big > 1, s"the big partition must split, got $big file(s)")
      // the tiny partition may ride along in a few of the split chunks
      // when it hash-collides with the big one (AQE slices a skewed
      // reducer by position, not key) — bounded, never sprayed
      assert(small <= big, s"tiny partition sprayed: $small > $big")
      assert(t.read().count() === 60000L)
    } finally spark.conf.set(advisory, old)
  }

  test("partitioned compactSmallFiles bins by size, never one file per partition") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("optsfp"))
      .create(Seq((0L, "A"), (1L, "B")).toDF("k", "p").coalesce(1),
        partitionBy = Some("p"))
    // partition A: 8 small files; partition B: 2 — a fixed-count or
    // one-per-partition rewrite would collapse A to a single unbounded
    // file (the 100 TB failure shape)
    (0 until 8).foreach(i =>
      t.append(Seq((100L + i, "A")).toDF("k", "p").coalesce(1),
        partitionBy = Some("p")))
    (0 until 2).foreach(i =>
      t.append(Seq((200L + i, "B")).toDF("k", "p").coalesce(1),
        partitionBy = Some("p")))
    val before = t.read().orderBy("k").collect().toSeq
    def bytesOf(pv: String) =
      t.files.filter(_.partValue == pv).map(_.bytes).sum
    val (aBytes, bBytes) = (bytesOf("A"), bytesOf("B"))
    // threshold above every single file but ~1/4 of A's total bytes:
    // each partition must bin into ceil(partitionBytes / minBytes) files
    val minBytes = math.max(t.files.map(_.bytes).max + 1, aBytes / 4 + 1)
    def bins(bytes: Long) = ((bytes - 1) / minBytes + 1).toInt
    val (expectA, expectB) = (bins(aBytes), bins(bBytes))
    assert(expectA >= 2, s"fixture must demand >1 bin for A, got $expectA")
    assert(expectA > expectB, "fixture must demand MORE bins for A than B")
    t.optimize(minBytes = minBytes)
    val aAfter = t.files.count(_.partValue == "A")
    val bAfter = t.files.count(_.partValue == "B")
    assert(aAfter === expectA,
      s"A holds ${expectA}× the target bytes — expected $expectA files, got $aAfter")
    assert(bAfter === expectB, s"B expected $expectB files, got $bAfter")
    assert(t.read().orderBy("k").collect().toSeq === before)
    // layout survives: every rewritten file is identity-partitioned on p
    assert(t.files.filter(_.rows > 0).forall(_.partCol == "p"))
    // scoping by partition demands a partition layout (silent no-op trap)
    val u = new SnapshotTable(spark, tmp("optsfp_u"))
      .create(Seq((1L, "x")).toDF("k", "s"))
    val e = intercept[IllegalArgumentException](
      u.optimize(Some(Set("x")), minBytes = 1024))
    assert(e.getMessage.contains("partitioned table"))
  }

  test("clone of a MoR table: the clone's new delta outranks carried deltas") {
    import spark.implicits._
    // source history: CREATE (v0) + deferred upsert (v1) — the carried
    // delta's origin (1) would collide with the clone's first own commit
    // without origin re-basing, making last-writer-wins a coin flip
    val src = new SnapshotTable(spark, tmp("clmor_src"))
      .create(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
      .merge(Seq((1L, "carried")).toDF("k", "s"), Seq("k"), deferred = true)
    val clone = src.shallowCloneTo(tmp("clmor_dst"))
    clone.merge(Seq((1L, "clone-wins")).toDF("k", "s"), Seq("k"), deferred = true)
    val got = clone.read().orderBy("k").collect().map(_.getString(1)).toSeq
    assert(got == Seq("clone-wins", "b"), s"got $got")
    // and a clone OF THE CLONE keeps the ordering (shift composes)
    val c2 = clone.shallowCloneTo(tmp("clmor_dst2"))
    c2.merge(Seq((1L, "c2-wins")).toDF("k", "s"), Seq("k"), deferred = true)
    assert(c2.read().orderBy("k").collect().map(_.getString(1)).toSeq
      == Seq("c2-wins", "b"))
    // source resolution is untouched by its clones
    assert(src.read().orderBy("k").collect().map(_.getString(1)).toSeq
      == Seq("carried", "b"))
  }

  test("vacuum deletes files of dropped versions but keeps retained reads") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("vac"))
      .create(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    t.merge(Seq((1L, 9.0)).toDF("k", "v"), Seq("k"))
    val removed = t.vacuum(retainVersions = 1)
    assert(removed >= 1) // version-0 files rewritten by the merge are gone
    assert(t.read().orderBy("k").collect().map(_.getDouble(1)).toSeq
      == Seq(9.0, 2.0))
    // time travel below the cutoff is gone with its manifest
    assertThrows[Exception](t.read(0).collect())
  }

  test("restoreTo rolls the current version back to an old file list, metadata-only") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("rst"))
      .create(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    val v0Files = t.files.map(_.path).toSet
    t.merge(Seq((1L, 9.0)).toDF("k", "v"), Seq("k"))
    t.restoreTo(0)
    // current read serves version-0 content again
    assert(t.read().orderBy("k").collect().map(_.getDouble(1)).toSeq
      == Seq(1.0, 2.0))
    // the restore is a commit: SAME file entries as v0 (no data copied)
    assert(t.files.map(_.path).toSet == v0Files)
    assert(t.history.orderBy("version").collect().map(_.getString(1)).toSeq
      == Seq("CREATE", "MERGE", "RESTORE"))
  }

  test("merge with trackChanges captures insert/update/delete CDC rows") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("cdc"))
      .create(Seq((1L, "a", 10.0), (2L, "a", 20.0)).toDF("k", "p", "v"), Some("p"))
    t.merge(Seq((2L, "a", 99.0), (3L, "a", 30.0)).toDF("k", "p", "v"),
      Seq("k", "p"), Some("p"), trackChanges = true)
    val ch = t.changes(1).orderBy("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getString(3))).toSeq
    assert(ch == Seq((2L, 99.0, "update_postimage"), (2L, 20.0, "update_preimage"),
      (3L, 30.0, "insert")))
    t.merge(Seq((1L, "a")).toDF("k", "p"), Seq("k", "p"), Some("p"),
      trackChanges = true, deleteMatched = true)
    val del = t.changes(2).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(del == Seq((1L, "delete")))
    // a commit without tracking carries no change files
    t.merge(Seq((4L, "a", 40.0)).toDF("k", "p", "v"), Seq("k", "p"), Some("p"))
    assertThrows[IllegalArgumentException](t.changes(3))
  }

  test("MoR CDC: deferred merge/delete changes resolve pre-images from pending deltas") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("morcdc"))
      .create(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("k", "p", "v"), Some("p"))
    // v1: untracked deferred upsert bumps k=1 to 11.0 (pending delta)
    t.merge(Seq((1L, "a", 11.0)).toDF("k", "p", "v"), Seq("k", "p"), Some("p"),
      deferred = true)
    // v2 tracked: k=1's update preimage MUST be the pending delta row
    // (11.0), not the stale base copy (10.0); k=4 is an insert
    t.merge(Seq((1L, "a", 12.0), (4L, "b", 40.0)).toDF("k", "p", "v"),
      Seq("k", "p"), Some("p"), trackChanges = true, deferred = true)
    val ch = t.changes(2).orderBy("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getString(3))).toSeq
    assert(ch == Seq((1L, 12.0, "update_postimage"), (1L, 11.0, "update_preimage"),
      (4L, 40.0, "insert")))
    // v3 tracked delete: k=1's pre-image is its NEWEST delta (12.0);
    // deleting the absent k=9 emits no change row
    t.merge(Seq((1L, "a"), (9L, "a")).toDF("k", "p"),
      Seq("k", "p"), Some("p"), trackChanges = true, deleteMatched = true, deferred = true)
    val del = t.changes(3).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getString(3))).toSeq
    assert(del == Seq((1L, 12.0, "delete")))
    // v4 tracked: re-upserting the tombstoned key classifies as INSERT
    t.merge(Seq((1L, "a", 13.0)).toDF("k", "p", "v"),
      Seq("k", "p"), Some("p"), trackChanges = true, deferred = true)
    assert(t.changes(4).collect().map(r => (r.getLong(0), r.getString(3))).toSeq
      == Seq((1L, "insert")))
    // the resolved read agrees with the applied change feed
    assert(t.read().orderBy("k").collect().map(_.getDouble(2)).toSeq
      == Seq(13.0, 20.0, 30.0, 40.0))
  }

  test("partition evolution: old layout prunes on metadata, new layout gets residual filter") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("pevo"))
      .create(Seq((1L, "a", "x", 1.0), (2L, "b", "x", 2.0), (3L, "b", "y", 3.0))
        .toDF("k", "p", "q", "v"), Some("p"))
      .append(Seq((4L, "a", "y", 4.0), (5L, "b", "y", 5.0))
        .toDF("k", "p", "q", "v"), Some("q"))
    // plan for p='b': files laid out by p prune exactly; q-layout files
    // stay planned for the row filter
    val planned = t.planFiles(col("p") === "b")
    val (pruned, residual) = planned.partition(_.partCol == "p")
    assert(pruned.nonEmpty && pruned.forall(_.partValue == "b"))
    assert(residual.toSet == t.files.filter(_.partCol == "q").toSet)
    assert(t.read().filter(col("p") === "b").orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L, 5L))
    // the evolved layout also serves its own column's filter with pruning
    val (prunedQ, residualQ) = t.planFiles(col("q") === "y").partition(_.partCol == "q")
    assert(prunedQ.forall(_.partValue == "y"))
    assert(residualQ.toSet == t.files.filter(_.partCol == "p").toSet)
    assert(t.read().filter(col("q") === "y").orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L))
  }

  test("footer stats power manifest min/max and file-level range pruning") {
    import spark.implicits._
    val df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .repartitionByRange(4, col("v")).sortWithinPartitions("v")
    val t = new SnapshotTable(spark, tmp("stats")).create(df)
    assert(t.files.size == 4)
    assert(t.statsMinMax("v").contains((0.0, 999.0)))
    assert(t.statsMinMax("k").contains((0.0, 999.0)))
    assert(t.statsMinMax("nope").isEmpty)
    // range [900, inf) must plan strictly fewer files than the table holds
    val picked = t.planFiles(col("v") >= 900.0)
    assert(picked.nonEmpty && picked.size < t.files.size)
    assert(t.read().filter(col("v") >= 900.0).count() == 100)
    // stats survive carry-over: merge touching nothing keeps old entries' stats
    val t2 = t.shallowCloneTo(tmp("stats2"))
    assert(t2.statsMinMax("v").contains((0.0, 999.0)))
  }

  test("decimal footer stats prune and answer min/max in value space") {
    // p = i / 4 as decimal(7,2), 0.25 … 39.25: the footers hold the
    // unscaled integers 25 … 3925
    val df = spark.range(1, 158)
      .selectExpr("id AS k", "CAST(id / 4.0 AS DECIMAL(7,2)) AS p")
      .repartitionByRange(4, col("p")).sortWithinPartitions("p")
    val t = new SnapshotTable(spark, tmp("stats_dec")).create(df)
    assert(t.files.size == 4)
    assert(t.statsMinMax("p").contains((0.25, 39.25)))
    val holding = t.files.filter(e => spark.read.parquet(e.path)
      .filter(col("p").between(10, 20)).count() > 0).map(_.path)
    assert(holding.nonEmpty && holding.size < t.files.size)
    assert(t.planFiles(col("p").between(10, 20)).map(_.path) == holding)
    assert(t.read().filter(col("p").between(10, 20)).count() == 41)
  }

  test("compactZOrder prunes files on BOTH clustered dimensions") {
    val o = Tables.load(spark, "/root/testdata/sf0.01", "orders")
    val t = new SnapshotTable(spark, tmp("zopt")).create(o.repartition(4))
    t.optimize(zorderBy = Seq("o_custkey", "o_orderkey"),
      minBytes = (t.files.map(_.bytes).sum + 15) / 16)
    assert(t.files.size == 16)
    // content preserved
    assert(t.countFromManifest == o.count())
    // a narrow range on EITHER dimension plans strictly fewer files —
    // the property a linear sort gives only its leading column
    val custPicked = t.planFiles(col("o_custkey").between(100, 200))
    val keyPicked = t.planFiles(col("o_orderkey").between(1000, 2000))
    assert(custPicked.nonEmpty && custPicked.size < t.files.size,
      s"custkey pruning: ${custPicked.size}/${t.files.size}")
    assert(keyPicked.nonEmpty && keyPicked.size < t.files.size,
      s"orderkey pruning: ${keyPicked.size}/${t.files.size}")
    // the pruned read equals a plain filter
    val expect = o.filter(col("o_custkey").between(100, 200)).count()
    assert(t.read().filter(col("o_custkey").between(100, 200)).count() == expect)
  }

  test("vacuum retains the current version's CDC files") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("vcdc"))
      .create(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    t.merge(Seq((1L, 9.0)).toDF("k", "v"), Seq("k"), trackChanges = true)
    t.vacuum(retainVersions = 1)
    assert(t.changes(1).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 1L))
  }

  test("vacuumOlderThan drops versions before the instant, keeps later reads") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("vts"))
      .create(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    t.merge(Seq((1L, 9.0)).toDF("k", "v"), Seq("k"))
    val tsAfterV1 = t.commitTimestamp(1)
    t.merge(Seq((2L, 8.0)).toDF("k", "v"), Seq("k"))
    // retain from the newest commit at-or-before tsAfterV1 (= v1) on
    t.vacuum(t.retentionSince(tsAfterV1).get)
    assert(t.read(1).orderBy("k").collect().map(_.getDouble(1)).toSeq
      == Seq(9.0, 2.0)) // v1 state: k1 updated, k2 original
    assert(t.read().orderBy("k").collect().map(_.getDouble(1)).toSeq == Seq(9.0, 8.0))
    // version 0 is gone — time travel below the cutoff fails
    assertThrows[Exception](t.read(0).collect())
  }

  test("commit of an already-written version fails loudly, winner intact") {
    import spark.implicits._
    val root = tmp("occ")
    new SnapshotTable(spark, root)
      .create(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    // Two writers that resolved the same base version race the commit of
    // the same manifest file; create-no-overwrite makes the slower one
    // fail loudly (optimistic concurrency, Delta-style) instead of
    // silently clobbering. Deterministic stand-in for the race: a second
    // CREATE of version 0 on the same root.
    assertThrows[Exception](
      new SnapshotTable(spark, root)
        .create(Seq((9L, 9.0)).toDF("k", "v")))
    // winner's commit is intact
    val t = new SnapshotTable(spark, root)
    assert(t.currentVersion == 0)
    assert(t.read().orderBy("k").collect().map(_.getDouble(1)).toSeq
      == Seq(1.0, 2.0))
  }

  test("hidden partitioning: transform pruning is metadata-only and exact") {
    import spark.implicits._
    val rows = (1 to 120).map(i =>
      (i.toLong, f"2024-${(i % 12) + 1}%02d-15 08:00:00", s"u${i % 10}"))
    val df = rows.toDF("k", "ts0", "u")
      .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")

    // months(ts): 12 month partitions; an equality probe on the raw ts
    // plans exactly one month's files, a quarter range plans three
    val tm = new SnapshotTable(spark, tmp("pxm"))
      .create(df, Some("months(ts)"))
    val xf1 = tm.planFiles(col("ts") === "2024-03-15 08:00:00")
    assert(xf1.nonEmpty && xf1.forall(_.partValue == "2024-03"))
    assert(xf1.size < tm.files.size)
    val q = tm.read().filter(
      col("ts").between("2024-02-01 00:00:00", "2024-04-30 23:59:59"))
    assert(q.count() == 30) // months 2,3,4 × 10 rows each
    assert(tm.read().count() == 120)

    // bucket(4, u): a point probe plans one bucket, result is exact
    val tb = new SnapshotTable(spark, tmp("pxu"))
      .create(df, Some("bucket(4, u)"))
    val xfB = tb.planFiles(col("u") === "u7")
    assert(xfB.nonEmpty && xfB.size < tb.files.size)
    assert(xfB.map(_.partValue).distinct.size == 1)
    assert(tb.read().filter(col("u") === "u7").count() == 12)

    // truncate(7, ...) on the string form == months for these values;
    // manifest roundtrip must preserve the transform across a reopen
    val rootT = tmp("pxr")
    new SnapshotTable(spark, rootT)
      .create(df.withColumn("s", col("ts").cast("string")).drop("ts"),
        Some("truncate(7, s)"))
    val reopened = new SnapshotTable(spark, rootT)
    val xfT = reopened.planFiles(col("s") === "2024-05-15 08:00:00")
    assert(xfT.nonEmpty && xfT.forall(_.partValue == "2024-05"))

    // layout evolution: append an UNPARTITIONED slice; range reads keep
    // its files for the row filter, transform files still prune
    tm.append(df.filter(col("k") <= 12))
    val q2 = tm.read().filter(
      col("ts").between("2024-03-01 00:00:00", "2024-03-31 23:59:59"))
    assert(q2.count() == 11) // 10 march rows + k∈{2} from the slice (i%12==2 → month 3)
  }

  test("detail aggregates manifest stats without scanning data") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("d"))
      .create(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").repartition(2))
    val row = t.detail.head()
    assert(row.getAs[Int]("version") == 0)
    assert(row.getAs[Long]("num_files") == 2L)
    assert(row.getAs[Long]("num_rows") == 2L)
    assert(row.getAs[Long]("total_bytes") > 0L)
  }
}
