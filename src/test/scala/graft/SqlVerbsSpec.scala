package graft

import graft.sources.{GraftSqlCatalog, SnapshotTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 SQL surface parity: path-addressed verbs and reads
  * (`` graft.`/abs/path` `` — the reference's own Delta spelling,
  * IncrementalTPCDSBenchmark.scala:192/213, FileCountBenchmark
  * .scala:149), RESTORE / SHALLOW CLONE / table_changes spellings,
  * the Hudi run_compaction CALL alias, n-ary + partition-scoped
  * OPTIMIZE ZORDER, and layout-preserving compaction. */
class SqlVerbsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.gverb", classOf[GraftSqlCatalog].getName)
    s.conf.set("spark.sql.catalog.gverb.root",
      java.nio.file.Files.createTempDirectory("graft_verbs").toString)
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(s"graft_$p").toString

  test("path-addressed maintenance verbs and batch SQL reads") {
    import spark.implicits._
    val root = tmp("pathverbs")
    val t = new SnapshotTable(spark, root)
      .create((0L until 400L).map(k => (k, k % 7)).toDF("k", "c").coalesce(1))
    t.append((400L until 800L).map(k => (k, k % 7)).toDF("k", "c").coalesce(1))
    // batch read by path — no catalog registration anywhere
    assert(sql(s"SELECT count(*), sum(k) FROM graft.`$root`").head.toSeq
      == Seq(800L, (0L until 800L).sum))
    // pushdown still applies on the path route (same engine relation)
    assert(sql(s"SELECT count(*) FROM graft.`$root` WHERE k < 10")
      .head.getLong(0) == 10L)
    // maintenance verbs by path
    val opt = sql(s"OPTIMIZE graft.`$root`").head
    assert(opt.getLong(1) < opt.getLong(0), s"got $opt")
    assert(sql(s"DESCRIBE HISTORY graft.`$root`").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((0, "CREATE"), (1, "APPEND"), (2, "OPTIMIZE")))
    assert(sql(s"DESCRIBE DETAIL graft.`$root`").head.getLong(3) == 800L)
    // table_features audits active engine features without manifests:
    // plain table → empty; flip properties/state → features surface
    assert(sql(s"DESCRIBE DETAIL graft.`$root`").head
      .getAs[String]("table_features") == "")
    t.withProperty(graft.sources.SnapshotTable.RowTrackingProp, "true")
    t.withProperty(graft.sources.GraftV2Table.DvDeleteProp, "true")
    val feats = sql(s"DESCRIBE DETAIL graft.`$root`").head
      .getAs[String]("table_features").split(",").toSet
    assert(feats.contains("rowTracking") && feats.contains("deletionVectors"),
      feats.mkString(","))
    val vac = sql(s"VACUUM graft.`$root` RETAIN 1 VERSIONS").head
    assert(vac.getInt(0) > 0)
    assert(sql(s"SELECT count(*) FROM graft.`$root`").head.getLong(0) == 800L)
    // a mutating verb on a db-member path is refused like the catalog
    // route refuses it (path spelling must not bypass published pins)
    val dbroot = tmp("pathdb")
    val db = new graft.sources.GraftDatabase(spark, dbroot)
    db.transact(Seq("m"))(d => d.table("m").create(Seq(1L).toDF("k")): Unit)
    val e = intercept[Exception] { sql(s"OPTIMIZE graft.`$dbroot/m`") }
    assert(e.getMessage.contains("transaction database"), e.getMessage)
    // the DRY RUN preview carries the same guard — listing "reclaimable"
    // files the real VACUUM refuses to touch invites out-of-band deletes
    val e2 = intercept[Exception] { sql(s"VACUUM graft.`$dbroot/m` DRY RUN") }
    assert(e2.getMessage.contains("transaction database"), e2.getMessage)
  }

  test("RESTORE TABLE to version and timestamp") {
    sql("CREATE NAMESPACE gverb.rst")
    sql("CREATE TABLE gverb.rst.t (k BIGINT)")                    // v0
    sql("INSERT INTO gverb.rst.t VALUES (1), (2)")                // v1
    Thread.sleep(5)
    val tsAfterV1 = new java.sql.Timestamp(System.currentTimeMillis()).toString
    Thread.sleep(5)
    sql("INSERT OVERWRITE gverb.rst.t VALUES (9)")                // v2
    assert(sql("SELECT count(*) FROM gverb.rst.t").head.getLong(0) == 1)
    val r = sql("RESTORE TABLE gverb.rst.t TO VERSION AS OF 1").head // v3
    assert(r.getInt(0) == 1 && r.getInt(1) == 3, s"got $r")
    assert(sql("SELECT sum(k) FROM gverb.rst.t").head.getLong(0) == 3)
    // restore is itself versioned: going back to the overwrite works
    sql("RESTORE gverb.rst.t TO VERSION AS OF 2")                 // v4
    assert(sql("SELECT sum(k) FROM gverb.rst.t").head.getLong(0) == 9)
    // timestamp form resolves through the manifest commit instants
    sql(s"RESTORE TABLE gverb.rst.t TO TIMESTAMP AS OF '$tsAfterV1'") // v5
    assert(sql("SELECT sum(k) FROM gverb.rst.t").head.getLong(0) == 3)
    // date-only timestamps parse (Delta accepts them), and restoring to
    // the version already current is a no-op success, not an error
    val tomorrow = java.time.LocalDate.now().plusDays(1).toString
    val n = sql(s"RESTORE gverb.rst.t TO TIMESTAMP AS OF '$tomorrow'").head
    assert(n.getInt(0) == 5 && n.getInt(1) == 5, s"no-op restore: $n")
    assert(sql("SELECT sum(k) FROM gverb.rst.t").head.getLong(0) == 3)
    // Delta also accepts RESTORE without TO
    sql("RESTORE gverb.rst.t VERSION AS OF 2")                    // v6
    assert(sql("SELECT sum(k) FROM gverb.rst.t").head.getLong(0) == 9)
  }

  test("VACUUM DRY RUN previews reclaimable files without deleting") {
    sql("CREATE NAMESPACE gverb.vdr")
    sql("CREATE TABLE gverb.vdr.t (k BIGINT)")                    // v0
    sql("INSERT INTO gverb.vdr.t VALUES (1), (2)")                // v1
    sql("INSERT OVERWRITE gverb.vdr.t VALUES (9)")                // v2
    val preview = sql("VACUUM gverb.vdr.t RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0))
    assert(preview.nonEmpty && preview.forall(_.endsWith(".parquet")))
    // nothing was deleted — history still time-travels
    assert(sql("SELECT count(*) FROM gverb.vdr.t VERSION AS OF 1")
      .head.getLong(0) == 2)
    // the real vacuum reclaims exactly the previewed set
    val vac = sql("VACUUM gverb.vdr.t RETAIN 1 VERSIONS").head
    assert(vac.getInt(0) == preview.length, s"preview promised " +
      s"${preview.length}, vacuum reclaimed ${vac.getInt(0)}")
    // post-reclamation, a bare DRY RUN (168 h default window) is empty
    assert(sql("VACUUM gverb.vdr.t DRY RUN").collect().isEmpty)
    assert(sql("SELECT sum(k) FROM gverb.vdr.t").head.getLong(0) == 9)
  }

  test("CREATE TABLE … DEEP CLONE copies data; source vacuum cannot strand it") {
    sql("CREATE NAMESPACE gverb.dcl")
    sql("""CREATE TABLE gverb.dcl.src (k BIGINT, s STRING)
           PARTITIONED BY (s)""")
    sql("INSERT INTO gverb.dcl.src VALUES (1, 'A'), (2, 'B')")    // v1
    sql("INSERT INTO gverb.dcl.src VALUES (3, 'A')")              // v2
    val c = sql(
      "CREATE TABLE gverb.dcl.dst DEEP CLONE gverb.dcl.src VERSION AS OF 1")
      .head
    assert(c.getInt(0) == 1, s"clone pinned at v1: $c")
    assert(sql("SELECT sum(k) FROM gverb.dcl.dst").head.getLong(0) == 3)
    val root = spark.conf.get("spark.sql.catalog.gverb.root")
    val srcPaths =
      new SnapshotTable(spark, s"$root/dcl/src").files.map(_.path).toSet
    val dst = new SnapshotTable(spark, s"$root/dcl/dst")
    assert(dst.files.map(_.path).toSet.intersect(srcPaths).isEmpty,
      "deep clone must share NO files with the source")
    // the source's identity layout carries to the copy
    assert(dst.files.filter(_.rows > 0).forall(_.partCol == "s"))
    // source history rewritten + reclaimed: the deep clone is unaffected
    // (the shallow clone's one stranding hazard, closed by construction)
    sql("INSERT OVERWRITE gverb.dcl.src VALUES (9, 'Z')")
    sql("VACUUM gverb.dcl.src RETAIN 1 VERSIONS")
    assert(sql("SELECT sum(k) FROM gverb.dcl.dst").head.getLong(0) == 3)
    // OR REPLACE deep-copies the source's CURRENT state over the target
    sql("CREATE OR REPLACE TABLE gverb.dcl.dst DEEP CLONE gverb.dcl.src")
    assert(sql("SELECT sum(k) FROM gverb.dcl.dst").head.getLong(0) == 9)
  }

  test("CREATE TABLE … SHALLOW CLONE, catalog and path targets, VERSION AS OF") {
    sql("CREATE NAMESPACE gverb.cl")
    sql("CREATE TABLE gverb.cl.src (k BIGINT)")                   // v0
    sql("INSERT INTO gverb.cl.src VALUES (1), (2), (3)")          // v1
    sql("INSERT INTO gverb.cl.src VALUES (4)")                    // v2
    val c = sql("CREATE TABLE gverb.cl.dst SHALLOW CLONE gverb.cl.src").head
    assert(c.getInt(0) == 2, s"clone pins the source's current version: $c")
    assert(sql("SELECT count(*) FROM gverb.cl.dst").head.getLong(0) == 4)
    // clone shares the source's files by reference (zero data copied)
    val root = spark.conf.get("spark.sql.catalog.gverb.root")
    val srcPaths = new SnapshotTable(spark, s"$root/cl/src").files.map(_.path).toSet
    val dstPaths = new SnapshotTable(spark, s"$root/cl/dst").files.map(_.path).toSet
    assert(dstPaths == srcPaths)
    // historical clone + path-addressed target
    val proot = tmp("clonedst")
    sql(s"CREATE TABLE graft.`$proot/c1` SHALLOW CLONE gverb.cl.src VERSION AS OF 1")
    assert(sql(s"SELECT count(*) FROM graft.`$proot/c1`").head.getLong(0) == 3)
    // DML on the clone never touches the source
    sql("INSERT INTO gverb.cl.dst VALUES (99)")
    assert(sql("SELECT count(*) FROM gverb.cl.src").head.getLong(0) == 4)
    // target exists → loud failure, CREATE semantics
    intercept[Exception] {
      sql("CREATE TABLE gverb.cl.dst SHALLOW CLONE gverb.cl.src")
    }
    // … unless OR REPLACE: the clone lands as the target's NEXT commit,
    // prior target content stays time-travelable
    assert(sql("SELECT sum(k) FROM gverb.cl.dst").head.getLong(0) == 109)
    sql("CREATE OR REPLACE TABLE gverb.cl.dst SHALLOW CLONE gverb.cl.src")
    assert(sql("SELECT sum(k) FROM gverb.cl.dst").head.getLong(0) == 10)
    assert(sql("SELECT sum(k) FROM gverb.cl.dst VERSION AS OF 1")
      .head.getLong(0) == 109, "replaced content must stay time-travelable")
  }

  test("table_changes TVF: range read with _commit_version, CDC-less commits skipped") {
    import spark.implicits._
    val root = tmp("tvfcdc")
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val t = new SnapshotTable(spark, root).create(base)               // v0
    t.merge(Seq((2L, "b", 21.0), (4L, "d", 40.0)).toDF("k", "s", "v"),
      Seq("k"), trackChanges = true)                                  // v1
    t.append(Seq((9L, "z", 90.0)).toDF("k", "s", "v"))                // v2 (no CDC)
    t.merge(Seq((1L, "a", 11.0)).toDF("k", "s", "v"),
      Seq("k"), trackChanges = true)                                  // v3
    val rows = sql(
      s"SELECT _change_type, _commit_version, count(*) AS n " +
        s"FROM table_changes('$root', 1, 3) " +
        "GROUP BY _change_type, _commit_version")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows == Set(
      ("insert", 1, 1L), ("update_preimage", 1, 1L), ("update_postimage", 1, 1L),
      ("update_preimage", 3, 1L), ("update_postimage", 3, 1L)), s"got $rows")
    // single-version form + catalog-name addressing
    sql("CREATE NAMESPACE gverb.tc")
    val ct = new SnapshotTable(spark,
      s"${spark.conf.get("spark.sql.catalog.gverb.root")}/tc/t").create(base)
    ct.merge(Seq((3L, "c", 31.0)).toDF("k", "s", "v"), Seq("k"),
      trackChanges = true)
    assert(sql("SELECT count(*) FROM table_changes('gverb.tc.t', 1)")
      .head.getLong(0) == 2L)
    // the omitted end version means LATEST (Delta semantics), not start:
    // a later tracked commit must show up in the same 2-arg read
    ct.merge(Seq((7L, "g", 70.0)).toDF("k", "s", "v"), Seq("k"),
      trackChanges = true)                                            // v2: insert
    assert(sql("SELECT count(*) FROM table_changes('gverb.tc.t', 1)")
      .head.getLong(0) == 3L)
    // a valid range of only CDC-less commits is an EMPTY feed with the
    // CDF schema (mid-pipeline OPTIMIZE/appends read as zero changes)
    val empty = sql(s"SELECT * FROM table_changes('$root', 2, 2)")
    assert(empty.count() == 0L)
    assert(Seq("_change_type", "_commit_version", "_commit_timestamp")
      .forall(empty.columns.contains))
    // an end version beyond the table's history fails loudly (Delta
    // rejects out-of-range versions rather than clamping)
    val e = intercept[Exception] {
      sql(s"SELECT * FROM table_changes('$root', 1, 99)").collect()
    }
    assert(e.getMessage.contains("exceeds the latest version"), e.getMessage)
    // an explicitly INVERTED version range is a caller typo, not an
    // empty feed (the empty carve-out is for timestamp bounds)
    val inv = intercept[Exception] {
      sql(s"SELECT * FROM table_changes('$root', 3, 1)").collect()
    }
    assert(inv.getMessage.contains("bad version range"), inv.getMessage)
  }

  test("table_changes: timestamp bounds and backquoted dotted names") {
    import spark.implicits._
    val root = tmp("tvfts")
    val t = new SnapshotTable(spark, root)
      .create(Seq((1L, 10.0)).toDF("k", "v"))                         // v0
    t.merge(Seq((2L, 20.0)).toDF("k", "v"), Seq("k"),
      trackChanges = true)                                            // v1: insert
    t.merge(Seq((3L, 30.0)).toDF("k", "v"), Seq("k"),
      trackChanges = true)                                            // v2: insert
    def tsOf(v: Int) = new java.sql.Timestamp(t.commitTimestamp(v)).toString
    // start timestamp = v1's instant → first commit at-or-after = v1
    assert(sql(s"SELECT count(*) FROM table_changes('$root', '${tsOf(1)}')")
      .head.getLong(0) == 2L)
    // end timestamp = v1's instant → last commit at-or-before = v1
    assert(
      sql(s"SELECT count(*) FROM table_changes('$root', 0, '${tsOf(1)}')")
        .head.getLong(0) == 1L)
    // an end instant before the first commit → empty feed, not an error
    assert(sql(s"SELECT count(*) FROM table_changes('$root', 0, '2001-01-02')")
      .head.getLong(0) == 0L)
    // dots inside backquotes stay inside one name part
    sql("CREATE NAMESPACE gverb.tcq")
    sql("CREATE TABLE gverb.tcq.`my.t` (k BIGINT)")
    sql("INSERT INTO gverb.tcq.`my.t` VALUES (1)")                    // no CDC
    assert(sql("SELECT count(*) FROM table_changes('gverb.tcq.`my.t`', 0)")
      .head.getLong(0) == 0L)
  }

  test("batch CDF via reader options: bounds, omitted end = latest, start required") {
    import spark.implicits._
    val root = tmp("cdfopts")
    val t = new SnapshotTable(spark, root)
      .create(Seq((1L, 10.0)).toDF("k", "v"))                         // v0
    t.merge(Seq((2L, 20.0)).toDF("k", "v"), Seq("k"),
      trackChanges = true)                                            // v1
    t.merge(Seq((1L, 11.0)).toDF("k", "v"), Seq("k"),
      trackChanges = true)                                            // v2: update
    def cdf = spark.read.format("graft-snapshot").option("path", root)
      .option("readChangeFeed", "true")
    // omitted ending = latest (v1 insert + v2 pre/post images)
    assert(cdf.option("startingVersion", "1").load().count() == 3L)
    assert(cdf.option("startingVersion", "1")
      .option("endingVersion", "1").load().count() == 1L)
    // ending timestamp at v1's instant bounds the range at v1
    val ts1 = new java.sql.Timestamp(t.commitTimestamp(1)).toString
    assert(cdf.option("startingVersion", "1")
      .option("endingTimestamp", ts1).load().count() == 1L)
    assert(cdf.option("startingVersion", "1").load()
      .columns.contains("_commit_version"))
    // an unbounded CDF scan is refused (Delta requires a start)
    val e = intercept[Exception] { cdf.load() }
    assert(e.getMessage.contains("startingVersion"), e.getMessage)
    // out-of-range and inverted EXPLICIT version ranges are caller
    // typos and fail loudly — a misconfigured CDC consumer must not
    // read a silently empty feed and believe it is caught up
    intercept[Exception] { cdf.option("startingVersion", "7").load() }
    intercept[Exception] {
      cdf.option("startingVersion", "2")
        .option("endingVersion", "1").load()
    }
    intercept[Exception] {
      cdf.option("startingVersion", "1")
        .option("endingVersion", "9").load()
    }
    // …while a START TIMESTAMP past the latest commit reads as empty
    // (Delta's timestamp semantics: nothing committed there yet)
    val future = new java.sql.Timestamp(
      t.commitTimestamp(2) + 3600L * 1000L).toString
    assert(cdf.option("startingTimestamp", future).load().count() == 0L)
  }

  test("path reads time travel: VERSION AS OF and TIMESTAMP AS OF") {
    import spark.implicits._
    val root = tmp("pathtt")
    val t = new SnapshotTable(spark, root)
      .create(Seq(1L, 2L, 3L).toDF("k"))                              // v0
    t.append(Seq(4L, 5L).toDF("k"))                                   // v1
    assert(sql(s"SELECT count(*) FROM graft.`$root`").head.getLong(0) == 5)
    assert(sql(s"SELECT count(*) FROM graft.`$root` VERSION AS OF 0")
      .head.getLong(0) == 3)
    val ts0 = new java.sql.Timestamp(t.commitTimestamp(0)).toString
    assert(sql(s"SELECT count(*) FROM graft.`$root` TIMESTAMP AS OF '$ts0'")
      .head.getLong(0) == 3)
    // pushdown survives the travel spelling (same engine relation)
    assert(sql(s"SELECT sum(k) FROM graft.`$root` VERSION AS OF 1 WHERE k <= 2")
      .head.getLong(0) == 3)
  }

  test("OPTIMIZE WHERE compacts only the named partition; others path-identical") {
    sql("CREATE NAMESPACE gverb.ow")
    sql("CREATE TABLE gverb.ow.t (k BIGINT, s STRING) PARTITIONED BY (s)")
    (0 until 3).foreach(i =>
      sql(s"INSERT INTO gverb.ow.t VALUES (${i * 2}, 'A'), (${i * 2 + 1}, 'B')"))
    val root = spark.conf.get("spark.sql.catalog.gverb.root")
    val t = new SnapshotTable(spark, s"$root/ow/t")
    val bBefore = t.files.filter(_.partValue == "B").map(_.path).toSet
    assert(t.files.count(_.partValue == "A") == 3)
    sql("OPTIMIZE gverb.ow.t WHERE s = 'A'")
    assert(t.files.count(_.partValue == "A") == 1, "A must bin-pack")
    assert(t.files.filter(_.partValue == "B").map(_.path).toSet == bBefore,
      "unnamed partitions must carry by reference, path-identical")
    assert(sql("SELECT count(*), sum(k) FROM gverb.ow.t").head.toSeq
      == Seq(6L, 15L))
    // scoped ZORDER: same carry-over contract
    val bAfter = t.files.filter(_.partValue == "B").map(_.path).toSet
    sql("OPTIMIZE gverb.ow.t WHERE s = 'A' ZORDER BY (k)")
    assert(t.files.filter(_.partValue == "B").map(_.path).toSet == bAfter)
    assert(sql("SELECT count(*) FROM gverb.ow.t").head.getLong(0) == 6)
    // the filter must name the partition source column
    val e = intercept[Exception] { sql("OPTIMIZE gverb.ow.t WHERE k = 1") }
    assert(e.getMessage.contains("partition source column"), e.getMessage)
    // IN list names many partitions per statement (the maintenance-sweep
    // shape at scale); an unnamed partition still carries by reference
    (0 until 2).foreach(i => sql(
      s"INSERT INTO gverb.ow.t VALUES (${100 + i}, 'B'), (${200 + i}, 'C')"))
    val aSet = t.files.filter(_.partValue == "A").map(_.path).toSet
    assert(t.files.count(_.partValue == "B") >= 2)
    sql("OPTIMIZE gverb.ow.t WHERE s IN ('B', 'C')")
    assert(t.files.count(_.partValue == "B") == 1, "B must bin-pack")
    assert(t.files.count(_.partValue == "C") == 1, "C must bin-pack")
    assert(t.files.filter(_.partValue == "A").map(_.path).toSet == aSet)
    assert(sql("SELECT count(*) FROM gverb.ow.t").head.getLong(0) == 10)
    // a quoted value containing a comma is ONE partition, not two
    (0 until 2).foreach(i =>
      sql(s"INSERT INTO gverb.ow.t VALUES (${300 + i}, 'a,b')"))
    assert(t.files.count(_.partValue == "a,b") == 2)
    sql("OPTIMIZE gverb.ow.t WHERE s IN ('a,b')")
    assert(t.files.count(_.partValue == "a,b") == 1, "'a,b' must bin-pack")
    assert(sql("SELECT count(*) FROM gverb.ow.t").head.getLong(0) == 12)
  }

  test("REORG TABLE APPLY (PURGE) rewrites only DV-addressed files") {
    import spark.implicits._
    val root = tmp("reorg")
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(k => (k, k % 2)).toDF("k", "p").coalesce(1)
    val t = new SnapshotTable(spark, root)
      .create(batch(0, 50), partitionBy = Some("p"))                 // v0
    t.append(batch(50, 100), partitionBy = Some("p"))                // v1
    t.delete(col("k").between(0, 9), positional = true)  // v2: 10 marks
    assert(t.dvFiles.map(_.rows).sum == 10)
    val markFree = t.files.filter(_.stats("k")._1 >= 50).map(_.path).toSet
    assert(markFree.size == 2, s"fixture wants 2 mark-free files: $markFree")
    val r = sql(s"REORG TABLE graft.`$root` APPLY (PURGE)").head
    assert(r.getInt(0) == 2 && r.getLong(1) == 10L, s"got $r")
    assert(t.dvFiles.isEmpty, "purge must drop every applied mark")
    // mark-free files carry by reference, path-identical; the rewritten
    // files keep the identity layout
    assert(markFree.subsetOf(t.files.map(_.path).toSet))
    assert(t.files.filter(_.rows > 0).forall(_.partCol == "p"))
    assert(sql(s"SELECT count(*), sum(k) FROM graft.`$root`").head.toSeq
      == Seq(90L, (10L until 100L).sum))
    // the purged rows are PHYSICALLY absent from the live files (the
    // GDPR contract) — a raw parquet read finds no trace of them
    assert(spark.read.parquet(
        t.files.map(_.path.stripPrefix("file:")): _*)
      .filter($"k" < 10).count() == 0L)
    // partition-scoped purge: marks on unscoped partitions persist
    t.delete(col("k").between(10, 13), positional = true)  // 4 marks
    sql(s"REORG TABLE graft.`$root` WHERE p = '0' APPLY (PURGE)")
    assert(t.dvFiles.map(_.rows).sum == 2, "odd-partition marks persist")
    sql(s"REORG TABLE graft.`$root` APPLY (PURGE)")
    assert(t.dvFiles.isEmpty)
    assert(sql(s"SELECT count(*) FROM graft.`$root`").head.getLong(0) == 86)
    // a mark-free table is a metadata-level no-op: no commit written
    val v = t.currentVersion
    val n = sql(s"REORG TABLE graft.`$root` APPLY (PURGE)").head
    assert(n.getInt(0) == 0 && n.getLong(1) == 0L && t.currentVersion == v)
  }

  test("GENERATE symlink_format_manifest FOR TABLE, catalog and path names") {
    import spark.implicits._
    sql("CREATE NAMESPACE gverb.gen")
    sql("CREATE TABLE gverb.gen.t (k BIGINT)")
    sql("INSERT INTO gverb.gen.t VALUES (1), (2)")
    sql("INSERT INTO gverb.gen.t VALUES (3)")
    val r = sql("GENERATE symlink_format_manifest FOR TABLE gverb.gen.t").head
    val listed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(r.getString(0).stripPrefix("file:"))),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
    assert(spark.read.parquet(listed.toIndexedSeq: _*).count() == 3)
    // path-addressed spelling
    val root = tmp("genpath")
    new SnapshotTable(spark, root).create(Seq(1L, 2L).toDF("k"))
    val pr = sql(s"GENERATE symlink_format_manifest FOR TABLE graft.`$root`").head
    assert(pr.getLong(1) >= 1L)
  }

  test("OPTIMIZE and ZORDER preserve identity and hidden-transform layouts") {
    sql("CREATE NAMESPACE gverb.lay")
    sql("""CREATE TABLE gverb.lay.h (k BIGINT, d DATE)
           PARTITIONED BY (months(d))""")
    (0 until 3).foreach(_ => sql(
      """INSERT INTO gverb.lay.h VALUES
         (1, DATE'2024-01-05'), (2, DATE'2024-02-11'), (3, DATE'2024-02-20')"""))
    val root = spark.conf.get("spark.sql.catalog.gverb.root")
    val h = new SnapshotTable(spark, s"$root/lay/h")
    // CREATE TABLE commits a zero-row UNPARTITIONED schema-anchor file
    // (a partitioned write of zero rows emits nothing; the layout lives
    // as a table property) — layout assertions apply to data files only
    def dataFiles = h.files.filter(_.rows > 0)
    assert(dataFiles.forall(e => e.xformCol == "d" && e.xformTag == "months"))
    sql("OPTIMIZE gverb.lay.h")
    assert(dataFiles.forall(e => e.xformCol == "d" && e.xformTag == "months"),
      "compaction must keep the hidden transform layout")
    assert(dataFiles.map(_.partValue).toSet == Set("2024-01", "2024-02"))
    // month pruning still works post-OPTIMIZE (the whole point)
    assert(sql("SELECT count(*) FROM gverb.lay.h WHERE d >= DATE'2024-02-01'")
      .head.getLong(0) == 6)
    sql("OPTIMIZE gverb.lay.h ZORDER BY (k)")
    assert(dataFiles.forall(e => e.xformCol == "d" && e.xformTag == "months"),
      "zorder must keep the hidden transform layout")
    assert(sql("SELECT count(*) FROM gverb.lay.h").head.getLong(0) == 9)
    // partition-scoped OPTIMIZE maps the RAW-column literal through the
    // transform (one day names its month partition); a second January
    // file first — a single-file partition correctly no-ops
    sql("INSERT INTO gverb.lay.h VALUES (4, DATE'2024-01-07')")
    val feb = dataFiles.filter(_.partValue == "2024-02").map(_.path).toSet
    val jan = dataFiles.filter(_.partValue == "2024-01").map(_.path).toSet
    assert(jan.size >= 2, s"fixture needs >1 January file, got ${jan.size}")
    sql("OPTIMIZE gverb.lay.h WHERE d = '2024-01-15'")
    assert(dataFiles.filter(_.partValue == "2024-02").map(_.path).toSet == feb)
    assert(dataFiles.filter(_.partValue == "2024-01").map(_.path).toSet != jan)
    assert(sql("SELECT count(*) FROM gverb.lay.h").head.getLong(0) == 10)
  }

  test("n-ary ZORDER BY: 3 columns work, bad arity fails with the graft message") {
    sql("CREATE NAMESPACE gverb.z3")
    sql("CREATE TABLE gverb.z3.t (a BIGINT, b BIGINT, c BIGINT)")
    sql("""INSERT INTO gverb.z3.t
           SELECT id % 17, id % 23, id % 31 FROM range(2000)""")
    sql("OPTIMIZE gverb.z3.t ZORDER BY (a, b, c)")
    assert(sql("SELECT count(*), sum(a) FROM gverb.z3.t").head.toSeq
      == Seq(2000L, (0L until 2000L).map(_ % 17).sum))
    val e = intercept[Exception] {
      sql("OPTIMIZE gverb.z3.t ZORDER BY (a, b, c, a, b)")
    }
    assert(e.getMessage.contains("1 to 4 columns"), e.getMessage)
    val e2 = intercept[Exception] { sql("OPTIMIZE gverb.z3.t ZORDER BY ()") }
    assert(e2.getMessage.contains("1 to 4 columns"), e2.getMessage)
  }

  test("Hudi CALL run_compaction alias maps onto OPTIMIZE") {
    sql("CREATE NAMESPACE gverb.hud")
    sql("CREATE TABLE gverb.hud.t (k BIGINT)")
    sql("INSERT INTO gverb.hud.t VALUES (1), (2)")
    sql("INSERT INTO gverb.hud.t VALUES (3)")
    val r = sql("CALL gverb.system.run_compaction('run', 'hud.t')").head
    assert(r.getLong(1) < r.getLong(0), s"run_compaction must bin-pack: $r")
    assert(sql("SELECT sum(k) FROM gverb.hud.t").head.getLong(0) == 6)
    // on a MoR table with PENDING deltas the verb folds them — Hudi
    // compaction's whole reason to exist (it used to refuse that state)
    import spark.implicits._
    val root = tmp("hudmor")
    val t = new SnapshotTable(spark, root)
      .create(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
      .merge(Seq((1L, 11.0), (3L, 30.0)).toDF("k", "v"), Seq("k"), deferred = true)
    assert(t.deltaFiles.nonEmpty)
    sql(s"OPTIMIZE graft.`$root`")
    assert(t.deltaFiles.isEmpty, "pending deltas must fold into the base")
    assert(sql(s"SELECT sum(v) FROM graft.`$root`").head.getDouble(0) == 61.0)
  }

  test("Iceberg CALL aliases: rollback_to_snapshot/timestamp, remove_orphan_files") {
    sql("CREATE NAMESPACE gverb.ice")
    sql("CREATE TABLE gverb.ice.t (k BIGINT)")                    // v0
    sql("INSERT INTO gverb.ice.t VALUES (1), (2)")                // v1
    sql("INSERT OVERWRITE gverb.ice.t VALUES (9)")                // v2
    sql("CALL gverb.system.rollback_to_snapshot('ice.t', 1)")     // v3
    assert(sql("SELECT sum(k) FROM gverb.ice.t").head.getLong(0) == 3)
    val root = spark.conf.get("spark.sql.catalog.gverb.root")
    val t = new SnapshotTable(spark, s"$root/ice/t")
    val ts2 = new java.sql.Timestamp(t.commitTimestamp(2)).toString
    sql(s"CALL gverb.system.rollback_to_timestamp('ice.t', '$ts2')") // v4
    assert(sql("SELECT sum(k) FROM gverb.ice.t").head.getLong(0) == 9)
    // stage an orphan: a data file NO manifest references (what a
    // losing OCC attempt leaves behind)
    val src = java.nio.file.Paths.get(t.files.head.path.stripPrefix("file:"))
    val orphan = java.nio.file.Paths.get(
      s"$root/ice/t/data/c99999_orphan-part-0000.parquet")
    java.nio.file.Files.copy(src, orphan)
    // too young for the default 3-day horizon → kept (in-flight guard)
    assert(sql("CALL gverb.system.remove_orphan_files('ice.t')")
      .collect().isEmpty)
    // explicit future horizon → exactly the orphan goes
    val tomorrow = java.time.LocalDate.now().plusDays(1).toString
    val removed = sql("CALL gverb.system.remove_orphan_files('ice.t', " +
      s"older_than => '$tomorrow')").collect().map(_.getString(0))
    assert(removed.length == 1 && removed.head.endsWith(
      "c99999_orphan-part-0000.parquet"), removed.mkString(","))
    // referenced data and HISTORY untouched (unlike VACUUM)
    assert(sql("SELECT sum(k) FROM gverb.ice.t").head.getLong(0) == 9)
    assert(sql("SELECT count(*) FROM gverb.ice.t VERSION AS OF 1")
      .head.getLong(0) == 2)
  }

  test("bare VACUUM DATABASE keeps a conservative snapshot window") {
    import spark.implicits._
    val root = spark.conf.get("spark.sql.catalog.gverb.root")
    val db = new graft.sources.GraftDatabase(spark, s"$root/dbdef")
    db.transact(Seq("m"))(d => d.table("m").create(Seq(1L).toDF("k")): Unit)
    db.transact(Seq("m"))(d => d.table("m").append(Seq(2L).toDF("k")): Unit)
    sql("VACUUM DATABASE gverb.dbdef")
    // both published snapshots survive the bare form (default window 7)
    assert(db.tableVersions(0) == Map("m" -> 0))
    assert(db.tableVersions(1) == Map("m" -> 1))
    // the explicit clause remains the reclamation switch
    sql("VACUUM DATABASE gverb.dbdef RETAIN 1 SNAPSHOTS")
    intercept[Exception] { db.tableVersions(0) }
  }

  test("versionAtOrBefore is the explicit before-first-commit signal") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("vaob")).create(Seq(1L).toDF("k"))
    val first = t.commitTimestamp(0)
    assert(t.versionAtOrBefore(first - 1).isEmpty)
    assert(t.versionAtOrBefore(first).contains(0))
    intercept[IllegalArgumentException] { t.versionAsOf(first - 1) }
  }
}
