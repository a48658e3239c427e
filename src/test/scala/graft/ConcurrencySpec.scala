package graft

import graft.sources.SnapshotTable
import java.util.ConcurrentModificationException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Optimistic concurrency + timestamp travel, with the racing commit
  * injected DETERMINISTICALLY through the commit hook every
  * `SnapshotTable` commit attempt runs (`withCommitHook`) — a thread
  * race would exercise whichever interleaving the scheduler picks; the
  * seam pins both the lost-race rebase path and the true-conflict path
  * every run. */
class ConcurrencySpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark
  private implicit val signaler: Signaler = ThreadSignaler

  private def mkTable(prefix: String): (SnapshotTable, String) = {
    import spark.implicits._
    val df = (0 until 40)
      .map(i => (i.toLong, if (i % 2 == 0) "A" else "B", i * 1.0))
      .toDF("k", "p", "v")
    val root = Scratch.dir(prefix)
    (new SnapshotTable(spark, root).create(df, partitionBy = Some("p")), root)
  }

  // partition A holds even keys, B odd keys; the slice is that
  // partition's keys below 10 (A: 0,2,4,6,8 / B: 1,3,5,7,9)
  private def src(part: String, bump: Double) = {
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, if (i % 2 == 0) "A" else "B", i * 1.0))
      .toDF("k", "p", "v")
      .filter(col("p") === part && col("k") < 10)
      .withColumn("v", col("v") + bump)
  }

  test("lost manifest race on a DISJOINT partition retries and commits") {
    val (t, root) = mkTable("occ_retry")
    val rival = new SnapshotTable(spark, root)
    var injected = false
    t.withCommitHook(if (!injected) {
      injected = true
      // rival wins version 1 touching only partition A
      rival.merge(src("A", 1000.0), keys = Seq("k", "p"),
        partitionBy = Some("p"))
    }) {
      t.merge(src("B", 100.0), keys = Seq("k", "p"),
        partitionBy = Some("p"))
    }
    assert(injected)
    assert(t.currentVersion == 2) // rival's commit + our retried commit
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got(0L) == 1000.0) // A-slice bump from the rival
    assert(got(12L) == 12.0) // A but k >= 10: untouched
    assert(got(11L) == 11.0) // B but k >= 10: untouched
    assert(got(9L) == 109.0) // B-slice bump from our merge (9 + 100)
  }

  test("a rival touching OUR partition is a true conflict") {
    val (t, root) = mkTable("occ_conflict")
    val rival = new SnapshotTable(spark, root)
    var injected = false
    intercept[java.util.ConcurrentModificationException] {
      t.withCommitHook(if (!injected) {
        injected = true
        rival.merge(src("B", 7.0), keys = Seq("k", "p"),
          partitionBy = Some("p"))
      }) {
        t.merge(src("B", 100.0), keys = Seq("k", "p"),
          partitionBy = Some("p"))
      }
    }
    // the rival's commit is intact and ours left no manifest
    assert(t.currentVersion == 1)
    val got = t.read().filter(col("k") === 9).select("v").head.getDouble(0)
    assert(got == 16.0) // 9 + 7 from the rival only
  }

  test("OCC merge with pending MoR deltas folds its slice, carries the rest") {
    import spark.implicits._
    val (t, _) = mkTable("occ_mor")
    // pending deltas: one in OUR partition (B: k=9 -> 900), one in A
    t.merge(Seq((9L, "B", 900.0)).toDF("k", "p", "v"),
      Seq("k", "p"), Some("p"), deferred = true)
    t.merge(Seq((0L, "A", 500.0)).toDF("k", "p", "v"),
      Seq("k", "p"), Some("p"), deferred = true)
    t.merge(src("B", 100.0), keys = Seq("k", "p"), partitionBy = Some("p"))
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got(9L) == 109.0)  // B's delta was folded, then the source won
    assert(got(0L) == 500.0)  // A's delta carried over, still resolves
    assert(got(11L) == 11.0)  // B outside the slice: untouched
    // the carried delta is still PENDING metadata, not folded data
    assert(t.history.orderBy(col("version").desc).limit(1)
      .collect()(0).getString(1) == "MERGE")
  }

  test("a rival appending a delta to OUR partition is a true conflict") {
    import spark.implicits._
    val (t, root) = mkTable("occ_mor_conflict")
    val rival = new SnapshotTable(spark, root)
    var injected = false
    intercept[java.util.ConcurrentModificationException] {
      t.withCommitHook(if (!injected) {
        injected = true
        rival.merge(Seq((9L, "B", 77.0)).toDF("k", "p", "v"),
          Seq("k", "p"), Some("p"), deferred = true)
      }) {
        t.merge(src("B", 100.0), keys = Seq("k", "p"),
          partitionBy = Some("p"))
      }
    }
    // the rival's delta commit is intact; ours left no manifest
    assert(t.currentVersion == 1)
    assert(t.read().filter(col("k") === 9).select("v").head.getDouble(0) == 77.0)
  }

  test("mixed-layout OCC folds foreign-layout files; rival commit conflicts") {
    import spark.implicits._
    val (t, root) = mkTable("occ_mixed")
    // evolve: two rows appended under a DIFFERENT partition layout — those
    // files say nothing about p, so every OCC writer must fold them
    t.append(Seq((100L, "A", 100.0), (101L, "B", 101.0)).toDF("k", "p", "v"),
      partitionBy = Some("v"))
    t.merge(src("B", 100.0), keys = Seq("k", "p"), partitionBy = Some("p"))
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got.size == 42 && got(9L) == 109.0 && got(11L) == 11.0)
    assert(got(100L) == 100.0 && got(101L) == 101.0) // folded, not lost
    // re-evolve, then race: the foreign file is in BOTH writers' slices,
    // so the loser must conflict rather than resurrect stale rows
    t.append(Seq((102L, "A", 102.0)).toDF("k", "p", "v"), partitionBy = Some("v"))
    val rival = new SnapshotTable(spark, root)
    var injected = false
    intercept[java.util.ConcurrentModificationException] {
      t.withCommitHook(if (!injected) {
        injected = true
        rival.merge(src("A", 1000.0), keys = Seq("k", "p"),
          partitionBy = Some("p"))
      }) {
        t.merge(src("B", 7.0), keys = Seq("k", "p"),
          partitionBy = Some("p"))
      }
    }
    assert(t.read().filter(col("k") === 0).select("v").head.getDouble(0) == 1000.0)
  }

  test("a DV commit on UNTOUCHED files rides along with a retried OCC merge") {
    val (t, root) = mkTable("occ_dv_disjoint")
    val rival = new SnapshotTable(spark, root)
    var injected = false
    // writer merges partition B's slice; rival DV-deletes k=12 — an even
    // key, so the mark addresses only partition A's file, outside the
    // writer's rewrite slice. The loser must retry metadata-style and
    // CARRY the new mark, not conflict (the r8 engine conflicted on any
    // DV change).
    t.withCommitHook(if (!injected) {
      injected = true
      rival.delete(col("k") === 12, positional = true)
    }) {
      t.merge(src("B", 100.0), keys = Seq("k", "p"),
        partitionBy = Some("p"))
    }
    assert(injected)
    assert(t.currentVersion == 2) // rival's DV commit + our retried commit
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(!got.contains(12L)) // the rival's positional delete survives
    assert(got(9L) == 109.0) // our B-slice bump landed
    assert(got(8L) == 8.0 && got.size == 39)
  }

  test("a DV commit addressing the writer's rewrite slice is a true conflict") {
    val (t, root) = mkTable("occ_dv_conflict")
    val rival = new SnapshotTable(spark, root)
    var injected = false
    // rival DV-deletes k=9 — odd key, partition B: the writer's rewrite
    // already copied that row forward, so committing would resurrect it.
    intercept[java.util.ConcurrentModificationException] {
      t.withCommitHook(if (!injected) {
        injected = true
        rival.delete(col("k") === 9, positional = true)
      }) {
        t.merge(src("B", 100.0), keys = Seq("k", "p"),
          partitionBy = Some("p"))
      }
    }
    assert(t.currentVersion == 1) // the rival's DV commit is intact
    val ks = t.read().select("k").collect().map(_.getLong(0)).toSet
    assert(!ks.contains(9L) && ks.contains(7L) && ks.size == 39)
  }

  test("a rival's SET NOT NULL conflicts with a retried merge of NULLs") {
    import spark.implicits._
    val (t, root) = mkTable("occ_not_null")
    val rival = new SnapshotTable(spark, root)
    // the rewrite is checked against version 0's metadata, where v may
    // be NULL; committing after the rival's SET NOT NULL would store a
    // NULL under a non-nullable column
    intercept[java.util.ConcurrentModificationException] {
      t.withCommitHook(if (rival.currentVersion == 0) rival.setNotNull("v")) {
        t.merge(Seq((9L, "B", Option.empty[Double])).toDF("k", "p", "v"),
          keys = Seq("k", "p"), partitionBy = Some("p"))
      }
    }
    assert(t.currentVersion == 1) // the rival's commit only
    // the data files themselves: a scan under the NOT NULL schema would
    // hide a stored NULL
    assert(spark.read.parquet(t.files.map(_.path): _*)
      .filter(col("v").isNull).count() == 0)
  }

  test("a retried merge keeps carried row ids and writes only its own changes") {
    val (t, root) = mkTable("occ_rid_cdc")
    t.withProperty(SnapshotTable.RowTrackingProp, "true")
    def ids = t.readWithRowIds().select(col("k"), col(SnapshotTable.RidCol))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = ids
    val rival = new SnapshotTable(spark, root)
    t.withCommitHook(if (rival.currentVersion == 0)
        rival.merge(src("A", 1000.0), keys = Seq("k", "p"), partitionBy = Some("p"))) {
      t.merge(src("B", 100.0), keys = Seq("k", "p"),
        partitionBy = Some("p"), trackChanges = true)
    }
    assert(t.history.orderBy("version").select("operation").collect()
      .map(_.getString(0)).toSeq == Seq("CREATE", "MERGE", "MERGE"))
    val after = ids
    assert(after.size == 40 && after.values.toSet.size == 40,
      "every row, the retried commit's included, has a distinct id")
    assert((10L until 40L).forall(k => after(k) == before(k)),
      "rows outside both merges' sources keep their ids")
    val changes = t.changes(2).select(col("k"), col("v"), col(SnapshotTable.ChangeCol))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val slice = Seq(1L, 3L, 5L, 7L, 9L)
    assert(changes == (slice.map(k => (k, k.toDouble, "update_preimage")) ++
      slice.map(k => (k, k + 100.0, "update_postimage"))).toSet)
  }

  test("a copy-on-write merge carries a pending delta of an untouched partition") {
    import spark.implicits._
    Seq(false, true).foreach { deleteMatched =>
      val (t, _) = mkTable(s"occ_carry_delta_$deleteMatched")
      // a pending delta in partition A; the merges below touch only B
      t.merge(Seq((0L, "A", 500.0)).toDF("k", "p", "v"), Seq("k", "p"),
        Some("p"), deferred = true)
      val folded = t.shallowCloneTo(Scratch.dir(s"occ_folded_$deleteMatched"))
        .compact(2, Some("p"))
      assert(folded.deltaFiles.isEmpty)
      val delta = t.deltaFiles.map(_.path)
      val untouched = t.files.filter(_.partValue == "A").map(_.path)
      val source = if (deleteMatched) src("B", 0.0).select("k", "p") else src("B", 100.0)
      Seq(t, folded).foreach(_.merge(source, Seq("k", "p"), Some("p"),
        deleteMatched = deleteMatched))
      assert(t.deltaFiles.map(_.path) == delta, "the pending delta carries as is")
      assert(untouched.toSet.subsetOf(t.files.map(_.path).toSet))
      def rows(x: SnapshotTable) = x.read().orderBy("k").collect().toSeq
      assert(rows(t) == rows(folded))
      assert(rows(t).exists(r => r.getLong(0) == 0L && r.getDouble(2) == 500.0))
    }
  }

  test("a txn replay the rival commits during the retry is skipped") {
    val (t, root) = mkTable("occ_txn")
    val rival = new SnapshotTable(spark, root)
    val batch = Some(("stream", 1L))
    t.withCommitHook(if (rival.currentVersion == 0)
        rival.merge(src("B", 100.0), keys = Seq("k", "p"),
          partitionBy = Some("p"), txn = batch)) {
      t.merge(src("B", 100.0), keys = Seq("k", "p"),
        partitionBy = Some("p"), txn = batch)
    }
    assert(t.currentVersion == 1) // the rival's commit only, no conflict
    assert(t.txnVersion("stream").contains(1L))
    assert(t.read().filter(col("k") === 9).select("v").head.getDouble(0) == 109.0)
  }

  test("concurrent appenders all commit (append never conflicts)") {
    import spark.implicits._
    val root = Scratch.dir("occ_append")
    val t = new SnapshotTable(spark, root)
      .create(Seq((-1L, "seed")).toDF("k", "s"))
    // 8 writers × 3 appends, all racing the write-once manifest: every
    // lost race must retry metadata-only and commit (Delta's
    // append-never-conflicts rule) — no writer may throw or drop rows
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val h = new SnapshotTable(spark, root)
            (0 until 3).foreach { i =>
              h.append(Seq((w * 10L + i, s"w$w-$i")).toDF("k", "s"))
            }
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(t.currentVersion === 24, "24 append commits must all land")
    assert(t.read().count() === 25L)
    val ops = t.history.select("operation").collect().map(_.getString(0))
    assert(ops.count(_ == "APPEND") === 24)
  }

  test("commit timestamps are strictly increasing; AS OF resolves them") {
    val (t, _) = mkTable("occ_ts")
    t.merge(src("A", 50.0), keys = Seq("k", "p"), partitionBy = Some("p"))
    val (ts0, ts1) = (t.commitTimestamp(0), t.commitTimestamp(1))
    assert(ts0 > 0L && ts1 > ts0)
    assert(t.versionAsOf(ts0) == 0 && t.versionAsOf(ts1) == 1)
    assert(t.versionAsOf(ts1 + 1000) == 1)
    assert(t.readAsOf(ts0).filter(col("k") === 0).select("v")
      .head.getDouble(0) == 0.0)
    assert(t.readAsOf(ts1).filter(col("k") === 0).select("v")
      .head.getDouble(0) == 50.0)
    intercept[IllegalArgumentException](t.versionAsOf(ts0 - 1))
  }

  // ---- every writer through the one commit: one rival commit lands
  // before the writer's first commit attempt

  /** Runs `write` on a fresh table after `rival` commits version 1 on
    * another handle. */
  private def raced(prefix: String, rival: SnapshotTable => Unit)(
      write: SnapshotTable => Unit): SnapshotTable = {
    val (t, root) = mkTable(prefix)
    val r = new SnapshotTable(spark, root)
    t.withCommitHook(if (r.currentVersion == 0) rival(r))(write(t))
    t
  }

  private def row(k: Long, p: String) = {
    import spark.implicits._
    Seq((k, p, k * 1.0)).toDF("k", "p", "v")
  }

  private def vs(t: SnapshotTable, cond: org.apache.spark.sql.Column) =
    t.read().filter(cond).select("v").collect().map(_.getDouble(0)).toSeq

  /** Writer name, its operation, the write, and what it leaves (checked
    * after a disjoint rival). */
  private val writers: Seq[(String, String, SnapshotTable => Unit, SnapshotTable => Boolean)] = Seq(
    ("copy-on-write delete", "DELETE", _.delete(col("p") === "B"),
      t => vs(t, col("p") === "B").isEmpty),
    ("positional delete", "DELETE_DV",
      _.delete(col("p") === "B" && col("k") < 10, positional = true),
      t => vs(t, col("p") === "B" && col("k") < 10).isEmpty),
    ("update", "UPDATE", _.update(col("p") === "B", Map("v" -> lit(-1.0))),
      t => vs(t, col("p") === "B").forall(_ == -1.0)),
    ("merge-on-read merge", "MERGE_MOR",
      _.merge(src("B", 100.0), Seq("k", "p"), Some("p"), deferred = true),
      t => vs(t, col("k") === 9) == Seq(109.0)),
    ("optimize", "OPTIMIZE", t => { assert(t.optimize() >= 2); () },
      t => t.read().count() == 41),
    ("compact", "COMPACT", _.compact(1), t => t.read().count() == 41),
    ("overwriteAll", "OVERWRITE", _.overwrite(src("B", 100.0)),
      t => vs(t, col("p") === "B").sorted == Seq(101.0, 103.0, 105.0, 107.0, 109.0)),
    ("addColumns", "ADD_COLUMNS", _.addColumns(Seq(StructField("c", IntegerType))),
      t => t.read().filter(col("k") === 100).select("c").head.isNullAt(0)))

  writers.foreach { case (name, op, write, left) =>
    test(s"$name commits after a rival append to another partition") {
      val t = raced(s"occ_disjoint_$op", _.append(row(100L, "C"), Some("p")))(write)
      assert(t.history.orderBy("version").select("operation").collect()
        .map(_.getString(0)).toSeq == Seq("CREATE", "APPEND", op))
      assert(vs(t, col("k") === 100) == Seq(100.0), "the rival's row survives")
      assert(left(t), s"$name's own change is missing")
    }
  }

  writers.filter(_._2 != "ADD_COLUMNS").foreach { case (name, op, write, _) =>
    test(s"$name conflicts with a rival that rewrote a file it read") {
      var t: SnapshotTable = null
      intercept[ConcurrentModificationException] {
        raced(s"occ_rewritten_$op", _.delete(col("k") === 9))(w => { t = w; write(w) })
      }
      assert(t.currentVersion == 1 && vs(t, col("k") === 9).isEmpty,
        "the rival's commit only")
    }
  }

  writers.filter(w => Set("DELETE", "DELETE_DV", "UPDATE", "MERGE_MOR")(w._2))
    .foreach { case (name, op, write, _) =>
      test(s"$name conflicts with a rival append its predicate matches") {
        var t: SnapshotTable = null
        intercept[ConcurrentModificationException] {
          // k = -1 in partition B: a row every one of these predicates holds
          raced(s"occ_matched_$op", _.append(row(-1L, "B"), Some("p")))(
            w => { t = w; write(w) })
        }
        assert(t.currentVersion == 1 && vs(t, col("k") === -1) == Seq(-1.0))
      }
    }

  test("addColumns conflicts with a rival column rename") {
    var t: SnapshotTable = null
    intercept[ConcurrentModificationException] {
      raced("occ_add_rename", _.renameColumn("v", "w"))(w => {
        t = w; w.addColumns(Seq(StructField("c", IntegerType))) })
    }
    assert(t.currentVersion == 1 && !t.read().columns.contains("c"))
  }

  test("an append of NULLs conflicts with a rival SET NOT NULL") {
    import spark.implicits._
    var t: SnapshotTable = null
    intercept[ConcurrentModificationException] {
      raced("occ_append_not_null", _.setNotNull("v"))(w => {
        t = w
        w.append(Seq((50L, "B", Option.empty[Double])).toDF("k", "p", "v"), Some("p"))
      })
    }
    assert(t.currentVersion == 1) // the rival's commit only
    assert(spark.read.parquet(t.files.map(_.path): _*)
      .filter(col("v").isNull).count() == 0)
  }

  test("SET NOT NULL conflicts with a rival append of NULLs") {
    import spark.implicits._
    var t: SnapshotTable = null
    intercept[ConcurrentModificationException] {
      raced("occ_not_null_nulls", _.append(
        Seq((50L, "B", Option.empty[Double])).toDF("k", "p", "v"), Some("p")))(
        w => { t = w; w.setNotNull("v") })
    }
    assert(t.currentVersion == 1 && t.commitOperation(1) == "APPEND",
      "the rival's commit only")
  }

  test("a create that loses to another process's version rebases like any lost race") {
    val (_, root) = mkTable("occ_create_race")
    spark.sparkContext.hadoopConfiguration.set("fs.racefs.impl", classOf[RaceFs].getName)
    spark.sparkContext.hadoopConfiguration.set("fs.racefs.impl.disable.cache", "true")
    val t = new SnapshotTable(spark, "racefs:" + root)
    val rival = new SnapshotTable(spark, root)
    RaceFs.arm(() => rival.append(row(100L, "C"), Some("p")): Unit)
    try t.append(row(101L, "C"), Some("p")) finally RaceFs.arm(() => ())
    assert(ops(rival) == Seq("CREATE", "APPEND", "APPEND"))
    assert(vs(rival, col("p") === "C").sorted == Seq(100.0, 101.0))
  }

  test("a catalog SET NOT NULL validates the version it commits from") {
    val (_, root) = mkTable("occ_alter_not_null")
    val ns = new java.io.File(root).getParent
    spark.sparkContext.hadoopConfiguration.set("fs.racefs.impl", classOf[RaceFs].getName)
    spark.sparkContext.hadoopConfiguration.set("fs.racefs.impl.disable.cache", "true")
    val cat = new graft.sources.GraftSqlCatalog
    cat.initialize("racecat", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", "racefs:" + new java.io.File(ns).getParent)))
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    val ident = Identifier.of(Array(new java.io.File(ns).getName),
      new java.io.File(root).getName)
    val rival = new SnapshotTable(spark, root)
    import spark.implicits._
    // the pre-pass validates version 0; the rival's NULL lands while the
    // comment change commits, before SET NOT NULL reads its version
    RaceFs.arm(() => rival.append(
      Seq((100L, "C", Option.empty[Double])).toDF("k", "p", "v"), Some("p")): Unit)
    try intercept[IllegalArgumentException] {
      cat.alterTable(ident, TableChange.updateColumnComment(Array("k"), "key"),
        TableChange.updateColumnNullability(Array("v"), false))
    } finally RaceFs.arm(() => ())
    assert(ops(rival) == Seq("CREATE", "APPEND", "ALTER_COLUMN"))
    assert(rival.read().schema("v").nullable)
    assert(rival.read().filter(col("v").isNull).count() == 1)
  }

  // ---- the SQL row-level rewrite: it commits from the version its scan
  // planned, with the pushed filters as its predicate

  /** A catalog table `k, p, s` with k = 1..10 in partitions p = k % 2,
    * reached through the `racefs` filesystem; its name and a handle on
    * its plain path (another process's view of it). */
  private def sqlTable(cat: String): (String, SnapshotTable) = {
    val root = Scratch.dir(s"occ_$cat")
    spark.sparkContext.hadoopConfiguration.set("fs.racefs.impl", classOf[RaceFs].getName)
    spark.sparkContext.hadoopConfiguration.set("fs.racefs.impl.disable.cache", "true")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", "racefs:" + root)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT, p INT, s STRING) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ns.t SELECT id, CAST(id % 2 AS INT), 'x' FROM range(1, 11)")
    (s"$cat.ns.t", new SnapshotTable(spark, root + "/ns/t"))
  }

  private def ks(t: SnapshotTable, cond: org.apache.spark.sql.Column) =
    t.read().filter(cond).select("k").collect().map(_.getLong(0)).toSeq.sorted

  test("a SQL UPDATE conflicts with a rival that committed after its scan planned") {
    val (name, rival) = sqlTable("occstale")
    val extra = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = extra :+ AfterScanPlanning
    AfterScanPlanning.arm(() => rival.delete(col("k") === 1): Unit)
    try intercept[ConcurrentModificationException] {
      spark.sql(s"UPDATE $name SET s = 'upd' WHERE p = 1")
    } finally {
      spark.experimental.extraOptimizations = extra
      AfterScanPlanning.arm(() => ())
    }
    assert(ops(rival) == Seq("CREATE", "APPEND", "DELETE"), "the rival's commit only")
    assert(ks(rival, lit(true)) == (2L to 10L), "no duplicate and no deleted row")
    assert(ks(rival, col("s") === "upd").isEmpty)
  }

  Seq(("another partition", 2, true), ("the updated partition", 1, false))
    .foreach { case (where, p, lands) =>
      test(s"a SQL UPDATE racing a rival append to $where " +
          (if (lands) "rebases" else "conflicts")) {
        import spark.implicits._
        val (name, rival) = sqlTable(s"occappend$p")
        RaceFs.arm(() => rival.append(Seq((11L, p, "r")).toDF("k", "p", "s"),
          Some("p")): Unit)
        try {
          def update() = spark.sql(s"UPDATE $name SET s = 'upd' WHERE p = 1")
          if (lands) update() else intercept[ConcurrentModificationException](update())
        } finally RaceFs.arm(() => ())
        assert(ks(rival, col("s") === "r") == Seq(11L), "the rival's row lands")
        assert(ks(rival, col("s") === "upd") == (if (lands) Seq(1L, 3L, 5L, 7L, 9L) else Nil))
        assert(ops(rival) == Seq("CREATE", "APPEND", "APPEND") ++
          (if (lands) Seq("OVERWRITE") else Nil))
      }
    }

  // ---- identity values: `k` takes values reserved off this process's
  // counter for the table, seeded from the stored maximum (39)

  private def identityRows(t: SnapshotTable, n: Int) = {
    import spark.implicits._
    val base = t.reserveIdentity("k", 1L, 1L, n.toLong)
    (0 until n).map(i => (base + i, "C", 0.0)).toDF("k", "p", "v")
  }

  private def ops(t: SnapshotTable) =
    t.history.orderBy("version").select("operation").collect().map(_.getString(0)).toSeq

  test("identity appends racing in one process both commit with distinct values") {
    val (t, root) = mkTable("occ_ident_local")
    val r = new SnapshotTable(spark, root)
    val mine = identityRows(t, 3)
    t.withCommitHook(if (r.currentVersion == 0) r.append(identityRows(r, 2), Some("p"))) {
      t.append(mine, Some("p"))
    }
    assert(ops(t) == Seq("CREATE", "APPEND", "APPEND"))
    val ks = t.read().filter(col("p") === "C").select("k").collect().map(_.getLong(0))
    assert(ks.sorted.toSeq == (40L to 44L), ks.sorted.mkString(","))
  }

  test("an optimize rebases over an identity append") {
    val t = raced("occ_ident_optimize", r => r.append(identityRows(r, 2), Some("p")))(
      w => { assert(w.optimize() >= 2); () })
    assert(ops(t) == Seq("CREATE", "APPEND", "OPTIMIZE"))
    assert(t.read().count() == 42)
  }

  test("an identity append conflicts with another process's identity append") {
    val (t, root) = mkTable("occ_ident_foreign")
    // a second spelling of the root has its own counters and manifest
    // cache, as another process would: both reserve from 40
    val other = new SnapshotTable(spark, "file:" + root)
    val mine = identityRows(t, 3)
    intercept[ConcurrentModificationException] {
      t.withCommitHook(if (other.currentVersion == 0)
          other.append(identityRows(other, 2), Some("p"))) {
        t.append(mine, Some("p"))
      }
    }
    assert(ops(t) == Seq("CREATE", "APPEND"), "the other process's commit only")
    assert(t.read().filter(col("p") === "C").count() == 2)
  }

  Seq[(String, (SnapshotTable, Long) => Unit)](
    ("append", (t, k) => t.append(row(k, "C"), Some("p")): Unit),
    ("appendIdempotent", (t, k) =>
      t.append(row(k, "C"), Some("p"), txn = Some(("sink", k))): Unit)
  ).foreach { case (name, write) =>
    test(s"$name gives up after the attempt bound when a rival wins every attempt") {
      failAfter(Span(120, Seconds)) {
        val (t, root) = mkTable(s"occ_bound_$name")
        val rival = new SnapshotTable(spark, root)
        var k = 200L
        val e = intercept[ConcurrentModificationException] {
          t.withCommitHook { k += 1; rival.append(row(k, "A"), Some("p")) } {
            write(t, 100L)
          }
        }
        assert(e.getMessage.contains("gave up"), e.getMessage)
        assert(t.currentVersion == SnapshotTable.CommitAttempts,
          "every version is the rival's")
        assert(vs(t, col("k") === 100).isEmpty)
      }
    }
  }
}

/** The local filesystem under the `racefs` scheme, whose next create of
  * a version's temp sibling first runs the armed rival: another process
  * publishing the same version between a commit's read of the latest
  * version and its publish. */
class RaceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("racefs:///")

  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (f.getName.matches("\\.\\d+\\.json\\.tmp-.*")) RaceFs.take()()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object RaceFs {
  private var rival: () => Unit = () => ()
  def arm(r: () => Unit): Unit = synchronized { rival = r }
  def take(): () => Unit = synchronized { val r = rival; rival = () => (); r }
}

/** An optimizer rule that runs the armed rival once, on the first plan
  * holding a row-level `ReplaceData`: extra optimizations run after scan
  * push-down, so the rival commits between the rewrite's scan planning
  * and its execution. */
object AfterScanPlanning
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  private var rival: () => Unit = () => ()
  def arm(r: () => Unit): Unit = synchronized { rival = r }

  def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    if (plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ReplaceData]))
      synchronized { val r = rival; rival = () => (); r }()
    plan
  }
}
