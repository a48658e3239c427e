package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Optimistic concurrency + timestamp travel, with the racing commit
  * injected DETERMINISTICALLY through the beforeCommit seam of
  * `merge`'s copy-on-write core (`mergeCopyOnWrite`) — a thread race
  * would exercise whichever interleaving the scheduler picks; the seam
  * pins both the lost-race-retry path and the true-conflict path every
  * run. */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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
    t.mergeCopyOnWrite(src("B", 100.0), keys = Seq("k", "p"),
      partitionBy = Some("p"),
      beforeCommit = () => if (!injected) {
        injected = true
        // rival wins version 1 touching only partition A
        rival.merge(src("A", 1000.0), keys = Seq("k", "p"),
          partitionBy = Some("p"))
      })
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
      t.mergeCopyOnWrite(src("B", 100.0), keys = Seq("k", "p"),
        partitionBy = Some("p"),
        beforeCommit = () => if (!injected) {
          injected = true
          rival.merge(src("B", 7.0), keys = Seq("k", "p"),
            partitionBy = Some("p"))
        })
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
      t.mergeCopyOnWrite(src("B", 100.0), keys = Seq("k", "p"),
        partitionBy = Some("p"),
        beforeCommit = () => if (!injected) {
          injected = true
          rival.merge(Seq((9L, "B", 77.0)).toDF("k", "p", "v"),
            Seq("k", "p"), Some("p"), deferred = true)
        })
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
      t.mergeCopyOnWrite(src("B", 7.0), keys = Seq("k", "p"),
        partitionBy = Some("p"),
        beforeCommit = () => if (!injected) {
          injected = true
          rival.merge(src("A", 1000.0), keys = Seq("k", "p"),
            partitionBy = Some("p"))
        })
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
    t.mergeCopyOnWrite(src("B", 100.0), keys = Seq("k", "p"),
      partitionBy = Some("p"),
      beforeCommit = () => if (!injected) {
        injected = true
        rival.delete(col("k") === 12, positional = true)
      })
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
      t.mergeCopyOnWrite(src("B", 100.0), keys = Seq("k", "p"),
        partitionBy = Some("p"),
        beforeCommit = () => if (!injected) {
          injected = true
          rival.delete(col("k") === 9, positional = true)
        })
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
      t.mergeCopyOnWrite(Seq((9L, "B", Option.empty[Double])).toDF("k", "p", "v"),
        keys = Seq("k", "p"), partitionBy = Some("p"),
        beforeCommit = () => if (rival.currentVersion == 0) rival.setNotNull("v"))
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
    t.mergeCopyOnWrite(src("B", 100.0), keys = Seq("k", "p"),
      partitionBy = Some("p"), trackChanges = true,
      beforeCommit = () => if (rival.currentVersion == 0)
        rival.merge(src("A", 1000.0), keys = Seq("k", "p"), partitionBy = Some("p")))
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
    t.mergeCopyOnWrite(src("B", 100.0), keys = Seq("k", "p"),
      partitionBy = Some("p"), txn = batch,
      beforeCommit = () => if (rival.currentVersion == 0)
        rival.merge(src("B", 100.0), keys = Seq("k", "p"),
          partitionBy = Some("p"), txn = batch))
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
}
