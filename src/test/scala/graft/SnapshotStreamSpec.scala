package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-tailed snapshot streaming source (SnapshotStreamSource):
  * micro-batches planned from manifest version diffs — batch granularity,
  * startingVersion resolution, append-only enforcement, and change-feed
  * mode, all without a single data-directory listing. */
class SnapshotStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** id/k/v frame of one commit's rows: ids in [lo, hi). */
  private def slice(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, i % 5, i * 10.0)).toDF("id", "k", "v")
  }

  /** Drain a snapshot stream (AvailableNow) into a memory sink; returns
    * (rows, number of non-empty micro-batches). */
  private def drain(root: String, opts: Map[String, String],
      agg: DataFrame => DataFrame): (Seq[org.apache.spark.sql.Row], Long) = {
    val name = s"snapstream_${System.nanoTime()}"
    val src = opts.foldLeft(
      spark.readStream.format("graft-snapshot").option("path", root)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
    val q = agg(src).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Complete)
      .option("checkpointLocation", tmp("snapstream_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0).toLong
    (spark.table(name).collect().toSeq, batches)
  }

  test("append-only tail: one micro-batch per version, converges to table") {
    val root = tmp("snapstream_tbl")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 250))
    t.append(slice(250, 300))
    val (rows, batches) = drain(root,
      Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "1"),
      _.agg(count(lit(1)).as("n"), sum("v").as("sv")))
    assert(rows.head.getLong(0) === 300L)
    assert(rows.head.getDouble(1) === (0 until 300).map(_ * 10.0).sum)
    assert(batches === 3L, "3 commits with maxVersionsPerTrigger=1 → 3 batches")
  }

  test("maxFilesPerTrigger / maxBytesPerTrigger bound each micro-batch") {
    val root = tmp("snapstream_ratelim")
    val t = new SnapshotTable(spark, root).create(slice(0, 100).coalesce(2))
    (1 to 3).foreach(i => t.append(slice(i * 100, i * 100 + 100).coalesce(2)))
    // 4 commits × 2 files; a 4-file cap admits 2 commits per batch
    val (rows, batches) = drain(root,
      Map("startingVersion" -> "0", "maxFilesPerTrigger" -> "4"),
      _.agg(count(lit(1)).as("n")))
    assert(rows.head.getLong(0) === 400L)
    assert(batches === 2L, s"8 files / 4-file cap → 2 batches, got $batches")
    // a cap SMALLER than one commit still admits that commit (progress
    // guarantee: a bulk-load version must not stall the stream forever)
    val (rows1, batches1) = drain(root,
      Map("startingVersion" -> "0", "maxFilesPerTrigger" -> "1"),
      _.agg(count(lit(1)).as("n")))
    assert(rows1.head.getLong(0) === 400L)
    assert(batches1 === 4L, s"1-file cap → one commit per batch, got $batches1")
    // byte-based cap: 1-byte budget degenerates to one commit per batch
    val (rows2, batches2) = drain(root,
      Map("startingVersion" -> "0", "maxBytesPerTrigger" -> "1"),
      _.agg(count(lit(1)).as("n")))
    assert(rows2.head.getLong(0) === 400L)
    assert(batches2 === 4L, s"1-byte cap → one commit per batch, got $batches2")
    // a generous byte budget ("1g" byte-string spelling) drains in one
    val (rows3, batches3) = drain(root,
      Map("startingVersion" -> "0", "maxBytesPerTrigger" -> "1g"),
      _.agg(count(lit(1)).as("n")))
    assert(rows3.head.getLong(0) === 400L)
    assert(batches3 === 1L, s"1g cap swallows the backlog, got $batches3")
  }

  test("startingVersion skips earlier commits; 'latest' sees nothing") {
    val root = tmp("snapstream_sv")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 250))
    t.append(slice(250, 300))
    val (rows, _) = drain(root, Map("startingVersion" -> "1"),
      _.agg(count(lit(1)).as("n"), min("id").as("lo")))
    assert(rows.head.getLong(0) === 200L)
    assert(rows.head.getLong(1) === 100L)
    val (latestRows, latestBatches) = drain(root,
      Map("startingVersion" -> "latest"), _.agg(count(lit(1)).as("n")))
    assert(latestBatches === 0L)
    assert(latestRows.isEmpty || latestRows.head.getLong(0) === 0L)
  }

  test("non-append commit fails the data stream loudly") {
    val root = tmp("snapstream_dml")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 200))
    t.merge(slice(50, 60).withColumn("v", col("v") + 1.0), keys = Seq("id"))
    val e = intercept[StreamingQueryException] {
      drain(root, Map("startingVersion" -> "0"),
        _.agg(count(lit(1)).as("n")))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("non-append commit")))
  }

  test("change feed streams tracked DML + appends-as-inserts, skips compaction") {
    val root = tmp("snapstream_cdc")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 200))
    t.compact(2)
    t.merge(slice(150, 170).withColumn("v", col("v") + 0.5), keys = Seq("id"),
      trackChanges = true)
    val (rows, _) = drain(root,
      Map("startingVersion" -> "1", "readChangeFeed" -> "true",
        "maxVersionsPerTrigger" -> "1"),
      _.groupBy(SnapshotTable.ChangeCol).agg(count(lit(1)).as("n")))
    val byType = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("insert") === 100L) // the APPEND commit's rows
    assert(byType("update_preimage") === 20L)
    assert(byType("update_postimage") === 20L)
    assert(!byType.contains(null)) // compaction contributed nothing
  }

  test("change feed fails on an untracked DML commit") {
    val root = tmp("snapstream_cdc_untracked")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.merge(slice(10, 20).withColumn("v", col("v") + 1.0), keys = Seq("id"))
    val e = intercept[StreamingQueryException] {
      drain(root, Map("startingVersion" -> "1", "readChangeFeed" -> "true"),
        _.agg(count(lit(1)).as("n")))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("no change")))
  }

  test("checkpoint recovery: a restarted stream resumes at the logged version") {
    val root = tmp("snapstream_restart")
    val ckpt = tmp("snapstream_restart_ckpt")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 200))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("path", root).option("startingVersion", "0").load()
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          seen += batch.count(); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainOnce() // versions 0..1
    assert(seen.sum === 200L)
    t.append(slice(200, 260))
    t.append(slice(260, 300))
    seen.clear()
    drainOnce() // resumes from the checkpointed offset: versions 2..3 only
    assert(seen.sum === 100L,
      s"restart must replay only the new commits, got ${seen.sum} rows")
  }

  test("rate-limited restart resumes at the committed offset (no replay)") {
    val root = tmp("snapstream_rl")
    val ckpt = tmp("snapstream_rl_ckpt")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 200))
    t.append(slice(200, 300))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("path", root).option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) => seen += batch.count(); () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainOnce() // versions 0..2, one per batch
    assert(seen.sum === 300L)
    t.append(slice(300, 350))
    seen.clear()
    // restart: latestOffset is called before any getBatch; with the rate
    // limit the source must resync to the checkpointed offset instead of
    // counting up from startingVersion and replaying versions 0..2
    drainOnce()
    assert(seen.sum === 50L,
      s"restart must emit only the new commit's rows, got ${seen.sum}")
  }

  test("data mode skips compaction/optimize as logical no-ops") {
    val root = tmp("snapstream_reorg")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 200))
    t.compact(2) // rewrite, no logical change — must not kill the tail
    t.append(slice(200, 250))
    t.compactSmallFiles(minBytes = Long.MaxValue, targetFiles = 1) // OPTIMIZE
    t.append(slice(250, 260))
    val (rows, batches) = drain(root,
      Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "1"),
      _.agg(count(lit(1)).as("n"), sum("v").as("sv")))
    assert(rows.head.getLong(0) === 260L,
      "reorg commits contribute no rows (their files would duplicate)")
    assert(rows.head.getDouble(1) === (0 until 260).map(_ * 10.0).sum)
    assert(batches === 4L, "4 row-adding commits; 2 reorg commits skipped")
  }

  test("REORG (DV purge) commits are skipped as data reorganization") {
    val root = tmp("snapstream_reorgdv")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))   // v0
    t.append(slice(100, 200))                                      // v1
    t.deleteWherePositional("id", 0, 9, trackChanges = true)       // v2
    assert(t.reorgPurge() > 0)                                     // v3
    t.append(slice(200, 250))                                      // v4
    // data mode, tailing from AFTER the delete: the purge rewrite is a
    // logical no-op and must not kill (or double-feed) the tail
    val (rows, _) = drain(root, Map("startingVersion" -> "3"),
      _.agg(count(lit(1)).as("n"), min("id").as("lo")))
    assert(rows.head.getLong(0) === 50L && rows.head.getLong(1) === 200L,
      s"REORG must contribute nothing; got ${rows.head}")
    // change-feed mode across the whole history: the delete's tracked
    // rows arrive once, the purge arrives not at all
    val (cdc, _) = drain(root,
      Map("startingVersion" -> "2", "readChangeFeed" -> "true"),
      _.groupBy(SnapshotTable.ChangeCol).agg(count(lit(1)).as("n")))
    val byType = cdc.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("delete" -> 10L, "insert" -> 50L), s"got $byType")
  }

  test("streaming a clone carrying unresolved MoR/DV state fails loudly") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // pending MoR deltas
    val root = tmp("snapstream_clone_mor")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.mergeDeferred(slice(50, 60).withColumn("v", col("v") + 1.0), keys = Seq("id"))
    val cloneRoot = tmp("snapstream_clone_mor_dst")
    t.shallowCloneTo(cloneRoot)
    val e = intercept[StreamingQueryException] {
      drain(cloneRoot, Map("startingVersion" -> "0"), _.agg(count(lit(1)).as("n")))
    }
    assert(messages(e).exists(_.contains("pending MoR")))
    // pending deletion-vector marks
    val root2 = tmp("snapstream_clone_dv")
    val t2 = new SnapshotTable(spark, root2).create(slice(0, 100))
    t2.deleteWherePositional("id", 10, 30)
    val cloneRoot2 = tmp("snapstream_clone_dv_dst")
    t2.shallowCloneTo(cloneRoot2)
    val e2 = intercept[StreamingQueryException] {
      drain(cloneRoot2, Map("startingVersion" -> "0"), _.agg(count(lit(1)).as("n")))
    }
    assert(messages(e2).exists(_.contains("pending MoR")))
    // a compacted clone streams fine (state resolved into plain files)
    t2.compact(2)
    val cloneRoot3 = tmp("snapstream_clone_ok")
    t2.shallowCloneTo(cloneRoot3)
    val (rows, _) = drain(cloneRoot3, Map("startingVersion" -> "0"),
      _.agg(count(lit(1)).as("n")))
    assert(rows.head.getLong(0) === 79L) // 100 - ids 10..30 deleted
  }

  test("startingVersion=latest is pinned per checkpoint across restarts") {
    val root = tmp("snapstream_pin")
    val ckpt = tmp("snapstream_pin_ckpt")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("path", root).option("startingVersion", "latest").load()
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) => seen += batch.count(); () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainOnce() // nothing after 'latest' yet — but the resolution is pinned
    assert(seen.sum === 0L)
    t.append(slice(100, 160))
    t.append(slice(160, 200))
    seen.clear()
    // restart with the same checkpoint: the source is re-created, but
    // 'latest' must NOT re-resolve to the new head — the two commits
    // made since the pin stream out
    drainOnce()
    assert(seen.sum === 100L,
      s"commits between pin and restart must stream, got ${seen.sum}")
  }

  test("startingTimestamp streams the first commit at or after the instant") {
    val root = tmp("snapstream_ts")
    val t = new SnapshotTable(spark, root).create(slice(0, 100)) // v0
    t.append(slice(100, 200)) // v1
    t.append(slice(200, 260)) // v2
    // exact boundary: a commit AT the instant is included
    val (rows, _) = drain(root,
      Map("startingTimestamp" -> t.commitTimestamp(1).toString),
      _.agg(count(lit(1)).as("n"), min("id").as("lo")))
    assert(rows.head.getLong(0) === 160L)
    assert(rows.head.getLong(1) === 100L)
    // an instant past the newest commit: nothing streams
    val (after, afterBatches) = drain(root,
      Map("startingTimestamp" -> (t.commitTimestamp(2) + 1L).toString),
      _.agg(count(lit(1)).as("n")))
    assert(afterBatches === 0L)
    assert(after.isEmpty || after.head.getLong(0) === 0L)
    // an instant before the table existed: everything streams
    val (all, _) = drain(root, Map("startingTimestamp" -> "1"),
      _.agg(count(lit(1)).as("n")))
    assert(all.head.getLong(0) === 260L)
  }

  test("native sink: format('graft-snapshot') appends exactly once") {
    val srcDir = tmp("snapsink_src")
    val root = tmp("snapsink_tbl")
    val ckpt = tmp("snapsink_ckpt")
    def addFile(i: Int, lo: Int, hi: Int): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("snapsink_stage")
      slice(lo, hi).coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, f"f$i%d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    addFile(0, 0, 100)
    addFile(1, 100, 180)
    def drain(ckptDir: String): Unit = {
      val q = spark.readStream.schema(slice(0, 1).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.format("graft-snapshot")
        .option("path", root).option("txnAppId", "snapsink")
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(ckpt) // batch 0 creates the table, batch 1 appends
    val t = new SnapshotTable(spark, root)
    assert(t.read().count() === 180L)
    assert(t.commitOperation(0) === "CREATE")
    // same checkpoint, one new file → exactly one more append
    addFile(2, 180, 200)
    drain(ckpt)
    assert(t.read().count() === 200L)
    // fresh checkpoint re-delivers every batch → all detected and skipped
    drain(tmp("snapsink_ckpt2"))
    assert(t.read().count() === 200L,
      "re-delivered batches must be skipped via the txn marker")
  }

  test("format reader: load/time-travel/filters through the connector") {
    val root = tmp("snapread_tbl")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 200))
    def rd = spark.read.format("graft-snapshot").option("path", root)
    assert(rd.load().count() === 200L)
    // pushed-filter translation path (range + in + null checks)
    assert(rd.load().filter(col("id") < 50 && col("k").isin(1, 2)).count()
      === (0 until 50).count(i => i % 5 == 1 || i % 5 == 2).toLong)
    // time travel by version and by timestamp
    assert(rd.option("versionAsOf", "0").load().count() === 100L)
    assert(rd.option("timestampAsOf", t.commitTimestamp(0).toString)
      .load().count() === 100L)
    // unresolved MoR state resolves through the format reader too
    t.mergeDeferred(slice(0, 10).withColumn("v", col("v") + 1000.0), Seq("id"))
    val got = rd.load().filter(col("id") === 5L).select("v").head().getDouble(0)
    assert(got === 1050.0, "format read must see the resolved MoR value")
    assert(rd.load().count() === 200L)
  }

  test("format writer: SaveMode semantics commit through the connector") {
    val root = tmp("snapwrite_tbl")
    def wr(lo: Int, hi: Int) =
      slice(lo, hi).write.format("graft-snapshot").option("path", root)
    wr(0, 100).mode("append").save() // first write creates
    wr(100, 150).mode("append").save()
    val t = new SnapshotTable(spark, root)
    assert(t.read().count() === 150L)
    assert(t.currentVersion === 1)
    wr(0, 10).mode("overwrite").save() // full replace, history preserved
    assert(t.read().count() === 10L)
    assert(t.read(1).count() === 150L, "prior versions stay time-travelable")
    assert(t.commitOperation(2) === "OVERWRITE")
    intercept[Exception](wr(0, 5).mode("errorifexists").save())
    wr(0, 5).mode("ignore").save() // table exists: no-op
    assert(t.read().count() === 10L)
  }

  test("commitAddedDataFiles is an exact per-version diff") {
    val root = tmp("snapstream_diff")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 150))
    val v0 = t.commitAddedDataFiles(0)
    val v1 = t.commitAddedDataFiles(1)
    assert(v0.map(_.rows).sum === 100L)
    assert(v1.map(_.rows).sum === 50L)
    assert(v0.map(_.path).toSet.intersect(v1.map(_.path).toSet).isEmpty)
    assert(!t.commitRemovedFiles(1))
    t.merge(slice(0, 10).withColumn("v", col("v") + 1.0), keys = Seq("id"))
    assert(t.commitRemovedFiles(2))
  }
}
