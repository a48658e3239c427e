package graft

import graft.sources.SnapshotTable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental commit log: non-checkpoint versions persist as DELTA
  * records (adds/removes vs the predecessor), every CheckpointInterval-th
  * version as a self-contained FULL manifest — commit metadata written is
  * O(changed files), not O(table files). These tests pin the encoding on
  * disk, reconstruction from a cold cache (a copied table root has fresh
  * cache keys, so every record re-parses from storage — the restart
  * case), and vacuum's checkpoint materialization at the cutoff. */
class IncrementalLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def slice(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, i % 5, i * 10.0)).toDF("id", "k", "v")
  }

  private def logJson(root: String, v: Int): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_graft_log", f"$v%05d.json")),
      java.nio.charset.StandardCharsets.UTF_8)

  private def isDelta(root: String, v: Int): Boolean =
    logJson(root, v).contains("\"base\"")

  /** Copy a table root so every manifest re-parses from disk (the
    * process-wide cache is keyed by absolute path) — a session restart
    * as far as the log reader is concerned. */
  private def reopenCold(root: String): SnapshotTable = {
    val dst = Scratch.dir("inclog_cold")
    val from = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(from).forEach { p =>
      val to = java.nio.file.Paths.get(dst, from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    }
    // data-file paths inside manifests are absolute: keep the data where
    // the log says it is, only the LOG must re-parse — point the copied
    // log's reads at the copy, data resolution still hits the original
    new SnapshotTable(spark, dst)
  }

  test("appends write delta records; checkpoints write full manifests") {
    val root = Scratch.dir("inclog_enc")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    (1 to 12).foreach(i => t.append(slice(100 * i, 100 * i + 50)))
    assert(!isDelta(root, 0), "v0 is the chain root — always full")
    (1 to 9).foreach(v => assert(isDelta(root, v), s"v$v must be a delta"))
    assert(!isDelta(root, 10), "every 10th version is a full checkpoint")
    (11 to 12).foreach(v => assert(isDelta(root, v), s"v$v must be a delta"))
    // a delta append's log entry is O(new files): far smaller than the
    // accumulated full state
    assert(logJson(root, 12).length < logJson(root, 10).length / 2)
    assert(t.read().count() === 100L + 12 * 50L)
  }

  test("cold reconstruction matches the writer's in-memory state") {
    val root = Scratch.dir("inclog_cold_src")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 200))
    t.merge(slice(50, 60).withColumn("v", col("v") + 1.0), keys = Seq("id"))
    t.delete(col("id").between(150, 159))
    t.merge(slice(20, 25).withColumn("v", col("v") + 2.0), Seq("id"), deferred = true)
    t.delete(col("id").between(180, 184), positional = true)
    val expect = t.read().orderBy("id").collect().toSeq
    val cold = reopenCold(root)
    assert(cold.currentVersion === t.currentVersion)
    assert(cold.read().orderBy("id").collect().toSeq === expect)
    // metadata surfaces reconstruct identically too
    assert(cold.countFromManifest === t.countFromManifest)
    assert(cold.files.map(_.path).toSet === t.files.map(_.path).toSet)
  }

  test("full-rewrite commits fall back to full encoding") {
    val root = Scratch.dir("inclog_fallback")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 200))
    t.compact(2) // v2 replaces every file — a delta would be larger
    assert(!isDelta(root, 2), "all-replaced state must persist as full")
    assert(t.read().count() === 200L)
  }

  test("txn markers and timestamps survive delta reconstruction") {
    val root = Scratch.dir("inclog_txn")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    t.append(slice(100, 150), txn = Some(("app", 1L)))
    t.append(slice(150, 200))
    val cold = reopenCold(root)
    assert(cold.txnVersion("app") === Some(1L),
      "carried txn markers must reconstruct through delta records")
    assert(cold.append(slice(100, 150), txn = Some(("app", 1L))).currentVersion == 2,
      "a replayed batch must still be detected after reconstruction")
    (0 to 2).foreach(v =>
      assert(cold.commitTimestamp(v) === t.commitTimestamp(v)))
  }

  test("vacuum materializes the cutoff as a checkpoint before pruning") {
    val root = Scratch.dir("inclog_vac")
    val t = new SnapshotTable(spark, root).create(slice(0, 100))
    (1 to 6).foreach(i => t.append(slice(100 * i, 100 * i + 10)))
    assert(isDelta(root, 4), "pre-vacuum v4 is a delta record")
    val expect = t.read().orderBy("id").collect().toSeq
    t.vacuum(retainVersions = 3) // cutoff = 4: v0..3 reclaimed
    assert(!isDelta(root, 4),
      "the oldest retained version must be rewritten self-contained")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_graft_log", "00000.json")))
    val cold = reopenCold(root)
    assert(cold.read().orderBy("id").collect().toSeq === expect)
  }

  test("a log with checksum siblings reads, vacuums and rebases through the log store") {
    val root = Scratch.dir("inclog_crc")
    val t = new SnapshotTable(spark, root).create(slice(0, 100)).withProperty("a", "1")
    (1 to 12).foreach(i => t.append(slice(100 * i, 100 * i + 10)))
    // commit every log file again through the checksummed create the log
    // used before it had a store: each gets a `.crc` sibling
    val local = FileSystem.getLocal(new Configuration())
    def logFiles(dir: String) = local.listStatus(new Path(dir, "_graft_log")).map(_.getPath)
      .filter(_.getName.matches("\\d+\\.json|_properties\\.json"))
    logFiles(root).foreach { p =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.toUri.getPath))
      val out = local.create(p, true)
      try out.write(bytes) finally out.close()
    }
    assert(new java.io.File(root, "_graft_log/.00008.json.crc").exists)
    def counts(s: SnapshotTable, vs: Range) = {
      s.invalidateCaches()
      vs.map(v => s.read(v).count())
    }
    assert(counts(t, 0 to 12) === (0 to 12).map(100L + 10 * _))
    t.vacuum(retainVersions = 5) // replaces v8, a DELTA record, with a checkpoint
    assert(!isDelta(root, 8))
    assert(counts(t, 8 to 12) === (8 to 12).map(100L + 10 * _))
    val moved = Scratch.dir("inclog_crc_moved") + "/t"
    java.nio.file.Files.move(java.nio.file.Paths.get(root), java.nio.file.Paths.get(moved))
    val m = new SnapshotTable(spark, moved)
    m.rebaseLog(root)
    m.withProperty("b", "2")
    assert(counts(m, 8 to 12) === (8 to 12).map(100L + 10 * _))
    assert(m.propertiesMap === Map("a" -> "1", "b" -> "2"))
    // a checksummed reader of a replaced file finds no stale sibling
    logFiles(moved).foreach { p =>
      val in = local.open(p)
      try in.readAllBytes() finally in.close()
    }
  }
}
