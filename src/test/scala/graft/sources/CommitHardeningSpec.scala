package graft.sources

import graft.TestSpark
import org.apache.spark.sql.GraftParquetWrite
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Hardening pins for the r18 commit machinery (VERDICT/ADVICE items):
  *   - commit caches are scoped per commit (thread): two concurrent
  *     commits on ONE instance cannot cross-drain, and a stale drain
  *     reaps the caches of a thread that died without draining;
  *   - in-task stats and partition values match the footer probe's
  *     over the same files for ESCAPED partition values (space, %, =);
  *   - the documented multi-row-group divergence (footer drops a column
  *     with an all-null chunk, the tracker keeps the still-sound
  *     file-level range) is pinned so it can never drift silently.
  * Lives in graft.sources for access to the private[sources] hooks. */
class CommitHardeningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("concurrent commits on one instance do not cross-drain caches") {
    val s = spark.newSession()
    import s.implicits._
    val t = new SnapshotTable(s, tmp("cache_scope"))
    t.create(Seq((1L, 1.0)).toDF("k", "v"))
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      // thread A opens a commit and registers its delta-frame cache
      val dfA = pool.submit(() =>
        t.registerCommitCache(Seq((2L, 2.0)).toDF("k", "v"))).get()
      assert(dfA.storageLevel != StorageLevel.NONE)
      assert(pool.submit(() =>
        java.lang.Boolean.valueOf(t.commitCachesInFlightForTest)).get())
      // thread B (this thread) runs its own full commit-cache lifecycle,
      // including the stale-drain a nested fillIdentity would attempt
      t.drainStaleCommitCaches()
      val dfB = t.registerCommitCache(Seq((3L, 3.0)).toDF("k", "v"))
      t.drainCommitCaches()
      assert(dfB.storageLevel == StorageLevel.NONE, "B's drain frees B's cache")
      // the critical invariant: B's lifecycle must NOT have released A's
      // in-flight cache (the DV-MERGE marks/images recompute window)
      assert(dfA.storageLevel != StorageLevel.NONE,
        "thread B's drain released thread A's in-flight commit cache")
      assert(pool.submit(() =>
        java.lang.Boolean.valueOf(t.commitCachesInFlightForTest)).get())
      // A finishes: its own drain releases its cache
      pool.submit(new Runnable { def run(): Unit = t.drainCommitCaches() })
        .get()
      assert(dfA.storageLevel == StorageLevel.NONE)
    } finally pool.shutdown()
  }

  test("a stale drain reaps the caches of a thread that died without draining") {
    val s = spark.newSession()
    import s.implicits._
    val t = new SnapshotTable(s, tmp("cache_reap"))
    t.create(Seq((1L, 1.0)).toDF("k", "v"))
    def persisted = s.sparkContext.getPersistentRDDs.keySet
    val idsBefore = persisted
    var cached: org.apache.spark.sql.DataFrame = null
    // a commit opens on a thread that then exits: no drain ever runs there
    val owner = new Thread(() => {
      cached = t.registerCommitCache(Seq((2L, 2.0)).toDF("k", "v"))
      cached.count(); ()
    })
    owner.start()
    owner.join()
    val pinned = persisted -- idsBefore
    assert(pinned.nonEmpty && cached.storageLevel != StorageLevel.NONE,
      "the dead thread's cache is materialized and pinned")
    t.drainStaleCommitCaches()
    assert(cached.storageLevel == StorageLevel.NONE, "cache still registered")
    assert(persisted.intersect(pinned).isEmpty,
      s"getPersistentRDDs still lists ${persisted.intersect(pinned)}")
    // a live thread's in-flight caches are never reaped from here
    val gate = new java.util.concurrent.CountDownLatch(1)
    val registered = new java.util.concurrent.CountDownLatch(1)
    var live: org.apache.spark.sql.DataFrame = null
    val busy = new Thread(() => {
      live = t.registerCommitCache(Seq((3L, 3.0)).toDF("k", "v"))
      registered.countDown()
      gate.await()
      t.drainCommitCaches()
    })
    busy.start()
    try {
      registered.await()
      t.drainStaleCommitCaches()
      assert(live.storageLevel != StorageLevel.NONE)
    } finally { gate.countDown(); busy.join() }
    assert(live.storageLevel == StorageLevel.NONE)
  }

  private def statKey(c: String, lo: Double, hi: Double) = s"$c=[$lo,$hi]"

  /** (partValue, rows, stats) per v0 manifest file entry. */
  private def entryKeys(root: String): Set[(String, Long, String)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_graft_log", "00000.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val files = mapper.readTree(json).get("files")
    (0 until files.size()).map { i =>
      val f = files.get(i)
      val stats = Option(f.get("stats")).map { st =>
        import scala.jdk.CollectionConverters._
        st.fields().asScala.map(e => statKey(e.getKey,
          e.getValue.get(0).asDouble(), e.getValue.get(1).asDouble()))
          .toSeq.sorted.mkString(",")
      }.getOrElse("")
      (Option(f.get("part")).map(_.asText()).orNull,
        f.get("rows").asLong(), stats)
    }.toSet
  }

  /** The same projection from the footer probe over the files the
    * commits under `root` wrote, partition values parsed from their
    * directory names. */
  private def footerKeys(s: org.apache.spark.sql.SparkSession, root: String)
      : Set[(String, Long, String)] = {
    val data = new org.apache.hadoop.fs.Path(root, "data")
    val fs = data.getFileSystem(s.sessionState.newHadoopConf())
    SnapshotTable.probeFooters(s, SnapshotTable.listDataFiles(fs, data)).map {
      case (_, pv, _, rows, stats) =>
        (pv, rows, stats.toSeq.map { case (c, (lo, hi)) => statKey(c, lo, hi) }
          .sorted.mkString(","))
    }.toSet
  }

  test("in-task stats match the footer probe on ESCAPED partition values") {
    val s = spark.newSession()
    import s.implicits._
    // space, percent, equals, slash — the Hive-escaping edge set
    val df = Seq(("a b", 1L), ("p%q", 2L), ("e=f", 3L), ("x/y", 4L),
      ("plain", 5L)).toDF("p", "v").coalesce(1)
    val root = tmp("esc_intask")
    val t = new SnapshotTable(s, root)
    t.create(df, partitionBy = Some("p"))
    val a = entryKeys(root)
    val b = footerKeys(s, root)
    assert(a.nonEmpty && a == b,
      s"escaped-partition manifests diverge:\n  in-task: $a\n  footer: $b")
    // the raw values round-trip through the read path
    val read = t.read().select("p", "v").as[(String, Long)].collect().toSet
    assert(read == Set(("a b", 1L), ("p%q", 2L), ("e=f", 3L), ("x/y", 4L),
      ("plain", 5L)))
  }

  test("multi-row-group all-null chunk: tracker keeps the sound range, footer drops (documented divergence)") {
    val s = spark.newSession()
    // single ordered task: `c` is non-null only in the first ~100 rows;
    // a 1 KiB block size flushes row groups every ~100 records, so every
    // later row group is all-null for `c`
    val df = s.range(0, 2000, 1, 1)
      .selectExpr("id AS k", "IF(id < 100, id, CAST(NULL AS BIGINT)) AS c")
    val out = tmp("mrg_divergence")
    val res = GraftParquetWrite.writeWithStats(df.toDF(), out, None,
      Map("parquet.block.size" -> "1024"), statSkip = Set.empty,
      maxStatCols = 32)
    assert(res.size == 1)
    val (path, _, len, rows, trackerStats) = res.head
    assert(rows == 2000L)
    val footer = SnapshotTable.probeFooters(s, Seq((path, null, len)))
    val footerStats = footer.head._5
    assert(footer.head._4 == 2000L)
    // shared column: identical stats in both arms
    assert(trackerStats.get("k").contains((0.0, 1999.0)))
    assert(footerStats.get("k") == trackerStats.get("k"))
    // the divergence this spec pins: footer drops `c` (an all-null row
    // group makes its per-group model unsound), the tracker keeps the
    // file-level range, which is sound for pruning (covers every row)
    assert(!footerStats.contains("c"),
      "footer probe must drop a column with an all-null row group — if " +
        "this fails the fixture no longer produces multiple row groups")
    assert(trackerStats.get("c").contains((0.0, 99.0)),
      s"tracker keeps the exact non-null range, got ${trackerStats.get("c")}")
  }
}
