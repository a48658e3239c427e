package graft.sources

import graft.TestSpark
import org.apache.spark.sql.GraftParquetWrite
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Hardening pins for the commit machinery:
  *   - the caches a writer persists (a DV MERGE's delta frame, an
  *     identity fill's batch) are released when the operation ends,
  *     committed or failed;
  *   - in-task stats and partition values match the footer probe's
  *     over the same files for ESCAPED partition values (space, %, =);
  *   - the documented multi-row-group divergence (footer drops a column
  *     with an all-null chunk, the tracker keeps the still-sound
  *     file-level range) is pinned so it can never drift silently.
  * Lives in graft.sources for access to the private[sources] hooks. */
class CommitHardeningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("a DV MERGE and an identity INSERT leave no cache, committed or failed") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.cr", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.cr.root", tmp("cache_release"))
    graft.plans.GraftRowLevelOps.register(s)
    def persisted = s.sparkContext.getPersistentRDDs.keySet
    s.sql("CREATE NAMESPACE cr.ns")
    s.sql("CREATE TABLE cr.ns.dv (k BIGINT, v DOUBLE NOT NULL) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    s.sql("INSERT INTO cr.ns.dv SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    s.sql("CREATE TABLE cr.ns.id (id BIGINT GENERATED ALWAYS AS IDENTITY, v DOUBLE)")
    val before = persisted
    def merge(v: String) = s.sql(
      s"""MERGE INTO cr.ns.dv t USING (SELECT id * 10 AS k, $v AS v FROM range(20)) src
          ON t.k = src.k WHEN MATCHED THEN UPDATE SET t.v = src.v
          WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)""")
    merge("-1.0")
    assert(new SnapshotTable(s, s"${s.conf.get("spark.sql.catalog.cr.root")}/ns/dv")
      .commitOperation(2) == "MERGE_DV")
    assert(persisted == before, "a committed DV MERGE left its delta frame cached")
    // a NULL for the NOT NULL column fails the image write after the
    // delta frame is cached
    intercept[Exception](merge("CAST(NULL AS DOUBLE)"))
    assert(persisted == before, "a failed DV MERGE left its delta frame cached")
    s.sql("INSERT INTO cr.ns.id (v) SELECT CAST(id AS DOUBLE) FROM range(50)")
    assert(s.sql("SELECT count(DISTINCT id) FROM cr.ns.id").head.getLong(0) == 50)
    assert(persisted == before, "a committed identity INSERT left its batch cached")
    // the explicit value fails the ALWAYS check inside the write job,
    // after the batch holding the NULL slot was cached and sized
    intercept[Exception](s.sql("INSERT INTO cr.ns.id VALUES (NULL, 1.0), (7, 2.0)"))
    assert(persisted == before, "a failed identity INSERT left its batch cached")
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
