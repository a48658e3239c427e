package graft

import graft.sources.SnapshotTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Per-commit statistics collection.
  *
  * Flat schemas collect rows + min/max INSIDE the write tasks
  * (GraftParquetWrite, Delta's stats-tracker shape) — a commit costs
  * zero post-write file opens, zero extra Spark jobs, zero directory
  * listings. The footer-probe pass ([[SnapshotTable.probeFooters]], a
  * distributed job) remains the fallback for nested schemas, and it is
  * the reference the in-task stats are checked against: run over the
  * same committed files, it must report the same rows and stats. */
class CommitFooterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  /** (path, rows, stats-map) per manifest file entry of version 0. */
  private def entryStats(root: String)
      : Seq[(String, Long, Map[String, (Double, Double)])] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_graft_log", "00000.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val files = mapper.readTree(json).get("files")
    (0 until files.size()).map { i =>
      val f = files.get(i)
      val stats = Option(f.get("stats")).map { s =>
        import scala.jdk.CollectionConverters._
        s.fields().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asDouble(), e.getValue.get(1).asDouble())
        }.toMap
      }.getOrElse(Map.empty[String, (Double, Double)])
      (f.get("path").asText(), f.get("rows").asLong(), stats)
    }
  }

  /** The same projection from the footer probe over the files the
    * commits under `root` wrote. */
  private def footerStats(s: org.apache.spark.sql.SparkSession, root: String)
      : Seq[(String, Long, Map[String, (Double, Double)])] = {
    val data = new org.apache.hadoop.fs.Path(root, "data")
    val fs = data.getFileSystem(s.sessionState.newHadoopConf())
    SnapshotTable.probeFooters(s, SnapshotTable.listDataFiles(fs, data))
      .map { case (p, _, _, rows, stats) => (p, rows, stats) }
  }

  private def mixedDf(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    // long beyond 2^53 (ulp-widening path), int, double with nulls and a
    // NaN (column must drop), date, timestamp, small decimal
    // (unscaled-long stats), string (no numeric stats), an all-null int
    // (column must drop)
    (1L to 100L).map { k =>
      (k * 1806434126524786L, k.toInt,
        if (k == 7) None else Some(if (k == 13) Double.NaN else k * 1.5),
        java.sql.Date.valueOf(f"2024-01-${k % 28 + 1}%02d"),
        java.sql.Timestamp.valueOf(f"2024-01-01 00:${k % 60}%02d:00"),
        BigDecimal(k), s"s$k", Option.empty[Int])
    }.toDF("big", "i", "d", "dt", "ts", "decRaw", "s", "nul")
      .withColumn("dec",
        org.apache.spark.sql.functions.col("decRaw").cast("decimal(10,2)"))
      .drop("decRaw")
  }

  test("in-task stats equal the footer probe's, column for column") {
    val s = spark.newSession()
    val root = tmp("stats_intask")
    new SnapshotTable(s, root).create(mixedDf(s).coalesce(1))
    val a = entryStats(root).sortBy(_._1)
    val b = footerStats(s, root).sortBy(_._1)
    assert(a.nonEmpty && a == b,
      s"in-task stats diverge from footer stats:\n  in-task: $a\n  footer: $b")
    // sanity on content: NaN and all-null columns dropped, the rest kept
    val stats = a.head._3
    assert(a.head._2 == 100L)
    assert(!stats.contains("d"), "NaN column must drop its stats")
    assert(!stats.contains("nul"), "all-null column must drop its stats")
    assert(!stats.contains("s"), "string column carries no numeric stats")
    assert(stats.contains("big") && stats.contains("i") &&
      stats.contains("dt") && stats.contains("dec"))
    // ulp-widening parity at the 2^53 boundary: footer widens outward
    val (lo, hi) = stats("big")
    assert(lo <= 1806434126524786.0 && hi >= 180643412652478600.0)
  }

  test("footer-embedded schema probe equals the reader probe exactly") {
    val s = spark.newSession()
    val dir = tmp("schema_probe")
    val df = mixedDf(s).coalesce(1)
    df.write.mode("overwrite").parquet(dir)
    val file = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get().toString
    val viaReader = s.read.parquet(file).schema
    val viaFooter = graft.sources.SnapshotTable.probeDataSchema(s, Seq(file))
    assert(viaFooter == viaReader,
      s"footer-schema probe diverges:\n  footer: $viaFooter\n  reader: $viaReader")
    // robustness: a dead head candidate must not fail the probe when a
    // live one follows (pruned-away partitions may be physically gone)
    val alive = graft.sources.SnapshotTable.probeDataSchema(
      s, Seq(s"$dir/definitely-missing.parquet", file))
    assert(alive == viaReader)
  }

  test("a multi-file commit runs NO post-write probe job (in-task default)") {
    val s = spark.newSession()
    import s.implicits._
    val dir = tmp("footer_none")
    val probeStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.name.contains("collect at SnapshotTable.scala")) {
          probeStages.add(e.stageInfo.stageId); ()
        } else if (e.stageInfo.name.contains("count at CommitFooterSpec")) {
          marker.set(true)
        }
    }
    s.sparkContext.addSparkListener(listener)
    val t =
      try {
        val t0 = new SnapshotTable(s, dir).create(
          (1L to 400L).map(k => (k, k * 1.0)).toDF("k", "v").repartition(4))
        // listener events post asynchronously and FIFO: once the marker
        // job (submitted after the commit) is visible, every commit-time
        // stage event has been delivered
        s.range(1).count()
        val deadline = System.currentTimeMillis() + 10000
        while (!marker.get() && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        t0
      } finally s.sparkContext.removeSparkListener(listener)
    assert(probeStages.isEmpty,
      s"in-task stats must not launch a footer-probe job, saw $probeStages")
    // the in-task metadata is intact: rows and stats as before
    assert(t.read().count() == 400L)
    assert(t.detail.head.getLong(3) == 400L, "manifest row count from tasks")
  }

  test("footer fallback still probes in a distributed job (nested schema)") {
    val s = spark.newSession()
    import s.implicits._
    val dir = tmp("footer_job")
    // count tasks of the probe's collect stages only (the data write
    // job runs alongside in the same commit)
    val probeStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.name.contains("collect at SnapshotTable.scala")) {
          probeStages.add(e.stageInfo.stageId); ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (probeStages.contains(e.stageId)) { tasks.incrementAndGet(); () }
    }
    s.sparkContext.addSparkListener(listener)
    val t =
      try {
        // the struct column is outside what the in-task tracker models,
        // so this commit takes the footer fallback
        val t0 = new SnapshotTable(s, dir).create(
          (1L to 400L).map(k => (k, (k, k * 1.0))).toDF("k", "v").repartition(4))
        // listener events post asynchronously — give the bus a beat
        val deadline = System.currentTimeMillis() + 10000
        while (tasks.get() < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        t0
      } finally s.sparkContext.removeSparkListener(listener)
    assert(tasks.get() > 1,
      s"expected a distributed footer job, saw ${tasks.get()} tasks")
    assert(t.read().count() == 400L)
    assert(t.detail.head.getLong(3) == 400L, "manifest row count from footers")
  }
}
