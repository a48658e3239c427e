package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the corpus-maintenance operators (CorpusOps): the
  * incremental-dedup classification must agree with the batch dedup
  * suite's ground truth, the shuffled export must cover the corpus
  * exactly once in a reproducible order, and the domain mixer must land
  * each domain at (or under) its integer quota. */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("text_search_inverted resolves its postings once per session") {
    val q = SparkEntry.queries("text_search_inverted")
    val first = q(spark, sf).collect().toSeq // builds the standing index
    val (again, jobs) = JobCount.of(spark)(q(spark, sf).collect().toSeq)
    assert(again == first)
    // the query's own two jobs; no footer-inference job for the postings
    assert(jobs.size == 2, s"second call launched ${jobs.size} jobs: $jobs")
  }

  test("dedup_incremental covers every batch doc exactly once") {
    val out = SparkEntry.queries("dedup_incremental")(spark, sf)
    val rows = out.collect()
    val batchN = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 10 >= 7).count()
    assert(rows.length == batchN)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // statuses are the closed set; match_id populated iff not unique,
    // and every match points into the corpus side of the split
    rows.foreach { r =>
      val status = r.getString(1)
      assert(Set("exact", "near_dup", "unique")(status))
      if (status == "unique") assert(r.isNullAt(2))
      else {
        assert(!r.isNullAt(2))
        assert(r.getLong(2) % 10 < 7, s"match_id ${r.getLong(2)} not in corpus")
      }
    }
  }

  test("dedup_incremental exact tier agrees with whole-text equality") {
    // ground truth: batch docs whose text appears verbatim in the corpus
    val docs = Tables.load(spark, sf, "documents")
    val corpusTexts = docs.filter(col("doc_id") % 10 < 7)
      .select(col("text")).distinct()
    val truth = docs.filter(col("doc_id") % 10 >= 7).as("b")
      .join(corpusTexts.as("c"), col("b.text") === col("c.text"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = SparkEntry.queries("dedup_incremental")(spark, sf)
      .filter(col("status") === "exact")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == truth)
  }

  test("dedup_incremental classifies a synthetic exact/near/unique batch") {
    // the shipped fixtures contain no verbatim batch-to-corpus text copy,
    // so the exact tier needs a constructed corpus: doc 27 copies doc 3's
    // text byte-for-byte, doc 28 is doc 4 with one word changed (near),
    // doc 29 shares nothing (unique)
    import spark.implicits._
    // base must be non-repetitive: repeated phrases collapse the distinct
    // shingle set and sink the MinHash estimate below threshold
    val base = (0 until 100).map(i => f"tok$i%03d").mkString(" ")
    val corpus = (0L to 6L).map(i => (i, s"$base doc$i filler words extra tail"))
    val batch = Seq(
      (27L, corpus(3)._2), // exact copy of doc 3
      (28L, corpus(4)._2.replace("filler", "swapped")), // near-dup of doc 4
      (29L, (0 until 80).map(i => f"other$i%03d").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_incspec").toString
    (corpus ++ batch).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val got = SparkEntry.queries("dedup_incremental")(spark, dir)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      assert(got(27L) == ("exact", 3L))
      assert(got(28L)._1 == "near_dup")
      assert(got(29L) == ("unique", -1L))
    } finally {
      Scratch.atExit(dir)
      ()
    }
  }

  test("corpus_shuffle_export partitions cover the corpus once and checksums are stable") {
    val out1 = SparkEntry.queries("corpus_shuffle_export")(spark, sf).collect()
    val out2 = SparkEntry.queries("corpus_shuffle_export")(spark, sf).collect()
    val total = Tables.load(spark, sf, "documents").count()
    assert(out1.map(_.getLong(1)).sum == total) // every doc in exactly one shard
    assert(out1.map(_.getInt(0)).toSeq == out1.map(_.getInt(0)).toSeq.sorted)
    // rerun reproduces shard sizes AND order checksums bit-identically —
    // the property that makes the export resumable/verifiable
    assert(out1.map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).toSeq ==
      out2.map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).toSeq)
  }

  test("corpus_domain_mix keeps every domain at or under its char quota") {
    val rows = SparkEntry.queries("corpus_domain_mix")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTotal, nKept, cutoff) = (r.getLong(1), r.getLong(2), r.getInt(4))
      assert(nKept <= nTotal)
      assert(cutoff >= 0 && cutoff <= 10000)
      // cutoff = 10000 means "keep all"; anything else must subsample
      if (cutoff == 10000) assert(nKept == nTotal)
    }
    // the mix must actually subsample overall (global budget is 40%)
    val keptChars = rows.map(_.getLong(3)).sum
    val totalChars = Tables.load(spark, sf, "documents")
      .agg(sum("n_chars")).collect()(0).getLong(0)
    assert(keptChars < totalChars)
  }

  test("stream_dedup_lsh shuffles 4 wide inside a 16-wide session and leaves its width alone") {
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.shuffle.partitions", "16")
    // widest shuffle-reading stage of any job the stream ran (its jobs
    // carry the streaming query id); a marker job submitted afterwards
    // shows every earlier job-start event has been delivered
    val widest = new java.util.concurrent.atomic.AtomicInteger(0)
    val streamJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("sql.streaming.queryId") != null)) {
          streamJobs.incrementAndGet()
          e.stageInfos.filter(_.parentIds.nonEmpty)
            .foreach(st => widest.accumulateAndGet(st.numTasks, math.max))
        } else if (props.exists(p =>
            p.getProperty("spark.job.description") == "sdl-width-marker"))
          marker.set(true)
      }
    }
    s.sparkContext.addSparkListener(listener)
    val rows =
      try {
        val got = SparkEntry.queries("stream_dedup_lsh")(s, sf)
          .as[(Int, Long, Long, Long)].collect().toSeq
        s.sparkContext.setJobDescription("sdl-width-marker")
        try s.range(1).count() finally s.sparkContext.setJobDescription(null)
        val deadline = System.currentTimeMillis() + 10000
        while (!marker.get() && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        got
      } finally s.sparkContext.removeSparkListener(listener)
    // (batch, n_exact, n_near, n_unique) as the entry returned them at
    // sf0.001 before the width moved into the stream's own session
    assert(rows == Seq((7, 0L, 5L, 45L), (8, 0L, 2L, 48L), (9, 0L, 8L, 42L)))
    assert(s.conf.get("spark.sql.shuffle.partitions") == "16")
    assert(marker.get(), "listener bus did not drain")
    assert(streamJobs.get() > 0 && widest.get() > 0,
      s"no shuffle stage seen from the stream (${streamJobs.get()} jobs)")
    assert(widest.get() <= 4,
      s"a stream shuffle stage ran ${widest.get()} tasks on a 4-wide stream")
  }
}
