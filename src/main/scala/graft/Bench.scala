package graft

import scala.util.control.NonFatal

/** Benchmark main — prints ONE JSON line with per-query seconds.
  *
  * Protocol mirrors the reference (TPCDSBenchmark.scala:84-108): warmup,
  * then every query in sorted order × N iterations, per-query median,
  * total = sum of medians. Queries are fully materialized through the
  * noop sink (count() would let Catalyst prune projections and
  * under-measure).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Reference protocol: 3 iterations, median per query
    // (TPCDSBenchmark.scala:94-108; README.md:23) — the upper median of
    // three reports warm steady-state, not the cold first run.
    val iterations = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val spark = Harness.localSession(cpus)
    // dev-loop profiling hook: INFO exposes per-job wall times
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))
    Harness.warmup(spark)
    Harness.warmTables(spark, sfDir)
    // Optional dev-loop filter: SPARK_GRAFT_ONLY=a,b,c times a subset.
    // Unset (the driver's invocation) → the full sorted corpus.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Pre-stage the TPC-DS + refresh-source tables OUTSIDE the timed loop
    // (the reference's load-then-query split: TPCDSDataLoad stages once,
    // TPCDSBenchmark times queries). Staging lazily inside the first timed
    // iteration inflates that query AND leaves 34 tables of write/GC
    // pressure inside the measurement window for everything after it.
    if (queries.exists { case (n, _) =>
        n.startsWith("tpcds_") || n.startsWith("refresh_pipeline") }) {
      sources.Tpcds.ensureRefresh(spark, sfDir)
      sources.Tpcds.ensureRefreshDims(spark, sfDir)
      // Settle after the 38-table staging burst: reclaim the generator
      // garbage and re-prime the execution path so the first timed
      // entries (alphabetically the agg_* family) don't absorb the
      // staging's GC/page-cache debt — in the r7 full run they measured
      // 2-6x their isolated numbers purely from this residue.
      System.gc()
      Harness.warmup(spark)
      Harness.warmTables(spark, sfDir)
    }
    val results = Harness.runQueries(spark, sfDir, queries, iterations)
    results.filterNot(_.ok).foreach(r =>
      System.err.println(s"[bench] ${r.name} failed: ${r.errorOpt.get}"))
    // protocol sweeps (merge-micro CoW/MoR crossover, file-count planning
    // tiers) run once after the query loop, each in its own try: a
    // failing sweep loses only its own numbers, is named on stderr and
    // listed under "extras_failed" in the full report.
    // SPARK_GRAFT_EXTRAS may name a subset (ow,mm,fc,dm,dvm,ir,irp,rpf,
    // inc,skip) for the dev loop; unset with a full run, or set empty,
    // means all.
    val extrasSel = sys.env.get("SPARK_GRAFT_EXTRAS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val runExtras = only.isEmpty || extrasSel.isDefined
    def want(tag: String) = extrasSel.forall(s => s.isEmpty || s(tag))
    // Settle before the protocol sweeps: they run after 266×N timed
    // queries and otherwise absorb the loop's accumulated GC/page-cache
    // debt (isolated irp queries are flat ~2 s; at the tail of a full
    // run the same rounds drifted to 5-27 s).
    if (runExtras) { System.gc(); Harness.warmup(spark) }
    val sweeps: Seq[(String, () => Seq[(String, Double)])] =
      if (!runExtras) Seq.empty // dev-loop subset: skip the sweeps
      else Seq(
        "ow" -> (() => operators.BenchExtras.writeShapeBins(spark)),
        "mm" -> (() => operators.BenchExtras.mergeMicroSweep(spark)),
        "fc" -> (() => operators.BenchExtras.fileCountTiers(spark)),
        "dm" -> (() => operators.BenchExtras.deleteMicroSweep(spark)),
        "dvm" -> (() => operators.BenchExtras.dvMergeSweep(spark)),
        "ir" -> (() => operators.BenchExtras.incrementalRounds(spark)),
        "irp" -> (() => operators.BenchExtras.refreshProtocol(spark, sfDir)),
        "rpf" -> (() => operators.BenchExtras.refreshFullIsolated(spark, sfDir)),
        "inc" -> (() => operators.BenchExtras.incrementalDedupRounds(spark, sfDir)),
        "skip" -> (() => operators.BenchExtras.skipRatios(spark, sfDir))
      ).filter { case (tag, _) => want(tag) }
    val extrasFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    val extras = sweeps.flatMap { case (tag, sweep) =>
      try sweep()
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] extras $tag failed: ${e.getMessage}")
          extrasFailed += tag
          Seq.empty
      } finally Scratch.sweep(spark)
    }
    val json = Harness.reportJson(results, sfDir, Harness.envInfo(spark),
      extras, extrasFailed.toSeq)
    // Full CSV + JSON reports go to files (reference A3 shape); stdout gets
    // a compact line that fits the driver's 2000-char tail capture.
    val reportDir = sys.env.getOrElse("SPARK_GRAFT_REPORT_DIR", "bench_reports")
    val base = java.nio.file.Paths.get(reportDir)
    java.nio.file.Files.createDirectories(base)
    val jsonPath = base.resolve("bench_report.json")
    java.nio.file.Files.writeString(base.resolve("bench_report.csv"),
      Harness.reportCsv(results))
    java.nio.file.Files.writeString(jsonPath, json)
    println(Harness.compactJson(results, sfDir, jsonPath.toString,
      extras = orderExtras(extras)))
    spark.stop()
  }

  /** One class of extras keys for the compact line: None when a key is
    * outside the class, else the key's rank within it. */
  private type KeyClass = String => Option[Int]

  /** Keys under `prefix`, ranked by their last `_` field's position in
    * `suffixes`; unlisted suffixes rank after every listed one. */
  private def prefixed(prefix: String, suffixes: String*): KeyClass = k =>
    Option.when(k.startsWith(prefix)) {
      val i = suffixes.indexOf(k.split('_').last)
      if (i < 0) suffixes.size else i
    }

  /** Exactly these keys, in this order. */
  private def named(keys: String*): KeyClass = k =>
    Some(keys.indexOf(k)).filter(_ >= 0)

  /** Compact-line priority, highest first (trimming drops from the END).
    * A key ranks by the first class it matches, then by its rank inside
    * the class; equal ranks keep emission order. */
  private val extrasPriority: Seq[KeyClass] = Seq(
    // the isolated refresh_pipeline_full pin: the number the drift check
    // reads against the in-loop headline
    prefixed("rpf_"),
    // the write-shape pin: ow_hot_files = 1 IS the r14 regression class
    prefixed("ow_"),
    // the positional-merge pins of the delete sweep (the dvm require()
    // gates the shape; the numbers should survive the trim too)
    k => Option.when(k.startsWith("dm_") && k.contains("mrg_"))(0),
    // the incremental-dedup flatness curve
    prefixed("inc_"),
    // file-count tiers: the headline 200k tier, then the 1k baseline it
    // is compared against, then the middle tiers
    prefixed("fc_", "200000", "1000", "100000", "10000", "100"),
    prefixed("skip_"),
    prefixed("dm_"),
    // each refresh protocol's headline stats (query probes, compaction,
    // first and last merge round) ahead of either protocol's middle
    // rounds, so both curves' endpoints survive the trim
    named("ir_query_pre", "ir_query_mid", "ir_query_post", "ir_compact",
      "ir_merge_1", "ir_merge_10"),
    named("irp_query_0", "irp_query_post", "irp_compact", "irp_merge_1",
      "irp_merge_10"),
    prefixed("ir_"),
    prefixed("irp_"),
    // merge micro, largest sizes first
    prefixed("mm_", "20k", "2k", "200", "20"),
    _ => Some(0))

  /** The extras in compact-line priority order (stable sort). */
  def orderExtras(extras: Seq[(String, Double)]): Seq[(String, Double)] =
    extras.sortBy { case (k, _) =>
      extrasPriority.iterator.zipWithIndex.flatMap { case (c, i) =>
        c(k).map(r => (i, r))
      }.next()
    }
}
