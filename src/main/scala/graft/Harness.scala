package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** Measurement harness — the engine-side analog of the reference's
  * benchmark core (reference: benchmark/Benchmark.scala:129-192 runQuery/
  * runFunc timing, :267-273 median, :208-258 JSON report, :220-231 CSV
  * report; planning-time split after FileCountBenchmark.scala:305-336;
  * env capture after org/apache/spark/SparkUtils.scala:24-54).
  */
object Harness {

  final case class QueryResult(
      name: String,
      iterationSecs: Seq[Double],
      planningSecs: Seq[Double],
      errorOpt: Option[String]) {
    def medianSec: Double = Harness.median(iterationSecs)
    def medianPlanningSec: Double =
      if (planningSecs.isEmpty) 0.0 else Harness.median(planningSecs)
    def ok: Boolean = errorOpt.isEmpty
  }

  /** Upper median, exactly as the reference computes it
    * (Benchmark.scala:267-273): sort, drop n/2, head —
    * median(1,2,3,4) = 3. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    xs.sorted.drop(xs.length / 2).head
  }

  /** Time one full materialization of a DataFrame (build + execute). */
  def timeOnce(thunk: => Unit): Double = {
    val t0 = System.nanoTime()
    thunk
    (System.nanoTime() - t0) / 1e9
  }

  /** First-job-start capture: the gap between query submission and the
    * first SparkListenerJobStart is the planning (analysis + optimization
    * + file-listing/manifest) time — the quantity the reference's
    * file-count benchmark isolates (FileCountBenchmark.scala:305-336). */
  private final class PlanningListener extends SparkListener {
    val firstJobStartMs = new AtomicLong(-1L)
    override def onJobStart(jobStart: SparkListenerJobStart): Unit =
      firstJobStartMs.compareAndSet(-1L, jobStart.time)
  }

  /** Time one materialization and split out planning time (seconds to
    * the first job start). Falls back to the full duration when the
    * query never launches a job (pure-metadata answers). */
  def timePlanned(spark: SparkSession, thunk: => Unit): (Double, Double) = {
    val listener = new PlanningListener
    spark.sparkContext.addSparkListener(listener)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try thunk
    finally spark.sparkContext.removeSparkListener(listener)
    val totalSec = (System.nanoTime() - t0) / 1e9
    val jobMs = listener.firstJobStartMs.get()
    val planningSec =
      if (jobMs < 0) totalSec
      else math.max(0.0, math.min((jobMs - startMs) / 1e3, totalSec))
    (totalSec, planningSec)
  }

  /** Reference query protocol (TPCDSBenchmark.scala:94-108): run each
    * query `iterations` times, keep per-iteration seconds, median each,
    * report the sum of medians. Errors are captured, not thrown
    * (Benchmark.scala:155-161). */
  def runQueries(
      spark: SparkSession,
      sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      iterations: Int): Seq[QueryResult] =
    queries.map { case (name, fn) =>
      try {
        val timed = (1 to iterations).map { _ =>
          val t = timePlanned(spark,
            fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          // Engine GC: per-run scratch data/views die once the iteration
          // has materialized — across 130 queries × 3 iterations the
          // accumulated dead temp data otherwise inflates later queries.
          Scratch.sweep(spark)
          t
        }
        QueryResult(name, timed.map(_._1), timed.map(_._2), None)
      } catch {
        case NonFatal(e) =>
          Scratch.sweep(spark)
          QueryResult(name, Seq.empty, Seq.empty, Some(e.getMessage))
      }
    }

  /** Warm the JVM/codegen paths before measuring
    * (reference: MergeMicroBenchmark.scala:284-301). */
  def warmup(spark: SparkSession): Unit = {
    import spark.implicits._
    spark.range(0, 10000000L, 1, 8)
      .selectExpr("id", "id % 97 AS k", "CAST(id AS DOUBLE) AS v")
      .groupBy($"k").count().write.format("noop").mode("overwrite").save()
  }

  /** Warm the fixture tables before timing: one full-scan count per
    * table pulls parquet footers + pages into cache so per-query numbers
    * measure the operator, not first-touch I/O (the reference likewise
    * warms before its measured iterations, FileCountBenchmark.scala:
    * 285-303). */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    graft.Tables.names.foreach { n =>
      try graft.Tables.load(spark, sfDir, n).count()
      catch { case NonFatal(_) => () } // missing fixture → queries fail loudly later
    }

  /** Query-text rewriting (reference IncrementalTPCDSBenchmark.scala:
    * 298-321: regex schema fixups like c_last_review_date→…_sk applied
    * to every query before execution). Rules apply in insertion order. */
  def rewriteQuery(sql: String, rules: Seq[(String, String)]): String =
    rules.foldLeft(sql) { case (q, (pattern, replacement)) =>
      q.replaceAll(pattern, replacement)
    }

  /** Environment capture (reference SparkUtils.scala:24-54: version +
    * relevant session confs into every report). */
  def envInfo(spark: SparkSession): Map[String, String] = Map(
    "spark_version" -> spark.version,
    "scala_version" -> scala.util.Properties.versionNumberString,
    "java_version" -> sys.props.getOrElse("java.version", "unknown"),
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "aqe_enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
    "default_parallelism" -> spark.sparkContext.defaultParallelism.toString)

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(x: Double): String = f"$x%.4f" // keep the JSON line short
                                                 // (the driver's capture
                                                 // truncates long lines)

  /** Full JSON report (every query + planning split + env) — written to
    * the report file; too long for the driver's 2000-char stdout capture. */
  def reportJson(results: Seq[QueryResult], sfDir: String,
      env: Map[String, String] = Map.empty,
      extras: Seq[(String, Double)] = Seq.empty): String = {
    val qs = results.map(r => jstr(r.name) + ":" +
      (if (r.ok) num(r.medianSec) else "-1")).mkString("{", ",", "}")
    val planning = results.filter(_.ok).map(r =>
      jstr(r.name) + ":" + num(r.medianPlanningSec)).mkString("{", ",", "}")
    val envJson = env.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val extraJson = extras.map { case (k, v) => jstr(k) + ":" + num(v) }
      .mkString("{", ",", "}")
    val total = results.filter(_.ok).map(_.medianSec).sum
    s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""tpcds_result_seconds":${num(tpcdsResultSeconds(results))},""" +
      s""""queries":$qs,""" +
      s""""planning":$planning,"extras":$extraJson,"env":$envJson,"sf":"$sfDir"}"""
  }

  /** The reference's exact `tpcds-result-seconds` headline
    * (TPCDSBenchmark.scala:99-108): sum of per-query MEDIANS over the
    * TPC-DS corpus queries alone — the protocol number a lakehouse
    * paper quotes, comparable round over round at a glance. */
  def tpcdsResultSeconds(results: Seq[QueryResult]): Double =
    results.filter(r => r.ok && r.name.startsWith("tpcds_q"))
      .map(_.medianSec).sum

  /** Queries surfaced in the one-line stdout report. Kept to a fixed
    * representative subset: the driver captures only the LAST 2000 chars
    * of stdout, so the full per-query map (~90 entries, >2.5 kB) can never
    * parse — headline entries + totals here, everything in the file
    * report. */
  val headlineQueries: Seq[String] = Seq(
    // round-over-round comparison set first — trimming drops from the
    // END, and these are the entries the per-round drift check reads
    // (prior weak/drift items + one representative per family)
    "q1_agg", "q3_star_topk", "q5_join6", "join_asof", "merge_upsert",
    "refresh_pipeline", "refresh_pipeline_full", "dedup_minhash_lsh",
    "sessionize_gap", "customers_rfm", "compaction_roundtrip",
    "stream_window_agg", "simsearch_ivf", "window_topk_per_group",
    "agg_rollup_grouping", "subquery_correlated", "merge_mor_read",
    "merge_mor_delete", "dedup_incremental", "tpcds_q72",
    // second tier — survives only when space allows (cdc_mor_read leads:
    // new entries have no prior-round drift number, so they trim first)
    "cdc_mor_read",
    "join_semi_in", "join_anti_notexists", "window_running_sum",
    "setop_union_all", "sort_multi_mixed", "filecount_probes",
    "dedup_exact", "dedup_embedding_ann", "simsearch_topk",
    "text_quality_score", "stream_dedup", "stream_sessionize",
    "dedup_cluster_cc", "merge_delete", "events_funnel",
    "incremental_agg_maintenance", "table_clone", "vacuum_retention",
    "layout_zorder", "text_tfidf_topk", "text_chunk_split",
    "q88_time_buckets", "stream_stream_join", "stats_skipping_read",
    "cdc_read_changes", "partition_evolution", "restore_version",
    "q23_semi_scalar", "q31_qoq_ratio", "q78_returns_excluded",
    "join_range_bucketed", "quality_filter_pipeline",
    "embedding_quantize", "agg_approx_distinct",
    "stream_table_appends", "simsearch_pq_recall",
    "stream_table_startversion", "text_search_inverted",
    "stream_native_sink")

  /** Compact one-line JSON for stdout. Must stay short enough to fit
    * entirely inside the driver's tail capture (2000 chars incl. the sbt
    * epilogue), so it carries the total, counts, a headline subset, and a
    * pointer to the full file report. Trims headline entries if needed. */
  def compactJson(results: Seq[QueryResult], sfDir: String,
      reportPath: String, maxLen: Int = 1860,
      extras: Seq[(String, Double)] = Seq.empty): String = {
    val ok = results.filter(_.ok)
    val total = ok.map(_.medianSec).sum
    val planningTotal = ok.map(_.medianPlanningSec).sum
    val byName = results.map(r => r.name -> r).toMap
    def render(names: Seq[String], ex: Seq[(String, Double)]): String = {
      val qs = names.flatMap(n => byName.get(n)).map(r =>
        jstr(r.name) + ":" + (if (r.ok) num(r.medianSec) else "-1"))
        .mkString("{", ",", "}")
      val exPart = if (ex.isEmpty) ""
        else s""""extras":${ex.map { case (k, v) => jstr(k) + ":" + num(v) }
          .mkString("{", ",", "}")},"""
      val tpcds = tpcdsResultSeconds(results)
      val tpcdsPart =
        if (tpcds > 0) s""""tpcds_result_seconds":${num(tpcds)},""" else ""
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""n_queries":${results.size},"n_failed":${results.size - ok.size},""" +
        s""""planning_total":${num(planningTotal)},$tpcdsPart$exPart"queries":$qs,""" +
        s""""report":${jstr(reportPath)},"sf":"$sfDir"}"""
    }
    // The full report always carries everything; the compact line must
    // survive the driver's 2000-char stdout capture as VALID JSON (the
    // capture holds line + ~75-char sbt epilogue, so 1860 is safe). An
    // over-long line would truncate to unparseable JSON and zero the
    // round's bench report. Both halves matter to the round report —
    // per-query medians for the drift check, protocol extras for the
    // sweeps — so trim headline queries down to a floor of 20 first,
    // then trailing extras (both lists are priority-ordered), and only
    // then give up the floor.
    var names = headlineQueries
    var ex = extras
    var line = render(names, ex)
    while (line.length > maxLen && (names.size > 20 || ex.nonEmpty)) {
      if (names.size > 20) names = names.dropRight(1)
      else ex = ex.dropRight(1)
      line = render(names, ex)
    }
    while (line.length > maxLen && names.nonEmpty) {
      names = names.dropRight(1)
      line = render(names, ex)
    }
    line
  }

  /** CSV report (reference Benchmark.scala:220-231: name,min,max,median
    * per query). */
  def reportCsv(results: Seq[QueryResult]): String = {
    val rows = results.map { r =>
      if (r.ok)
        f"${r.name},${r.iterationSecs.min}%.3f,${r.iterationSecs.max}%.3f,${r.medianSec}%.3f,${r.medianPlanningSec}%.3f"
      else s"${r.name},,,," // failed — empty measurements
    }
    ("name,min_sec,max_sec,median_sec,planning_sec" +: rows).mkString("\n")
  }
}
