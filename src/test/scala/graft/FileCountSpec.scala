package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Metadata-scaling behavior of SnapshotTable (reference:
  * FileCountBenchmark.scala — planning cost vs file count) plus the
  * Harness planning-split/report surface. */
class FileCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("manifest plans reads over many files without listing") {
    val li = Tables.load(spark, sf, "lineitem")
    val t = new SnapshotTable(spark, tmp("fc"))
      .create(li.repartition(96))
    assert(t.files.size == 96)
    // manifest count must equal a real scan count, with zero data reads
    assert(t.countFromManifest == li.count())
    // per-file footer row counts sum correctly after compaction too
    val c = t.compact(4)
    assert(c.files.size == 4)
    assert(c.countFromManifest == li.count())
  }

  test("partition-filter probe reads only manifest-selected files") {
    val li = Tables.load(spark, sf, "lineitem")
    val t = new SnapshotTable(spark, tmp("fcp"))
      .create(li, partitionBy = Some("l_returnflag"))
    val expect = li.filter(col("l_returnflag") === "A").count()
    assert(t.read().filter(col("l_returnflag") === "A").count() == expect)
    // the pruned read plans strictly fewer files than the full table
    val aFiles = t.files.count(_.partValue == "A")
    assert(aFiles < t.files.size)
  }

  test("value-filter probe plans only stat-intersecting files") {
    val li = Tables.load(spark, sf, "lineitem")
    val t = new SnapshotTable(spark, tmp("fcv"))
      .create(li.repartitionByRange(8, col("l_quantity"))
        .sortWithinPartitions("l_quantity"))
    val expect = li.filter(col("l_quantity") >= 49.0).count()
    val picked = t.planFiles(col("l_quantity") >= 49.0)
    // range clustering makes most files' [min,max] miss the predicate
    assert(picked.nonEmpty && picked.size < t.files.size)
    assert(t.read().filter(col("l_quantity") >= 49.0).count() == expect)
  }

  test("range pruning stays proportional at a 1k-file layout") {
    // reference sweeps 1k..200k files (FileCountBenchmark.scala:172-178);
    // the manifest must keep pruning proportional — a 1% key range over
    // disjoint per-file ranges should plan ~1% of a 1000-file table
    val df = graft.sources.Ingest.synthetic(spark, 50000L, numSplits = 4)
      .repartitionByRange(1000, col("key"))
      .sortWithinPartitions("key")
    val t = new SnapshotTable(spark, tmp("fc1k")).create(df)
    assert(t.files.size == 1000)
    val picked = t.planFiles(col("key").between(0, 500))
    assert(picked.nonEmpty && picked.size <= 20,
      s"pruned to ${picked.size} files of 1000 — manifest pruning degraded")
    assert(t.read().filter(col("key").between(0, 500)).count() == 501)
  }

  test("planning split reports a sub-total planning time") {
    val (total, planning) = Harness.timePlanned(spark, {
      Tables.load(spark, sf, "orders").groupBy("o_orderstatus").count()
        .write.format("noop").mode("overwrite").save()
    })
    assert(planning >= 0.0 && planning <= total)
  }

  test("compact stdout report fits the driver's 2000-char tail capture") {
    // Simulate the full gate surface: every SparkEntry query name with a
    // plausible timing, PLUS a protocol-extras load matching the real
    // sweeps in Bench's priority order (inc 10 + fc 15 + skip 3 + dm 8 +
    // ir 15 + irp 23 + mm 16) — the stdout line must still fit alongside
    // the ~75-char sbt epilogue that shares the capture window, and the
    // priority entries must survive trimming.
    val results = SparkEntry.queries.keys.toSeq.sorted.map(n =>
      Harness.QueryResult(n, Seq(1.2345, 2.3456), Seq(0.0123, 0.0456), None))
    val extras =
      (1 to 5).flatMap(i =>
        Seq(s"inc_probe_$i" -> 0.74, s"inc_extend_$i" -> 0.51)) ++
        Seq(200000, 1000, 100000, 10000, 100).flatMap(n => Seq(
          s"fc_manifest_$n" -> 0.002, s"fc_plan_$n" -> 0.05,
          s"fc_read_$n" -> 0.08)) ++
        Seq("skip_ratio_stats" -> 0.125, "skip_ratio_zorder_cust" -> 0.375,
          "skip_ratio_zorder_key" -> 0.25) ++
        Seq("20k", "20").flatMap(s => Seq(
          s"dm_cow_del_$s" -> 0.8, s"dm_cow_read_$s" -> 0.1,
          s"dm_mor_del_$s" -> 0.2, s"dm_mor_read_$s" -> 0.5)) ++
        // protocol endpoints lead (mirrors Bench's interleaving), flat
        // middle rounds trail
        Seq("ir_query_pre" -> 0.2, "ir_query_mid" -> 0.2,
          "ir_query_post" -> 0.2, "ir_compact" -> 0.6,
          "ir_merge_1" -> 1.2, "ir_merge_10" -> 1.2) ++
        Seq("irp_query_0" -> 4.5, "irp_query_post" -> 3.6,
          "irp_compact" -> 4.2, "irp_merge_1" -> 2.3,
          "irp_merge_10" -> 2.3) ++
        (2 to 9).map(i => s"ir_merge_$i" -> 1.2345) ++
        ((2 to 9).flatMap(i => Seq(s"irp_merge_$i" -> 2.345,
          s"irp_query_$i" -> 4.567)) ++
          Seq("irp_query_1" -> 4.5, "irp_query_10" -> 4.5)) ++
        Seq("20k", "2k", "200", "20").flatMap(s => Seq(
          s"mm_cow_merge_$s" -> 0.9, s"mm_cow_read_$s" -> 0.1,
          s"mm_mor_merge_$s" -> 0.4, s"mm_mor_read_$s" -> 0.4))
    val line = Harness.compactJson(results, "/root/testdata/sf0.1",
      "bench_reports/bench_report.json", extras = extras)
    assert(line.length <= 1860, s"line too long: ${line.length}")
    assert(!line.contains("\n"))
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith("""}"""))
    assert(line.contains(s""""n_queries":${results.size}"""))
    // the drift-check floor survives the heaviest extras load
    assert(line.contains("\"q3_star_topk\":"))
    assert(line.contains("\"join_asof\":"))
    assert(line.contains("\"tpcds_q72\":"))
    // this round's deliverables survive ahead of trailing ones: the
    // flat incremental-dedup curve, the 200k tier AND its 1k baseline,
    // the skip ratios, the delete crossover
    assert(line.contains("\"inc_probe_5\":"))
    assert(line.contains("\"fc_plan_200000\":"))
    assert(line.contains("\"fc_plan_1000\":"))
    assert(line.contains("\"skip_ratio_stats\":"))
    assert(line.contains("\"dm_mor_del_20k\":"))
    // both refresh protocols' endpoint stats outrank their middle rounds
    assert(line.contains("\"ir_merge_10\":"))
    assert(line.contains("\"irp_query_post\":"))
    // with no extras at all, the full headline list fits
    val bare = Harness.compactJson(results, "/root/testdata/sf0.1",
      "bench_reports/bench_report.json")
    assert(bare.length <= 1860)
    assert(bare.contains("\"stream_sessionize\":"))
  }

  test("csv report carries one row per query plus header") {
    val results = Seq(
      Harness.QueryResult("q_ok", Seq(1.0, 2.0), Seq(0.1, 0.2), None),
      Harness.QueryResult("q_bad", Seq.empty, Seq.empty, Some("boom")))
    val csv = Harness.reportCsv(results)
    val lines = csv.split("\n")
    assert(lines.length == 3)
    assert(lines.head.startsWith("name,min_sec"))
    assert(lines(1).startsWith("q_ok,1.000,2.000,2.000"))
    assert(lines(2) == "q_bad,,,,")
  }

  test("query-text rewriting applies regex fixups in rule order") {
    val q = "SELECT c_last_review_date FROM customer_t"
    val out = Harness.rewriteQuery(q, Seq(
      "c_last_review_date" -> "c_last_review_date_sk",
      "customer_t" -> "customer"))
    assert(out == "SELECT c_last_review_date_sk FROM customer")
  }

  test("env info captures version and parallelism") {
    val env = Harness.envInfo(spark)
    assert(env("spark_version").nonEmpty)
    assert(env("shuffle_partitions") == "4")
  }
}
