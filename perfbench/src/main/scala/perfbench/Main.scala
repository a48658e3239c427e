package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: runs one workload in one process and writes
  * its result as JSON. `perfbench/run.py` builds this, makes the inputs,
  * launches it and prints the report.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --fixtures DIR --work DIR --out FILE --cores N
  *   [--golden FILE] [--record DIR]
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("archive").foreach { dir => archiveRun(dir); return }
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a, workload, seed, trace, cores, work)
    finally spark.stop()
  }

  private def run(spark: SparkSession, a: Map[String, String], workload: String,
      seed: Long, trace: Boolean, cores: Int, work: String): Unit = {
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val rec = new Recorder(spark, tracer)
    // recording makes new golden digests, so it checks against none
    val golden = a.get("golden").filterNot(_ => a.contains("record"))
      .map(p => Golden.read(p, workload)).getOrElse(Map.empty)
    val ctx = Ctx(spark, rec, seed, a("seconds").toDouble, a("fixtures"), work,
      golden, a.get("record"))
    val w = Workload(workload, ctx)

    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    w.setup()
    phase("set-up done")
    val gc0 = Tracer.gcMs()
    Tracer.resetHeapPeaks()
    rec.startMeasuring()
    w.measure()
    val measuredS = rec.elapsed
    rec.stopMeasuring()
    val gcS = (Tracer.gcMs() - gc0) / 1e3
    val heapMb = Tracer.heapPeakBytes() / 1048576.0
    phase("measuring done")
    w.verify()
    phase("checks done")

    import Workload._
    val ok = rec.okMeasured
    val groups = ok.groupBy(_.name).values.toSeq
    val byName = groups.map(o => median(secs(o)))
    val cpuByName = groups.map(o => median(o.map(_.cpuSecs)))
    val all = secs(ok)
    val cpu = ok.map(_.cpuSecs)
    val common = Map(
      "total_s" -> M(byName.sum, "s", byName.size),
      "op_p50_s" -> M(median(all), "s", all.size),
      "op_p90_s" -> M(pct(all, 0.9), "s", all.size),
      "cpu_total_s" -> M(cpuByName.sum, "s", cpuByName.size),
      "op_cpu_p50_s" -> M(median(cpu), "s", cpu.size),
      "op_cpu_p90_s" -> M(pct(cpu, 0.9), "s", cpu.size))
    val layers = tracer.map { t =>
      t.drain()
      Layers.report(t, rec, cores, work) ++ w.layerMetrics() ++ Map(
        "jvm.gc_s" -> M(gcS, "s", 1), "jvm.heap_peak_mb" -> M(heapMb, "MB", 1),
        "trace.total_s" -> common("total_s"), "trace.cpu_total_s" -> common("cpu_total_s"))
    }.getOrElse(Map.empty)

    val failures = rec.failures.values.map { case (n, r) =>
      Json.obj(Map("op" -> n, "reason" -> r.take(500)))
    }
    val out = Json.obj(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> Json.arr(failures.toSeq),
      "first_op_ms" -> rec.firstMeasuredMs, "measured_s" -> measuredS,
      "cores" -> cores, "master" -> spark.sparkContext.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "end_to_end" -> Json.metrics(common),
      "workload_metrics" -> Json.metrics(
        w.metrics() + ("peak_rss_mb" -> M(peakRssMb(), "MB", 1))),
      "per_layer" -> Json.metrics(layers)))
    Files.writeString(Paths.get(a("out")), out)
    phase("report written")
  }

  /** A short Spark session (SQL, parquet write and read) whose loaded
    * classes `run.py` archives for class-data sharing. */
  private def archiveRun(dir: String): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$dir/spark-local").getOrCreate()
    try {
      spark.range(0, 100000, 1, 2).selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s")
        .write.partitionBy("k").parquet(s"$dir/t")
      spark.read.parquet(s"$dir/t").createOrReplaceTempView("t")
      spark.sql("SELECT k, count(*), max(s) FROM t GROUP BY k ORDER BY k").collect()
    } finally spark.stop()
  }

  /** Peak resident set size of this process (Linux VmHWM). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Per-layer metrics of the measured operations, from the traced run. */
object Layers {
  def report(t: Tracer, rec: Recorder, cores: Int, work: String): Map[String, M] = {
    val spans = t.finish(rec.ops.map(_.span).toSeq)
    val measured = rec.measured.map(_.id).toSet
    val jobs = spans.filter(s => s.kind == "job" && measured(s.parent))
    val jobIds = jobs.map(_.id).toSet
    val stages = spans.filter(s => s.kind == "stage" && jobIds(s.parent))
    val phases = spans.filter(s => s.kind == "phase" && measured(s.parent))
    val inMeasured = spans.filter(s => measured(s.id) || measured(s.parent) || jobIds(s.parent))
    val sum = (f: Counters => Long) =>
      measured.toSeq.flatMap(t.opCounters.get).map(f).sum.toDouble
    val (maxTask, scanBytes) = measured.toSeq.flatMap(t.opScan.get)
      .foldLeft((0L, 0L)) { case ((m, b), (m1, b1)) => (m + m1, b + b1) }
    val ops = rec.measured
    val wall = ops.map(_.secs).sum
    val jobsOf = jobs.groupBy(_.parent)
    val driverOnly = ops.map { o =>
      o.endMs - o.startMs - Tracer.covered(
        jobsOf.getOrElse(o.id, Nil).map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)
    }.sum / 1e3
    val firstJob = ops.flatMap(o => jobsOf.get(o.id).map(js => js.map(_.startMs).min - o.startMs))
    def phase(n: String) = {
      val ps = phases.filter(_.name == n)
      s"plan.${n}_s" -> M(ps.map(_.durMs).sum / 1e3, "s", ps.size)
    }
    val tableOps = ops.filter(_.layer == "sources.SnapshotTable")
    val tableDriver = tableOps.map { o =>
      o.endMs - o.startMs - Tracer.covered(
        jobsOf.getOrElse(o.id, Nil).map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)
    }.sum / 1e3
    writeTrace(spans, inMeasured, work)
    Map(
      phase("analysis"), phase("optimization"), phase("planning"),
      "plan.first_job_s" -> M(firstJob.sum / 1e3, "s", firstJob.size),
      "exec.jobs" -> M(jobs.size, "count", 1),
      "exec.stages" -> M(stages.size, "count", 1),
      "exec.tasks" -> M(sum(_.tasks), "count", 1),
      "exec.cpu_s" -> M(sum(_.cpuNs) / 1e9, "s", 1),
      "exec.run_s" -> M(sum(_.runMs) / 1e3, "s", 1),
      "exec.gc_s" -> M(sum(_.gcMs) / 1e3, "s", 1),
      "exec.core_util" -> M(if (wall > 0) sum(_.runMs) / 1e3 / (wall * cores) else 0, "ratio", 1),
      "exec.driver_only_s" -> M(driverOnly, "s", ops.size),
      "shuffle.write_bytes" -> M(sum(_.shuffleWrite), "bytes", 1),
      "shuffle.read_bytes" -> M(sum(_.shuffleRead), "bytes", 1),
      "shuffle.fetch_wait_s" -> M(sum(_.fetchWaitMs) / 1e3, "s", 1),
      "spill.bytes" -> M(sum(_.spill), "bytes", 1),
      "scan.input_bytes" -> M(sum(_.inputBytes), "bytes", 1),
      "scan.input_records" -> M(sum(_.inputRecords), "count", 1),
      "scan.tasks" -> M(sum(_.scanTasks), "count", 1),
      "scan.max_task_share" -> M(if (scanBytes > 0) maxTask.toDouble / scanBytes else 0,
        "ratio", 1)) ++
      (if (tableOps.isEmpty) Map.empty
       else Map("table.commit_driver_s" -> M(tableDriver, "s", tableOps.size)))
  }

  /** The span file (every span, set-up included) and the self-time table
    * of the measured region, under `<work>/trace`. */
  private def writeTrace(all: Seq[Span], measured: Seq[Span], work: String): Unit = {
    val dir = Paths.get(work, "trace")
    Files.createDirectories(dir)
    val lines = all.sortBy(_.startMs).map(s => Json.obj(Map(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    Files.writeString(dir.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
    val rows = Tracer.selfTimes(measured).map { case (layer, n, total, self) =>
      Json.obj(Map("layer" -> layer, "spans" -> n, "total_s" -> total / 1e3,
        "self_s" -> self / 1e3))
    }
    Files.writeString(dir.resolve("self_time.json"), Json.arr(rows).json)
  }
}

/** Golden digests, `{"<workload>": {"<op>": [rows, "hash"]}}`. */
object Golden {
  def read(path: String, workload: String): Map[String, Digest] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get(workload)
    if (node == null) Map.empty
    else node.fields().asScala.map { e =>
      e.getKey -> Digest(e.getValue.get(0).asLong(), e.getValue.get(1).asText())
    }.toMap
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(j) => j
    case other => str(other.toString)
  }
  final case class Raw(json: String)
  def obj(m: Map[String, Any]): String = m.toSeq.sortBy(_._1)
    .map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): Raw = Raw(xs.mkString("[", ",", "]"))
  def metrics(ms: Map[String, M]): Raw = Raw(ms.toSeq.sortBy(_._1).map { case (k, m) =>
    str(k) + ":" + obj(Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n))
  }.mkString("{", ",", "}"))
}
