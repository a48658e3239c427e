package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One span: a timed benchmark operation (one call into a program
  * layer), a Catalyst phase, a Spark job or a Spark stage. Times are
  * epoch milliseconds; `parent` is the id of the span that caused it. */
final case class Span(id: Long, parent: Long, kind: String, layer: String,
    name: String, startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

/** Span ids, shared by the recorder and the tracer. */
object Ids {
  private val n = new java.util.concurrent.atomic.AtomicLong(0)
  def next(): Long = n.incrementAndGet()
}

/** Task-level counters summed over whatever they are attributed to. */
final class Counters {
  var tasks, runMs, gcMs, fetchWaitMs = 0L
  var cpuNs, shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRecords, scanTasks = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    val in = m.inputMetrics
    if (in.bytesRead > 0 || in.recordsRead > 0) {
      scanTasks += 1
      inputBytes += in.bytesRead
      inputRecords += in.recordsRead
    }
  }
}

/** Attributes Spark jobs, stages, tasks and Catalyst phases to the
  * benchmark operation that caused them. Each operation runs under its
  * own job group; the client is a single closed-loop thread, so Catalyst
  * phases (reported asynchronously, without a job group) are attributed
  * by time. Installed only in traced runs. */
final class Tracer(spark: SparkSession) extends SparkListener {
  /** The operation the client thread is running (-1 between operations):
    * the fallback owner of jobs that carry no job group. */
  @volatile var current: Long = -1L

  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val jobOp = mutable.Map.empty[Int, Long]       // job -> op span
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, Long]     // job -> span id
  private val stageJob = mutable.Map.empty[Int, Int]     // stage -> job
  private val stageSpans = mutable.ArrayBuffer.empty[(Int, Span)] // (job, span)
  private val stageMaxInput = mutable.Map.empty[Int, Long]
  private val stageInput = mutable.Map.empty[Int, Long]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile private var drained = false

  /** Task counters per operation span. */
  val opCounters = mutable.Map.empty[Long, Counters]
  /** Per operation: (largest task's input bytes, all input bytes), summed
    * over its scan stages. */
  val opScan = mutable.Map.empty[Long, (Long, Long)]

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
      case Some(Tracer.DrainGroup) => Tracer.DrainOp
      case Some(g) if g.startsWith(Tracer.GroupPrefix) =>
        g.stripPrefix(Tracer.GroupPrefix).toLong
      case _ => current
    }

  private def stageOp(stage: Int): Long =
    stageJob.get(stage).flatMap(jobOp.get).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobOp(e.jobId) = opOf(e.properties)
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobOp.get(e.jobId).contains(Tracer.DrainOp)) drained = true
    else {
      val id = Ids.next()
      jobSpan(e.jobId) = id
      jobSpans += Span(id, jobOp.getOrElse(e.jobId, -1L), "job", "spark.job",
        s"job ${e.jobId}", jobStartMs.getOrElse(e.jobId, e.time), e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      opCounters.getOrElseUpdate(stageOp(e.stageId), new Counters).add(m)
      val b = m.inputMetrics.bytesRead
      stageInput(e.stageId) = stageInput.getOrElse(e.stageId, 0L) + b
      if (b > stageMaxInput.getOrElse(e.stageId, 0L)) stageMaxInput(e.stageId) = b
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val bytes = stageInput.remove(info.stageId).getOrElse(0L)
    val max = stageMaxInput.remove(info.stageId).getOrElse(0L)
    if (bytes > 0) {
      val op = stageOp(info.stageId)
      val (m0, b0) = opScan.getOrElse(op, (0L, 0L))
      opScan(op) = (m0 + max, b0 + bytes)
    }
    val end = info.completionTime.getOrElse(System.currentTimeMillis())
    stageSpans += ((stageJob.getOrElse(info.stageId, -1), Span(Ids.next(), -1L,
      "stage", "spark.stage", s"stage ${info.stageId} (${info.numTasks} tasks)",
      info.submissionTime.getOrElse(end), end)))
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs, p.endTimeMs))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(PlanListener)
  }

  /** Wait for the listener bus to deliver every event posted so far: a
    * marker job's end event arrives after everything posted before it. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.DrainGroup, "drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(200) // the QueryExecutionListener bus is separate
  }

  /** Every span: the recorder's operation spans plus Catalyst
    * phases (attributed by time), jobs and stages. */
  def finish(ops: Seq[Span]): Seq[Span] = synchronized {
    def opAt(ms: Long): Long =
      ops.find(o => o.startMs <= ms && ms <= o.endMs).map(_.id).getOrElse(-1L)
    val phaseSpans = phases.toSeq.map { case (n, s, e) =>
      Span(Ids.next(), opAt(s), "phase", "catalyst", n, s, e)
    }
    val stages = stageSpans.toSeq.map { case (job, s) =>
      s.copy(parent = jobSpan.getOrElse(job, -1L))
    }
    ops ++ phaseSpans ++ jobSpans ++ stages
  }
}

object Tracer {
  val GroupPrefix = "perfbench-op-"
  private val DrainGroup = "perfbench-drain"
  private val DrainOp = -2L

  /** Total length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var sum = 0L
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { sum += e - math.max(s, end); end = e }
      }
    sum
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover. Returns layer -> (spans, total ms, self ms). */
  def selfTimes(spans: Seq[Span]): Seq[(String, Int, Long, Long)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).toSeq.map { case (layer, ss) =>
      val self = ss.map { s =>
        s.durMs - covered(kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)),
          s.startMs, s.endMs)
      }.sum
      (layer, ss.size, ss.map(_.durMs).sum, self)
    }.sortBy(-_._4)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def resetHeapPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .foreach(p => try p.resetPeakUsage() catch { case NonFatal(_) => () })

  def heapPeakBytes(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
}
