package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Files
import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

/** One timed call: `kind` groups operations into metrics (query, merge,
  * compact, ...), `layer` names the program module it calls. */
final case class Op(id: Long, name: String, kind: String, layer: String,
    startMs: Long, endMs: Long, secs: Double, cpuSecs: Double, measured: Boolean) {
  def span: Span = Span(id, -1L, "op", layer, name, startMs, endMs)
}

/** Times the benchmark's calls into the program, one closed-loop client.
  *
  * Every operation runs under its own Spark job group. A non-fatal error
  * fails that operation only: it is counted, reported by name, and the
  * loop goes on. Fatal errors (out of memory, interrupts) propagate and
  * end the run. Set-up operations are timed and traced too, but a failing
  * set-up step ends the run, since nothing after it would be meaningful. */
final class Recorder(spark: SparkSession, val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.LinkedHashMap.empty[Long, (String, String)]
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** The JIT compiler threads' `schedstat` files. `run.py` starts the JVM
    * with a fixed set of compiler threads, so this list does not change. */
  private val jitThreads: Seq[java.nio.file.Path] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
      .filter(t => Try(Files.readString(t.toPath.resolve("comm"))).toOption
        .exists(c => c.startsWith("C1 Compiler") || c.startsWith("C2 Compiler")))
      .map(_.toPath.resolve("schedstat"))
  require(jitThreads.nonEmpty, "no JIT compiler threads found in /proc/self/task")

  /** CPU time of the process in ns, less what the JIT compiler threads
    * used: the client, Spark's task and service threads, GC, and threads
    * that have already ended all count. Compilation is left out: in runs
    * this short it is the noisiest part of the process's CPU time, and it
    * follows the JIT's heuristics rather than the program's work. */
  private def cpuNs(): Long = os.getProcessCpuTime -
    jitThreads.map(p => Files.readString(p).split(' ')(0).toLong).sum

  private var measuring = false
  private var measureStartNs = 0L
  var firstMeasuredMs = -1L

  def startMeasuring(): Unit = {
    measuring = true
    measureStartNs = System.nanoTime()
  }
  def stopMeasuring(): Unit = measuring = false
  def elapsed: Double = (System.nanoTime() - measureStartNs) / 1e9

  def attempted: Int = ops.count(_.measured)
  def failed: Int = failures.size

  /** Time `body` as one operation. Returns None when it failed. */
  def op[A](name: String, kind: String, layer: String)(body: => A): Option[A] = {
    val id = Ids.next()
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.GroupPrefix + id, name)
    tracer.foreach(_.current = id)
    val startMs = System.currentTimeMillis()
    if (measuring && firstMeasuredMs < 0) firstMeasuredMs = startMs
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - c0) / 1e9
    ops += Op(id, name, kind, layer, startMs, System.currentTimeMillis(), secs, cpu, measuring)
    tracer.foreach(_.current = -1L)
    sc.clearJobGroup()
    result match {
      case Right(a) => Some(a)
      case Left(e) if measuring =>
        fail(id, name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      case Left(e) => throw new IllegalStateException(s"set-up step $name failed", e)
    }
  }

  /** The id of the operation recorded last. */
  def lastId: Long = ops.last.id

  /** Mark operation `id` failed (a wrong result counts as a failure). A
    * wrong result during set-up ends the run. */
  def fail(id: Long, name: String, reason: String): Unit =
    if (ops.exists(o => o.id == id && !o.measured))
      throw new IllegalStateException(s"set-up step $name: $reason")
    else if (!failures.contains(id)) {
      failures(id) = (name, reason)
      System.err.println(s"[perfbench] FAILED $name: $reason")
    }

  /** Compare a checked result with its expectation; a mismatch fails `id`. */
  def check(id: Long, name: String, got: Digest, want: Digest): Unit =
    if (got != want) fail(id, name, s"wrong result: got $got, expected $want")

  def measured: Seq[Op] = ops.filter(_.measured).toSeq
  def okMeasured: Seq[Op] = measured.filterNot(o => failures.contains(o.id))
}
