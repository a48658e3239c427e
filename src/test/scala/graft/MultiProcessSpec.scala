package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.{LogStore, SnapshotTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** The commit protocol across processes: writers, a reader and killed
  * writers run as separate JVMs on the test classpath ([[LogProc]]), so
  * no in-process lock serializes them — only the log store does. */
class MultiProcessSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark

  /** Starts `LogProc` with `args`; stdout and stderr go to files under
    * `dir`, named by `tag`. */
  private def fork(dir: String, tag: String, args: String*): Process = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx768m", "-cp", System.getProperty("java.class.path"),
        LogProc.getClass.getName.stripSuffix("$")) ++ args
    new ProcessBuilder(cmd.asJava)
      .redirectOutput(new File(dir, s"$tag.out"))
      .redirectError(new File(dir, s"$tag.err"))
      .start()
  }

  private def lines(dir: String, tag: String): Seq[String] =
    Files.readAllLines(Paths.get(dir, s"$tag.out"), UTF_8).asScala.toSeq

  /** Waits for `p`; a process still running after `seconds` is killed and
    * fails the test, with the tail of its stderr. */
  private def finish(p: Process, dir: String, tag: String, seconds: Int): Unit = {
    if (!p.waitFor(seconds, java.util.concurrent.TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      fail(s"$tag did not finish in $seconds s: ${errTail(dir, tag)}")
    }
    assert(p.exitValue == 0, s"$tag exited ${p.exitValue}: ${errTail(dir, tag)}")
  }

  private def errTail(dir: String, tag: String): String =
    Files.readAllLines(Paths.get(dir, s"$tag.err"), UTF_8).asScala.takeRight(20).mkString("\n")

  /** The txn markers each version records anew: a DELTA record holds
    * only its new markers, a FULL one every marker carried so far. */
  private def newMarkers(root: String, fs: org.apache.hadoop.fs.FileSystem,
      versions: Seq[Int]): Map[Int, Map[String, Long]] = {
    var carried = Map.empty[String, Long]
    versions.map { v =>
      val txns = new ObjectMapper().readTree(LogStore.read(fs,
        new Path(root, f"_graft_log/$v%05d.json"))).get("txns")
      val recorded = if (txns == null) Map.empty[String, Long]
        else txns.fieldNames.asScala.map(k => k -> txns.get(k).asLong).toMap
      val fresh = recorded.filter { case (k, n) => !carried.get(k).contains(n) }
      carried ++= recorded
      v -> fresh
    }.toMap
  }

  test("two writer processes and a reader process: every append publishes exactly once") {
    failAfter(Span(600, Seconds)) {
      val root = Scratch.dir("mp_append")
      val dir = Scratch.dir("mp_append_io")
      val t = new SnapshotTable(spark, root).create(LogProc.batch(spark, 0, 0).limit(0))
      val reader = fork(dir, "reader", "read", root, s"$dir/stop")
      val writers = Seq(1, 2).map(w =>
        fork(dir, s"w$w", "append", root, w.toString, LogProc.Appends.toString, s"$dir/barrier"))
      try {
        writers.zipWithIndex.foreach { case (p, i) => finish(p, dir, s"w${i + 1}", 420) }
        Files.writeString(Paths.get(dir, "stop"), "")
        finish(reader, dir, "reader", 120)
      } finally (reader +: writers).foreach(_.destroyForcibly().waitFor())
      val acked = Seq(1, 2).flatMap(w => lines(dir, s"w$w").collect {
        case l if l.startsWith("ACK ") => l.split(" ").toSeq
      })
      val lostRaces = acked.map(_(3).toInt - 1).sum
      val failed = Seq(1, 2).flatMap(w => lines(dir, s"w$w").filter(_.startsWith("FAIL")))
      val out = lines(dir, "reader")
      assert(out.exists(_.startsWith("PASSES ")), s"the reader reported no pass: $out")
      t.invalidateCaches()
      val vs = 0 to t.currentVersion
      val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      val markers = newMarkers(root, fs, vs)
      vs.foreach(v => t.fileEntries(v)) // every version parses
      val extra = vs.drop(1).filter(markers(_).size != 1)
      assert(extra.isEmpty, s"versions without exactly one new txn marker: " +
        extra.map(v => v -> markers(v)).mkString(", "))
      val published = vs.flatMap(markers(_).toSeq)
      val notOnce = acked.map(a => s"w${a(1)}" -> a(2).toLong)
        .filter(a => published.count(_ == a) != 1)
      assert(notOnce.isEmpty, s"acknowledged appends not in exactly one version: $notOnce " +
        s"(${acked.size} acknowledged, ${vs.size - 1} versions after the create, " +
        s"$lostRaces lost races retried)")
      assert(lostRaces > 0, "the writers never raced for a version")
      assert(failed.isEmpty, s"appends that failed: $failed")
      val bad = out.filter(_.startsWith("BAD"))
      assert(bad.isEmpty, s"the reader saw torn or rewritten versions: $bad")
      assert(acked.size == 2 * LogProc.Appends)
      val df = t.read()
      assert(df.count() == 10L * acked.size)
      assert(df.select("k").distinct().count() == 10L * acked.size)
    }
  }

  test("a writer killed during its data write, before or after its link leaves a readable table") {
    failAfter(Span(600, Seconds)) {
      spark.sparkContext.hadoopConfiguration.set("fs.killfs.impl", classOf[KillFs].getName)
      spark.sparkContext.hadoopConfiguration.set("fs.killfs.impl.disable.cache", "true")
      val root = "killfs:" + Scratch.dir("mp_kill")
      val dir = Scratch.dir("mp_kill_io")
      new SnapshotTable(spark, root).create(LogProc.batch(spark, 0, 0).limit(0))
      Seq("data", "temp", "link").foreach { stage =>
        val p = fork(dir, stage, "crash", root, stage)
        try {
          val deadline = System.nanoTime + 300L * 1000000000L
          while (!Files.exists(Paths.get(dir, s"$stage.out")) ||
              !lines(dir, stage).contains(s"PAUSED $stage")) {
            assert(p.isAlive, s"the $stage writer ended: ${errTail(dir, stage)}")
            assert(System.nanoTime < deadline, s"the $stage writer never paused")
            Thread.sleep(100)
          }
        } finally p.destroyForcibly().waitFor()
        val t = new SnapshotTable(spark, root)
        t.invalidateCaches()
        val vs = 0 to t.currentVersion
        def counts = vs.map(v => t.read(v).count())
        val before = counts
        assert(before == vs.map(10L * _), s"after the $stage kill")
        def local(p: String) = new Path(p).toUri.getPath
        val referenced = vs.flatMap(t.fileEntries(_).map(e => local(e.path))).toSet
        val removed = t.removeOrphanFiles(olderThan = System.currentTimeMillis())
        assert(removed.nonEmpty && !removed.map(local).exists(referenced),
          s"after the $stage kill, removed $removed")
        if (stage != "data")
          assert(removed.exists(_.contains(LogStore.TempMark)), s"the $stage kill left no temp")
        assert(t.removeOrphanFiles(olderThan = System.currentTimeMillis()).isEmpty)
        t.invalidateCaches()
        assert(counts == before, s"removeOrphanFiles changed the read after the $stage kill")
      }
    }
  }
}

/** The separate processes of [[MultiProcessSpec]]:
  *
  *  - `append root writerId n barrierDir`: n ten-row appends with
  *    distinct keys, each with `txn = (w<writerId>, i)`; both writers
  *    enter each append's first commit attempt together (a file
  *    barrier), and print `ACK writerId i attempts` once it returns;
  *  - `read root stopFile`: re-reads every version from storage until
  *    `stopFile` exists, printing `BAD v …` for a version that does not
  *    parse or changed since it was first read;
  *  - `crash root stage`: appends until [[KillFs]] pauses it at `stage`
  *    (`data`, `temp` or `link`) and prints `PAUSED stage`. */
object LogProc {
  val Appends = 20

  def batch(spark: SparkSession, writer: Int, i: Int): DataFrame =
    spark.range(10).select((lit(writer * 100000L + i * 10L) + col("id")).as("k"),
      lit(writer).as("w"))

  def main(args: Array[String]): Unit = {
    val spark = Harness.localSession("1")
    spark.sparkContext.hadoopConfiguration.set("fs.killfs.impl", classOf[KillFs].getName)
    spark.sparkContext.hadoopConfiguration.set("fs.killfs.impl.disable.cache", "true")
    args match {
      case Array("append", root, w, n, barrier) => appends(spark, root, w.toInt, n.toInt, barrier)
      case Array("read", root, stop) => reads(spark, root, stop)
      case Array("crash", root, stage) =>
        KillFs.stage = stage
        val t = new SnapshotTable(spark, root)
        val base = t.currentVersion
        while (true) { KillFs.append += 1; t.append(batch(spark, 0, base + KillFs.append)) }
    }
    spark.stop()
  }

  private def appends(spark: SparkSession, root: String, w: Int, n: Int,
      barrier: String): Unit = {
    val t = new SnapshotTable(spark, root)
    Files.createDirectories(Paths.get(barrier))
    (1 to n).foreach { i =>
      var attempts = 0
      def arrive(): Unit = Files.writeString(Paths.get(barrier, s"$i.$w"), "")
      def together(): Unit = if ({ attempts += 1; attempts == 1 }) {
        arrive()
        val deadline = System.nanoTime + 30L * 1000000000L
        while (!(Files.exists(Paths.get(barrier, s"$i.1")) && Files.exists(Paths.get(barrier, s"$i.2"))) &&
            System.nanoTime < deadline) Thread.onSpinWait()
      }
      try {
        t.withCommitHook(together()) { t.append(batch(spark, w, i), txn = Some(s"w$w" -> i.toLong)) }
        println(s"ACK $w $i $attempts")
      } catch { case e: Exception => println(s"FAIL $w $i $e") }
      finally if (attempts == 0) arrive() // failed before its commit: release the peer
    }
  }

  private def reads(spark: SparkSession, root: String, stop: String): Unit = {
    val t = new SnapshotTable(spark, root)
    val seen = scala.collection.mutable.Map.empty[Int, String]
    var passes = 0
    while (!Files.exists(Paths.get(stop))) {
      t.invalidateCaches()
      (0 to t.currentVersion).foreach { v =>
        try {
          val digest = t.fileEntries(v).map(_.path).sorted.mkString(",") + "@" + t.commitTimestamp(v)
          if (seen.getOrElseUpdate(v, digest) != digest) println(s"BAD $v changed")
        } catch { case e: Exception => println(s"BAD $v $e") }
      }
      passes += 1
      Thread.sleep(10)
    }
    println(s"PASSES $passes")
  }
}

/** The local filesystem under the `killfs` scheme, which stops the
  * writer for good at [[KillFs.stage]] of its second append:
  * `data` at the create of a data file, `temp` once a version's temp
  * sibling is written, `link` at that temp's delete (after its link). */
class KillFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("killfs:///")
  override def getScheme: String = "killfs"

  // plain statuses: the raw ones load permissions through a `file:` URI
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(st => new org.apache.hadoop.fs.FileStatus(st.getLen,
      st.isDirectory, st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath))

  private def isTemp(f: Path) = f.getName.matches("\\.\\d+\\.json\\.tmp-.*")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (f.getName.endsWith(".parquet")) KillFs.pause("data")
    if (!isTemp(f)) out
    else new org.apache.hadoop.fs.FSDataOutputStream(out, null) {
      override def close(): Unit = { super.close(); KillFs.pause("temp") }
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (isTemp(f)) KillFs.pause("link")
    super.delete(f, recursive)
  }
}

object KillFs {
  @volatile var stage = ""
  @volatile var append = 0

  def pause(at: String): Unit = if (stage == at && append >= 2) {
    println(s"PAUSED $at")
    System.out.flush()
    Thread.sleep(Long.MaxValue)
  }
}
