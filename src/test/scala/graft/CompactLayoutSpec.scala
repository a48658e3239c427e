package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The file layout partitioned compaction leaves behind. Partition `pv`
  * gets `share(pv) = max(1, round(numFiles × bytes(pv) / table bytes))`
  * files; a partition already holding exactly that many, with no
  * deletion-vector marks, carries by reference, and every other one
  * rewrites to exactly its share. So compaction is idempotent: the
  * second call rewrites nothing. Also pins the bin distribution OPTIMIZE
  * shares with it: bins go straight to write tasks, with no range-bound
  * sampling job. */
class CompactLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  /** `n` rows of partition `p`: keys from `p * 100000 + from`, and a
    * 64-hex-char payload so a file's bytes grow with its rows. */
  private def rows(s: SparkSession, p: Int, n: Long, from: Long = 0L): DataFrame =
    s.range(p * 100000L + from, p * 100000L + from + n).select(
      col("id").as("k"), lit(p).as("p"),
      sha2(col("id").cast("string"), 256).as("s"))

  /** 16 partitions of one file each, 1000 rows apiece except `big`
    * partitions, which hold 2000. */
  private def table(s: SparkSession, name: String,
      big: Set[Int] = Set.empty): SnapshotTable = {
    val df = (0 until 16)
      .map(p => rows(s, p, if (big(p)) 2000L else 1000L))
      .reduce(_ unionByName _)
    val t = new SnapshotTable(s, tmp(name)).create(df, Some("p"))
    assert(filesPer(t) == (0 until 16).map(p => p.toString -> 1).toMap,
      "set-up: one file per partition")
    t
  }

  private def filesPer(t: SnapshotTable): Map[String, Int] =
    t.files.groupBy(_.partValue).map { case (pv, es) => pv -> es.size }

  private def pathsOf(t: SnapshotTable, pv: String): Set[String] =
    t.files.filter(_.partValue == pv).map(_.path).toSet

  /** The share rule, computed here from the manifest on its own. */
  private def shares(t: SnapshotTable, numFiles: Int): Map[String, Int] = {
    val total = t.files.map(_.bytes).sum.toDouble
    t.files.groupBy(_.partValue).map { case (pv, es) =>
      pv -> math.max(1L, math.round(numFiles * es.map(_.bytes).sum / total)).toInt
    }
  }

  private def content(t: SnapshotTable): Seq[(Long, Int, String)] =
    t.read().select("k", "p", "s").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted

  test("(a) compacting settled partitions writes no data and launches no job") {
    val s = spark.newSession()
    val t = table(s, "cl_settled")
    val paths = t.files.map(_.path).toSet
    val before = content(t)
    val histBefore = t.history.collect().toSeq
    val (_, jobs) = JobCount.of(s)(t.compact(16, Some("p")))
    assert(jobs.isEmpty, s"a metadata-only compaction launched jobs: $jobs")
    assert(t.files.map(_.path).toSet == paths, "every path carries")
    assert(t.currentVersion == 1)
    val hist = t.history.collect().toSeq
    assert(hist.init == histBefore, "earlier history rows unchanged")
    assert(hist.last.getInt(0) == 1 && hist.last.getString(1) == "COMPACT")
    assert(hist.last.getLong(2) == 16L && hist.last.getLong(3) == 16000L)
    assert(content(t) == before)
  }

  test("(b) only unsettled partitions rewrite, each to exactly its share") {
    val s = spark.newSession()
    // partition 5 holds about twice the mean bytes: share 2, one file
    val t = table(s, "cl_unsettled", big = Set(5))
    // partitions 3 and 9 gain a second (small) file: share 1, two files
    t.append(rows(s, 3, 50L, from = 50000L), Some("p"))
    t.append(rows(s, 9, 50L, from = 50000L), Some("p"))
    val share = shares(t, 16)
    assert(share("5") == 2 && share.removed("5").values.forall(_ == 1),
      s"set-up: $share")
    val unsettled = Set("3", "5", "9")
    val carried = (0 until 16).map(_.toString).filterNot(unsettled)
      .map(pv => pv -> pathsOf(t, pv)).toMap
    val old = t.files.map(_.path).toSet
    val before = content(t)
    t.compact(16, Some("p"))
    assert(carried.forall { case (pv, ps) => pathsOf(t, pv) == ps },
      "settled partitions carry path-identical")
    unsettled.foreach { pv =>
      assert(pathsOf(t, pv).intersect(old).isEmpty, s"partition $pv rewrote")
    }
    assert(filesPer(t) == share, "every partition holds exactly its share")
    assert(content(t) == before)
    // idempotent: the second compaction rewrites nothing
    val after = t.files.map(_.path).toSet
    t.compact(16, Some("p"))
    assert(t.files.map(_.path).toSet == after)
    assert(t.history.collect().map(_.getString(1)).toSeq.takeRight(2) ==
      Seq("COMPACT", "COMPACT"))
  }

  test("(c) a DV delete rewrites only its partition and drops its marks") {
    val s = spark.newSession()
    val t = table(s, "cl_dv")
    val before = content(t)
    // partition 2 only
    t.delete(col("k").between(200010, 200019), positional = true)
    assert(t.dvFiles.nonEmpty)
    val untouched = (0 until 16).filter(_ != 2).map(_.toString)
      .map(pv => pv -> pathsOf(t, pv)).toMap
    val marked = pathsOf(t, "2")
    t.compact(16, Some("p"))
    assert(untouched.forall { case (pv, ps) => pathsOf(t, pv) == ps })
    assert(pathsOf(t, "2").size == 1 && pathsOf(t, "2").intersect(marked).isEmpty)
    assert(t.dvFiles.isEmpty, "marks on the rewritten partition dropped")
    assert(content(t) == before.filterNot { case (k, _, _) =>
      k >= 200010L && k <= 200019L })
    assert(t.countFromManifest == 15990L)
  }

  test("(d) pending merge-on-read deltas still fold the whole table") {
    val s = spark.newSession()
    val t = table(s, "cl_mor")
    val old = t.files.map(_.path).toSet
    t.merge(rows(s, 4, 10L).withColumn("s", lit("updated")),
      Seq("k", "p"), Some("p"), deferred = true)
    val resolved = content(t)
    assert(t.deltaFiles.nonEmpty)
    t.compact(16, Some("p"))
    assert(t.deltaFiles.isEmpty)
    assert(t.files.map(_.path).toSet.intersect(old).isEmpty,
      "every file rewrote")
    assert(content(t) == resolved)
  }

  test("(e) row ids are stable for carried and rewritten partitions") {
    val s = spark.newSession()
    val t = table(s, "cl_rid", big = Set(5))
    t.withProperty(SnapshotTable.RowTrackingProp, "true")
    t.append(rows(s, 3, 50L, from = 50000L), Some("p"))
    def rids: Map[Long, Long] = t.readWithRowIds()
      .select(col("k"), col(SnapshotTable.RidCol)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = rids
    val carried = pathsOf(t, "0")
    t.compact(16, Some("p"))
    assert(pathsOf(t, "0") == carried && pathsOf(t, "3").size == 1 &&
      pathsOf(t, "5").size == 2, s"layout: ${filesPer(t)}")
    assert(rids == before, "row ids changed across the compaction")
  }

  test("OPTIMIZE distributes bins with no range-sampling job") {
    val s = spark.newSession()
    val t = table(s, "cl_optimize")
    (0 until 4).foreach(p => t.append(rows(s, p, 10L, from = 50000L), Some("p")))
    val before = content(t)
    val (_, jobs) = JobCount.of(s)(t.optimize(minBytes = Long.MaxValue))
    // one job materializes the bin shuffle and one writes the files; the
    // range repartition this replaced ran a third, sampling the bin ids
    // for split points
    assert(jobs.size == 2 && jobs.last.startsWith("writeWithStats"),
      s"jobs: $jobs")
    assert(filesPer(t) == (0 until 16).map(p => p.toString -> 1).toMap)
    assert(content(t) == before)
  }
}
