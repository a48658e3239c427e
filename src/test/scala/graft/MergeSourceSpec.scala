package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Keys a nondeterministic source filter let through, and how often it
  * ran. Executors share the driver's JVM in local mode. */
object MergeSourceSpec {
  val kept: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet[java.lang.Long]()
  val calls = new AtomicLong()
}

/** A copy-on-write MERGE evaluates its source once: the touched
  * partitions, the anti-join, the union and a retry after a lost commit
  * race all read that one evaluation.
  * A source filtered through a nondeterministic UDF therefore commits one
  * consistent draw: no key is lost or duplicated, and the rows committed
  * are exactly the rows the filter kept. Checked on both ways of holding
  * the source: collected into a local relation (small) and persisted
  * (broadcast threshold off). */
class MergeSourceSpec extends AnyFunSuite {
  import MergeSourceSpec._
  private lazy val spark = TestSpark.spark
  private val parts = 8

  /** Target: keys 0..199, partition `p = k % 8`, `v = 0`. */
  private def table(s: SparkSession, name: String): SnapshotTable =
    new SnapshotTable(s, Scratch.dir(name)).create(rows(s, 0, 200, 0), Some("p"))

  private def rows(s: SparkSession, from: Long, until: Long, v: Int): DataFrame =
    s.range(from, until).select(col("id").as("k"),
      (col("id") % parts).cast("int").as("p"), lit(v).as("v"))

  /** `rows` kept by a coin flip per row, recorded in `kept`/`calls`. */
  private def coinFlipped(df: DataFrame): DataFrame = {
    kept.clear(); calls.set(0)
    val flip = udf { (k: Long) =>
      calls.incrementAndGet()
      val keep = java.util.concurrent.ThreadLocalRandom.current().nextBoolean()
      if (keep) kept.add(k)
      keep
    }.asNondeterministic()
    df.filter(flip(col("k")))
  }

  private def sessions: Seq[(String, SparkSession)] = {
    val persisted = spark.newSession()
    persisted.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Seq("local" -> spark.newSession(), "persisted" -> persisted)
  }

  private def keys(t: SnapshotTable, v: Int): Seq[Long] =
    t.read().filter(col("v") === v).select("k").collect().map(_.getLong(0)).toSeq

  private def keptKeys: Set[Long] = {
    import scala.jdk.CollectionConverters._
    kept.asScala.map(_.longValue).toSet
  }

  /** After an upsert of `coinFlipped(rows(200..399 ∪ 0..199, v = 1))`:
    * every target key once, the committed source rows exactly the kept
    * ones, and one evaluation (one flip per source row). */
  private def checkUpsert(t: SnapshotTable, mode: String): Unit = {
    val all = keys(t, 0) ++ keys(t, 1)
    assert(all.size == all.distinct.size, s"$mode: duplicated keys")
    assert((0L until 200L).toSet.subsetOf(all.toSet), s"$mode: lost keys")
    assert(keys(t, 1).toSet == keptKeys, s"$mode: committed rows are not the kept ones")
    assert(calls.get == 400L, s"$mode: the source was evaluated ${calls.get / 400.0} times")
  }

  test("merge commits one evaluation of a nondeterministic source") {
    sessions.foreach { case (mode, s) =>
      val t = table(s, s"ms_merge_$mode")
      val cached = s.sparkContext.getPersistentRDDs.keySet
      t.merge(coinFlipped(rows(s, 0, 400, 1)), Seq("k", "p"), Some("p"))
      checkUpsert(t, mode)
      assert(s.sparkContext.getPersistentRDDs.keySet == cached,
        s"$mode: source cache not released")
    }
  }

  test("merge's lost-race retry commits one evaluation of a nondeterministic source") {
    sessions.foreach { case (mode, s) =>
      val t = table(s, s"ms_concurrent_$mode")
      val rival = new SnapshotTable(s, t.location)
      val cached = s.sparkContext.getPersistentRDDs.keySet
      // the rival wins the first commit with a row in a partition the
      // source does not touch, so the merge retries metadata-only
      t.withCommitHook(if (rival.currentVersion == 0)
          rival.append(s.range(1000, 1001).select(col("id").as("k"),
            lit(parts + 1).as("p"), lit(0).as("v")), Some("p"))) {
        t.merge(coinFlipped(rows(s, 0, 400, 1)), Seq("k", "p"), Some("p"))
      }
      assert(t.currentVersion == 2, s"$mode: the merge did not retry")
      checkUpsert(t, mode)
      assert(s.sparkContext.getPersistentRDDs.keySet == cached,
        s"$mode: source cache not released")
    }
  }

  test("mergeDelete deletes exactly the keys of one evaluation") {
    sessions.foreach { case (mode, s) =>
      val t = table(s, s"ms_delete_$mode")
      t.merge(coinFlipped(rows(s, 0, 200, 1)), Seq("k", "p"), Some("p"),
        deleteMatched = true)
      val left = keys(t, 0)
      assert(left.size == left.distinct.size, s"$mode: duplicated keys")
      assert(left.toSet == (0L until 200L).toSet -- keptKeys, s"$mode: deleted set")
      assert(calls.get == 200L, s"$mode: the source was evaluated ${calls.get / 200.0} times")
    }
  }

  test("a keyed merge of a small source runs 4 jobs, none of them re-reading it") {
    // the source's collect, the broadcast of its local rows for the
    // anti-join, the write's rebalance shuffle and the write; a source
    // evaluated per read added a touched-partition job and rescanned
    val s = spark.newSession()
    val t = table(s, "ms_jobs")
    val (_, jobs) = JobCount.of(s)(
      t.merge(rows(s, 190, 230, 1), Seq("k", "p"), Some("p")))
    assert(jobs.size == 4, s"merge launched ${jobs.size} jobs: $jobs")
    assert(keys(t, 1).toSet == (190L until 230L).toSet)
    assert(keys(t, 0).toSet == (0L until 190L).toSet)
  }
}
