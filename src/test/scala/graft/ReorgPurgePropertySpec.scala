package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** Property sweep of [[SnapshotTable.optimize]]'s purge (`REORG TABLE …
  * APPLY (PURGE)`) across layout families and random positional-delete
  * patterns, against a row-level model. The invariants:
  *
  *   - the purged table reads exactly the DV-resolved survivors (the
  *     purge is a physical reorganization, never a logical change),
  *   - zero DV marks remain,
  *   - the deleted rows are PHYSICALLY absent from the live data files
  *     (the GDPR contract — a raw parquet scan finds no trace),
  *   - files provably untouched by any delete (key span disjoint from
  *     every deleted range) survive path-identical — cost stays ∝
  *     marked bytes at any scale,
  *   - the table's layout survives the rewrite.
  *
  * The example-based case lives in SqlVerbsSpec; this sweep closes the
  * layout × delete-pattern space with seeded-random trials. */
class ReorgPurgePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("reorgPurge: survivors exact, marks gone, untouched files " +
      "path-identical, across layouts") {
    import spark.implicits._
    val rnd = new Random(61)
    def mkRows(lo: Long, hi: Long): Seq[(Long, java.sql.Date, String, Double)] =
      (lo until hi).map { k =>
        val d = java.sql.Date.valueOf(
          f"2024-${1 + (k % 5).toInt}%02d-${1 + (k % 27).toInt}%02d")
        (k, d, s"P${k % 3}", k * 1.0)
      }
    for (spec <- Seq(None, Some("p"), Some("months(d)"), Some("bucket(4, k)"));
        trial <- 1 to 3) {
      val label = s"[${spec.getOrElse("flat")} trial $trial]"
      val n = 60 + rnd.nextInt(60)
      val t = new SnapshotTable(spark, tmp("reorgprop"))
        .create(mkRows(0, n / 2).toDF("k", "d", "p", "v"), spec)
      t.append(mkRows(n / 2, n).toDF("k", "d", "p", "v"), spec)
      // 1–3 random key ranges, possibly overlapping, possibly empty-match
      val ranges = (0 until 1 + rnd.nextInt(3)).map { _ =>
        val lo = rnd.nextInt(n + 10).toLong
        (lo, lo + rnd.nextInt(20).toLong)
      }
      ranges.foreach { case (lo, hi) =>
        t.delete(col("k").between(lo, hi), positional = true)
      }
      def deleted(k: Long): Boolean =
        ranges.exists { case (lo, hi) => k >= lo && k <= hi }
      // conservative untouched set: key span disjoint from EVERY range
      // (a strict subset of the engine's exact mark-free set)
      val untouched = t.files.filter(e => e.stats.get("k").exists {
        case (mn, mx) => ranges.forall { case (lo, hi) => mx < lo || mn > hi }
      }).map(_.path).toSet
      val marksBefore = t.dvFiles.map(_.rows).sum
      val vBefore = t.currentVersion
      val rewritten = t.optimize(purge = true, minBytes = 1L << 20)
      assert(t.dvFiles.isEmpty, s"$label marks must be gone")
      if (marksBefore == 0)
        assert(rewritten == 0 && t.currentVersion == vBefore,
          s"$label mark-free purge must be a no-op")
      // (1) row-level model
      val expected = (0L until n).filterNot(deleted).map(k => k -> k * 1.0).toMap
      val got = t.read().select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == expected, s"$label ranges=$ranges " +
        s"missing=${(expected.keySet -- got.keySet).toSeq.sorted.take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).toSeq.sorted.take(5)}")
      // (2) untouched files carry by reference
      assert(untouched.subsetOf(t.files.map(_.path).toSet),
        s"$label untouched files must be path-identical")
      // (3) physical absence: raw parquet scan of the live files holds
      // no deleted key
      val live = t.files.filter(_.rows > 0).map(_.path.stripPrefix("file:"))
      if (live.nonEmpty && marksBefore > 0) {
        val raw = spark.read.parquet(live: _*).select("k")
          .collect().map(_.getLong(0)).toSet
        val ghosts = raw.filter(deleted)
        assert(ghosts.isEmpty, s"$label deleted keys still on disk: " +
          s"${ghosts.toSeq.sorted.take(5)}")
      }
      // (4) layout preserved on every data file
      spec.foreach { sp =>
        val parsed = graft.sources.PartitionTransform.parse(sp)
        assert(t.files.filter(_.rows > 0).forall(e =>
          if (parsed.tag == null) e.partCol == parsed.col
          else e.xformCol == parsed.col && e.xformTag == parsed.tag),
          s"$label layout must survive the purge")
      }
    }
  }
}
