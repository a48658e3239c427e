package graft

import graft.sources.{PartitionTransform, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** Property sweep of [[SnapshotTable.overwrite]]'s `Values` scope — the
  * REPLACE WHERE primitive — across every layout family (identity /
  * hidden time transform / hidden bucket transform), null-partition
  * membership, and empty sources, against a row-level model. The
  * invariant under test is the data-loss boundary:
  *
  *   - every partition NAMED in the replaced set holds EXACTLY the
  *     source's rows for it afterwards (absent from the source =>
  *     emptied),
  *   - every partition NOT named survives byte-for-byte — its files
  *     carry by reference, path-identical (never rewritten, so a bug
  *     here would silently lose or duplicate untouched data at any
  *     scale).
  *
  * Example-based cases live in SnapshotTableSpec; this sweep closes the
  * combination space (layout × null × empty-source × replaced-set
  * shape) with seeded-random trials. */
class OverwriteLayoutPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  private val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"

  test("overwritePartitionValues: named partitions exactly replaced, " +
      "others path-identical, across layouts") {
    import spark.implicits._
    val rnd = new Random(59)
    // one row shape serves all three layouts: identity on p (nullable),
    // months(d) on a date, bucket(4, k) on the key
    def mkRows(n: Int): Seq[(Long, java.sql.Date, String, Double)] =
      (0L until n.toLong).map { k =>
        val d = java.sql.Date.valueOf(
          f"2024-${1 + (k % 5).toInt}%02d-${1 + (k % 27).toInt}%02d")
        val p = if (k % 7 == 3) null else s"P${k % 4}"
        (k, d, p, k * 1.0)
      }
    for (spec <- Seq("p", "months(d)", "bucket(4, k)"); trial <- 1 to 3) {
      val label = s"[$spec trial $trial]"
      val baseRows = mkRows(24 + rnd.nextInt(30))
      val base = baseRows.toDF("k", "d", "p", "v")
      val t = new SnapshotTable(spark, tmp("ovwprop"))
        .create(base, Some(spec))
      // per-row on-disk partition value via the engine's own write
      // function — the property checked is REPLACE algebra, not
      // transform arithmetic (pinned in PartitionTransform's own specs)
      def pvOf(df: DataFrame): Map[Long, String] =
        df.select(col("k"), PartitionTransform
            .writeColumn(PartitionTransform.parse(spec)).as("pv"))
          .collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) null else r.getString(1))).toMap
      val basePv = pvOf(base)
      val nonNullDomain = basePv.values.filter(_ != null).toSet
      // random replaced set: 1..all existing values, sometimes plus a
      // value no file holds (replacing a missing partition = emptying
      // nothing), sometimes plus the null partition
      val vals = rnd.shuffle(nonNullDomain.toList)
        .take(1 + rnd.nextInt(nonNullDomain.size)).toSet ++
        (if (rnd.nextBoolean()) Set("no_such_partition") else Set.empty)
      val hasNull = rnd.nextBoolean()
      def replaced(pv: String): Boolean =
        if (pv == null) hasNull else vals.contains(pv)
      // source: a random subset (possibly EMPTY) of the replaced
      // partitions' keys, re-valued — same keys so bucket(k) stays in
      // the replaced set by construction (REPLACE WHERE's validated
      // contract: source rows must match the condition)
      val replacedKeys = baseRows
        .filter(r => replaced(basePv(r._1))).map(_._1)
      val srcKeys = rnd.shuffle(replacedKeys.toList)
        .take(rnd.nextInt(replacedKeys.size + 1)).toSet
      val srcRows = baseRows.filter(r => srcKeys.contains(r._1))
        .map(r => (r._1, r._2, r._3, r._4 + 1000.0))
      val diskReplaced = vals ++ (if (hasNull) Set(HiveNullPart) else Set.empty)
      val carriedBefore = t.files
        .filterNot(e => diskReplaced.contains(e.partValue)).map(_.path).toSet
      t.overwrite(srcRows.toDF("k", "d", "p", "v"), Some(spec),
        SnapshotTable.Replace.Values(vals.map(Option(_)) ++
          (if (hasNull) Set(None) else Set.empty)))
      // (1) row-level model: untouched partitions keep base rows,
      // replaced partitions hold exactly the source's rows
      val expected = (baseRows.filterNot(r => replaced(basePv(r._1))) ++
        srcRows).map(r => r._1 -> r._4).toMap
      val got = t.read().select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == expected,
        s"$label vals=$vals hasNull=$hasNull src=${srcKeys.size} " +
          s"missing=${(expected.keySet -- got.keySet).toSeq.sorted.take(5)} " +
          s"extra=${(got.keySet -- expected.keySet).toSeq.sorted.take(5)}")
      // (2) file-level: unnamed partitions carry by reference
      val carriedAfter = t.files
        .filterNot(e => diskReplaced.contains(e.partValue)).map(_.path).toSet
      assert(carriedAfter == carriedBefore,
        s"$label untouched partitions must be path-identical")
      // (3) replaced partitions' files are all NEW (old ones are gone)
      assert(t.files.filter(e => diskReplaced.contains(e.partValue))
        .forall(_.origin > 0L), s"$label replaced files must be rewritten")
    }
  }
}
