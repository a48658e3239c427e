package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** Property sweep of the column mapping: random interleavings of
  * RENAME / DROP / ADD / APPEND / MERGE against a driver-side logical
  * model, asserting full read-back equality after every step plus
  * time-travel schema correctness at the end. Closes the class of
  * translation bugs (a DML path that misses the boundary translation
  * silently reads or writes the wrong physical column). */
class ColumnMappingPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("random rename/drop/add/append/merge interleavings match a logical model") {
    import spark.implicits._
    val rnd = new Random(1543)
    for (trial <- 1 to 3) {
      // model: per-key row of logical column -> value; columns tracks
      // the logical schema in order. k is the merge key (never dropped).
      var columns = Vector("k", "a", "b")
      val model = scala.collection.mutable.Map[Long, Map[String, Double]]()
      (0L until 20L).foreach(k =>
        model(k) = Map("a" -> k * 1.0, "b" -> k * 2.0))
      def frame(rows: Seq[(Long, Map[String, Double])]) = {
        val cols = columns
        val data = rows.map { case (k, m) =>
          org.apache.spark.sql.Row.fromSeq(
            k +: cols.drop(1).map(c => m.get(c).map(Double.box).orNull))
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(data.toList, 2),
          org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType, nullable = false) +:
              cols.drop(1).map(c => org.apache.spark.sql.types.StructField(
                c, org.apache.spark.sql.types.DoubleType))))
      }
      val t = new SnapshotTable(spark, tmp(s"cmprop$trial"))
        .create(frame(model.toSeq.sortBy(_._1)))
      var nextCol = 0
      // logical schema observed at each committed version (steps that
      // no-op commit nothing, so track by actual version number)
      val schemaAt = scala.collection.mutable.Map(0 -> columns)
      for (step <- 1 to 8 + rnd.nextInt(4)) {
        rnd.nextInt(5) match {
          case 0 if columns.size > 2 => // RENAME a non-key column
            val old = columns(1 + rnd.nextInt(columns.size - 1))
            val nw = s"r${nextCol}"; nextCol += 1
            t.renameColumn(old, nw)
            columns = columns.map(c => if (c == old) nw else c)
            model.keys.foreach(k =>
              model(k) = model(k).map { case (c, v) =>
                (if (c == old) nw else c) -> v })
          case 1 if columns.size > 2 => // DROP a non-key column
            val victim = columns(1 + rnd.nextInt(columns.size - 1))
            t.dropColumn(victim)
            columns = columns.filterNot(_ == victim)
            model.keys.foreach(k => model(k) = model(k) - victim)
          case 2 => // ADD a column — sometimes re-using a renamed-away or
            // dropped name (the resurrection-guard paths)
            val nm = rnd.nextInt(3) match {
              case 0 => val n = s"c${nextCol}"; nextCol += 1; n
              case 1 if nextCol > 0 => s"r${rnd.nextInt(nextCol)}"
              case _ => if (rnd.nextBoolean()) "a" else "b"
            }
            if (!columns.contains(nm)) {
              t.addColumns(Seq(org.apache.spark.sql.types.StructField(nm,
                org.apache.spark.sql.types.DoubleType)))
              columns = columns :+ nm
              // model: existing rows have no value (null) for the column
            }
          case 3 => // APPEND fresh keys with full rows
            val maxK = model.keys.max
            val rows = (maxK + 1 to maxK + 1 + rnd.nextInt(5)).map { k =>
              val m = columns.drop(1).map(c => c -> rnd.nextDouble()).toMap
              model(k) = m
              (k, m)
            }
            t.append(frame(rows))
          case _ => // MERGE: update a random subset + insert fresh keys
            val upd = rnd.shuffle(model.keys.toList)
              .take(rnd.nextInt(5)).map { k =>
                val m = columns.drop(1).map(c => c -> rnd.nextDouble()).toMap
                model(k) = m
                (k, m)
              }
            val maxK = model.keys.max
            val ins = (maxK + 1 to maxK + rnd.nextInt(3)).map { k =>
              val m = columns.drop(1).map(c => c -> rnd.nextDouble()).toMap
              model(k) = m
              (k, m)
            }
            if (upd.nonEmpty || ins.nonEmpty) t.merge(frame(upd ++ ins), Seq("k"))
        }
        schemaAt(t.currentVersion) = columns
        // full read-back equality vs the model after EVERY step
        assert(t.read().columns.toSeq == columns,
          s"trial $trial step $step: schema drift")
        val got = t.read().collect().map { r =>
          r.getLong(r.fieldIndex("k")) -> columns.drop(1).map(c =>
            c -> (if (r.isNullAt(r.fieldIndex(c))) null
                  else Double.box(r.getDouble(r.fieldIndex(c))))).toMap
        }.toMap
        assert(got.keySet == model.keySet.toSet,
          s"trial $trial step $step: key drift")
        got.foreach { case (k, m) =>
          columns.drop(1).foreach { c =>
            val expected = model(k).get(c).map(Double.box).orNull
            assert(m(c) == expected,
              s"trial $trial step $step: key $k col $c: got ${m(c)}, " +
                s"expected $expected")
          }
        }
      }
      // time travel below every mapping change reads that version's schema
      schemaAt.foreach { case (v, cols) =>
        assert(t.read(v).columns.toSeq == cols,
          s"trial $trial: version $v schema")
      }
    }
  }

  test("clone x mapping x MoR-delta interleavings match a logical model") {
    // the clone product space: renames land while MoR deltas pend, the
    // live handle switches to a shallow clone mid-history (carrying
    // mapping + pending deltas with rebased-negative origins), and the
    // resolved read must keep matching the driver-side model throughout
    val rnd = new Random(90210)
    for (trial <- 1 to 3) {
      var columns = Vector("k", "a", "b")
      val model = scala.collection.mutable.Map[Long, Map[String, Double]]()
      (0L until 16L).foreach(k =>
        model(k) = Map("a" -> k * 1.0, "b" -> k * 3.0))
      def frame(rows: Seq[(Long, Map[String, Double])]) = {
        val cols = columns
        val data = rows.map { case (k, m) =>
          org.apache.spark.sql.Row.fromSeq(
            k +: cols.drop(1).map(c => m.get(c).map(Double.box).orNull))
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(data.toList, 2),
          org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType, nullable = false) +:
              cols.drop(1).map(c => org.apache.spark.sql.types.StructField(
                c, org.apache.spark.sql.types.DoubleType))))
      }
      var t = new SnapshotTable(spark, tmp(s"cmclprop$trial"))
        .create(frame(model.toSeq.sortBy(_._1)))
      var nextCol = 0
      var clones = 0
      def touch(n: Int): Seq[(Long, Map[String, Double])] = {
        val upd = rnd.shuffle(model.keys.toList).take(n).map { k =>
          val m = columns.drop(1).map(c => c -> rnd.nextDouble()).toMap
          model(k) = m
          (k, m)
        }
        val maxK = model.keys.max
        val ins = (maxK + 1 to maxK + 1 + rnd.nextInt(2)).map { k =>
          val m = columns.drop(1).map(c => c -> rnd.nextDouble()).toMap
          model(k) = m
          (k, m)
        }
        upd ++ ins
      }
      for (step <- 1 to 10 + rnd.nextInt(4)) {
        rnd.nextInt(5) match {
          case 0 => // MoR upsert: deltas stay pending across later steps
            t.merge(frame(touch(1 + rnd.nextInt(4))), Seq("k"), deferred = true)
          case 1 if columns.size > 2 => // RENAME while deltas may pend
            val old = columns(1 + rnd.nextInt(columns.size - 1))
            val nw = s"m${nextCol}"; nextCol += 1
            t.renameColumn(old, nw)
            columns = columns.map(c => if (c == old) nw else c)
            model.keys.foreach(k =>
              model(k) = model(k).map { case (c, v) =>
                (if (c == old) nw else c) -> v })
          case 2 => // COMPACT folds pending deltas under the mapping
            t.compact(2)
          case 3 => // switch the live handle to a SHALLOW CLONE
            clones += 1
            t = t.shallowCloneTo(tmp(s"cmclprop${trial}_c$clones"))
          case _ => // CoW merge through the logical names
            t.merge(frame(touch(rnd.nextInt(3))), Seq("k"))
        }
        assert(t.read().columns.toSeq == columns,
          s"trial $trial step $step: schema drift")
        val got = t.read().collect().map { r =>
          r.getLong(r.fieldIndex("k")) -> columns.drop(1).map(c =>
            c -> (if (r.isNullAt(r.fieldIndex(c))) null
                  else Double.box(r.getDouble(r.fieldIndex(c))))).toMap
        }.toMap
        assert(got.keySet == model.keySet.toSet,
          s"trial $trial step $step: key drift")
        got.foreach { case (k, m) =>
          columns.drop(1).foreach { c =>
            val expected = model(k).get(c).map(Double.box).orNull
            assert(m(c) == expected,
              s"trial $trial step $step: key $k col $c: got ${m(c)}, " +
                s"expected $expected")
          }
        }
      }
      assert(clones == 0 || t.read().columns.toSeq == columns)
    }
  }
}
