package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** Property-style invariants (seeded random trials — SURVEY.md §5):
  * MERGE count algebra under random key overlap, merge idempotence,
  * compaction content-invariance, and connected-components equivalence
  * to a single-machine BFS reference on random graphs. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("merge: |target'| = |target| + inserts for random overlaps") {
    import spark.implicits._
    val rnd = new Random(7)
    for (trial <- 1 to 5) {
      val nBase = 20 + rnd.nextInt(80)
      val base = (0 until nBase).map(k =>
        (k.toLong, s"p${k % 3}", rnd.nextDouble())).toDF("k", "p", "v")
      // source: random mix of updates (existing keys) and inserts (new)
      val nUpd = rnd.nextInt(nBase)
      val nIns = 1 + rnd.nextInt(30)
      val upd = rnd.shuffle((0 until nBase).toList).take(nUpd)
        .map(k => (k.toLong, s"p${k % 3}", 999.0))
      val ins = (0 until nIns)
        .map(i => ((nBase + i).toLong, s"p${(nBase + i) % 3}", -1.0))
      val src = (upd ++ ins).toDF("k", "p", "v")
      val t = new SnapshotTable(spark, tmp(s"prop$trial"))
        .create(base, Some("p"))
        .merge(src, Seq("k", "p"), Some("p"))
      assert(t.read().count() == nBase + nIns,
        s"trial $trial: nBase=$nBase nUpd=$nUpd nIns=$nIns")
      // every updated key now carries the source value
      val updated = t.read().filter(col("v") === 999.0).count()
      assert(updated == nUpd.toLong)
    }
  }

  test("random deferred upsert/delete interleavings match a map-model reference") {
    import spark.implicits._
    val rnd = new Random(41)
    for (trial <- 1 to 3) {
      val model = scala.collection.mutable.Map[(Long, String), Double]()
      val base = (0 until 30).map { k =>
        val row = (k.toLong, s"p${k % 3}", rnd.nextDouble())
        model((row._1, row._2)) = row._3
        row
      }
      var t = new SnapshotTable(spark, tmp(s"mdd$trial"))
        .create(base.toDF("k", "p", "v"), Some("p"))
      for (round <- 1 to 4 + rnd.nextInt(3)) {
        if (rnd.nextBoolean()) {
          // upsert a random batch (some existing, some fresh keys)
          val rows = (0 until 1 + rnd.nextInt(10)).map { _ =>
            val k = rnd.nextInt(45).toLong
            (k, s"p${k % 3}", round * 1000.0 + k)
          }.distinct
          rows.foreach(r => model((r._1, r._2)) = r._3)
          t = t.merge(rows.toDF("k", "p", "v"), Seq("k", "p"), Some("p"), deferred = true)
        } else {
          // delete a random key batch (hits and misses both legal)
          val keys = (0 until 1 + rnd.nextInt(8)).map { _ =>
            val k = rnd.nextInt(45).toLong
            (k, s"p${k % 3}")
          }.distinct
          keys.foreach(model.remove)
          t = t.merge(keys.toDF("k", "p"), Seq("k", "p"), Some("p"),
            deleteMatched = true, deferred = true)
        }
        val got = t.read().select("k", "p", "v").collect()
          .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
        assert(got == model.toMap, s"trial $trial round $round")
      }
      // compaction must preserve the resolved state exactly
      t.compact(2, Some("p"))
      val afterCompact = t.read().select("k", "p", "v").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert(afterCompact == model.toMap, s"trial $trial post-compact")
    }
  }

  test("merge is idempotent: re-merging the same source changes nothing") {
    import spark.implicits._
    val rnd = new Random(11)
    val base = (0 until 50).map(k =>
      (k.toLong, s"p${k % 2}", rnd.nextDouble())).toDF("k", "p", "v")
    val src = (40 until 70).map(k =>
      (k.toLong, s"p${k % 2}", 5.0)).toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp("idem"))
      .create(base, Some("p"))
      .merge(src, Seq("k", "p"), Some("p"))
    val once = t.read().orderBy("k", "p").collect().toSeq
    t.merge(src, Seq("k", "p"), Some("p"))
    val twice = t.read().orderBy("k", "p").collect().toSeq
    assert(once == twice)
  }

  test("compaction preserves exact content for random file layouts") {
    import spark.implicits._
    val rnd = new Random(13)
    val df = (0 until 500).map(k =>
      (k.toLong, rnd.nextInt(1000).toLong)).toDF("k", "v")
      .repartition(1 + rnd.nextInt(16))
    val t = new SnapshotTable(spark, tmp("cprop")).create(df)
    val before = t.read().orderBy("k").collect().toSeq
    val c = t.compact(2)
    assert(c.files.size == 2)
    assert(c.read().orderBy("k").collect().toSeq == before)
  }

  test("MoR: N deferred merges resolve exactly like N sequential CoW merges") {
    import spark.implicits._
    val rnd = new Random(19)
    for (trial <- 1 to 3) {
      val base = (0 until 60).map(k =>
        (k.toLong, s"p${k % 3}", rnd.nextDouble())).toDF("k", "p", "v")
      val sources = (1 to 3).map { gen =>
        val nUpd = rnd.nextInt(40)
        val upd = rnd.shuffle((0 until 60).toList).take(nUpd)
          .map(k => (k.toLong, s"p${k % 3}", gen * 100.0))
        val ins = (0 until 1 + rnd.nextInt(10))
          .map(i => ((100 * gen + i).toLong, s"p${(100 * gen + i) % 3}", gen * 100.0 + 1))
        (upd ++ ins).toDF("k", "p", "v")
      }
      val cow = new SnapshotTable(spark, tmp(s"morp_cow$trial"))
        .create(base, Some("p"))
      val mor = new SnapshotTable(spark, tmp(s"morp_mor$trial"))
        .create(base, Some("p"))
      sources.foreach { src =>
        cow.merge(src, Seq("k", "p"), Some("p"))
        mor.merge(src, Seq("k", "p"), Some("p"), deferred = true)
      }
      val a = cow.read().orderBy("k", "p").collect().toSeq
      val b = mor.read().orderBy("k", "p").collect().toSeq
      assert(a == b, s"trial $trial")
      // and compaction folds the deltas without changing content
      mor.compact(2, Some("p"))
      assert(mor.read().orderBy("k", "p").collect().toSeq == a, s"trial $trial post-compact")
    }
  }

  test("restore after random DML always reproduces the target version exactly") {
    import spark.implicits._
    val rnd = new Random(23)
    for (trial <- 1 to 3) {
      val base = (0 until 40).map(k =>
        (k.toLong, s"p${k % 2}", rnd.nextDouble())).toDF("k", "p", "v")
      val t = new SnapshotTable(spark, tmp(s"rstp$trial"))
        .create(base, Some("p"))
      val v0 = t.read().orderBy("k", "p").collect().toSeq
      // random DML chain: merges and deletes
      (1 to 2 + rnd.nextInt(2)).foreach { gen =>
        val src = rnd.shuffle((0 until 60).toList).take(5 + rnd.nextInt(10))
          .map(k => (k.toLong, s"p${k % 2}", gen * 10.0)).toDF("k", "p", "v")
        if (rnd.nextBoolean()) t.merge(src, Seq("k", "p"), Some("p"))
        else t.merge(src.select("k", "p"), Seq("k", "p"), Some("p"), deleteMatched = true)
      }
      t.restoreTo(0)
      assert(t.read().orderBy("k", "p").collect().toSeq == v0, s"trial $trial")
    }
  }

  test("rollbackTo after random DML equals the target version and accepts new commits") {
    import spark.implicits._
    val rnd = new Random(31)
    for (trial <- 1 to 3) {
      val base = (0 until 40).map(k =>
        (k.toLong, s"p${k % 2}", rnd.nextDouble())).toDF("k", "p", "v")
      val t = new SnapshotTable(spark, tmp(s"rbp$trial"))
        .create(base, Some("p"))
      // random DML chain, snapshotting the state at a random pin point
      val rounds = 2 + rnd.nextInt(3)
      val pinAt = rnd.nextInt(rounds)
      var pinned: Seq[org.apache.spark.sql.Row] = null
      var pinnedVersion = 0
      (1 to rounds).foreach { gen =>
        val src = rnd.shuffle((0 until 60).toList).take(5 + rnd.nextInt(10))
          .map(k => (k.toLong, s"p${k % 2}", gen * 10.0)).toDF("k", "p", "v")
        if (rnd.nextBoolean()) t.merge(src, Seq("k", "p"), Some("p"))
        else t.append(src, Some("p"))
        if (gen - 1 == pinAt) {
          pinned = t.read().orderBy("k", "p", "v").collect().toSeq
          pinnedVersion = t.currentVersion
        }
      }
      // rollback DISCARDS everything above the pin (unlike restore,
      // which commits a new version re-pointing at old state)
      val dropped = t.rollbackTo(pinnedVersion)
      assert(dropped == rounds - 1 - pinAt, s"trial $trial")
      assert(t.currentVersion == pinnedVersion, s"trial $trial")
      assert(t.read().orderBy("k", "p", "v").collect().toSeq == pinned,
        s"trial $trial content")
      // the truncated log accepts new commits and stays consistent
      val more = (100 until 105).map(k =>
        (k.toLong, s"p${k % 2}", -1.0)).toDF("k", "p", "v")
      t.append(more, Some("p"))
      assert(t.read().count() == pinned.size + 5, s"trial $trial post-append")
    }
  }

  test("CDC rows replay a merge: base + changes == merged state") {
    import spark.implicits._
    val rnd = new Random(29)
    for (trial <- 1 to 3) {
      val base = (0 until 50).map(k =>
        (k.toLong, s"p${k % 3}", rnd.nextDouble())).toDF("k", "p", "v")
      val src = (rnd.shuffle((0 until 50).toList).take(rnd.nextInt(30))
          .map(k => (k.toLong, s"p${k % 3}", 77.0)) ++
        (0 until 1 + rnd.nextInt(10)).map(i => ((100 + i).toLong, s"p${(100 + i) % 3}", 88.0)))
        .toDF("k", "p", "v")
      val t = new SnapshotTable(spark, tmp(s"cdcp$trial"))
        .create(base, Some("p"))
        .merge(src, Seq("k", "p"), Some("p"), trackChanges = true)
      // replay: base rows without a change key + change post-images
      // (preimages describe the replaced state — they are not applied)
      val ch = t.changes(1).filter(col("_change_type") =!= "update_preimage")
      val replay = base.join(ch.select("k", "p"), Seq("k", "p"), "left_anti")
        .unionByName(ch.drop("_change_type"))
        .orderBy("k", "p").collect().toSeq
      assert(replay == t.read().orderBy("k", "p").collect().toSeq, s"trial $trial")
    }
  }

  test("evolution-aware reads equal a plain filter for any layout mix") {
    import spark.implicits._
    val rnd = new Random(31)
    for (trial <- 1 to 3) {
      val base = (0 until 40).map(k =>
        (k.toLong, s"p${k % 2}", s"q${k % 3}", rnd.nextDouble()))
        .toDF("k", "p", "q", "v")
      val extra = (40 until 40 + 1 + rnd.nextInt(20)).map(k =>
        (k.toLong, s"p${k % 2}", s"q${k % 3}", rnd.nextDouble()))
        .toDF("k", "p", "q", "v")
      val t = new SnapshotTable(spark, tmp(s"pevop$trial"))
        .create(base, Some("p"))
        .append(extra, Some("q"))
      val want = base.unionByName(extra)
      for (c <- Seq("p", "q"); v <- Seq(s"${c}0", s"${c}1")) {
        val got = t.read().filter(col(c) === v).orderBy("k").collect().toSeq
        val exp = want.filter(col(c) === v).orderBy("k").collect().toSeq
        assert(got == exp, s"trial $trial $c=$v")
      }
    }
  }

  test("random DV-delete/merge/append/compact interleavings match a map model") {
    import spark.implicits._
    val rnd = new Random(29)
    for (trial <- 1 to 3) {
      // model: live rows keyed by k (p is always k % 3 → keys are unique)
      val model = scala.collection.mutable.Map[Long, Double]()
      val base = (0 until 40).map { k =>
        val v = rnd.nextDouble(); model(k.toLong) = v
        (k.toLong, s"p${k % 3}", v)
      }
      var nextK = 40L
      val tableRoot = tmp(s"dvprop$trial")
      val t = new SnapshotTable(spark, tableRoot)
        .create(base.toDF("k", "p", "v"), Some("p"))
      for (round <- 1 to 5 + rnd.nextInt(3)) {
        rnd.nextInt(4) match {
          case 0 => // positional delete of a random key range
            val lo = rnd.nextInt(60).toLong
            val hi = lo + rnd.nextInt(20)
            t.delete(col("k").between(lo, hi), positional = true)
            model --= model.keys.filter(k => k >= lo && k <= hi).toSeq
          case 1 => // CoW merge of a random update/insert mix
            val rows = (0 until 1 + rnd.nextInt(8)).map { _ =>
              val k = rnd.nextInt(70).toLong
              val v = rnd.nextDouble(); (k, s"p${k % 3}", v)
            }.distinctBy(_._1)
            t.merge(rows.toDF("k", "p", "v"), Seq("k", "p"), Some("p"))
            rows.foreach { case (k, _, v) => model(k) = v }
          case 2 => // append fresh keys only (k stays unique)
            val rows = (0 until 1 + rnd.nextInt(5)).map { _ =>
              val k = nextK; nextK += 1
              val v = rnd.nextDouble(); (k, s"p${k % 3}", v)
            }
            t.append(rows.toDF("k", "p", "v"), Some("p"))
            rows.foreach { case (k, _, v) => model(k) = v }
          case 3 => // compaction folds marks; content must be invariant
            t.compact(2, Some("p"))
        }
        assert(t.countFromManifest == model.size.toLong,
          s"trial $trial round $round: metadata count drifted from model")
      }
      val got = t.read().select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == model.toMap, s"trial $trial: content drifted from model")
      // cold log reconstruction: re-parse every commit record from disk
      // (a copied root has fresh manifest-cache keys) and require the
      // delta-chain replay to land on the same content — the writer's
      // in-memory state and the persisted incremental log must agree
      // after ANY random DML interleaving
      val coldRoot = Files.createTempDirectory(s"graft_dvprop_cold$trial").toString
      val src = java.nio.file.Paths.get(tableRoot)
      java.nio.file.Files.walk(src).forEach { p =>
        val to = java.nio.file.Paths.get(coldRoot, src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(to)
        else java.nio.file.Files.copy(p, to)
      }
      val cold = new SnapshotTable(spark, coldRoot)
      assert(cold.countFromManifest == model.size.toLong,
        s"trial $trial: cold-reconstructed metadata count drifted")
      val coldGot = cold.read().select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(coldGot == model.toMap,
        s"trial $trial: cold log reconstruction drifted from model")
    }
  }

  test("connected components match a BFS reference on random graphs") {
    import spark.implicits._
    val rnd = new Random(17)
    for (trial <- 1 to 3) {
      val n = 30
      val pairs = (0 until 25).map { _ =>
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(p => p._1 != p._2).distinct
      // single-machine reference: union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
        .map(id => id -> {
          // component min = min over members of the component
          val root = find(id.toInt)
          (0 until n).filter(m => find(m) == root).min.toLong
        }).toMap
      // distributed: the SAME hash-min loop the dedup_cluster_cc op runs
      // (shared helper — not a reimplementation that could drift)
      val cand = pairs.toDF("doc_a", "doc_b")
      val edges = cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .cache()
      val got = graft.operators.Dedup.hashMinComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      edges.unpersist()
      assert(got == expected, s"trial $trial")
    }
  }
}
