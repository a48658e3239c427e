package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** Cross-product sweep of the round-16/17 surfaces — row tracking ×
  * type widening × deletion-vector DELETE/UPDATE × identity columns ×
  * OPTIMIZE/REORG — against a map-model reference, with row-id
  * stability asserted after every step (the PropertySpec pattern).
  * Targets the corners the features could interact in: a widened read
  * over files carrying a materialized rid column, REORG folding DV
  * marks on widened+tracked files, identity allocation across clones
  * and concurrent inserts. */
class FeatureSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  private def session(cat: String, root: String) = {
    val s = spark.newSession()
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftSqlCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    graft.plans.GraftRowLevelOps.register(s)
    s
  }

  test("widen → materialize → DV delete → REORG keeps content, ids, and identity invariants") {
    val cat = tmp("fsw_fixed")
    val s = session("fswf", cat)
    s.sql("CREATE NAMESPACE fswf.ns")
    s.sql("CREATE TABLE fswf.ns.t (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "k BIGINT, v INT) TBLPROPERTIES (" +
      "'graft.enableRowTracking' = 'true', " +
      "'graft.enableDeletionVectors' = 'true')")
    s.sql("INSERT INTO fswf.ns.t (k, v) SELECT id, CAST(id % 100 AS INT) " +
      "FROM range(500)")
    val t = new SnapshotTable(s, s"$cat/ns/t")
    def rids(): Map[Long, Long] = t.readWithRowIds()
      .select(col("k"), col(SnapshotTable.RidCol))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rid0 = rids()
    // OPTIMIZE materializes the rid column into the rewritten files
    t.compact(1)
    assert(rids() == rid0, "OPTIMIZE renumbered")
    // widen INT → BIGINT on files that now CARRY a materialized rid:
    // the widened scan must keep serving both the data and the ids
    s.sql("ALTER TABLE fswf.ns.t ALTER COLUMN v TYPE BIGINT")
    assert(s.table("fswf.ns.t").schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(rids() == rid0, "type widening must be metadata-only")
    assert(s.sql("SELECT sum(v) FROM fswf.ns.t").head.getLong(0) ==
      (0L until 500L).map(_ % 100).sum)
    // DV delete over the widened+materialized files
    s.sql("DELETE FROM fswf.ns.t WHERE k % 5 = 0")
    val afterDel = rids()
    assert(afterDel == rid0.filter { case (k, _) => k % 5 != 0 })
    // DV update over the same shape: updated rows keep their ids
    s.sql("UPDATE fswf.ns.t SET v = v + 1000000 WHERE k % 7 = 0")
    assert(rids() == afterDel, "DV UPDATE renumbered")
    // REORG PURGE folds the marks; widened type and ids both survive
    assert(t.optimize(purge = true, minBytes = 1L << 30) > 0)
    assert(rids() == afterDel, "REORG PURGE renumbered")
    val expect = (0L until 500L).filter(_ % 5 != 0)
      .map(k => (k % 100) + (if (k % 7 == 0) 1000000L else 0L)).sum
    assert(s.sql("SELECT sum(v) FROM fswf.ns.t").head.getLong(0) == expect)
    // identity stays unique through everything
    val ids = s.sql("SELECT id FROM fswf.ns.t").collect().map(_.getLong(0))
    assert(ids.length == 400 && ids.distinct.length == 400)
    // and a fresh insert allocates above the committed mark
    s.sql("INSERT INTO fswf.ns.t (k, v) VALUES (9999, 0)")
    val ids2 = s.sql("SELECT id FROM fswf.ns.t").collect().map(_.getLong(0))
    assert(ids2.distinct.length == 401 && ids2.max > ids.max)
  }

  test("random op interleavings match a map model; survivors never renumber") {
    val rnd = new Random(173)
    for (trial <- 1 to 2) {
      val cat = tmp(s"fsw_rnd$trial")
      val s = session(s"fswr$trial", cat)
      s.sql(s"CREATE NAMESPACE fswr$trial.ns")
      s.sql(s"CREATE TABLE fswr$trial.ns.t (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY, k BIGINT, v INT) TBLPROPERTIES (" +
        "'graft.enableRowTracking' = 'true', " +
        "'graft.enableDeletionVectors' = 'true')")
      val t = new SnapshotTable(s, s"$cat/ns/t")
      val model = scala.collection.mutable.Map[Long, Long]() // k -> v
      var nextK = 0L
      var widened = false
      def insert(n: Int): Unit = {
        val ks = (nextK until nextK + n)
        nextK += n
        ks.foreach(k => model(k) = k % 50)
        s.sql(s"INSERT INTO fswr$trial.ns.t (k, v) " +
          s"SELECT id + ${ks.head}, CAST((id + ${ks.head}) % 50 AS INT) " +
          s"FROM range($n)")
      }
      insert(100)
      def rids(): Map[Long, Long] = t.readWithRowIds()
        .select(col("k"), col(SnapshotTable.RidCol))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var lastRids = rids()
      for (round <- 1 to 6) {
        val preKeys = model.keySet.toSet
        rnd.nextInt(7) match {
          case 0 => insert(10 + rnd.nextInt(40))
          case 1 => // DV delete
            val m = 3 + rnd.nextInt(5); val r = rnd.nextInt(m)
            model.keySet.filter(_ % m == r).toSeq.foreach(model.remove)
            s.sql(s"DELETE FROM fswr$trial.ns.t WHERE k % $m = $r")
          case 2 => // DV update
            val m = 3 + rnd.nextInt(5); val r = rnd.nextInt(m)
            model.keys.filter(_ % m == r)
              .foreach(k => model(k) = model(k) + 7)
            s.sql(s"UPDATE fswr$trial.ns.t SET v = v + 7 WHERE k % $m = $r")
          case 3 => t.compact(1 + rnd.nextInt(2)): Unit
          case 4 => if (t.dvFiles.nonEmpty) t.optimize(purge = true, minBytes = 1L << 30): Unit
          case 5 =>
            if (!widened) {
              s.sql(s"ALTER TABLE fswr$trial.ns.t ALTER COLUMN v TYPE BIGINT")
              widened = true
            }
          case 6 => // positional MERGE (MERGE_DV): update ∪ insert source
            val m = 4 + rnd.nextInt(4); val r = rnd.nextInt(m)
            val insN = 5 + rnd.nextInt(10)
            val insStart = nextK
            nextK += insN
            model.keys.filter(_ % m == r).toSeq
              .foreach(k => model(k) = model(k) + 100)
            (insStart until insStart + insN).foreach(k => model(k) = k % 50)
            s.sql(s"""MERGE INTO fswr$trial.ns.t t USING (
                       SELECT k, CAST(v + 100 AS BIGINT) AS v
                       FROM fswr$trial.ns.t WHERE k % $m = $r
                       UNION ALL
                       SELECT id + $insStart AS k,
                              CAST((id + $insStart) % 50 AS BIGINT) AS v
                       FROM range($insN)
                     ) src ON t.k = src.k
                     WHEN MATCHED THEN UPDATE SET t.v = src.v
                     WHEN NOT MATCHED THEN INSERT (k, v) VALUES
                       (src.k, CAST(src.v AS INT))""")
        }
        // content matches the model exactly
        val got = s.sql(
          s"SELECT k, CAST(v AS BIGINT) AS v FROM fswr$trial.ns.t").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model.toMap, s"trial $trial round $round content")
        // no surviving pre-existing row ever renumbers, whatever ran
        val now = rids()
        val survivors = preKeys.intersect(model.keySet.toSet)
        assert(survivors.forall(k => now(k) == lastRids(k)),
          s"trial $trial round $round renumbered a survivor")
        assert(now.values.toSet.size == now.size,
          s"trial $trial round $round duplicate row ids")
        lastRids = now
        // identity column stays unique
        val ids = s.sql(s"SELECT id FROM fswr$trial.ns.t").collect()
          .map(_.getLong(0))
        assert(ids.distinct.length == ids.length,
          s"trial $trial round $round duplicate identity values")
      }
    }
  }

  test("clone of an identity table: concurrent inserts never collide, marks carried") {
    val cat = tmp("fsw_clone")
    val s = session("fswc", cat)
    s.sql("CREATE NAMESPACE fswc.ns")
    s.sql("CREATE TABLE fswc.ns.t (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "v DOUBLE)")
    s.sql("INSERT INTO fswc.ns.t (v) SELECT CAST(id AS DOUBLE) FROM range(200)")
    s.sql("CREATE TABLE fswc.ns.c SHALLOW CLONE fswc.ns.t")
    // the clone carries the source's committed identity mark — a fresh
    // process (simulated: drop in-process counters) must still allocate
    // above every carried id
    new SnapshotTable(s, s"$cat/ns/c").invalidateCaches()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val work = for (tbl <- Seq("t", "c"); batch <- 1 to 3) yield Future {
      var done = false
      var tries = 0
      while (!done && tries < 20) {
        tries += 1
        try {
          s.sql(s"INSERT INTO fswc.ns.$tbl (v) SELECT CAST(id AS DOUBLE) " +
            s"+ $batch FROM range(30)")
          done = true
        } catch { case _: Exception => Thread.sleep(50) }
      }
      done
    }
    assert(Await.result(Future.sequence(work), 10.minutes).forall(identity))
    for (tbl <- Seq("t", "c")) {
      val ids = s.sql(s"SELECT id FROM fswc.ns.$tbl").collect().map(_.getLong(0))
      assert(ids.length == 290, s"$tbl expected 290 rows, got ${ids.length}")
      assert(ids.distinct.length == 290, s"$tbl has duplicate identity values")
    }
  }
}
