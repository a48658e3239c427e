package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Predicate DML (DELETE WHERE / UPDATE WHERE) and MERGE schema
  * evolution: value semantics are oracle-gated; this spec pins the parts
  * the oracle cannot see — stats-based file skipping (untouched files
  * carry over by reference), OLD-row evaluation of SET expressions, SQL
  * NULL-predicate semantics, and metadata-only schema widening. */
class DmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rangeTable(prefix: String): SnapshotTable = {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, i.toLong % 7, s"r$i"))
      .toDF("k", "g", "s")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    new SnapshotTable(spark, Scratch.dir(prefix)).create(df)
  }

  test("deleteWhere rewrites only stat-intersecting files; rest carry over") {
    val t = rangeTable("dml_del")
    val before = t.files.map(_.path).toSet
    assert(before.size == 4)
    t.delete(col("k").between(10, 30))
    val after = t.files
    // keys 10-30 span 2 of the 4 range files; the other 2 carry over
    val carried = after.map(_.path).toSet.intersect(before)
    assert(carried.size == 2, s"expected 2 carried files, got $carried")
    val rows = t.read().select("k").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == ((0L to 9L) ++ (31L to 99L)))
  }

  test("update rewrites only stat-intersecting files; rest carry over") {
    val t = rangeTable("dml_upd")
    val before = t.files.map(_.path).toSet
    t.update(col("k").between(10, 30), Map("s" -> lit("u")))
    val carried = t.files.map(_.path).toSet.intersect(before)
    assert(carried.size == 2, s"expected 2 carried files, got $carried")
    val rows = t.read().select("k", "s").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(rows == (0L until 100L).map(k =>
      k -> (if (k >= 10 && k <= 30) "u" else s"r$k")))
  }

  test("delete on a non-interval condition rewrites every file, exact rows") {
    val t = rangeTable("dml_mod_del")
    val before = t.files.map(_.path).toSet
    t.delete(col("k") % 5 === 0)
    assert(t.files.map(_.path).toSet.intersect(before).isEmpty)
    val rows = t.read().select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == (0L until 100L).filterNot(_ % 5 == 0))
  }

  test("update on a non-interval condition rewrites every file, exact rows") {
    val t = rangeTable("dml_mod_upd")
    val before = t.files.map(_.path).toSet
    t.update(col("k") % 5 === 0, Map("g" -> (col("g") + 100)))
    assert(t.files.map(_.path).toSet.intersect(before).isEmpty)
    val rows = t.read().select("k", "g").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(rows == (0L until 100L).map(k =>
      k -> (if (k % 5 == 0) k % 7 + 100 else k % 7)))
  }

  test("a decimal bound never skips files by the unscaled decimal stats") {
    // p = k + 0.25 as decimal(7,2): footer stats hold the unscaled
    // integers (25 … 3925), so a stats skip on `p < 15` would drop
    // every matching file
    val s = spark.newSession()
    import s.implicits._
    val cat = Scratch.dir("dml_dec_cat")
    s.conf.set("spark.sql.catalog.dmldec", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.dmldec.root", cat)
    s.sql("CREATE NAMESPACE dmldec.ns")
    val df = (0 until 40).map(i => (i.toLong, s"${i}.25")).toDF("k", "p")
      .select(col("k"), col("p").cast("decimal(7,2)").as("p"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    val expected = (15L until 40L).toSeq
    def keys(t: SnapshotTable) =
      t.read().select("k").collect().map(_.getLong(0)).sorted.toSeq
    val api = new SnapshotTable(s, s"$cat/ns/api").create(df)
    api.delete(col("p") < 15)
    assert(keys(api) == expected)
    val viaSql = new SnapshotTable(s, s"$cat/ns/t").create(df)
    s.sql("DELETE FROM dmldec.ns.t WHERE p < 15")
    assert(keys(viaSql) == expected)
  }

  test("deleteWhere keeps NULL-predicate rows (SQL three-valued logic)") {
    import spark.implicits._
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(5L), "c"))
      .toDF("k", "s")
    val t = new SnapshotTable(spark, Scratch.dir("dml_null")).create(df)
    t.delete(col("k").between(0, 10))
    assert(t.read().select("s").collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("updateWhere evaluates SET against the OLD row (a=b, b=a swaps)") {
    val t = rangeTable("dml_swap")
    t.update(col("k").between(10, 19), Map("k" -> col("g"), "g" -> col("k")))
    val got = t.read().filter(col("s") === "r12").select("k", "g").head
    // old row: k=12, g=12%7=5 → swapped: k=5, g=12
    assert(got.getLong(0) == 5L && got.getLong(1) == 12L)
    val untouched = t.read().filter(col("s") === "r40").select("k", "g").head
    assert(untouched.getLong(0) == 40L && untouched.getLong(1) == 40L % 7)
  }

  test("updateWhere refuses to assign the partition column") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "p")
    val t = new SnapshotTable(spark, Scratch.dir("dml_part"))
      .create(df, partitionBy = Some("p"))
    intercept[IllegalArgumentException] {
      t.update(col("k").between(0, 10), Map("p" -> lit("z")))
    }
  }

  test("evolveSchema merge widens touched partition only; rest null-fill") {
    import spark.implicits._
    val base = Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0))
      .toDF("k", "p", "v")
    val t = new SnapshotTable(spark, Scratch.dir("dml_evo"))
      .create(base, partitionBy = Some("p"))
    val v0Files = t.files.map(_.path).toSet
    val src = Seq((1L, "A", 11.0, "web")).toDF("k", "p", "v", "channel")
    t.merge(src, keys = Seq("k", "p"), partitionBy = Some("p"),
      evolveSchema = true)
    // partition B untouched: its file carries over by reference
    assert(t.files.map(_.path).toSet.intersect(v0Files).nonEmpty)
    val out = t.read().orderBy("k")
      .select("k", "v", "channel").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)))
    assert(out.map(r => Option(r.getString(2))).toSeq ==
      Seq(Some("web"), None, None))
  }
}
