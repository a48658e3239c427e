package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** ALTER COLUMN … TYPE as metadata-only lossless widening (Delta
  * type-widening analog): the manifest's versioned `widened` overlay
  * re-declares the type; old files keep their narrow physical type and
  * the parquet reader up-converts per file — zero data rewritten,
  * time-travel correct. */
class TypeWideningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("int→long widening is metadata-only; both file generations read wide") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("tw_int"))
      .create(Seq((1, 10.0f), (2, 20.0f)).toDF("n", "f"))
    val before = t.files.map(_.path).toSet
    t.widenColumn("n", LongType)
    assert(t.files.map(_.path).toSet == before, "widening must rewrite nothing")
    assert(t.read().schema("n").dataType == LongType)
    // appends after the widen store values above the int range
    t.append(Seq((3_000_000_000L, 30.0f)).toDF("n", "f"))
    assert(t.read().orderBy("n").select("n").as[Long].collect().toSeq ==
      Seq(1L, 2L, 3_000_000_000L))
    // time travel below the commit sees the narrow type
    assert(t.read(0).schema("n").dataType == IntegerType)
    // float→double too, and the combination reads consistently
    t.widenColumn("f", DoubleType)
    assert(t.read().schema("f").dataType == DoubleType)
    assert(t.read().orderBy("n").select("f").as[Double].collect().toSeq ==
      Seq(10.0, 20.0, 30.0))
  }

  test("decimal precision growth widens; lossy changes are refused") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("tw_dec"))
      .create(Seq((1, BigDecimal("1.50")), (2, BigDecimal("2.25")))
        .toDF("k", "amt")
        .withColumn("amt", col("amt").cast("decimal(5,2)")))
    t.widenColumn("amt", DecimalType(12, 2))
    assert(t.read().schema("amt").dataType == DecimalType(12, 2))
    assert(t.read().orderBy("k").select("amt").collect()
      .map(_.getDecimal(0).toPlainString).toSeq == Seq("1.50", "2.25"))
    // refusals: narrowing, integer-digit loss, non-numeric targets
    intercept[IllegalArgumentException](t.widenColumn("amt", DecimalType(5, 3)))
    intercept[IllegalArgumentException](t.widenColumn("k", ShortType))
    intercept[IllegalArgumentException](t.widenColumn("k", StringType))
    // no-op widen to the same type commits nothing
    val v = t.currentVersion
    t.widenColumn("amt", DecimalType(12, 2))
    assert(t.currentVersion == v)
  }

  test("widening composes with MERGE, stats pruning and column mapping") {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp("tw_dml"))
      .create(Seq((1, 10.0), (2, 20.0)).toDF("n", "v"))
    t.widenColumn("n", LongType)
    // CoW MERGE against the widened table: keys arrive as longs
    t.merge(Seq((2L, 99.0), (5_000_000_000L, 50.0)).toDF("n", "v"), Seq("n"))
    assert(t.read().orderBy("n").select("v").as[Double].collect().toSeq ==
      Seq(10.0, 99.0, 50.0))
    // manifest stats still prune (stored as doubles — type-agnostic)
    assert(t.planFiles(col("n").between(1, 2)).size < t.files.size)
    // rename after widen: the overlay keys on the stable physical name
    t.renameColumn("n", "id")
    assert(t.read().schema("id").dataType == LongType)
    assert(t.read().orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(1L, 2L, 5_000_000_000L))
  }

  test("random widen/rename/append/merge interleavings match a logical model") {
    val rnd = new scala.util.Random(7741)
    for (trial <- 1 to 3) {
      // model: key -> (a, b) as longs; types tracks each column's
      // current declared width; names tracks renames
      var types = Map("a" -> "int", "b" -> "int")
      var names = Map("a" -> "a", "b" -> "b")
      val model = scala.collection.mutable.Map[Long, (Long, Long)]()
      (0L until 15L).foreach(k => model(k) = (k, k * 2))
      def frame(rows: Seq[(Long, (Long, Long))]) = {
        import org.apache.spark.sql.Row
        val data = rows.map { case (k, (a, b)) => Row(
          k,
          if (types("a") == "int") Int.box(a.toInt) else Long.box(a),
          if (types("b") == "int") Int.box(b.toInt) else Long.box(b)) }
        spark.createDataFrame(
          spark.sparkContext.parallelize(data.toList, 2),
          StructType(Seq(
            StructField("k", LongType, nullable = false),
            StructField(names("a"),
              if (types("a") == "int") IntegerType else LongType),
            StructField(names("b"),
              if (types("b") == "int") IntegerType else LongType))))
      }
      val t = new SnapshotTable(spark, tmp(s"twprop$trial"))
        .create(frame(model.toSeq.sortBy(_._1)))
      val schemaAt = scala.collection.mutable.Map(
        0 -> (names, types))
      for (step <- 1 to 8 + rnd.nextInt(4)) {
        rnd.nextInt(4) match {
          case 0 => // WIDEN a random still-narrow column
            val narrow = Seq("a", "b").filter(types(_) == "int")
            if (narrow.nonEmpty) {
              val c = narrow(rnd.nextInt(narrow.size))
              t.widenColumn(names(c), LongType)
              types += c -> "long"
            }
          case 1 => // RENAME a column (mapping composes with widening)
            val c = if (rnd.nextBoolean()) "a" else "b"
            val nw = s"w${trial}_$step"
            t.renameColumn(names(c), nw)
            names += c -> nw
          case 2 => // APPEND fresh keys; wide values once widened
            val maxK = model.keys.max
            val rows = (maxK + 1 to maxK + 1 + rnd.nextInt(3)).map { k =>
              def v(c: String) = if (types(c) == "long")
                3_000_000_000L + k else k
              model(k) = (v("a"), v("b")); (k, model(k))
            }
            t.append(frame(rows))
          case _ => // MERGE: update a subset
            val upd = rnd.shuffle(model.keys.toList).take(1 + rnd.nextInt(4))
              .map { k =>
                def v(c: String) = if (types(c) == "long")
                  4_000_000_000L + k else k + 100
                model(k) = (v("a"), v("b")); (k, model(k))
              }
            t.merge(frame(upd), Seq("k"))
        }
        schemaAt(t.currentVersion) = (names, types)
        // full read-back equality vs the model after EVERY step
        val df = t.read()
        assert(df.columns.toSeq == Seq("k", names("a"), names("b")),
          s"trial $trial step $step: schema drift")
        def asLong(r: org.apache.spark.sql.Row, i: Int): Long =
          r.get(i) match { case x: java.lang.Integer => x.longValue
                           case x: java.lang.Long => x }
        val got = df.collect()
          .map(r => r.getLong(0) -> (asLong(r, 1), asLong(r, 2))).toMap
        assert(got == model.toMap,
          s"trial $trial step $step: content drift")
        Seq("a", "b").foreach { c =>
          val expected = if (types(c) == "int") IntegerType else LongType
          assert(df.schema(names(c)).dataType == expected,
            s"trial $trial step $step: $c type drift")
        }
      }
      // time travel reads each version's own names AND widths
      schemaAt.foreach { case (v, (nm, ty)) =>
        val sch = t.read(v).schema
        assert(sch.fieldNames.toSeq == Seq("k", nm("a"), nm("b")),
          s"trial $trial v$v names")
        Seq("a", "b").foreach(c => assert(sch(nm(c)).dataType ==
          (if (ty(c) == "int") IntegerType else LongType),
          s"trial $trial v$v $c width"))
      }
    }
  }

  test("SQL ALTER COLUMN TYPE through the catalog") {
    val cat = tmp("tw_cat")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.twcat", "graft.sources.GraftSqlCatalog")
    s.conf.set("spark.sql.catalog.twcat.root", cat)
    s.sql("CREATE NAMESPACE twcat.ns")
    s.sql("CREATE TABLE twcat.ns.t (n INT, v DOUBLE)")
    s.sql("INSERT INTO twcat.ns.t VALUES (1, 1.0), (2, 2.0)")
    s.sql("ALTER TABLE twcat.ns.t ALTER COLUMN n TYPE BIGINT")
    s.sql("INSERT INTO twcat.ns.t VALUES (3000000000, 3.0)")
    assert(s.table("twcat.ns.t").schema("n").dataType == LongType)
    assert(s.sql("SELECT sum(n) FROM twcat.ns.t").head.getLong(0) ==
      3000000003L)
    // predicate over both generations (pushdown must not mis-type)
    assert(s.sql("SELECT count(*) FROM twcat.ns.t WHERE n > 2")
      .head.getLong(0) == 1)
    // lossy request refused loudly
    intercept[Exception](
      s.sql("ALTER TABLE twcat.ns.t ALTER COLUMN n TYPE INT"))
  }
}
