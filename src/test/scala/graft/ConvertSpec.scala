package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** CONVERT TO GRAFT (Delta `CONVERT TO DELTA` analog): in-place
  * conversion of an existing plain-parquet directory — version 0
  * references the files where they are (zero rewrite, O(files) footer
  * reads), Hive-layout partition columns synthesize from the manifest. */
class ConvertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  test("unpartitioned parquet dir converts in place: files referenced, stats captured") {
    import spark.implicits._
    val dir = tmp("cv_flat")
    (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val originals = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map("file:" + _.getPath).toSet
    val t = new SnapshotTable(spark, dir).convertInPlace()
    // the manifest references the ORIGINAL files — nothing rewritten
    assert(t.files.map(_.path).toSet == originals)
    assert(t.read().count() == 100)
    assert(t.countFromManifest == 100)
    // footer stats make skipping work immediately
    assert(t.statsMinMax("k").contains((1.0, 100.0)))
    assert(t.planFiles(col("k") === 1L).size < t.files.size)
    // the converted table is a full citizen: DML + time travel
    t.append(Seq((101L, 202.0)).toDF("k", "v"))
    assert(t.read().count() == 101)
    assert(t.read(0).count() == 100)
    assertThrows[IllegalArgumentException](
      new SnapshotTable(spark, dir).convertInPlace()) // already converted
  }

  test("Hive-layout dir converts with a synthesized partition column") {
    import spark.implicits._
    val dir = tmp("cv_hive")
    // standard Spark partitioned write: files do NOT contain `status`
    Seq((1L, "O", 10.0), (2L, "F", 20.0), (3L, "O", 30.0), (4L, "P", 40.0))
      .toDF("k", "status", "v")
      .write.partitionBy("status").mode("overwrite").parquet(dir)
    val t = new SnapshotTable(spark, dir).convertInPlace(
      Some(org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType)))
    // the synthesized column reads back with per-file values
    val got = t.read().orderBy("k")
      .select("k", "status", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "O", 10.0), (2L, "F", 20.0), (3L, "O", 30.0),
      (4L, "P", 40.0)))
    // manifest partition pruning works (identity layout recorded)
    val pruned = t.planFiles(col("status") === "O")
    assert(pruned.nonEmpty && pruned.forall(_.partValue == "O"))
    assert(t.read().filter(col("status") === "O").count() == 2)
    // partition filters prune metadata-only on the SQL path too
    assert(t.read().filter(col("status") === "F").count() == 1)
    // engine writes after conversion carry the column natively and
    // coexist with synthesized files
    t.append(Seq((5L, "O", 50.0)).toDF("k", "status", "v"), Some("status"))
    assert(t.read().filter(col("status") === "O").count() == 3)
    // compaction folds everything into native files, content unchanged
    t.compact(1, Some("status"))
    assert(t.read().orderBy("k").select("status").as[String].collect()
      .toSeq == Seq("O", "F", "O", "P", "O"))
  }

  test("typed partition values cast through the synthesized column") {
    import spark.implicits._
    val dir = tmp("cv_int")
    Seq((1L, 2021, 1.0), (2L, 2022, 2.0), (3L, 2021, 3.0))
      .toDF("k", "year", "v")
      .write.partitionBy("year").mode("overwrite").parquet(dir)
    val t = new SnapshotTable(spark, dir).convertInPlace(
      Some(org.apache.spark.sql.types.StructField("year",
        org.apache.spark.sql.types.IntegerType)))
    assert(t.read().schema("year").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(t.read().filter(col("year") === 2021).count() == 2)
    assert(t.read().groupBy("year").count().count() == 2)
  }

  test("escaped partition-path values round-trip through the synthesized column") {
    import spark.implicits._
    val dir = tmp("cv_esc")
    // values Spark escapes in directory names (colon, space) plus a
    // null partition (the Hive default-partition sentinel)
    Seq((1L, "a:b"), (2L, "c d"), (3L, null.asInstanceOf[String]))
      .toDF("k", "tag")
      .write.partitionBy("tag").mode("overwrite").parquet(dir)
    val t = new SnapshotTable(spark, dir).convertInPlace(
      Some(org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    val got = t.read().orderBy("k").select("tag").collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(got == Seq("a:b", "c d", null))
    assert(t.read().filter(col("tag") === "a:b").count() == 1)
    assert(t.read().filter(col("tag").isNull).count() == 1)
  }

  test("evolved (heterogeneous-schema) dir converts with the merged schema, per-generation origins") {
    import spark.implicits._
    val dir = tmp("cv_evolved")
    // two schema generations in one raw directory — the common shape
    // CONVERT targets (columns added over the directory's lifetime)
    (1L to 4L).map(k => (k, k * 1.0)).toDF("k", "v")
      .repartition(2).write.mode("append").parquet(dir)
    (5L to 6L).map(k => (k, k * 1.0, s"t$k")).toDF("k", "v", "tag")
      .repartition(1).write.mode("append").parquet(dir)
    // count tasks: footer collection must run as a DISTRIBUTED job
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t =
      try {
        val t0 = new SnapshotTable(spark, dir).convertInPlace()
        // listener events are posted asynchronously — give the bus a beat
        val deadline = System.currentTimeMillis() + 10000
        while (tasks.get() < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        t0
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(tasks.get() > 1, s"expected a distributed footer job, saw ${tasks.get()} tasks")
    // merged schema: union over both generations, evolution order
    assert(t.read().columns.toSeq == Seq("k", "v", "tag"))
    // older-generation rows null-fill the added column; newer keep values
    val got = t.read().orderBy("k").select("k", "tag").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(got.toSeq == Seq((1L, null), (2L, null), (3L, null), (4L, null),
      (5L, "t5"), (6L, "t6")))
    // distinct origins per schema generation (union machinery probes one
    // footer per origin — a single origin would silently drop `tag`)
    assert(t.files.map(_.origin).distinct.size == 2)
    // per-generation REORG detection: dropping `tag` marks ONLY the
    // generation that physically carries it
    val carriers = t.files.count(_.origin == 0L)
    t.dropColumn("tag")
    assert(t.optimize(purge = true, minBytes = 1L << 30) == carriers)
    assert(t.read().orderBy("k").select("k").as[Long].collect().toSeq ==
      (1L to 6L))
  }

  test("SQL CONVERT TO GRAFT verb with path addressing") {
    import spark.implicits._
    val dir = tmp("cv_sql")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .write.mode("overwrite").parquet(dir)
    val s = spark
    val res = s.sql(s"CONVERT TO GRAFT parquet.`$dir`").collect()
    assert(res.head.getLong(1) >= 1 && res.head.getLong(2) == 2)
    // the converted table answers path-addressed reads + verbs
    assert(s.sql(s"SELECT count(*) FROM graft.`$dir`").head.getLong(0) == 2)
    assert(s.sql(s"DESCRIBE HISTORY graft.`$dir`").count() == 1)
    // partitioned spelling
    val dir2 = tmp("cv_sql_p")
    Seq((1L, "O"), (2L, "F")).toDF("k", "st")
      .write.partitionBy("st").mode("overwrite").parquet(dir2)
    s.sql(s"CONVERT TO GRAFT parquet.`$dir2` PARTITIONED BY (st STRING)")
    assert(s.sql(s"SELECT k FROM graft.`$dir2` WHERE st = 'O'")
      .head.getLong(0) == 1)
    // parenthesized types parse (DECIMAL(10,2) has parens of its own)
    val dirD = tmp("cv_sql_dec")
    Seq((1L, BigDecimal("1.50")), (2L, BigDecimal("2.25")))
      .toDF("k", "amt")
      .withColumn("amt", col("amt").cast("decimal(10,2)"))
      .write.partitionBy("amt").mode("overwrite").parquet(dirD)
    s.sql(s"CONVERT TO GRAFT parquet.`$dirD` PARTITIONED BY (amt DECIMAL(10,2))")
    assert(s.sql(s"SELECT k FROM graft.`$dirD` WHERE amt = 1.50")
      .head.getLong(0) == 1)
    // a Hive-layout dir WITHOUT the partition clause refuses loudly:
    // silently reading it flat would drop the partition column
    val dir3 = tmp("cv_sql_refuse")
    Seq((1L, "O")).toDF("k", "st")
      .write.partitionBy("st").mode("overwrite").parquet(dir3)
    val e = intercept[Exception](s.sql(s"CONVERT TO GRAFT parquet.`$dir3`"))
    assert(e.getMessage.contains("PARTITIONED BY") ||
      e.getMessage.contains("partition"), e.getMessage)
  }
}
