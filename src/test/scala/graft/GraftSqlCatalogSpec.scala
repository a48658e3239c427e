package graft

import graft.sources.GraftSqlCatalog
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 catalog as SQL sees it: DDL (namespaces, CREATE/CTAS/DROP/
  * RENAME), DML (INSERT INTO / INSERT OVERWRITE → engine commits with
  * history), queries with pushdown, and native SQL time travel
  * (VERSION AS OF / TIMESTAMP AS OF) resolved through the manifest. */
class GraftSqlCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.gtest", classOf[GraftSqlCatalog].getName)
    s.conf.set("spark.sql.catalog.gtest.root",
      java.nio.file.Files.createTempDirectory("graft_cat").toString)
    s
  }

  private def sql(q: String) = spark.sql(q)

  test("DDL + INSERT + SELECT round trip, all through SQL") {
    sql("CREATE NAMESPACE gtest.sales")
    sql("CREATE TABLE gtest.sales.orders (k BIGINT, status STRING) PARTITIONED BY (status)")
    sql("INSERT INTO gtest.sales.orders VALUES (1, 'O'), (2, 'F'), (3, 'O')")
    sql("INSERT INTO gtest.sales.orders VALUES (4, 'F')")
    assert(sql("SELECT count(*) FROM gtest.sales.orders").head.getLong(0) == 4)
    assert(sql("SELECT k FROM gtest.sales.orders WHERE status = 'O' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(sql("SHOW TABLES IN gtest.sales").collect().map(_.getString(1)).toSet == Set("orders"))
    assert(sql("SHOW NAMESPACES IN gtest").collect().map(_.getString(0)).contains("sales"))
  }

  test("VERSION AS OF and TIMESTAMP AS OF resolve through the manifest") {
    sql("CREATE NAMESPACE gtest.tt")
    sql("CREATE TABLE gtest.tt.t (k BIGINT)")                    // v0
    sql("INSERT INTO gtest.tt.t VALUES (1), (2)")                // v1
    val tsAfterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    sql("INSERT OVERWRITE gtest.tt.t VALUES (9)")                // v2
    assert(sql("SELECT count(*) FROM gtest.tt.t").head.getLong(0) == 1)
    assert(sql("SELECT count(*) FROM gtest.tt.t VERSION AS OF 1").head.getLong(0) == 2)
    assert(sql("SELECT count(*) FROM gtest.tt.t VERSION AS OF 0").head.getLong(0) == 0)
    val ts = new java.sql.Timestamp(tsAfterV1).toString
    assert(sql(s"SELECT count(*) FROM gtest.tt.t TIMESTAMP AS OF '$ts'")
      .head.getLong(0) == 2)
    // writes against a pinned version must be rejected
    val e = intercept[Exception] {
      sql("INSERT INTO gtest.tt.t VERSION AS OF 1 VALUES (7)")
    }
    assert(e.getMessage != null)
  }

  test("CTAS, DROP, and ALTER TABLE RENAME") {
    sql("CREATE NAMESPACE gtest.ct")
    sql("CREATE TABLE gtest.ct.src AS SELECT id AS k, id % 3 AS m FROM range(30)")
    assert(sql("SELECT count(*) FROM gtest.ct.src").head.getLong(0) == 30)
    sql("ALTER TABLE gtest.ct.src RENAME TO gtest.ct.dst")
    assert(sql("SELECT sum(m) FROM gtest.ct.dst").head.getLong(0) == 30)
    assert(sql("SHOW TABLES IN gtest.ct").collect().map(_.getString(1)).toSet == Set("dst"))
    sql("DROP TABLE gtest.ct.dst")
    assert(sql("SHOW TABLES IN gtest.ct").count() == 0)
  }

  test("partition-equality SQL plans only that partition's files from the manifest") {
    sql("CREATE NAMESPACE gtest.prune")
    sql("CREATE TABLE gtest.prune.t (k BIGINT, status STRING) PARTITIONED BY (status)")
    sql("INSERT INTO gtest.prune.t VALUES (1, 'O'), (2, 'F'), (3, 'O'), (4, 'F')")
    // physically delete the F partition's data files: a query that only
    // needs O can succeed only if it never plans the F files
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/prune/t")
    val fFiles = t.files.filter(_.partValue == "F")
    assert(fFiles.nonEmpty)
    fFiles.foreach(e => java.nio.file.Files.delete(
      java.nio.file.Paths.get(new java.net.URI(e.path))))
    assert(sql("SELECT k FROM gtest.prune.t WHERE status = 'O' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    intercept[Exception] { sql("SELECT count(k) FROM gtest.prune.t").collect() }
  }

  test("IN-list and non-string partition equality prune from the manifest") {
    sql("CREATE NAMESPACE gtest.prune2")
    sql("CREATE TABLE gtest.prune2.t (k BIGINT, bucket INT) PARTITIONED BY (bucket)")
    sql("INSERT INTO gtest.prune2.t VALUES (1, 0), (2, 1), (3, 2), (4, 0), (5, 1)")
    // physically delete bucket 2's files: IN (0, 1) and = 0 queries can
    // succeed only if the manifest prune never plans the bucket-2 files
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/prune2/t")
    val b2 = t.files.filter(_.partValue == "2")
    assert(b2.nonEmpty)
    b2.foreach(e => java.nio.file.Files.delete(
      java.nio.file.Paths.get(new java.net.URI(e.path))))
    assert(sql("SELECT k FROM gtest.prune2.t WHERE bucket IN (0, 1) ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 5L))
    assert(sql("SELECT k FROM gtest.prune2.t WHERE bucket = 0 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 4L))
    intercept[Exception] { sql("SELECT count(k) FROM gtest.prune2.t").collect() }
  }

  test("DELETE FROM lowers to the engine's stat-pruned CoW delete; TRUNCATE keeps history") {
    sql("CREATE NAMESPACE gtest.dml")
    sql("CREATE TABLE gtest.dml.t (k BIGINT, v STRING)")
    sql("INSERT INTO gtest.dml.t SELECT id, concat('v', id) FROM range(100)") // v1
    sql("DELETE FROM gtest.dml.t WHERE k >= 90")                              // v2
    assert(sql("SELECT count(k) FROM gtest.dml.t").head.getLong(0) == 90)
    sql("DELETE FROM gtest.dml.t WHERE k = 0")                                // v3
    assert(sql("SELECT min(k) FROM gtest.dml.t").head.getLong(0) == 1)
    // a predicate with no numeric bound (string equality) keeps every
    // file a candidate and still deletes exactly its rows
    sql("DELETE FROM gtest.dml.t WHERE v = 'v5'")                             // v4
    assert(sql("SELECT count(k) FROM gtest.dml.t").head.getLong(0) == 88)
    assert(sql("SELECT count(*) FROM gtest.dml.t WHERE v = 'v5'").head.getLong(0) == 0)
    sql("TRUNCATE TABLE gtest.dml.t")
    assert(sql("SELECT count(*) FROM gtest.dml.t").head.getLong(0) == 0)
    assert(sql("SELECT count(*) FROM gtest.dml.t VERSION AS OF 2").head.getLong(0) == 90)
  }

  test("DELETE with a mixed conjunction skips files on its numeric conjunct") {
    sql("CREATE NAMESPACE gtest.mixdel")
    sql("CREATE TABLE gtest.mixdel.t (k BIGINT, tag STRING)")
    // 4 range-clustered files: k in [0,25), [25,50), [50,75), [75,100)
    (0 until 4).foreach(i => sql(s"""INSERT INTO gtest.mixdel.t
      SELECT id, concat('r', id % 13) FROM range(${i * 25}, ${i * 25 + 25}, 1, 1)"""))
    val t = new graft.sources.SnapshotTable(spark,
      spark.conf.get("spark.sql.catalog.gtest.root") + "/mixdel/t")
    val data = t.files.filter(_.rows > 0).map(_.path).toSet
    assert(data.size == 4)
    val expected = sql("SELECT k, tag FROM gtest.mixdel.t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filterNot { case (k, tag) => tag == "r12" && k <= 20 }.toSet
    sql("DELETE FROM gtest.mixdel.t WHERE tag = 'r12' AND k <= 20")
    assert(t.commitOperation(t.currentVersion) == "DELETE")
    assert(data.intersect(t.files.map(_.path).toSet).size == 3,
      "only the file whose k stats meet k <= 20 may rewrite")
    assert(sql("SELECT k, tag FROM gtest.mixdel.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == expected)
  }

  test("UPDATE through SQL commits a copy-on-write rewrite with history") {
    sql("CREATE NAMESPACE gtest.upd")
    sql("CREATE TABLE gtest.upd.t (k BIGINT, status STRING, price DOUBLE) PARTITIONED BY (status)")
    sql("""INSERT INTO gtest.upd.t
           SELECT id, CASE WHEN id % 2 = 0 THEN 'O' ELSE 'F' END, CAST(id AS DOUBLE)
           FROM range(100)""")                                                // v1
    sql("UPDATE gtest.upd.t SET price = price + 1000 WHERE k % 10 = 0")       // v2
    assert(sql("SELECT sum(price) FROM gtest.upd.t").head.getDouble(0) ==
      (0 until 100).map(_.toDouble).sum + 10 * 1000.0)
    assert(sql("SELECT count(*) FROM gtest.upd.t").head.getLong(0) == 100)
    // history: pre-update state still time-travels
    assert(sql("SELECT sum(price) FROM gtest.upd.t VERSION AS OF 1")
      .head.getDouble(0) == (0 until 100).map(_.toDouble).sum)
    // partition layout survives the rewrite (status files still prune)
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/upd/t")
    assert(t.files.forall(_.partCol == "status"))
  }

  test("partition-scoped UPDATE rewrites only the matched partition's files") {
    sql("CREATE NAMESPACE gtest.updp")
    sql("CREATE TABLE gtest.updp.t (k BIGINT, status STRING, price DOUBLE) PARTITIONED BY (status)")
    sql("""INSERT INTO gtest.updp.t
           SELECT id, CASE WHEN id % 2 = 0 THEN 'O' ELSE 'F' END, CAST(id AS DOUBLE)
           FROM range(100)""")                                                // v1
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/updp/t")
    val oFilesBefore = t.files.filter(_.partValue == "O").map(_.path).toSet
    assert(oFilesBefore.nonEmpty)
    // prime the schema cache while every file exists (the probe reads
    // one representative file; a freshly-created table would do this on
    // its first query anyway)
    assert(sql("SELECT sum(price) FROM gtest.updp.t").head.getDouble(0) > 0)
    // physically delete the O partition's data: the UPDATE can succeed
    // only if the rewrite never plans those files
    oFilesBefore.foreach(p => java.nio.file.Files.delete(
      java.nio.file.Paths.get(new java.net.URI(p))))
    sql("UPDATE gtest.updp.t SET price = price + 1000 WHERE status = 'F'")   // v2
    // O partition carried BY REFERENCE (identical paths), F rewritten
    assert(t.files.filter(_.partValue == "O").map(_.path).toSet == oFilesBefore)
    assert(t.files.filter(_.partValue == "F").map(_.path).toSet
      .intersect(oFilesBefore).isEmpty)
    assert(sql("SELECT sum(price) FROM gtest.updp.t WHERE status = 'F'")
      .head.getDouble(0) ==
      (0 until 100).filter(_ % 2 == 1).map(_.toDouble + 1000.0).sum)
    // the same predicate shape prunes as an IN-list too
    sql("UPDATE gtest.updp.t SET price = price + 1 WHERE status IN ('F')")   // v3
    assert(t.files.filter(_.partValue == "O").map(_.path).toSet == oFilesBefore)
  }

  test("partition-scoped UPDATE prunes hidden layouts through the transform") {
    sql("CREATE NAMESPACE gtest.updh")
    sql("""CREATE TABLE gtest.updh.t (k BIGINT, d DATE, price DOUBLE)
           PARTITIONED BY (months(d))""")
    sql("""INSERT INTO gtest.updh.t VALUES
           (1, DATE '2024-01-05', 10.0), (2, DATE '2024-02-10', 20.0),
           (3, DATE '2024-02-20', 30.0), (4, DATE '2024-03-01', 40.0)""")    // v1
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/updh/t")
    val otherMonths = t.files
      .filter(e => e.partValue != null && e.partValue != "2024-02")
      .map(_.path).toSet
    val febBefore = t.files.filter(_.partValue == "2024-02").map(_.path).toSet
    assert(otherMonths.nonEmpty && febBefore.nonEmpty)
    assert(sql("SELECT sum(price) FROM gtest.updh.t").head.getDouble(0) == 100.0)
    // the rewrite must map the literal through months(): only the
    // 2024-02 partition's files are replaced, every other month's
    // files carry BY REFERENCE (identical physical paths)
    sql("UPDATE gtest.updh.t SET price = price + 1000 WHERE d = DATE '2024-02-10'") // v2
    assert(t.files.filter(e =>
      e.partValue != null && e.partValue != "2024-02").map(_.path).toSet
      == otherMonths, "untouched months must carry by reference")
    assert(t.files.filter(_.partValue == "2024-02").map(_.path).toSet
      .intersect(febBefore).isEmpty, "the matched month must be rewritten")
    assert(sql("""SELECT sum(price) FROM gtest.updh.t
                  WHERE d BETWEEN DATE '2024-02-01' AND DATE '2024-02-29'""")
      .head.getDouble(0) == 1050.0) // 1020 + 30
    assert(sql("SELECT sum(price) FROM gtest.updh.t").head.getDouble(0) == 1100.0)
  }

  test("MERGE INTO through SQL: matched update + not-matched insert") {
    sql("CREATE NAMESPACE gtest.mrg")
    sql("CREATE TABLE gtest.mrg.t (k BIGINT, v STRING)")
    sql("INSERT INTO gtest.mrg.t SELECT id, concat('old', id) FROM range(10)") // v1
    spark.range(5, 15).selectExpr("id AS k", "concat('new', id) AS v")
      .createOrReplaceTempView("mrg_src")
    sql("""MERGE INTO gtest.mrg.t t USING mrg_src s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")          // v2
    val rows = sql("SELECT k, v FROM gtest.mrg.t ORDER BY k").collect()
    assert(rows.length == 15)
    assert(rows.take(5).map(_.getString(1)).toSeq ==
      (0 until 5).map(i => s"old$i"))
    assert(rows.drop(5).map(_.getString(1)).toSeq ==
      (5 until 15).map(i => s"new$i"))
    // pre-merge state still time-travels
    assert(sql("SELECT count(*) FROM gtest.mrg.t VERSION AS OF 1")
      .head.getLong(0) == 10)
  }

  test("ungrouped COUNT(*) answers from the manifest without opening data files") {
    sql("CREATE NAMESPACE gtest.cnt")
    sql("CREATE TABLE gtest.cnt.t AS SELECT id FROM range(1000)")
    val counted = sql("SELECT count(*) FROM gtest.cnt.t")
    assert(counted.head.getLong(0) == 1000)
    assert(counted.queryExecution.executedPlan.toString.contains("GraftCountRelation"),
      "expected the pushed-aggregate manifest-count relation in the plan")
    // physically remove every data file (schema is already cached): the
    // metadata-answered count still works, a scan-requiring query cannot
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/cnt/t")
    t.files.foreach(e => java.nio.file.Files.delete(
      java.nio.file.Paths.get(new java.net.URI(e.path))))
    assert(sql("SELECT count(*) FROM gtest.cnt.t").head.getLong(0) == 1000)
    // a filtered count must scan — and therefore fail loudly here
    intercept[Exception] { sql("SELECT count(*) FROM gtest.cnt.t WHERE id > 5").collect() }
  }

  test("manifest statistics drive join planning: dimension-sized table broadcasts") {
    sql("CREATE NAMESPACE gtest.stats")
    sql("CREATE TABLE gtest.stats.dim AS SELECT id AS k, concat('d', id) AS name FROM range(50)")
    sql("CREATE TABLE gtest.stats.fact AS SELECT id % 50 AS k, id AS x FROM range(20000)")
    val df = sql(
      "SELECT f.x, d.name FROM gtest.stats.fact f JOIN gtest.stats.dim d ON f.k = d.k")
    assert(df.count() == 20000)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join, got:\n$plan")
  }

  test("hidden-partition transforms prune from the manifest through SQL") {
    sql("CREATE NAMESPACE gtest.xf")
    // days(d): queries filter the RAW column; the planner applies the
    // transform to the literal and prunes files on metadata alone
    sql("CREATE TABLE gtest.xf.t (k BIGINT, d DATE) PARTITIONED BY (days(d))")
    sql("""INSERT INTO gtest.xf.t VALUES
           (1, DATE'2024-01-01'), (2, DATE'2024-01-02'), (3, DATE'2024-01-01')""")
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/xf/t")
    // prime the schema cache while every file exists (first-query probe)
    assert(sql("SELECT count(*) FROM gtest.xf.t WHERE k > 0").head.getLong(0) == 3)
    // physically delete the other day's files: the day-1 query can
    // succeed only if the manifest prune never plans them
    val day2 = t.files.filter(_.partValue == "2024-01-02")
    assert(day2.nonEmpty)
    day2.foreach(e => java.nio.file.Files.delete(
      java.nio.file.Paths.get(new java.net.URI(e.path))))
    assert(sql("SELECT k FROM gtest.xf.t WHERE d = DATE'2024-01-01' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    intercept[Exception] { sql("SELECT count(k) FROM gtest.xf.t").collect() }

    // bucket(4, m): the CRC-bucket of the literal locates the files
    sql("CREATE TABLE gtest.xf.b (k BIGINT, m INT) PARTITIONED BY (bucket(4, m))")
    sql("INSERT INTO gtest.xf.b SELECT id, CAST(id % 8 AS INT) FROM range(64)")
    val tb = new graft.sources.SnapshotTable(spark, s"$root/xf/b")
    assert(sql("SELECT count(*) FROM gtest.xf.b WHERE k >= 0").head.getLong(0) == 64)
    val bucketOf3 = graft.sources.PartitionTransform.applyLiteral("bucket4", "3")
    // (keep the v0 zero-row schema carrier — it has no partition value
    // and legitimately stays in every plan)
    val others = tb.files.filter(e => e.partValue != bucketOf3 && e.rows > 0)
    assert(others.nonEmpty)
    others.foreach(e => java.nio.file.Files.delete(
      java.nio.file.Paths.get(new java.net.URI(e.path))))
    assert(sql("SELECT count(*) FROM gtest.xf.b WHERE m = 3").head.getLong(0) == 8)
  }

  test("ALTER TABLE ADD COLUMNS is metadata-only and version-correct") {
    sql("CREATE NAMESPACE gtest.alt")
    sql("CREATE TABLE gtest.alt.t (k BIGINT)")
    sql("INSERT INTO gtest.alt.t VALUES (1), (2), (3)")                   // v1
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/alt/t")
    val before = t.files.map(_.path).toSet
    sql("ALTER TABLE gtest.alt.t ADD COLUMNS (c STRING, n INT)")          // v2
    // metadata-only: old files untouched, one zero-row schema carrier added
    assert(t.files.map(_.path).toSet.intersect(before) == before)
    assert(t.files.size == before.size + 1)
    assert(t.files.exists(_.rows == 0))
    // old rows null-fill; writes with the new columns land normally
    assert(sql("SELECT count(*) FROM gtest.alt.t WHERE c IS NULL").head.getLong(0) == 3)
    sql("INSERT INTO gtest.alt.t VALUES (10, 'x', 7)")                    // v3
    assert(sql("SELECT n FROM gtest.alt.t WHERE c = 'x'").head.getInt(0) == 7)
    // version-correct: pre-alter versions do not carry the columns
    assert(!sql("SELECT * FROM gtest.alt.t VERSION AS OF 1")
      .schema.fieldNames.contains("c"))
    // duplicate adds and drops of missing columns refuse loudly
    // (DROP COLUMN of an existing column is supported since the column
    // mapping landed — ColumnMappingSpec covers it)
    intercept[Exception] { sql("ALTER TABLE gtest.alt.t ADD COLUMNS (c STRING)") }
    intercept[Exception] { sql("ALTER TABLE gtest.alt.t DROP COLUMN nope") }
    // properties land in the durable sidecar and SHOW TBLPROPERTIES sees them
    sql("ALTER TABLE gtest.alt.t SET TBLPROPERTIES ('quality.tier' = 'gold')")
    assert(t.property("quality.tier").contains("gold"))
    val shown = sql("SHOW TBLPROPERTIES gtest.alt.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(shown.get("quality.tier").contains("gold"))
    // UNSET removes them; unsetting an absent key is a no-op
    sql("ALTER TABLE gtest.alt.t UNSET TBLPROPERTIES ('quality.tier')")
    assert(t.property("quality.tier").isEmpty)
    sql("ALTER TABLE gtest.alt.t UNSET TBLPROPERTIES IF EXISTS ('nope')")
  }

  test("INSERT OVERWRITE PARTITION replaces only that partition; dynamic mode replaces present ones") {
    sql("CREATE NAMESPACE gtest.iow")
    sql("CREATE TABLE gtest.iow.t (k BIGINT, status STRING) PARTITIONED BY (status)")
    sql("INSERT INTO gtest.iow.t VALUES (1, 'O'), (2, 'F'), (3, 'O'), (4, 'F')") // v1
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/iow/t")
    val oBefore = t.files.filter(_.partValue == "O").map(_.path).toSet
    // static-partition overwrite: F replaced, O carried by reference
    sql("INSERT OVERWRITE gtest.iow.t PARTITION (status = 'F') VALUES (20L)")    // v2
    assert(sql("SELECT k FROM gtest.iow.t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 3L, 20L))
    assert(t.files.filter(_.partValue == "O").map(_.path).toSet == oBefore)
    // dynamic mode: partitions present in the data replace, others carry
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      sql("INSERT OVERWRITE gtest.iow.t VALUES (30L, 'F')")                      // v3
      assert(sql("SELECT k FROM gtest.iow.t ORDER BY k").collect().map(_.getLong(0)).toSeq
        == Seq(1L, 3L, 30L))
      assert(t.files.filter(_.partValue == "O").map(_.path).toSet == oBefore)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    // non-partition overwrite conditions refuse loudly (no silent truncate)
    val e = intercept[Exception] {
      sql("INSERT INTO gtest.iow.t REPLACE WHERE k > 100 VALUES (40L, 'O')")
    }
    assert(e.getMessage.contains("overwrite condition") ||
      e.getMessage.contains("REPLACE"), e.getMessage)
    assert(sql("SELECT count(*) FROM gtest.iow.t").head.getLong(0) == 3,
      "a refused REPLACE WHERE must not change the table")
  }

  test("dynamic INSERT OVERWRITE on a hidden months(ts) layout replaces only the data's months") {
    sql("CREATE NAMESPACE gtest.hid")
    sql("""CREATE TABLE gtest.hid.t (k BIGINT, ts TIMESTAMP)
           PARTITIONED BY (months(ts))""")
    sql("""INSERT INTO gtest.hid.t VALUES
           (1, TIMESTAMP '2024-01-05 00:00:00'),
           (2, TIMESTAMP '2024-02-10 00:00:00'),
           (3, TIMESTAMP '2024-02-20 00:00:00'),
           (4, TIMESTAMP '2024-03-01 00:00:00')""")                        // v1
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/hid/t")
    val otherMonths = t.files
      .filter(e => e.partValue != null && e.partValue != "2024-02")
      .map(_.path).toSet
    assert(otherMonths.nonEmpty)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // regression pin: this used to fall through to a FULL-TABLE
      // overwrite (silent loss of Jan + Mar); it must replace 2024-02 only
      sql("INSERT OVERWRITE gtest.hid.t VALUES (20L, TIMESTAMP '2024-02-15 00:00:00')") // v2
      assert(sql("SELECT k FROM gtest.hid.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 4L, 20L))
      assert(t.files.filter(e =>
        e.partValue != null && e.partValue != "2024-02").map(_.path).toSet
        == otherMonths, "untouched months must carry by reference")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
  }

  test("REPLACE WHERE replaces the filter's partition set, not the data's") {
    sql("CREATE NAMESPACE gtest.rw")
    sql("CREATE TABLE gtest.rw.t (k BIGINT, status STRING) PARTITIONED BY (status)")
    sql("INSERT INTO gtest.rw.t VALUES (1, 'A'), (2, 'B'), (3, 'C')")     // v1
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/rw/t")
    val cFiles = t.files.filter(_.partValue == "C").map(_.path).toSet
    // the data covers only A; B must be EMPTIED (OverwriteByExpression
    // contract), C carried by reference
    sql("INSERT INTO gtest.rw.t REPLACE WHERE status IN ('A', 'B') VALUES (10L, 'A')") // v2
    assert(sql("SELECT k, status FROM gtest.rw.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((3L, "C"), (10L, "A")))
    assert(t.files.filter(_.partValue == "C").map(_.path).toSet == cFiles)
    // empty-but-valid data empties the filtered partition, never aborts
    sql("""INSERT INTO gtest.rw.t REPLACE WHERE status = 'C'
           SELECT k, status FROM VALUES (0L, 'C') AS s(k, status) WHERE 1 = 0""") // v3
    assert(sql("SELECT k FROM gtest.rw.t").collect().map(_.getLong(0)).toSeq == Seq(10L))
    // history intact: the replaced versions stay time-travelable
    assert(sql("SELECT count(*) FROM gtest.rw.t VERSION AS OF 1").head.getLong(0) == 3)
  }

  test("metadata tables answer from the manifest: history, partitions, detail, files") {
    sql("CREATE NAMESPACE gtest.meta")
    sql("CREATE TABLE gtest.meta.t (k BIGINT, status STRING) PARTITIONED BY (status)")
    sql("INSERT INTO gtest.meta.t VALUES (1, 'O'), (2, 'F'), (3, 'O')")  // v1
    sql("INSERT INTO gtest.meta.t VALUES (4, 'F')")                      // v2
    val hist = sql("SELECT version, operation FROM gtest.meta.t.history ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(hist == Seq((0, "CREATE"), (1, "APPEND"), (2, "APPEND")))
    val parts = sql("""SELECT part_value, num_rows FROM gtest.meta.t.partitions
                       WHERE part_value IS NOT NULL ORDER BY part_value""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(parts == Seq(("F", 2L), ("O", 2L)))
    assert(sql("SELECT num_rows FROM gtest.meta.t.detail").head.getLong(0) == 4)
    // files: every manifest entry addressable, and joins vs meta tables
    // stay broadcast-sized
    assert(sql("SELECT count(*) FROM gtest.meta.t.files WHERE num_rows > 0")
      .head.getLong(0) >= 2)
    // a metadata read never opens data files: physically delete them all
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/meta/t")
    t.files.foreach(e => java.nio.file.Files.delete(
      java.nio.file.Paths.get(new java.net.URI(e.path))))
    assert(sql("SELECT sum(num_rows) FROM gtest.meta.t.partitions").head.getLong(0) == 4)
  }

  test("a database namespace resolves members through published db snapshots") {
    import org.apache.spark.sql.functions.lit
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val db = new graft.sources.GraftDatabase(spark, s"$root/txndb")
    val facts0 = spark.range(10).toDF("k").withColumn("grp", lit("a"))
    db.transact(Seq("facts", "summary")) { d =>
      d.table("facts").create(facts0): Unit
      d.table("summary").create(facts0.groupBy("grp").count()): Unit
    }                                                               // db v0
    db.transact(Seq("facts", "summary")) { d =>
      val t = d.table("facts").append(spark.range(10, 25).toDF("k")
        .withColumn("grp", lit("a")))
      d.table("summary").overwrite(t.read().groupBy("grp").count()): Unit
    }                                                               // db v1
    // published head: both members consistent at db v1
    assert(sql("SELECT count(*) FROM gtest.txndb.facts").head.getLong(0) == 25)
    assert(sql("SELECT count FROM gtest.txndb.summary").head.getLong(0) == 25)
    // VERSION AS OF in a db namespace = DB version: cross-table consistent
    assert(sql("SELECT count(*) FROM gtest.txndb.facts VERSION AS OF 0")
      .head.getLong(0) == 10)
    assert(sql("SELECT count FROM gtest.txndb.summary VERSION AS OF 0")
      .head.getLong(0) == 10)
    // an UNPUBLISHED commit (a crashed txn's orphan) stays invisible
    db.table("facts").append(spark.range(25, 30).toDF("k")
      .withColumn("grp", lit("a")))
    assert(sql("SELECT count(*) FROM gtest.txndb.facts").head.getLong(0) == 25)
    // writes through SQL bypass the txn log and are rejected loudly,
    // with a message that points at the transaction API — not the
    // misleading generic "pinned at VERSION AS OF" wording
    val e = intercept[Exception] {
      sql("INSERT INTO gtest.txndb.facts VALUES (99, 'a')")
    }
    assert(e.getMessage.contains("GraftDatabase.transact"), e.getMessage)
    assert(!e.getMessage.contains("VERSION AS OF"), e.getMessage)
  }

  test("a mixed supported/unsupported ALTER is all-or-nothing") {
    sql("CREATE NAMESPACE gtest.atomalt")
    sql("CREATE TABLE gtest.atomalt.t (k BIGINT)")
    sql("INSERT INTO gtest.atomalt.t VALUES (1)")                         // v1
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/atomalt/t")
    val vBefore = t.currentVersion
    // REPLACE COLUMNS arrives as one change list mixing supported
    // AddColumn with unsupported DeleteColumn — it must commit NOTHING,
    // not half-apply the adds before rejecting the deletes
    intercept[Exception] {
      sql("ALTER TABLE gtest.atomalt.t REPLACE COLUMNS (c STRING)")
    }
    assert(t.currentVersion == vBefore,
      "a rejected mixed ALTER must leave no committed version")
    assert(!sql("SELECT * FROM gtest.atomalt.t").schema.fieldNames.contains("c"))
  }

  test("readStream.table tails a catalog table by name through the manifest log") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import org.apache.spark.sql.functions.{count, lit, sum}
    sql("CREATE NAMESPACE gtest.strm")
    sql("CREATE TABLE gtest.strm.t (k BIGINT, v DOUBLE)")
    sql("INSERT INTO gtest.strm.t VALUES (1, 1.0), (2, 2.0)")            // v1
    sql("INSERT INTO gtest.strm.t VALUES (3, 3.0)")                      // v2
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cattail_ckpt").toString
    def drain(name: String): Unit = {
      val q = spark.readStream.table("gtest.strm.t")
        .groupBy().agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain("cattail1")
    val r1 = spark.table("cattail1").head
    assert((r1.getLong(0), r1.getDouble(1)) == ((3L, 6.0)))
    // the checkpointed offset is the manifest version: a restart picks
    // up exactly the commits made since, by version diff
    sql("INSERT INTO gtest.strm.t VALUES (4, 4.0)")                      // v3
    drain("cattail2")
    val r2 = spark.table("cattail2").head
    assert((r2.getLong(0), r2.getDouble(1)) == ((4L, 10.0)))
    // reader options flow through the fallback: readChangeFeed by NAME
    // gets `_change_type` rows (the fallback hands the provider the
    // base schema — the provider must still append the change column)
    val qc = spark.readStream
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .table("gtest.strm.t")
      .groupBy(graft.sources.SnapshotTable.ChangeCol)
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("cattail_cdf")
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_cattail_cdf").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    qc.awaitTermination()
    val cdf = spark.table("cattail_cdf").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(cdf == Map("insert" -> 4L), s"got $cdf")
  }

  test("SQL maintenance verbs: OPTIMIZE, OPTIMIZE ZORDER BY, VACUUM, DESCRIBE HISTORY") {
    sql("CREATE NAMESPACE gtest.maint")
    sql("CREATE TABLE gtest.maint.t (k BIGINT, c BIGINT)")                // v0
    sql("INSERT INTO gtest.maint.t SELECT id, id % 7 FROM range(0, 400)")   // v1
    sql("INSERT INTO gtest.maint.t SELECT id, id % 7 FROM range(400, 800)") // v2
    sql("INSERT INTO gtest.maint.t SELECT id, id % 7 FROM range(800, 1000)")// v3
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val t = new graft.sources.SnapshotTable(spark, s"$root/maint/t")
    val filesBefore = t.files.size
    assert(filesBefore > 1)
    // OPTIMIZE bin-packs the small files into one commit; data unchanged
    val opt = sql("OPTIMIZE gtest.maint.t").head
    assert(opt.getLong(0) == filesBefore.toLong && opt.getLong(1) < opt.getLong(0),
      s"optimize must shrink the file count: $opt")
    assert(sql("SELECT count(*), sum(k) FROM gtest.maint.t").head.toSeq
      == Seq(1000L, (0L until 1000L).sum))
    // OPTIMIZE ZORDER BY rewrites on the Morton curve; data unchanged
    sql("OPTIMIZE gtest.maint.t ZORDER BY (k, c)")                        // v5
    assert(sql("SELECT count(*) FROM gtest.maint.t").head.getLong(0) == 1000)
    // DESCRIBE HISTORY surfaces the commit log as rows
    val hist = sql("DESCRIBE HISTORY gtest.maint.t").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(hist == Seq((0, "CREATE"), (1, "APPEND"), (2, "APPEND"),
      (3, "APPEND"), (4, "OPTIMIZE"), (5, "ZORDER")), s"got $hist")
    // VACUUM RETAIN n VERSIONS reclaims files + history below the window
    val vac = sql("VACUUM gtest.maint.t RETAIN 2 VERSIONS").head
    assert(vac.getInt(0) > 0 && vac.getInt(1) == 5, s"got $vac")
    assert(sql("DESCRIBE HISTORY gtest.maint.t").collect()
      .map(_.getInt(0)).toSeq == Seq(4, 5))
    assert(sql("SELECT count(*) FROM gtest.maint.t").head.getLong(0) == 1000)
    intercept[Exception] { sql("SELECT * FROM gtest.maint.t VERSION AS OF 1") }
    // DESCRIBE DETAIL summarizes the current snapshot
    val det = sql("DESCRIBE DETAIL gtest.maint.t").head
    assert(det.getInt(0) == 5 && det.getLong(3) == 1000L, s"got $det")
    // hour-based retention (Delta syntax): everything is newer than
    // 1 hour, so nothing reclaims and history is untouched
    assert(sql("VACUUM gtest.maint.t RETAIN 1 HOURS").head.getInt(0) == 0)
    assert(sql("DESCRIBE HISTORY gtest.maint.t").count() == 2)
    // unrelated statements still parse through the delegate
    assert(sql("SELECT 1 + 1").head.getInt(0) == 2)
  }

  test("maintenance guard rails: db members refused, multi-conjunct REPLACE WHERE refused, backquoted names parse") {
    // mutating verbs on a transaction-database member bypass the db's
    // published pins — refused like direct INSERTs are
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    val db = new graft.sources.GraftDatabase(spark, s"$root/mguard")
    db.transact(Seq("m")) { d =>
      d.table("m").create(spark.range(3).toDF("k")): Unit
    }
    val e1 = intercept[Exception] { sql("VACUUM gtest.mguard.m RETAIN 1 VERSIONS") }
    assert(e1.getMessage.contains("transaction database"), e1.getMessage)
    val e2 = intercept[Exception] { sql("OPTIMIZE gtest.mguard.m") }
    assert(e2.getMessage.contains("transaction database"), e2.getMessage)
    // read-only verbs stay allowed
    assert(sql("DESCRIBE HISTORY gtest.mguard.m").count() >= 1)
    // ...and the db-level SQL verb IS the sanctioned maintenance path:
    // it rolls back crash orphans while respecting every published pin
    db.table("m").append(spark.range(3, 5).toDF("k"))  // orphan (unpublished)
    val dbv = sql("VACUUM DATABASE gtest.mguard RETAIN 1 SNAPSHOTS").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(dbv == Map("m" -> 1), s"got $dbv")
    assert(sql("SELECT count(*) FROM gtest.mguard.m").head.getLong(0) == 3)
    // several conjuncts on the partition column: the condition matches
    // their INTERSECTION — replacing one conjunct's whole value set
    // would empty partitions the condition never named; refuse loudly
    sql("CREATE NAMESPACE gtest.rwm")
    sql("CREATE TABLE gtest.rwm.t (k BIGINT, s STRING) PARTITIONED BY (s)")
    sql("INSERT INTO gtest.rwm.t VALUES (1, 'A'), (2, 'B'), (3, 'C')")
    intercept[Exception] {
      sql("""INSERT INTO gtest.rwm.t
             REPLACE WHERE s IN ('A', 'B') AND s IN ('A', 'C')
             VALUES (10L, 'A')""")
    }
    assert(sql("SELECT count(*) FROM gtest.rwm.t").head.getLong(0) == 3,
      "a refused REPLACE WHERE must not change the table")
    // backquoted name parts may contain dots
    sql("CREATE TABLE gtest.rwm.`dotted.name` (k BIGINT)")
    sql("INSERT INTO gtest.rwm.`dotted.name` VALUES (1), (2)")
    assert(sql("DESCRIBE HISTORY gtest.rwm.`dotted.name`").count() == 2)
  }

  test("Iceberg CALL procedures map onto the maintenance commands") {
    sql("CREATE NAMESPACE gtest.callp")
    sql("CREATE TABLE gtest.callp.t (k BIGINT)")                         // v0
    sql("INSERT INTO gtest.callp.t VALUES (1), (2)")                     // v1
    sql("INSERT INTO gtest.callp.t VALUES (3)")                          // v2
    val r = sql("CALL gtest.system.rewrite_data_files(table => 'callp.t')").head // v3
    assert(r.getLong(1) < r.getLong(0), s"rewrite must bin-pack: $r")
    sql("CALL gtest.system.expire_snapshots(table => 'callp.t', retain_last => 1)")
    assert(sql("DESCRIBE HISTORY gtest.callp.t").count() == 1)
    assert(sql("SELECT sum(k) FROM gtest.callp.t").head.getLong(0) == 6)
  }

  test("catalog state is the filesystem: a second catalog over the same root sees everything") {
    sql("CREATE NAMESPACE gtest.persist")
    sql("CREATE TABLE gtest.persist.t AS SELECT id FROM range(5)")
    val root = spark.conf.get("spark.sql.catalog.gtest.root")
    spark.conf.set("spark.sql.catalog.gtest2", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest2.root", root)
    assert(sql("SELECT count(*) FROM gtest2.persist.t").head.getLong(0) == 5)
  }
}
