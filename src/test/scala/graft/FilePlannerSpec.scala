package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The one file planner (`SnapshotTable.planFiles`, and the same entry
  * predicate inside the scan's `ManifestFileIndex`): which files a
  * filtered read, a predicate DML or a SQL statement opens. Most tests
  * move the files the plan must skip out of the table first, so a plan
  * that opened one fails with FILE_NOT_EXIST instead of answering. */
class FilePlannerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(s"graft_$p").toString

  /** Runs `body` with `gone` moved out of the table's data dirs, then
    * puts them back. The schema cache must be warm (read the table
    * first): it is the only footer read a pruned plan makes. */
  private def without[A](gone: Seq[SnapshotTable.FileEntry])(body: => A): A = {
    val aside = Files.createTempDirectory("graft_plan_aside")
    val moved = gone.zipWithIndex.map { case (e, i) =>
      val src = Paths.get(e.path.stripPrefix("file:"))
      src -> Files.move(src, aside.resolve(i.toString))
    }
    try body finally moved.foreach { case (src, dst) => Files.move(dst, src) }
  }

  /** 8 files, 2 per partition p ∈ {1, 2, 3, 4}; k = 0 … 79. */
  private def partitioned(prefix: String): SnapshotTable = {
    import spark.implicits._
    val df = (0 until 80).map(i => (i.toLong, (i % 4 + 1).toString, i * 1.5))
      .toDF("k", "p", "v")
    val t = new SnapshotTable(spark, tmp(prefix))
      .create(df.filter(col("k") < 40), Some("p"))
      .append(df.filter(col("k") >= 40), Some("p"))
    assert(t.files.size == 8 && t.read().count() == 80)
    t
  }

  /** 100 rows range-clustered on k into 4 files (k-spans 0-24 / 25-49 /
    * 50-74 / 75-99). */
  private def ranged(prefix: String): SnapshotTable = {
    import spark.implicits._
    val t = new SnapshotTable(spark, tmp(prefix)).create(
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "tag")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    assert(t.files.size == 4 && t.read().count() == 100)
    t
  }

  test("a filtered read prunes identity partitions on = and IN") {
    val t = partitioned("fp_ident")
    val (one, rest) = t.files.partition(_.partValue == "1")
    assert(one.size == 2)
    assert(t.planFiles(col("p") === "1").toSet == one.toSet)
    without(rest) {
      assert(t.read().filter(col("p") === "1").count() == 20)
    }
    val (in, out) = t.files.partition(e => Set("1", "3")(e.partValue))
    assert(t.planFiles(col("p").isin("1", "3")).toSet == in.toSet)
    without(out) {
      assert(t.read().filter(col("p").isin("1", "3")).count() == 40)
    }
    // no partition matches: an empty frame, not an error
    assert(t.planFiles(col("p") === "9").isEmpty)
    assert(t.read().filter(col("p") === "9").count() == 0)
  }

  test("a filtered read prunes bucket(8, k) equality and a months(ts) range") {
    import spark.implicits._
    val df = (1 to 120).map(i =>
      (i.toLong, f"2024-${(i % 12) + 1}%02d-15 08:00:00")).toDF("k", "ts0")
      .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")
    val tb = new SnapshotTable(spark, tmp("fp_bucket"))
      .create(df, Some("bucket(8, k)"))
    assert(tb.read().count() == 120)
    val hit = tb.planFiles(col("k") === 7L)
    assert(hit.nonEmpty && hit.map(_.partValue).distinct.size == 1)
    without(tb.files.diff(hit)) {
      assert(tb.read().filter(col("k") === 7L).count() == 1)
    }
    val tm = new SnapshotTable(spark, tmp("fp_months"))
      .create(df, Some("months(ts)"))
    assert(tm.read().count() == 120)
    // mid-month bounds: a timestamp bound is widened by the widest zone
    // offset (the writer's zone is not in the log), so a bound on a
    // month's first or last day would also keep the month beside it
    val q = col("ts").between("2024-02-10 00:00:00", "2024-04-20 00:00:00")
    val months = tm.planFiles(q)
    assert(months.map(_.partValue).toSet == Set("2024-02", "2024-03", "2024-04"))
    without(tm.files.diff(months)) {
      assert(tm.read().filter(q).count() == 30)
    }
  }

  test("a months(ts) read in another session zone finds rows the writer's zone placed") {
    import spark.implicits._
    val w = spark.newSession()
    w.conf.set("spark.sql.session.timeZone", "UTC")
    val root = tmp("fp_zone")
    new SnapshotTable(w, root).create(
      Seq((1L, "2024-03-15 12:00:00"), (2L, "2024-04-01 03:00:00"),
        (3L, "2024-05-15 12:00:00")).toDF("k", "ts0")
        .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0"),
      Some("months(ts)"))
    // 2024-04-01 03:00 UTC lies in month 2024-04 of the writer's zone,
    // but renders as 2024-03-31 20:00 in Los Angeles
    val r = spark.newSession()
    r.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val t = new SnapshotTable(r, root)
    val at = lit(java.sql.Timestamp.from(java.time.Instant.parse("2024-04-01T03:00:00Z")))
    assert(t.planFiles(col("ts") === at).map(_.partValue).toSet == Set("2024-03", "2024-04"))
    assert(t.read().filter(col("ts") === at).select("k").as[Long].collect().toSeq == Seq(2L))
    assert(t.read().filter(col("ts") >= at).count() == 2)
    t.delete(col("ts") === at)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("truncate(W, s) plans W characters of a literal, as the writer does") {
    import spark.implicits._
    // a character outside the BMP is two UTF-16 units but one character;
    // compared as code points, so a failure message stays ASCII
    val vals = Seq("\uD83D\uDE00abc", "\uD83D\uDE00b", "xyz")
    def codePoints(s: String) = s.codePoints.toArray.toSeq
    for (w <- Seq(1, 2)) {
      val spec = graft.sources.PartitionTransform.parse(s"truncate($w, s)")
      val written = vals.toDF("s")
        .select(graft.sources.PartitionTransform.writeColumn(spec))
        .collect().map(r => codePoints(r.getString(0))).toSeq
      assert(vals.map(v => codePoints(graft.sources.PartitionTransform
        .applyLiteral(spec.tag, v))) == written, s"truncate($w, s)")
    }
  }

  test("a filtered read prunes a numeric range on footer stats") {
    val t = ranged("fp_range")
    val low = t.files.filter(_.stats("k")._1 <= 10)
    assert(low.size == 1)
    assert(t.planFiles(col("k").between(0, 10)) == low)
    without(t.files.diff(low)) {
      assert(t.read().filter(col("k").between(0, 10)).count() == 11)
      // a numeric IN-list prunes on the hull of its values
      assert(t.read().filter(col("k").isin(3L, 7L)).count() == 2)
    }
    assert(t.planFiles(col("k").isin(3L, 7L)) == low)
  }

  test("a decimal range prunes on the scaled stats") {
    // p = i / 4 as decimal(7,2), 0.25 … 39.25: the footers hold the
    // unscaled integers 25 … 3925
    val t = new SnapshotTable(spark, tmp("fp_dec")).create(spark.range(1, 158)
      .selectExpr("id AS k", "CAST(id / 4.0 AS DECIMAL(7,2)) AS p")
      .repartitionByRange(4, col("p")).sortWithinPartitions("p"))
    assert(t.read().count() == 157)
    val holding = t.files.filter(e => spark.read.parquet(e.path)
      .filter(col("p").between(10, 20)).count() > 0)
    assert(holding.nonEmpty && holding.size < t.files.size)
    assert(t.planFiles(col("p").between(10, 20)) == holding)
    without(t.files.diff(holding)) {
      assert(t.read().filter(col("p").between(10, 20)).count() == 41)
    }
  }

  test("a renamed column prunes on its physical stats") {
    val t = ranged("fp_mapped")
    t.renameColumn("k", "kk")
    val low = t.files.filter(_.stats("k")._1 <= 10)
    assert(t.planFiles(col("kk").between(0, 10)) == low)
    without(t.files.diff(low)) {
      assert(t.read().filter(col("kk").between(0, 10)).count() == 11)
    }
  }

  test("files without stats, IS NULL and <=> null keep every file") {
    import spark.implicits._
    val t = ranged("fp_nostats")
    // an all-null k file carries no k stats
    t.append(Seq((Option.empty[Long], "n")).toDF("k", "tag"))
    val nullFile = t.files.filter(e => !e.stats.contains("k"))
    assert(nullFile.size == 1)
    assert(t.planFiles(col("k") === 500L) == nullFile)
    assert(t.planFiles(col("k").isNull) == t.files)
    assert(t.planFiles(col("k") <=> lit(null).cast("long")) == t.files)
    assert(t.planFiles(col("tag") === "r3") == t.files)
    assert(t.read().filter(col("k").isNull).count() == 1)
  }

  test("a DV table's pruned read still applies its marks") {
    val t = ranged("fp_dv")
    t.delete(col("k").between(0, 5), positional = true)
    assert(t.dvFiles.nonEmpty)
    val low = t.files.filter(_.stats("k")._1 <= 10)
    without(t.files.diff(low)) {
      assert(t.read().filter(col("k").between(0, 10))
        .select("k").collect().map(_.getLong(0)).sorted.toSeq == (6L to 10L))
    }
  }

  test("planFiles launches no job") {
    val t = partitioned("fp_jobs")
    val (planned, jobs) = JobCount.of(spark)(
      t.planFiles(col("p") === "2" && col("k") < 40))
    assert(jobs.isEmpty, s"planning launched jobs: $jobs")
    assert(planned.size == 1)
  }

  test("API delete and update rewrite the matching partition, carry the rest, keep the layout") {
    val t = partitioned("fp_dml")
    val others = t.files.filterNot(_.partValue == "1")
    t.delete(col("p") === "1")
    assert(t.layoutSpec.contains("p"))
    assert(others.map(_.path).toSet.subsetOf(t.files.map(_.path).toSet))
    assert(t.read().count() == 60)
    val kept = t.files.filterNot(_.partValue == "2")
    t.update(col("p") === "2", Map("v" -> lit(0.0)))
    assert(kept.map(_.path).toSet.subsetOf(t.files.map(_.path).toSet))
    assert(t.files.forall(_.partCol == "p"))
    assert(t.read().filter(col("v") === 0.0).count() == 20)
  }

  test("a pruned rewrite still sees the columns a schema-evolving MERGE added elsewhere") {
    val (s, cat) = catalog("fpevo")
    import s.implicits._
    // the MERGE widens only partition A's files with `channel`
    val t = new SnapshotTable(s, s"$cat/ns/t").create(
      Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0)).toDF("k", "p", "v"),
      Some("p"))
    t.merge(Seq((1L, "A", 11.0, "web")).toDF("k", "p", "v", "channel"),
      Seq("k", "p"), Some("p"), evolveSchema = true)
    t.update(col("p") === "B", Map("channel" -> lit("store")))
    t.delete(col("p") === "B" && col("channel") === "none")
    s.sql("UPDATE fpevo.ns.t SET channel = 'mail' WHERE p = 'C'")
    assert(t.read().orderBy("k").select("channel").as[String].collect().toSeq ==
      Seq("web", "store", "mail"))
  }

  test("a pruned rewrite keeps an added column's default, and the column") {
    val (s, cat) = catalog("fpdef")
    def table(name: String, rows: String): SnapshotTable = {
      s.sql(s"CREATE TABLE fpdef.ns.$name (k BIGINT, p STRING) PARTITIONED BY (p)")
      s.sql(s"INSERT INTO fpdef.ns.$name VALUES $rows")
      s.sql(s"ALTER TABLE fpdef.ns.$name ADD COLUMNS (c INT DEFAULT 5)")
      new SnapshotTable(s, s"$cat/ns/$name")
    }
    // files without c read its default, and a rewrite stores it, also
    // when the zero-row schema file is not among the planned files
    val t = table("t", "(1, '1'), (2, '2'), (22, '2'), (4, '4')")
    t.delete(col("p") === "2" && col("k") === 2L)
    t.update(col("p") === "1", Map("k" -> lit(10L)))
    s.sql("UPDATE fpdef.ns.t SET k = 40 WHERE p = '4'")
    assert(s.sql("SELECT k, c FROM fpdef.ns.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((10L, 5), (22L, 5), (40L, 5)))
    // a DELETE that empties its partition writes no file; the schema
    // file is never planned, so no rewrite drops it and c stays
    val u = table("u", "(1, '1'), (2, '2'), (3, '3')")
    u.delete(col("p") === "2")
    s.sql("DELETE FROM fpdef.ns.u WHERE p = '3'")
    assert(s.sql("SELECT k, c FROM fpdef.ns.u").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((1L, 5)))
  }

  /** A session with the graft catalog `name` rooted in a fresh dir. */
  private def catalog(name: String): (SparkSession, String) = {
    val s = spark.newSession()
    val cat = tmp(s"${name}_cat")
    s.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftSqlCatalog")
    s.conf.set(s"spark.sql.catalog.$name.root", cat)
    graft.plans.GraftRowLevelOps.register(s)
    s.sql(s"CREATE NAMESPACE $name.ns")
    (s, cat)
  }

  test("a SQL SELECT … WHERE k BETWEEN opens only stat-intersecting files") {
    val (s, cat) = catalog("fpsel")
    import s.implicits._
    val t = new SnapshotTable(s, s"$cat/ns/t").create(
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "tag")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    assert(s.sql("SELECT sum(k) FROM fpsel.ns.t").head.getLong(0) == 4950L)
    val low = t.files.filter(_.stats("k")._1 <= 10)
    val q = "SELECT k FROM fpsel.ns.t WHERE k BETWEEN 0 AND 10"
    without(t.files.diff(low)) {
      assert(s.sql(q).count() == 11)
    }
    // the scan's size estimate covers the planned file only
    def est(sql: String) = s.sql(sql).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est(q) < est("SELECT k FROM fpsel.ns.t"), s"estimate ${est(q)}")
  }

  test("SQL partition DELETE and UPDATE carry the other partitions") {
    val (s, cat) = catalog("fpdml")
    s.sql("CREATE TABLE fpdml.ns.t (k BIGINT, p STRING, v DOUBLE) PARTITIONED BY (p)")
    (1 to 5).foreach { i =>
      s.sql(s"INSERT INTO fpdml.ns.t SELECT id, '$i', id * 50.0 FROM range(${i * 10})")
    }
    val t = new SnapshotTable(s, s"$cat/ns/t")
    assert(t.files.count(_.partCol == "p") == 5) // plus CREATE's schema file
    // CREATE's zero-row schema file holds no row: it is carried too
    def carried(pv: String): Set[String] = t.files
      .filter(_.partValue != pv).map(_.path).toSet
    val notTwo = carried("2")
    s.sql("DELETE FROM fpdml.ns.t WHERE p = '2'")
    assert(notTwo.subsetOf(t.files.map(_.path).toSet))
    val notThree = carried("3")
    s.sql("DELETE FROM fpdml.ns.t WHERE p = '3' AND v > 100")
    assert(notThree.subsetOf(t.files.map(_.path).toSet))
    assert(s.sql("SELECT count(*) FROM fpdml.ns.t WHERE p = '3'").head.getLong(0) == 3)
    val notFour = carried("4")
    s.sql("UPDATE fpdml.ns.t SET v = -1 WHERE p = '4'")
    assert(notFour.subsetOf(t.files.map(_.path).toSet))
    assert(s.sql("SELECT count(*) FROM fpdml.ns.t WHERE v = -1").head.getLong(0) == 40)
    assert(s.sql("SELECT count(*) FROM fpdml.ns.t").head.getLong(0) == 103)
  }

  test("a SQL UPDATE … WHERE k BETWEEN replaces only stat-intersecting files") {
    val (s, cat) = catalog("fpupd")
    import s.implicits._
    val t = new SnapshotTable(s, s"$cat/ns/t").create(
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "tag")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val far = t.files.filter(_.stats("k")._1 > 30).map(_.path).toSet
    assert(far.size == 2)
    s.sql("UPDATE fpupd.ns.t SET tag = 'u' WHERE k BETWEEN 10 AND 30")
    assert(far.subsetOf(t.files.map(_.path).toSet))
    assert(s.sql("SELECT count(*) FROM fpupd.ns.t WHERE tag = 'u'").head.getLong(0) == 21)
  }
}
