package graft

import graft.sources.{Tpcds, TpcdsSchema}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

/** `Tpcds` stages its generators concurrently and registers each staged
  * table from the schema its generator produced. These tests pin what
  * that must not change: each view holds exactly its generator's rows,
  * under the schema the written footers carry, and a failing generator
  * leaves neither a recorded root nor a running job behind. */
class TpcdsStagingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val Marker = "graft.staging.marker"

  /** Count and order-insensitive content hash of a relation. */
  private def digest(sql: String): (Long, BigDecimal) = {
    val r = spark.sql(s"SELECT COUNT(*), " +
      s"SUM(CAST(xxhash64(*) AS DECIMAL(38,0))) FROM ($sql) t").collect()(0)
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(
      java.math.BigDecimal.ZERO)))
  }

  test("each staged view holds exactly its generator's rows") {
    // the generator SQL reads the base fixtures; other suites may have
    // pointed those names at another sf dir
    Seq("nation", "part", "orders", "lineitem").foreach(n =>
      Tables.load(spark, sf, n).createOrReplaceTempView(n))
    Tables.load(spark, sf, "customer").createOrReplaceTempView("customer_src")
    Tpcds.ensure(spark, sf)
    TpcdsSchema.generators.foreach { case (name, sql) =>
      val staged = digest(s"SELECT * FROM $name")
      assert(staged._1 > 0, s"$name staged no rows")
      assert(staged == digest(sql), s"$name differs from its generator")
    }
  }

  test("each registered schema equals the schema of the written footers") {
    Tpcds.ensure(spark, sf)
    val root = Tpcds.Generated.roots.get(sf)
    TpcdsSchema.generators.foreach { case (name, _) =>
      assert(spark.table(name).schema ==
        spark.read.parquet(s"$root/$name").schema, name)
    }
  }

  test("a failing generator stages nothing and leaves no job running") {
    // a path of its own, so this JVM has not staged it yet
    val dir = Files.createTempDirectory("graft_staging_spec")
    val sfLink = Files.createSymbolicLink(dir.resolve("sf"), Paths.get(sf)).toString
    val broken = Tpcds.Generated.copy(gens =
      Seq("slow" -> ("SELECT a.id % 1000 AS k, COUNT(*) AS n " +
        "FROM range(0, 6000) a CROSS JOIN range(0, 6000) b GROUP BY 1")) ++
        TpcdsSchema.generators.take(2) ++
        Seq("broken" ->
          "SELECT CAST(raise_error('staging probe') AS INT) AS x FROM range(4)",
          "after_broken" -> "SELECT * FROM broken"),
      deps = TpcdsSchema.deps + ("after_broken" -> Seq("broken")))
    val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val advBefore = spark.conf.get(adv)

    val active = ConcurrentHashMap.newKeySet[Int]()
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      private var marker = -1 // listener events arrive on one thread
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Marker) != null))
          marker = e.jobId
        else active.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        active.remove(e.jobId)
        if (e.jobId == marker) markerDone.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val err = intercept[Throwable](Tpcds.stage(spark, sfLink, broken))
      val chain = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(e => String.valueOf(e.getMessage)
        .contains("staging probe")), err)
      assert(Tpcds.Generated.roots.get(sfLink) == null)
      assert(spark.conf.get(adv) == advBefore)
      // the marker job starts after every job the call ran has ended or
      // been cancelled, so once its end is seen, `active` is up to date
      spark.sparkContext.setLocalProperty(Marker, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(Marker, null)
      assert(markerDone.await(60, TimeUnit.SECONDS))
      assert(active.isEmpty, s"jobs still running: $active")
    } finally spark.sparkContext.removeSparkListener(listener)

    Tpcds.ensure(spark, sfLink)
    val root = Tpcds.Generated.roots.get(sfLink)
    assert(root != null)
    assert(spark.table("store_sales").inputFiles.forall(_.contains(root)))
    assert(spark.table("store_sales").count() > 0)
  }
}
