package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.lang.ref.WeakReference
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ExecutionException,
  ExecutorCompletionService, ExecutorService, Executors, Future}
import scala.collection.mutable

/** TPC-DS staging + oracle assembly around [[TpcdsSchema]].
  *
  * Spark side — the reference's load-then-query protocol
  * (TPCDSDataLoad.scala:95-129 loads once, TPCDSBenchmark.scala:84-108
  * then times queries): all 24 tables are generated ONCE per sf dir,
  * written to parquet, and served as temp views; every tpcds_q* query is
  * a pure read over the staged parquet, so Bench times the query, not
  * the generator, and Catalyst sees ordinary scans it can prune/broadcast.
  *
  * Oracle side — the same generator text is assembled as a DuckDB WITH
  * prelude in front of the same query body, so the driver's DuckDB run
  * computes from bit-identical inputs.
  *
  * At 100 TB the staging step IS the bulk-load benchmark (CTAS per table,
  * partitioned writes); queries then scan columnar storage with stats.
  */
object Tpcds {

  /** Generators staged together under one root per sf dir. `roots` maps
    * sf dir → root: paths, not sessions (rebind-safe). `deps` names the
    * tables each generator reads; those outside the batch must already
    * be registered when the batch is staged. */
  private[graft] final case class Batch(prefix: String,
      gens: Seq[(String, String)], deps: Map[String, Seq[String]],
      roots: ConcurrentHashMap[String, String] = new ConcurrentHashMap())

  /** The 24 TPC-DS tables. */
  private[graft] val Generated =
    Batch("graft_stage_tpcds", TpcdsSchema.generators, TpcdsSchema.deps)

  /** The flat s_* refresh sources — the reference's staged-CSV load phase
    * (IncrementalTPCDSBenchmark.scala:383-420). */
  private val RefreshFacts = Batch("graft_stage_refresh",
    TpcdsSchema.refreshSources, TpcdsSchema.refreshDeps)

  /** The dimension-side s_* refresh sources (TPCDSRefreshSchema.scala:
    * 28-562 dimension tables). */
  private val RefreshDims = Batch("graft_stage_refdims",
    TpcdsSchema.refreshDimSources, TpcdsSchema.refreshDimDeps)

  private val baseTables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Schema of each staged table, keyed by path. Views are registered
    * through `spark.read.schema(...)`, which lists the dir but runs no
    * job: a bare `spark.read.parquet` launches a footer-inference job per
    * call. The staged dirs are write-once, so the generator's schema is
    * the footers' schema. A schema, unlike a resolved DataFrame, holds no
    * session, so this JVM-wide map keeps none alive. */
  private val stagedSchemas = new ConcurrentHashMap[String, StructType]()

  /** Per session, keyed weakly: view name → (staged path, raw temp-view
    * object [[registerStaged]] installed). The view object is held
    * weakly too, since it refers to its session; while it is registered
    * the session's catalog keeps it alive. So nothing here keeps a
    * session or its view plans reachable. Guarded by this object's lock. */
  private val registered = new java.util.WeakHashMap[SparkSession,
    mutable.Map[String, (String, WeakReference[AnyRef])]]()

  private def viewsOf(spark: SparkSession) =
    registered.computeIfAbsent(spark, _ => mutable.Map.empty)

  /** Register `path`'s staged parquet as temp view `name` and record the
    * raw catalog object for re-point detection. */
  private def registerStaged(
      spark: SparkSession, name: String, path: String): Unit = {
    spark.read.schema(stagedSchemas.get(path)).parquet(path)
      .createOrReplaceTempView(name)
    spark.sessionState.catalog.getRawTempView(name).foreach(v =>
      viewsOf(spark)(name) = (path, new WeakReference[AnyRef](v)))
  }

  /** True while the temp view `name` still points at the exact object
    * [[registerStaged]] installed for `path` (identity compare — any
    * createOrReplaceTempView since produces a fresh relation object, so
    * an operator re-pointing a staged name, as the fixture `customer`
    * and the refresh protocol's `store_sales` do, is detected for the
    * cost of one catalog lookup). */
  private def stillRegistered(
      spark: SparkSession, name: String, path: String): Boolean =
    viewsOf(spark).get(name).exists { case (p, view) =>
      p == path &&
        spark.sessionState.catalog.getRawTempView(name).exists(_ eq view.get)
    }

  /** Stage (first use) and register the TPC-DS views for this sf dir.
    * Views some operator re-pointed since are re-registered, so every
    * call leaves all 24 in place (a sweep that re-pointed a staged view
    * hands it back through this). */
  def ensure(spark: SparkSession, sfDir: String): Unit = synchronized {
    register(spark, sfDir, Generated)
  }

  /** Stage (first use) and register the flat s_* refresh sources on top
    * of [[ensure]]'s tables. */
  def ensureRefresh(spark: SparkSession, sfDir: String): Unit = synchronized {
    ensure(spark, sfDir) // sources generate against the date_dim view
    register(spark, sfDir, RefreshFacts)
  }

  /** Stage (first use) and register the dimension-side s_* refresh
    * sources on top of [[ensure]]'s dimensions. */
  def ensureRefreshDims(spark: SparkSession, sfDir: String): Unit = synchronized {
    ensure(spark, sfDir)
    register(spark, sfDir, RefreshDims)
  }

  private def register(
      spark: SparkSession, sfDir: String, batch: Batch): Unit = {
    val root = stage(spark, sfDir, batch)
    batch.gens.foreach { case (name, _) =>
      val path = s"$root/$name"
      if (!stillRegistered(spark, name, path))
        registerStaged(spark, name, path)
    }
  }

  /** Root of `batch`'s staged tables for `sfDir`, staging them on first
    * use — the bulk load (TPCDSDataLoad.scala: one CTAS per table).
    *
    * The seven base fixtures are resolved concurrently and registered
    * first. Then the generators run on a pool of `defaultParallelism`
    * threads, each starting as soon as the batch tables it reads are
    * written and registered, and each table is registered once, from the
    * schema its generator produced. The pool is created per call so that
    * its threads inherit the caller's Spark local properties (job group)
    * and active session. If a generator fails, the batch's other jobs and
    * queued generators are cancelled and the running ones waited for
    * before its error is rethrown: no write outlives the call, and
    * `roots` records nothing. */
  private[graft] def stage(spark: SparkSession, sfDir: String,
      batch: Batch): String = synchronized {
    batch.roots.computeIfAbsent(sfDir, { _ =>
      val root = graft.Scratch.atExit(
        Files.createTempDirectory(batch.prefix).toString)
      val pool = Executors.newFixedThreadPool(
        spark.sparkContext.defaultParallelism)
      try {
        registerBase(spark, sfDir, pool)
        withStagingConfs(spark)(runGenerators(spark, batch, root, pool))
      } finally pool.shutdown()
      root
    })
  }

  /** Resolve the base fixtures on `pool` (a path's first `Tables.load`
    * runs a footer-inference job) and register them as the views the
    * generator SQL reads. The base `customer` is registered only as
    * `customer_src`: a CTE named `customer` cannot reference the base
    * `customer` in DuckDB (circular-reference rule), so both engines'
    * generators alias it, and the staged TPC-DS `customer` stays put. */
  private def registerBase(
      spark: SparkSession, sfDir: String, pool: ExecutorService): Unit = {
    val loads = baseTables.map(n =>
      pool.submit[DataFrame](() => Tables.load(spark, sfDir, n)))
    baseTables.zip(loads).foreach { case (n, load) =>
      val df = try load.get() catch { case e: ExecutionException => throw e.getCause }
      df.createOrReplaceTempView(if (n == "customer") "customer_src" else n)
    }
  }

  /** Stage each generator through REBALANCE (guide §2.5 input skew — "one
    * huge unsplittable file: fix at the source"): the generators run over
    * single-split fixture scans, so their natural output is ONE parquet
    * file per table — `inventory` would land 5.3M rows in one file that
    * every downstream query then scans single-task. REBALANCE makes AQE
    * size the output into advisory-sized pieces, a distributed bulk
    * load's shape (see [[withStagingConfs]]). Round-robin rebalance is
    * deterministic under Spark's sort-before-repartition default, and
    * every consumer is order-independent (aggregates / totally-ordered
    * selects; the DuckDB oracle computes from the generator SQL
    * directly). Runs on the caller's thread with the caller's lock held;
    * only the generators run on `pool`. */
  private def runGenerators(spark: SparkSession, batch: Batch, root: String,
      pool: ExecutorService): Unit = {
    val sc = spark.sparkContext
    val tag = s"${batch.prefix}-${java.util.UUID.randomUUID()}"
    val inBatch = batch.gens.map(_._1).toSet
    val waiting = mutable.LinkedHashMap.from(batch.gens)
    val written = mutable.Set.empty[String]
    val done = new ExecutorCompletionService[(String, StructType)](pool)
    val started = mutable.ArrayBuffer.empty[Future[(String, StructType)]]
    var running = 0
    var failure: Throwable = null
    def startReady(): Unit = if (failure == null) {
      val ready = waiting.filter { case (name, _) =>
        batch.deps.getOrElse(name, Nil).forall(d => written(d) || !inBatch(d))
      }
      ready.foreach { case (name, sql) =>
        waiting -= name
        running += 1
        started += done.submit { () =>
          sc.addJobTag(tag)
          val df = spark.sql(sql)
          df.hint("rebalance").write.mode("overwrite").parquet(s"$root/$name")
          (name, df.schema)
        }
      }
    }
    try {
      startReady()
      while (running > 0) {
        val next = done.take()
        running -= 1
        try {
          val (name, schema) = next.get()
          stagedSchemas.put(s"$root/$name", schema)
          registerStaged(spark, name, s"$root/$name")
          written += name
          startReady()
        } catch {
          // kept, not swallowed: rethrown below once nothing runs
          case e: Throwable => if (failure == null) {
            failure = e match { case x: ExecutionException => x.getCause; case x => x }
            sc.cancelJobsWithTag(tag)
            started.foreach(_.cancel(false))
          }
        }
      }
    } finally if (running > 0) sc.cancelJobsWithTag(tag)
    if (failure != null) throw failure
    require(waiting.isEmpty,
      s"generators whose deps never staged: ${waiting.keys.mkString(", ")}")
  }

  /** Set the staging write's AQE confs around a whole batch and restore
    * them after; they are session-global, so per-generator brackets on
    * concurrent threads would race. The advisory
    * (`spark.graft.stage.advisoryBytes`, default 8m of in-memory shuffle
    * bytes) yields dozens of files for the fact-sized sources at sf0.1
    * and one file for dims; production raises it to 64-256m for
    * object-store-friendly files. parallelismFirst must be OFF: with the
    * default (true) AQE coalesces rebalance output only down to
    * defaultParallelism using minPartitionSize (1 MB), so every small
    * staged table sprays into ~core-count tiny files and each downstream
    * scan pays per-file overhead (measured: q14a/b +30% from 9 fact
    * scans × tiny files). With it off, the advisory genuinely sizes the
    * output. */
  private def withStagingConfs[T](spark: SparkSession)(body: => T): T = {
    val confs = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> spark.conf
        .getOption("spark.graft.stage.advisoryBytes").getOrElse("8m"),
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    val prior = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** The correctness gate always runs DuckDB at this sf (TESTDATA.md). */
  private val OracleSfDir = "/root/testdata/sf0.01"

  private def allGens: Seq[(String, String)] =
    TpcdsSchema.generators ++ TpcdsSchema.refreshSources ++
      TpcdsSchema.refreshDimSources

  private def depsOf(t: String): Seq[String] =
    TpcdsSchema.deps.getOrElse(t,
      TpcdsSchema.refreshDeps.getOrElse(t, TpcdsSchema.refreshDimDeps(t)))

  /** Assemble the DuckDB oracle: generator CTEs (transitive deps, in
    * declaration order) + the identical query body. */
  def oracle(tables: Seq[String], body: String): String = {
    val gen = allGens.toMap
    val need = scala.collection.mutable.LinkedHashSet[String]()
    def add(t: String): Unit = if (!need.contains(t)) {
      depsOf(t).foreach(add)
      need += t
    }
    // keep generator declaration order for the closure
    val closure = {
      tables.foreach(add)
      allGens.map(_._1).filter(need.contains)
    }
    val shim =
      if (closure.exists(TpcdsSchema.needsCustomerSrc.contains))
        Seq("customer_src AS (SELECT * FROM read_parquet('" +
          s"$OracleSfDir/customer.parquet'))")
      else Seq.empty
    val ctes = shim ++ closure.map(t => s"$t AS (${gen(t)})")
    val prelude = ctes.mkString(",\n")
    val b = body.trim
    if (b.regionMatches(true, 0, "WITH", 0, 4))
      s"WITH $prelude,\n${b.substring(4)}"
    else
      s"WITH $prelude\n$b"
  }
}
