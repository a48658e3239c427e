package graft.operators

import graft.{OpQuery, Tables}
import graft.sources.{GraftDatabase, Ingest, SnapshotTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import java.nio.file.Files

/** Lakehouse DML demos wired through [[SnapshotTable]]: MERGE (CoW and
  * MoR), compaction round-trip, shallow clone, vacuum, history, CSV
  * ingest, seeded synthetic generation, controlled file layout.
  *
  * Base tables are STAGED once per sf dir (the reference also separates
  * the load phase from the measured DML/probe phase —
  * IncrementalTPCDSBenchmark.scala:121-184 loads, then times merges);
  * each timed DML run starts from a metadata-only [[SnapshotTable
  * .shallowCloneTo]] of the staged base, so what Bench measures is the
  * DML itself, and repeated iterations stay independent without
  * rebuilding the base.
  */
object Lakehouse {

  /** Per-run scratch dir — swept by the harness after materialization. */
  private def tmp(prefix: String): String = graft.Scratch.dir(prefix)

  /** Staged (cached, reused across queries/iterations) root — reclaimed
    * at JVM exit, never swept mid-run. */
  private def stagedTmp(prefix: String): String =
    graft.Scratch.atExit(Files.createTempDirectory(s"graft_$prefix").toString)

  /** Pre-built read-only base-table ROOTS keyed by (sf dir, spec) —
    * built on first use, reused across queries and iterations. Paths,
    * not SnapshotTable instances: an instance is bound to the session
    * that built it, and a second session in the same JVM would
    * otherwise read through a stopped SparkContext. */
  private val stagedRoots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private[operators] def staged(s: SparkSession, d: String, spec: String)(
      build: String => Unit): SnapshotTable =
    new SnapshotTable(s,
      stagedRoots.computeIfAbsent((d, spec), _ => {
        val r = stagedTmp(s"stage_$spec"); build(r); r
      }))

  /** orders partitioned by o_orderstatus — the CoW/MoR merge target
    * (shared with the refresh pipeline and the streaming merge). */
  private[graft] def stagedOrders(s: SparkSession, d: String): SnapshotTable =
    staged(s, d, "orders_parted")(r => new SnapshotTable(s, r)
      .create(Tables.load(s, d, "orders"), partitionBy = Some("o_orderstatus")))

  /** lineitem as 32 small files — compaction input + flat probe table. */
  private def stagedLineitem32(s: SparkSession, d: String): SnapshotTable =
    staged(s, d, "lineitem32")(r => new SnapshotTable(s, r)
      .create(Tables.load(s, d, "lineitem").repartition(32)))

  /** lineitem partitioned by l_returnflag — partition-filter probes. */
  private def stagedLineitemParted(s: SparkSession, d: String): SnapshotTable =
    staged(s, d, "lineitem_parted")(r => new SnapshotTable(s, r)
      .create(Tables.load(s, d, "lineitem"), partitionBy = Some("l_returnflag")))

  /** lineitem range-clustered on l_orderkey (8 files with disjoint key
    * spans) — the predicate-DML target: `delete`/`update` rewrite only
    * the files whose footer [min,max] intersects the predicate. */
  private def stagedLineitemRange(s: SparkSession, d: String): SnapshotTable =
    staged(s, d, "lineitem_range")(r => new SnapshotTable(s, r)
      .create(Tables.load(s, d, "lineitem")
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")))

  /** orders with the UNTRACKED first MoR round's deltas pending
    * (mergeSource bumps %10 keys by +1000, inserts %17 clones) — the
    * shared rewrite base for cdc_mor_read's tracked rounds. */
  private def stagedOrdersMor1(s: SparkSession, d: String): SnapshotTable =
    staged(s, d, "orders_mor1")(r => new SnapshotTable(s, r)
      .create(Tables.load(s, d, "orders"), partitionBy = Some("o_orderstatus"))
      .merge(mergeSource(Tables.load(s, d, "orders")),
        Seq("o_orderkey", "o_orderstatus"), partitionBy = Some("o_orderstatus"),
        deferred = true))

  // MERGE INTO … UPDATE SET * / INSERT * (reference:
  // IncrementalTPCDSBenchmark.scala:276-281), partition-pruned CoW on
  // o_orderstatus. Keys = (o_orderkey, o_orderstatus) = PK ∪ partition
  // key, the reference's own key rule (:274).
  private[graft] def mergeSource(o: DataFrame): DataFrame =
    o.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName(
        o.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("o_orderstatus", lit("O")))

  private val mergeUpsert = OpQuery(
    "merge_upsert",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'O', o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 17 = 0)
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
      FROM (
        SELECT * FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT * FROM src)
      ORDER BY o_orderkey, o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val table = stagedOrders(s, d).shallowCloneTo(tmp("merge"))
        .merge(mergeSource(o), keys = Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"))
      table.read()
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .orderBy("o_orderkey", "o_orderstatus")
    })

  // Compaction round-trip: 32 small files → 4, data unchanged
  // (reference compact: IncrementalTPCDSBenchmark.scala:186-204).
  private val compactRoundtrip = OpQuery(
    "compaction_roundtrip",
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """),
    (s, d) => {
      val table = stagedLineitem32(s, d).shallowCloneTo(tmp("compact"))
        .compact(numFiles = 4)
      table.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("l_quantity")))).as("sum_qty"))
        .orderBy("l_returnflag")
    })

  // DESCRIBE HISTORY analog over a clone→merge→compact lifecycle.
  // num_files depends on write parallelism (engine metadata) and is
  // excluded; (version, operation, num_rows) is oracle-checkable because
  // the merge source's insert arithmetic is reproducible in SQL.
  private val history = OpQuery(
    "snapshot_history",
    Some("""
      WITH base AS (SELECT COUNT(*) AS n FROM orders),
           ins  AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 17 = 0)
      SELECT * FROM (
        SELECT 0 AS version, 'CLONE' AS operation,
               CAST((SELECT n FROM base) AS BIGINT) AS num_rows
        UNION ALL
        SELECT 1, 'MERGE',
               CAST((SELECT n FROM base) + (SELECT n FROM ins) AS BIGINT)
        UNION ALL
        SELECT 2, 'COMPACT',
               CAST((SELECT n FROM base) + (SELECT n FROM ins) AS BIGINT))
      ORDER BY version
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val table = stagedOrders(s, d).shallowCloneTo(tmp("hist"))
        .merge(mergeSource(o), Seq("o_orderkey", "o_orderstatus"),
          Some("o_orderstatus"))
        .compact(2, Some("o_orderstatus"))
      table.history.select("version", "operation", "num_rows")
    })

  // Schema'd pipe-delimited CSV ingest round-trip (reference:
  // IncrementalTPCDSBenchmark.scala:422-443).
  private val csvIngest = OpQuery(
    "csv_ingest",
    Some("""
      SELECT n_nationkey, n_name, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
      ORDER BY n_nationkey
    """),
    (s, d) => {
      val dir = tmp("csv")
      Tables.load(s, d, "nation").write.mode("overwrite")
        .option("delimiter", "|").option("header", "false").csv(s"$dir/nation")
      val schema = StructType.fromDDL(
        "n_nationkey INT, n_name STRING, n_regionkey INT")
      Ingest.readCsv(s, s"$dir/nation", schema)
        .join(broadcast(Tables.load(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    })

  // ORC round-trip: the second columnar format Spark serves natively —
  // written partitioned, read back through the partition-pruned path.
  // DuckDB cannot read ORC, so the oracle checks the round-tripped
  // CONTENT against the base table (same pattern as csv_ingest).
  private val orcRoundtrip = OpQuery(
    "orc_roundtrip",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val dir = tmp("orc")
      Tables.load(s, d, "orders")
        .write.mode("overwrite").partitionBy("o_orderstatus").orc(dir)
      s.read.orc(dir)
        .filter(col("o_orderstatus") === "F") // partition-pruned scan
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("o_orderstatus")
    })

  // JSON-lines ingest with a declared schema (the third ingest format a
  // pipeline meets; schema declared up front like the reference's CSV
  // loads — no sampling-based inference pass at 100 TB).
  private val jsonIngest = OpQuery(
    "json_ingest",
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderkey < 10000
      GROUP BY o_orderpriority ORDER BY o_orderpriority
    """),
    (s, d) => {
      val dir = tmp("json")
      Tables.load(s, d, "orders").filter(col("o_orderkey") < 10000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").json(dir)
      s.read
        .schema("o_orderkey LONG, o_orderpriority STRING, o_totalprice DOUBLE")
        .json(dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("o_orderpriority")
    })

  // Seeded synthetic generation (merge-micro table shape,
  // MergeMicroBenchmark.scala:225-229 — rand() replaced by exact
  // multiplicative hashing so the oracle can reproduce it).
  private val datagen = OpQuery(
    "synthetic_datagen",
    Some("""
      SELECT id AS key,
             ((id * 2654435761) % 1000003) / 1000.0 AS value,
             'v' || CAST((id * 31) % 97 AS VARCHAR) AS value2,
             id % 7 AS partition
      FROM range(0, 10000) t(id)
      ORDER BY key
    """),
    (s, _) => Ingest.synthetic(s, 10000).orderBy("key"))

  // Controlled file layout: exactly 8 files, sorted within files for
  // tight min/max stats (FileCountBenchmark.scala:230-232). The oracle
  // asserts the invariant (file count + preserved rows), not file names.
  private val fileLayout = OpQuery(
    "file_layout",
    Some("""
      SELECT 8 AS n_files, (SELECT COUNT(*) FROM lineitem) AS n_rows
    """),
    (s, d) => {
      val dir = tmp("layout")
      Ingest.controlledLayout(Tables.load(s, d, "lineitem"), dir, 8,
        Seq("l_shipdate", "l_orderkey"))
      // input_file_name() must be projected before aggregating (ANSI
      // analyzer rejects nondeterministic expressions inside aggs).
      s.read.parquet(dir)
        .select(input_file_name().as("f"))
        .agg(
          countDistinct(col("f")).cast(IntegerType).as("n_files"),
          count(lit(1)).as("n_rows"))
    })

  // Denormalizing refresh view staged through parquet (reference A14/A15:
  // cache view results as parquet, IncrementalTPCDSBenchmark.scala:355-420).
  private val refreshView = OpQuery(
    "refresh_view_staged",
    Some("""
      SELECT l_orderkey, l_linenumber, o_custkey, c_mktsegment, n_name,
             l_extendedprice AS price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
      WHERE l_quantity >= 48.0
      ORDER BY l_orderkey, l_linenumber, price, o_custkey, c_mktsegment, n_name
    """),
    (s, d) => {
      val dir = tmp("refresh")
      val flat = Tables.load(s, d, "lineitem").filter(col("l_quantity") >= 48.0)
        .join(Tables.load(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("c_mktsegment"), col("n_name"),
          col("l_extendedprice").as("price"))
      // stage to parquet, then serve the staged copy (refresh-view cache)
      flat.write.mode("overwrite").parquet(s"$dir/flat")
      // (l_orderkey, l_linenumber) is not unique in the fixtures — sort
      // by every output column so tied rows compare identically.
      s.read.parquet(s"$dir/flat")
        .orderBy("l_orderkey", "l_linenumber", "price", "o_custkey",
          "c_mktsegment", "n_name")
    })

  // File-count read-probe battery (reference: FileCountBenchmark.scala:
  // 242-279 — limit-1 / count / partition-filter / value-filter probes
  // over a many-file table). The flat table holds 64 files; partition
  // pruning and the manifest COUNT run on metadata alone. The oracle
  // asserts the answers, a spec asserts the planning path.
  private val filecountProbes = OpQuery(
    "filecount_probes",
    Some("""
      SELECT * FROM (
        SELECT 'count' AS probe, (SELECT COUNT(*) FROM lineitem) AS n
        UNION ALL
        SELECT 'limit1', 1
        UNION ALL
        SELECT 'manifest_count', (SELECT COUNT(*) FROM lineitem)
        UNION ALL
        SELECT 'partition_filter', (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'A')
        UNION ALL
        SELECT 'value_filter', (SELECT COUNT(*) FROM lineitem WHERE l_quantity >= 49.0))
      ORDER BY probe
    """),
    (s, d) => {
      import s.implicits._
      // Build the probe tables once per sf dir and reuse across
      // iterations — the reference protocol also probes a pre-built
      // table with warm medians (FileCountBenchmark.scala:251-279); the
      // probes are read-only, so reuse cannot change results. The cache
      // holds paths; SnapshotTable handles rebind to the current session.
      val flat = stagedLineitem32(s, d)
      val parted = stagedLineitemParted(s, d)
      val ranged = Governance.stagedLineitemRanged(s, d)
      Seq(
        ("count", flat.read().count()),
        ("limit1", flat.read().limit(1).count()),
        ("manifest_count", flat.countFromManifest), // zero data files read
        // both filters prune in the scan's file planner: the partition
        // filter on the manifest's partition values, the value filter on
        // per-file footer stats (the Delta-stats skipping the reference's
        // file-count value probe measures)
        ("partition_filter",
          parted.read().filter(col("l_returnflag") === "A").count()),
        ("value_filter", ranged.read().filter(col("l_quantity") >= 49.0).count()))
        .toDF("probe", "n")
        .orderBy("probe")
    })

  // DESCRIBE DETAIL gate entry (reference: MergeMicroBenchmark.scala:
  // 267-281 queries table detail after every merge round). num_files/
  // bytes are parallelism-dependent engine metadata; version + row count
  // are oracle-checkable.
  private val detail = OpQuery(
    "snapshot_detail",
    Some("""
      WITH base AS (SELECT COUNT(*) AS n FROM orders),
           ins  AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 17 = 0)
      SELECT 1 AS version,
             CAST((SELECT n FROM base) + (SELECT n FROM ins) AS BIGINT) AS num_rows
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val table = stagedOrders(s, d).shallowCloneTo(tmp("detail"))
        .merge(mergeSource(o), Seq("o_orderkey", "o_orderstatus"),
          Some("o_orderstatus"))
      table.detail.select("version", "num_rows")
    })

  // Catalog DDL round-trip THROUGH PERSISTED METADATA (reference:
  // TPCDSDataLoad.scala:91-92 CREATE DATABASE + CTAS against a
  // metastore, then TPCDSBenchmark.scala:93 `USE $dbName` in a LATER
  // session). No metastore service exists in the sandbox, so the
  // restart is emulated the only honest way available: external CTAS →
  // GraftCatalog.save (metadata manifest) → DROP DATABASE CASCADE (the
  // in-memory ExternalCatalog forgets everything, exactly what a JVM
  // restart does to it; external data files survive) →
  // GraftCatalog.restore → `USE` + UNQUALIFIED names. The query below
  // resolves entirely against re-attached tables — if the manifest
  // round-trip lost anything, analysis fails, not just the hash.
  private val ddlRoundtrip = OpQuery(
    "catalog_ddl_roundtrip",
    Some("""
      SELECT n_nationkey, n_name, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
      ORDER BY n_nationkey
    """),
    (s, d) => {
      val loc = tmp("ddl_loc")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_ddl_db")
      Seq("nation", "region").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS graft_ddl_db.${t}_ddl")
        Tables.load(s, d, t).createOrReplaceTempView(s"${t}_src")
        s.sql(s"CREATE TABLE graft_ddl_db.${t}_ddl USING PARQUET " +
          s"LOCATION '$loc/${t}_ddl' AS SELECT * FROM ${t}_src")
      }
      val manifest = s"$loc/catalog.json"
      graft.sources.GraftCatalog.save(s, "graft_ddl_db", manifest)
      s.sql("DROP DATABASE graft_ddl_db CASCADE")
      graft.sources.GraftCatalog.restore(s, manifest)
      s.sql("USE graft_ddl_db")
      try s.sql("""
        SELECT n_nationkey, n_name, r_name
        FROM nation_ddl JOIN region_ddl ON n_regionkey = r_regionkey
        ORDER BY n_nationkey""")
      finally s.sql("USE default")
    })

  // Bucketed co-located join: both sides written bucketed by the join
  // key into the session catalog, so the join needs NO shuffle exchange
  // on either side (bucket counts match) — the pre-partitioning
  // technique that turns the biggest fact-fact join at 100 TB into a
  // local merge per bucket. Shuffle-elimination is asserted in
  // BucketedJoinSpec; values are oracle-checked here.
  private val bucketedJoin = OpQuery(
    "bucketed_colocated_join",
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity >= 49.0
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """),
    (s, d) => {
      // Bucketed ingest is load-phase work (like the reference's CTAS
      // load); build once per session+sf dir, then time only the
      // shuffle-free join. Catalog tables are session-scoped, so the
      // existence check is the correct staging guard here.
      val suffix = d.replaceAll("[^A-Za-z0-9]", "_")
      val (ordersB, lineitemB) = (s"graft_db.orders_b_$suffix", s"graft_db.lineitem_b_$suffix")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_db")
      if (!s.catalog.tableExists(ordersB)) {
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_orderpriority")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .format("parquet").saveAsTable(ordersB)
        Tables.load(s, d, "lineitem")
          .filter(col("l_quantity") >= 49.0)
          .select("l_orderkey", "l_extendedprice")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .format("parquet").saveAsTable(lineitemB)
      }
      s.table(lineitemB)
        .join(s.table(ordersB), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("l_extendedprice")))).as("sum_price"))
        .orderBy("o_orderpriority")
    })

  // MERGE … WHEN MATCHED THEN DELETE (CoW): the delete source names only
  // the 'F' partition, so partition pruning rewrites one partition and
  // carries the others over by reference.
  private val mergeDelete = OpQuery(
    "merge_delete",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE NOT (o_orderkey % 13 = 0 AND o_orderstatus = 'F')
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val del = o
        .filter(col("o_orderkey") % 13 === 0 && col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderstatus")
      val table = stagedOrders(s, d).shallowCloneTo(tmp("mdel"))
        .merge(del, Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"), deleteMatched = true)
      table.read().groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("o_orderstatus")
    })

  // Time-travel read (Delta `VERSION AS OF` analog): the manifest log
  // keeps every version's file list, so reading version 0 after a MERGE
  // is pure metadata — no undo, no copy.
  private val timeTravel = OpQuery(
    "time_travel_read",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'O', o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0),
      merged AS (
        SELECT o_totalprice FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT o_totalprice FROM src)
      SELECT 0 AS version, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      UNION ALL
      SELECT 1, COUNT(*),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM merged
      ORDER BY version
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val table = stagedOrders(s, d).shallowCloneTo(tmp("tt"))
        .merge(mergeSource(o), Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"))
      def snap(v: Int) = table.read(v)
        .agg(count(lit(1)).as("n_rows"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"))
      snap(0).unionByName(snap(1)).orderBy("version")
    })

  // TIMESTAMP AS OF time travel: the same clone→merge lifecycle read
  // back through readAsOf(commit instant) instead of version numbers —
  // resolution is pure manifest metadata (monotonic commit timestamps).
  private val timeTravelTs = OpQuery(
    "time_travel_timestamp",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'O', o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0),
      merged AS (
        SELECT o_totalprice FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT o_totalprice FROM src)
      SELECT 0 AS snap, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      UNION ALL
      SELECT 1, COUNT(*),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM merged
      ORDER BY snap
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val table = stagedOrders(s, d).shallowCloneTo(tmp("ttts"))
        .merge(mergeSource(o), Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"))
      def snap(v: Int) = table.readAsOf(table.commitTimestamp(v))
        .agg(count(lit(1)).as("n_rows"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .select(lit(v).as("snap"), col("n_rows"), col("sum_price"))
      snap(0).unionByName(snap(1)).orderBy("snap")
    })

  // Optimistic concurrency: two writers MERGE disjoint partition slices
  // (status F / status O) from racing threads — both commit (a lost
  // manifest race retries metadata-only, ConcurrencySpec pins the
  // interleavings deterministically); the final state is order-
  // independent because the slices are disjoint.
  private val concurrentMerge = OpQuery(
    "concurrent_merge_disjoint",
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(CASE
               WHEN o_orderkey % 10 = 0 AND o_orderstatus = 'F'
                 THEN o_totalprice + 111.0
               WHEN o_orderkey % 10 = 0 AND o_orderstatus = 'O'
                 THEN o_totalprice + 222.0
               ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
    """),
    (s, d) => {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val o = Tables.load(s, d, "orders")
      val t = stagedOrders(s, d).shallowCloneTo(tmp("occ"))
      def src(status: String, bump: Double) =
        o.filter(col("o_orderkey") % 10 === 0 && col("o_orderstatus") === status)
          .withColumn("o_totalprice", col("o_totalprice") + bump)
      val merges = Seq(("F", 111.0), ("O", 222.0)).map { case (st, b) =>
        Future(t.merge(src(st, b),
          keys = Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus")))
      }
      Await.result(Future.sequence(merges), Duration.Inf)
      t.read().agg(count(lit(1)).as("n_rows"),
        graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
          .as("sum_price"))
    })

  // Malformed-row CSV ingest: PERMISSIVE parse with a corrupt-record
  // column — bad rows are captured, not dropped or fatal (the ingest
  // robustness a real pipeline needs; reference CSV loads assume clean
  // dsdgen output, IncrementalTPCDSBenchmark.scala:422-443). Rows whose
  // orderkey % 7 = 0 get a deliberately unparseable price field.
  private val csvMalformed = OpQuery(
    "csv_malformed_ingest",
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
             CAST(SUM(CASE WHEN o_orderkey % 7 <> 0
                           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderkey < 500
    """),
    (s, d) => {
      val dir = tmp("csvbad")
      Tables.load(s, d, "orders").filter(col("o_orderkey") < 500)
        .select(concat_ws("|",
          col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0,
            concat(lit("x"), col("o_totalprice")))
            .otherwise(col("o_totalprice").cast("string")),
          col("o_orderstatus")).as("value"))
        .write.mode("overwrite").text(dir)
      s.read
        .schema("o_orderkey LONG, o_totalprice DOUBLE, o_orderstatus STRING, _bad STRING")
        .option("delimiter", "|")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(dir)
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("_bad")).as("n_corrupt"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
    })

  // Schema evolution: two table generations (the newer one adds a
  // column), read together with mergeSchema — old rows surface NULL for
  // the added column, the lakehouse add-column contract.
  private val schemaEvolution = OpQuery(
    "schema_evolution",
    Some("""
      WITH u AS (
        SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, 'web' FROM orders WHERE o_orderkey % 2 = 1)
      SELECT o_channel, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM u GROUP BY o_channel ORDER BY o_channel NULLS FIRST
    """),
    (s, d) => {
      val dir = tmp("evo")
      val o = Tables.load(s, d, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/gen1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          lit("web").as("o_channel"))
        .write.mode("overwrite").parquet(s"$dir/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$dir/gen1", s"$dir/gen2")
        .groupBy("o_channel")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy(col("o_channel").asc_nulls_first)
    })

  // Incremental view maintenance across a MERGE: the materialized
  // aggregate is updated as old_agg − agg(replaced rows) + agg(source)
  // instead of a full recompute. The replaced-row scan is a semi join
  // against the delta (partition-prunable, like the CoW merge itself);
  // every term stays in exact decimal so the combination is exact. The
  // oracle recomputes from scratch on the merged state — passing PROVES
  // incremental == full.
  private val incrementalAgg = OpQuery(
    "incremental_agg_maintenance",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'O', o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0),
      merged AS (
        SELECT o_orderstatus, o_totalprice FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM src)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      import graft.Cols.{dec, moneyOut}
      val o = Tables.load(s, d, "orders")
      val src = mergeSource(o)
      val keys = Seq("o_orderkey", "o_orderstatus")
      def aggOf(df: DataFrame) = df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("sp"))
      val oldAgg = aggOf(o)
        .select(col("o_orderstatus"), col("n").as("n0"), col("sp").as("s0"))
      val replaced = aggOf(o.join(src.select(keys.map(col): _*), keys, "left_semi"))
        .select(col("o_orderstatus"), col("n").as("nm"), col("sp").as("sm"))
      val added = aggOf(src)
        .select(col("o_orderstatus"), col("n").as("ns"), col("sp").as("ss"))
      oldAgg
        .join(replaced, Seq("o_orderstatus"), "full_outer")
        .join(added, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("n0"), lit(0L)) - coalesce(col("nm"), lit(0L)) +
            coalesce(col("ns"), lit(0L))).as("n"),
          moneyOut(
            coalesce(col("s0"), lit(0).cast("decimal(18,2)")) -
              coalesce(col("sm"), lit(0).cast("decimal(18,2)")) +
              coalesce(col("ss"), lit(0).cast("decimal(18,2)"))).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  // Incremental JOIN-view maintenance: the materialized view is an
  // aggregate over orders ⋈ customer, and a MERGE-shaped delta on the
  // FACT side is folded in without touching the full fact table again —
  // the classical delta-join rule ΔV = agg(ΔO ⋈ C) applied as
  // V' = V − agg(replaced ⋈ C) + agg(source ⋈ C). Both correction
  // terms join only delta-sized frames against the broadcast dimension,
  // so maintenance cost is O(|Δ|) regardless of fact size — at 100 TB
  // the full recompute re-shuffles the world while this re-joins one
  // batch. Exact decimal terms make subtract-then-add lossless; the
  // oracle recomputes the view from scratch on the merged state, so
  // passing PROVES incremental == full.
  private val incrementalJoin = OpQuery(
    "incremental_join_maintenance",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'O', o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0),
      merged AS (
        SELECT o_custkey, o_totalprice FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT o_custkey, o_totalprice FROM src)
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM merged JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment
    """),
    (s, d) => {
      import graft.Cols.{dec, moneyOut}
      val o = Tables.load(s, d, "orders")
      val c = Tables.load(s, d, "customer")
      val src = mergeSource(o)
      val keys = Seq("o_orderkey", "o_orderstatus")
      def aggOf(df: DataFrame) = df
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("sp"))
      val oldAgg = aggOf(o)
        .select(col("c_mktsegment"), col("n").as("n0"), col("sp").as("s0"))
      val replaced = aggOf(o.join(src.select(keys.map(col): _*), keys, "left_semi"))
        .select(col("c_mktsegment"), col("n").as("nm"), col("sp").as("sm"))
      val added = aggOf(src)
        .select(col("c_mktsegment"), col("n").as("ns"), col("sp").as("ss"))
      oldAgg
        .join(replaced, Seq("c_mktsegment"), "full_outer")
        .join(added, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          (coalesce(col("n0"), lit(0L)) - coalesce(col("nm"), lit(0L)) +
            coalesce(col("ns"), lit(0L))).as("n"),
          moneyOut(
            coalesce(col("s0"), lit(0).cast("decimal(18,2)")) -
              coalesce(col("sm"), lit(0).cast("decimal(18,2)")) +
              coalesce(col("ss"), lit(0).cast("decimal(18,2)"))).as("sum_price"))
        .filter(col("n") > 0)
        .orderBy("c_mktsegment")
    })

  // ---------------------------------------------------------------
  // Atomic multi-table transactions (GraftDatabase): the facts table
  // and its maintained summary are mutated in one transaction — the
  // MERGE into facts and the summary refresh publish as ONE db-snapshot
  // commit, so a consistent reader can never see the new facts beside
  // the stale summary. The entry reads BOTH tables through the latest
  // db snapshot and joins live recount vs stored summary; the oracle
  // asserts they are the same numbers, which only holds if the publish
  // was atomic. Cross-table time travel (the whole database AS OF the
  // first txn) is gated separately below.
  private def txnDbSummary(df: DataFrame): DataFrame = {
    import graft.Cols.dec
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("sp"))
  }

  private def stagedTxnDb(s: SparkSession, d: String): GraftDatabase =
    new GraftDatabase(s, stagedRoots.computeIfAbsent((d, "mtxn_db"), _ => {
      val r = stagedTmp("stage_mtxn_db")
      val db = new GraftDatabase(s, r)
      val o = Tables.load(s, d, "orders")
      db.transact(Seq("facts", "summary")) { db =>
        db.table("facts").create(o, partitionBy = Some("o_orderstatus")): Unit
        db.table("summary").create(txnDbSummary(o)): Unit
      }
      db.transact(Seq("facts", "summary")) { db =>
        val t = db.table("facts").merge(mergeSource(o),
          Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"))
        db.table("summary").overwrite(txnDbSummary(t.read())): Unit
      }
      r
    }))

  private val multiTableTxnOracle = """
      WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'O', o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0),
      merged AS (
        SELECT o_orderstatus, o_totalprice FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM src),
      agg AS (
        SELECT o_orderstatus, COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        FROM merged GROUP BY o_orderstatus)
      SELECT o_orderstatus, n AS n_live, CAST(sp AS DOUBLE) AS sum_live,
             n AS n_summary, CAST(sp AS DOUBLE) AS sum_summary
      FROM agg ORDER BY o_orderstatus
    """

  private val multiTableTxn = OpQuery(
    "multi_table_txn",
    Some(multiTableTxnOracle),
    (s, d) => {
      import graft.Cols.{dec, moneyOut}
      val db = stagedTxnDb(s, d)
      val live = db.read("facts").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_live"),
          moneyOut(sum(dec(col("o_totalprice")))).as("sum_live"))
      val summ = db.read("summary").select(col("o_orderstatus"),
        col("n").as("n_summary"), moneyOut(col("sp")).as("sum_summary"))
      live.join(summ, Seq("o_orderstatus")).orderBy("o_orderstatus")
    })

  // The whole database AS OF its first transaction: both members
  // resolve to their v0 pins — the pre-merge state — in one consistent
  // cross-table read.
  private val multiTableTxnAsof = OpQuery(
    "multi_table_txn_asof",
    Some("""
      WITH agg AS (
        SELECT o_orderstatus, COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        FROM orders GROUP BY o_orderstatus)
      SELECT o_orderstatus, n AS n_live, CAST(sp AS DOUBLE) AS sum_live,
             n AS n_summary, CAST(sp AS DOUBLE) AS sum_summary
      FROM agg ORDER BY o_orderstatus
    """),
    (s, d) => {
      import graft.Cols.{dec, moneyOut}
      val db = stagedTxnDb(s, d)
      val live = db.read("facts", dbVersion = 0).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_live"),
          moneyOut(sum(dec(col("o_totalprice")))).as("sum_live"))
      val summ = db.read("summary", dbVersion = 0).select(col("o_orderstatus"),
        col("n").as("n_summary"), moneyOut(col("sp")).as("sum_summary"))
      live.join(summ, Seq("o_orderstatus")).orderBy("o_orderstatus")
    })

  // The transaction database addressed purely by SQL names: the
  // catalog recognizes a namespace that IS a GraftDatabase root and
  // pins member tables at the latest PUBLISHED snapshot — the `USE db`
  // analogy with cross-table atomicity. VERSION AS OF in a db
  // namespace means the DB version, so both members AS OF 0 are
  // mutually consistent by construction.
  private def withTxnDbCatalog(s: SparkSession, d: String): (String, String) = {
    val db = stagedTxnDb(s, d)
    val p = new org.apache.hadoop.fs.Path(db.root)
    val cat = s"graftsqldb_${math.abs(d.hashCode).toHexString}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftSqlCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", p.getParent.toString)
    (cat, p.getName)
  }

  private val sqlCatalogDbTxn = OpQuery(
    "sql_catalog_db_txn",
    Some(multiTableTxnOracle),
    (s, d) => {
      val (cat, ns) = withTxnDbCatalog(s, d)
      s.sql(s"""
        SELECT l.o_orderstatus, l.n_live, l.sum_live,
               r.n_summary, r.sum_summary
        FROM (SELECT o_orderstatus, COUNT(*) AS n_live,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_live
              FROM $cat.$ns.facts GROUP BY o_orderstatus) l
        JOIN (SELECT o_orderstatus, n AS n_summary,
                     CAST(sp AS DOUBLE) AS sum_summary
              FROM $cat.$ns.summary) r
          ON l.o_orderstatus = r.o_orderstatus
        ORDER BY l.o_orderstatus""")
    })

  private val sqlCatalogDbAsof = OpQuery(
    "sql_catalog_db_asof",
    Some("""
      WITH agg AS (
        SELECT o_orderstatus, COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        FROM orders GROUP BY o_orderstatus)
      SELECT o_orderstatus, n AS n_live, CAST(sp AS DOUBLE) AS sum_live,
             n AS n_summary, CAST(sp AS DOUBLE) AS sum_summary
      FROM agg ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, ns) = withTxnDbCatalog(s, d)
      s.sql(s"""
        SELECT l.o_orderstatus, l.n_live, l.sum_live,
               r.n_summary, r.sum_summary
        FROM (SELECT o_orderstatus, COUNT(*) AS n_live,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_live
              FROM $cat.$ns.facts VERSION AS OF 0 GROUP BY o_orderstatus) l
        JOIN (SELECT o_orderstatus, n AS n_summary,
                     CAST(sp AS DOUBLE) AS sum_summary
              FROM $cat.$ns.summary VERSION AS OF 0) r
          ON l.o_orderstatus = r.o_orderstatus
        ORDER BY l.o_orderstatus""")
    })

  // ---------------------------------------------------------------
  // DSv2 SQL catalog (GraftSqlCatalog): the engine addressed purely by
  // SQL names — CREATE NAMESPACE / CREATE TABLE PARTITIONED BY /
  // INSERT INTO producing real snapshot-table commits, then queried
  // with native SQL time travel. No temp views over engine state: the
  // catalog resolves names straight from the filesystem layout.
  private def withSqlCatalog(s: SparkSession, d: String): String = {
    // Spark's CatalogManager caches the catalog INSTANCE on first
    // resolution, so the name must be dataset-scoped: re-pointing a
    // cached name's `.root` conf would silently keep serving the first
    // dataset's tables. Returns the catalog name for interpolation.
    val cat = s"graftsql_${math.abs(d.hashCode).toHexString}"
    val root = stagedRoots.computeIfAbsent((d, "sqlcat_root"), _ => {
      val root = stagedTmp("stage_sqlcat")
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.load(s, d, "orders").createOrReplaceTempView("sqlcat_orders_src")
      s.sql(s"CREATE NAMESPACE $cat.bench")
      s.sql(s"""CREATE TABLE $cat.bench.orders
                (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
                PARTITIONED BY (o_orderstatus)""")              // v0
      s.sql(s"""INSERT INTO $cat.bench.orders
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM sqlcat_orders_src""")                      // v1
      s.sql(s"""INSERT INTO $cat.bench.orders
                SELECT o_orderkey + 10000000, 'X', o_totalprice
                FROM sqlcat_orders_src WHERE o_orderkey % 7 = 0""") // v2
      root
    })
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftSqlCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  // Row-level SQL DML (UPDATE / MERGE INTO) executes as a group-based
  // copy-on-write rewrite: the whole replacement query runs distributed
  // and commits as one OVERWRITE under the table's partition layout
  // (GraftRowLevelOps). These gates MUTATE their table, so each
  // invocation builds a fresh catalog over a fresh root — the staged
  // read-only catalog (withSqlCatalog) is never touched.
  private val sqlDmlCatCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Staged ONCE per sf dir: catalog + namespace + a CTAS'd base orders
    * table. Per-invocation work is a metadata-only shallow clone of the
    * base into a fresh table name in the same namespace (the filesystem
    * IS the catalog, so the clone is immediately name-addressable) — the
    * DML gates then measure the DML commit, not table staging (the same
    * staged-base/clone split cdc_mor_read uses). Returns (catalog,
    * table name). */
  private def freshSqlCatalogOrders(s: SparkSession, d: String): (String, String) = {
    val cat = s"graftsqlw_${math.abs(d.hashCode).toHexString}"
    val root = stagedRoots.computeIfAbsent((d, "sqlcat_dml_root"), _ => {
      val root = stagedTmp("stage_sqlcat_dml")
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .createOrReplaceTempView("sqldml_orders_src")
      s.sql(s"CREATE NAMESPACE $cat.bench")
      s.sql(s"""CREATE TABLE $cat.bench.orders_base PARTITIONED BY (o_orderstatus)
                AS SELECT o_orderkey, o_totalprice, o_orderstatus
                FROM sqldml_orders_src""")
      root
    })
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftSqlCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.load(s, d, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .createOrReplaceTempView("sqldml_orders_src")
    val t = s"orders_w${sqlDmlCatCounter.incrementAndGet()}"
    new SnapshotTable(s, s"$root/bench/orders_base")
      .shallowCloneTo(graft.Scratch.register(s"$root/bench/$t")): Unit
    (cat, t)
  }

  private val sqlCatalogUpdate = OpQuery(
    "sql_catalog_update",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice
               + CASE WHEN o_orderkey % 5 = 0 THEN 100.0 ELSE 0.0 END
               AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      s.sql(s"""UPDATE $cat.bench.$tbl
                SET o_totalprice = o_totalprice + 100.0
                WHERE o_orderkey % 5 = 0""")                     // v1 (CoW)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  private val sqlCatalogMerge = OpQuery(
    "sql_catalog_merge",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'O', o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0),
      merged AS (
        SELECT o_orderstatus, o_totalprice FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM src)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      s.sql(s"""MERGE INTO $cat.bench.$tbl t
                USING (SELECT o_orderkey, o_orderstatus,
                              o_totalprice + 1000.0 AS o_totalprice
                       FROM sqldml_orders_src WHERE o_orderkey % 10 = 0
                       UNION ALL
                       SELECT o_orderkey + 10000000, 'O', o_totalprice
                       FROM sqldml_orders_src WHERE o_orderkey % 17 = 0) s
                ON t.o_orderkey = s.o_orderkey
                   AND t.o_orderstatus = s.o_orderstatus
                WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
                WHEN NOT MATCHED THEN INSERT
                  (o_orderkey, o_totalprice, o_orderstatus)
                  VALUES (s.o_orderkey, s.o_totalprice, s.o_orderstatus)""") // v1
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  private val sqlCatalogQuery = OpQuery(
    "sql_catalog_query",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val cat = withSqlCatalog(s, d)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
               FROM $cat.bench.orders WHERE o_orderstatus <> 'X'
               GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  private val sqlCatalogTimeTravel = OpQuery(
    "sql_catalog_time_travel",
    Some("""
      SELECT (SELECT COUNT(*) FROM orders) AS n_v1,
             (SELECT COUNT(*) FROM orders)
               + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0) AS n_now
    """),
    (s, d) => {
      val cat = withSqlCatalog(s, d)
      s.sql(s"""SELECT
                 (SELECT COUNT(*) FROM $cat.bench.orders VERSION AS OF 1) AS n_v1,
                 (SELECT COUNT(*) FROM $cat.bench.orders) AS n_now""")
    })

  // SQL partition overwrite through the catalog: the static PARTITION
  // clause lowers to the engine's dynamic partition overwrite — the F
  // partition replaces at O(new data) while every other partition
  // carries by reference (proven file-identical in the spec; the oracle
  // pins the content here).
  private val sqlCatalogOverwritePartition = OpQuery(
    "sql_catalog_overwrite_partition",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice
               + CASE WHEN o_orderstatus = 'F' THEN 50.0 ELSE 0.0 END
               AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      s.sql(s"""INSERT OVERWRITE $cat.bench.$tbl
                PARTITION (o_orderstatus = 'F')
                SELECT o_orderkey, o_totalprice + 50.0
                FROM sqldml_orders_src WHERE o_orderstatus = 'F'""") // v1
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // Hidden partitioning through SQL: the table lays out under
  // months(o_date), the query filters the RAW date column, and the
  // catalog scan prunes month buckets from the manifest (spec-proven;
  // the oracle pins the pruned read's content against the raw data).
  private val sqlCatalogXformPrune = OpQuery(
    "sql_catalog_xform_prune",
    Some("""
      SELECT CAST(o_orderdate AS DATE) AS o_date, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE CAST(o_orderdate AS DATE) IN
            (DATE '1995-03-15', DATE '1995-03-16', DATE '1996-07-01')
      GROUP BY 1 ORDER BY o_date
    """),
    (s, d) => {
      val cat = s"graftsqlxf_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_xf_root"), _ => {
        val root = stagedTmp("stage_sqlcat_xf")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.load(s, d, "orders").createOrReplaceTempView("sqlcatxf_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"""CREATE TABLE $cat.bench.xforders PARTITIONED BY (months(o_date))
                  AS SELECT o_orderkey, o_totalprice,
                            CAST(o_orderdate AS DATE) AS o_date
                  FROM sqlcatxf_src""")
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT o_date, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.xforders
                WHERE o_date IN (DATE '1995-03-15', DATE '1995-03-16',
                                 DATE '1996-07-01')
                GROUP BY o_date ORDER BY o_date""")
    })

  // ALTER TABLE ADD COLUMNS through SQL: a metadata-only schema widening
  // (one zero-row footer carries the new columns; old files null-fill at
  // scan time — nothing rewritten at any table size), then an INSERT
  // exercising the widened schema. The oracle pins null-filled old rows
  // plus the new rows' populated column.
  private val sqlCatalogAlterAddColumn = OpQuery(
    "sql_catalog_alter_add_column",
    Some("""
      SELECT * FROM (
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(0 AS BIGINT) AS n_comment
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT 'Z', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT)
        FROM orders WHERE o_orderkey % 11 = 0)
      ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      s.sql(s"ALTER TABLE $cat.bench.$tbl ADD COLUMNS (o_comment STRING)") // v1
      s.sql(s"""INSERT INTO $cat.bench.$tbl
                SELECT o_orderkey + 20000000, o_totalprice, 'Z', 'backfilled'
                FROM sqldml_orders_src WHERE o_orderkey % 11 = 0""")       // v2
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       COUNT(o_comment) AS n_comment
                FROM $cat.bench.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // CONVERT TO GRAFT (Delta CONVERT TO DELTA analog): an existing
  // plain-parquet Hive-layout directory becomes a snapshot table IN
  // PLACE — version 0 references the files where they are (zero
  // rewrite, O(files) footer reads; the only viable migration at
  // 100 TB), the directory-encoded partition column synthesizes from
  // the manifest, and the converted table answers path-addressed SQL
  // like any native table. The oracle pins content equality against
  // the raw source data.
  private val sqlConvertInPlace = OpQuery(
    "sql_convert_in_place",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val dir = stagedRoots.computeIfAbsent((d, "convert_dir"), _ => {
        val dir = stagedTmp("stage_convert")
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .write.partitionBy("o_orderstatus").mode("overwrite").parquet(dir)
        s.sql(s"CONVERT TO GRAFT parquet.`$dir` " +
          "PARTITIONED BY (o_orderstatus STRING)")
        dir
      })
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM graft.`$dir`
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // Column DEFAULT values (ANSI DEFAULT expr): the default SQL lives in
  // the schema field metadata (persisted by the zero-row schema-carrier
  // footers), Spark's own analysis fills omitted INSERT columns, and
  // ALTER COLUMN SET DEFAULT re-points FUTURE inserts only (a
  // metadata-only ALTER_COLUMN commit via the newest-origin-wins field
  // union). The oracle pins rows inserted under both defaults.
  private val sqlColumnDefaults = OpQuery(
    "sql_column_defaults",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(SUM(CAST(bonus AS DECIMAL(18,2))) AS DOUBLE) AS sum_bonus
      FROM (
        SELECT o_orderstatus, 5.5 AS price, 1.25 AS bonus FROM orders
        WHERE o_orderkey % 19 = 0
        UNION ALL
        SELECT 'D' AS o_orderstatus, 9.75 AS price, 1.25 AS bonus FROM orders
        WHERE o_orderkey % 29 = 0
        UNION ALL
        SELECT 'E' AS o_orderstatus, 2.0 AS price, 2.5 AS bonus FROM orders
        WHERE o_orderkey % 37 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val cat = s"graftdflt_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_dflt_root"), _ => {
        val root = stagedTmp("stage_sqlcat_dflt")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_orderstatus")
          .createOrReplaceTempView("sqldflt_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"""CREATE TABLE $cat.bench.deft
                  (o_orderkey BIGINT, price DOUBLE DEFAULT 5.5,
                   o_orderstatus STRING DEFAULT 'D')""")
        s.sql(s"""INSERT INTO $cat.bench.deft (o_orderkey, o_orderstatus)
                  SELECT o_orderkey, o_orderstatus FROM sqldflt_src
                  WHERE o_orderkey % 19 = 0""")
        s.sql(s"ALTER TABLE $cat.bench.deft ALTER COLUMN price SET DEFAULT 9.75")
        s.sql(s"""INSERT INTO $cat.bench.deft (o_orderkey)
                  SELECT o_orderkey + 50000000 FROM sqldflt_src
                  WHERE o_orderkey % 29 = 0""")
        // ADD COLUMNS … DEFAULT (ANSI EXISTS_DEFAULT, zero rewrite):
        // every PRE-EXISTING row reads 1.25 straight from the scan; then
        // re-pointing the CURRENT default to 2.5 governs the next insert
        // only — the split proves exists- and current-defaults are
        // tracked independently
        s.sql(s"ALTER TABLE $cat.bench.deft ADD COLUMNS (bonus DOUBLE DEFAULT 1.25)")
        s.sql(s"ALTER TABLE $cat.bench.deft ALTER COLUMN bonus SET DEFAULT 2.5")
        s.sql(s"""INSERT INTO $cat.bench.deft (o_orderkey, price, o_orderstatus)
                  SELECT o_orderkey + 90000000, 2.0, 'E' FROM sqldflt_src
                  WHERE o_orderkey % 37 = 0""")
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                       CAST(SUM(CAST(bonus AS DECIMAL(18,2))) AS DOUBLE) AS sum_bonus
                FROM $cat.bench.deft
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // SQL MERGE through deletion vectors (Delta's DV-enabled MERGE): with
  // the table property set, MERGE INTO plans onto Spark's DELTA-based
  // row-level rewrite — one row per CHANGED row, matched rows marked
  // positionally, update/insert images appended, ZERO base files
  // rewritten (asserted in the builder). The oracle recomputes the
  // merged state from the raw data.
  private val sqlMergeDv = OpQuery(
    "sql_merge_dv",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS p
        FROM orders
        WHERE NOT (o_orderkey % 11 = 0 AND o_orderstatus = 'F')
        UNION ALL
        SELECT 'N' AS o_orderstatus, o_totalprice AS p
        FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey <> 0
      ) m
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val cat = s"graftdvm_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_dvm_root"), _ => {
        val root = stagedTmp("stage_sqlcat_dvm")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        graft.plans.GraftRowLevelOps.register(s)
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .createOrReplaceTempView("sqldvm_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"""CREATE TABLE $cat.bench.t
                  (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
                  TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')""")
        s.sql(s"INSERT INTO $cat.bench.t SELECT * FROM sqldvm_src")
        val t = new SnapshotTable(s, s"$root/bench/t")
        val before = t.files.map(_.path).toSet
        s.sql(s"""MERGE INTO $cat.bench.t t USING (
                    SELECT o_orderkey AS k, o_totalprice * 2 AS p
                    FROM sqldvm_src WHERE o_orderkey % 11 = 0
                    UNION ALL
                    SELECT -o_orderkey, o_totalprice
                    FROM sqldvm_src
                    WHERE o_orderkey % 13 = 0 AND o_orderkey <> 0
                  ) s ON t.o_orderkey = s.k
                  WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
                  WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
                  WHEN NOT MATCHED THEN INSERT
                    (o_orderkey, o_totalprice, o_orderstatus)
                    VALUES (s.k, s.p, 'N')""")
        require(before.subsetOf(t.files.map(_.path).toSet),
          "DV merge rewrote base files — the positional path regressed")
        require(t.commitOperation(t.currentVersion) == "MERGE_DV",
          s"expected MERGE_DV, got ${t.commitOperation(t.currentVersion)}")
        require(t.dvFiles.nonEmpty, "DV merge wrote no positional marks")
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.t
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // Row tracking (Delta row-ids analog): manifest-assigned stable row
  // ids, materialized through maintenance rewrites under the table
  // property so OPTIMIZE never renumbers. The builder asserts the
  // stability property itself (ids identical across a full compaction
  // and a DV delete); the oracle pins the aggregate invariants.
  private val rowTracking = OpQuery(
    "row_tracking",
    Some("""
      SELECT CAST(c AS BIGINT) AS n, CAST(c AS BIGINT) AS n_ids,
             CAST(1 AS BIGINT) AS stable
      FROM (SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 0)
                 - (SELECT COUNT(*) FROM orders
                    WHERE o_orderkey % 13 = 0 AND o_orderkey % 5 = 0) AS c)
    """),
    (s, d) => {
      val root = stagedRoots.computeIfAbsent((d, "row_tracking_root"), _ => {
        val root = stagedTmp("stage_row_tracking")
        val t = new SnapshotTable(s, root).create(
          Tables.load(s, d, "orders")
            .filter(col("o_orderkey") % 13 === 0)
            .select("o_orderkey", "o_totalprice"))
        t.withProperty(SnapshotTable.RowTrackingProp, "true")
        def ids(): Map[Long, Long] = t.readWithRowIds()
          .select(col("o_orderkey"), col(SnapshotTable.RidCol))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val before = ids()
        t.compact(2)
        require(ids() == before, "row ids changed across OPTIMIZE")
        t.delete(col("o_orderkey") % 5 === 0, positional = true)
        require(ids() == before.filterNot(_._1 % 5 == 0),
          "DV-delete survivors changed row ids")
        // CoW DML preserves too (r17): a stat-pruned partial UPDATE
        // rewrites touched files — carried AND updated rows keep ids
        val preUpdate = ids()
        t.update(col("o_totalprice").between(0.0, Double.MaxValue),
          Map("o_totalprice" -> (col("o_totalprice") + lit(1.0))))
        require(ids() == preUpdate,
          "CoW UPDATE renumbered rows under row tracking")
        root
      })
      val t = new SnapshotTable(s, root)
      t.readWithRowIds()
        .agg(count(lit(1)).as("n"),
          countDistinct(col(SnapshotTable.RidCol)).as("n_ids"),
          lit(1L).as("stable"))
    })

  // SQL DELETE through deletion vectors (Delta enableDeletionVectors):
  // with the table property set, an arbitrary-predicate DELETE writes
  // O(matched rows) of (file, position) marks — ZERO base files
  // rewritten (asserted in the builder: a regression to the CoW rewrite
  // fails the gate, not just the timing). The oracle recomputes the
  // surviving rows from the raw data.
  private val sqlDeleteDv = OpQuery(
    "sql_delete_dv",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 3 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val cat = s"graftdvd_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_dvd_root"), _ => {
        val root = stagedTmp("stage_sqlcat_dvd")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        graft.plans.GraftRowLevelOps.register(s)
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .createOrReplaceTempView("sqldvd_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"""CREATE TABLE $cat.bench.t
                  (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
                  TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')""")
        s.sql(s"INSERT INTO $cat.bench.t SELECT * FROM sqldvd_src")
        val t = new SnapshotTable(s, s"$root/bench/t")
        val before = t.files.map(_.path).toSet
        s.sql(s"""DELETE FROM $cat.bench.t
                  WHERE o_orderstatus = 'O' AND o_orderkey % 3 = 0""")
        require(t.files.map(_.path).toSet == before,
          "DV delete rewrote base files — the positional path regressed")
        require(t.commitOperation(t.currentVersion) == "DELETE_DV",
          s"expected DELETE_DV, got ${t.commitOperation(t.currentVersion)}")
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.t
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // SQL UPDATE through deletion vectors (Delta 3.1 DV-update parity):
  // with the table property set, an arbitrary-predicate UPDATE writes
  // O(matched rows) of (file, position) marks PLUS the updated images
  // as new files — ZERO base files rewritten (asserted in the builder,
  // along with the CDF pre+post capture). The oracle recomputes the
  // post-update content from the raw data with a CASE.
  private val sqlUpdateDv = OpQuery(
    "sql_update_dv",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' AND o_orderkey % 7 = 0
                                THEN o_totalprice + 100000
                                ELSE o_totalprice END
                           AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val cat = s"graftdvu_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_dvu_root"), _ => {
        val root = stagedTmp("stage_sqlcat_dvu")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        graft.plans.GraftRowLevelOps.register(s)
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .createOrReplaceTempView("sqldvu_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"""CREATE TABLE $cat.bench.t
                  (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
                  TBLPROPERTIES ('graft.enableDeletionVectors' = 'true',
                                 'graft.enableChangeDataFeed' = 'true')""")
        s.sql(s"INSERT INTO $cat.bench.t SELECT * FROM sqldvu_src")
        val t = new SnapshotTable(s, s"$root/bench/t")
        val before = t.files.map(_.path).toSet
        val matched = s.sql(s"""SELECT COUNT(*) FROM $cat.bench.t
          WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0""").head.getLong(0)
        s.sql(s"""UPDATE $cat.bench.t SET o_totalprice = o_totalprice + 100000
                  WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0""")
        require(before.subsetOf(t.files.map(_.path).toSet),
          "DV update rewrote base files — the positional path regressed")
        require(t.commitOperation(t.currentVersion) == "UPDATE_DV",
          s"expected UPDATE_DV, got ${t.commitOperation(t.currentVersion)}")
        // CDF: pre+post images, O(changed rows)
        val v = t.currentVersion
        val ch = s.sql(s"SELECT _change_type, COUNT(*) FROM " +
            s"table_changes('$cat.bench.t', $v, $v) GROUP BY 1")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(ch.get("update_preimage").contains(matched) &&
            ch.get("update_postimage").contains(matched),
          s"CDF pre/post capture off: $ch, expected $matched each")
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.t
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // NOT NULL constraints: the flag rides the versioned fieldMeta
  // overlay (parquet reads force nullable=true, so the StructField flag
  // cannot survive the file round-trip) and Spark's output resolver
  // enforces it on every write; a refused NULL insert commits nothing.
  // The oracle pins the surviving rows plus the schema's round-tripped
  // nullability as a constant column.
  private val sqlNotNull = OpQuery(
    "sql_not_null",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n, CAST(1 AS BIGINT) AS k_not_null
      FROM orders WHERE o_orderkey % 17 = 0
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val cat = s"graftnn_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_nn_root"), _ => {
        val root = stagedTmp("stage_sqlcat_nn")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_orderstatus")
          .createOrReplaceTempView("sqlnn_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"CREATE TABLE $cat.bench.nn (k BIGINT NOT NULL, o_orderstatus STRING)")
        s.sql(s"""INSERT INTO $cat.bench.nn
                  SELECT o_orderkey, o_orderstatus FROM sqlnn_src
                  WHERE o_orderkey % 17 = 0""")
        // a NULL into the NOT NULL column must refuse and commit nothing
        try {
          s.sql(s"INSERT INTO $cat.bench.nn VALUES (NULL, 'X')")
          throw new IllegalStateException(
            "NOT NULL column accepted a NULL insert")
        } catch {
          case _: IllegalStateException => throw new IllegalStateException(
            "NOT NULL column accepted a NULL insert")
          case e: Exception =>
            // the refusal must BE the nullability violation — an
            // unrelated analysis/config failure passing as "expected"
            // would silently void the constraint check
            val msg = Option(e.getMessage).getOrElse("").toLowerCase
            if (!msg.contains("null"))
              throw new IllegalStateException(
                s"NULL insert failed for the wrong reason: $e", e)
        }
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      // k_not_null pins the schema round trip inside the hashed result
      val notNull = !s.table(s"$cat.bench.nn").schema("k").nullable
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(${if (notNull) 1 else 0} AS BIGINT) AS k_not_null
                FROM $cat.bench.nn
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // Identity columns (GENERATED ALWAYS AS IDENTITY): NULL slots take
  // values reserved off the table's high-water mark — unique and
  // batch-monotonic; this engine's reservation is exact-sized, so two
  // sequential inserts yield a contiguous arithmetic sequence and the
  // aggregate invariants (count, distinct count, min, max) are fully
  // deterministic for the oracle even though the row→value assignment
  // order is not.
  private val sqlIdentityColumns = OpQuery(
    "sql_identity_columns",
    Some("""
      SELECT CAST(c AS BIGINT) AS n, CAST(c AS BIGINT) AS n_ids,
             CAST(10 AS BIGINT) AS min_id,
             CAST(10 + 2 * (c - 1) AS BIGINT) AS max_id
      FROM (SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 19 = 0)
                 + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 29 = 0) AS c)
    """),
    (s, d) => {
      val cat = s"graftident_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_ident_root"), _ => {
        val root = stagedTmp("stage_sqlcat_ident")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.load(s, d, "orders")
          .select("o_orderkey")
          .createOrReplaceTempView("sqlident_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"""CREATE TABLE $cat.bench.ids
                  (id BIGINT GENERATED ALWAYS AS IDENTITY
                     (START WITH 10 INCREMENT BY 2), k BIGINT)""")
        s.sql(s"""INSERT INTO $cat.bench.ids (k)
                  SELECT o_orderkey FROM sqlident_src WHERE o_orderkey % 19 = 0""")
        s.sql(s"""INSERT INTO $cat.bench.ids (k)
                  SELECT o_orderkey FROM sqlident_src WHERE o_orderkey % 29 = 0""")
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT COUNT(*) AS n, COUNT(DISTINCT id) AS n_ids,
                       MIN(id) AS min_id, MAX(id) AS max_id
                FROM $cat.bench.ids""")
    })

  // Type widening (Delta ALTER COLUMN TYPE analog): a metadata-only
  // commit re-declares the column's type; files written before keep the
  // narrow physical type and the parquet scan up-converts per file
  // (SPARK-40876) — zero data rewritten. The gate stores INTs, widens to
  // BIGINT, then inserts values above the int range; the oracle
  // recomputes both generations from the raw data in the wide type.
  private val sqlTypeWidening = OpQuery(
    "sql_type_widening",
    Some("""
      SELECT grp, COUNT(*) AS n, CAST(SUM(nv) AS BIGINT) AS sum_n
      FROM (
        SELECT o_orderstatus AS grp,
               CAST(o_orderkey % 1000 AS BIGINT) AS nv
        FROM orders WHERE o_orderkey % 11 = 0
        UNION ALL
        SELECT 'W' AS grp, o_orderkey + 3000000000 AS nv
        FROM orders WHERE o_orderkey % 23 = 0)
      GROUP BY grp ORDER BY grp
    """),
    (s, d) => {
      val cat = s"graftwide_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_wide_root"), _ => {
        val root = stagedTmp("stage_sqlcat_wide")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_orderstatus")
          .createOrReplaceTempView("sqlwide_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"CREATE TABLE $cat.bench.wide (nv INT, grp STRING)")
        s.sql(s"""INSERT INTO $cat.bench.wide
                  SELECT CAST(o_orderkey % 1000 AS INT), o_orderstatus
                  FROM sqlwide_src WHERE o_orderkey % 11 = 0""")
        // metadata-only widen, then values only a BIGINT can hold
        s.sql(s"ALTER TABLE $cat.bench.wide ALTER COLUMN nv TYPE BIGINT")
        s.sql(s"""INSERT INTO $cat.bench.wide
                  SELECT o_orderkey + 3000000000, 'W'
                  FROM sqlwide_src WHERE o_orderkey % 23 = 0""")
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT grp, COUNT(*) AS n, CAST(SUM(nv) AS BIGINT) AS sum_n
                FROM $cat.bench.wide
                GROUP BY grp ORDER BY grp""")
    })

  // Generated columns (Delta GENERATED ALWAYS AS analog): the generation
  // expression lives in the field metadata; INSERTs that omit the column
  // compute it row-locally inside the write job, provided values must
  // match (mismatch fails the write, nothing commits). The oracle
  // recomputes the generated value from the raw data.
  private val sqlGeneratedColumns = OpQuery(
    "sql_generated_columns",
    Some("""
      SELECT CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_band,
             COUNT(*) AS n
      FROM orders WHERE o_orderkey % 13 = 0
      GROUP BY 1 ORDER BY price_band
    """),
    (s, d) => {
      val cat = s"graftgen_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_gen_root"), _ => {
        val root = stagedTmp("stage_sqlcat_gen")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_totalprice")
          .createOrReplaceTempView("sqlgen_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"""CREATE TABLE $cat.bench.gen
                  (o_orderkey BIGINT, o_totalprice DOUBLE,
                   price_band BIGINT GENERATED ALWAYS AS
                     (CAST(FLOOR(o_totalprice / 1000) AS BIGINT)))""")
        s.sql(s"""INSERT INTO $cat.bench.gen (o_orderkey, o_totalprice)
                  SELECT o_orderkey, o_totalprice FROM sqlgen_src
                  WHERE o_orderkey % 13 = 0""")
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT price_band, COUNT(*) AS n
                FROM $cat.bench.gen
                GROUP BY price_band ORDER BY price_band""")
    })

  // ANSI CHECK constraints through SQL: ADD CONSTRAINT validates the
  // existing rows once (refusing if any violate), stores the predicate
  // as table metadata, and every later INSERT/UPDATE/MERGE is enforced
  // row-locally inside the write job by Spark's CheckInvariant — a
  // violating write fails and commits NOTHING. The oracle pins the
  // final content: base + one conforming insert, the violating insert
  // absent.
  private val sqlCheckConstraint = OpQuery(
    "sql_check_constraint",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n
      FROM (
        SELECT o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderstatus FROM orders WHERE o_orderkey % 23 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      s.sql(s"ALTER TABLE $cat.bench.$tbl ADD CONSTRAINT price_pos " +
        "CHECK (o_totalprice > 0)")
      s.sql(s"""INSERT INTO $cat.bench.$tbl
                SELECT o_orderkey + 40000000, o_totalprice, o_orderstatus
                FROM sqldml_orders_src WHERE o_orderkey % 23 = 0""")
      val violatingFailed =
        try { s.sql(s"INSERT INTO $cat.bench.$tbl VALUES (1, -5.0, 'X')"); false }
        catch { case _: Throwable => true }
      require(violatingFailed,
        "a CHECK-violating INSERT must fail inside the write")
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n
                FROM $cat.bench.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // Liquid clustering through SQL (Delta CLUSTER BY analog): the table
  // stores a clustering spec; each bare OPTIMIZE rewrites ONLY files
  // written since the last clustering commit onto the Morton curve
  // (clustered files carry by reference — O(new data) per run, the
  // property that makes scheduled clustering viable at 100 TB). The
  // oracle pins content across two insert+OPTIMIZE rounds; the
  // incremental carry-by-reference shape is asserted in ClusterBySpec.
  private val sqlClusterBy = OpQuery(
    "sql_cluster_by",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderkey % 17 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val cat = s"graftliq_${math.abs(d.hashCode).toHexString}"
      val root = stagedRoots.computeIfAbsent((d, "sqlcat_liq_root"), _ => {
        val root = stagedTmp("stage_sqlcat_liq")
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftSqlCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .createOrReplaceTempView("sqlliq_src")
        s.sql(s"CREATE NAMESPACE $cat.bench")
        s.sql(s"""CREATE TABLE $cat.bench.liq
                  (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
                  CLUSTER BY (o_orderkey, o_totalprice)""")
        s.sql(s"INSERT INTO $cat.bench.liq SELECT * FROM sqlliq_src")
        s.sql(s"OPTIMIZE $cat.bench.liq") // clusters the initial load
        s.sql(s"""INSERT INTO $cat.bench.liq
                  SELECT * FROM sqlliq_src WHERE o_orderkey % 17 = 0""")
        s.sql(s"OPTIMIZE $cat.bench.liq") // incremental: only the tail
        root
      })
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.liq
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // Column mapping through SQL (Delta columnMapping.mode=name analog):
  // RENAME COLUMN re-points the logical name at the column's immutable
  // physical name and DROP COLUMN tombstones it — both metadata-only
  // commits (zero data rewritten at any table size), with writes after
  // the rename landing under the stable physical name. The oracle pins
  // the renamed column's values across pre- and post-rename writes AND
  // resurrection safety: a dropped-then-re-added column must read NULL
  // everywhere (COUNT(note) = 0), never the old file values.
  private val sqlColumnMapping = OpQuery(
    "sql_column_mapping",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(0 AS BIGINT) AS n_note
      FROM (
        SELECT o_orderstatus, o_totalprice AS price FROM orders
        UNION ALL
        SELECT 'Z' AS o_orderstatus, o_totalprice * 2 AS price
        FROM orders WHERE o_orderkey % 13 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      // v1: metadata-only rename; v2: INSERT through the NEW name
      s.sql(s"ALTER TABLE $cat.bench.$tbl RENAME COLUMN o_totalprice TO price")
      s.sql(s"""INSERT INTO $cat.bench.$tbl
                SELECT o_orderkey + 30000000, o_totalprice * 2, 'Z'
                FROM sqldml_orders_src WHERE o_orderkey % 13 = 0""")
      // v3..v5: add a column, drop it, re-add the same name — the
      // re-added column gets a FRESH physical name, so the pre-drop
      // values can never resurface (COUNT(note) must be 0)
      s.sql(s"ALTER TABLE $cat.bench.$tbl ADD COLUMNS (note STRING)")
      s.sql(s"UPDATE $cat.bench.$tbl SET note = 'seen' WHERE o_orderstatus = 'Z'")
      s.sql(s"ALTER TABLE $cat.bench.$tbl DROP COLUMN note")
      s.sql(s"ALTER TABLE $cat.bench.$tbl ADD COLUMNS (note STRING)")
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                       COUNT(note) AS n_note
                FROM $cat.bench.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // Iceberg-style metadata tables through SQL names: `cat.ns.t.history`
  // and `cat.ns.t.partitions` answer from the commit-log manifest alone
  // (O(log records), zero data files opened — the same property at any
  // table size). The oracles pin the staged table's exact commit history
  // and per-partition row counts against the raw orders data.
  private val sqlCatalogMetaHistory = OpQuery(
    "sql_catalog_meta_history",
    Some("""
      SELECT CAST(0 AS INTEGER) AS version, 'CREATE' AS operation,
             CAST(0 AS BIGINT) AS num_rows
      UNION ALL
      SELECT 1, 'APPEND', (SELECT COUNT(*) FROM orders)
      UNION ALL
      SELECT 2, 'APPEND', (SELECT COUNT(*) FROM orders)
                          + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0)
      ORDER BY version
    """),
    (s, d) => {
      val cat = withSqlCatalog(s, d)
      s.sql(s"""SELECT version, operation, num_rows
                FROM $cat.bench.orders.history ORDER BY version""")
    })

  private val sqlCatalogMetaPartitions = OpQuery(
    "sql_catalog_meta_partitions",
    Some("""
      SELECT * FROM (
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS num_rows
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT 'X', CAST(COUNT(*) AS BIGINT)
        FROM orders WHERE o_orderkey % 7 = 0)
      ORDER BY o_orderstatus
    """),
    (s, d) => {
      val cat = withSqlCatalog(s, d)
      s.sql(s"""SELECT part_value AS o_orderstatus, num_rows
                FROM $cat.bench.orders.partitions
                WHERE part_value IS NOT NULL
                ORDER BY o_orderstatus""")
    })

  // Shallow clone (Delta SHALLOW CLONE analog): metadata-only commit
  // referencing the source's files — zero data copied — after which the
  // clone serves the source's full content. The oracle checks the
  // content; CLONE cost-shape (no data write) is asserted in
  // SnapshotTableSpec.
  private val tableClone = OpQuery(
    "table_clone",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val clone = stagedOrders(s, d).shallowCloneTo(tmp("clone"))
      clone.read().groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("o_orderstatus")
    })

  // MERGE-on-read: the deferred-merge path the reference benchmarks
  // against CoW (README.md:30,36 — MoR merges faster, reads pay the
  // resolution). The merge appends delta files (cost O(source)); the
  // read resolves base-minus-matched + newest delta per key. The oracle
  // is the SAME SQL as merge_upsert: passing proves MoR read == CoW
  // merge result.
  private val mergeMorRead = OpQuery(
    "merge_mor_read",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'O', o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 17 = 0)
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
      FROM (
        SELECT * FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT * FROM src)
      ORDER BY o_orderkey, o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val table = stagedOrders(s, d).shallowCloneTo(tmp("mor"))
        .merge(mergeSource(o), Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"), deferred = true)
      table.read()
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .orderBy("o_orderkey", "o_orderstatus")
    })

  // Merge-on-read DELETE (Iceberg equality-delete analog): tombstone
  // delta files holding only keys — commit is O(delete keys) — resolved
  // at read with last-writer-wins ACROSS kinds. Protocol exercised:
  // upsert → delete %13 keys → re-upsert %26 (a subset of the deleted
  // keys, proving a re-upserted key resurfaces with the newer row). The
  // oracle applies the three commits compositionally.
  private val mergeMorDelete = OpQuery(
    "merge_mor_delete",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'O', o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 17 = 0),
      r3 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 5000.0 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 26 = 0),
      state1 AS (
        SELECT * FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT * FROM src),
      state2 AS (
        SELECT * FROM state1 t
        WHERE NOT EXISTS (SELECT 1 FROM orders d
                          WHERE d.o_orderkey % 13 = 0
                            AND d.o_orderkey = t.o_orderkey
                            AND d.o_orderstatus = t.o_orderstatus)),
      state3 AS (
        SELECT * FROM state2 t
        WHERE NOT EXISTS (SELECT 1 FROM r3 s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT * FROM r3)
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
      FROM state3
      ORDER BY o_orderkey, o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val keys = Seq("o_orderkey", "o_orderstatus")
      val table = stagedOrders(s, d).shallowCloneTo(tmp("mordel"))
        .merge(mergeSource(o), keys, partitionBy = Some("o_orderstatus"),
          deferred = true)
        .merge(
          o.filter(col("o_orderkey") % 13 === 0)
            .select("o_orderkey", "o_orderstatus"),
          keys, partitionBy = Some("o_orderstatus"), deleteMatched = true,
          deferred = true)
        .merge(
          o.filter(col("o_orderkey") % 26 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 5000.0),
          keys, partitionBy = Some("o_orderstatus"), deferred = true)
      table.read()
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .orderBy("o_orderkey", "o_orderstatus")
    })

  // Change-data-feed on the MERGE-ON-READ path (Delta/Hudi expose CDF
  // regardless of CoW/MoR): a tracked deferred upsert and a tracked
  // deferred delete over a table that ALREADY carries pending deltas.
  // Resolution-awareness is what the oracle pins: the first (untracked)
  // MoR round bumps %10 keys by +1000, so the tracked rounds' pre-images
  // MUST come from the resolved view — the %20 update pre-images carry
  // +1000 (every %20 key is a %10 key), and the %13 delete pre-images
  // carry the LATEST delta value (+500 for %20 keys — the second upsert
  // REPLACES the first, it does not accumulate — +1000 for other %10
  // keys). An implementation that read pre-images from base files alone
  // would hash-mismatch every one of those sums.
  private val cdcMorRead = OpQuery(
    "cdc_mor_read",
    Some("""
      SELECT * FROM (
        SELECT 'insert' AS change_type, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders WHERE o_orderkey % 23 = 0
        UNION ALL
        SELECT 'update_postimage', COUNT(*),
               CAST(SUM(CAST(o_totalprice + 500.0 AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders WHERE o_orderkey % 20 = 0
        UNION ALL
        SELECT 'update_preimage', COUNT(*),
               CAST(SUM(CAST(o_totalprice + 1000.0 AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders WHERE o_orderkey % 20 = 0
        UNION ALL
        SELECT 'delete', COUNT(*),
               CAST(SUM(CAST(o_totalprice
                 + CASE WHEN o_orderkey % 20 = 0 THEN 500.0
                        WHEN o_orderkey % 10 = 0 THEN 1000.0
                        ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders WHERE o_orderkey % 13 = 0)
      ORDER BY change_type
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val keys = Seq("o_orderkey", "o_orderstatus")
      val src2 = o.filter(col("o_orderkey") % 20 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 500.0)
        .unionByName(o.filter(col("o_orderkey") % 23 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
          .withColumn("o_orderstatus", lit("P")))
      // the untracked first MoR round is a read-only rewrite base shared
      // across iterations (staged once per sf dir); per-run work is the
      // metadata clone + the two TRACKED commits — versions 1 and 2 of
      // the clone (v0 = CLONE carries the pending deltas forward)
      val table = stagedOrdersMor1(s, d).shallowCloneTo(tmp("cdcmor"))
        .merge(src2, keys, partitionBy = Some("o_orderstatus"),
          trackChanges = true, deferred = true)
        .merge(
          o.filter(col("o_orderkey") % 13 === 0)
            .select("o_orderkey", "o_orderstatus"),
          keys, partitionBy = Some("o_orderstatus"), deleteMatched = true,
          deferred = true, trackChanges = true)
      table.changes(1).unionByName(table.changes(2))
        .groupBy(col(SnapshotTable.ChangeCol).as("change_type"))
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("change_type")
    })

  // VACUUM: after a CoW merge rewrites partitions, the superseded
  // version-0 files under the table's own root are physically deleted;
  // the retained current version must still read correctly. The oracle
  // checks the post-vacuum content; file deletion (and clone safety) is
  // asserted in SnapshotTableSpec. This entry creates its own table
  // (vacuum mutates storage, so a staged base cannot be shared).
  private val vacuumRetention = OpQuery(
    "vacuum_retention",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'O', o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0),
      merged AS (
        SELECT o_orderstatus, o_totalprice FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM src)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val table = new SnapshotTable(s, tmp("vac"))
        .create(o, partitionBy = Some("o_orderstatus"))
        .merge(mergeSource(o), Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"))
      table.vacuum(retainVersions = 1)
      table.read().groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("o_orderstatus")
    })

  // Z-ORDER clustering (Delta `OPTIMIZE ZORDER BY` analog): the Morton
  // curve value of (o_custkey, o_orderkey) via the codegen'd
  // graft_zorder expression. Production layout normalizes dims to a
  // common scale, then range-partitions + sorts within files on the
  // curve value — BOTH dimensions get sub-linear per-file min/max spans
  // (asserted in ZOrderSpec). The oracle mirrors the bit-interleave
  // formula term-for-term, checking the curve itself.
  private val zorderLayout = OpQuery(
    "layout_zorder",
    Some {
      val z = graft.functions.ZOrder2.duckSql("o_custkey", "o_orderkey")
      s"""
      SELECT o_orderkey, o_custkey, $z AS zval
      FROM orders
      ORDER BY zval, o_orderkey LIMIT 100
      """
    },
    (s, d) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("graft_zorder(o_custkey, o_orderkey)").as("zval"))
        .orderBy("zval", "o_orderkey").limit(100)
    })

  // DELETE FROM … WHERE (Delta predicate delete) with data skipping:
  // on the range-clustered layout only files intersecting the key range
  // are rewritten; the rest carry over by reference (DmlSpec asserts the
  // carry-over). NULL-keyed rows never match and are kept.
  // Positional DELETE via deletion vectors (Iceberg position-delete /
  // Delta deletion-vector analog): the commit records each matching
  // row's (file, row-position) address — ZERO base files rewritten
  // (DeletionVectorSpec asserts the file set is byte-identical), and the
  // read resolves marks with one anti-join whose build side is
  // O(deleted rows). The third DML strategy next to CoW rewrite
  // (delete_where) and key-equality tombstones (merge_mor_delete): at
  // 100 TB a sparse predicate delete costs marks + metadata instead of
  // rewriting every stat-intersecting file; compaction folds marks away.
  private val deleteDvQ = OpQuery(
    "delete_dv_read",
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE NOT (l_orderkey BETWEEN 200 AND 900)
      GROUP BY l_returnflag ORDER BY l_returnflag
    """),
    (s, d) => {
      val t = stagedLineitemRange(s, d).shallowCloneTo(tmp("deldv"))
        .delete(col("l_orderkey").between(200, 900), positional = true)
      t.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("l_quantity")))).as("sum_qty"))
        .orderBy("l_returnflag")
    })

  // REORG TABLE … APPLY (PURGE) (Delta's DV-purge verb): after a
  // positional delete leaves marks, the purge rewrites ONLY the
  // DV-addressed files — the soft-deleted rows become physically absent,
  // marks drop, mark-free files carry by reference. The gate drives the
  // SQL spelling by path and oracle-checks the read equals the CoW
  // recompute; the engine asserts zero marks remain and that stat-clean
  // files survived path-identical (cost ∝ marked bytes, never table
  // size — the 100 TB contract).
  private val sqlReorgPurge = OpQuery(
    "sql_reorg_purge",
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE NOT (l_orderkey BETWEEN 300 AND 800)
      GROUP BY l_returnflag ORDER BY l_returnflag
    """),
    (s, d) => {
      val root = tmp("reorgp")
      val t = stagedLineitemRange(s, d).shallowCloneTo(root)
        .delete(col("l_orderkey").between(300, 800), positional = true)
      require(t.dvFiles.nonEmpty, "fixture must leave DV marks")
      val untouched = t.files
        .filter(e => e.stats.get("l_orderkey").exists(_._1 > 800))
        .map(_.path).toSet
      val r = s.sql(s"REORG TABLE graft.`$root` APPLY (PURGE)").head
      require(r.getInt(0) > 0 && r.getLong(1) > 0,
        s"purge must rewrite marked files and drop marks, got $r")
      require(t.dvFiles.isEmpty, "REORG PURGE must drop every DV mark")
      require(untouched.subsetOf(t.files.map(_.path).toSet),
        "mark-free files must carry by reference, path-identical")
      t.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("l_quantity")))).as("sum_qty"))
        .orderBy("l_returnflag")
    })

  private val deleteWhereQ = OpQuery(
    "delete_where",
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE NOT (l_orderkey BETWEEN 100 AND 700)
      GROUP BY l_returnflag ORDER BY l_returnflag
    """),
    (s, d) => {
      val t = stagedLineitemRange(s, d).shallowCloneTo(tmp("delw"))
        .delete(col("l_orderkey").between(100, 700))
      t.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("l_quantity")))).as("sum_qty"))
        .orderBy("l_returnflag")
    })

  // UPDATE … SET … WHERE (Delta predicate update), same skipping story;
  // every SET expression evaluates against the OLD row in one projection.
  private val updateWhereQ = OpQuery(
    "update_where",
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(CASE WHEN l_orderkey BETWEEN 100 AND 700
                                THEN l_quantity + 0.5 ELSE l_quantity END
                       AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY l_returnflag ORDER BY l_returnflag
    """),
    (s, d) => {
      val t = stagedLineitemRange(s, d).shallowCloneTo(tmp("updw"))
        .update(col("l_orderkey").between(100, 700),
          Map("l_quantity" -> (col("l_quantity") + 0.5)))
      t.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("l_quantity")))).as("sum_qty"))
        .orderBy("l_returnflag")
    })

  // MERGE with schema evolution (Delta autoMerge on MERGE): the source
  // brings a new o_channel column and touches ONE partition — that
  // partition is rewritten in the widened schema, the others carry over
  // untouched and null-fill o_channel at scan time (metadata-only
  // evolution: no full-table rewrite).
  private val mergeEvolve = OpQuery(
    "merge_schema_evolution",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice,
               o_orderdate, o_orderpriority, 'WEB' AS o_channel
        FROM orders WHERE o_orderkey % 10 = 0 AND o_orderstatus = 'F'),
      merged AS (
        SELECT t.*, CAST(NULL AS VARCHAR) AS o_channel FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT * FROM src)
      SELECT COUNT(*) AS n_rows, COUNT(o_channel) AS n_evolved,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM merged
    """),
    (s, d) => {
      val src = Tables.load(s, d, "orders")
        .filter(col("o_orderkey") % 10 === 0 && col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_channel", lit("WEB"))
      val t = stagedOrders(s, d).shallowCloneTo(tmp("mevo"))
        .merge(src, keys = Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"), evolveSchema = true)
      t.read().agg(count(lit(1)).as("n_rows"),
        count(col("o_channel")).as("n_evolved"),
        graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice")))).as("sum_price"))
    })

  // Exactly-once streaming-sink discipline (Delta txnAppId/txnVersion
  // analog): two append "micro-batches" commit with (appId, version)
  // markers, then BOTH are re-delivered — exactly what checkpoint
  // recovery does to the last batch after a crash. The replays are
  // detected by the carried txn map and skipped, so the table holds each
  // batch exactly once; the oracle is the single-application content.
  // Without the markers the replayed APPENDs would double 2 of the 3
  // branches (the require()s pin the skip; SnapshotTableSpec covers the
  // marker algebra).
  private val sinkExactlyOnce = OpQuery(
    "sink_exactly_once",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM (
        SELECT o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 11 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val t = stagedOrders(s, d).shallowCloneTo(tmp("txnsink"))
      // whether the append of batch `m` tagged ("sink", id) committed
      def applied(m: Int, id: Long) = {
        val v = t.currentVersion
        t.append(o.filter(col("o_orderkey") % m === 0), Some("o_orderstatus"),
          txn = Some(("sink", id))).currentVersion > v
      }
      require(applied(7, 1) && applied(11, 2))
      // checkpoint-recovery re-delivery: both batches replayed, both skipped
      require(!applied(7, 1) && !applied(11, 2))
      t.read().groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("o_orderstatus")
    })

  // Dynamic partition overwrite (INSERT OVERWRITE / Delta replaceWhere
  // at partition granularity): partition 'F' is replaced wholesale by a
  // HALVED, re-priced slice — old 'F' files are never read (cost =
  // O(new data)); every other partition carries over by reference
  // (file identity asserted in SnapshotTableSpec).
  private val insertOverwrite = OpQuery(
    "insert_overwrite_partition",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM (
        SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus <> 'F'
        UNION ALL
        SELECT o_orderstatus, o_totalprice + 100.0 FROM orders
        WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val t = stagedOrders(s, d).shallowCloneTo(tmp("ovw"))
      t.overwrite(
        o.filter(col("o_orderstatus") === "F" && col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100.0),
        Some("o_orderstatus"), SnapshotTable.Replace.Present)
      t.read().groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("o_orderstatus")
    })

  // OPTIMIZE with a small-file threshold (Delta OPTIMIZE bin-packing,
  // vs compaction_roundtrip's full rewrite): one big base file + a
  // spray of small appended files; only the smalls fold (threshold =
  // the largest current file, so the selection is scale-free), the big
  // file carries by reference — cost ∝ small-file bytes, never table
  // size. Content must be unchanged; the file-level carry is asserted
  // in SnapshotTableSpec.
  private val optimizeSmallFiles = OpQuery(
    "optimize_small_files",
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM (
        SELECT l_returnflag, l_quantity FROM lineitem
        UNION ALL
        SELECT l_returnflag, l_quantity FROM lineitem WHERE l_orderkey % 200 < 4)
      GROUP BY l_returnflag ORDER BY l_returnflag
    """),
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val t = new SnapshotTable(s, tmp("optsf")).create(li.coalesce(1))
      (0 until 4).foreach(i =>
        t.append(li.filter(col("l_orderkey") % 200 === i).coalesce(1)))
      t.optimize(minBytes = t.files.map(_.bytes).max)
      t.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("l_quantity")))).as("sum_qty"))
        .orderBy("l_returnflag")
    })

  // Hidden partitioning, time shape (Iceberg partition-transform analog:
  // spec §"Partition Transforms"): the table is laid out by
  // months(o_orderdate); the query filters the RAW timestamp column and
  // the file planner maps the range onto month partitions from the
  // manifest alone — the 100 TB time-series shape, where a one-quarter
  // query plans a handful of manifest entries whatever the table size. A
  // second commit appends an UNPARTITIONED slice (layout evolution); its
  // files stay planned and the filter picks their rows.
  private val partitionXformTime = OpQuery(
    "partition_xform_time",
    Some("""
      WITH t AS (
        SELECT o_orderstatus, o_orderdate FROM orders
        UNION ALL
        SELECT o_orderstatus, o_orderdate FROM orders WHERE o_orderkey % 11 = 0)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(MIN(o_orderdate) AS DATE) AS min_d,
             CAST(MAX(o_orderdate) AS DATE) AS max_d
      FROM t
      WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                            AND TIMESTAMP '1995-03-31 23:59:59'
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate")
      val t = new SnapshotTable(s, tmp("pxt"))
        .create(o.drop("o_orderkey"),
          partitionBy = Some("months(o_orderdate)"))
        .append(o.filter(col("o_orderkey") % 11 === 0).drop("o_orderkey"))
      t.read()
        .filter(col("o_orderdate")
          .between("1995-01-01 00:00:00", "1995-03-31 23:59:59"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderdate")).cast("date").as("min_d"),
          max(col("o_orderdate")).cast("date").as("max_d"))
        .orderBy("o_orderstatus")
    })

  // Hidden partitioning, point-lookup shape: bucket(8, o_custkey) lays
  // the table out by a hash the user never sees; an equality filter on
  // the raw key is planned onto exactly one bucket's files (CRC-32 of
  // the literal, computed driver-side from the manifest), and the filter
  // discards the bucket's other keys.
  private val partitionXformBucket = OpQuery(
    "partition_xform_bucket",
    Some("""
      SELECT o_custkey, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_custkey = 1
      GROUP BY o_custkey
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders").select("o_custkey", "o_totalprice")
      val t = new SnapshotTable(s, tmp("pxb"))
        .create(o, partitionBy = Some("bucket(8, o_custkey)"))
      t.read().filter(col("o_custkey") === 1L)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
    })

  // SHOW PARTITIONS / Iceberg `partitions` metadata table analog:
  // per-partition file and row counts answered FROM THE MANIFEST alone —
  // footer-derived row counts summed per partition value, zero data
  // files opened. At 100 TB this is the difference between a catalog
  // lookup and a petabyte scan; the oracle recomputes the same numbers
  // from the raw table, so the gate proves manifest metadata == data.
  private val metadataPartitions = OpQuery(
    "metadata_partitions",
    Some("""
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS num_rows
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      import s.implicits._
      stagedOrders(s, d).files
        .groupBy(_.partValue)
        .map { case (p, es) => (p, es.map(_.rows).sum) }
        .toSeq.sortBy(_._1)
        .toDF("o_orderstatus", "num_rows")
        .orderBy("o_orderstatus")
    })

  // Symlink-manifest export (Delta `GENERATE symlink_format_manifest`):
  // a post-merge snapshot is exported as a plain file list and read back
  // through ONLY that list — the result must equal the merged state, so
  // the gate proves the export excludes superseded pre-merge files,
  // losing-OCC orphans, and CDC side-cars (an external engine reading
  // the manifest sees exactly the committed snapshot).
  private val exportSymlink = OpQuery(
    "export_symlink_manifest",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'O', o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0),
      merged AS (
        SELECT o_orderstatus, o_totalprice FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM src)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val t = stagedOrders(s, d).shallowCloneTo(tmp("symlink"))
        .merge(mergeSource(o), Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"))
      val manifest = t.generateSymlinkManifest()
      val paths = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(new java.net.URI(
          if (manifest.startsWith("file:")) manifest else s"file:$manifest"))),
        java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
      s.read.parquet(paths: _*)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("o_orderstatus")
    })

  // Batch read through the connector format string with Delta-style
  // time travel: the SAME table root read at versionAsOf=0 (pre-merge)
  // and at the current version (post-merge) through
  // spark.read.format("graft-snapshot"). Pushed filters and column
  // pruning re-enter the manifest-planned scan's own Catalyst run, so
  // format-string reads keep parquet pushdown; the oracle pins both
  // snapshots' contents, proving time travel through the public
  // DataFrameReader API surface (not just the native read method).
  private val tableReaderFormat = OpQuery(
    "table_reader_format",
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'O', o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0),
      merged AS (
        SELECT o_orderstatus, o_totalprice FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderkey = t.o_orderkey
                            AND s.o_orderstatus = t.o_orderstatus)
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM src)
      SELECT * FROM (
        SELECT 'current' AS snapshot, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM merged GROUP BY o_orderstatus
        UNION ALL
        SELECT 'v0', o_orderstatus, COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders GROUP BY o_orderstatus)
      ORDER BY snapshot, o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
      val root = tmp("readerfmt")
      stagedOrders(s, d).shallowCloneTo(root)
        .merge(mergeSource(o), Seq("o_orderkey", "o_orderstatus"),
          partitionBy = Some("o_orderstatus"))
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
              .as("sum_price"))
          .select(lit(tag).as("snapshot"), col("o_orderstatus"),
            col("n"), col("sum_price"))
      agg(s.read.format("graft-snapshot").option("path", root).load(),
          "current")
        .unionByName(
          agg(s.read.format("graft-snapshot").option("path", root)
            .option("versionAsOf", "0").load(), "v0"))
        .orderBy("snapshot", "o_orderstatus")
    })

  /** Staged ONCE per sf dir: a hidden-layout (`months(o_orderdate)`)
    * orders table in a SQL catalog; per-invocation metadata-only clone
    * (the sidecar carries the partition spec, so the clone keeps the
    * hidden layout). Mirrors [[freshSqlCatalogOrders]] for the
    * transform-layout DML gates. */
  private def freshSqlCatalogOrdersMonths(s: SparkSession, d: String): (String, String) = {
    val cat = s"graftsqlh_${math.abs(d.hashCode).toHexString}"
    val root = stagedRoots.computeIfAbsent((d, "sqlcat_hid_root"), _ => {
      val root = stagedTmp("stage_sqlcat_hid")
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSqlCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .createOrReplaceTempView("sqlhid_orders_src")
      s.sql(s"CREATE NAMESPACE $cat.bench")
      s.sql(s"""CREATE TABLE $cat.bench.orders_mbase
                (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate DATE)
                PARTITIONED BY (months(o_orderdate))""")
      s.sql(s"""INSERT INTO $cat.bench.orders_mbase
                SELECT o_orderkey, o_totalprice, o_orderdate
                FROM sqlhid_orders_src""")
      root
    })
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftSqlCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.load(s, d, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderdate")
      .createOrReplaceTempView("sqlhid_orders_src")
    val t = s"orders_m${sqlDmlCatCounter.incrementAndGet()}"
    new SnapshotTable(s, s"$root/bench/orders_mbase")
      .shallowCloneTo(graft.Scratch.register(s"$root/bench/$t")): Unit
    (cat, t)
  }

  // Dynamic partition overwrite on a HIDDEN layout (the round-12 `weak`
  // grade): under partitionOverwriteMode=dynamic, one year's rows
  // replace exactly that year's month partitions of a months(ts) table
  // — never a full-table truncate (the silent-data-loss path this
  // pins); every other month carries by reference.
  private val sqlCatalogOverwriteHidden = OpQuery(
    "sql_catalog_overwrite_hidden",
    Some("""
      WITH rows AS (
        SELECT o_totalprice
                 + CASE WHEN year(o_orderdate) = 1995 THEN 9.0 ELSE 0.0 END
                 AS o_totalprice,
               o_orderdate
        FROM orders)
      SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM rows GROUP BY yr ORDER BY yr
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrdersMonths(s, d)
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        s.sql(s"""INSERT OVERWRITE $cat.bench.$tbl
                  SELECT o_orderkey, o_totalprice + 9.0, o_orderdate
                  FROM sqlhid_orders_src
                  WHERE YEAR(o_orderdate) = 1995""")           // v1
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      s.sql(s"""SELECT CAST(YEAR(o_orderdate) AS INT) AS yr, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.$tbl GROUP BY yr ORDER BY yr""")
    })

  // REPLACE WHERE follows Spark's OverwriteByExpression contract: the
  // replaced set is the FILTER's partitions, not the data's — 'P' is
  // named by the condition but absent from the data, so it is EMPTIED
  // (pre-fix the engine silently kept P's old rows).
  private val sqlReplaceWhere = OpQuery(
    "sql_replace_where",
    Some("""
      WITH merged AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        WHERE o_orderstatus NOT IN ('F', 'P')
        UNION ALL
        SELECT 'F', o_totalprice + 7.0 FROM orders WHERE o_orderstatus = 'F')
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      s.sql(s"""INSERT INTO $cat.bench.$tbl
                REPLACE WHERE o_orderstatus IN ('F', 'P')
                SELECT o_orderkey, o_totalprice + 7.0, 'F'
                FROM sqldml_orders_src WHERE o_orderstatus = 'F'""") // v1
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // SQL maintenance verbs (OPTIMIZE / VACUUM / DESCRIBE HISTORY via the
  // GraftSqlParser extension — the reference's housekeeping is SQL,
  // IncrementalTPCDSBenchmark.scala:186-204, TPCDSDataLoad.scala:137):
  // the full verb sequence on a mutated clone, then the data read back —
  // compaction and retention must be invisible to query results.
  private val sqlMaintenanceVerbs = OpQuery(
    "sql_maintenance_verbs",
    Some("""
      WITH all_rows AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT 'O', o_totalprice + 5.0 FROM orders WHERE o_orderkey % 9 = 0)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM all_rows GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      s.sql(s"""INSERT INTO $cat.bench.$tbl
                SELECT o_orderkey + 20000000, o_totalprice + 5.0, 'O'
                FROM sqldml_orders_src WHERE o_orderkey % 9 = 0""")  // v1
      s.sql(s"OPTIMIZE $cat.bench.$tbl")                             // v2 (bin-pack)
      s.sql(s"VACUUM $cat.bench.$tbl RETAIN 1 VERSIONS")             // history ≤ v2 reclaimed
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // DESCRIBE HISTORY as SQL: the commit log surfaces as rows with exact
  // per-version logical row counts — all manifest metadata, zero data
  // files opened (the oracle recomputes the counts from the source).
  private val sqlDescribeHistory = OpQuery(
    "sql_describe_history",
    Some("""
      SELECT 0 AS version, 'CLONE' AS operation,
             (SELECT COUNT(*) FROM orders) AS num_rows
      UNION ALL
      SELECT 1, 'APPEND',
             (SELECT COUNT(*) FROM orders)
               + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0)
      UNION ALL
      SELECT 2, 'ZORDER',
             (SELECT COUNT(*) FROM orders)
               + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0)
      ORDER BY version
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      s.sql(s"""INSERT INTO $cat.bench.$tbl
                SELECT o_orderkey + 30000000, o_totalprice, 'F'
                FROM sqldml_orders_src WHERE o_orderkey % 7 = 0""")       // v1
      s.sql(s"OPTIMIZE $cat.bench.$tbl ZORDER BY (o_orderkey, o_totalprice)") // v2
      s.sql(s"DESCRIBE HISTORY $cat.bench.$tbl")
        .select("version", "operation", "num_rows")
        .orderBy("version")
    })

  // Path-addressed SQL surface (the reference's literal Delta
  // spellings: `` select … from delta.`$path` `` FileCountBenchmark
  // .scala:149, `` OPTIMIZE delta.`$path` `` IncrementalTPCDSBenchmark
  // .scala:192, `` DESCRIBE HISTORY delta.`$path` `` :213): batch read,
  // maintenance verbs and time travel on an UNREGISTERED table — no
  // catalog anywhere — then the data read back by path. OPTIMIZE and
  // the history probe must be invisible to query results.
  private val sqlPathVerbs = OpQuery(
    "sql_path_verbs",
    Some("""
      WITH all_rows AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 11 = 0)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM all_rows GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val root = tmp("pathverbs")
      val t = new SnapshotTable(s, root).create(o.coalesce(2))       // v0
      t.append(o.filter(col("o_orderkey") % 11 === 0).coalesce(1))   // v1
      s.sql(s"OPTIMIZE graft.`$root`")           // v2 (bin-pack; may no-op
                                                 //  once files exceed the
                                                 //  threshold at huge SF)
      s.sql(s"OPTIMIZE graft.`$root` ZORDER BY (o_orderkey)") // always commits
      val hist = s.sql(s"DESCRIBE HISTORY graft.`$root`").collect()
      require(hist.length >= 3, s"expected >= 3 versions, got ${hist.length}")
      // SQL time travel by path: v0's count must match the history row
      // (both pure metadata on the engine side; the read is a real scan)
      val v0 = s.sql(s"SELECT count(*) FROM graft.`$root` VERSION AS OF 0")
        .head.getLong(0)
      require(v0 == hist.find(_.getInt(0) == 0).get.getLong(3),
        s"VERSION AS OF 0 read $v0 rows, history disagrees")
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM graft.`$root`
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // RESTORE + SHALLOW CLONE as SQL: clone pinned at v0 never sees the
  // later append; RESTORE rewinds the source to v0 (metadata-only, a
  // new versioned commit). Both read back as exactly the base rows —
  // the union doubles them, which the oracle recomputes from source.
  private val sqlRestoreClone = OpQuery(
    "sql_restore_clone",
    Some("""
      WITH both_tables AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM orders)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM both_tables GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val root = tmp("restsrc")
      val cl = tmp("restclone") + "/t"
      val t = new SnapshotTable(s, root).create(o.coalesce(2))       // v0
      t.append(o.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 3.0)
        .coalesce(1))                                                // v1
      s.sql(s"CREATE TABLE graft.`$cl` SHALLOW CLONE graft.`$root` " +
        "VERSION AS OF 0")
      s.sql(s"RESTORE TABLE graft.`$root` TO VERSION AS OF 0")       // v2
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM (SELECT o_orderstatus, o_totalprice FROM graft.`$root`
                      UNION ALL
                      SELECT o_orderstatus, o_totalprice FROM graft.`$cl`)
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  // table_changes TVF (Delta's CDF spelling) over commit-captured CDC:
  // v1 updates (pre+post images), v2 inserts; the 2-arg form's omitted
  // end must mean LATEST (covering v2), and each tagged row carries the
  // changed values — all recomputed by the oracle from the source.
  private val sqlTableChanges = OpQuery(
    "sql_table_changes",
    Some("""
      WITH changes AS (
        SELECT 'update_preimage' AS _change_type, o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0
        UNION ALL
        SELECT 'update_postimage', o_totalprice + 2.0
        FROM orders WHERE o_orderkey % 17 = 0
        UNION ALL
        SELECT 'insert', o_totalprice FROM orders WHERE o_orderkey % 19 = 0)
      SELECT _change_type, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM changes GROUP BY _change_type ORDER BY _change_type
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val root = tmp("tvfchanges")
      val t = new SnapshotTable(s, root).create(o.coalesce(2))       // v0
      t.merge(o.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 2.0),
        Seq("o_orderkey"), trackChanges = true)                      // v1
      // shift far above any TPC-H key at any plausible SF (max key =
      // 6M × SF) — a collision would reclassify the inserts as updates
      t.merge(o.filter(col("o_orderkey") % 19 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000000L),
        Seq("o_orderkey"), trackChanges = true)                      // v2
      s.sql(s"""SELECT _change_type, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM table_changes('$root', 1)
                GROUP BY _change_type ORDER BY _change_type""")
    })

  // Batch CDF via reader OPTIONS (Delta's readChangeFeed spelling): the
  // same commit-captured feed as table_changes, addressed purely through
  // DataFrameReader options — startingVersion bound, omitted ending =
  // latest; O(changed rows), never a version diff.
  private val cdcBatchOptions = OpQuery(
    "cdc_batch_options",
    Some("""
      WITH changes AS (
        SELECT 'update_preimage' AS _change_type, o_totalprice
        FROM orders WHERE o_orderkey % 23 = 0
        UNION ALL
        SELECT 'update_postimage', o_totalprice + 4.0
        FROM orders WHERE o_orderkey % 23 = 0)
      SELECT _change_type, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM changes GROUP BY _change_type ORDER BY _change_type
    """),
    (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val root = tmp("cdfbatch")
      val t = new SnapshotTable(s, root).create(o.coalesce(2))       // v0
      t.merge(o.filter(col("o_orderkey") % 23 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 4.0),
        Seq("o_orderkey"), trackChanges = true)                      // v1
      s.read.format("graft-snapshot").option("path", root)
        .option("readChangeFeed", "true").option("startingVersion", "1")
        .load()
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n"),
          graft.Cols.moneyOut(sum(graft.Cols.dec(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy("_change_type")
    })

  // Hudi CALL run_compaction ON MoR STATE — the verb's reason to exist:
  // pending deferred-merge deltas FOLD into a compacted base (before
  // round 15 the verb refused exactly this state); the read back equals
  // the oracle's full upsert recompute.
  private val sqlCallCompaction = OpQuery(
    "sql_call_compaction",
    Some("""
      WITH merged AS (
        SELECT CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 8.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders
        UNION ALL
        SELECT o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 31 = 0)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """),
    (s, d) => {
      val (cat, tbl) = freshSqlCatalogOrders(s, d)
      val root = s.conf.get(s"spark.sql.catalog.$cat.root")
      val t = new SnapshotTable(s, s"$root/bench/$tbl")
      val o = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      t.merge(
        o.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 8.0)
          .unionByName(o.filter(col("o_orderkey") % 31 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000000L)),
        Seq("o_orderkey"), deferred = true)                          // v1: MoR
      require(t.deltaFiles.nonEmpty, "fixture must leave pending deltas")
      s.sql(s"CALL $cat.system.run_compaction('run', 'bench.$tbl')") // v2: fold
      require(t.deltaFiles.isEmpty, "compaction must fold the deltas")
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                FROM $cat.bench.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  val defs: Seq[OpQuery] = Seq(
    mergeUpsert, compactRoundtrip, history, csvIngest, datagen, fileLayout,
    refreshView, filecountProbes, detail, ddlRoundtrip, bucketedJoin,
    mergeDelete, timeTravel, csvMalformed, schemaEvolution, incrementalAgg,
    incrementalJoin,
    tableClone, mergeMorRead, mergeMorDelete, cdcMorRead, vacuumRetention,
    zorderLayout, orcRoundtrip,
    jsonIngest, deleteWhereQ, deleteDvQ, sqlReorgPurge, updateWhereQ,
    mergeEvolve, timeTravelTs,
    concurrentMerge, sinkExactlyOnce, insertOverwrite, optimizeSmallFiles,
    partitionXformTime, partitionXformBucket, metadataPartitions,
    exportSymlink, tableReaderFormat, multiTableTxn, multiTableTxnAsof,
    sqlCatalogQuery, sqlCatalogTimeTravel, sqlCatalogUpdate, sqlCatalogMerge,
    sqlCatalogDbTxn, sqlCatalogDbAsof,
    sqlCatalogMetaHistory, sqlCatalogMetaPartitions,
    sqlCatalogOverwritePartition, sqlCatalogAlterAddColumn,
    sqlCatalogXformPrune, sqlMaintenanceVerbs, sqlDescribeHistory,
    sqlCatalogOverwriteHidden, sqlReplaceWhere,
    sqlPathVerbs, sqlRestoreClone, sqlTableChanges, cdcBatchOptions,
    sqlCallCompaction, sqlColumnMapping, sqlConvertInPlace, sqlClusterBy,
    sqlCheckConstraint, sqlColumnDefaults, sqlGeneratedColumns,
    sqlTypeWidening, sqlIdentityColumns, sqlNotNull, sqlDeleteDv,
    sqlUpdateDv, sqlMergeDv, rowTracking)
}
