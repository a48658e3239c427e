package graft.operators

import graft.{OpQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Product-analytics operators over the `events` stream table plus
  * deterministic stratified sampling — the reporting layer a training-
  * data pipeline sits next to.
  *
  * Scale designs: funnel and retention reduce to per-user partial
  * aggregates before any join (shuffle carries one row per user, never
  * raw events); the histogram is a row-local bucket expression feeding
  * one partial-agg count; stratified sampling ranks inside each stratum
  * with a multiplicative hash (no rand(), reproducible under retries —
  * the only safe kind of sampling on a distributed engine).
  */
object Analytics {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // ------------------------------------------------- FUNNEL ANALYSIS
  // view → click → purchase completion counts, strictly ordered by each
  // user's first event of each stage.
  private val funnel = OpQuery(
    "events_funnel",
    Some("""
      WITH stages AS (
        -- CAST(ts AS TIMESTAMP) truncates the parquet TIMESTAMP_NS to
        -- microseconds, matching the engine's event-time resolution
        -- (strict > comparisons would otherwise differ sub-microsecond)
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_buy
        FROM events GROUP BY user_id)
      SELECT COUNT(*) AS n_users,
             CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
             CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
             CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_buy > t_click THEN 1 ELSE 0 END) AS BIGINT) AS bought_after_click
      FROM stages
    """),
    (s, d) => {
      val stages = t(s, d, "events").groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      stages.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1).otherwise(0)).cast("long")
          .as("viewed"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"), 1)
          .otherwise(0)).cast("long").as("clicked_after_view"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
            col("t_buy") > col("t_click"), 1)
          .otherwise(0)).cast("long").as("bought_after_click"))
    })

  // ------------------------------------------------ COHORT RETENTION
  // Users grouped by first-activity day; per (cohort, day-offset) active
  // counts for the first week. Both sides of the join are per-user /
  // per-(user, day) partial aggregates.
  private val retention = OpQuery(
    "events_retention_cohort",
    Some("""
      WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id),
      activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
      SELECT cohort_day, CAST(day - cohort_day AS INT) AS day_offset,
             COUNT(*) AS n_active
      FROM firsts JOIN activity USING (user_id)
      WHERE day - cohort_day <= 7
      GROUP BY 1, 2 ORDER BY 1, 2
    """),
    (s, d) => {
      val ev = t(s, d, "events")
      val firsts = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("cohort_day"))
      val activity = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      firsts.join(activity, "user_id")
        .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
        .filter(col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort_day", "day_offset")
    })

  // ------------------------------------------------- VALUE HISTOGRAM
  // Fixed-width bucketing as a row-local floor expression — identical
  // IEEE division then floor on both engines.
  private val histogram = OpQuery(
    "agg_histogram",
    Some("""
      SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INT) AS bucket,
             COUNT(*) AS n
      FROM orders GROUP BY 1 ORDER BY 1
    """),
    (s, d) => t(s, d, "orders")
      .groupBy(floor(col("o_totalprice") / 50000.0).cast(IntegerType)
        .as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket"))

  // --------------------------------------------- STRATIFIED SAMPLING
  // Exactly k rows per stratum, chosen by multiplicative-hash rank (no
  // rand(): retries and stragglers reproduce the same sample).
  private val stratified = OpQuery(
    "sample_stratified",
    Some("""
      SELECT label, vec_id FROM (
        SELECT label, vec_id,
               ROW_NUMBER() OVER (PARTITION BY label
                 ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) AS rn
        FROM embeddings) WHERE rn <= 10 ORDER BY label, vec_id
    """),
    (s, d) => {
      val win = Window.partitionBy("label")
        .orderBy((col("vec_id") * 2654435761L) % 1000000007L, col("vec_id"))
      t(s, d, "embeddings")
        .select(col("label"), col("vec_id"),
          row_number().over(win).as("rn"))
        .filter(col("rn") <= 10)
        .select("label", "vec_id")
        .orderBy("label", "vec_id")
    })

  // ------------------------------------------- Z-SCORE ANOMALY FLAGS
  // Per-user mean/std from exact decimal partial sums (one shuffle on
  // user_id), then a row-local z expression; |z| > 3 rows surface.
  // Same exact-sums discipline as agg_corr_exact — a streaming stddev
  // would drift across engines.
  private val zscore = OpQuery(
    "events_anomaly_zscore",
    Some("""
      WITH s AS (
        SELECT user_id, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,2))) AS sx,
               SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxx
        FROM events GROUP BY user_id)
      SELECT e.event_id, e.user_id,
             ROUND((e.value - CAST(s.sx AS DOUBLE) / s.n)
                   / SQRT((CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n) / (s.n - 1)), 6) AS z
      FROM events e JOIN s USING (user_id)
      WHERE s.n > 1
        AND (CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n) > 0
        AND ABS((e.value - CAST(s.sx AS DOUBLE) / s.n)
                / SQRT((CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n) / (s.n - 1))) > 3.0
      ORDER BY e.event_id
    """),
    (s, d) => {
      val ev = t(s, d, "events")
      val x = col("value").cast("decimal(18,2)")
      val stats = ev.groupBy("user_id").agg(
        count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
      val mean = col("sx").cast("double") / col("n")
      val ss = col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / col("n")
      val std = sqrt(ss / (col("n") - 1))
      val z = (col("value") - mean) / std
      // ss > 0 guard: on a constant-value user ss is exactly 0.0, where
      // Spark's divide returns NULL but DuckDB returns inf — exclude the
      // degenerate stratum identically on both sides
      ev.join(stats, "user_id")
        .filter(col("n") > 1 && ss > 0 && abs(z) > 3.0)
        .select(col("event_id"), col("user_id"), round(z, 6).as("z"))
        .orderBy("event_id")
    })

  // ------------------------------------------ PARETO CUMULATIVE SHARE
  // Which top customers carry the first 20% of revenue: ordered running
  // sum and the grand total both stay in exact decimal (an unordered
  // double total would drift by summation order and could flap the
  // boundary row); the share is one double division per row.
  private val pareto = OpQuery(
    "agg_pareto_cumshare",
    Some("""
      WITH rev AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY o_custkey),
      ranked AS (
        SELECT o_custkey, rev,
               SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
               SUM(rev) OVER () AS total_rev,
               ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rn
        FROM rev)
      SELECT CAST(rn AS INT) AS rn, o_custkey,
             CAST(rev AS DOUBLE) AS rev,
             ROUND(CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6) AS cum_share
      FROM ranked
      WHERE CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) <= 0.2
      ORDER BY rn
    """),
    (s, d) => {
      import graft.Cols.{dec, moneyOut}
      val rev = t(s, d, "orders").groupBy("o_custkey")
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
      // distributed total-order ranking + running sum: range-partitioned
      // sort with broadcast prefix offsets (ScaleWindow) instead of a
      // single-task global window — the customer dimension is ~30M rows
      // at warehouse scale, too big for one task's sort buffer
      val stats = ScaleWindow.orderStats(rev, Seq.empty,
        Seq(col("rev").desc, col("o_custkey")), "graft_rn", "graft_n",
        Some((col("rev"), "graft_cum", "graft_tot")))
      val share = col("graft_cum").cast("double") / col("graft_tot").cast("double")
      stats.filter(share <= 0.2)
        .select(col("graft_rn").cast(IntegerType).as("rn"), col("o_custkey"),
          moneyOut(col("rev")).as("rev"), round(share, 6).as("cum_share"))
        .orderBy("rn")
    })

  // --------------------------------------- EVENT-SEQUENCE TRIGRAMS
  // Most common 3-step event-type paths: lead() over each user's
  // (ts, event_id)-ordered stream builds the trigram row-locally after
  // one shuffle on user_id; counts partial-aggregate.
  private val trigrams = OpQuery(
    "events_top_sequences",
    Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id))
      SELECT event_type || '>' || e2 || '>' || e3 AS trigram, COUNT(*) AS n
      FROM seq WHERE e3 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20
    """),
    (s, d) => {
      val win = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(win).as("e2"),
          lead(col("event_type"), 2).over(win).as("e3"))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("trigram"))
        .groupBy("trigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram")).limit(20)
    })

  // --------------------------------------------- RFM SEGMENTATION
  // Recency/frequency/monetary per customer with ntile quartile scores.
  // One shuffle to the per-customer aggregate; the corpus-max date is a
  // broadcast scalar; quartile windows run on the customer-sized
  // relation with unique tie-breaks (ntile is row-order-dependent).
  private val rfm = OpQuery(
    "customers_rfm",
    Some("""
      WITH m AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
      cust AS (
        SELECT o_custkey,
               CAST(maxd - MAX(CAST(o_orderdate AS DATE)) AS INT) AS recency_days,
               COUNT(*) AS frequency,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders, m GROUP BY o_custkey, maxd)
      SELECT o_custkey, recency_days, frequency,
             CAST(monetary AS DOUBLE) AS monetary,
             CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_q,
             CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_q,
             CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_q
      FROM cust ORDER BY o_custkey
    """),
    (s, d) => {
      import graft.Cols.{dec, moneyOut}
      val o = t(s, d, "orders")
      val maxd = o.agg(max(to_date(col("o_orderdate"))).as("maxd"))
      val cust = o.crossJoin(broadcast(maxd))
        .groupBy(col("o_custkey"), col("maxd"))
        .agg(
          datediff(first(col("maxd")), max(to_date(col("o_orderdate"))))
            .as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(dec(col("o_totalprice"))).as("monetary"))
      // exact NTILE without a single-task global sort: one distributed
      // range-sort per scoring dimension (ScaleWindow), quartile derived
      // from the global row number, joined back on the customer key —
      // three parallel dimension-sized shuffles instead of three
      // single-task sorts of the whole customer dimension
      def quartile(sort: Seq[Column], name: String) =
        ScaleWindow.orderStats(cust, Seq.empty, sort, "graft_rn", "graft_n")
          .select(col("o_custkey"),
            ScaleWindow.ntileOf(4, col("graft_rn"), col("graft_n")).as(name))
      cust
        .join(quartile(Seq(col("recency_days"), col("o_custkey")), "r_q"), "o_custkey")
        .join(quartile(Seq(col("frequency").desc, col("o_custkey")), "f_q"), "o_custkey")
        .join(quartile(Seq(col("monetary").desc, col("o_custkey")), "m_q"), "o_custkey")
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          moneyOut(col("monetary")).as("monetary"),
          col("r_q"), col("f_q"), col("m_q"))
        .orderBy("o_custkey")
    })

  // ------------------------------------------------- GRAPH PAGERANK
  // PageRank over the event-type transition graph (edge src→dst with
  // weight = how often a user's next event follows the previous type;
  // d = 0.85, 5 iterations, uniform init). The iterative-fixpoint shape
  // that matters at 100 TB: the EDGE aggregation is the big distributed
  // job (one window + one groupBy over all events), while the rank
  // table is node-cardinality-sized — each iteration joins the tiny
  // rank table back to the aggregated edges, so 5 iterations cost 5
  // small joins, not 5 passes over raw data. All rank arithmetic is
  // integer-scaled (1e-12 units, per-term `div` before the BIGINT sum)
  // — bit-identical across engines regardless of summation order, the
  // same determinism discipline as the micro-scaled search scores. The
  // node count is a driver-side scalar like the broadcast centroid set
  // (label vocabulary, bounded — never data-sized). Dangling-node mass
  // leaks (no redistribution) — identically in the oracle's unrolled
  // 5-CTE recurrence, which is the point of the gate: the recurrence,
  // not a library, pins the semantics.
  private val pagerank = OpQuery(
    "graph_pagerank",
    Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        FROM events),
      e AS (SELECT prev AS src, event_type AS dst, COUNT(*) AS w
            FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      outd AS (SELECT src, SUM(w) AS od FROM e GROUP BY src),
      nodes AS (SELECT DISTINCT event_type AS v FROM events),
      n AS (SELECT COUNT(*) AS cnt FROM nodes),
      r0 AS (SELECT v, 1000000000000 // (SELECT cnt FROM n) AS r FROM nodes),
      r1 AS (
        SELECT nodes.v,
               CAST((3 * 1000000000000 // 20) // (SELECT cnt FROM n)
                    + 17 * COALESCE(c.s, 0) // 20 AS BIGINT) AS r
        FROM nodes LEFT JOIN (
          SELECT e.dst AS v, SUM(p.r * e.w // outd.od) AS s
          FROM e JOIN r0 p ON e.src = p.v JOIN outd ON outd.src = e.src
          GROUP BY e.dst) c ON nodes.v = c.v),
      r2 AS (
        SELECT nodes.v,
               CAST((3 * 1000000000000 // 20) // (SELECT cnt FROM n)
                    + 17 * COALESCE(c.s, 0) // 20 AS BIGINT) AS r
        FROM nodes LEFT JOIN (
          SELECT e.dst AS v, SUM(p.r * e.w // outd.od) AS s
          FROM e JOIN r1 p ON e.src = p.v JOIN outd ON outd.src = e.src
          GROUP BY e.dst) c ON nodes.v = c.v),
      r3 AS (
        SELECT nodes.v,
               CAST((3 * 1000000000000 // 20) // (SELECT cnt FROM n)
                    + 17 * COALESCE(c.s, 0) // 20 AS BIGINT) AS r
        FROM nodes LEFT JOIN (
          SELECT e.dst AS v, SUM(p.r * e.w // outd.od) AS s
          FROM e JOIN r2 p ON e.src = p.v JOIN outd ON outd.src = e.src
          GROUP BY e.dst) c ON nodes.v = c.v),
      r4 AS (
        SELECT nodes.v,
               CAST((3 * 1000000000000 // 20) // (SELECT cnt FROM n)
                    + 17 * COALESCE(c.s, 0) // 20 AS BIGINT) AS r
        FROM nodes LEFT JOIN (
          SELECT e.dst AS v, SUM(p.r * e.w // outd.od) AS s
          FROM e JOIN r3 p ON e.src = p.v JOIN outd ON outd.src = e.src
          GROUP BY e.dst) c ON nodes.v = c.v),
      r5 AS (
        SELECT nodes.v,
               CAST((3 * 1000000000000 // 20) // (SELECT cnt FROM n)
                    + 17 * COALESCE(c.s, 0) // 20 AS BIGINT) AS r
        FROM nodes LEFT JOIN (
          SELECT e.dst AS v, SUM(p.r * e.w // outd.od) AS s
          FROM e JOIN r4 p ON e.src = p.v JOIN outd ON outd.src = e.src
          GROUP BY e.dst) c ON nodes.v = c.v)
      SELECT v AS event_type, r AS rank_micro,
             CAST(r AS DOUBLE) / 1000000000000 AS rank
      FROM r5 ORDER BY v
    """),
    (s, d) => {
      val ev = t(s, d, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val seq = ev
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
      val e = seq.filter(col("prev").isNotNull)
        .groupBy(col("prev").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      val outd = e.groupBy("src").agg(sum("w").as("od"))
      val nodes = ev.select(col("event_type").as("v")).distinct()
      val scale = 1000000000000L
      val nCnt = nodes.count() // node vocabulary — bounded, never data-sized
      val base = ((3L * scale) / 20L) / nCnt
      var ranks = nodes.withColumn("r", lit(scale / nCnt))
      for (_ <- 1 to 5) {
        val contrib = e.join(outd, "src")
          .join(broadcast(ranks.withColumnRenamed("v", "src")), "src")
          .select(col("dst").as("v"), expr("r * w div od").as("tm"))
          .groupBy("v").agg(sum("tm").as("s"))
        ranks = nodes.join(contrib, Seq("v"), "left")
          .select(col("v"),
            (lit(base) +
              expr("17 * coalesce(s, CAST(0 AS BIGINT)) div 20")).as("r"))
      }
      ranks.select(col("v").as("event_type"), col("r").as("rank_micro"),
          (col("r").cast("double") / scale).as("rank"))
        .orderBy("event_type")
    })

  // ------------------------------------------------- DATA PROFILING
  // Table profile: per column, null count, exact distinct count, and
  // min/max rendered to a uniform string column.
  //
  // Shape (r19, guide §2.3 "shuffle fewer bytes"): one two-level
  // aggregation PER COLUMN, unioned — each branch scans exactly its one
  // column (parquet column pruning per branch) and Spark plans the
  // single countDistinct as partial-agg-by-value → merge, so the
  // shuffle carries each column's DISTINCT VALUES after map-side
  // dedup, never rows. Folding all 6 distincts into ONE aggregate would
  // plan through an Expand that replicates every scanned row ×7 into
  // the shuffle. Total read volume is the same either way (6 one-column
  // scans = one 6-column scan, columnar), and the 6 branches are
  // independent jobs Spark schedules concurrently.
  // At 100 TB the exact countDistinct trades to approx_count_distinct
  // (HLL partial-aggregates) — exact kept here so the DuckDB
  // oracle can pin values bit-for-bit. Timestamps render through an
  // explicit micros pattern and money through DECIMAL(18,2) so the
  // string forms are engine-independent (raw double→string differs
  // between Java and DuckDB shortest-round-trip formatting).
  private val profile = OpQuery(
    "data_profile",
    Some("""
      SELECT * FROM (
        SELECT 'o_orderkey' AS col_name,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
               CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
        FROM orders
        UNION ALL
        SELECT 'o_custkey',
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
               CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus',
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice',
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
               CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
               CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate',
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
               strftime(MIN(CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f'),
               strftime(MAX(CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f')
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority',
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
               MIN(o_orderpriority), MAX(o_orderpriority)
        FROM orders)
      ORDER BY col_name
    """),
    (s, d) => {
      import graft.Cols.dec
      val o = t(s, d, "orders")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      def render(c: String, m: Column): Column =
        if (c == "o_orderdate") date_format(m, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        else m.cast("string")
      def measured(c: String): Column =
        if (c == "o_totalprice") dec(col(c)) else col(c)
      cols.map { c =>
        o.select(col(c))
          .agg(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
            countDistinct(col(c)).as("n_distinct"),
            render(c, min(measured(c))).as("min_s"),
            render(c, max(measured(c))).as("max_s"))
          .select(lit(c).as("col_name"), col("n_nulls"),
            col("n_distinct"), col("min_s"), col("max_s"))
      }.reduce(_.unionByName(_)).orderBy("col_name")
    })

  val defs: Seq[OpQuery] = Seq(
    funnel, retention, histogram, stratified, zscore, pareto, trigrams, rfm,
    profile, pagerank)
}
