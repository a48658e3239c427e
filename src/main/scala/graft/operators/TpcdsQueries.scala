package graft.operators

import graft.OpQuery
import graft.sources.Tpcds

/** TPC-DS conformance sweep: the structurally hardest queries of the
  * reference's corpus (TPCDSBenchmarkQueries.scala, spec-derived v2.13
  * set), re-authored from the public TPC-DS spec in the dialect-common
  * subset of Spark 4 ANSI SQL and DuckDB SQL, with parameters fitted to
  * the graft synthetic data (years 1995-2001, channel split on orderkey).
  *
  * Both engines run the IDENTICAL query text: Spark over TPC-DS tables
  * staged once per sf dir ([[Tpcds.ensure]], the reference's load-then-
  * query protocol, TPCDSDataLoad.scala:95-129), DuckDB over generator
  * CTEs assembled in front of the same body ([[Tpcds.oracle]]).
  *
  * Determinism conventions on top of the generator rules:
  *   - averages are CAST(SUM(decimal) AS DOUBLE)/COUNT — exact sum, one
  *     IEEE division; never AVG(double) (summation-order drift) and never
  *     AVG(decimal) (Spark decimal vs DuckDB double result types)
  *   - window AVG is SUM(..) OVER / COUNT(..) OVER for the same reason
  *   - CAST(SUM(int) AS BIGINT) (DuckDB HUGEINT), CAST(RANK() AS BIGINT)
  *     (Spark INT), final decimals CAST to DOUBLE (gate canonicalization)
  *   - every ORDER BY is total over the output columns, with explicit
  *     NULLS FIRST/LAST (Spark and DuckDB defaults differ both ways)
  */
object TpcdsQueries {

  private def tq(name: String, tables: Seq[String], body: String): OpQuery =
    OpQuery(name, Some(Tpcds.oracle(tables, body)),
      (s, d) => { Tpcds.ensure(s, d); s.sql(body) })

  private val q4 = tq("tpcds_q4",
    Seq("customer", "store_sales", "catalog_sales", "web_sales", "date_dim"),
    """WITH year_total AS (
 SELECT c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name,
        c_preferred_cust_flag customer_preferred_cust_flag,
        c_birth_country customer_birth_country,
        c_login customer_login, c_email_address customer_email_address,
        d_year dyear,
        CAST(SUM((ss_ext_list_price - ss_ext_wholesale_cost - ss_ext_discount_amt) + ss_ext_sales_price) AS DOUBLE) / 2 year_total, 's' sale_type
 FROM customer, store_sales, date_dim
 WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
 GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          c_birth_country, c_login, c_email_address, d_year
 UNION ALL
 SELECT c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name,
        c_preferred_cust_flag customer_preferred_cust_flag,
        c_birth_country customer_birth_country,
        c_login customer_login, c_email_address customer_email_address,
        d_year dyear,
        CAST(SUM((cs_ext_list_price - cs_ext_wholesale_cost - cs_ext_discount_amt) + cs_ext_sales_price) AS DOUBLE) / 2 year_total, 'c' sale_type
 FROM customer, catalog_sales, date_dim
 WHERE c_customer_sk = cs_bill_customer_sk AND cs_sold_date_sk = d_date_sk
 GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          c_birth_country, c_login, c_email_address, d_year
 UNION ALL
 SELECT c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name,
        c_preferred_cust_flag customer_preferred_cust_flag,
        c_birth_country customer_birth_country,
        c_login customer_login, c_email_address customer_email_address,
        d_year dyear,
        CAST(SUM((ws_ext_list_price - ws_ext_wholesale_cost - ws_ext_discount_amt) + ws_ext_sales_price) AS DOUBLE) / 2 year_total, 'w' sale_type
 FROM customer, web_sales, date_dim
 WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
 GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          c_birth_country, c_login, c_email_address, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_c_firstyear, year_total t_c_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_c_secyear.customer_id
  AND t_s_firstyear.customer_id = t_c_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_c_firstyear.sale_type = 'c'
  AND t_w_firstyear.sale_type = 'w' AND t_s_secyear.sale_type = 's'
  AND t_c_secyear.sale_type = 'c' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 1999 AND t_s_secyear.dyear = 2000
  AND t_c_firstyear.dyear = 1999 AND t_c_secyear.dyear = 2000
  AND t_w_firstyear.dyear = 1999 AND t_w_secyear.dyear = 2000
  AND t_s_firstyear.year_total > 0 AND t_c_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_c_firstyear.year_total > 0
           THEN t_c_secyear.year_total / t_c_firstyear.year_total
           ELSE CAST(NULL AS DOUBLE) END
      > CASE WHEN t_s_firstyear.year_total > 0
             THEN t_s_secyear.year_total / t_s_firstyear.year_total
             ELSE CAST(NULL AS DOUBLE) END
  AND CASE WHEN t_c_firstyear.year_total > 0
           THEN t_c_secyear.year_total / t_c_firstyear.year_total
           ELSE CAST(NULL AS DOUBLE) END
      > CASE WHEN t_w_firstyear.year_total > 0
             THEN t_w_secyear.year_total / t_w_firstyear.year_total
             ELSE CAST(NULL AS DOUBLE) END
ORDER BY t_s_secyear.customer_id, t_s_secyear.customer_first_name,
         t_s_secyear.customer_last_name,
         t_s_secyear.customer_preferred_cust_flag
LIMIT 100""")

  private val q11 = tq("tpcds_q11",
    Seq("customer", "store_sales", "web_sales", "date_dim"),
    """WITH year_total AS (
 SELECT c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name,
        c_preferred_cust_flag customer_preferred_cust_flag,
        c_birth_country customer_birth_country,
        c_login customer_login, c_email_address customer_email_address,
        d_year dyear,
        CAST(SUM(ss_ext_list_price - ss_ext_discount_amt) AS DOUBLE) year_total, 's' sale_type
 FROM customer, store_sales, date_dim
 WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
 GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          c_birth_country, c_login, c_email_address, d_year
 UNION ALL
 SELECT c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name,
        c_preferred_cust_flag customer_preferred_cust_flag,
        c_birth_country customer_birth_country,
        c_login customer_login, c_email_address customer_email_address,
        d_year dyear,
        CAST(SUM(ws_ext_list_price - ws_ext_discount_amt) AS DOUBLE) year_total, 'w' sale_type
 FROM customer, web_sales, date_dim
 WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
 GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          c_birth_country, c_login, c_email_address, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 1999 AND t_s_secyear.dyear = 2000
  AND t_w_firstyear.dyear = 1999 AND t_w_secyear.dyear = 2000
  AND t_s_firstyear.year_total > 0 AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
           THEN t_w_secyear.year_total / t_w_firstyear.year_total
           ELSE CAST(0 AS DOUBLE) END
      > CASE WHEN t_s_firstyear.year_total > 0
             THEN t_s_secyear.year_total / t_s_firstyear.year_total
             ELSE CAST(0 AS DOUBLE) END
ORDER BY t_s_secyear.customer_id, t_s_secyear.customer_first_name,
         t_s_secyear.customer_last_name,
         t_s_secyear.customer_preferred_cust_flag
LIMIT 100""")

  private val q74 = tq("tpcds_q74",
    Seq("customer", "store_sales", "web_sales", "date_dim"),
    """WITH year_total AS (
 SELECT c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name, d_year year_,
        CAST(SUM(ss_net_paid) AS DOUBLE) year_total, 's' sale_type
 FROM customer, store_sales, date_dim
 WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
   AND d_year IN (1999, 2000)
 GROUP BY c_customer_id, c_first_name, c_last_name, d_year
 UNION ALL
 SELECT c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name, d_year year_,
        CAST(SUM(ws_net_paid) AS DOUBLE) year_total, 'w' sale_type
 FROM customer, web_sales, date_dim
 WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
   AND d_year IN (1999, 2000)
 GROUP BY c_customer_id, c_first_name, c_last_name, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.year_ = 1999 AND t_s_secyear.year_ = 2000
  AND t_w_firstyear.year_ = 1999 AND t_w_secyear.year_ = 2000
  AND t_s_firstyear.year_total > 0 AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
           THEN t_w_secyear.year_total / t_w_firstyear.year_total
           ELSE CAST(NULL AS DOUBLE) END
      > CASE WHEN t_s_firstyear.year_total > 0
             THEN t_s_secyear.year_total / t_s_firstyear.year_total
             ELSE CAST(NULL AS DOUBLE) END
ORDER BY t_s_secyear.customer_id, t_s_secyear.customer_first_name,
         t_s_secyear.customer_last_name
LIMIT 100""")

  private val q5 = tq("tpcds_q5",
    Seq("store_sales", "store_returns", "catalog_sales", "catalog_returns", "web_sales", "web_returns", "date_dim", "store", "catalog_page", "web_site"),
    """WITH ssr AS (
 SELECT s_store_id store_id, SUM(sales_price) sales, SUM(profit) profit,
        SUM(return_amt) returns_amt, SUM(net_loss) profit_loss
 FROM (SELECT ss_store_sk store_sk, ss_sold_date_sk date_sk,
              ss_ext_sales_price sales_price, ss_net_profit profit,
              CAST(0 AS DECIMAL(12,2)) return_amt, CAST(0 AS DECIMAL(12,2)) net_loss
       FROM store_sales
       UNION ALL
       SELECT sr_store_sk store_sk, sr_returned_date_sk date_sk,
              CAST(0 AS DECIMAL(12,2)) sales_price, CAST(0 AS DECIMAL(12,2)) profit,
              sr_return_amt return_amt, sr_net_loss net_loss
       FROM store_returns) salesreturns, date_dim, store
 WHERE date_sk = d_date_sk
   AND d_date BETWEEN DATE '2000-08-03' AND DATE '2000-08-03' + 14
   AND store_sk = s_store_sk
 GROUP BY s_store_id),
csr AS (
 SELECT cp_catalog_page_id page_id, SUM(sales_price) sales, SUM(profit) profit,
        SUM(return_amt) returns_amt, SUM(net_loss) profit_loss
 FROM (SELECT cs_catalog_page_sk page_sk, cs_sold_date_sk date_sk,
              cs_ext_sales_price sales_price, cs_net_profit profit,
              CAST(0 AS DECIMAL(12,2)) return_amt, CAST(0 AS DECIMAL(12,2)) net_loss
       FROM catalog_sales
       UNION ALL
       SELECT cr_catalog_page_sk page_sk, cr_returned_date_sk date_sk,
              CAST(0 AS DECIMAL(12,2)) sales_price, CAST(0 AS DECIMAL(12,2)) profit,
              cr_return_amount return_amt, cr_net_loss net_loss
       FROM catalog_returns) salesreturns, date_dim, catalog_page
 WHERE date_sk = d_date_sk
   AND d_date BETWEEN DATE '2000-08-03' AND DATE '2000-08-03' + 14
   AND page_sk = cp_catalog_page_sk
 GROUP BY cp_catalog_page_id),
wsr AS (
 SELECT web_site_id site_id, SUM(sales_price) sales, SUM(profit) profit,
        SUM(return_amt) returns_amt, SUM(net_loss) profit_loss
 FROM (SELECT ws_web_site_sk site_sk, ws_sold_date_sk date_sk,
              ws_ext_sales_price sales_price, ws_net_profit profit,
              CAST(0 AS DECIMAL(12,2)) return_amt, CAST(0 AS DECIMAL(12,2)) net_loss
       FROM web_sales
       UNION ALL
       SELECT ws.ws_web_site_sk site_sk, wr_returned_date_sk date_sk,
              CAST(0 AS DECIMAL(12,2)) sales_price, CAST(0 AS DECIMAL(12,2)) profit,
              wr_return_amt return_amt, wr_net_loss net_loss
       FROM web_returns LEFT OUTER JOIN web_sales ws
            ON (wr_item_sk = ws.ws_item_sk AND wr_order_number = ws.ws_order_number))
      salesreturns, date_dim, web_site
 WHERE date_sk = d_date_sk
   AND d_date BETWEEN DATE '2000-08-03' AND DATE '2000-08-03' + 14
   AND site_sk = web_site_sk
 GROUP BY web_site_id)
SELECT channel, id, CAST(SUM(sales) AS DOUBLE) sales,
       CAST(SUM(returns_amt) AS DOUBLE) returns_amt,
       CAST(SUM(profit) AS DOUBLE) profit
FROM (SELECT 'store channel' channel, 'store' || store_id id, sales,
             returns_amt, profit - profit_loss profit FROM ssr
      UNION ALL
      SELECT 'catalog channel' channel, 'catalog_page' || page_id id, sales,
             returns_amt, profit - profit_loss profit FROM csr
      UNION ALL
      SELECT 'web channel' channel, 'web_site' || site_id id, sales,
             returns_amt, profit - profit_loss profit FROM wsr) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel ASC NULLS FIRST, id ASC NULLS FIRST, sales ASC NULLS FIRST,
         returns_amt ASC NULLS FIRST, profit ASC NULLS FIRST
LIMIT 100""")

  /** Body shared with the incremental-refresh protocol sweep
    * ([[BenchExtras.refreshProtocol]]), which re-points `store_sales`
    * at a snapshot table between MERGE rounds. */
  private[operators] val q9Body = """SELECT
  CASE WHEN (SELECT COUNT(*) FROM store_sales WHERE ss_quantity BETWEEN 1 AND 10) > 6000
       THEN (SELECT CAST(SUM(ss_ext_discount_amt) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 1 AND 10)
       ELSE (SELECT CAST(SUM(ss_net_paid) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 1 AND 10) END bucket1,
  CASE WHEN (SELECT COUNT(*) FROM store_sales WHERE ss_quantity BETWEEN 11 AND 20) > 6000
       THEN (SELECT CAST(SUM(ss_ext_discount_amt) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 11 AND 20)
       ELSE (SELECT CAST(SUM(ss_net_paid) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 11 AND 20) END bucket2,
  CASE WHEN (SELECT COUNT(*) FROM store_sales WHERE ss_quantity BETWEEN 21 AND 30) > 6000
       THEN (SELECT CAST(SUM(ss_ext_discount_amt) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 21 AND 30)
       ELSE (SELECT CAST(SUM(ss_net_paid) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 21 AND 30) END bucket3,
  CASE WHEN (SELECT COUNT(*) FROM store_sales WHERE ss_quantity BETWEEN 31 AND 40) > 6000
       THEN (SELECT CAST(SUM(ss_ext_discount_amt) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 31 AND 40)
       ELSE (SELECT CAST(SUM(ss_net_paid) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 31 AND 40) END bucket4,
  CASE WHEN (SELECT COUNT(*) FROM store_sales WHERE ss_quantity BETWEEN 41 AND 50) > 6000
       THEN (SELECT CAST(SUM(ss_ext_discount_amt) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 41 AND 50)
       ELSE (SELECT CAST(SUM(ss_net_paid) AS DOUBLE) / COUNT(*)
             FROM store_sales WHERE ss_quantity BETWEEN 41 AND 50) END bucket5
FROM reason WHERE r_reason_sk = 1"""

  private val q9 = tq("tpcds_q9", Seq("store_sales", "reason"), q9Body)

  /** q14's repeated CTEs, shared by a/b, MATERIALIZED once per run
    * (guide §5 caching): `cross_items` feeds three channel semi-joins
    * and `avg_sales` three HAVING scalar subqueries; inlined (Spark's
    * default for deterministic CTEs) the whole 3-fact intersect
    * pipeline would re-evaluate per branch. Both register as run-scoped
    * cached temp views (Scratch.cache — released at the post-iteration
    * sweep, never carried across iterations/runs) and the IDENTICAL
    * body runs against them; the DuckDB oracle keeps the one-statement
    * WITH text. */
  private val q14CrossItemsSql = """SELECT i_item_sk ss_item_sk
 FROM item,
      (SELECT iss.i_brand_id brand_id, iss.i_class_id class_id,
              iss.i_category_id category_id
       FROM store_sales, item iss, date_dim d1
       WHERE ss_item_sk = iss.i_item_sk AND ss_sold_date_sk = d1.d_date_sk
         AND d1.d_year BETWEEN 1998 AND 2000
       INTERSECT
       SELECT ics.i_brand_id, ics.i_class_id, ics.i_category_id
       FROM catalog_sales, item ics, date_dim d2
       WHERE cs_item_sk = ics.i_item_sk AND cs_sold_date_sk = d2.d_date_sk
         AND d2.d_year BETWEEN 1998 AND 2000
       INTERSECT
       SELECT iws.i_brand_id, iws.i_class_id, iws.i_category_id
       FROM web_sales, item iws, date_dim d3
       WHERE ws_item_sk = iws.i_item_sk AND ws_sold_date_sk = d3.d_date_sk
         AND d3.d_year BETWEEN 1998 AND 2000) x
 WHERE i_brand_id = brand_id AND i_class_id = class_id
   AND i_category_id = category_id"""

  private val q14AvgSalesSql = """SELECT CAST(SUM(quantity * list_price) AS DOUBLE) / COUNT(*) average_sales
 FROM (SELECT ss_quantity quantity, ss_list_price list_price
       FROM store_sales, date_dim
       WHERE ss_sold_date_sk = d_date_sk AND d_year BETWEEN 1998 AND 2000
       UNION ALL
       SELECT cs_quantity quantity, cs_list_price list_price
       FROM catalog_sales, date_dim
       WHERE cs_sold_date_sk = d_date_sk AND d_year BETWEEN 1998 AND 2000
       UNION ALL
       SELECT ws_quantity quantity, ws_list_price list_price
       FROM web_sales, date_dim
       WHERE ws_sold_date_sk = d_date_sk AND d_year BETWEEN 1998 AND 2000) x"""

  private val q14With =
    "WITH \ncross_items AS (\n " + q14CrossItemsSql +
      "),\navg_sales AS (\n " + q14AvgSalesSql + ")\n"

  private val q14Tables =
    Seq("item", "store_sales", "catalog_sales", "web_sales", "date_dim")

  private def q14Query(name: String, body: String): OpQuery =
    OpQuery(name, Some(Tpcds.oracle(q14Tables, q14With + body)),
      (s, d) => {
        Tpcds.ensure(s, d)
        graft.Scratch.cache(s.sql(q14CrossItemsSql))
          .createOrReplaceTempView("cross_items")
        graft.Scratch.view("cross_items")
        graft.Scratch.cache(s.sql(q14AvgSalesSql))
          .createOrReplaceTempView("avg_sales")
        graft.Scratch.view("avg_sales")
        s.sql(body)
      })

  private val q14a = q14Query("tpcds_q14a",
    """SELECT channel, i_brand_id, i_class_id, i_category_id,
       CAST(SUM(sales) AS DOUBLE) sum_sales, CAST(SUM(number_sales) AS BIGINT) number_sales
FROM (SELECT 'store' channel, i.i_brand_id, i.i_class_id, i.i_category_id,
             SUM(ss_quantity * ss_list_price) sales, COUNT(*) number_sales
      FROM store_sales, item i, date_dim
      WHERE ss_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND ss_item_sk = i.i_item_sk AND ss_sold_date_sk = d_date_sk
        AND d_year = 2000 AND d_moy = 11
      GROUP BY i.i_brand_id, i.i_class_id, i.i_category_id
      HAVING CAST(SUM(ss_quantity * ss_list_price) AS DOUBLE)
             > (SELECT average_sales FROM avg_sales)
      UNION ALL
      SELECT 'catalog' channel, i.i_brand_id, i.i_class_id, i.i_category_id,
             SUM(cs_quantity * cs_list_price) sales, COUNT(*) number_sales
      FROM catalog_sales, item i, date_dim
      WHERE cs_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND cs_item_sk = i.i_item_sk AND cs_sold_date_sk = d_date_sk
        AND d_year = 2000 AND d_moy = 11
      GROUP BY i.i_brand_id, i.i_class_id, i.i_category_id
      HAVING CAST(SUM(cs_quantity * cs_list_price) AS DOUBLE)
             > (SELECT average_sales FROM avg_sales)
      UNION ALL
      SELECT 'web' channel, i.i_brand_id, i.i_class_id, i.i_category_id,
             SUM(ws_quantity * ws_list_price) sales, COUNT(*) number_sales
      FROM web_sales, item i, date_dim
      WHERE ws_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND ws_item_sk = i.i_item_sk AND ws_sold_date_sk = d_date_sk
        AND d_year = 2000 AND d_moy = 11
      GROUP BY i.i_brand_id, i.i_class_id, i.i_category_id
      HAVING CAST(SUM(ws_quantity * ws_list_price) AS DOUBLE)
             > (SELECT average_sales FROM avg_sales)) y
GROUP BY ROLLUP (channel, i_brand_id, i_class_id, i_category_id)
ORDER BY channel ASC NULLS FIRST, i_brand_id ASC NULLS FIRST,
         i_class_id ASC NULLS FIRST, i_category_id ASC NULLS FIRST,
         sum_sales ASC NULLS FIRST, number_sales ASC NULLS FIRST
LIMIT 100""")

  private val q14b = q14Query("tpcds_q14b",
    """SELECT this_year.channel ty_channel, this_year.i_brand_id ty_brand,
       this_year.i_class_id ty_class, this_year.i_category_id ty_category,
       CAST(this_year.sales AS DOUBLE) ty_sales, this_year.number_sales ty_number_sales,
       last_year.channel ly_channel, last_year.i_brand_id ly_brand,
       last_year.i_class_id ly_class, last_year.i_category_id ly_category,
       CAST(last_year.sales AS DOUBLE) ly_sales, last_year.number_sales ly_number_sales
FROM (SELECT 'store' channel, i.i_brand_id, i.i_class_id, i.i_category_id,
             SUM(ss_quantity * ss_list_price) sales, COUNT(*) number_sales
      FROM store_sales, item i, date_dim
      WHERE ss_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND ss_item_sk = i.i_item_sk AND ss_sold_date_sk = d_date_sk
        AND d_week_seq = (SELECT d_week_seq FROM date_dim
                          WHERE d_year = 2000 AND d_moy = 12 AND d_dom = 15)
      GROUP BY i.i_brand_id, i.i_class_id, i.i_category_id
      HAVING CAST(SUM(ss_quantity * ss_list_price) AS DOUBLE)
             > (SELECT average_sales FROM avg_sales)) this_year,
     (SELECT 'store' channel, i.i_brand_id, i.i_class_id, i.i_category_id,
             SUM(ss_quantity * ss_list_price) sales, COUNT(*) number_sales
      FROM store_sales, item i, date_dim
      WHERE ss_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND ss_item_sk = i.i_item_sk AND ss_sold_date_sk = d_date_sk
        AND d_week_seq = (SELECT d_week_seq FROM date_dim
                          WHERE d_year = 1999 AND d_moy = 12 AND d_dom = 15)
      GROUP BY i.i_brand_id, i.i_class_id, i.i_category_id
      HAVING CAST(SUM(ss_quantity * ss_list_price) AS DOUBLE)
             > (SELECT average_sales FROM avg_sales)) last_year
WHERE this_year.i_brand_id = last_year.i_brand_id
  AND this_year.i_class_id = last_year.i_class_id
  AND this_year.i_category_id = last_year.i_category_id
ORDER BY ty_channel ASC NULLS FIRST, ty_brand ASC NULLS FIRST,
         ty_class ASC NULLS FIRST, ty_category ASC NULLS FIRST,
         ty_sales ASC NULLS FIRST, ty_number_sales ASC NULLS FIRST,
         ly_sales ASC NULLS FIRST, ly_number_sales ASC NULLS FIRST
LIMIT 100""")

  private val q23a = tq("tpcds_q23a",
    Seq("store_sales", "catalog_sales", "web_sales", "date_dim", "item", "customer"),
    """WITH 
frequent_ss_items AS (
 SELECT SUBSTR(i_item_desc, 1, 30) itemdesc, i_item_sk item_sk, d_date solddate,
        COUNT(*) cnt
 FROM store_sales, date_dim, item
 WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
   AND d_year IN (1997, 1998, 1999, 2000)
 GROUP BY SUBSTR(i_item_desc, 1, 30), i_item_sk, d_date
 HAVING COUNT(*) > 1),
max_store_sales AS (
 SELECT MAX(csales) tpcds_cmax
 FROM (SELECT c_customer_sk, CAST(SUM(ss_quantity * ss_sales_price) AS DOUBLE) csales
       FROM store_sales, customer, date_dim
       WHERE ss_customer_sk = c_customer_sk AND ss_sold_date_sk = d_date_sk
         AND d_year IN (1997, 1998, 1999, 2000)
       GROUP BY c_customer_sk) x),
best_ss_customer AS (
 SELECT c_customer_sk, SUM(ss_quantity * ss_sales_price) ssales
 FROM store_sales, customer
 WHERE ss_customer_sk = c_customer_sk
 GROUP BY c_customer_sk
 HAVING CAST(SUM(ss_quantity * ss_sales_price) AS DOUBLE)
        > 0.5 * (SELECT tpcds_cmax FROM max_store_sales))
SELECT CAST(SUM(sales) AS DOUBLE) sum_sales
FROM (SELECT cs_quantity * cs_list_price sales
      FROM catalog_sales, date_dim
      WHERE d_year = 2000 AND d_moy = 5 AND cs_sold_date_sk = d_date_sk
        AND cs_item_sk IN (SELECT item_sk FROM frequent_ss_items)
        AND cs_bill_customer_sk IN (SELECT c_customer_sk FROM best_ss_customer)
      UNION ALL
      SELECT ws_quantity * ws_list_price sales
      FROM web_sales, date_dim
      WHERE d_year = 2000 AND d_moy = 5 AND ws_sold_date_sk = d_date_sk
        AND ws_item_sk IN (SELECT item_sk FROM frequent_ss_items)
        AND ws_bill_customer_sk IN (SELECT c_customer_sk FROM best_ss_customer)) y""")

  private val q23b = tq("tpcds_q23b",
    Seq("store_sales", "catalog_sales", "web_sales", "date_dim", "item", "customer"),
    """WITH 
frequent_ss_items AS (
 SELECT SUBSTR(i_item_desc, 1, 30) itemdesc, i_item_sk item_sk, d_date solddate,
        COUNT(*) cnt
 FROM store_sales, date_dim, item
 WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
   AND d_year IN (1997, 1998, 1999, 2000)
 GROUP BY SUBSTR(i_item_desc, 1, 30), i_item_sk, d_date
 HAVING COUNT(*) > 1),
max_store_sales AS (
 SELECT MAX(csales) tpcds_cmax
 FROM (SELECT c_customer_sk, CAST(SUM(ss_quantity * ss_sales_price) AS DOUBLE) csales
       FROM store_sales, customer, date_dim
       WHERE ss_customer_sk = c_customer_sk AND ss_sold_date_sk = d_date_sk
         AND d_year IN (1997, 1998, 1999, 2000)
       GROUP BY c_customer_sk) x),
best_ss_customer AS (
 SELECT c_customer_sk, SUM(ss_quantity * ss_sales_price) ssales
 FROM store_sales, customer
 WHERE ss_customer_sk = c_customer_sk
 GROUP BY c_customer_sk
 HAVING CAST(SUM(ss_quantity * ss_sales_price) AS DOUBLE)
        > 0.5 * (SELECT tpcds_cmax FROM max_store_sales))
SELECT c_last_name, c_first_name, CAST(SUM(sales) AS DOUBLE) sales
FROM (SELECT c_last_name, c_first_name, cs_quantity * cs_list_price sales
      FROM catalog_sales, customer, date_dim
      WHERE d_year = 2000 AND d_moy = 5 AND cs_sold_date_sk = d_date_sk
        AND cs_item_sk IN (SELECT item_sk FROM frequent_ss_items)
        AND cs_bill_customer_sk IN (SELECT c_customer_sk FROM best_ss_customer)
        AND cs_bill_customer_sk = c_customer_sk
      UNION ALL
      SELECT c_last_name, c_first_name, ws_quantity * ws_list_price sales
      FROM web_sales, customer, date_dim
      WHERE d_year = 2000 AND d_moy = 5 AND ws_sold_date_sk = d_date_sk
        AND ws_item_sk IN (SELECT item_sk FROM frequent_ss_items)
        AND ws_bill_customer_sk IN (SELECT c_customer_sk FROM best_ss_customer)
        AND ws_bill_customer_sk = c_customer_sk) y
GROUP BY c_last_name, c_first_name
ORDER BY c_last_name ASC NULLS FIRST, c_first_name ASC NULLS FIRST,
         sales ASC NULLS FIRST
LIMIT 100""")

  private val q39a = tq("tpcds_q39a",
    Seq("inventory", "item", "warehouse", "date_dim"),
    """WITH 
inv AS (
 SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy, stdev, mean,
        CASE mean WHEN 0 THEN NULL ELSE stdev / mean END cov
 FROM (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
              CASE WHEN COUNT(*) > 1 THEN SQRT(GREATEST(
                (CAST(SUM(CAST(inv_quantity_on_hand AS BIGINT) * inv_quantity_on_hand) AS DOUBLE)
                 - CAST(SUM(inv_quantity_on_hand) AS DOUBLE) / COUNT(*)
                   * CAST(SUM(inv_quantity_on_hand) AS DOUBLE))
                / (COUNT(*) - 1), CAST(0 AS DOUBLE))) ELSE CAST(NULL AS DOUBLE) END stdev,
              CAST(SUM(inv_quantity_on_hand) AS DOUBLE) / COUNT(*) mean
       FROM inventory, item, warehouse, date_dim
       WHERE inv_item_sk = i_item_sk AND inv_warehouse_sk = w_warehouse_sk
         AND inv_date_sk = d_date_sk AND d_year = 2000
       GROUP BY w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
 WHERE CASE mean WHEN 0 THEN 0 ELSE stdev / mean END > 1)
SELECT inv1.w_warehouse_sk wsk1, inv1.i_item_sk isk1, inv1.d_moy moy1,
       ROUND(inv1.mean, 4) mean1, ROUND(inv1.cov, 4) cov1,
       inv2.w_warehouse_sk wsk2, inv2.i_item_sk isk2, inv2.d_moy moy2,
       ROUND(inv2.mean, 4) mean2, ROUND(inv2.cov, 4) cov2
FROM inv inv1, inv inv2
WHERE inv1.i_item_sk = inv2.i_item_sk
  AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
  AND inv1.d_moy = 1 AND inv2.d_moy = 2
ORDER BY wsk1 ASC NULLS FIRST, isk1 ASC NULLS FIRST, moy1 ASC NULLS FIRST,
         mean1 ASC NULLS FIRST, cov1 ASC NULLS FIRST, moy2 ASC NULLS FIRST,
         mean2 ASC NULLS FIRST, cov2 ASC NULLS FIRST""")

  private val q39b = tq("tpcds_q39b",
    Seq("inventory", "item", "warehouse", "date_dim"),
    """WITH 
inv AS (
 SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy, stdev, mean,
        CASE mean WHEN 0 THEN NULL ELSE stdev / mean END cov
 FROM (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
              CASE WHEN COUNT(*) > 1 THEN SQRT(GREATEST(
                (CAST(SUM(CAST(inv_quantity_on_hand AS BIGINT) * inv_quantity_on_hand) AS DOUBLE)
                 - CAST(SUM(inv_quantity_on_hand) AS DOUBLE) / COUNT(*)
                   * CAST(SUM(inv_quantity_on_hand) AS DOUBLE))
                / (COUNT(*) - 1), CAST(0 AS DOUBLE))) ELSE CAST(NULL AS DOUBLE) END stdev,
              CAST(SUM(inv_quantity_on_hand) AS DOUBLE) / COUNT(*) mean
       FROM inventory, item, warehouse, date_dim
       WHERE inv_item_sk = i_item_sk AND inv_warehouse_sk = w_warehouse_sk
         AND inv_date_sk = d_date_sk AND d_year = 2000
       GROUP BY w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
 WHERE CASE mean WHEN 0 THEN 0 ELSE stdev / mean END > 1)
SELECT inv1.w_warehouse_sk wsk1, inv1.i_item_sk isk1, inv1.d_moy moy1,
       ROUND(inv1.mean, 4) mean1, ROUND(inv1.cov, 4) cov1,
       inv2.w_warehouse_sk wsk2, inv2.i_item_sk isk2, inv2.d_moy moy2,
       ROUND(inv2.mean, 4) mean2, ROUND(inv2.cov, 4) cov2
FROM inv inv1, inv inv2
WHERE inv1.i_item_sk = inv2.i_item_sk
  AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
  AND inv1.d_moy = 1 AND inv2.d_moy = 2
  AND inv1.cov > 1.5
ORDER BY wsk1 ASC NULLS FIRST, isk1 ASC NULLS FIRST, moy1 ASC NULLS FIRST,
         mean1 ASC NULLS FIRST, cov1 ASC NULLS FIRST, moy2 ASC NULLS FIRST,
         mean2 ASC NULLS FIRST, cov2 ASC NULLS FIRST""")

  private val q47 = tq("tpcds_q47",
    Seq("item", "store_sales", "date_dim", "store"),
    """WITH v1 AS (
 SELECT i_category, i_brand, s_store_name, s_company_name, d_year, d_moy,
        SUM(ss_sales_price) sum_sales,
        CAST(SUM(SUM(ss_sales_price)) OVER (PARTITION BY i_category, i_brand,
             s_store_name, s_company_name, d_year) AS DOUBLE)
          / COUNT(*) OVER (PARTITION BY i_category, i_brand,
             s_store_name, s_company_name, d_year) avg_monthly_sales,
        RANK() OVER (PARTITION BY i_category, i_brand, s_store_name,
             s_company_name ORDER BY d_year, d_moy) rn
 FROM item, store_sales, date_dim, store
 WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
   AND ss_store_sk = s_store_sk
   AND (d_year = 2000 OR (d_year = 1999 AND d_moy = 12)
        OR (d_year = 2001 AND d_moy = 1))
 GROUP BY i_category, i_brand, s_store_name, s_company_name, d_year, d_moy),
v2 AS (
 SELECT v1.i_category, v1.i_brand, v1.s_store_name, v1.s_company_name,
        v1.d_year, v1.d_moy, v1.avg_monthly_sales, v1.sum_sales,
        v1_lag.sum_sales psum, v1_lead.sum_sales nsum
 FROM v1, v1 v1_lag, v1 v1_lead
 WHERE v1.i_category = v1_lag.i_category AND v1.i_category = v1_lead.i_category
   AND v1.i_brand = v1_lag.i_brand AND v1.i_brand = v1_lead.i_brand
   AND v1.s_store_name = v1_lag.s_store_name
   AND v1.s_store_name = v1_lead.s_store_name
   AND v1.s_company_name = v1_lag.s_company_name
   AND v1.s_company_name = v1_lead.s_company_name
   AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1)
SELECT i_category, i_brand, s_store_name, s_company_name, d_year, d_moy,
       avg_monthly_sales, CAST(sum_sales AS DOUBLE) sum_sales,
       CAST(psum AS DOUBLE) psum, CAST(nsum AS DOUBLE) nsum
FROM v2
WHERE d_year = 2000 AND avg_monthly_sales > 0
  AND ABS(CAST(sum_sales AS DOUBLE) - avg_monthly_sales) / avg_monthly_sales > 0.1
ORDER BY CAST(sum_sales AS DOUBLE) - avg_monthly_sales ASC NULLS FIRST,
         i_category ASC NULLS FIRST, i_brand ASC NULLS FIRST,
         s_store_name ASC NULLS FIRST, s_company_name ASC NULLS FIRST,
         d_year ASC NULLS FIRST, d_moy ASC NULLS FIRST,
         avg_monthly_sales ASC NULLS FIRST, psum ASC NULLS FIRST,
         nsum ASC NULLS FIRST
LIMIT 100""")

  private val q57 = tq("tpcds_q57",
    Seq("item", "catalog_sales", "date_dim", "call_center"),
    """WITH v1 AS (
 SELECT i_category, i_brand, cc_name, d_year, d_moy,
        SUM(cs_sales_price) sum_sales,
        CAST(SUM(SUM(cs_sales_price)) OVER (PARTITION BY i_category, i_brand,
             cc_name, d_year) AS DOUBLE)
          / COUNT(*) OVER (PARTITION BY i_category, i_brand,
             cc_name, d_year) avg_monthly_sales,
        RANK() OVER (PARTITION BY i_category, i_brand, cc_name
             ORDER BY d_year, d_moy) rn
 FROM item, catalog_sales, date_dim, call_center
 WHERE cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
   AND cc_call_center_sk = cs_call_center_sk
   AND (d_year = 2000 OR (d_year = 1999 AND d_moy = 12)
        OR (d_year = 2001 AND d_moy = 1))
 GROUP BY i_category, i_brand, cc_name, d_year, d_moy),
v2 AS (
 SELECT v1.i_category, v1.i_brand, v1.cc_name, v1.d_year, v1.d_moy,
        v1.avg_monthly_sales, v1.sum_sales,
        v1_lag.sum_sales psum, v1_lead.sum_sales nsum
 FROM v1, v1 v1_lag, v1 v1_lead
 WHERE v1.i_category = v1_lag.i_category AND v1.i_category = v1_lead.i_category
   AND v1.i_brand = v1_lag.i_brand AND v1.i_brand = v1_lead.i_brand
   AND v1.cc_name = v1_lag.cc_name AND v1.cc_name = v1_lead.cc_name
   AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1)
SELECT i_category, i_brand, cc_name, d_year, d_moy, avg_monthly_sales,
       CAST(sum_sales AS DOUBLE) sum_sales,
       CAST(psum AS DOUBLE) psum, CAST(nsum AS DOUBLE) nsum
FROM v2
WHERE d_year = 2000 AND avg_monthly_sales > 0
  AND ABS(CAST(sum_sales AS DOUBLE) - avg_monthly_sales) / avg_monthly_sales > 0.1
ORDER BY CAST(sum_sales AS DOUBLE) - avg_monthly_sales ASC NULLS FIRST,
         i_category ASC NULLS FIRST, i_brand ASC NULLS FIRST,
         cc_name ASC NULLS FIRST, d_year ASC NULLS FIRST,
         d_moy ASC NULLS FIRST, avg_monthly_sales ASC NULLS FIRST,
         psum ASC NULLS FIRST, nsum ASC NULLS FIRST
LIMIT 100""")

  private val q49 = tq("tpcds_q49",
    Seq("web_sales", "web_returns", "catalog_sales", "catalog_returns", "store_sales", "store_returns", "date_dim"),
    """SELECT channel, item, return_ratio, return_rank, currency_rank FROM
 (SELECT 'web' channel, item, return_ratio,
         CAST(RANK() OVER (ORDER BY return_ratio) AS BIGINT) return_rank,
         CAST(RANK() OVER (ORDER BY currency_ratio) AS BIGINT) currency_rank
  FROM (SELECT ws.ws_item_sk item,
               CAST(SUM(COALESCE(wr.wr_return_quantity, 0)) AS DOUBLE)
                 / SUM(COALESCE(ws.ws_quantity, 0)) return_ratio,
               CAST(SUM(COALESCE(wr.wr_return_amt, CAST(0 AS DECIMAL(12,2)))) AS DOUBLE)
                 / CAST(SUM(COALESCE(ws.ws_net_paid, CAST(0 AS DECIMAL(12,2)))) AS DOUBLE) currency_ratio
        FROM web_sales ws LEFT OUTER JOIN web_returns wr
             ON (ws.ws_order_number = wr.wr_order_number
                 AND ws.ws_item_sk = wr.wr_item_sk), date_dim
        WHERE wr.wr_return_amt > 1000 AND ws.ws_net_profit > 1
          AND ws.ws_net_paid > 0 AND ws.ws_quantity > 0
          AND ws_sold_date_sk = d_date_sk AND d_year = 2000 AND d_moy = 12
        GROUP BY ws.ws_item_sk) in_web) w
 WHERE return_rank <= 10 OR currency_rank <= 10
UNION
SELECT channel, item, return_ratio, return_rank, currency_rank FROM
 (SELECT 'catalog' channel, item, return_ratio,
         CAST(RANK() OVER (ORDER BY return_ratio) AS BIGINT) return_rank,
         CAST(RANK() OVER (ORDER BY currency_ratio) AS BIGINT) currency_rank
  FROM (SELECT cs.cs_item_sk item,
               CAST(SUM(COALESCE(cr.cr_return_quantity, 0)) AS DOUBLE)
                 / SUM(COALESCE(cs.cs_quantity, 0)) return_ratio,
               CAST(SUM(COALESCE(cr.cr_return_amount, CAST(0 AS DECIMAL(12,2)))) AS DOUBLE)
                 / CAST(SUM(COALESCE(cs.cs_net_paid, CAST(0 AS DECIMAL(12,2)))) AS DOUBLE) currency_ratio
        FROM catalog_sales cs LEFT OUTER JOIN catalog_returns cr
             ON (cs.cs_order_number = cr.cr_order_number
                 AND cs.cs_item_sk = cr.cr_item_sk), date_dim
        WHERE cr.cr_return_amount > 1000 AND cs.cs_net_profit > 1
          AND cs.cs_net_paid > 0 AND cs.cs_quantity > 0
          AND cs_sold_date_sk = d_date_sk AND d_year = 2000 AND d_moy = 12
        GROUP BY cs.cs_item_sk) in_cat) c
 WHERE return_rank <= 10 OR currency_rank <= 10
UNION
SELECT channel, item, return_ratio, return_rank, currency_rank FROM
 (SELECT 'store' channel, item, return_ratio,
         CAST(RANK() OVER (ORDER BY return_ratio) AS BIGINT) return_rank,
         CAST(RANK() OVER (ORDER BY currency_ratio) AS BIGINT) currency_rank
  FROM (SELECT sts.ss_item_sk item,
               CAST(SUM(COALESCE(sr.sr_return_quantity, 0)) AS DOUBLE)
                 / SUM(COALESCE(sts.ss_quantity, 0)) return_ratio,
               CAST(SUM(COALESCE(sr.sr_return_amt, CAST(0 AS DECIMAL(12,2)))) AS DOUBLE)
                 / CAST(SUM(COALESCE(sts.ss_net_paid, CAST(0 AS DECIMAL(12,2)))) AS DOUBLE) currency_ratio
        FROM store_sales sts LEFT OUTER JOIN store_returns sr
             ON (sts.ss_ticket_number = sr.sr_ticket_number
                 AND sts.ss_item_sk = sr.sr_item_sk), date_dim
        WHERE sr.sr_return_amt > 1000 AND sts.ss_net_profit > 1
          AND sts.ss_net_paid > 0 AND sts.ss_quantity > 0
          AND ss_sold_date_sk = d_date_sk AND d_year = 2000 AND d_moy = 12
        GROUP BY sts.ss_item_sk) in_store) s
 WHERE return_rank <= 10 OR currency_rank <= 10
ORDER BY channel ASC NULLS FIRST, return_rank ASC NULLS FIRST,
         currency_rank ASC NULLS FIRST, item ASC NULLS FIRST,
         return_ratio ASC NULLS FIRST
LIMIT 100""")

  private val q51 = tq("tpcds_q51",
    Seq("web_sales", "store_sales", "date_dim"),
    """WITH web_v1 AS (
 SELECT ws_item_sk item_sk, d_date,
        SUM(SUM(ws_sales_price)) OVER (PARTITION BY ws_item_sk ORDER BY d_date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
 FROM web_sales, date_dim
 WHERE ws_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 120 AND 131
   AND ws_item_sk IS NOT NULL
 GROUP BY ws_item_sk, d_date),
store_v1 AS (
 SELECT ss_item_sk item_sk, d_date,
        SUM(SUM(ss_sales_price)) OVER (PARTITION BY ss_item_sk ORDER BY d_date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
 FROM store_sales, date_dim
 WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 120 AND 131
   AND ss_item_sk IS NOT NULL
 GROUP BY ss_item_sk, d_date)
SELECT item_sk, d_date, CAST(web_sales_ AS DOUBLE) web_sales,
       CAST(store_sales_ AS DOUBLE) store_sales,
       CAST(web_cumulative AS DOUBLE) web_cumulative,
       CAST(store_cumulative AS DOUBLE) store_cumulative
FROM (SELECT item_sk, d_date, web_sales_, store_sales_,
             MAX(web_sales_) OVER (PARTITION BY item_sk ORDER BY d_date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) web_cumulative,
             MAX(store_sales_) OVER (PARTITION BY item_sk ORDER BY d_date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) store_cumulative
      FROM (SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk
                        ELSE store.item_sk END item_sk,
                   CASE WHEN web.item_sk IS NOT NULL THEN web.d_date
                        ELSE store.d_date END d_date,
                   web.cume_sales web_sales_, store.cume_sales store_sales_
            FROM web_v1 web FULL OUTER JOIN store_v1 store
                 ON (web.item_sk = store.item_sk AND web.d_date = store.d_date)) x) y
WHERE web_cumulative > store_cumulative
ORDER BY item_sk ASC NULLS FIRST, d_date ASC NULLS FIRST
LIMIT 100""")

  private val q64 = tq("tpcds_q64",
    Seq("catalog_sales", "catalog_returns", "store_sales", "store_returns", "date_dim", "store", "customer", "customer_demographics", "promotion", "household_demographics", "customer_address", "income_band", "item"),
    """WITH cs_ui AS (
 SELECT cs_item_sk,
        SUM(cs_ext_list_price) sale,
        SUM(cr_refunded_cash + cr_reversed_charge + cr_store_credit) refund
 FROM catalog_sales, catalog_returns
 WHERE cs_item_sk = cr_item_sk AND cs_order_number = cr_order_number
 GROUP BY cs_item_sk
 HAVING SUM(cs_ext_list_price) > 2 * SUM(cr_refunded_cash + cr_reversed_charge
                                         + cr_store_credit)),
cross_sales AS (
 SELECT i_product_name product_name, i_item_sk item_sk,
        s_store_name store_name, s_zip store_zip,
        ad1.ca_street_number b_street_number, ad1.ca_street_name b_street_name,
        ad1.ca_city b_city, ad1.ca_zip b_zip,
        ad2.ca_street_number c_street_number, ad2.ca_street_name c_street_name,
        ad2.ca_city c_city, ad2.ca_zip c_zip,
        d1.d_year syear, d2.d_year fsyear, d3.d_year s2year,
        COUNT(*) cnt, SUM(ss_wholesale_cost) s1, SUM(ss_list_price) s2,
        SUM(ss_coupon_amt) s3
 FROM store_sales, store_returns, cs_ui, date_dim d1, date_dim d2, date_dim d3,
      store, customer, customer_demographics cd1, customer_demographics cd2,
      promotion, household_demographics hd1, household_demographics hd2,
      customer_address ad1, customer_address ad2, income_band ib1,
      income_band ib2, item
 WHERE ss_store_sk = s_store_sk AND ss_sold_date_sk = d1.d_date_sk
   AND ss_customer_sk = c_customer_sk AND ss_cdemo_sk = cd1.cd_demo_sk
   AND ss_hdemo_sk = hd1.hd_demo_sk AND ss_addr_sk = ad1.ca_address_sk
   AND ss_item_sk = i_item_sk AND ss_item_sk = sr_item_sk
   AND ss_ticket_number = sr_ticket_number AND ss_item_sk = cs_ui.cs_item_sk
   AND c_current_cdemo_sk = cd2.cd_demo_sk AND c_current_hdemo_sk = hd2.hd_demo_sk
   AND c_current_addr_sk = ad2.ca_address_sk AND c_first_sales_date_sk = d2.d_date_sk
   AND c_first_shipto_date_sk = d3.d_date_sk AND ss_promo_sk = p_promo_sk
   AND hd1.hd_income_band_sk = ib1.ib_income_band_sk
   AND hd2.hd_income_band_sk = ib2.ib_income_band_sk
   AND cd1.cd_marital_status <> cd2.cd_marital_status
   AND i_color IN ('red', 'blue', 'green', 'yellow')
   AND i_current_price BETWEEN 900 AND 1500
 GROUP BY i_product_name, i_item_sk, s_store_name, s_zip, ad1.ca_street_number,
          ad1.ca_street_name, ad1.ca_city, ad1.ca_zip, ad2.ca_street_number,
          ad2.ca_street_name, ad2.ca_city, ad2.ca_zip, d1.d_year, d2.d_year,
          d3.d_year)
SELECT cs1.product_name, cs1.store_name, cs1.store_zip, cs1.b_street_number,
       cs1.b_street_name, cs1.b_city, cs1.b_zip, cs1.c_street_number,
       cs1.c_street_name, cs1.c_city, cs1.c_zip, cs1.syear syear1, cs1.cnt cnt1,
       CAST(cs1.s1 AS DOUBLE) s11, CAST(cs1.s2 AS DOUBLE) s21,
       CAST(cs1.s3 AS DOUBLE) s31, CAST(cs2.s1 AS DOUBLE) s12,
       CAST(cs2.s2 AS DOUBLE) s22, CAST(cs2.s3 AS DOUBLE) s32,
       cs2.syear syear2, cs2.cnt cnt2
FROM cross_sales cs1, cross_sales cs2
WHERE cs1.item_sk = cs2.item_sk AND cs1.syear = 1999 AND cs2.syear = 2000
  AND cs2.cnt <= cs1.cnt AND cs1.store_name = cs2.store_name
  AND cs1.store_zip = cs2.store_zip
ORDER BY cs1.product_name ASC NULLS FIRST, cs1.store_name ASC NULLS FIRST,
         cnt2 ASC NULLS FIRST, cs1.b_street_number ASC NULLS FIRST,
         cs1.b_street_name ASC NULLS FIRST, cs1.b_city ASC NULLS FIRST,
         cs1.b_zip ASC NULLS FIRST, cs1.c_street_number ASC NULLS FIRST,
         cs1.c_street_name ASC NULLS FIRST, cs1.c_city ASC NULLS FIRST,
         cs1.c_zip ASC NULLS FIRST, syear1 ASC NULLS FIRST,
         cnt1 ASC NULLS FIRST, s11 ASC NULLS FIRST, s21 ASC NULLS FIRST,
         s31 ASC NULLS FIRST, s12 ASC NULLS FIRST, s22 ASC NULLS FIRST,
         s32 ASC NULLS FIRST, cs1.store_zip ASC NULLS FIRST,
         syear2 ASC NULLS FIRST""")

  // Unlike q22, a per-tuple pre-aggregation does NOT pay here: the 8-column
  // tuple space (item x month x store) is nearly as large as the filtered
  // fact input itself (TPC-DS sells each item at each store a handful of
  // times a month at every sf), so the extra shuffle buys no reduction —
  // measured 2.96 s vs 2.52 s at sf0.1. Spark's post-Expand partial
  // aggregation already bounds what the 9 grouping sets feed the exchange.
  private val q67 = tq("tpcds_q67",
    Seq("store_sales", "date_dim", "store", "item"),
    """SELECT i_category, i_class, i_brand, i_product_name, d_year, d_qoy, d_moy,
       s_store_id, sumsales, rk
FROM (SELECT i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
             d_moy, s_store_id, sumsales,
             CAST(RANK() OVER (PARTITION BY i_category
                  ORDER BY sumsales DESC) AS BIGINT) rk
      FROM (SELECT i_category, i_class, i_brand, i_product_name, d_year,
                   d_qoy, d_moy, s_store_id,
                   CAST(SUM(COALESCE(ss_sales_price * ss_quantity,
                        CAST(0 AS DECIMAL(12,2)))) AS DOUBLE) sumsales
            FROM store_sales, date_dim, store, item
            WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
              AND ss_store_sk = s_store_sk AND d_month_seq BETWEEN 120 AND 131
            GROUP BY ROLLUP (i_category, i_class, i_brand, i_product_name,
                             d_year, d_qoy, d_moy, s_store_id)) dw1) dw2
WHERE rk <= 100
ORDER BY i_category ASC NULLS FIRST, i_class ASC NULLS FIRST,
         i_brand ASC NULLS FIRST, i_product_name ASC NULLS FIRST,
         d_year ASC NULLS FIRST, d_qoy ASC NULLS FIRST, d_moy ASC NULLS FIRST,
         s_store_id ASC NULLS FIRST, sumsales ASC NULLS FIRST,
         rk ASC NULLS FIRST
LIMIT 100""")

  /** q72 runs the spec FROM-order text, the shape the reference
    * framework measures (ADVICE r18). With r19's write-parallel staging
    * it is also the faster local shape: the catalog_sales × inventory
    * explosion runs inside one parallel broadcast pipeline. Should the
    * dims outgrow broadcast at scale, pre-joining inventory to its
    * date_dim so the fact-fact join keys on (item, week) is the known
    * fallback (the r18 rewrite, in git history). */
  private val q72 = tq("tpcds_q72",
    Seq("catalog_sales", "inventory", "warehouse", "item",
      "customer_demographics", "household_demographics", "date_dim",
      "promotion", "catalog_returns"),
    """SELECT i_item_desc, w_warehouse_name, d1.d_week_seq,
       CAST(SUM(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) no_promo,
       CAST(SUM(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) promo,
       COUNT(*) total_cnt
FROM catalog_sales
JOIN inventory ON (cs_item_sk = inv_item_sk)
JOIN warehouse ON (w_warehouse_sk = inv_warehouse_sk)
JOIN item ON (i_item_sk = cs_item_sk)
JOIN customer_demographics ON (cs_bill_cdemo_sk = cd_demo_sk)
JOIN household_demographics ON (cs_bill_hdemo_sk = hd_demo_sk)
JOIN date_dim d1 ON (cs_sold_date_sk = d1.d_date_sk)
JOIN date_dim d2 ON (inv_date_sk = d2.d_date_sk)
JOIN date_dim d3 ON (cs_ship_date_sk = d3.d_date_sk)
LEFT OUTER JOIN promotion ON (cs_promo_sk = p_promo_sk)
LEFT OUTER JOIN catalog_returns ON (cr_item_sk = cs_item_sk
                                    AND cr_order_number = cs_order_number)
WHERE d1.d_week_seq = d2.d_week_seq AND inv_quantity_on_hand < cs_quantity
  AND d3.d_date > d1.d_date + 5 AND hd_buy_potential = '>10000'
  AND d1.d_year = 2000 AND cd_marital_status = 'D'
GROUP BY i_item_desc, w_warehouse_name, d1.d_week_seq
ORDER BY total_cnt DESC NULLS LAST, i_item_desc ASC NULLS FIRST,
         w_warehouse_name ASC NULLS FIRST, d1.d_week_seq ASC NULLS FIRST,
         no_promo ASC NULLS FIRST, promo ASC NULLS FIRST
LIMIT 100""")

  private val q75 = tq("tpcds_q75",
    Seq("catalog_sales", "catalog_returns", "store_sales", "store_returns", "web_sales", "web_returns", "item", "date_dim"),
    """WITH all_sales AS (
 SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
        CAST(SUM(sales_cnt) AS BIGINT) sales_cnt, SUM(sales_amt) sales_amt
 FROM (SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
              cs_quantity - COALESCE(cr_return_quantity, 0) sales_cnt,
              CAST(cs_ext_sales_price
                   - COALESCE(cr_return_amount, CAST(0 AS DECIMAL(12,2)))
                   AS DECIMAL(14,2)) sales_amt
       FROM catalog_sales
       JOIN item ON i_item_sk = cs_item_sk
       JOIN date_dim ON d_date_sk = cs_sold_date_sk
       LEFT JOIN catalog_returns ON (cs_order_number = cr_order_number
                                     AND cs_item_sk = cr_item_sk)
       WHERE i_category = 'Books'
       UNION
       SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
              ss_quantity - COALESCE(sr_return_quantity, 0) sales_cnt,
              CAST(ss_ext_sales_price
                   - COALESCE(sr_return_amt, CAST(0 AS DECIMAL(12,2)))
                   AS DECIMAL(14,2)) sales_amt
       FROM store_sales
       JOIN item ON i_item_sk = ss_item_sk
       JOIN date_dim ON d_date_sk = ss_sold_date_sk
       LEFT JOIN store_returns ON (ss_ticket_number = sr_ticket_number
                                   AND ss_item_sk = sr_item_sk)
       WHERE i_category = 'Books'
       UNION
       SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
              ws_quantity - COALESCE(wr_return_quantity, 0) sales_cnt,
              CAST(ws_ext_sales_price
                   - COALESCE(wr_return_amt, CAST(0 AS DECIMAL(12,2)))
                   AS DECIMAL(14,2)) sales_amt
       FROM web_sales
       JOIN item ON i_item_sk = ws_item_sk
       JOIN date_dim ON d_date_sk = ws_sold_date_sk
       LEFT JOIN web_returns ON (ws_order_number = wr_order_number
                                 AND ws_item_sk = wr_item_sk)
       WHERE i_category = 'Books') sales_detail
 GROUP BY d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id)
SELECT prev_yr.d_year prev_year, curr_yr.d_year year_, curr_yr.i_brand_id,
       curr_yr.i_class_id, curr_yr.i_category_id, curr_yr.i_manufact_id,
       prev_yr.sales_cnt prev_yr_cnt, curr_yr.sales_cnt curr_yr_cnt,
       curr_yr.sales_cnt - prev_yr.sales_cnt sales_cnt_diff,
       CAST(curr_yr.sales_amt - prev_yr.sales_amt AS DOUBLE) sales_amt_diff
FROM all_sales curr_yr, all_sales prev_yr
WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
  AND curr_yr.i_class_id = prev_yr.i_class_id
  AND curr_yr.i_category_id = prev_yr.i_category_id
  AND curr_yr.i_manufact_id = prev_yr.i_manufact_id
  AND curr_yr.d_year = 2000 AND prev_yr.d_year = 1999
  AND CAST(curr_yr.sales_cnt AS DOUBLE) / CAST(prev_yr.sales_cnt AS DOUBLE) < 0.9
ORDER BY sales_cnt_diff ASC NULLS FIRST, sales_amt_diff ASC NULLS FIRST,
         curr_yr.i_brand_id ASC NULLS FIRST, curr_yr.i_class_id ASC NULLS FIRST,
         curr_yr.i_category_id ASC NULLS FIRST, curr_yr.i_manufact_id ASC NULLS FIRST,
         prev_yr_cnt ASC NULLS FIRST, curr_yr_cnt ASC NULLS FIRST
LIMIT 100""")

  private val q78 = tq("tpcds_q78",
    Seq("web_sales", "web_returns", "catalog_sales", "catalog_returns", "store_sales", "store_returns", "date_dim"),
    """WITH ws AS (
 SELECT d_year ws_sold_year, ws_item_sk, ws_bill_customer_sk ws_customer_sk,
        CAST(SUM(ws_quantity) AS BIGINT) ws_qty, SUM(ws_wholesale_cost) ws_wc,
        SUM(ws_sales_price) ws_sp
 FROM web_sales
 LEFT JOIN web_returns ON wr_order_number = ws_order_number
                          AND ws_item_sk = wr_item_sk
 JOIN date_dim ON ws_sold_date_sk = d_date_sk
 WHERE wr_order_number IS NULL
 GROUP BY d_year, ws_item_sk, ws_bill_customer_sk),
cs AS (
 SELECT d_year cs_sold_year, cs_item_sk, cs_bill_customer_sk cs_customer_sk,
        CAST(SUM(cs_quantity) AS BIGINT) cs_qty, SUM(cs_wholesale_cost) cs_wc,
        SUM(cs_sales_price) cs_sp
 FROM catalog_sales
 LEFT JOIN catalog_returns ON cr_order_number = cs_order_number
                              AND cs_item_sk = cr_item_sk
 JOIN date_dim ON cs_sold_date_sk = d_date_sk
 WHERE cr_order_number IS NULL
 GROUP BY d_year, cs_item_sk, cs_bill_customer_sk),
ss AS (
 SELECT d_year ss_sold_year, ss_item_sk, ss_customer_sk,
        CAST(SUM(ss_quantity) AS BIGINT) ss_qty, SUM(ss_wholesale_cost) ss_wc,
        SUM(ss_sales_price) ss_sp
 FROM store_sales
 LEFT JOIN store_returns ON sr_ticket_number = ss_ticket_number
                            AND ss_item_sk = sr_item_sk
 JOIN date_dim ON ss_sold_date_sk = d_date_sk
 WHERE sr_ticket_number IS NULL
 GROUP BY d_year, ss_item_sk, ss_customer_sk)
SELECT ss_sold_year, ss_item_sk, ss_customer_sk,
       ROUND(CAST(ss_qty AS DOUBLE) / (COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0)), 2) ratio,
       ss_qty store_qty, CAST(ss_wc AS DOUBLE) store_wholesale_cost,
       CAST(ss_sp AS DOUBLE) store_sales_price,
       COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0) other_chan_qty,
       CAST(COALESCE(ws_wc, CAST(0 AS DECIMAL(12,2)))
            + COALESCE(cs_wc, CAST(0 AS DECIMAL(12,2))) AS DOUBLE) other_chan_wholesale_cost,
       CAST(COALESCE(ws_sp, CAST(0 AS DECIMAL(12,2)))
            + COALESCE(cs_sp, CAST(0 AS DECIMAL(12,2))) AS DOUBLE) other_chan_sales_price
FROM ss
LEFT JOIN ws ON (ws_sold_year = ss_sold_year AND ws_item_sk = ss_item_sk
                 AND ws_customer_sk = ss_customer_sk)
LEFT JOIN cs ON (cs_sold_year = ss_sold_year AND cs_item_sk = ss_item_sk
                 AND cs_customer_sk = ss_customer_sk)
WHERE (COALESCE(ws_qty, 0) > 0 OR COALESCE(cs_qty, 0) > 0) AND ss_sold_year = 2000
ORDER BY ss_sold_year ASC NULLS FIRST, ss_item_sk ASC NULLS FIRST,
         ss_customer_sk ASC NULLS FIRST, ss_qty DESC NULLS LAST,
         store_wholesale_cost DESC NULLS LAST, store_sales_price DESC NULLS LAST,
         other_chan_qty ASC NULLS FIRST,
         other_chan_wholesale_cost ASC NULLS FIRST,
         other_chan_sales_price ASC NULLS FIRST, ratio ASC NULLS FIRST
LIMIT 100""")

  private val q88 = tq("tpcds_q88",
    Seq("store_sales", "household_demographics", "time_dim", "store"),
    """SELECT * FROM
 (SELECT COUNT(*) h8_30_to_9
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = t_time_sk AND ss_hdemo_sk = hd_demo_sk
    AND ss_store_sk = s_store_sk AND t_hour = 8 AND t_minute >= 30
    AND ((hd_dep_count = 3 AND hd_vehicle_count <= 5)
         OR (hd_dep_count = 0 AND hd_vehicle_count <= 2)
         OR (hd_dep_count = 1 AND hd_vehicle_count <= 3))
    AND s_store_name = 'Store1') s1,
 (SELECT COUNT(*) h9_to_9_30
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = t_time_sk AND ss_hdemo_sk = hd_demo_sk
    AND ss_store_sk = s_store_sk AND t_hour = 9 AND t_minute < 30
    AND ((hd_dep_count = 3 AND hd_vehicle_count <= 5)
         OR (hd_dep_count = 0 AND hd_vehicle_count <= 2)
         OR (hd_dep_count = 1 AND hd_vehicle_count <= 3))
    AND s_store_name = 'Store1') s2,
 (SELECT COUNT(*) h9_30_to_10
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = t_time_sk AND ss_hdemo_sk = hd_demo_sk
    AND ss_store_sk = s_store_sk AND t_hour = 9 AND t_minute >= 30
    AND ((hd_dep_count = 3 AND hd_vehicle_count <= 5)
         OR (hd_dep_count = 0 AND hd_vehicle_count <= 2)
         OR (hd_dep_count = 1 AND hd_vehicle_count <= 3))
    AND s_store_name = 'Store1') s3,
 (SELECT COUNT(*) h10_to_10_30
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = t_time_sk AND ss_hdemo_sk = hd_demo_sk
    AND ss_store_sk = s_store_sk AND t_hour = 10 AND t_minute < 30
    AND ((hd_dep_count = 3 AND hd_vehicle_count <= 5)
         OR (hd_dep_count = 0 AND hd_vehicle_count <= 2)
         OR (hd_dep_count = 1 AND hd_vehicle_count <= 3))
    AND s_store_name = 'Store1') s4,
 (SELECT COUNT(*) h10_30_to_11
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = t_time_sk AND ss_hdemo_sk = hd_demo_sk
    AND ss_store_sk = s_store_sk AND t_hour = 10 AND t_minute >= 30
    AND ((hd_dep_count = 3 AND hd_vehicle_count <= 5)
         OR (hd_dep_count = 0 AND hd_vehicle_count <= 2)
         OR (hd_dep_count = 1 AND hd_vehicle_count <= 3))
    AND s_store_name = 'Store1') s5,
 (SELECT COUNT(*) h11_to_11_30
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = t_time_sk AND ss_hdemo_sk = hd_demo_sk
    AND ss_store_sk = s_store_sk AND t_hour = 11 AND t_minute < 30
    AND ((hd_dep_count = 3 AND hd_vehicle_count <= 5)
         OR (hd_dep_count = 0 AND hd_vehicle_count <= 2)
         OR (hd_dep_count = 1 AND hd_vehicle_count <= 3))
    AND s_store_name = 'Store1') s6,
 (SELECT COUNT(*) h11_30_to_12
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = t_time_sk AND ss_hdemo_sk = hd_demo_sk
    AND ss_store_sk = s_store_sk AND t_hour = 11 AND t_minute >= 30
    AND ((hd_dep_count = 3 AND hd_vehicle_count <= 5)
         OR (hd_dep_count = 0 AND hd_vehicle_count <= 2)
         OR (hd_dep_count = 1 AND hd_vehicle_count <= 3))
    AND s_store_name = 'Store1') s7,
 (SELECT COUNT(*) h12_to_12_30
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = t_time_sk AND ss_hdemo_sk = hd_demo_sk
    AND ss_store_sk = s_store_sk AND t_hour = 12 AND t_minute < 30
    AND ((hd_dep_count = 3 AND hd_vehicle_count <= 5)
         OR (hd_dep_count = 0 AND hd_vehicle_count <= 2)
         OR (hd_dep_count = 1 AND hd_vehicle_count <= 3))
    AND s_store_name = 'Store1') s8""")

  val defs: Seq[OpQuery] = Seq(q4, q11, q74, q5, q9, q14a, q14b, q23a, q23b, q39a, q39b, q47, q57, q49, q51, q64, q67, q72, q75, q78, q88)
}
