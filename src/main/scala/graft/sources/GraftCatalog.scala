package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** Durable catalog manifest — the engine's stand-in for a persistent
  * Hive metastore (reference: `TPCDSDataLoad.scala:91-92` CREATE
  * DATABASE + CTAS against a metastore, `TPCDSBenchmark.scala:93`
  * `USE $dbName` in a LATER session). The sandbox has no metastore
  * service and Spark's in-memory `ExternalCatalog` dies with the
  * SparkContext, so cross-session catalog persistence is emulated the
  * way Delta/Iceberg path-based catalogs do it: table METADATA (db,
  * name, format, location) is written to a JSON manifest at save time,
  * and a fresh session (or a session whose catalog was wiped) calls
  * [[restore]] to re-register every table by `CREATE TABLE … USING …
  * LOCATION` — metadata-only, zero data copied or moved.
  *
  * Only EXTERNAL (location-backed) tables round-trip: a managed table's
  * files belong to the catalog that created it (DROP deletes them), so
  * [[save]] records the resolved storage location and [[restore]]
  * re-attaches it externally — the exact semantics a metastore gives
  * `CREATE TABLE … LOCATION`.
  */
object GraftCatalog {

  private val mapper = new ObjectMapper()

  /** Persist `db`'s table metadata (name, provider, location) to
    * `manifestPath`. Metadata-only: reads the session catalog, touches
    * no data files. */
  def save(spark: SparkSession, db: String, manifestPath: String): Unit = {
    val catalog = spark.sessionState.catalog
    val root = mapper.createObjectNode()
    root.put("db", db)
    val arr: ArrayNode = root.putArray("tables")
    // listTables also surfaces session temp views (no database, no
    // durable metadata) — only identifiers actually IN the db persist
    catalog.listTables(db).filter(_.database.contains(db)).foreach { ident =>
      val meta = catalog.getTableMetadata(ident)
      meta.storage.locationUri.foreach { loc =>
        val n = mapper.createObjectNode()
        n.put("name", ident.table)
        n.put("provider", meta.provider.getOrElse("parquet"))
        n.put("location", loc.toString)
        arr.add(n)
      }
    }
    val p = new Path(manifestPath)
    LogStore.replace(p.getFileSystem(spark.sessionState.newHadoopConf()),
      Seq(p -> root.toString))
  }

  /** Re-create the database and re-register every manifest table in a
    * (possibly brand-new) session — `USE db` then works exactly as it
    * would against a metastore that survived the restart. Idempotent:
    * existing same-named tables are replaced. Returns the table count. */
  def restore(spark: SparkSession, manifestPath: String): Int = {
    val p = new Path(manifestPath)
    val node = mapper.readTree(LogStore.read(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p))
    val db = node.get("db").asText()
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val tables = node.get("tables")
    (0 until tables.size()).foreach { i =>
      val t = tables.get(i)
      val name = s"$db.${t.get("name").asText()}"
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(
        s"CREATE TABLE $name USING ${t.get("provider").asText()} " +
          s"LOCATION '${t.get("location").asText()}'")
    }
    tables.size()
  }

  /** True iff `db.table` exists in the live session catalog. */
  def tableExists(spark: SparkSession, db: String, table: String): Boolean =
    spark.sessionState.catalog.tableExists(TableIdentifier(table, Some(db)))
}
