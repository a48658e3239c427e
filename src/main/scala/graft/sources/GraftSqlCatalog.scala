package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, NamespaceChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Shared v1-Filter → Column translation for the snapshot-table read
  * paths (the v1 `PrunedFilteredScan` relation and the DSv2 catalog's
  * `V1Scan`). Translatable filters are re-applied onto the inner
  * manifest-planned DataFrame so they reach the parquet scan (and
  * file-level stat pruning) through its own Catalyst run; `None` means
  * "leave it to Spark's residual evaluation" — both call sites hold the
  * superset contract, so dropping a translation is always safe. */
object SnapshotFilters {
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

/** DataSource-V2 catalog plugin over a directory of snapshot tables —
  * the engine's SQL name surface. Register it and SQL speaks to the
  * engine directly, no temp views or format strings:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftSqlCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.root", "/warehouse")
  *   spark.sql("CREATE NAMESPACE graft.sales")
  *   spark.sql("CREATE TABLE graft.sales.orders (k BIGINT, v STRING) PARTITIONED BY (v)")
  *   spark.sql("INSERT INTO graft.sales.orders SELECT ...")
  *   spark.sql("SELECT * FROM graft.sales.orders VERSION AS OF 2")
  * }}}
  *
  * Layout: one filesystem level of namespaces under `root`, each table a
  * [[SnapshotTable]] root (`<root>/<ns>/<table>/_graft_log`). All
  * catalog calls are metadata-only — listing reads directory names,
  * loads touch the JSON manifest; data stays where the engine's commit
  * protocol put it.
  *
  * Reads reuse the battle-tested v1 relation machinery through Spark's
  * public [[V1Scan]] fallback: the ScanBuilder takes Spark's pushed
  * filters + column pruning and re-translates them onto the inner
  * manifest-planned (and MoR/DV-resolved) DataFrame, so parquet sees
  * the same pushdown as the native `table.read()` path. Writes go
  * through [[V1Write]] → the table's APPEND / OVERWRITE commits, which
  * keeps INSERT INTO atomic-with-history exactly like the programmatic
  * API (`INSERT OVERWRITE` maps to an OVERWRITE commit via
  * `SupportsTruncate`). SQL time travel (`VERSION AS OF` /
  * `TIMESTAMP AS OF`) resolves through `loadTable(ident, version)` —
  * a pinned table rejects writes.
  *
  * Reference analog: the benchmark's metastore-backed `USE $dbName`
  * scoping (TPCDSBenchmark.scala:93) — here the catalog state IS the
  * filesystem layout, so it needs no service and survives any restart.
  */
class GraftSqlCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: Path = _

  /** ANSI CHECK constraints are supported (stored as sidecar
    * properties, enforced on writes by Spark's CheckInvariant) —
    * without this capability the analyzer refuses ADD CONSTRAINT
    * before it ever reaches alterTable. Column DEFAULT values are
    * supported too: the default expressions live in the schema field
    * METADATA (Spark's EXISTS_DEFAULT/CURRENT_DEFAULT keys), which the
    * zero-row schema-carrier footers persist verbatim — Spark's own
    * analysis fills omitted columns on INSERT, the connector only has
    * to keep the metadata. */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private def spark: SparkSession = SparkSession.active
  private def fs: FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null,
      s"graft catalog '$name' requires option spark.sql.catalog.$name.root")
    root = new Path(r)
    // V1ScanWrapper hides SupportsReportStatistics from the planner; this
    // rule restores manifest-driven stats for every table in the catalog.
    graft.plans.V1StatsFallback.register(SparkSession.active)
    // UPDATE / MERGE INTO / CoW-DELETE execute through the engine's
    // DataFrame write path instead of Spark's BatchWrite-only exec.
    graft.plans.GraftRowLevelOps.register(SparkSession.active)
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private def nsPath(ns: Array[String]): Path = {
    require(ns.length == 1,
      s"graft catalog supports single-level namespaces, got ${ns.mkString(".")}")
    new Path(root, ns.head)
  }
  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)
  /** Where a table of this catalog lives on disk — the SQL SHALLOW
    * CLONE target resolver ([[graft.plans.GraftMaintenance]]) needs
    * the path BEFORE the table exists. */
  private[graft] def pathOf(ident: Identifier): String =
    tablePath(ident).toString
  private def snapshotOf(ident: Identifier): SnapshotTable =
    new SnapshotTable(spark, tablePath(ident).toString)

  // ------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(_.isDirectory).map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsPath(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val contained = listTables(namespace)
    if (!cascade && contained.nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    // drop cached manifests/schemas for every contained table — manifest
    // file names are deterministic, so a table later created at the same
    // path would otherwise be served stale state (dropTable does this too)
    contained.foreach(snapshotOf(_).invalidateCaches())
    fs.delete(nsPath(namespace), true)
  }

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsPath(namespace))
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_graft_log")))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && snapshotOf(ident).exists

  private def loadPinned(ident: Identifier, pinned: Option[Int],
      dbPinned: Boolean = false): Table = {
    val t = snapshotOf(ident)
    if (!t.exists) throw new NoSuchTableException(ident)
    new GraftV2Table(t, pinned,
      s"$catalogName.${ident.namespace.head}.${ident.name}", dbPinned)
  }

  /** The namespace's transaction database, when the namespace directory
    * IS a [[GraftDatabase]] root (it contains a `_graft_db_log`). Member
    * tables of such a namespace resolve through the latest PUBLISHED db
    * snapshot — the SQL face of the engine's atomic multi-table
    * transactions, and the `USE db` analogy: a query joining two members
    * sees either every table at its pre-txn version or every table at
    * its post-txn version, never a mix. Unpublished commits (a crashed
    * txn's orphans, or a table never published) stay invisible; a table
    * absent from every snapshot falls back to plain head resolution. */
  private def databaseOf(ns: Array[String]): Option[GraftDatabase] = {
    if (ns.length != 1) return None
    val p = new Path(nsPath(ns), "_graft_db_log")
    if (fs.exists(p))
      Some(new GraftDatabase(SparkSession.active, nsPath(ns).toString))
    else None
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: `cat.ns.t.history` parses as
    // Identifier(namespace = [ns, t], name = history) — manifest-answered
    // read-only tables, O(log records), never a data scan.
    if (ident.namespace.length == 2 &&
        GraftMetaTable.Kinds.contains(ident.name)) {
      val base = Identifier.of(Array(ident.namespace.head),
        ident.namespace.apply(1))
      val t = snapshotOf(base)
      if (!t.exists) throw new NoSuchTableException(ident)
      return new GraftMetaTable(t, ident.name,
        s"$catalogName.${ident.namespace.mkString(".")}.${ident.name}")
    }
    val dbPin = databaseOf(ident.namespace).flatMap { db =>
      if (db.currentVersion < 0) None
      else db.tableVersions().get(ident.name)
    }
    loadPinned(ident, dbPin, dbPinned = dbPin.isDefined)
  }

  /** SQL `VERSION AS OF <v>`: the table's own version — except in a
    * database namespace, where `v` is the DB snapshot version and the
    * table pins at whatever that snapshot published for it (cross-table
    * time travel: two members AS OF the same db version are mutually
    * consistent by construction). */
  override def loadTable(ident: Identifier, version: String): Table =
    databaseOf(ident.namespace) match {
      case Some(db) =>
        val pins = db.tableVersions(version.toInt)
        val pin = pins.getOrElse(ident.name,
          throw new IllegalArgumentException(
            s"${ident.name} is not published in db snapshot $version " +
              s"(members: ${pins.keys.toSeq.sorted.mkString(",")})"))
        loadPinned(ident, Some(pin))
      case None => loadPinned(ident, Some(version.toInt))
    }

  /** SQL `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = snapshotOf(ident)
    if (!t.exists) throw new NoSuchTableException(ident)
    loadPinned(ident, Some(t.versionAsOf(timestamp / 1000L)))
  }

  /** Maps DSv2 partition transforms onto the engine's partition spec
    * strings — identity plus the hidden-partitioning transforms
    * [[PartitionTransform]] understands. One spec max: the snapshot
    * table lays files out under a single partition dimension. */
  private def toSpec(transforms: Array[Transform]): Option[String] = {
    require(transforms.length <= 1,
      "graft tables support at most one partition transform")
    transforms.headOption.map { t =>
      def c = t.references()(0).fieldNames().mkString(".")
      t.name() match {
        case "identity" => c
        case n @ ("days" | "months") => s"$n($c)"
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value.isInstanceOf[Number] => l.value.asInstanceOf[Number].intValue
          }.getOrElse(throw new IllegalArgumentException(s"bucket transform without count: $t"))
          s"bucket($n, $c)"
        case other =>
          throw new IllegalArgumentException(s"unsupported partition transform: $other")
      }
    }
  }

  /** The v2-Column CREATE overload: generation expressions ride on the
    * [[org.apache.spark.sql.connector.catalog.Column]] API (NOT on
    * StructField metadata), so the default columns→schema bridge drops
    * them — re-attach each one as the field-metadata key the write-side
    * fill ([[GraftV2Table.applyGeneratedColumns]]) and Spark's own
    * GeneratedColumn util read, then delegate to the schema overload. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val base =
      org.apache.spark.sql.GraftStreamShim.v2ColumnsToStructType(columns)
    val schema = StructType(base.fields.zip(columns).map { case (f, c) =>
      val withGen =
        if (c.generationExpression() == null) f
        else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(org.apache.spark.sql.catalyst.util.GeneratedColumn
            .GENERATION_EXPRESSION_METADATA_KEY, c.generationExpression())
          .build())
      // GENERATED ALWAYS AS IDENTITY (START WITH s INCREMENT BY i):
      // the spec rides the field metadata under Spark's own keys
      // (IdentityColumn.getIdentityInfo reads them back); allocation
      // happens at write ([[GraftV2Table.applyIdentityColumns]])
      c.identityColumnSpec() match {
        case null => withGen
        case ispec =>
          require(withGen.dataType == org.apache.spark.sql.types.LongType ||
              withGen.dataType == org.apache.spark.sql.types.IntegerType,
            s"CREATE TABLE: identity column ${c.name()} must be BIGINT or INT")
          import org.apache.spark.sql.catalyst.util.IdentityColumn
          withGen.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(withGen.metadata)
              .putLong(IdentityColumn.IDENTITY_INFO_START, ispec.getStart)
              .putLong(IdentityColumn.IDENTITY_INFO_STEP, ispec.getStep)
              .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
                ispec.isAllowExplicitInsert)
              .build())
      }
    })
    createTable(ident, schema, partitions, properties)
  }

  override def createTable(ident: Identifier, schemaRaw: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val t = snapshotOf(ident)
    if (t.exists) throw new TableAlreadyExistsException(ident)
    // CREATE TABLE … CLUSTER BY (a, b) arrives as a ClusterByTransform
    // among the partitions — it is a LAYOUT HINT (liquid clustering),
    // not a partition layout: record it and let OPTIMIZE cluster
    val (clusterBy, partTransforms) = partitions.partition(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions.ClusterByTransform])
    // the schema-carrying create is always a single empty unpartitioned
    // footer (a partitioned write of zero rows emits no file at all);
    // the layout lives as a table property and every INSERT honors it
    // NOT NULL columns: the flag rides the versioned overlay as a
    // metadata marker ([[SnapshotTable.NotNullKey]] — parquet reads
    // force nullable=true, so the StructField flag alone cannot survive
    // the file round-trip); the scan re-flips nullability from it and
    // Spark's output resolver enforces the constraint on every write
    val schema = StructType(schemaRaw.fields.map(f =>
      if (f.nullable) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putBoolean(SnapshotTable.NotNullKey, true).build())))
    // validate the clustering columns against the schema NOW — a typo'd
    // spec must fail at CREATE, not at the first OPTIMIZE (and a stale
    // misspelled spec would mis-aim the rename/drop reference guards)
    clusterBy.collect {
      case cb: org.apache.spark.sql.connector.expressions.ClusterByTransform =>
        cb.columnNames.map(_.fieldNames.mkString(".")).foreach(c =>
          require(schema.fieldNames.contains(c),
            s"CREATE TABLE ${ident.name}: CLUSTER BY column $c is not in " +
              s"the schema (have ${schema.fieldNames.mkString(",")})"))
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    t.create(empty, None)
    // CREATE TABLE … TBLPROPERTIES land in the durable sidecar exactly
    // like ALTER … SET TBLPROPERTIES would; Spark's reserved/managed
    // keys (provider, location, owner, …) are catalog-level bookkeeping,
    // not table state, and stay out
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
      "transient_lastDdlTime")
    properties.forEach { (k, v) =>
      if (!reserved.contains(k) && !k.startsWith("option."))
        t.withProperty(k, v)
    }
    toSpec(partTransforms).foreach(s => t.withProperty(GraftV2Table.PartSpecProp, s))
    clusterBy.collectFirst {
      case cb: org.apache.spark.sql.connector.expressions.ClusterByTransform =>
        t.withProperty(SnapshotTable.ClusterSpecProp,
          cb.columnNames.map(_.fieldNames.mkString(".")).mkString(","))
    }
    loadTable(ident)
  }

  /** `ALTER TABLE … ADD COLUMNS` commits a metadata-only schema widening
    * ([[SnapshotTable.addColumns]] — one empty footer, no data
    * rewritten); `SET TBLPROPERTIES` lands in the durable sidecar;
    * `RENAME COLUMN` / `DROP COLUMN` commit through the versioned
    * column mapping ([[SnapshotTable.renameColumn]] /
    * [[SnapshotTable.dropColumn]] — Delta columnMapping.mode=name
    * analog: physical file columns immutable, zero data rewritten,
    * time-travel-correct). Type changes would need per-version type
    * widening and are refused loudly. The WHOLE change list validates
    * before anything commits: a mixed supported/unsupported ALTER is
    * all-or-nothing, never half-applied. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = snapshotOf(ident)
    if (!t.exists) throw new NoSuchTableException(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"ALTER TABLE ADD COLUMNS: nested field ${a.fieldNames.mkString(".")} unsupported")
        // existing rows have no value for the added column, so NOT NULL
        // cannot hold — refuse instead of silently dropping the
        // constraint (Delta refuses the same ALTER)
        require(a.isNullable,
          s"ALTER TABLE ADD COLUMNS: ${a.fieldNames.head} NOT NULL is " +
            "unsupported — add the column nullable, backfill, then " +
            "ALTER COLUMN … SET NOT NULL")
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"ALTER TABLE RENAME COLUMN: nested field ${r.fieldNames.mkString(".")} unsupported")
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"ALTER TABLE DROP COLUMN: nested field ${d.fieldNames.mkString(".")} unsupported")
      case cb: TableChange.ClusterBy =>
        // same CREATE-time guard: a misspelled clustering column must
        // fail here, not at the next OPTIMIZE (CLUSTER BY NONE = empty)
        val logical = t.read().schema.fieldNames
        cb.clusteringColumns.map(_.fieldNames.mkString(".")).foreach(c =>
          require(logical.contains(c),
            s"ALTER TABLE CLUSTER BY: column $c is not in the schema " +
              s"(have ${logical.mkString(",")})"))
      case _: TableChange.SetProperty => ()
      case _: TableChange.RemoveProperty => ()
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1,
          s"ALTER COLUMN DEFAULT: nested field ${u.fieldNames.mkString(".")} unsupported")
      case w: TableChange.UpdateColumnType =>
        require(w.fieldNames.length == 1,
          s"ALTER COLUMN TYPE: nested field ${w.fieldNames.mkString(".")} unsupported")
      case nn: TableChange.UpdateColumnNullability =>
        require(nn.fieldNames.length == 1,
          s"ALTER COLUMN NULLABILITY: nested field ${nn.fieldNames.mkString(".")} unsupported")
        // SET NOT NULL validates EXISTING rows (Delta's contract) before
        // anything in the change list commits; its commit validates
        // again at the version it commits from
        if (!nn.nullable)
          t.requireNoNulls(nn.fieldNames.head, "ALTER COLUMN")
      case c: TableChange.UpdateColumnComment =>
        require(c.fieldNames.length == 1,
          s"ALTER COLUMN COMMENT: nested field ${c.fieldNames.mkString(".")} unsupported")
      case a: TableChange.AddConstraint =>
        // CHECK constraints enforce; PK / UNIQUE / FK are accepted as
        // INFORMATIONAL (NOT ENFORCED — the standard lakehouse stance:
        // Delta/Snowflake treat them as planner hints via RELY)
        require(a.constraint().isInstanceOf[
            org.apache.spark.sql.connector.catalog.constraints.Check] ||
          !a.constraint().enforced(),
          s"ALTER TABLE ADD CONSTRAINT: ${a.constraint().name()} — only " +
            "CHECK constraints are enforceable; declare " +
            "PRIMARY KEY / UNIQUE / FOREIGN KEY as NOT ENFORCED")
      case d: TableChange.DropConstraint =>
        val props = t.propertiesMap
        require(d.ifExists ||
          props.contains(GraftV2Table.CheckConstraintProp + d.name) ||
          props.contains(GraftV2Table.InfoConstraintProp + d.name),
          s"ALTER TABLE DROP CONSTRAINT: no constraint ${d.name}")
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE: unsupported change $other — ADD/RENAME/DROP COLUMNS, " +
          "ALTER COLUMN TYPE (lossless widening), CLUSTER BY, ADD/DROP " +
          "CONSTRAINT (CHECK) and SET TBLPROPERTIES are the metadata-only " +
          "commits this engine supports")
    }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val dels = changes.collect { case d: TableChange.DeleteColumn => d }
    // REPLACE COLUMNS arrives as one mixed add+delete list; the adds and
    // drops commit separately, so a mid-list failure would half-apply —
    // refuse the whole statement instead (the single-kind statements
    // cover the same surface safely)
    require(adds.isEmpty || (renames.isEmpty && dels.isEmpty),
      "ALTER TABLE: mixed add/rename/drop change lists (REPLACE COLUMNS) " +
        "are unsupported — use separate ADD COLUMNS / RENAME COLUMN / " +
        "DROP COLUMN statements")
    // pre-validate EVERY rename/drop before the first commit, so a
    // multi-column DROP can't half-apply; the arity check runs against
    // the statement's combined effect
    renames.foreach(r => t.validateRenameColumn(r.fieldNames.head, r.newName))
    dels.foreach(d => t.validateDropColumn(d.fieldNames.head))
    require(dels.isEmpty ||
        t.read().schema.length - dels.length >= 1,
      "ALTER TABLE DROP COLUMNS: cannot drop every column")
    if (adds.nonEmpty)
      t.addColumns(adds.map { a =>
        // ADD COLUMNS … DEFAULT expr: CURRENT_DEFAULT governs future
        // inserts that omit the column (Spark's own analysis fills it);
        // EXISTS_DEFAULT serves pre-existing rows AT SCAN — the parquet
        // reader fills it for files that physically lack the column
        // (ANSI semantics, zero rewrite). DEFAULT expressions are
        // constant-foldable by Spark's validation, so the add-time SQL
        // is the add-time value.
        val meta = Option(a.defaultValue()) match {
          case None => org.apache.spark.sql.types.Metadata.empty
          case Some(dv) =>
            // EXISTS_DEFAULT is the value AT ADD TIME: store the FOLDED
            // literal, not the raw SQL — a time-dependent default
            // (current_date()) must not drift for pre-existing rows on
            // every later read. CURRENT_DEFAULT keeps the SQL (future
            // inserts re-evaluate it, the ANSI contract).
            val folded = org.apache.spark.sql.catalyst.expressions.Literal(
              dv.getValue.value, dv.getValue.dataType).sql
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("CURRENT_DEFAULT", dv.getSql)
              .putString("EXISTS_DEFAULT", folded)
              .build()
        }
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true, meta)
      })
    changes.foreach {
      case p: TableChange.SetProperty => t.withProperty(p.property, p.value)
      // ALTER TABLE … UNSET TBLPROPERTIES (IF EXISTS is Spark-side):
      // removing an absent key is a no-op, matching Delta
      case p: TableChange.RemoveProperty => t.removeProperty(p.property)
      case r: TableChange.RenameColumn =>
        t.renameColumn(r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn => t.dropColumn(d.fieldNames.head)
      // ALTER TABLE … CLUSTER BY (a, b) | CLUSTER BY NONE (Delta liquid
      // clustering): a layout hint in the sidecar — bare OPTIMIZE then
      // runs incremental clustering on these columns
      case cb: TableChange.ClusterBy =>
        t.withProperty(SnapshotTable.ClusterSpecProp,
          cb.clusteringColumns.map(_.fieldNames.mkString(".")).mkString(","))
      // ANSI CHECK constraint: validate EXISTING rows once at ADD time
      // (Delta's contract), then store the predicate — enforcement on
      // every subsequent write is Spark's own CheckInvariant, injected
      // from the constraints() this table reports
      case a: TableChange.AddConstraint => a.constraint() match {
        case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
          val sql = chk.predicateSql()
          // the SQL path's AddCheckConstraintExec already ran the
          // validation scan (and stamped the version it validated at) —
          // only direct API callers pay one here
          if (a.validatedTableVersion() == null) {
            val violating = t.read()
              .filter(org.apache.spark.sql.functions.expr(sql) <=> false)
              .limit(1).count()
            require(violating == 0,
              s"ADD CONSTRAINT ${chk.name()}: existing rows violate CHECK ($sql)")
          }
          t.withProperty(GraftV2Table.CheckConstraintProp + chk.name(), sql)
        // informational constraints: persisted structurally so the
        // constraints() API reconstructs them across restarts (RELY
        // flags reach the planner; nothing is validated or enforced —
        // NOT ENFORCED is required and checked above)
        case info =>
          t.withProperty(GraftV2Table.InfoConstraintProp + info.name(),
            GraftV2Table.encodeInfoConstraint(info))
      }
      case d: TableChange.DropConstraint =>
        t.removeProperty(GraftV2Table.CheckConstraintProp + d.name)
        t.removeProperty(GraftV2Table.InfoConstraintProp + d.name)
      // ALTER COLUMN … SET DEFAULT expr | DROP DEFAULT: the default SQL
      // lives in the field metadata (Spark's CURRENT_DEFAULT key);
      // existing rows keep their values (EXISTS_DEFAULT untouched),
      // only future INSERTs that omit the column pick up the new
      // expression — Spark's own analysis fills it at write time
      case u: TableChange.UpdateColumnDefaultValue =>
        t.alterColumnMeta(u.fieldNames.head, { f =>
          val b = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          val sql = u.newDefaultValue()
          if (sql == null || sql.isEmpty) b.remove("CURRENT_DEFAULT")
          else b.putString("CURRENT_DEFAULT", sql)
          f.copy(metadata = b.build())
        })
      // ALTER COLUMN … SET / DROP NOT NULL: the flag is an overlay
      // metadata marker; Spark's output resolver enforces it on every
      // subsequent write
      case nn: TableChange.UpdateColumnNullability =>
        if (!nn.nullable) t.setNotNull(nn.fieldNames.head)
        else t.alterColumnMeta(nn.fieldNames.head, { f =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .remove(SnapshotTable.NotNullKey).build())
        })
      // ALTER TABLE … ALTER COLUMN c TYPE t: metadata-only lossless
      // type widening (Delta analog) — files keep their written type,
      // the scan up-converts, time travel below sees the old type
      case w: TableChange.UpdateColumnType =>
        t.widenColumn(w.fieldNames.head, w.newDataType())
      // ALTER TABLE … ALTER COLUMN c COMMENT '…' — same versioned
      // metadata-overlay commit as SET DEFAULT
      case c: TableChange.UpdateColumnComment =>
        t.alterColumnMeta(c.fieldNames.head, { f =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("comment", c.newComment()).build())
        })
      case _ => () // AddColumn handled above
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val existed = fs.delete(tablePath(ident), true)
    snapshotOf(ident).invalidateCaches()
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdentRaw: Identifier): Unit = {
    // RENAME TO targets arrive as raw multipart names: strip a leading
    // catalog qualifier, default a bare name into the source namespace
    val newIdent = newIdentRaw.namespace match {
      case Array(c, ns) if c == catalogName => Identifier.of(Array(ns), newIdentRaw.name)
      case Array() => Identifier.of(oldIdent.namespace, newIdentRaw.name)
      case _ => newIdentRaw
    }
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    require(fs.rename(tablePath(oldIdent), tablePath(newIdent)),
      s"rename failed: $oldIdent -> $newIdent")
    // manifests reference data files absolutely — rewrite them onto the
    // new root and drop both paths' cached metadata
    snapshotOf(newIdent).rebaseLog(tablePath(oldIdent).toString)
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  /** The transaction database behind a namespace, for the db-level SQL
    * maintenance verb (`VACUUM DATABASE cat.ns`). */
  private[graft] def databaseFor(ns: String): GraftDatabase =
    databaseOf(Array(ns)).getOrElse(
      throw new NoSuchNamespaceException(Array(ns)))

  /** Engine handle for the SQL maintenance verbs
    * ([[graft.plans.GraftMaintenance]]): the snapshot table behind a
    * catalog identifier. Mutating verbs (`forMutation`) are refused on
    * transaction-database members for the same reason direct INSERTs
    * are: a member resolves through PUBLISHED db pins, so a direct
    * VACUUM could reclaim manifests that published snapshots still pin
    * (breaking every db read at those versions) and a direct OPTIMIZE
    * would commit an unpublished version the db's own vacuum later
    * rolls back as a crash orphan — route maintenance through
    * [[GraftDatabase]] instead. */
  private[graft] def snapshotFor(ident: Identifier,
      forMutation: Boolean = false): SnapshotTable = {
    val t = snapshotOf(ident)
    if (!t.exists) throw new NoSuchTableException(ident)
    if (forMutation && databaseOf(ident.namespace).isDefined)
      throw new UnsupportedOperationException(
        s"${ident.namespace.mkString(".")}.${ident.name} is a member of a " +
          "transaction database namespace — run maintenance through " +
          "GraftDatabase (vacuum respects published pins there; a direct " +
          "table-level VACUUM could delete versions db snapshots still " +
          "pin)")
    t
  }
}

/** One snapshot table as a DSv2 [[Table]], optionally pinned to a
  * time-travel version. Read = [[V1Scan]] over the manifest-planned
  * scan with filter/column pushdown re-translation; write =
  * [[V1Write]] → APPEND commit (INSERT INTO) or OVERWRITE commit
  * (INSERT OVERWRITE, via `SupportsTruncate`). */
final class GraftV2Table(table: SnapshotTable, pinned: Option[Int],
    qualifiedName: String, dbPinned: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.GraftV1FallbackTable {

  /** Stable row id as a DSv2 METADATA column (Delta `_metadata.row_id`
    * analog): hidden from `SELECT *`, served on request — `SELECT
    * __graft_rid, * FROM t` — and, crucially, the carrier for row-id
    * PRESERVATION through CoW DML: the row-level operation lists it in
    * `requiredMetadataAttributes`, Spark threads it through the rewrite
    * untouched for carried/updated rows (NULL for merge-inserts), and
    * the replacement write re-materializes it. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftV2Table.RidMetadataColumn,
      GraftV2Table.FileMetadataColumn, GraftV2Table.PosMetadataColumn)

  /** `spark.readStream.table("cat.ns.t")` — tables-as-catalog-names is
    * the standard streaming idiom (Delta's default), so the catalog
    * table must be tailable by NAME, not only by
    * `format("graft-snapshot").option("path", …)`. Spark's analyzer
    * resolves a streaming read over a `V2TableWithV1Fallback` catalog
    * table into the fallback's v1 source (RelationResolution →
    * FindDataSourceTable → DataSource.createSource): this descriptor
    * routes it to [[graft.streaming.SnapshotStreamProvider]] at the
    * table's root — the same manifest-diff-driven micro-batch source
    * the path-addressed stream uses (per-trigger cost O(new files of
    * the commit), no directory listing, no seen-files state) — exactly
    * Delta's DeltaTableV2 fallback shape. Batch reads/writes never see
    * this: the table deliberately does not advertise MICRO_BATCH_READ,
    * so only the streaming planner consults the fallback. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    val parts = qualifiedName.split('.')
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        parts.last, Some(parts(parts.length - 2)), Some(parts.head)),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        properties = Map("path" -> table.location)),
      schema = schema,
      provider = Some("graft-snapshot"))
  }

  private def readVersion: Int = pinned.getOrElse(-1)

  /** Why a write against this handle must be refused: a member of a
    * database namespace resolves at the latest PUBLISHED db snapshot, so
    * a direct SQL write would bypass the cross-table atomicity contract
    * — point the user at the transaction API instead of the misleading
    * generic time-travel message. */
  private def refuseWrite(what: String): String =
    if (dbPinned)
      s"cannot $what $qualifiedName directly: the table is a member of a " +
        "transaction database namespace and resolves at the latest " +
        "published db snapshot — route writes through " +
        "GraftDatabase.transact(...) so they publish atomically with " +
        "their sibling tables"
    else s"cannot $what $qualifiedName pinned at VERSION AS OF ${pinned.get}"

  /** Engine handles for graft.plans.GraftRowLevelOps, which executes
    * UPDATE / MERGE / CoW-DELETE rewrites through the snapshot commit. */
  private[graft] def snapshot: SnapshotTable = table
  private[graft] def writePartSpec: Option[String] = partSpec

  /** True when `graft.enableDeletionVectors` is set on the table: SQL
    * DELETE routes to positional (file, pos) marks — O(matched rows),
    * zero files rewritten — instead of the CoW rewrite (Delta's
    * enableDeletionVectors contract). */
  private[graft] def dvDeletesEnabled: Boolean =
    table.propertiesMap.get(GraftV2Table.DvDeleteProp).contains("true")

  /** SQL UPDATE / MERGE INTO / arbitrary-predicate DELETE: group-based
    * copy-on-write ([[GraftRowLevelOperation]] — scoped to the files
    * the planner keeps for the command's condition).
    * Execution happens in [[graft.plans.GraftRowLevelOps]], which
    * commits the replacement query through the engine's DataFrame
    * write path. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty, refuseWrite(s"run ${info.command} against"))
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    // MERGE on a DV-enabled compacted table takes the DELTA-based
    // rewrite (positional marks + appended images, O(changed rows) —
    // Delta's DV-enabled MERGE); everything else stays group-based
    // (CoW, with the strategy peeling DELETE/UPDATE onto their own
    // positional paths)
    () =>
      if (info.command == Command.MERGE && dvDeletesEnabled &&
          !table.hasPendingDeltas)
        new GraftDeltaRowLevelOperation(table, partSpec, info.command,
          schema, qualifiedName)
      else new GraftRowLevelOperation(table, info.command,
        schema, qualifiedName)
  }

  /** The layout every INSERT writes under: the recorded table property
    * when present (survives empty creates), else inferred from the
    * current files' identity partition column. */
  private lazy val partSpec: Option[String] =
    table.property(GraftV2Table.PartSpecProp)
      .orElse(table.files.flatMap(e => Option(e.partCol)).headOption)

  override def name(): String = qualifiedName
  override def version(): String =
    String.valueOf(pinned.getOrElse(table.currentVersion))

  override lazy val schema: StructType = table.read(readVersion).schema

  override def partitioning(): Array[Transform] = partSpec.map { s =>
    val spec = PartitionTransform.parse(s)
    spec.tag match {
      case null => Expressions.identity(spec.col)
      case "days" => Expressions.days(spec.col)
      case "months" => Expressions.months(spec.col)
      case t if t.startsWith("bucket") =>
        Expressions.bucket(t.stripPrefix("bucket").toInt, spec.col)
      case t => // truncN and any future tag: render as a named transform
        Expressions.apply(t, Expressions.column(spec.col))
    }
  }.toArray

  override def properties(): util.Map[String, String] =
    (table.propertiesMap +
      (TableCatalog.PROP_PROVIDER -> "graft-snapshot")).asJava

  /** ANSI CHECK constraints (`ALTER TABLE … ADD CONSTRAINT nm CHECK
    * (expr)`): stored as durable sidecar properties, reported through
    * the DSv2 constraints API — Spark's own `ResolveTableConstraints`
    * then injects a `CheckInvariant` into every INSERT/UPDATE/MERGE
    * write plan, so enforcement is row-local inside the write job
    * (zero extra passes), exactly Delta's CHECK-constraint shape. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    table.propertiesMap.toSeq.collect {
      case (k, sql) if k.startsWith(GraftV2Table.CheckConstraintProp) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix(GraftV2Table.CheckConstraintProp))
          .predicateSql(sql)
          .enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build()
      case (k, enc) if k.startsWith(GraftV2Table.InfoConstraintProp) =>
        GraftV2Table.decodeInfoConstraint(
          k.stripPrefix(GraftV2Table.InfoConstraintProp), enc)
    }.toArray

  // BATCH_WRITE rides along with V1_BATCH_WRITE only to satisfy the
  // analyzer's dynamic-overwrite capability check — Spark has no V1
  // fallback exec for OverwritePartitionsDynamic, so that plan is
  // executed by graft.plans.GraftRowLevelOps instead (the write object
  // stays a V1Write; every other write path picks the V1 exec from it).
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {
      private var pushed: Array[Filter] = Array.empty
      private var required: StructType = schema
      private var countStars = 0 // >0: scan answers COUNT(*) from the manifest

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        // apply every translatable filter inside the scan, but return
        // them ALL as residual — Spark re-checks, the engine prunes
        pushed = filters.filter(f => SnapshotFilters.toColumn(f).isDefined)
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      // unfiltered, ungrouped COUNT(*) answers from footer row counts in
      // the manifest — zero data files opened, any table size. Spark only
      // attempts aggregate pushdown when no residual filter remains, and
      // every filter here is residual, so filtered counts scan normally.
      private def manifestCount(agg: Aggregation): Option[Long] =
        if (pinned.isEmpty && pushed.isEmpty &&
            agg.groupByExpressions.isEmpty &&
            agg.aggregateExpressions.nonEmpty &&
            agg.aggregateExpressions.forall(_.isInstanceOf[CountStar]))
          table.countFromManifestOpt
        else None

      override def supportCompletePushDown(agg: Aggregation): Boolean =
        manifestCount(agg).isDefined
      override def pushAggregation(agg: Aggregation): Boolean =
        manifestCount(agg) match {
          case Some(_) =>
            countStars = agg.aggregateExpressions.length
            required = StructType((0 until countStars).map(i =>
              org.apache.spark.sql.types.StructField(
                s"count_star_$i", org.apache.spark.sql.types.LongType, nullable = false)))
            true
          case None => false
        }

      override def build(): Scan = new V1Scan with SupportsReportStatistics
          with graft.plans.GraftV1StatsScan {
        private val (v, cols, filters, nCounts) =
          (readVersion, required, pushed, countStars)
        override def readSchema(): StructType = cols
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val rel: BaseRelation with TableScan =
            if (nCounts > 0)
              new GraftCountRelation(context, table, cols, nCounts)
            else new GraftCatalogRelation(context, table, v, cols, filters)
          rel.asInstanceOf[T]
        }

        /** Manifest-derived size/rows so Catalyst's join strategy sees
          * real magnitudes (a dimension-sized table auto-broadcasts);
          * pushed filters scale the estimate to the files the planner
          * keeps ([[GraftV2Table.plannedSize]]) — all metadata, never a
          * job. */
        override def estimateStatistics(): Statistics = new Statistics {
          private val prunedSize = GraftV2Table.plannedSize(table, v, filters)
          override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(
            math.max(1L, prunedSize.map(_._1)
              .getOrElse(table.manifestSizeBytes)))
          override def numRows(): util.OptionalLong =
            prunedSize.map(s => util.OptionalLong.of(s._2))
              .orElse(table.countFromManifestOpt.map(util.OptionalLong.of))
              .getOrElse(util.OptionalLong.empty)
        }

        override def description(): String =
          s"GraftV1Scan[$qualifiedName@v${pinned.getOrElse(table.currentVersion)}]"
      }
    }

  // ---- SQL DELETE FROM / TRUNCATE TABLE -----------------------------

  /** `TRUNCATE TABLE` (and `DELETE FROM t` with no WHERE): one OVERWRITE
    * commit to an empty state — metadata-plus-one-empty-footer, history
    * and time travel preserved. */
  override def truncateTable(): Boolean = {
    require(pinned.isEmpty, refuseWrite("truncate"))
    val s = SparkSession.active
    table.overwrite(s.createDataFrame(s.sparkContext.emptyRDD[Row], schema))
    true
  }

  /** `DELETE FROM … WHERE` lowers to the engine's copy-on-write
    * [[SnapshotTable.delete]] when [[conditionOf]] states every pushed
    * filter exactly (a conjunction of comparisons against literals);
    * anything else is declined, and Spark rewrites through its row-level
    * replace-data plan instead. Cost: only the files the planner keeps
    * (partition value, hidden-layout transform, footer min/max) rewrite,
    * under the table's layout; the rest carry by reference. */
  private def allTrue(filters: Array[Filter]): Boolean =
    filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && !table.hasPendingDeltas &&
      (allTrue(filters) || // unconditional DELETE = metadata truncate,
                           // even with deletion vectors on (marking
                           // every row would be the anti-scale shape)
        (!dvDeletesEnabled && filters.forall(conditionOf(_).isDefined)))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (allTrue(filters)) { truncateTable(); return }
    val conds = filters.map(f => conditionOf(f).getOrElse(
      throw new UnsupportedOperationException(s"unsupported DELETE predicate: $f")))
    table.delete(conds.reduce(_ && _))
    ()
  }

  /** Column form of a pushed DELETE filter, when it has an exact one: a
    * comparison of a column with a scalar literal, or a conjunction of
    * them. Each literal keeps its type (a bigint column compares with a
    * bigint literal — no widening cast to hide it from the stats skip). */
  private def conditionOf(f: Filter): Option[Column] = {
    import org.apache.spark.sql.sources._
    def scalar(v: Any): Option[Any] = v match {
      case _: Number | _: String | _: Boolean | _: java.sql.Date |
          _: java.sql.Timestamp | _: java.time.LocalDate |
          _: java.time.Instant | _: java.time.LocalDateTime => Some(v)
      case _ => None
    }
    f match {
      case EqualTo(a, v) => scalar(v).map(col(a) === _)
      case GreaterThan(a, v) => scalar(v).map(col(a) > _)
      case GreaterThanOrEqual(a, v) => scalar(v).map(col(a) >= _)
      case LessThan(a, v) => scalar(v).map(col(a) < _)
      case LessThanOrEqual(a, v) => scalar(v).map(col(a) <= _)
      case And(l, r) => for (x <- conditionOf(l); y <- conditionOf(r)) yield x && y
      case _ => None
    }
  }

  /** SQL write surface: INSERT INTO appends; INSERT OVERWRITE truncates
    * to the new content; `INSERT OVERWRITE … PARTITION (pc = v)` (and a
    * pushed partition-equality/IN overwrite condition generally) lowers
    * to the engine's dynamic partition overwrite — replaced partitions
    * cost O(new data), every other partition carries by reference; with
    * `spark.sql.sources.partitionOverwriteMode=dynamic`, plain INSERT
    * OVERWRITE replaces exactly the partitions present in the data. A
    * non-partition overwrite condition is refused loudly rather than
    * silently widened to a truncate. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty, refuseWrite("write to"))
    import org.apache.spark.sql.connector.write.{SupportsDynamicOverwrite, SupportsOverwrite}
    new WriteBuilder with SupportsTruncate with SupportsOverwrite
        with SupportsDynamicOverwrite {
      // append | truncate | dynamic | filters
      private var mode: String = "append"
      private var overwriteFilters: Array[Filter] = Array.empty
      override def truncate(): WriteBuilder = { mode = "truncate"; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        import org.apache.spark.sql.sources.AlwaysTrue
        if (filters.forall(_.isInstanceOf[AlwaysTrue])) mode = "truncate"
        else { mode = "filters"; overwriteFilters = filters }
        this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = "dynamic"; this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(dataRaw: DataFrame, overwriteArg: Boolean): Unit =
              SnapshotTable.withCaches(caches => insertFilled(
                GraftV2Table.applyIdentityColumns(
                  GraftV2Table.applyGeneratedColumns(dataRaw, schema),
                  schema, table, validateExplicit = true, caches),
                overwriteArg))

            private def insertFilled(data: DataFrame, overwriteArg: Boolean): Unit = {
              import SnapshotTable.Replace
              val identityPartCol = partSpec.filterNot(_.contains("("))
              mode match {
                case "append" if !overwriteArg => table.append(data, partSpec)
                // dynamic overwrite replaces the partitions present in
                // the data under ANY layout — identity AND hidden
                // transforms; only a genuinely unpartitioned table widens
                // to a full overwrite
                case "dynamic" => table.overwrite(data, partSpec, Replace.Present)
                case "filters" =>
                  // a raw-value condition does not align with hidden-
                  // transform partition boundaries (one month/bucket
                  // holds values the filter may not cover), so REPLACE
                  // WHERE lowers only on identity layouts
                  val pc = identityPartCol.getOrElse(
                    throw new UnsupportedOperationException(
                      s"$qualifiedName: overwrite-by-condition needs an " +
                        "identity partition column"))
                  // exactly ONE equality/IN conjunct: with several
                  // conjuncts on pc the extracted set would be one
                  // conjunct's values while the CONDITION matches only
                  // their intersection — replacing the superset would
                  // silently empty partitions the condition never named
                  val canon =
                    GraftV2Table.partitionPredicate(overwriteFilters, pc)
                      .filter(_ => overwriteFilters.length == 1 &&
                        overwriteFilters.forall(f =>
                          f.references.sameElements(Array(pc))))
                      .getOrElse(throw new UnsupportedOperationException(
                        s"$qualifiedName: unsupported overwrite condition " +
                          s"${overwriteFilters.mkString(", ")} — only a " +
                          s"single partition-column ($pc) equality/IN " +
                          "overwrite lowers to partition replacement"))
                  // OverwriteByExpression replaces the FILTER's partition
                  // set, not the data's: a filtered partition the data
                  // has no rows for is emptied (Spark validates the data
                  // against the condition, so rows ⊆ filtered partitions)
                  table.overwrite(data, partSpec,
                    Replace.Values(canon.map(Option(_)).toSet))
                case _ => table.overwrite(data, partSpec)
              }
              ()
            }
          }
      }
    }
  }
}

object GraftV2Table {
  /** Table property recording the partition layout SQL writes use. */
  val PartSpecProp = SnapshotTable.PartSpecProp

  /** The stable-row-id metadata column every graft table exposes (id
    * assignment is manifest math — free on every table; rewrite
    * STABILITY additionally needs [[SnapshotTable.RowTrackingProp]]). */
  val RidMetadataColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = SnapshotTable.RidCol
      override def dataType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = true
      override def comment: String =
        "stable row id (graft row tracking; Delta _metadata.row_id analog)"
    }

  /** Row-address metadata columns (Delta `_metadata.file_path` /
    * `row_index` analogs) — also the DELTA-based row-level operation's
    * rowId, so the MERGE rewrite can address marks positionally. */
  val FileMetadataColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = SnapshotTable.DvFileCol
      override def dataType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      // row-id attribute of the delta-based operation — must be
      // non-nullable (every live row has an address)
      override def isNullable: Boolean = false
      override def comment: String = "data file holding the row"
    }
  val PosMetadataColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = SnapshotTable.DvPosCol
      override def dataType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment: String = "row position within its data file"
    }

  /** Table property switching SQL DELETE to deletion-vector marks
    * (Delta `delta.enableDeletionVectors` analog). */
  val DvDeleteProp = "graft.enableDeletionVectors"

  /** Table property enabling change-data-feed capture on the SQL DML
    * paths that support it (Delta `delta.enableChangeDataFeed` analog;
    * currently the DV-routed DELETE — engine-API MERGE/DELETE callers
    * opt in per call via trackChanges). */
  val CdcProp = "graft.enableChangeDataFeed"

  /** Sidecar property prefix for ANSI CHECK constraints: key
    * `constraint.check.<name>`, value = the predicate SQL. */
  val CheckConstraintProp = "constraint.check."

  /** Sidecar property prefix for INFORMATIONAL constraints (PK / UNIQUE
    * / FK, NOT ENFORCED): key `constraint.info.<name>`, value =
    * [[encodeInfoConstraint]]'s structural form. */
  val InfoConstraintProp = "constraint.info."

  import org.apache.spark.sql.connector.catalog.constraints.{Constraint => V2Constraint, ForeignKey, PrimaryKey, Unique}

  /** Structural encoding of an informational constraint — enough to
    * REBUILD the object across restarts (catalog state is the
    * filesystem): `kind|cols|rely[|refTable|refCols]`. */
  private[graft] def encodeInfoConstraint(c: V2Constraint): String = {
    def cols(cs: Array[org.apache.spark.sql.connector.expressions.NamedReference]) =
      cs.map(_.fieldNames.mkString(".")).mkString(",")
    c match {
      case pk: PrimaryKey => s"primaryKey|${cols(pk.columns())}|${c.rely()}"
      case u: Unique      => s"unique|${cols(u.columns())}|${c.rely()}"
      case fk: ForeignKey =>
        s"foreignKey|${cols(fk.columns())}|${c.rely()}|" +
          s"${(fk.referencedTable().namespace() :+ fk.referencedTable().name()).mkString(".")}|" +
          cols(fk.referencedColumns())
      case other => throw new UnsupportedOperationException(
        s"unsupported informational constraint: ${other.toDDL}")
    }
  }

  private[graft] def decodeInfoConstraint(
      name: String, encoded: String): V2Constraint = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val parts = encoded.split('|')
    def refs(s: String) = s.split(',').map(Expressions.column(_)
      : org.apache.spark.sql.connector.expressions.NamedReference)
    val rely = parts(2).toBoolean
    parts(0) match {
      case "primaryKey" => V2Constraint.primaryKey(name, refs(parts(1)))
        .rely(rely).enforced(false).build()
      case "unique" => V2Constraint.unique(name, refs(parts(1)))
        .rely(rely).enforced(false).build()
      case "foreignKey" =>
        val tn = parts(3).split('.')
        V2Constraint.foreignKey(name, refs(parts(1)),
          org.apache.spark.sql.connector.catalog.Identifier.of(
            tn.dropRight(1), tn.last), refs(parts(4)))
          .rely(rely).enforced(false).build()
    }
  }

  /** Generated columns (Delta `GENERATED ALWAYS AS (expr)` analog): the
    * generation expression lives in the field metadata (Spark's own
    * key, persisted by the schema-carrier footers). On every INSERT,
    * omitted/NULL slots compute the expression and PROVIDED values must
    * match it — one row-local codegen'd projection inside the write
    * job (the mismatch raises from the task; no commit happens), so the
    * invariant costs zero extra passes at any batch size.
    *
    * NULL semantics (pinned): an OMITTED slot and an EXPLICIT NULL are
    * treated identically — both compute the expression. The SQL write
    * path cannot distinguish them (Spark null-fills omitted columns
    * before the write plan reaches the table), so an explicit NULL
    * against a provably non-null expression is FILLED, not refused —
    * the stored invariant (`value = expr` on every committed row) holds
    * either way, which is what downstream readers rely on. Where the
    * expression itself evaluates to NULL, an explicit NULL is accepted
    * as matching. */
  private[graft] def applyGeneratedColumns(
      data: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    val gens = schema.fields.flatMap(f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map(f -> _))
    gens.foldLeft(data) { case (df, (f, genSql)) =>
      val gen = expr(genSql).cast(f.dataType)
      val filled = when(col(f.name).isNull, gen)
        .when(col(f.name) <=> gen, col(f.name))
        .otherwise(raise_error(concat(
          lit(s"GENERATED ALWAYS column ${f.name}: provided value "),
          col(f.name).cast("string"),
          lit(s" does not match ($genSql)"))).cast(f.dataType))
      // select with an explicit metadata-carrying alias (withColumn
      // would strip the field metadata from the written footers)
      df.select(df.columns.map(c =>
        if (c == f.name) filled.as(c, f.metadata) else col(c)): _*)
    }
  }

  /** Identity columns (`GENERATED ALWAYS/BY DEFAULT AS IDENTITY`): NULL
    * slots take freshly reserved values from the table's high-water
    * mark ([[SnapshotTable.reserveIdentity]]) — unique, batch-monotonic,
    * gaps allowed (Delta's contract). `validateExplicit` enforces the
    * ALWAYS variant (provided values refused); the row-level rewrite
    * path passes false — carried/updated rows already hold their
    * values, and only merge-inserted NULL slots fill. */
  private[graft] def applyIdentityColumns(
      data: DataFrame, schema: StructType, snapshot: SnapshotTable,
      validateExplicit: Boolean, caches: SnapshotTable.CacheScope): DataFrame = {
    import org.apache.spark.sql.catalyst.util.IdentityColumn
    val ids = schema.fields.flatMap(f =>
      IdentityColumn.getIdentityInfo(f).map(f -> _))
    ids.foldLeft(data) { case (df, (f, spec)) =>
      snapshot.fillIdentity(df, f, spec.getStart, spec.getStep,
        forbidExplicit = validateExplicit && !spec.isAllowExplicitInsert, caches)
    }
  }

  /** UPDATE/MERGE-side counterpart of [[applyGeneratedColumns]]: the
    * row-level rewrite frame RECOMPUTES every generated column from its
    * source columns unconditionally (an update to a generation-source
    * column must not leave the generated value stale — Delta recomputes
    * on this path). Same row-local codegen'd projection, zero extra
    * passes. */
  private[graft] def regenerateColumns(
      data: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    val gens = schema.fields.flatMap(f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map(f -> _))
    gens.foldLeft(data) { case (df, (f, genSql)) =>
      val gen = expr(genSql).cast(f.dataType)
      df.select(df.columns.map(c =>
        if (c == f.name) gen.as(c, f.metadata) else col(c)): _*)
    }
  }

  /** Canonical directory-string form of a pushed filter value — the form
    * the partitioned writer names directories with, hence the form the
    * manifest stores as `partValue`. None for types with no stable
    * directory form (floating point, decimals, timestamps): those fall
    * back to the unpruned manifest plan rather than risk a wrong prune. */
  private def canonPartValue(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
         _: java.lang.Byte | _: java.lang.Boolean => Some(v.toString)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case _ => None
  }

  /** Extract a partition predicate from the pushed filter set: `pc = v`
    * or `pc IN (…)` with canonicalizable values — the replaced set of an
    * `INSERT OVERWRITE … PARTITION`, and the equality arm of the file
    * planner ([[SnapshotTable.planFiles]]). Returns the canonical
    * directory strings. */
  def partitionPredicate(pushed: Array[Filter],
      pc: String): Option[Seq[String]] = {
    import org.apache.spark.sql.sources._
    pushed.collectFirst {
      case EqualTo(a, v) if a == pc && canonPartValue(v).isDefined =>
        Seq(canonPartValue(v).get)
      // a static `PARTITION (pc = v)` clause arrives null-safe; with a
      // non-null literal it is plain equality
      case EqualNullSafe(a, v) if v != null && a == pc &&
          canonPartValue(v).isDefined =>
        Seq(canonPartValue(v).get)
      case In(a, vs) if a == pc && vs.nonEmpty && vs.length <= 1000 &&
          vs.forall(x => x != null && canonPartValue(x).isDefined) =>
        vs.map(canonPartValue(_).get).toSeq
    }
  }

  /** Manifest (bytes, rows) of the files a scan of `table` with the
    * pushed `filters` plans — the scan-size estimate, metadata only: the
    * filters go straight to the planner's entry predicate
    * ([[SnapshotTable.planFilters]]), with no resolution pass. None
    * (estimate the whole table) when no filter is pushed, the read is
    * pinned to a version (`version` >= 0) or merge-on-read deltas are
    * pending (their rows are not in files the planner sees). */
  def plannedSize(table: SnapshotTable, version: Int,
      filters: Array[Filter]): Option[(Long, Long)] =
    if (filters.isEmpty || version >= 0 || table.hasPendingDeltas) None
    else {
      val planned = table.planFilters(filters.toSeq)
      Some((planned.map(_.bytes).sum, planned.map(_.rows).sum))
    }
}

/** One-row relation answering pushed ungrouped COUNT(*) aggregates
  * straight from the manifest's footer row counts (DV marks
  * subtracted) — the scan for `SELECT COUNT(*) FROM t` opens zero data
  * files at any table size. */
final class GraftCountRelation(context: SQLContext, table: SnapshotTable,
    required: StructType, nCounts: Int)
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = context
  override def schema: StructType = required

  // one row of longs — always broadcast-sized
  override def sizeInBytes: Long = math.max(8L, 8L * nCounts)

  override def buildScan(): RDD[Row] = {
    val n = table.countFromManifestOpt.getOrElse(
      // the builder only pushes when the metadata count was available;
      // a MoR commit racing in between falls back to the exact count
      table.countFromManifest)
    context.sparkContext.parallelize(
      Seq(Row.fromSeq(Seq.fill(nCounts)(n))), 1)
  }
}

/** The v1 relation a [[V1Scan]] lowers to: projected + pre-filtered
  * manifest-planned scan at one version. The pushed filters are applied
  * to the table's read, so they reach its [[ManifestFileIndex]], which
  * plans only the files a matching row may live in (partition values,
  * hidden-layout transforms and footer stats) — SQL point and range
  * queries stay O(matching files) at any table size. */
final class GraftCatalogRelation(context: SQLContext, table: SnapshotTable,
    version: Int, required: StructType, pushed: Array[Filter])
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = context
  override def schema: StructType = required

  /** Engine handle for plan-level commands that locate a table through
    * its scan relation (ADD CONSTRAINT's validation plan). */
  private[graft] def snapshotTable: SnapshotTable = table

  /** Manifest-derived bytes (scaled to the planned files when filters
    * were pushed), so the planner broadcasts dimension-sized tables on
    * the V1-fallback path too — without this Catalyst sees
    * `defaultSizeInBytes` (Long.MaxValue) and plans SortMergeJoin for
    * every catalog join, leaving AQE to rescue after a full fact-side
    * shuffle. All metadata, never a job. */
  override lazy val sizeInBytes: Long = math.max(1L,
    GraftV2Table.plannedSize(table, version, pushed).map(_._1)
      .getOrElse(table.manifestSizeBytesAt(version)))

  override def buildScan(): RDD[Row] = {
    // engine metadata columns (stable row id / row address — row-level
    // rewrites, explicit `SELECT __graft_rid / __graft_dv_file`) ride
    // the scan when selected
    val names = required.fieldNames
    val base = table.readVersion(version,
      addressed = names.contains(SnapshotTable.DvFileCol) ||
        names.contains(SnapshotTable.DvPosCol),
      rowIds = names.contains(SnapshotTable.RidCol))
    val filtered = pushed.flatMap(SnapshotFilters.toColumn)
      .foldLeft(base)((d, c) => d.filter(c))
    val projected =
      if (required.isEmpty) filtered.select()
      else filtered.select(required.fieldNames.map(col(_)).toIndexedSeq: _*)
    projected.rdd
  }
}

/** Group-based copy-on-write row-level operation (SQL UPDATE / MERGE
  * INTO / non-interval DELETE).
  *
  * The replacement GROUP is the file: Spark reads groups through this
  * operation's scan, rewrites their rows via the command's replacement
  * query, and the write replaces exactly what was read. The filters
  * Spark pushes from the command's condition go to the file planner
  * ([[SnapshotTable.planFiles]]): files whose partition value (identity
  * or hidden layout) or footer stats prove no row can match drop out of
  * the scan and carry by reference through [[SnapshotTable.overwrite]],
  * so a partition-scoped UPDATE at 100 TB rewrites one partition, not
  * the table. Every kept file is replaced whole (group semantics forbid
  * row filtering); with no prunable condition that is the whole table.
  *
  * The planned split travels to the executor strategy inside
  * [[GraftReplaceWrite]] as a `Planned` scope — scan planning runs
  * before V2Writes builds the write, and both come from this one
  * operation instance. The scan reads the version it planned at, and
  * the rewrite commits from it with the pushed filters as its
  * predicate: a rival commit since conflicts when it touched a planned
  * file or added one the filters keep, and rebases otherwise. */
final class GraftRowLevelOperation(
    table: SnapshotTable,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    tableSchema: StructType,
    qualifiedName: String)
  extends org.apache.spark.sql.connector.write.RowLevelOperation {

  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, Write, WriteBuilder}

  /** What the rewrite replaces: the planned files, or the whole table
    * under merge-on-read (MoR) state. Set during scan planning (after
    * Spark pushes the command condition). */
  @volatile private[graft] var plannedReplace: SnapshotTable.Replace =
    SnapshotTable.Replace.All

  /** Row-id PRESERVATION through the CoW rewrite (Delta row-tracking
    * DML parity): under the table property, the rewrite scan serves
    * `__graft_rid` as a required metadata attribute — Spark threads it
    * through the replacement query untouched for carried/updated rows
    * (NULL for merge-inserted ones) and the replacement write
    * re-materializes it, so a MERGE touching one row of a file no
    * longer renumbers the file's other rows. Pinned once per operation
    * so the scan schema and the analysis-time attribute list agree. */
  private[graft] val trackRids: Boolean =
    table.rowTrackingEnabled && !table.hasPendingDeltas

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (trackRids)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(SnapshotTable.RidCol))
    else Array.empty

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftRowLevelOp[$qualifiedName, $cmd]"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      private var reported: Array[Filter] = Array.empty

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        // GROUP pruning only, never row filtering: every row of every
        // kept file must reach the replacement query, or carried rows
        // would vanish from the rewrite. A file the planner drops cannot
        // hold a row matching the condition (its partition value or
        // footer stats prove it), so it carries by reference. MoR state
        // disables pruning — delta rows are not file-addressable groups.
        val v = table.currentVersion
        plannedReplace =
          if (table.deltaEntries(v).nonEmpty) SnapshotTable.Replace.All
          else SnapshotTable.Replace.Planned(
            if (filters.isEmpty) table.fileEntries(v) else table.planFilters(filters.toSeq, v),
            v, filters.toSeq)
        reported = filters.filter(f => SnapshotFilters.toColumn(f).isDefined)
        filters // all residual: the rewrite plan re-evaluates the condition
      }
      override def pushedFilters(): Array[Filter] = reported

      // GraftV1StatsScan: the row-level read path never V1-wraps, so
      // V1StatsFallback must lower this scan itself (Spark would
      // otherwise plan an unsupported BatchScanExec over a raw V1Scan)
      override def build(): Scan = new V1Scan with graft.plans.GraftV1StatsScan {
        private val replace = plannedReplace
        // under row tracking the rewrite scan also serves the stable
        // row id (requiredMetadataAttributes) — the relations detect
        // the extra column in the schema and attach it
        private val scanSchema =
          if (trackRids)
            StructType(tableSchema.fields :+
              org.apache.spark.sql.types.StructField(SnapshotTable.RidCol,
                org.apache.spark.sql.types.LongType, nullable = true))
          else tableSchema
        override def readSchema(): StructType = scanSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          (replace match {
            case SnapshotTable.Replace.Planned(entries, v, _) =>
              new GraftEntriesRelation(context, table, entries, v, scanSchema)
            case _ =>
              new GraftCatalogRelation(context, table, -1, scanSchema,
                Array.empty)
          }).asInstanceOf[T]
      }
    }

  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder = {
    val op = this
    new WriteBuilder {
      override def build(): Write = new GraftReplaceWrite(op)
    }
  }
}

/** Carrier from optimizer to planner: [[graft.plans.GraftRowLevelOps]]
  * reads the operation's planned replace set off `ReplaceData.write`.
  * Never executed as a DSv2 BatchWrite. */
final class GraftReplaceWrite(val op: GraftRowLevelOperation)
  extends org.apache.spark.sql.connector.write.Write {
  override def description(): String = op.description()
}

/** DELTA-based row-level operation (Spark `SupportsDelta`) — the
  * positional MERGE under `graft.enableDeletionVectors`: the analyzer
  * rewrites MERGE INTO into a [[org.apache.spark.sql.catalyst.plans.logical.WriteDelta]]
  * whose query emits one row per CHANGED row only (`__row_operation` +
  * table columns + this operation's rowId — the (file, pos) address),
  * instead of the group-based full-content ReplaceData. Execution
  * ([[graft.plans.GraftWriteDeltaExec]] →
  * [[SnapshotTable.writeDeltaPositional]]) marks deleted/updated
  * addresses as deletion-vector entries and appends the update/insert
  * images — ZERO base files rewritten, write cost O(changed rows): the
  * 100 TB MERGE shape (Delta's DV-enabled MERGE). Unlike the two-scan
  * DV UPDATE path there is no condition re-evaluation — the one rewrite
  * plan computes everything — so subqueries and non-deterministic
  * conditions are fine. */
final class GraftDeltaRowLevelOperation(
    table: SnapshotTable,
    private[graft] val writePartSpec: Option[String],
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    private[graft] val tableSchema: StructType,
    qualifiedName: String)
  extends org.apache.spark.sql.connector.write.RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  import org.apache.spark.sql.connector.write.{DeltaWrite, DeltaWriteBuilder, LogicalWriteInfo, RowLevelOperation}

  private[graft] def snapshot: SnapshotTable = table

  /** Row-id preservation rides the same metadata-attribute threading as
    * the group-based path (pinned per operation, see
    * [[GraftRowLevelOperation.trackRids]]). */
  private[graft] val trackRids: Boolean = table.rowTrackingEnabled

  /** The version the scan reads, pinned when it is built; the commit
    * ([[SnapshotTable.writeDeltaPositional]]) reads it too. */
  @volatile private[graft] var scanVersion: Int = -1

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"GraftDeltaRowLevelOp[$qualifiedName, $cmd]"

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(SnapshotTable.DvFileCol),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(SnapshotTable.DvPosCol))

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (trackRids)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(SnapshotTable.RidCol))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      // Delta-based scans are ROW-filterable (unlike the group-based
      // scan, which must read whole replacement groups): a row the
      // pushed condition excludes can produce no delta row, so applying
      // the filters inside the scan prunes work for selective merges.
      // Everything returns as residual — Spark re-checks.
      private var pushed: Array[Filter] = Array.empty
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(f => SnapshotFilters.toColumn(f).isDefined)
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed

      override def build(): Scan = new V1Scan with graft.plans.GraftV1StatsScan {
        private val applied = pushed
        private val version = table.currentVersion
        scanVersion = version
        private val scanSchema = {
          var s = StructType(tableSchema.fields)
          s = s.add(SnapshotTable.DvFileCol,
            org.apache.spark.sql.types.StringType, nullable = false)
          s = s.add(SnapshotTable.DvPosCol,
            org.apache.spark.sql.types.LongType, nullable = false)
          if (trackRids)
            s = s.add(SnapshotTable.RidCol,
              org.apache.spark.sql.types.LongType, nullable = true)
          s
        }
        override def readSchema(): StructType = scanSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val rel: BaseRelation with TableScan =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = scanSchema
              override lazy val sizeInBytes: Long =
                math.max(1L, table.manifestSizeBytesAt(version))
              override def buildScan(): RDD[Row] = {
                val base = table.readVersion(version, addressed = true,
                  rowIds = trackRids)
                // filters compose with the scan plan, so Catalyst
                // pushes them into the parquet reader (footer-stats
                // row-group skipping included)
                val filtered = applied.flatMap(SnapshotFilters.toColumn)
                  .foldLeft(base)((d, c) => d.filter(c))
                filtered
                  .select(scanSchema.fieldNames.map(col(_)).toIndexedSeq: _*)
                  .rdd
              }
            }
          rel.asInstanceOf[T]
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val op = this
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(op)
    }
  }
}

/** Carrier from optimizer to planner, like [[GraftReplaceWrite]]:
  * [[graft.plans.GraftRowLevelOps]] intercepts the `WriteDelta` plan and
  * executes through the engine commit — `toBatch` is never called. */
final class GraftDeltaWrite(val op: GraftDeltaRowLevelOperation)
  extends org.apache.spark.sql.connector.write.DeltaWrite {
  override def description(): String = op.description()
}

object GraftMetaTable {
  /** Metadata-table suffixes resolvable as `cat.ns.t.<kind>`. */
  val Kinds: Set[String] = Set("history", "partitions", "detail", "files")
}

/** Read-only Iceberg-style metadata table (`cat.ns.t.history`,
  * `.partitions`, `.detail`, `.files`): answers come straight from the
  * commit-log manifest — O(log records) driver work, zero data files
  * opened, any table size. The relation reports its (tiny) actual size
  * so joins against metadata tables broadcast. */
final class GraftMetaTable(table: SnapshotTable, kind: String,
    qualifiedName: String) extends Table with SupportsRead {

  private def frame: DataFrame = kind match {
    case "history" => table.history
    case "partitions" => table.partitionsDf
    case "detail" => table.detail
    case "files" => table.filesDf
  }

  override def name(): String = qualifiedName
  override lazy val schema: StructType = frame.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan with graft.plans.GraftV1StatsScan {
        override def readSchema(): StructType = schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val rel: BaseRelation with TableScan =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = GraftMetaTable.this.schema
              // manifest-derived row count × a generous row width
              override def sizeInBytes: Long = 1024L
              override def buildScan(): RDD[Row] = frame.rdd
            }
          rel.asInstanceOf[T]
        }
      }
    }
}

/** v1 relation over an explicit file set of `version`, minus that
  * version's deletion-vector marks — the read side of a
  * partition-scoped row-level rewrite.
  * Reports the entries' manifest bytes so join planning inside the
  * replacement query (e.g. a MERGE source join) sees real magnitudes. */
final class GraftEntriesRelation(context: SQLContext, table: SnapshotTable,
    entries: Seq[SnapshotTable.FileEntry], version: Int, required: StructType)
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = context
  override def schema: StructType = required
  override lazy val sizeInBytes: Long =
    math.max(1L, entries.map(_.bytes).sum)

  override def buildScan(): RDD[Row] = {
    if (entries.isEmpty)
      return context.sparkContext.emptyRDD[Row]
    // the stable row id rides along when the rewrite selects it (row
    // tracking)
    table.scan(entries, table.dvEntries(version), version,
        rowIds = required.fieldNames.contains(SnapshotTable.RidCol))
      .select(required.fieldNames.map(col(_)).toIndexedSeq: _*).rdd
  }
}
