package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

import graft.sources.SnapshotTable

/** SQL maintenance verbs over catalog tables — the housekeeping the
  * reference drives AS SQL (`OPTIMIZE` / `CALL rewrite_data_files`,
  * IncrementalTPCDSBenchmark.scala:186-204; `DESCRIBE HISTORY`,
  * TPCDSDataLoad.scala:137-141), mapped onto the engine's existing
  * metadata-bounded operations:
  *
  *   - `OPTIMIZE t [WHERE pc IN (…)] [ZORDER BY (a, b) | FULL]` and
  *     `REORG TABLE t [WHERE …] APPLY (PURGE)` — one call each to
  *     [[SnapshotTable.optimize]], which picks the files (small files,
  *     the unclustered tail of a `CLUSTER BY` table, the Z-order scope,
  *     DV-marked files), bins them and commits; every other file carries
  *     by reference. The strategy only resolves the `WHERE` literals to
  *     the layout's partition values.
  *   - `VACUUM t [RETAIN n VERSIONS | RETAIN n HOURS] [DRY RUN]` —
  *     reclaim versions outside the retention window
  *     ([[SnapshotTable.vacuum]]; O(log + reclaimed files), never a data
  *     scan); hours resolve to versions once, through
  *     [[SnapshotTable.retentionSince]].
  *   - `DESCRIBE HISTORY t` — the commit log as rows
  *     ([[SnapshotTable.history]]; O(log records), zero data files).
  *
  * The statements parse in [[GraftSqlParser]] (injected via
  * `spark.sql.extensions`), plan through [[GraftMaintenanceStrategy]],
  * and execute eagerly like every Spark `Command`. Names resolve
  * against the session catalog manager, so all three verbs work on
  * 1/2/3-part names exactly like any other table statement.
  */
object GraftMaintenance {

  private[plans] def attrs(schema: StructType): Seq[Attribute] =
    schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())

  val OptimizeSchema: StructType = new StructType()
    .add("files_before", LongType, nullable = false)
    .add("files_after", LongType, nullable = false)
    .add("version", IntegerType, nullable = false)

  val VacuumSchema: StructType = new StructType()
    .add("reclaimed_files", IntegerType, nullable = false)
    .add("version", IntegerType, nullable = false)

  /** `VACUUM … DRY RUN`: one row per file that WOULD be reclaimed. */
  val VacuumDryRunSchema: StructType = new StructType()
    .add("path", StringType, nullable = false)

  /** Mirrors [[SnapshotTable.history]]'s frame schema. */
  val HistorySchema: StructType = new StructType()
    .add("version", IntegerType, nullable = false)
    .add("operation", StringType, nullable = false)
    .add("num_files", LongType, nullable = false)
    .add("num_rows", LongType, nullable = false)
    .add("pending_delta_rows", LongType, nullable = false)

  /** Mirrors [[SnapshotTable.detail]]'s frame schema. */
  val DetailSchema: StructType = new StructType()
    .add("version", IntegerType, nullable = false)
    .add("num_files", LongType, nullable = false)
    .add("total_bytes", LongType, nullable = false)
    .add("num_rows", LongType, nullable = false)
    .add("pending_delta_rows", LongType, nullable = false)
    .add("table_features", StringType, nullable = false)

  /** Default retention for bare `VACUUM` (Delta's
    * deletedFileRetentionDuration default: 7 days). */
  val DefaultRetainHours: Int = 168

  val VacuumDbSchema: StructType = new StructType()
    .add("member", StringType, nullable = false)
    .add("rolled_back_orphans", IntegerType, nullable = false)

  /** Default retention for bare `VACUUM DATABASE` — conservative like
    * the table-level bare VACUUM's 168 h: the no-clause spelling keeps
    * a week of daily-cadence snapshots instead of destroying all
    * published history; `RETAIN n SNAPSHOTS` is the explicit
    * reclamation switch. */
  val DefaultRetainDbSnapshots: Int = 7

  val ReorgSchema: StructType = new StructType()
    .add("files_rewritten", IntegerType, nullable = false)
    .add("purged_marks", LongType, nullable = false)
    .add("version", IntegerType, nullable = false)

  /** Resolve a maintenance verb's `WHERE pc = v | pc IN (…)` clause to
    * the named partitions' TRANSFORMED values: the filter must name the
    * partition SOURCE column, and each literal maps through the layout's
    * transform exactly like the read planner's pruning does (one day
    * literal names its month partition under `months(d)`). */
  private[plans] def resolveScope(t: SnapshotTable, verb: String,
      where: (String, Seq[String])): Set[String] = {
    val (cond, values) = where
    val spec = t.layoutSpec.map(
      graft.sources.PartitionTransform.parse).getOrElse(
      throw new UnsupportedOperationException(
        s"$verb … WHERE: the table has no partition layout to scope by"))
    require(cond == spec.col,
      s"$verb … WHERE must filter the partition source column " +
        s"'${spec.col}', got '$cond'")
    values.map(v =>
      graft.sources.PartitionTransform.applyLiteral(spec.tag, v)).toSet
  }

  val RestoreSchema: StructType = new StructType()
    .add("restored_to_version", IntegerType, nullable = false)
    .add("new_version", IntegerType, nullable = false)
    .add("num_files", LongType, nullable = false)

  val SetNotNullSchema: StructType = new StructType()
    .add("column", StringType, nullable = false)
    .add("new_version", IntegerType, nullable = false)

  val SyncIdentitySchema: StructType = new StructType()
    .add("column", StringType, nullable = false)
    .add("high_water_mark", LongType, nullable = false)

  val CloneSchema: StructType = new StructType()
    .add("source_version", IntegerType, nullable = false)
    .add("num_files", LongType, nullable = false)

  val GenerateSchema: StructType = new StructType()
    .add("manifest_path", StringType, nullable = false)
    .add("num_files", LongType, nullable = false)

  /** Iceberg `remove_orphan_files`: one row per deleted orphan. */
  val OrphansSchema: StructType = new StructType()
    .add("orphan_file_location", StringType, nullable = false)

  /** `CONVERT TO GRAFT parquet.`/path`` — in-place conversion summary. */
  val ConvertSchema: StructType = new StructType()
    .add("location", StringType, nullable = false)
    .add("num_files", LongType, nullable = false)
    .add("num_rows", LongType, nullable = false)

  /** The path-addressed table spelling (`` graft.`/abs/path` `` — the
    * reference's own Delta idiom, `` OPTIMIZE delta.`$path` ``
    * IncrementalTPCDSBenchmark.scala:192): a 2-part name whose head is
    * the datasource name and whose tail is an absolute path. */
  private def asPath(name: Seq[String]): Option[String] = name match {
    case Seq(ds, p)
        if (ds.equalsIgnoreCase("graft") ||
          ds.equalsIgnoreCase("graft-snapshot")) &&
          (p.startsWith("/") || p.contains(":/")) => Some(p)
    case _ => None
  }

  /** Resolve the named table to its engine handle — path-addressed
    * (`` graft.`/path` ``) directly, catalog names via the session's
    * catalog manager (only graft catalogs carry maintainable tables).
    * `forMutation` verbs are refused on transaction-database members
    * (see [[graft.sources.GraftSqlCatalog.snapshotFor]]); the
    * path-addressed form applies the same guard by probing for a
    * db log beside the table's root — a path spelling must not become
    * the loophole around the published-pin protection. */
  private[plans] def snapshotOf(spark: SparkSession,
      name: Seq[String], forMutation: Boolean = false): SnapshotTable =
    asPath(name) match {
      case Some(p) =>
        val t = new SnapshotTable(spark, p)
        require(t.exists, s"no graft snapshot table at $p")
        if (forMutation) {
          val root = new org.apache.hadoop.fs.Path(p)
          val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
          val dbLog = new org.apache.hadoop.fs.Path(
            root.getParent, "_graft_db_log")
          if (root.getParent != null && fs.exists(dbLog))
            throw new UnsupportedOperationException(
              s"$p is a member of a transaction database namespace — " +
                "run maintenance through GraftDatabase / VACUUM DATABASE " +
                "(vacuum respects published pins there)")
        }
        t
      case None =>
        val (plugin, ident) =
          org.apache.spark.sql.GraftStreamShim.resolveCatalogTable(spark, name)
        plugin match {
          case g: graft.sources.GraftSqlCatalog =>
            g.snapshotFor(ident, forMutation)
          case other => throw new UnsupportedOperationException(
            s"${name.mkString(".")}: catalog '${other.name}' is not a graft " +
              "catalog — OPTIMIZE/VACUUM/DESCRIBE HISTORY operate on graft " +
              "snapshot tables")
        }
    }

  /** `TIMESTAMP AS OF` string → epoch millis, resolved in the given
    * (session) time zone — the same zone the SQL time-travel clauses
    * resolve in, so the two spellings of one literal never name two
    * instants. Accepts Delta's accepted shapes: full
    * `yyyy-MM-dd HH:mm:ss[.f…]` (T separator tolerated) AND date-only
    * `yyyy-MM-dd` (midnight). */
  private[plans] def parseTs(s: String, zone: String): Long = {
    val norm = s.trim.replace(' ', 'T')
    val padded =
      if (norm.matches("\\d{4}-\\d{2}-\\d{2}")) norm + "T00:00:00" else norm
    java.time.LocalDateTime.parse(padded)
      .atZone(java.time.ZoneId.of(zone)).toInstant.toEpochMilli
  }

  /** Where a CLONE target will live: path-addressed targets verbatim;
    * catalog targets at the owning graft catalog's table path (the
    * table must not exist yet — CREATE semantics). */
  private[plans] def cloneTargetPath(spark: SparkSession,
      name: Seq[String]): String =
    asPath(name).getOrElse {
      val (plugin, ident) =
        org.apache.spark.sql.GraftStreamShim.resolveCatalogTable(spark, name)
      plugin match {
        case g: graft.sources.GraftSqlCatalog => g.pathOf(ident)
        case other => throw new UnsupportedOperationException(
          s"${name.mkString(".")}: catalog '${other.name}' is not a graft " +
            "catalog — SHALLOW CLONE targets a graft catalog table or a " +
            "graft.`/path`")
      }
    }
}

/** `OPTIMIZE name [WHERE pc = v | pc IN (…)] [ZORDER BY (a[, b, c, d])]`. */
final case class GraftOptimizeCommand(name: Seq[String],
    zorderBy: Seq[String],
    where: Option[(String, Seq[String])],
    zorderWritten: Boolean = false,
    full: Boolean = false) extends LeafNode with Command {
  require(!zorderWritten || (zorderBy.nonEmpty && zorderBy.length <= 4),
    s"OPTIMIZE ZORDER BY takes 1 to 4 columns (16 interleaved bits per " +
      s"dimension — 4 fills the 64-bit curve value), got " +
      s"(${zorderBy.mkString(", ")})")
  require(!full || !zorderWritten,
    "OPTIMIZE … FULL applies to CLUSTER BY tables; it cannot combine " +
      "with an explicit ZORDER BY clause")
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.OptimizeSchema)
}

/** `REORG TABLE name [WHERE pc = v] APPLY (PURGE)` (Delta's
  * deletion-vector purge verb): rewrite ONLY the DV-addressed files so
  * soft-deleted rows become physically absent and the marks drop;
  * mark-free files carry by reference. The GDPR-style physical-removal
  * step between a DV delete and the VACUUM that reclaims the pre-purge
  * files. */
final case class GraftReorgCommand(name: Seq[String],
    where: Option[(String, Seq[String])]) extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.ReorgSchema)
}

/** `RESTORE [TABLE] name TO VERSION|TIMESTAMP AS OF …` (Delta RESTORE):
  * a new commit whose file list IS the target version's — metadata
  * only, revertible, history preserved. */
final case class GraftRestoreCommand(name: Seq[String],
    version: Option[Int], timestamp: Option[String])
    extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.RestoreSchema)
}

/** `ALTER TABLE name ALTER COLUMN col SET NOT NULL` — Spark's own v2
  * ALTER path hard-refuses nullable→non-nullable at analysis, so the
  * verb routes through this extension command (exactly how Delta ships
  * it). Existing rows validate once (one stop-at-first-NULL count);
  * the flag then rides the versioned fieldMeta overlay and Spark's
  * output resolver enforces it on every subsequent write. */
final case class GraftSetNotNullCommand(name: Seq[String], column: String)
    extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.SetNotNullSchema)
}

/** `ALTER TABLE name SYNC IDENTITY` (Delta's verb): realign every
  * identity column's high-water mark with the stored values — the
  * repair step after explicit BY DEFAULT inserts. */
final case class GraftSyncIdentityCommand(name: Seq[String])
    extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.SyncIdentitySchema)
}

/** `CREATE TABLE tgt SHALLOW|DEEP CLONE src [VERSION AS OF n]` (Delta
  * CLONE): shallow — the target's version 0 references the source's
  * files, zero data copied, O(manifest); deep — the target gets its
  * own copy of the data (one distributed rewrite, nothing shared). */
final case class GraftCloneCommand(target: Seq[String],
    source: Seq[String], version: Option[Int],
    deep: Boolean = false, orReplace: Boolean = false)
    extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.CloneSchema)
}

/** `VACUUM name [RETAIN n VERSIONS | RETAIN n HOURS] [DRY RUN]` —
  * hour-based retention (Delta's syntax) resolves to a version count
  * ([[SnapshotTable.retentionSince]]) for [[SnapshotTable.vacuum]];
  * `DRY RUN` previews the reclaimable file list without touching
  * anything. */
final case class GraftVacuumCommand(name: Seq[String],
    retainVersions: Option[Int],
    retainHours: Option[Int] = None,
    dryRun: Boolean = false) extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(
      if (dryRun) GraftMaintenance.VacuumDryRunSchema
      else GraftMaintenance.VacuumSchema)
}

/** `CALL cat.system.remove_orphan_files('ns.t' [, older_than])`
  * (Iceberg's orphan cleaner): deletes data files NO version
  * references — losing-OCC attempt output and crash leftovers — that
  * are older than the horizon ([[SnapshotTable.removeOrphanFiles]]).
  * No version is touched; time travel is unaffected. */
final case class GraftRemoveOrphansCommand(name: Seq[String],
    olderThan: Option[String]) extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.OrphansSchema)
}

/** `CONVERT TO GRAFT parquet.`/path`` [PARTITIONED BY (pc TYPE)]`
  * (Delta `CONVERT TO DELTA` analog): version 0's manifest references
  * the directory's existing parquet files IN PLACE — O(files) footer
  * reads, zero data rewritten or moved, which is the only viable
  * migration at 100 TB. Hive-layout directories (`pc=v/…`) declare the
  * partition column + type, matching Delta's mandatory clause; reads
  * synthesize the column from the manifest's per-file partition value
  * ([[graft.sources.SnapshotTable.convertInPlace]]). */
final case class GraftConvertCommand(path: String,
    partition: Option[(String, String)]) extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.ConvertSchema)
}

/** `GENERATE symlink_format_manifest FOR TABLE name` (Delta's verb for
  * exporting the current snapshot as a plain file list readable by
  * engines without a manifest planner — Presto/Trino-style symlink
  * input). Maps onto [[SnapshotTable.generateSymlinkManifest]]:
  * O(manifest), zero data files opened. */
final case class GraftGenerateManifestCommand(name: Seq[String])
    extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.GenerateSchema)
}

/** `DESCRIBE HISTORY name`. */
final case class GraftDescribeHistoryCommand(name: Seq[String])
    extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.HistorySchema)
}

/** `DESCRIBE DETAIL name` (Delta's table-summary verb). */
final case class GraftDescribeDetailCommand(name: Seq[String])
    extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.DetailSchema)
}

/** `VACUUM DATABASE cat.ns [RETAIN n SNAPSHOTS]` — the db-level
  * retention path the table-level guard points at: rolls back crash-
  * orphaned unpublished member versions and reclaims history outside
  * the retained published snapshots, all WHILE respecting every
  * retained pin ([[graft.sources.GraftDatabase.vacuum]]). */
final case class GraftVacuumDatabaseCommand(name: Seq[String],
    retainSnapshots: Option[Int]) extends LeafNode with Command {
  override def output: Seq[Attribute] =
    GraftMaintenance.attrs(GraftMaintenance.VacuumDbSchema)
}

/** Plans the maintenance commands onto their engine execs; injected via
  * `spark.sql.extensions` (GraftExtensions) next to the parser that
  * produces them. */
object GraftMaintenanceStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: GraftOptimizeCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val t = GraftMaintenance.snapshotOf(spark, c.name, forMutation = true)
        val before = t.files.size.toLong
        t.optimize(c.where.map(GraftMaintenance.resolveScope(t, "OPTIMIZE", _)),
          c.zorderBy, c.full)
        // Seq[Any] forestalls Scala's numeric widening (a mixed
        // Long/Int Seq infers Seq[Long] and silently widens the Int,
        // breaking the IntegerType projection)
        Seq(Seq[Any](before, t.files.size.toLong, t.currentVersion))
      }) :: Nil
    case c: GraftReorgCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val t = GraftMaintenance.snapshotOf(spark, c.name, forMutation = true)
        val marksBefore = t.dvFiles.map(_.rows).sum
        val rewritten = t.optimize(
          c.where.map(GraftMaintenance.resolveScope(t, "REORG", _)), purge = true)
        val purged = marksBefore - t.dvFiles.map(_.rows).sum
        Seq(Seq[Any](rewritten, purged, t.currentVersion))
      }) :: Nil
    case c: GraftSyncIdentityCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val t = GraftMaintenance.snapshotOf(spark, c.name, forMutation = true)
        import org.apache.spark.sql.catalyst.util.IdentityColumn
        val ids = t.read().schema.fields.flatMap(f =>
          IdentityColumn.getIdentityInfo(f).map(f.name -> _))
        require(ids.nonEmpty,
          s"SYNC IDENTITY: table has no identity columns")
        ids.toSeq.map { case (col, spec) =>
          Seq[Any](col, t.syncIdentity(col, spec.getStart, spec.getStep))
        }
      }) :: Nil
    case c: GraftSetNotNullCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val t = GraftMaintenance.snapshotOf(spark, c.name, forMutation = true)
        t.setNotNull(c.column)
        Seq(Seq[Any](c.column, t.currentVersion))
      }) :: Nil
    case c: GraftRestoreCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val t = GraftMaintenance.snapshotOf(spark, c.name, forMutation = true)
        val target = c.version.getOrElse(
          t.versionAsOf(GraftMaintenance.parseTs(c.timestamp.get,
            spark.sessionState.conf.sessionLocalTimeZone)))
        // restoring to the version already current is a no-op success
        // (Delta semantics), not an error
        if (target != t.currentVersion) t.restoreTo(target)
        Seq(Seq[Any](target, t.currentVersion, t.files.size.toLong))
      }) :: Nil
    case c: GraftCloneCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val src = GraftMaintenance.snapshotOf(spark, c.source)
        val srcVersion = c.version.getOrElse(src.currentVersion)
        val dst = GraftMaintenance.cloneTargetPath(spark, c.target)
        // OR REPLACE onto an EXISTING table mutates it — apply the same
        // transaction-db member guard every mutating verb carries (the
        // plain CREATE path needs none: it refuses existing targets)
        if (c.orReplace && new SnapshotTable(spark, dst).exists)
          GraftMaintenance.snapshotOf(spark, Seq("graft", dst),
            forMutation = true): Unit
        val clone =
          if (c.deep) src.deepCloneTo(dst, srcVersion, c.orReplace)
          else src.shallowCloneTo(dst, srcVersion, c.orReplace)
        Seq(Seq[Any](srcVersion, clone.files.size.toLong))
      }) :: Nil
    case c: GraftVacuumCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        // the DRY RUN preview carries the SAME db-member guard as the
        // command it previews: a dry run listing files the real VACUUM
        // refuses to reclaim (published db snapshots pin them) invites
        // deleting them out-of-band — the exact accident the guard exists for
        val t = GraftMaintenance.snapshotOf(spark, c.name, forMutation = true)
        // RETAIN n VERSIONS, else the versions of the last n hours — bare
        // VACUUM keeps Delta's 168-hour default (destroying ALL history by
        // default would be the opposite of what the syntax means
        // everywhere else); a window reaching before the first commit
        // reclaims nothing
        val retain = c.retainVersions.orElse(t.retentionSince(
          System.currentTimeMillis() -
            c.retainHours.getOrElse(GraftMaintenance.DefaultRetainHours) * 3600L * 1000L))
        if (c.dryRun) retain.toSeq.flatMap(t.vacuumDryRun(_)).map(p => Seq[Any](p))
        else Seq(Seq[Any](retain.map(t.vacuum(_)).getOrElse(0), t.currentVersion))
      }) :: Nil
    case c: GraftRemoveOrphansCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val t = GraftMaintenance.snapshotOf(spark, c.name)
        val horizon = c.olderThan.map(GraftMaintenance.parseTs(_,
          spark.sessionState.conf.sessionLocalTimeZone)).getOrElse(-1L)
        t.removeOrphanFiles(horizon).map(p => Seq[Any](p))
      }) :: Nil
    case c: GraftGenerateManifestCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val t = GraftMaintenance.snapshotOf(spark, c.name)
        Seq(Seq[Any](t.generateSymlinkManifest(), t.files.size.toLong))
      }) :: Nil
    // `ALTER TABLE … ADD CONSTRAINT nm CHECK (expr)`: Spark's analyzer
    // builds the existing-row validation plan (a Filter for violations
    // over the table scan) but its own exec only plans v2 scan
    // relations — the engine's V1-fallback relation needs this case.
    // Semantics match AddCheckConstraintExec: run the validation scan,
    // refuse on any violating row, then store the constraint; every
    // LATER write is enforced row-locally by Spark's CheckInvariant
    // (injected from the constraints() the table reports).
    case org.apache.spark.sql.catalyst.plans.logical
        .AddCheckConstraint(child, chk) =>
      val snaps = child.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if l.relation.isInstanceOf[graft.sources.GraftCatalogRelation] =>
          l.relation.asInstanceOf[graft.sources.GraftCatalogRelation]
            .snapshotTable
      }
      snaps.headOption match {
        case Some(t) =>
          GraftMaintenanceExec(Seq.empty, { spark =>
            val violating = org.apache.spark.sql.GraftStreamShim
              .ofRows(spark, child).limit(1).count()
            require(violating == 0,
              s"ADD CONSTRAINT ${chk.name}: existing rows violate " +
                s"CHECK (${chk.condition})")
            t.withProperty(
              graft.sources.GraftV2Table.CheckConstraintProp + chk.name,
              chk.condition)
            Seq.empty
          }) :: Nil
        case None => Nil
      }
    case c: GraftConvertCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val field = c.partition.map { case (col, ty) =>
          org.apache.spark.sql.types.StructField(col,
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(ty), nullable = true)
        }
        val t = new SnapshotTable(spark, c.path).convertInPlace(field)
        Seq(Seq[Any](c.path, t.files.size.toLong, t.countFromManifest))
      }) :: Nil
    case c: GraftDescribeHistoryCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        GraftMaintenance.snapshotOf(spark, c.name).history.collect()
          .map(_.toSeq).toSeq
      }) :: Nil
    case c: GraftDescribeDetailCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        GraftMaintenance.snapshotOf(spark, c.name).detail.collect()
          .map(_.toSeq).toSeq
      }) :: Nil
    case c: GraftVacuumDatabaseCommand =>
      GraftMaintenanceExec(c.output, { spark =>
        val (plugin, ns) = org.apache.spark.sql.GraftStreamShim
          .resolveCatalogNamespace(spark, c.name)
        val db = plugin match {
          case g: graft.sources.GraftSqlCatalog => g.databaseFor(ns)
          case other => throw new UnsupportedOperationException(
            s"${c.name.mkString(".")}: catalog '${other.name}' is not a " +
              "graft catalog")
        }
        // bare VACUUM DATABASE keeps a conservative snapshot window
        // (mirroring the table-level bare VACUUM's 168 h default) —
        // destroying all published history and rolling back in-flight
        // unpublished member versions needs the explicit RETAIN clause
        db.vacuum(c.retainSnapshots.getOrElse(
          GraftMaintenance.DefaultRetainDbSnapshots)).toSeq.sortBy(_._1)
          .map { case (n, rolled) => Seq[Any](n, rolled) }
      }) :: Nil
    case _ => Nil
  }
}

/** Executes one maintenance command on the driver (all three verbs are
  * metadata-bounded: compaction launches its own distributed rewrite
  * jobs through the engine; vacuum/history never touch data files) and
  * returns the result rows Spark's eager command execution surfaces. */
final case class GraftMaintenanceExec(
    override val output: Seq[Attribute],
    run: SparkSession => Seq[Seq[Any]]) extends LeafExecNode {

  private lazy val result: Array[InternalRow] = {
    // converter schema derives from the declared output, so the two can
    // never drift apart
    val conv = CatalystTypeConverters.createToCatalystConverter(
      StructType(output.map(a =>
        org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable))))
    run(SparkSession.active).map(vals =>
      conv(org.apache.spark.sql.Row.fromSeq(vals)).asInstanceOf[InternalRow])
      .toArray
  }

  override def executeCollect(): Array[InternalRow] = result

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(result.toIndexedSeq, 1)
}
