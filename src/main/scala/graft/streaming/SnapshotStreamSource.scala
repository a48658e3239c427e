package graft.streaming

import graft.sources.{LogStore, SnapshotTable}
import org.apache.spark.sql.{DataFrame, GraftStreamShim, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Snapshot table as a streaming SOURCE, driven by the manifest log —
  * the Delta `readStream.table` / DeltaSource analog.
  *
  * Each micro-batch is planned from a manifest VERSION DIFF: offset `v`
  * means "versions ≤ v consumed", and the batch for (v₁, v₂] is the scan
  * of exactly the files those commits added (`commitAddedDataFiles`,
  * an O(manifest) in-memory set difference). The source never lists the
  * data directory and keeps no seen-files state — per-trigger cost is
  * O(new files of the commit), flat in table size and file count. A
  * glob-driven FileStreamSource by contrast re-LISTS the directory every
  * trigger and grows an unbounded seen-files map — at the 200k-file tier
  * that listing is the metadata wall the reference's file-count
  * benchmark exists to expose (FileCountBenchmark.scala:242-279).
  *
  * Modes:
  *   - data (default): append-only tailing. Every streamed commit must
  *     be CREATE/APPEND/CLONE; a commit that logically changed rows
  *     (MERGE, DELETE, MoR deltas, RESTORE) fails the stream loudly —
  *     rows already emitted cannot be retracted (exactly Delta's
  *     "detected a data update" error). Data-reorganization commits
  *     (COMPACT/OPTIMIZE/ZORDER/REORG) are skipped as logical no-ops, so
  *     routine housekeeping never kills consumers (Delta's
  *     dataChange=false). A CLONE carrying unresolved MoR/DV state
  *     fails loudly rather than emit stale physical rows. CDC files, DV
  *     mark files, and orphaned losing-OCC-attempt writes are invisible
  *     by construction: they are never in the manifest's added-file set.
  *   - readChangeFeed=true: streams the change-data feed. Tracked DML
  *     commits contribute their captured change files (pre/post images
  *     with `_change_type`); CREATE/APPEND/CLONE commits contribute
  *     their added data files as `insert` rows (Delta CDF parity);
  *     data-reorganization commits (COMPACT/ZORDER/REORG/RESTORE) are skipped
  *     (no logical change). An untracked DML commit fails the stream —
  *     its changes are unrecoverable after the fact.
  *
  * Options: `path` (table root, required), `startingVersion` (int, or
  * "latest" = only commits after stream start, pinned per checkpoint;
  * default 0 — Delta's startingVersion semantics), `startingTimestamp`
  * (epoch millis: first commit at-or-after the instant, resolved from
  * the manifest's monotonic in-commit timestamps; mutually exclusive
  * with startingVersion), and the rate limits `maxVersionsPerTrigger`,
  * `maxFilesPerTrigger`, `maxBytesPerTrigger` (byte strings accepted:
  * "512m", "1g" — Delta's admission-control spellings; default: all
  * available in one batch). File/byte limits are sized from manifest
  * metadata and always admit at least one version per trigger.
  *
  * Micro-batches keep full Catalyst planning: the batch DataFrame is the
  * manifest-planned relation (ManifestFileIndex) re-flagged as streaming
  * ([[GraftStreamShim.asStreamingBatch]]), so downstream filters and
  * projections still push into the parquet scan.
  */
class SnapshotStreamSource(
    spark: SparkSession,
    table: SnapshotTable,
    override val schema: StructType,
    startingVersion: Long,
    maxVersionsPerTrigger: Long,
    changeFeed: Boolean,
    maxFilesPerTrigger: Long = 0L,
    maxBytesPerTrigger: Long = 0L)
  extends Source with SupportsTriggerAvailableNow {

  /** Versions ≤ this are exposed via getOffset (advances with rate
    * limiting; re-synced from the checkpoint on restart via getBatch). */
  private var lastReturned: Long = startingVersion - 1L

  /** Trigger.AvailableNow end bound, captured once at stream start so
    * the multi-batch drain has a fixed target (commits racing the drain
    * belong to the next run). */
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNowEnd = Some(table.currentVersion.toLong)
  }

  /** Admission control: the highest version whose cumulative batch stays
    * within maxVersions/maxFiles/maxBytesPerTrigger — Delta's rate-limit
    * options, sized from MANIFEST metadata (per-version file lists),
    * never the filesystem. Versions are the commit unit here, so at
    * least one version is always admitted even if it alone exceeds the
    * file/byte cap (Delta likewise always admits one file) — otherwise a
    * single bulk-load commit would stall the stream forever. A restart
    * against a week-long backlog drains in bounded micro-batches instead
    * of one executor-flattening batch. */
  private def admitUpTo(latest: Long): Long = {
    val unlimited = maxFilesPerTrigger <= 0 && maxBytesPerTrigger <= 0
    if (maxVersionsPerTrigger <= 0 && unlimited) latest
    else {
      val versionCap =
        if (maxVersionsPerTrigger <= 0) latest
        else math.min(lastReturned + maxVersionsPerTrigger, latest)
      if (unlimited) versionCap
      else {
        var end = lastReturned
        var files = 0L
        var bytes = 0L
        var full = false
        while (!full && end < versionCap) {
          val entries = sliceEntries((end + 1).toInt)
          val f = files + entries.size
          val b = bytes + entries.map(_.bytes).sum
          if (end > lastReturned &&
              ((maxFilesPerTrigger > 0 && f > maxFilesPerTrigger) ||
                (maxBytesPerTrigger > 0 && b > maxBytesPerTrigger))) full = true
          else { files = f; bytes = b; end += 1 }
        }
        end
      }
    }
  }

  /** The files version `v` would contribute to a micro-batch — the
    * admission-control sizing mirror of [[batchSlice]]'s selection
    * (guards stay in getBatch; sizing must not throw mid-planning). */
  private def sliceEntries(v: Int): Seq[SnapshotTable.FileEntry] = {
    val op = table.commitOperation(v)
    if (!changeFeed) {
      if (SnapshotStreamSource.ReorgOps(op)) Seq.empty
      else table.commitAddedDataFiles(v)
    } else op match {
      case o if SnapshotStreamSource.AppendOps(o) =>
        table.commitAddedDataFiles(v)
      case "COMPACT" | "OPTIMIZE" | "ZORDER" | "REORG" | "RESTORE" =>
        Seq.empty
      case _ => table.commitChangeFiles(v)
    }
  }

  override def getOffset: Option[Offset] = synchronized {
    val latest = availableNowEnd.getOrElse(table.currentVersion.toLong)
    val next = admitUpTo(latest)
    if (next > lastReturned) lastReturned = next
    if (lastReturned < startingVersion) None
    else Some(SnapshotSourceOffset(lastReturned))
  }

  /** Admission-control entry point (the engine prefers it over
    * [[getOffset]] once SupportsTriggerAvailableNow is in play; same
    * pattern as FileStreamSource). Rate limiting is version-based and
    * internal, so the engine-supplied ReadLimit stays allAvailable.
    *
    * `startOffset` is the restart resync point: after a checkpoint
    * recovery whose last batch was fully committed, the engine calls
    * latestOffset BEFORE any getBatch, so the internal cursor must
    * catch up to the committed offset here — otherwise a rate-limited
    * source (maxVersionsPerTrigger) would hand back an offset BELOW
    * the checkpoint and replay already-emitted versions. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 =
    synchronized {
      if (startOffset != null)
        lastReturned =
          math.max(lastReturned, SnapshotSourceOffset.versionOf(startOffset))
      getOffset.orNull
    }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = synchronized {
    val endV = SnapshotSourceOffset.versionOf(end)
    lastReturned = math.max(lastReturned, endV) // checkpoint-restart resync
    val startV = start.map(SnapshotSourceOffset.versionOf(_) + 1L)
      .getOrElse(startingVersion)
    val frames = (startV to endV).flatMap(v => batchSlice(v.toInt))
    if (frames.isEmpty) GraftStreamShim.emptyStreamingBatch(spark, schema)
    else GraftStreamShim.asStreamingBatch(
      frames.reduce(_ unionByName _).select(schema.fieldNames.map(col): _*))
  }

  /** One commit's contribution to the stream (None = adds no rows). */
  private def batchSlice(v: Int): Option[DataFrame] = {
    val op = table.commitOperation(v)
    if (addsKnownColumns(op, v)) None
    else if (!changeFeed) {
      // Data reorganization (dataChange=false): the logical relation is
      // unchanged, so the commit is skipped — emitting its rewritten
      // files would duplicate rows, and failing would kill every tailed
      // table that receives routine housekeeping (Delta likewise skips
      // dataChange=false commits). RESTORE is NOT in this set: it
      // changes the logical relation and must still fail below.
      if (SnapshotStreamSource.ReorgOps(op)) None
      else {
        if (!SnapshotStreamSource.AppendOps(op) || table.commitRemovedFiles(v))
          throw new UnsupportedOperationException(
            s"snapshot stream at version $v hit a non-append commit ($op): " +
              "rows already emitted cannot be retracted. Stream the change " +
              "feed instead (option readChangeFeed=true on commits tracked " +
              "with trackChanges).")
        // A commit that establishes the table's FULL state (CREATE/CLONE
        // at version 0) while carrying pending MoR deltas or DV marks —
        // a shallow clone of an unresolved table — must not emit its
        // physical files as plain rows: stale base copies would stream
        // alongside the deltas that shadow them, and DV-deleted rows
        // would resurface. Fail loudly; compact the clone first.
        if (table.commitEmitsUnresolvedState(v))
          throw new UnsupportedOperationException(
            s"snapshot stream at version $v ($op) carries pending MoR " +
              "deltas or deletion-vector marks: its physical files are " +
              "not plain rows. Compact the table before streaming it " +
              "(or start from a later, resolved version).")
        val added = table.commitAddedDataFiles(v)
        if (added.isEmpty) None else Some(table.scan(added, Nil, -1))
      }
    } else op match {
      case op if SnapshotStreamSource.AppendOps(op) =>
        // Same unresolved-state guard as data mode: a v0 CLONE carrying
        // pending MoR deltas or DV marks must not stream its physical
        // files as 'insert' rows — shadowed base copies and tombstone
        // delta rows are not inserts. Fail loudly; compact first.
        if (table.commitEmitsUnresolvedState(v))
          throw new UnsupportedOperationException(
            s"change-feed stream at version $v ($op) carries pending MoR " +
              "deltas or deletion-vector marks: its physical files are " +
              "not plain 'insert' rows. Compact the table before " +
              "streaming it (or start from a later, resolved version).")
        val added = table.commitAddedDataFiles(v)
        if (added.isEmpty) None
        else Some(table.scan(added, Nil, -1)
          .withColumn(SnapshotTable.ChangeCol, lit("insert")))
      case "COMPACT" | "OPTIMIZE" | "ZORDER" | "REORG" | "RESTORE" =>
        None // data reorganization: no logical change
      case op =>
        val changes = table.commitChangeFiles(v)
        if (changes.isEmpty)
          throw new UnsupportedOperationException(
            s"change-feed stream: version $v ($op) carries no change " +
              "files — commit DML with trackChanges = true to stream it.")
        Some(table.scan(changes, Nil, -1))
    }
  }

  /** An ADD COLUMNS commit adds no row, only a zero-row schema file; it
    * streams as nothing once this stream's schema holds its columns
    * (earlier files read them as their default, [[SnapshotTable.read]]'s
    * way). A stream started before it fails on it, as on any other
    * schema change. */
  private def addsKnownColumns(op: String, v: Int): Boolean =
    op == "ADD_COLUMNS" &&
      table.read(v).schema.fieldNames.forall(schema.fieldNames.contains)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String =
    s"SnapshotStreamSource[${if (changeFeed) "cdc" else "data"}]"
}

object SnapshotStreamSource {
  /** Commits whose added files are plain new rows. */
  private val AppendOps = Set("CREATE", "APPEND", "CLONE")

  /** Data-reorganization commits (rewrites with no logical change) —
    * skipped by data mode. RESTORE deliberately excluded here: it
    * rewinds the logical relation, which data mode cannot express (the
    * change-feed branch skips it separately as a file-level no-op). */
  private val ReorgOps = Set("COMPACT", "OPTIMIZE", "ZORDER", "REORG")
}

/** Offset = highest manifest version consumed (total-ordered, compact —
  * the manifest log is the write-ahead log, so the version number alone
  * recovers the exact file set after a restart). */
case class SnapshotSourceOffset(version: Long) extends Offset {
  override def json: String = version.toString
}

object SnapshotSourceOffset {
  /** Accepts the v2 supertype: v1 `execution.streaming.Offset` extends
    * `connector.read.streaming.Offset`, and [[SnapshotStreamSource
    * .latestOffset]] receives the checkpointed offset as the v2 type. */
  def versionOf(o: OffsetV2): Long = o match {
    case SnapshotSourceOffset(v) => v
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }
}

/** `spark.readStream.format("graft-snapshot")` source AND
  * `writeStream.format("graft-snapshot")` sink provider (also reachable
  * by full class name). Source schema derives from the table's current
  * read schema (+ `_change_type` in change-feed mode) unless supplied.
  *
  * The sink is the exactly-once append path as a first-class streaming
  * format (no foreachBatch boilerplate): every micro-batch commits via
  * [[SnapshotTable.append]] tagged `txn` = (txnAppId, batchId), so a
  * checkpoint-recovery re-delivery is one txn-marker lookup and a skip —
  * Delta's DeltaSink contract. The FIRST batch creates the table (with
  * the marker recorded atomically in the creating commit); a lost
  * create race falls back to the idempotent append. Options: `path`
  * (required), `partitionBy` (identity column or hidden-partitioning
  * transform spec), `txnAppId` (marker namespace; defaults to a
  * path-derived id — set it explicitly when multiple queries feed one
  * table). Append output mode only: aggregations should be maintained
  * via the change feed (stream_cdc_apply), not Complete-mode rewrites. */
class SnapshotStreamProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  private def boolOpt(parameters: Map[String, String], key: String): Boolean =
    parameters.get(key).exists(_.trim.equalsIgnoreCase("true"))

  private def tableOf(sqlContext: SQLContext,
      parameters: Map[String, String]): SnapshotTable = {
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot source requires option 'path' (the table root)"))
    new SnapshotTable(sqlContext.sparkSession, path)
  }

  private def derivedSchema(table: SnapshotTable, changeFeed: Boolean): StructType = {
    val base = table.read().schema
    if (!changeFeed) base
    else StructType(base.fields :+ StructField(SnapshotTable.ChangeCol, StringType))
  }

  /** The stream's schema given an optional user/catalog-supplied one: a
    * change-feed read always carries `_change_type` — the catalog-name
    * path (`readStream.option("readChangeFeed", true).table(…)`) hands
    * this provider the table's BASE schema through Spark's V1 streaming
    * fallback, and honoring it verbatim would silently drop the change
    * column from every CDF row. */
  private def effectiveSchema(table: => SnapshotTable, changeFeed: Boolean,
      given: Option[StructType]): StructType = given match {
    case Some(s) if !changeFeed => s
    case Some(s) if s.fieldNames.contains(SnapshotTable.ChangeCol) => s
    case Some(s) =>
      StructType(s.fields :+ StructField(SnapshotTable.ChangeCol, StringType))
    case None => derivedSchema(table, changeFeed)
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), effectiveSchema(tableOf(sqlContext, parameters),
      boolOpt(parameters, "readChangeFeed"), schema))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val table = tableOf(sqlContext, parameters)
    val changeFeed = boolOpt(parameters, "readChangeFeed")
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "specify startingVersion or startingTimestamp, not both")
    val starting = parameters.get("startingVersion").map(_.trim) match {
      case Some(s) if s.equalsIgnoreCase("latest") =>
        SnapshotStreamProvider.pinLatest(sqlContext, metadataPath, table)
      case Some(s) => s.toLong
      case None => parameters.get("startingTimestamp").map(_.trim) match {
        // Delta startingTimestamp semantics: first commit AT OR AFTER
        // the instant (epoch millis here; manifest timestamps are
        // monotonic, so this is a pure metadata resolution). versionAsOf
        // gives the newest commit ≤ ts; one past it is the first > ts,
        // minus the boundary case where a commit landed exactly at ts.
        case Some(ts) =>
          val t0 = ts.toLong
          val atOrBefore = scala.util.Try(table.versionAsOf(t0)).toOption
          atOrBefore match {
            case None => 0L // instant precedes the table: stream everything
            case Some(v) if table.commitTimestamp(v) == t0 => v.toLong
            case Some(v) => v + 1L
          }
        case None => 0L
      }
    }
    new SnapshotStreamSource(
      sqlContext.sparkSession, table,
      effectiveSchema(table, changeFeed, schema),
      starting,
      parameters.get("maxVersionsPerTrigger").map(_.trim.toLong).getOrElse(0L),
      changeFeed,
      maxFilesPerTrigger =
        parameters.get("maxFilesPerTrigger").map(_.trim.toLong).getOrElse(0L),
      // byte-string forms accepted ("512m", "1g") — Delta's spelling
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger")
        .map(s => org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(s.trim)).getOrElse(0L))
  }

  /** Batch read through the format string —
    * `spark.read.format("graft-snapshot").option("path", …).load()` —
    * with Delta-style time travel (`versionAsOf` / `timestampAsOf`).
    * The relation delegates into the manifest-planned (and, for MoR/DV
    * state, resolved) scan, re-translating Spark's pushed filters and
    * column pruning into the inner Catalyst plan so parquet still sees
    * them; [[graft.sources.SnapshotTable.read]] remains the zero-copy
    * native path. */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    require(!(parameters.contains("versionAsOf") &&
        parameters.contains("timestampAsOf")),
      "specify versionAsOf or timestampAsOf, not both")
    val table = tableOf(sqlContext, parameters)
    // batch CDF read (Delta's readChangeFeed option spelling): the
    // commit-captured change rows of a version range, same machinery as
    // the table_changes TVF — O(changed rows), never a version diff
    if (boolOpt(parameters, "readChangeFeed")) {
      val ctx = sqlContext
      val df = graft.plans.GraftTableChanges.fromOptions(
        ctx.sparkSession, table, parameters)
      return new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = ctx
        override val schema: StructType = df.schema
        override def buildScan()
            : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = df.rdd
      }
    }
    val version = parameters.get("versionAsOf").map(_.trim.toInt)
      .orElse(parameters.get("timestampAsOf")
        .map(ts => table.versionAsOf(ts.trim.toLong)))
      .getOrElse(table.currentVersion)
    new SnapshotRelation(sqlContext, table, version)
  }

  /** Batch write through the format string —
    * `df.write.format("graft-snapshot").mode(…).option("path", …).save()`.
    * SaveMode maps onto commit semantics: Append → APPEND commit (table
    * created on first write), Overwrite → full-table OVERWRITE commit
    * (history preserved, prior versions stay time-travelable),
    * ErrorIfExists → create-or-fail, Ignore → create-if-absent.
    * `partitionBy` option accepts identity columns or hidden-partitioning
    * transform specs. */
  override def createRelation(
      sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val table = tableOf(sqlContext, parameters)
    val partitionBy = parameters.get("partitionBy")
    val df = data.toDF()
    if (!table.exists) table.create(df, partitionBy)
    else mode match {
      case SaveMode.Append => table.append(df, partitionBy)
      case SaveMode.Overwrite => table.overwrite(df, partitionBy)
      case SaveMode.ErrorIfExists => throw new IllegalArgumentException(
        s"table already exists at ${parameters("path")} (SaveMode.ErrorIfExists)")
      case SaveMode.Ignore => ()
    }
    new SnapshotRelation(sqlContext, table, table.currentVersion)
  }

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-snapshot sink supports Append output mode only (got $outputMode); " +
        "maintain aggregates from the change feed instead")
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot sink requires option 'path' (the table root)"))
    val partitionBy = parameters.get("partitionBy")
      .orElse(partitionColumns.headOption)
    require(partitionColumns.size <= 1,
      "graft-snapshot sink supports at most one partition column")
    val appId = parameters.getOrElse("txnAppId", s"graft-snapshot-sink:$path")
    new SnapshotSink(sqlContext.sparkSession, path, partitionBy, appId)
  }
}

/** v1 batch relation over one snapshot-table version. Filters Spark
  * pushes down are re-translated onto the inner manifest-planned
  * DataFrame, so they reach the parquet scan (and file-level stat
  * pruning) through its own Catalyst run; untranslatable filters are
  * simply left for Spark's residual evaluation — PrunedFilteredScan's
  * superset contract. */
class SnapshotRelation(
    override val sqlContext: SQLContext,
    table: SnapshotTable, version: Int)
  extends org.apache.spark.sql.sources.BaseRelation
  with org.apache.spark.sql.sources.PrunedFilteredScan {

  import org.apache.spark.sql.sources._

  private def df: DataFrame = table.read(version)

  override val schema: StructType = df.schema

  /** Manifest-derived bytes at this version so Catalyst's join strategy
    * sees real magnitudes (dimension-sized tables broadcast) instead of
    * `defaultSizeInBytes`. Metadata only, never a job. */
  override lazy val sizeInBytes: Long =
    math.max(1L, table.manifestSizeBytesAt(version))

  override def buildScan(
      requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.flatMap(toColumn)
      .foldLeft(df)((d, c) => d.filter(c))
    val projected =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.map(col(_)).toSeq: _*)
    projected.rdd
  }

  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] =
    graft.sources.SnapshotFilters.toColumn(f)

  override def toString: String = s"SnapshotRelation[${table}@v$version]"
}

/** v1 streaming sink: one idempotent snapshot-table APPEND commit per
  * micro-batch, keyed (txnAppId, batchId). See [[SnapshotStreamProvider]]. */
class SnapshotSink(
    spark: SparkSession, path: String,
    partitionBy: Option[String], appId: String) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = GraftStreamShim.asBatchWritable(data)
    val table = new SnapshotTable(spark, path)
    if (!table.exists) {
      try {
        table.create(batch, partitionBy, txn = Some((appId, batchId)))
        return
      } catch {
        // lost the create race (another query/attempt wrote version 0):
        // fall through to the idempotent append against the winner
        case _: org.apache.hadoop.fs.FileAlreadyExistsException
            | _: java.nio.file.FileAlreadyExistsException => ()
      }
    }
    table.append(batch, partitionBy, txn = Some((appId, batchId))): Unit
  }

  override def toString: String = s"SnapshotSink[$path]"
}

object SnapshotStreamProvider {
  /** Resolve `startingVersion=latest` ONCE per checkpoint. v1 sources
    * are re-created on every restart, and a query that checkpoints
    * before producing its first batch (latest = nothing available yet)
    * would otherwise re-base to the NEW latest after recovery and
    * silently drop every commit made in between. Delta pins the
    * resolved version in its source metadata; same discipline here —
    * the pin persists under the engine-provided per-source
    * `metadataPath` inside the checkpoint, published put-if-absent so a
    * racing writer resolves to one winner. */
  private[streaming] def pinLatest(
      sqlContext: SQLContext, metadataPath: String,
      table: SnapshotTable): Long = {
    val dir = new org.apache.hadoop.fs.Path(metadataPath)
    val fs = dir.getFileSystem(
      sqlContext.sparkSession.sessionState.newHadoopConf())
    val pin = new org.apache.hadoop.fs.Path(dir, "graft-starting-version")
    if (!fs.exists(pin))
      LogStore.putIfAbsent(fs, pin, (table.currentVersion + 1L).toString)
    // the pin that won (this one, an earlier run's or a racing writer's)
    LogStore.read(fs, pin).trim.toLong
  }
}
