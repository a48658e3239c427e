package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Versioned parquet table with a manifest log — the engine's
  * parquet-snapshot algebra standing in for lakehouse DML (no
  * Delta/Iceberg/Hudi jars on the classpath; reference operations:
  * MERGE INTO `IncrementalTPCDSBenchmark.scala:259-283`, OPTIMIZE/
  * compaction `:186-204`, DESCRIBE HISTORY/DETAIL `:206-217`,
  * `TPCDSDataLoad.scala:135-143`).
  *
  * Layout:
  * {{{
  *   root/_graft_log/<version>.json    one JSON manifest per commit:
  *                                     'files'/'deltas' entries (path,
  *                                     part value, bytes, rows, origin)
  *                                     + operation and merge keys
  *   root/data/c<version>_<nonce>/...  data files written by that commit
  *                                     attempt (unique dir per attempt —
  *                                     losers never clobber winners)
  * }}}
  *
  * Why a manifest instead of directory listing: reads resolve the exact
  * file set from the log (like Delta), so planning cost is O(log), not
  * O(listing 200k objects) — the reference's file-count benchmark is
  * exactly this metadata-scaling test (FileCountBenchmark.scala).
  *
  * The log is plain JSON read/written through the filesystem API (the
  * same shape as Delta's `_delta_log/<v>.json`): metadata operations
  * never launch Spark jobs. Committed manifests are immutable, so they
  * are cached process-wide after first parse — version resolution,
  * partition pruning, manifest COUNTs and time travel are pure in-memory
  * lookups on the hot path.
  *
  * Per-file row counts live in the manifest (read once from the parquet
  * footers of newly-written files at commit time — O(new files) metadata
  * reads, never a data scan). A commit's total row count is the sum of
  * its file entries' counts, so MERGE/COMPACT never re-read the table:
  * at 100 TB a DML commit costs only its own rewrite + footer stats,
  * exactly like Delta's per-file stats in the transaction log.
  *
  * Copy-on-write MERGE with partition pruning: when the table is
  * partitioned and the merge keys include the partition column (the
  * reference guarantees this — merge keys = PKs ∪ partition keys,
  * IncrementalTPCDSBenchmark.scala:274), only partitions present in the
  * source are rewritten; untouched files carry over by reference (their
  * manifest entries, including row counts, are copied forward). That
  * invariant makes pruning sound: a matched row's partition value cannot
  * change, so stale rows can never hide in an unscanned partition.
  *
  * Merge-on-read (MoR) upserts ([[mergeDeferred]]) are the deferred
  * alternative the reference benchmarks against CoW
  * (IncrementalTPCDSBenchmark MoR table options; README.md:30,36):
  * the source is appended as 'delta' files — merge cost is O(source),
  * independent of table size — and [[read]] resolves base-minus-matched
  * plus latest-delta-per-key at scan time (read amplification ∝ total
  * delta rows, the CoW/MoR trade the reference measures). [[compact]]
  * folds deltas back into base files.
  *
  * Shallow clone ([[shallowCloneTo]], Delta `SHALLOW CLONE` analog) is a
  * metadata-only commit: the clone's manifest references the source's
  * data files; subsequent DML on the clone writes only under the clone's
  * root. [[vacuum]] deletes unreferenced files under this table's own
  * root only, so a vacuumed source never reaches into its clones —
  * but (exactly like Delta) vacuuming a SOURCE can strand clones that
  * still reference its files.
  */
class SnapshotTable(spark: SparkSession, root: String) {

  /** The table root path string — the address every by-path access mode
    * (format("graft-snapshot"), streaming source/sink, clone targets)
    * keys on. */
  def location: String = root

  import SnapshotTable._

  private val rootPath = new Path(root)
  private def fs: FileSystem = rootPath.getFileSystem(
    spark.sessionState.newHadoopConf())
  private def logDir = new Path(root, "_graft_log")
  private def dataRoot = new Path(root, "data")

  def exists: Boolean = fs.exists(logDir)

  // ------------------------------------------------- table properties
  // Tiny side-car JSON in the log dir (no manifest-format change, absent
  // file = defaults) for durable write-path knobs. Today: the columns
  // that get parquet-native bloom filters on every data write.
  private def propsPath = new Path(logDir, "_properties.json")

  @volatile private var bloomColsCache: Option[Seq[String]] = None

  private def bloomCols: Seq[String] = {
    val cached = bloomColsCache
    if (cached.isDefined) cached.get
    else {
      val loaded =
        if (!fs.exists(propsPath)) Seq.empty[String]
        else {
          val node = new ObjectMapper().readTree(readFileString(fs, propsPath))
          val arr = node.get("bloomFilterCols")
          if (arr == null) Seq.empty[String]
          else (0 until arr.size).map(arr.get(_).asText())
        }
      bloomColsCache = Some(loaded)
      loaded
    }
  }

  /** Declare columns that every subsequent data write (CREATE / MERGE /
    * COMPACT) protects with a parquet-native bloom filter
    * (`parquet.bloom.filter.enabled#col`). Equality/IN probes on these
    * columns then skip row groups whose bloom rejects the value — the
    * high-cardinality-key complement to min/max skipping (which is
    * useless once every file spans the full key range). Persisted as a
    * table property, so reopened handles keep writing blooms. */
  def withBloomFilters(cols: String*): SnapshotTable = commitLock.synchronized {
    val json = sidecarNode()
    val arr = json.putArray("bloomFilterCols")
    cols.foreach(arr.add)
    writeSidecar(json)
    bloomColsCache = Some(cols)
    this
  }

  @volatile private var synthPartCache: Option[Option[org.apache.spark.sql.types.StructField]] = None

  /** The synthesized partition column of a CONVERTed Hive-layout table
    * (sidecar "name:catalogType") — the pre-existing data files do NOT
    * carry the column, so reads surface it from the manifest's per-file
    * partition value ([[ManifestFileIndex]] partition schema). None on
    * every natively-written table. */
  private[graft] def synthPartition: Option[org.apache.spark.sql.types.StructField] = {
    val cached = synthPartCache
    if (cached.isDefined) cached.get
    else {
      val loaded = property(SnapshotTable.SynthPartProp).map { s =>
        val i = s.indexOf(':')
        org.apache.spark.sql.types.StructField(s.substring(0, i),
          org.apache.spark.sql.types.DataType.fromDDL(s.substring(i + 1)),
          nullable = true)
      }
      synthPartCache = Some(loaded)
      loaded
    }
  }

  private def sidecarNode(): com.fasterxml.jackson.databind.node.ObjectNode =
    if (fs.exists(propsPath))
      new ObjectMapper().readTree(readFileString(fs, propsPath))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    else new ObjectMapper().createObjectNode()

  private def writeSidecar(json: com.fasterxml.jackson.databind.JsonNode): Unit = {
    fs.mkdirs(logDir)
    val out = fs.create(propsPath, /* overwrite = */ true)
    try out.write(json.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Merge one durable string property into the side-car (the same
    * file [[withBloomFilters]] uses; existing keys are preserved).
    * Metadata-only — no commit, no data write. */
  def withProperty(key: String, value: String): SnapshotTable =
    commitLock.synchronized {
      val json = sidecarNode()
      json.put(key, value)
      writeSidecar(json)
      this
    }

  /** Remove one durable string property from the side-car (no-op when
    * absent). Metadata-only — no commit, no data write. */
  def removeProperty(key: String): SnapshotTable =
    commitLock.synchronized {
      val json = sidecarNode()
      json.remove(key)
      writeSidecar(json)
      this
    }

  /** Every durable string property in the sidecar (SHOW TBLPROPERTIES
    * surface). */
  def propertiesMap: Map[String, String] = {
    if (!fs.exists(propsPath)) return Map.empty
    val n = new ObjectMapper().readTree(readFileString(fs, propsPath))
    val it = n.fieldNames()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val k = it.next()
      if (n.get(k).isTextual) b += k -> n.get(k).asText()
    }
    b.result()
  }

  /** A durable string property, if set. */
  def property(key: String): Option[String] = {
    if (!fs.exists(propsPath)) return None
    val n = new ObjectMapper().readTree(readFileString(fs, propsPath)).get(key)
    if (n == null || !n.isTextual) None else Some(n.asText())
  }

  private def versions: Seq[Int] =
    fs.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("\\d+\\.json")) // skip side-cars (_properties.json)
      .map(_.stripSuffix(".json").toInt)

  def currentVersion: Int = {
    val vs = versions
    require(vs.nonEmpty, s"empty snapshot log at $root")
    vs.max
  }

  private def manifestPath(version: Int): Path =
    new Path(logDir, f"$version%05d.json")

  /** Whether version `v`'s commit record still exists in the log — the
    * db publish path's validation against a concurrent vacuum having
    * rolled back an unpublished version as a crash orphan. Probes
    * STORAGE, not the manifest cache: a rolled-back version is evicted
    * from the cache but a stale hit would defeat the check. */
  def versionExists(v: Int): Boolean = fs.exists(manifestPath(v))

  /** Parse (or fetch from the process-wide cache) one committed
    * manifest. Manifests are write-once, so caching is sound. The
    * cache-miss read takes [[SnapshotTable.commitLock]]: the local
    * filesystem exposes a created-but-not-yet-written manifest to
    * listers, so an unlocked read racing a committer could parse a
    * half-written file (all committers in this engine live in the one
    * driver JVM — the same single-commit-point assumption Delta's
    * LogStore makes per cluster).
    *
    * Lock ORDER matters: always commitLock first, cache second. A
    * `computeIfAbsent` whose mapping function takes commitLock would
    * hold the map's bin lock while waiting — deadlocking against
    * [[writeManifest]], which holds commitLock while reading/putting
    * the cache (bin lock) for the predecessor manifest. */
  private def manifestOf(version: Int): Manifest = {
    val key = manifestPath(version).toString
    val cached = manifestCache.get(key)
    if (cached != null) cached
    else commitLock.synchronized {
      val again = manifestCache.get(key) // re-check: a committer may have cached it
      if (again != null) again
      else {
        // DELTA records reconstruct against the predecessor — recursion
        // bottoms out at the nearest FULL checkpoint (≤ CheckpointInterval
        // steps; commitLock is reentrant) and every step lands in the cache
        val m = parseRecord(readFileString(fs, new Path(key))) match {
          case FullRecord(full) => full
          case d: DeltaRecord => applyDelta(manifestOf(version - 1), d)
        }
        if (m.renames.nonEmpty || m.dropped.nonEmpty ||
            m.fieldMeta.nonEmpty || m.widened.nonEmpty)
          SnapshotTable.mappedRoots.add(root)
        manifestCache.put(key, m)
        m
      }
    }
  }

  private def fileEntries(version: Int): Seq[FileEntry] =
    manifestOf(version).files

  private def deltaEntries(version: Int): Seq[FileEntry] =
    manifestOf(version).deltas

  /** Merge keys of `version` in LOGICAL names (manifests store physical
    * names; [[writeManifest]] re-translates on store — the round trip is
    * exact because rename guards keep the name spaces disjoint). */
  private def mergeKeysOf(version: Int): Seq[String] =
    manifestOf(version).mergeKeys.map(logColName(_, version))

  private def dvEntries(version: Int): Seq[FileEntry] =
    manifestOf(version).dvs

  /** Read the table at `version` (default: latest) straight from the
    * manifest's file list — no directory listing. If the version carries
    * MoR delta files, the scan resolves them transparently (base rows
    * without a delta key match + the latest delta row per key); pending
    * deletion vectors anti-join out their (file, position) marks first. */
  def read(version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion else version
    val deltas = deltaEntries(v)
    if (deltas.isEmpty) baseScan(fileEntries(v), dvEntries(v), v)
    else resolveMerged(fileEntries(v), deltas, mergeKeysOf(v), dvEntries(v),
      mapV = v)
  }

  /** Scan `entries` with each row's physical address attached — the
    * parquet scan's `_metadata.file_path` / `_metadata.row_index`
    * columns, resolved through the manifest-planned relation. Address
    * strings render identically at capture and at read (both come from
    * the same scan machinery), so DV anti-joins match exactly. */
  private def readEntriesAddressed(
      entries: Seq[FileEntry], mapV: Int = -1,
      keepRid: Boolean = false): DataFrame =
    // metadata columns are selected on the RAW scan (before the
    // column-mapping projection — a Project on top would hide them)
    toLogicalDf(readEntriesRaw(entries, mapV, keepRid).select(col("*"),
      col("_metadata.file_path").as(DvFileCol),
      col("_metadata.row_index").as(DvPosCol)), mapV)

  /** Addressed scan minus deletion-vector marks: one hash anti-join on
    * (file, pos). The DV side is O(deleted rows) — dimension-sized next
    * to the base scan; AQE broadcasts it when small, and at a large
    * deleted fraction the join degrades gracefully to a shuffled anti
    * join keyed by file path, never a full-table rewrite. */
  private def addressedMinusDvs(
      entries: Seq[FileEntry], dvs: Seq[FileEntry], mapV: Int = -1,
      keepRid: Boolean = false): DataFrame =
    readEntriesAddressed(entries, mapV, keepRid)
      .join(readEntriesRaw(dvs), Seq(DvFileCol, DvPosCol), "left_anti")

  /** Base-layer scan with deletion vectors applied (no-op scan when none
    * are pending — the address projection is only paid on DV tables). */
  private def baseScan(entries: Seq[FileEntry], dvs: Seq[FileEntry],
      mapV: Int = -1): DataFrame =
    if (dvs.isEmpty) readEntries(entries, mapV)
    else addressedMinusDvs(entries, dvs, mapV).drop(DvFileCol, DvPosCol)

  /** Manifest-planned scan: file list, sizes and splits come straight
    * from the log via [[ManifestFileIndex]] — zero filesystem listing.
    * The data schema is the UNION over the distinct writing commits in
    * the entry list (one cached footer read per origin — O(commits),
    * never O(files)): a schema-evolving MERGE widens only the files it
    * rewrites, and carried-over older files null-fill the added columns
    * at scan time (Delta-style metadata-only evolution, no full
    * rewrite). Field order is oldest-origin-first, so added columns
    * append in evolution order. */
  /** [[readEntriesRaw]] with the column-mapping projection applied —
    * frames leaving the file layer are LOGICAL (identity on unmapped
    * tables). `mapV` pins which version's mapping to apply (current
    * when negative — time-travel reads pass their version so renames
    * below it stay invisible). */
  private def readEntries(entries: Seq[FileEntry], mapV: Int = -1): DataFrame =
    toLogicalDf(readEntriesRaw(entries, mapV), mapV)

  private def readEntriesRaw(
      entries: Seq[FileEntry], mapV: Int = -1,
      keepRid: Boolean = false): DataFrame = {
    require(entries.nonEmpty, s"no data files to read at $root")
    val schema = entries.groupBy(_.origin).toSeq.sortBy(_._1)
      .map { case (o, es) =>
        SnapshotTable.probeDataSchema(spark, es.map(_.path), Some(o))
      }
      .reduceLeft { (a, b) =>
        val known = a.fieldNames.toSet
        org.apache.spark.sql.types.StructType(
          a.fields ++ b.fields.filterNot(f => known.contains(f.name)))
      }
    // Versioned field-metadata overlay (`ALTER COLUMN … SET/DROP
    // DEFAULT`, comments): the manifest's fieldMeta wins over whatever
    // metadata the data-file footers carry — footer copies go stale the
    // moment a rewrite strips or duplicates them, the commit log never
    // does. Keyed by PHYSICAL name (this is physical space).
    val withMeta =
      if (!isMapped) schema
      else {
        val mv = manifestOf(if (mapV < 0) currentVersion else mapV)
        val fm = mv.fieldMeta
        val metaApplied =
          if (fm.isEmpty) schema
          else org.apache.spark.sql.types.StructType(schema.fields.map(f =>
            fm.get(f.name).map { j =>
              val md = org.apache.spark.sql.types.Metadata.fromJson(j)
              // NOT NULL rides the overlay as a marker (parquet reads
              // force nullable=true, so the flag cannot survive the file
              // round-trip): a marked column surfaces non-nullable, and
              // Spark's output resolver then enforces it on every SQL
              // write (runtime AssertNotNull under ANSI assignment).
              // EXCEPT identity columns: their NULL slots are filled by
              // the writer ([[fillIdentity]]) — surfacing non-nullable
              // would make the resolver's AssertNotNull fire BEFORE the
              // fill, refusing the canonical `GENERATED ALWAYS AS
              // IDENTITY NOT NULL` surrogate-key insert. They surface
              // nullable; the constraint itself still holds — the fill
              // leaves no NULLs and [[writeData]]'s writer-side check
              // (which runs post-fill) enforces the marker on every
              // committed row.
              val fieldWithMd = f.copy(metadata = md)
              val isIdentity = org.apache.spark.sql.catalyst.util
                .IdentityColumn.isIdentityColumn(fieldWithMd)
              fieldWithMd.copy(
                nullable = f.nullable && !(!isIdentity &&
                  md.contains(SnapshotTable.NotNullKey) &&
                  md.getBoolean(SnapshotTable.NotNullKey)))
            }.getOrElse(f)))
        // type-widening overlay (ALTER COLUMN … TYPE): the scan declares
        // the widened type over files written narrower — Spark's parquet
        // reader up-converts per file (int32→int64, float→double,
        // decimal precision growth: SPARK-40876), zero data rewritten
        if (mv.widened.isEmpty) metaApplied
        else org.apache.spark.sql.types.StructType(metaApplied.fields.map(
          f => mv.widened.get(f.name).map(t => f.copy(dataType =
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(t))).getOrElse(f)))
      }
    // CONVERTed Hive-layout tables: the synthesized partition column is
    // served from the manifest's per-file partition value through the
    // scan's partition schema (the files don't carry it). Applies only
    // to entry lists laid out under that column — engine side-cars
    // (DV marks, CDC files, schema carriers) keep flat scans.
    val synth = synthPartition.filter(f => entries.exists(_.partCol == f.name))
    val (partSchema, dataSchema) = synth match {
      case Some(f) => (
        org.apache.spark.sql.types.StructType(Seq(f)),
        org.apache.spark.sql.types.StructType(
          withMeta.fields.filterNot(_.name == f.name)))
      case None => (new org.apache.spark.sql.types.StructType(), withMeta)
    }
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new ManifestFileIndex(spark, rootPath, entries, partSchema),
      partitionSchema = partSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark)
    val df = spark.baseRelationToDataFrame(relation).drop(PartCol)
    // the materialized row-id column is engine state, never part of the
    // logical schema — only the row-id-aware scans keep it
    if (keepRid) df else df.drop(SnapshotTable.RidCol)
  }

  /** MoR read resolution: per merge key keep the newest delta row
    * (origin-commit descending), drop matched base rows, union. One
    * shuffle on the merge keys serves both the window and the anti join. */
  private def resolveMerged(
      base: Seq[FileEntry], deltas: Seq[FileEntry], keys: Seq[String],
      dvs: Seq[FileEntry] = Seq.empty,
      keyProbe: Option[DataFrame] = None, mapV: Int = -1): DataFrame = {
    require(keys.nonEmpty, s"MoR table at $root has deltas but no merge keys")
    // key-restricted resolution (CDC pre-image capture): both layers are
    // semi-joined down to the probe's keys BEFORE the resolution window,
    // so the shuffle carries O(probe-matched rows), not the touched
    // partitions — per-key last-writer-wins is independent across keys,
    // so restrict-then-resolve equals resolve-then-filter. The probe is
    // merge-batch-sized: broadcast it.
    def restrict(df: DataFrame): DataFrame =
      keyProbe.map(kp => df.join(broadcast(kp), keys, "left_semi"))
        .getOrElse(df)
    val byGen = deltas.groupBy(_.origin).toSeq.sortBy(_._1)
    // tombstone gens carry only (keys, __graft_del) — name-union with
    // null-fill gives one frame where upsert rows have DelCol null
    val deltaDf = restrict(byGen.map { case (gen, es) =>
      readEntries(es, mapV).withColumn(GenCol, lit(gen))
    }.reduce(_.unionByName(_, allowMissingColumns = true)))
    val newest = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(GenCol).desc)
    val latest = deltaDf
      .withColumn(RnCol, row_number().over(newest))
      .filter(col(RnCol) === 1).drop(RnCol, GenCol)
    // last-writer-wins ACROSS kinds: a key whose newest delta row is a
    // tombstone is gone (base copy anti-joined out, no survivor row); a
    // key upserted again after a delete resurfaces with the upsert row
    val survivors =
      if (latest.columns.contains(DelCol))
        latest.filter(!(col(DelCol) <=> true)).drop(DelCol)
      else latest
    val baseDf =
      if (base.nonEmpty) restrict(baseScan(base, dvs, mapV))
      // all-delta slice (a folded partition set with no base files yet):
      // the resolution is the survivors alone
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], survivors.schema)
    // allowMissingColumns: when every pending delta is a tombstone,
    // survivors is empty with a key-only schema — the union must still
    // resolve (and contributes nothing)
    baseDf.join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(survivors, allowMissingColumns = true)
  }

  /** Manifest-planned file list (path, part_value, bytes, rows) at the
    * latest version — the metadata probes read this, not the filesystem. */
  def files: Seq[FileEntry] = fileEntries(currentVersion)

  /** The table's partition layout as a `partitionBy` spec string, when
    * one is discoverable: the durable sidecar property when present
    * (SQL-created tables record it; survives empty tables), else
    * reconstructed from the current files' manifest layout fields —
    * identity layouts from `partCol`, hidden transforms from
    * `xformCol`/`xformTag`. Rewrite commits (OPTIMIZE / ZORDER) use this
    * to PRESERVE the layout instead of flattening to unpartitioned. */
  def layoutSpec: Option[String] = layoutSpecAt(currentVersion)

  private def layoutSpecAt(version: Int): Option[String] =
    property(SnapshotTable.PartSpecProp).orElse {
      val specs = fileEntries(version).flatMap { e =>
        if (e.partCol != null) Some(PartitionTransform.Spec(e.partCol, null))
        else if (e.xformCol != null)
          Some(PartitionTransform.Spec(e.xformCol, e.xformTag))
        else None
      }.distinct
      // a single unambiguous layout across all files; evolved/mixed
      // layouts have no one spec to preserve (the rewrite normalizes to
      // the majority would be a guess — callers fall back explicitly)
      if (specs.size == 1) Some(PartitionTransform.unparse(specs.head))
      else None
    }

  /** Deletion-vector file list at the latest version (empty unless
    * positional deletes are pending) — `rows` sums to the count of
    * deleted (file, position) marks, the DV observability number. */
  def dvFiles: Seq[FileEntry] = dvEntries(currentVersion)

  /** Pending MoR delta files at the latest version (empty once
    * compacted) — the probe maintenance verbs use to pick Hudi-style
    * delta-folding compaction over small-file bin-packing. */
  def deltaFiles: Seq[FileEntry] = deltaEntries(currentVersion)

  /** Wall-clock commit instant of `version` (monotonically increasing
    * across versions — see [[writeManifest]]). 0 for manifests written
    * before timestamps existed. */
  def commitTimestamp(version: Int): Long = manifestOf(version).ts

  /** TIMESTAMP AS OF resolution: the latest version committed at or
    * before `ts` — pure manifest metadata, no data files touched. */
  def versionAsOf(ts: Long): Int =
    versionAtOrBefore(ts).getOrElse(throw new IllegalArgumentException(
      s"no commit at or before ts=$ts in $root " +
        s"(earliest is ${commitTimestamp(versions.min)})"))

  /** [[versionAsOf]] as an Option: `None` means the instant precedes the
    * FIRST commit — the one case callers legitimately treat as "retain
    * everything" (time-based VACUUM) rather than an error. Distinct from
    * the throwing form so those callers never blanket-catch an
    * IllegalArgumentException that could also signal a real bug. */
  def versionAtOrBefore(ts: Long): Option[Int] = {
    val vs = versions.sorted.filter(commitTimestamp(_) <= ts)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Time travel by timestamp (Delta `TIMESTAMP AS OF` analog). */
  def readAsOf(ts: Long): DataFrame = read(versionAsOf(ts))

  /** RESTORE TABLE … VERSION AS OF analog (Delta RESTORE): a new commit
    * whose file list IS the target version's — metadata-only, zero data
    * moved, and (unlike time travel) the restore is itself a versioned,
    * revertible operation in the history. */
  def restoreTo(version: Int): SnapshotTable = {
    val cur = currentVersion
    require(version >= 0 && version < cur, s"cannot restore to $version from $cur")
    val m = manifestOf(version)
    writeManifest(Manifest(cur + 1, "RESTORE", m.mergeKeys, m.files, m.deltas,
      dvs = m.dvs, renames = m.renames, dropped = m.dropped,
      fieldMeta = m.fieldMeta, widened = m.widened))
    this
  }

  /** Change-data-feed read (Delta `table_changes` analog): the rows a
    * commit inserted/updated/deleted, with a `_change_type` column.
    * Changes are captured AT COMMIT TIME by [[merge]]/[[mergeDelete]]
    * (`trackChanges = true`) — reading them back is O(changed rows),
    * never a version diff over the table. */
  def changes(version: Int): DataFrame = {
    val entries = manifestOf(version).changes
    require(entries.nonEmpty,
      s"version $version of $root carries no change files " +
        "(commit with trackChanges = true)")
    // CDF rows surface under the logical names of THEIR version (Delta
    // reads a range's changes in each commit's own schema)
    readEntries(entries, version)
  }

  /** Whether a commit captured change-data-feed rows — the
    * `table_changes(…)` range read skips CDC-less commits (OPTIMIZE,
    * plain appends) instead of erroring mid-range. O(manifest). */
  def hasChanges(version: Int): Boolean =
    manifestOf(version).changes.nonEmpty

  // ------------------------------------------- streaming-source hooks
  // (graft.streaming.SnapshotStreamSource tails the table by manifest
  // version diffs — never by directory listing.)

  /** The operation string of one committed version. */
  private[graft] def commitOperation(version: Int): String =
    manifestOf(version).operation

  /** Data/delta files a commit ADDED relative to its predecessor — the
    * per-version diff a manifest-tailed stream plans its micro-batch
    * from. O(manifest) set difference, zero filesystem operations. */
  private[graft] def commitAddedDataFiles(version: Int): Seq[FileEntry] = {
    val cur = manifestOf(version)
    if (version == 0) cur.files ++ cur.deltas
    else {
      val prevPaths = {
        val prev = manifestOf(version - 1)
        (prev.files ++ prev.deltas).map(_.path).toSet
      }
      (cur.files ++ cur.deltas).filterNot(e => prevPaths(e.path))
    }
  }

  /** True iff a commit REMOVED (or replaced) files relative to its
    * predecessor — the condition that makes plain-row streaming of the
    * table unsound (removed rows already streamed cannot be retracted). */
  private[graft] def commitRemovedFiles(version: Int): Boolean =
    version > 0 && {
      val prev = manifestOf(version - 1)
      val curPaths = {
        val cur = manifestOf(version)
        (cur.files ++ cur.deltas).map(_.path).toSet
      }
      (prev.files ++ prev.deltas).exists(e => !curPaths(e.path))
    }

  /** One commit's change-data-feed file entries (empty unless the commit
    * was tracked). */
  private[graft] def commitChangeFiles(version: Int): Seq[FileEntry] =
    manifestOf(version).changes

  /** True iff this commit establishes the table's FULL state — version
    * 0 (CREATE or a shallow CLONE), or an OR REPLACE shallow CLONE at
    * any later version — while that state carries pending MoR deltas or
    * deletion-vector marks: the cases where emitting
    * [[commitAddedDataFiles]] as plain rows is unsound, because stale
    * base copies would be emitted alongside the deltas that shadow
    * them, and DV-deleted rows would resurface. (At version > 0 an
    * append-only commit's added files are never delta files and never
    * DV-addressed — DVs mark positions in files that existed before
    * them — but a CLONE replaces the whole state and can carry both.) */
  private[graft] def commitEmitsUnresolvedState(version: Int): Boolean = {
    val m = manifestOf(version)
    (version == 0 || m.operation == "CLONE") &&
      (m.deltas.nonEmpty || m.dvs.nonEmpty)
  }

  /** Manifest-planned scan of an arbitrary entry list (streaming-source
    * micro-batch construction). */
  private[graft] def readEntriesDf(entries: Seq[FileEntry]): DataFrame =
    readEntries(entries)

  /** Deletion-vector-resolved scan of exactly `entries` at the current
    * version — the read side of [[replaceFiles]] (group-based row-level
    * SQL rewrites read only the replaced file groups). */
  private[graft] def readEntriesResolved(entries: Seq[FileEntry]): DataFrame =
    baseScan(entries, dvEntries(currentVersion))

  // ---------------------------------------------------- column mapping
  // (Delta columnMapping.mode=name analog.) Physical column names in
  // data files are IMMUTABLE; the manifest's versioned `renames`
  // (logical→physical) and `dropped` (physical tombstones) re-point the
  // logical schema. DataFrames crossing the public API are always
  // LOGICAL; manifest-stored names (merge keys, stats, partition
  // columns) are always PHYSICAL. Translation happens at exactly two
  // frame boundaries — [[readEntries]] (physical→logical) and
  // [[writeData]] (logical→physical) — plus the by-name stats lookups.

  private def isMapped: Boolean = SnapshotTable.mappedRoots.contains(root)

  private def mappingAt(version: Int): (Map[String, String], Seq[String]) =
    if (!isMapped) (Map.empty, Seq.empty)
    else {
      val m = manifestOf(if (version < 0) currentVersion else version)
      (m.renames, m.dropped)
    }

  /** Physical (on-file) name of logical column `name` at `version`
    * (current when negative) — identity on unmapped tables. */
  private[graft] def physColName(name: String, version: Int = -1): String =
    mappingAt(version)._1.getOrElse(name, name)

  /** Logical name of physical column `phys` at `version`. */
  private def logColName(phys: String, version: Int = -1): String =
    mappingAt(version)._1.collectFirst { case (lg, ph) if ph == phys => lg }
      .getOrElse(phys)

  /** Physical→logical projection at the read boundary: drop tombstoned
    * physical columns, rename renamed ones. Returns `df` unchanged
    * (zero plan nodes added) on unmapped tables. */
  private def toLogicalDf(df: DataFrame, version: Int): DataFrame = {
    val (renames, dropped) = mappingAt(version)
    if (renames.isEmpty && dropped.isEmpty) df
    else {
      val present = df.columns.toSet
      val inv = renames.collect { case (lg, ph) if present(ph) => ph -> lg }
      df.drop(dropped.filter(present): _*).withColumnsRenamed(inv)
    }
  }

  /** Logical→physical rename at the write boundary. The mapping guards
    * keep logical and physical name sets disjoint outside identity, so
    * this is idempotent on frames already in physical space (the
    * ADD COLUMNS schema carrier). */
  private def toPhysicalDf(df: DataFrame, version: Int): DataFrame = {
    val renames = mappingAt(version)._1
    if (renames.isEmpty) df
    else {
      val present = df.columns.toSet
      df.withColumnsRenamed(renames.filter { case (lg, _) => present(lg) })
    }
  }

  /** ALTER TABLE RENAME COLUMN as a metadata-only commit: the logical
    * name re-points to the column's (immutable) physical name — zero
    * data rewritten at any table size, version-correct under time
    * travel (reads below the commit see the old name). Refused for
    * partition/layout columns (every pruning path keys on them), merge
    * keys with PENDING MoR deltas, and names colliding with a live
    * logical or a retired physical name (keeps translation bijective —
    * no swap chains, no resurrection). */
  def renameColumn(oldName: String, newName: String): SnapshotTable = {
    validateRenameColumn(oldName, newName)
    val v = currentVersion
    val m = manifestOf(v)
    val phys = physColName(oldName, v)
    val newRenames =
      if (phys == newName) m.renames - oldName // rename-back to identity
      else (m.renames - oldName) + (newName -> phys)
    writeManifest(Manifest(v + 1, "RENAME_COLUMN", m.mergeKeys, m.files,
      m.deltas, Seq.empty, m.dvs, renames = newRenames, dropped = m.dropped,
      fieldMeta = m.fieldMeta, widened = m.widened))
    this
  }

  /** All of [[renameColumn]]'s guards without the commit — the catalog
    * pre-validates a whole ALTER change list so a multi-change statement
    * is all-or-nothing, never half-applied across commits. */
  private[graft] def validateRenameColumn(
      oldName: String, newName: String): Unit = {
    val v = currentVersion
    val m = manifestOf(v)
    val logical = read(v).schema.fieldNames
    require(logical.contains(oldName),
      s"RENAME COLUMN on $root: no column $oldName (have ${logical.mkString(",")})")
    require(!logical.contains(newName),
      s"RENAME COLUMN on $root: column $newName already exists")
    require(!newName.startsWith("__graft") && newName != PartCol,
      s"RENAME COLUMN on $root: $newName is an engine-reserved name")
    val phys = physColName(oldName, v)
    require(phys == newName ||
        (!m.dropped.contains(newName) && !m.renames.values.exists(_ == newName)),
      s"RENAME COLUMN on $root: $newName was the physical name of a dropped " +
        "or renamed column — pick a fresh name")
    requireNotLayoutColumn(oldName, phys, "RENAME COLUMN")
    requireNotReferenced(oldName, "RENAME COLUMN")
    require(m.deltas.isEmpty || !m.mergeKeys.contains(phys),
      s"RENAME COLUMN on $root: $oldName is a merge key of pending MoR " +
        "deltas — compact first")
  }

  /** ALTER TABLE DROP COLUMN as a metadata-only commit: the physical
    * column stays in the data files (time travel still reads it) but is
    * tombstoned out of the logical schema — Delta's column-mapping DROP,
    * zero rewrite. A later ADD COLUMNS of the same name gets a FRESH
    * physical name, so old values can never resurface. REORG/OPTIMIZE
    * rewrites physically shed dropped columns file by file. */
  def dropColumn(name: String): SnapshotTable = {
    validateDropColumn(name)
    val v = currentVersion
    val m = manifestOf(v)
    val phys = physColName(name, v)
    writeManifest(Manifest(v + 1, "DROP_COLUMN", m.mergeKeys, m.files,
      m.deltas, Seq.empty, m.dvs,
      renames = m.renames - name, dropped = m.dropped :+ phys,
      fieldMeta = m.fieldMeta - phys, widened = m.widened - phys))
    this
  }

  /** [[dropColumn]]'s guards without the commit (see
    * [[validateRenameColumn]]). */
  private[graft] def validateDropColumn(name: String): Unit = {
    val v = currentVersion
    val m = manifestOf(v)
    val logical = read(v).schema.fieldNames
    require(logical.contains(name),
      s"DROP COLUMN on $root: no column $name (have ${logical.mkString(",")})")
    require(logical.length > 1, s"DROP COLUMN on $root: cannot drop the only column")
    val phys = physColName(name, v)
    requireNotLayoutColumn(name, phys, "DROP COLUMN")
    requireNotReferenced(name, "DROP COLUMN")
    require(m.deltas.isEmpty || !m.mergeKeys.contains(phys),
      s"DROP COLUMN on $root: $name is a merge key of pending MoR deltas — " +
        "compact first")
    require(!bloomCols.contains(phys),
      s"DROP COLUMN on $root: $name carries a bloom-filter property — " +
        "clear it first")
  }

  /** Columns referenced BY NAME in stored expressions — CHECK-constraint
    * predicates, generated-column expressions, the CLUSTER BY spec —
    * must not be renamed or dropped out from under them: the stale
    * reference would poison every later write (constraint/generation
    * resolution fails) or OPTIMIZE (clustering on a missing column).
    * Delta refuses the same ALTERs. Detection is a conservative
    * word-boundary match over the stored SQL (a false positive refuses
    * loudly with the reason; it can never corrupt). */
  private def requireNotReferenced(logicalName: String, op: String): Unit = {
    val pat = "(?s).*\\b" +
      java.util.regex.Pattern.quote(logicalName) + "\\b.*"
    val props = propertiesMap
    val checkHit = props.collectFirst {
      case (k, sql) if k.startsWith("constraint.check.") && sql.matches(pat) =>
        k.stripPrefix("constraint.check.")
    }
    require(checkHit.isEmpty,
      s"$op on $root: $logicalName is referenced by CHECK constraint " +
        s"'${checkHit.getOrElse("")}' — DROP CONSTRAINT first")
    require(!props.get(SnapshotTable.ClusterSpecProp).exists(
        _.split(',').map(_.trim).contains(logicalName)),
      s"$op on $root: $logicalName is a clustering column — " +
        "ALTER TABLE … CLUSTER BY a new column set first")
    val genHit = read(currentVersion).schema.fields.find(f =>
      f.name != logicalName &&
        org.apache.spark.sql.catalyst.util.GeneratedColumn
          .getGenerationExpression(f).exists(_.matches(pat)))
    require(genHit.isEmpty,
      s"$op on $root: $logicalName is referenced by generated column " +
        s"'${genHit.map(_.name).getOrElse("")}' — drop that column first")
  }

  /** Partition/layout columns anchor every pruning path (manifest
    * partValue canon, hidden-transform mapping, DML partition scoping) —
    * renaming or dropping one without a layout rewrite would silently
    * disable pruning, so both are refused loudly. */
  private def requireNotLayoutColumn(
      logicalName: String, phys: String, op: String): Unit = {
    val inSpec = layoutSpec.exists(s => PartitionTransform.parse(s).col == phys)
    val inFiles = (files ++ deltaFiles)
      .exists(e => e.partCol == phys || e.xformCol == phys)
    require(!inSpec && !inFiles,
      s"$op on $root: $logicalName is a partition/layout column — " +
        "rewrite the layout first")
  }

  /** ALTER TABLE ADD COLUMNS as a metadata-plus-one-empty-footer commit:
    * one zero-row parquet file carrying the WIDENED schema joins the
    * file set, and the scan-time union-over-origins schema (the same
    * machinery MERGE schema evolution uses) surfaces the new columns
    * null-filled on every older file — no data rewritten, cost is one
    * ~KB footer at any table size. Version-correct: time travel below
    * this commit does not see the columns. Added columns are forced
    * nullable (old rows have no values).
    *
    * ADD COLUMNS … DEFAULT expr (ANSI EXISTS_DEFAULT): a field carrying
    * `EXISTS_DEFAULT` metadata serves the default — not NULL — for rows
    * in files that PHYSICALLY lack the column (Spark's parquet reader
    * fills existence defaults per file, SPARK-38334), while files
    * written after the add read their stored values, so an explicit
    * NULL inserted later stays NULL. The metadata rides the versioned
    * fieldMeta overlay (footer copies go stale under rewrites), making
    * the fill time-travel-correct and rewrite-proof — still zero data
    * rewritten at any table size. */
  def addColumns(fields: Seq[org.apache.spark.sql.types.StructField]): SnapshotTable = {
    val v = currentVersion
    val m = manifestOf(v)
    val existing = read(v).schema.fieldNames.toSet
    val dup = fields.map(_.name).filter(existing)
    require(dup.isEmpty, s"ADD COLUMNS on $root: already present: ${dup.mkString(",")}")
    val reservedName = fields.map(_.name)
      .find(n => n.startsWith("__graft") || n == PartCol)
    require(reservedName.isEmpty,
      s"ADD COLUMNS on $root: ${reservedName.getOrElse("")} is an " +
        "engine-reserved name")
    // Resurrection guard (column mapping): a name whose PHYSICAL form is
    // tombstoned (dropped) or retired (renamed away) gets a FRESH
    // physical name — otherwise the scan's union-over-origins schema
    // would surface the OLD files' values under the re-added column.
    val reserved = m.dropped.toSet ++ m.renames.values
    val freshPhys = fields.collect {
      case f if reserved.contains(f.name) =>
        // fresh physical name, checked against every name in use —
        // logical, physical, retired — so a coincidental `x_pN` column
        // can never collide with the generated one
        val taken = reserved ++ existing ++ existing.map(physColName(_, v))
        var cand = s"${f.name}_p${v + 1}"
        while (taken.contains(cand)) cand += "x"
        f.name -> cand
    }.toMap
    // the schema carrier is written in PHYSICAL space (existing columns
    // via the current mapping, fresh columns via their assigned names) —
    // toPhysicalDf inside writeData is a no-op on it by construction
    val widened = org.apache.spark.sql.types.StructType(
      read(v).schema.fields.map(f => f.copy(name = physColName(f.name, v))) ++
        fields.map(f => f.copy(
          name = freshPhys.getOrElse(f.name, f.name), nullable = true)))
    // repartition(1): exactly one write task runs, producing one empty
    // part file WITH a footer — the schema carrier
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], widened)
      .repartition(1)
    val written = writeData(empty, v + 1, None)
    require(written.nonEmpty, s"ADD COLUMNS on $root wrote no schema carrier")
    // added-field metadata (DEFAULT / EXISTS_DEFAULT, comments) lands in
    // the versioned overlay keyed by PHYSICAL name — the carrier footer's
    // copy is best-effort only (rewrites strip footer metadata)
    val addedMeta = fields.collect {
      case f if f.metadata != org.apache.spark.sql.types.Metadata.empty =>
        freshPhys.getOrElse(f.name, f.name) -> f.metadata.json
    }
    writeManifest(Manifest(v + 1, "ADD_COLUMNS", mergeKeysOf(v),
      fileEntries(v) ++ written, deltaEntries(v), Seq.empty, dvEntries(v),
      renames = m.renames ++ freshPhys, dropped = m.dropped,
      fieldMeta = m.fieldMeta ++ addedMeta, widened = m.widened))
    this
  }

  /** Metadata-only column redefinition (`ALTER COLUMN … SET/DROP
    * DEFAULT`, comments): a pure manifest commit recording the column's
    * new field METADATA in the versioned overlay — no files written,
    * no data touched; the scan applies the overlay over whatever the
    * data-file footers carry (footer copies go stale under rewrites,
    * the commit log never does). Version-correct under time travel. */
  def alterColumnMeta(name: String,
      transform: org.apache.spark.sql.types.StructField =>
        org.apache.spark.sql.types.StructField): SnapshotTable = {
    val v = currentVersion
    val m = manifestOf(v)
    val logical = read(v).schema
    require(logical.fieldNames.contains(name),
      s"ALTER COLUMN on $root: no column $name")
    val phys = physColName(name, v)
    val nf = transform(logical(name).copy(name = phys))
    writeManifest(Manifest(v + 1, "ALTER_COLUMN", m.mergeKeys, m.files,
      m.deltas, Seq.empty, m.dvs, renames = m.renames, dropped = m.dropped,
      fieldMeta = m.fieldMeta + (phys -> nf.metadata.json),
      widened = m.widened))
    SnapshotTable.mappedRoots.add(root)
    this
  }

  // ------------------------------------------------------ row tracking
  // (Delta row-tracking analog.) Every data file's manifest entry holds
  // a contiguous id base assigned at its writing commit (writeManifest),
  // so row i of a fresh file carries id ridBase + i — zero data cost.
  // Maintenance rewrites under [[SnapshotTable.RowTrackingProp]]
  // MATERIALIZE the id into the rewritten files as a hidden physical
  // column, keeping ids stable across OPTIMIZE / CLUSTER / ZORDER /
  // REORG. SQL DML preserves ids through CoW rewrites too: the
  // row-level operation serves the id as a required metadata attribute
  // (GraftRowLevelOperation.requiredMetadataAttributes), Spark threads
  // it through the UPDATE/MERGE/DELETE rewrite untouched for
  // carried/updated rows (NULL on merge-inserts), and the replacement
  // write re-materializes it — row LINEAGE, Delta's contract. The
  // engine-API stat-pruned deleteWhere/updateWhere use [[rewriteSource]]
  // for the same guarantee; only the engine-API key-join `merge` still
  // refreshes rewritten rows' ids (documented in SURVEY §2).

  private[graft] def rowTrackingEnabled: Boolean =
    property(SnapshotTable.RowTrackingProp).contains("true")

  /** Attach [[SnapshotTable.RidCol]] to an ADDRESSED frame: the
    * materialized column wins where a rewrite stored it; everywhere
    * else the id is the file's manifest base plus the row position.
    * The base lookup is a broadcast of O(files) (path, base) pairs —
    * manifest-sized, never row-sized. Keeps the address columns. */
  private def withRidColumn(
      addressed: DataFrame, entries: Seq[FileEntry]): DataFrame = {
    val pathCol = "__graft_ridp"
    val baseCol = "__graft_ridb"
    val baseDf = broadcast(
      spark.createDataFrame(entries.map(e => (e.path, e.ridBase)))
        .toDF(pathCol, baseCol))
    val joined = addressed.join(baseDf,
      addressed(DvFileCol) === baseDf(pathCol), "left")
    val fromBase = when(col(baseCol) >= 0, col(baseCol) + col(DvPosCol))
    val rid =
      if (addressed.columns.contains(SnapshotTable.RidCol))
        coalesce(col(SnapshotTable.RidCol), fromBase)
      else fromBase
    joined.withColumn(SnapshotTable.RidCol, rid).drop(pathCol, baseCol)
  }

  /** Maintenance-rewrite source over `entries`: the DV-resolved rows,
    * plus the materialized row-id column when row tracking is on — a
    * rewrite must not renumber rows it does not logically change. */
  private def rewriteSource(
      entries: Seq[FileEntry], dvs: Seq[FileEntry]): DataFrame =
    if (!rowTrackingEnabled) baseScan(entries, dvs)
    else {
      val addressed =
        if (dvs.isEmpty) readEntriesAddressed(entries, -1, keepRid = true)
        else addressedMinusDvs(entries, dvs, -1, keepRid = true)
      withRidColumn(addressed, entries).drop(DvFileCol, DvPosCol)
    }

  /** Addressed DML scan: every live row of the current version plus its
    * (file, position) address under [[SnapshotTable.DvFileCol]] /
    * [[SnapshotTable.DvPosCol]] (and its stable row id when `keepRid`)
    * — the source relation for DELTA-based row-level operations (the
    * positional MERGE) and the server of the address metadata columns
    * (`SELECT __graft_dv_file, … FROM t` — Delta `_metadata.file_path`
    * analog). DV-marked rows are already excluded. Requires compacted
    * state (pending MoR delta rows have no base-file address). */
  private[graft] def readAddressedDml(keepRid: Boolean,
      version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion else version
    require(deltaEntries(v).isEmpty,
      s"addressed scan on $root requires compacted state (pending MoR " +
        "deltas — OPTIMIZE folds them first)")
    val entries = fileEntries(v)
    if (entries.isEmpty) {
      var df = read(v)
        .withColumn(SnapshotTable.DvFileCol, lit(null).cast("string"))
        .withColumn(SnapshotTable.DvPosCol, lit(null).cast("long"))
      if (keepRid)
        df = df.withColumn(SnapshotTable.RidCol, lit(null).cast("long"))
      return df
    }
    val dvs = dvEntries(v)
    val addressed =
      if (dvs.isEmpty) readEntriesAddressed(entries, v, keepRid)
      else addressedMinusDvs(entries, dvs, v, keepRid)
    if (keepRid) withRidColumn(addressed, entries) else addressed
  }

  /** Commit one DELTA-based row-level write (Spark's `WriteDelta` plan —
    * the positional MERGE): `delta` is the rewrite query's output, one
    * row per CHANGED row only (`__row_operation` ∈ delete/update/insert
    * + the table columns + the (file, pos) row-id address, row id
    * metadata under row tracking). DELETE and UPDATE rows mark their
    * addresses as deletion-vector entries; UPDATE and INSERT rows'
    * images (through `imageAlign` — column alignment, generated-column
    * recomputation, identity fill) append as new files. ZERO base files
    * rewritten; total cost O(changed rows) past the join — the 100 TB
    * MERGE shape (Delta's DV-enabled MERGE does exactly this).
    *
    * The delta frame is persisted for the duration of the commit (it
    * feeds the marks write, the image write, and the CDF capture — each
    * a separate job; without the cache each would re-run the MERGE
    * join) and released when the manifest lands. Change capture: delete
    * pre-images and update pre-images come from one addressed-scan
    * semi-join per kind against the O(changed) address sets; post
    * images and inserts come from the delta frame itself. */
  def writeDeltaPositional(delta: DataFrame,
      imageAlign: DataFrame => DataFrame,
      partitionBy: Option[String],
      trackChanges: Boolean): Long = {
    import org.apache.spark.sql.catalyst.util.RowDeltaUtils
    val v = currentVersion
    require(deltaEntries(v).isEmpty,
      s"positional MERGE on $root requires compacted state (pending MoR " +
        "deltas — OPTIMIZE folds them first)")
    val opCol = col(RowDeltaUtils.OPERATION_COLUMN)
    val cached = registerCommitCache(delta)
    try {
    val marks = writeData(
      cached.filter(opCol.isin(RowDeltaUtils.DELETE_OPERATION,
          RowDeltaUtils.UPDATE_OPERATION))
        .select(col(SnapshotTable.DvFileCol), col(SnapshotTable.DvPosCol)),
      v + 1, None).filter(_.rows > 0)
    // align ONCE per subset and reuse the same frames for the data write
    // and the change feed — identity fill reserves values at alignment,
    // so a second alignment would hand the CDF different ids than the
    // ones stored
    val updImages = imageAlign(
      cached.filter(opCol === RowDeltaUtils.UPDATE_OPERATION))
    val insImages = imageAlign(cached.filter(opCol.isin(
      RowDeltaUtils.INSERT_OPERATION, RowDeltaUtils.REINSERT_OPERATION)))
    val newFiles = writeData(updImages.unionByName(insImages), v + 1,
      partitionBy).filter(_.rows > 0)
    if (marks.isEmpty && newFiles.isEmpty) {
      drainCommitCaches()
      return 0L
    }
    val cdc =
      if (!trackChanges) Seq.empty
      else {
        val addressed = readAddressedDml(keepRid = false)
        def pre(op: Int, tag: String): DataFrame =
          addressed.join(
              cached.filter(opCol === op)
                .select(col(SnapshotTable.DvFileCol),
                  col(SnapshotTable.DvPosCol)),
              Seq(SnapshotTable.DvFileCol, SnapshotTable.DvPosCol),
              "left_semi")
            .drop(SnapshotTable.DvFileCol, SnapshotTable.DvPosCol)
            .withColumn(ChangeCol, lit(tag))
        val post = updImages.drop(SnapshotTable.RidCol)
          .withColumn(ChangeCol, lit("update_postimage"))
        val ins = insImages.drop(SnapshotTable.RidCol)
          .withColumn(ChangeCol, lit("insert"))
        writeChanges(
          pre(RowDeltaUtils.DELETE_OPERATION, "delete")
            .unionByName(pre(RowDeltaUtils.UPDATE_OPERATION,
              "update_preimage"))
            .unionByName(post).unionByName(ins), v + 1)
      }
    // affected rows = the delta frame's row count (each changed row
    // appears exactly once there; marks + images would double-count
    // updates). Counted BEFORE the commit drains the cache.
    val affected = cached.count()
    writeManifest(Manifest(v + 1, "MERGE_DV", mergeKeysOf(v),
      fileEntries(v) ++ newFiles, Seq.empty, cdc, dvEntries(v) ++ marks))
    affected
    // a failed commit releases its own caches (writeManifest drains on
    // success; the early no-op return above drains explicitly)
    } catch { case e: Throwable => drainCommitCaches(); throw e }
  }

  /** [[readWithRowIds]] restricted to `entries` (the row-level
    * rewrite's planned replace set): DV-resolved rows plus their stable
    * ids — the partition-scoped CoW DML source under row tracking. */
  private[graft] def readEntriesRowIds(
      entries: Seq[FileEntry]): DataFrame = {
    val dvs = dvEntries(currentVersion)
    val addressed =
      if (dvs.isEmpty) readEntriesAddressed(entries, -1, keepRid = true)
      else addressedMinusDvs(entries, dvs, -1, keepRid = true)
    withRidColumn(addressed, entries).drop(DvFileCol, DvPosCol)
  }

  /** Scan with stable row ids: every row of the current (or pinned)
    * version plus its id under `__graft_rid`. Ids are unique per row,
    * stable across maintenance rewrites when
    * [[SnapshotTable.RowTrackingProp]] is set, and survive DV deletes
    * (survivor rows keep theirs). Requires compacted state (pending
    * MoR delta rows have no base-file address yet). */
  def readWithRowIds(version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion else version
    require(deltaEntries(v).isEmpty,
      s"readWithRowIds on $root requires compacted state (pending MoR " +
        "deltas — OPTIMIZE folds them first)")
    val entries = fileEntries(v)
    if (entries.isEmpty)
      return read(v).withColumn(SnapshotTable.RidCol, lit(null).cast("long"))
    val dvs = dvEntries(v)
    val addressed =
      if (dvs.isEmpty) readEntriesAddressed(entries, v, keepRid = true)
      else addressedMinusDvs(entries, dvs, v, keepRid = true)
    withRidColumn(addressed, entries).drop(DvFileCol, DvPosCol)
  }

  /** Reserve `n` consecutive identity values for column `col` and
    * return the FIRST of them (row i of the batch takes base + step·i).
    * Reservation is an atomic bump of the in-process high-water mark,
    * seeded once per session from the manifest's footer stats (the
    * stored max/min of the column — stats are widened OUTWARD at
    * capture, so the seed can only over-shoot: a gap, never a
    * duplicate); a stat-less column falls back to one max() scan.
    * Values are unique and batch-monotonic with gaps allowed — exactly
    * Delta's IDENTITY contract. Concurrent writers in ONE process
    * serialize on the atomic; cross-process concurrent identity inserts
    * need external coordination (same caveat as Delta without a
    * catalog-level lock). */
  private[graft] def reserveIdentity(
      col: String, start: Long, step: Long, n: Long): Long = {
    require(step != 0, s"identity column $col: step must be non-zero")
    val key = SnapshotTable.identityKey(root, col)
    val hwm = SnapshotTable.identityHwm.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicLong(
        seedIdentity(col, start, step)))
    // Cross-process visibility: advance to the latest COMMITTED mark
    // first — another process may have committed allocations this one
    // never saw. The insert's own commit targets currentVersion + 1 on
    // a write-once manifest, so a writer that raced past this check
    // forces this writer's commit to FAIL; the statement retry
    // re-reserves above the raced-in mark. A lost race is a retry,
    // never a duplicate (Delta's identity contract). SYNC IDENTITY's
    // forward realignment survives (max/min keeps the later mark).
    val v = currentVersion
    manifestOf(v).identHwm.get(physColName(col, v)).foreach { committed =>
      hwm.updateAndGet(cur =>
        if (step > 0) math.max(cur, committed)
        else math.min(cur, committed)): Unit
    }
    hwm.getAndAdd(step * n) + step
  }

  /** `ALTER TABLE … SYNC IDENTITY` (Delta's verb): realign the identity
    * high-water mark with the values actually STORED — explicit inserts
    * under GENERATED BY DEFAULT never advance the mark, so a large
    * explicit value would otherwise collide with a later allocation.
    * Cost is the seeding probe (manifest stats, or one max() scan on a
    * stat-less column). Returns the synced mark. Single-writer like all
    * identity allocation. */
  def syncIdentity(name: String, start: Long, step: Long): Long = {
    // SYNC realigns with the VALUES ACTUALLY STORED (its whole point —
    // explicit BY DEFAULT inserts never advance the mark), so it reads
    // the stored extreme directly, NOT the committed mark the normal
    // seed prefers. The next data commit persists the synced mark.
    val mark = storedIdentityExtreme(name, start, step)
    SnapshotTable.identityHwm.put(SnapshotTable.identityKey(root, name),
      new java.util.concurrent.atomic.AtomicLong(mark))
    mark
  }

  /** Last-allocated identity value to seed the in-process counter: the
    * stored extreme of the column across the current snapshot (manifest
    * stats — zero data read), `start - step` on an empty table. */
  private def seedIdentity(name: String, start: Long, step: Long): Long = {
    val v = currentVersion
    val phys = physColName(name, v)
    val virgin = start - step
    def beyond(a: Long, b: Long): Long =
      if (step > 0) math.max(a, b) else math.min(a, b)
    // the durable mark first: committed transactionally with every
    // identity insert, it survives deletes of the highest rows (which
    // footer stats do not — stats would re-issue the deleted ids).
    // Stats remain the legacy fallback for pre-mark tables.
    manifestOf(v).identHwm.get(phys) match {
      case Some(mark) => beyond(mark, virgin)
      case None => storedIdentityExtreme(name, start, step)
    }
  }

  /** The stored extreme of identity column `name` across the current
    * snapshot (manifest stats — zero data read; one max()/min() scan on
    * a stat-less column), `start - step` on an empty table. The legacy
    * seed for pre-mark tables and the realignment source for
    * [[syncIdentity]]. */
  private def storedIdentityExtreme(
      name: String, start: Long, step: Long): Long = {
    val v = currentVersion
    val phys = physColName(name, v)
    val virgin = start - step
    def beyond(a: Long, b: Long): Long =
      if (step > 0) math.max(a, b) else math.min(a, b)
    val entries =
      (fileEntries(v) ++ deltaEntries(v)).filter(_.rows > 0)
    if (entries.isEmpty) return virgin
    if (entries.forall(_.stats.contains(phys))) {
      val extreme =
        if (step > 0) math.ceil(entries.map(_.stats(phys)._2).max).toLong
        else math.floor(entries.map(_.stats(phys)._1).min).toLong
      beyond(extreme, virgin)
    } else {
      // stat-less column: one aggregate over the snapshot, once per
      // session — after that the atomic carries the mark
      val agg = if (step > 0) max(col(name)) else min(col(name))
      val r = read(v).agg(agg.cast("long")).head()
      if (r.isNullAt(0)) virgin else beyond(r.getLong(0), virgin)
    }
  }

  /** Fill NULL slots of identity column `f` with freshly reserved
    * values — one cached pass to size the reservation, then the
    * assignment rides the write job itself (global row indices come
    * from per-partition offsets, so no shuffle and no driver loop;
    * cost is O(batch), never table-sized). `forbidExplicit` raises on
    * any non-NULL provided value (GENERATED ALWAYS AS IDENTITY without
    * ALLOW EXPLICIT INSERT); explicit values never advance the
    * high-water mark (Delta parity — SYNC semantics are out of scope). */
  private[graft] def fillIdentity(
      df: DataFrame, f: org.apache.spark.sql.types.StructField,
      start: Long, step: Long, forbidExplicit: Boolean): DataFrame = {
    val idx = df.schema.fieldIndex(f.name)
    val name = f.name
    // fast path: no NULL slot to fill (the common shape for row-level
    // rewrites, whose carried rows all hold values) — one limit-1 probe,
    // no caching, no reservation. The ALWAYS-variant refusal still runs
    // row-local inside the write job below when slots DO fill.
    if (df.filter(col(name).isNull).isEmpty) {
      if (forbidExplicit && !df.isEmpty)
        throw new IllegalArgumentException(
          s"GENERATED ALWAYS AS IDENTITY column $name: explicit values " +
            "are not allowed (declare BY DEFAULT to permit them)")
      return df
    }
    // a previous FAILED commit's batch releases now — but NEVER the
    // in-flight commit's own caches (a DV MERGE's delta frame must stay
    // persisted between its marks and image writes; see pendingUnpersist)
    drainStaleCommitCaches()
    val rdd = df.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the cache lives until the COMMIT consumes the frame (writeManifest
    // drains [[pendingUnpersist]]) — never for the session: an insert
    // batch pinned in the block manager forever is a leak, not a cache
    val release: () => Unit = () => { rdd.unpersist(false); () }
    addCommitRelease(release)
    val n = rdd.count()
    if (n == 0) { removeCommitRelease(release); rdd.unpersist(false); return df }
    val base = reserveIdentity(f.name, start, step, n)
    val isLong = f.dataType == org.apache.spark.sql.types.LongType
    val filled = rdd.zipWithIndex().map { case (r, i) =>
      if (!r.isNullAt(idx)) {
        if (forbidExplicit) throw new IllegalArgumentException(
          s"GENERATED ALWAYS AS IDENTITY column $name: explicit values " +
            "are not allowed (declare BY DEFAULT to permit them)")
        r
      } else {
        val v = base + step * i
        if (!isLong && (v > Int.MaxValue || v < Int.MinValue))
          throw new ArithmeticException(
            s"identity column $name: value $v overflows INT — " +
              "widen the column to BIGINT")
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq.updated(idx, if (isLong) v else v.toInt))
      }
    }
    df.sparkSession.createDataFrame(filled, df.schema)
  }

  /** ALTER COLUMN … TYPE as a metadata-only commit (Delta type-widening
    * analog): the manifest's versioned `widened` overlay re-declares the
    * column's type; data files keep the narrower physical type they were
    * written with and Spark's parquet reader up-converts per file at
    * scan (SPARK-40876) — zero data rewritten at any table size,
    * version-correct under time travel (reads below the commit see the
    * old type). Writes after the commit store the wide type natively.
    * Only LOSSLESS widenings are accepted (Delta's matrix): integral
    * up-casts, float→double, byte/short/int→double, and decimal growth
    * that loses neither integer digits nor scale. */
  def widenColumn(name: String, newType: org.apache.spark.sql.types.DataType)
      : SnapshotTable = {
    import org.apache.spark.sql.types._
    val v = currentVersion
    val m = manifestOf(v)
    val logical = read(v).schema
    require(logical.fieldNames.contains(name),
      s"ALTER COLUMN TYPE on $root: no column $name")
    val cur = logical(name).dataType
    if (cur == newType) return this // no-op widen: nothing to commit
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
    require(widens(cur, newType),
      s"ALTER COLUMN TYPE on $root: ${cur.catalogString} → " +
        s"${newType.catalogString} is not a lossless widening (supported: " +
        "byte/short/int→long, integral→double, float→double, decimal " +
        "precision/scale growth)")
    val phys = physColName(name, v)
    // layout columns anchor partition-value parsing; the stored
    // partValue strings render identically for widened integrals, but
    // the synthesized-partition cast and transform tags key on the
    // declared type — refuse rather than silently mis-prune
    requireNotLayoutColumn(name, phys, "ALTER COLUMN TYPE")
    // a generated column's stored expression result is cast to the
    // DECLARED type — widening the target would silently change every
    // future fill; sources are fine (the expression re-evaluates wide)
    require(org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(logical(name)).isEmpty,
      s"ALTER COLUMN TYPE on $root: $name is a generated column")
    require(!bloomCols.contains(phys),
      s"ALTER COLUMN TYPE on $root: $name carries a bloom-filter " +
        "property — equality probes hash by physical type; clear it first")
    writeManifest(Manifest(v + 1, "WIDEN_COLUMN", m.mergeKeys, m.files,
      m.deltas, Seq.empty, m.dvs, renames = m.renames, dropped = m.dropped,
      fieldMeta = m.fieldMeta,
      widened = m.widened + (phys -> newType.catalogString)))
    SnapshotTable.mappedRoots.add(root)
    this
  }

  /** SET NOT NULL's existing-row validation: one stop-at-first-NULL
    * probe — a scan claiming non-nullable over stored NULLs would
    * mislead the optimizer, so the constraint must never land on
    * violating data. */
  private[graft] def requireNoNulls(name: String, verb: String): Unit =
    require(read().filter(col(name).isNull).limit(1).count() == 0,
      s"$verb ${name} SET NOT NULL: existing rows contain NULLs")

  /** ALTER COLUMN … SET NOT NULL as a metadata-only commit: existing
    * rows validate once ([[requireNoNulls]], skippable when the caller
    * pre-validated a multi-change statement), then the flag rides the
    * versioned overlay and Spark's output resolver enforces it on every
    * subsequent write. Shared by the SQL-extension verb and the
    * catalog's ALTER path. */
  def setNotNull(name: String, validate: Boolean = true): SnapshotTable = {
    if (validate) requireNoNulls(name, "ALTER COLUMN")
    alterColumnMeta(name, { f =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putBoolean(SnapshotTable.NotNullKey, true).build())
    })
  }

  /** Group-based copy-on-write replace: commit `df` as the new content
    * of exactly the `replaced` file set; every other current file
    * carries by reference. This is the write half of a partition-scoped
    * SQL UPDATE/DELETE — the planner proves rows outside `replaced`
    * cannot match, so commit cost is O(touched partitions), not
    * O(table). DV marks addressing replaced files were applied by the
    * resolved read and drop; marks on carried files stay valid. */
  def replaceFiles(replaced: Seq[FileEntry], df: DataFrame,
      partitionBy: Option[String] = None): SnapshotTable = {
    val v = currentVersion
    require(deltaEntries(v).isEmpty,
      s"replaceFiles on $root requires compacted state (pending MoR deltas)")
    val replacedPaths = replaced.map(_.path).toSet
    val carryOver = fileEntries(v).filterNot(e => replacedPaths(e.path))
    val written = writeData(df, v + 1, partitionBy)
    writeManifest(Manifest(v + 1, "OVERWRITE", Seq.empty,
      written ++ carryOver, Seq.empty, Seq.empty,
      remainingDvs(v, replacedPaths, v + 1)))
    this
  }

  /** Blind append commit: new files join the current file set; existing
    * files and pending deltas are untouched — O(source) like a streaming
    * sink. `partitionBy` may differ from earlier commits (Iceberg-style
    * partition evolution): each file entry remembers ITS partition
    * column, and [[readWhereCol]] prunes exactly where metadata allows.
    *
    * Concurrency: appends NEVER semantically conflict with anything
    * (Delta's append-vs-anything rule) — losing the write-once manifest
    * race just re-targets the already-written files at the winner's
    * state and retries metadata-only. N concurrent appenders all
    * commit; the data is written exactly once per appender. */
  def append(df: DataFrame, partitionBy: Option[String] = None): SnapshotTable = {
    val written = writeData(df, currentVersion + 1, partitionBy)
    commitAppendWithRetry(written, txns = Map.empty)
    this
  }

  /** Commit `written` as an APPEND on top of whatever the current
    * version is, retrying on a lost manifest race (see [[append]]).
    * The attempt-unique data dir makes the retry metadata-only. */
  private def commitAppendWithRetry(
      written: Seq[FileEntry], txns: Map[String, Long]): Unit = {
    var committed = false
    while (!committed) {
      val v = currentVersion
      try {
        writeManifest(Manifest(v + 1, "APPEND", mergeKeysOf(v),
          fileEntries(v) ++ written.map(_.copy(origin = (v + 1).toLong)),
          deltaEntries(v), dvs = dvEntries(v), txns = txns))
        committed = true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException
            | _: java.nio.file.FileAlreadyExistsException => // lost race: retry
      }
    }
  }

  /** Partition-evolution-aware file planning for `colName = value`:
    * entries partitioned BY that column prune on metadata alone (first
    * seq, no row filter needed); entries laid out under another (or no)
    * partition column stay in the plan with a residual row filter
    * (second seq) — exactly Iceberg's old-spec residual evaluation. */
  def planFiles(colName: String, value: String): (Seq[FileEntry], Seq[FileEntry]) = {
    val (exact, rest) = fileEntries(currentVersion).partition(_.partCol == colName)
    (exact.filter(_.partValue == value), rest)
  }

  /** Evolution-aware partition read: metadata-pruned files (no filter —
    * the partition value guarantees every row) unioned with residual-
    * filtered scans of files from other layouts. */
  def readWhereCol(colName: String, value: String): DataFrame = {
    require(deltaEntries(currentVersion).isEmpty,
      s"readWhereCol on $root requires compacted state (pending MoR deltas)")
    val (pruned, residual) = planFiles(colName, value)
    val dvs = dvEntries(currentVersion)
    val parts = Seq(
      if (pruned.nonEmpty) Some(baseScan(pruned, dvs)) else None,
      if (residual.nonEmpty)
        Some(baseScan(residual, dvs).filter(col(colName) === value))
      else None).flatten
    require(parts.nonEmpty, s"no files for $colName = $value")
    parts.reduce(_ unionByName _)
  }

  /** [[readWhereCol]] when its preconditions hold — compacted state and
    * at least some files laid out under `colName` — else None so
    * callers (e.g. the SQL catalog's scan) fall back to the full
    * manifest-planned read. Best-effort metadata pruning with identical
    * row semantics either way. */
  def prunedWhereCol(colName: String, value: String): Option[DataFrame] = {
    if (deltaEntries(currentVersion).nonEmpty) return None
    if (!fileEntries(currentVersion).exists(_.partCol == colName)) return None
    val (pruned, residual) = planFiles(colName, value)
    val dvs = dvEntries(currentVersion)
    val parts = Seq(
      if (pruned.nonEmpty) Some(baseScan(pruned, dvs)) else None,
      if (residual.nonEmpty)
        Some(baseScan(residual, dvs).filter(col(colName) === value))
      else None).flatten
    if (parts.isEmpty) None else Some(parts.reduce(_ unionByName _))
  }

  /** Manifest file planning for `colName IN (canon values)` across ALL
    * layouts an entry may carry: identity partitions prune exactly
    * (every row matches — no filter); HIDDEN layouts (days/months/
    * bucket/truncate of `colName`) keep only the buckets/days/prefixes
    * the literals transform to — the plan-time mirror of the write-side
    * function — but a kept bucket may hold other values, so those files
    * take the residual row filter, as do foreign-layout files. Returns
    * (exact, residual) entry lists; None = no layout on `colName` at
    * all (the caller falls back to the full manifest plan). */
  private def planFilesIn(colName: String, canon: Seq[String])
      : Option[(Seq[FileEntry], Seq[FileEntry])] = {
    val entries = fileEntries(currentVersion)
    val anyLayout = entries.exists(e => e.partCol == colName ||
      (e.xformCol == colName && e.xformTag != null))
    if (!anyLayout) return None
    val vals = canon.toSet
    val (ident, rest0) = entries.partition(_.partCol == colName)
    val (xf, rest) = rest0.partition(e =>
      e.xformCol == colName && e.xformTag != null)
    val identKeep = ident.filter(e => e.partValue != null && vals(e.partValue))
    val xfKeep = xf.filter(e => e.partValue != null && canon.exists(v =>
      e.partValue == PartitionTransform.applyLiteral(e.xformTag, v)))
    Some((identKeep, xfKeep ++ rest))
  }

  /** [[prunedWhereCol]] generalized to a value SET (SQL `IN`-list, or a
    * single non-string equality canonicalized to its directory form)
    * and to hidden-partition layouts — see [[planFilesIn]]. None when
    * preconditions fail; Some(empty frame) when the manifest PROVES no
    * file can match (zero data files opened). */
  def prunedWhereColIn(colName: String, canon: Seq[String],
      typed: Seq[Any]): Option[DataFrame] = {
    if (deltaEntries(currentVersion).nonEmpty) return None
    planFilesIn(colName, canon).map { case (exact, residual) =>
      val dvs = dvEntries(currentVersion)
      val parts = Seq(
        if (exact.nonEmpty) Some(baseScan(exact, dvs)) else None,
        if (residual.nonEmpty)
          Some(baseScan(residual, dvs).filter(col(colName).isin(typed: _*)))
        else None).flatten
      if (parts.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          read(currentVersion).schema)
      else parts.reduce(_ unionByName _)
    }
  }

  /** Manifest bytes/rows for the entries [[prunedWhereColIn]] would plan
    * (pruned partitions + residual-layout files) — stats estimation for
    * the SQL catalog, metadata only. None = no pruning applies. */
  def prunedSizeIn(colName: String, canon: Seq[String]): Option[(Long, Long)] = {
    if (hasPendingDeltas) return None
    planFilesIn(colName, canon).map { case (exact, residual) =>
      val planned = exact ++ residual
      (planned.map(_.bytes).sum, planned.map(_.rows).sum)
    }
  }

  /** Transform-aware file planning for `colName = value` over hidden
    * partition layouts ([[PartitionTransform]]): returns (identity-pruned
    * — every row matches, no filter needed; transform-pruned — the file's
    * partition is `xf(value)` but may hold other values of the same
    * day/bucket/prefix, residual filter required; unprunable — other
    * layouts, residual filter required). Metadata-only: consults the
    * manifest's per-file partition values, never the data. */
  def planFilesXform(colName: String, value: String)
      : (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry]) = {
    val entries = fileEntries(currentVersion)
    val (ident, rest0) = entries.partition(_.partCol == colName)
    val (xf, rest) = rest0.partition(e =>
      e.xformCol == colName && e.xformTag != null)
    (ident.filter(_.partValue == value),
      xf.filter(e =>
        e.partValue == PartitionTransform.applyLiteral(e.xformTag, value)),
      rest)
  }

  /** Hidden-partition-aware point read: `colName = value` filtering on
    * the RAW column while the layout is a transform of it — the day,
    * bucket, or prefix containing `value` is located from the manifest
    * alone and only those files (plus any foreign-layout files) are
    * scanned, with the residual row filter applied where the partition
    * value doesn't already guarantee every row. */
  def readWhereColXform(colName: String, value: String): DataFrame = {
    require(deltaEntries(currentVersion).isEmpty,
      s"readWhereColXform on $root requires compacted state (pending MoR deltas)")
    val (ident, xf, rest) = planFilesXform(colName, value)
    val dvs = dvEntries(currentVersion)
    val parts = Seq(
      if (ident.nonEmpty) Some(baseScan(ident, dvs)) else None,
      if (xf.nonEmpty)
        Some(baseScan(xf, dvs).filter(col(colName) === value))
      else None,
      if (rest.nonEmpty)
        Some(baseScan(rest, dvs).filter(col(colName) === value))
      else None).flatten
    require(parts.nonEmpty, s"no files for $colName = $value")
    parts.reduce(_ unionByName _)
  }

  /** Range read `lo <= colName <= hi` (canonical string forms, e.g. ISO
    * dates) with metadata range pruning: identity layouts and
    * order-preserving transforms (day/month/prefix — NOT buckets) keep
    * only files whose partition value falls in the transformed range;
    * bucketed and foreign layouts scan with the row filter. This is the
    * time-series shape at 100 TB: `days(event_ts)` plans a one-day query
    * from the manifest entries of that day, whatever the table size. */
  def readWhereColRange(colName: String, lo: String, hi: String): DataFrame = {
    require(deltaEntries(currentVersion).isEmpty,
      s"readWhereColRange on $root requires compacted state (pending MoR deltas)")
    val keep = fileEntries(currentVersion).filter { e =>
      if (e.partCol == colName && e.partValue != null)
        e.partValue >= lo && e.partValue <= hi
      else if (e.xformCol == colName && e.xformTag != null &&
          PartitionTransform.orderPreserving(e.xformTag))
        e.partValue >= PartitionTransform.applyLiteral(e.xformTag, lo) &&
          e.partValue <= PartitionTransform.applyLiteral(e.xformTag, hi)
      else true // bucket / foreign layout: no metadata range pruning
    }
    require(keep.nonEmpty, s"no files for $colName in [$lo, $hi]")
    baseScan(keep, dvEntries(currentVersion))
      .filter(col(colName).cast("string") >= lo &&
        col(colName).cast("string") <= hi)
  }

  /** Manifest-only column MIN/MAX (ANALYZE-style): combined from the
    * per-file footer stats captured at commit — zero data files read.
    * Defined only when every current file carries stats for the column
    * (conservative: a single stat-less file makes metadata unusable) and
    * no MoR deltas are pending — deferred-merge rows live outside the
    * base files, so base-only stats could exclude their values. */
  def statsMinMax(colName: String): Option[(Double, Double)] = {
    val entries = fileEntries(currentVersion)
    val ss = entries.map(_.stats.get(physColName(colName)))
    // DV-deleted rows may have held the min/max — footer stats are only
    // an upper bound on the live range, so decline like pending deltas
    if (entries.isEmpty || ss.exists(_.isEmpty) ||
      deltaEntries(currentVersion).nonEmpty ||
      dvEntries(currentVersion).nonEmpty) None
    else Some((ss.map(_.get._1).min, ss.map(_.get._2).max))
  }

  /** Data-skipping file selection: files whose [min,max] for `colName`
    * intersects [lo,hi]. Files WITHOUT stats for the column are kept
    * (soundness over pruning); the caller still applies the row filter. */
  def filesInRange(colName: String, lo: Double, hi: Double): Seq[FileEntry] = {
    val pc = physColName(colName)
    fileEntries(currentVersion).filter(e => e.stats.get(pc) match {
      case Some((mn, mx)) => mx >= lo && mn <= hi
      case None => true
    })
  }

  /** Stats-pruned range read: plan only the files [[filesInRange]] keeps
    * — the Delta-style file-level skipping that the reference's
    * value-filter probe measures (FileCountBenchmark.scala:248). Callers
    * apply the actual predicate on the (possibly empty) result. */
  def readRange(colName: String, lo: Double, hi: Double): DataFrame = {
    require(deltaEntries(currentVersion).isEmpty,
      s"readRange on $root requires compacted state (pending MoR deltas)")
    val picked = filesInRange(colName, lo, hi)
    if (picked.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        read().schema)
    else baseScan(picked, dvEntries(currentVersion))
  }

  /** Manifest-pruned read of one partition value: file selection is pure
    * metadata (no directory listing, no scan of other partitions) — the
    * same partition-pruning-from-the-log that the reference's file-count
    * partition-filter probe measures (FileCountBenchmark.scala:244-249).
    * On a MoR version the resolution runs within the partition only. */
  def readWhere(partValue: String): DataFrame = {
    val v = currentVersion
    val base = fileEntries(v).filter(_.partValue == partValue)
    val deltas = deltaEntries(v).filter(_.partValue == partValue)
    require(base.nonEmpty || deltas.nonEmpty, s"no files for partition $partValue")
    // DV rows addressing files outside this partition slice simply never
    // match the anti-join — no per-partition DV bookkeeping needed
    if (deltas.isEmpty) baseScan(base, dvEntries(v))
    else resolveMerged(base, deltas, mergeKeysOf(v), dvEntries(v))
  }

  /** Footer-stat row count of the whole table straight from the manifest —
    * a COUNT(*) that reads zero data files. (Exact only when no deltas
    * are pending; a MoR count must resolve matches, so it falls back to
    * the resolved scan.) */
  def countFromManifest: Long = {
    val v = currentVersion
    // dv marks are duplicate-free (captured from the DV-resolved scan),
    // so their row counts subtract exactly from the footer sums
    if (deltaEntries(v).isEmpty)
      fileEntries(v).map(_.rows).sum - dvEntries(v).map(_.rows).sum
    else read(v).count()
  }

  /** [[countFromManifest]] when it is metadata-only; None on MoR state
    * (where an exact count must resolve matches — a job). Callers that
    * must never launch work (stats estimation, aggregate pushdown)
    * use this. */
  def countFromManifestOpt: Option[Long] = {
    val v = currentVersion
    if (deltaEntries(v).nonEmpty) None
    else Some(fileEntries(v).map(_.rows).sum - dvEntries(v).map(_.rows).sum)
  }

  /** True when MoR deltas are pending (scan-time resolution required). */
  def hasPendingDeltas: Boolean = deltaEntries(currentVersion).nonEmpty

  /** Total referenced bytes straight from the manifest. */
  def manifestSizeBytes: Long = manifestSizeBytesAt(currentVersion)

  /** [[manifestSizeBytes]] at a pinned version (negative = current) —
    * metadata only, never a job. Planner-facing: the v1-fallback
    * relations report this so join strategy sees real magnitudes. */
  def manifestSizeBytesAt(version: Int): Long = {
    val v = if (version >= 0) version else currentVersion
    (fileEntries(v) ++ deltaEntries(v)).map(_.bytes).sum
  }

  /** Create version 0 from `df`, optionally hive-partitioned by
    * `partitionBy` (the column is duplicated into `__p` so data files
    * keep the real column and the manifest keeps the partition value).
    * `txn` records a writer transaction marker atomically with the
    * creating commit — a streaming sink whose FIRST batch creates the
    * table needs the marker so a checkpoint-recovery replay of that
    * batch is detected instead of appended twice. */
  /** CONVERT TO GRAFT (Delta `CONVERT TO DELTA` analog): turn an
    * EXISTING plain-parquet directory into a snapshot table IN PLACE —
    * version 0's manifest references the files where they are, with
    * row counts and skipping stats read from their footers. Nothing is
    * rewritten or moved: at 100 TB the conversion costs O(files)
    * footer reads, not a data pass, which is the only viable migration
    * at that scale.
    *
    * `partition` (Delta's mandatory `PARTITIONED BY (pc TYPE)` clause
    * for partitioned sources) declares a Hive-layout directory
    * (`pc=value/…`). Those files do NOT carry the partition column, so
    * the conversion records it as the table's SYNTHESIZED partition
    * column: reads surface it from the manifest's per-file partition
    * value through the scan's partition schema (exactly how Spark reads
    * the same directory as catalog-partitioned parquet), every pruning
    * path keys on the manifest `partCol`/`partValue` as usual, and
    * engine writes after the conversion duplicate the real column into
    * files natively. Footer stats make range skipping work immediately;
    * time travel, DML, OPTIMIZE and the rest of the engine apply from
    * version 0 on. */
  def convertInPlace(
      partition: Option[org.apache.spark.sql.types.StructField] = None)
      : SnapshotTable = {
    require(!exists, s"CONVERT: $root is already a graft table")
    val listed = listDataFiles(fs, rootPath,
      col = partition.map(_.name).getOrElse(PartCol))
    require(listed.nonEmpty, s"CONVERT: no parquet files under $root")
    partition match {
      case Some(f) =>
        val missing = listed.filter(_._2 == null)
        require(missing.isEmpty,
          s"CONVERT: ${missing.size} file(s) outside the ${f.name}=… layout " +
            s"(e.g. ${missing.head._1}) — PARTITIONED BY must match the " +
            "directory structure")
      case None =>
        // a flat convert of a Hive-layout directory would silently DROP
        // the directory-encoded column (standard partitioned writes
        // don't store it in the files) — refuse instead
        val hive = listed.find(
          _._1.split('/').dropRight(1).exists(_.matches("[^=/]+=[^=/]*")))
        require(hive.isEmpty,
          s"CONVERT: Hive-layout directory detected (e.g. " +
            s"${hive.map(_._1).getOrElse("")}) — declare " +
            "PARTITIONED BY (col TYPE)")
    }
    // Footer collection runs as a DISTRIBUTED Spark job — at the
    // multi-thousand-file directories CONVERT targets (in-place
    // migration is the 100 TB on-ramp), driver-side footer reads would
    // serialize the only O(files) cost the operation has. Each task
    // opens its files' footers and ships back metadata-sized rows
    // (rows, stats, schema fingerprint) — never data pages.
    val conf = spark.sessionState.newHadoopConf()
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    val slices = math.max(1,
      math.min(listed.size, spark.sparkContext.defaultParallelism))
    val probed = spark.sparkContext.parallelize(listed, slices)
      .map { case (p, pv, len) =>
        val c = serConf.value
        val opts = org.apache.parquet.HadoopReadOptions.builder(c).build()
        val ((rows, stats), fp) = SnapshotTable.footerProbe(c, opts, p)
        (p, pv, len, rows, stats, fp)
      }.collect().toSeq
    // A raw parquet directory commonly holds EVOLVED schemas (columns
    // added over time). The scan's union-over-origins schema machinery
    // probes ONE footer per origin, so CONVERT must keep each origin
    // schema-homogeneous: group the files by footer-schema fingerprint
    // and give each group its own origin. Origins count down to 0
    // (negative = pre-history, the same convention rebased clone
    // origins use), ordered narrowest-schema-first so evolution-added
    // columns append in evolution order; the union over the groups is
    // exactly Delta CONVERT's merged schema, and REORG's per-origin
    // dropped-column detection stays per-generation-exact.
    val groups = probed.groupBy(_._6).toSeq
      .sortBy { case (fp, fs) => (fp.linesIterator.size, fs.map(_._1).min) }
    val entries = groups.zipWithIndex.flatMap { case ((_, fs), k) =>
      val origin = (k + 1L) - groups.size
      fs.map { case (p, pv, len, rows, stats, _) =>
        FileEntry(p, pv, len, rows, origin,
          partition.map(_.name).orNull, stats) }
    }
    // does the data actually carry the partition column? (rare, but a
    // directory written WITH the column present needs no synthesis —
    // EVERY schema generation must carry it, else older files would
    // silently read NULL where the directory value should apply)
    val carriesCol = partition.exists(f => groups.forall { case (_, fs) =>
      SnapshotTable.probeDataSchema(spark, fs.map(_._1))
        .fieldNames.contains(f.name) })
    partition.foreach { f =>
      if (!carriesCol)
        withProperty(SnapshotTable.SynthPartProp,
          s"${f.name}:${f.dataType.catalogString}")
      withProperty(SnapshotTable.PartSpecProp, f.name)
    }
    synthPartCache = None
    writeManifest(Manifest(0, "CONVERT", Seq.empty, entries, Seq.empty))
    this
  }

  def create(df: DataFrame, partitionBy: Option[String] = None,
      txn: Option[(String, Long)] = None): SnapshotTable = {
    val written = writeData(df, 0, partitionBy)
    // CREATE-time field metadata (DEFAULT / generation / identity specs)
    // is pinned into the versioned overlay — footer copies of it go
    // stale the moment a rewrite (OPTIMIZE / UPDATE) strips them; the
    // commit log never does
    val createMeta = df.schema.fields.collect {
      case f if f.metadata != org.apache.spark.sql.types.Metadata.empty =>
        f.name -> f.metadata.json
    }.toMap
    writeManifest(Manifest(0, "CREATE", Seq.empty, written, Seq.empty,
      txns = txn.map(t => Map(t._1 -> t._2)).getOrElse(Map.empty),
      fieldMeta = createMeta))
    this
  }

  /** Copy-on-write MERGE (UPDATE SET * / WHEN NOT MATCHED INSERT *):
    * result = target rows with no key match in source + all source rows.
    * Source must be unique on `keys`. Pending MoR deltas are folded in
    * (the rewrite base is the resolved view of touched partitions).
    *
    * `evolveSchema` (Delta `mergeSchema` on MERGE): source columns
    * absent from the target are appended; only touched files are
    * rewritten in the widened schema — untouched files carry over as-is
    * and null-fill the new columns at scan time ([[readEntries]]). */
  def merge(source: DataFrame, keys: Seq[String], partitionBy: Option[String] = None,
      trackChanges: Boolean = false, evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None): SnapshotTable = {
    val v = currentVersion
    // txn marker (see [[appendIdempotent]]): a replayed micro-batch is
    // detected by its (appId, version) and skipped — a keyed MERGE replay
    // is content-idempotent, but the skip saves the whole rewrite
    if (txn.exists { case (app, ver) =>
        manifestOf(v).txns.get(app).exists(_ >= ver) })
      return this
    val (base, carryOver) = prunedBase(source, keys, partitionBy,
      source.schema, withRids = true)
    // carried (anti-joined) rows keep their materialized row ids under
    // row tracking; source rows (updates + inserts) refresh — the
    // key-join cannot tell an update from an insert without another
    // join, so the scoped contract stands for them (SQL MERGE preserves
    // updated rows' ids via the delta path instead)
    val hasRid = base.columns.contains(SnapshotTable.RidCol)
    val srcAligned =
      if (hasRid)
        source.withColumn(SnapshotTable.RidCol, lit(null).cast("long"))
      else source
    val rewritten =
      if (evolveSchema)
        base.join(source, keys, "left_anti")
          .unionByName(srcAligned, allowMissingColumns = true)
      else base.join(source, keys, "left_anti").unionByName(srcAligned)
    val written = writeData(rewritten, v + 1, partitionBy)
    // Change-data-feed capture (Delta CDF analog, cdc files written with
    // the commit): classify source rows against the touched base — keyed
    // matches are updates (pre- AND post-image, Delta CDF parity: the
    // preimage is what lets a downstream consumer decrement an aggregate
    // it maintains), the rest inserts. Cost is O(source + touched
    // partitions), never the whole table.
    val cdc =
      if (!trackChanges) Seq.empty
      else {
        val baseKeys = base.select(keys.map(col): _*)
        val srcKeys = source.select(keys.map(col): _*)
        writeChanges(
          source.join(baseKeys, keys, "left_semi")
            .withColumn(ChangeCol, lit("update_postimage"))
            .unionByName(source.join(baseKeys, keys, "left_anti")
              .withColumn(ChangeCol, lit("insert")))
            // preimages come from the (possibly narrower) base schema —
            // under evolveSchema the new columns null-fill
            .unionByName(base.drop(SnapshotTable.RidCol)
              .join(srcKeys, keys, "left_semi")
              .withColumn(ChangeCol, lit("update_preimage")),
              allowMissingColumns = true),
          v + 1)
      }
    val keptPaths = carryOver.map(_.path).toSet
    writeManifest(Manifest(v + 1, "MERGE", Seq.empty, written ++ carryOver,
      Seq.empty, cdc,
      remainingDvs(v, fileEntries(v).map(_.path).filterNot(keptPaths).toSet,
        v + 1),
      txns = txn.map { case (app, ver) => Map(app -> ver) }.getOrElse(Map.empty)))
    this
  }

  /** Copy-on-write MERGE under optimistic concurrency (Delta OCC,
    * partition-disjoint auto-resolution): N writers merging disjoint
    * partition slices of the same table all commit. The data rewrite
    * runs once against the snapshot version observed at entry; losing
    * the write-once manifest race triggers a METADATA-ONLY retry — the
    * attempt re-validates that its partition SLICE (base files AND
    * pending deltas) is unchanged since its rewrite base (so its new
    * files are still correct), re-targets its carry-over lists at the
    * winner's manifest, and commits the next version. A winner that
    * touched our slice is a true conflict →
    * ConcurrentModificationException, exactly Delta's behavior.
    *
    * Pending MoR deltas are supported: deltas laid out under
    * `partitionBy` classify exactly — those in touched partitions
    * resolve into the rewrite (their files retire with this commit),
    * the rest carry over as still-pending deltas. A delta WITHOUT that
    * layout may span partitions, so it forces a full fold (every file
    * and delta joins the rewrite base) — correct, just unprunable, and
    * any concurrent commit then conflicts. Base files under a foreign
    * layout are treated as always-touched (same rule as [[prunedBase]]):
    * their rows fold into the rewrite, and writers that share them
    * conflict instead of corrupting.
    *
    * `beforeCommit` is a test seam to interleave a competing commit
    * deterministically between rewrite and commit. */
  def mergeConcurrent(source: DataFrame, keys: Seq[String], partitionBy: String,
      maxAttempts: Int = 10,
      beforeCommit: () => Unit = () => ()): SnapshotTable = {
    require(keys.contains(partitionBy),
      s"mergeConcurrent keys $keys must include partition column $partitionBy")
    val v0 = currentVersion
    val vals = source.select(col(partitionBy).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    require(vals.nonEmpty, s"mergeConcurrent on $root with an empty source")
    def foreign(e: FileEntry) = e.partValue == null || e.partCol != partitionBy
    def mine(e: FileEntry) = foreign(e) || vals.contains(e.partValue)
    // the slice this writer folds into its rewrite at a given version:
    // (base files, pending deltas). A partition-spanning delta widens the
    // slice to the whole table — its rows may update ANY partition, so
    // partial carry-over would duplicate or shadow them.
    def slice(v: Int): (Seq[FileEntry], Seq[FileEntry]) =
      if (deltaEntries(v).exists(foreign)) (fileEntries(v), deltaEntries(v))
      else (fileEntries(v).filter(mine),
        deltaEntries(v).filter(e => vals.contains(e.partValue)))
    val (baseEntries, foldDeltas) = slice(v0)
    val base =
      if (baseEntries.isEmpty && foldDeltas.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], source.schema)
      else if (foldDeltas.isEmpty) baseScan(baseEntries, dvEntries(v0))
      else resolveMerged(baseEntries, foldDeltas, mergeKeysOf(v0), dvEntries(v0))
    val rewritten = base.join(source, keys, "left_anti").unionByName(source)
    val basePaths = baseEntries.map(_.path).toSet
    val foldDeltaPaths = foldDeltas.map(_.path).toSet
    // Deletion vectors are not partition-attributed, so a concurrent DV
    // change needs CONTENT-level validation on retry (conflictingNewDvMarks
    // below): a mark ADDED since v0 that addresses a file in this writer's
    // rewrite slice is a true conflict — the rewrite already copied that
    // row forward, so committing would resurrect the deleted row. Marks
    // added against carried-over files stay valid (they ride along), and
    // marks that merely got REWRITTEN into new DV files by another CoW
    // winner existed at v0 — this writer's DV-resolved base scan already
    // applied them.
    val dvPaths0 = dvEntries(v0).map(_.path).toSet
    var v = v0
    var attempt = 0
    var committed = false
    var attemptFiles: Seq[FileEntry] = Seq.empty
    var attemptDvs: Seq[FileEntry] = Seq.empty
    while (!committed) {
      attempt += 1
      // written on the first pass only — the rewrite stays valid across
      // retries once the slice validation passes, so a retry is
      // metadata-only
      if (attempt == 1) {
        attemptFiles = writeData(rewritten, v + 1, Some(partitionBy))
        attemptDvs = remainingDvs(v0, basePaths, v + 1)
      }
      beforeCommit()
      val carryOver = fileEntries(v).filterNot(e => basePaths(e.path))
      val carryDeltas = deltaEntries(v).filterNot(e => foldDeltaPaths(e.path))
      try {
        // origin tracks the committing version (a retry re-targets it);
        // carried deltas keep their original origins so last-writer-wins
        // ordering against future deltas is unchanged
        writeManifest(Manifest(v + 1, "MERGE",
          if (carryDeltas.isEmpty) Seq.empty else mergeKeysOf(v),
          attemptFiles.map(_.copy(origin = (v + 1).toLong)) ++ carryOver,
          carryDeltas, dvs = attemptDvs))
        committed = true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException
            | _: java.nio.file.FileAlreadyExistsException =>
          val newV = currentVersion
          val (nowBase, nowDeltas) = slice(newV)
          if (nowBase.map(_.path).toSet != basePaths ||
              nowDeltas.map(_.path).toSet != foldDeltaPaths)
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit to $root touched partitions $vals " +
                "(this writer's slice of files or deltas changed) — " +
                "rewrite base is stale")
          if (dvEntries(newV).map(_.path).toSet != dvPaths0) {
            // DV set changed since the rewrite base. Disjoint DV commits
            // (marks only on carried-over files) resolve metadata-style:
            // re-derive the carried DV set from the CURRENT version —
            // O(dv rows), like Delta's winning-commit action check.
            if (conflictingNewDvMarks(v0, newV, basePaths))
              throw new java.util.ConcurrentModificationException(
                s"concurrent deletion-vector commit to $root addressed " +
                  s"files in this writer's rewrite slice (partitions $vals) " +
                  "— the rewrite would resurrect deleted rows")
            attemptDvs = remainingDvs(newV, basePaths, newV + 1)
          }
          if (attempt >= maxAttempts)
            throw new java.util.ConcurrentModificationException(
              s"gave up committing to $root after $maxAttempts attempts")
          v = newV
      }
    }
    this
  }

  /** Copy-on-write MERGE … WHEN MATCHED THEN DELETE: result = target
    * rows with no key match in `source`. Partition pruning as in
    * [[merge]] — only partitions named by the source are rewritten;
    * that is sound for deletes for the same reason (a matched row's
    * partition value is one of the source's partition values). */
  def mergeDelete(source: DataFrame, keys: Seq[String], partitionBy: Option[String] = None,
      trackChanges: Boolean = false): SnapshotTable = {
    val v = currentVersion
    val (base, carryOver) = prunedBase(source, keys, partitionBy,
      read(v).schema, withRids = true)
    val srcKeys = source.select(keys.map(col): _*)
    // survivors keep their row ids under row tracking (a delete must
    // not renumber rows it does not remove)
    val rewritten = base.join(srcKeys, keys, "left_anti")
    val written = writeData(rewritten, v + 1, partitionBy)
    val cdc =
      if (!trackChanges) Seq.empty
      else writeChanges(
        base.drop(SnapshotTable.RidCol)
          .join(srcKeys, keys, "left_semi")
          .withColumn(ChangeCol, lit("delete")),
        v + 1)
    val keptPaths = carryOver.map(_.path).toSet
    writeManifest(Manifest(v + 1, "MERGE_DELETE", Seq.empty,
      written ++ carryOver, Seq.empty, cdc,
      remainingDvs(v, fileEntries(v).map(_.path).filterNot(keptPaths).toSet,
        v + 1)))
    this
  }

  /** Copy-on-write DELETE WHERE `colName BETWEEN lo AND hi` (Delta
    * `DELETE FROM … WHERE` with data-skipping): only files whose footer
    * [min,max] for `colName` intersects the range are rewritten —
    * everything else carries over by reference, so on a range-clustered
    * layout the rewrite touches O(matching files), not the table. Rows
    * with NULL in `colName` never match and are kept (SQL semantics). */
  def deleteWhere(colName: String, lo: Double, hi: Double,
      partitionBy: Option[String] = None,
      trackChanges: Boolean = false): SnapshotTable = {
    val v = currentVersion
    require(deltaEntries(v).isEmpty,
      s"deleteWhere on $root requires compacted state (pending MoR deltas)")
    val pc = physColName(colName)
    val (touched, carryOver) =
      fileEntries(v).partition(e => e.stats.get(pc) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no stats: must assume matches (soundness)
      })
    val matches = (col(colName) >= lo && col(colName) <= hi) <=> true
    val written =
      if (touched.isEmpty) Seq.empty
      // rewriteSource: under row tracking the surviving rows carry
      // their ids into the rewritten files (a delete must not renumber
      // rows it does not remove)
      else writeData(rewriteSource(touched, dvEntries(v)).filter(!matches),
        v + 1, partitionBy)
    val cdc =
      if (!trackChanges || touched.isEmpty) Seq.empty
      else writeChanges(baseScan(touched, dvEntries(v)).filter(matches)
        .withColumn(ChangeCol, lit("delete")), v + 1)
    writeManifest(Manifest(v + 1, "DELETE", Seq.empty,
      written ++ carryOver, Seq.empty, cdc,
      remainingDvs(v, touched.map(_.path).toSet, v + 1)))
    this
  }

  /** Positional DELETE WHERE `colName BETWEEN lo AND hi` (Iceberg
    * position-delete / Delta deletion-vector analog): instead of
    * rewriting matching files (CoW [[deleteWhere]]) or appending
    * key-equality tombstones ([[mergeDeleteDeferred]]), the commit
    * records each matching row's (file, position) address as a deletion
    * vector — commit cost is O(candidate-file scan + matching rows)
    * with NO base rewrite and NO key columns required (works on keyless
    * tables). Reads resolve DVs with one (file, pos) anti-join whose
    * build side is O(deleted rows); [[compact]] folds the marks away.
    *
    * File skipping mirrors [[deleteWhere]]: only files whose footer
    * [min,max] intersects [lo,hi] are scanned for marks. The predicate
    * is evaluated on the DV-RESOLVED scan, so overlapping re-deletes
    * never duplicate marks (row accounting stays exact). DVs address
    * BASE data files (exactly Iceberg position-delete semantics, which
    * name data files); on a table with pending MoR deltas, delta rows
    * are a later layer — a key whose newest version lives in a delta
    * survives a positional delete of its stale base copy, and key-level
    * deletes belong to [[mergeDeleteDeferred]]. */
  def deleteWherePositional(colName: String, lo: Double, hi: Double,
      trackChanges: Boolean = false): SnapshotTable = {
    val v = currentVersion
    val dvs = dvEntries(v)
    val pc = physColName(colName)
    val candidates = fileEntries(v).filter(e => e.stats.get(pc) match {
      case Some((mn, mx)) => mx >= lo && mn <= hi
      case None => true // no stats: must scan for marks (soundness)
    })
    val matches = (col(colName) >= lo && col(colName) <= hi) <=> true
    val written =
      if (candidates.isEmpty) Seq.empty
      else {
        val addressed =
          if (dvs.isEmpty) readEntriesAddressed(candidates)
          else addressedMinusDvs(candidates, dvs)
        writeData(addressed.filter(matches).select(col(DvFileCol), col(DvPosCol)),
          v + 1, None).filter(_.rows > 0)
      }
    val cdc =
      if (!trackChanges || candidates.isEmpty) Seq.empty
      else {
        // CDC is a LOGICAL feed: a base copy whose key carries a pending
        // MoR delta row is not what the table resolves to — positionally
        // deleting the stale copy reorganizes the base layer without
        // changing the relation (an upsert delta still wins; a tombstone
        // already deleted the key). Anti-join the captured pre-images
        // against pending delta keys so the feed reports only logical
        // deletes. Both sides are change-feed-sized, never a table scan.
        val del = baseScan(candidates, dvs).filter(matches)
        val deltas = deltaEntries(v)
        val keys = mergeKeysOf(v)
        val logical =
          if (deltas.isEmpty || keys.isEmpty) del
          else del.join(
            readEntries(deltas).select(keys.map(col): _*).distinct(),
            keys, "left_anti")
        writeChanges(logical.withColumn(ChangeCol, lit("delete")), v + 1)
      }
    writeManifest(Manifest(v + 1, "DELETE_DV", mergeKeysOf(v), fileEntries(v),
      deltaEntries(v), cdc, dvs ++ written))
    this
  }

  /** Positional (deletion-vector) DELETE on an ARBITRARY predicate —
    * the scale path for predicate deletes Delta enables with
    * deletionVectors: one addressed scan of the base files filters the
    * predicate and writes O(matched rows) of (file, position) marks;
    * NO base file is rewritten at any table size (a GDPR delete on a
    * 100 TB table costs the scan plus marks, not a rewrite). Readers
    * anti-join the marks out ([[baseScan]]); REORG APPLY (PURGE)
    * materializes them physically later. Stats cannot pre-prune an
    * opaque predicate, so every base file is scanned once — still
    * strictly cheaper than the CoW rewrite, which scans AND rewrites.
    * Requires compacted state (marks address base copies only; a
    * pending MoR delta row matching the predicate would silently
    * survive). Returns the number of rows marked. */
  def deleteExprPositional(cond: org.apache.spark.sql.Column,
      trackChanges: Boolean = false): Long = {
    val v = currentVersion
    require(deltaEntries(v).isEmpty,
      s"positional DELETE on $root requires compacted state (pending MoR " +
        "deltas — OPTIMIZE folds them first)")
    val dvs = dvEntries(v)
    val entries = fileEntries(v)
    if (entries.isEmpty) return 0L
    val addressed =
      if (dvs.isEmpty) readEntriesAddressed(entries)
      else addressedMinusDvs(entries, dvs)
    val written = writeData(
      addressed.filter(cond <=> true).select(col(DvFileCol), col(DvPosCol)),
      v + 1, None).filter(_.rows > 0)
    if (written.isEmpty) return 0L // no matches: nothing to commit
    // change-data feed: the marked rows ARE the delete pre-images — the
    // same addressed scan re-executes filtered, never a version diff
    val cdc =
      if (!trackChanges) Seq.empty
      else writeChanges(addressed.filter(cond <=> true)
        .drop(DvFileCol, DvPosCol)
        .withColumn(ChangeCol, lit("delete")), v + 1)
    writeManifest(Manifest(v + 1, "DELETE_DV", mergeKeysOf(v), entries,
      Seq.empty, cdc, dvs ++ written))
    written.map(_.rows).sum
  }

  /** Positional UPDATE (Delta 3.1 DV-update parity): matched base rows
    * are MARKED with (file, pos) deletion-vector entries and their
    * post-assignment images APPEND as new files in the same commit —
    * ZERO base files rewritten, O(matched rows) total cost. The update
    * analog of [[deleteExprPositional]]: at 100 TB a predicate UPDATE
    * touching 0.1% of rows must not rewrite every touched file.
    *
    * `updated` must be the post-assignment images of EXACTLY the rows
    * matching `cond` over the current snapshot (the SQL strategy builds
    * it by pushing the UPDATE condition under the rewrite's assignment
    * projection). Change-data capture emits update_preimage rows from
    * the marked positions and update_postimage rows from `updated` —
    * O(changed rows), never a version diff. */
  def updateExprPositional(cond: org.apache.spark.sql.Column,
      updated: DataFrame, trackChanges: Boolean = false,
      partitionBy: Option[String] = None): Long = {
    val v = currentVersion
    require(deltaEntries(v).isEmpty,
      s"positional UPDATE on $root requires compacted state (pending MoR " +
        "deltas — OPTIMIZE folds them first)")
    val dvs = dvEntries(v)
    val entries = fileEntries(v)
    if (entries.isEmpty) return 0L
    val addressed =
      if (dvs.isEmpty) readEntriesAddressed(entries)
      else addressedMinusDvs(entries, dvs)
    val marks = writeData(
      addressed.filter(cond <=> true).select(col(DvFileCol), col(DvPosCol)),
      v + 1, None).filter(_.rows > 0)
    if (marks.isEmpty) return 0L // no matches: nothing to commit
    // the images frame feeds the data write AND the CDF post-image
    // capture — cache it so a non-deterministic SET expression cannot
    // store one value and feed the change feed another
    val cachedImages = registerCommitCache(updated)
    try {
    val newFiles =
      writeData(cachedImages, v + 1, partitionBy).filter(_.rows > 0)
    val cdc =
      if (!trackChanges) Seq.empty
      else {
        val pre = addressed.filter(cond <=> true)
          .drop(DvFileCol, DvPosCol)
          .withColumn(ChangeCol, lit("update_preimage"))
        // the change feed carries LOGICAL rows only — the materialized
        // row-id column (present under row tracking) stays out
        val post = cachedImages.drop(SnapshotTable.RidCol)
          .withColumn(ChangeCol, lit("update_postimage"))
        writeChanges(pre.unionByName(post), v + 1)
      }
    writeManifest(Manifest(v + 1, "UPDATE_DV", mergeKeysOf(v),
      entries ++ newFiles, Seq.empty, cdc, dvs ++ marks))
    marks.map(_.rows).sum
    // a failed commit releases its own caches (success path drains in
    // writeManifest)
    } catch { case e: Throwable => drainCommitCaches(); throw e }
  }

  /** Copy-on-write UPDATE … SET `set` WHERE `colName BETWEEN lo AND hi`
    * (Delta `UPDATE` with data-skipping): file pruning as in
    * [[deleteWhere]]. All SET expressions evaluate against the OLD row
    * (single projection, standard UPDATE semantics — `SET a = b, b = a`
    * swaps). The partition column cannot be assigned (rows never move
    * between partitions, which keeps the carry-over sound). */
  def updateWhere(colName: String, lo: Double, hi: Double,
      set: Map[String, org.apache.spark.sql.Column],
      partitionBy: Option[String] = None,
      trackChanges: Boolean = false): SnapshotTable = {
    val v = currentVersion
    require(deltaEntries(v).isEmpty,
      s"updateWhere on $root requires compacted state (pending MoR deltas)")
    require(!partitionBy.exists(set.contains),
      s"UPDATE on $root must not assign the partition column")
    val pc = physColName(colName)
    val (touched, carryOver) =
      fileEntries(v).partition(e => e.stats.get(pc) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      })
    val matches = (col(colName) >= lo && col(colName) <= hi) <=> true
    def applied(df: DataFrame): DataFrame = df.select(df.columns.map { c =>
      set.get(c) match {
        case Some(e) => when(matches, e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    val written =
      if (touched.isEmpty) Seq.empty
      // rewriteSource: carried AND updated rows keep their ids under
      // row tracking (the extra rid column rides through `applied`
      // untouched — no SET can name an engine column)
      else writeData(applied(rewriteSource(touched, dvEntries(v))),
        v + 1, partitionBy)
    val cdc =
      if (!trackChanges || touched.isEmpty) Seq.empty
      else {
        // both images derive from the SAME pre-update row set: filtering
        // post-update rows would unpair the feed when a SET assigns the
        // predicate column (a row updated out of [lo,hi] must still emit
        // its postimage)
        val old = baseScan(touched, dvEntries(v)).filter(matches)
        writeChanges(
          applied(old).withColumn(ChangeCol, lit("update_postimage"))
            .unionByName(old.withColumn(ChangeCol, lit("update_preimage"))),
          v + 1)
      }
    writeManifest(Manifest(v + 1, "UPDATE", Seq.empty,
      written ++ carryOver, Seq.empty, cdc,
      remainingDvs(v, touched.map(_.path).toSet, v + 1)))
    this
  }

  /** Merge-on-read upsert: append `source` as delta files without
    * touching base files — commit cost is O(source) regardless of table
    * size (the MoR side of the reference's CoW/MoR comparison,
    * README.md:30,36). Reads resolve deltas until [[compact]] folds them
    * in. All deferred merges on a table must use the same `keys`
    * (enforced), mirroring a fixed primary key. Upsert-only (no
    * deferred delete), like the reference's MERGE update-all/insert-all. */
  def mergeDeferred(source: DataFrame, keys: Seq[String], partitionBy: Option[String] = None,
      trackChanges: Boolean = false): SnapshotTable = {
    val v = currentVersion
    val prior = mergeKeysOf(v)
    require(prior.isEmpty || prior == keys,
      s"deferred-merge keys $keys differ from table's $prior")
    val written = writeData(source, v + 1, partitionBy)
    // CDF on the MoR path (Delta/Hudi expose the change feed regardless
    // of CoW/MoR): classification is against the RESOLVED view of the
    // touched partitions — a key whose current value lives in a pending
    // delta gets that delta row as its update preimage, and a key whose
    // newest delta is a tombstone classifies as an insert (resurrection).
    // Cost: O(source + touched partitions), same shape as the CoW capture
    // — the commit itself stays O(source).
    val cdc =
      if (!trackChanges) Seq.empty
      else {
        // The commit just materialized `source` as its delta files: read
        // them back for every capture branch instead of re-executing the
        // source plan (an arbitrary multi-scan pipeline) per branch.
        val src = if (written.nonEmpty) readEntries(written) else source
        // pre-images: the resolved view restricted to the SOURCE's keys
        // up front (keyProbe) — the resolution shuffle is batch-sized,
        // never touched-partition-sized. No distinct: merge sources are
        // unique on keys by contract, and a semi-join probe tolerates
        // duplicates anyway — a distinct here would cost a shuffle
        // before the broadcast build.
        val srcKeys = src.select(keys.map(col): _*)
        val (pre, _) = prunedBase(src, keys, partitionBy, source.schema,
          keyProbe = Some(srcKeys),
          touchedOverride = writtenPartValues(written))
        // Two-write capture, resolution executed ONCE: the preimage
        // slice lands straight in its own change files, which then serve
        // as the (batch-sized, materialized) key probe classifying the
        // source rows into postimage vs insert — without this, each of
        // the three capture branches re-executes the whole base+delta
        // resolution.
        val preCdc = writeChanges(
          pre.withColumn(ChangeCol, lit("update_preimage")), v + 1)
        val preKeys =
          if (preCdc.nonEmpty) readEntries(preCdc).select(keys.map(col): _*)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(
              source.schema.filter(f => keys.contains(f.name))))
        preCdc ++ writeChanges(
          src.join(preKeys, keys, "left_semi")
            .withColumn(ChangeCol, lit("update_postimage"))
            .unionByName(src.join(preKeys, keys, "left_anti")
              .withColumn(ChangeCol, lit("insert"))),
          v + 1)
      }
    writeManifest(Manifest(v + 1, "MERGE_MOR", keys, fileEntries(v),
      deltaEntries(v) ++ written, cdc, dvEntries(v)))
    this
  }

  /** Touched-partition values straight from a commit's written entries
    * (manifest directory-string form) — Some only when every entry is
    * partition-laid-out, else the caller's scan-based fallback runs. */
  private def writtenPartValues(written: Seq[FileEntry]): Option[Set[String]] =
    if (written.nonEmpty && written.forall(_.partValue != null))
      Some(written.map(_.partValue).toSet)
    else None

  /** Merge-on-read DELETE (Iceberg equality-delete analog): append
    * tombstone delta files holding only the deleted KEYS plus a marker
    * column — commit cost is O(delete keys), no base file touched. Reads
    * resolve tombstones with last-writer-wins across kinds (a key
    * re-upserted after a delete resurfaces); [[compact]] folds them away
    * like upsert deltas. The delta side a scan shuffles stays key-width,
    * never row-width — the property that makes high-churn deletes
    * affordable at 100 TB. */
  def mergeDeleteDeferred(source: DataFrame, keys: Seq[String],
      partitionBy: Option[String] = None,
      trackChanges: Boolean = false): SnapshotTable = {
    val v = currentVersion
    val prior = mergeKeysOf(v)
    require(prior.isEmpty || prior == keys,
      s"deferred-delete keys $keys differ from table's $prior")
    val tomb = source.select(keys.map(col): _*).distinct()
      .withColumn(DelCol, lit(true))
    val written = writeData(tomb, v + 1, partitionBy)
    // CDF delete rows are FULL-WIDTH pre-images from the resolved view
    // (a key whose latest value sits in a pending upsert delta emits
    // that row, not the stale base copy; an already-tombstoned or absent
    // key emits nothing — deleting a non-row is a no-op in the feed).
    val cdc =
      if (!trackChanges) Seq.empty
      else {
        // key-restricted resolution (see mergeDeferred): only the
        // tombstoned keys' rows are resolved for full-width pre-images.
        // The tombstones were just materialized as this commit's delta
        // files — probe with the written copy, not a re-execution of
        // the source plan's scan + distinct.
        val probe =
          if (written.nonEmpty) readEntries(written).drop(DelCol)
          else tomb.drop(DelCol)
        val (pre, _) = prunedBase(probe, keys, partitionBy, read(v).schema,
          keyProbe = Some(probe),
          touchedOverride = writtenPartValues(written))
        writeChanges(pre.withColumn(ChangeCol, lit("delete")), v + 1)
      }
    writeManifest(Manifest(v + 1, "DELETE_MOR", keys, fileEntries(v),
      deltaEntries(v) ++ written, cdc, dvEntries(v)))
    this
  }

  /** Shared CoW prologue: split the current file set into partitions the
    * source touches (re-read as the rewrite base, with MoR resolution if
    * deltas are pending) and untouched BASE entries (carried over by
    * reference; untouched deltas are folded too when present, since a
    * delta partition-slice may be empty only for untouched partitions). */
  private def prunedBase(
      source: DataFrame,
      keys: Seq[String],
      partitionBy: Option[String],
      baseSchema: org.apache.spark.sql.types.StructType,
      keyProbe: Option[DataFrame] = None,
      touchedOverride: Option[Set[String]] = None,
      withRids: Boolean = false)
      : (DataFrame, Seq[FileEntry]) = {
    val v = currentVersion
    val entries = fileEntries(v)
    val deltas = deltaEntries(v)
    val pruned = partitionBy.filter(keys.contains)
    // callers whose source is already materialized under `partitionBy`
    // pass the written entries' partition values — same canonical
    // directory-string domain as the manifest, zero jobs
    def touchedValues(p: String): Set[String] = touchedOverride.getOrElse(
      source.select(col(p).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet)
    // an entry laid out under a DIFFERENT partition column (mixed-layout
    // table after an evolved append) says nothing about this column's
    // values — treat it as always-touched, like partValue == null
    def touchedBy(e: FileEntry, p: String, vals: Set[String]): Boolean =
      e.partValue == null || e.partCol != p || vals.contains(e.partValue)
    val (touched, carryOver, touchedDeltas) =
      if (deltas.isEmpty) pruned match {
        case Some(p) =>
          val vals = touchedValues(p)
          val (tb, cb) = entries.partition(touchedBy(_, p, vals))
          (tb, cb, Seq.empty[FileEntry])
        case None => (entries, Seq.empty[FileEntry], Seq.empty[FileEntry])
      } else pruned match {
        case Some(p) if deltas.forall(_.partValue != null) =>
          val vals = touchedValues(p)
          val (tb, cb) = entries.partition(touchedBy(_, p, vals))
          val (td, cd) = deltas.partition(touchedBy(_, p, vals))
          // a CoW commit drops delta entries, so untouched deltas cannot
          // carry over as-is — fold everything in when any would remain
          // (correctness over pruning).
          if (cd.isEmpty) (tb, cb, td) else (entries, Seq.empty[FileEntry], deltas)
        case _ => (entries, Seq.empty[FileEntry], deltas)
      }
    val base =
      if (touched.isEmpty && touchedDeltas.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], baseSchema)
      else if (touchedDeltas.isEmpty) {
        // withRids: under row tracking the CoW DML callers thread the
        // materialized row id through their rewrite (rewriteSource is
        // baseScan when tracking is off — behavior identical there);
        // the MoR-resolution branch has no base addresses to thread
        val scan =
          if (withRids) rewriteSource(touched, dvEntries(v))
          else baseScan(touched, dvEntries(v))
        keyProbe.map(kp => scan.join(broadcast(kp), keys, "left_semi"))
          .getOrElse(scan)
      }
      else resolveMerged(touched, touchedDeltas, mergeKeysOf(v), dvEntries(v),
        keyProbe)
    (base, carryOver)
  }

  /** True iff a deletion-vector mark committed AFTER `fromVersion`
    * (present at `atVersion`, absent at `fromVersion` — content-level
    * anti-join, since another CoW winner may have rewritten v0's marks
    * into new files without adding any) addresses a file in
    * `rewrittenPaths`. That is the one DV interleaving an OCC writer
    * cannot absorb: its rewrite copied the row forward before the mark
    * existed. Cost is O(dv rows) — conflict-resolution-sized, never a
    * data scan. */
  private def conflictingNewDvMarks(
      fromVersion: Int, atVersion: Int, rewrittenPaths: Set[String]): Boolean = {
    val now = dvEntries(atVersion)
    if (now.isEmpty || rewrittenPaths.isEmpty) false
    else {
      import spark.implicits._
      val old = dvEntries(fromVersion)
      val nowMarks = readEntries(now)
      val newMarks =
        if (old.isEmpty) nowMarks
        else nowMarks.join(readEntries(old), Seq(DvFileCol, DvPosCol), "left_anti")
      val slice = rewrittenPaths.toSeq.toDF(DvFileCol)
      !newMarks.join(broadcast(slice), Seq(DvFileCol), "left_semi").isEmpty
    }
  }

  /** Carry deletion vectors across a copy-on-write rewrite: marks
    * addressing files that SURVIVE the commit stay valid; marks
    * addressing rewritten files were already applied by the rewrite's
    * DV-resolved base scan, so they are dropped — one O(dv rows) pass
    * that also keeps the DV set from accumulating stale addresses (and
    * keeps the manifest's exact row accounting sound). With no DVs or
    * no rewritten files the carry is free (entries pass by reference). */
  private def remainingDvs(
      version: Int, rewrittenPaths: Set[String], newVersion: Int): Seq[FileEntry] = {
    val dvs = dvEntries(version)
    if (dvs.isEmpty || rewrittenPaths.isEmpty) dvs
    else {
      import spark.implicits._
      val gone = rewrittenPaths.toSeq.toDF(DvFileCol)
      val kept = readEntries(dvs)
        .join(broadcast(gone), Seq(DvFileCol), "left_anti")
      writeData(kept, newVersion, None).filter(_.rows > 0)
    }
  }

  // ------------------------------------------- idempotent (txn) commits

  /** Highest writer-supplied version recorded for `appId` (Delta
    * `txnAppId`/`txnVersion` analog) — the exactly-once handshake for
    * streaming sinks: a foreachBatch writer tags each commit with its
    * micro-batch id, and a replayed batch (checkpoint recovery
    * re-delivers the last batch) is detected and skipped instead of
    * double-applied. Markers are carried forward by every commit. */
  def txnVersion(appId: String): Option[Long] =
    manifestOf(currentVersion).txns.get(appId)

  /** Idempotent [[append]]: applies only if `version` is newer than the
    * last recorded version for `appId`, recording (appId, version)
    * ATOMICALLY with the commit (same manifest). Returns whether the
    * append was applied — false means a replay was skipped. This is the
    * operation where idempotence is load-bearing: a re-delivered APPEND
    * would duplicate rows (a re-delivered keyed MERGE is content-
    * idempotent, but still wasted work — see [[merge]]'s txn param). */
  def appendIdempotent(df: DataFrame, appId: String, version: Long,
      partitionBy: Option[String] = None): Boolean = {
    val v = currentVersion
    if (manifestOf(v).txns.get(appId).exists(_ >= version)) false
    else {
      val written = writeData(df, v + 1, partitionBy)
      // same retry discipline as [[append]] — but a racing writer of the
      // SAME appId may have recorded this (or a newer) version while we
      // wrote, so the idempotence check re-runs inside the loop
      var committed = false
      while (!committed) {
        val cur = currentVersion
        if (manifestOf(cur).txns.get(appId).exists(_ >= version)) return false
        try {
          writeManifest(Manifest(cur + 1, "APPEND", mergeKeysOf(cur),
            fileEntries(cur) ++ written.map(_.copy(origin = (cur + 1).toLong)),
            deltaEntries(cur), dvs = dvEntries(cur),
            txns = Map(appId -> version)))
          committed = true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException
              | _: java.nio.file.FileAlreadyExistsException => // retry
        }
      }
      true
    }
  }

  /** Full-table overwrite (`INSERT OVERWRITE TABLE` without a partition
    * spec / SaveMode.Overwrite): one commit whose file list is exactly
    * the new data — every previous file, pending delta, and DV mark is
    * superseded (reclaimable by VACUUM). History is preserved: earlier
    * versions stay time-travelable, unlike a drop-and-recreate. */
  def overwriteAll(df: DataFrame, partitionBy: Option[String] = None): SnapshotTable = {
    val v = currentVersion
    val written = writeData(df, v + 1, partitionBy)
    writeManifest(Manifest(v + 1, "OVERWRITE", Seq.empty, written, Seq.empty))
    this
  }

  /** Dynamic partition overwrite (`INSERT OVERWRITE` / Delta
    * `replaceWhere` at partition granularity): partitions PRESENT in
    * `df` are replaced wholesale — their old files are never read, cost
    * is O(new data) — and every other partition carries over by
    * reference. `partitionBy` is the table's partition SPEC — an
    * identity column or a hidden-partitioning transform
    * (`"months(ts)"`, `"bucket(8, k)"`, …); for transforms the
    * replaced set is the TRANSFORMED partition values present in the
    * data (one month's rows replace that month, never the table).
    * Files laid out under a DIFFERENT (or no) layout may hold rows of
    * both kinds, so they are rewritten with the overwritten
    * partitions' rows filtered out (the residue rewrite that keeps
    * mixed-layout tables correct). DV marks addressing replaced files
    * die with them; marks on carried files ride along. */
  def overwritePartitions(df: DataFrame, partitionBy: String): SnapshotTable = {
    val spec = PartitionTransform.parse(partitionBy)
    // the data's partition values in the layout's on-disk form — for a
    // transform layout that is writeColumn(spec) (the exact function the
    // writer names directories with), for identity the cast to string
    val rawVals = df.select(PartitionTransform.writeColumn(spec).as("__graft_pv"))
      .distinct().collect().map(_.getString(0))
    // no rows → no partitions present → nothing replaces: dynamic
    // overwrite of an empty source is a NO-OP (Spark's dynamic-mode
    // contract), not an error and never a truncate
    if (rawVals.isEmpty) return this
    overwritePartitionValues(df, partitionBy,
      rawVals.filter(_ != null).toSet, rawVals.contains(null))
  }

  /** Partition overwrite with an EXPLICIT replaced set (SQL
    * `INSERT OVERWRITE … REPLACE WHERE pc IN (…)` semantics —
    * Spark's OverwriteByExpression contract): every partition named in
    * `vals` (plus the null partition when `hasNull`) is replaced by the
    * matching rows of `df`, whether or not the data HAS rows for it — a
    * filtered partition absent from the data is emptied, and an empty
    * `df` empties every filtered partition. `vals` are the layout's
    * on-disk partition-value strings. Cost O(new data); unfiltered
    * partitions carry by reference. */
  def overwritePartitionValues(df: DataFrame, partitionBy: String,
      vals: Set[String], hasNull: Boolean): SnapshotTable = {
    val v = currentVersion
    require(deltaEntries(v).isEmpty,
      s"overwritePartitions on $root requires compacted state (pending MoR deltas)")
    require(vals.nonEmpty || hasNull,
      s"overwritePartitionValues on $root with an empty replaced set")
    val spec = PartitionTransform.parse(partitionBy)
    val pvCol = PartitionTransform.writeColumn(spec)
    // NULL replaces the null partition like any other value; on disk
    // identity layouts hold it under the Hive default-partition
    // sentinel, so that is the file-level match key
    val diskVals = if (hasNull) vals + HiveNullPart else vals
    val entries = fileEntries(v)
    // a file is same-layout when it was written under THIS spec — the
    // manifest records identity layouts in partCol and transform layouts
    // in xformCol/xformTag (FileEntry doc); anything else is foreign
    def sameLayout(e: FileEntry): Boolean =
      if (spec.tag == null) e.partCol == spec.col
      else e.xformCol == spec.col && e.xformTag == spec.tag
    val foreign = entries.filter(e => e.partValue == null || !sameLayout(e))
    val replaced = entries.filter(e =>
      e.partValue != null && sameLayout(e) && diskVals.contains(e.partValue))
    val carry = entries.filterNot(e => foreign.contains(e) || replaced.contains(e))
    val written = writeData(df, v + 1, Some(partitionBy))
    // rows of mixed-layout files that do NOT belong to a replaced
    // partition survive the rewrite. isin over a null-bearing list is
    // three-valued (non-matches go NULL and get filtered), so null
    // membership is handled by predicate shape, never by isin(null).
    val keepRow = {
      val c = pvCol
      val nonNullKept =
        if (vals.isEmpty) c.isNotNull
        else c.isNotNull && !c.isin(vals.toSeq: _*)
      if (hasNull) nonNullKept else nonNullKept || c.isNull
    }
    val residue =
      if (foreign.isEmpty) Seq.empty
      else writeData(
        baseScan(foreign, dvEntries(v)).filter(keepRow),
        v + 1, Some(partitionBy))
    val gonePaths = (replaced ++ foreign).map(_.path).toSet
    writeManifest(Manifest(v + 1, "OVERWRITE", Seq.empty,
      written ++ residue ++ carry, Seq.empty,
      dvs = remainingDvs(v, gonePaths, v + 1)))
    this
  }

  /** OPTIMIZE with a small-file threshold (Delta `OPTIMIZE` bin-packing
    * semantics, vs [[compact]]'s full rewrite): only files smaller than
    * `minBytes` are folded into size-targeted bins — `targetFiles` bins
    * on an unpartitioned table, ~`minBytes`-sized bins per partition on
    * a partitioned one; every already-compact file carries over by
    * reference — cost ∝ small-file bytes, never table size. At 100 TB
    * this is the difference between a nightly housekeeping job and a
    * full rewrite. DV marks on rewritten files are applied and dropped;
    * marks on carried files persist. */
  def compactSmallFiles(minBytes: Long, targetFiles: Int = 1,
      onlyPartitions: Option[Set[String]] = None): SnapshotTable = {
    val v = currentVersion
    require(deltaEntries(v).isEmpty,
      s"compactSmallFiles on $root requires compacted state (pending MoR deltas)")
    // mirror compactZOrder's guard: scoping by partition on a table with
    // no partition layout would silently match nothing and no-op — a
    // trap for direct API callers (the SQL route pre-validates)
    require(onlyPartitions.isEmpty || layoutSpec.isDefined,
      s"partition-scoped compaction on $root requires a partitioned table")
    // Preserve the table's layout (identity OR hidden transform): the
    // rewrite commits under the same spec, so partition pruning and
    // O(partition) overwrites survive an OPTIMIZE — Delta compacts
    // within partitions for the same reason. Mixed/unknown layouts fall
    // back to unpartitioned bins (there is no single spec to keep).
    val spec = layoutSpec
    val specParsed = spec.map(PartitionTransform.parse)
    def sameLayout(e: FileEntry): Boolean = specParsed.exists(s =>
      if (s.tag == null) e.partCol == s.col
      else e.xformCol == s.col && e.xformTag == s.tag)
    // Partition-scoped OPTIMIZE (`OPTIMIZE t WHERE pc = v`): only
    // same-layout files of the named partitions rewrite; every other
    // file — other partitions AND layout-foreign files (which are not
    // partition-attributable) — carries by reference, path-identical.
    def inScope(e: FileEntry): Boolean = onlyPartitions match {
      case None       => true
      case Some(vals) => sameLayout(e) && vals.contains(e.partValue)
    }
    val (small, big) = fileEntries(v)
      .partition(e => e.bytes < minBytes && inScope(e))
    if (small.size <= 1) this // nothing to gain: 0/1 small file
    else {
      val written =
        writeBinned(small, dvEntries(v), v + 1, spec, minBytes, targetFiles)
      writeManifest(Manifest(v + 1, "OPTIMIZE", mergeKeysOf(v),
        written ++ big, Seq.empty,
        dvs = remainingDvs(v, small.map(_.path).toSet, v + 1)))
      this
    }
  }

  /** The shared rewrite arrangement of OPTIMIZE and REORG: scan exactly
    * `rewrite` (DV marks applied), arranged into size-targeted output
    * bins — WITHIN partitions under `spec`, a flat `targetFiles`-way
    * split otherwise. A partition holding N× `minBytes` of rewritten
    * bytes emits ~N output files, never one unbounded file — Delta bins
    * to maxFileSize for the same reason; at 100 TB "one file per
    * partition" collapses a 10 GiB backlog into a single
    * unsplittable-write task. Bin assignment is driver-side manifest
    * arithmetic: each file maps to a globally-unique bin id (round-robin
    * by descending size within its partition ≈ balanced bins), and the
    * scan range-partitions on that id via its `_metadata.file_path` —
    * no extra scan, no rand(), and bin ids are disjoint across
    * partitions so no task ever straddles two partition directories. */
  private def writeBinned(rewrite: Seq[FileEntry], dvs: Seq[FileEntry],
      nextVersion: Int, spec: Option[String], minBytes: Long,
      targetFiles: Int): Seq[FileEntry] = {
    val df = spec match {
      case Some(_) =>
        val binOf: Map[String, Int] = {
          var next = 0
          rewrite.groupBy(_.partValue).values.flatMap { es =>
            // overflow-safe ceil-div (callers pass Long.MaxValue as an
            // "everything is small" threshold)
            val bins = math.max(1L,
              (es.map(_.bytes).sum - 1) / minBytes + 1).toInt
            val assigned = es.sortBy(-_.bytes).zipWithIndex
              .map { case (e, i) => e.path -> (next + i % bins) }
            next += bins
            assigned
          }.toMap
        }
        val nBins = binOf.values.max + 1
        val addressed0 =
          if (dvs.isEmpty) readEntriesAddressed(rewrite,
            keepRid = rowTrackingEnabled)
          else addressedMinusDvs(rewrite, dvs,
            keepRid = rowTrackingEnabled)
        // row tracking: stamp ids while the address columns are live
        val addressed =
          if (rowTrackingEnabled) withRidColumn(addressed0, rewrite)
          else addressed0
        addressed
          .repartitionByRange(nBins,
            element_at(typedLit(binOf), col(DvFileCol)))
          .drop(DvFileCol, DvPosCol)
      case None => rewriteSource(rewrite, dvs).repartition(targetFiles)
    }
    // cluster = false: the pre-arranged per-partition bins ARE the
    // distribution; writeData's default re-clustering by partition
    // value would collapse them back to one file per partition
    writeData(df, nextVersion, spec, cluster = false)
  }

  /** `REORG TABLE … APPLY (PURGE)` (Delta's deletion-vector purge verb):
    * materialize pending DV marks by rewriting ONLY the DV-addressed
    * data files — the rewrite's DV-resolved scan applies the marks, so
    * the soft-deleted rows become physically absent and the marks drop;
    * every mark-free file carries by reference, path-identical. Cost ∝
    * marked-file bytes, never table size — the difference between
    * purging a sparse delete on a 100 TB table and rewriting it.
    * Rewrites preserve the table layout and bin to ~`minBytes` output
    * files like OPTIMIZE. `onlyPartitions` scopes the purge to named
    * partitions (`REORG … WHERE pc = v`); marks on unscoped files
    * persist. Returns the number of files rewritten (0 = metadata-level
    * no-op, no commit written). After a purge, VACUUM can reclaim the
    * pre-purge files, which still contain the deleted rows — Delta
    * documents REORG PURGE as exactly this GDPR-style physical-removal
    * step. */
  def reorgPurge(minBytes: Long = 128L * 1024 * 1024,
      onlyPartitions: Option[Set[String]] = None): Int = {
    val v = currentVersion
    require(deltaEntries(v).isEmpty,
      s"REORG on $root requires compacted state (pending MoR deltas — " +
        "OPTIMIZE folds them first)")
    require(onlyPartitions.isEmpty || layoutSpec.isDefined,
      s"partition-scoped REORG on $root requires a partitioned table")
    val dvs = dvEntries(v)
    // the distinct set of DV-addressed file paths: O(marked files),
    // bounded by the table's file count — metadata-sized, never rows
    val addressed =
      if (dvs.isEmpty) Set.empty[String]
      else readEntries(dvs).select(col(DvFileCol)).distinct()
        .collect().map(_.getString(0)).toSet
    // column-mapping PURGE (Delta REORG's second job): files whose
    // physical schema still stores a DROPPED column rewrite too, so the
    // soft-dropped data becomes physically absent (the GDPR step before
    // VACUUM). Detection is per-ORIGIN footer schema — O(commits), the
    // footer cache the scan planner already keeps, never a data read.
    val droppedPhys = manifestOf(v).dropped.toSet
    val originCarriesDropped: Map[Long, Boolean] =
      if (droppedPhys.isEmpty) Map.empty
      else fileEntries(v).groupBy(_.origin).map { case (o, es) =>
        o -> SnapshotTable.probeDataSchema(spark, es.map(_.path), Some(o))
          .fieldNames.exists(droppedPhys)
      }
    if (addressed.isEmpty && originCarriesDropped.forall(!_._2)) 0
    else {
      // scoped purge only touches files UNDER the current layout — a
      // layout-foreign file's partValue lives under a different
      // transform, so matching it against the scope literals would be
      // meaningless (same rule as scoped OPTIMIZE)
      val specParsed = layoutSpec.map(PartitionTransform.parse)
      def sameLayout(e: FileEntry): Boolean = specParsed.exists(s =>
        if (s.tag == null) e.partCol == s.col
        else e.xformCol == s.col && e.xformTag == s.tag)
      def inScope(e: FileEntry): Boolean = onlyPartitions.forall(vals =>
        sameLayout(e) && vals.contains(e.partValue))
      val (marked, clean) = fileEntries(v)
        .partition(e => (addressed.contains(e.path) ||
          originCarriesDropped.getOrElse(e.origin, false)) && inScope(e))
      if (marked.isEmpty) 0
      else {
        // preserve the layout like OPTIMIZE (identity or hidden
        // transform); mixed/unknown layouts rewrite unpartitioned
        val spec = layoutSpec
        val bytes = marked.map(_.bytes).sum
        val bins = math.max(1L, (bytes - 1) / minBytes + 1).toInt
        val written = writeBinned(marked, dvs, v + 1, spec, minBytes, bins)
        writeManifest(Manifest(v + 1, "REORG", mergeKeysOf(v),
          written ++ clean, Seq.empty,
          dvs = remainingDvs(v, marked.map(_.path).toSet, v + 1)))
        marked.size
      }
    }
  }

  /** Bin-pack compaction: rewrite the current snapshot into ~`numFiles`
    * files (split across partitions when partitioned). Pending MoR
    * deltas are folded into the compacted base (Hudi-style compaction). */
  def compact(numFiles: Int, partitionBy: Option[String] = None): SnapshotTable = {
    val v = currentVersion
    // row tracking: a compaction of RESOLVED state carries the
    // materialized ids through; folding pending MoR deltas refreshes
    // them (the deferred rows never had base-file addresses)
    def compactSource(): DataFrame =
      if (deltaEntries(v).isEmpty) rewriteSource(fileEntries(v), dvEntries(v))
      else read(v)
    val df = partitionBy match {
      case Some(p) =>
        // ONE arranged shuffle: range-partition on (partition value,
        // deterministic row hash) so `numFiles` tasks SPLIT large
        // partitions into multiple files instead of collapsing each
        // partition to a single unbounded one (which is what letting
        // writeData re-cluster by partition value did — and the
        // pre-repartition it discarded was a wasted second shuffle).
        val src = compactSource()
        src.repartitionByRange(numFiles,
          PartitionTransform.writeColumn(PartitionTransform.parse(p)),
          xxhash64(src.columns.map(col): _*))
      case None => compactSource().repartition(numFiles)
    }
    val written = writeData(df, v + 1, partitionBy, cluster = false)
    writeManifest(Manifest(v + 1, "COMPACT", Seq.empty, written, Seq.empty))
    this
  }

  /** OPTIMIZE ZORDER BY analog: rewrite the current snapshot clustered
    * on the Morton curve of two scale-normalized dimensions
    * (graft_zorder — codegen'd Catalyst expression), range-partitioned
    * into `numFiles` and sorted within files. BOTH dimensions end up
    * with sub-linear per-file [min,max] spans in the footer stats the
    * manifest captures, so [[readRange]] prunes files on EITHER column —
    * the multi-dimensional data-skipping layout Delta's OPTIMIZE ZORDER
    * exists to produce. Pending MoR deltas fold in like [[compact]]. */
  /** Morton-curve arrangement shared by [[compactZOrder]] and
    * [[clusterIncremental]]: scale-normalize every dim to a 16-bit
    * lattice (raw interleaving biases toward the wider-ranged column),
    * interleave with the codegen'd `graft_zorder`, then range-partition
    * + in-file sort on (partition value, curve). Bounds come from the
    * manifest's footer stats — no extra scan; a stat-less column falls
    * back to one min/max aggregate over the source. */
  private def zorderArrange(source: DataFrame, zcols: Seq[String],
      numFiles: Int,
      specParsed: Option[PartitionTransform.Spec]): DataFrame = {
    // stat-less dimensions fall back to a scan for bounds — folded into
    // ONE aggregate with 2K measures, so K stat-less columns cost one
    // pass over the rewrite source, never K
    val statless = zcols.filter(statsMinMax(_).isEmpty).distinct
    val scanned: Map[String, (Double, Double)] =
      if (statless.isEmpty) Map.empty
      else {
        val measures = statless.flatMap(c => Seq(
          org.apache.spark.sql.functions.min(col(c).cast("double")),
          org.apache.spark.sql.functions.max(col(c).cast("double"))))
        val r = source.agg(measures.head, measures.tail: _*).head()
        statless.zipWithIndex.map { case (c, i) =>
          // empty table / all-null column: any constant lattice cell works
          c -> (if (r.isNullAt(2 * i) || r.isNullAt(2 * i + 1)) (0.0, 0.0)
                else (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
        }.toMap
      }
    def bounds(c: String): (Double, Double) =
      statsMinMax(c).orElse(scanned.get(c)).getOrElse((0.0, 0.0))
    def norm(c: String): org.apache.spark.sql.Column = {
      val (lo, hi) = bounds(c)
      val span = math.max(hi - lo, 1e-12)
      // clamp BOTH ends: stats can lag the data (e.g. folded delta rows
      // below the base files' min), and graft_zorder needs [0, 65535]
      org.apache.spark.sql.functions.least(
        org.apache.spark.sql.functions.greatest(
          org.apache.spark.sql.functions.floor(
            (col(c).cast("double") - lit(lo)) * 65536.0 / lit(span)),
          lit(0L)),
        lit(65535L)).cast("long")
    }
    val zc = "__graft_z"
    val dimCols = zcols.indices.map(i => s"__graft_zd$i")
    val withDims = zcols.zip(dimCols).foldLeft(source) {
      case (d, (c, dc)) => d.withColumn(dc, norm(c))
    }
    val withZ = withDims.withColumn(zc,
      org.apache.spark.sql.functions.expr(
        s"graft_zorder(${dimCols.mkString(", ")})"))
    specParsed match {
      case Some(p) =>
        // cluster by (partition value, curve): contiguous partition runs
        // per task, curve-ordered within — the partitioned writer then
        // emits curve-spanned files inside each partition directory
        val pv = "__graft_zpv"
        withZ.withColumn(pv, PartitionTransform.writeColumn(p))
          .repartitionByRange(numFiles, col(pv), col(zc))
          .sortWithinPartitions(pv, zc)
          .drop((dimCols :+ zc :+ pv): _*)
      case None =>
        withZ.repartitionByRange(numFiles, col(zc))
          .sortWithinPartitions(zc)
          .drop((dimCols :+ zc): _*)
    }
  }

  /** Incremental clustering (Delta liquid-clustering OPTIMIZE analog):
    * rewrite onto the Morton curve of `zcols` ONLY the files written
    * since the last clustering commit (ZORDER or CLUSTER operation);
    * already-clustered files carry by reference, path-identical. Each
    * OPTIMIZE therefore costs O(new data since the last run), never
    * O(table) — the property that makes scheduled clustering viable at
    * 100 TB. Returns the number of files rewritten. The curve lattice
    * normalizes against WHOLE-TABLE stats, so successive increments
    * cluster on the same coordinates and file-level [min,max] spans
    * stay tight table-wide. */
  def clusterIncremental(zcols: Seq[String],
      minBytes: Long = 128L * 1024 * 1024, full: Boolean = false): Int = {
    require(zcols.nonEmpty && zcols.size <= 4,
      s"CLUSTER BY takes 1 to 4 columns, got ${zcols.size}")
    val v = currentVersion
    require(deltaEntries(v).isEmpty && dvEntries(v).isEmpty,
      s"incremental clustering on $root requires compacted state " +
        "(pending MoR deltas / DV marks)")
    graft.functions.GraftFunctions.registerAll(spark)
    // `full` (Delta's `OPTIMIZE … FULL`): recluster EVERYTHING —
    // the escape hatch after changing the clustering columns, where
    // "already clustered" files are clustered on the WRONG curve
    // CLONE/RESTORE replace the file set wholesale (clone origins are
    // even rebased negative) — clustering state resets there, so only
    // clustering commits AFTER the latest reset count
    val lastReset = versions
      .filter(x => { val op = manifestOf(x).operation
        op == "CLONE" || op == "RESTORE" })
      .maxOption.getOrElse(-1)
    val lastCluster =
      if (full) -1
      else versions
        .filter(x => x > lastReset && { val op = manifestOf(x).operation
          op == "ZORDER" || op == "CLUSTER" })
        .maxOption.getOrElse(-1)
    // never-clustered (or FULL): EVERYTHING is tail — including
    // shallow-clone-carried files, whose origins are rebased NEGATIVE
    // and would otherwise never satisfy an origin comparison
    val (tail, carried) =
      if (lastCluster < 0) (fileEntries(v), Seq.empty[FileEntry])
      else fileEntries(v).partition(_.origin > lastCluster)
    if (tail.isEmpty) return 0
    val spec = layoutSpec
    val numFiles = math.max(1L,
      (tail.map(_.bytes).sum + minBytes - 1) / minBytes).toInt
    val df = zorderArrange(rewriteSource(tail, Seq.empty), zcols, numFiles,
      spec.map(PartitionTransform.parse))
    val written = writeData(df, v + 1, spec, cluster = false)
    writeManifest(Manifest(v + 1, "CLUSTER", mergeKeysOf(v),
      written ++ carried, Seq.empty))
    tail.size
  }

  def compactZOrder(numFiles: Int, colA: String, colB: String): SnapshotTable =
    compactZOrder(numFiles, Seq(colA, colB))

  /** n-ary form (1–4 dimensions; 16 interleaved bits each — beyond four
    * columns the per-dimension skipping value collapses anyway, which is
    * why Delta documents the same practical bound). When the table has a
    * partition layout ([[layoutSpec]]) the rewrite clusters WITHIN
    * partitions — range-partitioned by (partition value, curve value) —
    * and commits under the same spec, so partition pruning and
    * O(partition) overwrites survive the ZORDER. `onlyPartitions`
    * restricts the rewrite to the named partitions; every other file
    * carries by reference, path-identical. */
  def compactZOrder(numFiles: Int, zcols: Seq[String],
      onlyPartitions: Option[Set[String]] = None): SnapshotTable = {
    require(zcols.nonEmpty && zcols.size <= 4,
      s"ZORDER BY takes 1 to 4 columns, got ${zcols.size} " +
        s"(${zcols.mkString(", ")})")
    val v = currentVersion
    graft.functions.GraftFunctions.registerAll(spark)
    val spec = layoutSpec
    val specParsed = spec.map(PartitionTransform.parse)
    require(onlyPartitions.isEmpty || spec.isDefined,
      s"partition-scoped ZORDER on $root requires a partitioned table")
    def sameLayout(e: FileEntry): Boolean = specParsed.exists(s =>
      if (s.tag == null) e.partCol == s.col
      else e.xformCol == s.col && e.xformTag == s.tag)
    val (scoped, carried) = onlyPartitions match {
      case None => (fileEntries(v), Seq.empty[FileEntry])
      case Some(vals) => fileEntries(v).partition(e =>
        sameLayout(e) && vals.contains(e.partValue))
    }
    // A scoped rewrite must not fold pending deltas/DVs of UNSCOPED
    // files away silently — restrict scoping to resolved state.
    require(onlyPartitions.isEmpty ||
        (deltaEntries(v).isEmpty && dvEntries(v).isEmpty),
      s"partition-scoped ZORDER on $root requires compacted state")
    val source = onlyPartitions match {
      // folds pending MoR deltas (Hudi-style); with row tracking on and
      // compacted state the scan carries the materialized ids through
      case None if deltaEntries(v).isEmpty =>
        rewriteSource(fileEntries(v), dvEntries(v))
      case None    => read(v)
      case Some(_) => rewriteSource(scoped, Seq.empty)
    }
    val df = zorderArrange(source, zcols, numFiles, specParsed)
    // cluster = false: writeData's default re-clustering by partition
    // value would destroy the curve ordering just built
    val written = writeData(df, v + 1, spec, cluster = false)
    writeManifest(Manifest(v + 1, "ZORDER",
      if (onlyPartitions.isEmpty) Seq.empty else mergeKeysOf(v),
      written ++ carried, Seq.empty))
    this
  }

  /** Metadata-only shallow clone (Delta `SHALLOW CLONE` analog): the
    * clone's version 0 references this table's current files — zero data
    * copied, O(manifest) cost. DML on the clone writes under the clone's
    * root; carried-over source files stay shared by reference. */
  def shallowCloneTo(dst: String): SnapshotTable =
    shallowCloneTo(dst, currentVersion)

  /** Clone pinned at a historical version (`SHALLOW CLONE … VERSION AS
    * OF n`): the clone's version 0 references that version's files.
    * With `orReplace` an EXISTING target is replaced instead — the
    * clone lands as the target's NEXT commit (Delta's CREATE OR REPLACE
    * … CLONE), so the target's prior history stays time-travelable. */
  def shallowCloneTo(dst: String, asOfVersion: Int,
      orReplace: Boolean = false): SnapshotTable = {
    val v = asOfVersion
    val clone = new SnapshotTable(spark, dst)
    val atVersion = if (orReplace && clone.exists) clone.currentVersion + 1
      else 0
    // Re-base carried ORIGINS below the clone's own version numbering:
    // the clone commits from version 1, so a carried pending delta with
    // origin ≥ 1 (a commit of THIS table's history) would tie or outrank
    // the clone's future deltas in last-writer-wins resolution — silent
    // wrong answers on a cloned MoR table. An order-preserving shift
    // into negatives keeps every carried generation strictly older than
    // every clone commit, and composes (cloning a clone shifts again).
    val all = fileEntries(v) ++ deltaEntries(v) ++ dvEntries(v)
    val shift = if (all.isEmpty) 0L else all.map(_.origin).max + 1L
    def rebased(es: Seq[FileEntry]): Seq[FileEntry] =
      es.map(e => e.copy(origin = e.origin - shift))
    clone.writeManifest(Manifest(atVersion, "CLONE", mergeKeysOf(v),
      rebased(fileEntries(v)), rebased(deltaEntries(v)),
      dvs = rebased(dvEntries(v)),
      renames = manifestOf(v).renames, dropped = manifestOf(v).dropped,
      fieldMeta = manifestOf(v).fieldMeta,
      widened = manifestOf(v).widened,
      rowIdHwm = manifestOf(v).rowIdHwm,
      // the clone carries the SOURCE's identity marks so clone inserts
      // can never re-issue ids the carried rows already hold
      identHwm = manifestOf(v).identHwm))
    // The clone inherits the durable property sidecar: a hidden-layout
    // table's partition spec and bloom-filter columns live there — a
    // clone losing them would write subsequent commits unpartitioned
    // (no pruning) and unprotected (no row-group skipping). A
    // property-less SOURCE conversely must CLEAR a replaced target's
    // old sidecar (stale constraints / layout / clustering specs must
    // not govern the cloned content).
    if (fs.exists(propsPath)) clone.writeSidecar(sidecarNode())
    else if (clone.fs.exists(clone.propsPath))
      clone.fs.delete(clone.propsPath, false): Unit
    clone.bloomColsCache = None
    clone.synthPartCache = None
    clone
  }

  /** Deep clone (Delta `DEEP CLONE`): the target gets its OWN copy of
    * the data — one distributed rewrite of the cloned version, committed
    * under the source's partition layout, with the property sidecar
    * (layout spec, bloom columns) carried over. Unlike [[shallowCloneTo]]
    * nothing is shared, so vacuuming the source can never strand the
    * clone. Cost is O(cloned data) by design — that is the DEEP
    * contract; use shallow when referencing suffices. */
  def deepCloneTo(dst: String, asOfVersion: Int = -1,
      orReplace: Boolean = false): SnapshotTable = {
    val v = if (asOfVersion < 0) currentVersion else asOfVersion
    val clone = new SnapshotTable(spark, dst)
    // create() commits version 0 via the write-once manifest — an
    // existing table at dst fails there (CREATE semantics, like
    // shallow); with orReplace an existing target takes the copy as a
    // full-table CLONE commit, prior history time-travelable. The CLONE
    // operation RESETS the target's column mapping / field-metadata
    // overlay: the deep copy materializes the source's LOGICAL state
    // under fresh physical names, so the replaced target's stale
    // renames/dropped/fieldMeta must not re-map or hide its columns.
    if (orReplace && clone.exists) {
      val cv = clone.currentVersion
      // physical = true: the frame is the SOURCE's logical state and this
      // CLONE commit resets the target's mapping to empty — the replaced
      // target's stale renames must not re-map columns whose logical
      // names happen to collide (the re-clone-from-backup case)
      val written = clone.writeData(read(v), cv + 1, layoutSpecAt(v),
        physical = true)
      clone.writeManifest(Manifest(cv + 1, "CLONE", Seq.empty,
        written, Seq.empty))
    }
    else clone.create(read(v), partitionBy = layoutSpecAt(v))
    // the clone takes the SOURCE's property sidecar wholesale — and a
    // property-less source must also CLEAR a replaced target's old
    // sidecar (stale constraints / layout / clustering specs must not
    // govern the new content)
    if (fs.exists(propsPath)) clone.writeSidecar(sidecarNode())
    else if (clone.fs.exists(clone.propsPath))
      clone.fs.delete(clone.propsPath, false): Unit
    clone.bloomColsCache = None
    clone.synthPartCache = None
    clone
  }

  /** Physically delete data files under THIS root that no retained
    * version references, then drop the vacuumed versions' manifests.
    * `retainVersions = 1` keeps only the current version. Files outside
    * this root (shallow-clone references) are never touched. Returns the
    * number of files deleted. Time travel below the cutoff is gone —
    * that is the point (storage reclamation). */
  def vacuum(retainVersions: Int = 1): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    val cur = currentVersion
    val cutoff = math.max(0, cur - retainVersions + 1)
    val removed = reclaimableBelow(cutoff)
    removed.foreach(p => fs.delete(new Path(p), false))
    // The incremental log reconstructs DELTA records against their
    // predecessors — deleting versions below the cutoff would orphan a
    // delta chain whose checkpoint is being reclaimed. Materialize the
    // cutoff as a FULL manifest first (content-identical rewrite of a
    // write-once file, under the same single-JVM commit lock every log
    // access takes), so the retained log is self-contained.
    if (cutoff > 0) materializeCheckpoint(cutoff)
    (0 until cutoff).foreach { v =>
      val p = manifestPath(v)
      manifestCache.remove(p.toString)
      fs.delete(p, false)
    }
    removed.size
  }

  /** Data files under this root no version ≥ `cutoff` references — the
    * set [[vacuum]] deletes and [[vacuumDryRun]] previews. Pure
    * metadata + one listing, zero data files opened. */
  private def reclaimableBelow(cutoff: Int): Seq[String] = {
    val keep: Set[String] = (cutoff to currentVersion).flatMap { v =>
      val m = manifestOf(v)
      (m.files ++ m.deltas ++ m.changes ++ m.dvs).map(_.path)
    }.toSet
    listDataFiles(fs, dataRoot).map(_._1).filterNot(keep)
  }

  /** What [[vacuum]] WOULD delete, without deleting anything (Delta's
    * `VACUUM … DRY RUN`): the data files only versions below the
    * retention window reference, sorted. No log surgery, no state
    * change — safe to run on any table at any time. */
  def vacuumDryRun(retainVersions: Int = 1): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the current version")
    reclaimableBelow(
      math.max(0, currentVersion - retainVersions + 1)).sorted
  }

  /** Iceberg `remove_orphan_files` analog: delete data files under this
    * root that NO version references — the staged output of losing OCC
    * attempts (uniquely-named attempt dirs whose writer lost the
    * write-once manifest race) and crash leftovers. Only files modified
    * at or before `olderThan` (epoch millis; default now − 3 days, the
    * same guard Iceberg defaults) are touched: a younger unreferenced
    * file may belong to a commit still in flight between its data write
    * and its manifest landing. No log surgery, no version changes —
    * time travel is unaffected (unlike [[vacuum]]). Returns the deleted
    * paths, sorted. */
  def removeOrphanFiles(olderThan: Long = -1L): Seq[String] = {
    val horizon =
      if (olderThan >= 0) olderThan
      else System.currentTimeMillis() - 3L * 24 * 3600 * 1000
    // keep-set over EVERY version: anything referenced anywhere in the
    // retained log is not an orphan (mtime checked only on candidates)
    val orphans = reclaimableBelow(0).filter(p =>
      fs.getFileStatus(new Path(p)).getModificationTime <= horizon).sorted
    orphans.foreach(p => fs.delete(new Path(p), false))
    orphans
  }

  /** Rewrite version `v`'s log file as a FULL manifest if it is a DELTA
    * record (no-op otherwise). Semantically identical content — only the
    * encoding changes — so overwriting the write-once file is sound. */
  private def materializeCheckpoint(v: Int): Unit = commitLock.synchronized {
    val p = manifestPath(v)
    parseRecord(readFileString(fs, p)) match {
      case _: DeltaRecord =>
        val full = manifestOf(v) // reconstructs (and caches) the state
        replaceLogFileAtomic(p, manifestJson(full))
      case _: FullRecord => ()
    }
  }

  /** Replace log file `p` with `json` without ever exposing a torn
    * record: write a complete temp sibling first, then rename it over
    * the target. `fs.create(overwrite=true)` truncates BEFORE writing —
    * a crash mid-write would corrupt the checkpoint every retained
    * DELTA record chains to. Rename is atomic where the store supports
    * it; on stores whose rename refuses an existing destination the
    * delete+rename fallback still never exposes a partial file (worst
    * case the target is briefly absent with the complete temp alongside
    * for recovery). */
  private def replaceLogFileAtomic(p: Path, json: String): Unit = {
    val tmp = writeLogTemp(p, json)
    publishLogTemp(tmp, p)
  }

  private def writeLogTemp(target: Path, json: String): Path = {
    val tmp = new Path(target.getParent,
      s".${target.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, /* overwrite = */ false)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    tmp
  }

  private def publishLogTemp(tmp: Path, target: Path): Unit =
    if (!fs.rename(tmp, target)) {
      fs.delete(target, false)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(
          s"atomic log rewrite failed: $tmp -> $target")
    }

  /** Roll the log back to version `v`, discarding every later commit:
    * log records above `v` are deleted newest-first, then data files
    * only those versions referenced are reclaimed. The database-level
    * vacuum uses this to drop crash-orphaned UNPUBLISHED versions (a
    * transaction that committed its table halves but died before the
    * atomic db publish) — by construction nothing has ever read them.
    * A crash mid-rollback leaves either a shorter-but-consistent log or
    * unreferenced data files a later vacuum reclaims. Returns the
    * number of versions dropped. */
  def rollbackTo(v: Int): Int = commitLock.synchronized {
    val vs = versions
    require(vs.contains(v), s"rollbackTo($v): version not in log (${vs.min}..${vs.max})")
    val dropped = vs.filter(_ > v)
    if (dropped.isEmpty) return 0
    val keep: Set[String] = vs.filter(_ <= v).flatMap { k =>
      val m = manifestOf(k)
      (m.files ++ m.deltas ++ m.changes ++ m.dvs).map(_.path)
    }.toSet
    val reclaim = dropped.flatMap { k =>
      val m = manifestOf(k)
      (m.files ++ m.deltas ++ m.changes ++ m.dvs).map(_.path)
    }.toSet -- keep
    // logs first, newest-first: the table shrinks to a consistent prefix
    // at every step; data files orphaned by a crash stay unreferenced
    dropped.sorted.reverse.foreach { k =>
      val p = manifestPath(k)
      manifestCache.remove(p.toString)
      fs.delete(p, false)
    }
    reclaim.foreach(p => fs.delete(new Path(p), false))
    invalidateCaches() // rolled-back schema evolution must not linger
    dropped.size
  }

  /** Time-based retention (Delta `VACUUM … RETAIN n HOURS` analog):
    * drop every version whose commit instant precedes the newest commit
    * at or before `ts` — time travel to any instant >= `ts` keeps
    * working, older reclaims. Metadata resolution via [[versionAsOf]]
    * (pure manifest), deletion via [[vacuum]]. The current version is
    * always retained (versionAsOf <= currentVersion by construction). */
  def vacuumOlderThan(ts: Long): Int =
    vacuum(retainVersions = currentVersion - versionAsOf(ts) + 1)

  /** Delta `GENERATE symlink_format_manifest` analog: write a text
    * manifest listing the CURRENT version's data-file paths (one per
    * line, sorted) so engines that know nothing of the commit log can
    * read exactly the committed snapshot — superseded files,
    * losing-OCC orphans, and CDC/DV side-cars are absent by
    * construction, because only the manifest's file list is exported.
    * Requires resolved state: pending MoR deltas or DV marks resolve at
    * scan time and cannot be expressed as a plain file list. Returns
    * the manifest file path. */
  /** Metadata surgery for a table whose DIRECTORY was moved (SQL
    * `ALTER TABLE … RENAME`): log records reference data files by
    * absolute path, so every record is rewritten from `oldRoot` to this
    * root and both roots' cached state is dropped. The data files moved
    * with the directory — cost is O(log records), never O(data). Same
    * caveat as vacuuming a cloned source: shallow clones that reference
    * the OLD path are stranded. */
  def rebaseLog(oldRoot: String): Unit = commitLock.synchronized {
    val oldAbs = new Path(oldRoot).toUri.getPath
    val newAbs = rootPath.toUri.getPath
    require(oldAbs != newAbs, s"rebaseLog: $oldRoot is already this root")
    val oldPrefix = oldAbs + "/"
    val newPrefix = newAbs + "/"
    // Structural rewrite: parse each record and swap the root on
    // path-bearing fields ONLY (entry paths, rm_* path arrays). A raw
    // text substitution would also rewrite an occurrence of the old root
    // inside non-path fields — partition values, min/max stat strings —
    // corrupting metadata.
    def swap(p: String): String = {
      val i = p.indexOf(oldPrefix) // paths may carry a scheme prefix
      if (i < 0) p
      else p.substring(0, i) + newPrefix + p.substring(i + oldPrefix.length)
    }
    def swapEntries(es: Seq[FileEntry]): Seq[FileEntry] =
      es.map(e => e.copy(path = swap(e.path)))
    val rewritten: Seq[(Path, String)] = versions.map { v =>
      val p = manifestPath(v)
      val json = parseRecord(readFileString(fs, p)) match {
        case FullRecord(m) => manifestJson(m.copy(
          files = swapEntries(m.files), deltas = swapEntries(m.deltas),
          changes = swapEntries(m.changes), dvs = swapEntries(m.dvs)))
        case d: DeltaRecord => deltaRecordJson(d.copy(
          addFiles = swapEntries(d.addFiles), rmFiles = d.rmFiles.map(swap),
          addDeltas = swapEntries(d.addDeltas), rmDeltas = d.rmDeltas.map(swap),
          addDvs = swapEntries(d.addDvs), rmDvs = d.rmDvs.map(swap),
          changes = swapEntries(d.changes)))
      }
      (p, json)
    }
    // Two-phase publish: every rewritten record lands complete in a temp
    // file before any target is touched, then temps rename over their
    // targets in version order — a crash leaves each log file either old
    // or new, never torn.
    val staged = rewritten.map { case (p, json) => (writeLogTemp(p, json), p) }
    staged.foreach { case (tmp, p) => publishLogTemp(tmp, p) }
    invalidateCachesUnder(oldAbs)
    invalidateCachesUnder(newAbs)
  }

  /** Drop process-wide cached manifests/schemas under this root — call
    * after deleting the table directory so a later table created at the
    * SAME path (deterministic manifest names) can't be served stale
    * state. */
  def invalidateCaches(): Unit = {
    bloomColsCache = None
    synthPartCache = None
    invalidateCachesUnder(rootPath.toUri.getPath)
  }

  private def invalidateCachesUnder(rootAbs: String): Unit = {
    val prefix = rootAbs + "/"
    manifestCache.keySet.removeIf(_.contains(prefix))
    schemaCache.keySet.removeIf(_.contains(prefix))
    // a table re-created at the same path must restart its identity
    // sequences at their declared START, not the dropped table's mark.
    // Keys are "root col" — match the ROOT portion exactly (path-
    // normalized, spelling-insensitive): a substring test would evict
    // sibling tables' counters (/data/t clearing /data/t2) mid-session,
    // re-seeding them from stats and re-issuing in-flight reservations.
    SnapshotTable.identityHwm.keySet.removeIf { k =>
      val i = k.indexOf(SnapshotTable.IdentKeySep)
      i > 0 && {
        val kr = k.substring(0, i)
        kr == rootAbs ||
          (try new Path(kr).toUri.getPath == rootAbs
           catch { case _: IllegalArgumentException => false })
      }
    }
    ()
  }

  def generateSymlinkManifest(): String = {
    val v = currentVersion
    require(deltaEntries(v).isEmpty && dvEntries(v).isEmpty,
      s"symlink manifest of $root requires compacted state " +
        "(pending MoR deltas / DV marks are scan-time state, not files)")
    val dir = new Path(root, "_symlink_format_manifest")
    fs.mkdirs(dir)
    val p = new Path(dir, "manifest")
    val out = fs.create(p, /* overwrite = */ true)
    try out.write(fileEntries(v).map(_.path).sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    p.toString
  }

  /** DESCRIBE HISTORY analog: (version, operation, num_files, num_rows,
    * pending_delta_rows). Built from the cached log — no data or parquet
    * reads. `num_rows` is the PHYSICAL count (base + pending delta rows,
    * DV marks subtracted); when `pending_delta_rows > 0` some delta rows
    * may shadow base rows, so the logical count can be lower — resolve
    * it with [[countFromManifest]] (which detects the case and counts
    * the resolved scan). */
  def history: DataFrame = {
    import spark.implicits._
    versions.sorted.map(manifestOf)
      .map(m => (m.version, m.operation, m.numFiles, m.numRows, m.numDeltaRows))
      .toDF("version", "operation", "num_files", "num_rows",
        "pending_delta_rows")
  }

  /** SHOW PARTITIONS analog straight from the manifest: one row per
    * (partition column, value) with file/row/byte counts — O(entries)
    * metadata, zero data files opened, any table size. Unpartitioned
    * files report under a null column/value. */
  def partitionsDf: DataFrame = {
    import spark.implicits._
    files.groupBy(e => (Option(e.partCol), Option(e.partValue)))
      .map { case ((c, pv), es) =>
        (c, pv, es.size.toLong, es.map(_.rows).sum, es.map(_.bytes).sum)
      }
      .toSeq.sortBy(t => (t._1.getOrElse(""), t._2.getOrElse("")))
      .toDF("part_col", "part_value", "num_files", "num_rows", "total_bytes")
  }

  /** Iceberg `files`-metadata-table analog: one row per current data
    * file, straight from the manifest. */
  def filesDf: DataFrame = {
    import spark.implicits._
    files.map(e => (e.path, Option(e.partCol), Option(e.partValue),
        e.rows, e.bytes, e.origin))
      .toDF("path", "part_col", "part_value", "num_rows", "bytes",
        "origin_version")
  }

  /** DESCRIBE DETAIL analog for the latest version; same physical-count
    * semantics (and the same `pending_delta_rows` caveat) as [[history]].
    * `table_features` (Delta's tableFeatures analog) lists the engine
    * features ACTIVE on this table — properties set, overlays in use,
    * schema markers present — so operators can audit state without
    * reading manifests. */
  def detail: DataFrame = {
    import spark.implicits._
    val m = manifestOf(currentVersion)
    Seq((m.version, m.numFiles, (m.files ++ m.deltas).map(_.bytes).sum,
        m.numRows, m.numDeltaRows, tableFeatures.mkString(",")))
      .toDF("version", "num_files", "total_bytes", "num_rows",
        "pending_delta_rows", "table_features")
  }

  /** The engine features active on this table, sorted. Metadata-only:
    * one manifest + sidecar + schema look, no data reads. */
  def tableFeatures: Seq[String] = {
    val m = manifestOf(currentVersion)
    val schema = read(currentVersion).schema
    val b = Seq.newBuilder[String]
    if (property(GraftV2Table.DvDeleteProp).contains("true") ||
        m.dvs.nonEmpty) b += "deletionVectors"
    if (property(GraftV2Table.CdcProp).contains("true"))
      b += "changeDataFeed"
    if (rowTrackingEnabled) b += "rowTracking"
    if (schema.fields.exists(f => org.apache.spark.sql.catalyst.util
        .IdentityColumn.isIdentityColumn(f))) b += "identityColumns"
    if (schema.fields.exists(f => org.apache.spark.sql.catalyst.util
        .GeneratedColumn.getGenerationExpression(f).isDefined))
      b += "generatedColumns"
    if (m.fieldMeta.values.exists { j =>
        val md = org.apache.spark.sql.types.Metadata.fromJson(j)
        md.contains(SnapshotTable.NotNullKey) &&
          md.getBoolean(SnapshotTable.NotNullKey)
      }) b += "notNullConstraints"
    if (m.widened.nonEmpty) b += "typeWidening"
    if (m.renames.nonEmpty || m.dropped.nonEmpty) b += "columnMapping"
    if (propertiesMap.keys.exists(
        _.startsWith(GraftV2Table.CheckConstraintProp)))
      b += "checkConstraints"
    if (property(SnapshotTable.ClusterSpecProp).isDefined)
      b += "liquidClustering"
    if (m.deltas.nonEmpty) b += "pendingMergeOnRead"
    if (m.identHwm.nonEmpty) b += "identityHighWaterMark"
    b.result().sorted
  }

  // ------------------------------------------------------------------

  /** Write `df` into this commit's data dir and return its file entries
    * (row counts + per-column numeric min/max from parquet footers —
    * metadata-only, O(new files), fetched in parallel). */
  private def writeData(
      dfLogical: DataFrame, version: Int, partitionBy: Option[String],
      cluster: Boolean = true, physical: Boolean = false): Seq[FileEntry] = {
    // write boundary of the column mapping: frames arrive LOGICAL, files
    // carry PHYSICAL names (mapping of the predecessor version — the
    // commit being written can't have changed it, mapping ops write no
    // data). Identity on unmapped tables. `physical` callers (the OR
    // REPLACE CLONE write, whose commit RESETS the mapping so physical
    // == logical) bypass the translation: applying the REPLACED
    // target's stale renames there would store a source column under
    // the old physical name the reset mapping no longer re-points.
    val dfPhys =
      if (version == 0 || physical) dfLogical
      else toPhysicalDf(dfLogical, version - 1)
    // Writer-side NOT NULL enforcement (Delta's invariant shape): SQL
    // writes are also checked by Spark's output resolver, but the
    // engine API (append/merge/mergeDeferred) bypasses it — and one
    // committed NULL would make the scan's non-nullable schema LIE to
    // the optimizer (IsNull/IsNotNull folding → wrong results, not an
    // error). Row-local codegen'd check inside the write job itself;
    // zero extra passes, raises from the task, nothing commits. Runs
    // in PHYSICAL space (fieldMeta keys physical names); identity
    // columns pass because [[fillIdentity]] ran before this point.
    val df = {
      def marked(md: org.apache.spark.sql.types.Metadata): Boolean =
        md.contains(SnapshotTable.NotNullKey) &&
          md.getBoolean(SnapshotTable.NotNullKey)
      val fromPrev: Set[String] =
        if (version == 0 || physical) Set.empty
        else manifestOf(version - 1).fieldMeta.collect {
          case (n, j) if marked(
            org.apache.spark.sql.types.Metadata.fromJson(j)) => n
        }.toSet
      val markedFields = dfPhys.schema.fields
        .filter(f => marked(f.metadata) || fromPrev(f.name))
      if (markedFields.isEmpty) dfPhys
      else {
        val byName = markedFields.map(f => f.name).toSet
        dfPhys.select(dfPhys.schema.fields.map { f =>
          if (!byName.contains(f.name)) col(f.name)
          else when(col(f.name).isNull, raise_error(lit(
              s"NOT NULL constraint violated: column ${f.name} is null")))
            .otherwise(col(f.name)).cast(f.dataType).as(f.name, f.metadata)
        }.toSeq: _*)
      }
    }
    // Unique per-ATTEMPT dir (version prefix + nonce): two writers racing
    // the same version never touch each other's files — the write-once
    // manifest is the only commit point, and a losing attempt's orphaned
    // data is unreferenced by every manifest, so VACUUM reclaims it
    // (exactly Delta's uniquely-named-files + atomic-log-entry model).
    val dataDir = new Path(root,
      f"data/c$version%05d_" + java.util.UUID.randomUUID().toString.take(8))
    // `partitionBy` accepts hidden-partitioning transform specs
    // ("days(c)", "bucket(8, c)", …) as well as a bare column name —
    // the transformed value lands in __p, the raw column stays in the
    // data files, and the manifest entry records which function maps
    // one to the other (PartitionTransform).
    val spec = partitionBy.map(PartitionTransform.parse)
    val arranged = spec match {
      case Some(p) =>
        val withPv = df.withColumn(PartCol, PartitionTransform.writeColumn(p))
        // Cluster by partition value via REBALANCE (Delta's "optimized
        // writes" shape): no file spray — one partition's rows land in
        // few tasks — but, unlike a plain hash repartition on the
        // partition value, AQE SPLITS an oversized partition into
        // ~advisory-sized output chunks and coalesces tiny ones, so a
        // partitioned write emits size-bounded files instead of ONE
        // unbounded file per touched partition (the shape that breaks
        // at 100 TB: a MERGE touching a 50 GiB partition must not
        // serialize it through a single write task). Falls back to the
        // plain hash repartition when AQE is off. Callers that
        // pre-arranged their own distribution (ZORDER's curve ranges,
        // OPTIMIZE's byte bins) opt out via cluster = false.
        if (!cluster) withPv
        else withPv.hint("rebalance", col(PartCol))
      case None => df
    }
    // Table-property bloom columns ride along on every data write; the
    // filter costs O(rows) hashing at write and buys row-group-level
    // skipping for equality probes at read (parquet-mr BLOOMFILTER
    // row-group filter level, engaged by Spark's pushed In/EqualTo).
    val bloomOpts = bloomCols
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
    // Stats collection INSIDE the write tasks (Delta's shape): per-file
    // rows and min/max ride out with the task results, so the commit
    // costs zero post-write file opens, zero extra jobs and zero
    // directory listings — the footer-probe pass was a second full
    // metadata read of every file just written. Falls back to the probe
    // for schemas whose footer stats the tracker can't reproduce
    // (nested types).
    val inTask = org.apache.spark.sql.GraftParquetWrite.supportsSchema(df.schema)
    val probed =
      if (inTask)
        org.apache.spark.sql.GraftParquetWrite.writeWithStats(
          arranged, dataDir.toString, spec.map(_ => PartCol), bloomOpts,
          statSkip = Set(SnapshotTable.RidCol), maxStatCols = MaxStatCols)
      else {
        val writer = spec match {
          case Some(_) => arranged.write.partitionBy(PartCol)
          case None => arranged.write
        }
        bloomOpts.foreach { case (k, v) => writer.option(k, v) }
        writer.mode(SaveMode.Overwrite).parquet(dataDir.toString)
        // footer/stats collection as a distributed job ([[probeFooters]])
        // — the probe twin of CONVERT's: metadata cost must scale with
        // executors, not serialize through the driver
        SnapshotTable.probeFooters(spark, listDataFiles(fs, dataDir))
      }
    probed.map {
      case (p, pv, len, rows, stats) =>
        FileEntry(p, pv, len, rows, version.toLong,
          spec.collect { case s if s.tag == null => s.col }.orNull, stats,
          spec.collect { case s if s.tag != null => s.col }.orNull,
          spec.collect { case s if s.tag != null => s.tag }.orNull)
    }
  }

  /** Write one commit's change-data-feed rows (source-sized, flat) and
    * return their manifest entries. */
  private def writeChanges(dfLogical: DataFrame, version: Int): Seq[FileEntry] = {
    val df =
      if (version == 0) dfLogical else toPhysicalDf(dfLogical, version - 1)
    val cdcDir = new Path(root,
      f"data/c$version%05d_cdc_" + java.util.UUID.randomUUID().toString.take(8))
    // change files need per-file row counts only — the in-task tracker
    // delivers them with the write itself (zero post-write opens);
    // fallback mirrors [[writeData]]
    val inTask = org.apache.spark.sql.GraftParquetWrite.supportsSchema(df.schema)
    val probed =
      if (inTask)
        org.apache.spark.sql.GraftParquetWrite.writeWithStats(
          df, cdcDir.toString, None, Map.empty,
          statSkip = Set(SnapshotTable.RidCol), maxStatCols = MaxStatCols)
      else {
        df.write.mode(SaveMode.Overwrite).parquet(cdcDir.toString)
        SnapshotTable.probeFooters(spark, listDataFiles(fs, cdcDir))
      }
    probed.map {
      case (p, _, len, rows, _) => FileEntry(p, null, len, rows, version.toLong)
    }
  }

  /** Persist one commit's manifest as a write-once JSON file and prime
    * the cache. Create-no-overwrite keeps ErrorIfExists semantics — a
    * racing writer's second attempt at the same version FAILS here,
    * which is the engine's whole concurrency-control point (see
    * [[mergeConcurrent]]). The commit timestamp is stamped strictly
    * above the previous version's so AS-OF-timestamp order == version
    * order. */
  private def writeManifest(m: Manifest): Unit = commitLock.synchronized {
    val p = manifestPath(m.version)
    fs.mkdirs(logDir)
    val prev = if (m.version == 0) null else manifestOf(m.version - 1)
    // txn markers accumulate: every commit carries the predecessor's map
    // forward (newer writer versions win), so a marker set once is
    // visible at every later version — one lookup, no log replay
    val carriedTxns =
      if (prev == null) m.txns else prev.txns ++ m.txns
    // Column mapping carries forward like txns: only the mapping ops
    // (and RESTORE/CLONE, which pin a specific historical mapping) set
    // it explicitly; every other commit inherits the predecessor's.
    val setsMapping =
      prev == null || MappingOps.contains(m.operation)
    val (carriedRenames, carriedDropped, carriedFieldMeta, carriedWidened) =
      if (setsMapping) (m.renames, m.dropped, m.fieldMeta, m.widened)
      else (prev.renames, prev.dropped, prev.fieldMeta, prev.widened)
    // Stable row-id bases (Delta row-tracking analog): every data file
    // THIS commit writes takes a contiguous id range off the carried
    // high-water mark — pure manifest math, zero data cost, so every
    // table gets row ids for free. Carried entries (and clone-rebased
    // ones) keep their bases verbatim.
    // floor = max(predecessor's mark, the commit's own) — a CLONE
    // carries the SOURCE's mark so clone inserts can never re-issue ids
    // the carried files already hold; RESTORE keeps the current mark
    // (ids never go backwards)
    var nextRid = math.max(m.rowIdHwm,
      if (prev == null) 0L else prev.rowIdHwm)
    def assignRids(es: Seq[FileEntry]): Seq[FileEntry] = es.map { e =>
      // version 0 also assigns to pre-history entries (CONVERT's
      // negative-origin schema groups, pre-row-id clone sources) — every
      // table gets ids from its first commit
      if (e.ridBase >= 0 ||
          (e.origin != m.version.toLong && m.version != 0)) e
      else { val b = nextRid; nextRid += math.max(0L, e.rows)
             e.copy(ridBase = b) }
    }
    val ridFiles = assignRids(m.files)
    val ridDeltas = assignRids(m.deltas)
    // Identity high-water marks commit transactionally (next to
    // rowIdHwm): seeding reads them back, so a cross-process lost race
    // is an OCC retry on the write-once manifest, never a duplicate id
    // (Delta's contract). Keys are PHYSICAL names (rename-stable, like
    // fieldMeta). Live in-process counters win over carried marks —
    // they only ever move in allocation direction.
    val liveIdent: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val pfx = root + SnapshotTable.IdentKeySep
      SnapshotTable.identityHwm.asScala.collect {
        case (k, ctr) if k.startsWith(pfx) =>
          val logical = k.substring(pfx.length)
          carriedRenames.getOrElse(logical, logical) -> ctr.get()
      }.toMap
    }
    val carriedIdent =
      (if (prev == null) Map.empty[String, Long] else prev.identHwm) ++
        m.identHwm ++ liveIdent
    val stamped = m.copy(
      files = ridFiles,
      deltas = ridDeltas,
      rowIdHwm = nextRid,
      identHwm = carriedIdent,
      ts = math.max(System.currentTimeMillis(),
        (if (prev == null) 0L else prev.ts) + 1),
      txns = carriedTxns,
      renames = carriedRenames,
      dropped = carriedDropped,
      fieldMeta = carriedFieldMeta,
      widened = carriedWidened,
      // manifest-stored column names are always PHYSICAL: merge keys
      // arrive logical from DML callers and translate here, centrally
      // (idempotent — a physical name is never a logical name, the
      // rename guards forbid reusing one)
      mergeKeys = m.mergeKeys.map(k => carriedRenames.getOrElse(k, k)))
    // Incremental log: checkpoint versions (0 and every
    // CheckpointInterval-th) persist as FULL manifests; everything else
    // as a DELTA against the predecessor — commit metadata written is
    // O(changed files), not O(table files). deltaJson declines (→ FULL)
    // when the diff isn't smaller or isn't path-representable. Mapping
    // ops always persist FULL (delta records can't express a mapping
    // change).
    val json =
      if (prev == null || m.version % CheckpointInterval == 0 ||
          MappingOps.contains(m.operation))
        manifestJson(stamped)
      else deltaJson(stamped, prev, newTxns = m.txns)
        .getOrElse(manifestJson(stamped))
    val out = fs.create(p, /* overwrite = */ false)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (stamped.renames.nonEmpty || stamped.dropped.nonEmpty ||
        stamped.fieldMeta.nonEmpty || stamped.widened.nonEmpty)
      SnapshotTable.mappedRoots.add(root)
    manifestCache.put(p.toString, stamped)
    // caches owned by this commit (identity-fill batches, merge delta
    // frames) are consumed once the manifest lands — release them
    drainCommitCaches()
  }

  /** Cache-release thunks owned by the IN-FLIGHT commit
    * ([[fillIdentity]]'s sized insert batch, [[writeDeltaPositional]]'s
    * delta frame, [[updateExprPositional]]'s images): registered when
    * the cache is created, run by [[writeManifest]] once the commit
    * that consumed them lands. The drain is COMMIT-SCOPED: while a
    * multi-job commit is consuming its registered caches
    * ([[commitCachesInFlight]]), a nested [[fillIdentity]] (identity
    * fill inside the commit's image alignment) must NOT release them —
    * a DV MERGE writes its marks from the first evaluation of the delta
    * frame, and recomputing the frame for the image/CDF jobs after a
    * mid-commit drain would, with a non-deterministic source or
    * condition, address DIFFERENT rows than the stored marks. A commit
    * that failed mid-flight releases its caches in its own failure
    * handler (and, belt-and-braces, at the next stale drain). */
  private final class CommitCacheState {
    val pending = new java.util.ArrayDeque[() => Unit]()
    var inFlight = false
  }

  /** Commit-cache state is PER-THREAD (the commit token): a commit is a
    * straight-line call sequence on one thread (registerCommitCache →
    * writes → writeManifest / failure handler), so thread identity
    * scopes the caches to exactly one commit. Two concurrent commits on
    * the same instance therefore cannot cross-drain — thread A's
    * writeManifest releases only A's caches, never B's in-flight delta
    * frame (releasing it mid-commit would re-open the
    * non-deterministic-recompute window the commit-scoped drain closed:
    * a DV MERGE's recomputed frame could address different rows than
    * its stored marks). */
  private val commitCaches =
    new ThreadLocal[CommitCacheState] {
      override def initialValue(): CommitCacheState = new CommitCacheState
    }

  /** Persist `df` for the duration of the in-flight commit and register
    * its release; leftovers from a previous FAILED commit on THIS thread
    * release now (only when no commit is currently consuming its
    * caches). */
  private[sources] def registerCommitCache(df: DataFrame): DataFrame = {
    val st = commitCaches.get()
    if (!st.inFlight) drainCommitCaches()
    val cached = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    st.pending.add(() => { cached.unpersist(false); () })
    st.inFlight = true
    cached
  }

  /** Release stale commit caches unless a commit is mid-flight on this
    * thread — the guard nested steps ([[fillIdentity]]) go through. */
  private[sources] def drainStaleCommitCaches(): Unit =
    if (!commitCaches.get().inFlight) drainCommitCaches()

  private[sources] def drainCommitCaches(): Unit = {
    val st = commitCaches.get()
    st.inFlight = false
    var release = st.pending.poll()
    while (release != null) { release(); release = st.pending.poll() }
  }

  /** Test hook: true while this thread's commit holds registered
    * caches. */
  private[sources] def commitCachesInFlightForTest: Boolean =
    commitCaches.get().inFlight

  /** Register a release thunk with this thread's commit WITHOUT marking
    * a commit in flight ([[fillIdentity]]'s insert batch: the cache
    * lives until the commit that consumes the frame drains — or, when
    * no commit is open, until the next stale drain). */
  private def addCommitRelease(release: () => Unit): Unit = {
    commitCaches.get().pending.add(release)
    ()
  }

  private def removeCommitRelease(release: () => Unit): Unit = {
    commitCaches.get().pending.remove(release)
    ()
  }
}

object SnapshotTable {
  /** Duplicated hive-partition column name in data dirs. */
  val PartCol = "__p"

  /** Sidecar property key recording the table's partition layout
    * (shared with the SQL catalog's `GraftV2Table`). */
  val PartSpecProp = "partitionSpec"

  /** Sidecar property on CONVERTed tables whose pre-existing files lack
    * the partition column (standard Spark/Hive `pc=v/` layout):
    * "name:catalogType". See [[SnapshotTable.convertInPlace]]. */
  val SynthPartProp = "convert.synthesizedPartition"

  /** Hidden physical column carrying MATERIALIZED stable row ids on
    * files rewritten by maintenance ops under `graft.enableRowTracking`
    * (fresh files serve ids as ridBase + row position instead). Never
    * visible in logical schemas. */
  val RidCol = "__graft_rid"

  /** Table property enabling row-id MATERIALIZATION through maintenance
    * rewrites (OPTIMIZE / CLUSTER / ZORDER / REORG): with it set, those
    * ops carry each row's id into the rewritten files, so ids stay
    * STABLE across rewrites that do not logically change rows — Delta's
    * row-tracking contract. (Id assignment itself is free and always
    * on; only rewrite-stability needs the property.) */
  val RowTrackingProp = "graft.enableRowTracking"

  /** Field-metadata marker carrying a column's NOT NULL flag through
    * the versioned overlay (parquet reads force nullable=true, so the
    * StructField flag itself cannot survive a file round-trip). */
  val NotNullKey = "graft.notNull"

  /** Sidecar property recording the table's clustering columns (Delta
    * liquid-clustering `CLUSTER BY` analog, comma-separated): a bare
    * `OPTIMIZE` on a table carrying it runs [[SnapshotTable.clusterIncremental]]
    * instead of small-file bin-packing. Empty string = CLUSTER BY NONE. */
  val ClusterSpecProp = "clusterBy"

  /** Directory name Spark's partitioned writer gives null partition
    * values — the on-disk identity of the null partition. */
  private val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"
  /** `_change_type` column on change-data-feed rows (Delta CDF name). */
  val ChangeCol = "_change_type"
  /** Marker column on equality-delete tombstone delta rows. */
  val DelCol = "__graft_del"
  /** Deletion-vector row address columns: the data file's path and the
    * row's position within it (parquet `_metadata.file_path` /
    * `_metadata.row_index`). */
  val DvFileCol = "__graft_dv_file"
  val DvPosCol = "__graft_dv_pos"
  private val GenCol = "__gen"
  private val RnCol = "__rn"
  /** Per-file numeric stats are kept for at most this many columns
    * (Delta's dataSkippingNumIndexedCols default idea: bound manifest
    * growth at wide schemas). */
  private val MaxStatCols = 8

  /** Operations that SET the column mapping explicitly — every other
    * commit carries its predecessor's mapping forward (writeManifest).
    * RESTORE and CLONE pin the mapping of the version they reference,
    * so a restore below a RENAME also restores the old logical schema
    * (Delta parity: schema metadata is versioned with the commit). */
  private val MappingOps =
    Set("RENAME_COLUMN", "DROP_COLUMN", "ADD_COLUMNS", "ALTER_COLUMN",
      "WIDEN_COLUMN", "RESTORE", "CLONE")

  /** Roots where a column mapping has ever been observed — the
    * [[SnapshotTable.readEntries]]/[[SnapshotTable.writeData]] fast path
    * skips mapping resolution (and its manifest lookup) entirely for the
    * overwhelmingly common unmapped table. Sound because entries always
    * come from a [[SnapshotTable.manifestOf]] call on the same root,
    * which registers mapped roots on parse. */
  private val mappedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One manifest 'file'/'delta' entry; `origin` = the commit version
    * that wrote the file (drives MoR last-writer-wins resolution);
    * `partCol` = the partition column THIS file was laid out under
    * (partition evolution: files of different layouts coexist);
    * `stats` = footer-derived per-column numeric (min, max). */
  /** `partCol`/`partValue` describe an IDENTITY partition layout (the
    * value is the column's own string form — prunable by every DML
    * path). A hidden-partitioned layout ([[PartitionTransform]]) instead
    * sets `xformCol`/`xformTag`, keeping `partCol` null so existing
    * partition-pruning paths conservatively treat the file like an
    * unpartitioned one; `partValue` then holds the TRANSFORMED value and
    * only the transform-aware read paths ([[SnapshotTable.planFilesXform]])
    * prune on it. */
  final case class FileEntry(
      path: String, partValue: String, bytes: Long, rows: Long,
      origin: Long = 0L, partCol: String = null,
      stats: Map[String, (Double, Double)] = Map.empty,
      xformCol: String = null, xformTag: String = null,
      // first stable row id of this file (row i carries ridBase + i);
      // -1 = unassigned (pre-row-id manifests). Assigned once at the
      // file's writing commit and carried verbatim forever after.
      ridBase: Long = -1L)

  /** One immutable commit: base file entries + pending MoR deltas +
    * the commit's change-data-feed files (empty unless tracked).
    * `ts` = commit wall-clock millis, stamped monotonically at write
    * (strictly greater than the previous commit's, like Delta's
    * in-commit-timestamp adjustment) so TIMESTAMP AS OF resolution is
    * total-ordered even under same-millisecond commits. */
  private final case class Manifest(
      version: Int, operation: String, mergeKeys: Seq[String],
      files: Seq[FileEntry], deltas: Seq[FileEntry],
      changes: Seq[FileEntry] = Seq.empty, dvs: Seq[FileEntry] = Seq.empty,
      ts: Long = 0L,
      // writer transaction markers (Delta SetTransaction analog):
      // appId → highest applied writer version; carried forward by every
      // commit (writeManifest), so idempotence checks are one map lookup
      txns: Map[String, Long] = Map.empty,
      // column mapping (Delta columnMapping.mode=name analog): physical
      // column names in data files are IMMUTABLE; `renames` maps each
      // non-identity LOGICAL name to its physical name and `dropped`
      // tombstones physical names no longer visible. Versioned with the
      // manifest (carried forward like txns), so time travel below a
      // RENAME/DROP reads the old logical schema.
      renames: Map[String, String] = Map.empty,
      dropped: Seq[String] = Seq.empty,
      // versioned field-metadata overlay (ALTER COLUMN SET/DROP DEFAULT,
      // comments): PHYSICAL column name → StructField metadata JSON,
      // winning over whatever the data-file footers carry
      fieldMeta: Map[String, String] = Map.empty,
      // versioned type-widening overlay (ALTER COLUMN … TYPE, Delta
      // type-widening analog): PHYSICAL column name → widened catalog
      // type string. Files keep their written (narrower) physical type;
      // the scan declares the widened type and Spark's parquet reader
      // up-converts per file (SPARK-40876) — zero data rewritten,
      // version-correct under time travel.
      widened: Map[String, String] = Map.empty,
      // row-id high-water mark: the next stable row id to assign
      // (Delta row-tracking analog). Bumped by every commit that adds
      // data files; carried forward like txns.
      rowIdHwm: Long = 0L,
      // identity high-water marks: PHYSICAL column name → last
      // ALLOCATED identity value, committed transactionally with every
      // identity-filling insert (Delta persists its marks in table
      // metadata the same way). Seeding reads these back — durable
      // across processes and across deletes of the highest rows, which
      // footer-stat seeding is not. Carried forward like txns.
      identHwm: Map[String, Long] = Map.empty) {
    // PHYSICAL row count: base + pending delta rows, DV marks subtracted
    // (dv capture is duplicate-free by construction — marks come from the
    // DV-resolved scan — so the subtraction is exact). Exactly the
    // logical count when no deltas are pending; with pending deltas an
    // upsert row may shadow a base row, so logical ≤ physical — history/
    // detail surface numDeltaRows so the approximation is visible, and
    // countFromManifest resolves the exact count.
    def numRows: Long = (files ++ deltas).map(_.rows).sum - dvs.map(_.rows).sum
    def numDeltaRows: Long = deltas.map(_.rows).sum
    def numFiles: Long = (files.size + deltas.size).toLong
  }

  /** Process-wide cache of committed (immutable) manifests, keyed by
    * manifest file path — metadata lookups on the hot path never touch
    * storage twice. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  /** Serializes manifest commits (and cache-miss manifest reads)
    * within the driver JVM so a racing reader never observes a
    * half-written log entry; the write-once create inside remains the
    * cross-writer commit point. */
  private val commitLock = new Object

  /** Separator of the identity-counter keys below: NUL can appear in
    * neither a filesystem path nor a column name, so the root/column
    * split is unambiguous (a space-separated key mis-split on columns
    * with spaces — legal via backquotes). */
  private[sources] val IdentKeySep = "\u0000"

  private[sources] def identityKey(root: String, col: String): String =
    root + IdentKeySep + col

  /** Process-wide identity high-water marks, keyed root+NUL+col — the
    * last ALLOCATED value per identity column (seeded from manifest
    * stats on first use; see [[SnapshotTable.reserveIdentity]]). */
  private val identityHwm =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()

  /** Process-wide data-schema cache keyed by a representative file path
    * (one footer read per distinct table generation). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  /** Data schema of one table generation, probed from a representative
    * file and cached. Two shapes the old `spark.read.parquet(head)`
    * probe got wrong at scale:
    *   - COST: a full DataSource resolution per probe (path existence
    *     checks on a thread pool + relation build) is 20-80 ms of
    *     driver work; Spark-written files embed the exact Catalyst
    *     schema in the footer (`spark.sql.parquet.row.metadata`), so
    *     one footer open answers it in ~1 ms. Foreign files (CONVERT
    *     imports) without the embedded schema keep the reader probe.
    *   - ROBUSTNESS: the probe must not die on a file the read itself
    *     never plans — candidates are tried IN ORDER, so a physically
    *     deleted file (e.g. a vacuumed-away partition the query prunes)
    *     only fails the probe if NO candidate of the generation opens. */
  private[graft] def probeDataSchema(
      spark: SparkSession, paths: Seq[String], origin: Option[Long] = None)
      : org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(
      // Cache key: the generation's commit data dir (nonce-unique per
      // commit incarnation) + the entries' origin — STABLE across
      // carried subsets, so a rewrite carrying only some of a commit's
      // files lands on the already-probed entry even if the file probed
      // originally has since been physically removed. CONVERT imports
      // share one dir across schema generations (the origin
      // disambiguates); its pre-manifest fingerprint probe passes no
      // origin and keys by representative path instead.
      origin.fold(paths.head)(o => s"${generationKey(paths.head)}#o=$o"),
      _ => {
      var out: org.apache.spark.sql.types.StructType = null
      var firstErr: Throwable = null
      val it = paths.iterator
      while (out == null && it.hasNext) {
        val p = it.next()
        try out = fileDataSchema(spark, p)
        catch { case scala.util.control.NonFatal(e) =>
          if (firstErr == null) firstErr = e }
      }
      if (out == null) throw firstErr
      out
    })

  /** Commit data dir of `path`: parent dir with hive-partition
    * segments (`name=value`) stripped. */
  private def generationKey(path: String): String = {
    val parts = path.split('/').dropRight(1) // drop the filename
    parts.reverse.dropWhile(_.contains("=")).reverse.mkString("/")
  }

  /** One file's Spark data schema: the footer's embedded Catalyst
    * schema when present (nullable-forced, exactly as the file-source
    * reader surfaces it), else a reader-based probe. */
  private def fileDataSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val opts = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf), opts)
    val sparkJson =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    if (sparkJson != null)
      forceNullable(org.apache.spark.sql.types.DataType.fromJson(sparkJson))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    else spark.read.parquet(path).schema
  }

  /** The file-source reader's nullable-forcing (StructType.asNullable is
    * private[spark]): every field and nested container reads nullable. */
  private def forceNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = forceNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = forceNullable(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(valueType = forceNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private val mapper = new ObjectMapper()

  /** Full-state checkpoint cadence of the incremental commit log: every
    * CheckpointInterval-th version is written as a self-contained FULL
    * manifest; versions in between are DELTA records (adds/removes vs
    * the predecessor). Reconstruction walks back at most
    * CheckpointInterval − 1 records before hitting a checkpoint (and the
    * process-wide cache makes the walk one-time per version). Delta's
    * log does exactly this (JSON actions + a parquet checkpoint every
    * 10th commit) — at a 200k-file table it is the difference between
    * O(changed files) and O(table files) of metadata written PER COMMIT:
    * a 1-file append must not serialize 200k carried entries. */
  private val CheckpointInterval = 10

  /** One parsed log file: either a self-contained manifest or a delta
    * record to apply on top of the reconstructed predecessor. */
  private sealed trait LogRecord
  private final case class FullRecord(m: Manifest) extends LogRecord
  private final case class DeltaRecord(
      version: Int, operation: String, mergeKeys: Seq[String],
      addFiles: Seq[FileEntry], rmFiles: Set[String],
      addDeltas: Seq[FileEntry], rmDeltas: Set[String],
      addDvs: Seq[FileEntry], rmDvs: Set[String],
      changes: Seq[FileEntry], ts: Long,
      newTxns: Map[String, Long],
      ridHwm: Long = 0L,
      identHwm: Map[String, Long] = Map.empty) extends LogRecord

  private def entryArray(es: Seq[FileEntry]): ArrayNode = {
    val a = mapper.createArrayNode()
    es.foreach { e =>
      val n = mapper.createObjectNode()
      n.put("path", e.path)
      if (e.partValue != null) n.put("part", e.partValue)
      if (e.partCol != null) n.put("pcol", e.partCol)
      if (e.xformCol != null) n.put("xcol", e.xformCol)
      if (e.xformTag != null) n.put("xf", e.xformTag)
      n.put("bytes", e.bytes)
      n.put("rows", e.rows)
      n.put("origin", e.origin)
      if (e.ridBase >= 0) n.put("rid", e.ridBase)
      if (e.stats.nonEmpty) {
        val s = mapper.createObjectNode()
        e.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val pair = mapper.createArrayNode()
          pair.add(mn); pair.add(mx)
          s.set[JsonNode](c, pair)
        }
        n.set[JsonNode]("stats", s)
      }
      a.add(n)
    }
    a
  }

  private def txnNode(txns: Map[String, Long]): ObjectNode = {
    val t = mapper.createObjectNode()
    txns.toSeq.sortBy(_._1).foreach { case (app, ver) => t.put(app, ver) }
    t
  }

  private def manifestJson(m: Manifest): String = {
    val rootN = mapper.createObjectNode()
    rootN.put("version", m.version)
    rootN.put("operation", m.operation)
    if (m.mergeKeys.nonEmpty) rootN.put("merge_keys", m.mergeKeys.mkString(","))
    rootN.set[JsonNode]("files", entryArray(m.files))
    rootN.set[JsonNode]("deltas", entryArray(m.deltas))
    if (m.changes.nonEmpty) rootN.set[JsonNode]("changes", entryArray(m.changes))
    if (m.dvs.nonEmpty) rootN.set[JsonNode]("dvs", entryArray(m.dvs))
    if (m.ts != 0L) rootN.put("ts", m.ts)
    if (m.txns.nonEmpty) rootN.set[JsonNode]("txns", txnNode(m.txns))
    if (m.renames.nonEmpty) {
      val r = mapper.createObjectNode()
      m.renames.toSeq.sortBy(_._1).foreach { case (lg, ph) => r.put(lg, ph) }
      rootN.set[JsonNode]("renames", r)
    }
    if (m.dropped.nonEmpty) {
      val d = mapper.createArrayNode()
      m.dropped.foreach(d.add)
      rootN.set[JsonNode]("dropped", d)
    }
    if (m.fieldMeta.nonEmpty) {
      val fmN = mapper.createObjectNode()
      m.fieldMeta.toSeq.sortBy(_._1).foreach { case (c, j) => fmN.put(c, j) }
      rootN.set[JsonNode]("field_meta", fmN)
    }
    if (m.widened.nonEmpty) {
      val wN = mapper.createObjectNode()
      m.widened.toSeq.sortBy(_._1).foreach { case (c, t) => wN.put(c, t) }
      rootN.set[JsonNode]("widened", wN)
    }
    if (m.rowIdHwm > 0) rootN.put("rid_hwm", m.rowIdHwm)
    if (m.identHwm.nonEmpty) rootN.set[JsonNode]("ident_hwm",
      identHwmNode(m.identHwm))
    rootN.toString
  }

  private def identHwmNode(marks: Map[String, Long]): ObjectNode = {
    val iN = mapper.createObjectNode()
    marks.toSeq.sortBy(_._1).foreach { case (c, v) => iN.put(c, v) }
    iN
  }

  /** DELTA encoding of `m` against its reconstructed predecessor: adds
    * (entries absent from prev) + removes (paths absent from cur), per
    * entry kind. None when the state isn't path-diffable — an entry at
    * an unchanged path changed fields (no current commit path does this,
    * but the guard keeps any future one correct by falling back to a
    * FULL write) — or when the diff would not be smaller than the full
    * list. `newTxns` carries only this commit's markers; reconstruction
    * re-merges them onto the predecessor's carried map. */
  private def deltaJson(
      m: Manifest, prev: Manifest,
      newTxns: Map[String, Long]): Option[String] = {
    def diff(cur: Seq[FileEntry], prevS: Seq[FileEntry])
        : Option[(Seq[FileEntry], Seq[String])] = {
      val prevBy = prevS.map(e => e.path -> e).toMap
      val curPaths = cur.map(_.path).toSet
      val adds = Seq.newBuilder[FileEntry]
      var diffable = true
      cur.foreach { e =>
        prevBy.get(e.path) match {
          case None => adds += e
          case Some(p) => if (p != e) diffable = false
        }
      }
      if (!diffable) None
      else Some((adds.result(), prevS.map(_.path).filterNot(curPaths)))
    }
    for {
      (fAdd, fRm) <- diff(m.files, prev.files)
      (dAdd, dRm) <- diff(m.deltas, prev.deltas)
      (vAdd, vRm) <- diff(m.dvs, prev.dvs)
      touched = fAdd.size + fRm.size + dAdd.size + dRm.size + vAdd.size + vRm.size
      full = m.files.size + m.deltas.size + m.dvs.size
      if touched < full
    } yield {
      val rootN = mapper.createObjectNode()
      rootN.put("version", m.version)
      rootN.put("base", m.version - 1)
      rootN.put("operation", m.operation)
      if (m.mergeKeys.nonEmpty)
        rootN.put("merge_keys", m.mergeKeys.mkString(","))
      def strArr(xs: Seq[String]): ArrayNode = {
        val a = mapper.createArrayNode(); xs.foreach(a.add); a
      }
      if (fAdd.nonEmpty) rootN.set[JsonNode]("add_files", entryArray(fAdd))
      if (fRm.nonEmpty) rootN.set[JsonNode]("rm_files", strArr(fRm))
      if (dAdd.nonEmpty) rootN.set[JsonNode]("add_deltas", entryArray(dAdd))
      if (dRm.nonEmpty) rootN.set[JsonNode]("rm_deltas", strArr(dRm))
      if (vAdd.nonEmpty) rootN.set[JsonNode]("add_dvs", entryArray(vAdd))
      if (vRm.nonEmpty) rootN.set[JsonNode]("rm_dvs", strArr(vRm))
      if (m.changes.nonEmpty)
        rootN.set[JsonNode]("changes", entryArray(m.changes))
      if (m.ts != 0L) rootN.put("ts", m.ts)
      if (newTxns.nonEmpty) rootN.set[JsonNode]("txns", txnNode(newTxns))
      if (m.rowIdHwm > 0) rootN.put("rid_hwm", m.rowIdHwm)
      // the full mark map (one entry per identity column — tiny);
      // reconstruction merges it over the predecessor's, latest wins
      if (m.identHwm.nonEmpty) rootN.set[JsonNode]("ident_hwm",
        identHwmNode(m.identHwm))
      rootN.toString
    }
  }

  /** Re-serialize a parsed [[DeltaRecord]] — same shape [[deltaJson]]
    * writes (rm_* sets come back sorted; set semantics, so content is
    * identical). Used by [[rebaseLog]]'s structural path rewrite. */
  private def deltaRecordJson(d: DeltaRecord): String = {
    val rootN = mapper.createObjectNode()
    rootN.put("version", d.version)
    rootN.put("base", d.version - 1)
    rootN.put("operation", d.operation)
    if (d.mergeKeys.nonEmpty) rootN.put("merge_keys", d.mergeKeys.mkString(","))
    def strArr(xs: Seq[String]): ArrayNode = {
      val a = mapper.createArrayNode(); xs.foreach(a.add); a
    }
    if (d.addFiles.nonEmpty) rootN.set[JsonNode]("add_files", entryArray(d.addFiles))
    if (d.rmFiles.nonEmpty) rootN.set[JsonNode]("rm_files", strArr(d.rmFiles.toSeq.sorted))
    if (d.addDeltas.nonEmpty) rootN.set[JsonNode]("add_deltas", entryArray(d.addDeltas))
    if (d.rmDeltas.nonEmpty) rootN.set[JsonNode]("rm_deltas", strArr(d.rmDeltas.toSeq.sorted))
    if (d.addDvs.nonEmpty) rootN.set[JsonNode]("add_dvs", entryArray(d.addDvs))
    if (d.rmDvs.nonEmpty) rootN.set[JsonNode]("rm_dvs", strArr(d.rmDvs.toSeq.sorted))
    if (d.changes.nonEmpty) rootN.set[JsonNode]("changes", entryArray(d.changes))
    if (d.ts != 0L) rootN.put("ts", d.ts)
    if (d.newTxns.nonEmpty) rootN.set[JsonNode]("txns", txnNode(d.newTxns))
    if (d.ridHwm > 0) rootN.put("rid_hwm", d.ridHwm)
    if (d.identHwm.nonEmpty) rootN.set[JsonNode]("ident_hwm",
      identHwmNode(d.identHwm))
    rootN.toString
  }

  /** Parse one log file — a FULL manifest (no `base` field; every log
    * written before the incremental format is this shape) or a DELTA
    * record awaiting reconstruction against its predecessor. */
  private def parseRecord(json: String): LogRecord = {
    val n = mapper.readTree(json)
    def entries(field: String): Seq[FileEntry] = {
      val a = n.get(field)
      if (a == null) Seq.empty
      else (0 until a.size()).map { i =>
        val e = a.get(i)
        val stats =
          if (!e.has("stats")) Map.empty[String, (Double, Double)]
          else {
            val s = e.get("stats")
            val it = s.fieldNames()
            val buf = Map.newBuilder[String, (Double, Double)]
            while (it.hasNext) {
              val c = it.next()
              buf += c -> (s.get(c).get(0).asDouble(), s.get(c).get(1).asDouble())
            }
            buf.result()
          }
        FileEntry(
          e.get("path").asText(),
          if (e.has("part")) e.get("part").asText() else null,
          e.get("bytes").asLong(),
          e.get("rows").asLong(),
          e.get("origin").asLong(),
          if (e.has("pcol")) e.get("pcol").asText() else null,
          stats,
          if (e.has("xcol")) e.get("xcol").asText() else null,
          if (e.has("xf")) e.get("xf").asText() else null,
          if (e.has("rid")) e.get("rid").asLong() else -1L)
      }
    }
    def paths(field: String): Set[String] = {
      val a = n.get(field)
      if (a == null) Set.empty
      else (0 until a.size()).map(a.get(_).asText()).toSet
    }
    val mergeKeys =
      if (n.has("merge_keys")) n.get("merge_keys").asText().split(",").toSeq
      else Seq.empty
    val ts = if (n.has("ts")) n.get("ts").asLong() else 0L
    val txns =
      if (!n.has("txns")) Map.empty[String, Long]
      else {
        val t = n.get("txns")
        val it = t.fieldNames()
        val buf = Map.newBuilder[String, Long]
        while (it.hasNext) {
          val app = it.next()
          buf += app -> t.get(app).asLong()
        }
        buf.result()
      }
    val identHwm =
      if (!n.has("ident_hwm")) Map.empty[String, Long]
      else {
        val iN = n.get("ident_hwm")
        val it = iN.fieldNames()
        val buf = Map.newBuilder[String, Long]
        while (it.hasNext) {
          val c = it.next()
          buf += c -> iN.get(c).asLong()
        }
        buf.result()
      }
    if (n.has("base"))
      DeltaRecord(
        n.get("version").asInt(), n.get("operation").asText(), mergeKeys,
        entries("add_files"), paths("rm_files"),
        entries("add_deltas"), paths("rm_deltas"),
        entries("add_dvs"), paths("rm_dvs"),
        entries("changes"), ts, txns,
        if (n.has("rid_hwm")) n.get("rid_hwm").asLong() else 0L,
        identHwm)
    else {
      val renames =
        if (!n.has("renames")) Map.empty[String, String]
        else {
          val r = n.get("renames")
          val it = r.fieldNames()
          val buf = Map.newBuilder[String, String]
          while (it.hasNext) {
            val lg = it.next()
            buf += lg -> r.get(lg).asText()
          }
          buf.result()
        }
      val dropped =
        if (!n.has("dropped")) Seq.empty[String]
        else {
          val d = n.get("dropped")
          (0 until d.size()).map(d.get(_).asText())
        }
      def strMap(field: String): Map[String, String] =
        if (!n.has(field)) Map.empty[String, String]
        else {
          val mN = n.get(field)
          val it = mN.fieldNames()
          val buf = Map.newBuilder[String, String]
          while (it.hasNext) {
            val c = it.next()
            buf += c -> mN.get(c).asText()
          }
          buf.result()
        }
      val fieldMeta = strMap("field_meta")
      val widened = strMap("widened")
      FullRecord(Manifest(
        n.get("version").asInt(),
        n.get("operation").asText(),
        mergeKeys,
        entries("files"),
        entries("deltas"),
        entries("changes"),
        entries("dvs"),
        ts,
        txns,
        renames,
        dropped,
        fieldMeta,
        widened,
        if (n.has("rid_hwm")) n.get("rid_hwm").asLong() else 0L,
        identHwm))
    }
  }

  /** Apply one delta record to its reconstructed predecessor. */
  private def applyDelta(prev: Manifest, d: DeltaRecord): Manifest = {
    require(prev.version == d.version - 1,
      s"delta record v${d.version} applied to v${prev.version}")
    Manifest(
      d.version, d.operation, d.mergeKeys,
      prev.files.filterNot(e => d.rmFiles(e.path)) ++ d.addFiles,
      prev.deltas.filterNot(e => d.rmDeltas(e.path)) ++ d.addDeltas,
      d.changes,
      prev.dvs.filterNot(e => d.rmDvs(e.path)) ++ d.addDvs,
      d.ts,
      prev.txns ++ d.newTxns,
      // column mapping / field-metadata / type-widening overlays only
      // change on mapping-op commits, which always persist as FULL
      // records — a delta record inherits its predecessor's verbatim
      prev.renames,
      prev.dropped,
      prev.fieldMeta,
      prev.widened,
      math.max(d.ridHwm, prev.rowIdHwm),
      prev.identHwm ++ d.identHwm)
  }

  private def readFileString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString(java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def partValueOf(path: String): String = partValueOf(path, PartCol)

  private def partValueOf(path: String, col: String): String =
    path.split('/').find(_.startsWith(s"$col="))
      .map(_.stripPrefix(s"$col=")).orNull

  /** Per-commit footer collection as a DISTRIBUTED Spark job: each task
    * opens its files' footers and ships back metadata-sized rows (row
    * count + min/max stats) — never data pages. This runs on the HOT
    * path of every commit ([[SnapshotTable.writeData]] /
    * [[SnapshotTable.writeChanges]]): at a 100 TB MERGE emitting tens
    * of thousands of files, driver-side footer reads would serialize
    * tens of thousands of object-store opens through one process — the
    * same bottleneck CONVERT's probe job avoids. The smallest commits
    * (≤ 2 files — the single-row DML / small-append shape) skip
    * job-launch overhead and probe inline: the driver work is BOUNDED
    * by the constant, never O(commit size). */
  private[graft] def probeFooters(
      spark: SparkSession, listed: Seq[(String, String, Long)])
    : Seq[(String, String, Long, Long, Map[String, (Double, Double)])] = {
    if (listed.isEmpty) return Seq.empty
    val conf = spark.sessionState.newHadoopConf()
    if (listed.size <= 2) {
      val opts = org.apache.parquet.HadoopReadOptions.builder(conf).build()
      listed.map { case (p, pv, len) =>
        val (rows, stats) = footerInfo(conf, opts, p)
        (p, pv, len, rows, stats)
      }
    } else {
      val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
      val slices = math.max(1,
        math.min(listed.size, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(listed, slices).map {
        case (p, pv, len) =>
          val c = serConf.value
          // one ParquetReadOptions per task would be ideal; per-file is
          // fine — the builder reuses the passed Configuration (no
          // core-default.xml re-parse, the cost the shared-options
          // pattern exists to avoid)
          val opts = org.apache.parquet.HadoopReadOptions.builder(c).build()
          val (rows, stats) = footerInfo(c, opts, p)
          (p, pv, len, rows, stats)
      }.collect().toSeq
    }
  }

  /** Row count + per-column numeric (min, max) from the parquet footer —
    * no data pages are read. A column's stats survive only if EVERY row
    * group carries non-null min/max for it (a single stat-less chunk
    * makes file-level pruning unsound → the column is dropped); at most
    * [[MaxStatCols]] columns are kept, in schema order. Lives on the
    * companion (no instance state) so [[SnapshotTable.convertInPlace]]
    * can run it from executor-side task closures. */
  private[sources] def footerInfo(
      conf: Configuration, options: org.apache.parquet.ParquetReadOptions,
      path: String): (Long, Map[String, (Double, Double)]) =
    footerProbe(conf, options, path)._1

  /** [[footerInfo]] plus the footer's parquet schema rendered as a
    * fingerprint string — one footer open serves both. The fingerprint
    * groups CONVERT's files by physical schema generation. */
  private[sources] def footerProbe(
      conf: Configuration, options: org.apache.parquet.ParquetReadOptions,
      path: String): ((Long, Map[String, (Double, Double)]), String) = {
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf), options)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val order = scala.collection.mutable.LinkedHashSet.empty[String]
      val mins = scala.collection.mutable.Map.empty[String, Double]
      val maxs = scala.collection.mutable.Map.empty[String, Double]
      val dropped = scala.collection.mutable.Set.empty[String]
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          // the materialized row-id column is engine state: its stats
          // must not evict a real column from the MaxStatCols budget
          if (name == RidCol) ()
          else {
          val st = cc.getStatistics
          // integral stats above 2^53 round when narrowed to double —
          // widen the kept range one ulp outward so range pruning stays
          // sound at the boundary (a keeps-one-extra-file error is fine,
          // a drops-matching-rows error is not)
          def inexact(l: java.lang.Long): Boolean =
            l.longValue >= (1L << 53) || l.longValue <= -(1L << 53)
          def loD(n: Number): Double = n match {
            case l: java.lang.Long if inexact(l) => Math.nextDown(l.doubleValue)
            case _ => n.doubleValue
          }
          def hiD(n: Number): Double = n match {
            case l: java.lang.Long if inexact(l) => Math.nextUp(l.doubleValue)
            case _ => n.doubleValue
          }
          (if (st != null && st.hasNonNullValue)
            (st.genericGetMin, st.genericGetMax) match {
              case (mn: Number, mx: Number) => Some((loD(mn), hiD(mx)))
              case _ => None
            }
          else None) match {
            case Some((mn, mx)) if !dropped(name) =>
              order += name
              mins(name) = mins.get(name).fold(mn)(math.min(_, mn))
              maxs(name) = maxs.get(name).fold(mx)(math.max(_, mx))
            case _ =>
              dropped += name; mins.remove(name); maxs.remove(name)
          }
          }
        }
      }
      val stats = order.iterator.filter(mins.contains).take(MaxStatCols)
        .map(c => c -> (mins(c), maxs(c))).toMap
      ((reader.getRecordCount, stats),
        reader.getFooter.getFileMetaData.getSchema.toString)
    } finally reader.close()
  }

  private[graft] def listDataFiles(fs: FileSystem, dir: Path,
      col: String = PartCol): Seq[(String, String, Long)] = {
    if (!fs.exists(dir)) return Seq.empty
    if (fs.getScheme == "file") listDataFilesNio(dir, col)
    else {
      val it = fs.listFiles(dir, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isFile && name.endsWith(".parquet") && !name.startsWith("_"))
          buf += ((st.getPath.toString, partValueOf(st.getPath.toString, col), st.getLen))
      }
      buf.toSeq
    }
  }

  /** NIO listing fast-path for local roots. Hadoop's RawLocalFileSystem
    * builds each LocatedFileStatus by FORKING a shell to read the file's
    * permissions when native IO libs are absent — at a 200k-file commit
    * that is minutes of serialized process spawning on the driver; a
    * direct filesystem walk is milliseconds. Paths render exactly as the
    * Hadoop listing would ("file:" + absolute path) so manifests stay
    * byte-compatible across both branches. Object-store schemes keep the
    * FileSystem listing (their LIST carries size/type without stat-ing). */
  private def listDataFilesNio(dir: Path,
      col: String = PartCol): Seq[(String, String, Long)] = {
    val root = java.nio.file.Paths.get(dir.toUri.getPath)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val stream = java.nio.file.Files.walk(root)
    try stream.forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet") && !name.startsWith("_") &&
          java.nio.file.Files.isRegularFile(p)) {
        val full = "file:" + p.toAbsolutePath.toString
        buf += ((full, partValueOf(full, col), java.nio.file.Files.size(p)))
      }
    } finally stream.close()
    buf.toSeq
  }
}
