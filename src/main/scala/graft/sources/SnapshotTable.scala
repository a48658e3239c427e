package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

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
  * Merge-on-read (MoR) merges ([[merge]] with `deferred`) are the deferred
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
          val node = new ObjectMapper().readTree(LogStore.read(fs, propsPath))
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
      new ObjectMapper().readTree(LogStore.read(fs, propsPath))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    else new ObjectMapper().createObjectNode()

  private def writeSidecar(json: com.fasterxml.jackson.databind.JsonNode): Unit =
    LogStore.replace(fs, Seq(propsPath -> json.toString))

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
    val n = new ObjectMapper().readTree(LogStore.read(fs, propsPath))
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
    val n = new ObjectMapper().readTree(LogStore.read(fs, propsPath)).get(key)
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
    * manifest. Manifests are write-once, so caching is sound, and
    * [[LogStore.putIfAbsent]] publishes each one whole, so no reader
    * sees a half-written version. The cache-miss read still takes
    * [[SnapshotTable.commitLock]], so the cache is filled only under
    * that lock, in the order below.
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
        val m = parseRecord(LogStore.read(fs, new Path(key))) match {
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

  private[graft] def fileEntries(version: Int): Seq[FileEntry] =
    manifestOf(version).files

  private[graft] def deltaEntries(version: Int): Seq[FileEntry] =
    manifestOf(version).deltas

  /** Merge keys of `version` in LOGICAL names (manifests store physical
    * names; [[writeManifest]] re-translates on store — the round trip is
    * exact because rename guards keep the name spaces disjoint). */
  private def mergeKeysOf(version: Int): Seq[String] =
    manifestOf(version).mergeKeys.map(logColName(_, version))

  private[graft] def dvEntries(version: Int): Seq[FileEntry] =
    manifestOf(version).dvs

  /** Read the table at `version` (default: latest) straight from the
    * manifest's file list — no directory listing. If the version carries
    * MoR delta files, the scan resolves them transparently (base rows
    * without a delta key match + the latest delta row per key); pending
    * deletion vectors anti-join out their (file, position) marks first. */
  def read(version: Int = -1): DataFrame = readVersion(version)

  /** [[read]] of `version` (current when negative), with each row's
    * (file, position) address when `addressed` and its stable row id
    * when `rowIds` ([[scan]]) — the one read of every catalog scan,
    * which states the engine columns it selects. Either needs compacted
    * state: a pending MoR delta row has no base-file address. */
  private[graft] def readVersion(version: Int, addressed: Boolean = false,
      rowIds: Boolean = false): DataFrame = {
    val v = if (version < 0) currentVersion else version
    val deltas = deltaEntries(v)
    if (deltas.isEmpty) scan(fileEntries(v), dvEntries(v), v, addressed, rowIds)
    else {
      require(!addressed && !rowIds, s"a scan with row addresses or ids on $root " +
        "requires compacted state (pending MoR deltas — OPTIMIZE folds them first)")
      resolveMerged(fileEntries(v), deltas, mergeKeysOf(v), dvEntries(v), mapV = v)
    }
  }

  /** The one scan of data files: `entries` under the schema and column
    * mapping of `version` (current when negative), so a column the
    * scanned files lack reads as its `ADD COLUMNS … DEFAULT`, or null,
    * as a full read gives it; minus the deletion-vector marks `dvs` (one
    * hash anti-join on (file, pos) — the DV side is O(deleted rows),
    * broadcast when small, a shuffled anti join keyed by file path when
    * not, never a rewrite). `addressed` keeps each row's physical address
    * under [[SnapshotTable.DvFileCol]] / [[SnapshotTable.DvPosCol]] — the
    * parquet scan's `_metadata.file_path` / `_metadata.row_index`, which
    * render identically at mark capture and at read, so the anti-join
    * matches exactly; `rowIds` attaches [[SnapshotTable.RidCol]]
    * ([[withRidColumn]]). A scan with neither and no marks adds no
    * address projection. */
  private[graft] def scan(entries: Seq[FileEntry], dvs: Seq[FileEntry],
      version: Int, addressed: Boolean = false,
      rowIds: Boolean = false): DataFrame = {
    val v = if (version < 0) currentVersion else version
    val raw = readEntriesRaw(entries, v, rowIds, fileEntries(v))
    if (!addressed && !rowIds && dvs.isEmpty) return toLogicalDf(raw, v)
    // metadata columns are selected on the RAW scan (before the
    // column-mapping projection — a Project on top would hide them)
    val withAddress = toLogicalDf(raw.select(col("*"),
      col("_metadata.file_path").as(DvFileCol),
      col("_metadata.row_index").as(DvPosCol)), v)
    val live =
      if (dvs.isEmpty) withAddress
      else withAddress.join(readEntriesRaw(dvs), Seq(DvFileCol, DvPosCol), "left_anti")
    val out = if (rowIds) withRidColumn(live, entries) else live
    if (addressed) out else out.drop(DvFileCol, DvPosCol)
  }

  /** [[readEntriesRaw]] with the column-mapping projection applied —
    * frames leaving the file layer are LOGICAL (identity on unmapped
    * tables). `mapV` pins which version's mapping to apply (current
    * when negative — time-travel reads pass their version so renames
    * below it stay invisible). */
  private def readEntries(entries: Seq[FileEntry], mapV: Int = -1): DataFrame =
    toLogicalDf(readEntriesRaw(entries, mapV), mapV)

  /** Manifest-planned scan: file list, sizes and splits come straight
    * from the log via [[ManifestFileIndex]] — zero filesystem listing.
    * The data schema is the UNION over the distinct writing commits of
    * `entries` and `schemaFrom` (one cached footer read per origin —
    * O(commits), never O(files)): a schema-evolving MERGE or ADD COLUMNS
    * widens only the files it writes, and a file without an added
    * column reads it as its `EXISTS_DEFAULT`, or null, at scan time
    * (Delta-style metadata-only evolution, no full rewrite). Base scans
    * pass their version's files as `schemaFrom`, so a scan of the files
    * a planner kept still sees every column. Field order is
    * oldest-origin-first, so added columns append in evolution order. */
  private def readEntriesRaw(
      entries: Seq[FileEntry], mapV: Int = -1,
      keepRid: Boolean = false,
      schemaFrom: Seq[FileEntry] = Seq.empty): DataFrame = {
    require(entries.nonEmpty, s"no data files to read at $root")
    val schemaFiles =
      if (schemaFrom.isEmpty || (schemaFrom eq entries)) entries else entries ++ schemaFrom
    val schema = schemaFiles.groupBy(_.origin).toSeq.sortBy(_._1)
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
      new ManifestFileIndex(spark, rootPath, entries, mayHold(_, entries),
        partSchema),
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
      if (base.nonEmpty) restrict(scan(base, dvs, mapV))
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

  /** Whether `e` was written under layout `s`: the manifest records
    * identity layouts in partCol and transform layouts in
    * xformCol/xformTag (FileEntry doc); anything else is foreign. */
  private def underLayout(s: PartitionTransform.Spec, e: FileEntry): Boolean =
    if (s.tag == null) e.partCol == s.col
    else e.xformCol == s.col && e.xformTag == s.tag

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
    // the identity marks stay the current ones: ids never go backwards
    replaceState("RESTORE", cur, manifestOf(version).copy(identHwm = Map.empty))
    this
  }

  /** Commit `target`'s files, deltas, DV marks, merge keys, mapping and
    * high-water marks as the whole state on top of version `v` (RESTORE,
    * OR REPLACE CLONE): it reads every file of `v`, and any file a rival
    * adds conflicts. */
  private def replaceState(op: String, v: Int, target: Manifest): Unit = {
    val all = fileEntries(v) ++ deltaEntries(v)
    commit(Commit(op, v, read = all, predicate = Some(Seq.empty),
      removed = all, files = target.files, deltas = target.deltas,
      keptDvs = Some(Seq.empty), marks = target.dvs,
      mergeKeys = Some(target.mergeKeys), mapping = Some(Mapping.of(target)),
      rowIdHwm = target.rowIdHwm, identHwm = target.identHwm)): Unit
  }

  /** Change-data-feed read (Delta `table_changes` analog): the rows a
    * commit inserted/updated/deleted, with a `_change_type` column.
    * Changes are captured AT COMMIT TIME by [[merge]], [[delete]] and
    * [[update]] (`trackChanges = true`) — reading them back is O(changed rows),
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

  // ---------------------------------------------------- column mapping
  // (Delta columnMapping.mode=name analog.) Physical column names in
  // data files are IMMUTABLE; the manifest's versioned `renames`
  // (logical→physical) and `dropped` (physical tombstones) re-point the
  // logical schema. DataFrames crossing the public API are always
  // LOGICAL; manifest-stored names (merge keys, stats, partition
  // columns) are always PHYSICAL. Translation happens at exactly two
  // frame boundaries — [[toLogicalDf]] (physical→logical) and
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
    commit(Commit("RENAME_COLUMN", v,
      mapping = Some(Mapping.of(m).copy(renames = newRenames)))): Unit
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
    commit(Commit("DROP_COLUMN", v, mapping = Some(Mapping(m.renames - name,
      m.dropped :+ phys, m.fieldMeta - phys, m.widened - phys)))): Unit
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
    commit(Commit("ADD_COLUMNS", v, files = written,
      mapping = Some(Mapping(m.renames ++ freshPhys, m.dropped,
        m.fieldMeta ++ addedMeta, m.widened)))): Unit
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
        org.apache.spark.sql.types.StructField): SnapshotTable =
    alterColumnMetaAt(currentVersion, name, None, transform)

  /** [[alterColumnMeta]] on version `v`, committed as depending on the
    * rows `predicate` matches there (None: on no row). */
  private def alterColumnMetaAt(v: Int, name: String,
      predicate: Option[Seq[org.apache.spark.sql.sources.Filter]],
      transform: org.apache.spark.sql.types.StructField =>
        org.apache.spark.sql.types.StructField): SnapshotTable = {
    val m = manifestOf(v)
    val logical = read(v).schema
    require(logical.fieldNames.contains(name),
      s"ALTER COLUMN on $root: no column $name")
    val phys = physColName(name, v)
    val nf = transform(logical(name).copy(name = phys))
    commit(Commit("ALTER_COLUMN", v, predicate = predicate,
      mapping = Some(Mapping.of(m).copy(
        fieldMeta = m.fieldMeta + (phys -> nf.metadata.json))))): Unit
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
  // engine-API copy-on-write `delete`/`update` [[scan]] with `rowIds`
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

  /** Addressed DML scan: every live row of the current version plus its
    * (file, position) address under [[SnapshotTable.DvFileCol]] /
    * [[SnapshotTable.DvPosCol]] (and its stable row id when `keepRid`)
    * — the source relation for DELTA-based row-level operations (the
    * positional MERGE) and the server of the address metadata columns
    * (`SELECT __graft_dv_file, … FROM t` — Delta `_metadata.file_path`
    * analog). DV-marked rows are already excluded. Requires compacted
    * state (pending MoR delta rows have no base-file address). */
  private[graft] def readAddressedDml(keepRid: Boolean,
      version: Int = -1): DataFrame =
    readVersion(version, addressed = true, rowIds = keepRid)

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
    * `version` is the one the rewrite's addressed scan read: the marks
    * address its files, so the commit reads it and a rival commit since
    * is checked like any lost race ([[commit]]).
    *
    * The delta frame is persisted until the commit ends, landed or
    * failed (it feeds the marks write, the image write, and the CDF
    * capture — each a separate job; without the cache each would re-run
    * the MERGE join, and a non-deterministic source or condition could
    * address different rows than the stored marks). Change capture: delete
    * pre-images and update pre-images come from one addressed-scan
    * semi-join per kind against the O(changed) address sets; post
    * images and inserts come from the delta frame itself. */
  def writeDeltaPositional(delta: DataFrame,
      imageAlign: DataFrame => DataFrame,
      partitionBy: Option[String],
      trackChanges: Boolean, version: Int): Long = {
    import org.apache.spark.sql.catalyst.util.RowDeltaUtils
    val v = version
    require(deltaEntries(v).isEmpty,
      s"positional MERGE on $root requires compacted state (pending MoR " +
        "deltas — OPTIMIZE folds them first)")
    val opCol = col(RowDeltaUtils.OPERATION_COLUMN)
    withCaches { caches =>
      val cached = caches.persist(delta)
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
      if (marks.isEmpty && newFiles.isEmpty) 0L
      else {
        val cdc =
          if (!trackChanges) Seq.empty
          else {
            val addressed = readAddressedDml(keepRid = false, v)
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
        // updates)
        val affected = cached.count()
        // the MERGE joined the whole table, so every file is read and any
        // file a rival adds may hold a row it would have matched
        commit(Commit("MERGE_DV", v, read = fileEntries(v),
          predicate = Some(Seq.empty), files = newFiles, marks = marks,
          changes = cdc)): Unit
        affected
      }
    }
  }

  /** Scan with stable row ids: every row of the current (or pinned)
    * version plus its id under `__graft_rid`. Ids are unique per row,
    * stable across maintenance rewrites when
    * [[SnapshotTable.RowTrackingProp]] is set, and survive DV deletes
    * (survivor rows keep theirs). Requires compacted state (pending
    * MoR delta rows have no base-file address yet). */
  def readWithRowIds(version: Int = -1): DataFrame =
    readVersion(version, rowIds = true)

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
    // never saw. A commit of another process that advanced the marks
    // after the insert read its version makes the insert's commit
    // conflict ([[commit]]); the statement retry re-reserves above the
    // raced-in mark. SYNC IDENTITY's forward realignment survives
    // (max/min keeps the later mark).
    val v = currentVersion
    manifestOf(v).identHwm.get(physColName(col, v)).foreach(committed =>
      hwm.updateAndGet(beyond(step, _, committed)))
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
    // the durable mark first: committed transactionally with every
    // identity insert, it survives deletes of the highest rows (which
    // footer stats do not — stats would re-issue the deleted ids).
    // Stats remain the legacy fallback for pre-mark tables.
    manifestOf(v).identHwm.get(physColName(name, v)).fold(
      storedIdentityExtreme(name, start, step))(beyond(step, _, start - step))
  }

  /** The later of two identity values in allocation direction `step`. */
  private def beyond(step: Long, a: Long, b: Long): Long =
    if (step > 0) math.max(a, b) else math.min(a, b)

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
    val entries =
      (fileEntries(v) ++ deltaEntries(v)).filter(_.rows > 0)
    if (entries.isEmpty) return virgin
    if (entries.forall(_.stats.contains(phys))) {
      val extreme =
        if (step > 0) math.ceil(entries.map(_.stats(phys)._2).max).toLong
        else math.floor(entries.map(_.stats(phys)._1).min).toLong
      beyond(step, extreme, virgin)
    } else {
      // stat-less column: one aggregate over the snapshot, once per
      // session — after that the atomic carries the mark
      val agg = if (step > 0) max(col(name)) else min(col(name))
      val r = read(v).agg(agg.cast("long")).head()
      if (r.isNullAt(0)) virgin else beyond(step, r.getLong(0), virgin)
    }
  }

  /** Fill NULL slots of identity column `f` with freshly reserved
    * values — one cached pass to size the reservation, then the
    * assignment rides the write job itself (global row indices come
    * from per-partition offsets, so no shuffle and no driver loop;
    * cost is O(batch), never table-sized). `forbidExplicit` raises on
    * any non-NULL provided value (GENERATED ALWAYS AS IDENTITY without
    * ALLOW EXPLICIT INSERT); explicit values never advance the
    * high-water mark (Delta parity — SYNC semantics are out of scope).
    * The sized batch is held in `caches`, so the insert that writes the
    * filled frame releases it when it ends. */
  private[graft] def fillIdentity(
      df: DataFrame, f: org.apache.spark.sql.types.StructField,
      start: Long, step: Long, forbidExplicit: Boolean,
      caches: CacheScope): DataFrame = {
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
    val rdd = caches.persistRdd(df.rdd)
    val n = rdd.count()
    if (n == 0) return df
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
    commit(Commit("WIDEN_COLUMN", v, mapping = Some(Mapping.of(m).copy(
      widened = m.widened + (phys -> newType.catalogString))))): Unit
    SnapshotTable.mappedRoots.add(root)
    this
  }

  /** SET NOT NULL's existing-row validation: one stop-at-first-NULL
    * probe — a scan claiming non-nullable over stored NULLs would
    * mislead the optimizer, so the constraint must never land on
    * violating data. */
  private[graft] def requireNoNulls(name: String, verb: String,
      v: Int = currentVersion): Unit =
    require(read(v).filter(col(name).isNull).limit(1).count() == 0,
      s"$verb ${name} SET NOT NULL: existing rows contain NULLs")

  /** ALTER COLUMN … SET NOT NULL as a metadata-only commit: the rows of
    * the version it commits from validate ([[requireNoNulls]]), then the
    * flag rides the versioned overlay and Spark's output resolver
    * enforces it on every subsequent write. The commit depends on the
    * column's NULL rows at that version, so a rival that adds a file
    * which may hold one conflicts with it. Shared by the SQL-extension
    * verb and the catalog's ALTER path. */
  def setNotNull(name: String): SnapshotTable = {
    val v = currentVersion
    requireNoNulls(name, "ALTER COLUMN", v)
    alterColumnMetaAt(v, name,
      Some(Seq(org.apache.spark.sql.sources.IsNull(name))), { f =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putBoolean(SnapshotTable.NotNullKey, true).build())
    })
  }

  /** Blind append commit: new files join the current file set; existing
    * files and pending deltas are untouched — O(source) like a streaming
    * sink. `partitionBy` may differ from earlier commits (Iceberg-style
    * partition evolution): each file entry remembers ITS partition
    * column, and [[planFiles]] prunes exactly where metadata allows.
    *
    * `txn` = (appId, version) makes the append idempotent — the
    * exactly-once handshake of streaming sinks ([[txnVersion]]): the
    * marker is recorded atomically with the commit, and a call whose
    * (appId, version) is already recorded commits nothing, as does one
    * that a racing writer of the same appId beats to it ([[commit]]). A
    * re-delivered append would duplicate rows, so here the skip is
    * load-bearing (a keyed [[merge]] replay is only wasted work).
    *
    * Concurrency: an append reads no file, so a lost race rebases it on
    * the winner metadata-only ([[commit]]); only a winner that changed
    * the column mapping or metadata (a `SET NOT NULL` the write was not
    * checked against) conflicts. The data is written exactly once. */
  def append(df: DataFrame, partitionBy: Option[String] = None,
      txn: Option[(String, Long)] = None): SnapshotTable = {
    val v = currentVersion
    if (!replayed(v, txn))
      commit(Commit("APPEND", v, txn = txn,
        files = writeData(df, v + 1, partitionBy))): Unit
    this
  }

  /** Overwrite commit: `df` becomes the new content of what `replace`
    * supersedes ([[SnapshotTable.Replace]] has each scope's rules), and
    * every other file carries by reference; earlier versions stay
    * time-travelable. Under `Present` and `Values`, files laid out under
    * a different (or no) layout may hold rows of both kinds: they are
    * rewritten with the replaced partitions' rows filtered out (the
    * residue rewrite that keeps mixed-layout tables correct). Every
    * scope but `All` requires compacted state; DV marks on replaced
    * files die with them, and marks on carried files ride along. The
    * data is written once, and a lost race rebases ([[commit]]). */
  def overwrite(df: DataFrame, partitionBy: Option[String] = None,
      replace: SnapshotTable.Replace = SnapshotTable.Replace.All): SnapshotTable = {
    import SnapshotTable.Replace._
    val scope = (replace, partitionBy) match {
      case (Present, None) => Some(All)
      case (Present, Some(spec)) =>
        // the data's partition values in the layout's on-disk form:
        // writeColumn(spec) is the function the writer names directories
        // with (for identity, the cast to string)
        val present = df.select(PartitionTransform.writeColumn(
            PartitionTransform.parse(spec))).distinct().collect()
          .map(r => Option(r.getString(0))).toSet
        if (present.isEmpty) None else Some(Values(present))
      case (s, _) => Some(s)
    }
    scope.foreach { s =>
      val v = s match { case Planned(_, at, _) => at; case _ => currentVersion }
      require(s == All || deltaEntries(v).isEmpty,
        s"OVERWRITE of part of $root requires compacted state (pending MoR deltas)")
      val written = writeData(df, v + 1, partitionBy)
      val (gone, residue) = s match {
        case Planned(files, _, _) => (files, Seq.empty)
        case Values(vals) => replacedPartitions(v, partitionBy, vals)
        case _ => (fileEntries(v) ++ deltaEntries(v), Seq.empty) // All
      }
      commit(Commit("OVERWRITE", v, read = gone,
        predicate = s match { case Planned(_, _, fs) => Some(fs); case _ => None },
        removed = gone, files = written ++ residue, mergeKeys = Some(Seq.empty),
        keptDvs = if (s == All) Some(Seq.empty)
          else remainingDvs(v, gone.map(_.path).toSet, v + 1))): Unit
    }
    this
  }

  /** The files at `v` that a partition overwrite of `vals` (on-disk
    * values of layout `partitionBy`; None is the null partition)
    * removes, and the residue it writes: the rows of files laid out
    * under another (or no) layout that belong to no replaced partition. */
  private def replacedPartitions(v: Int, partitionBy: Option[String],
      vals: Set[Option[String]]): (Seq[FileEntry], Seq[FileEntry]) = {
    require(partitionBy.isDefined && vals.nonEmpty,
      s"a partition OVERWRITE of $root names a layout and at least one partition")
    val spec = PartitionTransform.parse(partitionBy.get)
    // on disk identity layouts hold the null partition under the Hive
    // default-partition sentinel, so that is the file-level match key
    val diskVals = vals.map(_.getOrElse(HiveNullPart))
    val (mine, foreign) = fileEntries(v)
      .partition(e => e.partValue != null && underLayout(spec, e))
    // isin over a null-bearing list is three-valued (non-matches go NULL
    // and get filtered), so null membership is handled by predicate
    // shape, never by isin(null)
    val pv = PartitionTransform.writeColumn(spec)
    val named = vals.flatten.toSeq
    val nonNullKept = if (named.isEmpty) pv.isNotNull else pv.isNotNull && !pv.isin(named: _*)
    val keepRow = if (vals.contains(None)) nonNullKept else nonNullKept || pv.isNull
    val residue =
      if (foreign.isEmpty) Seq.empty
      else writeData(scan(foreign, dvEntries(v), v).filter(keepRow), v + 1, partitionBy)
    (mine.filter(e => diskVals.contains(e.partValue)) ++ foreign, residue)
  }

  /** The one file planner: the files of `version` (default: latest)
    * that may hold a row where `cond` is TRUE. `cond` is resolved
    * against the table, its literal casts are folded, and its conjuncts
    * are translated to v1 source filters for [[mayHold]]. Scans prune by
    * the same predicate ([[ManifestFileIndex]]), so `read().filter(cond)`
    * opens only these files; [[delete]] and [[update]] rewrite exactly
    * them, and the SQL scan, row-level ops and size estimates plan
    * through here. Metadata only: no job, and no footer read beyond the
    * per-origin schema cache. Pending merge-on-read (MoR) deltas are not
    * base files and never appear in the result. */
  def planFiles(cond: Column, version: Int = -1): Seq[FileEntry] = {
    val v = if (version < 0) currentVersion else version
    planFilters(sourceFilters(cond, v), v)
  }

  /** [[planFiles]] for v1 filters a scan already pushed (the SQL size
    * estimates): no resolution pass, the filters go straight to
    * [[mayHold]]. */
  private[graft] def planFilters(
      filters: Seq[org.apache.spark.sql.sources.Filter],
      version: Int = -1): Seq[FileEntry] = {
    val v = if (version < 0) currentVersion else version
    val entries = fileEntries(v)
    entries.filter(mayHold(filters, entries, physColName(_, v)))
  }

  /** `cond` resolved against version `v` as the v1 source filters of its
    * conjuncts (see [[planFiles]]); none, which plans every file, when
    * `v` has no file to resolve it against. */
  private def sourceFilters(cond: Column,
      v: Int): Seq[org.apache.spark.sql.sources.Filter] =
    if (fileEntries(v).isEmpty) Seq.empty
    else org.apache.spark.sql.GraftStreamShim.sourceFiltersOf(read(v), cond)

  /** The entry predicate of [[planFiles]] and [[ManifestFileIndex]]: may
    * `e` (one of `entries`) hold a row where all of the ANDed v1
    * `filters` are TRUE? A file without rows holds none (a schema
    * carrier is never planned, so no rewrite drops it). A conjunct rules
    * the file out only when
    *   - its partition value proves it: an equality or IN-list on the
    *     layout column whose canonical literal (under a hidden layout,
    *     the literal's [[PartitionTransform.applyLiteral]]) is not the
    *     file's value, or a range bound past the value where the layout
    *     orders like the column (identity strings and dates, `days` and
    *     `months` of dates and timestamps, `truncate` of strings); or
    *   - its footer stats prove it: a numeric bound
    *     ([[SnapshotTable.numericBound]]) outside the file's
    *     (min, max) of the column ([[statsOf]]).
    * And/Or combine; any other filter, a file without stats and a null
    * partition value "may match". `phys` maps the filters' column names
    * to the physical names stats and layouts are recorded under. Each
    * conjunct's literals are transformed once per layout, not per file. */
  private def mayHold(filters: Seq[org.apache.spark.sql.sources.Filter],
      entries: Seq[FileEntry],
      phys: String => String = identity): FileEntry => Boolean = {
    import org.apache.spark.sql.sources._
    val stats = filters.flatMap(_.references).distinct
      .map(c => c -> statsOf(phys(c), entries)).toMap
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    // The literal's canonical form where layout `tag` orders partition
    // values like the column's values, as the lowest (`upper` false) or
    // highest rendering any writer could have given it. `days`/`months`
    // of a timestamp are prefixes of its rendering in the WRITER's
    // session zone, which the log does not record: render at the
    // extreme offsets any zone can have (-18:00, +18:00), so no writer's
    // partition value for a matching row falls outside the bounds.
    def ordered(v: Any, tag: String, upper: Boolean): Option[String] = {
      def instant(i: java.time.Instant) = Some(stamp.format(i.atOffset(
        if (upper) java.time.ZoneOffset.MAX else java.time.ZoneOffset.MIN)))
      (v, tag) match {
        case (s: String, null) => Some(s)
        case (s: String, t) if t.startsWith("trunc") => Some(s)
        case (_: java.sql.Date | _: java.time.LocalDate, null | "days" | "months") =>
          Some(v.toString)
        case (t: java.sql.Timestamp, "days" | "months") => instant(t.toInstant)
        case (t: java.time.Instant, "days" | "months") => instant(t)
        case (t: java.time.LocalDateTime, "days" | "months") => Some(stamp.format(t))
        case _ => None
      }
    }
    val unescaped = scala.collection.mutable.HashMap.empty[String, UTF8String]
    def partValue(e: FileEntry): Option[UTF8String] =
      Option(e.partValue).filter(_ != HiveNullPart).map(p =>
        unescaped.getOrElseUpdate(p, UTF8String.fromString(org.apache.spark.sql
          .catalyst.catalog.ExternalCatalogUtils.unescapePathName(p))))
    // leaf `f`'s test of a partition value under layout `tag`
    def partTest(f: Filter, tag: String): UTF8String => Boolean = {
      def applied(x: String) = UTF8String.fromString(PartitionTransform.applyLiteral(tag, x))
      // is the value on the literal's side of its lower/upper bound?
      def side(v: Any, upper: Boolean): UTF8String => Boolean =
        ordered(v, tag, upper).map(applied).fold((_: UTF8String) => true) { b =>
          pv => if (upper) pv.compareTo(b) <= 0 else pv.compareTo(b) >= 0 }
      def equal(v: Any): UTF8String => Boolean = {
        val (lo, hi) = (side(v, upper = false), side(v, upper = true))
        pv => lo(pv) && hi(pv)
      }
      val listed = f.references.headOption.flatMap(a =>
        GraftV2Table.partitionPredicate(Array(f), a))
      f match {
        case _ if listed.isDefined => listed.get.map(applied).toSet
        case EqualTo(_, v) => equal(v)
        case In(_, vs) =>
          val tests = vs.map(equal)
          pv => tests.exists(_(pv))
        case GreaterThan(_, v) => side(v, upper = false)
        case GreaterThanOrEqual(_, v) => side(v, upper = false)
        case LessThan(_, v) => side(v, upper = true)
        case LessThanOrEqual(_, v) => side(v, upper = true)
        case _ => _ => true
      }
    }
    def byPartition(f: Filter): FileEntry => Boolean = {
      val cols = f.references.map(phys).distinct
      val tests = scala.collection.mutable.HashMap.empty[String, UTF8String => Boolean]
      e => {
        val (c, tag) = if (e.partCol != null) (e.partCol, null) else (e.xformCol, e.xformTag)
        c == null || cols.exists(_ != c) ||
          partValue(e).forall(tests.getOrElseUpdate(tag, partTest(f, tag)))
      }
    }
    def byStats(f: Filter): FileEntry => Boolean =
      SnapshotTable.numericBound(f).fold((_: FileEntry) => true) { case (c, lo, hi) =>
        e => stats(c)(e).forall { case (mn, mx) => mx >= lo && mn <= hi } }
    def may(f: Filter): FileEntry => Boolean = f match {
      case And(l, r) =>
        val (a, b) = (may(l), may(r))
        e => a(e) && b(e)
      case Or(l, r) =>
        val (a, b) = (may(l), may(r))
        e => a(e) || b(e)
      case EqualNullSafe(a, v) if v != null => may(EqualTo(a, v))
      case _ =>
        val (p, s) = (byPartition(f), byStats(f))
        e => p(e) && s(e)
    }
    val tests = filters.map(may)
    e => e.rows > 0 && tests.forall(_(e))
  }

  /** Manifest-only column MIN/MAX (ANALYZE-style): combined from the
    * per-file footer stats captured at commit — zero data files read.
    * Defined only when every current file carries stats for the column
    * (conservative: a single stat-less file makes metadata unusable) and
    * no MoR deltas are pending — deferred-merge rows live outside the
    * base files, so base-only stats could exclude their values. */
  def statsMinMax(colName: String): Option[(Double, Double)] = {
    val v = currentVersion
    val entries = fileEntries(v)
    // DV-deleted rows may have held the min/max — footer stats are only
    // an upper bound on the live range, so decline like pending deltas
    if (entries.isEmpty || deltaEntries(v).nonEmpty || dvEntries(v).nonEmpty) None
    else {
      val ss = entries.map(statsOf(physColName(colName), entries))
      if (ss.exists(_.isEmpty)) None
      else Some((ss.map(_.get._1).min, ss.map(_.get._2).max))
    }
  }

  /** The footer (min, max) of physical column `pc` for each of
    * `entries`, in value space — what [[mayHold]] and [[statsMinMax]]
    * compare. A decimal column's footer stats are its UNSCALED parquet
    * integers (both stats writers store them so); they divide by
    * 10^scale of the column's type in the file's own generation schema,
    * so logs already written read right and a decimal widened to a
    * larger scale keeps each file's scale. */
  private def statsOf(pc: String,
      entries: Seq[FileEntry]): FileEntry => Option[(Double, Double)] = {
    val scaleOf: Map[Long, Double] = entries.filter(_.stats.contains(pc))
      .groupBy(_.origin).flatMap { case (o, es) =>
        SnapshotTable.probeDataSchema(spark, es.map(_.path), Some(o))
          .find(_.name == pc).map(_.dataType).collect {
            case d: org.apache.spark.sql.types.DecimalType =>
              o -> math.pow(10, d.scale)
          }
      }
    e => e.stats.get(pc).map { case (mn, mx) =>
      scaleOf.get(e.origin).fold((mn, mx))(f => (mn / f, mx / f))
    }
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
    createManifest(Manifest(0, "CONVERT", Seq.empty, entries, Seq.empty))
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
    createManifest(Manifest(0, "CREATE", Seq.empty, written, Seq.empty,
      txns = txn.map(t => Map(t._1 -> t._2)).getOrElse(Map.empty),
      fieldMeta = createMeta))
    this
  }

  /** MERGE of `source` into the table on `keys` (Delta `MERGE INTO …
    * WHEN MATCHED … WHEN NOT MATCHED INSERT *`); the source must be
    * unique on `keys`. Two flags choose the shape:
    *
    *  - copy-on-write upsert (the default): result = target rows with no
    *    key match in `source` + every source row; commits `MERGE`;
    *  - copy-on-write delete (`deleteMatched`): result = target rows with
    *    no key match; only the key columns of `source` are read; commits
    *    `MERGE_DELETE`;
    *  - merge-on-read (`deferred`): `source`, or for `deleteMatched` its
    *    key tombstones, append as delta files and no base file is
    *    touched; commits `MERGE_MOR` / `DELETE_MOR` ([[mergeOnRead]]).
    *
    * A copy-on-write merge rewrites only the source's slice of the table
    * ([[mergeSlice]]). Both modes read that slice, so a lost commit race
    * rebases on the winner unless it changed the slice or added rows in
    * the source's partitions ([[commit]]). `trackChanges` writes the
    * commit's change feed ([[changes]]).
    *
    * `evolveSchema` (Delta `mergeSchema`, copy-on-write upsert only):
    * source columns absent from the target are appended; only rewritten
    * files take the widened schema, carried files null-fill the new
    * columns at scan time ([[readEntries]]).
    *
    * `txn` (as in [[append]]): a call whose (appId, version) is
    * already recorded is skipped — a keyed replay is content-idempotent,
    * but the skip saves the whole write. */
  def merge(source: DataFrame, keys: Seq[String], partitionBy: Option[String] = None,
      deleteMatched: Boolean = false, deferred: Boolean = false,
      trackChanges: Boolean = false, evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None): SnapshotTable = {
    require(!evolveSchema || !(deleteMatched || deferred),
      s"MERGE on $root: evolveSchema applies to the copy-on-write upsert only")
    if (!replayed(currentVersion, txn)) {
      if (deferred) mergeOnRead(source, keys, partitionBy, deleteMatched,
        trackChanges, txn)
      else mergeCopyOnWrite(source, keys, partitionBy, deleteMatched,
        trackChanges, evolveSchema, txn)
    }
    this
  }

  /** Whether version `v` already records `txn`'s (appId, ≥ version). */
  private def replayed(v: Int, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, ver) => manifestOf(v).txns.get(app).exists(_ >= ver) }

  /** The copy-on-write core of [[merge]]. The source is evaluated once
    * ([[withSourceOnce]]; `deleteMatched` keeps only its key columns).
    * Its slice of the current version ([[mergeSlice]]) is read as the
    * rewrite base — DV-resolved, the slice's pending deltas resolved in —
    * and rewritten without the key-matched rows, plus the source rows
    * for an upsert. Under row tracking the carried (anti-joined) rows
    * keep their ids; source rows take fresh ones, since the key join
    * cannot tell an update from an insert without another join (SQL
    * MERGE keeps updated rows' ids through its delta path).
    *
    * The change feed holds update pre- and post-images plus inserts, or
    * `delete` rows — classified against the rewrite base, so its cost is
    * O(source + slice), never the table.
    *
    * The data is written once, against the version read at entry; the
    * commit reads the slice's files and deltas, and its predicate is the
    * source's partitions (every partition when the slice is the whole
    * table), so a lost race rebases metadata-only on a disjoint winner
    * ([[commit]]). */
  private def mergeCopyOnWrite(source: DataFrame, keys: Seq[String],
      partitionBy: Option[String], deleteMatched: Boolean,
      trackChanges: Boolean, evolveSchema: Boolean,
      txn: Option[(String, Long)]): Unit =
    withSourceOnce(if (deleteMatched) source.select(keys.map(col): _*)
                   else source) { src =>
      val source = src.df
      val v0 = currentVersion
      lazy val touched = partitionBy.fold(Set.empty[String])(src.partValues)
      val slice = mergeSlice(v0, keys, partitionBy, touched)
      val base = sliceScan(slice, v0, keys,
        if (deleteMatched) read(v0).schema else source.schema)
      val kept = base.join(source, keys, "left_anti")
      val rewritten =
        if (deleteMatched) kept
        else kept.unionByName(
          if (base.columns.contains(SnapshotTable.RidCol))
            source.withColumn(SnapshotTable.RidCol, lit(null).cast("long"))
          else source,
          allowMissingColumns = evolveSchema)
      val written = writeData(rewritten, v0 + 1, partitionBy)
      val cdc =
        if (!trackChanges) Seq.empty
        else {
          // pre-images come from the (possibly narrower) base schema —
          // under evolveSchema the new columns null-fill
          val matched = base.drop(SnapshotTable.RidCol)
            .join(source.select(keys.map(col): _*), keys, "left_semi")
          writeChanges(
            if (deleteMatched) matched.withColumn(ChangeCol, lit("delete"))
            else {
              val baseKeys = base.select(keys.map(col): _*)
              source.join(baseKeys, keys, "left_semi")
                .withColumn(ChangeCol, lit("update_postimage"))
                .unionByName(source.join(baseKeys, keys, "left_anti")
                  .withColumn(ChangeCol, lit("insert")))
                .unionByName(matched.withColumn(ChangeCol, lit("update_preimage")),
                  allowMissingColumns = true)
            },
            v0 + 1)
        }
      val sliced = slice.files ++ slice.deltas
      commit(Commit(if (deleteMatched) "MERGE_DELETE" else "MERGE", v0,
        read = sliced, predicate = Some(slice.predicate), txn = txn,
        removed = sliced, files = written, changes = cdc,
        keptDvs = remainingDvs(v0, slice.files.map(_.path).toSet, v0 + 1),
        mergeKeys = if (slice.carriedDeltas.isEmpty) Some(Seq.empty) else None)): Unit
    }

  /** The merge-on-read writer of [[merge]]: appends `source` — or, for
    * `deleteMatched`, its distinct key tombstones (Iceberg equality-delete
    * analog: key-width, so high-churn deletes stay affordable) — as delta
    * files, touching no base file; commit cost is O(source) whatever the
    * table size. Reads resolve deltas last-writer-wins per key across
    * kinds (a key re-upserted after a delete resurfaces) until
    * [[compact]] folds them. Every deferred merge on a table uses the
    * same `keys` (a fixed primary key). Like the copy-on-write merge it
    * commits as having read the source's slice ([[mergeSlice]]).
    *
    * The change feed classifies against the RESOLVED view: a key whose
    * current value sits in a pending delta gets that row as its
    * pre-image; a tombstoned or absent key has none (its upsert is an
    * insert, its delete emits nothing). The pre-images are a key-probed
    * read of the source's slice ([[mergeSlice]]), probed with the
    * just-written delta copy rather than a re-execution of the source
    * plan — the resolution shuffle is batch-sized, the commit itself
    * stays O(source). */
  private def mergeOnRead(source: DataFrame, keys: Seq[String],
      partitionBy: Option[String], deleteMatched: Boolean,
      trackChanges: Boolean, txn: Option[(String, Long)]): Unit = {
    val v = currentVersion
    val prior = mergeKeysOf(v)
    require(prior.isEmpty || prior == keys,
      s"deferred-merge keys $keys differ from table's $prior")
    val rows =
      if (!deleteMatched) source
      else source.select(keys.map(col): _*).distinct().withColumn(DelCol, lit(true))
    val written = writeData(rows, v + 1, partitionBy)
    lazy val copy = (if (written.nonEmpty) readEntries(written) else rows).drop(DelCol)
    // the written entries name the touched partitions without a job
    lazy val touched =
      if (written.forall(_.partValue != null)) written.map(_.partValue).toSet
      else partitionBy.fold(Set.empty[String])(
        new OnceSource(copy, local = false).partValues)
    val slice = mergeSlice(v, keys, partitionBy, touched)
    val cdc =
      if (!trackChanges) Seq.empty
      else {
        // no distinct: merge sources are unique on keys, and a semi-join
        // probe tolerates duplicates anyway (a distinct would cost a
        // shuffle before the broadcast build)
        val probe = copy.select(keys.map(col): _*)
        val pre = sliceScan(slice, v, keys,
          if (deleteMatched) read(v).schema else source.schema, Some(probe))
        if (deleteMatched) writeChanges(pre.withColumn(ChangeCol, lit("delete")), v + 1)
        else {
          // resolution executed ONCE: the pre-images land in their own
          // change files, which then serve as the (materialized) key
          // probe splitting the source into post-images and inserts
          val preCdc = writeChanges(
            pre.withColumn(ChangeCol, lit("update_preimage")), v + 1)
          val preKeys =
            if (preCdc.nonEmpty) readEntries(preCdc).select(keys.map(col): _*)
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(
                source.schema.filter(f => keys.contains(f.name))))
          preCdc ++ writeChanges(
            copy.join(preKeys, keys, "left_semi")
              .withColumn(ChangeCol, lit("update_postimage"))
              .unionByName(copy.join(preKeys, keys, "left_anti")
                .withColumn(ChangeCol, lit("insert"))),
            v + 1)
        }
      }
    commit(Commit(if (deleteMatched) "DELETE_MOR" else "MERGE_MOR", v,
      read = slice.files ++ slice.deltas, predicate = Some(slice.predicate),
      txn = txn, deltas = written, changes = cdc, mergeKeys = Some(keys))): Unit
  }

  /** The slice planner of [[merge]]. With `partitionBy` among `keys`, a
    * matched row's partition value is one of the source's (`touched`,
    * manifest directory-string form, forced only here), so the slice is
    * the files of those partitions; without it the slice is the whole
    * table. A file laid out under another (or no) partition column says
    * nothing about `partitionBy`'s values and is always in the slice.
    *
    * Untouched pending deltas carry as still-pending deltas when every
    * delta is laid out under `partitionBy` and the table's merge keys
    * include it — a delta row then shadows base rows of its own
    * partition only. Otherwise a pending delta may update any partition,
    * and every file and delta folds into the slice.
    *
    * The slice's `predicate` is what [[mayHold]] keeps a file of it by:
    * `partitionBy IN touched` when the slice is pruned, none (every file)
    * otherwise — what a rival's added file is checked against. */
  private def mergeSlice(v: Int, keys: Seq[String], partitionBy: Option[String],
      touched: => Set[String]): MergeSlice = {
    val files = fileEntries(v)
    val deltas = deltaEntries(v)
    partitionBy.filter(keys.contains) match {
      case Some(p) if deltas.isEmpty || (mergeKeysOf(v).contains(p) &&
          deltas.forall(e => e.partCol == p && e.partValue != null)) =>
        val vals = touched
        def inSlice(e: FileEntry) =
          e.partValue == null || e.partCol != p || vals.contains(e.partValue)
        val (f, cf) = files.partition(inSlice)
        val (d, cd) = deltas.partition(inSlice)
        MergeSlice(f, d, cf, cd,
          Seq(org.apache.spark.sql.sources.In(p, vals.toArray[Any])))
      case _ => MergeSlice(files, deltas, Seq.empty, Seq.empty, Seq.empty)
    }
  }

  /** Reads slice `s` of version `v`: the DV-resolved rewrite base, with
    * the row ids threaded under row tracking ([[scan]]) — or,
    * given `keyProbe`, only the rows whose `keys` the probe holds (the
    * change-feed pre-image read), restricted before the resolution so
    * its shuffle is probe-sized. The slice's pending deltas resolve in;
    * their rows have no base address, hence no threaded id. An empty
    * slice reads as no rows of `emptySchema`. */
  private def sliceScan(s: MergeSlice, v: Int, keys: Seq[String],
      emptySchema: => org.apache.spark.sql.types.StructType,
      keyProbe: Option[DataFrame] = None): DataFrame =
    if (s.files.isEmpty && s.deltas.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    else if (s.deltas.nonEmpty)
      resolveMerged(s.files, s.deltas, mergeKeysOf(v), dvEntries(v), keyProbe)
    else keyProbe.fold(scan(s.files, dvEntries(v), v, rowIds = rowTrackingEnabled))(
      kp => scan(s.files, dvEntries(v), v).join(broadcast(kp), keys, "left_semi"))

  /** Predicate DELETE (Delta `DELETE FROM … WHERE`): removes the rows
    * where `cond` is TRUE — a row whose predicate is NULL stays (SQL
    * three-valued logic). Only the files [[planFiles]] keeps are read:
    * a partition predicate touches the matching partitions, and on a
    * range-clustered layout an interval predicate touches O(matching
    * files), not the table.
    *
    * Copy-on-write (the default): planned files rewrite without the
    * matched rows under the table's layout ([[layoutSpec]]), everything
    * else carries by reference, and under row tracking the survivors
    * keep their ids. Commits `DELETE`, also when nothing matched;
    * requires compacted state.
    *
    * `positional = true` (Iceberg position-delete / Delta
    * deletion-vector analog): the matched rows' (file, position)
    * addresses commit as deletion-vector marks — no base rewrite, no key
    * columns needed; [[compact]] and REORG PURGE fold the marks away.
    * See [[markPositional]] for its rules on pending MoR deltas and on
    * a delete that matches nothing. */
  def delete(cond: Column, positional: Boolean = false,
      trackChanges: Boolean = false): SnapshotTable = {
    if (positional) markPositional(cond, None, None, trackChanges)
    else rewriteWhere(cond, None, trackChanges)
    this
  }

  /** Copy-on-write UPDATE … SET `set` WHERE `cond` (Delta `UPDATE` with
    * data skipping): planned files as in [[delete]] rewrite with the
    * matched rows assigned; everything else carries by reference. All
    * SET expressions evaluate against the OLD row (single projection,
    * standard UPDATE semantics — `SET a = b, b = a` swaps). The layout
    * column cannot be assigned (rows never move between partitions,
    * which keeps the carry-over sound). Under row tracking carried and
    * updated rows keep their ids. Commits `UPDATE`; requires compacted
    * state. The positional UPDATE is the SQL path's [[markPositional]]
    * with analyzer-built images. */
  def update(cond: Column, set: Map[String, Column],
      trackChanges: Boolean = false): SnapshotTable = {
    require(!layoutSpec.exists(s => set.contains(PartitionTransform.parse(s).col)),
      s"UPDATE on $root must not assign the partition column")
    rewriteWhere(cond, Some(set), trackChanges)
    this
  }

  /** The copy-on-write core of [[delete]] (`set` None) and [[update]]:
    * the planned files rewrite under the table's layout with the matched
    * rows dropped or assigned, the rest carry by reference, and marks on
    * rewritten files drop (the rewrite's DV-resolved scan applied them). */
  private def rewriteWhere(cond: Column, set: Option[Map[String, Column]],
      trackChanges: Boolean): Unit = {
    val v = currentVersion
    val op = if (set.isEmpty) "DELETE" else "UPDATE"
    require(deltaEntries(v).isEmpty,
      s"$op on $root requires compacted state (pending MoR deltas)")
    val filters = sourceFilters(cond, v)
    val touched = planFilters(filters, v)
    val dvs = dvEntries(v)
    val matches = cond <=> true
    def assigned(df: DataFrame, s: Map[String, Column]): DataFrame =
      df.select(df.columns.map { c =>
        s.get(c).fold(col(c))(e => when(matches, e).otherwise(col(c)).as(c))
      }: _*)
    val written =
      if (touched.isEmpty) Seq.empty
      else {
        // under row tracking carried AND updated rows keep their ids (the
        // rid column rides through the SET projection untouched — no SET
        // can name an engine column)
        val src = scan(touched, dvs, v, rowIds = rowTrackingEnabled)
        writeData(set.fold(src.filter(!matches))(assigned(src, _)),
          v + 1, layoutSpecAt(v))
      }
    val cdc =
      if (!trackChanges || touched.isEmpty) Seq.empty
      else {
        // both update images derive from the SAME pre-update row set:
        // filtering post-update rows would unpair the feed when a SET
        // assigns the predicate column
        val old = scan(touched, dvs, v).filter(matches)
        writeChanges(set.fold(old.withColumn(ChangeCol, lit("delete"))) { s =>
          assigned(old, s).withColumn(ChangeCol, lit("update_postimage"))
            .unionByName(old.withColumn(ChangeCol, lit("update_preimage")))
        }, v + 1)
      }
    commit(Commit(op, v, read = touched, predicate = Some(filters),
      removed = touched, files = written, changes = cdc,
      keptDvs = remainingDvs(v, touched.map(_.path).toSet, v + 1),
      mergeKeys = Some(Seq.empty))): Unit
  }

  /** The deletion-vector writer behind [[delete]]`(positional = true)`
    * and the SQL positional UPDATE: one addressed scan of the candidate
    * files ([[planFiles]]) minus pending marks finds the rows
    * where `cond` is TRUE, and their (file, position) addresses commit
    * as marks — no base file rewritten, cost O(candidate scan + matched
    * rows). Readers anti-join the marks out ([[scan]]). The
    * predicate evaluates on the DV-resolved scan, so overlapping
    * re-deletes never duplicate marks (row accounting stays exact).
    * When no row matched, nothing commits.
    *
    * `images` None commits `DELETE_DV`. Marks address BASE data files
    * (Iceberg position-delete semantics), so pending MoR deltas are a
    * later layer: a key whose newest version lives in a delta survives
    * a positional delete of its stale base copy (key-level deletes
    * belong to [[merge]] with `deferred` and `deleteMatched`).
    *
    * `images` Some (Delta 3.1 DV-update parity) must be the
    * post-assignment images of EXACTLY the rows matching `cond` (the
    * SQL strategy builds them under the analyzer's assignment
    * projection); they append under `partitionBy` in the same
    * `UPDATE_DV` commit. That requires compacted state: an image must
    * replace the row's only copy.
    *
    * The change feed takes its pre-images from the marked rows and its
    * post-images from `images` — O(changed rows), never a version
    * diff. */
  private[graft] def markPositional(cond: Column, images: Option[DataFrame],
      partitionBy: Option[String], trackChanges: Boolean): Unit = {
    val v = currentVersion
    val deltas = deltaEntries(v)
    require(images.isEmpty || deltas.isEmpty,
      s"positional UPDATE on $root requires compacted state (pending MoR " +
        "deltas — OPTIMIZE folds them first)")
    val filters = sourceFilters(cond, v)
    val candidates = planFilters(filters, v)
    if (candidates.isEmpty) return
    val dvs = dvEntries(v)
    val matched = scan(candidates, dvs, v, addressed = true).filter(cond <=> true)
    val marks = writeData(matched.select(col(DvFileCol), col(DvPosCol)),
      v + 1, None).filter(_.rows > 0)
    if (marks.isEmpty) return
    // the images feed the data write AND the change feed — cache them so
    // a non-deterministic SET expression cannot store one value and feed
    // the change feed another
    withCaches { caches =>
      val cachedImages = images.map(caches.persist)
      val added = cachedImages.fold(Seq.empty[FileEntry])(
        writeData(_, v + 1, partitionBy).filter(_.rows > 0))
      val cdc =
        if (!trackChanges) Seq.empty
        else {
          // the change feed is LOGICAL: a base copy whose key carries a
          // pending MoR delta row is not what the table resolves to (an
          // upsert delta still wins; a tombstone already deleted the
          // key), so pre-images anti-join the pending delta keys. Both
          // sides are change-feed-sized, never a table scan.
          val pre = matched.drop(DvFileCol, DvPosCol)
          val keys = mergeKeysOf(v)
          val logical =
            if (deltas.isEmpty || keys.isEmpty) pre
            else pre.join(readEntries(deltas).select(keys.map(col): _*)
              .distinct(), keys, "left_anti")
          // post-images carry LOGICAL rows only — the materialized row-id
          // column (present under row tracking) stays out
          val post = cachedImages.map(_.drop(SnapshotTable.RidCol)
            .withColumn(ChangeCol, lit("update_postimage")))
          writeChanges(post.foldLeft(logical.withColumn(ChangeCol,
            lit(if (images.isEmpty) "delete" else "update_preimage")))(
            _ unionByName _), v + 1)
        }
      commit(Commit(if (images.isEmpty) "DELETE_DV" else "UPDATE_DV", v,
        read = candidates, predicate = Some(filters), files = added,
        marks = marks, changes = cdc)): Unit
    }
  }

  /** A DML source evaluated once (see [[withSourceOnce]]). */
  private final class OnceSource(val df: DataFrame, local: Boolean) {
    /** The distinct values of `p` in the manifest's directory-string
      * form; local rows answer without a job. */
    def partValues(p: String): Set[String] = {
      val vals = df.select(col(p).cast("string"))
      (if (local) vals else vals.distinct()).collect().map(_.getString(0)).toSet
    }
  }

  /** Runs `body` over `source` evaluated once. A DML reads its source
    * several times (touched partitions, the anti-join, the union, change
    * capture); re-executing the source plan costs a job per read and, for
    * a nondeterministic source, would commit rows of different
    * evaluations. A source whose optimized plan is estimated within
    * `spark.sql.autoBroadcastJoinThreshold` is collected once into a local
    * relation, so later reads scan no input and the touched partitions
    * cost no job. A larger one is persisted and released when `body`
    * returns (a source the caller already cached is used as it is). */
  private def withSourceOnce[T](source: DataFrame)(body: OnceSource => T): T = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (limit >= 0 && source.queryExecution.optimizedPlan.stats.sizeInBytes <= limit)
      body(new OnceSource(spark.createDataFrame(
        java.util.Arrays.asList(source.collect(): _*), source.schema), local = true))
    else if (source.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      body(new OnceSource(source, local = false))
    else withCaches(caches =>
      body(new OnceSource(caches.persist(source), local = false)))
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
    * keeps the manifest's exact row accounting sound). The result
    * replaces `version`'s DV files; None (no DVs or no rewritten files)
    * carries them by reference. */
  private def remainingDvs(version: Int, rewrittenPaths: Set[String],
      newVersion: Int): Option[Seq[FileEntry]] = {
    val dvs = dvEntries(version)
    if (dvs.isEmpty || rewrittenPaths.isEmpty) None
    else {
      import spark.implicits._
      val gone = rewrittenPaths.toSeq.toDF(DvFileCol)
      val kept = readEntries(dvs)
        .join(broadcast(gone), Seq(DvFileCol), "left_anti")
      Some(writeData(kept, newVersion, None).filter(_.rows > 0))
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

  /** `OPTIMIZE` with its clauses (Delta ships every file-rewrite
    * maintenance verb as this one command): `partitions` is the
    * `WHERE pc IN (…)` scope in the layout's partition values,
    * `zorderBy` the `ZORDER BY` columns, `full` the `FULL` clause,
    * `purge` the `REORG TABLE … APPLY (PURGE)` verb, and `minBytes` both
    * the small-file threshold and the output bin size. Returns the
    * number of files rewritten (0 = no commit).
    *
    *   - bare: the files smaller than `minBytes` rewrite, in
    *     size-targeted bins; commits `OPTIMIZE`, nothing for 0 or 1 such
    *     file.
    *   - bare on a table with a `CLUSTER BY` spec
    *     ([[SnapshotTable.ClusterSpecProp]]): incremental clustering
    *     (Delta's liquid OPTIMIZE) — the files written since the last
    *     `ZORDER` or `CLUSTER` commit (every file with `full`, or after a
    *     `CLONE`/`RESTORE` reset) rewrite onto the Morton curve of the
    *     spec's columns, so each run costs O(new data); commits `CLUSTER`,
    *     nothing when no file is new.
    *   - `zorderBy`: every file in scope rewrites onto the Morton curve
    *     of 1–4 columns, so a narrow range on EITHER column prunes files
    *     ([[planFiles]]); commits `ZORDER`, always.
    *   - `purge`: the files with deletion-vector (DV) marks, and the
    *     files whose physical schema still stores a dropped column,
    *     rewrite — the GDPR-style physical removal before VACUUM; commits
    *     `REORG`, nothing when no file qualifies.
    *
    * Every other file carries by reference, path-identical, so the cost
    * is the rewritten bytes, never the table. Rewrites keep the table's
    * layout ([[layoutSpec]]), so partition pruning survives; a scope
    * names partitions of that layout, and files laid out under another
    * one carry. DV marks on rewritten files are applied and drop; marks
    * on carried files stay. Pending merge-on-read (MoR) deltas fold only
    * in a whole-table rewrite — a bare OPTIMIZE compacts the whole table
    * ([[compact]], `COMPACT`), an unscoped ZORDER curves it — and a
    * scoped rewrite or a purge requires none. */
  def optimize(partitions: Option[Set[String]] = None,
      zorderBy: Seq[String] = Seq.empty, full: Boolean = false,
      purge: Boolean = false,
      minBytes: Long = SnapshotTable.DefaultMinBytes): Int = {
    val v = currentVersion
    val spec = layoutSpec
    require(partitions.isEmpty || spec.isDefined,
      s"partition-scoped OPTIMIZE on $root requires a partitioned table")
    if (deltaEntries(v).nonEmpty) {
      require(partitions.isEmpty && !purge,
        s"partition-scoped OPTIMIZE and REORG on $root require compacted " +
          "state (pending MoR deltas — a bare OPTIMIZE folds them first)")
      if (zorderBy.isEmpty) {
        val files = fileEntries(v)
        compact(binsFor((files ++ deltaEntries(v)).map(_.bytes).sum, minBytes),
          spec)
        return files.size
      }
    }
    val clusterBy =
      if (zorderBy.nonEmpty || purge) Seq.empty
      else property(SnapshotTable.ClusterSpecProp).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    require(!full || clusterBy.nonEmpty,
      s"OPTIMIZE … FULL requires a clustered table ($root has no CLUSTER BY spec)")
    require(partitions.isEmpty || clusterBy.isEmpty,
      s"OPTIMIZE … WHERE is unsupported on a clustered table " +
        s"($root clusters by ${clusterBy.mkString(", ")})")
    val curve = zorderBy ++ clusterBy
    require(curve.size <= 4,
      s"${if (zorderBy.nonEmpty) "ZORDER" else "CLUSTER"} BY takes 1 to 4 " +
        s"columns, got ${curve.size} (${curve.mkString(", ")})")
    lazy val marked = marksByFile(v).keySet
    // the operation, the fewest picked files that commit, and the pick
    val (op, least, pick): (String, Int, FileEntry => Boolean) =
      if (purge) ("REORG", 1, purgeable(v, marked))
      else if (zorderBy.nonEmpty) ("ZORDER", 0, _ => true)
      else if (clusterBy.nonEmpty) ("CLUSTER", 1, unclustered(full))
      else ("OPTIMIZE", 2, _.bytes < minBytes)
    val specParsed = spec.map(PartitionTransform.parse)
    val (rewrite, carried) = fileEntries(v).partition(e => pick(e) &&
      partitions.forall(vals =>
        specParsed.exists(underLayout(_, e)) && vals.contains(e.partValue)))
    if (rewrite.size < least) 0
    else {
      val written =
        if (curve.isEmpty) writeBinned(v, rewrite, spec, minBytes)
        // cluster = false: writeData's default re-clustering by partition
        // value would destroy the curve ordering just built
        else writeData(zorderArrange(foldSource(v, rewrite), curve,
          binsFor(rewrite.map(_.bytes).sum, minBytes), specParsed),
          v + 1, spec, cluster = false)
      commitRewrite(v, op, written, rewrite, carried, marked)
      rewrite.size
    }
  }

  /** [[optimize]]'s purge pick: files with DV marks, and files whose
    * physical schema still stores a DROPPED column (column-mapping purge,
    * Delta REORG's second job). The dropped-column probe reads one footer
    * schema per commit origin — the footer cache the scan planner keeps,
    * never a data read. */
  private def purgeable(v: Int, marked: Set[String]): FileEntry => Boolean = {
    val droppedPhys = manifestOf(v).dropped.toSet
    val carriesDropped: Map[Long, Boolean] =
      if (droppedPhys.isEmpty) Map.empty
      else fileEntries(v).groupBy(_.origin).map { case (o, es) =>
        o -> SnapshotTable.probeDataSchema(spark, es.map(_.path), Some(o))
          .fieldNames.exists(droppedPhys)
      }
    e => marked(e.path) || carriesDropped.getOrElse(e.origin, false)
  }

  /** [[optimize]]'s clustering pick: files written after the last
    * `ZORDER`/`CLUSTER` commit. `CLONE` and `RESTORE` replace the file
    * set wholesale (clone origins are even rebased negative), so only
    * clustering commits after the latest of them count; with none, or
    * with `full`, every file is picked. */
  private def unclustered(full: Boolean): FileEntry => Boolean = {
    val vs = versions
    def last(ops: Set[String], after: Int): Int =
      vs.filter(x => x > after && ops(manifestOf(x).operation))
        .maxOption.getOrElse(-1)
    val lastCluster =
      if (full) -1
      else last(Set("ZORDER", "CLUSTER"), last(Set("CLONE", "RESTORE"), -1))
    e => lastCluster < 0 || e.origin > lastCluster
  }

  /** Output bins for `bytes` of rewritten data at about `binBytes` each:
    * the ceiling, at least 1, and overflow-safe (a `binBytes` of
    * `Long.MaxValue` means one bin). */
  private def binsFor(bytes: Long, binBytes: Long): Int =
    math.max(1L, (bytes - 1) / binBytes + 1).toInt

  /** DV marks per addressed data file: one aggregate over the marks, run
    * only while marks are pending (O(deleted rows), never a data scan). */
  private def marksByFile(v: Int): Map[String, Long] = {
    val dvs = dvEntries(v)
    if (dvs.isEmpty) Map.empty
    else readEntries(dvs).groupBy(DvFileCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** A maintenance rewrite's source rows: the DV-resolved rows of
    * `rewrite`, keeping materialized row ids under row tracking — or,
    * with MoR deltas pending, the resolved table (a whole-table rewrite
    * folds the deltas, Hudi-style; the deferred rows get fresh ids). */
  private def foldSource(v: Int, rewrite: Seq[FileEntry]): DataFrame =
    if (deltaEntries(v).isEmpty)
      scan(rewrite, dvEntries(v), v, rowIds = rowTrackingEnabled)
    else read(v)

  /** The one commit of every maintenance rewrite: `op` replaces
    * `rewrite` and every pending delta (a rewrite folds them or requires
    * none) by `written`, and `carried` stays. It reads what it replaces
    * and has no predicate: a rival's added files never conflict with a
    * rewrite that leaves the rows as they were. DV marks on rewritten
    * files were applied by the rewrite and drop; marks on carried files
    * stay — by reference when no rewritten file had one, through
    * [[remainingDvs]] otherwise. `marked` (the DV-addressed paths) is
    * evaluated only when files carry. */
  private def commitRewrite(v: Int, op: String, written: Seq[FileEntry],
      rewrite: Seq[FileEntry], carried: Seq[FileEntry],
      marked: => Set[String]): Unit = {
    val keptDvs =
      if (carried.isEmpty) Some(Seq.empty)
      else {
        val m = marked
        if (!carried.exists(e => m(e.path))) Some(Seq.empty)
        else if (!rewrite.exists(e => m(e.path))) None
        else remainingDvs(v, rewrite.map(_.path).toSet, v + 1)
      }
    val replaced = rewrite ++ deltaEntries(v)
    commit(Commit(op, v, read = replaced, removed = replaced, files = written,
      keptDvs = keptDvs, mergeKeys = Some(Seq.empty))): Unit
  }

  /** Size-binned rewrite of OPTIMIZE and REORG: scan exactly `rewrite`
    * (DV marks applied) into ~`minBytes` output bins — WITHIN partitions
    * under `spec`, one flat split otherwise. A partition holding N×
    * `minBytes` of rewritten bytes emits ~N output files, never one
    * unbounded file — Delta bins to maxFileSize for the same reason; at
    * 100 TB "one file per partition" collapses a 10 GiB backlog into a
    * single unsplittable-write task. Bin assignment is driver-side
    * manifest arithmetic: each file maps to a globally-unique bin id
    * (round-robin by descending size within its partition ≈ balanced
    * bins), looked up by the scan's `_metadata.file_path` — no extra
    * scan, no rand(), and bin ids are disjoint across partitions (see
    * [[writeAddressedBins]]). */
  private def writeBinned(v: Int, rewrite: Seq[FileEntry],
      spec: Option[String], minBytes: Long): Seq[FileEntry] = spec match {
    case Some(p) =>
      var next = 0
      val binOf: Map[String, Int] =
        rewrite.groupBy(_.partValue).values.flatMap { es =>
          // files are never split, so more bins than files would only
          // be empty tasks
          val bins = math.min(es.size, binsFor(es.map(_.bytes).sum, minBytes))
          val assigned = es.sortBy(-_.bytes).zipWithIndex
            .map { case (e, i) => e.path -> (next + i % bins) }
          next += bins
          assigned
        }.toMap
      writeAddressedBins(v, rewrite, p, next,
        element_at(typedLit(binOf), col(DvFileCol)))
    case None =>
      writeData(scan(rewrite, dvEntries(v), v, rowIds = rowTrackingEnabled)
        .repartition(binsFor(rewrite.map(_.bytes).sum, minBytes)),
        v + 1, None)
  }

  /** Rewrite `rewrite` under partition `spec` with every row sent to the
    * output bin that `bin` (an expression over the scan's address
    * columns) names: DV marks applied, row ids materialized under row
    * tracking. `repartitionById` hands bin i to write task i, with no
    * range-bound sampling job and no approximate split points, so when
    * every bin lies inside one partition each non-empty bin is exactly
    * one output file. */
  private def writeAddressedBins(v: Int, rewrite: Seq[FileEntry],
      spec: String, nBins: Int,
      bin: org.apache.spark.sql.Column): Seq[FileEntry] = {
    val df = scan(rewrite, dvEntries(v), v, addressed = true,
        rowIds = rowTrackingEnabled)
      .repartitionById(nBins, bin.cast("int"))
      .drop(DvFileCol, DvPosCol)
    // cluster = false: the bins ARE the distribution; writeData's default
    // re-clustering by partition value would collapse them back to one
    // file per partition
    writeData(df, v + 1, Some(spec), cluster = false)
  }

  /** Bin-pack compaction into about `numFiles` files; one `COMPACT`
    * commit per call.
    *
    * When `partitionBy` is the table's own layout, every file is under it
    * and no merge-on-read (MoR) deltas are pending, compaction works per
    * partition and only where needed. Partition `pv` gets
    * `share(pv) = max(1, round(numFiles × bytes(pv) / table bytes))`
    * files, capped at its live row count. It is *settled* when it holds
    * exactly `share(pv)` files and no deletion-vector (DV) mark points at
    * any of them; settled files carry into the new manifest by reference
    * (path, stats, origin and row-id base unchanged). Every other
    * partition rewrites to exactly `share(pv)` files, its DV marks
    * applied and dropped (a bin can only come out empty when the marks
    * removed all of its rows). The plan is manifest arithmetic on the
    * driver, so the cost is the bytes of the unsettled partitions, and
    * compacting a compacted table rewrites nothing: the commit is then
    * metadata only.
    *
    * Otherwise (unpartitioned, another layout, or pending MoR deltas) the
    * whole table rewrites into about `numFiles` files, folding the deltas
    * into the base (Hudi-style compaction). */
  def compact(numFiles: Int, partitionBy: Option[String] = None): SnapshotTable = {
    val v = currentVersion
    val spec = partitionBy.map(PartitionTransform.parse)
    val perPartition = spec.exists(s => deltaEntries(v).isEmpty &&
      layoutSpec.map(PartitionTransform.parse).contains(s) &&
      fileEntries(v).forall(e => e.partValue != null && underLayout(s, e)))
    if (perPartition) compactPartitions(v, numFiles, partitionBy.get)
    else {
      val src = foldSource(v, fileEntries(v))
      val df = spec match {
        // range-partition on (partition value, row hash) so `numFiles`
        // tasks split large partitions instead of collapsing each into
        // one unbounded file
        case Some(s) => src.repartitionByRange(numFiles,
          PartitionTransform.writeColumn(s), xxhash64(src.columns.map(col): _*))
        case None => src.repartition(numFiles)
      }
      commitRewrite(v, "COMPACT",
        writeData(df, v + 1, partitionBy, cluster = false),
        fileEntries(v), Seq.empty, Set.empty)
    }
    this
  }

  /** [[compact]]'s per-partition plan: carry the settled partitions,
    * rewrite the rest to exactly their share of files. */
  private def compactPartitions(v: Int, numFiles: Int, spec: String): Unit = {
    val entries = fileEntries(v)
    val marks = marksByFile(v)
    val total = entries.map(_.bytes).sum.toDouble
    val parts = entries.groupBy(_.partValue).toSeq.sortBy(_._1).map { case (_, es) =>
      val live = es.map(e => e.rows - marks.getOrElse(e.path, 0L)).sum
      val byBytes = math.round(numFiles * es.map(_.bytes).sum / total)
      (es.sortBy(_.path), math.max(1L, math.min(live, byBytes)).toInt)
    }
    val (carried, rewrite) = parts.partition { case (es, share) =>
      es.size == share && !es.exists(e => marks.contains(e.path))
    }
    val written =
      if (rewrite.isEmpty) Seq.empty[FileEntry]
      else {
        // partition i owns bins [base_i, base_i + share_i); its rows deal
        // round-robin over them by dense position in the partition (the
        // file's row offset in the partition plus the row index), so
        // every bin gets rows whenever the partition has `share` rows
        val bases = rewrite.map(_._2).scanLeft(0)(_ + _)
        val slots: Map[String, (Int, Int, Long)] =
          rewrite.zip(bases).flatMap { case ((es, share), base) =>
            es.zip(es.scanLeft(0L)(_ + _.rows)).map { case (e, offset) =>
              e.path -> (base, share, offset)
            }
          }.toMap
        val slot = element_at(typedLit(slots), col(DvFileCol))
        writeAddressedBins(v, rewrite.flatMap(_._1), spec, bases.last, slot("_1") + pmod(slot("_3") + col(DvPosCol), slot("_2")))
      }
    // a partition with a mark is never settled, so no mark survives
    commitRewrite(v, "COMPACT", written, rewrite.flatMap(_._1),
      carried.flatMap(_._1), marks.keySet)
  }

  /** Morton-curve arrangement of [[optimize]]'s ZORDER and CLUSTER:
    * scale-normalize every dim to a 16-bit lattice (raw interleaving
    * biases toward the wider-ranged column), interleave with the
    * codegen'd `graft_zorder`, then range-partition + in-file sort on
    * (partition value, curve). Bounds come from the manifest's
    * whole-table footer stats — no extra scan, and successive
    * incremental runs cluster on the same coordinates; a stat-less
    * column falls back to one min/max aggregate over the source. */
  private def zorderArrange(source: DataFrame, zcols: Seq[String],
      numFiles: Int,
      specParsed: Option[PartitionTransform.Spec]): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
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
    // the clone carries the SOURCE's row-id and identity marks so clone
    // inserts can never re-issue ids the carried rows already hold
    val m = manifestOf(v)
    val cloned = Manifest(atVersion, "CLONE", mergeKeysOf(v), rebased(m.files),
      rebased(m.deltas), dvs = rebased(m.dvs), renames = m.renames,
      dropped = m.dropped, fieldMeta = m.fieldMeta, widened = m.widened,
      rowIdHwm = m.rowIdHwm, identHwm = m.identHwm)
    if (atVersion == 0) clone.createManifest(cloned)
    else clone.replaceState("CLONE", atVersion - 1, cloned)
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
      clone.replaceState("CLONE", cv,
        Manifest(cv + 1, "CLONE", Seq.empty, written, Seq.empty))
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
    val keep = referencedBy(cutoff to currentVersion)
    listDataFiles(fs, dataRoot).map(_._1).filterNot(keep)
  }

  /** Every data, delta, change and DV file versions `vs` reference. */
  private def referencedBy(vs: Seq[Int]): Set[String] =
    vs.flatMap { v =>
      val m = manifestOf(v)
      m.files ++ m.deltas ++ m.changes ++ m.dvs
    }.map(_.path).toSet

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
    * write-once manifest race) and crash leftovers, and the log temps
    * ([[LogStore.TempMark]]) a killed committer left. Only files modified
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
    val temps = fs.listStatus(logDir).filter(st =>
      st.getPath.getName.contains(LogStore.TempMark) &&
        st.getModificationTime <= horizon).map(_.getPath.toString)
    val orphans = (reclaimableBelow(0).filter(p =>
      fs.getFileStatus(new Path(p)).getModificationTime <= horizon) ++ temps).sorted
    orphans.foreach(p => fs.delete(new Path(p), false))
    orphans
  }

  /** Rewrite version `v`'s log file as a FULL manifest if it is a DELTA
    * record (no-op otherwise). Semantically identical content — only the
    * encoding changes — so overwriting the write-once file is sound. */
  private def materializeCheckpoint(v: Int): Unit = commitLock.synchronized {
    val p = manifestPath(v)
    parseRecord(LogStore.read(fs, p)) match {
      case _: DeltaRecord =>
        val full = manifestOf(v) // reconstructs (and caches) the state
        // never torn: the checkpoint every retained DELTA record chains to
        LogStore.replace(fs, Seq(p -> manifestJson(full)))
      case _: FullRecord => ()
    }
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
    val reclaim = referencedBy(dropped) -- referencedBy(vs.filter(_ <= v))
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

  /** Time-based retention (Delta `VACUUM … RETAIN n HOURS` analog): the
    * `retainVersions` of [[vacuum]] that keeps time travel to every
    * instant >= `ts` working — the newest commit at or before `ts` and
    * every later one. `None` when `ts` precedes the first commit: the
    * window holds the whole log and nothing is reclaimable. Pure
    * manifest metadata. */
  def retentionSince(ts: Long): Option[Int] =
    versionAtOrBefore(ts).map(currentVersion - _ + 1)

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
      val json = parseRecord(LogStore.read(fs, p)) match {
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
    // every record lands in a temp before any target is touched: a crash
    // leaves each log file either old or new, never torn
    LogStore.replace(fs, rewritten)
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
    SnapshotTable.identityCommits.removeIf(_.contains(prefix))
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
    val p = new Path(root, "_symlink_format_manifest/manifest")
    LogStore.replace(fs, Seq(p -> fileEntries(v).map(_.path).sorted.mkString("\n")))
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
    // engine API (append/merge) bypasses it — and one
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
    * the cache; false, writing nothing, when version `m.version` already
    * exists — the lost race [[commit]] rebases from. Under
    * [[SnapshotTable.commitLock]] the check and the write are one step
    * for every writer in this JVM; across processes the create without
    * overwrite is the guard, and a create that fails because the version
    * now exists is the same lost race. The commit timestamp is
    * stamped strictly above the previous version's so
    * AS-OF-timestamp order == version order. */
  private def writeManifest(m: Manifest): Boolean = commitLock.synchronized {
    val p = manifestPath(m.version)
    val prev = if (m.version == 0) null else manifestOf(m.version - 1)
    // txn markers accumulate: every commit carries the predecessor's map
    // forward (newer writer versions win), so a marker set once is
    // visible at every later version — one lookup, no log replay
    val carriedTxns =
      if (prev == null) m.txns else prev.txns ++ m.txns
    // the column mapping is the manifest's own: the mapping ops (and
    // RESTORE/CLONE, which pin a historical one) set it, every other
    // commit carries its base's ([[Commit.manifestAt]])
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
    // rowIdHwm) and seeding reads them back. Keys are PHYSICAL names
    // (rename-stable, like fieldMeta). Live in-process counters win over
    // carried marks — they only ever move in allocation direction.
    val carriedIdent =
      (if (prev == null) Map.empty[String, Long] else prev.identHwm) ++
        m.identHwm ++ identityCounters(m.renames).map { case (c, n) => c -> n.get() }
    val stamped = m.copy(
      files = ridFiles,
      deltas = ridDeltas,
      rowIdHwm = nextRid,
      identHwm = carriedIdent,
      ts = math.max(System.currentTimeMillis(),
        (if (prev == null) 0L else prev.ts) + 1),
      txns = carriedTxns,
      // manifest-stored column names are always PHYSICAL: merge keys
      // arrive logical from DML callers and translate here, centrally
      // (idempotent — a physical name is never a logical name, the
      // rename guards forbid reusing one)
      mergeKeys = m.mergeKeys.map(k => m.renames.getOrElse(k, k)))
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
    if (!LogStore.putIfAbsent(fs, p, json)) return false // lost to another writer
    if (stamped.renames.nonEmpty || stamped.dropped.nonEmpty ||
        stamped.fieldMeta.nonEmpty || stamped.widened.nonEmpty)
      SnapshotTable.mappedRoots.add(root)
    manifestCache.put(p.toString, stamped)
    if (prev == null || carriedIdent != prev.identHwm)
      SnapshotTable.identityCommits.add(p.toString)
    true
  }

  /** The single write of a table-creating commit (CREATE, CONVERT, a new
    * clone target): a table already at `root` fails it. */
  private def createManifest(m: Manifest): Unit =
    if (!writeManifest(m)) throw new org.apache.hadoop.fs.FileAlreadyExistsException(
      s"$root already holds version ${m.version}")

  /** Test seam: runs before each attempt of [[commit]] on this handle, so
    * a test can land a rival commit at a chosen point. */
  @volatile private var commitHook: () => Unit = () => ()

  /** Runs `body` with `hook` before each commit attempt of this handle. */
  private[graft] def withCommitHook[T](hook: => Unit)(body: => T): T = {
    commitHook = () => hook
    try body finally commitHook = () => ()
  }

  /** The one optimistic commit of every writer that changes an existing
    * version (Delta's optimistic transaction, VLDB 2020): applies `c`'s
    * actions to the latest version and writes the next one. On a lost
    * race it checks the winners against what `c` read at `c.version`
    * ([[conflictOf]]) and either throws
    * `ConcurrentModificationException` or rebases — the same actions on
    * the winner's version, written data re-targeted, no data rewritten —
    * and tries again, at most [[SnapshotTable.CommitAttempts]] times in
    * all. A winner that already recorded `c.txn` ends the call: false. */
  private def commit(c: Commit): Boolean = {
    @scala.annotation.tailrec
    def attempt(n: Int, at: Int, keptDvs: Option[Seq[FileEntry]]): Boolean = {
      commitHook()
      if (writeManifest(c.manifestAt(manifestOf(at), keptDvs))) true
      else {
        val w = currentVersion
        if (replayed(w, c.txn)) false
        else {
          conflictOf(c, w).foreach(why =>
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit to $root $why — ${c.op} read version ${c.version}"))
          if (n == SnapshotTable.CommitAttempts)
            throw new java.util.ConcurrentModificationException(
              s"gave up committing ${c.op} to $root after $n attempts")
          // a winner that rewrote the DV files: re-drop the marks on the
          // files this commit removes (a new mark there is a conflict)
          attempt(n + 1, w,
            if (c.removed.nonEmpty && dvEntries(w) != dvEntries(at))
              remainingDvs(w, c.removed.map(_.path).toSet, w + 1)
            else keptDvs)
        }
      }
    }
    attempt(1, c.version, c.keptDvs)
  }

  /** Why the commits after `c.version` up to `w` conflict with `c`, if
    * they do: a winner removed or rewrote a file `c` read, changed the
    * column mapping or field metadata `c` was written against (or, when
    * `c` adds rows, moved an identity mark from another process —
    * [[foreignIdentity]]), added deletion-vector marks to a file `c`
    * read (its rows were copied or matched before the mark existed), or
    * added a file or delta that [[mayHold]] keeps for `c`'s predicate. */
  private def conflictOf(c: Commit, w: Int): Option[String] = {
    val (was, now) = (manifestOf(c.version), manifestOf(w))
    val live = (now.files ++ now.deltas).map(_.path).toSet
    val read = c.read.map(_.path).toSet
    lazy val added = {
      val before = (was.files ++ was.deltas).map(_.path).toSet
      (now.files ++ now.deltas).filterNot(e => before(e.path))
    }
    if (!read.subsetOf(live)) Some("removed or rewrote a file it read")
    else if (Mapping.of(now) != Mapping.of(was))
      Some("changed the column mapping or metadata it was written against")
    else if ((c.files ++ c.deltas).nonEmpty && foreignIdentity(c.version, w))
      Some("issued identity values in another process that its rows may hold")
    else if (now.dvs != was.dvs && conflictingNewDvMarks(c.version, w, read))
      Some("added deletion-vector marks to a file it read")
    else if (c.predicate.exists(fs =>
        added.exists(mayHold(fs, added, physColName(_, w)))))
      Some("added rows its predicate may match")
    else None
  }

  /** Whether a commit after `from` up to `to` that another process wrote
    * moved the identity mark of a column this process reserves values
    * for: it may have issued values this process reserved too (within
    * one process the shared counter keeps reservations apart). */
  private def foreignIdentity(from: Int, to: Int): Boolean = {
    val issued = identityCounters(manifestOf(to).renames).keySet
    issued.nonEmpty && (from + 1 to to).exists { u =>
      val (a, b) = (manifestOf(u - 1).identHwm, manifestOf(u).identHwm)
      issued.exists(c => a.get(c) != b.get(c)) &&
        !SnapshotTable.identityCommits.contains(manifestPath(u).toString)
    }
  }

  /** This process's identity counters for the table, by physical column
    * name under `renames`. */
  private def identityCounters(renames: Map[String, String])
      : Map[String, java.util.concurrent.atomic.AtomicLong] = {
    import scala.jdk.CollectionConverters._
    val pfx = root + SnapshotTable.IdentKeySep
    SnapshotTable.identityHwm.asScala.collect { case (k, n) if k.startsWith(pfx) =>
      val logical = k.substring(pfx.length)
      renames.getOrElse(logical, logical) -> n
    }.toMap
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
    * [[SnapshotTable.optimize]] on a table carrying it clusters
    * incrementally instead of bin-packing small files. Empty string =
    * CLUSTER BY NONE. */
  val ClusterSpecProp = "clusterBy"

  /** Default small-file threshold and output bin size of
    * [[SnapshotTable.optimize]] (Delta's optimize.minFileSize and
    * maxFileSize defaults): 128 MiB. */
  val DefaultMinBytes: Long = 128L * 1024 * 1024

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

  /** Attempts of one [[SnapshotTable.commit]]: the first plus the
    * metadata-only rebases after lost manifest races. */
  private[graft] val CommitAttempts = 10

  /** The inclusive numeric interval that one v1 comparison of a column
    * with a number (or an IN-list of numbers: their hull) bounds the
    * column to — what [[SnapshotTable.mayHold]]
    * compares with footer stats. Strict bounds tighten by one ULP (exact
    * for the integral and floating values column stats hold), except a
    * decimal's: its double is rounded, so its bound stays inclusive,
    * which only widens toward "may match". A NaN literal bounds nothing
    * (NaN sorts above every number in Spark). None = no numeric bound. */
  private def numericBound(f: org.apache.spark.sql.sources.Filter)
      : Option[(String, Double, Double)] = {
    import org.apache.spark.sql.sources._
    import Double.{NegativeInfinity => Lo, PositiveInfinity => Hi}
    def num(v: Any, strict: Double => Double): Option[Double] = v match {
      case d: java.math.BigDecimal => Some(d.doubleValue)
      case d: scala.math.BigDecimal => Some(d.doubleValue)
      case n: Number if !n.doubleValue.isNaN => Some(strict(n.doubleValue))
      case _ => None
    }
    f match {
      case EqualTo(a, v) => num(v, identity).map(d => (a, d, d))
      case In(a, vs) if vs.nonEmpty =>
        val ds = vs.flatMap(num(_, identity))
        if (ds.length < vs.length) None else Some((a, ds.min, ds.max))
      case GreaterThan(a, v) => num(v, Math.nextUp).map((a, _, Hi))
      case GreaterThanOrEqual(a, v) => num(v, identity).map((a, _, Hi))
      case LessThan(a, v) => num(v, Math.nextDown).map((a, Lo, _))
      case LessThanOrEqual(a, v) => num(v, identity).map((a, Lo, _))
      case _ => None
    }
  }

  /** Operations that SET the column mapping explicitly, persisted as
    * FULL manifests — every other commit carries its predecessor's
    * mapping forward ([[Commit.manifestAt]]). RESTORE and CLONE pin the
    * mapping of the version they reference, so a restore below a RENAME
    * also restores the old logical schema (Delta parity: schema metadata
    * is versioned with the commit). */
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
    * sets `xformCol`/`xformTag` and keeps `partCol` null; `partValue`
    * then holds the TRANSFORMED value, which the file planner
    * ([[SnapshotTable.planFiles]]) compares with the transformed
    * literal. */
  final case class FileEntry(
      path: String, partValue: String, bytes: Long, rows: Long,
      origin: Long = 0L, partCol: String = null,
      stats: Map[String, (Double, Double)] = Map.empty,
      xformCol: String = null, xformTag: String = null,
      // first stable row id of this file (row i carries ridBase + i);
      // -1 = unassigned (pre-row-id manifests). Assigned once at the
      // file's writing commit and carried verbatim forever after.
      ridBase: Long = -1L)

  /** What an [[SnapshotTable.overwrite]] supersedes. */
  sealed trait Replace

  object Replace {
    /** Every file, pending delta and DV mark (`INSERT OVERWRITE TABLE`,
      * SaveMode.Overwrite, `TRUNCATE`). */
    case object All extends Replace

    /** The partitions of the overwrite's layout that hold a row of the
      * data — a hidden transform's TRANSFORMED values, so one month's
      * rows replace that month (dynamic partition overwrite). No rows
      * replace nothing (Spark's dynamic-mode contract); without a
      * layout it is `All`. */
    case object Present extends Replace

    /** The partitions whose on-disk values are `vals` (None: the null
      * partition), emptied when the data has no row for them
      * (`REPLACE WHERE pc IN (…)`, Spark's OverwriteByExpression). */
    final case class Values(vals: Set[Option[String]]) extends Replace

    /** The `files` an SQL row-level scan planned at `version` from its
      * pushed `filters`. The commit reads them at `version`, so a rival
      * commit since is a lost race; as Spark pushes only conjuncts of
      * the condition, a rival file the filters rule out holds no row the
      * rewrite changes, and the commit rebases over it. */
    final case class Planned(files: Seq[FileEntry], version: Int,
        filters: Seq[org.apache.spark.sql.sources.Filter]) extends Replace
  }

  /** One version's files split for a [[SnapshotTable.merge]]: the base
    * files and pending deltas its rewrite reads, those it carries by
    * reference, and the v1 filters a file of the slice may match. */
  private final case class MergeSlice(
      files: Seq[FileEntry], deltas: Seq[FileEntry],
      carriedFiles: Seq[FileEntry], carriedDeltas: Seq[FileEntry],
      predicate: Seq[org.apache.spark.sql.sources.Filter])

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

  /** A version's column mapping and field overlays: what the mapping
    * operations set and every other commit carries. */
  private final case class Mapping(renames: Map[String, String],
      dropped: Seq[String], fieldMeta: Map[String, String],
      widened: Map[String, String])

  private object Mapping {
    def of(m: Manifest): Mapping = Mapping(m.renames, m.dropped, m.fieldMeta, m.widened)
  }

  /** One optimistic commit ([[SnapshotTable.commit]]): what it read at
    * `version` — the files and deltas it read or rewrites, the v1
    * filters of its read `predicate` (None: it depends on no row, like
    * a blind append; `Some(Nil)`: on every row) and its `txn` marker —
    * and what it does there: `removed` files and deltas go, `files`,
    * `deltas`, DV `marks` and `changes` are added, `keptDvs` replaces
    * the DV files when the removed files had marks (None carries them),
    * and `mergeKeys` (logical; None carries the version's), `mapping`
    * and the high-water marks are set. */
  private final case class Commit(
      op: String, version: Int,
      read: Seq[FileEntry] = Seq.empty,
      predicate: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
      txn: Option[(String, Long)] = None,
      removed: Seq[FileEntry] = Seq.empty,
      files: Seq[FileEntry] = Seq.empty,
      deltas: Seq[FileEntry] = Seq.empty,
      marks: Seq[FileEntry] = Seq.empty,
      keptDvs: Option[Seq[FileEntry]] = None,
      changes: Seq[FileEntry] = Seq.empty,
      mergeKeys: Option[Seq[String]] = None,
      mapping: Option[Mapping] = None,
      rowIdHwm: Long = 0L,
      identHwm: Map[String, Long] = Map.empty) {

    /** The next manifest after `base`: these actions applied to it, with
      * the DV files `dvs` computed against it. Entries this commit wrote
      * for `version + 1` take the new version as their origin. */
    def manifestAt(base: Manifest, dvs: Option[Seq[FileEntry]]): Manifest = {
      val next = base.version + 1
      def ours(es: Seq[FileEntry]): Seq[FileEntry] =
        if (next == version + 1) es
        else es.map(e => if (e.origin == version + 1L) e.copy(origin = next) else e)
      val gone = removed.map(_.path).toSet
      val ds = base.deltas.filterNot(e => gone(e.path)) ++ ours(deltas)
      val mp = mapping.getOrElse(Mapping.of(base))
      Manifest(next, op,
        // cleared keys never strand the pending delta of a rival
        mergeKeys.filter(_.nonEmpty || ds.isEmpty).getOrElse(base.mergeKeys),
        base.files.filterNot(e => gone(e.path)) ++ ours(files), ds,
        ours(changes), dvs.map(ours).getOrElse(base.dvs) ++ ours(marks),
        txns = Map.from(txn), renames = mp.renames, dropped = mp.dropped,
        fieldMeta = mp.fieldMeta, widened = mp.widened,
        rowIdHwm = rowIdHwm, identHwm = identHwm)
    }
  }

  /** The caches one operation persists for its own later jobs — a DV
    * MERGE's delta frame, a positional UPDATE's images, an identity
    * fill's sized batch — released together when the operation ends,
    * committed or failed ([[withCaches]]). */
  private[graft] final class CacheScope private[SnapshotTable] () {
    private val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    def persist(df: DataFrame): DataFrame = {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      releases += (() => { cached.unpersist(false); () })
      cached
    }

    def persistRdd[T](rdd: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      releases += (() => { rdd.unpersist(false); () })
      rdd
    }

    private[SnapshotTable] def release(): Unit = releases.foreach(_())
  }

  /** Runs `body` with a fresh [[CacheScope]] and releases what it holds
    * when `body` ends, normally or not. */
  private[graft] def withCaches[T](body: CacheScope => T): T = {
    val caches = new CacheScope
    try body(caches) finally caches.release()
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

  /** Manifest paths of the commits this process wrote that moved an
    * identity mark ([[SnapshotTable.foreignIdentity]]). */
  private val identityCommits = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

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
