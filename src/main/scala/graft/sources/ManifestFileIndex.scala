package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{GraftStreamShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, GenericInternalRow, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-backed scan planning (the Delta/Iceberg file-index idea —
  * Delta's TahoeFileIndex, reference workload FileCountBenchmark.scala):
  * the snapshot log already records every data file's path and size, so
  * constructing a scan performs ZERO filesystem operations — no per-file
  * getFileStatus, no recursive listing, no driver-side listing job.
  *
  * Without this, `spark.read.parquet(100k paths)` stats every file
  * before planning; at the reference's 200k-file tier that listing IS
  * the planning cost. With it, planning cost is O(manifest in memory)
  * regardless of file count — the scan's split computation uses the
  * manifest's recorded lengths directly.
  *
  * File pruning: Spark hands [[listFiles]] every filter it pushes into
  * the scan. Their v1 forms go to `mayHold` (the table's one entry
  * predicate, [[SnapshotTable.planFiles]]), which drops an entry only
  * when its partition value (identity layout, or the layout's transform
  * of the literal) or its footer min/max proves no row can satisfy a
  * conjunct; everything else is kept as "may match" and filtered by
  * the scan. So every reader of the table (`read().filter`, the SQL
  * catalog scan, path-addressed and deletion-vector reads) prunes
  * without asking, metadata-only, zero files opened.
  *
  * `partSchema` (CONVERTed tables whose pre-existing files do NOT carry
  * the partition column — the standard Spark/Hive `pc=v/` layout): files
  * group into one [[PartitionDirectory]] per manifest partition value,
  * and Spark's scan surfaces the column from those rows exactly like a
  * catalog-partitioned parquet table. Partition filters pushed by the
  * planner prune groups here.
  */
private[graft] class ManifestFileIndex(
    spark: SparkSession,
    root: Path,
    entries: Seq[SnapshotTable.FileEntry],
    mayHold: Seq[Filter] => SnapshotTable.FileEntry => Boolean,
    partSchema: StructType = StructType(Nil)) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  /** Native tables surface the partition value as a real data column
    * (PartCol is layout-only), so their scans are unpartitioned to
    * Spark; converted Hive-layout tables declare the synthesized
    * partition column here. */
  override def partitionSchema: StructType = partSchema

  override def sizeInBytes: Long = entries.map(_.bytes).sum

  override def inputFiles: Array[String] = entries.map(_.path).toArray

  /** Manifests are immutable — nothing to refresh. */
  override def refresh(): Unit = ()

  private def status(e: SnapshotTable.FileEntry): FileStatusWithMetadata =
    // Synthesized FileStatus from the manifest: length drives split
    // planning; block size only caps split width; mod time is unused
    // by the parquet read path.
    FileStatusWithMetadata(new FileStatus(
      e.bytes, false, 1, 128L * 1024 * 1024, 0L, new Path(e.path)))

  /** Directory-encoded partition value → typed catalyst value (the
    * session-zone cast every Hive-layout reader applies; the escaped
    * form and null sentinel follow Spark's own partition-path
    * conventions, so converted directories parse exactly as the
    * original `spark.read.parquet` would have). */
  private def typedValue(v: String): Any = {
    if (v == null || v == "__HIVE_DEFAULT_PARTITION__") return null
    val unescaped = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.unescapePathName(v)
    Cast(Literal(UTF8String.fromString(unescaped), StringType),
      partSchema.head.dataType,
      Some(spark.sessionState.conf.sessionLocalTimeZone)).eval()
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val filters = GraftStreamShim.sourceFilters(dataFilters)
    val planned =
      if (filters.isEmpty) entries else entries.filter(mayHold(filters))
    if (partSchema.isEmpty)
      return Seq(PartitionDirectory(InternalRow.empty, planned.map(status)))
    val groups = planned.groupBy(_.partValue).toSeq.map { case (pv, es) =>
      (new GenericInternalRow(Array[Any](typedValue(pv))),
        es.map(status)) }
    // evaluate pushed partition filters against the group rows —
    // metadata-only pruning, the same move InMemoryFileIndex makes
    val kept =
      if (partitionFilters.isEmpty) groups
      else {
        val bound = partitionFilters.map(_.transform {
          case a: AttributeReference =>
            BoundReference(partSchema.fieldIndex(a.name),
              partSchema(a.name).dataType, nullable = true)
        }).reduce(And)
        val pred = Predicate.create(bound)
        pred.initialize(0)
        groups.filter { case (row, _) => pred.eval(row) }
      }
    kept.map { case (row, files) => PartitionDirectory(row, files) }
  }
}
