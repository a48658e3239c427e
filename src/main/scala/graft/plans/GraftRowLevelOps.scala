package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReplaceData}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col

import graft.sources.{GraftV2Table, SnapshotTable}

/** Executes SQL UPDATE / MERGE INTO (and non-interval DELETE) against
  * graft catalog tables.
  *
  * Spark's analyzer rewrites those statements into a group-based
  * [[ReplaceData]] command once the table implements
  * `SupportsRowLevelOperations`: the command's `query` is the complete
  * new content of every replacement group the row-level scan read —
  * carried rows, updated rows, and merge-inserted rows. graft's
  * row-level scan reads the files the pushed condition plans (the
  * groups; `GraftRowLevelOperation`), so the query is their next state
  * and the correct commit is an OVERWRITE of exactly those files under
  * the table's recorded partition layout.
  *
  * Spark's own `ReplaceDataExec` requires a DSv2 `BatchWrite` (no V1
  * fallback exists for row-level writes), which would mean hand-rolling
  * an executor-side parquet row writer. Instead this strategy plans the
  * command onto the engine's existing DataFrame write path: the
  * replacement query stays a fully distributed Catalyst plan (scan
  * pruning, codegen, AQE all intact) flowing into the same
  * `overwrite` commit SQL INSERT OVERWRITE uses — only the plan
  * hand-off happens on the driver. Registered ahead of the built-in
  * strategies via `spark.experimental.extraStrategies`, so Spark's
  * `ReplaceDataExec` is never reached for graft tables.
  *
  * Metadata-only DELETE is unaffected: Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` still converts a ReplaceData
  * whose condition passes `canDeleteWhere` back to the catalog's
  * `SupportsDelete.deleteWhere`, the stat-pruned copy-on-write
  * [[SnapshotTable.delete]], before this strategy ever sees it.
  */
object GraftRowLevelOps extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: ReplaceData =>
      graftTableOf(r.originalTable).map { t =>
        // DELETE on a deletion-vector-enabled table takes the positional
        // path: O(matched rows) of (file, pos) marks, ZERO files
        // rewritten — the scale shape for predicate deletes at 100 TB
        // (Delta's enableDeletionVectors does exactly this). Falls back
        // to the CoW rewrite for subquery/non-deterministic conditions
        // and uncompacted (pending-MoR) state.
        import org.apache.spark.sql.connector.write.RowLevelOperation.Command
        val cmd = r.write match {
          case Some(w: graft.sources.GraftReplaceWrite) => w.op.command()
          case _ => Command.UPDATE // unknown: stay on the general rewrite
        }
        // a trivially-true condition (DELETE with no WHERE) must not
        // mark EVERY row — the CoW path's empty-result overwrite is the
        // metadata-shaped truncate there
        val trivialTrue = r.condition ==
          org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral
        val positionalOk = t.dvDeletesEnabled &&
          !trivialTrue && r.condition.deterministic &&
          !org.apache.spark.sql.catalyst.expressions.SubqueryExpression
            .hasSubquery(r.condition) &&
          !t.snapshot.hasPendingDeltas
        if (cmd == Command.DELETE && positionalOk)
          GraftDvDeleteExec(t.snapshot, r.condition) :: Nil
        // UPDATE takes the positional path too (Delta 3.1 DV-update
        // parity): mark matched positions + append the updated images,
        // zero base files rewritten. A trivially-true UPDATE rewrites
        // every row anyway — the CoW overwrite is the cleaner shape.
        // The single-leaf check guards the condition-pushdown trick:
        // a SET expression containing a subquery optimizes into a JOIN
        // (extra leaves), where wrapping every leaf in the condition
        // filter would corrupt the subquery input — CoW handles those.
        else if (cmd == Command.UPDATE && positionalOk &&
            r.query.collectLeaves().size == 1 &&
            r.write.exists(_.isInstanceOf[graft.sources.GraftReplaceWrite]))
          GraftDvUpdateExec(t.snapshot, t.writePartSpec, r.query,
            r.condition, t.schema) :: Nil
        else {
          // partition-scoped rewrites carry their planned files on the
          // write (set during scan planning)
          val replace = r.write match {
            case Some(w: graft.sources.GraftReplaceWrite) => w.op.plannedReplace
            case _ => SnapshotTable.Replace.All
          }
          GraftReplaceDataExec(t.snapshot, t.writePartSpec, r.query, replace,
            t.schema) :: Nil
        }
      }.getOrElse(Nil)
    // DELTA-based row-level writes (the positional MERGE under
    // deletion vectors): the rewrite query emits one row per CHANGED
    // row; the exec marks deleted/updated addresses and appends the
    // update/insert images — zero base files rewritten. Spark's own
    // WriteDeltaExec demands executor-side DeltaWriters; this strategy
    // runs first and commits through the engine instead.
    case wd: org.apache.spark.sql.catalyst.plans.logical.WriteDelta =>
      wd.write match {
        case Some(w: graft.sources.GraftDeltaWrite) =>
          GraftWriteDeltaExec(w.op.snapshot, w.op.writePartSpec, wd.query,
            w.op.trackRids, w.op.tableSchema, w.op.scanVersion) :: Nil
        case _ => Nil
      }
    // Spark has no V1-fallback exec for dynamic partition overwrite
    // (OverwritePartitionsDynamicExec demands a DSv2 BatchWrite); route
    // it onto the engine's dynamic overwrite commit instead.
    case o: org.apache.spark.sql.catalyst.plans.logical.OverwritePartitionsDynamic =>
      graftTableOf(o.table).map { t =>
        GraftDynamicOverwriteExec(t.snapshot, t.writePartSpec, o.query,
          t.schema) :: Nil
      }.getOrElse(Nil)
    case _ => Nil
  }

  private def graftTableOf(rel: Any): Option[GraftV2Table] = rel match {
    // ReplaceData.originalTable carries the UNWRAPPED table (the rewrite
    // rules wrap only `table`, in a private[sql] RowLevelOperationTable)
    case d: DataSourceV2Relation => d.table match {
      case t: GraftV2Table => Some(t)
      case _ => None
    }
    case _ => None
  }

  /** Append this strategy to `spark.experimental.extraStrategies` once
    * per session (extra strategies run before the built-ins). */
  def register(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(this))
      spark.experimental.extraStrategies = cur :+ this
  }

  /** Re-bind a resolved condition by NAME: the attribute ids of the
    * row-level scan are irrelevant against the fresh addressed scans
    * the positional paths plan. Shared by the DELETE/UPDATE execs. */
  private[plans] def rebindByName(
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    cond.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(a.name)
    }

  /** Shared image alignment of every row-level write path: table column
    * order (plus the materialized row id under row tracking when the
    * rewrite carried it), generated-column recomputation, identity fill
    * for NULL slots. One definition so DELETE/UPDATE/MERGE can never
    * diverge. An identity fill's batch is held in `caches`, which the
    * calling exec releases once its commit has ended. */
  private[plans] def alignImages(
      snapshot: SnapshotTable,
      tableSchema: org.apache.spark.sql.types.StructType,
      keepRid: Boolean, caches: SnapshotTable.CacheScope)(
      images: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cols = snapshot.read().schema.fieldNames.toIndexedSeq ++
      (if (keepRid) Seq(SnapshotTable.RidCol) else Seq.empty)
    GraftV2Table.applyIdentityColumns(
      GraftV2Table.regenerateColumns(
        images.select(cols.map(col): _*), tableSchema),
      tableSchema, snapshot, validateExplicit = false, caches)
  }
}

/** Physical node for a graft [[ReplaceData]]: run the replacement query
  * as a distributed DataFrame and commit it as an OVERWRITE of what the
  * scan planned (`replace`: the planned files, or the whole table under
  * merge-on-read state). Runs once (commands are eagerly executed);
  * output is empty like Spark's own row-level write execs.
  *
  * GENERATED ALWAYS columns are RECOMPUTED from their source columns on
  * the replacement frame (one row-local codegen'd projection, same cost
  * shape as the INSERT-side fill): an UPDATE/MERGE that assigns a
  * generation-source column must not leave the generated column stale —
  * Delta recomputes on exactly this path. A direct assignment TO a
  * generated column is therefore overwritten by the recomputation
  * (carried rows are unchanged by construction: their stored value
  * already equals the expression, enforced at insert). */
final case class GraftReplaceDataExec(
    snapshot: SnapshotTable,
    partSpec: Option[String],
    query: LogicalPlan,
    replace: SnapshotTable.Replace,
    tableSchema: org.apache.spark.sql.types.StructType) extends LeafExecNode {

  override def output: Seq[Attribute] = Seq.empty

  private lazy val done: Unit = {
    val spark = SparkSession.active
    val df = org.apache.spark.sql.GraftStreamShim.ofRows(spark, query)
    // align to the table's column order and drop any metadata columns
    // the rewrite appended to the replacement query — EXCEPT the stable
    // row id: under row tracking the scan served it as a required
    // metadata attribute, Spark carried it through the rewrite (NULL on
    // merge-inserted rows), and writing it MATERIALIZED preserves the
    // ids of every carried/updated row (fresh manifest bases cover only
    // the NULL slots)
    val keepRid = snapshot.rowTrackingEnabled &&
      df.columns.contains(SnapshotTable.RidCol)
    // merge-inserted rows arrive with NULL identity slots — fill them;
    // carried/updated rows keep their stored values (no validation here:
    // the rewrite frame cannot distinguish carried from assigned)
    SnapshotTable.withCaches { caches =>
      val aligned =
        GraftRowLevelOps.alignImages(snapshot, tableSchema, keepRid, caches)(df)
      snapshot.overwrite(aligned, partSpec, replace)
    }
    ()
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }

  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }
}

/** Physical node for a DELTA-based row-level write — the positional
  * MERGE under deletion vectors: the rewrite `query` emits one row per
  * CHANGED row (`__row_operation` + table columns + (file, pos) row-id
  * address + the stable row id under row tracking). Deleted/updated
  * addresses become deletion-vector marks; update/insert images (with
  * generated columns recomputed and merge-inserted identity slots
  * filled, exactly like the CoW path) append as new files —
  * [[SnapshotTable.writeDeltaPositional]] commits both in one
  * `MERGE_DV` version, from the `version` the rewrite's scan read.
  * Write cost O(changed rows); no base rewrite; no separate condition
  * re-evaluation (subqueries fine). */
final case class GraftWriteDeltaExec(
    snapshot: SnapshotTable,
    partSpec: Option[String],
    query: LogicalPlan,
    trackRids: Boolean,
    tableSchema: org.apache.spark.sql.types.StructType,
    version: Int) extends LeafExecNode {

  override def output: Seq[Attribute] = Seq.empty

  private lazy val done: Unit = {
    val spark = SparkSession.active
    val df = org.apache.spark.sql.GraftStreamShim.ofRows(spark, query)
    val keepRid = trackRids && df.columns.contains(SnapshotTable.RidCol)
    val cdf = snapshot.property(GraftV2Table.CdcProp).contains("true")
    SnapshotTable.withCaches(caches => snapshot.writeDeltaPositional(df,
      GraftRowLevelOps.alignImages(snapshot, tableSchema, keepRid, caches),
      partSpec, trackChanges = cdf, version)): Unit
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }

  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }
}

/** Physical node for a deletion-vector SQL UPDATE (Delta 3.1 parity):
  * matched base rows are MARKED with (file, pos) deletion-vector
  * entries and their post-assignment images APPEND as new files in the
  * same commit — zero base files rewritten, O(matched rows) cost.
  *
  * The updated images come from the analyzer's own rewrite `query`
  * (whose projection applies `If(cond, assignment, col)` per column)
  * with the UPDATE condition pushed UNDER the projection onto the
  * row-level scan: every surviving row satisfies the condition, so the
  * projection yields exactly the new images — assignments, casts and
  * alignment identical to the CoW path, no re-derivation. Both the
  * marks and the images re-bind the condition by NAME onto fresh scans
  * of the same immutable snapshot version, so the two O(matched) jobs
  * address the same rows (the strategy gates on a deterministic,
  * subquery-free condition). */
final case class GraftDvUpdateExec(
    snapshot: SnapshotTable,
    partSpec: Option[String],
    query: LogicalPlan,
    condition: org.apache.spark.sql.catalyst.expressions.Expression,
    tableSchema: org.apache.spark.sql.types.StructType) extends LeafExecNode {

  override def output: Seq[Attribute] = Seq.empty

  private lazy val done: Unit = {
    val spark = SparkSession.active
    val rebound = GraftRowLevelOps.rebindByName(condition)
    // By physical-planning time the optimizer has rewritten the
    // row-level DataSourceV2Relation into whatever scan shape won (the
    // engine's V1-fallback LogicalRelation here, a V2 scan relation in
    // general) — the strategy's single-leaf gate guarantees that leaf
    // IS the target scan, so the condition lands above it, UNDER the
    // assignment projection.
    val filtered = query.transformUp {
      case rel: org.apache.spark.sql.catalyst.plans.logical.LeafNode
          if rel.resolved && rel.output.nonEmpty =>
        org.apache.spark.sql.catalyst.plans.logical.Filter(rebound, rel)
    }
    val df = org.apache.spark.sql.GraftStreamShim.ofRows(spark, filtered)
    // under row tracking the rewrite carries the stable row id — keep
    // it materialized on the appended images so an updated row KEEPS
    // its id (the DV-masked old position stops being served), Delta's
    // row-lineage semantics. Identity slots never fill here — updated
    // rows keep their stored values and the parse-time guard refuses
    // explicit identity assignments.
    val keepRid = snapshot.rowTrackingEnabled &&
      df.columns.contains(SnapshotTable.RidCol)
    val cdf = snapshot.property(GraftV2Table.CdcProp).contains("true")
    SnapshotTable.withCaches(caches => snapshot.markPositional(
      org.apache.spark.sql.GraftStreamShim.columnOf(rebound),
      Some(GraftRowLevelOps.alignImages(snapshot, tableSchema, keepRid, caches)(df)),
      partSpec, trackChanges = cdf))
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }

  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }
}

/** Physical node for a deletion-vector SQL DELETE: the resolved DELETE
  * condition re-binds by NAME onto the snapshot's logical frame (the
  * attribute ids of the row-level scan are irrelevant — the predicate
  * re-plans against a fresh addressed scan) and the positional
  * [[SnapshotTable.delete]] writes O(matched rows) of (file, position)
  * marks, reading only the files whose footer stats an interval
  * condition intersects. No base file is rewritten. */
final case class GraftDvDeleteExec(
    snapshot: SnapshotTable,
    condition: org.apache.spark.sql.catalyst.expressions.Expression)
    extends LeafExecNode {

  override def output: Seq[Attribute] = Seq.empty

  private lazy val done: Unit = {
    val rebound = GraftRowLevelOps.rebindByName(condition)
    // graft.enableChangeDataFeed: the SQL DELETE's pre-images land in
    // the change feed (table_changes / CDC readers), Delta CDF parity
    val cdf = snapshot.property(GraftV2Table.CdcProp).contains("true")
    snapshot.delete(
      org.apache.spark.sql.GraftStreamShim.columnOf(rebound),
      positional = true, trackChanges = cdf): Unit
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }

  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }
}

/** Physical node for `INSERT OVERWRITE` in dynamic partition-overwrite
  * mode: the partitions PRESENT in the query's result replace wholesale
  * (O(new data)); every other partition carries by reference. Hidden
  * layouts (`months(ts)`, `bucket(n, k)`, …) replace at the TRANSFORMED
  * partition granularity, so one month's rows replace exactly that
  * month. Only a genuinely unpartitioned table widens to a full
  * overwrite (the standard dynamic-overwrite semantic there). */
final case class GraftDynamicOverwriteExec(
    snapshot: SnapshotTable,
    partSpec: Option[String],
    query: LogicalPlan,
    tableSchema: org.apache.spark.sql.types.StructType) extends LeafExecNode {

  override def output: Seq[Attribute] = Seq.empty

  private lazy val done: Unit = {
    val spark = SparkSession.active
    val df = org.apache.spark.sql.GraftStreamShim.ofRows(spark, query)
    val cols = snapshot.read().schema.fieldNames.toIndexedSeq
    // INSERT semantics: omitted/NULL generated slots fill, provided
    // values must match (same projection the V1 insert path applies);
    // identity slots allocate
    SnapshotTable.withCaches { caches =>
      val aligned = GraftV2Table.applyIdentityColumns(
        GraftV2Table.applyGeneratedColumns(df.select(cols.map(col): _*),
          tableSchema),
        tableSchema, snapshot, validateExplicit = true, caches)
      snapshot.overwrite(aligned, partSpec, SnapshotTable.Replace.Present)
    }
    ()
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }

  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }
}
