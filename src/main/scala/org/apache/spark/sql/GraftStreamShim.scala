package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType

/** Compile-time bridge into Spark's `private[sql]` surface, used by the
  * snapshot-table streaming source (graft.streaming.SnapshotStreamSource).
  *
  * A v1 streaming `Source.getBatch` must return a DataFrame whose logical
  * plan is flagged `isStreaming = true` (MicroBatchExecution asserts it),
  * but every public DataFrame constructor produces batch plans. Delta's
  * DeltaSource solves this with `SQLContext.internalCreateDataFrame(rdd,
  * schema, isStreaming = true)`; both that method and `Dataset.ofRows`
  * are `private[sql]`, so the bridge lives in this package — the standard
  * connector pattern (spark-kafka, Delta, and most file-based sources
  * ship classes inside org.apache.spark.sql for exactly this reason).
  *
  * [[asStreamingBatch]] is the higher-fidelity path: instead of detouring
  * through a pre-planned RDD (which would freeze the physical plan and
  * hide the scan from the optimizer), it re-flags the batch plan's
  * `LogicalRelation` leaves as streaming — the micro-batch keeps full
  * Catalyst planning over the manifest-backed relation (column pruning,
  * filter pushdown into the parquet scan, whole-stage codegen).
  */
/** Public face of Spark's `private[sql]`
  * [[org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback]]:
  * the analyzer resolves `readStream.table("cat.ns.t")` over a catalog
  * table implementing it into the fallback's v1 streaming source
  * (RelationResolution's V2TableWithV1Fallback branch). Delta's
  * DeltaTableV2 uses the same trait from inside the org.apache.spark.sql
  * tree; graft's catalog table lives outside it, hence this bridge. */
trait GraftV1FallbackTable extends connector.catalog.V2TableWithV1Fallback

object GraftStreamShim {

  /** Re-plan a batch DataFrame as a streaming micro-batch: identical
    * relations, scan planning intact, `isStreaming = true` on the leaves. */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val plan: LogicalPlan = cdf.queryExecution.analyzed.transformUp {
      case lr: LogicalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
    }
    classic.Dataset.ofRows(cdf.sparkSession, plan)
  }

  /** Zero-row streaming micro-batch with the given schema (a version
    * range that added no data still has to produce a valid batch). */
  def emptyStreamingBatch(spark: SparkSession, schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[InternalRow], schema, isStreaming = true)
  }

  /** Plan→DataFrame bridge for the row-level-operation executor
    * (graft.plans.GraftRowLevelOps): a `ReplaceData` command's
    * replacement query is a LogicalPlan, and executing it through the
    * engine's DataFrame write path needs `Dataset.ofRows` — which is
    * `private[sql]`, hence this bridge. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst Expression → user-facing Column (the constructor is
    * `private[sql]`): the DV-delete rule re-binds a resolved DELETE
    * condition by name and applies it as a DataFrame filter. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** `cond` resolved against `df`'s columns, with no-op casts dropped,
    * literal casts folded and the casts the analyzer put on a column
    * unwrapped where the comparison allows (the optimizer's own rules),
    * as the v1 source filters of its conjuncts that have one — what
    * data-source pushdown would hand a connector. */
  def sourceFiltersOf(df: DataFrame, cond: Column): Seq[sources.Filter] = {
    import catalyst.optimizer.{ConstantFolding, SimplifyCasts, UnwrapCastInBinaryComparison}
    UnwrapCastInBinaryComparison(ConstantFolding(SimplifyCasts(
        df.filter(cond).queryExecution.analyzed))) match {
      case catalyst.plans.logical.Filter(c, _) => sourceFilters(Seq(c))
      case _ => Seq.empty
    }
  }

  /** The v1 source filters of the conjuncts of `exprs` that have one.
    * `DataSourceStrategy.translateFilter` is `protected[sql]`, hence
    * this bridge. */
  def sourceFilters(
      exprs: Seq[catalyst.expressions.Expression]): Seq[sources.Filter] = {
    def conjuncts(e: catalyst.expressions.Expression)
        : Seq[catalyst.expressions.Expression] = e match {
      case catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case _ => Seq(e)
    }
    exprs.flatMap(conjuncts).flatMap(execution.datasources.DataSourceStrategy
      .translateFilter(_, supportNestedPredicatePushdown = false))
  }

  /** v2 Column array → StructType with Spark's own metadata mapping
    * (comments, DEFAULT expressions) — `CatalogV2Util` is
    * `private[sql]`, hence this bridge. */
  def v2ColumnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(cols)

  /** Resolve a (possibly partial) multipart table name against the
    * session's catalog manager — the name surface of the SQL
    * maintenance verbs (`OPTIMIZE` / `VACUUM` / `DESCRIBE HISTORY`).
    * `CatalogManager` is `private[sql]`, hence this bridge. A 1-part
    * name resolves in the current catalog + namespace, a 2-part name in
    * the current catalog, a 3-part name names its catalog. */
  def resolveCatalogTable(spark: SparkSession,
      name: Seq[String]): (connector.catalog.CatalogPlugin,
        connector.catalog.Identifier) = {
    import connector.catalog.Identifier
    val cm = spark.asInstanceOf[classic.SparkSession]
      .sessionState.catalogManager
    name match {
      case Seq(c, n, t) if cm.isCatalogRegistered(c) =>
        (cm.catalog(c), Identifier.of(Array(n), t))
      case Seq(n, t) => (cm.currentCatalog, Identifier.of(Array(n), t))
      case Seq(t) => (cm.currentCatalog, Identifier.of(cm.currentNamespace, t))
      case other => throw new IllegalArgumentException(
        s"cannot resolve table name ${other.mkString(".")}")
    }
  }

  /** Companion namespace resolver for database-level maintenance
    * (`VACUUM DATABASE cat.ns`): returns the owning catalog plugin and
    * the single-level namespace name. */
  def resolveCatalogNamespace(spark: SparkSession,
      name: Seq[String]): (connector.catalog.CatalogPlugin, String) = {
    val cm = spark.asInstanceOf[classic.SparkSession]
      .sessionState.catalogManager
    name match {
      case Seq(c, n) if cm.isCatalogRegistered(c) => (cm.catalog(c), n)
      case Seq(n) => (cm.currentCatalog, n)
      case other => throw new IllegalArgumentException(
        s"cannot resolve namespace ${other.mkString(".")}")
    }
  }

  /** The inverse bridge, for the SINK side: a v1 `Sink.addBatch` receives
    * a DataFrame bound to the micro-batch's IncrementalExecution, which
    * batch writers reject (`isStreaming = true`). Re-wrap its physical
    * rows as a plain batch frame — the standard v1-sink pattern
    * (DeltaSink does exactly this before its transactional write). */
  def asBatchWritable(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = false)
  }
}
