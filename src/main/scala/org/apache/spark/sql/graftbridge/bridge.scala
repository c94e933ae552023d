package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}

/** Minimal bridge into Spark's `private[sql]` plan-construction seams.
  *
  * Spark 4 split the public `Column`/`Dataset` API from the Catalyst
  * `Expression`/`LogicalPlan` layer; libraries that build plans from
  * Catalyst nodes (graft's SQL DML rule and change-feed TVF) or
  * contribute a custom scalar `Expression` (graft's vector kernels)
  * still need these three hops:
  *
  *   - Expression -> Column and back ([[column]] / [[expression]])
  *   - LogicalPlan -> DataFrame ([[ofRows]])
  *   - DataFrame -> analyzed LogicalPlan ([[analyzed]])
  *
  * They are `private[sql]`, so this one object lives in a subpackage of
  * `org.apache.spark.sql` — the same approach Delta Lake and other
  * plan-extending libraries use. Everything else in graft stays on the
  * public API.
  */
object bridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed

  /** The optimized logical plan — for DRIVER-SIDE SIZE ESTIMATES
    * (`.stats.sizeInBytes`) without forcing physical planning: for a
    * file relation the statistic is the summed file sizes already
    * gathered at read time, so reading it is pure arithmetic (unlike
    * `df.rdd`, which builds the whole physical plan and RDD lineage).
    */
  def optimizedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.optimizedPlan

  /** True iff a logical LEAF is a FILE-backed scan — a V1
    * `LogicalRelation` over a `HadoopFsRelation`, a V2
    * `DataSourceV2ScanRelation` whose scan is a `FileScan`, or a Hive
    * table. Matched on the types, not class-name strings: a name match
    * also caught non-file V2 batch sources (JDBC, Kafka batch) whose
    * small size stats would trigger a pointless repartition, and a
    * Spark rename would silently disable callers' routing.
    */
  def isFileBackedLeaf(leaf: LogicalPlan): Boolean = leaf match {
    case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      r.relation.isInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation]
    case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation =>
      r.scan.isInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.FileScan]
    case _: org.apache.spark.sql.catalyst.catalog.HiveTableRelation => true
    case _ => false
  }

  /** `spark.sql.files.maxPartitionBytes` as the LONG the session
    * actually resolves (handles "128m"-style suffixed settings, which
    * a raw string conf read would misparse).
    */
  def filesMaxPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[ClassicSparkSession]
      .sessionState.conf.filesMaxPartitionBytes

  def registerFunction(
      spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[ClassicSparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)

  /** The EXECUTED form of a DataFrame: its physical plan's
    * `RDD[InternalRow]` — what a DSv2 `Batch` needs to expose a
    * driver-planned query as input partitions without re-encoding rows
    * (graft's catalog scan wraps the store's own Catalyst plan this
    * way; rows never leave Tungsten format).
    */
  def toRdd(df: DataFrame): org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.toRdd

  /** The executed physical plan (for plan-shape assertions: the
    * wrapped-RDD scan above is only sound for EXCHANGE-FREE plans —
    * a shuffle read needs map outputs the foreign task never wrote).
    */
  def executedPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan

  /** `condition` (resolved) in the form a Spark plan evaluates it:
    * literals folded, then `IN` lists deduplicated and turned into `=`
    * or `INSET` by list size, under this session's settings.
    */
  def optimizedCondition(spark: SparkSession, condition: Expression): Expression = {
    import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, OptimizeIn}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    org.apache.spark.sql.internal.SQLConf.withExistingConf(
        spark.asInstanceOf[ClassicSparkSession].sessionState.conf) {
      val plan = Filter(condition, LocalRelation(condition.references.toSeq))
      OptimizeIn(ConstantFolding(plan)) match {
        case Filter(c, _) => c
        case other => throw new IllegalStateException(s"unexpected plan $other")
      }
    }
  }

  /** The conjuncts of `condition` a file source can take as row-group
    * skipping hints, translated as a Spark scan translates them.
    */
  def pushableFilters(condition: Expression): Seq[org.apache.spark.sql.sources.Filter] =
    condition match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        pushableFilters(l) ++ pushableFilters(r)
      case c => org.apache.spark.sql.execution.datasources.DataSourceStrategy
        .translateFilter(c, supportNestedPredicatePushdown = true).toSeq
    }

  /** `e` with NaN and -0.0 made canonical at every depth — the form
    * grouping and window partitioning compare keys in.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** True when values of type `t`, float-normalized, group and join as
    * their UnsafeRow bytes compare: no map or variant anywhere inside
    * and no string collation other than binary.
    */
  def groupsByBytes(t: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.catalyst.util.UnsafeRowUtils.isBinaryStable(t) &&
      !t.existsRecursively {
        case _: org.apache.spark.sql.types.MapType | _: org.apache.spark.sql.types.VariantType => true
        case _ => false
      }

  /** True when `t` holds a map at any depth: no grouping or join takes
    * it, and [[normalizeFloats]] refuses it.
    */
  def containsMap(t: org.apache.spark.sql.types.DataType): Boolean =
    t.existsRecursively(_.isInstanceOf[org.apache.spark.sql.types.MapType])

  /** The rows of `df` in Spark's internal form, collected in one SQL
    * execution as `collect()` would run it.
    */
  def collectInternal(df: DataFrame): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[ClassicDataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect().toSeq)
  }

  /** DSv2 `Predicate` → V1 `Filter`, when expressible (Spark's own
    * conversion; `None` = not translatable, caller must reject).
    */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)
}
