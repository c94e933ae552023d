package org.apache.spark.sql.graftbridge

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat

import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec, SparkHadoopWriterUtils}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, Predicate, RowOrdering, SortOrder, Unevaluable, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ObservationManager, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.AggregatingAccumulator
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormatWriter, WriteJobDescription}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.SerializableConfiguration

/** Spark's own expression evaluation, aggregation and task-side parquet
  * writer, run on the driver: what lets the store write an input it
  * already holds in driver memory without starting a Spark job.
  *
  *   - [[fold]] evaluates a plan of local relations under projections,
  *     filters, unions, limits and metric collections, row by row, with
  *     Spark's projections and predicates, and each `CollectMetrics`
  *     node's metrics with Spark's `AggregatingAccumulator` (the one
  *     `CollectMetricsExec` runs in its tasks).
  *   - [[Folded.complete]] hands each node's metrics to the
  *     `Observation` registered for it and removes the session's entry,
  *     which Spark would only remove when a query over the plan
  *     completes.
  *   - [[writeParquet]] runs `FileFormatWriter.executeTask`, the body of
  *     one write task, with a commit protocol that creates each file in
  *     place: no `_temporary` directory to rename out of and no
  *     `_SUCCESS` marker.
  */
object driverWrite {

  /** The rows of a folded plan, in the layout of `output`, and the
    * metrics of each of its `CollectMetrics` nodes by name. Until
    * [[complete]] or [[discard]] runs, the session still holds the
    * plan's `Observation`s.
    */
  final class Folded private[driverWrite] (
      val output: Seq[Attribute],
      val rows: IndexedSeq[InternalRow],
      val metrics: Map[String, Row],
      session: SparkSession,
      nodes: Seq[CollectMetrics]) {

    /** Fulfil the `Observation` of every metric node with its metrics,
      * as a completed query would, and drop it from the session.
      */
    def complete(): Unit = nodes.foreach { c =>
      take(c).foreach(_.setMetricsAndNotify(metrics(c.name)))
    }

    /** Drop the plan's `Observation`s from the session unfulfilled, as a
      * failed write leaves them.
      */
    def discard(): Unit = nodes.foreach(take)

    private def take(c: CollectMetrics): Option[Observation] =
      Option(observations(session).remove((c.name, c.dataframeId)))
  }

  /** `df`'s rows and metrics evaluated on the driver, when its analyzed
    * plan is one [[fold]] takes; None for any other plan, decided before
    * any row is evaluated. Its `Observation`s are those registered in
    * `df`'s session, where a frame observed in it keeps them.
    */
  def fold(df: DataFrame): Option[Folded] = {
    val plan = ReplaceExpressions(analyzed(df))
    Option.when(foldable(plan)) {
      val acc = mutable.LinkedHashMap.empty[String, AggregatingAccumulator]
      val rows = SQLConf.withExistingConf(conf(df.sparkSession))(eval(plan, acc))
      val metrics = acc.map { case (n, a) =>
        n -> CatalystTypeConverters.createToScalaConverter(a.schema)(a.value).asInstanceOf[Row]
      }.toMap
      new Folded(plan.output, rows, metrics, df.sparkSession,
        plan.collect { case c: CollectMetrics => c })
    }
  }

  /** Local relations under `Project`, `Filter`, `Union`, `CollectMetrics`,
    * `SubqueryAlias` and literal limits, with deterministic expressions
    * that Spark can evaluate row by row (no subquery, Python function or
    * other unevaluable node), and no metric name twice.
    */
  private def foldable(plan: LogicalPlan): Boolean = {
    def evaluable(e: Expression): Boolean = e.deterministic && !e.exists {
      case _: Attribute | _: AggregateExpression | _: AggregateFunction => false
      case _: Unevaluable => true
      case _ => false
    }
    val names = plan.collect { case c: CollectMetrics => c.name }
    names.distinct.size == names.size && plan.find {
      case l: LocalRelation => l.isStreaming
      case p @ (_: Project | _: Filter | _: CollectMetrics) => !p.expressions.forall(evaluable)
      case _: Union | _: SubqueryAlias => false
      case GlobalLimit(l, _) => !l.foldable
      case LocalLimit(l, _) => !l.foldable
      case _ => true
    }.isEmpty
  }

  private def eval(
      p: LogicalPlan,
      acc: mutable.Map[String, AggregatingAccumulator]): IndexedSeq[InternalRow] = p match {
    case l: LocalRelation => l.data.toIndexedSeq
    case Project(list, child) =>
      val proj = UnsafeProjection.create(list, child.output)
      eval(child, acc).map(proj(_).copy())
    case Filter(cond, child) =>
      val pred = Predicate.create(cond, child.output)
      eval(child, acc).filter(pred.eval)
    case u: Union => u.children.flatMap(eval(_, acc)).toIndexedSeq
    case c: CollectMetrics =>
      val rows = eval(c.child, acc)
      val a = AggregatingAccumulator(c.metrics, c.child.output)
      rows.foreach(a.add)
      acc(c.name) = a
      rows
    case SubqueryAlias(_, child) => eval(child, acc)
    case GlobalLimit(l, child) => eval(child, acc).take(l.eval().asInstanceOf[Int])
    case LocalLimit(l, child) => eval(child, acc).take(l.eval().asInstanceOf[Int])
    case other => throw new IllegalStateException(s"not foldable: ${other.nodeName}")
  }

  /** `rows` ordered by `order` (ascending, nulls first, as
    * `sortWithinPartitions` orders them) with Spark's row ordering; the
    * sort is stable.
    */
  def sorted(rows: IndexedSeq[InternalRow], output: Seq[Attribute],
      order: Seq[Attribute]): IndexedSeq[InternalRow] =
    rows.sorted(RowOrdering.create(order.map(SortOrder(_, Ascending)), output))

  /** Write `rows` (in the layout of `output`) as parquet under `path`
    * exactly as one Spark write task writes its partition: a file per
    * value of `partitionColumns` (rows sorted by them), named
    * `part-00000-<uuid>-c000...`, or one file holding every column when
    * there are none, typed even with no rows. `hadoopConf` is used as
    * given; the files appear in place as each is written.
    */
  def writeParquet(
      spark: SparkSession,
      path: String,
      output: Seq[Attribute],
      partitionColumns: Seq[Attribute],
      rows: Iterator[InternalRow],
      hadoopConf: Configuration): Unit = {
    val session = spark.asInstanceOf[ClassicSparkSession]
    val sqlConf = conf(spark)
    val format = new ParquetFileFormat
    val dataColumns = output.filterNot(partitionColumns.contains)
    val dataSchema = DataTypeUtils.fromAttributes(dataColumns)
    DataSourceUtils.verifySchema(format, dataSchema)
    DataSourceUtils.checkFieldNames(format, dataSchema)
    val job = Job.getInstance(hadoopConf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(path))
    SQLConf.withExistingConf(sqlConf) {
      val factory = format.prepareWrite(session, job, Map.empty, dataSchema)
      val jobId = UUID.randomUUID().toString
      val description = new WriteJobDescription(jobId,
        new SerializableConfiguration(job.getConfiguration), factory, output, dataColumns,
        partitionColumns, None, path, Map.empty, sqlConf.maxRecordsPerFile,
        sqlConf.sessionLocalTimeZone, Seq.empty)
      FileFormatWriter.executeTask(description,
        SparkHadoopWriterUtils.createJobTrackerID(new java.util.Date), 0, 0, 0,
        new InPlaceCommitProtocol(jobId, path), rows, None)
    }
    ()
  }

  /** Files created at their final path under `path`, named as Spark's
    * Hadoop commit protocol names them. A write's files are made visible
    * by the caller's own commit (the store's log marker), so there is
    * nothing to rename and no job marker to write.
    */
  private final class InPlaceCommitProtocol(jobId: String, path: String)
      extends FileCommitProtocol {
    def setupJob(jobContext: JobContext): Unit = ()
    def commitJob(jobContext: JobContext,
        taskCommits: Seq[FileCommitProtocol.TaskCommitMessage]): Unit = ()
    def abortJob(jobContext: JobContext): Unit = ()
    def setupTask(taskContext: TaskAttemptContext): Unit = ()
    override def newTaskTempFile(taskContext: TaskAttemptContext, dir: Option[String],
        spec: FileNameSpec): String = {
      val split = taskContext.getTaskAttemptID.getTaskID.getId
      val name = f"${spec.prefix}part-$split%05d-$jobId${spec.suffix}"
      dir.fold(new Path(path, name))(d => new Path(new Path(path, d), name)).toString
    }
    override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
        absoluteDir: String, spec: FileNameSpec): String =
      throw new UnsupportedOperationException("no custom partition locations")
    def commitTask(taskContext: TaskAttemptContext): FileCommitProtocol.TaskCommitMessage =
      new FileCommitProtocol.TaskCommitMessage(Nil)
    def abortTask(taskContext: TaskAttemptContext): Unit = ()
  }

  private def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed

  private def conf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[ClassicSparkSession].sessionState.conf

  /** The session's registered, not yet completed `Observation`s, keyed
    * by (name, id of the observed frame) as `CollectMetrics` names them.
    * Private to Spark: completed queries remove their entries through
    * it, and nothing else can.
    */
  private val observationsField = {
    val f = classOf[ObservationManager].getDeclaredField("observations")
    f.setAccessible(true)
    f
  }

  private def observations(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[(String, Long), Observation] =
    observationsField.get(spark.asInstanceOf[ClassicSparkSession].observationManager)
      .asInstanceOf[java.util.concurrent.ConcurrentHashMap[(String, Long), Observation]]

  /** Registered `Observation`s the session holds (for tests). */
  def pendingObservations(spark: SparkSession): Int = observations(spark).size
}
