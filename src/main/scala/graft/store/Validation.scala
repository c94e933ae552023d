package graft.store

import org.apache.spark.sql.DataFrame

/** Input validation mirroring the reference's checks
  * (reference: src/ml_feature_store/store.py:422-470).
  */
object Validation {

  /** Required columns of every feature table / spine
    * (reference: store.py:21-24).
    */
  val EntityIdColumn = "entity_id"
  val TimestampColumn = "timestamp"
  val RequiredColumns: Seq[String] = Seq(EntityIdColumn, TimestampColumn)

  /** Reject frames missing required columns or with no rows
    * (reference: store.py:422-446). The emptiness probe is a
    * `limit(1)` job — cheap at any scale.
    */
  def validateDataFrame(
      df: DataFrame, context: String, allowEmpty: Boolean = false): Unit = {
    val missing = RequiredColumns.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new FeatureValidationError(
        s"$context is missing required columns: ${missing.mkString(", ")} " +
          s"(required: ${RequiredColumns.mkString(", ")})")
    if (!allowEmpty && df.isEmpty)
      throw new FeatureValidationError(s"$context must not be empty")
  }

  /** Spine validation with caller-chosen column names (the kernel API
    * allows non-default entityCol/tsCol; the fixed-name check above is
    * the store-level contract).
    */
  def validateSpine(
      df: DataFrame,
      entityCol: String,
      tsCol: String): Unit = {
    requireSpineColumns(df, entityCol, tsCol)
    // emptiness is a batch concept — probing it is an action, which is
    // both illegal and meaningless on a streaming frame
    if (!df.isStreaming &&
      isEmpty(df.select(Seq(entityCol, tsCol).map(org.apache.spark.sql.functions.col): _*)))
      throw new FeatureValidationError(EmptySpine)
  }

  private[store] def requireSpineColumns(
      df: DataFrame, entityCol: String, tsCol: String): Unit = {
    val missing = Seq(entityCol, tsCol).filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new FeatureValidationError(
        s"entity_timestamps is missing required columns: ${missing.mkString(", ")}")
  }

  private[store] val EmptySpine = "entity_timestamps must not be empty"

  /** Whether `df` has no rows: from the rows the driver holds when its
    * plan is a small local relation ([[FeatureStore.localRows]]), with
    * no query; else, and where evaluating them fails, by `isEmpty`,
    * which raises Spark's own error.
    */
  private def isEmpty(df: DataFrame): Boolean =
    (try FeatureStore.localRows(df)
     catch { case _: org.apache.spark.SparkThrowable => None })
      .fold(df.isEmpty)(_.isEmpty)

  /** Requested projection must be a subset of the *feature* columns —
    * entity_id/timestamp cannot be re-requested because they are always
    * prepended to the output (reference: store.py:448-470).
    */
  def validateColumns(
      requested: Seq[String],
      tableColumns: Seq[String],
      tableName: String,
      // the kernel's ACTUAL key columns: with custom entityCol/tsCol,
      // excluding the fixed defaults would both reject an ordinary
      // feature column that happens to be NAMED "entity_id" and accept
      // a projection of the real key (emitting it twice)
      keyCols: Seq[String] = RequiredColumns): Unit = {
    val featureCols = tableColumns.filterNot(keyCols.contains).toSet
    val unknown = requested.filterNot(featureCols.contains)
    if (unknown.nonEmpty)
      throw new FeatureValidationError(
        s"Columns not found in table '$tableName': ${unknown.mkString(", ")}. " +
          s"Available feature columns: ${featureCols.toSeq.sorted.mkString(", ")}")
  }
}
