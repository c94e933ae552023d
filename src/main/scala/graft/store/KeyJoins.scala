package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** THE null-safe key-addressed join — one definition shared by the
  * store's key-addressed mutations ([[FeatureStore.registerUpsert]],
  * `deleteRowsByKeys`, rewrites) and the SQL DML sibling carry
  * (`graft.plans.GraftDml`). A key with a NULL component addresses the
  * rows whose component IS NULL (null keys are legal observations); a
  * null-unsafe using-join silently violates that — an upsert duplicates
  * instead of replacing, a key delete no-ops, a DML rewrite drops
  * sibling rows. Keeping one definition is the point: round 10's
  * DateType gap came from three parallel copies of the same block
  * drifting apart.
  *
  * The key frame's columns are renamed before the join so semi/anti
  * output stays unambiguous under shared lineage; `<=>` on every key
  * column still plans as a hash equi-join.
  */
private[graft] object KeyJoins {

  /** Join `rows` against a key frame on `keyCols`, null-safe.
    * For `left_semi` / `left_anti` the output is `rows`' columns and
    * duplicate keys change nothing, so callers need not dedup the key
    * frame; other join types carry the renamed `_graft_k_<col>` key
    * columns along and repeat a row per matching key.
    */
  def onKeys(
      rows: DataFrame,
      keys: DataFrame,
      keyCols: Seq[String],
      joinType: String): DataFrame = {
    val renamed = keys.select(keyCols.map(k => col(k).as(s"_graft_k_$k")): _*)
    rows.join(
      renamed,
      keyCols.map(k => rows(k) <=> col(s"_graft_k_$k")).reduce(_ && _),
      joinType)
  }
}
