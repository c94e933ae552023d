package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.{FloatVectorDot, Md5PrefixLong}

/** Session wiring for graft's Catalyst extensions:
  *
  *   - `graft_dot(a, b)` — native codegen float-vector dot product
  *     ([[graft.functions.FloatVectorDot]]), callable from SQL;
  *   - `graft_md5_long(s, n)` — native md5-prefix hash
  *     ([[graft.functions.Md5PrefixLong]]), callable from SQL;
  *   - `graft_changes(root, table, from, to)` — the change data feed
  *     as a table-valued function
  *     ([[graft.functions.GraftChangesTvf]]);
  *   - SQL `UPDATE` / `MERGE INTO` on graft catalog tables
  *     ([[graft.plans.GraftDmlRule]]).
  *
  * Two registration paths:
  *
  *   1. Config-based (cluster-wide, no code), which installs all of the
  *      above: `spark.sql.extensions=graft.GraftExtensions`
  *   2. Programmatic, on an already-built session:
  *      `GraftExtensions.ensureRegistered(spark)` — idempotent; installs
  *      the two scalar functions only (the table function and the
  *      analyzer rule can only attach when the session is built).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    val (id, info, builder) = FloatVectorDot.descriptor
    e.injectFunction((id, info, builder))
    val (hid, hinfo, hbuilder) = Md5PrefixLong.descriptor
    e.injectFunction((hid, hinfo, hbuilder))
    // graft_changes(root, table, from, to): the change feed as a SQL
    // table-valued function resolving to the store's own plan
    e.injectTableFunction(graft.functions.GraftChangesTvf.descriptor)
    // SQL UPDATE / MERGE INTO on graft catalog tables
    // ([[graft.plans.GraftDmlRule]]); config-path only — analyzer
    // rules cannot attach to an already-built session
    e.injectResolutionRule(_ => graft.plans.GraftDmlRule)
  }
}

object GraftExtensions {

  /** Register the scalar SQL functions on a live session. Safe to call
    * repeatedly (the function registry write is replace-on-conflict).
    */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val (id, info, builder) = FloatVectorDot.descriptor
    org.apache.spark.sql.graftbridge.bridge.registerFunction(spark, id, info, builder)
    val (hid, hinfo, hbuilder) = Md5PrefixLong.descriptor
    org.apache.spark.sql.graftbridge.bridge.registerFunction(spark, hid, hinfo, hbuilder)
  }
}
