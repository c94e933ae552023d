package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Memoized parquet table handles, one per (session, path).
  *
  * `spark.read.parquet` does driver-side work on EVERY call — file
  * listing plus a footer read for schema inference — before any job
  * runs. The benchmark harness builds each query fresh per pass, so
  * without memoization the same ten static tables are re-listed and
  * re-footer-read hundreds of times per run (~10-30 ms each, pure
  * driver latency that a real deployment would pay once via its
  * catalog/metastore). Caching the resolved [[DataFrame]] keeps the
  * relation (schema + file index) while every downstream query still
  * plans and executes normally.
  *
  * Sessions are held weakly so stopped test sessions can be collected;
  * the per-session map is keyed by path string.
  *
  * IMMUTABLE-PATH CONTRACT: a cached handle pins the file index from
  * first resolution for the session's lifetime — there is NO
  * invalidation. Only hand paths to this object whose contents never
  * change in-session (the static bench/test tables, write-once index
  * dirs like ivfIndexDir). A path that is rewritten after caching would
  * silently serve the stale file list; for write-then-reread flows call
  * `spark.read.parquet` directly (or [[invalidate]] first).
  */
object Tables {

  private val cache =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  def parquet(s: SparkSession, path: String): DataFrame = {
    val perSession = cache.synchronized {
      var m = cache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        cache.put(s, m)
      }
      m
    }
    perSession.computeIfAbsent(path, p => s.read.parquet(p))
  }

  /** Drop every session's cached handle for `path` (the rewrite
    * invalidates the file list for all of them, not just the writer's
    * session): the escape hatch for a caller that must rewrite a
    * previously-cached path mid-session. The next [[parquet]] call
    * re-lists and re-reads the footer. The session argument only keeps
    * call sites explicit about which session triggered the rewrite.
    *
    * Also drops the memos keyed by a path's plan: an in-place rewrite
    * is the one case where a re-read plan can hash equal to the
    * pre-rewrite plan while the DATA changed. Store-API writes never
    * need this: a new version is a new path, which hashes fresh.
    */
  def invalidate(s: SparkSession, path: String): Unit = {
    cache.synchronized {
      cache.values.forEach(m => if (m != null) { m.remove(path); () })
    }
    // the similarity routers' memoized corpus envelope goes stale on an
    // in-place rewrite (a grown corpus would be mis-routed into the
    // broadcast kernel) — clear it here
    graft.ops.Similarity.invalidateCorpusStats()
    // same hazard class: a rewritten path whose memoized footer schema
    // would otherwise be served stale — precise (exact-or-child), not
    // a wholesale clear
    graft.store.Storage.invalidateSchemas(path)
  }
}
