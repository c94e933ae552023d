package graftbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import graft.store.FeatureStore

/** ingest_mix: one writer repeats a fixed cycle of commits (see
  * [[IngestMix.Kinds]]): registerAppend batches, a registerUpsert, a
  * deleteRowsByKeys, an explicit compact, and an append that trips
  * auto-compaction at `MaxSegments`. Each commit is followed by a get or
  * getRecent of the entities it touched; one commit with its read-back
  * is a unit. The loop runs whole cycles only, so every run times the
  * same mix of steps. Read-backs are checked against a driver-side model
  * of the table (read-your-writes), and the final table, row by row,
  * against the model's contents.
  */
final class IngestMix(ctx: Ctx) extends Workload {
  import ctx._
  import IngestMix._

  private var store, warmStore: FeatureStore = _
  private var root: File = _
  private var fp = ""
  /** The expected table: entity -> (ts -> (qty, price)). */
  private final class Model {
    val byEntity = mutable.HashMap.empty[Long, java.util.TreeMap[Long, (Long, Long)]]
    var size = 0L
    var nextRow = 0L
    def put(k: (Long, Long), v: (Long, Long)): Unit =
      if (byEntity.getOrElseUpdate(k._1, new java.util.TreeMap[Long, (Long, Long)]).put(k._2, v) == null)
        size += 1
    def remove(k: (Long, Long)): Unit =
      if (byEntity.get(k._1).exists(_.remove(k._2) != null)) size -= 1
    /** The k latest rows of `e` at or before `asOf`, with their 1-based rank. */
    def latest(e: Long, asOf: Long, k: Int): Seq[Row] =
      byEntity.get(e).toSeq.flatMap(_.headMap(asOf, true).descendingMap().entrySet().iterator().asScala.take(k).toSeq)
        .zipWithIndex.map { case (x, i) =>
          Row(e, new Timestamp(x.getKey * 1000L), x.getValue._1, x.getValue._2, i + 1)
        }
    def rows: Iterator[Row] = byEntity.iterator.flatMap { case (e, m) =>
      m.entrySet().iterator().asScala.map(x => Row(e, new Timestamp(x.getKey * 1000L), x.getValue._1, x.getValue._2))
    }
  }
  private val models = mutable.HashMap.empty[String, Model]
  private var next = 0L
  private var inputBytes = 0L
  // traced-phase observations per commit: (files added, segments live, catalog bytes)
  private val commitObs = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  // appends that left a single segment behind: auto-compaction fired
  private var autoCompactions, tracedAutoCompactions = 0L

  def loop: String = "closed, 1 writer"

  private def newRows(m: Model, rng: Rng, n: Int): Seq[Row] = Seq.fill(n) {
    val id = m.nextRow
    m.nextRow += 1
    Row(rng.zipf(Entities).toLong, new Timestamp((Gen.T0 + id * StepSeconds) * 1000L),
      rng.nextInt(100).toLong, rng.nextInt(100000).toLong)
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)

  private def key(r: Row): (Long, Long) = (r.getLong(0), r.getTimestamp(1).getTime / 1000L)

  private def baseRows(table: String, n: Int): Seq[Row] = {
    val m = new Model
    models(table) = m
    val rs = newRows(m, Rng.stream(seed, s"ingest.$table.base"), n)
    rs.foreach(r => m.put(key(r), (r.getLong(2), r.getLong(3))))
    rs
  }

  /** The cold registration (class loading, codegen, JIT) puts the
    * warm-up table into a store of its own; then `reps` timed
    * registrations of the timed table, each into a fresh store, the last
    * of which serves the run.
    */
  def setup(reps: Int): Double = {
    val base = frame(baseRows(Table, BaseRows))
    val warmBase = frame(baseRows(WarmTable, WarmBaseRows))
    base.cache().count()
    val (s, secs) = Harness.repeated(reps) { i =>
      val r = new File(dir, s"ingest-store-$i")
      val st = new FeatureStore(spark, r.getAbsolutePath)
      if (i == 0) { st.register(WarmTable, warmBase); warmStore = st }
      else st.register(Table, base)
      (r, st)
    }
    (1 until reps).foreach(i => Dirs.delete(new File(dir, s"ingest-store-$i")))
    root = s._1
    store = s._2
    inputBytes = BaseRows * RowBytes
    fp = Gen.combine(Seq(Gen.fingerprint(base), Gen.fingerprint(warmBase)) ++
      (0 until 6).map(i => RowHash.multiset(newRows(new Model, Rng.stream(seed, "ingest.probe", i), 50),
        Schema.fieldNames.toSeq).toString))
    secs
  }

  def fingerprint: String = fp

  /** Plans one cycle against the model, advancing the model as if each
    * commit lands: the store must then agree with it. Corrections and
    * retractions hit the latest appended batch, as late data does, so
    * each rewrites one segment and the segment count follows
    * [[IngestMix.Kinds]].
    */
  private def plan(m: Model, table: String, c: Long): Seq[Step] = {
    var lastBatch = Seq.empty[(Long, Long)]
    Kinds.zipWithIndex.map { case (kind, j) =>
      val rng = Rng.stream(seed, s"ingest.$table", c * Kinds.size + j)
      def existing(n: Int) = Seq.fill(n)(lastBatch(rng.nextInt(lastBatch.size))).distinct
      val delta = kind match {
        case "append" => newRows(m, rng, AppendRows)
        case "upsert" =>
          existing(UpsertHits).map { case (e, t) =>
            Row(e, new Timestamp(t * 1000L), rng.nextInt(100).toLong, rng.nextInt(100000).toLong)
          } ++ newRows(m, rng, UpsertNew)
        case "delete" => existing(DeleteKeys).map { case (e, t) => Row(e, new Timestamp(t * 1000L)) }
        case _ => Nil
      }
      if (kind == "append") lastBatch = delta.map(key)
      val touched = (if (delta.isEmpty) lastBatch.map(_._1) else delta.map(_.getLong(0)))
        .distinct.take(ReadIds).toList
      kind match {
        case "delete" => delta.foreach(r => m.remove(key(r)))
        case "compact" =>
        case _ => delta.foreach(r => m.put(key(r), (r.getLong(2), r.getLong(3))))
      }
      val recent = j % 2 == 1
      val asOf = Gen.T0 + m.nextRow * StepSeconds
      Step(kind,
        kind match {
          case "delete" => spark.createDataFrame(java.util.Arrays.asList(delta: _*), KeySchema)
          case "compact" => null
          case _ => frame(delta)
        },
        if (kind == "delete") 0L else delta.size.toLong, touched, new Timestamp(asOf * 1000L), recent,
        touched.flatMap(e => m.latest(e, asOf, if (recent) RecentK else 1)))
    }
  }

  /** One planned step: its commit, then a read-back of the entities it
    * touched (read-your-writes), alternating get and getRecent.
    */
  private def step(table: String, st: Step): Unit = {
    val fs = if (table == WarmTable) warmStore else store
    val observe = h.tracer.isDefined && table == Table
    val before = if (observe) Dirs.files(new File(root, table)) else 0L
    val done = h.unit(st.kind, st.rows) { req =>
      st.kind match {
        case "append" => h.action(req, "store.registerAppend")(
          fs.registerAppend(table, st.df, maxSegments = MaxSegments))
        case "upsert" => h.action(req, "store.registerUpsert")(fs.registerUpsert(table, st.df))
        case "delete" => h.action(req, "store.deleteRowsByKeys")(fs.deleteRowsByKeys(table, st.df))
        case _ => h.action(req, "store.compact")(fs.compact(table))
      }
      val got =
        if (st.recent) h.frame(req, "store.getRecent")(fs.getRecent(table, st.touched, st.asOf, RecentK))
        else h.frame(req, "store.get")(fs.get(table, st.touched, st.asOf))
      (req.id, got)
    }
    if (h.recording && table == Table) {
      val segments = fs.currentSegmentStats(table).map(_.size.toLong).getOrElse(0L)
      if (st.kind == "append" && segments == 1) {
        autoCompactions += 1
        if (observe) tracedAutoCompactions += 1
      }
      if (observe) commitObs += ((Dirs.files(new File(root, table)) - before, segments,
        Dirs.bytes(new File(root, "_catalog"))))
    }
    if (table == Table) inputBytes += st.rows * RowBytes
    done.foreach { case (unitId, got) =>
      val cols = if (st.recent) ReadCols :+ "recency_rank" else ReadCols
      if (h.recording && RowHash.multiset(got, cols) != RowHash.multiset(st.want, cols))
        h.fail(unitId, s"${st.kind} commit not visible to a read of ${st.touched.mkString(",")}: " +
          s"${got.length} rows, want ${st.want.size}")
    }
  }

  private def cycle(table: String, c: Long): Unit =
    plan(models(table), table, c).foreach(step(table, _))

  /** One cycle on a table of its own, so the timed table is untouched. */
  def warmup(): Unit = cycle(WarmTable, 0)

  def measure(seconds: Double): Unit =
    h.closedLoop(seconds) { next += 1; cycle(Table, next - 1) }

  /** The whole table, row by row, against the model: an upsert that kept
    * old values or a delete that missed a row anywhere fails the run.
    */
  def verify(): Unit = {
    val got = store.scanWhere(Table, lit(true)).collect()
    val want = models(Table)
    if (RowHash.multiset(got, ReadCols) != RowHash.multiset(want.rows.toSeq, ReadCols))
      h.units.lastOption.foreach(u => h.fail(u.id,
        s"final table differs from the model: ${got.length} rows, want ${want.size}"))
  }

  def resultRecall: Double = 1.0

  private def storageBytesPerInputByte: Double =
    Stats.ratio(Dirs.bytes(new File(root, Table)).toDouble, inputBytes.toDouble)

  def named(busyS: Double): Seq[Metric] = {
    val ok = h.okCalls
    val commits = ok.filter(c => CommitApis(c.api)).map(_.totalNs / 1e6)
    val reads = ok.filter(c => ReadApis(c.api)).map(_.totalNs / 1e6)
    Seq(
      Metric("ingest.rows_per_s", h.okUnits.map(_.items).sum / busyS, "rows/s", h.okUnits.size),
      Metric("commit.p50_ms", Stats.medianOr0(commits), "ms", commits.size),
      Metric("read_after_commit.p50_ms", Stats.medianOr0(reads), "ms", reads.size),
      Metric("storage.bytes_per_input_byte", storageBytesPerInputByte, "ratio", 1),
      Metric("storage.auto_compactions", autoCompactions.toDouble, "count", next))
  }

  override def layerExtras(tracer: Tracer, listener: TraceListener): Map[String, Double] = {
    val ok = h.tracedCalls
    val commits = ok.filter(c => CommitApis(c.api))
    val written = Layers.outputBytes(listener, tracer, commits.map(_.spanId).toSet)
    val committedBytes = h.okUnits.filter(_.traced).map(_.items).sum * RowBytes
    val compacts = ok.filter(_.api == "store.compact")
      .map(c => Layers.outputBytes(listener, tracer, Set(c.spanId)).toDouble)
    Map(
      "storage.bytes_written_per_input_byte" -> Stats.ratio(written, committedBytes),
      "storage.files_per_commit" -> Stats.medianOr0(commitObs.map(_._1.toDouble).toSeq),
      "storage.compact_bytes_rewritten" -> Stats.medianOr0(compacts),
      "storage.segments_live" -> Stats.medianOr0(commitObs.map(_._2.toDouble).toSeq),
      "storage.segments_live_max" -> commitObs.map(_._2.toDouble).maxOption.getOrElse(0.0),
      "storage.auto_compactions" -> tracedAutoCompactions.toDouble,
      "catalog.bytes_per_commit" -> Stats.medianOr0(commitObs.map(_._3.toDouble).toSeq),
      "read_after_commit.p50_ms" ->
        Stats.medianOr0(ok.filter(c => ReadApis(c.api)).map(_.totalNs / 1e6)),
      "storage.bytes_per_input_byte" -> storageBytesPerInputByte)
  }
}

object IngestMix {
  /** One planned commit: its input, the entities read back after it and
    * the rows that read must return.
    */
  final case class Step(kind: String, df: DataFrame, rows: Long, touched: List[Long],
      asOf: Timestamp, recent: Boolean, want: Seq[Row])

  val Table = "orders"
  val WarmTable = "orders_warmup"
  val Entities = 5000
  val BaseRows = 20000
  /** The warm-up table only has to run every code path once. */
  val WarmBaseRows = 4000
  val AppendRows = 1000
  /** Upserts correct this many keys of the latest batch and add new rows. */
  val UpsertHits = 200
  val UpsertNew = 50
  /** Deletes retract this many keys of the latest batch. */
  val DeleteKeys = 100
  val ReadIds = 5
  val MaxSegments = 2
  val StepSeconds = 10L
  /** Raw size of one input row: four 8-byte fields. */
  val RowBytes = 32L
  /** One cycle, with the live segment count after each commit when it
    * starts from one segment: append (2), upsert of that batch (2),
    * compact (1), append (2), delete from that batch (2), append (3 >
    * `MaxSegments`, so auto-compaction writes one snapshot: 1).
    */
  val Kinds = Seq("append", "upsert", "compact", "append", "delete", "append")
  val RecentK = 2
  val ReadApis = Set("store.get", "store.getRecent")
  val CommitApis = Set("store.registerAppend", "store.registerUpsert", "store.deleteRowsByKeys", "store.compact")
  val Schema = StructType(Seq(
    StructField("entity_id", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("qty", LongType, nullable = false),
    StructField("price_cents", LongType, nullable = false)))
  val KeySchema = StructType(Schema.fields.take(2))
  val ReadCols: Seq[String] = Schema.fieldNames.toSeq
}
