package graftbench

import java.io.File
import java.sql.Timestamp
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.store.{FeatureStore, WindowFeatures}

/** train_asof: one client in a closed loop builds a training set for a
  * fresh spine per unit — getTrainingSet, a three-table getFeatureView
  * and getWindowFeatures — over three feature tables (165k rows in all)
  * with a zipf-skewed entity population.
  */
final class TrainAsOf(ctx: Ctx) extends Workload {
  import ctx._
  import TrainAsOf._

  private val sources: Map[String, DataFrame] = Tables.map { t =>
    t.name -> Gen.featureTable(spark, seed, t.name, t.rows, Entities, t.stepMillis, t.values, cores)
  }.toMap
  private var store: FeatureStore = _
  private var fp = ""
  // unit id -> (spine index, result multisets of the three calls)
  private val pending = TrieMap.empty[Long, (Long, Seq[(Seq[String], (Long, Long))])]

  def loop: String = "closed, 1 client"

  def setup(reps: Int): Double = {
    val inputFp = Harness.parallel(Tables.map(t => () => Gen.fingerprint(sources(t.name).cache())))
    val (s, secs) = Harness.repeated(reps) { i =>
      val root = new File(dir, s"train-store-$i")
      val st = new FeatureStore(spark, root.getAbsolutePath)
      Tables.foreach(t => st.register(t.name, sources(t.name)))
      st
    }
    (0 until reps).foreach(i => Dirs.delete(new File(dir, s"train-store-$i")))
    store = s
    fp = Gen.combine(inputFp ++
      Seq(0L, WarmBase).map(i => RowHash.multiset(spineRows(i), SpineCols).toString))
    secs
  }

  def fingerprint: String = fp

  private def spineRows(index: Long): Seq[Row] = {
    val rng = Rng.stream(seed, "spine", index)
    Seq.fill(SpineRows)(Row(rng.zipf(Entities).toLong,
      new Timestamp((Gen.T0 + rng.nextInt(SpanSeconds.toInt)) * 1000L)))
  }

  private def spine(index: Long): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(spineRows(index): _*), SpineSchema)

  private def buildOnce(index: Long): Unit = {
    val sp = spine(index)
    val done = h.unit("train", SpineRows) { req =>
      val res = Seq(
        h.frame(req, "store.getTrainingSet")(store.getTrainingSet("txn", sp)),
        h.frame(req, "store.getFeatureView")(store.getFeatureView(sp, Tables.map(_.name))),
        h.frame(req, "store.getWindowFeatures")(
          store.getWindowFeatures("txn", sp, WindowSeconds, Aggs)))
      (req.id, res)
    }
    // hashed outside the unit, over sorted names: the oracle's column
    // order may differ
    if (h.recording) done.foreach { case (u, res) =>
      pending(u) = index -> res.map { rows =>
        val cols = rows.headOption.map(_.schema.fieldNames.toSeq.sorted).getOrElse(Nil)
        cols -> RowHash.multiset(rows, cols)
      }
    }
  }

  /** Four units: after two, measured units still sped up by a quarter
    * over a run while the JIT caught up; after four they are about flat.
    */
  def warmup(): Unit = (0 until 4).foreach(i => buildOnce(WarmBase + i))

  private var next = 0L
  def measure(seconds: Double): Unit =
    h.closedLoop(seconds) { next += 1; buildOnce(next - 1) }

  def verify(): Unit = if (pending.nonEmpty) {
    val units = pending.toSeq.sortBy(_._1)
    pending.clear()
    val spineAll = spark.createDataFrame(java.util.Arrays.asList(units.flatMap { case (u, (i, _)) =>
      spineRows(i).zipWithIndex.map { case (r, sid) => Row(u, sid.toLong, r.getLong(0), r.getTimestamp(1)) }
    }: _*), StructType(Seq(StructField("call_id", LongType), StructField("sid", LongType)) ++ SpineSchema.fields))
    val sv = Oracle.view(spineAll)
    val cols = Tables.map(t => t.name -> sources(t.name).columns.toSeq).toMap
    // one count pass and one rank pass per table serve all three oracles,
    // cached and materialized once before the oracles share them
    val passes = Tables.map { t =>
      val feat = Oracle.view(sources(t.name))
      val window = if (t.name == "txn") Some(WindowSeconds) else None
      (t.name, Oracle.counts(spark, Oracle.probes(spark, sv, window), feat).cache(),
        Oracle.ranked(spark, feat, cols(t.name), window.map(_ => "amount_cents")).cache())
    }
    Harness.parallel(passes.flatMap { case (_, kd, rd) => Seq(() => kd.count(), () => rd.count()) })
    val k = passes.map { case (n, kd, _) => n -> Oracle.view(kd) }.toMap
    val ranked = passes.map { case (n, _, rd) => n -> Oracle.view(rd) }.toMap
    val training = Oracle.asOfInner(spark, k("txn"), ranked("txn"), cols("txn"))
    val view = Tables.foldLeft(spark.table(sv)) { (acc, t) =>
      Oracle.asOfLeft(spark, acc, k(t.name), ranked(t.name), cols(t.name), s"${t.name}_")
    }
    val window = Oracle.windowRowsSum(spark, sv, k("txn"), ranked("txn"), "txn_rows_1d", "amount_1d")
    val frames = Seq(training, view, window)
    // a result must carry exactly the oracle's columns, so dropping a
    // feature or aggregate column can never match
    val wantCols = frames.map(_.columns.toSeq.filterNot(OracleOnlyCols).sorted)
    val oracles = Harness.parallel(frames.map(df => () => df.collect()))
    passes.foreach { case (_, kd, rd) => kd.unpersist(blocking = true); rd.unpersist(blocking = true) }
    val apis = Seq("getTrainingSet", "getFeatureView", "getWindowFeatures")
    units.foreach { case (u, (_, got)) =>
      got.indices.foreach { i =>
        val (cols, hash) = got(i)
        if (cols != wantCols(i))
          h.fail(u, s"${apis(i)} returned columns ${cols.mkString(",")}, want ${wantCols(i).mkString(",")}")
        else {
          val want = RowHash.multiset(oracles(i).filter(_.getAs[Long]("call_id") == u), cols)
          if (hash != want) h.fail(u, s"${apis(i)} result differs from its oracle: got $hash, want $want")
        }
      }
    }
  }

  def resultRecall: Double = 1.0

  def named(busyS: Double): Seq[Metric] = {
    val ok = h.okUnits
    Seq(Metric("train.spine_rows_per_s", ok.map(_.items).sum / busyS, "rows/s", ok.size))
  }
}

object TrainAsOf {
  final case class TableSpec(name: String, rows: Long, stepMillis: Long, values: Seq[(String, Long)])

  val Entities = 20000
  /** Every table spans the same 1e6 seconds (about 11.6 days). */
  val SpanSeconds = 1000000L
  val Tables = Seq(
    TableSpec("txn", 100000L, 10000L, Seq("amount_cents" -> 100000L, "category" -> 50L)),
    TableSpec("profile", 25000L, 40000L, Seq("score" -> 1000L, "tier" -> 5L)),
    TableSpec("clicks", 40000L, 25000L, Seq("clicks" -> 20L, "dwell_ms" -> 60000L)))
  val SpineRows = 5000
  val WindowSeconds = 86400L
  val Aggs = Seq(
    WindowFeatures.WindowAgg("txn_rows_1d", "rows"),
    WindowFeatures.WindowAgg("amount_1d", "sum", "amount_cents"))
  val WarmBase = 1L << 40
  val SpineCols = Seq("entity_id", "timestamp")
  /** Oracle bookkeeping columns no result carries. */
  val OracleOnlyCols = Set("call_id", "sid")
  val SpineSchema = StructType(Seq(
    StructField("entity_id", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)))
}
