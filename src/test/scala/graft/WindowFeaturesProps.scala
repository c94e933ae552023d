package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.store.{PointInTime, WindowFeatures}
import graft.store.WindowFeatures.WindowAgg

/** Model-based properties for the windowed-feature operators: the
  * distributed plans must equal straightforward in-memory models
  * exactly — covering window boundary inclusivity (upper inclusive,
  * lower exclusive), left semantics on empty windows, gap-equality in
  * sessionization, and rank/tie-break order in latest-k.
  */
object WindowFeaturesProps extends Properties("WindowFeatures") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxSize(40)

  private lazy val spark = SparkTestBase.session

  private case class R(e: String, day: Int, v: Long, seq: Long)

  // day 1 is 2024-01-01; edge probes run past the end of January
  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(day - 1L))

  private val genRows: Gen[List[R]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(
      n,
      for {
        e <- Gen.oneOf("a", "b", "c", "d")
        day <- Gen.choose(1, 25)
        v <- Gen.choose(0L, 99L)
      } yield R(e, day, v, 0L))
  } yield rows.zipWithIndex.map { case (r, i) => r.copy(seq = i.toLong) }

  private val genSpine: Gen[List[(String, Int)]] =
    Gen.listOf(Gen.zip(Gen.oneOf("a", "b", "c", "d", "ghost"), Gen.choose(1, 28)))

  private def toDF(rows: List[R]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map(r => (r.e, ts(r.day), r.v, r.seq))
      .toDF("entity_id", "timestamp", "v", "seq")
  }

  // window-aggregate rows: a long value and an int value, each
  // sometimes null, and a timestamp that is sometimes null
  private case class W(e: String, day: Option[Int], v: Option[Long], i: Option[Int])

  private val genWRows: Gen[List[W]] = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, for {
    e <- Gen.oneOf("a", "b", "c", "d")
    day <- Gen.frequency(9 -> Gen.choose(1, 25).map(Option(_)), 1 -> Gen.const(None))
    v <- Gen.frequency(4 -> Gen.choose(0L, 99L).map(Option(_)), 1 -> Gen.const(None))
    i <- Gen.frequency(4 -> Gen.choose(-50, 50).map(Option(_)), 1 -> Gen.const(None))
  } yield W(e, day, v, i)))

  property("windowAggJoin equals per-spine-row model") = forAllNoShrink(
    genWRows, genSpine, Gen.choose(1, 10)) { (rows, spineRaw, wDays) =>
    // probes at every feature row's own day and exactly w and 2 days
    // later (its row sits on the excluded lower edge there), plus a
    // null-ts probe, a null-entity probe and a duplicate
    val edges = rows.take(3).flatMap(r => r.day.toList.flatMap(d =>
      Seq(d, d + wDays, d + 2).map(x => (Option(r.e), Option(x)))))
    val spine = spineRaw.map { case (e, d) => (Option(e), Option(d)) } ++ edges ++
      Seq((Some("a"), None), (None, Some(9)), (Some("b"), Some(12)), (Some("b"), Some(12)))
    val s = spark
    import s.implicits._
    val spineDf = spine.map { case (e, d) => (e, d.map(ts).orNull) }
      .toDF("entity_id", "timestamp")
    val table = rows.map(r => (r.e, r.day.map(ts).orNull, r.v, r.i, r.v.map(_.toDouble)))
      .toDF("entity_id", "timestamp", "v", "vi", "vd")
    val two = Some(2L * 86400L)
    val got = WindowFeatures
      .windowAggJoin(spineDf, table, wDays * 86400L, Seq(
        WindowAgg("n", "rows"),
        WindowAgg("cv", "count", "v"),
        WindowAgg("sv", "sum", "v"),
        WindowAgg("si", "sum", "vi"),
        WindowAgg("sd", "sum", "vd"),
        WindowAgg("mn", "min", "v"),
        WindowAgg("nd", "distinct", "vi"),
        // per-agg horizon overrides: a second, 2-day window in the same pass
        WindowAgg("n2", "rows", windowSeconds = two),
        WindowAgg("ci2", "count", "vi", two),
        WindowAgg("sv2", "sum", "v", two),
        WindowAgg("si2", "sum", "vi", two),
        WindowAgg("mx2", "max", "vi", two)))
      .collect().toList
      .map(_.toSeq.map(x => Option(x).map(_.toString))).sortBy(_.toString)
    val want = spine.map { case (e, d) =>
      // upper bound inclusive, lower bound exclusive: (d - w, d]
      def in(w: Int) = (for (ee <- e; dd <- d) yield rows.filter(r =>
        r.e == ee && r.day.exists(x => x > dd - w && x <= dd))).getOrElse(Nil)
      def sumOf[T](xs: List[T])(implicit n: Numeric[T]) =
        if (xs.isEmpty) None else Some(xs.sum)
      val (iw, i2) = (in(wDays), in(2))
      Seq(e, d.map(ts), Some(iw.size.toLong), Some(iw.flatMap(_.v).size.toLong),
        sumOf(iw.flatMap(_.v)), sumOf(iw.flatMap(_.i).map(_.toLong)),
        sumOf(iw.flatMap(_.v).map(_.toDouble)), iw.flatMap(_.v).minOption,
        Some(iw.flatMap(_.i).distinct.size.toLong),
        Some(i2.size.toLong), Some(i2.flatMap(_.i).size.toLong),
        sumOf(i2.flatMap(_.v)), sumOf(i2.flatMap(_.i).map(_.toLong)),
        i2.flatMap(_.i).maxOption).map(_.map(_.toString))
    }.sortBy(_.toString)
    got == want
  }

  property("sessionize equals sequential-walk model") = forAllNoShrink(
    genRows, Gen.choose(1, 6)) { (rows, gapDays) =>
    val got = WindowFeatures
      .sessionize(toDF(rows), gapDays * 86400L, tieBreakCols = Seq("seq"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).toString,
        r.getTimestamp(3).toString, r.getLong(4)))
      .toList.sorted
    val want = rows.groupBy(_.e).toList.flatMap { case (e, rs) =>
      val ordered = rs.sortBy(r => (r.day, r.seq))
      // strictly-greater gap starts a new session: diff == gap stays
      val sessions = ordered.tail.foldLeft(List(List(ordered.head))) {
        case (acc @ cur :: done, r) =>
          if (r.day - cur.head.day > gapDays) List(r) :: acc
          else (r :: cur) :: done
        case (Nil, r) => List(List(r))
      }.reverse.map(_.reverse)
      sessions.zipWithIndex.map { case (ss, i) =>
        (e, (i + 1).toLong, ts(ss.map(_.day).min).toString,
          ts(ss.map(_.day).max).toString, ss.size.toLong)
      }
    }.sorted
    got == want
  }

  property("latestKPerEntity equals rank model") = forAllNoShrink(
    genRows, Gen.choose(1, 5)) { (rows, k) =>
    val got = PointInTime
      .latestKPerEntity(toDF(rows), k, tieBreakCols = Seq("seq"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toList.sorted
    val want = rows.groupBy(_.e).toList.flatMap { case (_, rs) =>
      rs.sortBy(r => (-r.day, -r.seq)).take(k).zipWithIndex
        .map { case (r, i) => (r.e, r.v, r.seq, i + 1) }
    }.sorted
    got == want
  }
}
