package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

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

  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")

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

  property("windowAggJoin equals per-spine-row model") = forAll(
    genRows, genSpine, Gen.choose(1, 10)) { (rows, spineRaw, wDays) =>
    val spine = if (spineRaw.isEmpty) List(("a", 1)) else spineRaw
    val s = spark
    import s.implicits._
    val spineDf = spine.map { case (e, d) => (e, ts(d)) }
      .toDF("entity_id", "timestamp")
    val got = WindowFeatures
      .windowAggJoin(spineDf, toDF(rows), wDays * 86400L, Seq(
        WindowAgg("n", "rows"),
        WindowAgg("sv", "sum", "v"),
        WindowAgg("mn", "min", "v"),
        WindowAgg("mx", "max", "v"),
        // per-agg horizon override: a second, 2-day window in the same pass
        WindowAgg("n2", "rows", windowSeconds = Some(2L * 86400L)),
        WindowAgg("sv2", "sum", "v", Some(2L * 86400L))))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        r.getLong(6),
        Option(r.get(7)).map(_.asInstanceOf[Long])))
      .toList.sorted
    val want = spine.map { case (e, d) =>
      // upper bound inclusive, lower bound exclusive: (d - w, d]
      val in = rows.filter(r => r.e == e && r.day > d - wDays && r.day <= d)
      val in2 = rows.filter(r => r.e == e && r.day > d - 2 && r.day <= d)
      (e, ts(d).toString, in.size.toLong,
        if (in.isEmpty) None else Some(in.map(_.v).sum),
        if (in.isEmpty) None else Some(in.map(_.v).min),
        if (in.isEmpty) None else Some(in.map(_.v).max),
        in2.size.toLong,
        if (in2.isEmpty) None else Some(in2.map(_.v).sum))
    }.sorted
    got == want
  }

  property("sessionize equals sequential-walk model") = forAll(
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

  property("latestKPerEntity equals rank model") = forAll(
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
