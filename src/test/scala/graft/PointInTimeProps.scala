package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.store.PointInTime
import graft.store.PointInTime.ViewTable

/** Model-based ScalaCheck properties for the temporal kernels
  * (SURVEY.md §5 items a-c, strengthened): for random feature tables and
  * spines, the distributed result must equal a straightforward Scala
  * reference model exactly — which subsumes "no future leakage",
  * "argmax among eligible", and "as-of row count <= spine count".
  */
object PointInTimeProps extends Properties("PointInTime") {

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

  private def toDF(rows: List[R]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map(r => (r.e, ts(r.day), r.v, r.seq))
      .toDF("entity_id", "timestamp", "v", "seq")
  }

  private def latestModel(rows: List[R]): Map[String, R] =
    rows.groupBy(_.e).map { case (e, rs) => e -> rs.maxBy(r => (r.day, r.seq)) }

  property("pitSnapshot equals reference model") = forAllNoShrink(
    genRows,
    Gen.choose(1, 25),
    Gen.someOf("a", "b", "c", "d", "ghost")) { (rows, cutoff, idsRaw) =>
    val ids = idsRaw.toList
    val got = PointInTime
      .pitSnapshot(
        toDF(rows), lit(ts(cutoff)),
        entityIds = Some(ids), tieBreakCols = Seq("seq"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = latestModel(rows.filter(r => r.day <= cutoff && ids.contains(r.e)))
      .values
      .map(r => (r.e, ts(r.day), r.v, r.seq))
      .toSet
    got == want
  }

  property("pitSnapshotForEntities (semi-join path) equals model") = forAllNoShrink(
    genRows,
    Gen.choose(1, 25),
    Gen.someOf("a", "b", "c", "d", "ghost")) { (rows, cutoff, idsRaw) =>
    val s = spark
    import s.implicits._
    val ids = idsRaw.toList
    val entityDf = (if (ids.isEmpty) List("none") else ids).toDF("entity_id")
    val got = PointInTime
      .pitSnapshotForEntities(
        toDF(rows), lit(ts(cutoff)), entityDf, tieBreakCols = Seq("seq"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      .toSet
    val eligible = ids.toSet ++ (if (ids.isEmpty) Set("none") else Set.empty)
    val want = latestModel(rows.filter(r => r.day <= cutoff && eligible.contains(r.e)))
      .values
      .map(r => (r.e, r.v, r.seq))
      .toSet
    got == want
  }

  private val genSpine: Gen[List[(String, Int)]] = Gen.listOf(
    for {
      e <- Gen.oneOf("a", "b", "c", "d", "ghost")
      day <- Gen.choose(1, 25)
    } yield (e, day))

  property("asOfJoin equals per-spine-row model (incl. duplicates)") = forAllNoShrink(
    genRows, genSpine) { (rows, spine) =>
    val s = spark
    import s.implicits._
    val spineDf = (if (spine.isEmpty) List(("z", 1)) else spine)
      .map { case (e, d) => (e, ts(d)) }
      .toDF("entity_id", "timestamp")
    val got = PointInTime
      .asOfJoin(spineDf, toDF(rows), tieBreakCols = Seq("seq"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      .toList
      .sorted
    val effSpine = if (spine.isEmpty) List(("z", 1)) else spine
    val want = effSpine
      .flatMap { case (e, d) =>
        val eligible = rows.filter(r => r.e == e && r.day <= d)
        if (eligible.isEmpty) None
        else {
          val m = eligible.maxBy(r => (r.day, r.seq))
          Some((m.e, m.v, m.seq))
        }
      }
      .sorted
    (got == want) && got.length <= effSpine.length
  }

  property("asOfJoinLeft equals null-extending per-spine-row model") = forAllNoShrink(
    genRows, genSpine) { (rows, spine) =>
    val s = spark
    import s.implicits._
    val effSpine = if (spine.isEmpty) List(("z", 1)) else spine
    val spineDf = effSpine.map { case (e, d) => (e, ts(d)) }
      .toDF("entity_id", "timestamp")
    val got = PointInTime
      .asOfJoinLeft(spineDf, toDF(rows), "f_", tieBreakCols = Seq("seq"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1),
        Option(r.get(r.fieldIndex("f_v"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("f_seq"))).map(_.asInstanceOf[Long])))
      .toList
      .sorted
    val want = effSpine
      .map { case (e, d) =>
        val eligible = rows.filter(r => r.e == e && r.day <= d)
        val m = if (eligible.isEmpty) None
          else Some(eligible.maxBy(r => (r.day, r.seq)))
        (e, ts(d), m.map(_.v), m.map(_.seq))
      }
      .sorted
    got == want // every spine row present exactly once, matched or null
  }

  // n-table view: each table has its own tie-break column `k` (unique
  // within the table, unrelated to insertion order), rows may carry a
  // null timestamp, and (entity, day) pairs repeat within and across
  // tables because the domains are small
  private case class FR(e: Int, day: Option[Int], v: Long, k: Long)

  private def genTable(salt: Long): Gen[List[FR]] = for {
    n <- Gen.choose(0, 30)
    rows <- Gen.listOfN(n, for {
      e <- Gen.choose(1, 4)
      day <- Gen.frequency(9 -> Gen.choose(1, 25).map(Option(_)), 1 -> Gen.const(None))
      v <- Gen.choose(0L, 99L)
    } yield FR(e, day, v, 0L))
  } yield rows.zipWithIndex.map { case (r, i) => r.copy(k = (i * 7919L + salt) % 1009L) }

  private val genViewSpine: Gen[List[(Int, Option[Int], Long)]] = for {
    rows <- Gen.nonEmptyListOf(for {
      e <- Gen.choose(1, 5) // 5 is in no table
      day <- Gen.frequency(9 -> Gen.choose(1, 28).map(Option(_)), 1 -> Gen.const(None))
      tag <- Gen.choose(0L, 3L)
    } yield (e, day, tag))
  } yield rows :+ rows.head // a duplicate spine row, always

  property("n-table view equals per-spine-row model") = forAllNoShrink(
    genTable(0L), genTable(311L), genTable(577L), genViewSpine) { (ra, rb, rc, spine) =>
    val s = spark
    import s.implicits._
    def tsOf(d: Option[Int]) = d.map(ts).orNull
    // a and b key on int entities, c on long ones: two runs
    val a = ra.map(r => (r.e, tsOf(r.day), r.v, r.k)).toDF("entity_id", "timestamp", "v", "seq")
    val b = rb.map(r => (r.e, tsOf(r.day), s"w${r.v}", r.k)).toDF("entity_id", "timestamp", "w", "k")
    val c = rc.map(r => (r.e.toLong, tsOf(r.day), r.v, r.k)).toDF("entity_id", "timestamp", "x", "seq")
    val spineDf = spine.map { case (e, d, tag) => (e.toLong, tsOf(d), tag) }
      .toDF("entity_id", "timestamp", "tag")
    val views = Seq(ViewTable(a, "a_", Seq("seq")), ViewTable(b, "b_", Seq("k")),
      ViewTable(c, "c_", Seq("seq")))
    val got = PointInTime.asOfJoinLeftAll(spineDf, views)
    val chained = views.foldLeft(spineDf)((acc, v) =>
      PointInTime.asOfJoinLeft(acc, v.table, v.prefix, tieBreakCols = v.tieBreakCols))
    def rowsOf(df: DataFrame) = df.collect().toList
      .map(_.toSeq.map(v => Option(v).map(_.toString))).sortBy(_.toString)
    def best(rows: List[FR], e: Int, d: Option[Int]) = d.flatMap(dd =>
      rows.filter(r => r.e == e && r.day.exists(_ <= dd)).maxByOption(r => (r.day, r.k)))
    val want = spine.map { case (e, d, tag) =>
      val (ma, mb, mc) = (best(ra, e, d), best(rb, e, d), best(rc, e, d))
      Seq(Some(e), d.map(ts), Some(tag),
        ma.map(m => ts(m.day.get)), ma.map(_.v), ma.map(_.k),
        mb.map(m => ts(m.day.get)), mb.map(m => s"w${m.v}"), mb.map(_.k),
        mc.map(m => ts(m.day.get)), mc.map(_.v), mc.map(_.k))
        .map(_.map(_.toString))
    }.sortBy(_.toString)
    val gotRows = rowsOf(got)
    (gotRows == want) &&
      (got.schema.map(f => (f.name, f.dataType)) == chained.schema.map(f => (f.name, f.dataType))) &&
      (gotRows == rowsOf(chained))
  }
}
