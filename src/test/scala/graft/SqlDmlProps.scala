package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.store.{FeatureStore, FeatureValidationError}

/** Model-based MERGE INTO semantics: a random statement (random
  * target incl. duplicate-key siblings, random source incl. rows that
  * multi-match / miss / duplicate, random action set with row-level
  * conditions) against a tiny in-memory model of the SQL-standard
  * contract:
  *
  *   - a target ROW matched by >1 source row is a cardinality error
  *     IFF any WHEN MATCHED action exists; with insert-only /
  *     by-source-only actions multi-match is legal and the row rides
  *     through ONCE (the round-11 advisory bug class);
  *   - first-match-wins among a clause's actions, conditions evaluated
  *     per (target, source) pair;
  *   - NOT MATCHED BY SOURCE acts on target rows alone; NOT MATCHED
  *     inserts one row per unmatched SOURCE row;
  *   - duplicate-key sibling rows are independent ROWS: a statement
  *     touching one leaves the others exactly in place.
  *
  * The two inspection-found MERGE holes (r9: key-addressed updates
  * clobbering siblings; r10/r11: insert-only multi-match duplication)
  * would both have failed here — this pins the whole class.
  */
object SqlDmlProps extends Properties("SqlDmlMerge") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestBase.session

  private def t(d: String): Timestamp =
    FeatureStore.normalizeTimestamp(d)

  // target rows: (entity, ts, tag, v) — tag disambiguates duplicate-key
  // siblings; v is the numeric the actions mutate
  private type Row4 = (String, Timestamp, String, Long)

  private val days = Seq("2024-01-01", "2024-01-15", "2024-02-01")
  private val entities = Seq("e0", "e1", "e2")

  private val targetGen: Gen[List[Row4]] = for {
    n <- Gen.choose(2, 6)
    rows <- Gen.listOfN(n, for {
      e <- Gen.oneOf(entities)
      d <- Gen.oneOf(days)
      tag <- Gen.oneOf("a", "b", "c", "d")
      v <- Gen.choose(0L, 9L)
    } yield (e, t(d), tag, v))
  } yield rows.zipWithIndex // make tags unique per key so rows are
    .map { case ((e, ts, tg, v), i) => (e, ts, tg + i, v) } // addressable

  // source rows: (entity, ts, sv, op) — op drives action conditions
  private val sourceGen: Gen[List[(String, Timestamp, Long, String)]] = for {
    n <- Gen.choose(0, 5)
    rows <- Gen.listOfN(n, for {
      e <- Gen.oneOf(entities :+ "e9") // e9 never matches
      d <- Gen.oneOf(days :+ "2024-03-01")
      sv <- Gen.choose(10L, 99L)
      op <- Gen.oneOf("u", "d", "i")
    } yield (e, t(d), sv, op))
  } yield rows

  /** Action sets, as (SQL clause text, model semantics tag). */
  private case class Actions(
      matchedUpdate: Boolean, // WHEN MATCHED AND s.op='u' THEN UPDATE v = v + s.sv
      matchedDelete: Boolean, // WHEN MATCHED AND s.op='d' THEN DELETE
      insert: Boolean, // WHEN NOT MATCHED AND s.op='i' THEN INSERT
      bySourceDelete: Boolean) { // WHEN NOT MATCHED BY SOURCE AND v < 3 THEN DELETE
    def hasMatched: Boolean = matchedUpdate || matchedDelete
    def nonEmpty: Boolean = hasMatched || insert || bySourceDelete
  }

  private val actionsGen: Gen[Actions] = (for {
    mu <- Gen.oneOf(true, false)
    md <- Gen.oneOf(true, false)
    in <- Gen.oneOf(true, false)
    bs <- Gen.oneOf(true, false)
  } yield Actions(mu, md, in, bs)).suchThat(_.nonEmpty)

  private def mergeSql(cat: String, a: Actions): String = {
    val clauses = Seq(
      if (a.matchedUpdate)
        Some("WHEN MATCHED AND s.op = 'u' THEN UPDATE SET v = t.v + s.sv")
      else None,
      if (a.matchedDelete)
        Some("WHEN MATCHED AND s.op = 'd' THEN DELETE")
      else None,
      if (a.insert)
        Some("WHEN NOT MATCHED AND s.op = 'i' THEN " +
          "INSERT (entity_id, timestamp, tag, v) " +
          "VALUES (s.entity_id, s.timestamp, 'ins', s.sv)")
      else None,
      if (a.bySourceDelete)
        Some("WHEN NOT MATCHED BY SOURCE AND t.v < 3 THEN DELETE")
      else None).flatten
    s"""MERGE INTO $cat.feat t
       |USING graft_dmlprops_src s
       |ON t.entity_id = s.entity_id AND t.timestamp = s.timestamp
       |${clauses.mkString("\n")}""".stripMargin
  }

  private sealed trait Expected
  private case class Rows(rows: List[Row4]) extends Expected
  private case object CardinalityError extends Expected
  // a MERGE whose net effect removes EVERY row is rejected by the
  // store's non-empty-table invariant (same contract deleteRows pins:
  // "removing every row is rejected — use delete(name)")
  private case object EmptiesTableError extends Expected

  /** The model: expected final multiset of rows, or the expected
    * loud rejection.
    */
  private def model(
      target: List[Row4],
      source: List[(String, Timestamp, Long, String)],
      a: Actions): Expected = {
    def matches(tr: Row4, sr: (String, Timestamp, Long, String)) =
      tr._1 == sr._1 && tr._2 == sr._2
    val perRow = target.map(tr => tr -> source.filter(sr => matches(tr, sr)))
    if (a.hasMatched && perRow.exists(_._2.size > 1)) return CardinalityError
    val kept = perRow.flatMap { case (tr, srcs) =>
      if (srcs.isEmpty) {
        // NOT MATCHED BY SOURCE
        if (a.bySourceDelete && tr._4 < 3) Nil else List(tr)
      } else if (!a.hasMatched) List(tr) // matched, no matched action
      else {
        val s0 = srcs.head // exactly one (guard above)
        // first-match-wins in clause order: update before delete
        if (a.matchedUpdate && s0._4 == "u")
          List((tr._1, tr._2, tr._3, tr._4 + s0._3))
        else if (a.matchedDelete && s0._4 == "d") Nil
        else List(tr)
      }
    }
    val inserted =
      if (!a.insert) Nil
      else source
        .filterNot(sr => target.exists(tr => matches(tr, sr)))
        .filter(_._4 == "i")
        .map(sr => (sr._1, sr._2, "ins", sr._3))
    val fin = kept ++ inserted
    if (fin.isEmpty) EmptiesTableError else Rows(fin)
  }

  private def canon(rows: Seq[Row4]): Seq[String] =
    rows.map(r => s"${r._1}|${r._2}|${r._3}|${r._4}").sorted

  // ---------------------------------------------- UPDATE / DELETE

  private sealed trait Stmt
  private case class UpdateV(add: Long, pred: Pred) extends Stmt
  private case class Rekey(to: String, pred: Pred) extends Stmt
  private case class Delete(pred: Pred) extends Stmt

  private sealed trait Pred { def sql: String; def apply(r: Row4): Boolean }
  private case class EntityIs(e: String) extends Pred {
    def sql = s"entity_id = '$e'"
    def apply(r: Row4): Boolean = r._1 == e
  }
  private case class VBelow(c: Long) extends Pred {
    def sql = s"v < $c"
    def apply(r: Row4): Boolean = r._4 < c
  }
  private case class TsAtMost(d: String) extends Pred {
    def sql = s"timestamp <= TIMESTAMP'$d 00:00:00'"
    def apply(r: Row4): Boolean = !r._2.after(t(d))
  }
  private case class AndP(l: Pred, r: Pred) extends Pred {
    def sql = s"(${l.sql} AND ${r.sql})"
    def apply(x: Row4): Boolean = l(x) && r(x)
  }

  private val predGen: Gen[Pred] = {
    val leaf: Gen[Pred] = Gen.oneOf(
      Gen.oneOf(entities :+ "e9").map(EntityIs),
      Gen.choose(0L, 11L).map(VBelow),
      Gen.oneOf(days).map(TsAtMost))
    Gen.frequency(3 -> leaf,
      1 -> (for { l <- leaf; r <- leaf } yield AndP(l, r)))
  }

  private val stmtGen: Gen[Stmt] = Gen.oneOf(
    for { c <- Gen.choose(1L, 50L); p <- predGen } yield UpdateV(c, p),
    for { e <- Gen.oneOf("e7", "e0"); p <- predGen } yield Rekey(e, p),
    predGen.map(Delete))

  private def stmtSql(cat: String, st: Stmt): String = st match {
    case UpdateV(add, p) =>
      s"UPDATE $cat.feat SET v = v + $add WHERE ${p.sql}"
    case Rekey(to, p) =>
      s"UPDATE $cat.feat SET entity_id = '$to' WHERE ${p.sql}"
    case Delete(p) => s"DELETE FROM $cat.feat WHERE ${p.sql}"
  }

  private def stmtModel(target: List[Row4], st: Stmt): Expected = {
    val fin = st match {
      case UpdateV(add, p) =>
        target.map(r => if (p(r)) (r._1, r._2, r._3, r._4 + add) else r)
      case Rekey(to, p) =>
        target.map(r => if (p(r)) (to, r._2, r._3, r._4) else r)
      case Delete(p) => target.filterNot(p(_))
    }
    if (fin.isEmpty) EmptiesTableError else Rows(fin)
  }

  property("UPDATE / DELETE ≡ row-addressed model") =
    forAllNoShrink(targetGen, stmtGen) { (target, st) =>
      val s = spark
      import s.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_dmlprops_ud").toString
      val cat = "gdu_" + java.security.MessageDigest.getInstance("MD5")
        .digest(root.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
      s.conf.set(
        s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val store = new FeatureStore(s, root)
      store.register("feat",
        target.toDF("entity_id", "timestamp", "tag", "v"))
      def current: Seq[Row4] = {
        store.refresh()
        store.getVersion("feat", store.getTableInfo("feat").version)
          .collect()
          .map(r => (r.getString(0), r.getTimestamp(1),
            r.getString(2), r.getLong(3)))
          .toSeq
      }
      (stmtModel(target, st), scala.util.Try(s.sql(stmtSql(cat, st)))) match {
        case (EmptiesTableError, scala.util.Failure(e: FeatureValidationError)) =>
          (e.getMessage.contains("every row") :| s"wrong error: $e") &&
            ((canon(current) == canon(target)) :|
              "failed statement mutated the table")
        case (EmptiesTableError, other) =>
          false :| s"expected every-row rejection, got $other " +
            s"(target=$target st=$st)"
        case (Rows(exp), scala.util.Success(_)) =>
          (canon(current) == canon(exp)) :|
            s"target=$target\nstmt=${stmtSql(cat, st)}\n" +
              s"expected=${canon(exp)}\ngot=${canon(current)}"
        case (Rows(_), scala.util.Failure(e)) =>
          false :| s"unexpected failure: $e (target=$target st=$st)"
        case (CardinalityError, _) =>
          false :| "unreachable: UPDATE/DELETE has no cardinality guard"
      }
    }

  property("MERGE ≡ row-addressed SQL-standard model") =
    forAllNoShrink(targetGen, sourceGen, actionsGen) { (target, source, a) =>
      val s = spark
      import s.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_dmlprops").toString
      val cat = "gdp_" + java.security.MessageDigest.getInstance("MD5")
        .digest(root.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
      s.conf.set(
        s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val store = new FeatureStore(s, root)
      store.register("feat",
        target.toDF("entity_id", "timestamp", "tag", "v"))
      source.toDF("entity_id", "timestamp", "sv", "op")
        .createOrReplaceTempView("graft_dmlprops_src")
      val expected = model(target, source, a)
      val outcome = scala.util.Try(s.sql(mergeSql(cat, a)))
      def unchanged: Boolean = {
        store.refresh()
        val got = store
          .getVersion("feat", store.getTableInfo("feat").version)
          .collect()
          .map(r => (r.getString(0), r.getTimestamp(1),
            r.getString(2), r.getLong(3)))
          .toSeq
        canon(got) == canon(target)
      }
      (expected, outcome) match {
        case (CardinalityError, scala.util.Failure(e: FeatureValidationError)) =>
          (e.getMessage.contains("more than once") :| s"wrong error: $e") &&
            (unchanged :| "failed MERGE mutated the table")
        case (EmptiesTableError, scala.util.Failure(e: FeatureValidationError)) =>
          (e.getMessage.contains("every row") :| s"wrong error: $e") &&
            (unchanged :| "failed MERGE mutated the table")
        case (CardinalityError | EmptiesTableError, other) =>
          false :| s"expected $expected, got $other " +
            s"(target=$target source=$source a=$a)"
        case (Rows(exp), scala.util.Success(_)) =>
          store.refresh()
          val got = store
            .getVersion("feat", store.getTableInfo("feat").version)
            .collect()
            .map(r => (r.getString(0), r.getTimestamp(1),
              r.getString(2), r.getLong(3)))
            .toSeq
          (canon(got) == canon(exp)) :|
            s"target=$target\nsource=$source\nactions=$a\n" +
              s"expected=${canon(exp)}\ngot=${canon(got)}"
        case (Rows(_), scala.util.Failure(e)) =>
          false :| s"unexpected failure: $e (target=$target " +
            s"source=$source a=$a)"
      }
    }
}
