package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

import graft.store.FeatureStore

/** SOUNDNESS fuzz for column-stats data skipping: for random
  * multi-segment tables (mixed types, nulls, NaNs, unicode, duplicate
  * values) and random predicates (comparison / In / IsNull / And / Or
  * / Not / startsWith over random columns and literals — including
  * literals outside every range), the stats-pruned read
  * ([[FeatureStore.scanWhere]]) must return EXACTLY the rows of the
  * unpruned filter. Pruning is only allowed to be invisible; one
  * dropped row here means an unsound satisfiability rule.
  */
object ColumnStatsProps extends Properties("StatsPruning") with SparkTestBase {

  // one row: entity, ts, long, double, string, maybe-null double,
  // date, boolean — every comparator family StatsPruning implements
  private case class R(
      e: String, ts: Timestamp, l: Long, d: Double, s: String,
      n: Option[Double], dt: java.sql.Date, b: Boolean)

  private val genRow: Gen[R] = for {
    e <- Gen.oneOf("u1", "u2", "u3", "Ω-user", "zz")
    day <- Gen.choose(1, 28)
    month <- Gen.choose(1, 3)
    l <- Gen.oneOf(Gen.choose(-50L, 50L), Gen.oneOf(Long.MinValue / 2, 0L, 999999L))
    d <- Gen.oneOf(Gen.choose(-5.0, 5.0), Gen.oneOf(Double.NaN, -0.0, 1e12))
    s <- Gen.oneOf("alpha", "beta", "Ωmega", "", "zzz", "alp")
    n <- Gen.option(Gen.choose(-2.0, 2.0))
    dtDay <- Gen.choose(1, 28)
    b <- Gen.oneOf(true, false)
  } yield R(e, Timestamp.valueOf(f"2024-$month%02d-$day%02d 00:00:00"), l, d, s, n,
    java.sql.Date.valueOf(f"2023-$month%02d-$dtDay%02d"), b)

  private def toDF(rows: Seq[R]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.map(r => (r.e, r.ts, r.l, r.d, r.s, r.n, r.dt, r.b))
      .toDF("entity_id", "timestamp", "f_long", "f_double", "f_str",
        "f_null", "f_date", "f_bool")
  }

  // random predicate over the columns above
  private val genLeaf: Gen[Column] = {
    val longLit = Gen.oneOf(-60L, -1L, 0L, 7L, 49L, 1000000L, Long.MaxValue / 2)
    val dblLit = Gen.oneOf(-10.0, -0.0, 0.5, 4.9, 2e12, Double.NaN)
    val strLit = Gen.oneOf("alpha", "alp", "Ω", "z", "", "beta!", "~~~")
    val tsLit = Gen.oneOf("2023-12-31 00:00:00", "2024-01-15 00:00:00",
      "2024-02-28 00:00:00", "2024-06-01 00:00:00")
    Gen.oneOf[Gen[Column]](
      longLit.map(v => col("f_long") === v),
      longLit.map(v => col("f_long") > v),
      longLit.map(v => col("f_long") <= v),
      longLit.map(v => lit(v) >= col("f_long")),
      dblLit.map(v => col("f_double") === v),
      dblLit.map(v => col("f_double") < v),
      strLit.map(v => col("f_str") === v),
      strLit.map(v => col("f_str") > v),
      strLit.map(v => col("f_str").startsWith(v)),
      tsLit.map(v => col("timestamp") >= lit(Timestamp.valueOf(v))),
      tsLit.map(v => col("timestamp") < lit(Timestamp.valueOf(v))),
      Gen.listOfN(3, longLit).map(vs => col("f_long").isin(vs: _*)),
      Gen.const(col("f_null").isNull),
      Gen.const(col("f_null").isNotNull),
      Gen.const(col("f_null") > 0.0),
      Gen.const(col("entity_id") === "Ω-user"),
      Gen.oneOf("2022-12-31", "2023-02-14", "2023-03-28", "2024-01-01")
        .map(v => col("f_date") >= lit(java.sql.Date.valueOf(v))),
      Gen.oneOf("2022-12-31", "2023-02-14", "2024-01-01")
        .map(v => col("f_date") === lit(java.sql.Date.valueOf(v))),
      Gen.oneOf(true, false).map(v => col("f_bool") === v)
    ).flatMap(identity)
  }

  private def genPred(depth: Int): Gen[Column] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      3 -> genLeaf,
      2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => a && b },
      2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => a || b },
      1 -> genPred(depth - 1).map(!_))

  private val genCase: Gen[(Seq[R], Seq[R], Seq[R], List[Column])] = for {
    s1 <- Gen.nonEmptyListOf(genRow).map(_.take(8))
    s2 <- Gen.nonEmptyListOf(genRow).map(_.take(8))
    s3 <- Gen.nonEmptyListOf(genRow).map(_.take(8))
    preds <- Gen.listOfN(6, genPred(2))
  } yield (s1, s2, s3, preds)

  property("scanWhere(pred) rows == full filter rows, always") =
    forAllNoShrink(genCase) { case (s1, s2, s3, preds) =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_stats_props").toString
      val store = new FeatureStore(spark, root)
      store.register("t", toDF(s1))
      store.registerAppend("t", toDF(s2), maxSegments = 100)
      store.registerAppend("t", toDF(s3), maxSegments = 100)
      val full = store.getVersion("t", 3)
      preds.forall { p =>
        val pruned = store.scanWhere("t", p)
        val expect = full.filter(p)
        val extra = pruned.exceptAll(expect).count()
        val missing = expect.exceptAll(pruned).count()
        if (extra != 0 || missing != 0)
          throw new AssertionError(
            s"stats pruning changed results for predicate $p: " +
              s"$missing rows missing, $extra extra")
        true
      }
    }
}
