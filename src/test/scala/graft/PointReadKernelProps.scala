package graft

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.store.FeatureStore

/** The two kernels of `get` and `getRecent` are one semantics: on the
  * same store and the same request, the driver kernel (the store's
  * segment files read on the driver, answered as a local relation) and
  * the Spark kernel (a lazy frame over the same pruned segments) return
  * the same schema and the same multiset of rows. The Spark kernel is
  * the oracle; the store's size rule is bypassed through the
  * package-private entry points, so both run on every input.
  *
  * Stores are random: one to three segments of rows from small domains
  * (duplicate `(entity, ts)` rows and exact duplicate rows are common),
  * null entity keys, a `LONG` or a `DOUBLE` key whose values include
  * NaN, -0.0 and 0.0, decimal, `timestamp_ntz`, array and struct
  * feature columns with nulls inside, an optional last segment that
  * adds a column by schema evolution (earlier segments read it as a
  * typed null), null timestamps among dated ones (their rows land in the
  * default partition), and an optional segment whose timestamps are all
  * null. Requests vary the id list
  * (unknown ids, a null id, an empty list, ids given as `Int` for a
  * `LONG` key, lists long enough that Spark turns `IN` into a hash set),
  * the cutoff, `columns` and `k`.
  *
  * Rows tied on `(timestamp, _ingest_key)` may surface in either order
  * in both kernels; the ingest key hashes -0.0 as 0.0, so such rows can
  * differ only in the sign of a zero, and rows compare with -0.0 read
  * as 0.0.
  */
object PointReadKernelProps extends Properties("PointReadKernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestBase.session

  private val Day0 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private def day(d: Int): Timestamp =
    Timestamp.valueOf(Day0.plusDays(d.toLong))

  private val StructT = StructType(Seq(
    StructField("a", IntegerType), StructField("b", StringType)))
  private def schema(key: DataType, evolved: Boolean): StructType = StructType(Seq(
    StructField("entity_id", key),
    StructField("timestamp", TimestampType),
    StructField("dec", DecimalType(10, 2)),
    StructField("ntz", TimestampNTZType),
    StructField("arr", ArrayType(IntegerType)),
    StructField("st", StructT),
    StructField("v", DoubleType)) ++
    (if (evolved) Seq(StructField("extra", IntegerType)) else Nil))

  private val FeatureCols = Seq("dec", "ntz", "arr", "st", "v")

  private val longKeys: Seq[Any] = Seq(1L, 2L, 3L, 40L, null)
  private val doubleKeys: Seq[Any] = Seq(Double.NaN, -0.0, 0.0, 1.5, -2.0, null)
  private val doubles = Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5, -2.0)

  private case class Seg(rows: Seq[Row], nullTs: Boolean)
  private case class Req(ids: Seq[Any], cutoff: Int, columns: Option[Seq[String]], k: Int)
  private case class Case(doubleKey: Boolean, segs: Seq[Seg], evolved: Boolean, reqs: Seq[Req])

  private def genRow(keys: Seq[Any], nullTs: Boolean, evolved: Boolean): Gen[Row] =
    for {
      e <- Gen.oneOf(keys)
      // few distinct days: duplicate (entity, ts) rows are the rule; a
      // null day lands in the default partition next to dated ones
      d <- Gen.frequency(6 -> Gen.oneOf(0, 3, 20, 40, 60).map(Option(_)), 1 -> Gen.const(None))
      dec <- Gen.option(Gen.choose(-9999L, 9999L).map(c => new java.math.BigDecimal(c).movePointLeft(2)))
      ntz <- Gen.option(Gen.choose(0, 5).map(h => Day0.plusHours(h.toLong)))
      arr <- Gen.option(Gen.listOfN(2, Gen.option(Gen.choose(0, 3))))
      st <- Gen.option(Gen.zip(Gen.option(Gen.choose(0, 3)), Gen.option(Gen.oneOf("x", "y"))))
      v <- Gen.option(doubles)
      extra <- Gen.option(Gen.choose(0, 9))
    } yield Row.fromSeq(Seq(
      e, if (nullTs) null else d.map(day).orNull, dec.orNull, ntz.orNull,
      arr.map(_.map(_.map(Int.box).orNull)).orNull,
      st.map { case (a, b) => Row(a.map(Int.box).orNull, b.orNull) }.orNull,
      v.map(Double.box).orNull) ++ (if (evolved) Seq(extra.map(Int.box).orNull) else Nil))

  private def genReq(doubleKey: Boolean, keys: Seq[Any], evolved: Boolean): Gen[Req] =
    for {
      picked <- Gen.someOf(keys)
      unknown <- Gen.oneOf(Seq.empty[Any], Seq(if (doubleKey) 99.5 else 99L))
      many <- Gen.oneOf(false, false, true)
      asInt <- Gen.oneOf(false, !doubleKey)
      empty <- Gen.oneOf(false, false, false, true)
      cutoff <- Gen.oneOf(-1, 10, 30, 55, 200)
      cols <- Gen.option(Gen.atLeastOne(
        if (evolved) FeatureCols :+ "extra" else FeatureCols).map(_.toSeq))
      k <- Gen.choose(1, 3)
    } yield {
      // past ten ids the optimizer answers IN with a hash set
      val padding = if (many) (100 until 112).map(i => if (doubleKey) i + 0.5 else i.toLong) else Nil
      val ids = if (empty) Nil else picked.toSeq ++ unknown ++ padding
      Req(if (asInt) ids.map { case l: Long => l.toInt; case o => o } else ids, cutoff, cols, k)
    }

  private val genCase: Gen[Case] =
    for {
      doubleKey <- Gen.oneOf(false, true)
      keys = if (doubleKey) doubleKeys else longKeys
      nSegs <- Gen.choose(1, 3)
      evolved <- Gen.oneOf(false, true)
      nullTsAt <- Gen.option(Gen.choose(1, nSegs))
      segs <- Gen.sequence[Seq[Seg], Seg]((0 until nSegs).map { i =>
        val nullTs = nullTsAt.contains(i) && i > 0
        Gen.choose(1, 20).flatMap(n =>
          Gen.listOfN(n, genRow(keys, nullTs, evolved && i == nSegs - 1 && i > 0)))
          .map(Seg(_, nullTs))
      })
      reqs <- Gen.listOfN(4, genReq(doubleKey, keys, evolved && nSegs > 1))
    } yield Case(doubleKey, segs, evolved && nSegs > 1, reqs)

  /** A row as a string, -0.0 read as 0.0 at every depth. */
  private def canon(v: Any): String = v match {
    case d: Double if d == 0.0 => "0.0"
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("<", ",", ">")
    case null => "null"
    case o => o.toString
  }

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(canon).groupBy(identity).map { case (k, v) => k -> v.size }

  private def same(what: String, spark: DataFrame, driver: DataFrame) = {
    val (a, b) = (multiset(spark), multiset(driver))
    (spark.schema == driver.schema) :| s"$what schema: ${spark.schema.simpleString} vs ${driver.schema.simpleString}" &&
      (a == b) :| s"$what rows: spark $a driver $b"
  }

  private val counter = new java.util.concurrent.atomic.AtomicInteger

  property("driver kernel == Spark kernel (get and getRecent, rows and schema)") =
    forAllNoShrink(genCase) { c =>
      val store = new FeatureStore(spark,
        java.nio.file.Files.createTempDirectory("graft_point_kernels").toString)
      val name = s"t${counter.incrementAndGet()}"
      val key = if (c.doubleKey) DoubleType else LongType
      c.segs.zipWithIndex.foreach { case (seg, i) =>
        val evolvedSeg = c.evolved && i == c.segs.size - 1
        val df = spark.createDataFrame(
          java.util.Arrays.asList(seg.rows: _*), schema(key, evolvedSeg))
        if (i == 0) store.register(name, df)
        else store.registerAppend(name, df, maxSegments = 10, mergeSchema = evolvedSeg)
      }
      c.reqs.map { r =>
        val at = day(r.cutoff)
        val label = s"ids=${r.ids} cutoff=${r.cutoff} columns=${r.columns} k=${r.k}"
        same(s"get $label",
          store.getOnSpark(name, r.ids, at, r.columns),
          store.getOnDriver(name, r.ids, at, r.columns)) &&
          same(s"getRecent $label",
            store.getRecentOnSpark(name, r.ids, at, r.k),
            store.getRecentOnDriver(name, r.ids, at, r.k))
      }.reduce(_ && _)
    }
}
