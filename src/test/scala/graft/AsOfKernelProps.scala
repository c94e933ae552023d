package graft

import java.sql.{Date, Timestamp}
import java.time.{LocalDateTime, ZoneOffset}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.store.FeatureStore

/** The two kernels of `getTrainingSet` and `getFeatureView` are one
  * semantics: on the same store and spine, the driver kernel (each
  * table read once on the driver, answered as a local relation) and the
  * Spark kernel (one tagged union, one shuffle, one sort) return the
  * same schema (names, types, nullability) and the same multiset of
  * rows, or fail with the same error. The Spark kernel is the oracle;
  * the store's size rule is bypassed through the package-private entry
  * points, so both run on every input.
  *
  * Stores hold one to three tables of one to three segments each, from
  * small key domains, so duplicate `(entity, ts)` rows (decided by
  * `_ingest_key`) and exact duplicate rows are common. Entities are
  * `LONG`, `DOUBLE` (NaN, -0.0 and 0.0 among them) or `STRING`, and may
  * be null; timestamps may be null. A view may mix `LONG` and `DOUBLE`
  * tables, which breaks it into several passes. Feature columns are
  * decimal, string, array, struct and double, with nulls inside; the
  * last segment of a table may add a column by schema evolution, which
  * the earlier segments read as a typed null. Spines are `INT`, `LONG`,
  * `DOUBLE` or `STRING` keyed (an `INT` spine against `LONG` tables
  * among them), carry `timestamp`, `timestamp_ntz`, `date` or numeric
  * (epoch seconds) ts, duplicate rows, null entities and null ts, and
  * may carry extra columns and match nothing at all. Requests vary
  * `columns` and `maxAgeSeconds`, and some are invalid (an empty spine,
  * a spine without its ts column, an unknown column, a negative age).
  * Inputs come in a small and a medium size.
  *
  * Spine keys are generated so that casting them to the tables' types
  * cannot fail: a cast that fails sends the call to the Spark kernel,
  * which raises the error itself. Rows tied on `(ts, _ingest_key)` may
  * surface in either order in both kernels; the ingest key hashes -0.0
  * as 0.0, so such rows can differ only in the sign of a zero, and rows
  * compare with -0.0 read as 0.0.
  */
object AsOfKernelProps extends Properties("AsOfKernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(14)

  private lazy val spark = SparkTestBase.session

  private val Day0 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private def day(d: Int): Timestamp = Timestamp.valueOf(Day0.plusDays(d.toLong))

  private val StructT = StructType(Seq(
    StructField("a", IntegerType), StructField("b", StringType)))
  private def tableSchema(key: DataType, evolved: Boolean): StructType = StructType(Seq(
    StructField("entity_id", key),
    StructField("timestamp", TimestampType),
    StructField("dec", DecimalType(10, 2)),
    StructField("s", StringType),
    StructField("arr", ArrayType(IntegerType)),
    StructField("st", StructT),
    StructField("v", DoubleType)) ++
    (if (evolved) Seq(StructField("extra", IntegerType)) else Nil))
  private val FeatureCols = Seq("dec", "s", "arr", "st", "v")

  /** The key family of a store: its tables' entity types and the
    * spine types that cast into all of them without failing.
    */
  private sealed trait Family
  private case object Numeric extends Family
  private case object Strings extends Family

  private def keysOf(t: DataType, medium: Boolean): Seq[Any] = {
    val wide = if (medium) (10 until 40).map(_.toLong) else Nil
    t match {
      case LongType => Seq[Any](1L, 2L, 3L, null) ++ wide
      case DoubleType => Seq[Any](Double.NaN, -0.0, 0.0, 1.0, 1.5, null) ++ wide.map(_.toDouble)
      case IntegerType => Seq[Any](0, 1, 2, 3, 7, null) ++ wide.map(_.toInt)
      case _ => Seq[Any]("a", "b", "c", null) ++ wide.map(i => s"k$i")
    }
  }

  private case class Table(name: String, key: DataType, segs: Seq[Seq[Row]], evolved: Boolean)
  private case class Spine(key: DataType, ts: DataType, extras: Boolean, rows: Seq[Row])
  private case class Req(
      table: String, columns: Option[Seq[String]], maxAge: Option[Long], view: Seq[String])
  private case class Case(tables: Seq[Table], spine: Spine, reqs: Seq[Req], broken: Option[String])

  private val tsDays = Seq(0, 3, 20, 40, 60)

  private def genRow(keys: Seq[Any], evolved: Boolean): Gen[Row] =
    for {
      e <- Gen.oneOf(keys)
      d <- Gen.frequency(8 -> Gen.oneOf(tsDays).map(Option(_)), 1 -> Gen.const(None))
      dec <- Gen.option(Gen.choose(-9999L, 9999L).map(c => new java.math.BigDecimal(c).movePointLeft(2)))
      s <- Gen.option(Gen.oneOf("x", "y", ""))
      arr <- Gen.option(Gen.listOfN(2, Gen.option(Gen.choose(0, 3))))
      st <- Gen.option(Gen.zip(Gen.option(Gen.choose(0, 3)), Gen.option(Gen.oneOf("p", "q"))))
      v <- Gen.option(Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5))
      extra <- Gen.option(Gen.choose(0, 9))
    } yield Row.fromSeq(Seq(
      e, d.map(day).orNull, dec.orNull, s.orNull,
      arr.map(_.map(_.map(Int.box).orNull)).orNull,
      st.map { case (a, b) => Row(a.map(Int.box).orNull, b.orNull) }.orNull,
      v.map(Double.box).orNull) ++ (if (evolved) Seq(extra.map(Int.box).orNull) else Nil))

  private def genTable(name: String, key: DataType, medium: Boolean): Gen[Table] =
    for {
      nSegs <- Gen.choose(1, 3)
      evolved <- Gen.oneOf(false, nSegs > 1)
      segs <- Gen.sequence[Seq[Seq[Row]], Seq[Row]]((0 until nSegs).map { i =>
        val n = if (medium) Gen.choose(200, 1200) else Gen.choose(1, 20)
        n.flatMap(Gen.listOfN(_, genRow(keysOf(key, medium), evolved && i == nSegs - 1)))
      })
    } yield Table(name, key, segs, evolved)

  /** A spine ts of type `t` at day `d` plus `h` hours (null for None). */
  private def tsValue(t: DataType, d: Option[(Int, Int)]): Any = d.map { case (dd, h) =>
    val at = Day0.plusDays(dd.toLong).plusHours(h.toLong)
    t match {
      case TimestampType => Timestamp.valueOf(at)
      case TimestampNTZType => at
      case DateType => Date.valueOf(at.toLocalDate)
      case _ => at.toEpochSecond(ZoneOffset.UTC)
    }
  }.orNull

  private def genSpine(family: Family, keys: Seq[DataType], medium: Boolean): Gen[Spine] =
    for {
      key <- family match {
        case Strings => Gen.const(StringType)
        case Numeric if keys.forall(_ == DoubleType) => Gen.oneOf(DoubleType, LongType, IntegerType)
        case Numeric => Gen.oneOf(LongType, IntegerType)
      }
      ts <- Gen.oneOf(TimestampType, TimestampNTZType, DateType, LongType)
      extras <- Gen.oneOf(false, true)
      // a spine that matches nothing: every probe before the first row
      early <- Gen.frequency(6 -> false, 1 -> true)
      n <- if (medium) Gen.choose(100, 600) else Gen.choose(1, 20)
      rows <- Gen.listOfN(n, for {
        e <- Gen.oneOf(keysOf(key, medium))
        d <- Gen.frequency(8 -> Gen.zip(
          if (early) Gen.const(-5) else Gen.oneOf(-1, 0, 3, 10, 20, 45, 60, 200),
          Gen.oneOf(0, 0, 5)).map(Option(_)), 1 -> Gen.const(None))
        label <- Gen.option(Gen.choose(0, 1))
        note <- Gen.oneOf("n1", "n2")
      } yield Row.fromSeq(Seq(e, tsValue(ts, d)) ++
        (if (extras) Seq(label.map(Int.box).orNull, note) else Nil)))
      // duplicate spine rows
      dup <- Gen.choose(0, 2)
    } yield Spine(key, ts, extras, rows ++ rows.take(dup))

  private def genReq(tables: Seq[Table]): Gen[Req] =
    for {
      t <- Gen.oneOf(tables)
      cols <- Gen.frequency(
        6 -> Gen.const(None),
        6 -> Gen.atLeastOne(if (t.evolved) FeatureCols :+ "extra" else FeatureCols).map(c => Some(c.toSeq)),
        1 -> Gen.const(Some(Seq("v", "nope"))))
      age <- Gen.frequency(
        6 -> Gen.const(None),
        5 -> Gen.oneOf(0L, 3600L, 3L * 86400, 30L * 86400, 90L * 86400).map(Option(_)),
        1 -> Gen.const(Some(-1L)))
      view <- Gen.atLeastOne(tables.map(_.name)).flatMap(ns => Gen.pick(ns.size, ns.toSeq))
    } yield Req(t.name, cols, age, view.toSeq)

  private def genCase(medium: Boolean): Gen[Case] =
    for {
      family <- Gen.frequency(4 -> Numeric, 1 -> Strings)
      nTables <- Gen.choose(1, 3)
      keys <- Gen.listOfN(nTables, family match {
        case Numeric => Gen.oneOf(LongType, DoubleType)
        case Strings => Gen.const(StringType)
      })
      tables <- Gen.sequence[Seq[Table], Table](keys.zipWithIndex.map { case (k, i) =>
        genTable(s"t$i", k, medium) })
      spine <- genSpine(family, keys, medium)
      reqs <- Gen.listOfN(2, genReq(tables))
      broken <- Gen.frequency(14 -> None, 1 -> Some("empty"), 1 -> Some("no ts"))
    } yield Case(tables, spine, reqs, broken)

  /** A row as a string, -0.0 read as 0.0 at every depth. */
  private def canon(v: Any): String = v match {
    case d: Double if d == 0.0 => "0.0"
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("<", ",", ">")
    case null => "null"
    case o => o.toString
  }

  /** The call's schema and row multiset, or its error. */
  private def outcome(df: => DataFrame): Either[String, (StructType, Map[String, Int])] =
    Try {
      val d = df
      d.schema -> d.collect().toSeq.map(canon).groupBy(identity).map { case (k, v) => k -> v.size }
    }.toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")

  private def same(what: String, onSpark: => DataFrame, onDriver: => DataFrame) = {
    val (a, b) = (outcome(onSpark), outcome(onDriver))
    (a == b) :| s"$what:\n  spark  $a\n  driver $b"
  }

  private def spineFrame(s: Spine, broken: Option[String]): DataFrame = {
    val schema = StructType(Seq(StructField("entity_id", s.key), StructField("timestamp", s.ts)) ++
      (if (s.extras) Seq(StructField("label", IntegerType), StructField("note", StringType)) else Nil))
    val rows = if (broken.contains("empty")) Nil else s.rows
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    if (broken.contains("no ts")) df.drop("timestamp") else df
  }

  private val counter = new java.util.concurrent.atomic.AtomicInteger

  property("driver kernel == Spark kernel (getTrainingSet and getFeatureView)") =
    forAllNoShrink(Gen.frequency(3 -> genCase(medium = false), 1 -> genCase(medium = true))) { c =>
      val store = new FeatureStore(spark,
        java.nio.file.Files.createTempDirectory("graft_asof_kernels").toString)
      val n = counter.incrementAndGet()
      def named(t: String) = s"${t}_$n"
      c.tables.foreach { t =>
        t.segs.zipWithIndex.foreach { case (rows, i) =>
          val evolvedSeg = t.evolved && i == t.segs.size - 1
          val df = spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), tableSchema(t.key, evolvedSeg))
          if (i == 0) store.register(named(t.name), df)
          else store.registerAppend(named(t.name), df, maxSegments = 10, mergeSchema = evolvedSeg)
        }
      }
      val spine = spineFrame(c.spine, c.broken)
      val label = s"tables=${c.tables.map(t => s"${t.name}:${t.key.simpleString}x${t.segs.map(_.size)}")} " +
        s"spine=${c.spine.key.simpleString}/${c.spine.ts.simpleString}x${c.spine.rows.size} " +
        s"extras=${c.spine.extras} broken=${c.broken}"
      c.reqs.map { r =>
        val views = r.view.map(named)
        same(s"getTrainingSet $label table=${r.table} columns=${r.columns} maxAge=${r.maxAge}",
          store.getTrainingSetOnSpark(named(r.table), spine, r.columns, r.maxAge),
          store.getTrainingSetOnDriver(named(r.table), spine, r.columns, r.maxAge)) &&
          same(s"getFeatureView $label view=${r.view}",
            store.getFeatureViewOnSpark(spine, views),
            store.getFeatureViewOnDriver(spine, views))
      }.reduce(_ && _)
    }
}
