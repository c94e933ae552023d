package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.store.{CatalogPersistence, FeatureStore, TableMeta}
import graft.store.FeatureStore.MutationKernel

/** The two classification kernels of the key-addressed mutations are
  * one semantics: on two copies of the same random store, an upsert,
  * rewrite or delete by keys classified on Spark (the oracle) and on
  * the driver leaves equal tables (row multisets, `_ingest_key`
  * included), equal recorded change data, equal catalog records (row
  * counts, per-segment rows, manifests, column stats, recorded change
  * counts) and the same version directories, or fails with the same
  * error. The size rule is bypassed through the package-private entry
  * points, so both kernels run on every input.
  *
  * Stores have one to three segments over small key domains, so deltas
  * and key sets hit existing rows and repeat keys. Entity keys are
  * `LONG` or `DOUBLE` (NaN, -0.0 and 0.0 among them) and may be null;
  * timestamps may be null; the double and array-of-double feature
  * columns carry NaN, -0.0 and 0.0. The last segment may add a column by
  * schema evolution, and the table may carry a CHECK constraint that a
  * delta violates. Deletes take random keys, every key of the table (the
  * rejected delete-all), every key of one segment (a wholly matched
  * segment) or keys matching nothing. Key frames whose entity type
  * differs from the table's must take the Spark kernel under both.
  */
object MutationKernelProps extends Properties("MutationKernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkTestBase.session

  private val Name = "t"
  private val Day0 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private def day(d: Int): Timestamp = Timestamp.valueOf(Day0.plusDays(d.toLong))

  private def schema(key: DataType, evolved: Boolean): StructType = StructType(Seq(
    StructField("entity_id", key),
    StructField("timestamp", TimestampType),
    StructField("v", DoubleType),
    StructField("s", StringType),
    StructField("arr", ArrayType(DoubleType))) ++
    (if (evolved) Seq(StructField("extra", IntegerType)) else Nil))

  private def keySchema(key: DataType): StructType = StructType(Seq(
    StructField("entity_id", key), StructField("timestamp", TimestampType)))

  private val longKeys: Seq[Any] = Seq(1L, 2L, 3L, null)
  private val doubleKeys: Seq[Any] = Seq(Double.NaN, -0.0, 0.0, 1.5, null)
  private val doubles = Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5)

  private case class Base(doubleKey: Boolean, segs: Seq[Seq[Row]], evolved: Boolean, check: Boolean) {
    def key: DataType = if (doubleKey) DoubleType else LongType
    def keys: Seq[Any] = if (doubleKey) doubleKeys else longKeys
    def rowKeys: Seq[Row] = segs.flatten.map(r => Row(r.get(0), r.get(1)))
  }

  /** A row of segment `seg`: its days are the segment's own, so a key
    * of one segment matches another only through a null timestamp.
    */
  private def genRow(keys: Seq[Any], seg: Int, evolved: Boolean, bad: Boolean): Gen[Row] =
    for {
      e <- Gen.oneOf(keys)
      d <- Gen.frequency(8 -> Gen.oneOf(0, 3, 20).map(x => Option(seg * 40 + x)),
        1 -> Gen.const(None))
      v <- Gen.option(doubles)
      s <- Gen.option(Gen.frequency(4 -> "a", 4 -> "b", (if (bad) 1 else 0) -> "bad"))
      arr <- Gen.option(Gen.listOfN(2, Gen.option(doubles)))
      extra <- Gen.option(Gen.choose(0, 9))
    } yield Row.fromSeq(Seq(e, d.map(day).orNull, v.map(Double.box).orNull, s.orNull,
      arr.map(_.map(_.map(Double.box).orNull)).orNull) ++
      (if (evolved) Seq(extra.map(Int.box).orNull) else Nil))

  private def genKey(b: Base): Gen[Row] =
    Gen.frequency(
      3 -> Gen.oneOf(b.rowKeys),
      1 -> (for {
        e <- Gen.oneOf(b.keys)
        d <- Gen.option(Gen.oneOf(0, 3, 20, 40, 43, 83, 300))
      } yield Row(e, d.map(day).orNull)))

  private val genBase: Gen[Base] =
    for {
      doubleKey <- Gen.oneOf(false, true)
      nSegs <- Gen.choose(1, 3)
      evolved <- Gen.oneOf(false, true)
      check <- Gen.oneOf(false, true)
      segs <- Gen.sequence[Seq[Seq[Row]], Seq[Row]]((0 until nSegs).map { i =>
        Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, genRow(
          if (doubleKey) doubleKeys else longKeys, i, evolved && nSegs > 1 && i == nSegs - 1,
          bad = false)))
      })
    } yield Base(doubleKey, segs, evolved && nSegs > 1, check)

  private def frame(rows: Seq[Row], s: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)

  private def build(b: Base): FeatureStore = {
    val store = new FeatureStore(spark,
      Files.createTempDirectory("graft_mutation_kernels").toString)
    b.segs.zipWithIndex.foreach { case (rows, i) =>
      val evolvedSeg = b.evolved && i == b.segs.size - 1
      val df = frame(rows, schema(b.key, evolvedSeg))
      if (i == 0) store.register(Name, df)
      else store.registerAppend(Name, df, maxSegments = 10, mergeSchema = evolvedSeg)
    }
    if (b.check) store.addConstraint(Name, "no_bad", "s IS NULL OR s <> 'bad'")
    store
  }

  /** A value as a string; with `signless`, -0.0 reads as 0.0 at every depth. */
  private def canon(v: Any, signless: Boolean = false): String = v match {
    case d: Double if signless && d == 0.0 => "0.0"
    case r: Row => r.toSeq.map(canon(_, signless)).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canon(_, signless)).mkString("<", ",", ">")
    case null => "null"
    case o => o.toString
  }

  private def multiset(rows: Seq[Row]): Map[String, Int] =
    rows.map(canon(_)).groupBy(identity).map { case (k, v) => k -> v.size }

  private def meta(store: FeatureStore): TableMeta =
    CatalogPersistence.load(store.rootPath).find(_.name == Name).get

  /** The current table, read from its segment files with the ingest key. */
  private def tableRows(store: FeatureStore, m: TableMeta): Map[String, Int] = {
    val cols = m.columns :+ "_ingest_key"
    multiset(m.segmentsOf(m.version).flatMap { s =>
      val df = spark.read.parquet(s"${store.rootPath}/$Name/v=$s")
      cols.foldLeft(df)((d, c) => if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
        .select(cols.map(col): _*).collect().toSeq
    })
  }

  /** What the catalog records, commit times aside. A column's min or max
    * of -0.0 and 0.0 is whichever the write met first, so stats compare
    * with -0.0 read as 0.0.
    */
  private def record(m: TableMeta): Seq[Any] = Seq(
    m.version, m.rowCount, m.columns, m.segmentsOf(m.version), m.segRows,
    m.segColStats.map { case (s, cs) => s -> cs.map { case (c, st) =>
      c -> st.copy(min = st.min.map(_.replace("-0.0", "0.0")),
        max = st.max.map(_.replace("-0.0", "0.0")))
    } },
    m.versionCdf, m.versionRows, m.versionOps, m.columnTypes, m.constraints)

  private def dirs(store: FeatureStore): Seq[String] = {
    def list(p: Path): Seq[String] =
      if (Files.isDirectory(p)) Files.list(p).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v=")).toSeq.sorted
      else Nil
    val t = Paths.get(store.rootPath, Name)
    list(t) ++ list(t.resolve("_cdf")).map("_cdf/" + _)
  }

  /** Run `op` on two copies of `b`, through the Spark kernel on one and
    * the driver kernel on the other, and compare everything it left.
    */
  private def sameOutcome(label: String, b: Base)(
      op: (FeatureStore, MutationKernel) => Any): Prop = {
    val (a, d) = (build(b), build(b))
    val before = meta(a).version
    def error(r: Try[Any]) = r.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
    val (ea, ed) = (error(Try(op(a, MutationKernel.OnSpark))), error(Try(op(d, MutationKernel.OnDriver))))
    val (ma, md) = (meta(a), meta(d))
    def changes(s: FeatureStore) =
      if (ma.version > before) multiset(s.getChanges(Name, before, ma.version).collect().toSeq)
      else Map.empty[String, Int]
    (ea == ed) :| s"$label errors: spark $ea driver $ed" &&
      (record(ma) == record(md)) :| s"$label catalog: spark ${record(ma)} driver ${record(md)}" &&
      (tableRows(a, ma) == tableRows(d, md)) :|
        s"$label rows: spark ${tableRows(a, ma)} driver ${tableRows(d, md)}" &&
      (dirs(a) == dirs(d)) :| s"$label directories: spark ${dirs(a)} driver ${dirs(d)}" &&
      (changes(a) == changes(d)) :| s"$label changes: spark ${changes(a)} driver ${changes(d)}"
  }

  private val genUpsert: Gen[(Base, Seq[Row], Option[Seq[Row]])] =
    for {
      b <- genBase
      n <- Gen.frequency(12 -> Gen.choose(1, 8), 1 -> Gen.const(0))
      delta <- Gen.listOfN(n, Gen.choose(0, b.segs.size).flatMap(i =>
        genRow(b.keys, i, b.evolved, bad = b.check)))
      drops <- Gen.option(Gen.choose(1, 4).flatMap(Gen.listOfN(_, genKey(b))))
    } yield (b, delta, drops)

  property("upserts and rewrites: driver kernel == Spark kernel") =
    forAllNoShrink(genUpsert) { case (b, delta, drops) =>
      val df = frame(delta, schema(b.key, b.evolved))
      sameOutcome(s"delta=$delta drops=$drops base=$b", b) { (s, k) =>
        drops match {
          case None => s.registerUpsertOn(k, Name, df)
          case Some(ks) => s.registerRewriteOn(k, Name, df, frame(ks, keySchema(b.key)))
        }
      }
    }

  private val genDelete: Gen[(Base, Seq[Row])] =
    for {
      b <- genBase
      keys <- Gen.frequency(
        4 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, genKey(b))),
        1 -> Gen.const(b.rowKeys),
        2 -> Gen.oneOf(b.segs).map(_.map(r => Row(r.get(0), r.get(1)))),
        1 -> Gen.const(Seq(Row(b.keys.head, day(300)))))
    } yield (b, keys)

  property("deletes by keys: driver kernel == Spark kernel") =
    forAllNoShrink(genDelete) { case (b, keys) =>
      val kf = frame(keys, keySchema(b.key))
      sameOutcome(s"keys=$keys base=$b", b)((s, k) => s.deleteRowsByKeysOn(k, Name, kf))
    }

  property("key frames of another entity type take the Spark kernel under both") =
    forAllNoShrink(genBase.filter(!_.doubleKey), Gen.oneOf(false, true)) { (b, rewrite) =>
      // INT keys on a LONG table: matched through Spark's coercion
      val ints = b.rowKeys.take(3).map(r =>
        Row(Option(r.get(0)).map(_.asInstanceOf[Long].toInt).map(Int.box).orNull, r.get(1)))
      val kf = frame(ints, keySchema(IntegerType))
      val delta = frame(b.segs.head.take(1), schema(b.key, evolved = false))
      sameOutcome(s"rewrite=$rewrite keys=$ints base=$b", b) { (s, k) =>
        if (rewrite && !b.evolved) s.registerRewriteOn(k, Name, delta, kf)
        else s.deleteRowsByKeysOn(k, Name, kf)
      }
    }
}
