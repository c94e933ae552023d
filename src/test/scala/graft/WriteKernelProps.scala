package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}
import java.time.{LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.store.{CatalogPersistence, FeatureStore, Storage, TableMeta}

/** The driver write and the exchanged Spark write are one layout: on two
  * stores fed the same random frames, one writing small inputs on the
  * driver (the default) and one through a storage that sends every
  * segment write to the exchanged Spark write and reads segments with
  * Spark (the oracle), each commit leaves, per period directory, the
  * same rows in the same (entity, timestamp) order, the same parquet
  * footer schema, Spark metadata and permission bits, the same catalog
  * record (rows, timestamp range, column stats), the same memoized read
  * schema, or the same error. A storage-level property writes frames
  * with a map column too (the store's ingest key cannot hash maps) and
  * compares the `Observation`s on the input as well.
  *
  * A scenario registers a frame (possibly empty), may add a CHECK
  * constraint, appends a delta (possibly adding a column by schema
  * evolution, possibly violating the constraint), compacts, and appends
  * once more with auto-compaction. Frames carry nulls, NaN and -0.0,
  * decimals, `timestamp_ntz`, dates, strings over 96 characters, array,
  * struct and map columns, and null timestamps (the default partition),
  * over several months.
  */
object WriteKernelProps extends Properties("WriteKernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestBase.session

  private val Name = "t"

  private def schema(evolved: Boolean): StructType = StructType(Seq(
    StructField("entity_id", LongType),
    StructField("timestamp", TimestampType),
    StructField("d", DoubleType),
    StructField("dec", DecimalType(12, 3)),
    StructField("ntz", TimestampNTZType),
    StructField("day", DateType),
    StructField("txt", StringType),
    StructField("arr", ArrayType(DoubleType)),
    StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))))) ++
    (if (evolved) Seq(StructField("extra", IntegerType)) else Nil))

  /** With a map column, which a storage write takes and the store does
    * not (its ingest key hashes every column, and maps do not hash).
    */
  private val withMap = schema(false).add("m", MapType(StringType, IntegerType))

  private val doubles = Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5, -2.25)
  private val Day0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def genRow(evolved: Boolean): Gen[Row] =
    for {
      e <- Gen.option(Gen.choose(1L, 4L))
      t <- Gen.frequency(9 -> Gen.choose(0, 100).map(Option(_)), 1 -> Gen.const(None))
      d <- Gen.option(doubles)
      dec <- Gen.option(Gen.choose(-99999L, 99999L))
      ntz <- Gen.option(Gen.choose(0, 500))
      txt <- Gen.option(Gen.oneOf(Gen.const("a"), Gen.const("b" * 97), Gen.alphaStr.map(_.take(5))))
      arr <- Gen.option(Gen.listOfN(2, Gen.option(doubles)))
      st <- Gen.option(Gen.zip(Gen.option(Gen.choose(0, 9)), Gen.option(Gen.oneOf("x", "y"))))
      extra <- Gen.option(Gen.choose(0, 9))
    } yield Row.fromSeq(Seq(
      e.map(Long.box).orNull,
      t.map(h => Timestamp.valueOf(Day0.plusHours(h.toLong * 17))).orNull,
      d.map(Double.box).orNull,
      dec.map(x => java.math.BigDecimal.valueOf(x, 3)).orNull,
      ntz.map(h => Day0.plusHours(h.toLong)).orNull,
      ntz.map(h => Date.valueOf(LocalDate.of(2023, 6, 1).plusDays(h.toLong))).orNull,
      txt.orNull,
      arr.map(_.map(_.map(Double.box).orNull)).orNull,
      st.map { case (a, b) => Row(a.map(Int.box).orNull, b.orNull) }.orNull) ++
      (if (evolved) Seq(extra.map(Int.box).orNull) else Nil))

  private val genMapRow: Gen[Row] =
    for {
      r <- genRow(false)
      m <- Gen.option(Gen.mapOfN(2, Gen.zip(Gen.oneOf("k", "l"), Gen.choose(0, 9))))
    } yield Row.fromSeq(r.toSeq :+ m.orNull)

  private case class Scenario(
      base: Seq[Row], check: Option[String], evolved: Boolean, delta: Seq[Row], last: Seq[Row])

  private val genScenario: Gen[Scenario] =
    for {
      base <- Gen.frequency(1 -> Gen.const(Nil), 6 -> Gen.choose(1, 40).flatMap(Gen.listOfN(_, genRow(false))))
      check <- Gen.oneOf(None, Some("d IS NULL OR d < 1.0"), Some("entity_id IS NULL OR entity_id < 9"))
      evolved <- Gen.oneOf(false, true)
      delta <- Gen.choose(1, 30).flatMap(Gen.listOfN(_, genRow(evolved)))
      last <- Gen.choose(1, 20).flatMap(Gen.listOfN(_, genRow(evolved)))
    } yield Scenario(base, check, evolved, delta, last)

  /** Where `a` and `b` differ: the paths into sequences and maps that
    * lead to unequal values, with both values.
    */
  private def diff(a: Any, b: Any, at: String = ""): Seq[String] = (a, b) match {
    case _ if a == b => Nil
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      (x.keySet ++ y.keySet).toSeq.flatMap(k =>
        diff(x.asInstanceOf[scala.collection.Map[Any, Any]].get(k),
          y.asInstanceOf[scala.collection.Map[Any, Any]].get(k), s"$at/$k"))
    case (Some(x), Some(y)) => diff(x, y, at)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) if x.size == y.size =>
      x.indices.flatMap(i => diff(x(i), y(i), s"$at[$i]"))
    case _ => Seq(s"$at:\n   driver    $a\n   exchanged $b")
  }

  private def frame(rows: Seq[Row], s: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)

  private def canon(v: Any): String = v match {
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("<", ",", ">")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.mkString("{", ",", "}")
    case null => "null"
    case o => o.toString
  }

  private def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      finally walk.close()
    }

  /** Per partition directory of version `v`'s segment under `root`: its
    * data files' rows in file order as (entity, timestamp) keys and as a
    * multiset, and each file's footer schema, Spark metadata and
    * permission bits (and its directory's).
    */
  private def layout(root: String, v: Int): Map[String, (Seq[String], Seq[String], Seq[String])] = {
    val dir = Paths.get(root, Name, s"v=$v")
    files(dir).groupBy(p => dir.relativize(p.getParent).toString).map { case (part, fs) =>
      val conf = spark.sparkContext.hadoopConfiguration
      val footers = fs.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try {
          val meta = r.getFooter.getFileMetaData
          meta.getSchema.toString + meta.getKeyValueMetaData.asScala.toSeq.sorted.mkString(";") +
            java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) +
            java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(f.getParent))
        } finally r.close()
      }
      val rows = fs.flatMap(f => spark.read.parquet(f.toString).collect().toSeq)
      part -> (rows.map(r => canon(Row(r.get(0), r.get(1)))), rows.map(canon).sorted, footers)
    }
  }

  /** What the catalog records of the table, commit times aside; -0.0
    * and 0.0 bounds read alike (a column's min or max of the two is
    * whichever the write met first).
    */
  private def record(m: TableMeta): Seq[Any] = Seq(
    m.version, m.rowCount, m.columns, m.segmentsOf(m.version), m.segRows, m.segStats,
    m.segColStats.map { case (s, cs) => s -> cs.map { case (c, st) =>
      c -> st.copy(min = st.min.map(_.replace("-0.0", "0.0")),
        max = st.max.map(_.replace("-0.0", "0.0")))
    } },
    m.versionRows, m.versionOps, m.columnTypes, m.constraints)

  private def outcome(store: FeatureStore, r: Try[Any]): Seq[Any] = {
    val m = CatalogPersistence.loadTable(store.rootPath, Name)
    val v = m.map(_.version).getOrElse(0)
    Seq(r.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"),
      m.map(record), layout(store.rootPath, v),
      Storage.memoizedSchema(s"${store.rootPath}/$Name/v=$v"))
  }

  private def run(store: FeatureStore, sc: Scenario): Seq[Seq[Any]] = {
    val ops: Seq[FeatureStore => Any] = Seq(
      s => if (sc.base.isEmpty) s.registerEmpty(Name, frame(Nil, schema(false)))
           else s.register(Name, frame(sc.base, schema(false))),
      s => sc.check.foreach(c => s.addConstraint(Name, "c", c)),
      s => s.registerAppend(Name, frame(sc.delta, schema(sc.evolved)), maxSegments = 10,
        mergeSchema = sc.evolved),
      s => s.compact(Name),
      s => s.registerAppend(Name, frame(sc.last, schema(sc.evolved)), maxSegments = 1,
        mergeSchema = sc.evolved))
    ops.map(op => outcome(store, Try(op(store))))
  }

  property("storage: writeSmall == write, observations included") = forAllNoShrink(
      Gen.frequency(1 -> Gen.const(Nil), 5 -> Gen.choose(1, 40).flatMap(Gen.listOfN(_, genMapRow)))) {
    rows =>
      def written(small: Boolean): Seq[Any] = {
        val root = Files.createTempDirectory("graft_write_storage").toString
        val storage = new Storage(spark, root)
        val obs = org.apache.spark.sql.Observation()
        import org.apache.spark.sql.functions.{col, count, lit, when}
        val df = frame(rows, withMap).observe(obs, count(lit(1)).as("rows"),
          count(when(col("d") > 1.0, 1)).as("violations"))
        val wr = Try(
          if (small) storage.writeSmall(Name, 1, df, "entity_id", "timestamp")
          else storage.write(Name, 1, df, "entity_id", "timestamp"))
        Seq(wr.map(w => w.copy(colStats = w.colStats.map { case (c, st) =>
          c -> st.copy(min = st.min.map(_.replace("-0.0", "0.0")),
            max = st.max.map(_.replace("-0.0", "0.0")))
        })), layout(root, 1), if (wr.isSuccess) obs.get else Map.empty,
          Storage.memoizedSchema(storage.versionPath(Name, 1)))
      }
      val (d, x) = (written(small = true), written(small = false))
      (d == x) :| s"rows $rows: ${diff(d, x).mkString("\n")}"
  }

  property("store: driver write == exchanged Spark write") = forAllNoShrink(genScenario) { sc =>
    val onDriver = new FeatureStore(spark, Files.createTempDirectory("graft_write_driver").toString)
    // the seam's defaults send every segment write to the exchanged
    // Spark write and every segment read to Spark
    val exchanged = new FeatureStore(spark,
      Files.createTempDirectory("graft_write_exchanged").toString,
      storageFactory = new LogDecorator(_, _, _))
    val (d, x) = (run(onDriver, sc), run(exchanged, sc))
    val steps = Seq("register", "constraint", "append", "compact", "auto-compacting append")
    val success = Files.walk(Paths.get(onDriver.rootPath)).iterator().asScala
      .exists(_.getFileName.toString == "_SUCCESS")
    steps.indices.map { i =>
      (d(i) == x(i)) :| s"${steps(i)} of $sc: ${diff(d(i), x(i)).mkString("\n")}"
    }.reduce(_ && _) && (!success) :| "a driver write left a _SUCCESS file"
  }
}
