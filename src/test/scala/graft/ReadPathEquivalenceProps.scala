package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.store.FeatureStore

/** The two batch read surfaces are ONE read path: `USING graft` /
  * `format("graft")` resolves through the V1 relation
  * ([[graft.sources.GraftRelation]]) while catalog-qualified reads
  * resolve through the V2 scan ([[graft.sources.GraftBatchScan]]) —
  * both now delegate to the single shared
  * `GraftRelation.storeFrame` translation + routing site (the
  * reference analogue is its one `get()` path, store.py:218-259).
  * This property holds them row-for-row equal — and equal to the
  * plain Scala-API ground truth — over fuzzed predicates (every
  * translatable filter shape plus untranslatable residue Spark must
  * re-apply) and fuzzed projections, on current and time-travel reads.
  */
object ReadPathEquivalenceProps extends Properties("ReadPathEquivalence") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private lazy val spark = SparkTestBase.session

  private val Cat = "rpe_cat"

  /** Root with a 3-version table: v1 register, v2 append (second
    * segment — stats skipping has something to skip), v3 upsert
    * (replaced + inserted rows, duplicate keys preserved). Built once.
    */
  private lazy val root: String = {
    val s = spark
    import s.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_rpe").toString
    def t(d: String) = graft.store.FeatureStore.normalizeTimestamp(d)
    val store = new FeatureStore(s, r)
    val v1 = Seq(
      ("user_0", t("2024-01-01"), 1.5, 100L, Option("alpha")),
      ("user_0", t("2024-01-15"), -2.5, 200L, None),
      ("user_1", t("2024-01-01"), 3.0, 300L, Option("beta")),
      ("user_1", t("2024-01-15"), 3.0, 300L, Option("beta")), // dup content
      ("user_2", t("2024-01-20"), 0.0, 0L, None)
    ).toDF("entity_id", "timestamp", "feature_a", "feature_b", "note")
    store.register("t", v1)
    val v2 = Seq(
      ("user_3", t("2024-02-01"), 7.25, 700L, Option("gamma")),
      ("user_4", t("2024-02-10"), -7.25, -700L, None),
      ("user_0", t("2024-02-15"), 9.0, 900L, Option("alpha"))
    ).toDF("entity_id", "timestamp", "feature_a", "feature_b", "note")
    store.registerAppend("t", v2)
    val v3 = Seq(
      ("user_1", t("2024-01-01"), 33.0, 330L, Option("beta2")),
      ("user_5", t("2024-03-01"), 5.0, 500L, Option("delta"))
    ).toDF("entity_id", "timestamp", "feature_a", "feature_b", "note")
    store.registerUpsert("t", v3)
    s.conf.set(
      s"spark.sql.catalog.$Cat", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$Cat.root", r)
    r
  }

  private val allCols =
    Seq("entity_id", "timestamp", "feature_a", "feature_b", "note")

  // -------------------------------------------------------- generators

  /** Leaf predicates: every shape GraftRelation.translate handles
    * (comparisons, IN, null tests, LIKE prefix/suffix/contains) PLUS
    * untranslatable ones (arithmetic, length()) that must be applied
    * ABOVE each scan — equivalence must hold either way.
    */
  private val leafGen: Gen[String] = Gen.oneOf(
    Gen.oneOf(0 to 6).map(i => s"entity_id = 'user_$i'"),
    Gen.oneOf(0 to 5).map(i =>
      s"entity_id IN ('user_$i', 'user_${i + 1}', 'nobody')"),
    Gen.oneOf(-700L, 0L, 100L, 300L, 700L).flatMap(v =>
      Gen.oneOf("<", "<=", ">", ">=", "=").map(op => s"feature_b $op $v")),
    Gen.oneOf(-7.25, 0.0, 3.0, 9.0).flatMap(v =>
      Gen.oneOf("<", "<=", ">", ">=").map(op => s"feature_a $op $v")),
    Gen.oneOf("2024-01-15", "2024-02-01", "2024-03-01").map(d =>
      s"timestamp <= TIMESTAMP'$d 00:00:00'"),
    Gen.const("note IS NULL"),
    Gen.const("note IS NOT NULL"),
    Gen.oneOf("user_1%", "%2", "%eta%").map(p => s"entity_id LIKE '$p'"),
    // NOT translatable: Spark applies these above the scan
    Gen.const("feature_b % 200 = 0"),
    Gen.const("length(entity_id) > 5"))

  private def predGen(depth: Int): Gen[String] =
    if (depth == 0) leafGen
    else Gen.frequency(
      3 -> leafGen,
      1 -> (for {
        l <- predGen(depth - 1); r <- predGen(depth - 1)
        op <- Gen.oneOf("AND", "OR")
      } yield s"($l $op $r)"),
      1 -> predGen(depth - 1).map(p => s"(NOT $p)"))

  private val projGen: Gen[Seq[String]] =
    Gen.someOf(allCols).map(c => if (c.isEmpty) Seq("entity_id") else c.toSeq)

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def v1Read(version: Option[Int]): DataFrame = {
    val r = spark.read.format("graft")
      .option("root", root).option("table", "t")
    version.foreach(v => r.option("versionAsOf", v.toString))
    r.load()
  }

  // ------------------------------------------------------- properties

  property("V1 relation ≡ V2 catalog scan ≡ Scala API, current version") =
    forAllNoShrink(predGen(2), projGen) { (pred, proj) =>
      val truth = canon(new FeatureStore(spark, root)
        .getVersion("t", 3).filter(pred).selectExpr(proj: _*))
      val v1 = canon(v1Read(None).filter(pred).selectExpr(proj: _*))
      val v2 = canon(spark.table(s"$Cat.t").filter(pred).selectExpr(proj: _*))
      (v1 == truth && v2 == truth) :| s"pred=$pred proj=$proj\n" +
        s"truth=$truth\nv1=$v1\nv2=$v2"
    }

  property("V1 versionAsOf ≡ V2 VERSION AS OF, filtered + projected") =
    forAllNoShrink(predGen(1), projGen, Gen.choose(1, 3)) { (pred, proj, ver) =>
      val truth = canon(new FeatureStore(spark, root)
        .getVersion("t", ver).filter(pred).selectExpr(proj: _*))
      val v1 = canon(v1Read(Some(ver)).filter(pred).selectExpr(proj: _*))
      val v2 = canon(spark.sql(
        s"SELECT ${proj.mkString(", ")} FROM $Cat.t VERSION AS OF $ver " +
          s"WHERE $pred"))
      (v1 == truth && v2 == truth) :| s"pred=$pred proj=$proj ver=$ver\n" +
        s"truth=$truth\nv1=$v1\nv2=$v2"
    }
}
