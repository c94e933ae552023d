package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.store.{FeatureStore, FeatureTableNotFoundError}

/** Model-based lifecycle properties for the versioned store: a RANDOM
  * sequence of register / registerAppend / compact / vacuum operations
  * must leave every RETAINED version's data exactly equal to a
  * straightforward in-memory model (and every pruned version must
  * raise). This is the storage layer's deepest invariant — manifest
  * chaining, compaction, segment-aware pruning and vacuum all
  * interleave here, and any of them freeing a segment a retained
  * manifest still references would surface as a value diff.
  */
object StoreProps extends Properties("FeatureStore") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withMaxSize(12)

  private lazy val spark = SparkTestBase.session

  private sealed trait Op
  private case class Register(nRows: Int) extends Op
  private case class Append(nRows: Int) extends Op
  // streaming register under a fixed stream id; replayed = the SAME
  // batch id delivered twice (the foreachBatch crash-recovery shape)
  private case class Batch(nRows: Int, replayed: Boolean) extends Op
  // copy-on-write row delete: rows whose val's last digit < sel go
  private case class DeleteRows(sel: Int) extends Op
  // MERGE: replace up to nReplace existing keys (value shifted), insert one new
  private case class Upsert(nReplace: Int) extends Op
  // ATOMIC rewrite: replace nReplace keys + insert one + DROP nDrop
  // other keys, all in ONE commit (registerRewrite — the SQL DML shape)
  private case class Rewrite(nReplace: Int, nDrop: Int) extends Op
  // RESTORE to the oldest retained version (zero-copy manifest re-reference)
  private case object Restore extends Op
  private case object Compact extends Op
  // content-preserving clustered rewrite; incremental may be a no-op
  private case class Optimize(zorder: Boolean, incremental: Boolean) extends Op
  private case object Vacuum extends Op
  private case object Reopen extends Op
  private case object Delete extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 5).map(Register(_)),
    3 -> Gen.choose(1, 5).map(Append(_)),
    2 -> Gen.zip(Gen.choose(1, 5), Gen.oneOf(true, false)).map {
      case (n, r) => Batch(n, r)
    },
    2 -> Gen.choose(1, 3).map(DeleteRows(_)),
    2 -> Gen.choose(1, 3).map(Upsert(_)),
    2 -> Gen.zip(Gen.choose(1, 2), Gen.choose(1, 2)).map {
      case (r, d) => Rewrite(r, d)
    },
    1 -> Gen.const(Restore),
    1 -> Gen.const(Compact),
    1 -> Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false))
      .map { case (z, inc) => Optimize(z, inc) },
    2 -> Gen.const(Vacuum),
    1 -> Gen.const(Reopen),
    1 -> Gen.const(Delete))

  private val genOps: Gen[List[Op]] = for {
    n <- Gen.choose(2, 6)
    ops <- Gen.listOfN(n, genOp)
    first <- Gen.choose(1, 5)
  } yield Register(first) :: ops

  /** Deterministic distinct rows: op k's row j is entity e<k>_<j> at a
    * unique day offset with value 100*k + j — no (entity, ts) ties, so
    * reads have a single right answer.
    */
  private def rowsFor(opIdx: Int, n: Int): Seq[(String, Timestamp, Double)] =
    (0 until n).map { j =>
      val day = 1 + ((opIdx * 7 + j) % 27)
      (s"e${opIdx}_$j",
        Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"),
        opIdx * 100.0 + j)
    }

  private def toDF(rows: Seq[(String, Timestamp, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("entity_id", "timestamp", "val")
  }

  private def readVersion(store: FeatureStore, v: Int): Set[(String, Timestamp, Double)] =
    store.getVersion("t", v).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet

  private type Model = Map[Int, Set[(String, Timestamp, Double)]]

  /** DeleteRows against engine AND model: `val`'s last digit < sel goes.
    * Covers all three outcome branches — delete-all is rejected,
    * no-match mints no version, a real delete creates version+1 whose
    * contents the model predicts exactly.
    */
  private def applyDeleteRows(
      store: FeatureStore, sel: Int, model: Model, current: Int): (Model, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    if (current == 0) return (model, current)
    val before = model(current)
    val after = before.filterNot(r => r._3 % 10 < sel)
    val cond = col("val") % 10 < lit(sel.toDouble)
    if (after.isEmpty) {
      try {
        store.deleteRows("t", cond)
        throw new AssertionError("delete-all was not rejected")
      } catch { case _: graft.store.FeatureValidationError => () }
      (model, current)
    } else if (after == before) {
      val info = store.deleteRows("t", cond)
      if (info.version != current)
        throw new AssertionError("no-match delete minted a version")
      (model, current)
    } else {
      val info = store.deleteRows("t", cond)
      (model + (info.version -> after), info.version)
    }
  }

  /** Restore to the OLDEST retained version against engine AND model:
    * a no-op when that is already current, else a new version whose
    * contents the model copies from the source version.
    */
  private def applyRestore(
      store: FeatureStore, model: Model, current: Int,
      maxVersions: Int): (Model, Int) = {
    if (current == 0) return (model, current)
    val src = model.keys.toSeq.sorted.takeRight(maxVersions).head
    val info = store.restoreVersion("t", src)
    if (src == current) {
      if (info.version != current)
        throw new AssertionError("restore-to-current minted a version")
      (model, current)
    } else (model + (info.version -> model(src)), info.version)
  }

  /** Upsert against engine AND model: replace up to nReplace existing
    * keys (deterministically chosen, value shifted +0.5) and insert one
    * brand-new key; falls back to register on a fresh table.
    */
  private def applyUpsert(
      store: FeatureStore, nReplace: Int, opIdx: Int,
      model: Model, current: Int): (Model, Int) = {
    val base =
      if (current == 0) Set.empty[(String, Timestamp, Double)]
      else model(current)
    val replaced = base.toSeq
      .sortBy(r => (r._1, r._2.getTime, r._3))
      .take(nReplace)
      .map(r => (r._1, r._2, r._3 + 0.5))
    val delta = replaced ++ rowsFor(opIdx, 1)
    val info = store.registerUpsert("t", toDF(delta))
    val keys = delta.map(r => (r._1, r._2)).toSet
    (model + (info.version ->
      (base.filterNot(r => keys((r._1, r._2))) ++ delta)), info.version)
  }

  /** Atomic rewrite against engine AND model: replace nReplace keys
    * (value shifted +0.5, keeping val*10 integral for the exact-integer
    * IVM cross-check), insert one new key, and DROP the next
    * nDrop keys — one registerRewrite commit; the model applies all
    * three effects to one new version.
    */
  private def applyRewrite(
      store: FeatureStore, nReplace: Int, nDrop: Int, opIdx: Int,
      model: Model, current: Int): (Model, Int) = {
    import org.apache.spark.sql.functions.col
    if (current == 0) return (model, current)
    val base = model(current)
    val sorted = base.toSeq.sortBy(r => (r._1, r._2.getTime, r._3))
    val replaced = sorted.take(nReplace).map(r => (r._1, r._2, r._3 + 0.5))
    val dropped = sorted.drop(nReplace).take(nDrop)
    val delta = replaced ++ rowsFor(opIdx, 1)
    val info = store.registerRewrite(
      "t", toDF(delta),
      toDF(dropped.map(r => (r._1, r._2, 0.0)))
        .select(col("entity_id"), col("timestamp")))
    val touched = (delta.map(r => (r._1, r._2)) ++
      dropped.map(r => (r._1, r._2))).toSet
    (model + (info.version ->
      (base.filterNot(r => touched((r._1, r._2))) ++ delta)), info.version)
  }

  /** The model check over the store's one commit protocol (the
    * transaction log): random lifecycles keep every retained version
    * exact, across reopens, vacuums and deletes.
    */
  private def lifecycleProp =
    forAllNoShrink(genOps) { ops =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_store_props").toString
      val maxVersions = 3
      def open() = new FeatureStore(spark, root, maxVersions = maxVersions)
      var store = open()
      // model: version -> expected full contents
      var model = Map.empty[Int, Set[(String, Timestamp, Double)]]
      var current = 0
      ops.zipWithIndex.foreach { case (op, i) =>
        op match {
          case Register(n) =>
            val rows = rowsFor(i, n)
            store.register("t", toDF(rows))
            current += 1
            model += current -> rows.toSet
          case Append(n) =>
            val rows = rowsFor(i, n)
            if (current == 0) {
              store.registerAppend("t", toDF(rows))
              current = 1
              model += 1 -> rows.toSet
            } else {
              // a tiny maxSegments exercises the auto-compaction branch
              store.registerAppend("t", toDF(rows), maxSegments = 2)
              current += 1
              model += current -> (model(current - 1) ++ rows.toSet)
            }
          case Batch(n, replayed) =>
            // batch ids strictly increase per sequence (op index);
            // watermarks persist across Reopen and reset on Delete
            val rows = rowsFor(i, n)
            val r1 = store.registerBatch("t", toDF(rows), i.toLong, "s")
            if (r1.isEmpty)
              throw new AssertionError(s"fresh batch id $i was skipped")
            current = r1.get.version
            model += current -> rows.toSet
            if (replayed) {
              // crash-recovery re-delivery: same id, must be a no-op
              val r2 = store.registerBatch("t", toDF(rows), i.toLong, "s")
              if (r2.isDefined)
                throw new AssertionError(s"replay of batch $i minted a version")
            }
          case DeleteRows(sel) =>
            val (m2, c2) = applyDeleteRows(store, sel, model, current)
            model = m2; current = c2
          case Upsert(nr) =>
            val (m2, c2) = applyUpsert(store, nr, i, model, current)
            model = m2; current = c2
          case Rewrite(nr, nd) =>
            val (m2, c2) = applyRewrite(store, nr, nd, i, model, current)
            model = m2; current = c2
          case Restore =>
            val (m2, c2) = applyRestore(store, model, current, maxVersions)
            model = m2; current = c2
          case Compact =>
            if (current > 0) {
              val before = model(current)
              val info = store.compact("t")
              // compact is a no-op on single-segment versions
              current = info.version
              model += current -> before
            }
          case Optimize(z, inc) =>
            if (current > 0) {
              val before = model(current)
              // zorder needs numeric/ts cluster columns; the range form
              // exercises strings; a spec flip downgrades incremental
              // to a full rewrite — all content-preserving by contract
              val cols =
                if (z) Seq("timestamp", "val") else Seq("entity_id", "val")
              val info = store.optimizeTable(
                "t", cols, zorder = z, incremental = inc)
              current = info.version
              model += current -> before
            }
          case Vacuum =>
            // alternate grace settings: deferred passes must be as safe
            // as immediate ones
            if (i % 2 == 0) store.vacuum() else store.vacuum(graceMillis = 0)
          case Reopen =>
            // a new session must reconstruct the exact same state from
            // the persisted catalog (versions, manifests, retire ledger)
            store = open()
          case Delete =>
            // logical delete + re-register restarts the lineage at v1;
            // vacuum must never reclaim the resurrected paths (asserted
            // by the post-op reads below after later Vacuum ops)
            store.delete("t")
            model = Map.empty
            current = 0
        }
        // after EVERY op: all retained versions read exactly, pruned raise
        val retained = model.keys.toSeq.sorted.takeRight(maxVersions)
        retained.foreach { v =>
          val got = readVersion(store, v)
          if (got != model(v))
            throw new AssertionError(
              s"version $v mismatch after op #$i $op: got $got expected ${model(v)}")
        }
        model.keys.toSeq.sorted.dropRight(maxVersions).foreach { v =>
          try {
            store.getVersion("t", v)
            throw new AssertionError(s"pruned version $v still readable after $op")
          } catch { case _: FeatureTableNotFoundError => () }
        }
        // incremental view maintenance: whenever the WHOLE lineage is
        // retained, the change-feed-maintained rollup (seed v1, fold
        // every later commit's change set) must equal the model's
        // from-scratch rollup of the current content — across random
        // interleavings of append/delete/upsert/restore/compact
        if (current >= 1 &&
            model.keys.toSeq.sorted.dropRight(maxVersions).isEmpty) {
          import org.apache.spark.sql.functions.col
          val got = graft.store.IncrementalRollup
            .maintained(store, "t", Seq("entity_id"),
              (col("val") * 10).cast("long"))
            .collect()
            .map(r => r.getString(0) ->
              ((r.getAs[Long]("n_rows"), r.getAs[Long]("sum_value"))))
            .toMap
          val want = model(current).groupBy(_._1).map { case (e, rs) =>
            e -> ((rs.size.toLong, rs.toSeq.map(r => math.round(r._3 * 10)).sum))
          }
          if (got != want)
            throw new AssertionError(
              s"IVM rollup mismatch after op #$i $op: got $got expected $want")
          // the NON-INVERTIBLE sibling under the same interleavings:
          // min/max maintained with selective dirty-group rescans must
          // also equal the from-scratch rollup
          val gotMm = graft.store.IncrementalRollup
            .maintainedMinMax(store, "t", Seq("entity_id"),
              (col("val") * 10).cast("long"))
            .collect()
            .map(r => r.getString(0) ->
              ((r.getAs[Long]("n_rows"),
                r.getAs[Long]("min_value"), r.getAs[Long]("max_value"))))
            .toMap
          val wantMm = model(current).groupBy(_._1).map { case (e, rs) =>
            val vs = rs.toSeq.map(r => math.round(r._3 * 10))
            e -> ((rs.size.toLong, vs.min, vs.max))
          }
          if (gotMm != wantMm)
            throw new AssertionError(
              s"IVM min/max mismatch after op #$i $op: got $gotMm expected $wantMm")
          // COUNT(DISTINCT) via the multiplicity state, same contract
          val gotD = graft.store.IncrementalRollup
            .maintainedDistinct(store, "t", Seq("entity_id"),
              (col("val") * 10).cast("long"))
            .collect()
            .map(r => r.getString(0) ->
              ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_distinct"))))
            .toMap
          val wantD = model(current).groupBy(_._1).map { case (e, rs) =>
            val vs = rs.toSeq.map(r => math.round(r._3 * 10))
            e -> ((rs.size.toLong, vs.distinct.size.toLong))
          }
          if (gotD != wantD)
            throw new AssertionError(
              s"IVM distinct mismatch after op #$i $op: got $gotD expected $wantD")
          // second-moment state (n, sum, sum_sq), same contract
          val gotS = graft.store.IncrementalRollup
            .maintainedStats(store, "t", Seq("entity_id"),
              (col("val") * 10).cast("long"))
            .collect()
            .map(r => r.getString(0) ->
              ((r.getAs[Long]("n_rows"), r.getAs[Long]("sum_value"),
                r.getAs[Long]("sum_sq"))))
            .toMap
          val wantS = model(current).groupBy(_._1).map { case (e, rs) =>
            val vs = rs.toSeq.map(r => (r._3 * 10).toLong)
            e -> ((rs.size.toLong, vs.sum, vs.map(v => v * v).sum))
          }
          if (gotS != wantS)
            throw new AssertionError(
              s"IVM stats mismatch after op #$i $op: got $gotS expected $wantS")
          // serving table (latest row per entity; (entity, ts) unique
          // in this model, so no tie columns needed)
          val gotServe = graft.store.IncrementalRollup
            .maintainedServing(store, "t", tieCols = Seq.empty)
            .collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
            .toSet
          val wantServe = model(current).groupBy(_._1).values
            .map(rs => rs.toSeq.maxBy(_._2.getTime))
            .toSet
          if (gotServe != wantServe)
            throw new AssertionError(
              s"IVM serving mismatch after op #$i $op: " +
                s"got $gotServe expected $wantServe")
        }
        if (model.isEmpty) {
          try {
            store.getVersion("t", 1)
            throw new AssertionError(s"deleted table still readable after $op")
          } catch { case _: FeatureTableNotFoundError => () }
        }
      }
      true
    }

  property("random register/append/compact/vacuum/reopen/delete keeps every retained version exact") =
    lifecycleProp

  // ------------------------------------------------ multi-writer model

  private val genOpsNoBatch: Gen[List[Op]] = for {
    n <- Gen.choose(2, 6)
    ops <- Gen.listOfN(n, Gen.frequency(
      3 -> Gen.choose(1, 5).map(Register(_)),
      3 -> Gen.choose(1, 5).map(Append(_)),
      2 -> Gen.choose(1, 3).map(DeleteRows(_)),
      2 -> Gen.choose(1, 3).map(Upsert(_)),
      2 -> Gen.zip(Gen.choose(1, 2), Gen.choose(1, 2)).map {
        case (r, d) => Rewrite(r, d)
      },
      1 -> Gen.const(Restore),
      1 -> Gen.const(Compact),
      1 -> Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false))
        .map { case (z, inc) => Optimize(z, inc) },
      2 -> Gen.const(Vacuum),
      1 -> Gen.const(Delete)))
    first <- Gen.choose(1, 5)
  } yield Register(first) :: ops

  /** TWO persistent store instances on one transaction-log root, ops
    * alternating between them — every register by one side must be
    * adopted/reconciled by the other before it claims its next version,
    * or the model diverges immediately (a lost append shows as a short
    * version, a lost register as a wrong pointer). This is the
    * deterministic-interleaving half of multi-writer arbitration; the
    * threaded races live in ArbitrationSpec.
    *
    * Delete reopens both instances: resurrecting a table that another
    * LIVE session still holds open is the documented out-of-scope
    * delete race, not part of the arbitration contract.
    */
  property("two alternating stores on one txn-log root keep every retained version exact") =
    forAllNoShrink(genOpsNoBatch) { ops =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_store_props_mw").toString
      val maxVersions = 3
      def open() = new FeatureStore(
        spark, root, maxVersions = maxVersions,
        storageFactory = new graft.store.TxnLogStorage(_, _, _))
      var stores = Vector(open(), open())
      var model = Map.empty[Int, Set[(String, Timestamp, Double)]]
      var current = 0
      // verification reads go through the store that last MUTATED the
      // table: it has absorbed everything by construction. The other
      // side keeps legitimate session-snapshot semantics (it may still
      // read a version the fresh side pruned, until it writes or
      // reopens), which the model deliberately does not constrain.
      var freshStore = stores(0)
      ops.zipWithIndex.foreach { case (op, i) =>
        val store = stores(i % 2)
        def mutated(): Unit = freshStore = store
        op match {
          case Register(n) =>
            val rows = rowsFor(i, n)
            store.register("t", toDF(rows))
            mutated()
            current += 1
            model += current -> rows.toSet
          case Append(n) =>
            val rows = rowsFor(i, n)
            if (current == 0) {
              store.registerAppend("t", toDF(rows))
              mutated()
              current = 1
              model += 1 -> rows.toSet
            } else {
              store.registerAppend("t", toDF(rows), maxSegments = 2)
              mutated()
              current += 1
              model += current -> (model(current - 1) ++ rows.toSet)
            }
          case Batch(_, _) => () // generator never emits it here
          case DeleteRows(sel) =>
            val (m2, c2) = applyDeleteRows(store, sel, model, current)
            model = m2; current = c2
            mutated()
          case Upsert(nr) =>
            val (m2, c2) = applyUpsert(store, nr, i, model, current)
            model = m2; current = c2
            mutated()
          case Rewrite(nr, nd) =>
            val (m2, c2) = applyRewrite(store, nr, nd, i, model, current)
            model = m2; current = c2
            mutated()
          case Restore =>
            val (m2, c2) = applyRestore(store, model, current, maxVersions)
            model = m2; current = c2
            mutated()
          case Compact =>
            if (current > 0) {
              val before = model(current)
              val info = store.compact("t")
              mutated()
              current = info.version
              model += current -> before
            }
          case Optimize(z, inc) =>
            if (current > 0) {
              val before = model(current)
              val cols =
                if (z) Seq("timestamp", "val") else Seq("entity_id", "val")
              val info = store.optimizeTable(
                "t", cols, zorder = z, incremental = inc)
              mutated()
              current = info.version
              model += current -> before
            }
          case Vacuum =>
            if (i % 2 == 0) store.vacuum() else store.vacuum(graceMillis = 0)
          case Reopen => () // generator never emits it here
          case Delete =>
            store.delete("t")
            model = Map.empty
            current = 0
            stores = Vector(open(), open())
            freshStore = stores(0)
        }
        val retained = model.keys.toSeq.sorted.takeRight(maxVersions)
        retained.foreach { v =>
          val got = readVersion(freshStore, v)
          if (got != model(v))
            throw new AssertionError(
              s"version $v mismatch after op #$i $op by store ${i % 2}: " +
                s"got $got expected ${model(v)}")
        }
        model.keys.toSeq.sorted.dropRight(maxVersions).foreach { v =>
          try {
            freshStore.getVersion("t", v)
            throw new AssertionError(s"pruned version $v still readable after $op")
          } catch { case _: FeatureTableNotFoundError => () }
        }
      }
      true
    }

  // ------------------------------------------------ null-keyed model

  /** Key domain for null-key addressing: every combination of
    * {a, b, NULL} × {t1, t2, NULL} — null components are legal
    * observations the key-addressed primitives must match NULL-SAFELY
    * (a null-unsafe join accumulates duplicates on upsert and no-ops
    * on key delete; the model's plain Scala `==` over Options IS the
    * null-safe semantics).
    */
  private val nkTs = Vector(
    Some(Timestamp.valueOf("2024-01-05 00:00:00")),
    Some(Timestamp.valueOf("2024-03-15 00:00:00")),
    Option.empty[Timestamp])
  private val nkKeys: Vector[(Option[String], Option[Timestamp])] =
    for { e <- Vector(Some("a"), Some("b"), Option.empty[String]); t <- nkTs }
      yield (e, t)

  private sealed trait NOp
  private case class NUpsert(keys: Seq[Int]) extends NOp
  private case class NDeleteKeys(keys: Seq[Int]) extends NOp
  private case class NAppend(keys: Seq[Int]) extends NOp

  private val genNKeys: Gen[Seq[Int]] =
    Gen.choose(1, 3).flatMap(k =>
      Gen.pick(k, nkKeys.indices).map(_.toSeq.sorted))
  private val genNOp: Gen[NOp] = Gen.frequency(
    3 -> genNKeys.map(NUpsert(_)),
    2 -> genNKeys.map(NDeleteKeys(_)),
    2 -> genNKeys.map(NAppend(_)))
  private val genNOps: Gen[(Seq[Int], List[NOp])] = for {
    init <- genNKeys
    n <- Gen.choose(2, 6)
    ops <- Gen.listOfN(n, genNOp)
  } yield (init, ops)

  private def toNDF(rows: Seq[(Option[String], Option[Timestamp], Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("entity_id", "timestamp", "val")
  }

  /** Random upsert/append/key-delete sequences over a key domain with
    * null entity and null timestamp components: the store's multiset of
    * current rows must always equal a plain Scala model whose key
    * equality is Option `==` (null-safe by construction). Appends grow
    * multi-segment manifests, so the key-range segment-skip condition's
    * IS NULL admission is exercised whenever a delta carries a null
    * component across segments.
    */
  property("null-keyed upsert/append/delete match the null-safe multiset model") =
    forAllNoShrink(genNOps) { case (init, ops) =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_store_props_nk").toString
      val store = new FeatureStore(spark, root, maxVersions = 20)
      var valueSeq = 0.0
      def rowsAt(keys: Seq[Int]): Seq[(Option[String], Option[Timestamp], Double)] =
        keys.map { k =>
          valueSeq += 1.0
          val (e, t) = nkKeys(k)
          (e, t, valueSeq)
        }
      var model: Vector[(Option[String], Option[Timestamp], Double)] =
        rowsAt(init).toVector
      store.register("t", toNDF(model))
      var current = 1
      def check(op: String): Unit = {
        val got = store.getVersion("t", current).collect()
          .map(r => (Option(r.getString(0)), Option(r.getTimestamp(1)),
            r.getDouble(2)))
          .toSeq.sortBy(r => (r._1.toString, r._2.map(_.getTime), r._3))
        val want = model
          .sortBy(r => (r._1.toString, r._2.map(_.getTime), r._3))
        if (got != want)
          throw new AssertionError(
            s"null-key mismatch after $op: got $got expected $want")
      }
      check("register")
      ops.foreach { op =>
        op match {
          case NUpsert(keys) =>
            val delta = rowsAt(keys)
            val dk = delta.map(r => (r._1, r._2)).toSet
            val info = store.registerUpsert("t", toNDF(delta))
            model = model.filterNot(r => dk((r._1, r._2))) ++ delta
            current = info.version
          case NAppend(keys) =>
            val delta = rowsAt(keys)
            val info = store.registerAppend("t", toNDF(delta))
            model = model ++ delta
            current = info.version
          case NDeleteKeys(keys) =>
            val dk = keys.map(nkKeys).toSet
            val hits = model.count(r => dk((r._1, r._2)))
            val keyRows = keys.map { k =>
              val (e, t) = nkKeys(k); (e, t, 0.0)
            }
            def callDelete() = store.deleteRowsByKeys(
              "t", toNDF(keyRows).select(
                org.apache.spark.sql.functions.col("entity_id"),
                org.apache.spark.sql.functions.col("timestamp")))
            if (model.size == hits && hits > 0) {
              // delete-all via keys is rejected like predicate delete-all
              try {
                callDelete()
                throw new AssertionError("delete-all by keys was not rejected")
              } catch { case _: graft.store.FeatureValidationError => () }
            } else if (hits == 0) {
              if (callDelete().isDefined)
                throw new AssertionError("no-hit key delete minted a version")
            } else {
              val info = callDelete()
              if (info.isEmpty)
                throw new AssertionError("matching key delete was a no-op")
              model = model.filterNot(r => dk((r._1, r._2)))
              current = info.get.version
            }
        }
        check(op.toString)
      }
      true
    }

  // ------------------------------------------- change sets vs oracle

  /** Values whose equality is subtle: NaN equals itself and -0.0
    * equals 0.0 under SQL grouping, so a change set must cancel them
    * exactly as EXCEPT ALL does.
    */
  private val csVals = Vector(1.0, Double.NaN, -0.0, 0.0, 2.0)

  private sealed trait COp
  // fresh rows (key index, value index) plus `same` current rows verbatim
  private case class CUpsert(rows: Seq[(Int, Int)], same: Int) extends COp
  private case class CRewrite(rows: Seq[(Int, Int)], same: Int, drops: Seq[Int])
      extends COp

  private val genCRows: Gen[Seq[(Int, Int)]] = Gen.choose(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.zip(
      Gen.choose(0, nkKeys.size - 1), Gen.choose(0, csVals.size - 1))))
  private val genCOp: Gen[COp] = Gen.oneOf(
    Gen.zip(genCRows, Gen.choose(0, 2)).map { case (r, n) => CUpsert(r, n) },
    Gen.zip(genCRows, Gen.choose(0, 2), genNKeys).map {
      case (r, n, d) => CRewrite(r, n, d)
    })
  private val genCOps: Gen[(Seq[(Int, Int)], Seq[(Int, Int)], List[COp])] = for {
    base <- genCRows
    appended <- genCRows
    n <- Gen.choose(1, 3)
    ops <- Gen.listOfN(n, genCOp)
  } yield (base ++ base.take(1), appended, ops) // base carries a duplicate row

  /** The recorded change set of every upsert and rewrite equals an
    * oracle computed here from the two snapshots: `prev EXCEPT ALL cur`
    * as deletes and `cur EXCEPT ALL prev` as inserts. Tables span two
    * segments with duplicate rows, null key components, NaN and -0.0;
    * deltas may re-write identical current rows, which must cancel.
    */
  property("upsert and rewrite change sets equal the EXCEPT ALL snapshot oracle") =
    forAllNoShrink(genCOps) { case (base, appended, ops) =>
      import org.apache.spark.sql.functions.{col, lit}
      val root = java.nio.file.Files
        .createTempDirectory("graft_store_props_cs").toString
      val store = new FeatureStore(spark, root, maxVersions = 20)
      def rows(rs: Seq[(Int, Int)]) = rs.map { case (k, x) =>
        val (e, t) = nkKeys(k); (e, t, csVals(x))
      }
      val cols = Seq("entity_id", "timestamp", "val").map(col)
      def snapshot(v: Int) = store.getVersion("t", v).select(cols: _*)
      // multiset under SQL equality, which EXCEPT ALL itself uses:
      // NaN equals NaN, and -0.0 (+ 0.0 is 0.0) equals 0.0
      def bag(df: DataFrame): Seq[String] =
        df.collect().map(_.toSeq.map {
          case d: Double => String.valueOf(d + 0.0)
          case v         => String.valueOf(v)
        }.mkString("|")).toSeq.sorted
      store.register("t", toNDF(rows(base)))
      var current = store.registerAppend("t", toNDF(rows(appended))).version
      ops.foreach { op =>
        val same = (n: Int) => snapshot(current).collect()
          .sortBy(_.toSeq.map(String.valueOf).mkString("|")).take(n)
          .map(r => (Option(r.getString(0)), Option(r.getTimestamp(1)), r.getDouble(2)))
          .toSeq
        val info = op match {
          case CUpsert(rs, n) =>
            store.registerUpsert("t", toNDF(rows(rs) ++ same(n)))
          case CRewrite(rs, n, drops) =>
            store.registerRewrite("t", toNDF(rows(rs) ++ same(n)),
              toNDF(drops.map { k => val (e, t) = nkKeys(k); (e, t, 0.0) })
                .select(col("entity_id"), col("timestamp")))
        }
        val (prev, cur) = (snapshot(current), snapshot(info.version))
        val want = bag(
          prev.exceptAll(cur).withColumn("_change_type", lit("delete"))
            .unionByName(cur.exceptAll(prev).withColumn("_change_type", lit("insert"))))
        val got = bag(store.getChanges("t", current, info.version)
          .select(cols :+ col("_change_type"): _*))
        if (got != want)
          throw new AssertionError(
            s"change set of $op: got $got expected $want")
        current = info.version
      }
      true
    }
}
