package graft.state

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.TestSpark
import graft.core.Schemas
import graft.ingest.Ingest

/** Latches a write's tasks block on, so a spec can hold one writer
  * between choosing its sequence number and committing it. A top-level
  * object, so task closures reach it statically instead of serializing
  * it.
  */
private object WriteGate {
  val started = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}

/** The same, for a spec that holds an upsert after it read its
  * predecessor version and before it writes.
  */
private object UpsertGate {
  val started = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}

class StateTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(): StateTable = {
    val dir = Files.createTempDirectory("graft-state").toString
    new StateTable(spark, dir, Schemas.ordersKey)
  }

  private def ordersBatch(name: String) =
    Ingest.readOrdersCsv(spark, TestSpark.fixture(name))

  private def keySet(df: DataFrame): Set[Row] = df.collect().toSet

  /** `changedKeys(from, to)` returns the key columns and, as a set,
    * exactly the keys `diff(from, to)` reports.
    */
  private def assertChangedKeysExact(t: StateTable, from: String, to: String,
      keyCols: Seq[String], what: String): Unit = {
    val got = t.changedKeys(from, to)
    assert(got.columns.toSeq == keyCols, s"$what: columns ${got.columns.toSeq}")
    assert(keySet(got) == keySet(t.diff(from, to).select(keyCols.map(col): _*)),
      s"$what: changedKeys differs from diff's key set")
  }

  /** Whether `changedKeys(from, to)` answered from `to`'s change
    * record: a filtered scan or a local frame has no exchange, while the
    * [[StateTable.diff]] fallback aggregates and joins.
    */
  private def fromRecord(t: StateTable, from: String, to: String): Boolean =
    !t.changedKeys(from, to).queryExecution.executedPlan.toString.contains("Exchange")

  test("first load appends all rows, within-batch duplicate keys kept") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    // fixture: 6 rows with one duplicated (ord-001, prod1520...) key
    assert(t.current().get.count() == 6)
  }

  test("re-run of the same file is row-count stable (reference §2.4)") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    t.upsert(ordersBatch("orders_fixture.csv"))
    assert(t.current().get.count() == 6)
  }

  test("re-run updates only the latest row per key, last batch row wins") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    val loaded = t.read().get.collect().toSeq
    // the re-run plus a no-op update: ord-003 re-sent with its values
    t.upsert(ordersBatch("orders_rerun.csv").unionByName(
      ordersBatch("orders_fixture.csv").filter(col("order_id") === "ord-003")))
    val cur = t.current().get.cache()
    // 6 original + 2 inserted rows for the new key ord-005 (dup kept)
    assert(cur.count() == 8)
    val k = cur.filter(col("order_id") === "ord-001" && col("product_id") === "prod1520#prod100011001100")
      .orderBy(col("date_time")).collect()
    assert(k.length == 2)
    // earlier duplicate untouched (quantity 1 from first load)...
    assert(k.map(_.getAs[Int]("quantity")).toSet == Set(1, 9))
    // ...and the updated row carries the LAST rerun row's values
    assert(k.exists(r => r.getAs[Int]("quantity") == 9 && r.getAs[String]("campaign") == "updated_camp2"))
    assert(!k.exists(r => r.getAs[String]("campaign") == "updated_camp"))
    // new key appended twice
    assert(cur.filter(col("order_id") === "ord-005").count() == 2)
    // _seq marks what the re-run changed: the updated row and the
    // inserts take a _seq above the first load's max; the no-op-updated
    // ord-003, the untouched rows and the earlier ord-001 duplicate
    // keep theirs
    val seq = StateTable.SeqCol
    val maxLoaded = loaded.map(_.getAs[Long](seq)).max
    val after = t.read().get.collect().toSeq
    val (changed, kept) = after.partition(_.getAs[Long](seq) > maxLoaded)
    assert(changed.map(r => (r.getAs[String]("order_id"), r.getAs[Int]("quantity"))).toSet ==
      Set(("ord-001", 9), ("ord-005", 1), ("ord-005", 2)))
    assert(changed.size == 3)
    assert(kept.toSet == loaded.filterNot(r =>
      r.getAs[String]("order_id") == "ord-001" && r.getAs[Int]("quantity") == 2).toSet,
      "a no-op-updated or untouched row changed, or lost its _seq")
  }

  test("changedKeys equals diff's key set on every upsert transition, from the change record") {
    val keyCols = Schemas.ordersKey
    // a first load over the CreateTable version, an LWW re-run with
    // changed values and within-batch duplicates of an unseen key, and
    // a re-run of the same file (no change on either side)
    val t = freshTable()
    graft.schemasync.SchemaSync.sync(spark, t, Schemas.orders)
    t.upsert(ordersBatch("orders_fixture.csv"))
    t.upsert(ordersBatch("orders_rerun.csv"))
    t.upsert(ordersBatch("orders_rerun.csv"))
    val Seq(created, loaded, rerun, same) = t.history()
    Seq((created, loaded, "first load"), (loaded, rerun, "LWW re-run"),
      (rerun, same, "same-file re-run")).foreach { case (from, to, what) =>
      assertChangedKeysExact(t, from, to, keyCols, what)
      assert(fromRecord(t, from, to), s"$what: changedKeys fell back to diff")
    }
    assert(keySet(t.changedKeys(loaded, rerun)) == Set(
      Row("ord-001", "prod1520#prod100011001100"), Row("ord-005", "prod9999#prod000000000001")))
    assert(t.changedKeys(rerun, same).isEmpty)

    // a batch aligned to a schema-synced store: the column the batch
    // lacks lands as typed nulls
    val declared = StructType(Schemas.orders.fields :+ StructField("note", StringType))
    graft.schemasync.SchemaSync.sync(spark, t, declared)
    val synced = t.currentVersion.get
    t.upsert(ordersBatch("orders_fixture.csv").filter(col("order_id") =!= "ord-004")
      .withColumn("amount", col("amount") + lit(1.0)))
    val aligned = t.currentVersion.get
    assertChangedKeysExact(t, synced, aligned, keyCols, "schema-aligned batch")
    assert(fromRecord(t, synced, aligned), "schema-aligned batch: changedKeys fell back to diff")
    assert(t.changedKeys(synced, aligned).count() == 4L)

    // a compaction changes no row: an empty local frame
    t.compact()
    val compacted = t.currentVersion.get
    assertChangedKeysExact(t, aligned, compacted, keyCols, "compaction")
    assert(t.changedKeys(aligned, compacted).queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

    // every adjacent pair of the streamed q162/q165 flow store
    val flow = graft.ingest.IngestQueries.q162BuildStreamedStore(
      new graft.ingest.Lifecycle(spark, TestSpark.testdata("0.001"), "q162")).st
    flow.history().sliding(2).foreach { case Seq(from, to) =>
      assertChangedKeysExact(flow, from, to, keyCols, s"streamed $from -> $to")
      assert(fromRecord(flow, from, to), s"streamed $from -> $to: changedKeys fell back to diff")
    }
  }

  test("changedKeys falls back to diff for versions without a matching change record") {
    val keyCols = Schemas.ordersKey
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    t.upsert(ordersBatch("orders_rerun.csv"))
    // a raw overwrite: deletes ord-004, re-prices ord-002
    t.overwrite(t.read().get.filter(col("order_id") =!= "ord-004")
      .withColumn("amount", when(col("order_id") === "ord-002", col("amount") * 2)
        .otherwise(col("amount"))))
    // a SchemaSync AddColumn version
    graft.schemasync.SchemaSync.sync(spark, t,
      StructType(Schemas.orders.fields :+ StructField("note", StringType)))
    val Seq(_, v2, raw, added) = t.history()
    Seq((v2, raw, "raw overwrite"), (raw, added, "AddColumn")).foreach { case (from, to, what) =>
      assertChangedKeysExact(t, from, to, keyCols, what)
      assert(!fromRecord(t, from, to), s"$what: changedKeys answered from a record")
    }
    assert(keySet(t.changedKeys(v2, raw)).map(_.getString(0)) == Set("ord-002", "ord-004"))
    // a non-adjacent pair: `from` two back from the upsert's recorded
    // predecessor
    t.upsert(ordersBatch("orders_rerun.csv"))
    val rerun = t.currentVersion.get
    assertChangedKeysExact(t, raw, rerun, keyCols, "non-adjacent pair")
    assert(!fromRecord(t, raw, rerun), "non-adjacent pair: changedKeys answered from a record")
    assert(fromRecord(t, added, rerun))

    // a version whose recorded predecessor is not `from`: `a` reads v1,
    // `b` commits over v1 while `a` pins its batch, then `a` commits
    // over b's version with a record naming v1
    val a = freshTable()
    a.upsert(ordersBatch("orders_fixture.csv"))
    val b = new StateTable(spark, a.root, Schemas.ordersKey)
    val gate = udf { (q: Int) =>
      UpsertGate.started.countDown()
      UpsertGate.release.await()
      q
    }
    val held = Future(a.upsert(ordersBatch("orders_rerun.csv")
      .withColumn("quantity", gate(col("quantity")))))
    assert(UpsertGate.started.await(2, TimeUnit.MINUTES), "the held upsert never started")
    b.upsert(ordersBatch("orders_fixture.csv").filter(col("order_id") === "ord-004")
      .withColumn("amount", col("amount") * 2))
    UpsertGate.release.countDown()
    Await.result(held, 2.minutes)
    val Seq(w1, w2, w3) = a.history()
    assertChangedKeysExact(a, w2, w3, keyCols, "recorded predecessor is not from")
    assert(!fromRecord(a, w2, w3))
    // w3 lost b's re-price, so ord-004 is among its changes against w2
    assert(keySet(a.changedKeys(w2, w3)).map(_.getString(0)) ==
      Set("ord-001", "ord-004", "ord-005"))
    assertChangedKeysExact(a, w1, w3, keyCols, "recorded predecessor")
    assert(fromRecord(a, w1, w3))
  }

  test("an uncommitted version carrying a change record is never folded") {
    val keyCols = Schemas.ordersKey
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    val v1 = t.currentVersion.get
    val reportRoot = Files.createTempDirectory("graft-report").toString
    def report() = graft.ingest.IngestQueries.reportStoreHandle(spark, reportRoot)
    def resume(): Int = graft.ingest.IngestQueries.resumeReportMaintenance(
      new StateTable(spark, t.root, keyCols), report(), keyCols)
    assert(resume() == 0)
    // a crash before the log link: the version directory is complete
    // and its entry, change record included, is written but not linked
    t.upsert(ordersBatch("orders_rerun.csv"))
    val orphan = t.currentVersion.get
    val log = Paths.get(t.root, "_log")
    graft.core.Fs.listDir(log).filter(e => Files.readString(e).linesIterator.next() == orphan)
      .foreach(e => Files.move(e, log.resolve(s".$orphan")))
    assert(Files.readString(log.resolve(s".$orphan")).contains(s"changes $v1 "))
    assert(t.history() == Seq(v1))
    assert(resume() == 0, "the walk folded an uncommitted version")
    assert(graft.ingest.IngestQueries.reportWatermark(report(), v1) == v1)
    // the next upsert commits past it, recording the committed version
    // it read, and the walk folds exactly that one step
    t.upsert(ordersBatch("orders_rerun.csv"))
    val Seq(_, v2) = t.history()
    assert(v2 != orphan)
    assert(fromRecord(t, v1, v2))
    assert(resume() == 1)
    val folded = report().current().get
    val recomputed = graft.ingest.IngestQueries.productShape.report(t.current().get)
      .select(folded.columns.map(col).toIndexedSeq: _*)
    assert(folded.exceptAll(recomputed).isEmpty && recomputed.exceptAll(folded).isEmpty,
      "the folded report differs from the recompute")
  }

  test("partitioned state: hive layout written, reads prune partitions") {
    val dir = Files.createTempDirectory("graft-part").toString
    val t = new StateTable(spark, dir, Seq("product_id"), partitionCols = Seq("category"))
    t.upsert(graft.ingest.Ingest.readInventoriesCsv(spark, TestSpark.fixture("inventory_fixture.csv")))
    // hive-style layout on disk
    val vdir = Paths.get(dir, t.currentVersion.get)
    assert(Files.exists(vdir.resolve("category=Shoes")))
    // a category filter becomes a partition filter (pruned scan)
    val filtered = t.current().get.filter(col("category") === "Shoes")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("category"))
    assert(filtered.count() == 2)
  }

  test("compact collapses files without changing contents") {
    val t = freshTable()
    val batch = ordersBatch("orders_fixture.csv")
    t.upsert(batch)
    // force a fragmented version: many partitions -> many files
    t.overwrite(t.read().get.repartition(8))
    def parquetFiles(): Long = {
      val dir = java.nio.file.Paths.get(s"${t.root}/${t.currentVersion.get}")
      val s = Files.list(dir)
      try s.filter(_.toString.endsWith(".parquet")).count()
      finally s.close() // Files.list holds a directory fd
    }
    val before = t.current().get.orderBy(col("order_id"), col("product_id")).collect().toSeq
    val filesBefore = parquetFiles()

    t.compact()

    val after = t.current().get.orderBy(col("order_id"), col("product_id")).collect().toSeq
    val filesAfter = parquetFiles()
    assert(after == before)
    assert(filesBefore > 1L)
    assert(filesAfter == 1L)
  }

  test("overwrite is atomic: pointer flips to a complete version") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    val v1 = t.currentVersion.get
    t.upsert(ordersBatch("orders_rerun.csv"))
    val v2 = t.currentVersion.get
    assert(v1 != v2)
    t.vacuum()
    assert(t.current().get.count() == 8)
  }

  test("vacuumBefore reclaims strictly-older versions, keeps watermark and newer") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    t.upsert(ordersBatch("orders_rerun.csv"))
    t.upsert(ordersBatch("orders_rerun.csv"))
    val Seq(v1, v2, v3) = t.history()
    // watermark at v2: only v1 is strictly older
    assert(t.vacuumBefore(v2) == Seq(v1))
    assert(t.history() == Seq(v2, v3))
    // idempotent: nothing older than the watermark remains
    assert(t.vacuumBefore(v2).isEmpty)
    // watermark at current: reclaims v2, never the current version
    assert(t.vacuumBefore(v3) == Seq(v2))
    assert(t.history() == Seq(v3))
    assert(t.vacuumBefore(v3).isEmpty)
    assert(t.current().get.count() == 8)
  }

  test("an uncommitted version directory is absent from history() and current()") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    val committed = t.currentVersion.get
    // what a crash between the parquet write and the commit leaves: a
    // complete version directory that sorts last, with no log entry
    val orphan = s"v-${"f" * 16}-crash"
    t.read().get.limit(1).write.parquet(Paths.get(t.root, orphan).toString)
    assert(t.history() == Seq(committed))
    assert(t.currentVersion.contains(committed))
    assert(t.current().get.count() == 6)
    // the next write commits past it, and vacuum() clears it
    t.upsert(ordersBatch("orders_rerun.csv"))
    assert(t.history().size == 2 && !t.history().contains(orphan))
    assert(t.current().get.count() == 8)
    t.vacuum()
    assert(!Files.exists(Paths.get(t.root, orphan)))
    assert(t.history().size == 1 && t.current().get.count() == 8)
  }

  test("offsets commit in the version's log entry; a malformed entry names the store") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    val v1 = t.currentVersion.get
    assert(t.offsets(v1).isEmpty)
    // a version with no rows keeps the offsets it was committed with
    t.overwrite(t.read().get.filter(lit(false)), Seq("v-a", "v-b"))
    val v2 = t.currentVersion.get
    assert(t.offsets(v2) == Seq("v-a", "v-b") && t.offsets(v1).isEmpty)
    val missing = intercept[IllegalStateException](t.offsets(s"v-${"f" * 16}-gone"))
    assert(missing.getMessage.contains(t.root), missing.getMessage)
    Files.writeString(Paths.get(t.root, "_log", v2.slice(2, 18)), s"$v2\nstamp v-a\n")
    val malformed = intercept[IllegalStateException](t.history())
    assert(malformed.getMessage.contains(t.root) && malformed.getMessage.contains("malformed"),
      malformed.getMessage)
  }

  test("a second commit of the same sequence number fails loudly") {
    val a = freshTable()
    a.upsert(ordersBatch("orders_fixture.csv"))
    val b = new StateTable(spark, a.root, Schemas.ordersKey)
    // hold `a` inside its parquet write — after it chose its sequence
    // number, before its commit — while `b` commits that same number
    val gate = udf { (q: Int) =>
      WriteGate.started.countDown()
      WriteGate.release.await()
      q
    }
    val held = Future(a.overwrite(a.read().get.withColumn("quantity", gate(col("quantity")))))
    assert(WriteGate.started.await(2, TimeUnit.MINUTES), "the held write never started")
    b.overwrite(b.read().get)
    WriteGate.release.countDown()
    val ex = intercept[IllegalStateException](Await.result(held, 2.minutes))
    assert(ex.getMessage.contains("already committed"), ex.getMessage)
    // the first committer wins; the loser's version never becomes visible
    assert(a.history().size == 2)
    assert(a.currentVersion == b.currentVersion)
    assert(a.current().get.count() == 6)
  }

  test("vacuumBefore evicts the reclaimed versions' schema-cache entries") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    t.upsert(ordersBatch("orders_rerun.csv"))
    val Seq(v1, v2) = t.history()
    def cached(v: String) = StateTable.versionSchemas.containsKey(Paths.get(t.root, v).toString)
    assert(cached(v1) && cached(v2))
    assert(t.vacuumBefore(v2) == Seq(v1))
    assert(!cached(v1) && cached(v2))
  }
}
