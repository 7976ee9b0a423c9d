package graft.state

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

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

class StateTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(): StateTable = {
    val dir = Files.createTempDirectory("graft-state").toString
    new StateTable(spark, dir, Schemas.ordersKey)
  }

  private def ordersBatch(name: String) =
    Ingest.readOrdersCsv(spark, TestSpark.fixture(name))

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
    t.upsert(ordersBatch("orders_rerun.csv"))
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
