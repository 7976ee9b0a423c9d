package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.core.Schemas
import graft.state.StateTable

class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("batch-stream parity: streamed files produce the same state as batch upserts") {
    val landing = Files.createTempDirectory("graft-landing")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val stateDir = Files.createTempDirectory("graft-stream-state").toString
    val table = new StateTable(spark, stateDir, Schemas.ordersKey)

    // first file lands
    Files.copy(Paths.get(TestSpark.fixture("orders_fixture.csv")),
      landing.resolve("batch1.csv"), StandardCopyOption.REPLACE_EXISTING)
    val q1 = StreamingIngest.runOrdersIngest(spark, landing.toString, table, ckpt)
    q1.awaitTermination()
    assert(table.current().get.count() == 6)

    // second file lands later; checkpoint ensures batch1 is not re-read
    Files.copy(Paths.get(TestSpark.fixture("orders_rerun.csv")),
      landing.resolve("batch2.csv"), StandardCopyOption.REPLACE_EXISTING)
    val q2 = StreamingIngest.runOrdersIngest(spark, landing.toString, table, ckpt)
    q2.awaitTermination()

    val cur = table.current().get.cache()
    assert(cur.count() == 8) // same as the batch path in StateTableSpec
    val updated = cur.filter(col("order_id") === "ord-001" && col("campaign") === "updated_camp2")
    assert(updated.count() == 1)
    assert(updated.head().getAs[Int]("quantity") == 9)
  }

  test("a drain started under a job description runs every micro-batch job under it") {
    // Spark describes micro-batch jobs by the query name; the drain names
    // its query after the caller's description, so a lifecycle step's
    // drain jobs are attributable to that step
    val landing = Files.createTempDirectory("graft-desc-landing")
    val ckpt = Files.createTempDirectory("graft-desc-ckpt").toString
    val table = new StateTable(spark,
      Files.createTempDirectory("graft-desc-state").toString, Schemas.ordersKey)
    Files.copy(Paths.get(TestSpark.fixture("orders_fixture.csv")),
      landing.resolve("batch1.csv"), StandardCopyOption.REPLACE_EXISTING)
    val sc = spark.sparkContext
    // (job group, description) per started job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(js.properties.getProperty("spark.jobGroup.id", "") ->
          js.properties.getProperty("spark.job.description", "")): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("streaming-spec/drain")
      val q = try StreamingIngest.runOrdersIngest(spark, landing.toString, table, ckpt)
        finally sc.setJobDescription(null)
      q.awaitTermination()
      // the bus delivers events in order: once a later marker job's start
      // arrived, every drain job's start has too
      sc.setJobDescription("streaming-spec/marker")
      try spark.range(1).count() finally sc.setJobDescription(null)
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_._2 == "streaming-spec/marker") &&
          System.nanoTime() < deadline) Thread.sleep(50)
      val drained = jobs.asScala.toSeq.collect { case (g, d) if g == q.runId.toString => d }
      assert(drained.nonEmpty, "no job ran in the drain's job group")
      assert(drained.forall(_.startsWith("streaming-spec/drain")),
        s"drain jobs not described by the caller's step: ${drained.distinct}")
    } finally sc.removeSparkListener(listener)
  }

  test("stateful dedup state survives a query RESTART from its checkpoint") {
    // The fault-tolerance claim behind every stateful streaming
    // operator here (q77/q99's state stores): kill the query, restart
    // from the same checkpoint, and BOTH the file-source offsets and
    // the operator state must recover. Proven through a fault-tolerant
    // parquet sink: phase 2 re-lands 50 already-seen keys plus 50 new
    // ones — with recovered state exactly the 50 new rows append
    // (total 150); lost dedup state would re-emit the overlap (200),
    // lost source offsets would duplicate phase 1 wholesale.
    import spark.implicits._
    val in = Files.createTempDirectory("graft-recover-in")
    val out = Files.createTempDirectory("graft-recover-out").toString
    val ckpt = Files.createTempDirectory("graft-recover-ckpt").toString
    def land(sub: String, keys: Range): Unit =
      keys.map(_.toLong).toDF("k").coalesce(1)
        .write.mode("overwrite").parquet(in.resolve(sub).toString)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
        .option("recursiveFileLookup", "true").parquet(in.toString)
        .dropDuplicates("k")
        .writeStream.format("parquet").outputMode("append")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    land("a", 0 until 100)
    runOnce() // phase 1: 100 distinct keys
    assert(spark.read.parquet(out).count() == 100)
    land("b", 50 until 150) // 50 dups + 50 new
    runOnce() // RESTART: same checkpoint, fresh query object
    val rows = spark.read.parquet(out).as[Long].collect()
    assert(rows.length == 150,
      s"expected exactly-once recovery (150 rows), got ${rows.length}")
    assert(rows.toSet == (0L until 150L).toSet, "key set wrong after recovery")
  }

  test("q143-shape admission (static anti-join + dedup) survives a restart exactly-once") {
    // The q143 composition's fault-tolerance claim: the STREAM-STATIC
    // anti-join is stateless (nothing of it to recover) while the
    // downstream dedup state and the source offsets both must. Three
    // failure modes, each with a distinct signature in the final rows:
    // lost dedup state re-emits the phase-overlap keys (140 rows),
    // lost source offsets re-lands phase 1 wholesale, and a broken
    // anti-join after restart admits statically-blocked keys (0..49).
    import spark.implicits._
    val in = Files.createTempDirectory("graft-adm-in")
    val out = Files.createTempDirectory("graft-adm-out").toString
    val ckpt = Files.createTempDirectory("graft-adm-ckpt").toString
    val atRest = (0 until 100).map(_.toLong).toDF("k")
    def land(sub: String, keys: Seq[Int]): Unit =
      keys.map(_.toLong).toDF("k").coalesce(1)
        .write.mode("overwrite").parquet(in.resolve(sub).toString)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
        .option("recursiveFileLookup", "true").parquet(in.toString)
        .join(atRest, Seq("k"), "left_anti")
        .dropDuplicates("k")
        .writeStream.format("parquet").outputMode("append")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    land("a", 50 until 150)
    runOnce() // phase 1: 50..99 blocked by the static state, 100..149 admitted
    assert(spark.read.parquet(out).count() == 50)
    land("b", (0 until 50) ++ (120 until 220))
    runOnce() // RESTART: blocked re-crawls + in-stream dups + novel keys
    val rows = spark.read.parquet(out).as[Long].collect()
    assert(rows.toSet == (100L until 220L).toSet,
      s"admission set wrong after recovery: ${rows.sorted.take(10).mkString(",")}…")
    assert(rows.length == 120,
      s"expected exactly-once admission (120 rows), got ${rows.length}")
  }

  test("streaming dedup: duplicated input files collapse to distinct keys") {
    val dir = Files.createTempDirectory("graft-dedup-events")
    val batch = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    // land the same data twice (two files -> duplicate rows in the stream)
    batch.write.mode("overwrite").parquet(dir.resolve("copy1").toString)
    batch.write.mode("overwrite").parquet(dir.resolve("copy2").toString)

    val stream = spark.readStream.schema(batch.schema)
      .option("recursiveFileLookup", "true").parquet(dir.toString)
    val q = StreamingIngest.dedupedEvents(stream)
      .writeStream.format("memory").queryName("dedup_out").outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()

    val expected = batch.select("user_id", "event_type", "ts").distinct().count()
    assert(spark.table("dedup_out").count() == expected)
  }

  test("stream-stream interval join matches the batch twin") {
    val dir = Files.createTempDirectory("graft-ssj").toString
    val batch = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    batch.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = StreamingIngest.purchaseViewJoin(stream)
      .writeStream.format("memory").queryName("ssj_out").outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()

    // batch twin: same interval join without streaming machinery
    val p = batch.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val v = batch.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))
    val expected = p.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("interval 1 hour")).count()

    assert(spark.table("ssj_out").count() == expected)
    assert(expected > 0)
  }

  test("stream-stream LEFT OUTER join: unmatched rows emit after the watermark passes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ssj-outer")
    val ckpt = Files.createTempDirectory("graft-ssj-outer-ckpt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"

    // batch1: user 1 has view->purchase (matches); user 2 purchase has no view
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:30:00"), 1L, "purchase", 2.0, "{}"),
      (3L, ts("2024-01-01 10:30:00"), 2L, "purchase", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir.resolve("b1").toString)

    val stream = spark.readStream.schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .option("recursiveFileLookup", "true").parquet(dir.toString)
    val outDir = Files.createTempDirectory("graft-ssj-outer-out")
    def drain(): Unit = {
      // file sink (not memory): it supports resuming from the checkpoint
      val q = StreamingIngest.purchaseViewJoin(stream, "left_outer")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    drain()

    // batch2/3: later events on BOTH streams (the global watermark is the
    // minimum across inputs, so both sides must advance) push it past
    // batch1's join window
    Seq(
      (9L, ts("2024-01-02 10:00:00"), 99L, "view", 0.0, "{}"),
      (10L, ts("2024-01-02 10:30:00"), 99L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir.resolve("b2").toString)
    drain()
    Seq(
      (11L, ts("2024-01-03 10:00:00"), 99L, "view", 0.0, "{}"),
      (12L, ts("2024-01-03 10:30:00"), 99L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir.resolve("b3").toString)
    drain()

    val out = spark.read.parquet(outDir.toString).cache()
    // matched pair present
    assert(out.filter(col("purchase_id") === 2L && col("view_id") === 1L).count() == 1)
    // unmatched purchase emitted with NULL view columns after watermark passed
    assert(out.filter(col("purchase_id") === 3L && col("view_id").isNull).count() == 1)
  }

  test("stream-static enrichment: broadcast dim join on a stream") {
    val dir = Files.createTempDirectory("graft-enrich").toString
    val li = graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_partkey", "l_orderkey", "l_quantity")
    li.write.mode("overwrite").parquet(dir)
    val part = graft.tables.Tables.part(spark, "/root/testdata/sf0.001")
      .select("p_partkey", "p_name")

    val stream = spark.readStream.schema(li.schema).parquet(dir)
    val q = StreamingIngest.enriched(stream, part, "l_partkey", "p_partkey")
      .writeStream.format("memory").queryName("enriched_out").outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enriched_out")
    assert(got.count() == li.count()) // every partkey resolves
    assert(got.columns.contains("p_name"))
  }

  test("windowed aggregation with watermark over a replayed event stream") {
    // replay the corpus events table as a file stream (micro-precision ts)
    val dir = Files.createTempDirectory("graft-events").toString
    val batch = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    batch.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val agg = StreamingIngest.windowedEventCounts(stream)
    val q = agg.writeStream
      .format("memory").queryName("win_counts").outputMode("complete")
      .start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("win_counts")
    val expect = graft.ext.EventOps.q23TumblingWindows.run(spark, "/root/testdata/sf0.001")
    assert(got.count() == expect.count())
    // spot-check one window against the batch twin
    val g = got.orderBy(col("window_start"), col("event_type")).head()
    val e = expect.head()
    assert(g.getAs[Long]("n_events") == e.getAs[Long]("n_events"))
    assert(g.getAs[Double]("total_value") == e.getAs[Double]("total_value"))
  }
}
