package graft

import org.apache.spark.sql.SparkSession

import graft.core.Schemas
import graft.ingest.Ingest
import graft.reports.Reports
import graft.schemasync.SchemaSync
import graft.state.StateTable
import graft.streaming.StreamingIngest

/** End-to-end pipeline entry point — the reference's `main.py` flow
  * (`main.py:9–32`, R4 sequencing): schema sync first, then ingestion
  * (upsert), then the report surface.
  *
  * Usage:
  *   runMain graft.Pipeline <ordersCsv> <inventoryCsv> <warehouseDir>
  *   runMain graft.Pipeline --stream <landingDir> <inventoryCsv> <warehouseDir>
  *
  * Batch mode ingests both CSVs once (re-runnable: upsert semantics make
  * it idempotent at the key level). Stream mode watches `landingDir` for
  * orders CSVs and drains what is present (AvailableNow), using the same
  * upsert path.
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--sessions")) { runSessions(args.drop(1)); return }
    if (args.headOption.contains("--attribution")) { runAttribution(args.drop(1)); return }
    val streaming = args.headOption.contains("--stream")
    val rest = if (streaming) args.drop(1) else args
    if (rest.length != 3) {
      System.err.println(
        "usage: graft.Pipeline [--stream] <ordersCsvOrLandingDir> <inventoryCsv> <warehouseDir>")
      sys.exit(2)
    }
    val Array(ordersPath, inventoryPath, warehouse) = rest

    val spark = sessionFor("graft-pipeline")

    val ordersTable = new StateTable(spark, s"$warehouse/orders", Schemas.ordersKey)
    val inventoriesTable = new StateTable(spark, s"$warehouse/inventories", Schemas.inventoriesKey)

    // 1. schema sync before ingest (main.py:17-25)
    val c1 = SchemaSync.sync(spark, ordersTable, Schemas.orders, protectedCols = Schemas.ordersKey.toSet)
    val c2 = SchemaSync.sync(spark, inventoriesTable, Schemas.inventories, protectedCols = Schemas.inventoriesKey.toSet)
    println(s"[pipeline] schema sync: orders=$c1 inventories=$c2")

    // 2. ingest — reads/upserts retried at the driver like the
    // reference's Prefect task retries (R1: retries=3, delay 5 s)
    Ingest.retried {
      inventoriesTable.upsert(Ingest.readInventoriesCsv(spark, inventoryPath))
    }
    if (streaming) {
      val q = StreamingIngest.runOrdersIngest(spark, ordersPath, ordersTable, s"$warehouse/_checkpoints/orders")
      q.awaitTermination()
      println(s"[pipeline] streaming ingest drained from $ordersPath")
    } else {
      Ingest.retried {
        ordersTable.upsert(Ingest.readOrdersCsv(spark, ordersPath))
      }
    }

    val orders = ordersTable.current().get
    val inventories = inventoriesTable.current().get
    println(s"[pipeline] state: orders=${orders.count()} rows, inventories=${inventories.count()} rows")

    // 3. report surface (README.md:40-148)
    println("[pipeline] 1. total revenue per product")
    Reports.revenuePerProduct(orders, inventories).show(5, truncate = false)
    println("[pipeline] 2. low stock")
    Reports.lowStock(inventories).show(5, truncate = false)
    println("[pipeline] 3. orders per product per month")
    Reports.ordersPerMonth(orders, inventories).show(5, truncate = false)
    println("[pipeline] 4. revenue per category")
    Reports.revenuePerCategory(orders, inventories).show(5, truncate = false)
    println("[pipeline] 5. inventory status (first inventory product)")
    val firstId = inventories.select("product_id").head().getString(0)
    Reports.inventoryStatus(orders, inventories, firstId).show(truncate = false)
    println("[pipeline] 6. most sold per category")
    Reports.mostSoldPerCategory(orders, inventories).show(5, truncate = false)

    spark.stop()
  }

  /** `--attribution <sfDir>`: replay events and run the stream-stream
    * interval join (purchases ⋈ same-user views within 1 hour, watermarks
    * on both sides).
    */
  private def runAttribution(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = sessionFor("graft-attribution")
    import org.apache.spark.sql.functions.col

    val replayDir = java.nio.file.Files.createTempDirectory("graft-attr").toString
    val batch = graft.tables.Tables.events(spark, sfDir)
    batch.write.mode("overwrite").parquet(replayDir)

    val stream = spark.readStream.schema(batch.schema).parquet(replayDir)
    val q = streaming.StreamingIngest.purchaseViewJoin(stream)
      .writeStream.format("memory").queryName("attr_cli").outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("attr_cli")
    println(s"[pipeline] attributed purchase-view pairs: ${out.count()}")
    out.orderBy(col("user_id"), col("p_ts")).show(10, truncate = false)
    spark.stop()
  }

  private def sessionFor(name: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(name)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `--sessions <sfDir>`: replay the corpus events table as a stream and
    * run the stateful (`flatMapGroupsWithState`) sessionizer, printing
    * emitted (closed) sessions — the streaming twin of `q30_sessionize`.
    */
  private def runSessions(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = sessionFor("graft-sessions")
    import spark.implicits._
    import org.apache.spark.sql.functions.col

    val replayDir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val batch = graft.tables.Tables.events(spark, sfDir)
    batch.write.mode("overwrite").parquet(replayDir)

    val stream = spark.readStream.schema(batch.schema).parquet(replayDir)
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), col("ts"), col("value"))
      .as[streaming.StatefulSessions.Event]
    val q = streaming.StatefulSessions.sessionize(stream).toDF()
      .writeStream.format("memory").queryName("sessions_cli").outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sessions_cli")
    println(s"[pipeline] closed sessions: ${out.count()}")
    out.orderBy(col("user_id"), col("session_start")).show(10, truncate = false)
    spark.stop()
  }
}
