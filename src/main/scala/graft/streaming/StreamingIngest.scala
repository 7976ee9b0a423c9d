package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.core.Schemas
import graft.ingest.Ingest
import graft.state.StateTable

/** Structured Streaming ingestion (SURVEY.md §7.1 step 6): the
  * reference's "re-run the batch when a new file lands" semantics
  * (`main.py:29–32`), expressed as a file-source stream over a landing
  * directory with `foreachBatch` feeding the *same* upsert code path as
  * batch ingestion — batch–stream parity by construction.
  *
  * Scale notes: the file source tracks processed files in the checkpoint
  * (exactly-once per file); each micro-batch is a normal distributed job,
  * so ingest throughput scales with executors. Windowed aggregation uses
  * event-time + watermark, so state is bounded regardless of stream
  * length.
  */
object StreamingIngest {

  /** Streaming variant of [[Ingest.readOrdersCsv]] — same schema, same
    * normalization.
    */
  def ordersStream(spark: SparkSession, landingDir: String): DataFrame =
    Ingest.normalizeOrders(
      spark.readStream
        .schema(Schemas.ordersRaw)
        .option("header", "true")
        .option("nullValue", "")
        .option("emptyValue", "")
        .csv(landingDir))

  /** Continuous upsert into a [[StateTable]]; `AvailableNow` drains what
    * is currently in the landing dir and stops (swap the trigger for a
    * long-running deployment).
    *
    * Spark describes every micro-batch job by the query's name, so the
    * query is named after the calling thread's job description when
    * one is set (a lifecycle step's `<prefix>/<step>`), else
    * `orders_ingest`: a drain's jobs then carry the step that ran it.
    */
  def runOrdersIngest(
      spark: SparkSession,
      landingDir: String,
      table: StateTable,
      checkpointDir: String): StreamingQuery =
    ordersStream(spark, landingDir).writeStream
      // a unique suffix per start: Spark forbids two ACTIVE queries
      // sharing a name in one session, and the invocation-dir convention
      // (q162) explicitly supports concurrent executions of the same
      // judged query — a fixed name would make the second start throw
      .queryName(Option(spark.sparkContext.getLocalProperty("spark.job.description"))
        .getOrElse("orders_ingest") + "_" + java.util.UUID.randomUUID().toString.take(8))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        table.upsert(batch)
      }
      .start()

  /** Streaming exact deduplication: one surviving row per key within the
    * watermark horizon (`dropDuplicatesWithinWatermark` keeps state only
    * for `lateness`, so dedup state is bounded no matter how long the
    * stream runs — the streaming twin of q12's batch dedup).
    */
  def dedupedEvents(
      events: DataFrame,
      keys: Seq[String] = Seq("user_id", "event_type", "ts"),
      lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-static enrichment: join a fact stream against a broadcast
    * static dimension — the dimension is re-read per micro-batch (picks
    * up slowly-changing dims) and never forces the stream to shuffle.
    */
  def enriched(stream: DataFrame, dim: DataFrame, streamKey: String, dimKey: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim),
      stream(streamKey) === dim(dimKey))

  /** Stream-stream interval join: purchases joined to the same user's
    * views within the preceding hour. Watermarks on BOTH sides bound the
    * join state (views older than watermark + interval are evicted), so
    * state stays proportional to the active window, not stream history.
    */
  def purchaseViewJoin(events: DataFrame, joinType: String = "inner"): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "30 minutes")
    val views = events
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("interval 1 hour"),
      joinType)
      .select(col("user_id"), col("purchase_id"), col("p_ts"), col("view_id"), col("v_ts"))
  }

  /** Event-time tumbling-window aggregation with a watermark (late rows
    * beyond `lateness` are dropped; state for closed windows is evicted).
    * Works on any streaming frame with (ts, event_type, value).
    */
  def windowedEventCounts(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
}
