package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.state.StateTable

/** Streaming sketch maintenance: fold each micro-batch of documents into
  * a persistent Count-Min sketch. Count-Min is LINEAR — cells from
  * disjoint slices add — so the streamed sketch is *exactly* the batch
  * sketch over everything ingested, not an approximation of it; that
  * mergeability is why a d×w sketch can summarize a 100 TB stream in a
  * few KB of state per table.
  *
  * State lives in a [[StateTable]] (atomic version swap per batch, time
  * travel across batches for free); the merge is cell-wise sum —
  * shuffle bounded by d×w cells regardless of batch size.
  */
object StreamingSketch {

  /** Merge one micro-batch of documents (needs a `text` column) into the
    * sketch table. IDEMPOTENT per batchId: the sketch records the last
    * folded epoch, and a replayed micro-batch (failure after overwrite
    * but before the streaming checkpoint commits) is skipped instead of
    * double-counted — a cell merge is an increment, so without this
    * guard a replay would inflate every estimate permanently.
    */
  def mergeBatch(sketch: StateTable, docs: DataFrame, batchId: Long): Unit = {
    val cells = graft.ext.TextOps.cmsCells(docs)
    sketch.read() match {
      case None =>
        sketch.overwrite(cells.withColumn(BatchCol, lit(batchId)))
      case Some(prev) =>
        val lastMerged = prev.agg(max(col(BatchCol))).head().getLong(0)
        if (batchId > lastMerged) {
          val merged = prev.select(col("j"), col("bucket"), col("cnt"))
            .unionByName(cells)
            .groupBy(col("j"), col("bucket"))
            .agg(sum(col("cnt")).as("cnt"))
          sketch.overwrite(merged.withColumn(BatchCol, lit(batchId)))
        } // else: epoch already folded in — replay is a no-op
    }
  }

  /** Epoch watermark column persisted with the sketch (same value on
    * every row of a version).
    */
  val BatchCol = "_last_batch"

  /** Attach to a streaming Dataset of documents: one idempotent sketch
    * merge per micro-batch, keyed by the checkpointed batch id.
    */
  def attach(
      stream: DataFrame,
      sketch: StateTable,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, id: Long) => mergeBatch(sketch, batch, id))
      .start()
}
