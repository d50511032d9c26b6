package graft.streaming

import graft.jobs.ExtractJob
import graft.table.TranscriptTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming ingest (SURVEY.md §2.9: documented extension, not in
  * the equality contract — the north rule's resumable batches are the batch
  * path). readStream over the turns source → the SAME fused extraction →
  * foreachBatch into the Iceberg-like table, one manifest per micro-batch:
  * exactly-once via the manifest's idempotent commit keyed by batchId.
  *
  * Watermarked windowed aggregation over event time demonstrates the
  * late-data policy for the metrics stream. */
object StreamingExtract {

  /** Start extraction over a streaming turns DataFrame (schema: conv_id,
    * turn_idx, role, text, tool, ts). Each micro-batch runs the SAME
    * stage-then-commit flow as the batch job ([[ExtractJob.run]]), as one
    * batch that owns all `ExtractJob.Buckets` buckets: salted extraction →
    * conv_id-hashed, turn-ordered staged write that observes the batch's
    * lineage → CAS manifest commit carrying the lineage + n_turns (no
    * re-scan of the written files). Streaming ingest therefore gets the
    * identical exactly-once + resume story: Spark's checkpoint replays a
    * batch id after a crash, `isCommitted` no-ops committed replays, and a
    * batch killed in the staged-but-uncommitted window is invisible until
    * the replay overwrites and commits it (pinned by the kill/restart
    * StreamingSpec test). A micro-batch is its own failure unit.
    *
    * `crashHook` is a test-only failpoint invoked between stage and
    * commit — production callers leave the default no-op. */
  def start(spark: SparkSession, turnsStream: DataFrame, outTable: String,
      checkpointDir: String, crashHook: Long => Unit = _ => ()): StreamingQuery = {
    turnsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bid = f"s$batchId%06d"
        if (!TranscriptTable.isCommitted(outTable, bid)) {
          val (lineage, schema) = ExtractJob.stage(spark, batch,
            spark.sparkContext.defaultParallelism, outTable,
            Seq(ExtractJob.Batch(bid, 0, ExtractJob.Buckets)))
          crashHook(batchId)
          ExtractJob.commitStaged(outTable, bid, lineage, schema)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Per-minute turn counts with a 10-minute watermark (late turns beyond
    * the watermark are dropped from the aggregate — documented policy). */
  def turnRates(turnsStream: DataFrame): DataFrame =
    turnsStream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("role"))
      .agg(count(lit(1)).as("n_turns"))

  /** Streaming exact dedup for the ingestion path: keep the first arrival of
    * each distinct text, keyed by its 128-bit content hash. State is bounded
    * by the event-time watermark — a duplicate arriving within `horizon` of
    * the original is dropped; one arriving later than the watermark admits a
    * re-emit (the standard dropDuplicates-with-watermark contract). The
    * batch dedup ops (exact groups, MinHash/SimHash) remain the full-corpus
    * passes; this is the stream-side guard that keeps obvious repeats out of
    * the table in the first place. State shuffles on the well-distributed
    * content hash — a viral duplicate is ONE state row, not a hot key. */
  def dedupStream(turnsStream: DataFrame, horizon: String = "30 minutes"): DataFrame =
    turnsStream
      // null text must NOT collapse rows (md5(null) is null and null keys
      // group together): key null-text rows by their identity instead
      .withColumn("content_md5",
        coalesce(md5(col("text")),
          concat_ws(":", lit("null"), col("conv_id"), col("turn_idx"))))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_md5")
      .drop("content_md5")
}
