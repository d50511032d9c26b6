package graft.jobs

import graft.pipeline.{Extract, Extracted}
import graft.table.TranscriptTable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

final case class TurnB(conv_id: String, turn_idx: Int, role: String,
    text: String, tool: String, ts: Timestamp, conv_bucket: Int)

/** Extracted row = turn keys + the wide extraction struct. */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    ts: Timestamp,
    conv_bucket: Int,
    ex: Extracted)

/** The production extraction job (SURVEY.md §3.1 Spark shape):
  *
  *   read turns (column-pruned scan: conv_id, turn_idx, role, text, tool, ts)
  *   → per-batch conv_bucket filter           (partition-prunable predicate)
  *   → salted repartition                     (shuffle #1, skew-proof map stage)
  *   → mapPartitions Extract.extract          (fused stages 2,4-8; no shuffle)
  *   → repartitionByRange(conv_id, turn_idx)
  *     .sortWithinPartitions                  (shuffle #2, stable turn order)
  *   → TranscriptTable.writeBatch             (atomic manifest commit)
  *   → lineage/metrics groupBy(conv_bucket)   (shuffle #3, tiny)
  *
  * The extraction map is a pure per-turn function — embarrassingly parallel —
  * which is what makes ≥0.8 N→4N scaling efficiency achievable. Batches are
  * conv_bucket ranges; a killed run resumes by skipping committed manifests. */
object ExtractJob {

  val Buckets = 64

  def bucketCol: org.apache.spark.sql.Column =
    pmod(xxhash64(col("conv_id")), lit(Buckets)).cast("int")

  def extractTurns(spark: SparkSession, turns: DataFrame, saltPartitions: Int): Dataset[ExtractedTurn] = {
    import spark.implicits._
    turns
      .withColumn("conv_bucket",
        if (turns.columns.contains("conv_bucket")) col("conv_bucket") else bucketCol)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "conv_bucket")
      // salt: uniform shuffle on (conv_id, turn_idx) so one long conversation
      // cannot pin a single task (north rule skew handling)
      .repartition(saltPartitions, xxhash64(col("conv_id"), col("turn_idx")))
      .as[TurnB]
      .mapPartitions { it =>
        it.map { t =>
          val ex = Extract.extractCached(t.text)
          ExtractedTurn(t.conv_id, t.turn_idx, t.role, t.tool, t.ts, t.conv_bucket, ex)
        }
      }
  }

  /** Lineage + metrics rows per (batch, conv_bucket): counts and an
    * order-independent xxhash64 XOR digest over (conv_id, turn_idx, content)
    * — cheap at 10^12 rows, no sort needed (FIXTURES.md §3.3). */
  def lineage(out: DataFrame, batchId: String): DataFrame = {
    out.groupBy(col("conv_bucket"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(col("ex.nBlocks")).as("n_blocks"),
        count(col("ex.content")).as("n_content_nonnull"),
        count(col("ex.error")).as("n_errors"),
        // BIT_XOR aggregate of row hashes: order-independent, mergeable
        expr("bit_xor(xxhash64(conv_id, turn_idx, coalesce(ex.content, '')))").as("content_digest"))
      .withColumn("batch_id", lit(batchId))
  }

  /** Run extraction over a turns DataFrame into an Iceberg-like table,
    * in `nBatches` resumable bucket-range batches. */
  def run(spark: SparkSession, turns: DataFrame, outTable: String,
      nBatches: Int = 4, saltPartitions: Int = 0): Unit = {
    val parts = if (saltPartitions > 0) saltPartitions
      else spark.sparkContext.defaultParallelism
    val withBucket = turns.withColumn("conv_bucket", bucketCol)
    val perBatch = (Buckets + nBatches - 1) / nBatches
    (0 until nBatches).foreach { b =>
      val batchId = f"b$b%03d"
      if (!TranscriptTable.isCommitted(outTable, batchId)) {
        val lo = b * perBatch
        val hi = math.min((b + 1) * perBatch, Buckets)
        val slice = withBucket.filter(col("conv_bucket") >= lo && col("conv_bucket") < hi)
        val extracted = extractTurns(spark, slice, parts)
        val ordered = extracted.toDF()
          .repartitionByRange(math.max(1, parts / 4), col("conv_id"), col("turn_idx"))
          .sortWithinPartitions("conv_id", "turn_idx")
        // scale-safe lineage: stage the data files first (extraction runs
        // exactly once, streamed straight to parquet — no whole-batch cache,
        // which at 100 TB would double I/O), then derive lineage by
        // re-scanning the just-written files. That scan is columnar and
        // narrow (5 scalar columns + ex.content), a tiny fraction of the
        // written bytes. The batch stays invisible until commit.
        TranscriptTable.writeData(ordered, outTable, batchId)
        commitStaged(spark, outTable, batchId)
      }
    }
  }

  /** Derive lineage from a STAGED batch's parquet (narrow columnar re-scan)
    * and CAS-commit it — the tail of the batch loop, shared verbatim with
    * the streaming foreachBatch path so both ingest modes get the same
    * manifest shape (lineage summary + n_turns) and resume story. */
  def commitStaged(spark: SparkSession, outTable: String, batchId: String): Unit = {
    val written = spark.read.parquet(TranscriptTable.dataDir(outTable, batchId))
    val linDf = lineage(written, batchId)
    val lin = linDf.collect() // <= Buckets rows
    val linStr = lin.sortBy(_.getAs[Int]("conv_bucket")).map(r =>
      s"${r.getAs[Int]("conv_bucket")}:${r.getAs[Long]("n_turns")}:${r.getAs[Long]("content_digest")}")
      .mkString(";")
    TranscriptTable.commitWithLineage(linDf, outTable, batchId,
      Map("lineage" -> linStr,
          "n_turns" -> lin.map(_.getAs[Long]("n_turns")).sum.toString,
          "schema" -> written.schema.json))
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(0.01)
    val outTable = if (args.length > 1) args(1) else "/tmp/graft_extracted"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.session(cpus)
    val turns = Synth.turns(spark, sf, cpus.toInt * 2)
    val t0 = System.nanoTime()
    run(spark, turns, outTable)
    val secs = (System.nanoTime() - t0) / 1e9
    val n = TranscriptTable.read(spark, outTable).count()
    println(f"extracted $n turns in $secs%.1f s (${n / secs}%.1f turns/s)")
    spark.stop()
  }
}
