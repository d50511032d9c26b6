package graft.jobs

import graft.pipeline.{Extract, Extracted}
import graft.table.{Lineage, TranscriptTable}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.sql.Timestamp
import scala.concurrent.Await
import scala.concurrent.duration._

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
  *   → per-batch conv_bucket filter           (xxhash64 after the scan, not
  *                                              pruned: every batch reads all input)
  *   → salted repartition                     (shuffle #1, skew-proof map stage)
  *   → mapPartitions Extract.extract          (fused stages 2,4-8; no shuffle)
  *   → repartitionByRange(conv_id, turn_idx)
  *     .sortWithinPartitions                  (shuffle #2, stable turn order)
  *   → observe(per-bucket lineage)            (in the write's result stage)
  *   → TranscriptTable.writeData              (staged, invisible)
  *   → commitStaged: manifest with lineage    (driver-built, atomic commit)
  *
  * The extraction map is a pure per-turn function — embarrassingly parallel —
  * which is what makes ≥0.8 N→4N scaling efficiency achievable. Batches are
  * conv_bucket ranges; a killed run resumes by skipping committed manifests. */
object ExtractJob {

  val Buckets = Lineage.Buckets

  def bucketCol: Column =
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

  /** The per-bucket lineage aggregate over extracted rows, as a flat
    * `Buckets × Lineage.Slots` array. The digest input is Spark's own
    * `xxhash64(conv_id, turn_idx, coalesce(ex.content, ''))`, so it is
    * cheap at 10^12 rows and needs no sort (FIXTURES.md §3.3). */
  def lineageColumn: Column =
    udaf(Lineage).apply(col("conv_bucket"), coalesce(col("ex.nBlocks"), lit(0)),
      col("ex.content").isNotNull, col("ex.error").isNotNull,
      xxhash64(col("conv_id"), col("turn_idx"), coalesce(col("ex.content"), lit(""))))
      .as("lineage")

  /** The lineage an `observe(obs, lineageColumn)` saw, once its action ends.
    * The observation is reported when the action's query completes; a
    * bounded wait turns one that never arrives into an error, and the batch
    * stays uncommitted. */
  def observedLineage(obs: Observation): Seq[Long] =
    Await.result(obs.future, 10.minutes).getAs[Seq[Long]]("lineage")

  /** Extract `turns`, range-order them by (conv_id, turn_idx) and stage
    * them as batch `batchId`: the data files are written and the batch
    * stays invisible until [[commitStaged]]. Returns the lineage the write
    * observed (a flat `Buckets × Lineage.Slots` fold, recorded by
    * [[commitStaged]] in the manifest) and the schema it wrote.
    *
    * Scale-safe, exactly-once lineage: extraction runs once, streamed
    * straight to parquet (no whole-batch cache, which at 100 TB would
    * double I/O), and the lineage is folded by the write job itself. The
    * aggregate sits after the sort, so it runs in the write's result stage,
    * and Spark applies a result task's accumulator updates once per
    * partition: a retried or speculative task cannot count a row twice. */
  def stage(spark: SparkSession, turns: DataFrame, parts: Int, outTable: String,
      batchId: String): (Seq[Long], StructType) = {
    val ordered = extractTurns(spark, turns, parts).toDF()
      .repartitionByRange(math.max(1, parts / 4), col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx")
    val obs = Observation()
    TranscriptTable.writeData(ordered.observe(obs, lineageColumn), outTable, batchId)
    (observedLineage(obs), ordered.schema)
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
        val (lineage, schema) = stage(spark, slice, parts, outTable, batchId)
        commitStaged(outTable, batchId, lineage, schema)
      }
    }
  }

  /** CAS-commit a STAGED batch with the lineage its write observed: the
    * manifest's `lineage` entry holds every counter of each non-empty
    * bucket ([[Lineage]]), and its schema is the written one as a reader
    * sees it (every field nullable). Driver-only: no Spark job, and no byte
    * of the batch is read back. The tail of the batch loop, shared verbatim
    * with the streaming foreachBatch path so both ingest modes get the same
    * manifest shape (lineage + n_turns) and resume story. */
  def commitStaged(outTable: String, batchId: String, lineage: Seq[Long],
      schema: StructType): Unit = {
    TranscriptTable.commit(outTable, batchId, Map(
      "lineage" -> Lineage.encode(lineage),
      "n_turns" -> lineage.grouped(Lineage.Slots).map(_.head).sum.toString,
      "schema" -> TranscriptTable.relaxNullable(schema).json))
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(0.01)
    val outTable = if (args.length > 1) args(1) else "/tmp/graft_extracted"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.session(cpus)
    val turns = Synth.turns(spark, sf, cpus.toInt * 2)
    // a resume skips committed batches: rate only the turns this run commits
    val before = TranscriptTable.committedRowCount(outTable)
    val t0 = System.nanoTime()
    run(spark, turns, outTable)
    val secs = (System.nanoTime() - t0) / 1e9
    val n = TranscriptTable.committedRowCount(outTable) - before
    println(f"extracted $n new turns in $secs%.1f s (${n / secs}%.1f turns/s)")
    spark.stop()
  }
}
