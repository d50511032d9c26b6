package graft.jobs

import graft.pipeline.{Extracted, Udfs}
import graft.table.{Lineage, TranscriptTable}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.sql.Timestamp
import scala.concurrent.Await
import scala.concurrent.duration._

/** Extracted row = turn keys + the wide extraction struct: a typed view
  * (`as`, no deserialize step) of the frame [[ExtractJob.extractTurns]]
  * builds with [[Udfs.extractTurn]]. */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    ts: Timestamp,
    conv_bucket: Int,
    ex: Extracted)

/** The production extraction job (SURVEY.md §3.1 Spark shape). One run is
  * one Spark query over every pending (uncommitted) batch:
  *
  *   read turns (column-pruned scan: conv_id, turn_idx, role, text, tool, ts)
  *   → conv_bucket filter to the pending      (xxhash64 after the scan: the
  *     batches' ranges                         input is read once per run)
  *   → salted repartition                     (shuffle #1, skew-proof map stage)
  *   → Project extract_turn(text) AS ex       (fused stages 2,4-8, once per row)
  *   → batch column from conv_bucket
  *   → repartitionById(batch's task range     (shuffle #2: each task holds one
  *       + hash(conv_id) within it)            batch; each conversation whole)
  *     .sortWithinPartitions(batch, conv_id,  (turn-ordered in one file; one
  *                           turn_idx)         file per write task)
  *   → observe(per-bucket lineage)            (in the write's result stage)
  *   → TranscriptTable.writeData              (partitionBy(batch), dynamic
  *                                              overwrite: staged, invisible)
  *   → commitStaged per batch: manifest with  (driver-built, atomic commit)
  *     its bucket slice of the lineage
  *
  * The extraction is a pure per-turn function — embarrassingly parallel —
  * which is what makes ≥0.8 N→4N scaling efficiency achievable. Batches are
  * conv_bucket ranges and stay the commit unit; a killed run resumes by
  * skipping committed manifests. The failure unit is the run: a failure
  * before the commits leaves every pending batch uncommitted, and the
  * rerun extracts them all again. */
object ExtractJob {

  /** A resumable batch: its id and the conv_bucket range [lo, hi) it owns. */
  final case class Batch(id: String, lo: Int, hi: Int) {
    def buckets: Range = lo until hi

    /** This batch's slice of a run's observed lineage: the buckets it owns
      * keep their counters, every other bucket reads zero. */
    def lineageOf(lineage: Seq[Long]): Seq[Long] =
      lineage.zipWithIndex.map { case (v, i) => if (buckets.contains(i / Lineage.Slots)) v else 0L }
  }

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
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"), col("ts"),
        col("conv_bucket"), Udfs.extractTurn(col("text")).as("ex"))
      .as[ExtractedTurn]
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

  /** How [[stage]] routes a row to a write task: `tasks` write tasks,
    * `per = ceil(parts / batches.size)` for each batch. `task` is
    * `idx * per + pmod(hash(conv_id), per)`, where `idx` is the position in
    * `batches` of the batch owning the row's conv_bucket, and `batch` is
    * that batch's id, read from the same `idx`. Every row must belong to
    * one of `batches`: the exchange does not reject a null task (Spark
    * 4.1 sends it to task 0, and an out-of-range one to its `pmod`), so
    * [[stage]] filters its input to the batches' buckets first.
    *
    * The spread within a batch is Murmur3 `hash`, not `xxhash64`:
    * conv_bucket is `pmod(xxhash64(conv_id), 64)`, so `pmod(xxhash64, per)`
    * would follow the bucket whenever `per` divides 64 and leave some of a
    * batch's tasks empty. */
  final case class WriteRouting(tasks: Int, task: Column, batch: Column)

  def writeRouting(batches: Seq[Batch], parts: Int): WriteRouting = {
    val per = (parts + batches.size - 1) / batches.size
    def owns(b: Batch) = col("conv_bucket").between(b.lo, b.hi - 1)
    val idx = batches.indices.tail.foldLeft(when(owns(batches.head), 0))(
      (c, i) => c.when(owns(batches(i)), i))
    WriteRouting(batches.size * per,
      idx * per + pmod(hash(col("conv_id")), lit(per)),
      element_at(typedLit(batches.map(_.id)), idx + 1))
  }

  /** Extract `turns` and stage them as `batches` in one write: each row
    * lands in the data directory of the batch owning its conv_bucket, and
    * every batch stays invisible until [[commitStaged]]. Returns the
    * lineage the write observed (a flat `Buckets × Lineage.Slots` fold over
    * all of `batches`; [[Batch.lineageOf]] slices it per batch) and the
    * schema it wrote.
    *
    * Layout: routed by [[writeRouting]] (each write task holds rows of one
    * batch only, spread over its tasks by `hash(conv_id)`) and sorted by
    * (batch, conv_id, turn_idx) within a partition, so each conversation is
    * whole and turn-ordered in one file, and a batch gets at most
    * `ceil(parts / batches.size)` files. A range exchange would run a
    * sampling job that recomputes the extraction; the pass-through
    * exchange does not. The trade-off: one giant conversation skews one
    * write task, while the extraction stays salted.
    *
    * Scale-safe, exactly-once lineage: extraction runs once, streamed
    * straight to parquet (no cache, which at 100 TB would double I/O), and
    * the lineage is folded by the write job itself. The aggregate sits
    * after the sort, so it runs in the write's result stage, and Spark
    * applies a result task's accumulator updates once per partition: a
    * retried or speculative task cannot count a row twice.
    *
    * The write overwrites only the directories of batches that get rows
    * (dynamic partition overwrite), so a staged-but-uncommitted directory
    * of a killed run is replaced and a committed one is never touched. A
    * batch with no rows gets one empty file that carries the schema. */
  def stage(spark: SparkSession, turns: DataFrame, parts: Int, outTable: String,
      batches: Seq[Batch]): (Seq[Long], StructType) = {
    val owned = turns.withColumn("conv_bucket", bucketCol)
      .filter(col("conv_bucket").isin(batches.flatMap(_.buckets): _*))
    val extracted = extractTurns(spark, owned, parts).toDF()
    val route = writeRouting(batches, parts)
    val ordered = extracted.withColumn("batch", route.batch)
      .repartitionById(route.tasks, route.task)
      .sortWithinPartitions("batch", "conv_id", "turn_idx")
    val obs = Observation()
    TranscriptTable.writeData(ordered.observe(obs, lineageColumn), outTable)
    val lineage = observedLineage(obs)
    batches.filter(_.buckets.forall(k => lineage(k * Lineage.Slots) == 0L))
      .foreach(b => TranscriptTable.writeData(
        spark.createDataFrame(java.util.List.of[Row](), extracted.schema), outTable, b.id))
    (lineage, extracted.schema)
  }

  /** Run extraction over a turns DataFrame into an Iceberg-like table, in
    * `nBatches` resumable bucket-range batches: one query stages every
    * pending batch, then each is committed with its slice of the lineage,
    * in id order. A fully committed table starts no Spark job.
    * `nBatches` must be in 1 to [[Buckets]]. */
  def run(spark: SparkSession, turns: DataFrame, outTable: String,
      nBatches: Int = 4, saltPartitions: Int = 0): Unit = {
    require(1 <= nBatches && nBatches <= Buckets,
      s"nBatches must be in [1, $Buckets], got $nBatches")
    val parts = if (saltPartitions > 0) saltPartitions
      else spark.sparkContext.defaultParallelism
    val perBatch = (Buckets + nBatches - 1) / nBatches
    val pending = (0 until nBatches)
      .map(b => Batch(f"b$b%03d", b * perBatch, math.min((b + 1) * perBatch, Buckets)))
      .filterNot(b => TranscriptTable.isCommitted(outTable, b.id))
    if (pending.nonEmpty) {
      val (lineage, schema) = stage(spark, turns, parts, outTable, pending)
      pending.foreach(b => commitStaged(outTable, b.id, b.lineageOf(lineage), schema))
    }
  }

  /** CAS-commit a STAGED batch with the lineage its write observed: the
    * manifest's `lineage` entry holds every counter of each non-empty
    * bucket ([[Lineage]]), and [[TranscriptTable.commit]] records the
    * written schema in its reader-side (relaxed) form. Driver-only: no
    * Spark job, and no byte of the batch is read back. The tail of [[run]],
    * shared verbatim with the streaming foreachBatch path so both ingest
    * modes get the same manifest shape (lineage + n_turns) and resume
    * story. */
  def commitStaged(outTable: String, batchId: String, lineage: Seq[Long],
      schema: StructType): Unit =
    TranscriptTable.commit(outTable, batchId, schema, Map(
      "lineage" -> Lineage.encode(lineage),
      "n_turns" -> lineage.grouped(Lineage.Slots).map(_.head).sum.toString))

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(0.01)
    val outTable = if (args.length > 1) args(1) else "/tmp/graft_extracted"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
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
