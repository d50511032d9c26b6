package perfbench

import graft.jobs.{Synth, Turn}
import graft.pipeline.Extract
import graft.table.TranscriptTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Expected outcome of one extraction over a workload's input, computed once
  * in set-up by an un-memoized `Extract.extract` pass. */
final case class Reference(turns: Long, digest: Long, errors: Long, distinctTexts: Long)

/** A seeded extraction workload: how its input is generated, how many
  * resumable batches `ExtractJob.run` cuts it into, and its reference. */
sealed trait Workload {
  def name: String
  def nBatches: Int
  /** Generates the seeded input; the program only ever sees the parquet. */
  def input(spark: SparkSession, seed: Long, partitions: Int): DataFrame
  def reference(spark: SparkSession, input: DataFrame): Reference
}

object Workload {

  /** Same digest expression as the program's lineage, so the XOR over the
    * manifests must equal the XOR over the reference rows. */
  private val DigestExpr = "bit_xor(xxhash64(conv_id, turn_idx, coalesce(content, '')))"

  private def summarize(rows: DataFrame, input: DataFrame): Reference = {
    val r = rows.agg(count(lit(1)), expr(DigestExpr), count(col("error"))).head()
    Reference(r.getLong(0), r.getLong(1), r.getLong(2),
      input.select("text").distinct().count())
  }

  /** Conversation ids of a run start at (seed mod 2^31) × this. It is a
    * multiple of 19 and 191, the periods of Synth's 60- and 500-turn
    * conversations, so every seed gets the same number of long conversations
    * and about the same number of turns; and a multiple of 1000, so no run's
    * ids cross a power of ten. */
  val ConvStride: Long = 19L * 191L * 1000L

  /** First conversation id of a seed's input. Any seed, negative or large,
    * gives an id that fits a `Long` with room to spare. */
  def convOffset(seed: Long): Long = Math.floorMod(seed, 1L << 31) * ConvStride

  /** Turn time from the conversation's position in the run, not its id: a
    * large id would put `Synth`'s id-derived time beyond what Spark's
    * microsecond timestamps hold. */
  def turnTs(i: Long, t: Int): java.sql.Timestamp =
    new java.sql.Timestamp(1700000000000L + i * 3600000L + t * 30000L)

  /** Synth turns over `nConv` conversations whose ids start at an offset
    * derived from the seed: ~88% distinct texts, many beyond the memo. */
  final case class Mixed(nConv: Long) extends Workload {
    val name = "extract_mixed"
    val nBatches = 4
    def input(spark: SparkSession, seed: Long, partitions: Int): DataFrame = {
      import spark.implicits._
      val off = convOffset(seed)
      spark.range(0, nConv, 1, partitions).flatMap { i =>
        val c = off + i
        (0 until Synth.turnsPerConv(c)).iterator.map(t => Synth.makeTurn(c, t).copy(ts = turnTs(i, t)))
      }.toDF()
    }
    def reference(spark: SparkSession, input: DataFrame): Reference = {
      import spark.implicits._
      val rows = input.as[Turn].mapPartitions(_.map { t =>
        val ex = Extract.extract(t.text)
        (t.conv_id, t.turn_idx, ex.content, ex.error)
      }).toDF("conv_id", "turn_idx", "content", "error")
      summarize(rows, input)
    }
  }

  /** 256 short Synth payloads: every text fits the memo's length limit. */
  lazy val Pool: Array[String] =
    Iterator.from(0).map(k => Synth.payload(k.toLong, 0L)).filter(_.length <= 8192)
      .take(256).toArray

  /** Unique (conv_id, turn_idx) keys whose texts are drawn by a seeded hash
    * from [[Pool]], cut into many batches: the memo serves almost every turn
    * and the per-batch shuffle, sort, write, rescan and commit dominate. */
  final case class Repeat(nConv: Long, nBatches: Int) extends Workload {
    val name = "extract_repeat"
    def input(spark: SparkSession, seed: Long, partitions: Int): DataFrame = {
      import spark.implicits._
      val off = convOffset(seed)
      val pool = Pool
      spark.range(0, nConv, 1, partitions).flatMap { i =>
        val c = off + i
        (0 until Synth.turnsPerConv(c)).iterator.map { t =>
          val k = (Synth.mix(Synth.mix(seed ^ 0x5eedL) ^ c) ^ t.toLong) & 0xffL
          val role = Synth.role(c, t)
          Turn(f"conv-$c%08d", t, role, pool(k.toInt),
            if (role == "tool") "run_query" else null,
            turnTs(i, t))
        }
      }.toDF()
    }
    def reference(spark: SparkSession, input: DataFrame): Reference = {
      import spark.implicits._
      val byText = Pool.distinct.toSeq.map { t =>
        val ex = Extract.extract(t)
        (t, ex.content, ex.error)
      }.toDF("text", "content", "error")
      summarize(input.join(broadcast(byText), "text")
        .select("conv_id", "turn_idx", "content", "error"), input)
    }
  }

  /** Order-independent digest of an input table, to check that set-up
    * writes the same input for the same seed every time. */
  def inputDigest(input: DataFrame): Long =
    input.agg(expr("bit_xor(xxhash64(conv_id, turn_idx, role, text, tool, ts))")).head().getLong(0)

  /** XOR of the lineage `content_digest` of every committed manifest. */
  def manifestDigest(table: String): Long = {
    val p = java.util.regex.Pattern.compile("\"lineage\": \"([^\"]*)\"")
    TranscriptTable.committedBatches(table).map { b =>
      val json = new String(Files.readAllBytes(
        TranscriptTable.manifestDir(table).resolve(s"manifest-$b.json")), "UTF-8")
      val m = p.matcher(json)
      require(m.find(), s"manifest $b has no lineage")
      m.group(1).split(";").filter(_.nonEmpty).map(_.split(":")(2).toLong)
        .foldLeft(0L)(_ ^ _)
    }.foldLeft(0L)(_ ^ _)
  }

  /** Output checks on a committed table; returns the names of those that
    * failed. One pass collects every committed row's key, error flag and
    * position in its file. Runs outside the timed interval. */
  def check(spark: SparkSession, table: String, ref: Reference, nBatches: Int): Seq[String] = {
    val failed = Seq.newBuilder[String]
    if (TranscriptTable.committedBatches(table).size != nBatches) failed += "committed_batches"
    if (manifestDigest(table) != ref.digest) failed += "lineage_digest"
    val rows = TranscriptTable.read(spark, table)
      .select(col("_metadata.file_path"), col("_metadata.row_index"), col("conv_id"),
        col("turn_idx"), col("ex.error").isNotNull)
      .collect()
    if (rows.length != ref.turns) failed += "row_count"
    if (rows.map(r => (r.getString(2), r.getInt(3))).distinct.length != rows.length)
      failed += "unique_keys"
    if (rows.count(_.getBoolean(4)) != ref.errors) failed += "error_rows"
    // (conv_id, turn_idx) ascending by position inside each written file
    val ordered = rows.groupBy(_.getString(0)).values.forall { rs =>
      val keys = rs.sortBy(_.getLong(1)).map(r => (r.getString(2), r.getInt(3)))
      keys.zip(keys.drop(1)).forall { case ((c0, t0), (c1, t1)) =>
        c0 < c1 || (c0 == c1 && t0 < t1) }
    }
    if (!ordered) failed += "file_turn_order"
    failed.result()
  }

  /** Bytes and number of the parquet files under a directory. */
  def files(dir: String): (Long, Int) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return (0L, 0)
    val s = Files.walk(root)
    try {
      val fs = s.iterator.asScala.filter(p => p.toString.endsWith(".parquet")).toSeq
      (fs.map(Files.size).sum, fs.size)
    } finally s.close()
  }
}
