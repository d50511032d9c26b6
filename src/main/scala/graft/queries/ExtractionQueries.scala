package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkEntry.sfOf
import graft.jobs.Synth
import graft.ops.Multimodal
import graft.pipeline.Udfs

/** The extraction engine over the synthetic transcript table, at the data
  * dir's scale. Rows-only: the kernel is pinned by the frozen per-turn
  * digests, not by an SQL oracle. */
object ExtractionQueries {

  private def turns(s: SparkSession, dir: String): DataFrame =
    Synth.turns(s, sfOf(dir), 16)

  val all: Seq[Query] = Seq(
    Query("x_extract_turns", (s, dir) =>
      // full data-dir SF (the former sf0.01 "Verify-speed cap" predated the
      // round-2..4 hot-path work; extraction now runs ~40k turns/s, so the
      // flagship row covers every synthesized turn at the data dir's scale)
      turns(s, dir).withColumn("ex", Udfs.extractTurn(col("text")))
        .select(col("conv_id"), col("turn_idx"), col("role"),
          col("ex.content").as("content"), col("ex.headline").as("headline"),
          col("ex.author").as("author"), col("ex.title").as("title"),
          col("ex.url").as("url"), col("ex.hostname").as("hostname"),
          col("ex.sitename").as("sitename"), col("ex.date").as("date"),
          col("ex.video").as("video"), col("ex.nBlocks").as("n_blocks"))),
    Query("x_blockify", (s, dir) =>
      // scalar columns only: the external checker lexsorts+hashes every
      // column, and an array<string> breaks pandas' sort. The block texts
      // are folded into a deterministic digest instead (the raw array form
      // is exercised by BlockifierSpec / the frozen per-turn digests).
      // single blockify pass: CollapseProject keeps the non-cheap UDF in
      // its own Project (3 references), so `bt` is evaluated once per row;
      // the \\u0001 joiner keeps block boundaries inside the digest
      turns(s, dir).withColumn("bt", Udfs.blockTexts(col("text")))
        .select(col("conv_id"), col("turn_idx"),
          size(col("bt")).as("n_blocks"),
          xxhash64(concat_ws("\u0001", col("bt"))).as("blocks_digest"),
          length(concat_ws("\u0001", col("bt"))).cast("long").as("blocks_chars"))),
    Query("x_turn_ordering", (s, dir) => {
      // stable-ordering invariant: turn_idx dense 0..n-1 per conversation
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      turns(s, dir).withColumn("rn", row_number().over(w) - 1)
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_turns"), max(col("turn_idx")).as("max_turn"),
          sum(when(col("rn") === col("turn_idx"), 0).otherwise(1)).as("order_violations"))
    }),
    Query("x_author_names", (s, dir) =>
      turns(s, dir).withColumn("ex", Udfs.extractTurn(col("text")))
        .select(col("conv_id"), col("turn_idx"),
          col("ex.rawAuthor").as("raw_author"), col("ex.author").as("author"))
        .filter(col("author").isNotNull)),
    Query("x_media_features", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.synthMedia(s, 2000))))
}
