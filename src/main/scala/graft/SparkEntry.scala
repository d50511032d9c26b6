package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.Synth
import graft.pipeline.Udfs
import graft.queries.Query

/** The declared-query contract — see SURVEY.md §7.
  *
  * 112 declared queries, one [[graft.queries.Query]] record each in the
  * family files under `graft.queries`; 105 carry an exact DuckDB oracle
  * (84 `x_*`, all 21 `q*`). The 7 without one are rows-only: the four
  * transcript-extraction rows (x_extract_turns, x_blockify,
  * x_turn_ordering, x_author_names), x_text_analysis, x_media_features and
  * x_bpe_tokens.
  *  - `x_*`: the extraction engine + training-data ops (blockify / GRU
  *    extraction over the synthetic transcript table; dedup, ANN,
  *    retrieval, sketches, quality filters and mixing over
  *    documents/embeddings).
  *  - `q*`: relational queries. Float nondeterminism is avoided by exact
  *    decimal sums cast back to double and by floor-to-bigint fixed-point
  *    sums.
  * [[queries]] and [[oracleSql]] are views of the one registry. */
object SparkEntry {

  /** sfDir like "/root/testdata/sf0.01" -> 0.01 (synth transcript scale).
    * A dir whose name carries no `sf<number>` is rejected: a silent default
    * would run the Synth-backed queries at the wrong scale. */
  def sfOf(dir: String): Double = {
    val m = java.util.regex.Pattern.compile("sf([0-9.]+)").matcher(dir)
    if (m.find()) m.group(1).toDouble
    else throw new IllegalArgumentException(s"no sf<number> scale in data dir name: $dir")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full fused extraction over the synthetic transcript table. */
  def entry(spark: SparkSession): DataFrame = {
    val turns = Synth.turns(spark, 0.001, 8)
    turns.withColumn("ex", Udfs.extractTurn(col("text")))
      .select(col("conv_id"), col("turn_idx"), col("ex.content"), col("ex.title"))
      .filter(col("content").isNotNull || col("title").isNotNull)
  }

  /** name -> the query's output frame, in its declared order. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.byName.map { case (name, q) => name -> (q.frame _) }

  /** name -> DuckDB oracle SQL, for the queries that declare one. Column
    * aliases match the Spark side exactly (the checker sorts columns by
    * name before hashing). */
  def oracleSql: Map[String, String] =
    Query.byName.collect { case (name, Query(_, _, _, Some(sql))) => name -> sql }
}
