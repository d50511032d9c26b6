package graft.pipeline

import graft.blocks.Blockifier
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import scala.util.control.NonFatal

/** Column-level entry points for the extraction stages (SURVEY.md §3.2),
  * each individually testable; the fused `extract_turn` is the kernel's one
  * Spark operator. Plain JVM bodies, run inside whole-stage codegen's task loop. */
object Udfs {

  /** text -> Extracted struct, named `extract_turn` in plans. Marked
    * nondeterministic so that no filter on `ex.*` is pushed below it and runs
    * the kernel again; the cost is that filters on other columns are not
    * pushed through it either, so callers filter keys before extracting, as
    * [[graft.jobs.ExtractJob.stage]] does. */
  val extractTurn = udf(Extract.extractCached _).asNondeterministic().withName("extract_turn")

  /** text -> array of block texts (debug/test surface; production keeps
    * blocks nested per turn — exploding would force a re-group). */
  val blockTexts = udf((text: String) =>
    try Blockifier.blockifyProduction(text).map(_.text)
    catch { case _: graft.blocks.BlockifyError => Seq.empty[String] })

  val blockCount = udf((text: String) =>
    try Blockifier.blockifyProduction(text).length
    catch { case _: graft.blocks.BlockifyError => 0 })

  /** text -> main content only (classifier stage). A row that fails to
    * parse is a null cell; a fatal error (stack overflow, OOM) kills the
    * task, not the row. */
  val extractContent = udf((text: String) =>
    try graft.model.NewsNet.predict(text).content.orNull
    catch { case NonFatal(_) => null })

  /** text -> rule-based metadata struct only (null cell as above). */
  val extractMeta = udf((text: String) =>
    try graft.meta.MetaExtract.extractMetadata(text)
    catch { case NonFatal(_) => null })

  /** byline -> author names (CRF replacement). */
  val authorNames = udf((byline: String) => graft.meta.Authors.extract(byline))

  def register(spark: SparkSession): Unit = {
    spark.udf.register("extract_turn", extractTurn)
    spark.udf.register("block_texts", blockTexts)
    spark.udf.register("block_count", blockCount)
    spark.udf.register("extract_content", extractContent)
    spark.udf.register("extract_meta", extractMeta)
    spark.udf.register("author_names", authorNames)
  }
}
