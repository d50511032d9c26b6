package graft.jobs

import graft.ops.{Dedup, HashExprs, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation over a documents table — the workflow
  * the ops family exists for, composed as one job:
  *
  *   1. language filter      (langId prediction in `keepLangs`)
  *   2. quality floor        (composite score >= `minQuality`)
  *   3. decontamination      (drop docs sharing an n-gram with `benchmark`)
  *   4. exact dedup          (min doc_id per content hash)
  *   5. near-dup removal     (MinHash-LSH clusters, keeper per cluster)
  *   6. accounting           (ws/BPE-estimate token counts + fingerprint)
  *
  * Decontamination runs BEFORE the dedup passes: dropping eval-leaked docs
  * first means a contaminated doc can never be the keeper that shadows a
  * clean near-duplicate out of the corpus (the GPT-3 recipe filters the
  * training set; the keeper choice must be made among survivors). Its cost
  * shape is [[Dedup.decontaminate]]'s: benchmark grams broadcast, the
  * corpus never shuffles.
  *
  * Shape at scale: the scalar scoring stage is ONE map pass barriered with
  * localCheckpoint (per-stage counts then read the materialized frame
  * instead of re-running the UDFs per count); filters 1-3 drop the bulk of
  * a raw crawl BEFORE the shuffling dedup passes see it; the dedup passes
  * shuffle only on small keys (hash / band buckets / doc_id). Stats counts
  * are six cheap actions over materialized frames — at 100 TB they are
  * the job's audit record, not overhead. */
object CurateJob {

  final case class CurateStats(
      nInput: Long, nAfterLang: Long, nAfterQuality: Long,
      nAfterDecontam: Long, nAfterExact: Long, nCurated: Long,
      totalWsTokens: Long)

  def curate(docs: DataFrame,
      keepLangs: Set[String] = Set("en"),
      minQuality: Double = 0.3,
      nearThreshold: Double = 0.8,
      textCol: String = "text",
      benchmark: Option[DataFrame] = None,
      decontamN: Int = 13): (DataFrame, CurateStats) = {
    val scored = docs
      .withColumn("lang_pred", TextAnalysis.langIdUdf(col(textCol)))
      .withColumn("__q", TextAnalysis.qualityUdf(col(textCol)))
      .withColumn("quality_score", col("__q._7"))
      .drop("__q")
      .localCheckpoint() // one evaluation of the scalar stage
    val langCond = col("lang_pred").isin(keepLangs.toSeq: _*)
    val qualCond = col("quality_score") >= minQuality
    val qualOk = scored.filter(langCond && qualCond)
    // audit counts for the whole filter ladder in ONE aggregate over the
    // materialized scalar stage (guide §1.2: the former one-action-per-
    // count form paid three jobs for numbers one pass produces; filter
    // semantics match count(when(cond)) exactly — null conditions drop).
    // The aggregate is independent of the decontaminate barrier — the two
    // actions run concurrently (guide §2.6).
    val (cRow, clean) = graft.util.Par.eval2(
      scored.agg(
        count(lit(1)).as("n_input"),
        count(when(langCond, 1)).as("n_lang"),
        count(when(langCond && qualCond, 1)).as("n_qual")).head(),
      // decontaminate feeds BOTH the nClean count and exactDedup's two
      // branches — barrier it so the benchmark-gram joins run once
      benchmark match {
        case Some(b) =>
          Dedup.decontaminate(qualOk, b, decontamN, textCol).localCheckpoint()
        case None    => qualOk
      })
    val (nInput, nLang, nQual) = (cRow.getLong(0), cRow.getLong(1), cRow.getLong(2))
    // exactDedup output feeds the near-dup signature pass, its text
    // re-join AND the final anti-join — same multi-consumer barrier rule;
    // the nClean count reads the already-materialized clean frame, so it
    // overlaps the exact barrier for free
    val (nClean, exact) = graft.util.Par.eval2(
      if (benchmark.isDefined) clean.count() else nQual,
      Dedup.exactDedup(clean, textCol).localCheckpoint())
    // the nExact count reads the materialized exact frame; the near-dup
    // pipeline's own first barriers (signature pass) are independent of it
    val (nExact, near) = graft.util.Par.eval2(
      exact.count(),
      Dedup.nearDedup(exact, nearThreshold, textCol))
    val curated = near
      .withColumn("__t", TextAnalysis.tokenCountsUdf(col(textCol)))
      .withColumn("ws_tokens", col("__t._1"))
      .withColumn("bpe_tokens_est", col("__t._2"))
      .drop("__t")
      .withColumn("fingerprint", HashExprs.fingerprint64(col(textCol)))
      .localCheckpoint()
    // count + token total in one aggregate over the materialized frame;
    // sum() is SQL NULL on an empty frame (everything filtered away)
    val tRow = curated.agg(count(lit(1)).as("n"),
      coalesce(sum(col("ws_tokens").cast("long")), lit(0L)).as("t")).head()
    val (nCurated, totalTokens) = (tRow.getLong(0), tRow.getLong(1))
    (curated,
      CurateStats(nInput, nLang, nQual, nClean, nExact, nCurated, totalTokens))
  }

  final case class IncCurateStats(batch: CurateStats,
      nAfterCorpusExact: Long, nCurated: Long, totalWsTokens: Long)

  /** Per-batch INCREMENTAL curation against an existing corpus — the
    * operator an ongoing ingestion pipeline runs every batch ([[curate]]
    * alone only covers the first). Contract: run the full within-batch
    * pipeline, then drop every survivor that exactly matches or near-dups
    * (3-gram Jaccard >= `nearThreshold`) ANY corpus doc. Corpus-side work
    * is what [[graft.ops.Dedup.nearDedupAgainst]] bounds: banded LSH with
    * a corpus-side hot cap, and `corpusSigs` (the persisted signature
    * store) removes the per-batch corpus signature pass entirely — the
    * measured 2.8x of the long-doc scale probe (BENCH.md). The filters run FIRST, so
    * the cross-corpus dedup sees only the already-curated sliver.
    * `bloomDir` (a FRESH [[graft.ops.BloomDedup]] filter — callers gate
    * on [[graft.ops.StoreMeta.fresh]] for kind `bloom`) replaces the exact-pass
    * corpus md5 scan with the gate's O(batch) probe + sliver confirm;
    * the output contract is IDENTICAL (the gate is exact), only the
    * per-tick corpus scan disappears. */
  def curateIncremental(newDocs: DataFrame, corpus: DataFrame,
      keepLangs: Set[String] = Set("en"),
      minQuality: Double = 0.3,
      nearThreshold: Double = 0.8,
      textCol: String = "text",
      corpusSigs: Option[DataFrame] = None,
      bloomDir: Option[String] = None,
      benchmark: Option[DataFrame] = None,
      decontamN: Int = 13): (DataFrame, IncCurateStats) = {
    val (batchCurated, batchStats) =
      curate(newDocs, keepLangs, minQuality, nearThreshold, textCol,
        benchmark, decontamN)
    // barrier: the count below AND nearDedupAgainst's base checkpoint both
    // consume this frame — unbarriered, the exact/Bloom pass re-runs once
    val afterExact = (bloomDir match {
      case Some(d) => graft.ops.BloomDedup.dedupAgainst(batchCurated, d, textCol)
      case None    => Dedup.exactDedupAgainst(batchCurated, corpus, textCol)
    }).localCheckpoint()
    // the count reads the materialized frame; the cross-corpus near-dedup
    // barriers are independent of it — overlap them (guide §2.6).
    // exactFallback off: the explicit exact pass above already covers
    // capped-bucket byte-identical matches
    val (nExact, survivors) = graft.util.Par.eval2(
      afterExact.count(),
      Dedup.nearDedupAgainst(afterExact, corpus, nearThreshold,
          textCol, corpusSigs = corpusSigs, exactFallback = false)
        .localCheckpoint())
    // count + token total in one aggregate (the curate() convention)
    val tRow = survivors.agg(count(lit(1)).as("n"),
      coalesce(sum(col("ws_tokens").cast("long")), lit(0L)).as("t")).head()
    (survivors,
      IncCurateStats(batchStats, nExact, tRow.getLong(0), tRow.getLong(1)))
  }
}
