package graft.jobs

import graft.ops.{Dedup, StoreMeta}
import graft.table.TranscriptTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One batch tick of the ONGOING curation pipeline — the loop a
  * production training-data system runs every ingest cycle, composed
  * entirely from the engine's verified parts:
  *
  *   1. replay guard        — a committed batch id no-ops (resume safety)
  *   2. incremental curate  — [[CurateJob.curateIncremental]] against the
  *                            current curated table, using the persisted
  *                            signature store when it is fresh (warm path
  *                            = zero corpus signature work)
  *   3. CAS commit          — survivors land as one manifest-committed
  *                            batch (crash between write and commit
  *                            leaves the batch invisible; rerun overwrites)
  *   4. store maintenance   — survivors' signatures APPEND to the store
  *                            (O(batch)), token re-pinned to the corpus
  *                            as of after this batch
  *
  * Every stage shuffles on small keys only; the batch is the unit of both
  * progress and recovery. Per-batch curation is ORDER-DEPENDENT by design
  * (earlier batches win near-dup ties — first-write-wins ingestion), which
  * is exactly the semantics the x_curate_incremental oracle verifies for
  * one tick and the pipeline test pins across ticks. */
object IncrementalPipeline {

  def runBatch(spark: SparkSession, newDocs: DataFrame, table: String,
      sigDir: String, batchId: String,
      keepLangs: Set[String] = Set("en"),
      minQuality: Double = 0.3,
      nearThreshold: Double = 0.8,
      bloomDir: String = null,
      sketchDir: String = null,
      postingsDir: String = null): Unit = {
    if (TranscriptTable.isCommitted(table, batchId)) return // replay no-op
    val hasCorpus = TranscriptTable.committedBatches(table).nonEmpty
    val corpus =
      if (hasCorpus) TranscriptTable.read(spark, table).select("doc_id", "text")
      else newDocs.select("doc_id", "text").limit(0)
    // warm path: the store is fresh exactly when its token matches the
    // CURRENT table listing (re-pinned by the previous tick's step 4)
    val corpusToken = if (hasCorpus) StoreMeta.inputToken(corpus) else None
    val sigs =
      if (hasCorpus && Dedup.signatureStoreFresh(spark, sigDir, corpusToken))
        Some(Dedup.readSignatureStore(spark, sigDir).localCheckpoint())
      else None
    // the Bloom gate replaces the exact pass's per-tick corpus md5 scan
    // when its filter is fresh for the SAME token; stale → direct exact
    // path (degrade-to-correct, like every cache here)
    val bloom =
      if (bloomDir != null && hasCorpus &&
          graft.ops.BloomDedup.bloomFresh(spark, bloomDir, corpusToken))
        Some(bloomDir)
      else None
    val (survivors, stats) = CurateJob.curateIncremental(
      newDocs, corpus, keepLangs, minQuality, nearThreshold,
      corpusSigs = sigs, bloomDir = bloom)
    TranscriptTable.writeBatch(
      survivors.repartition(math.max(1, spark.sparkContext.defaultParallelism / 4)),
      table, batchId,
      Map("n_turns" -> stats.nCurated.toString,
        "n_input" -> stats.batch.nInput.toString,
        "ws_tokens" -> stats.totalWsTokens.toString))
    // store maintenance AFTER the commit: sigs of the just-committed
    // survivors, token = the table as the next tick will see it. A crash
    // between commit and this append leaves a stale token -> the next
    // tick simply takes the cold path and rebuilds; never wrong, only
    // slower (the same degrade-to-correct contract as every cache here).
    // Runs even for an EMPTY batch: the commit changed the table's file
    // listing, so skipping the re-pin would force the next tick cold for
    // nothing (review finding) — an empty append is a metadata write.
    val committed = TranscriptTable.read(spark, table)
    val newToken = StoreMeta.inputToken(committed)
    if (sigs.isDefined)
      Dedup.appendSignatureStore(survivors.select("doc_id", "text"), sigDir,
        newToken)
    else
      Dedup.buildSignatureStore(committed.select("doc_id", "text"), sigDir)
    // Bloom maintenance mirrors the signature store: warm → O(batch)
    // append re-pinned to the post-commit token; cold/absent → rebuild
    // over the committed table so the NEXT tick is warm
    if (bloomDir != null) {
      if (bloom.isDefined)
        graft.ops.BloomDedup.appendBloom(
          survivors.select("doc_id", "text"), bloomDir, newToken)
      else
        // rebuild=false: freshness re-checks against the POST-commit
        // token, so an already-current filter no-ops (replay idempotence)
        graft.ops.BloomDedup.buildBloom(
          committed.select("doc_id", "text"), bloomDir)
    }
    // Corpus-stat sketches (HLL vocab + CMS term frequencies) ride the
    // same warm/cold ladder: a token-fresh store takes the O(batch)
    // append (batch sketch rows land next to the others; readers merge),
    // anything else rebuilds over the committed table. Pure stats — they
    // never gate curation, so a stale store costs a rebuild, never an
    // answer.
    if (sketchDir != null) {
      if (hasCorpus &&
          graft.ops.Sketches.sketchStoreFresh(spark, sketchDir, corpusToken))
        graft.ops.Sketches.appendSketchStore(
          survivors.select("doc_id", "text"), sketchDir, newToken,
          // post-commit corpus: lets a pre-dd store gain its dd leg on a
          // WARM tick (warm operation re-pins the token every tick, so
          // the cold-rebuild backfill alone would never run)
          ddBackfill = Some(committed.select("doc_id", "text")))
      else
        graft.ops.Sketches.buildSketchStore(
          committed.select("doc_id", "text"), sketchDir)
    }
    // BM25 postings store — the lexical retrieval leg, same ladder: a
    // token-fresh store takes the O(batch) append (the tick's dedup
    // stages guarantee the survivors' doc_ids are new, so their postings
    // are new (term, doc) rows and the meta scalars add); anything else
    // rebuilds over the committed table. Retrieval never gates curation.
    if (postingsDir != null) {
      if (hasCorpus &&
          graft.ops.Bm25.postingsStoreFresh(spark, postingsDir, corpusToken))
        graft.ops.Bm25.appendPostingsStore(
          survivors.select("doc_id", "text"), postingsDir, newToken)
      else
        graft.ops.Bm25.buildPostingsStore(
          committed.select("doc_id", "text"), postingsDir)
    }
  }
}
