package graft.jobs

import graft.ops.{Bm25, BloomDedup, Dedup, Sketches, StoreMeta}
import graft.table.TranscriptTable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One batch tick of the ONGOING curation pipeline — the loop a
  * production training-data system runs every ingest cycle, composed
  * entirely from the engine's verified parts:
  *
  *   1. replay guard        — a committed batch id no-ops (resume safety)
  *   2. incremental curate  — [[CurateJob.curateIncremental]] against the
  *                            current curated table, using the persisted
  *                            signature store and Bloom filter when they
  *                            are fresh (warm path = zero corpus signature
  *                            work, no corpus md5 scan)
  *   3. CAS commit          — survivors land as one manifest-committed
  *                            batch (crash between write and commit
  *                            leaves the batch invisible; rerun overwrites)
  *   4. store maintenance   — every derived store the tick keeps (MinHash
  *                            signatures, Bloom filter, corpus sketches,
  *                            BM25 postings) follows ONE rule: a store
  *                            that was fresh for the pre-commit table
  *                            APPENDS the survivors (O(batch)) and is
  *                            re-pinned to the post-commit token; any
  *                            other store is rebuilt over the committed
  *                            table, so the next tick is warm
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
    // a store is warm exactly when its token matches the CURRENT table
    // listing (re-pinned by the previous tick's step 4); read once per
    // store, before curation, and used by both curation and maintenance.
    // No corpus, no token: every store starts cold
    val corpusToken = if (hasCorpus) StoreMeta.inputToken(corpus) else None
    val stores = TickStore("minhash", sigDir,
        Dedup.buildSignatureStore(_, _), Dedup.appendSignatureStore(_, _, _)) +:
      Seq(
        TickStore("bloom", bloomDir,
          BloomDedup.buildBloom(_, _), BloomDedup.appendBloom(_, _, _)),
        TickStore("sketches", sketchDir,
          Sketches.buildSketchStore(_, _), Sketches.appendSketchStore(_, _, _)),
        TickStore("bm25", postingsDir,
          Bm25.buildPostingsStore(_, _), Bm25.appendPostingsStore(_, _, _))
      ).filter(_.dir != null)
    val warm = stores.filter(s => StoreMeta.fresh(spark, s.dir, s.kind, corpusToken))
      .map(_.kind).toSet
    // the Bloom gate replaces the exact pass's per-tick corpus md5 scan;
    // a stale store degrades to the direct path, never to a wrong answer
    val (survivors, stats) = CurateJob.curateIncremental(
      newDocs, corpus, keepLangs, minQuality, nearThreshold,
      corpusSigs = if (warm("minhash"))
        Some(Dedup.readSignatureStore(spark, sigDir).localCheckpoint()) else None,
      bloomDir = if (warm("bloom")) Some(bloomDir) else None)
    TranscriptTable.writeBatch(
      survivors.repartition(math.max(1, spark.sparkContext.defaultParallelism / 4)),
      table, batchId,
      Map("n_turns" -> stats.nCurated.toString,
        "n_input" -> stats.batch.nInput.toString,
        "ws_tokens" -> stats.totalWsTokens.toString))
    // store maintenance AFTER the commit, token = the table as the next
    // tick will see it. A crash between commit and maintenance (or inside
    // a store's write) leaves a stale token -> the next tick rebuilds that
    // store; never wrong, only slower. Runs even for an EMPTY batch: the
    // commit changed the table's file listing, so skipping the re-pin
    // would force the next tick cold for nothing. The stores are pure
    // derived state: the sketches and postings never gate curation, and
    // a cold build over an unchanged table no-ops on its own freshness
    // check (replay idempotence). Appends rely on the tick's dedup stages:
    // the survivors' doc_ids and texts are new to the corpus.
    val committed = TranscriptTable.read(spark, table)
    val newToken = StoreMeta.inputToken(committed)
    stores.foreach { s =>
      if (warm(s.kind)) s.append(survivors.select("doc_id", "text"), s.dir, newToken)
      else s.build(committed.select("doc_id", "text"), s.dir)
    }
  }

  /** A derived store the tick keeps: its [[StoreMeta]] kind, its dir, the
    * O(corpus) build over `(doc_id, text)` and the O(batch) append that
    * re-pins the given token. */
  private final case class TickStore(kind: String, dir: String,
      build: (DataFrame, String) => Unit,
      append: (DataFrame, String, Option[Long]) => Unit)
}
