package graft

import graft.ops.HybridRetrieval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RRF fusion semantics pinned by hand: both-arm docs sum two terms,
  * single-arm docs carry one term and a null rank for the other, the
  * fused ordering follows 1/(k0+r) arithmetic exactly, and the dense arm
  * plans the broadcast + map-side partial top-k it claims. */
class HybridRetrievalSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 8

  test("fuse matches hand-computed RRF, nulls ride single-arm docs") {
    val sp = spark; import sp.implicits._
    // query 1: sparse ranks docs (10,11,12); dense ranks (11,13,10).
    // With k0=60: doc 10 = 1/61 + 1/63, doc 11 = 1/62 + 1/61,
    // doc 12 = 1/63 (sparse only), doc 13 = 1/62 (dense only).
    // Order: 11 (.032528) > 10 (.032266) > 13 (.016129) > 12 (.015873)
    val sparse = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L))
      .toDF("query_id", "rank", "doc_id")
    val dense = Seq((1L, 1L, 11L), (1L, 2L, 13L), (1L, 3L, 10L))
      .toDF("query_id", "rank", "doc_id")
    val got = HybridRetrieval.fuse(sparse, dense, k = 4)
      .orderBy("rank")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long])))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got.toSeq === Seq(
      (1L, 11L, r6(1.0 / 62 + 1.0 / 61), Some(2L), Some(1L)),
      (2L, 10L, r6(1.0 / 61 + 1.0 / 63), Some(1L), Some(3L)),
      (3L, 13L, r6(1.0 / 62), None, Some(2L)),
      (4L, 12L, r6(1.0 / 63), Some(3L), None)))
  }

  test("fused rrf_r6 ties break on doc_id; k truncates per query") {
    val sp = spark; import sp.implicits._
    // two queries; in query 5 docs 3 and 7 tie exactly (same single-arm
    // rank), so doc_id must decide; k=1 keeps only the best per query
    val sparse = Seq((5L, 1L, 7L), (6L, 1L, 9L))
      .toDF("query_id", "rank", "doc_id")
    val dense = Seq((5L, 1L, 3L), (6L, 2L, 9L))
      .toDF("query_id", "rank", "doc_id")
    val all = HybridRetrieval.fuse(sparse, dense, k = 10)
    assert(all.filter(col("query_id") === 5L).orderBy("rank")
      .select("doc_id").as[Long].collect().toSeq === Seq(3L, 7L))
    val top1 = HybridRetrieval.fuse(sparse, dense, k = 1)
    assert(top1.count() === 2)
    assert(top1.filter(col("query_id") === 6L)
      .select("doc_id").head.getLong(0) === 9L)
  }

  test("store-backed hybrid: fuse over Bm25.topKStore == in-memory arms") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hybstore").toString
    graft.util.Fs.rmrf(dir)
    val docs = Seq(
      (0L, "apple banana cherry"), (1L, "banana banana fig"),
      (2L, "cherry durian apple"), (3L, "fig grape apple banana"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (2L, Array(0.7f, 0.7f, 0f)), (3L, Array(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, "apple banana", Array(1f, 0.2f, 0f)))
      .toDF("query_id", "query_text", "qv")
    graft.ops.Bm25.buildPostingsStore(docs, dir, nBuckets = 2)
    val sparseStore = graft.ops.Bm25.topKStore(spark, dir,
      queries.select("query_id", "query_text"), k = 3)
    val dense = graft.ops.HybridRetrieval.denseBruteTopK(emb,
      queries.select("query_id", "qv"), depth = 3)
    val fromStore = graft.ops.HybridRetrieval.fuse(sparseStore, dense, k = 3)
    val inMem = graft.ops.HybridRetrieval.topK(docs, emb, queries,
      k = 3, depth = 3)
    assert(fromStore.exceptAll(inMem).isEmpty &&
      inMem.exceptAll(fromStore).isEmpty)
    graft.util.Fs.rmrf(dir)
  }

  test("dense arm: broadcast queries, partial top-k, exact ranks") {
    val sp = spark; import sp.implicits._
    // corpus of one-hot-ish vectors; query vector equals vec 2's direction
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding").repartition(4)
    val queries = Seq((100L, Array(0f, 1f, 0f))).toDF("query_id", "qv")
    val got = HybridRetrieval.denseBruteTopK(corpus, queries, depth = 2)
    val rows = got.orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === Seq((100L, 1L, 2L), (100L, 2L, 3L)))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"queries not broadcast\n$plan")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"no map-side partial top-k\n$plan")
  }
}
