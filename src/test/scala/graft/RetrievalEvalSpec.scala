package graft

import graft.ops.RetrievalEval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TREC conventions pinned by hand: rr = 1/first relevant rank (0 when
  * none retrieved), recall = hits/|qrels|, unjudged queries unscored,
  * failed queries scored zero, summary means in query_id fold order. */
class RetrievalEvalSpec extends AnyFunSuite with SparkSuite {

  private def fixtures = {
    val sp = spark; import sp.implicits._
    // q1: relevant {100, 101}; retrieved 100 at rank 2 -> rr .5, recall .5
    // q2: relevant {200}; retrieved at rank 1 -> rr 1, recall 1
    // q3: relevant {300}; nothing relevant retrieved -> rr 0, recall 0
    // q4: retrieved but has NO qrels -> not scored at all
    val results = Seq(
      (1L, 1L, 99L), (1L, 2L, 100L), (1L, 3L, 55L),
      (2L, 1L, 200L), (2L, 2L, 77L),
      (3L, 1L, 42L),
      (4L, 1L, 400L)).toDF("query_id", "rank", "doc_id")
    val qrels = Seq((1L, 100L), (1L, 101L), (2L, 200L), (3L, 300L))
      .toDF("query_id", "doc_id")
    (results, qrels)
  }

  test("per-query metrics match the hand case") {
    val (results, qrels) = fixtures
    val got = RetrievalEval.perQuery(results, qrels, k = 10)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getDouble(4),
        r.getDouble(5)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1L, 2L, 0.5, 0.5),
      (2L, 1L, 1L, 1L, 1.0, 1.0),
      (3L, 1L, 0L, -1L, 0.0, 0.0)))
  }

  test("k truncates before scoring") {
    val (results, qrels) = fixtures
    // at k=1, q1's relevant doc at rank 2 is outside the cut
    val q1 = RetrievalEval.perQuery(results, qrels, k = 1)
      .filter(col("query_id") === 1L).head
    assert(q1.getLong(2) === 0L && q1.getDouble(4) === 0.0)
  }

  test("summary means fold the hand case: mrr 0.5, mean recall 0.5") {
    val (results, qrels) = fixtures
    val s = RetrievalEval.summary(results, qrels, k = 10).head
    assert(s.getLong(0) === 3L)
    assert(s.getDouble(1) === 0.5)      // (0.5 + 1.0 + 0.0) / 3
    assert(s.getDouble(2) === 0.5)      // (0.5 + 1.0 + 0.0) / 3
  }

  test("nDCG matches the hand case (graded, ideal reordering)") {
    val sp = spark; import sp.implicits._
    // q1: grades {100 -> 2, 101 -> 1}; retrieved 101 at rank 1, 100 at
    // rank 3. dcg = 1/log2(2) + 2/log2(4) = 1 + 1 = 2.
    // idcg = 2/log2(2) + 1/log2(3) = 2 + 0.630930 = 2.630930
    // ndcg = 2 / 2.6309297.. = 0.760188
    val results = Seq((1L, 1L, 101L), (1L, 2L, 55L), (1L, 3L, 100L))
      .toDF("query_id", "rank", "doc_id")
    val qrels = Seq((1L, 100L, 2.0), (1L, 101L, 1.0))
      .toDF("query_id", "doc_id", "grade")
    val r = RetrievalEval.perQueryNdcg(results, qrels, k = 10).head
    assert(r.getDouble(1) === 2.0)
    assert(r.getDouble(2) === 2.63093)
    assert(r.getDouble(3) === 0.760188)
    // perfect ordering scores 1.0
    val perfect = Seq((1L, 1L, 100L), (1L, 2L, 101L))
      .toDF("query_id", "rank", "doc_id")
    assert(RetrievalEval.perQueryNdcg(perfect, qrels, k = 10)
      .head.getDouble(3) === 1.0)
    // nothing relevant retrieved: dcg 0, ndcg 0 (idcg positive)
    val miss = Seq((1L, 1L, 55L)).toDF("query_id", "rank", "doc_id")
    val m = RetrievalEval.perQueryNdcg(miss, qrels, k = 10).head
    assert(m.getDouble(1) === 0.0 && m.getDouble(3) === 0.0)
  }

  test("duplicates dedupe: results at best rank, qrels distinct / max grade") {
    val sp = spark; import sp.implicits._
    // doc 100 retrieved twice (ranks 2 and 5) and judged twice — must
    // score ONCE at rank 2; recall must not exceed 1.0
    val results = Seq((1L, 1L, 99L), (1L, 2L, 100L), (1L, 5L, 100L))
      .toDF("query_id", "rank", "doc_id")
    val qrels = Seq((1L, 100L), (1L, 100L)).toDF("query_id", "doc_id")
    val r = RetrievalEval.perQuery(results, qrels, k = 10).head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((1L, 1L, 2L)))
    assert(r.getDouble(5) === 1.0)
    // graded duplicates keep the HIGHEST grade; dup results count once:
    // dcg = 2/log2(3) = 1.26186, idcg = 2/log2(2) = 2 -> ndcg 0.63093
    val graded = Seq((1L, 100L, 2.0), (1L, 100L, 1.0))
      .toDF("query_id", "doc_id", "grade")
    val n = RetrievalEval.perQueryNdcg(results, graded, k = 10).head
    assert(n.getDouble(1) === 1.26186 && n.getDouble(2) === 2.0 &&
      n.getDouble(3) === 0.63093)
  }

  test("empty qrels yields an explicitly-null summary, not NaN") {
    val sp = spark; import sp.implicits._
    val (results, _) = fixtures
    val empty = Seq.empty[(Long, Long)].toDF("query_id", "doc_id")
    val s = RetrievalEval.summary(results, empty, k = 10).head
    assert(s.getLong(0) === 0L && s.isNullAt(1) && s.isNullAt(2))
  }
}
