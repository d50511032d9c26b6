package graft

import graft.ops.BitextMining
import org.scalatest.funsuite.AnyFunSuite

/** Margin mining pinned by hand: normalizer folds, mutual-best gating,
  * the margin expression, and the threshold on the rounded value. */
class BitextMiningSpec extends AnyFunSuite with SparkSuite {

  // src1=(1,0) twins tgt10; src2=(0,1) best-matches tgt11=(.6,.8).
  // tgt13=(.8,.6) ranks 2nd for BOTH src queries (its own best is src1,
  // which prefers tgt10 — so (1,13) must NOT be emitted: not mutual).
  private def frames = {
    val sp = spark; import sp.implicits._
    val src = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding").repartition(2)
    val tgt = Seq((10L, Array(1f, 0f)), (11L, Array(0.6f, 0.8f)),
      (12L, Array(-1f, 0f)), (13L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding").repartition(2)
    (src, tgt)
  }

  test("hand-computed margins, mutual-best gating, non-mutual excluded") {
    val (src, tgt) = frames
    // fwd: src1 -> [t10 1.0, t13 0.8] avg .9; src2 -> [t11 .8, t13 .6] avg .7
    // bwd: t10 -> src1, avg (1.0+0)/2 = .5; t11 -> src2, avg (.8+.6)/2 = .7
    // margins: (1,10) 1.0/((.9+.5)/2) = 1.428571; (2,11) .8/.7 = 1.142857
    val got = BitextMining.mine(src, tgt, k = 2, minMargin = 1.05)
      .orderBy("src_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 10L, 1.0, 1.428571), (2L, 11L, 0.8, 1.142857)))
  }

  test("threshold filters on the rounded margin") {
    val (src, tgt) = frames
    val got = BitextMining.mine(src, tgt, k = 2, minMargin = 1.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 10L)))
  }

  test("normalizer divides by the actual neighbor count when corpus < k") {
    val sp = spark; import sp.implicits._
    // tgt has only 2 vectors but k=4: avgNN must divide by 2, not 4 —
    // src1=(1,0) vs tgt {10:(1,0), 12:(-1,0)}: cosines 1.0 and -1.0,
    // avg_src = 0; bwd t10 -> src1 (avg (1.0 + 0)/2 = .5 over src side
    // which has 2 vectors = k'... src side has 2 vectors so bwd avg uses
    // both). margin(1,10) = 1.0 / ((0 + 0.5)/2) = 4.0. A /k=4 bug would
    // halve both normalizers and double the margin to 8.0.
    val src = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val tgt = Seq((10L, Array(1f, 0f)), (12L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = BitextMining.mine(src, tgt, k = 4, minMargin = 1.05)
      .orderBy("src_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val pair110 = got.find(p => p._1 == 1L && p._2 == 10L)
    assert(pair110.exists(_._3 === 4.0), got.toSeq.toString)
  }

  test("planted twins mine at margin >> natural pairs") {
    val sp = spark; import sp.implicits._
    // 8 quasi-orthogonal src vectors; tgt = exact twins of the first 4
    // (+100 ids) plus 4 decoys: all 4 twins must mine at cos 1.0
    val mk = (i: Int) => Array.tabulate(8)(j =>
      if (j == i) 1f else if (j == (i + 1) % 8) 0.1f else 0f)
    val src = (0 until 8).map(i => (i.toLong, mk(i))).toDF("vec_id", "embedding")
    val tgt = ((0 until 4).map(i => (100L + i, mk(i))) ++
      (0 until 4).map(i => (200L + i, mk(7 - i).map(-_))))
      .toDF("vec_id", "embedding")
    val got = BitextMining.mine(src, tgt, k = 2, minMargin = 1.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val twins = got.filter { case (s, t, _) => t == s + 100 }
    assert(twins.length === 4 && twins.forall(_._3 === 1.0), got.toSeq.toString)
  }
}
