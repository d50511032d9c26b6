package graft

import graft.ops.{SemDedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SemDeDup: cluster-then-compare semantic dedup over embeddings.
  * Identical vectors share a cell deterministically (assignment is a pure
  * function of the vector), so planted copies give exact expectations. */
class SemDedupSpec extends AnyFunSuite with SparkSuite {

  /** n deterministic unit vectors, dim 8, plus an id-shifted copy of the
    * first `nPlanted` (ids offset by 10000). */
  private def vecs(n: Int, nPlanted: Int) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val base = (0 until n).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / norm).toSeq)
    }
    val planted = base.take(nPlanted).map { case (id, v) => (id + 10000L, v) }
    (base ++ planted).toDF("vec_id", "embedding")
  }

  test("planted identical copies are found: pairs == the planted identity pairs at tau above natural max") {
    val df = vecs(60, 12)
    // natural max pairwise cosine of 60 random gaussian unit vectors in
    // dim 8 is well below 0.995; identical copies sit at exactly 1.0
    val pairs = SemDedup.semDedupPairs(df, tau = 0.995, nCells = 4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0 until 12).map(i => (i.toLong, i + 10000L)).toSet)
  }

  test("semDedup drops exactly the planted copies (larger id loses)") {
    val df = vecs(60, 12)
    val kept = SemDedup.semDedup(df, tau = 0.995, nCells = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === (0 until 60).map(_.toLong).toSet)
  }

  test("pairs are a subset of the exhaustive tau-pairs with exact cosines") {
    val df = vecs(80, 0)
    val tau = 0.5
    val sem = SemDedup.semDedupPairs(df, tau, nCells = 4)
      .select("vec_a", "vec_b", "cosine").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    sem.foreach { case ((a, b), cos) =>
      val exact = Similarity.cosine(rows(a), rows(b))
      assert(math.abs(exact - cos) < 1e-12 && exact >= tau, s"pair ($a,$b)")
    }
  }

  test("hot-cell cap: oversize cells are skipped from pairs and reported by cappedCells") {
    val df = vecs(60, 12)
    // maxCell=1 makes every cell hot -> zero pairs, all cells audited
    assert(SemDedup.semDedupPairs(df, tau = 0.995, nCells = 4, maxCell = 1).count() === 0L)
    val audited = SemDedup.cappedCells(df, nCells = 4, maxCell = 1)
      .agg(sum("n_vecs")).head.getLong(0)
    assert(audited === 72L)
  }

  test("nAssign=2: pair set still exact under planting, no duplicate pair rows") {
    val df = vecs(60, 12)
    val rows = SemDedup.semDedupPairs(df, tau = 0.995, nCells = 4, nAssign = 2)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === rows.distinct.length)
    assert(rows.toSet === (0 until 12).map(i => (i.toLong, i + 10000L)).toSet)
  }

  test("custom id/embedding column names") {
    val df = vecs(40, 8).withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "emb")
    val kept = SemDedup.semDedup(df, tau = 0.995, nCells = 2, idCol = "id", embCol = "emb")
    assert(kept.count() === 40L)
    assert(kept.columns.toSeq === Seq("id", "emb"))
  }
}
