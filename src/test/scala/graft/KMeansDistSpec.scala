package graft

import graft.ops.KMeansDist
import org.scalatest.funsuite.AnyFunSuite

/** Distributed Lloyd's: assignment map-side, update as one (cell, dim)
  * keyed exchange, model collected bounded by k*dim. */
class KMeansDistSpec extends AnyFunSuite with SparkSuite {

  /** Three well-separated 4-dim blobs, 30 points each, small jitter. */
  private def blobs(partitions: Int = 4) = {
    val s = spark
    import s.implicits._
    val anchors = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    val rnd = new scala.util.Random(7)
    val rows = for (b <- 0 until 3; i <- 0 until 30) yield {
      val v = anchors(b).map(_ + (rnd.nextFloat() - 0.5f) * 0.2f)
      ((b * 30 + i).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding").repartition(partitions)
  }

  test("separable blobs converge to the anchor centroids") {
    val centers = KMeansDist.train(blobs(), k = 3, iters = 5)
    assert(centers.length === 3)
    // each anchor must be within jitter radius of exactly one centroid
    val anchors = Seq(Array(10.0, 0, 0, 0), Array(0.0, 10, 0, 0), Array(0.0, 0, 10, 0))
    anchors.foreach { a =>
      val near = centers.count(c =>
        math.sqrt(c.zip(a).map { case (x, y) => (x - y) * (x - y) }.sum) < 0.5)
      assert(near === 1, s"anchor ${a.toSeq}")
    }
  }

  test("update shuffles only (cell, dim) partials: model size bounded by k*dim") {
    // not a plan assertion — a behavioral proxy: training runs on a frame
    // 100x the model without collecting it (collect would OOM nothing at
    // this scale, but the API returns only k arrays of dim doubles)
    val centers = KMeansDist.train(blobs(8), k = 3, iters = 2)
    assert(centers.forall(_.length === 4))
  }

  test("k exceeding distinct points: surplus centroids keep their init, no crash") {
    val s = spark
    import s.implicits._
    val two = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
    val centers = KMeansDist.train(two, k = 3, iters = 3)
    assert(centers.length === 3)
    assert(centers.forall(c => c.forall(x => !x.isNaN)))
  }

  test("custom column names") {
    val df = blobs().withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "e")
    val centers = KMeansDist.train(df, k = 3, iters = 3, idCol = "id", embCol = "e")
    assert(centers.length === 3)
  }

  test("CentroidKernel selection is bit-identical to the naive full-scan form") {
    // the kernel's early abandon and flat layout must not change a single
    // assignment: same arithmetic, same order, strict-< tie behavior
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(50)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    // include exact duplicate centroids to exercise ties
    centers(17) = centers(3).clone()
    centers(41) = centers(3).clone()
    val kern = new graft.ops.Similarity.CentroidKernel(centers)
    def naiveDists(v: Array[Double]): Array[Double] = centers.map { c =>
      var s = 0.0; var j = 0
      while (j < dim) { val t = v(j) - c(j); s += t * t; j += 1 }
      s
    }
    for (_ <- 0 until 300) {
      val vf = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val vd = vf.map(_.toDouble)
      val d = naiveDists(vd)
      val naiveBest = {
        var b = 0; var bd = Double.MaxValue
        for (c <- d.indices) if (d(c) < bd) { bd = d(c); b = c }
        b
      }
      assert(kern.nearest(vf.toSeq) === naiveBest)
      val naiveTop3 = d.zipWithIndex.sortBy(_._1).take(3).map(_._2).toSeq
      assert(kern.nearestN(vf.toSeq, 3).toSeq === naiveTop3)
    }
    // a query AT a duplicated centroid: tie resolved to the lowest index,
    // and the duplicate indices ranked in ascending order
    val q = centers(3).map(_.toFloat)
    assert(kern.nearest(q.toSeq) === 3)
    assert(kern.nearestN(q.toSeq, 3).toSeq === Seq(3, 17, 41))
  }
}
