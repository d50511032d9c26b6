package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine over two array<float> columns — static-call codegen into
  * the shared fp64 kernel (same accumulation order as Similarity.cosine,
  * bit-parity pinned in OpsSpec). It is the one cosine of every Spark path:
  * pair verification takes two columns, and a query re-rank takes the
  * query as a `typedLit` array. A UDF form would box every element into a
  * Seq[Float] per row; in a 10^8-candidate LSH verify loop that boxing IS
  * the bottleneck (GC livelock observed at 1M vectors, BENCH.md round 4). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Similarity.cosineArrayData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ops.Similarity.cosineArrayData($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSim = copy(left = newLeft, right = newRight)
}

/** Similarity search over an embedding column (Array[Float]).
  * Brute-force cosine top-k is the exact baseline (one map + one top-k
  * reduce, no shuffle of the big side); sign-random-projection LSH
  * bucketing is the 100 TB path (candidates only within matching buckets). */
object Similarity {

  /** Cosine similarity of two float vectors (fp64 accumulation) — the
    * plain-Scala reference [[CosineSim]] is tested against. */
  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Static entry for the [[CosineSim]] codegen path: same accumulation
    * order as [[cosine]] over the unsafe array format — no boxing. */
  def cosineArrayData(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Column API for [[CosineSim]]. */
  def cosineSimExpr(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.toColumn(CosineSim(
      org.apache.spark.sql.graftbridge.toExpression(a),
      org.apache.spark.sql.graftbridge.toExpression(b)))

  /** Exact brute-force top-k by cosine against one query vector: map-side
    * scoring + a global top-k (sortBy-limit, handled as TakeOrdered —
    * no full sort at scale). */
  def bruteForceTopK(embeddings: DataFrame, query: Array[Float], k: Int): DataFrame = {
    embeddings
      .withColumn("cosine", cosineSimExpr(col("embedding"), typedLit(query)))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "cosine")
  }

  /** Hyperplane coefficient matrix for sign-random-projection, derived
    * deterministically from splitmix64 (reproducible across executors) and
    * computed ONCE per JVM per (nBits, dim) — the per-row cost of srpBucket
    * is then just nBits dot products, no hash mixing in the row loop. */
  private val srpCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  /** `table` selects an independent hyperplane family (multi-table LSH);
    * table 0 reproduces the original single-table projection exactly. */
  def srpProjection(nBits: Int, dim: Int, table: Int = 0): Array[Array[Double]] =
    srpCache.computeIfAbsent((nBits, dim, table), { case (nb, d, t) =>
      Array.tabulate(nb, d) { (b, i) =>
        val r = graft.jobs.Synth.mix(t * 0x9E3779B97F4A7C15L + b * 100003L + i)
        (r >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
    })

  /** Deterministic sign-random-projection bucket id (nBits hyperplanes). */
  def srpBucket(v: Seq[Float], nBits: Int, table: Int = 0): Int = {
    val proj = srpProjection(nBits, v.length, table)
    var bucket = 0
    var b = 0
    while (b < nBits) {
      val row = proj(b)
      var acc = 0.0
      var i = 0
      while (i < v.length) { acc += v(i) * row(i); i += 1 }
      if (acc > 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }

  def srpBucketUdf(nBits: Int) = udf((v: Seq[Float]) => srpBucket(v, nBits))

  /** IVF/LSH-bucketed ANN: probe only buckets within `probeHamming` bit
    * flips of the query's bucket (multi-probe). Scale path: the scan prunes
    * to matching buckets when the table is written bucketed/partitioned by
    * `srp_bucket` (see [[AnnIndex]]).
    *
    * Defaults are sized from the table: `nBits < 0` targets ~64 vectors per
    * bucket (so tiny tables don't shatter into 2-vector buckets that can't
    * fill k), `probeHamming < 0` expands the probe radius until the probed
    * buckets are expected to hold >= 6k candidates. The count() this needs
    * is parquet-footer metadata; the ad-hoc form scans the table anyway. */
  def lshTopK(embeddings: DataFrame, query: Array[Float], k: Int,
      nBits: Int = -1, probeHamming: Int = -1): DataFrame = {
    val n = if (nBits < 0 || probeHamming < 0) embeddings.count() else 0L
    val nb = if (nBits >= 0) nBits
             else math.max(2, math.min(16,
               (math.log(math.max(1.0, n / 64.0)) / math.log(2)).toInt))
    val h = if (probeHamming >= 0) probeHamming
            else AnnIndex.adaptiveHamming(nb, n, k)
    val qBucket = srpBucket(query.toSeq, nb)
    val probes = (0 until (1 << nb))
      .filter(b => java.lang.Integer.bitCount(b ^ qBucket) <= h)
    embeddings
      .withColumn("srp_bucket", srpBucketUdf(nb)(col("embedding")))
      .filter(col("srp_bucket").isin(probes: _*))
      .withColumn("cosine", cosineSimExpr(col("embedding"), typedLit(query)))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "srp_bucket", "cosine")
  }

  // ------------------------------------------------------------------ IVF
  /** Train IVF centroids on a driver-side sample (deterministic k-means,
    * sample bounded — the standard IVF recipe: coarse quantizer is tiny,
    * the big table is only ever map-scanned). The sample is the first
    * `sampleSize` rows by xxhash64(vec_id) — a seeded pseudo-random pick
    * that is insertion-order-independent (clustered inserts don't skew the
    * centroids) and needs no count(): TakeOrdered, one scan. */
  def trainIvfCentroids(embeddings: DataFrame, k: Int, sampleSize: Int = 4096): Array[Array[Double]] = {
    val sample = embeddings
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    localKMeans(sample, k)
  }

  /** The driver-side Lloyd's loop of [[trainIvfCentroids]], factored so
    * [[Pq]] trains its per-subspace codebooks with the EXACT same
    * deterministic recipe (norm-sorted spread init, 20 iterations, empty
    * cells keep their previous centroid). */
  private[ops] def localKMeans(sample: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    require(sample.nonEmpty)
    val dim = sample.head.length
    // deterministic init: spread picks over norm-sorted sample
    val sorted = sample.sortBy(v => v.map(x => x * x).sum)
    var centers = Array.tabulate(math.min(k, sample.length))(i =>
      sorted(i * (sample.length - 1) / math.max(1, math.min(k, sample.length) - 1)).clone())
    var iter = 0
    while (iter < 20) {
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val counts = new Array[Int](centers.length)
      sample.foreach { v =>
        val c = nearestCentroid(v, centers)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      centers = centers.indices.map { c =>
        if (counts(c) == 0) centers(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      iter += 1
    }
    centers
  }

  /** Trainer switch shared by the IVF index and SemDedup (expects
    * `vec_id`/`embedding` columns): the deterministic driver-sample
    * Lloyd's while k is small enough that a 4096-row sample gives 16+
    * points per cell (run-stable geometry — what the exhaustive-probe
    * oracles pin), the distributed [[KMeansDist]] beyond — a driver
    * sample degenerates as k approaches the sample size (at k in the
    * thousands nearly every sample point becomes its own centroid,
    * measured as the 1M-vector SemDeDup probe's recall ceiling), and
    * single-threaded Lloyd's over it becomes the build's wall. */
  def trainCentroids(embeddings: DataFrame, k: Int): Array[Array[Double]] =
    if (k <= 256) trainIvfCentroids(embeddings, k)
    else KMeansDist.train(embeddings, k, iters = 5)

  /** Index of the closest centroid (squared-L2) — shared with AnnIndex. */
  private[ops] def nearestCentroidOf(v: Array[Double], centers: Array[Array[Double]]): Int =
    nearestCentroid(v, centers)

  /** Flat-layout distance kernel over a trained centroid table — the hot
    * loop of every IVF-family assignment (index build/append, SemDedup
    * cells, k-means training). Selection is BIT-IDENTICAL to
    * [[nearestCentroidOf]]: same subtract-square accumulation in double,
    * same j-ascending order, strict < keeping the lowest index on ties.
    * The two wins are purely mechanical: one contiguous array instead of
    * k row objects (sequential prefetch), and early abandon — the partial
    * sum of squares is monotone non-decreasing, so a centroid whose
    * running d already reached the current best can never win; skipping
    * its tail changes nothing about the argmin. At k in the thousands
    * the abandon prunes most of the k*dim work once a close centroid is
    * seen. The instance rides UDF closures (k*dim doubles — the model). */
  final class CentroidKernel(centers: Array[Array[Double]]) extends Serializable {
    val k: Int = centers.length
    val dim: Int = if (k == 0) 0 else centers(0).length
    private val flat: Array[Double] = {
      val f = new Array[Double](k * dim)
      var c = 0
      while (c < k) { System.arraycopy(centers(c), 0, f, c * dim, dim); c += 1 }
      f
    }

    private def toArr(v: Seq[Float]): Array[Double] = {
      val a = new Array[Double](v.length)
      var j = 0
      while (j < a.length) { a(j) = v(j).toDouble; j += 1 }
      a
    }

    def nearest(v: Seq[Float]): Int = {
      val vd = toArr(v)
      var best = 0; var bestD = Double.MaxValue
      var c = 0; var off = 0
      while (c < k) {
        var d = 0.0; var j = 0
        while (j < dim && d < bestD) {
          val t = vd(j) - flat(off + j); d += t * t; j += 1
        }
        if (d < bestD && j == dim) { bestD = d; best = c }
        c += 1; off += dim
      }
      best
    }

    /** The `n` nearest centroid indices, ascending by (distance, index) —
      * exactly the head of a stable full sort, via bounded insertion with
      * the same early-abandon bound (the current n-th distance). */
    def nearestN(v: Seq[Float], n: Int): Array[Int] = {
      if (n <= 1) return Array(nearest(v))
      val vd = toArr(v)
      val m = math.min(n, k)
      val topD = Array.fill(m)(Double.MaxValue)
      val topI = new Array[Int](m)
      var c = 0; var off = 0
      while (c < k) {
        val bound = topD(m - 1)
        var d = 0.0; var j = 0
        while (j < dim && d < bound) {
          val t = vd(j) - flat(off + j); d += t * t; j += 1
        }
        if (j == dim && d < bound) {
          // insert after any equal-distance earlier index (stable order)
          var i = m - 1
          while (i > 0 && topD(i - 1) > d) {
            topD(i) = topD(i - 1); topI(i) = topI(i - 1); i -= 1
          }
          topD(i) = d; topI(i) = c
        }
        c += 1; off += dim
      }
      topI
    }
  }

  private def nearestCentroid(v: Array[Double], centers: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      var d = 0.0
      var j = 0
      while (j < v.length) { val t = v(j) - centers(c)(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** IVF ANN: assign every vector to its nearest centroid map-side (the
    * centroid table rides the closure — KB-sized), probe the `nProbe`
    * centroids closest to the query. At rest the table is partitioned by
    * `ivf_cell` so the scan prunes to probed cells. */
  def ivfTopK(embeddings: DataFrame, query: Array[Float], k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    // KMeansDist (the > 256-cell route) makes count + init + 5 Lloyd's
    // passes and documents that it does NOT persist its input — barrier
    // before handing it the frame (AnnIndex.buildIvf/SemDedup do the
    // same). The small-k route is one bounded driver sample; no barrier.
    val emb = if (nCells > 256) embeddings.localCheckpoint() else embeddings
    val centers = trainCentroids(emb, nCells)
    val qd = query.map(_.toDouble)
    val probeCells = centers.indices.sortBy { c =>
      var d = 0.0
      var j = 0
      while (j < qd.length) { val t = qd(j) - centers(c)(j); d += t * t; j += 1 }
      d
    }.take(nProbe).toSet
    val kern = new CentroidKernel(centers)
    val cellUdf = udf((v: Seq[Float]) => kern.nearest(v))
    emb
      .withColumn("ivf_cell", cellUdf(col("embedding")))
      .filter(col("ivf_cell").isin(probeCells.toSeq: _*))
      .withColumn("cosine", cosineSimExpr(col("embedding"), typedLit(query)))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "ivf_cell", "cosine")
  }

  /** Top-k most-similar pairs within SRP buckets — always non-empty,
    * diagnostic-friendly form of near-dup detection. */
  def cosineTopPairs(embeddings: DataFrame, k: Int, nBits: Int = 10): DataFrame =
    cosinePairs(embeddings, threshold = -1.0, nBits)
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(k)

  /** Embedding-cosine near-duplicate pairs within SRP buckets (the
    * embedding-space analogue of MinHash LSH dedup). */
  def cosinePairs(embeddings: DataFrame, threshold: Double = 0.95, nBits: Int = 10,
      maxBucket: Int = 2000): DataFrame = {
    // barrier: the hot-bucket count and BOTH self-join branches read the
    // bucketed table — without it the nBits-dot-product bucket UDF runs
    // 3x per row (the round-1 minhash defect class; in a persisted
    // deployment this is a bucket-partitioned temp table instead)
    val bucketed0 = embeddings
      .select(col("vec_id"), col("embedding"))
      .withColumn("srp_bucket", srpBucketUdf(nBits)(col("embedding")))
      .localCheckpoint()
    val hot = bucketed0.groupBy(col("srp_bucket")).count()
      .filter(col("count") > maxBucket).select(col("srp_bucket"))
    val bucketed = bucketed0.join(hot, Seq("srp_bucket"), "left_anti")
    val a = bucketed.select(col("srp_bucket"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = bucketed.select(col("srp_bucket"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    // native CosineSim: the within-bucket candidate stream is the hot loop,
    // and per-candidate Seq[Float] UDF boxing was its measured bottleneck
    a.join(b, Seq("srp_bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosineSimExpr(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Recall-controlled embedding near-dup for UNBOUNDED corpus sizes —
    * the form [[cosinePairs]] becomes at scale. Two defects of a fixed
    * single-table bucketing, both caught by the 1M-vector scale probe (BENCH.md):
    *
    *  1. fixed nBits makes per-bucket work QUADRATIC in n (1M uniform
    *     vectors at 12 bits = 244-row buckets = 237 s / GC livelock; at
    *     10^9 every bucket blows past the hot cap and is silently skipped);
    *  2. raising nBits alone collapses recall (P[same bucket] =
    *     (1-θ/π)^nBits vanishes for borderline pairs).
    *
    * Fix: size nBits from the row count so expected bucket size stays
    * ~targetBucket (candidate volume ~ L·n·targetBucket, LINEAR in n), and
    * recover recall with L independent hyperplane tables OR-ed together —
    * P[miss] = (1-p^nBits)^L. For true near-dups (cos >= 0.98, p >= .955)
    * the defaults give >= 98% recall at any n; every emitted pair is
    * exact-verified, so precision is exact regardless.
    *
    * Plan discipline (the second 1M lesson): candidates NEVER cross an
    * exchange. A first cut ran ids-only candidates into a global distinct
    * before verification — a 1.9·10^8-row shuffle (55 GB of spill) to
    * dedup rows that the verify filter would have crushed for free. Here
    * the exact cosine runs INSIDE the join stage via the codegen'd
    * [[CosineSim]] (no per-candidate boxing), the threshold filter drops
    * candidates in the same whole-stage pipeline, and only verified
    * near-dup pairs reach the final cross-table dropDuplicates. */
  def cosinePairsScaled(embeddings: DataFrame, threshold: Double = 0.95,
      tables: Int = 6, targetBucket: Int = 32, maxBucket: Int = 2000): DataFrame = {
    val n = embeddings.count()
    val nBits = math.max(4, math.min(24,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2)).toInt))
    val nt = tables
    // one UDF evaluation emits all L bucket ids, table index in the high
    // bits so one explode + one shuffle covers every table
    val bucketsUdf = udf((v: Seq[Float]) =>
      (0 until nt).map(t => (t.toLong << 32) |
        (srpBucket(v, nBits, t).toLong & 0xffffffffL)))
    val bucketed0 = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("tb", explode(bucketsUdf(col("embedding"))))
      .localCheckpoint() // barrier: L projections run once per row
    val hot = bucketed0.groupBy(col("tb")).count()
      .filter(col("count") > maxBucket).select(col("tb"))
    val bucketed = bucketed0.join(hot, Seq("tb"), "left_anti")
    val a = bucketed.select(col("tb"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = bucketed.select(col("tb"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("tb"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosineSimExpr(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .dropDuplicates("vec_a", "vec_b") // cross-table dups; survivors only
  }
}
