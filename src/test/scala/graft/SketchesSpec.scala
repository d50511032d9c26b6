package graft

import graft.ops.{Dedup, Sketches}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mergeable sketches: HLL registers and CMS counters must merge to
  * exactly the global sketch (the incremental-stats contract), the HLL
  * estimate must land inside its error bound on both estimator branches,
  * and CMS must never underestimate. */
class SketchesSpec extends AnyFunSuite with SparkSuite {

  private def keys(n: Int, prefix: String = "k") = {
    val sp = spark; import sp.implicits._
    (0 until n).map(i => s"$prefix$i").toDF("key")
  }

  test("HLL: merge of batch sketches == sketch of the union, register-exact") {
    val all = keys(5000)
    val half1 = all.filter(expr("substring(key, 2) % 2 = 0"))
    val half2 = all.filter(expr("substring(key, 2) % 2 = 1"))
    val merged = Sketches.hllMerge(Seq(
      Sketches.hllSketch(half1, "key"), Sketches.hllSketch(half2, "key")))
    val direct = Sketches.hllSketch(all, "key")
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)
  }

  test("HLL: raw-branch estimate within 5% at 20k distinct keys") {
    val est = Sketches.hllEstimate(Sketches.hllSketch(keys(20000), "key"))
      .head()
    val e = est.getDouble(2)
    assert(math.abs(e / 20000.0 - 1.0) < 0.05, s"estimate $e")
  }

  test("HLL: linear-counting branch fires at small n and stays within 5%") {
    val row = Sketches.hllEstimate(Sketches.hllSketch(keys(300), "key")).head()
    val zeros = row.getLong(1)
    assert(zeros > 0)
    val e = row.getDouble(2)
    assert(math.abs(e / 300.0 - 1.0) < 0.05, s"estimate $e")
  }

  test("HLL: duplicate keys do not move the sketch") {
    val sp = spark; import sp.implicits._
    val dup = (0 until 1000).flatMap(i => Seq.fill(3)(s"k$i")).toDF("key")
    val once = Sketches.hllSketch(keys(1000), "key")
    val thrice = Sketches.hllSketch(dup, "key")
    assert(thrice.except(once).isEmpty && once.except(thrice).isEmpty)
  }

  test("HLL: rho matches the hash definition on a literal key") {
    val h = Dedup.md5Lower64("hll:probe")
    val row = Sketches.hllSketch(keys(1).select(lit("probe").as("key")), "key")
      .head()
    assert(row.getLong(0) === (h >>> 52))
    val w = h & ((1L << 52) - 1)
    val expRho =
      if (w == 0L) 53L else (java.lang.Long.numberOfLeadingZeros(w) - 11).toLong
    assert(row.getLong(1) === expRho)
  }

  test("CMS: merge of batch sketches == global counters; row sums conserved") {
    val sp = spark; import sp.implicits._
    val occ = (0 until 3000).map(i => s"t${i % 37}").toDF("key")
    val merged = Sketches.cmsMerge(Seq(
      Sketches.cmsSketch(occ.limit(1500), "key"),
      Sketches.cmsSketch(occ.exceptAll(occ.limit(1500)), "key")))
    val direct = Sketches.cmsSketch(occ, "key")
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)
    // every CMS row sees every occurrence exactly once
    val sums = direct.groupBy("row").agg(sum("cnt").as("s")).collect()
    assert(sums.length === 4 && sums.forall(_.getLong(1) === 3000L))
  }

  test("CMS: estimates never underestimate; exact for isolated keys") {
    val sp = spark; import sp.implicits._
    val occ = (0 until 2000).map(i => s"t${i % 23}").toDF("key")
    val sketch = Sketches.cmsSketch(occ, "key")
    val truth = occ.groupBy("key").agg(count(lit(1)).as("tc"))
    val est = Sketches.cmsEstimate(sketch, truth, "key")
    val joined = est.join(truth, "key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(joined.length === 23)
    assert(joined.forall { case (_, e, t) => e >= t })
    // 23 keys in 4x1024 cells: expect the min over rows to be exact
    assert(joined.forall { case (_, e, t) => e === t })
  }

  test("CMS: missing cells probe as zero counts") {
    val sketch = Sketches.cmsSketch(keys(5), "key")
    val est = Sketches.cmsEstimate(sketch, keys(3, "absent"), "key").collect()
    assert(est.length === 3 && est.forall(_.getLong(1) === 0L))
  }

  test("HLL: sketch Jaccard — identical ~1, disjoint ~0, half-overlap ~1/3") {
    def sk(df: org.apache.spark.sql.DataFrame) = Sketches.hllSketch(df, "key")
    def jac(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Double =
      Sketches.hllJaccard(sk(a), sk(b)).head.getDouble(4)
    assert(math.abs(jac(keys(4000), keys(4000)) - 1.0) < 0.05)
    assert(jac(keys(4000), keys(4000, "other")) < 0.05)
    // A = k0..k3999, B = k2000..k5999: true jaccard = 2000/6000
    val sp = spark; import sp.implicits._
    val b = (2000 until 6000).map(i => s"k$i").toDF("key")
    assert(math.abs(jac(keys(4000), b) - 1.0 / 3) < 0.07)
  }

  // ---------------------------------------------------------------- DD

  private def vals(vs: Seq[Long]) = {
    val sp = spark; import sp.implicits._
    vs.toDF("v").repartition(4)
  }

  private def bktOf(v: Long): Long =
    Sketches.ddSketch(vals(Seq(v)), "v").head.getLong(0)

  test("DD: bucket literals — octave from bit length, linear sub-bucket") {
    // v=1: e=0, base=1, j=0           -> 0
    // v=3: e=1, base=2, j=(1*32)/2=16 -> 48
    // v=100: e=6, base=64, j=(36*32)/64=18 -> 210
    // v=0 -> -1 (zero bucket); v=-3 -> -2-48 = -50 (mirrored store)
    assert(bktOf(1L) === 0L)
    assert(bktOf(3L) === 48L)
    assert(bktOf(100L) === 210L)
    assert(bktOf(0L) === -1L)
    assert(bktOf(-3L) === -50L)
    // octave boundary: 2^e maps to (e*32, j=0) exactly — no float log to
    // disagree at the boundary
    assert(bktOf(1024L) === 320L)
    assert(bktOf(1023L) === 9L * 32 + 31) // last sub-bucket of octave 9
    // high octaves: the width-divide form is overflow-free where the
    // naive ((v - 2^e)·s) multiply would wrap past Long.Max (|v| ≳ 2^59)
    assert(bktOf((1L << 60) + (1L << 59)) === 60L * 32 + 16)
    assert(bktOf((1L << 60) - 1) === 59L * 32 + 31)
    assert(bktOf(Long.MaxValue) === 62L * 32 + 31)
    assert(bktOf(-Long.MaxValue) === -2L - (62L * 32 + 31))
  }

  test("DD: encoded bucket is monotone in the value across the real line") {
    val vs = (-70L to 70L) ++ Seq(-100000L, -4097L, 4096L, 4097L, 99999L,
      (1L << 40) - 1, 1L << 40, (1L << 40) + 12345L)
    val got = Sketches.ddSketch(vals(vs), "v")
    // recover per-value buckets by sketching singletons and compare order
    val pairs = vs.sorted.map(v => (v, bktOf(v)))
    pairs.sliding(2).foreach { case Seq((v1, b1), (v2, b2)) =>
      assert(b1 <= b2, s"bucket order broke between $v1($b1) and $v2($b2)")
    }
    // counts conserved
    assert(got.agg(sum("cnt")).head.getLong(0) === vs.length.toLong)
  }

  test("DD: merge of batch sketches == global sketch, counter-exact") {
    val vs = (1L to 3000L).map(i => (i * i * 2654435761L) % 100000L - 20000L)
    val all = vals(vs)
    val parts = Seq(vals(vs.take(1000)), vals(vs.slice(1000, 2200)),
      vals(vs.drop(2200)))
    val merged = Sketches.ddMerge(parts.map(Sketches.ddSketch(_, "v")))
    val direct = Sketches.ddSketch(all, "v")
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }

  test("DD: quantile estimates carry the 1/(2s) relative-error guarantee") {
    val vs = (1L to 5000L).map(i => ((i * 48271L) % 99991L) + 1L)
    val sketch = Sketches.ddSketch(vals(vs), "v")
    val qs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val got = Sketches.ddQuantiles(sketch, qs).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(3))).sortBy(_._1)
    val sorted = vs.sorted
    assert(got.length === qs.length)
    got.foreach { case (q, rank, est) =>
      assert(rank === math.floor(q * (vs.length - 1)).toLong + 1)
      val truth = sorted(rank.toInt - 1).toDouble
      assert(math.abs(est / truth - 1.0) <= 1.0 / 64,
        s"q=$q est=$est true=$truth")
    }
  }

  test("DD: per-key quantiles == single-key extraction of the filtered sketch") {
    val sp = spark; import sp.implicits._
    val rows = (1L to 500L).map(v => ("a", v)) ++
      (1L to 200L).map(v => ("b", v * 7 - 400)) // negatives ride key b
    val df = rows.toDF("k", "v").repartition(4)
    val sk = Sketches.ddSketchByKey(df, Seq("k"), "v")
    val got = Sketches.ddQuantilesByKey(sk, Seq("k"), Seq(0.25, 0.5, 0.9))
    for (k <- Seq("a", "b")) {
      val single = Sketches.ddQuantiles(
        sk.filter(col("k") === k).select("bkt", "cnt"), Seq(0.25, 0.5, 0.9))
      val gk = got.filter(col("k") === k).select("q", "rank", "bkt", "est")
      assert(gk.exceptAll(single).isEmpty && single.exceptAll(gk).isEmpty,
        s"per-key extraction diverged for key $k")
    }
  }

  test("DD: drift over an empty side reports null estimates, not 0 rows") {
    val a = Sketches.ddSketch(vals(1L to 100L), "v")
    val empty = Sketches.ddSketch(vals(Seq.empty[Long]), "v")
    val d = Sketches.ddDrift(a, empty, Seq(0.5)).collect()
    assert(d.length === 1)
    assert(!d(0).isNullAt(2) && d(0).isNullAt(4) && d(0).isNullAt(5),
      d(0).toString) // est_a present, est_b and delta null
    // and a real shift reads as a positive median delta
    val b = Sketches.ddSketch(vals(101L to 200L), "v")
    val shift = Sketches.ddDrift(a, b, Seq(0.5)).head.getDouble(5)
    assert(shift > 80.0 && shift < 120.0, shift.toString)
  }

  test("DD: zero and negative quantiles resolve through the mirrored store") {
    val vs = Seq.fill(10)(-8L) ++ Seq.fill(10)(0L) ++ Seq.fill(10)(9L)
    val sketch = Sketches.ddSketch(vals(vs), "v")
    val got = Sketches.ddQuantiles(sketch, Seq(0.0, 0.5, 1.0)).collect()
      .map(r => (r.getDouble(0), r.getDouble(3))).toMap
    // exact: -8 and 9 are bucket midpoints' SIGNS and magnitudes within
    // 1/(2s); the median of the 30 values is 0 exactly
    assert(got(0.5) === 0.0)
    assert(math.abs(got(0.0) / -8.0 - 1.0) <= 1.0 / 64)
    assert(math.abs(got(1.0) / 9.0 - 1.0) <= 1.0 / 64)
  }
}
