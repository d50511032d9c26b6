package graft

import graft.ops.Dsir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSIR importance resampling: weights must rank target-like docs above
  * dissimilar ones, scoring must be a single map pass (no exchange), and
  * the Gumbel resample must be reproducible and without replacement. */
class DsirSpec extends AnyFunSuite with SparkSuite {

  private def df(rows: Seq[(Long, String)]) = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  test("weights rank target-like raw docs above dissimilar ones") {
    val target = df(Seq(
      (1000L, "peer reviewed scientific analysis of careful measurement"),
      (1001L, "rigorous scientific analysis with peer reviewed methods")))
    val raw = df(Seq(
      (1L, "scientific analysis of peer reviewed measurement data"), // target-like
      (2L, "buy cheap pills now discount casino jackpot winner"),    // spam
      (3L, "the cat sat on the mat and purred softly today")))       // neutral
    val model = Dsir.fit(target, raw, nBuckets = 1024)
    val w = Dsir.logWeights(raw, model).select("doc_id", "log_weight")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(w(1L) > w(3L) && w(1L) > w(2L),
      s"target-like doc must outweigh both: $w")
  }

  test("scoring is one map pass: no exchange in the plan; model is B-bounded") {
    val target = df(Seq((1000L, "alpha beta gamma delta")))
    val raw = df((1L to 50L).map(i => (i, s"alpha doc number $i body")))
    val model = Dsir.fit(target, raw, nBuckets = 512)
    assert(model.logRatios.length == 512)
    val plan = Dsir.logWeights(raw, model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"scoring must not shuffle:\n${plan.take(1500)}")
  }

  test("gumbel resample: deterministic, without replacement, weight-biased") {
    val target = df(Seq((1000L, "quality token stream here")))
    // 30 target-like + 170 dissimilar raw docs
    val raw = df((1L to 200L).map { i =>
      if (i <= 30) (i, s"quality token stream here variant $i")
      else (i, s"unrelated filler words payload item $i")
    })
    val model = Dsir.fit(target, raw, nBuckets = 2048)
    val s1 = Dsir.resample(raw, model, 20, "seed1").collect().map(_.getLong(0))
    val s2 = Dsir.resample(raw, model, 20, "seed1").collect().map(_.getLong(0))
    assert(s1.toSeq == s2.toSeq, "same salt must reproduce the sample")
    assert(s1.distinct.length == 20, "sampling is without replacement")
    val s3 = Dsir.resample(raw, model, 20, "seed2").collect().map(_.getLong(0))
    assert(s3.toSeq != s1.toSeq, "a different salt must redraw")
    // weight bias: the 30 target-like docs are 15% of the pool but must
    // dominate the draw (their weights are orders of magnitude higher)
    val hits = s1.count(_ <= 30L)
    assert(hits >= 14, s"importance bias lost: $hits/20 target-like drawn")
  }

  test("empty and sub-bigram texts weight to exactly 0 and never crash") {
    val target = df(Seq((1000L, "alpha beta")))
    val raw = df(Seq((1L, ""), (2L, "solo"), (3L, "alpha beta")))
    val model = Dsir.fit(target, raw, nBuckets = 256)
    val w = Dsir.logWeights(raw, model).select("doc_id", "log_weight")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(w(1L) == 0.0)
    assert(w(3L) > w(2L))
  }

  test("gumbel uniform uses the exactly-representable top-53-bit form") {
    // u must be in (0,1) and identical to the engine-recomputable form
    val g = Dsir.gumbel("dsir", 123L)
    val h = graft.ops.Dedup.md5Lower64("dsir:123")
    val u = ((h >>> 11).toDouble + 0.5) / 9007199254740992.0
    assert(u > 0.0 && u < 1.0)
    assert(g == -math.log(-math.log(u)))
  }
}
