package graft

import graft.ops.NgramLm
import org.scalatest.funsuite.AnyFunSuite

/** Bigram LM scoring: hand-checked counts and likelihoods on a toy corpus,
  * smoothing for unseen events, and bit-determinism across partitionings. */
class NgramLmSpec extends AnyFunSuite with SparkSuite {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)): _*), schema)
  }

  private val corpus = Seq((1L, "a b a"), (2L, "a b"))

  test("bigram counts with the <s> start sentinel") {
    val m = NgramLm.train(docsDf(corpus)).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(m == Map(("<s>", "a") -> 2L, ("a", "b") -> 2L, ("b", "a") -> 1L))
    assert(NgramLm.vocabSize(docsDf(corpus)) == 2L)
  }

  test("hand-checked add-one likelihoods, position-ordered") {
    val d = docsDf(corpus)
    val out = NgramLm.scoreInCorpus(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    // doc 2: p(<s>a) = 3/4, p(ab) = 3/4
    val exp2 = -(math.log(3.0 / 4) + math.log(3.0 / 4)) / 2
    // doc 1: + p(ba) = (1+1)/(1+2)
    val exp1 = -(math.log(3.0 / 4) + math.log(3.0 / 4) + math.log(2.0 / 3)) / 3
    assert(out(0)._2 == 3 && math.abs(out(0)._3 - exp1) < 1e-12)
    assert(out(1)._2 == 2 && math.abs(out(1)._3 - exp2) < 1e-12)
  }

  test("unseen contexts and words fall back to pure smoothing mass") {
    val model = NgramLm.train(docsDf(corpus))
    val out = NgramLm.score(docsDf(Seq((9L, "c c"))), model, vocab = 2).head()
    // p(<s>c) = (0+1)/(2+2); p(cc) = (0+1)/(0+2) — unseen context ctx=0
    val exp = -(math.log(1.0 / 4) + math.log(1.0 / 2)) / 2
    assert(out.getAs[Long]("n_tokens") == 2 &&
      math.abs(out.getAs[Double]("mean_nll") - exp) < 1e-12)
  }

  test("mean_nll is bit-deterministic across partitionings") {
    val big = (1L to 40L).map(i => (i, (1 to 30).map(j =>
      "w" + ((i * 31 + j * 17) % 11)).mkString(" ")))
    val a = NgramLm.scoreInCorpus(docsDf(big)).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    val b = NgramLm.scoreInCorpus(docsDf(big).repartition(7)).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(a == b) // exact double equality — the ordered fold is the point
  }
}
