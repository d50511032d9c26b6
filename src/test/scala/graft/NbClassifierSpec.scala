package graft

import graft.ops.NbClassifier
import org.scalatest.funsuite.AnyFunSuite

/** Multinomial Naive Bayes: model-as-DataFrame trainer + join scorer.
  * Smoothing/prior/fold contract pinned by hand-computed expectations. */
class NbClassifierSpec extends AnyFunSuite with SparkSuite {

  private def df(rows: Seq[(Long, String, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "label", "text")
  }

  private lazy val trainDocs = df(Seq(
    (1L, "good", "insight analysis careful insight data"),
    (2L, "good", "careful analysis insight method"),
    (3L, "spam", "buy now click buy cheap"),
    (4L, "spam", "click cheap buy now now")))

  test("model counts are per-(label, token) occurrence counts") {
    val m = NbClassifier.train(trainDocs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("good", "insight")) === 3L)
    assert(m(("spam", "buy")) === 3L)
    assert(m(("spam", "now")) === 3L)
    assert(!m.contains(("good", "buy")))
  }

  test("priors carry class doc and token totals") {
    val p = NbClassifier.priors(trainDocs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(p === Map("good" -> ((2L, 9L)), "spam" -> ((2L, 10L))))
  }

  test("held-out docs with class markers are classified correctly") {
    val test = df(Seq(
      (10L, "?", "insight analysis of the data"),
      (11L, "?", "buy cheap click here now")))
    val out = NbClassifier.predict(trainDocs, test).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(10L -> "good", 11L -> "spam"))
  }

  test("score arithmetic: prior seed + position-ordered add-one terms, hand-checked") {
    // vocab V = distinct tokens in train = good {insight, analysis,
    // careful, data, method} + spam {buy, now, click, cheap} = 9
    val test = df(Seq((20L, "?", "insight buy")))
    val model = NbClassifier.train(trainDocs).localCheckpoint()
    val pr = NbClassifier.priors(trainDocs).localCheckpoint()
    val out = NbClassifier.score(test, model, pr, 4L, NbClassifier.vocabSize(trainDocs))
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    val expGood = math.log(2.0 / 4) + math.log((3 + 1) / (9.0 + 9)) + math.log((0 + 1) / (9.0 + 9))
    val expSpam = math.log(2.0 / 4) + math.log((0 + 1) / (10.0 + 9)) + math.log((3 + 1) / (10.0 + 9))
    assert(math.abs(out("good") - expGood) < 1e-12)
    assert(math.abs(out("spam") - expSpam) < 1e-12)
  }

  test("token-free doc scores prior-only; equal priors break to the larger label") {
    val test = df(Seq((30L, "?", "---")))
    val out = NbClassifier.predict(trainDocs, test).collect()
    assert(out.length === 1)
    assert(out.head.getString(1) === "spam") // tie on prior ll: 'spam' > 'good'
    assert(math.abs(out.head.getDouble(2) - BigDecimal(math.log(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("unseen tokens fall to the smoothing floor, not to zero probability") {
    val test = df(Seq((40L, "?", "zzz qqq unknownword insight")))
    val out = NbClassifier.predict(trainDocs, test).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(40L) === "good") // one good marker beats three shared-floor unknowns
  }
}
