package graft

import graft.ops.ThresholdSweep
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The binned classifier sweep pinned by hand: per-bin counts, top-down
  * cumulative tp/fp, every guarded ratio, and the fixed-order ROC-AUC
  * trapezoid — plus the boundedness that makes it the 100 TB shape. */
class ThresholdSweepSpec extends AnyFunSuite with SparkSuite {

  private def handCase = {
    val sp = spark; import sp.implicits._
    // bins at nBins=4: 0.10→0, 0.30→1, 0.40→1, 0.60→2, 0.90→3, 1.00→3
    // (score 1.0 clamps into the top bin)
    Seq((0.10, 0L), (0.30, 1L), (0.40, 0L), (0.60, 1L), (0.90, 1L),
      (1.00, 0L)).toDF("score", "y").repartition(3)
  }

  test("prCurve matches the hand-computed sweep at nBins=4") {
    val got = ThresholdSweep.prCurve(handCase, "score", "y", nBins = 4)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8), r.getDouble(9)))
    assert(got.toSeq === Seq(
      (0L, 0.00, 3L, 3L, 0L, 0L, 0.5, 1.0, 1.0, 0.666667),
      (1L, 0.25, 3L, 2L, 0L, 1L, 0.6, 1.0, 0.666667, 0.75),
      (2L, 0.50, 2L, 1L, 1L, 2L, 0.666667, 0.666667, 0.333333, 0.666667),
      (3L, 0.75, 1L, 1L, 2L, 2L, 0.5, 0.333333, 0.333333, 0.4)))
  }

  test("prCurve: precision is null where nothing is predicted positive") {
    val sp = spark; import sp.implicits._
    // all scores land in bin 0, so bins 1..3 predict nothing positive
    val df = Seq((0.1, 1L), (0.2, 0L)).toDF("score", "y")
    val rows = ThresholdSweep.prCurve(df, "score", "y", nBins = 4)
      .orderBy("bin").collect()
    assert(rows(0).getDouble(6) === 0.5) // bin 0: tp=1 fp=1
    (1 to 3).foreach(i => assert(rows(i).isNullAt(6), s"bin $i"))
  }

  test("rocAuc: hand case folds to 2/3; perfect classifier to 1.0") {
    val auc = ThresholdSweep.rocAuc(handCase, "score", "y", nBins = 4).head
    assert((auc.getLong(0), auc.getLong(1)) === ((3L, 3L)))
    assert(auc.getDouble(2) === 0.666667)
    val sp = spark; import sp.implicits._
    val perfect = Seq((0.9, 1L), (0.8, 1L), (0.1, 0L), (0.2, 0L))
      .toDF("score", "y")
    assert(ThresholdSweep.rocAuc(perfect, "score", "y", nBins = 4)
      .head.getDouble(2) === 1.0)
  }

  test("rocAuc: single-class input yields an explicit null, not an artifact") {
    val sp = spark; import sp.implicits._
    val allPos = Seq((0.3, 1L), (0.7, 1L)).toDF("score", "y")
    val r = ThresholdSweep.rocAuc(allPos, "score", "y", nBins = 4).head
    assert(r.getLong(0) === 2L && r.getLong(1) === 0L && r.isNullAt(2))
  }

  test("curve row count is nBins regardless of input size") {
    val sp = spark; import sp.implicits._
    val big = spark.range(0, 50000, 1, 8).select(
      (pmod(col("id") * 2654435761L, lit(1000L)) / 1000.0).as("score"),
      (col("id") % 3 === 0).cast("long").as("y"))
    val curve = ThresholdSweep.prCurve(big, "score", "y")
    assert(curve.count() === 128L)
    // and the single data-sized stage is the binned groupBy: tp at bin 0
    // must equal the total positive count
    val p = big.agg(sum("y")).head.getLong(0)
    assert(curve.filter(col("bin") === 0L).head.getLong(2) === p)
  }
}
