package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the hot-key-safety of every `row_number().over(partitionBy(key))
  * .filter(rank <= k)` site in the repo: Spark's InferWindowGroupLimit must
  * plan a PARTIAL WindowGroupLimit *below* the exchange (map-side per-key
  * top-k, so a hot key ships <= k rows per map partition instead of its
  * whole candidate set) and a FINAL one above it.
  *
  * This is the built-in form of the classic two-stage top-k escape; a
  * hand-rolled (key, partition-id) pre-rank was measured at parity at 20M
  * rows / 95%-hot key while adding a second exchange (BENCH.md round 7b,
  * per-key top-k), so the repo deliberately ships the plain
  * window form everywhere. If a Spark upgrade or a config change
  * (spark.sql.optimizer.windowGroupLimitThreshold, default 1000 — all our
  * k values sit far below it) ever stops the rule from firing, this spec
  * is the tripwire that says the decision needs revisiting. */
class TopKSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 8

  /** Partial WindowGroupLimit strictly below the exchange, Final above. */
  private def assertTwoStage(plan: String, label: String): Unit = {
    val lines = plan.linesIterator.toVector
    val partial = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    val fin = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Final"))
    val exch = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(partial >= 0, s"$label: no partial WindowGroupLimit\n$plan")
    assert(fin >= 0, s"$label: no final WindowGroupLimit\n$plan")
    // toString prints parents first, so below-the-exchange = larger index
    assert(fin < exch && exch < partial,
      s"$label: expected Final < Exchange < Partial, got " +
        s"$fin/$exch/$partial\n$plan")
  }

  test("rank-filter over a skewed key plans map-side partial top-k") {
    val df = spark.range(0, 10000, 1, 16).select(
      when(col("id") < 8000, lit(0L)).otherwise(col("id") % 7 + 1).as("key"),
      col("id"),
      (col("id") % 97).cast("double").as("score"))
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
    val topk = df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
    // the .cast("long") interposes a Project — the rule must still fire
    // (the filter pushes through the cast)
    assertTwoStage(topk.queryExecution.executedPlan.toString, "generic")
    // and the plan answers correctly: 10 rows for the hot key
    assert(topk.filter(col("key") === 0L).count() === 10L)
  }

  test("Bm25.topK's per-query ranking plans map-side partial top-k") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha alpha delta"),
      (3L, "beta beta beta"), (4L, "gamma delta alpha")).toDF("doc_id", "text")
    val qs = Seq((1L, "alpha beta")).toDF("query_id", "query_text")
    val plan = graft.ops.Bm25.topK(docs, qs, 2)
      .queryExecution.executedPlan.toString
    assertTwoStage(plan, "bm25")
  }
}
