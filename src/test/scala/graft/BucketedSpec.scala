package graft

import graft.table.Bucketed
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed-layout contract: co-bucketed tables join and aggregate
  * with zero exchanges, and the layout never changes results — only the
  * plan. The counterfactual (same data as plain parquet) is pinned to
  * HAVE exchanges, so the assertion can't pass vacuously. */
class BucketedSpec extends AnyFunSuite with SparkSuite {

  private val base =
    s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_spec"

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.util.Fs.rmrf(base)
  }

  override def afterAll(): Unit = {
    if (spark != null) Seq("bspec_ev", "bspec_tot").foreach(n =>
      spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    super.afterAll()
  }

  private def mkData() = {
    val ev = spark.range(0, 1000).select(
      col("id").as("event_id"),
      (col("id") % 20).as("user_id"),
      (col("id") * 3 % 7).cast("double").as("value"))
    val tot = ev.groupBy("user_id").agg(
      expr("cast(sum(cast(value as decimal(18,6))) as double)").as("user_total"))
    (ev, tot)
  }

  test("co-bucketed join: sort-merge, zero exchanges, rows identical to plain join") {
    val (ev, tot) = mkData()
    Bucketed.write(ev, "bspec_ev", s"$base/ev", Seq("user_id"), 4)
    Bucketed.write(tot, "bspec_tot", s"$base/tot", Seq("user_id"), 4)
    val joined = Bucketed.cojoin(spark, "bspec_ev", "bspec_tot", Seq("user_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("Exchange"), plan.take(1500))
    // layout never changes rows: equal to the in-memory join both ways
    val expected = ev.hint("MERGE").join(tot, Seq("user_id"))
      .select("event_id", "user_id", "value", "user_total")
    val got = joined.select("event_id", "user_id", "value", "user_total")
    assert(got.except(expected).count() == 0 && expected.except(got).count() == 0)
    assert(got.count() == 1000)
  }

  test("counterfactual: the same data as plain parquet DOES shuffle") {
    val (ev, tot) = mkData()
    ev.write.mode("overwrite").parquet(s"$base/plain_ev")
    tot.write.mode("overwrite").parquet(s"$base/plain_tot")
    val joined = spark.read.parquet(s"$base/plain_ev").hint("MERGE")
      .join(spark.read.parquet(s"$base/plain_tot"), Seq("user_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      "plain layout must shuffle — otherwise the bucketed assertion is vacuous:\n" +
        plan.take(1500))
  }

  test("aggregation on the bucket key: zero exchanges") {
    val agg = Bucketed.table(spark, "bspec_ev")
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum("value").as("sv"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
    assert(agg.count() == 20)
  }
}
