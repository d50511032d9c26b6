package graft

import graft.queries.Query
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one record per query, a guarded index, the oracle
  * text pinned byte for byte, and the one output-order site's plan form. */
class QueryRegistrySpec extends AnyFunSuite with SparkSuite {

  test("112 declared queries, 105 with an oracle, every oracle naming a query") {
    assert(SparkEntry.queries.size == 112)
    assert(SparkEntry.oracleSql.size == 105)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("a duplicate query name throws instead of shadowing a record") {
    val q = Query("q_dup", (s, dir) => s.emptyDataFrame)
    val err = intercept[IllegalArgumentException](Query.index(Seq(q, q.copy())))
    assert(err.getMessage.contains("q_dup"))
  }

  test("the oracle SQL is byte-identical to its pinned text") {
    // name + NUL + sql per entry, entries joined by SOH, in the Map's
    // iteration order — the order Verify writes oracle_sql.json in
    val joined = SparkEntry.oracleSql
      .map { case (name, sql) => name + "\u0000" + sql }.mkString("\u0001")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(joined.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
    assert(sha == "32cb290230dd96506ac00f9d011fd77fe36502ca34212f8631aae7815977d79d")
  }

  test("the output order is one single-partition sort, with no range sampling") {
    // a scratch data dir holding the two tables the queries read
    val dir = java.nio.file.Files.createTempDirectory("graft_registry").toString + "/sf0.001"
    val sp = spark; import sp.implicits._
    Seq(("A", "F", 1.0, 10.0), ("N", "O", 2.0, 20.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((0L, "a b c d e f g"), (1L, "a b c d e f g"), (2L, "x y z"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    for (name <- Seq("q1_pricing", "x_dedup_clusters")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("Exchange SinglePartition"), s"$name:\n$plan")
      assert(!plan.toLowerCase.contains("rangepartitioning"), s"$name:\n$plan")
    }
  }
}
