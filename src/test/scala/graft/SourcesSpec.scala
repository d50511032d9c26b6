package graft

import graft.jobs.Synth
import graft.sources.TurnsSource
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Turns ingestion across source formats: parquet / jsonl / csv round-trip
  * with schema enforcement and key-integrity filtering. */
class SourcesSpec extends AnyFunSuite with SparkSuite {

  private def rmrf(p: String): Unit = graft.util.Fs.rmrf(p)

  test("turns round-trip through parquet, jsonl and csv identically") {
    val turns = Synth.turns(spark, 0.001, 2).limit(300).cache()
    val base = "/tmp/graft_sources"
    rmrf(base)
    turns.write.parquet(s"$base/p")
    turns.write.json(s"$base/j")
    turns.write.option("header", "true").option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false").csv(s"$base/c")

    def key(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("conv_id", "turn_idx", "coalesce(ts, timestamp'1970-01-01') as ts",
        "xxhash64(coalesce(text,'')) as th")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getTimestamp(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq

    val p = key(TurnsSource.read(spark, s"$base/p", "parquet"))
    val j = key(TurnsSource.read(spark, s"$base/j", "json"))
    val c = key(TurnsSource.read(spark, s"$base/c", "csv"))
    assert(p.size == 300)
    assert(p == j, "jsonl round-trip must match parquet")
    assert(p == c, "csv round-trip must match parquet")
    turns.unpersist()
    rmrf(base)
  }

  test("validate filters null-key rows and counts them") {
    import org.apache.spark.sql.Row
    val rows = java.util.Arrays.asList(
      Row("c1", Integer.valueOf(0), "user", "hi", null, null),
      Row(null, Integer.valueOf(1), "user", "bad", null, null),
      Row("c1", null, "user", "bad", null, null))
    val schema = org.apache.spark.sql.types.StructType(TurnsSource.schema.map(_.copy(nullable = true)))
    val df = spark.createDataFrame(rows, schema)
    assert(TurnsSource.validate(df).count() == 1)
    assert(TurnsSource.invalidCount(df) == 2)
  }

  test("missing columns are rejected") {
    val df = spark.range(3).toDF("conv_id")
    intercept[IllegalArgumentException] { TurnsSource.validate(df) }
  }
}
