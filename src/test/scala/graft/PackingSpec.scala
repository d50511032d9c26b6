package graft

import graft.ops.{Packing, Sampling}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sequence packing and temperature mixing: placements are a pure integer
  * function of (corpus, salt, capacity), budgets are integer-exact, and
  * the two-pass prefix-sum plan equals the single-window contract. */
class PackingSpec extends AnyFunSuite with SparkSuite {

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // ---------------- temperature mixing ----------------

  test("temperatureBudgets: isqrt weights, truncating division, hand-checked") {
    val sp = spark; import sp.implicits._
    val df = ((1 to 100).map(i => (s"a$i", "a")) ++
      (1 to 400).map(i => (s"b$i", "b"))).toDF("doc_id", "lang")
    // weights: isqrt(100)=10, isqrt(400)=20; budgets: 90*10/30=30, 90*20/30=60
    val b = Sampling.temperatureBudgets(df, totalBudget = 90L, alpha = 0.5)
    assert(b === Map("a" -> 30L, "b" -> 60L))
    // non-square counts floor: isqrt(10)=3, isqrt(50)=7; 20*3/10=6, 20*7/10=14
    val df2 = ((1 to 10).map(i => (s"a$i", "a")) ++
      (1 to 50).map(i => (s"b$i", "b"))).toDF("doc_id", "lang")
    assert(Sampling.temperatureBudgets(df2, 20L, 0.5) === Map("a" -> 6L, "b" -> 14L))
  }

  test("temperatureMix: membership is the exact hash-ordered budget prefix") {
    val sp = spark; import sp.implicits._
    val df = ((1 to 100).map(i => (s"a$i", "a")) ++
      (1 to 400).map(i => (s"b$i", "b"))).toDF("doc_id", "lang")
    val kept = Sampling.temperatureMix(df, 90L, 0.5, salt = "tmix")
      .select("doc_id", "lang").as[(String, String)].collect().toSet
    // independent driver-side recompute: per-stratum budget-prefix of
    // (hashBucket, key) order
    val budgets = Map("a" -> 30, "b" -> 60)
    val expected = df.as[(String, String)].collect()
      .groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
        rows.sortBy(r => (Sampling.hashBucket(r._1, "tmix"), r._1))
          .take(budgets(lang)).toSeq
      }.toSet
    assert(kept === expected)
    assert(kept.count(_._2 == "a") === 30 && kept.count(_._2 == "b") === 60)
    // the bucketed (skew-proof) route is contract-identical
    val keptB = Sampling.temperatureMix(df, 90L, 0.5, salt = "tmix",
      bucketed = true).select("doc_id", "lang").as[(String, String)].collect().toSet
    assert(keptB === kept)
  }

  test("temperatureMix: alpha flattens the mix relative to raw shares") {
    val sp = spark; import sp.implicits._
    val df = ((1 to 16).map(i => (s"a$i", "a")) ++
      (1 to 1024).map(i => (s"b$i", "b"))).toDF("doc_id", "lang")
    // raw shares 16:1024 = 1.5%; at alpha=0.5 weights 4:32 -> 11% of budget
    val b = Sampling.temperatureBudgets(df, 360L, 0.5)
    assert(b("a") === 40L && b("b") === 320L)
  }

  // ---------------- sequence packing ----------------

  /** Independent single-threaded recompute of the placement contract. */
  private def expectedPlacements(lens: Map[String, Long], salt: String,
      capacity: Long): Set[(String, Long, Long, Long, Long)] = {
    var before = 0L
    val out = Seq.newBuilder[(String, Long, Long, Long, Long)]
    for ((id, len) <- lens.toSeq.filter(_._2 > 0)
        .sortBy { case (id, _) => (Sampling.hashBucket(id, salt), id) }) {
      var s = before / capacity
      while (s * capacity < before + len) {
        val pStart = math.max(before, s * capacity)
        val pEnd = math.min(before + len, (s + 1) * capacity)
        out += ((id, s, pStart - before, pStart - s * capacity, pEnd - pStart))
        s += 1
      }
      before += len
    }
    out.result().toSet
  }

  test("packSequences: placements equal the independent recompute") {
    val sp = spark; import sp.implicits._
    val lens = Map("d1" -> 4L, "d2" -> 9L, "d3" -> 3L, "d4" -> 25L,
      "d5" -> 10L, "d6" -> 0L, "d7" -> 1L)
    val df = lens.toSeq.toDF("doc_id", "ws_tokens")
    val got = Packing.packSequences(df, capacity = 10L, salt = "pk",
        ranges = 4)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === expectedPlacements(lens, "pk", 10L))
    // zero-token doc contributes nothing
    assert(!got.exists(_._1 == "d6"))
  }

  test("packSequences invariants on the documents table") {
    val withTok = docs.withColumn("ws_tokens",
      graft.ops.WsTokenCount.ws_token_count(col("text")))
    val placed = Packing.packSequences(withTok, capacity = 512L,
      salt = "pack", ranges = 8).cache()
    // every doc's pieces are contiguous and cover [0, len)
    val byDoc = placed.collect().groupBy(_.getLong(0))
    val lens = withTok.select("doc_id", "ws_tokens").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    byDoc.foreach { case (id, rows) =>
      val pieces = rows.map(r => (r.getLong(2), r.getLong(4))).sortBy(_._1)
      assert(pieces.head._1 === 0L, s"doc $id first piece offset")
      val covered = pieces.foldLeft(0L) { case (pos, (off, len)) =>
        assert(off === pos, s"doc $id gap at $pos"); pos + len
      }
      assert(covered === lens(id), s"doc $id coverage")
    }
    // every sequence except the last is exactly full, and pieces tile it
    val stats = Packing.packStats(placed, 512L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    val lastSeq = stats.map(_._1).max
    stats.foreach { case (s, filled) =>
      if (s != lastSeq) assert(filled === 512L, s"seq $s not full")
      else assert(filled <= 512L)
    }
    // sequence ids are dense 0..last
    assert(stats.map(_._1).toSeq === (0L to lastSeq).toSeq)
    // the two-pass split count doesn't change placements
    val got1 = Packing.packSequences(withTok, 512L, "pack", ranges = 1)
      .collect().map(_.toSeq).toSet
    assert(placed.collect().map(_.toSeq).toSet === got1)
    placed.unpersist()
  }

  test("packSequences: argument validation") {
    intercept[IllegalArgumentException] {
      Packing.packSequences(docs, capacity = 0L, salt = "x")
    }
    intercept[IllegalArgumentException] {
      Sampling.temperatureBudgets(docs, totalBudget = 0L, alpha = 0.5)
    }
    intercept[IllegalArgumentException] {
      Sampling.temperatureBudgets(docs, totalBudget = 10L, alpha = 1.5)
    }
  }
}
