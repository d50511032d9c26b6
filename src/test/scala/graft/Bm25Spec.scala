package graft

import graft.ops.Bm25
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BM25 retrieval: postings must be integer-exact, scores must match a
  * hand-computed reference, ranking must self-retrieve, and the scoring
  * plan must never shuffle the postings (broadcast-only joins). */
class Bm25Spec extends AnyFunSuite with SparkSuite {

  private def docs = {
    val sp = spark; import sp.implicits._
    Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "durian durian durian apple"),
      (3L, "elderberry fig grape")).toDF("doc_id", "text")
  }

  private def queries(rows: (Long, String)*) = {
    val sp = spark; import sp.implicits._
    rows.toDF("query_id", "query_text")
  }

  test("postings are integer-exact with dl riding the groupBy") {
    val p = Bm25.index(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(p === Set(
      ("apple", 0L, 3L, 2L), ("banana", 0L, 3L, 1L),
      ("banana", 1L, 2L, 1L), ("cherry", 1L, 2L, 1L),
      ("durian", 2L, 4L, 3L), ("apple", 2L, 4L, 1L),
      ("elderberry", 3L, 3L, 1L), ("fig", 3L, 3L, 1L),
      ("grape", 3L, 3L, 1L)))
  }

  test("score matches the hand-computed BM25 formula") {
    // Query "apple": N=4, df(apple)=2, avgdl=12/4=3.
    // idf = ln(((4-2)+0.5)/(2+0.5) + 1) = ln(2)
    // doc 0: tf=2, dl=3 -> tfn = 2*2.5 / (2 + 1.5*(0.25 + 0.75*3/3))
    //                          = 5 / (2 + 1.5) = 10/7
    val r = Bm25.topK(docs, queries((100L, "apple")), k = 10,
      k1 = 1.5, b = 0.75)
      .collect().map(x => x.getLong(2) -> ((x.getLong(1), x.getDouble(3)))).toMap
    val idf = math.log(((4.0 - 2) + 0.5) / (2 + 0.5) + 1.0)
    val exp0 = BigDecimal(idf * (2 * 2.5 / (2 + 1.5 * (0.25 + 0.75 * 3 / 3.0))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(0L)._2 === exp0)
    // doc 2: tf=1, dl=4 -> tfn = 2.5 / (1 + 1.5*(0.25 + 0.75*4/3))
    val exp2 = BigDecimal(idf * (2.5 / (1 + 1.5 * (0.25 + 0.75 * 4 / 3.0))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(2L)._2 === exp2)
    // higher tf at shorter dl must outrank
    assert(r(0L)._1 === 1L && r(2L)._1 === 2L)
    assert(r.size === 2) // docs 1 and 3 contain no query term
  }

  test("multi-term queries fold deterministically and self-retrieve") {
    val r = Bm25.topK(docs, queries(
      (7L, "durian apple"), (8L, "elderberry grape fig")), k = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // query 7: doc 2 has durian(3) + apple -> rank 1
    assert(r.contains((7L, 1L, 2L)))
    // query 8: only doc 3 matches at all
    assert(r.filter(_._1 == 8L).map(_._3).toSeq === Seq(3L))
    // duplicated query terms contribute once (set semantics)
    val dup = Bm25.topK(docs, queries((9L, "apple apple")), k = 1)
      .collect().head.getDouble(3)
    val single = Bm25.topK(docs, queries((9L, "apple")), k = 1)
      .collect().head.getDouble(3)
    assert(dup === single)
  }

  test("query terms push into a parquet-backed postings scan") {
    val dir = java.nio.file.Files.createTempDirectory("bm25post").toString
    Bm25.index(docs).repartition(1).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(dir)
    val postings = spark.read.parquet(dir)
    val q = queries((1L, "apple banana"))
    val withPd = Bm25.topKIndexed(postings, q, k = 5)
    val scan = withPd.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("In(term"),
      s"expected In(term,...) pushed to the scan:\n$scan")
    // same results with pruning disabled
    val noPd = Bm25.topKIndexed(postings, q, k = 5, pushdown = false)
    assert(withPd.exceptAll(noPd).isEmpty && noPd.exceptAll(withPd).isEmpty)
  }

  test("postings store: append == rebuild (rows, meta scalars, retrieval)") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bm25store").toString
    graft.util.Fs.rmrf(dir)
    val batch1 = docs
    val batch2 = Seq((10L, "apple grape grape"), (11L, "cherry cherry fig"))
      .toDF("doc_id", "text")
    val all = batch1.unionByName(batch2)
    Bm25.buildPostingsStore(batch1, dir, nBuckets = 2)
    Bm25.appendPostingsStore(batch2, dir, corpusToken = Some(42L),
      nBuckets = 2)
    val (p, (n, avgdl)) = Bm25.readPostingsStore(spark, dir)
    val direct = Bm25.index(all)
    assert(p.exceptAll(direct).isEmpty && direct.exceptAll(p).isEmpty,
      "appended postings diverge from a full rebuild")
    val (nD, avgD) = Bm25.corpusStats(direct)
    assert(n === nD && avgdl === avgD, s"meta scalars drifted: " +
      s"($n, $avgdl) vs ($nD, $avgD)")
    // store-backed retrieval == in-memory retrieval over the union
    val q = queries((1L, "apple cherry"))
    val fromStore = Bm25.topKStore(spark, dir, q, k = 5)
    val inMem = Bm25.topK(all, q, k = 5)
    assert(fromStore.exceptAll(inMem).isEmpty &&
      inMem.exceptAll(fromStore).isEmpty)
    // token gate: a fresh store must no-op the rebuild
    assert(graft.ops.StoreMeta.fresh(spark, dir, "bm25", Some(42L)))
    assert(!graft.ops.StoreMeta.fresh(spark, dir, "bm25", Some(43L)))
    // append on an unbuilt store is loud
    intercept[IllegalStateException] {
      Bm25.appendPostingsStore(batch2, s"$dir-nope", Some(1L))
    }
    graft.util.Fs.rmrf(dir)
  }

  test("scoring plan broadcasts the query side; postings never re-shuffle") {
    val postings = Bm25.index(docs)
    val plan = Bm25.topKIndexed(postings, queries((1L, "apple banana")), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    // the only exchanges allowed: the index groupBy, the score groupBy,
    // and the per-query top-k window — never a sort-merge join over
    // postings
    assert(!plan.contains("SortMergeJoin"))
  }
}
