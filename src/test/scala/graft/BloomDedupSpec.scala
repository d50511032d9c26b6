package graft

import graft.ops.{BloomDedup, Dedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sharded Bloom-filter dedup gate: no false negatives, exact composed
  * output, bit-identical append, measured fp rate. */
class BloomDedupSpec extends AnyFunSuite with SparkSuite {

  private def docs(ids: Seq[Long], tag: String) = {
    val sp = spark; import sp.implicits._
    ids.map(i => (i, s"doc $tag ${graft.jobs.Synth.mix(i).toHexString} body $i"))
      .toDF("doc_id", "text")
  }

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/bloom"

  // corpus docs 0..499 written to parquet so inputToken has file lineage
  private def corpusDf(dir: String): org.apache.spark.sql.DataFrame = {
    val p = s"$dir/corpus.parquet"
    docs(0L until 500L, "c").write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  test("no false negatives: every true duplicate is flagged") {
    val dir = fresh("graft_bloom_fn")
    val corpus = corpusDf(dir)
    BloomDedup.buildBloom(corpus, dir, shards = 8)
    // batch = 50 exact copies of corpus docs + 50 new docs
    val batch = docs(100L until 150L, "c").unionByName(docs(1000L until 1050L, "n"))
    val hits = BloomDedup.mightContain(batch, dir)
      .filter(col("bloom_hit")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert((100L until 150L).forall(hits.contains), "a Bloom filter must never miss")
  }

  test("dedupAgainst == exactDedupAgainst, bit-for-bit") {
    val dir = fresh("graft_bloom_exact")
    val corpus = corpusDf(dir)
    BloomDedup.buildBloom(corpus, dir, shards = 8)
    val batch = docs(450L until 520L, "c").unionByName(docs(2000L until 2020L, "n"))
    val viaBloom = BloomDedup.dedupAgainst(batch, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = Dedup.exactDedupAgainst(batch, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact)
    assert(viaBloom == ((500L until 520L) ++ (2000L until 2020L)).toSet)
  }

  test("cogrouped probe agrees with the broadcast probe") {
    val dir = fresh("graft_bloom_cg")
    BloomDedup.buildBloom(corpusDf(dir), dir, shards = 8)
    val batch = docs(480L until 540L, "c")
    val a = BloomDedup.mightContain(batch, dir)
      .select("doc_id", "bloom_hit").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val b = BloomDedup.mightContainCogrouped(batch, dir)
      .select("doc_id", "bloom_hit").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(a == b)
  }

  test("auto-route picks broadcast under the threshold, cogroup past it, hint wins") {
    val dir = fresh("graft_bloom_route")
    BloomDedup.buildBloom(corpusDf(dir), dir, shards = 8)
    val batch = docs(480L until 540L, "c")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "bloom_hit").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val expected = hits(BloomDedup.mightContain(batch, dir))
    // tiny filter, default threshold: broadcast route — the probe plan has
    // NO shuffle (pure map-side), which is what distinguishes the route
    val auto = BloomDedup.mightContainAuto(batch, dir)
    assert(!auto.queryExecution.executedPlan.toString.contains("Exchange"),
      "below-threshold auto route must be the map-side broadcast probe")
    assert(hits(auto) == expected)
    // threshold forced to 0: cogroup route — the plan co-shuffles
    val forced = BloomDedup.mightContainAuto(batch, dir, broadcastMaxBytes = 0L)
    assert(forced.queryExecution.executedPlan.toString.contains("Exchange"),
      "past-threshold auto route must be the cogrouped probe")
    assert(hits(forced) == expected)
    // an explicit hint overrides the size decision in both directions
    val hintedCg = BloomDedup.mightContainAuto(batch, dir,
      routeHint = Some("cogroup"))
    assert(hintedCg.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(hits(hintedCg) == expected)
    val hintedBc = BloomDedup.mightContainAuto(batch, dir,
      broadcastMaxBytes = 0L, routeHint = Some("broadcast"))
    assert(!hintedBc.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(hits(hintedBc) == expected)
    intercept[IllegalArgumentException] {
      BloomDedup.mightContainAuto(batch, dir, routeHint = Some("bogus"))
    }
  }

  test("append is bit-identical to a rebuild over the union") {
    val dirA = fresh("graft_bloom_appA")
    val dirB = fresh("graft_bloom_appB")
    val corpus = corpusDf(dirA)
    BloomDedup.buildBloom(corpus, dirA, shards = 8)
    val batch2 = docs(500L until 600L, "c")
    BloomDedup.appendBloom(batch2, dirA, newToken = Some(42L))

    // rebuild at the SAME geometry (m fixed by first build's key count):
    // force identical bytes_per_shard by building from the original
    // corpus, then appending — vs appending twice in different order
    BloomDedup.buildBloom(corpus, dirB, shards = 8)
    BloomDedup.appendBloom(docs(550L until 600L, "c"), dirB, Some(1L))
    BloomDedup.appendBloom(docs(500L until 550L, "c"), dirB, Some(2L))

    def bitsOf(dir: String) = spark.read.parquet(s"$dir/filters")
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(bitsOf(dirA) == bitsOf(dirB), "OR order must not matter")

    // appended keys probe as present; untouched new keys stay absent
    val hits = BloomDedup.mightContain(docs(500L until 600L, "c"), dirA)
      .filter(col("bloom_hit")).count()
    assert(hits == 100L)
  }

  test("approx gate only ever over-drops relative to the exact form") {
    val dir = fresh("graft_bloom_approx")
    BloomDedup.buildBloom(corpusDf(dir), dir, shards = 8)
    val batch = docs(400L until 520L, "c").unionByName(docs(3000L until 3100L, "n"))
    val exact = BloomDedup.dedupAgainst(batch, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val approx = BloomDedup.dedupAgainstApprox(batch, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(approx.subsetOf(exact), "approx keeps only rows the exact form keeps")
    // every true duplicate is gone in BOTH forms (no false negatives)
    assert((400L until 500L).forall(i => !approx.contains(i) && !exact.contains(i)))
  }

  test("false-positive rate stays near the designed bound") {
    val dir = fresh("graft_bloom_fp")
    BloomDedup.buildBloom(corpusDf(dir), dir, bitsPerKey = 10, nHashes = 7,
      shards = 4)
    // 2000 keys that are definitely not in the corpus
    val fresh_ = docs(100000L until 102000L, "x")
    val fp = BloomDedup.mightContain(fresh_, dir)
      .filter(col("bloom_hit")).count()
    // designed fp at 10 bits/key, k=7 is ~0.8%; allow generous slack
    assert(fp <= 60, s"fp rate out of band: $fp / 2000")
    val (nKeys, bpk) = BloomDedup.bloomLoad(spark, dir)
    assert(nKeys == 500L && bpk >= 10.0)
  }

  test("empty sliver short-circuits; fresh build is a zero-job no-op") {
    val dir = fresh("graft_bloom_idem")
    val corpus = corpusDf(dir)
    BloomDedup.buildBloom(corpus, dir, shards = 4)
    // all-new batch: nothing flagged, store never joined
    val out = BloomDedup.dedupAgainst(docs(50000L until 50020L, "z"), dir)
    assert(out.count() == 20L)
    // token-fresh rebuild returns without touching the filters
    val mtime = new java.io.File(s"$dir/filters").lastModified()
    BloomDedup.buildBloom(corpus, dir, shards = 4)
    assert(new java.io.File(s"$dir/filters").lastModified() == mtime)
  }

  test("re-appending overlapping keys neither double-counts n_keys nor duplicates store rows") {
    val dir = fresh("graft_bloom_reapp")
    val corpus = corpusDf(dir)
    BloomDedup.buildBloom(corpus, dir, shards = 8)
    // 30 corpus dups + 20 novel: only the novel keys may enter
    BloomDedup.appendBloom(docs(470L until 520L, "c"), dir, Some(7L))
    val (nKeys, _) = BloomDedup.bloomLoad(spark, dir)
    assert(nKeys == 520L, s"500 corpus + 20 novel, got $nKeys")
    val store = spark.read.parquet(s"$dir/keys")
    assert(store.count() == 520L)
    assert(store.select("h1", "h2").distinct().count() == 520L)
    // replaying the SAME append is a pure no-op on count and bits
    def bitsOf = spark.read.parquet(s"$dir/filters").collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val before = bitsOf
    BloomDedup.appendBloom(docs(470L until 520L, "c"), dir, Some(8L))
    assert(BloomDedup.bloomLoad(spark, dir)._1 == 520L)
    assert(bitsOf == before)
  }

  test("null text rows pass the gate unharmed and match exactDedupAgainst") {
    val dir = fresh("graft_bloom_null")
    val sp = spark; import sp.implicits._
    val corpusP =
      java.nio.file.Files.createTempDirectory("graft_bloom_nullc").toString + "/c.parquet"
    docs(0L until 100L, "c").unionByName(
      Seq((900L, null.asInstanceOf[String])).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(corpusP)
    val corpus = spark.read.parquet(corpusP)
    BloomDedup.buildBloom(corpus, dir, shards = 4) // must not NPE on null md5
    val batch = docs(50L until 60L, "c").unionByName(
      Seq((901L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val viaBloom = BloomDedup.dedupAgainst(batch, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = Dedup.exactDedupAgainst(batch, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // a null key never equals anything (SQL semantics): the row survives
    assert(viaBloom == exact, s"$viaBloom != $exact")
    assert(viaBloom == Set(901L))
    // both probe forms report the null-text row as definitely new
    assert(!BloomDedup.mightContain(batch, dir).filter(col("doc_id") === 901L)
      .head().getAs[Boolean]("bloom_hit"))
    assert(!BloomDedup.mightContainCogrouped(batch, dir).filter(col("doc_id") === 901L)
      .head().getAs[Boolean]("bloom_hit"))
  }
}
