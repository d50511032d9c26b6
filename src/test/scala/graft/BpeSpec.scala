package graft

import graft.ops.{Bpe, StoreMeta}
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite with SparkSuite {

  test("hand-computed merges on a toy corpus") {
    // single word type "ababab" (freq 1 is below the merge floor, use 3)
    val m = Bpe.trainFromFrequencies(Array(("ababab", 3L)), nMerges = 8)
    // pairs: (a,b)x3 beats (b,a)x2 -> merge0 = (97,98); word -> [256,256,256]
    // then (256,256)x2 -> merge1; word -> [257,256]; next pair freq 1*3 >= 2
    // -> merge2 = (257,256); then single token, loop ends
    assert(m.merges.take(2).toSeq == Seq((97, 98), (256, 256)))
    assert(m.countTokens("ababab") == 1 || m.countTokens("ababab") == 2)
    // encode path: "abab" -> [256,256] -> [257] under merge1
    assert(m.encodeWord("abab".getBytes("UTF-8")).toSeq == Seq(257))
    // unseen bytes fall back to raw byte tokens
    assert(m.encodeWord("xyz".getBytes("UTF-8")).length == 3)
  }

  test("deterministic ties: smaller pair wins") {
    // "ab" and "cd" both appear 3 times; (a,b) < (c,d) lexicographically
    val m = Bpe.trainFromFrequencies(Array(("ab", 3L), ("cd", 3L)), nMerges = 1)
    assert(m.merges.head == (97, 98))
  }

  test("count decomposes over the pre-tokenizer") {
    val m = Bpe.trainFromFrequencies(Array(("hello", 5L), (" world", 5L)), nMerges = 16)
    val full = m.countTokens("hello world")
    val parts = m.encodeWord("hello".getBytes("UTF-8")).length +
      m.encodeWord(" world".getBytes("UTF-8")).length
    assert(full == parts)
    assert(m.countTokens("") == 0)
    assert(m.countTokens(null) == 0)
  }

  test("spark path: train on documents, count per doc") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = Bpe.train(docs, nMerges = 64)
    assert(model.merges.length > 0 && model.merges.length <= 64)
    val counts = Bpe.tokenCounts(docs, model).collect()
    assert(counts.length == docs.count())
    assert(counts.forall(_.getInt(1) > 0))
    // byte-level BPE is bounded by the UTF-8 BYTE count (a multi-byte char
    // can be up to one token per byte), not the char count
    val joined = Bpe.tokenCounts(docs, model)
      .join(docs.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.expr("octet_length(text)").as("n_bytes")), "doc_id")
      .collect()
    assert(joined.forall(r => r.getInt(1) <= r.getInt(2)))
    // determinism: retraining yields the identical merge list
    val model2 = Bpe.train(docs, nMerges = 64)
    assert(model.merges.toSeq == model2.merges.toSeq)
  }

  test("model persistence round-trips and loaded model encodes identically") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = Bpe.train(docs, nMerges = 48)
    val path = java.nio.file.Files.createTempDirectory("graft_bpe").toString + "/model.bpe"
    Bpe.save(spark, model, path)
    val loaded = Bpe.load(spark, path)
    assert(loaded.merges.toSeq == model.merges.toSeq)
    val a = Bpe.tokenCounts(docs, model).collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val b = Bpe.tokenCounts(docs, loaded).collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a == b)
    // overwrite is atomic-ish (tmp+rename): saving again succeeds
    Bpe.save(spark, loaded, path)
    assert(Bpe.load(spark, path).merges.toSeq == model.merges.toSeq)
  }

  test("trainCached: repeat call on unchanged input runs ZERO Spark jobs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_bpe_c").toString + "/bpe"
    val m1 = Bpe.trainCached(docs, path, nMerges = 48) // cold: trains + saves
    assert(StoreMeta.read(spark, path).exists(_.get("token").isDefined))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val m2 = try {
      val m = Bpe.trainCached(docs, path, nMerges = 48) // warm: header match
      Thread.sleep(1000) // listener bus is async; drain before asserting
      m
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0,
      s"warm trainCached must load, not retrain (ran ${jobs.get()} jobs)")
    assert(m2.merges.toSeq == m1.merges.toSeq)
    // changed trainer params -> header mismatch -> retrains
    val m3 = Bpe.trainCached(docs, path, nMerges = 32)
    assert(m3.merges.length <= 32)
    assert(StoreMeta.read(spark, path).flatMap(_.get("nMerges")).contains("32"))
  }
}
