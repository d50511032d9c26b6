package graft

import graft.ops.{AnnIndex, BloomDedup, Bm25, Bpe, Dedup, Sketches, StoreMeta}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The derived stores' one metadata sidecar: every kind's meta file is the
  * exact render of its parsed record, and every appender refuses a dir
  * that holds no store or another kind's store before writing anything. */
class StoreMetaSpec extends AnyFunSuite with SparkSuite {

  private val tmp = Files.createTempDirectory("graft_storemeta").toString

  private def docs: DataFrame = {
    val p = s"$tmp/docs.parquet"
    if (!new java.io.File(p).exists()) {
      val sp = spark; import sp.implicits._
      (0L until 40L).map(i => (i, s"doc $i alpha beta ${i % 7} gamma ${i % 3}"))
        .toDF("doc_id", "text").write.parquet(p)
    }
    spark.read.parquet(p)
  }

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** One built store per kind, keyed by kind. */
  private lazy val stores: Map[String, String] = {
    val d = docs
    val e = emb.filter(col("vec_id") < 250)
    val builds: Seq[(String, String => Unit)] = Seq(
      "lsh" -> (AnnIndex.buildLsh(e, _, nBits = 4)),
      "ivf" -> (AnnIndex.buildIvf(e, _, nCells = 4)),
      "ivfpq" -> (AnnIndex.buildIvfPq(e, _, nCells = 4, m = 16, kCodes = 16)),
      "minhash" -> (Dedup.buildSignatureStore(d, _)),
      "bloom" -> (BloomDedup.buildBloom(d, _, shards = 4)),
      "sketches" -> (Sketches.buildSketchStore(d, _)),
      "bm25" -> (Bm25.buildPostingsStore(d, _, nBuckets = 2)),
      "bpe" -> (Bpe.trainCached(d, _, nMerges = 8)))
    builds.map { case (kind, build) =>
      val dir = s"$tmp/$kind"
      build(dir)
      kind -> dir
    }.toMap
  }

  private def metaBytes(dir: String): Array[Byte] =
    Files.readAllBytes(Paths.get(StoreMeta.path(dir).toString))

  test("every store kind's meta file is the exact render of its parsed record") {
    // an exactly-once ANN append adds the batches line
    AnnIndex.buildLsh(emb.filter(col("vec_id") < 250), s"$tmp/lsh_app", nBits = 4)
    AnnIndex.appendLsh(emb.filter(col("vec_id") >= 250), s"$tmp/lsh_app",
      batchId = "b1")
    for ((kind, dir) <- stores.toSeq :+ ("lsh" -> s"$tmp/lsh_app")) {
      val bytes = metaBytes(dir)
      val meta = StoreMeta.parse(bytes)
      assert(meta.render.sameElements(bytes), s"$kind meta does not round-trip")
      assert(meta.entries.head == ("kind" -> kind))
      assert(StoreMeta.read(spark, dir).contains(meta))
    }
    assert(StoreMeta.parse(metaBytes(s"$tmp/lsh_app")).get("batches").contains("b1"))
    assert(StoreMeta.read(spark, s"$tmp/absent").isEmpty)
  }

  test("every appender refuses an absent or other-kind store and leaves its meta unchanged") {
    val d = docs
    val e = emb.filter(col("vec_id") >= 250)
    // each appender against the next kind's built store
    val appends: Seq[(String, String, String => Unit)] = Seq(
      ("minhash", "bm25", Dedup.appendSignatureStore(d, _, Some(1L))),
      ("sketches", "minhash", Sketches.appendSketchStore(d, _, Some(1L))),
      ("bloom", "sketches", BloomDedup.appendBloom(d, _, Some(1L))),
      ("bm25", "bloom", Bm25.appendPostingsStore(d, _, Some(1L))),
      ("lsh", "ivf", AnnIndex.appendLsh(e, _)),
      ("ivf", "ivfpq", AnnIndex.appendIvf(e, _)),
      ("ivfpq", "lsh", AnnIndex.appendIvfPq(e, _)))
    for ((kind, other, appendTo) <- appends) {
      val dir = stores(other)
      val before = metaBytes(dir)
      val err = intercept[IllegalStateException](appendTo(dir))
      assert(err.getMessage.contains(dir) &&
        err.getMessage.contains(s"a $other store") &&
        err.getMessage.contains(s"not a $kind store"), err.getMessage)
      assert(metaBytes(dir).sameElements(before), s"$kind append rewrote the $other meta")
      val absent = s"$tmp/absent_$kind"
      intercept[IllegalStateException](appendTo(absent))
      assert(!new java.io.File(absent).exists(), s"$kind append wrote into $absent")
    }
  }
}
