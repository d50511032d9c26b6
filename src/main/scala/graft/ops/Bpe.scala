package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Real byte-level BPE (GPT-2 style), from scratch — the trained
  * counterpart to TextAnalysis.bpeTokenEstimate's pre-tokenizer heuristic.
  *
  * Shape at 100 TB: pre-token frequencies are a distributed groupBy-count
  * (map-side combine, one shuffle on the token string), capped to the
  * top-`maxWordTypes` types by (freq, token) — the standard trainer
  * approximation; the merge loop then runs on the driver over that small
  * word-type table (vocab-sized work, independent of corpus size).
  * Encoding is a pure per-row function (broadcastable model, no shuffle).
  *
  * Determinism: ties in pair frequency break on the lexicographically
  * smaller pair, so the same corpus always yields the same merge list. */
object Bpe {

  /** Trained model: merge ranks over token ids; ids 0-255 are raw bytes,
    * merge i creates id 256+i. */
  final case class Model(merges: Array[(Int, Int)]) {
    @transient private lazy val rank: java.util.HashMap[Long, Int] = {
      val m = new java.util.HashMap[Long, Int](merges.length * 2)
      var i = 0
      while (i < merges.length) {
        m.put(key(merges(i)._1, merges(i)._2), i)
        i += 1
      }
      m
    }
    private def key(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)

    /** Encode one pre-token's UTF-8 bytes to BPE ids (greedy lowest-rank
      * merge first — the GPT-2 bpe() loop). */
    def encodeWord(bytes: Array[Byte]): Array[Int] = {
      var ids = new Array[Int](bytes.length)
      var i = 0
      while (i < bytes.length) { ids(i) = bytes(i) & 0xff; i += 1 }
      while (ids.length >= 2) {
        // find the lowest-rank adjacent pair
        var bestRank = Int.MaxValue; var bestAt = -1
        i = 0
        while (i < ids.length - 1) {
          val r = rank.getOrDefault(key(ids(i), ids(i + 1)), Int.MaxValue)
          if (r < bestRank) { bestRank = r; bestAt = i }
          i += 1
        }
        if (bestAt < 0 || bestRank == Int.MaxValue) return ids
        // merge ALL occurrences of that pair (left to right)
        val a = ids(bestAt); val b = ids(bestAt + 1)
        val out = new Array[Int](ids.length) // upper bound
        var n = 0; i = 0
        while (i < ids.length) {
          if (i < ids.length - 1 && ids(i) == a && ids(i + 1) == b) {
            out(n) = 256 + bestRank; n += 1; i += 2
          } else { out(n) = ids(i); n += 1; i += 1 }
        }
        ids = java.util.Arrays.copyOf(out, n)
      }
      ids
    }

    def countTokens(text: String): Int = {
      if (text == null || text.isEmpty) return 0
      val m = TextAnalysis.BpePre.matcher(text)
      var n = 0
      while (m.find()) n += encodeWord(m.group().getBytes("UTF-8")).length
      n
    }
  }

  /** Distributed word-type frequencies, capped deterministically. */
  def wordFrequencies(docs: DataFrame, textCol: String = "text",
      maxWordTypes: Int = 100000): Array[(String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val preTok = udf((text: String) => {
      if (text == null) Seq.empty[String]
      else {
        val m = TextAnalysis.BpePre.matcher(text)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (m.find()) out += m.group()
        out.toSeq
      }
    })
    docs.select(explode(preTok(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")) // deterministic cap
      .limit(maxWordTypes)
      .as[(String, Long)].collect()
  }

  /** Driver-side merge loop over the (small) word-type table. */
  def trainFromFrequencies(freqs: Array[(String, Long)], nMerges: Int): Model = {
    // each word type as an id sequence + its corpus frequency
    var words: Array[(Array[Int], Long)] = freqs.map { case (w, n) =>
      (w.getBytes("UTF-8").map(_ & 0xff), n)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var step = 0
    while (step < nMerges) {
      // pair frequencies weighted by word frequency
      val pairCount = new java.util.HashMap[Long, Long]()
      words.foreach { case (ids, n) =>
        var i = 0
        while (i < ids.length - 1) {
          val k = (ids(i).toLong << 32) | (ids(i + 1).toLong & 0xffffffffL)
          pairCount.merge(k, n, _ + _)
          i += 1
        }
      }
      if (pairCount.isEmpty) return Model(merges.toArray)
      // argmax by count, ties -> smaller (a, b)
      var bestK = -1L; var bestN = -1L
      val it = pairCount.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > bestN || (e.getValue == bestN &&
            java.lang.Long.compareUnsigned(e.getKey, bestK) < 0)) {
          bestN = e.getValue; bestK = e.getKey
        }
      }
      if (bestN < 2) return Model(merges.toArray) // nothing worth merging
      val a = (bestK >>> 32).toInt; val b = bestK.toInt
      val newId = 256 + merges.length
      merges += ((a, b))
      words = words.map { case (ids, n) =>
        if (ids.length < 2) (ids, n)
        else {
          val out = new Array[Int](ids.length)
          var m = 0; var i = 0
          while (i < ids.length) {
            if (i < ids.length - 1 && ids(i) == a && ids(i + 1) == b) {
              out(m) = newId; m += 1; i += 2
            } else { out(m) = ids(i); m += 1; i += 1 }
          }
          (java.util.Arrays.copyOf(out, m), n)
        }
      }
      step += 1
    }
    Model(merges.toArray)
  }

  def train(docs: DataFrame, textCol: String = "text", nMerges: Int = 512,
      maxWordTypes: Int = 100000): Model =
    trainFromFrequencies(wordFrequencies(docs, textCol, maxWordTypes), nMerges)

  /** Per-doc token counts under a trained model (map-only; the model rides
    * in the UDF closure — executor-broadcast, no shuffle). */
  def tokenCounts(docs: DataFrame, model: Model, textCol: String = "text"): DataFrame = {
    val countUdf = udf((text: String) => model.countTokens(text))
    docs.select(col("doc_id"), countUdf(col(textCol)).as("bpe_tokens"))
  }

  // ------------------------------------------------------------ persistence
  /** Persist a trained model (one "left right" merge per line, rank order)
    * through the Hadoop FS with one atomic overwrite-rename. At scale the
    * tokenizer is a BUILD ARTIFACT — trained once, loaded by every encode
    * job — not a per-job computation. */
  def save(spark: org.apache.spark.sql.SparkSession, model: Model, path: String): Unit =
    graft.util.FsAtomic.overwriteFile(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(path),
      model.merges.map { case (a, b) => s"$a $b" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Model(text.linesIterator.filter(_.nonEmpty).map { l =>
      val sp = l.indexOf(' ')
      (l.substring(0, sp).toInt, l.substring(sp + 1).toInt)
    }.toArray)
  }

  /** Train-once-per-input: the model is a [[StoreMeta]] store of kind
    * `bpe` — `dir/model` plus the sidecar, whose keys are kind, token and
    * the trainer params (nMerges, maxWordTypes, textCol). The store is
    * fresh when the input's metadata-only token ([[StoreMeta.inputToken]]
    * — file listing path/length/mtime, NO data scan) and the params match;
    * then the model loads, otherwise the distributed training pass runs
    * and the store is rewritten. A repeat call on an unchanged input runs
    * ZERO Spark jobs — the tokenizer behaves like the build artifact it
    * is. */
  def trainCached(docs: DataFrame, dir: String, textCol: String = "text",
      nMerges: Int = 512, maxWordTypes: Int = 100000): Model = {
    val spark = docs.sparkSession
    val token = StoreMeta.inputToken(docs)
    val path = s"$dir/model"
    val params = Seq("nMerges" -> nMerges.toString,
      "maxWordTypes" -> maxWordTypes.toString, "textCol" -> textCol)
    if (StoreMeta.fresh(spark, dir, "bpe", token,
        m => params.forall { case (k, v) => m.get(k).contains(v) }))
      return load(spark, path)
    val model = train(docs, textCol, nMerges, maxWordTypes)
    save(spark, model, path)
    StoreMeta.write(spark, dir, StoreMeta.of(
      Seq("kind" -> "bpe", "token" -> token.getOrElse(0L)) ++ params: _*))
    model
  }
}
