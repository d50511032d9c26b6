package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid 2011) — the memory half of
  * the 100 TB ANN story. IVF prunes WHICH vectors a probe scans; PQ
  * shrinks WHAT each scanned vector costs: dim floats (256 B at dim=64)
  * become `m` one-byte codes (8 B at m=8 — 32x), so a candidate scan is
  * table lookups over a code column instead of float math over the raw
  * embeddings, and the working set that must sit hot per executor drops
  * by the same factor.
  *
  * Spark shape:
  *  - training is driver-side on the SAME bounded deterministic sample as
  *    the IVF coarse quantizer (xxhash64-ordered, 4096 rows), one
  *    [[Similarity.localKMeans]] per subspace — the model is m*k*dsub
  *    doubles (~128 KB at m=8, k=256, dim=64), a closure rider;
  *  - encoding is one map-side pass (a [[Similarity.CentroidKernel]] per
  *    subspace), no shuffle — write the (id, pq_code) frame columnar next
  *    to the corpus and the scan never touches raw embeddings again;
  *  - an ADC query builds the m*k distance table ONCE driver-side
  *    (k*dim subtract-squares — microseconds), then the scan is m array
  *    lookups + adds per row, followed by a global top-k (TakeOrdered —
  *    k rows per partition cross the wire, no full sort).
  *
  * Exactness contract (test-pinned): the ADC distance is the squared L2
  * distance from the query to the DECODED (reconstructed) vector — the
  * same subtract-squares, grouped per subspace, so it differs from a
  * flat full-dim recompute only by float-add associativity (pinned at
  * 1e-9 relative); recall statements reduce to properties of the
  * reconstruction alone. Identical vectors encode to identical codes
  * (assignment is a pure function of the vector), so planted-duplicate
  * contracts carry over from the IVF/LSH family unchanged. */
object Pq {

  /** `codebooks(s)(code)(j)`: m subspaces × k codes × dsub dims. */
  final case class PqModel(m: Int, dsub: Int,
      codebooks: Array[Array[Array[Double]]]) extends Serializable {
    def k: Int = codebooks.head.length
    def dim: Int = m * dsub
  }

  /** Train per-subspace codebooks on the bounded deterministic driver
    * sample. `dim % m == 0` required (subspaces are contiguous slices —
    * the standard layout; a rotation/permutation belongs upstream). */
  def train(embeddings: DataFrame, m: Int = 8, k: Int = 256,
      sampleSize: Int = 4096,
      idCol: String = "vec_id", embCol: String = "embedding"): PqModel = {
    require(k <= 256, s"codes are stored as one byte each: k=$k > 256")
    val sample = embeddings
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleSize)
      .select(col(embCol)).collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty training input")
    val dim = sample.head.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      Similarity.localKMeans(sub, k)
    }
    PqModel(m, dsub, codebooks)
  }

  /** One map-side pass: embeddings -> (idCol, pq_code binary). */
  def encode(embeddings: DataFrame, model: PqModel,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val kerns = model.codebooks.map(cb => new Similarity.CentroidKernel(cb))
    val m = model.m; val dsub = model.dsub
    val encUdf = udf { (v: Seq[Float]) =>
      require(v.length == m * dsub,
        s"vector dim ${v.length} != model dim ${m * dsub}")
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val sub = new Array[Float](dsub)
        var j = 0
        while (j < dsub) { sub(j) = v(s * dsub + j); j += 1 }
        out(s) = kerns(s).nearest(sub).toByte
        s += 1
      }
      out
    }
    embeddings.select(col(idCol), encUdf(col(embCol)).as("pq_code"))
  }

  /** Reconstruction of a code — the vector the ADC distance is exact
    * against. Driver/test-side helper. */
  def decode(code: Array[Byte], model: PqModel): Array[Double] = {
    val out = new Array[Double](model.dim)
    var s = 0
    while (s < model.m) {
      val c = code(s) & 0xff
      System.arraycopy(model.codebooks(s)(c), 0, out, s * model.dsub, model.dsub)
      s += 1
    }
    out
  }

  /** The per-query m*k table: entry (s, c) is the exact squared L2 from
    * the query's s-th subvector to codebook entry c, with the kernel's
    * subtract-square j-ascending accumulation. */
  private[ops] def adcTable(query: Array[Float], model: PqModel): Array[Double] = {
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    val k = model.k; val dsub = model.dsub
    val table = new Array[Double](model.m * k)
    var s = 0
    while (s < model.m) {
      var c = 0
      while (c < k) {
        val cb = model.codebooks(s)(c)
        var d = 0.0; var j = 0
        while (j < dsub) {
          val t = query(s * dsub + j).toDouble - cb(j); d += t * t; j += 1
        }
        table(s * k + c) = d
        c += 1
      }
      s += 1
    }
    table
  }

  /** Asymmetric-distance top-k over an encoded frame: m lookups + adds
    * per row, global TakeOrdered. Ascending squared L2 — on unit-norm
    * embeddings the same ranking as descending cosine. */
  def adcTopK(codes: DataFrame, model: PqModel, query: Array[Float], k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val table = adcTable(query, model)
    val m = model.m; val kc = model.k
    val distUdf = udf { (code: Array[Byte]) =>
      var d = 0.0; var s = 0
      while (s < m) { d += table(s * kc + (code(s) & 0xff)); s += 1 }
      d
    }
    codes
      .withColumn("adc_dist", distUdf(col("pq_code")))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("adc_dist"))
  }

  /** ADC with a refine step (the FAISS `IndexRefine` recipe): the code
    * scan shortlists `refine * k` candidates, exact cosine re-ranks ONLY
    * that slice. FLOPs drop from n*dim (brute) to n*m lookups +
    * refine*k*dim — the candidate ids broadcast into a hash join against
    * the raw table, so the expensive math never touches more than the
    * shortlist. Emits (vec_id, cosine) descending — the brute-force
    * contract shape. */
  def adcTopKRefined(codes: DataFrame, embeddings: DataFrame, model: PqModel,
      query: Array[Float], k: Int, refine: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val shortlist = adcTopK(codes, model, query, refine * k, idCol)
      .select(col(idCol))
    embeddings
      .join(broadcast(shortlist), Seq(idCol))
      .withColumn("cosine", Similarity.cosineSimExpr(col(embCol), typedLit(query)))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cosine"))
  }

  /** Independent recompute of the squared L2 from the query to the
    * decoded code — one plain j-ascending loop over the FULL dim, no
    * table. The ADC sum groups the same subtract-squares per subspace,
    * so the two differ only by float-add associativity; the spec pins
    * them together at 1e-9 relative. Test-side helper. */
  def exactDistToDecoded(query: Array[Float], code: Array[Byte], model: PqModel): Double = {
    val dec = decode(code, model)
    var d = 0.0; var j = 0
    while (j < dec.length) {
      val t = query(j).toDouble - dec(j); d += t * t; j += 1
    }
    d
  }
}
