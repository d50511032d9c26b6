package graft.table

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One lineage row: counts and the order-independent xxhash64 XOR digest
  * over (conv_id, turn_idx, content) of one (batch, conv_bucket). */
final case class LineageRow(conv_bucket: Int, n_turns: Long, n_blocks: Long,
    n_content_nonnull: Long, n_errors: Long, content_digest: Long, batch_id: String)

/** A batch's lineage: `Slots` longs per conv_bucket (n_turns, n_blocks,
  * n_content_nonnull, n_errors, content_digest) in a flat `Buckets × Slots`
  * array. As an `Aggregator` it folds extracted rows into that array; an
  * input is one row's (conv_bucket, ex.nBlocks, content set, error set,
  * content hash). Counts add and digests XOR, so partial folds of one
  * batch, or the lineage of several batches, merge in any order.
  *
  * The batch manifest's `lineage` entry is the only record of it: one
  * `bucket:n_turns:content_digest:n_blocks:n_content_nonnull:n_errors`
  * group per non-empty bucket, joined by `;`. Field 2 is the digest, so a
  * reader can XOR field 2 over manifests to check content. */
object Lineage extends Aggregator[(Int, Int, Boolean, Boolean, Long), Array[Long], Array[Long]] {

  /** Buckets a table's conversations fall into (`ExtractJob.bucketCol`). */
  val Buckets = 64
  val Slots = 5

  def zero: Array[Long] = new Array[Long](Buckets * Slots)

  def reduce(b: Array[Long], in: (Int, Int, Boolean, Boolean, Long)): Array[Long] = {
    val o = in._1 * Slots
    b(o) += 1
    b(o + 1) += in._2
    if (in._3) b(o + 2) += 1
    if (in._4) b(o + 3) += 1
    b(o + 4) ^= in._5
    b
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) {
      a(i) = if (i % Slots == Slots - 1) a(i) ^ b(i) else a(i) + b(i)
      i += 1
    }
    a
  }

  def finish(b: Array[Long]): Array[Long] = b
  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()

  private def nonEmptyBuckets(flat: collection.Seq[Long]): Iterator[(collection.Seq[Long], Int)] =
    flat.grouped(Slots).zipWithIndex.filter(_._1.head > 0)

  def encode(flat: collection.Seq[Long]): String =
    nonEmptyBuckets(flat)
      .map { case (s, b) => Seq(b, s(0), s(4), s(1), s(2), s(3)).mkString(":") }.mkString(";")

  def decode(entry: String): Array[Long] = {
    val flat = zero
    entry.split(';').filter(_.nonEmpty).map(_.split(':').map(_.toLong)).foreach(f =>
      Array(f(1), f(3), f(4), f(5), f(2)).copyToArray(flat, f(0).toInt * Slots))
    flat
  }

  /** The entry of several batches' lineage taken together. */
  def mergeEntries(entries: Seq[String]): String = encode(entries.map(decode).reduce(merge))

  def rows(batchId: String, entry: String): Seq[LineageRow] =
    nonEmptyBuckets(decode(entry)).map { case (s, b) =>
      LineageRow(b, s(0), s(1), s(2), s(3), s(4), batchId) }.toSeq
}
