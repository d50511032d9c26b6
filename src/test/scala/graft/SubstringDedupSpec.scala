package graft

import graft.ops.SubstringDedup
import org.scalatest.funsuite.AnyFunSuite

/** Exact-substring dedup (Lee et al. 2021 ExactSubstr semantics): a token
  * run of length >= n occurring more than once corpus-wide is a duplicated
  * span; ALL occurrences are cut. Spans are maximal and non-overlapping. */
class SubstringDedupSpec extends AnyFunSuite with SparkSuite {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)): _*), schema)
  }

  private def words(seed: Int, n: Int): Seq[String] =
    (0 until n).map(i => "w" + graft.jobs.Synth.mix(seed.toLong * 1000 + i).toHexString.take(5))

  test("cross-doc shared run becomes one maximal span in each document") {
    // 15 shared tokens at different offsets inside otherwise-unique docs
    val shared = words(7, 15)
    val a = (words(1, 20) ++ shared ++ words(2, 20)).mkString(" ")   // shared at 20..35
    val b = (words(3, 5) ++ shared ++ words(4, 30)).mkString(" ")    // shared at 5..20
    val c = words(5, 40).mkString(" ")                               // clean
    val spans = SubstringDedup.duplicateSpans(docsDf(Seq((1L, a), (2L, b), (3L, c))), n = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).sortBy(_._1)
    // maximal: ONE span of 15 tokens = 6 ten-token windows, per document
    assert(spans.toSeq == Seq((1L, 20, 35, 6L), (2L, 5, 20, 6L)))
  }

  test("within-document repetition is flagged at every occurrence") {
    val run = words(11, 10)
    val doc = (words(12, 8) ++ run ++ words(13, 12) ++ run ++ words(14, 3)).mkString(" ")
    val spans = SubstringDedup.duplicateSpans(docsDf(Seq((1L, doc))), n = 10)
      .collect().map(r => (r.getInt(1), r.getInt(2))).sorted
    assert(spans.toSeq == Seq((8, 18), (30, 40)))
  }

  test("runs shorter than n are never flagged; docs shorter than n are safe") {
    val short = words(21, 9) // 9 < n=10: even an exact copy is below match length
    val docs = docsDf(Seq(
      (1L, short.mkString(" ")), (2L, short.mkString(" ")),
      (3L, (words(22, 6) ++ short ++ words(23, 6)).mkString(" "))))
    assert(SubstringDedup.duplicateSpans(docs, n = 10).count() == 0L)
  }

  test("removeSpans cuts ALL occurrences and keeps the remainder in order") {
    val shared = words(31, 12)
    val pre = words(32, 4); val post = words(33, 4)
    val a = (pre ++ shared ++ post).mkString(" ")
    val b = (shared ++ words(34, 7)).mkString(" ")
    val docs = docsDf(Seq((1L, a), (2L, b)))
    val out = SubstringDedup.dedup(docs, n = 10)
      .select("doc_id", "text_dedup", "n_tok_before", "n_tok_after")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._1)
    assert(out(0) == ((1L, (pre ++ post).mkString(" "), 20, 8)))
    assert(out(1) == ((2L, words(34, 7).mkString(" "), 19, 7)))
  }

  test("salted membership join returns the identical span set") {
    val shared = words(41, 25)
    val docs = docsDf(Seq(
      (1L, (words(42, 10) ++ shared).mkString(" ")),
      (2L, (shared ++ words(43, 10)).mkString(" ")),
      (3L, words(44, 30).mkString(" "))))
    val plain = SubstringDedup.duplicateSpans(docs, n = 10, salt = 1)
      .collect().map(_.toSeq).toSet
    val salted = SubstringDedup.duplicateSpans(docs, n = 10, salt = 8)
      .collect().map(_.toSeq).toSet
    assert(plain == salted && plain.nonEmpty)
  }

  test("overlapping coverage from DIFFERENT matches merges into one disjoint span") {
    // doc X's window at pos 0 matches doc B, its window at pos 2 matches
    // doc C, and the bridging window at pos 1 matches nothing: duplicated
    // starts {0, 2} are non-consecutive but their coverage [0,10) and
    // [2,12) overlaps — the span set must be the single [0,12), never two
    // overlapping rows a per-doc sum(end-start) would double-count
    val a = words(61, 10); val b = words(62, 2)
    val x = (a ++ b).mkString(" ")                          // 12 tokens
    val docB = (a ++ words(63, 10)).mkString(" ")           // shares window@0
    val docC = (words(64, 2) ++ a.drop(2) ++ b ++ words(65, 8)).mkString(" ") // shares window@2
    val spans = SubstringDedup.duplicateSpans(
        docsDf(Seq((1L, x), (2L, docB), (3L, docC))), n = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).sortBy(_._1)
    assert(spans.toSeq == Seq((1L, 0, 12, 2L), (2L, 0, 10, 1L), (3L, 2, 12, 1L)))
    // spans within a doc are disjoint by contract
    spans.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(p, q) => assert(p._3 <= q._2, s"overlap: $p $q")
        case _ => ()
      }
    }
  }

  test("adjacent distinct duplicated runs merge into one maximal island") {
    // two different shared runs back-to-back: windows bridging the junction
    // also repeat (both docs share the full 20-token concatenation), so the
    // island is ONE 20-token span — exactly the suffix-array answer
    val r1 = words(51, 10); val r2 = words(52, 10)
    val docs = docsDf(Seq(
      (1L, (words(53, 5) ++ r1 ++ r2 ++ words(54, 5)).mkString(" ")),
      (2L, (words(55, 9) ++ r1 ++ r2 ++ words(56, 2)).mkString(" "))))
    val spans = SubstringDedup.duplicateSpans(docs, n = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(spans.toSeq == Seq((1L, 5, 25), (2L, 9, 29)))
  }
}
