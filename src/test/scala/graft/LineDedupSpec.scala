package graft

import graft.ops.LineDedup
import org.scalatest.funsuite.AnyFunSuite

/** Line-level corpus dedup (CCNet/RefinedWeb boilerplate pass): a trimmed
  * non-empty line occurring minCount+ times corpus-wide is dropped from
  * every document; survivors rejoin in original order. */
class LineDedupSpec extends AnyFunSuite with SparkSuite {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)): _*), schema)
  }

  private def cleanOf(rows: Seq[(Long, String)], minCount: Int = 2): Map[Long, (String, Long, Long)] =
    LineDedup.dedupLines(docsDf(rows), minCount).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

  test("a line shared by two docs is dropped from both, unique lines survive in order") {
    val out = cleanOf(Seq(
      1L -> "alpha one\nCOOKIE BANNER\nalpha two",
      2L -> "beta one\nCOOKIE BANNER\nbeta two\nbeta three"))
    assert(out(1L) === (("alpha one\nalpha two", 3L, 2L)))
    assert(out(2L) === (("beta one\nbeta two\nbeta three", 4L, 3L)))
  }

  test("trim identity: indented / CRLF copies of a banner collapse to one line key") {
    val out = cleanOf(Seq(
      1L -> "keep me\n  share this article \r",
      2L -> "share this article\nalso keep"))
    assert(out(1L) === (("keep me", 2L, 1L)))
    assert(out(2L) === (("also keep", 2L, 1L)))
  }

  test("within-doc repetition alone reaches the threshold") {
    val out = cleanOf(Seq(
      1L -> "loop\nunique a\nloop",
      2L -> "unique b"))
    assert(out(1L) === (("unique a", 3L, 1L)))
    assert(out(2L) === (("unique b", 1L, 1L)))
  }

  test("whitespace-only lines neither count nor survive; pure-boilerplate doc keeps an empty row") {
    val out = cleanOf(Seq(
      1L -> "dup line\n   \n\t\ndup line",
      2L -> "solo"))
    assert(out(1L) === (("", 2L, 0L)))
    assert(out(2L) === (("solo", 1L, 1L)))
  }

  test("minCount=3: a twice-occurring line survives, a thrice-occurring line is cut") {
    val out = cleanOf(Seq(
      1L -> "twice\nthrice",
      2L -> "twice\nthrice",
      3L -> "thrice"), minCount = 3)
    assert(out(1L) === (("twice", 2L, 1L)))
    assert(out(2L) === (("twice", 2L, 1L)))
    assert(out(3L) === (("", 1L, 0L)))
  }

  test("duplicatedLines audit reports the distinct boilerplate with counts") {
    val audit = LineDedup.duplicatedLines(docsDf(Seq(
      1L -> "banner\nx", 2L -> "banner\ny", 3L -> "banner\nx")))
      .collect().map(r => r.getAs[String]("line") -> r.getAs[Long]("n_occurrences")).toMap
    assert(audit === Map("banner" -> 3L, "x" -> 2L))
  }

  test("empty-text doc keeps a zero row") {
    val out = cleanOf(Seq(1L -> "", 2L -> "a\nb"))
    assert(out(1L) === (("", 0L, 0L)))
    assert(out(2L) === (("a\nb", 2L, 2L)))
  }
}
