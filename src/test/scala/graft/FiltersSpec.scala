package graft

import graft.ops.{C4Filters, Pii}
import org.scalatest.funsuite.AnyFunSuite

/** PII scrubbing and C4 line/document heuristics on crafted fixtures. */
class FiltersSpec extends AnyFunSuite with SparkSuite {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)): _*), schema)
  }

  // ------------------------------------------------------------------ PII

  test("pii counts and redaction: emails, IPs, phones") {
    val out = Pii.redact(docsDf(Seq(
      (1L, "write to jane.doe+spam@mail.example.org or bob@ex.co today"),
      (2L, "server 10.0.255.3 then call 25-989-741-2988 or +4915123456789"),
      (3L, "nothing sensitive here, just 1.2 numbers and a-b-c dashes"))))
      .select("doc_id", "n_emails", "n_ipv4", "n_phones", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .sortBy(_._1)
    assert(out(0) == ((1L, 2, 0, 0, "write to [EMAIL] or [EMAIL] today")))
    assert(out(1) == ((2L, 0, 1, 2, "server [IP] then call [PHONE] or [PHONE]")))
    assert(out(2) == ((3L, 0, 0, 0, "nothing sensitive here, just 1.2 numbers and a-b-c dashes")))
  }

  test("pii word boundaries: version-like digit runs never match as IPs") {
    val out = Pii.counts(docsDf(Seq(
      (1L, "build 1.2.3.4567 is not an address but 192.168.0.1 is"),
      (2L, "v10.20.30.40 tagged")))) // no \b between 'v' and '1': a version tag, not an IP
      .select("doc_id", "n_ipv4").collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(out(0) == ((1L, 1)))
    assert(out(1) == ((2L, 0)))
  }

  test("redaction order: a redacted email host never re-matches as an IP") {
    val out = Pii.redact(docsDf(Seq((1L, "root@10.0.0.1.example.com plus 10.0.0.1"))))
      .select("text").head.getString(0)
    assert(out == "[EMAIL] plus [IP]")
  }

  // ------------------------------------------------------------------- C4

  private val goodLine = "this line has plenty of words and ends properly."

  test("c4 line rules: punctuation, length, javascript — each attributed once") {
    val text = Seq(
      goodLine,                                    // kept
      "no terminal punctuation here",              // dropped: no punct
      "too short.",                                // dropped: short (2 words)
      "please enable JavaScript to view content.", // dropped: js line
      "another perfectly fine sentence right here.",
      "").mkString("\n")                           // dropped: no punct (empty)
    val r = C4Filters.lineAudit(docsDf(Seq((1L, text)))).head()
    assert(r.getAs[Long]("n_lines") == 6)
    assert(r.getAs[Long]("n_kept_lines") == 2)
    assert(r.getAs[Long]("n_dropped_no_punct") == 2)
    assert(r.getAs[Long]("n_dropped_short") == 1)
    assert(r.getAs[Long]("n_js_lines") == 1)
    assert(r.getAs[String]("text_clean") ==
      goodLine + "\nanother perfectly fine sentence right here.")
  }

  test("c4 document rules: lorem ipsum, braces, and minimum kept lines") {
    val enough = Seq.fill(3)(goodLine).mkString("\n")
    val docs = docsDf(Seq(
      (1L, enough),                                      // kept
      (2L, enough + "\nLorem Ipsum dolor sit amet."),    // dropped: lorem
      (3L, enough + "\nvar f = function() { return 1998; }"), // dropped: brace
      (4L, goodLine + "\n" + goodLine)))                 // dropped: only 2 kept lines
    val kept = C4Filters.clean(docs).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L))
  }

  test("c4 survives CRLF corpora: \\r-terminated lines still pass the punct test") {
    // splitting CRLF text on \n leaves every line ending in \r — a
    // space-only rtrim would count the ENTIRE document as no-punct and
    // clean() would delete it (the LineDedup trim-set rule applies here)
    val crlf = Seq.fill(3)(goodLine).mkString("\r\n") + "\r\n"
    val r = C4Filters.lineAudit(docsDf(Seq((1L, crlf)))).head()
    assert(r.getAs[Long]("n_kept_lines") == 3)
    assert(r.getAs[Long]("n_dropped_no_punct") == 1) // only the trailing empty line
    val kept = C4Filters.clean(docsDf(Seq((1L, crlf)))).count()
    assert(kept == 1L)
  }

  test("c4 clean carries the CLEANED text, not the original") {
    val text = Seq(goodLine, "dangling fragment", goodLine, goodLine).mkString("\n")
    val out = C4Filters.clean(docsDf(Seq((1L, text)))).select("text").head.getString(0)
    assert(out == Seq(goodLine, goodLine, goodLine).mkString("\n"))
  }
}
