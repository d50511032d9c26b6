package graft

import graft.blocks.Blockifier
import graft.meta.TextUtils
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Tier-3 property-based invariants (SURVEY.md §5.2) + bytes-ingest goldens
  * from the reference bytes tests. Deterministic seeds (no scalatestplus
  * bridge in the offline cache — a minimal forAll is inlined). */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 60)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val arbString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr, Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf('<', '>', '&', '"', '\'', 'a', ' ', '\n', 'δ', '报')).map(_.mkString))

  // ---- bytes ingest goldens (test_kohlschuetter.py)
  test("bytes: class attr with multibyte utf-8 char") {
    val s = ("<div CLASS=' class1 ®'>text in div\n" +
      "<h1 id=\"HEADER\">header</h1>\n</div>").getBytes("UTF-8")
    val blocks = Blockifier.blockifyBytes(s, "utf-8")
    assert(blocks.map(_.text) == Seq("text in div", "header"))
    assert(blocks.map(_.cssId) == Seq("", "header"))
    assert(blocks.map(_.cssClass) == Seq("class1 ®", ""))
  }

  test("bytes: invalid utf-8 drops text node, recovers attr byte") {
    val s = Array.concat(
      "<div CLASS='".getBytes("UTF-8"), Array(0x80.toByte),
      "'>text in div</div><p>invalid bytes ".getBytes("UTF-8"),
      Array(0x80.toByte), "</p>".getBytes("UTF-8"))
    val blocks = Blockifier.blockifyBytes(s, "utf-8")
    assert(blocks.map(_.text) == Seq("text in div"))
    assert(blocks.map(_.cssClass) == Seq(""))
  }

  test("bytes: encoding guess drives decode") {
    val s = "<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?><html><p>café</p></html>"
      .getBytes("ISO-8859-1")
    val blocks = Blockifier.blockifyBytes(s)
    assert(blocks.map(_.text) == Seq("café"))
  }

  // ---- generators
  private val word = Gen.alphaStr.suchThat(_.nonEmpty).map(_.take(8))
  private val textGen = Gen.listOfN(6, word).map(_.mkString(" "))
  private val tagGen = Gen.oneOf("div", "p", "span", "b", "i", "h1", "table", "li", "em")

  private val htmlGen: Gen[String] = for {
    n <- Gen.choose(1, 8)
    parts <- Gen.listOfN(n, for {
      t <- tagGen
      txt <- textGen
    } yield s"<$t>$txt</$t>")
  } yield "<html><body>" + parts.mkString("\n") + "</body></html>"

  test("blockify is deterministic / idempotent") {
    forAll(htmlGen) { html =>
      val a = Blockifier.blockifyProduction(html)
      val b = Blockifier.blockifyProduction(html)
      assert(a == b)
    }
  }

  test("block text tokens are a sub-multiset of document tokens") {
    forAll(htmlGen) { html =>
      val docTokens = html.replaceAll("<[^>]*>", " ").split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length).toMap
      val blockTokens = Blockifier.blockifyProduction(html)
        .flatMap(_.text.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length).toMap
      blockTokens.foreach { case (tok, c) =>
        assert(docTokens.getOrElse(tok, 0) >= c, s"token $tok")
      }
    }
  }

  test("no empty blocks; counters non-negative") {
    forAll(htmlGen) { html =>
      val blocks = Blockifier.blockifyProduction(html)
      blocks.foreach { b =>
        assert(b.text.trim.nonEmpty)
        assert(b.tagcount >= 0 && b.tagcountSinceLastBlock >= 0 && b.anchorCount >= 0)
        assert(b.linkDensity >= 0 && b.textDensity >= 0)
      }
    }
  }

  test("trim is idempotent") {
    forAll(arbString) { s =>
      val t = TextUtils.trim(s)
      assert(TextUtils.trim(t) == t)
    }
  }

  test("extraction never throws on arbitrary strings") {
    forAll(arbString, 25) { s =>
      val r = graft.pipeline.Extract.extract(s)
      assert(r != null)
    }
  }

  test("minhash est-jaccard self-similarity is 1") {
    forAll(textGen) { t =>
      val text = t + " " + t + " " + t // ensure >= 3 tokens
      val s1 = graft.ops.Dedup.minhashSignature(text)
      val s2 = graft.ops.Dedup.minhashSignature(text)
      assert(s1.sameElements(s2))
    }
  }

  test("simhash of identical texts identical; hamming small for near-identical") {
    val base = "the quick brown fox jumps over the lazy dog again and again with many words"
    val near = base + " extra"
    val d = java.lang.Long.bitCount(graft.ops.Dedup.simhash(base) ^ graft.ops.Dedup.simhash(near))
    assert(d <= 16)
    assert(graft.ops.Dedup.simhash(base) == graft.ops.Dedup.simhash(base))
  }

  test("langid spot checks") {
    import graft.ops.TextAnalysis.langId
    assert(langId("the cat sat on the mat and this is fine") == "en")
    assert(langId("le chat est dans la maison et il est content") == "fr")
    assert(langId("这是一个中文句子希望可以被识别出来") == "zh")
    assert(langId("") == "und")
  }

  test("adversarial depth: 100k nested divs cannot overflow the stack") {
    val sb = new java.lang.StringBuilder
    (0 until 100000).foreach(_ => sb.append("<div>"))
    sb.append("deep text")
    val r = graft.pipeline.Extract.extract(sb.toString)
    assert(r.error == null && r.nBlocks >= 1)
  }

  test("huge flat document extracts without error") {
    val sb = new java.lang.StringBuilder("<html><body>")
    (0 until 20000).foreach(i => sb.append(s"<p>paragraph number $i with some words</p>"))
    sb.append("</body></html>")
    val r = graft.pipeline.Extract.extract(sb.toString)
    assert(r.error == null && r.nBlocks >= 19999)
  }

  test("PSL matcher invariants over generated hosts") {
    import graft.meta.UrlUtils.extractDomain
    val tlds = Seq("com", "org", "co.uk", "com.au", "ac.jp", "github.io",
      "blogspot.com", "tokyo.jp", "de", "np", "ck")
    val words = Seq("alpha", "beta", "gamma", "delta", "news", "shop", "x1")
    for (t <- tlds; depth <- 1 to 3; w <- words.take(3)) {
      val labels = (0 until depth).map(i => words((i + w.length) % words.length))
      val host = (labels :+ w).mkString(".") + "." + t
      val d = extractDomain(s"https://$host/p")
      assert(d != null, host)
      // the registrable domain is always a dot-suffix of the host
      // (modulo the reference's DOMAIN_PREFIX strip of a leading www\d*.)
      assert(host.endsWith(d) || host.endsWith("www." + d), s"$host -> $d")
      // never just the public suffix when a longer host exists
      assert(d != t || host == t, s"$host -> $d must include a registrable label")
      // deterministic
      assert(extractDomain(s"https://$host/other?q=1") == d)
    }
    // exception beats wildcard; wildcard beats default
    assert(extractDomain("https://a.b.ck/") == "a.b.ck")
    assert(extractDomain("https://x.www.ck/") == "ck") // !www.ck, www-stripped
    // scheme restrictions and junk are null, never a throw
    assert(extractDomain("ftp://x.com/") == null)
    assert(extractDomain("https://") == null)
    assert(extractDomain("https://..../") == null)
    assert(extractDomain(null) == null)
  }

  test("manifest string escaping round-trips for arbitrary content") {
    // every manifest value is written by Manifest.render (jstr escaping)
    // and read back by Manifest.parse — pinned over adversarial content:
    // quotes, backslashes, control chars, newlines, unicode, and the
    // layout's own delimiters
    import graft.table.Manifest
    import graft.table.Manifest.jstr
    def roundTrips(v: String): Unit = {
      val m = Manifest("b000", Seq("part-0.parquet"), Map("schema" -> "{}", "value" -> v))
      assert(Manifest.parse(m.render) == m, s"round-trip failed for: $v")
    }
    val nasty = Seq(
      "", "plain", "with \"quotes\"", "back\\slash", "line\nbreak",
      "tab\there", "cr\rhere", "ctrl\u0001\u0002chars",
      "mixed \"a\\b\nc\td\" end", "unicode \u00e9\u4e2d\u6587\ud83d\ude00",
      "\"schema\": \"inner\"", "trailing backslash then quote \\\"",
      "json {\"k\": [1, 2, \"v\"]}", "\n  ],\n  \"files\": [\n")
    nasty.foreach { v =>
      val enc = jstr(v)
      assert(enc.head == '"' && enc.last == '"')
      // the encoded body NEVER contains a raw quote or control char, so a
      // value cannot end its string or break its line early
      val body = enc.substring(1, enc.length - 1)
      var i = 0
      while (i < body.length) {
        val c = body.charAt(i)
        assert(c != '"' || (i > 0 && body.charAt(i - 1) == '\\'), s"raw quote in $enc")
        assert(c >= ' ', s"raw control char in $enc")
        i += 1
      }
      roundTrips(v)
    }
    // pseudo-random fuzz over the full printable+control range
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      roundTrips((1 to rnd.nextInt(40)).map(_ => rnd.nextInt(0x250).toChar).mkString)
    }
  }

  test("hijri civil conversion: monotone, day-continuous, range-plausible") {
    import graft.meta.DateRules.hijriToGregorian
    // every (hy, hm, hd) in the supported window converts, and consecutive
    // hijri days map to CONSECUTIVE Gregorian days (the strongest property
    // an arithmetic calendar can have: no gaps, no overlaps, monotone)
    var prev: java.time.LocalDate = null
    for (hy <- 1390 to 1480; hm <- 1 to 12; hd <- 1 to 29) {
      val Some((y, m, d)) = hijriToGregorian(hy, hm, hd): @unchecked
      val g = java.time.LocalDate.of(y, m, d) // throws on an invalid date
      if (prev != null)
        assert(java.time.temporal.ChronoUnit.DAYS.between(prev, g)
          <= 2, s"gap before $hy-$hm-$hd") // 29->1 month-boundary skip is 1 or 2 days
      if (prev != null) assert(g.isAfter(prev), s"non-monotone at $hy-$hm-$hd")
      prev = g
    }
    // 30th days: valid for the long months (odd months + leap Dhu
    // al-Hijjah); the conversion still yields a real consecutive date
    for (hy <- Seq(1400, 1429, 1442); hm <- 1 to 12 by 2) {
      val Some((y, m, d)) = hijriToGregorian(hy, hm, 30): @unchecked
      java.time.LocalDate.of(y, m, d)
    }
    // out-of-range months/days rejected
    assert(hijriToGregorian(1429, 0, 1).isEmpty)
    assert(hijriToGregorian(1429, 13, 1).isEmpty)
    assert(hijriToGregorian(1429, 1, 31).isEmpty)
  }
}
