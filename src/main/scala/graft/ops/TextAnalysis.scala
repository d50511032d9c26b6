package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. Pure per-row functions
  * (map-only, no shuffle) — codegen-friendly UDF bodies. */
object TextAnalysis {

  // ------------------------------------------------------------ language id
  private val Stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "for", "with", "was", "are", "this"),
    "fr" -> Set("le", "la", "les", "et", "des", "est", "dans", "que", "pour", "une", "qui", "sur"),
    // byte-equal to the x_langid_pred DuckDB oracle sets (QualityQueries): the
    // oracled Latin path has ASCII-contract semantics end to end (the \W+
    // tokenizer note below), so no non-ASCII stopwords ("für" would diverge
    // from the oracle on the first non-ASCII German doc)
    "de" -> Set("der", "die", "und", "das", "ist", "von", "den", "mit", "auf", "ein", "nicht"),
    "es" -> Set("el", "la", "los", "las", "y", "de", "que", "en", "es", "por", "con", "para"))

  /** Deterministic n-gram/script heuristic language ID. */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var han = 0; var kana = 0; var hangul = 0; var cyr = 0; var greek = 0
    var latin = 0; var total = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) {
        total += 1
        val s = Character.UnicodeScript.of(c)
        s match {
          case Character.UnicodeScript.HAN => han += 1
          case Character.UnicodeScript.HIRAGANA | Character.UnicodeScript.KATAKANA => kana += 1
          case Character.UnicodeScript.HANGUL => hangul += 1
          case Character.UnicodeScript.CYRILLIC => cyr += 1
          case Character.UnicodeScript.GREEK => greek += 1
          case Character.UnicodeScript.LATIN => latin += 1
          case _ =>
        }
      }
      i += 1
    }
    if (total == 0) return "und"
    if (kana * 10 >= total) return "ja"
    if (hangul * 10 >= total * 3) return "ko"
    if (han * 10 >= total * 3) return "zh"
    if (cyr * 10 >= total * 3) return "ru"
    if (greek * 10 >= total * 3) return "el"
    if (latin * 10 >= total * 3) {
      val tokens = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      val hits = Stopwords.map { case (lang, sw) => (lang, tokens.count(sw.contains)) }
      val best = hits.maxBy(_._2)
      if (best._2 > 0) best._1 else "la"
    } else "und"
  }

  val langIdUdf = udf(langId _)

  // --------------------------------------------------------- quality score
  /** Heuristic document-quality features + a composite score in [0,1]:
    * length, mean word length, stopword ratio, punct/digit/upper ratios —
    * the usual pretraining-filter signals. */
  def qualityFeatures(text: String): (Int, Double, Double, Double, Double, Double, Double) = {
    if (text == null || text.isEmpty) return (0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val n = text.length
    var punct = 0; var digit = 0; var upper = 0; var letter = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isDigit(c)) digit += 1
      else if (Character.isUpperCase(c)) { upper += 1; letter += 1 }
      else if (Character.isLetter(c)) letter += 1
      else if (!Character.isWhitespace(c)) punct += 1
      i += 1
    }
    val tokens = text.split("\\s+").filter(_.nonEmpty)
    val meanWordLen = if (tokens.isEmpty) 0.0 else tokens.map(_.length).sum.toDouble / tokens.length
    val lower = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val sw = Stopwords("en")
    val stopRatio = if (lower.isEmpty) 0.0 else lower.count(sw.contains).toDouble / lower.length
    val punctRatio = punct.toDouble / n
    val digitRatio = digit.toDouble / n
    val upperRatio = if (letter == 0) 0.0 else upper.toDouble / letter
    // composite: reward sane word length + stopwords, punish noise
    val lenScore = math.min(1.0, tokens.length / 50.0)
    val wordScore = if (meanWordLen >= 3 && meanWordLen <= 10) 1.0 else 0.4
    val score = math.max(0.0, math.min(1.0,
      0.3 * lenScore + 0.25 * wordScore + 0.25 * math.min(1.0, stopRatio * 4) +
        0.2 * (1.0 - math.min(1.0, punctRatio * 3 + digitRatio * 2))))
    (tokens.length, meanWordLen, stopRatio, punctRatio, digitRatio, upperRatio, score)
  }

  val qualityUdf = udf((text: String) => qualityFeatures(text))

  /** Integer-exact quality signals (oracle-checkable: integer counts hash
    * identically across engines, unlike the double ratios above):
    * (ws tokens, en-stopword hits, punct chars, digit chars, upper chars).
    * Deliberately ASCII class semantics end to end — the DuckDB oracle's
    * regex classes are ASCII, and locale-free ASCII lowering keeps the two
    * engines equal on ANY input, not just the current ASCII-only fixture
    * data (Character.isLetter would count 'ü' as a letter while the oracle
    * counts it as punctuation). The Unicode-aware signals live in
    * qualityFeatures. */
  def qualityCounts(text: String): (Int, Int, Int, Int, Int) = {
    if (text == null || text.isEmpty) return (0, 0, 0, 0, 0)
    def asciiLetter(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    def asciiWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r' ||
      c == 11.toChar || c == '\f'
    var punct = 0; var digit = 0; var upper = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= '0' && c <= '9') digit += 1
      else if (c >= 'A' && c <= 'Z') upper += 1
      else if (!asciiLetter(c) && !asciiWs(c)) punct += 1
      i += 1
    }
    val nTokens = text.split("\\s+").count(_.nonEmpty)
    val sw = Stopwords("en")
    val lowered = text.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    val nStop = lowered.split("\\W+").count(t => t.nonEmpty && sw.contains(t))
    (nTokens, nStop, punct, digit, upper)
  }

  val qualityCountsUdf = udf((text: String) => qualityCounts(text))

  // --------------------------------------------------------- token counting
  /** Whitespace token count. */
  def wsTokenCount(text: String): Int =
    if (text == null) 0 else text.split("\\s+").count(_.nonEmpty)

  /** BPE-ish subword estimate: GPT-2-style pre-tokenizer regex pieces plus a
    * 4-chars-per-piece continuation heuristic for long pieces. */
  /** GPT-2 pre-tokenizer (shared with the trained Bpe). */
  private[ops] val BpePre = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+")

  def bpeTokenEstimate(text: String): Int = {
    if (text == null || text.isEmpty) return 0
    val m = BpePre.matcher(text)
    var n = 0
    while (m.find()) {
      val piece = m.group()
      n += 1 + math.max(0, (piece.trim.length - 1) / 4)
    }
    n
  }

  val tokenCountsUdf = udf((text: String) => (wsTokenCount(text), bpeTokenEstimate(text)))

  // ----------------------------------------------------------- fingerprint
  /** Order-sensitive rolling-hash document fingerprint over normalized
    * tokens (polynomial in a 64-bit ring) — stable content identity that
    * ignores whitespace/case/punct differences. */
  def fingerprint(text: String): Long = {
    if (text == null) return 0L
    var h = 0xcbf29ce484222325L
    text.toLowerCase.split("\\W+").filter(_.nonEmpty).foreach { t =>
      var th = 0xcbf29ce484222325L
      var i = 0
      while (i < t.length) { th ^= t.charAt(i); th *= 0x100000001b3L; i += 1 }
      h = h * 0x5deece66dL + th
    }
    h
  }

  val fingerprintUdf = udf(fingerprint _)

  /** Static entry for the [[Fingerprint64]] codegen path (same kernel). */
  def fingerprintUtf8(s: org.apache.spark.unsafe.types.UTF8String): Long =
    fingerprint(s.toString)

  // ------------------------------------------------- repetition / diversity
  /** Gopher/RefinedWeb-family repetition signals (Rae et al. 2021 §A1.1
    * measure this family as fractions; the integer NUMERATORS here are the
    * oracle-stable core — callers derive any fraction): token count,
    * distinct-token count, and the highest 1-/2-/3-gram occurrence counts.
    * A high top-n-gram count or a low distinct fraction flags the
    * boilerplate/spam the repetition rules exist to drop. Map-only. */
  def repetitionCounts(text: String): (Int, Int, Int, Int, Int) = {
    if (text == null) return (0, 0, 0, 0, 0)
    val t = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (t.isEmpty) return (0, 0, 0, 0, 0)
    val uni = scala.collection.mutable.HashMap.empty[String, Int]
    t.foreach(w => uni(w) = uni.getOrElse(w, 0) + 1)
    def topN(n: Int): Int = {
      if (t.length < n) return 0
      val m = scala.collection.mutable.HashMap.empty[String, Int]
      var i = 0
      while (i + n <= t.length) {
        val g = t.slice(i, i + n).mkString(" ")
        m(g) = m.getOrElse(g, 0) + 1
        i += 1
      }
      m.valuesIterator.max
    }
    (t.length, uni.size, uni.valuesIterator.max, topN(2), topN(3))
  }

  val repetitionCountsUdf = udf((text: String) => repetitionCounts(text))

  /** Per-doc repetition/diversity frame (map-only; integer-exact). */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("rc", repetitionCountsUdf(col(textCol)))
      .select(col("doc_id"),
        col("rc._1").as("n_tokens"), col("rc._2").as("n_distinct_tokens"),
        col("rc._3").as("top_unigram_count"),
        col("rc._4").as("top_bigram_count"),
        col("rc._5").as("top_trigram_count"))

  /** Full per-document analysis frame (map-only; no shuffle). */
  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("lang_pred", langIdUdf(col(textCol)))
      .withColumn("q", qualityUdf(col(textCol)))
      .withColumn("tok", tokenCountsUdf(col(textCol)))
      .withColumn("fingerprint", HashExprs.fingerprint64(col(textCol))) // native expr
      .select(col("doc_id"), col("lang_pred"),
        col("q._1").as("n_tokens"), col("q._2").as("mean_word_len"),
        col("q._3").as("stopword_ratio"), col("q._4").as("punct_ratio"),
        col("q._5").as("digit_ratio"), col("q._6").as("upper_ratio"),
        col("q._7").as("quality_score"),
        col("tok._1").as("ws_tokens"), col("tok._2").as("bpe_tokens_est"),
        col("fingerprint"))
}
