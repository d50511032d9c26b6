package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis
import graft.queries.DedupQueries.{fnv1a64, lowerToks}
import graft.queries.Query.{by, t}

/** Quality signals and filters over the documents table: repetition and
  * Gopher rules, URL domains and blocklists, DSIR importance weights, the
  * NB classifier and the bigram LM, PII redaction, C4 line rules, the
  * stop-word sweep, fingerprints, text stats and language ID. */
object QualityQueries {

  /** `text`'s lines, each prefixed with `pad`. */
  private def indent(pad: String, text: String): String =
    text.linesIterator.map(pad + _).mkString("\n")

  /** `toks`: each document's whitespace tokens `wtoks` and lower-case
    * `\W+` tokens `ltoks`; `filter` restricts the documents. */
  private[queries] def wlToks(filter: String): String =
    """toks AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'), x -> x <> '') AS wtoks,
      |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ltoks
      |  FROM documents""".stripMargin + filter + "),\n"

  /** `hits`: the language-ID stop-word hit counts n_en..n_es over `ltoks`. */
  private[queries] val ltokHits: String =
    """hits AS (
      |  SELECT doc_id, text, wtoks, ltoks,
      |    len(list_filter(ltoks, x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) AS n_en,
      |    len(list_filter(ltoks, x -> list_contains(['le','la','les','et','des','est','dans','que','pour','une','qui','sur'], x))) AS n_fr,
      |    len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','von','den','mit','auf','ein','nicht'], x))) AS n_de,
      |    len(list_filter(ltoks, x -> list_contains(['el','la','los','las','y','de','que','en','es','por','con','para'], x))) AS n_es""".stripMargin

  /** The language-ID heuristic's Latin path over the hit counts: the
    * stop-word-hit argmax with the en,fr,de,es first-max tie order, as
    * `lang_pred`, lines indented by `pad`. */
  private[queries] def langPred(pad: String): String = indent(pad,
    """CASE
      |  WHEN NOT regexp_matches(text, '[A-Za-z]') THEN 'und'
      |  WHEN greatest(n_en, n_fr, n_de, n_es) = 0 THEN 'la'
      |  WHEN n_en >= n_fr AND n_en >= n_de AND n_en >= n_es THEN 'en'
      |  WHEN n_fr >= n_de AND n_fr >= n_es THEN 'fr'
      |  WHEN n_de >= n_es THEN 'de'
      |  ELSE 'es' END AS lang_pred""".stripMargin)

  /** The qualityFeatures composite score through its last term's opening,
    * as the SAME IEEE expression tree as the engine (left-assoc adds, same
    * literals); the caller closes it with its punct/digit ratios. Lines
    * indented by `pad`. */
  private[queries] def qualityScore(pad: String): String = indent(pad,
    """greatest(0.0, least(1.0,
      |  0.3 * least(1.0, len(wtoks) / 50.0)
      |  + 0.25 * (CASE WHEN len(wtoks) > 0
      |      AND list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) >= 3
      |      AND list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) <= 10
      |    THEN 1.0 ELSE 0.4 END)
      |  + 0.25 * least(1.0, (CASE WHEN len(ltoks) = 0 THEN 0.0
      |      ELSE n_en / cast(len(ltoks) as double) END) * 4)
      |  + 0.2 * (1.0 - least(1.0,""".stripMargin)

  /** The Gopher rules' integer numerators per doc `n`: ws tokens for
    * words, \W+ lower tokens for stops/trigrams, char-count sums, symbol
    * runs via non-overlapping split counting, line starts/ends. */
  private val gopherCounts: String =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'), x -> x <> '') AS w,
      |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS lt,
      |    string_split(text, chr(10)) AS ls
      |  FROM documents),
      |tri AS (
      |  SELECT doc_id, max(c)::INT AS top_tri FROM (
      |    SELECT doc_id, count(*)::INT AS c FROM (
      |      SELECT doc_id, unnest(list_transform(generate_series(1, len(lt)-2),
      |             i -> lt[i]||' '||lt[i+1]||' '||lt[i+2])) AS g
      |      FROM toks) GROUP BY doc_id, g) GROUP BY doc_id),
      |n AS (
      |  SELECT t.doc_id,
      |    cast(len(w) as int) AS n_words,
      |    cast(coalesce(list_sum(list_transform(w, x -> length(x))), 0) as bigint) AS n_word_chars,
      |    cast(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) as int) AS n_alpha_words,
      |    cast(len(list_intersect(list_distinct(lt),
      |      ['the','be','to','of','and','that','have','with'])) as int) AS n_stops_present,
      |    cast(length(text) - length(replace(text, '#', ''))
      |      + length(text) - length(replace(text, chr(8230), ''))
      |      + len(string_split(text, '...')) - 1 as int) AS n_symbols,
      |    cast(len(ls) as int) AS n_lines,
      |    cast(len(list_filter(ls, l -> trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) <> ''
      |      AND list_contains(['•','‣','▪','-','*'],
      |            substring(trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)), 1, 1)))) as int) AS n_bullet_lines,
      |    cast(len(list_filter(ls, l ->
      |      trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) LIKE '%...'
      |      OR trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) LIKE '%' || chr(8230))) as int) AS n_ellipsis_lines,
      |    coalesce(tri.top_tri, 0) AS top_trigram_count
      |  FROM toks t LEFT JOIN tri ON t.doc_id = tri.doc_id)
      |""".stripMargin

  /** Each planted URL family's registrable domain, a closed-form string of
    * doc_id (NULL for the rejected scheme); lines indented by `pad`. */
  private def registrableDomain(pad: String): String = indent(pad,
    """WHEN 0 THEN 'site' || doc_id || '.com'
      |WHEN 1 THEN 'site' || doc_id || '.com'
      |WHEN 2 THEN 'site' || doc_id || '.co.uk'
      |WHEN 3 THEN 'site' || doc_id || '.com.kz'
      |WHEN 4 THEN 'site' || doc_id || '.k12.ca.us'
      |WHEN 5 THEN 'site' || doc_id || '.github.io'
      |WHEN 6 THEN 'site' || doc_id || '.blogspot.com.br'
      |WHEN 7 THEN 'site' || doc_id || '.news.bd'
      |WHEN 8 THEN 'site' || doc_id || '.kawasaki.jp'
      |WHEN 9 THEN 'x.site' || doc_id || '.kawasaki.jp'
      |WHEN 10 THEN 'city.kawasaki.jp'
      |WHEN 11 THEN 'ck'
      |WHEN 12 THEN 'site' || doc_id || '.a.bg'
      |WHEN 13 THEN 'site' || doc_id || '.tokyo.jp'
      |WHEN 14 THEN 'b.site' || doc_id || '.compute.amazonaws.com'
      |ELSE NULL END""".stripMargin)

  /** DSIR weights `w` (doc_id, lw) of the raw docs (< 400): md5 gram
    * buckets (the x_split_assign UBIGINT-% convention), add-1-smoothed
    * log ratios with the SAME parenthesization as the Scala
    * ((ln-ln)-(ln-ln)), per-occurrence sum. */
  private val dsirWeights: String =
    "WITH " + lowerToks() +
      """grams AS (
        |  SELECT doc_id, unnest(t) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
        |         i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks),
        |db AS (SELECT doc_id, md5_number_lower(g) % 4096::UBIGINT AS b FROM grams),
        |tc AS (SELECT b, count(*)::DOUBLE AS c FROM db WHERE doc_id >= 400 GROUP BY b),
        |rc AS (SELECT b, count(*)::DOUBLE AS c FROM db WHERE doc_id < 400 GROUP BY b),
        |nt AS (SELECT count(*)::DOUBLE AS n FROM db WHERE doc_id >= 400),
        |nr AS (SELECT count(*)::DOUBLE AS n FROM db WHERE doc_id < 400),
        |w AS (
        |  SELECT d.doc_id, sum(
        |    (ln(coalesce(tc.c, 0) + 1.0) - ln((SELECT n FROM nt) + 4096.0))
        |    - (ln(coalesce(rc.c, 0) + 1.0) - ln((SELECT n FROM nr) + 4096.0))) AS lw
        |  FROM db d LEFT JOIN tc USING (b) LEFT JOIN rc USING (b)
        |  WHERE d.doc_id < 400 GROUP BY d.doc_id)""".stripMargin

  /** The derived labeled corpus `lab` (parity labels + class-marker
    * suffixes) and its doc_id % 5 train split `tr`. */
  private val nbLabeledSql: String =
    """WITH lab AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'good' ELSE 'spam' END AS label,
      |    CASE WHEN doc_id % 2 = 0 THEN text || ' insight careful analysis'
      |         ELSE text || ' buy click cheap now' END AS text
      |  FROM documents),
      |tr AS (SELECT * FROM lab WHERE doc_id % 5 <> 0),
      |""".stripMargin

  /** Bigram positions `pos` (doc_id, i, w1, w2) with the <s> sentinel. */
  private val lmPositions: String =
    "WITH " + lowerToks() +
      """pos AS (
        |  SELECT doc_id, i, CASE WHEN i = 1 THEN '<s>' ELSE t[i - 1] END AS w1, t[i] AS w2
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i))""".stripMargin

  /** The stop-word-ratio sweep through the totals: the x_quality_counts
    * counters, the float bin (the same IEEE divide-then-scale both
    * engines), zero-filled bins `f`, cumulative counts ordered bin DESC
    * `cum`, totals `tot`. */
  private val sweepSql: String =
    """WITH c AS (
      |  SELECT
      |    len(list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'),
      |      x -> x <> ''))::BIGINT AS n_tokens,
      |    len(list_filter(string_split_regex(lower(text), '\W+'),
      |      x -> list_contains(['the','and','of','to','in','is','that',
      |        'for','with','was','are','this'], x)))::BIGINT AS n_stopwords,
      |    (lang = 'en')::BIGINT AS y
      |  FROM documents),
      |s AS (SELECT greatest(least(
      |        floor((n_stopwords::DOUBLE / n_tokens) * 128), 127), 0)::BIGINT
      |        AS bin, y
      |      FROM c WHERE n_tokens > 0),
      |g AS (SELECT bin, sum(y)::BIGINT AS pos,
      |        (count(*) - sum(y))::BIGINT AS neg FROM s GROUP BY bin),
      |bins AS (SELECT unnest(generate_series(0, 127))::BIGINT AS bin),
      |f AS (SELECT b.bin, coalesce(g.pos, 0)::BIGINT AS pos,
      |        coalesce(g.neg, 0)::BIGINT AS neg
      |      FROM bins b LEFT JOIN g USING (bin)),
      |cum AS (SELECT bin, sum(pos) OVER (ORDER BY bin DESC)::BIGINT AS tp,
      |          sum(neg) OVER (ORDER BY bin DESC)::BIGINT AS fp FROM f),
      |tot AS (SELECT sum(pos)::BIGINT AS p, sum(neg)::BIGINT AS n FROM f)""".stripMargin

  /** Derived labeled corpus for the NB classifier rows (the synthetic
    * documents carry no organic labels): parity labels, class-marker
    * suffixes on the real word-soup texts. Mirrored verbatim in
    * [[nbLabeledSql]]. */
  private def nbLabeled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, lit("good")).otherwise(lit("spam")).as("label"),
      when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" insight careful analysis")))
        .otherwise(concat(col("text"), lit(" buy click cheap now"))).as("text"))

  /** Planted URL corpus for the PSL / blocklist rows: 16 adversarial
    * suffix families keyed off doc_id — plain gTLD, ccTLD second-level,
    * the us k12 third-level, private-section hosts, wildcard rules
    * (*.bd, *.kawasaki.jp, *.compute.amazonaws.com), exception rules
    * (city.kawasaki.jp, www.ck with the www-strip quirk), an uppercase
    * host, userinfo/port/path decoration, and a rejected ftp scheme.
    * The registrable domain of every family is a closed-form string of
    * doc_id, so the DuckDB oracle recomputes it by construction while
    * the engine runs the real generic PSL matcher. */
  private def urlCorpus(docs: DataFrame): DataFrame = {
    val h = concat(lit("site"), col("doc_id"))
    val f = col("doc_id") % 16
    docs.select(col("doc_id"),
      when(f === 0, concat(lit("https://"), h, lit(".com/a")))
        .when(f === 1, concat(lit("http://www."), h, lit(".com/b?q=1")))
        .when(f === 2, concat(lit("https://"), h, lit(".co.uk:8443/p")))
        .when(f === 3, concat(lit("http://"), upper(h), lit(".COM.KZ/x")))
        .when(f === 4, concat(lit("https://"), h, lit(".k12.ca.us")))
        .when(f === 5, concat(lit("https://user@"), h, lit(".github.io/repo")))
        .when(f === 6, concat(lit("http://"), h, lit(".blogspot.com.br")))
        .when(f === 7, concat(lit("https://"), h, lit(".news.bd")))
        .when(f === 8, concat(lit("https://"), h, lit(".kawasaki.jp")))
        .when(f === 9, concat(lit("http://x."), h, lit(".kawasaki.jp")))
        .when(f === 10, lit("https://city.kawasaki.jp/ward"))
        .when(f === 11, lit("http://www.ck"))
        .when(f === 12, concat(lit("https://"), h, lit(".a.bg")))
        .when(f === 13, concat(lit("http://"), h, lit(".tokyo.jp")))
        .when(f === 14, concat(lit("https://a.b."), h, lit(".compute.amazonaws.com")))
        .otherwise(concat(lit("ftp://"), h, lit(".com"))).as("url"))
  }

  /** (score, y): each doc's stop-word ratio and whether it is English. */
  private def stopwordScored(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("qc", TextAnalysis.qualityCountsUdf(col("text")))
      .filter(col("qc._1") > 0)
      .select((col("qc._2").cast("double") / col("qc._1")).as("score"),
        (col("lang") === "en").cast("long").as("y"))

  val all: Seq[Query] = Seq(
    Query("x_repetition_stats", (s, dir) =>
      // Gopher-family repetition/diversity numerators, integer-exact
      TextAnalysis.repetitionStats(t(s, dir, "documents")),
      order = by("doc_id"),
      oracle = Some("WITH " + lowerToks() +
        """u AS (
          |  SELECT doc_id, count(*)::INT AS c
          |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok),
          |uni AS (
          |  SELECT doc_id, cast(sum(c) as int) AS n_tokens, count(*)::INT AS n_distinct_tokens,
          |         max(c) AS top_unigram_count
          |  FROM u GROUP BY doc_id),
          |b2 AS (
          |  SELECT doc_id, max(c)::INT AS top_bigram_count FROM (
          |    SELECT doc_id, count(*)::INT AS c FROM (
          |      SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
          |        i -> t[i]||' '||t[i+1])) AS g
          |      FROM toks WHERE len(t) >= 2)
          |    GROUP BY doc_id, g) GROUP BY doc_id),
          |b3 AS (
          |  SELECT doc_id, max(c)::INT AS top_trigram_count FROM (
          |    SELECT doc_id, count(*)::INT AS c FROM (
          |      SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          |        i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS g
          |      FROM toks WHERE len(t) >= 3)
          |    GROUP BY doc_id, g) GROUP BY doc_id)
          |SELECT d.doc_id,
          |  coalesce(uni.n_tokens, 0) AS n_tokens,
          |  coalesce(uni.n_distinct_tokens, 0) AS n_distinct_tokens,
          |  coalesce(uni.top_unigram_count, 0) AS top_unigram_count,
          |  coalesce(b2.top_bigram_count, 0) AS top_bigram_count,
          |  coalesce(b3.top_trigram_count, 0) AS top_trigram_count
          |FROM documents d
          |LEFT JOIN uni ON d.doc_id = uni.doc_id
          |LEFT JOIN b2 ON d.doc_id = b2.doc_id
          |LEFT JOIN b3 ON d.doc_id = b3.doc_id
          |ORDER BY d.doc_id""".stripMargin)),
    Query("x_gopher_audit", (s, dir) =>
      // Gopher quality rules (Rae et al. 2021): every rule's INTEGER
      // numerators + cross-multiplied verdicts — no floating point
      // anywhere, so the oracle is exact by construction. minWords=30
      // splits the test docs (word counts 10..240) meaningfully.
      graft.ops.GopherFilters.audit(
          t(s, dir, "documents").select("doc_id", "text"), minWords = 30)
        .drop("text"),
      order = by("doc_id"),
      // all-integer recompute, verdicts cross-multiplied
      oracle = Some(gopherCounts +
        """SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stops_present,
          |  n_symbols, n_lines, n_bullet_lines, n_ellipsis_lines, top_trigram_count,
          |  (n_words >= 30 AND n_words <= 100000) AS keep_word_count,
          |  (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10) AS keep_mean_word_len,
          |  (n_symbols * 10 <= n_words) AS keep_symbol_ratio,
          |  (n_bullet_lines * 10 <= n_lines) AS keep_bullets,
          |  (n_ellipsis_lines * 10 <= n_lines * 3) AS keep_ellipsis,
          |  (n_alpha_words * 10 >= n_words * 8) AS keep_alpha_words,
          |  (n_stops_present >= 2) AS keep_stop_words,
          |  (top_trigram_count * 100 <= n_words * 18) AS keep_repetition,
          |  ((n_words >= 30 AND n_words <= 100000)
          |   AND (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10)
          |   AND (n_symbols * 10 <= n_words)
          |   AND (n_bullet_lines * 10 <= n_lines)
          |   AND (n_ellipsis_lines * 10 <= n_lines * 3)
          |   AND (n_alpha_words * 10 >= n_words * 8)
          |   AND (n_stops_present >= 2)
          |   AND (top_trigram_count * 100 <= n_words * 18)) AS gopher_keep
          |FROM n
          |ORDER BY doc_id""".stripMargin)),
    Query("x_gopher_filter", (s, dir) =>
      // minStops=1: the synthetic word-soup vocabulary carries at most
      // one of the paper's 8 stop words per doc (measured), so the
      // paper's >= 2 is vacuously empty here; 1 exercises a real split
      graft.ops.GopherFilters.filter(
          t(s, dir, "documents").select("doc_id", "lang", "text"),
          minWords = 30, minStops = 1)
        .select("doc_id", "lang"),
      order = by("doc_id"),
      oracle = Some(gopherCounts +
        """SELECT d.doc_id, d.lang FROM documents d JOIN n ON d.doc_id = n.doc_id
          |WHERE (n_words >= 30 AND n_words <= 100000)
          |  AND (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10)
          |  AND (n_symbols * 10 <= n_words)
          |  AND (n_bullet_lines * 10 <= n_lines)
          |  AND (n_ellipsis_lines * 10 <= n_lines * 3)
          |  AND (n_alpha_words * 10 >= n_words * 8)
          |  AND (n_stops_present >= 1)
          |  AND (top_trigram_count * 100 <= n_words * 18)
          |ORDER BY d.doc_id""".stripMargin)),
    Query("x_url_domains", (s, dir) =>
      // the real PSL matcher over 16 planted suffix families (wildcards,
      // exceptions, private section, www-strip, rejected scheme); the
      // oracle recomputes each family's registrable domain by construction
      graft.ops.UrlFilter.withDomain(urlCorpus(t(s, dir, "documents")))
        .select(col("doc_id"), col("url"),
          coalesce(col("domain"), lit("(none)")).as("domain")),
      order = by("doc_id"),
      // ground truth by construction: each planted family's registrable
      // domain is a closed-form string of doc_id (the engine runs the
      // generic longest-match PSL algorithm; family 11 pins the www-strip
      // quirk on the www.ck exception rule, family 15 the rejected scheme)
      oracle = Some(
        """SELECT doc_id,
          |  CASE doc_id % 16
          |    WHEN 0 THEN 'https://site' || doc_id || '.com/a'
          |    WHEN 1 THEN 'http://www.site' || doc_id || '.com/b?q=1'
          |    WHEN 2 THEN 'https://site' || doc_id || '.co.uk:8443/p'
          |    WHEN 3 THEN 'http://' || upper('site' || doc_id) || '.COM.KZ/x'
          |    WHEN 4 THEN 'https://site' || doc_id || '.k12.ca.us'
          |    WHEN 5 THEN 'https://user@site' || doc_id || '.github.io/repo'
          |    WHEN 6 THEN 'http://site' || doc_id || '.blogspot.com.br'
          |    WHEN 7 THEN 'https://site' || doc_id || '.news.bd'
          |    WHEN 8 THEN 'https://site' || doc_id || '.kawasaki.jp'
          |    WHEN 9 THEN 'http://x.site' || doc_id || '.kawasaki.jp'
          |    WHEN 10 THEN 'https://city.kawasaki.jp/ward'
          |    WHEN 11 THEN 'http://www.ck'
          |    WHEN 12 THEN 'https://site' || doc_id || '.a.bg'
          |    WHEN 13 THEN 'http://site' || doc_id || '.tokyo.jp'
          |    WHEN 14 THEN 'https://a.b.site' || doc_id || '.compute.amazonaws.com'
          |    ELSE 'ftp://site' || doc_id || '.com' END AS url,
          |  coalesce(CASE doc_id % 16
          |""".stripMargin + registrableDomain("    ") +
        """, '(none)') AS domain
          |FROM documents
          |ORDER BY doc_id""".stripMargin)),
    Query("x_url_blocklist", (s, dir) => {
      // UT1-style blocklist filtering: domains of doc_id % 7 == 0 docs
      // are blocked; broadcast LEFT ANTI on the resolved registrable
      // domain (null domains kept — a blocklist only speaks about
      // domains it names). Families with a FIXED domain (exception
      // rules) vanish entirely once any member is blocklisted.
      val corpus = urlCorpus(t(s, dir, "documents"))
      val blocked = graft.ops.UrlFilter
        .withDomain(corpus.filter(col("doc_id") % 7 === 0))
        .select(col("domain"))
      graft.ops.UrlFilter.filterBlocklist(corpus, blocked)
        .select(col("doc_id"),
          coalesce(col("domain"), lit("(none)")).as("domain"))
    }, order = by("doc_id"),
      oracle = Some(
        """WITH u AS (
          |  SELECT doc_id,
          |    CASE doc_id % 16
          |""".stripMargin + registrableDomain("      ") +
        """ AS domain
          |  FROM documents),
          |b AS (SELECT DISTINCT domain FROM u
          |      WHERE doc_id % 7 = 0 AND domain IS NOT NULL)
          |SELECT u.doc_id, coalesce(u.domain, '(none)') AS domain
          |FROM u LEFT JOIN b ON u.domain = b.domain
          |WHERE b.domain IS NULL
          |ORDER BY u.doc_id""".stripMargin)),
    Query("x_dsir_weights", (s, dir) => {
      // DSIR importance weights (Xie et al. 2023): raw = docs < 400,
      // target = docs >= 400; hashed unigram+bigram models at B=4096,
      // add-1 smoothing. The oracle recomputes the ENTIRE path — md5
      // bucket hashing, both count tables, the smoothed log-ratio per
      // occurrence — at r6 rounding (ln() may differ by an ulp across
      // engines; the x_lm_score convention).
      val d = t(s, dir, "documents")
      val model = graft.ops.Dsir.fit(d.filter(col("doc_id") >= 400),
        d.filter(col("doc_id") < 400), nBuckets = 4096)
      graft.ops.Dsir.logWeights(d.filter(col("doc_id") < 400), model)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight_r6"))
    }, order = by("doc_id"),
      // the weights; empty-gram docs weight 0 via the left join
      oracle = Some(dsirWeights +
        """
          |SELECT doc_id, round(coalesce(w.lw, 0.0), 6) AS log_weight_r6
          |FROM documents LEFT JOIN w USING (doc_id)
          |WHERE doc_id < 400
          |ORDER BY doc_id""".stripMargin)),
    Query("x_dsir_sample", (s, dir) => {
      // the composed selector: Gumbel top-100 resampling with seeded
      // noise (top 53 bits of a salted md5 — exactly representable in
      // both engines), ranked on the r6-rounded key with doc_id ties
      val d = t(s, dir, "documents")
      graft.ops.Dsir.select(d.filter(col("doc_id") >= 400),
          d.filter(col("doc_id") < 400), k = 100, nBuckets = 4096,
          salt = "dsir")
    }, order = Seq(col("sample_key_r6").desc, col("doc_id")),
      // the weights + the seeded Gumbel key: top 53 bits of a salted md5
      // scaled by 2^-53 (bit-exact in IEEE double both engines), ranked
      // on the r6-rounded key with doc_id ties
      oracle = Some(dsirWeights +
        """,
          |keys AS (
          |  SELECT doc_id, coalesce(w.lw, 0.0) AS lw,
          |    coalesce(w.lw, 0.0) + (-ln(-ln(
          |      ((md5_number_lower('dsir:' || doc_id) >> 11)::DOUBLE + 0.5)
          |      / 9007199254740992.0))) AS k
          |  FROM documents LEFT JOIN w USING (doc_id)
          |  WHERE doc_id < 400)
          |SELECT doc_id, round(lw, 6) AS log_weight_r6, round(k, 6) AS sample_key_r6
          |FROM keys
          |ORDER BY round(k, 6) DESC, doc_id
          |LIMIT 100""".stripMargin)),
    Query("x_nb_model", (s, dir) =>
      // the fastText-style quality-classifier family, trainable half: a
      // multinomial NB model AS A DATAFRAME (one map-side-combined
      // groupBy). The synthetic docs carry no organic labels, so both
      // engines DERIVE the identical labeled corpus (the x_pii_redact
      // planted-input technique): parity labels + class-marker suffixes
      // appended to the real texts; the split is doc_id % 5.
      graft.ops.NbClassifier.train(
        nbLabeled(t(s, dir, "documents")).filter(col("doc_id") % 5 =!= 0)),
      order = by("label", "tok"),
      // the derived corpus, integer-exact (label, token) counts
      oracle = Some(nbLabeledSql +
        """trt AS (
          |  SELECT doc_id, t[i] AS tok FROM (
          |    SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
          |    FROM tr), unnest(generate_series(1, len(t))) AS u(i))
          |SELECT l.label, tt.tok, count(*) AS cnt
          |FROM trt tt JOIN tr l USING (doc_id)
          |GROUP BY l.label, tt.tok ORDER BY l.label, tt.tok""".stripMargin)),
    Query("x_nb_classify", (s, dir) => {
      // held-out prediction: train on doc_id % 5 != 0, classify the rest.
      // Markers separate the classes, the 120-token word-soup body is
      // shared noise; the argmax is over the ROUNDED ll with label
      // tiebreak (cross-engine exact — see NbClassifier's contract).
      val labeled = nbLabeled(t(s, dir, "documents"))
      val test = labeled.filter(col("doc_id") % 5 === 0)
      graft.ops.NbClassifier.predict(labeled.filter(col("doc_id") % 5 =!= 0), test)
        .join(test.select(col("doc_id"), col("label").as("true_label")), Seq("doc_id"))
        .select(col("doc_id"), col("pred"), col("true_label"), col("ll_r6"))
    }, order = by("doc_id"),
      // identical smoothing arithmetic ((cnt+1)/(n_tok+V)), ln per term,
      // prior-seeded position-ordered left fold, argmax on the ROUNDED
      // ll with label-DESC tiebreak (= Spark's max(struct(ll_r6, label)))
      oracle = Some(nbLabeledSql +
        """te AS (SELECT * FROM lab WHERE doc_id % 5 = 0),
          |trt AS (
          |  SELECT doc_id, i, t[i] AS tok FROM (
          |    SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
          |    FROM tr), unnest(generate_series(1, len(t))) AS u(i)),
          |m AS (
          |  SELECT l.label, tt.tok, count(*) AS cnt
          |  FROM trt tt JOIN tr l USING (doc_id) GROUP BY l.label, tt.tok),
          |pr AS (
          |  SELECT label, count(*) AS n_docs,
          |    sum(len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')))::BIGINT AS n_tok
          |  FROM tr GROUP BY label),
          |nn AS (SELECT sum(n_docs) AS n_train FROM pr),
          |v AS (SELECT count(DISTINCT tok) AS vv FROM trt),
          |tet AS (
          |  SELECT doc_id, i, t[i] AS tok FROM (
          |    SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
          |    FROM te), unnest(generate_series(1, len(t))) AS u(i)),
          |terms AS (
          |  SELECT tt.doc_id, p.label, tt.i,
          |    ln((coalesce(m.cnt, 0) + 1)::DOUBLE / (p.n_tok + v.vv)::DOUBLE) AS lp
          |  FROM tet tt CROSS JOIN pr p
          |  LEFT JOIN m ON m.label = p.label AND m.tok = tt.tok, v),
          |ll AS (
          |  SELECT b.doc_id, b.label,
          |    list_reduce(list_prepend(b.prior_ll, coalesce(list(t.lp ORDER BY t.i), [])),
          |      (a, x) -> a + x) AS ll
          |  FROM (SELECT te.doc_id, p.label, ln(p.n_docs::DOUBLE / nn.n_train) AS prior_ll
          |        FROM te CROSS JOIN pr p, nn) b
          |  LEFT JOIN terms t ON t.doc_id = b.doc_id AND t.label = b.label
          |  GROUP BY b.doc_id, b.label, b.prior_ll),
          |rk AS (
          |  SELECT doc_id, label AS pred, round(ll, 6) AS ll_r6,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY round(ll, 6) DESC, label DESC) AS rn
          |  FROM ll)
          |SELECT r.doc_id, r.pred, l.label AS true_label, r.ll_r6
          |FROM rk r JOIN lab l USING (doc_id) WHERE r.rn = 1
          |ORDER BY r.doc_id""".stripMargin)),
    Query("x_lm_bigrams", (s, dir) =>
      // the CCNet-family LM as a DataFrame: bigram counts with a <s>
      // start sentinel, one map-side-combined shuffle — integer-exact
      graft.ops.NgramLm.train(t(s, dir, "documents")),
      order = by("w1", "w2"),
      oracle = Some(lmPositions +
        """
          |SELECT w1, w2, count(*)::BIGINT AS cnt
          |FROM pos GROUP BY w1, w2 ORDER BY w1, w2""".stripMargin)),
    Query("x_lm_score", (s, dir) =>
      // per-doc mean negative log-likelihood under the in-corpus add-one
      // bigram model. Probabilities are single int/int-derived divisions
      // (IEEE-exact), summed by a position-ordered left fold (the ordered
      // collect is bounded by the doc's own length), so the only
      // cross-engine slack is ln()'s last ulp — absorbed by round-6 like
      // every other double row.
      graft.ops.NgramLm.scoreInCorpus(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_nll"), 6).as("mean_nll_r6")),
      order = by("doc_id"),
      // identical smoothing arithmetic ((cnt+1) / (ctx+V), both integer
      // sums converted once), ln per term, position-ordered left fold
      oracle = Some(lmPositions +
        """,
          |bg AS (SELECT w1, w2, count(*) AS cnt FROM pos GROUP BY w1, w2),
          |cx AS (SELECT w1, sum(cnt) AS ctx FROM bg GROUP BY w1),
          |v AS (SELECT count(DISTINCT w2) AS vv FROM pos),
          |terms AS (
          |  SELECT p.doc_id, p.i,
          |    ln((coalesce(b.cnt, 0) + 1)::DOUBLE / (coalesce(c.ctx, 0) + v.vv)::DOUBLE) AS lp
          |  FROM pos p
          |  LEFT JOIN bg b ON p.w1 = b.w1 AND p.w2 = b.w2
          |  LEFT JOIN cx c ON p.w1 = c.w1, v),
          |agg AS (
          |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
          |    list_reduce(list_prepend(0.0::DOUBLE, list(lp ORDER BY i)), (a, x) -> a + x) AS s
          |  FROM terms GROUP BY doc_id)
          |SELECT doc_id, n_tokens, round(-s / n_tokens, 6) AS mean_nll_r6
          |FROM agg ORDER BY doc_id""".stripMargin)),
    Query("x_pii_redact", (s, dir) => {
      // PII scrubbing (emails / IPv4 / phones -> typed placeholders) driven
      // over a deterministically DERIVED contact card: the test tables
      // carry no organic PII, so both engines build the IDENTICAL text from
      // customer keys (the planted-input technique of the LSH recall rows)
      // and the oracle exercises the real detection + redaction kernels.
      // Every 5th customer gets a PII-free card — true negatives.
      val k = col("c_custkey")
      val txt = concat(
        lit("Customer "), col("c_name"), lit(" can be reached at "),
        when(k % 5 === 0, lit("no contact info"))
          .otherwise(concat(
            lit("customer"), k.cast("string"), lit("@example.com or "),
            format_string("%02d-%03d-%03d-%04d",
              k % 90 + 10, k * 3 % 900 + 100, k * 7 % 900 + 100, k * 11 % 9000 + 1000),
            lit(" from host "),
            (k % 224 + 16).cast("string"), lit("."), (k * 7 % 256).cast("string"),
            lit("."), (k * 13 % 256).cast("string"), lit("."), (k % 254 + 1).cast("string"))))
      graft.ops.Pii.redact(
          t(s, dir, "customer").select(k.as("doc_id"), txt.as("text")))
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          col("n_phones").cast("long").as("n_phones"), col("text"))
    }, order = by("doc_id"),
      // same derived contact card, then RE2 recompute of the detection
      // counts (on the PRE-redaction text) and the 3-stage typed redaction
      oracle = Some(
        """WITH src AS (
          |  SELECT c_custkey AS doc_id,
          |    'Customer ' || c_name || ' can be reached at ' ||
          |    CASE WHEN c_custkey % 5 = 0 THEN 'no contact info'
          |         ELSE 'customer' || c_custkey::VARCHAR || '@example.com or ' ||
          |              printf('%02d-%03d-%03d-%04d', c_custkey % 90 + 10,
          |                     c_custkey * 3 % 900 + 100, c_custkey * 7 % 900 + 100,
          |                     c_custkey * 11 % 9000 + 1000) ||
          |              ' from host ' || (c_custkey % 224 + 16)::VARCHAR || '.' ||
          |              (c_custkey * 7 % 256)::VARCHAR || '.' ||
          |              (c_custkey * 13 % 256)::VARCHAR || '.' ||
          |              (c_custkey % 254 + 1)::VARCHAR
          |    END AS text
          |  FROM customer)
          |SELECT doc_id,
          |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
          |  len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
          |  len(regexp_extract_all(text, '\b\d{2}-\d{3}-\d{3}-\d{4}\b|\+\d{9,15}'))::BIGINT AS n_phones,
          |  regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
          |    '\b\d{2}-\d{3}-\d{3}-\d{4}\b|\+\d{9,15}', '[PHONE]', 'g') AS text
          |FROM src ORDER BY doc_id""".stripMargin)),
    Query("x_c4_filter", (s, dir) => {
      // C4 line/document heuristics over documents re-chunked into
      // deterministic lines (8 tokens per line; a terminal period on 3 of
      // every 4 lines keyed by doc_id + line index; planted lorem-ipsum /
      // code-brace / enable-javascript lines on small residue classes).
      // The test corpus has no organic multi-line text, so both engines
      // derive the identical input and the oracle replays the real rules:
      // per-reason drop counts, document flags, the cleaned text, and the
      // final keep decision.
      val lined = t(s, dir, "documents")
        .withColumn("toks", SketchQueries.lowerWords)
        .withColumn("text", concat(
          array_join(expr(
            // Spark's sequence(0, -1) DESCENDS (emits [0, -1]) — a
            // zero-token doc must yield an empty line list, as the
            // oracle's generate_series(0, -1) does (NgramLm.positions
            // guards the same pitfall)
            "transform(CASE WHEN size(toks) = 0 THEN array() " +
              "ELSE sequence(0, int(ceil(size(toks) / 8.0)) - 1) END, " +
              "i -> concat(array_join(slice(toks, i * 8 + 1, 8), ' '), " +
              "CASE WHEN (doc_id + i) % 4 != 0 THEN '.' ELSE '' END))"), "\n"),
          when(col("doc_id") % 97 === 0, lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
          when(col("doc_id") % 89 === 0, lit("\nvar config = { mode: 1 }.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nplease enable javascript to continue reading.")).otherwise(lit(""))))
        .select("doc_id", "text")
      graft.ops.C4Filters.lineAudit(lined)
        .withColumn("kept",
          (col("n_kept_lines") >= 3 && col("has_lorem") === 0 && col("has_brace") === 0)
            .cast("int"))
        .select("doc_id", "n_lines", "n_kept_lines", "n_dropped_no_punct",
          "n_dropped_short", "n_js_lines", "has_lorem", "has_brace", "kept", "text_clean")
    }, order = by("doc_id"),
      // identical derived line text, then the C4 rules replayed with list
      // lambdas: terminal punctuation, min words, javascript lines, the
      // lorem/brace document flags, and the cleaned rejoin
      oracle = Some("WITH " + lowerToks() +
        """lined AS (
          |  SELECT doc_id,
          |    array_to_string(list_transform(generate_series(0, cast(ceil(len(t) / 8.0) AS INT) - 1),
          |      i -> array_to_string(list_slice(t, i * 8 + 1, i * 8 + 8), ' ') ||
          |           CASE WHEN (doc_id + i) % 4 != 0 THEN '.' ELSE '' END), chr(10)) ||
          |    CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
          |    CASE WHEN doc_id % 89 = 0 THEN chr(10) || 'var config = { mode: 1 }.' ELSE '' END ||
          |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'please enable javascript to continue reading.' ELSE '' END AS text
          |  FROM toks),
          |cls AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lined),
          |audit AS (
          |  SELECT doc_id,
          |    len(ls)::BIGINT AS n_lines,
          |    list_filter(ls, l -> list_contains(['.', '!', '?', '"'], right(rtrim(l, ' ' || chr(9) || chr(13)), 1))
          |        AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 3
          |        AND NOT contains(lower(l), 'javascript')) AS keptl,
          |    len(list_filter(ls, l -> NOT list_contains(['.', '!', '?', '"'], right(rtrim(l, ' ' || chr(9) || chr(13)), 1))))::BIGINT AS n_dropped_no_punct,
          |    len(list_filter(ls, l -> list_contains(['.', '!', '?', '"'], right(rtrim(l, ' ' || chr(9) || chr(13)), 1))
          |        AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) < 3))::BIGINT AS n_dropped_short,
          |    len(list_filter(ls, l -> list_contains(['.', '!', '?', '"'], right(rtrim(l, ' ' || chr(9) || chr(13)), 1))
          |        AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 3
          |        AND contains(lower(l), 'javascript')))::BIGINT AS n_js_lines,
          |    contains(lower(text), 'lorem ipsum')::INT AS has_lorem,
          |    contains(text, '{')::INT AS has_brace
          |  FROM cls)
          |SELECT doc_id, n_lines, len(keptl)::BIGINT AS n_kept_lines, n_dropped_no_punct,
          |  n_dropped_short, n_js_lines, has_lorem, has_brace,
          |  (CASE WHEN len(keptl) >= 3 AND has_lorem = 0 AND has_brace = 0 THEN 1 ELSE 0 END)::INT AS kept,
          |  coalesce(array_to_string(keptl, chr(10)), '') AS text_clean
          |FROM audit ORDER BY doc_id""".stripMargin)),
    Query("x_quality_counts", (s, dir) =>
      // integer-exact quality signals with a DuckDB oracle (the double
      // ratios live in x_text_analysis; ints hash identically)
      t(s, dir, "documents")
        .withColumn("qc", TextAnalysis.qualityCountsUdf(col("text")))
        .select(col("doc_id"),
          col("qc._1").as("n_tokens"), col("qc._2").as("n_stopwords"),
          col("qc._3").as("n_punct"), col("qc._4").as("n_digit"),
          col("qc._5").as("n_upper")),
      order = by("doc_id"),
      oracle = Some(
        """SELECT doc_id,
          |  cast(len(list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'), x -> x <> '')) as int) AS n_tokens,
          |  cast(len(list_filter(string_split_regex(lower(text), '\W+'),
          |    x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) as int) AS n_stopwords,
          |  cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r\x0B\f]', '', 'g')) as int) AS n_punct,
          |  cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as int) AS n_digit,
          |  cast(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) as int) AS n_upper
          |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("x_text_analysis", (s, dir) =>
      TextAnalysis.analyze(t(s, dir, "documents"))),
    Query("x_pr_curve", (s, dir) =>
      // classifier calibration: precision/recall/F1 sweep of "stopword
      // ratio predicts English" over 128 exact-binary bins. The oracle
      // replays the x_quality_counts counters, the binning, the top-down
      // cumulative counts, and every guarded ratio.
      graft.ops.ThresholdSweep.prCurve(stopwordScored(s, dir), "score", "y"),
      order = by("bin"),
      // the binned sweep replayed, then every guarded ratio
      oracle = Some(sweepSql +
        """
          |SELECT bin, bin::DOUBLE / 128 AS thr, tp, fp,
          |  (p - tp)::BIGINT AS fn, (n - fp)::BIGINT AS tn,
          |  CASE WHEN tp + fp = 0 THEN NULL
          |       ELSE round(tp / (tp + fp), 6) END AS precision_r6,
          |  CASE WHEN p = 0 THEN NULL ELSE round(tp / p, 6) END AS recall_r6,
          |  CASE WHEN n = 0 THEN NULL ELSE round(fp / n, 6) END AS fpr_r6,
          |  CASE WHEN tp * 2 + fp + (p - tp) = 0 THEN NULL
          |       ELSE round(tp * 2 / (tp * 2 + fp + (p - tp)), 6) END AS f1_r6
          |FROM cum CROSS JOIN tot ORDER BY bin""".stripMargin)),
    Query("x_roc_auc", (s, dir) =>
      // the one-number summary of the same sweep: ROC-AUC by trapezoid in
      // fixed fold order, recomputed end-to-end in DuckDB (binning,
      // cumulative counts, the (0,0)-seeded struct fold)
      graft.ops.ThresholdSweep.rocAuc(stopwordScored(s, dir), "score", "y"),
      // same chain, then the trapezoid fold in fixed order (threshold
      // descending = fpr ascending) from the (0,0) seed — list_transform
      // lifts each point into the accumulator struct shape first
      oracle = Some(sweepSql +
        """,
          |pts AS (SELECT (127 - bin)::BIGINT AS o,
          |          fp / n AS x, tp / p AS y FROM cum CROSS JOIN tot),
          |agg AS (SELECT list(struct_pack(o := o, x := x, y := y) ORDER BY o)
          |          AS pts FROM pts)
          |SELECT p, n,
          |  CASE WHEN p = 0 OR n = 0 THEN NULL
          |  ELSE round(list_reduce(
          |    list_prepend(
          |      struct_pack(px := 0.0::DOUBLE, py := 0.0::DOUBLE,
          |        acc := 0.0::DOUBLE),
          |      list_transform(pts, t -> struct_pack(px := t.x, py := t.y,
          |        acc := 0.0::DOUBLE))),
          |    (a, t) -> struct_pack(px := t.px, py := t.py,
          |      acc := a.acc + (t.px - a.px) * (t.py + a.py) / 2.0)).acc, 6)
          |  END AS auc_r6
          |FROM agg CROSS JOIN tot""".stripMargin)),
    Query("x_fingerprint", (s, dir) =>
      // the native Fingerprint64 codegen expression under a full DuckDB
      // recomputation (r6): per-token FNV-1a, then the order-sensitive
      // polynomial fold — all in mod-2^64 SQL arithmetic. Hex-string form
      // because a >= 2^63 unsigned value has no common numeric type
      // across the two engines (Spark long is signed, DuckDB UBIGINT
      // cannot cast down); Java's %x prints the two's-complement bits
      // unsigned, which is exactly the UBIGINT hex.
      t(s, dir, "documents")
        .select(col("doc_id"),
          format_string("%016x",
            graft.ops.HashExprs.fingerprint64(col("text"))).as("fp_hex")),
      order = by("doc_id"),
      oracle = Some("WITH " + lowerToks() +
        """th AS (
          |  SELECT doc_id, list_transform(t, tok ->
          |""".stripMargin + fnv1a64 +
        """) AS hs
          |  FROM toks),
          |fp AS (
          |  SELECT doc_id,
          |    list_reduce(list_prepend(14695981039346656037::UBIGINT, hs),
          |      (acc, x) -> (((acc::HUGEINT * 25214903917) + x::HUGEINT)
          |                   % 18446744073709551616)::UBIGINT) AS f
          |  FROM th)
          |SELECT doc_id, lpad(lower(hex(f)), 16, '0') AS fp_hex
          |FROM fp ORDER BY doc_id""".stripMargin)),
    Query("x_text_stats", (s, dir) =>
      // the oracled projection of x_text_analysis: every double is the
      // SAME IEEE expression tree in both engines (int/int divisions,
      // left-assoc adds — the x_curate score technique), rounded to 6
      // decimals on both sides like x_cosine_pairs. bpe_tokens_est and
      // fingerprint stay rows-only (RE2 has no lookahead; FNV rolling
      // hash is not SQL-expressible).
      TextAnalysis.analyze(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
          round(col("mean_word_len"), 6).as("mean_word_len_r6"),
          round(col("stopword_ratio"), 6).as("stopword_ratio_r6"),
          round(col("punct_ratio"), 6).as("punct_ratio_r6"),
          round(col("digit_ratio"), 6).as("digit_ratio_r6"),
          round(col("upper_ratio"), 6).as("upper_ratio_r6"),
          round(col("quality_score"), 6).as("quality_score_r6"),
          col("ws_tokens")),
      order = by("doc_id"),
      oracle = Some("WITH " + wlToks("") + ltokHits +
        """,
          |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r\x0B\f]', '', 'g')) AS n_punct,
          |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
          |    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
          |    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_letter
          |  FROM toks)
          |SELECT doc_id,
          |""".stripMargin + langPred("  ") +
        """,
          |  cast(len(wtoks) as int) AS n_tokens,
          |  round(CASE WHEN len(wtoks) = 0 THEN 0.0
          |    ELSE list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) END, 6) AS mean_word_len_r6,
          |  round(CASE WHEN len(ltoks) = 0 THEN 0.0
          |    ELSE n_en / cast(len(ltoks) as double) END, 6) AS stopword_ratio_r6,
          |  round(CASE WHEN length(text) = 0 THEN 0.0
          |    ELSE n_punct / cast(length(text) as double) END, 6) AS punct_ratio_r6,
          |  round(CASE WHEN length(text) = 0 THEN 0.0
          |    ELSE n_digit / cast(length(text) as double) END, 6) AS digit_ratio_r6,
          |  round(CASE WHEN n_letter = 0 THEN 0.0
          |    ELSE n_upper / cast(n_letter as double) END, 6) AS upper_ratio_r6,
          |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
          |""".stripMargin + qualityScore("    ") +
        """
          |          (n_punct / cast(length(text) as double)) * 3
          |        + (n_digit / cast(length(text) as double)) * 2))))
          |  END, 6) AS quality_score_r6,
          |  cast(len(wtoks) as int) AS ws_tokens
          |FROM hits ORDER BY doc_id""".stripMargin)),
    Query("x_langid_pred", (s, dir) =>
      // per-doc language-ID prediction with a DuckDB oracle replicating the
      // heuristic's Latin path exactly (stopword-hit argmax with the
      // en,fr,de,es first-max tie order); the CJK/Cyrillic script paths are
      // covered by PropertySpec — this table is Latin-script text
      t(s, dir, "documents")
        .withColumn("lang_pred", TextAnalysis.langIdUdf(col("text")))
        .select(col("doc_id"), col("lang_pred")),
      order = by("doc_id"),
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, text,
          |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
          |  FROM documents),
          |hits AS (
          |  SELECT doc_id, text,
          |    len(list_filter(t, x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) AS n_en,
          |    len(list_filter(t, x -> list_contains(['le','la','les','et','des','est','dans','que','pour','une','qui','sur'], x))) AS n_fr,
          |    len(list_filter(t, x -> list_contains(['der','die','und','das','ist','von','den','mit','auf','ein','nicht'], x))) AS n_de,
          |    len(list_filter(t, x -> list_contains(['el','la','los','las','y','de','que','en','es','por','con','para'], x))) AS n_es
          |  FROM toks)
          |SELECT doc_id,
          |""".stripMargin + langPred("  ") + "\nFROM hits ORDER BY doc_id")),
    Query("x_langid_eval", (s, dir) =>
      // predicted-vs-labeled language confusion (labels in this harness
      // table are synthetic; the query shape is the real evaluation op)
      t(s, dir, "documents")
        .withColumn("lang_pred", TextAnalysis.langIdUdf(col("text")))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n")),
      order = by("lang", "lang_pred"),
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, lang, text,
          |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
          |  FROM documents),
          |hits AS (
          |  SELECT doc_id, lang, text,
          |    len(list_filter(t, x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) AS n_en,
          |    len(list_filter(t, x -> list_contains(['le','la','les','et','des','est','dans','que','pour','une','qui','sur'], x))) AS n_fr,
          |    len(list_filter(t, x -> list_contains(['der','die','und','das','ist','von','den','mit','auf','ein','nicht'], x))) AS n_de,
          |    len(list_filter(t, x -> list_contains(['el','la','los','las','y','de','que','en','es','por','con','para'], x))) AS n_es
          |  FROM toks),
          |pred AS (
          |  SELECT doc_id, lang,
          |""".stripMargin + langPred("    ") +
        """
          |  FROM hits)
          |SELECT lang, lang_pred, count(*) AS n
          |FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin)))
}
