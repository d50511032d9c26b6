package graft.pipeline

import graft.blocks.BlockifyError
import graft.meta.{Authors, DateRules, Meta, MetaExtract, UrlUtils}
import graft.model.NewsNet
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}

/** Final per-turn extraction result: the reference's result dict as a fixed
  * nullable wide struct (SURVEY.md §1.4, §2.6). One row per turn. */
final case class Extracted(
    content: String,
    headline: String,
    author: String,
    rawAuthor: String,
    authorConfidence: java.lang.Double,
    date: Timestamp,
    rawDate: String,
    dateConfidence: java.lang.Double,
    breadcrumbs: Seq[String],
    title: String,
    url: String,
    hostname: String,
    description: String,
    sitename: String,
    categories: Seq[String],
    tags: Seq[String],
    license: String,
    audio: Seq[String],
    video: String,
    name: String,
    ogProperties: Map[String, String],
    nBlocks: Int,
    error: String,
    extras: Map[String, String] = Map.empty)

/** The fused per-turn pipeline (Extractor.extract + postprocess,
  * extractnet/pipeline.py:56-134): rule-based metadata ⊕ neural
  * content/label extraction, merged with the reference's exact precedence
  * (meta beats ML on key collision; last-parseable date candidate wins).
  *
  * Pure function of the turn text — embarrassingly parallel; the Spark layer
  * applies it once per row through one operator, [[Udfs.extractTurn]]
  * (SURVEY.md §3.1). */
object Extract {

  /** User extension hooks, mirroring the reference's callback lists
    * (pipeline.py:17-31, README.md:116-149): `metaPostprocess` runs on the
    * raw text after metadata mining (earlier-stage-wins on key collision);
    * `postprocess` runs on (text, merged result) at the end (existing keys
    * win). Extra keys land in the `extras` map column — outside the
    * per-turn equality contract, like the reference's dynamic keys. */
  final case class Hooks(
      metaPostprocess: Seq[String => Map[String, String]] = Seq.empty,
      postprocess: Seq[(String, Extracted) => Map[String, String]] = Seq.empty)

  val NoHooks: Hooks = Hooks()

  /** dateparser.parse stand-in: deterministic subset over the fixture date
    * grammar (ISO-8601, yyyy/MM/dd, 'Month D, YYYY', de/fr/es day-first
    * forms); preserves time-of-day when the candidate carries a clock time
    * (dateparser returns full datetimes), midnight otherwise. */
  def parseDate(text: String): Option[LocalDateTime] =
    DateRules.parseDateTime(text)

  def extract(text: String): Extracted = extract(text, null, true, NoHooks)

  /** Bounded per-executor memo over the (pure) default extraction: web-scale
    * transcript corpora carry heavy exact repetition (boilerplate turns,
    * duplicated tool outputs, reposted pages), and a hash probe replaces the
    * full parse->features->GRU->rules pass for every repeat. Keyed by the
    * text itself (exactness over hashing); entries capped in count and key
    * size so executor memory stays bounded. */
  // Direct-mapped cache (per-entry eviction): each text hashes to one slot
  // and overwrites whatever lived there. Unlike a size-check-then-clear map,
  // there is no generation reset dropping every hot entry at once and no
  // size/put race under concurrent executor threads — a slot write is a
  // single volatile store, and extract is pure so a lost race merely
  // recomputes. Memory stays bounded by slots x MemoMaxTextLen.
  private final val MemoSlots = 4096 // power of two
  private val memo =
    new java.util.concurrent.atomic.AtomicReferenceArray[(String, Extracted)](MemoSlots)
  private final val MemoMaxTextLen = 8192 // boilerplate repeats are short

  def extractCached(text: String): Extracted = {
    if (text == null || text.length > MemoMaxTextLen) return extract(text)
    val slot = scala.util.hashing.MurmurHash3.stringHash(text) & (MemoSlots - 1)
    val e = memo.get(slot)
    if (e != null && e._1 == text) return e._2
    val r = extract(text)
    memo.set(slot, (text, r))
    r
  }

  /** Benchmark hook: measured runs must not replay a previous run's cache
    * (within-run repeats are the corpus's own duplication and stay). */
  def clearMemo(): Unit = {
    var i = 0
    while (i < MemoSlots) { memo.set(i, null); i += 1 }
  }

  def extract(text: String, defaultUrl: String, metadataMining: Boolean,
      hooks: Hooks): Extracted = {
    try {
      // PDF payloads (north rule: "PDF/layout parse"): extract the text
      // layer first, then run the normal pipeline over it as plain text
      val effectiveText =
        if (text != null && text.startsWith("%PDF-"))
          graft.dom.PdfText.extract(text.getBytes("ISO-8859-1")).getOrElse(text)
        else text

      // ONE parse per turn, shared by metadata + blockifier (the reference
      // parses three times: lxml twice + bs4; behavior-neutral fusion,
      // SURVEY.md §4.1)
      val tree = graft.dom.HtmlParser.parse(effectiveText)

      // stage 2: rule-based metadata (None keys dropped at merge time)
      val meta: Meta =
        if (metadataMining)
          MetaExtract.extractMetadata(tree, effectiveText, defaultUrl, false, MetaExtract.BlacklistAuthor)
        else Meta(null, null, null, null, null, null, null, null, null, null, null, null, null, null)

      // stages 4-7: blockify -> featurize -> GRU -> decode
      if (tree == null) throw new BlockifyError("Could not blockify HTML")
      val (feat, blocks) = NewsNet.preprocessTree(tree)
      val out = NewsNet.decode(NewsNet.forward(feat), blocks)

      // stage 8: postprocess (pipeline.py:92-134)
      var rawAuthor: String = null
      var authorConf: java.lang.Double = null
      if (out.author.nonEmpty) {
        rawAuthor = out.author.head._1
        authorConf = out.author.head._2
      }

      var rawDate: String = null
      var dateConf: java.lang.Double = null
      var mlDate: LocalDateTime = null
      // every parseable candidate overwrites -> LAST parseable wins
      // (pipeline.py:100-110, no break — replicated quirk)
      out.date.foreach { case (dateText, conf) =>
        parseDate(dateText).foreach { d =>
          rawDate = dateText; dateConf = conf; mlDate = d
        }
      }

      val mlContent = out.content.orNull
      val mlHeadline = out.headline.orNull
      val mlBreadcrumbs = out.breadcrumbs.map(_._1)

      // priority_merge(results, meta): meta wins on collision for the
      // overlapping keys (author, date); other meta keys fill their fields.
      val authorFinal: String =
        if (meta.author != null) meta.author // CRF output discarded by merge
        else if (rawAuthor != null)
          // lazy: the reference segments unconditionally (pipeline.py:98)
          // but the result only survives priority_merge when meta has no
          // author — skipping the CRF otherwise is output-identical
          Authors.extract(rawAuthor).mkString(",") // sanity: list -> ','.join
        else null

      // meta date is a find_date string; sanity check parses it and applies
      // validate_date against the URL (util.py:220-235)
      val urlForSanity = if (defaultUrl != null) defaultUrl else meta.url
      var dateFinal: LocalDateTime =
        if (meta.date != null) parseDate(meta.date).orNull
        else mlDate
      if (urlForSanity != null && dateFinal != null)
        dateFinal = UrlUtils.validateDate(urlForSanity, dateFinal)

      // user hooks: meta callbacks earlier-stage-wins, post callbacks
      // existing-keys-win (priority_merge direction, pipeline.py:68-71,123-126)
      var extras = Map.empty[String, String]
      hooks.metaPostprocess.foreach { h =>
        h(text).foreach { case (k, v) => if (!extras.contains(k)) extras += k -> v }
      }

      val base = Extracted(
        content = mlContent,
        headline = mlHeadline,
        author = authorFinal,
        rawAuthor = rawAuthor,
        authorConfidence = authorConf,
        date = if (dateFinal == null) null else Timestamp.valueOf(dateFinal),
        rawDate = rawDate,
        dateConfidence = dateConf,
        breadcrumbs = mlBreadcrumbs,
        title = meta.title,
        url = meta.url,
        hostname = meta.hostname,
        description = meta.description,
        sitename = meta.sitename,
        categories = meta.categories,
        tags = meta.tags,
        license = meta.license,
        audio = meta.audio,
        video = meta.video,
        name = meta.name,
        ogProperties = meta.ogProperties,
        nBlocks = blocks.length,
        error = null,
        extras = extras)
      if (hooks.postprocess.isEmpty) base
      else {
        hooks.postprocess.foreach { h =>
          h(text, base).foreach { case (k, v) => if (!extras.contains(k)) extras += k -> v }
        }
        base.copy(extras = extras)
      }
    } catch {
      case e: BlockifyError => failed(e.getMessage)
      case scala.util.control.NonFatal(e) =>
        failed(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
    }
  }

  /** Per-row failure row (the reference would raise and kill the batch; at
    * 100 TB we record the failure in-row + metrics instead — documented
    * deviation, fixtures never hit it). */
  private def failed(msg: String): Extracted =
    Extracted(null, null, null, null, null, null, null, null, null, null,
      null, null, null, null, null, null, null, null, null, null, null, 0, msg,
      Map.empty)
}
