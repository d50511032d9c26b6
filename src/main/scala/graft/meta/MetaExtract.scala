package graft.meta

import graft.dom.{HtmlParser, Node}
import java.util.regex.Pattern
import scala.collection.mutable

/** Extracted rule-based metadata — the closed key set of the reference's
  * result dict (constant.py:5 METADATA_LIST + audio/video/license/
  * og_properties/name; SURVEY.md §2.6). Nullable everywhere. */
final case class Meta(
    title: String,
    author: String,
    url: String,
    hostname: String,
    description: String,
    sitename: String,
    date: String,
    categories: Seq[String],
    tags: Seq[String],
    license: String,
    audio: Seq[String],
    video: String,
    name: String,
    ogProperties: Map[String, String])

/** Port of extract_metadata (extractnet/metadata_extraction/metadata.py:394-488)
  * with the exact precedence chain. Internally threads a Python-dict-like
  * mutable map so precedence quirks port mechanically (e.g. examine_meta's
  * 'site_name' vs 'sitename' key split, og_properties loss outside the
  * all-five-OG short-circuit). */
object MetaExtract {

  val MetadataList = Seq("title", "author", "url", "hostname", "description",
    "sitename", "date", "categories", "tags", "fingerprint", "id")

  val BlacklistAuthor: Set[String] = Set("udn", "ETtoday新聞雲", "ltn", "自由時報電子報")
  private val UrlCompCheck = Pattern.compile("https?://|/")
  private val TitleRegex = Pattern.compile("(.+)?\\s+[-|]\\s+.*$")
  private val LicenseRegex = Pattern.compile("/(by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero)/([1-9]\\.[0-9])")
  private val TextLicenseRegex = Pattern.compile(
    "(cc|creative commons) (by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero) ?([1-9]\\.[0-9])?",
    Pattern.CASE_INSENSITIVE)

  private val MetanameAuthor = Set("article:author", "author", "byl",
    "citation_author", "dc.creator", "dc.creator.aut", "dc:creator",
    "dcterms.creator", "dcterms.creator.aut", "parsely-author",
    "sailthru.author", "shareaholic:article_author_name")
  private val MetanameDescription = Set("dc.description", "dc:description",
    "dcterms.abstract", "dcterms.description", "description",
    "sailthru.description", "twitter:description")
  private val MetanamePublisher = Set("article:publisher",
    "citation_journal_title", "copyright", "dc.publisher", "dc:publisher",
    "dcterms.publisher", "publisher")
  private val MetanameTag = Set("citation_keywords", "dcterms.subject",
    "keywords", "parsely-tags", "shareaholic:keywords", "tags")
  private val MetanameTitle = Set("citation_title", "dc.title",
    "dcterms.title", "fb_title", "parsely-title", "sailthru.title",
    "shareaholic:title", "title", "twitter:title")
  private val PropertyAuthor = Set("author", "article:author")
  private val TwitterAttrs = Set("twitter:site", "application-name")

  private val TextAuthorPatterns: Seq[Pattern] = Seq(
    "〔[^ ]*／[^ ]*報導〕", "記者[^ ]*／[^ ]*報導〕", "記者[^ ]*日電〕",
    "文／[^ ]* ", "記者[^ ]*／[^ ]*報導", "（[^ ]*／[^ ]*報導）",
    "／記者[^ ]*報導", "記者[^ ]*／[^ ]*報導",
    "【[^ ]*專欄】", "【[^ ]*快報[^ ]*】", "【[^ ]*／[^ ]*】").map(Pattern.compile)

  private type Md = mutable.LinkedHashMap[String, Any]
  private def strOf(md: Md, k: String): String = md.get(k).orNull match {
    case s: String => s
    case _ => null
  }

  // ----------------------------------------------------------- opengraph
  /** extract_opengraph (metadata.py:85-117). */
  private def extractOpengraph(tree: Node): (String, String, String, String, String, Map[String, String]) = {
    var title, author, url, description, siteName: String = null
    val ogFull = mutable.LinkedHashMap.empty[String, String]
    headMetas(tree).foreach { elem =>
      val prop = elem.attr("property").orNull
      val content = elem.attr("content").orNull
      if (prop != null && prop.startsWith("og:") && content != null && content.nonEmpty) {
        ogFull(prop.substring(3)) = content
        prop match {
          case "og:site_name" => siteName = content
          case "og:title" => title = content
          case "og:url" => if (UrlUtils.urlIsValid(content).isDefined) url = content
          case "og:description" => description = content
          case "og:author" | "og:article:author" => author = content
          case _ =>
        }
      }
    }
    (TextUtils.trim(title), TextUtils.trim(author), TextUtils.trim(url),
      TextUtils.trim(description), TextUtils.trim(siteName), ogFull.toMap)
  }

  private def headMetas(tree: Node): Seq[Node] = {
    // .//head/meta — direct children of head
    tree.findAll(_.tag == "head").flatMap(_.children.filter(_.tag == "meta"))
  }

  /** examine_meta (metadata.py:120-201), incl. the 'site_name' key quirk. */
  private def examineMeta(tree: Node): Md = {
    val md = mutable.LinkedHashMap.empty[String, Any]
    MetadataList.foreach(k => md(k) = null)
    val tags = mutable.ArrayBuffer.empty[String]
    var backupSitename: String = null
    var (title, author, url, description, siteName, ogFull) = extractOpengraph(tree)
    if (title != null && author != null && url != null && description != null && siteName != null &&
        title.nonEmpty && author.nonEmpty && url.nonEmpty && description.nonEmpty && siteName.nonEmpty) {
      md("title") = title; md("author") = author; md("url") = url
      md("description") = description; md("sitename") = siteName
      md("og_properties") = ogFull
      return md
    }
    headMetas(tree).foreach { elem =>
      val content = elem.attr("content").orNull
      if (content != null && content.nonEmpty) {
        if (elem.hasAttr("property")) {
          val prop = elem.attr("property").get
          if (!prop.startsWith("og:")) {
            if (prop == "article:tag") tags += TextUtils.normalizeTags(content)
            else if (PropertyAuthor.contains(prop)) author = TextUtils.normalizeAuthors(author, content)
            else if (prop == "article:publisher") { if (siteName == null) siteName = content }
          }
        } else if (elem.hasAttr("name")) {
          val nameAttr = elem.attr("name").get.toLowerCase
          if (MetanameAuthor.contains(nameAttr)) author = TextUtils.normalizeAuthors(author, content)
          else if (MetanameTitle.contains(nameAttr)) { if (title == null) title = content }
          else if (MetanameDescription.contains(nameAttr)) { if (description == null) description = content }
          else if (MetanamePublisher.contains(nameAttr)) { if (siteName == null) siteName = content }
          else if (TwitterAttrs.contains(nameAttr) || elem.attr("name").get.contains("twitter:app:name"))
            backupSitename = content
          else if (nameAttr == "twitter:url") {
            if (url == null && UrlUtils.urlIsValid(content).isDefined) url = content
          } else if (MetanameTag.contains(nameAttr)) tags += TextUtils.normalizeTags(content)
        } else if (elem.hasAttr("itemprop")) {
          elem.attr("itemprop").get match {
            case "author" => author = TextUtils.normalizeAuthors(author, content)
            case "description" => if (description == null) description = content
            case "headline" => if (title == null) title = content
            case _ =>
          }
        }
      }
    }
    if (siteName == null && backupSitename != null) siteName = backupSitename
    md("title") = title
    md("author") = author
    md("url") = url
    md("description") = description
    md("site_name") = siteName // reference quirk: NOT 'sitename' on this path
    md("tags") = tags.flatMap(TextUtils.splitTags).toSeq
    md("og_properties") = Map.empty[String, String] // quirk: og map lost here
    md
  }

  // -------------------------------------------------------------- title
  /** extract_metainfo (metadata.py:204-217). */
  private def extractMetainfo(tree: Node, exprs: Seq[Node => Boolean], lenLimit: Int = 200): String = {
    exprs.foreach { pred =>
      val hits = tree.findAll(pred)
      hits.foreach { elem =>
        val content = elem.textContent
        if (content != null && content.nonEmpty && content.length < lenLimit)
          return TextUtils.trim(content)
      }
    }
    null
  }

  private def classContains(n: Node, s: String): Boolean = n.attr("class").exists(_.contains(s))
  private def idContains(n: Node, s: String): Boolean = n.attr("id").exists(_.contains(s))
  private def classIs(n: Node, s: String): Boolean = n.attr("class").contains(s)
  private def classStarts(n: Node, s: String): Boolean = n.attr("class").exists(_.startsWith(s))

  /** title_xpaths (metaxpaths.py:46-51) as predicate matchers. */
  private val TitleXpaths: Seq[Node => Boolean] = Seq(
    n => classIs(n, "entry-title") || classIs(n, "post-title"),
    n => (n.tag == "h1" || n.tag == "h2") &&
      (classContains(n, "post-title") || classContains(n, "entry-title") ||
       classContains(n, "headline") || idContains(n, "headline") ||
       n.attr("itemprop").exists(_.contains("headline")) || classContains(n, "post__title")),
    n => n.tag == "h1" && (classContains(n, "title") || idContains(n, "title")),
    n => n.tag == "h1" && n.parent != null && n.parent.tag == "header")

  /** extract_title (metadata.py:220-249). */
  def extractTitle(tree: Node): String = {
    val h1s = tree.findAll(_.tag == "h1")
    if (h1s.length == 1) return h1s.head.textContent
    val t = extractMetainfo(tree, TitleXpaths)
    if (t != null) return t
    val headTitle = tree.findAll(_.tag == "head").flatMap(_.findAll(_.tag == "title")).headOption
    headTitle match {
      case Some(el) =>
        val title = el.textContent
        val m = TitleRegex.matcher(title)
        if (m.lookingAt()) return m.group(1) // may be null (optional group)
        return title
      case None =>
    }
    if (h1s.nonEmpty) return h1s.head.textContent
    tree.findAll(_.tag == "h2").headOption.map(_.textContent).orNull
  }

  // -------------------------------------------------------------- author
  // tag sets hoisted: the ladder's predicates run once per node per rung,
  // and a per-node Set(...) literal was an allocation in the hot loop
  private val AuthorTags1 = Set("a", "address", "link", "p", "span")
  private val AuthorTags2 = Set("a", "span")
  private val AuthorTags3 = Set("a", "div", "p", "span")
  private val AuthorXpaths: Seq[Node => Boolean] = Seq(
    n => (AuthorTags1.contains(n.tag) &&
           (n.attr("rel").contains("author") || classIs(n, "author"))) || n.tag == "author",
    n => AuthorTags2.contains(n.tag) &&
      (classContains(n, "authors") || classContains(n, "author") ||
       classContains(n, "posted-by") || n.attr("itemprop").exists(_.contains("author"))),
    n => AuthorTags3.contains(n.tag) && classContains(n, "byline"),
    n => classContains(n, "author") || classContains(n, "screenname"))

  // hoisted author-cleanup regexes (previously compiled per call)
  private val AuthorByPrefix = Pattern.compile(
    "^([a-zäöüß]+(ed|t))? ?(by|von) ", Pattern.CASE_INSENSITIVE)
  private val AuthorDigitTail = Pattern.compile("\\d.+?$")
  private val AuthorTailTrim = Pattern.compile(
    "[^\\w]+$|( am| on)", Pattern.UNICODE_CHARACTER_CLASS)

  /** Every TEXT_AUTHOR_PATTERN contains at least one of these anchor chars,
    * so a node whose text has none of them cannot match any pattern — one
    * cheap char pass replaces 11 regex scans on non-CJK text (the fallback
    * otherwise scans EVERY text node with every pattern). */
  private def hasCjkAuthorAnchor(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '〔' || c == '記' || c == '／' || c == '（' || c == '【') return true
      i += 1
    }
    false
  }

  /** extract_author (metadata.py:287-308). */
  def extractAuthor(tree: Node): String = {
    var author = extractMetainfo(tree, AuthorXpaths, lenLimit = 75)
    if (author != null) {
      author = AuthorByPrefix.matcher(author).replaceAll("")
      author = AuthorDigitTail.matcher(author).replaceAll("")
      author = AuthorTailTrim.matcher(TextUtils.trim(author)).replaceAll("")
      author = TextUtils.pythonTitle(author)
    }
    if (author == null) {
      val candidates = tree.flattened
      TextAuthorPatterns.foreach { pat =>
        if (author == null) {
          var i = 0
          while (author == null && i < candidates.length) {
            val n = candidates(i)
            if (n.text != null && hasCjkAuthorAnchor(n.text)) {
              val m = pat.matcher(n.text)
              if (m.find()) author = m.group(0)
            }
            i += 1
          }
        }
      }
    }
    author
  }

  // ----------------------------------------------------------------- url
  /** extract_url (metadata.py:311-354). */
  def extractUrl(tree: Node, defaultUrl: String): String = {
    var url = defaultUrl
    val heads = tree.findAll(_.tag == "head")
    val canonical = heads.flatMap(_.findAll(n => n.tag == "link" && n.attr("rel").contains("canonical"))).headOption
    canonical match {
      case Some(el) if el.attr("href").exists(h => UrlCompCheck.matcher(h).lookingAt()) =>
        url = el.attr("href").get
      case _ =>
        heads.flatMap(_.findAll(n => n.tag == "link" && n.attr("rel").contains("alternate"))).foreach { el =>
          if (el.attr("hreflang").contains("x-default") &&
              el.attr("href").exists(h => UrlCompCheck.matcher(h).lookingAt()))
            url = el.attr("href").get
        }
    }
    if (url != null && url.startsWith("/")) {
      var done = false
      heads.flatMap(_.findAll(n => n.tag == "meta" && n.hasAttr("content"))).foreach { el =>
        if (!done) {
          val attrtype = el.attr("name").orElse(el.attr("property")).orNull
          if (attrtype != null && (attrtype.startsWith("og:") || attrtype.startsWith("twitter:"))) {
            val m = Pattern.compile("https?://[^/]+").matcher(el.attr("content").get)
            if (m.lookingAt()) { url = m.group(0) + url; done = true }
          }
        }
      }
    }
    if (url != null) {
      UrlUtils.urlIsValid(url) match {
        case Some(parsed) => url = UrlUtils.urlNormalizer(parsed)
        case None => url = null
      }
    }
    url
  }

  // ------------------------------------------------------ categories/tags
  private val CategoriesXpaths: Seq[Node => Seq[Node]] = Seq(
    t => t.findAll(n => n.tag == "div" &&
      (Seq("post-info", "postinfo", "post-meta", "postmeta", "meta", "entry-meta",
        "entry-info", "entry-utility").exists(classStarts(n, _)) ||
        n.attr("id").exists(_.startsWith("postpath")))).flatMap(_.findAll(_.tag == "a")),
    t => t.findAll(n => n.tag == "p" &&
      (classStarts(n, "postmeta") || classStarts(n, "entry-categories") ||
        classIs(n, "postinfo") || n.attr("id").contains("filedunder"))).flatMap(_.findAll(_.tag == "a")),
    t => t.findAll(n => n.tag == "footer" &&
      (classStarts(n, "entry-meta") || classStarts(n, "entry-footer"))).flatMap(_.findAll(_.tag == "a")),
    t => t.findAll(n => (n.tag == "li" || n.tag == "span") &&
      (classIs(n, "post-category") || classIs(n, "postcategory") || classIs(n, "entry-category")))
      .flatMap(_.findAll(_.tag == "a")),
    t => t.findAll(n => n.tag == "header" && classIs(n, "entry-header")).flatMap(_.findAll(_.tag == "a")),
    t => t.findAll(n => n.tag == "div" && (classIs(n, "row") || classIs(n, "tags"))).flatMap(_.findAll(_.tag == "a")))

  private val TagsXpaths: Seq[Node => Seq[Node]] = Seq(
    t => t.findAll(n => n.tag == "div" && classIs(n, "tags")).flatMap(_.findAll(_.tag == "a")),
    t => t.findAll(n => n.tag == "p" && classStarts(n, "entry-tags")).flatMap(_.findAll(_.tag == "a")),
    t => t.findAll(n => n.tag == "div" &&
      (classIs(n, "row") || classIs(n, "jp-relatedposts") || classIs(n, "entry-utility") ||
        classStarts(n, "tag") || classStarts(n, "postmeta") || classStarts(n, "meta")))
      .flatMap(_.findAll(_.tag == "a")),
    t => t.findAll(n => classIs(n, "entry-meta") || classContains(n, "topics")).flatMap(_.findAll(_.tag == "a")))

  /** extract_catstags (metadata.py:370-391). */
  def extractCatstags(metatype: String, tree: Node): Seq[String] = {
    val results = mutable.ArrayBuffer.empty[String]
    val regexpr = "/" + metatype + "/"
    val exprs = if (metatype == "category") CategoriesXpaths else TagsXpaths
    val it = exprs.iterator
    while (results.isEmpty && it.hasNext) {
      it.next()(tree).foreach { elem =>
        if (elem.attr("href").exists(_.contains(regexpr))) results += elem.textContent
      }
    }
    if (metatype == "category" && results.isEmpty) {
      tree.findAll(_.tag == "head").flatMap(_.findAll(n => n.tag == "meta" &&
        n.attr("property").contains("article:section"))).headOption
        .foreach(el => el.attr("content").foreach(results += _))
    }
    results.filter(_ != null).flatMap(x => TextUtils.splitTags(TextUtils.trim(x))).toSeq
  }

  // -------------------------------------------------------------- license
  /** parse_license_element + extract_license (metadata.py:252-285). */
  def extractLicense(tree: Node): String = {
    def parseLicense(el: Node, strict: Boolean): String = {
      val href = el.attr("href").get
      val m = LicenseRegex.matcher(href)
      if (m.find()) return "CC " + m.group(1).toUpperCase + " " + m.group(2)
      if (el.text != null) {
        if (!strict) return TextUtils.trim(el.text)
        val m2 = TextLicenseRegex.matcher(el.text)
        if (m2.find()) return m2.group(0)
      }
      null
    }
    tree.findAll(n => n.tag == "a" && n.attr("rel").contains("license") && n.hasAttr("href"))
      .foreach { el =>
        val r = parseLicense(el, strict = false)
        if (r != null) return r
      }
    val footers = tree.findAll(_.tag == "footer") ++
      tree.findAll(n => n.tag == "div" && (classContains(n, "footer") || idContains(n, "footer")))
    footers.flatMap(_.findAll(n => n.tag == "a" && n.hasAttr("href"))).foreach { el =>
      val r = parseLicense(el, strict = true)
      if (r != null) return r
    }
    null
  }

  // ------------------------------------------------------------- the chain
  /** extract_metadata (metadata.py:394-488). */
  def extractMetadata(
      filecontent: String,
      defaultUrl: String = null,
      fastmode: Boolean = false,
      authorBlacklist: Set[String] = BlacklistAuthor): Meta =
    extractMetadata(HtmlParser.parse(filecontent), filecontent, defaultUrl,
      fastmode, authorBlacklist)

  /** Shared-parse variant: caller supplies the parsed tree (one parse per
    * turn feeds blockify + metadata + advance fields). */
  def extractMetadata(tree: Node, filecontent: String, defaultUrl: String,
      fastmode: Boolean, authorBlacklist: Set[String]): Meta = {
    if (tree == null) return Meta(null, null, null, null, null, null, null,
      null, null, null, null, null, null, null)

    val md = examineMeta(tree)

    // advance fields
    val adv = Video.getAdvanceFields(tree, filecontent)
    md("audio") = adv.audio
    md("video") = adv.video

    // author blacklist + fallback
    if (strOf(md, "author") != null && authorBlacklist.nonEmpty)
      md("author") = TextUtils.checkAuthors(strOf(md, "author"), authorBlacklist)
    if (strOf(md, "author") == null ||
        UrlCompCheck.matcher(strOf(md, "author")).lookingAt())
      md("author") = extractAuthor(tree)

    // JSON-LD override (+ the parse-error TypeError quirk: a malformed
    // script aborts the whole stage, keeping earlier in-place mutations)
    val scripts = tree.findAll(n => n.tag == "script" &&
      n.attr("type").exists(t => t == "application/ld+json" || t == "application/settings+json"))
    var jsonAborted = false
    val sIt = scripts.iterator
    while (!jsonAborted && sIt.hasNext) {
      val elem = sIt.next()
      if (elem.text != null && elem.text.nonEmpty) {
        val minified = JsonLd.minify(elem.text)
        JsonLd.parse(minified) match {
          case Some(node) => JsonLd.extractJson(node, md)
          case None => jsonAborted = true // extract_json_parse_error raises TypeError
        }
        if (!jsonAborted && JsonLd.criteriaFulfilled(md)) jsonAborted = true
      }
    }

    if (strOf(md, "title") == null) md("title") = extractTitle(tree)
    if (strOf(md, "url") == null) md("url") = extractUrl(tree, defaultUrl)
    if (strOf(md, "url") != null) md("hostname") = UrlUtils.extractDomain(strOf(md, "url"))

    md("date") = DateRules.findDate(tree, strOf(md, "url"), extensiveSearch = !fastmode)

    // sitename fixups (metadata.py:453-476)
    md.get("sitename").orNull match {
      case seq: Seq[_] if seq.nonEmpty => md("sitename") = seq.head
      case _ =>
    }
    md.get("sitename").orNull match {
      case s: String =>
        var sn = s
        if (sn.startsWith("@")) sn = sn.replaceFirst("^@", "")
        if (sn.nonEmpty) {
          if (!sn.contains('.') && !Character.isUpperCase(sn.charAt(0)))
            sn = TextUtils.pythonTitle(sn)
          md("sitename") = sn
        } else if (strOf(md, "url") != null) {
          val m = Pattern.compile("https?://(?:www\\.|w[0-9]+\\.)?([^/]+)").matcher(strOf(md, "url"))
          if (m.lookingAt()) md("sitename") = m.group(1)
        }
      case null if strOf(md, "url") != null =>
        val m = Pattern.compile("https?://(?:www\\.|w[0-9]+\\.)?([^/]+)").matcher(strOf(md, "url"))
        if (m.lookingAt()) md("sitename") = m.group(1)
      case _ =>
    }

    def emptySeq(k: String): Boolean = md.get(k).orNull match {
      case null => true
      case s: Seq[_] => s.isEmpty
      case _ => false
    }
    if (emptySeq("categories")) md("categories") = extractCatstags("category", tree)
    if (emptySeq("tags")) md("tags") = extractCatstags("tags", tree)
    md("license") = extractLicense(tree)

    cleanAndTrim(md)

    Meta(
      title = strOf(md, "title"),
      author = strOf(md, "author"),
      url = strOf(md, "url"),
      hostname = strOf(md, "hostname"),
      description = strOf(md, "description"),
      sitename = strOf(md, "sitename"),
      date = strOf(md, "date"),
      categories = md.get("categories").orNull match { case s: Seq[_] => s.map(_.toString); case _ => null },
      tags = md.get("tags").orNull match { case s: Seq[_] => s.map(_.toString); case _ => null },
      license = strOf(md, "license"),
      audio = md.get("audio").orNull match { case s: Seq[_] => s.map(_.toString); case _ => null },
      video = strOf(md, "video"),
      name = strOf(md, "name"),
      ogProperties = md.get("og_properties").orNull match {
        case m: Map[_, _] => m.map { case (k, v) => (k.toString, v.toString) }
        case _ => null
      })
  }

  /** clean_and_trim (metadata.py:491-504). */
  private def cleanAndTrim(md: Md): Unit = {
    md.keys.toSeq.foreach { k =>
      md(k) match {
        case s: String =>
          var v = s
          if (v.length > 10000) v = v.substring(0, 9999) + "…"
          md(k) = TextUtils.lineProcessing(TextUtils.unescape(v))
        case _ =>
      }
    }
  }
}
