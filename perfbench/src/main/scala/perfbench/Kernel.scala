package perfbench

import graft.blocks.Blockifier
import graft.dom.{HtmlParser, PdfText}
import graft.feats.Features
import graft.meta.{Authors, DateRules, MetaExtract, UrlUtils}
import graft.model.NewsNet
import graft.pipeline.Extract
import scala.collection.mutable
import scala.util.control.NonFatal

/** Serial, direct timed calls into the public kernel functions, in the order
  * and with the arguments `Extract.extract` uses, on a sample of a
  * workload's input. Each stage is µs per turn; their sum over the measured
  * `Extract.extract` time is the stage coverage. */
object Kernel {

  val Stages = Seq("dom.parse_us", "dom.pdf_us", "meta.rules_us", "blocks.blockify_us",
    "feats.features_us", "model.gru_us", "model.decode_us", "meta.crf_us", "meta.date_us")

  /** Returns µs per turn for `pipeline.extract_us` and every stage, and
    * records one span per kernel call under `parent` (the whole
    * `Extract.extract` call and its stages are siblings: they are separate
    * calls on the same text). */
  def decompose(texts: Seq[String], passes: Int, spans: Spans, parent: Long): Map[String, Double] = {
    val ns = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    def timed[T](stage: String)(f: => T): T = {
      val s = System.nanoTime()
      val r = f
      val e = System.nanoTime()
      ns(stage) += e - s
      spans.add(stage, s, e, parent)
      r
    }
    // odd passes time the whole call before the stages, even passes after,
    // so neither side is favoured by caches the other one warmed
    for (pass <- 1 to passes; text <- texts) {
      def whole(): Unit = timed("pipeline.extract_us")(Extract.extract(text))
      if (pass % 2 == 1) whole()
      try {
        val eff =
          if (text != null && text.startsWith("%PDF-"))
            timed("dom.pdf_us")(PdfText.extract(text.getBytes("ISO-8859-1")).getOrElse(text))
          else text
        val tree = timed("dom.parse_us")(HtmlParser.parse(eff))
        val meta = timed("meta.rules_us")(
          MetaExtract.extractMetadata(tree, eff, null, false, MetaExtract.BlacklistAuthor))
        if (tree != null) {
          val b0 = timed("blocks.blockify_us")(Blockifier.blockifyProductionTree(tree))
          // the padding NewsNet.preprocessTree applies before featurizing
          val blocks =
            if (b0.isEmpty) NewsNet.preprocessTree(tree)._2
            else if (b0.length < 3) b0.head +: b0 :+ b0.last
            else b0
          val feat = timed("feats.features_us")(Features.assemble(blocks).map(_.map(_.toFloat)))
          val logits = timed("model.gru_us")(NewsNet.forward(feat))
          val out = timed("model.decode_us")(NewsNet.decode(logits, blocks))
          if (meta.author == null && out.author.nonEmpty)
            timed("meta.crf_us")(Authors.extract(out.author.head._1))
          timed("meta.date_us") {
            var d: java.time.LocalDateTime = null
            out.date.foreach(c => DateRules.parseDateTime(c._1).foreach(d = _))
            if (meta.date != null) d = DateRules.parseDateTime(meta.date).orNull
            if (meta.url != null && d != null) UrlUtils.validateDate(meta.url, d)
          }
        }
      } catch { case NonFatal(_) => () } // Extract.extract records these as error rows
      if (pass % 2 == 0) whole()
    }
    val n = math.max(1, texts.size * passes).toDouble
    val us = (("pipeline.extract_us" +: Stages).map(k => k -> ns(k) / 1e3 / n)).toMap
    us + ("kernel.stage_coverage" -> Stages.map(us).sum / us("pipeline.extract_us"))
  }

  /** Share of turns the program's memo serves when the input is replayed in
    * order through `Extract.extractCached` after a cleared memo. A call is a
    * hit when it returns the very object an earlier call for the same text
    * returned: a miss always builds a new result. */
  def memoHitRatio(texts: Iterator[String]): Double = {
    Extract.clearMemo()
    val last = new java.util.HashMap[String, AnyRef]()
    var hits, n = 0L
    texts.foreach { t =>
      val r = Extract.extractCached(t)
      if (last.get(t) eq r) hits += 1
      last.put(t, r)
      n += 1
    }
    Extract.clearMemo()
    if (n == 0) 0.0 else hits.toDouble / n
  }
}
