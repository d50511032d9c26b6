package graft.meta

import graft.blocks.Blockifier

/** The dragnet evaluation-corpus labeling primitive (SURVEY.md §5.1(4)):
  * align each block's tokens against the hand-corrected content/comments
  * text via LCS inclusion (lcs.pyx:78-103) and emit per-block fractions —
  * the exact format of test/datafiles/block_corrected/ *.txt. */
object EvalCorpus {

  val CommentsSeparator = "!@#$%^&*()  COMMENTS"

  final case class BlockLabel(
      fracContent: Double,
      fracComment: Double,
      blockTokens: Seq[String],
      contentTokens: Seq[String],
      commentTokens: Seq[String])

  def splitCorrected(corrected: String): (Seq[String], Seq[String]) = {
    val idx = corrected.indexOf(CommentsSeparator)
    val (c, m) =
      if (idx < 0) (corrected, "")
      else (corrected.substring(0, idx), corrected.substring(idx + CommentsSeparator.length))
    (Blockifier.simpleTokenizer(c), Blockifier.simpleTokenizer(m))
  }

  /** Label all blocks of a document against its corrected text. */
  def labelBlocks(html: String, corrected: String): Seq[BlockLabel] = {
    val (contentTokens, commentTokens) = splitCorrected(corrected)
    val blocks = Blockifier.blockify(html)
    blocks.map { b =>
      val toks = Blockifier.simpleTokenizer(b.text).toIndexedSeq
      val inContent = Lcs.checkInclusion(toks, contentTokens.toIndexedSeq)
      val inComment = Lcs.checkInclusion(toks, commentTokens.toIndexedSeq)
      val n = math.max(1, toks.length)
      BlockLabel(
        inContent.count(identity).toDouble / n,
        inComment.count(identity).toDouble / n,
        toks,
        toks.zip(inContent).collect { case (t, true) => t },
        toks.zip(inComment).collect { case (t, true) => t })
    }
  }
}
