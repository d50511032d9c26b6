package graft.meta

/** Port of extractnet/lcs.pyx: LCS matrix + per-token inclusion check (the
  * block-labeling primitive behind the block_corrected fixtures). */
object Lcs {

  def lcsMatrix(x: IndexedSeq[String], y: IndexedSeq[String]): Array[Array[Int]] = {
    val m = x.length; val n = y.length
    require(math.min(m + 1, n + 1) < 65535)
    val c = Array.ofDim[Int](m + 1, n + 1)
    var i = 1
    while (i <= m) {
      var j = 1
      while (j <= n) {
        c(i)(j) =
          if (x(i - 1) == y(j - 1)) c(i - 1)(j - 1) + 1
          else math.max(c(i)(j - 1), c(i - 1)(j))
        j += 1
      }
      i += 1
    }
    c
  }

  /** print_diff (lcs.pyx:48-73): LCS-based diff — "- x" for elements only
    * in X, "+ y" for elements only in Y, matches dropped, in sequence
    * order. The reference prints the list; returning it is the testable
    * form (the caller prints). Closes the last non-network §2.8 row. */
  def diff(x: IndexedSeq[String], y: IndexedSeq[String]): Seq[String] = {
    val c = lcsMatrix(x, y)
    var i = x.length
    var j = y.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (i > 0 || j > 0) {
      if (i > 0 && j > 0 && x(i - 1) == y(j - 1)) { i -= 1; j -= 1 }
      else if (j > 0 && (i == 0 || c(i)(j - 1) >= c(i - 1)(j))) {
        out += "+ " + y(j - 1); j -= 1
      } else if (i > 0 && (j == 0 || c(i)(j - 1) < c(i - 1)(j))) {
        out += "- " + x(i - 1); i -= 1
      }
    }
    out.reverse.toSeq
  }

  /** String form: per-char sequences, like the reference's doc example. */
  def diff(x: String, y: String): Seq[String] =
    diff(x.map(_.toString), y.map(_.toString))

  /** check_inclusion (lcs.pyx:78-103): v(i) = x(i) ∈ LCS(x, y). */
  def checkInclusion(x: IndexedSeq[String], y: IndexedSeq[String]): Seq[Boolean] = {
    if (y.isEmpty) return Seq.fill(x.length)(false)
    val c = lcsMatrix(x, y)
    var i = x.length
    var j = y.length
    val ret = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    while (i > 0 || j > 0) {
      if (i > 0 && j > 0 && x(i - 1) == y(j - 1)) { ret += true; i -= 1; j -= 1 }
      else if (j > 0 && (i == 0 || c(i)(j - 1) >= c(i - 1)(j))) j -= 1
      else if (i > 0 && (j == 0 || c(i)(j - 1) < c(i - 1)(j))) { ret += false; i -= 1 }
    }
    ret.reverse.toSeq
  }
}

/** Damerau-Levenshtein distance (util.py:25-68; unused by the reference
  * pipeline, ported for the evaluation-operator inventory). */
object EditDistance {
  def dameraulevenshtein[T](seq1: IndexedSeq[T], seq2: IndexedSeq[T]): Int = {
    val m = seq1.length; val n = seq2.length
    if (m == 0) return n
    if (n == 0) return m
    var twoAgo: Array[Int] = null
    var oneAgo: Array[Int] = null
    var thisRow: Array[Int] = (1 to n).toArray :+ 0
    for (x <- 0 until m) {
      twoAgo = oneAgo; oneAgo = thisRow
      thisRow = Array.fill(n)(0) :+ (x + 1)
      for (y <- 0 until n) {
        val del = oneAgo(y) + 1
        val add = thisRow((y - 1 + n + 1) % (n + 1)) + 1
        val sub = oneAgo((y - 1 + n + 1) % (n + 1)) + (if (seq1(x) != seq2(y)) 1 else 0)
        thisRow(y) = math.min(math.min(del, add), sub)
        if (x > 0 && y > 0 && seq1(x) == seq2(y - 1) && seq1(x - 1) == seq2(y) && seq1(x) != seq2(y))
          thisRow(y) = math.min(thisRow(y), twoAgo((y - 2 + n + 1) % (n + 1)) + 1)
      }
    }
    thisRow(n - 1)
  }
}
