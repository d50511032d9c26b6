package graft

import graft.ops.Chunking
import org.scalatest.funsuite.AnyFunSuite

/** Token-window chunking: placements must cover every token, overlap by
  * exactly `overlap` between neighbors, right-align the last window, and
  * reassemble to the original token stream. */
class ChunkingSpec extends AnyFunSuite with SparkSuite {

  private def doc(n: Int) = {
    val sp = spark; import sp.implicits._
    Seq((1L, (0 until n).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
  }

  private def rows(n: Int, size: Int, overlap: Int) =
    Chunking.chunk(doc(n), size, overlap)
      .orderBy("chunk_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))

  test("exact placements on a hand-checked doc") {
    // n=10, size=4, overlap=1, stride=3: starts 0,3,6 — last right-aligned
    assert(rows(10, 4, 1).map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L)))
    // n=11: ceil((11-4)/3)+1 = 4 chunks, last start = 11-4 = 7
    assert(rows(11, 4, 1).map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L), (3L, 7L, 4L)))
  }

  test("short docs: one whole-doc chunk; empty docs: none") {
    assert(rows(3, 4, 1).toSeq === Seq((0L, 0L, 3L, "t0 t1 t2")))
    assert(rows(4, 4, 1).map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((0L, 0L, 4L)))
    assert(Chunking.chunk(doc(0), 4, 1).count() === 0L)
  }

  test("coverage + reassembly: stripping overlaps rebuilds the token stream") {
    for (n <- Seq(1, 39, 40, 41, 97, 130); (sz, ov) <- Seq((40, 10), (32, 0))) {
      val cs = rows(n, sz, ov)
      // full coverage of [0, n)
      assert(cs.head._2 === 0L)
      assert(cs.last._2 + cs.last._3 === n.toLong)
      // every chunk exactly size tokens unless the doc is shorter
      assert(cs.forall(c => c._3 === math.min(sz, n).toLong))
      // neighbors overlap by >= overlap and < size (no gap, no duplicate chunk)
      cs.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2 > a._2 && b._2 <= a._2 + a._3 - ov)
        case _ =>
      }
      // token at position p is the p-th original token, for every chunk
      cs.foreach { case (_, start, len, text) =>
        assert(text === (start until start + len).map(i => s"t$i").mkString(" "))
      }
    }
  }
}
