package graft

import graft.pipeline.Extract
import org.scalatest.funsuite.AnyFunSuite

/** The four-argument kernel entry with user callbacks (`Extract.Hooks`):
  * extra keys land in `extras` only, with the reference's merge directions. */
class ExtractHooksSpec extends AnyFunSuite {

  private val html = {
    val in = getClass.getResourceAsStream("/extractnet-fixtures/models_testing.html")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("hooks: meta hooks earlier-stage-wins, postprocess keeps existing keys, fields unchanged") {
    val plain = Extract.extract(html)
    val hooks = Extract.Hooks(
      metaPostprocess = Seq(
        text => Map("stage" -> "meta-1", "a" -> "1", "len" -> text.length.toString),
        _ => Map("stage" -> "meta-2", "b" -> "2")),
      postprocess = Seq(
        (_, ex) => Map("stage" -> "post", "a" -> "post", "content" -> ex.content.take(6)),
        (_, _) => Map("content" -> "later", "c" -> "3")))
    val hooked = Extract.extract(html, null, true, hooks)
    assert(hooked.extras == Map(
      "stage" -> "meta-1", "a" -> "1", "len" -> html.length.toString, "b" -> "2",
      "content" -> "Making", "c" -> "3"))
    assert(plain.extras.isEmpty)
    assert(hooked.copy(extras = plain.extras) == plain)
  }
}
