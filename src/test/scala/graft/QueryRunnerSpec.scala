package graft

import graft.jobs.QueryRunner
import java.io.ByteArrayOutputStream
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The query runner reports every query, and a query that throws shows up
  * as "failed" with a failing status, never as a row count or a timing. */
class QueryRunnerSpec extends AnyFunSuite with SparkSuite {

  // x_extract_turns synthesizes its input (scale read from the dir name);
  // q1_pricing throws because the dir holds no lineitem table
  private lazy val dir = Files.createTempDirectory("runner_sf0.001_").toString

  private def captureIn(d: String, mode: String, names: String*): (Int, String) = {
    val out = new ByteArrayOutputStream
    val status = Console.withOut(out)(QueryRunner.run(spark, mode, names, d, 1))
    (status, out.toString("UTF-8"))
  }

  private def capture(mode: String, names: String*): (Int, String) =
    captureIn(dir, mode, names: _*)

  test("rows: row count for a real query, failed marker for a throwing one") {
    val (status, out) = capture("rows", "x_extract_turns", "q1_pricing")
    assert(status == 1, out)
    val n = """x_extract_turns ROWS=(\d+)""".r.findFirstMatchIn(out).map(_.group(1).toLong)
    assert(n.exists(_ > 0), out)
    assert(out.contains("q1_pricing failed"), out)
  }

  test("time: seconds for a real query, failed (not a timing) for a throwing one") {
    val (status, out) = capture("time", "x_extract_turns", "q1_pricing")
    assert(status == 1, out)
    assert(""""x_extract_turns":\[\d+\.\d{3}\]""".r.findFirstIn(out).isDefined, out)
    assert(out.contains("\"q1_pricing\":\"failed\""), out)
  }

  test("plan: formatted physical plan, status 0 when nothing throws") {
    val (status, out) = capture("plan", "x_extract_turns")
    assert(status == 0, out)
    assert(out.contains("## x_extract_turns") && out.contains("Physical Plan"), out)
  }

  test("a data dir without an sf<number> scale is rejected, not run at a default") {
    val unscaled = Files.createTempDirectory("runner_unscaled_").toString
    val e = intercept[IllegalArgumentException](SparkEntry.sfOf(unscaled))
    assert(e.getMessage.contains(unscaled), e.getMessage)
    assert(SparkEntry.sfOf("/data/sf0.01") == 0.01)
    // a Synth-backed query over that dir fails instead of running at sf0.001
    val (status, out) = captureIn(unscaled, "rows", "x_extract_turns")
    assert(status == 1, out)
    assert(out.contains("x_extract_turns failed"), out)
  }
}
