package perfbench

import graft.jobs.ExtractJob
import graft.pipeline.Extract
import graft.util.Fs
import org.apache.spark.sql.SparkSession
import java.nio.file.Paths
import scala.collection.mutable

/** One benchmark run of one workload in this JVM.
  *
  *   --workload extract_mixed|extract_repeat --seed N --seconds S --trace 0|1
  *   --work DIR (scratch space: input, output tables) --cpus N
  *
  * Set-up (session start, seeded input written to parquet, reference pass,
  * warm-up) is billed to `setup_s` only. The timed loop then calls the
  * production `ExtractJob.run` into a fresh table until `--seconds` have
  * passed; every output check runs outside the timed interval and counts a
  * failure, never a timing. The last stdout line is the result JSON. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, traces: String, cpus: Int)

  /** Input materialisations in set-up; `setup_s` bills their median. */
  val SetupRounds = 3
  val WarmIters = 3
  val MinTimedIters = 4
  /** A traced run times at least this many plain and traced iterations each. */
  val MinTracedIters = 2

  def workload(name: String): Workload = name match {
    case "extract_mixed" => Workload.Mixed(nConv = 500)
    case "extract_repeat" => Workload.Repeat(nConv = 500, nBatches = 4)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.getOrElse("traces", need("work")), m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val code = try run(o) catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.println(s"[perfbench] ${o.workload}: run failed: $e")
        2
    }
    System.exit(code)
  }

  def run(o: Opts): Int = {
    val wl = workload(o.workload)
    val spark = graft.Bench.session(o.cpus.toString)
    val sessionS = Host.sinceJvmStart()
    val inputDir = s"${o.work}/input"
    val failures = mutable.ArrayBuffer.empty[String] // one line per failed check
    var attempted, failed = 0 // operations; one fails when any of its checks does

    // ---- set-up: the seeded input is written several times and the median
    // round is billed; the reference pass and the warm-up run once
    val rounds = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      wl.input(spark, o.seed, o.cpus * 2).write.mode("overwrite").parquet(inputDir)
      val digest = Workload.inputDigest(spark.read.parquet(inputDir))
      (secsSince(t0), digest)
    }
    attempted += 1
    if (rounds.map(_._2).distinct.size != 1) {
      failures += "setup: input is not a pure function of the seed"
      failed += 1
    }
    val r0 = System.nanoTime()
    val ref = wl.reference(spark, spark.read.parquet(inputDir))
    val refS = secsSince(r0)
    val inputBytes = Workload.files(inputDir)._1

    val tracer =
      if (o.trace) Some(new Tracer(spark, o, wl, ref, inputDir,
        s"${o.traces}/${o.workload}-seed${o.seed}.jsonl"))
      else None
    var iter = 0
    def iteration(traced: Boolean = false): Double = {
      iter += 1
      val table = s"${o.work}/out/t$iter"
      val input = spark.read.parquet(inputDir)
      Extract.clearMemo() // no replay of an earlier iteration's cache
      if (traced) tracer.get.before(table)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      ExtractJob.run(spark, input, table, wl.nBatches)
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      if (traced) tracer.get.after(table, t0, t1, ms0, ms1)
      attempted += 1
      val bad = Workload.check(spark, table, ref, wl.nBatches)
      bad.foreach(c => failures += s"iteration $iter: $c")
      if (bad.nonEmpty) failed += 1
      Fs.rmrf(Paths.get(table))
      (t1 - t0) / 1e9
    }

    val w0 = System.nanoTime()
    // each iteration, warm-up or timed, is followed by a full collection, so
    // the timed loop starts in the state it keeps
    val warm = (1 to WarmIters).map { _ => val s = iteration(); Host.heapAfterGcMb(); s }
    val warmS = secsSince(w0)
    // session start (from JVM start) + median input round + reference + warm-up
    val setupS = sessionS + median(rounds.map(_._1)) + refS + warmS

    // ---- timed loop
    val stat0 = Host.procStat()
    val jvm0 = Host.jvm()
    val runS = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    var heapPeak = 0.0
    val m0 = System.nanoTime()
    var k = 0
    // a traced run interleaves plain and traced iterations (plain, traced,
    // traced, plain, ...), so both see the same JVM warm-up on average and
    // their ratio is the tracing overhead
    while (k < (if (o.trace) MinTracedIters * 2 else MinTimedIters) || secsSince(m0) < o.seconds) {
      if (o.trace && (k % 4 == 1 || k % 4 == 2)) tracedS += iteration(traced = true)
      else runS += iteration()
      heapPeak = math.max(heapPeak, Host.heapAfterGcMb())
      k += 1
    }
    val measuredS = secsSince(m0)
    val (steal, busy) = Host.shares(stat0, Host.procStat())
    val jvm1 = Host.jvm()

    val tps = ref.turns / median(runS.toSeq)
    System.err.println(f"[perfbench] ${o.workload}: setup session_s=$sessionS%.2f " +
      f"input_rounds_s=${rounds.map(r => f"${r._1}%.2f").mkString(",")} reference_s=$refS%.2f " +
      f"warmup_s=${warm.map(x => f"$x%.2f").mkString(",")} (with checks $warmS%.2f)")
    System.err.println(f"[perfbench] ${o.workload}: input.turns=${ref.turns} " +
      f"distinct_text_share=${ref.distinctTexts.toDouble / ref.turns}%.4f input_bytes=$inputBytes " +
      f"iterations=${runS.size} run_s=${runS.map(x => f"$x%.3f").mkString(",")} measured_s=$measuredS%.1f")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("turns_per_s", tps, "turns/s"),
        ("setup_s", setupS, "s"),
        ("heap_peak_mb", heapPeak, "MB"))
      case Some(t) =>
        val (ms, queries, bad) = t.report(tracedS.toSeq, tps, steal, busy, jvm0, jvm1, k)
        attempted += queries
        failures ++= bad
        failed += bad.size
        ms
    }
    failures.foreach(f => System.err.println(s"[perfbench] ${o.workload}: check failed: $f"))
    val summary = Seq(
      s""""input.turns": ${ref.turns}""",
      s""""input.distinct_text_share": ${ref.distinctTexts.toDouble / ref.turns}""",
      s""""input.bytes": $inputBytes""",
      s""""failed_share": ${failed.toDouble / attempted}""",
      s""""host.steal_pct": $steal""",
      s""""host.busy_pct": $busy""",
      s""""timed.iterations": ${runS.size}""")
    println(summary.mkString("{", ", ", "}"))
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${ms.mkString("{", ", ", "}")}}""")
    spark.stop()
    if (failed == 0) 0 else 1
  }
}
