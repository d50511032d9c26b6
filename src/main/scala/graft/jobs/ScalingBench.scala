package graft.jobs

/** N vs 4N scaling evidence (BASELINE.md protocol): the same extraction job,
  * same input, at local[N] and local[4N] in one JVM (no real cluster in this
  * sandbox, per driver instruction). Efficiency = T(4N)/(4·T(N)) throughput
  * ratio. A JIT warmup run precedes both timings so the second session
  * doesn't get a free compilation advantage. */
object ScalingBench {

  /** Pure map-stage scaling (no salt shuffle): isolates CPU scaling from
    * local-disk shuffle throughput. */
  def runNoShuffle(cores: Int, sf: Double): (Long, Double) = {
    import org.apache.spark.sql.functions.col
    val spark = graft.Bench.session(cores.toString)
    try {
      import spark.implicits._
      def job(s: Double) = {
        val n = Synth.convsForSf(s)
        spark.range(0, n, 1, cores * 2)
          .flatMap(c => (0 until Synth.turnsPerConv(c)).iterator.map(t => Synth.makeTurn(c, t)))
          .map(t => graft.pipeline.Extract.extract(t.text).nBlocks.toLong)
          .agg(org.apache.spark.sql.functions.sum("value")).head
      }
      job(math.min(sf / 10, 0.01)) // warmup
      val t0 = System.nanoTime()
      job(sf)
      val n = Synth.turns(spark, sf, cores * 2).count()
      val secs = (System.nanoTime() - t0) / 1e9 // count() cost negligible vs extract
      (n, secs)
    } finally spark.stop()
  }

  /** Warmup (JIT + codegen) then measure, inside ONE session. */
  def run(cores: Int, sf: Double): (Long, Double) = {
    val spark = graft.Bench.session(cores.toString)
    try {
      // generous warmup: C2 needs thousands of per-turn iterations per thread
      ExtractJob.extractTurns(spark,
        Synth.turns(spark, math.max(0.02, sf / 5), cores * 4), cores * 4).count()
      graft.pipeline.Extract.clearMemo() // warmup must not seed the timed run
      // 4 tasks per core: short tail, straggler-resistant
      val turns = Synth.turns(spark, sf, cores * 4)
      val t0 = System.nanoTime()
      val n = ExtractJob.extractTurns(spark, turns, cores * 4).count()
      (n, (System.nanoTime() - t0) / 1e9)
    } finally spark.stop()
  }

  /** One measurement per JVM (repeated in-JVM sessions pollute the JIT code
    * cache / metaspace with stale codegen classes and skew timings badly —
    * observed 4x variance). Orchestrate N vs 4N via two invocations:
    *   runMain graft.jobs.ScalingBench <sf> <cores>
    * Each does an in-JVM warmup at small scale first (JIT), then measures. */
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(0.1)
    val cores = if (args.length > 1) args(1).toInt else 8
    val noShuffle = args.length > 2 && args(2) == "noshuffle"
    val (n, t) = if (noShuffle) runNoShuffle(cores, sf) else run(cores, sf)
    val tp = n / t
    println(f"""{"sf":$sf,"cores":$cores,"noshuffle":$noShuffle,"n_turns":$n,"secs":$t%.2f,"tps":$tp%.1f}""")
  }
}
