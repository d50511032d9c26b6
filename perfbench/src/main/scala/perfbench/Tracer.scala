package perfbench

import graft.table.TranscriptTable
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans (name, start, end, parent, run id), written out once when
  * the run ends. Times are epoch ms; nanoTime stamps are mapped onto them. */
final class Spans(runId: String) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[(Long, String, Double, Double, Long)]

  private def add0(name: String, s: Double, e: Double, parent: Long): Long = synchronized {
    buf += ((buf.size.toLong + 1, name, s, e, parent))
    buf.size.toLong
  }
  def add(name: String, startNs: Long, endNs: Long, parent: Long): Long =
    add0(name, baseMs + (startNs - baseNs) / 1e6, baseMs + (endNs - baseNs) / 1e6, parent)
  def addMs(name: String, startMs: Long, endMs: Long, parent: Long): Long =
    add0(name, startMs.toDouble, endMs.toDouble, parent)
  def setEnd(id: Long, endNs: Long): Unit = synchronized {
    val (i, n, s, _, p) = buf((id - 1).toInt)
    buf((id - 1).toInt) = (i, n, s, baseMs + (endNs - baseNs) / 1e6, p)
  }

  def write(path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val lines = buf.map { case (id, n, s, e, p) =>
      f"""{"id": $id, "name": "${n.replace("\"", "'")}", "start_ms": $s%.3f, "end_ms": $e%.3f, "parent": $p, "run": "$runId"}"""
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

/** The traced side of a run: registers a [[Recorder]] around every traced
  * `ExtractJob.run`, attributes each second of it to a phase, and after the
  * timed loop decomposes the kernel and replays the memo.
  *
  * Phase attribution rule. A job belongs to the SQL execution named by its
  * `spark.sql.execution.id`; the execution's call site (or, for a job outside
  * any execution, its stage's call site) names the program call:
  *   - `ExtractJob.commitStaged` (schema listing, lineage collect, lineage
  *     write): every stage is `lineage_rescan`;
  *   - `TranscriptTable.writeData`: a stage whose operation scopes include
  *     `WriteFiles` is `sort_write`; else one that scans parquet is
  *     `scan_salt`; else one running the extraction `MapPartitions` is
  *     `extract_map` when it writes shuffle output and `range_sample` (the
  *     range partitioner's sampling pass) when it does not;
  *   - anything else is unattributed and lowers `jobs.phase_coverage`.
  * Time inside `run` while no job is active is `driver_only`. A phase's wall
  * time is the union of its stages' intervals. */
final class Tracer(spark: SparkSession, o: Main.Opts, wl: Workload, ref: Reference,
    inputDir: String, tracePath: String) {

  private val Phases = Seq("scan_salt", "extract_map", "range_sample", "sort_write", "lineage_rescan")

  private val rec = new Recorder
  private val spans = new Spans(s"${o.workload}-seed${o.seed}")
  private val perRun = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val batchIntervals = mutable.ArrayBuffer.empty[Double]
  private var compiles0 = 0L
  private var poller: Thread = _
  @volatile private var polling = false
  @volatile private var seen = 0
  private val commits = mutable.ArrayBuffer.empty[Long]

  /** Called just before a traced `ExtractJob.run`. */
  def before(table: String): Unit = {
    rec.clear()
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    compiles0 = PerfbenchBus.codegen()._1
    commits.clear()
    polling = true
    // batch commits seen the way a reader sees them: committedBatches
    seen = 0
    poller = new Thread(() => {
      while (polling) {
        val n = TranscriptTable.committedBatches(table).size
        if (n > seen) { commits.synchronized { commits += System.nanoTime() }; seen = n }
        Thread.sleep(2)
      }
    })
    poller.setDaemon(true)
    poller.start()
  }

  /** Called right after it, before the output checks. */
  def after(table: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long): Unit = {
    polling = false
    poller.join()
    // a commit the poller had no time to see happened before `run` returned
    if (TranscriptTable.committedBatches(table).size > seen) commits += endNs
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
    val (cgCount, cgMean) = PerfbenchBus.codegen()
    val compiles = (cgCount - compiles0).toDouble
    val prev = commits.synchronized(startNs +: commits.toSeq)
    batchIntervals ++= prev.zip(prev.tail).map { case (a, b) => (b - a) / 1e9 }
    val (bytes, files) = Workload.files(s"$table/data")
    perRun += rec.synchronized(attribute(startNs, endNs, startMs, endMs)) ++ Map(
      "sql.codegen_compiles" -> compiles,
      "sql.codegen_compile_s" -> compiles * cgMean / 1e3,
      "table.bytes_per_turn" -> bytes.toDouble / ref.turns,
      "table.files_per_batch" -> files.toDouble / wl.nBatches)
  }

  private def unionMs(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Double = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    xs.foreach { case (a, b) =>
      if (open && a <= curE) curE = math.max(curE, b)
      else { if (open) total += curE - curS; curS = a; curE = b; open = true }
    }
    (if (open) total + curE - curS else total).toDouble
  }

  private def phaseOf(job: Recorder#Job, st: Recorder#Stage): Option[String] = {
    val site = rec.execSites.getOrElse(job.execId, st.details)
    if (site.contains("ExtractJob$.commitStaged")) Some("lineage_rescan")
    else if (site.contains("TranscriptTable$.writeData")) {
      if (st.scopes.contains("WriteFiles")) Some("sort_write")
      else if (st.scopes.exists(_.startsWith("Scan"))) Some("scan_salt")
      else if (st.scopes.contains("MapPartitions"))
        Some(if (st.shuffleWriteBytes > 0) "extract_map" else "range_sample")
      else None
    } else None
  }

  private def attribute(startNs: Long, endNs: Long, r0: Long, r1: Long): Map[String, Double] = {
    val runMs = math.max(1L, r1 - r0).toDouble
    val root = spans.add("run", startNs, endNs, 0L)
    val jobs = rec.jobs.values.toSeq
    val staged = for {
      j <- jobs
      id <- j.stageIds
      st <- rec.stages.get(id) if !st.skipped && st.submitted > 0
    } yield (j, st, phaseOf(j, st))
    jobs.foreach { j =>
      val js = spans.addMs(s"job ${j.id}", j.start, math.max(j.start, j.end), root)
      staged.filter(_._1 eq j).foreach { case (_, st, ph) =>
        spans.addMs(s"stage ${st.id} ${ph.getOrElse("unattributed")}", st.submitted, st.completed, js)
      }
    }
    // the recorder is cleared before and detached right after the run, so
    // every query it saw belongs to this run
    rec.qes.foreach { q =>
      q.phases.foreach { case (n, (s, e)) => spans.addMs(s"sql.$n ${q.funcName}", s, e, root) }
    }
    val byPhase = Phases.map(p => p -> staged.filter(_._3.contains(p)).map(_._2)).toMap
    def wall(p: String) = unionMs(byPhase(p).map(s => (s.submitted, s.completed)), r0, r1) / 1e3
    val driverOnly = (runMs - unionMs(jobs.map(j => (j.start, j.end)), r0, r1)) / 1e3
    val mapTasks = byPhase("extract_map").flatMap(_.taskMs).map(_.toDouble)
    val all = staged.map(_._2)
    val tasksBusy = unionMs(all.flatMap(_.taskSpans), r0, r1)
    val lineageReads = staged.filter(x => x._3.contains("lineage_rescan") && x._2.recordsIn > 0)
      .map(_._1.execId).distinct.size
    val qes = rec.qes
    val mapWall = wall("extract_map")
    Phases.map(p => s"jobs.$p.wall_s" -> wall(p)).toMap ++ Map(
      "jobs.extract_map.task_s" -> mapTasks.sum / 1e3,
      "jobs.driver_only_s" -> driverOnly,
      "jobs.phase_coverage" -> (Phases.map(wall).sum + driverOnly) / (runMs / 1e3),
      "jobs.spark_jobs_per_batch" -> jobs.size.toDouble / wl.nBatches,
      "jobs.stages_per_batch" -> all.size.toDouble / wl.nBatches,
      "jobs.task_skew" -> (if (mapTasks.isEmpty) 0.0 else mapTasks.max / math.max(1.0, Main.median(mapTasks))),
      "jobs.shuffle_write_mb" -> all.map(_.shuffleWriteBytes).sum / 1e6,
      "jobs.spill_mb" -> all.map(_.spillBytes).sum / 1e6,
      "jobs.input_reads_per_turn" -> byPhase("scan_salt").map(_.recordsIn).sum.toDouble / ref.turns,
      "jobs.map_passes_per_turn" ->
        (byPhase("extract_map") ++ byPhase("range_sample")).map(_.shuffleRecordsIn).sum.toDouble / ref.turns,
      "jobs.rescans_per_batch" -> lineageReads.toDouble / wl.nBatches,
      "jobs.map_turns_per_s" -> (if (mapWall > 0) ref.turns / mapWall else 0.0),
      "sql.analysis_s" -> qes.map(_.analysis).sum,
      "sql.optimization_s" -> qes.map(_.optimization).sum,
      "sql.planning_s" -> qes.map(_.planning).sum,
      "sql.exec_s" -> qes.map(_.execS).sum,
      "sql.jobs_per_query" -> jobs.count(_.execId >= 0).toDouble / math.max(1, qes.size),
      "sql.floor_share" -> (1.0 - tasksBusy / runMs))
  }

  /** Per-layer metrics: medians over the traced iterations, then the kernel
    * decomposition and memo replay, which run after the timed loop. */
  def report(tracedS: Seq[Double], tps: Double, steal: Double, busy: Double,
      jvm0: Host.Jvm, jvm1: Host.Jvm, timedIters: Int)
      : (Seq[(String, Double, String)], Int, Seq[String]) = {
    val med = perRun.head.keys.map(k => k -> Main.median(perRun.map(_(k)).toSeq)).toMap
    val input = spark.read.parquet(inputDir)
    // seeded sample of ~SampleTurns turns of this workload's input
    val every = math.max(1L, ref.turns / Tracer.SampleTurns)
    val sample = input.filter(pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(o.seed)),
      lit(every)) === 0).select("text").collect().map(_.getString(0)).toSeq
    val k0 = System.nanoTime()
    val kroot = spans.add("kernel", k0, k0, 0L)
    val kernel = Kernel.decompose(sample, Tracer.KernelPasses, spans, kroot)
    spans.setEnd(kroot, System.nanoTime())
    val memoHit = Kernel.memoHitRatio(
      input.select("text").toLocalIterator().asScala.map(_.getString(0)))
    val (querySecs, queryFailures) = queries()
    spans.write(tracePath)
    val serialRate = 1e6 / kernel("pipeline.extract_us")
    val mapRate = med("jobs.map_turns_per_s")
    val b = batchIntervals.toSeq
    val its = math.max(1, timedIters).toDouble
    val us = (Seq("pipeline.extract_us") ++ Kernel.Stages).map(k => (k, kernel(k), "us"))
    val s = "s"
    // per-iteration metrics, reported as their median over traced iterations
    def medians(ks: (String, String)*) = ks.map { case (k, u) => (k, med(k), u) }
    val metrics = medians(
      ("jobs.scan_salt.wall_s", s), ("jobs.extract_map.wall_s", s), ("jobs.extract_map.task_s", s),
      ("jobs.range_sample.wall_s", s), ("jobs.sort_write.wall_s", s),
      ("jobs.lineage_rescan.wall_s", s), ("jobs.driver_only_s", s),
      ("jobs.phase_coverage", "ratio"), ("jobs.spark_jobs_per_batch", "count"),
      ("jobs.stages_per_batch", "count"), ("jobs.task_skew", "ratio"),
      ("jobs.shuffle_write_mb", "MB"), ("jobs.spill_mb", "MB")) ++ Seq(
      ("jobs.batch_s.p50", Main.pct(b, 0.5), s),
      ("jobs.batch_s.p90", Main.pct(b, 0.9), s),
      ("jobs.batch_s.n", b.size.toDouble, "count"),
      ("jobs.map_parallel_eff", if (serialRate > 0) mapRate / (o.cpus * serialRate) else 0.0, "ratio")) ++
      medians(("jobs.input_reads_per_turn", "ratio"), ("jobs.map_passes_per_turn", "ratio"),
        ("jobs.rescans_per_batch", "ratio"), ("table.bytes_per_turn", "bytes/turn"),
        ("table.files_per_batch", "files/batch")) ++ Seq(
      ("pipeline.memo_hit_ratio", memoHit, "ratio")) ++ us ++ Seq(
      ("kernel.stage_coverage", kernel("kernel.stage_coverage"), "ratio"),
      ("kernel.sample_turns", sample.size.toDouble, "count")) ++ medians(("sql.analysis_s", s), ("sql.optimization_s", s), ("sql.planning_s", s),
      ("sql.codegen_compiles", "count"), ("sql.codegen_compile_s", s), ("sql.exec_s", s),
      ("sql.jobs_per_query", "count"), ("sql.floor_share", "ratio")) ++ Seq(
      ("jvm.gc_s", (jvm1.gcMs - jvm0.gcMs) / 1e3 / its, s),
      ("jvm.jit_s", (jvm1.jitMs - jvm0.jitMs) / 1e3 / its, s),
      ("jvm.classes_loaded", (jvm1.classes - jvm0.classes) / its, "count"),
      ("host.steal_pct", steal, "%"),
      ("host.busy_pct", busy, "%"),
      ("trace.overhead_ratio", (ref.turns / Main.median(tracedS)) / tps, "ratio"),
      ("query.group.extract_s", querySecs.sum, s),
      ("query.group.extract_n", querySecs.size.toDouble, "count"),
      ("trace.iterations", tracedS.size.toDouble, "count"))
    (metrics, Tracer.Queries.size, queryFailures)
  }

  /** The `query` layer: the declared queries that synthesize their own input
    * (they read no table files, only the scale in the directory name), in a
    * seeded order, each into a `noop` sink. The second of two runs is timed.
    * A query that throws or returns another row count than recorded is a
    * failure, never a timing. */
  private def queries(): (Seq[Double], Seq[String]) = {
    val dir = s"${o.work}/sf${Tracer.QuerySf}"
    val order = new scala.util.Random(o.seed).shuffle(Tracer.Queries.toSeq)
    val q0 = System.nanoTime()
    val root = spans.add("queries", q0, q0, 0L)
    val results = order.map { case (name, rows) =>
      try {
        val fn = graft.SparkEntry.queries(name)
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          val t1 = System.nanoTime()
          spans.add(s"query $name", t0, t1, root)
          (t1 - t0) / 1e9
        }
        val n = fn(spark, dir).count()
        (times.last, if (n == rows) None else Some(s"query $name: $n rows, recorded $rows"))
      } catch {
        case scala.util.control.NonFatal(e) => (0.0, Some(s"query $name: threw $e"))
      }
    }
    spans.setEnd(root, System.nanoTime())
    (results.filter(_._2.isEmpty).map(_._1), results.flatMap(_._2))
  }
}

object Tracer {
  val SampleTurns = 400L
  val KernelPasses = 2

  /** Scale the `query` layer runs at, and the declared queries of the
    * `extract` group (name prefixes `x_extract`, `x_blockify`, `x_turn`,
    * `x_author`, `x_media`) with their row counts at that scale. The other
    * groups (relational `q*`, dedup, retrieval, curate, table) read table
    * files that the benchmark does not generate. */
  val QuerySf = "0.001"
  val Queries: Map[String, Long] = Map(
    "x_extract_turns" -> 1059L,
    "x_blockify" -> 1059L,
    "x_turn_ordering" -> 40L,
    "x_author_names" -> 1059L,
    "x_media_features" -> 2000L)
}
