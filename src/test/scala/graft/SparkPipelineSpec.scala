package graft

import graft.jobs.{ExtractJob, Synth}
import graft.pipeline.Extract
import graft.table.{Lineage, LineageRow, TranscriptTable}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Encoders, Observation}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Tier-2/Tier-4 (SURVEY.md §5.2): distributed pipeline equality vs the
  * direct per-turn function, stable turn ordering, checkpoint/resume
  * idempotence, lineage completeness. */
class SparkPipelineSpec extends AnyFunSuite with SparkSuite {

  private def rmrf(p: String): Unit = graft.util.Fs.rmrf(p)

  test("synth generator is deterministic and long-tailed") {
    val a = Synth.turns(spark, 0.001, 4).collect().sortBy(r => (r.getString(0), r.getInt(1)))
    val b = Synth.turns(spark, 0.001, 8).collect().sortBy(r => (r.getString(0), r.getInt(1)))
    assert(a.length == b.length && a.length > 300)
    assert(a.zip(b).forall { case (x, y) => x == y }) // partition-count independent
    val sizes = a.groupBy(_.getString(0)).map(_._2.length)
    assert(sizes.max > 50, "needs a long tail for skew exercise") // skewed conv exists
  }

  test("distributed extraction equals direct per-turn function") {
    val turns = Synth.turns(spark, 0.001, 4)
    val dist = ExtractJob.extractTurns(spark, turns, 8)
      .collect()
      .map(e => (e.conv_id, e.turn_idx) -> e.ex)
      .toMap
    val local = turns.collect().map { r =>
      val key = (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))
      key -> Extract.extract(r.getAs[String]("text"))
    }.toMap
    assert(dist.keySet == local.keySet)
    var checked = 0
    local.foreach { case (k, ex) =>
      val d = dist(k)
      assert(d.content == ex.content, s"content mismatch at $k")
      assert(d.headline == ex.headline, s"headline at $k")
      assert(d.author == ex.author, s"author at $k")
      assert(d.title == ex.title, s"title at $k")
      assert(d.date == ex.date, s"date at $k")
      checked += 1
    }
    assert(checked > 300)
  }

  test("the kernel runs once per row: one extract_turn call in each extraction plan") {
    // the kernel is the one ScalaUDF that returns the Extracted struct; a
    // filter on ex.* pushed below its Project would copy the call
    val kernelType = Encoders.product[graft.pipeline.Extracted].schema.catalogString
    def kernelCalls(plan: LogicalPlan): Int = plan.collectWithSubqueries { case p =>
      p.expressions.map(_.collect {
        case u: ScalaUDF if u.dataType.catalogString == kernelType => u
      }.size).sum
    }.sum
    val dir = "/root/testdata/sf0.001"
    val turns = Synth.turns(spark, 0.001, 4)
    Seq(
      "x_extract_turns" -> SparkEntry.queries("x_extract_turns")(spark, dir),
      "x_author_names" -> SparkEntry.queries("x_author_names")(spark, dir),
      "SparkEntry.entry" -> SparkEntry.entry(spark),
      // Bench.extractionRun's form
      "extractTurns + filter" ->
        ExtractJob.extractTurns(spark, turns, 8).filter(col("ex.nBlocks") >= 0).toDF()
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      assert(kernelCalls(plan) == 1, s"$name:\n$plan")
    }
    // the production write: every batch has rows at sf0.001, so one write
    val out = "/tmp/graft_kernel_once"
    rmrf(out)
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.optimizedPlan
        if (plan.exists(_.isInstanceOf[DataWritingCommand])) counts.add(kernelCalls(plan))
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(counts.toArray.toSeq == Seq(1), s"kernel calls per write query: $counts")
    rmrf(out)
  }

  test("Udfs.register: the six SQL functions equal the direct Scala calls") {
    val in = getClass.getResourceAsStream("/extractnet-fixtures/models_testing.html")
    val html = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    graft.pipeline.Udfs.register(spark)
    val sp = spark; import sp.implicits._
    val byline = "By Jane Doe and John Smith, Staff Writers"
    Seq((html, byline)).toDF("text", "byline").createOrReplaceTempView("udf_page")
    def sql(expr: String) = spark.sql(s"SELECT $expr AS v FROM udf_page")
    assert(sql("extract_turn(text)").select("v.*").as[graft.pipeline.Extracted].head() ==
      Extract.extract(html))
    val blocks = graft.blocks.Blockifier.blockifyProduction(html)
    assert(sql("block_texts(text)").as[Seq[String]].head() == blocks.map(_.text))
    assert(sql("block_count(text)").as[Int].head() == blocks.length)
    val content = sql("extract_content(text)").as[String].head()
    assert(content == graft.model.NewsNet.predict(html).content.orNull)
    assert(content.startsWith("Making a photo slideshow with music"))
    assert(sql("extract_meta(text)").select("v.*").as[graft.meta.Meta].head() ==
      graft.meta.MetaExtract.extractMetadata(html))
    val authors = sql("author_names(byline)").as[Seq[String]].head()
    assert(authors == graft.meta.Authors.extract(byline) && authors.nonEmpty)
  }

  test("job writes ordered, resumable, lineage-bearing table") {
    val out = "/tmp/graft_test_table"
    rmrf(out)
    val turns = Synth.turns(spark, 0.001, 4)
    ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
    assert(TranscriptTable.committedBatches(out).length == 4)

    val read1 = TranscriptTable.read(spark, out)
    val n1 = read1.count()
    assert(n1 == turns.count())

    // layout contract: each conversation lives in exactly one file, its
    // turns ascending by row position inside that file
    val placed = read1.select(col("_metadata.file_path"), col("_metadata.row_index"),
      col("conv_id"), col("turn_idx")).collect().groupBy(_.getString(2))
    placed.foreach { case (conv, rows) =>
      assert(rows.map(_.getString(0)).distinct.length == 1, s"$conv spans files")
      val turnIdx = rows.sortBy(_.getLong(1)).map(_.getInt(3))
      assert(turnIdx.zip(turnIdx.drop(1)).forall { case (a, b) => a < b },
        s"$conv out of turn order in its file")
    }
    // turn_idx dense per conversation after read-back
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val violations = read1
      .withColumn("rn", row_number().over(w) - 1)
      .filter(col("rn") =!= col("turn_idx")).count()
    assert(violations == 0)

    // digest snapshot
    val digest1 = read1
      .agg(expr("bit_xor(xxhash64(conv_id, turn_idx, coalesce(ex.content,'')))")).head.getLong(0)

    // simulate crash: remove two manifests (their data may remain) -> resume
    Files.delete(TranscriptTable.manifestDir(out).resolve("manifest-b001.json"))
    Files.delete(TranscriptTable.manifestDir(out).resolve("manifest-b003.json"))
    assert(TranscriptTable.committedBatches(out).length == 2)
    ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
    assert(TranscriptTable.committedBatches(out).length == 4)
    val read2 = TranscriptTable.read(spark, out)
    assert(read2.count() == n1)
    val digest2 = read2
      .agg(expr("bit_xor(xxhash64(conv_id, turn_idx, coalesce(ex.content,'')))")).head.getLong(0)
    assert(digest1 == digest2, "resume must reproduce identical content")

    // re-run over a fully committed table is a no-op
    ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
    assert(TranscriptTable.read(spark, out).count() == n1)

    // lineage recorded in manifests
    val manifest = new String(Files.readAllBytes(
      TranscriptTable.manifestDir(out).resolve("manifest-b000.json")), "UTF-8")
    assert(manifest.contains("\"lineage\"") && manifest.contains("\"n_turns\""))

    // lineage rows from the manifests: per (batch, conv_bucket) counts sum
    // to the total
    val lin = TranscriptTable.readLineage(spark, out)
    assert(lin.columns.toSet == Set("conv_bucket", "n_turns", "n_blocks",
      "n_content_nonnull", "n_errors", "content_digest", "batch_id"))
    assert(lin.agg(sum("n_turns")).head.getLong(0) == n1)
    assert(lin.agg(sum("n_errors")).head.getLong(0) == 0)

    // manifest-only row count (no scan) and as-of snapshot read
    assert(TranscriptTable.committedRowCount(out) == n1)
    val asOf = TranscriptTable.readAsOf(spark, out, "b001").count()
    assert(asOf > 0 && asOf < n1)
    rmrf(out)
  }

  /** What a listener saw while `body` ran: Spark jobs started, records
    * read by scans, and the SQL executions whose tasks wrote output bytes. */
  private final class RunProbe extends SparkListener {
    val jobs = new AtomicInteger
    val recordsRead = new AtomicLong
    private val execOfStage = new ConcurrentHashMap[Int, Long]
    val writingExecs: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val exec = Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).fold(-1L)(_.toLong)
      j.stageIds.foreach(execOfStage.put(_, exec))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) {
        recordsRead.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
        if (t.taskMetrics.outputMetrics.bytesWritten > 0)
          writingExecs.add(execOfStage.getOrDefault(t.stageId, -1L))
      }
  }

  private def probed(body: => Unit): RunProbe = {
    val probe = new RunProbe
    spark.sparkContext.addSparkListener(probe)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(probe)
    probe
  }

  test("one run reads its input once and writes every pending batch in one query") {
    val src = "/tmp/graft_one_pass_src"
    val out = "/tmp/graft_one_pass_table"
    Seq(src, out).foreach(rmrf)
    Synth.turns(spark, 0.001, 4).write.parquet(src)
    val turns = spark.read.parquet(src)
    val n = turns.count()
    val first = probed(ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8))
    assert(TranscriptTable.committedBatches(out) == Seq("b000", "b001", "b002", "b003"))
    assert(TranscriptTable.committedRowCount(out) == n)
    assert(first.recordsRead.get == n, "the scans of one run read each input row once")
    assert(first.writingExecs.size == 1,
      s"one SQL execution writes every batch: ${first.writingExecs}")
    val rerun = probed(ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8))
    assert(rerun.jobs.get == 0, "a fully committed table starts no Spark job")
    Seq(src, out).foreach(rmrf)
  }

  test("run rejects a batch count outside 1 to Buckets before writing anything") {
    val out = "/tmp/graft_test_nbatches"
    rmrf(out)
    val turns = Synth.turns(spark, 0.001, 4)
    // unchecked, 0 divides by zero, -1 plans no batch and returns, and 65
    // commits batches b064… that no bucket can ever fill
    Seq(0, -1, ExtractJob.Buckets + 1).foreach { n =>
      val e = intercept[IllegalArgumentException] {
        ExtractJob.run(spark, turns, out, nBatches = n, saltPartitions = 8)
      }
      assert(e.getMessage.contains(s"[1, ${ExtractJob.Buckets}], got $n"), e.getMessage)
      assert(!Files.exists(Paths.get(out)), s"nBatches = $n wrote $out")
    }
  }

  test("every manifest file is the exact render of its parsed record") {
    // pins the on-disk layout: the bytes a run writes are what Manifest
    // renders, so readers that match the text (perfbench's lineage digest)
    // and the record agree
    val out = "/tmp/graft_manifest_golden"
    rmrf(out)
    ExtractJob.run(spark, Synth.turns(spark, 0.001, 4), out, nBatches = 4, saltPartitions = 8)
    val batches = TranscriptTable.committedBatches(out)
    assert(batches == Seq("b000", "b001", "b002", "b003"))
    batches.foreach { b =>
      val bytes = Files.readAllBytes(TranscriptTable.manifestDir(out).resolve(s"manifest-$b.json"))
      val m = graft.table.Manifest.parse(new String(bytes, "UTF-8"))
      assert(m.batchId == b && Seq("lineage", "n_turns", "schema").forall(m.entries.contains), b)
      assert(java.util.Arrays.equals(m.render.getBytes("UTF-8"), bytes), s"manifest of $b")
    }
    rmrf(out)
  }

  test("resume rewrites only the pending batches' directories") {
    val out = "/tmp/graft_resume_partitions"
    rmrf(out)
    val turns = Synth.turns(spark, 0.001, 4)
    ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
    def digest() = TranscriptTable.read(spark, out)
      .agg(expr("bit_xor(xxhash64(conv_id, turn_idx, coalesce(ex.content,'')))")).head.getLong(0)
    def listing(b: String): Map[String, Long] =
      Option(new java.io.File(TranscriptTable.dataDir(out, b)).listFiles())
        .fold(Map.empty[String, Long])(_.map(f => f.getName -> f.lastModified).toMap)
    val d1 = digest()
    val kept = Seq("b000", "b002").map(listing)
    Seq("b001", "b003").foreach(b =>
      Files.delete(TranscriptTable.manifestDir(out).resolve(s"manifest-$b.json")))
    val orphan = Paths.get(TranscriptTable.dataDir(out, "b003"), "part-orphan.parquet")
    Files.write(orphan, "left by a killed run".getBytes("UTF-8"))

    ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
    assert(Seq("b000", "b002").map(listing) == kept, "committed batches are never rewritten")
    assert(!Files.exists(orphan), "a pending batch's directory is replaced")
    TranscriptTable.committedBatches(out).foreach { b =>
      assert(TranscriptTable.batchFiles(out, b) ==
        listing(b).keys.filter(_.endsWith(".parquet")).toSeq.sorted, s"files of $b")
    }
    assert(digest() == d1, "resume must reproduce identical content")
    rmrf(out)
  }

  test("each write task writes one batch") {
    val out = "/tmp/graft_batch_aligned"
    val out64 = "/tmp/graft_batch_aligned_64"
    Seq(out, out64).foreach(rmrf)
    val turns = Synth.turns(spark, 0.001, 4)
    def parquet(table: String, b: String): Map[String, Long] =
      new java.io.File(TranscriptTable.dataDir(table, b)).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    def nFiles(table: String, b: String): Int = {
      val m = new String(Files.readAllBytes(
        TranscriptTable.manifestDir(table).resolve(s"manifest-$b.json")), "UTF-8")
      "\"n_files\": (\\d+)".r.findFirstMatchIn(m).get.group(1).toInt
    }
    // at most ceil(parts / pending) files per batch, all listed by the manifest
    def checkFiles(table: String, batches: Seq[String], most: Int): Unit = batches.foreach { b =>
      val n = parquet(table, b).size
      assert(n >= 1 && n <= most, s"$b has $n files, wants 1 to $most")
      assert(nFiles(table, b) == n, s"n_files of $b")
    }

    // 4 batches over 8 write tasks: 2 tasks, so at most 2 files, per batch
    ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
    checkFiles(out, Seq("b000", "b001", "b002", "b003"), 2)
    // a resume of 2 batches spreads each over 4 tasks; committed ones stay
    val kept = Seq("b000", "b002").map(parquet(out, _))
    Seq("b001", "b003").foreach(b =>
      Files.delete(TranscriptTable.manifestDir(out).resolve(s"manifest-$b.json")))
    ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
    assert(Seq("b000", "b002").map(parquet(out, _)) == kept, "committed batches are never rewritten")
    checkFiles(out, Seq("b001", "b003"), 4)

    // 64 batches over 8 parts: one task, so one file (empty or not), per batch
    ExtractJob.run(spark, turns, out64, nBatches = 64, saltPartitions = 8)
    checkFiles(out64, TranscriptTable.committedBatches(out64), 1)
    assert(TranscriptTable.committedBatches(out64).length == 64)
    Seq(out, out64).foreach(rmrf)
  }

  test("write routing: every task is used and holds rows of one batch") {
    // The routing is a plain column, checked here with no shuffle. The ids
    // are Synth's conversation ids at sf0.1 (4,000 conversations): sf0.001
    // has 40, fewer than the 128 tasks. With 4 batches each gets 32 tasks.
    // Spreading a batch by `pmod(xxhash64(conv_id), 32)` would fail this:
    // conv_bucket is `pmod(xxhash64(conv_id), 64)` and 32 divides 64, so
    // that spread is conv_bucket mod 32, and a batch's 16 buckets would
    // reach only 16 of its 32 tasks.
    val batches = (0 until 4).map(b => ExtractJob.Batch(f"b$b%03d", b * 16, (b + 1) * 16))
    val route = ExtractJob.writeRouting(batches, 128)
    assert(route.tasks == 128)
    val rows = spark.range(Synth.convsForSf(0.1))
      .select(format_string("conv-%08d", col("id")).as("conv_id"))
      .withColumn("conv_bucket", ExtractJob.bucketCol)
      .select(route.task, route.batch, col("conv_bucket"))
      .collect()
    val byTask = rows.groupBy(_.getInt(0))
    val unused = (0 until 128).filterNot(byTask.contains)
    assert(unused.isEmpty, s"tasks never used: $unused")
    byTask.foreach { case (task, rs) =>
      val owner = batches(task / 32)
      assert(rs.forall(r => r.getString(1) == owner.id && owner.buckets.contains(r.getInt(2))),
        s"task $task holds rows of a batch other than ${owner.id}")
    }
  }

  test("incremental pipeline: multi-batch ticks, warm store, replay no-op, first-write-wins") {
    val table = "/tmp/graft_inc_pipeline"
    val sigDir = "/tmp/graft_inc_pipeline_sigs"
    Seq(table, sigDir).foreach(rmrf)
    val sp = spark
    import sp.implicits._
    def enText(seed: Long): String = (0 until 60).map(i =>
      "the word" + graft.jobs.Synth.mix(seed * 97 + i).toHexString.take(3) +
        " of this and that for is").mkString(" ")
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    // tick 1: four distinct English docs
    graft.jobs.IncrementalPipeline.runBatch(spark,
      docs((1000L, enText(1)), (1001L, enText(2)), (1002L, enText(3)), (1003L, enText(4))),
      table, sigDir, "b001")
    assert(TranscriptTable.read(spark, table).count() == 4)
    // tick 2: exact dup of 1000, near-dup of 1001, fresh, junk
    graft.jobs.IncrementalPipeline.runBatch(spark,
      docs((2000L, enText(1)), (2001L, enText(2) + " with tail words"),
        (2002L, enText(5)), (2003L, "zz")),
      table, sigDir, "b002")
    val after2 = TranscriptTable.read(spark, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after2 == Set(1000L, 1001L, 1002L, 1003L, 2002L), after2.toString)
    // the store was re-pinned by tick 2 -> tick 3 takes the WARM path
    assert(graft.ops.StoreMeta.fresh(spark, sigDir, "minhash",
      graft.ops.StoreMeta.inputToken(
        TranscriptTable.read(spark, table).select("doc_id", "text"))),
      "store must be fresh for the next tick (warm path)")
    // replaying a committed tick is a no-op
    graft.jobs.IncrementalPipeline.runBatch(spark,
      docs((9999L, enText(99))), table, sigDir, "b002")
    assert(TranscriptTable.read(spark, table).count() == 5)
    // tick 3: near-dup of a TICK-2 survivor + fresh (first-write-wins
    // must apply against the evolving corpus, not just the seed batch)
    graft.jobs.IncrementalPipeline.runBatch(spark,
      docs((3000L, enText(5) + " trailing bits"), (3001L, enText(6))),
      table, sigDir, "b003")
    val fin = TranscriptTable.read(spark, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fin == Set(1000L, 1001L, 1002L, 1003L, 2002L, 3001L), fin.toString)
    // manifest-only accounting stayed exact across ticks
    assert(TranscriptTable.committedRowCount(table) == 6)
    Seq(table, sigDir).foreach(rmrf)
  }

  test("incremental pipeline with the Bloom gate: same answers, warm filter across ticks") {
    val table = "/tmp/graft_inc_pipeline_bl"
    val sigDir = "/tmp/graft_inc_pipeline_bl_sigs"
    val bloomDir = "/tmp/graft_inc_pipeline_bl_bloom"
    Seq(table, sigDir, bloomDir).foreach(rmrf)
    val sp = spark
    import sp.implicits._
    def enText(seed: Long): String = (0 until 60).map(i =>
      "the word" + graft.jobs.Synth.mix(seed * 97 + i).toHexString.take(3) +
        " of this and that for is").mkString(" ")
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    graft.jobs.IncrementalPipeline.runBatch(spark,
      docs((1000L, enText(1)), (1001L, enText(2)), (1002L, enText(3))),
      table, sigDir, "b001", bloomDir = bloomDir)
    // tick 1 built the filter over the committed table → tick 2 is warm
    val tok1 = graft.ops.StoreMeta.inputToken(
      TranscriptTable.read(spark, table).select("doc_id", "text"))
    assert(graft.ops.StoreMeta.fresh(spark, bloomDir, "bloom", tok1),
      "filter must be fresh for the next tick")

    // tick 2: exact dup (gated through the bloom path), near-dup, fresh
    graft.jobs.IncrementalPipeline.runBatch(spark,
      docs((2000L, enText(1)), (2001L, enText(2) + " with tail words"),
        (2002L, enText(5))),
      table, sigDir, "b002", bloomDir = bloomDir)
    val after2 = TranscriptTable.read(spark, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after2 == Set(1000L, 1001L, 1002L, 2002L), after2.toString)

    // the filter was APPENDED (not rebuilt) and re-pinned to the new table
    val tok2 = graft.ops.StoreMeta.inputToken(
      TranscriptTable.read(spark, table).select("doc_id", "text"))
    assert(graft.ops.StoreMeta.fresh(spark, bloomDir, "bloom", tok2))
    val (nKeys, _) = graft.ops.BloomDedup.bloomLoad(spark, bloomDir)
    assert(nKeys == 4L, s"3 seed keys + 1 tick-2 survivor, got $nKeys")

    // tick 3 against the evolving corpus: dup of a tick-2 survivor drops
    graft.jobs.IncrementalPipeline.runBatch(spark,
      docs((3000L, enText(5)), (3001L, enText(6))),
      table, sigDir, "b003", bloomDir = bloomDir)
    val fin = TranscriptTable.read(spark, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fin == Set(1000L, 1001L, 1002L, 2002L, 3001L), fin.toString)
    Seq(table, sigDir, bloomDir).foreach(rmrf)
  }

  test("incremental pipeline sketch store: appended per tick, merge == direct rebuild") {
    val table = "/tmp/graft_inc_pipeline_sk"
    val sigDir = "/tmp/graft_inc_pipeline_sk_sigs"
    val sketchDir = "/tmp/graft_inc_pipeline_sk_sketch"
    val postDir = "/tmp/graft_inc_pipeline_sk_postings"
    Seq(table, sigDir, sketchDir, postDir).foreach(rmrf)
    val sp = spark
    import sp.implicits._
    def enText(seed: Long): String = (0 until 60).map(i =>
      "the word" + graft.jobs.Synth.mix(seed * 97 + i).toHexString.take(3) +
        " of this and that for is").mkString(" ")
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    graft.jobs.IncrementalPipeline.runBatch(spark,
      docs((1L, enText(1)), (2L, enText(2))),
      table, sigDir, "b001", sketchDir = sketchDir, postingsDir = postDir)
    val hllFiles1 = new java.io.File(s"$sketchDir/hll")
      .listFiles.count(_.getName.endsWith(".parquet"))
    val postFiles1 = new java.io.File(s"$postDir/postings")
      .listFiles.count(_.getName.endsWith(".parquet"))
    graft.jobs.IncrementalPipeline.runBatch(spark,
      docs((3L, enText(3)), (4L, enText(4))),
      table, sigDir, "b002", sketchDir = sketchDir, postingsDir = postDir)
    // tick 2 APPENDED (files grew), and the store is pinned to the table
    val hllFiles2 = new java.io.File(s"$sketchDir/hll")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(hllFiles2 > hllFiles1, "tick 2 must append, not rebuild")
    val tok = graft.ops.StoreMeta.inputToken(
      TranscriptTable.read(spark, table).select("doc_id", "text"))
    assert(graft.ops.StoreMeta.fresh(spark, sketchDir, "sketches", tok))
    // read-side merge == direct sketches over the final table
    val corpus = TranscriptTable.read(spark, table).select("doc_id", "text")
      .withColumn("term",
        explode(expr("filter(split(lower(text), '\\\\W+'), x -> x != '')")))
      .select("term").localCheckpoint()
    val (hll, cms) = graft.ops.Sketches.readSketchStore(spark, sketchDir)
    val hllDirect = graft.ops.Sketches.hllSketch(corpus, "term")
    val cmsDirect = graft.ops.Sketches.cmsSketch(corpus, "term")
    assert(hll.except(hllDirect).isEmpty && hllDirect.except(hll).isEmpty)
    assert(cms.except(cmsDirect).isEmpty && cmsDirect.except(cms).isEmpty)
    // the DD doc-length leg rides the same append/merge contract
    val dd = graft.ops.Sketches.readDdStore(spark, sketchDir)
    val ddDirect = graft.ops.Sketches.ddSketch(
      TranscriptTable.read(spark, table).select(
        size(expr("filter(split(lower(text), '\\\\W+'), x -> x != '')"))
          .cast("long").as("dl")), "dl")
    assert(dd.except(ddDirect).isEmpty && ddDirect.except(dd).isEmpty)
    // the BM25 postings store rode the same ladder: tick 2 APPENDED and
    // store-backed retrieval equals an in-memory index over the table
    val postFiles2 = new java.io.File(s"$postDir/postings")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(postFiles2 > postFiles1, "postings tick 2 must append")
    assert(graft.ops.StoreMeta.fresh(spark, postDir, "bm25", tok))
    val q = Seq((1L, enText(1).split(" ").take(4).mkString(" ")))
      .toDF("query_id", "query_text")
    val fromStore = graft.ops.Bm25.topKStore(spark, postDir, q, k = 3)
    val direct = graft.ops.Bm25.topK(
      TranscriptTable.read(spark, table).select("doc_id", "text"), q, k = 3)
    assert(fromStore.exceptAll(direct).isEmpty &&
      direct.exceptAll(fromStore).isEmpty)
    Seq(table, sigDir, sketchDir, postDir).foreach(rmrf)
  }

  test("incremental pipeline cold path: a compacted table rebuilds all four stores, same answers") {
    val sp = spark
    import sp.implicits._
    import graft.ops.StoreMeta
    def enText(seed: Long): String = (0 until 60).map(i =>
      "the word" + graft.jobs.Synth.mix(seed * 97 + i).toHexString.take(3) +
        " of this and that for is").mkString(" ")
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val ticks = Seq(
      "b001" -> docs((1000L, enText(1)), (1001L, enText(2)), (1002L, enText(3)),
        (1003L, enText(4))),
      "b002" -> docs((2000L, enText(1)), (2001L, enText(2) + " with tail words"),
        (2002L, enText(5)), (2003L, "zz")),
      // near-dup of a tick-2 survivor, exact dup of a tick-1 doc, fresh
      "b003" -> docs((3000L, enText(5) + " trailing bits"), (3001L, enText(3)),
        (3002L, enText(6))))
    // (kind, dir) of the four stores the tick keeps under `root`
    def stores(root: String) = Seq("minhash" -> s"${root}_sigs",
      "bloom" -> s"${root}_bloom", "sketches" -> s"${root}_sketch",
      "bm25" -> s"${root}_postings")
    def tick(root: String, id: String, batch: org.apache.spark.sql.DataFrame): Unit = {
      val dirs = stores(root).map(_._2)
      graft.jobs.IncrementalPipeline.runBatch(spark, batch, root, dirs(0), id,
        bloomDir = dirs(1), sketchDir = dirs(2), postingsDir = dirs(3))
    }
    def token(root: String) =
      StoreMeta.inputToken(TranscriptTable.read(spark, root).select("doc_id", "text"))
    def dataFiles(dir: String): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
      walk(new java.io.File(dir)).toSet
    }
    def rows(root: String) = TranscriptTable.read(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    val ref = "/tmp/graft_inc_cold_ref"
    val cmp = "/tmp/graft_inc_cold_cmp"
    val all = Seq(ref, cmp).flatMap(r => r +: stores(r).map(_._2))
    all.foreach(rmrf)

    // reference: three ticks on an uncompacted table (tick 3 warm)
    ticks.foreach { case (id, batch) => tick(ref, id, batch) }
    // same ticks, with the two live batches compacted before tick 3
    ticks.take(2).foreach { case (id, batch) => tick(cmp, id, batch) }
    TranscriptTable.compact(spark, cmp, Seq("b001", "b002"), "b002c")
    assert(TranscriptTable.liveBatches(cmp) == Seq("b002c"))
    // the compaction moved the table token: every store reads stale, so
    // tick 3 curates on the direct path (no signature store, no Bloom gate)
    val moved = token(cmp)
    stores(cmp).foreach { case (kind, dir) =>
      assert(!StoreMeta.fresh(spark, dir, kind, moved), s"$kind must read stale")
    }
    val before = stores(cmp).map { case (_, dir) => dir -> dataFiles(dir) }.toMap
    tick(cmp, "b003", ticks(2)._2)

    assert(rows(cmp) == rows(ref), s"${rows(cmp).map(_._1)} vs ${rows(ref).map(_._1)}")
    assert(rows(cmp).map(_._1) == Set(1000L, 1001L, 1002L, 1003L, 2002L, 3002L))
    val after = token(cmp)
    stores(cmp).foreach { case (kind, dir) =>
      assert(StoreMeta.fresh(spark, dir, kind, after), s"$kind must be fresh")
      // rebuilt, not appended to: no data file from before tick 3 is left
      val kept = before(dir) intersect dataFiles(dir)
      assert(before(dir).nonEmpty && kept.isEmpty, s"$kind kept $kept")
    }
    // the rebuilt stores cover the six committed docs
    assert(graft.ops.Dedup.readSignatureStore(spark, stores(cmp)(0)._2).count() == 6)
    assert(graft.ops.BloomDedup.bloomLoad(spark, stores(cmp)(1)._2)._1 == 6L)
    assert(graft.ops.Bm25.readPostingsStore(spark, stores(cmp)(3)._2)._2._1 == 6L)
    all.foreach(rmrf)
  }

  test("schema evolution: added columns resolve from manifests, old rows read null") {
    // Iceberg-model evolution: each manifest records its batch schema;
    // readers plan the scan with the UNION resolved from manifests ALONE
    // (no data-file footer scan — the mergeSchema option reads every
    // footer, a job of its own at 100 TB). Adding columns is supported;
    // type changes are rejected with a clear error.
    val out = "/tmp/graft_schema_evo"
    rmrf(out)
    val sp = spark
    import sp.implicits._
    TranscriptTable.writeBatch(Seq((1L, "x"), (2L, "y")).toDF("id", "text"), out, "b000")
    TranscriptTable.writeBatch(Seq((3L, "z", "en")).toDF("id", "text", "lang"), out, "b001")
    val full = TranscriptTable.read(spark, out)
    assert(full.columns.toSeq == Seq("id", "text", "lang"))
    val rows = full.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(rows == Seq((1L, "x", None), (2L, "y", None), (3L, "z", Some("en"))))
    // time travel to BEFORE the column existed: the 2-column schema
    assert(TranscriptTable.readAsOf(spark, out, "b000").columns.toSeq == Seq("id", "text"))
    // compaction reads and carries the union — no silent column drop
    TranscriptTable.compact(spark, out, Seq("b000", "b001"), "b002")
    val comp = TranscriptTable.read(spark, out)
    assert(comp.columns.toSeq == Seq("id", "text", "lang"))
    assert(comp.count() == 3 && comp.filter(col("lang").isNotNull).count() == 1)
    // a type CHANGE is rejected AT COMMIT TIME (the Iceberg model): the
    // offending write fails; the table stays readable for everyone else
    val e = intercept[IllegalArgumentException] {
      TranscriptTable.writeBatch(Seq((4L, "w", 7)).toDF("id", "text", "lang"), out, "b003")
    }
    assert(e.getMessage.contains("ADDING columns only"), e.getMessage)
    assert(!TranscriptTable.isCommitted(out, "b003"), "bad batch must not commit")
    assert(TranscriptTable.read(spark, out).count() == 3, "table stays readable")
    rmrf(out)
  }

  test("schema evolution: nested nullability flags never fail the union") {
    // Two logically identical batches can differ ONLY in nested nullability:
    // a pre-write df.schema keeps containsNull as constructed (often false),
    // while a post-parquet-read schema has every nested field nullable.
    // commit records both in the relaxed form, so the union never fails on
    // them and a valid table stays readable.
    val out = "/tmp/graft_schema_nulls"
    rmrf(out)
    val sp = spark
    import sp.implicits._
    val strict = Seq((1L, Seq(1, 2))).toDF("id", "xs") // containsNull=false
    assert(!strict.schema("xs").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    TranscriptTable.writeBatch(strict, out, "b000")
    assert(TranscriptTable.manifestValue(out, "b000", "schema") ==
      Some(TranscriptTable.relaxNullable(strict.schema).json),
      "writeBatch must record the reader-side (relaxed) schema")
    // second batch: the SAME data committed via the staged path, whose
    // recorded schema is the post-parquet-read (relaxed) form
    TranscriptTable.writeData(Seq((2L, Seq(3))).toDF("id", "xs"), out, "b001")
    val reread = spark.read.parquet(TranscriptTable.dataDir(out, "b001"))
    assert(reread.schema("xs").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    TranscriptTable.commit(out, "b001", reread.schema)
    // both read paths and compaction plan with the relaxed union
    assert(TranscriptTable.read(spark, out).count() == 2)
    TranscriptTable.compact(spark, out, Seq("b000", "b001"), "b002")
    assert(TranscriptTable.read(spark, out).count() == 2)
    rmrf(out)
  }

  test("a manifest without a recorded schema fails reads, compaction and commits by name") {
    // every manifest the program writes records its batch schema, so one
    // without it came from outside: readers must name the batch, never
    // fall back to inferring the schema from data-file footers
    val out = "/tmp/graft_schema_missing"
    rmrf(out)
    val sp = spark
    import sp.implicits._
    TranscriptTable.writeBatch(Seq((1L, "x")).toDF("id", "text"), out, "b000")
    val mf = TranscriptTable.manifestDir(out).resolve("manifest-b000.json")
    val stripped = new String(Files.readAllBytes(mf), "UTF-8")
      .replaceAll(",\\n  \"schema\": \"[^\\n]*\"", "")
    assert(!stripped.contains("\"schema\"") && stripped.contains("\"files\""), stripped)
    Files.write(mf, stripped.getBytes("UTF-8"))
    def failsNaming(what: String)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("b000") && e.getMessage.contains(out),
        s"$what: ${e.getMessage}")
    }
    failsNaming("read")(TranscriptTable.read(spark, out))
    failsNaming("compact")(TranscriptTable.compact(spark, out, Seq("b000"), "c000"))
    failsNaming("writeBatch")(
      TranscriptTable.writeBatch(Seq((2L, "y")).toDF("id", "text"), out, "b001"))
    assert(TranscriptTable.committedBatches(out) == Seq("b000"))
    rmrf(out)
  }

  test("compaction: atomic supersede, resume stays idempotent, vacuum reclaims") {
    val out = "/tmp/graft_test_compact"
    rmrf(out)
    val turns = Synth.turns(spark, 0.001, 4)
    ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
    val n1 = TranscriptTable.read(spark, out).count()
    def digest() = TranscriptTable.read(spark, out)
      .agg(expr("bit_xor(xxhash64(conv_id, turn_idx, coalesce(ex.content,'')))"))
      .head.getLong(0)
    val d1 = digest()
    def dataFiles() = TranscriptTable.liveBatches(out).map { b =>
      new java.io.File(TranscriptTable.dataDir(out, b))
        .listFiles().count(_.getName.endsWith(".parquet"))
    }.sum
    val files1 = dataFiles()
    val sp = spark; import sp.implicits._
    val replaced = Set("b000", "b001", "b002")
    val linBefore = TranscriptTable.readLineage(spark, out).as[LineageRow]
      .collect().filter(r => replaced(r.batch_id))

    // compact the first three batches into one file
    TranscriptTable.compact(spark, out, replaced.toSeq.sorted, "c000")
    assert(TranscriptTable.liveBatches(out) == Seq("b003", "c000"))
    assert(TranscriptTable.committedBatches(out).length == 5) // manifests stay
    assert(TranscriptTable.read(spark, out).count() == n1)
    assert(digest() == d1, "compaction must not change content")
    assert(dataFiles() < files1, s"expected fewer files than $files1")
    // manifest-only row count is stable (compaction manifest carries the sum)
    assert(TranscriptTable.committedRowCount(out) == n1)
    // lineage still sums to the total through the carried batch
    assert(TranscriptTable.readLineage(spark, out)
      .agg(sum("n_turns")).head.getLong(0) == n1)
    // the compaction manifest's lineage is the per-bucket merge of the
    // replaced batches' lineage: counts add, digests XOR
    val merged = linBefore.groupBy(_.conv_bucket).toSeq.map { case (b, rs) =>
      LineageRow(b, rs.map(_.n_turns).sum, rs.map(_.n_blocks).sum,
        rs.map(_.n_content_nonnull).sum, rs.map(_.n_errors).sum,
        rs.map(_.content_digest).reduce(_ ^ _), "c000")
    }.sortBy(_.conv_bucket)
    assert(TranscriptTable.readLineage(spark, out).as[LineageRow].collect()
      .filter(_.batch_id == "c000").sortBy(_.conv_bucket).toSeq == merged)
    // the live manifests' digests (field 2) still cover every row
    val manifestDigest = TranscriptTable.liveBatches(out)
      .flatMap(TranscriptTable.manifestValue(out, _, "lineage"))
      .flatMap(_.split(';').filter(_.nonEmpty).map(_.split(':')(2).toLong))
      .foldLeft(0L)(_ ^ _)
    assert(manifestDigest == d1, "live manifest lineage digest")
    assert(!Files.exists(Paths.get(out, "_lineage")), "lineage lives in the manifests")

    // resume stays idempotent: replaced ids still read as committed, so a
    // re-run of the producer does not resurrect their data
    assert(TranscriptTable.isCommitted(out, "b001"))
    ExtractJob.run(spark, turns, out, nBatches = 4, saltPartitions = 8)
    assert(TranscriptTable.read(spark, out).count() == n1)

    // pre-compaction time travel still works until vacuum
    assert(TranscriptTable.readAsOf(spark, out, "b001").count() > 0)
    assert(TranscriptTable.liveBatches(out, "b001") == Seq("b000", "b001"))

    // double compaction of the same ids is rejected
    intercept[IllegalArgumentException] {
      TranscriptTable.compact(spark, out, Seq("b000"), "c001")
    }

    TranscriptTable.vacuum(out)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(TranscriptTable.dataDir(out, "b000"))))
    assert(TranscriptTable.read(spark, out).count() == n1)
    assert(digest() == d1, "post-vacuum snapshot unchanged")

    // a compaction id must sort AFTER the batches it replaces, or asOf
    // snapshots between them would double-read
    intercept[IllegalArgumentException] {
      TranscriptTable.compact(spark, out, Seq("b003"), "a000")
    }
    rmrf(out)
  }

  test("manifest commit is CAS: two racing writers -> one winner, clean loser") {
    val out = "/tmp/graft_test_race"
    rmrf(out)
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    TranscriptTable.writeData(df, out, "b000") // staged, uncommitted
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        barrier.await()
        try {
          TranscriptTable.commit(out, "b000", df.schema, Map("writer" -> i.toString))
          results.add(s"ok-$i")
        } catch {
          case _: IllegalStateException => results.add(s"lost-$i")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val rs = results.toArray.map(_.toString).toSeq
    assert(rs.count(_.startsWith("ok")) == 1, rs.toString)
    assert(rs.count(_.startsWith("lost")) == 1, rs.toString)
    // exactly one manifest, fully parseable, no tmp litter
    assert(TranscriptTable.committedBatches(out) == Seq("b000"))
    val mdir = TranscriptTable.manifestDir(out).toFile
    assert(mdir.listFiles().count(_.getName.endsWith(".tmp")) == 0)
    val manifest = new String(Files.readAllBytes(
      TranscriptTable.manifestDir(out).resolve("manifest-b000.json")), "UTF-8")
    assert(manifest.contains("\"batch_id\": \"b000\"") && manifest.endsWith("}\n"))
    assert(TranscriptTable.read(spark, out).count() == 2)
    rmrf(out)
  }

  test("pivot: conditional-aggregate form equals Dataset.pivot with one fewer shuffle") {
    // q20's known-vocabulary pivot is written as conditional aggregates;
    // this pins (a) result equality with the built-in pivot operator and
    // (b) the plan advantage that justifies the choice: pivot() compiles
    // to TWO hash-partitioning exchanges (pre-aggregate on (user, type),
    // re-shuffle on user for PivotFirst), the conditional form to ONE
    val dir = "/root/testdata/sf0.001"
    val types = Seq("click", "error", "purchase", "signup", "view")
    val q20 = SparkEntry.queries("q20_pivot")(spark, dir)
    val piv = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy("user_id")
    assert(q20.collect().toSeq == piv.collect().toSeq)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "hashpartitioning".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val (sCond, sPivot) = (shuffles(q20), shuffles(piv))
    assert(sCond < sPivot, s"conditional=$sCond pivot=$sPivot")
  }

  test("catalyst plan quality: pruning, pushdown, broadcast join") {
    val dir = "/root/testdata/sf0.001"
    // column pruning reaches the parquet scan
    val q7 = SparkEntry.queries("q7_doc_stats")(spark, dir)
    val q7plan = q7.queryExecution.executedPlan.toString
    assert(q7plan.contains("ReadSchema"), q7plan.take(800))
    assert(!q7plan.substring(q7plan.indexOf("ReadSchema")).contains("n_chars"),
      "n_chars must be pruned from the scan:\n" + q7plan.take(800))
    // q1_pricing's scan reads its four columns only
    val q1plan = SparkEntry.queries("q1_pricing")(spark, dir).queryExecution.executedPlan.toString
    assert(q1plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_returnflag:string,l_linestatus:string>"), q1plan.take(1500))
    // predicate pushdown
    val filtered = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") === 42L).select("l_quantity")
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"),
      "filter must push to parquet:\n" + fplan.take(800))
    // broadcast join strategy picked for small dim
    val q3plan = SparkEntry.queries("q3_cust_orders")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(q3plan.contains("BroadcastHashJoin"), q3plan.take(800))
    // extraction job shuffles exactly where designed: one exchange for the
    // salt repartition in the map stage
    val turns = Synth.turns(spark, 0.001, 4)
    val explan = ExtractJob.extractTurns(spark, turns, 8)
      .queryExecution.executedPlan.toString
    assert(explan.contains("Exchange hashpartitioning(xxhash64"),
      "salt shuffle must hash on xxhash64(conv_id, turn_idx)")
  }

  test("custom catalyst expression: ws_token_count codegen matches udf") {
    import graft.ops.WsTokenCount
    WsTokenCount.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaExpr = docs.selectExpr("doc_id", "ws_token_count(text) as n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaScala = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split("[ \t\n\r\f]+").count(_.nonEmpty)).toMap
    assert(viaExpr == viaScala)
    // codegen actually happens (not fallback): plan contains the project
    val plan = docs.selectExpr("ws_token_count(text)").queryExecution.executedPlan.toString
    assert(plan.contains("ws_token_count") || plan.contains("WsTokenCount"))
  }

  test("salting balances the skewed long-tail conversation across tasks") {
    // north rule: one 500-turn conversation must not pin a single task.
    // After the salt shuffle, per-partition row counts should be near-uniform.
    val turns = Synth.turns(spark, 0.001, 4)
    val parts = 16
    val sizes = turns
      .repartition(parts, xxhash64(col("conv_id"), col("turn_idx")))
      .groupBy(spark_partition_id().as("pid")).count()
      .collect().map(_.getLong(1))
    assert(sizes.length == parts)
    val mean = sizes.sum.toDouble / sizes.length
    assert(sizes.max < mean * 1.5 && sizes.min > mean * 0.5,
      s"salted partitions skewed: ${sizes.mkString(",")}")
    // contrast: partitioning by conv_id alone leaves a fat partition
    val unsalted = turns.repartition(parts, col("conv_id"))
      .groupBy(spark_partition_id()).count().collect().map(_.getLong(1))
    assert(unsalted.max > sizes.max, "salt should strictly improve balance")
  }

  test("spark session extensions register native functions") {
    // GraftExtensions is wired via spark.sql.extensions on real clusters;
    // here we invoke it against the session's extension injection directly
    val sql = "SELECT ws_token_count('a b  c') AS n"
    graft.ops.WsTokenCount.register(spark)
    assert(spark.sql(sql).head.getInt(0) == 3)
    // the 64-bit hash expressions: SQL registration + exact equality with
    // the function-API kernels (one kernel, two entries — by construction,
    // but pinned here against accidental divergence)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => graft.ops.SimHash64(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fingerprint64", exprs => graft.ops.Fingerprint64(exprs.head), "scala_udf")
    val t = "the quick brown fox, The QUICK brown fox"
    assert(spark.sql(s"SELECT simhash64('$t') AS h").head.getLong(0) ==
      graft.ops.Dedup.simhash(t))
    assert(spark.sql(s"SELECT fingerprint64('$t') AS h").head.getLong(0) ==
      graft.ops.TextAnalysis.fingerprint(t))
    // codegen path evaluates over a real column scan too
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    val viaExpr = docs.select(col("doc_id"),
      graft.ops.HashExprs.simhash64(col("text")).as("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaFn = docs.collect()
      .map(r => (r.getAs[Long]("doc_id"), graft.ops.Dedup.simhash(r.getAs[String]("text")))).toMap
    assert(viaExpr == viaFn)
    // cosine_sim from SQL (the fourth injected native function)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => graft.ops.CosineSim(exprs.head, exprs(1)), "scala_udf")
    val c = spark.sql(
      "SELECT cosine_sim(array(cast(3.0 as float), cast(4.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS c").head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12, c.toString)
    // non-string arguments are rejected at ANALYSIS time (clear error),
    // matching built-in expression behavior — not a codegen ClassCastException
    for (bad <- Seq("SELECT simhash64(123)", "SELECT fingerprint64(array(1,2))",
        "SELECT ws_token_count(123)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] { spark.sql(bad).collect() }
      assert(e.getMessage.contains("requires a string argument"), s"$bad -> ${e.getMessage}")
    }
  }

  test("production lineage digest merges across partitions") {
    // the observed lineage aggregate's per-bucket counts and XOR digest
    // must not depend on how the observed rows are partitioned
    val sp = spark; import sp.implicits._
    val rows = (0 until 1000).map(i =>
      (s"c${i % 7}", i, i % 5, if (i % 3 == 0) null else s"content$i"))
    def lineageAt(parts: Int) = {
      val batch = rows.toDF("conv_id", "turn_idx", "n_blocks", "content")
        .repartition(parts)
        .select(col("conv_id"), col("turn_idx"),
          ExtractJob.bucketCol.as("conv_bucket"),
          struct(col("n_blocks").as("nBlocks"), col("content"),
            lit(null).cast("string").as("error")).as("ex"))
      val obs = Observation()
      batch.observe(obs, ExtractJob.lineageColumn).write.format("noop").mode("overwrite").save()
      ExtractJob.observedLineage(obs).grouped(Lineage.Slots).toSeq
    }
    val l1 = lineageAt(1)
    assert(l1 == lineageAt(8), "digest must be partitioning-independent")
    assert(l1.map(_(0)).sum == 1000)
    assert(l1.map(_(1)).sum == rows.map(_._3.toLong).sum)
    assert(l1.map(_(2)).sum == rows.count(_._4 != null))
    assert(l1.map(_(3)).sum == 0)
    assert(l1.exists(_(4) != 0L))
  }

  test("manifest lineage entries merge bucket by bucket") {
    // field order: bucket, n_turns, content_digest, n_blocks,
    // n_content_nonnull, n_errors; a bucket present in both entries adds
    // its counts and XORs its digest, the others pass through
    val a = "3:10:5:20:9:1;7:2:6:4:2:0"
    val b = "3:1:12:2:1:0;9:4:-1:8:4:1"
    assert(Lineage.mergeEntries(Seq(a, b)) == "3:11:9:22:10:1;7:2:6:4:2:0;9:4:-1:8:4:1")
    assert(Lineage.encode(Lineage.decode(b)) == b)
    assert(Lineage.rows("x", a) == Seq(LineageRow(3, 10, 20, 9, 1, 5, "x"),
      LineageRow(7, 2, 4, 2, 0, 6, "x")))
    assert(Lineage.encode(Lineage.decode("")) == "" && Lineage.mergeEntries(Seq("", "")) == "")
  }

  test("observed lineage equals a rescan of the written batches") {
    // the lineage each write job observes must be what a rescan of its
    // files computes with the SQL aggregate: same readLineage rows,
    // manifest lineage entry, n_turns and schema. 64 batches at sf0.001
    // leave many empty; a planted empty page fails blockify and must count
    // as an error.
    val out = "/tmp/graft_observed_lineage"
    rmrf(out)
    val sp = spark; import sp.implicits._
    val synth = Synth.turns(spark, 0.001, 4)
    val planted = Seq(("planted-error", 0, "user", "", "none", new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val turns = synth.unionByName(planted)
    // bounded: an observation that never arrives fails instead of hanging
    Await.result(Future(ExtractJob.run(spark, turns, out, nBatches = 64, saltPartitions = 8))(
      ExecutionContext.global), 5.minutes)
    val batches = TranscriptTable.committedBatches(out)
    assert(batches.length == 64)
    val lineage = TranscriptTable.readLineage(spark, out).as[LineageRow]
      .collect().groupBy(_.batch_id)
    val perBatch = batches.map { b =>
      val written = spark.read.parquet(TranscriptTable.dataDir(out, b))
      val want = written.groupBy(col("conv_bucket"))
        .agg(
          count(lit(1)).as("n_turns"),
          sum(col("ex.nBlocks")).as("n_blocks"),
          count(col("ex.content")).as("n_content_nonnull"),
          count(col("ex.error")).as("n_errors"),
          expr("bit_xor(xxhash64(conv_id, turn_idx, coalesce(ex.content, '')))").as("content_digest"))
        .withColumn("batch_id", lit(b))
        .as[LineageRow].collect().sortBy(_.conv_bucket).toSeq
      val got = lineage.getOrElse(b, Array.empty[LineageRow]).sortBy(_.conv_bucket).toSeq
      assert(got == want, s"readLineage rows of $b")
      def manifest(k: String) = TranscriptTable.manifestValue(out, b, k)
      assert(manifest("lineage").contains(want.map(r =>
        s"${r.conv_bucket}:${r.n_turns}:${r.content_digest}:${r.n_blocks}:" +
          s"${r.n_content_nonnull}:${r.n_errors}").mkString(";")), b)
      assert(manifest("n_turns").contains(want.map(_.n_turns).sum.toString), b)
      assert(manifest("schema").contains(written.schema.json), s"schema of $b")
      want
    }
    assert(perBatch.count(_.isEmpty) > 0, "64 batches at sf0.001 must include empty ones")
    assert(perBatch.flatten.map(_.n_turns).sum == turns.count())
    assert(perBatch.flatten.map(_.n_errors).sum == 1, "the planted error turn")
    rmrf(out)
  }

  test("set ops: anti-join fixture diff finds no drift") {
    // the Tier-2 fixture-diff primitive (SURVEY.md §2.9 set ops): extracted
    // output vs golden join on (conv_id, turn_idx) -> left_anti must be empty
    val turns = Synth.turns(spark, 0.001, 4).limit(200).cache()
    val out = ExtractJob.extractTurns(spark, turns, 4)
      .select(col("conv_id"), col("turn_idx"),
        coalesce(col("ex.content"), lit("")).as("content")) // equi-join null semantics
    val golden = out.collect() // golden := current output (self-diff)
    val goldenDf = spark.createDataFrame(
      java.util.Arrays.asList(golden: _*), out.schema)
    val drift = out.join(broadcast(goldenDf), Seq("conv_id", "turn_idx", "content"), "left_anti")
    assert(drift.count() == 0)
    turns.unpersist()
  }

  test("frozen per-turn digests over the full sf0.001 table") {
    // Tier-2 per-turn text-equality oracle (FIXTURES.md §3.2): one digest per
    // turn over every extracted text field, frozen at round 1. Any semantic
    // drift in parser/features/model/meta rules fails here turn-by-turn.
    val turns = Synth.turns(spark, 0.001, 4).collect()
      .sortBy(r => (r.getString(0), r.getInt(1)))
    val lines = turns.map { r =>
      val ex = Extract.extract(r.getAs[String]("text"))
      val payload = Seq(ex.content, ex.headline, ex.author, ex.rawAuthor,
        ex.title, ex.url, ex.hostname, ex.sitename, ex.description,
        String.valueOf(ex.date), ex.video,
        Option(ex.breadcrumbs).map(_.mkString(";")).orNull,
        Option(ex.categories).map(_.mkString(";")).orNull,
        ex.nBlocks.toString).map(String.valueOf).mkString("")
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(payload.getBytes("UTF-8")).take(8)
        .map(b => f"$b%02x").mkString
      s"${r.getString(0)}\t${r.getInt(1)}\t$d"
    }
    val goldenPath = Paths.get("src/test/resources/turn_digests_sf0001.tsv")
    if (!Files.exists(goldenPath)) {
      Files.write(goldenPath, lines.mkString("\n").getBytes("UTF-8"))
      info(s"frozen ${lines.length} per-turn digests")
    } else {
      val frozen = new String(Files.readAllBytes(goldenPath), "UTF-8").split("\n")
      assert(lines.length == frozen.length)
      var bad = 0
      lines.zip(frozen).foreach { case (a, b) => if (a != b) { bad += 1
        if (bad <= 3) info(s"drift: $a vs $b") } }
      assert(bad == 0, s"$bad/${lines.length} turns drifted from frozen goldens")
    }
  }

  test("frozen extraction goldens (drift guard)") {
    // Golden digests frozen from the validated implementation (round 1).
    // If a refactor changes ANY extracted content/title for these pinned
    // turns, this fails — the per-turn text-equality contract.
    val picks = Seq(("conv-00000000", 0), ("conv-00000000", 1), ("conv-00000002", 0),
      ("conv-00000003", 1), ("conv-00000019", 3))
    val got = picks.map { case (c, t) =>
      val turn = Synth.makeTurn(c.stripPrefix("conv-").toLong, t)
      val ex = Extract.extract(turn.text)
      val s = Seq(ex.content, ex.headline, ex.title, ex.author, ex.url,
        String.valueOf(ex.date), ex.video).map(String.valueOf).mkString("|")
      java.lang.Long.toHexString(graft.jobs.Synth.mix(s.hashCode.toLong))
    }
    val goldenPath = Paths.get("src/test/resources/extraction_goldens.txt")
    if (!Files.exists(goldenPath)) {
      Files.write(goldenPath, got.mkString("\n").getBytes("UTF-8"))
      info("goldens frozen: " + got.mkString(","))
    } else {
      val frozen = new String(Files.readAllBytes(goldenPath), "UTF-8").split("\n").toSeq
      assert(got == frozen, "extraction output drifted from frozen goldens")
    }
  }
}
