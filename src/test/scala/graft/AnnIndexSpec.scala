package graft

import graft.ops.{AnnIndex, Similarity}
import org.scalatest.funsuite.AnyFunSuite

/** The persisted ANN index must (a) agree exactly with the ad-hoc
  * lshTopK/ivfTopK scan forms, and (b) prove partition pruning: the probe's
  * scan must carry the bucket predicate as a PartitionFilter and touch only
  * the probed bucket directories — the property that makes it an index at
  * 100 TB rather than a full scan per query. */
class AnnIndexSpec extends AnyFunSuite with SparkSuite {

  private val tmp = java.nio.file.Files.createTempDirectory("graft_annidx").toString

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def queryVec = emb.orderBy("vec_id").select("embedding").head
    .getSeq[Float](0).toArray

  test("lsh index probe agrees exactly with the ad-hoc lshTopK scan") {
    val dir = s"$tmp/lsh"
    AnnIndex.buildLsh(emb, dir, nBits = 8)
    val q = queryVec
    val probe = AnnIndex.probeLsh(spark, dir, q, 50, probeHamming = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val adhoc = Similarity.lshTopK(emb, q, 50, nBits = 8, probeHamming = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(probe == adhoc)
    assert(probe.nonEmpty && math.abs(probe.head._3 - 1.0) < 1e-9)
  }

  test("lsh probe plan prunes partitions: bucket predicate is a PartitionFilter") {
    val dir = s"$tmp/lsh2"
    AnnIndex.buildLsh(emb, dir, nBits = 8)
    val probe = AnnIndex.probeLsh(spark, dir, queryVec, 10, probeHamming = 1)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("srp_bucket"), pf)
    // the scan must list only probed bucket directories, not all of them
    val allBuckets = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("srp_bucket="))
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount }
    assert(scanned.isDefined)
    assert(scanned.get < allBuckets,
      s"probe scanned ${scanned.get} of $allBuckets buckets — no pruning")
    // nBits=8, probeHamming=1 → at most 9 of the populated buckets
    assert(scanned.get <= 9, s"scanned=${scanned.get}")
  }

  test("ivf index probe agrees exactly with the ad-hoc ivfTopK scan") {
    val dir = s"$tmp/ivf"
    AnnIndex.buildIvf(emb, dir, nCells = 16)
    val q = queryVec
    val probe = AnnIndex.probeIvf(spark, dir, q, 20, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val adhoc = Similarity.ivfTopK(emb, q, 20, nCells = 16, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(probe == adhoc)
  }

  test("ivf probe prunes to nProbe cells") {
    val dir = s"$tmp/ivf2"
    AnnIndex.buildIvf(emb, dir, nCells = 16)
    val probe = AnnIndex.probeIvf(spark, dir, queryVec, 10, nProbe = 4)
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount }
    assert(scanned.isDefined && scanned.get <= 4, s"scanned=$scanned")
  }

  test("fresh rebuild check runs ZERO Spark jobs — freshness reads metadata, not data") {
    val dir = s"$tmp/fresh"
    val e = emb // one reader; re-calling spark.read.parquet re-infers schema
    AnnIndex.buildLsh(e, dir, nBits = 8) // cold build (runs jobs)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      AnnIndex.buildLsh(e, dir, nBits = 8) // up-to-date: must be a no-op
      Thread.sleep(1000) // listener bus is async; drain before asserting
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0,
      s"fresh buildLsh ran ${jobs.get()} Spark job(s) — the freshness check is scanning data")
    // and the probe plan itself contains exactly ONE scan: the pruned probe
    val probe = AnnIndex.probeLsh(spark, dir, queryVec, 10, probeHamming = 1)
    val scans = probe.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.length == 1, s"probe plan has ${scans.length} scans")
  }

  test("stale index (changed input files) rebuilds; same files do not") {
    val src = s"$tmp/emb_copy"
    emb.write.mode("overwrite").parquet(src)
    val dir = s"$tmp/stale"
    val e1 = spark.read.parquet(src)
    AnnIndex.buildLsh(e1, dir, nBits = 8)
    val metaFile = new java.io.File(s"$dir/_graft_meta/meta.properties")
    val t1 = metaFile.lastModified()
    Thread.sleep(1100) // fs mtime granularity
    AnnIndex.buildLsh(spark.read.parquet(src), dir, nBits = 8) // fresh: no-op
    assert(metaFile.lastModified() == t1)
    emb.limit(30).write.mode("overwrite").parquet(src) // content change
    AnnIndex.buildLsh(spark.read.parquet(src), dir, nBits = 8) // stale: rebuilds
    assert(metaFile.lastModified() > t1)
    assert(spark.read.parquet(dir).count() == 30)
  }

  test("adaptive probe radius fills k on small tables and matches brute force") {
    val dir = s"$tmp/adaptive"
    AnnIndex.buildLsh(emb, dir, nBits = 8)
    val k = 20
    val probed = AnnIndex.probeLsh(spark, dir, queryVec, k).collect()
      .map(_.getLong(0)).toSeq
    assert(probed.length == k, s"adaptive probe returned ${probed.length} of $k")
    val brute = Similarity.bruteForceTopK(emb, queryVec, k).collect()
      .map(_.getLong(0)).toSet
    val overlap = probed.count(brute.contains).toDouble / k
    assert(overlap >= 0.6, s"recall floor: overlap=$overlap")
  }

  test("ivf adaptive nProbe fills k on small tables") {
    val dir = s"$tmp/ivf_adaptive"
    AnnIndex.buildIvf(emb, dir, nCells = 16)
    val k = 20
    val hits = AnnIndex.probeIvf(spark, dir, queryVec, k).collect()
    assert(hits.length == k, s"adaptive probeIvf returned ${hits.length} of $k")
    val brute = Similarity.bruteForceTopK(emb, queryVec, k).collect()
      .map(_.getLong(0)).toSet
    val overlap = hits.map(_.getLong(0)).count(brute.contains).toDouble / k
    assert(overlap >= 0.6, s"recall floor: overlap=$overlap")
  }

  test("empty embeddings: build commits an empty index, probe returns 0 rows") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val dir = s"$tmp/empty"
    AnnIndex.buildLsh(empty, dir, nBits = 8) // must not throw
    assert(AnnIndex.probeLsh(spark, dir, new Array[Float](8), 5).count() == 0L)
  }

  test("appendLsh: incremental append == full rebuild over the union") {
    // ongoing-ingestion maintenance: appending a batch must leave an index
    // whose every probe answers EXACTLY like a fresh build over the union
    // (same hyperplanes -> same buckets -> same pruned scan + top-k)
    val half1 = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 250)
    val half2 = emb.filter(org.apache.spark.sql.functions.col("vec_id") >= 250)
    val dApp = s"$tmp/append_incr"; val dFull = s"$tmp/append_full"
    AnnIndex.buildLsh(half1, dApp, nBits = 8)
    AnnIndex.appendLsh(half2, dApp)
    AnnIndex.buildLsh(emb, dFull, nBits = 8)
    val q = queryVec
    def top(dir: String) = AnnIndex.probeLsh(spark, dir, q, 50).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(top(dApp) == top(dFull), "appended index must probe like the rebuild")
    // appended rows are actually served from the appended files
    assert(spark.read.parquet(dApp).count() == emb.count())
    // the committed row count adds up -> adaptive radius stays correct
    assert(top(dApp).nonEmpty)
    // a matching single-source build no longer short-circuits: the
    // appended index is not "the index of frame half1" any more
    AnnIndex.buildLsh(half1, dApp, nBits = 8) // would no-op if token matched
    assert(spark.read.parquet(dApp).count() == half1.count(),
      "post-append single-source build must have rebuilt (token mismatch)")
  }

  test("appendLsh with batchId: exactly-once under replay; staged batch invisible until commit") {
    import org.apache.spark.sql.functions.col
    val half1 = emb.filter(col("vec_id") < 250)
    val half2 = emb.filter(col("vec_id") >= 250)
    val dApp = s"$tmp/append_eo"; val dFull = s"$tmp/append_eo_full"
    AnnIndex.buildLsh(half1, dApp, nBits = 8)
    // simulate the crash window: batch s1's files fully staged under its
    // append=<id> prefix, meta commit never happened
    half2.withColumn("srp_bucket", Similarity.srpBucketUdf(8)(col("embedding")))
      .write.mode("overwrite").partitionBy("srp_bucket")
      .parquet(s"$dApp/append=s1")
    val q = queryVec
    val staged = AnnIndex.probeLsh(spark, dApp, q, 250, probeHamming = 8)
      .collect().map(_.getLong(0))
    assert(staged.nonEmpty && staged.forall(_ < 250),
      "uncommitted staged batch must be INVISIBLE to the probe")
    // the replay overwrites the staging dir and commits exactly once
    AnnIndex.appendLsh(half2, dApp, batchId = "s1")
    AnnIndex.appendLsh(half2, dApp, batchId = "s1") // second replay no-ops
    assert(AnnIndex.describe(spark, dApp).head.getLong(2) == emb.count(),
      "replayed append must not double-count rows")
    // probe-for-probe equal to a fresh rebuild over the union
    AnnIndex.buildLsh(emb, dFull, nBits = 8)
    def top(dir: String) = AnnIndex.probeLsh(spark, dir, q, 50).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(top(dApp) == top(dFull))
  }

  test("appendIvf: committed centroids assign the batch; exhaustive probe == brute force") {
    import org.apache.spark.sql.functions.col
    val half1 = emb.filter(col("vec_id") < 250)
    val half2 = emb.filter(col("vec_id") >= 250)
    val dir = s"$tmp/append_ivf"
    AnnIndex.buildIvf(half1, dir, nCells = 8)
    AnnIndex.appendIvf(half2, dir)
    // every appended row present
    assert(spark.read.parquet(dir).count() == emb.count())
    // appended rows sit in the cell the COMMITTED centroids dictate (the
    // geometry must not move under append)
    val centroids = AnnIndex.describe(spark, dir) // sanity: centroids committed
    assert(centroids.head.getInt(3) == 8)
    // exhaustive probing is centroid-independent: all cells == brute force
    val q = queryVec
    val ex = AnnIndex.probeIvf(spark, dir, q, 25, nProbe = 8).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(2) * 1e9))).toSeq
    val brute = Similarity.bruteForceTopK(emb, q, 25).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(r.fieldIndex("cosine")) * 1e9))).toSeq
    assert(ex == brute, "exhaustive probe of the appended index must equal brute force")
    // exactly-once batchId mode: replay no-ops, committed batch probed
    val dEo = s"$tmp/append_ivf_eo"
    AnnIndex.buildIvf(half1, dEo, nCells = 8)
    AnnIndex.appendIvf(half2, dEo, batchId = "s1")
    AnnIndex.appendIvf(half2, dEo, batchId = "s1") // replay
    assert(AnnIndex.describe(spark, dEo).head.getLong(2) == emb.count())
    val ex2 = AnnIndex.probeIvf(spark, dEo, q, 25, nProbe = 8).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(2) * 1e9))).toSeq
    assert(ex2 == brute, "exactly-once appended IVF must probe the committed batch")
  }

  test("large-k build routes through the distributed trainer; exhaustive probe == brute force") {
    // nCells > 256 takes the KMeansDist path of Similarity.trainCentroids.
    // Exhaustive probing is centroid-independent (bucketing completeness),
    // so the plumbing is pinned without pinning the large-k geometry.
    val dir = s"$tmp/ivf_large_k"
    AnnIndex.buildIvf(emb, dir, nCells = 300)
    assert(AnnIndex.describe(spark, dir).head.getInt(3) == 300)
    val q = queryVec
    val ex = AnnIndex.probeIvf(spark, dir, q, 25, nProbe = 300).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(2) * 1e9))).toSeq
    val brute = Similarity.bruteForceTopK(emb, q, 25).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(r.fieldIndex("cosine")) * 1e9))).toSeq
    assert(ex == brute, "exhaustive probe of the large-k index must equal brute force")
  }

  test("direct-mode append crash window: failed append leaves no falsely-fresh meta") {
    // ADVICE r5: in direct mode the parquet Append is visible before the
    // final meta write. The shared append protocol commits an IN-PROGRESS
    // token before the Append, so a crash in that window can never leave
    // the base token in place — a later build over the original source
    // must rebuild rather than short-circuit on a half-appended index.
    // Run for every index kind: LSH, IVF and IVF-PQ share the protocol.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, udf}
    val src = s"$tmp/crash_src"
    emb.filter(col("vec_id") < 250).write.mode("overwrite").parquet(src)
    val half1 = spark.read.parquet(src)
    // a batch whose embedding column throws at EXECUTION time: count()
    // prunes the column (succeeds), the bucketing write fails mid-append —
    // exactly the crash window
    val boom = udf((v: Seq[Float]) =>
      { if (v != null) throw new RuntimeException("boom"); v })
    val bad = emb.filter(col("vec_id") >= 250)
      .withColumn("embedding", boom(col("embedding")))
    val (lsh, ivf, ivfpq) =
      (s"$tmp/append_crash", s"$tmp/append_crash_ivf", s"$tmp/append_crash_ivfpq")
    val kinds: Seq[(String, DataFrame => Unit, DataFrame => Unit)] = Seq(
      (lsh, AnnIndex.buildLsh(_, lsh, nBits = 8), AnnIndex.appendLsh(_, lsh)),
      (ivf, AnnIndex.buildIvf(_, ivf, nCells = 8), AnnIndex.appendIvf(_, ivf)),
      (ivfpq, AnnIndex.buildIvfPq(_, ivfpq, nCells = 8, m = 16, kCodes = 64),
        AnnIndex.appendIvfPq(_, ivfpq)))
    for ((dir, build, appendTo) <- kinds) {
      build(half1)
      intercept[Exception] { appendTo(bad) }
      // the meta must NOT read as fresh for the original source any more:
      // a single-source rebuild check must run the build (jobs > 0)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        build(half1)
        Thread.sleep(1000)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get() > 0,
        s"build of $dir short-circuited on a mid-append index (crash window not invalidated)")
      // and the rebuilt index serves exactly the source again
      assert(spark.read.parquet(dir).count() == half1.count())
    }
  }

  test("ivfpq: exhaustive probe with full refine equals brute force exactly") {
    // nProbe = nCells covers every cell and refine*k >= n shortlists every
    // row, so the composed read path collapses to exact cosine top-k —
    // pinning completeness of cell pruning + ADC shortlist + refine with
    // no dependence on the (non-recomputable) trained geometry.
    val dir = s"$tmp/ivfpq_ex"
    AnnIndex.buildIvfPq(emb, dir, nCells = 8, m = 16, kCodes = 64)
    val q = queryVec
    val ex = AnnIndex.probeIvfPq(spark, dir, q, 25, nProbe = 8, refine = 20)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(2) * 1e9))).toSeq
    val brute = Similarity.bruteForceTopK(emb, q, 25).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(r.fieldIndex("cosine")) * 1e9))).toSeq
    assert(ex == brute, "exhaustive+full-refine ivfpq must equal brute force")
  }

  test("adaptive nProbe margin covers the sf0.1 bench shape (r8 regression pin)") {
    // the 6k candidate margin probed 3/16 cells at (n=2000, k=50) and sat
    // at 0.36 recall vs the 0.7 gate floor — the driver bench rows threw
    // silently through r7. 12+ cells measured 0.88-0.90; pin the formula.
    assert(graft.ops.AnnIndex.adaptiveNProbe(16, 2000L, 50) >= 12)
    // the at-scale sliver contract: a big table still probes one cell
    assert(graft.ops.AnnIndex.adaptiveNProbe(16, 1000000000L, 50) == 1)
    // small tables saturate to every cell (the sf0.001/0.01 behavior)
    assert(graft.ops.AnnIndex.adaptiveNProbe(16, 500L, 50) == 16)
  }

  test("ivfpq: adaptive probe fills k with a recall floor") {
    val dir = s"$tmp/ivfpq_ad"
    AnnIndex.buildIvfPq(emb, dir, nCells = 16, m = 16, kCodes = 64)
    val k = 20
    val hits = AnnIndex.probeIvfPq(spark, dir, queryVec, k).collect()
    assert(hits.length == k, s"adaptive probeIvfPq returned ${hits.length} of $k")
    val brute = Similarity.bruteForceTopK(emb, queryVec, k).collect()
      .map(_.getLong(0)).toSet
    val overlap = hits.map(_.getLong(0)).count(brute.contains).toDouble / k
    assert(overlap >= 0.6, s"recall floor: overlap=$overlap")
  }

  test("ivfpq ADC scan prunes partitions AND never reads the embedding column") {
    // the at-scale property of the composition: candidate-scan I/O is
    // (probed cells) x (byte codes). Both prunings must show in the plan.
    val dir = s"$tmp/ivfpq_plan"
    AnnIndex.buildIvfPq(emb, dir, nCells = 16, m = 16, kCodes = 64)
    val adc = AnnIndex.ivfPqShortlistFrame(spark, dir, queryVec, 10, nProbe = 4)
    val scan = adc.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scan.isDefined, adc.queryExecution.executedPlan.toString.take(2000))
    assert(scan.get.selectedPartitions.partitionCount <= 4,
      s"ADC scan touched ${scan.get.selectedPartitions.partitionCount} cells")
    val readSchema = scan.get.requiredSchema.fieldNames.toSet
    assert(readSchema.contains("pq_code") && !readSchema.contains("embedding"),
      s"ADC ReadSchema must be codes-only, was: $readSchema")
    // and the refine phase's scan carries the shortlist as a PUSHED filter
    val probe = AnnIndex.probeIvfPq(spark, dir, queryVec, 10, nProbe = 4)
    val refineScan = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(refineScan.isDefined)
    assert(refineScan.get.metadata.get("PushedFilters").exists(_.contains("In(vec_id")),
      s"refine scan must push the shortlist: ${refineScan.get.metadata.get("PushedFilters")}")
  }

  test("ivfpq: append at committed geometry == rebuild; batchId replay exactly-once") {
    import org.apache.spark.sql.functions.col
    val half1 = emb.filter(col("vec_id") < 250)
    val half2 = emb.filter(col("vec_id") >= 250)
    val dir = s"$tmp/ivfpq_app"
    AnnIndex.buildIvfPq(half1, dir, nCells = 8, m = 16, kCodes = 64)
    AnnIndex.appendIvfPq(half2, dir)
    assert(spark.read.parquet(dir).count() == emb.count())
    val q = queryVec
    // exhaustive probe with full refine is geometry-independent: must equal
    // brute force over the UNION even though codebooks were trained on half1
    val ex = AnnIndex.probeIvfPq(spark, dir, q, 25, nProbe = 8, refine = 20)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(2) * 1e9))).toSeq
    val brute = Similarity.bruteForceTopK(emb, q, 25).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(r.fieldIndex("cosine")) * 1e9))).toSeq
    assert(ex == brute, "appended ivfpq exhaustive probe must equal brute force")
    // exactly-once replay
    val dEo = s"$tmp/ivfpq_eo"
    AnnIndex.buildIvfPq(half1, dEo, nCells = 8, m = 16, kCodes = 64)
    AnnIndex.appendIvfPq(half2, dEo, batchId = "s1")
    AnnIndex.appendIvfPq(half2, dEo, batchId = "s1") // replay no-ops
    assert(AnnIndex.describe(spark, dEo).head.getLong(2) == emb.count())
    val ex2 = AnnIndex.probeIvfPq(spark, dEo, q, 25, nProbe = 8, refine = 20)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(2) * 1e9))).toSeq
    assert(ex2 == brute)
  }

  test("ivfpq freshness: same input no-ops; changed PQ shape rebuilds") {
    val src = s"$tmp/ivfpq_src"
    emb.write.mode("overwrite").parquet(src)
    val dir = s"$tmp/ivfpq_fresh"
    AnnIndex.buildIvfPq(spark.read.parquet(src), dir, nCells = 8, m = 16, kCodes = 64)
    val metaFile = new java.io.File(s"$dir/_graft_meta/meta.properties")
    val t1 = metaFile.lastModified()
    Thread.sleep(1100)
    // same (input, nCells, m, kCodes): no-op
    AnnIndex.buildIvfPq(spark.read.parquet(src), dir, nCells = 8, m = 16, kCodes = 64)
    assert(metaFile.lastModified() == t1, "fresh ivfpq build must no-op")
    // same input but different PQ shape IS a different index: must rebuild
    AnnIndex.buildIvfPq(spark.read.parquet(src), dir, nCells = 8, m = 8, kCodes = 64)
    assert(metaFile.lastModified() > t1, "changed (m) must bust freshness")
  }

  test("ivfpq: empty input commits an empty index; probe returns 0 rows") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val dir = s"$tmp/ivfpq_empty"
    AnnIndex.buildIvfPq(empty, dir, nCells = 8, m = 16, kCodes = 64)
    assert(AnnIndex.probeIvfPq(spark, dir, new Array[Float](8), 5).count() == 0L)
  }

  test("index rebuild is deterministic (same bucket assignment)") {
    val d1 = s"$tmp/det1"; val d2 = s"$tmp/det2"
    AnnIndex.buildLsh(emb, d1, nBits = 8)
    AnnIndex.buildLsh(emb, d2, nBits = 8)
    val b1 = spark.read.parquet(d1).groupBy("srp_bucket").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val b2 = spark.read.parquet(d2).groupBy("srp_bucket").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(b1 == b2 && b1.nonEmpty)
  }
}
