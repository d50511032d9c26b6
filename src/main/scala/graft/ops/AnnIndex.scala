package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted ANN index: the 100 TB path for similarity search.
  *
  * `lshTopK`/`ivfTopK` in [[Similarity]] are the ad-hoc forms — they scan the
  * whole embeddings table per query. An index materializes the bucket
  * assignment ONCE as a parquet table **partitioned by the bucket column**,
  * so a probe's `WHERE srp_bucket IN (...)` / `ivf_cell IN (...)` prunes to
  * the matching partition directories at planning time: the scan reads only
  * probed buckets (verified by the PartitionFilters line in the probe plan
  * and by AnnIndexSpec counting scanned files). At 10^12 vectors a probe
  * touches probes/2^nBits (resp. nProbe/nCells) of the data instead of all
  * of it, and build cost is one pass + one partitioned write.
  *
  * Build and probe are decoupled: `buildLsh`/`buildIvf` are explicit jobs;
  * `probeLsh`/`probeIvf` trust the committed `_graft_meta` and read NOTHING
  * but the probed partitions. Freshness is decided from a **metadata-only**
  * version token (input file listing: path, length, mtime) — never from a
  * content scan of the data, which at 100 TB would cost more than the query.
  *
  * Layout:
  *   dir/srp_bucket=<b>/...parquet   (LSH)   or   dir/ivf_cell=<c>/...
  *   dir/_graft_meta/meta.properties kind, param, token, n_rows, and (IVF)
  *                                   the KB-sized centroid table — all
  *                                   control-plane state is one driver-side
  *                                   file read, zero Spark jobs
  * The underscore-prefixed dir is invisible to the data read. */
object AnnIndex {

  /** Cheap input version token: a fold over the source files' (path, length,
    * modificationTime). One filesystem NAMESPACE listing — no data is read
    * and no Spark job runs, so a fresh `build*` call is O(#files) driver-side
    * RPCs, not a table scan. Inputs with no files (in-memory DataFrames)
    * yield None: no provable version, so the build always runs for them.
    * An Iceberg-style table would supply its snapshot id here instead. */
  private[graft] def inputToken(embeddings: DataFrame): Option[Long] = {
    val files = embeddings.inputFiles
    if (files.isEmpty) return None
    val conf = embeddings.sparkSession.sparkContext.hadoopConfiguration
    var h = 0xcbf29ce484222325L
    def fold(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    files.sorted.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      var i = 0
      while (i < f.length) { fold(f.charAt(i).toLong); i += 1 }
      fold(st.getLen); fold(st.getModificationTime)
    }
    Some(h)
  }

  private final case class Meta(kind: String, param: Int, token: Long,
      nRows: Long, centroids: Array[Array[Double]],
      batches: Seq[String] = Seq.empty, pq: Option[Pq.PqModel] = None)

  private def upToDate(spark: SparkSession, dir: String, kind: String,
      param: Int, token: Option[Long]): Boolean =
    token.exists { t =>
      try {
        val m = readMeta(spark, dir)
        m.kind == kind && m.param == param && m.token == t
      } catch { case _: Exception => false }
    }

  /** Smallest Hamming radius whose probed buckets are expected to hold
    * >= 6k candidates, under a uniform-bucket estimate from the committed
    * row count (cumulative binomial coefficients; metadata only, no scan).
    * The 6x margin absorbs SRP bucket skew — real buckets are far from
    * uniform — so a k-NN probe almost always has >= k candidates; at big
    * row counts the radius collapses to 0-1 and the probe stays a sliver
    * of the table. */
  private[ops] def adaptiveHamming(nBits: Int, nRows: Long, k: Int): Int = {
    val perBucket = nRows.toDouble / (1L << nBits)
    var h = 0
    var choose = 1.0 // C(nBits, h)
    var expected = perBucket
    while (h < nBits && expected < 6.0 * k) {
      h += 1
      choose = choose * (nBits - h + 1) / h
      expected += choose * perBucket
    }
    h
  }

  /** Write-task count for a partitioned index write, derived from the data
    * (guide §6 — r8): every write task pays the dynamic-partition writer +
    * committer fixed costs for each bucket dir it touches, so 32 tasks
    * each touching most of 2^nBits dirs measured 4-5 s where 8 tasks
    * writing the same 256 files took 1.1 s. Target ~32 bucket dirs per
    * task and ~50k rows per task, floored at `filesPerBucket` (its salt
    * spreads one bucket over that many tasks) and capped at the session's
    * parallelism — small indexes write in a few tasks, big ones keep the
    * cluster busy. Each bucket gets at most `filesPerBucket` files (the
    * repartition stays keyed on bucket + salt, and the task cap can fall
    * below the salt count). */
  private def writeTasks(spark: SparkSession, nRows: Long, nBuckets: Int,
      filesPerBucket: Int): Int =
    math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(math.max(filesPerBucket.toLong, nBuckets / 32L),
        math.max(1L, nRows / 50000L))).toInt

  private def emptyProbe(spark: SparkSession, bucketCol: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("vec_id", LongType), StructField(bucketCol, IntegerType),
      StructField("cosine", DoubleType))))

  // ------------------------------------------------------------------- LSH
  /** Build-once: an index whose committed meta matches (kind, param, input
    * token) is reused without running any Spark job. Pass `rebuild = true`
    * to force. Single-writer per dir assumed (concurrent builders of the
    * same path race on the Overwrite, like any non-transactional table).
    *
    * `filesPerBucket` trades small-files against write parallelism: 1 is
    * right when buckets are modest; at 10^12 vectors a single task per
    * bucket would be a straggler, so raise it to spread each bucket over
    * that many tasks/files. */
  def buildLsh(embeddings: DataFrame, dir: String, nBits: Int = 8,
      rebuild: Boolean = false, filesPerBucket: Int = 1): Unit = {
    val spark = embeddings.sparkSession
    val token = inputToken(embeddings)
    if (!rebuild && upToDate(spark, dir, "lsh", nBits, token)) return
    val nRows = embeddings.count() // build-time only; parquet footer metadata
    if (nRows > 0)
      embeddings
        .withColumn("srp_bucket", Similarity.srpBucketUdf(nBits)(col("embedding")))
        // cluster by the partition key (+ a bounded salt) before partitionBy:
        // unclustered, every task emits a file per bucket it sees (tasks x
        // 2^nBits tiny files); clustered, each bucket writes exactly
        // filesPerBucket files, over a data-derived task count (writeTasks)
        .repartition(writeTasks(spark, nRows, 1 << nBits, filesPerBucket),
          col("srp_bucket"), pmod(xxhash64(col("vec_id")), lit(filesPerBucket)))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("srp_bucket")
        .parquet(dir)
    writeMeta(spark, dir, kind = "lsh", param = nBits,
      token = token.getOrElse(0L), nRows = nRows)
  }

  /** Append a batch to a persisted LSH index WITHOUT the O(corpus)
    * rebuild — the index-maintenance twin of incremental dedup's
    * signature store for ongoing ingestion. The new vectors are bucketed
    * with the SAME deterministic hyperplanes (nBits from the committed
    * meta), so bucket assignment — and therefore every probe result — is
    * identical to a fresh rebuild over the union (pinned in AnnIndexSpec);
    * they land as additional files under their bucket partitions
    * (O(batch) write, no existing file touched). The committed meta's
    * token folds in the appended input's token and the row count adds up,
    * so the probe's adaptive radius stays correctly sized and a matching
    * single-source `buildLsh` no longer short-circuits (an appended index
    * is not "the index of frame X" — correct by construction).
    *
    * `batchId` (exactly-once mode): the batch stages under its own
    * `append=<id>` prefix, invisible until the meta commit lists it;
    * replays of a committed id no-op — safe under an at-least-once
    * upstream (Structured Streaming foreachBatch). Lifecycle: each
    * committed batch adds one pruned probe source, so after many appends
    * fold them back with `buildLsh(source, dir, rebuild = true)` in the
    * maintenance window — a rebuild is crash-recoverable by rerun, which
    * is why no bespoke in-place append-compaction exists. Single WRITER
    * per dir assumed, like the builds: two concurrent appenders would
    * race on the meta read-modify-write (a streaming query is naturally
    * a single writer). */
  def appendLsh(newVecs: DataFrame, dir: String, filesPerBucket: Int = 1,
      batchId: String = null): Unit = {
    val spark = newVecs.sparkSession
    val meta = readMeta(spark, dir)
    require(meta.kind == "lsh", s"$dir is a ${meta.kind} index, not lsh")
    if (batchId != null && meta.batches.contains(batchId)) return // replayed
    val n = newVecs.count()
    if (n == 0) return
    val bucketed = newVecs
      .withColumn("srp_bucket", Similarity.srpBucketUdf(meta.param)(col("embedding")))
      .repartition(writeTasks(spark, n, 1 << meta.param, filesPerBucket),
        col("srp_bucket"), pmod(xxhash64(col("vec_id")), lit(filesPerBucket)))
    if (batchId == null) {
      // direct append: O(batch) write into the base bucket partitions.
      // NOT replay-safe (parquet Append is immediately visible) — callers
      // with an at-least-once upstream use the batchId form below.
      // Invalidate the meta BEFORE the visible Append: a crash between the
      // data append and the final meta write must not leave meta.token
      // equal to the base token, or a later buildLsh over the original
      // source would short-circuit via upToDate and serve the
      // half-appended index as "the fresh index of frame X". The
      // in-progress token differs from both the base and the final token,
      // so any crash window degrades to a rebuild — never a stale reuse.
      writeMeta(spark, dir, kind = "lsh", param = meta.param,
        token = inProgressToken(meta.token), nRows = meta.nRows,
        batches = meta.batches)
      bucketed.write.mode(SaveMode.Append).partitionBy("srp_bucket").parquet(dir)
    } else {
      requireValidBatchId(batchId)
      // exactly-once append (the TranscriptTable pattern): the batch is
      // STAGED under its own append=<id> prefix — invisible, because the
      // probe reads only batch dirs listed in the committed meta — and
      // becomes visible atomically with the meta overwrite below. A crash
      // in between leaves an orphan staging dir that the replay Overwrites
      // before committing; a replay after commit no-ops on the id check.
      bucketed.write.mode(SaveMode.Overwrite).partitionBy("srp_bucket")
        .parquet(s"$dir/append=$batchId")
    }
    writeMeta(spark, dir, kind = "lsh", param = meta.param,
      token = appendToken(meta.token, newVecs, n, batchId),
      nRows = meta.nRows + n,
      batches = if (batchId == null) meta.batches else meta.batches :+ batchId)
  }

  /** Batch ids become a path segment AND a comma-joined, line-oriented
    * meta value — restrict to a charset that can corrupt neither (a
    * newline-bearing id would truncate the `batches=` line and make the
    * committed batch invisible while n_rows still counts it). */
  private def requireValidBatchId(batchId: String): Unit =
    require(batchId != null && batchId.nonEmpty &&
      batchId.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"invalid batch id (letters/digits/._- only): $batchId")

  /** Post-append freshness token: ALWAYS differs from the pre-append
    * token — folding only the appended input's token would leave the
    * base build's token intact for in-memory batches (inputToken None),
    * and a later single-source buildLsh would falsely short-circuit on
    * an index that is no longer "the index of frame X" (review finding).
    * Folds the row count and batch id too, so every append moves it. */
  private def appendToken(base: Long, newVecs: DataFrame, n: Long,
      batchId: String): Long = {
    var t = base
    def fold(x: Long): Unit = { t ^= x; t *= 0x100000001b3L }
    fold(0x5bd1e995L) // unconditional marker: appended != freshly built
    fold(n)
    inputToken(newVecs).foreach(fold)
    if (batchId != null) fold(batchId.hashCode.toLong)
    t
  }

  /** Token committed while a direct-mode append is IN FLIGHT: differs from
    * the base token (distinct marker) and, with overwhelming probability,
    * from any [[appendToken]] result, so a crash mid-append can never be
    * mistaken for either the pre-append or the post-append state. */
  private def inProgressToken(base: Long): Long = {
    var t = base
    def fold(x: Long): Unit = { t ^= x; t *= 0x100000001b3L }
    fold(0x7f4a7c15L) // marker: append in flight, index not any frame's
    t
  }

  /** Probe trusts the committed meta: ONE pruned scan of the probed bucket
    * partitions, no freshness re-derivation, no job against the source
    * table. `probeHamming < 0` (default) sizes the radius from the row
    * count recorded at build time so a top-k probe has candidates to fill
    * k even on small tables. */
  def probeLsh(spark: SparkSession, dir: String, query: Array[Float], k: Int,
      probeHamming: Int = -1): DataFrame = {
    val meta = readMeta(spark, dir)
    require(meta.kind == "lsh", s"$dir is a ${meta.kind} index, not lsh")
    if (meta.nRows == 0L) return emptyProbe(spark, "srp_bucket")
    val nBits = meta.param
    val h = if (probeHamming >= 0) probeHamming
            else adaptiveHamming(nBits, meta.nRows, k)
    val qBucket = Similarity.srpBucket(query.toSeq, nBits)
    val probes = (0 until (1 << nBits))
      .filter(b => java.lang.Integer.bitCount(b ^ qBucket) <= h)
    val wanted = probes.map(_.toString).toSet
    // list the index root ONCE (one namespace RPC) and hand the reader only
    // the probed bucket directories: partition discovery then touches
    // O(probes) paths instead of walking every bucket dir — at millions of
    // partitions the discovery walk would itself be a scan. Committed
    // append batches (meta.batches — exactly-once appendLsh) contribute
    // their own probed bucket dirs, each under its own basePath; an
    // UNCOMMITTED append=<id> staging dir is never read.
    val sources: Seq[(String, Seq[String])] =
      (dir, listPartitionDirs(spark, dir, "srp_bucket=", wanted)) +:
        meta.batches.map { b =>
          val base = s"$dir/append=$b"
          (base, listPartitionDirs(spark, base, "srp_bucket=", wanted))
        }
    val nonEmpty = sources.filter(_._2.nonEmpty)
    if (nonEmpty.isEmpty) return emptyProbe(spark, "srp_bucket")
    val q = query
    val cosUdf = udf((v: Seq[Float]) => Similarity.cosine(v, q.toSeq))
    nonEmpty.map { case (base, probed) =>
        spark.read.option("basePath", base).parquet(probed: _*)
          .select(col("vec_id"), col("srp_bucket"), col("embedding"))
      }
      .reduce(_.unionByName(_))
      .filter(col("srp_bucket").isin(probes: _*)) // belt over the path pruning
      .withColumn("cosine", cosUdf(col("embedding")))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "srp_bucket", "cosine")
  }

  /** One listStatus of the index root, filtered to the probed partition
    * values — driver-side namespace metadata only. */
  private def listPartitionDirs(spark: SparkSession, dir: String,
      prefix: String, wanted: Set[String]): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix) &&
        wanted.contains(st.getPath.getName.substring(prefix.length)))
      .map(_.getPath.toString)
  }

  // ------------------------------------------------------------------- IVF
  def buildIvf(embeddings: DataFrame, dir: String, nCells: Int = 16,
      rebuild: Boolean = false, filesPerBucket: Int = 1): Unit = {
    val spark = embeddings.sparkSession
    val token = inputToken(embeddings) // before the barrier — needs file lineage
    if (!rebuild && upToDate(spark, dir, "ivf", nCells, token)) return
    // barrier: count + trainer passes (init sample, and at large k the
    // KMeansDist count + 5 Lloyd's iterations) + the assignment write all
    // read this frame — without it every pass re-executes the upstream
    // lineage (the SemDedup multi-consumer rule; KMeansDist.train
    // documents that it does NOT persist its input)
    val emb = embeddings.localCheckpoint()
    val nRows = emb.count()
    var centers: Array[Array[Double]] = Array.empty
    if (nRows > 0) {
      // trainer switched on nCells: driver-sample Lloyd's small, the
      // distributed KMeansDist at large k (same switch as SemDedup). At
      // very large k the centroid table itself grows k*dim — it is the
      // model persisted in meta, so the bound is the model, not the data.
      centers = Similarity.trainCentroids(emb, nCells)
      val kern = new Similarity.CentroidKernel(centers)
      val cellUdf = udf((v: Seq[Float]) => kern.nearest(v))
      emb
        .withColumn("ivf_cell", cellUdf(col("embedding")))
        .repartition(writeTasks(spark, nRows, nCells, filesPerBucket),
          col("ivf_cell"),
          pmod(xxhash64(col("vec_id")), lit(filesPerBucket))) // bounded files/cell
        .write.mode(SaveMode.Overwrite)
        .partitionBy("ivf_cell")
        .parquet(dir)
    }
    writeMeta(spark, dir, kind = "ivf", param = nCells,
      token = token.getOrElse(0L), nRows = nRows, centroids = centers)
  }

  /** IVF twin of [[appendLsh]]: assign the new batch to cells with the
    * COMMITTED centroids (no re-training — the partitioning geometry of an
    * index must not move under append, or existing rows would sit in the
    * wrong cells; periodic re-training is a rebuild, not an append) and
    * append files under the cell partitions. Token folds, rows add up,
    * probe equivalence with a rebuild-on-union-at-fixed-centroids is
    * pinned in AnnIndexSpec. */
  def appendIvf(newVecs: DataFrame, dir: String, filesPerBucket: Int = 1,
      batchId: String = null): Unit = {
    val spark = newVecs.sparkSession
    val meta = readMeta(spark, dir)
    require(meta.kind == "ivf", s"$dir is a ${meta.kind} index, not ivf")
    require(meta.centroids.nonEmpty, s"$dir has no committed centroids")
    if (batchId != null && meta.batches.contains(batchId)) return // replayed
    val n = newVecs.count()
    if (n == 0) return
    val kern = new Similarity.CentroidKernel(meta.centroids)
    val cellUdf = udf((v: Seq[Float]) => kern.nearest(v))
    val celled = newVecs
      .withColumn("ivf_cell", cellUdf(col("embedding")))
      .repartition(writeTasks(spark, n, meta.param, filesPerBucket),
        col("ivf_cell"), pmod(xxhash64(col("vec_id")), lit(filesPerBucket)))
    if (batchId == null) {
      // same pre-append invalidation as appendLsh's direct mode: the crash
      // window between Append visibility and the final meta must not leave
      // the base token in place
      writeMeta(spark, dir, kind = "ivf", param = meta.param,
        token = inProgressToken(meta.token), nRows = meta.nRows,
        centroids = meta.centroids, batches = meta.batches)
      celled.write.mode(SaveMode.Append).partitionBy("ivf_cell").parquet(dir)
    } else {
      requireValidBatchId(batchId)
      // exactly-once, same contract as appendLsh's batchId mode
      celled.write.mode(SaveMode.Overwrite).partitionBy("ivf_cell")
        .parquet(s"$dir/append=$batchId")
    }
    writeMeta(spark, dir, kind = "ivf", param = meta.param,
      token = appendToken(meta.token, newVecs, n, batchId),
      nRows = meta.nRows + n, centroids = meta.centroids,
      batches = if (batchId == null) meta.batches else meta.batches :+ batchId)
  }

  /** Candidate margin for the adaptive IVF probe: probe enough cells that
    * the EXPECTED candidate count reaches `IvfCandidateMargin * k`. The
    * LSH radius keeps its 6k margin (that formula is replayed verbatim in
    * the x_ann_lsh / x_ann_index_probe oracles); the IVF rows are gated on
    * a measured recall floor instead, and 6k sat below it on the sf0.1
    * driver table — k-NN mass spreads across L2 cells on near-uniform
    * vectors, so filling k candidates is not filling recall. Measured on
    * that table (n=2000, nCells=16, k=50): 3 cells -> 0.36 recall, 12-13
    * cells -> 0.88-0.90 vs floors 0.7/0.6. The margin is O(k) probed rows
    * regardless of corpus size — at 10^9 rows it still collapses to one
    * cell — so the at-scale sliver contract is unchanged. */
  private val IvfCandidateMargin = 32.0

  /** The adaptive probed-cell count: enough cells that the EXPECTED
    * candidate count reaches IvfCandidateMargin·k under a uniform-cell
    * estimate. Package-visible so AnnIndexSpec pins the sf0.1 regression
    * shape (n=2000, nCells=16, k=50 must probe >= 12 cells — the 6k margin
    * probed 3 and sat at 0.36 recall vs the 0.7 gate floor). */
  private[graft] def adaptiveNProbe(nCells: Int, nRows: Long, k: Int): Int =
    math.min(nCells.toLong, math.max(1L,
      math.ceil(IvfCandidateMargin * k * nCells / nRows).toLong)).toInt

  /** `nProbe < 0` (default) sizes the probed cell count from the committed
    * row count (expected candidates >= [[IvfCandidateMargin]]·k). */
  def probeIvf(spark: SparkSession, dir: String, query: Array[Float], k: Int,
      nProbe: Int = -1): DataFrame = {
    val meta = readMeta(spark, dir)
    require(meta.kind == "ivf", s"$dir is a ${meta.kind} index, not ivf")
    if (meta.nRows == 0L) return emptyProbe(spark, "ivf_cell")
    val nCells = meta.param
    val np = if (nProbe > 0) nProbe
             else adaptiveNProbe(nCells, meta.nRows, k)
    val centers = meta.centroids
    val qd = query.map(_.toDouble)
    val probeCells = centers.indices.sortBy { c =>
      var d = 0.0; var j = 0
      while (j < qd.length) { val t = qd(j) - centers(c)(j); d += t * t; j += 1 }
      d
    }.take(np)
    val wanted = probeCells.map(_.toString).toSet
    // base cell dirs + each committed append batch's cell dirs (exactly-
    // once appendIvf) — same source-union shape as probeLsh
    val sources: Seq[(String, Seq[String])] =
      (dir, listPartitionDirs(spark, dir, "ivf_cell=", wanted)) +:
        meta.batches.map { b =>
          val base = s"$dir/append=$b"
          (base, listPartitionDirs(spark, base, "ivf_cell=", wanted))
        }
    val nonEmpty = sources.filter(_._2.nonEmpty)
    if (nonEmpty.isEmpty) return emptyProbe(spark, "ivf_cell")
    val q = query
    val cosUdf = udf((v: Seq[Float]) => Similarity.cosine(v, q.toSeq))
    nonEmpty.map { case (base, probed) =>
        spark.read.option("basePath", base).parquet(probed: _*)
          .select(col("vec_id"), col("ivf_cell"), col("embedding"))
      }
      .reduce(_.unionByName(_))
      .filter(col("ivf_cell").isin(probeCells: _*)) // belt over the path pruning
      .withColumn("cosine", cosUdf(col("embedding")))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "ivf_cell", "cosine")
  }

  // ---------------------------------------------------------------- IVF x PQ
  /** IVF coarse pruning composed with product-quantized storage — the
    * at-scale ANN read path (FAISS's IVFADC layout, re-expressed as a
    * partitioned parquet table): a probe reads O(probed cells) of the data
    * AND, within them, only the byte-code column for the candidate scan, so
    * the scan I/O is (nProbe/nCells) * (m bytes/vector) instead of the
    * ivf-only (nProbe/nCells) * (dim floats) or the pq-only full-corpus
    * code scan. The raw embedding column lives in the SAME cell files —
    * parquet column pruning keeps it off the ADC scan for free — and is
    * touched only by the exact-cosine refine over the bounded shortlist.
    *
    * Geometry: coarse centroids (k-means, [[Similarity.trainCentroids]])
    * and per-subspace PQ codebooks ([[Pq.train]]) are both trained on the
    * same bounded deterministic sample and committed in `_graft_meta`, so
    * append and probe reuse the build's geometry exactly (the append
    * invariant: an index's partitioning must not move under append).
    * Codes quantize the RAW vectors, not cell residuals: the codebook is
    * then cell-independent, one ADC table serves every probed cell, and
    * [[Pq]]'s exactness/recall contracts carry over verbatim. */
  def buildIvfPq(embeddings: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 8, kCodes: Int = 256, rebuild: Boolean = false,
      filesPerBucket: Int = 1): Unit = {
    val spark = embeddings.sparkSession
    val token = inputToken(embeddings)
    // freshness must also pin the PQ shape: same (kind, nCells, token) with
    // a different (m, kCodes) is a DIFFERENT index
    val fresh = !rebuild && token.exists { tk =>
      try {
        val mm = readMeta(spark, dir)
        // compare against what THIS build would train, not the raw
        // request: localKMeans caps codes at the sample size, so a
        // corpus smaller than kCodes commits fewer codes — comparing
        // p.k == kCodes would declare such an index permanently stale
        // and re-run the full build on every call (a token match
        // implies no appends, so mm.nRows is the build-time count)
        val expectK = math.min(kCodes.toLong, math.max(1L, mm.nRows)).toInt
        mm.kind == "ivfpq" && mm.param == nCells && mm.token == tk &&
          mm.pq.exists(p => p.m == m && p.k == expectK)
      } catch { case _: Exception => false }
    }
    if (fresh) return
    val emb = embeddings.localCheckpoint() // count + 2 trainers + write
    val nRows = emb.count()
    var centers: Array[Array[Double]] = Array.empty
    var model: Option[Pq.PqModel] = None
    if (nRows > 0) {
      centers = Similarity.trainCentroids(emb, nCells)
      model = Some(Pq.train(emb, m = m, k = kCodes))
      val cellKern = new Similarity.CentroidKernel(centers)
      val codeKerns = model.get.codebooks.map(cb => new Similarity.CentroidKernel(cb))
      val dsub = model.get.dsub
      // ONE deserialization of the vector per row: cell + code together
      val encUdf = udf { (v: Seq[Float]) =>
        require(v.length == m * dsub, // the Pq.encode guard — never encode a prefix
          s"embedding dim ${v.length} != trained dim ${m * dsub}")
        val code = new Array[Byte](m)
        var s = 0
        while (s < m) {
          val sub = new Array[Float](dsub)
          var j = 0
          while (j < dsub) { sub(j) = v(s * dsub + j); j += 1 }
          code(s) = codeKerns(s).nearest(sub).toByte
          s += 1
        }
        (cellKern.nearest(v), code)
      }
      emb
        .withColumn("enc", encUdf(col("embedding")))
        .select(col("vec_id"), col("embedding"),
          col("enc._1").as("ivf_cell"), col("enc._2").as("pq_code"))
        .repartition(writeTasks(spark, nRows, nCells, filesPerBucket),
          col("ivf_cell"), pmod(xxhash64(col("vec_id")), lit(filesPerBucket)))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("ivf_cell")
        .parquet(dir)
    }
    writeMeta(spark, dir, kind = "ivfpq", param = nCells,
      token = token.getOrElse(0L), nRows = nRows, centroids = centers,
      pq = model)
  }

  /** Exactly-once / direct append at the COMMITTED geometry (cells and
    * codebooks never move under append) — contracts identical to
    * [[appendIvf]]. */
  def appendIvfPq(newVecs: DataFrame, dir: String, filesPerBucket: Int = 1,
      batchId: String = null): Unit = {
    val spark = newVecs.sparkSession
    val meta = readMeta(spark, dir)
    require(meta.kind == "ivfpq", s"$dir is a ${meta.kind} index, not ivfpq")
    require(meta.centroids.nonEmpty && meta.pq.nonEmpty,
      s"$dir has no committed geometry")
    if (batchId != null && meta.batches.contains(batchId)) return // replayed
    val n = newVecs.count()
    if (n == 0) return
    val model = meta.pq.get
    val cellKern = new Similarity.CentroidKernel(meta.centroids)
    val codeKerns = model.codebooks.map(cb => new Similarity.CentroidKernel(cb))
    val m = model.m; val dsub = model.dsub
    val encUdf = udf { (v: Seq[Float]) =>
      require(v.length == m * dsub, // appended vectors must match the committed geometry
        s"embedding dim ${v.length} != committed dim ${m * dsub}")
      val code = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val sub = new Array[Float](dsub)
        var j = 0
        while (j < dsub) { sub(j) = v(s * dsub + j); j += 1 }
        code(s) = codeKerns(s).nearest(sub).toByte
        s += 1
      }
      (cellKern.nearest(v), code)
    }
    val celled = newVecs
      .withColumn("enc", encUdf(col("embedding")))
      .select(col("vec_id"), col("embedding"),
        col("enc._1").as("ivf_cell"), col("enc._2").as("pq_code"))
      .repartition(writeTasks(spark, n, meta.param, filesPerBucket),
        col("ivf_cell"), pmod(xxhash64(col("vec_id")), lit(filesPerBucket)))
    if (batchId == null) {
      writeMeta(spark, dir, kind = "ivfpq", param = meta.param,
        token = inProgressToken(meta.token), nRows = meta.nRows,
        centroids = meta.centroids, batches = meta.batches, pq = meta.pq)
      celled.write.mode(SaveMode.Append).partitionBy("ivf_cell").parquet(dir)
    } else {
      requireValidBatchId(batchId)
      celled.write.mode(SaveMode.Overwrite).partitionBy("ivf_cell")
        .parquet(s"$dir/append=$batchId")
    }
    writeMeta(spark, dir, kind = "ivfpq", param = meta.param,
      token = appendToken(meta.token, newVecs, n, batchId),
      nRows = meta.nRows + n, centroids = meta.centroids,
      batches = if (batchId == null) meta.batches else meta.batches :+ batchId,
      pq = meta.pq)
  }

  /** The composed probe: (1) rank cells against the committed centroids
    * driver-side and take the adaptive nProbe; (2) ADC-scan ONLY the probed
    * cell dirs, reading ONLY (vec_id, pq_code) — the shortlist is the
    * refine*k best code distances; (3) exact-cosine refine of the shortlist
    * against the raw embedding column of the same probed dirs, top-k.
    *
    * The shortlist ids cross the driver as a bounded refine*k array (like
    * [[Pq.adcTopKRefined]]'s broadcast, but as an `isin` literal so the
    * refine scan gets a pushable parquet filter instead of a join — the
    * refine then reads no more than the probed cells' embedding column and
    * row-group stats can skip within them). */
  def probeIvfPq(spark: SparkSession, dir: String, query: Array[Float], k: Int,
      nProbe: Int = -1, refine: Int = 4): DataFrame = {
    val meta = readMeta(spark, dir)
    require(meta.kind == "ivfpq", s"$dir is a ${meta.kind} index, not ivfpq")
    if (meta.nRows == 0L) return emptyProbe(spark, "ivf_cell")
    val readProbed = probedReader(spark, dir, meta, query, k, nProbe)
      .getOrElse(return emptyProbe(spark, "ivf_cell"))
    // phase 1: ADC over the byte codes of the probed cells (embedding
    // column never read — pinned by ReadSchema in AnnIndexSpec); the
    // collect is bounded at refine*k rows by construction
    val shortlist =
      ivfPqAdcFrame(readProbed, meta.pq.get, query, refine * k)
        .select("vec_id").collect().map(_.getLong(0))
    if (shortlist.isEmpty) return emptyProbe(spark, "ivf_cell")
    // phase 2: exact refine of the shortlist only — the ids travel as an
    // `isin` literal so the refine scan carries a pushable parquet filter
    val q = query
    val cosUdf = udf((v: Seq[Float]) => Similarity.cosine(v, q.toSeq))
    readProbed(Seq("vec_id", "ivf_cell", "embedding"))
      .filter(col("vec_id").isin(shortlist: _*))
      .withColumn("cosine", cosUdf(col("embedding")))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "ivf_cell", "cosine")
  }

  /** The composed probe's pruned reader: centroid ranking driver-side, one
    * namespace listing, a column-selected union over ONLY the probed cell
    * dirs (base + committed append batches). None when nothing is probed. */
  private def probedReader(spark: SparkSession, dir: String, meta: Meta,
      query: Array[Float], k: Int,
      nProbe: Int): Option[Seq[String] => DataFrame] = {
    val nCells = meta.param
    val np = if (nProbe > 0) nProbe
             else adaptiveNProbe(nCells, meta.nRows, k)
    val centers = meta.centroids
    val qd = query.map(_.toDouble)
    val probeCells = centers.indices.sortBy { c =>
      var d = 0.0; var j = 0
      while (j < qd.length) { val t = qd(j) - centers(c)(j); d += t * t; j += 1 }
      d
    }.take(np)
    val wanted = probeCells.map(_.toString).toSet
    val sources: Seq[(String, Seq[String])] =
      (dir, listPartitionDirs(spark, dir, "ivf_cell=", wanted)) +:
        meta.batches.map { b =>
          val base = s"$dir/append=$b"
          (base, listPartitionDirs(spark, base, "ivf_cell=", wanted))
        }
    val nonEmpty = sources.filter(_._2.nonEmpty)
    if (nonEmpty.isEmpty) None
    else Some((cols: Seq[String]) =>
      nonEmpty.map { case (base, probed) =>
          spark.read.option("basePath", base).parquet(probed: _*)
            .select(cols.map(col): _*)
        }
        .reduce(_.unionByName(_))
        .filter(col("ivf_cell").isin(probeCells: _*))) // belt over path pruning
  }

  /** Phase-1 frame (un-collected), exposed for plan-level tests: the scan
    * under it must prune to the probed cell partitions AND read only
    * (vec_id, pq_code) — never the embedding column. */
  private[graft] def ivfPqShortlistFrame(spark: SparkSession, dir: String,
      query: Array[Float], k: Int, nProbe: Int = -1,
      refine: Int = 4): DataFrame = {
    val meta = readMeta(spark, dir)
    require(meta.kind == "ivfpq", s"$dir is a ${meta.kind} index, not ivfpq")
    // empty paths must carry the SHORTLIST schema (vec_id, adc_dist) —
    // the probe schema would break uniform callers on an empty index
    if (meta.nRows == 0L) return emptyShortlist(spark)
    probedReader(spark, dir, meta, query, k, nProbe)
      .map(r => ivfPqAdcFrame(r, meta.pq.get, query, refine * k))
      .getOrElse(emptyShortlist(spark))
  }

  private def emptyShortlist(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("vec_id", LongType), StructField("adc_dist", DoubleType))))

  private def ivfPqAdcFrame(readProbed: Seq[String] => DataFrame,
      model: Pq.PqModel, query: Array[Float], nShort: Int): DataFrame =
    Pq.adcTopK(readProbed(Seq("vec_id", "ivf_cell", "pq_code")), model,
      query, nShort)

  /** Committed control-plane state as a one-row DataFrame (for diagnostics
    * and the bench's explicit-build step). Driver-side file read only. */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = readMeta(spark, dir)
    Seq((m.kind, m.param, m.nRows, m.centroids.length))
      .toDF("kind", "param", "n_rows", "n_centroids")
  }

  // ------------------------------------------------------------------ meta
  // Control-plane state lives in a plain key=value file written/read through
  // the Hadoop FS API driver-side: probing or freshness-checking an index
  // runs ZERO Spark jobs for its metadata (a parquet meta table would cost a
  // job per read and re-enter the DataSource path for an underscore dir).
  // Write is temp + one atomic overwrite-rename (FsAtomic): a reader racing
  // the writer sees the old meta or the new meta, never a missing file.
  // Single-writer per dir still assumed for the DATA (as stated on build*).
  private def writeMeta(spark: SparkSession, dir: String, kind: String,
      param: Int, token: Long, nRows: Long,
      centroids: Array[Array[Double]] = Array.empty,
      batches: Seq[String] = Seq.empty,
      pq: Option[Pq.PqModel] = None): Unit = {
    // Double.toString/parseDouble round-trips exactly, so centroid geometry
    // survives the text encoding bit-for-bit
    val cent = if (centroids.isEmpty) ""
      else "centroids=" + centroids.map(_.mkString(",")).mkString(";") + "\n"
    val bat = if (batches.isEmpty) ""
      else "batches=" + batches.mkString(",") + "\n"
    // PQ codebooks: subspaces '|', codes ';', dims ',' — same exact
    // Double round-trip as the centroids; ~100 KB at m=16,k=64,dim=64,
    // i.e. the committed model, bounded by (m*k*dsub), never by the data
    val pqs = pq.map { p =>
      s"pq_m=${p.m}\npq_dsub=${p.dsub}\npq_cb=" +
        p.codebooks.map(_.map(_.mkString(",")).mkString(";")).mkString("|") +
        "\n"
    }.getOrElse("")
    graft.util.FsAtomic.overwriteFile(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(s"$dir/_graft_meta/meta.properties"),
      (s"kind=$kind\nparam=$param\ntoken=$token\nn_rows=$nRows\n" + cent +
        bat + pqs)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readMeta(spark: SparkSession, dir: String): Meta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$dir/_graft_meta/meta.properties")
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
    val kv = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.contains('='))
      .map { l => val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1)) }
      .toMap
    val centroids = kv.get("centroids") match {
      case Some(s) if s.nonEmpty =>
        s.split(';').map(_.split(',').map(java.lang.Double.parseDouble))
      case _ => Array.empty[Array[Double]]
    }
    val batches = kv.get("batches") match {
      case Some(s) if s.nonEmpty => s.split(',').toSeq.filter(_.nonEmpty)
      case _ => Seq.empty[String]
    }
    val pq = kv.get("pq_cb").filter(_.nonEmpty).map { s =>
      Pq.PqModel(kv("pq_m").toInt, kv("pq_dsub").toInt,
        s.split('|').map(_.split(';').map(_.split(',')
          .map(java.lang.Double.parseDouble))))
    }
    Meta(kv("kind"), kv("param").toInt, kv("token").toLong,
      kv("n_rows").toLong, centroids, batches, pq)
  }
}
