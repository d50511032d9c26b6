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
  *   dir/_graft_meta/meta.properties the [[StoreMeta]] sidecar: kind, param,
  *                                   token, n_rows and (IVF) the KB-sized
  *                                   centroid table — all control-plane
  *                                   state is one driver-side file read,
  *                                   zero Spark jobs */
object AnnIndex {

  /** An index's committed meta, typed: the [[StoreMeta]] entries with the
    * geometry (centroids, PQ codebooks) and append batches parsed. */
  private final case class Meta(kind: String, param: Int, token: Long,
      nRows: Long, centroids: Array[Array[Double]] = Array.empty,
      batches: Seq[String] = Seq.empty, pq: Option[Pq.PqModel] = None) {
    def store: StoreMeta = StoreMeta.of(
      Seq("kind" -> kind, "param" -> param, "token" -> token, "n_rows" -> nRows) ++
        (if (centroids.isEmpty) Nil
         else Seq("centroids" -> centroids.map(_.mkString(",")).mkString(";"))) ++
        (if (batches.isEmpty) Nil else Seq("batches" -> batches.mkString(","))) ++
        // bounded by the committed model (m*k*dsub), never by the data
        pq.toSeq.flatMap(p => Seq("pq_m" -> p.m, "pq_dsub" -> p.dsub,
          "pq_cb" -> p.codebooks.map(_.map(_.mkString(",")).mkString(";")).mkString("|"))): _*)
  }

  private object Meta {
    def from(m: StoreMeta): Meta = {
      def doubles(s: String) = s.split(',').map(java.lang.Double.parseDouble)
      Meta(m("kind"), m("param").toInt, m("token").toLong, m("n_rows").toLong,
        m.get("centroids").filter(_.nonEmpty)
          .fold(Array.empty[Array[Double]])(_.split(';').map(doubles)),
        m.get("batches").fold(Seq.empty[String])(_.split(',').toSeq.filter(_.nonEmpty)),
        m.get("pq_cb").filter(_.nonEmpty).map(cb => Pq.PqModel(m("pq_m").toInt,
          m("pq_dsub").toInt, cb.split('|').map(_.split(';').map(doubles)))))
    }
  }

  /** The committed meta of an index of one of `kinds` (the [[StoreMeta]]
    * kind guard: anything else throws). */
  private def readMeta(spark: SparkSession, dir: String, kinds: String*): Meta =
    Meta.from(StoreMeta.expect(spark, dir, kinds: _*))

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

  /** Cluster the placed rows by their partition column (+ a bounded salt)
    * and write them partitioned by it: unclustered, every task emits a file
    * per bucket it sees (tasks x buckets tiny files); clustered, each
    * bucket writes at most `filesPerBucket` files, over a data-derived
    * task count ([[writeTasks]]). */
  private def writePlaced(placed: DataFrame, partCol: String, nRows: Long,
      nBuckets: Int, filesPerBucket: Int, mode: SaveMode, path: String): Unit =
    placed
      .repartition(writeTasks(placed.sparkSession, nRows, nBuckets, filesPerBucket),
        col(partCol), pmod(xxhash64(col("vec_id")), lit(filesPerBucket)))
      .write.mode(mode).partitionBy(partCol).parquet(path)

  /** The one append protocol of [[appendLsh]], [[appendIvf]] and
    * [[appendIvfPq]]. `place` checks the committed geometry and returns the
    * batch with its partition column assigned from it (lazily: no job).
    *
    * Without a `batchId` (direct mode) the batch is an O(batch) parquet
    * Append into the base bucket partitions. It is NOT replay-safe (the
    * Append is visible at once), so the meta is invalidated BEFORE it: a
    * crash between the data append and the final meta write must not leave
    * meta.token equal to the base token, or a later build over the
    * original source would short-circuit on freshness and serve the
    * half-appended index as "the fresh index of frame X". The in-progress
    * token differs from both the base and the final token, so any crash
    * window degrades to a rebuild — never a stale reuse.
    *
    * With a `batchId` (exactly-once, the TranscriptTable pattern) the
    * batch is STAGED under its own `append=<id>` prefix — invisible,
    * because probes read only batch dirs listed in the committed meta —
    * and becomes visible atomically with the final meta. A crash in
    * between leaves an orphan staging dir that the replay Overwrites
    * before committing; a replay after commit no-ops on the id check. */
  private def append(newVecs: DataFrame, dir: String, kind: String,
      filesPerBucket: Int, batchId: String)(place: Meta => DataFrame): Unit = {
    val spark = newVecs.sparkSession
    val meta = readMeta(spark, dir, kind)
    val placed = place(meta)
    if (batchId != null && meta.batches.contains(batchId)) return // replayed
    val n = newVecs.count()
    if (n == 0) return
    val (partCol, nBuckets) =
      if (kind == "lsh") ("srp_bucket", 1 << meta.param) else ("ivf_cell", meta.param)
    if (batchId == null) {
      StoreMeta.write(spark, dir, meta.copy(token = inProgressToken(meta.token)).store)
      writePlaced(placed, partCol, n, nBuckets, filesPerBucket, SaveMode.Append, dir)
    } else {
      requireValidBatchId(batchId)
      writePlaced(placed, partCol, n, nBuckets, filesPerBucket, SaveMode.Overwrite,
        s"$dir/append=$batchId")
    }
    StoreMeta.write(spark, dir, meta.copy(
      token = appendToken(meta.token, newVecs, n, batchId),
      nRows = meta.nRows + n,
      batches = if (batchId == null) meta.batches else meta.batches :+ batchId).store)
  }

  // ------------------------------------------------------------------- LSH
  private def lshPlaced(df: DataFrame, nBits: Int): DataFrame =
    df.withColumn("srp_bucket", Similarity.srpBucketUdf(nBits)(col("embedding")))

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
    val token = StoreMeta.inputToken(embeddings)
    if (!rebuild && StoreMeta.fresh(spark, dir, "lsh", token,
        _("param") == nBits.toString)) return
    val nRows = embeddings.count() // build-time only; parquet footer metadata
    if (nRows > 0)
      writePlaced(lshPlaced(embeddings, nBits), "srp_bucket", nRows, 1 << nBits,
        filesPerBucket, SaveMode.Overwrite, dir)
    StoreMeta.write(spark, dir, Meta("lsh", nBits, token.getOrElse(0L), nRows).store)
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
    * `batchId` (exactly-once mode, see [[append]]): replays of a committed
    * id no-op — safe under an at-least-once upstream (Structured Streaming
    * foreachBatch). Lifecycle: each committed batch adds one pruned probe
    * source, so after many appends fold them back with
    * `buildLsh(source, dir, rebuild = true)` in the maintenance window — a
    * rebuild is crash-recoverable by rerun, which is why no bespoke
    * in-place append-compaction exists. Single WRITER per dir assumed,
    * like the builds: two concurrent appenders would race on the meta
    * read-modify-write (a streaming query is naturally a single writer). */
  def appendLsh(newVecs: DataFrame, dir: String, filesPerBucket: Int = 1,
      batchId: String = null): Unit =
    append(newVecs, dir, "lsh", filesPerBucket, batchId)(m => lshPlaced(newVecs, m.param))

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
    StoreMeta.inputToken(newVecs).foreach(fold)
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
    val meta = readMeta(spark, dir, "lsh")
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
    nonEmpty.map { case (base, probed) =>
        spark.read.option("basePath", base).parquet(probed: _*)
          .select(col("vec_id"), col("srp_bucket"), col("embedding"))
      }
      .reduce(_.unionByName(_))
      .filter(col("srp_bucket").isin(probes: _*)) // belt over the path pruning
      .withColumn("cosine",
        Similarity.cosineSimExpr(col("embedding"), typedLit(query)))
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
  private def ivfPlaced(df: DataFrame, centers: Array[Array[Double]]): DataFrame = {
    val kern = new Similarity.CentroidKernel(centers)
    val cellUdf = udf((v: Seq[Float]) => kern.nearest(v))
    df.withColumn("ivf_cell", cellUdf(col("embedding")))
  }

  def buildIvf(embeddings: DataFrame, dir: String, nCells: Int = 16,
      rebuild: Boolean = false, filesPerBucket: Int = 1): Unit = {
    val spark = embeddings.sparkSession
    // before the barrier — needs file lineage
    val token = StoreMeta.inputToken(embeddings)
    if (!rebuild && StoreMeta.fresh(spark, dir, "ivf", token,
        _("param") == nCells.toString)) return
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
      writePlaced(ivfPlaced(emb, centers), "ivf_cell", nRows, nCells,
        filesPerBucket, SaveMode.Overwrite, dir)
    }
    StoreMeta.write(spark, dir,
      Meta("ivf", nCells, token.getOrElse(0L), nRows, centroids = centers).store)
  }

  /** IVF twin of [[appendLsh]]: assign the new batch to cells with the
    * COMMITTED centroids (no re-training — the partitioning geometry of an
    * index must not move under append, or existing rows would sit in the
    * wrong cells; periodic re-training is a rebuild, not an append) and
    * append files under the cell partitions. Token folds, rows add up,
    * probe equivalence with a rebuild-on-union-at-fixed-centroids is
    * pinned in AnnIndexSpec. */
  def appendIvf(newVecs: DataFrame, dir: String, filesPerBucket: Int = 1,
      batchId: String = null): Unit =
    append(newVecs, dir, "ivf", filesPerBucket, batchId) { m =>
      require(m.centroids.nonEmpty, s"$dir has no committed centroids")
      ivfPlaced(newVecs, m.centroids)
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
    val meta = readMeta(spark, dir, "ivf")
    if (meta.nRows == 0L) return emptyProbe(spark, "ivf_cell")
    val readProbed = probedReader(spark, dir, meta, query, k, nProbe)
      .getOrElse(return emptyProbe(spark, "ivf_cell"))
    readProbed(Seq("vec_id", "ivf_cell", "embedding"))
      .withColumn("cosine",
        Similarity.cosineSimExpr(col("embedding"), typedLit(query)))
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
    val token = StoreMeta.inputToken(embeddings)
    // freshness must also pin the PQ shape: same (kind, nCells, token) with
    // a different (m, kCodes) is a DIFFERENT index. Compare against what
    // THIS build would train, not the raw request: localKMeans caps codes
    // at the sample size, so a corpus smaller than kCodes commits fewer
    // codes — comparing p.k == kCodes would declare such an index
    // permanently stale and re-run the full build on every call (a token
    // match implies no appends, so n_rows is the build-time count)
    if (!rebuild && StoreMeta.fresh(spark, dir, "ivfpq", token, { s =>
        val mm = Meta.from(s)
        val expectK = math.min(kCodes.toLong, math.max(1L, mm.nRows)).toInt
        mm.param == nCells && mm.pq.exists(p => p.m == m && p.k == expectK)
      })) return
    val emb = embeddings.localCheckpoint() // count + 2 trainers + write
    val nRows = emb.count()
    var centers: Array[Array[Double]] = Array.empty
    var model: Option[Pq.PqModel] = None
    if (nRows > 0) {
      centers = Similarity.trainCentroids(emb, nCells)
      model = Some(Pq.train(emb, m = m, k = kCodes))
      writePlaced(ivfPqPlaced(emb, centers, model.get), "ivf_cell", nRows,
        nCells, filesPerBucket, SaveMode.Overwrite, dir)
    }
    StoreMeta.write(spark, dir, Meta("ivfpq", nCells, token.getOrElse(0L), nRows,
      centroids = centers, pq = model).store)
  }

  /** Cell and PQ code of every vector at the given geometry, from ONE
    * deserialization of the vector per row. */
  private def ivfPqPlaced(df: DataFrame, centers: Array[Array[Double]],
      model: Pq.PqModel): DataFrame = {
    val cellKern = new Similarity.CentroidKernel(centers)
    val codeKerns = model.codebooks.map(cb => new Similarity.CentroidKernel(cb))
    val m = model.m; val dsub = model.dsub
    val encUdf = udf { (v: Seq[Float]) =>
      require(v.length == m * dsub, // the Pq.encode guard — never encode a prefix
        s"embedding dim ${v.length} != index dim ${m * dsub}")
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
    df.withColumn("enc", encUdf(col("embedding")))
      .select(col("vec_id"), col("embedding"),
        col("enc._1").as("ivf_cell"), col("enc._2").as("pq_code"))
  }

  /** Exactly-once / direct append at the COMMITTED geometry (cells and
    * codebooks never move under append) — contracts identical to
    * [[appendIvf]]. */
  def appendIvfPq(newVecs: DataFrame, dir: String, filesPerBucket: Int = 1,
      batchId: String = null): Unit =
    append(newVecs, dir, "ivfpq", filesPerBucket, batchId) { m =>
      require(m.centroids.nonEmpty && m.pq.nonEmpty, s"$dir has no committed geometry")
      ivfPqPlaced(newVecs, m.centroids, m.pq.get)
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
    val meta = readMeta(spark, dir, "ivfpq")
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
    readProbed(Seq("vec_id", "ivf_cell", "embedding"))
      .filter(col("vec_id").isin(shortlist: _*))
      .withColumn("cosine",
        Similarity.cosineSimExpr(col("embedding"), typedLit(query)))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "ivf_cell", "cosine")
  }

  /** The IVF and IVF-PQ probes' pruned reader: centroid ranking
    * driver-side, one namespace listing, a column-selected union over ONLY
    * the probed cell dirs (base + committed append batches). None when
    * nothing is probed. */
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
    val meta = readMeta(spark, dir, "ivfpq")
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
    val m = readMeta(spark, dir, "lsh", "ivf", "ivfpq")
    Seq((m.kind, m.param, m.nRows, m.centroids.length))
      .toDF("kind", "param", "n_rows", "n_centroids")
  }
}
