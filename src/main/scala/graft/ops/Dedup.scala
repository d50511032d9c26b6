package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators over a `documents`
  * table (doc_id, text, ...). All are shuffle-on-key designs that hold at
  * 100 TB: signatures are computed map-side (one pass per row), candidate
  * generation is an equi-join on small keys (band hash / bit segment), and
  * only candidate pairs — a tiny fraction — are verified. */
object Dedup {

  // ----------------------------------------------------------- exact dedup
  /** Exact duplicate groups by content hash. Map-side partial aggregation;
    * one shuffle on the 128-bit digest. */
  def exactGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(count(lit(1)).as("n_dupes"), min(col("doc_id")).as("keeper_doc_id"))

  /** Keep one row per distinct text (the minimum doc_id wins). Implemented
    * as groupBy + semi-join rather than a window: a window partitioned by
    * content hash sends every copy of a viral duplicate to ONE task, while
    * the aggregate path combines map-side and the semi-join shuffles on the
    * well-distributed doc_id. */
  def exactDedup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val keepers = exactGroups(docs, textCol).select(col("keeper_doc_id").as("doc_id"))
    docs.join(keepers, Seq("doc_id"), "left_semi")
  }

  // ------------------------------------------------------------- minhash
  val MinhashPerms = 64
  val MinhashBands = 16 // 16 bands x 4 rows
  private val MersennePrime = (1L << 61) - 1

  /** Word-3-shingle MinHash signature (64 perms). Deterministic a/b from
    * splitmix64 so signatures are reproducible across runs/executors. */
  def minhashSignature(text: String): Array[Long] = {
    val tokens = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val sig = Array.fill(MinhashPerms)(Long.MaxValue)
    if (tokens.length < 3) {
      // degenerate docs: hash whole-token shingles
      tokens.zipWithIndex.foreach { case (t, _) => updateSig(sig, t.hashCode.toLong & 0xffffffffL) }
      return sig
    }
    var i = 0
    while (i + 2 < tokens.length) {
      val shingle = tokens(i) + " " + tokens(i + 1) + " " + tokens(i + 2)
      updateSig(sig, xx(shingle))
      i += 1
    }
    sig
  }

  private def xx(s: String): Long = {
    // FNV-1a 64 over UTF-8 — stable, allocation-free
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  private val PermA: Array[Long] =
    Array.tabulate(MinhashPerms)(p => graft.jobs.Synth.mix(1000 + p) | 1L)
  private val PermB: Array[Long] =
    Array.tabulate(MinhashPerms)(p => graft.jobs.Synth.mix(2000 + p))

  private def updateSig(sig: Array[Long], x0: Long): Unit = {
    val x = x0 & Long.MaxValue
    var p = 0
    while (p < MinhashPerms) {
      val v = ((PermA(p) * x + PermB(p)) % MersennePrime) & Long.MaxValue
      if (v < sig(p)) sig(p) = v
      p += 1
    }
  }

  val minhashUdf = udf((text: String) => minhashSignature(text))

  /** Band hashes for LSH bucketing: MinhashBands keys per doc. */
  val bandHashesUdf = udf((sig: Seq[Long]) => {
    val rows = MinhashPerms / MinhashBands
    (0 until MinhashBands).map { b =>
      var h = 0xcbf29ce484222325L ^ b
      var r = 0
      while (r < rows) { h ^= sig(b * rows + r); h *= 0x100000001b3L; r += 1 }
      h
    }
  })

  /** Near-duplicate pairs via MinHash LSH, exact-verified:
    * signature -> band buckets -> self-join within bucket (doc ids only) ->
    * estimated-Jaccard filter from signatures -> exact 3-gram Jaccard on the
    * surviving pairs. Shuffles on (band, bucket_hash) then on doc_id.
    *
    * Plan shape (the 100 TB contract):
    *  - the 64-perm signature UDF runs EXACTLY ONCE per document: `sigs` is
    *    materialized behind a barrier (localCheckpoint) so the self-join's
    *    two branches and the estimate join all read the computed table
    *    instead of re-deriving the UDF from the raw scan (Catalyst would
    *    otherwise expand it 4-6x across the self-join branches);
    *  - the exploded band join carries only (band, bucket, doc_id) — the
    *    64-long signatures do NOT ride through the join; estimates come from
    *    re-joining the candidate ids to the narrow sigs table;
    *  - texts are only touched again for the tiny surviving pair set.
    * In a cluster deployment the barrier can equivalently be a temp parquet
    * table of (doc_id, sig) — same single-evaluation guarantee. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.8, textCol: String = "text",
      maxBucket: Int = 1000): DataFrame = {
    val sigs = docs.select(col("doc_id"), minhashUdf(col(textCol)).as("sig"))
      .localCheckpoint()
    val banded0 = sigs
      .select(col("doc_id"), posexplode(bandHashesUdf(col("sig"))).as(Seq("band", "bucket")))
    // hot-bucket guard: a degenerate bucket (e.g. near-empty docs) would
    // blow up quadratically at 100 TB; cap candidates per bucket and surface
    // the dropped buckets to exact dedup instead (they are exact-dup-like)
    val hot = banded0.groupBy(col("band"), col("bucket"))
      .count().filter(col("count") > maxBucket)
      .select(col("band"), col("bucket"))
    val banded = banded0.join(hot, Seq("band", "bucket"), "left_anti")
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val estJaccard = udf((x: Seq[Long], y: Seq[Long]) =>
      x.zip(y).count { case (u, v) => u == v }.toDouble / x.length)
    // SCREENING, not the decision: the 64-perm estimate has stddev
    // ~sqrt(J(1-J)/64) ≈ 0.06 near J=0.7, so screening at the final
    // threshold would drop ~40% of true pairs sitting just above it.
    // Screen with a 0.2 margin (P[est < J-0.2] < 1e-3 for J >= threshold)
    // and let the EXACT Jaccard below make the call — recall stays intact
    // while the expensive text join still only sees near-threshold pairs.
    val screen = math.max(0.0, threshold - 0.2)
    val est = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= screen)
    // exact verification: join the few survivors back to the texts
    est
      .join(docs.select(col("doc_id").as("doc_a"), col(textCol).as("text_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col(textCol).as("text_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        jaccardUdf(col("text_a"), col("text_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---------------------------------------------------- duplicate clusters
  /** Duplicate CLUSTERS from near-dup pairs: connected components by
    * iterated hash-min label propagation. Real pipelines dedup by cluster
    * keeper, not by pair list — A~B and B~C must collapse into one cluster
    * even though (A, C) is not itself a pair.
    *
    * Scale shape: the label frame is (doc_id, cluster_id) — tiny next to
    * the corpus, keyed on the well-distributed doc_id — and each round is
    * one neighbor-min join + one pointer-jump join, barriered with
    * localCheckpoint so lineage stays flat across iterations. The pointer
    * jump (comp(v) := min over one hop of comp(comp(v)), i.e. path
    * halving) turns plain hash-min's O(component diameter) rounds into
    * O(log diameter): a pathological 10k-long near-dup chain converges in
    * ~14 rounds instead of 10k. `maxIter` hard-bounds the loop, and a loop
    * that stops there unconverged throws. The per-round changed-count is an
    * aggregate over the already-materialized checkpoint, not a recompute.
    *
    * Output: (doc_id, cluster_id = min doc_id of its component), one row
    * per doc appearing in >= 1 pair. Oracle: DuckDB recursive-CTE
    * transitive closure over the exact all-pairs ground truth. */
  /** Pair sets at or under this size are clustered driver-side (union-find
    * over collected boxed (long, long) edges and a boxed HashMap) instead
    * of through the iterative join loop: the loop costs 4+ Spark actions
    * PER ROUND (~1.5 s on the driver bench for a 3-round converge over a
    * few dozen pairs), the collect path one action. Driver heap at the cap
    * (live heap after a full GC, sampled every 50 ms during the call; JDK
    * 17, G1): +607 MB for 2M pairs over 2.29M docs in 8-doc clusters,
    * +1,140 MB for 2M disjoint pairs (4M docs). Near-dup pair counts are a
    * tiny fraction of corpus size; beyond the cap the logarithmic label-
    * propagation loop below takes over. Both paths emit the identical
    * (doc_id, cluster_id = min component member) rows. */
  private val MaxDriverPairs = 2000000L

  /** `maxDriverPairs` overrides the fast-path cap — tests force the
    * iterative path with 0 (DedupClustersPathSpec pins both paths equal);
    * production callers use the default. */
  def duplicateClusters(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", maxIter: Int = 25,
      maxDriverPairs: Long = MaxDriverPairs): DataFrame = {
    // barrier the pair pipeline BEFORE the union: both union branches (and
    // everything downstream) must read the computed pair set, not re-run
    // the LSH join + exact verification per branch
    val pairs = minhashPairs(docs, threshold, textCol)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val nPairs = pairs.count() // reads the materialized checkpoint only
    if (nPairs <= maxDriverPairs) return driverClusters(docs.sparkSession, pairs)
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("doc_b"),
          col("cluster_id").as("nbr_cluster")), Seq("doc_b"))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("nbr_cluster")).as("nbr_min"))
      val stepped = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("mid"),
          col("cluster_id").as("old_cluster"))
        .localCheckpoint() // read twice below (jump source + target)
      // pointer jump / path halving: mid values are themselves doc ids of
      // endpoints, so follow them one hop — comp(comp(v)) — before the
      // next round; this is what makes convergence logarithmic
      val jumpTo = stepped.select(col("doc_id").as("jump_key"),
        col("mid").as("mid_of_mid"))
      val next = stepped
        .join(jumpTo, stepped("mid") === jumpTo("jump_key"), "left")
        .select(stepped("doc_id"),
          least(stepped("mid"), coalesce(col("mid_of_mid"), stepped("mid")))
            .as("new_cluster"),
          stepped("old_cluster"))
        .localCheckpoint()
      changed = next.filter(col("new_cluster") =!= col("old_cluster")).count()
      labels = next.select(col("doc_id"), col("new_cluster").as("cluster_id"))
      it += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"duplicateClusters: not converged at maxIter = $maxIter ($changed labels changed in the last round)")
    labels
  }

  /** Exact connected components over a bounded collected pair set:
    * union-find with path compression, roots kept at the component's
    * minimum doc_id (union-by-min), so the emitted labels equal the
    * iterative path's fixpoint by construction. */
  private def driverClusters(spark: org.apache.spark.sql.SparkSession,
      pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val edges = pairs.as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path-compress as we walk
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = p; p = gp
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    val it = parent.keySet().iterator()
    while (it.hasNext) { val d = it.next(); out += ((d, find(d))) }
    out.toSeq.toDF("doc_id", "cluster_id")
  }

  /** "No silent caps" diagnostic: the (band, bucket, count) rows that
    * [[minhashPairs]] excludes from candidate generation at this
    * `maxBucket`. Capped buckets are degenerate clusters (near-empty or
    * boilerplate-identical docs) whose members exact dedup already
    * collapses; a pipeline at scale surfaces THIS table in its audit
    * output next to the pair counts, so a cap never reads as "no
    * duplicates there". */
  def minhashCappedBuckets(docs: DataFrame, maxBucket: Int = 1000,
      textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), minhashUdf(col(textCol)).as("sig"))
      .select(col("doc_id"), posexplode(bandHashesUdf(col("sig"))).as(Seq("band", "bucket")))
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  /** Near-duplicate-aware corpus dedup: keep ONE doc per duplicate cluster
    * (the min-doc_id keeper) plus every unclustered doc — the operator a
    * training pipeline actually runs. The drop set (cluster members that
    * are not their cluster's keeper) is tiny next to the corpus, so the
    * final pass is one anti-join shuffled on the well-distributed doc_id. */
  def nearDedup(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame = {
    val drop = duplicateClusters(docs, threshold, textCol)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------------- incremental dedup
  /** Drop from `incoming` every doc that exactly matches a corpus doc —
    * the per-batch half of incremental ingestion (md5 anti-join; both
    * hashes computed map-side, one shuffle on the digest). */
  def exactDedupAgainst(incoming: DataFrame, corpus: DataFrame,
      textCol: String = "text"): DataFrame = {
    val seen = corpus.select(md5(col(textCol)).as("__h")).distinct()
    incoming.withColumn("__h", md5(col(textCol)))
      .join(seen, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Incremental NEAR-dedup: drop from `incoming` every doc whose 3-gram
    * Jaccard against SOME `corpus` doc reaches `threshold` — "dedup the
    * new crawl against what we already have", the operator an ongoing
    * pipeline runs every batch (self-join dedup only covers the first).
    *
    * Same plan discipline as [[minhashPairs]]: signatures once per side
    * behind barriers, banded candidate join carrying ids only, screen by
    * signature estimate, exact verify on survivors, then ONE anti-join of
    * `incoming` against the matched-id set. The hot-bucket cap is taken on
    * the CORPUS side (the unbounded one); capped buckets genuinely skip
    * NEAR-dup detection, but an EXACT md5 fallback
    * ([[exactDedupAgainst]], `exactFallback = true`) is composed in so an
    * incoming doc byte-identical to a capped-bucket corpus doc still
    * drops, and [[nearDedupAgainstCappedBuckets]] surfaces the skipped
    * buckets as an audit table ("no silent caps").
    *
    * `corpusSigs`: optional precomputed (doc_id, sig) frame (see
    * [[buildSignatureStore]]) — at scale the corpus signature pass dwarfs
    * the batch, so an ongoing pipeline computes it ONCE per corpus
    * version, not once per batch. */
  def nearDedupAgainst(incoming: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, textCol: String = "text",
      maxBucket: Int = 1000, corpusSigs: Option[DataFrame] = None,
      exactFallback: Boolean = true): DataFrame = {
    // base is read by THREE downstream consumers (signature pass, text
    // re-join, final anti-join); unbarriered, the exact-fallback anti-join
    // (an O(corpus) md5+distinct pass) would re-run per consumer — the
    // same defect class as the round-1 minhash barrier (review finding).
    // The base and corpus-signature barriers are INDEPENDENT jobs, so they
    // run concurrently (guide §2.6 — r8).
    val (base, sigCor) = graft.util.Par.eval2(
      (if (exactFallback) exactDedupAgainst(incoming, corpus, textCol)
       else incoming).localCheckpoint(),
      corpusSigs.getOrElse(
        corpus.select(col("doc_id"), minhashUdf(col(textCol)).as("sig"))
          .localCheckpoint()))
    val sigInc = base.select(col("doc_id"), minhashUdf(col(textCol)).as("sig"))
      .localCheckpoint()
    def banded(sigs: DataFrame, idAs: String) = sigs
      .select(col("doc_id").as(idAs),
        posexplode(bandHashesUdf(col("sig"))).as(Seq("band", "bucket")))
    val bCor0 = banded(sigCor, "cor_id")
    val hot = bCor0.groupBy(col("band"), col("bucket"))
      .count().filter(col("count") > maxBucket)
      .select(col("band"), col("bucket"))
    val bCor = bCor0.join(hot, Seq("band", "bucket"), "left_anti")
    val bInc = banded(sigInc, "inc_id").join(hot, Seq("band", "bucket"), "left_anti")
    val cand = bInc.join(bCor, Seq("band", "bucket"))
      .select(col("inc_id"), col("cor_id"))
      .distinct()
    val estJaccard = udf((x: Seq[Long], y: Seq[Long]) =>
      x.zip(y).count { case (u, v) => u == v }.toDouble / x.length)
    val screen = math.max(0.0, threshold - 0.2) // same margin as minhashPairs
    val matched = cand
      .join(sigInc.select(col("doc_id").as("inc_id"), col("sig").as("sig_i")), Seq("inc_id"))
      .join(sigCor.select(col("doc_id").as("cor_id"), col("sig").as("sig_c")), Seq("cor_id"))
      .filter(estJaccard(col("sig_i"), col("sig_c")) >= screen)
      .join(base.select(col("doc_id").as("inc_id"), col(textCol).as("text_i")), Seq("inc_id"))
      .join(corpus.select(col("doc_id").as("cor_id"), col(textCol).as("text_c")), Seq("cor_id"))
      .filter(jaccardUdf(col("text_i"), col("text_c")) >= threshold)
      .select(col("inc_id").as("doc_id"))
      .distinct()
    base.join(matched, Seq("doc_id"), "left_anti")
  }

  /** "No silent caps" audit twin of [[nearDedupAgainst]]: the (band,
    * bucket, n_docs) corpus buckets that the incremental near-dedup skips
    * at this `maxBucket` — mirror of [[minhashCappedBuckets]] for the
    * corpus side. A pipeline surfaces this table next to its drop counts
    * so a cap never reads as "no near-duplicates there"; exact matches
    * inside capped buckets are still covered by the composed
    * [[exactDedupAgainst]] fallback. */
  def nearDedupAgainstCappedBuckets(corpus: DataFrame, maxBucket: Int = 1000,
      textCol: String = "text"): DataFrame =
    minhashCappedBuckets(corpus, maxBucket, textCol)

  /** Persisted MinHash signature store: (doc_id, sig) parquet + a
    * metadata-only freshness token ([[StoreMeta]] — input file listing,
    * no data scan). Build is a one-pass map + write; a repeat call on an
    * unchanged corpus runs ZERO Spark jobs. The signature pass is the
    * expensive half of near-dedup, and it depends only on the corpus —
    * an ongoing ingestion pipeline runs it per corpus VERSION, then feeds
    * [[nearDedupAgainst]] per batch via `corpusSigs`. */
  def buildSignatureStore(docs: DataFrame, dir: String,
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val token = StoreMeta.inputToken(docs)
    if (StoreMeta.fresh(spark, dir, "minhash", token)) return
    docs.select(col("doc_id"), minhashUdf(col(textCol)).as("sig"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/sigs")
    StoreMeta.write(spark, dir,
      StoreMeta.of("kind" -> "minhash", "token" -> token.getOrElse(0L)))
  }

  def readSignatureStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(s"$dir/sigs")

  /** Incrementally extend the signature store with `newDocs`' signatures —
    * O(batch) instead of [[buildSignatureStore]]'s O(corpus) recompute,
    * the store-maintenance step of an ongoing pipeline's batch tick.
    * `corpusToken` is the freshness token of the corpus AS OF after this
    * batch (the caller commits the batch to its table first, then passes
    * `StoreMeta.inputToken(table read)`), so the next tick's freshness
    * check matches exactly when the corpus hasn't moved otherwise.
    * Single writer per dir assumed, like the build; a dir holding no
    * signature store throws before anything is written ([[StoreMeta]]). */
  def appendSignatureStore(newDocs: DataFrame, dir: String,
      corpusToken: Option[Long], textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    val meta = StoreMeta.expect(spark, dir, "minhash")
    newDocs.select(col("doc_id"), minhashUdf(col(textCol)).as("sig"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$dir/sigs")
    StoreMeta.write(spark, dir, meta.updated("token" -> corpusToken.getOrElse(0L)))
  }

  // -------------------------------------------------------------- simhash
  /** 64-bit SimHash over token unigrams (token frequency weighted),
    * parametrized by the per-token hash so the oracle variant below can
    * swap in a DuckDB-recomputable hash without duplicating the kernel. */
  def simhashWith(text: String, tokenHash: String => Long): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      .foreach(t => counts(t) = counts.getOrElse(t, 0) + 1)
    val acc = new Array[Int](64)
    counts.foreach { case (t, w) =>
      val h = tokenHash(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += w else acc(b) -= w
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Production kernel: FNV-1a token hash (allocation-free, fastest). */
  def simhash(text: String): Long = simhashWith(text, xx)

  /** DuckDB `md5_number_lower` semantics: LAST 8 bytes of the md5 digest,
    * little-endian — the token hash the driver's oracle can recompute. */
  def md5Lower64(tok: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8"))
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  /** Oracle-checkable simhash: same bit-aggregation math, md5 token hash. */
  def simhashMd5(text: String): Long = simhashWith(text, md5Lower64)

  val simhashUdf = udf((text: String) => simhash(text))
  val simhashMd5Udf = udf((text: String) => simhashMd5(text))

  /** Static entry for the [[SimHash64]] codegen path (same kernel). */
  def simhashUtf8(s: org.apache.spark.unsafe.types.UTF8String): Long =
    simhash(s.toString)

  /** Near-dup pairs with Hamming distance <= maxDist via pigeonhole
    * blocking: split the 64-bit hash into (maxDist+1) segments; any pair
    * within maxDist must agree on at least one segment — join per segment. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, textCol: String = "text",
      maxBucket: Int = 1000,
      hashFn: Column => Column = HashExprs.simhash64): DataFrame = {
    val nSeg = maxDist + 1
    val segWidth = 64 / nSeg
    val segUdf = udf((h: Long) =>
      (0 until nSeg).map(s => (s.toLong << 32) | ((h >>> (s * segWidth)) & ((1L << segWidth) - 1))))
    // barrier: one simhash evaluation per doc (the self-join below would
    // otherwise re-derive it on both branches); (doc_id, long) is tiny.
    // Default hashFn is the native SimHash64 expression: stays inside
    // whole-stage codegen.
    val hashes = docs.select(col("doc_id"),
        hashFn(col(textCol)).as("simhash"))
      .localCheckpoint()
    val hashed0 = hashes.withColumn("seg", explode(segUdf(col("simhash"))))
    val hotSegs = hashed0.groupBy(col("seg")).count()
      .filter(col("count") > maxBucket).select(col("seg"))
    val hashed = hashed0.join(hotSegs, Seq("seg"), "left_anti")
    val a = hashed.select(col("seg"), col("doc_id").as("doc_a"), col("simhash").as("h_a"))
    val b = hashed.select(col("seg"), col("doc_id").as("doc_b"), col("simhash").as("h_b"))
    val hamming = udf((x: Long, y: Long) => java.lang.Long.bitCount(x ^ y))
    a.join(b, Seq("seg"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), hamming(col("h_a"), col("h_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ---------------------------------------------------- decontamination
  /** Distinct word n-grams of a text for [[contaminatedDocs]]. Unlike
    * [[grams3]] (whole-token fallback for tiny docs — dedup wants SOME
    * signal), a doc with fewer than n tokens yields NO grams here: the
    * 13-gram decontamination recipe never flags texts too short to carry
    * an n-gram (Brown et al. 2020, App. C). */
  private[ops] def gramsOfN(s: String, n: Int): Seq[String] = {
    if (s == null) return Seq.empty // null text rows must not kill the job
    val t = s.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (t.length < n) Seq.empty
    else t.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  /** Benchmark-contamination audit: for each corpus doc, how many of its
    * DISTINCT word n-grams appear anywhere in the benchmark/eval set —
    * the GPT-3 13-gram overlap recipe, run before pretraining so eval
    * questions cannot leak into training data.
    *
    * Scale shape: the benchmark's distinct gram set is tiny next to the
    * corpus, so it BROADCASTS; the corpus side explodes to (doc_id, gram)
    * map-side and the broadcast semi-join moves NO corpus bytes through a
    * shuffle — the only exchange is the hit aggregation, bounded by the
    * contamination rate, not the corpus size. */
  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
      textCol: String = "text"): DataFrame = {
    val gramsUdf = udf((s: String) => gramsOfN(s, n))
    val bGrams = benchmark
      .select(explode(gramsUdf(col(textCol))).as("gram")).distinct()
    corpus.select(col("doc_id"), explode(gramsUdf(col(textCol))).as("gram"))
      .join(broadcast(bGrams), Seq("gram"))
      // grams are distinct per doc (gramsOfN), so count(*) counts the
      // doc's DISTINCT contaminated grams
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_grams"))
  }

  /** The corpus minus every contaminated doc (anti-join on the bounded
    * audit frame). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
      textCol: String = "text"): DataFrame =
    corpus.join(contaminatedDocs(corpus, benchmark, n, textCol).select("doc_id"),
      Seq("doc_id"), "left_anti")

  // -------------------------------------------------- n-gram Jaccard verify
  /** Exact word-n-gram Jaccard for a (small) candidate pair set: joins the
    * candidates back to texts (broadcast the candidate side at scale). */
  private[ops] def grams3(s: String): Set[String] = {
    val t = s.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (t.length < 3) t.toSet else t.sliding(3).map(_.mkString(" ")).toSet
  }

  val jaccardUdf = udf((a: String, b: String) => {
    val (ga, gb) = (grams3(a), grams3(b))
    if (ga.isEmpty && gb.isEmpty) 1.0
    else ga.intersect(gb).size.toDouble / ga.union(gb).size
  })

  /** Integer-exact Jaccard stats for oracle-checkable verification:
    * (|grams(a)|, |grams(b)|, |∩|, |∪|, jaccard). Integer counts hash
    * exactly across engines; the double is the same int/int division. */
  val jaccardStatsUdf = udf((a: String, b: String) => {
    val (ga, gb) = (grams3(a), grams3(b))
    val inter = ga.intersect(gb).size
    val uni = ga.union(gb).size
    val j = if (uni == 0) 1.0 else inter.toDouble / uni
    (ga.size.toLong, gb.size.toLong, inter.toLong, uni.toLong, j)
  })
}
