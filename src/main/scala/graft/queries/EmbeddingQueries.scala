package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{AnnIndex, Similarity}
import graft.queries.Query.{by, t, tmpDir}

/** ANN probes (brute, LSH, IVF, IVF-PQ, PQ) and their persisted indexes,
  * embedding near-dup and SemDeDup, pair cosine and bitext mining over
  * the embeddings table. */
object EmbeddingQueries {

  /** The query vector of the ANN rows: the first embedding by vec_id. */
  private def firstVec(emb: DataFrame): Array[Float] =
    emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray

  /** A top-k probe's rank form: integer rank + 6-decimal cosine (engines
    * differ by ~1 ulp in fp64 accumulation; rank gaps are >=8e-6 on this
    * data so both columns are stable across engines). The constant-valued
    * partition key keeps WindowExec from warning about a global window —
    * the input is the already-limited top-k, so a single partition is the
    * point, not a hazard. pmod(vec_id, 1) is 0 for every row but
    * non-foldable, so the optimizer can't strip it the way it strips a
    * bare literal. */
  private def rankForm(topK: DataFrame): DataFrame = {
    val w = Window.partitionBy(pmod(col("vec_id"), lit(1)))
      .orderBy(col("cosine").desc, col("vec_id"))
    topK.withColumn("rank", row_number().over(w))
      .select(col("vec_id"), col("rank"), round(col("cosine"), 6).as("cosine_r6"))
  }

  /** The planted-duplicate union: embeddings < 500 plus an id-shifted
    * (+100000) copy of themselves. */
  private def plantedUnion(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      .select("vec_id", "embedding")
    e.unionByName(e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  /** Contract gate for adaptive ANN probes whose candidate geometry is not
    * SQL-recomputable (k-means centroids over an xxhash64-ordered sample —
    * see x_ann_ivf): asserts the probe returned exactly k rows, in
    * non-increasing cosine order, with recall >= minRecall against the
    * exact top-k, then returns the brute top-k rank form for the DuckDB
    * hash compare, unordered (its record declares the rank order). Both
    * collects are k-bounded (never table-sized). */
  private def gatedBruteForm(emb: DataFrame, q: Array[Float], k: Int,
      minRecall: Double, label: String, probe: DataFrame): DataFrame = {
    val p = probe.select("vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    require(p.length == k, s"$label: probe returned ${p.length} rows, expected $k")
    require(p.iterator.sliding(2).withPartial(false)
        .forall(w => w(0)._2 >= w(1)._2),
      s"$label: probe result not in descending cosine order")
    // ONE brute scan (review finding: the emitted frame was previously a
    // SECOND full-table scan): bruteForceTopK's k collected rows, already
    // in (cosine desc, vec_id) order, carry everything the rank form
    // needs — recall check and emitted rows both come from this array.
    val brute = Similarity.bruteForceTopK(emb, q, k).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val bruteIds = brute.map(_._1).toSet
    val recall = p.count(r => bruteIds.contains(r._1)).toDouble / k
    require(recall >= minRecall,
      f"$label: probe recall $recall%.2f vs exact top-$k below the $minRecall floor")
    // Spark's round(col, 6) = BigDecimal.valueOf (decimal-string form)
    // + HALF_UP — replicated exactly, since the DuckDB oracle hash was
    // pinned against that rounding (new BigDecimal(double) would round
    // the exact binary expansion and can differ in the last digit)
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val spark = emb.sparkSession
    import spark.implicits._
    brute.zipWithIndex.toSeq
      .map { case ((id, cos), i) => (id, i + 1, r6(cos)) }
      .toDF("vec_id", "rank", "cosine_r6")
  }

  /** Brute-force top-50 rank form over the embeddings table — the oracle
    * for x_ann_brute, the exhaustive probes, and the contract-gated
    * adaptive rows (their Spark side EMITS this ranking after in-query
    * contract checks). */
  private val bruteTopKSql: String =
    """WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
      |c AS (SELECT vec_id,
      |        list_cosine_similarity(cast(embedding AS DOUBLE[]), cast(qv AS DOUBLE[])) AS cos
      |      FROM embeddings, q)
      |SELECT vec_id,
      |  cast(row_number() OVER (ORDER BY cos DESC, vec_id) as int) AS rank,
      |  round(cos, 6) AS cosine_r6
      |FROM c ORDER BY cos DESC, vec_id LIMIT 50""".stripMargin

  /** Full SQL recomputation of the adaptive LSH probe (lshTopK/probeLsh
    * semantics, k=50): splitmix64 hyperplanes (64-bit wrap via HUGEINT
    * mod 2^64; the multiply is split into 32-bit halves because a full
    * 64x64 product overflows HUGEINT), SRP bucket signs, the adaptive
    * Hamming radius as the exact-integer criterion n*cumBinom >= 6k*2^nb
    * (equivalent to the engine's double loop — every quantity there is
    * fp-exact for nb <= 16), candidate selection, top-k. `nbExpr` supplies
    * nBits: the engine's count-adaptive formula for the ad-hoc row, the
    * committed build constant for the index row. */
  private def lshProbeOracleSql(nbExpr: String): String =
    """WITH cnt AS (SELECT count(*)::BIGINT AS n FROM embeddings),
      |nbv AS (SELECT """.stripMargin + nbExpr + """ AS nb FROM cnt),
      |idx AS (SELECT b, i FROM nbv, generate_series(0, 15) AS gb(b),
      |          generate_series(0, 63) AS gi(i) WHERE b < nb),
      |m0 AS (SELECT b, i, ((b*100003 + i)::HUGEINT + 11400714819323198485)
      |         % 18446744073709551616 AS z FROM idx),
      |m1 AS (SELECT b, i, xor(z::UBIGINT, z::UBIGINT >> 30)::HUGEINT AS z FROM m0),
      |m2 AS (SELECT b, i, ((z % 4294967296) * 13787848793156543929 +
      |         (((z // 4294967296) * 484763065) % 4294967296) * 4294967296)
      |         % 18446744073709551616 AS z FROM m1),
      |m3 AS (SELECT b, i, xor(z::UBIGINT, z::UBIGINT >> 27)::HUGEINT AS z FROM m2),
      |m4 AS (SELECT b, i, ((z % 4294967296) * 10723151780598845931 +
      |         (((z // 4294967296) * 321982955) % 4294967296) * 4294967296)
      |         % 18446744073709551616 AS z FROM m3),
      |m5 AS (SELECT b, i, xor(z::UBIGINT, z::UBIGINT >> 31) AS z FROM m4),
      |proj AS (SELECT b, list((z >> 11)::DOUBLE / 9007199254740992.0 - 0.5 ORDER BY i) AS pl
      |         FROM m5 GROUP BY b),
      |bkt AS (SELECT e.vec_id, e.embedding,
      |         cast(sum(CASE WHEN list_sum(list_transform(generate_series(1,64),
      |               i -> e.embedding[i]::DOUBLE * p.pl[i])) > 0
      |             THEN 1<<p.b ELSE 0 END) as int) AS srp_bucket
      |        FROM embeddings e, proj p GROUP BY e.vec_id, e.embedding),
      |q AS (SELECT embedding AS qv, srp_bucket AS qb FROM bkt ORDER BY vec_id LIMIT 1),
      |binom AS (SELECT nb, h, factorial(nb::INT)//(factorial(h::INT)*factorial((nb-h)::INT)) AS c
      |          FROM nbv, generate_series(0, 16) AS gh(h) WHERE h <= nb),
      |hcum AS (SELECT h, nb, (SELECT n FROM cnt)::HUGEINT *
      |           sum(c) OVER (ORDER BY h) AS lhs FROM binom),
      |hv AS (SELECT coalesce(min(h) FILTER (WHERE lhs >= 300::HUGEINT * (1<<nb)),
      |                       (SELECT nb FROM nbv)) AS h FROM hcum),
      |cand AS (SELECT k.vec_id,
      |          list_cosine_similarity(cast(k.embedding AS DOUBLE[]), cast(q.qv AS DOUBLE[])) AS cos
      |         FROM bkt k, q, hv
      |         WHERE bit_count(xor(k.srp_bucket::UBIGINT, q.qb::UBIGINT)) <= hv.h)
      |SELECT vec_id,
      |  cast(row_number() OVER (ORDER BY cos DESC, vec_id) as int) AS rank,
      |  round(cos, 6) AS cosine_r6
      |FROM cand ORDER BY cos DESC, vec_id LIMIT 50""".stripMargin

  /** Every pair of the planted union at r6 cosine >= 0.95: identical
    * vectors share an SRP bucket and a k-means cell by construction, so
    * this exhaustive set is what the bucketed and clustered pipelines
    * must emit. */
  private val plantedPairsSql: String =
    """WITH u AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, embedding
      |  FROM embeddings WHERE vec_id < 500)
      |SELECT vec_a, vec_b, cosine_r6 FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
      |          cast(b.embedding AS DOUBLE[])), 6) AS cosine_r6
      |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
      |WHERE cosine_r6 >= 0.95 ORDER BY vec_a, vec_b""".stripMargin

  val all: Seq[Query] = Seq(
    Query("x_ann_brute", (s, dir) => {
      // oracle-checkable form: the exact top-50's rank form
      val emb = t(s, dir, "embeddings")
      val q = firstVec(emb)
      rankForm(Similarity.bruteForceTopK(emb, q, 50))
    }, order = by("rank"),
      oracle = Some(bruteTopKSql)),
    Query("x_ann_lsh", (s, dir) => {
      // the ADAPTIVE probe, fully oracled (r6): the oracle recomputes the
      // entire probe semantics in SQL — splitmix64 hyperplanes (the same
      // 64-bit mix, via HUGEINT mod-2^64 arithmetic), SRP bucket signs,
      // adaptive nBits from the row count, the adaptive Hamming radius
      // (exact-integer form of the cumulative-binomial criterion: n*cumC
      // >= 6k*2^nb, equivalent to the double loop because every quantity
      // is fp-exact), candidate selection, and the top-k. Bucket signs
      // were verified to agree bit-for-bit across engines on the test
      // data (sequential double accumulation vs DuckDB list_sum).
      val emb = t(s, dir, "embeddings")
      val q = firstVec(emb)
      rankForm(Similarity.lshTopK(emb, q, 50))
    }, order = by("rank"),
      oracle = Some(lshProbeOracleSql(
        "greatest(2, least(16, cast(floor(ln(greatest(1.0, n/64.0))/ln(2)) as int)))"))),
    Query("x_ann_ivf", (s, dir) => {
      // The adaptive IVF probe's id set depends on k-means centroids
      // trained over an xxhash64-ordered driver-side sample — not SQL-
      // recomputable (contrast x_ann_lsh, whose SRP geometry IS recomputed
      // in its oracle). The row is oracled by CONTRACT instead: the probe
      // must return exactly k rows in strictly descending-cosine order
      // with a recall floor against the exact top-k (floor pinned from
      // the deterministic test data, with margin); any violation throws
      // and the row fails. The EMITTED rows are the brute top-k
      // rank form, so rows+schema+hash stay DuckDB-verified.
      val emb = t(s, dir, "embeddings")
      val q = firstVec(emb)
      // floor 0.4: measured 0.60 (sf0.001) / 0.46 (sf0.01) for the fixed
      // nProbe=4-of-16 ad-hoc probe — deterministic data, margin under both
      gatedBruteForm(emb, q, k = 50, minRecall = 0.4, label = "x_ann_ivf",
        probe = Similarity.ivfTopK(emb, q, 50))
    }, order = by("rank"),
      // contract-gated: Spark emits the brute ranking after asserting
      // the probe's contract in-query
      oracle = Some(bruteTopKSql)),
    Query("x_ann_lsh_exhaustive", (s, dir) => {
      // partition-completeness invariant, DuckDB-oracled: probing EVERY
      // bucket (probeHamming = nBits) must reproduce the exact brute-force
      // top-k — i.e. SRP bucketing partitions the table with no vector
      // lost or duplicated. The adaptive-radius form keeps its recall-floor
      // spec; this row pins the bucketing algebra itself.
      val emb = t(s, dir, "embeddings")
      val q = firstVec(emb)
      rankForm(Similarity.lshTopK(emb, q, 50, nBits = 4, probeHamming = 4))
    }, order = by("rank"),
      // exhaustive probe == brute force (bucketing completeness)
      oracle = Some(bruteTopKSql)),
    Query("x_ann_ivf_exhaustive", (s, dir) => {
      // same invariant for IVF: probing all nCells cells == brute force
      val emb = t(s, dir, "embeddings")
      val q = firstVec(emb)
      rankForm(Similarity.ivfTopK(emb, q, 50, nCells = 16, nProbe = 16))
    }, order = by("rank"),
      oracle = Some(bruteTopKSql)),
    Query("x_ann_index_build", (s, dir) => {
      // the explicit index-build job (one pass + partitioned write). Sorts
      // before x_ann_index_probe, so in the alphabetical bench/verify sweep
      // the probe measures PROBE cost, not an amortized build. A fresh
      // rebuild on an unchanged input is a zero-job no-op (metadata token).
      val emb = t(s, dir, "embeddings")
      val idx = tmpDir("graft_ann_lsh", dir)
      AnnIndex.buildLsh(emb, idx, nBits = 8)
      AnnIndex.describe(s, idx)
    },
      // the build commits (kind, nBits, row count, centroid count) as index
      // metadata; the oracle pins the committed cardinality to the table's
      oracle = Some(
        """SELECT 'lsh' AS kind, 8 AS param, count(*) AS n_rows,
          |  0 AS n_centroids FROM embeddings""".stripMargin)),
    Query("x_ann_index_probe", (s, dir) => {
      // the persisted-index probe: trusts the committed meta, reads ONLY
      // the probed bucket partitions (adaptive Hamming radius from the
      // committed row count). buildLsh guards the cold path and no-ops
      // (zero Spark jobs) when the committed token matches. Oracled like
      // x_ann_lsh (full SQL recompute of SRP + adaptive radius), with
      // nBits pinned to the build's 8.
      val emb = t(s, dir, "embeddings")
      val q = firstVec(emb)
      val idx = tmpDir("graft_ann_lsh", dir)
      AnnIndex.buildLsh(emb, idx, nBits = 8)
      rankForm(AnnIndex.probeLsh(s, idx, q, 50))
    }, order = by("rank"),
      oracle = Some(lshProbeOracleSql("8"))),
    Query("x_ann_ivf_build", (s, dir) => {
      // the persisted IVF twin of x_ann_index_build: k-means centroids +
      // cell-partitioned write, committed metadata (incl. the KB-sized
      // centroid table) in _graft_meta. Sorts before x_ann_ivf_probe in the
      // alphabetical sweep, so the probe row measures probe cost.
      val emb = t(s, dir, "embeddings")
      val idx = tmpDir("graft_ann_ivf", dir)
      AnnIndex.buildIvf(emb, idx, nCells = 16)
      AnnIndex.describe(s, idx)
    },
      // k-means always returns exactly nCells centers (empty cells keep
      // their previous center), so the committed centroid count is pinned
      oracle = Some(
        """SELECT 'ivf' AS kind, 16 AS param, count(*) AS n_rows,
          |  16 AS n_centroids FROM embeddings""".stripMargin)),
    Query("x_ann_ivf_probe", (s, dir) => {
      // probe trusts the committed meta: centroid ranking is driver-side
      // math over the committed centroids, the scan reads ONLY the probed
      // cell partitions (adaptive nProbe from the committed row count).
      // Contract-gated brute form — same rationale as x_ann_ivf.
      val emb = t(s, dir, "embeddings")
      val q = firstVec(emb)
      val idx = tmpDir("graft_ann_ivf", dir)
      AnnIndex.buildIvf(emb, idx, nCells = 16)
      gatedBruteForm(emb, q, k = 50, minRecall = 0.7, label = "x_ann_ivf_probe",
        probe = AnnIndex.probeIvf(s, idx, q, 50))
    }, order = by("rank"),
      oracle = Some(bruteTopKSql)),
    Query("x_ann_ivfpq_build", (s, dir) => {
      // the composed IVF x PQ index build: coarse centroids + per-subspace
      // codebooks trained on the same deterministic sample, committed in
      // _graft_meta; cell-partitioned files carry (vec_id, pq_code,
      // embedding) so the probe's ADC scan reads bytes and its refine
      // reads floats from the SAME pruned partitions. Sorts before
      // x_ann_ivfpq_probe in the alphabetical sweep.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = tmpDir("graft_ann_ivfpq", dir)
      AnnIndex.buildIvfPq(emb, idx, nCells = 16, m = 16, kCodes = 64)
      AnnIndex.describe(s, idx)
    },
      oracle = Some(
        """SELECT 'ivfpq' AS kind, 16 AS param, count(*) AS n_rows,
          |  16 AS n_centroids FROM embeddings""".stripMargin)),
    Query("x_ann_ivfpq_probe", (s, dir) => {
      // the at-scale ANN read path (VERDICT r6 #1): cells pruned via the
      // committed centroids, ADC byte-code scan of ONLY the probed cells
      // (column pruning keeps the raw floats off it — pinned in
      // AnnIndexSpec), exact-cosine refine of the bounded shortlist.
      // Contract-gated like x_ann_ivf_probe: geometry is k-means over the
      // deterministic sample (not SQL-recomputable), so the gate enforces
      // k rows / descending order / recall floor, and the EMITTED rows are
      // the brute rank form DuckDB fully recomputes.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val q = firstVec(emb)
      val idx = tmpDir("graft_ann_ivfpq", dir)
      AnnIndex.buildIvfPq(emb, idx, nCells = 16, m = 16, kCodes = 64)
      // floor 0.6: measured 0.86 (sf0.001) / 0.82 (sf0.01) for the
      // adaptive probe (10-of-16 cells) at m=16 k=64 refine=4 —
      // deterministic data, margin under both
      gatedBruteForm(emb, q, k = 50, minRecall = 0.6, label = "x_ann_ivfpq_probe",
        probe = AnnIndex.probeIvfPq(s, idx, q, 50))
    }, order = by("rank"),
      oracle = Some(bruteTopKSql)),
    Query("x_embed_neardup", (s, dir) => {
      // planted-duplicate recall form (the x_neardup_recall pattern in
      // embedding space): union a bounded embeddings slice with an
      // id-shifted copy of itself and run the SAME bucketed near-dup
      // pipeline users run. An identical vector lands in the same SRP
      // bucket DETERMINISTICALLY (the bucket is a pure function of the
      // vector), so at threshold 0.95 — far above the corpus's natural
      // max pairwise cosine (~0.51, both SFs) — recall is exactly 1 by
      // construction, not just w.h.p., and the emitted pair set equals
      // the DuckDB-checkable exhaustive >= 0.95 set over the union.
      // The top-pairs diagnostic ordering lives on in cosineTopPairs'
      // local specs; this row pins the end-to-end bucket-join + exact-
      // verify pipeline against an independent engine.
      Similarity.cosinePairs(plantedUnion(s, dir), threshold = 0.95, nBits = 8)
        .select(col("vec_a"), col("vec_b"),
          round(col("cosine"), 6).as("cosine_r6"))
    }, order = by("vec_a", "vec_b"),
      // planted-duplicate union: recall is deterministic at threshold
      // 0.95 (identical vectors share buckets by construction), so the
      // LSH pipeline's output equals this exhaustive set
      oracle = Some(plantedPairsSql)),
    Query("x_embed_neardup_exhaustive", (s, dir) => {
      // exhaustive (all-pairs) embedding near-dup at a threshold the
      // test embeddings actually reach — engine-independent, so fully
      // DuckDB-oracled (the x_ann_*_exhaustive pattern applied to the
      // PAIR contract: LSH bucketing is the scale path, this row pins the
      // exact pair set it approximates). Membership filters on the
      // ROUNDED cosine: x_cosine_pairs pins r6 equality across engines,
      // so >= on the rounded value is cross-engine exact while >= on the
      // raw double could disagree in the 1e-16 tail.
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      // codegen'd CosineSim in the O(n^2) hot loop (bit-parity with the
      // HOF/UDF kernels is pinned): the zip_with/aggregate form is NOT
      // whole-stage-codegen'd and cost 146 s at sf0.1 (2M pairs x ~73 us
      // interpreted) — measured in the round-5 sweep, 60x off.
      // r8: pre-filter on the RAW cosine before round() — Spark's round()
      // allocates a BigDecimal per row, and running it on all 2M pairs was
      // over a third of the row's time; every x with round(x,6) >= 0.3
      // satisfies x >= 0.2999995, so the 0.2999994 pre-filter (safety
      // margin far above the double-repr error) drops ~99% of pairs while
      // the exact rounded filter below still makes the decision — the
      // emitted pair set is unchanged.
      a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        .withColumn("_cos", Similarity.cosineSimExpr(col("emb_a"), col("emb_b")))
        .filter(col("_cos") >= 0.2999994)
        .select(col("vec_a"), col("vec_b"),
          round(col("_cos"), 6).as("cosine_r6"))
        .filter(col("cosine_r6") >= 0.3)
    }, order = by("vec_a", "vec_b"),
      oracle = Some(
        """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |  round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
          |        cast(b.embedding AS DOUBLE[])), 6) AS cosine_r6
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
          |        cast(b.embedding AS DOUBLE[])), 6) >= 0.3
          |ORDER BY vec_a, vec_b""".stripMargin)),
    Query("x_semdedup", (s, dir) => {
      // SemDeDup (cluster-then-compare semantic dedup) under the planted-
      // input contract of x_neardup_recall: a bounded embeddings slice
      // unioned with an id-shifted copy. Identical vectors share a k-means
      // cell DETERMINISTICALLY (assignment is a pure function of the
      // vector), and tau=0.95 sits far above the corpus's natural max
      // pairwise cosine (~0.51 both SFs), so the within-cell pair set
      // EQUALS the exhaustive >= 0.95 set — which DuckDB recomputes
      // without needing the (non-SQL-expressible) k-means geometry.
      graft.ops.SemDedup.semDedupPairs(plantedUnion(s, dir), tau = 0.95, nCells = 8)
        .select(col("vec_a"), col("vec_b"),
          round(col("cosine"), 6).as("cosine_r6"))
    }, order = by("vec_a", "vec_b"),
      // same planted-union exhaustive recompute as x_embed_neardup: at
      // tau 0.95 the within-cell pair set equals the exhaustive set
      // (identical vectors always share a k-means cell), so the clustering
      // geometry needs no SQL replay
      oracle = Some(plantedPairsSql)),
    Query("x_semdedup_multiassign", (s, dir) => {
      // the boundary-safe production form of x_semdedup: nAssign=2 joins
      // each vector into its TWO nearest cells (the fix that took 1M-
      // vector planted recall from 97.2% to 99.99% — BENCH.md round 6c).
      // The planted-union contract carries over unchanged: an identical
      // pair shares EVERY cell, multi-assignment only ADDS candidates the
      // tau filter then rejects, and the post-filter collapse dedups
      // multi-cell hits — so the pair set still equals DuckDB's
      // exhaustive >= 0.95 recompute.
      graft.ops.SemDedup.semDedupPairs(plantedUnion(s, dir), tau = 0.95,
          nCells = 8, nAssign = 2)
        .select(col("vec_a"), col("vec_b"),
          round(col("cosine"), 6).as("cosine_r6"))
    }, order = by("vec_a", "vec_b"),
      // identical oracle to x_semdedup: multi-assignment changes the
      // candidate set, never the verified pair set (see the query's note)
      oracle = Some(plantedPairsSql)),
    Query("x_pq_topk", (s, dir) => {
      // product-quantized ANN (Pq.scala): encode once (m one-byte codes
      // per vector — 16x smaller than the raw floats at m=16), shortlist
      // with the ADC table scan, exact-cosine refine of the 4k shortlist
      // (the FAISS IndexRefine recipe). Codebook geometry is k-means over
      // the deterministic sample — not SQL-recomputable — so the row is
      // contract-gated like x_ann_ivf: k rows, descending cosine, recall
      // floor 0.8 vs the exact top-k (measured 0.98 / 0.98 / 0.96 at
      // sf0.001 / 0.01 / 0.1, m=16 k=64 refine=4); the EMITTED rows are
      // the brute rank form DuckDB fully recomputes.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val q = firstVec(emb)
      val model = graft.ops.Pq.train(emb, m = 16, k = 64)
      val codes = graft.ops.Pq.encode(emb, model)
      gatedBruteForm(emb, q, k = 50, minRecall = 0.8, label = "x_pq_topk",
        probe = graft.ops.Pq.adcTopKRefined(codes, emb, model, q, 50))
    }, order = by("rank"),
      oracle = Some(bruteTopKSql)),
    Query("x_cosine_pairs", (s, dir) => {
      // consecutive-pair cosine via the codegen'd CosineSim (no UDF
      // boundary), oracle-checked against DuckDB's list_cosine_similarity
      // at 6 decimals (same rounding contract as x_ann_brute)
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      val b = e.select((col("vec_id") - 1).as("vec_a"),
        col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      a.join(b, Seq("vec_a"))
        .select(col("vec_a"), col("vec_b"),
          round(Similarity.cosineSimExpr(col("emb_a"), col("emb_b")), 6).as("cosine_r6"))
    }, order = by("vec_a"),
      oracle = Some(
        """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |  round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
          |        cast(b.embedding AS DOUBLE[])), 6) AS cosine_r6
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
          |ORDER BY vec_a""".stripMargin)),
    Query("x_bitext_margin", (s, dir) => {
      // margin-based bitext mining (the LASER/CCMatrix recipe): src = the
      // first 100 vectors, tgt = 50 PLANTED twins (ids +1000, the
      // planted-dup union technique — mutual best at cos 1.0 by
      // construction) plus the natural 250..499 tail. The oracle
      // recomputes both k-NN directions, the rank-ordered normalizer
      // folds over round-6 cosines, mutuality, and the margin itself.
      val emb = t(s, dir, "embeddings")
      val src = emb.filter(col("vec_id") < 100).select("vec_id", "embedding")
      val tgt = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
        .unionByName(
          emb.filter(col("vec_id") >= 250).select("vec_id", "embedding"))
      graft.ops.BitextMining.mine(src, tgt, k = 4, minMargin = 1.05)
    }, order = by("src_id"),
      // both k-NN directions recomputed (round-6 cosine, doc_id ties),
      // normalizers as rank-ordered left folds over the ROUNDED cosines
      // (exact sums), mutual-best join, margin as one fixed expression,
      // filtered on the rounded margin exactly like the engine
      oracle = Some(
        """WITH src AS (SELECT vec_id, embedding FROM embeddings
          |             WHERE vec_id < 100),
          |tgt AS (SELECT vec_id + 1000 AS vec_id, embedding FROM embeddings
          |        WHERE vec_id < 50
          |        UNION ALL
          |        SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 250),
          |fnn0 AS (SELECT s.vec_id AS query_id, t.vec_id AS doc_id,
          |    round(list_cosine_similarity(cast(t.embedding AS DOUBLE[]),
          |      cast(s.embedding AS DOUBLE[])), 6) AS cos
          |  FROM src s CROSS JOIN tgt t),
          |fnn AS (SELECT query_id, doc_id, cos,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY cos DESC, doc_id)::BIGINT AS rank FROM fnn0),
          |f4 AS (SELECT * FROM fnn WHERE rank <= 4),
          |bnn0 AS (SELECT t.vec_id AS query_id, s.vec_id AS doc_id,
          |    round(list_cosine_similarity(cast(s.embedding AS DOUBLE[]),
          |      cast(t.embedding AS DOUBLE[])), 6) AS cos
          |  FROM tgt t CROSS JOIN src s),
          |bnn AS (SELECT query_id, doc_id, cos,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY cos DESC, doc_id)::BIGINT AS rank FROM bnn0),
          |b4 AS (SELECT * FROM bnn WHERE rank <= 4),
          |favg AS (SELECT query_id,
          |    list_reduce(list_prepend(0.0::DOUBLE, cs), (a, x) -> a + x)
          |      / len(cs) AS avg_src
          |  FROM (SELECT query_id, list(cos ORDER BY rank) AS cs
          |        FROM f4 GROUP BY query_id)),
          |bavg AS (SELECT query_id,
          |    list_reduce(list_prepend(0.0::DOUBLE, cs), (a, x) -> a + x)
          |      / len(cs) AS avg_tgt
          |  FROM (SELECT query_id, list(cos ORDER BY rank) AS cs
          |        FROM b4 GROUP BY query_id)),
          |fwd AS (SELECT query_id AS src_id, doc_id AS tgt_id, cos AS cos_r6
          |        FROM f4 WHERE rank = 1),
          |bwd AS (SELECT query_id AS tgt_id, doc_id AS bwd_src
          |        FROM b4 WHERE rank = 1),
          |m AS (SELECT f.src_id, f.tgt_id, f.cos_r6,
          |    round(f.cos_r6 / ((fa.avg_src + ba.avg_tgt) / 2.0), 6)
          |      AS margin_r6
          |  FROM fwd f
          |  JOIN bwd b ON b.tgt_id = f.tgt_id AND b.bwd_src = f.src_id
          |  JOIN favg fa ON fa.query_id = f.src_id
          |  JOIN bavg ba ON ba.query_id = f.tgt_id)
          |SELECT src_id, tgt_id, cos_r6, margin_r6 FROM m
          |WHERE margin_r6 >= 1.05 ORDER BY src_id""".stripMargin)))
}
