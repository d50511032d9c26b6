package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Sketches
import graft.queries.Query.{by, t}

/** The mergeable sketches — HyperLogLog, Count-Min and the log-linear
  * quantile sketch — over the documents' tokens. The engine rows emit
  * merges of per-batch sketches; the oracles compute the global sketch
  * directly, so register-, counter- and bucket-exact equality pins merge
  * correctness across engines. */
object SketchQueries {

  /** The lower-case `\W+` tokens of `text`, empty tokens dropped: the
    * tokenization every token-counting oracle replays. */
  private[queries] def lowerWords: Column =
    expr("filter(split(lower(text), '\\\\W+'), x -> x != '')")

  /** Token occurrences (doc_id, term). */
  private def docTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(lowerWords).as("term"))

  /** (key, doc_id) with key = term:doc_id — the distinct unit the HLL
    * rows count (≈20k distinct pairs: large enough for the raw-branch
    * estimator at p=12). */
  private def sketchKeys(docs: DataFrame): DataFrame =
    docTerms(docs).select(
      concat(col("term"), lit(":"), col("doc_id")).as("key"), col("doc_id"))

  /** The merged HLL sketch of the two doc_id halves' sketches. */
  private def halvesHll(keys: DataFrame): DataFrame =
    Sketches.hllMerge(Seq(
      Sketches.hllSketch(keys.filter(col("doc_id") < 250), "key"),
      Sketches.hllSketch(keys.filter(col("doc_id") >= 250), "key")))

  /** The merged Count-Min sketch of the two doc_id halves' sketches. */
  private def halvesCms(occ: DataFrame): DataFrame =
    Sketches.cmsMerge(Seq(
      Sketches.cmsSketch(occ.filter(col("doc_id") < 250), "term"),
      Sketches.cmsSketch(occ.filter(col("doc_id") >= 250), "term")))

  /** A document's token count − 50: the planted shift that exercises all
    * three stores of the quantile sketch (negative mirror, zero bucket,
    * positive octaves). */
  private def shiftedLen: Column = (size(lowerWords).cast("long") - 50).as("v")

  /** Token occurrences `pos` (doc_id, term). */
  private val termsSql: String =
    "WITH " + RetrievalQueries.termToks("") +
      "pos AS (SELECT doc_id, unnest(t) AS term FROM toks),\n"

  /** HLL registers of the md5 hashes `hs` (h): register = top 12 bits,
    * rho = leading zeros of the low-52-bit window + 1 (exact integer bit
    * probing — no float log anywhere), as `rr` (reg, rho). */
  private val hllRho: String =
    """rw AS (SELECT h >> 52 AS reg, h & ((1::UBIGINT << 52) - 1) AS w FROM hs),
      |rr AS (SELECT reg,
      |  CASE WHEN w = 0 THEN 53
      |       ELSE 52 - list_max(list_transform(generate_series(0, 51),
      |         b -> CASE WHEN (w & (1::UBIGINT << b)) <> 0 THEN b
      |              ELSE -1 END))
      |  END AS rho FROM rw)""".stripMargin

  /** One side of the overlap oracle, one CTE per estimator step: the
    * hashed registers of the flagged keys `where` selects, the register
    * maxima, the harmonic sum, the estimate. */
  private def hllHashed(name: String, where: String): String =
    name + """ AS (SELECT md5_number_lower('hll:' || key) >> 52 AS reg,
      |         md5_number_lower('hll:' || key) & ((1::UBIGINT << 52) - 1) AS w
      |       FROM fl WHERE """.stripMargin + where + "),\n"

  private def hllRegs(name: String, from: String): String =
    name + """ AS (SELECT reg, max(CASE WHEN w = 0 THEN 53
      |    ELSE 52 - list_max(list_transform(generate_series(0, 51),
      |      b -> CASE WHEN (w & (1::UBIGINT << b)) <> 0 THEN b ELSE -1 END))
      |    END) AS rho FROM """.stripMargin + from + " GROUP BY reg),\n"

  private def hllSum(name: String, from: String): String =
    name + """ AS (SELECT (4096 - count(*))::BIGINT AS z,
      |    list_reduce(list_prepend((4096 - count(*))::DOUBLE,
      |      list(power(0.5, rho) ORDER BY reg)), (a, x) -> a + x) AS s
      |  FROM """.stripMargin + from + "),\n"

  private def hllEst(name: String, from: String): String =
    name + """ AS (SELECT CASE WHEN ((0.7213 / (1.0 + 1.079 / 4096.0))
      |      * 16777216.0 / s) <= 10240.0 AND z > 0
      |    THEN 4096.0 * ln(4096.0 / z)
      |    ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 / s
      |  END AS e FROM """.stripMargin + from + "),\n"

  /** Row r's Count-Min column of `term`: ONE md5 per occurrence, the
    * Kirsch-Mitzenmacher pair (lower + r*upper) mod 1024 — exact in
    * HUGEINT because 4*2^64 < 2^127 and 1024 | 2^64. */
  private val cmsCell: String =
    """(md5_number_lower('cms:' || term)::HUGEINT
      |             + r * md5_number_upper('cms:' || term)::HUGEINT) % 1024 AS c""".stripMargin

  /** The quantile sketch's bucket of `v` (its magnitude `av`): octave =
    * bit length − 1 via printf('%b'), sub-bucket = ((|v| − 2^e)·32) // 2^e,
    * encoding v=0 → −1 and v<0 → −2−bkt(−v) — exact integer arithmetic
    * end to end. */
  private val ddBucket: String =
    """CASE WHEN v = 0 THEN -1
      |    WHEN v > 0 THEN (length(printf('%b', av)) - 1)::BIGINT * 32
      |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
      |        // (1::BIGINT << (length(printf('%b', av)) - 1))
      |    ELSE -2 - ((length(printf('%b', av)) - 1)::BIGINT * 32
      |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
      |        // (1::BIGINT << (length(printf('%b', av)) - 1))) END AS bkt""".stripMargin

  /** Bucket `bkt`'s exact-binary midpoint 2^e·(1 + (2j+1)/64), mirrored
    * for bkt ≤ −2, as `est`. */
  private val ddMidpoint: String =
    """  CASE WHEN bkt = -1 THEN 0.0::DOUBLE
      |    WHEN bkt >= 0 THEN power(2.0::DOUBLE, bkt // 32)
      |      + (2 * (bkt % 32) + 1) * power(2.0::DOUBLE, bkt // 32 - 6)
      |    ELSE -(power(2.0::DOUBLE, (-2 - bkt) // 32)
      |      + (2 * ((-2 - bkt) % 32) + 1)
      |        * power(2.0::DOUBLE, (-2 - bkt) // 32 - 6)) END AS est""".stripMargin

  /** Every document's shifted token count `v` and its bucket `b`. */
  private val ddBuckets: String =
    """WITH v AS (
      |  SELECT len(list_filter(string_split_regex(lower(text), '\W+'),
      |           x -> x <> ''))::BIGINT - 50 AS v
      |  FROM documents),
      |a AS (SELECT v, abs(v) AS av FROM v),
      |b AS (SELECT v,
      |  """.stripMargin + ddBucket + "\n  FROM a)"

  val all: Seq[Query] = Seq(
    Query("x_hll_registers", (s, dir) =>
      // HyperLogLog registers for the distinct (term, doc) keys, computed
      // as the MERGE of two batch sketches (doc_id halves). The oracle
      // computes the single global sketch directly, so the register-exact
      // equality pins merge-correctness cross-engine.
      halvesHll(sketchKeys(t(s, dir, "documents"))),
      order = by("reg"),
      oracle = Some(termsSql +
        """hs AS (SELECT md5_number_lower('hll:' || term || ':' || doc_id) AS h
          |       FROM pos),
          |""".stripMargin + hllRho +
        """
          |SELECT reg::BIGINT AS reg, max(rho)::BIGINT AS rho
          |FROM rr GROUP BY reg ORDER BY reg""".stripMargin)),
    Query("x_hll_estimate", (s, dir) => {
      // the estimator over the merged sketch, next to the exact distinct
      // count. The harmonic sum is a register-ordered left fold of exact
      // binary powers (engine-deterministic); the 5% contract gate runs
      // in-query.
      val keys = sketchKeys(t(s, dir, "documents"))
      val out = Sketches.hllEstimate(halvesHll(keys))
        .crossJoin(keys.agg(countDistinct(col("key")).as("exact_n")))
        .select(col("n_regs"), col("zeros"),
          round(col("estimate"), 6).as("estimate_r6"), col("exact_n"))
        .localCheckpoint()
      val r = out.head()
      require(math.abs(r.getDouble(2) / r.getLong(3) - 1.0) < 0.05,
        s"x_hll_estimate: ${r.getDouble(2)} vs exact ${r.getLong(3)}")
      out
    },
      // same registers, then the estimator: harmonic sum as a
      // register-ordered left fold of exact binary powers seeded with the
      // zero-register mass, the raw/linear-counting CASE, round-6
      oracle = Some(termsSql +
        """keys AS (SELECT term || ':' || doc_id AS key FROM pos),
          |hs AS (SELECT md5_number_lower('hll:' || key) AS h FROM keys),
          |""".stripMargin + hllRho +
        """,
          |regs AS (SELECT reg, max(rho) AS rho FROM rr GROUP BY reg),
          |est AS (
          |  SELECT count(*)::BIGINT AS n_regs, (4096 - count(*))::BIGINT AS zeros,
          |    list_reduce(list_prepend((4096 - count(*))::DOUBLE,
          |      list(power(0.5, rho) ORDER BY reg)), (a, x) -> a + x) AS s
          |  FROM regs),
          |ex AS (SELECT count(DISTINCT key)::BIGINT AS exact_n FROM keys)
          |SELECT e.n_regs, e.zeros,
          |  round(CASE WHEN ((0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 / e.s)
          |               <= 10240.0 AND e.zeros > 0
          |    THEN 4096.0 * ln(4096.0 / e.zeros)
          |    ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 / e.s END,
          |    6) AS estimate_r6,
          |  ex.exact_n
          |FROM est e CROSS JOIN ex""".stripMargin)),
    Query("x_cms_counters", (s, dir) =>
      // Count-Min counters over token occurrences, again the merge of two
      // batch sketches vs the oracle's direct global sketch —
      // integer-exact.
      halvesCms(docTerms(t(s, dir, "documents")))
        .select(col("row").as("r"), col("col").as("c"), col("cnt")),
      order = by("r", "c"),
      oracle = Some(termsSql +
        """rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
          |cells AS (
          |  SELECT r, """.stripMargin + cmsCell +
        """
          |  FROM pos CROSS JOIN rws)
          |SELECT r::BIGINT AS r, c::BIGINT AS c, count(*)::BIGINT AS cnt
          |FROM cells GROUP BY r, c ORDER BY r, c""".stripMargin)),
    Query("x_cms_heavy", (s, dir) => {
      // point estimates for every distinct term vs the true counts; the
      // classic one-sided CMS guarantee (never underestimate) is asserted
      // in-query, and DuckDB replays the min-over-rows probe exactly.
      val occ = docTerms(t(s, dir, "documents"))
      val truth = occ.groupBy("term").agg(count(lit(1)).as("true_cnt"))
      val out = Sketches.cmsEstimate(halvesCms(occ), truth.select("term"), "term")
        .join(truth, col("key") === col("term"))
        .select(col("key"), col("estimate"), col("true_cnt"))
        .localCheckpoint()
      require(out.filter(col("estimate") < col("true_cnt")).isEmpty,
        "x_cms_heavy: CMS underestimated a key")
      out
    }, order = by("key"),
      // min-over-rows point estimates for every distinct term vs the true
      // counts (estimate >= true is asserted engine-side)
      oracle = Some(termsSql +
        """rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
          |counters AS (
          |  SELECT r, """.stripMargin + cmsCell +
        """,
          |    count(*)::BIGINT AS cnt
          |  FROM pos CROSS JOIN rws GROUP BY r, c),
          |probes AS (SELECT DISTINCT term FROM pos),
          |pcells AS (
          |  SELECT term, r, """.stripMargin + cmsCell +
        """
          |  FROM probes CROSS JOIN rws),
          |est AS (
          |  SELECT p.term AS key, min(coalesce(k.cnt, 0))::BIGINT AS estimate
          |  FROM pcells p LEFT JOIN counters k ON k.r = p.r AND k.c = p.c
          |  GROUP BY p.term),
          |truth AS (SELECT term, count(*)::BIGINT AS true_cnt FROM pos
          |          GROUP BY term)
          |SELECT e.key, e.estimate, t.true_cnt
          |FROM est e JOIN truth t ON t.term = e.key ORDER BY e.key""".stripMargin)),
    Query("x_hll_overlap", (s, dir) => {
      // sketch-based corpus overlap between two OVERLAPPING slices
      // (doc_id < 300 vs >= 200 — docs 200..299 shared): |A|, |B|, the
      // merged-union estimate, inclusion-exclusion intersection, Jaccard.
      // The oracle replays all three estimator chains and the exact
      // flag-based counts; the 0.05-absolute Jaccard gate runs in-query.
      val keys = sketchKeys(t(s, dir, "documents")).localCheckpoint()
      val sa = Sketches.hllSketch(
        keys.filter(col("doc_id") < 300).select("key"), "key")
      val sb = Sketches.hllSketch(
        keys.filter(col("doc_id") >= 200).select("key"), "key")
      val flags = keys
        .select(col("key"), (col("doc_id") < 300).as("ina"),
          (col("doc_id") >= 200).as("inb"))
        .groupBy("key").agg(max("ina").as("ina"), max("inb").as("inb"))
        .filter(col("ina") || col("inb"))
      val exact = flags.agg(count(lit(1)).as("exact_union"),
        sum(when(col("ina") && col("inb"), 1L).otherwise(0L))
          .as("exact_inter"))
      val out = Sketches.hllJaccard(sa, sb)
        .crossJoin(exact).localCheckpoint()
      val r = out.head()
      require(math.abs(r.getDouble(4) -
          r.getLong(6).toDouble / r.getLong(5)) <= 0.05,
        s"x_hll_overlap: jaccard ${r.getDouble(4)} vs exact " +
          s"${r.getLong(6).toDouble / r.getLong(5)}")
      out
    },
      // all three estimator chains (A, B, union) replayed over the flagged
      // distinct keys (duplicates never move HLL registers, so hashing the
      // distinct set equals hashing the stream), plus inclusion-exclusion,
      // the guarded Jaccard, and the exact flag counts
      oracle = Some(termsSql +
        """keys AS (SELECT term || ':' || doc_id AS key, doc_id FROM pos),
          |fl AS (SELECT key, max(doc_id < 300) AS ina, max(doc_id >= 200) AS inb
          |       FROM keys GROUP BY key),
          |""".stripMargin +
        hllHashed("ra", "ina") + hllHashed("rb", "inb") + hllHashed("ru", "ina OR inb") +
        hllRegs("ga", "ra") + hllRegs("gb", "rb") + hllRegs("gu", "ru") +
        hllSum("ea", "ga") + hllSum("eb", "gb") + hllSum("eu", "gu") +
        hllEst("va", "ea") + hllEst("vb", "eb") + hllEst("vu", "eu") +
        """ex AS (SELECT count(*)::BIGINT AS exact_union,
          |    sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END)::BIGINT AS exact_inter
          |  FROM fl WHERE ina OR inb)
          |SELECT round(va.e, 6) AS est_a_r6, round(vb.e, 6) AS est_b_r6,
          |  round(vu.e, 6) AS est_union_r6,
          |  round(greatest(0.0::DOUBLE, va.e + vb.e - vu.e), 6) AS est_inter_r6,
          |  CASE WHEN vu.e <= 0.0 THEN NULL
          |       ELSE round(greatest(0.0::DOUBLE, va.e + vb.e - vu.e) / vu.e, 6)
          |  END AS jaccard_r6,
          |  ex.exact_union, ex.exact_inter
          |FROM va CROSS JOIN vb CROSS JOIN vu CROSS JOIN ex""".stripMargin)),
    Query("x_dd_sketch", (s, dir) => {
      // log-linear quantile sketch (DDSketch/HDR-histogram family), the
      // third leg of the mergeable trio over the shifted token count.
      // Engine emits the MERGE of two batch sketches; DuckDB computes the
      // global sketch directly — octave from bit length, linear
      // sub-bucket, monotone encoding, all exact integer arithmetic
      // (never a float log).
      val v = t(s, dir, "documents").select(col("doc_id"), shiftedLen)
      Sketches.ddMerge(Seq(
        Sketches.ddSketch(v.filter(col("doc_id") < 250), "v"),
        Sketches.ddSketch(v.filter(col("doc_id") >= 250), "v")))
    }, order = by("bkt"),
      oracle = Some(ddBuckets +
        """
          |SELECT bkt, count(*)::BIGINT AS cnt FROM b
          |GROUP BY bkt ORDER BY bkt""".stripMargin)),
    Query("x_dd_quantiles", (s, dir) => {
      // quantile extraction replayed end-to-end in DuckDB: cumulative
      // counts in encoded-bucket order, nearest-rank selection, exact-
      // binary bucket midpoints. The in-query require pins the sketch
      // guarantee itself — the TRUE rank-r value falls in the chosen
      // bucket (exact integer membership via ddBucketOf, which implies
      // the 1/(2s) relative-error bound).
      val v = t(s, dir, "documents").select(shiftedLen)
      val sketch = Sketches.ddSketch(v, "v")
      val out = Sketches.ddQuantiles(sketch,
        Seq(0.01, 0.25, 0.5, 0.75, 0.99)).localCheckpoint()
      val w = Window.partitionBy(pmod(col("v"), lit(1))).orderBy("v")
      val ranked = v.withColumn("r", row_number().over(w).cast("long"))
      val gate = Sketches.ddBucketOf(
        ranked.join(out.select(col("rank"), col("bkt").as("bkt_sk")),
          col("r") === col("rank")), "v")
      require(gate.filter(col("bkt") =!= col("bkt_sk")).isEmpty,
        "x_dd_quantiles: a true rank value fell outside its sketch bucket")
      out
    }, order = by("q"),
      // extraction replayed: cumulative counts in encoded-bucket order,
      // rank = floor(q·(n−1)) + 1, first bucket reaching the rank, exact-
      // binary midpoint
      oracle = Some(ddBuckets +
        """,
          |sk AS (SELECT bkt, count(*)::BIGINT AS cnt FROM b GROUP BY bkt),
          |cum AS (SELECT bkt, cnt,
          |          sum(cnt) OVER (ORDER BY bkt)::BIGINT AS cum FROM sk),
          |tot AS (SELECT sum(cnt)::BIGINT AS n FROM sk),
          |qs(q) AS (VALUES (0.01::DOUBLE), (0.25::DOUBLE), (0.5::DOUBLE),
          |                 (0.75::DOUBLE), (0.99::DOUBLE)),
          |ranks AS (SELECT q, (floor(q * (n - 1)) + 1)::BIGINT AS rank
          |          FROM qs CROSS JOIN tot),
          |chosen AS (SELECT q, rank, min(bkt) AS bkt
          |           FROM ranks JOIN cum ON cum.cum >= ranks.rank
          |           GROUP BY q, rank)
          |SELECT q, rank, bkt,
          |""".stripMargin + ddMidpoint + "\nFROM chosen ORDER BY q")),
    Query("x_dd_drift", (s, dir) => {
      // distribution-shift monitoring: quartile deltas of the (shifted)
      // token count between the two doc_id halves, each side its own
      // sketch — the whole two-chain join replayed in DuckDB
      val v = t(s, dir, "documents").select(col("doc_id"), shiftedLen)
      val sa = Sketches.ddSketch(v.filter(col("doc_id") < 250), "v")
      val sb = Sketches.ddSketch(v.filter(col("doc_id") >= 250), "v")
      Sketches.ddDrift(sa, sb, Seq(0.25, 0.5, 0.75))
    }, order = by("q"),
      // the quantile chain twice (doc_id halves), joined on q, the
      // deltas of the exact-binary midpoints
      oracle = Some(
        """WITH v AS (
          |  SELECT doc_id,
          |    len(list_filter(string_split_regex(lower(text), '\W+'),
          |      x -> x <> ''))::BIGINT - 50 AS v
          |  FROM documents),
          |a0 AS (SELECT v, abs(v) AS av FROM v WHERE doc_id < 250),
          |b0 AS (SELECT v, abs(v) AS av FROM v WHERE doc_id >= 250),
          |ab AS (SELECT """.stripMargin + ddBucket +
        """
          |  FROM a0),
          |bb AS (SELECT """.stripMargin + ddBucket +
        """
          |  FROM b0),
          |ska AS (SELECT bkt, count(*)::BIGINT AS cnt FROM ab GROUP BY bkt),
          |skb AS (SELECT bkt, count(*)::BIGINT AS cnt FROM bb GROUP BY bkt),
          |cua AS (SELECT bkt, sum(cnt) OVER (ORDER BY bkt)::BIGINT AS cum
          |        FROM ska),
          |cub AS (SELECT bkt, sum(cnt) OVER (ORDER BY bkt)::BIGINT AS cum
          |        FROM skb),
          |ta AS (SELECT sum(cnt)::BIGINT AS n FROM ska),
          |tb AS (SELECT sum(cnt)::BIGINT AS n FROM skb),
          |qs(q) AS (VALUES (0.25::DOUBLE), (0.5::DOUBLE), (0.75::DOUBLE)),
          |rka AS (SELECT q, (floor(q * (n - 1)) + 1)::BIGINT AS rank_a
          |        FROM qs CROSS JOIN ta),
          |rkb AS (SELECT q, (floor(q * (n - 1)) + 1)::BIGINT AS rank_b
          |        FROM qs CROSS JOIN tb),
          |cha AS (SELECT q, rank_a, min(bkt) AS bkt FROM rka
          |        JOIN cua ON cua.cum >= rka.rank_a GROUP BY q, rank_a),
          |chb AS (SELECT q, rank_b, min(bkt) AS bkt FROM rkb
          |        JOIN cub ON cub.cum >= rkb.rank_b GROUP BY q, rank_b),
          |ea AS (SELECT q, rank_a,
          |""".stripMargin + ddMidpoint +
        """_a
          |  FROM cha),
          |eb AS (SELECT q, rank_b,
          |""".stripMargin + ddMidpoint +
        """_b
          |  FROM chb)
          |SELECT coalesce(ea.q, eb.q) AS q, ea.rank_a, ea.est_a,
          |  eb.rank_b, eb.est_b,
          |  round(eb.est_b - ea.est_a, 6) AS delta_r6
          |FROM ea FULL JOIN eb ON eb.q = ea.q
          |ORDER BY coalesce(ea.q, eb.q)""".stripMargin)),
    Query("x_dd_by_source", (s, dir) => {
      // per-source length quantiles (median + p90 of the token count) from
      // per-key sketches — the mixing/packing planner's view. The sketch
      // frame is O(#sources × buckets), the cumulative window partitions
      // by source over that bounded frame, and DuckDB replays the whole
      // per-key chain.
      val v = t(s, dir, "documents")
        .select(col("source"), size(lowerWords).cast("long").as("dl"))
      val sk = Sketches.ddSketchByKey(v, Seq("source"), "dl")
      Sketches.ddQuantilesByKey(sk, Seq("source"), Seq(0.5, 0.9))
    }, order = by("source", "q"),
      // the per-key chain replayed: per-source sketch, per-source
      // cumulative counts, nearest-rank, exact-binary midpoints
      oracle = Some(
        """WITH v AS (
          |  SELECT source,
          |    len(list_filter(string_split_regex(lower(text), '\W+'),
          |      x -> x <> ''))::BIGINT AS v
          |  FROM documents),
          |a AS (SELECT source, v, abs(v) AS av FROM v),
          |b AS (SELECT source,
          |  """.stripMargin + ddBucket +
        """
          |  FROM a),
          |sk AS (SELECT source, bkt, count(*)::BIGINT AS cnt FROM b
          |       GROUP BY source, bkt),
          |cum AS (SELECT source, bkt, cnt,
          |          sum(cnt) OVER (PARTITION BY source ORDER BY bkt)::BIGINT
          |            AS cum FROM sk),
          |tot AS (SELECT source, sum(cnt)::BIGINT AS n FROM sk GROUP BY source),
          |qs(q) AS (VALUES (0.5::DOUBLE), (0.9::DOUBLE)),
          |ranks AS (SELECT source, q, (floor(q * (n - 1)) + 1)::BIGINT AS rank
          |          FROM tot CROSS JOIN qs),
          |chosen AS (SELECT r.source, r.q, r.rank, min(c.bkt) AS bkt
          |           FROM ranks r JOIN cum c
          |             ON c.source = r.source AND c.cum >= r.rank
          |           GROUP BY r.source, r.q, r.rank)
          |SELECT source, q, rank, bkt,
          |""".stripMargin + ddMidpoint + "\nFROM chosen ORDER BY source, q")))
}
