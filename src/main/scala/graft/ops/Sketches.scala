package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable sketches for incremental corpus statistics — HyperLogLog
  * distinct counting (Flajolet et al. 2007) and Count-Min frequency
  * estimation (Cormode & Muthukrishnan 2005).
  *
  * The at-scale role: an ongoing ingestion pipeline wants corpus-level
  * stats (distinct tokens/URLs, heavy-hitter terms) WITHOUT rescanning
  * 100 TB per tick. Both sketches are DataFrames keyed by register, so
  * the per-batch sketch is a bounded table (4096 rows here), stored next
  * to the batch, and the corpus-level figure is a register-wise merge of
  * the batch sketches — max(rho) for HLL, sum(cnt) for CMS — an
  * O(#batches × m) job that never touches the documents again. This is
  * the same shape as the manifest stats columns (`table/FileStats`):
  * metadata-sized summaries standing in for data-sized scans.
  *
  * Determinism contract (pinned by the x_hll / x_cms oracle rows):
  *  - hash = md5_number_lower(salt || ':' || key) — the DuckDB-recomputable
  *    64-bit hash used across the sampling/dedup family;
  *  - HLL: register = top p bits, rho = leading-zero count of the low
  *    (64-p)-bit window + 1 (so 1..64-p+1); registers are integer-exact.
  *    The estimator is the classic alpha_m * m^2 / sum(2^-rho) with the
  *    linear-counting small-range branch; the harmonic sum is carried as
  *    the EXACT integer sum of 2^(53-rho) (decimal/HUGEINT on the two
  *    engines) so the double appears only in the final two operations.
  *    No large-range branch: that correction patches 32-bit-hash
  *    saturation and a 64-bit hash space never reaches it.
  *  - CMS: ONE digest per occurrence; row i's column derives from the
  *    Kirsch-Mitzenmacher pair, col_i = (lower64 + i·upper64) mod width
  *    (Kirsch & Mitzenmacher 2006 — two hashes simulate the d independent
  *    ones without weakening the CMS bound). Counters integer-exact;
  *    point estimate = min over rows; the classic one-sided guarantee
  *    (estimate >= true count) is asserted in-query.
  */
object Sketches {

  // ---------------------------------------------------------------- HLL

  /** Sparse HLL registers `(reg, rho)` for the distinct values of
    * `keyCol`: one explode-free map pass + a register-bounded groupBy
    * (at most 2^p = m output rows regardless of input size). */
  def hllSketch(df: DataFrame, keyCol: String, p: Int = 12,
      salt: String = "hll"): DataFrame = {
    require(p >= 4 && p <= 18, s"p out of range: $p")
    val win = 64 - p
    val hash = udf { (key: String) =>
      val h = Dedup.md5Lower64(salt + ":" + key)
      val reg = (h >>> win).toInt
      val w = h & ((1L << win) - 1)
      val rho = if (w == 0L) win + 1
      else java.lang.Long.numberOfLeadingZeros(w) - p + 1
      (reg, rho)
    }
    df.select(hash(col(keyCol).cast("string")).as("h"))
      .select(col("h._1").cast("long").as("reg"),
        col("h._2").cast("long").as("rho"))
      .groupBy("reg").agg(max("rho").as("rho"))
  }

  /** Register-wise merge: max(rho). Union of sketches == sketch of the
    * union of inputs, by construction. */
  def hllMerge(sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ unionByName _).groupBy("reg").agg(max("rho").as("rho"))

  /** One-row estimate frame `(n_regs, zeros, estimate)`. The harmonic sum
    * folds 2^-rho (every term an exact binary power) in register order,
    * with the zero-register mass as the fold seed — a deterministic IEEE
    * sequence both engines replay verbatim, so the estimate differs only
    * in ln()'s last ulp on the linear-counting branch. The register list
    * is m-bounded (4096 at p=12), never input-sized. */
  def hllEstimate(sketch: DataFrame, p: Int = 12): DataFrame = {
    val m = 1 << p
    sketch
      .agg(sort_array(collect_list(struct(col("reg"), col("rho")))).as("rs"))
      .select(
        size(col("rs")).cast("long").as("n_regs"),
        (lit(m.toLong) - size(col("rs"))).as("zeros"),
        expr(s"aggregate(rs, cast($m - size(rs) as double), " +
          "(a, x) -> a + power(0.5, x.rho))").as("s"))
      .select(col("n_regs"), col("zeros"),
        (lit(0.7213 / (1.0 + 1.079 / m)) * lit(m.toDouble * m) / col("s"))
          .as("e_raw"))
      .select(col("n_regs"), col("zeros"),
        when(col("e_raw") <= lit(2.5 * m) && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("e_raw")).as("estimate"))
  }

  /** Sketch-based corpus overlap — the dataset-merge planning question
    * ("how much of B is already in A?") answered from two metadata-sized
    * register tables: |A|, |B| from each sketch, |A∪B| from the register-
    * wise merge (union of sketches == sketch of the union, exactly), the
    * intersection by inclusion-exclusion, and the Jaccard ratio. One row
    * `(est_a_r6, est_b_r6, est_union_r6, est_inter_r6, jaccard_r6)`.
    * Error: each estimate carries the HLL ~1.04/√m bound; inclusion-
    * exclusion ADDS the absolute errors, so the intersection estimate is
    * least reliable when the overlap is small relative to the union —
    * the x_hll_overlap gate pins the Jaccard within 0.05 absolute. */
  def hllJaccard(aIn: DataFrame, bIn: DataFrame, p: Int = 12): DataFrame = {
    // each sketch feeds its own estimate AND the merge (multi-consumer);
    // both are m-bounded
    val a = aIn.localCheckpoint()
    val b = bIn.localCheckpoint()
    val eA = hllEstimate(a, p).select(col("estimate").as("est_a"))
    val eB = hllEstimate(b, p).select(col("estimate").as("est_b"))
    val eU = hllEstimate(hllMerge(Seq(a, b)), p)
      .select(col("estimate").as("est_union"))
    eA.crossJoin(eB).crossJoin(eU)
      .withColumn("est_inter",
        greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")))
      .select(
        round(col("est_a"), 6).as("est_a_r6"),
        round(col("est_b"), 6).as("est_b_r6"),
        round(col("est_union"), 6).as("est_union_r6"),
        round(col("est_inter"), 6).as("est_inter_r6"),
        when(col("est_union") <= 0.0, lit(null).cast("double"))
          .otherwise(round(col("est_inter") / col("est_union"), 6))
          .as("jaccard_r6"))
  }

  // ---------------------------------------------------------------- CMS

  /** One md5 digest per occurrence; the depth row columns derive from the
    * Kirsch-Mitzenmacher pair (h1 + i·h2) — 64-bit wraparound then
    * mod-width, which collapses to a single native AND because width is a
    * power of two dividing 2^64. The per-row hashing never re-digests. */
  /** (md5_number_lower, md5_number_upper) of salt:key — ONE digest. */
  private def md5PairUdf(salt: String) = udf { key: String =>
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((salt + ":" + key).getBytes("UTF-8"))
    var h1 = 0L; var i = 15
    while (i >= 8) { h1 = (h1 << 8) | (d(i) & 0xffL); i -= 1 }
    var h2 = 0L; i = 7
    while (i >= 0) { h2 = (h2 << 8) | (d(i) & 0xffL); i -= 1 }
    (h1, h2)
  }

  /** The depth probe rows for one key hash pair, as native arithmetic:
    * col_i = (h1 + i·h2) mod width. Because width (a power of two)
    * divides 2^64, the unsigned-64 wraparound is invisible mod width, so
    * both operands mask down BEFORE the multiply — small nonnegative
    * longs, no ANSI overflow, still congruent to the oracle's exact
    * HUGEINT (lower + r·upper) % width. */
  private def kmCols(depth: Int, width: Int)(base: DataFrame): DataFrame = {
    require(width > 0 && (width & (width - 1)) == 0,
      s"cms width must be a power of two (mod = bitmask): $width")
    val m = lit(width.toLong - 1)
    base
      .withColumn("row", explode(lit((0L until depth.toLong).toArray)))
      .withColumn("col",
        (col("h._1").bitwiseAND(m) + col("row") * col("h._2").bitwiseAND(m))
          .bitwiseAND(m))
      .drop("h")
  }

  private def cmsCells(df: DataFrame, keyCol: String, weightCol: Option[String],
      depth: Int, width: Int, salt: String): DataFrame = {
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    kmCols(depth, width)(
      df.select(col(keyCol).cast("string").as("_k"), w.as("_w"))
        .withColumn("h", md5PairUdf(salt)(col("_k"))))
      .select(col("row"), col("col"), col("_w"))
  }

  /** Count-Min counters `(row, col, cnt)` — at most depth × width rows.
    * `weightCol = None` counts occurrences. */
  def cmsSketch(df: DataFrame, keyCol: String, weightCol: Option[String] = None,
      depth: Int = 4, width: Int = 1024, salt: String = "cms"): DataFrame =
    cmsCells(df, keyCol, weightCol, depth, width, salt)
      .groupBy("row", "col").agg(sum("_w").as("cnt"))

  /** Register-wise merge: sum(cnt). */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ unionByName _).groupBy("row", "col")
      .agg(sum("cnt").as("cnt"))

  /** Point estimates for a (small, broadcast) candidate key frame:
    * est(key) = min over rows of the counter at (row, hash_row(key)) —
    * a missing cell is a zero counter. The sketch never moves; the
    * candidate probes broadcast into it. */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024, salt: String = "cms"): DataFrame = {
    val probes = kmCols(depth, width)(
      keys.select(col(keyCol).cast("string").as("key")).distinct()
        .withColumn("h", md5PairUdf(salt)(col("key"))))
      .select(col("key"), col("row"), col("col"))
    broadcast(probes).join(sketch, Seq("row", "col"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy("key").agg(min("cnt").as("estimate"))
  }

  // ------------------------------------- DD (log-linear quantile sketch)

  /** Log-linear quantile sketch — the DDSketch/HDR-histogram family
    * (Masson, Rim & Lee, VLDB 2019; Tene's HdrHistogram uses the same
    * log-linear mapping): per-octave linear sub-buckets give a relative-
    * error guarantee of 1/(2s) while the whole sketch stays a bounded
    * `(bkt, cnt)` table that merges by plain counter sum — the third leg
    * of the mergeable-stats trio (HLL = distinct, CMS = frequency,
    * DD = quantiles).
    *
    * Exactness contract (the x_dd oracle rows): values are INTEGERS (cast
    * to long; fractional inputs are the caller's to scale — the
    * HdrHistogram convention), and the bucket function is EXACT integer
    * arithmetic — octave = bit length − 1 (never a float log, so the two
    * engines can't disagree at an octave boundary), sub-bucket =
    * ((v − 2^e) · s) div 2^e. The encoded key is monotone in the value
    * across the whole real line:
    *   v > 0 → bkt = e·s + j  (≥ 0)
    *   v = 0 → bkt = −1
    *   v < 0 → bkt = −2 − bkt(−v)  (≤ −2; the DDSketch mirrored store)
    * so cumulative counts in bkt order ARE the value CDF. With s a power
    * of two, every bucket boundary and midpoint is an exact binary
    * double — estimates are bit-identical across engines. */
  /** The exact-integer bucket of the staged `_ddv`/`_ddv_abs` columns:
    * e = bit length − 1 (bin() string length — never a float log),
    * j = (|v| − 2^e) div 2^(e−log2 s), encoded monotone per the scaladoc
    * above. The sub-bucket divides by the bucket width instead of
    * multiplying by s first — ((|v|−2^e)·s) would overflow long above
    * |v| ≈ 2^59; this form is overflow-free for every long except
    * |Long.MinValue| (abs unrepresentable — documented out). For the
    * low octaves (e < log2 s, width < 1) the width-divide degenerates,
    * so the multiply form runs there — its operands are tiny. */
  private def ddBucketExpr(s: Int): org.apache.spark.sql.Column = {
    val log2s = java.lang.Integer.numberOfTrailingZeros(s)
    val e = "cast(length(bin(_ddv_abs)) - 1 as int)"
    val base = s"shiftleft(1L, $e)"
    val posBkt = // bucket of _ddv_abs >= 1, exact integer arithmetic
      s"""cast($e as bigint) * $s +
         |(case when $e >= $log2s
         |  then (_ddv_abs - $base) div shiftleft(1L, $e - $log2s)
         |  else ((_ddv_abs - $base) * $s) div $base end)""".stripMargin
    expr(
      s"""case when _ddv = 0 then -1L
         |     when _ddv > 0 then $posBkt
         |     else -2L - ($posBkt) end""".stripMargin)
  }

  /** `df` plus the encoded bucket of `valueCol` as `bkt` — the audit /
    * gate form (e.g. "does the true rank-r value live in the bucket the
    * sketch chose?" — exact integer membership, no interval arithmetic). */
  def ddBucketOf(df: DataFrame, valueCol: String, s: Int = 32): DataFrame = {
    require(s > 0 && (s & (s - 1)) == 0, s"s must be a power of two: $s")
    df.withColumn("_ddv", col(valueCol).cast("long"))
      .withColumn("_ddv_abs", abs(col("_ddv")))
      .withColumn("bkt", ddBucketExpr(s))
      .drop("_ddv", "_ddv_abs")
  }

  /** Sketch rows `(bkt, cnt)` — at most s·64·2 + 2 rows regardless of
    * input size. Null values are ignored (SQL aggregate convention). */
  def ddSketch(df: DataFrame, valueCol: String, s: Int = 32): DataFrame = {
    require(s > 0 && (s & (s - 1)) == 0, s"s must be a power of two: $s")
    df.select(col(valueCol).cast("long").as("_ddv"))
      .where(col("_ddv").isNotNull)
      .withColumn("_ddv_abs", abs(col("_ddv")))
      .withColumn("bkt", ddBucketExpr(s))
      .groupBy("bkt").agg(count(lit(1)).as("cnt"))
  }

  /** Register-wise merge: sum(cnt). */
  def ddMerge(sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ unionByName _).groupBy("bkt").agg(sum("cnt").as("cnt"))

  /** Bucket midpoint — exact binary double (s is a power of two, so
    * 2^e·(1 + (2j+1)/(2s)) has a short mantissa on both engines). */
  private def ddMid(bkt: org.apache.spark.sql.Column, s: Int):
      org.apache.spark.sql.Column = {
    val log2s = java.lang.Integer.numberOfTrailingZeros(s)
    def mid(b: org.apache.spark.sql.Column) = {
      val e = (b / s).cast("int") // b >= 0 here, so / and div agree
      val j = b % s
      pow(lit(2.0), e) + (j * 2 + 1).cast("double") *
        pow(lit(2.0), e - lit(1 + log2s))
    }
    when(bkt === -1L, lit(0.0))
      .when(bkt >= 0L, mid(bkt))
      .otherwise(-mid(lit(-2L) - bkt))
  }

  /** Quantile estimates `(q, rank, bkt, est)` from a (merged) sketch:
    * rank = floor(q·(n−1)) + 1 (the nearest-rank convention), bkt = the
    * first bucket whose cumulative count reaches the rank, est = that
    * bucket's midpoint. The cumulative window runs over the register-
    * bounded sketch, never the data (the hllEstimate shape); the rank-r
    * value provably lies in the chosen bucket, so |est/true − 1| ≤ 1/(2s)
    * for nonzero values. */
  def ddQuantiles(sketchIn: DataFrame, qs: Seq[Double], s: Int = 32): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0), s"bad qs: $qs")
    // the sketch feeds both the cumulative window and the totals frame —
    // barrier the (register-bounded) input so a lazily-passed ddSketch
    // doesn't scan its corpus twice (the multi-consumer rule)
    val sketch = sketchIn.localCheckpoint()
    val spark = sketch.sparkSession
    import org.apache.spark.sql.expressions.Window
    // pmod keeps WindowExec from warning about a global window — the input
    // is the register-bounded sketch, so one partition is the point
    val w = Window.partitionBy(pmod(col("bkt"), lit(1))).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sketch.withColumn("cum", sum("cnt").over(w))
    val tot = cum.agg(max("cum").as("n"))
    val qdf = spark.createDataFrame(qs.map(Tuple1(_))).toDF("q")
    val ranks = broadcast(qdf.crossJoin(tot)
      .withColumn("rank", floor(col("q") * (col("n") - 1)) + 1))
    ranks.join(cum, col("cum") >= col("rank"))
      .groupBy("q", "rank").agg(min("bkt").as("bkt"))
      .withColumn("est", ddMid(col("bkt"), s))
      .select("q", "rank", "bkt", "est")
  }

  /** Distribution drift between two sketches (e.g. last week's corpus vs
    * this week's, or corpus vs new batch): per-quantile estimates side by
    * side with their delta — the monitoring readout that says "doc
    * lengths shifted" without touching either corpus. Returns
    * `(q, rank_a, est_a, rank_b, est_b, delta_r6)`. */
  def ddDrift(a: DataFrame, b: DataFrame, qs: Seq[Double],
      s: Int = 32): DataFrame = {
    val qa = ddQuantiles(a, qs, s).select(col("q"),
      col("rank").as("rank_a"), col("est").as("est_a"))
    val qb = ddQuantiles(b, qs, s).select(col("q"),
      col("rank").as("rank_b"), col("est").as("est_b"))
    // FULL outer: an empty side surfaces as null estimates per quantile
    // instead of a silently empty report (a drift monitor that says
    // nothing is worse than one that says "side B had no data")
    qa.join(qb, Seq("q"), "full_outer")
      .withColumn("delta_r6", round(col("est_b") - col("est_a"), 6))
      .select("q", "rank_a", "est_a", "rank_b", "est_b", "delta_r6")
  }

  /** Per-key sketch rows `(keys…, bkt, cnt)` — bounded per key, so the
    * whole frame is O(#keys × buckets): per-source / per-language length
    * distributions for the mixing and packing planners. */
  def ddSketchByKey(df: DataFrame, keyCols: Seq[String], valueCol: String,
      s: Int = 32): DataFrame = {
    require(s > 0 && (s & (s - 1)) == 0, s"s must be a power of two: $s")
    val keys = keyCols.map(col)
    df.select(keys :+ col(valueCol).cast("long").as("_ddv"): _*)
      .where(col("_ddv").isNotNull)
      .withColumn("_ddv_abs", abs(col("_ddv")))
      .withColumn("bkt", ddBucketExpr(s))
      .groupBy(keyCols.head, keyCols.tail :+ "bkt": _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-key quantiles `(keys…, q, rank, bkt, est)`. The cumulative
    * window partitions BY KEY over the per-key-bounded sketch — a hot key
    * owns at most `buckets` rows, never its data — and the rank join is
    * keys-equal + cum ≥ rank over the same bounded frame. */
  def ddQuantilesByKey(sketchIn: DataFrame, keyCols: Seq[String],
      qs: Seq[Double], s: Int = 32): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0), s"bad qs: $qs")
    val sketch = sketchIn.localCheckpoint() // two consumers, O(#keys × buckets)
    import org.apache.spark.sql.expressions.Window
    val spark = sketch.sparkSession
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sketch.withColumn("cum", sum("cnt").over(w))
    val qdf = spark.createDataFrame(qs.map(Tuple1(_))).toDF("q")
    val ranks = sketch.groupBy(keys: _*).agg(sum("cnt").as("n"))
      .crossJoin(broadcast(qdf))
      .withColumn("rank", floor(col("q") * (col("n") - 1)) + 1)
      .select(keyCols.map(k => col(k).as(s"_rk_$k")) ++
        Seq(col("q"), col("rank")): _*)
    val joinCond = keyCols.map(k => col(s"_rk_$k") === col(k))
      .reduce(_ && _) && col("cum") >= col("rank")
    ranks.join(cum, joinCond)
      .groupBy(keyCols.map(k => col(s"_rk_$k").as(k)) :+ col("q"): _*)
      .agg(max("rank").as("rank"), min("bkt").as("bkt"))
      .withColumn("est", ddMid(col("bkt"), s))
      .select(keys ++ Seq(col("q"), col("rank"), col("bkt"), col("est")): _*)
  }

  // ------------------------------------------------- persisted store

  /** Persisted corpus-stat sketches for the ongoing pipeline: HLL over the
    * corpus vocabulary + CMS over term occurrences + DD over doc lengths,
    * token-gated like the signature store. The store is APPEND-ONLY —
    * each tick writes its batch's register rows and readers merge
    * (groupBy max / sum, O(#batch sketches × m)), so maintenance is
    * O(batch) with no read-modify-write.
    * Sketches never subtract: after a CoW delete/merge rewrites the table,
    * the input token moves and the next tick rebuilds (degrade-to-correct,
    * the signature-store contract). Meta, freshness and the kind guard on
    * append are [[StoreMeta]]'s. */
  private def terms(docs: DataFrame, textCol: String): DataFrame =
    docs.select(
      explode(expr(s"filter(split(lower($textCol), '\\\\W+'), x -> x != '')"))
        .as("term"))

  def buildSketchStore(docs: DataFrame, dir: String,
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val token = StoreMeta.inputToken(docs)
    if (StoreMeta.fresh(spark, dir, "sketches", token)) return
    val t = terms(docs, textCol).localCheckpoint() // 2 consumers
    hllSketch(t, "term").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/hll")
    cmsSketch(t, "term").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/cms")
    ddSketch(docLens(docs, textCol), "dl").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/dd")
    StoreMeta.write(spark, dir,
      StoreMeta.of("kind" -> "sketches", "token" -> token.getOrElse(0L)))
  }

  /** Per-doc token count — the sequence-length distribution the packing /
    * chunking planners consume (via [[ddQuantiles]] over the store). */
  private def docLens(docs: DataFrame, textCol: String): DataFrame =
    docs.select(
      size(expr(s"filter(split(lower($textCol), '\\\\W+'), x -> x != '')"))
        .cast("long").as("dl"))

  /** O(batch): append the new batch's hll, cms and dd rows;
    * `corpusToken` is the post-commit table token (the
    * appendSignatureStore convention). Every build writes all three legs
    * before its meta, so a store with a meta always has them; a crash
    * part-way through a build or an append leaves a stale token, and the
    * next tick rebuilds the store. */
  def appendSketchStore(newDocs: DataFrame, dir: String,
      corpusToken: Option[Long], textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    val meta = StoreMeta.expect(spark, dir, "sketches")
    val t = terms(newDocs, textCol).localCheckpoint()
    hllSketch(t, "term").write
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$dir/hll")
    cmsSketch(t, "term").write
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$dir/cms")
    ddSketch(docLens(newDocs, textCol), "dl").write
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$dir/dd")
    StoreMeta.write(spark, dir, meta.updated("token" -> corpusToken.getOrElse(0L)))
  }

  /** Merged doc-length quantile sketch — read-side counter sum over the
    * accumulated batch sketches, like [[readSketchStore]]. */
  def readDdStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(s"$dir/dd").groupBy("bkt").agg(sum("cnt").as("cnt"))

  /** (merged HLL registers, merged CMS counters) — the corpus-level
    * sketches, merged read-side over however many batch sketches have
    * accumulated. */
  def readSketchStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = (
    spark.read.parquet(s"$dir/hll").groupBy("reg").agg(max("rho").as("rho")),
    spark.read.parquet(s"$dir/cms").groupBy("row", "col")
      .agg(sum("cnt").as("cnt")))
}
