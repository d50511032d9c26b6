package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Sampling, WsTokenCount}
import graft.queries.DedupQueries.{closure, grams3, lowerToks}
import graft.queries.Query.{by, t, tmpDir}

/** Training-mix construction over the documents table: BPE token counts,
  * reproducible and leakage-free splits, token-budget and temperature
  * mixing, sequence packing. */
object MixingQueries {

  /** The documents with their whitespace token count `ws_tokens`. */
  private def wsDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").withColumn("ws_tokens",
      WsTokenCount.ws_token_count(col("text")))

  private val budgets = Map("en" -> 30000L, "fr" -> 8000L, "de" -> 8000L,
    "es" -> 8000L)

  /** Per-language token-budget membership: a hash-ordered prefix whose
    * running ws-token sum before each doc stays under its language's
    * budget (same md5 buckets, same running-sum window). */
  private val tokenBudgetSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    cast(len(list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'),
      |      x -> x <> '')) as int) AS ws_tokens,
      |    md5_number_lower('mix:' || cast(doc_id as varchar)) % 1000000 AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, ws_tokens,
      |    coalesce(sum(cast(ws_tokens as bigint)) OVER (
      |      PARTITION BY lang ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      |  FROM d)
      |SELECT doc_id, lang, ws_tokens FROM c
      |WHERE (lang = 'en' AND before < 30000)
      |   OR (lang = 'fr' AND before < 8000)
      |   OR (lang = 'de' AND before < 8000)
      |   OR (lang = 'es' AND before < 8000)
      |ORDER BY doc_id""".stripMargin

  val all: Seq[Query] = Seq(
    Query("x_bpe_tokens", (s, dir) => {
      // REAL trained byte-level BPE (not the pre-tokenizer estimate):
      // distributed word-frequency pass, deterministic driver-side merge
      // loop, then a map-only count. Not SQL-expressible -> rows-only.
      // The tokenizer is a BUILD ARTIFACT: trainCached persists the model
      // as a `bpe` StoreMeta store keyed by the input's metadata freshness
      // token, so repeat invocations load it instead of re-running the
      // word-frequency shuffle — at scale a tokenizer retrain per query is
      // a full corpus pass the pipeline never intended.
      val docs = t(s, dir, "documents")
      val model = graft.ops.Bpe.trainCached(docs, tmpDir("graft_bpe", dir),
        nMerges = 256)
      graft.ops.Bpe.tokenCounts(docs, model)
    }, order = by("doc_id")),
    Query("x_split_assign", (s, dir) =>
      // reproducible train/val/test split by salted md5 hash bucket —
      // engine-independent BY CONSTRUCTION, so the oracle verifies exact
      // membership (DuckDB recomputes every bucket), not just the rates
      Sampling.assignSplits(t(s, dir, "documents"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "graft")
        .select(col("doc_id"), col("split")),
      order = by("doc_id"),
      oracle = Some(
        """SELECT doc_id,
          |  CASE WHEN b < 800000 THEN 'train'
          |       WHEN b < 900000 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM (SELECT doc_id,
          |        md5_number_lower('graft:' || cast(doc_id as varchar)) % 1000000 AS b
          |      FROM documents)
          |ORDER BY doc_id""".stripMargin)),
    Query("x_split_leakfree", (s, dir) =>
      // leakage-free splits: the split hash runs on the near-dup
      // component REPRESENTATIVE (min doc_id; singletons = self), so a
      // near-dup family can never straddle train/eval. Oracle: the
      // recursive-CTE closure (the x_dedup_clusters ground truth) feeds
      // the same md5-bucket CASE keyed on the representative.
      Sampling.assignSplitsLeakFree(t(s, dir, "documents"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "graft",
          threshold = 0.7)
        .select(col("doc_id"), col("rep_id"), col("split")),
      order = by("doc_id"),
      // the x_dedup_clusters closure gives the representative; the
      // x_split_assign bucket CASE then runs on the representative
      oracle = Some("WITH RECURSIVE " + lowerToks() + grams3("g", "toks") + ",\n" +
        closure("0.7") + ",\n" +
        """cl AS (SELECT doc_id, min(reach) AS cluster_id FROM r GROUP BY doc_id),
          |rep AS (
          |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS rep_id
          |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
          |SELECT doc_id, rep_id,
          |  CASE WHEN b < 800000 THEN 'train'
          |       WHEN b < 900000 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM (SELECT doc_id, rep_id,
          |        md5_number_lower('graft:' || cast(rep_id as varchar)) % 1000000 AS b
          |      FROM rep)
          |ORDER BY doc_id""".stripMargin)),
    Query("x_token_budget", (s, dir) =>
      // pretraining-mix selection: per-language token budgets filled by a
      // deterministic hash-ordered prefix; DuckDB recomputes the exact
      // membership (same md5 buckets, same running-sum window)
      Sampling.tokenBudgetSample(wsDocs(s, dir), budgets, salt = "mix")
        .select(col("doc_id"), col("lang"), col("ws_tokens")),
      order = by("doc_id"),
      oracle = Some(tokenBudgetSql)),
    Query("x_token_budget_bucketed", (s, dir) =>
      // the skew-proof two-pass form a 100 TB run uses (per-(stratum,
      // hash-range) windows + tiny carry-in offsets — no giant stratum
      // serializes into one window task). Contract-identical to
      // tokenBudgetSample, so the SAME DuckDB membership oracle applies.
      Sampling.tokenBudgetSampleBucketed(wsDocs(s, dir), budgets, salt = "mix")
        .select(col("doc_id"), col("lang"), col("ws_tokens")),
      order = by("doc_id"),
      // contract-identical to x_token_budget (the two-pass bucketed plan
      // computes the SAME before-sum), so the same membership oracle holds
      oracle = Some(tokenBudgetSql)),
    Query("x_temperature_mix", (s, dir) => {
      // temperature-weighted domain mixing (the size^alpha pretraining
      // recipe): budgets derived from stratum counts with integer-exact
      // arithmetic (isqrt weights at alpha=0.5), selection = deterministic
      // hash-ordered prefix. DuckDB recomputes the WHOLE thing — counts,
      // weights, budget division, membership — not just the rate.
      val docs = t(s, dir, "documents")
      val budgets = Sampling.temperatureBudgets(
        docs, totalBudget = 300L, alpha = 0.5, stratumCol = "lang")
      val budgetExpr = budgets.foldLeft(lit(null).cast("long")) {
        case (acc, (k, v)) => when(col("lang") === k, lit(v)).otherwise(acc)
      }
      Sampling.temperatureMix(docs, totalBudget = 300L,
          alpha = 0.5, salt = "mixt", precomputed = budgets)
        .select(col("doc_id"), col("lang"))
        .withColumn("budget", budgetExpr)
    }, order = by("doc_id"),
      // full recompute: stratum counts -> isqrt weights -> truncating
      // budget division -> hash-ordered prefix membership. sum(bigint) is
      // HUGEINT in DuckDB; the // division then casts back down.
      oracle = Some(
        """WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
          |w AS (SELECT lang, cast(floor(sqrt(cast(n AS double))) AS bigint) AS w FROM n),
          |tw AS (SELECT sum(w) AS tw FROM w),
          |b AS (SELECT lang, cast(300 * w // tw AS bigint) AS budget FROM w, tw),
          |d AS (SELECT doc_id, lang,
          |        md5_number_lower('mixt:' || cast(doc_id as varchar)) % 1000000 AS h
          |      FROM documents),
          |r AS (SELECT doc_id, lang,
          |        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
          |      FROM d)
          |SELECT r.doc_id, r.lang, b.budget
          |FROM r JOIN b USING (lang)
          |WHERE rn <= b.budget
          |ORDER BY doc_id""".stripMargin)),
    Query("x_seq_pack", (s, dir) =>
      // sequence packing for LM training: concat-and-chunk placement table
      // (which slice of which doc lands where in fixed 512-token training
      // sequences), deterministic hash concat order, two-pass prefix sum
      // (no global window task). All integer math — DuckDB recomputes
      // every placement exactly.
      graft.ops.Packing.packSequences(wsDocs(s, dir), capacity = 512L, salt = "pack",
        ranges = 8),
      order = by("doc_id", "seq_id"),
      // concat-and-chunk placement: global hash-ordered before-sums, then
      // one row per (doc, sequence) overlap with pure integer slicing.
      // WHERE len > 0 runs before the window (both engines), matching the
      // zero-token-doc drop.
      oracle = Some(
        """WITH d AS (
          |  SELECT doc_id,
          |    cast(len(list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'),
          |      x -> x <> '')) as bigint) AS len,
          |    md5_number_lower('pack:' || cast(doc_id as varchar)) % 1000000 AS h
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, len,
          |    cast(coalesce(sum(len) OVER (ORDER BY h, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS before
          |  FROM d WHERE len > 0),
          |e AS (
          |  SELECT doc_id, before, len,
          |    unnest(generate_series(before // 512, (before + len - 1) // 512)) AS seq_id
          |  FROM c)
          |SELECT doc_id, seq_id,
          |  greatest(0, seq_id * 512 - before) AS doc_offset,
          |  greatest(before, seq_id * 512) - seq_id * 512 AS seq_offset,
          |  least(before + len, (seq_id + 1) * 512) - greatest(before, seq_id * 512) AS piece_len
          |FROM e ORDER BY doc_id, seq_id""".stripMargin)),
    Query("x_token_count_native", (s, dir) =>
      // native codegen'd Catalyst expression (no UDF boxing)
      t(s, dir, "documents").select(col("doc_id"),
        WsTokenCount.ws_token_count(col("text")).as("ws_tokens")),
      order = by("doc_id"),
      oracle = Some(
        """SELECT doc_id,
          |  cast(len(list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'),
          |    x -> x <> '')) as int) AS ws_tokens
          |FROM documents ORDER BY doc_id""".stripMargin)))
}
