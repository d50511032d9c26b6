package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Query.{by, t}

/** BM25 postings and top-k, hybrid sparse+dense retrieval, the retrieval
  * eval leg and token chunking over the documents table. The five BM25
  * oracles share one scoring chain, written once here. */
object RetrievalQueries {

  /** `toks`: each document's lower-case `\W+` tokens as `t` (the
    * retrieval and sketch layout of the CTE); `filter` restricts the
    * documents. */
  private[queries] def termToks(filter: String): String =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
      |  FROM documents""".stripMargin + filter + "),\n"

  /** The BM25 scoring chain through `scored` (query_id, doc_id, score):
    * \W+ tokenization -> postings -> df -> Lucene idf
    * ln(((N - df) + 0.5)/(df + 0.5) + 1) -> length-normalized tf with
    * k1=1.5, b=0.75 (all literals exact binary; ::DOUBLE casts keep DuckDB
    * out of DECIMAL arithmetic so constant folding is IEEE) -> term-ordered
    * left fold. Queries are the first 5 tokens of every doc_id % 50 == 7
    * document (`q`). */
  private val bm25Scored: String =
    "WITH " + termToks("") +
      """pos AS (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT term, doc_id, dl, count(*)::BIGINT AS tf
        |       FROM pos GROUP BY term, doc_id, dl),
        |stats AS (SELECT count(DISTINCT doc_id)::BIGINT AS n,
        |                 sum(tf)::BIGINT AS sumdl FROM tf),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        |q AS (SELECT doc_id AS query_id, t[1:5] AS qt FROM toks
        |      WHERE doc_id % 50 = 7),
        |qterms AS (SELECT DISTINCT query_id, term FROM
        |  (SELECT query_id, unnest(qt) AS term FROM q)),
        |contrib AS (
        |  SELECT qt.query_id, f.doc_id, f.term,
        |    ln((((s.n::DOUBLE - d.df) + 0.5::DOUBLE) / (d.df + 0.5::DOUBLE))
        |        + 1.0::DOUBLE)
        |    * ((f.tf * 2.5::DOUBLE) /
        |       (f.tf + 1.5::DOUBLE *
        |         (0.25::DOUBLE + (0.75::DOUBLE * f.dl)
        |            / (s.sumdl::DOUBLE / s.n)))) AS c
        |  FROM tf f
        |  JOIN qterms qt USING (term)
        |  JOIN df d ON d.term = f.term
        |  CROSS JOIN stats s),
        |scored AS (
        |  SELECT query_id, doc_id,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(c ORDER BY term)),
        |      (a, x) -> a + x) AS score
        |  FROM contrib GROUP BY query_id, doc_id),
        |""".stripMargin

  /** The BM25 chain ranked on the round-6 score with doc_id ties, cut to
    * the top-10 run `res` (query_id, rank, doc_id). */
  private val bm25Run: String =
    bm25Scored +
      """ranked AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(score, 6) DESC, doc_id)::BIGINT AS rank
        |  FROM scored),
        |res AS (SELECT query_id, rank, doc_id FROM ranked WHERE rank <= 10),
        |""".stripMargin

  /** The planted qrels `qr` (each query's own doc and its +13 neighbor),
    * their count per query `nrel`, and per query the run's hit count and
    * first relevant rank `hit`. */
  private val bm25Hits: String =
    """qr AS (SELECT query_id, query_id AS doc_id FROM q
      |       UNION SELECT query_id, (query_id + 13) % 500 FROM q),
      |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM qr
      |         GROUP BY query_id),
      |hit AS (SELECT r.query_id, count(*)::BIGINT AS hits,
      |          min(r.rank)::BIGINT AS first_rank
      |        FROM res r JOIN qr
      |          ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
      |        GROUP BY r.query_id)""".stripMargin

  /** The BM25 queries: the first 5 \W+ tokens of every doc_id % 50 == 7
    * document (the planted-input technique). */
  private def bm25Queries(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 50 === 7)
      .select(col("doc_id").as("query_id"),
        expr("array_join(slice(filter(split(lower(text), '\\\\W+'), " +
          "x -> x != ''), 1, 5), ' ')").as("query_text"))

  /** Shared retrieval-eval fixture (x_retrieval_eval / _summary / _ndcg):
    * the BM25 top-10 of [[bm25Queries]] at k1=1.5 / b=0.75. Returns
    * (queries, results). */
  private def bm25EvalRun(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val queries = bm25Queries(docs)
    (queries, graft.ops.Bm25.topK(docs, queries, k = 10, k1 = 1.5, b = 0.75))
  }

  /** Planted qrels for the fixture: each query's own doc plus its +13
    * neighbor (disjoint by construction — 13 ≠ 0 mod 500). */
  private def bm25EvalQrels(queries: DataFrame): DataFrame =
    queries.select(col("query_id"), col("query_id").as("doc_id"))
      .unionByName(queries.select(col("query_id"),
        ((col("query_id") + 13) % 500).as("doc_id")))

  val all: Seq[Query] = Seq(
    Query("x_bm25_postings", (s, dir) =>
      // the inverted-index build: postings (term, doc_id, tf, dl) over a
      // doc_id-bounded sub-corpus — integer-exact, fully recomputed in
      // DuckDB from the same \W+ tokenization
      graft.ops.Bm25.index(
          t(s, dir, "documents").filter(col("doc_id") < 50)),
      order = by("term", "doc_id"),
      oracle = Some("WITH " + termToks(" WHERE doc_id < 50") +
        """pos AS (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks)
          |SELECT term, doc_id, dl, count(*)::BIGINT AS tf
          |FROM pos GROUP BY term, doc_id, dl
          |ORDER BY term, doc_id""".stripMargin)),
    Query("x_bm25_topk", (s, dir) => {
      // BM25 top-10 retrieval (k1=1.5, b=0.75 — exact-binary literals so
      // constant folding is engine-neutral): queries are the first 5
      // tokens of every doc_id % 50 == 7 document (planted-input
      // technique), scored against the full corpus. The oracle recomputes
      // the ENTIRE pipeline — tokenization, postings, df, the Lucene idf,
      // the length-normalized tf, the term-ordered left-fold sum — and
      // ranks on the round-6 score with doc_id ties (engine-stable).
      val docs = t(s, dir, "documents")
      graft.ops.Bm25.topK(docs, bm25Queries(docs), k = 10, k1 = 1.5, b = 0.75)
    }, order = by("query_id", "rank"),
      // the chain, then the rank on the round-6 score with doc_id ties.
      // ln()'s last ulp is absorbed by round-6 (x_lm_score convention).
      oracle = Some(bm25Scored +
        """ranked AS (
          |  SELECT query_id, doc_id, round(score, 6) AS score_r6,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY round(score, 6) DESC, doc_id)::BIGINT AS rank
          |  FROM scored)
          |SELECT query_id, rank, doc_id, score_r6 FROM ranked
          |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    Query("x_hybrid_rrf", (s, dir) => {
      // hybrid retrieval: BM25 top-10 (sparse) + exact dense top-10,
      // fused by reciprocal rank (k0=60). documents and embeddings share
      // the same id space by construction, so doc_id % 50 == 7 yields
      // queries with BOTH a text (first 5 tokens — the x_bm25 technique)
      // and a query vector. The oracle recomputes both arms AND the
      // fusion: per-arm round-6 rankings, the coalesce-summed 1/(60+r)
      // terms in the same operand order, the final round-6 ranking.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val queries = bm25Queries(docs)
        .join(emb.select(col("vec_id").as("query_id"),
          col("embedding").as("qv")), "query_id")
      graft.ops.HybridRetrieval.topK(docs, emb, queries,
          k = 10, depth = 10, k1 = 1.5, b = 0.75)
    }, order = by("query_id", "rank"),
      // both arms fully recomputed (the x_bm25_topk chain for the sparse
      // arm; list_cosine_similarity over DOUBLE[] for the dense arm, the
      // x_ann_brute convention) and then the fusion itself: per-arm
      // round-6 rankings with doc_id ties, 1/(60+rank) terms coalesce-
      // summed sparse-first (fixed operand order keeps fp64 engine-
      // identical), round-6 fused score, final rank with doc_id ties.
      oracle = Some(bm25Scored +
        """sranked AS (
          |  SELECT query_id, doc_id,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY round(score, 6) DESC, doc_id)::BIGINT AS sparse_rank
          |  FROM scored),
          |sparse AS (SELECT query_id, doc_id, sparse_rank FROM sranked
          |           WHERE sparse_rank <= 10),
          |qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          |       WHERE vec_id % 50 = 7),
          |dc AS (SELECT qe.query_id, e.vec_id AS doc_id,
          |         round(list_cosine_similarity(cast(e.embedding AS DOUBLE[]),
          |           cast(qe.qv AS DOUBLE[])), 6) AS cos_r6
          |       FROM embeddings e CROSS JOIN qe),
          |dranked AS (
          |  SELECT query_id, doc_id,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY cos_r6 DESC, doc_id)::BIGINT AS dense_rank
          |  FROM dc),
          |dense AS (SELECT query_id, doc_id, dense_rank FROM dranked
          |          WHERE dense_rank <= 10),
          |fused AS (
          |  SELECT coalesce(s.query_id, d.query_id) AS query_id,
          |         coalesce(s.doc_id, d.doc_id) AS doc_id,
          |         s.sparse_rank, d.dense_rank,
          |         round(
          |           coalesce(1.0::DOUBLE / (60.0::DOUBLE + s.sparse_rank),
          |                    0.0::DOUBLE)
          |           + coalesce(1.0::DOUBLE / (60.0::DOUBLE + d.dense_rank),
          |                      0.0::DOUBLE), 6) AS rrf_r6
          |  FROM sparse s FULL OUTER JOIN dense d
          |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id),
          |franked AS (
          |  SELECT query_id, doc_id, rrf_r6, sparse_rank, dense_rank,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY rrf_r6 DESC, doc_id)::BIGINT AS rank
          |  FROM fused)
          |SELECT query_id, rank, doc_id, rrf_r6, sparse_rank, dense_rank
          |FROM franked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    Query("x_retrieval_eval", (s, dir) => {
      // the eval leg of the retrieval loop: recall@10 + reciprocal rank
      // of the BM25 run against planted qrels (each query's own doc and
      // its +13 neighbor). The oracle replays the whole chain — the
      // x_bm25_topk retrieval AND the per-query metrics.
      val (queries, results) = bm25EvalRun(s, dir)
      graft.ops.RetrievalEval.perQuery(results, bm25EvalQrels(queries),
        k = 10)
    }, order = by("query_id"),
      // the x_bm25_topk run, then the eval replay: distinct qrels,
      // per-query hit count + first relevant rank, guarded rr,
      // integer-exact recall
      oracle = Some(bm25Run + bm25Hits +
        """
          |SELECT n.query_id, n.n_rel, coalesce(h.hits, 0)::BIGINT AS hits,
          |  h.first_rank,
          |  CASE WHEN h.first_rank IS NULL THEN 0.0::DOUBLE
          |       ELSE round(1.0::DOUBLE / h.first_rank, 6) END AS rr_r6,
          |  round(coalesce(h.hits, 0) / n.n_rel, 6) AS recall_r6
          |FROM nrel n LEFT JOIN hit h USING (query_id)
          |ORDER BY query_id""".stripMargin)),
    Query("x_retrieval_summary", (s, dir) => {
      // the one-row MRR / mean-recall report — per-query rows folded in
      // query_id order, replayed via list_reduce in DuckDB
      val (queries, results) = bm25EvalRun(s, dir)
      graft.ops.RetrievalEval.summary(results, bm25EvalQrels(queries),
        k = 10)
    },
      // same run and hits; the means fold the per-query rows in query_id
      // order
      oracle = Some(bm25Run + bm25Hits +
        """,
          |perq AS (
          |  SELECT n.query_id,
          |    CASE WHEN h.first_rank IS NULL THEN 0.0::DOUBLE
          |         ELSE round(1.0::DOUBLE / h.first_rank, 6) END AS rr_r6,
          |    round(coalesce(h.hits, 0) / n.n_rel, 6) AS recall_r6
          |  FROM nrel n LEFT JOIN hit h USING (query_id))
          |SELECT count(*)::BIGINT AS n_queries,
          |  round(list_reduce(list_prepend(0.0::DOUBLE,
          |      list(rr_r6 ORDER BY query_id)), (a, x) -> a + x)
          |    / count(*), 6) AS mrr_r6,
          |  round(list_reduce(list_prepend(0.0::DOUBLE,
          |      list(recall_r6 ORDER BY query_id)), (a, x) -> a + x)
          |    / count(*), 6) AS mean_recall_r6
          |FROM perq""".stripMargin)),
    Query("x_retrieval_ndcg", (s, dir) => {
      // graded relevance: nDCG@10 of the BM25 run with grade 2 for the
      // query's own doc and grade 1 for its +13 neighbor; both the dcg
      // and ideal-dcg folds (fixed rank / ideal-position order) replayed
      // in DuckDB
      val (queries, results) = bm25EvalRun(s, dir)
      val qrels = bm25EvalQrels(queries).withColumn("grade",
        when(col("doc_id") === col("query_id"), lit(2.0)).otherwise(lit(1.0)))
      graft.ops.RetrievalEval.perQueryNdcg(results, qrels, k = 10)
    }, order = by("query_id"),
      // the x_bm25_topk run, then both nDCG folds replayed: dcg in rank
      // order, ideal dcg via grade-desc list + a struct-accumulator fold
      // carrying the 1-based ideal position
      oracle = Some(bm25Run +
        """qrg AS (SELECT query_id, query_id AS doc_id, 2.0::DOUBLE AS grade
          |        FROM q
          |        UNION ALL
          |        SELECT query_id, (query_id + 13) % 500 AS doc_id,
          |          1.0::DOUBLE AS grade FROM q),
          |dj AS (SELECT r.query_id, r.rank, g.grade FROM res r
          |       JOIN qrg g ON g.query_id = r.query_id AND g.doc_id = r.doc_id),
          |dcg AS (SELECT query_id, list_reduce(list_prepend(0.0::DOUBLE,
          |          list(grade / (ln(rank + 1.0::DOUBLE) / ln(2.0::DOUBLE))
          |            ORDER BY rank)),
          |          (a, x) -> a + x) AS dcg FROM dj GROUP BY query_id),
          |idl AS (SELECT query_id, list_sort(list(grade), 'DESC')[1:10] AS ideal
          |        FROM qrg GROUP BY query_id),
          |-- acc is assigned BEFORE pos: DuckDB's list_reduce rebinds the
          |-- accumulator's fields as struct_pack assigns them, so a field
          |-- assigned from its own old value (pos := a.pos + 1) must come
          |-- AFTER every field that reads the old a.pos
          |idcg AS (SELECT query_id, list_reduce(
          |    list_prepend(struct_pack(acc := 0.0::DOUBLE, pos := 0.0::DOUBLE),
          |      list_transform(ideal,
          |        g -> struct_pack(acc := g, pos := 0.0::DOUBLE))),
          |    (a, t) -> struct_pack(
          |      acc := a.acc + t.acc
          |        / (ln(a.pos + 2.0::DOUBLE) / ln(2.0::DOUBLE)),
          |      pos := a.pos + 1.0)).acc AS idcg
          |  FROM idl)
          |SELECT i.query_id, round(coalesce(d.dcg, 0.0::DOUBLE), 6) AS dcg_r6,
          |  round(i.idcg, 6) AS idcg_r6,
          |  CASE WHEN i.idcg = 0.0 THEN NULL
          |       ELSE round(coalesce(d.dcg, 0.0::DOUBLE) / i.idcg, 6)
          |  END AS ndcg_r6
          |FROM idcg i LEFT JOIN dcg d USING (query_id)
          |ORDER BY i.query_id""".stripMargin)),
    Query("x_chunk_windows", (s, dir) =>
      // RAG-style token chunking (size 40, overlap 10, right-aligned last
      // window): every placement — chunk count, starts, lengths, and the
      // rejoined chunk text — recomputed in DuckDB with the same integer
      // arithmetic and list slicing
      graft.ops.Chunking.chunk(t(s, dir, "documents"), size = 40, overlap = 10),
      order = by("doc_id", "chunk_id"),
      // same placement arithmetic: nchunks via exact integer ceil, stride
      // 30, right-aligned last window, 1-based inclusive list slicing
      oracle = Some("WITH " + termToks("") +
        """d AS (SELECT doc_id, t, len(t)::BIGINT AS n FROM toks WHERE len(t) > 0),
          |c AS (SELECT doc_id, t, n,
          |  CASE WHEN n <= 40 THEN 1 ELSE (n - 40 + 29) // 30 + 1 END AS nchunks
          |  FROM d),
          |e AS (SELECT doc_id, t, n,
          |  unnest(generate_series(0, nchunks - 1)) AS chunk_id FROM c),
          |f AS (SELECT doc_id, chunk_id::BIGINT AS chunk_id,
          |  (CASE WHEN n <= 40 THEN 0 ELSE least(chunk_id * 30, n - 40) END)::BIGINT
          |    AS start_tok, n, t FROM e)
          |SELECT doc_id, chunk_id, start_tok,
          |  least(40, n - start_tok)::BIGINT AS n_tok,
          |  array_to_string(
          |    t[start_tok + 1 : start_tok + least(40, n - start_tok)], ' ')
          |    AS chunk_text
          |FROM f ORDER BY doc_id, chunk_id""".stripMargin)))
}
