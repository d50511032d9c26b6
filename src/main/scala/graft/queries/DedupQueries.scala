package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, SubstringDedup}
import graft.queries.Query.{by, t, tmpDir}

/** Near-dup, exact, substring, line-level and SimHash dedup plus benchmark
  * decontamination over the documents table. Each shared oracle chain
  * below is written once; the oracles join them with `+`. */
object DedupQueries {

  /** `toks`: each document's lower-case `\W+` tokens as `t`; `filter`
    * (e.g. " WHERE doc_id < 1000") restricts the documents. */
  private[queries] def lowerToks(filter: String = ""): String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
      |  FROM documents""".stripMargin + filter + "),\n"

  /** `name`: each doc's distinct word 3-grams over the `t` column of
    * `from` (a doc under 3 tokens keeps its tokens) — the grams every
    * exact-Jaccard oracle compares. */
  private[queries] def grams3(name: String, from: String): String =
    name + """ AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
      |    ELSE list_transform(generate_series(1, len(t)-2),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
      |  FROM """.stripMargin + from + ")"

  /** The near-dup closure over the grams `g`: pairs `p` at exact 3-gram
    * Jaccard >= `threshold`, undirected edges `e`, and the recursive
    * reachability `r` (doc_id, reach) whose min reach is the cluster id. */
  private[queries] def closure(threshold: String): String =
    """p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  WHERE cast(len(list_intersect(a.grams, b.grams)) as double)
      |        / len(list_distinct(list_concat(a.grams, b.grams))) >= """.stripMargin +
      threshold + """),
      |e AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
      |r AS (
      |  SELECT doc_a AS doc_id, doc_a AS reach FROM e
      |  UNION
      |  SELECT r.doc_id, e.doc_b AS reach FROM r JOIN e ON r.reach = e.doc_a)""".stripMargin

  /** The non-keeper members of the closure's clusters. */
  private[queries] val dropSet: String =
    """drop_set AS (
      |  SELECT doc_id FROM (SELECT doc_id, min(reach) AS cluster_id
      |                      FROM r GROUP BY doc_id)
      |  WHERE cluster_id <> doc_id)""".stripMargin

  /** FNV-1a-64 of the token `tok`: a list_reduce fold over its byte
    * ordinals (ASCII table, so ord == the UTF-8 byte), the 2^64 wrap via
    * HUGEINT mod. */
  private[queries] val fnv1a64: String =
    """    list_reduce(
      |      list_prepend(14695981039346656037::UBIGINT,
      |        list_transform(generate_series(1, strlen(tok)), i -> ord(tok[i])::UBIGINT)),
      |      (acc, b) -> ((xor(acc, b)::HUGEINT * 1099511628211)
      |                   % 18446744073709551616)::UBIGINT)""".stripMargin

  /** All pairs at exact 3-gram Jaccard >= 0.7 (the minhash contract). */
  private def jaccardPairsSql(filter: String): String =
    "WITH " + lowerToks(filter) + grams3("g", "toks") + "\n" +
      """SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    cast(len(list_intersect(a.grams, b.grams)) as double)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""".stripMargin

  /** Distinct 5-grams per doc `g`, and `bg` the benchmark's (docs >= 250). */
  private val benchGrams: String =
    "WITH " + lowerToks() +
      """g AS (
        |  SELECT doc_id, CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |    ELSE list_distinct(list_transform(generate_series(1, len(t)-4),
        |           i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])) END AS grams
        |  FROM toks),
        |bg AS (SELECT DISTINCT gram FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id >= 250))""".stripMargin

  /** Every 10-gram window `g` (doc_id, pos, gram) and the duplicated gram
    * strings `d` (count >= 2 corpus-wide, all occurrences). */
  private val dupWindows: String =
    "WITH " + lowerToks() +
      """g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5]||' '
        |      ||t[i+6]||' '||t[i+7]||' '||t[i+8]||' '||t[i+9] AS gram
        |  FROM toks, unnest(generate_series(1, greatest(len(t) - 9, 0))) AS u(i)),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |""".stripMargin

  /** SimHash over per-doc token counts `cnt`: `hashCtes` turns them into
    * `packed` (doc_id, hw: list of (h, w)); then the 64 signed bit votes,
    * the zero hash for token-less docs, and brute-force all-pairs
    * Hamming <= 3. */
  private def simhashSql(filter: String, hashCtes: String): String =
    "WITH " + lowerToks(filter) +
      """cnt AS (
        |  SELECT doc_id, tok, count(*)::BIGINT AS w
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        |  GROUP BY doc_id, tok),
        |""".stripMargin + hashCtes +
      """,
        |sim0 AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(generate_series(0, 63), b ->
        |      CASE WHEN list_sum(list_transform(hw, s ->
        |             CASE WHEN (s.h >> b) & 1 = 1 THEN s.w ELSE -s.w END)) > 0
        |           THEN (1::UBIGINT << b) ELSE 0::UBIGINT END))::UBIGINT AS sh
        |  FROM packed),
        |sim AS (
        |  SELECT t.doc_id, coalesce(s.sh, 0::UBIGINT) AS sh
        |  FROM toks t LEFT JOIN sim0 s ON t.doc_id = s.doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  cast(bit_count(xor(a.sh, b.sh)) as int) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin

  val all: Seq[Query] = Seq(
    Query("x_dedup_minhash", (s, dir) =>
      // oracle-checkable form: (doc_a, doc_b, exact jaccard) — the
      // est_jaccard screening column is internal (signature-sampling noise
      // is engine-specific; the exact Jaccard is the contract). DuckDB
      // recomputes the all-pairs ground truth at the verify SF, so emitted
      // pairs must be EXACTLY those with true 3-gram Jaccard >= 0.7.
      Dedup.minhashPairs(t(s, dir, "documents"), threshold = 0.7)
        .select(col("doc_a"), col("doc_b"), col("jaccard")),
      order = by("doc_a", "doc_b"),
      oracle = Some(jaccardPairsSql(""))),
    Query("x_dedup_clusters", (s, dir) =>
      // pairs -> connected components (hash-min label propagation); keeper
      // per component = min doc_id. Oracled by a DuckDB recursive-CTE
      // transitive closure over the exact pair set.
      Dedup.duplicateClusters(t(s, dir, "documents"), threshold = 0.7),
      order = by("doc_id"),
      oracle = Some("WITH RECURSIVE " + lowerToks() + grams3("g", "toks") + ",\n" +
        closure("0.7") + "\n" +
        """SELECT doc_id, min(reach) AS cluster_id
          |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Query("x_dedup_near", (s, dir) =>
      // the end-user dedup: corpus minus non-keeper cluster members
      Dedup.nearDedup(t(s, dir, "documents"), threshold = 0.7)
        .select(col("doc_id"), col("lang")),
      order = by("doc_id"),
      oracle = Some("WITH RECURSIVE " + lowerToks() + grams3("g", "toks") + ",\n" +
        closure("0.7") + ",\n" + dropSet + "\n" +
        """SELECT doc_id, lang FROM documents
          |WHERE doc_id NOT IN (SELECT doc_id FROM drop_set)
          |ORDER BY doc_id""".stripMargin)),
    Query("x_dedup_incremental", (s, dir) => {
      // incremental ingestion: docs >= 250 are "the new batch", docs < 250
      // the existing corpus; survivors = new docs with no corpus near-dup
      // at J >= 0.7. Oracle: DuckDB cross-checks every (new, corpus) pair.
      val d = t(s, dir, "documents")
      Dedup.nearDedupAgainst(d.filter(col("doc_id") >= 250),
          d.filter(col("doc_id") < 250), threshold = 0.7)
        .select(col("doc_id"), col("lang"))
    }, order = by("doc_id"),
      oracle = Some("WITH " + lowerToks() + grams3("g", "toks") + ",\n" +
        """matched AS (
          |  SELECT DISTINCT i.doc_id
          |  FROM g i JOIN g c ON i.doc_id >= 250 AND c.doc_id < 250
          |  WHERE cast(len(list_intersect(i.grams, c.grams)) as double)
          |        / len(list_distinct(list_concat(i.grams, c.grams))) >= 0.7)
          |SELECT doc_id, lang FROM documents
          |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM matched)
          |ORDER BY doc_id""".stripMargin)),
    Query("x_bloom_dedup", (s, dir) => {
      // the Bloom-gated EXACT incremental dedup (Dolma-style): corpus
      // docs < 250 committed into a sharded filter + shard-partitioned
      // md5 store; the batch (docs >= 250 plus 25 PLANTED exact copies of
      // corpus docs 0..24, re-keyed +10000 — the planted-union technique,
      // since no organic exact dup crosses the 250 boundary) flows
      // through the gate. Only the probe-positive sliver ever joins the
      // store, and only its shards' directories are scanned; the result
      // is EXACT regardless of fp draws, which is precisely what the
      // oracle pins: survivors == batch minus corpus md5 membership.
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250).unionByName(
        d.filter(col("doc_id") < 25).withColumn("doc_id", col("doc_id") + 10000))
      val bdir = tmpDir("graft_bloom", dir)
      graft.ops.BloomDedup.buildBloom(corpus, bdir, shards = 8)
      graft.ops.BloomDedup.dedupAgainst(batch, bdir)
        .select(col("doc_id"), col("lang"))
    }, order = by("doc_id"),
      // the EXACT contract the Bloom gate must reproduce regardless of
      // false-positive draws: batch (with the planted re-keyed copies)
      // minus corpus md5 membership — fp costs a confirmed lookup, never
      // a row
      oracle = Some(
        """WITH batch AS (
          |  SELECT doc_id, lang, text FROM documents WHERE doc_id >= 250
          |  UNION ALL
          |  SELECT doc_id + 10000 AS doc_id, lang, text FROM documents WHERE doc_id < 25)
          |SELECT doc_id, lang FROM batch
          |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id < 250)
          |ORDER BY doc_id""".stripMargin)),
    Query("x_decontaminate", (s, dir) => {
      // benchmark decontamination (r6): docs >= 250 play the eval set —
      // the same split as x_dedup_incremental, where cross-boundary
      // near-dups exist, so 5-grams genuinely collide — and docs < 250
      // the corpus; survivors share NO 5-gram with the benchmark.
      val d = t(s, dir, "documents")
      Dedup.decontaminate(d.filter(col("doc_id") < 250),
          d.filter(col("doc_id") >= 250), n = 5)
        .select(col("doc_id"), col("lang"))
    }, order = by("doc_id"),
      oracle = Some(benchGrams +
        """,
          |hits AS (
          |  SELECT cg.doc_id
          |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id < 250) cg
          |  JOIN bg USING (gram) GROUP BY cg.doc_id)
          |SELECT doc_id, lang FROM documents
          |WHERE doc_id < 250 AND doc_id NOT IN (SELECT doc_id FROM hits)
          |ORDER BY doc_id""".stripMargin)),
    Query("x_contamination_audit", (s, dir) => {
      // the per-doc audit frame behind x_decontaminate: (doc_id, number
      // of distinct contaminated 5-grams) — no silent drops, the operator
      // reports WHY each doc fell
      val d = t(s, dir, "documents")
      Dedup.contaminatedDocs(d.filter(col("doc_id") < 250),
          d.filter(col("doc_id") >= 250), n = 5)
    }, order = by("doc_id"),
      oracle = Some(benchGrams +
        """
          |SELECT cg.doc_id, count(*)::BIGINT AS n_contaminated_grams
          |FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id < 250) cg
          |JOIN bg USING (gram) GROUP BY cg.doc_id
          |ORDER BY doc_id""".stripMargin)),
    Query("x_substr_spans", (s, dir) =>
      // exact-substring dedup (Lee et al. 2021) span finder at match
      // length 10: maximal token runs whose every 10-gram occurs >= 2
      // times corpus-wide (within- OR cross-document). The oracle
      // recomputes the spans HASH-FREE in DuckDB — grouping on gram
      // strings, islands-and-gaps over duplicated window starts — which is
      // stronger than replaying the FNV fingerprints: a fingerprint
      // collision would surface as a mismatch instead of passing silently.
      SubstringDedup.duplicateSpans(t(s, dir, "documents"), n = 10)
        .select(col("doc_id"), col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"), col("n_windows")),
      order = by("doc_id", "start_tok"),
      // hash-free recompute: duplicated 10-gram STRINGS (count >= 2
      // corpus-wide, all occurrences), islands-and-gaps over window starts
      oracle = Some(dupWindows +
        """p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
          |fl AS (
          |  SELECT doc_id, pos,
          |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 10
          |         THEN 0 ELSE 1 END AS f
          |  FROM p),
          |isl AS (
          |  SELECT doc_id, pos,
          |    sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          |  FROM fl)
          |SELECT doc_id, min(pos)::BIGINT AS start_tok, (max(pos) + 10)::BIGINT AS end_tok,
          |  count(*)::BIGINT AS n_windows
          |FROM isl GROUP BY doc_id, grp
          |ORDER BY doc_id, start_tok""".stripMargin)),
    Query("x_substr_dedup", (s, dir) =>
      // the cut: EVERY occurrence of every duplicated span removed from
      // the token stream — no keeper copy, the paper's ExactSubstr
      // contract (a duplicated substring survives nowhere verbatim)
      SubstringDedup.dedup(t(s, dir, "documents"), n = 10)
        .select(col("doc_id"), col("text_dedup"),
          col("n_tok_before").cast("long").as("n_tok_before"),
          col("n_tok_after").cast("long").as("n_tok_after")),
      order = by("doc_id"),
      // covered token positions = union of [start, start+10) over every
      // duplicated window start; survivors rejoin in position order
      oracle = Some(dupWindows +
        """cov AS (
          |  SELECT DISTINCT g.doc_id, c.idx
          |  FROM g JOIN d USING (gram),
          |       unnest(generate_series(g.pos, g.pos + 9)) AS c(idx)),
          |tokpos AS (
          |  SELECT doc_id, t[i] AS tok, i - 1 AS idx
          |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
          |kept AS (
          |  SELECT tp.doc_id, tp.tok, tp.idx
          |  FROM tokpos tp ANTI JOIN cov c ON tp.doc_id = c.doc_id AND tp.idx = c.idx)
          |SELECT d0.doc_id,
          |  coalesce(k.text_dedup, '') AS text_dedup,
          |  coalesce(t0.n, 0)::BIGINT AS n_tok_before,
          |  coalesce(k.n_after, 0)::BIGINT AS n_tok_after
          |FROM documents d0
          |LEFT JOIN (SELECT doc_id, len(t) AS n FROM toks) t0 ON d0.doc_id = t0.doc_id
          |LEFT JOIN (
          |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text_dedup,
          |    count(*)::BIGINT AS n_after
          |  FROM kept GROUP BY doc_id) k ON d0.doc_id = k.doc_id
          |ORDER BY d0.doc_id""".stripMargin)),
    Query("x_line_dedup", (s, dir) => {
      // CCNet/RefinedWeb line-level boilerplate pass. The synthetic
      // documents are single-line, so the row builds multi-line PAGES
      // deterministically (10 docs joined by \n, doc_id order) and plants
      // duplicates — the x_neardup_recall planted-input technique — by
      // re-paging docs 0..24 under shifted page ids: their lines occur
      // twice corpus-wide and must vanish from BOTH copies (pages 0-1
      // fully cut, page 2 half cut, 3..49 untouched). text_clean is
      // folded to md5 so the checker's lexsort+hash stays scalar-cheap.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def pages(df: DataFrame, offset: Long) =
        df.groupBy((floor(col("doc_id") / 10) + offset).cast("long").as("page_id"))
          .agg(concat_ws("\n",
            transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
              x => x.getField("text"))).as("text"))
      val base = pages(d, 0L).unionByName(pages(d.filter(col("doc_id") < 25), 100000L))
      graft.ops.LineDedup.dedupLines(base, minCount = 2, idCol = "page_id")
        .select(col("page_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_lines_before"), col("n_lines_after"))
    }, order = by("page_id"),
      // pages rebuilt identically (string_agg ORDER BY doc_id == the
      // array_sort(collect_list(struct)) fold); line identity = trim of
      // space/tab/CR; a line in dup (count >= 2 corpus-wide) is dropped
      // everywhere, survivors string_agg back in position order
      oracle = Some(
        """WITH base AS (
          |  SELECT cast(floor(doc_id / 10) AS bigint) AS page_id,
          |         string_agg(text, chr(10) ORDER BY doc_id) AS text
          |  FROM documents GROUP BY 1
          |  UNION ALL
          |  SELECT cast(100000 + floor(doc_id / 10) AS bigint) AS page_id,
          |         string_agg(text, chr(10) ORDER BY doc_id)
          |  FROM documents WHERE doc_id < 25 GROUP BY 1
          |), ls AS (
          |  SELECT page_id,
          |         unnest(string_split(text, chr(10))) AS raw,
          |         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
          |  FROM base
          |), l AS (
          |  SELECT page_id, pos, trim(raw, ' ' || chr(9) || chr(13)) AS line
          |  FROM ls WHERE trim(raw, ' ' || chr(9) || chr(13)) <> ''
          |), dup AS (SELECT line FROM l GROUP BY line HAVING count(*) >= 2),
          |ag AS (
          |  SELECT l.page_id,
          |         count(*) AS n_lines_before,
          |         count(*) FILTER (WHERE d.line IS NULL) AS n_lines_after,
          |         coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
          |                    FILTER (WHERE d.line IS NULL), '') AS text_clean
          |  FROM l LEFT JOIN dup d USING (line) GROUP BY l.page_id)
          |SELECT b.page_id, md5(coalesce(a.text_clean, '')) AS clean_md5,
          |       coalesce(a.n_lines_before, 0)::BIGINT AS n_lines_before,
          |       coalesce(a.n_lines_after, 0)::BIGINT AS n_lines_after
          |FROM base b LEFT JOIN ag a USING (page_id)
          |ORDER BY page_id""".stripMargin)),
    Query("x_dedup_simhash", (s, dir) =>
      // production FNV-1a kernel, fully oracled (r6): the oracle recomputes
      // FNV-1a-64 per token in SQL (list_reduce fold over byte ordinals;
      // the 2^64 wrap via HUGEINT mod — the documents table is ASCII, so
      // ord == the UTF-8 byte), the 64 bit-votes, and brute-force all-pairs
      // Hamming. The hot-segment cap cannot bind here (max segment bucket
      // is 26 on the test data vs the 1000 cap); the capped path keeps
      // its own local tests.
      Dedup.simhashPairs(t(s, dir, "documents"), maxDist = 3),
      order = by("doc_a", "doc_b"),
      // full FNV-1a-64 recomputation per token, then the same bit-vote +
      // brute-force Hamming shape as the md5 twin (x_simhash_pairs)
      oracle = Some(simhashSql("",
        """fnv AS (
          |  SELECT doc_id, w,
          |""".stripMargin + fnv1a64 +
          """ AS h
            |  FROM cnt),
            |packed AS (
            |  SELECT doc_id, list(struct_pack(h := h, w := w)) AS hw FROM fnv GROUP BY doc_id)""".stripMargin))),
    Query("x_simhash_pairs", (s, dir) =>
      // oracle-verifiable simhash contract: the SAME pigeonhole blocking +
      // hamming pairing as x_dedup_simhash, with the token hash swapped to
      // md5-lower-64 — which DuckDB recomputes exactly (md5_number_lower) —
      // so the oracle brute-forces all-pairs hamming and verifies BOTH the
      // simhash bit-aggregation math AND the pigeonhole candidate
      // completeness. The production FNV kernel differs only in the token
      // hash (shared simhashWith kernel; pinned by the pigeonhole==brute-
      // force local test).
      Dedup.simhashPairs(t(s, dir, "documents").filter(col("doc_id") < 1000),
          maxDist = 3, hashFn = c => Dedup.simhashMd5Udf(c)),
      order = by("doc_a", "doc_b"),
      // full recomputation of the md5-token-hash simhash in SQL: per-doc
      // unigram counts -> signed bit votes over all 64 bits -> packed hash,
      // then brute-force all-pairs hamming via bit_count(xor()). The Spark
      // side must emit EXACTLY these pairs (pigeonhole completeness).
      oracle = Some(simhashSql(" WHERE doc_id < 1000",
        """packed AS (
          |  SELECT doc_id, list(struct_pack(h := md5_number_lower(tok), w := w)) AS hw
          |  FROM cnt GROUP BY doc_id)""".stripMargin))),
    Query("x_jaccard_pairs", (s, dir) => {
      // exact 3-gram Jaccard over consecutive doc pairs: linear-size,
      // DuckDB-oracled verification of the n-gram/Jaccard kernel that
      // minhashPairs uses to verify its candidates
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      val b = d.select((col("doc_id") - 1).as("doc_a"),
        col("doc_id").as("doc_b"), col("text").as("text_b"))
      a.join(b, Seq("doc_a"))
        .withColumn("js", Dedup.jaccardStatsUdf(col("text_a"), col("text_b")))
        .select(col("doc_a"), col("doc_b"),
          col("js._1").as("g_a"), col("js._2").as("g_b"),
          col("js._3").as("g_inter"), col("js._4").as("g_union"),
          col("js._5").as("jaccard"))
    }, order = by("doc_a"),
      oracle = Some("WITH " + lowerToks() + grams3("g", "toks") + "\n" +
        """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  cast(len(a.grams) as bigint) AS g_a,
          |  cast(len(b.grams) as bigint) AS g_b,
          |  cast(len(list_intersect(a.grams, b.grams)) as bigint) AS g_inter,
          |  cast(len(list_distinct(list_concat(a.grams, b.grams))) as bigint) AS g_union,
          |  cast(len(list_intersect(a.grams, b.grams)) as double)
          |    / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
          |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
          |ORDER BY doc_a""".stripMargin)),
    Query("x_neardup_recall", (s, dir) =>
      // end-to-end MinHash LSH recall oracle: over a contiguous id range
      // (kept small so DuckDB's O(n^2) exact ground truth stays cheap),
      // the banded-LSH + exact-verify pipeline must emit EXACTLY the pairs
      // with true 3-gram Jaccard >= 0.7. The planted near-dups in this
      // range sit at J >= 0.9, where the 16x4 band config misses with
      // p < 1e-7 per pair — and the data is deterministic, so local green
      // means oracle green. Verifies candidate generation, not just the
      // Jaccard kernel (which x_jaccard_pairs covers).
      Dedup.minhashPairs(t(s, dir, "documents").filter(col("doc_id") < 1000),
          threshold = 0.7)
        .select(col("doc_a"), col("doc_b"), col("jaccard")),
      order = by("doc_a", "doc_b"),
      oracle = Some(jaccardPairsSql(" WHERE doc_id < 1000"))))
}
