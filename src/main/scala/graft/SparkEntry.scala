package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.Synth
import graft.ops.{AnnIndex, Dedup, Multimodal, Similarity, SubstringDedup, TextAnalysis}
import graft.pipeline.Udfs

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Two query families:
  *  - `x_*`: the extraction engine + training-data ops (blockify / GRU
  *    extraction over the synthetic transcript table; MinHash/SimHash dedup,
  *    ANN, language-ID/quality over documents/embeddings). Not DuckDB-
  *    expressible → no oracle entry (driver records rows-only checks).
  *  - `q*`: relational queries with exact DuckDB oracles. Float nondeterminism
  *    is avoided by exact decimal sums cast back to double and by
  *    floor-to-bigint fixed-point sums.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Derived labeled corpus for the NB classifier rows (the synthetic
    * documents carry no organic labels): parity labels, class-marker
    * suffixes on the real word-soup texts. Mirrored verbatim in the
    * oracle SQL. */
  private def nbLabeled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, lit("good")).otherwise(lit("spam")).as("label"),
      when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" insight careful analysis")))
        .otherwise(concat(col("text"), lit(" buy click cheap now"))).as("text"))

  private def nbTrainSplit(docs: DataFrame): DataFrame =
    nbLabeled(docs).filter(col("doc_id") % 5 =!= 0)

  /** Planted URL corpus for the PSL / blocklist rows: 16 adversarial
    * suffix families keyed off doc_id — plain gTLD, ccTLD second-level,
    * the us k12 third-level, private-section hosts, wildcard rules
    * (*.bd, *.kawasaki.jp, *.compute.amazonaws.com), exception rules
    * (city.kawasaki.jp, www.ck with the www-strip quirk), an uppercase
    * host, userinfo/port/path decoration, and a rejected ftp scheme.
    * The registrable domain of every family is a closed-form string of
    * doc_id, so the DuckDB oracle recomputes it by construction while
    * the engine runs the real generic PSL matcher. */
  private def urlCorpus(docs: DataFrame): DataFrame = {
    val h = concat(lit("site"), col("doc_id"))
    val f = col("doc_id") % 16
    docs.select(col("doc_id"),
      when(f === 0, concat(lit("https://"), h, lit(".com/a")))
        .when(f === 1, concat(lit("http://www."), h, lit(".com/b?q=1")))
        .when(f === 2, concat(lit("https://"), h, lit(".co.uk:8443/p")))
        .when(f === 3, concat(lit("http://"), upper(h), lit(".COM.KZ/x")))
        .when(f === 4, concat(lit("https://"), h, lit(".k12.ca.us")))
        .when(f === 5, concat(lit("https://user@"), h, lit(".github.io/repo")))
        .when(f === 6, concat(lit("http://"), h, lit(".blogspot.com.br")))
        .when(f === 7, concat(lit("https://"), h, lit(".news.bd")))
        .when(f === 8, concat(lit("https://"), h, lit(".kawasaki.jp")))
        .when(f === 9, concat(lit("http://x."), h, lit(".kawasaki.jp")))
        .when(f === 10, lit("https://city.kawasaki.jp/ward"))
        .when(f === 11, lit("http://www.ck"))
        .when(f === 12, concat(lit("https://"), h, lit(".a.bg")))
        .when(f === 13, concat(lit("http://"), h, lit(".tokyo.jp")))
        .when(f === 14, concat(lit("https://a.b."), h, lit(".compute.amazonaws.com")))
        .otherwise(concat(lit("ftp://"), h, lit(".com"))).as("url"))
  }

  /** Shared token-occurrence frame for the sketch rows: (doc_id, term),
    * the family's lowercase \W+ tokenization. */
  private def docTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(expr("filter(split(lower(text), '\\\\W+'), x -> x != '')"))
        .as("term"))

  /** (key, doc_id) with key = term:doc_id — the distinct unit the HLL
    * rows count (≈20k distinct pairs: large enough for the raw-branch
    * estimator at p=12). */
  private def sketchKeys(docs: DataFrame): DataFrame =
    docTerms(docs).select(
      concat(col("term"), lit(":"), col("doc_id")).as("key"), col("doc_id"))

  /** Shared retrieval-eval fixture (x_retrieval_eval / _summary / _ndcg):
    * queries are the first 5 tokens of every doc_id % 50 == 7 document
    * (the x_bm25 technique); results are BM25 top-10 at k1=1.5 / b=0.75.
    * Returns (queries, results). */
  private def bm25EvalRun(s: SparkSession, dir: String):
      (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 50 === 7)
      .select(col("doc_id").as("query_id"),
        expr("array_join(slice(filter(split(lower(text), '\\\\W+'), " +
          "x -> x != ''), 1, 5), ' ')").as("query_text"))
    (queries, graft.ops.Bm25.topK(docs, queries, k = 10, k1 = 1.5, b = 0.75))
  }

  /** Planted qrels for the fixture: each query's own doc plus its +13
    * neighbor (disjoint by construction — 13 ≠ 0 mod 500). */
  private def bm25EvalQrels(queries: DataFrame): DataFrame =
    queries.select(col("query_id"), col("query_id").as("doc_id"))
      .unionByName(queries.select(col("query_id"),
        ((col("query_id") + 13) % 500).as("doc_id")))

  /** Contract gate for adaptive ANN probes whose candidate geometry is not
    * SQL-recomputable (k-means centroids over an xxhash64-ordered sample —
    * see x_ann_ivf): asserts the probe returned exactly k rows, in
    * non-increasing cosine order, with recall >= minRecall against the
    * exact top-k, then returns the brute top-k rank form for the DuckDB
    * hash compare. Both collects are k-bounded (never table-sized). */
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
      .orderedBy("rank")
  }

  /** Run independent Spark actions concurrently (guide §2.6: actions are
    * only sequential because driver code calls them sequentially — the
    * table rows' per-batch writes are independent jobs whose tails
    * back-fill each other's idle executors). Exceptions propagate. */
  private def inParallel(fs: (() => Unit)*): Unit = graft.util.Par.run(fs: _*)

  /** Total-order OUTPUT sort without `orderBy`'s range-partitioner pass
    * (guide §2.4 — r8): `orderBy` samples its child to pick range bounds,
    * which EXECUTES the query's whole uncached lineage a second time —
    * measured at ~2x on the heavy rows (x_bm25_topk 4.0 s -> 2.8 s,
    * x_embed_neardup_exhaustive 3.4 s -> 1.4 s, identical rows out). Every
    * declared query's final sort is presentation order over a bounded
    * result (the checker lexsorts anyway), so a single-partition
    * sortWithinPartitions gives the identical total order with one plain
    * exchange and no sampling. Only OUTPUT sorts use this; semantic sorts
    * (orderBy+limit top-k, window specs) keep their native forms. */
  private implicit class OrderedOutput(df: DataFrame) {
    def orderedBy(c: String, cs: String*): DataFrame =
      df.repartition(1).sortWithinPartitions(c, cs: _*)
    def orderedBy(c: org.apache.spark.sql.Column,
        cs: org.apache.spark.sql.Column*): DataFrame =
      df.repartition(1).sortWithinPartitions((c +: cs): _*)
  }

  /** sfDir like "/root/testdata/sf0.01" -> 0.01 (synth transcript scale).
    * A dir whose name carries no `sf<number>` is rejected: a silent default
    * would run the Synth-backed queries at the wrong scale. */
  def sfOf(dir: String): Double = {
    val m = java.util.regex.Pattern.compile("sf([0-9.]+)").matcher(dir)
    if (m.find()) m.group(1).toDouble
    else throw new IllegalArgumentException(s"no sf<number> scale in data dir name: $dir")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full fused extraction over the synthetic transcript table. */
  def entry(spark: SparkSession): DataFrame = {
    val turns = Synth.turns(spark, 0.001, 8)
    turns.withColumn("ex", Udfs.extractTurn(col("text")))
      .select(col("conv_id"), col("turn_idx"), col("ex.content"), col("ex.title"))
      .filter(col("content").isNotNull || col("title").isNotNull)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- extraction engine over the transcript table ----------
    "x_extract_turns" -> ((s, dir) => {
      // full driver SF (the former sf0.01 "Verify-speed cap" predated the
      // round-2..4 hot-path work; extraction now runs ~40k turns/s, so the
      // flagship row covers every synthesized turn at the driver's scale)
      val turns = Synth.turns(s, sfOf(dir), 16)
      turns.withColumn("ex", Udfs.extractTurn(col("text")))
        .select(col("conv_id"), col("turn_idx"), col("role"),
          col("ex.content").as("content"), col("ex.headline").as("headline"),
          col("ex.author").as("author"), col("ex.title").as("title"),
          col("ex.url").as("url"), col("ex.hostname").as("hostname"),
          col("ex.sitename").as("sitename"), col("ex.date").as("date"),
          col("ex.video").as("video"), col("ex.nBlocks").as("n_blocks"))
    }),
    "x_blockify" -> ((s, dir) => {
      // scalar columns only: the external checker lexsorts+hashes every
      // column, and an array<string> breaks pandas' sort. The block texts
      // are folded into a deterministic digest instead (the raw array form
      // is exercised by BlockifierSpec / the frozen per-turn digests).
      val turns = Synth.turns(s, sfOf(dir), 16)
      // single blockify pass: CollapseProject keeps the non-cheap UDF in
      // its own Project (3 references), so `bt` is evaluated once per row;
      // the \\u0001 joiner keeps block boundaries inside the digest
      turns.withColumn("bt", Udfs.blockTexts(col("text")))
        .select(col("conv_id"), col("turn_idx"),
          size(col("bt")).as("n_blocks"),
          xxhash64(concat_ws("\u0001", col("bt"))).as("blocks_digest"),
          length(concat_ws("\u0001", col("bt"))).cast("long").as("blocks_chars"))
    }),
    "x_turn_ordering" -> ((s, dir) => {
      // stable-ordering invariant: turn_idx dense 0..n-1 per conversation
      import org.apache.spark.sql.expressions.Window
      val turns = Synth.turns(s, sfOf(dir), 16)
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      turns.withColumn("rn", row_number().over(w) - 1)
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_turns"), max(col("turn_idx")).as("max_turn"),
          sum(when(col("rn") === col("turn_idx"), 0).otherwise(1)).as("order_violations"))
    }),
    "x_author_names" -> ((s, dir) => {
      val turns = Synth.turns(s, sfOf(dir), 16)
      turns.withColumn("ex", Udfs.extractTurn(col("text")))
        .select(col("conv_id"), col("turn_idx"),
          col("ex.rawAuthor").as("raw_author"), col("ex.author").as("author"))
        .filter(col("author").isNotNull)
    }),
    // ---------------- training-data ops (documents / embeddings) -----------
    "x_dedup_minhash" -> ((s, dir) =>
      // oracle-checkable form: (doc_a, doc_b, exact jaccard) — the
      // est_jaccard screening column is internal (signature-sampling noise
      // is engine-specific; the exact Jaccard is the contract). DuckDB
      // recomputes the all-pairs ground truth at the verify SF, so emitted
      // pairs must be EXACTLY those with true 3-gram Jaccard >= 0.7.
      Dedup.minhashPairs(t(s, dir, "documents"), threshold = 0.7)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderedBy("doc_a", "doc_b")),
    "x_dedup_clusters" -> ((s, dir) =>
      // pairs -> connected components (hash-min label propagation); keeper
      // per component = min doc_id. Oracled by a DuckDB recursive-CTE
      // transitive closure over the exact pair set.
      Dedup.duplicateClusters(t(s, dir, "documents"), threshold = 0.7)
        .orderedBy("doc_id")),
    "x_dedup_near" -> ((s, dir) =>
      // the end-user dedup: corpus minus non-keeper cluster members
      Dedup.nearDedup(t(s, dir, "documents"), threshold = 0.7)
        .select(col("doc_id"), col("lang"))
        .orderedBy("doc_id")),
    "x_dedup_incremental" -> ((s, dir) => {
      // incremental ingestion: docs >= 250 are "the new batch", docs < 250
      // the existing corpus; survivors = new docs with no corpus near-dup
      // at J >= 0.7. Oracle: DuckDB cross-checks every (new, corpus) pair.
      val d = t(s, dir, "documents")
      Dedup.nearDedupAgainst(d.filter(col("doc_id") >= 250),
          d.filter(col("doc_id") < 250), threshold = 0.7)
        .select(col("doc_id"), col("lang"))
        .orderedBy("doc_id")
    }),
    "x_bloom_dedup" -> ((s, dir) => {
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
      val bdir = s"${System.getProperty("java.io.tmpdir")}/graft_bloom_sf${sfOf(dir)}"
      graft.ops.BloomDedup.buildBloom(corpus, bdir, shards = 8)
      graft.ops.BloomDedup.dedupAgainst(batch, bdir)
        .select(col("doc_id"), col("lang"))
        .orderedBy("doc_id")
    }),
    "x_decontaminate" -> ((s, dir) => {
      // benchmark decontamination (r6): docs >= 250 play the eval set —
      // the same split as x_dedup_incremental, where cross-boundary
      // near-dups exist, so 5-grams genuinely collide — and docs < 250
      // the corpus; survivors share NO 5-gram with the benchmark.
      val d = t(s, dir, "documents")
      Dedup.decontaminate(d.filter(col("doc_id") < 250),
          d.filter(col("doc_id") >= 250), n = 5)
        .select(col("doc_id"), col("lang"))
        .orderedBy("doc_id")
    }),
    "x_contamination_audit" -> ((s, dir) => {
      // the per-doc audit frame behind x_decontaminate: (doc_id, number
      // of distinct contaminated 5-grams) — no silent drops, the operator
      // reports WHY each doc fell
      val d = t(s, dir, "documents")
      Dedup.contaminatedDocs(d.filter(col("doc_id") < 250),
          d.filter(col("doc_id") >= 250), n = 5)
        .orderedBy("doc_id")
    }),
    "x_repetition_stats" -> ((s, dir) =>
      // Gopher-family repetition/diversity numerators, integer-exact
      TextAnalysis.repetitionStats(t(s, dir, "documents")).orderedBy("doc_id")),
    "x_gopher_audit" -> ((s, dir) => {
      // Gopher quality rules (Rae et al. 2021): every rule's INTEGER
      // numerators + cross-multiplied verdicts — no floating point
      // anywhere, so the oracle is exact by construction. minWords=30
      // splits the driver docs (word counts 10..240) meaningfully.
      graft.ops.GopherFilters.audit(
          t(s, dir, "documents").select("doc_id", "text"), minWords = 30)
        .drop("text")
        .orderedBy("doc_id")
    }),
    "x_gopher_filter" -> ((s, dir) => {
      // minStops=1: the synthetic word-soup vocabulary carries at most
      // one of the paper's 8 stop words per doc (measured), so the
      // paper's >= 2 is vacuously empty here; 1 exercises a real split
      graft.ops.GopherFilters.filter(
          t(s, dir, "documents").select("doc_id", "lang", "text"),
          minWords = 30, minStops = 1)
        .select("doc_id", "lang")
        .orderedBy("doc_id")
    }),
    "x_url_domains" -> ((s, dir) => {
      // the real PSL matcher over 16 planted suffix families (wildcards,
      // exceptions, private section, www-strip, rejected scheme); the
      // oracle recomputes each family's registrable domain by construction
      graft.ops.UrlFilter.withDomain(urlCorpus(t(s, dir, "documents")))
        .select(col("doc_id"), col("url"),
          coalesce(col("domain"), lit("(none)")).as("domain"))
        .orderedBy("doc_id")
    }),
    "x_url_blocklist" -> ((s, dir) => {
      // UT1-style blocklist filtering: domains of doc_id % 7 == 0 docs
      // are blocked; broadcast LEFT ANTI on the resolved registrable
      // domain (null domains kept — a blocklist only speaks about
      // domains it names). Families with a FIXED domain (exception
      // rules) vanish entirely once any member is blocklisted.
      val corpus = urlCorpus(t(s, dir, "documents"))
      val blocked = graft.ops.UrlFilter
        .withDomain(corpus.filter(col("doc_id") % 7 === 0))
        .select(col("domain"))
      graft.ops.UrlFilter.filterBlocklist(corpus, blocked)
        .select(col("doc_id"),
          coalesce(col("domain"), lit("(none)")).as("domain"))
        .orderedBy("doc_id")
    }),
    "x_bucketed_join" -> ((s, dir) => {
      // Write-once / join-many bucketing: events and per-user totals land
      // as co-bucketed tables (8 buckets on user_id), then the big-big
      // join runs with ZERO exchanges — the in-query require pins the
      // 100 TB contract (sort-merge join, no shuffle on either side; the
      // one hash exchange happened at write time and is amortized over
      // every downstream join). The oracle replays the plain semantic
      // join on the raw events table: bucketing changes the plan, never
      // the rows.
      import graft.table.Bucketed
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bkt_sf${sfOf(dir)}"
      graft.util.Fs.rmrf(base)
      val ev = t(s, dir, "events").select("event_id", "user_id", "value")
      val totals = t(s, dir, "events").groupBy("user_id").agg(
        expr("cast(sum(cast(value as decimal(18,6))) as double)").as("user_total"),
        count(lit(1)).as("user_events"))
      inParallel(
        () => Bucketed.write(ev, "graft_bkt_events", s"$base/ev", Seq("user_id"), 8),
        () => Bucketed.write(totals, "graft_bkt_totals", s"$base/tot", Seq("user_id"), 8))
      val joined = Bucketed.cojoin(s, "graft_bkt_events", "graft_bkt_totals",
        Seq("user_id"))
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        "bucketed co-located join must sort-merge:\n" + plan.take(2000))
      require(!plan.contains("Exchange"),
        "bucketed co-located join must not shuffle:\n" + plan.take(2000))
      joined.select(col("event_id"), col("user_id"),
          col("user_total"), col("user_events"))
        .orderedBy("event_id")
    }),
    "x_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights (Xie et al. 2023): raw = docs < 400,
      // target = docs >= 400; hashed unigram+bigram models at B=4096,
      // add-1 smoothing. The oracle recomputes the ENTIRE path — md5
      // bucket hashing, both count tables, the smoothed log-ratio per
      // occurrence — at r6 rounding (ln() may differ by an ulp across
      // engines; the x_lm_score convention).
      val d = t(s, dir, "documents")
      val model = graft.ops.Dsir.fit(d.filter(col("doc_id") >= 400),
        d.filter(col("doc_id") < 400), nBuckets = 4096)
      graft.ops.Dsir.logWeights(d.filter(col("doc_id") < 400), model)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight_r6"))
        .orderedBy("doc_id")
    }),
    "x_dsir_sample" -> ((s, dir) => {
      // the composed selector: Gumbel top-100 resampling with seeded
      // noise (top 53 bits of a salted md5 — exactly representable in
      // both engines), ranked on the r6-rounded key with doc_id ties
      val d = t(s, dir, "documents")
      graft.ops.Dsir.select(d.filter(col("doc_id") >= 400),
          d.filter(col("doc_id") < 400), k = 100, nBuckets = 4096,
          salt = "dsir")
        .orderedBy(col("sample_key_r6").desc, col("doc_id"))
    }),
    "x_substr_spans" -> ((s, dir) =>
      // exact-substring dedup (Lee et al. 2021) span finder at match
      // length 10: maximal token runs whose every 10-gram occurs >= 2
      // times corpus-wide (within- OR cross-document). The oracle
      // recomputes the spans HASH-FREE in DuckDB — grouping on gram
      // strings, islands-and-gaps over duplicated window starts — which is
      // stronger than replaying the FNV fingerprints: a fingerprint
      // collision would surface as a mismatch instead of passing silently.
      SubstringDedup.duplicateSpans(t(s, dir, "documents"), n = 10)
        .select(col("doc_id"), col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"), col("n_windows"))
        .orderedBy("doc_id", "start_tok")),
    "x_substr_dedup" -> ((s, dir) =>
      // the cut: EVERY occurrence of every duplicated span removed from
      // the token stream — no keeper copy, the paper's ExactSubstr
      // contract (a duplicated substring survives nowhere verbatim)
      SubstringDedup.dedup(t(s, dir, "documents"), n = 10)
        .select(col("doc_id"), col("text_dedup"),
          col("n_tok_before").cast("long").as("n_tok_before"),
          col("n_tok_after").cast("long").as("n_tok_after"))
        .orderedBy("doc_id")),
    "x_table_prune" -> ((s, dir) => {
      // Iceberg-model data skipping driven end-to-end: events land in a
      // transcript table as 4 batches, each range-clustered on ts with
      // per-file bounds recorded in the manifest (FileStats); a time-range
      // query then runs through the manifest-pruned readRange path. The
      // in-query require pins that pruning ACTUALLY skipped files — the
      // layout makes half the month prunable per batch — while the oracle
      // replays the semantic query on the raw events table, proving the
      // pruned scan changes which files open, never what the query
      // returns. ts is emitted as epoch micros (engine-neutral hashing).
      import graft.table.TranscriptTable
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_prune_sf${sfOf(dir)}/t"
      graft.util.Fs.rmrf(tbl)
      val ev = t(s, dir, "events")
      inParallel((0 until 4).map(b => () =>
        TranscriptTable.writeBatch(
          ev.filter(pmod(col("event_id"), lit(4)) === b)
            .repartitionByRange(2, col("ts")).sortWithinPartitions("ts"),
          tbl, f"b$b%03d", statsCols = Seq("ts"))): _*)
      // LocalDateTime bounds: the parquet ts is TIMESTAMP_NTZ (naive
      // micros), so the literal must be NTZ too — an Instant/LTZ bound
      // would shift on non-UTC sessions and mismatch the column type
      val lo = java.time.LocalDateTime.parse("2024-01-10T00:00:00")
      val hi = java.time.LocalDateTime.parse("2024-01-13T00:00:00")
      val plan = TranscriptTable.planRange(tbl, "ts", lo, hi)
      require(plan.nFilesSkipped >= plan.nFilesTotal / 2,
        s"data skipping must prune the clustered layout: $plan")
      TranscriptTable.readRange(s, tbl, "ts", lo, hi)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("event_type"), col("value"))
        .orderedBy("event_id")
    }),
    "x_table_delete" -> ((s, dir) => {
      // Row-level DELETE under copy-on-write with manifest-bounds pruning:
      // events land as 4 TIME-SLICED batches (one week each, ts bounds
      // recorded), then a 3-day range purge runs through deleteRange. The
      // in-query require pins the 100 TB contract — only the ONE batch
      // whose bounds overlap the range rewrites; the other three are
      // never read — while the oracle replays the surviving-row semantics
      // on the raw events table, proving pruning decides IO, the exact
      // predicate decides rows.
      import graft.table.TranscriptTable
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_del_sf${sfOf(dir)}/t"
      graft.util.Fs.rmrf(tbl)
      val ev = t(s, dir, "events")
      inParallel((0 until 4).map(b => () => {
        val lo = java.time.LocalDateTime.parse(f"2024-01-${1 + 8 * b}%02dT00:00:00")
        val hi = java.time.LocalDateTime.parse(
          if (b == 3) "2024-02-01T00:00:00" else f"2024-01-${1 + 8 * (b + 1)}%02dT00:00:00")
        TranscriptTable.writeBatch(
          ev.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
            .repartitionByRange(2, col("ts")).sortWithinPartitions("ts"),
          tbl, f"b$b%03d", statsCols = Seq("ts"))
      }): _*)
      val lo = java.time.LocalDateTime.parse("2024-01-10T00:00:00")
      val hi = java.time.LocalDateTime.parse("2024-01-13T00:00:00")
      val st = TranscriptTable.deleteRange(s, tbl, "ts", lo, hi, "d004")
      require(st.nBatchesTotal == 4 && st.nBatchesRewritten == 1,
        s"delete must rewrite ONLY the week-2 batch: $st")
      TranscriptTable.read(s, tbl)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("event_type"), col("value"))
        .orderedBy("event_id")
    }),
    "x_table_merge" -> ((s, dir) => {
      // MERGE (keyed upsert) under copy-on-write: events land as 4
      // id-clustered batches; the merge batch re-values one id run (the
      // WHEN MATCHED half) AND inserts re-keyed copies far past the
      // table's max id (the CDC shape). The in-query require pins the
      // scale contract — the EXACT key-membership prune rewrites only
      // the one batch whose bounds hold the updated run; the outlier
      // inserts must not widen it — while the oracle rebuilds
      // survivors + updates + inserts from the raw table.
      import graft.table.TranscriptTable
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_merge_sf${sfOf(dir)}/t"
      graft.util.Fs.rmrf(tbl)
      val ev = t(s, dir, "events")
      val n = ev.count() // event_id is dense 0..n-1 in the driver tables
      val q = n / 4
      inParallel((0 until 4).map(b => () =>
        TranscriptTable.writeBatch(
          ev.filter(col("event_id") >= lit(b * q) &&
              col("event_id") < lit(if (b == 3) n else (b + 1) * q))
            .repartitionByRange(2, col("event_id"))
            .sortWithinPartitions("event_id"),
          tbl, f"b$b%03d", statsCols = Seq("event_id"))): _*)
      val upd = ev.filter(col("event_id") >= lit(n / 10) &&
          col("event_id") < lit(n / 10 + n / 50))
        .withColumn("event_type", lit("upd"))
        .withColumn("value", col("value") * 2)
      // insert offset DERIVED from the table's size (3n is always past the
      // max id), not a fixed constant that a larger SF's ids could collide
      // with — the oracle recomputes the same 3*count(*) offset
      val ins = ev.filter(col("event_id") < lit(n / 100))
        .withColumn("event_id", col("event_id") + lit(3 * n))
      val st = TranscriptTable.mergeKeys(
        s, tbl, "event_id", upd.unionByName(ins), "m004")
      require(st.nBatchesTotal == 4 && st.nBatchesRewritten == 1,
        s"merge must rewrite ONLY the batch holding the updated id run: $st")
      TranscriptTable.read(s, tbl)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("event_type"), col("value"))
        .orderedBy("event_id")
    }),
    "x_table_update" -> ((s, dir) => {
      // Row-level UPDATE under copy-on-write (the in-place redaction
      // path): the same 4 time-sliced batches as x_table_delete; a 3-day
      // updateRange re-types the window's events AND re-values them with
      // a SET that reads the event_type column it is simultaneously
      // replacing — pinning OLD-row SQL UPDATE semantics at the driver
      // gate, not just in sbt tests. The require pins the IO contract
      // (only the one bounds-overlapping batch rewrites); the oracle
      // replays the CASE-WHEN semantics on the raw events table.
      import graft.table.TranscriptTable
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_upd_sf${sfOf(dir)}/t"
      graft.util.Fs.rmrf(tbl)
      val ev = t(s, dir, "events")
      inParallel((0 until 4).map(b => () => {
        val lo = java.time.LocalDateTime.parse(f"2024-01-${1 + 8 * b}%02dT00:00:00")
        val hi = java.time.LocalDateTime.parse(
          if (b == 3) "2024-02-01T00:00:00" else f"2024-01-${1 + 8 * (b + 1)}%02dT00:00:00")
        TranscriptTable.writeBatch(
          ev.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
            .repartitionByRange(2, col("ts")).sortWithinPartitions("ts"),
          tbl, f"b$b%03d", statsCols = Seq("ts"))
      }): _*)
      val lo = java.time.LocalDateTime.parse("2024-01-10T00:00:00")
      val hi = java.time.LocalDateTime.parse("2024-01-13T00:00:00")
      val st = TranscriptTable.updateRange(s, tbl, "ts", lo, hi, "u004",
        set = Map(
          "event_type" -> lit("redacted"),
          // value*2 is fp-exact; + length(OLD event_type) is an exact
          // int-to-double add — and proves the condition/SET pair reads
          // the pre-update row (post-update it would always add 8)
          "value" -> (col("value") * 2 + length(col("event_type")))))
      require(st.nBatchesTotal == 4 && st.nBatchesRewritten == 1,
        s"update must rewrite ONLY the week-2 batch: $st")
      TranscriptTable.read(s, tbl)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("event_type"), col("value"))
        .orderedBy("event_id")
    }),
    "x_line_dedup" -> ((s, dir) => {
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
        .orderedBy("page_id")
    }),
    "x_nb_model" -> ((s, dir) =>
      // the fastText-style quality-classifier family, trainable half: a
      // multinomial NB model AS A DATAFRAME (one map-side-combined
      // groupBy). The synthetic docs carry no organic labels, so both
      // engines DERIVE the identical labeled corpus (the x_pii_redact
      // planted-input technique): parity labels + class-marker suffixes
      // appended to the real texts; the split is doc_id % 5.
      graft.ops.NbClassifier.train(nbTrainSplit(t(s, dir, "documents")))
        .orderedBy("label", "tok")),
    "x_nb_classify" -> ((s, dir) => {
      // held-out prediction: train on doc_id % 5 != 0, classify the rest.
      // Markers separate the classes, the 120-token word-soup body is
      // shared noise; the argmax is over the ROUNDED ll with label
      // tiebreak (cross-engine exact — see NbClassifier's contract).
      val labeled = nbLabeled(t(s, dir, "documents"))
      val test = labeled.filter(col("doc_id") % 5 === 0)
      graft.ops.NbClassifier.predict(labeled.filter(col("doc_id") % 5 =!= 0), test)
        .join(test.select(col("doc_id"), col("label").as("true_label")), Seq("doc_id"))
        .select(col("doc_id"), col("pred"), col("true_label"), col("ll_r6"))
        .orderedBy("doc_id")
    }),
    "x_lm_bigrams" -> ((s, dir) =>
      // the CCNet-family LM as a DataFrame: bigram counts with a <s>
      // start sentinel, one map-side-combined shuffle — integer-exact
      graft.ops.NgramLm.train(t(s, dir, "documents")).orderedBy("w1", "w2")),
    "x_lm_score" -> ((s, dir) =>
      // per-doc mean negative log-likelihood under the in-corpus add-one
      // bigram model. Probabilities are single int/int-derived divisions
      // (IEEE-exact), summed by a position-ordered left fold (the ordered
      // collect is bounded by the doc's own length), so the only
      // cross-engine slack is ln()'s last ulp — absorbed by round-6 like
      // every other double row.
      graft.ops.NgramLm.scoreInCorpus(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_nll"), 6).as("mean_nll_r6"))
        .orderedBy("doc_id")),
    "x_pii_redact" -> ((s, dir) => {
      // PII scrubbing (emails / IPv4 / phones -> typed placeholders) driven
      // over a deterministically DERIVED contact card: the driver tables
      // carry no organic PII, so both engines build the IDENTICAL text from
      // customer keys (the planted-input technique of the LSH recall rows)
      // and the oracle exercises the real detection + redaction kernels.
      // Every 5th customer gets a PII-free card — true negatives.
      val k = col("c_custkey")
      val txt = concat(
        lit("Customer "), col("c_name"), lit(" can be reached at "),
        when(k % 5 === 0, lit("no contact info"))
          .otherwise(concat(
            lit("customer"), k.cast("string"), lit("@example.com or "),
            format_string("%02d-%03d-%03d-%04d",
              k % 90 + 10, k * 3 % 900 + 100, k * 7 % 900 + 100, k * 11 % 9000 + 1000),
            lit(" from host "),
            (k % 224 + 16).cast("string"), lit("."), (k * 7 % 256).cast("string"),
            lit("."), (k * 13 % 256).cast("string"), lit("."), (k % 254 + 1).cast("string"))))
      graft.ops.Pii.redact(
          t(s, dir, "customer").select(k.as("doc_id"), txt.as("text")))
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          col("n_phones").cast("long").as("n_phones"), col("text"))
        .orderedBy("doc_id")
    }),
    "x_c4_filter" -> ((s, dir) => {
      // C4 line/document heuristics over documents re-chunked into
      // deterministic lines (8 tokens per line; a terminal period on 3 of
      // every 4 lines keyed by doc_id + line index; planted lorem-ipsum /
      // code-brace / enable-javascript lines on small residue classes).
      // The driver corpus has no organic multi-line text, so both engines
      // derive the identical input and the oracle replays the real rules:
      // per-reason drop counts, document flags, the cleaned text, and the
      // final keep decision.
      val lined = t(s, dir, "documents")
        .withColumn("toks", expr("filter(split(lower(text), '\\\\W+'), x -> x != '')"))
        .withColumn("text", concat(
          array_join(expr(
            // Spark's sequence(0, -1) DESCENDS (emits [0, -1]) — a
            // zero-token doc must yield an empty line list, as the
            // oracle's generate_series(0, -1) does (NgramLm.positions
            // guards the same pitfall)
            "transform(CASE WHEN size(toks) = 0 THEN array() " +
              "ELSE sequence(0, int(ceil(size(toks) / 8.0)) - 1) END, " +
              "i -> concat(array_join(slice(toks, i * 8 + 1, 8), ' '), " +
              "CASE WHEN (doc_id + i) % 4 != 0 THEN '.' ELSE '' END))"), "\n"),
          when(col("doc_id") % 97 === 0, lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
          when(col("doc_id") % 89 === 0, lit("\nvar config = { mode: 1 }.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nplease enable javascript to continue reading.")).otherwise(lit(""))))
        .select("doc_id", "text")
      graft.ops.C4Filters.lineAudit(lined)
        .withColumn("kept",
          (col("n_kept_lines") >= 3 && col("has_lorem") === 0 && col("has_brace") === 0)
            .cast("int"))
        .select("doc_id", "n_lines", "n_kept_lines", "n_dropped_no_punct",
          "n_dropped_short", "n_js_lines", "has_lorem", "has_brace", "kept", "text_clean")
        .orderedBy("doc_id")
    }),
    "x_dedup_simhash" -> ((s, dir) =>
      // production FNV-1a kernel, fully oracled (r6): the oracle recomputes
      // FNV-1a-64 per token in SQL (list_reduce fold over byte ordinals;
      // the 2^64 wrap via HUGEINT mod — the documents table is ASCII, so
      // ord == the UTF-8 byte), the 64 bit-votes, and brute-force all-pairs
      // Hamming. The hot-segment cap cannot bind here (max segment bucket
      // is 26 on the driver data vs the 1000 cap); the capped path keeps
      // its own local tests.
      Dedup.simhashPairs(t(s, dir, "documents"), maxDist = 3)
        .orderedBy("doc_a", "doc_b")),
    "x_simhash_pairs" -> ((s, dir) =>
      // driver-verifiable simhash contract: the SAME pigeonhole blocking +
      // hamming pairing as x_dedup_simhash, with the token hash swapped to
      // md5-lower-64 — which DuckDB recomputes exactly (md5_number_lower) —
      // so the oracle brute-forces all-pairs hamming and verifies BOTH the
      // simhash bit-aggregation math AND the pigeonhole candidate
      // completeness. The production FNV kernel differs only in the token
      // hash (shared simhashWith kernel; pinned by the pigeonhole==brute-
      // force local test).
      Dedup.simhashPairs(t(s, dir, "documents").filter(col("doc_id") < 1000),
          maxDist = 3, hashFn = c => Dedup.simhashMd5Udf(c))
        .orderedBy("doc_a", "doc_b")),
    "x_ann_brute" -> ((s, dir) => {
      // oracle-checkable form: integer rank + 6-decimal cosine (engines
      // differ by ~1 ulp in fp64 accumulation; rank gaps are >=8e-6 on this
      // data so both columns are stable across engines)
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val q = emb.orderBy("vec_id").select("embedding").head
        .getSeq[Float](0).toArray
      // constant-valued partition key keeps WindowExec from warning about a
      // global window — the input is the already-limited 50-row top-k, so a
      // single partition is the point, not a hazard. pmod(vec_id, 1) is 0
      // for every row but non-foldable, so the optimizer can't strip it the
      // way it strips a bare literal.
      val w = Window.partitionBy(pmod(col("vec_id"), lit(1)))
        .orderBy(col("cosine").desc, col("vec_id"))
      Similarity.bruteForceTopK(emb, q, 50)
        .withColumn("rank", row_number().over(w))
        .select(col("vec_id"), col("rank"), round(col("cosine"), 6).as("cosine_r6"))
        .orderedBy("rank")
    }),
    "x_ann_lsh" -> ((s, dir) => {
      // the ADAPTIVE probe, fully oracled (r6): the oracle recomputes the
      // entire probe semantics in SQL — splitmix64 hyperplanes (the same
      // 64-bit mix, via HUGEINT mod-2^64 arithmetic), SRP bucket signs,
      // adaptive nBits from the row count, the adaptive Hamming radius
      // (exact-integer form of the cumulative-binomial criterion: n*cumC
      // >= 6k*2^nb, equivalent to the double loop because every quantity
      // is fp-exact), candidate selection, and the top-k. Bucket signs
      // were verified to agree bit-for-bit across engines on the driver
      // data (sequential double accumulation vs DuckDB list_sum).
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val q = emb.orderBy("vec_id").select("embedding").head
        .getSeq[Float](0).toArray
      val w = Window.partitionBy(pmod(col("vec_id"), lit(1)))
        .orderBy(col("cosine").desc, col("vec_id"))
      Similarity.lshTopK(emb, q, 50)
        .withColumn("rank", row_number().over(w))
        .select(col("vec_id"), col("rank"), round(col("cosine"), 6).as("cosine_r6"))
        .orderedBy("rank")
    }),
    "x_ann_ivf" -> ((s, dir) => {
      // The adaptive IVF probe's id set depends on k-means centroids
      // trained over an xxhash64-ordered driver-side sample — not SQL-
      // recomputable (contrast x_ann_lsh, whose SRP geometry IS recomputed
      // in its oracle). The row is oracled by CONTRACT instead: the probe
      // must return exactly k rows in strictly descending-cosine order
      // with a recall floor against the exact top-k (floor pinned from
      // the deterministic driver data, with margin); any violation throws
      // and the driver row goes red. The EMITTED rows are the brute top-k
      // rank form, so rows+schema+hash stay DuckDB-verified.
      val emb = t(s, dir, "embeddings")
      val q = emb.orderBy("vec_id").select("embedding").head
        .getSeq[Float](0).toArray
      // floor 0.4: measured 0.60 (sf0.001) / 0.46 (sf0.01) for the fixed
      // nProbe=4-of-16 ad-hoc probe — deterministic data, margin under both
      gatedBruteForm(emb, q, k = 50, minRecall = 0.4, label = "x_ann_ivf",
        probe = Similarity.ivfTopK(emb, q, 50))
    }),
    "x_ann_lsh_exhaustive" -> ((s, dir) => {
      // partition-completeness invariant, DuckDB-oracled: probing EVERY
      // bucket (probeHamming = nBits) must reproduce the exact brute-force
      // top-k — i.e. SRP bucketing partitions the table with no vector
      // lost or duplicated. The adaptive-radius form keeps its recall-floor
      // spec; this row pins the bucketing algebra itself.
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val q = emb.orderBy("vec_id").select("embedding").head
        .getSeq[Float](0).toArray
      val w = Window.partitionBy(pmod(col("vec_id"), lit(1)))
        .orderBy(col("cosine").desc, col("vec_id"))
      Similarity.lshTopK(emb, q, 50, nBits = 4, probeHamming = 4)
        .withColumn("rank", row_number().over(w))
        .select(col("vec_id"), col("rank"), round(col("cosine"), 6).as("cosine_r6"))
        .orderedBy("rank")
    }),
    "x_ann_ivf_exhaustive" -> ((s, dir) => {
      // same invariant for IVF: probing all nCells cells == brute force
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val q = emb.orderBy("vec_id").select("embedding").head
        .getSeq[Float](0).toArray
      val w = Window.partitionBy(pmod(col("vec_id"), lit(1)))
        .orderBy(col("cosine").desc, col("vec_id"))
      Similarity.ivfTopK(emb, q, 50, nCells = 16, nProbe = 16)
        .withColumn("rank", row_number().over(w))
        .select(col("vec_id"), col("rank"), round(col("cosine"), 6).as("cosine_r6"))
        .orderedBy("rank")
    }),
    "x_ann_index_build" -> ((s, dir) => {
      // the explicit index-build job (one pass + partitioned write). Sorts
      // before x_ann_index_probe, so in the alphabetical bench/verify sweep
      // the probe measures PROBE cost, not an amortized build. A fresh
      // rebuild on an unchanged input is a zero-job no-op (metadata token).
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ann_lsh_sf${sfOf(dir)}"
      AnnIndex.buildLsh(emb, idx, nBits = 8)
      AnnIndex.describe(s, idx)
    }),
    "x_ann_index_probe" -> ((s, dir) => {
      // the persisted-index probe: trusts the committed meta, reads ONLY
      // the probed bucket partitions (adaptive Hamming radius from the
      // committed row count). buildLsh guards the cold path and no-ops
      // (zero Spark jobs) when the committed token matches. Oracled like
      // x_ann_lsh (full SQL recompute of SRP + adaptive radius), with
      // nBits pinned to the build's 8.
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val q = emb.orderBy("vec_id").select("embedding").head
        .getSeq[Float](0).toArray
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ann_lsh_sf${sfOf(dir)}"
      AnnIndex.buildLsh(emb, idx, nBits = 8)
      val w = Window.partitionBy(pmod(col("vec_id"), lit(1)))
        .orderBy(col("cosine").desc, col("vec_id"))
      AnnIndex.probeLsh(s, idx, q, 50)
        .withColumn("rank", row_number().over(w))
        .select(col("vec_id"), col("rank"), round(col("cosine"), 6).as("cosine_r6"))
        .orderedBy("rank")
    }),
    "x_ann_ivf_build" -> ((s, dir) => {
      // the persisted IVF twin of x_ann_index_build: k-means centroids +
      // cell-partitioned write, committed metadata (incl. the KB-sized
      // centroid table) in _graft_meta. Sorts before x_ann_ivf_probe in the
      // alphabetical sweep, so the probe row measures probe cost.
      val emb = t(s, dir, "embeddings")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ann_ivf_sf${sfOf(dir)}"
      AnnIndex.buildIvf(emb, idx, nCells = 16)
      AnnIndex.describe(s, idx)
    }),
    "x_ann_ivf_probe" -> ((s, dir) => {
      // probe trusts the committed meta: centroid ranking is driver-side
      // math over the committed centroids, the scan reads ONLY the probed
      // cell partitions (adaptive nProbe from the committed row count).
      // Contract-gated brute form — same rationale as x_ann_ivf.
      val emb = t(s, dir, "embeddings")
      val q = emb.orderBy("vec_id").select("embedding").head
        .getSeq[Float](0).toArray
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ann_ivf_sf${sfOf(dir)}"
      AnnIndex.buildIvf(emb, idx, nCells = 16)
      gatedBruteForm(emb, q, k = 50, minRecall = 0.7, label = "x_ann_ivf_probe",
        probe = AnnIndex.probeIvf(s, idx, q, 50))
    }),
    "x_ann_ivfpq_build" -> ((s, dir) => {
      // the composed IVF x PQ index build: coarse centroids + per-subspace
      // codebooks trained on the same deterministic sample, committed in
      // _graft_meta; cell-partitioned files carry (vec_id, pq_code,
      // embedding) so the probe's ADC scan reads bytes and its refine
      // reads floats from the SAME pruned partitions. Sorts before
      // x_ann_ivfpq_probe in the alphabetical sweep.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ann_ivfpq_sf${sfOf(dir)}"
      AnnIndex.buildIvfPq(emb, idx, nCells = 16, m = 16, kCodes = 64)
      AnnIndex.describe(s, idx)
    }),
    "x_ann_ivfpq_probe" -> ((s, dir) => {
      // the at-scale ANN read path (VERDICT r6 #1): cells pruned via the
      // committed centroids, ADC byte-code scan of ONLY the probed cells
      // (column pruning keeps the raw floats off it — pinned in
      // AnnIndexSpec), exact-cosine refine of the bounded shortlist.
      // Contract-gated like x_ann_ivf_probe: geometry is k-means over the
      // deterministic sample (not SQL-recomputable), so the gate enforces
      // k rows / descending order / recall floor, and the EMITTED rows are
      // the brute rank form DuckDB fully recomputes.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val q = emb.orderBy("vec_id").select("embedding").head
        .getSeq[Float](0).toArray
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ann_ivfpq_sf${sfOf(dir)}"
      AnnIndex.buildIvfPq(emb, idx, nCells = 16, m = 16, kCodes = 64)
      // floor 0.6: measured 0.86 (sf0.001) / 0.82 (sf0.01) for the
      // adaptive probe (10-of-16 cells) at m=16 k=64 refine=4 —
      // deterministic data, margin under both
      gatedBruteForm(emb, q, k = 50, minRecall = 0.6, label = "x_ann_ivfpq_probe",
        probe = AnnIndex.probeIvfPq(s, idx, q, 50))
    }),
    "x_embed_neardup" -> ((s, dir) => {
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
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
        .select("vec_id", "embedding")
      val planted = e.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Similarity.cosinePairs(e.unionByName(planted), threshold = 0.95, nBits = 8)
        .select(col("vec_a"), col("vec_b"),
          round(col("cosine"), 6).as("cosine_r6"))
        .orderedBy("vec_a", "vec_b")
    }),
    "x_embed_neardup_exhaustive" -> ((s, dir) => {
      // exhaustive (all-pairs) embedding near-dup at a threshold the
      // driver embeddings actually reach — engine-independent, so fully
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
        .orderedBy("vec_a", "vec_b")
    }),
    "x_semdedup" -> ((s, dir) => {
      // SemDeDup (cluster-then-compare semantic dedup) under the planted-
      // input contract of x_neardup_recall: a bounded embeddings slice
      // unioned with an id-shifted copy. Identical vectors share a k-means
      // cell DETERMINISTICALLY (assignment is a pure function of the
      // vector), and tau=0.95 sits far above the corpus's natural max
      // pairwise cosine (~0.51 both SFs), so the within-cell pair set
      // EQUALS the exhaustive >= 0.95 set — which DuckDB recomputes
      // without needing the (non-SQL-expressible) k-means geometry.
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
        .select("vec_id", "embedding")
      val planted = e.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      graft.ops.SemDedup.semDedupPairs(e.unionByName(planted), tau = 0.95, nCells = 8)
        .select(col("vec_a"), col("vec_b"),
          round(col("cosine"), 6).as("cosine_r6"))
        .orderedBy("vec_a", "vec_b")
    }),
    "x_semdedup_multiassign" -> ((s, dir) => {
      // the boundary-safe production form of x_semdedup: nAssign=2 joins
      // each vector into its TWO nearest cells (the fix that took 1M-
      // vector planted recall from 97.2% to 99.99% — BENCH.md round 6c).
      // The planted-union contract carries over unchanged: an identical
      // pair shares EVERY cell, multi-assignment only ADDS candidates the
      // tau filter then rejects, and the post-filter collapse dedups
      // multi-cell hits — so the pair set still equals DuckDB's
      // exhaustive >= 0.95 recompute.
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
        .select("vec_id", "embedding")
      val planted = e.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      graft.ops.SemDedup.semDedupPairs(e.unionByName(planted), tau = 0.95,
          nCells = 8, nAssign = 2)
        .select(col("vec_a"), col("vec_b"),
          round(col("cosine"), 6).as("cosine_r6"))
        .orderedBy("vec_a", "vec_b")
    }),
    "x_pq_topk" -> ((s, dir) => {
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
      val q = emb.orderBy("vec_id").select("embedding").head
        .getSeq[Float](0).toArray
      val model = graft.ops.Pq.train(emb, m = 16, k = 64)
      val codes = graft.ops.Pq.encode(emb, model)
      gatedBruteForm(emb, q, k = 50, minRecall = 0.8, label = "x_pq_topk",
        probe = graft.ops.Pq.adcTopKRefined(codes, emb, model, q, 50))
    }),
    "x_cosine_pairs" -> ((s, dir) => {
      // consecutive-pair cosine via NATIVE higher-order functions
      // (zip_with + aggregate — no UDF boundary), oracle-checked against
      // DuckDB's list_cosine_similarity at 6 decimals (same rounding
      // contract as x_ann_brute)
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      val b = e.select((col("vec_id") - 1).as("vec_a"),
        col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      a.join(b, Seq("vec_a"))
        .select(col("vec_a"), col("vec_b"),
          round(Similarity.cosineColumn(col("emb_a"), col("emb_b")), 6).as("cosine_r6"))
        .orderedBy("vec_a")
    }),
    "x_jaccard_pairs" -> ((s, dir) => {
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
        .orderedBy("doc_a")
    }),
    "x_neardup_recall" -> ((s, dir) => {
      // end-to-end MinHash LSH recall oracle: over a contiguous id range
      // (kept small so DuckDB's O(n^2) exact ground truth stays cheap),
      // the banded-LSH + exact-verify pipeline must emit EXACTLY the pairs
      // with true 3-gram Jaccard >= 0.7. The planted near-dups in this
      // range sit at J >= 0.9, where the 16x4 band config misses with
      // p < 1e-7 per pair — and the data is deterministic, so local green
      // means driver green. Verifies candidate generation, not just the
      // Jaccard kernel (which x_jaccard_pairs covers).
      val d = t(s, dir, "documents").filter(col("doc_id") < 1000)
      Dedup.minhashPairs(d, threshold = 0.7)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderedBy("doc_a", "doc_b")
    }),
    "x_quality_counts" -> ((s, dir) =>
      // integer-exact quality signals with a DuckDB oracle (the double
      // ratios live in x_text_analysis; ints hash identically)
      t(s, dir, "documents")
        .withColumn("qc", TextAnalysis.qualityCountsUdf(col("text")))
        .select(col("doc_id"),
          col("qc._1").as("n_tokens"), col("qc._2").as("n_stopwords"),
          col("qc._3").as("n_punct"), col("qc._4").as("n_digit"),
          col("qc._5").as("n_upper"))
        .orderedBy("doc_id")),
    "x_text_analysis" -> ((s, dir) =>
      TextAnalysis.analyze(t(s, dir, "documents"))),
    "x_pr_curve" -> ((s, dir) => {
      // classifier calibration: precision/recall/F1 sweep of "stopword
      // ratio predicts English" over 128 exact-binary bins. The oracle
      // replays the x_quality_counts counters, the binning, the top-down
      // cumulative counts, and every guarded ratio.
      val scored = t(s, dir, "documents")
        .withColumn("qc", TextAnalysis.qualityCountsUdf(col("text")))
        .filter(col("qc._1") > 0)
        .select((col("qc._2").cast("double") / col("qc._1")).as("score"),
          (col("lang") === "en").cast("long").as("y"))
      graft.ops.ThresholdSweep.prCurve(scored, "score", "y").orderedBy("bin")
    }),
    "x_roc_auc" -> ((s, dir) => {
      // the one-number summary of the same sweep: ROC-AUC by trapezoid in
      // fixed fold order, recomputed end-to-end in DuckDB (binning,
      // cumulative counts, the (0,0)-seeded struct fold)
      val scored = t(s, dir, "documents")
        .withColumn("qc", TextAnalysis.qualityCountsUdf(col("text")))
        .filter(col("qc._1") > 0)
        .select((col("qc._2").cast("double") / col("qc._1")).as("score"),
          (col("lang") === "en").cast("long").as("y"))
      graft.ops.ThresholdSweep.rocAuc(scored, "score", "y")
    }),
    "x_fingerprint" -> ((s, dir) =>
      // the native Fingerprint64 codegen expression under a full DuckDB
      // recomputation (r6): per-token FNV-1a, then the order-sensitive
      // polynomial fold — all in mod-2^64 SQL arithmetic. Hex-string form
      // because a >= 2^63 unsigned value has no common numeric type
      // across the two engines (Spark long is signed, DuckDB UBIGINT
      // cannot cast down); Java's %x prints the two's-complement bits
      // unsigned, which is exactly the UBIGINT hex.
      t(s, dir, "documents")
        .select(col("doc_id"),
          format_string("%016x",
            graft.ops.HashExprs.fingerprint64(col("text"))).as("fp_hex"))
        .orderedBy("doc_id")),
    "x_text_stats" -> ((s, dir) =>
      // the oracled projection of x_text_analysis: every double is the
      // SAME IEEE expression tree in both engines (int/int divisions,
      // left-assoc adds — the x_curate score technique), rounded to 6
      // decimals on both sides like x_cosine_pairs. bpe_tokens_est and
      // fingerprint stay rows-only (RE2 has no lookahead; FNV rolling
      // hash is not SQL-expressible).
      TextAnalysis.analyze(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
          round(col("mean_word_len"), 6).as("mean_word_len_r6"),
          round(col("stopword_ratio"), 6).as("stopword_ratio_r6"),
          round(col("punct_ratio"), 6).as("punct_ratio_r6"),
          round(col("digit_ratio"), 6).as("digit_ratio_r6"),
          round(col("upper_ratio"), 6).as("upper_ratio_r6"),
          round(col("quality_score"), 6).as("quality_score_r6"),
          col("ws_tokens"))
        .orderedBy("doc_id")),
    "x_langid_pred" -> ((s, dir) =>
      // per-doc language-ID prediction with a DuckDB oracle replicating the
      // heuristic's Latin path exactly (stopword-hit argmax with the
      // en,fr,de,es first-max tie order); the CJK/Cyrillic script paths are
      // covered by PropertySpec — this table is Latin-script text
      t(s, dir, "documents")
        .withColumn("lang_pred", TextAnalysis.langIdUdf(col("text")))
        .select(col("doc_id"), col("lang_pred"))
        .orderedBy("doc_id")),
    "x_langid_eval" -> ((s, dir) => {
      // predicted-vs-labeled language confusion (labels in this harness
      // table are synthetic; the query shape is the real evaluation op)
      val d = t(s, dir, "documents")
      d.withColumn("lang_pred", TextAnalysis.langIdUdf(col("text")))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderedBy("lang", "lang_pred")
    }),
    "x_media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.synthMedia(s, 2000))),
    "x_bpe_tokens" -> ((s, dir) => {
      // REAL trained byte-level BPE (not the pre-tokenizer estimate):
      // distributed word-frequency pass, deterministic driver-side merge
      // loop, then a map-only count. Not SQL-expressible -> rows-only.
      // The tokenizer is a BUILD ARTIFACT: trainCached persists the model
      // keyed by the input's metadata freshness token (AnnIndex scheme), so
      // repeat invocations load it instead of re-running the word-frequency
      // shuffle — at scale a tokenizer retrain per query is a full corpus
      // pass the pipeline never intended.
      val docs = t(s, dir, "documents")
      val modelPath =
        s"${System.getProperty("java.io.tmpdir")}/graft_bpe_sf${sfOf(dir)}.model"
      val model = graft.ops.Bpe.trainCached(docs, modelPath, nMerges = 256)
      graft.ops.Bpe.tokenCounts(docs, model).orderedBy("doc_id")
    }),
    "x_curate" -> ((s, dir) => {
      // END-TO-END curation oracle: the flagship training-data workflow
      // (lang filter -> quality floor -> benchmark decontamination ->
      // exact dedup -> near-dup keepers -> token accounting) verified as
      // ONE composed DuckDB query, not just its parts. Emits integer-
      // exact/string columns only; the quality floor is a same-IEEE-
      // expression comparison in both engines. The benchmark is the
      // x_decontaminate split (docs >= 250 play the eval set, 5-grams so
      // cross-boundary collisions genuinely exist in the word-soup texts);
      // eval docs that survive the filters drop on their own grams, which
      // the oracle replicates.
      val d = t(s, dir, "documents")
      val (curated, _) = graft.jobs.CurateJob.curate(d,
        keepLangs = Set("en"), minQuality = 0.3, nearThreshold = 0.8,
        benchmark = Some(d.filter(col("doc_id") >= 250)), decontamN = 5)
      curated.select(col("doc_id"), col("lang_pred"), col("ws_tokens"))
        .orderedBy("doc_id")
    }),
    "x_curate_incremental" -> ((s, dir) => {
      // the ONGOING-pipeline flagship: the batch (doc_id >= 250) runs the
      // full curation pipeline, then cross-corpus exact + near dedup
      // against the raw corpus (< 250) — one composed DuckDB oracle
      // verifies the whole per-batch operator end-to-end (the x_curate
      // and x_dedup_incremental oracles fused)
      val d = t(s, dir, "documents")
      val (survivors, _) = graft.jobs.CurateJob.curateIncremental(
        d.filter(col("doc_id") >= 250), d.filter(col("doc_id") < 250),
        keepLangs = Set("en"), minQuality = 0.3, nearThreshold = 0.8)
      survivors.select(col("doc_id"), col("lang_pred"), col("ws_tokens"))
        .orderedBy("doc_id")
    }),
    "x_split_assign" -> ((s, dir) =>
      // reproducible train/val/test split by salted md5 hash bucket —
      // engine-independent BY CONSTRUCTION, so the oracle verifies exact
      // membership (DuckDB recomputes every bucket), not just the rates
      graft.ops.Sampling.assignSplits(t(s, dir, "documents"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "graft")
        .select(col("doc_id"), col("split"))
        .orderedBy("doc_id")),
    "x_json_props" -> ((s, dir) => {
      // semi-structured extraction: the events.props JSON column parsed
      // with a TYPED schema (from_json — codegen'd, no UDF), the
      // extracted value filtered and aggregated relationally. The oracle
      // replays the same path extraction with DuckDB's json functions.
      val k = from_json(col("props"), org.apache.spark.sql.types.StructType(
          Seq(org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))))
        .getField("k")
      t(s, dir, "events")
        .select(col("event_id"), k.as("k"))
        .filter(col("k") % 10 < 5)
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("sum_k"))
        .orderedBy("k_mod")
    }),
    "x_split_leakfree" -> ((s, dir) =>
      // leakage-free splits: the split hash runs on the near-dup
      // component REPRESENTATIVE (min doc_id; singletons = self), so a
      // near-dup family can never straddle train/eval. Oracle: the
      // recursive-CTE closure (the x_dedup_clusters ground truth) feeds
      // the same md5-bucket CASE keyed on the representative.
      graft.ops.Sampling.assignSplitsLeakFree(t(s, dir, "documents"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "graft",
          threshold = 0.7)
        .select(col("doc_id"), col("rep_id"), col("split"))
        .orderedBy("doc_id")),
    "x_bm25_postings" -> ((s, dir) =>
      // the inverted-index build: postings (term, doc_id, tf, dl) over a
      // doc_id-bounded sub-corpus — integer-exact, fully recomputed in
      // DuckDB from the same \W+ tokenization
      graft.ops.Bm25.index(
          t(s, dir, "documents").filter(col("doc_id") < 50))
        .orderedBy("term", "doc_id")),
    "x_bm25_topk" -> ((s, dir) => {
      // BM25 top-10 retrieval (k1=1.5, b=0.75 — exact-binary literals so
      // constant folding is engine-neutral): queries are the first 5
      // tokens of every doc_id % 50 == 7 document (planted-input
      // technique), scored against the full corpus. The oracle recomputes
      // the ENTIRE pipeline — tokenization, postings, df, the Lucene idf,
      // the length-normalized tf, the term-ordered left-fold sum — and
      // ranks on the round-6 score with doc_id ties (engine-stable).
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 50 === 7)
        .select(col("doc_id").as("query_id"),
          expr("array_join(slice(filter(split(lower(text), '\\\\W+'), " +
            "x -> x != ''), 1, 5), ' ')").as("query_text"))
      graft.ops.Bm25.topK(docs, queries, k = 10, k1 = 1.5, b = 0.75)
        .orderedBy("query_id", "rank")
    }),
    "x_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: BM25 top-10 (sparse) + exact dense top-10,
      // fused by reciprocal rank (k0=60). documents and embeddings share
      // the same id space by construction, so doc_id % 50 == 7 yields
      // queries with BOTH a text (first 5 tokens — the x_bm25 technique)
      // and a query vector. The oracle recomputes both arms AND the
      // fusion: per-arm round-6 rankings, the coalesce-summed 1/(60+r)
      // terms in the same operand order, the final round-6 ranking.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val queries = docs.filter(col("doc_id") % 50 === 7)
        .select(col("doc_id").as("query_id"),
          expr("array_join(slice(filter(split(lower(text), '\\\\W+'), " +
            "x -> x != ''), 1, 5), ' ')").as("query_text"))
        .join(emb.select(col("vec_id").as("query_id"),
          col("embedding").as("qv")), "query_id")
      graft.ops.HybridRetrieval.topK(docs, emb, queries,
          k = 10, depth = 10, k1 = 1.5, b = 0.75)
        .orderedBy("query_id", "rank")
    }),
    "x_retrieval_eval" -> ((s, dir) => {
      // the eval leg of the retrieval loop: recall@10 + reciprocal rank
      // of the BM25 run against planted qrels (each query's own doc and
      // its +13 neighbor). The oracle replays the whole chain — the
      // x_bm25_topk retrieval AND the per-query metrics.
      val (queries, results) = bm25EvalRun(s, dir)
      graft.ops.RetrievalEval.perQuery(results, bm25EvalQrels(queries),
        k = 10).orderedBy("query_id")
    }),
    "x_retrieval_summary" -> ((s, dir) => {
      // the one-row MRR / mean-recall report — per-query rows folded in
      // query_id order, replayed via list_reduce in DuckDB
      val (queries, results) = bm25EvalRun(s, dir)
      graft.ops.RetrievalEval.summary(results, bm25EvalQrels(queries),
        k = 10)
    }),
    "x_retrieval_ndcg" -> ((s, dir) => {
      // graded relevance: nDCG@10 of the BM25 run with grade 2 for the
      // query's own doc and grade 1 for its +13 neighbor; both the dcg
      // and ideal-dcg folds (fixed rank / ideal-position order) replayed
      // in DuckDB
      val (queries, results) = bm25EvalRun(s, dir)
      val qrels = bm25EvalQrels(queries).withColumn("grade",
        when(col("doc_id") === col("query_id"), lit(2.0)).otherwise(lit(1.0)))
      graft.ops.RetrievalEval.perQueryNdcg(results, qrels, k = 10)
        .orderedBy("query_id")
    }),
    "x_bitext_margin" -> ((s, dir) => {
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
        .orderedBy("src_id")
    }),
    "x_chunk_windows" -> ((s, dir) =>
      // RAG-style token chunking (size 40, overlap 10, right-aligned last
      // window): every placement — chunk count, starts, lengths, and the
      // rejoined chunk text — recomputed in DuckDB with the same integer
      // arithmetic and list slicing
      graft.ops.Chunking.chunk(t(s, dir, "documents"), size = 40, overlap = 10)
        .orderedBy("doc_id", "chunk_id")),
    "x_hll_registers" -> ((s, dir) => {
      // HyperLogLog registers for the distinct (term, doc) keys, computed
      // as the MERGE of two batch sketches (doc_id halves). The oracle
      // computes the single global sketch directly, so the register-exact
      // equality pins merge-correctness cross-engine.
      val keys = sketchKeys(t(s, dir, "documents"))
      graft.ops.Sketches.hllMerge(Seq(
        graft.ops.Sketches.hllSketch(keys.filter(col("doc_id") < 250), "key"),
        graft.ops.Sketches.hllSketch(keys.filter(col("doc_id") >= 250), "key")))
        .orderedBy("reg")
    }),
    "x_hll_estimate" -> ((s, dir) => {
      // the estimator over the merged sketch, next to the exact distinct
      // count. The harmonic sum is a register-ordered left fold of exact
      // binary powers (engine-deterministic); the 5% contract gate runs
      // in-query.
      val keys = sketchKeys(t(s, dir, "documents"))
      val merged = graft.ops.Sketches.hllMerge(Seq(
        graft.ops.Sketches.hllSketch(keys.filter(col("doc_id") < 250), "key"),
        graft.ops.Sketches.hllSketch(keys.filter(col("doc_id") >= 250), "key")))
      val out = graft.ops.Sketches.hllEstimate(merged)
        .crossJoin(keys.agg(countDistinct(col("key")).as("exact_n")))
        .select(col("n_regs"), col("zeros"),
          round(col("estimate"), 6).as("estimate_r6"), col("exact_n"))
        .localCheckpoint()
      val r = out.head()
      require(math.abs(r.getDouble(2) / r.getLong(3) - 1.0) < 0.05,
        s"x_hll_estimate: ${r.getDouble(2)} vs exact ${r.getLong(3)}")
      out
    }),
    "x_cms_counters" -> ((s, dir) => {
      // Count-Min counters over token occurrences, again the merge of two
      // batch sketches vs the oracle's direct global sketch —
      // integer-exact.
      val occ = docTerms(t(s, dir, "documents"))
      graft.ops.Sketches.cmsMerge(Seq(
        graft.ops.Sketches.cmsSketch(occ.filter(col("doc_id") < 250), "term"),
        graft.ops.Sketches.cmsSketch(occ.filter(col("doc_id") >= 250), "term")))
        .select(col("row").as("r"), col("col").as("c"), col("cnt"))
        .orderedBy("r", "c")
    }),
    "x_cms_heavy" -> ((s, dir) => {
      // point estimates for every distinct term vs the true counts; the
      // classic one-sided CMS guarantee (never underestimate) is asserted
      // in-query, and DuckDB replays the min-over-rows probe exactly.
      val occ = docTerms(t(s, dir, "documents"))
      val sketch = graft.ops.Sketches.cmsMerge(Seq(
        graft.ops.Sketches.cmsSketch(occ.filter(col("doc_id") < 250), "term"),
        graft.ops.Sketches.cmsSketch(occ.filter(col("doc_id") >= 250), "term")))
      val truth = occ.groupBy("term").agg(count(lit(1)).as("true_cnt"))
      val out = graft.ops.Sketches.cmsEstimate(sketch, truth.select("term"), "term")
        .join(truth, col("key") === col("term"))
        .select(col("key"), col("estimate"), col("true_cnt"))
        .orderedBy("key")
        .localCheckpoint()
      require(out.filter(col("estimate") < col("true_cnt")).isEmpty,
        "x_cms_heavy: CMS underestimated a key")
      out
    }),
    "x_hll_overlap" -> ((s, dir) => {
      // sketch-based corpus overlap between two OVERLAPPING slices
      // (doc_id < 300 vs >= 200 — docs 200..299 shared): |A|, |B|, the
      // merged-union estimate, inclusion-exclusion intersection, Jaccard.
      // The oracle replays all three estimator chains and the exact
      // flag-based counts; the 0.05-absolute Jaccard gate runs in-query.
      val keys = sketchKeys(t(s, dir, "documents")).localCheckpoint()
      val sa = graft.ops.Sketches.hllSketch(
        keys.filter(col("doc_id") < 300).select("key"), "key")
      val sb = graft.ops.Sketches.hllSketch(
        keys.filter(col("doc_id") >= 200).select("key"), "key")
      val flags = keys
        .select(col("key"), (col("doc_id") < 300).as("ina"),
          (col("doc_id") >= 200).as("inb"))
        .groupBy("key").agg(max("ina").as("ina"), max("inb").as("inb"))
        .filter(col("ina") || col("inb"))
      val exact = flags.agg(count(lit(1)).as("exact_union"),
        sum(when(col("ina") && col("inb"), 1L).otherwise(0L))
          .as("exact_inter"))
      val out = graft.ops.Sketches.hllJaccard(sa, sb)
        .crossJoin(exact).localCheckpoint()
      val r = out.head()
      require(math.abs(r.getDouble(4) -
          r.getLong(6).toDouble / r.getLong(5)) <= 0.05,
        s"x_hll_overlap: jaccard ${r.getDouble(4)} vs exact " +
          s"${r.getLong(6).toDouble / r.getLong(5)}")
      out
    }),
    "x_dd_sketch" -> ((s, dir) => {
      // log-linear quantile sketch (DDSketch/HDR-histogram family), the
      // third leg of the mergeable trio: value = token count − 50, the
      // planted shift that exercises all three stores (negative mirror,
      // zero bucket, positive octaves). Engine emits the MERGE of two
      // batch sketches; DuckDB computes the global sketch directly —
      // octave from bit length, linear sub-bucket, monotone encoding,
      // all exact integer arithmetic (never a float log).
      val docs = t(s, dir, "documents")
      val v = docs.select(col("doc_id"),
        (size(expr("filter(split(lower(text), '\\\\W+'), x -> x != '')"))
          .cast("long") - 50).as("v"))
      graft.ops.Sketches.ddMerge(Seq(
        graft.ops.Sketches.ddSketch(v.filter(col("doc_id") < 250), "v"),
        graft.ops.Sketches.ddSketch(v.filter(col("doc_id") >= 250), "v")))
        .orderedBy("bkt")
    }),
    "x_dd_quantiles" -> ((s, dir) => {
      // quantile extraction replayed end-to-end in DuckDB: cumulative
      // counts in encoded-bucket order, nearest-rank selection, exact-
      // binary bucket midpoints. The in-query require pins the sketch
      // guarantee itself — the TRUE rank-r value falls in the chosen
      // bucket (exact integer membership via ddBucketOf, which implies
      // the 1/(2s) relative-error bound).
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val v = docs.select(
        (size(expr("filter(split(lower(text), '\\\\W+'), x -> x != '')"))
          .cast("long") - 50).as("v"))
      val sketch = graft.ops.Sketches.ddSketch(v, "v")
      val out = graft.ops.Sketches.ddQuantiles(sketch,
        Seq(0.01, 0.25, 0.5, 0.75, 0.99)).orderedBy("q").localCheckpoint()
      val w = Window.partitionBy(pmod(col("v"), lit(1))).orderBy("v")
      val ranked = v.withColumn("r", row_number().over(w).cast("long"))
      val gate = graft.ops.Sketches.ddBucketOf(
        ranked.join(out.select(col("rank"), col("bkt").as("bkt_sk")),
          col("r") === col("rank")), "v")
      require(gate.filter(col("bkt") =!= col("bkt_sk")).isEmpty,
        "x_dd_quantiles: a true rank value fell outside its sketch bucket")
      out
    }),
    "x_dd_drift" -> ((s, dir) => {
      // distribution-shift monitoring: quartile deltas of the (shifted)
      // token count between the two doc_id halves, each side its own
      // sketch — the whole two-chain join replayed in DuckDB
      val docs = t(s, dir, "documents")
      val v = docs.select(col("doc_id"),
        (size(expr("filter(split(lower(text), '\\\\W+'), x -> x != '')"))
          .cast("long") - 50).as("v"))
      val sa = graft.ops.Sketches.ddSketch(v.filter(col("doc_id") < 250), "v")
      val sb = graft.ops.Sketches.ddSketch(v.filter(col("doc_id") >= 250), "v")
      graft.ops.Sketches.ddDrift(sa, sb, Seq(0.25, 0.5, 0.75)).orderedBy("q")
    }),
    "x_dd_by_source" -> ((s, dir) => {
      // per-source length quantiles (median + p90 of the token count) from
      // per-key sketches — the mixing/packing planner's view. The sketch
      // frame is O(#sources × buckets), the cumulative window partitions
      // by source over that bounded frame, and DuckDB replays the whole
      // per-key chain.
      val docs = t(s, dir, "documents")
      val v = docs.select(col("source"),
        size(expr("filter(split(lower(text), '\\\\W+'), x -> x != '')"))
          .cast("long").as("dl"))
      val sk = graft.ops.Sketches.ddSketchByKey(v, Seq("source"), "dl")
      graft.ops.Sketches.ddQuantilesByKey(sk, Seq("source"), Seq(0.5, 0.9))
        .orderedBy("source", "q")
    }),
    "x_token_budget" -> ((s, dir) =>
      // pretraining-mix selection: per-language token budgets filled by a
      // deterministic hash-ordered prefix; DuckDB recomputes the exact
      // membership (same md5 buckets, same running-sum window)
      graft.ops.Sampling.tokenBudgetSample(
          t(s, dir, "documents").withColumn("ws_tokens",
            graft.ops.WsTokenCount.ws_token_count(col("text"))),
          budgets = Map("en" -> 30000L, "fr" -> 8000L, "de" -> 8000L,
            "es" -> 8000L),
          salt = "mix")
        .select(col("doc_id"), col("lang"), col("ws_tokens"))
        .orderedBy("doc_id")),
    "x_token_budget_bucketed" -> ((s, dir) =>
      // the skew-proof two-pass form a 100 TB run uses (per-(stratum,
      // hash-range) windows + tiny carry-in offsets — no giant stratum
      // serializes into one window task). Contract-identical to
      // tokenBudgetSample, so the SAME DuckDB membership oracle applies.
      graft.ops.Sampling.tokenBudgetSampleBucketed(
          t(s, dir, "documents").withColumn("ws_tokens",
            graft.ops.WsTokenCount.ws_token_count(col("text"))),
          budgets = Map("en" -> 30000L, "fr" -> 8000L, "de" -> 8000L,
            "es" -> 8000L),
          salt = "mix")
        .select(col("doc_id"), col("lang"), col("ws_tokens"))
        .orderedBy("doc_id")),
    "x_temperature_mix" -> ((s, dir) => {
      // temperature-weighted domain mixing (the size^alpha pretraining
      // recipe): budgets derived from stratum counts with integer-exact
      // arithmetic (isqrt weights at alpha=0.5), selection = deterministic
      // hash-ordered prefix. DuckDB recomputes the WHOLE thing — counts,
      // weights, budget division, membership — not just the rate.
      val docs = t(s, dir, "documents")
      val budgets = graft.ops.Sampling.temperatureBudgets(
        docs, totalBudget = 300L, alpha = 0.5, stratumCol = "lang")
      val budgetExpr = budgets.foldLeft(lit(null).cast("long")) {
        case (acc, (k, v)) => when(col("lang") === k, lit(v)).otherwise(acc)
      }
      graft.ops.Sampling.temperatureMix(docs, totalBudget = 300L,
          alpha = 0.5, salt = "mixt", precomputed = budgets)
        .select(col("doc_id"), col("lang"))
        .withColumn("budget", budgetExpr)
        .orderedBy("doc_id")
    }),
    "x_seq_pack" -> ((s, dir) =>
      // sequence packing for LM training: concat-and-chunk placement table
      // (which slice of which doc lands where in fixed 512-token training
      // sequences), deterministic hash concat order, two-pass prefix sum
      // (no global window task). All integer math — DuckDB recomputes
      // every placement exactly.
      graft.ops.Packing.packSequences(
          t(s, dir, "documents").withColumn("ws_tokens",
            graft.ops.WsTokenCount.ws_token_count(col("text"))),
          capacity = 512L, salt = "pack", ranges = 8)
        .orderedBy("doc_id", "seq_id")),
    "x_token_count_native" -> ((s, dir) =>
      // native codegen'd Catalyst expression (no UDF boxing)
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.WsTokenCount.ws_token_count(col("text")).as("ws_tokens"))
        .orderedBy("doc_id")),

    // ---------------- relational queries with DuckDB oracles ---------------
    "q1_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").as("sum_qty"),
          expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderedBy("l_returnflag", "l_linestatus")),
    "q2_order_priority" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("sum_total"))
        .orderedBy("o_orderpriority")),
    "q3_cust_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderedBy("c_mktsegment")
    }),
    "q4_top_event_per_user" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderedBy("user_id")
    }),
    "q5_events_by_type" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          expr("sum(cast(floor(value * 1000) as bigint))").as("value_milli_sum"))
        .orderedBy("event_type")),
    "q6_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents")).orderedBy("content_md5")),
    "q7_doc_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars_actual"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast("long").as("ws_tokens_approx"))
        .orderedBy("doc_id")),
    "q8_docs_by_lang" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(cast(n_chars as bigint))").as("total_chars"))
        .orderedBy("lang")),
    "q9_emb_labels" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val d = t(s, dir, "documents")
      e.join(d, e("vec_id") === d("doc_id"), "inner")
        .groupBy(col("label"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderedBy("label", "lang")
    }),
    "q10_supplier_nation" -> ((s, dir) => {
      val su = t(s, dir, "supplier")
      val na = t(s, dir, "nation")
      su.join(broadcast(na), su("s_nationkey") === na("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"))
        .orderedBy("n_name")
    }),
    "q11_part_brands" -> ((s, dir) =>
      t(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          expr("cast(sum(cast(p_size as bigint)) as bigint)").as("total_size"))
        .orderedBy("p_brand")),
    "q12_monthly_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        .agg(count(lit(1)).as("n_orders"))
        .orderedBy("order_month")),
    "q13_sessionize" -> ((s, dir) => {
      // session = run of a user's events with gaps <= 30 min (window lag)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_s", lag(unix_timestamp(col("ts")), 1).over(w))
        .withColumn("is_start",
          when(col("prev_s").isNull ||
            unix_timestamp(col("ts")) - col("prev_s") > 1800, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("is_start")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderedBy("user_id")
    }),
    "q20_pivot" -> ((s, dir) =>
      // PIVOT for a KNOWN vocabulary, written as conditional aggregates:
      // ONE partial+final hash aggregate producing all 5 count columns.
      // Dataset.pivot() with the same explicit list compiles to TWO
      // aggregation exchanges (pre-aggregate on (user, type), re-shuffle
      // on user for PivotFirst) and the implicit form adds a
      // values-discovery scan on top — both measured in the plan and
      // pinned inferior in SparkPipelineSpec; at 100 TB the second
      // full-row shuffle is the difference. count() never yields null,
      // so the driver hash is engine-neutral without coalescing.
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(when(col("event_type") === "click", 1)).as("click"),
          count(when(col("event_type") === "error", 1)).as("error"),
          count(when(col("event_type") === "purchase", 1)).as("purchase"),
          count(when(col("event_type") === "signup", 1)).as("signup"),
          count(when(col("event_type") === "view", 1)).as("view"))
        .orderedBy("user_id")),
    "q21_set_ops" -> ((s, dir) => {
      // set difference as a relational operator: customers with no URGENT
      // order (left ANTI join against a filtered build side — the oracled
      // twin of the fixture-diff golden in SparkPipelineSpec; "no orders
      // at all" is vacuously empty at every driver SF). The priority
      // filter pushes into the orders scan, the anti join shuffles key
      // columns only; at scale the build side reduces to distinct keys
      // map-side, no wide rows move.
      val c = t(s, dir, "customer")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderedBy("c_custkey")
    }),
    "x_asof_join" -> ((s, dir) => {
      // as-of join over the events stream: each even event matched to the
      // user's latest odd event at-or-before its timestamp. One shuffle on
      // user_id (union + running last-value window) — no range-join blowup.
      val e = t(s, dir, "events")
      val leftE = e.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("ts"), col("event_id"))
      val rightE = e.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("ts"), col("event_id").as("matched_event_id"))
      // asOfAuto exercises the strategy selector on the driver surface: the
      // events keys are unskewed, so the bounded Bernoulli probe routes to
      // the plain one-shuffle form (both forms are equivalence-pinned, so
      // the oracle holds regardless of the routing decision)
      graft.ops.AsOfJoin.asOfAuto(leftE, rightE, Seq("user_id"), "ts",
          date_trunc("hour", col("ts")))
        .select(col("event_id"),
          coalesce(col("matched_event_id"), lit(-1L)).as("matched_event_id"))
        .orderedBy("event_id")
    }),
    "q17_rollup" -> ((s, dir) =>
      // grouping sets: per-(lang, size-class) subtotals + per-lang + grand
      // total in ONE pass (Expand + partial aggregate — no re-scan per
      // level). NULL group markers are projected to 'ALL' so the oracle
      // hash never depends on engine null encodings.
      t(s, dir, "documents")
        .withColumn("size_class",
          when(col("n_chars") >= 1000, "long").otherwise("short"))
        .rollup(col("lang"), col("size_class"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(cast(n_chars as bigint))").as("total_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang_g"),
          coalesce(col("size_class"), lit("ALL")).as("size_g"),
          col("n_docs"), col("total_chars"))
        .orderedBy("lang_g", "size_g")),
    "q18_doc_percentiles" -> ((s, dir) =>
      // ordered-set aggregates: exact interpolated percentiles of document
      // length per language. Spark's percentile() and DuckDB's
      // quantile_cont() share the linear-interpolation definition; int
      // inputs keep the arithmetic exact across engines.
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          expr("percentile(n_chars, 0.5)").as("p50_chars"),
          expr("percentile(n_chars, 0.9)").as("p90_chars"),
          expr("cast(min(n_chars) as bigint)").as("min_chars"),
          expr("cast(max(n_chars) as bigint)").as("max_chars"))
        .orderedBy("lang")),
    "q14_top_customers" -> ((s, dir) =>
      t(s, dir, "customer")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))),
    "q15_customer_activity" -> ((s, dir) => {
      // customers with vs without orders in ONE action: left-outer to the
      // distinct order keys, then a conditional aggregate — the prior
      // semi+anti two-action form scanned customer/orders twice
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey")).distinct()
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .agg(
          sum(when(col("o_custkey").isNotNull, 1).otherwise(0))
            .cast("long").as("with_orders"),
          sum(when(col("o_custkey").isNull, 1).otherwise(0))
            .cast("long").as("without_orders"))
    }),
    "q19_sliding_hour" -> ((s, dir) => {
      // RANGE window frame (value-based, not row-based): per event, the
      // count and fixed-point value sum of the user's events in the
      // preceding hour — the sliding-window family q4/q13/q16 don't cover.
      // Integer epoch seconds keep the frame bounds exact across engines.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("es"))
        .rangeBetween(-3600L, 0L)
      t(s, dir, "events")
        .withColumn("es", unix_timestamp(col("ts")))
        .withColumn("n_last_hour", count(lit(1)).over(w).cast("long"))
        .withColumn("vm_last_hour",
          sum(expr("cast(floor(value * 1000) as bigint)")).over(w).cast("long"))
        .select(col("event_id"), col("n_last_hour"), col("vm_last_hour"))
        .orderedBy("event_id")
    }),
    "q16_event_deltas" -> ((s, dir) => {
      // lag-based per-event value delta, fixed-point, summed by type
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("vm", expr("cast(floor(value * 1000) as bigint)"))
        .withColumn("delta", col("vm") - lag(col("vm"), 1).over(w))
        .filter(col("delta").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("delta")).cast("long").as("delta_sum"))
        .orderedBy("event_type")
    }))

  /** Brute-force top-50 rank form over the embeddings table — the oracle
    * for x_ann_brute and for the contract-gated adaptive IVF rows (their
    * Spark side EMITS this ranking after in-query contract checks). */
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
    s"""WITH cnt AS (SELECT count(*)::BIGINT AS n FROM embeddings),
      |nbv AS (SELECT $nbExpr AS nb FROM cnt),
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

  /** DuckDB-runnable oracles for the relational family; the x_* extraction
    * ops are not SQL-expressible -> rows-only checks. Column aliases match
    * the Spark side exactly (driver sorts columns by name before hashing). */
  def oracleSql: Map[String, String] = Map(
    "x_ann_lsh" -> lshProbeOracleSql(
      "greatest(2, least(16, cast(floor(ln(greatest(1.0, n/64.0))/ln(2)) as int)))"),
    "x_ann_index_probe" -> lshProbeOracleSql("8"),
    // contract-gated adaptive IVF rows: Spark emits the brute ranking
    // after asserting the probe's contract in-query (see the entries)
    "x_ann_ivf" -> bruteTopKSql,
    "x_ann_ivf_probe" -> bruteTopKSql,
    "x_ann_ivfpq_probe" -> bruteTopKSql,
    "x_pq_topk" -> bruteTopKSql,
    "x_embed_neardup" ->
      // planted-duplicate union: recall is deterministic at threshold
      // 0.95 (identical vectors share buckets by construction), so the
      // LSH pipeline's output equals this exhaustive set
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
        |WHERE cosine_r6 >= 0.95 ORDER BY vec_a, vec_b""".stripMargin,
    "x_semdedup" ->
      // same planted-union exhaustive recompute as x_embed_neardup: at
      // tau 0.95 the within-cell pair set equals the exhaustive set
      // (identical vectors always share a k-means cell), so the clustering
      // geometry needs no SQL replay
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
        |WHERE cosine_r6 >= 0.95 ORDER BY vec_a, vec_b""".stripMargin,
    "x_semdedup_multiassign" ->
      // identical oracle to x_semdedup: multi-assignment changes the
      // candidate set, never the verified pair set (see the query's note)
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
        |WHERE cosine_r6 >= 0.95 ORDER BY vec_a, vec_b""".stripMargin,
    "x_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, list_transform(t, tok ->
        |    list_reduce(
        |      list_prepend(14695981039346656037::UBIGINT,
        |        list_transform(generate_series(1, strlen(tok)), i -> ord(tok[i])::UBIGINT)),
        |      (acc, b) -> ((xor(acc, b)::HUGEINT * 1099511628211)
        |                   % 18446744073709551616)::UBIGINT)) AS hs
        |  FROM toks),
        |fp AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(14695981039346656037::UBIGINT, hs),
        |      (acc, x) -> (((acc::HUGEINT * 25214903917) + x::HUGEINT)
        |                   % 18446744073709551616)::UBIGINT) AS f
        |  FROM th)
        |SELECT doc_id, lpad(lower(hex(f)), 16, '0') AS fp_hex
        |FROM fp ORDER BY doc_id""".stripMargin,
    "x_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |    ELSE list_distinct(list_transform(generate_series(1, len(t)-4),
        |           i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])) END AS grams
        |  FROM toks),
        |bg AS (SELECT DISTINCT gram FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id >= 250)),
        |hits AS (
        |  SELECT cg.doc_id
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id < 250) cg
        |  JOIN bg USING (gram) GROUP BY cg.doc_id)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id < 250 AND doc_id NOT IN (SELECT doc_id FROM hits)
        |ORDER BY doc_id""".stripMargin,
    "x_contamination_audit" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |    ELSE list_distinct(list_transform(generate_series(1, len(t)-4),
        |           i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])) END AS grams
        |  FROM toks),
        |bg AS (SELECT DISTINCT gram FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id >= 250))
        |SELECT cg.doc_id, count(*)::BIGINT AS n_contaminated_grams
        |FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id < 250) cg
        |JOIN bg USING (gram) GROUP BY cg.doc_id
        |ORDER BY doc_id""".stripMargin,
    "x_gopher_audit" ->
      // all-integer recompute: ws tokens for words, \W+ lower tokens for
      // stops/trigrams, char-count sums, symbol runs via non-overlapping
      // split counting, line starts/ends — verdicts cross-multiplied
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'), x -> x <> '') AS w,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS lt,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, max(c)::INT AS top_tri FROM (
        |    SELECT doc_id, count(*)::INT AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, len(lt)-2),
        |             i -> lt[i]||' '||lt[i+1]||' '||lt[i+2])) AS g
        |      FROM toks) GROUP BY doc_id, g) GROUP BY doc_id),
        |n AS (
        |  SELECT t.doc_id,
        |    cast(len(w) as int) AS n_words,
        |    cast(coalesce(list_sum(list_transform(w, x -> length(x))), 0) as bigint) AS n_word_chars,
        |    cast(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) as int) AS n_alpha_words,
        |    cast(len(list_intersect(list_distinct(lt),
        |      ['the','be','to','of','and','that','have','with'])) as int) AS n_stops_present,
        |    cast(length(text) - length(replace(text, '#', ''))
        |      + length(text) - length(replace(text, chr(8230), ''))
        |      + len(string_split(text, '...')) - 1 as int) AS n_symbols,
        |    cast(len(ls) as int) AS n_lines,
        |    cast(len(list_filter(ls, l -> trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) <> ''
        |      AND list_contains(['•','‣','▪','-','*'],
        |            substring(trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)), 1, 1)))) as int) AS n_bullet_lines,
        |    cast(len(list_filter(ls, l ->
        |      trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) LIKE '%...'
        |      OR trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) LIKE '%' || chr(8230))) as int) AS n_ellipsis_lines,
        |    coalesce(tri.top_tri, 0) AS top_trigram_count
        |  FROM toks t LEFT JOIN tri ON t.doc_id = tri.doc_id)
        |SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stops_present,
        |  n_symbols, n_lines, n_bullet_lines, n_ellipsis_lines, top_trigram_count,
        |  (n_words >= 30 AND n_words <= 100000) AS keep_word_count,
        |  (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10) AS keep_mean_word_len,
        |  (n_symbols * 10 <= n_words) AS keep_symbol_ratio,
        |  (n_bullet_lines * 10 <= n_lines) AS keep_bullets,
        |  (n_ellipsis_lines * 10 <= n_lines * 3) AS keep_ellipsis,
        |  (n_alpha_words * 10 >= n_words * 8) AS keep_alpha_words,
        |  (n_stops_present >= 2) AS keep_stop_words,
        |  (top_trigram_count * 100 <= n_words * 18) AS keep_repetition,
        |  ((n_words >= 30 AND n_words <= 100000)
        |   AND (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10)
        |   AND (n_symbols * 10 <= n_words)
        |   AND (n_bullet_lines * 10 <= n_lines)
        |   AND (n_ellipsis_lines * 10 <= n_lines * 3)
        |   AND (n_alpha_words * 10 >= n_words * 8)
        |   AND (n_stops_present >= 2)
        |   AND (top_trigram_count * 100 <= n_words * 18)) AS gopher_keep
        |FROM n
        |ORDER BY doc_id""".stripMargin,
    "x_gopher_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'), x -> x <> '') AS w,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS lt,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, max(c)::INT AS top_tri FROM (
        |    SELECT doc_id, count(*)::INT AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, len(lt)-2),
        |             i -> lt[i]||' '||lt[i+1]||' '||lt[i+2])) AS g
        |      FROM toks) GROUP BY doc_id, g) GROUP BY doc_id),
        |n AS (
        |  SELECT t.doc_id,
        |    cast(len(w) as int) AS n_words,
        |    cast(coalesce(list_sum(list_transform(w, x -> length(x))), 0) as bigint) AS n_word_chars,
        |    cast(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) as int) AS n_alpha_words,
        |    cast(len(list_intersect(list_distinct(lt),
        |      ['the','be','to','of','and','that','have','with'])) as int) AS n_stops_present,
        |    cast(length(text) - length(replace(text, '#', ''))
        |      + length(text) - length(replace(text, chr(8230), ''))
        |      + len(string_split(text, '...')) - 1 as int) AS n_symbols,
        |    cast(len(ls) as int) AS n_lines,
        |    cast(len(list_filter(ls, l -> trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) <> ''
        |      AND list_contains(['•','‣','▪','-','*'],
        |            substring(trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)), 1, 1)))) as int) AS n_bullet_lines,
        |    cast(len(list_filter(ls, l ->
        |      trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) LIKE '%...'
        |      OR trim(l, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) LIKE '%' || chr(8230))) as int) AS n_ellipsis_lines,
        |    coalesce(tri.top_tri, 0) AS top_trigram_count
        |  FROM toks t LEFT JOIN tri ON t.doc_id = tri.doc_id)
        |SELECT d.doc_id, d.lang FROM documents d JOIN n ON d.doc_id = n.doc_id
        |WHERE (n_words >= 30 AND n_words <= 100000)
        |  AND (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10)
        |  AND (n_symbols * 10 <= n_words)
        |  AND (n_bullet_lines * 10 <= n_lines)
        |  AND (n_ellipsis_lines * 10 <= n_lines * 3)
        |  AND (n_alpha_words * 10 >= n_words * 8)
        |  AND (n_stops_present >= 1)
        |  AND (top_trigram_count * 100 <= n_words * 18)
        |ORDER BY d.doc_id""".stripMargin,
    "x_url_domains" ->
      // ground truth by construction: each planted family's registrable
      // domain is a closed-form string of doc_id (the engine runs the
      // generic longest-match PSL algorithm; family 11 pins the www-strip
      // quirk on the www.ck exception rule, family 15 the rejected scheme)
      """SELECT doc_id,
        |  CASE doc_id % 16
        |    WHEN 0 THEN 'https://site' || doc_id || '.com/a'
        |    WHEN 1 THEN 'http://www.site' || doc_id || '.com/b?q=1'
        |    WHEN 2 THEN 'https://site' || doc_id || '.co.uk:8443/p'
        |    WHEN 3 THEN 'http://' || upper('site' || doc_id) || '.COM.KZ/x'
        |    WHEN 4 THEN 'https://site' || doc_id || '.k12.ca.us'
        |    WHEN 5 THEN 'https://user@site' || doc_id || '.github.io/repo'
        |    WHEN 6 THEN 'http://site' || doc_id || '.blogspot.com.br'
        |    WHEN 7 THEN 'https://site' || doc_id || '.news.bd'
        |    WHEN 8 THEN 'https://site' || doc_id || '.kawasaki.jp'
        |    WHEN 9 THEN 'http://x.site' || doc_id || '.kawasaki.jp'
        |    WHEN 10 THEN 'https://city.kawasaki.jp/ward'
        |    WHEN 11 THEN 'http://www.ck'
        |    WHEN 12 THEN 'https://site' || doc_id || '.a.bg'
        |    WHEN 13 THEN 'http://site' || doc_id || '.tokyo.jp'
        |    WHEN 14 THEN 'https://a.b.site' || doc_id || '.compute.amazonaws.com'
        |    ELSE 'ftp://site' || doc_id || '.com' END AS url,
        |  coalesce(CASE doc_id % 16
        |    WHEN 0 THEN 'site' || doc_id || '.com'
        |    WHEN 1 THEN 'site' || doc_id || '.com'
        |    WHEN 2 THEN 'site' || doc_id || '.co.uk'
        |    WHEN 3 THEN 'site' || doc_id || '.com.kz'
        |    WHEN 4 THEN 'site' || doc_id || '.k12.ca.us'
        |    WHEN 5 THEN 'site' || doc_id || '.github.io'
        |    WHEN 6 THEN 'site' || doc_id || '.blogspot.com.br'
        |    WHEN 7 THEN 'site' || doc_id || '.news.bd'
        |    WHEN 8 THEN 'site' || doc_id || '.kawasaki.jp'
        |    WHEN 9 THEN 'x.site' || doc_id || '.kawasaki.jp'
        |    WHEN 10 THEN 'city.kawasaki.jp'
        |    WHEN 11 THEN 'ck'
        |    WHEN 12 THEN 'site' || doc_id || '.a.bg'
        |    WHEN 13 THEN 'site' || doc_id || '.tokyo.jp'
        |    WHEN 14 THEN 'b.site' || doc_id || '.compute.amazonaws.com'
        |    ELSE NULL END, '(none)') AS domain
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "x_url_blocklist" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 16
        |      WHEN 0 THEN 'site' || doc_id || '.com'
        |      WHEN 1 THEN 'site' || doc_id || '.com'
        |      WHEN 2 THEN 'site' || doc_id || '.co.uk'
        |      WHEN 3 THEN 'site' || doc_id || '.com.kz'
        |      WHEN 4 THEN 'site' || doc_id || '.k12.ca.us'
        |      WHEN 5 THEN 'site' || doc_id || '.github.io'
        |      WHEN 6 THEN 'site' || doc_id || '.blogspot.com.br'
        |      WHEN 7 THEN 'site' || doc_id || '.news.bd'
        |      WHEN 8 THEN 'site' || doc_id || '.kawasaki.jp'
        |      WHEN 9 THEN 'x.site' || doc_id || '.kawasaki.jp'
        |      WHEN 10 THEN 'city.kawasaki.jp'
        |      WHEN 11 THEN 'ck'
        |      WHEN 12 THEN 'site' || doc_id || '.a.bg'
        |      WHEN 13 THEN 'site' || doc_id || '.tokyo.jp'
        |      WHEN 14 THEN 'b.site' || doc_id || '.compute.amazonaws.com'
        |      ELSE NULL END AS domain
        |  FROM documents),
        |b AS (SELECT DISTINCT domain FROM u
        |      WHERE doc_id % 7 = 0 AND domain IS NOT NULL)
        |SELECT u.doc_id, coalesce(u.domain, '(none)') AS domain
        |FROM u LEFT JOIN b ON u.domain = b.domain
        |WHERE b.domain IS NULL
        |ORDER BY u.doc_id""".stripMargin,
    "x_bucketed_join" ->
      // the semantic join, layout-free: bucketing changes the plan
      // (zero exchanges, pinned in-query), never the rows
      """WITH tot AS (
        |  SELECT user_id,
        |    cast(sum(cast(value as decimal(18,6))) as double) AS user_total,
        |    count(*) AS user_events
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, tot.user_total, tot.user_events
        |FROM events e JOIN tot USING (user_id)
        |ORDER BY e.event_id""".stripMargin,
    "x_dsir_weights" ->
      // full recompute of the DSIR path: md5 gram buckets (the
      // x_split_assign UBIGINT-% convention), add-1-smoothed log ratios
      // with the SAME parenthesization as the Scala ((ln-ln)-(ln-ln)),
      // per-occurrence sum; empty-gram docs weight 0 via the left join
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(t) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
        |         i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks),
        |db AS (SELECT doc_id, md5_number_lower(g) % 4096::UBIGINT AS b FROM grams),
        |tc AS (SELECT b, count(*)::DOUBLE AS c FROM db WHERE doc_id >= 400 GROUP BY b),
        |rc AS (SELECT b, count(*)::DOUBLE AS c FROM db WHERE doc_id < 400 GROUP BY b),
        |nt AS (SELECT count(*)::DOUBLE AS n FROM db WHERE doc_id >= 400),
        |nr AS (SELECT count(*)::DOUBLE AS n FROM db WHERE doc_id < 400),
        |w AS (
        |  SELECT d.doc_id, sum(
        |    (ln(coalesce(tc.c, 0) + 1.0) - ln((SELECT n FROM nt) + 4096.0))
        |    - (ln(coalesce(rc.c, 0) + 1.0) - ln((SELECT n FROM nr) + 4096.0))) AS lw
        |  FROM db d LEFT JOIN tc USING (b) LEFT JOIN rc USING (b)
        |  WHERE d.doc_id < 400 GROUP BY d.doc_id)
        |SELECT doc_id, round(coalesce(w.lw, 0.0), 6) AS log_weight_r6
        |FROM documents LEFT JOIN w USING (doc_id)
        |WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,
    "x_dsir_sample" ->
      // weights CTE + the seeded Gumbel key: top 53 bits of a salted md5
      // scaled by 2^-53 (bit-exact in IEEE double both engines), ranked
      // on the r6-rounded key with doc_id ties
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(t) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
        |         i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks),
        |db AS (SELECT doc_id, md5_number_lower(g) % 4096::UBIGINT AS b FROM grams),
        |tc AS (SELECT b, count(*)::DOUBLE AS c FROM db WHERE doc_id >= 400 GROUP BY b),
        |rc AS (SELECT b, count(*)::DOUBLE AS c FROM db WHERE doc_id < 400 GROUP BY b),
        |nt AS (SELECT count(*)::DOUBLE AS n FROM db WHERE doc_id >= 400),
        |nr AS (SELECT count(*)::DOUBLE AS n FROM db WHERE doc_id < 400),
        |w AS (
        |  SELECT d.doc_id, sum(
        |    (ln(coalesce(tc.c, 0) + 1.0) - ln((SELECT n FROM nt) + 4096.0))
        |    - (ln(coalesce(rc.c, 0) + 1.0) - ln((SELECT n FROM nr) + 4096.0))) AS lw
        |  FROM db d LEFT JOIN tc USING (b) LEFT JOIN rc USING (b)
        |  WHERE d.doc_id < 400 GROUP BY d.doc_id),
        |keys AS (
        |  SELECT doc_id, coalesce(w.lw, 0.0) AS lw,
        |    coalesce(w.lw, 0.0) + (-ln(-ln(
        |      ((md5_number_lower('dsir:' || doc_id) >> 11)::DOUBLE + 0.5)
        |      / 9007199254740992.0))) AS k
        |  FROM documents LEFT JOIN w USING (doc_id)
        |  WHERE doc_id < 400)
        |SELECT doc_id, round(lw, 6) AS log_weight_r6, round(k, 6) AS sample_key_r6
        |FROM keys
        |ORDER BY round(k, 6) DESC, doc_id
        |LIMIT 100""".stripMargin,
    "x_repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, count(*)::INT AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok),
        |uni AS (
        |  SELECT doc_id, cast(sum(c) as int) AS n_tokens, count(*)::INT AS n_distinct_tokens,
        |         max(c) AS top_unigram_count
        |  FROM u GROUP BY doc_id),
        |b2 AS (
        |  SELECT doc_id, max(c)::INT AS top_bigram_count FROM (
        |    SELECT doc_id, count(*)::INT AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
        |        i -> t[i]||' '||t[i+1])) AS g
        |      FROM toks WHERE len(t) >= 2)
        |    GROUP BY doc_id, g) GROUP BY doc_id),
        |b3 AS (
        |  SELECT doc_id, max(c)::INT AS top_trigram_count FROM (
        |    SELECT doc_id, count(*)::INT AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
        |        i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS g
        |      FROM toks WHERE len(t) >= 3)
        |    GROUP BY doc_id, g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(uni.n_tokens, 0) AS n_tokens,
        |  coalesce(uni.n_distinct_tokens, 0) AS n_distinct_tokens,
        |  coalesce(uni.top_unigram_count, 0) AS top_unigram_count,
        |  coalesce(b2.top_bigram_count, 0) AS top_bigram_count,
        |  coalesce(b3.top_trigram_count, 0) AS top_trigram_count
        |FROM documents d
        |LEFT JOIN uni ON d.doc_id = uni.doc_id
        |LEFT JOIN b2 ON d.doc_id = b2.doc_id
        |LEFT JOIN b3 ON d.doc_id = b3.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "x_substr_spans" ->
      // hash-free recompute: duplicated 10-gram STRINGS (count >= 2
      // corpus-wide, all occurrences), islands-and-gaps over window starts
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5]||' '
        |      ||t[i+6]||' '||t[i+7]||' '||t[i+8]||' '||t[i+9] AS gram
        |  FROM toks, unnest(generate_series(1, greatest(len(t) - 9, 0))) AS u(i)),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
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
        |ORDER BY doc_id, start_tok""".stripMargin,
    "x_substr_dedup" ->
      // covered token positions = union of [start, start+10) over every
      // duplicated window start; survivors rejoin in position order
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5]||' '
        |      ||t[i+6]||' '||t[i+7]||' '||t[i+8]||' '||t[i+9] AS gram
        |  FROM toks, unnest(generate_series(1, greatest(len(t) - 9, 0))) AS u(i)),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |cov AS (
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
        |ORDER BY d0.doc_id""".stripMargin,
    "x_table_prune" ->
      // the semantic time-range query on the raw events table: equality
      // against the manifest-pruned table read proves data skipping is
      // IO-only — file bounds change what opens, never what returns
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |              AND TIMESTAMP '2024-01-13 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "x_table_delete" ->
      // survivors of the copy-on-write purge == the raw table minus the
      // inclusive range (null ts would survive too — range never matches
      // null, the deleteRange coalesce(cond,false) contract)
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events
        |WHERE ts IS NULL
        |   OR ts NOT BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |                 AND TIMESTAMP '2024-01-13 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "x_table_update" ->
      // post-update table == CASE-WHEN over the raw events: in-range rows
      // re-type to 'redacted' and re-value off the OLD row (value*2 +
      // length of the PRE-update event_type — SQL UPDATE old-row
      // semantics, which a sequential apply would break by reading the
      // already-redacted type)
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |                   AND TIMESTAMP '2024-01-13 00:00:00'
        |       THEN 'redacted' ELSE event_type END AS event_type,
        |  CASE WHEN ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |                   AND TIMESTAMP '2024-01-13 00:00:00'
        |       THEN value * 2 + length(event_type) ELSE value END AS value
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "x_table_merge" ->
      // post-merge table == survivors (key not updated) + the re-valued
      // update run + the re-keyed inserts; // is DuckDB integer division
      // (same arithmetic as the Scala Long division building the batch);
      // the insert offset is 3*count(*) — derived past the max id in both
      // engines, never a constant a bigger SF could collide with
      """WITH n AS (SELECT count(*) AS c FROM events),
        |upd AS (
        |  SELECT event_id, ts, 'upd' AS event_type, value * 2 AS value
        |  FROM events, n
        |  WHERE event_id >= c // 10 AND event_id < c // 10 + c // 50),
        |ins AS (
        |  SELECT event_id + 3 * c AS event_id, ts, event_type, value
        |  FROM events, n WHERE event_id < c // 100)
        |SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM (
        |  SELECT event_id, ts, event_type, value FROM events
        |  WHERE event_id NOT IN (SELECT event_id FROM upd)
        |  UNION ALL SELECT event_id, ts, event_type, value FROM upd
        |  UNION ALL SELECT event_id, ts, event_type, value FROM ins)
        |ORDER BY event_id""".stripMargin,
    "x_line_dedup" ->
      // pages rebuilt identically (string_agg ORDER BY doc_id == the
      // array_sort(collect_list(struct)) fold); line identity = trim of
      // space/tab/CR; a line in dup (count >= 2 corpus-wide) is dropped
      // everywhere, survivors string_agg back in position order
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
        |ORDER BY page_id""".stripMargin,
    "x_nb_model" ->
      // derived labeled corpus (parity labels + class-marker suffixes),
      // doc_id % 5 train split, integer-exact (label, token) counts
      """WITH lab AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'good' ELSE 'spam' END AS label,
        |    CASE WHEN doc_id % 2 = 0 THEN text || ' insight careful analysis'
        |         ELSE text || ' buy click cheap now' END AS text
        |  FROM documents),
        |tr AS (SELECT * FROM lab WHERE doc_id % 5 <> 0),
        |trt AS (
        |  SELECT doc_id, t[i] AS tok FROM (
        |    SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |    FROM tr), unnest(generate_series(1, len(t))) AS u(i))
        |SELECT l.label, tt.tok, count(*) AS cnt
        |FROM trt tt JOIN tr l USING (doc_id)
        |GROUP BY l.label, tt.tok ORDER BY l.label, tt.tok""".stripMargin,
    "x_nb_classify" ->
      // identical smoothing arithmetic ((cnt+1)/(n_tok+V)), ln per term,
      // prior-seeded position-ordered left fold, argmax on the ROUNDED
      // ll with label-DESC tiebreak (= Spark's max(struct(ll_r6, label)))
      """WITH lab AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'good' ELSE 'spam' END AS label,
        |    CASE WHEN doc_id % 2 = 0 THEN text || ' insight careful analysis'
        |         ELSE text || ' buy click cheap now' END AS text
        |  FROM documents),
        |tr AS (SELECT * FROM lab WHERE doc_id % 5 <> 0),
        |te AS (SELECT * FROM lab WHERE doc_id % 5 = 0),
        |trt AS (
        |  SELECT doc_id, i, t[i] AS tok FROM (
        |    SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |    FROM tr), unnest(generate_series(1, len(t))) AS u(i)),
        |m AS (
        |  SELECT l.label, tt.tok, count(*) AS cnt
        |  FROM trt tt JOIN tr l USING (doc_id) GROUP BY l.label, tt.tok),
        |pr AS (
        |  SELECT label, count(*) AS n_docs,
        |    sum(len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')))::BIGINT AS n_tok
        |  FROM tr GROUP BY label),
        |nn AS (SELECT sum(n_docs) AS n_train FROM pr),
        |v AS (SELECT count(DISTINCT tok) AS vv FROM trt),
        |tet AS (
        |  SELECT doc_id, i, t[i] AS tok FROM (
        |    SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |    FROM te), unnest(generate_series(1, len(t))) AS u(i)),
        |terms AS (
        |  SELECT tt.doc_id, p.label, tt.i,
        |    ln((coalesce(m.cnt, 0) + 1)::DOUBLE / (p.n_tok + v.vv)::DOUBLE) AS lp
        |  FROM tet tt CROSS JOIN pr p
        |  LEFT JOIN m ON m.label = p.label AND m.tok = tt.tok, v),
        |ll AS (
        |  SELECT b.doc_id, b.label,
        |    list_reduce(list_prepend(b.prior_ll, coalesce(list(t.lp ORDER BY t.i), [])),
        |      (a, x) -> a + x) AS ll
        |  FROM (SELECT te.doc_id, p.label, ln(p.n_docs::DOUBLE / nn.n_train) AS prior_ll
        |        FROM te CROSS JOIN pr p, nn) b
        |  LEFT JOIN terms t ON t.doc_id = b.doc_id AND t.label = b.label
        |  GROUP BY b.doc_id, b.label, b.prior_ll),
        |rk AS (
        |  SELECT doc_id, label AS pred, round(ll, 6) AS ll_r6,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY round(ll, 6) DESC, label DESC) AS rn
        |  FROM ll)
        |SELECT r.doc_id, r.pred, l.label AS true_label, r.ll_r6
        |FROM rk r JOIN lab l USING (doc_id) WHERE r.rn = 1
        |ORDER BY r.doc_id""".stripMargin,
    "x_lm_bigrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, i, CASE WHEN i = 1 THEN '<s>' ELSE t[i - 1] END AS w1, t[i] AS w2
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i))
        |SELECT w1, w2, count(*)::BIGINT AS cnt
        |FROM pos GROUP BY w1, w2 ORDER BY w1, w2""".stripMargin,
    "x_lm_score" ->
      // identical smoothing arithmetic ((cnt+1) / (ctx+V), both integer
      // sums converted once), ln per term, position-ordered left fold
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, i, CASE WHEN i = 1 THEN '<s>' ELSE t[i - 1] END AS w1, t[i] AS w2
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
        |bg AS (SELECT w1, w2, count(*) AS cnt FROM pos GROUP BY w1, w2),
        |cx AS (SELECT w1, sum(cnt) AS ctx FROM bg GROUP BY w1),
        |v AS (SELECT count(DISTINCT w2) AS vv FROM pos),
        |terms AS (
        |  SELECT p.doc_id, p.i,
        |    ln((coalesce(b.cnt, 0) + 1)::DOUBLE / (coalesce(c.ctx, 0) + v.vv)::DOUBLE) AS lp
        |  FROM pos p
        |  LEFT JOIN bg b ON p.w1 = b.w1 AND p.w2 = b.w2
        |  LEFT JOIN cx c ON p.w1 = c.w1, v),
        |agg AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(lp ORDER BY i)), (a, x) -> a + x) AS s
        |  FROM terms GROUP BY doc_id)
        |SELECT doc_id, n_tokens, round(-s / n_tokens, 6) AS mean_nll_r6
        |FROM agg ORDER BY doc_id""".stripMargin,
    "x_pii_redact" ->
      // same derived contact card, then RE2 recompute of the detection
      // counts (on the PRE-redaction text) and the 3-stage typed redaction
      """WITH src AS (
        |  SELECT c_custkey AS doc_id,
        |    'Customer ' || c_name || ' can be reached at ' ||
        |    CASE WHEN c_custkey % 5 = 0 THEN 'no contact info'
        |         ELSE 'customer' || c_custkey::VARCHAR || '@example.com or ' ||
        |              printf('%02d-%03d-%03d-%04d', c_custkey % 90 + 10,
        |                     c_custkey * 3 % 900 + 100, c_custkey * 7 % 900 + 100,
        |                     c_custkey * 11 % 9000 + 1000) ||
        |              ' from host ' || (c_custkey % 224 + 16)::VARCHAR || '.' ||
        |              (c_custkey * 7 % 256)::VARCHAR || '.' ||
        |              (c_custkey * 13 % 256)::VARCHAR || '.' ||
        |              (c_custkey % 254 + 1)::VARCHAR
        |    END AS text
        |  FROM customer)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
        |  len(regexp_extract_all(text, '\b\d{2}-\d{3}-\d{3}-\d{4}\b|\+\d{9,15}'))::BIGINT AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\b\d{2}-\d{3}-\d{3}-\d{4}\b|\+\d{9,15}', '[PHONE]', 'g') AS text
        |FROM src ORDER BY doc_id""".stripMargin,
    "x_c4_filter" ->
      // identical derived line text, then the C4 rules replayed with list
      // lambdas: terminal punctuation, min words, javascript lines, the
      // lorem/brace document flags, and the cleaned rejoin
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(generate_series(0, cast(ceil(len(t) / 8.0) AS INT) - 1),
        |      i -> array_to_string(list_slice(t, i * 8 + 1, i * 8 + 8), ' ') ||
        |           CASE WHEN (doc_id + i) % 4 != 0 THEN '.' ELSE '' END), chr(10)) ||
        |    CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
        |    CASE WHEN doc_id % 89 = 0 THEN chr(10) || 'var config = { mode: 1 }.' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'please enable javascript to continue reading.' ELSE '' END AS text
        |  FROM toks),
        |cls AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lined),
        |audit AS (
        |  SELECT doc_id,
        |    len(ls)::BIGINT AS n_lines,
        |    list_filter(ls, l -> list_contains(['.', '!', '?', '"'], right(rtrim(l, ' ' || chr(9) || chr(13)), 1))
        |        AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 3
        |        AND NOT contains(lower(l), 'javascript')) AS keptl,
        |    len(list_filter(ls, l -> NOT list_contains(['.', '!', '?', '"'], right(rtrim(l, ' ' || chr(9) || chr(13)), 1))))::BIGINT AS n_dropped_no_punct,
        |    len(list_filter(ls, l -> list_contains(['.', '!', '?', '"'], right(rtrim(l, ' ' || chr(9) || chr(13)), 1))
        |        AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) < 3))::BIGINT AS n_dropped_short,
        |    len(list_filter(ls, l -> list_contains(['.', '!', '?', '"'], right(rtrim(l, ' ' || chr(9) || chr(13)), 1))
        |        AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 3
        |        AND contains(lower(l), 'javascript')))::BIGINT AS n_js_lines,
        |    contains(lower(text), 'lorem ipsum')::INT AS has_lorem,
        |    contains(text, '{')::INT AS has_brace
        |  FROM cls)
        |SELECT doc_id, n_lines, len(keptl)::BIGINT AS n_kept_lines, n_dropped_no_punct,
        |  n_dropped_short, n_js_lines, has_lorem, has_brace,
        |  (CASE WHEN len(keptl) >= 3 AND has_lorem = 0 AND has_brace = 0 THEN 1 ELSE 0 END)::INT AS kept,
        |  coalesce(array_to_string(keptl, chr(10)), '') AS text_clean
        |FROM audit ORDER BY doc_id""".stripMargin,
    "x_dedup_simhash" ->
      // full FNV-1a-64 recomputation per token (list_reduce fold over byte
      // ordinals, 2^64 wrap via HUGEINT mod — ASCII table, so ord == the
      // UTF-8 byte), then the same bit-vote + brute-force Hamming shape as
      // the md5 twin (x_simhash_pairs)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, tok, count(*)::BIGINT AS w
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        |  GROUP BY doc_id, tok),
        |fnv AS (
        |  SELECT doc_id, w,
        |    list_reduce(
        |      list_prepend(14695981039346656037::UBIGINT,
        |        list_transform(generate_series(1, strlen(tok)), i -> ord(tok[i])::UBIGINT)),
        |      (acc, b) -> ((xor(acc, b)::HUGEINT * 1099511628211)
        |                   % 18446744073709551616)::UBIGINT) AS h
        |  FROM cnt),
        |packed AS (
        |  SELECT doc_id, list(struct_pack(h := h, w := w)) AS hw FROM fnv GROUP BY doc_id),
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
        |ORDER BY doc_a, doc_b""".stripMargin,
    // ---- extraction/ops family oracles (integer-exact or rank-stable) ----
    "x_token_count_native" ->
      """SELECT doc_id,
        |  cast(len(list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'),
        |    x -> x <> '')) as int) AS ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_quality_counts" ->
      """SELECT doc_id,
        |  cast(len(list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'), x -> x <> '')) as int) AS n_tokens,
        |  cast(len(list_filter(string_split_regex(lower(text), '\W+'),
        |    x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) as int) AS n_stopwords,
        |  cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r\x0B\f]', '', 'g')) as int) AS n_punct,
        |  cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as int) AS n_digit,
        |  cast(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) as int) AS n_upper
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_pr_curve" ->
      // the binned sweep replayed: the x_quality_counts counters, the
      // float bin (the same IEEE divide-then-scale both engines), zero-
      // filled bins, cumulative counts ordered bin DESC, guarded ratios
      """WITH c AS (
        |  SELECT
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'),
        |      x -> x <> ''))::BIGINT AS n_tokens,
        |    len(list_filter(string_split_regex(lower(text), '\W+'),
        |      x -> list_contains(['the','and','of','to','in','is','that',
        |        'for','with','was','are','this'], x)))::BIGINT AS n_stopwords,
        |    (lang = 'en')::BIGINT AS y
        |  FROM documents),
        |s AS (SELECT greatest(least(
        |        floor((n_stopwords::DOUBLE / n_tokens) * 128), 127), 0)::BIGINT
        |        AS bin, y
        |      FROM c WHERE n_tokens > 0),
        |g AS (SELECT bin, sum(y)::BIGINT AS pos,
        |        (count(*) - sum(y))::BIGINT AS neg FROM s GROUP BY bin),
        |bins AS (SELECT unnest(generate_series(0, 127))::BIGINT AS bin),
        |f AS (SELECT b.bin, coalesce(g.pos, 0)::BIGINT AS pos,
        |        coalesce(g.neg, 0)::BIGINT AS neg
        |      FROM bins b LEFT JOIN g USING (bin)),
        |cum AS (SELECT bin, sum(pos) OVER (ORDER BY bin DESC)::BIGINT AS tp,
        |          sum(neg) OVER (ORDER BY bin DESC)::BIGINT AS fp FROM f),
        |tot AS (SELECT sum(pos)::BIGINT AS p, sum(neg)::BIGINT AS n FROM f)
        |SELECT bin, bin::DOUBLE / 128 AS thr, tp, fp,
        |  (p - tp)::BIGINT AS fn, (n - fp)::BIGINT AS tn,
        |  CASE WHEN tp + fp = 0 THEN NULL
        |       ELSE round(tp / (tp + fp), 6) END AS precision_r6,
        |  CASE WHEN p = 0 THEN NULL ELSE round(tp / p, 6) END AS recall_r6,
        |  CASE WHEN n = 0 THEN NULL ELSE round(fp / n, 6) END AS fpr_r6,
        |  CASE WHEN tp * 2 + fp + (p - tp) = 0 THEN NULL
        |       ELSE round(tp * 2 / (tp * 2 + fp + (p - tp)), 6) END AS f1_r6
        |FROM cum CROSS JOIN tot ORDER BY bin""".stripMargin,
    "x_roc_auc" ->
      // same chain, then the trapezoid fold in fixed order (threshold
      // descending = fpr ascending) from the (0,0) seed — list_transform
      // lifts each point into the accumulator struct shape first
      """WITH c AS (
        |  SELECT
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'),
        |      x -> x <> ''))::BIGINT AS n_tokens,
        |    len(list_filter(string_split_regex(lower(text), '\W+'),
        |      x -> list_contains(['the','and','of','to','in','is','that',
        |        'for','with','was','are','this'], x)))::BIGINT AS n_stopwords,
        |    (lang = 'en')::BIGINT AS y
        |  FROM documents),
        |s AS (SELECT greatest(least(
        |        floor((n_stopwords::DOUBLE / n_tokens) * 128), 127), 0)::BIGINT
        |        AS bin, y
        |      FROM c WHERE n_tokens > 0),
        |g AS (SELECT bin, sum(y)::BIGINT AS pos,
        |        (count(*) - sum(y))::BIGINT AS neg FROM s GROUP BY bin),
        |bins AS (SELECT unnest(generate_series(0, 127))::BIGINT AS bin),
        |f AS (SELECT b.bin, coalesce(g.pos, 0)::BIGINT AS pos,
        |        coalesce(g.neg, 0)::BIGINT AS neg
        |      FROM bins b LEFT JOIN g USING (bin)),
        |cum AS (SELECT bin, sum(pos) OVER (ORDER BY bin DESC)::BIGINT AS tp,
        |          sum(neg) OVER (ORDER BY bin DESC)::BIGINT AS fp FROM f),
        |tot AS (SELECT sum(pos)::BIGINT AS p, sum(neg)::BIGINT AS n FROM f),
        |pts AS (SELECT (127 - bin)::BIGINT AS o,
        |          fp / n AS x, tp / p AS y FROM cum CROSS JOIN tot),
        |agg AS (SELECT list(struct_pack(o := o, x := x, y := y) ORDER BY o)
        |          AS pts FROM pts)
        |SELECT p, n,
        |  CASE WHEN p = 0 OR n = 0 THEN NULL
        |  ELSE round(list_reduce(
        |    list_prepend(
        |      struct_pack(px := 0.0::DOUBLE, py := 0.0::DOUBLE,
        |        acc := 0.0::DOUBLE),
        |      list_transform(pts, t -> struct_pack(px := t.x, py := t.y,
        |        acc := 0.0::DOUBLE))),
        |    (a, t) -> struct_pack(px := t.px, py := t.py,
        |      acc := a.acc + (t.px - a.px) * (t.py + a.py) / 2.0)).acc, 6)
        |  END AS auc_r6
        |FROM agg CROSS JOIN tot""".stripMargin,
    "x_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM toks)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  cast(len(a.grams) as bigint) AS g_a,
        |  cast(len(b.grams) as bigint) AS g_b,
        |  cast(len(list_intersect(a.grams, b.grams)) as bigint) AS g_inter,
        |  cast(len(list_distinct(list_concat(a.grams, b.grams))) as bigint) AS g_union,
        |  cast(len(list_intersect(a.grams, b.grams)) as double)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    "x_neardup_recall" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 1000),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM toks)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    cast(len(list_intersect(a.grams, b.grams)) as double)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""".stripMargin,
    "x_simhash_pairs" ->
      // full recomputation of the md5-token-hash simhash in SQL: per-doc
      // unigram counts -> signed bit votes over all 64 bits -> packed hash,
      // then brute-force all-pairs hamming via bit_count(xor()). The Spark
      // side must emit EXACTLY these pairs (pigeonhole completeness).
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 1000),
        |cnt AS (
        |  SELECT doc_id, tok, count(*)::BIGINT AS w
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        |  GROUP BY doc_id, tok),
        |packed AS (
        |  SELECT doc_id, list(struct_pack(h := md5_number_lower(tok), w := w)) AS hw
        |  FROM cnt GROUP BY doc_id),
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
        |ORDER BY doc_a, doc_b""".stripMargin,
    "x_ann_index_build" ->
      // the build commits (kind, nBits, row count, centroid count) as index
      // metadata; the oracle pins the committed cardinality to the table's
      """SELECT 'lsh' AS kind, 8 AS param, count(*) AS n_rows,
        |  0 AS n_centroids FROM embeddings""".stripMargin,
    "x_ann_ivf_build" ->
      // k-means always returns exactly nCells centers (empty cells keep
      // their previous center), so the committed centroid count is pinned
      """SELECT 'ivf' AS kind, 16 AS param, count(*) AS n_rows,
        |  16 AS n_centroids FROM embeddings""".stripMargin,
    "x_ann_ivfpq_build" ->
      """SELECT 'ivfpq' AS kind, 16 AS param, count(*) AS n_rows,
        |  16 AS n_centroids FROM embeddings""".stripMargin,
    "x_dedup_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM toks)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    cast(len(list_intersect(a.grams, b.grams)) as double)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""".stripMargin,
    "x_bloom_dedup" ->
      // the EXACT contract the Bloom gate must reproduce regardless of
      // false-positive draws: batch (with the planted re-keyed copies)
      // minus corpus md5 membership — fp costs a confirmed lookup, never
      // a row
      """WITH batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, lang, text FROM documents WHERE doc_id < 25)
        |SELECT doc_id, lang FROM batch
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id < 250)
        |ORDER BY doc_id""".stripMargin,
    "x_dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM toks),
        |matched AS (
        |  SELECT DISTINCT i.doc_id
        |  FROM g i JOIN g c ON i.doc_id >= 250 AND c.doc_id < 250
        |  WHERE cast(len(list_intersect(i.grams, c.grams)) as double)
        |        / len(list_distinct(list_concat(i.grams, c.grams))) >= 0.7)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM matched)
        |ORDER BY doc_id""".stripMargin,
    "x_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.grams, b.grams)) as double)
        |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7),
        |e AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |r AS (
        |  SELECT doc_a AS doc_id, doc_a AS reach FROM e
        |  UNION
        |  SELECT r.doc_id, e.doc_b AS reach FROM r JOIN e ON r.reach = e.doc_a)
        |SELECT doc_id, min(reach) AS cluster_id
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_dedup_near" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.grams, b.grams)) as double)
        |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7),
        |e AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |r AS (
        |  SELECT doc_a AS doc_id, doc_a AS reach FROM e
        |  UNION
        |  SELECT r.doc_id, e.doc_b AS reach FROM r JOIN e ON r.reach = e.doc_a),
        |drop_set AS (
        |  SELECT doc_id FROM (SELECT doc_id, min(reach) AS cluster_id
        |                      FROM r GROUP BY doc_id)
        |  WHERE cluster_id <> doc_id)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drop_set)
        |ORDER BY doc_id""".stripMargin,
    "x_langid_eval" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, lang, text,
        |    len(list_filter(t, x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) AS n_en,
        |    len(list_filter(t, x -> list_contains(['le','la','les','et','des','est','dans','que','pour','une','qui','sur'], x))) AS n_fr,
        |    len(list_filter(t, x -> list_contains(['der','die','und','das','ist','von','den','mit','auf','ein','nicht'], x))) AS n_de,
        |    len(list_filter(t, x -> list_contains(['el','la','los','las','y','de','que','en','es','por','con','para'], x))) AS n_es
        |  FROM toks),
        |pred AS (
        |  SELECT doc_id, lang,
        |    CASE
        |      WHEN NOT regexp_matches(text, '[A-Za-z]') THEN 'und'
        |      WHEN greatest(n_en, n_fr, n_de, n_es) = 0 THEN 'la'
        |      WHEN n_en >= n_fr AND n_en >= n_de AND n_en >= n_es THEN 'en'
        |      WHEN n_fr >= n_de AND n_fr >= n_es THEN 'fr'
        |      WHEN n_de >= n_es THEN 'de'
        |      ELSE 'es' END AS lang_pred
        |  FROM hits)
        |SELECT lang, lang_pred, count(*) AS n
        |FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,
    "x_langid_pred" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, text,
        |    len(list_filter(t, x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) AS n_en,
        |    len(list_filter(t, x -> list_contains(['le','la','les','et','des','est','dans','que','pour','une','qui','sur'], x))) AS n_fr,
        |    len(list_filter(t, x -> list_contains(['der','die','und','das','ist','von','den','mit','auf','ein','nicht'], x))) AS n_de,
        |    len(list_filter(t, x -> list_contains(['el','la','los','las','y','de','que','en','es','por','con','para'], x))) AS n_es
        |  FROM toks)
        |SELECT doc_id,
        |  CASE
        |    WHEN NOT regexp_matches(text, '[A-Za-z]') THEN 'und'
        |    WHEN greatest(n_en, n_fr, n_de, n_es) = 0 THEN 'la'
        |    WHEN n_en >= n_fr AND n_en >= n_de AND n_en >= n_es THEN 'en'
        |    WHEN n_fr >= n_de AND n_fr >= n_es THEN 'fr'
        |    WHEN n_de >= n_es THEN 'de'
        |    ELSE 'es' END AS lang_pred
        |FROM hits ORDER BY doc_id""".stripMargin,
    "x_curate" ->
      // the composed curation pipeline: langid Latin-path CASE (= the
      // x_langid_pred oracle), the qualityFeatures composite score written
      // as the SAME IEEE expression tree (left-assoc adds, same literals),
      // the x_decontaminate 5-gram anti-join (benchmark = docs >= 250,
      // applied between the quality floor and the dedup passes, exactly
      // where CurateJob runs it), md5 exact-dedup keepers, then the
      // recursive-CTE near-dup closure at J >= 0.8 over the survivors —
      // each stage reuses an already-proven oracle fragment
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'), x -> x <> '') AS wtoks,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ltoks
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, text, wtoks, ltoks,
        |    len(list_filter(ltoks, x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) AS n_en,
        |    len(list_filter(ltoks, x -> list_contains(['le','la','les','et','des','est','dans','que','pour','une','qui','sur'], x))) AS n_fr,
        |    len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','von','den','mit','auf','ein','nicht'], x))) AS n_de,
        |    len(list_filter(ltoks, x -> list_contains(['el','la','los','las','y','de','que','en','es','por','con','para'], x))) AS n_es
        |  FROM toks),
        |scored AS (
        |  SELECT doc_id, text,
        |    cast(len(wtoks) as int) AS ws_tokens,
        |    CASE
        |      WHEN NOT regexp_matches(text, '[A-Za-z]') THEN 'und'
        |      WHEN greatest(n_en, n_fr, n_de, n_es) = 0 THEN 'la'
        |      WHEN n_en >= n_fr AND n_en >= n_de AND n_en >= n_es THEN 'en'
        |      WHEN n_fr >= n_de AND n_fr >= n_es THEN 'fr'
        |      WHEN n_de >= n_es THEN 'de'
        |      ELSE 'es' END AS lang_pred,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      greatest(0.0, least(1.0,
        |        0.3 * least(1.0, len(wtoks) / 50.0)
        |        + 0.25 * (CASE WHEN len(wtoks) > 0
        |            AND list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) >= 3
        |            AND list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) <= 10
        |          THEN 1.0 ELSE 0.4 END)
        |        + 0.25 * least(1.0, (CASE WHEN len(ltoks) = 0 THEN 0.0
        |            ELSE n_en / cast(len(ltoks) as double) END) * 4)
        |        + 0.2 * (1.0 - least(1.0,
        |            ((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r\x0B\f]', '', 'g'))) / cast(length(text) as double)) * 3
        |          + ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / cast(length(text) as double)) * 2))))
        |    END AS q
        |  FROM hits),
        |q1 AS (
        |  SELECT doc_id, text, ws_tokens, lang_pred FROM scored
        |  WHERE lang_pred = 'en' AND q >= 0.3),
        |dg AS (
        |  SELECT doc_id, CASE WHEN len(ltoks) < 5 THEN []::VARCHAR[]
        |    ELSE list_distinct(list_transform(generate_series(1, len(ltoks)-4),
        |           i -> ltoks[i]||' '||ltoks[i+1]||' '||ltoks[i+2]||' '||ltoks[i+3]||' '||ltoks[i+4])) END AS grams
        |  FROM toks),
        |bgrm AS (SELECT DISTINCT gram FROM (SELECT unnest(grams) AS gram FROM dg WHERE doc_id >= 250)),
        |contaminated AS (
        |  SELECT DISTINCT cg.doc_id
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM dg) cg
        |  JOIN bgrm USING (gram)),
        |dc AS (
        |  SELECT doc_id, text, ws_tokens, lang_pred FROM q1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |ex AS (
        |  SELECT doc_id, text, ws_tokens, lang_pred FROM dc
        |  WHERE doc_id IN (SELECT min(doc_id) FROM dc GROUP BY md5(text))),
        |gt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM ex),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM gt),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.grams, b.grams)) as double)
        |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8),
        |e AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |r AS (
        |  SELECT doc_a AS doc_id, doc_a AS reach FROM e
        |  UNION
        |  SELECT r.doc_id, e.doc_b AS reach FROM r JOIN e ON r.reach = e.doc_a),
        |drop_set AS (
        |  SELECT doc_id FROM (SELECT doc_id, min(reach) AS cluster_id
        |                      FROM r GROUP BY doc_id)
        |  WHERE cluster_id <> doc_id)
        |SELECT doc_id, lang_pred, ws_tokens FROM ex
        |WHERE doc_id NOT IN (SELECT doc_id FROM drop_set)
        |ORDER BY doc_id""".stripMargin,
    "x_curate_incremental" ->
      // the x_curate oracle scoped to the batch partition (doc_id >= 250),
      // fused with the x_dedup_incremental cross-corpus drop: a batch
      // keeper is dropped when it md5-matches or 3-gram-Jaccard >= 0.8
      // matches ANY raw corpus doc (< 250)
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'), x -> x <> '') AS wtoks,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ltoks
        |  FROM documents WHERE doc_id >= 250),
        |hits AS (
        |  SELECT doc_id, text, wtoks, ltoks,
        |    len(list_filter(ltoks, x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) AS n_en,
        |    len(list_filter(ltoks, x -> list_contains(['le','la','les','et','des','est','dans','que','pour','une','qui','sur'], x))) AS n_fr,
        |    len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','von','den','mit','auf','ein','nicht'], x))) AS n_de,
        |    len(list_filter(ltoks, x -> list_contains(['el','la','los','las','y','de','que','en','es','por','con','para'], x))) AS n_es
        |  FROM toks),
        |scored AS (
        |  SELECT doc_id, text,
        |    cast(len(wtoks) as int) AS ws_tokens,
        |    CASE
        |      WHEN NOT regexp_matches(text, '[A-Za-z]') THEN 'und'
        |      WHEN greatest(n_en, n_fr, n_de, n_es) = 0 THEN 'la'
        |      WHEN n_en >= n_fr AND n_en >= n_de AND n_en >= n_es THEN 'en'
        |      WHEN n_fr >= n_de AND n_fr >= n_es THEN 'fr'
        |      WHEN n_de >= n_es THEN 'de'
        |      ELSE 'es' END AS lang_pred,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      greatest(0.0, least(1.0,
        |        0.3 * least(1.0, len(wtoks) / 50.0)
        |        + 0.25 * (CASE WHEN len(wtoks) > 0
        |            AND list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) >= 3
        |            AND list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) <= 10
        |          THEN 1.0 ELSE 0.4 END)
        |        + 0.25 * least(1.0, (CASE WHEN len(ltoks) = 0 THEN 0.0
        |            ELSE n_en / cast(len(ltoks) as double) END) * 4)
        |        + 0.2 * (1.0 - least(1.0,
        |            ((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r\x0B\f]', '', 'g'))) / cast(length(text) as double)) * 3
        |          + ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / cast(length(text) as double)) * 2))))
        |    END AS q
        |  FROM hits),
        |q1 AS (
        |  SELECT doc_id, text, ws_tokens, lang_pred FROM scored
        |  WHERE lang_pred = 'en' AND q >= 0.3),
        |ex AS (
        |  SELECT doc_id, text, ws_tokens, lang_pred FROM q1
        |  WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY md5(text))),
        |gt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM ex),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM gt),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.grams, b.grams)) as double)
        |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8),
        |e AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |r AS (
        |  SELECT doc_a AS doc_id, doc_a AS reach FROM e
        |  UNION
        |  SELECT r.doc_id, e.doc_b AS reach FROM r JOIN e ON r.reach = e.doc_a),
        |drop_set AS (
        |  SELECT doc_id FROM (SELECT doc_id, min(reach) AS cluster_id
        |                      FROM r GROUP BY doc_id)
        |  WHERE cluster_id <> doc_id),
        |keep AS (
        |  SELECT doc_id, text, lang_pred, ws_tokens FROM ex
        |  WHERE doc_id NOT IN (SELECT doc_id FROM drop_set)),
        |ctoks AS (
        |  SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 250),
        |cg AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM ctoks),
        |cdrop AS (
        |  SELECT DISTINCT k.doc_id
        |  FROM g k JOIN cg c ON k.doc_id IN (SELECT doc_id FROM keep)
        |  WHERE cast(len(list_intersect(k.grams, c.grams)) as double)
        |        / len(list_distinct(list_concat(k.grams, c.grams))) >= 0.8
        |  UNION
        |  SELECT k.doc_id FROM keep k JOIN ctoks c ON md5(k.text) = md5(c.text))
        |SELECT doc_id, lang_pred, ws_tokens FROM keep
        |WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)
        |ORDER BY doc_id""".stripMargin,
    "x_text_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '[ \t\n\r\x0B\f]+'), x -> x <> '') AS wtoks,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ltoks
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, text, wtoks, ltoks,
        |    len(list_filter(ltoks, x -> list_contains(['the','and','of','to','in','is','that','for','with','was','are','this'], x))) AS n_en,
        |    len(list_filter(ltoks, x -> list_contains(['le','la','les','et','des','est','dans','que','pour','une','qui','sur'], x))) AS n_fr,
        |    len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','von','den','mit','auf','ein','nicht'], x))) AS n_de,
        |    len(list_filter(ltoks, x -> list_contains(['el','la','los','las','y','de','que','en','es','por','con','para'], x))) AS n_es,
        |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r\x0B\f]', '', 'g')) AS n_punct,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
        |    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
        |    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_letter
        |  FROM toks)
        |SELECT doc_id,
        |  CASE
        |    WHEN NOT regexp_matches(text, '[A-Za-z]') THEN 'und'
        |    WHEN greatest(n_en, n_fr, n_de, n_es) = 0 THEN 'la'
        |    WHEN n_en >= n_fr AND n_en >= n_de AND n_en >= n_es THEN 'en'
        |    WHEN n_fr >= n_de AND n_fr >= n_es THEN 'fr'
        |    WHEN n_de >= n_es THEN 'de'
        |    ELSE 'es' END AS lang_pred,
        |  cast(len(wtoks) as int) AS n_tokens,
        |  round(CASE WHEN len(wtoks) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) END, 6) AS mean_word_len_r6,
        |  round(CASE WHEN len(ltoks) = 0 THEN 0.0
        |    ELSE n_en / cast(len(ltoks) as double) END, 6) AS stopword_ratio_r6,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE n_punct / cast(length(text) as double) END, 6) AS punct_ratio_r6,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE n_digit / cast(length(text) as double) END, 6) AS digit_ratio_r6,
        |  round(CASE WHEN n_letter = 0 THEN 0.0
        |    ELSE n_upper / cast(n_letter as double) END, 6) AS upper_ratio_r6,
        |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    greatest(0.0, least(1.0,
        |      0.3 * least(1.0, len(wtoks) / 50.0)
        |      + 0.25 * (CASE WHEN len(wtoks) > 0
        |          AND list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) >= 3
        |          AND list_sum(list_transform(wtoks, x -> length(x))) / cast(len(wtoks) as double) <= 10
        |        THEN 1.0 ELSE 0.4 END)
        |      + 0.25 * least(1.0, (CASE WHEN len(ltoks) = 0 THEN 0.0
        |          ELSE n_en / cast(len(ltoks) as double) END) * 4)
        |      + 0.2 * (1.0 - least(1.0,
        |          (n_punct / cast(length(text) as double)) * 3
        |        + (n_digit / cast(length(text) as double)) * 2))))
        |  END, 6) AS quality_score_r6,
        |  cast(len(wtoks) as int) AS ws_tokens
        |FROM hits ORDER BY doc_id""".stripMargin,
    "x_bm25_postings" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 50),
        |pos AS (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks)
        |SELECT term, doc_id, dl, count(*)::BIGINT AS tf
        |FROM pos GROUP BY term, doc_id, dl
        |ORDER BY term, doc_id""".stripMargin,
    "x_bm25_topk" ->
      // full recompute: \W+ tokenization -> postings -> df -> Lucene idf
      // ln(((N - df) + 0.5)/(df + 0.5) + 1) -> length-normalized tf with
      // k1=1.5, b=0.75 (all literals exact binary; ::DOUBLE casts keep
      // DuckDB out of DECIMAL arithmetic so constant folding is IEEE) ->
      // term-ordered left fold -> rank on the round-6 score with doc_id
      // ties. ln()'s last ulp is absorbed by round-6 (x_lm_score
      // convention).
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks),
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
        |ranked AS (
        |  SELECT query_id, doc_id, round(score, 6) AS score_r6,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(score, 6) DESC, doc_id)::BIGINT AS rank
        |  FROM scored)
        |SELECT query_id, rank, doc_id, score_r6 FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x_hybrid_rrf" ->
      // both arms fully recomputed (the x_bm25_topk chain verbatim for the
      // sparse arm; list_cosine_similarity over DOUBLE[] for the dense arm,
      // the x_ann_brute convention) and then the fusion itself: per-arm
      // round-6 rankings with doc_id ties, 1/(60+rank) terms coalesce-
      // summed sparse-first (fixed operand order keeps fp64 engine-
      // identical), round-6 fused score, final rank with doc_id ties.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks),
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
        |sranked AS (
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
        |FROM franked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x_retrieval_eval" ->
      // the x_bm25_topk chain verbatim, then the eval replay: distinct
      // qrels, per-query hit count + first relevant rank, guarded rr,
      // integer-exact recall
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks),
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
        |ranked AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(score, 6) DESC, doc_id)::BIGINT AS rank
        |  FROM scored),
        |res AS (SELECT query_id, rank, doc_id FROM ranked WHERE rank <= 10),
        |qr AS (SELECT query_id, query_id AS doc_id FROM q
        |       UNION SELECT query_id, (query_id + 13) % 500 FROM q),
        |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM qr
        |         GROUP BY query_id),
        |hit AS (SELECT r.query_id, count(*)::BIGINT AS hits,
        |          min(r.rank)::BIGINT AS first_rank
        |        FROM res r JOIN qr
        |          ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
        |        GROUP BY r.query_id)
        |SELECT n.query_id, n.n_rel, coalesce(h.hits, 0)::BIGINT AS hits,
        |  h.first_rank,
        |  CASE WHEN h.first_rank IS NULL THEN 0.0::DOUBLE
        |       ELSE round(1.0::DOUBLE / h.first_rank, 6) END AS rr_r6,
        |  round(coalesce(h.hits, 0) / n.n_rel, 6) AS recall_r6
        |FROM nrel n LEFT JOIN hit h USING (query_id)
        |ORDER BY query_id""".stripMargin,
    "x_retrieval_summary" ->
      // same chain; the means fold the per-query rows in query_id order
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks),
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
        |ranked AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(score, 6) DESC, doc_id)::BIGINT AS rank
        |  FROM scored),
        |res AS (SELECT query_id, rank, doc_id FROM ranked WHERE rank <= 10),
        |qr AS (SELECT query_id, query_id AS doc_id FROM q
        |       UNION SELECT query_id, (query_id + 13) % 500 FROM q),
        |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM qr
        |         GROUP BY query_id),
        |hit AS (SELECT r.query_id, count(*)::BIGINT AS hits,
        |          min(r.rank)::BIGINT AS first_rank
        |        FROM res r JOIN qr
        |          ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
        |        GROUP BY r.query_id),
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
        |FROM perq""".stripMargin,
    "x_retrieval_ndcg" ->
      // the x_bm25_topk chain, then both nDCG folds replayed: dcg in rank
      // order, ideal dcg via grade-desc list + a struct-accumulator fold
      // carrying the 1-based ideal position
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks),
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
        |ranked AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(score, 6) DESC, doc_id)::BIGINT AS rank
        |  FROM scored),
        |res AS (SELECT query_id, rank, doc_id FROM ranked WHERE rank <= 10),
        |qrg AS (SELECT query_id, query_id AS doc_id, 2.0::DOUBLE AS grade
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
        |ORDER BY i.query_id""".stripMargin,
    "x_bitext_margin" ->
      // both k-NN directions recomputed (round-6 cosine, doc_id ties),
      // normalizers as rank-ordered left folds over the ROUNDED cosines
      // (exact sums), mutual-best join, margin as one fixed expression,
      // filtered on the rounded margin exactly like the engine
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
        |WHERE margin_r6 >= 1.05 ORDER BY src_id""".stripMargin,
    "x_chunk_windows" ->
      // same placement arithmetic: nchunks via exact integer ceil, stride
      // 30, right-aligned last window, 1-based inclusive list slicing
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |d AS (SELECT doc_id, t, len(t)::BIGINT AS n FROM toks WHERE len(t) > 0),
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
        |FROM f ORDER BY doc_id, chunk_id""".stripMargin,
    "x_hll_registers" ->
      // the global sketch computed directly (the engine emits the merge of
      // two batch sketches): md5_number_lower hash, register = top 12
      // bits, rho = leading zeros of the low-52-bit window + 1 (exact
      // integer bit probing — no float log anywhere)
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, unnest(t) AS term FROM toks),
        |hs AS (SELECT md5_number_lower('hll:' || term || ':' || doc_id) AS h
        |       FROM pos),
        |rw AS (SELECT h >> 52 AS reg, h & ((1::UBIGINT << 52) - 1) AS w FROM hs),
        |rr AS (SELECT reg,
        |  CASE WHEN w = 0 THEN 53
        |       ELSE 52 - list_max(list_transform(generate_series(0, 51),
        |         b -> CASE WHEN (w & (1::UBIGINT << b)) <> 0 THEN b
        |              ELSE -1 END))
        |  END AS rho FROM rw)
        |SELECT reg::BIGINT AS reg, max(rho)::BIGINT AS rho
        |FROM rr GROUP BY reg ORDER BY reg""".stripMargin,
    "x_hll_estimate" ->
      // same registers, then the estimator: harmonic sum as a
      // register-ordered left fold of exact binary powers seeded with the
      // zero-register mass, the raw/linear-counting CASE, round-6
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, unnest(t) AS term FROM toks),
        |keys AS (SELECT term || ':' || doc_id AS key FROM pos),
        |hs AS (SELECT md5_number_lower('hll:' || key) AS h FROM keys),
        |rw AS (SELECT h >> 52 AS reg, h & ((1::UBIGINT << 52) - 1) AS w FROM hs),
        |rr AS (SELECT reg,
        |  CASE WHEN w = 0 THEN 53
        |       ELSE 52 - list_max(list_transform(generate_series(0, 51),
        |         b -> CASE WHEN (w & (1::UBIGINT << b)) <> 0 THEN b
        |              ELSE -1 END))
        |  END AS rho FROM rw),
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
        |FROM est e CROSS JOIN ex""".stripMargin,
    "x_cms_counters" ->
      // the global Count-Min counters computed directly (the engine emits
      // the merge of two batch sketches): ONE md5 per occurrence, row r's
      // column from the Kirsch-Mitzenmacher pair (lower + r*upper) mod
      // 1024 — exact in HUGEINT because 4*2^64 < 2^127 and 1024 | 2^64
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, unnest(t) AS term FROM toks),
        |rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |cells AS (
        |  SELECT r, (md5_number_lower('cms:' || term)::HUGEINT
        |             + r * md5_number_upper('cms:' || term)::HUGEINT) % 1024 AS c
        |  FROM pos CROSS JOIN rws)
        |SELECT r::BIGINT AS r, c::BIGINT AS c, count(*)::BIGINT AS cnt
        |FROM cells GROUP BY r, c ORDER BY r, c""".stripMargin,
    "x_cms_heavy" ->
      // min-over-rows point estimates for every distinct term vs the true
      // counts (estimate >= true is asserted engine-side)
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, unnest(t) AS term FROM toks),
        |rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |counters AS (
        |  SELECT r, (md5_number_lower('cms:' || term)::HUGEINT
        |             + r * md5_number_upper('cms:' || term)::HUGEINT) % 1024 AS c,
        |    count(*)::BIGINT AS cnt
        |  FROM pos CROSS JOIN rws GROUP BY r, c),
        |probes AS (SELECT DISTINCT term FROM pos),
        |pcells AS (
        |  SELECT term, r, (md5_number_lower('cms:' || term)::HUGEINT
        |             + r * md5_number_upper('cms:' || term)::HUGEINT) % 1024 AS c
        |  FROM probes CROSS JOIN rws),
        |est AS (
        |  SELECT p.term AS key, min(coalesce(k.cnt, 0))::BIGINT AS estimate
        |  FROM pcells p LEFT JOIN counters k ON k.r = p.r AND k.c = p.c
        |  GROUP BY p.term),
        |truth AS (SELECT term, count(*)::BIGINT AS true_cnt FROM pos
        |          GROUP BY term)
        |SELECT e.key, e.estimate, t.true_cnt
        |FROM est e JOIN truth t ON t.term = e.key ORDER BY e.key""".stripMargin,
    "x_hll_overlap" ->
      // all three estimator chains (A, B, union) replayed over the flagged
      // distinct keys (duplicates never move HLL registers, so hashing the
      // distinct set equals hashing the stream), plus inclusion-exclusion,
      // the guarded Jaccard, and the exact flag counts
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, unnest(t) AS term FROM toks),
        |keys AS (SELECT term || ':' || doc_id AS key, doc_id FROM pos),
        |fl AS (SELECT key, max(doc_id < 300) AS ina, max(doc_id >= 200) AS inb
        |       FROM keys GROUP BY key),
        |ra AS (SELECT md5_number_lower('hll:' || key) >> 52 AS reg,
        |         md5_number_lower('hll:' || key) & ((1::UBIGINT << 52) - 1) AS w
        |       FROM fl WHERE ina),
        |rb AS (SELECT md5_number_lower('hll:' || key) >> 52 AS reg,
        |         md5_number_lower('hll:' || key) & ((1::UBIGINT << 52) - 1) AS w
        |       FROM fl WHERE inb),
        |ru AS (SELECT md5_number_lower('hll:' || key) >> 52 AS reg,
        |         md5_number_lower('hll:' || key) & ((1::UBIGINT << 52) - 1) AS w
        |       FROM fl WHERE ina OR inb),
        |ga AS (SELECT reg, max(CASE WHEN w = 0 THEN 53
        |    ELSE 52 - list_max(list_transform(generate_series(0, 51),
        |      b -> CASE WHEN (w & (1::UBIGINT << b)) <> 0 THEN b ELSE -1 END))
        |    END) AS rho FROM ra GROUP BY reg),
        |gb AS (SELECT reg, max(CASE WHEN w = 0 THEN 53
        |    ELSE 52 - list_max(list_transform(generate_series(0, 51),
        |      b -> CASE WHEN (w & (1::UBIGINT << b)) <> 0 THEN b ELSE -1 END))
        |    END) AS rho FROM rb GROUP BY reg),
        |gu AS (SELECT reg, max(CASE WHEN w = 0 THEN 53
        |    ELSE 52 - list_max(list_transform(generate_series(0, 51),
        |      b -> CASE WHEN (w & (1::UBIGINT << b)) <> 0 THEN b ELSE -1 END))
        |    END) AS rho FROM ru GROUP BY reg),
        |ea AS (SELECT (4096 - count(*))::BIGINT AS z,
        |    list_reduce(list_prepend((4096 - count(*))::DOUBLE,
        |      list(power(0.5, rho) ORDER BY reg)), (a, x) -> a + x) AS s
        |  FROM ga),
        |eb AS (SELECT (4096 - count(*))::BIGINT AS z,
        |    list_reduce(list_prepend((4096 - count(*))::DOUBLE,
        |      list(power(0.5, rho) ORDER BY reg)), (a, x) -> a + x) AS s
        |  FROM gb),
        |eu AS (SELECT (4096 - count(*))::BIGINT AS z,
        |    list_reduce(list_prepend((4096 - count(*))::DOUBLE,
        |      list(power(0.5, rho) ORDER BY reg)), (a, x) -> a + x) AS s
        |  FROM gu),
        |va AS (SELECT CASE WHEN ((0.7213 / (1.0 + 1.079 / 4096.0))
        |      * 16777216.0 / s) <= 10240.0 AND z > 0
        |    THEN 4096.0 * ln(4096.0 / z)
        |    ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 / s
        |  END AS e FROM ea),
        |vb AS (SELECT CASE WHEN ((0.7213 / (1.0 + 1.079 / 4096.0))
        |      * 16777216.0 / s) <= 10240.0 AND z > 0
        |    THEN 4096.0 * ln(4096.0 / z)
        |    ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 / s
        |  END AS e FROM eb),
        |vu AS (SELECT CASE WHEN ((0.7213 / (1.0 + 1.079 / 4096.0))
        |      * 16777216.0 / s) <= 10240.0 AND z > 0
        |    THEN 4096.0 * ln(4096.0 / z)
        |    ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 / s
        |  END AS e FROM eu),
        |ex AS (SELECT count(*)::BIGINT AS exact_union,
        |    sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END)::BIGINT AS exact_inter
        |  FROM fl WHERE ina OR inb)
        |SELECT round(va.e, 6) AS est_a_r6, round(vb.e, 6) AS est_b_r6,
        |  round(vu.e, 6) AS est_union_r6,
        |  round(greatest(0.0::DOUBLE, va.e + vb.e - vu.e), 6) AS est_inter_r6,
        |  CASE WHEN vu.e <= 0.0 THEN NULL
        |       ELSE round(greatest(0.0::DOUBLE, va.e + vb.e - vu.e) / vu.e, 6)
        |  END AS jaccard_r6,
        |  ex.exact_union, ex.exact_inter
        |FROM va CROSS JOIN vb CROSS JOIN vu CROSS JOIN ex""".stripMargin,
    "x_dd_sketch" ->
      // the global sketch computed directly (the engine emits the merge of
      // two batch sketches): octave = bit length − 1 via printf('%b'),
      // sub-bucket = ((|v| − 2^e)·32) // 2^e, encoding v=0 → −1 and
      // v<0 → −2−bkt(−v) — exact integer arithmetic end to end
      """WITH v AS (
        |  SELECT len(list_filter(string_split_regex(lower(text), '\W+'),
        |           x -> x <> ''))::BIGINT - 50 AS v
        |  FROM documents),
        |a AS (SELECT v, abs(v) AS av FROM v),
        |b AS (SELECT v,
        |  CASE WHEN v = 0 THEN -1
        |    WHEN v > 0 THEN (length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))
        |    ELSE -2 - ((length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))) END AS bkt
        |  FROM a)
        |SELECT bkt, count(*)::BIGINT AS cnt FROM b
        |GROUP BY bkt ORDER BY bkt""".stripMargin,
    "x_dd_quantiles" ->
      // extraction replayed: cumulative counts in encoded-bucket order,
      // rank = floor(q·(n−1)) + 1, first bucket reaching the rank, exact-
      // binary midpoint 2^e·(1 + (2j+1)/64) (mirrored for bkt ≤ −2)
      """WITH v AS (
        |  SELECT len(list_filter(string_split_regex(lower(text), '\W+'),
        |           x -> x <> ''))::BIGINT - 50 AS v
        |  FROM documents),
        |a AS (SELECT v, abs(v) AS av FROM v),
        |b AS (SELECT v,
        |  CASE WHEN v = 0 THEN -1
        |    WHEN v > 0 THEN (length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))
        |    ELSE -2 - ((length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))) END AS bkt
        |  FROM a),
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
        |  CASE WHEN bkt = -1 THEN 0.0::DOUBLE
        |    WHEN bkt >= 0 THEN power(2.0::DOUBLE, bkt // 32)
        |      + (2 * (bkt % 32) + 1) * power(2.0::DOUBLE, bkt // 32 - 6)
        |    ELSE -(power(2.0::DOUBLE, (-2 - bkt) // 32)
        |      + (2 * ((-2 - bkt) % 32) + 1)
        |        * power(2.0::DOUBLE, (-2 - bkt) // 32 - 6)) END AS est
        |FROM chosen ORDER BY q""".stripMargin,
    "x_dd_drift" ->
      // the quantile chain twice (doc_id halves), joined on q, the
      // deltas of the exact-binary midpoints
      """WITH v AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\W+'),
        |      x -> x <> ''))::BIGINT - 50 AS v
        |  FROM documents),
        |a0 AS (SELECT v, abs(v) AS av FROM v WHERE doc_id < 250),
        |b0 AS (SELECT v, abs(v) AS av FROM v WHERE doc_id >= 250),
        |ab AS (SELECT CASE WHEN v = 0 THEN -1
        |    WHEN v > 0 THEN (length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))
        |    ELSE -2 - ((length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))) END AS bkt
        |  FROM a0),
        |bb AS (SELECT CASE WHEN v = 0 THEN -1
        |    WHEN v > 0 THEN (length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))
        |    ELSE -2 - ((length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))) END AS bkt
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
        |  CASE WHEN bkt = -1 THEN 0.0::DOUBLE
        |    WHEN bkt >= 0 THEN power(2.0::DOUBLE, bkt // 32)
        |      + (2 * (bkt % 32) + 1) * power(2.0::DOUBLE, bkt // 32 - 6)
        |    ELSE -(power(2.0::DOUBLE, (-2 - bkt) // 32)
        |      + (2 * ((-2 - bkt) % 32) + 1)
        |        * power(2.0::DOUBLE, (-2 - bkt) // 32 - 6)) END AS est_a
        |  FROM cha),
        |eb AS (SELECT q, rank_b,
        |  CASE WHEN bkt = -1 THEN 0.0::DOUBLE
        |    WHEN bkt >= 0 THEN power(2.0::DOUBLE, bkt // 32)
        |      + (2 * (bkt % 32) + 1) * power(2.0::DOUBLE, bkt // 32 - 6)
        |    ELSE -(power(2.0::DOUBLE, (-2 - bkt) // 32)
        |      + (2 * ((-2 - bkt) % 32) + 1)
        |        * power(2.0::DOUBLE, (-2 - bkt) // 32 - 6)) END AS est_b
        |  FROM chb)
        |SELECT coalesce(ea.q, eb.q) AS q, ea.rank_a, ea.est_a,
        |  eb.rank_b, eb.est_b,
        |  round(eb.est_b - ea.est_a, 6) AS delta_r6
        |FROM ea FULL JOIN eb ON eb.q = ea.q
        |ORDER BY coalesce(ea.q, eb.q)""".stripMargin,
    "x_dd_by_source" ->
      // the per-key chain replayed: per-source sketch, per-source
      // cumulative counts, nearest-rank, exact-binary midpoints
      """WITH v AS (
        |  SELECT source,
        |    len(list_filter(string_split_regex(lower(text), '\W+'),
        |      x -> x <> ''))::BIGINT AS v
        |  FROM documents),
        |a AS (SELECT source, v, abs(v) AS av FROM v),
        |b AS (SELECT source,
        |  CASE WHEN v = 0 THEN -1
        |    WHEN v > 0 THEN (length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))
        |    ELSE -2 - ((length(printf('%b', av)) - 1)::BIGINT * 32
        |      + ((av - (1::BIGINT << (length(printf('%b', av)) - 1))) * 32)
        |        // (1::BIGINT << (length(printf('%b', av)) - 1))) END AS bkt
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
        |  CASE WHEN bkt = -1 THEN 0.0::DOUBLE
        |    WHEN bkt >= 0 THEN power(2.0::DOUBLE, bkt // 32)
        |      + (2 * (bkt % 32) + 1) * power(2.0::DOUBLE, bkt // 32 - 6)
        |    ELSE -(power(2.0::DOUBLE, (-2 - bkt) // 32)
        |      + (2 * ((-2 - bkt) % 32) + 1)
        |        * power(2.0::DOUBLE, (-2 - bkt) // 32 - 6)) END AS est
        |FROM chosen ORDER BY source, q""".stripMargin,
    "x_token_budget" ->
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
        |ORDER BY doc_id""".stripMargin,
    "x_token_budget_bucketed" ->
      // contract-identical to x_token_budget (the two-pass bucketed plan
      // computes the SAME before-sum), so the same membership oracle holds
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
        |ORDER BY doc_id""".stripMargin,
    "x_temperature_mix" ->
      // full recompute: stratum counts -> isqrt weights -> truncating
      // budget division -> hash-ordered prefix membership. sum(bigint) is
      // HUGEINT in DuckDB; the // division then casts back down.
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
        |ORDER BY doc_id""".stripMargin,
    "x_seq_pack" ->
      // concat-and-chunk placement: global hash-ordered before-sums, then
      // one row per (doc, sequence) overlap with pure integer slicing.
      // WHERE len > 0 runs before the window (both engines), matching the
      // zero-token-doc drop.
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
        |FROM e ORDER BY doc_id, seq_id""".stripMargin,
    "x_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN b < 800000 THEN 'train'
        |       WHEN b < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        md5_number_lower('graft:' || cast(doc_id as varchar)) % 1000000 AS b
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "x_json_props" ->
      """SELECT k % 10 AS k_mod, count(*) AS n, cast(sum(k) as bigint) AS sum_k
        |FROM (SELECT cast(json_extract_string(props, '$.k') as int) AS k
        |      FROM events)
        |WHERE k % 10 < 5
        |GROUP BY 1 ORDER BY k_mod""".stripMargin,
    "x_split_leakfree" ->
      // the x_dedup_clusters closure gives the representative; the
      // x_split_assign bucket CASE then runs on the representative
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN t
        |    ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS grams
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.grams, b.grams)) as double)
        |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7),
        |e AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |r AS (
        |  SELECT doc_a AS doc_id, doc_a AS reach FROM e
        |  UNION
        |  SELECT r.doc_id, e.doc_b AS reach FROM r JOIN e ON r.reach = e.doc_a),
        |cl AS (SELECT doc_id, min(reach) AS cluster_id FROM r GROUP BY doc_id),
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
        |ORDER BY doc_id""".stripMargin,
    "x_cosine_pairs" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
        |        cast(b.embedding AS DOUBLE[])), 6) AS cosine_r6
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY vec_a""".stripMargin,
    "x_embed_neardup_exhaustive" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
        |        cast(b.embedding AS DOUBLE[])), 6) AS cosine_r6
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
        |        cast(b.embedding AS DOUBLE[])), 6) >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin,
    "x_ann_lsh_exhaustive" ->
      // exhaustive probe == brute force (bucketing completeness)
      """WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
        |c AS (SELECT vec_id,
        |        list_cosine_similarity(cast(embedding AS DOUBLE[]), cast(qv AS DOUBLE[])) AS cos
        |      FROM embeddings, q)
        |SELECT vec_id,
        |  cast(row_number() OVER (ORDER BY cos DESC, vec_id) as int) AS rank,
        |  round(cos, 6) AS cosine_r6
        |FROM c ORDER BY cos DESC, vec_id LIMIT 50""".stripMargin,
    "x_ann_ivf_exhaustive" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
        |c AS (SELECT vec_id,
        |        list_cosine_similarity(cast(embedding AS DOUBLE[]), cast(qv AS DOUBLE[])) AS cos
        |      FROM embeddings, q)
        |SELECT vec_id,
        |  cast(row_number() OVER (ORDER BY cos DESC, vec_id) as int) AS rank,
        |  round(cos, 6) AS cosine_r6
        |FROM c ORDER BY cos DESC, vec_id LIMIT 50""".stripMargin,
    "x_ann_brute" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
        |c AS (SELECT vec_id,
        |        list_cosine_similarity(cast(embedding AS DOUBLE[]), cast(qv AS DOUBLE[])) AS cos
        |      FROM embeddings, q)
        |SELECT vec_id,
        |  cast(row_number() OVER (ORDER BY cos DESC, vec_id) as int) AS rank,
        |  round(cos, 6) AS cosine_r6
        |FROM c ORDER BY cos DESC, vec_id LIMIT 50""".stripMargin,
    // ---------------------- relational family oracles ----------------------
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_price,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q3_cust_orders" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q4_top_event_per_user" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q5_events_by_type" ->
      """SELECT event_type, count(*) AS n_events,
        |  cast(sum(cast(floor(value * 1000) as bigint)) as bigint) AS value_milli_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q6_dedup_exact" ->
      """SELECT md5(text) AS content_md5, count(*) AS n_dupes,
        |  min(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY md5(text) ORDER BY content_md5""".stripMargin,
    "q7_doc_stats" ->
      """SELECT doc_id, lang, length(text) AS n_chars_actual,
        |  length(text) - length(replace(text, ' ', '')) + 1 AS ws_tokens_approx
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q8_docs_by_lang" ->
      """SELECT lang, count(*) AS n_docs, cast(sum(cast(n_chars as bigint)) as bigint) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q9_emb_labels" ->
      """SELECT label, lang, count(*) AS n
        |FROM embeddings JOIN documents ON vec_id = doc_id
        |GROUP BY label, lang ORDER BY label, lang""".stripMargin,
    "q10_supplier_nation" ->
      """SELECT n_name, count(*) AS n_suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q11_part_brands" ->
      """SELECT p_brand, count(*) AS n_parts,
        |  cast(sum(cast(p_size as bigint)) as bigint) AS total_size
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q12_monthly_orders" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY order_month""".stripMargin,
    "q13_sessionize" ->
      """SELECT user_id,
        |  cast(sum(is_start) as bigint) AS n_sessions, count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_s IS NULL OR cast(epoch(ts) as bigint) - prev_s > 1800
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM (
        |    SELECT user_id, ts,
        |      lag(cast(epoch(ts) as bigint)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        |    FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q20_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q21_set_ops" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "x_asof_join" ->
      // deterministic as-of contract: argmax by (ts, event_id) among prior
      // odd events of the same user; -1 when no prior row exists
      """SELECT l.event_id,
        |  coalesce((SELECT r.event_id FROM events r
        |            WHERE r.user_id = l.user_id AND r.event_id % 2 = 1
        |              AND r.ts <= l.ts
        |            ORDER BY r.ts DESC, r.event_id DESC LIMIT 1), -1)
        |    AS matched_event_id
        |FROM events l WHERE l.event_id % 2 = 0
        |ORDER BY l.event_id""".stripMargin,
    "q17_rollup" ->
      """WITH d AS (
        |  SELECT lang,
        |    CASE WHEN n_chars >= 1000 THEN 'long' ELSE 'short' END AS size_class,
        |    n_chars
        |  FROM documents)
        |SELECT coalesce(lang, 'ALL') AS lang_g,
        |  coalesce(size_class, 'ALL') AS size_g,
        |  count(*) AS n_docs,
        |  cast(sum(cast(n_chars as bigint)) as bigint) AS total_chars
        |FROM d GROUP BY ROLLUP(lang, size_class)
        |ORDER BY lang_g, size_g""".stripMargin,
    "q18_doc_percentiles" ->
      """SELECT lang,
        |  quantile_cont(n_chars, 0.5) AS p50_chars,
        |  quantile_cont(n_chars, 0.9) AS p90_chars,
        |  cast(min(n_chars) as bigint) AS min_chars,
        |  cast(max(n_chars) as bigint) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q14_top_customers" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,
    "q15_customer_activity" ->
      """SELECT
        |  (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS with_orders,
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS without_orders""".stripMargin,
    "q19_sliding_hour" ->
      """SELECT event_id,
        |  cast(count(*) OVER w as bigint) AS n_last_hour,
        |  cast(sum(cast(floor(value * 1000) as bigint)) OVER w as bigint) AS vm_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY cast(epoch(ts) as bigint)
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q16_event_deltas" ->
      """SELECT event_type, count(*) AS n, cast(sum(delta) as bigint) AS delta_sum
        |FROM (
        |  SELECT event_type,
        |    vm - lag(vm) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        |  FROM (SELECT user_id, event_type, event_id, ts,
        |        cast(floor(value * 1000) as bigint) AS vm FROM events))
        |WHERE delta IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
}
