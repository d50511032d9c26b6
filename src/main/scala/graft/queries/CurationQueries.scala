package graft.queries

import java.time.LocalDateTime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.table.{Bucketed, TranscriptTable}
import graft.util.Par
import graft.queries.DedupQueries.{closure, dropSet, grams3}
import graft.queries.Query.{by, t, tmpDir}
import graft.queries.QualityQueries.{langPred, ltokHits, qualityScore, wlToks}

/** The curation flagships (one composed DuckDB oracle each) and the
  * transcript table's row-level operations — bucketed co-located join,
  * manifest-pruned range read, copy-on-write DELETE / MERGE / UPDATE —
  * each replayed as plain semantics on the raw events table. */
object CurationQueries {

  /** The 3-day range the table rows prune, delete and update. LocalDateTime
    * bounds: the parquet ts is TIMESTAMP_NTZ (naive micros), so the literal
    * must be NTZ too — an Instant/LTZ bound would shift on non-UTC sessions
    * and mismatch the column type. */
  private val rangeLo = LocalDateTime.parse("2024-01-10T00:00:00")
  private val rangeHi = LocalDateTime.parse("2024-01-13T00:00:00")

  /** A fresh transcript table at `tbl` holding `batch(b)` as batch
    * `b00<b>` for b in 0..3, each range-clustered on `key` into 2 files
    * with per-file `key` bounds in the manifest; the four writes run
    * concurrently (independent jobs whose tails back-fill each other's
    * idle executors). */
  private def writeBatches(tbl: String, key: String)(batch: Int => DataFrame): Unit = {
    graft.util.Fs.rmrf(tbl)
    Par.run((0 until 4).map(b => () =>
      TranscriptTable.writeBatch(
        batch(b).repartitionByRange(2, col(key)).sortWithinPartitions(key),
        tbl, f"b$b%03d", statsCols = Seq(key))): _*)
  }

  /** Week b of January 2024 (the last one runs to Feb 1): the
    * time-sliced batch layout. */
  private def week(ev: DataFrame, b: Int): DataFrame = {
    val lo = LocalDateTime.parse(f"2024-01-${1 + 8 * b}%02dT00:00:00")
    val hi = LocalDateTime.parse(
      if (b == 3) "2024-02-01T00:00:00" else f"2024-01-${1 + 8 * (b + 1)}%02dT00:00:00")
    ev.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
  }

  /** The table rows' output: ts as epoch micros (engine-neutral hashing). */
  private def eventRows(df: DataFrame): DataFrame =
    df.select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      col("event_type"), col("value"))

  /** The curation pipeline through the quality floor `q1` (doc_id, text,
    * ws_tokens, lang_pred) over the documents `filter` keeps: the
    * langid Latin-path CASE (= the x_langid_pred oracle), the
    * qualityFeatures composite score (= the x_text_stats expression
    * tree), English with q >= 0.3. */
  private def curateQ1(filter: String): String =
    "WITH RECURSIVE " + wlToks(filter) + ltokHits +
      """
        |  FROM toks),
        |scored AS (
        |  SELECT doc_id, text,
        |    cast(len(wtoks) as int) AS ws_tokens,
        |""".stripMargin + langPred("    ") +
      """,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |""".stripMargin + qualityScore("      ") +
      """
        |            ((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r\x0B\f]', '', 'g'))) / cast(length(text) as double)) * 3
        |          + ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / cast(length(text) as double)) * 2))))
        |    END AS q
        |  FROM hits),
        |q1 AS (
        |  SELECT doc_id, text, ws_tokens, lang_pred FROM scored
        |  WHERE lang_pred = 'en' AND q >= 0.3),
        |""".stripMargin

  /** The dedup tail over the survivors `src`: md5 exact-dedup keepers
    * `ex`, then the recursive-CTE near-dup closure at J >= 0.8 and its
    * non-keepers `drop_set`. */
  private def curateDedup(src: String): String =
    "ex AS (\n  SELECT doc_id, text, ws_tokens, lang_pred FROM " + src +
      "\n  WHERE doc_id IN (SELECT min(doc_id) FROM " + src + " GROUP BY md5(text))),\n" +
      """gt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM ex),
        |""".stripMargin + grams3("g", "gt") + ",\n" + closure("0.8") + ",\n" + dropSet

  val all: Seq[Query] = Seq(
    Query("x_bucketed_join", (s, dir) => {
      // Write-once / join-many bucketing: events and per-user totals land
      // as co-bucketed tables (8 buckets on user_id), then the big-big
      // join runs with ZERO exchanges — the in-query require pins the
      // 100 TB contract (sort-merge join, no shuffle on either side; the
      // one hash exchange happened at write time and is amortized over
      // every downstream join). The oracle replays the plain semantic
      // join on the raw events table: bucketing changes the plan, never
      // the rows.
      val base = tmpDir("graft_bkt", dir)
      graft.util.Fs.rmrf(base)
      val ev = t(s, dir, "events").select("event_id", "user_id", "value")
      val totals = t(s, dir, "events").groupBy("user_id").agg(
        expr("cast(sum(cast(value as decimal(18,6))) as double)").as("user_total"),
        count(lit(1)).as("user_events"))
      Par.run(
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
    }, order = by("event_id"),
      // the semantic join, layout-free: bucketing changes the plan
      // (zero exchanges, pinned in-query), never the rows
      oracle = Some(
        """WITH tot AS (
          |  SELECT user_id,
          |    cast(sum(cast(value as decimal(18,6))) as double) AS user_total,
          |    count(*) AS user_events
          |  FROM events GROUP BY user_id)
          |SELECT e.event_id, e.user_id, tot.user_total, tot.user_events
          |FROM events e JOIN tot USING (user_id)
          |ORDER BY e.event_id""".stripMargin)),
    Query("x_table_prune", (s, dir) => {
      // Iceberg-model data skipping driven end-to-end: events land in a
      // transcript table as 4 batches, each range-clustered on ts with
      // per-file bounds recorded in the manifest (FileStats); a time-range
      // query then runs through the manifest-pruned readRange path. The
      // in-query require pins that pruning ACTUALLY skipped files — the
      // layout makes half the month prunable per batch — while the oracle
      // replays the semantic query on the raw events table, proving the
      // pruned scan changes which files open, never what the query
      // returns.
      val tbl = tmpDir("graft_prune", dir) + "/t"
      val ev = t(s, dir, "events")
      writeBatches(tbl, "ts")(b => ev.filter(pmod(col("event_id"), lit(4)) === b))
      val plan = TranscriptTable.planRange(tbl, "ts", rangeLo, rangeHi)
      require(plan.nFilesSkipped >= plan.nFilesTotal / 2,
        s"data skipping must prune the clustered layout: $plan")
      eventRows(TranscriptTable.readRange(s, tbl, "ts", rangeLo, rangeHi))
    }, order = by("event_id"),
      // the semantic time-range query on the raw events table: equality
      // against the manifest-pruned table read proves data skipping is
      // IO-only — file bounds change what opens, never what returns
      oracle = Some(
        """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
          |FROM events
          |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
          |              AND TIMESTAMP '2024-01-13 00:00:00'
          |ORDER BY event_id""".stripMargin)),
    Query("x_table_delete", (s, dir) => {
      // Row-level DELETE under copy-on-write with manifest-bounds pruning:
      // events land as 4 TIME-SLICED batches (one week each, ts bounds
      // recorded), then a 3-day range purge runs through deleteRange. The
      // in-query require pins the 100 TB contract — only the ONE batch
      // whose bounds overlap the range rewrites; the other three are
      // never read — while the oracle replays the surviving-row semantics
      // on the raw events table, proving pruning decides IO, the exact
      // predicate decides rows.
      val tbl = tmpDir("graft_del", dir) + "/t"
      val ev = t(s, dir, "events")
      writeBatches(tbl, "ts")(b => week(ev, b))
      val st = TranscriptTable.deleteRange(s, tbl, "ts", rangeLo, rangeHi, "d004")
      require(st.nBatchesTotal == 4 && st.nBatchesRewritten == 1,
        s"delete must rewrite ONLY the week-2 batch: $st")
      eventRows(TranscriptTable.read(s, tbl))
    }, order = by("event_id"),
      // survivors of the copy-on-write purge == the raw table minus the
      // inclusive range (null ts would survive too — range never matches
      // null, the deleteRange coalesce(cond,false) contract)
      oracle = Some(
        """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
          |FROM events
          |WHERE ts IS NULL
          |   OR ts NOT BETWEEN TIMESTAMP '2024-01-10 00:00:00'
          |                 AND TIMESTAMP '2024-01-13 00:00:00'
          |ORDER BY event_id""".stripMargin)),
    Query("x_table_merge", (s, dir) => {
      // MERGE (keyed upsert) under copy-on-write: events land as 4
      // id-clustered batches; the merge batch re-values one id run (the
      // WHEN MATCHED half) AND inserts re-keyed copies far past the
      // table's max id (the CDC shape). The in-query require pins the
      // scale contract — the EXACT key-membership prune rewrites only
      // the one batch whose bounds hold the updated run; the outlier
      // inserts must not widen it — while the oracle rebuilds
      // survivors + updates + inserts from the raw table.
      val tbl = tmpDir("graft_merge", dir) + "/t"
      val ev = t(s, dir, "events")
      val n = ev.count() // event_id is dense 0..n-1 in the test tables
      val q = n / 4
      writeBatches(tbl, "event_id")(b => ev.filter(col("event_id") >= lit(b * q) &&
        col("event_id") < lit(if (b == 3) n else (b + 1) * q)))
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
      eventRows(TranscriptTable.read(s, tbl))
    }, order = by("event_id"),
      // post-merge table == survivors (key not updated) + the re-valued
      // update run + the re-keyed inserts; // is DuckDB integer division
      // (same arithmetic as the Scala Long division building the batch);
      // the insert offset is 3*count(*) — derived past the max id in both
      // engines, never a constant a bigger SF could collide with
      oracle = Some(
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
          |ORDER BY event_id""".stripMargin)),
    Query("x_table_update", (s, dir) => {
      // Row-level UPDATE under copy-on-write (the in-place redaction
      // path): the same 4 time-sliced batches as x_table_delete; a 3-day
      // updateRange re-types the window's events AND re-values them with
      // a SET that reads the event_type column it is simultaneously
      // replacing — pinning OLD-row SQL UPDATE semantics at the oracle
      // gate, not just in sbt tests. The require pins the IO contract
      // (only the one bounds-overlapping batch rewrites); the oracle
      // replays the CASE-WHEN semantics on the raw events table.
      val tbl = tmpDir("graft_upd", dir) + "/t"
      val ev = t(s, dir, "events")
      writeBatches(tbl, "ts")(b => week(ev, b))
      val st = TranscriptTable.updateRange(s, tbl, "ts", rangeLo, rangeHi, "u004",
        set = Map(
          "event_type" -> lit("redacted"),
          // value*2 is fp-exact; + length(OLD event_type) is an exact
          // int-to-double add — and proves the condition/SET pair reads
          // the pre-update row (post-update it would always add 8)
          "value" -> (col("value") * 2 + length(col("event_type")))))
      require(st.nBatchesTotal == 4 && st.nBatchesRewritten == 1,
        s"update must rewrite ONLY the week-2 batch: $st")
      eventRows(TranscriptTable.read(s, tbl))
    }, order = by("event_id"),
      // post-update table == CASE-WHEN over the raw events: in-range rows
      // re-type to 'redacted' and re-value off the OLD row (value*2 +
      // length of the PRE-update event_type — SQL UPDATE old-row
      // semantics, which a sequential apply would break by reading the
      // already-redacted type)
      oracle = Some(
        """SELECT event_id, epoch_us(ts) AS ts_us,
          |  CASE WHEN ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
          |                   AND TIMESTAMP '2024-01-13 00:00:00'
          |       THEN 'redacted' ELSE event_type END AS event_type,
          |  CASE WHEN ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
          |                   AND TIMESTAMP '2024-01-13 00:00:00'
          |       THEN value * 2 + length(event_type) ELSE value END AS value
          |FROM events
          |ORDER BY event_id""".stripMargin)),
    Query("x_curate", (s, dir) => {
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
    }, order = by("doc_id"),
      // the composed curation pipeline: langid + quality floor, the
      // x_decontaminate 5-gram anti-join (benchmark = docs >= 250,
      // applied between the quality floor and the dedup passes, exactly
      // where CurateJob runs it), md5 exact-dedup keepers, then the
      // recursive-CTE near-dup closure at J >= 0.8 over the survivors —
      // each stage reuses an already-proven oracle fragment
      oracle = Some(curateQ1("") +
        """dg AS (
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
          |""".stripMargin + curateDedup("dc") +
        """
          |SELECT doc_id, lang_pred, ws_tokens FROM ex
          |WHERE doc_id NOT IN (SELECT doc_id FROM drop_set)
          |ORDER BY doc_id""".stripMargin)),
    Query("x_curate_incremental", (s, dir) => {
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
    }, order = by("doc_id"),
      // the x_curate oracle scoped to the batch partition (doc_id >= 250),
      // fused with the x_dedup_incremental cross-corpus drop: a batch
      // keeper is dropped when it md5-matches or 3-gram-Jaccard >= 0.8
      // matches ANY raw corpus doc (< 250)
      oracle = Some(curateQ1(" WHERE doc_id >= 250") + curateDedup("q1") +
        """,
          |keep AS (
          |  SELECT doc_id, text, lang_pred, ws_tokens FROM ex
          |  WHERE doc_id NOT IN (SELECT doc_id FROM drop_set)),
          |ctoks AS (
          |  SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
          |  FROM documents WHERE doc_id < 250),
          |""".stripMargin + grams3("cg", "ctoks") +
        """,
          |cdrop AS (
          |  SELECT DISTINCT k.doc_id
          |  FROM g k JOIN cg c ON k.doc_id IN (SELECT doc_id FROM keep)
          |  WHERE cast(len(list_intersect(k.grams, c.grams)) as double)
          |        / len(list_distinct(list_concat(k.grams, c.grams))) >= 0.8
          |  UNION
          |  SELECT k.doc_id FROM keep k JOIN ctoks c ON md5(k.text) = md5(c.text))
          |SELECT doc_id, lang_pred, ws_tokens FROM keep
          |WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)
          |ORDER BY doc_id""".stripMargin)))
}
