package graft

import graft.table.{FileStats, TranscriptTable => TT}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level column bounds in manifests + manifest-pruned range reads +
  * clustering compaction — the Iceberg data-skipping model. */
class TableStatsSpec extends AnyFunSuite with SparkSuite {

  private def freshTable(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  test("stats encode/decode round-trips arbitrary string bounds") {
    val stats = Map(
      "part-0.parquet" -> Map(
        "ts" -> FileStats.ColStat("num", "-12", "34"),
        "txt" -> FileStats.ColStat("str", "a|b;c\nd%", "é中")),
      "part-1.parquet" -> Map(
        "txt" -> FileStats.ColStat("null", "", ""),
        "new_col" -> FileStats.ColStat("absent", "", "")))
    assert(FileStats.decode(FileStats.encode(stats)) == stats)
  }

  test("range read prunes files by recorded bounds and matches the unpruned scan") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_stats")
    // 4 range-partitioned files per batch -> disjoint id slices per file
    val b0 = (0L until 400L).map(i => (i, s"d$i")).toDF("id", "text")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    val b1 = (400L until 800L).map(i => (i, s"d$i")).toDF("id", "text")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    TT.writeBatch(b0, out, "b000", statsCols = Seq("id"))
    TT.writeBatch(b1, out, "b001", statsCols = Seq("id"))
    assert(TT.fileStats(out, "b000").nonEmpty)

    val plan = TT.planRange(out, "id", 90L, 110L)
    assert(plan.nFilesTotal == 8)
    // [90,110] spans at most 2 of the 8 disjoint ~100-wide slices
    assert(plan.keptPaths.length <= 2 && plan.nFilesSkipped >= 6)

    val pruned = TT.readRange(spark, out, "id", 90L, 110L)
      .select("id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val full = TT.read(spark, out).filter(col("id") >= 90 && col("id") <= 110)
      .select("id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pruned == full && pruned.size == 21)
  }

  test("batches without stats are never pruned; bounds stay exact") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_stats_mixed")
    TT.writeBatch((0L until 100L).map(i => (i, "a")).toDF("id", "text"),
      out, "b000") // NO statsCols: legacy batch
    TT.writeBatch((100L until 200L).map(i => (i, "b")).toDF("id", "text")
      .repartitionByRange(2, col("id")), out, "b001", statsCols = Seq("id"))
    val plan = TT.planRange(out, "id", 0L, 10L)
    // legacy batch files all kept; both b001 slices (>= 100) skipped
    assert(plan.nFilesSkipped == 2)
    val got = TT.readRange(spark, out, "id", 0L, 10L).count()
    assert(got == 11L)
  }

  test("all-null and schema-absent columns are skippable: range predicates never match null") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_stats_null")
    val withNull = Seq((1L, null.asInstanceOf[java.lang.Long]),
      (2L, null.asInstanceOf[java.lang.Long])).toDF("id", "score")
    TT.writeBatch(withNull, out, "b000", statsCols = Seq("score"))
    // b001 predates the score column entirely (schema evolution)
    TT.writeBatch(Seq((3L, "x")).toDF("id", "text"), out, "b001",
      statsCols = Seq("score"))
    val plan = TT.planRange(out, "score", 0L, 100L)
    assert(plan.keptPaths.isEmpty && plan.nFilesSkipped == plan.nFilesTotal)
    assert(TT.readRange(spark, out, "score", 0L, 100L).count() == 0L)
  }

  test("string bounds compare in UTF-8 byte order") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_stats_str")
    TT.writeBatch(Seq(("apple", 1L), ("banana", 2L)).toDF("word", "n"),
      out, "b000", statsCols = Seq("word"))
    TT.writeBatch(Seq(("melon", 3L), ("peach", 4L)).toDF("word", "n"),
      out, "b001", statsCols = Seq("word"))
    val plan = TT.planRange(out, "word", "aa", "c")
    assert(plan.nFilesSkipped >= 1) // the melon..peach file cannot overlap
    val got = TT.readRange(spark, out, "word", "aa", "c")
      .select("word").collect().map(_.getString(0)).toSet
    assert(got == Set("apple", "banana"))
  }

  test("timestamp bounds prune via epoch-micros canonical form") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_stats_ts")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-02 00:00:00")),
      (3L, ts("2024-06-01 00:00:00")), (4L, ts("2024-06-02 00:00:00")))
      .toDF("id", "ts").repartitionByRange(2, col("ts"))
    TT.writeBatch(df, out, "b000", statsCols = Seq("ts"))
    val plan = TT.planRange(out, "ts", ts("2024-05-01 00:00:00"), null)
    assert(plan.nFilesTotal == 2 && plan.nFilesSkipped == 1)
    assert(TT.readRange(spark, out, "ts", ts("2024-05-01 00:00:00"), null)
      .count() == 2L)
  }

  test("compactZOrder prunes on BOTH dimensions; single-col sort prunes on one") {
    val sp = spark; import sp.implicits._
    // two independent uniform dims: x = i mod 100, y = i div 100
    def grid() = (0L until 10000L).map(i => (i, i % 100L, i / 100L))
      .toDF("id", "x", "y")

    val zTbl = freshTable("graft_stats_z")
    TT.writeBatch(grid().repartitionByRange(4, col("id")), zTbl, "b000",
      statsCols = Seq("x", "y"))
    TT.compactZOrder(spark, zTbl, Seq("b000"), "c000",
      zCols = Seq("x", "y"), targetFiles = 16)

    val sTbl = freshTable("graft_stats_s")
    TT.writeBatch(grid().repartitionByRange(4, col("id")), sTbl, "b000",
      statsCols = Seq("x", "y"))
    TT.compactSorted(spark, sTbl, Seq("b000"), "c000",
      sortCols = Seq("x"), targetFiles = 16, statsCols = Seq("x", "y"))

    // one-dim 10% query: z-order prunes ~1 - sqrt(s) of files on EITHER
    // dim; the x-sort prunes x perfectly and y not at all
    val zx = TT.planRange(zTbl, "x", 10L, 19L)
    val zy = TT.planRange(zTbl, "y", 10L, 19L)
    val sx = TT.planRange(sTbl, "x", 10L, 19L)
    val sy = TT.planRange(sTbl, "y", 10L, 19L)
    assert(zx.nFilesSkipped >= 8 && zy.nFilesSkipped >= 8,
      s"z-order must prune both dims: x skipped ${zx.nFilesSkipped}, y ${zy.nFilesSkipped}")
    // 100 distinct x over 16 files ≈ 6 values/file: a 10-value range
    // legitimately touches up to 3 files
    assert(sx.nFilesSkipped >= 13, s"x-sort prunes x: ${sx.nFilesSkipped}")
    assert(sy.nFilesSkipped == 0, "x-sort cannot prune y")

    // content identical through every layout
    val zGot = TT.readRange(spark, zTbl, "x", 10L, 19L).count()
    val sGot = TT.readRange(spark, sTbl, "x", 10L, 19L).count()
    assert(zGot == 1000L && sGot == 1000L)
  }

  test("compactSorted re-clusters scattered batches so range reads prune") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_stats_sortcomp")
    // ids deliberately interleaved across batches AND within files: range
    // partitioning on the LEXICAL text order (d0 < d10 < d100 < d2 ...)
    // scrambles the numeric id ranges, so every file's [min,max] id
    // bounds span nearly the whole corpus before compaction
    (0 until 3).foreach { b =>
      val rows = (0L until 300L).filter(_ % 3 == b).map(i => (i, s"d$i"))
      TT.writeBatch(rows.toDF("id", "text").repartitionByRange(2, col("text")),
        out, f"b$b%03d", statsCols = Seq("id"))
    }
    val before = TT.planRange(out, "id", 10L, 20L)
    assert(before.nFilesSkipped == 0) // scattered layout: nothing prunable

    TT.compactSorted(spark, out, Seq("b000", "b001", "b002"), "c000",
      sortCols = Seq("id"), targetFiles = 6)
    val after = TT.planRange(out, "id", 10L, 20L)
    assert(after.nFilesTotal == 6 && after.nFilesSkipped >= 4)

    val got = TT.readRange(spark, out, "id", 10L, 20L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == (10L to 20L).toSet)
    // content contract unchanged by the rewrite
    assert(TT.read(spark, out).count() == 300L)
  }

  test("float bounds: a boundary probe keeps files whose float stats equal the bound") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_stats_float")
    // collected bounds go through Spark's FLOAT->string cast ("0.1");
    // canonicalizing the probe bound via toDouble would compare against
    // "0.10000000149011612" and prune a file that contains matching rows
    val b0 = Seq((1L, 0.05f), (2L, 0.1f)).toDF("id", "score").coalesce(1)
    TT.writeBatch(b0, out, "b000", statsCols = Seq("score"))
    val plan = TT.planRange(out, "score", 0.1f, null)
    assert(plan.keptPaths.length == 1, "boundary-equal file must be kept")
    val ids = TT.readRange(spark, out, "score", 0.1f, 0.1f)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L))
  }

  test("NaN/Infinity double stats neither crash planning nor mis-prune") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_stats_nan")
    val b0 = Seq((1L, 1.5), (2L, Double.NaN), (3L, Double.PositiveInfinity))
      .toDF("id", "v").coalesce(1)
    TT.writeBatch(b0, out, "b000", statsCols = Seq("v"))
    // Spark orders NaN largest: max = "NaN" in the manifest — BigDecimal
    // alone would throw here and brick every range plan on the column
    val plan = TT.planRange(out, "v", 1.0, null)
    assert(plan.keptPaths.length == 1)
    val ids = TT.readRange(spark, out, "v", 1.0, null)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L)) // Spark: NaN and Inf both >= 1.0
    // finite min still prunes a probe entirely below it
    assert(TT.planRange(out, "v", null, 0.5).keptPaths.isEmpty)
  }

  test("deleteRange rewrites only bounds-overlapping batches, exact rows, time travel intact") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_cow_del")
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"d$i")).toDF("id", "text").coalesce(1)
    TT.writeBatch(batch(0L, 100L), out, "b000", statsCols = Seq("id"))
    TT.writeBatch(batch(100L, 200L), out, "b001", statsCols = Seq("id"))
    TT.writeBatch(batch(200L, 300L), out, "b002", statsCols = Seq("id"))

    // [120,180] overlaps only b001: b000/b002 must not be touched
    val st = TT.deleteRange(spark, out, "id", 120L, 180L, "d003")
    assert(st == TT.RewriteStats(3, 1, 100L, 39L), st.toString)
    assert(TT.liveBatches(out).toSet == Set("b000", "b002", "d003"))
    val ids = TT.read(spark, out).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == ((0L until 120L) ++ (181L until 300L)).toSet)
    // pre-delete snapshot still sees the purged rows (until vacuum)
    assert(TT.readAsOf(spark, out, "b002").count() == 300L)
    // the rewritten batch re-recorded bounds: range reads keep pruning
    val plan = TT.planRange(out, "id", 250L, 260L)
    assert(plan.keptPaths.length < plan.nFilesTotal)
    // replay of the committed delete id is a no-op
    assert(TT.deleteRange(spark, out, "id", 120L, 180L, "d003") ==
      TT.RewriteStats(0, 0, 0L, 0L))
    // a non-overlapping range rewrites nothing and commits nothing
    val miss = TT.deleteRange(spark, out, "id", 5000L, 6000L, "d004")
    assert(miss.nBatchesRewritten == 0 && !TT.isCommitted(out, "d004"))
  }

  test("overlapping batch bounds degrade pruning to more batches touched, never wrong rows") {
    // the late-arrival layout (VERDICT r6 #7): batch bounds overlap, so a
    // range that would touch one batch in the clustered layout must now
    // touch every OVERLAPPING batch — and only those; disjoint batches
    // stay untouched and the row set is exactly the predicate's
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_cow_overlap")
    def batch(ids: Seq[Long]) = ids.map(i => (i, s"d$i")).toDF("id", "text").coalesce(1)
    TT.writeBatch(batch(0L until 100L), out, "b000", statsCols = Seq("id"))
    // b001 is "late-arriving": mostly 100-199 but carries stragglers from
    // b000's range, widening its bounds to [50, 199]
    TT.writeBatch(batch((100L until 200L) :+ 50L :+ 75L), out, "b001",
      statsCols = Seq("id"))
    TT.writeBatch(batch(200L until 300L), out, "b002", statsCols = Seq("id"))
    // [60,90] overlaps b000 AND (via the stragglers) b001 — both rewrite;
    // b002 is disjoint and must not be touched
    val st = TT.deleteRange(spark, out, "id", 60L, 90L, "d003")
    assert(st.nBatchesTotal == 3 && st.nBatchesRewritten == 2, st.toString)
    assert(TT.liveBatches(out).toSet == Set("b002", "d003"))
    val ids = TT.read(spark, out).select("id").collect().map(_.getLong(0)).toSeq
    // the out-of-range straggler copy of 50 survives as a duplicate
    // (delete is a predicate, not a dedup); EVERY in-range row is gone
    // including the in-range straggler copy of 75
    assert(ids.sorted == ((0L until 60L) ++ (91L until 300L) :+ 50L).sorted,
      s"got ${ids.length} rows")
    // same layout through mergeKeys: key 50 now has TWO copies (original +
    // straggler, both in the d003 rewrite) — the upsert must collapse both
    // to the single update row, and the disjoint b002 stays untouched
    val st2 = TT.mergeKeys(spark, out, "id",
      Seq((50L, "updated")).toDF("id", "text"), "m004")
    assert(st2.nBatchesRewritten == 1 && TT.liveBatches(out).contains("b002"),
      st2.toString)
    val fifty = TT.read(spark, out).filter(col("id") === 50L)
      .select("text").collect().map(_.getString(0)).toSeq
    assert(fifty == Seq("updated"))
  }

  test("updateRange redacts only the matching range; null keys always survive a delete") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_cow_upd")
    val b0 = Seq((1L, java.lang.Long.valueOf(10L), "keep"),
      (2L, java.lang.Long.valueOf(15L), "secret"),
      (3L, null.asInstanceOf[java.lang.Long], "nullkey"))
      .toDF("id", "k", "text").coalesce(1)
    TT.writeBatch(b0, out, "b000", statsCols = Seq("k"))
    val st = TT.updateRange(spark, out, "k", 12L, 20L, "u001",
      Map("text" -> lit("[REDACTED]")))
    assert(st.rowsBefore == st.rowsAfter && st.rowsAfter == 3L)
    val rows = TT.read(spark, out).select("id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows == Map(1L -> "keep", 2L -> "[REDACTED]", 3L -> "nullkey"))
    // a delete on the same range keeps the null-keyed row (range never
    // matches null — the coalesce(cond, false) contract)
    TT.deleteRange(spark, out, "k", 12L, 20L, "u002")
    val left = TT.read(spark, out).select("id").collect().map(_.getLong(0)).toSet
    assert(left == Set(1L, 3L))
  }

  test("rewrites inherit the replaced batches' stats columns (prunability never lost)") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_cow_inherit")
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i + 1000L)).toDF("id", "v").coalesce(1)
    TT.writeBatch(batch(0L, 100L), out, "b000", statsCols = Seq("id", "v"))
    TT.writeBatch(batch(100L, 200L), out, "b001", statsCols = Seq("id", "v"))
    // delete on id: the rewritten batch must KEEP v bounds it never asked
    // for — otherwise a later v-range plan blind-keeps it forever
    TT.deleteRange(spark, out, "id", 0L, 50L, "d002")
    assert(TT.planRange(out, "v", 5000L, 6000L).keptPaths.isEmpty,
      "a probe outside every v bound must skip ALL files, incl. the rewrite")
    assert(TT.planRange(out, "v", 1060L, 1070L).keptPaths.nonEmpty)
  }

  test("mergeKeys upserts exactly; inserts past the max never widen the prune") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_cow_merge")
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"d$i")).toDF("id", "text").coalesce(1)
    TT.writeBatch(batch(0L, 100L), out, "b000", statsCols = Seq("id"))
    TT.writeBatch(batch(100L, 200L), out, "b001", statsCols = Seq("id"))
    TT.writeBatch(batch(200L, 300L), out, "b002", statsCols = Seq("id"))
    // updates hit only b001's bounds; inserts sit past every bound — the
    // CDC shape that defeats global [min,max] pruning
    val upd = (150L until 160L).map(i => (i, s"upd$i")).toDF("id", "text")
      .unionByName((1000L until 1005L).map(i => (i, "ins")).toDF("id", "text"))
    val st = TT.mergeKeys(spark, out, "id", upd, "m003")
    assert(st == TT.RewriteStats(3, 1, 100L, 105L), st.toString)
    assert(TT.liveBatches(out).toSet == Set("b000", "b002", "m003"))
    val rows = TT.read(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.size == 305)
    assert((150L until 160L).forall(i => rows(i) == s"upd$i"))
    assert((1000L until 1005L).forall(i => rows(i) == "ins"))
    assert(rows(149L) == "d149" && rows(0L) == "d0" && rows(299L) == "d299")
    // replay no-ops
    assert(TT.mergeKeys(spark, out, "id", upd, "m003") ==
      TT.RewriteStats(0, 0, 0L, 0L))
    // a pure-insert merge commits a plain batch, rewrites nothing
    val st2 = TT.mergeKeys(spark, out, "id",
      Seq((5000L, "new")).toDF("id", "text"), "m004")
    assert(st2.nBatchesRewritten == 0 && st2.rowsAfter == 1L)
    assert(TT.read(spark, out).count() == 306L)
  }

  test("mergeKeys past the exact-key cap degrades to range pruning, same rows") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_cow_merge_cap")
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"d$i")).toDF("id", "text").coalesce(1)
    TT.writeBatch(batch(0L, 100L), out, "b000", statsCols = Seq("id"))
    TT.writeBatch(batch(100L, 200L), out, "b001", statsCols = Seq("id"))
    TT.writeBatch(batch(200L, 300L), out, "b002", statsCols = Seq("id"))
    val upd = (150L until 160L).map(i => (i, s"upd$i")).toDF("id", "text")
      .unionByName(Seq((1000L, "ins")).toDF("id", "text"))
    // cap 1 < 11 keys: [150,1000] range pruning touches b001+b002 (never
    // b000), rows identical to the exact path
    val st = TT.mergeKeys(spark, out, "id", upd, "m003", maxExactKeys = 1)
    assert(st.nBatchesRewritten == 2 && st.rowsBefore == 200L && st.rowsAfter == 201L)
    val rows = TT.read(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.size == 301 && rows(155L) == "upd155" && rows(1000L) == "ins")
  }

  test("updateRange: condition and SET expressions see the OLD row") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_cow_oldrow")
    val b0 = Seq((1L, 5L, "a"), (2L, 15L, "b"), (3L, 25L, "c"))
      .toDF("id", "k", "text").coalesce(1)
    TT.writeBatch(b0, out, "b000", statsCols = Seq("k"))
    // SET rewrites the range column ITSELF and text together: a
    // sequential withColumn fold would zero k first, then re-evaluate
    // the condition on the new k and skip the text redaction
    TT.updateRange(spark, out, "k", 12L, 20L, "u001",
      Map("k" -> lit(0L), "text" -> lit("[REDACTED]")))
    val rows = TT.read(spark, out).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(rows == Map(1L -> (5L, "a"), 2L -> (0L, "[REDACTED]"),
      3L -> (25L, "c")), rows.toString)
    // cross-referencing SETs swap from old values
    TT.updateRange(spark, out, "id", 3L, 3L, "u002",
      Map("k" -> col("id"), "id" -> col("k")))
    val swapped = TT.read(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(swapped.contains((25L, 3L)), swapped.toString)
    // a typo'd SET column fails up front, even when no batch overlaps
    intercept[IllegalArgumentException] {
      TT.updateRange(spark, out, "k", 5000L, 6000L, "u003",
        Map("textt" -> lit("x")))
    }
  }

  test("updateRange on a schema-evolved column adds it (typed null) to older batches") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_cow_evolve")
    // b000 predates the score column; b001 carries it (add-only evolution)
    TT.writeBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "text").coalesce(1),
      out, "b000", statsCols = Seq("id"))
    TT.writeBatch(Seq((10L, "c", 5.0)).toDF("id", "text", "score").coalesce(1),
      out, "b001", statsCols = Seq("id"))
    // the range touches ONLY the pre-evolution batch: SQL UPDATE semantics
    // treat the missing score as null there — the rewrite must ADD the
    // column (typed from the recorded union), set it on hits, and leave
    // the old value null on misses, not throw mid-rewrite
    val st = TT.updateRange(spark, out, "id", 2L, 2L, "u001",
      Map("score" -> lit(9.5)))
    assert(st.nBatchesRewritten == 1, st.toString)
    val rows = TT.read(spark, out).select("id", "score").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows == Map(1L -> None, 2L -> Some(9.5), 10L -> Some(5.0)),
      rows.toString)
  }

  test("row-changing rewrites drop replaced lineage; low-sorting merge ids throw") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_cow_lineage")
    val b0 = (0L until 50L).map(i => (i, s"d$i")).toDF("id", "text").coalesce(1)
    TT.writeBatch(b0, out, "b000", manifestExtra = Map("lineage" -> "0:50:7:50:50:0"))
    assert(TT.readLineage(spark, out).count() == 1)
    // the batch records no stats -> the delete blind-keeps and rewrites
    // the batch; its stale lineage must NOT carry over
    TT.deleteRange(spark, out, "id", 0L, 9L, "d001")
    assert(TT.read(spark, out).count() == 40L)
    intercept[IllegalArgumentException] {
      TT.readLineage(spark, out) // no live batch has lineage left
    }
    // a merge whose id sorts before a live batch fails regardless of
    // whether it would rewrite or pure-insert
    intercept[IllegalArgumentException] {
      TT.mergeKeys(spark, out, "id",
        Seq((9999L, "ins")).toDF("id", "text"), "a000")
    }
  }

  test("readRange with both bounds null keeps null-valued and all-null-file rows") {
    val sp = spark; import sp.implicits._
    val out = freshTable("graft_stats_nullnull")
    val withVals = Seq((1L, java.lang.Long.valueOf(5L))).toDF("id", "v")
    val allNull = Seq((2L, null.asInstanceOf[java.lang.Long])).toDF("id", "v")
    TT.writeBatch(withVals, out, "b000", statsCols = Seq("v"))
    TT.writeBatch(allNull, out, "b001", statsCols = Seq("v"))
    // no range predicate at all -> no pruning: the all-null file's rows
    // survive (a bounded probe may rightly skip that file, below)
    val all = TT.readRange(spark, out, "v", null, null)
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L))
    assert(TT.planRange(out, "v", 0L, null).nFilesSkipped >= 1)
  }
}
