package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness of the training-data-pipeline operators on controlled data:
  * planted near-duplicates must be found, distinct docs must not pair,
  * LSH ANN must agree with brute force on the probed region. */
class OpsSpec extends AnyFunSuite with SparkSuite {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)): _*), schema)
  }

  private def sentence(seed: Long, n: Int): String =
    (0 until n).map(i => "w" + graft.jobs.Synth.mix(seed * 1000 + i).toHexString.take(4)).mkString(" ")

  test("minhash LSH finds planted near-duplicates and no false pairs") {
    val base = sentence(1, 120)
    val nearDup = base.split(" ").toSeq.patch(40, Seq("changed", "words"), 2).mkString(" ")
    val docs = docsDf(Seq(
      (1L, base), (2L, nearDup),
      (3L, sentence(3, 120)), (4L, sentence(4, 120)), (5L, sentence(5, 120))))
    val pairs = Dedup.minhashPairs(docs, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("hot-bucket cap is visible, not silent: capped groups fall to exact dedup") {
    // 30 identical docs overflow every band bucket at maxBucket=10: the
    // pair op emits nothing for them, the diagnostic reports the capped
    // buckets, and exact dedup still collapses the group
    val docs = docsDf((1L to 30L).map(i => (i, "identical tiny doc")) :+
      (100L, sentence(91, 80)))
    val pairs = Dedup.minhashPairs(docs, threshold = 0.7, maxBucket = 10)
      .collect()
    assert(pairs.isEmpty, "capped bucket must generate no candidate pairs")
    val capped = Dedup.minhashCappedBuckets(docs, maxBucket = 10).collect()
    assert(capped.nonEmpty && capped.forall(_.getLong(2) == 30L),
      s"diagnostic must surface the capped buckets: ${capped.toSeq}")
    val groups = Dedup.exactGroups(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups.contains((30L, 1L)), "exact dedup catches the capped group")
  }

  test("exact dedup keeps min doc_id per distinct text") {
    val docs = docsDf(Seq((5L, "same text"), (2L, "same text"), (9L, "same text"),
      (7L, "other text"), (8L, "third text")))
    val kept = Dedup.exactDedup(docs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 7L, 8L))
    val groups = Dedup.exactGroups(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet // (n_dupes, keeper)
    assert(groups == Set((3L, 2L), (1L, 7L), (1L, 8L)))
  }

  test("simhash pairs planted near-dup within hamming bound") {
    val base = sentence(11, 200)
    val nearDup = base + " tiny change"
    val docs = docsDf(Seq((1L, base), (2L, nearDup), (3L, sentence(13, 200))))
    val pairs = Dedup.simhashPairs(docs, maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash pigeonhole blocking is EXACT: equals brute-force all-pairs") {
    // pigeonhole blocking guarantees every pair within maxDist shares a
    // segment — the candidate set is lossless, so the distributed output
    // must equal the O(n^2) local ground truth, not approximate it
    val docs = (1L to 60L).map { i =>
      val nearGroup = i % 20
      if (i <= 20) (i, sentence(600 + i, 80))
      else (i, sentence(600 + nearGroup + (if (nearGroup == 0) 20 else 0), 80) +
        " suffix" + (i / 20))
    }
    val df = docsDf(docs)
    val maxDist = 6
    val got = Dedup.simhashPairs(df, maxDist = maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashes = docs.map { case (id, text) => id -> Dedup.simhash(text) }.toMap
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= maxDist
    } yield (a, b)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty, "ground truth should contain planted near-dups")
  }

  test("md5Lower64 matches DuckDB md5_number_lower; md5 kernel shares the math") {
    // pinned against `SELECT md5_number_lower('abc')` (last 8 digest bytes,
    // little-endian) — the token hash the x_simhash_pairs oracle recomputes
    assert(Dedup.md5Lower64("abc") == 8250560606382298838L)
    // both kernels are simhashWith: identical tokenization + bit votes
    val t = "the quick brown fox jumps over the lazy dog"
    assert(Dedup.simhashMd5(t) == Dedup.simhashWith(t, Dedup.md5Lower64))
    assert(Dedup.simhash(t) != Dedup.simhashMd5(t)) // different token hash
  }

  test("ngram jaccard verification discriminates") {
    val base = sentence(21, 100)
    val near = base.split(" ").toSeq.patch(10, Seq("x"), 1).mkString(" ")
    val docs = docsDf(Seq((1L, base)))
    val j = docs.select(Dedup.jaccardUdf(lit(base), lit(near)).as("j")).head.getDouble(0)
    assert(j > 0.8)
    val j2 = docs.select(Dedup.jaccardUdf(lit(base), lit(sentence(99, 100))).as("j")).head.getDouble(0)
    assert(j2 < 0.05)
  }

  test("lsh ann agrees with brute force inside the probed buckets") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.orderBy("vec_id").select("embedding").head.getSeq[Float](0).toArray
    val brute = Similarity.bruteForceTopK(emb, q, 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 2-bit multi-probe: on (near-)random embeddings LSH recall tracks the
    // probed bucket fraction; real embedding manifolds concentrate far more
    val lsh = Similarity.lshTopK(emb, q, 20, nBits = 8, probeHamming = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    // every LSH hit must carry the exact brute-force cosine (same scoring)
    lsh.foreach { case (id, cos) =>
      brute.get(id).foreach(b => assert(math.abs(b - cos) < 1e-12))
    }
    // the query vector itself (cosine 1.0) lives in the query's own bucket
    assert(lsh.nonEmpty && math.abs(lsh.head._2 - 1.0) < 1e-9)
    // recall of LSH vs brute force is imperfect by design but must be real
    val recall = lsh.count(h => brute.contains(h._1)).toDouble / brute.size
    assert(recall >= 0.2, s"recall $recall")
  }

  test("duplicate clusters: A~B~C chain is ONE cluster though (A,C) is not a pair") {
    // sliding 40-token windows over a shared 48-token base:
    // J(A,B) = J(B,C) = 34/42 ≈ 0.81 >= 0.7, but J(A,C) = 30/46 ≈ 0.65 < 0.7
    // — only transitive closure puts A and C together
    val base = sentence(31, 48).split(" ")
    val A = base.slice(0, 40).mkString(" ")
    val B = base.slice(4, 44).mkString(" ")
    val C = base.slice(8, 48).mkString(" ")
    val docs = docsDf(Seq(
      (1L, A), (2L, B), (3L, C),
      (10L, sentence(37, 60)), (11L, sentence(37, 60)), // exact dup pair
      (20L, sentence(41, 60)))) // singleton: no pair, no cluster row
    // precondition: the pair set really is the open chain
    val pairs = Dedup.minhashPairs(docs, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L), (10L, 11L)), s"got $pairs")
    val clusters = Dedup.duplicateClusters(docs, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L),
      s"got $clusters")
  }

  test("duplicate clusters: 10-doc chain converges within O(log d) rounds (pointer jump)") {
    // chain 1-2-...-10: adjacent windows share J≈0.81, skip-one J≈0.65;
    // plain hash-min needs 9 rounds for this diameter — maxIter=6 passes
    // only because of the path-halving jump
    val base = sentence(51, 76).split(" ")
    val docs = docsDf((0 until 10).map(i =>
      ((i + 1).toLong, base.slice(4 * i, 4 * i + 40).mkString(" "))))
    // maxDriverPairs = 0 forces the label-propagation loop: this chain's
    // pair count is under the driver union-find cap
    val clusters = Dedup.duplicateClusters(docs, threshold = 0.7, maxIter = 6,
        maxDriverPairs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters == (1L to 10L).map(_ -> 1L).toMap, s"got $clusters")
    // a loop cut short by maxIter reports it instead of returning
    // unconverged labels
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(docs, threshold = 0.7, maxIter = 2, maxDriverPairs = 0L)
    }
    assert(e.getMessage.contains("maxIter = 2"), e.getMessage)
  }

  test("duplicate clusters: driver union-find fast path equals the iterative loop") {
    // r8: pair sets <= MaxDriverPairs collect to a driver union-find; the
    // label-propagation loop remains the >cap path. Force the loop with
    // maxDriverPairs = 0 on the same chain+pair corpus and pin equality,
    // so neither path can drift silently.
    val base = sentence(51, 76).split(" ")
    val docs = docsDf((0 until 10).map(i =>
      ((i + 1).toLong, base.slice(4 * i, 4 * i + 40).mkString(" "))) ++
      Seq((20L, sentence(901, 60)), (21L, sentence(901, 60))))
    val fast = Dedup.duplicateClusters(docs, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val loop = Dedup.duplicateClusters(docs, threshold = 0.7,
        maxDriverPairs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == loop, s"fast $fast vs loop $loop")
    assert(fast ==
      ((1L to 10L).map(_ -> 1L) ++ Seq(20L -> 20L, 21L -> 20L)).toMap,
      s"got $fast")
  }

  test("cluster invariants on a generated corpus: keeper is a member, min, stable") {
    // 40 docs in 8 planted groups of near-identical text + 10 singletons
    val docs = docsDf((1L to 50L).map { i =>
      if (i <= 40) (i, sentence(700 + (i - 1) % 8, 70) + " tail" + (i / 8))
      else (i, sentence(800 + i, 70))
    })
    val clusters = Dedup.duplicateClusters(docs, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = clusters.groupBy(_._2)
    clusters.foreach { case (doc, c) =>
      assert(c <= doc, s"keeper $c must be the min id (doc $doc)")
    }
    byCluster.foreach { case (c, members) =>
      assert(members.map(_._1).contains(c), s"keeper $c must be a member")
      assert(members.map(_._1).min == c, s"keeper $c must be the minimum")
      assert(members.length >= 2, s"cluster $c must have >= 2 members")
    }
    // determinism
    val again = Dedup.duplicateClusters(docs, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.sorted.toSeq == again.sorted.toSeq)
    // nearDedup = docs minus non-keepers
    val kept = Dedup.nearDedup(docs, threshold = 0.7).collect().map(_.getLong(0)).toSet
    val nonKeepers = clusters.collect { case (d, c) if d != c => d }.toSet
    assert(kept == (1L to 50L).toSet -- nonKeepers)
  }

  test("nearDedup keeps cluster keepers and unclustered docs") {
    val base = sentence(31, 48).split(" ")
    val docs = docsDf(Seq(
      (1L, base.slice(0, 40).mkString(" ")),   // chain A
      (2L, base.slice(4, 44).mkString(" ")),   // chain B
      (3L, base.slice(8, 48).mkString(" ")),   // chain C
      (10L, sentence(37, 60)), (11L, sentence(37, 60)), // exact dup pair
      (20L, sentence(41, 60))))                // singleton
    val kept = Dedup.nearDedup(docs, threshold = 0.7)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L), s"got $kept")
  }

  test("adaptive lsh defaults fill k and hold a recall floor vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.orderBy("vec_id").select("embedding").head.getSeq[Float](0).toArray
    val k = 50
    val hits = Similarity.lshTopK(emb, q, k).collect().map(_.getLong(0)).toSeq
    assert(hits.length == k, s"adaptive lshTopK returned ${hits.length} of $k")
    val brute = Similarity.bruteForceTopK(emb, q, k).collect().map(_.getLong(0)).toSet
    val overlap = hits.count(brute.contains).toDouble / k
    assert(overlap >= 0.6, s"recall floor: overlap=$overlap")
  }

  test("native CosineSim is bit-identical to the reference cosine") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = emb.select((col("vec_id") - 1).as("vec_a"), col("embedding").as("emb_b"))
    val cosUdf = udf((x: Seq[Float], y: Seq[Float]) => Similarity.cosine(x, y))
    val rows = a.join(b, Seq("vec_a"))
      .select(
        cosUdf(col("emb_a"), col("emb_b")).as("reference"),
        Similarity.cosineSimExpr(col("emb_a"), col("emb_b")).as("viaExpr"))
      .collect()
    assert(rows.nonEmpty)
    // same fp64 accumulation order -> exactly equal, not just close
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(0), r.toString))
    // CosineSim rejects non-array<float> args at analysis time
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(Similarity.cosineSimExpr(col("vec_id"), col("embedding"))).collect()
    }
    assert(e.getMessage.contains("array<float>"), e.getMessage)
  }

  test("as-of join: latest prior right row per key, inclusive, deterministic ties") {
    import org.apache.spark.sql.types._
    def df(schema: StructType, rows: Seq[Seq[Any]]) =
      spark.createDataFrame(java.util.Arrays.asList(
        rows.map(r => org.apache.spark.sql.Row(r: _*)): _*), schema)
    val lSchema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("l_id", LongType)))
    val rSchema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("r_id", LongType)))
    val left = df(lSchema, Seq(
      Seq(1L, 10L, 100L), // before any right row -> null
      Seq(1L, 20L, 101L), // exactly at right ts 20 -> inclusive match
      Seq(1L, 35L, 102L), // between 30 and 40 -> 30
      Seq(2L, 50L, 103L))) // other key
    val right = df(rSchema, Seq(
      Seq(1L, 20L, 200L),
      Seq(1L, 30L, 201L),
      Seq(1L, 30L, 202L), // tie at ts 30: larger r_id wins (argmax)
      Seq(1L, 40L, 203L),
      Seq(2L, 49L, 204L)))
    val out = graft.ops.AsOfJoin.asOf(left, right, Seq("k"), "ts")
      .collect().map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(out == Map(100L -> None, 101L -> Some(200L), 102L -> Some(202L),
      103L -> Some(204L)), out.toString)
  }

  test("as-of join agrees with a brute-force reference on generated frames") {
    import org.apache.spark.sql.types._
    val lSchema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("l_id", LongType)))
    val rSchema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("r_id", LongType)))
    for (seed <- Seq(7L, 8L, 9L)) {
      def gen(n: Int, salt: Long) = (0 until n).map { i =>
        val h = graft.jobs.Synth.mix(seed * 10000 + salt * 100 + i)
        Seq((h & 7L), ((h >>> 8) & 63L), salt * 1000L + i) // key 0-7, ts 0-63
      }
      val lRows = gen(80, 1)
      val rRows = gen(60, 2)
      val left = spark.createDataFrame(java.util.Arrays.asList(
        lRows.map(r => org.apache.spark.sql.Row(r: _*)): _*), lSchema)
      val right = spark.createDataFrame(java.util.Arrays.asList(
        rRows.map(r => org.apache.spark.sql.Row(r: _*)): _*), rSchema)
      val got = graft.ops.AsOfJoin.asOf(left, right, Seq("k"), "ts").collect()
        .map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
      // brute force: argmax (ts, r_id) among right rows with same k, ts <= l.ts
      val want = lRows.map { l =>
        val m = rRows.filter(r => r(0) == l(0) && r(1).asInstanceOf[Long] <= l(1).asInstanceOf[Long])
        (l(2).asInstanceOf[Long],
          if (m.isEmpty) None
          else Some(m.maxBy(r => (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))(
            Ordering.Tuple2[Long, Long])(2).asInstanceOf[Long]))
      }.toMap
      assert(got == want, s"seed=$seed diff=${(got.toSet -- want.toSet).take(3)}")
    }
  }

  test("as-of join: multi-column payload with nulls is row-atomic (no tearing)") {
    import org.apache.spark.sql.types._
    val lSchema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("l_id", LongType)))
    val rSchema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("r_id", LongType),
      StructField("r_tag", StringType)))
    val left = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, 50L, 100L)), lSchema)
    val right = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, 10L, 200L, "old"),
      org.apache.spark.sql.Row(1L, 40L, 201L, null)), rSchema) // latest has null tag
    val row = graft.ops.AsOfJoin.asOf(left, right, Seq("k"), "ts").head
    // the match is the LATEST right ROW as a unit: r_id=201 AND r_tag=null
    // (a per-column fill would smear "old" into the newer row's null slot)
    assert(row.getAs[Long]("r_id") == 201L, row.toString)
    assert(row.isNullAt(row.fieldIndex("r_tag")), row.toString)
  }

  test("bucketed (skew-hardened) as-of equals the plain form") {
    import org.apache.spark.sql.types._
    val lSchema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("l_id", LongType)))
    val rSchema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("r_id", LongType)))
    for (seed <- Seq(21L, 22L)) {
      def gen(n: Int, salt: Long) = (0 until n).map { i =>
        val h = graft.jobs.Synth.mix(seed * 10000 + salt * 100 + i)
        // key skew: 2/3 of rows land on key 0
        val k = if ((h & 3L) != 3L) 0L else (h >>> 2) & 3L
        Seq(k, ((h >>> 8) & 63L), salt * 1000L + i)
      }
      val left = spark.createDataFrame(java.util.Arrays.asList(
        gen(100, 1).map(r => org.apache.spark.sql.Row(r: _*)): _*), lSchema)
      val right = spark.createDataFrame(java.util.Arrays.asList(
        gen(70, 2).map(r => org.apache.spark.sql.Row(r: _*)): _*), rSchema)
      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
      val plain = toMap(graft.ops.AsOfJoin.asOf(left, right, Seq("k"), "ts"))
      // 8-wide ts buckets: carries must cross ~8 bucket boundaries
      val bucketed = toMap(graft.ops.AsOfJoin.asOfBucketed(
        left, right, Seq("k"), "ts", floor(col("ts") / 8)))
      assert(bucketed == plain, s"seed=$seed")
      // degenerate widths: one row per bucket / everything in one bucket
      val fine = toMap(graft.ops.AsOfJoin.asOfBucketed(
        left, right, Seq("k"), "ts", col("ts")))
      val coarse = toMap(graft.ops.AsOfJoin.asOfBucketed(
        left, right, Seq("k"), "ts", lit(0)))
      assert(fine == plain && coarse == plain, s"seed=$seed degenerate widths")

      // auto-routing: the skew probe sees key 0 holding ~2/3 of rows ->
      // routes to the bucketed form; a de-skewed copy routes plain. Either
      // way the result is the plain result (equivalence pinned above).
      val (share, sampled) = graft.ops.AsOfJoin.keySkew(
        left, right, Seq("k"), sampleFraction = 1.0)
      assert(sampled == 170 && share > 0.5, s"share=$share sampled=$sampled")
      val auto = toMap(graft.ops.AsOfJoin.asOfAuto(left, right, Seq("k"), "ts",
        floor(col("ts") / 8), sampleFraction = 1.0))
      assert(auto == plain, s"seed=$seed auto routing must preserve semantics")
      val uniqLeft = left.withColumn("k", col("l_id")) // every key distinct
      val (share2, _) = graft.ops.AsOfJoin.keySkew(
        uniqLeft, right.withColumn("k", col("r_id")), Seq("k"), sampleFraction = 1.0)
      assert(share2 < 0.2, s"uniform keys must read as unskewed: $share2")
    }
  }

  test("as-of join edges: clashing payloads rejected, empty sides safe") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("v", LongType)))
    def df(rows: Seq[Seq[Any]]) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row(r: _*)): _*), schema)
    // same payload name on both sides is ambiguous -> reject loudly
    intercept[IllegalArgumentException] {
      graft.ops.AsOfJoin.asOf(df(Seq(Seq(1L, 1L, 1L))), df(Seq(Seq(1L, 1L, 2L))),
        Seq("k"), "ts")
    }
    val rSchema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("r_v", LongType)))
    val emptyRight = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rSchema)
    val out = graft.ops.AsOfJoin.asOf(df(Seq(Seq(1L, 5L, 9L))), emptyRight,
      Seq("k"), "ts").collect()
    assert(out.length == 1 && out(0).isNullAt(3)) // left-outer, null payload
    val emptyLeft = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(graft.ops.AsOfJoin.asOf(emptyLeft,
      df(Seq(Seq(1L, 1L, 2L))).select(col("k"), col("ts"), col("v").as("r_v")),
      Seq("k"), "ts").count() == 0)
  }

  test("gopher rules: each rule fires on its adversarial input, clean doc passes") {
    val goodBody = ("the analysis and measurement of careful methods " +
      "that have been reviewed with care over many long years ") * 3
    val docs = docsDf(Seq(
      (1L, goodBody),                                          // passes all
      (2L, "the of " + (1 to 28).map(i => s"word$i").mkString(" ")), // 30 words, ok
      (3L, "the and " + ("x " * 8)),                           // too few words
      (4L, "the of " + ("supercalifragilistic " * 30)),        // mean len > 10
      (5L, "the of " + ("w# " * 30)),                          // symbols > 10%
      (6L, "• the first\n• the second\nplain of line"),        // bullets > 10%
      (7L, "the one...\nthe two...\nof three"),                // ellipsis > 30%
      (8L, "the of " + ("123 456 789 " * 10)),                 // alpha < 80%
      (9L, ("zig zag zog " * 12) + "the of end pad pad"),      // trigram > 18%
      (10L, ("alpha beta gamma delta " * 10)),                 // no stop words
      // review pins: ASCII letter class (é/CJK words are NOT alphabetic —
      // the oracle's [A-Za-z]); control chars outside the explicit trim
      // set survive, so a U+0001-led line is NOT bullet-starting
      (11L, "the of " + ("é¼ " * 30)),
      (12L, "\u0001• the one\n\u0001• the two\nthe plain of line x")))
    val a = graft.ops.GopherFilters.audit(docs, minWords = 30, minStops = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("gopher_keep"),
          r.getAs[Boolean]("keep_word_count"),
          r.getAs[Boolean]("keep_mean_word_len"),
          r.getAs[Boolean]("keep_symbol_ratio"),
          r.getAs[Boolean]("keep_bullets"),
          r.getAs[Boolean]("keep_ellipsis"),
          r.getAs[Boolean]("keep_alpha_words"),
          r.getAs[Boolean]("keep_stop_words"),
          r.getAs[Boolean]("keep_repetition"))).toMap
    assert(a(1L)._1, s"clean doc must pass: ${a(1L)}")
    assert(a(2L)._1, s"exactly-minWords doc must pass: ${a(2L)}")
    assert(!a(3L)._2 && !a(3L)._1, "word count floor")
    assert(!a(4L)._3, "mean word length ceiling")
    assert(!a(5L)._4, "symbol ratio")
    assert(!a(6L)._5, "bullet lines")
    assert(!a(7L)._6, "ellipsis lines")
    assert(!a(8L)._7, "alpha words")
    assert(!a(10L)._8, "stop words")
    assert(!a(9L)._9, s"repetition: ${a(9L)}")
    assert(!a(11L)._7, s"non-ASCII letters are not alphabetic (oracle parity): ${a(11L)}")
    assert(a(12L)._5, s"U+0001-led lines are not bullets (trim-set parity): ${a(12L)}")
    val kept = graft.ops.GopherFilters.filter(docs, minWords = 30, minStops = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"got $kept")
    // map-only: no exchange in the audit plan
    val plan = graft.ops.GopherFilters.audit(docs).queryExecution
      .executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1200))
  }

  test("json extraction: typed from_json == path extraction, malformed -> null") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("props", StringType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Seq(
      (1L, """{"k": 7}"""), (2L, """{"k":0}"""), (3L, "not json"),
      (4L, null), (5L, """{"other": 9}"""))
      .map(r => org.apache.spark.sql.Row(r._1, r._2)): _*), schema)
    val out = df.select(col("id"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("typed"),
        get_json_object(col("props"), "$.k").cast("int").as("pathed"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == (Some(7), Some(7)))
    assert(out(2L) == (Some(0), Some(0)))
    assert(out(3L) == (None, None), s"malformed must be null: ${out(3L)}")
    assert(out(4L) == (None, None))
    assert(out(5L) == (None, None), "absent key is null under both forms")
  }

  test("leak-free splits: near-dup families never straddle train/eval") {
    // a 3-doc near-dup family + unrelated singletons. Under the PLAIN
    // by-doc-id hash the family members draw independent splits; under
    // the leak-free form they all ride the representative's draw.
    val base = sentence(7, 150)
    val nd1 = base.split(" ").toSeq.patch(30, Seq("alpha"), 1).mkString(" ")
    val nd2 = base.split(" ").toSeq.patch(90, Seq("beta"), 1).mkString(" ")
    val docs = docsDf(Seq((10L, base), (11L, nd1), (12L, nd2)) ++
      (20L to 40L).map(i => (i, sentence(i * 13 + 1, 120))))
    val w = Seq(("train", 0.5), ("val", 0.25), ("test", 0.25))
    val leakFree = graft.ops.Sampling
      .assignSplitsLeakFree(docs, w, salt = "s1", threshold = 0.7)
      .select("doc_id", "rep_id", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val family = leakFree.filter(r => Seq(10L, 11L, 12L).contains(r._1))
    assert(family.length == 3)
    assert(family.map(_._2).toSet == Set(10L), s"family rep must be min id: ${family.toSeq}")
    assert(family.map(_._3).toSet.size == 1, s"family split-pure: ${family.toSeq}")
    // singletons represent themselves and match the plain assignment
    val plain = graft.ops.Sampling.assignSplits(docs, w, salt = "s1")
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    leakFree.filter(_._1 >= 20L).foreach { case (id, rep, sp) =>
      assert(rep == id && sp == plain(id), s"singleton $id drifted: $rep/$sp")
    }
    // the counterexample that motivates the operator: with this salt the
    // plain hash actually splits the family (if it didn't, the test
    // would be vacuous — pin it)
    val plainFamily = Seq(10L, 11L, 12L).map(plain)
    assert(plainFamily.toSet.size > 1,
      s"plain assignment must split the family for this salt: $plainFamily")
  }

  test("url blocklist: PSL-resolved domains, subdomain match, null kept, broadcast anti") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType)))
    val docs = spark.createDataFrame(java.util.Arrays.asList(Seq(
      (1L, "https://badsite.co.uk/page"),          // blocked (exact)
      (2L, "http://a.b.badsite.co.uk/deep"),       // blocked (subdomain -> same fld)
      (3L, "https://www.goodsite.com/x"),          // kept (www-stripped fld)
      (4L, "https://other.co.uk"),                 // kept (sibling registration)
      (5L, "not a url at all"),                    // kept (null domain policy)
      (6L, "https://evil.github.io/p"),            // blocked (private-section fld)
      (7L, "https://innocent.github.io/p"))        // kept (private section splits users!)
      .map(r => org.apache.spark.sql.Row(r._1, r._2)): _*), schema)
    val blocklist = spark.createDataFrame(java.util.Arrays.asList(
      Seq("badsite.co.uk", "evil.github.io")
        .map(d => org.apache.spark.sql.Row(d)): _*),
      StructType(Seq(StructField("domain", StringType))))
    val audit = graft.ops.UrlFilter.auditBlocklist(docs, blocklist)
    val byId = audit.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[String]("domain")), r.getAs[Boolean]("blocked"))).toMap
    assert(byId(1L) == (Some("badsite.co.uk"), true))
    assert(byId(2L) == (Some("badsite.co.uk"), true), s"subdomain: ${byId(2L)}")
    assert(byId(3L) == (Some("goodsite.com"), false))
    assert(byId(4L) == (Some("other.co.uk"), false))
    assert(byId(5L) == (None, false), s"null domain never blocked: ${byId(5L)}")
    assert(byId(6L) == (Some("evil.github.io"), true))
    assert(byId(7L) == (Some("innocent.github.io"), false),
      "github.io is a private-section suffix: users are separate registrations")
    val kept = graft.ops.UrlFilter.filterBlocklist(docs, blocklist)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L, 7L), s"got $kept")
    // the corpus side must not shuffle: blocklist joins are broadcast
    val plan = graft.ops.UrlFilter.filterBlocklist(docs, blocklist)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan.take(1200))
  }

  test("curation pipeline: filters, dedups and accounts in one composed job") {
    val clean = "The quick brown fox jumps over the lazy dog and this is a " +
      "perfectly reasonable English sentence with many common words in it today."
    val near = clean.replace("today", "yesterday evening")
    val docs = docsDf(Seq(
      (1L, clean),                       // keeper
      (2L, clean),                       // exact dup of 1 -> dropped at stage 3
      (3L, near),                        // near dup of 1 -> dropped at stage 4
      (4L, "Der Hund und die Katze sind in das Haus mit dem Mann gegangen und das ist ein Satz."), // de -> dropped at stage 1
      (5L, "the 912 $$$ !!! ## @@@ 00 11 22 33 44 %% ^^ && ** (( ))"), // junk (en) -> stage 2
      (6L, "Here is another clean English document that should survive the " +
        "whole pipeline because it is made of normal words and sentences.")))
    val (curated, stats) = graft.jobs.CurateJob.curate(
      docs, keepLangs = Set("en"), minQuality = 0.45, nearThreshold = 0.6)
    val kept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 6L), s"got $kept")
    assert(stats.nInput == 6 && stats.nAfterLang == 5 && stats.nAfterQuality == 4
      && stats.nAfterDecontam == 4 // no benchmark passed: stage is identity
      && stats.nAfterExact == 3 && stats.nCurated == 2, stats.toString)
    // with a benchmark: a doc sharing a 13-gram with the eval set drops at
    // the decontamination stage BEFORE dedup, so its near-dup (doc 3) is
    // judged among survivors and becomes a keeper. The benchmark is
    // exactly the LAST 13 tokens of `clean` (one 13-gram, ending in
    // "today") — doc 3's "today"->"yesterday evening" rewrite breaks it,
    // so only the verbatim docs 1/2 are contaminated
    val bench = docsDf(Seq((100L,
      "is a perfectly reasonable English sentence with many common words in it today")))
    val (curated2, stats2) = graft.jobs.CurateJob.curate(
      docs, keepLangs = Set("en"), minQuality = 0.45, nearThreshold = 0.6,
      benchmark = Some(bench))
    val kept2 = curated2.select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 1 and 2 carry the benchmark 13-grams verbatim -> dropped; doc 3
    // (the "today"->"yesterday evening" rewrite) keeps no full 13-gram of
    // the benchmark and now survives as its own keeper
    assert(kept2 == Set(3L, 6L), s"got $kept2")
    assert(stats2.nAfterDecontam == 2 && stats2.nCurated == 2, stats2.toString)
    val row = curated.filter(col("doc_id") === 1L).head
    assert(row.getAs[Int]("ws_tokens") > 10)
    assert(row.getAs[String]("lang_pred") == "en")
    assert(row.getAs[Long]("fingerprint") ==
      graft.ops.TextAnalysis.fingerprint(clean))
    // and the curated corpus commits into the manifest table like any batch
    val out = java.nio.file.Files.createTempDirectory("graft_curated").toString + "/t"
    graft.table.TranscriptTable.writeBatch(curated, out, "b000",
      Map("n_turns" -> stats.nCurated.toString))
    assert(graft.table.TranscriptTable.committedRowCount(out) == stats.nCurated)
    assert(graft.table.TranscriptTable.read(spark, out).count() == stats.nCurated)

    // everything filtered away: stats report zeros, not an NPE from the
    // SQL-NULL sum over the empty curated frame
    val (emptyCur, emptyStats) = graft.jobs.CurateJob.curate(
      docsDf(Seq((1L, "nur deutsche Wörter und das ist kein Englisch"))),
      keepLangs = Set("en"), minQuality = 0.45, nearThreshold = 0.6)
    assert(emptyCur.count() == 0)
    assert(emptyStats.nCurated == 0 && emptyStats.totalWsTokens == 0L, emptyStats.toString)
  }

  test("quality score ranks clean text above noise") {
    val clean = "The quick brown fox jumps over the lazy dog and this is a fine sentence with many common words in it."
    val noise = "$$$@@@ 88219 !!%%^^ zzzzzzzzzzzzzzzzzzzzzz 00 11 22 33 ### &&&"
    val qc = TextAnalysis.qualityFeatures(clean)._7
    val qn = TextAnalysis.qualityFeatures(noise)._7
    assert(qc > qn + 0.2, s"clean=$qc noise=$qn")
  }

  test("langId stopword contract matches the DuckDB oracle on non-ASCII input") {
    // The oracled Latin path (SparkEntry x_langid_pred / x_langid_eval SQL)
    // splits on ASCII \W+ in BOTH engines, so "für" can never match as a
    // token ('ü' splits it into 'f'/'r') and must NOT be in the Scala set:
    // a text whose only German marker is "für" is 'la', not 'de'.
    assert(TextAnalysis.langId("Für Elise") == "la")
    // non-ASCII German with real (ASCII) stopwords still resolves to de
    assert(TextAnalysis.langId(
      "Das ist ein Text für die Schule und natürlich müssen wir das prüfen") == "de")
    // non-ASCII French: accents don't break the fr stopword path
    assert(TextAnalysis.langId(
      "Les élèves sont dans la classe et le professeur est déjà là pour une leçon") == "fr")
  }

  test("token counts: ws vs bpe estimate ordering") {
    val t = "hello world, this is tokenization"
    assert(TextAnalysis.wsTokenCount(t) == 5)
    assert(TextAnalysis.bpeTokenEstimate(t) >= 5)
    assert(TextAnalysis.bpeTokenEstimate("internationalization") > 1)
  }

  test("fingerprint ignores case/punct but not order") {
    import TextAnalysis.fingerprint
    assert(fingerprint("Hello, World!") == fingerprint("hello world"))
    assert(fingerprint("a b c") != fingerprint("c b a"))
  }

  test("multimodal feature extraction is deterministic over binary payloads") {
    val m = Multimodal.synthMedia(spark, 50)
    val f1 = Multimodal.extractFeatures(m).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(m).orderBy("media_id").collect()
    assert(f1.sameElements(f2))
    assert(f1.length == 50)
    assert(f1.forall(r => r.getDouble(2) >= 0 && r.getDouble(2) <= 1))
  }

  test("ivf ann: query's own cell always probed; scores exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.orderBy("vec_id").select("embedding").head.getSeq[Float](0).toArray
    val hits = graft.ops.Similarity.ivfTopK(emb, q, 20, nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(hits.nonEmpty)
    assert(math.abs(hits.head._2 - 1.0) < 1e-9, "query vector must rank first")
    // deterministic across invocations
    val hits2 = graft.ops.Similarity.ivfTopK(emb, q, 20, nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(hits.toSeq == hits2.toSeq)
  }

  test("incremental dedup against a corpus: exact and near variants") {
    val base = sentence(301, 90)
    val near = base.split(" ").toSeq.patch(5, Seq("zzz"), 1).mkString(" ")
    val corpus = docsDf(Seq((1L, base), (2L, sentence(302, 90))))
    val incoming = docsDf(Seq(
      (10L, base),              // exact copy of corpus doc 1
      (11L, near),              // near-dup of corpus doc 1
      (12L, sentence(303, 90)), // fresh
      (13L, sentence(304, 90)))) // fresh
    val exact = graft.ops.Dedup.exactDedupAgainst(incoming, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(11L, 12L, 13L), exact.toString) // only the exact copy dropped
    val nearKept = graft.ops.Dedup.nearDedupAgainst(incoming, corpus, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nearKept == Set(12L, 13L), nearKept.toString) // near-dup dropped too
    // incoming docs near-dup ONLY of each other survive (corpus is the ref)
    val selfPair = docsDf(Seq((20L, sentence(305, 90)),
      (21L, sentence(305, 90) + " tail")))
    val kept2 = graft.ops.Dedup.nearDedupAgainst(selfPair, corpus, threshold = 0.8)
      .count()
    assert(kept2 == 2)
  }

  test("signature store: zero-job warm rebuild; stored sigs reproduce dedup") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 250)
    val incoming = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") >= 250)
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore").toString
    graft.ops.Dedup.buildSignatureStore(corpus, dir) // cold: computes + writes
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.ops.Dedup.buildSignatureStore(corpus, dir) // warm: token match
      Thread.sleep(1000)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"warm signature build must no-op (${jobs.get()} jobs)")
    // stored signatures give the same incremental dedup result
    val sigs = graft.ops.Dedup.readSignatureStore(spark, dir)
    val direct = graft.ops.Dedup.nearDedupAgainst(incoming, corpus, 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stored = graft.ops.Dedup.nearDedupAgainst(incoming, corpus, 0.7,
        corpusSigs = Some(sigs))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stored == direct)
  }

  test("token-budget mixing: hash-prefix per stratum, exact greedy contract") {
    val sp = spark
    import sp.implicits._
    val docs = (0L until 200L).map { i =>
      (i, if (i % 2 == 0) "en" else "fr", 10) // 10 tokens each
    }.toDF("doc_id", "lang", "ws_tokens")
    val out = graft.ops.Sampling.tokenBudgetSample(docs,
      Map("en" -> 250L, "fr" -> 95L), salt = "t")
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en: prefix while before < 250 -> exactly 25 docs; fr: before < 95 ->
    // 10 docs (the 10th has before 90 < 95; overshoot-by-one contract)
    assert(byLang == Map("en" -> 25L, "fr" -> 10L), byLang.toString)
    // membership = the hash-order prefix, independently recomputed
    val enKept = out.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val enExpect = (0L until 200L).filter(_ % 2 == 0)
      .sortBy(id => (graft.ops.Sampling.hashBucket(id.toString, "t"), id))
      .take(25).toSet
    assert(enKept == enExpect)
    // unbudgeted strata are dropped
    assert(out.filter(!col("lang").isin("en", "fr")).count() == 0)

    // the skew-proof bucketed form is contract-identical, across range
    // widths including the degenerate one-range (= plain window) case
    for (r <- Seq(1, 7, 64)) {
      val bucketed = graft.ops.Sampling.tokenBudgetSampleBucketed(docs,
        Map("en" -> 250L, "fr" -> 95L), salt = "t", ranges = r)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val plain = out.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bucketed == plain, s"ranges=$r")
    }
    // and with realistic uneven token counts on the documents table
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("ws_tokens", graft.ops.WsTokenCount.ws_token_count(col("text")))
    val p2 = graft.ops.Sampling.tokenBudgetSample(real,
      Map("en" -> 20000L, "fr" -> 5000L), "m2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b2 = graft.ops.Sampling.tokenBudgetSampleBucketed(real,
      Map("en" -> 20000L, "fr" -> 5000L), "m2", ranges = 16)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(p2 == b2 && p2.nonEmpty)
  }

  test("deterministic sampling and splits: stable, disjoint, rate-accurate") {
    val sp = spark
    import sp.implicits._
    val docs = (0L until 5000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // splits are disjoint + exhaustive and BY KEY (pure hash function)
    val split = graft.ops.Sampling.assignSplits(docs,
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "s1")
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 5000)
    assert(math.abs(counts("train") - 4000.0) < 200, counts.toString)
    assert(math.abs(counts("val") - 500.0) < 120, counts.toString)
    // rerun + repartition changes nothing (no partitioning dependence)
    val again = graft.ops.Sampling.assignSplits(docs.repartition(17),
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "s1")
    assert(split.orderBy("doc_id").collect().toSeq ==
      again.orderBy("doc_id").collect().toSeq)
    // deterministicSample: membership equals the bucket predicate; two
    // salts give near-independent samples
    val s10 = graft.ops.Sampling.deterministicSample(docs, 0.1, "a")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(math.abs(s10.size - 500.0) < 120, s10.size.toString)
    assert(s10.forall(id => graft.ops.Sampling.hashBucket(id.toString, "a") < 100000))
    val s10b = graft.ops.Sampling.deterministicSample(docs, 0.1, "b")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val overlap = (s10 & s10b).size.toDouble
    assert(overlap < 120, s"salted samples must be ~independent: $overlap")
    // degenerate rates
    assert(graft.ops.Sampling.deterministicSample(docs, 0.0, "a").count() == 0)
    assert(graft.ops.Sampling.deterministicSample(docs, 1.0, "a").count() == 5000)
  }

  test("cosinePairsScaled: multi-table SRP finds every planted near-dup") {
    // 2000 unit vectors, every 10th a tiny perturbation of its predecessor
    // (cos > 0.99). Auto-sized bits (log2(2000/32)=6) would give a single
    // table only ~60% recall here; the 6-table OR must find ALL planted
    // pairs, and the exact-verify stage must keep precision exact.
    val sp = spark
    import sp.implicits._
    val dim = 32
    def vec(seed: Long): Array[Float] = {
      val v = Array.tabulate(dim)(i =>
        ((graft.jobs.Synth.mix(seed * 131 + i) >>> 11).toDouble / (1L << 53) - 0.5).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val rows = (0L until 2000L).map { id =>
      if (id % 10 == 1) {
        val base = vec(id - 1)
        base(0) = base(0) + 0.02f // tiny nudge; cos stays > 0.999
        (id, base.toSeq)
      } else (id, vec(id).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding").localCheckpoint()
    val got = graft.ops.Similarity.cosinePairsScaled(emb, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    val planted = (0L until 2000L).filter(_ % 10 == 1).map(id => (id - 1, id)).toSet
    assert(planted.subsetOf(gotPairs),
      s"missed ${planted -- gotPairs} of ${planted.size} planted pairs")
    assert(got.forall(_._3 >= 0.99), "exact verify must enforce the threshold")
    // random unit vectors at dim 32 essentially never reach cos 0.99
    assert(gotPairs == planted, s"unexpected extras: ${gotPairs -- planted}")
  }

  test("nearDedupAgainst: exact fallback covers capped corpus buckets") {
    // 30 identical corpus docs overflow every band bucket at maxBucket=10,
    // so the LSH path generates NO candidates for them — but an incoming
    // byte-identical copy must still drop (composed exactDedupAgainst),
    // and the capped buckets must be queryable, not silent
    // 40 tokens -> 38 3-gram shingles, so "+ tail" keeps J = 38/39 ~ 0.97
    val hot = sentence(400, 40)
    val corpus = docsDf((1L to 30L).map(i => (i, hot)) :+ (100L, sentence(401, 80)))
    val nearOfHot = hot + " tail"
    val incoming = docsDf(Seq(
      (200L, hot),          // exact copy of the capped group
      (201L, nearOfHot),    // NEAR-dup of the capped group (documented skip)
      (202L, sentence(402, 80))))
    val kept = Dedup.nearDedupAgainst(incoming, corpus, threshold = 0.8,
        maxBucket = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(200L), "exact copy of capped-bucket doc must drop")
    assert(kept.contains(202L), "fresh doc must survive")
    val keptNoFb = Dedup.nearDedupAgainst(incoming, corpus, threshold = 0.8,
        maxBucket = 10, exactFallback = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptNoFb.contains(200L),
      "without the fallback the capped exact copy silently survives (the documented trade)")
    val capped = Dedup.nearDedupAgainstCappedBuckets(corpus, maxBucket = 10).collect()
    assert(capped.nonEmpty && capped.forall(_.getLong(2) == 30L),
      s"capped-bucket audit table must surface the skipped group: ${capped.toSeq}")
    // uncapped, the near-dup drops too (sanity that only the cap skipped it)
    val keptUncapped = Dedup.nearDedupAgainst(incoming, corpus, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptUncapped == Set(202L), keptUncapped.toString)
  }

  test("keySkew: hot key in the LAST partitions is still detected") {
    // 9 range partitions of distinct keys + a 10th holding one hot key.
    // A global limit() would satisfy the row cap from the FIRST partitions
    // and miss the hot key entirely; the per-partition cap samples every
    // partition, so the probe sees the hot key's share.
    val sp = spark
    import sp.implicits._
    val rows = (1 to 900).map(i => (i, i.toLong)) ++
      (901 to 1000).map(i => (i, 999999L)) // hot key: 10% of rows, at the end
    val df = rows.toDF("ord", "user_id")
      .repartitionByRange(10, col("ord"))
      .select("user_id")
    val empty = Seq.empty[(Long, Long)].toDF("user_id", "drop").select("user_id")
    val (share, sampled) = graft.ops.AsOfJoin.keySkew(df, empty,
      Seq("user_id"), sampleFraction = 1.0, maxSampleRows = 100)
    assert(sampled > 0 && sampled <= 110, s"sampled=$sampled must honor the cap")
    assert(share >= 0.05, s"hot key share invisible to the probe: share=$share")
  }

  test("asOfAuto route cache: delimiter-bearing key names never alias") {
    // Raw '+'/':' delimiters would serialize keys Seq("a","b") and the
    // single column "a+b" identically — a cached routing decision for one
    // would be served for the other (ADVICE r5). Percent-encoding makes
    // serialize/parse exact inverses for any column name.
    import graft.ops.AsOfJoin.{persistKey, decodeKeyComponents}
    val twoCol = persistKey((1L, 2L, Seq("a", "b"), 0.2))
    val oneCol = persistKey((1L, 2L, Seq("a+b"), 0.2))
    assert(twoCol != oneCol, s"aliased: $twoCol")
    for (keys <- Seq(Seq("a", "b"), Seq("a+b"), Seq("a:b", "c%d"), Seq("ts+x:y"))) {
      val ks = persistKey((1L, 2L, keys, 0.2)).split(':') match {
        // ':' inside components is encoded, so the raw split has exactly 4 parts
        case Array(_, _, mid, _) => mid
        case other => fail(s"unexpected key shape: ${other.toSeq}")
      }
      assert(decodeKeyComponents(ks) == keys, s"round-trip broke for $keys")
    }
  }

  test("asOfAuto: probe decision cached per input token; skew hint skips probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_cache").toString
    val sp = spark
    import sp.implicits._
    (1L to 200L).map(i => (i % 7, 1000L + i, i)).toDF("user_id", "ts", "event_id")
      .write.parquet(s"$dir/l")
    (1L to 200L).map(i => (i % 7, 990L + i, 100000L + i)).toDF("user_id", "ts", "matched")
      .write.parquet(s"$dir/r")
    val l = spark.read.parquet(s"$dir/l")
    val r = spark.read.parquet(s"$dir/r")
    // cold call pays the probe job and populates the routing cache
    val first = graft.ops.AsOfJoin.asOfAuto(l, r, Seq("user_id"), "ts",
      col("ts"))
    val firstN = first.count()
    // warm call on the SAME file-backed inputs must build its plan with
    // ZERO Spark jobs (the probe is the only eager action inside asOfAuto)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val second =
      try {
        val d = graft.ops.AsOfJoin.asOfAuto(l, r, Seq("user_id"), "ts", col("ts"))
        Thread.sleep(500)
        d
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"cached routing must skip the probe (${jobs.get()} jobs ran)")
    assert(second.count() == firstN)
    // caller-supplied hint skips the probe even for in-memory frames
    val lm = (1L to 50L).map(i => (i % 3, 100L + i, i)).toDF("user_id", "ts", "event_id")
    val rm = (1L to 50L).map(i => (i % 3, 90L + i, 1000L + i)).toDF("user_id", "ts", "matched")
    spark.sparkContext.addSparkListener(listener)
    val hinted =
      try {
        val d = graft.ops.AsOfJoin.asOfAuto(lm, rm, Seq("user_id"), "ts",
          col("ts"), skewHint = Some(false))
        Thread.sleep(500)
        d
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"skew hint must skip the probe (${jobs.get()} jobs ran)")
    // hinted plain and hinted bucketed agree (equivalence is pinned
    // elsewhere; here we just confirm both hint paths construct)
    val plainRows = hinted.orderBy("event_id").collect().toSeq
    val bucketed = graft.ops.AsOfJoin.asOfAuto(lm, rm, Seq("user_id"), "ts",
      col("ts"), skewHint = Some(true)).orderBy("event_id").collect().toSeq
    assert(plainRows == bucketed)
  }

  test("incremental curation: within-batch pipeline + cross-corpus drops compose") {
    // English-looking planted texts so the lang/quality filters keep them
    def enText(seed: Long): String = {
      val filler = (0 until 60).map(i =>
        "the word" + graft.jobs.Synth.mix(seed * 97 + i).toHexString.take(3) +
          " of this and that for is").mkString(" ")
      filler
    }
    val base = enText(1)
    val corpus = docsDf(Seq((1L, base), (2L, enText(2))))
    val incoming = docsDf(Seq(
      (10L, base),                                 // exact corpus copy -> drop
      (11L, base + " with tail words added here"), // near-dup of corpus -> drop
      (12L, enText(3)),                            // fresh -> keep
      (13L, enText(3)),                            // within-batch exact dup of 12 -> drop
      (14L, "zz"),                                 // fails the quality floor -> drop
      (15L, enText(4))))                           // fresh -> keep
    val (survivors, stats) = graft.jobs.CurateJob.curateIncremental(
      incoming, corpus, keepLangs = Set("en"), minQuality = 0.3,
      nearThreshold = 0.8)
    val kept = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L, 15L), s"got $kept")
    assert(stats.batch.nInput == 6 && stats.nCurated == 2)
    assert(stats.totalWsTokens > 0)
    // the persisted signature store yields the identical result
    val sigDir = java.nio.file.Files.createTempDirectory("graft_inccur_sigs").toString
    graft.ops.Dedup.buildSignatureStore(corpus, sigDir)
    val sigs = graft.ops.Dedup.readSignatureStore(spark, sigDir).localCheckpoint()
    val (s2, _) = graft.jobs.CurateJob.curateIncremental(
      incoming, corpus, keepLangs = Set("en"), minQuality = 0.3,
      nearThreshold = 0.8, corpusSigs = Some(sigs))
    assert(s2.select("doc_id").collect().map(_.getLong(0)).toSet == kept)
  }

  test("decontamination: benchmark n-gram overlap flags exactly the leaked docs") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // leaked 5-gram
      (2L, "one two three four five six seven"),             // clean
      (3L, "alpha beta gamma delta epsilon other tail words"), // same leak
      (4L, "too short text"),                                // < n tokens: never flagged
      (5L, "five six seven eight nine ten")                  // clean
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "prefix words alpha beta gamma delta epsilon suffix")
    ).toDF("doc_id", "text")
    val audit = graft.ops.Dedup.contaminatedDocs(corpus, bench, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(audit == Map(1L -> 1L, 3L -> 1L), audit.toString)
    val kept = graft.ops.Dedup.decontaminate(corpus, bench, n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L))
    // the benchmark side broadcasts: no corpus-side shuffle in the plan
    val plan = graft.ops.Dedup.contaminatedDocs(corpus, bench, n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(1500))
  }

  test("repetition counts: hand-checked diversity numerators") {
    import graft.ops.TextAnalysis.repetitionCounts
    assert(repetitionCounts("") == ((0, 0, 0, 0, 0)))
    assert(repetitionCounts(null) == ((0, 0, 0, 0, 0)))
    // tokens a b a b a: uni a=3; bigrams "a b"x2 "b a"x2; trigrams "a b a"x2
    assert(repetitionCounts("a b a b a") == ((5, 2, 3, 2, 2)))
    assert(repetitionCounts("spam spam spam spam") == ((4, 1, 4, 3, 2)))
    assert(repetitionCounts("all distinct words here now") == ((5, 5, 1, 1, 1)))
    assert(repetitionCounts("Tik tok") == ((2, 2, 1, 1, 0))) // <3 tokens: no trigram
  }

  test("extension builders enforce arity with a clear error") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val byName = graft.GraftExtensions.functions
      .map(f => f._1 -> f._3).toMap
    val lit = Literal("x")
    // wrong arity -> IllegalArgumentException naming the function, not an
    // IndexOutOfBoundsException from exprs(1)
    val e1 = intercept[IllegalArgumentException] { byName("cosine_sim")(Seq(lit)) }
    assert(e1.getMessage.contains("cosine_sim") && e1.getMessage.contains("expected 2"))
    val e2 = intercept[IllegalArgumentException] { byName("ws_token_count")(Seq(lit, lit)) }
    assert(e2.getMessage.contains("expected 1"))
    // correct arity still constructs
    assert(byName("simhash64")(Seq(lit)).isInstanceOf[graft.ops.SimHash64])
  }
}
