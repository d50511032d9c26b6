package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Distributed AS-OF join: for each left row, the single right row with the
  * greatest event time <= the left row's time, per key — the "join to the
  * latest prior state" primitive (features-as-of-label-time, latest model
  * snapshot per example, price-as-of-trade).
  *
  * Composition, not a custom physical operator (brief preference (a)): tag
  * both sides, UNION on a common schema, and run ONE running last-value
  * window per key ordered by (ts, side, right-payload). That is a single
  * shuffle on the key + a sort within partitions — the naive
  * range-condition join (`l.ts >= r.ts` equi+theta) degenerates to a
  * per-key cross product at scale, while this stays O(n log n) per key.
  * Skewed keys fall under the same AQE/salting policy as any window op.
  *
  * Contract: `left`/`right` share EXACTLY the `keys` and `ts` columns;
  * their other columns are disjoint payloads. Right rows must be uniquely
  * ordered per key by (ts, payload...) — the match is the lexicographic
  * argmax, ties broken by the payload columns ascending, so the result is
  * deterministic. Left rows with no prior right row keep null payloads
  * (left-outer semantics). A right row AT the left row's exact ts matches
  * (inclusive as-of, DuckDB `ASOF JOIN ... ON l.ts >= r.ts` semantics). */
object AsOfJoin {

  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String): DataFrame = {
    val common = keys :+ ts
    val lPayload = left.columns.toSeq.filterNot(common.contains)
    val rPayload = right.columns.toSeq.filterNot(common.contains)
    require(lPayload.intersect(rPayload).isEmpty,
      s"payload columns must be disjoint: ${lPayload.intersect(rPayload)}")
    val ordered = (common ++ lPayload ++ rPayload) :+ "__is_left"

    val lFull = rPayload.foldLeft(left.withColumn("__is_left", lit(1)))(
      (d, c) => d.withColumn(c, lit(null).cast(right.schema(c).dataType)))
      .select(ordered.map(col): _*)
    val rFull = lPayload.foldLeft(right.withColumn("__is_left", lit(0)))(
      (d, c) => d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
      .select(ordered.map(col): _*)

    // right (0) sorts before left (1) at equal ts -> inclusive as-of;
    // right ties at equal ts resolve by payload ascending -> last() is the
    // deterministic argmax
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(ts).asc +: col("__is_left").asc +: rPayload.map(col(_).asc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // the payload propagates as ONE struct: per-column last(ignoreNulls)
    // would TEAR rows when a right row carries a null field (that column
    // alone would backfill from an older right row); the struct is
    // non-null exactly on right rows, so the match is row-atomic
    lFull.union(rFull)
      .withColumn("__r", when(col("__is_left") === 0,
        struct(rPayload.map(col): _*)))
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__is_left") === 1)
      .select((common ++ lPayload).map(col) ++
        rPayload.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Skew-hardened as-of: identical contract to [[asOf]], but the running
    * window partitions on (key, ts-bucket) so ONE hot key spreads across
    * buckets instead of serializing into a single window task; a second
    * pass over one row per (key, bucket) — tiny by construction — carries
    * the last right row across bucket boundaries, and a left row whose
    * bucket holds no prior right row takes that carry-in.
    *
    * `bucketExpr` must be a deterministic non-decreasing function of the
    * `ts` column with orderable values (e.g. `date_trunc("hour", ts)`,
    * `floor(col(ts) / width)`). Bucket width trades skew protection
    * against carry-table size. */
  def asOfBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, bucketExpr: org.apache.spark.sql.Column): DataFrame = {
    val common = keys :+ ts
    val lPayload = left.columns.toSeq.filterNot(common.contains)
    val rPayload = right.columns.toSeq.filterNot(common.contains)
    require(lPayload.intersect(rPayload).isEmpty,
      s"payload columns must be disjoint: ${lPayload.intersect(rPayload)}")
    val ordered = (common ++ lPayload ++ rPayload) :+ "__is_left"

    val lFull = rPayload.foldLeft(left.withColumn("__is_left", lit(1)))(
      (d, c) => d.withColumn(c, lit(null).cast(right.schema(c).dataType)))
      .select(ordered.map(col): _*)
    val rFull = lPayload.foldLeft(right.withColumn("__is_left", lit(0)))(
      (d, c) => d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
      .select(ordered.map(col): _*)
    val u = lFull.union(rFull)
      .withColumn("__b", bucketExpr)
      .withColumn("__r", when(col("__is_left") === 0,
        struct(rPayload.map(col): _*)))

    val rawOrder = col(ts) +: col("__is_left") +: rPayload.map(col(_))
    // pass 1: local running last within (key, bucket) — skew bounded by
    // the bucket width, not by the key's total volume
    val wLocal = Window.partitionBy((keys :+ "__b").map(col): _*)
      .orderBy(rawOrder.map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localFilled = u.withColumn("__local", last(col("__r"), ignoreNulls = true).over(wLocal))

    // pass 2 (tiny): one row per (key, bucket) = the bucket's FINAL right
    // row; running last over bucket order gives each bucket its carry-in
    // from all earlier buckets
    val wInBucketDesc = Window.partitionBy((keys :+ "__b").map(col): _*)
      .orderBy(rawOrder.map(_.desc_nulls_last): _*)
    val bucketLast = u.filter(col("__is_left") === 0)
      .withColumn("__rn", row_number().over(wInBucketDesc))
      .filter(col("__rn") === 1)
      .select((keys :+ "__b").map(col) :+ col("__r").as("__carry"): _*)
    val allBuckets = u.select((keys :+ "__b").map(col): _*).distinct()
    val wCarry = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = allBuckets
      .join(bucketLast, keys :+ "__b", "left")
      .withColumn("__carry_in", last(col("__carry"), ignoreNulls = true).over(wCarry))
      .select((keys :+ "__b").map(col) :+ col("__carry_in"): _*)

    localFilled
      .join(carryIn, keys :+ "__b")
      .filter(col("__is_left") === 1)
      .withColumn("__r", coalesce(col("__local"), col("__carry_in")))
      .select((common ++ lPayload).map(col) ++
        rPayload.map(c => col(s"__r.$c").as(c)): _*)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Cheap key-skew probe: top-key share of a BOUNDED uniform sample of the
    * two inputs' key columns (column-pruned scan; Bernoulli `sample` needs
    * no prior count). Returns (topKeyShare, sampledRows).
    *
    * The sample must be per-ROW Bernoulli, NOT a hash of the key columns:
    * hashing the key keeps or drops every row of a key together, turning
    * the probe into a sample of KEYS — it would miss the hot key 99% of
    * the time and report a meaningless share for whichever key survived
    * (caught by a scale probe, BENCH.md: share=1.0 from a single sampled tail key).
    *
    * The row bound is a PER-PARTITION cap (`maxSampleRows / nPartitions`),
    * not a global `limit`: `limit` satisfies itself from the first
    * partitions, so a hot key living in later partitions would be
    * invisible whenever the sampled count exceeds the cap — exactly the
    * shape the probe exists to catch. With the per-partition cap every
    * partition contributes, and what the cap truncates is the Bernoulli
    * sample stream (already row-random within the partition). */
  private[graft] def keySkew(left: DataFrame, right: DataFrame,
      keys: Seq[String], sampleFraction: Double = 0.01,
      maxSampleRows: Int = 100000): (Double, Long) = {
    val sampled = left.select(keys.map(col): _*)
      .unionByName(right.select(keys.map(col): _*))
      .sample(withReplacement = false, sampleFraction, seed = 42L)
      // \u0001 separator + null sentinel: concat_ws("") would merge
      // distinct multi-column keys like ("ab","c")/("a","bc") - or
      // (null,"x")/("","x"), since concat_ws skips nulls - into one
      // synthetic hot key and inflate the share (review finding)
      .select(concat_ws("\u0001",
        keys.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*).as("k"))
    import sampled.sparkSession.implicits._
    val ks = sampled.as[String]
    val perPart = math.max(1,
      maxSampleRows / math.max(1, ks.rdd.getNumPartitions))
    // per-partition RESERVOIR (Algorithm R), not take(perPart): take keeps
    // the earliest sampled rows, so when the cap binds a hot key clustered
    // at partition TAILS (key-sorted data) is underrepresented — the
    // finer-grained version of the global-limit defect. The reservoir keeps
    // a uniform subset of each partition's sample stream. Seeded by
    // partition id: deterministic across runs.
    val probe = ks.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val rnd = new java.util.Random(0x9e3779b97f4a7c15L ^ pid.toLong)
      val res = new scala.collection.mutable.ArrayBuffer[String](
        math.min(perPart, 1024))
      var seen = 0L
      while (it.hasNext) {
        val x = it.next()
        if (res.length < perPart) res += x
        else {
          val j = (rnd.nextDouble() * (seen + 1)).toLong
          if (j < perPart) res(j.toInt) = x
        }
        seen += 1
      }
      res.iterator
    }.toDF("k")
    val agg = probe.groupBy(col("k")).count()
      .agg(max(col("count")).as("top"), sum(col("count")).as("total")).head
    if (agg.isNullAt(1) || agg.getLong(1) == 0L) (0.0, 0L)
    else (agg.getLong(0).toDouble / agg.getLong(1), agg.getLong(1))
  }

  /** Routing-decision cache for [[asOfAuto]]: the skew probe costs a
    * bounded but real job (~1 s at sf0.1 — measured round 4; in a cold
    * JVM it is mostly probe-plan codegen), and an ongoing pipeline
    * re-joins the SAME file-backed inputs every run, so the decision is
    * memoized per (left-token, right-token, keys, threshold) using the
    * metadata-only [[StoreMeta.inputToken]] (input file listing — no data
    * scan). In-memory frames have no provable version (token None) and
    * always re-probe. The cache is also PERSISTED (tiny properties file
    * in java.io.tmpdir, best-effort) so repeat runs in fresh JVMs —
    * scheduled pipeline invocations, bench sweeps — skip the probe too;
    * a token change (new input version) changes the key, so staleness is
    * impossible by construction. */
  // values are java.lang.Boolean: a primitive-valued Scala CHM would unbox
  // a missing key's null to `false` and read as a cached PLAIN decision
  private val routeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long, Seq[String], Double), java.lang.Boolean]()

  /** Per-USER cache dir (tmpdir is cross-user on multi-tenant hosts: a
    * world-readable shared file would let one tenant read another's input
    * paths folded into tokens, and a writable one would let them poison
    * routing decisions). Overridable for tests via graft.asof.cache.dir. */
  private def routeCacheFile: java.io.File = {
    val base = sys.props.get("graft.asof.cache.dir").getOrElse(
      System.getProperty("java.io.tmpdir") + java.io.File.separator +
        "graft-" + System.getProperty("user.name", "nouser"))
    new java.io.File(base, "asof_routes.properties")
  }
  @volatile private var routeCacheLoaded = false

  /** Max persisted entries: the file is keyed by input freshness tokens, so
    * every new input version adds a row forever — trim oldest-written
    * entries past this bound (each value carries its write millis). */
  private val routeCacheMaxEntries = 512

  /** Key components are percent-encoded before joining on ':' / '+': raw
    * delimiters would alias keys Seq("a","b") with a single column named
    * "a+b" (a cached decision for one served for the other), and a ':' in
    * a column name would silently never round-trip (review finding). */
  private def encComp(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case '%' => b.append("%25")
      case ':' => b.append("%3a")
      case '+' => b.append("%2b")
      case c   => b.append(c)
    }
    b.toString
  }

  private def decComp(s: String): String = s
    .replace("%3a", ":").replace("%3A", ":")
    .replace("%2b", "+").replace("%2B", "+")
    .replace("%25", "%")

  private[graft] def persistKey(k: (Long, Long, Seq[String], Double)): String =
    s"${k._1}:${k._2}:${k._3.map(encComp).mkString("+")}:${k._4}"

  private[graft] def decodeKeyComponents(ks: String): Seq[String] =
    ks.split('+').toSeq.filter(_.nonEmpty).map(decComp)

  private def loadPersistedRoutes(): Unit = if (!routeCacheLoaded) synchronized {
    if (routeCacheLoaded) return
    try {
      val f = routeCacheFile
      if (f.exists()) {
        val p = new java.util.Properties()
        val in = new java.io.FileInputStream(f)
        try p.load(in) finally in.close()
        p.forEach { (k, v) =>
          k.toString.split(':') match {
            case Array(lt, rt, ks, th) =>
              routeCache.putIfAbsent((lt.toLong, rt.toLong,
                decodeKeyComponents(ks), th.toDouble),
                // value format "decision@writeMillis"; bare "decision" is
                // the pre-r6 format, still readable
                java.lang.Boolean.valueOf(v.toString.split('@').head))
            case _ => ()
          }
        }
      }
    } catch { case _: Exception => () } // best-effort cache, never fatal
    routeCacheLoaded = true
  }

  private def persistRoute(k: (Long, Long, Seq[String], Double), d: Boolean): Unit =
    synchronized {
      try {
        val f = routeCacheFile
        val p = new java.util.Properties()
        if (f.exists()) {
          val in = new java.io.FileInputStream(f)
          try p.load(in) finally in.close()
        }
        p.setProperty(persistKey(k), s"$d@${System.currentTimeMillis()}")
        // bound the file: tokens change with every input version, so the
        // entry set grows without it — evict the oldest-written entries
        if (p.size > routeCacheMaxEntries) {
          def writtenAt(v: String): Long = v.split('@') match {
            case Array(_, ms) => try ms.toLong catch { case _: Exception => 0L }
            case _            => 0L
          }
          val entries = p.entrySet().asScala
            .map(e => (e.getKey.toString, e.getValue.toString)).toSeq
          entries.sortBy(e => writtenAt(e._2))
            .take(p.size - routeCacheMaxEntries)
            .foreach { case (key, _) => p.remove(key) }
        }
        java.nio.file.Files.createDirectories(f.getParentFile.toPath)
        val tmp = java.io.File.createTempFile("asof_routes", ".tmp",
          f.getParentFile)
        val os = new java.io.FileOutputStream(tmp)
        try p.store(os, "asOfAuto routing decisions keyed by input freshness tokens")
        finally os.close()
        if (!tmp.renameTo(f)) { // same-dir rename is atomic on POSIX
          java.nio.file.Files.move(tmp.toPath, f.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      } catch { case _: Exception => () }
    }

  /** Auto-routing as-of join: probes key skew and picks [[asOf]] (one
    * window shuffle — wins whenever no key dominates) or [[asOfBucketed]]
    * (skew insurance — a dominant key would serialize the plain form's
    * window into one straggler task). The measured local crossover
    * (BENCH.md as-of probe) favors plain well past 10M rows per key, so
    * the default `hotKeyShare` routes to bucketed only for the pathological
    * shapes the bucketed form exists for. The decision is logged.
    *
    * Probe amortization: `skewHint = Some(isSkewed)` skips the probe
    * entirely (the caller already knows its key distribution); otherwise
    * the decision is cached per (input tokens, keys, threshold) so only
    * the FIRST invocation on a given input version pays the probe job. */
  def asOfAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, bucketExpr: org.apache.spark.sql.Column,
      hotKeyShare: Double = 0.2, sampleFraction: Double = 0.01,
      maxSampleRows: Int = 100000,
      skewHint: Option[Boolean] = None): DataFrame = {
    val useBucketed = skewHint match {
      case Some(hint) =>
        log.info(s"asOfAuto: caller skew hint -> " +
          (if (hint) "BUCKETED" else "PLAIN"))
        hint
      case None =>
        loadPersistedRoutes()
        val cacheKey = for {
          lt <- StoreMeta.inputToken(left)
          rt <- StoreMeta.inputToken(right)
        } yield (lt, rt, keys, hotKeyShare)
        cacheKey.flatMap(k => Option(routeCache.get(k))) match {
          case Some(cached) =>
            log.info(s"asOfAuto: cached routing decision -> " +
              (if (cached.booleanValue) "BUCKETED" else "PLAIN"))
            cached.booleanValue
          case None =>
            val (share, sampled) =
              keySkew(left, right, keys, sampleFraction, maxSampleRows)
            val d = sampled > 0 && share >= hotKeyShare
            log.info(s"asOfAuto: topKeyShare=$share over $sampled sampled rows -> " +
              (if (d) "BUCKETED (skew-hardened)" else "PLAIN (single window)"))
            cacheKey.foreach { k => routeCache.put(k, d); persistRoute(k, d) }
            d
        }
    }
    if (useBucketed) asOfBucketed(left, right, keys, ts, bucketExpr)
    else asOf(left, right, keys, ts)
  }
}
