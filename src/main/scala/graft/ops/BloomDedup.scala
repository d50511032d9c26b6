package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Sharded Bloom-filter membership over document content hashes — the
  * batch-vs-corpus dedup GATE a continuously-ingesting pipeline runs
  * before any exact machinery (the Dolma pipeline dedups paragraphs
  * against a Bloom filter the same way; CCNet shards hashes for the same
  * reason). The contract split matters:
  *
  *  - the FILTER is probabilistic (false positives only — a Bloom filter
  *    has NO false negatives, so a "not seen" verdict is final);
  *  - the exported dedup result stays EXACT: probe-positive rows (true
  *    dups + the fp tail) are confirmed against the persisted md5 store,
  *    so a false positive costs a lookup, never a wrongly dropped row.
  *
  * Scale shape: the filter is a DATAFRAME of (shard, bits) rows, not one
  * driver array — `shards` splits the key space so no single bit array
  * outgrows an executor, the md5 store is laid out `shard=`-partitioned
  * so the confirm join scans only the shards the candidate sliver
  * touches (directory pruning), and the batch side never shuffles more
  * than 16 bytes per key at build / the positive sliver at probe. Probe
  * broadcasts the filter (10 bits/key → 12 MB per 10M keys); past
  * broadcast scale raise `shards` and use [[mightContainCogrouped]],
  * which co-shuffles batch keys with their shard's bits instead.
  *
  * Append is exact algebra, not approximation: OR-ing a new batch's bit
  * positions into the committed arrays yields BIT-IDENTICAL filters to a
  * full rebuild over the union (same m, k — set bits are a pure union of
  * per-key positions, order-free). What DOES degrade as keys accumulate
  * is the false-positive rate (m is sized at first build); the meta
  * tracks n_keys so staleness is a queryable number ([[bloomLoad]]) —
  * the no-silent-degradation convention. */
object BloomDedup {

  /** md5 hex → (h1, h2) for Kirsch–Mitzenmacher double hashing:
    * position_i = (h1 + i*h2) mod m, i < k. h1 = lower 8 digest bytes
    * little-endian (== Dedup.md5Lower64), h2 = upper 8. */
  private[graft] def hashPair(md5hex: String): (Long, Long) = {
    // h2: upper 8 digest bytes, big-endian fold
    var h2 = 0L
    var i = 0
    while (i < 8) {
      h2 = (h2 << 8) | (Integer.parseInt(md5hex.substring(i * 2, i * 2 + 2), 16) & 0xffL)
      i += 1
    }
    // h1: lower 8 digest bytes little-endian — the md5Lower64 convention
    var h1 = 0L
    i = 15
    while (i >= 8) {
      h1 = (h1 << 8) | (Integer.parseInt(md5hex.substring(i * 2, i * 2 + 2), 16) & 0xffL)
      i -= 1
    }
    (h1, h2)
  }

  /** splitmix64 finalizer — sharding must NOT reuse h1 mod shards: m is
    * a multiple of 8 and shards is typically a power of two, so keys of
    * one shard would share h1's low residue and their probe positions
    * (h1 + i*h2 mod m) would collapse onto one residue class per probe,
    * inflating the fp rate ~5x (measured). The mix decorrelates shard
    * from position. */
  private[ops] def mix64(z0: Long): Long = {
    var z = z0
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[ops] def shardOf(h1: Long, shards: Int): Int =
    java.lang.Math.floorMod(mix64(h1), shards.toLong).toInt

  private val shardUdf = udf((h1: Long, shards: Int) => shardOf(h1, shards))

  private[ops] def setBits(bits: Array[Byte], h1: Long, h2: Long, k: Int): Unit = {
    val m = bits.length.toLong * 8
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i.toLong * h2, m)
      bits((pos >>> 3).toInt) = (bits((pos >>> 3).toInt) | (1 << (pos & 7).toInt)).toByte
      i += 1
    }
  }

  private[ops] def testBits(bits: Array[Byte], h1: Long, h2: Long, k: Int): Boolean = {
    val m = bits.length.toLong * 8
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i.toLong * h2, m)
      if ((bits((pos >>> 3).toInt) & (1 << (pos & 7).toInt)) == 0) return false
      i += 1
    }
    true
  }

  // null-safe: a null text row has a null md5 and NO key — it can never
  // match anything (SQL join keys never equal null), so key extraction
  // drops it and probes answer "definitely new" instead of NPE-ing the task
  private val hashPairUdf = udf((md5hex: String) =>
    if (md5hex == null) null else hashPair(md5hex))

  /** Distinct content keys of a frame as (h1, h2, shard). */
  private def keyed(df: DataFrame, textCol: String, shards: Int): DataFrame =
    df.select(md5(col(textCol)).as("__md5")).distinct()
      .filter(col("__md5").isNotNull)
      .withColumn("__hp", hashPairUdf(col("__md5")))
      .select(col("__hp._1").as("h1"), col("__hp._2").as("h2"))
      .withColumn("shard", shardUdf(col("h1"), lit(shards)))

  /** Build (or refresh) the filter + the shard-partitioned md5 store over
    * `corpus`. One corpus scan; per-shard bit arrays are built by one
    * task per shard over a 16-byte-per-key shuffle (raise `shards` until
    * a shard's keys fit a task comfortably). m is sized from the DISTINCT
    * key count at `bitsPerKey` bits each, rounded up to whole bytes per
    * shard. No-op when the committed token matches the corpus (zero
    * jobs). */
  def buildBloom(corpus: DataFrame, dir: String, bitsPerKey: Int = 10,
      nHashes: Int = 7, shards: Int = 64, textCol: String = "text",
      rebuild: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    val token = StoreMeta.inputToken(corpus)
    if (!rebuild && StoreMeta.fresh(spark, dir, "bloom", token)) return
    // barrier: the store write, count, and filter build all read the keys
    val keys = keyed(corpus, textCol, shards).localCheckpoint()
    val nKeys = keys.count()
    val perShard = math.max(1L, (nKeys + shards - 1) / shards)
    val bytesPerShard = math.max(8L, (perShard * bitsPerKey + 7) / 8).toInt
    // the md5 store: shard-partitioned so a confirm join prunes to the
    // candidate sliver's shards at the DIRECTORY level
    keys.select(col("shard"), col("h1"), col("h2"))
      .repartition(col("shard"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard").parquet(s"$dir/keys")
    val kLocal = nHashes
    val bytesLocal = bytesPerShard
    import spark.implicits._
    val filters = keys.select(col("shard"), col("h1"), col("h2"))
      .as[(Int, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val bits = new Array[Byte](bytesLocal)
        it.foreach { case (_, h1, h2) => setBits(bits, h1, h2, kLocal) }
        (shard, bits)
      }.toDF("shard", "bits")
    filters.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/filters")
    StoreMeta.write(spark, dir, StoreMeta.of("kind" -> "bloom", "k" -> nHashes,
      "shards" -> shards, "bytes_per_shard" -> bytesPerShard, "n_keys" -> nKeys,
      "token" -> token.getOrElse(0L), "design_bpk" -> bitsPerKey))
  }

  /** OR a new batch's keys into the committed filter and append them to
    * the md5 store — O(batch + touched shards), never a corpus rebuild.
    * The resulting bit arrays are BIT-IDENTICAL to a full rebuild over
    * the union at the same (m, k): set bits are a union of per-key
    * positions, so OR order is immaterial. `newToken` re-pins freshness
    * (the appendLsh convention: the token must always move). Re-appended
    * keys are EXACTLY excluded (filter probe + store confirm on the hit
    * sliver), so n_keys stays the true distinct count and the store never
    * accumulates duplicate rows. */
  def appendBloom(newDocs: DataFrame, dir: String, newToken: Option[Long],
      textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val meta = StoreMeta.expect(spark, dir, "bloom")
    val shards = meta("shards").toInt
    val kLocal = meta("k").toInt
    val bytesLocal = meta("bytes_per_shard").toInt
    val batchKeys = keyed(newDocs, textCol, shards).localCheckpoint()
    // exact NOVELTY at O(batch) on the happy path: keys the caller
    // re-appends (already in the store) must neither duplicate store rows
    // nor inflate n_keys — the fp-rate diagnostic's denominator. Probe the
    // committed filter first (a miss is novel by no-false-negatives, zero
    // IO); only the hit sliver pays a shard-pruned store confirm.
    val filtersAll = spark.read.parquet(s"$dir/filters")
      .as[(Int, Array[Byte])].collect().toMap
    val bcF = spark.sparkContext.broadcast(filtersAll)
    val hitUdf = udf((h1: Long, h2: Long) =>
      bcF.value.get(shardOf(h1, shards))
        .exists(b => testBits(b, h1, h2, kLocal)))
    val flagged = batchKeys.withColumn("__hit", hitUdf(col("h1"), col("h2")))
      .localCheckpoint()
    val misses = flagged.filter(!col("__hit")).drop("__hit")
    val hitShards = flagged.filter(col("__hit"))
      .select("shard").distinct().as[Int].collect().toSeq
    val keys = (if (hitShards.isEmpty) misses else {
      // a hit shard always has a filter row, hence >= 1 store key, hence
      // an existing shard= directory (build and append both write keys
      // before bits)
      val store = spark.read.option("basePath", s"$dir/keys")
        .parquet(hitShards.map(sh => s"$dir/keys/shard=$sh"): _*)
        .select(col("h1"), col("h2"))
      misses.unionByName(flagged.filter(col("__hit")).drop("__hit")
        .join(store, Seq("h1", "h2"), "left_anti"))
    }).localCheckpoint()
    val nNew = keys.count()
    keys.select(col("shard"), col("h1"), col("h2"))
      .repartition(col("shard"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("shard").parquet(s"$dir/keys")
    val touched = keys.select("shard").distinct().as[Int].collect().toSet
    if (touched.nonEmpty) {
      val old = spark.read.parquet(s"$dir/filters")
        .filter(col("shard").isin(touched.toSeq: _*))
        .as[(Int, Array[Byte])]
      // co-group committed bits with the batch keys per shard: one task
      // per touched shard ORs the new positions in
      val updated = old.groupByKey(_._1).cogroup(
          keys.select(col("shard"), col("h1"), col("h2"))
            .as[(Int, Long, Long)].groupByKey(_._1)) {
        (shard, oldIt, newIt) =>
          val bits = oldIt.toSeq.headOption.map(_._2)
            .getOrElse(new Array[Byte](bytesLocal))
          newIt.foreach { case (_, h1, h2) => setBits(bits, h1, h2, kLocal) }
          Iterator((shard, bits))
      }.toDF("shard", "bits")
      val untouched = spark.read.parquet(s"$dir/filters")
        .filter(!col("shard").isin(touched.toSeq: _*))
      // rewrite via staging dir + swap: the source of the union includes
      // the live filters, so an in-place Overwrite would read-while-delete
      val staged = s"$dir/filters.staged"
      untouched.unionByName(updated)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staged)
      graft.util.Fs.rmrf(s"$dir/filters")
      // FileContext.rename THROWS on failure (java.io.File.renameTo
      // returns a silently-ignorable false): a failed swap must abort
      // BEFORE the meta re-pin, leaving a stale token that degrades the
      // next tick to the direct path + cold rebuild — never a fresh-looking
      // filter with no bits behind it
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new org.apache.hadoop.fs.Path(staged).toUri,
        spark.sparkContext.hadoopConfiguration)
      fc.rename(new org.apache.hadoop.fs.Path(staged),
        new org.apache.hadoop.fs.Path(s"$dir/filters"))
    }
    val nKeysNow = meta("n_keys").toLong + nNew
    // append never resizes the bit arrays (OR-identity to a rebuild
    // requires fixed m), so a long-running pipeline's fp rate degrades as
    // n_keys outgrows build-time sizing. Degradation stays a NUMBER
    // (bloomLoad), but past half the designed bits/key it also becomes a
    // log line telling the operator to schedule the rebuild — never a
    // silent slide into a fat fp sliver that bloats every confirm join.
    for (d <- meta.get("design_bpk").map(_.toInt) if nKeysNow > 0) {
      val liveBpk = bytesLocal.toLong * 8 * shards / nKeysNow.toDouble
      if (liveBpk < d / 2.0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"bloom filter $dir%s overfull: $liveBpk%.1f live bits/key vs " +
            f"$d%d designed (n_keys=$nKeysNow%d) - fp rate is degrading, " +
            "rebuild with buildBloom(rebuild = true) in the next maintenance window")
    }
    StoreMeta.write(spark, dir,
      meta.updated("n_keys" -> nKeysNow, "token" -> newToken.getOrElse(0L)))
  }

  /** Filter load factor diagnostics: (n_keys, bits_per_key_now, the
    * designed bits_per_key at build). Callers rebuild when the live
    * bits-per-key falls below their fp tolerance — degradation is a
    * number, never a surprise. */
  def bloomLoad(spark: SparkSession, dir: String): (Long, Double) = {
    val meta = StoreMeta.expect(spark, dir, "bloom")
    val mTotal = meta("bytes_per_shard").toLong * 8 * meta("shards").toLong
    val n = meta("n_keys").toLong
    (n, if (n == 0) Double.PositiveInfinity else mTotal.toDouble / n)
  }

  /** Probe: adds `hitCol` (true = POSSIBLY seen, false = DEFINITELY new).
    * Broadcast form — the filter rides to every executor once. */
  def mightContain(batch: DataFrame, dir: String, textCol: String = "text",
      hitCol: String = "bloom_hit"): DataFrame = {
    val spark = batch.sparkSession
    val meta = StoreMeta.expect(spark, dir, "bloom")
    val kLocal = meta("k").toInt
    val shards = meta("shards").toInt
    import spark.implicits._
    val filters = spark.read.parquet(s"$dir/filters")
      .as[(Int, Array[Byte])].collect().toMap
    val bc = spark.sparkContext.broadcast(filters)
    val probeUdf = udf((md5hex: String) => {
      if (md5hex == null) false // null text: no key, definitely new
      else {
        val (h1, h2) = hashPair(md5hex)
        bc.value.get(shardOf(h1, shards))
          .exists(bits => testBits(bits, h1, h2, kLocal))
      }
    })
    batch.withColumn(hitCol, probeUdf(md5(col(textCol))))
  }

  /** Auto-routed probe (the asOfAuto convention, but METADATA-ONLY: the
    * filter's total size is two fields of the committed meta, so the
    * decision costs zero jobs and needs no cache). Below
    * `broadcastMaxBytes` the filter broadcasts — rides to every executor
    * once, probe is pure map-side; past it, [[mightContainCogrouped]]
    * co-shuffles batch keys with their shard's bits so NO single JVM ever
    * holds more than one shard's array.
    *
    * The threshold is a MEMORY bound, not a wall-clock crossover: the
    * round-7 bloom-route ladder (BENCH.md) measured warm-cache broadcast
    * walls staying ahead of the cogroup through 119 MB locally (0.6 s vs
    * 0.8 s at 100M keys), with only cold first-touch runs favoring the
    * cogroup — what actually breaks the broadcast form at scale is
    * shards*bytes_per_shard pinned on the driver AND every executor (at
    * 10 bits/key that crosses 1 GB around 800M keys) plus the per-query
    * re-collect on a cold driver. 256 MB/JVM is the residency budget the
    * default spends before switching. `routeHint` skips the decision for
    * callers that know their deployment; the decision is logged either
    * way. */
  def mightContainAuto(batch: DataFrame, dir: String,
      textCol: String = "text", hitCol: String = "bloom_hit",
      broadcastMaxBytes: Long = 256L << 20,
      routeHint: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val meta = StoreMeta.expect(spark, dir, "bloom")
    val filterBytes = meta("bytes_per_shard").toLong * meta("shards").toLong
    val route = routeHint.getOrElse(
      if (filterBytes <= broadcastMaxBytes) "broadcast" else "cogroup")
    require(route == "broadcast" || route == "cogroup",
      s"unknown bloom route hint: $route")
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"bloom probe route=$route for $dir (filter ${filterBytes} B, " +
        s"broadcast threshold $broadcastMaxBytes B" +
        routeHint.map(_ => ", hinted").getOrElse("") + ")")
    if (route == "broadcast") mightContain(batch, dir, textCol, hitCol)
    else mightContainCogrouped(batch, dir, textCol, hitCol)
  }

  /** Probe for filters past broadcast scale: batch keys co-shuffle with
    * their shard's bits — each task holds ONE shard's array, the batch
    * moves once, the filter moves once. */
  def mightContainCogrouped(batch: DataFrame, dir: String,
      textCol: String = "text", hitCol: String = "bloom_hit"): DataFrame = {
    val spark = batch.sparkSession
    val meta = StoreMeta.expect(spark, dir, "bloom")
    val kLocal = meta("k").toInt
    val shards = meta("shards").toInt
    import spark.implicits._
    val withKey = batch.withColumn("__md5", md5(col(textCol)))
      .withColumn("__hp", hashPairUdf(col("__md5")))
      .withColumn("__h1", col("__hp._1")).withColumn("__h2", col("__hp._2"))
      .withColumn("__shard", shardUdf(col("__h1"), lit(shards)))
      .drop("__md5", "__hp")
    val schema = withKey.schema
    val filters = spark.read.parquet(s"$dir/filters").as[(Int, Array[Byte])]
    val out = withKey.as(Encoders.row(schema)).groupByKey(
        r => r.getAs[Int]("__shard"))(Encoders.scalaInt)
      .cogroup(filters.groupByKey(_._1)) { (shard, rows, fIt) =>
        val bits = fIt.toSeq.headOption.map(_._2)
        rows.map { r =>
          // null text → null key (lands in shard 0 with null __h1):
          // definitely new, and getAs[Long] would silently unbox to 0
          val hit = !r.isNullAt(r.fieldIndex("__h1")) && bits.exists(b =>
            testBits(b, r.getAs[Long]("__h1"), r.getAs[Long]("__h2"), kLocal))
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ hit)
        }
      }(Encoders.row(org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField(
          hitCol, org.apache.spark.sql.types.BooleanType, nullable = false))))
    out.drop("__h1", "__h2", "__shard")
  }

  /** APPROXIMATE incremental dedup — the form Dolma actually runs at
    * scale: drop every probe-positive row, accepting the designed fp
    * rate as collateral loss. Purely map-side (the filter broadcasts,
    * the corpus/store is NEVER touched per batch, nothing shuffles), so
    * per-batch cost is O(batch) regardless of corpus size — the regime
    * where this beats every join-based form (measured: the exact
    * [[dedupAgainst]] pays a store join that a plain pre-hashed
    * anti-join matches; THIS form is the one that wins, at the price of
    * ~fp-rate wrongly dropped rows, bounded and queryable via
    * [[bloomLoad]]). */
  def dedupAgainstApprox(batch: DataFrame, dir: String,
      textCol: String = "text",
      routeHint: Option[String] = None): DataFrame =
    mightContainAuto(batch, dir, textCol, "__hit", routeHint = routeHint)
      .filter(!col("__hit")).drop("__hit")

  /** EXACT incremental dedup through the Bloom gate: rows the filter
    * clears are new by the no-false-negative law and skip all joins; the
    * positive sliver (true dups + fp tail) is confirmed against the
    * shard-partitioned md5 store, scanning only the shards the sliver
    * touches. Output == [[Dedup.exactDedupAgainst]] against the corpus
    * the filter was built/appended over — bit-for-bit, which is what the
    * oracle row pins. */
  def dedupAgainst(batch: DataFrame, dir: String,
      textCol: String = "text",
      routeHint: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val meta = StoreMeta.expect(spark, dir, "bloom")
    val shards = meta("shards").toInt
    val flagged = mightContainAuto(batch, dir, textCol, "__hit",
      routeHint = routeHint).localCheckpoint()
    val cleared = flagged.filter(!col("__hit")).drop("__hit")
    val sliver = flagged.filter(col("__hit")).drop("__hit")
      .withColumn("__hp", hashPairUdf(md5(col(textCol))))
      .withColumn("h1", col("__hp._1")).withColumn("h2", col("__hp._2"))
      .withColumn("shard", shardUdf(col("h1"), lit(shards)))
      .drop("__hp")
    import spark.implicits._
    val touched = sliver.select("shard").distinct().as[Int].collect().toSeq
    val survivors =
      if (touched.isEmpty) sliver.drop("h1", "h2", "shard")
      else {
        val store = spark.read
          .option("basePath", s"$dir/keys")
          .parquet(touched.map(sh => s"$dir/keys/shard=$sh"): _*)
          .select(col("h1"), col("h2")).distinct()
        sliver.join(store, Seq("h1", "h2"), "left_anti")
          .drop("h1", "h2", "shard")
      }
    cleared.unionByName(survivors)
  }
}
