package graft.table

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg-*like* table: partitioned Parquet + an atomic per-batch commit
  * manifest (SURVEY.md §7.5). Iceberg jars are absent from this image, so
  * snapshot semantics are realized manually:
  *
  *   table/
  *     data/batch=<id>/...parquet      -- data files for one batch
  *     _manifests/manifest-<id>.json   -- atomic commit marker (tmp+link);
  *                                        also the batch's files, schema,
  *                                        row count and lineage ([[Lineage]])
  *
  * A batch is visible iff its manifest exists; a crashed batch leaves only
  * orphan data files that a re-run overwrites. Re-running a committed batch
  * is a no-op (idempotent resume). [[Manifest]] is the one codec of the
  * manifest JSON: [[commit]] writes its `render`, and every reader goes
  * through [[manifest]], one bounded cache of parsed records. A real Iceberg
  * catalog can implement the same interface unchanged. */
object TranscriptTable {

  def manifestDir(table: String): Path = Paths.get(table, "_manifests")
  def dataDir(table: String, batchId: String): String = s"$table/data/batch=$batchId"
  private def manifestPath(table: String, batchId: String): Path =
    manifestDir(table).resolve(s"manifest-$batchId.json")

  def committedBatches(table: String): Seq[String] = {
    val dir = manifestDir(table)
    if (!Files.exists(dir)) return Seq.empty
    val stream = Files.list(dir)
    try stream.iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("manifest-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("manifest-").stripSuffix(".json"))
      .toSeq.sorted
    finally stream.close()
  }

  def isCommitted(table: String, batchId: String): Boolean =
    Files.exists(manifestPath(table, batchId))

  /** Write one batch then commit it atomically. `manifestExtra` carries the
    * batch lineage summary into the manifest for audit; [[commit]] records
    * `df.schema` in its reader-side (relaxed) form — schema evolution
    * resolves from manifests alone, the Iceberg model, never from data-file
    * footers. `statsCols` opts the batch into file-level min/max bounds
    * ([[FileStats]]) for manifest-pruned reads ([[readRange]]) — one
    * batch-local columnar aggregate before the commit flip. */
  def writeBatch(df: DataFrame, table: String, batchId: String,
      manifestExtra: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil): Unit = {
    if (isCommitted(table, batchId)) return // idempotent resume
    writeData(df, table, batchId)
    commit(table, batchId, df.schema,
      manifestExtra ++ statsExtras(df.sparkSession, table, batchId, statsCols))
  }

  /** File-stats manifest entries for a STAGED (written, uncommitted)
    * batch: collected by re-scanning only the stats columns of the
    * just-written parquet, grouped by file. Empty `statsCols` → no
    * entries (zero cost). */
  def statsExtras(spark: SparkSession, table: String, batchId: String,
      statsCols: Seq[String]): Map[String, String] =
    if (statsCols.isEmpty) Map.empty
    else Map(
      "stats_cols" -> statsCols.mkString(","),
      "file_stats" -> FileStats.encode(
        FileStats.collect(spark, dataDir(table, batchId), statsCols)))

  /** Stage the data files of one batch WITHOUT committing: the batch stays
    * invisible (no manifest) until [[commit]] flips it. Lets callers fold
    * lineage/metrics inside the write job (`Dataset.observe`) and commit
    * them afterwards, instead of caching the whole in-flight batch. */
  def writeData(df: DataFrame, table: String, batchId: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dataDir(table, batchId))

  /** Stage several batches in one write: `df`'s `batch` column names the
    * batch of each row, and its other columns land in that batch's
    * [[dataDir]]. Dynamic partition overwrite replaces only the directories
    * of batches that get rows, so other batches' data, committed or not, is
    * never touched. */
  def writeData(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(s"$table/data")

  /** Atomically publish a staged batch: a [[Manifest]] of the batch's
    * parquet files, `extra` and `schema`, written to a tmp file and
    * hard-linked into place. The schema is recorded in the reader-side form
    * ([[relaxNullable]]: every nullability flag true, as a parquet reader
    * sees it) and must union with the live batches' schemas BEFORE the
    * manifest flips — every commit path (writeBatch, commitStaged,
    * streaming ingest, compaction, rewrites) funnels through here, so an
    * incompatible type change fails the offending write instead of
    * bricking reads. */
  def commit(table: String, batchId: String, schema: StructType,
      extra: Map[String, String] = Map.empty): Unit = {
    val relaxed = relaxNullable(schema).asInstanceOf[StructType]
    unionSchema(table, liveBatches(table), Some(batchId -> relaxed)) // throws on a type change
    val mdir = manifestDir(table)
    Files.createDirectories(mdir)
    val files = {
      val stream = Files.list(Paths.get(dataDir(table, batchId)))
      try stream.iterator.asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      finally stream.close()
    }
    val json = Manifest(batchId, files, extra + ("schema" -> relaxed.json)).render
    // writer-unique tmp: two racing committers of the same batch id must
    // never share a staging file, or the winner could publish the loser's
    // half-written bytes
    val tmp = mdir.resolve(
      s".manifest-$batchId.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, json.getBytes(UTF_8))
    // CAS visibility flip: hard-linking into place is create-EXCLUSIVE, so
    // when two writers race on one batch id exactly one wins and the loser
    // gets a clean error — never a torn or silently overwritten manifest.
    // (A plain ATOMIC_MOVE rename REPLACES an existing target on POSIX.)
    try Files.createLink(manifestPath(table, batchId), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new IllegalStateException(
          s"concurrent commit: batch $batchId already committed in $table")
    }
    Files.delete(tmp)
  }

  private val manifests = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long, Long), Manifest]()

  /** The committed batch's manifest record: the one read path of manifest
    * files. A manifest is immutable once committed (CAS link; compaction
    * writes NEW manifests), so each is read and parsed once per JVM and
    * only stat'ed on later uses. The cache key folds the file's (size,
    * mtime), so a table deleted and rebuilt at the same path in one JVM can
    * never serve a stale record. Bounded: cleared wholesale past 8192
    * entries (a JVM touching that many batches is a maintenance job). */
  def manifest(table: String, batchId: String): Manifest = {
    if (manifests.size > 8192) manifests.clear()
    val mf = manifestPath(table, batchId)
    val attrs = Files.readAttributes(mf,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    manifests.computeIfAbsent(
      (table, batchId, attrs.size, attrs.lastModifiedTime.toMillis), _ => {
        val m = Manifest.parse(new String(Files.readAllBytes(mf), UTF_8))
        require(m.batchId == batchId, s"manifest-$batchId.json in $table records batch ${m.batchId}")
        m
      })
  }

  private[graft] def manifestValue(table: String, batchId: String, key: String) =
    manifest(table, batchId).entries.get(key)

  /** Batch ids retired by compaction manifests (optionally only manifests
    * up to `upTo`, for time travel). Driver-side manifest reads only. */
  def replacedBatches(table: String, upTo: String = null): Set[String] =
    committedBatches(table)
      .filter(b => upTo == null || b <= upTo)
      .flatMap(manifest(table, _).replaces)
      .toSet

  /** The batches a snapshot reader should scan: committed minus retired.
    * With `asOf`, retirement by LATER compactions is ignored, so a
    * pre-compaction snapshot still reads the original batches (valid until
    * [[vacuum]] reclaims their files — the expire-snapshots trade-off). */
  def liveBatches(table: String, asOf: String = null): Seq[String] = {
    val all = committedBatches(table).filter(b => asOf == null || b <= asOf)
    val retired = all.flatMap(manifest(table, _).replaces).toSet
    all.filterNot(retired.contains)
  }

  /** Read all committed batches (snapshot view). */
  def read(spark: SparkSession, table: String): DataFrame =
    readAsOf(spark, table, null)

  /** The batch's recorded schema. Every manifest [[commit]] writes carries
    * one, so a manifest without it came from outside the program and is an
    * error, never a cue to infer the schema from data-file footers. */
  def batchSchema(table: String, batchId: String): StructType =
    manifest(table, batchId).schema.getOrElse(throw new IllegalStateException(
      s"manifest of batch $batchId in $table records no schema"))

  /** The batch's recorded per-file column bounds, if any. */
  def fileStats(table: String, batchId: String)
      : Map[String, Map[String, FileStats.ColStat]] =
    manifest(table, batchId).fileStats

  /** Stats columns recorded by the given batches' manifests — rewrites
    * (delete/update/merge/compact) inherit them so superseding a batch
    * never silently LOSES prunability a layout had: a table skippable on
    * (ts, event_id) stays skippable on both after any rewrite. */
  private def inheritedStatsCols(table: String, batches: Seq[String]): Seq[String] =
    batches.flatMap(manifest(table, _).statsCols).distinct

  /** Data files listed by the batch's manifest (names, not paths). */
  def batchFiles(table: String, batchId: String): Seq[String] =
    manifest(table, batchId).files

  /** Recursively relax every nullability flag (top-level `nullable`, array
    * `containsNull`, map `valueContainsNull`, nested struct fields) to true:
    * the form a parquet reader sees. [[commit]] records every batch schema
    * in this form, so schemas that differ only in these flags (a pre-write
    * `df.schema` often has containsNull=false) compare equal and the union
    * never fails on them. */
  private[graft] def relaxNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = relaxNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(relaxNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(relaxNullable(m.keyType), relaxNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Union schema of `batches`, plus the `adding` batch [[commit]]
    * validates, per the table's evolution contract: ADDING columns is
    * supported (old rows read the new column as null); changing a column's
    * type fails naming both batches — at commit, the offending write (the
    * Iceberg model). Resolved from manifests alone, never from data-file
    * footers (the parquet `mergeSchema` option reads EVERY footer, a job
    * of its own at 100 TB). */
  private def unionSchema(table: String, batches: Seq[String],
      adding: Option[(String, StructType)] = None): StructType = {
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, (String, StructField)]
    (batches.map(b => b -> batchSchema(table, b)) ++ adding).foreach { case (b, schema) =>
      schema.fields.foreach { f =>
        fields.get(f.name) match {
          case None => fields(f.name) = (b, f)
          case Some((prevBatch, prev)) =>
            require(prev.dataType == f.dataType,
              s"schema evolution supports ADDING columns only: ${f.name} is " +
                s"${prev.dataType.simpleString} in batch $prevBatch and " +
                s"${f.dataType.simpleString} in batch $b of $table")
        }
      }
    }
    StructType(fields.values.map(_._2).toSeq)
  }

  /** The one read of committed data: `paths` (the batches' data dirs, or a
    * pruned subset of their files) planned with the union of `batches`'
    * recorded schemas, so added columns read as null in batches that
    * predate them. */
  private def scan(spark: SparkSession, table: String, batches: Seq[String],
      paths: Seq[String]): DataFrame =
    spark.read.schema(unionSchema(table, batches)).parquet(paths: _*)

  /** Time-travel-ish read: only batches committed up to `asOfBatch`
    * (inclusive, lexicographic batch-id order — ids are zero-padded),
    * planned with their union schema ([[scan]]). */
  def readAsOf(spark: SparkSession, table: String, asOfBatch: String): DataFrame = {
    val batches = liveBatches(table, asOfBatch)
    require(batches.nonEmpty, s"no committed batches in $table")
    scan(spark, table, batches, batches.map(dataDir(table, _)))
  }

  /** A manifest-pruned scan plan for `column` in [lo, hi]: which data
    * files can contain a matching row, per the recorded [[FileStats]]
    * bounds. Files of batches without stats (or without stats for this
    * column) are KEPT — pruning is never allowed to be wrong, only to be
    * unavailable. The skipped count is the audit (no silent caps: how
    * much a query's layout saved is a queryable number, not a guess). */
  final case class ScanPlan(keptPaths: Seq[String], nFilesTotal: Int,
      nFilesSkipped: Int, batches: Seq[String]) {
    /** The batches owning at least one kept file: the only ones a pruned
      * rewrite has to read. A kept path's parent is its batch's [[dataDir]]. */
    def touchedBatches: Seq[String] = {
      val dirs = keptPaths.map(p => Paths.get(p).getParent.getFileName.toString).toSet
      batches.filter(b => dirs(s"batch=$b"))
    }
  }

  def planRange(table: String, column: String, lo: Any, hi: Any,
      asOfBatch: String = null): ScanPlan = {
    val batches = liveBatches(table, asOfBatch)
    require(batches.nonEmpty, s"no committed batches in $table")
    val loC = FileStats.canonBound(lo)
    val hiC = FileStats.canonBound(hi)
    var total = 0
    var skipped = 0
    val kept = Seq.newBuilder[String]
    batches.foreach { b =>
      val m = manifest(table, b)
      total += m.files.length
      m.files.foreach { f =>
        // both bounds null = no range predicate at all: every file is
        // kept, INCLUDING all-null/absent-column files — readRange's
        // predicate degenerates to keep-everything (null rows included),
        // so pruning on "a range can't match null" would drop their rows
        val keep = (loC == null && hiC == null) ||
          (m.fileStats.get(f).flatMap(_.get(column)) match {
            case Some(s) => FileStats.overlaps(s, loC, hiC)
            case None    => true // no bounds recorded for this file/column
          })
        if (keep) kept += s"${dataDir(table, b)}/$f" else skipped += 1
      }
    }
    ScanPlan(kept.result(), total, skipped, batches)
  }

  /** Range read with manifest-level data skipping: plans via
    * [[planRange]], scans only overlapping files (with the union schema,
    * so evolution still resolves), then applies the EXACT predicate —
    * bounds prune IO, the filter pins semantics. Bounds are inclusive;
    * null = unbounded on that side. */
  def readRange(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, asOfBatch: String = null): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val plan = planRange(table, column, lo, hi, asOfBatch)
    val pred = (if (lo == null) lit(true) else col(column) >= lit(lo)) &&
      (if (hi == null) lit(true) else col(column) <= lit(hi))
    if (plan.keptPaths.isEmpty)
      return readAsOf(spark, table, asOfBatch).filter(lit(false))
    scan(spark, table, plan.batches, plan.keptPaths).filter(pred)
  }

  /** Small-file compaction (Iceberg-style table maintenance): rewrite a set
    * of committed batches as ONE new batch with `targetFiles` files and
    * atomically supersede them. The flip is a single manifest rename — the
    * new manifest carries `replaces`, and readers resolve retirement at
    * listing time, so a snapshot never sees the rows twice or not at all.
    * Old manifests stay on disk: `isCommitted` keeps answering true for
    * replaced ids, so a resumed producer still no-ops on them. Old DATA
    * stays until [[vacuum]], keeping pre-compaction time travel valid. */
  def compact(spark: SparkSession, table: String, batchIds: Seq[String],
      newBatchId: String, targetFiles: Int = 1): Unit =
    compactWith(spark, table, batchIds, newBatchId,
      _.coalesce(targetFiles), Nil)

  /** Clustering compaction: rewrite the batches RANGE-PARTITIONED and
    * sorted on `sortCols`, so each output file owns a disjoint slice of
    * the sort-key space — the layout that makes [[readRange]] pruning on
    * those columns effective (Iceberg's rewrite_data_files with a sort
    * order). File bounds for `statsCols` (default: the sort columns) are
    * recorded on the new manifest. Sorting is a batch-set-local shuffle —
    * compaction-sized, never table-sized. */
  def compactSorted(spark: SparkSession, table: String, batchIds: Seq[String],
      newBatchId: String, sortCols: Seq[String], targetFiles: Int,
      statsCols: Seq[String] = Nil): Unit = {
    require(sortCols.nonEmpty, "compactSorted needs sort columns")
    import org.apache.spark.sql.functions.col
    val cols = sortCols.map(col)
    compactWith(spark, table, batchIds, newBatchId,
      df => df.repartitionByRange(targetFiles, cols: _*)
        .sortWithinPartitions(cols: _*),
      if (statsCols.isEmpty) sortCols else statsCols)
  }

  /** Z-order clustering compaction ([[ZOrder]]): multi-dimensional
    * locality, so [[readRange]] prunes on EVERY z column — the layout for
    * tables queried along more than one axis (time AND key, say). File
    * bounds for all z columns are recorded. */
  def compactZOrder(spark: SparkSession, table: String, batchIds: Seq[String],
      newBatchId: String, zCols: Seq[String], targetFiles: Int,
      statsCols: Seq[String] = Nil): Unit =
    compactWith(spark, table, batchIds, newBatchId,
      df => ZOrder.cluster(df, zCols, targetFiles),
      if (statsCols.isEmpty) zCols else statsCols)

  private def compactWith(spark: SparkSession, table: String,
      batchIds: Seq[String], newBatchId: String,
      layout: DataFrame => DataFrame, statsCols: Seq[String]): Unit = {
    require(batchIds.nonEmpty, "nothing to compact")
    require(batchIds.forall(isCommitted(table, _)),
      s"compact requires committed batches: $batchIds")
    require(!isCommitted(table, newBatchId), s"$newBatchId already committed")
    // time travel resolves retirement from manifests with id <= asOf, so a
    // compaction manifest must sort AFTER everything it replaces — otherwise
    // a snapshot between newBatchId and the replaced ids would double-read
    require(batchIds.forall(_ < newBatchId),
      s"compacted batch id $newBatchId must sort after the batches it replaces")
    val retired = replacedBatches(table)
    require(batchIds.forall(!retired.contains(_)),
      "a batch can be compacted only once")
    // compaction reads with the union schema too: the rewritten batch
    // must not silently drop a column added mid-history
    val df = scan(spark, table, batchIds, batchIds.map(dataDir(table, _)))
    writeData(layout(df), table, newBatchId)
    // carry the replaced row counts and lineage so manifest-only monitoring
    // stays exact: the rows are the same, so their lineage merges
    val replaced = batchIds.map(manifest(table, _))
    val lineage = replaced.flatMap(_.lineage)
    commit(table, newBatchId, df.schema, Map(
      "replaces" -> batchIds.sorted.mkString(","),
      "n_turns" -> replaced.map(_.nTurns).sum.toString) ++
      (if (lineage.isEmpty) Map.empty else Map("lineage" -> Lineage.mergeEntries(lineage))) ++
      statsExtras(spark, table, newBatchId,
        (statsCols ++ inheritedStatsCols(table, batchIds)).distinct))
  }

  /** Summary of a pruned copy-on-write rewrite: how many live batches the
    * table had, how many actually rewrote (the rest were skipped by file
    * bounds at ZERO IO), and the row counts of the rewritten slice before
    * and after. A replayed (already-committed) `newBatchId` returns all
    * zeros with `nBatchesRewritten` = 0. */
  final case class RewriteStats(nBatchesTotal: Int, nBatchesRewritten: Int,
      rowsBefore: Long, rowsAfter: Long)

  /** Row-level DELETE (Iceberg's `DELETE FROM ... WHERE col BETWEEN lo
    * AND hi` under copy-on-write): batches whose recorded file bounds
    * cannot contain a matching row are NOT TOUCHED — no read, no rewrite,
    * their manifests stay live — and only the overlapping batches are
    * rewritten without the matching rows and atomically superseded
    * (`replaces`, the compaction flip). At 100 TB this is the difference
    * between a key-range purge (GDPR-style) costing a full table rewrite
    * and costing a few batches of IO. Null values in `column` never match
    * a range and always survive; bounds are inclusive, null = unbounded
    * on that side (both null = every row matches: the whole table
    * rewrites empty). Time travel to pre-delete snapshots stays valid
    * until [[vacuum]]; replaying a committed `newBatchId` no-ops. The new
    * batch re-records file bounds for `column` (plus `statsCols`), so
    * later range reads keep pruning. */
  def deleteRange(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, newBatchId: String,
      statsCols: Seq[String] = Nil): RewriteStats =
    cowRewrite(spark, table, column, lo, hi, newBatchId, statsCols,
      (df, cond) => df.filter(org.apache.spark.sql.functions.not(
        org.apache.spark.sql.functions.coalesce(cond,
          org.apache.spark.sql.functions.lit(false)))))

  /** Row-level UPDATE over a key range (`UPDATE ... SET c = expr WHERE
    * col BETWEEN lo AND hi`): matching rows get each `set` column
    * replaced by its expression, every other row passes through
    * unchanged; only bounds-overlapping batches rewrite. SQL UPDATE
    * semantics: the range condition AND every SET expression evaluate
    * against the OLD row (one projection applies them simultaneously),
    * so SET may safely rewrite the range column itself or reference
    * other SET columns. This is the in-place redaction path — e.g.
    * `set = Map("text" -> piiScrubExpr)` scrubs one conversation-id
    * range without touching the rest of the table. */
  def updateRange(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, newBatchId: String,
      set: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String] = Nil): RewriteStats = {
    require(set.nonEmpty, "updateRange needs SET columns")
    // validate SET names up front against the table's recorded union —
    // a typo'd column must fail NOW, not silently no-op on every tick
    // whose range happens to miss all file bounds
    val tableUnion = unionSchema(table, liveBatches(table))
    val absent = set.keySet -- tableUnion.fieldNames.toSet
    require(absent.isEmpty, s"SET columns absent from table: $absent")
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    cowRewrite(spark, table, column, lo, hi, newBatchId, statsCols,
      (df, cond) => {
        // schema evolution: a SET column recorded in the TABLE union but
        // absent from the touched (older) batches reads as null there —
        // SQL UPDATE semantics, so the rewrite ADDS it (typed from the
        // recorded union) with old-value null, instead of failing a
        // rewrite the up-front validation already admitted
        val missingFields = (set.keySet -- df.columns.toSet).toSeq.sorted.map(tableUnion(_))
        // ONE select: every when() resolves cond and the SET expressions
        // against the INPUT frame — a withColumn fold would evaluate
        // later SETs (and the condition) on partially-updated rows
        val hit = coalesce(cond, lit(false))
        df.select(df.columns.map { c =>
          set.get(c).map(e => when(hit, e).otherwise(col(c)).as(c))
            .getOrElse(col(c))
        } ++ missingFields.map { f =>
          when(hit, set(f.name)).otherwise(lit(null).cast(f.dataType)).as(f.name)
        }: _*)
      })
  }

  /** MERGE (keyed upsert) under copy-on-write — Iceberg's `MERGE INTO ...
    * WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT` on one key
    * column: every table row whose `keyCol` matches an update row is
    * replaced by the update rows; keys absent from the table insert.
    * (Duplicate keys WITHIN `updates` all insert — dedup upstream.)
    *
    * IO shape, the part that matters at 100 TB: candidate batches come
    * from the manifests' per-file key bounds, NOT from the update keys'
    * global [min,max] — a CDC batch whose inserts run past the table's
    * max key (the normal shape for time-ordered ids) must not force a
    * full-table rewrite. Up to `maxExactKeys` distinct keys the
    * membership test is EXACT: the canonical keys sort once driver-side
    * (bounded, the IVF-sample convention) and binary-search every file's
    * bounds; past the cap it degrades to [min,max] range pruning —
    * coarser, never wrong. Matching rows then drop by one broadcastable
    * anti-join inside only the touched batches; survivors + ALL update
    * rows commit as ONE new batch atomically superseding the touched
    * ones. Null update keys never match (SQL) and simply insert. */
  def mergeKeys(spark: SparkSession, table: String, keyCol: String,
      updates: DataFrame, newBatchId: String,
      statsCols: Seq[String] = Nil,
      maxExactKeys: Int = 1 << 20): RewriteStats = {
    import org.apache.spark.sql.functions.{broadcast, col, max => fmax, min => fmin}
    if (isCommitted(table, newBatchId)) return RewriteStats(0, 0, 0L, 0L)
    val live = liveBatches(table)
    require(live.nonEmpty, s"no committed batches in $table")
    // uniform id-ordering invariant: whether this merge rewrites or lands
    // as a pure insert depends on DATA, so the check must not — a
    // low-sorting id would leak the merge's rows into older snapshots
    require(live.forall(_ < newBatchId),
      s"merge batch id $newBatchId must sort after every live batch")
    val u = updates.localCheckpoint()
    val keys = u.select(col(keyCol)).na.drop(Seq(keyCol)).distinct()
      .localCheckpoint()
    val nKeys = keys.count()
    val kind = FileStats.canon(u.schema(keyCol).dataType, keyCol).map(_._1)
    val touched: Seq[String] =
      if (nKeys == 0) Nil
      else if (kind.isEmpty) live // unprunable key type: no stats exist
      else if (nKeys <= maxExactKeys) {
        val k = kind.get
        // parse-once sort keys: cmpCanon would re-parse two BigDecimals
        // per comparison — ~20M parses at the 1M-key cap
        val sorted = keys.collect()
          .map(r => FileStats.canonKey(k, FileStats.canonBound(r.get(0))))
          .sortWith(FileStats.cmpKey(_, _) < 0)
        def anyIn(loS: String, hiS: String): Boolean = {
          val lo = FileStats.canonKey(k, loS)
          val hi = FileStats.canonKey(k, hiS)
          var a = 0; var b = sorted.length
          while (a < b) {
            val m = (a + b) >>> 1
            if (FileStats.cmpKey(sorted(m), lo) < 0) a = m + 1 else b = m
          }
          a < sorted.length && FileStats.cmpKey(sorted(a), hi) <= 0
        }
        live.filter { b =>
          val m = manifest(table, b)
          m.files.exists { f =>
            m.fileStats.get(f).flatMap(_.get(keyCol)) match {
              case Some(s) if s.kind == "null" || s.kind == "absent" => false
              case Some(s) => anyIn(s.min, s.max)
              case None    => true // no bounds recorded: never prune blind
            }
          }
        }
      } else {
        val r = keys.agg(fmin(col(keyCol)), fmax(col(keyCol))).head()
        planRange(table, keyCol, r.get(0), r.get(1)).touchedBatches
      }
    val effStats = (statsCols :+ keyCol).distinct
    if (touched.isEmpty) {
      // pure insert: provably no key matches — a plain new batch
      val rowsUpd = u.count()
      writeBatch(u, table, newBatchId, Map("n_turns" -> rowsUpd.toString), effStats)
      return RewriteStats(live.size, 0, 0L, rowsUpd)
    }
    val dfT = scan(spark, table, touched, touched.map(dataDir(table, _)))
    val rowsBefore = dfT.count()
    val survivors =
      if (nKeys <= maxExactKeys) dfT.join(broadcast(keys), Seq(keyCol), "left_anti")
      else dfT.join(keys, Seq(keyCol), "left_anti")
    val out = survivors.unionByName(u, allowMissingColumns = true)
    val rowsAfter = commitRewrite(spark, table, touched, newBatchId, out, effStats)
    RewriteStats(live.size, touched.size, rowsBefore, rowsAfter)
  }

  /** Shared pruned copy-on-write rewrite: plan candidate files from
    * manifest bounds, read ONLY batches owning at least one candidate
    * file, apply `body` (which receives the exact match condition —
    * pruning decides IO, the condition decides semantics), write as one
    * new batch superseding exactly the touched ones. Row counts come from
    * parquet metadata (count-pushdown scans, no data read). */
  private def cowRewrite(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, newBatchId: String, statsCols: Seq[String],
      body: (DataFrame, org.apache.spark.sql.Column) => DataFrame)
      : RewriteStats = {
    import org.apache.spark.sql.functions.{col, lit}
    if (isCommitted(table, newBatchId)) return RewriteStats(0, 0, 0L, 0L)
    val plan = planRange(table, column, lo, hi)
    val touched = plan.touchedBatches
    if (touched.isEmpty)
      return RewriteStats(plan.batches.size, 0, 0L, 0L)
    require(touched.forall(_ < newBatchId),
      s"rewrite batch id $newBatchId must sort after the batches it replaces")
    val df = scan(spark, table, touched, touched.map(dataDir(table, _)))
    val rowsBefore = df.count()
    val cond = (if (lo == null) lit(true) else col(column) >= lit(lo)) &&
      (if (hi == null) lit(true) else col(column) <= lit(hi))
    val out = body(df, cond)
    val rowsAfter = commitRewrite(spark, table, touched, newBatchId, out,
      statsCols :+ column)
    RewriteStats(plan.batches.size, touched.size, rowsBefore, rowsAfter)
  }

  /** Shared tail of every row-CHANGING rewrite (delete/update/merge):
    * write the new batch, count it back from parquet metadata, and commit
    * with `replaces` + inherited stats columns. Deliberately does NOT
    * carry the replaced batches' lineage — lineage describes the rows a
    * batch was written with, and after a purge/redaction those rows are
    * gone or changed; carrying it forward would keep purged-row digests
    * alive past [[vacuum]] (the GDPR hole) and desync lineage totals from
    * manifest `n_turns`. Row-preserving compaction merges the replaced
    * batches' lineage in [[compactWith]]. Re-checks the touched batches
    * are STILL live right before the flip: a concurrent compaction of one
    * of them would otherwise leave both the compacted copy and these
    * survivors live (double reads). The check narrows the race to the
    * write-commit gap — table maintenance assumes a single writer, as in
    * compactWith. */
  private def commitRewrite(spark: SparkSession, table: String,
      touched: Seq[String], newBatchId: String, out: DataFrame,
      statsCols: Seq[String]): Long = {
    writeData(out, table, newBatchId)
    val rowsAfter = spark.read.schema(out.schema)
      .parquet(dataDir(table, newBatchId)).count()
    val retired = replacedBatches(table)
    require(touched.forall(!retired.contains(_)),
      s"concurrently superseded during rewrite: ${touched.filter(retired.contains)}")
    commit(table, newBatchId, out.schema, Map(
      "replaces" -> touched.sorted.mkString(","),
      "n_turns" -> rowsAfter.toString) ++
      statsExtras(spark, table, newBatchId,
        (statsCols ++ inheritedStatsCols(table, touched)).distinct))
    rowsAfter
  }

  /** Reclaim the data files of compaction-retired batches. After this,
    * time travel to pre-compaction snapshots is gone (their manifests
    * remain for resume idempotence) — same contract as Iceberg's
    * expire_snapshots + remove_orphan_files. */
  def vacuum(table: String): Unit =
    replacedBatches(table).foreach(b => graft.util.Fs.rmrf(Paths.get(dataDir(table, b))))

  /** Lineage rows of all live batches, from their manifests alone (no data
    * read). A compaction batch carries the merge of the batches it
    * replaced; row-changing rewrites carry none. */
  def readLineage(spark: SparkSession, table: String): DataFrame = {
    val entries = liveBatches(table).flatMap(b => manifest(table, b).lineage.map(b -> _))
    require(entries.nonEmpty, s"no lineage in $table")
    spark.createDataFrame(entries.flatMap { case (b, e) => Lineage.rows(b, e) })
  }

  /** Row count from manifests alone — no data scan (monitoring at scale).
    * Counts LIVE batches only: a compaction manifest carries the sum of its
    * replaced batches, so the total is stable across maintenance. */
  def committedRowCount(table: String): Long =
    liveBatches(table).map(manifest(table, _).nTurns).sum
}
