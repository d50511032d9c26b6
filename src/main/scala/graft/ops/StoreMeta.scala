package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The metadata sidecar of a derived store, `dir/_graft_meta/meta.properties`:
  * one `key=value` line per entry, in the order the store wrote them. This
  * is the only code that knows the file. The underscore-prefixed dir is
  * invisible to Spark's data read, and the sidecar is one driver-side file
  * read through the Hadoop FS API, so probing or freshness-checking a store
  * runs ZERO Spark jobs. [[write]] publishes through
  * [[graft.util.FsAtomic.overwriteFile]] (temp file + one atomic
  * overwrite-rename): a reader racing the writer sees the old or the new
  * meta, never a missing file. `render(parse(bytes)) == bytes` for every
  * sidecar a store writes.
  *
  * Keys per kind (`[..]` only when non-empty):
  *  - `lsh`      kind, param (nBits), token, n_rows, [batches]
  *  - `ivf`      kind, param (nCells), token, n_rows, [centroids], [batches]
  *  - `ivfpq`    the `ivf` keys, then pq_m, pq_dsub, pq_cb (codebooks)
  *  - `minhash`  kind, token                         ([[Dedup]] signatures)
  *  - `bloom`    kind, k, shards, bytes_per_shard, n_keys, token, design_bpk
  *  - `sketches` kind, token                         ([[Sketches]] store)
  *  - `bm25`     kind, token, n_docs, sum_dl         ([[Bm25]] postings)
  *  - `bpe`      kind, token, nMerges, maxWordTypes, textCol  ([[Bpe]] model)
  * `centroids` are `;`-separated rows of `,`-separated doubles, `pq_cb`
  * the same per subspace joined by `|` (Double.toString round-trips
  * exactly); `batches` lists committed exactly-once append ids. An input
  * with no file lineage commits token 0.
  *
  * Freshness ([[fresh]]): a store is fresh for an input exactly when the
  * input's [[inputToken]] is defined, the committed kind and token both
  * match, and the kind's own shape predicate (the ANN `param`, IVF-PQ's
  * `(m, k)`) holds. An absent or unreadable sidecar reads stale. The kind
  * is part of the rule because every store in a curation tick re-pins the
  * SAME post-commit table token: a dir pointed at another kind's store
  * would otherwise read fresh.
  *
  * Kind guard ([[expect]]): every append and probe reads the meta through
  * it, so a store dir that is absent or holds another kind throws
  * `IllegalStateException` naming the dir and both kinds before anything
  * is written: a mis-pointed dir reads stale, and never gets appended into
  * or overwritten. */
final case class StoreMeta(entries: Seq[(String, String)]) {
  private lazy val byKey = entries.toMap

  def get(key: String): Option[String] = byKey.get(key)

  def apply(key: String): String = byKey(key)

  /** The same entries with `kvs`' values: a present key keeps its place,
    * a new key goes last. */
  def updated(kvs: (String, Any)*): StoreMeta = {
    val upd = StoreMeta.of(kvs: _*)
    StoreMeta(entries.map { case (k, v) => k -> upd.get(k).getOrElse(v) } ++
      upd.entries.filterNot(e => byKey.contains(e._1)))
  }

  def render: Array[Byte] =
    entries.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes(UTF_8)
}

object StoreMeta {

  def of(kvs: (String, Any)*): StoreMeta =
    StoreMeta(kvs.map { case (k, v) => k -> v.toString })

  def path(dir: String): Path = new Path(s"$dir/_graft_meta/meta.properties")

  def parse(bytes: Array[Byte]): StoreMeta =
    StoreMeta(new String(bytes, UTF_8).linesIterator.filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toSeq)

  def write(spark: SparkSession, dir: String, meta: StoreMeta): Unit =
    graft.util.FsAtomic.overwriteFile(spark.sparkContext.hadoopConfiguration,
      path(dir), meta.render)

  /** The committed meta, or None when the sidecar is absent or unreadable. */
  def read(spark: SparkSession, dir: String): Option[StoreMeta] =
    try {
      val p = path(dir)
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try Some(parse(in.readAllBytes())) finally in.close()
    } catch { case NonFatal(_) => None }

  /** The one freshness rule (see the header); `check` failing to parse its
    * keys reads stale. */
  def fresh(spark: SparkSession, dir: String, kind: String, token: Option[Long],
      check: StoreMeta => Boolean = _ => true): Boolean =
    token.exists { t =>
      read(spark, dir).exists { m =>
        m.get("kind").contains(kind) && m.get("token").contains(t.toString) &&
          (try check(m) catch { case NonFatal(_) => false })
      }
    }

  /** The kind guard (see the header): the committed meta of a store of one
    * of `kinds`, else `IllegalStateException`. */
  def expect(spark: SparkSession, dir: String, kinds: String*): StoreMeta = {
    val m = read(spark, dir)
    m.filter(_.get("kind").exists(kinds.contains)).getOrElse {
      val found = m.fold("no store")(_.get("kind").fold("a store of no kind")(k => s"a $k store"))
      throw new IllegalStateException(
        s"$dir holds $found, not a ${kinds.mkString(" or ")} store")
    }
  }

  /** Cheap input version token: a fold over the source files' (path, length,
    * modificationTime). One filesystem NAMESPACE listing — no data is read
    * and no Spark job runs, so a fresh build call is O(#files) driver-side
    * RPCs, not a table scan. Inputs with no files (in-memory DataFrames)
    * yield None: no provable version, so the build always runs for them.
    * An Iceberg-style table would supply its snapshot id here instead. */
  private[graft] def inputToken(df: DataFrame): Option[Long] = {
    val files = df.inputFiles
    if (files.isEmpty) return None
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    var h = 0xcbf29ce484222325L
    def fold(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    files.sorted.foreach { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      var i = 0
      while (i < f.length) { fold(f.charAt(i).toLong); i += 1 }
      fold(st.getLen); fold(st.getModificationTime)
    }
    Some(h)
  }
}
