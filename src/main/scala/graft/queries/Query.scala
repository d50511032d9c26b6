package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One declared query: `build` makes its frame from a session and a data
  * dir, `order` is its output order (empty: the frame is emitted as
  * built), and `oracle` is the DuckDB SQL that recomputes its rows
  * exactly, when there is one. The records live in per-family files;
  * [[Query.all]] lists them. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    order: Seq[Column] = Nil, oracle: Option[String] = None) {

  /** The output frame, in `order`. This is the one output-order site.
    * `orderBy` would sample its child to pick range bounds, which
    * EXECUTES the query's whole uncached lineage a second time — measured
    * at ~2x on the heavy rows (x_bm25_topk 4.0 s -> 2.8 s,
    * x_embed_neardup_exhaustive 3.4 s -> 1.4 s, identical rows out). Every
    * declared query's final sort is presentation order over a bounded
    * result (the checker lexsorts anyway), so a single-partition
    * sortWithinPartitions gives the identical total order with one plain
    * exchange and no sampling. Only OUTPUT sorts go here; semantic sorts
    * (orderBy+limit top-k, window specs) keep their native forms inside
    * `build`. */
  def frame(s: SparkSession, dir: String): DataFrame = {
    val df = build(s, dir)
    if (order.isEmpty) df else df.repartition(1).sortWithinPartitions(order: _*)
  }
}

object Query {

  /** Every declared query, family by family. */
  val all: Seq[Query] =
    ExtractionQueries.all ++ DedupQueries.all ++ QualityQueries.all ++
      EmbeddingQueries.all ++ RetrievalQueries.all ++ SketchQueries.all ++
      MixingQueries.all ++ CurationQueries.all ++ RelationalQueries.all

  /** The records by name. A duplicate name throws: a `toMap` would keep
    * one of the two silently. An oracle always sits in its query's own
    * record, so no oracle can name an undeclared query. */
  def index(records: Seq[Query]): Map[String, Query] = {
    val dups = records.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    records.map(q => q.name -> q).toMap
  }

  lazy val byName: Map[String, Query] = index(all)

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private[queries] def by(names: String*): Seq[Column] = names.map(col)

  /** A query's scratch store dir under java.io.tmpdir, one per scale. */
  private[queries] def tmpDir(name: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/${name}_sf${graft.SparkEntry.sfOf(dir)}"
}
