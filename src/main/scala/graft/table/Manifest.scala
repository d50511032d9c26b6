package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** One batch's commit manifest ([[TranscriptTable.commit]]): its id, its
  * data files (names, not paths) and string entries (`schema`, `n_turns`,
  * `lineage`, `replaces`, `stats_cols`, `file_stats`, ...). The only code
  * that knows the manifest JSON: one `"key": value` per line, in the order
  * `batch_id`, `n_files`, `files` (one name per line), then the entries
  * sorted by key. [[render]] writes exactly these bytes and
  * [[Manifest.parse]] reads them back, so `render(parse(bytes)) == bytes`
  * for every manifest the table writes (perfbench's lineage digest greps
  * the `"lineage": "..."` line). A committed manifest is immutable, so
  * values derived from it are parsed lazily, once per record. */
final case class Manifest(batchId: String, files: Seq[String],
    entries: Map[String, String]) {
  require(!entries.keySet.exists(Manifest.Reserved),
    s"manifest entries may not use the keys ${Manifest.Reserved.mkString(", ")}")

  def render: String = {
    import Manifest.jstr
    val fileList = files.map(f => s"    ${jstr(f)}").mkString(",\n")
    (Seq(
      s"""  "batch_id": ${jstr(batchId)}""",
      s"""  "n_files": ${files.length}""",
      s"""  "files": [\n$fileList\n  ]""") ++
      entries.toSeq.sortBy(_._1).map { case (k, v) => s"  ${jstr(k)}: ${jstr(v)}" })
      .mkString("{\n", ",\n", "\n}\n")
  }

  private def list(key: String): Seq[String] =
    entries.get(key).fold(Seq.empty[String])(_.split(',').toSeq.filter(_.nonEmpty))

  /** Batch ids this (compaction or rewrite) batch retires. */
  def replaces: Seq[String] = list("replaces")
  def statsCols: Seq[String] = list("stats_cols")
  def nTurns: Long = entries.get("n_turns").fold(0L)(_.toLong)
  def lineage: Option[String] = entries.get("lineage")

  /** `None` only for a manifest written outside the table. */
  lazy val schema: Option[StructType] =
    entries.get("schema").map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Recorded per-file column bounds ([[FileStats]]), empty if none. */
  lazy val fileStats: Map[String, Map[String, FileStats.ColStat]] =
    entries.get("file_stats").fold(Map.empty[String, Map[String, FileStats.ColStat]])(FileStats.decode)
}

object Manifest {
  private val Reserved = Set("batch_id", "n_files", "files")
  private val mapper = new ObjectMapper()

  /** JSON string literal with full escaping (quotes, backslashes, control
    * chars): an entry value such as a lineage summary can never corrupt the
    * manifest around it. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** The record of a manifest's JSON text; fails on a missing or
    * non-string field and on an `n_files` that disagrees with `files`. */
  def parse(json: String): Manifest = {
    val root = mapper.readTree(json)
    def text(n: JsonNode, what: String) = {
      require(n.isTextual, s"manifest $what is not a string"); n.asText
    }
    val files = root.path("files").elements.asScala.map(text(_, "file name")).toSeq
    require(root.path("n_files").asInt(-1) == files.length, "manifest n_files disagrees with its files")
    Manifest(text(root.path("batch_id"), "batch_id"), files, root.properties.asScala.collect {
      case e if !Reserved(e.getKey) => e.getKey -> text(e.getValue, e.getKey)
    }.toMap)
  }
}
