package graft.jobs

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.util.control.NonFatal

/** The one runner for declared SparkEntry queries, on `Bench.session`:
  *
  *   runMain graft.jobs.QueryRunner <rows|time|plan> <q1,q2,...|all> <sfDir> [reps] [cpus]
  *
  *  - rows: row count and the first 5 rows of each query
  *  - time: Bench-style untimed warmup, then `reps` back-to-back runs of
  *    each query into the noop sink; one JSON line of seconds per run
  *  - plan: explain("formatted") of each query as a docs/PLANS.md section
  *
  * A query that throws is reported as "failed", never as a timing, and
  * the runner then exits 1. `all` names every declared query. `reps`
  * defaults to 5, `cpus` to the host's. */
object QueryRunner {

  private val Modes = Set("rows", "time", "plan")

  def main(args: Array[String]): Unit = {
    if (args.length < 3 || !Modes(args(0))) {
      System.err.println("usage: QueryRunner <rows|time|plan> <q1,q2,...|all> <sfDir> [reps] [cpus]")
      sys.exit(2)
    }
    val reps = if (args.length > 3) args(3).toInt else 5
    val cpus = if (args.length > 4) args(4)
      else Runtime.getRuntime.availableProcessors.toString
    val names = if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted else args(1).split(',').toSeq
    val spark = graft.Bench.session(cpus)
    val status =
      try run(spark, args(0), names, args(2), reps)
      finally spark.stop()
    sys.exit(status)
  }

  /** Runs `names` in `mode`, reporting on stdout. Returns the exit status:
    * 0, or 1 if any query threw. */
  def run(spark: SparkSession, mode: String, names: Seq[String],
      sfDir: String, reps: Int): Int = {
    if (mode == "time") {
      // untimed warmup (same as Bench): session/parquet-reader startup
      spark.range(100000).selectExpr("sum(id)").collect()
      try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      catch { case NonFatal(_) => }
    }
    val results = names.map { name =>
      spark.sparkContext.setJobDescription(s"query-runner $mode: $name")
      val r = try Some(report(spark, mode, name, sfDir, reps)) catch {
        case NonFatal(e) =>
          System.err.println(s"[query-runner] $name: $e")
          None
      }
      mode match {
        case "rows" => println(s"$name ${r.getOrElse("failed")}")
        case "plan" => println(s"## $name\n\n```\n${r.getOrElse("failed")}\n```\n")
        case _ =>
      }
      name -> r
    }
    if (mode == "time")
      println((s""""sf":"$sfDir"""" +: results.map { case (n, r) =>
        s""""$n":${r.getOrElse("\"failed\"")}""" }).mkString("{", ",", "}"))
    if (results.forall(_._2.isDefined)) 0 else 1
  }

  private def report(spark: SparkSession, mode: String, name: String,
      sfDir: String, reps: Int): String = {
    val query = SparkEntry.queries(name)
    mode match {
      case "rows" =>
        val df = query(spark, sfDir)
        (s"ROWS=${df.count()}" +: df.take(5).map(_.toString)).mkString("\n")
      case "time" =>
        (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          query(spark, sfDir).write.format("noop").mode("overwrite").save()
          f"${(System.nanoTime() - t0) / 1e9}%.3f"
        }.mkString("[", ",", "]")
      case "plan" =>
        query(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
  }
}
