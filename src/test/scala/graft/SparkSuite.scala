package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One Spark session per suite: built by `Bench.session` before the first
  * test, stopped after the last. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected def cores: Int = 4

  protected var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = Bench.session(cores.toString)
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}
