package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The one test session: [[Sessions.get]] on `local[4]` with 4 shuffle
  * partitions (or a suite's own `sessionConf`) and ERROR logging; built
  * before the suite's first test and stopped after its last. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  private var session: SparkSession = _
  protected def spark: SparkSession = session
  protected def sessionConf: Map[String, String] = SparkSuite.Local4

  override def beforeAll(): Unit = {
    super.beforeAll()
    session = Sessions.get(suiteName, sessionConf)
    session.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try if (session != null) session.stop()
    finally super.afterAll()
}

object SparkSuite {

  /** The test master: 4 local cores, 4 shuffle partitions. */
  val Local4: Map[String, String] =
    Map("spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4")
}
