package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)

  /** Smallest driver fixture dir (for specs that read real tables). */
  val sfDir = "/root/testdata/sf0.001"
}
