package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main and the test harness run on:
  * `local[cpus]`, shuffle partitions = cpus, UTC session time, no UI,
  * WARN logging. AQE is on by Spark's own default. The native
  * expressions need no registration (they are built as Columns
  * directly), so any session, including one a caller builds itself,
  * runs every query.
  *
  * `cpus` defaults to SPARK_GRAFT_CPUS, else the host's available
  * processors.
  */
object GraftSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
