package graft

import java.nio.file.{Files, Paths}

/** Dev tool: write every registered query's `.explain("formatted")` to
  * `<outDir>/<query><suffix>.txt` — the optimization-round evidence
  * files (plans/rNN/<query>_before.txt / _after.txt). Optional 4th arg
  * restricts to a comma-separated list of name substrings (the
  * SPARK_GRAFT_ONLY meaning).
  *
  * Runs on [[GraftSession]], the session the bench runs on, so the
  * dumped plans are the ones the bench executes, not a
  * differently-configured twin.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r17")
    val suffix = args.lift(2).getOrElse("_before")
    val spark = GraftSession()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => SparkEntry.selects(args.lift(3))(n) }
      .foreach { case (name, fn) =>
        try {
          val s = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), s)
          println(s"[plans] wrote $name")
        } catch { case e: Throwable =>
          println(s"[plans] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
