package graft

/** Dev profiler (guide §1/§7): run named queries with a listener that
  * captures per-job and per-stage wall time + task metrics, so the
  * expensive part of a multi-job query (which stage, how much of the
  * wall is driver-side planning between jobs) is a reading instead of
  * a guess. Two passes per query; the warm pass is the one reported
  * (pass 1 absorbs JIT/codegen).
  *
  * Usage: runMain graft.ProfileStages <q1,q2,...> [sfDir]
  */
object ProfileStages {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q97_work_author_guard").split(",")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    val rec = new TaskMetricsListener
    spark.sparkContext.addSparkListener(rec)
    names.foreach { n =>
      val q = SparkEntry.queries(n)
      // pass 1: warm (JIT, codegen cache, fixture cachedTemp builds)
      val tw0 = System.nanoTime()
      q(spark, dir).write.format("noop").mode("overwrite").save()
      val warm = (System.nanoTime() - tw0) / 1e9
      spark.catalog.clearCache()
      rec.settled()
      rec.clear()
      val t0 = System.nanoTime()
      q(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      rec.settled()
      import scala.jdk.CollectionConverters._
      val st = rec.stages.values.asScala.toSeq.sortBy(-_.runTimeMs)
      val jobsSorted = rec.jobs.asScala.toSeq.sortBy(_._1)
      val jobWall = jobsSorted.map { case (_, (s, e)) =>
        math.max(0L, e - s) }.sum / 1e3
      println(f"\n=== $n pass1=$warm%.2f s warm=$wall%.2f s " +
        f"jobs=${jobsSorted.size} jobWall=$jobWall%.2f s " +
        f"driverGap=${wall - jobWall}%.2f s ===")
      val totGc = st.map(_.gcMs).sum / 1e3
      val totRun = st.map(_.runTimeMs).sum / 1e3
      val totCpu = st.map(_.cpuTimeMs).sum / 1e3
      println(f"  totals: run=$totRun%.1f s cpu=$totCpu%.1f s gc=$totGc%.1f s" +
        f" stages=${st.size}")
      st.take(14).foreach { s =>
        val dur = (s.completed - s.submitted) / 1e3
        println(f"  stage ${s.id}%4d ${dur}%6.2f s wall | tasks=${s.tasks}%4d " +
          f"run=${s.runTimeMs / 1e3}%7.2f s cpu=${s.cpuTimeMs / 1e3}%7.2f s " +
          f"gc=${s.gcMs / 1e3}%5.2f s fw=${s.fetchWaitMs / 1e3}%5.2f s " +
          f"ds=${s.deserMs / 1e3}%5.2f s " +
          f"| in=${s.inputB / 1e6}%7.1f MB sr=${s.shufReadB / 1e6}%7.1f MB " +
          f"sw=${s.shufWriteB / 1e6}%7.1f MB out=${s.outputB / 1e6}%6.1f MB")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
