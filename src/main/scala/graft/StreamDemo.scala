package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Scd1Upsert, Tables}
import graft.streaming.Streams

/** Consumer-style driver for the streaming surface: splits the events
  * fixture into multiple parquet files, replays them as micro-batches,
  * and checks each streaming operator converges to its batch twin.
  * Exit code 0 iff all three parities hold.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession(4)
    import spark.implicits._

    // split events into 3 files so AvailableNow+maxFilesPerTrigger=1
    // yields 3 micro-batches (cross-batch state is the interesting path)
    val dir = Files.createTempDirectory("graft-stream-demo").toString
    val ev = Tables(spark, sfDir, "events")
    ev.withColumn("part", pmod(col("event_id"), lit(3)))
      .repartition(3, col("part")).drop("part")
      .write.mode("overwrite").parquet(dir)
    println(s"[demo] staged ${ev.count()} events as " +
      Files.list(java.nio.file.Paths.get(dir)).count() + " files in $dir")

    var ok = true
    def check(name: String, cond: Boolean): Unit = {
      println(s"[demo] $name: ${if (cond) "OK" else "MISMATCH"}")
      ok &= cond
    }

    // 1. hourly windows (complete mode) vs batch
    val hw = Streams.hourlyWindows(Streams.readEvents(spark, dir, Some(1)))
      .writeStream.format("memory").queryName("hw").outputMode("complete").start()
    hw.processAllAvailable(); hw.stop()
    val batchHw = ev.withColumn("tsm", expr("timestamp_micros(ts div 1000)"))
      .groupBy(window(col("tsm"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"))
    check("hourly windows stream==batch",
      spark.table("hw").as[(String, String, Long)].collect().toSet ==
        batchHw.as[(String, String, Long)].collect().toSet)
    spark.table("hw").orderBy(desc("n")).show(3, false)

    // 2. sessionize across 3 micro-batches vs batch query. Batch arrival
    // order is nondeterministic (file mtimes), and with OUT-OF-ORDER
    // arrival an intermediate recomputation can transiently overcount
    // sessions (gaps later filled by earlier events) — the convergence
    // contract is that each user's LAST emission equals the batch
    // answer, so track last-emission-per-user via foreachBatch.
    val lastEmit = scala.collection.mutable.Map[Long, (Long, Long)]()
    val sess = Streams.sessionize(
      Streams.readEvents(spark, dir, Some(1))
        .selectExpr("event_id", "ts", "user_id", "event_type", "value")
        .as[Streams.RawEvent], 6L * 3600 * 1000000000L)
      .writeStream.outputMode("update").foreachBatch {
        (b: org.apache.spark.sql.Dataset[Streams.SessOut], _: Long) =>
          b.collect().foreach(r =>
            lastEmit(r.user_id) = (r.n_sessions, r.max_session_events))
      }.start()
    sess.processAllAvailable(); sess.stop()
    val streamedSess = lastEmit.map { case (u, (s, m)) => (u, s, m) }.toSet
    val batchSess = SparkEntry.queries("q25_sessionize_users")(spark, sfDir)
      .select(col("user_id"), col("n_sessions"), col("max_session_events"))
      .as[(Long, Long, Long)].collect().toSet
    check("sessionize (3 micro-batches) stream==batch", streamedSess == batchSess)

    // 3. scd1 foreachBatch over 3 micro-batches vs one-shot batch latest
    var state: Option[DataFrame] = None
    Streams.scd1Sink(Streams.readEvents(spark, dir, Some(1)),
      () => state, next => state = Some(next.cache()))
    val batchScd = Scd1Upsert.latest(ev, Seq("user_id"), col("ts"),
        Seq(col("event_id")), deleteWhen = Some(col("event_type") === "error"))
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    check("scd1 foreachBatch stream==batch",
      Scd1Upsert.current(state.get).select("user_id", "event_id")
        .as[(Long, Long)].collect().toSet == batchScd)
    Scd1Upsert.current(state.get).show(5, false)

    spark.stop()
    if (!ok) sys.exit(1)
  }
}
