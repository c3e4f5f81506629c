package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zipf-skew A/B bench (VERDICT r16 ask #1) — MEASURES, on the
  * adversarial `ZipfGen` fixture, the claim every r16 election rewrite
  * was built on: that the bounded-aggregate forms stay flat where the
  * r15 window twins straggle on a hot key. Each arm runs the
  * production aggregate form and its `WindowTwins` baseline and
  * records wall ms, shuffle bytes/records, and the MAX single-task ms
  * (the straggler reading — a per-hash window sends the hot hash's
  * ~10⁵–10⁶ occurrences to ONE task's sorter; the aggregate's
  * map-side partials bound that task at one row per key×partition).
  *
  * Arms:
  *  - para: `TextQuality.paragraphDedup` (two-phase min-agg) vs the
  *    per-hash window — the fixture's ONE boilerplate chunk hash owns
  *    ~|docs|/2 · hotRepeat occurrences;
  *  - spans: `TextQuality.dupSpans` vs per-hash window ownership —
  *    the block's 10 rotations each ~equally hot;
  *  - url: `TextQuality.urlDedup` (chained keyed aggs) vs the per-URL
  *    window — one hot URL owns half the corpus;
  *  - cap: `Sampling.stratifiedCap` (bounded topKRows + semi join) vs
  *    the per-stratum window — one stratum owns half the corpus;
  *  - ann: `Similarity.quantizedTopK` vs the per-query window scan;
  *  - sem: `Similarity.semanticDupFlags` giant-cell guard ON vs OFF —
  *    half the vectors in ONE cell: the unguarded pair term is
  *    (N/2)²/2 in-join dot products, the guard's residual sub-buckets
  *    cut it ~4^subPlanes-fold (here the reading is wall time, not
  *    shuffle records: the quadratic term is join OUTPUT rows).
  *
  * Prints ONE JSON line; committed as `BENCH_zipf.json`
  * (ZipfArtifactSpec ties the committed artifact to the tree). Hard
  * FAILS (exit 1) when an aggregate form shuffles >= records than its
  * window twin, or when the guard fails to cut the mega-cell cost.
  *
  * Usage: SPARK_GRAFT_ZIPF_DIR=<ZipfGen outDir> runMain graft.BenchZipf
  */
object BenchZipf {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_ZIPF_DIR", "/tmp/graft-zipf")
    val spark = GraftSession()
    // local-mode shape fidelity: the default 64 MB advisory size
    // coalesces this fixture's few-MB shuffles into 1-2 partitions,
    // serializing reduce stages that at production scale run
    // thousands-wide — 1 MB keeps the local plan's parallelism
    // shape-faithful without touching the hot-key skew (a hot hash
    // still lands in ONE partition either way)
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)

    case class Reading(ms: Long, bytes: Long, records: Long, maxTaskMs: Long)
    val readings = scala.collection.mutable.LinkedHashMap[String, Reading]()
    // WARMUP pass first (codegen compile, parquet footer + page cache,
    // JIT — the first execution of an arm otherwise eats seconds of
    // one-time cost and poisons the A/B), then the measured pass
    def measure(name: String)(fn: => DataFrame): Reading = {
      spark.catalog.clearCache()
      fn.write.format("noop").mode("overwrite").save()
      val (b0, r0) = listener.settled()
      listener.maxTaskMs.reset()
      val t0 = System.nanoTime()
      fn.write.format("noop").mode("overwrite").save()
      val ms = (System.nanoTime() - t0) / 1000000L
      val (b1, r1) = listener.settled()
      val rd = Reading(ms, b1 - b0, r1 - r0, listener.maxTaskMs.get())
      readings(name) = rd
      println(s"[zipf] $name: ${rd.ms} ms, ${rd.records} shuffle records," +
        s" max task ${rd.maxTaskMs} ms")
      rd
    }

    var ok = true
    def check(cond: Boolean, msg: String): Unit = {
      println(s"[zipf] ${if (cond) "OK " else "FAIL"} $msg")
      ok &= cond
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()

    // para: one boilerplate chunk hash owns ~nDocs/2 * hotRepeat rows.
    // The occurrence frame LANDS once (the production q134 posture —
    // tokenization dominates per-row cost and the election consumes
    // the frame twice), so the A/B delta is purely the election
    val occ = graft.core.Materialize.temp(graft.operators.TextQuality
      .paragraphOccurrences(docs, "doc_id", "text"), "graft-zipf-occ")._1
    val paraAgg = measure("para_agg")(graft.operators.TextQuality
      .paragraphDedupFromOccurrences(occ, "doc_id"))
    val paraWin = measure("para_win")(
      WindowTwins.paragraphDedupFromOccurrences(occ, "doc_id"))

    // spans: stride-1 ownership, 10 rotation hashes each hot
    val spansAgg = measure("spans_agg")(
      graft.operators.TextQuality.dupSpans(docs, "doc_id", "text"))
    val spansWin = measure("spans_win")(WindowTwins.spanOwnership(docs))

    // url: one hot URL on half the corpus; quality = text length band
    val withUrl = docs.withColumn("url",
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("https://example.com/landing?utm_source=x&page=1"))
          .otherwise(concat(lit("https://site-"), col("doc_id"),
            lit(".example.org/doc"))))
      .withColumn("quality", pmod(length(col("text")), lit(100)))
    val urlAgg = measure("url_agg")(graft.operators.TextQuality
      .urlDedup(withUrl, "doc_id", "url", "quality"))
    val urlWin = measure("url_win")(
      WindowTwins.urlDedup(withUrl, "doc_id", "url", "quality"))

    // cap: one stratum owns half the corpus
    val withStratum = docs.withColumn("stratum",
      when(pmod(col("doc_id"), lit(2)) === 0, lit("web"))
        .otherwise(concat(lit("s"), pmod(col("doc_id"), lit(100)))))
    // broadcastElected: 101 strata × cap 100 = a 10k-row elected
    // frame — the caller-known bounded-strata case the hint exists for
    val capAgg = measure("cap_agg")(graft.operators.Sampling
      .stratifiedCap(withStratum, Seq("stratum"), "doc_id", "z1", 100,
        broadcastElected = true))
    val capWin = measure("cap_win")(WindowTwins
      .stratifiedCap(withStratum, Seq("stratum"), "doc_id", "z1", 100))

    // ann: per-query election over the zipf embedding codes
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val codes = graft.core.Materialize.temp(
      graft.operators.Similarity.scalarQuantize(emb, "vec_id", "embedding")
        .select(col("vec_id"), col("codes")), "graft-zipf-codes")._1
    val annAgg = measure("ann_agg")(graft.operators.Similarity
      .quantizedTopK(codes, "vec_id", "codes", col("vec_id") < 16, 5))
    val annWin = measure("ann_win")(WindowTwins.quantizedTopK(codes, 5))

    // sem: half the vectors in ONE cell (the (8,0,…,0) centroid);
    // 8 spread centroids catch the cold half. Guard ON sub-buckets the
    // mega-cell by residual LSH; OFF runs the full (N/2)²/2 pair term.
    val e = emb.select(col("vec_id"),
        graft.operators.Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", graft.operators.Similarity.norm(col("v")))
    val hotCent = Seq.tabulate(64)(j => if (j == 0) 8.0 else 0.0)
    val coldCents = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      .orderBy("vec_id").limit(8)
      .select(col("v")).collect().map(_.getSeq[Double](0).toSeq)
    val cent = (hotCent.toSeq +: coldCents.toSeq).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq
    import spark.implicits._
    val centDf = cent.toDF("cent_id", "cv")
      .withColumn("cn", graft.operators.Similarity.norm(col("cv")))
    val semGuard = measure("sem_guard")(graft.operators.Similarity
      .semanticDupFlags(e, "vec_id", "v", "nrm", centDf, 990000L,
        maxCellSize = 1000L, subPlanes = 4, dim = 64))
    val semFull = measure("sem_full")(graft.operators.Similarity
      .semanticDupFlags(e, "vec_id", "v", "nrm", centDf, 990000L))

    check(paraAgg.records < paraWin.records && paraAgg.records > 0,
      s"paragraph election: agg shuffles fewer records " +
        s"(${paraAgg.records} vs ${paraWin.records})")
    check(paraAgg.maxTaskMs < paraWin.maxTaskMs,
      s"paragraph election: agg max task < window hot-hash straggler " +
        s"(${paraAgg.maxTaskMs} vs ${paraWin.maxTaskMs} ms)")
    check(spansAgg.records < spansWin.records && spansAgg.records > 0,
      s"span ownership: agg shuffles fewer records " +
        s"(${spansAgg.records} vs ${spansWin.records})")
    // url: the structural claim is PAYLOAD-FREE exchanges — the agg
    // shuffles narrow (url, quality, id) partials + winners while the
    // window shuffles every full-text row to its URL's sorter; on a
    // unique-URL tail the RECORD counts are near-tied (partials can't
    // collapse singletons), so bytes is the honest invariant
    check(urlAgg.bytes < urlWin.bytes && urlAgg.bytes > 0,
      s"url election: agg shuffles fewer bytes (payload never rides " +
        s"the exchange: ${urlAgg.bytes} vs ${urlWin.bytes})")
    check(capAgg.records < capWin.records && capAgg.records > 0,
      s"stratified cap: bounded election shuffles fewer records " +
        s"(${capAgg.records} vs ${capWin.records})")
    check(annAgg.records < annWin.records && annAgg.records > 0,
      s"ann top-k: aggregate shuffles fewer records " +
        s"(${annAgg.records} vs ${annWin.records})")
    check(semGuard.ms * 2 < semFull.ms,
      s"giant-cell guard cuts the mega-cell pair term >=2x in wall " +
        s"time (${semGuard.ms} vs ${semFull.ms} ms)")

    val rs = readings.map { case (k, r) =>
      "\"" + k + "\":{\"ms\":" + r.ms + ",\"bytes\":" + r.bytes +
        ",\"records\":" + r.records + ",\"max_task_ms\":" + r.maxTaskMs + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"zipf_volumes","dir":"$dir","n_docs":$nDocs,"readings":$rs}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
