package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zipf-skew fixture generator (dev tooling, not driver contract) —
  * VERDICT r16 ask #1: every r16 election rewrite (two-phase
  * min-aggregates, bounded top-k elections, the SemDeDup cell bound)
  * is justified by a Zipf-skew argument the standard fixtures cannot
  * exercise (their hashes are near-unique at sf0.1, and ScaleGen's
  * disjoint per-copy vocabularies keep them near-unique at sf10).
  * This main builds the adversarial fixture those rewrites were built
  * for, so `BenchZipf` can MEASURE the aggregate-vs-window gap
  * instead of arguing it:
  *
  *  - `documents`: `docCopies`× the source docs (per-copy `w~c` word
  *    suffixes keep copy vocabularies disjoint, the ScaleGen
  *    convention), and every EVEN doc_id — half the corpus — gets the
  *    SHARED (unsuffixed) boilerplate block PREPENDED: [[HotPara]]
  *    (exactly 10 tokens = one `tokenChunks(10)` chunk = one
  *    `dupSpans` window) repeated `hotRepeat` times. Prepending makes
  *    the block CHUNK-ALIGNED for every doc, so paragraph dedup sees
  *    ONE hash owning ~`docCopies`·|docs|/2·hotRepeat occurrences
  *    (~10⁵–10⁶ at the defaults — the scale of a real boilerplate
  *    paragraph), and stride-1 span dedup sees the block's 10 cyclic
  *    rotations each ~equally hot.
  *  - `embeddings`: `embCopies`× the source vectors, every even
  *    vec_id — half the corpus — replaced by a HOT-CLUSTER vector
  *    `(8, j₁ … j₆₃)` whose first component dominates (every hot
  *    vector lands in the cell of an `(8,0,…,0)` centroid — one cell
  *    owning half the corpus, the SemDeDup mega-cell case) while the
  *    63 jitter components (the deterministic `planes()` integer
  *    formula keyed by vec_id) keep RESIDUALS direction-diverse, so
  *    the giant-cell guard's residual sub-bucketing has something to
  *    split on — exactly the production geometry of a boilerplate-
  *    dominated embedding corpus.
  *
  * Usage: runMain graft.ZipfGen <srcDir> <outDir>
  *          [docCopies=10] [hotRepeat=10] [embCopies=5]
  */
object ZipfGen {

  /** The 10-token boilerplate paragraph (one chunk / one window). */
  val HotPara: String = (0 until 10).map(i => s"zipfhot$i").mkString(" ")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val docCopies = args.lift(2).map(_.toInt).getOrElse(10)
    val hotRepeat = args.lift(3).map(_.toInt).getOrElse(10)
    val embCopies = args.lift(4).map(_.toInt).getOrElse(5)
    val spark = GraftSession()

    def read(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    // 128 files: scan parallelism must well exceed the bench host cores,
    // or every arm's max-task reading is scan-bound (16 fat splits on
    // a 32-core runner measured the FILE COUNT, not the election)
    def write(df: DataFrame, n: String): Unit =
      df.repartition(128).write.mode("overwrite").parquet(s"$out/$n.parquet")
    def off(df: DataFrame, idCol: String): Long =
      df.agg(max(col(idCol))).collect()(0).getLong(0) + 1

    val hotBlock = Seq.fill(hotRepeat)(HotPara).mkString(" ")

    val docs = read("documents")
    val docN = off(docs, "doc_id")
    val fannedDocs = docs
      .withColumn("__c", explode(sequence(lit(0L), lit(docCopies - 1L))))
      .withColumn("doc_id", col("doc_id") + col("__c") * docN)
      .withColumn("text", when(col("__c") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit("~"), col("__c"))), " ")))
      .withColumn("text", when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit(hotBlock + " "), col("text"))).otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__c")
    write(fannedDocs, "documents")

    val emb = read("embeddings")
    val vecN = off(emb, "vec_id")
    // hot vector: (8, j1..j63) — first component dominates cosine to
    // the (8,0,…,0) centroid; jitter = the planes() integer formula
    // keyed by vec_id (deterministic, in [-0.5, 0.5))
    val jitter = (j: org.apache.spark.sql.Column) =>
      ((col("vec_id") * 64 + j) * 2654435761L % 1000003L)
        .cast("double") / 1000003.0 - 0.5
    val hotVec = transform(sequence(lit(0), lit(63)),
      j => when(j === 0, lit(8.0)).otherwise(jitter(j)).cast("float"))
    val fannedEmb = emb
      .withColumn("__c", explode(sequence(lit(0L), lit(embCopies - 1L))))
      .withColumn("vec_id", col("vec_id") + col("__c") * vecN)
      .withColumn("embedding",
        when(pmod(col("vec_id"), lit(2)) === 0, hotVec)
          .otherwise(col("embedding")))
      .drop("__c")
    write(fannedEmb, "embeddings")

    println(s"""{"zipfgen":"$out","docCopies":$docCopies,"hotRepeat":$hotRepeat,"embCopies":$embCopies}""")
    spark.stop()
  }
}
