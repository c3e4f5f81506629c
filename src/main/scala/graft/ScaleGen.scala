package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-curve fixture generator (dev tooling, not driver contract):
  * replicates an sf0.1 fixture directory N× with key remapping so the
  * heavy query shapes can be benched at sf1 on the same host and their
  * sfN/sf0.1 runtime ratios inspected (VERDICT r14 ask #1 — the scale
  * story proven empirically, not just by plan audit).
  *
  * Replication preserves the fixtures' semantic structure instead of
  * naively duplicating rows (naive duplication corrupts the DEDUP
  * workloads — 10 byte-identical copies of every document make each
  * doc a near-dup of 9 twins, inflating candidate pairs ~45× instead
  * of 10×):
  *  - every id domain shifts by `copy × (max_id + 1)`, so
  *    customer↔orders↔lineitem↔part↔supplier joins stay consistent
  *    within a copy and never collide across copies;
  *  - nation/region (broadcast dims) keep ONE copy — at real scale
  *    the dimension tables don't grow with the fact tables;
  *  - document texts get a per-copy word suffix (`w~c`), making copy
  *    vocabularies disjoint: each copy reproduces sf0.1's exact
  *    near-dup pair structure and contributes zero cross-copy
  *    candidates — total dedup work scales exactly N×;
  *  - embeddings get a per-copy AFFINE DIMENSION PERMUTATION
  *    `i → (a·i + r) mod dim` with `r = c mod dim`,
  *    `a = 2·(c div dim) + 1` (dim must be a power of two, so every
  *    odd `a` is coprime and the map is a bijection): any permutation
  *    preserves every within-copy cosine/dot exactly while
  *    decorrelating cross-copy pairs, so ANN/near-dup neighborhood
  *    structure also scales N× (pure scaling would keep cross-copy
  *    cosines at 1.0 and blow up LSH buckets). The affine family
  *    keeps permutations DISTINCT past `copies > dim` — a pure cyclic
  *    rotation repeats at copy c+dim, silently re-correlating those
  *    pairs; distinct (a, r) pairs give dim²/2 distinct permutations
  *    (copies ≤ 2048 at dim 64), and the first dim copies reproduce
  *    the plain rotation exactly (a = 1);
  *  - events shift event_id/user_id; the time range stays (N× denser
  *    traffic, the realistic growth shape for windows/sessionization).
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> [copies=10]
  */
object ScaleGen {

  /** The per-copy affine embedding permutation (exposed for the
    * spec): `new[i] = old[(a·i + c) mod dim]` with
    * `a = 2·(c div dim) + 1` — a bijection for power-of-two dims
    * (odd multiplier), distinct for distinct copies, and equal to
    * the plain rotation for c < dim. */
  def permuted(emb: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column, dim: Int): org.apache.spark.sql.Column = {
    val mult = floor(c / lit(dim.toLong)) * 2 + 1
    when(c === 0, emb).otherwise(
      transform(emb, (_, i) =>
        element_at(emb,
          (pmod(i * mult + c, lit(dim.toLong)) + 1).cast("int"))))
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession()

    def read(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def write(df: DataFrame, n: String): Unit =
      df.repartition(16).write.mode("overwrite")
        .parquet(s"$out/$n.parquet")
    def off(df: DataFrame, idCol: String): Long =
      df.agg(max(col(idCol))).collect()(0).getLong(0) + 1
    /** N copies with the listed id columns shifted by copy × their
      * domain size (computed from THIS table or passed in). */
    def fan(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val c = explode(sequence(lit(0L), lit(copies - 1L))).as("__c")
      val fanned = df.withColumn("__c", c)
      shifts.foldLeft(fanned) { case (acc, (name, domain)) =>
        acc.withColumn(name, col(name) + col("__c") * domain)
      }.drop("__c")
    }

    val custN = off(read("customer"), "c_custkey")
    val ordN = off(read("orders"), "o_orderkey")
    val partN = off(read("part"), "p_partkey")
    val suppN = off(read("supplier"), "s_suppkey")

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(fan(read("customer"), "c_custkey" -> custN), "customer")
    write(fan(read("orders"), "o_orderkey" -> ordN,
      "o_custkey" -> custN), "orders")
    write(fan(read("lineitem"), "l_orderkey" -> ordN,
      "l_partkey" -> partN, "l_suppkey" -> suppN), "lineitem")
    write(fan(read("part"), "p_partkey" -> partN), "part")
    write(fan(read("supplier"), "s_suppkey" -> suppN), "supplier")

    val ev = read("events")
    val evN = off(ev, "event_id")
    val userN = off(ev, "user_id")
    write(fan(ev, "event_id" -> evN, "user_id" -> userN), "events")

    val docs = read("documents")
    val docN = off(docs, "doc_id")
    val fannedDocs = docs
      .withColumn("__c", explode(sequence(lit(0L), lit(copies - 1L))))
      .withColumn("doc_id", col("doc_id") + col("__c") * docN)
      .withColumn("text", when(col("__c") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit("~"), col("__c"))), " ")))
      .drop("__c")
    write(fannedDocs, "documents")

    val emb = read("embeddings")
    val vecN = off(emb, "vec_id")
    val Array(minDim, dim) = emb
      .agg(min(size(col("embedding"))), max(size(col("embedding"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Int]).toArray
    // permuted() indexes every row with the single global dim; a
    // shorter row would read past its end (NULL elements under
    // non-ANSI eval — silent fixture corruption, not a failure), so
    // ragged embeddings must fail fast here
    require(minDim == dim,
      s"embeddings must be uniform-dimension (found sizes $minDim..$dim)" +
        " — the affine permutation indexes with the global dim")
    require((dim & (dim - 1)) == 0,
      s"embedding dim $dim must be a power of two (affine permutation " +
        "multipliers are the odd residues — coprime only for 2^k dims)")
    require(copies <= dim.toLong * dim / 2,
      s"copies=$copies exceeds the ${dim.toLong * dim / 2} distinct " +
        s"affine permutations at dim $dim — cross-copy pairs would " +
        "re-correlate")
    // i → (a·i + r) mod dim; a = 2·(c div dim)+1 (odd ⇒ bijective on a
    // power-of-two dim), r = c mod dim. Distinct copies ⇒ distinct
    // (a, r) ⇒ distinct permutations; copies < dim ⇒ a = 1, the plain
    // rotation (bit-identical to the r15 fixtures at 10 copies).
    val fannedEmb = emb
      .withColumn("__c", explode(sequence(lit(0L), lit(copies - 1L))))
      .withColumn("vec_id", col("vec_id") + col("__c") * vecN)
      .withColumn("embedding",
        permuted(col("embedding"), col("__c"), dim))
      .drop("__c")
    write(fannedEmb, "embeddings")

    println(s"""{"scalegen":"$out","copies":$copies}""")
    spark.stop()
  }
}
