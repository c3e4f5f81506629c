package graft.authors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.IdMinter

/** Author disambiguation: blocking + tiered cascade with the
  * unique-match rule (reference: notebooks/end2end/MatchAuthors.ipynb:
  * 212-907 — block key = first-initial+last :296, ORCID tier with the
  * publisher-stamped-duplicate skip :392, signal tiers with
  * `count == 1` uniqueness :470-530, minting for the rest).
  *
  * Scale: every authorship's decision is computed once, on a narrow
  * per-authorship frame. The three signal tiers share one block_key
  * equijoin (the skew-prone "similarity join" — AQE skew splitting
  * applies; for pathological blocks the reference caps the worklist, we
  * cap candidates per block upstream) and one two-level aggregation;
  * duplicate ORCIDs are counted on the same narrow frame; ORCID, then
  * the tiers, then the minted id are applied in priority order. The
  * wide incoming frame is read once and joins the decisions once: no
  * tier builds its remainder by anti-joining a copy of the input.
  */
object AuthorMatcher {

  /** @param incoming  (work_id, author_seq, block_key, orcid,
    *                   institution_ids ARRAY, source_id); (work_id,
    *                   author_seq) is the authorship key, non-null. A key
    *                   may repeat (one authorship seen through several
    *                   locations): its rows share one decision.
    * @param candidates (author_id, block_key, orcid,
    *                   institution_ids ARRAY, source_ids ARRAY)
    * @return incoming + author_id + match_tier */
  def matchAuthors(incoming: DataFrame, candidates: DataFrame): DataFrame = {
    // ORCID tier — skipped where the same orcid appears on several
    // authorships of one work (publisher stamping, MatchAuthors.ipynb:
    // 392). An ORCID whose candidates all lack an id still matches
    // (author_id null).
    val orcidIndex = candidates.filter(col("orcid").isNotNull)
      .groupBy(col("orcid").as("__orc")).agg(min(col("author_id")).as("__o_id"))
    // A null-id candidate row would form its own level-1 group and be
    // counted by count(when(__instHit, 1)); the tiers count distinct
    // author ids, so a null-only hit must fall through, not block.
    val cand = candidates.filter(col("author_id").isNotNull)
      .select(col("author_id"), col("block_key").as("__bk"),
        col("institution_ids").as("__inst"), col("source_ids").as("__src"))
    // The narrow frame moves once, by work_id: the duplicate-ORCID
    // count and both aggregation levels below are keyed by work_id plus
    // more, so they need no further exchange. The left join keeps
    // authorships without candidates (their tier counts are 0): the
    // frame carries every authorship to the mint. Dropping a null
    // work_id (outside the key contract) keeps both consumers of
    // `decided` one identical plan, so Spark reuses its exchange.
    val pairs = incoming.filter(col("work_id").isNotNull)
      .select(col("work_id"), col("author_seq"), col("block_key"), col("orcid"),
        col("institution_ids"), col("source_id"))
      .repartition(col("work_id"))
      .withColumn("__dup",
        count(lit(1)).over(Window.partitionBy(col("work_id"), col("orcid"))) > 1)
      .join(orcidIndex, col("orcid") === col("__orc") && !col("__dup"), "left")
      .join(cand, col("block_key") === col("__bk"), "left")
      .withColumn("__instHit", arrays_overlap(col("institution_ids"), col("__inst")))
      .withColumn("__srcHit", array_contains(col("__src"), col("source_id")))
    // Tiers 2–4 differ only in which SIGNAL must match uniquely, and an
    // authorship reaches tier N+1 exactly when tier N's candidate count
    // ≠ 1, so one aggregation decides all three. It is two-level, not
    // three countDistinct's in one groupBy: multiple distinct aggregates
    // plan through Expand, which multiplies the (skew-prone) block-pair
    // frame 4× before the shuffle. Level 1 dedups per candidate author
    // (a duplicate candidate row OR-folds its signals via max), level 2
    // is then plain counts. The ORCID hit and the block key ride along.
    val key = Seq(col("work_id"), col("author_seq"))
    val orcidHit = col("__orc").isNotNull
    val perCandidate = pairs.groupBy(key :+ col("author_id"): _*).agg(
      max(col("__instHit")).as("__instHit"), max(col("__srcHit")).as("__srcHit"),
      max(orcidHit).as("__oh"), min(when(orcidHit, col("__o_id"))).as("__o_id"),
      min(col("block_key")).as("block_key"))
    val decided = perCandidate.groupBy(key: _*).agg(
      count(when(col("__instHit"), lit(1))).as("__n2"),
      min(when(col("__instHit"), col("author_id"))).as("__a2"),
      count(when(col("__srcHit"), lit(1))).as("__n3"),
      min(when(col("__srcHit"), col("author_id"))).as("__a3"),
      count(col("author_id")).as("__n4"),
      min(col("author_id")).as("__a4"),
      max(col("__oh")).as("__oh"), min(col("__o_id")).as("__o_id"),
      min(col("block_key")).as("block_key"))
      .select(col("work_id"), col("author_seq"), col("block_key"),
        when(col("__oh"), col("__o_id"))
          .when(col("__n2") === 1, col("__a2"))
          .when(col("__n3") === 1, col("__a3"))
          .when(col("__n4") === 1, col("__a4")).as("author_id"),
        when(col("__oh"), "orcid")
          .when(col("__n2") === 1, "name_institution")
          .when(col("__n3") === 1, "name_source")
          .when(col("__n4") === 1, "name_unique").as("match_tier"))

    // mint new author ids for the remainder, once per distinct
    // block_key (a null key takes a number but matches no row). The
    // minted set passes through IdMinter's single partition anyway, so
    // it broadcasts back.
    val remainder = col("match_tier").isNull
    val minted = IdMinter.mint(
      candidates.select(col("block_key").as("key"), col("author_id").as("id")),
      decided.filter(remainder).select(col("block_key").as("key")), "key", "id")
    val matched = decided
      .join(broadcast(minted), remainder && col("block_key") === col("key"), "left")
      .select(col("work_id"), col("author_seq"),
        coalesce(col("author_id"), col("id")).as("author_id"),
        coalesce(col("match_tier"), when(col("id").isNotNull, "minted"))
          .as("match_tier"))
    incoming.join(matched, Seq("work_id", "author_seq"), "left")
  }
}
