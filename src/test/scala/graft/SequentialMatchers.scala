package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.IdMinter
import graft.resolve.SourceMatcher

/** The executable spec of the single-lineage matchers: the
  * branch-and-union `SourceMatcher.attachPrimary` /
  * `displayNameFallback` (one filtered copy of the locations per
  * provenance tier, unioned back; a matched/unmatched split for the
  * display-name fallback) and the sequential `AuthorMatcher.matchAuthors`
  * (ORCID, then the signal tiers, then minting, each on the remainder
  * the previous tier left, built by anti-joins). RandomizedParitySpec
  * holds the program's versions to these on seeded inputs.
  */
object SequentialMatchers {

  private def issnNamespaceRank(ns: Column): Column =
    when(ns === "eissn", 1).when(ns === "lissn", 2).when(ns === "pissn", 3)

  /** Primary tiers, one filtered branch per provenance, unioned. */
  def attachPrimary(locations: DataFrame, sources: DataFrame,
      endpointToSource: DataFrame,
      excluded: Seq[Long] = SourceMatcher.defaultExcludedIds): DataFrame = {
    val srcF = SourceMatcher.filteredSources(sources, excluded)
    val cols = locations.columns.map(col)

    // other (crossref/landing_page/…): extract self-ish ISSNs, rank
    // eissn > lissn > pissn then id text, take the best match per work.
    val others = locations.filter(
      !col("provenance").isin("repo", "repo_backfill", "datacite", "pubmed"))
    val relevant = explode_outer(filter(col("ids"), x =>
      x.getField("namespace").contains("issn") &&
        (x.getField("relationship").isin(SourceMatcher.issnRelationships.map(lit): _*) ||
          x.getField("relationship").isNull)))
    val ranked = others.select(cols :+ relevant.as("__rel"): _*)
      .withColumn("__nid_rn", row_number().over(Window.partitionBy(col("native_id"))
        .orderBy(issnNamespaceRank(col("__rel.namespace")).asc_nulls_last,
          col("__rel.id").asc_nulls_last)))
    // index columns aliased (__src_id/__src_oa) so a caller-supplied
    // `id`/`is_oa_source` location column can never make the window /
    // select references ambiguous (same idiom as the repo tier's __ep).
    val issnMatches = ranked
      .join(broadcast(SourceMatcher.issnIndex(srcF)
          .select(col("issn"), col("id").as("__src_id"),
            col("is_oa_source").as("__src_oa"))),
        ranked("__rel.id") === col("issn"))
      .withColumn("__best", row_number().over(Window.partitionBy(col("native_id"))
        .orderBy(col("__nid_rn").asc, col("__src_id").asc)))
      .filter(col("__best") === 1)
      .select(col("native_id").as("__mid"), col("__src_id").as("source_id"),
        col("__src_oa").as("is_oa_source"))
    val othersFinal = others.join(issnMatches,
      others("native_id") === col("__mid"), "left").drop("__mid")

    // datacite: extract the datacite_client id, join the client index,
    // keep the lowest-source match per work (unmatched rows stay).
    val datacite = locations.filter(col("provenance") === "datacite")
    val clientId = explode_outer(filter(col("ids"), x =>
      x.getField("namespace") === "datacite_client" &&
        (x.getField("relationship") === "self" ||
          x.getField("relationship").isNull)))
    val dcFinal = datacite.select(cols :+ clientId.as("__client"): _*)
      .join(broadcast(SourceMatcher.dataciteIndex(srcF)
          .select(col("datacite_id"), col("id").as("__src_id"),
            col("is_oa_source").as("__src_oa"))),
        col("__client.id") === col("datacite_id"), "left")
      .withColumn("__best", row_number().over(Window.partitionBy(col("native_id"))
        .orderBy(col("__src_id").asc_nulls_last)))
      .filter(col("__best") === 1)
      .select(cols ++ Seq(col("__src_id").as("source_id"),
        col("__src_oa").as("is_oa_source")): _*)

    // pubmed: constant source.
    val pmFinal = locations.filter(col("provenance") === "pubmed")
      .select(cols ++ Seq(lit(SourceMatcher.pubmedSourceId).as("source_id"),
        lit(false).as("is_oa_source")): _*)

    // repo: endpoint_id equijoin.
    val repoFinal = locations
      .filter(col("provenance").isin("repo", "repo_backfill"))
      .join(broadcast(SourceMatcher.endpointIndex(endpointToSource, srcF)
          .select(col("endpoint_id").as("__ep"), col("id").as("source_id"),
            col("is_oa_source"))),
        col("endpoint_id") === col("__ep"), "left")
      .drop("__ep")

    val out = cols ++ Seq(col("source_id"), col("is_oa_source"))
    Seq(othersFinal, dcFinal, pmFinal, repoFinal)
      .map(_.select(out: _*)).reduce(_.unionByName(_))
  }

  /** Display-name fallback: sources whose display_name is unique in the
    * registry (merge redirects excluded, exclusion list NOT applied —
    * the reference matches against the raw registry here) match
    * unmatched locations on source_name. */
  def displayNameFallback(attached: DataFrame, sources: DataFrame): DataFrame = {
    val uniq = sources.filter(col("merge_into_id").isNull)
      .groupBy(col("display_name"))
      .agg(max(col("id")).as("__sid"), max(col("is_oa")).as("__oa"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") === 1 && col("display_name").isNotNull)
      .drop("__cnt")
    val matched = attached.filter(col("source_id").isNotNull)
    val unmatched = attached.filter(col("source_id").isNull)
      .drop("source_id", "is_oa_source")
      .join(broadcast(uniq), col("source_name") === col("display_name"), "left")
      .withColumn("source_id", col("__sid"))
      .withColumn("is_oa_source", col("__oa"))
      .drop("display_name", "__sid", "__oa")
    matched.unionByName(unmatched)
  }

  /** ORCID, signal tiers, minting — each on the anti-joined remainder. */
  def matchAuthors(incoming: DataFrame, candidates: DataFrame): DataFrame = {
    // ORCID tier — skipped for works where the same orcid appears on
    // multiple authorships (publisher stamping, MatchAuthors.ipynb:392)
    val dupOrcid = incoming.filter(col("orcid").isNotNull)
      .groupBy(col("work_id"), col("orcid")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("work_id").as("__dw"), col("orcid").as("__do"))
    val orcidable = incoming
      .join(dupOrcid, col("work_id") === col("__dw") && col("orcid") === col("__do"),
        "left_anti")
      .filter(col("orcid").isNotNull)
    val byOrcid = orcidable.join(
        candidates.filter(col("orcid").isNotNull)
          .groupBy(col("orcid")).agg(min(col("author_id")).as("author_id")),
        Seq("orcid"))
      .select(col("work_id"), col("author_seq"), col("author_id"),
        lit("orcid").as("match_tier"))

    val afterOrcid = incoming.join(byOrcid.select("work_id", "author_seq"),
      Seq("work_id", "author_seq"), "left_anti")

    // Tiers 2–4 share the block-key equijoin and differ only in which
    // SIGNAL must match uniquely — and an authorship reaches tier N+1
    // exactly when tier N's candidate count ≠ 1. So all three tiers
    // collapse into ONE join + ONE aggregation with conditional
    // distinct-counts per signal (round 1 ran three joins plus three
    // anti-joins over the same pairs — 3× the shuffles for identical
    // results; the q52 oracle mirrors the sequential form and proves
    // the fusion equivalent).
    // author_id.isNotNull: a null-id candidate row would form its own
    // level-1 group and be counted by count(when(__instHit, 1)) — the
    // sequential form's countDistinct(author_id) ignored nulls, so a
    // null-only hit must fall through to the next tier, not block it.
    val cand = candidates.filter(col("author_id").isNotNull)
      .select(col("author_id"), col("block_key").as("__bk"),
      col("institution_ids").as("__inst"), col("source_ids").as("__src"))
    val pairs = afterOrcid.join(cand, col("block_key") === col("__bk"))
      .withColumn("__instHit", arrays_overlap(col("institution_ids"), col("__inst")))
      .withColumn("__srcHit", array_contains(col("__src"), col("source_id")))
    // Two-level aggregation instead of three countDistinct's in one
    // groupBy: multiple distinct aggregates plan through Expand, which
    // multiplies the (skew-prone) block-pair frame 4× before the
    // shuffle. Level 1 dedups per candidate author (O(1) state; a
    // duplicate candidate row OR-folds its signals via max), level 2 is
    // then plain counts — no Expand anywhere, same tier semantics.
    val perCandidate = pairs
      .groupBy(col("work_id"), col("author_seq"), col("author_id"))
      .agg(max(col("__instHit")).as("__instHit"),
        max(col("__srcHit")).as("__srcHit"))
    val perAuthorship = perCandidate.groupBy(col("work_id"), col("author_seq")).agg(
      count(when(col("__instHit"), lit(1))).as("__n2"),
      min(when(col("__instHit"), col("author_id"))).as("__a2"),
      count(when(col("__srcHit"), lit(1))).as("__n3"),
      min(when(col("__srcHit"), col("author_id"))).as("__a3"),
      count(col("author_id")).as("__n4"),
      min(col("author_id")).as("__a4"))
    val tiered = perAuthorship.select(col("work_id"), col("author_seq"),
      when(col("__n2") === 1, col("__a2"))
        .when(col("__n3") === 1, col("__a3"))
        .when(col("__n4") === 1, col("__a4")).as("author_id"),
      when(col("__n2") === 1, "name_institution")
        .when(col("__n3") === 1, "name_source")
        .when(col("__n4") === 1, "name_unique").as("match_tier"))
      .filter(col("author_id").isNotNull)

    // mint new author ids for the remainder (per distinct block_key)
    val afterTiers = afterOrcid.join(tiered.select("work_id", "author_seq"),
      Seq("work_id", "author_seq"), "left_anti")
    val minted = IdMinter.mint(
      candidates.select(col("block_key").as("key"), col("author_id").as("id")),
      afterTiers.select(col("block_key").as("key")), "key", "id")
    val byMint = afterTiers.join(minted, col("block_key") === col("key"))
      .select(col("work_id"), col("author_seq"), col("id").as("author_id"),
        lit("minted").as("match_tier"))

    val matched = byOrcid.unionByName(tiered).unionByName(byMint)
    incoming.join(matched, Seq("work_id", "author_seq"), "left")
  }
}
