package graft.awards

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PDF award tagging (reference: notebooks/awards/
  * TagPdfAwardsIncremental.sql): extract funder / acknowledgement /
  * funding sections from GROBID TEI, screen them against the
  * keep-listed funder names, then tag specific award ids of the
  * matched funders — both passes insert-only against their targets.
  *
  *  - [[funderSections]] (steps 2): checkpoint-windowed TEI harvest —
  *    `<funder><orgName>` joins, tag-stripped acknowledgement/funding
  *    divs, native-id → work-id mapping with MAX-work dedup.
  *  - [[funderRegexes]] (step 3): short ALL-CAPS names match
  *    case-SENSITIVELY (an acronym like 'ACS' must not fire on
  *    prose), longer names case-insensitively; regex metacharacters
  *    escaped; always word-bounded.
  *  - [[funderMatches]]: the screened cross-match — the funder-regex
  *    side is registry-sized and broadcast; the work side is scanned
  *    once per section row (the reference's own CROSS JOIN RLIKE
  *    shape).
  *  - [[awardMatches]] (step 5): award ids of matched funders,
  *    usability-gated, dropped when the id collides with a funder
  *    alternate name (a bare 'NSF' award id would tag every NSF
  *    paper), word-bounded so truncated ids cannot match inside longer
  *    runs ('DE-AC0' must not fire on 'DE-AC02-05CH11231'), joined
  *    per-funder (broadcast award side) and RLIKE'd against the
  *    sections.
  *  - [[insertOnly]]: the LEFT ANTI insert-only landing both steps
  *    use.
  *
  * Scale posture: the regex sides are small and broadcast; sections
  * scan once per pass; the REPARTITION(512) hint of the reference is
  * the shuffle-partition setting here.
  */
object PdfAwardTagger {

  private def stripTags(c: Column): Column =
    regexp_replace(c, "<[^>]+>", " ")

  /** Steps 2: windowed TEI section extraction.
    *  - `grobid`: (native_id, native_id_namespace, created_date,
    *    xml_content);
    *  - `locationsMapped`: (native_id, native_id_namespace, work_id). */
  def funderSections(grobid: DataFrame, locationsMapped: DataFrame,
      windowStart: Column, runCutoff: Column): DataFrame = {
    val recent = grobid
      .filter(col("created_date") >= windowStart &&
        col("created_date") < runCutoff && col("xml_content").isNotNull)
    val workIdMap = recent.select(col("native_id"),
        col("native_id_namespace"))
      .join(locationsMapped.filter(col("work_id").isNotNull),
        Seq("native_id", "native_id_namespace"))
      .groupBy(col("native_id"), col("native_id_namespace"))
      .agg(max(col("work_id")).as("work_id"))
    recent.join(workIdMap, Seq("native_id", "native_id_namespace"))
      .select(col("work_id"), col("xml_content")).distinct()
      .select(col("work_id"),
        array_join(flatten(transform(
          regexp_extract_all(col("xml_content"),
            lit("<funder[^>]*>(.*?)</funder>"), lit(1)),
          b => regexp_extract_all(b,
            lit("<orgName[^>]*>([^<]+)</orgName>"), lit(1)))), ", ")
          .as("funders"),
        array_join(transform(
          regexp_extract_all(col("xml_content"),
            lit("<div[^>]*type=\"acknowledgement\"[^>]*>(.*?)</div>"),
            lit(1)), stripTags(_)), " ").as("acknowledgement"),
        array_join(transform(
          regexp_extract_all(col("xml_content"),
            lit("<div[^>]*type=\"funding\"[^>]*>(.*?)</div>"), lit(1)),
          stripTags(_)), " ").as("funding"))
      .withColumn("all_sections", concat_ws(" ", col("funders"),
        col("acknowledgement"), col("funding")))
      .filter(col("funders") =!= "" || col("acknowledgement") =!= "" ||
        col("funding") =!= "")
  }

  private def escapeRegex(c: Column): Column =
    regexp_replace(c, "([\\[\\](){}+*?^$.|\\\\])", "\\\\$1")

  /** Step 3's regex build: short ALL-CAPS → case-sensitive; else
    * (?i). `funderNamesKeep`: (name, id 'F…'); `fundersApi`: (id,
    * display_name, ids STRUCT<ror, doi>, alternate_titles
    * ARRAY<STRING>). */
  def funderRegexes(funderNamesKeep: DataFrame,
      fundersApi: DataFrame): DataFrame =
    funderNamesKeep.select(col("name").as("funder_name"),
        col("id").as("funder_id"),
        regexp_extract(col("id"), "F([0-9]+)", 1).cast("long")
          .as("funder_id_numeric"),
        when(col("name").rlike("^[A-Z0-9\\.\\-\\s]+$") &&
          length(col("name")) <= 10,
          concat(lit("\\b"), escapeRegex(col("name")), lit("\\b")))
          .otherwise(concat(lit("(?i)\\b"), escapeRegex(col("name")),
            lit("\\b"))).as("match_regex"))
      .join(broadcast(fundersApi.select(col("id").as("funder_id_numeric"),
        col("display_name").as("funder_display_name"),
        col("ids").getField("ror").as("ror_id"),
        col("ids").getField("doi").as("doi"))),
        Seq("funder_id_numeric"))

  /** Step 3's screened cross-match (regex side broadcast). */
  def funderMatches(sections: DataFrame, regexes: DataFrame): DataFrame =
    sections.join(broadcast(regexes))
      .filter(col("all_sections").rlike_dynamic(col("match_regex")))
      .select(col("work_id"), col("all_sections"), col("funder_name"),
        col("funder_display_name"), col("funder_id"),
        col("funder_id_numeric"), col("ror_id"), col("doi"))
      .distinct()

  /** The LEFT ANTI insert-only landing (steps 4/5): rows of `fresh`
    * whose `keys` aren't in `existing`, appended. */
  def insertOnly(existing: DataFrame, fresh: DataFrame,
      keys: Seq[String]): DataFrame =
    existing.unionByName(
      fresh.join(existing.select(keys.map(col): _*).distinct(),
        keys, "left_anti"))

  /** Step 5: award-id tagging for matched funders. `awards`:
    * (funder_id BIGINT numeric, funder_award_id);
    * `fundersApi` as in [[funderRegexes]] (display + alternate names
    * feed the collision anti-join);
    * `usable` gates junk ids ([[WorkFunders.usableAwardId]]). */
  def awardMatches(staging: DataFrame, fundersApi: DataFrame,
      awards: DataFrame,
      usable: Column => Column = WorkFunders.usableAwardId): DataFrame = {
    val matchedFunders = staging.select(col("funder_id_numeric")).distinct()
    val altNames = fundersApi
      .join(matchedFunders,
        col("id") === col("funder_id_numeric"), "left_semi")
      .select(col("id").as("funder_id"), col("display_name").as("alt_name"))
      .unionByName(fundersApi
        .join(matchedFunders,
          col("id") === col("funder_id_numeric"), "left_semi")
        .select(col("id").as("funder_id"),
          explode(col("alternate_titles")).as("alt_name")))
    val candidates = awards
      .join(matchedFunders,
        col("funder_id") === col("funder_id_numeric"), "left_semi")
      .filter(usable(col("funder_award_id")))
      .withColumn("award_match_pattern",
        concat(lit("\\b"), escapeRegex(col("funder_award_id")),
          lit("\\b")))
    val usableAwards = candidates
      .join(altNames.withColumnRenamed("funder_id", "__af"),
        col("funder_award_id") === col("alt_name"), "left_anti")
    val paperSections = staging
      .select(col("work_id"), col("funder_id_numeric"),
        col("all_sections")).distinct()
    paperSections
      .join(broadcast(usableAwards),
        col("funder_id_numeric") === usableAwards("funder_id"))
      .filter(col("all_sections").rlike_dynamic(col("award_match_pattern")))
      .select(col("work_id").as("paper_id"), col("funder_id"),
        col("funder_award_id"),
        col("all_sections").as("funding_sections"))
  }

  /** rlike with a non-literal pattern column, through the compiled-
    * pattern cache (graft.plans.RLikeCached — the built-in RLike
    * recompiles a non-foldable pattern per row pair; the registry
    * sides here carry a few dozen DISTINCT patterns evaluated against
    * every section row). Semantics identical to `functions.rlike`
    * (PlansSpec parity arm). Built as a Column directly, so it needs
    * no session registration. */
  implicit private class DynRlike(c: Column) {
    def rlike_dynamic(pattern: Column): Column =
      org.apache.spark.sql.GraftExpr.column(graft.plans.RLikeCached(
        org.apache.spark.sql.GraftExpr.expression(c),
        org.apache.spark.sql.GraftExpr.expression(pattern)))
  }
}
