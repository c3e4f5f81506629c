package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.authors.{AuthorMatcher, Authorships}
import graft.entities.SourcesApi
import graft.ingest.CrossrefParser
import graft.resolve.{SourceMatcher, WorkIdResolver}
import graft.serve.{Guardrails, SnapshotDocs, SnapshotExport}
import graft.works.{TypeRules, WorksBase}

/** The nightly DAG over generated Crossref records, as six layers in
  * the reference's order (ingest → resolve → works → authors →
  * entities → serve). Each layer reads the previous layers' landed
  * parquet, builds its frames with the program's public layer
  * functions (construct) and lands them (action), so every layer
  * boundary is a Materialize boundary as in `PipelineDemo.land`.
  *
  * @param data  generator output: crossref.jsonl + side tables
  * @param out   landing root for this pass
  * @param churnCeiling most works the night may change: the reference's
  *   ceiling share of the legacy corpus (see perfbench/gen.py) */
final class Dag(spark: SparkSession, data: String, out: String, churnCeiling: Long) {
  private def side(n: String) = spark.read.parquet(s"$data/$n.parquet")
  private def landed(n: String) = spark.read.parquet(s"$out/$n")
  private val nstr = lit(null).cast("string")

  private val rawSchema =
    "doi STRING, title ARRAY<STRING>, author ARRAY<STRUCT<given: STRING, " +
      "family: STRING, orcid: STRING, affiliation: ARRAY<STRUCT<name: STRING>>, " +
      "sequence: STRING>>, issued STRUCT<date_parts: ARRAY<ARRAY<INT>>>, " +
      "type STRING, license ARRAY<STRUCT<url: STRING, content_version: STRING>>, " +
      "container_title ARRAY<STRING>, publisher STRING, abstract STRING, " +
      "updated TIMESTAMP"

  def raw: DataFrame = spark.read.schema(rawSchema)
    .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    .json(s"$data/crossref.jsonl")

  /** Source registry in the SourceMatcher shape. */
  private def matcherSources: DataFrame = side("sources").select(
    col("id"), col("display_name"), array(col("issn")).as("issns"), col("type"),
    concat(lit("Publisher "), (col("publisher_id") - 1).cast("string")).as("publisher"),
    (col("id") % 2 === 0).as("is_oa"),
    lit(null).cast("long").as("merge_into_id"),
    lit(null).cast("array<string>").as("datacite_ids"))

  /** Institutions dimension keyed by affiliation string. */
  private def institutions: DataFrame = side("institutions").select(
    col("institution_id"), col("institution_id").as("display_name"),
    col("country_code"), array(col("institution_id")).as("lineage"))

  val ingest: () => Seq[(String, DataFrame)] = () =>
    Seq("walden" -> CrossrefParser.withMergeKey(CrossrefParser.parse(raw)))

  val resolve: () => Seq[(String, DataFrame)] = () => {
    val resolved = WorkIdResolver.resolve(landed("walden"), side("id_map"))
    val locations = resolved
      .withColumn("endpoint_id", nstr)
      .withColumn("raw_type", col("type"))
      .withColumn("landing_page_url", concat(lit("https://doi.org/"), col("native_id")))
      .withColumn("pdf_url", nstr)
      .withColumn("best_doi", col("native_id"))
    Seq("located" -> SourceMatcher.attachSourcesFull(locations, matcherSources,
      spark.emptyDataFrame.select(nstr.as("endpoint_id"),
        lit(null).cast("long").as("source_id"))))
  }

  val works: () => Seq[(String, DataFrame)] = () => {
    val located = landed("located")
    val best = WorksBase.survivorship(
      located.withColumn("native_num", xxhash64(col("native_id"))),
      "work_id", when(col("provenance") === "crossref", 1).otherwise(9),
      col("updated_date"), col("native_num"),
      Seq("native_id", "title", "abstract", "type", "published_date",
        "updated_date", "authors", "source_id", "source_name", "publisher",
        "license", "is_oa", "work_id_source"))
    val forTyping = best
      .withColumn("raw_type", col("type"))
      .withColumn("cr_type", col("type"))
      .withColumn("cr_subtype", nstr)
      .withColumn("cr_container", nstr)
      .withColumn("issue", nstr)
      .withColumn("first_page", nstr)
      .withColumn("n_refs", lit(0))
      .withColumn("single_page", lit(false))
      .withColumn("has_abstract", col("abstract").isNotNull)
      .withColumn("is_retracted", lit(false))
      .withColumn("oa_type", nstr)
      .withColumn("page_title", nstr)
      .withColumn("resolved_url", nstr)
      .withColumn("meta", lit(null).cast("array<string>"))
      .withColumn("doi", col("native_id"))
      .withColumn("source_type", when(col("source_id").isNotNull, "journal"))
      .withColumn("has_journal", col("source_id").isNotNull)
      .withColumn("provenance", lit("crossref"))
      .withColumn("ingest_type",
        when(col("type") === "journal-article", "article").otherwise(col("type")))
      .withColumn("preprint_registrant", col("native_id").startsWith("10.48550/"))
    Seq("works" -> TypeRules.finalType(TypeRules.features(forTyping))
      .withColumn("work_type", col("type")))
  }

  val authors: () => Seq[(String, DataFrame)] = () => {
    val incoming = landed("works").select(col("work_id"), col("source_id"),
        posexplode(col("authors")).as(Seq("author_seq", "a")))
      .select(col("work_id"), col("author_seq"),
        col("a.author_key").as("block_key"), col("a.orcid").as("orcid"),
        transform(col("a.affiliations"), x => x.getField("name")).as("institution_ids"),
        coalesce(col("source_id"), lit(0L)).as("source_id"),
        col("a.name").as("raw_name"), col("a.is_corresponding").as("is_corresponding"))
    val candidates = side("author_registry").select(col("author_id"),
      col("block_key"), col("orcid"), array(col("institution")).as("institution_ids"),
      array().cast("array<bigint>").as("source_ids"))
    val matched = AuthorMatcher.matchAuthors(incoming, candidates)
    Seq("matched" -> matched,
      "authorships" -> Authorships.assemble(matched, institutions))
  }

  /** Works + authorships + source shaped as the works-enriched table
    * the snapshot doc and the entity APIs read. The benchmark builds
    * it, so it lands in an untimed step before the entities layer. */
  def enriched: DataFrame = {
    val w = landed("works").join(landed("authorships"), Seq("work_id"), "left")
    val k = col("work_id")
    val src = struct(
      when(col("source_id").isNotNull,
        concat(lit("https://openalex.org/S"), col("source_id").cast("string"))).as("id"),
      col("source_name").as("display_name"),
      (pmod(k, lit(5)) === 0).as("is_in_doaj"))
    val loc = struct(col("native_id"), src.as("source"),
      coalesce(col("is_oa"), lit(false)).as("is_oa"),
      lit("publishedVersion").as("version"),
      concat(lit("https://doi.org/"), col("native_id")).as("landing_page_url"),
      nstr.as("pdf_url"), col("source_name").as("raw_source_name"),
      col("raw_type"), lit("crossref").as("provenance"), col("license"),
      when(col("license").isNotNull, 1L).as("license_id"),
      lit(true).as("is_accepted"))
    val tid = pmod(xxhash64(col("title")), lit(50))
    val topic = struct(concat(lit("T"), (tid + 10000).cast("string")).as("id"),
      concat(lit("Topic "), tid.cast("string")).as("display_name"),
      concat(lit("SF"), (tid % 6).cast("string")).as("subfield"),
      concat(lit("F"), (tid % 4).cast("string")).as("field"),
      concat(lit("D"), (tid % 2).cast("string")).as("domain"),
      (tid / 50.0).as("score"))
    val au = (a: Column) => struct(
      struct(a.getField("author_id").as("id")).as("author"),
      a.getField("author_position").as("author_position"),
      transform(a.getField("institutions"),
        i => struct(i.getField("display_name").as("name"))).as("affiliations"),
      a.getField("countries").as("countries"),
      a.getField("raw_name").as("raw_author_name"),
      nstr.as("raw_orcid"), a.getField("is_corresponding").as("is_corresponding"),
      transform(a.getField("institutions"),
        i => i.getField("display_name")).as("raw_affiliation_strings"),
      transform(a.getField("institutions"),
        i => abs(xxhash64(i.getField("id")))).as("institutions"))
    val pub = coalesce(col("published_date"), lit("2020-01-01").cast("date"))
    w.withColumn("__loc", loc).select(
      k.as("id"), col("title"),
      date_format(pub, "yyyy-MM-dd").as("created_date"),
      date_format(col("updated_date"), "yyyy-MM-dd").as("updated_date"),
      date_format(pub, "yyyy-MM-dd").as("publication_date"),
      year(pub).as("publication_year"),
      array(struct(tid.cast("long").as("id"), concat(lit("wd"), tid).as("wikidata"),
        concat(lit("C"), tid).as("display_name"), (tid % 5).cast("int").as("level"),
        (tid / 50.0).as("score"))).as("concepts"),
      map(lit("doi"), col("native_id"), lit("openalex"), k.cast("string")).as("ids"),
      concat(lit("https://doi.org/"), col("native_id")).as("doi"),
      lit("en").as("language"), col("work_type").as("type"),
      lit(null).cast("array<string>").as("referenced_works"),
      when(col("abstract").isNotNull, to_json(map(lit("abstract"), array(lit(0)))))
        .as("abstract_inverted_index"),
      struct(coalesce(col("is_oa"), lit(false)).as("is_oa"),
        when(col("is_oa"), "gold").otherwise("closed").as("oa_status"),
        lit(false).as("any_repository_has_fulltext"),
        when(col("is_oa"), concat(lit("https://doi.org/"), col("native_id"))).as("oa_url"))
        .as("open_access"),
      transform(col("authorships"), au).as("authorships"),
      array(col("__loc")).as("locations"),
      col("__loc").as("primary_location"),
      when(col("is_oa"), col("__loc")).as("best_oa_location"),
      nstr.as("fulltext"),
      coalesce(size(col("authorships")), lit(0)).cast("int").as("authors_count"),
      lit(null).cast("array<bigint>").as("corresponding_author_ids"),
      lit(null).cast("array<bigint>").as("corresponding_institution_ids"),
      struct(topic.getField("id").as("id")).as("primary_topic"),
      array(topic).as("topics"),
      array(col("work_type")).as("keywords"),
      lit(1).as("locations_count"),
      lit(null).cast("array<struct<id:string,display_name:string,score:double>>")
        .as("sustainable_development_goals"),
      array().cast("array<string>").as("awards"),
      array().cast("array<bigint>").as("funders"),
      array().cast("array<bigint>").as("institutions"),
      lit(1).as("countries_distinct_count"),
      lit(1).as("institutions_distinct_count"),
      lit(false).as("is_paratext"), lit(false).as("is_retracted"),
      lit(false).as("is_xpac"),
      struct(nstr.as("volume")).as("biblio"),
      lit(null).cast("array<string>").as("related_works"),
      pmod(k, lit(40)).as("cited_by_count"),
      array(struct(lit(2024).as("year"), pmod(k, lit(10)).as("cited_by_count")))
        .as("counts_by_year"),
      lit(null).cast("struct<value:bigint>").as("apc_list"),
      lit(null).cast("struct<value:bigint>").as("apc_paid"),
      lit(null).cast("double").as("fwci"),
      lit(null).cast("struct<value:double>").as("citation_normalized_percentile"),
      lit(null).cast("struct<min:int,max:int>").as("cited_by_percentile_year"),
      lit(null).cast("array<string>").as("mesh"),
      col("abstract").isNotNull.as("has_content"))
  }

  /** The source registry in the Sources API registry shape. */
  private def apiSources: DataFrame = {
    val s = side("sources"); val i = col("id")
    s.select(i, col("display_name"), col("issn").as("issn_l"),
      array(col("issn")).as("issns"), col("publisher_id"),
      col("institution_id"), col("type"),
      nstr.as("wikidata_id"), (i % 2 === 0).as("is_in_doaj"),
      when(i % 4 === 0, (lit(2000) + i % 20).cast("int")).as("is_in_doaj_start_year"),
      (i % 3 === 0).as("is_oa_high_oa_rate"),
      lit(null).cast("int").as("high_oa_rate_start_year"),
      lit(false).as("is_in_scielo"), (i % 5 === 0).as("is_ojs"),
      (i % 13 === 0).as("is_core"), lit(false).as("is_preprint_repository"),
      (i % 2 === 1).as("is_oa"), nstr.as("webpage"),
      lit(null).cast("array<struct<price:int,currency:string>>").as("apc_prices"),
      lit(null).cast("int").as("apc_usd"),
      lit(null).cast("map<string,int>").as("apc_usd_by_year"),
      lit("US").as("country_code"),
      lit(null).cast("array<struct<url:string,organization:string>>").as("societies"),
      lit(null).cast("array<string>").as("alternate_titles"),
      lit(null).cast("long").as("merge_into_id"))
  }

  val entities: () => Seq[(String, DataFrame)] = () => {
    val e = landed("enriched")
    val s = side("sources")
    val metricsPre = s.select(col("id"), lit(2000).as("first_publication_year"),
      lit(2024).as("last_publication_year"))
    val insts = side("institutions").select(col("numeric_id").as("id"),
      col("institution_id").as("display_name"))
    val publishers = s.select(col("publisher_id").as("id")).distinct().select(
      col("id"), concat(lit("Publisher "), col("id").cast("string")).as("display_name"),
      lit(null).cast("struct<id:string>").as("parent_publisher"))
    Seq("sources_api" -> SourcesApi.assemble(apiSources, metricsPre,
      insts, publishers, SourcesApi.worksBase(e), recentYearMin = 2023))
  }

  val serve: () => Seq[(String, DataFrame)] = () =>
    Seq("docs" -> SnapshotDocs.worksDoc(landed("enriched")))

  /** Serve's tail after the docs land: the JSON export and the
    * guardrails over the composed outputs. Returns the guardrail
    * checks that failed. */
  def export(): Seq[Guardrails.Check] = {
    val docs = landed("docs")
    SnapshotExport.writeJson(
      docs.withColumn("json", to_json(struct(col("id"), col("doi"), col("title"),
        col("type"), col("publication_year"), col("authorships"),
        col("primary_location"), col("open_access")))),
      col("id"), "json", s"$out/export", 4, 1000000)
    val works = landed("works")
    // every work of the night's output changed tonight
    val checks = Seq(
      Guardrails.churn(works, lit(true), maxChanged = churnCeiling),
      Guardrails.attributeLoss(docs, "title", baseline = works.count(), 0, 0.0),
      Guardrails.referential(landed("authorships"), "work_id", works, "work_id"),
      Guardrails.referential(landed("sources_api").select(col("id").as("sid")),
        "sid", side("sources"), "id"))
    Guardrails.runAll(checks).left.getOrElse(Nil)
  }

  val layers: Seq[(String, () => Seq[(String, DataFrame)])] = Seq(
    "ingest" -> ingest, "resolve" -> resolve, "works" -> works,
    "authors" -> authors, "entities" -> entities, "serve" -> serve)

  /** Row counts and ratios of the landed outputs, for the correctness
    * check and the per-layer metrics (read after the timed region). */
  def outcome(): Map[String, Double] = {
    val loc = landed("located"); val m = landed("matched"); val d = landed("docs")
    val n = (f: DataFrame) => f.count().toDouble
    Map(
      "ingest.rows_out" -> n(landed("walden")),
      "resolve.rows_out" -> n(loc),
      "works.rows_out" -> n(landed("works")),
      "works.adopted_rows" -> n(landed("works").filter(col("work_id_source") =!= "minted")),
      "authors.rows_out" -> n(landed("authorships")),
      "authors.matched_rows" -> n(m),
      "entities.rows_out" -> n(landed("sources_api")),
      "entities.enriched_rows" -> n(landed("enriched")),
      "serve.rows_out" -> n(d),
      "serve.distinct_ids" -> n(d.select("id").distinct()),
      "serve.export_lines" -> n(spark.read.text(s"$out/export")),
      "resolve.adopted_ratio" ->
        n(loc.filter(col("work_id_source") =!= "minted")) / math.max(1.0, n(loc)),
      "resolve.source_matched_ratio" ->
        n(loc.filter(col("source_id").isNotNull)) / math.max(1.0, n(loc)),
      "authors.matched_ratio" ->
        n(m.filter(col("match_tier") =!= "minted")) / math.max(1.0, n(m)))
  }
}
