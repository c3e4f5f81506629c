package graft.resolve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SourceMatcher: attach a source_id to every location — the
  * CreateLocationsWithSources step (reference: notebooks/end2end/
  * CreateLocationsWithSources.ipynb:73-87, the `locations_w_sources`
  * CTAS). Locations route by provenance into four primary tiers, then
  * unmatched rows fall through a display-name match and a manual
  * url/doi/source-name/publisher cascade:
  *
  *  - repo/repo_backfill  → endpoint_id equijoin against the
  *    endpoint→source map (first source per endpoint by id asc);
  *  - datacite            → datacite_client id extracted from `ids[]`
  *    joined to the exploded per-source datacite_ids;
  *  - pubmed              → the constant PubMed source;
  *  - everything else     → ISSNs extracted from `ids[]` (namespace
  *    contains "issn", relationship self-ish or null), ranked
  *    eissn > lissn > pissn then id text, joined to the exploded
  *    per-source ISSN index.
  *
  * Scale posture: the tiers are conditional joins on one lineage, so
  * the location set is read once for the repo/PubMed/ISSN tiers, once
  * for the narrow (native_id, ids) projection that elects each work's
  * best ISSN match, and once for datacite, which keeps one row per
  * native_id; the display-name and post-CTAS fallbacks are broadcast
  * left joins on the same lineage, never a matched/unmatched split
  * unioned back. The source-side indexes (ISSN / endpoint / datacite
  * explodes) are registry-sized (thousands of rows), so each index join
  * broadcasts; the only work-sized shuffles are the per-native_id ISSN
  * election and the datacite row_number dedup, both bounded by the
  * handful of ids a single location carries.
  *
  * Determinism deviation (documented): the reference's per-work
  * best-match row_number breaks ties arbitrarily when one ISSN maps to
  * several sources; here the ISSN/datacite indexes are first deduped to
  * one source per key (row_number by id asc = the reference's own
  * `id_row_number` idiom, which its final join leaves unused), so every
  * pick is deterministic.
  */
object SourceMatcher {

  /** Registry rows excluded from matching (aggregators/catalogs that
    * would swallow repo locations — CreateLocationsWithSources.ipynb
    * `sources_filtered` CTE). */
  val defaultExcludedIds: Seq[Long] = Seq(
    4377196106L, // Internet Archive
    4306400349L, // CiteSeer X
    4308707206L, // B3Kat union catalog
    4377196246L, // CISION
    4306400063L, // Scopus
    7407052528L, // ResearchGate
    4306402117L, // Portail des Bibliotheques Municipales Specialisees
    7407051242L, // E-Pics Bildarchiv
    7407051288L, // WSL Landesforstinventar
    4306400108L, // Library Stack
    4306525896L) // Research Square duplicate

  /** All PubMed locations attach to the PubMed source. */
  val pubmedSourceId = 4306525036L

  /** `ids[].relationship` values that still denote "this work's own
    * ISSN" (version/variant/translation links). */
  val issnRelationships: Seq[String] = Seq(
    "self", "IsVersionOf", "IsNewVersionOf", "IsPreviousVersionOf",
    "IsVariantFormOf", "IsOriginalFormOf", "IsIdentialTo",
    "IsTranslationOf", "HasTranslation")

  /** Registry rows eligible for matching: not merged away, id present,
    * not on the exclusion list. */
  def filteredSources(sources: DataFrame,
      excluded: Seq[Long] = defaultExcludedIds): DataFrame =
    sources.filter(col("merge_into_id").isNull && col("id").isNotNull &&
      !col("id").isin(excluded: _*))

  /** ISSN → (source id, is_oa) index: explode per-source ISSN arrays,
    * keep the lowest source id per ISSN. */
  def issnIndex(filtered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("issn")).orderBy(col("id").asc)
    filtered.select(col("id"), col("is_oa").as("is_oa_source"),
        explode(col("issns")).as("issn"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** endpoint_id → (source id, is_oa) index via the endpoint→source
    * map; first source per endpoint by id asc. */
  def endpointIndex(endpointToSource: DataFrame, filtered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("endpoint_id")).orderBy(col("id").asc)
    endpointToSource.join(filtered,
        endpointToSource("source_id") === filtered("id"))
      .select(endpointToSource("endpoint_id"), filtered("id"),
        filtered("is_oa").as("is_oa_source"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** datacite client id → (source id, is_oa) index. */
  def dataciteIndex(filtered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("datacite_id")).orderBy(col("id").asc)
    filtered.filter(col("datacite_ids").isNotNull && size(col("datacite_ids")) > 0)
      .select(col("id"), col("is_oa").as("is_oa_source"),
        explode(col("datacite_ids")).as("datacite_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private def issnNamespaceRank(ns: Column): Column =
    when(ns === "eissn", 1).when(ns === "lissn", 2).when(ns === "pissn", 3)

  /** Primary-tier attach: route by provenance, return every location
    * with `source_id` / `is_oa_source` (null when no tier matched).
    * `locations` must carry provenance, native_id, ids[], endpoint_id.
    * Rows with a null provenance route to no tier and are dropped. */
  def attachPrimary(locations: DataFrame, sources: DataFrame,
      endpointToSource: DataFrame,
      excluded: Seq[Long] = defaultExcludedIds): DataFrame = {
    val srcF = filteredSources(sources, excluded)
    val cols = locations.columns.map(col)
    val prov = col("provenance")
    val isRepo = prov.isin("repo", "repo_backfill")
    val isIssn = !prov.isin("repo", "repo_backfill", "datacite", "pubmed")

    // ISSN tier (crossref/landing_page/…): the self-ish ISSNs of the
    // ISSN-routed rows, ranked eissn > lissn > pissn then id text, the
    // lowest source id on a tie; one best match per native_id, taken
    // from a narrow (native_id, ids) projection. Index columns are
    // aliased (__src_id/__src_oa) so a caller-supplied `id` /
    // `is_oa_source` location column never makes a reference ambiguous.
    val relevant = explode(filter(col("ids"), x =>
      x.getField("namespace").contains("issn") &&
        (x.getField("relationship").isin(issnRelationships.map(lit): _*) ||
          x.getField("relationship").isNull)))
    val issnBest = locations.filter(isIssn)
      .select(col("native_id").as("__mid"), relevant.as("__rel"))
      .join(broadcast(issnIndex(srcF)
          .select(col("issn"), col("id").as("__src_id"),
            col("is_oa_source").as("__src_oa"))),
        col("__rel.id") === col("issn"))
      .groupBy(col("__mid"))
      .agg(min(struct(
        coalesce(issnNamespaceRank(col("__rel.namespace")), lit(4)).as("r"),
        col("__rel.id").as("i"), col("__src_id").as("s"),
        col("__src_oa").as("o"))).as("__issn"))

    // repo, PubMed and ISSN tiers on one lineage: each tier is a
    // conditional left join (or a constant) keyed by provenance.
    val primary = locations.filter(prov.isNotNull && prov =!= "datacite")
      .join(broadcast(endpointIndex(endpointToSource, srcF)
          .select(col("endpoint_id").as("__ep"), col("id").as("__ep_id"),
            col("is_oa_source").as("__ep_oa"))),
        isRepo && col("endpoint_id") === col("__ep"), "left")
      .join(issnBest, isIssn && col("native_id") === col("__mid"), "left")
      .select(cols ++ Seq(
        when(isRepo, col("__ep_id"))
          .when(prov === "pubmed", lit(pubmedSourceId))
          .otherwise(col("__issn.s")).as("source_id"),
        when(isRepo, col("__ep_oa"))
          .when(prov === "pubmed", lit(false))
          .otherwise(col("__issn.o")).as("is_oa_source")): _*)

    // datacite: its own branch, because it keeps one row per native_id:
    // extract the datacite_client id, join the client index, keep the
    // lowest-source match per work (unmatched rows stay).
    val clientId = explode_outer(filter(col("ids"), x =>
      x.getField("namespace") === "datacite_client" &&
        (x.getField("relationship") === "self" ||
          x.getField("relationship").isNull)))
    val datacite = locations.filter(prov === "datacite")
      .select(cols :+ clientId.as("__client"): _*)
      .join(broadcast(dataciteIndex(srcF)
          .select(col("datacite_id"), col("id").as("__src_id"),
            col("is_oa_source").as("__src_oa"))),
        col("__client.id") === col("datacite_id"), "left")
      .withColumn("__best", row_number().over(Window.partitionBy(col("native_id"))
        .orderBy(col("__src_id").asc_nulls_last)))
      .filter(col("__best") === 1)
      .select(cols ++ Seq(col("__src_id").as("source_id"),
        col("__src_oa").as("is_oa_source")): _*)

    primary.unionByName(datacite)
  }

  /** Display-name fallback: sources whose display_name is unique in the
    * registry (merge redirects excluded, exclusion list NOT applied —
    * the reference matches against the raw registry here) match
    * unmatched locations on source_name. One broadcast left join,
    * conditional on the row being unmatched. */
  def displayNameFallback(attached: DataFrame, sources: DataFrame): DataFrame = {
    val uniq = sources.filter(col("merge_into_id").isNull)
      .groupBy(col("display_name"))
      .agg(max(col("id")).as("__sid"), max(col("is_oa")).as("__oa"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") === 1 && col("display_name").isNotNull)
      .drop("__cnt")
    val unmatched = col("source_id").isNull
    attached.join(broadcast(uniq),
        unmatched && col("source_name") === col("display_name"), "left")
      .withColumn("is_oa_source",
        when(unmatched, col("__oa")).otherwise(col("is_oa_source")))
      .withColumn("source_id", coalesce(col("source_id"), col("__sid")))
      .drop("display_name", "__sid", "__oa")
  }

  /** Manual cascade over still-unmatched rows: landing/pdf base-URL
    * map, DOI-prefix map, source-name map, publisher contains — the
    * hand-curated rules at the tail of the reference CTAS.
    *
    * Documented deviation: the reference derives the host with
    * `try_parse_url(url, 'HOST')`; this regex keeps userinfo/port forms
    * ("host:8080", "user@host") that parse_url would strip. Equivalent
    * for well-formed http(s) URLs, which is all this data carries. */
  def manualFallback(attached: DataFrame): Column = {
    val baseUrl = regexp_extract(
      coalesce(col("landing_page_url"), col("pdf_url")),
      "https?://(www\\.)?([^/]+)", 2)
    val byUrl = Seq(
      "europepmc.org" -> 4306400806L, "ci.nii.ac.jp" -> 4210197683L,
      "dialnet.unirioja.es" -> 4306401293L, "osti.gov" -> 4306402487L,
      "cqvip.com" -> 4306500507L, "books.openedition.org" -> 4210222637L,
      "cyberleninka.ru" -> 4306401404L, "ntrs.nasa.gov" -> 4306402118L,
      "scopus.com" -> 4306400063L)
      .foldLeft(when(lit(false), lit(null).cast("long"))) {
        case (acc, (host, sid)) => acc.when(baseUrl === host, sid)
      }
      .when(coalesce(col("landing_page_url"), col("pdf_url"))
        .contains("hal.science"), 4306402512L)
    val byDoi = Seq(
      "10.20944/preprints%" -> 6309402219L, "10.2139/ssrn.%" -> 4210172589L,
      "10.26434/chemrxiv%" -> 4393918830L)
      .foldLeft(byUrl) { case (acc, (pfx, sid)) =>
        acc.when(col("best_doi").like(pfx), sid) }
    val byName = Seq("biorxiv" -> 4306402567L, "medrxiv" -> 3005729997L,
      "research square" -> 4306402450L)
      .foldLeft(byDoi) { case (acc, (nm, sid)) =>
        acc.when(lower(col("source_name")) === nm, sid) }
    val byPublisher = byName.when(
      lower(col("publisher")).contains("research square platform"),
      4306402450L)
    coalesce(col("source_id"), byPublisher)
  }

  /** Full cascade: primary tiers → display-name fallback → manual
    * rules. Output = locations + (source_id, is_oa_source). */
  def attachSources(locations: DataFrame, sources: DataFrame,
      endpointToSource: DataFrame,
      excluded: Seq[Long] = defaultExcludedIds): DataFrame = {
    val primary = attachPrimary(locations, sources, endpointToSource, excluded)
    val withNames = displayNameFallback(primary, sources)
    withNames.withColumn("source_id", manualFallback(withNames))
  }

  // ── Post-CTAS passes (CreateLocationsWithSources.ipynb cells 3-7) ──

  /** The notebook's shared normalization for the two post-CTAS MERGEs:
    * `LOWER(REGEXP_REPLACE(x, '[^\p{L}\p{N}]', ''))` — strip everything
    * but letters and digits, lowercase. */
  def normalizedName(c: Column): Column =
    lower(regexp_replace(c, "[^\\p{L}\\p{N}]", ""))

  /** Source-native raw-type strings that mark a location as a book for
    * the ebook-platform publisher match (cell 3: the ingest `type` is
    * nulled by then — the cascade owns type — so the reference matches
    * the measured crossref/datacite enums + repo eu-repo URIs + top
    * free-text variants). */
  val bookRawTypes: Seq[String] = Seq(
    "book", "books", "book-chapter", "book chapter", "bookchapter",
    "ebook chapter", "book-part", "book part", "bookpart", "book section",
    "book article", "chapter", "inbook", "monograph", "printed monograph",
    "edited-book", "reference-book", "book-set", "libros", "libro",
    "info:eu-repo/semantics/book", "info:eu-repo/semantics/bookpart")

  /** Cell 7's exclusion list is the CTAS list MINUS the Research Square
    * duplicate (4306525896) — the notebook repeats the ids inline and
    * the final-fallback copy has only the 10; kept faithful. */
  val normalizedFallbackExcludedIds: Seq[Long] =
    defaultExcludedIds.filterNot(_ == 4306525896L)

  /** Cell 3: add `normalized_source_name` and, for book-raw-typed rows
    * with a publisher, `normalized_book_publisher`. */
  def withNormalizedColumns(attached: DataFrame): DataFrame =
    attached
      .withColumn("normalized_source_name", normalizedName(col("source_name")))
      .withColumn("normalized_book_publisher",
        when(lower(col("raw_type")).isin(bookRawTypes: _*) &&
          col("publisher").isNotNull, normalizedName(col("publisher"))))

  /** Cell 5 MERGE: 'ebook platform' registry rows whose NORMALIZED
    * publisher is unique fill still-unmatched book-typed locations by
    * normalized publisher. Only source_id is set (the reference MERGE
    * leaves is_oa_source untouched). */
  def ebookPublisherFill(attached: DataFrame, sources: DataFrame): DataFrame = {
    val idx = sources
      .filter(col("type") === "ebook platform" && col("publisher").isNotNull &&
        col("merge_into_id").isNull)
      .select(col("id").as("__bp_sid"),
        normalizedName(col("publisher")).as("__np"))
      .groupBy(col("__np"))
      .agg(max(col("__bp_sid")).as("__bp_sid"), count(lit(1)).as("__cnt"))
      .filter(col("__cnt") === 1).drop("__cnt")
    attached.join(broadcast(idx),
        col("source_id").isNull && col("normalized_book_publisher").isNotNull &&
          col("normalized_book_publisher") === col("__np"), "left")
      .withColumn("source_id", coalesce(col("source_id"), col("__bp_sid")))
      .drop("__np", "__bp_sid")
  }

  /** Cell 7 MERGE — the final fallback: registry rows whose NORMALIZED
    * display_name is unique (merge redirects out, cell-7 exclusion list
    * applied) fill still-unmatched locations by normalized source name.
    * Two display names that collide after normalization count as 2 and
    * are dropped by the uniqueness gate. Only source_id is set. */
  def normalizedDisplayNameFill(attached: DataFrame, sources: DataFrame,
      excluded: Seq[Long] = normalizedFallbackExcludedIds): DataFrame = {
    val idx = sources
      .filter(col("merge_into_id").isNull && !col("id").isin(excluded: _*))
      .select(col("id").as("__nd_sid"),
        normalizedName(col("display_name")).as("__nn"))
      .groupBy(col("__nn"))
      .agg(max(col("__nd_sid")).as("__nd_sid"), count(lit(1)).as("__cnt"))
      .filter(col("__cnt") === 1 && col("__nn").isNotNull).drop("__cnt")
    attached.join(broadcast(idx),
        col("source_id").isNull && col("normalized_source_name") === col("__nn"),
        "left")
      .withColumn("source_id", coalesce(col("source_id"), col("__nd_sid")))
      .drop("__nn", "__nd_sid")
  }

  /** CTAS + the three post-CTAS passes in notebook order: normalized
    * columns (cell 3) → ebook-platform publisher match (cell 5) →
    * normalized display-name final fallback (cell 7). `locations` must
    * additionally carry `raw_type` and `publisher`. */
  def attachSourcesFull(locations: DataFrame, sources: DataFrame,
      endpointToSource: DataFrame,
      excluded: Seq[Long] = defaultExcludedIds): DataFrame = {
    val ctas = attachSources(locations, sources, endpointToSource, excluded)
    normalizedDisplayNameFill(
      ebookPublisherFill(withNormalizedColumns(ctas), sources), sources)
  }
}
