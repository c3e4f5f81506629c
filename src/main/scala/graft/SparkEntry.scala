package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AwardQueries, DomainQueries, EntityQueries, FunderIngestQueries, IngestQueries, PipelineQueries, RelationalQueries, SnapshotQueries, TextQueries, TopicApiQueries, VectorQueries, WorksQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator family from
  * SURVEY.md §2 (and the beyond-reference LLM-data-pipeline operators)
  * to a Spark plan over the driver fixtures; `oracleSql` holds the
  * DuckDB-equivalent SQL for the hash-exact correctness gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Star-schema revenue rollup: fact→dims with broadcast joins. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q03_join_star_revenue")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ DomainQueries.queries ++
      TextQueries.queries ++ VectorQueries.queries ++ WorksQueries.queries ++
      IngestQueries.queries ++ EntityQueries.queries ++ AwardQueries.queries ++
      PipelineQueries.queries ++ TopicApiQueries.queries ++
      SnapshotQueries.queries ++ FunderIngestQueries.queries

  /** The dev subset filter (`SPARK_GRAFT_ONLY`): a comma-separated list
    * of name SUBSTRINGS, so `q97` selects `q97_work_author_guard`;
    * unset selects every query. */
  def selects(only: Option[String])(name: String): Boolean =
    only.forall(_.split(",").exists(name.contains))

  /** The registered queries in name order, narrowed by
    * SPARK_GRAFT_ONLY. */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    queries.toSeq.sortBy(_._1).filter { case (n, _) => selects(only)(n) }
  }

  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ DomainQueries.oracle ++
      TextQueries.oracle ++ VectorQueries.oracle ++ WorksQueries.oracle ++
      IngestQueries.oracle ++ EntityQueries.oracle ++ AwardQueries.oracle ++
      PipelineQueries.oracle ++ TopicApiQueries.oracle ++
      SnapshotQueries.oracle ++ FunderIngestQueries.oracle
}
