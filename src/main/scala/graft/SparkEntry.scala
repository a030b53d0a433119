package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{queries => Q}

/** Driver contract — see /root/repo/SURVEY.md §2/§5.
  * `queries` is the full verified operator inventory; `oracleSql` gives
  * the DuckDB-equivalent SQL for every SQL-expressible query (others
  * get a rows-only check + a ScalaTest spec).
  */
object SparkEntry {

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Q.CoreSql.qs, Q.CoreSql.oracle),
      (Q.WindowQueries.qs, Q.WindowQueries.oracle),
      (Q.AnalyticQueries.qs ++ Q.AnalyticQueries.sqlDialect, Q.AnalyticQueries.oracle),
      (Q.FunctionQueries.qs, Q.FunctionQueries.oracle),
      (Q.PipelineQueries.qs, Q.PipelineQueries.oracle),
      (Q.TemporalQueries.qs, Q.TemporalQueries.oracle),
      (Q.SketchQueries.qs, Q.SketchQueries.oracle),
      (Q.ExportQueries.qs, Q.ExportQueries.oracle),
      (Q.CodecQueries.qs, Q.CodecQueries.oracle)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Q.CoreSql.qs("q_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** The query names `SPARK_GRAFT_QUERIES=q_a,q_b` selects, sorted, or
    * every query when it is unset or blank: the subset [[Bench]] and
    * [[Verify]] run. A name that is not a query is an error, so a typo
    * cannot pass for a run over fewer queries.
    */
  def selected(subset: Option[String] = sys.env.get("SPARK_GRAFT_QUERIES")): Seq[String] = {
    val all = queries.keySet
    val names = subset.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).distinct
    val unknown = names.filterNot(all)
    require(unknown.isEmpty, s"SPARK_GRAFT_QUERIES names no query: ${unknown.mkString(", ")}")
    (if (names.isEmpty) all.toSeq else names).sorted
  }

  /** For each key in queries, equivalent SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
