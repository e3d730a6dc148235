package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private def registries: Seq[QueryDef] =
    Relational.all ++ Graph.all ++ StreamingBatch.all ++ Llm.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every query name, in registry order. */
  def names: Seq[String] = registries.map(_.name)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registries.flatMap(q => q.oracle.map(o => q.name -> o.linesIterator.map(_.trim).mkString(" "))).toMap
}
