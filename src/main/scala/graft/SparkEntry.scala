package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{queries => qq}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the oracle-checked operator inventory (SURVEY.md §2): every
  * implemented operator has an entry here plus an equivalent DuckDB SQL in
  * `oracleSql`, hash-compared by the driver at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    queries("q1_agg")(spark, "/root/testdata/sf0.001")
  }

  private val groups: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (qq.Relational.queries, qq.Relational.oracle),
      (qq.EventAnalytics.queries, qq.EventAnalytics.oracle),
      (qq.ControlAnalytics.queries, qq.ControlAnalytics.oracle),
      (qq.DetectQueries.queries, qq.DetectQueries.oracle),
      (qq.TextQueries.queries, qq.TextQueries.oracle),
      (qq.DedupQueries.queries, qq.DedupQueries.oracle),
      (qq.SimQueries.queries, qq.SimQueries.oracle),
      (qq.MultimodalQueries.queries, qq.MultimodalQueries.oracle),
      (qq.SkewQueries.queries, qq.SkewQueries.oracle),
      (qq.SessionQueries.queries, qq.SessionQueries.oracle),
      (qq.TemporalQueries.queries, qq.TemporalQueries.oracle),
      (qq.BucketedQueries.queries, qq.BucketedQueries.oracle),
      (qq.SampleQueries.queries, qq.SampleQueries.oracle),
      (qq.PackingQueries.queries, qq.PackingQueries.oracle),
      (qq.ProfileQueries.queries, qq.ProfileQueries.oracle),
      (qq.PipelineQueries.queries, qq.PipelineQueries.oracle),
      (qq.RetrievalQueries.queries, qq.RetrievalQueries.oracle)
    )

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.iterator.flatMap(_._1).toMap

  /** The named queries in the order given, or every query sorted by name
    * when `names` is empty. An unknown name fails naming it and the known
    * ones, before any work starts.
    */
  def resolve(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}; " +
      s"known: ${all.keys.toSeq.sorted.mkString(", ")}")
    (if (names.isEmpty) all.keys.toSeq.sorted else names).map(n => n -> all(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    groups.iterator.flatMap(_._2).toMap
}
