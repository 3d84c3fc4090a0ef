package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A host application's session isn't built by [[GraftSession]], so
    * install the engine's runtime confs (UTC zone for date_format
    * rendering, nanos and NTZ parquet reads, ...) and register the SQL
    * functions here.
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.applyRuntimeConfs(spark)
    GraftFunctions.register(spark)
    Queries.all.find(_.name == "a00_pipeline_e2e").get.fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.fn).toMap

  /** DuckDB-runnable oracle SQL per query (omitted → rows-only check). */
  def oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
