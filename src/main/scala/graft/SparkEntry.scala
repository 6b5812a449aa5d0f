package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{JsonDoc, Pipeline, QueryDef, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator catalog (SURVEY.md §2 inventory, one entry
  * per operator); `oracleSql` carries the DuckDB-equivalent SQL for the
  * driver's hash-compare correctness gate.
  */
object SparkEntry {

  /** Local worker threads for the mains: `SPARK_GRAFT_CPUS`, else the
    * machine's core count, so no default overcommits the box. */
  def localCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

  /** Full catalog, in registration order. */
  def catalog: Seq[QueryDef] =
    Relational.entries ++ JsonDoc.entries ++ Pipeline.entries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference's flagship golden (README.md:142-155): JSON field
    * extraction + numeric CAST + LIKE-style predicate + corrected
    * multi-key ORDER BY — on the events doc table.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .filter($"event_type".like("c%"))
      .select($"event_id",
        get_json_object($"props", "$.k").cast("int").as("myvar"))
      .filter($"myvar" > 50)
      .orderBy($"myvar", $"event_id")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
