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

  /** The session every `graft.*` main runs in: `local[localCpus]` with
    * one shuffle partition per core, UTC, no UI, log level WARN. */
  def session(): SparkSession = {
    val cpus = localCpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ObjectHashAggregate (every TypedImperativeAggregate: TopK, CMS)
      // falls back to SORT-based aggregation after 128 distinct groups
      // per task — which sorts the aggregate's whole INPUT. For the
      // bounded top-k that means spilling the QxN scored-pair stream the
      // aggregate exists to avoid (56 GB of spill at sf10 before this).
      // Buffers are k entries, so 1M groups/task is still only ~MBs.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // Shuffle files are reclaimed by the ContextCleaner only when the
      // DRIVER GCs their dependencies, and the default periodic-GC
      // interval is 30 MINUTES — a large-SF sweep under a big heap
      // barely GCs, so tens of GB of dead shuffle state pile up and
      // inflate every LATE query (measured at sf10: p16 202 s mid-sweep
      // vs 67 s isolated; p66 129 s vs 27 s). Two minutes bounds the
      // accumulation at a negligible GC cost.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The `names` a catalog main runs: those starting with one of
    * `GRAFT_ONLY`'s comma-separated prefixes (e.g. `GRAFT_ONLY=j20,p53`),
    * or all of them when it is unset. */
  def selected(names: Seq[String]): Seq[String] =
    sys.env.get("GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .fold(names)(only => names.filter(n => only.exists(n.startsWith)))

  /** Drop what one catalog entry left behind before the next runs: the
    * CacheManager's plans and blocks (operators such as KMeans.train
    * persist within a query, and a later plan must not substitute those
    * fragments) and localCheckpoint blocks from iterative operators,
    * which otherwise crowd the unified memory region and slow every
    * later entry (measured at sf10: p27 9.6 s in a fresh pass, 64.7 s
    * once the pass carried the full catalog's leftovers). */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

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
