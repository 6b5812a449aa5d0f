package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Parquet table loaders for the driver testdata layout (TESTDATA.md).
  *
  * All §2 query-plane operators (SURVEY.md) run over these typed tables;
  * the schemaless-JSON document plane is exercised via `events.props`
  * (a raw JSON string column) and the CDC fixtures in `graft.cdc`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Canonical logical schema per table. The generator's PHYSICAL types
    * drift between testdata regenerations (round 5: events.ts flipped
    * parquet TIMESTAMP(NANOS) → TIMESTAMP_NTZ and 23 catalog queries
    * failed analysis), so every load normalizes to these types and the
    * whole catalog sees one stable schema regardless of generator
    * version. Only columns whose actual type differs get a cast — the
    * steady-state plan is untouched. */
  private val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq(
      "event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  /** Plan cache: re-listing the parquet footer/file index per query adds
    * fixed latency to every catalog entry; the logical plan is immutable,
    * so one instance per (session, dir, table) is shared. */
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate((spark, dir, name), {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      // Some generator versions write events.ts as parquet
      // TIMESTAMP(NANOS), which Spark's vectorized reader rejects
      // outright — read nanos as a long, then normalize below.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      // Epoch-long timestamps need unit arithmetic, not a cast (a plain
      // long→timestamp cast would interpret SECONDS): the generator's
      // long encoding is nanoseconds.
      val df =
        if (name == "events" && raw.schema("ts").dataType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw
      canonical.getOrElse(name, Seq.empty).foldLeft(df) {
        case (acc, (c, t)) =>
          if (acc.schema.fieldNames.contains(c) && acc.schema(c).dataType != t)
            acc.withColumn(c, col(c).cast(t))
          else acc
      }
    })

  /** Post-normalization schema a table is guaranteed to present
    * (asserted by SchemaDriftSpec each round so a generator change
    * fails ONE loud test instead of N downstream analysis errors). */
  def canonicalSchema(name: String): StructType =
    StructType(canonical(name).map { case (c, t) => StructField(c, t) })

  /** Register every table as a temp view so spark.sql(...) works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
