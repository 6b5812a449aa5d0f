package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.ChangeApply

/** Hash-bucketed document store: the merge sink whose per-batch cost is
  * O(touched buckets), not O(state).
  *
  * [[MergeSink]] writes each batch as a delta and merges on read; its
  * reads anti-join the base against the log's broadcast key set, which
  * at 100 TB state outgrows a broadcast (SURVEY §2.11 T4 scale note).
  * Here the state is split into `buckets` hash buckets of `id`
  * (murmur3 `hash(id) pmod B`, deterministic across sessions):
  *
  *   root/_MANIFEST          "batchId buckets b0v b1v ... bN-1v"
  *   root/b=K/v=N/           parquet files of bucket K at version N
  *
  * A batch merges ONLY the buckets its keys hash into: the batch is
  * bucketed, joined per-bucket against the matching state buckets (the
  * same co-location a bucketed table gives a MERGE on a cluster), and
  * only those buckets get a new version; untouched buckets keep their
  * version in the new manifest. The manifest swap is atomic, and a
  * replayed batchId is a NOOP — same idempotence contract as MergeSink.
  */
object BucketedMergeSink {

  final case class Manifest(batchId: Long, buckets: Int, versions: Vector[Long])

  def readManifest(root: String): Option[Manifest] = {
    val p = Paths.get(root, "_MANIFEST")
    if (!Files.exists(p)) None
    else {
      val parts = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .trim.split("\\s+")
      Some(Manifest(parts(0).toLong, parts(1).toInt,
        parts.drop(2).map(_.toLong).toVector))
    }
  }

  private def writeManifest(root: String, m: Manifest): Unit = {
    val body = (Seq(m.batchId.toString, m.buckets.toString) ++
      m.versions.map(_.toString)).mkString(" ")
    val tmp = Paths.get(root, "_MANIFEST.tmp")
    Files.createDirectories(Paths.get(root))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(root, "_MANIFEST"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def bucketDir(root: String, b: Int, v: Long): String =
    s"$root/b=$b/v=$v"

  private val stateSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "id STRING, rev STRING, doc STRING")

  /** Current full state (id, rev, doc) across all buckets. */
  def readState(spark: SparkSession, root: String): DataFrame =
    readStateAs(spark, root, stateSchema)

  /** [[readState]] for a store with a caller-defined row schema (the
    * generic [[applyBucketed]] counterpart). */
  def readStateAs(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    readManifest(root) match {
      case Some(m) =>
        val dirs = m.versions.zipWithIndex.collect {
          case (v, b) if v >= 0 => bucketDir(root, b, v)
        }
        if (dirs.isEmpty) emptyState(spark, schema)
        // explicit schema: a bucket emptied by deletes is a bare dir
        else spark.read.schema(schema).parquet(dirs: _*)
      case None => emptyState(spark, schema)
    }

  private def emptyState(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Apply one micro-batch; rewrites only the buckets containing batch
    * keys. Returns the touched bucket ids (empty when the batch was a
    * replay NOOP or carried no rows). */
  def applyBatch(
      root: String,
      batch: DataFrame,
      batchId: Long,
      buckets: Int = 16,
      excludeTypes: Set[String] = Set.empty): Seq[Int] =
    applyBucketed(root, batch, batchId, buckets, stateSchema)(
      (state, b) => ChangeApply.applyChanges(state, b, excludeTypes))

  /** The generic bucketed-manifest apply the document store above is
    * one instance of: versioned hash buckets of `id`, atomic manifest
    * swap, replay-NOOP on a seen batchId — with the per-bucket MERGE
    * function and row schema supplied by the caller (the DSIR feature
    * store [[DsirFeatureSink]] is the other instance). `merge(state,
    * batch)` receives the touched buckets' current rows and the raw
    * batch, and returns those buckets' complete new contents; every
    * returned row must keep its `id` STRING column, which decides
    * bucket placement. */
  def applyBucketed(
      root: String,
      batch: DataFrame,
      batchId: Long,
      buckets: Int,
      schema: org.apache.spark.sql.types.StructType)(
      merge: (DataFrame, DataFrame) => DataFrame): Seq[Int] = {
    val spark = batch.sparkSession
    val prev = readManifest(root)
    if (prev.exists(_.batchId >= batchId)) return Seq.empty // replay NOOP
    prev.foreach(m => require(m.buckets == buckets,
      s"store has ${m.buckets} buckets, caller asked $buckets"))
    val versions = prev.map(_.versions)
      .getOrElse(Vector.fill(buckets)(-1L))

    val bucketed = batch.withColumn("__b",
      pmod(hash(col("id")), lit(buckets)))
    val touched = bucketed.select("__b").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) {
      writeManifest(root, Manifest(batchId, buckets, versions))
      return Seq.empty
    }

    val stateDirs = touched.collect {
      case b if versions(b) >= 0 => bucketDir(root, b, versions(b))
    }
    val state =
      if (stateDirs.isEmpty) emptyState(spark, schema)
      else spark.read.schema(schema).parquet(stateDirs.toIndexedSeq: _*)

    // per-id merge: state rows and batch rows hash to the same bucket,
    // so merging the union of touched buckets is exact
    val merged = merge(state, bucketed.drop("__b"))
      .withColumn("__b", pmod(hash(col("id")), lit(buckets)))

    val staging = s"$root/.staging-$batchId"
    merged.repartition(col("__b"))
      .write.mode("overwrite").partitionBy("__b").parquet(staging)

    val newVersions = versions.zipWithIndex.map { case (v, b) =>
      if (touched.contains(b)) v + 1 else v
    }.toVector
    touched.foreach { b =>
      val src = Paths.get(s"$staging/__b=$b")
      val dst = Paths.get(bucketDir(root, b, newVersions(b)))
      Files.createDirectories(dst.getParent)
      if (Files.exists(src))
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      else Files.createDirectories(dst) // bucket emptied by deletes
    }
    writeManifest(root, Manifest(batchId, buckets, newVersions))
    deleteRecursive(Paths.get(staging))
    // retire the immediately-previous version of each touched bucket's
    // predecessor's predecessor (keep one crash-recovery version)
    touched.foreach { b =>
      val old = newVersions(b) - 2
      if (old >= 0) deleteRecursive(Paths.get(bucketDir(root, b, old)))
    }
    touched.toSeq
  }

  /** foreachBatch hook. */
  def forBatch(root: String, buckets: Int = 16,
      excludeTypes: Set[String] = Set.empty): (DataFrame, Long) => Unit =
    (df, id) => { applyBatch(root, df, id, buckets, excludeTypes); () }

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
}
