package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Wiring for one feed: `_changes` source → rev-guarded merge sink, with
  * Spark's checkpointLocation as the progress log — the reference's
  * single-feed client (`bin/index.js:14-104`) as one streaming query.
  */
object ChangesPipeline {

  /** The couch-changes reader every sink shares: the feed's connection
    * options ([[FeedConn.feedOptions]] — path, or URL with its
    * credentials lifted into basic auth), resume seq, admission
    * control. */
  private def buildReader(
      spark: SparkSession, feedPath: String, since: Long,
      maxChangesPerTrigger: Option[Long]) = {
    val reader = spark.readStream.format("couch-changes")
      .option("since", since.toString)
      .options(FeedConn.feedOptions(feedPath))
    maxChangesPerTrigger.fold(reader)(n =>
      reader.option("maxChangesPerTrigger", n.toString))
  }

  /** Start following a feed into a document store.
    *
    * @param feedPath   JSONL `_changes` feed (FileChangesFeed), or an
    *                   `http(s)://host:port/db` URL (HttpChangesFeed —
    *                   the last path segment is the database, matching
    *                   the reference's db-URL config, lib/index.js:50)
    * @param storeRoot  versioned parquet doc store (MergeSink)
    * @param checkpoint Spark checkpoint dir (offset/commit log — the
    *                   native `since_checkpoints`, SURVEY §2.1 S3)
    * @param since      resume seq (the reference's `since` option)
    */
  def start(
      spark: SparkSession,
      feedPath: String,
      storeRoot: String,
      checkpoint: String,
      name: String,
      since: Long = 0L,
      maxChangesPerTrigger: Option[Long] = None,
      excludeTypes: Set[String] = Set.empty,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startWith(spark, feedPath, checkpoint, name,
      MergeSink.forBatch(storeRoot, excludeTypes),
      since, maxChangesPerTrigger, trigger)

  /** The store-agnostic core of [[start]]: source + checkpoint plane
    * wired to ANY foreachBatch sink whose contract is that a replayed
    * batchId is a NOOP — [[MergeSink]] itself, or a sink that writes
    * through it ([[DsirFeatureSink]]). */
  def startWith(
      spark: SparkSession,
      feedPath: String,
      checkpoint: String,
      name: String,
      sink: (DataFrame, Long) => Unit,
      since: Long = 0L,
      maxChangesPerTrigger: Option[Long] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    buildReader(spark, feedPath, since, maxChangesPerTrigger).load()
      .writeStream
      .queryName(name)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(sink)
      .start()

  /** Run a feed through an arbitrary foreachBatch sink to completion. */
  def runOnceWith(
      spark: SparkSession,
      feedPath: String,
      checkpoint: String,
      name: String,
      sink: (DataFrame, Long) => Unit,
      maxChangesPerTrigger: Option[Long] = None): Unit =
    startWith(spark, feedPath, checkpoint, name, sink,
      maxChangesPerTrigger = maxChangesPerTrigger).awaitTermination()

  /** Start following a feed into a standing BM25 inverted index — the
    * retrieval twin of [[start]]: same source and checkpoint plane,
    * but the sink maintains [[graft.pipeline.Retrieval]]'s segmented
    * postings ([[InvertedIndexSink]]) instead of the doc store. Each
    * change's text is `$.textField` of the doc payload; deletions and
    * payloads without the field are skipped, and a redelivered doc id
    * is dropped by the sink's first-write-wins contract (an update
    * needs the batch-writer rebuild — the LSM compaction step). */
  def startIndexing(
      spark: SparkSession,
      feedPath: String,
      indexRoot: String,
      checkpoint: String,
      name: String,
      textField: String = "text",
      nBuckets: Int = 64,
      since: Long = 0L,
      maxChangesPerTrigger: Option[Long] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, get_json_object}
    buildReader(spark, feedPath, since, maxChangesPerTrigger).load()
      .writeStream
      .queryName(name)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // seq rides along so an insert+update of one id in the same
        // micro-batch deterministically keeps the FIRST write
        val docs = batch
          .where(!col("deleted"))
          .select(col("id").cast("long").as("doc_id"),
            get_json_object(col("doc"), s"$$.$textField").as("text"),
            col("seq"))
          .where(col("text").isNotNull)
        InvertedIndexSink.mergeBatch(docs, indexRoot, batchId, nBuckets,
          orderCol = Some("seq"))
        ()
      }
      .start()
  }

  /** Run a feed into the inverted index to completion and wait. */
  def runIndexOnce(
      spark: SparkSession,
      feedPath: String,
      indexRoot: String,
      checkpoint: String,
      name: String = "graft-idx",
      nBuckets: Int = 64,
      maxChangesPerTrigger: Option[Long] = None): Unit =
    startIndexing(spark, feedPath, indexRoot, checkpoint, name,
      nBuckets = nBuckets,
      maxChangesPerTrigger = maxChangesPerTrigger).awaitTermination()

  /** Run a feed to completion (AvailableNow) and wait. */
  def runOnce(
      spark: SparkSession,
      feedPath: String,
      storeRoot: String,
      checkpoint: String,
      name: String = "graft-feed",
      maxChangesPerTrigger: Option[Long] = None): Unit = {
    val q = start(spark, feedPath, storeRoot, checkpoint, name,
      maxChangesPerTrigger = maxChangesPerTrigger)
    q.awaitTermination()
  }
}

/** Compat view of replication progress in the reference's
  * `since_checkpoints` shape `(pgtable, since, enabled)` (README.md:273-281)
  * — derived from Spark's checkpoint offset log, which is the actual
  * source of truth (SURVEY §2.1 S3: "Spark streaming checkpointLocation
  * is the native equivalent; optional compat view").
  */
object SinceCheckpoints {

  /** Last committed seq for one checkpoint dir: reads the newest entry
    * in <checkpoint>/offsets (Spark's HDFSMetadataLog format: line 1 is
    * "v1", subsequent lines are per-source offset JSON). */
  def lastSince(checkpoint: String): Option[Long] = {
    val dir = Paths.get(checkpoint, "offsets")
    if (!Files.exists(dir)) return None
    val batches = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .toSeq.sortBy(_.getFileName.toString.toLong)
    batches.lastOption.flatMap { p =>
      val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .linesIterator.toSeq
      lines.collectFirst {
        case l if l.contains("\"seq\"") => ChangesOffset.fromJson(l).seq
      }
    }
  }

  /** The registry view over a set of (feedName -> checkpointDir). */
  def view(
      spark: SparkSession,
      feeds: Map[String, String],
      enabled: Set[String] = Set.empty): DataFrame = {
    import spark.implicits._
    feeds.toSeq.sortBy(_._1).map { case (name, ckpt) =>
      (name, lastSince(ckpt).getOrElse(0L),
        enabled.isEmpty || enabled(name))
    }.toDF("pgtable", "since", "enabled")
  }
}
