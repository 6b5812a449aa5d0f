package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Retrieval

/** Streaming maintenance for the BM25 inverted index
  * ([[graft.pipeline.Retrieval]]) — the [[AnnIndexSink]] recipe applied
  * to the `tb=` posting layout: a micro-batch of NEW documents explodes
  * into posting rows that land in exactly the token buckets they hash
  * into, plus ONE `segstats` segment row; every other partition
  * directory is untouched, byte for byte.
  *
  * Per batch, under [[SegmentLog]]'s commit protocol (staged writes
  * moved to deterministic names, the id appended to `_idx_batches`
  * last):
  *  1. project the batch into posting rows (token, doc, tf, dl, tb) —
  *     the same expressions the batch writer uses, so probes cannot
  *     tell old rows from new — and move them to
  *     `postings/tb=<b>/batch-<id>.parquet`;
  *  2. move the batch's (n_docs, tt) row to
  *     `segstats/batch-<id>.parquet` — probes SUM segments, so the
  *     global avgdl and doc count stay exact after every append;
  *  3. move the batch's id sidecar to `docids/batch-<id>.parquet`.
  *
  * Idempotence: a logged batchId is a NOOP; a crash between the moves
  * and the log append replays into identical file names. Because no
  * statistic is stored per token (df is counted at probe time from the
  * pruned postings), appends never invalidate anything — the segmented
  * index is probe-consistent after every committed batch.
  *
  * Cross-batch redelivery (a changes-feed UPDATE re-emitting a doc id
  * in a later batch) is FIRST-WRITE-WINS: every segment records its id
  * set under `docids/`, and a new batch anti-joins against the union
  * of prior segments' sidecars — without this, a redelivered id would
  * silently append duplicate postings and double-count n_docs/df. The
  * check reads only the narrow id column (the Lucene "applied ids"
  * idea); the replaying batch's OWN sidecar is excluded from the read,
  * so a crash-replay regenerates its full file set instead of
  * anti-joining itself to empty. Re-ingesting CHANGED text for an
  * indexed id needs a rebuild, which is the batch writer's job
  * ([[graft.pipeline.Retrieval.writeIndex]]).
  *
  * SCALE: cost per batch is O(|batch postings| + touched buckets); the
  * index grows one small file per touched bucket per batch — [[compact]]
  * folds each `tb=` directory, `segstats/` and `docids/` back to one
  * file through [[IndexCompact]] (the LSM tradeoff, same as
  * [[AnnIndexSink]]).
  */
object InvertedIndexSink {

  /** Fold every `postings/tb=` partition, `segstats/` and `docids/` to
    * one file each (see [[IndexCompact]]). Answer-preserving: probes
    * SUM the segment rows, so folding them into one file without
    * summing changes nothing, and the `_idx_batches` log is untouched,
    * so a replayed pre-compaction batch still NOOPs. A crash mid-swap
    * is recovered by the next run, also after later batches landed. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Seq("postings", "segstats", "docids")
      .foreach(sub => IndexCompact.compact(spark, s"$path/$sub"))

  /** Merge a micro-batch of (idCol, textCol) documents into the index
    * at `path`. Returns true if applied, false for a replayed batchId
    * (NOOP). `nBuckets` must match the index layout.
    *
    * `orderCol`: when the batch carries an ordering column (the
    * changes feed's `seq`), within-batch duplicates of an id keep the
    * LOWEST-ordered row — deterministic first-write-wins even when an
    * insert and its update land in one micro-batch. Without it,
    * `dropDuplicates` keeps an arbitrary row (fine only for
    * known-unique batches). */
  def mergeBatch(
      batch: DataFrame, path: String, batchId: Long, nBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      orderCol: Option[String] = None): Boolean =
    SegmentLog.commit(path, Log, batchId) { stage =>
      val inBatch = orderCol match {
        case None => batch.dropDuplicates(idCol)
        case Some(oc) =>
          batch.groupBy(col(idCol))
            .agg(min_by(struct(batch.columns.map(col): _*), col(oc)).as("__r"))
            .select(col("__r.*"))
      }
      // first-write-wins: drop ids already indexed by PRIOR segments
      // (this batch's own sidecar excluded — crash-replay must not
      // anti-join itself to empty). A compaction that crashed mid-swap
      // leaves the sidecar under `_old_docids`; recovering it first
      // keeps those ids visible, or a redelivered id would be indexed
      // twice before the next compaction could repair anything.
      val docids = Paths.get(path, "docids")
      IndexCompact.recover(docids)
      val priorIds = SegmentLog.parquetFiles(docids)
        .filter(_.getFileName.toString != s"batch-$batchId.parquet")
        .map(_.toString)
      // persisted: the postings, segstats and docids writes below are
      // three separate actions over this (small, batch-sized) frame —
      // without the cache each re-runs the anti-join and any upstream
      // extraction
      val docs = (
        if (priorIds.isEmpty) inBatch
        else {
          val known = batch.sparkSession.read.parquet(priorIds: _*)
            .withColumnRenamed("doc", "__known")
          inBatch.join(known,
            inBatch(idCol).cast("long") === col("__known"), "left_anti")
        }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        stage.partitioned(
          Retrieval.postingRows(docs, nBuckets, idCol, textCol), "tb",
          "postings")
        stage.single(Retrieval.segStats(docs, idCol, textCol), "segstats")
        // the segment's id sidecar: the set future batches anti-join on
        stage.single(docs.select(col(idCol).cast("long").as("doc")), "docids")
      } finally { docs.unpersist(blocking = false) }
    }

  /** foreachBatch adapter:
    * `writeStream.foreachBatch(InvertedIndexSink.sink(path))`. */
  def sink(path: String, nBuckets: Int = 64, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, Long) => Unit =
    (batch, id) => { mergeBatch(batch, path, id, nBuckets, idCol, textCol); () }

  private val Log = "_idx_batches"

  /** Batch ids already merged into the index at `root`. */
  def appliedBatches(root: String): Set[Long] = SegmentLog.applied(root, Log)
}
