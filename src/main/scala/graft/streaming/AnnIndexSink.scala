package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** Streaming maintenance for the persisted ANN indexes —
  * `Similarity.writeBucketedCorpus` (`bucket=` sign-LSH layout) and the
  * IVF `cell=` layout: a micro-batch of NEW vectors lands in exactly the
  * partitions its keys hash/assign into; every other partition
  * directory is untouched, byte for byte.
  *
  * Per batch, under [[SegmentLog]]'s commit protocol: project the
  * batch into the index row shape (id, quantized embedding, self-norm,
  * partition key) — the same expressions the batch writer uses, so
  * probes cannot tell old rows from new — and stage it partitioned by
  * the key; each staged file moves to `<part>/batch-<id>.parquet`, and
  * the id is appended to `_ann_batches` last. A logged batchId is a
  * NOOP; a crash before the append replays into identical file names.
  *
  * Vectors are treated as append-only (ids are new) — the standard
  * embedding-store contract; re-keying an existing id needs a bucket
  * rewrite, which is the batch writer's job.
  *
  * SCALE: cost per batch is O(|batch| + touched partitions); the index
  * grows one small file per partition per batch — [[compact]] folds
  * each partition directory back to one file from the live rows
  * (answer-preserving; j27 compacts the stream-built index and admits
  * one more batch before the probe must still hash p8b's oracle).
  */
object AnnIndexSink {

  /** Fold every `bucket=`/`cell=` partition to one file (see
    * [[IndexCompact]], which reads the partition column from the
    * layout). Append-only vectors: merges never read the index, so
    * compaction is safe at any batch boundary. */
  def compact(spark: org.apache.spark.sql.SparkSession, root: String): Unit =
    IndexCompact.compact(spark, root)

  /** Merge a micro-batch of (idCol, embCol) vectors into the sign-LSH
    * bucketed index at `path`. Returns true if applied, false for a
    * replayed batchId (NOOP). */
  def mergeBatch(
      batch: DataFrame, path: String, batchId: Long, planes: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding"): Boolean =
    mergeInto(batch, path, batchId, "bucket",
      Similarity.signBucket(col("c_emb"), planes), idCol, embCol)

  /** Same maintenance for the IVF `cell=` layout: `cellAssign` must be
    * the SAME literal-folded pivot-affinity expression the index was
    * built with, phrased over the quantized column `c_emb` (the
    * partition expression is evaluated AFTER the batch is projected
    * into index rows, like `bucket` above). */
  def mergeBatchIvf(
      batch: DataFrame, path: String, batchId: Long, cellAssign: Column,
      idCol: String = "vec_id", embCol: String = "embedding"): Boolean =
    mergeInto(batch, path, batchId, "cell", cellAssign, idCol, embCol)

  /** foreachBatch adapter:
    * `writeStream.foreachBatch(AnnIndexSink.sink(path, planes))`. */
  def sink(path: String, planes: Int = 4, idCol: String = "vec_id",
      embCol: String = "embedding"): (DataFrame, Long) => Unit =
    (batch, id) => { mergeBatch(batch, path, id, planes, idCol, embCol); () }

  private val Log = "_ann_batches"

  /** Batch ids already merged into the index at `root`. */
  def appliedBatches(root: String): Set[Long] = SegmentLog.applied(root, Log)

  private def mergeInto(
      batch: DataFrame, path: String, batchId: Long,
      partCol: String, partValue: Column,
      idCol: String, embCol: String): Boolean =
    SegmentLog.commit(path, Log, batchId) { stage =>
      stage.partitioned(batch
        .dropDuplicates(idCol) // one row per id within a batch
        .select(col(idCol).as("neighbor_id"),
          Similarity.quantize(col(embCol)).as("c_emb"))
        .withColumn("c_nrm",
          graft.functions.Vectors.dotCol(col("c_emb"), col("c_emb")))
        .withColumn(partCol, partValue), partCol)
    }
}
