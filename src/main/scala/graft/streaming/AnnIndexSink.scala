package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** Streaming maintenance for the persisted ANN indexes —
  * `Similarity.writeBucketedCorpus` (`bucket=` sign-LSH layout) and the
  * IVF `cell=` layout: a micro-batch of NEW vectors lands in exactly the
  * partitions its keys hash/assign into; every other partition
  * directory is untouched, byte for byte.
  *
  * Per batch:
  *  1. project the batch into the index row shape (id, quantized
  *     embedding, self-norm, partition key) — the same expressions the
  *     batch writer uses, so probes cannot tell old rows from new;
  *  2. repartition by the partition key (each key owned by ONE task →
  *     exactly one staged file per touched partition, deterministic
  *     across replays) and write to a hidden `_staging_batch_<id>` dir;
  *  3. move each staged file to `<part>/batch-<id>.parquet` — a
  *     DETERMINISTIC name, so a replayed move overwrites its own
  *     previous attempt instead of duplicating rows;
  *  4. record the batch id in `_ann_batches` (the replay short-circuit).
  *
  * Idempotence: a batchId in the log is a NOOP; a crash between step 3
  * and 4 replays into identical file names — the commit is effectively
  * the last rename, like the `_CURRENT` swap in [[MergeSink]].
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
    * [[IndexCompact]]). Append-only vectors: merges never read the
    * index, so compaction is safe at any batch boundary. */
  def compact(spark: org.apache.spark.sql.SparkSession, root: String,
      partCol: String = "bucket"): Unit =
    IndexCompact.compactPartitions(spark, root, partCol)

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

  private def logPath(root: String): Path = Paths.get(root, "_ann_batches")

  /** Batch ids already merged into the index at `root`. */
  def appliedBatches(root: String): Set[Long] = {
    val p = logPath(root)
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(_.toLong).toSet
  }

  private def mergeInto(
      batch: DataFrame, path: String, batchId: Long,
      partCol: String, partValue: Column,
      idCol: String, embCol: String): Boolean = {
    if (appliedBatches(path).contains(batchId)) return false
    val rows = batch
      .dropDuplicates(idCol) // one row per id within a batch
      .select(col(idCol).as("neighbor_id"),
        Similarity.quantize(col(embCol)).as("c_emb"))
      .withColumn("c_nrm",
        graft.functions.Vectors.dotCol(col("c_emb"), col("c_emb")))
      .withColumn(partCol, partValue)
    val staging = s"$path/_staging_batch_$batchId"
    // one task per partition key -> exactly one file per touched
    // partition dir, so replayed stages produce the same file layout
    rows.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(staging)
    val stagingDir = Paths.get(staging)
    val touched = scala.util.Using.resource(Files.list(stagingDir)) { st =>
      st.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(s"$partCol="))
        .toSeq.sortBy(_.getFileName.toString)
    }
    touched.foreach { dir =>
      val dest = Paths.get(path, dir.getFileName.toString)
      Files.createDirectories(dest)
      val parts = scala.util.Using.resource(Files.list(dir)) { st =>
        st.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
      }
      parts.zipWithIndex.foreach { case (f, i) =>
        // deterministic destination name = idempotent replay
        val name = if (i == 0) s"batch-$batchId.parquet"
          else s"batch-$batchId-$i.parquet"
        Files.move(f, dest.resolve(name),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // commit marker AFTER the moves; then clean the staging tree
    Files.createDirectories(Paths.get(path))
    Files.write(logPath(path), s"$batchId\n".getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    scala.util.Using.resource(Files.walk(stagingDir)) { st =>
      st.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.toList
    }.foreach(Files.deleteIfExists(_))
    true
  }
}
