package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, TextOps}

/** Streaming near-duplicate dedup: each micro-batch of documents probes
  * the standing corpus's persisted MinHash band index, gets a verdict
  * (novel / near-dup-of), and only NOVEL docs are appended to the index —
  * the continuous form of [[graft.pipeline.Dedup.minhashNewVsCorpus]],
  * committed through [[SegmentLog]] like the other index sinks.
  *
  * Index layout: `path/bk=<0..fanout)/batch-<id>.parquet` with rows
  * (doc, band, bkey, shingle_set) — the band rows ARE the index, and
  * `bk = pmod(hash(bkey), fanout)` partitions them so a batch's probe
  * reads only its own touched `bk=` directories (partition pruning; the
  * touched set is <= fanout ints of driver metadata).
  *
  * Verdict convention — FIRST-ADMITTED WINS: a doc is flagged iff it has
  * a near-dup (Jaccard >= threshold) with ANY already-indexed corpus doc
  * (regardless of id order — the index side was admitted first) or with a
  * LOWER-id mate inside its own batch (ids break the tie when both
  * arrive together). The reported `dup_of` is the lowest qualifying
  * mate. Within a fixed batch sequence the outcome is deterministic
  * under replay and partitioning; across different arrival orders the
  * surviving representative may differ (inherent to streaming
  * admission). A doc NEVER matches its own indexed band rows
  * (`a.doc =!= b.doc` in the corpus probe) — crash-replay and cross-batch
  * redelivery of a doc id must see their prior rows as self, not dup.
  * Chain collapse across flagged docs (a<b<c all similar) is the offline
  * [[graft.pipeline.Dedup.clusters]] job's business; admission here only
  * needs the "exists an admitted-first mate" predicate, which needs no
  * iteration.
  *
  * Idempotence ([[SegmentLog]]): the `_lsh_batches` log short-circuits
  * replays; staged files move to deterministic `bk=N/batch-<id>.parquet`
  * names so a crash mid-move replays onto itself. Verdicts land at
  * `_verdicts/batch-<id>.parquet` in the same commit.
  *
  * SCALE: per batch the probe is a (band, bkey) equi-join against only
  * the touched bk partitions; the quadratic risk lives in band-bucket
  * collision counts exactly as in the batch LSH job. Index grows one
  * file per touched partition per batch — [[compact]] folds each `bk=`
  * directory back to one file from the admitted rows (answer-
  * preserving; j28 runs it mid-stream and the post-compact batch's
  * verdicts still hash the fault-free oracle).
  */
object LshDedupSink {

  /** Fold every `bk=` partition to one file (see [[IndexCompact]]).
    * Safe between batches: admission state is the admitted band rows
    * themselves plus the `_lsh_batches` log, both preserved. */
  def compact(spark: org.apache.spark.sql.SparkSession, root: String): Unit =
    IndexCompact.compact(spark, root)

  /** Partition fanout for the band-key hash directories. */
  val Fanout = 64

  private def bk(bkey: Column): Column = pmod(hash(bkey), lit(Fanout))

  private val Log = "_lsh_batches"

  /** Batch ids already merged. */
  def appliedBatches(root: String): Set[Long] = SegmentLog.applied(root, Log)

  /** All verdicts so far: (batch_id, new_doc, dup_of, jaccard). The
    * committed `_verdicts/batch-<id>.parquet` files are listed by name:
    * Spark's file index skips a `_`-prefixed root, and a directory with
    * no batch file yet (a crash before the first move) reads empty. */
  def verdicts(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    val files = SegmentLog.parquetFiles(Paths.get(root, "_verdicts"))
    if (files.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long, Long, Double)]
        .toDF("batch_id", "new_doc", "dup_of", "jaccard")
    } else spark.read.parquet(files.map(_.toString): _*)
  }

  /** foreachBatch adapter:
    * `docs.writeStream.foreachBatch(LshDedupSink.sink(path))`. */
  def sink(path: String, nGram: Int = 3, k: Int = 6, bands: Int = 3,
      threshold: Double = 0.2, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, Long) => Unit =
    (batch, id) =>
      { mergeBatch(batch, path, id, nGram, k, bands, threshold, idCol, textCol); () }

  /** Probe + admit one micro-batch. Returns true if applied, false for a
    * replayed batchId (NOOP). */
  def mergeBatch(
      batch: DataFrame, path: String, batchId: Long,
      nGram: Int = 3, k: Int = 6, bands: Int = 3, threshold: Double = 0.2,
      idCol: String = "doc_id", textCol: String = "text"): Boolean =
    SegmentLog.commit(path, Log, batchId) { stage =>
      val spark = batch.sparkSession

      val (sh, buckets) = Dedup.minhashBuckets(
        batch.dropDuplicates(idCol), idCol, textCol, nGram, k, bands)
      // batch index rows: (doc, band, bkey, shingle_set, bk) —
      // checkpointed so the minhash stage runs once for probe + admit
      val rows = buckets.join(sh, "doc").withColumn("bk", bk(col("bkey")))
        .localCheckpoint(true)

      // ---- probe the standing index (only the batch's bk partitions)
      val touched = rows.select(col("bk")).distinct()
        .collect().map(_.getInt(0)).sorted // <= Fanout ints
      val hasIndex = Files.exists(Paths.get(path)) && touched.exists(b =>
        Files.exists(Paths.get(path, s"bk=$b")))
      val corpusVerdict: DataFrame = if (!hasIndex) {
        import spark.implicits._
        Seq.empty[(Long, Long, Double)].toDF("new_doc", "dup_of", "jaccard")
      } else {
        val idx = spark.read.parquet(path)
          .where(col("bk").isin(touched.map(Integer.valueOf): _*))
        // a.doc =!= b.doc: crash-replay (bk= moves done, batch-log append
        // not) and cross-batch redelivery put THIS doc's band rows in the
        // standing index — without the guard the doc matches itself at
        // jaccard 1.0, gets a bogus self-verdict, and a novel doc is lost
        // while its stale partial band rows corrupt the index.
        rows.as("a").join(idx.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc") =!= col("b.doc"))
          .select(col("a.doc").as("new_doc"), col("b.doc").as("dup_of"),
            col("a.shingle_set").as("ss_a"), col("b.shingle_set").as("ss_b"))
          .distinct()
          .select(col("new_doc"), col("dup_of"),
            TextOps.jaccard(col("ss_a"), col("ss_b")).as("jaccard"))
          .where(col("jaccard") >= threshold)
      }
      // ---- within-batch lower-id near-dups (same band machinery)
      val selfVerdict = rows.as("a").join(rows.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") > col("b.doc"))
        .select(col("a.doc").as("new_doc"), col("b.doc").as("dup_of"),
          col("a.shingle_set").as("ss_a"), col("b.shingle_set").as("ss_b"))
        .distinct()
        .select(col("new_doc"), col("dup_of"),
          TextOps.jaccard(col("ss_a"), col("ss_b")).as("jaccard"))
        .where(col("jaccard") >= threshold)

      val flagged = corpusVerdict.unionAll(selfVerdict)
        .groupBy(col("new_doc"))
        .agg(min(struct(col("dup_of"), col("jaccard"))).as("m"))
        .select(lit(batchId).as("batch_id"), col("new_doc"),
          col("m.dup_of").as("dup_of"), col("m.jaccard").as("jaccard"))
        .localCheckpoint(true) // verdict read twice below

      // ---- admit novel docs into the index; verdicts as one file
      stage.partitioned(rows.join(
        flagged.select(col("new_doc").as("doc")), Seq("doc"), "left_anti"),
        "bk")
      stage.single(flagged, "_verdicts")
    }
}
