package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.cdc.ChangeApply
import graft.pipeline.Vocab

/** Ingest-maintained DSIR feature table (VERDICT r13 task 7): keeps the
  * per-doc hashed-unigram table [[graft.pipeline.Vocab.dsirFeatures]]
  * builds in batch — one (id, is_t, b, n) row per doc per touched
  * hash bucket, ≤ nBuckets rows per doc at any text length — CURRENT
  * under CDC inserts, updates and deletes, so repeat selection runs
  * (p87c/p87d) score a standing table that never lags the corpus and
  * never re-reads text.
  *
  * Storage is a [[MergeSink]] store with one row per doc:
  * (id, rev, doc = the doc's feature rows as a JSON array of
  * {is_t, b, n}). Per batch, the changes collapse to the latest per id
  * ([[ChangeApply.latestPerKey]]); each live row's features come from
  * the SAME [[Vocab.dsirFeatures]] expressions the batch builder uses —
  * the bucket id is a pure content hash (md5 of the token), no
  * corpus-global state, so incremental == batch bit-for-bit — and
  * deleted rows carry a null doc. [[MergeSink.applyBatch]] then applies
  * them: its rev guard drops rev-equal echoes (the stored features
  * stay), deletes become tombstones, a replayed batchId is a NOOP, and
  * its size rule compacts the log.
  *
  * The j43 gate REQUIRES exactly that: after replaying the shared CDC
  * feed, the stream-maintained table must equal the batch-built table
  * over the converged doc states (EXCEPT ALL both ways = 0), then the
  * DuckDB oracle re-derives it independently from the source table.
  */
object DsirFeatureSink {

  /** The JSON shape of one doc's stored feature rows. */
  private val featuresType =
    ArrayType(StructType.fromDDL("is_t BOOLEAN, b BIGINT, n BIGINT"))

  /** The stream-maintained feature table: (id, is_t, b, n). */
  def readFeatures(spark: SparkSession, root: String): DataFrame =
    MergeSink.readState(spark, root)
      .select(col("id"), explode(from_json(col("doc"), featuresType)).as("f"))
      .select(col("id"), col("f.is_t").as("is_t"), col("f.b").as("b"),
        col("f.n").as("n"))

  /** Merge one micro-batch of changes (seq, id, rev, deleted, doc) into
    * the feature store at `root`. `textPath` extracts the document text
    * from the JSON payload; `isTarget` is the target-distribution
    * predicate over the extracted frame (columns `id`, `rev`, `text`,
    * plus `doc` with the raw JSON). Returns true if the batch was
    * applied, false for a replayed batchId. */
  def applyBatch(
      root: String, batch: DataFrame, batchId: Long,
      nBuckets: Int = 64,
      textPath: String = "$.text",
      isTarget: Column = get_json_object(col("doc"), "$.lang") === "en")
      : Boolean = {
    val latest = ChangeApply.latestPerKey(batch)
    val live = latest.where(!col("deleted"))
      .select(col("id"), col("rev"), col("doc"),
        get_json_object(col("doc"), textPath).as("text"))
      .withColumn("is_t", isTarget)
    val features = Vocab.dsirFeatures(live, "id", "text", col("is_t"), nBuckets)
      .groupBy(col("doc").as("id"))
      .agg(to_json(collect_list(struct(col("is_t"), col("b"), col("n"))))
        .as("features"))
    MergeSink.applyBatch(root,
      latest.join(features, Seq("id"), "left_outer")
        .select(col("seq"), col("id"), col("rev"), col("deleted"),
          col("features").as("doc")),
      batchId)
  }

  /** foreachBatch hook. */
  def forBatch(
      root: String, nBuckets: Int = 64,
      textPath: String = "$.text",
      isTarget: Column = get_json_object(col("doc"), "$.lang") === "en")
      : (DataFrame, Long) => Unit =
    (df, id) => {
      applyBatch(root, df, id, nBuckets, textPath, isTarget)
      ()
    }
}
