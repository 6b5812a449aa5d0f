package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.Vocab

/** The ingest-maintained DSIR feature table (j43's sink): incremental
  * insert/update/delete/echo maintenance must equal the batch-built
  * [[Vocab.dsirFeatures]] over the final doc states, exactly. */
class DsirFeatureSinkSpec extends SparkSpec {
  import spark.implicits._

  private def changes(rows: (Long, String, String, Boolean, String)*): DataFrame =
    rows.toDF("seq", "id", "rev", "deleted", "doc")

  private def doc(text: String, lang: String = "en") =
    s"""{"text":"$text","lang":"$lang"}"""

  private def featSet(df: DataFrame): Set[(String, Boolean, Long, Long)] =
    df.select("id", "is_t", "b", "n")
      .as[(String, Boolean, Long, Long)].collect().toSet

  private def batchTwin(docs: (String, String, String)*): DataFrame =
    Vocab.dsirFeatures(
        docs.toDF("id", "text", "lang"), "id", "text",
        col("lang") === "en", nBuckets = 64)
      .select(col("doc").as("id"), col("is_t"), col("b"), col("n"))

  test("insert/update/delete/echo converge to the batch-built table") {
    val root = Files.createTempDirectory("dsirsink").toString
    val b1 = changes(
      (1L, "a", "1-x", false, doc("alpha beta alpha")),
      (2L, "b", "1-y", false, doc("gamma delta", lang = "fr")),
      (3L, "c", "1-z", false, doc("epsilon")))
    val b2 = changes(
      (4L, "a", "2-x2", false, doc("alpha beta alpha zeta")), // update
      (5L, "b", "1-y", false, doc("gamma delta", lang = "fr")), // echo
      (6L, "c", "2-z", true, null), // delete
      (7L, "d", "1-d", false, doc("eta theta")))
    DsirFeatureSink.applyBatch(root, b1, 0)
    DsirFeatureSink.applyBatch(root, b2, 1)
    val want = batchTwin(
      ("a", "alpha beta alpha zeta", "en"),
      ("b", "gamma delta", "fr"),
      ("d", "eta theta", "en"))
    assert(featSet(DsirFeatureSink.readFeatures(spark, root)) ==
      featSet(want))
  }

  test("a replayed batchId is a NOOP; a rev-equal echo writes an empty delta") {
    val root = Files.createTempDirectory("dsirsink2").toString
    val b = changes((1L, "x", "1-a", false, doc("one two two")))
    assert(DsirFeatureSink.applyBatch(root, b, 0))
    assert(!DsirFeatureSink.applyBatch(root, b, 0))
    // same rev in a NEW batch: the rev guard keeps the stored row, so
    // the batch's delta version holds no row at all
    val echo = changes((2L, "x", "1-a", false, doc("one two two")))
    assert(DsirFeatureSink.applyBatch(root, echo, 1))
    val (v, _) = MergeSink.currentVersion(root).get
    assert(spark.read.parquet(s"$root/v=$v").count() == 0L)
    assert(featSet(DsirFeatureSink.readFeatures(spark, root)) ==
      featSet(batchTwin(("x", "one two two", "en"))))
  }

  test("deleting every doc empties the table; a later insert lands") {
    val root = Files.createTempDirectory("dsirsink4").toString
    DsirFeatureSink.applyBatch(root,
      changes((1L, "solo", "1-a", false, doc("only words"))), 0)
    DsirFeatureSink.applyBatch(root,
      changes((2L, "solo", "2-a", true, null)), 1)
    assert(DsirFeatureSink.readFeatures(spark, root).isEmpty)
    DsirFeatureSink.applyBatch(root,
      changes((3L, "next", "1-b", false, doc("fresh text", lang = "fr"))), 2)
    assert(featSet(DsirFeatureSink.readFeatures(spark, root)) ==
      featSet(batchTwin(("next", "fresh text", "fr"))))
  }

  test("a mid-stream compaction keeps the table equal to the batch build") {
    val root = Files.createTempDirectory("dsirsink5").toString
    // a one-doc base, then batches that each touch every doc: the log
    // soon outweighs the base and the size rule folds it mid-stream
    val texts = (0 until 6).map(i => s"d$i" -> s"w$i common")
    DsirFeatureSink.applyBatch(root,
      changes((0L, "d0", "1-d0", false, doc("w0 common"))), 0)
    for (round <- 1 to 4) {
      // round 3 deletes d1 (a tombstone), round 4 re-inserts it
      val rows = texts.zipWithIndex.map { case ((id, t), i) =>
        val seq = round * 10L + i
        if (round == 3 && id == "d1") (seq, id, s"$round-$id", true, null)
        else (seq, id, s"$round-$id", false, doc(s"$t r$round"))
      }
      DsirFeatureSink.applyBatch(root, changes(rows: _*), round.toLong)
    }
    val (v, batchId) = MergeSink.currentVersion(root).get
    assert(batchId == 4L)
    assert(v > batchId, s"expected a compaction, version $v after batch $batchId")
    assert(featSet(DsirFeatureSink.readFeatures(spark, root)) ==
      featSet(batchTwin(texts.map { case (id, t) => (id, s"$t r4", "en") }: _*)))
  }

  test("per-doc row count is bounded by nBuckets regardless of text length") {
    val root = Files.createTempDirectory("dsirsink3").toString
    val long = (1 to 500).map(i => s"tok$i").mkString(" ")
    val b = changes((1L, "big", "1-a", false, doc(long)))
    DsirFeatureSink.applyBatch(root, b, 0, nBuckets = 16)
    val n = DsirFeatureSink.readFeatures(spark, root).count()
    assert(n <= 16L, s"feature rows per doc must be <= nBuckets, got $n")
  }
}
