package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.pipeline.{Retrieval, Vocab}

class InvertedIndexSinkSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val corpusA = (1L to 30L)
    .map(i => (i, s"spark merge w${i % 5} filler w${i % 3} table"))
  private val corpusB = (31L to 45L)
    .map(i => (i, s"spark window w${i % 4} merge merge stream"))
  private val queries = Seq(1L -> "spark merge", 2L -> "window stream")

  private def fileFingerprint(root: String): Map[String, (Long, Seq[Byte])] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val bytes = Files.readAllBytes(p)
        Paths.get(root).relativize(p).toString ->
          (Files.size(p), bytes.take(64).toSeq)
      }.toMap

  test("segmented appends stay probe-identical to the ad-hoc scorer") {
    val path = Files.createTempDirectory("inv-idx").toString + "/idx"
    assert(InvertedIndexSink.mergeBatch(docs(corpusA), path, 0L, nBuckets = 16))
    val before = fileFingerprint(path)
    assert(InvertedIndexSink.mergeBatch(docs(corpusB), path, 1L, nBuckets = 16))
    val after = fileFingerprint(path)
    // append-only: every batch-0 file is byte-identical after batch 1
    before.foreach { case (name, fp) =>
      assert(after.get(name).contains(fp), s"$name changed")
    }
    // probe over the two segments == ad-hoc BM25 over the full corpus
    // (df and avgdl recomputed exactly from segments, never stale)
    val probed = Retrieval.probeTopK(spark, path, queries, k = 8,
        nBuckets = 16)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val adhoc = Vocab.bm25TopK(docs(corpusA ++ corpusB), "doc_id", "text",
        queries, k = 8)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(probed == adhoc)
  }

  test("replayed batch is a NOOP; batch writer compaction keeps results") {
    val path = Files.createTempDirectory("inv-idx2").toString + "/idx"
    assert(InvertedIndexSink.mergeBatch(docs(corpusA), path, 0L, nBuckets = 8))
    val fp = fileFingerprint(path)
    assert(!InvertedIndexSink.mergeBatch(docs(corpusA), path, 0L, nBuckets = 8))
    assert(fileFingerprint(path) == fp, "replay must not touch the index")
    assert(InvertedIndexSink.appliedBatches(path) == Set(0L))
    val segmented = Retrieval.probeTopK(spark, path, queries, k = 5,
        nBuckets = 8)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    // compaction: rebuild the same corpus with the batch writer — one
    // file per bucket instead of one per (bucket, batch), same answers
    val compacted = Files.createTempDirectory("inv-idx3").toString + "/idx"
    Retrieval.writeIndex(docs(corpusA), compacted, nBuckets = 8)
    val probedC = Retrieval.probeTopK(spark, compacted, queries, k = 5,
        nBuckets = 8)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(segmented == probedC)
  }

  test("cross-batch redelivery of a doc id is dropped (first write wins)") {
    val path = Files.createTempDirectory("inv-idx5").toString + "/idx"
    assert(InvertedIndexSink.mergeBatch(docs(corpusA), path, 0L, nBuckets = 8))
    // batch 1 redelivers id 5 (changed text!) alongside a new doc 50
    val redelivered = Seq((5L, "spark spark spark merge merge merge"),
      (50L, "spark window merge stream"))
    assert(InvertedIndexSink.mergeBatch(docs(redelivered), path, 1L,
      nBuckets = 8))
    // the index must score as if only the NEW doc was ingested: doc 5
    // keeps its batch-0 postings, n_docs/df are not double-counted
    val probed = Retrieval.probeTopK(spark, path, queries, k = 10,
        nBuckets = 8)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val adhoc = Vocab.bm25TopK(
        docs(corpusA :+ (50L, "spark window merge stream")),
        "doc_id", "text", queries, k = 10)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(probed == adhoc)
  }

  test("startIndexing: updates and deletes in the feed don't corrupt the index") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("j20spec")
    val feedDir = base.resolve("feed"); Files.createDirectories(feedDir)
    // insert 1..4; update doc 2 (new text); delete doc 3 (tombstone)
    val lines = Seq(
      """{"seq":1,"id":"1","changes":[{"rev":"1-a"}],"doc":{"text":"spark merge alpha"}}""",
      """{"seq":2,"id":"2","changes":[{"rev":"1-a"}],"doc":{"text":"spark merge beta"}}""",
      """{"seq":3,"id":"3","changes":[{"rev":"1-a"}],"doc":{"text":"window stream gamma"}}""",
      """{"seq":4,"id":"4","changes":[{"rev":"1-a"}],"doc":{"text":"table scan delta"}}""",
      """{"seq":5,"id":"2","changes":[{"rev":"2-b"}],"doc":{"text":"zebra zebra zebra"}}""",
      """{"seq":6,"id":"3","changes":[{"rev":"2-b"}],"deleted":true}""")
    Files.write(feedDir.resolve("f.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val idx = base.resolve("idx").toString
    ChangesPipeline.runIndexOnce(spark, feedDir.toString, idx,
      base.resolve("ckpt").toString,
      name = s"j20spec-${java.util.UUID.randomUUID()}")
    // first-write-wins: doc 2 keeps its original text (the update is a
    // redelivered id); the tombstone carries no text and indexes
    // nothing, but doc 3's insert stays (removal = rebuild, by
    // contract). The index answers exactly like ad-hoc BM25 over the
    // first-write states.
    val firstWrites = Seq((1L, "spark merge alpha"), (2L, "spark merge beta"),
      (3L, "window stream gamma"), (4L, "table scan delta"))
    val qs = Seq(1L -> "spark merge", 2L -> "window stream", 3L -> "zebra")
    val probed = Retrieval.probeTopK(spark, idx, qs, k = 5)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val adhoc = Vocab.bm25TopK(docs(firstWrites), "doc_id", "text", qs, k = 5)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(probed == adhoc)
    // the update's vocabulary must not have leaked in: the "zebra"
    // query can match nothing in the first-write corpus
    assert(!probed.exists(_.startsWith("[3,")),
      s"update text leaked into the index: $probed")
  }

  test("compact: collapses segments in place, probes unchanged, log preserved") {
    import java.nio.file.{Files, Paths}
    val path = Files.createTempDirectory("inv-idx6").toString + "/idx"
    assert(InvertedIndexSink.mergeBatch(docs(corpusA), path, 0L, nBuckets = 8))
    assert(InvertedIndexSink.mergeBatch(docs(corpusB), path, 1L, nBuckets = 8))
    def probe() = Retrieval.probeTopK(spark, path, queries, k = 8,
        nBuckets = 8)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    def parquetCount(sub: String) =
      Files.walk(Paths.get(path, sub)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
    val before = probe()
    val filesBefore = parquetCount("postings")
    InvertedIndexSink.compact(spark, path)
    assert(probe() == before, "compaction must not change any answer")
    assert(parquetCount("postings") < filesBefore,
      s"expected fewer posting files than $filesBefore")
    assert(parquetCount("segstats") == 1 && parquetCount("docids") == 1)
    // the batch log survives: replaying an old stream batch still NOOPs
    assert(InvertedIndexSink.appliedBatches(path) == Set(0L, 1L))
    assert(!InvertedIndexSink.mergeBatch(docs(corpusA), path, 0L, nBuckets = 8))
    // and the index keeps accepting new segments after compaction,
    // with redelivered ids still dropped via the compacted sidecar
    val extra = Seq((99L, "spark merge omega")) ++ corpusA.take(1)
    assert(InvertedIndexSink.mergeBatch(docs(extra), path, 2L, nBuckets = 8))
    val adhoc = Vocab.bm25TopK(
        docs(corpusA ++ corpusB :+ (99L -> "spark merge omega")),
        "doc_id", "text", queries, k = 8)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(probe() == adhoc)
  }

  test("compact: a crash mid-swap of postings, segstats or docids loses nothing") {
    import org.apache.spark.sql.functions.sum
    val path = Files.createTempDirectory("inv-idx7").toString + "/idx"
    assert(InvertedIndexSink.mergeBatch(docs(corpusA), path, 0L, nBuckets = 8))
    assert(InvertedIndexSink.mergeBatch(docs(corpusB), path, 1L, nBuckets = 8))
    // "spark" is in every doc, so the next batch recreates its bucket
    val tb = docs(Seq((0L, "spark"))).select(Retrieval.tokenBucket(col("text"), 8))
      .collect().head.getLong(0)
    val crash = new IllegalStateException("crash between the swap renames")
    // crash after live -> _old_, before the staged fold moves in
    intercept[IllegalStateException](IndexCompact.compact(spark,
      s"$path/postings", () => (),
      live => if (live.getFileName.toString == s"tb=$tb") throw crash))
    Seq("segstats", "docids").foreach(sub =>
      intercept[IllegalStateException](IndexCompact.compact(spark,
        s"$path/$sub", () => (), _ => throw crash)))
    assert(Files.exists(Paths.get(path, "postings", s"_old_tb=$tb")))
    assert(!Files.exists(Paths.get(path, "segstats")) &&
      !Files.exists(Paths.get(path, "docids")))
    // the restarted stream lands a batch (one new doc, one redelivered
    // id) in the recreated live dirs before compaction runs again
    val extra = Seq((99L, "spark merge omega"), (5L, "spark spark zebra"))
    assert(InvertedIndexSink.mergeBatch(docs(extra), path, 2L, nBuckets = 8))
    InvertedIndexSink.compact(spark, path)
    val all = corpusA ++ corpusB :+ (99L -> "spark merge omega")
    val probed = Retrieval.probeTopK(spark, path, queries, k = 8, nBuckets = 8)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val adhoc = Vocab.bm25TopK(docs(all), "doc_id", "text", queries, k = 8)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(probed == adhoc)
    assert(spark.read.parquet(s"$path/segstats").agg(sum("n_docs"))
      .head().getLong(0) == all.size.toLong)
    assert(Seq(s"postings/_old_tb=$tb", "_old_segstats", "_old_docids")
      .forall(d => !Files.exists(Paths.get(path, d))))
  }

  test("a batch's postings land only in the buckets its tokens hash into") {
    val path = Files.createTempDirectory("inv-idx4").toString + "/idx"
    assert(InvertedIndexSink.mergeBatch(docs(corpusA), path, 0L, nBuckets = 32))
    val before = fileFingerprint(path)
    // single-token doc: exactly one bucket may gain a file
    val one = docs(Seq((99L, "zzzunique")))
    val tb = one.select(Retrieval.tokenBucket(col("text"), 32))
      .collect().head.getLong(0)
    assert(InvertedIndexSink.mergeBatch(one, path, 1L, nBuckets = 32))
    val added = fileFingerprint(path).keySet -- before.keySet
    assert(added.exists(_.startsWith(s"postings/tb=$tb/")),
      s"new posting not in tb=$tb: $added")
    assert(added.forall(n => n.startsWith(s"postings/tb=$tb/") ||
        n.startsWith("segstats/") || n.startsWith("docids/")),
      s"additions outside tb=$tb + sidecars: $added")
  }
}
