package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class LshDedupSinkSpec extends SparkSpec {
  import spark.implicits._

  private val tA = "the quick brown fox jumps over the lazy dog tonight"
  private val tB = "colorless green ideas sleep furiously in the deep winter"
  private val tC = "a completely different sentence about spark shuffle metrics"

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def fileNames(root: String): Set[String] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => Paths.get(root).relativize(p).toString).toSet

  test("bootstrap batch self-dedups; later batch probes the index") {
    val path = Files.createTempDirectory("lsh-sink").toString + "/idx"
    // batch 0: doc 3 is an exact copy of doc 1 -> flagged in-batch
    assert(LshDedupSink.mergeBatch(docs((1L, tA), (2L, tB), (3L, tA)), path, 0L))
    val v0 = LshDedupSink.verdicts(spark, path)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(v0.toSet == Set((3L, 1L, 1.0)), s"batch-0 verdicts: ${v0.mkString(",")}")

    // batch 1: doc 10 copies corpus doc 2, doc 11 is novel
    assert(LshDedupSink.mergeBatch(docs((10L, tB), (11L, tC)), path, 1L))
    val v1 = LshDedupSink.verdicts(spark, path)
      .where($"batch_id" === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(v1.toSet == Set((10L, 2L, 1.0)), s"batch-1 verdicts: ${v1.mkString(",")}")

    // the index holds exactly the admitted docs (1, 2, 11), never dups
    val idxDocs = spark.read.parquet(path)
      .select($"doc").distinct().as[Long].collect().toSet
    assert(idxDocs == Set(1L, 2L, 11L), s"index docs: $idxDocs")
  }

  test("replayed batch is a NOOP; file layout is deterministic") {
    val path = Files.createTempDirectory("lsh-sink").toString + "/idx"
    assert(LshDedupSink.mergeBatch(docs((1L, tA), (2L, tB)), path, 0L))
    val before = fileNames(path)
    assert(!LshDedupSink.mergeBatch(docs((1L, tA), (2L, tB)), path, 0L))
    assert(fileNames(path) == before)
    // the on-disk names a resumed stream depends on
    assert(before == Set("_verdicts/batch-0.parquet",
      "bk=14/batch-0.parquet", "bk=16/batch-0.parquet", "bk=19/batch-0.parquet",
      "bk=35/batch-0.parquet", "bk=59/batch-0.parquet", "bk=61/batch-0.parquet"))
    assert(new String(Files.readAllBytes(Paths.get(path, "_lsh_batches")),
      "UTF-8") == "0\n")
    // a flagged doc never reaches the index
    assert(LshDedupSink.mergeBatch(docs((5L, tA)), path, 1L))
    assert(spark.read.parquet(path).where($"doc" === 5L).isEmpty)
  }

  test("compact folds each bucket to one file; verdicts and probes unchanged") {
    val path = Files.createTempDirectory("lsh-sink").toString + "/idx"
    // two batches -> up to two files per touched bucket
    assert(LshDedupSink.mergeBatch(docs((1L, tA), (2L, tB)), path, 0L))
    assert(LshDedupSink.mergeBatch(docs((3L, tC)), path, 1L))
    val idxBefore = spark.read.parquet(path)
      .select($"doc", $"band", $"bkey").collect().toSet
    val vBefore = LshDedupSink.verdicts(spark, path).collect().toSet
    LshDedupSink.compact(spark, path)
    // one data file per bk= dir, and exactly the same rows
    val perDir = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        Paths.get(path).relativize(p).toString.startsWith("bk="))
      .toSeq.groupBy(_.getParent)
    assert(perDir.nonEmpty && perDir.values.forall(_.size == 1),
      s"buckets not folded: ${perDir.view.mapValues(_.size).toMap}")
    assert(spark.read.parquet(path)
      .select($"doc", $"band", $"bkey").collect().toSet == idxBefore)
    assert(LshDedupSink.verdicts(spark, path).collect().toSet == vBefore)
    // post-compaction admission still probes correctly: a copy of an
    // admitted doc is flagged, a novel doc enters the index
    assert(LshDedupSink.mergeBatch(docs((10L, tA), (11L,
      "yet another unrelated string of words for the novel case")), path, 2L))
    val v2 = LshDedupSink.verdicts(spark, path).where($"batch_id" === 2L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(v2.toSet == Set((10L, 1L)), s"post-compact verdicts: ${v2.toSet}")
    assert(!spark.read.parquet(path).where($"doc" === 11L).isEmpty)
  }

  test("crash-replay: moved band rows never self-match (doc not lost)") {
    val path = Files.createTempDirectory("lsh-sink").toString + "/idx"
    assert(LshDedupSink.mergeBatch(docs((1L, tA), (2L, tB)), path, 0L))
    val before = fileNames(path)
    // simulate a crash AFTER the bk= moves but BEFORE the batch-log
    // append: the docs' band rows are in the standing index, but the
    // batch is not recorded as applied — replay must re-run the merge
    Files.delete(Paths.get(path, "_lsh_batches"))
    assert(LshDedupSink.mergeBatch(docs((1L, tA), (2L, tB)), path, 0L))
    // no bogus self-verdicts: the replayed docs saw their own rows in
    // the index but a.doc =!= b.doc keeps them novel
    val v = LshDedupSink.verdicts(spark, path).collect()
    assert(v.isEmpty, s"replay produced verdicts: ${v.mkString(",")}")
    // deterministic REPLACE_EXISTING moves: identical file layout, and
    // both docs are (still) in the index exactly once per band row set
    assert(fileNames(path) == before)
    val idxDocs = spark.read.parquet(path)
      .select($"doc").distinct().as[Long].collect().toSet
    assert(idxDocs == Set(1L, 2L))
  }

  test("corpus probe flags against higher-id indexed docs (first-admitted wins)") {
    val path = Files.createTempDirectory("lsh-sink").toString + "/idx"
    // batch 0 admits doc 9; batch 1 brings a LOWER-id near-dup (id 4):
    // the indexed doc was admitted first, so 4 is flagged dup_of 9
    assert(LshDedupSink.mergeBatch(docs((9L, tA)), path, 0L))
    assert(LshDedupSink.mergeBatch(docs((4L, tA)), path, 1L))
    val v = LshDedupSink.verdicts(spark, path)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(v == Set((4L, 9L)), s"verdicts: $v")
    val idxDocs = spark.read.parquet(path)
      .select($"doc").distinct().as[Long].collect().toSet
    assert(idxDocs == Set(9L))
  }

  test("short docs (no shingles) never enter the band index") {
    val path = Files.createTempDirectory("lsh-sink").toString + "/idx"
    // "hi" has < nGram tokens -> empty shingle set -> filtered before
    // bucketing (Dedup.minhashBuckets), so no degenerate hot bucket
    assert(LshDedupSink.mergeBatch(docs((1L, tA), (2L, "hi"), (3L, "yo")), path, 0L))
    val idxDocs = spark.read.parquet(path)
      .select($"doc").distinct().as[Long].collect().toSet
    assert(idxDocs == Set(1L), s"index docs: $idxDocs")
    assert(LshDedupSink.verdicts(spark, path).isEmpty)
  }

  test("a _verdicts directory with no batch file reads back empty") {
    // the state a crash leaves between the commit's createDirectories
    // and its first move; a stray non-parquet file must not be read
    val path = Files.createTempDirectory("lsh-sink").toString + "/idx"
    val dir = Files.createDirectories(Paths.get(path, "_verdicts"))
    assert(LshDedupSink.verdicts(spark, path).isEmpty)
    Files.writeString(dir.resolve("stray.tmp"), "not parquet")
    val v = LshDedupSink.verdicts(spark, path)
    assert(v.isEmpty)
    assert(v.columns.toSeq == Seq("batch_id", "new_doc", "dup_of", "jaccard"))
  }

  test("drives from a real Structured Streaming query via foreachBatch") {
    val path = Files.createTempDirectory("lsh-sink").toString + "/idx"
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(LshDedupSink.sink(path)).start()
    try {
      mem.addData((1L, tA), (2L, tB))
      q.processAllAvailable()
      mem.addData((7L, tA), (8L, tC)) // 7 dups corpus doc 1
      q.processAllAvailable()
    } finally q.stop()
    val v = LshDedupSink.verdicts(spark, path)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(v == Set((7L, 1L)), s"verdicts: $v")
    val idxDocs = spark.read.parquet(path)
      .select($"doc").distinct().as[Long].collect().toSet
    assert(idxDocs == Set(1L, 2L, 8L))
  }
}
