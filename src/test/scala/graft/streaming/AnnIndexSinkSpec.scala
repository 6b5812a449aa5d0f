package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.pipeline.Similarity

class AnnIndexSinkSpec extends SparkSpec {

  private def vec(seed: Int, dims: Int = 8): Array[Float] = {
    val rng = new scala.util.Random(seed)
    Array.fill(dims)(rng.nextFloat() * 2f - 1f)
  }

  private def embDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
  }

  /** (relative file name -> (size, first 64 bytes)) for every parquet
    * file under the index — the byte-identity probe. */
  private def fileFingerprint(root: String): Map[String, (Long, Seq[Byte])] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val bytes = Files.readAllBytes(p)
        Paths.get(root).relativize(p).toString ->
          (Files.size(p), bytes.take(64).toSeq)
      }.toMap

  test("compact folds buckets to one file each; probe and later merges unchanged") {
    import spark.implicits._
    val path = Files.createTempDirectory("ann-sink").toString + "/idx"
    // force ZERO-prefixed sign buckets onto half the vectors (negate
    // dim 0 for odd ids): "0101"-style partition values are the ones a
    // type-inferring compaction read would fold to int 101 and rewrite
    // under the wrong directory — java.util.Random's seed-biased first
    // draw makes plain vec() all-'1'-prefixed and hid exactly that bug
    def signedDf(ids: Seq[Long]) = ids.map { i =>
      val v = vec(i.toInt)
      (i, if (i % 2 == 1) v.updated(0, -math.abs(v(0))) else v)
    }.toDF("vec_id", "embedding")
    Similarity.writeBucketedCorpus(signedDf(1L to 40L), path, planes = 4)
    AnnIndexSink.mergeBatch(signedDf(41L to 60L), path, 0L, planes = 4)
    AnnIndexSink.mergeBatch(signedDf(61L to 80L), path, 1L, planes = 4)
    val rowsBefore = spark.read.parquet(path)
      .select($"neighbor_id").as[Long].collect().toSet
    val probeBefore = Similarity.probeBucketedTopK(spark,
      embDf(Seq(200L)), path, 5, planes = 4)
      .orderBy($"rank").collect().toSeq
    AnnIndexSink.compact(spark, path)
    val perDir = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent)
    assert(perDir.nonEmpty && perDir.values.forall(_.size == 1),
      s"buckets not folded: ${perDir.view.mapValues(_.size).toMap}")
    assert(spark.read.parquet(path)
      .select($"neighbor_id").as[Long].collect().toSet == rowsBefore)
    assert(Similarity.probeBucketedTopK(spark,
      embDf(Seq(200L)), path, 5, planes = 4)
      .orderBy($"rank").collect().toSeq == probeBefore)
    // post-compact merge lands beside compact files and is visible
    AnnIndexSink.mergeBatch(embDf(Seq(300L)), path, 2L, planes = 4)
    assert(spark.read.parquet(path).where($"neighbor_id" === 300L)
      .count() == 1L)
  }

  test("IVF cell layout: mergeBatchIvf + compact preserve probes and admit after") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("ann-ivf").toString + "/idx"
    Similarity.writeIvfCorpus(embDf(1L to 40L), path, nPivots = 4)
    // the SAME literal-folded cell assignment the writer used, rebuilt
    // from the self-assigned pivot rows (probeIvfTopK's recovery trick)
    val piv = spark.read.parquet(path)
      .where($"neighbor_id" === $"cell")
      .select($"neighbor_id", $"c_emb", $"c_nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq, r.getLong(2)))
    val affs = piv.map { case (pid, pemb, pnrm) => struct(
      Similarity.cosinePrenormed($"c_emb", typedLit(pemb), $"c_nrm",
        lit(pnrm)).as("cos"),
      lit(-pid).as("tb")) }
    val cellAssign = -greatest(affs: _*).getField("tb")
    assert(AnnIndexSink.mergeBatchIvf(embDf(Seq(101L, 102L)), path, 0L,
      cellAssign))
    assert(AnnIndexSink.mergeBatchIvf(embDf(Seq(103L)), path, 1L, cellAssign))
    val rowsBefore = spark.read.parquet(path)
      .select($"neighbor_id").as[Long].collect().toSet
    val probeBefore = Similarity.probeIvfTopK(spark, embDf(Seq(300L)),
      path, 5, nProbe = 4).orderBy($"rank").collect().toSeq
    AnnIndexSink.compact(spark, path)
    val perDir = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent)
    assert(perDir.nonEmpty && perDir.values.forall(_.size == 1),
      s"cells not folded: ${perDir.view.mapValues(_.size).toMap}")
    assert(spark.read.parquet(path)
      .select($"neighbor_id").as[Long].collect().toSet == rowsBefore)
    assert(Similarity.probeIvfTopK(spark, embDf(Seq(300L)),
      path, 5, nProbe = 4).orderBy($"rank").collect().toSeq == probeBefore)
    // post-compact merge lands beside compact files and is probeable
    assert(AnnIndexSink.mergeBatchIvf(embDf(Seq(400L)), path, 2L, cellAssign))
    assert(spark.read.parquet(path).where($"neighbor_id" === 400L)
      .count() == 1L)
  }

  test("merge touches only the batch's buckets; probes see old AND new vectors") {
    val path = Files.createTempDirectory("ann-sink").toString + "/idx"
    Similarity.writeBucketedCorpus(embDf(1L to 40L), path, planes = 4)
    val before = fileFingerprint(path)

    // one new vector: its bucket is known deterministically
    val newbie = embDf(Seq(100L))
    val newBucket = newbie
      .select(Similarity.signBucket(
        Similarity.quantize(org.apache.spark.sql.functions.col("embedding")), 4))
      .collect().head.getString(0)
    assert(AnnIndexSink.mergeBatch(newbie, path, batchId = 0L, planes = 4))

    val after = fileFingerprint(path)
    // every pre-existing file is byte-identical (append never rewrites)
    before.foreach { case (name, fp) =>
      assert(after.get(name).contains(fp), s"$name changed")
    }
    // the only additions live under the newbie's bucket directory
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty)
    assert(added.forall(_.startsWith(s"bucket=$newBucket")),
      s"additions outside bucket=$newBucket: $added")

    // a NEAR-copy query (tiny perturbation, so the identical-embedding
    // self-guard doesn't exclude it) must find the merged vector as its
    // top neighbor — proof the probe path reads the appended file
    import spark.implicits._
    val probeQ = Seq((9000L, vec(100).updated(0, vec(100)(0) + 1e-3f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.probeBucketedTopK(
      spark, probeQ, path, k = 5, planes = 4, multiProbe = 4).collect()
    assert(got.nonEmpty && got.minBy(_.getInt(1)).getLong(2) == 100L,
      s"merged vector not the top neighbor: ${got.toSeq}")
    // old corpus still probeable: a query from the original set returns
    // neighbors (index not corrupted by the merge)
    val oldProbe = Similarity.probeBucketedTopK(
      spark, embDf(Seq(3L)), path, k = 3, planes = 4, multiProbe = 2)
      .collect()
    assert(oldProbe.nonEmpty)
  }

  test("old and merged vectors rank together: clone of an old vector ties it") {
    val path = Files.createTempDirectory("ann-sink2").toString + "/idx"
    Similarity.writeBucketedCorpus(embDf(1L to 30L), path, planes = 2)
    // clone vector 7's embedding under a new id: same bucket, cos≈1 to
    // a near-7 query — old 7 and new 500 must BOTH surface in the top 2
    import spark.implicits._
    val clone = Seq((500L, vec(7))).toDF("vec_id", "embedding")
    assert(AnnIndexSink.mergeBatch(clone, path, batchId = 1L, planes = 2))
    val probeQ = Seq((9000L, vec(7).updated(0, vec(7)(0) + 1e-3f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.probeBucketedTopK(
      spark, probeQ, path, k = 3, planes = 2, multiProbe = 2)
      .collect().sortBy(_.getInt(1))
    assert(got.take(2).map(_.getLong(2)).toSet == Set(7L, 500L),
      s"expected old+new tied at the top: ${got.toSeq}")
  }

  test("replayed batchId is a NOOP; file set unchanged") {
    val path = Files.createTempDirectory("ann-sink3").toString + "/idx"
    Similarity.writeBucketedCorpus(embDf(1L to 20L), path, planes = 3)
    val corpus = fileFingerprint(path).keySet
    assert(AnnIndexSink.mergeBatch(embDf(Seq(60L, 61L)), path, 5L, planes = 3))
    val once = fileFingerprint(path)
    assert(!AnnIndexSink.mergeBatch(embDf(Seq(60L, 61L)), path, 5L, planes = 3))
    assert(fileFingerprint(path) == once)
    assert(AnnIndexSink.appliedBatches(path) == Set(5L))
    // the on-disk names a resumed stream depends on
    assert(once.keySet -- corpus ==
      Set("bucket=101/batch-5.parquet", "bucket=110/batch-5.parquet"))
    assert(new String(Files.readAllBytes(Paths.get(path, "_ann_batches")),
      "UTF-8") == "5\n")
    // and the data did not duplicate: the id appears once
    val n = spark.read.parquet(path)
      .where(org.apache.spark.sql.functions.col("neighbor_id") === 60L).count()
    assert(n == 1L)
  }

  test("successive batches accumulate; partition count bounded by 2^planes") {
    val path = Files.createTempDirectory("ann-sink4").toString + "/idx"
    Similarity.writeBucketedCorpus(embDf(1L to 10L), path, planes = 2)
    (0 to 3).foreach { b =>
      assert(AnnIndexSink.mergeBatch(
        embDf(Seq(200L + b)), path, b.toLong, planes = 2))
    }
    val total = spark.read.parquet(path).count()
    assert(total == 14L)
    val dirs = Files.list(Paths.get(path)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("bucket="))
      .toSeq
    assert(dirs.size <= 4) // 2^2 partitions max
    assert(AnnIndexSink.appliedBatches(path) == Set(0L, 1L, 2L, 3L))
  }
}
