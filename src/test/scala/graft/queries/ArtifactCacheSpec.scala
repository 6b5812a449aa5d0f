package graft.queries

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.SegmentLog

/** Pins the artifact-cache contract of [[Pipeline.cachedArtifact]]:
  *  - the cache key folds in a fingerprint of the compiled graft
  *    bytecode, so editing ANY graft source (MergeSink.scala alone
  *    included) forces a rebuild of every cached artifact;
  *  - an artifact is served only once its build returned: a build that
  *    dies leaves no marker, no scratch tree and no running query, and
  *    the next call rebuilds from an empty root instead of serving or
  *    resuming what the dead build left. */
class ArtifactCacheSpec extends SparkSpec {

  private def build(counter: java.util.concurrent.atomic.AtomicInteger)(
      b: Pipeline.Build): Unit = {
    counter.incrementAndGet()
    Files.createDirectories(b.out.toPath)
    Files.write(b.out.toPath.resolve("data"), Array.emptyByteArray)
  }

  private def marker(out: java.io.File) = new java.io.File(out, "_complete")

  private def entry(name: String) =
    graft.SparkEntry.catalog.find(_.name == name).get.fn

  /** A small `documents` table with the query terms of the p88/j20
    * probes spread over 40 docs. */
  private def docsDir(prefix: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(prefix)
    val words = Seq("spark", "window", "merge", "hash", "join", "table",
      "vector", "stream", "alpha", "beta", "gamma")
    (0 until 40).map { i =>
      val text = (0 until 3 + i % 6).map(k => words((i * 7 + k * (i % 4 + 1)) % words.size))
        .mkString(" ")
      (i.toLong, text, if (i % 3 == 0) "en" else "de", "web", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  test("a machinery-fingerprint change forces a rebuild; same code stays warm") {
    val dir = Files.createTempDirectory("mfp").toString
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    // thread-confined override (ADVICE r14): a sys.props override here
    // leaked into concurrently-running suites' cachedArtifact calls,
    // flipping THEIR cache keys mid-run — DynamicVariable scopes the
    // test fingerprint to this spec's thread only
    def withFp[A](fp: String)(body: => A): A =
      graft.Fingerprint.testOverride.withValue(Some(fp))(body)
    withFp("fpA") {
      Pipeline.cachedArtifact(dir, "documents", "mfp-spec-v1")(build(n))
      assert(n.get() == 1)
      // same corpus + same code: warm read, no rebuild
      Pipeline.cachedArtifact(dir, "documents", "mfp-spec-v1")(build(n))
      assert(n.get() == 1)
    }
    // "edit MergeSink.scala": the bytecode fingerprint changes while
    // the corpus and the hand-maintained key stay identical
    withFp("fpB") {
      Pipeline.cachedArtifact(dir, "documents", "mfp-spec-v1")(build(n))
      assert(n.get() == 2, "a code change must never reuse an old artifact")
    }
    // and back: the fpA artifact is still present and warm
    withFp("fpA") {
      Pipeline.cachedArtifact(dir, "documents", "mfp-spec-v1")(build(n))
      assert(n.get() == 2)
    }
    Seq("fpA", "fpB").foreach(fp => withFp(fp)(SegmentLog.deleteTree(
      Pipeline.artifactDir(dir, "documents", "mfp-spec-v1").toPath)))
  }

  test("default machinery fingerprint: computed from the compiled classes, stable in-JVM") {
    val fp = graft.Fingerprint.machinery
    assert(fp.matches("[0-9a-f]{12}"), s"unexpected fingerprint shape: $fp")
    assert(graft.Fingerprint.machinery == fp)
  }

  test("a build that throws leaves no marker, scratch tree or query; the next call starts empty") {
    val dir = Files.createTempDirectory("harness").toString
    var dead: Pipeline.Build = null
    intercept[IllegalStateException] {
      Pipeline.cachedArtifact(dir, "documents", "harness-spec") { b =>
        dead = b
        Files.createDirectories(b.out.toPath)
        Files.write(b.out.toPath.resolve("partial"), Array.emptyByteArray)
        Files.write(b.scratch.resolve("feed.jsonl"), Array.emptyByteArray)
        spark.readStream.format("rate").load()
          .writeStream.format("memory").queryName(b.name).start()
        throw new IllegalStateException("build died")
      }
    }
    assert(!marker(dead.out).exists())
    assert(!Files.exists(dead.scratch))
    assert(!spark.streams.active.exists(_.name == dead.name))
    assert(!spark.catalog.tableExists(dead.name))
    // the dead build's partial root is never served or resumed
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = Pipeline.cachedArtifact(dir, "documents", "harness-spec") { b =>
      assert(b.out == dead.out && !b.out.exists(), "rebuild must start from an empty out")
      assert(Files.list(b.scratch).count() == 0L)
      build(n)(b)
    }
    assert(n.get() == 1 && marker(out).exists())
    assert(!new java.io.File(out, "partial").exists())
    SegmentLog.deleteTree(out.toPath)
  }

  test("the marker is written after the build returns; scratch goes, the result stays") {
    val dir = Files.createTempDirectory("harness2").toString
    var seen: Pipeline.Build = null
    val out = Pipeline.cachedArtifact(dir, "documents", "harness-spec2") { b =>
      seen = b
      Files.write(b.scratch.resolve("ckpt"), Array.emptyByteArray)
      build(new java.util.concurrent.atomic.AtomicInteger)(b)
      assert(!marker(b.out).exists(), "marker written before the build returned")
    }
    assert(marker(out).exists() && new java.io.File(out, "data").exists())
    assert(!Files.exists(seen.scratch))
    assert(seen.name.matches("[A-Za-z0-9_]+"), s"not a SQL identifier: ${seen.name}")
    SegmentLog.deleteTree(out.toPath)
  }

  test("p88b/p88c: a BM25 index build killed after postings/ is rebuilt, not served") {
    val dir = docsDir("p88part")
    val d = graft.Tables.load(spark, dir, "documents")
    // Retrieval.writeIndex writes postings/ (with its _SUCCESS) first,
    // then segstats/ and docids/: the state a kill in between leaves
    intercept[IllegalStateException] {
      Pipeline.cachedArtifact(dir, "documents", "bm25idx-b64") { b =>
        graft.pipeline.Retrieval.writeIndex(d, b.out.toString, nBuckets = 64)
        Seq("segstats", "docids").foreach(p => SegmentLog.deleteTree(b.out.toPath.resolve(p)))
        throw new IllegalStateException("killed after postings/")
      }
    }
    val names = Seq("p88b_bm25_index", "p88c_bm25_filtered")
    val afterKill = names.map(n => entry(n)(spark, dir).collect().toSeq)
    val out = Pipeline.artifactDir(dir, "documents", "bm25idx-b64").toPath
    SegmentLog.deleteTree(out)
    val clean = names.map(n => entry(n)(spark, dir).collect().toSeq)
    SegmentLog.deleteTree(out)
    assert(clean.forall(_.nonEmpty))
    assert(afterKill == clean)
  }

  test("j20: an index root left by an interrupted build is rebuilt, not resumed") {
    import spark.implicits._
    val dir = docsDir("j20part")
    val out = Pipeline.artifactDir(dir, "documents", GateKeys.forTag("j20"))
    // an earlier build's committed batch 0 (its applied log says 0),
    // killed before the marker
    graft.streaming.InvertedIndexSink.mergeBatch(
      Seq((1000L, "spark window merge spark window merge")).toDF("doc_id", "text"),
      out.toString, 0L, nBuckets = 16)
    val afterKill = entry("j20_streaming_index")(spark, dir).collect().toSeq
    SegmentLog.deleteTree(out.toPath)
    val clean = entry("j20_streaming_index")(spark, dir).collect().toSeq
    SegmentLog.deleteTree(out.toPath)
    assert(clean.nonEmpty && !clean.exists(_.toSeq.contains(1000L)))
    assert(afterKill == clean)
  }

  test("GateBench drops by the SAME keys the gate definitions use") {
    // the registry is the single source of truth (ADVICE r13: a bumped
    // key left GateBench deleting nothing and reporting warm as live)
    assert(graft.GateBench.gateKeys eq GateKeys.byQuery)
    assert(GateKeys.forTag("j19") == "j19")
    assert(GateKeys.forTag("j27") == "j27")
    intercept[IllegalArgumentException](GateKeys.forTag("j999"))
    GateKeys.byQuery.foreach { case (n, k) =>
      assert(n.matches("j\\d+_[a-z_]+"), s"odd gate name: $n")
      assert(n.startsWith(k + "_"), s"gate $n keyed $k")
    }
    // the registry→catalog mapping is TOTAL (VERDICT r14 task 6): a
    // typo'd GateKeys name used to be silently .filter'd out of
    // GateBench's sweep, dropping that gate from the regression
    // baseline with no error. Every key must resolve to a real catalog
    // entry.
    val unresolved = GateKeys.byQuery.keySet -- graft.SparkEntry.queries.keySet
    assert(unresolved.isEmpty,
      s"GateKeys entries with no catalog query: $unresolved")
  }
}
