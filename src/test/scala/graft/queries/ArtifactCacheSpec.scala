package graft.queries

import graft.SparkSpec

/** Pins the artifact-cache staleness contract (VERDICT r13 task 1): the
  * cache key folds in a fingerprint of the compiled graft bytecode, so
  * editing ANY graft source (MergeSink.scala alone included) produces a
  * different key and forces a rebuild of every cached artifact — a
  * hand-bumped `-vN` suffix is no longer the only thing standing between
  * a machinery edit and a silently-stale gate result. */
class ArtifactCacheSpec extends SparkSpec {

  private def build(counter: java.util.concurrent.atomic.AtomicInteger)(
      o: java.io.File): Unit = {
    counter.incrementAndGet()
    java.nio.file.Files.createDirectories(o.toPath)
    java.nio.file.Files.write(o.toPath.resolve("_SUCCESS"),
      Array.emptyByteArray)
  }

  test("a machinery-fingerprint change forces a rebuild; same code stays warm") {
    val dir = java.nio.file.Files.createTempDirectory("mfp").toString
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
  }

  test("default machinery fingerprint: computed from the compiled classes, stable in-JVM") {
    val fp = graft.Fingerprint.machinery
    assert(fp.matches("[0-9a-f]{12}"), s"unexpected fingerprint shape: $fp")
    assert(graft.Fingerprint.machinery == fp)
  }

  test("GateBench drops by the SAME keys the gate definitions use") {
    // the registry is the single source of truth (ADVICE r13: a bumped
    // key left GateBench deleting nothing and reporting warm as live)
    assert(graft.GateBench.gateKeys eq GateKeys.byQuery)
    assert(GateKeys.forTag("j19") == "j19gate-v1")
    assert(GateKeys.forTag("j27") == s"j27annidx-p${GateKeys.j27Planes}-c1")
    intercept[IllegalArgumentException](GateKeys.forTag("j999"))
    GateKeys.byQuery.keys.foreach { n =>
      assert(n.matches("j\\d+_[a-z_]+"), s"odd gate name: $n")
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
