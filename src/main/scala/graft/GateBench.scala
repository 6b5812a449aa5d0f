package graft

import graft.streaming.SegmentLog

/** Isolated live-cost baseline for the artifact-backed streaming gates
  * (VERDICT r12 task 1, third part): for each gate, delete its cached
  * result artifact, time the LIVE rebuild (stubs, feeds, supervised
  * queries, write-backs — staged feed artifacts stay warm, they are
  * shared ingest-side staging), then time the warm artifact read.
  * Prints one JSON line per run:
  *
  *   {"metric":"jgate_isolated","sf":...,
  *    "gates":{"j21_writeback_roundtrip":{"live":N,"warm":N},...}}
  *
  * Recorded per round into BENCH_sf1.json (`jgate_isolated_r{N}`) so a
  * regression in the streaming MACHINERY surfaces the way query-plane
  * regressions do, without the fixed control-plane waits polluting the
  * catalog bench signal.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.GateBench"
  */
object GateBench {

  /** gate name -> its artifact key — the shared
    * [[graft.queries.GateKeys]] registry the definition sites use, so
    * this map can never point at a dir no gate builds (which once made
    * dropArtifacts delete nothing and the "live" column silently report
    * warm-read times). */
  val gateKeys: Map[String, String] = graft.queries.GateKeys.byQuery

  /** SINGLE-PROCESS TOOL: artifact dirs live in the global tmpdir, and
    * deleting one out from under a concurrent Bench/Verify JVM would
    * fail that run mid-read. The dir is renamed aside FIRST (atomic on
    * a local filesystem), so a concurrent reader either keeps the old
    * handle's data or sees a clean missing-dir rebuild — never a
    * half-deleted parquet tree. */
  private def dropArtifacts(key: String): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val all = Option(tmp.listFiles()).getOrElse(Array.empty)
    // a rename-aside whose recursive delete then failed leaves a hidden
    // '.graft-*-dropped-*' tree the key-prefix filter below never
    // re-matches — sweep those orphans first (best-effort: a tree a
    // concurrent walker still holds open just waits for the next sweep)
    // so failed deletions cannot accumulate in the global tmpdir across
    // rounds (ADVICE r14)
    all.filter(f => f.getName.startsWith(".graft-") &&
        f.getName.contains(".dropped-"))
      .foreach(d => try SegmentLog.deleteTree(d.toPath)
        catch { case _: java.io.IOException => () })
    all.filter(_.getName.startsWith(s"graft-$key-"))
      .foreach { d =>
        val aside = new java.io.File(tmp,
          s".${d.getName}.dropped-${System.nanoTime()}")
        val gone = if (d.renameTo(aside)) aside else d
        SegmentLog.deleteTree(gone.toPath)
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session()
    // TOTAL registry→catalog mapping (VERDICT r14 task 6): a silent
    // .filter here once meant a typo'd GateKeys name just vanished from
    // the sweep — and from the gate-regression baseline — with no error.
    val unknown = gateKeys.keySet -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"GateKeys entries with no catalog query (typo?): $unknown")
    val names = SparkEntry.selected(gateKeys.keys.toSeq.sorted)
    def time(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      SparkEntry.release(spark)
      t
    }
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rows = names.map { n =>
      dropArtifacts(gateKeys(n))
      val live = time(n)
      val warm = time(n)
      System.err.println(f"[gatebench] $n%-32s live=$live%8.3f warm=$warm%8.3f")
      s""""$n":{"live":${ms(live)},"warm":${ms(warm)}}"""
    }
    println(s"""{"metric":"jgate_isolated","sf":"$sfDir","gates":{${
      rows.mkString(",")}}}""")
    spark.stop()
  }
}
