package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Crash-window and concurrency contracts of [[IndexCompact]] — the
  * ADVICE r11 findings: (1) a crash between the two swap renames must
  * be recovered by re-running (the `_old_` dir holds the only copy);
  * (2) the session conf is never mutated (explicit read schema scopes
  * partition-type inference per read); (3) a sink batch landing between
  * the fold read and the swap survives the `_old_` cleanup. */
class IndexCompactSpec extends SparkSpec {

  private def writeTree(root: String, parts: Map[String, Seq[Long]]): Unit = {
    import spark.implicits._
    parts.foreach { case (pk, ids) =>
      ids.grouped(2).zipWithIndex.foreach { case (g, i) =>
        g.toDF("id").coalesce(1).write.mode("append")
          .parquet(Paths.get(root, s"pk=$pk").toString)
      }
    }
  }

  private def readIds(root: String): Set[(String, Long)] = {
    import spark.implicits._
    // read partition values verbatim (no inference) for the assertion
    spark.read
      .schema("id LONG, pk STRING")
      .parquet(root)
      .as[(Long, String)].collect().map(_.swap).toSet
  }

  private def expected(parts: Map[String, Seq[Long]]): Set[(String, Long)] =
    parts.toSeq.flatMap { case (pk, ids) => ids.map(pk -> _) }.toSet

  private def parquetsUnder(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  test("re-run recovers a crash between the two swap renames") {
    val root = Files.createTempDirectory("ic-crash").toString + "/idx"
    val parts = Map("0101" -> Seq(1L, 2L, 3L), "abc" -> Seq(4L, 5L))
    writeTree(root, parts)
    // simulate the crash: live moved away, compacted tree never moved in
    val live = Paths.get(root, "pk=0101")
    Files.move(live, Paths.get(root, "_old_pk=0101"),
      StandardCopyOption.ATOMIC_MOVE)
    assert(!Files.exists(live))
    // the documented remedy — re-run the compaction — must recover
    IndexCompact.compact(spark, root)
    assert(readIds(root) == expected(parts), "partition lost after crash")
    assert(!Files.exists(Paths.get(root, "_old_pk=0101")))
    assert(parquetsUnder(live).size == 1, "recovered partition not folded")
  }

  test("recovery also covers a live dir that exists but is empty") {
    val root = Files.createTempDirectory("ic-crash2").toString + "/idx"
    val parts = Map("x" -> Seq(1L, 2L), "y" -> Seq(3L))
    writeTree(root, parts)
    val live = Paths.get(root, "pk=x")
    val old = Paths.get(root, "_old_pk=x")
    Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.createDirectories(live) // crash after createDirectories variant
    IndexCompact.compact(spark, root)
    assert(readIds(root) == expected(parts))
    assert(!Files.exists(old))
  }

  test("leftover _old_ beside a complete live swap is cleaned, not restored") {
    val root = Files.createTempDirectory("ic-leftover").toString + "/idx"
    val parts = Map("z" -> Seq(1L, 2L, 3L, 4L))
    writeTree(root, parts)
    IndexCompact.compact(spark, root)
    // fabricate the crash-after-move-in: stale originals under _old_
    val old = Paths.get(root, "_old_pk=z")
    Files.createDirectories(old)
    Files.copy(parquetsUnder(Paths.get(root, "pk=z")).head,
      old.resolve("compact-0.parquet"))
    IndexCompact.compact(spark, root)
    assert(readIds(root) == expected(parts), "stale originals duplicated")
    assert(!Files.exists(old))
  }

  test("session conf is untouched; string partition values round-trip") {
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val before = spark.conf.get(inferKey, "true")
    val root = Files.createTempDirectory("ic-conf").toString + "/idx"
    // "0101" is the inference trap: a type-inferring read folds it to
    // int 101 and rewrites under pk=101, duplicating the partition
    val parts = Map("0101" -> Seq(1L, 2L), "7" -> Seq(3L))
    writeTree(root, parts)
    IndexCompact.compact(spark, root)
    assert(spark.conf.get(inferKey, "true") == before, "conf mutated")
    assert(Files.exists(Paths.get(root, "pk=0101")))
    assert(!Files.exists(Paths.get(root, "pk=101")))
    assert(readIds(root) == expected(parts))
  }

  test("interrupted swap + post-crash sink batches: _old_ merges back, no loss") {
    import spark.implicits._
    val root = Files.createTempDirectory("ic-crash3").toString + "/idx"
    val parts = Map("m" -> Seq(1L, 2L, 3L), "n" -> Seq(4L))
    writeTree(root, parts)
    IndexCompact.compact(spark, root) // manifests now exist
    // crash between the two swap renames of a LATER compaction...
    val live = Paths.get(root, "pk=m")
    val old = Paths.get(root, "_old_pk=m")
    Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    // ...then the restarted sink writes a fresh batch into the
    // recreated live dir before any compaction re-runs
    Seq(99L).toDF("id").coalesce(1).write.mode("append")
      .parquet(live.toString)
    IndexCompact.compact(spark, root)
    assert(readIds(root) == expected(parts) + (("m", 99L)),
      "pre-crash partition contents lost or post-crash batch dropped")
    assert(!Files.exists(old))
  }

  test("live recreated between the two swap renames: fold abandoned, no loss, no dupes") {
    import spark.implicits._
    val root = Files.createTempDirectory("ic-race2").toString + "/idx"
    val parts = Map("a" -> Seq(1L, 2L, 3L), "b" -> Seq(4L))
    writeTree(root, parts)
    // a sink batch recreates the live dir in the narrowest window —
    // AFTER live->_old_ but BEFORE the staged move-in: the ATOMIC_MOVE
    // onto the non-empty dir throws and the fallback must restore the
    // pre-fold files beside the new batch instead of propagating
    IndexCompact.compact(spark, root, () => (), live =>
      if (live.getFileName.toString == "pk=a")
        Seq(99L).toDF("id").coalesce(1).write.mode("append")
          .parquet(live.toString))
    assert(readIds(root) == expected(parts) + (("a", 99L)),
      "rows lost or duplicated when live was recreated mid-swap")
    assert(!Files.exists(Paths.get(root, "_old_pk=a")))
    // partition b (no interference) still folded to one file
    assert(parquetsUnder(Paths.get(root, "pk=b")).size == 1)
    // a later UNCONTENDED run folds partition a too
    IndexCompact.compact(spark, root)
    assert(readIds(root) == expected(parts) + (("a", 99L)))
    assert(parquetsUnder(Paths.get(root, "pk=a")).size == 1)
  }

  test("a batch landing between fold and swap survives the _old_ cleanup") {
    import spark.implicits._
    val root = Files.createTempDirectory("ic-race").toString + "/idx"
    val parts = Map("a" -> Seq(1L, 2L), "b" -> Seq(3L))
    writeTree(root, parts)
    IndexCompact.compact(spark, root, () => {
      // the mid-compaction sink batch: a new file in a live dir AFTER
      // the fold read — its rows are not in the compacted output
      Seq(99L).toDF("id").coalesce(1).write.mode("append")
        .parquet(Paths.get(root, "pk=a").toString)
    }, _ => ())
    assert(readIds(root) == expected(parts) + (("a", 99L)),
      "mid-compaction batch rows lost")
    assert(!Files.exists(Paths.get(root, "_old_pk=a")))
  }
}
