package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.ChangeApply

/** The log-structured [[MergeSink]] against the snapshot formulation:
  * seeded batch sequences through the sink must leave, after EVERY
  * batch, exactly the state [[ChangeApply.applyAll]] folds — across
  * pending deltas and compactions — plus the crash, compatibility and
  * plan-shape contracts of the layout.
  */
class MergeSinkLogSpec extends SparkSpec {
  import spark.implicits._

  private type Row3 = (String, String, String)
  private type Change = (Long, String, String, Boolean, String)

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def batchDf(cs: Seq[Change]): DataFrame =
    cs.toDF("seq", "id", "rev", "deleted", "doc")

  private def stateDf(rows: Set[Row3]): DataFrame =
    rows.toSeq.toDF("id", "rev", "doc")

  private def rows(df: DataFrame): Set[Row3] =
    df.select("id", "rev", "doc").as[Row3].collect().toSet

  private def read(root: Path): Set[Row3] =
    rows(MergeSink.readState(spark, root.toString))

  /** One seeded batch over ids d0..d7: inserts and updates of two doc
    * types ("a", and "log", the excluded one), deletes (absent ids
    * included), rev-equal echoes of stored rows, and repeated ids. */
  private def genBatch(rnd: Random, nextSeq: () => Long,
      state: Set[Row3]): Seq[Change] =
    Seq.fill(1 + rnd.nextInt(6)) {
      val seq = nextSeq()
      val id = s"d${rnd.nextInt(8)}"
      val stored = state.find(_._1 == id)
      rnd.nextInt(10) match {
        case 0 | 1 => (seq, id, s"9-del$seq", true, null: String)
        case 2 | 3 if stored.nonEmpty =>
          (seq, id, stored.get._2, false, stored.get._3) // echo
        case k =>
          val tpe = if (k % 3 == 0) "log" else "a"
          (seq, id, s"${seq % 5 + 1}-r$seq", false,
            s"""{"type":"$tpe","n":$seq}""")
      }
    }

  private def differential(seed: Long, excludeTypes: Set[String],
      mapDoc: Option[Column => Column]): (Int, Int) = {
    val root = tmp(s"mslog$seed")
    val rnd = new Random(seed)
    var seq = 0L
    var ref = Set.empty[Row3]
    var maxPending = 0
    var compactions = 0
    var batches = Vector.empty[DataFrame]
    (0 until 16).foreach { id =>
      // a replayed batch id is a NOOP that leaves the store untouched
      if (batches.size >= 2 && rnd.nextInt(4) == 0) {
        val before = MergeSink.currentVersion(root.toString)
        assert(!MergeSink.applyBatch(root.toString, batches(rnd.nextInt(id)),
          rnd.nextInt(id).toLong, excludeTypes, 3, mapDoc))
        assert(MergeSink.currentVersion(root.toString) == before)
      }
      val b = batchDf(genBatch(rnd, () => { seq += 1; seq }, ref))
      batches :+= b
      val v0 = MergeSink.currentVersion(root.toString).map(_._1)
      assert(MergeSink.applyBatch(root.toString, b, id.toLong,
        excludeTypes, 3, mapDoc))
      val p = MergeSink.pointer(root.toString).get
      assert(p.batchId == id.toLong)
      // one new version, or two when the batch also compacted
      val rise = p.version - v0.getOrElse(-1L)
      assert(rise == 1 || (rise == 2 && p.base == p.version), s"$v0 -> $p")
      maxPending = math.max(maxPending, (p.version - p.base).toInt)
      if (id > 0 && p.base == p.version) compactions += 1
      ref = rows(ChangeApply.applyAll(stateDf(ref), Seq(b), excludeTypes, mapDoc))
      assert(read(root) == ref, s"seed $seed batch $id (pointer $p)")
    }
    (maxPending, compactions)
  }

  test("differential: readState == ChangeApply.applyAll after every batch") {
    // appends a key to every doc (an echo re-maps its already-mapped doc)
    val marker: Column => Column = d => regexp_replace(d, "}$", ""","m":1}""")
    val runs = Seq(
      differential(1L, Set.empty, None),
      differential(2L, Set("log"), None),
      differential(3L, Set("log"), Some(marker)))
    info(s"(max pending deltas, compactions) per run: $runs")
    assert(runs.map(_._1).max >= 3, s"no run held 3 pending deltas: $runs")
    assert(runs.map(_._2).sum >= 1, s"no run compacted: $runs")
  }

  // filler docs spread the first base over several files, so a few
  // single-file deltas stay below the compaction weight
  private val filler = (0 until 40).map(i =>
    (100L + i, s"z$i", "1-z", false, s"""{"z":$i}"""))
  private val b0 = Seq[Change](
    (1L, "a", "1-a", false, """{"v":1}"""),
    (2L, "b", "1-b", false, """{"v":2}"""),
    (3L, "c", "1-c", false, """{"v":3}""")) ++ filler
  private def first(root: Path): Boolean =
    MergeSink.applyBatch(root.toString, batchDf(b0), 0, numPartitions = 4)
  private val b1 = Seq[Change](
    (4L, "a", "2-a", false, """{"v":11}"""),
    (5L, "b", "9-b", true, null),
    (6L, "d", "1-d", false, """{"v":4}"""))
  private val b2 = Seq[Change](
    (7L, "c", "2-c", false, """{"v":33}"""),
    (8L, "a", "2-a", false, """{"v":11}"""), // echo
    (9L, "e", "9-e", true, null)) // delete of an absent id
  private val after2 = Set[Row3](
    ("a", "2-a", """{"v":11}"""), ("c", "2-c", """{"v":33}"""),
    ("d", "1-d", """{"v":4}""")) ++ filler.map(c => (c._2, c._3, c._5))

  test("a delta written without the pointer swap stays invisible; re-applying converges") {
    val root = tmp("mslogcrash")
    first(root)
    MergeSink.applyBatch(root.toString, batchDf(b1), 1)
    val before = read(root)
    val ptr = MergeSink.currentVersion(root.toString)
    // the swap fails: a directory squats on the pointer's temp file
    val squat = Paths.get(root.toString, "_CURRENT.tmp")
    Files.createDirectories(squat)
    assertThrows[java.io.IOException](
      MergeSink.applyBatch(root.toString, batchDf(b2), 2))
    assert(Files.isDirectory(Paths.get(root.toString, s"v=${ptr.get._1 + 1}")),
      "the orphan delta should be on disk")
    assert(MergeSink.currentVersion(root.toString) == ptr)
    assert(read(root) == before)
    Files.delete(squat)
    assert(MergeSink.applyBatch(root.toString, batchDf(b2), 2))
    assert(read(root) == after2)
    assert(MergeSink.currentVersion(root.toString) == Some((ptr.get._1 + 1, 2L)))
  }

  test("a two-token snapshot pointer opens and applies; the old window retires") {
    val root = tmp("mslogcompat")
    // the snapshot layout: full tables v=4 (previous) and v=5 (current)
    stateDf(Set(("a", "1-a", """{"v":0}"""))).write.parquet(s"$root/v=4")
    rows(ChangeApply.initialState(batchDf(b0))).toSeq.toDF("id", "rev", "doc")
      .write.parquet(s"$root/v=5")
    Files.write(Paths.get(root.toString, "_CURRENT"), "5 0".getBytes("UTF-8"))
    assert(MergeSink.currentVersion(root.toString) == Some((5L, 0L)))
    assert(read(root) == rows(ChangeApply.initialState(batchDf(b0))))
    assert(!MergeSink.applyBatch(root.toString, batchDf(b1), 0))
    assert(MergeSink.applyBatch(root.toString, batchDf(b1), 1))
    assert(MergeSink.applyBatch(root.toString, batchDf(b2), 2))
    assert(MergeSink.currentVersion(root.toString) == Some((7L, 2L)))
    assert(read(root) == after2)
    assert(!Files.exists(Paths.get(root.toString, "v=4")))
    assert(Files.exists(Paths.get(root.toString, "v=5")))
  }

  test("a bootstrap store (\"0 -1\") takes the first batch as its base, then logs") {
    val root = tmp("mslogboot")
    assert(MergeSink.bootstrap(spark, root.toString))
    assert(MergeSink.pointer(root.toString).contains(MergeSink.Pointer(0L, -1L, 0L)))
    // as the snapshot layout wrote it
    Files.write(Paths.get(root.toString, "_CURRENT"), "0 -1".getBytes("UTF-8"))
    assert(MergeSink.currentVersion(root.toString) == Some((0L, -1L)))
    assert(read(root).isEmpty)
    assert(MergeSink.applyBatch(root.toString, batchDf(b0), 0))
    assert(MergeSink.pointer(root.toString).contains(MergeSink.Pointer(1L, 0L, 1L)))
    assert(MergeSink.applyBatch(root.toString, batchDf(b1), 1))
    assert(MergeSink.pointer(root.toString).contains(MergeSink.Pointer(2L, 1L, 1L)))
    assert(MergeSink.applyBatch(root.toString, batchDf(b2), 2))
    assert(read(root) == after2)
  }

  /** Roots of the files scanned below a shuffle in `plan`. */
  private def shuffledScans(plan: SparkPlan): Seq[String] =
    plan.collect { case e: ShuffleExchangeLike => e }.flatMap(_.child.collect {
      case s: FileSourceScanLike => s.relation.location.rootPaths.map(_.toString)
    }.flatten)

  test("neither readState nor the delta write shuffles the base") {
    val root = tmp("mslogplan")
    first(root)
    MergeSink.applyBatch(root.toString, batchDf(b1), 1)
    MergeSink.applyBatch(root.toString, batchDf(b2), 2)
    assert(MergeSink.pointer(root.toString).contains(MergeSink.Pointer(2L, 2L, 0L)))
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false") // exchanges are then in executedPlan
    try {
      val state = MergeSink.readState(spark, root.toString)
      val delta = ChangeApply.effectiveChanges(MergeSink.versions(spark,
        root.toString, MergeSink.pointer(root.toString).get), batchDf(b2))
      Seq(state, delta).foreach { df =>
        val shuffled = shuffledScans(df.queryExecution.executedPlan)
        assert(!shuffled.exists(_.endsWith("/v=0")), shuffled)
      }
      assert(rows(state) == after2)
    } finally spark.conf.set(key, was)
  }
}
