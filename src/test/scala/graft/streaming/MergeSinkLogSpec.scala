package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.cdc.ChangeApply

/** The log-structured [[MergeSink]] against the snapshot formulation:
  * seeded batch sequences through the sink must leave, after EVERY
  * batch, exactly the state [[ChangeApply.applyAll]] folds — across
  * pending deltas and compactions — plus the crash, compatibility,
  * plan-shape and job-count contracts of the layout and the coherence
  * of its driver-side rev index.
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

  /** The rows of one delta version as (id, rev, doc, deleted), the rev
    * of a tombstone left out. */
  private def delta(root: Path, v: Long): Set[(String, String, String, Boolean)] =
    spark.read.parquet(s"$root/v=$v")
      .select($"id", when(!$"deleted", $"rev"), $"doc", $"deleted")
      .as[(String, String, String, Boolean)].collect().toSet

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
          rnd.nextInt(id).toLong, excludeTypes, mapDoc))
        assert(MergeSink.currentVersion(root.toString) == before)
      }
      val b = batchDf(genBatch(rnd, () => { seq += 1; seq }, ref))
      batches :+= b
      val v0 = MergeSink.currentVersion(root.toString).map(_._1)
      assert(MergeSink.applyBatch(root.toString, b, id.toLong,
        excludeTypes, mapDoc))
      val p = MergeSink.pointer(root.toString).get
      assert(p.batchId == id.toLong)
      // one new version, or two when the batch also compacted
      val rise = p.version - v0.getOrElse(-1L)
      assert(rise == 1 || (rise == 2 && p.base == p.version), s"$v0 -> $p")
      maxPending = math.max(maxPending, (p.version - p.base).toInt)
      if (id > 0 && p.base == p.version) compactions += 1
      val prev = ref
      ref = rows(ChangeApply.applyAll(stateDf(ref), Seq(b), excludeTypes, mapDoc))
      assert(read(root) == ref, s"seed $seed batch $id (pointer $p)")
      // the delta holds exactly what changed: no rev-equal echo, delete
      // of an absent id or excluded-type insert enters the log
      v0.foreach { v =>
        val upserts = (ref -- prev).map(r => (r._1, r._2, r._3, false))
        val deletes = (prev.map(_._1) -- ref.map(_._1))
          .map(d => (d, null: String, null: String, true))
        assert(delta(root, v + 1) == upserts ++ deletes, s"seed $seed batch $id")
      }
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
  private def first(root: Path): Boolean = {
    // a multi-file base: the batch's 4 shuffle partitions, uncoalesced
    val conf = Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val was = conf.keys.map(k => k -> spark.conf.get(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try MergeSink.applyBatch(root.toString, batchDf(b0), 0)
    finally was.foreach { case (k, v) => spark.conf.set(k, v) }
  }
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
    // of b2 only the update enters the delta: not the echo of a, not
    // the delete of the absent e
    assert(delta(root, ptr.get._1 + 1) == Set(("c", "2-c", """{"v":33}""", false)))
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

  private object Plans extends AdaptiveSparkPlanHelper

  /** The executed plan of every query `body` runs in this session. */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; ListenerDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  /** The number of Spark jobs `body` runs in this thread. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"mslog-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try { body; ListenerDrain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
    jobs.get
  }

  test("neither readState nor the delta write shuffles the base") {
    val root = tmp("mslogplan")
    first(root)
    MergeSink.applyBatch(root.toString, batchDf(b1), 1)
    // b2 finds its rev index warm (built by b1): neither of its two
    // queries (the key collect, the delta write) scans a version of the
    // store, let alone shuffles one
    val scans = (p: SparkPlan) =>
      Plans.collectWithSubqueries(p) { case s: FileSourceScanLike => s }
    val plans = plansOf(MergeSink.applyBatch(root.toString, batchDf(b2), 2))
    assert(plans.size == 2, plans)
    plans.foreach(p => assert(scans(p).isEmpty, p))
    // the same walk does see the store's scans through AQE's wrappers
    val read = plansOf(MergeSink.readState(spark, root.toString).collect())
    assert(read.exists(p => scans(p).nonEmpty), read)
    assert(MergeSink.pointer(root.toString).contains(MergeSink.Pointer(2L, 2L, 0L)))
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false") // exchanges are then in executedPlan
    try {
      val state = MergeSink.readState(spark, root.toString)
      val shuffled = shuffledScans(state.queryExecution.executedPlan)
      assert(!shuffled.exists(_.endsWith("/v=0")), shuffled)
      assert(rows(state) == after2)
    } finally spark.conf.set(key, was)
  }

  /** One seeded batch that stresses the driver-side guard: exact
    * duplicate (id, seq) rows, a delete and an insert of one id at one
    * seq (the delete wins), delete then re-insert, deletes of absent
    * ids, rev-equal echoes and the excluded type, over ids d0..d5. */
  private def genTricky(rnd: Random, nextSeq: () => Long,
      state: Set[Row3]): Seq[Change] = {
    def upsert(seq: Long, id: String): Change = {
      val tpe = if (rnd.nextInt(3) == 0) "log" else "a"
      (seq, id, s"${seq % 7 + 1}-r$seq", false, s"""{"type":"$tpe","n":$seq}""")
    }
    Seq.fill(1 + rnd.nextInt(5)) {
      val id = s"d${rnd.nextInt(6)}"
      val seq = nextSeq()
      rnd.nextInt(6) match {
        case 0 => val u = upsert(seq, id); Seq(u, u) // exact duplicate
        case 1 => Seq(upsert(seq, id), (seq, id, s"9-del$seq", true, null: String))
        case 2 => Seq((seq, id, s"9-del$seq", true, null: String), upsert(nextSeq(), id))
        case 3 => state.find(_._1 == id).toSeq.map(r => (seq, id, r._2, false, r._3))
        case 4 => Seq((seq, id, s"9-del$seq", true, null: String))
        case _ => Seq(upsert(seq, id))
      }
    }.flatten
  }

  test("driver rev guard: duplicates, seq ties, re-inserts; one delta row per id") {
    val marker: Column => Column = d => regexp_replace(d, "}$", ""","m":1}""")
    for ((seed, excludeTypes, mapDoc) <- Seq((11L, Set.empty[String], None),
        (12L, Set("log"), None), (13L, Set("log"), Some(marker)))) {
      val root = tmp(s"msguard$seed")
      val rnd = new Random(seed)
      var seq = 0L
      var ref = Set.empty[Row3]
      (0 until 12).foreach { id =>
        val cs = genTricky(rnd, () => { seq += 1; seq }, ref)
        // several partitions, so duplicates of a winner can sit apart
        val b = batchDf(rnd.shuffle(cs)).repartition(1 + rnd.nextInt(3))
        val v0 = MergeSink.currentVersion(root.toString).map(_._1)
        assert(MergeSink.applyBatch(root.toString, b, id.toLong, excludeTypes, mapDoc))
        ref = rows(ChangeApply.applyAll(stateDf(ref), Seq(b), excludeTypes, mapDoc))
        assert(read(root) == ref, s"seed $seed batch $id")
        v0.foreach { v =>
          val d = spark.read.parquet(s"$root/v=${v + 1}")
          assert(d.count() == d.select("id").distinct().count(), s"seed $seed batch $id")
        }
      }
    }
  }

  test("rev index coherence: another session's write, a failed swap, a compaction") {
    val root = tmp("msindex")
    first(root)
    MergeSink.applyBatch(root.toString, batchDf(b1), 1) // builds the index
    var ref = rows(ChangeApply.applyAll(
      stateDf(rows(ChangeApply.initialState(batchDf(b0)))), Seq(batchDf(b1))))
    def step(cs: Seq[Change], id: Long): Unit = {
      assert(MergeSink.applyBatch(root.toString, batchDf(cs), id))
      ref = rows(ChangeApply.applyAll(stateDf(ref), Seq(batchDf(cs))))
      assert(read(root) == ref, s"batch $id")
    }
    def lastDelta = delta(root, MergeSink.pointer(root.toString).get.version)

    // another session writes the same root: x appears, a moves to 3-a
    val other = spark.newSession()
    assert(MergeSink.applyBatch(root.toString, other.createDataFrame(Seq[Change](
        (20L, "x", "1-x", false, """{"v":20}"""),
        (21L, "a", "3-a", false, """{"v":21}""")))
      .toDF("seq", "id", "rev", "deleted", "doc"), 2))
    ref = ref.filterNot(_._1 == "a") ++
      Set(("x", "1-x", """{"v":20}"""), ("a", "3-a", """{"v":21}"""))
    // this session sees both: x's delete is a DELETE, a's echo a NOOP
    step(Seq((22L, "x", "9-x", true, null), (23L, "a", "3-a", false, """{"v":21}""")), 3)
    assert(lastDelta == Set(("x", null, null, true)))

    // a write that throws before the swap leaves the index where it was
    val squat = Paths.get(root.toString, "_CURRENT.tmp")
    Files.createDirectories(squat)
    val upd = Seq[Change]((24L, "c", "2-c", false, """{"v":24}"""))
    assertThrows[java.io.IOException](MergeSink.applyBatch(root.toString, batchDf(upd), 4))
    Files.delete(squat)
    step(upd, 4)
    assert(lastDelta == Set(("c", "2-c", """{"v":24}""", false)))

    // a compaction keeps the index: the batch after it runs warm
    var id = 5L
    while (id < 40 && MergeSink.pointer(root.toString).exists(p => p.version > p.base)) {
      step(Seq((100L + id, "d", s"$id-d", false, s"""{"v":$id}""")), id)
      id += 1
    }
    assert(MergeSink.pointer(root.toString).exists(p => p.version == p.base),
      "no batch compacted")
    val after = Seq[Change]((200L, "c", "3-c", false, """{"v":200}"""))
    val jobs = jobsOf(MergeSink.applyBatch(root.toString, batchDf(after), id))
    assert(jobs == 2, s"the batch after a compaction ran $jobs jobs")
    ref = rows(ChangeApply.applyAll(stateDf(ref), Seq(batchDf(after))))
    assert(read(root) == ref)
  }

  test("a warm 100-change delta batch runs 2 Spark jobs; an index rebuild at most 3") {
    val root = tmp("msjobs")
    val rnd = new Random(7L)
    val docs = (0 until 2000).map(i => (i.toLong, s"doc$i", "1-a", false, s"""{"n":$i}"""))
    assert(MergeSink.applyBatch(root.toString, batchDf(docs), 0))
    var seq = 10000L
    def batch(): DataFrame = batchDf(Seq.fill(100) {
      seq += 1
      val id = s"doc${rnd.nextInt(2200)}"
      if (rnd.nextInt(10) == 0) (seq, id, s"9-$seq", true, null: String)
      else (seq, id, s"2-$seq", false, s"""{"n":$seq}""")
    })
    val b1 = batch()
    val b2 = batch()
    // the first delta batch after the base builds the index
    val rebuild = jobsOf(MergeSink.applyBatch(root.toString, b1, 1))
    val warm = jobsOf(MergeSink.applyBatch(root.toString, b2, 2))
    assert(MergeSink.pointer(root.toString).contains(MergeSink.Pointer(2L, 2L, 0L)),
      "no compaction may run in the measured batches")
    info(s"jobs: index-building batch $rebuild, warm batch $warm")
    assert(warm == 2, s"warm delta batch: $warm jobs")
    assert(rebuild <= 3, s"index-building batch: $rebuild jobs")
  }
}
