package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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

  // filler docs and a tiny open cost spread the first base over several
  // files, so a few single-file deltas stay below the compaction weight
  private val filler = (0 until 40).map(i =>
    (100L + i, s"z$i", "1-z", false, s"""{"z":$i}"""))
  private val b0 = Seq[Change](
    (1L, "a", "1-a", false, """{"v":1}"""),
    (2L, "b", "1-b", false, """{"v":2}"""),
    (3L, "c", "1-c", false, """{"v":3}""")) ++ filler
  private def first(root: Path): Boolean = {
    // a multi-file base: at 64 bytes per file, b0's ~330 doc bytes ask
    // for more files than the 4 cores write
    val key = "spark.sql.files.openCostInBytes"
    spark.conf.set(key, "16")
    try MergeSink.applyBatch(root.toString, batchDf(b0), 0)
    finally spark.conf.unset(key)
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

  /** The start event of every Spark job `body` runs in this thread. */
  private def jobsStarted(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"mslog-jobs-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e)
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try { body; ListenerDrain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
    jobs.asScala.toSeq
  }

  /** The number of Spark jobs `body` runs in this thread. */
  private def jobsOf(body: => Unit): Int = jobsStarted(body).size

  /** The file scans among the RDDs of the jobs' stages. */
  private def fileScans(jobs: Seq[SparkListenerJobStart]): Seq[String] =
    jobs.flatMap(_.stageInfos).flatMap(_.rddInfos).map(_.name)
      .filter(_ == "FileScanRDD")

  test("neither readState nor the delta write shuffles the base") {
    val root = tmp("mslogplan")
    first(root)
    MergeSink.applyBatch(root.toString, batchDf(b1), 1)
    // b2 finds its rev index warm (built by b1): no stage of its two
    // jobs (the key collect, the delta write) scans a version of the
    // store, let alone shuffles one
    val jobs = jobsStarted(MergeSink.applyBatch(root.toString, batchDf(b2), 2))
    assert(jobs.size == 2, jobs)
    assert(fileScans(jobs).isEmpty, jobs.flatMap(_.stageInfos).flatMap(_.rddInfos))
    // the same walk does see the store's scans
    assert(fileScans(jobsStarted(MergeSink.readState(spark, root.toString).collect()))
      .nonEmpty)
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
    first(root) // seeds the index
    MergeSink.applyBatch(root.toString, batchDf(b1), 1)
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
    // the first batch seeded this session's index; a fresh session (as
    // a restarted query) finds none and rebuilds it
    val fresh = spark.newSession()
    var seq = 10000L
    def batch(): DataFrame = fresh.createDataFrame(Seq.fill(100) {
      seq += 1
      val id = s"doc${rnd.nextInt(2200)}"
      if (rnd.nextInt(10) == 0) (seq, id, s"9-$seq", true, null: String)
      else (seq, id, s"2-$seq", false, s"""{"n":$seq}""")
    }).toDF("seq", "id", "rev", "deleted", "doc")
    val b1 = batch()
    val b2 = batch()
    // the fresh session's first batch builds its index
    val rebuild = jobsOf(MergeSink.applyBatch(root.toString, b1, 1))
    val warm = jobsOf(MergeSink.applyBatch(root.toString, b2, 2))
    assert(MergeSink.pointer(root.toString).contains(MergeSink.Pointer(2L, 2L, 0L)),
      "no compaction may run in the measured batches")
    info(s"jobs: index-building batch $rebuild, warm batch $warm")
    assert(warm == 2, s"warm delta batch: $warm jobs")
    assert(rebuild <= 3, s"index-building batch: $rebuild jobs")
    assert(partFiles(root, 2) == 1, "a small delta is one file")
  }

  test("first-batch differential: a batch into an empty store is a delta against an empty index") {
    val marker: Column => Column = d => regexp_replace(d, "}$", ""","m":1}""")
    for (seed <- 21L to 26L) {
      val (excludeTypes, mapDoc) = seed % 3 match {
        case 0 => (Set.empty[String], None)
        case 1 => (Set("log"), None)
        case _ => (Set("log"), Some(marker))
      }
      val root = tmp(s"msfirst$seed")
      if (seed % 2 == 0) assert(MergeSink.bootstrap(spark, root.toString))
      val rnd = new Random(seed)
      var seq = 0L
      val next = () => { seq += 1; seq }
      val (s1, s2, s3, s4) = (next(), next(), next(), next())
      val fixed = Seq[Change](
        (s1, "u0", "1-u", false, """{"type":"a","u":0}"""), // exact duplicate
        (s1, "u0", "1-u", false, """{"type":"a","u":0}"""),
        (s2, "i0", "1-i", false, """{"type":"a","i":0}"""), // insert, then delete
        (s3, "i0", "2-i", true, null),
        (s4, "t0", "1-t", false, """{"type":"a","t":0}"""), // a seq tie: the delete wins
        (s4, "t0", "2-t", true, null),
        (next(), "x0", "1-x", false, """{"type":"log","x":0}""")) // excluded type
      val cs = fixed ++ genTricky(rnd, next, Set.empty)
      val b = batchDf(rnd.shuffle(cs)).repartition(1 + (seed % 3).toInt)
      assert(MergeSink.applyBatch(root.toString, b, 0, excludeTypes, mapDoc))
      val p = MergeSink.pointer(root.toString).get
      assert(p.base == p.version && p.batchId == 0L, p)
      val ref = rows(ChangeApply.applyAll(stateDf(Set.empty), Seq(b), excludeTypes, mapDoc))
      assert(ref.exists(_._1 == "u0") && !ref.exists(r => r._1 == "i0" || r._1 == "t0"))
      assert(ref.exists(_._1 == "x0") == excludeTypes.isEmpty)
      assert(read(root) == ref, s"seed $seed")
      // the base is the state itself: (id, rev, doc), one row per live id
      val base = spark.read.parquet(s"$root/v=${p.base}")
      assert(base.schema.fieldNames.toSeq == ChangeApply.stateCols, s"seed $seed")
      assert(base.count() == ref.size && rows(base) == ref, s"seed $seed")
    }
  }

  test("the batch after a first batch reads the index it left: 2 jobs, no store scan") {
    for (boot <- Seq(false, true)) {
      val root = tmp(s"msseeded$boot")
      if (boot) assert(MergeSink.bootstrap(spark, root.toString))
      assert(first(root))
      val jobs = jobsStarted(MergeSink.applyBatch(root.toString, batchDf(b1), 1))
      assert(jobs.size == 2, s"bootstrapped $boot: $jobs")
      assert(fileScans(jobs).isEmpty, jobs.flatMap(_.stageInfos).flatMap(_.rddInfos))
      assert(read(root) == rows(ChangeApply.applyAll(stateDf(Set.empty),
        Seq(batchDf(b0), batchDf(b1)))))
    }
  }

  test("building readState runs no Spark job, on a base alone or with its log") {
    val root = tmp("msreadjobs")
    first(root)
    assert(jobsOf(MergeSink.readState(spark, root.toString)) == 0, "base only")
    MergeSink.applyBatch(root.toString, batchDf(b1), 1)
    assert(jobsOf(MergeSink.readState(spark, root.toString)) == 0, "base and one delta")
    MergeSink.applyBatch(root.toString, batchDf(b2), 2)
    assert(jobsOf(MergeSink.readState(spark, root.toString)) == 0, "base and two deltas")
    assert(read(root) == after2)
  }

  private def partFiles(root: Path, v: Long): Int =
    root.resolve(s"v=$v").toFile.listFiles().count(_.getName.startsWith("part-"))

  test("a delta over 4 open costs is written as defaultParallelism files and reads back equal") {
    val root = tmp("mswide")
    val par = spark.sparkContext.defaultParallelism
    // 64 KB per open cost: the one-file threshold is 256 KB of docs
    spark.conf.set("spark.sql.files.openCostInBytes", "65536")
    try {
      assert(MergeSink.deltaFiles(spark, 256L * 1024 - 1) == 1)
      assert(MergeSink.deltaFiles(spark, 256L * 1024 * 2) == math.min(2, par))
      assert(MergeSink.deltaFiles(spark, Long.MaxValue / 2) == par)
      val base = (0 until 300).map(i =>
        (i.toLong, s"doc$i", "1-a", false, s"""{"n":$i}"""))
      val pad = "x" * 600
      // ~2.5 MB of docs: updates, inserts and deletes
      val big = (0 until 4000).map { i =>
        if (i % 50 == 7) (1000L + i, s"doc$i", "9-d", true, null: String)
        else (1000L + i, s"doc$i", "2-b", false, s"""{"n":$i,"p":"$pad"}""")
      }
      assert(MergeSink.applyBatch(root.toString, batchDf(base), 0))
      assert(MergeSink.applyBatch(root.toString, batchDf(big), 1))
      assert(partFiles(root, 1) == par)
      assert(read(root) == rows(ChangeApply.applyAll(stateDf(Set.empty),
        Seq(batchDf(base), batchDf(big)))))
    } finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  /** The file names in version `v`'s directory. */
  private def entries(root: Path, v: Long): Seq[String] =
    root.resolve(s"v=$v").toFile.listFiles().map(_.getName).toSeq

  /** The key-value metadata keys of a parquet file's footer. */
  private def footerKeys(f: Path): Set[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toString), new Configuration()))
    try r.getFooter.getFileMetaData.getKeyValueMetaData.keySet.asScala.toSet
    finally r.close()
  }

  test("the part writer leaves only part files and writes what Spark writes") {
    val root = tmp("mspart")
    first(root) // a base of several parts
    assert(MergeSink.applyBatch(root.toString, batchDf(b1), 1)) // a delta
    val spark0 = tmp("mspartspark")
    // Spark's own write of the same two versions' rows
    ChangeApply.initialState(batchDf(b0)).write.parquet(s"$spark0/v=0")
    spark.read.parquet(s"$root/v=1").write.parquet(s"$spark0/v=1")
    for (v <- Seq(0L, 1L)) {
      val names = entries(root, v)
      val (hidden, visible) = names.partition(_.startsWith("."))
      // no _SUCCESS, no _temporary, no temp file: parts and their checksums
      assert(visible.nonEmpty && visible.forall(_.matches("part-\\d{5}-.+\\.parquet")), names)
      assert(hidden.toSet == visible.map(n => s".$n.crc").toSet, names)
      val theirs = entries(spark0, v).filter(_.startsWith("part-"))
      val ext = (n: String) => n.substring(n.indexOf('.'))
      assert(visible.map(ext).toSet == theirs.map(ext).toSet, "the session's codec")
      assert(footerKeys(root.resolve(s"v=$v").resolve(visible.head)) ==
        footerKeys(spark0.resolve(s"v=$v").resolve(theirs.head)))
      val (ours, spark1) = (spark.read.parquet(s"$root/v=$v"), spark.read.parquet(s"$spark0/v=$v"))
      assert(ours.schema == spark1.schema)
      assert(ours.collect().toSet == spark1.collect().toSet)
    }
    assert(spark.read.parquet(s"$root/v=1").schema == ChangeApply.Delta.schema)
    assert(partFiles(root, 0) > 1, "the base should span several parts")
  }

  test("an empty first batch (only deletes, or no partitions) writes one empty, readable part") {
    val deletes = batchDf(Seq((1L, "a", "9-a", true, null), (2L, "b", "9-b", true, null)))
    val noParts = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], deletes.schema)
    for ((b, i) <- Seq(deletes, noParts).zipWithIndex) {
      val root = tmp(s"msempty$i")
      assert(MergeSink.applyBatch(root.toString, b, 0))
      assert(partFiles(root, 0) == 1, entries(root, 0))
      val state = MergeSink.readState(spark, root.toString)
      assert(state.schema == StructType.fromDDL("id STRING, rev STRING, doc STRING"))
      assert(state.isEmpty)
      // the next batch is a delta over the empty base
      assert(MergeSink.applyBatch(root.toString, batchDf(b1), 1))
      assert(read(root) == Set(("a", "2-a", """{"v":11}"""), ("d", "1-d", """{"v":4}""")))
    }
    // bootstrap's empty state has no partitions at all
    val empty = MergeSink.readState(spark, tmp("msnone").toString)
    assert(empty.queryExecution.toRdd.getNumPartitions == 0)
    val boot = tmp("msemptyboot")
    assert(MergeSink.bootstrap(spark, boot.toString))
    assert(partFiles(boot, 0) == 1, entries(boot, 0))
    assert(read(boot).isEmpty)
  }

  test("an orphan version holding a torn part is never read and is replaced on re-apply") {
    val root = tmp("msorphan")
    first(root)
    assert(MergeSink.applyBatch(root.toString, batchDf(b1), 1))
    val before = read(root)
    val v = MergeSink.pointer(root.toString).get.version + 1
    // a crash mid-write: v=<v> holds the first half of a real part
    val part = root.resolve("v=1").resolve(entries(root, 1).find(_.startsWith("part-")).get)
    val bytes = Files.readAllBytes(part)
    val orphan = Files.createDirectories(root.resolve(s"v=$v"))
    val torn = orphan.resolve("part-00000-torn.snappy.parquet")
    Files.write(torn, bytes.take(bytes.length / 2))
    intercept[Exception](spark.read.parquet(orphan.toString).collect())
    assert(read(root) == before)
    assert(MergeSink.applyBatch(root.toString, batchDf(b2), 2))
    assert(!Files.exists(torn))
    assert(read(root) == after2)
    assert(delta(root, v) == Set(("c", "2-c", """{"v":33}""", false)))
  }
}
