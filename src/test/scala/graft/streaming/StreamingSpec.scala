package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end streaming specs: `_changes` source → merge sink, resume
  * from checkpoint, admission control, since_checkpoints compat —
  * the reference's single-feed lifecycle (bin/index.js) and chaos
  * walkthroughs (daemon-README.md:47-183) as deterministic tests.
  */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def line(seq: Long, id: String, rev: String,
      deleted: Boolean = false, doc: String = null): String = {
    val d = if (deleted) ""","deleted":true""" else ""
    val dc = if (doc != null) s""","doc":$doc""" else ""
    s"""{"seq":$seq,"id":"$id","changes":[{"rev":"$rev"}]$d$dc}"""
  }

  private def writeFeed(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("\n").getBytes("UTF-8"))

  test("source reads a feed batch with correct envelope") {
    val feed = tmp("feed")
    writeFeed(feed, "f.jsonl", Seq(
      line(1, "a", "1-x", doc = """{"v":1}"""),
      line(2, "b", "1-y", doc = """{"v":2}"""),
      line(3, "a", "2-z", doc = """{"v":3}"""),
      line(4, "b", "2-w", deleted = true)))
    val store = tmp("store")
    val ckpt = tmp("ckpt")
    ChangesPipeline.runOnce(spark, feed.toString,
      store.toString, ckpt.toString, name = "t-envelope")
    val state = MergeSink.readState(spark, store.toString)
      .orderBy("id").collect()
    assert(state.map(_.getString(0)).toSeq == Seq("a"))
    assert(state.head.getString(1) == "2-z")
    assert(state.head.getString(2) == """{"v":3}""")
  }

  test("admission control: maxChangesPerTrigger splits into micro-batches") {
    val feed = tmp("feed2")
    writeFeed(feed, "f.jsonl", (1 to 20).map(i =>
      line(i, s"d$i", "1-a", doc = s"""{"n":$i}""")))
    val store = tmp("store2")
    val ckpt = tmp("ckpt2")
    ChangesPipeline.runOnce(spark, feed.toString,
      store.toString, ckpt.toString, name = "t-admission",
      maxChangesPerTrigger = Some(7))
    // 20 changes / 7 per trigger => at least 3 applied batches; all live
    assert(MergeSink.readState(spark, store.toString).count() == 20)
    val (_, lastBatch) = MergeSink.currentVersion(store.toString).get
    assert(lastBatch >= 2)
  }

  test("resume from checkpoint: only new changes applied, rev echo NOOPs") {
    val feed = tmp("feed3")
    writeFeed(feed, "f.jsonl", Seq(
      line(1, "a", "1-x", doc = """{"v":1}"""),
      line(2, "b", "1-y", doc = """{"v":2}""")))
    val store = tmp("store3")
    val ckpt = tmp("ckpt3")
    ChangesPipeline.runOnce(spark, feed.toString,
      store.toString, ckpt.toString, name = "t-resume1")
    val v1 = MergeSink.currentVersion(store.toString).get._1

    // append: an echo of a's current rev (must NOOP), an update of b,
    // and a brand-new doc
    writeFeed(feed, "g.jsonl", Seq(
      line(3, "a", "1-x", doc = """{"v":1}"""),
      line(4, "b", "2-y2", doc = """{"v":22}"""),
      line(5, "c", "1-c", doc = """{"v":3}""")))
    ChangesPipeline.runOnce(spark, feed.toString,
      store.toString, ckpt.toString, name = "t-resume2")

    val state = MergeSink.readState(spark, store.toString)
      .orderBy("id").collect()
    assert(state.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "1-x"), ("b", "2-y2"), ("c", "1-c")))
    assert(MergeSink.currentVersion(store.toString).get._1 > v1)
    // since_checkpoints compat view reflects the committed high-water seq
    assert(SinceCheckpoints.lastSince(ckpt.toString).contains(5L))
  }

  test("a second query with a fresh checkpoint applies its first batches to an existing store") {
    val store = tmp("store-q")
    def follow(tag: String, rev: String): Unit = {
      val feed = tmp(s"feed-$tag")
      writeFeed(feed, "f.jsonl", (1 to 6).map(i =>
        line(i, s"d$i", rev, doc = s"""{"r":"$rev"}""")))
      ChangesPipeline.runOnce(spark, feed.toString, store.toString,
        tmp(s"ckpt-$tag").toString, name = s"t-$tag",
        maxChangesPerTrigger = Some(2))
    }
    follow("first", "1-a") // batches 0..2
    follow("second", "2-b") // batches 0..2 again, of another query
    val revs = MergeSink.readState(spark, store.toString)
      .select("rev").collect().map(_.getString(0)).toSeq
    assert(revs == Seq.fill(6)("2-b"))
  }

  test("a restart from the same checkpoint NOOPs the batch it replays") {
    val feed = tmp("feed-r")
    writeFeed(feed, "f.jsonl", (1 to 4).map(i =>
      line(i, s"d$i", "1-a", doc = s"""{"n":$i}""")))
    val store = tmp("store-r")
    val ckpt = tmp("ckpt-r")
    def run(name: String): Unit = ChangesPipeline.runOnce(spark,
      feed.toString, store.toString, ckpt.toString, name = name,
      maxChangesPerTrigger = Some(2))
    run("t-replay1")
    val before = MergeSink.currentVersion(store.toString)
    assert(before.exists(_._2 == 1L))
    // forget that batch 1 committed: the restart runs it again
    Seq("1", ".1.crc").foreach(f =>
      Files.deleteIfExists(ckpt.resolve("commits").resolve(f)))
    run("t-replay2")
    assert(MergeSink.currentVersion(store.toString) == before)
    assert(MergeSink.readState(spark, store.toString).count() == 4)
  }

  test("since_checkpoints compat view shape (README.md:273-281)") {
    val row = SinceCheckpoints.view(spark,
      Map("my_feed" -> "/nonexistent-ckpt"), Set("my_feed")).collect().head
    assert(row.getString(0) == "my_feed")
    assert(row.getLong(1) == 0L)
    assert(row.getBoolean(2))
  }

  test("merge sink batch replay is a NOOP (exactly-once effect)") {
    import spark.implicits._
    val store = tmp("store4")
    val batch = Seq((1L, "x", "1-a", false, """{"v":1}"""))
      .toDF("seq", "id", "rev", "deleted", "doc")
    assert(MergeSink.applyBatch(store.toString, batch, batchId = 0))
    assert(!MergeSink.applyBatch(store.toString, batch, batchId = 0))
    assert(MergeSink.readState(spark, store.toString).count() == 1)
  }

  test("type-excluded docs are not inserted (lib/index.js:131-146)") {
    import spark.implicits._
    val store = tmp("store5")
    val batch = Seq(
      (1L, "keep", "1-a", false, """{"type":"Article","v":1}"""),
      (2L, "skip", "1-b", false, """{"type":"Harms::AttachmentAccessingLogXXXX"}"""))
      .toDF("seq", "id", "rev", "deleted", "doc")
    MergeSink.applyBatch(store.toString, batch, 0,
      excludeTypes = Set("Harms::AttachmentAccessingLogXXXX"))
    val ids = MergeSink.readState(spark, store.toString)
      .select("id").as[String].collect().toSeq
    assert(ids == Seq("keep"))
  }
}

class BulkDocsSpec extends SparkSpec {

  test("post spools every chunk exactly once with _bulk_docs shape") {
    import spark.implicits._
    val spool = Files.createTempDirectory("spool")
    val docs = (1 to 70).map(i => (f"id$i%03d", s"""{"n":$i}"""))
      .toDF("id", "doc").coalesce(1)
    val chunks = BulkDocsSink.chunkedByPartition(docs, "id", "doc", chunkSize = 50)
    val statuses = BulkDocsSink.post(chunks, "http://couch/db",
      new SpoolingPoster(spool.toString)).collect()
    assert(statuses.length == 2)
    assert(statuses.forall(_.getInt(2) == 201))
    val files = spool.toFile.listFiles().sortBy(_.getName)
    assert(files.length == 2)
    val bodies = files.map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
    assert(bodies.forall(_.contains(""""all_or_nothing":true""")))
    assert(bodies.forall(_.contains("/_bulk_docs")))
  }

  test("partition-local chunking covers all docs without a global sort") {
    import spark.implicits._
    val docs = (1 to 200).map(i => (f"id$i%03d", s"""{"n":$i}"""))
      .toDF("id", "doc").repartition(4)
    val chunks = BulkDocsSink.chunkedByPartition(docs, "id", "doc", 50)
    assert(chunks.agg(sum("n_docs")).collect().head.getLong(0) == 200L)
    assert(chunks.filter(col("n_docs") > 50).count() == 0)
  }

  test("putEach posts one PUT per doc (S4 trigger semantics)") {
    import spark.implicits._
    val spool = Files.createTempDirectory("spool2")
    val docs = Seq(("a", """{"v":1}"""), ("b", """{"v":2}"""))
      .toDF("id", "doc")
    val res = BulkDocsSink.putEach(docs, "id", "doc", "http://couch/db",
      new SpoolingPoster(spool.toString)).collect()
    assert(res.length == 2)
    assert(spool.toFile.listFiles().length == 2)
  }
}

class SupervisorSpec extends SparkSpec {

  private def feedCfg(name: String, n: Int): FeedConfig = {
    val dir = Files.createTempDirectory(s"sup-$name")
    val lines = (1 to n).map(i =>
      s"""{"seq":$i,"id":"$name-$i","changes":[{"rev":"1-a"}],"doc":{"n":$i}}""")
    Files.write(dir.resolve("f.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    FeedConfig(
      name = name,
      feedPath = dir.toString,
      storeRoot = Files.createTempDirectory(s"store-$name").toString,
      checkpoint = Files.createTempDirectory(s"ckpt-$name").toString)
  }

  test("finder starts enabled feeds, reaper stops disabled (T7)") {
    val sup = new Supervisor(spark,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    val f1 = feedCfg("feed-one", 5)
    val f2 = feedCfg("feed-two", 3)
    try {
      val (started, _) = sup.reconcile(Seq(f1, f2))
      assert(started == Seq("feed_one", "feed_two")) // name mangling F10
      // second pass is idempotent
      assert(sup.reconcile(Seq(f1, f2))._1.isEmpty)

      // wait until both stores converge
      val deadline = System.currentTimeMillis() + 30000
      def counts(): (Long, Long) = (
        MergeSink.readState(spark, f1.storeRoot).count(),
        MergeSink.readState(spark, f2.storeRoot).count())
      while (counts() != ((5L, 3L)) && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(counts() == ((5L, 3L)))

      // disable feed-two: reaper stops it
      val (_, stopped) = sup.reconcile(Seq(f1, f2.copy(enabled = false)))
      assert(stopped == Seq("feed_two"))
      assert(sup.activeFeeds == Set("feed_one"))

      val json = sup.statusJson()
      assert(json.contains(""""feed":"feed_one""""))
      assert(json.contains(""""alive":true"""))
    } finally sup.stopAll()
  }

  test("status server serves /_status and /_finder (T8)") {
    val sup = new Supervisor(spark)
    val srv = new StatusServer(sup, () => Seq.empty, port = 0)
    try {
      val port = srv.start()
      def get(path: String): String = {
        val c = java.net.http.HttpClient.newHttpClient()
        c.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      }
      assert(get("/_status") == "[]")
      assert(get("/_finder") == """{"started":[],"stopped":[]}""")
      assert(get("/_watchdog") ==
        """{"reaped":[],"newly_halted":[],"halted":{}}""")
    } finally { srv.stop(); sup.stopAll() }
  }

  test("/_status reports the configured resume point before first progress") {
    val sup = new Supervisor(spark,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val f = feedCfg("since-feed", 0).copy(since = 7L) // empty-tail feed
    try {
      sup.reconcile(Seq(f))
      // whether or not the (empty) first batch has progressed, the
      // reported since is the configured resume point, never 0
      val st = sup.status().find(_.feed == "since_feed")
      assert(st.forall(_.since == 7L))
    } finally sup.stopAll()
  }
}
