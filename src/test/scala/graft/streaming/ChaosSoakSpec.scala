package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.{CountCheck, SparkSpec}

/** ONE long-lived soak that drives churn + BOTH daemon-README fault
  * walks against a single supervised feed and checks the production
  * invariants at every phase boundary — the walks DaemonChaosSpec
  * covers piecewise, composed into the scenario an operator actually
  * lives through (daemon-README.md:185-301):
  *
  *   create wave → converge
  *   → STORE dies mid-stream (daemon-README.md:188-249) while an
  *     update/delete wave lands on the live couch → operator fixes the
  *     store → finder restarts → catch-up, no loss, no duplicates
  *   → COUCH dies (daemon-README.md:254-301) while writes are pending
  *     → restarts at the same address WITH its database (stateful stub
  *     reseeded from its own feed snapshot) → another create wave →
  *     catch-up
  *
  * Invariants asserted throughout:
  *   - the nagios count check (`nagios-check_couch_postgres_count:22-47`
  *     via [[graft.CountCheck]]) verdicts OK (difference 0) at every
  *     convergence point;
  *   - checkpoint `since` ([[SinceCheckpoints.lastSince]] — the
  *     reference's since_checkpoints row) is MONOTONE across faults and
  *     ends at the feed's final seq;
  *   - store rev chains advance exactly once per accepted write
  *     (deterministic `<ord>-md5(id:ord)` revs make this checkable);
  *   - no fault is ever classified fatal (both walks are retryable).
  */
class ChaosSoakSpec extends SparkSpec {

  private val fastTrigger = Trigger.ProcessingTime("100 milliseconds")
  private val noBackoff = RestartBackoff(1L, 2L)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def await(deadlineMs: Long = 60000L)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + deadlineMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < end) {
      Thread.sleep(200); ok = cond
    }
    ok
  }

  /** POST one wave of docs over real HTTP, requiring zero conflicts. */
  private def post(url: String, docs: Seq[String]): Unit = {
    import spark.implicits._
    val df = docs.toDF("doc")
      .selectExpr("get_json_object(doc, '$._id') AS id", "doc")
    val res = BulkDocsSink.postPerDoc(
      BulkDocsSink.chunkedByPartition(df, "id", "doc", chunkSize = 50),
      url, new JdkHttpPoster()).localCheckpoint()
    val bad = res.where(!$"ok").count()
    assert(bad == 0L, s"wave reported $bad conflicts")
  }

  test("soak: churn + store death + couch death under one supervised feed, nagios-clean") {
    val sup = new Supervisor(spark, trigger = fastTrigger, backoff = noBackoff)
    val db = "soak-db"
    val stub1 = new CouchStubServer(db, IndexedSeq.empty, stateful = true)
    val port = stub1.start()
    def url = s"http://127.0.0.1:$port/$db"
    val base = Files.createTempDirectory("soak")
    val cfg = FeedConfig(
      name = db, // mangles to soak_db
      feedPath = url,
      storeRoot = base.resolve("store").toString,
      checkpoint = base.resolve("ckpt").toString)
    val feedName = FeedConfig.mangle(db)
    def since(): Long =
      SinceCheckpoints.lastSince(cfg.checkpoint).getOrElse(0L)
    def nagios(): CountCheck.Result =
      CountCheck.check(spark, url, cfg.storeRoot)
    def storeIds(): Seq[String] = MergeSink.readState(spark, cfg.storeRoot)
      .select("id").collect().map(_.getString(0)).toSeq

    var activeStub = stub1
    try {
      // ---- phase 1: create wave, follower converges
      sup.reconcile(Seq(cfg))
      post(url, (0 until 120).map(i =>
        s"""{"_id":"d$i","v":1,"w":"x$i"}"""))
      assert(await() { val r = nagios(); r.difference == 0 && r.storeCount == 120L },
        s"phase1 did not converge: ${nagios()}")
      assert(CountCheck.verdict(nagios(), 10L) == 0)
      val since1 = since()
      assert(since1 >= 120L, s"checkpoint should have advanced, since=$since1")

      // ---- phase 2: the STORE dies mid-stream. The pointer-swap area
      // becomes unwritable (a directory squats on _CURRENT.tmp — the
      // "postgres is down" analog from daemon-README.md:188-249), so
      // every merge batch fails AFTER the couch accepted the writes.
      Files.createDirectories(
        java.nio.file.Paths.get(cfg.storeRoot, "_CURRENT.tmp"))
      // churn lands on the LIVE couch while the store is down: update
      // d0,d3,... (%3==0, skipping %5==0), delete d5,d10,... (%5==0).
      // After the create wave every doc's rev is deterministic 1-md5(id:1).
      val upd = (0 until 120).filter(i => i % 3 == 0 && i % 5 != 0).map(i =>
        s"""{"_id":"d$i","_rev":"1-${md5hex(s"d$i:1")}","v":2,"w":"x$i"}""")
      val del = (0 until 120).filter(_ % 5 == 0).map(i =>
        s"""{"_id":"d$i","_rev":"1-${md5hex(s"d$i:1")}","_deleted":true}""")
      post(url, upd ++ del)
      // the follower must die on the broken store and be classified
      // TRANSIENT (store death is retryable), never fatal
      assert(await() {
        sup.reconcile(Seq(cfg))
        sup.failureCounts.getOrElse(feedName, 0) >= 1
      }, "store death never surfaced as a transient failure")
      assert(sup.haltedFeeds.isEmpty,
        s"store death must back off, not halt: ${sup.haltedFeeds}")

      // ---- phase 3: operator fixes the store; finder brings the feed
      // back; everything the couch accepted during the outage lands.
      Files.delete(java.nio.file.Paths.get(cfg.storeRoot, "_CURRENT.tmp"))
      // the wave's chunks are POSTed from parallel tasks, so deletes can
      // take lower seqs than updates and the count can converge a batch
      // before the content does: wait until every update has landed too
      def revs(): Map[String, String] = MergeSink.readState(spark, cfg.storeRoot)
        .select("id", "rev").collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val updated = (0 until 120).filter(i => i % 3 == 0 && i % 5 != 0)
      assert(await() {
        sup.reconcile(Seq(cfg))
        nagios().difference == 0 && {
          val st = revs()
          updated.forall(i => st.get(s"d$i").contains(s"2-${md5hex(s"d$i:2")}"))
        }
      }, s"phase3 did not converge: ${nagios()}")
      val since2 = since()
      assert(since2 >= since1, s"checkpoint regressed: $since1 -> $since2")
      // updated docs carry generation-2 revs; deleted docs are gone
      val st3 = revs()
      assert(st3.contains("d3") && st3("d3") == s"2-${md5hex("d3:2")}")
      assert(!st3.contains("d5") && !st3.contains("d0"),
        "deletes (%5==0, overlap included) must drop the rows")

      // ---- phase 4: the COUCH dies (daemon-README.md:254-301) and
      // comes back at the SAME address with its database intact.
      val snapshot = activeStub.feedSnapshot
      activeStub.stop()
      assert(await() {
        sup.reconcile(Seq(cfg))
        !sup.activeFeeds.contains(feedName) &&
          sup.failureCounts.getOrElse(feedName, 0) >= 1
      }, "couch death never surfaced as a transient failure")
      assert(sup.haltedFeeds.isEmpty,
        s"connection refused must back off, not halt: ${sup.haltedFeeds}")
      val stub2 = new CouchStubServer(db, snapshot, port = port, stateful = true)
      assert(await(15000L) { scala.util.Try(stub2.start()).isSuccess },
        s"could not rebind stub on port $port")
      activeStub = stub2
      // another create wave against the restarted couch: rev chains must
      // continue from the persisted state (a fresh d3 create conflicts;
      // new ids insert at generation 1)
      post(url, (1000 until 1040).map(i => s"""{"_id":"d$i","v":1}"""))
      assert(await() {
        sup.reconcile(Seq(cfg))
        nagios().difference == 0
      }, s"phase4 did not converge: ${nagios()}")

      // ---- final invariants
      val r = nagios()
      assert(CountCheck.verdict(r, 10L) == 0, s"nagios not OK: $r")
      val ids = storeIds()
      assert(ids.distinct.size == ids.size, "duplicate ids after the soak")
      assert(ids.size == 120 - 24 + 40, // 120 creates - 24 deletes + 40 new
        s"unexpected live-doc count ${ids.size}")
      val since3 = since()
      assert(since3 >= since2, s"checkpoint regressed: $since2 -> $since3")
      // the checkpoint ends at the feed's final seq: every change line
      // the couch ever emitted (creates + updates + deletes + recreates)
      assert(since3 == activeStub.feedSnapshot.length.toLong,
        s"since=$since3 != feed length ${activeStub.feedSnapshot.length}")
      // restart continuity: a doc updated BEFORE the couch crash still
      // carries its generation-2 rev in the restarted server's view
      val st = MergeSink.readState(spark, cfg.storeRoot)
        .select("id", "rev").collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(st("d3") == s"2-${md5hex("d3:2")}")
      assert(st("d1000") == s"1-${md5hex("d1000:1")}")
    } finally { sup.stopAll(); activeStub.stop() }
  }
}
