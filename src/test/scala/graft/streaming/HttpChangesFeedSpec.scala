package graft.streaming

import java.net.InetSocketAddress
import java.nio.file.Files

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSpec

/** A stub CouchDB: db info + `_changes` paging over an in-memory change
  * list, serving the documented wire JSON. Records every Authorization
  * header so auth propagation is assertable. Zero-egress stand-in for a
  * real server — the client code under test is the production
  * [[HttpChangesFeed]], unchanged. */
final class StubCouch(db: String) {
  /** `conflictRevs`: open conflict branches, listed BEFORE `rev` so a
    * client that naively takes changes[0] gets caught. A null `id`
    * emits a row without the `id` field. */
  final case class Chg(seq: Long, id: String, rev: String,
      deleted: Boolean = false, doc: String = null,
      conflictRevs: Seq[String] = Nil)

  val changes = mutable.ArrayBuffer.empty[Chg]
  val authHeaders = mutable.ArrayBuffer.empty[String]
  /** Raw `since=` strings in arrival order. */
  val sinceLog = new java.util.concurrent.ConcurrentLinkedQueue[String]
  /** CouchDB 2/3 emulation: seqs as opaque `"N-tok"` strings; `since`
    * must be 0 or a full token — a bare interior ordinal gets 400. */
  @volatile var opaque = false
  /** Fault injection: the changes with these seqs are emitted with the
    * unorderable seq literal `"now"` (neither numeric nor `N-blob`). */
  @volatile var malformedSeqs = Set.empty[Long]
  @volatile var requests = 0

  private var server: HttpServer = _

  def tokenOf(n: Long): String = s"$n-g1AA$n"
  private def seqLit(n: Long): String =
    if (malformedSeqs.contains(n)) "\"now\""
    else if (opaque) "\"" + tokenOf(n) + "\"" else n.toString

  private def chgJson(c: Chg, includeDocs: Boolean): String = {
    val id = if (c.id == null) "" else s""","id":"${c.id}""""
    val del = if (c.deleted) ""","deleted":true""" else ""
    val d = if (includeDocs && c.doc != null) s""","doc":${c.doc}""" else ""
    val chgs = (c.conflictRevs :+ c.rev).map(r => s"""{"rev":"$r"}""").mkString(",")
    s"""{"seq":${seqLit(c.seq)}$id,"changes":[$chgs]$del$d}"""
  }

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      requests += 1
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .foreach(authHeaders += _)
      val path = ex.getRequestURI.getPath
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = query.split("&").filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
      val body: (Int, String) =
        if (path == s"/$db/_changes") {
          val sinceRaw = params.getOrElse("since", "0")
          sinceLog.add(sinceRaw)
          val sinceParsed: Option[Long] =
            if (!opaque) Some(sinceRaw.toLong)
            else if (sinceRaw == "0" || sinceRaw == "now") Some(0L)
            else {
              val i = sinceRaw.indexOf('-')
              if (i > 0 && sinceRaw.substring(0, i).forall(_.isDigit))
                Some(sinceRaw.substring(0, i).toLong)
              else None
            }
          sinceParsed match {
            case None => (400,
              """{"error":"bad_request","reason":"Malformed sequence supplied in 'since' parameter."}""")
            case Some(since) =>
              val limit = params.getOrElse("limit", "1000000").toLong
              val includeDocs = params.get("include_docs").contains("true")
              val page = changes.filter(_.seq > since).sortBy(_.seq).take(
                math.min(limit, Int.MaxValue.toLong).toInt)
              val last = page.lastOption.map(_.seq).getOrElse(since)
              (200, page.map(chgJson(_, includeDocs))
                .mkString("""{"results":[""", ",",
                  s"""],"last_seq":${seqLit(last)}}"""))
          }
        } else if (path == s"/$db") {
          val upd = changes.map(_.seq).maxOption.getOrElse(0L)
          (200, s"""{"db_name":"$db","update_seq":${seqLit(upd)},"doc_count":${
            changes.groupBy(_.id).count(!_._2.maxBy(_.seq).deleted)}}""")
        } else (404, s"""{"error":"not_found","reason":"no_db_file"}""")
      val bytes = body._2.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(body._1, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)
}

class HttpChangesFeedSpec extends SparkSpec {

  private def withCouch(db: String = "testdb")(f: (StubCouch, String) => Unit): Unit = {
    val couch = new StubCouch(db)
    val port = couch.start()
    try f(couch, s"http://127.0.0.1:$port")
    finally couch.stop()
  }

  private def seed(c: StubCouch, n: Int): Unit =
    (1 to n).foreach(i => c.changes +=
      c.Chg(i, s"d$i", "1-a", doc = s"""{"n":$i}"""))

  /** A numeric (1.x) seq: ordinal only, no resume token. */
  private def ord(n: Long): SeqTok = SeqTok(n, None)

  test("latest reads update_seq from the db info document") {
    withCouch() { (couch, url) =>
      seed(couch, 7)
      val feed = new HttpChangesFeed(url, "testdb")
      assert(feed.latest() == ord(7L))
    }
  }

  test("changes pages through the feed with include_docs (lib/index.js:50-53)") {
    withCouch() { (couch, url) =>
      seed(couch, 25)
      val feed = new HttpChangesFeed(url, "testdb", pageSize = 10)
      val got = feed.changes(SeqTok.Zero, ord(25)).toVector
      assert(got.map(_.seq) == (1L to 25L).toVector)
      assert(got.head.doc == """{"n":1}""")
      assert(got.head.rev == "1-a")
      assert(couch.requests >= 3) // 25 changes / 10 per page
    }
  }

  test("changes respects (since, until] bounds") {
    withCouch() { (couch, url) =>
      seed(couch, 20)
      val feed = new HttpChangesFeed(url, "testdb", pageSize = 6)
      assert(feed.changes(ord(5), ord(12)).map(_.seq).toVector ==
        (6L to 12L).toVector)
    }
  }

  test("nthAfter answers admission control from bare pages") {
    withCouch() { (couch, url) =>
      seed(couch, 30)
      val feed = new HttpChangesFeed(url, "testdb", pageSize = 8)
      assert(feed.nthAfter(SeqTok.Zero, 10, Long.MaxValue) == ord(10))
      assert(feed.nthAfter(ord(25), 100, Long.MaxValue) == ord(30)) // fewer than n
      assert(feed.nthAfter(SeqTok.Zero, 100, 17L) == ord(17))       // cap wins
      assert(feed.nthAfter(ord(30), 5, Long.MaxValue) == ord(30))   // nothing new
    }
  }

  test("a malformed seq is skipped, not fatal — paging and admission survive") {
    withCouch() { (couch, url) =>
      seed(couch, 10)
      couch.malformedSeqs = Set(5L) // row 5's seq arrives as "now"
      val feed = new HttpChangesFeed(url, "testdb", pageSize = 4)
      // the row with the unorderable seq is dropped (parseNode skip
      // semantics); everything around it pages through
      val got = feed.changes(SeqTok.Zero, ord(10)).toVector
      assert(got.map(_.seq) == Vector(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L))
      // admission control counts the well-formed rows and never throws
      val t = feed.nthAfter(SeqTok.Zero, 9, Long.MaxValue)
      assert(t.ord == 10L)
    }
  }

  test("a page of only unorderable seqs fails the range read instead of ending it") {
    withCouch() { (couch, url) =>
      seed(couch, 12)
      couch.malformedSeqs = (5L to 8L).toSet // the whole second page
      val feed = new HttpChangesFeed(url, "testdb", pageSize = 4)
      // ending at seq 4 would let the batch commit (0, 12] with 5-12
      // never read; the transient class makes the Supervisor retry
      intercept[java.io.IOException](
        feed.changes(SeqTok.Zero, ord(12)).toVector)
    }
  }

  test("a page of id-less rows advances the cursor and does not end the range") {
    withCouch() { (couch, url) =>
      seed(couch, 12)
      (5 to 8).foreach(i => couch.changes(i - 1) = couch.changes(i - 1).copy(id = null))
      val feed = new HttpChangesFeed(url, "testdb", pageSize = 4)
      val got = feed.changes(SeqTok.Zero, ord(12)).map(_.seq).toVector
      assert(got == (1L to 4L).toVector ++ (9L to 12L))
    }
  }

  test("missing db raises the fatal no_db_file class (lib/index.js:211-223)") {
    withCouch() { (_, url) =>
      val feed = new HttpChangesFeed(url, "nope")
      intercept[FeedGoneException](feed.latest())
    }
  }

  test("basic auth header is sent when credentials are configured") {
    withCouch() { (couch, url) =>
      seed(couch, 2)
      val feed = new HttpChangesFeed(url, "testdb",
        user = Some("admin"), password = Some("s3cret"))
      feed.latest()
      val expected = "Basic " + java.util.Base64.getEncoder
        .encodeToString("admin:s3cret".getBytes("UTF-8"))
      assert(couch.authHeaders.nonEmpty && couch.authHeaders.forall(_ == expected))
    }
  }

  // ---- conformance edges against CouchStubServer's fault injection
  // (round-4 task 3): 429 throttling, slow-drip timeouts, mid-batch
  // disconnects. These use the main-source stub because that is where
  // the faults live; `lines(i)` must carry seq == i+1.

  private def denseLines(n: Int): IndexedSeq[String] =
    (1 to n).map(i =>
      s"""{"seq":$i,"id":"d$i","changes":[{"rev":"1-a"}],"doc":{"n":$i}}""")

  private def withFaultCouch(n: Int)(f: (CouchStubServer, String) => Unit): Unit = {
    val stub = new CouchStubServer("fdb", denseLines(n))
    val port = stub.start()
    try f(stub, s"http://127.0.0.1:$port")
    finally stub.stop()
  }

  test("429 with Retry-After is retried in-client and recovers transparently") {
    withFaultCouch(5) { (stub, url) =>
      stub.rateLimitFirst = 2
      val feed = new HttpChangesFeed(url, "fdb")
      assert(feed.latest() == ord(5)) // succeeded despite two 429s
      assert(stub.rateLimitedCount == 2L)
    }
  }

  test("429 beyond the retry budget surfaces as the transient class (IOException)") {
    withFaultCouch(5) { (stub, url) =>
      stub.rateLimitFirst = 100
      val feed = new HttpChangesFeed(url, "fdb", maxRetries = 2)
      // IOException (FeedGone is NOT an IOException): Supervisor backs
      // off instead of halting the feed
      intercept[java.io.IOException](feed.latest())
      assert(stub.rateLimitedCount == 3L) // initial try + 2 retries
    }
  }

  test("slow-drip server trips the inactivity timeout (transient, not fatal)") {
    withFaultCouch(3) { (stub, url) =>
      stub.slowMs = 2000L
      val feed = new HttpChangesFeed(url, "fdb", timeoutMs = 200L)
      val e = intercept[Exception](feed.latest())
      assert(e.isInstanceOf[java.net.http.HttpTimeoutException])
      assert(!e.isInstanceOf[FeedGoneException])
    }
  }

  test("mid-batch disconnect: page fails, resume from last consumed seq loses nothing") {
    withFaultCouch(20) { (stub, url) =>
      stub.dropChangesRequest = 2 // cut the SECOND _changes page mid-body
      val feed = new HttpChangesFeed(url, "fdb", pageSize = 5)
      val it = feed.changes(SeqTok.Zero, ord(20))
      val first = it.take(5).toVector // page 1 intact
      assert(first.map(_.seq) == (1L to 5L).toVector)
      intercept[java.io.IOException](it.hasNext) // page 2 truncated
      // the consumer committed through seq 5; a restarted reader asks
      // for since=5 and the fault (one-shot, like a real blip) is gone
      val resumed = feed.changes(ord(5), ord(20)).map(_.seq).toVector
      assert(resumed == (6L to 20L).toVector)
      assert(stub.changesSinceLog.toArray.toSeq.contains(5L))
    }
  }

  test("e2e: mid-batch drop -> query fails -> restart resumes from committed offset") {
    withFaultCouch(20) { (stub, url) =>
      val store = Files.createTempDirectory("drop-store").toString
      val ckpt = Files.createTempDirectory("drop-ckpt").toString
      def run(): Unit = {
        val q = spark.readStream.format("couch-changes")
          .option("url", url).option("db", "fdb")
          .option("maxChangesPerTrigger", "5")
          .option("numPartitions", "2")
          .load()
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            MergeSink.applyBatch(store, batch, id); ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        ()
      }
      // arm the cut to land a few _changes requests in (past batch 1)
      stub.dropChangesRequest = 3
      val failed = try { run(); false } catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => true
      }
      assert(failed, "the armed disconnect should fail the first run")
      run() // fault is one-shot: the restart must complete
      val state = MergeSink.readState(spark, store).orderBy("id").collect()
      // exactly-once: every doc present once, none lost, none duplicated
      assert(state.map(_.getString(0)).toSeq == (1 to 20).map(i => s"d$i")
        .sorted)
    }
  }

  test("e2e: couch-changes source over HTTP into the merge sink") {
    withCouch() { (couch, url) =>
      seed(couch, 12)
      couch.changes += couch.Chg(13, "d3", "2-b", doc = """{"n":333}""")
      couch.changes += couch.Chg(14, "d4", "2-c", deleted = true)
      val store = Files.createTempDirectory("http-store").toString
      val ckpt = Files.createTempDirectory("http-ckpt").toString
      val q = spark.readStream.format("couch-changes")
        .option("url", url).option("db", "testdb")
        .option("maxChangesPerTrigger", "5")
        .option("numPartitions", "3")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          MergeSink.applyBatch(store, batch, id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val state = MergeSink.readState(spark, store).orderBy("id").collect()
      // d4 deleted; d3 updated to 2-b; 12 seeded docs minus d4 = 11 live
      assert(state.length == 11)
      val d3 = state.find(_.getString(0) == "d3").get
      assert(d3.getString(1) == "2-b" && d3.getString(2) == """{"n":333}""")
    }
  }

  // ---- CouchDB 2/3 opaque string seqs ("N-blob"): ordinal prefix for
  // ordering, full token for resume. The stub REJECTS bare interior
  // ordinals (400) exactly as a real 2/3 does, so every green test
  // below proves full-token cursors end-to-end.

  private def withOpaqueCouch(f: (StubCouch, String) => Unit): Unit =
    withCouch() { (couch, url) => couch.opaque = true; f(couch, url) }

  test("opaque seqs: latest parses the ordinal and keeps the token") {
    withOpaqueCouch { (couch, url) =>
      seed(couch, 7)
      val feed = new HttpChangesFeed(url, "testdb")
      val t = feed.latest()
      assert(t.ord == 7L && t.token.contains(couch.tokenOf(7)))
    }
  }

  test("opaque seqs: changes pages with full-token cursors, token-exact stop") {
    withOpaqueCouch { (couch, url) =>
      seed(couch, 25)
      val feed = new HttpChangesFeed(url, "testdb", pageSize = 10)
      val until = SeqTok(18L, Some(couch.tokenOf(18)))
      val got = feed.changes(SeqTok.Zero, until).toVector
      assert(got.map(_.seq) == (1L to 18L).toVector)
      assert(got.forall(_.doc != null))
      // every non-initial cursor the server saw was a full token
      val raws = couch.sinceLog.toArray(Array.empty[String]).toSeq
        .filter(_ != "0")
      assert(raws.nonEmpty && raws.forall(_.contains("-g1AA")),
        s"bare ordinal leaked: $raws")
      // resume from a token boundary: strictly after, nothing repeated
      val rest = feed.changes(
        SeqTok(18L, Some(couch.tokenOf(18))),
        SeqTok(25L, Some(couch.tokenOf(25)))).toVector
      assert(rest.map(_.seq) == (19L to 25L).toVector)
    }
  }

  test("opaque seqs: nthAfter pages bare tokens for admission control") {
    withOpaqueCouch { (couch, url) =>
      seed(couch, 30)
      val feed = new HttpChangesFeed(url, "testdb", pageSize = 10)
      val t10 = feed.nthAfter(SeqTok.Zero, 10, Long.MaxValue)
      assert(t10.ord == 10L && t10.token.contains(couch.tokenOf(10)))
      val more = feed.nthAfter(t10, 100, Long.MaxValue)
      assert(more.ord == 30L) // fewer than n available
      val capped = feed.nthAfter(SeqTok.Zero, 100, 17L)
      assert(capped.ord == 17L && capped.token.contains(couch.tokenOf(17)))
      val none = feed.nthAfter(more, 5, Long.MaxValue)
      assert(none == more) // nothing new: cursor unchanged
    }
  }

  test("opaque seqs e2e: checkpointed pipeline resumes across restart by token") {
    withOpaqueCouch { (couch, url) =>
      seed(couch, 12)
      val store = Files.createTempDirectory("opq-store").toString
      val ckpt = Files.createTempDirectory("opq-ckpt").toString
      def run(): Unit = {
        val q = spark.readStream.format("couch-changes")
          .option("url", url).option("db", "testdb")
          .option("maxChangesPerTrigger", "5")
          .load()
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            MergeSink.applyBatch(store, batch, id); ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        ()
      }
      run()
      assert(MergeSink.readState(spark, store).count() == 12)
      // restart with MORE changes: the committed offset's token resumes
      // the feed (a bare-ordinal since would 400 and fail the query)
      couch.changes += couch.Chg(13, "d3", "2-b", doc = """{"n":333}""")
      couch.changes += couch.Chg(14, "d99", "1-z", doc = """{"n":99}""")
      run()
      val state = MergeSink.readState(spark, store).orderBy("id").collect()
      assert(state.length == 13) // 12 docs + d99; d3 updated in place
      val d3 = state.find(_.getString(0) == "d3").get
      assert(d3.getString(1) == "2-b")
      val raws = couch.sinceLog.toArray(Array.empty[String]).toSeq
      assert(raws.filter(_ != "0").forall(_.contains("-g1AA")),
        s"bare ordinal leaked to the server: $raws")
    }
  }

  test("multi-rev changes parse to the winning rev, not changes[0]") {
    withCouch() { (couch, url) =>
      // conflict branches listed BEFORE the winner in the changes array;
      // winner = highest ordinal, tie broken by highest suffix
      couch.changes += couch.Chg(1, "a", "3-zzz", doc = """{"v":1}""",
        conflictRevs = Seq("3-aaa", "2-old"))
      couch.changes += couch.Chg(2, "b", "1-only", doc = """{"v":2}""")
      val feed = new HttpChangesFeed(url, "testdb")
      val got = feed.changes(SeqTok.Zero, ord(2)).toVector
      assert(got.map(e => (e.id, e.rev)) ==
        Vector(("a", "3-zzz"), ("b", "1-only")))
    }
  }

  test("opaque seqs: a bare interior ordinal is rejected by the stub (guard works)") {
    withOpaqueCouch { (couch, url) =>
      seed(couch, 5)
      val feed = new HttpChangesFeed(url, "testdb", maxRetries = 0)
      // ordinal bounds send since=3 — the 2/3 server 400s
      intercept[java.io.IOException](feed.changes(ord(3), ord(5)).toVector)
    }
  }

  test("seeded property: changes and nthAfter agree with the feed on numeric and opaque seqs") {
    val rnd = new scala.util.Random(20261017L)
    for (opaque <- Seq(false, true)) withCouch() { (couch, url) =>
      couch.opaque = opaque
      // sparse seqs: gaps in the ordinals must not shift any answer
      val seqs = Iterator.iterate(0L)(_ + 1 + rnd.nextInt(3)).drop(1)
        .take(40).toVector
      seqs.foreach(q => couch.changes += couch.Chg(q, s"d$q", "1-a",
        doc = s"""{"n":$q}"""))
      def tok(q: Long): SeqTok =
        if (q == 0L) SeqTok.Zero
        else SeqTok(q, if (opaque) Some(couch.tokenOf(q)) else None)
      val bounds = 0L +: seqs
      for (_ <- 1 to 25) {
        val feed = new HttpChangesFeed(url, "testdb", pageSize = 1 + rnd.nextInt(12))
        val i = rnd.nextInt(bounds.length)
        val j = i + rnd.nextInt(bounds.length - i)
        val (since, until) = (bounds(i), bounds(j))
        val got = feed.changes(tok(since), tok(until)).map(_.seq).toVector
        assert(got == seqs.filter(q => q > since && q <= until),
          s"opaque=$opaque ($since, $until]")
        val n = rnd.nextInt(20).toLong
        val cap = bounds(rnd.nextInt(bounds.length))
        val expect = seqs.filter(q => q > since && q <= cap).take(n.toInt)
          .lastOption.getOrElse(since)
        assert(feed.nthAfter(tok(since), n, cap) == tok(expect),
          s"opaque=$opaque since=$since n=$n cap=$cap")
      }
    }
  }
}

/** FileChangesFeed admission/summary behavior after the O(files)
  * driver-index rework (round-1 verdict #4). */
class FileFeedSummarySpec extends SparkSpec {

  private def writeFeed(dir: java.nio.file.Path, name: String,
      seqs: Seq[Long]): Unit =
    Files.write(dir.resolve(name), seqs.map(s =>
      s"""{"seq":$s,"id":"d$s","changes":[{"rev":"1-a"}],"doc":{"n":$s}}""")
      .mkString("\n").getBytes("UTF-8"))

  /** The ordinal of the `n`th change after `since` (file seqs carry no
    * token). */
  private def nth(feed: FileChangesFeed, since: Long, n: Long, cap: Long): Long =
    feed.nthAfter(SeqTok(since, None), n, cap).ord

  test("nthAfter walks file summaries and scans only the boundary file") {
    val dir = Files.createTempDirectory("ffs")
    writeFeed(dir, "a.jsonl", 1L to 10L)
    writeFeed(dir, "b.jsonl", 11L to 20L)
    writeFeed(dir, "c.jsonl", 21L to 30L)
    val feed = new FileChangesFeed(dir.toString)
    assert(feed.latest() == SeqTok(30L, None))
    assert(nth(feed, 0, 10, Long.MaxValue) == 10L)  // whole file a
    assert(nth(feed, 0, 15, Long.MaxValue) == 15L)  // boundary in b
    assert(nth(feed, 12, 5, Long.MaxValue) == 17L)  // since inside b
    assert(nth(feed, 0, 100, 23L) == 23L)           // cap inside c
    assert(nth(feed, 30, 5, Long.MaxValue) == 30L)  // nothing new
    assert(nth(feed, 5, 0, Long.MaxValue) == 5L)    // n=0 no-op
  }

  test("unsorted seqs within a file still answer exactly") {
    val dir = Files.createTempDirectory("ffs2")
    writeFeed(dir, "a.jsonl", Seq(3L, 1L, 5L, 2L, 4L))
    val feed = new FileChangesFeed(dir.toString)
    assert(feed.latest() == SeqTok(5L, None))
    assert(nth(feed, 0, 3, Long.MaxValue) == 3L)
    assert(nth(feed, 2, 2, Long.MaxValue) == 4L)
  }
}
