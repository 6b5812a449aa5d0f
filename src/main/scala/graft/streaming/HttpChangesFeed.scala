package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper

import graft.cdc.ChangeEvent

/** The real CouchDB `_changes` HTTP client (S1 completion).
  *
  * The reference holds one long-lived socket via `follow.Feed({db,
  * include_docs: true, since, inactivity_ms: 30000})` with basic-auth
  * credentials in the db URL (reference lib/index.js:50-53, 243-290).
  * The micro-batch analog pages the same endpoint statelessly:
  *
  *   GET {base}/{db}/_changes?include_docs=true&since=S&limit=M
  *   GET {base}/{db}                      -> {"update_seq": ...}
  *
  * `S` is [[SeqTok.sinceParam]]: the bare number on a 1.x server, the
  * full opaque token on CouchDB 2/3 — so one pager and one admission
  * loop serve both.
  *
  * Every request carries `Authorization: Basic ...` when credentials
  * are configured and a per-request timeout standing in for the feed's
  * inactivity watchdog (a stalled server surfaces as
  * `HttpTimeoutException`, which the [[Supervisor]] classifies as
  * transient — restart with backoff, like the reference's ECONNREFUSED
  * path). A missing database (HTTP 404, CouchDB's `no_db_file`) throws
  * [[FeedGoneException]], the fatal class the reference stops the feed
  * for (lib/index.js:211-223).
  *
  * SCALE: the driver only ever asks for bounds ([[latest]]) and the
  * admission-control cap ([[nthAfter]], pages of bare seqs — no docs);
  * executors pull their own seq ranges with `include_docs=true`
  * ([[changes]]), so document payloads never pass through the driver.
  * State is O(1) per feed.
  *
  * Zero-egress note: exercised against a local
  * `com.sun.net.httpserver` stub (HttpChangesFeedSpec) — the wire
  * format is CouchDB's documented `_changes` JSON.
  */
final class HttpChangesFeed(
    val baseUrl: String,
    val db: String,
    user: Option[String] = None,
    password: Option[String] = None,
    pageSize: Int = 1000,
    timeoutMs: Long = 30000L,
    maxRetries: Int = 3) extends ChangesFeed {

  @transient private lazy val mapper = new ObjectMapper()
  @transient private lazy val client: HttpClient =
    HttpChangesFeed.clientFor(timeoutMs)

  /** Basic auth per reference lib/index.js:50 (credentials in db URL). */
  private def authHeader: Option[String] = user.map { u =>
    val raw = s"$u:${password.getOrElse("")}"
    "Basic " + Base64.getEncoder.encodeToString(
      raw.getBytes(StandardCharsets.UTF_8))
  }

  /** GET with bounded in-client retry for the throttle classes a real
    * CouchDB (or its fronting proxy) emits: 429/503 honor `Retry-After`
    * (seconds, capped at 2 s so a hostile header can't stall a task)
    * up to `maxRetries` attempts, then surface as IOException — the
    * transient class the [[Supervisor]] restarts with backoff. 404
    * stays fatal ([[FeedGoneException]]); other 4xx/5xx throw
    * immediately (retrying a 400 can never help). */
  private def get(pathAndQuery: String): String = {
    var attempt = 0
    var result: String = null
    while (result == null) {
      val b = HttpRequest.newBuilder(URI.create(s"$baseUrl$pathAndQuery"))
        .timeout(Duration.ofMillis(timeoutMs))
        .GET()
      authHeader.foreach(b.header("Authorization", _))
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      val code = resp.statusCode()
      if (code == 404)
        throw new FeedGoneException(s"$baseUrl/$db not found (no_db_file)")
      else if (code == 429 || code == 503) {
        attempt += 1
        if (attempt > maxRetries)
          throw new java.io.IOException(
            s"GET $pathAndQuery -> HTTP $code after $maxRetries retries")
        val ra = resp.headers().firstValue("Retry-After")
        val retryAfterMs =
          (if (ra.isPresent) ra.get.toLongOption.getOrElse(0L) else 0L) * 1000L
        Thread.sleep(math.min(math.max(retryAfterMs, 50L * attempt), 2000L))
      } else if (code >= 400)
        throw new java.io.IOException(s"GET $pathAndQuery -> HTTP $code")
      else result = resp.body()
    }
    result
  }

  /** `update_seq` from the db info document — numeric on 1.x, an
    * opaque `"N-blob"` string on 2/3 (ordinal = prefix). */
  override def latest(): SeqTok =
    SeqTok.ofNode(mapper.readTree(get(s"/$db")).path("update_seq"))

  /** `doc_count` from the db info document — exactly what the
    * reference's nagios check reads (nagios-check_couch_postgres_count:
    * 25). */
  override def liveDocCount(): Long = {
    val n = mapper.readTree(get(s"/$db"))
    n.path("doc_count").asLong(0L)
  }

  /** Changes strictly after `since` up to and including `until`, paged
    * through `_changes` with `include_docs=true`. Each page resumes from
    * the previous page's last seq (by its full token when it has one),
    * so a slow consumer never re-downloads — the stateless analog of the
    * reference's socket backpressure. The iterator stops at the first
    * seq past `until`'s ordinal, or right after the change whose token
    * equals `until`'s (the exact stop on a 2/3 feed). A row with an
    * unorderable seq is skipped like [[ChangesFeed.parseNode]] skips it;
    * a row without `id` emits nothing but still advances the cursor. */
  def changes(since: SeqTok, until: SeqTok): Iterator[ChangeEvent] =
    new Iterator[ChangeEvent] {
      private var buf: Iterator[ChangeEvent] = Iterator.empty
      private var cursor = since
      private var exhausted = false

      private def fill(): Unit = {
        while (!buf.hasNext && !exhausted) {
          val body = get(s"/$db/_changes?include_docs=true" +
            s"&since=${cursor.sinceParam}&limit=$pageSize")
          val results = mapper.readTree(body).path("results")
          if (!results.isArray || results.size() == 0) exhausted = true
          else {
            val out = Vector.newBuilder[ChangeEvent]
            var i = 0
            var last = cursor
            var sawTok = false
            while (i < results.size() && !exhausted) {
              val node = results.get(i)
              SeqTok.ofNodeOpt(node.path("seq")).foreach { tok =>
                sawTok = true
                if (tok.ord > until.ord) exhausted = true
                else {
                  ChangesFeed.parseNode(mapper, node).foreach(out += _)
                  last = tok
                  if (until.token.contains(tok.sinceParam)) exhausted = true
                }
              }
              i += 1
            }
            // an entire page of unorderable seqs is not "exhausted" —
            // treating it so would end the range early and commit the
            // batch past changes never read. Fail loudly as the
            // transient class so the Supervisor's backoff sees it.
            if (!sawTok)
              throw new java.io.IOException(
                s"/$db/_changes page after since=${cursor.sinceParam}: " +
                  s"all ${results.size()} seqs unparseable")
            // a stuck cursor (server ignored since=) must not loop
            if (!exhausted && last.sinceParam == cursor.sinceParam)
              exhausted = true
            cursor = last
            buf = out.result().iterator
          }
        }
      }

      override def hasNext: Boolean = { fill(); buf.hasNext }
      override def next(): ChangeEvent = { fill(); buf.next() }
    }

  /** Admission control from bare pages (no docs): `_changes?since=X&
    * limit=n` returns the next n seqs in feed order, cursoring by full
    * token so a 2/3 server accepts every resume. */
  override def nthAfter(since: SeqTok, n: Long, capOrd: Long): SeqTok = {
    if (n <= 0) return since
    var last = since
    var remaining = n
    var cursor = since
    var done = false
    while (!done && remaining > 0) {
      val page = math.min(remaining, pageSize.toLong)
      val body = get(s"/$db/_changes?since=${cursor.sinceParam}&limit=$page")
      val results = mapper.readTree(body).path("results")
      if (!results.isArray || results.size() == 0) done = true
      else {
        val prevCursor = cursor
        var i = 0
        var sawTok = false
        while (i < results.size() && remaining > 0) {
          // unparseable seq: skip the row (see changes)
          SeqTok.ofNodeOpt(results.get(i).path("seq")).foreach { tok =>
            sawTok = true
            if (tok.ord > cursor.ord ||
                (tok.ord == cursor.ord && tok.sinceParam != cursor.sinceParam))
              cursor = tok
            if (tok.ord > since.ord && tok.ord <= capOrd) {
              last = tok; remaining -= 1
            } else if (tok.ord > capOrd) remaining = 0
          }
          i += 1
        }
        // full page of unorderable seqs: fail loudly (see changes)
        if (!sawTok && remaining > 0)
          throw new java.io.IOException(
            s"/$db/_changes page after since=${prevCursor.sinceParam}: " +
              s"all ${results.size()} seqs unparseable")
        if (results.size() < page ||
            cursor.sinceParam == prevCursor.sinceParam) done = true
      }
    }
    last
  }
}

object HttpChangesFeed {
  // One HttpClient per timeout config per JVM: HttpClient is thread-safe
  // and owns a selector thread + connection pool — constructing one per
  // partition reader per micro-batch dominated ingest cost (measured:
  // ~3 s/batch fixed overhead at 32 readers).
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[Long, HttpClient]()
  private[streaming] def clientFor(timeoutMs: Long): HttpClient =
    clients.computeIfAbsent(timeoutMs, t =>
      HttpClient.newBuilder()
        .connectTimeout(Duration.ofMillis(t))
        .build())
}

/** The fatal feed-error class: the database/feed is gone or
  * misconfigured — the reference STOPS the feed for these
  * (`no_db_file`, Postgres `42P01`; lib/index.js:211-223) instead of
  * retrying forever. */
final class FeedGoneException(msg: String) extends RuntimeException(msg)
