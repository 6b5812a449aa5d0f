package graft.streaming

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Minimal CouchDB-compatible server over a fixed change list — the
  * benchmark/demo stand-in for a real CouchDB in this zero-egress
  * environment (tests use the richer recording stub in
  * HttpChangesFeedSpec; this one is tuned for throughput so the bench
  * measures the CLIENT, not the stub).
  *
  * Serves the endpoints [[HttpChangesFeed]] and the write-back sinks
  * speak:
  *   GET      /{db}            -> {"update_seq":N,"doc_count":N}
  *   GET      /{db}/_changes   -> {"results":[...],"last_seq":N}
  *   GET      /{db}/{docid}    -> 200 stored doc | 404 (stateful mode)
  *   POST     /{db}/_bulk_docs -> 201 [] (accepted, counted)
  *   PUT/POST /{db}/{docid}    -> 201 {"ok":true,...}
  * `_changes` is the normal (buffered) feed with since/limit paging —
  * the one mode the client speaks; `since` is a bare number, or with
  * [[opaqueSeqs]] a full `"N-blob"` token. `lines(i)` must be the
  * change object with seq == i+1 (dense seqs), so a page is an array
  * slice — O(1) lookup, no server-side JSON parsing. Writes are
  * swallowed after counting (request tallies + body bytes via
  * [[writeStats]]) — the point is to exercise the real HTTP write path
  * end-to-end, not to store.
  *
  * CONFORMANCE FAULTS (round-4 task 3 — the day-one realities of a real
  * CouchDB deployment, emulated so the client paths are provably
  * hardened): [[rateLimitFirst]] answers the first n requests 429 +
  * `Retry-After` (CouchDB behind a proxy / _scheduler backoff);
  * [[slowMs]] delays every response (slow-drip feed — trips the
  * client's inactivity timeout); [[dropChangesRequest]] truncates one
  * `_changes` response mid-body (socket cut mid-batch);
  * [[requireAuth]] answers 401 to any request without the right basic
  * credentials (`require_valid_user`);
  * [[conflictIds]] makes `_bulk_docs` return the documented per-doc
  * result array with `"error":"conflict"` entries (README.md:504-530 —
  * modern CouchDB ignores `all_or_nothing` and reports conflicts per
  * doc) instead of the fast-path `[]`. */
final class CouchStubServer(
    db: String, lines: IndexedSeq[String], port: Int = 0,
    stateful: Boolean = false) {

  // ---- STATEFUL MODE (round-8 j21: the write-back round-trip gate).
  // A real CouchDB stores the doc, assigns the next rev, and ECHOES the
  // write on `_changes` — the loop the reference's trigger architecture
  // depends on (reference README.md:29-62: PG write -> couchdb_put ->
  // couch assigns rev -> _changes echo -> PG converges). `stateful=true`
  // turns the swallow-and-count stub into that server: `_bulk_docs` /
  // single-doc PUT parse docs, rev-guard against the store, append a
  // change line per accepted write, and report per-doc results. Revs are
  // DETERMINISTIC — `<ord>-md5(<id>:<ord>)` — so an oracle can
  // reconstruct the converged state without talking to the stub.
  // Stateful writes mint seq = feed.length + 1 and the `_changes` pager
  // treats `since` as a positional index, so the feed MUST stay dense
  // (line i carries seq i+1 — the documented static-mode contract too).
  // Guard the seeding: non-dense initial lines would make new writes
  // mint colliding/regressing seqs. One parse of the LAST line pins the
  // counter seed; interior density stays the caller's (documented)
  // contract, as in static mode.
  require(!stateful || lines.isEmpty || {
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(lines.last)
    SeqTok.ofNode(n.get("seq")).ord == lines.length.toLong
  }, s"stateful stub seeded with non-dense seqs: last of ${lines.length} " +
    s"lines is ${lines.last.take(80)}")

  private object state {
    val lock = new Object
    // id -> (ordinal, rev, payload JSON with _id/_rev stripped; null
    // payload = TOMBSTONE — deletion keeps the rev chain, so a recreate
    // continues at the next generation exactly as CouchDB's rev tree
    // does (restarting at 1 would mint a rev string IDENTICAL to the
    // original create's — deterministic hashes — for different content)
    val store = new java.util.LinkedHashMap[String, (Long, String, String)]
    val feed = scala.collection.mutable.ArrayBuffer.empty[String]
    feed ++= lines
    // RESTART SEMANTICS: a real CouchDB that dies and comes back still
    // has its database. Seeding a stateful stub with a previous stub's
    // [[feedSnapshot]] rebuilds the doc store by folding the lines
    // latest-per-id (they are in seq order), so rev guards and rev-chain
    // ordinals continue EXACTLY where the "crashed" server left off —
    // the chaos soak's couch-death walk depends on this.
    if (stateful && lines.nonEmpty) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      lines.foreach { l =>
        val n = mapper.readTree(l)
        val id = n.path("id").asText("")
        if (id.nonEmpty) {
          val rev = n.path("changes").get(0).path("rev").asText("")
          val ord = rev.substring(0, rev.indexOf('-')).toLong
          if (n.path("deleted").asBoolean(false) || !n.hasNonNull("doc"))
            store.put(id, (ord, rev, null))
          else {
            val doc = n.get("doc")
              .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
            doc.remove("_id"); doc.remove("_rev"); doc.remove("_deleted")
            store.put(id, (ord, rev, mapper.writeValueAsString(doc)))
          }
        }
      }
    }
  }

  /** Snapshot of the current change list — what a restarted stateful
    * stub should be seeded with to emulate a couch that persisted its
    * database across the crash. */
  def feedSnapshot: IndexedSeq[String] = allLines

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  /** Current change list: static `lines` unless stateful. */
  private def allLines: IndexedSeq[String] =
    if (!stateful) lines
    else state.lock.synchronized { state.feed.toIndexedSeq }

  /** Live (non-deleted) doc count for the db-info endpoint. */
  private def liveCount: Long =
    if (!stateful) lines.length.toLong
    else state.lock.synchronized {
      var n = 0L
      state.store.forEach((_, v) => if (v._3 != null) n += 1)
      n
    }

  /** Apply ONE posted doc (parsed node) to the store under the rev
    * guard; returns the per-doc `_bulk_docs` result row. CouchDB
    * semantics: a write must carry the doc's CURRENT rev (or none for a
    * create) — anything else is `conflict`, reported as a row, never a
    * request failure (README.md:504-530). */
  private def applyWrite(n: com.fasterxml.jackson.databind.JsonNode,
      mapper: com.fasterxml.jackson.databind.ObjectMapper): String = {
    val id = n.path("_id").asText("")
    if (id.isEmpty)
      return """{"error":"bad_request","reason":"missing _id"}"""
    if (conflictIds.contains(id))
      return s"""{"id":"$id","error":"conflict","reason":"Document update conflict."}"""
    val postedRev =
      if (n.hasNonNull("_rev")) Some(n.get("_rev").asText()) else None
    val deleted = n.path("_deleted").asBoolean(false)
    state.lock.synchronized {
      val cur = Option(state.store.get(id))
      val isTombstone = cur.exists(_._3 == null)
      // rev guard: a LIVE doc demands its current rev; a tombstone (or
      // no doc) accepts a rev-less create — CouchDB lets a deleted id
      // be recreated without supplying the tombstone rev
      val guarded =
        if (isTombstone) postedRev.forall(r => cur.exists(_._2 == r))
        else cur.map(_._2) == postedRev
      if (!guarded || (deleted && isTombstone))
        return s"""{"id":"$id","error":"conflict","reason":"Document update conflict."}"""
      val ord = cur.map(_._1).getOrElse(0L) + 1L
      val rev = s"$ord-${md5hex(s"$id:$ord")}"
      val seq = state.feed.length + 1
      if (deleted) {
        state.store.put(id, (ord, rev, null))
        state.feed +=
          s"""{"seq":$seq,"id":"$id","changes":[{"rev":"$rev"}],"deleted":true}"""
      } else {
        val payload = n.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
        payload.remove("_id"); payload.remove("_rev"); payload.remove("_deleted")
        val pj = mapper.writeValueAsString(payload)
        state.store.put(id, (ord, rev, pj))
        // the echoed doc is the STORED doc: _id/_rev first (as couch
        // serves with include_docs=true), then the payload fields in
        // their posted order
        val doc =
          if (pj == "{}") s"""{"_id":"$id","_rev":"$rev"}"""
          else s"""{"_id":"$id","_rev":"$rev",""" + pj.substring(1)
        state.feed +=
          s"""{"seq":$seq,"id":"$id","changes":[{"rev":"$rev"}],"doc":$doc}"""
      }
      s"""{"ok":true,"id":"$id","rev":"$rev"}"""
    }
  }

  /** The couch VIEW engine stand-in (S6, reference README.md:194-215):
    * `_design/graft/_view/count_by_<field>?group=true` — map emits
    * doc.<field>, reduce `_count`, group=true. Computed from the CURRENT
    * database state (latest change per id, deletes drop the doc), keys
    * sorted, exactly the reduced rows a real couch serves. */
  private def viewCountBy(field: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // fold the feed latest-per-id (static mode has no store; stateful
    // mode's store agrees with this fold by construction)
    val last = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Option[String])]
    allLines.foreach { l =>
      val n = mapper.readTree(l)
      val id = n.path("id").asText("")
      val seq = SeqTok.ofNode(n.get("seq")).ord
      if (id.nonEmpty && last.get(id).forall(_._1 < seq)) {
        val doc =
          if (n.path("deleted").asBoolean(false) || !n.hasNonNull("doc")) None
          else Some(mapper.writeValueAsString(n.get("doc")))
        last(id) = (seq, doc)
      }
    }
    val counts = scala.collection.mutable.TreeMap.empty[String, Long]
    var nullCount = 0L
    last.valuesIterator.flatMap(_._2).foreach { d =>
      val k = mapper.readTree(d).path(field).asText(null)
      if (k != null) counts(k) = counts.getOrElse(k, 0L) + 1L
      else nullCount += 1L // map emits doc.<field> even when absent/null
    }
    // CouchDB view collation sorts null before every string key; a
    // dropped null group would silently disagree with a SQL GROUP BY
    // over a nullable field (the j23 equivalence triangle)
    val nullRow =
      if (nullCount > 0) Seq(s"""{"key":null,"value":$nullCount}""") else Nil
    (nullRow ++ counts.map { case (k, v) => s"""{"key":"$k","value":$v}""" })
      .mkString("""{"rows":[""", ",", "]}")
  }

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  private val bulkPosts = new java.util.concurrent.atomic.LongAdder
  private val docPuts = new java.util.concurrent.atomic.LongAdder
  private val bytesIn = new java.util.concurrent.atomic.LongAdder
  private val reqCount = new java.util.concurrent.atomic.AtomicLong
  private val rateLimited = new java.util.concurrent.atomic.LongAdder

  /** Answer the first n requests (any endpoint) with 429 + Retry-After. */
  @volatile var rateLimitFirst: Int = 0
  /** Sleep this long before every response (slow-drip emulation). */
  @volatile var slowMs: Long = 0L
  /** 1-based index of the `_changes` request to cut mid-body; 0 = off.
    * One-shot: the fault clears itself after firing, like a real
    * transient disconnect. */
  @volatile var dropChangesRequest: Int = 0
  /** Doc _ids that `_bulk_docs` reports as update conflicts. */
  @volatile var conflictIds: Set[String] = Set.empty
  /** Reject `_bulk_docs` payloads above this many docs with 413 — the
    * reference's docs-per-POST ceiling (README.md:504-530). 0 = off. */
  @volatile var maxBulkDocs: Int = 0
  private val bulkRejected = new java.util.concurrent.atomic.LongAdder
  /** How many `_bulk_docs` requests bounced 413 over the ceiling. */
  def bulkRejectedCount: Long = bulkRejected.sum()
  /** When set, EVERY request must carry `Authorization: Basic
    * base64(user:password)` or it is answered 401 — a CouchDB with
    * `require_valid_user = true` (the deployment the reference's
    * credentials-in-URL config exists for, lib/index.js:50). */
  @volatile var requireAuth: Option[(String, String)] = None
  private val unauthorized = new java.util.concurrent.atomic.LongAdder
  /** How many requests bounced 401. */
  def unauthorizedCount: Long = unauthorized.sum()

  private def authorized(ex: HttpExchange): Boolean = requireAuth.forall {
    case (u, p) =>
      val expect = "Basic " + java.util.Base64.getEncoder.encodeToString(
        s"$u:$p".getBytes("UTF-8"))
      Option(ex.getRequestHeaders.getFirst("Authorization")).contains(expect)
  }

  /** 401 short-circuit ahead of every other fault and endpoint. */
  private def maybeReject(ex: HttpExchange): Boolean = {
    if (authorized(ex)) return false
    unauthorized.increment()
    ex.getRequestBody.readAllBytes()
    val b = """{"error":"unauthorized","reason":"You are not authorized to access this db."}"""
      .getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(401, b.length)
    ex.getResponseBody.write(b)
    ex.close()
    true
  }

  /** CouchDB 2/3 emulation: emit seqs as opaque `"N-<blob>"` strings
    * (and `update_seq`/`last_seq` likewise), and require `since=` to be
    * either 0 or a full token — a bare interior ordinal is REJECTED
    * (400), exactly how a real 2/3 answers `since=123`. */
  @volatile var opaqueSeqs: Boolean = false
  private val changesSeen = new java.util.concurrent.atomic.AtomicLong
  /** `since` parameter of every `_changes` request, in arrival order. */
  val changesSinceLog = new java.util.concurrent.ConcurrentLinkedQueue[Long]

  /** (bulk _bulk_docs requests, single-doc puts, request-body bytes). */
  def writeStats: (Long, Long, Long) =
    (bulkPosts.sum(), docPuts.sum(), bytesIn.sum())

  /** How many requests were answered 429. */
  def rateLimitedCount: Long = rateLimited.sum()

  /** The deterministic opaque token for ordinal n (`"n-g1AAn"`). */
  def tokenOf(n: Long): String = s"$n-g1AA$n"

  /** A seq as it appears in JSON: number (1.x) or quoted token (2/3). */
  private def seqLit(n: Long): String =
    if (opaqueSeqs) "\"" + tokenOf(n) + "\"" else n.toString

  /** Rewrite a pre-rendered change line's numeric seq to a token. */
  private def seqify(line: String): String =
    if (!opaqueSeqs) line
    else line.replaceFirst("\"seq\":(\\d+)", "\"seq\":\"$1-g1AA$1\"")

  def start(): Int = {
    // without TCP_NODELAY the small header+body response pairs hit
    // Nagle vs delayed-ACK: ~40-60 ms PER REQUEST on loopback, which
    // turns a write-back bench into a latency bench of the kernel timer
    System.setProperty("sun.net.httpserver.nodelay", "true")
    // port 0 = ephemeral; a fixed port lets chaos tests restart a
    // "crashed" server at the same address a follower reconnects to
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // a few handler threads so parallel partition readers aren't
    // serialized by the server; daemon so a forgotten stop() can't
    // keep the JVM alive
    pool = java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "couch-stub"); t.setDaemon(true); t
    })
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val params = Option(ex.getRequestURI.getQuery).getOrElse("")
        .split("&").filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
      val method = ex.getRequestMethod
      if (slowMs > 0L) Thread.sleep(slowMs)
      if (!maybeReject(ex)) serve(ex, path, params, method)
    })
    server.start()
    server.getAddress.getPort
  }

  private def serve(
      ex: HttpExchange, path: String,
      params: Map[String, String], method: String): Unit = {
      val body: (Int, String) =
        if (reqCount.incrementAndGet() <= rateLimitFirst) {
          rateLimited.increment()
          ex.getRequestBody.readAllBytes()
          ex.getResponseHeaders.add("Retry-After", "0")
          (429, """{"error":"too_many_requests","reason":"backoff"}""")
        } else if (method == "POST" && path == s"/$db/_bulk_docs") {
          val req = ex.getRequestBody.readAllBytes()
          bulkPosts.increment()
          bytesIn.add(req.length)
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val docs = mapper.readTree(req).path("docs")
          if (maxBulkDocs > 0 && docs.size() > maxBulkDocs) {
            // the reference's hard-learned ceiling (README.md:504-530:
            // 1000 docs/POST times out, ~500 is safe) made enforceable:
            // an oversized payload bounces instead of "working" in-gate
            // where a real server would stall
            bulkRejected.increment()
            (413, """{"error":"too_large","reason":"docs-per-POST ceiling exceeded"}""")
          } else if (stateful) {
            val results = (0 until docs.size())
              .map(i => applyWrite(docs.get(i), mapper))
            (201, results.mkString("[", ",", "]"))
          } else if (conflictIds.isEmpty) (201, "[]")
          else {
            // documented per-doc result array: conflicts do NOT fail
            // the request — they are rows in a 201 response
            val results = (0 until docs.size()).map { i =>
              val id = docs.get(i).path("_id").asText("")
              if (conflictIds.contains(id))
                s"""{"id":"$id","error":"conflict","reason":"Document update conflict."}"""
              else s"""{"ok":true,"id":"$id","rev":"1-stub"}"""
            }
            (201, results.mkString("[", ",", "]"))
          }
        } else if (path.startsWith(s"/$db/_design/") &&
            path.contains("/_view/count_by_")) {
          val field = path.substring(
            path.indexOf("/_view/count_by_") + "/_view/count_by_".length)
          (200, viewCountBy(field))
        } else if ((method == "PUT" || method == "POST")
            && path.startsWith(s"/$db/")
            && !path.substring(db.length + 2).contains("/")) {
          val req = ex.getRequestBody.readAllBytes()
          docPuts.increment()
          bytesIn.add(req.length)
          val id = path.substring(db.length + 2)
          if (stateful) {
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            val n = mapper.readTree(req)
              .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            n.put("_id", id) // the URL names the doc on a single-doc PUT
            val res = applyWrite(n, mapper)
            (if (res.contains("\"error\"")) 409 else 201, res)
          } else (201, s"""{"ok":true,"id":"$id","rev":"1-stub"}""")
        } else if (method == "GET" && path.startsWith(s"/$db/")
            && !path.substring(db.length + 2).contains("/")
            && !path.substring(db.length + 2).startsWith("_")) {
          // GET /{db}/{docid} — serve the stored doc as couch does
          // (_id/_rev first, then payload fields); 404 for missing or
          // deleted. The write-back replay-convergence check reads
          // conflicted docs back through this.
          val id = path.substring(db.length + 2)
          if (!stateful)
            (404, """{"error":"not_found","reason":"missing"}""")
          else state.lock.synchronized {
            Option(state.store.get(id)) match {
              case Some((_, rev, pj)) if pj != null =>
                (200,
                  if (pj == "{}") s"""{"_id":"$id","_rev":"$rev"}"""
                  else s"""{"_id":"$id","_rev":"$rev",""" + pj.substring(1))
              case Some(_) =>
                (404, """{"error":"not_found","reason":"deleted"}""")
              case None =>
                (404, """{"error":"not_found","reason":"missing"}""")
            }
          }
        } else if (path == s"/$db/_changes") {
          val sinceRaw = params.getOrElse("since", "0")
          val sinceParsed: Option[Long] =
            if (!opaqueSeqs) Some(sinceRaw.toLong)
            else if (sinceRaw == "0" || sinceRaw == "now") Some(0L)
            else {
              // a real 2/3 only accepts 0/now or a full token; a bare
              // interior ordinal is a malformed cursor
              val i = sinceRaw.indexOf('-')
              if (i > 0 && sinceRaw.substring(0, i).forall(_.isDigit))
                Some(sinceRaw.substring(0, i).toLong)
              else None
            }
          sinceParsed match {
            case None => (400,
              """{"error":"bad_request","reason":"Malformed sequence supplied in 'since' parameter."}""")
            case Some(since) =>
              changesSinceLog.add(since)
              val ls = allLines
              val limit =
                params.getOrElse("limit", Int.MaxValue.toString).toLong
              val from =
                math.min(math.max(since, 0L), ls.length.toLong).toInt
              val until = math.min(from + math.min(limit, Int.MaxValue.toLong),
                ls.length.toLong).toInt
              val page = ls.slice(from, until).map(seqify)
              val last = if (until > from) until.toLong else since
              (200, page.mkString("""{"results":[""", ",",
                s"""],"last_seq":${seqLit(last)}}"""))
          }
        } else if (path == s"/$db") {
          (200,
            s"""{"db_name":"$db","update_seq":${seqLit(allLines.length)},""" +
            s""""doc_count":$liveCount}""")
        } else (404, """{"error":"not_found","reason":"no_db_file"}""")
      val bytes = body._2.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      val isChanges = path == s"/$db/_changes"
      val cut = isChanges && dropChangesRequest > 0 &&
        changesSeen.incrementAndGet() == dropChangesRequest.toLong
      if (cut) {
        // declare the full length, write half, cut the socket: the
        // client observes a truncated body mid-batch, exactly a feed
        // disconnect. One-shot — a retry then succeeds.
        dropChangesRequest = 0
        ex.sendResponseHeaders(body._1, bytes.length)
        ex.getResponseBody.write(bytes, 0, math.max(1, bytes.length / 2))
        ex.getResponseBody.flush()
        ex.close()
      } else {
        ex.sendResponseHeaders(body._1, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
  }

  def stop(): Unit = {
    if (server != null) {
      server.stop(0)
      pool.shutdownNow()
    }
    // release closeable seedings (FileBackedLines holds one FD per part
    // file): every gate already funnels through `finally stub.stop()`,
    // so the channels never outlive the stub
    lines match {
      case c: AutoCloseable =>
        try c.close() catch { case _: Exception => () }
      case _ => ()
    }
  }
}
