package graft.streaming

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.cdc.ChangeEvent

/** A CouchDB `_changes` feed client abstraction.
  *
  * The reference follows the feed over a long-lived HTTP socket
  * (reference lib/index.js:50-53, 243-290: `follow.Feed({db,
  * include_docs:true})`, resume from `since`, 30 s inactivity timeout).
  * In the Spark source the same contract becomes a pull API keyed by the
  * monotonic `seq`: the driver asks a feed for its high-water mark
  * ([[latest]]) and for the admission-control cap ([[nthAfter]]); the
  * executors read the changes in (since, until] themselves. Every seq is
  * a [[SeqTok]]: a numeric (1.x, file) seq is `SeqTok(n, None)`, a
  * CouchDB 2/3 seq carries its opaque resume token.
  *
  * Implementations:
  *  - [[FileChangesFeed]] — JSONL file(s) on disk; deterministic test /
  *    replay feed (one line per change, the wire shape FIXTURES.md §1).
  *    Partitions read byte slices ([[ChangesFeed.readSlice]]), so a
  *    large feed file parses in parallel across partition readers
  *    instead of once per reader.
  *  - [[HttpChangesFeed]] — the real client: `GET
  *    /db/_changes?include_docs=true&since=N&limit=M` with basic auth
  *    and an inactivity timeout (reference lib/index.js:243-290),
  *    exercised against a local stub server (zero-egress). Its range
  *    read [[HttpChangesFeed.changes]] is what HTTP partitions call.
  */
trait ChangesFeed extends Serializable {
  /** Highest seq currently available (the feed's `update_seq`), with
    * its resume token on an opaque-seq feed. */
  def latest(): SeqTok

  /** Admission control (T2): the `n`th change after `since`, not past
    * ordinal `capOrd` — i.e. the end offset that admits at most `n`
    * changes into the batch, with its full resume token. Returns the
    * highest available seq in (since, capOrd] when fewer than `n`
    * exist, and `since` when none do. Deliberately NOT "all seqs after
    * X": the driver must never materialize the feed tail (O(feed) heap
    * per trigger at a 100 M-change feed). */
  def nthAfter(since: SeqTok, n: Long, capOrd: Long): SeqTok

  /** Current live (non-deleted) document count — CouchDB's `doc_count`.
    * Feeds that can't answer cheaply may compute it; the ops
    * count-consistency check ([[graft.CountCheck]]) is the only
    * caller. */
  def liveDocCount(): Long
}

/** A CouchDB sequence cursor: the monotone numeric ordinal plus — for
  * CouchDB 2/3 — the full opaque token the server requires as `since=`.
  * The ordinal orders and ranges; the token resumes. Follows the same
  * split-on-`-` the reference applies to revs (reference
  * lib/index.js:107-108): `"123-g1AAAA..."` -> ord 123.
  *
  * Clustered feeds can in principle repeat an ordinal across shards;
  * resume stays exact regardless because the HTTP client hands the
  * server the full token, never the bare ordinal. */
final case class SeqTok(ord: Long, token: Option[String]) {
  /** What goes on the wire as `since=`. */
  def sinceParam: String = token.getOrElse(ord.toString)
}

object SeqTok {
  val Zero: SeqTok = SeqTok(0L, None)

  /** Parse a seq value: `"123-xyz"` -> SeqTok(123, Some(full)); a plain
    * number (either JSON shape) -> SeqTok(n, None). */
  def parse(s: String): SeqTok = {
    val i = s.indexOf('-')
    if (i > 0 && s.substring(0, i).forall(_.isDigit))
      SeqTok(s.substring(0, i).toLong, Some(s))
    else SeqTok(s.toLong, None)
  }

  /** From a JSON node that is either a number (1.x) or a string (2/3). */
  def ofNode(n: JsonNode): SeqTok =
    if (n == null || n.isMissingNode || n.isNull) Zero
    else if (n.isTextual) parse(n.asText())
    else SeqTok(n.asLong(), None)

  /** [[ofNode]] that yields None for a seq that parses to neither
    * shape (e.g. `"now"`) instead of throwing — paging/admission loops
    * skip such rows, mirroring [[ChangesFeed.parseNode]]'s skip
    * semantics, so one malformed seq never kills a streaming query. */
  def ofNodeOpt(n: JsonNode): Option[SeqTok] =
    try Some(ofNode(n)) catch { case _: NumberFormatException => None }
}

object ChangesFeed {
  /** Parse one `_changes` JSON line (the reference's change object
    * `{seq, id, changes:[{rev}], deleted?, doc}`, lib/index.js:185-195).
    * Lines without a seq (e.g. the `last_seq` trailer) return None. */
  def parseLine(mapper: ObjectMapper, line: String): Option[ChangeEvent] = {
    val trimmed = line.trim
    if (trimmed.isEmpty) return None
    parseNode(mapper, mapper.readTree(trimmed))
  }

  /** One change object `{seq, id, changes:[{rev}], deleted?, doc}` —
    * shared by the JSONL file feed (one per line) and the HTTP feed
    * (the elements of a `_changes` response's `results` array). */
  def parseNode(mapper: ObjectMapper, n: JsonNode): Option[ChangeEvent] = {
    if (!n.has("seq") || !n.has("id")) return None
    // style=all_docs lists every open conflict branch in no guaranteed
    // order — pick CouchDB's deterministic winner, which for the usual
    // single-rev change is just that rev
    val rev =
      if (n.has("changes") && n.get("changes").size() > 0) {
        val chs = n.get("changes")
        if (chs.size() == 1) chs.get(0).path("rev").asText(null)
        else graft.cdc.Rev.winner(
          (0 until chs.size()).map(i => chs.get(i).path("rev").asText(null)))
          .orNull
      } else null
    val doc = if (n.has("doc") && !n.get("doc").isNull)
      mapper.writeValueAsString(n.get("doc")) else null
    // seq may be numeric (CouchDB 1.x) or an opaque "N-blob" string
    // (2/3) — the envelope carries the monotone ordinal either way;
    // a seq that parses to neither (e.g. "now") can't be ordered: skip
    val tok =
      try SeqTok.ofNode(n.get("seq"))
      catch { case _: NumberFormatException => return None }
    Some(ChangeEvent(
      seq = tok.ord,
      id = n.get("id").asText(),
      rev = rev,
      deleted = n.path("deleted").asBoolean(false),
      doc = doc))
  }

  /** Events from one byte slice of a JSONL file: skip to `startByte`,
    * discard the partial line unless at 0, stop once the slice is
    * consumed (a line STARTING inside the slice belongs to it — the
    * standard splittable-text convention, so slices never duplicate or
    * drop a line). */
  def readSlice(file: String, startByte: Long, endByte: Long)
      : Iterator[ChangeEvent] = {
    val mapper = new ObjectMapper()
    val in = new FileInputStream(file)
    var pos = 0L
    if (startByte > 0) {
      var skipped = 0L
      while (skipped < startByte) skipped += in.skip(startByte - skipped)
      pos = startByte
    }
    val reader = new BufferedReader(
      new InputStreamReader(in, StandardCharsets.UTF_8), 1 << 16)
    var linePos = pos // byte position where the NEXT line starts
    if (startByte > 0) {
      val partial = reader.readLine()
      if (partial == null) { reader.close(); return Iterator.empty }
      linePos += partial.getBytes(StandardCharsets.UTF_8).length + 1
    }
    new Iterator[ChangeEvent] {
      private var nextEv: ChangeEvent = _
      private var done = false
      private def advance(): Unit = {
        nextEv = null
        while (nextEv == null && !done) {
          if (linePos > endByte) { done = true; reader.close() }
          else {
            val line = reader.readLine()
            if (line == null) { done = true; reader.close() }
            else {
              linePos += line.getBytes(StandardCharsets.UTF_8).length + 1
              nextEv = ChangesFeed.parseLine(mapper, line).orNull
            }
          }
        }
      }
      advance()
      override def hasNext: Boolean = nextEv != null
      override def next(): ChangeEvent = {
        val e = nextEv; advance(); e
      }
    }
  }
}

/** JSONL-backed feed: `path` is a file or a directory of `*.jsonl`
  * files. Each line is one change event; seq order need not match line
  * order (readers sort their slice). Serializable so executors can
  * re-open it — only the path ships with the task, never the data.
  *
  * SCALE: the driver keeps only a per-file summary (minSeq, maxSeq,
  * count) — O(files) heap, built in one streaming pass and memoized per
  * (path, mtime, size). Admission control ([[nthAfter]]) resolves
  * cumulative counts from summaries and scans ONLY the one boundary
  * file whose range straddles the answer; a 638 M-change feed costs the
  * driver a few dozen summary records, not ~5 GB of materialized seqs. */
final class FileChangesFeed(val path: String) extends ChangesFeed {
  @transient private lazy val mapper = new ObjectMapper()

  def files(): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles((_, n) => n.endsWith(".jsonl")).toSeq.sortBy(_.getName)
    else if (f.exists) Seq(f)
    else Seq.empty
  }

  /** One streaming pass over a file: bounds + count, no seq retained. */
  private final case class FileSummary(minSeq: Long, maxSeq: Long, count: Long)

  @transient private lazy val summaryCache =
    scala.collection.mutable.Map.empty[(String, Long, Long), FileSummary]

  private def summaryOf(f: java.io.File): FileSummary = synchronized {
    val key = (f.getPath, f.lastModified(), f.length())
    summaryCache.getOrElseUpdate(key, {
      var mn = Long.MaxValue; var mx = Long.MinValue; var n = 0L
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().flatMap(ChangesFeed.parseLine(mapper, _)).foreach { e =>
        if (e.seq < mn) mn = e.seq
        if (e.seq > mx) mx = e.seq
        n += 1
      } finally src.close()
      if (n == 0) FileSummary(0L, 0L, 0L) else FileSummary(mn, mx, n)
    })
  }

  /** Sorted seqs of ONE file in (since, cap] — transient, only ever
    * called for the boundary file(s) an answer lands in. */
  private def seqsIn(f: java.io.File, since: Long, cap: Long): Array[Long] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines()
      .flatMap(ChangesFeed.parseLine(mapper, _)).map(_.seq)
      .filter(s => s > since && s <= cap)
      .toArray.sorted
    finally src.close()
  }

  override def latest(): SeqTok = {
    val fs = files()
    SeqTok(if (fs.isEmpty) 0L else fs.map(f => summaryOf(f).maxSeq).max, None)
  }

  /** Replay latest-per-id over the files (streaming fold, O(ids) map —
    * an ops-check convenience; a real deployment asks the server via
    * [[HttpChangesFeed.liveDocCount]]). */
  override def liveDocCount(): Long = {
    val last = scala.collection.mutable.HashMap.empty[String, (Long, Boolean)]
    files().foreach { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().flatMap(ChangesFeed.parseLine(mapper, _)).foreach { e =>
        val cur = last.get(e.id)
        if (cur.forall(_._1 < e.seq)) last(e.id) = (e.seq, e.deleted)
      } finally src.close()
    }
    last.valuesIterator.count(!_._2)
  }

  /** Files are assumed seq-disjoint (rotated feed logs are; CouchDB
    * seqs are assigned monotonically). Overlapping files still give a
    * correct cap — counts stay exact per file — but the admitted batch
    * may land slightly off `n` inside the overlap window, which is fine:
    * ReadMaxRows is best-effort admission control, not a hard contract. */
  override def nthAfter(since: SeqTok, n: Long, capOrd: Long): SeqTok =
    SeqTok(nthOrdAfter(since.ord, n, capOrd), None)

  private def nthOrdAfter(since: Long, n: Long, cap: Long): Long = {
    if (n <= 0) return since
    val fs = files()
      .map(f => f -> summaryOf(f))
      .filter { case (_, s) => s.count > 0 && s.maxSeq > since && s.minSeq <= cap }
      .sortBy(_._2.minSeq)
    var remaining = n
    var last = since
    for ((f, s) <- fs) {
      if (remaining > 0) {
        val wholeFileInRange = s.minSeq > since && s.maxSeq <= cap
        if (wholeFileInRange && s.count <= remaining) {
          remaining -= s.count
          last = math.max(last, s.maxSeq)
        } else {
          // boundary file: the answer (or the range edge) is inside it
          val seqs = seqsIn(f, since, cap)
          if (seqs.nonEmpty) {
            if (seqs.length <= remaining) {
              remaining -= seqs.length
              last = math.max(last, seqs.last)
            } else {
              last = math.max(last, seqs(remaining.toInt - 1))
              remaining = 0
            }
          }
        }
      }
    }
    last
  }

  /** Byte-range slices across all files, ~`target` total — the unit of
    * read parallelism for planInputPartitions. */
  def slices(target: Int): Seq[(String, Long, Long)] = {
    val fs = files()
    if (fs.isEmpty) return Seq.empty
    val perFile = math.max(1, target / fs.size)
    fs.flatMap { f =>
      val len = f.length()
      val n = math.max(1, math.min(perFile, (len / (1 << 20)).toInt + 1))
      (0 until n).map { i =>
        val s = len * i / n
        val e = if (i == n - 1) Long.MaxValue else len * (i + 1) / n - 1
        (f.getPath, s, e)
      }
    }
  }
}
