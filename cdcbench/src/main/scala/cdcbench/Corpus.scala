package cdcbench

import scala.collection.mutable

/** Seeded generator of a CouchDB `articles` change feed, shaped like the
  * reference's 63,840-change sync: ~2 KB docs with `feedName`, `tags`,
  * `read` and `type` plus a few heterogeneous extra keys; 10% deletes;
  * some ids updated several times. Change lines carry dense seqs
  * (line i has seq i+1), the contract of `CouchStubServer`.
  *
  * The generator also keeps the latest-per-id fold of everything it has
  * emitted, which is what a converged store must equal. Docs are compact
  * JSON of strings, integers and booleans only, so the engine's parse and
  * re-serialisation returns them byte for byte.
  */
final class Corpus(seed: Long) {
  private val rnd = new java.util.Random(seed)
  private val words: Array[String] = {
    val r = new java.util.Random(7L) // fixed vocabulary: only choices vary by seed
    Array.tabulate(512) { _ =>
      val n = 3 + r.nextInt(7)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
  }

  private val lines = mutable.ArrayBuffer.empty[String]
  private val ords = new java.util.HashMap[String, Integer]
  /** id -> (rev, doc) of live docs. */
  val latest = new java.util.HashMap[String, (String, String)]
  private val live = mutable.ArrayBuffer.empty[String]
  private val livePos = new java.util.HashMap[String, Integer]
  private var nextId = 0

  def size: Int = lines.length
  def allLines: IndexedSeq[String] = lines.toIndexedSeq
  def liveCount: Int = live.length

  private def mix(x0: Long): Long = {
    var x = x0 * 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def revOf(id: String, ord: Int): String = {
    val h = mix(seed ^ id.hashCode.toLong * 31 + ord)
    f"$ord-$h%016x${mix(h)}%016x"
  }

  private def text(sb: java.lang.StringBuilder, chars: Int): Unit = {
    val start = sb.length
    while (sb.length - start < chars) {
      if (sb.length > start) sb.append(' ')
      sb.append(words(rnd.nextInt(words.length)))
    }
  }

  private def docOf(id: String, rev: String): String = {
    val sb = new java.lang.StringBuilder(2400)
    sb.append("{\"_id\":\"").append(id).append("\",\"_rev\":\"").append(rev)
      .append("\",\"type\":\"").append(if (rnd.nextInt(10) == 0) "comment" else "article")
      .append("\",\"feedName\":\"feed-").append(rnd.nextInt(40))
      .append("\",\"read\":").append(rnd.nextInt(4) == 0)
      .append(",\"tags\":[")
    (0 until rnd.nextInt(4)).foreach { i =>
      if (i > 0) sb.append(',')
      sb.append("\"t").append(rnd.nextInt(60)).append('"')
    }
    sb.append("],\"title\":\"")
    text(sb, 20 + rnd.nextInt(60))
    sb.append('"')
    // heterogeneous extra keys: each doc carries 0-4 of a pool of 32
    var used = 0L
    (0 until rnd.nextInt(5)).foreach { _ =>
      var k = rnd.nextInt(32)
      while ((used & (1L << k)) != 0) k = rnd.nextInt(32)
      used |= 1L << k
      if (k % 2 == 0) sb.append(",\"x").append(k).append("\":").append(rnd.nextInt(100000))
      else { sb.append(",\"x").append(k).append("\":\""); text(sb, 8); sb.append('"') }
    }
    sb.append(",\"body\":\"")
    text(sb, 1200 + rnd.nextInt(1400))
    sb.append("\"}")
    sb.toString
  }

  private def emit(id: String, deleted: Boolean): Unit = {
    val ord = Option(ords.get(id)).map(_.intValue).getOrElse(0) + 1
    ords.put(id, ord)
    val rev = revOf(id, ord)
    val seq = lines.length + 1
    if (deleted) {
      latest.remove(id)
      val p = livePos.remove(id).intValue
      val last = live.remove(live.length - 1)
      if (last != id) { live(p) = last; livePos.put(last, p) }
      lines += s"""{"seq":$seq,"id":"$id","changes":[{"rev":"$rev"}],"deleted":true}"""
    } else {
      val doc = docOf(id, rev)
      if (!latest.containsKey(id)) { livePos.put(id, live.length); live += id }
      latest.put(id, (rev, doc))
      lines += s"""{"seq":$seq,"id":"$id","changes":[{"rev":"$rev"}],"doc":$doc}"""
    }
  }

  def insert(): Unit = { emit(f"art-$nextId%07d", deleted = false); nextId += 1 }
  def update(id: String): Unit = emit(id, deleted = false)
  def delete(id: String): Unit = emit(id, deleted = true)
  def randomLive(): String = live(rnd.nextInt(live.length))

  /** The backlog mix: 82% inserts, 8% updates, 10% deletes, so 63,840
    * changes leave about 46 k live docs. */
  def backlog(n: Int): this.type = {
    (0 until n).foreach { _ =>
      val u = rnd.nextInt(100)
      if (u < 82 || live.length < 10) insert()
      else if (u < 90) update(randomLive())
      else delete(randomLive())
    }
    this
  }

  /** Zipf(1.1) over a seeded permutation of the ids live now: the hot
    * ids of the tail's updates, so one micro-batch collapses repeats. */
  private lazy val hot: (Array[String], Array[Double]) = {
    val ids = live.toArray
    var i = ids.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    val cdf = new Array[Double](ids.length)
    var acc = 0.0
    ids.indices.foreach { k => acc += 1.0 / math.pow(k + 1, 1.1); cdf(k) = acc }
    ids.indices.foreach(k => cdf(k) /= acc)
    (ids, cdf)
  }

  private def zipfLive(): String = {
    val (ids, cdf) = hot
    var idx = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    if (idx < 0) idx = -idx - 1
    val id = ids(math.min(idx, ids.length - 1))
    if (latest.containsKey(id)) id else randomLive()
  }

  /** The live-tail mix: 70% updates (Zipf over resident ids), 20%
    * inserts, 10% deletes. */
  def tail(n: Int): this.type = {
    (0 until n).foreach { _ =>
      val u = rnd.nextInt(100)
      if (u < 70) update(zipfLive())
      else if (u < 90) insert()
      else delete(randomLive())
    }
    this
  }
}
