package cdcbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.ChangeApply
import graft.streaming.{ChangesOffset, ChangesPipeline, CouchStubServer, MergeSink}

/** A change list that grows while the stub serves it: the first [[limit]]
  * lines exist, the rest "have not happened yet". The open-loop
  * generator widens it on schedule. */
final class GrowingLines(under: IndexedSeq[String])
    extends scala.collection.immutable.IndexedSeq[String] {
  @volatile var limit: Int = under.length
  def length: Int = math.min(limit, under.length)
  def apply(i: Int): String = {
    if (i < 0 || i >= length)
      throw new IndexOutOfBoundsException(s"$i outside [0,$length)")
    under(i)
  }
}

/** The CouchDB stand-in: the engine's stub, plus the counting relay in
  * front of it for traced passes. */
final class Couch(ctx: Ctx, lines: IndexedSeq[String], stateful: Boolean) {
  val stub = new CouchStubServer("articles", lines, stateful = stateful)
  private val stubPort = stub.start()
  val relay = new CountingRelay(stubPort)
  private val relayPort = relay.start()
  /** The feed URL for the current pass: through the relay when traced. */
  def url: String =
    s"http://127.0.0.1:${if (ctx.tracer.enabled) relayPort else stubPort}/articles"
  def stop(): Unit = { relay.stop(); stub.stop() }
}

/** The store a feed maintains, driven by the same calls as a
  * `FeedSink.Store` feed of the engine's `Supervisor`: every micro-batch
  * goes to `MergeSink.applyBatch`. It stamps when each batch became
  * visible and how far in the feed it reached (the batch's end offset,
  * read from the checkpoint's offset log).
  *
  * In a traced pass only, the batch is materialised first so that the
  * source read (fetch and parse), the merge decision and the store write
  * time separately; the merge decision is planned a second time, as
  * `ChangeApply.planActions`, to count useful actions. */
final class StoreSink(ctx: Ctx, val root: String, val ckpt: String)
    extends ((DataFrame, Long) => Unit) {
  /** (end seq, nanoTime when visible) of every applied batch. */
  val commits = new ConcurrentLinkedQueue[(Long, Long)]
  val committedSeq = new AtomicLong(0L)
  private val spark: SparkSession = ctx.spark
  private val tr = ctx.tracer

  private def endSeq(batchId: Long): Long = {
    val lines = Files.readAllLines(
      java.nio.file.Paths.get(ckpt, "offsets", batchId.toString), StandardCharsets.UTF_8)
    ChangesOffset.fromJson(lines.asScala.filter(_.contains("\"seq\"")).last).seq
  }

  def apply(batch: DataFrame, batchId: Long): Unit = {
    if (!tr.enabled) MergeSink.applyBatch(root, batch, batchId)
    else tr.span("ChangesPipeline.batch") { traced(batch, batchId) }
    val seq = endSeq(batchId)
    commits.add((seq, System.nanoTime()))
    committedSeq.accumulateAndGet(seq, math.max)
  }

  private def traced(batch: DataFrame, batchId: Long): Unit = {
    val cached = batch.persist()
    try {
      val n = tr.span("HttpChangesFeed.fetch_parse") {
        ctx.tagged("source") { cached.count() }
      }
      val cur = MergeSink.currentVersion(root)
      val (useful, changedBytes) = tr.span("ChangeApply.merge") {
        ctx.tagged("merge") {
          val r =
            if (cur.isEmpty || cur.contains((0L, -1L)))
              ChangeApply.initialState(cached)
                .agg(count(lit(1)), coalesce(sum(length(col("doc"))), lit(0L))).head()
            else ChangeApply.planActions(MergeSink.readState(spark, root), cached)
              .where(col("action").isin("INSERT", "UPDATE", "DELETE"))
              .agg(count(lit(1)), coalesce(sum(length(col("c_doc"))), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
      }
      val applied = tr.span("MergeSink.applyBatch") {
        ctx.tagged("store") { MergeSink.applyBatch(root, cached, batchId) }
      }
      if (applied) MergeSink.currentVersion(root).foreach { case (v, _) =>
        tr.add("MergeSink.bytes_written", Stats.dirBytes(java.nio.file.Paths.get(root, s"v=$v")))
      }
      tr.add("ChangeApply.changes", n.toDouble)
      tr.add("ChangeApply.useful", useful.toDouble)
      tr.add("MergeSink.changed_bytes", changedBytes.toDouble)
    } finally cached.unpersist()
  }

  /** Start following `url` into the store. */
  def follow(url: String, name: String, trigger: Trigger): StreamingQuery =
    ChangesPipeline.startWith(spark, url, ckpt, name, this, trigger = trigger)

  /** Visibility time of every seq in (from, to]: the first batch that
    * reached it; Long.MaxValue if none did. */
  def visibleAt(from: Long, to: Long): Array[Long] = {
    val cs = commits.asScala.toSeq.sortBy(_._1)
    val out = Array.fill((to - from).toInt)(Long.MaxValue)
    var lo = from
    cs.foreach { case (end, t) =>
      while (lo < math.min(end, to)) {
        val i = (lo - from).toInt
        if (out(i) == Long.MaxValue) out(i) = t
        lo += 1
      }
    }
    out
  }
}

object Streams {
  val ingestTrigger: Trigger = Trigger.AvailableNow()
  /** The `Supervisor`'s default trigger for a live feed. */
  val followTrigger: Trigger = Trigger.ProcessingTime("1 second")

  /** Order-free signature of a store's (id, rev, doc) rows: the row count
    * and the xor of Spark's `xxhash64` over each row. */
  private def signature(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("id"), col("rev"), col("doc"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The same signature for the generator's latest-per-id fold, computed
    * without Spark jobs (Spark's `xxhash64` chains the columns from seed 42). */
  def signature(corpus: Corpus): (Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    var x = 0L
    corpus.latest.forEach { (id, v) =>
      var h = 42L
      Seq(id, v._1, v._2).foreach(s => h = XxHash64Function.hash(UTF8String.fromString(s), StringType, h))
      x ^= h
    }
    (corpus.latest.size.toLong, x)
  }

  /** Rows whose (id, rev, doc) differ between a store and the generator's
    * fold: 0 when the signatures agree, else the size of the symmetric
    * difference. */
  def storeMismatch(spark: SparkSession, root: String, corpus: Corpus, want: (Long, Long)): Long = {
    val store = MergeSink.readState(spark, root).select("id", "rev", "doc")
    if (signature(store) == want) 0L
    else {
      import spark.implicits._
      val expected = corpus.latest.asScala.toSeq.map { case (id, (rev, doc)) => (id, rev, doc) }
        .toDF("id", "rev", "doc")
      store.exceptAll(expected).count() + expected.exceptAll(store).count()
    }
  }

  /** Layer metrics of the feed path from a traced pass: spans, the
    * engine's own progress reports, the relay's request counts. */
  def feedLayers(ctx: Ctx, couch: Couch): Map[String, Double] = {
    ctx.drain()
    val tr = ctx.tracer
    val ps = ctx.progress.all.filter(_.numInputRows > 0)
    def meanDur(k: String): Double =
      if (ps.isEmpty) 0.0
      else ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / ps.size
    val starts = ctx.progress.all.map(p =>
      (java.time.Instant.parse(p.timestamp).toEpochMilli,
        Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)))
      .sortBy(_._1)
    val waits = starts.zip(starts.drop(1)).map { case ((t0, d0), (t1, _)) =>
      math.max(0.0, t1 - t0 - d0) }
    val changes = tr.counter("ChangeApply.changes")
    val changed = tr.counter("MergeSink.changed_bytes")
    Map(
      "HttpChangesFeed.requests" -> couch.relay.changesRequests.get.toDouble,
      "HttpChangesFeed.bytes" -> couch.relay.changesBytes.get.toDouble,
      "HttpChangesFeed.fetch_parse_s" -> tr.seconds("HttpChangesFeed.fetch_parse"),
      "ChangesSource.latestOffset_ms" -> meanDur("latestOffset"),
      "ChangesSource.partitions" -> ctx.sparkCounters.acc("source").maxStageTasks.get.toDouble,
      "ChangesPipeline.queryPlanning_ms" -> meanDur("queryPlanning"),
      "ChangesPipeline.walCommit_ms" -> meanDur("walCommit"),
      "ChangesPipeline.commitOffsets_ms" -> meanDur("commitOffsets"),
      "ChangesPipeline.trigger_wait_ms" ->
        (if (waits.isEmpty) 0.0 else waits.sum / waits.size),
      "ChangesPipeline.batches" -> ps.size.toDouble,
      "ChangesPipeline.changes_per_batch" ->
        (if (ps.isEmpty) 0.0 else ps.map(_.numInputRows.toDouble).sum / ps.size),
      "ChangeApply.merge_s" -> tr.seconds("ChangeApply.merge"),
      "ChangeApply.useful_frac" ->
        (if (changes > 0) tr.counter("ChangeApply.useful") / changes else 0.0),
      "MergeSink.applyBatch_ms" -> {
        val k = tr.count("MergeSink.applyBatch")
        if (k == 0) 0.0 else tr.seconds("MergeSink.applyBatch") * 1000 / k
      },
      "MergeSink.bytes_written" -> tr.counter("MergeSink.bytes_written"),
      "MergeSink.write_amp" ->
        (if (changed > 0) tr.counter("MergeSink.bytes_written") / changed else 0.0))
  }

  /** Spark-wide counters of the traced pass. */
  def sparkLayers(ctx: Ctx): Map[String, Double] = {
    ctx.drain()
    val t = ctx.sparkCounters.total
    Map(
      "spark.executor_run_s" -> t.runMs.get / 1e3,
      "spark.executor_cpu_s" -> t.cpuNs.get / 1e9,
      "spark.gc_s" -> t.gcMs.get / 1e3,
      "spark.tasks" -> t.tasks.get.toDouble)
  }

  /** Zero the listener-side counters at the start of a traced pass. */
  def resetCounters(ctx: Ctx): Unit = {
    ctx.drain()
    ctx.progress.clear()
    ctx.sparkCounters.reset()
  }
}
