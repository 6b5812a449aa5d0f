package cdcbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.functions.Json
import graft.streaming.{BulkDocsSink, JdkHttpPoster, MergeSink}

/** The three workloads that drive the CDC loop through the engine's
  * public entry points. Each is set up (untimed, counted in `setup_s`),
  * then measured warm; a traced run repeats the measured part with the
  * tracer on and reports its overhead against the untraced part. */
object Workloads {
  /** The reference's `articles` backlog (63,840 changes, ~46 k live docs). */
  val backlogChanges = 63840
  /** A change visible later than this after it was due counts as late:
    * the reference daemon's idle cycle. */
  val freshnessLimitMs = 10000.0

  private def ms(ns: Long): Double = ns / 1e6

  /** `sync`: initial sync of the seeded backlog into an empty store over
    * HTTP, repeated into fresh stores after one untimed sync: one repetition per
    * 2 s of the run's time, at least two. A fixed count, not a deadline,
    * so the median is the same repetition in every run while the JIT is
    * still settling (the first repetitions run 10-20% slower). */
  def sync(ctx: Ctx, markReady: () => Unit): Outcome = {
    val spark = ctx.spark
    val corpus = new Corpus(ctx.seed).backlog(backlogChanges)
    val n = corpus.size
    val couch = new Couch(ctx, corpus.allLines, stateful = false)
    try {
      val want = Streams.signature(corpus)
      def once(): (Double, Array[Double], Long) = {
        val sink = new StoreSink(ctx, ctx.freshDir("store").toString, ctx.freshDir("ckpt").toString)
        val t0 = System.nanoTime()
        sink.follow(couch.url, "sync", Streams.ingestTrigger).awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val lat = sink.visibleAt(0, n).map(t => if (t == Long.MaxValue) Double.PositiveInfinity else ms(t - t0))
        (wall, lat, Streams.storeMismatch(spark, sink.root, corpus, want))
      }
      once() // warm-up, untimed
      markReady()
      val reps = mutable.ArrayBuffer.fill(math.max(2, (ctx.seconds / 2).round.toInt))(once())
      var layers = Map.empty[String, Double]
      if (ctx.traceRun) {
        Streams.resetCounters(ctx)
        ctx.tracer.enabled = true
        val traced = try once() finally ctx.tracer.enabled = false
        reps += traced.copy(_1 = Double.NaN) // checked, not timed
        layers = Streams.feedLayers(ctx, couch) ++ Streams.sparkLayers(ctx) ++ Map(
          "trace.overhead_frac" -> (traced._1 / Stats.median(reps.map(_._1).filterNot(_.isNaN).toSeq) - 1))
      }
      val timed = reps.filterNot(_._1.isNaN)
      val lat = timed.flatMap(_._2).toSeq
      Outcome(
        attempted = n.toLong * reps.size,
        failed = reps.map(_._3).sum + lat.count(_.isInfinite),
        endToEnd = Map(
          "throughput_per_s" -> n / Stats.median(timed.map(_._1).toSeq),
          "latency_p50_ms" -> Stats.pct(lat, 50),
          "latency_p90_ms" -> Stats.pct(lat, 90)),
        layers = layers,
        notes = Map("rep_s" -> timed.map(r => f"${r._1}%.3f").mkString(" "),
          "live_docs" -> corpus.liveCount.toString))
    } finally couch.stop()
  }

  /** `tail`: an open-loop generator appends changes on a fixed schedule
    * (phase lo at 100/s, then phase hi at 1,000/s) to a feed whose
    * follower runs with the `Supervisor`'s default trigger against a
    * store pre-seeded with the backlog. Freshness is stamped from each
    * change's due time. */
  def tail(ctx: Ctx, markReady: () => Unit): Outcome = {
    val spark = ctx.spark
    val corpus = new Corpus(ctx.seed).backlog(backlogChanges)
    val seeded = corpus.size
    val phaseS = ctx.seconds / 2
    val rates = Seq("lo" -> 100, "hi" -> 1000)
    val passes = if (ctx.traceRun) 2 else 1
    val warmup = 500
    corpus.tail(warmup)
    // per pass and phase: the due offset (ns from the pass start) of each change
    val schedule = (0 until passes).map { _ =>
      var off = 0L
      rates.map { case (phase, rate) =>
        val k = (rate * phaseS).round.toInt
        corpus.tail(k)
        val dues = Array.tabulate(k)(i => off + (i * 1e9 / rate).toLong)
        off += (phaseS * 1e9).toLong
        phase -> dues
      }
    }
    val lines = new GrowingLines(corpus.allLines)
    lines.limit = seeded
    val couch = new Couch(ctx, lines, stateful = false)
    try {
      val sink = new StoreSink(ctx, ctx.freshDir("store").toString, ctx.freshDir("ckpt").toString)
      sink.follow(couch.url, "tail-seed", Streams.ingestTrigger).awaitTermination()
      // warm-up, untimed: the follower merges a first burst into the store
      var q = sink.follow(couch.url, "tail", Streams.followTrigger)
      var released = seeded + warmup
      lines.limit = released
      val warmDeadline = System.nanoTime() + 60000000000L
      while (sink.committedSeq.get < released && System.nanoTime() < warmDeadline) Thread.sleep(5)
      require(sink.committedSeq.get >= released, "tail warm-up burst never became visible")
      markReady()
      val perPass = schedule.zipWithIndex.map { case (phases, p) =>
        if (p == 1) {
          q.stop() // the traced pass follows through the relay
          Streams.resetCounters(ctx)
          ctx.tracer.enabled = true
          q = sink.follow(couch.url, "tail", Streams.followTrigger)
        }
        val base = released
        val all = phases.flatMap(_._2).toArray
        var lateMax = 0.0
        var backlogMax = 0L
        val t0 = System.nanoTime()
        var i = 0
        while (i < all.length) {
          val now = System.nanoTime()
          if (now - t0 >= all(i)) {
            lateMax = math.max(lateMax, ms(now - t0 - all(i)))
            while (i < all.length && now - t0 >= all(i)) i += 1
            lines.limit = base + i
            backlogMax = math.max(backlogMax, base + i - sink.committedSeq.get)
          } else java.util.concurrent.locks.LockSupport.parkNanos(
            math.min(all(i) - (now - t0), 1000000L))
        }
        released = base + all.length
        val deadline = t0 + all.last + (freshnessLimitMs * 1e6).toLong
        while (sink.committedSeq.get < released && System.nanoTime() < deadline) Thread.sleep(5)
        val vis = sink.visibleAt(base, released)
        val fresh = all.indices.map { k =>
          if (vis(k) == Long.MaxValue) Double.PositiveInfinity else ms(vis(k) - t0 - all(k)) }
        val lo = phases.head._2.length
        val lastVisible = vis.filter(_ != Long.MaxValue).maxOption.getOrElse(t0)
        val rate = fresh.count(_ <= freshnessLimitMs) / ((lastVisible - t0) / 1e9)
        (fresh, fresh.take(lo), fresh.drop(lo), lateMax, backlogMax, rate)
      }
      q.stop()
      ctx.tracer.enabled = false
      val mismatch = Streams.storeMismatch(spark, sink.root, corpus, Streams.signature(corpus))
      val (fresh, lo, hi, _, _, rate) = perPass.head
      var layers = Map.empty[String, Double]
      if (ctx.traceRun) {
        val (tf, tlo, thi, tLate, tBacklog, _) = perPass(1)
        layers = Streams.feedLayers(ctx, couch) ++ Streams.sparkLayers(ctx) ++ Map(
          "tail.lo_freshness_p50_ms" -> Stats.pct(tlo, 50),
          "tail.lo_freshness_p99_ms" -> Stats.pct(tlo, 99),
          "tail.hi_freshness_p50_ms" -> Stats.pct(thi, 50),
          "tail.hi_freshness_p99_ms" -> Stats.pct(thi, 99),
          "tail.backlog_max" -> tBacklog.toDouble,
          "generator.late_ms" -> tLate,
          "trace.overhead_frac" -> (Stats.median(tf) / Stats.median(fresh) - 1))
      }
      val allFresh = perPass.flatMap(_._1)
      Outcome(
        attempted = allFresh.size.toLong,
        failed = allFresh.count(f => f.isInfinite || f > freshnessLimitMs) + mismatch,
        endToEnd = Map(
          "throughput_per_s" -> rate,
          "latency_p50_ms" -> Stats.pct(fresh, 50),
          "latency_p90_ms" -> Stats.pct(fresh, 90)),
        layers = layers,
        notes = Map("lo_p50_ms" -> f"${Stats.pct(lo, 50)}%.1f", "hi_p50_ms" -> f"${Stats.pct(hi, 50)}%.1f",
          "lo_p99_ms" -> f"${Stats.pct(lo, 99)}%.1f", "hi_p99_ms" -> f"${Stats.pct(hi, 99)}%.1f",
          "backlog_max" -> perPass.head._5.toString, "generator_late_ms" -> f"${perPass.head._4}%.2f"))
    } finally couch.stop()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** `roundtrip`: the README's full-table UPDATE. Every live doc of the
    * pre-seeded store gets `read=true` through the `functions.Json` map
    * kernels, goes back with its rev in `_bulk_docs` chunks of 50 to a
    * stateful stub, and the running follower ingests the echoes until
    * every doc carries its new rev. */
  def roundtrip(ctx: Ctx, markReady: () => Unit): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val corpus = new Corpus(ctx.seed).backlog(backlogChanges)
    val couch = new Couch(ctx, corpus.allLines, stateful = true)
    try {
      val sink = new StoreSink(ctx, ctx.freshDir("store").toString, ctx.freshDir("ckpt").toString)
      sink.follow(couch.url, "rt-seed", Streams.ingestTrigger).awaitTermination()
      var seqNow = corpus.size.toLong
      var q = sink.follow(couch.url, "rt-follow", Streams.followTrigger)
      val poster = new JdkHttpPoster()
      val tr = ctx.tracer

      /** One UPDATE over the docs `pick` selects; (wall s, per-doc
        * latency ms, failed docs). */
      def once(pick: org.apache.spark.sql.Column): (Double, Array[Double], Long) = {
        val before = MergeSink.readState(spark, sink.root).where(pick)
          .select($"id", $"rev").as[(String, String)].collect().toMap
        val t0 = System.nanoTime()
        val mapped = tr.span("functions.Json.map") {
          val m = MergeSink.readState(spark, sink.root).where(pick).select($"id",
            Json.mapToJson(transform_values(Json.toStrMap($"doc"),
              (k, v) => when(k === "read", lit("true")).otherwise(v))).as("doc"))
          if (tr.enabled) { m.persist(); ctx.tagged("json") { m.count() } }
          m
        }
        val chunks = tr.span("BulkDocsSink.chunk") {
          val c = BulkDocsSink.chunkedByPartition(mapped, "id", "doc", 50)
          if (tr.enabled) { c.persist(); ctx.tagged("chunk") { c.count() } }
          c
        }
        val results = tr.span("BulkDocsSink.post") {
          ctx.tagged("post") {
            BulkDocsSink.postPerDoc(chunks, couch.url, poster)
              .select($"doc_id", $"ok").as[(String, Boolean)].collect()
          }
        }
        if (tr.enabled) { mapped.unpersist(); chunks.unpersist() }
        val accepted = results.count(_._2)
        tr.add("BulkDocsSink.conflicts", (results.length - accepted).toDouble)
        val target = seqNow + accepted
        tr.span("roundtrip.echo_ingest") {
          val deadline = System.nanoTime() + 120000000000L
          while (sink.committedSeq.get < target && System.nanoTime() < deadline) Thread.sleep(5)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val vis = sink.visibleAt(seqNow, target)
        seqNow = target
        val lat = vis.map(t => if (t == Long.MaxValue) Double.PositiveInfinity else ms(t - t0))
        val after = MergeSink.readState(spark, sink.root).where(pick)
          .select($"id", $"rev", Json.get($"doc", "read")).as[(String, String, String)]
          .collect()
        val wrong = after.count { case (id, rev, read) =>
          val next = before.get(id).map { r =>
            val o = r.substring(0, r.indexOf('-')).toLong + 1
            s"$o-${md5hex(s"$id:$o")}"
          }
          !next.contains(rev) || read != "true"
        }
        val missing = before.size - after.length
        (wall, lat, (results.length - accepted) + wrong + math.abs(missing).toLong)
      }

      // warm-up: the same UPDATE over 1 doc in 100, untimed
      once(xxhash64($"id") % 100 === 0)
      markReady()
      // one full-table UPDATE (about 7 s on a 4-core box) is the run
      val reps = mutable.ArrayBuffer(once(lit(true)))
      var layers = Map.empty[String, Double]
      if (ctx.traceRun) {
        q.stop() // the traced pass follows through the relay
        Streams.resetCounters(ctx)
        tr.enabled = true
        val traced = try {
          q = sink.follow(couch.url, "rt-follow", Streams.followTrigger)
          once(lit(true))
        } finally tr.enabled = false
        reps += traced.copy(_1 = Double.NaN)
        layers = Streams.feedLayers(ctx, couch) ++ Streams.sparkLayers(ctx) ++ Map(
          "functions.Json.map_s" -> tr.seconds("functions.Json.map"),
          "BulkDocsSink.chunk_s" -> tr.seconds("BulkDocsSink.chunk"),
          "BulkDocsSink.post_s" -> tr.seconds("BulkDocsSink.post"),
          "BulkDocsSink.requests" -> couch.relay.bulkRequests.get.toDouble,
          "BulkDocsSink.conflicts" -> tr.counter("BulkDocsSink.conflicts"),
          "roundtrip.echo_ingest_s" -> tr.seconds("roundtrip.echo_ingest"),
          "trace.overhead_frac" ->
            (traced._1 / Stats.median(reps.map(_._1).filterNot(_.isNaN).toSeq) - 1))
      }
      q.stop()
      val timed = reps.filterNot(_._1.isNaN)
      val lat = timed.flatMap(_._2).toSeq
      Outcome(
        attempted = reps.map(_._2.length.toLong).sum,
        failed = reps.map(_._3).sum + lat.count(_.isInfinite),
        endToEnd = Map(
          "throughput_per_s" -> timed.head._2.length / timed.head._1,
          "latency_p50_ms" -> Stats.pct(lat, 50),
          "latency_p90_ms" -> Stats.pct(lat, 90)),
        layers = layers,
        notes = Map("roundtrip_s" -> f"${timed.head._1}%.3f"))
    } finally couch.stop()
  }
}
