package graft.streaming

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The production HTTP write-back path (S4 single PUT / S5 _bulk_docs),
  * end-to-end through [[JdkHttpPoster]] against the local stub — the
  * real client, real sockets, zero egress. */
class WriteBackSpec extends SparkSpec {

  private def docs(n: Int) = {
    import spark.implicits._
    spark.range(n.toLong).select(
      col("id"),
      concat(lit("""{"_id":"d"""), col("id"), lit("""","v":"""),
        col("id"), lit("}")).as("doc"))
  }

  test("bulk _bulk_docs POST: chunked, distributed, all chunks accepted") {
    val stub = new CouchStubServer("wb", IndexedSeq.empty)
    val port = stub.start()
    try {
      val out = BulkDocsSink.post(
        BulkDocsSink.chunked(docs(120), "id", "doc", chunkSize = 50),
        s"http://127.0.0.1:$port/wb", new JdkHttpPoster())
        .collect()
      assert(out.length == 3) // 120 docs / 50 per chunk
      assert(out.forall(_.getInt(2) == 201))
      assert(out.map(_.getLong(1)).sum == 120L)
      val (bulk, puts, bytes) = stub.writeStats
      assert(bulk == 3 && puts == 0 && bytes > 0)
    } finally stub.stop()
  }

  test("docs-per-POST ceiling: oversized chunk bounces 413, compliant chunks pass") {
    val stub = new CouchStubServer("wb", IndexedSeq.empty)
    stub.maxBulkDocs = 500
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      // one 501-doc chunk (chunkSize > corpus => a single POST): the
      // stub enforces the reference's ceiling and the sink surfaces it
      val oversized = BulkDocsSink.post(
        BulkDocsSink.chunked(docs(501), "id", "doc", chunkSize = 1000),
        url, new JdkHttpPoster()).collect()
      assert(oversized.length == 1 && oversized.head.getInt(2) == 413)
      assert(stub.bulkRejectedCount == 1L)
      // postPerDoc FAILS LOUDLY on the bounce (a 413 must never read
      // as zero conflicts)
      val thrown = intercept[org.apache.spark.SparkException] {
        BulkDocsSink.postPerDoc(
          BulkDocsSink.chunked(docs(501), "id", "doc", chunkSize = 1000),
          url, new JdkHttpPoster()).collect()
      }
      assert(thrown.getMessage.contains("413") ||
        Option(thrown.getCause).exists(_.getMessage.contains("413")))
      // the same corpus in compliant 50-doc chunks sails through
      val ok = BulkDocsSink.post(
        BulkDocsSink.chunked(docs(501), "id", "doc", chunkSize = 50),
        url, new JdkHttpPoster()).collect()
      assert(ok.length == 11 && ok.forall(_.getInt(2) == 201))
      assert(stub.bulkRejectedCount == 2L)
    } finally stub.stop()
  }

  test("per-doc PUT path: one request per row, executor-side") {
    val stub = new CouchStubServer("wb", IndexedSeq.empty)
    val port = stub.start()
    try {
      val out = BulkDocsSink.putEach(docs(10), "id", "doc",
        s"http://127.0.0.1:$port/wb", new JdkHttpPoster())
        .collect()
      assert(out.length == 10)
      assert(out.forall(_.getInt(1) == 201))
      val (bulk, puts, _) = stub.writeStats
      assert(bulk == 0 && puts == 10)
    } finally stub.stop()
  }

  test("_bulk_docs per-doc conflicts surface as status rows, not batch failures") {
    // modern CouchDB ignores all_or_nothing and reports conflicts per
    // doc in a 201 response (README.md:504-530) — the J1 shape: chunk
    // -> POST -> one status row per doc
    val stub = new CouchStubServer("wb", IndexedSeq.empty)
    stub.conflictIds = Set("d3", "d7")
    val port = stub.start()
    try {
      val out = BulkDocsSink.postPerDoc(
        BulkDocsSink.chunked(docs(10), "id", "doc", chunkSize = 4),
        s"http://127.0.0.1:$port/wb", new JdkHttpPoster())
        .collect()
      assert(out.length == 10) // one row per doc, batch did NOT fail
      val byId = out.map(r => r.getString(1) ->
        (r.getBoolean(2), r.getString(3), r.getString(4))).toMap
      assert(byId("d3") == ((false, "conflict", "Document update conflict.")))
      assert(byId("d7")._2 == "conflict")
      assert(byId.filterNot(kv => Set("d3", "d7")(kv._1))
        .values.forall(v => v._1 && v._2 == null))
      // every chunk was still posted (conflicts never abort the stream)
      val (bulk, _, _) = stub.writeStats
      assert(bulk == 3) // ceil(10/4)
    } finally stub.stop()
  }

  test("basic-auth header reaches the server") {
    // the recording endpoint: a one-off context that echoes the header
    val seen = new java.util.concurrent.atomic.AtomicReference[String]("")
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      seen.set(Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(201, 2)
      ex.getResponseBody.write("[]".getBytes)
      ex.close()
    })
    server.start()
    try {
      val poster = new JdkHttpPoster(Some(("mike", "secret")))
      val st = poster.post(
        s"http://127.0.0.1:${server.getAddress.getPort}/x", "{}")
      assert(st == 201)
      val expected = "Basic " + java.util.Base64.getEncoder
        .encodeToString("mike:secret".getBytes("UTF-8"))
      assert(seen.get() == expected)
    } finally server.stop(0)
  }

  test("batch-id guard: a replayed write-back batch never reaches the wire") {
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      val wb = java.nio.file.Files.createTempDirectory("wb-guard").toString
      val poster = new JdkHttpPoster()
      // first delivery POSTs and spills per-doc results
      assert(BulkDocsSink.postBatchGuarded(
        docs(120), 0L, "id", "doc", url, poster, wb))
      val (bulk1, _, _) = stub.writeStats
      val res = spark.read.parquet(BulkDocsSink.resultPath(wb, 0L))
      // one POST per partition-local chunk, all 120 docs covered
      assert(bulk1 == res.select("chunk_no").distinct().count())
      assert(BulkDocsSink.appliedBatches(wb) == Set(0L))
      // at-least-once redelivery of the SAME batchId: nothing sent,
      // spilled results untouched
      assert(!BulkDocsSink.postBatchGuarded(
        docs(120), 0L, "id", "doc", url, poster, wb))
      assert(stub.writeStats._1 == bulk1)
      assert(spark.read.parquet(BulkDocsSink.resultPath(wb, 0L))
        .count() == 120L)
      // a NEW batchId goes out; the PUT path shares the same guard/log
      assert(BulkDocsSink.putBatchGuarded(
        docs(10), 1L, "id", "doc", url, poster, wb))
      val puts1 = stub.writeStats._2
      assert(puts1 == 10L)
      assert(!BulkDocsSink.putBatchGuarded(
        docs(10), 1L, "id", "doc", url, poster, wb))
      assert(stub.writeStats._2 == puts1)
      assert(BulkDocsSink.appliedBatches(wb) == Set(0L, 1L))
    } finally stub.stop()
  }

  test("forBatch FAILS the batch on per-doc conflicts; no marker commits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    stub.conflictIds = Set("d3")
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      val wb = java.nio.file.Files.createTempDirectory("wb-conflict").toString
      implicit val sq = spark.sqlContext
      val in = MemoryStream[Long]
      in.addData(0L until 10L: _*)
      val q = in.toDF().select($"value".as("id"),
          concat(lit("""{"_id":"d"""), $"value", lit("""","v":"""),
            $"value", lit("}")).as("doc"))
        .writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("wb-cckpt").toString)
        .foreachBatch(BulkDocsSink.forBatch(url, new JdkHttpPoster(), wb))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination()
      }
      assert(Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(_.getMessage.contains("per-doc conflicts")),
        s"unexpected failure: $ex")
      // the marker must NOT have committed: redelivery would retry
      assert(BulkDocsSink.appliedBatches(wb).isEmpty)
    } finally stub.stop()
  }

  test("stateful stub serves GET /{db}/{docid}: stored doc, 404 on missing/deleted") {
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      val poster = new JdkHttpPoster()
      assert(poster.post(s"$url/dx", """{"v":7}""") == 201)
      val (st, body) = poster.get(s"$url/dx")
      assert(st == 200)
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      assert(n.path("_id").asText() == "dx" && n.path("v").asInt() == 7
        && n.path("_rev").asText().startsWith("1-"))
      assert(poster.get(s"$url/nope")._1 == 404)
    } finally stub.stop()
  }

  test("crash between spill and marker: redelivery CONVERGES (replay conflicts tolerated)") {
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      val wb = java.nio.file.Files.createTempDirectory("wb-crash").toString
      val poster = new JdkHttpPoster()
      val run = BulkDocsSink.forBatch(url, poster, wb)
      run(docs(10), 0L)
      assert(BulkDocsSink.appliedBatches(wb) == Set(0L))
      // manufacture the crash point the ADVICE names: POST + spill
      // happened, completion marker did NOT commit (intent remains)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(wb, "_wb_batches", "batch-0"))
      assert(BulkDocsSink.appliedBatches(wb).isEmpty)
      // redelivery re-POSTs; every doc reads back as a rev-guard
      // conflict, but all CONVERGE (server content == outgoing) -> the
      // batch commits instead of crash-looping
      run(docs(10), 0L)
      assert(BulkDocsSink.appliedBatches(wb) == Set(0L))
      val res = spark.read.parquet(BulkDocsSink.resultPath(wb, 0L))
      assert(res.count() == 10L &&
        res.where(col("error") === "conflict").count() == 10L)
    } finally stub.stop()
  }

  test("redelivery with a REAL conflict still fails: convergence is content-checked") {
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    stub.conflictIds = Set("d3") // forced conflict, nothing stored for d3
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      val wb = java.nio.file.Files.createTempDirectory("wb-real").toString
      val run = BulkDocsSink.forBatch(url, new JdkHttpPoster(), wb)
      val first = intercept[IllegalStateException] { run(docs(10), 0L) }
      assert(first.getMessage.contains("per-doc conflicts"))
      // redelivery: the 9 accepted docs converge as replay echoes, but
      // d3's server-side GET 404s (never stored) -> NOT converged ->
      // the batch still fails loudly, no marker
      val again = intercept[IllegalStateException] { run(docs(10), 0L) }
      assert(again.getMessage.contains("did not converge"))
      assert(BulkDocsSink.appliedBatches(wb).isEmpty)
    } finally stub.stop()
  }

  test("forBatch drives the guarded write-back from a real streaming query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      val wb = java.nio.file.Files.createTempDirectory("wb-stream").toString
      implicit val sq = spark.sqlContext
      val in = MemoryStream[Long]
      in.addData(0L until 60L: _*)
      val q = in.toDF().select($"value".as("id"),
          concat(lit("""{"_id":"d"""), $"value", lit("""","v":"""),
            $"value", lit("}")).as("doc"))
        .writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("wb-ckpt").toString)
        .foreachBatch(BulkDocsSink.forBatch(url, new JdkHttpPoster(), wb))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(stub.writeStats._1 >= 1L)
      assert(BulkDocsSink.appliedBatches(wb).nonEmpty)
      val res = BulkDocsSink.appliedBatches(wb).toSeq.map(b =>
        spark.read.parquet(BulkDocsSink.resultPath(wb, b)).count()).sum
      assert(res == 60L)
    } finally stub.stop()
  }

  test("duplicate _id in a redelivered batch cannot cancel a real conflict") {
    // ADVICE r13 (medium): the converged accounting counted RESULT ROWS,
    // and a duplicate _id in the batch produced more join-back rows than
    // conflict rows — the negative remainder cancelled a genuinely
    // unconverged conflict and committed a bad batch. Accounting is now
    // per UNIQUE id via anti-join, so this batch must still fail.
    import spark.implicits._
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      val poster = new JdkHttpPoster()
      // d1's content already landed on the server (the prior attempt)
      assert(poster.post(s"$url/d1", """{"_id":"d1","v":1}""") == 201)
      // force the re-POSTs to conflict: d1 converges (content matches),
      // d3 does not (never stored, GET 404s on a live payload)
      stub.conflictIds = Set("d1", "d3")
      val wb = java.nio.file.Files.createTempDirectory("wb-dup").toString
      // redelivered attempt: the intent marker says a prior send may
      // have reached the wire
      val log = java.nio.file.Paths.get(wb, "_wb_batches")
      java.nio.file.Files.createDirectories(log)
      java.nio.file.Files.write(log.resolve("intent-0"), Array.emptyByteArray)
      val df = Seq(
        ("d1", """{"_id":"d1","v":1}"""),
        ("d1", """{"_id":"d1","v":1}"""), // two revisions of one doc
        ("d3", """{"_id":"d3","v":3}"""),
        ("d5", """{"_id":"d5","v":5}""")).toDF("id", "doc")
      val run = BulkDocsSink.forBatch(url, poster, wb)
      val e = intercept[IllegalStateException] { run(df, 0L) }
      assert(e.getMessage.contains("did not converge"))
      assert(BulkDocsSink.appliedBatches(wb).isEmpty)
    } finally { stub.conflictIds = Set.empty; stub.stop() }
  }

  test("two DIFFERING revisions of one _id: convergence is judged against the LATEST") {
    // ADVICE r14 (medium): per-row verdicts let the STALE revision's
    // server match converge the id while the latest payload never
    // landed — the batch committed with the final state unapplied.
    // conflictsConverged now collapses to the winning payload per _id
    // (highest _rev ordinal) before comparing, so this batch must FAIL:
    // the server holds rev-1 content but the batch's final state is
    // the rev-2 payload.
    import spark.implicits._
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      val poster = new JdkHttpPoster()
      // the prior attempt landed only the STALE revision's content
      // (rev-less create; the server assigns its own rev — strip()
      // drops _id/_rev before compare, so only content matters)
      assert(poster.post(s"$url/d1", """{"_id":"d1","v":1}""") == 201)
      stub.conflictIds = Set("d1")
      val wb = java.nio.file.Files.createTempDirectory("wb-rev").toString
      val log = java.nio.file.Paths.get(wb, "_wb_batches")
      java.nio.file.Files.createDirectories(log)
      java.nio.file.Files.write(log.resolve("intent-0"), Array.emptyByteArray)
      def twoRevBatch(id: String) = Seq(
        (id, s"""{"_id":"$id","_rev":"1-a","v":1}"""), // stale
        (id, s"""{"_id":"$id","_rev":"2-b","v":2}""")) // latest
        .toDF("id", "doc")
      val run = BulkDocsSink.forBatch(url, poster, wb)
      val e = intercept[IllegalStateException] { run(twoRevBatch("d1"), 0L) }
      assert(e.getMessage.contains("did not converge"))
      assert(BulkDocsSink.appliedBatches(wb).isEmpty)
      // and the healthy twin: a doc whose server-side content already
      // IS the latest revision's converges as a replay echo
      stub.conflictIds = Set.empty
      assert(poster.post(s"$url/d2", """{"_id":"d2","v":2}""") == 201)
      stub.conflictIds = Set("d2")
      val wb2 = java.nio.file.Files.createTempDirectory("wb-rev2").toString
      val log2 = java.nio.file.Paths.get(wb2, "_wb_batches")
      java.nio.file.Files.createDirectories(log2)
      java.nio.file.Files.write(log2.resolve("intent-0"), Array.emptyByteArray)
      BulkDocsSink.forBatch(url, poster, wb2)(twoRevBatch("d2"), 0L)
      assert(BulkDocsSink.appliedBatches(wb2).nonEmpty)
    } finally { stub.conflictIds = Set.empty; stub.stop() }
  }

  test("a delete-carrying batch heals on redelivery: 404 converges a tombstone") {
    // ADVICE r13: convergence required GET 200, but an ACCEPTED
    // _deleted:true payload reads back 404 — a crash between spill and
    // marker on a delete-carrying batch crash-looped forever.
    import spark.implicits._
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    val port = stub.start()
    try {
      val url = s"http://127.0.0.1:$port/wb"
      val wb = java.nio.file.Files.createTempDirectory("wb-tomb").toString
      val df = Seq(
        ("d0", """{"_id":"d0","v":0}"""),
        ("d7", """{"_id":"d7","_deleted":true}""")).toDF("id", "doc")
      val run = BulkDocsSink.forBatch(url, new JdkHttpPoster(), wb)
      run(df, 0L) // first attempt: d0 stored, d7 tombstoned
      // crash point: spill + POST happened, completion marker did not
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(wb, "_wb_batches", "batch-0"))
      run(df, 0L) // both re-POSTs conflict; d0 matches content, d7 404s
      assert(BulkDocsSink.appliedBatches(wb) == Set(0L),
        "the tombstone replay echo must converge, not crash-loop")
    } finally stub.stop()
  }

  /** Seeded docs over 6 range partitions: partition 2 empty, about a
    * fifth of the rows dropped unevenly, about a tenth of the docs null,
    * ids descending within each partition (so a sort would show). */
  private def seededDocs(seed: Long) =
    spark.range(0L, 600L, 1L, 6)
      .where(spark_partition_id() =!= 2 && rand(seed) < 0.8)
      .select((lit(10000L) - col("id")).as("id"))
      .select(col("id"), when(rand(seed + 1) < 0.1, lit(null))
        .otherwise(concat(lit("""{"_id":"d"""), col("id"), lit("""","v":"""),
          col("id"), lit("}"))).as("doc"))

  test("streaming chunker: every doc in exactly one chunk, in partition order, full chunks but the last") {
    import spark.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (seed <- 1L to 3L; chunkSize <- Seq(1, 7, 50)) {
      val in = seededDocs(seed)
      val input = in.select(spark_partition_id(), col("doc"))
        .as[(Int, String)].collect().toSeq
      val chunks = BulkDocsSink.chunkedByPartition(in, "id", "doc", chunkSize)
        .as[(Long, Long, String)].collect().toSeq
      val ctx = s"seed $seed, chunkSize $chunkSize"
      assert(chunks.map(_._1).distinct.size == chunks.size, ctx)
      assert(chunks.map(_._2).sum == input.size.toLong, ctx)
      val byPid = chunks.groupBy(c => (c._1 >>> 32).toInt)
      assert(!byPid.contains(2), s"$ctx: the empty partition made a chunk")
      assert(byPid.keySet == input.map(_._1).toSet, ctx)
      byPid.foreach { case (pid, cs) =>
        val ordered = cs.sortBy(_._1)
        assert(ordered.map(_._1 & 0xFFFFFFFFL) == ordered.indices.map(_.toLong),
          s"$ctx: partition $pid's chunk indexes are not 0..n-1")
        assert(ordered.init.forall(_._2 == chunkSize.toLong) &&
          ordered.last._2 >= 1L && ordered.last._2 <= chunkSize.toLong,
          s"$ctx: only partition $pid's last chunk may be short")
        val docs = ordered.flatMap { c =>
          val arr = mapper.readTree(c._3)
          assert(arr.isArray, s"$ctx: ${c._3}")
          (0 until arr.size()).map(i => mapper.writeValueAsString(arr.get(i)))
        }
        assert(docs == input.collect { case (p, d) if p == pid && d != null => d },
          s"$ctx: partition $pid's docs are missing, repeated or reordered")
      }
      assert(input.exists(_._2 == null), s"$ctx: no null doc generated")
    }
  }

  test("chunk_no stays distinct past 1,000,000 chunks in one partition") {
    // chunkSize 1 over two 1,000,001-row partitions: the old key
    // pid * 1,000,000 + k collided at (0, 1,000,000) vs (1, 0)
    val chunks = BulkDocsSink.chunkedByPartition(
      spark.range(0L, 2000002L, 1L, 2)
        .select(col("id"), lit(null).cast("string").as("doc")),
      "id", "doc", chunkSize = 1)
    val r = chunks.agg(count(lit(1)), countDistinct(col("chunk_no")),
      countDistinct(shiftrightunsigned(col("chunk_no"), 32)),
      sum(col("n_docs")), max(length(col("docs_json")))).head()
    assert(r.getLong(0) == 2000002L && r.getLong(1) == 2000002L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 2000002L)
    assert(r.getInt(4) == 2) // all-null chunks are "[]"
  }

  test("chunkSize <= 0 fails clearly in both chunkers") {
    for (n <- Seq(0, -5)) {
      val a = intercept[IllegalArgumentException] {
        BulkDocsSink.chunkedByPartition(docs(10), "id", "doc", n)
      }
      val b = intercept[IllegalArgumentException] {
        BulkDocsSink.chunked(docs(10), "id", "doc", n)
      }
      assert(a.getMessage.contains("chunkSize") && b.getMessage.contains("chunkSize"))
    }
  }

  test("scan -> chunk -> POST -> per-doc parse runs as one stage; every doc gets one ok row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wb-onestage").toString
    seededDocs(4L).write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    val expected = in.where(col("doc").isNotNull)
      .select(concat(lit("d"), col("id"))).as[String].collect().sorted.toSeq
    val stub = new CouchStubServer("wb", IndexedSeq.empty, stateful = true)
    val port = stub.start()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "wb-onestage"))
          stages.add(e.stageInfos.size)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("wb-onestage", "one-stage write-back")
      val chunks = BulkDocsSink.chunkedByPartition(in, "id", "doc", 50)
      val res = BulkDocsSink.postPerDoc(
        chunks, s"http://127.0.0.1:$port/wb", new JdkHttpPoster())
      // the POST side plans over the chunker's RDD, so the executed
      // plans end at that boundary; the RDD lineage below them reaches
      // back to the scan and must hold no shuffle
      for (df <- Seq(chunks, res)) {
        val plan = df.queryExecution.executedPlan
        assert(plan.collect {
          case n @ (_: org.apache.spark.sql.execution.exchange.Exchange |
            _: org.apache.spark.sql.execution.window.WindowExec |
            _: org.apache.spark.sql.execution.SortExec) => n
        }.isEmpty, plan.toString)
      }
      def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Int =
        rdd.dependencies.map {
          case d: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
          case d => shuffles(d.rdd)
        }.sum
      assert(shuffles(res.rdd) == 0, res.rdd.toDebugString)
      val rows = res.select($"doc_id", $"ok").as[(String, Boolean)].collect()
      spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (stages.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(!stages.isEmpty && stages.asScala.forall(_ == 1),
        s"stages per job: ${stages.asScala.toSeq}")
      assert(rows.forall(_._2), "a doc was not accepted")
      assert(rows.map(_._1).sorted.toSeq == expected)
      assert(stub.writeStats._1 == chunks.count()) // one POST per chunk
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
      stub.stop()
    }
  }
}
