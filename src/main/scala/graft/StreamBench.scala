package graft

import java.nio.file.{Files, Paths}

import graft.streaming.{FeedConn, MergeSink}

/** End-to-end CDC ingest benchmark: JSONL `_changes` feed → DataSource
  * V2 source → micro-batches → rev-guarded merge → doc store, through
  * the REAL streaming machinery (offsets, checkpoint, versioned state).
  *
  * Yardstick (BASELINE.md): the reference syncs 63.8 k docs in 1 m 42 s
  * ≈ 625 docs/s with per-change SQL round-trips. Usage:
  *
  *   runMain graft.StreamBench [nDocs] [maxPerTrigger] [seedDocs] [file|http]
  *
  * The store is [[MergeSink]] (an O(batch) delta per batch, compacted by
  * its size rule). `maxPerTrigger` 0 means no admission cap (one batch).
  * Optional 3rd arg seeds the store with that many docs FIRST (untimed),
  * so the timed phase measures incremental tail ingest against a large
  * resident state.
  * 4th arg `http` serves the tail through [[graft.streaming.CouchStubServer]]
  * and ingests it with the real [[graft.streaming.HttpChangesFeed]]
  * client (paged GETs, seq-range partitions) — the S1-over-HTTP
  * throughput number.
  * Prints one JSON line {"metric":"stream_ingest","docs":N,
  * "sec":S,"docs_per_sec":R,"batches":B}.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(63840)
    val maxPerTrigger = args.lift(1).map(_.toLong).filter(_ > 0)
    val seedDocs = args.lift(2).map(_.toInt).getOrElse(0)
    val transport = args.lift(3).getOrElse("file")
    val spark = SparkEntry.session()

    val dir = Files.createTempDirectory("streambench")
    val feed = dir.resolve("feed")
    Files.createDirectories(feed)
    // ~10% deletes, mixed revisions — the reference's workload mix
    def changeLine(i: Int, idSpace: Int): String = {
      val sb = new java.lang.StringBuilder
      sb.append(s"""{"seq":$i,"id":"doc${i % idSpace}","changes":[{"rev":"${i % 3 + 1}-r$i"}]""")
      if (i % 10 == 0) sb.append(""","deleted":true""")
      else sb.append(s""","doc":{"n":$i,"type":"article","body":"payload $i"}""")
      sb.append("}").toString
    }
    def writeChanges(file: String, from: Int, count: Int, idSpace: Int): Unit =
      Files.writeString(feed.resolve(file),
        (from until from + count).map(changeLine(_, idSpace))
          .mkString("", "\n", "\n"))
    val idSpace = math.max(seedDocs, n) * 8 / 10
    val store = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString

    def runPipeline(name: String, cap: Option[Long], path: String): Unit = {
      var reader = spark.readStream.format("couch-changes")
        .options(FeedConn.feedOptions(path))
      if (path.startsWith("http://"))
        reader = reader.option("numPartitions", SparkEntry.localCpus)
      cap.foreach(m =>
        reader = reader.option("maxChangesPerTrigger", m.toString))
      val q = reader.load().writeStream
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(MergeSink.forBatch(store))
        .start()
      q.awaitTermination()
    }

    if (seedDocs > 0) {
      writeChanges("seed.jsonl", 1, seedDocs, idSpace)
      runPipeline("seed", None, feed.toString) // untimed regardless of cap
    }
    var stub: graft.streaming.CouchStubServer = null
    val tailPath =
      if (transport == "http") {
        // dense seqs 1..(seedDocs+n); the server serves the WHOLE feed,
        // the source resumes past the seeded prefix via its checkpoint
        val all = (1 to seedDocs + n).map(changeLine(_, idSpace)).toIndexedSeq
        stub = new graft.streaming.CouchStubServer("bench", all)
        val port = stub.start()
        s"http://127.0.0.1:$port/bench"
      } else {
        writeChanges("tail.jsonl", seedDocs + 1, n, idSpace)
        feed.toString
      }
    val t0 = System.nanoTime()
    runPipeline("stream-bench", maxPerTrigger, tailPath)
    val sec = (System.nanoTime() - t0) / 1e9
    if (stub != null) stub.stop()
    val live = MergeSink.readState(spark, store).count()
    val batches = MergeSink.currentVersion(store).map(_._2 + 1).getOrElse(0L)
    println(f"""{"metric":"stream_ingest","docs":$n,"sec":$sec%.2f,"docs_per_sec":${n / sec}%.0f,"live_docs":$live,"batches":$batches}""")
    spark.stop()
  }
}
