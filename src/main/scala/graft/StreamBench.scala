package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.streaming.{ChangesPipeline, MergeSink}

/** End-to-end CDC ingest benchmark: JSONL `_changes` feed → DataSource
  * V2 source → micro-batches → rev-guarded merge → doc store, through
  * the REAL streaming machinery (offsets, checkpoint, versioned state).
  *
  * Yardstick (BASELINE.md): the reference syncs 63.8 k docs in 1 m 42 s
  * ≈ 625 docs/s with per-change SQL round-trips. Usage:
  *
  *   runMain graft.StreamBench [nDocs] [maxPerTrigger] [flat|bucketed]
  *                             [seedDocs] [file|http]
  *
  * `bucketed` uses [[graft.streaming.BucketedMergeSink]] (per-batch
  * cost O(touched buckets)); `flat` (default) is [[MergeSink]] (an
  * O(batch) delta per batch, compacted by its size rule).
  * Optional 4th arg seeds the store with that many docs FIRST (untimed),
  * so the timed phase measures incremental tail ingest against a large
  * resident state — the regime where bucketing pays.
  * 5th arg `http` serves the tail through [[graft.streaming.CouchStubServer]]
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
    val sinkKind = args.lift(2).getOrElse("flat")
    val bucketed = sinkKind == "bucketed"
    val seedDocs = args.lift(3).map(_.toInt).getOrElse(0)
    val transport = args.lift(4).getOrElse("file")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

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

    val sinkFn: (org.apache.spark.sql.DataFrame, Long) => Unit = sinkKind match {
      case "bucketed" =>
        graft.streaming.BucketedMergeSink.forBatch(store, buckets = 64)
      case "delta" =>
        graft.streaming.DeltaLogMergeSink.forBatch(store, compactEvery = 32)
      case _ => graft.streaming.MergeSink.forBatch(store)
    }

    def runPipeline(name: String, cap: Option[Long], path: String): Unit = {
      var reader = spark.readStream.format("couch-changes")
      if (path.startsWith("http://")) {
        val cut = path.lastIndexOf('/')
        reader = reader.option("url", path.substring(0, cut))
          .option("db", path.substring(cut + 1))
          .option("numPartitions", cpus)
      } else reader = reader.option("path", path)
      cap.foreach(m =>
        reader = reader.option("maxChangesPerTrigger", m.toString))
      val q = reader.load().writeStream
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(sinkFn)
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
    val (live, batches) = sinkKind match {
      case "bucketed" => (
        graft.streaming.BucketedMergeSink.readState(spark, store).count(),
        graft.streaming.BucketedMergeSink.readManifest(store)
          .map(_.batchId + 1).getOrElse(0L))
      case "delta" => (
        graft.streaming.DeltaLogMergeSink.readState(spark, store).count(),
        graft.streaming.DeltaLogMergeSink.readLog(store)
          .map(_.batchId + 1).getOrElse(0L))
      case _ => (
        MergeSink.readState(spark, store).count(),
        MergeSink.currentVersion(store).map(_._2 + 1).getOrElse(0L))
    }
    println(f"""{"metric":"stream_ingest","sink":"$sinkKind","docs":$n,"sec":$sec%.2f,"docs_per_sec":${n / sec}%.0f,"live_docs":$live,"batches":$batches}""")
    spark.stop()
  }
}
