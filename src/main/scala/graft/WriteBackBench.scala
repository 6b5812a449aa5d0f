package graft

import org.apache.spark.sql.functions._

import graft.streaming.{BulkDocsSink, CouchStubServer, JdkHttpPoster}

/** Write-back throughput benchmark: documents → chunked `_bulk_docs`
  * POSTs (or per-doc PUTs) over REAL HTTP against the embedded CouchDB
  * stub, through the production [[graft.streaming.JdkHttpPoster]] —
  * every executor posts its own partitions' chunks; the driver never
  * sees a document.
  *
  * Yardstick (BASELINE.md): the reference's full-table write-back of
  * ~60 k docs through its per-doc HTTP PUT trigger takes ~10 minutes
  * round-trip (README.md:638-640); its fast path is `_bulk_docs` chunks
  * of 50 (README.md:504-530). Usage:
  *
  *   runMain graft.WriteBackBench [nDocs] [bulk|put] [chunkSize]
  *
  * Prints one JSON line {"metric":"writeback","mode":M,"docs":N,
  * "sec":S,"docs_per_sec":R,"requests":Q,"failed":F}.
  */
object WriteBackBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(63840)
    val mode = args.lift(1).getOrElse("bulk")
    val chunkSize = args.lift(2).map(_.toInt).getOrElse(50)
    val spark = SparkEntry.session()

    val stub = new CouchStubServer("wb", IndexedSeq.empty)
    val port = stub.start()
    val base = s"http://127.0.0.1:$port/wb"
    val docs = spark.range(n.toLong).select(
      col("id"),
      concat(lit("""{"_id":"doc"""), col("id"),
        lit("""","n":"""), col("id"),
        lit(""","type":"article","body":"payload """), col("id"),
        lit("\"}")).as("doc"))

    val t0 = System.nanoTime()
    val results =
      if (mode == "put")
        BulkDocsSink.putEach(docs, "id", "doc", base, new JdkHttpPoster())
          .select(col("status")).collect()
      else
        BulkDocsSink.post(
          BulkDocsSink.chunkedByPartition(docs, "id", "doc", chunkSize),
          base, new JdkHttpPoster())
          .select(col("status")).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val failed = results.count(_.getInt(0) != 201)
    val (bulkReqs, putReqs, _) = stub.writeStats
    println(s"""{"metric":"writeback","mode":"$mode","docs":$n,""" +
      f""""sec":$sec%.2f,"docs_per_sec":${(n / sec).toInt},""" +
      s""""requests":${bulkReqs + putReqs},"failed":$failed}""")
    stub.stop()
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
