package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

class EventLogSpec extends SparkSpec {

  test("listener observes connect / change.success / checkpoint (T9)") {
    val log = new EventLog
    spark.streams.addListener(log)
    try {
      val feed = Files.createTempDirectory("evlog-feed")
      Files.write(feed.resolve("f.jsonl"),
        (1 to 5).map(i =>
          s"""{"seq":$i,"id":"d$i","changes":[{"rev":"1-a"}],"doc":{"n":$i}}""")
          .mkString("\n").getBytes("UTF-8"))
      ChangesPipeline.runOnce(spark, feed.toString,
        Files.createTempDirectory("evlog-store").toString,
        Files.createTempDirectory("evlog-ckpt").toString,
        name = "evlog-feed")
      // listener bus is async; wait for delivery
      val deadline = System.currentTimeMillis() + 15000
      def events = log.forQuery("evlog-feed").map(_.event)
      while (!(events.contains("connect") && events.contains("checkpoint")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(events.contains("connect"))
      assert(events.contains("change.success"))
      assert(events.contains("checkpoint"))
      val ck = log.forQuery("evlog-feed").find(_.event == "checkpoint").get
      assert(ck.detail.contains("\"seq\":5"))
    } finally spark.streams.removeListener(log)
  }
}

class EventLogRingSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  test("a stopped query and a failed query are both found by name") {
    val log = new EventLog
    spark.streams.addListener(log)
    try {
      import spark.implicits._
      implicit val sq = spark.sqlContext
      def ckpt = Files.createTempDirectory("evlog-ckpt").toString
      val in = MemoryStream[Int]
      in.addData(1, 2, 3)
      val ok = in.toDF().writeStream.queryName("ev-stopped").format("noop")
        .option("checkpointLocation", ckpt).start()
      ok.processAllAvailable()
      ok.stop()
      val boom: (DataFrame, Long) => Unit =
        (_, _) => throw new IllegalStateException("boom")
      val bad = MemoryStream[Int]
      bad.addData(1)
      val failed = bad.toDF().writeStream.queryName("ev-failed")
        .option("checkpointLocation", ckpt).foreachBatch(boom).start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        failed.awaitTermination()
      }
      // listener bus is async; wait for both terminal events
      val deadline = System.currentTimeMillis() + 15000
      def ended(name: String) = log.forQuery(name)
        .exists(e => e.event == "stop" || e.event == "error")
      while (!(ended("ev-stopped") && ended("ev-failed")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(log.forQuery("ev-stopped").map(_.event).contains("stop"))
      assert(log.forQuery("ev-failed")
        .exists(e => e.event == "error" && e.detail.contains("boom")))
      assert(log.forQuery("ev-failed").head.event == "connect")
    } finally spark.streams.removeListener(log)
  }

  test("the log is a ring: size stays at capacity, newest events kept") {
    val log = new EventLog
    val n = EventLog.Capacity + 100
    (0 until n).foreach { i =>
      val id = java.util.UUID.randomUUID()
      val run = java.util.UUID.randomUUID()
      log.onQueryStarted(new QueryStartedEvent(id, run, s"feed-$i", "t"))
      log.onQueryTerminated(new QueryTerminatedEvent(id, run, None))
    }
    assert(log.all.size == EventLog.Capacity)
    assert(log.forQuery(s"feed-${n - 1}").map(_.event) == Seq("connect", "stop"))
    assert(log.forQuery("feed-0").isEmpty)
  }
}
