package cdcbench

import java.net.InetSocketAddress
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer: name, start, end and the span that
  * caused it (0 = none). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span and counter store for the traced pass. While off every
  * call runs its body and records nothing, so untraced passes pay only
  * the branch. Spans may be opened from the driver thread and from the
  * streaming query's thread at once; each thread keeps its own parent
  * stack. */
final class Tracer {
  @volatile var enabled: Boolean = false
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val nextId = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val counters = new ConcurrentHashMap[String, Double]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0), name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def add(name: String, v: Double): Unit =
    if (enabled) counters.merge(name, v, (a: Double, b: Double) => a + b)

  def counter(name: String): Double = counters.getOrDefault(name, 0.0)

  /** Total seconds spent in spans of this name. */
  def seconds(name: String): Double =
    spans.asScala.iterator.filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  def count(name: String): Int = spans.asScala.count(_.name == name)

  /** Spans as JSON lines, written once at the end of the run. */
  def write(path: Path): Unit = if (!spans.isEmpty) {
    Files.createDirectories(path.getParent)
    val base = spans.asScala.map(_.startNs).minOption.getOrElse(0L)
    Files.write(path, spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_us":${(s.startNs - base) / 1000},"end_us":${(s.endNs - base) / 1000}}"""
    }.asJava)
  }
}

/** Task and stage counters from Spark's listener bus, keyed by the
  * `cdcbench.tag` local property that the benchmark sets around each
  * layer call. Totals over all tags feed the `spark.*` metrics. */
final class SparkCounters extends SparkListener {
  final class Acc {
    val tasks = new AtomicLong; val stages = new AtomicLong
    val runMs = new AtomicLong; val cpuNs = new AtomicLong; val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
    val maxTaskMs = new AtomicLong; val maxStageTasks = new AtomicLong
  }
  private val stageTag = new ConcurrentHashMap[Int, String]
  private val byTag = new ConcurrentHashMap[String, Acc]
  @volatile var total = new Acc

  def acc(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)
  def reset(): Unit = { byTag.clear(); stageTag.clear(); total = new Acc }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("cdcbench.tag")))
      .getOrElse("")
    e.stageInfos.foreach { s =>
      stageTag.put(s.stageId, tag)
      acc(tag).maxStageTasks.accumulateAndGet(s.numTasks, math.max)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.stages.incrementAndGet()
    acc(stageTag.getOrDefault(e.stageInfo.stageId, "")).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Seq(total, acc(stageTag.getOrDefault(e.stageId, ""))).foreach { a =>
      a.tasks.incrementAndGet()
      a.runMs.addAndGet(m.executorRunTime)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleBytes.addAndGet(
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.maxTaskMs.accumulateAndGet(e.taskInfo.duration, math.max)
    }
  }
}

/** `StreamingQueryProgress` of every trigger, as the engine reports it. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def clear(): Unit = events.clear()
  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = events.asScala.toSeq
}

/** Loopback HTTP relay placed between the engine and the CouchDB stub in
  * traced runs only: counts `_changes` requests and response bytes (the
  * fetch side of [[graft.streaming.HttpChangesFeed]]) and `_bulk_docs`
  * requests (the post side of [[graft.streaming.BulkDocsSink]]) without
  * touching either. */
final class CountingRelay(target: Int) {
  val changesRequests = new AtomicLong
  val changesBytes = new AtomicLong
  val bulkRequests = new AtomicLong
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8, r => {
    val t = new Thread(r, "cdcbench-relay"); t.setDaemon(true); t
  })

  def start(): Int = {
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => {
      val uri = ex.getRequestURI
      val body = ex.getRequestBody.readAllBytes()
      val b = HttpRequest.newBuilder(java.net.URI.create(
        s"http://127.0.0.1:$target${uri.getRawPath}" +
          Option(uri.getRawQuery).map("?" + _).getOrElse("")))
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .foreach(b.header("Authorization", _))
      Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .foreach(b.header("Content-Type", _))
      val req = ex.getRequestMethod match {
        case "GET" => b.GET().build()
        case m => b.method(m, HttpRequest.BodyPublishers.ofByteArray(body)).build()
      }
      val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      val out = resp.body()
      val path = uri.getPath
      if (path.endsWith("/_changes")) {
        changesRequests.incrementAndGet(); changesBytes.addAndGet(out.length)
      } else if (path.endsWith("/_bulk_docs")) {
        bulkRequests.incrementAndGet()
      }
      resp.headers().firstValue("Retry-After").ifPresent(v =>
        ex.getResponseHeaders.add("Retry-After", v))
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(resp.statusCode(), if (out.isEmpty) -1 else out.length)
      ex.getResponseBody.write(out)
      ex.close()
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** Everything a workload needs from the run: the session, its seed and
  * budget, a fresh scratch root, and the tracing hooks. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val root: Path,
    val traceRun: Boolean,
    val tracer: Tracer,
    val sparkCounters: SparkCounters,
    val progress: ProgressLog) {

  private val dirs = new AtomicInteger(0)
  /** A new empty directory under the run's scratch root. */
  def freshDir(name: String): Path =
    Files.createDirectories(root.resolve(s"$name-${dirs.incrementAndGet()}"))

  /** Run `body` with every Spark job it starts tagged for the counters. */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("cdcbench.tag")
    sc.setLocalProperty("cdcbench.tag", tag)
    try body finally sc.setLocalProperty("cdcbench.tag", prev)
  }

  def drain(): Unit = org.apache.spark.cdcbench.Drain.listeners(spark.sparkContext)
}

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    notes: Map[String, String] = Map.empty,
    counts: Map[String, Long] = Map.empty,
    oracle: Map[String, String] = Map.empty)

object Stats {
  /** Linear-interpolated percentile of an unsorted sample (0 <= p <= 100). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Bytes of every regular file under a directory. */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** The catalog families, as the per-layer `queries.<family>.*` metrics
  * name them. */
object Families {
  val all: Seq[String] = Seq("Relational", "JsonDoc", "Pipeline")
}
