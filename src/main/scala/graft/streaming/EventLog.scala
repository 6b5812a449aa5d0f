package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The reference's EventEmitter bus (`connect`, `change.start/success`,
  * `checkpoint`, `error`, `stop` — reference lib/index.js:42, 199-232,
  * SURVEY §2.11 T9) projected onto Spark's StreamingQueryListener.
  *
  * One listener serves every feed on the session; every event carries
  * the query name (= mangled feed name; the query id for an unnamed
  * query), so a log sink or the status API can fan back out per feed.
  * Spark's termination event carries only the run id, so the name is
  * remembered from the run's start event.
  *
  * The log is a ring of the newest [[EventLog.Capacity]] events, so a
  * long-lived daemon's listener stays bounded.
  */
final class EventLog extends StreamingQueryListener {

  final case class Entry(event: String, query: String, detail: String)

  private val ring = new java.util.ArrayDeque[Entry](EventLog.Capacity)
  private val runNames = new ConcurrentHashMap[UUID, String]()

  private def add(e: Entry): Unit = ring.synchronized {
    if (ring.size == EventLog.Capacity) ring.removeFirst()
    ring.addLast(e)
  }

  private def key(name: String, id: UUID): String =
    Option(name).getOrElse(id.toString)

  def all: Seq[Entry] = ring.synchronized(ring.asScala.toVector)
  def forQuery(name: String): Seq[Entry] = all.filter(_.query == name)
  def clear(): Unit = ring.synchronized(ring.clear())

  /** `connect` (lib/index.js:251-255: feed confirmed). */
  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    runNames.put(e.runId, key(e.name, e.id))
    add(Entry("connect", key(e.name, e.id), e.id.toString))
  }

  /** `change.success` + `checkpoint` per micro-batch: Spark commits
    * offsets with the batch, so one progress event covers both
    * (SURVEY §2.11 T5: strictly better than the timer-based 20 s/120 s
    * checkpoint cadence). */
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    add(Entry("change.success", key(p.name, p.id),
      s"rows=${p.numInputRows}"))
    add(Entry("checkpoint", key(p.name, p.id),
      Option(p.sources).flatMap(_.headOption)
        .flatMap(s => Option(s.endOffset)).getOrElse("")))
  }

  /** `stop` / `error` (lib/index.js:205-230 error classification). */
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    add(Entry(
      if (e.exception.isDefined) "error" else "stop",
      Option(runNames.remove(e.runId)).getOrElse(e.id.toString),
      e.exception.getOrElse("")))
}

object EventLog {

  /** Events kept. A feed logs two events per micro-batch, so at the
    * daemon's 1 s trigger 4096 entries hold about 30 minutes of one
    * feed's history (about 4 minutes of eight feeds): enough to read
    * why a feed stopped, at well under 1 MB of entries. */
  val Capacity = 4096
}
