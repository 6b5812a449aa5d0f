package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one commit protocol of the streaming index sinks
  * ([[AnnIndexSink]], [[InvertedIndexSink]], [[LshDedupSink]]) — the
  * single thing a Structured Streaming `foreachBatch` sink owes: an
  * idempotent commit per batchId.
  *
  * Per batch ([[commit]]):
  *  1. a batchId already in the applied-batch log `root/<log>` (one id
  *     per line, appended) is a NOOP;
  *  2. each write lands in the hidden `_staging_batch_<id>` tree, then
  *     every staged file moves to a DETERMINISTIC name —
  *     `<dest>/<partCol>=<v>/batch-<id>[-i].parquet` for a partitioned
  *     write, `<dest>/batch-<id>.parquet` for a single-file one — so a
  *     replayed move overwrites its own previous attempt instead of
  *     duplicating rows;
  *  3. the id is appended to the log only AFTER every move (marker
  *     last): a crash before it replays into identical file names, so
  *     the commit is effectively the last rename;
  *  4. the batch's staging trees are deleted.
  *
  * Sink-specific logic (row shapes, the first-write-wins anti-join,
  * LSH probing) stays in each sink. The index files are folded by
  * [[IndexCompact]], which leaves the log untouched, so a replayed
  * pre-compaction batch still NOOPs.
  *
  * The module also holds the newest-wins `state-<id>` text file of
  * [[GramSink]] and [[StreamingKMeansSink]] ([[readState]] /
  * [[writeState]]) and the one recursive [[deleteTree]].
  */
object SegmentLog {

  /** Batch ids recorded in the applied-batch log `root/<log>`. */
  def applied(root: String, log: String): Set[Long] = {
    val p = Paths.get(root, log)
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(_.toLong).toSet
  }

  /** The staged writes of one batch; each moves into place as soon as
    * it is written. */
  final class Stage private[SegmentLog] (root: Path, batchId: Long) {
    private val staging = root.resolve(s"_staging_batch_$batchId")
    private var writes = 0

    private def stagedWrite(): Path = {
      writes += 1
      staging.resolve(writes.toString)
    }

    /** Write `df` partitioned by `partCol`; each staged `<partCol>=<v>`
      * dir's files move to `dest/<partCol>=<v>/`. One task per key
      * (`repartition`) gives one file per touched partition, so a
      * replay produces the same layout. */
    def partitioned(df: DataFrame, partCol: String, dest: String = ""): Unit = {
      val out = stagedWrite()
      df.repartition(col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(out.toString)
      scala.util.Using.resource(Files.list(out)) { st =>
        st.iterator().asScala
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith(s"$partCol="))
          .toSeq.sortBy(_.getFileName.toString)
      }.foreach(dir =>
        moveInto(dir, root.resolve(dest).resolve(dir.getFileName.toString)))
    }

    /** Write `df` as one file, moved to `dest/batch-<id>.parquet`. */
    def single(df: DataFrame, dest: String): Unit = {
      val out = stagedWrite()
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      moveInto(out, root.resolve(dest))
    }

    private def moveInto(from: Path, dest: Path): Unit = {
      Files.createDirectories(dest)
      parquetFiles(from).zipWithIndex.foreach { case (f, i) =>
        val name = if (i == 0) s"batch-$batchId.parquet"
          else s"batch-$batchId-$i.parquet"
        Files.move(f, dest.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** Apply batch `batchId` to the store at `root` once: a logged id
    * returns false without running `writes`; otherwise `writes` stages
    * and moves the batch's files, the id is appended to `log`, the
    * staging trees are deleted, and the result is true. */
  def commit(root: String, log: String, batchId: Long)(
      writes: Stage => Unit): Boolean = {
    if (applied(root, log).contains(batchId)) return false
    val rootP = Paths.get(root)
    writes(new Stage(rootP, batchId))
    Files.createDirectories(rootP)
    Files.write(rootP.resolve(log), s"$batchId\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // every staging tree of this batch, including the per-write
    // `_staging_<kind>_<id>` names older stores used
    scala.util.Using.resource(Files.list(rootP)) { st =>
      st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("_staging_") && n.endsWith(s"_$batchId")
      }.toList
    }.foreach(deleteTree)
    true
  }

  /** Lines of the newest `state-<id>` file under `root`, if any. */
  def readState(root: String): Option[IndexedSeq[String]] =
    stateFiles(Paths.get(root)).maxByOption(_._1).map { case (_, p) =>
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toIndexedSeq
    }

  /** Durably replace the state under `root` with `body` as
    * `state-<id>`: write `_tmp-state-<id>`, atomically move it into
    * place, then delete the strictly-older states (dead once the new
    * one is durable; without this a long-running stream keeps one file
    * per batch and every reload lists all of them). */
  def writeState(root: String, id: Long, body: String): Unit = {
    val dir = Paths.get(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"_tmp-state-$id")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"state-$id"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    stateFiles(dir).filter(_._1 < id).foreach(s => Files.deleteIfExists(s._2))
  }

  private def stateFiles(dir: Path): Seq[(Long, Path)] =
    if (!Files.exists(dir)) Seq.empty
    else scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("state-"))
        .map(p => p.getFileName.toString.stripPrefix("state-").toLong -> p)
        .toList
    }

  private[streaming] def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
    }

  /** Recursively delete `d` if it exists. */
  def deleteTree(d: Path): Unit =
    if (Files.exists(d))
      scala.util.Using.resource(Files.walk(d)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.toList
      }.foreach(Files.deleteIfExists(_))
}
