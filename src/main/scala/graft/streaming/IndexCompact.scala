package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

import SegmentLog.{deleteTree, parquetFiles}

/** The one LSM-style compaction of the streaming index sinks
  * ([[AnnIndexSink]], [[InvertedIndexSink]], [[LshDedupSink]]): fold
  * the one-file-per-batch accumulation of an index directory back to
  * ONE file per unit, answer-preserving, as [[MergeSink]]'s size-ruled
  * compaction does for the doc store. Without it a standing ingest
  * accumulates a small file per touched partition per micro-batch
  * forever; with it the file count is bounded by the partition fanout
  * between compactions.
  *
  * The shape is read from the layout, with no flag:
  *  - PARTITIONED — `root` holds `<col>=<v>` dirs (ANN `bucket=`/`cell=`,
  *    LSH `bk=`, inverted `postings/tb=`): each partition dir is a unit,
  *    folded with `repartition(col)` + `partitionBy(col)`;
  *  - FLAT — `root` holds parquet files itself (inverted `segstats/`,
  *    `docids/`): `root` is the one unit, folded to one file. Folding
  *    `segstats` rows without summing them is answer-preserving because
  *    probes already SUM the segments.
  *
  * Mechanics: snapshot each unit's parquet file names, fold EXACTLY
  * those files (explicit file list + basePath, so a sink batch landing
  * mid-fold can never be both folded and kept) into a hidden staged dir
  * (`root/_compact_tree` for partitions, `_compact_<root>` beside a flat
  * root), rename the output to deterministic `compact-<i>.parquet`
  * while still staged, write the snapshot into each staged dir as a
  * `_folded` manifest, then swap each unit in with two directory
  * renames: live -> `_old_<unit>`, staged -> live. Batch logs, verdicts
  * and checkpoints are untouched, so replay idempotence and batch-id
  * continuation survive compaction.
  *
  * Durability: every run starts with a recovery scan over leftover
  * `_old_<unit>` dirs, and the `_folded` manifest makes each crash
  * point distinguishable — no path discards rows:
  *  - live has NO manifest (missing, empty, or recreated by post-crash
  *    sink batches): the swap never completed, so `_old_` holds the
  *    only pre-crash copy — merge it into live (same-name batch files
  *    are replayed batches with identical content: skip);
  *  - live HAS a manifest: the swap completed — restore only `_old_`
  *    files absent from the manifest (sink batches that landed
  *    mid-compaction, already excluded from the fold), drop the rest
  *    (their rows are the manifest fold).
  * The in-run swap applies the same manifest rule before deleting the
  * `_old_` tree, so mid-compaction batches survive without a crash too.
  */
object IndexCompact {

  private val ManifestName = "_folded"

  /** Fold the index directory `root`, partitioned or flat. */
  def compact(spark: SparkSession, root: String): Unit =
    compact(spark, root, () => (), _ => ())

  /** `afterFold` fires between the fold's materialization and the first
    * directory swap; `beforeSwapIn` fires per unit between the
    * live->_old_ rename and the staged move-in — the two race windows a
    * concurrent sink batch can land in, and the crash window a throw
    * there simulates. Specs use them; production callers take the
    * no-op overload above. */
  private[streaming] def compact(
      spark: SparkSession, root: String,
      afterFold: () => Unit, beforeSwapIn: Path => Unit): Unit = {
    val rootP = Paths.get(root).toAbsolutePath
    recover(rootP)
    if (!Files.isDirectory(rootP)) return
    val partCol = partitionColumn(rootP)
    val units = partCol.fold(Seq(rootP))(c => partDirs(rootP, c))
    // Snapshot of the fold's input files, per unit: the read below
    // consumes EXACTLY these files, so anything a concurrent sink batch
    // adds later is in neither the fold nor the manifest and must
    // survive the swap.
    val snapshot: Map[Path, Seq[String]] =
      units.map(u => u -> parquetFiles(u).map(_.getFileName.toString)).toMap
    val snapFiles = units.flatMap(u => snapshot(u).map(u.resolve(_).toString))
    if (snapFiles.isEmpty) return
    val next = partCol.fold(
      rootP.resolveSibling(s"_compact_${rootP.getFileName}"))(
      _ => rootP.resolve("_compact_tree"))
    deleteTree(next)
    // The read supplies an explicit schema with the partition column as
    // STRING, which (a) skips partition TYPE INFERENCE — the ANN
    // sign-bucket values are strings like "0101" that inference folds
    // to int 101, which would rewrite the partition under a DIFFERENT
    // directory name and duplicate its rows beside the un-swapped
    // original — and (b) avoids mutating session conf, so concurrent
    // queries on the shared SparkSession are unaffected. The string
    // value round-trips verbatim through partitionBy (int-valued
    // partitions like bk=5 write the same name either way).
    val dataSchema = spark.read.parquet(snapFiles.head).schema
    val read = spark.read
      .schema(partCol.fold(dataSchema)(dataSchema.add(_, StringType)))
      .option("basePath", rootP.toString)
      .parquet(snapFiles: _*)
    val staged: Seq[(Path, Path)] = partCol match {
      case Some(c) =>
        read.repartition(col(c))
          .write.mode("overwrite").partitionBy(c).parquet(next.toString)
        partDirs(next, c).map(d => d -> rootP.resolve(d.getFileName.toString))
      case None =>
        read.coalesce(1).write.mode("overwrite").parquet(next.toString)
        Seq(next -> rootP)
    }
    afterFold()
    staged.foreach { case (dir, live) =>
      // deterministic names, renamed while still staged (no visibility
      // window); the manifest rides in the staged dir so the swap below
      // is one directory rename carrying data + provenance together
      parquetFiles(dir).zipWithIndex.foreach { case (f, i) =>
        Files.move(f, dir.resolve(s"compact-$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      val folded = snapshot.getOrElse(live, Seq.empty)
      Files.write(dir.resolve(ManifestName),
        folded.mkString("\n").getBytes(StandardCharsets.UTF_8))
      val old = oldOf(live)
      deleteTree(old)
      if (Files.exists(live))
        Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
      beforeSwapIn(live)
      val swapped =
        try { Files.move(dir, live, StandardCopyOption.ATOMIC_MOVE); true }
        catch {
          // A concurrent sink batch recreated `live` in the window
          // between the two renames (ATOMIC_MOVE onto a non-empty dir
          // throws). The fold is only a file-count optimization, so
          // abandon THIS unit's fold: restore every pre-fold file
          // from _old_ beside the new batch — the exact merge the
          // recovery scan would run after a crash at this point — and
          // let the next compaction run fold the unit again.
          case _: java.nio.file.FileSystemException if Files.exists(live) =>
            mergeInto(old, live, keep = _ => true)
            deleteTree(old)
            deleteTree(dir)
            false
        }
      if (swapped) {
        // files in old the fold did not cover = mid-compaction sink
        // batches: move them back instead of discarding them
        val seen = folded.toSet
        mergeInto(old, live, keep = n => !seen(n))
        deleteTree(old)
      }
    }
    deleteTree(next)
  }

  private def oldOf(live: Path): Path =
    live.resolveSibling(s"_old_${live.getFileName}")

  /** The recovery scan (see scaladoc) over the index directory `root`:
    * a flat root's own `_old_` copy sits beside it, a partition's inside
    * it. Every [[compact]] starts with it; a reader that must see every
    * committed row before the next compaction runs calls it too. */
  private[streaming] def recover(root: Path): Unit = {
    recoverUnit(root)
    if (Files.isDirectory(root))
      children(root).filter(_.getFileName.toString.startsWith("_old_"))
        .foreach(old => recoverUnit(
          root.resolve(old.getFileName.toString.stripPrefix("_old_"))))
  }

  /** Fold a leftover `_old_` copy of `live` back in, using the live
    * manifest to tell a completed swap from an interrupted one. */
  private def recoverUnit(live: Path): Unit = {
    val old = oldOf(live)
    if (Files.isDirectory(old)) {
      readManifest(live) match {
        case None if dataFiles(live).isEmpty =>
          deleteTree(live)
          Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
        case None => // interrupted swap + post-crash sink batches in live
          mergeInto(old, live, keep = _ => true)
          deleteTree(old)
        case Some(folded) => // completed swap; restore mid-run extras only
          mergeInto(old, live, keep = n => !folded(n))
          deleteTree(old)
      }
    }
  }

  private def children(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala.filter(Files.isDirectory(_))
        .toSeq.sortBy(_.getFileName.toString)
    }

  private def partDirs(base: Path, partCol: String): Seq[Path] =
    children(base).filter(_.getFileName.toString.startsWith(s"$partCol="))

  /** The partition column of a `<col>=<v>` layout; None = flat. Hidden
    * dirs (`_old_…`, `_compact_tree`, staging) are not partitions. */
  private def partitionColumn(root: Path): Option[String] = {
    val cols = children(root).map(_.getFileName.toString)
      .filter(n => !n.startsWith("_") && !n.startsWith(".") && n.contains('='))
      .map(_.takeWhile(_ != '=')).distinct
    require(cols.size <= 1, s"$root mixes partition columns ${cols.mkString(", ")}")
    cols.headOption
  }

  /** Every parquet file under `dir`, by path relative to it. */
  private def dataFiles(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Seq.empty
    else scala.util.Using.resource(Files.walk(dir)) { st =>
      st.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(dir.relativize(_).toString).toList
    }

  /** The `_folded` manifest of a completed swap: the file names whose
    * rows the unit's compact files contain. None = no manifest
    * (pre-swap dir, or a dir recreated by sink batches post-crash). */
  private def readManifest(dir: Path): Option[Set[String]] = {
    val p = dir.resolve(ManifestName)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toSet)
  }

  /** Move `from`'s parquet files selected by `keep` into `to`, skipping
    * paths already present there (a same-name batch file is the same
    * batch replayed — identical content). Nested files keep their
    * relative path, so a whole-index `_old_` copy merges back too. */
  private def mergeInto(
      from: Path, to: Path, keep: String => Boolean): Unit =
    dataFiles(from).filter(keep).foreach { rel =>
      val dst = to.resolve(rel)
      if (!Files.exists(dst)) {
        Files.createDirectories(dst.getParent)
        Files.move(from.resolve(rel), dst, StandardCopyOption.ATOMIC_MOVE)
      }
    }
}
