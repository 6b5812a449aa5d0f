package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Set-oriented CDC apply — the reference's per-change upsert decision
  * tree (reference lib/index.js:96-196, SURVEY.md §2.11 T1-T4) collapsed
  * into one distributed merge per batch.
  *
  * The reference serializes changes one-by-one (async.queue concurrency 1,
  * lib/index.js:40) and issues 2-3 SQL round-trips per change — its main
  * inefficiency (~625 docs/s ceiling, BASELINE.md). Here the whole batch
  * becomes ONE plan:
  *
  *   1. per-key last-write-wins dedup: keep max(seq) per id (makes global
  *      ordering unnecessary — T1);
  *   2. full-outer merge against current state keyed by id:
  *      - incoming delete  -> row dropped (or NOOP if absent);
  *      - incoming doc, absent in state      -> INSERT (unless excluded type);
  *      - incoming doc, present, rev differs -> UPDATE;
  *      - incoming doc, present, rev equal   -> NOOP (idempotent replay /
  *        echo suppression — full-string rev compare, lib/index.js:110).
  *
  * SCALE: both sides shuffle-partition on `id`; at 100 TB the state table
  * should be bucketed by id so only the (much smaller) batch moves.
  * `planActions` additionally exposes the per-row decision, and
  * [[effectiveChanges]] is the same grid in delta form: only the rows a
  * batch changes, decided against the state's (id, rev) without
  * shuffling the state (write amplification = changed rows only).
  */
object ChangeApply {

  /** State schema: (id, rev, doc) — the `(id text PRIMARY KEY, doc jsonb)`
    * document table (README.md:285-290) plus the rev needed for
    * idempotence (reference reads it back per-change, lib/index.js:99;
    * we keep it denormalized to avoid the read). */
  val stateCols: Seq[String] = Seq("id", "rev", "doc")

  /** T1: collapse a batch to its latest change per key — max(seq) wins;
    * ties prefer the delete (same order the reference would apply them).
    * Duplicate (id, seq) pairs (at-least-once redelivery) also collapse.
    *
    * Implemented as max_by aggregation, not a row_number window: the
    * aggregate combines map-side (partial agg), so the shuffle carries
    * one row per key per partition instead of every change — the
    * difference between O(batch) and O(keys) network at 100 TB. */
  def latestPerKey(changes: DataFrame): DataFrame =
    changes
      .groupBy(col("id"))
      .agg(max_by(
        struct(col("seq"), col("rev"), col("deleted"), col("doc")),
        struct(col("seq"), col("deleted"))).as("__top"))
      .select(col("id"), col("__top.seq").as("seq"),
        col("__top.rev").as("rev"), col("__top.deleted").as("deleted"),
        col("__top.doc").as("doc"))

  /** Per-row merge decision — the T4 grid, exposed for tests and for
    * sinks that want NOOP-skipping writes.
    *
    * Returns columns: id, action ∈ {INSERT, UPDATE, NOOP, DELETE,
    * DELETE_NOOP, IGNORE}, plus the post-merge (rev, doc).
    */
  def planActions(
      state: DataFrame,
      changes: DataFrame,
      excludeTypes: Set[String] = Set.empty): DataFrame = {
    val latest = latestPerKey(changes)
    val s = state.select(
      col("id").as("s_id"), col("rev").as("s_rev"), col("doc").as("s_doc"))
    val c = latest.select(
      col("id").as("c_id"), col("rev").as("c_rev"),
      col("deleted").as("c_deleted"), col("doc").as("c_doc"))

    s.join(c, col("s_id") === col("c_id"), "full_outer")
      .select(
        coalesce(col("s_id"), col("c_id")).as("id"),
        when(col("c_id").isNull, lit("NOOP"))
          .otherwise(revGuard(col("s_id"), col("s_rev"), col("c_rev"),
            col("c_deleted"), excluded(col("c_doc"), excludeTypes)))
          .as("action"),
        col("s_rev"), col("s_doc"), col("c_rev"), col("c_doc"))
  }

  /** The T4 grid for one incoming change against its stored row
    * (`sId` null when the id is absent from the state) — the rev guard
    * [[planActions]] and [[effectiveChanges]] share. */
  private def revGuard(sId: Column, sRev: Column, cRev: Column,
      cDeleted: Column, excluded: Column): Column =
    when(cDeleted && sId.isNotNull, lit("DELETE"))
      .when(cDeleted, lit("DELETE_NOOP"))
      .when(sId.isNull && excluded, lit("IGNORE"))
      .when(sId.isNull, lit("INSERT"))
      .when(sRev === cRev, lit("NOOP"))
      .otherwise(lit("UPDATE"))

  /** Type-exclusion ingest filter (lib/index.js:131-146, P8). The
    * reference's check guards only the insert branch, so updates to an
    * already-present excluded-type doc still pass through. */
  private def excluded(doc: Column, excludeTypes: Set[String]): Column =
    if (excludeTypes.isEmpty) lit(false)
    else get_json_object(doc, "$.type").isin(excludeTypes.toSeq: _*)

  /** Delta form of [[applyChanges]]: only the rows the batch changes —
    * (id, rev, doc, deleted) for every INSERT and UPDATE, and a
    * tombstone (doc null, deleted true) for every DELETE; NOOP,
    * DELETE_NOOP and IGNORE rows are dropped. Folding these rows over
    * the state (replace by id, drop tombstones) equals
    * `applyChanges(state, changes, ...)` row for row.
    *
    * `stored` is the state as versioned rows (id, rev, deleted, v): an
    * id's current row is its highest-`v` row, and the id is absent when
    * that row is a tombstone (`deleted`; null reads as false). Only the
    * rows of the batch's ids are read: the batch's key set is broadcast
    * into the `stored` scan (semi-join), the matching rows come back as
    * a broadcast too, and the newest of them is picked inside the
    * batch's own `id` partitioning — the state is scanned, never
    * shuffled, and both broadcasts are O(batch). */
  def effectiveChanges(
      stored: DataFrame,
      changes: DataFrame,
      excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None): DataFrame = {
    val latest = latestPerKey(withMapDoc(changes, mapDoc))
    val candidates = stored
      .join(broadcast(changes.select(col("id").as("c_id"))),
        col("id") === col("c_id"), "left_semi")
      .select(col("id").as("s_id"), struct(col("v"), col("rev"),
        coalesce(col("deleted"), lit(false)).as("deleted")).as("s"))
    latest.join(broadcast(candidates), col("id") === col("s_id"), "left_outer")
      // newest stored version (struct order: `v` first); `latest` is
      // already partitioned by id, so this adds no shuffle
      .groupBy(col("id"))
      .agg(any_value(col("rev")).as("rev"), any_value(col("deleted")).as("deleted"),
        any_value(col("doc")).as("doc"), max(col("s")).as("s"))
      .select(col("id"), col("rev"), col("doc"),
        revGuard(when(!col("s.deleted"), col("id")), col("s.rev"),
          col("rev"), col("deleted"), excluded(col("doc"), excludeTypes))
          .as("action"))
      .where(col("action").isin("INSERT", "UPDATE", "DELETE"))
      .select(col("id"), col("rev"),
        when(col("action") =!= "DELETE", col("doc")).as("doc"),
        (col("action") === "DELETE").as("deleted"))
  }

  private def withMapDoc(changes: DataFrame,
      mapDoc: Option[Column => Column]): DataFrame =
    mapDoc.fold(changes)(f =>
      changes.withColumn("doc",
        when(col("deleted"), col("doc")).otherwise(f(col("doc")))))

  /** A statically-empty plan (LocalRelation with no rows) — the only
    * case where emptiness is knowable without running a job. An empty
    * LogicalRDD/parquet scan is NOT detected; use [[initialState]]
    * directly when the caller knows there is no state yet (first
    * batch), as [[graft.streaming.MergeSink]] does. */
  private def isKnownEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }

  /** First-batch fast path: with no existing state the T4 grid needs no
    * join at all — every surviving change is an INSERT. O(batch): one
    * partial-agg'd latestPerKey, a filter, zero extra shuffles (the
    * full-outer merge would shuffle the empty state through every
    * partition for nothing). Equivalent to
    * `applyChanges(emptyState, changes, ...)` row-for-row. */
  def initialState(
      changes: DataFrame,
      excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None): DataFrame = {
    val latest = latestPerKey(withMapDoc(changes, mapDoc))
    latest
      .where(!col("deleted") && !excluded(col("doc"), excludeTypes))
      .select(col("id"), col("rev"), col("doc"))
  }

  /** Apply one batch of changes to the state, returning the new state
    * (id, rev, doc). Optional per-doc transform hook = the reference's
    * `opts.map(doc)` (lib/index.js:188-190, P9). A statically-empty
    * state short-circuits to [[initialState]] (no join). */
  def applyChanges(
      state: DataFrame,
      changes: DataFrame,
      excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None): DataFrame =
    if (isKnownEmpty(state)) initialState(changes, excludeTypes, mapDoc)
    else {
      planActions(state, withMapDoc(changes, mapDoc), excludeTypes)
        .where(col("action").isin("NOOP", "INSERT", "UPDATE"))
        .select(
          col("id"),
          when(col("action") === "NOOP", col("s_rev"))
            .otherwise(col("c_rev")).as("rev"),
          when(col("action") === "NOOP", col("s_doc"))
            .otherwise(col("c_doc")).as("doc"))
    }

  /** Fold a sequence of batches (streaming replay / catch-up). */
  def applyAll(
      state: DataFrame,
      batches: Seq[DataFrame],
      excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None): DataFrame =
    batches.foldLeft(state)((s, b) =>
      applyChanges(s, b, excludeTypes, mapDoc))
}
