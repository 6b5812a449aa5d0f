package graft.queries

/** The live streaming gates and their artifact-cache keys, in ONE place:
  * the gate definition sites in [[JsonDoc]] take their key from
  * [[forTag]], and [[graft.GateBench]] drops and rebuilds by
  * [[byQuery]], so the two can never name different artifacts (a
  * desync once made GateBench delete nothing and report warm reads as
  * "live" cost).
  *
  * A gate's key is its tag, the name up to the first `_` (`j19` for
  * `j19_streaming_replay`). Staleness is not the key's job:
  * [[Pipeline.cachedArtifact]] folds the source table's content and the
  * compiled graft bytecode into the cache dir, so any code change
  * rebuilds every gate.
  */
object GateKeys {

  /** query name -> artifact key (the `<key>` of the `graft-<key>-<fp>`
    * tmp dir). */
  val byQuery: Map[String, String] = Seq(
    "j19_streaming_replay",
    "j21_writeback_roundtrip",
    "j25_deltalog_store",
    "j26_multi_feed_union",
    "j29_ingest_filter_map",
    "j30_faulted_feed_convergence",
    "j31_basic_auth_feed",
    "j32_since_checkpoints_view",
    "j34_fatal_halt_lifecycle",
    "j35_live_tail",
    "j36_single_put_roundtrip",
    "j37_bootstrap",
    "j42_repopulate",
    "j43_streaming_dsir_features",
    "j20_streaming_index",
    "j27_streaming_ann_index",
    "j28_streaming_lsh_dedup",
    "j33_event_bus",
    "j39_streaming_sessionize",
    "j40_stream_interval_join",
    "j41_stream_sliding_counts").map(n => n -> n.takeWhile(_ != '_')).toMap

  /** The key of the one registered gate tagged `tag`. */
  def forTag(tag: String): String = {
    require(byQuery.values.count(_ == tag) == 1,
      s"'$tag' is not the tag of exactly one gate")
    tag
  }
}
