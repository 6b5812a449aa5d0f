package graft.queries

/** The artifact-cache key prefix for every gated catalog entry, in ONE
  * place (ADVICE r13): the gate definition sites in [[JsonDoc]] and
  * [[graft.GateBench]]'s drop-and-rebuild loop both read from here, so
  * a key bump can never desync them — a desync made GateBench delete
  * nothing and silently report warm reads as "live" cost.
  *
  * The `-vN` suffix is a human-readable recipe marker; actual
  * staleness protection is the machinery fingerprint folded into the
  * full cache key by [[Pipeline.cachedArtifact]] (any graft code change
  * rekeys every artifact).
  */
object GateKeys {

  /** LSH plane count shared by the j27 ANN index gate's definition and
    * its key. */
  val j27Planes = 4

  /** query name -> artifact key prefix (everything before the content
    * fingerprint in the `graft-<key>-<fp>` tmp-dir name). */
  val byQuery: Map[String, String] = Map(
    "j19_streaming_replay" -> "j19gate-v1",
    "j21_writeback_roundtrip" -> "j21gate-v2",
    "j25_deltalog_store" -> "j25gate-v2",
    "j26_multi_feed_union" -> "j26gate-v1",
    "j29_ingest_filter_map" -> "j29gate-v1",
    "j30_faulted_feed_convergence" -> "j30gate-v1",
    "j31_basic_auth_feed" -> "j31gate-v1",
    "j32_since_checkpoints_view" -> "j32gate-v1",
    "j34_fatal_halt_lifecycle" -> "j34gate-v1",
    "j35_live_tail" -> "j35gate-v1",
    "j36_single_put_roundtrip" -> "j36gate-v1",
    "j37_bootstrap" -> "j37gate-v1",
    "j42_repopulate" -> "j42repop-v2",
    "j43_streaming_dsir_features" -> "j43dsir-v2",
    "j20_streaming_index" -> "j20idx-c2",
    "j27_streaming_ann_index" -> s"j27annidx-p$j27Planes-c1",
    "j28_streaming_lsh_dedup" -> "j28lsh-v2",
    "j33_event_bus" -> "j33events-v2",
    "j39_streaming_sessionize" -> "j39sess-v3",
    "j40_stream_interval_join" -> "j40join-v3",
    "j41_stream_sliding_counts" -> "j41slide-v2")

  /** Key for the unique gated entry whose name starts with `tag` —
    * lets the definition sites keep their short "j19"-style tags. */
  def forTag(tag: String): String = {
    val hits = byQuery.collect {
      case (n, k) if n.startsWith(tag + "_") => k
    }
    require(hits.size == 1, s"gate tag '$tag' matches ${hits.size} entries")
    hits.head
  }
}
