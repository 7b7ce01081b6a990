package perfbench

/** A reported metric: name and unit. */
final case class Metric(name: String, unit: String)

/** Every metric the benchmark reports, in the order `BENCHMARK.json` lists
  * them. A run with `--trace 0` reports all of [[endToEnd]]; a run with
  * `--trace 1` reports all of [[perLayer]]. */
object Metrics {
  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"),
    Metric("batch_triples_per_s", "triples/s"),
    Metric("refresh_s", "s"),
    Metric("sink_bytes_per_triple", "B"),
    Metric("heap_peak_mb", "MB"))

  val Layers: Seq[String] = Seq("sources", "extract", "mentions", "canon", "relations",
    "materialize", "streaming", "recanon")

  val perLayer: Seq[Metric] = Seq(
    Metric("sources.read_s", "s"),
    Metric("extract.s", "s"), Metric("extract.segments", "count"),
    Metric("mentions.s", "s"), Metric("mentions.rows", "count"), Metric("mentions.recall_rows", "count"),
    Metric("mentions.automaton_build_s", "s"),
    Metric("canon.stats_s", "s"), Metric("canon.surfaces", "count"), Metric("canon.edges_s", "s"),
    Metric("canon.edges", "count"), Metric("canon.cc_s", "s"), Metric("canon.cc_rounds", "count"),
    Metric("canon.pick_s", "s"), Metric("canon.snapshot_s", "s"), Metric("canon.refresh_s", "s"),
    Metric("canon.refresh_fell_back", "count"),
    Metric("relations.shuffle_form_s", "s"), Metric("relations.contiguous_s", "s"),
    Metric("relations.triples", "count"),
    Metric("materialize.write_s", "s"), Metric("materialize.data_files", "count"),
    Metric("materialize.meta_files", "count"), Metric("materialize.bytes", "B"),
    Metric("streaming.batches", "count"), Metric("streaming.batch_ms_p50", "ms"),
    Metric("streaming.add_batch_ms_p50", "ms"), Metric("streaming.overhead_ms_p50", "ms"),
    Metric("streaming.backlog_files_max", "count"), Metric("streaming.generator_late_ms_max", "ms"),
    Metric("streaming.freshness_p50_ms", "ms"), Metric("streaming.freshness_p75_ms", "ms"),
    Metric("recanon.compact_s", "s"), Metric("recanon.batches_rewritten", "count"),
    Metric("recanon.rows_rewritten", "count"), Metric("recanon.noop_s", "s")) ++
    Layers.flatMap(l => Seq(Metric(s"$l.jobs", "count"), Metric(s"$l.tasks", "count"),
      Metric(s"$l.shuffle_write_bytes", "B"), Metric(s"$l.spill_bytes", "B"), Metric(s"$l.gc_share", "ratio"),
      Metric(s"$l.task_max_over_median", "ratio"))) ++ Seq(
    Metric("trace.cycle_s", "s"), Metric("trace.unexplained_gap_s", "s"), Metric("trace.overhead_ratio", "ratio"))

  require((endToEnd ++ perLayer).forall(m => Stats.validName(m.name)), "invalid metric name")
}
