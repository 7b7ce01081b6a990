package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset}
import graft.canon.Canon
import graft.extract.Extract
import graft.materialize.Materialize
import graft.mentions.{AhoCorasick, Mentions}
import graft.pipeline.Pipeline
import graft.relations.Relations
import graft.sources.Pages
import graft.streaming.Recanon

/** The traced run: each layer's public function called in isolation on a
  * cached copy of the previous layer's output, one span per call, with the
  * engine counters of that call attributed to its layer. First it times
  * three cycles, untraced, traced, untraced, for the tracing overhead and
  * the part of the cycle the isolated layers do not explain; comparing the
  * traced cycle with the mean of the two around it cancels a linear drift. */
final class Layers(ctx: Ctx, wl: Workload, probe: StreamProbe, tracer: Tracer) {
  private val spark = ctx.spark
  private val counters = new EngineCounters(spark.sparkContext)
  val byLayer = mutable.LinkedHashMap.empty[String, Counters]
  val out = mutable.LinkedHashMap.empty[String, Double]

  private def timed[A](name: String)(body: => A): (Double, A) = {
    val before = counters.snapshot()
    val t0 = System.nanoTime()
    val a = tracer.span(name)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    val layer = name.takeWhile(_ != '.')
    byLayer(layer) = byLayer.getOrElse(layer, Counters.Zero) + (counters.snapshot() - before)
    (dt, a)
  }

  private def cached[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val c = ds.cache()
    (c, c.count())
  }

  def run(): Unit = {
    val sc = spark.sparkContext
    def tracedCycle(): Double = {
      sc.addSparkListener(counters)
      try tracer.span("e2e.cycle")(wl.cycle()).wallS
      finally sc.removeSparkListener(counters)
    }
    val (u1, t, u2) = (wl.cycle().wallS, tracedCycle(), wl.cycle().wallS)
    println(f"cycles (s): untraced $u1%.3f, traced $t%.3f, untraced $u2%.3f")
    val untraced = (u1 + u2) / 2
    out("trace.overhead_ratio") = t / untraced - 1
    sc.addSparkListener(counters)

    val gaz = wl.gazetteer
    val (tRead, (pages, _)) = timed("sources.read")(cached(Pages.fromParquet(spark, wl.pages)))
    out("sources.read_s") = tRead
    val (tExt, (segs, nSegs)) = timed("extract.segments")(cached(Extract.segments(pages)))
    out("extract.s") = tExt
    out("extract.segments") = nSegs.toDouble
    val (tMen, (ms, nMs)) = timed("mentions.scan")(cached(Mentions.scanWithRecall(segs, gaz)))
    out("mentions.s") = tMen
    out("mentions.rows") = nMs.toDouble
    out("mentions.recall_rows") = ms.filter(_.score < 1.0).count().toDouble
    out("mentions.automaton_build_s") = Stats.median(
      (1 to 3).map(_ => timed("mentions.automaton_build")(AhoCorasick(gaz.map(_._1)))._1))

    val (tStats, (stats, nSurf)) = timed("canon.stats")(cached(Canon.surfaceStats(ms)))
    val (tEdges, (edges, nEdges)) = timed("canon.edges")(cached(Canon.similarityEdges(stats)))
    val (tCc, (labels, rounds)) = timed("canon.cc") {
      val (l, r) = Canon.connectedComponentsWithRounds(stats.select("surface"), edges)
      (cached(l)._1, r)
    }
    val (tPick, (canonMap, _)) = timed("canon.pick")(cached(Canon.canonicalPick(stats, labels)))
    val (tSnap, snap) = timed("canon.snapshot")(Canon.snapshotBounded(canonMap))
    val aliasMap = snap match {
      case Canon.AliasMap(m, _) => m
      case other => throw new IllegalStateException(s"alias dimension too large to collect: $other")
    }
    // the refresh folds the delta's (cached) mentions into a carried state
    val (carried, deltaMs) = wl.refreshInputs()
    val (tRefresh, refreshed) = timed("canon.refresh") {
      val r = Canon.canonicalMapIncremental(carried, deltaMs)
      cached(r.state.canonMap)
      r
    }
    out ++= Seq("canon.stats_s" -> tStats, "canon.surfaces" -> nSurf.toDouble,
      "canon.edges_s" -> tEdges, "canon.edges" -> nEdges.toDouble, "canon.cc_s" -> tCc,
      "canon.cc_rounds" -> rounds.toDouble, "canon.pick_s" -> tPick, "canon.snapshot_s" -> tSnap,
      "canon.refresh_s" -> tRefresh, "canon.refresh_fell_back" -> (if (refreshed.fellBack) 1.0 else 0.0))

    val (tShuffle, _) = timed("relations.shuffle_form")(Pipeline.tripleChecksum(
      Relations.cooccurrence(ms).unionByName(Relations.mentionedIn(ms, canonMap)).toDF()))
    val (tContig, (nTriples, _)) = timed("relations.contiguous")(
      Pipeline.tripleChecksum(Relations.triplesContiguous(ms, aliasMap).toDF()))
    out ++= Seq("relations.shuffle_form_s" -> tShuffle, "relations.contiguous_s" -> tContig,
      "relations.triples" -> nTriples.toDouble)

    val (triples, _) = cached(Relations.triplesContiguous(ms, aliasMap))
    val sink = ctx.fresh("layer-sink")
    val (tWrite, _) = timed("materialize.write")(Materialize.writeTriples(triples, sink.toString,
      bucketOf = Materialize.hashBucketCol))
    val st = Ctx.sinkStats(sink)
    out ++= Seq("materialize.write_s" -> tWrite, "materialize.data_files" -> st.dataFiles.toDouble,
      "materialize.meta_files" -> st.metaFiles.toDouble, "materialize.bytes" -> st.bytes.toDouble)

    val (tStream, sr) = timed("streaming.pass")(StreamPass.run(ctx, probe, wl.feed,
      wl.intervalMs, wl.triggerMs, wl.gazArgs))
    val p = sr.progress
    def pct(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)
    def med(xs: Seq[Double]): Double = pct(xs, 50)
    out ++= Seq("streaming.batches" -> p.size.toDouble,
      "streaming.batch_ms_p50" -> med(p.map(_.triggerMs.toDouble)),
      "streaming.add_batch_ms_p50" -> med(p.map(_.addBatchMs.toDouble)),
      "streaming.overhead_ms_p50" -> med(p.map(e => (e.triggerMs - e.addBatchMs).toDouble)),
      "streaming.backlog_files_max" -> sr.backlogMax.toDouble,
      "streaming.generator_late_ms_max" -> sr.lateMs.max,
      "streaming.freshness_p50_ms" -> med(sr.freshnessMs),
      "streaming.freshness_p75_ms" -> pct(sr.freshnessMs, 75))

    val compacted = ctx.fresh("layer-compacted")
    Ctx.copyDir(sr.sink, compacted)
    val alias = spark.read.parquet(wl.feedAlias.toString)
    val (tCompact, rep) = timed("recanon.compact")(Recanon.recanonicalize(spark, compacted.toString, alias))
    val (tNoop, noop) = timed("recanon.noop")(Recanon.recanonicalize(spark, compacted.toString, alias))
    ctx.check("compacted stream sink equals a batch over the same files")(
      wl.sinkChecksum(compacted) == wl.sinkChecksum(wl.feedRef))
    ctx.check("second compaction rewrites 0 batches")(noop.batchesRewritten.isEmpty)
    out ++= Seq("recanon.compact_s" -> tCompact, "recanon.batches_rewritten" -> rep.batchesRewritten.size.toDouble,
      "recanon.rows_rewritten" -> rep.rowsAfter.toDouble, "recanon.noop_s" -> tNoop)

    byLayer.foreach { case (layer, c) =>
      out ++= Seq(s"$layer.jobs" -> c.jobs.toDouble, s"$layer.tasks" -> c.tasks.toDouble,
        s"$layer.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
        s"$layer.spill_bytes" -> c.spillBytes.toDouble, s"$layer.gc_share" -> c.gcShare,
        s"$layer.task_max_over_median" -> c.taskMaxOverMedian)
    }
    // the steps the cycle itself blocks on, timed in isolation, each as
    // many times as the cycle makes it
    val onPath = tracer.all.map(s => wl.cycleSpans.getOrElse(s.name, 0) * s.seconds).sum
    out("trace.unexplained_gap_s") = untraced - onPath
    out("trace.cycle_s") = untraced
    sc.removeSparkListener(counters)
    Seq(pages, segs, ms, deltaMs, triples).foreach(_.unpersist())
    Seq(stats, edges, labels, canonMap, carried.stats, carried.canonMap).foreach(_.unpersist())
  }

  /** The per-layer table: one row per span with its self time and its
    * layer's counters. */
  def table: String = {
    val rows = tracer.all.filterNot(_.name.startsWith("e2e")).map { s =>
      f"  ${s.name}%-28s ${s.seconds}%9.4f s  self ${tracer.selfSeconds(s)}%9.4f s"
    }
    val layers = byLayer.map { case (l, c) =>
      f"  $l%-12s jobs=${c.jobs}%5d tasks=${c.tasks}%6d shuffle_w=${c.shuffleWriteBytes}%11d B " +
        f"spill=${c.spillBytes}%9d B gc=${c.gcMs}%6d ms task_max/median=${c.taskMaxOverMedian}%.2f"
    }
    (Seq("per-layer spans (isolated calls over cached inputs):") ++ rows ++
      Seq("per-layer engine counters:") ++ layers ++ Seq(
        f"cycle untraced ${out("trace.cycle_s")}%.4f s; unexplained gap (cycle minus isolated on-path layers) " +
          f"${out("trace.unexplained_gap_s")}%.4f s",
        f"tracing overhead (traced vs untraced cycles): ${out("trace.overhead_ratio") * 100}%.2f%%"))
      .mkString("\n")
  }
}
