package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.canon.Canon
import graft.extract.Extract
import graft.materialize.Materialize
import graft.mentions.Mentions
import graft.model.Gazetteer
import graft.pipeline.Pipeline
import graft.sources.Pages
import graft.streaming.{Recanon, Streaming}

/** Production entry point — the engine as a spark-submit job (north rule:
  * "run via spark-submit on a multi-executor cluster"). Unlike the sandbox
  * mains (Bench/Verify/StreamBench), this one sets NO master and no
  * parallelism config: cluster shape comes entirely from spark-submit
  * (`--master`, `--num-executors`, `--conf spark.sql.shuffle.partitions`),
  * so the same jar runs unchanged at N and 4N executors. The engine has no
  * dependencies beyond Spark itself, so the plain `sbt package` jar
  * submits directly:
  *
  * {{{
  * spark-submit --class graft.Submit target/scala-2.13/graft_2.13-*.jar \
  *   batch --input s3://…/pages --output s3://…/kg [--canon-out s3://…/alias]
  * }}}
  *
  * Subcommands wire the lambda architecture end to end:
  *  - `batch`: pages table → mentions (clustered by url) → canon state →
  *    co-occurrence + provenance triples through the flagship's own
  *    dispatch ([[graft.pipeline.Pipeline.triplesOf]]), materialized
  *    bucket-partitioned with lineage resume ([[Materialize.writeTriples]]);
  *    `--canon-out` also writes the alias table the stream job consumes as
  *    its snapshot. A dimension inside [[Canon.DriverGate]] is
  *    canonicalized on the driver ([[Canon.canonicalState]]).
  *  - `stream`: the fused micro-batch flagship over a page feed directory
  *    ([[Streaming]]), checkpoint-resumable, with the materialized
  *    lineage+metrics sink. `--canon` points at a prior batch run's alias
  *    table (size-gated into a closure map or a per-batch join via
  *    [[Canon.snapshotBounded]]); without it provenance lands RAW
  *    (surface-form subjects) for a later `compact` to canonicalize.
  *    Default trigger drains what is available and exits (re-invoke on a
  *    schedule = incremental ingest); `--trigger-ms` keeps it running.
  *  - `refresh`: the periodic batch canon job in its incremental form —
  *    fold a DELTA page table's mentions into the carried canon state
  *    persisted under `--state` ([[Canon.canonicalMapIncremental]]: edge
  *    generation proportional to the delta, exact vs the full job, with
  *    the cap-crossing gate falling back to the full recompute). The
  *    first invocation (no complete version yet) runs the full job. State
  *    versions are `v<N>/{stats,alias}` parquet dirs published by a
  *    `_DONE` flag — a crash mid-write leaves an unflagged dir the next
  *    refresh ignores and reclaims. The input is a delta BY CONTRACT
  *    (pages not already folded into the carried state), exactly like the
  *    stream feed's at-most-once placement.
  *  - `dedup`: fold a delta documents batch `(doc_id, text)` into the
  *    carried exact-dedup fingerprint index (same `_DONE` version
  *    discipline as `refresh`); each version materializes the merged
  *    index and `new_docs`, the batch's append set.
  *  - `compact`: re-canonicalization of the materialized stream sink under
  *    a fresh alias map ([[Recanon.recanonicalize]]) — rewrites only the
  *    micro-batches whose provenance went stale.
  *  - `repair`: rebuild the sink's lineage/metrics sidecars from the table
  *    itself ([[Recanon.repairSidecars]]) — remediation for a compaction
  *    crash window or external sidecar loss.
  *
  * Bucketing defaults to [[Materialize.hashBucketCol]] (url-hash — correct
  * for arbitrary production urls); `--bucket-by docid` restores the
  * sandbox/oracle scheme. Input is the BASELINE input_hint page table
  * `(url, warc_ts, html, text, lang)`; the gazetteer defaults to the
  * built-in dimension and `--gazetteer` loads a `(surface, label)` parquet.
  */
object Submit {

  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
    // Sandbox escape hatch only — under spark-submit the master comes from
    // the launcher and this env is unset.
    sys.env.get("SPARK_GRAFT_MASTER").foreach(b.master)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** Parse + dispatch, separated from [[main]] so tests (and embeddings)
    * drive it with their own session. Prints one summary line per action. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val (cmd, opts) = (args.head, parseOpts(args.tail))
    // Reject unknown options loudly: a typo (--gazeteer) silently falling
    // back to a default is exactly the failure mode a production job must
    // not have.
    allowedOpts.get(cmd).foreach { allowed =>
      val unknown = opts.keySet -- allowed
      require(unknown.isEmpty,
        s"unknown option(s) for '$cmd': ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}\n$usage")
    }
    cmd match {
      case "batch"   => runBatch(spark, opts)
      case "stream"  => runStream(spark, opts)
      case "refresh" => runRefresh(spark, opts)
      case "dedup"   => runDedup(spark, opts)
      case "compact" => runCompact(spark, opts)
      case "repair"  => runRepair(spark, opts)
      case other     => throw new IllegalArgumentException(s"unknown subcommand '$other'\n$usage")
    }
  }

  private val allowedOpts: Map[String, Set[String]] = Map(
    "batch"   -> Set("input", "output", "buckets", "batch-id", "bucket-by", "gazetteer", "canon-out"),
    "stream"  -> Set("input", "output", "checkpoint", "canon", "buckets", "files-per-trigger", "trigger-ms", "bucket-by", "gazetteer"),
    "refresh" -> Set("input", "state", "gazetteer", "canon-out"),
    "dedup"   -> Set("input", "index"),
    "compact" -> Set("output", "canon", "input", "gazetteer"),
    "repair"  -> Set("output"))

  val usage: String =
    """usage: graft.Submit <subcommand> --key value ...
      |  batch   --input <pages parquet> --output <sink dir>
      |          [--buckets 16] [--batch-id 0] [--bucket-by hash|docid]
      |          [--gazetteer <surface,label parquet>] [--canon-out <dir>]
      |  stream  --input <pages feed dir> --output <sink dir> --checkpoint <dir>
      |          [--canon <alias parquet>] [--buckets 16] [--files-per-trigger 1]
      |          [--trigger-ms <n>] [--bucket-by hash|docid] [--gazetteer <parquet>]
      |  refresh --input <delta pages parquet> --state <canon state dir>
      |          [--gazetteer <parquet>] [--canon-out <alias dir>]
      |  dedup   --input <delta docs parquet (doc_id, text)> --index <index state dir>
      |          (fold the delta into the exact-dedup fingerprint index;
      |           writes v<N>/{index,new_docs})
      |  compact --output <sink dir> (--canon <alias parquet> | --input <pages parquet>)
      |          [--gazetteer <parquet>]
      |  repair  --output <sink dir>   (rebuild lineage/metrics sidecars from the table)""".stripMargin

  private def parseOpts(rest: Array[String]): Map[String, String] = {
    require(rest.length % 2 == 0, s"dangling option value\n$usage")
    rest.grouped(2).map {
      case Array(k, v) =>
        require(k.startsWith("--"), s"expected --option, got '$k'\n$usage")
        k.stripPrefix("--") -> v
    }.toMap
  }

  private def req(opts: Map[String, String], key: String): String =
    opts.getOrElse(key, throw new IllegalArgumentException(s"missing --$key\n$usage"))

  private def gazetteerOf(spark: SparkSession, opts: Map[String, String]): Array[(String, String)] =
    opts.get("gazetteer") match {
      case None => Gazetteer.all.toArray
      case Some(path) =>
        import spark.implicits._
        // Dimension-sized driver collect by design: the gazetteer is
        // broadcast into the scan automaton either way (same policy as
        // Mentions.scanWithRecall), and the automaton build is evidenced to
        // 100k surfaces (BENCH/gazetteer_scale.json).
        spark.read.parquet(path)
          .select(org.apache.spark.sql.functions.col("surface"),
            org.apache.spark.sql.functions.col("label"))
          .as[(String, String)].collect()
    }

  private def bucketSchemeOf(opts: Map[String, String]): Int => org.apache.spark.sql.Column =
    opts.getOrElse("bucket-by", "hash") match {
      case "hash"  => Materialize.hashBucketCol
      case "docid" => Materialize.bucketCol
      case other   => throw new IllegalArgumentException(s"unknown --bucket-by '$other' (hash|docid)")
    }

  /** The batch flagship over an explicit page table, on the same code path
    * as the benchmarked flagship ([[Pipeline.triplesOf]]). ONE cached
    * mention scan, clustered by url on the way into the cache (one
    * mention-level exchange, each url's rows adjacent and segment-ordered),
    * so the contiguous triples form holds for any input: a url repeated
    * within or across input partitions gives the shuffle form's triples,
    * never duplicates. The canon state is computed once and feeds both
    * `--canon-out` and the triples. The summary line also records which
    * canon path ran (driver or distributed) and which triples form
    * (contiguous or shuffle). */
  private def runBatch(spark: SparkSession, opts: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.col
    val gaz = gazetteerOf(spark, opts)
    val nBuckets = opts.getOrElse("buckets", "16").toInt
    val ms = Mentions.scanWithRecall(
        Extract.segments(Pages.fromParquet(spark, req(opts, "input"))), gaz)
      .repartition(col("url"))
      .sortWithinPartitions(col("url"), col("page"), col("seg_no"))
      .cache()
    try {
      val canon = Canon.canonicalState(ms)
      opts.get("canon-out").foreach(p => canon.canonMap.write.mode("overwrite").parquet(p))
      val (triples, contiguous) = Pipeline.triplesOf(ms, canon)
      val rows = Materialize.writeTriples(triples, req(opts, "output"),
        nBuckets = nBuckets, batchId = opts.getOrElse("batch-id", "0").toLong,
        bucketOf = bucketSchemeOf(opts))
      println(s"[submit] batch: wrote ${rows.map(_.n_rows).sum} triples " +
        s"across ${rows.size} new buckets (${nBuckets - rows.size} resumed); " +
        s"canon ${if (canon.driverMap.isDefined) "driver" else "distributed"}, " +
        s"triples ${if (contiguous) "contiguous" else "shuffle"}")
    } finally ms.unpersist()
  }

  private def runStream(spark: SparkSession, opts: Map[String, String]): Unit = {
    val gaz = gazetteerOf(spark, opts)
    val snapshot = opts.get("canon") match {
      case Some(p) => Canon.snapshotBounded(spark.read.parquet(p))
      // No alias table yet (first ingest before any batch canon run):
      // provenance subjects stay raw surface forms; `compact` under the
      // first real map canonicalizes them retroactively.
      case None => Canon.AliasNone
    }
    val (in, out, ckpt) = (req(opts, "input"), req(opts, "output"), req(opts, "checkpoint"))
    // Without --trigger-ms: drain what is available and exit. With it:
    // continuous, so awaitTermination returns only on an external
    // stop/kill (the checkpoint resumes the feed position on re-invoke).
    val trigger = opts.get("trigger-ms").fold(Trigger.AvailableNow())(ms =>
      Trigger.ProcessingTime(ms.toLong, java.util.concurrent.TimeUnit.MILLISECONDS))
    Streaming.startTriplesStreamMaterialized(spark, in, out, ckpt, gaz, snapshot,
      trigger = trigger,
      maxFilesPerTrigger = opts.getOrElse("files-per-trigger", "1").toInt,
      nBuckets = opts.getOrElse("buckets", "16").toInt,
      bucketOf = bucketSchemeOf(opts))
      .awaitTermination()
    if (opts.contains("trigger-ms"))
      println(s"[submit] stream: stopped continuous ingest of $in into $out (checkpoint $ckpt)")
    else println(s"[submit] stream: drained $in into $out (checkpoint $ckpt)")
  }

  /** Incremental canon refresh over a delta page table — see the class doc.
    * Reads the newest `_DONE`-flagged version as the carried state, writes
    * the refreshed state as the next version, then reclaims superseded and
    * crashed (unflagged) version dirs. `--canon-out` additionally overwrites
    * a plain alias table at a stable path for `stream --canon` /
    * `compact --canon` consumption. */
  private def runRefresh(spark: SparkSession, opts: Map[String, String]): Unit = {
    import graft.util.SinkFs
    import spark.implicits._
    val state = req(opts, "state")
    // Cut the delta mention scan once: the full/fallback branches take
    // several actions over plans rooted here (stats write, alias write, CC
    // checkpoints) — without the cut each re-runs the recall scan.
    val ms = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy(
      Mentions.scanWithRecall(
        Extract.segments(Pages.fromParquet(spark, req(opts, "input"))),
        gazetteerOf(spark, opts)).toDF)
      .as[graft.model.Mention]
    val (next, how) = SinkFs.publishVersion(spark, state) { (carried, out) =>
      val (st, how) = carried match {
        case None => (Canon.canonicalState(ms), "full (initial)")
        case Some(c) =>
          val r = Canon.canonicalMapIncremental(Canon.CanonState(
            spark.read.parquet(s"$c/stats"), spark.read.parquet(s"$c/alias")), ms)
          (r.state, if (r.fellBack) "full (cap-crossing fallback)" else "incremental")
      }
      st.stats.write.mode("overwrite").parquet(s"$out/stats")
      st.canonMap.write.mode("overwrite").parquet(s"$out/alias")
      how
    }
    opts.get("canon-out").foreach(p =>
      spark.read.parquet(s"$state/v$next/alias").write.mode("overwrite").parquet(p))
    val n = spark.read.parquet(s"$state/v$next/alias").count()
    println(s"[submit] refresh: $how -> v$next ($n surfaces)")
  }

  /** `dedup`: fold a delta documents batch into the carried exact-dedup
    * fingerprint index ([[graft.dedup.Dedup.foldIndex]]) — the corpus-scale
    * shape where history is never rescanned. Same `_DONE`-flagged version
    * discipline as `refresh`; each version also materializes `new_docs`,
    * the batch's append set (first occurrence of every hash the index has
    * not seen). The input is a delta BY CONTRACT, like `refresh`'s. */
  private def runDedup(spark: SparkSession, opts: Map[String, String]): Unit = {
    import graft.util.SinkFs
    import org.apache.spark.sql.functions.col
    val index = req(opts, "index")
    // Collapse the delta once (lazy cut): the fold write and the new-docs
    // write both consume it.
    val dstats = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy(
      graft.dedup.Dedup.exact(
        spark.read.parquet(req(opts, "input")).select(col("doc_id"), col("text"))))
    val (next, how) = SinkFs.publishVersion(spark, index) { (carried, out) =>
      val (folded, newDocs, how) = carried match {
        case None =>
          (dstats, dstats.select(col("h"), col("keeper").as("doc_id")), "initial")
        case Some(c) =>
          val idx = spark.read.parquet(s"$c/index")
          (graft.dedup.Dedup.foldIndex(idx, dstats),
            graft.dedup.Dedup.newAgainst(idx, dstats), "incremental")
      }
      folded.write.mode("overwrite").parquet(s"$out/index")
      newDocs.write.mode("overwrite").parquet(s"$out/new_docs")
      how
    }
    val n = spark.read.parquet(s"$index/v$next/index").count()
    val nNew = spark.read.parquet(s"$index/v$next/new_docs").count()
    println(s"[submit] dedup: $how -> v$next ($n fingerprints, $nNew new docs)")
  }

  private def runCompact(spark: SparkSession, opts: Map[String, String]): Unit = {
    val canon: DataFrame = opts.get("canon") match {
      case Some(p) => spark.read.parquet(p)
      case None => Canon.canonicalMap(Mentions.scanWithRecall(
        Extract.segments(Pages.fromParquet(spark, req(opts, "input"))),
        gazetteerOf(spark, opts)))
    }
    // No --buckets here: the rewrite preserves each row's existing bucket
    // (a compaction re-canonicalizes subjects, it never re-partitions).
    val report = Recanon.recanonicalize(spark, req(opts, "output"), canon)
    println(s"[submit] compact: rewrote ${report.batchesRewritten.size} batches " +
      s"(${report.rowsBefore} rows -> ${report.rowsAfter})")
  }

  /** Sidecar remediation for the compaction crash window (or any external
    * sidecar loss): rebuild every batch's lineage/metrics from the table
    * itself ([[Recanon.repairSidecars]]). */
  private def runRepair(spark: SparkSession, opts: Map[String, String]): Unit = {
    val (batches, rows) = Recanon.repairSidecars(spark, req(opts, "output"))
    println(s"[submit] repair: rebuilt sidecars for $batches batches ($rows rows accounted)")
  }
}
