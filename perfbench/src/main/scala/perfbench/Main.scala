package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by `perfbench/run.py`):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> --out <results dir>
  * }}}
  *
  * One JVM, one `local[nproc]` session. Set-up generates the inputs from the
  * seed in three shards (three times the median shard time counts), checks
  * the generator's seed behaviour, stages the carried state and warms up
  * with a batch over the delta. With `--trace 0` it then runs as many
  * cycles as cover `--seconds` at the workload's nominal cycle time and
  * reports the end-to-end metrics; with `--trace 1` it runs the
  * layer-by-layer traced run instead. The last line of standard output is
  * the JSON result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", "")
    if (!Workload.names.contains(name)) {
      System.err.println(s"unknown --workload '$name'; expected one of ${Workload.names.mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Path.of(opts("work")).toAbsolutePath
    val outDir = Path.of(opts("out")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(outDir)

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try run(spark, name, seed, seconds, trace, work, outDir)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, outDir: Path): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val heap = new HeapProbe
    val ctx = new Ctx(spark, work)
    val wl = Workload(name, ctx).get
    printEnvironment(spark, name, seed, trace, work)

    // ---- set-up -------------------------------------------------------
    // The inputs are generated in three equal shards; the median shard time,
    // times three, is the generation time (set-up measured several times).
    val input = work.resolve("input")
    val shards = (0 until 3).map(k => ctx.seconds(wl.generate(input, seed, k, 3, feed = trace)))
    println(s"input fingerprint ${shards.map(_._2).reduce(Gen.combine)}")
    ctx.check("one seed reproduces its inputs and the next seed does not") {
      val (a, b, c) = (wl.tinyFingerprint(seed), wl.tinyFingerprint(seed), wl.tinyFingerprint(seed + 1))
      a == b && a != c
    }
    wl.use(input, seed)
    val (stageS, _) = ctx.seconds(wl.stage(trace))
    val (warmS, _) = ctx.seconds(wl.warmUp())
    val genS = 3 * Stats.median(shards.map(_._1))
    val setupS = sessionS + genS + stageS + warmS
    println(f"set-up: session ${sessionS}%.3f s + generation ${genS}%.3f s (3 x median shard of " +
      shards.map(g => f"${g._1}%.3f").mkString("[", ", ", "]") +
      f") + staging ${stageS}%.3f s + warm-up ${warmS}%.3f s = ${setupS}%.3f s")

    // ---- measured phase -------------------------------------------------
    val metrics: Seq[(Metric, Double)] =
      if (trace) {
        val tracer = new Tracer(s"$name-seed$seed")
        val probe = new StreamProbe
        spark.streams.addListener(probe)
        val layers = new Layers(ctx, wl, probe, tracer)
        ctx.op("traced layer run")(layers.run())
        if (layers.out.nonEmpty) println(layers.table)
        val spans = outDir.resolve(s"spans-$name-seed$seed.json")
        Files.writeString(spans, tracer.toJson)
        println(s"spans: $spans")
        Metrics.perLayer.map(m => m -> layers.out.getOrElse(m.name, {
          ctx.record(ok = false)
          ctx.log(s"per-layer metric ${m.name} was not measured")
          0.0
        }))
      } else {
        val cycles = math.max(1, math.ceil(seconds / wl.nominalCycleS - 1e-9).toInt)
        val measured = (1 to cycles).map { _ =>
          val c = wl.cycle()
          heap.sample()
          c
        }
        report(measured, setupS, heap.peakMb)
      }
    canary(ctx, seed, work)
    wl.checks()

    val failed = ctx.failedOps
    println(s"operations: ${ctx.attemptedOps} attempted, $failed failed")
    metrics.foreach { case (m, v) => println(f"  ${m.name}%-36s $v%.6f ${m.unit}") }
    val body = metrics.map { case (m, v) =>
      s"${Stats.jsonStr(m.name)}: {\"value\": ${Stats.jsonNum(v)}, \"unit\": ${Stats.jsonStr(m.unit)}}"
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${ctx.attemptedOps}, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    0
  }

  /** The end-to-end metrics of the measured cycles, with their samples. */
  private def report(cycles: Seq[Sample], setupS: Double, heapMb: Double): Seq[(Metric, Double)] = {
    println("measured cycles (s): " + cycles.map(c => f"${c.wallS}%.3f").mkString("[", ", ", "]"))
    val samples = Seq("batch_triples_per_s" -> cycles.flatMap(_.triplesPerS),
      "refresh_s" -> cycles.flatMap(_.refreshS), "sink_bytes_per_triple" -> cycles.flatMap(_.bytesPerTriple))
    samples.foreach { case (n, xs) => println(f"  $n%-24s ${Stats.summary(xs)}") }
    // a metric with no sample (every call of its kind failed) reads 0 and
    // the run is already marked failed
    def pct(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)
    val m = samples.toMap
    val values = Map(
      "setup_s" -> setupS,
      "batch_triples_per_s" -> pct(m("batch_triples_per_s"), 50),
      "refresh_s" -> pct(m("refresh_s"), 50),
      "sink_bytes_per_triple" -> pct(m("sink_bytes_per_triple"), 50),
      "heap_peak_mb" -> heapMb)
    Metrics.endToEnd.map(x => x -> values(x.name))
  }

  /** The host-drag canary: `q1_agg` over a generated sf0.01-sized lineitem
    * table. A diagnostic printed with every run, not a metric. */
  private def canary(ctx: Ctx, seed: Long, work: Path): Unit = {
    val dir = work.resolve("canary").toString
    Gen.lineItems(ctx.spark, seed, dir)
    val q = graft.SparkEntry.queries("q1_agg")
    q(ctx.spark, dir).collect()
    val ts = (1 to 3).map(_ => ctx.seconds(q(ctx.spark, dir).collect())._1)
    println(f"canary q1_agg (60k-row lineitem): median ${Stats.median(ts)}%.4f s " +
      ts.map(t => f"$t%.4f").mkString("[", ", ", "]"))
  }

  private def printEnvironment(spark: SparkSession, name: String, seed: Long, trace: Boolean,
      work: Path): Unit = {
    val localDir = spark.sparkContext.getConf.get("spark.local.dir", System.getProperty("java.io.tmpdir"))
    val heapFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).mkString(" ")
    println(s"workload $name seed $seed trace ${if (trace) 1 else 0}")
    println(s"nproc ${Runtime.getRuntime.availableProcessors} master ${spark.sparkContext.master} " +
      s"heap flags [$heapFlags] max heap ${Runtime.getRuntime.maxMemory >> 20} MB")
    println(s"sink/scratch dir $work (${fsType(work)}); spark.local.dir $localDir " +
      s"(${fsType(Path.of(localDir))})")
  }

  /** File system type of the mount holding `p` (tmpfs or a block device). */
  private def fsType(p: Path): String =
    scala.util.Try {
      val abs = p.toAbsolutePath.normalize.toString
      val mounts = Files.readAllLines(Path.of("/proc/mounts")).asScala.map(_.split(' '))
        .collect { case Array(_, mnt, typ, _*) => (mnt, typ) }
      mounts.filter { case (m, _) => abs == m || abs.startsWith(if (m.endsWith("/")) m else m + "/") }
        .maxBy(_._1.length)._2
    }.getOrElse("unknown fs")
}
