package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset}
import graft.canon.Canon
import graft.extract.Extract
import graft.mentions.Mentions
import graft.model.{Gazetteer, Mention, Page}
import graft.pipeline.Pipeline
import graft.relations.Relations
import graft.sources.Pages

/** A benchmark workload: the inputs it generates from the seed, the state
  * it stages, the cycle of production `Submit` calls it times, and the
  * checks that the outputs of that cycle are correct.
  *
  * Both workloads run the same cycle over their own page table: `Submit
  * batch --canon-out A` over the whole table (base and a ~5% delta), then
  * twice `Submit refresh` folding the delta into a copy of a canon state
  * carried from the base, staged untimed. The refreshed alias map must
  * equal A. A cycle reports `batch_triples_per_s` from the batch and
  * `refresh_s` from the refreshes. What differs is the data, and so the
  * layer that weighs. The stream feed is generated for the traced run only,
  * whose stream and compaction layers consume it. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  protected val spark = ctx.spark
  protected var input: Path = _
  protected var seed: Long = _
  def use(dir: Path, seed: Long): Unit = { input = dir; this.seed = seed }

  /** The page table `Submit batch` ingests, and its base and delta parts. */
  def pages: String = input.resolve("pages").toString
  def base: String = input.resolve("pages/part=base").toString
  def delta: String = input.resolve("pages/part=delta").toString
  def feedDir: String = input.resolve("feed").toString
  def gazPath: String = input.resolve("gazetteer").toString

  def nPages: Long
  /** A warm cycle's wall time on a 4-vCPU VM. A run makes as many cycles
    * as cover `--seconds` at this time, so every run of a workload takes
    * the same number of samples whatever the host's speed. */
  def nominalCycleS: Double
  /** Page generators for the page table and the feed. They must not
    * capture the workload: Spark ships them to tasks. */
  def pageFn(seed: Long): Long => Page
  def feedFn(seed: Long): Long => Page
  /** The stream pass: one priming file, then `feedFiles - 1` files landed
    * one every `intervalMs` while `Submit stream --trigger-ms triggerMs`
    * runs. Four files per trigger stay below drain capacity: a warm
    * four-file micro-batch took 0.34–0.93 s on a 4-vCPU VM. */
  val feedFiles = 41
  val perFile = 2
  val intervalMs = 250L
  val triggerMs = 1000L
  /** The workload's own `(surface, label)` gazetteer, when it has one. */
  def gazetteerRows(seed: Long): Option[Vector[(String, String)]] = None
  private def ownGazetteer: Boolean = gazetteerRows(seed).isDefined
  def gazArgs: Seq[String] = if (ownGazetteer) Seq("--gazetteer", gazPath) else Nil

  def gazetteer: Array[(String, String)] =
    if (!ownGazetteer) Gazetteer.all.toArray
    else {
      import spark.implicits._
      spark.read.parquet(gazPath).select("surface", "label").as[(String, String)].collect()
    }

  /** Write shard `shard` of `shards` of every input table under `dir`
    * (each shard holds its share of every table's rows), the feed only when
    * `feed`; returns the shard's fingerprint. */
  def generate(dir: Path, seed: Long, shard: Int, shards: Int, feed: Boolean): (Long, Long) = {
    import spark.implicits._
    def slice(n: Long): (Long, Long) = (n * shard / shards, n * (shard + 1) / shards)
    def write(df: DataFrame, to: Path) =
      Gen.writeFingerprinted(df)(_.write.mode("append").parquet(to.toString))
    val (lo, hi) = slice(nPages)
    val pageTables = Seq("base" -> false, "delta" -> true).map { case (part, isDelta) =>
      write(Gen.table(spark, lo, hi, ctx.cpus, i => Gen.inDelta(seed, i) == isDelta)(pageFn(seed)).toDF(),
        dir.resolve(s"pages/part=$part"))
    }
    val gaz = gazetteerRows(seed).map { rows =>
      val (glo, ghi) = slice(rows.size)
      write(rows.slice(glo.toInt, ghi.toInt).toDF("surface", "label").coalesce(1), dir.resolve("gazetteer"))
    }
    val (flo, fhi) = slice(feedFiles)
    val feedTable = Option.when(feed)(Gen.writeFeed(spark, flo.toInt, fhi.toInt, perFile,
      dir.resolve("feed").toString)(feedFn(seed)))
    (pageTables ++ gaz ++ feedTable).reduce(Gen.combine)
  }

  /** A small in-memory sample of the generator, for the seed check. */
  def tinyFingerprint(seed: Long): (Long, Long) =
    Gen.fingerprint(Gen.table(spark, 0, 200, 2)(pageFn(seed)).toDF()
      .unionByName(Gen.table(spark, 0, 50, 1)(feedFn(seed)).toDF()))

  lazy val feed: Vector[FeedFile] = Vector.tabulate(feedFiles) { k =>
    val d = Path.of(feedDir).resolve(s"file_no=$k")
    val f = Ctx.walk(d).filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    require(f.size == 1, s"feed file $k: expected one parquet file, found ${f.size}")
    FeedFile(f.head, perFile)
  }

  // ------------------------------------------------------------------
  // Staging: the carried canon state (the initial, full refresh of the
  // base) and, for the traced run, the batch reference over the feed whose
  // alias map its compaction layer applies.
  // ------------------------------------------------------------------
  var state0: Path = _
  var feedRef: Path = _
  var feedAlias: Path = _

  def stage(trace: Boolean): Unit = {
    state0 = ctx.fresh("state0")
    ctx.op("stage carried canon state")(
      ctx.submit(Seq("refresh", "--input", base, "--state", state0.toString) ++ gazArgs: _*))
    if (trace) {
      feedRef = ctx.fresh("feed-ref")
      feedAlias = ctx.fresh("feed-alias")
      ctx.op("stage feed reference batch")(
        ctx.submit(Seq("batch", "--input", feedDir, "--output", feedRef.toString,
          "--canon-out", feedAlias.toString, "--bucket-by", "hash") ++ gazArgs: _*))
    }
  }

  /** Warm-up, counted in set-up: one batch over the delta alone, so the
    * batch's code paths are compiled before the first measured cycle at a
    * fraction of a cycle's cost (staging already ran the refresh's). */
  def warmUp(): Unit = {
    val (sink, alias) = (ctx.fresh("warm-sink"), ctx.fresh("warm-alias"))
    ctx.timedSubmit(Seq("batch", "--input", delta, "--output", sink.toString,
      "--canon-out", alias.toString, "--bucket-by", "hash") ++ gazArgs: _*)
    Seq(sink, alias).foreach(Ctx.delete)
  }

  // ------------------------------------------------------------------
  // The cycle
  // ------------------------------------------------------------------
  /** Refresh calls per cycle: the refresh is short, and one sample per
    * cycle swung by a third. */
  val refreshesPerCycle = 2
  private var garbage: Seq[Path] = Nil
  private var lastBatch: Option[(Path, Path)] = None
  private var lastState: Option[Path] = None

  def cycle(): Sample = {
    val t0 = System.nanoTime()
    garbage.foreach(Ctx.delete)
    val (sink, alias) = (ctx.fresh("batch-sink"), ctx.fresh("alias"))
    val batch = ctx.timedSubmit(Seq("batch", "--input", pages, "--output", sink.toString,
        "--canon-out", alias.toString, "--bucket-by", "hash") ++ gazArgs: _*)
      .map { case (t, out) => (t, Ctx.batchTriples(out)) }
    if (batch.isDefined) lastBatch = Some((sink, alias))
    // each refresh folds the delta into its own copy of the carried state
    val states = Seq.fill(refreshesPerCycle)(ctx.fresh("state"))
    val refresh = states.flatMap { state =>
      Ctx.copyDir(state0, state)
      val t = ctx.timedSubmit(Seq("refresh", "--input", delta, "--state", state.toString) ++ gazArgs: _*)
        .map(_._1)
      if (t.isDefined) lastState = Some(state)
      t
    }
    val sinkBytes = Ctx.sinkStats(sink).bytes
    garbage = Seq(sink, alias) ++ states
    Sample((System.nanoTime() - t0) / 1e9,
      triplesPerS = batch.map { case (t, n) => n / t }.toSeq,
      refreshS = refresh,
      bytesPerTriple = batch.map { case (_, n) => sinkBytes.toDouble / n }.toSeq)
  }

  /** Correctness of the last cycle's outputs; each is one operation. */
  def checks(): Unit = {
    for ((_, alias) <- lastBatch; st <- lastState)
      ctx.check("refreshed alias map equals the full canon job over base and delta") {
        // the batch's --canon-out is Canon.canonicalMap over base and delta
        def fp(p: Path) = Gen.fingerprint(spark.read.parquet(p.toString).select("surface", "canonical"))
        val (a, b) = (fp(st.resolve("v1/alias")), fp(alias))
        ctx.log(s"refreshed alias $a, full job $b")
        a == b
      }
    lastBatch.foreach { case (sink, alias) =>
      ctx.check("batch sink (shuffle form) equals the contiguous triples form") {
        val ms = scan(pages).cache()
        try {
          val m = Canon.snapshot(spark.read.parquet(alias.toString))
          sinkChecksum(sink) == Pipeline.tripleChecksum(Relations.triplesContiguous(ms, m).toDF())
        } finally ms.unpersist()
      }
    }
  }

  /** The traced run's canon refresh inputs: the staged carried state and the
    * delta's mentions (both materialized). */
  def refreshInputs(): (Canon.CanonState, Dataset[Mention]) = {
    val carried = Canon.CanonState(
      cachedFrame(spark.read.parquet(state0.resolve("v0/stats").toString)),
      cachedFrame(spark.read.parquet(state0.resolve("v0/alias").toString)))
    val d = scan(delta).cache()
    d.count()
    (carried, d)
  }

  /** The traced run's isolated layer calls that a cycle blocks on, with how
    * many times a cycle makes each. */
  val cycleSpans: Map[String, Int] = Seq("sources.read", "extract.segments", "mentions.scan",
    "canon.stats", "canon.edges", "canon.cc", "canon.pick", "relations.shuffle_form",
    "materialize.write").map(_ -> 1).toMap + ("canon.refresh" -> refreshesPerCycle)

  def sinkChecksum(sink: Path): (Long, Long) = Pipeline.tripleChecksum(
    spark.read.parquet(sink.resolve("triples").toString).select("subj", "pred", "obj", "url", "score"))

  private def scan(paths: String*): Dataset[Mention] = Mentions.scanWithRecall(
    Extract.segments(paths.map(Pages.fromParquet(spark, _)).reduce(_ unionByName _)), gazetteer)

  private def cachedFrame(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
}

/** What one cycle measured. */
final case class Sample(wallS: Double, triplesPerS: Seq[Double], refreshS: Seq[Double],
    bytesPerTriple: Seq[Double])

object Workload {
  val names: Seq[String] = Seq("batch_pages", "canon_wide")

  def apply(name: String, ctx: Ctx): Option[Workload] = name match {
    case "batch_pages" => Some(new BatchPages(ctx))
    case "canon_wide" => Some(new CanonWide(ctx))
    case _ => None
  }
}

/** Flagship-shaped pages ([[Pages.pageOf]] over generated text) with the
  * default 51-surface gazetteer. HTML extraction, the mention scan,
  * relations and the sink do the batch's work. Canon is a 19-surface
  * dimension solved on the Spark driver, so a canon change should not move
  * this workload; its refresh is mostly per-job cost. */
final class BatchPages(ctx: Ctx) extends Workload(ctx) {
  val name = "batch_pages"
  val nPages = 2000L
  val nominalCycleS = 7.0
  def pageFn(seed: Long): Long => Page = i => Gen.docPage(seed, Gen.DocPages, i)
  def feedFn(seed: Long): Long => Page = i => Gen.docPage(seed, Gen.FeedPages, i)
}

/** A wide PERSON dimension ([[Gen.wideDim]]: 206 alias groups of 32
  * seeded accent, typo and case variants, named with Zipf-skewed frequency)
  * whose similarity graph has 102,176 edges, past the 100k gate of
  * `Canon.connectedComponentsWithRounds`, so the batch runs the distributed
  * CC loop; the base alone (~95% of pages) stays under the gate. Blocking,
  * verification, CC rounds and the canonical pick weigh here, next to a
  * mention scan over a 6.6k-surface automaton. */
final class CanonWide(ctx: Ctx) extends Workload(ctx) {
  val name = "canon_wide"
  val groups = 206
  val zipfNames = 1
  // the sweep names every surface once, two per page
  val nPages: Long = groups.toLong * Gen.WideDim.PerGroup / 2
  val nominalCycleS = 15.0

  @transient private lazy val dims =
    new java.util.concurrent.ConcurrentHashMap[Long, (Gen.WideDim, Gen.Zipf)]()
  private def dim(seed: Long) =
    dims.computeIfAbsent(seed, s => (Gen.wideDim(s, groups), new Gen.Zipf(groups)))
  def pageFn(seed: Long): Long => Page = {
    val (d, z) = dim(seed)
    val zn = zipfNames
    i => Gen.widePage(seed, d, z, zn, i)
  }
  // feed pages continue the page table's row numbers: fresh urls
  def feedFn(seed: Long): Long => Page = {
    val (f, n) = (pageFn(seed), nPages)
    i => f(n + i)
  }

  override def gazetteerRows(seed: Long): Option[Vector[(String, String)]] = Some(Gen.gazetteer(dim(seed)._1))
}
