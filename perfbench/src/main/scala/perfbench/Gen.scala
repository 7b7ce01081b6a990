package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.model.{Gazetteer, Page}
import graft.sources.Pages

/** Seeded input generator for every workload. Each row draws from its own
  * random stream, keyed by (seed, stream, row), so the same seed yields the
  * same tables whatever the partitioning, and different seeds differ.
  * The engine only ever sees the parquet tables written here.
  */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of a 64-bit key. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, row: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) + row))

  // Row streams: one per kind of generated row.
  val DocPages = 1L
  val WidePages = 2L
  val FeedPages = 3L
  val DeltaSplit = 4L
  val WideNames = 5L
  val LineItems = 6L

  private val Vocab = Vector("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "index", "page", "shard", "node", "file", "read", "write",
    "cache", "plan", "task", "stage", "block", "range")
  private val Langs = Vector("en", "de", "es", "fr", "zh")

  /** Filler document text: `lo` to `hi` words of a small vocabulary (the
    * shape of the sandbox `documents` corpus — about 300 characters). */
  def docText(r: SplittableRandom, lo: Int = 8, hi: Int = 90): String =
    Vector.fill(lo + r.nextInt(hi - lo + 1))(Vocab(r.nextInt(Vocab.size))).mkString(" ")

  /** Seed-shifted doc ids: each seed owns its own block of a million ids,
    * so the planted-entity arithmetic of [[Pages.pageOf]] differs by seed. */
  def docId(seed: Long, stream: Long, i: Long): Long =
    (java.lang.Math.floorMod(mix(seed ^ (stream << 40)), 1000L) + 1) * 1000000L + i

  /** The flagship page shape: [[Pages.pageOf]] over generated text. */
  def docPage(seed: Long, stream: Long, i: Long): Page = {
    val r = rng(seed, stream, i)
    val text = docText(r)
    Pages.pageOf(docId(seed, stream, i), text, Langs(r.nextInt(Langs.size)))
  }

  /** Rows `i` in [lo, hi) with `keep(i)`, as pages `page(i)`. */
  def table(spark: SparkSession, lo: Long, hi: Long, parts: Int, keep: Long => Boolean = _ => true)(
      page: Long => Page): Dataset[Page] = {
    import spark.implicits._
    spark.range(lo, hi, 1, parts).as[Long].filter(i => keep(i)).map(i => page(i))
  }

  // ---------------------------------------------------------------------
  // Wide PERSON dimension (canon_wide)
  // ---------------------------------------------------------------------

  /** A PERSON dimension of `groups` alias groups of 32 surfaces each. Every
    * group owns three syllable words no other group uses (drawn from
    * [[Gazetteer.syntheticSurfaces]] and shuffled by the seed), so its
    * variants block together on their shared cold tokens and never link to
    * another group. The variants are the base name with an accent on none or
    * one of its words, a doubled letter (a typo) in none or one of its words,
    * in its own case or upper case. Accents and case vanish in the sim_key
    * and two typos stay within Levenshtein ratio 0.79, so every pair in a
    * group is a similarity edge: 496 edges per group. */
  final case class WideDim(surfaces: Vector[String], groups: Int)

  object WideDim { val PerGroup = 32 }

  val MaxWideGroups = 2666

  def wideDim(seed: Long, groups: Int): WideDim = {
    require(groups >= 1 && groups <= MaxWideGroups, s"groups must be in [1, $MaxWideGroups]")
    val words = Gazetteer.syntheticSurfaces(8000).map(_._1.split(' ')(0))
    val r = rng(seed, WideNames, 0)
    val perm = words.toArray
    for (i <- perm.indices.reverse) { // Fisher-Yates
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val surfaces = (0 until groups).flatMap { g =>
      val base = Vector(perm(g), perm(MaxWideGroups + g), perm(2 * MaxWideGroups + g))
      val gr = rng(seed, WideNames, g + 1L)
      val typo = base.map { w => val p = 1 + gr.nextInt(w.length - 1); w.substring(0, p + 1) + w.substring(p) }
      // variant (acc, dbl, up): accent on word acc-1, a typo in word dbl-1
      // (0 = none), upper-cased when `up`
      for (up <- Seq(false, true); acc <- 0 to 3; dbl <- 0 to 3) yield {
        val name = base.indices.map { k =>
          val w = if (dbl == k + 1) typo(k) else base(k)
          if (acc == k + 1) accent(w) else w
        }.mkString(" ")
        if (up) name.toUpperCase(java.util.Locale.ROOT) else name
      }
    }.toVector
    require(surfaces.distinct.size == surfaces.size, "wide dimension surfaces must be distinct")
    WideDim(surfaces, groups)
  }

  private def accent(w: String): String = {
    val repl = Map('a' -> 'á', 'e' -> 'é', 'i' -> 'í', 'o' -> 'ó', 'u' -> 'ú')
    val i = w.indexWhere(repl.contains)
    if (i < 0) w + "é" else w.updated(i, repl(w(i)))
  }

  /** Zipf(s = 1) rank sampler over `n` items: index 0 is the most frequent. */
  final class Zipf(n: Int) extends Serializable {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / (k + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Page `j` of the canon_wide corpus: filler text, sentences naming
    * surfaces `2j` and `2j + 1` (mod |dim|: half as many pages as surfaces
    * name every surface), and `zipfNames` more naming a Zipf-drawn group and
    * a uniform variant of it. Each sentence is its own paragraph, so
    * co-occurrence pairs the name with the ORG and LAW it is planted with. */
  def widePage(seed: Long, dim: WideDim, zipf: Zipf, zipfNames: Int, j: Long): Page = {
    val r = rng(seed, WidePages, j)
    val id = docId(seed, WidePages, j)
    def sentence(name: String): String =
      s"$name representing ${Gazetteer.orgs(r.nextInt(Gazetteer.orgs.size))} of " +
        s"${Gazetteer.gpes(r.nextInt(Gazetteer.gpes.size))} cited " +
        s"${Gazetteer.laws(r.nextInt(Gazetteer.laws.size))}."
    val names = Seq(2 * j, 2 * j + 1).map(k => dim.surfaces((k % dim.surfaces.size).toInt)) ++
      Vector.fill(zipfNames)(dim.surfaces(zipf.draw(r) * WideDim.PerGroup + r.nextInt(WideDim.PerGroup)))
    val base = Text.normWs(docText(r, 8, 30))
    val paras = Pages.chunk(base) ++ names.map(sentence)
    val html = s"<html><head><title>Doc $id</title></head><body>" +
      paras.map(p => s"<p>$p</p>").mkString + "</body></html>"
    Page(Pages.urlOf(id), new java.sql.Timestamp(Pages.EpochMs + id * 1000L),
      html.getBytes(java.nio.charset.StandardCharsets.UTF_8), paras.mkString(" "),
      Langs(r.nextInt(Langs.size)))
  }

  /** Whether page `j` belongs to the ~5% refresh delta. */
  def inDelta(seed: Long, j: Long): Boolean =
    java.lang.Math.floorMod(mix(mix(seed ^ DeltaSplit) + j), 20L) == 0

  /** The `(surface, label)` gazetteer of a wide dimension: the default
    * gazetteer plus every wide surface as a PERSON. */
  def gazetteer(dim: WideDim): Vector[(String, String)] =
    Gazetteer.all ++ dim.surfaces.map(_ -> "PERSON")

  /** Stream feed files `lo` until `hi` of `perFile` pages each, page `i` in
    * file `i / perFile`. Written as one directory per file so each lands as
    * one parquet file with a known page count. */
  def writeFeed(spark: SparkSession, lo: Int, hi: Int, perFile: Int, dir: String)(
      page: Long => Page): (Long, Long) = {
    import spark.implicits._
    val parts = math.max(1, math.min(hi - lo, spark.sparkContext.defaultParallelism))
    writeFingerprinted(spark.range(lo.toLong * perFile, hi.toLong * perFile, 1, parts).as[Long]
      .map(i => (i / perFile, page(i)))
      .toDF("file_no", "p").select(col("file_no"), col("p.*")))(
      _.repartition(hi - lo, col("file_no")).write.mode("append").partitionBy("file_no").parquet(dir))
  }

  /** Joins two fingerprints; order-insensitive, like the fingerprint. */
  def combine(a: (Long, Long), b: (Long, Long)): (Long, Long) = (a._1 + b._1, a._2 + b._2)

  /** A lineitem slice with the columns the `q1_agg` canary reads, at the
    * sandbox sf0.01 row count. */
  def lineItems(spark: SparkSession, seed: Long, dir: String, n: Long = 60000L): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, 1).as[Long].map { i =>
      val r = rng(seed, LineItems, i)
      (i, (1 + r.nextInt(50)).toDouble, "ANR".charAt(r.nextInt(3)).toString,
        "FO".charAt(r.nextInt(2)).toString)
    }.toDF("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
      .write.parquet(s"$dir/lineitem.parquet")
  }

  /** Content fingerprint of a table: row count and the wrapping sum of
    * per-row xxhash64 over every column (order-insensitive). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(fingerprintCols(df).head, fingerprintCols(df).last).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).toBigInteger.longValue())
  }

  private def fingerprintCols(df: DataFrame) = Seq(count(lit(1)).as("n"),
    sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"))

  /** Run `write` over `df` and return the [[fingerprint]] of the rows it
    * wrote, observed by the write job itself (no second pass). */
  def writeFingerprinted(df: DataFrame)(write: DataFrame => Unit): (Long, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val cols = fingerprintCols(df)
    write(df.observe(obs, cols.head, cols.last))
    val m = obs.get
    (m("n").asInstanceOf[Long], m.get("h") match {
      case Some(d: java.math.BigDecimal) => d.toBigInteger.longValue()
      case _ => 0L
    })
  }
}
