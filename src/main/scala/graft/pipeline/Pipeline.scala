package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Gazetteer, Mention, Page, Segment, Triple}
import graft.sources.Pages
import graft.extract.Extract
import graft.mentions.Mentions
import graft.canon.Canon
import graft.relations.Relations

/** The flagship Dataset[Page] → Dataset[Triple] flow (SURVEY §7.1):
  *
  *   pages → segments → mentions (broadcast automaton, narrow)
  *         → co-occurrence triples (shuffle on segment keys)
  *         → canonicalization (dimension-sized self-join + CC)
  *         → provenance triples (broadcast alias map)
  *
  * Shuffle frontiers: mention groupBy, ER band join, CC iterations — the
  * big-data path (pages → segments → mentions) is narrow end to end.
  */
object Pipeline {

  def pages(spark: SparkSession, sfDir: String): Dataset[Page] =
    Pages.synthesize(spark, sfDir)

  def segments(spark: SparkSession, sfDir: String): Dataset[Segment] =
    Extract.segments(pages(spark, sfDir))

  def mentions(spark: SparkSession, sfDir: String): Dataset[Mention] =
    Mentions.scanWithRecall(segments(spark, sfDir), Gazetteer.all.toArray)

  // Session-scoped memo of the cached mention Dataset: many SparkEntry
  // queries branch off the same scan, and Verify/Bench run them all in one
  // process — cache() + reuse turns 9 rescans into 1 (same effect a
  // materialized intermediate table has in a production run).
  private val mentionMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Dataset[Mention]]()

  def mentionsCached(spark: SparkSession, sfDir: String): Dataset[Mention] =
    mentionMemo.computeIfAbsent((spark, sfDir), _ => {
      val ms = mentions(spark, sfDir)
      // The page source may have been SPREAD over the cores for the scan
      // (graft.util.Reads.spread — the fill is then parallel), but a cache
      // built from the spread plan makes every one of the memo's many
      // small consumers pay defaultParallelism-many tasks per stage. For a
      // coarse source, re-cluster the cache BY URL back to the source's
      // own split count: the fill stays parallel (the exchange's map side
      // is the spread scan), the cached dimension reads at its natural
      // width, and url-hash partitioning PRESERVES the segment/url
      // contiguity the *Contiguous operators require — a url's mention run
      // lives in one map task's shuffle block, blocks keep row order, and
      // no other block carries that url. Well-split production sources
      // skip this entirely (no spread happened, no exchange added).
      val srcParts = spark.read.parquet(s"$sfDir/documents.parquet")
        .rdd.getNumPartitions
      val par = spark.sparkContext.defaultParallelism
      val clustered =
        if (srcParts < par) ms.repartition(srcParts, col("url")) else ms
      clustered.cache()
    })

  // Canonical alias map is dimension-sized but costs a canon job — memoize
  // the state too (q_canon / q_entity_prov / q_eval_pairs / q_lineage and
  // the triples all consume it).
  private val canonMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Canon.CanonState]()

  private def canonStateCached(spark: SparkSession, sfDir: String): Canon.CanonState =
    canonMemo.computeIfAbsent((spark, sfDir), _ => {
      val st = Canon.canonicalState(mentionsCached(spark, sfDir))
      st.copy(canonMap = st.canonMap.cache())
    })

  def canonCached(spark: SparkSession, sfDir: String): DataFrame =
    canonStateCached(spark, sfDir).canonMap

  /** Unpersist and drop both memo entries for (spark, sfDir). The memos are
    * correct for one-shot Verify/Bench processes, but hold cached Datasets
    * for the session's lifetime — any long-lived embedding (a service, a
    * notebook iterating over sfDirs) must call this when done with a
    * corpus. Verify/Bench call it at teardown; PipelineSpec asserts the
    * session's cache manager is empty afterwards.
    */
  def evict(spark: SparkSession, sfDir: String): Unit = {
    val key = (spark, sfDir)
    Option(mentionMemo.remove(key)).foreach(_.unpersist())
    Option(canonMemo.remove(key)).foreach(_.canonMap.unpersist())
  }

  /** The flagship triples dispatch — [[triples]], [[flagshipChecksum]]
    * and `Submit batch` all go through it. An alias map that fits the
    * driver ([[Canon.AliasMap]]) runs BOTH legs as one fused pass over the
    * mentions ([[Relations.triplesContiguous]]); an oversized dimension
    * keeps the shuffle-free co-occurrence and the broadcast-join + distinct
    * provenance. Either way `ms` must be url- and segment-contiguous (loud
    * guards on violation). A state solved on the driver brings its map
    * along, so only a distributed one pays the [[Canon.snapshotBounded]]
    * aggregate. Returns the triples and whether the contiguous form ran.
    */
  def triplesOf(ms: Dataset[Mention], canon: Canon.CanonState): (Dataset[Triple], Boolean) =
    canon.driverMap.fold(Canon.snapshotBounded(canon.canonMap))(Canon.AliasMap(_)) match {
      case Canon.AliasMap(m, _) => (Relations.triplesContiguous(ms, m), true)
      case _ => (Relations.cooccurrenceContiguous(ms)
        .unionByName(Relations.mentionedIn(ms, canon.canonMap)), false)
    }

  /** All triples over the memoized mention scan and canon state. */
  def triples(spark: SparkSession, sfDir: String): Dataset[Triple] =
    triplesOf(mentionsCached(spark, sfDir), canonStateCached(spark, sfDir))._1

  /** Terminal flagship action for benchmarking: counts the amplified triples
    * and unpersists the run's mention cache afterwards, so repeated reps in
    * one JVM (Bench min-of-3, ScalingBench interleaving) don't accumulate
    * cached Datasets across iterations.
    */
  def flagshipCount(spark: SparkSession, sfDir: String, factor: Int): Long =
    flagshipChecksum(spark, sfDir, factor)._1

  /** Order-insensitive content fingerprint of a triple set: row count plus
    * the SUM (mod 2^64) of per-row xxhash64 over all five columns. Sum, not
    * xor: xor cancels even multiplicities, so (count, sum-of-hashes) pins
    * the multiset far tighter — StreamBench requires the streamed sink's
    * fingerprint equal the batch flagship's at full amplified scale, not
    * just the row count.
    */
  def tripleChecksum(triples: DataFrame): (Long, Long) = {
    // hash sum via decimal(38,0): a raw long sum overflows (and THROWS under
    // Spark 4's default ANSI mode) within a handful of rows; BigDecimal
    // .longValue() truncates to the low 64 bits = the intended mod-2^64 sum
    val r = triples.agg(
      count(lit(1)),
      sum(xxhash64(col("subj"), col("pred"), col("obj"), col("url"), col("score"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).toBigInteger.longValue())
  }

  /** [[flagshipCount]] that also fingerprints the result — one job, same
    * cost shape as a plain count (map-side-combinable aggregate). The
    * gazetteer is a parameter so GazetteerBench can time the IDENTICAL
    * end-to-end pipeline at the 100k-surface dimension. */
  def flagshipChecksum(spark: SparkSession, sfDir: String, factor: Int,
      gazetteer: Array[(String, String)] = Gazetteer.all.toArray): (Long, Long) = {
    val pages = Pages.synthesizeAmplified(spark, sfDir, factor)
    val ms = Mentions.scanWithRecall(Extract.segments(pages), gazetteer).cache()
    try tripleChecksum(triplesOf(ms, Canon.canonicalState(ms))._1.toDF())
    finally ms.unpersist()
  }
}
