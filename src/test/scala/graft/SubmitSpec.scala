package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline

/** The spark-submit entry point, driven end to end through [[Submit.run]]
  * with an explicit page table (the production input shape) — batch
  * materialize + resume, lambda wiring (batch --canon-out → stream --canon),
  * and the no-canon-yet raw ingest healed by compact. All sinks use the
  * default url-HASH bucket scheme, so these tests also pin
  * [[graft.materialize.Materialize.hashBucketCol]]'s lineage accounting.
  */
class SubmitSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(name: String) = graft.util.TempDirs.scratch(name).toString

  /** Page table staged to parquet — what a production caller points
    * --input at. */
  private lazy val pagesDir: String = {
    val dir = scratch("graft-submit-pages")
    graft.sources.Pages.synthesize(spark, sfTiny).repartition(4)
      .write.mode("overwrite").parquet(s"$dir/pages")
    s"$dir/pages"
  }

  /** The batch flagship's fingerprint over the same corpus, computed
    * directly (the equivalence target for every Submit path). */
  private lazy val batchChecksum: (Long, Long) =
    Pipeline.tripleChecksum(Pipeline.triples(spark, sfTiny).toDF())

  private def sinkChecksum(out: String): (Long, Long) =
    Pipeline.tripleChecksum(spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj", "url", "score"))

  test("submit batch materializes the flagship triples with hash-bucket lineage, and resumes as a no-op") {
    // The sink named as a plain path and as a file:// URI (the form an
    // s3a:// or hdfs:// sink takes): the resume must find the lineage
    // through the sink's own filesystem either way.
    val dir = scratch("graft-submit-batch")
    Seq(s"$dir/plain", s"file://$dir/uri").foreach { out =>
      Submit.run(spark, Array("batch", "--input", pagesDir, "--output", out))
      assert(sinkChecksum(out) == batchChecksum)
      val lineage = spark.read.parquet(s"$out/_lineage")
      val nTable = spark.read.parquet(s"$out/triples").count()
      assert(lineage.agg(sum("n_rows")).head.getLong(0) == nTable)
      // hash buckets are in range and the partition dirs agree with lineage
      val buckets = lineage.select("bucket").as[Int].collect().toSet
      assert(buckets.forall(b => b >= 0 && b < 16))
      // resume: a second run finds every bucket done and writes nothing
      val lineageRowsBefore = lineage.count()
      Submit.run(spark, Array("batch", "--input", pagesDir, "--output", out))
      assert(spark.read.parquet(s"$out/triples").count() == nTable, s"resume into $out")
      assert(spark.read.parquet(s"$out/_lineage").count() == lineageRowsBefore, s"resume into $out")
    }
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.TestShims.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.TestShims.drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("submit batch --canon-out stays within its Spark job budget") {
    // Before the canon job solved small dimensions on the driver and the
    // batch ran the fused contiguous triples, this call started 33 Spark
    // jobs on the tiny corpus (the canon chain, a second canon pass for
    // the broadcast alias map, the shuffle-form triples). The budget is
    // half of that, so a job-count regression fails here.
    val out = scratch("graft-submit-jobs")
    val jobs = jobsDuring(Submit.run(spark, Array("batch", "--input", pagesDir,
      "--output", s"$out/sink", "--canon-out", s"$out/alias")))
    assert(jobs <= 33 / 2, s"Submit batch ran $jobs Spark jobs")
  }

  test("submit batch over repeated urls equals the shuffle form, within and across input partitions") {
    val dir = scratch("graft-submit-dup")
    val pages = spark.read.parquet(pagesDir).as[graft.model.Page].collect()
    val Array(a, b, c, d) = pages.take(4)
    // url a twice in the first file (its second copy carries b's page),
    // url c once in each file; each small file is its own input partition
    (pages.toSeq :+ a.copy(html = b.html, text = b.text)).toDS().coalesce(1)
      .write.parquet(s"$dir/pages")
    Seq(c.copy(html = d.html, text = d.text)).toDS().coalesce(1)
      .write.mode("append").parquet(s"$dir/pages")
    val input = spark.read.parquet(s"$dir/pages")
    assert(input.rdd.getNumPartitions == 2)
    assert(input.filter(col("url") === c.url).select(spark_partition_id()).distinct().count() == 2)

    val out = scratch("graft-submit-dup-sink")
    Submit.run(spark, Array("batch", "--input", s"$dir/pages", "--output", out))
    val ms = graft.mentions.Mentions.scanWithRecall(graft.extract.Extract.segments(
      graft.sources.Pages.fromParquet(spark, s"$dir/pages")), graft.model.Gazetteer.all.toArray).cache()
    try {
      val shuffleForm = graft.relations.Relations.cooccurrence(ms)
        .unionByName(graft.relations.Relations.mentionedIn(ms, graft.canon.Canon.canonicalMap(ms)))
      assert(sinkChecksum(out) == Pipeline.tripleChecksum(shuffleForm.toDF()))
    } finally ms.unpersist()
  }

  test("lambda wiring: batch --canon-out feeds stream --canon; stream sink equals the batch flagship") {
    val out = scratch("graft-submit-lambda")
    Submit.run(spark, Array("batch", "--input", pagesDir,
      "--output", s"$out/batch_sink", "--canon-out", s"$out/alias"))
    Submit.run(spark, Array("stream", "--input", pagesDir,
      "--output", s"$out/stream_sink", "--checkpoint", s"$out/ckpt",
      "--canon", s"$out/alias", "--files-per-trigger", "2"))
    assert(sinkChecksum(s"$out/stream_sink") == batchChecksum)
  }

  test("no-canon-yet ingest lands raw provenance; compact canonicalizes it to the batch flagship") {
    val out = scratch("graft-submit-raw")
    Submit.run(spark, Array("stream", "--input", pagesDir,
      "--output", s"$out/sink", "--checkpoint", s"$out/ckpt",
      "--files-per-trigger", "2"))
    // raw: provenance subjects are surface forms — the corpus plants fuzzy
    // variants, so at least one subject differs from its canonical and the
    // raw fingerprint cannot equal the batch flagship's
    val raw = sinkChecksum(s"$out/sink")
    assert(raw != batchChecksum, "raw drain should differ until compacted")
    Submit.run(spark, Array("compact", "--output", s"$out/sink",
      "--input", pagesDir))
    assert(sinkChecksum(s"$out/sink") == batchChecksum)
    // idempotent: a second compact is the zero-rewrite fast path
    Submit.run(spark, Array("compact", "--output", s"$out/sink",
      "--input", pagesDir))
    assert(sinkChecksum(s"$out/sink") == batchChecksum)
  }

  test("--gazetteer loads the scan dimension from parquet") {
    val out = scratch("graft-submit-gaz")
    // a one-PERSON gazetteer: provenance triples exist (so the sink is
    // non-empty and readable) but can only ever name that surface
    val one = Seq(graft.model.Gazetteer.all.find(_._2 == "PERSON").get)
    one.toDF("surface", "label").write.parquet(s"$out/gaz")
    Submit.run(spark, Array("batch", "--input", pagesDir,
      "--output", s"$out/sink", "--gazetteer", s"$out/gaz"))
    val sink = spark.read.parquet(s"$out/sink/triples")
    // single-label gazetteer ⇒ no co-occurrence rule can fire: provenance
    // only, and all of it names the one surface's canonical cluster
    val preds = sink.select("pred").distinct().as[String].collect().toSet
    assert(preds == Set(graft.relations.Relations.ProvPred))
    assert(sink.select("subj").distinct().count() == 1)
  }

  test("repair rebuilds lost sidecars from the table through the CLI") {
    val out = scratch("graft-submit-repair")
    Submit.run(spark, Array("stream", "--input", pagesDir,
      "--output", s"$out/sink", "--checkpoint", s"$out/ckpt",
      "--files-per-trigger", "2"))
    val nTable = spark.read.parquet(s"$out/sink/triples").count()
    // simulate the compaction crash window: one batch's lineage vanishes
    val victims = new java.io.File(s"$out/sink/_lineage").listFiles()
      .filter(_.getName.startsWith("batch-")).sortBy(_.getName)
    assert(victims.nonEmpty)
    graft.util.TempDirs.delete(victims.head.toPath)
    Submit.run(spark, Array("repair", "--output", s"$out/sink"))
    assert(spark.read.parquet(s"$out/sink/_lineage/*")
      .agg(sum("n_rows")).head.getLong(0) == nTable)
    assert(spark.read.parquet(s"$out/sink/_metrics/*")
      .agg(sum("rows_out")).head.getLong(0) == nTable)
  }

  test("refresh folds page deltas into a versioned canon state, equal to the full job, and feeds the stream") {
    val dir = scratch("graft-submit-refresh")
    val pages = spark.read.parquet(pagesDir)
    val half = pmod(xxhash64(col("url")), lit(2))
    pages.filter(half === 0).write.parquet(s"$dir/delta0")
    pages.filter(half === 1).write.parquet(s"$dir/delta1")

    def aliasMap(v: Int): Map[String, String] =
      spark.read.parquet(s"$dir/state/v$v/alias").collect()
        .map(r => r.getAs[String]("surface") -> r.getAs[String]("canonical")).toMap
    val full = Pipeline.canonCached(spark, sfTiny).collect()
      .map(r => r.getAs[String]("surface") -> r.getAs[String]("canonical")).toMap

    // initial refresh = full job over delta0, published as v0
    Submit.run(spark, Array("refresh", "--input", s"$dir/delta0", "--state", s"$dir/state"))
    assert(new java.io.File(s"$dir/state/v0/_DONE").exists())
    // second refresh folds delta1 incrementally: v1 must equal the full job
    Submit.run(spark, Array("refresh", "--input", s"$dir/delta1",
      "--state", s"$dir/state", "--canon-out", s"$dir/alias"))
    assert(aliasMap(1) == full)
    // predecessor kept for rollback; --canon-out is a content copy of v1
    assert(new java.io.File(s"$dir/state/v0/_DONE").exists())
    assert(spark.read.parquet(s"$dir/alias").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap == full)

    // the refreshed alias drives the stream to batch-flagship equality
    Submit.run(spark, Array("stream", "--input", pagesDir,
      "--output", s"$dir/sink", "--checkpoint", s"$dir/ckpt",
      "--canon", s"$dir/alias", "--files-per-trigger", "2"))
    assert(sinkChecksum(s"$dir/sink") == batchChecksum)

    // crash residue (unflagged version dir) + an empty third delta: the
    // refresh is a no-op on the map, publishes v2, reclaims v0 and the
    // residue, and keeps v1 as the rollback window
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/state/v9/stats"))
    pages.limit(0).write.parquet(s"$dir/delta_empty")
    Submit.run(spark, Array("refresh", "--input", s"$dir/delta_empty", "--state", s"$dir/state"))
    assert(aliasMap(2) == full)
    val left = new java.io.File(s"$dir/state").listFiles().map(_.getName)
      .filter(_.startsWith("v")).toSet
    assert(left == Set("v1", "v2"))
  }

  test("dedup folds document deltas into a versioned fingerprint index, equal to the full job") {
    val dir = scratch("graft-submit-dedup")
    val corpus = graft.dedup.Dedup.corpus(spark, sfTiny)
    val half = pmod(hash(col("doc_id")), lit(2))
    corpus.filter(half === 0).write.parquet(s"$dir/delta0")
    corpus.filter(half === 1).write.parquet(s"$dir/delta1")
    def idx(v: Int): Set[(String, Long, Long)] =
      spark.read.parquet(s"$dir/index/v$v/index").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.dedup.Dedup.exact(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // initial fold publishes v0 = exact dedup of delta0; new_docs = all of it
    Submit.run(spark, Array("dedup", "--input", s"$dir/delta0", "--index", s"$dir/index"))
    assert(new java.io.File(s"$dir/index/v0/_DONE").exists())
    assert(idx(0) == graft.dedup.Dedup.exact(corpus.filter(half === 0)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
    assert(spark.read.parquet(s"$dir/index/v0/new_docs").count() == idx(0).size)

    // second fold: v1 must equal the full-corpus exact dedup; new_docs are
    // exactly the hashes v0 had not seen
    Submit.run(spark, Array("dedup", "--input", s"$dir/delta1", "--index", s"$dir/index"))
    assert(idx(1) == full)
    val newDocs = spark.read.parquet(s"$dir/index/v1/new_docs").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // new = hashes v0 had not seen (a hash in BOTH halves is not new even
    // when delta1 carries a smaller keeper for it)
    val expected = full.map(_._1) -- idx(0).map(_._1)
    assert(newDocs.map(_._1) == expected)

    // empty third delta: index passes through, zero new docs, v0 reclaimed
    corpus.limit(0).write.parquet(s"$dir/delta_empty")
    Submit.run(spark, Array("dedup", "--input", s"$dir/delta_empty", "--index", s"$dir/index"))
    assert(idx(2) == full)
    assert(spark.read.parquet(s"$dir/index/v2/new_docs").count() == 0)
    val left = new java.io.File(s"$dir/index").listFiles().map(_.getName)
      .filter(_.startsWith("v")).toSet
    assert(left == Set("v1", "v2"))
  }

  test("usage errors are loud: unknown subcommand, missing required option, unknown option") {
    intercept[IllegalArgumentException] {
      Submit.run(spark, Array("frobnicate"))
    }
    intercept[IllegalArgumentException] {
      Submit.run(spark, Array("batch", "--input", pagesDir))
    }
    // a typo must fail, not silently fall back to a default dimension
    intercept[IllegalArgumentException] {
      Submit.run(spark, Array("batch", "--input", pagesDir,
        "--output", scratch("graft-submit-typo"), "--gazeteer", "/nope"))
    }
  }
}
