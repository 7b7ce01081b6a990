package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

/** One staged feed file and its page count. */
final case class FeedFile(path: Path, rows: Long)

/** Outcome of one open-loop stream pass over its scheduled files (the
  * priming file excluded). `due`/`landed` are epoch ms per file,
  * `commitBatch` the index into `progress` of the batch that committed each
  * file. */
final case class StreamRun(due: Vector[Long], lateMs: Vector[Double], landed: Vector[Long],
    progress: Vector[Progress], commitBatch: Vector[Option[Int]], sink: Path) {

  /** Per committed file: end of its committing batch minus its due time. */
  def freshnessMs: Vector[Double] = due.indices.flatMap { i =>
    commitBatch(i).map(b => (progress(b).endMs - due(i)).toDouble)
  }.toVector

  /** Most files landed but not yet committed when a batch started. */
  def backlogMax: Int = progress.indices.map { b =>
    val landedBefore = landed.count(_ <= progress(b).startMs)
    val committedBefore = commitBatch.count(_.exists(_ < b))
    landedBefore - committedBefore
  }.foldLeft(0)(math.max)
}

/** The open-loop stream workload step. `Submit stream --trigger-ms T` runs in
  * a background thread. The first feed file primes it: it lands alone, and
  * the schedule starts once a micro-batch has committed it, so planning and
  * code generation of the cold query stay out of the measured batches. Then a
  * feeder thread lands the other files into the feed directory by atomic
  * rename, one every `intervalMs`, whatever the query is doing. When every
  * file has committed, the query is stopped through `spark.streams`. */
object StreamPass {

  def run(ctx: Ctx, probe: StreamProbe, feed: Vector[FeedFile], intervalMs: Long,
      triggerMs: Long, extraArgs: Seq[String]): StreamRun = {
    val spark = ctx.spark
    val (feedDir, sink, ckpt) = (ctx.fresh("feed"), ctx.fresh("stream-sink"), ctx.fresh("ckpt"))
    Files.createDirectories(feedDir)
    probe.reset()
    val query = new Thread(() => {
      ctx.op("submit stream") {
        ctx.submit(Seq("stream", "--input", feedDir.toString, "--output", sink.toString,
          "--checkpoint", ckpt.toString, "--trigger-ms", triggerMs.toString,
          // every landed file joins the next micro-batch
          "--files-per-trigger", "1000000", "--bucket-by", "hash") ++ extraArgs: _*)
      }
      ()
    })
    query.start()
    waitUntil(60000)(spark.streams.active.nonEmpty || !query.isAlive)

    def land(i: Int): Long = {
      // hidden name while copying: the file source skips dot-files
      val tmp = feedDir.resolve(f".land-$i%05d")
      Files.copy(feed(i).path, tmp)
      Files.move(tmp, feedDir.resolve(f"f-$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }
    land(0)
    waitUntil(60000)(probe.committedRows >= feed(0).rows || !query.isAlive)
    ctx.record(probe.committedRows >= feed(0).rows)
    probe.reset()

    val sched = feed.drop(1)
    val n = sched.size
    val late = new Array[Double](n)
    val landed = new Array[Long](n)
    // the schedule in wall-clock ms (progress events carry wall-clock
    // times) and in nanos (for how late the feeder itself ran)
    val (startMs, startNs) = (System.currentTimeMillis() + 100, System.nanoTime() + 100000000L)
    val due = Vector.tabulate(n)(i => startMs + i * intervalMs)
    val feeder = new Thread(() => (0 until n).foreach { i =>
      val dueNs = startNs + i * intervalMs * 1000000L
      val wait = dueNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      late(i) = (System.nanoTime() - dueNs) / 1e6
      landed(i) = land(i + 1)
    })
    feeder.start()
    feeder.join()
    val total = sched.map(_.rows).sum
    waitUntil(60000)(probe.committedRows >= total || !query.isAlive)
    spark.streams.active.foreach(_.stop())
    query.join(60000)

    val progress = probe.progress
    val commit = Stats.commitBatchOf(sched.map(_.rows), progress.map(_.rows)).toVector
    // every landed file is one operation: failed unless a batch committed it
    commit.foreach(c => ctx.record(c.isDefined))
    progress.foreach(p => ctx.log(s"stream batch ${p.batchId}: ${p.rows} pages, " +
      s"${p.triggerMs} ms (addBatch ${p.addBatchMs} ms)"))
    StreamRun(due, late.toVector, landed.toVector, progress, commit, sink)
  }

  private def waitUntil(timeoutMs: Long)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(5)
  }
}
