package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Engine counters over an interval, from a [[SparkListener]] the benchmark
  * registers. [[EngineCounters.snapshot]] drains the listener bus first, so
  * a delta between two snapshots holds every job and task of the calls made
  * in between. */
final case class Counters(jobs: Long, tasks: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long, taskMs: Vector[Long]) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    gcMs - o.gcMs, taskMs.drop(o.taskMs.size))
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    gcMs + o.gcMs, taskMs ++ o.taskMs)
  /** Task GC time over task run time. */
  def gcShare: Double = if (taskMs.isEmpty) 0.0 else gcMs.toDouble / math.max(1L, taskMs.sum)
  /** Slowest task over the median task: 1.0 is perfectly even. */
  def taskMaxOverMedian: Double =
    if (taskMs.isEmpty) 0.0
    else taskMs.max.toDouble / math.max(1.0, Stats.median(taskMs.map(_.toDouble)))
}

object Counters { val Zero: Counters = Counters(0, 0, 0, 0, 0, Vector.empty) }

final class EngineCounters(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, shuffleW, spill, gc = new AtomicLong()
  private val taskMs = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gc.addAndGet(m.jvmGCTime)
      taskMs.add(m.executorRunTime)
    }
  }

  def snapshot(): Counters = {
    org.apache.spark.PerfbenchShims.drainListenerBus(sc)
    Counters(jobs.get, tasks.get, shuffleW.get, spill.get, gc.get,
      taskMs.asScala.map(_.longValue).toVector)
  }
}

/** One progress event of the streaming query, as the benchmark uses it. */
final case class Progress(batchId: Long, startMs: Long, rows: Long,
    triggerMs: Long, addBatchMs: Long) {
  def endMs: Long = startMs + triggerMs
}

/** [[StreamingQueryListener]] the benchmark registers: keeps every progress
  * event that carried input, in batch order. */
final class StreamProbe extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Progress]()
  private val rows = new AtomicLong()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      events.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, ms("triggerExecution"), ms("addBatch")))
      rows.addAndGet(p.numInputRows)
    }
  }

  def committedRows: Long = rows.get
  def progress: Vector[Progress] = events.asScala.toVector.sortBy(_.batchId)
  def reset(): Unit = { events.clear(); rows.set(0) }
}

/** Old-generation occupancy after a full collection, sampled between
  * measured cycles: what the cycles leave live. Sampling after a full GC,
  * not after whichever young collection happened to run, keeps floating
  * garbage out of the figure. */
final class HeapProbe {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured")).toVector
  private var peak = 0L

  def sample(): Unit = {
    // collect until occupancy stops falling: each collection lets Spark's
    // cleaner release cached and checkpointed blocks whose references it
    // dropped, which the next collection then frees
    def used = oldPools.map(_.getUsage.getUsed).sum
    System.gc()
    var (prev, cur, rounds) = (Long.MaxValue, used, 0)
    while (cur < prev * 0.99 && rounds < 3) {
      Thread.sleep(100)
      System.gc()
      prev = cur
      cur = used
      rounds += 1
    }
    peak = math.max(peak, cur)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** One traced layer call. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run: spans nest by call order,
  * are kept in memory, and are written out once when the run ends. */
final class Tracer(val runId: String) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[A](name: String)(body: => A): A = {
    val id = spans.size
    spans += Span(id, name, stack.headOption.getOrElse(-1), runId, System.nanoTime(), 0L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  def all: Vector[Span] = spans.toVector

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { covered += math.max(0L, hi - lo); lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    covered += math.max(0L, hi - lo)
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Stats.jsonStr(s.name)},"parent":${s.parent},""" +
      s""""run":${Stats.jsonStr(s.runId)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
