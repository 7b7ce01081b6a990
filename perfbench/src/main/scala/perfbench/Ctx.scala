package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** What one run shares across its phases: the session, its scratch
  * directory, and the operation ledger that `attempted` / `failed`
  * report. Every Submit call, landed file, compaction and correctness check
  * is one operation; a failure is counted, logged and the run goes on. */
final class Ctx(val spark: SparkSession, val work: Path) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  private var attempted = 0L
  private var failed = 0L
  private var dirNo = 0

  def attemptedOps: Long = synchronized(attempted)
  def failedOps: Long = synchronized(failed)

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.3f] $msg")

  /** A fresh, empty directory under the run's scratch space (not created,
    * so Spark writers may create it themselves). */
  def fresh(name: String): Path = synchronized {
    dirNo += 1
    work.resolve(f"$name-$dirNo%04d")
  }

  /** Run one operation; count it, and count it failed if it throws. */
  def op[A](what: String)(body: => A): Option[A] = {
    synchronized(attempted += 1)
    try Some(body)
    catch {
      case NonFatal(e) =>
        synchronized(failed += 1)
        log(s"FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** A correctness check: one operation, failed when false or throwing. */
  def check(what: String)(cond: => Boolean): Boolean = {
    val ok =
      try cond
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          false
      }
    record(ok)
    log(s"check $what: ${if (ok) "ok" else "FAILED"}")
    ok
  }

  /** Count an operation outcome decided elsewhere (e.g. a landed file). */
  def record(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }

  /** `graft.Submit.run` with its summary lines captured. */
  def submit(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(graft.Submit.run(spark, args.toArray))
    ps.flush()
    val out = buf.toString("UTF-8")
    log(s"submit ${args.head}: ${out.trim}")
    out
  }

  /** A timed Submit call as one operation: (wall seconds, summary output). */
  def timedSubmit(args: String*): Option[(Double, String)] =
    op(s"submit ${args.mkString(" ")}") {
      val (t, out) = seconds(submit(args: _*))
      log(f"  took $t%.3f s")
      (t, out)
    }

  def seconds[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }
}

object Ctx {
  private val BatchOut = """\[submit\] batch: wrote (\d+) triples""".r.unanchored

  def batchTriples(out: String): Long = out match {
    case BatchOut(n) => n.toLong
    case _ => throw new IllegalStateException(s"unparsed batch output: $out")
  }

  /** Bytes and files under a sink: data files are the table's parquet parts,
    * everything else (lineage, metrics, alias and compaction records,
    * commit markers, checksums) is metadata. */
  final case class SinkStats(bytes: Long, dataFiles: Long, metaFiles: Long)

  def sinkStats(dir: Path): SinkStats = {
    val files = walk(dir).filter(Files.isRegularFile(_))
    val data = files.filter { f =>
      val rel = dir.relativize(f)
      val n = f.getFileName.toString
      rel.getName(0).toString == "triples" && !n.startsWith(".") && !n.startsWith("_")
    }
    SinkStats(files.map(Files.size).sum, data.size, files.size - data.size)
  }

  def walk(dir: Path): Vector[Path] =
    if (!Files.exists(dir)) Vector.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.toVector finally s.close()
    }

  def delete(dir: Path): Unit =
    walk(dir).reverse.foreach(p => Files.deleteIfExists(p))

  def copyDir(from: Path, to: Path): Unit =
    walk(from).foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
}
