package graft.util

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Sink-side filesystem operations through the Hadoop FileSystem API, so
  * the materialized-sink machinery (batch-dir listings, sidecar deletes,
  * existence probes) works on whatever store the sink URI names — local
  * file://, HDFS, s3a://… — not just java.nio's local filesystem. Every
  * Spark read/write already goes through this layer; these helpers cover
  * the driver-side metadata operations around them.
  *
  * Deletion here is LOUD (IllegalStateException on failure): these calls
  * maintain sink invariants (a truncated sidecar, an emptied partition), so
  * a swallowed failure would surface later as silent table/lineage drift.
  * Contrast [[TempDirs.delete]], whose best-effort semantics are right for
  * JVM-exit scratch cleanup and wrong here.
  */
object SinkFs {

  private def fs(spark: SparkSession, p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  def exists(spark: SparkSession, p: String): Boolean = {
    val (f, hp) = fs(spark, p)
    f.exists(hp)
  }

  /** Child names under `dir` starting with `prefix`; Nil if `dir` absent. */
  def listPrefixed(spark: SparkSession, dir: String, prefix: String): Seq[String] = {
    val (f, hp) = fs(spark, dir)
    if (!f.exists(hp)) Nil
    else f.listStatus(hp).toSeq.map(_.getPath.getName).filter(_.startsWith(prefix))
  }

  /** Create an empty flag file, parents included (the `_DONE` publication
    * convention: create+close after a multi-file write completes is the
    * closest to an atomic commit every Hadoop FS offers). */
  def touch(spark: SparkSession, p: String): Unit = {
    val (f, hp) = fs(spark, p)
    f.create(hp, true).close()
  }

  /** Recursive delete that must succeed (or find nothing to delete). */
  def deleteLoud(spark: SparkSession, p: String): Unit = {
    val (f, hp) = fs(spark, p)
    if (f.exists(hp) && !f.delete(hp, true))
      throw new IllegalStateException(s"failed to delete sink path $p")
  }

  /** The `_DONE` version discipline of a carried-state dir: versions are
    * `dir/v<N>/` subdirs, each published by a `_DONE` flag. Lists the
    * versions, picks the newest flagged one as the carried state, lets
    * `write(carried, next)` fill the next version's dir (both given as
    * paths), publishes it with `_DONE`, then reclaims every version older
    * than the carried one and every unflagged dir (crash residue). The
    * carried version stays as the manual rollback window. Returns the
    * published version number and `write`'s result. */
  def publishVersion[A](spark: SparkSession, dir: String)(
      write: (Option[String], String) => A): (Int, A) = {
    def done(v: Int): Boolean = exists(spark, s"$dir/v$v/_DONE")
    val versions = listPrefixed(spark, dir, "v")
      .flatMap(n => scala.util.Try(n.stripPrefix("v").toInt).toOption)
    val cur = versions.filter(done).sorted.lastOption
    val next = cur.map(_ + 1).getOrElse(0)
    val result = write(cur.map(v => s"$dir/v$v"), s"$dir/v$next")
    touch(spark, s"$dir/v$next/_DONE")
    versions.filter(v => cur.exists(_ > v) || !done(v))
      .foreach(v => deleteLoud(spark, s"$dir/v$v"))
    (next, result)
  }
}
