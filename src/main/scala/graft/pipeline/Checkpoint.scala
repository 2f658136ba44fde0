package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Partition(group)-level checkpoint manifest — the distributed
  * generalization of the reference's incremental anti-join resume
  * (/root/reference/setup.sql:222): instead of `doc NOT IN (processed)`,
  * whole doc-groups are committed atomically and skipped on re-run.
  *
  * Layout: `<outDir>/_checkpoint/group_<g>.json`, written via
  * temp-file + rename (same directory ⇒ same filesystem; atomic on HDFS
  * and posix — on S3-family stores swap the manifest for an Iceberg
  * table commit, SURVEY.md §7.1). A group's data lives under
  * `<outDir>/data/group=<g>/` written with mode=overwrite, so a crashed
  * group re-runs cleanly with no duplicates (exactly-once per group).
  *
  * All I/O goes through the Hadoop [[FileSystem]] API (VERDICT r01 #8) —
  * the same code path works on file://, hdfs://, or any object-store
  * connector on the cluster classpath; nothing here assumes a local
  * filesystem. The conf is [[hadoopConf]]: the session's Hadoop conf,
  * with `file:` paths on [[graft.sources.LocalFs]], which makes the same
  * files and modes as Hadoop's local file system without forking a
  * `chmod` per file.
  */
object Checkpoint {

  /** The conf of the manifest, the metrics sidecar and the run listings:
    * a copy of the active session's Hadoop conf when one exists (so
    * spark.hadoop.* credentials/endpoints reach object-store connectors),
    * else a fresh default — the manifest must work from plain driver code
    * too — with [[graft.sources.LocalFs.Conf]] on top, so that `file:`
    * paths set permissions in-process, as the group writes do. The copy is
    * taken per call, so a later change to the session's conf (a rotated
    * credential, a umask) reaches the next commit.
    */
  private[graft] def hadoopConf(): Configuration = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(s => new Configuration(s.sparkContext.hadoopConfiguration))
      .getOrElse(new Configuration())
    graft.sources.LocalFs.Conf.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  private def fsFor(p: Path): FileSystem =
    p.getFileSystem(hadoopConf())

  private def dir(outDir: String): Path = new Path(outDir, "_checkpoint")

  def committedGroups(outDir: String): Set[Int] = {
    val d = dir(outDir)
    val fs = fsFor(d)
    if (!fs.isDirectory(d)) return Set.empty
    fs.listStatus(d).iterator.map(_.getPath.getName)
      .collect { case s if s.startsWith("group_") && s.endsWith(".json") =>
        s.stripPrefix("group_").stripSuffix(".json").toInt }
      .toSet
  }

  /** `s` as a JSON string literal, quotes included — for the manifest and
    * the metrics sidecar, whose run ids come from the caller.
    */
  private[graft] def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').result()
  }

  /** Commit group `group` of `outDir`: its manifest entry records the run,
    * the group's doc count and `durationMs`, the time from the start of
    * the group's write to this commit (in [[ExtractJob.runBucketed]] the
    * write includes the group's scan and extraction; in
    * [[ExtractJob.run]] those happen once, in the pass before the first
    * group, and are not in any group's duration).
    */
  def commitGroup(outDir: String, group: Int, runId: String,
                  docCount: Long, durationMs: Long): Unit = {
    val d = dir(outDir)
    val fs = fsFor(d)
    fs.mkdirs(d)
    val body = s"""{"group":$group,"run_id":${jsonString(runId)},""" +
      s""""doc_count":$docCount,"duration_ms":$durationMs}"""
    val tmp = new Path(d, s".group_$group.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dst = new Path(d, s"group_$group.json")
    fs.delete(dst, false) // rename does not overwrite on all FS impls
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"checkpoint rename failed: $tmp -> $dst")
  }

  def clear(outDir: String): Unit = {
    val d = dir(outDir)
    val fs = fsFor(d)
    if (fs.isDirectory(d)) fs.delete(d, true)
  }
}
