package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Lineage/discrepancy summary replacing the reference's `ETLTracker`
  * process (`tracker.py:15-405`; summary shape `README.md:467-493`): counts
  * per stage (listed → transformed → uploaded) for data and metadata, and
  * a JSON report. Where the reference counts S3 objects through queue
  * stages, a Spark run counts input files (from the resolved file index)
  * and output files (from the committed write) — the same invariant
  * (`listed == uploaded` ⇒ nothing lost) expressed at the only real
  * boundary Spark has.
  */
final case class JobReport(
    jobName: String,
    dataFilesListed: Long,
    dataRowsIn: Long,
    dataRowsOut: Long,
    dataFilesWritten: Long,
    metadataFilesListed: Long,
    metadataFilesWritten: Long) {

  /** A job that listed input but committed no output lost data — the
    * invariant the reference's per-file tracker enforces, at Spark's
    * job granularity (file counts legitimately shrink through the rollup). */
  def lostOutput: Boolean = dataFilesListed > 0 && dataFilesWritten == 0
}

final case class RunReport(totalTimeSeconds: Double, jobs: Seq[JobReport]) {

  /** README.md:468-493-shaped JSON summary. */
  def toJson: String = {
    def jobJson(j: JobReport): String =
      s"""{"job":"${j.jobName}",""" +
        s""""data":{"listed":${j.dataFilesListed},"rows_in":${j.dataRowsIn},""" +
        s""""rows_out":${j.dataRowsOut},"uploaded":${j.dataFilesWritten},""" +
        s""""lost_output":${j.lostOutput}},""" +
        s""""metadata":{"listed":${j.metadataFilesListed},"uploaded":${j.metadataFilesWritten}}}"""
    s"""{"total_time_seconds":${f"$totalTimeSeconds%.2f"},"jobs":[${jobs.map(jobJson).mkString(",")}]}"""
  }
}

object Tracker {

  /** Parquet files under `dir` (any depth) on its file system, local or
    * remote; 0 when `dir` does not exist. */
  def countFiles(dir: String, conf: Configuration): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    // listStatus, not listFiles: without Hadoop's native library a located
    // status on the local file system starts a process per file
    def walk(p: Path): Long = fs.listStatus(p).map { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) 1L
      else 0L
    }.sum
    if (fs.exists(root)) walk(root) else 0L
  }

  /** [[countFiles]] under a default Hadoop configuration (local paths and
    * `file:` URIs). */
  def countFiles(dir: String): Long = countFiles(dir, new Configuration())
}
