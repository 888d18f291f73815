package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.config.JobSpec

/** Partition-pruned reads replacing the reference's manual S3 prefix
  * listing (SURVEY.md §2.1 S1/S2): one read over exactly the job's
  * `upgrade=/state=` prefixes (`indexer.py:204-207`), with `basePath` at
  * the release's data root so `upgrade`/`state` stay partition columns.
  * Non-selected partitions are never listed, which is what keeps the file
  * index proportional to the job, not the lake, at 100 TB.
  */
object PartitionedSource {

  /** A path a job may read: a local path that exists, or a remote one,
    * whose existence is left to the reader (the reference logs and
    * continues on absent metadata). */
  private def available(path: String): Boolean =
    new java.io.File(path).exists() || !path.startsWith("/")

  /** Read the time-series slice a job selects. Only the job's prefixes are
    * listed, so `inputFiles` is the job's own file set. A job none of whose
    * prefixes exist fails here, naming them. */
  def readData(spark: SparkSession, base: String, dataPartition: String, job: JobSpec): DataFrame = {
    val prefixes = PathResolver.dataPrefixes(base, dataPartition, job)
    val present = prefixes.filter(available)
    if (present.isEmpty)
      throw new IllegalArgumentException(
        s"no data for ${job.state} upgrades ${job.upgrades.mkString(",")}: " +
          s"none of the prefixes exist: ${prefixes.mkString(", ")}")
    val df = spark.read
      .option("basePath", PathResolver.dataBasePath(base, dataPartition, job))
      .parquet(present: _*)
    job.counties match {
      case Some(cs) if cs.nonEmpty && cs != Seq("*") && df.columns.contains("county") =>
        df.where(col("county").isin(cs: _*))
      case _ => df
    }
  }

  /** Exact metadata paths (S3 — no listing when paths are computable;
    * `indexer.py:48-91,135-137`). Missing paths are skipped (the reference
    * logs-and-continues on absent metadata). */
  def metadataPaths(job: JobSpec): Seq[String] =
    PathResolver.metadataPaths(job).filter(available)
}
