package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.config.JobSpec

/** Partition-pruned reads replacing the reference's manual S3 prefix
  * listing (SURVEY.md §2.1 S1/S2): one read over exactly the job's
  * `upgrade=/state=` prefixes (`indexer.py:204-207`), with `basePath` at
  * the release's data root so `upgrade`/`state` stay partition columns.
  * Non-selected partitions are never listed, which is what keeps the file
  * index proportional to the job, not the lake, at 100 TB.
  */
object PartitionedSource {

  /** A path a job may read: one that exists on its file system, local or
    * remote (the reference logs and continues on absent metadata). */
  private def available(path: String, conf: Configuration): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf).exists(p)
  }

  /** The data schema of the first visible file under `prefixes`, read from
    * its footer on the driver. Spark's own inference without `mergeSchema`
    * also reads one footer, but starts a Spark job to do it. */
  private def footerSchema(spark: SparkSession, prefixes: Seq[String]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // the names Spark's file index skips: _SUCCESS, .crc, _temporary/...
    def visible(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith("."))
    }
    // listStatus, not listFiles: without Hadoop's native library a located
    // status on the local file system starts a process per file
    def firstFile(fs: FileSystem, dir: Path): Option[FileStatus] = {
      val (dirs, files) = fs.listStatus(dir).filter(visible).partition(_.isDirectory)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstFile(fs, d.getPath)).nextOption())
    }
    val first = prefixes.iterator.map(new Path(_))
      .flatMap(p => firstFile(p.getFileSystem(conf), p)).nextOption()
    first.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val meta = try reader.getFooter.getFileMetaData finally reader.close()
      // a Spark-written file carries its Spark schema, which wins, as in
      // Spark's own footer read
      Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
    }
  }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Read the time-series slice a job selects. Only the job's prefixes are
    * listed, so `inputFiles` is the job's own file set; the data schema
    * comes from one footer ([[footerSchema]]) and the partition columns
    * from the directory names, so building the frame starts no Spark job.
    * A job none of whose prefixes exist fails here, naming them. */
  def readData(spark: SparkSession, base: String, dataPartition: String, job: JobSpec): DataFrame = {
    val prefixes = PathResolver.dataPrefixes(base, dataPartition, job)
    val present = prefixes.filter(available(_, spark.sparkContext.hadoopConfiguration))
    if (present.isEmpty)
      throw new IllegalArgumentException(
        s"no data for ${job.state} upgrades ${job.upgrades.mkString(",")}: " +
          s"none of the prefixes exist: ${prefixes.mkString(", ")}")
    val df = footerSchema(spark, present).fold(spark.read)(spark.read.schema(_))
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
  def metadataPaths(job: JobSpec, conf: Configuration): Seq[String] =
    PathResolver.metadataPaths(job).filter(available(_, conf))
}
