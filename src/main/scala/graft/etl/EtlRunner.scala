package graft.etl

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

import graft.config.EtlConfig
import graft.operators.HourlyRollup

/** `etl_main` equivalent (`main.py:44-133` minus the process plumbing):
  * per job — partition-pruned read → hourly rollup → partitioned snappy
  * write → metadata byte copy — then catalog registration for the run (one
  * data table per state, one metadata table over every job's metadata)
  * and one tracker summary. The reference's worker pool, queues, crash
  * monitor and backoff are all subsumed by Spark's scheduler (SURVEY.md
  * §2.11).
  *
  * `dataTables(i)` and `metadataTables(i)` name the tables job `i`'s saved
  * queries run against; jobs of one state share a data table.
  */
final case class EtlResult(
    runRoot: String,
    report: RunReport,
    dataTables: Seq[String],
    metadataTables: Seq[String])

object EtlRunner {

  val DataTablePrefix = "oedi_data"
  val MetadataTablePrefix = "oedi_metadata"

  def run(spark: SparkSession, config: EtlConfig): EtlResult = {
    val t0 = System.nanoTime()
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Sink.runRoot(config.settings.output_dir)
    val reports = scala.collection.mutable.ArrayBuffer.empty[JobReport]
    // (state, written data directory, the schema the write used)
    val written = scala.collection.mutable.ArrayBuffer.empty[(String, String, StructType)]
    val metaEntries = scala.collection.mutable.ArrayBuffer.empty[String]

    config.job_specific.zipWithIndex.foreach { case (job, i) =>
      val name = job.jobName(i)
      val data = PartitionedSource.readData(
        spark, config.settings.base_partition, config.settings.data_partition_in_release, job)
      // Listed = the read's own file index, which holds exactly the files
      // under the job's partition prefixes (indexer.py:204-207).
      val listed = data.inputFiles.length.toLong
      // Row counts ride the write job as observed metrics (SURVEY.md §2.11:
      // the reference's tracker process maps to df.observe) — no extra
      // count() scans over the input or the written output.
      val obsIn = Observation(s"${name}_rows_in")
      val obsOut = Observation(s"${name}_rows_out")
      val observed = data.observe(obsIn, count(lit(1)).as("n"))
      // When the session carries a stats-catalog root, the write ALSO
      // publishes this table's planner statistics (row count + key-KMV +
      // skew sidecar) from the write's own scan — the
      // Profiling.writeWithStats contract riding the ETL flow, so every
      // downstream CostBasedJoin.consultOr site (SavedAnalytics, q19)
      // finds fresh entries with zero extra passes (the skew verify pass
      // reads the just-written, column-pruned output). Entry name =
      // `<registered table>.<key>`; the rollup's join key is the A4
      // contract column `bldg_id_min`.
      val statsRoot = spark.conf.getOption("spark.graft.statsCatalogRoot")
      val rolledBase =
        HourlyRollup(observed, passThrough = Seq("upgrade", "state", "county"))
      // byte metric needs the rolled schema (variable-width cols measured)
      val statsCols = statsRoot.toSeq.flatMap(_ =>
        graft.operators.Profiling.statsObservationColumns("bldg_id_min",
          schema = Some(rolledBase.schema)))
      val rolled = rolledBase.observe(obsOut, count(lit(1)).as("n"), statsCols: _*)
      val dataOut = Sink.writeData(rolled, root, name)
      statsRoot.foreach { sr =>
        val (n, mins, cands, nBytes) =
          graft.operators.Profiling.decodeStatsObservation(obsOut.get)
        graft.operators.Profiling.publishObservedStats(spark,
          s"$sr/${DataTablePrefix}_state_${job.state}.bldg_id_min",
          "bldg_id_min", 64, n, mins, cands,
          spark.read.schema(rolled.schema).parquet(dataOut), nBytes)
      }
      val rowsIn = obsIn.get("n").asInstanceOf[Long]
      val rowsOut = obsOut.get("n").asInstanceOf[Long]
      val filesOut = Tracker.countFiles(dataOut, conf)

      val metaSrc = PartitionedSource.metadataPaths(job, conf)
      val copied = Sink.copyMetadataRaw(metaSrc, root, name, conf)
      metaEntries ++= copied
      written += ((job.state, dataOut, rolled.schema))
      reports += JobReport(name, listed, rowsIn, rowsOut, filesOut,
        metaSrc.map(Tracker.countFiles(_, conf)).sum, copied.map(Tracker.countFiles(_, conf)).sum)
    }

    // Registered after the last job, so no job replaces another's table.
    // The entries, not the metadata/ directories: Spark does not list part
    // files inside a directory entry (a v1 metadata "file" written by Spark)
    // below a read root.
    val metaTable = CatalogRegistry.metadataTableName(MetadataTablePrefix)
    if (metaEntries.nonEmpty)
      CatalogRegistry.registerMetadata(spark, metaEntries.toSeq, MetadataTablePrefix)
    else spark.catalog.dropTempView(metaTable)
    def tableOf(state: String) = CatalogRegistry.dataTableName(DataTablePrefix, state)
    written.groupBy(w => tableOf(w._1)).values.foreach { outs =>
      CatalogRegistry.registerData(spark, outs.map(_._2).toSeq, DataTablePrefix, outs.head._1,
        Some(outs.map(_._3).reduce(unionSchema)))
    }
    val dataTables = written.map(w => tableOf(w._1)).toSeq

    val report = RunReport((System.nanoTime() - t0) / 1e9, reports.toSeq)
    EtlResult(root, report, dataTables, Seq.fill(dataTables.size)(metaTable))
  }

  /** `a`'s fields, then `b`'s fields `a` lacks. */
  private def unionSchema(a: StructType, b: StructType): StructType =
    StructType(a.fields ++ b.fields.filterNot(f => a.fieldNames.contains(f.name)))

  // ---- incremental runs (extension: the reference reprocesses everything
  // on every trigger; a manifest of processed (release, year, state,
  // upgrade) slices lets a re-run touch only new partitions) ----

  def sliceKey(job: graft.config.JobSpec, upgrade: Int): String =
    s"${job.release_name}/${job.release_year}/${job.state}/upgrade=$upgrade"

  /** The slice keys recorded in the manifest at `path` (local path or any
    * Hadoop file system URI); empty when there is no manifest yet. */
  def loadManifest(path: String, conf: Configuration = new Configuration()): Set[String] =
    readLines(new Path(path), conf).filter(_.nonEmpty).toSet

  /** Add `keys` to the manifest at `path`. The whole manifest is rewritten
    * to a hidden sibling and renamed over the old one (object stores have
    * no append), so a crash leaves either the old manifest or the new one. */
  def appendManifest(path: String, keys: Seq[String], conf: Configuration = new Configuration()): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val dest = fs.makeQualified(p)
    val tmp = new Path(dest.getParent, s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    val lines = readLines(dest, conf) ++ keys
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(dest.toUri, conf).rename(tmp, dest, Options.Rename.OVERWRITE)
  }

  private def readLines(p: Path, conf: Configuration): Seq[String] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else {
      val src = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
      try src.getLines().toList finally src.close()
    }
  }

  /** Process only the (job, upgrade) slices not yet in the manifest; record
    * the newly processed slices on success. Returns None when everything is
    * already up to date (no Spark job runs at all). */
  def runIncremental(spark: SparkSession, config: EtlConfig, manifestPath: String): Option[EtlResult] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val done = loadManifest(manifestPath, conf)
    val pending = config.job_specific
      .map(j => j.copy(upgrades = j.upgrades.filterNot(u => done(sliceKey(j, u)))))
      .filter(_.upgrades.nonEmpty)
    if (pending.isEmpty) None
    else {
      val result = run(spark, config.copy(job_specific = pending))
      appendManifest(manifestPath,
        pending.flatMap(j => j.upgrades.map(u => sliceKey(j, u))), conf)
      Some(result)
    }
  }
}
