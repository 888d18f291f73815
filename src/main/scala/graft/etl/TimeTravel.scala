package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run-level time travel and retention over [[Sink.runRoot]]'s stamped
  * layout (`outputDir/yyyy-MM-dd-HH-mm-ss/…`) — the poor-man's table-version
  * surface the reference's run-scoped output roots imply but never expose:
  * list the runs, read a specific one (or the latest), and vacuum old runs
  * under a keep-N policy.
  *
  * Versions are directories, so "time travel" is pure path selection — no
  * data is rewritten, and concurrent readers of an old run are unaffected
  * by a new publish (runs are immutable once written; the same property
  * the signature store's staged-rename publish provides at batch level).
  * Vacuum is the ONLY destructive operation and is keep-N monotone: it
  * never touches the newest `keep` runs AT VACUUM TIME — so a reader that
  * resolved "latest" just before a racing vacuum is safe. The guarantee is
  * scoped to exactly that: a long-lived reader of an OLDER run (or one
  * that resolved "latest" before N subsequent publishes) can still have
  * its run vacuumed out from under it; such readers need a retention
  * window (`keep`) matched to publish rate × read duration.
  *
  * `outputDir` may be a local path or any Hadoop file system URI (`file:`,
  * remote), as for [[Sink.writeAudited]], which publishes the runs.
  */
object TimeTravel {

  // Sink.stampFmt's shape: yyyy-MM-dd-HH-mm-ss
  private val stampRe = "\\d{4}-\\d{2}-\\d{2}-\\d{2}-\\d{2}-\\d{2}".r

  /** Run stamps under `outputDir`, oldest → newest (lexicographic order of
    * the stamp format IS chronological order). Non-run entries (manifests,
    * `_`-prefixed markers) are ignored. */
  def listRuns(outputDir: String, conf: Configuration): Seq[String] = {
    val root = new Path(outputDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName).filter(stampRe.matches(_)).sorted
  }

  /** Read one job's data at a specific run stamp. */
  def readRun(spark: SparkSession, outputDir: String, run: String,
      jobName: String): DataFrame =
    spark.read.parquet(s"$outputDir/$run/$jobName/data")

  /** Read the newest run (the default-table view). */
  def readLatest(spark: SparkSession, outputDir: String,
      jobName: String): DataFrame = {
    val runs = listRuns(outputDir, spark.sparkContext.hadoopConfiguration)
    require(runs.nonEmpty, s"no runs under $outputDir")
    readRun(spark, outputDir, runs.last, jobName)
  }

  /** Read ALL runs as one table under ADDITIVE schema evolution — the
    * "old files lack the new column" read every long-lived lake table
    * needs after a schema change: per-run frames union BY NAME with
    * missing columns null-filled, then `defaults` patch the nulls
    * (coalesce — an explicit NULL written in a new run stays null only if
    * the default is not given for that column… defaults apply to EVERY
    * null in the column, which is exactly the additive-evolution
    * semantic: the column did not exist before, so old rows take the
    * default). Each row carries its `__run` stamp for lineage.
    *
    * Deliberately NOT handled: INCOMPATIBLE type changes for a reused
    * column name — the union fails loudly (spec-pinned), because casting
    * a column across runs is a data migration, not a read.
    * Engine-coercible widenings (int → long) follow Spark's standard
    * set-operation widening. Runs are read per-directory — run count is
    * the metadata plane; the data plane is one union scan. */
  def readAcross(spark: SparkSession, outputDir: String, jobName: String,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val runs = listRuns(outputDir, spark.sparkContext.hadoopConfiguration)
    require(runs.nonEmpty, s"no runs under $outputDir")
    val frames = runs.map(r =>
      readRun(spark, outputDir, r, jobName).withColumn("__run", lit(r)))
    val unioned = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    defaults.foldLeft(unioned) { case (df, (c, d)) =>
      df.withColumn(c, coalesce(col(c), d))
    }
  }

  /** Delete all but the newest `keep` runs; returns the deleted stamps.
    * Refuses keep < 1 (a vacuum that can delete the only run is a
    * different operation — table drop — and should look like one). */
  def vacuum(outputDir: String, keep: Int, conf: Configuration): Seq[String] = {
    require(keep >= 1, s"vacuum keep must be >= 1, got $keep")
    val root = new Path(outputDir)
    val fs = root.getFileSystem(conf)
    val victims = listRuns(outputDir, conf).dropRight(keep)
    victims.foreach { run => fs.delete(new Path(root, run), true) }
    victims
  }
}
