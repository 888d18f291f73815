package graft.etl

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Output layout of the reference (SURVEY.md §2.1 S7/S8): a run-stamped
  * root (`main.py:47-49` — `{output_dir}/{YYYY-MM-DD-HH-MM-SS}/`), a
  * per-job subdirectory (`worker.py:207`), Hive partition dirs preserved
  * (`worker.py:201-210`), snappy parquet (`worker.py:184,196`), metadata
  * copied byte for byte (`worker.py:171-173`).
  *
  * Unlike the reference (one output file per input file, one process each),
  * a partitioned write first clusters its rows by the partition columns
  * (one REBALANCE shuffle, [[clusteredByPartition]]), so each
  * `upgrade=/state=[/county=]` directory gets one file, or a few when it is
  * larger than AQE's advisory partition size — never one file per pair of
  * task and directory.
  */
object Sink {

  private val stampFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd-HH-mm-ss").withZone(ZoneOffset.UTC)

  def runRoot(outputDir: String, at: Instant = Instant.now()): String =
    s"$outputDir/${stampFmt.format(at)}"

  /** Write the transformed data partitioned by the partition columns that
    * survived the read (upgrade/state[/county]), clustered by them first
    * ([[clusteredByPartition]]): one file per partition directory unless
    * that directory's rows outgrow AQE's advisory partition size. A frame
    * without partition columns is written as it is. */
  def writeData(df: DataFrame, runRoot: String, jobName: String): String = {
    val out = s"$runRoot/$jobName/data"
    val partCols = Seq("upgrade", "state", "county").filter(df.columns.contains)
    clusteredByPartition(df, partCols).write
      .mode("overwrite")
      .option("compression", "snappy")
      .partitionBy(partCols: _*)
      .parquet(out)
    out
  }

  /** Small-files control for a dynamic-partition write. Written as it
    * comes, such a write emits one file per pair of task and partition
    * value: 1000 tasks × 3000 counties = 3M files of a few KB each, and
    * every later scan pays a file open per file. REBALANCE on the
    * partition columns routes each partition value to one writer task;
    * AQE (on by default, and in every session of this project) splits a
    * value only when its shuffle data is larger than
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, and coalesces the
    * small ones. So files per directory follow the directory's size, not
    * the input split layout. Without AQE the hint is a plain hash
    * repartition by the partition columns (one task per value, no split).
    *
    * Place it after any aggregation, as [[writeData]] does with the rollup:
    * below an aggregate AQE must undo a skew split, which would break the
    * aggregate's clustering, and a large county would become one task. */
  private[graft] def clusteredByPartition(df: DataFrame, partCols: Seq[String]): DataFrame =
    if (partCols.isEmpty) df else df.hint("rebalance", partCols.map(col): _*)

  /** Bucketed managed table: pre-shuffles data into `nBuckets` by the join
    * key at write time so later equi-joins between tables bucketed the same
    * way read co-located and skip the shuffle entirely (verified in
    * `BucketingSpec`: the join plan contains no Exchange). The 100 TB lever
    * for repeated fact-to-fact joins the reference's query layer re-shuffles
    * every time. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Parquet bloom filters at write time — the point-lookup skipping tier
    * BELOW zone maps: min/max stats prune range predicates but are
    * useless for needle-in-haystack id lookups on unclustered columns
    * (every row group's [min, max] spans the id space); a per-column
    * bloom filter in the column chunk metadata rejects non-member row
    * groups before any data page is read. The natural companion to
    * [[Erasure.eraseKeys]]' "which files hold these few keys" scan and
    * any entity-id point query. Costs ~bits-per-ndv of file size on the
    * filtered columns only. */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
      expectedNdv: Long = 100000L): Unit = {
    require(bloomCols.nonEmpty)
    val base = df.write.mode("overwrite").option("compression", "snappy")
    bloomCols.foldLeft(base) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
    }.parquet(path)
  }

  /** Write-audit-publish — the ingest discipline that keeps a bad batch
    * out of the readable table entirely: write the frame under a hidden
    * `.staging-<stamp>` dir, run the [[graft.operators.Validation]]
    * constraint suite against the WRITTEN files (auditing the bytes
    * readers would actually see — a re-read also catches write
    * corruption, not just bad input), and only on all-pass rename the
    * staging dir to a published [[TimeTravel]]-visible run. On any
    * failing constraint the staging dir is LEFT IN PLACE as the
    * quarantined evidence and the call throws, naming the failed checks —
    * readers of `latest` never observe the bad batch.
    *
    * Published through [[publishRun]]. `outputDir` may be a local path or
    * any Hadoop file system URI. Returns the published run stamp. */
  def writeAudited(df: DataFrame, outputDir: String, jobName: String,
      checks: Seq[graft.operators.Validation.Check],
      refIntegrity: Seq[(String, DataFrame, String)] = Nil,
      at: Instant = Instant.now()): String = {
    val spark = df.sparkSession
    publishRun(outputDir, at, spark.sparkContext.hadoopConfiguration) { (staging, _) =>
      df.write.mode("overwrite").option("compression", "snappy")
        .parquet(s"$staging/$jobName/data")
      val verdicts = graft.operators.Validation
        .suite(spark.read.parquet(s"$staging/$jobName/data"),
          checks, refIntegrity)
        .collect() // constraint-count-sized
      val failed = verdicts.filter(_.getLong(2) == 0L).map(_.getString(0))
      if (failed.nonEmpty)
        throw new IllegalStateException(
          s"write-audit-publish REFUSED for $jobName: failed checks " +
            failed.mkString("[", ", ", "]") +
            s" — quarantined batch left at $staging for inspection")
    }
  }

  /** Publish a new run under `outputDir` (a local path or any Hadoop file
    * system URI), the one run-stamp publish of [[writeAudited]],
    * [[Layout.optimize]] and [[DeletionVectors.applyDeletesAsRun]]:
    * `write(staging, stamp)` fills the hidden `.staging-<stamp>` root it
    * is given, then one rename makes it the run `<stamp>`
    * ([[TimeTravel.listRuns]] lists only final stamps, so readers see the
    * old runs or the complete new one). Refuses a stamp that already
    * exists. With `sweep`, leftover staging dirs of crashed publishes are
    * deleted first; without it nothing else under `outputDir` is touched,
    * so a refused [[writeAudited]] batch stays quarantined. Returns the
    * stamp. */
  private[etl] def publishRun(outputDir: String, at: Instant, conf: Configuration,
      sweep: Boolean = false)(write: (String, String) => Unit): String = {
    val root = runRoot(outputDir, at)
    val stamp = root.substring(outputDir.length + 1)
    val staging = new Path(s"$outputDir/.staging-$stamp")
    val dest = new Path(root)
    val fs = dest.getFileSystem(conf)
    require(!fs.exists(dest), s"run $stamp already exists — runs are immutable")
    if (sweep && fs.exists(staging.getParent))
      fs.listStatus(staging.getParent).filter(_.getPath.getName.startsWith(".staging-"))
        .foreach(st => fs.delete(st.getPath, true))
    write(staging.toString, stamp)
    if (!fs.rename(staging, dest))
      throw new java.io.IOException(
        s"publish failed: could not rename $staging to $dest")
    stamp
  }

  /** Partition-scoped backfill — recompute a slice of a partitioned table
    * without touching the rest: `mode(overwrite)` with DYNAMIC partition
    * overwrite replaces exactly the partition directories present in `df`
    * and leaves every other directory's files byte-identical (STATIC
    * overwrite — the default — would wipe the whole table first, the
    * classic backfill footgun). The idempotent "re-run day X" operation a
    * scheduled pipeline needs: at 100 TB a one-day backfill rewrites one
    * day's directories, not the table.
    *
    * Rows are clustered by `partCols` first, as in [[writeData]], so each
    * replaced directory gets one file (or a few, by size) however many
    * tasks produced its rows.
    *
    * The overwrite mode rides a per-write option, not a session conf, so
    * concurrent writers with different intents can't race on a global
    * setting. NOT safe under concurrent readers of the SAME partitions
    * being replaced (files swap underneath them) — run under the same
    * maintenance discipline as [[graft.etl.Compaction]], or publish a new
    * [[TimeTravel]] run for reader-safe replacement. */
  def backfillPartitions(df: DataFrame, dataDir: String,
      partCols: Seq[String]): Unit = {
    val pc = partCols.filter(df.columns.contains)
    require(pc.nonEmpty, s"backfill needs at least one partition column in ${df.columns.toSeq}")
    clusteredByPartition(df, pc).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .partitionBy(pc: _*)
      .parquet(dataDir)
  }

  /** Metadata bypass (S6), the reference's exact behavior
    * (`worker.py:171-173`): each source file or directory lands under
    * `<job>/metadata` byte for byte (same checksums), with no parquet
    * decode or encode and no Spark job. Source and destination may be on
    * any Hadoop file system (local paths, `file:` or remote URIs). Returns
    * the copied entries. */
  def copyMetadataRaw(srcPaths: Seq[String], runRoot: String, jobName: String,
      conf: Configuration): Seq[String] = {
    val outDir = new Path(s"$runRoot/$jobName/metadata")
    val outFs = outDir.getFileSystem(conf)
    srcPaths.map { p =>
      val src = new Path(p)
      val dest = new Path(outDir, src.getName)
      if (!FileUtil.copy(src.getFileSystem(conf), src, outFs, dest,
          false, true, conf))
        throw new java.io.IOException(s"metadata copy failed: $src to $dest")
      dest.toString
    }
  }
}
