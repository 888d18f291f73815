package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional deletion vectors — row-level deletes WITHOUT rewriting data
  * files (the Iceberg v2 / Delta DV mechanism). At 100 TB, a stream of
  * small takedown/correction requests cannot each pay a partition rewrite
  * ([[Erasure.eraseKeys]]'s unit of work); instead deletes accumulate as
  * (file, row-position) tombstones in a side store, every read anti-joins
  * them out, and a periodic APPLY pass rewrites only the files that
  * accumulated tombstones, resetting the store.
  *
  * Positions come from the parquet reader's own `_metadata.file_path` /
  * `_metadata.row_index` hidden columns — the scan-derived identity (the
  * same doctrine as Erasure's scan-derived partition paths: never
  * reconstruct write-side naming). The data files stay byte-identical
  * until apply, so concurrent readers of the RAW directory see stable
  * bytes; readers that must see deletes go through [[readWithDeletes]].
  *
  * Scale shape: the tombstone store is delete-sized, not data-sized; reads
  * broadcast it when small (left-anti join on (file, pos) — Spark picks
  * broadcast from its size), and [[applyDeletes]] touches only affected
  * files. The store is append-only parquet; duplicate tombstones are
  * harmless (anti-join semantics are idempotent).
  */
object DeletionVectors {

  private val FileCol = "__dv_file"
  private val PosCol = "__dv_pos"

  private def withIdentity(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.parquet(dataDir)
      .select(col("*"),
        col("_metadata.file_path").as(FileCol),
        col("_metadata.row_index").as(PosCol))

  /** Record positional tombstones for every row matching `pred`.
    * Append-only; returns the number of tombstones written (rows matched,
    * including rows already tombstoned — re-running is harmless). */
  def addDeletes(spark: SparkSession, dataDir: String, dvDir: String,
      pred: org.apache.spark.sql.Column): Long = {
    val hits = withIdentity(spark, dataDir).filter(pred)
      .select(col(FileCol).as("file"), col(PosCol).as("pos"))
    // count + write from one materialization: a tombstone store must not
    // report rows it did not durably record
    val n = hits.cache().count()
    try {
      if (n > 0) hits.write.mode("append").parquet(dvDir)
      n
    } finally hits.unpersist()
  }

  /** [[addDeletes]] with the matching rows named by a KEY FRAME instead
    * of a predicate — the large-takedown path: the keys never collect to
    * the driver; the hit set is one semi-join of the scan against the
    * request frame (pinned once — re-planning per action must not
    * recompute the request's lineage). */
  def addDeleteKeys(spark: SparkSession, dataDir: String, dvDir: String,
      keyCol: String, keys: DataFrame): Long = {
    val kf = keys.select(col(keys.columns.head).as("__dv_key"))
      .filter(col("__dv_key").isNotNull).distinct().localCheckpoint(true)
    val data = withIdentity(spark, dataDir)
    val hits = data.join(kf, data(keyCol) === kf("__dv_key"), "left_semi")
      .select(col(FileCol).as("file"), col(PosCol).as("pos"))
    val n = hits.cache().count()
    try {
      if (n > 0) hits.write.mode("append").parquet(dvDir)
      n
    } finally {
      hits.unpersist()
      // the pinned key frame dies with the call (checkpointed RDDs sit
      // outside the CacheManager — SCALING #38's leak class)
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint(kf)
    }
  }

  private def tombstones(spark: SparkSession, dvDir: String): DataFrame = {
    val d = new org.apache.hadoop.fs.Path(dvDir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d) || !fs.getFileStatus(d).isDirectory)
      spark.range(0).select(lit("").as("file"), lit(0L).as("pos")).limit(0)
    else spark.read.parquet(dvDir).select(col("file"), col("pos")).distinct()
  }

  /** The table with tombstoned rows removed — the read path every
    * delete-aware consumer uses. One scan + one anti-join against the
    * delete-sized store. */
  def readWithDeletes(spark: SparkSession, dataDir: String, dvDir: String): DataFrame = {
    val dv = tombstones(spark, dvDir)
    withIdentity(spark, dataDir)
      .join(dv, col(FileCol) === col("file") && col(PosCol) === col("pos"),
        "left_anti")
      .drop(FileCol, PosCol)
  }

  /** Fold the tombstones into the data: rewrite ONLY the files that carry
    * deletes (each file's surviving rows re-written as one new file in the
    * same directory — Hive partition columns embedded in the path are
    * untouched because the file stays in its directory), then reset the
    * store. Unaffected files are untouched bytes. Loud failure doctrine
    * with a crash-healing carve-out: a rewrite always leaves a
    * `part-dv-*` replacement (even a 0-survivor one — the empty parquet
    * is the durable "this file was folded" evidence), so when a re-run
    * after a crash-before-store-reset finds a tombstoned file absent from
    * disk, it verifies the replacement exists and SKIPS it with a log
    * line (its rows were already dropped by the crashed run); a missing
    * file with NO replacement still throws before the store is reset.
    * Returns (files rewritten, rows dropped) — healed skips count in
    * neither. Not safe under concurrent
    * readers of the affected files — same contract as
    * [[Sink.backfillPartitions]]; reader-safe folding publishes a new
    * [[TimeTravel]] run instead. */
  def applyDeletes(spark: SparkSession, dataDir: String, dvDir: String): (Long, Long) = {
    val dv = tombstones(spark, dvDir).cache()
    try {
      val files = dv.select(col("file")).distinct().collect().map(_.getString(0))
      if (files.isEmpty) return (0L, 0L)
      var dropped = 0L
      var rewritten = 0L
      files.foreach { f =>
        val path = new java.io.File(new java.net.URI(f).getPath)
        if (!path.isFile) {
          // Crash window healed: a previous apply rewrote this file (its
          // part-dv-* replacement is on disk) but died before the store
          // reset. The tombstones were already folded — skip, don't throw.
          // A missing file with NO replacement is real data loss and stays
          // loud (the store is NOT reset in that case).
          // Match the replacement-name pattern EXACTLY
          // (`part-dv-<nanos>-<original tail>` as written below): a bare
          // endsWith could false-positively "heal" real data loss when two
          // files share a name suffix, silently resetting the store.
          val tail = path.getName.stripPrefix("part-")
          val healPattern = java.util.regex.Pattern.compile(
            "^part-dv-\\d+-" + java.util.regex.Pattern.quote(tail) + "$")
          val healed = Option(path.getParentFile.listFiles()).exists(_.exists(g =>
            healPattern.matcher(g.getName).matches()))
          require(healed,
            s"applyDeletes: data file missing on disk with no part-dv-* " +
              s"replacement: $path")
          System.err.println(
            s"[dv] applyDeletes: $path already rewritten by a previous " +
              "(crashed) apply — skipping")
        } else {
        val rows = spark.read.parquet(path.toString)
          .select(col("*"), col("_metadata.row_index").as(PosCol))
        val kill = dv.filter(col("file") === f).select(col("pos"))
        val survivors = rows
          .join(broadcast(kill), col(PosCol) === col("pos"), "left_anti")
          .drop(PosCol)
          .cache()
        try {
          val kept = survivors.count()
          val total = spark.read.parquet(path.toString).count()
          dropped += total - kept
          // stage the replacement next to the store, then move it in and
          // drop the old file — the directory never half-contains a file
          val stage = new java.io.File(path.getParentFile,
            s".dv-staging-${path.getName}")
          if (stage.exists()) Compaction.deleteDir(stage)
          // The replacement is written even with 0 survivors (an empty
          // parquet part — harmless to readers, schema preserved): it is
          // the durable evidence the crash-heal path above checks for, so
          // every rewritten file leaves a trace before the original dies.
          survivors.coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val part = stage.listFiles().filter(_.getName.endsWith(".parquet"))
          require(part.length == 1, s"applyDeletes: expected 1 part file, got ${part.length}")
          val target = new java.io.File(path.getParentFile,
            s"part-dv-${System.nanoTime()}-${path.getName.stripPrefix("part-")}")
          require(part(0).renameTo(target), s"applyDeletes: rename failed for $target")
          require(path.delete(), s"applyDeletes: failed to delete rewritten file $path")
          if (stage.exists()) Compaction.deleteDir(stage)
          rewritten += 1L
        } finally survivors.unpersist()
        }
      }
      // all files folded — reset the store (tombstones now point at
      // deleted files; keeping them would resurrect on name reuse)
      Compaction.deleteDir(new java.io.File(dvDir))
      (rewritten, dropped)
    } finally dv.unpersist()
  }

  /** Reader-SAFE delete fold: publish the tombstone-folded table as a NEW
    * [[TimeTravel]] run under `tableRoot` instead of rewriting `dataDir`
    * in place — the composition [[applyDeletes]]'s contract points to for
    * serving layers that read the lake during takedown maintenance. The
    * source files are never touched: a reader holding `dataDir` (or any
    * older run) sees consistent pre-delete bytes throughout, and the
    * latest-run view ([[TimeTravel.readLatest]]) flips atomically at ONE
    * rename of a hidden staging dir to its run stamp (TimeTravel's stamp
    * regex never lists `.staging-*`, so a half-written fold is invisible).
    * The tombstone store resets only AFTER the publishing rename — a
    * crash in between re-folds the same tombstones into a fresh stamp on
    * retry (identical content, one redundant run; `TimeTravel.vacuum`
    * reclaims it), never a half-folded table. After publishing, `dataDir`
    * is a frozen pre-delete snapshot: delete-aware consumers move to the
    * returned run path — flip-by-path-selection, the same discipline as
    * the stored ANN index's retrain
    * ([[graft.operators.Clustering.optimizeIndex]]).
    *
    * Hive partition columns survive via [[Sink.writeData]]'s partitioning
    * contract (upgrade/state/county when present in the schema). The run
    * publishes through [[Sink.publishRun]]; `tableRoot` and `dvDir` may be
    * local paths or any Hadoop file system URI. Returns the published
    * run's data dir. */
  def applyDeletesAsRun(spark: SparkSession, dataDir: String, dvDir: String,
      tableRoot: String, jobName: String = "table",
      at: java.time.Instant = java.time.Instant.now()): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    // Crash hygiene: a fold that died before its rename left one hidden
    // staging dir — sweep leftovers before staging anew (store doctrine).
    val stamp = Sink.publishRun(tableRoot, at, conf, sweep = true) { (staging, _) =>
      Sink.writeData(readWithDeletes(spark, dataDir, dvDir), staging, jobName)
    }
    val dv = new org.apache.hadoop.fs.Path(dvDir)
    dv.getFileSystem(conf).delete(dv, true)
    s"$tableRoot/$stamp/$jobName/data"
  }
}
