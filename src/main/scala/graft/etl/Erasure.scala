package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Key erasure over a partitioned table — the right-to-be-forgotten /
  * takedown operation: delete every row carrying one of the given keys by
  * rewriting ONLY the partitions that contain them. At 100 TB a handful
  * of deletion requests must not become a full-table rewrite; partition
  * scoping (and zone maps below it) bound the work to the directories the
  * keys actually live in.
  *
  * Mechanics: a key-semi-join finds the affected partition values
  * (partition-count-bounded, metadata plane); those partitions' remaining
  * rows are rewritten in place via [[Sink.backfillPartitions]]'s DYNAMIC
  * overwrite, and partitions left EMPTY by the deletion are removed
  * explicitly — dynamic overwrite only replaces partitions present in the
  * written frame, so an all-deleted partition would otherwise silently
  * keep its old files (the one correctness trap of overwrite-by-presence;
  * spec-pinned). Untouched partitions keep their exact files.
  *
  * Same concurrency discipline as [[Sink.backfillPartitions]]: not safe
  * under concurrent readers of the affected partitions; for reader-safe
  * erasure publish a new [[TimeTravel]] run instead and vacuum the old
  * ones after the retention window.
  *
  * Returns (rows erased, partitions rewritten, partitions removed). */
object Erasure {

  /** Size boundary for the erase-key representation: at or below it a
    * request collects to an `isin` literal (pushes into scans — the fast
    * path for the request-sized common case); above it the keys STAY a
    * DataFrame and every probe is a semi-/anti-join. A 10⁵–10⁶-key
    * GDPR batch as literals is a 10⁶-node expression tree — analyzer
    * cost and plan-size hazards long before memory (r11 verdict #5). */
  val LiteralKeyMax = 10000

  /** An erase request's keys, null-free and distinct, in the
    * size-adaptive representation of [[LiteralKeyMax]]: literals, or a
    * pinned one-column frame. A null key is never kept (inside `NOT isin`
    * it would make every row's keep-test null). */
  private[graft] final class KeySet private[Erasure] (
      literals: Array[Any], frame: Option[DataFrame]) {
    def isEmpty: Boolean = frame.isEmpty && literals.isEmpty

    def fold[T](onLiterals: Array[Any] => T, onFrame: DataFrame => T): T =
      frame.fold(onLiterals(literals))(onFrame)

    /** Rows of `df` whose `keyCol` is a key. */
    def matching(df: DataFrame, keyCol: String): DataFrame = fold(
      l => df.filter(col(keyCol).isin(l: _*)),
      kf => df.join(kf, df(keyCol) === kf(KeyCol), "left_semi"))

    /** Rows of `df` whose `keyCol` is not a key; a null-keyed row survives
      * under either representation. */
    def surviving(df: DataFrame, keyCol: String): DataFrame = fold(
      l => df.filter(coalesce(!col(keyCol).isin(l: _*), lit(true))),
      kf => df.join(kf, df(keyCol) === kf(KeyCol), "left_anti"))
  }

  private val KeyCol = "__erase_key"

  /** Run `body` on the keys of `keys`' first column cast to `keyType`. The
    * representation is chosen by a bounded `limit(LiteralKeyMax + 1)`
    * probe, never a full collect; a frame key set is pinned once (the
    * per-batch probes must not recompute the request's lineage) and
    * released when `body` returns. */
  private[graft] def withKeySet[T](keys: DataFrame, keyType: DataType)(
      body: KeySet => T): T = {
    val norm = keys.select(col(keys.columns.head).cast(keyType).as(KeyCol))
      .filter(col(KeyCol).isNotNull).distinct()
    val probe = norm.limit(LiteralKeyMax + 1).collect().map(_.get(0))
    val frame =
      if (probe.length <= LiteralKeyMax) None else Some(norm.localCheckpoint(true))
    try body(new KeySet(probe, frame))
    finally frame.foreach( // SCALING #38's leak class: one orphaned
      // checkpoint RDD per drained request
      org.apache.spark.sql.graftbridge.DatasetBridge.unpersistCheckpoint)
  }

  def eraseKeys(spark: SparkSession, dataDir: String, partCols: Seq[String],
      keyCol: String, keys: DataFrame): (Long, Long, Long) = {
    require(partCols.nonEmpty, "eraseKeys needs a partitioned table")
    val full = spark.read.parquet(dataDir)
    val keyFrame = broadcast(keys.select(col(keyCol)).distinct())
    // Affected partitions AND one actual file path per partition: the
    // on-disk directory comes from the scan's own `input_file_name`, not a
    // reconstruction of Spark's write-side naming — value formatting
    // (timestamps, escapes, NULL) can't drift between what was written and
    // what gets deleted. Review finding (r6). The file name is materialized
    // in a Project FIRST (the ZoneMaps pattern): non-deterministic
    // expressions are legal in Project but rejected inside aggregate
    // functions (AGGREGATE_FUNCTION_WITH_NONDETERMINISTIC_EXPRESSION).
    val affectedRows = full.join(keyFrame, Seq(keyCol), "left_semi")
      .withColumn("__file", input_file_name())
      .groupBy(partCols.map(col): _*)
      .agg(min(col("__file")).as("__file"))
      .collect()
    val affected = affectedRows
      .map(r => partCols.indices.map(i => r.get(i)).toSeq).toSet
    // leaf partition directory = parent of any of its data files
    val partDirs: Map[Seq[Any], java.io.File] = affectedRows.map { r =>
      val vals = partCols.indices.map(i => r.get(i)).toSeq
      val uri = new java.net.URI(r.getString(partCols.size))
      vals -> new java.io.File(uri.getPath).getParentFile
    }.toMap
    if (affected.isEmpty) return (0L, 0L, 0L)

    // rows of the affected partitions only (partition pruning applies).
    // <=> (null-safe equality) so a NULL partition value still selects its
    // __HIVE_DEFAULT_PARTITION__ rows — plain === is never true on null and
    // would silently skip erasing them.
    val inAffected = affected.map { vals =>
      partCols.zip(vals).map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _)
    }.reduce(_ || _)
    val slice = full.filter(inAffected)
    val remainder = slice.join(keyFrame, Seq(keyCol), "left_anti")
      // column order: data columns first, partition columns last — the
      // write re-partitions by them either way, but keep the frame tidy
      .select(full.columns.map(col): _*)
      // remainder feeds three consumers (erased count, remaining-partition
      // collect, backfill write) — pin one materialization so the affected-
      // partition scan + anti-join run once, not three times
      .cache()
    try {
      val erased = slice.count() - remainder.count()

      val remainingParts = remainder
        .select(partCols.map(col): _*).distinct().collect()
        .map(r => partCols.indices.map(i => r.get(i)).toSeq).toSet
      if (remainingParts.nonEmpty)
        Sink.backfillPartitions(remainder, dataDir, partCols)
      // all-deleted partitions: dynamic overwrite never saw them — remove
      // their directories explicitly or the erased keys survive on disk.
      // The directory is the captured data file's parent (scan-derived, so
      // Hive escaping, NULL naming, and typed-value formatting are all
      // exactly what the writer produced).
      val emptied = affected.diff(remainingParts)
      emptied.foreach { vals =>
        val f = partDirs(vals)
        // fail LOUDLY: a right-to-be-forgotten operator must never report a
        // partition as removed while its files survive on disk
        require(f.isDirectory,
          s"eraseKeys: emptied partition directory not found on disk: $f — " +
            "erased keys would survive; refusing to report it removed")
        Compaction.deleteDir(f)
        require(!f.exists(), s"eraseKeys: failed to delete $f")
      }
      (erased, remainingParts.size.toLong, emptied.size.toLong)
    } finally remainder.unpersist()
  }

  /** Full right-to-be-forgotten: the obligation extends to DERIVED data —
    * a document deleted from the lake but whose shingle sets / dHashes
    * remain in a signature store still pairs against future ingests, which
    * both leaks its content fingerprint and resurrects it in dedup
    * decisions. Composes [[eraseKeys]] over the partitioned data with
    * [[graft.operators.Dedup.eraseFromStore]] over every signature store
    * derived from it (minhash, Hamming, anchor — the rewrite is
    * schema-opaque). Data first, then stores; both sides are idempotent
    * and fail loudly, so a partial failure is healed by re-running.
    * Returns (rows erased, partitions rewritten, partitions removed,
    * signature rows erased across all stores). */
  def eraseKeysEverywhere(spark: SparkSession, dataDir: String,
      partCols: Seq[String], keyCol: String, keys: DataFrame,
      storePaths: Seq[String]): (Long, Long, Long, Long) = {
    val (rows, rewritten, removed, sigRows, _) = eraseKeysEverywhere(
      spark, dataDir, partCols, keyCol, keys, storePaths, Nil)
    (rows, rewritten, removed, sigRows)
  }

  /** [[eraseKeysEverywhere]] extended to LABEL stores
    * ([[graft.operators.Dedup.incrementalClusters]] snapshots) — the last
    * derived surface an id can survive in: its member row, and, when it
    * was a cluster minimum, the `cluster_id` value on other members'
    * rows ([[graft.operators.Dedup.eraseFromLabelStore]] relabels those).
    * Every signature store is assumed keyed by `doc_id` — a corpus whose
    * derived stores use another id column (the `vec_id` vector store)
    * goes through [[eraseKeysEverywhereKeyed]] instead. Fifth return
    * element = label rows erased across all label stores. */
  def eraseKeysEverywhere(spark: SparkSession, dataDir: String,
      partCols: Seq[String], keyCol: String, keys: DataFrame,
      storePaths: Seq[String], labelStorePaths: Seq[String])
      : (Long, Long, Long, Long, Long) =
    eraseKeysEverywhereKeyed(spark, dataDir, partCols, keyCol, keys,
      storePaths.map((_, "doc_id")), labelStorePaths)

  /** Soft erasure through [[DeletionVectors]] — the LOW-LATENCY half of
    * the right-to-be-forgotten pipeline: tombstone every row carrying one
    * of the keys (delete-sized write, zero data rewritten, effective for
    * all [[DeletionVectors.readWithDeletes]] readers immediately), and
    * let the periodic [[DeletionVectors.applyDeletes]] maintenance pass
    * make it physical. [[eraseKeys]] remains the one-shot physical path;
    * this is what a takedown queue drains between compactions. Key
    * representation is size-adaptive ([[LiteralKeyMax]]): request-sized
    * batches collect into an `isin` predicate pushed to the scan; larger
    * ones stay a frame and tombstone through a semi-join
    * ([[DeletionVectors.addDeleteKeys]]). */
  def softEraseKeys(spark: SparkSession, dataDir: String, dvDir: String,
      keyCol: String, keys: DataFrame): Long =
    withKeySet(keys.select(col(keyCol)), keys.schema(keyCol).dataType) { ks =>
      if (ks.isEmpty) 0L
      else ks.fold(
        l => DeletionVectors.addDeletes(spark, dataDir, dvDir, col(keyCol).isin(l: _*)),
        kf => DeletionVectors.addDeleteKeys(spark, dataDir, dvDir, keyCol, kf))
    }

  /** The fully general composed erasure: each signature store carries its
    * OWN key column as `(path, storeKeyCol)` — `doc_id` for the
    * minhash/Hamming/anchor/frame stores, `vec_id` for the
    * [[graft.operators.Dedup.incrementalSemanticPairs]] vector store
    * (whose batches hold `(vec_id, embedding)` and would otherwise fail
    * the erase with a missing-column AnalysisException AFTER the data
    * dirs were already rewritten — a partial composed erasure). The key
    * VALUES are one id space (the `keys` frame); only the column name a
    * store filters on differs. */
  def eraseKeysEverywhereKeyed(spark: SparkSession, dataDir: String,
      partCols: Seq[String], keyCol: String, keys: DataFrame,
      storeKeys: Seq[(String, String)], labelStorePaths: Seq[String])
      : (Long, Long, Long, Long, Long) = {
    val (rows, rewritten, removed) = eraseKeys(spark, dataDir, partCols, keyCol, keys)
    val sigRows = storeKeys.map { case (p, storeKeyCol) =>
      graft.operators.Dedup.eraseFromStore(
        spark, p, keys.select(col(keyCol)), storeKeyCol)
    }.sum
    val labelRows = labelStorePaths.map(p =>
      graft.operators.Dedup.eraseFromLabelStore(spark, p, keys.select(col(keyCol)))).sum
    (rows, rewritten, removed, sigRows, labelRows)
  }
}
