package graft.etl

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** The `batch-*` store: a directory of immutable parquet batches on any
  * Hadoop `FileSystem`, grown by ingest, shrunk by erasure, merged by
  * compaction. Every incremental store of the engine (the minhash,
  * Hamming, anchor, frame and vector stores of
  * [[graft.operators.Dedup]], the fuzzy neighborhood store of
  * [[graft.operators.FuzzyJoin]], the gram store of
  * [[graft.operators.Curation]]) keeps its state through this one
  * protocol.
  *
  * Layout under the store dir:
  *  - `batch-<id>/` published batches; readers read every one of them;
  *  - `_format-<tag>` the format marker, written before the first batch's
  *    publishing rename;
  *  - other `_`-prefixed files: the lease ([[WriterLease.LockFile]]),
  *    store sidecars (`_center`, `_bloom.bin`) and `_compact-<id>`, the
  *    list of batches a compaction's merged `batch-<id>` replaces;
  *  - `.staging-<id>` and `.retired-<id>`: a mutation in flight.
  *
  * Every mutation runs inside [[open]]: the writer lease, then recovery,
  * then the format gate. Its steps, each one filesystem call:
  *  - publish: stage `.staging-<id>`, write the sidecars, write the
  *    marker, rename to `batch-<id>`;
  *  - erase of a batch hit by the keys: stage its survivors as
  *    `.staging-<id>`, retire the batch to `.retired-<id>` (the erased keys
  *    leave every reader here), rename the staging to `batch-<id>`, delete
  *    the retired dir;
  *  - compact: stage the merge as `.staging-<id>`, record the replaced
  *    batches in `_compact-<id>`, rename to `batch-<id>`, delete the
  *    replaced batches, delete the record.
  *
  * The one recovery rule rolls every interrupted mutation forward from the
  * names alone (staging, retired dir, record and new batch share one id):
  * a `.retired-<id>` publishes its `.staging-<id>` when there is one, then
  * goes; a `_compact-<id>` whose `batch-<id>` is published deletes the
  * batches it lists, then goes; every other `.staging-*` is pre-publish
  * garbage. A store with no batch after that holds no metadata either: its
  * marker and sidecars are dropped, so a later ingest under another format
  * starts clean and an ingest under the old one is gated against it.
  *
  * Only a missing store dir means "no store"; listing and read errors
  * propagate. No lease expiry: a crashed holder's `_lock` stays until an
  * operator removes it (see [[WriterLease]]). */
final class BatchStore private (spark: SparkSession, dir: Path,
    fs: FileSystem, what: String) {
  import BatchStore._

  private var names: Set[String] = Set.empty
  private var marker: Option[String] = None

  private def child(name: String) = new Path(dir, name)

  private def refresh(): Unit =
    names = fs.listStatus(dir).iterator.map(_.getPath.getName).toSet

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new IllegalStateException(s"$what at $dir: failed to rename $from to $to")

  /** Delete `p` and fail loudly if it is still there: a surviving retired
    * batch would keep erased keys on disk. */
  private def remove(p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new IllegalStateException(s"$what at $dir: failed to delete $p")

  /** Published batch directories, by name. */
  def batches: Seq[Path] = names.toSeq.filter(_.startsWith(Batch)).sorted.map(child)

  def hasBatches: Boolean = names.exists(_.startsWith(Batch))

  /** Names of the `_format-*` markers present. */
  def markers: Seq[String] = names.toSeq.filter(_.startsWith(Format)).sorted

  private def recover(): Unit = {
    refresh()
    val retired = names.filter(_.startsWith(Retired))
    retired.foreach { r =>
      val id = r.stripPrefix(Retired)
      if (names(Staging + id)) rename(child(Staging + id), child(Batch + id))
      remove(child(r))
    }
    if (retired.nonEmpty) refresh()
    val records = names.filter(_.startsWith(Compact))
    records.foreach { c =>
      if (names(Batch + c.stripPrefix(Compact)))
        readSidecar(c).foreach(bytes => new String(bytes, UTF_8).split('\n')
          .filter(names).foreach(b => remove(child(b))))
      remove(child(c))
    }
    val staged = names.filter(_.startsWith(Staging))
    staged.foreach(s => remove(child(s)))
    if (records.nonEmpty || staged.nonEmpty) refresh()
    if (!hasBatches) clearMetadata()
  }

  /** A store without batches holds no marker and no sidecar. */
  private def clearMetadata(): Unit = {
    val metadata = names.filter(n => n.startsWith("_") && n != WriterLease.LockFile)
    metadata.foreach(n => remove(child(n)))
    names --= metadata
  }

  /** Every row of every published batch, or an empty frame of `schema`
    * when there is no batch. */
  def snapshot(schema: StructType): DataFrame =
    if (hasBatches)
      spark.read.option("recursiveFileLookup", "true").parquet(dir.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Publish `batch` (materialized by the caller, `rows` rows) as one new
    * batch: stage it in data-sized files ([[sized]]), run `beforeRename`
    * (sidecars readers need before they can see the batch), write the
    * marker, and make it visible with one rename. An empty batch publishes
    * nothing, so an idempotent re-ingest never grows the batch count. */
  def publish(batch: DataFrame, rows: Long, beforeRename: () => Unit = () => ()): Unit =
    if (rows > 0L) {
      val id = newId()
      val staging = child(Staging + id)
      sized(batch, rows).write.parquet(staging.toString)
      beforeRename()
      marker.filterNot(names).foreach(m => fs.create(child(m), true).close())
      rename(staging, child(Batch + id))
      names = names + (Batch + id) ++ marker
    }

  /** Erase every row whose `keyCol` is one of `keys` (the first column of
    * `keys`, cast to `keyCol`'s type in the store). Batches without a hit
    * keep their files byte for byte; a hit batch is rewritten erase-first
    * (see the class doc), and one left empty is retired with no
    * replacement. `afterErase` runs when keys were offered and batches
    * remain (a sidecar rebuilt from the survivors). Returns rows erased. */
  def erase(keys: DataFrame, keyCol: String, afterErase: () => Unit = () => ()): Long = {
    val live = batches
    if (live.isEmpty) return 0L
    val keyType = spark.read.parquet(live.head.toString).schema(keyCol).dataType
    Erasure.withKeySet(keys, keyType) { ks =>
      if (ks.isEmpty) 0L
      else {
        val erased = live.map { b =>
          val batch = spark.read.parquet(b.toString)
          val hits = ks.matching(batch, keyCol).count()
          if (hits > 0L) {
            val keep = ks.surviving(batch, keyCol)
            val kept = keep.count()
            val id = newId()
            val staging = child(Staging + id)
            val retired = child(Retired + id)
            if (kept > 0L) sized(keep, kept).write.parquet(staging.toString)
            rename(b, retired)
            if (kept > 0L) rename(staging, child(Batch + id))
            remove(retired)
          }
          hits
        }.sum
        refresh()
        if (hasBatches) afterErase() else clearMetadata()
        erased
      }
    }
  }

  /** Merge every batch into one (merge first: the merged batch publishes
    * before the old ones go, so a crash never loses a row; until recovery
    * finishes the deletes, readers see some rows twice). Returns (batches
    * merged, rows in the merged batch); at most one batch is a no-op. */
  def compact(): (Long, Long) = {
    val live = batches
    if (live.size <= 1) return (0L, 0L)
    val id = newId()
    val staging = child(Staging + id)
    spark.read.parquet(live.map(_.toString): _*).distinct().write.parquet(staging.toString)
    val rows = spark.read.parquet(staging.toString).count()
    val record = child(Compact + id)
    val out = fs.create(record, true)
    try out.write(live.map(_.getName).mkString("\n").getBytes(UTF_8)) finally out.close()
    rename(staging, child(Batch + id))
    live.foreach(remove)
    remove(record)
    refresh()
    (live.size.toLong, rows)
  }

  /** The bytes of the sidecar file `name`, if present. */
  def readSidecar(name: String): Option[Array[Byte]] =
    if (!names(name)) None
    else {
      val p = child(name)
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0L, buf) finally in.close()
      Some(buf)
    }

  /** Replace the sidecar `name`: write a hidden staging file, drop the old
    * sidecar, rename. A crash in between leaves the sidecar absent, never
    * torn. */
  def writeSidecar(name: String, bytes: Array[Byte]): Unit = {
    val tmp = child(Staging + newId())
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (names(name)) remove(child(name))
    rename(tmp, child(name))
    names += name
  }
}

object BatchStore {

  private val Batch = "batch-"
  private val Staging = ".staging-"
  private val Retired = ".retired-"
  private val Compact = "_compact-"
  private val Format = "_format-"

  /** Rows per part file of a published batch. A store's file count is the
    * fixed cost every later ingest pays (a listing entry and a footer per
    * file, for each scan of the store), so it follows the data, not the
    * shuffle partition count: ~RowsPerFile rows a file, 1 to 64 files. */
  private val RowsPerFile = 4000000L

  private def newId() = java.util.UUID.randomUUID().toString

  /** `df` (materialized, `rows` rows) coalesced to its data-sized file
    * count. */
  private[graft] def sized(df: DataFrame, rows: Long): DataFrame =
    df.coalesce(math.max(1L, math.min(64L, (rows + RowsPerFile - 1) / RowsPerFile)).toInt)

  /** Eager `localCheckpoint` whose row count rides the materialization
    * through `observe`, so a publish needs no count job of its own. */
  private[graft] def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val cp = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    val n = obs.get.get("n") match {
      case Some(v: Long) => v
      case _ => 0L
    }
    (cp, n)
  }

  /** Run `body` on the store at `storePath` (created if missing) under its
    * writer lease, after recovery. With a `marker` (a `_format-*` name), a
    * store that has batches but not this marker fails loudly, `why`
    * saying what would go wrong; the marker is written with the first
    * batch. `what` names the store in messages. */
  def open[T](spark: SparkSession, storePath: String, what: String,
      marker: String = "", why: String = "")(body: BatchStore => T): T = {
    require(marker.isEmpty || marker.startsWith(Format),
      s"store format marker must start with $Format, got '$marker'")
    val dir = new Path(storePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    WriterLease.withLock(fs, dir, what) {
      val store = new BatchStore(spark, dir, fs, what)
      store.recover()
      if (marker.nonEmpty) {
        if (store.hasBatches && !store.names(marker))
          throw new IllegalStateException(
            s"$what at $storePath was not written under format $marker " +
              s"(marker missing): $why — rebuild the store")
        store.marker = Some(marker)
      }
      body(store)
    }
  }

  /** [[open]] without a format gate, for a store that already exists;
    * `None` when `storePath` does not. Erasure and compaction go through
    * here: neither creates a store. */
  def existing[T](spark: SparkSession, storePath: String, what: String)(
      body: BatchStore => T): Option[T] = {
    val dir = new Path(storePath)
    if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)) None
    else Some(open(spark, storePath, what)(body))
  }
}
