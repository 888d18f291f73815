package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: z-order (Morton) clustering.
  *
  * Partition pruning (the reference's core bet) only helps on partition
  * columns; at 100 TB the next IO lever is clustering the data WITHIN files
  * so parquet min/max statistics prune row groups for predicates on
  * non-partition columns. Sorting by one column makes stats tight for that
  * column only; interleaving the bits of two normalized columns gives both
  * predicates traction on the same layout — each file covers a small
  * rectangle of (a, b) space instead of a thin stripe of one dimension.
  *
  * The write is one range shuffle (`repartitionByRange` on the z-key) plus
  * an in-partition sort — exactly the cost of a plain global sort, no extra
  * passes over the data beyond the 4-value min/max aggregate.
  */
object Layout {

  val ZBits = 16 // per-dimension resolution; 2 dims → 32-bit morton code

  val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Geohash bit value of (lat, lon) at `nChars` precision — a geohash IS
    * an MSB-first Morton interleave (longitude leads) of the quantized
    * coordinates, i.e. the geo instance of [[mortonKeyN]]'s idea: nearby
    * points share prefixes, so sorting/bucketing by geohash clusters
    * spatial neighbors for range scans and spatial joins. Pure column
    * arithmetic, codegen'd, oracle-replayable. */
  def geohashBits(lat: Column, lon: Column, nChars: Int = 8): Column = {
    require(nChars >= 1 && nChars * 5 <= 60, s"nChars=$nChars out of range")
    val bits = nChars * 5
    val lonBits = (bits + 1) / 2 // lon leads and takes the extra odd bit
    val latBits = bits / 2
    def quant(c: Column, lo: Double, span: Double, b: Int): Column =
      least(
        floor((c.cast("double") - lit(lo)) / lit(span) * lit((1L << b).toDouble)),
        lit((1L << b) - 1.0)).cast("long")
    val latQ = quant(lat, -90.0, 180.0, latBits)
    val lonQ = quant(lon, -180.0, 360.0, lonBits)
    (0 until bits).map { k => // k = 0 is the MOST significant output bit
      val (src, idx) =
        if (k % 2 == 0) (lonQ, lonBits - 1 - k / 2)
        else (latQ, latBits - 1 - k / 2)
      shiftleft(shiftright(src, idx).bitwiseAND(lit(1L)), bits - 1 - k)
    }.reduce(_.bitwiseOR(_))
  }

  /** Base-32 geohash string from [[geohashBits]]' value. */
  def geohashChars(bitsVal: Column, nChars: Int): Column = {
    val alpha = split(lit(GeohashAlphabet), "")
    concat((0 until nChars).map { i =>
      element_at(alpha,
        (shiftright(bitsVal, 5 * (nChars - 1 - i)).bitwiseAND(lit(31L)) + 1L).cast("int"))
    }: _*)
  }

  /** Normalize a numeric column into [0, 2^bits) given its global min/max. */
  private def normalize(c: Column, lo: Double, hi: Double, bits: Int = ZBits): Column = {
    val span = math.max(hi - lo, java.lang.Double.MIN_VALUE)
    least(
      floor((c.cast("double") - lit(lo)) / lit(span) * lit((1 << bits).toDouble)),
      lit((1 << bits) - 1.0)).cast("long")
  }

  /** Interleave the low [[ZBits]] bits of two long columns (a gets the odd
    * bit positions): the Morton / z-curve key. Pure bit arithmetic —
    * whole-stage-codegen'd, no UDF. The 2-column case of [[mortonKeyN]]
    * (identical bit layout — z1's oracle replays this exact formula). */
  def mortonKey(a: Column, b: Column): Column = mortonKeyN(Seq(a, b), ZBits)

  /** N-column Morton interleave: bit i of column j lands at position
    * `i·n + (n−1−j)` — round-robin interleave, first column most
    * significant within each round. n·bitsPer must stay under the sign
    * bit. Three or four clustering columns is the practical ceiling:
    * each added column halves every column's resolution at a fixed key
    * width, which is the standard z-order dimensionality trade. */
  def mortonKeyN(cols: Seq[Column], bitsPer: Int): Column = {
    require(cols.nonEmpty && bitsPer > 0 && cols.size * bitsPer <= 63,
      s"mortonKeyN: ${cols.size} cols x $bitsPer bits must fit in 63 bits")
    val n = cols.size
    (0 until bitsPer).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + (n - 1 - j))
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Write `df` into `nFiles` parquet files z-ordered on (colA, colB).
    * Rows land in files by contiguous Morton-key range, so each file's
    * min/max footer stats for BOTH columns cover a small rectangle and a
    * selective predicate on either column skips most files/row groups. */
  /** OPTIMIZE — the lakehouse maintenance command, composed from this
    * repo's own parts: read the LATEST run of a [[Sink.runRoot]]-stamped
    * table, rewrite it z-ordered on (colA, colB) into ~`targetBytes`
    * files ([[Compaction]]'s sizing), rebuild the [[ZoneMaps]] manifest
    * for both columns, and publish the result as a NEW stamped run.
    *
    * Publish protocol: [[Sink.publishRun]] — readers resolving "latest"
    * either see the old run or the complete new one, never a half-written
    * directory; a crashed optimize leaves only an inert staging dir. The
    * old run is untouched (immutable-once-written, same contract as the
    * stored ANN index) — reclaiming it is [[TimeTravel.vacuum]]'s job,
    * under its retention policy, not optimize's. `outputDir` may be a
    * local path or any Hadoop file system URI. Returns the new run stamp.
    *
    * At 100 TB this is the periodic job that turns an append-heavy
    * ingest's small scattered files into skip-friendly rectangles: file
    * count bounded by data size, and BOTH predicate columns get zone-map
    * traction from the same rewrite. */
  def optimize(spark: org.apache.spark.sql.SparkSession, outputDir: String,
      jobName: String, colA: String, colB: String,
      targetBytes: Long = 128L * 1024 * 1024,
      at: java.time.Instant = java.time.Instant.now()): String = {
    val runs = TimeTravel.listRuns(outputDir, spark.sparkContext.hadoopConfiguration)
    require(runs.nonEmpty, s"no runs to optimize under $outputDir")
    val srcData = s"$outputDir/${runs.last}/$jobName/data"
    val conf = spark.sparkContext.hadoopConfiguration
    val nFiles = math.max(1, math.ceil(parquetBytes(srcData, conf).toDouble / targetBytes).toInt)
    Sink.publishRun(outputDir, at, conf) { (staging, stamp) =>
      zorderWrite(spark.read.parquet(srcData), colA, colB, nFiles,
        s"$staging/$jobName/data")
      // The manifest records absolute file paths (input_file_name), but the
      // data is still under .staging- here and the publish rename will move
      // it — so build into a scratch dir, rewrite the paths to their FINAL
      // post-rename location, and land the result as the real manifest, all
      // before the atomic publish. (A manifest pointing at staging paths
      // would trip prunedRead's both-direction freshness gate.)
      val buildDir = s"$staging/$jobName/zonemap_build"
      ZoneMaps.build(spark, s"$staging/$jobName/data", buildDir, Seq(colA, colB))
      spark.read.parquet(buildDir)
        .withColumn("file",
          org.apache.spark.sql.functions.expr(
            s"replace(file, '/${new org.apache.hadoop.fs.Path(staging).getName}/', '/$stamp/')"))
        .coalesce(1)
        .write.parquet(s"$staging/$jobName/zonemap")
      val build = new org.apache.hadoop.fs.Path(buildDir)
      build.getFileSystem(conf).delete(build, true)
    }
  }

  /** Bytes of the `.parquet` files under `dir`, by a `listStatus` walk
    * (`listFiles` forks an `ls` per file on the local file system). */
  private def parquetBytes(dir: String, conf: org.apache.hadoop.conf.Configuration): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    def walk(p: org.apache.hadoop.fs.Path): Long = fs.listStatus(p).map { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) st.getLen
      else 0L
    }.sum
    if (fs.exists(root)) walk(root) else 0L
  }

  def zorderWrite(df: DataFrame, colA: String, colB: String, nFiles: Int, path: String): Unit =
    zorderWriteN(df, Seq(colA, colB), nFiles, path)

  /** N-column z-ordered write: one global min/max aggregate over the
    * clustering columns, one range shuffle on the interleaved key. Bits
    * per dimension shrink as columns grow (63/n, capped at [[ZBits]]) —
    * the resolution/dimensionality trade made explicit; 3–4 columns is
    * the practical ceiling before every column's rectangles get too
    * coarse to prune. */
  def zorderWriteN(df: DataFrame, zCols: Seq[String], nFiles: Int, path: String): Unit = {
    require(zCols.size >= 2, s"z-order needs >= 2 columns, got $zCols")
    val bitsPer = math.min(ZBits, 63 / zCols.size)
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val normed = zCols.zipWithIndex.map { case (c, i) =>
      normalize(col(c), stats.getDouble(2 * i), stats.getDouble(2 * i + 1), bitsPer)
    }
    df.withColumn("__zkey", mortonKeyN(normed, bitsPer))
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").option("compression", "snappy").parquet(path)
  }
}
