package graft

import org.apache.spark.sql.functions._

import graft.etl.DeletionVectors

class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def md5s(dir: java.io.File): Map[String, String] =
    dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      f.getName -> java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString
    }.toMap

  test("deletes are read-invisible without any data rewrite; re-add idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val dataDir = s"$root/data"; val dvDir = s"$root/dv"
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(dataDir)
    val before = md5s(new java.io.File(dataDir))

    val n = DeletionVectors.addDeletes(spark, dataDir, dvDir, col("id") % 10 === 3)
    assert(n === 10)
    val kept = DeletionVectors.readWithDeletes(spark, dataDir, dvDir)
      .select("id").as[Long].collect().sorted
    assert(kept.length === 90 && !kept.exists(_ % 10 == 3))
    // data files byte-identical — that is the whole point of the DV store
    assert(md5s(new java.io.File(dataDir)) === before)

    // duplicate tombstones are harmless
    DeletionVectors.addDeletes(spark, dataDir, dvDir, col("id") % 10 === 3)
    assert(DeletionVectors.readWithDeletes(spark, dataDir, dvDir).count() === 90)
  }

  test("applyDeletes rewrites only affected files, resets the store, preserves content") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val dataDir = s"$root/data"; val dvDir = s"$root/dv"
    // file A: ids 0..49, file B: ids 50..99 — deletes land only in A
    (0L until 50L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(dataDir)
    (50L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dataDir)
    val before = md5s(new java.io.File(dataDir))

    DeletionVectors.addDeletes(spark, dataDir, dvDir, col("id") < 10)
    val expected = DeletionVectors.readWithDeletes(spark, dataDir, dvDir)
      .select("id").as[Long].collect().sorted
    val (files, dropped) = DeletionVectors.applyDeletes(spark, dataDir, dvDir)
    assert(files === 1L && dropped === 10L)
    // store reset; the folded table reads identically through both paths
    assert(!new java.io.File(dvDir).exists())
    val after = spark.read.parquet(dataDir).select("id").as[Long].collect().sorted
    assert(after.toSeq === expected.toSeq)
    // the untouched file's bytes survived; the affected one was replaced
    val now = md5s(new java.io.File(dataDir))
    val surviving = before.filter { case (k, h) => now.get(k).contains(h) }
    assert(surviving.size === 1, s"expected exactly one untouched file, got $surviving")
  }

  test("softEraseKeys: tombstoned keys vanish from delete-aware reads, data untouched until apply") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val dataDir = s"$root/data"; val dvDir = s"$root/dv"
    (0L until 60L).map(i => (i, s"u$i")).toDF("user_id", "v")
      .repartition(3).write.parquet(dataDir)
    val before = md5s(new java.io.File(dataDir))
    val keys = Seq(7L, 11L, 7L).toDF("user_id") // dup key in the request
    val n = graft.etl.Erasure.softEraseKeys(spark, dataDir, dvDir, "user_id", keys)
    assert(n === 2)
    val left = DeletionVectors.readWithDeletes(spark, dataDir, dvDir)
      .select("user_id").as[Long].collect().toSet
    assert(!left.contains(7L) && !left.contains(11L) && left.size === 58)
    assert(md5s(new java.io.File(dataDir)) === before)
    // apply makes it physical
    DeletionVectors.applyDeletes(spark, dataDir, dvDir)
    assert(spark.read.parquet(dataDir).count() === 58)
  }

  test("softEraseKeys: an over-threshold key batch tombstones through the frame path") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_dv_big").toString
    val dataDir = s"$root/data"; val dvDir = s"$root/dv"
    (0L until 500L).map(i => (i, s"u$i")).toDF("user_id", "v")
      .repartition(3).write.parquet(dataDir)
    // 20k distinct keys > LiteralKeyMax → semi-join tombstoning; 250 hit
    val keys = spark.range(0, 20000).select((col("id") * 2L).as("user_id"))
    val n = graft.etl.Erasure.softEraseKeys(spark, dataDir, dvDir, "user_id", keys)
    assert(n === 250)
    val left = DeletionVectors.readWithDeletes(spark, dataDir, dvDir)
      .select("user_id").as[Long].collect().toSet
    assert(left.size === 250 && left.forall(_ % 2 == 1))
  }

  test("streaming takedown queue: keyed tombstones drain per micro-batch, reads exclude all") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val dataDir = s"$root/data"; val dvDir = s"$root/dv"
    (0L until 80L).map(i => (i, s"u$i")).toDF("user_id", "v")
      .repartition(2).write.parquet(dataDir)
    // takedown requests arrive as two micro-batches
    val srcDir = s"$root/keys"
    Seq(3L, 9L).toDF("user_id").write.parquet(s"$srcDir/b0")
    Seq(9L, 14L).toDF("user_id").write.parquet(s"$srcDir/b1") // 9 repeated across batches
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val q = graft.streaming.StreamingTakedown.run(
      stream, dataDir, dvDir, "user_id", s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()

    val left = DeletionVectors.readWithDeletes(spark, dataDir, dvDir)
      .select("user_id").as[Long].collect().toSet
    assert(left.size === 77 && Set(3L, 9L, 14L).forall(!left.contains(_)))
    // apply (the maintenance window) makes it physical
    DeletionVectors.applyDeletes(spark, dataDir, dvDir)
    assert(spark.read.parquet(dataDir).count() === 77)
  }

  test("_metadata.row_index is FILE-scoped across row groups (the DV addressing contract)") {
    // Force several row groups in one file with a tiny block size: if
    // row_index reset per ROW GROUP, (file, pos) would collide and a
    // tombstone would kill one row per group instead of one row.
    val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val dataDir = s"$root/data"; val dvDir = s"$root/dv"
    (0L until 50000L).map(i => (i, s"payload-$i-${"x" * 40}")).toDF("id", "v")
      .coalesce(1).write.option("parquet.block.size", "65536").parquet(dataDir)
    val f = new java.io.File(dataDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val groups = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString),
        spark.sessionState.newHadoopConf())).getRowGroups.size
    assert(groups > 1, s"fixture failed to produce multiple row groups ($groups)")
    // positions must be unique within the file — exactly one row per id dies
    val n = DeletionVectors.addDeletes(spark, dataDir, dvDir, col("id") % 5000 === 0)
    assert(n === 10)
    assert(DeletionVectors.readWithDeletes(spark, dataDir, dvDir).count() === 49990)
  }

  test("applyDeletes on a fully-deleted file leaves an empty replacement (crash evidence), reads clean") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val dataDir = s"$root/data"; val dvDir = s"$root/dv"
    (0L until 20L).map(i => (i, i * 2)).toDF("id", "w")
      .coalesce(1).write.parquet(dataDir)
    (20L until 40L).map(i => (i, i * 2)).toDF("id", "w")
      .coalesce(1).write.mode("append").parquet(dataDir)
    DeletionVectors.addDeletes(spark, dataDir, dvDir, col("id") < 20)
    val (files, dropped) = DeletionVectors.applyDeletes(spark, dataDir, dvDir)
    assert(files === 1L && dropped === 20L)
    val ids = spark.read.parquet(dataDir).select("id").as[Long].collect().sorted
    assert(ids.toSeq === (20L until 40L).toSeq)
    // the 0-survivor replacement exists — the durable "already folded"
    // evidence the crash-heal path checks for
    assert(new java.io.File(dataDir).listFiles()
      .exists(_.getName.startsWith("part-dv-")))
  }

  test("applyDeletes heals its own crash window: rewrite done, store reset missed") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val dataDir = s"$root/data"; val dvDir = s"$root/dv"
    (0L until 30L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(dataDir)
    (30L until 60L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dataDir)
    DeletionVectors.addDeletes(spark, dataDir, dvDir, col("id") % 6 === 1)
    // snapshot the store, apply, then restore the store — simulating a
    // crash after every file rewrite but before the store reset
    val dvBak = s"$root/dv_bak"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dvDir), new java.io.File(dvBak))
    val (files1, dropped1) = DeletionVectors.applyDeletes(spark, dataDir, dvDir)
    assert(files1 === 2L && dropped1 === 10L)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dvBak), new java.io.File(dvDir))
    // the re-run must SKIP the already-rewritten (now absent) files —
    // their part-dv-* replacements are the evidence — and reset the store
    val (files2, dropped2) = DeletionVectors.applyDeletes(spark, dataDir, dvDir)
    assert(files2 === 0L && dropped2 === 0L)
    assert(!new java.io.File(dvDir).exists(), "store must be reset by the healing re-run")
    val ids = spark.read.parquet(dataDir).select("id").as[Long].collect().sorted
    assert(ids.toSeq === (0L until 60L).filter(_ % 6 != 1).toSeq)
    // a genuinely missing file (no replacement) still fails loudly
    DeletionVectors.addDeletes(spark, dataDir, dvDir, col("id") === 2)
    val victim = new java.io.File(dataDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .find(f => spark.read.parquet(f.toString).filter(col("id") === 2).count() > 0).get
    // remove it AND its replacement trail by renaming to a non-part name
    val hidden = new java.io.File(victim.getParentFile, "gone.bin")
    assert(victim.renameTo(hidden))
    val ex = intercept[IllegalArgumentException] {
      DeletionVectors.applyDeletes(spark, dataDir, dvDir)
    }
    assert(ex.getMessage.contains("no part-dv-* replacement"))
    assert(new java.io.File(dvDir).exists(), "store must NOT be reset on real data loss")
  }

  test("applyDeletesAsRun: source bytes untouched, latest flips by run, store reset, folds chain") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv_run").toString
    val dataDir = s"$root/data"; val dvDir = s"$root/dv"
    val tableRoot = s"$root/table"
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(2).write.parquet(dataDir)
    val before = md5s(new java.io.File(dataDir))
    DeletionVectors.addDeletes(spark, dataDir, dvDir, col("id") < 10)
    // a crash-leftover staging dir must be swept, and while present it is
    // invisible to run listing (the atomic-flip property)
    assert(new java.io.File(tableRoot, ".staging-junk").mkdirs())
    assert(graft.etl.TimeTravel.listRuns(tableRoot, hadoopConf).isEmpty)
    val run1 = DeletionVectors.applyDeletesAsRun(spark, dataDir, dvDir,
      tableRoot, jobName = "t",
      at = java.time.Instant.parse("2026-01-01T00:00:00Z"))
    // the source dir a concurrent reader holds is byte-identical — it sees
    // consistent pre-delete data throughout the fold
    assert(md5s(new java.io.File(dataDir)) === before)
    assert(spark.read.parquet(dataDir).count() === 100)
    // the published run IS the folded table, resolved as latest
    assert(graft.etl.TimeTravel.listRuns(tableRoot, hadoopConf) === Seq("2026-01-01-00-00-00"))
    assert(run1.endsWith("2026-01-01-00-00-00/t/data"))
    assert(graft.etl.TimeTravel.readLatest(spark, tableRoot, "t")
      .select("id").as[Long].collect().sorted.toSeq === (10L until 100L))
    assert(!new java.io.File(dvDir).exists(), "store resets after publish")
    assert(!new java.io.File(tableRoot).listFiles()
      .exists(_.getName.startsWith(".staging-")), "staging swept + published")
    // folds chain: new tombstones against the published run publish a
    // NEWER stamp; the first run's bytes stay frozen
    val run1Md5 = md5s(new java.io.File(run1))
    val dv2 = s"$root/dv2"
    DeletionVectors.addDeletes(spark, run1, dv2, col("id") < 20)
    DeletionVectors.applyDeletesAsRun(spark, run1, dv2, tableRoot,
      jobName = "t", at = java.time.Instant.parse("2026-01-02T00:00:00Z"))
    assert(graft.etl.TimeTravel.listRuns(tableRoot, hadoopConf) ===
      Seq("2026-01-01-00-00-00", "2026-01-02-00-00-00"))
    assert(md5s(new java.io.File(run1)) === run1Md5)
    assert(graft.etl.TimeTravel.readLatest(spark, tableRoot, "t")
      .select("id").as[Long].collect().sorted.toSeq === (20L until 100L))
  }

  test("applyDeletesAsRun on file: URIs publishes under the table root, not the working directory") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv_uri").toString
    val dataDir = s"$root/data"
    (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(dataDir)
    DeletionVectors.addDeletes(spark, dataDir, s"$root/dv", col("id") < 5)
    val run = DeletionVectors.applyDeletesAsRun(spark, s"file:$dataDir", s"file:$root/dv",
      s"file:$root/table", jobName = "t",
      at = java.time.Instant.parse("2026-01-01T00:00:00Z"))
    assert(run === s"file:$root/table/2026-01-01-00-00-00/t/data")
    assert(new java.io.File(root, "table").list().toSeq === Seq("2026-01-01-00-00-00"))
    assert(spark.read.parquet(run).select("id").as[Long].collect().sorted.toSeq ===
      (5L until 20L))
    assert(!new java.io.File(root, "dv").exists(), "store resets after publish")
  }
}
