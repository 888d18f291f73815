package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.{Layout, Sink, TimeTravel, ZoneMaps}

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("optimize publishes a z-ordered run: content preserved, old run immutable, both columns prune") {
    val outputDir = Files.createTempDirectory("graft_optimize").toString
    val df = spark.range(100000).select(
      (col("id") * 2654435761L % 10000L).as("a"),
      (col("id") * 40503L % 10000L).as("b"),
      col("id").as("payload"))
    // seed run: scattered layout, many files — the append-heavy ingest shape
    val run1 = Sink.runRoot(outputDir, java.time.Instant.ofEpochSecond(1000000000L))
    df.repartition(16).write.option("compression", "snappy")
      .parquet(s"$run1/job/data")
    val run1Files = new java.io.File(s"$run1/job/data").listFiles()
      .map(f => f.getName -> f.length()).sortBy(_._1).toSeq

    val stamp = Layout.optimize(spark, outputDir, "job", "a", "b",
      targetBytes = 64L * 1024,
      at = java.time.Instant.ofEpochSecond(1000000100L))

    // published as the new latest run; staging is gone; old run untouched
    assert(TimeTravel.listRuns(outputDir, hadoopConf).last === stamp)
    assert(TimeTravel.listRuns(outputDir, hadoopConf).size === 2)
    assert(!new java.io.File(outputDir).listFiles().exists(_.getName.startsWith(".staging")))
    val run1After = new java.io.File(s"$run1/job/data").listFiles()
      .map(f => f.getName -> f.length()).sortBy(_._1).toSeq
    assert(run1After === run1Files)

    // content identical
    val optimized = TimeTravel.readLatest(spark, outputDir, "job")
    assert(optimized.count() === 100000L)
    assert(optimized.agg(sum($"payload")).head.getLong(0) ===
      df.agg(sum($"payload")).head.getLong(0))

    // the rewrite produced multiple files and the fresh manifest prunes on
    // BOTH z-ordered columns
    val dataDir = s"$outputDir/$stamp/job/data"
    val zmDir = s"$outputDir/$stamp/job/zonemap"
    val nFiles = new java.io.File(dataDir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 4, s"expected a multi-file rewrite, got $nFiles")
    for (c <- Seq("a", "b")) {
      val (pruned, files) = ZoneMaps.prunedRead(spark, dataDir, zmDir, c, 100L, 700L)
      assert(files.size < nFiles, s"column $c: expected pruning, read all $nFiles files")
      assert(pruned.count() ===
        optimized.filter(col(c).between(100L, 700L)).count())
    }
  }

  test("3-column z-order gives all three predicates pruning traction") {
    val df = spark.range(120000).select(
      (col("id") * 2654435761L % 10000L).as("a"),
      (col("id") * 40503L % 10000L).as("b"),
      (col("id") * 48271L % 10000L).as("c"))
    val zpath = Files.createTempDirectory("graft_z3").toString + "/z"
    val rpath = Files.createTempDirectory("graft_z3").toString + "/r"
    Layout.zorderWriteN(df, Seq("a", "b", "c"), 16, zpath)
    df.repartition(16).write.parquet(rpath)
    for (c <- Seq("a", "b", "c")) {
      def hit(p: String) = spark.read.parquet(p)
        .filter(col(c).between(500L, 1200L))
        .select(input_file_name()).distinct().count()
      assert(hit(rpath) === 16L, s"$c: random layout must spread everywhere")
      // 3-D rectangles are coarser per column than 2-D (the documented
      // resolution/dimensionality trade): expect real but weaker pruning
      assert(hit(zpath) <= 12L, s"$c: z3 layout should prune, hit ${hit(zpath)}")
    }
    assert(spark.read.parquet(zpath).count() === 120000L)
  }

  test("geohash anchors and prefix locality") {
    def gh(lat: Double, lon: Double): String =
      spark.range(1).select(
        Layout.geohashChars(Layout.geohashBits(lit(lat), lit(lon), 8), 8))
        .head().getString(0)
    // canonical anchors: the origin cell and the all-ones corner
    assert(gh(0.0, 0.0) === "s0000000")
    assert(gh(89.9999, 179.9999) === "zzzzzzzz")
    // locality: ~100 m apart shares a long prefix; 10° apart diverges early
    val a = gh(48.8583, 2.2945)
    val near = gh(48.8590, 2.2950)
    val far = gh(58.8583, 12.2945)
    assert(a.take(6) === near.take(6), s"$a vs $near")
    assert(a.take(2) !== far.take(2), s"$a vs $far")
  }

  test("mortonKeyN(2) is bit-identical to the 2-column mortonKey contract") {
    val df = spark.range(1000).select(
      (col("id") % 65536L).as("a"), ((col("id") * 7L) % 65536L).as("b"))
    val cmp = df.select(
      Layout.mortonKey(col("a"), col("b")).as("k2"),
      Layout.mortonKeyN(Seq(col("a"), col("b")), Layout.ZBits).as("kn"))
      .filter(col("k2") =!= col("kn")).count()
    assert(cmp === 0L)
  }

  test("optimize refuses a stamp collision with an existing run") {
    val outputDir = Files.createTempDirectory("graft_optimize2").toString
    val at = java.time.Instant.ofEpochSecond(1000000000L)
    val run1 = Sink.runRoot(outputDir, at)
    spark.range(10).select(col("id").as("a"), col("id").as("b"))
      .write.parquet(s"$run1/job/data")
    val e = intercept[IllegalArgumentException] {
      Layout.optimize(spark, outputDir, "job", "a", "b", at = at)
    }
    assert(e.getMessage.contains("immutable"))
  }

  test("optimize on a file: URI output dir publishes at that path, staging included") {
    val dir = Files.createTempDirectory("graft_optimize_uri").toString
    val df = spark.range(2000).select((col("id") % 50L).as("a"),
      (col("id") % 37L).as("b"), col("id").as("payload"))
    df.repartition(4).write.parquet(
      s"${Sink.runRoot(dir, java.time.Instant.ofEpochSecond(1000000000L))}/job/data")
    val stamp = Layout.optimize(spark, s"file:$dir", "job", "a", "b",
      targetBytes = 4L * 1024, at = java.time.Instant.ofEpochSecond(1000000100L))
    assert(TimeTravel.listRuns(s"file:$dir", hadoopConf).last === stamp)
    assert(!new java.io.File(dir).list().exists(_.startsWith(".staging")))
    assert(!new java.io.File(s"$dir/$stamp/job/zonemap_build").exists())
    val optimized = TimeTravel.readLatest(spark, s"file:$dir", "job")
    assert(optimized.count() === 2000L)
    // sized from the source's parquet bytes: several files, not one
    assert(new java.io.File(s"$dir/$stamp/job/data").list()
      .count(_.endsWith(".parquet")) > 1)
  }

  test("write-audit-publish: bad batch quarantined and invisible, good batch published") {
    import graft.operators.Validation
    val outputDir = Files.createTempDirectory("graft_wap").toString
    val good = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val stamp = Sink.writeAudited(good, outputDir, "job",
      Seq(Validation.completeness("v"), Validation.uniqueness(Seq("id"))),
      at = java.time.Instant.ofEpochSecond(1000000000L))
    assert(TimeTravel.listRuns(outputDir, hadoopConf) === Seq(stamp))
    assert(TimeTravel.readLatest(spark, outputDir, "job").count() === 2L)

    // bad batch: duplicate ids → uniqueness fails → publish refused,
    // staging quarantined, latest still the good run
    val bad = Seq((1L, "x"), (1L, "y")).toDF("id", "v")
    val e = intercept[IllegalStateException] {
      Sink.writeAudited(bad, outputDir, "job",
        Seq(Validation.completeness("v"), Validation.uniqueness(Seq("id"))),
        at = java.time.Instant.ofEpochSecond(1000000100L))
    }
    assert(e.getMessage.contains("uniqueness_id"))
    assert(TimeTravel.listRuns(outputDir, hadoopConf) === Seq(stamp)) // nothing published
    assert(new java.io.File(outputDir).listFiles()
      .exists(_.getName.startsWith(".staging")), "quarantine must remain")
    assert(TimeTravel.readLatest(spark, outputDir, "job").count() === 2L)
  }

  test("write-audit-publish on a file: URI output dir publishes at that path") {
    import graft.operators.Validation
    val dir = Files.createTempDirectory("graft_wap_uri").toString
    val good = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val stamp = Sink.writeAudited(good, s"file:$dir", "job",
      Seq(Validation.uniqueness(Seq("id"))),
      at = java.time.Instant.ofEpochSecond(1000000000L))
    assert(TimeTravel.listRuns(s"file:$dir", hadoopConf) === Seq(stamp))
    assert(TimeTravel.readLatest(spark, s"file:$dir", "job").count() === 2L)
    assert(!new java.io.File(dir).list().exists(_.startsWith(".staging")))
    assert(spark.read.parquet(s"file:$dir/$stamp/job/data").count() === 2L)
    val e = intercept[IllegalArgumentException] {
      Sink.writeAudited(good, s"file:$dir", "job", Nil,
        at = java.time.Instant.ofEpochSecond(1000000000L))
    }
    assert(e.getMessage.contains("immutable"))
  }

  test("vacuum on a file: URI output dir deletes the old runs at that path") {
    val dir = Files.createTempDirectory("graft_vacuum_uri").toString
    val ats = Seq(1000000000L, 1000000100L, 1000000200L).map(java.time.Instant.ofEpochSecond)
    ats.foreach(at => Seq((1L, "a")).toDF("id", "v").write
      .parquet(s"${Sink.runRoot(dir, at)}/job/data"))
    val runs = TimeTravel.listRuns(dir, hadoopConf)
    assert(runs.size === 3)
    assert(TimeTravel.vacuum(s"file:$dir", keep = 1, hadoopConf) === runs.dropRight(1))
    assert(new java.io.File(dir).list().sorted.toSeq === Seq(runs.last))
    assert(TimeTravel.listRuns(s"file:$dir", hadoopConf) === Seq(runs.last))
  }

  test("key erasure rewrites only affected partitions and removes emptied ones") {
    val dir = Files.createTempDirectory("graft_erase").toString + "/t"
    Seq(
      (1L, "d1", 10L), (2L, "d1", 11L), // d1: key 1 erased, key 2 stays
      (3L, "d2", 20L), // d2: fully erased → dir must vanish
      (4L, "d3", 30L)) // d3: untouched → files byte-identical
      .toDF("id", "day", "v").write.partitionBy("day").parquet(dir)
    def files(day: String) = Option(new java.io.File(s"$dir/day=$day").listFiles())
      .map(_.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1).toSeq)
    val d3Before = files("d3")

    val keys = Seq(1L, 3L, 99L).toDF("id") // 99 hits nothing
    val (erased, rewritten, removed) =
      graft.etl.Erasure.eraseKeys(spark, dir, Seq("day"), "id", keys)
    assert((erased, rewritten, removed) === ((2L, 1L, 1L)))
    assert(files("d3") === d3Before) // untouched partition: exact files
    assert(files("d2") === None) // emptied partition directory removed
    val after = spark.read.parquet(dir).select("id").as[Long].collect().sorted
    assert(after.toSeq === Seq(2L, 4L))

    // idempotent: a second erasure of the same keys is a no-op
    assert(graft.etl.Erasure.eraseKeys(spark, dir, Seq("day"), "id", keys)
      === ((0L, 0L, 0L)))
  }

  test("eraseKeysEverywhere: data partitions AND signature stores forget together") {
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("graft_erase_all").toString + "/t"
    Seq(
      (1L, "d1", "the quick brown fox jumps over the lazy dog today"),
      (2L, "d1", "the quick brown fox jumps over the lazy cat today"),
      (3L, "d2", "pack my box with five dozen liquor jugs right now"))
      .toDF("doc_id", "day", "text").write.partitionBy("day").parquet(dir)
    // derived stores: a minhash store and a Hamming store over the corpus
    val mh = Files.createTempDirectory("graft_erase_mh").toString + "/store"
    val ham = Files.createTempDirectory("graft_erase_ham").toString + "/store"
    Dedup.incrementalMinhashPairs(
      spark.read.parquet(dir).select("doc_id", "text"), mh).collect()
    Dedup.incrementalHammingPairs(
      Seq((1L, 0L), (2L, 1L), (3L, 0x0F0FL)).toDF("doc_id", "sig"),
      ham, 64, 2, "test-v1").collect()

    val (rows, rewritten, removed, sigRows) = graft.etl.Erasure.eraseKeysEverywhere(
      spark, dir, Seq("day"), "doc_id", Seq(1L).toDF("doc_id"), Seq(mh, ham))
    assert((rows, rewritten, removed) === ((1L, 1L, 0L)))
    assert(sigRows === 2L) // one row from each store
    // the data row is gone
    assert(spark.read.parquet(dir).filter($"doc_id" === 1L).count() === 0L)
    // neither store ever pairs doc 1 again: re-submitting its exact
    // content/signature pairs only against the survivors
    val mhPairs = Dedup.incrementalMinhashPairs(
      Seq((9L, "the quick brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text"), mh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhPairs.contains((2L, 9L)) && !mhPairs.exists(p => p._1 == 1L))
    val hamPairs = Dedup.incrementalHammingPairs(
      Seq((9L, 0L)).toDF("doc_id", "sig"), ham, 64, 2, "test-v1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hamPairs === Set((2L, 9L)))
  }

  test("eraseKeysEverywhere: label stores relabel in the same composed call") {
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("graft_erase_lb").toString + "/t"
    Seq((1L, "d1", "x"), (2L, "d1", "y"), (3L, "d1", "z"))
      .toDF("doc_id", "day", "text").write.partitionBy("day").parquet(dir)
    val ls = Files.createTempDirectory("graft_erase_ls").toString + "/store"
    Dedup.incrementalClusters(Seq(1L, 2L, 3L).toDF("doc_id"),
      Seq((1L, 2L)).toDF("doc_a", "doc_b"), ls)
    val (rows, _, _, sigRows, labelRows) = graft.etl.Erasure.eraseKeysEverywhere(
      spark, dir, Seq("day"), "doc_id", Seq(1L).toDF("doc_id"), Nil, Seq(ls))
    assert((rows, sigRows, labelRows) === ((1L, 0L, 1L)))
    // doc 1 vanished from BOTH label columns; doc 2 relabeled to itself
    val snap = new java.io.File(ls).listFiles()
      .filter(_.getName.startsWith("labels-")).head.toString
    val m = spark.read.parquet(snap).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(2L -> 2L, 3L -> 3L))
  }

  test("eraseKeysEverywhereKeyed: a vec_id vector store erases in the same composed call") {
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("graft_erase_kv").toString + "/t"
    Seq((0L, "d1", "x"), (1L, "d1", "y"), (2L, "d1", "z"))
      .toDF("doc_id", "day", "text").write.partitionBy("day").parquet(dir)
    // a semantic vector store keyed by vec_id (same id space, different
    // column name — the doc_id-default path would throw AFTER the data
    // erase already ran, leaving a partial composed erasure)
    val vs = Files.createTempDirectory("graft_erase_vs").toString + "/store"
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"vec_id" < 3L)
    Dedup.incrementalSemanticPairs(emb, vs).collect()
    val (rows, _, _, sigRows, labelRows) = graft.etl.Erasure.eraseKeysEverywhereKeyed(
      spark, dir, Seq("day"), "doc_id", Seq(1L).toDF("doc_id"),
      Seq((vs, "vec_id")), Nil)
    assert((rows, sigRows, labelRows) === ((1L, 1L, 0L)))
    // the vector is gone from the store
    assert(spark.read.option("recursiveFileLookup", "true").parquet(vs)
      .filter($"vec_id" === 1L).count() === 0L)
    assert(spark.read.parquet(dir).filter($"doc_id" === 1L).count() === 0L)
  }

  test("key erasure handles Hive-escaped and NULL partition values") {
    // Spark writes "a b:c" as the escaped dir "day=a b%3Ac" and NULL as
    // "day=__HIVE_DEFAULT_PARTITION__" — a raw "$col=$value" delete path
    // would miss both and silently leave the erased keys on disk, and a
    // plain === predicate would never even select the NULL partition.
    val dir = Files.createTempDirectory("graft_erase_esc").toString + "/t"
    Seq(
      (1L, Some("a b:c"), 10L), // escaped-chars partition: fully erased
      (2L, None, 20L),          // NULL partition: key 2 erased, key 3 stays
      (3L, None, 21L),
      (4L, Some("plain"), 30L)) // untouched
      .toDF("id", "day", "v").write.partitionBy("day").parquet(dir)
    assert(new java.io.File(s"$dir/day=a b%3Ac").isDirectory)
    assert(new java.io.File(s"$dir/day=__HIVE_DEFAULT_PARTITION__").isDirectory)

    val (erased, rewritten, removed) = graft.etl.Erasure.eraseKeys(
      spark, dir, Seq("day"), "id", Seq(1L, 2L).toDF("id"))
    assert((erased, rewritten, removed) === ((2L, 1L, 1L)))
    assert(!new java.io.File(s"$dir/day=a b%3Ac").exists(),
      "escaped emptied partition dir must actually be deleted")
    assert(new java.io.File(s"$dir/day=__HIVE_DEFAULT_PARTITION__").isDirectory,
      "NULL partition keeps its remaining row")
    val after = spark.read.parquet(dir).select("id").as[Long].collect().sorted
    assert(after.toSeq === Seq(3L, 4L))
  }

  test("parquet bloom filters land in the column-chunk metadata for the requested column only") {
    import scala.jdk.CollectionConverters._
    val df = spark.range(50000).select(
      (col("id") * 2654435761L % 1000000L).as("user_id"),
      (col("id") % 100L).as("v"))
    val bDir = Files.createTempDirectory("graft_bloom").toString + "/b"
    val pDir = Files.createTempDirectory("graft_bloom").toString + "/p"
    Sink.writeWithBloom(df.coalesce(1), bDir, Seq("user_id"), expectedNdv = 50000L)
    df.coalesce(1).write.option("compression", "snappy").parquet(pDir)

    def bloomOffset(dir: String, column: String): Long = {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath),
          new org.apache.hadoop.conf.Configuration()))
      try reader.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == column).get.getBloomFilterOffset
      finally reader.close()
    }
    assert(bloomOffset(bDir, "user_id") > 0L, "bloom filter must be written")
    assert(bloomOffset(bDir, "v") === -1L, "unrequested column stays bloom-free")
    assert(bloomOffset(pDir, "user_id") === -1L, "plain write has no bloom")
    // content is unaffected by the metadata
    assert(spark.read.parquet(bDir).agg(sum($"v")).head.getLong(0) ===
      df.agg(sum($"v")).head.getLong(0))
  }

  test("dynamic-partition backfill replaces only the touched partitions") {
    val dir = Files.createTempDirectory("graft_backfill").toString + "/t"
    val full = Seq(
      (1L, "d1", 10L), (2L, "d1", 11L),
      (3L, "d2", 20L), (4L, "d2", 21L),
      (5L, "d3", 30L)).toDF("id", "day", "v")
    full.write.partitionBy("day").parquet(dir)
    def partFiles(day: String) = new java.io.File(s"$dir/day=$day").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1).toSeq
    val d1Before = partFiles("d1")
    val d3Before = partFiles("d3")

    // backfill day 2 with corrected values (and one extra row)
    Sink.backfillPartitions(
      Seq((3L, "d2", 200L), (4L, "d2", 210L), (6L, "d2", 220L)).toDF("id", "day", "v"),
      dir, Seq("day"))

    // untouched partitions keep their exact files; day 2 is replaced
    assert(partFiles("d1") === d1Before)
    assert(partFiles("d3") === d3Before)
    val after = spark.read.parquet(dir)
    assert(after.count() === 6L)
    assert(after.filter(col("day") === "d2").agg(sum($"v")).head.getLong(0) === 630L)
    assert(after.filter(col("day") === "d1").agg(sum($"v")).head.getLong(0) === 21L)
  }
}
