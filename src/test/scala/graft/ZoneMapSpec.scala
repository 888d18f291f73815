package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.ZoneMaps

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("clustered layout + zone maps: selective range touches a small file subset, results ≡ full scan") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_extendedprice")
    val dataDir = tmp("graft_zm_data")
    val manifestDir = tmp("graft_zm_manifest")
    // Range-clustered layout: each of the 8 files covers one price stripe.
    li.repartitionByRange(8, col("l_extendedprice"))
      .write.mode("overwrite").parquet(dataDir)
    ZoneMaps.build(spark, dataDir, manifestDir, Seq("l_extendedprice"))

    // A ~10%-wide value range: on stripes it must hit ≤ 3 of 8 files.
    val Array(lo, hi) = li.agg(
      expr("percentile(l_extendedprice, 0.45)"),
      expr("percentile(l_extendedprice, 0.55)")).head()
      .toSeq.map(_.asInstanceOf[Double]).toArray
    val (pruned, files) = ZoneMaps.prunedRead(spark, dataDir, manifestDir,
      "l_extendedprice", lo, hi)
    assert(files.size <= 3, s"expected ≤3 stripe files, read ${files.size}")

    val full = spark.read.parquet(dataDir)
      .filter(col("l_extendedprice") >= lo && col("l_extendedprice") <= hi)
    assert(pruned.count() === full.count())
    assert(pruned.except(full).isEmpty && full.except(pruned).isEmpty)
    assert(pruned.count() > 0, "vacuous range")
  }

  test("scattered layout: zones span everything, nothing prunes — the layout is the lever") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_extendedprice")
    val dataDir = tmp("graft_zm_scatter")
    val manifestDir = tmp("graft_zm_scatter_mf")
    li.repartition(8, col("l_orderkey")) // hash on an unrelated key
      .write.mode("overwrite").parquet(dataDir)
    ZoneMaps.build(spark, dataDir, manifestDir, Seq("l_extendedprice"))
    val Array(lo, hi) = li.agg(
      expr("percentile(l_extendedprice, 0.45)"),
      expr("percentile(l_extendedprice, 0.55)")).head()
      .toSeq.map(_.asInstanceOf[Double]).toArray
    val (_, files) = ZoneMaps.prunedRead(spark, dataDir, manifestDir,
      "l_extendedprice", lo, hi)
    assert(files.size === 8, "hash-scattered files all span the range — none skippable")
  }

  test("bloom sidecar: point lookup on an UNCLUSTERED high-card column skips most files, results ≡ full scan") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_quantity")
    val dataDir = tmp("graft_bl_data")
    val manifestDir = tmp("graft_bl_mf")
    // Range-cluster by ORDERKEY: each file holds a disjoint key stripe, so
    // a point key lives in exactly one file — the bloom must find it and
    // skip (nearly) everything else. Note min/max zones would ALSO prune
    // here; the dedicated unclustered case is covered below.
    li.repartitionByRange(8, col("l_orderkey")).write.mode("overwrite").parquet(dataDir)
    ZoneMaps.buildBloom(spark, dataDir, manifestDir, "l_orderkey",
      estKeys = 1L << 12, numBits = 1L << 16)
    val key = li.select("l_orderkey").head().getLong(0)
    val (pruned, files) = ZoneMaps.bloomPrunedRead(spark, dataDir, manifestDir,
      "l_orderkey", key)
    assert(files.size <= 2, s"point key lives in one stripe; read ${files.size} files")
    val full = spark.read.parquet(dataDir).filter(col("l_orderkey") === key)
    assert(pruned.count() === full.count() && pruned.count() > 0)
    assert(pruned.except(full).isEmpty && full.except(pruned).isEmpty)
  }

  test("bloom sidecar: hash-scattered layout — zones can't prune a point lookup, the bloom still can") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_quantity")
    val dataDir = tmp("graft_bl_scatter")
    val zmDir = tmp("graft_bl_scatter_zm")
    val bfDir = tmp("graft_bl_scatter_bf")
    // Scatter on quantity: every file spans the full ORDERKEY range.
    li.repartition(8, col("l_quantity")).write.mode("overwrite").parquet(dataDir)
    ZoneMaps.build(spark, dataDir, zmDir, Seq("l_orderkey"))
    ZoneMaps.buildBloom(spark, dataDir, bfDir, "l_orderkey",
      estKeys = 1L << 12, numBits = 1L << 16)
    val key = li.select("l_orderkey").head().getLong(0)
    val (_, zmFiles) = ZoneMaps.prunedRead(spark, dataDir, zmDir, "l_orderkey", key, key)
    assert(zmFiles.size === 8, "zones span the key range in every file — no pruning")
    val (pruned, bfFiles) = ZoneMaps.bloomPrunedRead(spark, dataDir, bfDir, "l_orderkey", key)
    // the key's rows scatter into only the files holding its quantity values
    assert(bfFiles.size < 8, s"bloom should skip some files, read ${bfFiles.size}")
    val full = spark.read.parquet(dataDir).filter(col("l_orderkey") === key)
    assert(pruned.collect().map(_.toSeq).toSet == full.collect().map(_.toSeq).toSet)
    assert(pruned.count() > 0)
  }

  test("bloom sidecar: absent key reads nothing (modulo FPs) and returns empty; stale manifest fails loudly") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_quantity")
    val dataDir = tmp("graft_bl_gate")
    val manifestDir = tmp("graft_bl_gate_mf")
    li.repartitionByRange(4, col("l_orderkey")).write.mode("overwrite").parquet(dataDir)
    ZoneMaps.buildBloom(spark, dataDir, manifestDir, "l_orderkey")
    val (miss, missFiles) = ZoneMaps.bloomPrunedRead(spark, dataDir, manifestDir,
      "l_orderkey", -987654321L)
    assert(miss.count() === 0L)
    assert(missFiles.size <= 1, s"absent key: at most FP noise, read ${missFiles.size}")
    // add a file after the build → loud staleness, never silent row loss
    li.limit(5).coalesce(1).write.mode("append").parquet(dataDir)
    val ex = intercept[IllegalArgumentException] {
      ZoneMaps.bloomPrunedRead(spark, dataDir, manifestDir, "l_orderkey", 1L)
    }
    assert(ex.getMessage.contains("stale"))
  }

  test("appendBuild: only new files are statted, gate passes, results ≡ full scan") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_extendedprice")
    val dataDir = tmp("graft_ab_data")
    val manifestDir = tmp("graft_ab_mf")
    li.repartitionByRange(4, col("l_extendedprice")).write.mode("overwrite").parquet(dataDir)
    ZoneMaps.build(spark, dataDir, manifestDir, Seq("l_extendedprice"))
    val before = spark.read.parquet(dataDir).inputFiles.toSet
    // micro-batch append lands two new files
    li.limit(50).repartition(2).write.mode("append").parquet(dataDir)
    val added = spark.read.parquet(dataDir).inputFiles.toSet.diff(before)
    assert(added.size === 2)
    // no-op first: nothing fresh before the gate would complain
    val fresh = ZoneMaps.appendBuild(spark, dataDir, manifestDir, Seq("l_extendedprice"))
    assert(fresh.toSet === added, "exactly the appended files get statted")
    assert(ZoneMaps.appendBuild(spark, dataDir, manifestDir, Seq("l_extendedprice")).isEmpty,
      "idempotent: second call finds nothing fresh")
    val (pruned, _) = ZoneMaps.prunedRead(spark, dataDir, manifestDir,
      "l_extendedprice", 0.0, 1e9)
    val full = spark.read.parquet(dataDir)
    assert(pruned.count() === full.count(), "freshness gate passes and no row is lost")
  }

  test("appendBuildBloom: a key that exists ONLY in the appended file is found") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_quantity")
    val dataDir = tmp("graft_abb_data")
    val manifestDir = tmp("graft_abb_mf")
    li.filter(col("l_orderkey") =!= 1L)
      .repartitionByRange(4, col("l_orderkey")).write.mode("overwrite").parquet(dataDir)
    ZoneMaps.buildBloom(spark, dataDir, manifestDir, "l_orderkey")
    li.filter(col("l_orderkey") === 1L).coalesce(1).write.mode("append").parquet(dataDir)
    val fresh = ZoneMaps.appendBuildBloom(spark, dataDir, manifestDir, "l_orderkey")
    assert(fresh.size === 1)
    val (hit, files) = ZoneMaps.bloomPrunedRead(spark, dataDir, manifestDir, "l_orderkey", 1L)
    assert(hit.count() === li.filter(col("l_orderkey") === 1L).count() && hit.count() > 0)
    assert(files.exists(fresh.contains), "the appended file must be selected")
  }

  test("appendBuild refuses a vanished covered file (compaction needs a rebuild)") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_quantity")
    val dataDir = tmp("graft_abv_data")
    val manifestDir = tmp("graft_abv_mf")
    li.repartition(3, col("l_orderkey")).write.mode("overwrite").parquet(dataDir)
    ZoneMaps.build(spark, dataDir, manifestDir, Seq("l_quantity"))
    val victim = spark.read.parquet(dataDir).inputFiles.head
    Files.delete(java.nio.file.Paths.get(new java.net.URI(victim)))
    val ex = intercept[IllegalArgumentException] {
      ZoneMaps.appendBuild(spark, dataDir, manifestDir, Seq("l_quantity"))
    }
    assert(ex.getMessage.contains("append-only"))
  }

  test("readAcross: additive evolution unions by name, defaults patch pre-evolution rows, incompatible types fail loudly") {
    import graft.etl.TimeTravel
    val root = tmp("graft_sev_runs")
    Seq((1L, 10L)).toDF("k", "cents")
      .write.parquet(s"$root/2024-01-01-10-00-00/t/data")
    Seq((2L, 20L, "HIGH"), (3L, 30L, null.asInstanceOf[String]))
      .toDF("k", "cents", "priority")
      .write.parquet(s"$root/2024-01-02-10-00-00/t/data")
    val out = TimeTravel.readAcross(spark, root, "t",
        Map("priority" -> lit("UNKNOWN")))
      .collect().map(r => r.getLong(0) ->
        (r.getString(r.fieldIndex("priority")), r.getString(r.fieldIndex("__run")))).toMap
    assert(out(1L)._1 === "UNKNOWN", "pre-evolution row takes the default")
    assert(out(2L)._1 === "HIGH")
    assert(out(3L)._1 === "UNKNOWN",
      "coalesce semantics: an explicit null also takes the default (additive contract)")
    assert(out(1L)._2 === "2024-01-01-10-00-00" && out(2L)._2 === "2024-01-02-10-00-00")
    // DROPPED column: old rows keep it, new rows read as null — no row loss
    val dropped = TimeTravel.readAcross(spark, root, "t")
    assert(dropped.count() === 3L)
    // incompatible reuse of a name (string vs struct-incoercible long→string? use string vs array)
    val root2 = tmp("graft_sev_bad")
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$root2/2024-01-01-10-00-00/t/data")
    Seq((2L, Seq(1L))).toDF("k", "v").write.parquet(s"$root2/2024-01-02-10-00-00/t/data")
    intercept[Exception] { TimeTravel.readAcross(spark, root2, "t").collect() }
  }

  test("time travel: runs list chronologically, old versions stay readable, vacuum keeps newest N") {
    import graft.etl.{Sink, TimeTravel}
    val root = tmp("graft_tt_root")
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_quantity")
    // Three publishes at distinct stamps, each with a distinguishable row count.
    val instants = Seq("2024-01-01T10:00:00Z", "2024-01-02T10:00:00Z", "2024-01-03T10:00:00Z")
      .map(java.time.Instant.parse)
    instants.zipWithIndex.foreach { case (at, i) =>
      Sink.writeData(li.limit(100 * (i + 1)), Sink.runRoot(root, at), "job")
    }
    val runs = TimeTravel.listRuns(root, hadoopConf)
    assert(runs.size === 3 && runs === runs.sorted)
    // Old versions are immutable path selections: each run keeps its count.
    assert(TimeTravel.readRun(spark, root, runs.head, "job").count() === 100)
    assert(TimeTravel.readLatest(spark, root, "job").count() === 300)
    // Vacuum keep-2: oldest run deleted, survivors unchanged.
    val deleted = TimeTravel.vacuum(root, keep = 2, hadoopConf)
    assert(deleted === Seq(runs.head))
    assert(TimeTravel.listRuns(root, hadoopConf) === runs.drop(1))
    assert(TimeTravel.readLatest(spark, root, "job").count() === 300)
    intercept[IllegalArgumentException](TimeTravel.vacuum(root, keep = 0, hadoopConf))
  }

  test("stale manifest (file added after build) fails loudly instead of dropping rows") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_extendedprice")
    val dataDir = tmp("graft_zm_stale")
    val manifestDir = tmp("graft_zm_stale_mf")
    li.repartitionByRange(4, col("l_extendedprice"))
      .write.mode("overwrite").parquet(dataDir)
    ZoneMaps.build(spark, dataDir, manifestDir, Seq("l_extendedprice"))
    // A late-arriving file the manifest has never seen:
    li.limit(10).coalesce(1).write.mode("append").parquet(dataDir)
    val e = intercept[IllegalArgumentException] {
      ZoneMaps.prunedRead(spark, dataDir, manifestDir, "l_extendedprice", 0.0, 1e9)
    }
    assert(e.getMessage.contains("stale"))
  }

  test("stale manifest (file deleted after build) fails with the rebuild message, not path-not-found") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_extendedprice")
    val dataDir = tmp("graft_zm_vanish")
    val manifestDir = tmp("graft_zm_vanish_mf")
    li.repartitionByRange(4, col("l_extendedprice"))
      .write.mode("overwrite").parquet(dataDir)
    ZoneMaps.build(spark, dataDir, manifestDir, Seq("l_extendedprice"))
    // Compaction/delete after build: a manifest entry now points nowhere.
    val victim = new java.io.File(dataDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val e = intercept[IllegalArgumentException] {
      ZoneMaps.prunedRead(spark, dataDir, manifestDir, "l_extendedprice", 0.0, 1e9)
    }
    assert(e.getMessage.contains("stale") && e.getMessage.contains("no longer exists"))
  }

  test("zone-empty range returns an empty frame with the data schema") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_extendedprice")
    val dataDir = tmp("graft_zm_empty")
    val manifestDir = tmp("graft_zm_empty_mf")
    li.repartitionByRange(4, col("l_extendedprice"))
      .write.mode("overwrite").parquet(dataDir)
    ZoneMaps.build(spark, dataDir, manifestDir, Seq("l_extendedprice"))
    val (out, files) = ZoneMaps.prunedRead(spark, dataDir, manifestDir,
      "l_extendedprice", -2.0, -1.0)
    assert(files.isEmpty)
    assert(out.count() === 0)
    assert(out.columns.toSeq === Seq("l_orderkey", "l_extendedprice"))
  }
}
