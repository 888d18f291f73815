package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.config.{EtlConfig, EtlSettings, JobSpec}
import graft.etl._

class EtlRobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("compaction shrinks file count, preserves rows") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/data"
    val df = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    df.repartition(40).write.mode("overwrite").parquet(dir)
    val before = Tracker.countFiles(dir)
    val rows = spark.read.parquet(dir).count()
    Compaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(Tracker.countFiles(dir) < before)
    assert(Tracker.countFiles(dir) === 1) // tiny data → one target file
    assert(spark.read.parquet(dir).count() === rows)
  }

  test("raw metadata bypass copies bytes verbatim") {
    val src = Files.createTempDirectory("graft_raw_src").toString + "/meta.parquet"
    graft.sources.Tables.nation(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(src)
    val runRoot = Files.createTempDirectory("graft_raw_out").toString
    val Seq(out) = Sink.copyMetadataRaw(Seq(src), runRoot, "job0",
      spark.sparkContext.hadoopConfiguration)
    assert(out === s"$runRoot/job0/metadata/meta.parquet")
    def md5s(dir: String): Map[String, String] = {
      val d = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(d)
        .filter(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => d.relativize(p).toString ->
          java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString)
        .toMap
    }
    assert(md5s(out) === md5s(src)) // identical checksums
  }

  test("validator counts violations in one pass") {
    val df = Seq(
      (1L, 10.0, "ok"),
      (2L, -5.0, "ok"),
      (3L, 20.0, null.asInstanceOf[String]),
      (4L, 999.0, "bad value")
    ).toDF("id", "v", "s")
    val report = Validator.check(df, Seq(
      NotNull("s"),
      InRange("v", 0.0, 100.0),
      MatchesRegex("s", "^[a-z ]+$")))
    assert(report.rows === 4)
    assert(report.violations("not_null(s)") === 1)
    assert(report.violations("in_range(v,0.0,100.0)") === 2)
    assert(!report.passed)
    assert(Validator.check(df.filter($"id" === 1), Seq(NotNull("s"))).passed)
  }

  test("incremental run processes only new slices") {
    val lake = Files.createTempDirectory("graft_inc_lake").toString
    val out = Files.createTempDirectory("graft_inc_out").toString
    val manifest = s"$out/manifest/processed.txt"
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts").as("timestamp"), col("user_id").as("bldg_id"), col("value").as("load"))
    for (u <- Seq(0, 1)) {
      events.write.mode("overwrite").parquet(
        s"$lake/2024/rel/timeseries_individual_buildings/by_state/upgrade=$u/state=AK")
    }
    def cfg(upgrades: Seq[Int]) = EtlConfig(
      EtlSettings(base_partition = lake, output_dir = out),
      Seq(JobSpec("rel", "2024", "AK", upgrades = upgrades,
        metadata_root_dir = s"$lake/nometa")))

    val first = EtlRunner.runIncremental(spark, cfg(Seq(0)), manifest)
    assert(first.nonEmpty)
    assert(first.get.report.jobs.head.dataRowsIn > 0)

    // same config again → nothing to do, no run
    assert(EtlRunner.runIncremental(spark, cfg(Seq(0)), manifest).isEmpty)

    // new upgrade appears → only it is processed
    val second = EtlRunner.runIncremental(spark, cfg(Seq(0, 1)), manifest)
    assert(second.nonEmpty)
    val touched = second.get.report.jobs.head
    assert(touched.dataFilesListed === Tracker.countFiles(
      s"$lake/2024/rel/timeseries_individual_buildings/by_state/upgrade=1/state=AK"))
    assert(EtlRunner.loadManifest(manifest) ===
      Set("rel/2024/AK/upgrade=0", "rel/2024/AK/upgrade=1"))
  }

  test("incremental manifest on a file: URI lands at that path and is rewritten, not appended") {
    val dir = Files.createTempDirectory("graft_inc_uri").toString
    val manifest = s"file:$dir/manifest/processed.txt"
    EtlRunner.appendManifest(manifest, Seq("rel/2024/AK/upgrade=0"))
    EtlRunner.appendManifest(manifest, Seq("rel/2024/AK/upgrade=1"))
    val local = java.nio.file.Paths.get(dir, "manifest", "processed.txt")
    assert(java.nio.file.Files.readAllLines(local).toArray.toSeq ===
      Seq("rel/2024/AK/upgrade=0", "rel/2024/AK/upgrade=1"))
    // no staged copy left beside it
    assert(new java.io.File(s"$dir/manifest").list().filter(_.endsWith(".tmp")).isEmpty)
    val keys = Set("rel/2024/AK/upgrade=0", "rel/2024/AK/upgrade=1")
    assert(EtlRunner.loadManifest(manifest) === keys)
    assert(EtlRunner.loadManifest(local.toString) === keys)
    assert(EtlRunner.loadManifest(s"file:$dir/manifest/absent.txt").isEmpty)
  }
}
