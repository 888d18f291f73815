package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.config.{EtlConfig, EtlSettings, JobSpec}
import graft.etl._
import graft.operators.HourlyRollup

/** End-to-end pipeline test mirroring the reference's integration test
  * (`etl/tests/test_etl_integration.py`) against the local filesystem:
  * config → partition-pruned read → rollup → partitioned write → catalog →
  * the three saved queries → tracker summary.
  */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val lake = Files.createTempDirectory("graft_lake").toString

  /** CA's buildings are AK's ids shifted by this, so the states share none. */
  private val CaOffset = 1000000

  private def buildSourceTree(): Unit = {
    // Time-series: events sf0.001 reshaped to the reference's data model,
    // written under upgrade=/state= partition dirs (two upgrades, two states
    // so pruning has something to prune).
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts").as("timestamp"), col("user_id").as("bldg_id"),
        col("value").as("load"), col("event_type").as("mode"))
    def ofState(s: String) =
      if (s == "CA") events.withColumn("bldg_id", col("bldg_id") + CaOffset) else events
    for (u <- Seq(0, 1); s <- Seq("AK", "CA")) {
      ofState(s).write.mode("overwrite").parquet(
        s"$lake/2024/test_release/timeseries_individual_buildings/by_state/upgrade=$u/state=$s")
    }
    // Metadata v1: building characteristics with the dotted column names,
    // baseline only, each a directory of part files as Spark writes it.
    for (s <- Seq("AK", "CA")) {
      val meta = ofState(s).select(col("bldg_id")).distinct()
        .withColumn("in.state", lit(s))
        .withColumn("in.county_name", lit(s"$s, Test Borough"))
        .withColumn("in.comstock_building_type",
          when(col("bldg_id") % 2 === 0, "Hospital").otherwise("Office"))
        .withColumn("in.comstock_building_type_group",
          when(col("bldg_id") % 2 === 0, "Healthcare").otherwise("Commercial"))
      meta.write.mode("overwrite").parquet(
        s"$lake/meta/by_state/state=$s/parquet/${s}_baseline_metadata_and_annual_results.parquet")
    }
  }

  private val dataPartition = "timeseries_individual_buildings/by_state"

  /** NV under its own release, its buildings split over two `county=`
    * directories (by id parity). A separate release: a `county=` level
    * under some states only would make the read of `test_release`'s whole
    * tree ambiguous. Returns NV's `upgrade=0/state=NV` prefix. */
  private def buildCountyTree(): String = {
    val prefix = s"$lake/2024/county_release/$dataPartition/upgrade=0/state=NV"
    graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts").as("timestamp"), col("user_id").as("bldg_id"),
        col("value").as("load"), col("event_type").as("mode"),
        when(col("user_id") % 2 === 0, "Clark").otherwise("Washoe").as("county"))
      .repartition(3) // several input files per county
      .write.mode("overwrite").partitionBy("county").parquet(prefix)
    prefix
  }

  private def job(state: String, upgrades: Seq[Int] = Seq(0)) = JobSpec(
    release_name = "test_release", release_year = "2024", state = state,
    upgrades = upgrades, metadata_root_dir = s"$lake/meta",
    relative_metadata_prefix_type = 1)

  private def config(jobs: JobSpec*) = EtlConfig(
    EtlSettings(base_partition = lake,
      output_dir = Files.createTempDirectory("graft_out").toString),
    jobs)

  private lazy val savedSql =
    new String(getClass.getResourceAsStream("/graft/saved-queries.sql").readAllBytes(), "UTF-8")

  /** Check all three saved queries for job `i` of `result` against the
    * fixture's buildings of `state`. */
  private def assertSavedQueries(result: EtlResult, i: Int, state: String): Unit = {
    val ids = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id").cast("long")).distinct().collect().map(_.getLong(0))
      .map(_ + (if (state == "CA") CaOffset else 0))
    val reg = QueryRegistry.load(savedSql, Map(
      "metadata_table" -> result.metadataTables(i),
      "data_table" -> result.dataTables(i),
      "state" -> state))
    val total = QueryRegistry.run(spark, reg, "total_buildings").collect().head.getLong(0)
    assert(total === ids.length, s"total_buildings for $state")
    val byGroup = QueryRegistry.run(spark, reg, "buildings_by_group")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup === Map("Healthcare" -> ids.count(_ % 2 == 0).toLong,
      "Commercial" -> ids.count(_ % 2 != 0).toLong), s"buildings_by_group for $state")
    val top = QueryRegistry.run(spark, reg, "top_buildings_per_group")
      .collect().map(_.getAs[Number]("bldg_id").longValue)
    // < 500 buildings per group, so every one survives the cut
    assert(top.sorted.toSeq === ids.sorted.toSeq, s"top_buildings_per_group for $state")
  }

  test("full ETL run: prune → rollup → partitioned write → catalog → saved queries → tracker") {
    buildSourceTree()
    val cfg = config(job("AK"))
    val result = EtlRunner.run(spark, cfg)
    val report = result.report.jobs.head

    // Partition pruning: only upgrade=0/state=AK files were listed (1 of 4
    // slices) — and the pruned scan really only touched those files.
    val allFiles = Tracker.countFiles(s"$lake/2024/test_release")
    assert(report.dataFilesListed > 0 && report.dataFilesListed < allFiles)
    val touched = PartitionedSource.readData(spark, lake, dataPartition, cfg.job_specific.head)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.forall(_.contains("upgrade=0/state=AK")))

    // Output layout: hive partition dirs under the run root.
    val dataOut = s"${result.runRoot}/test_release_2024_ak_job0/data"
    assert(new java.io.File(s"$dataOut/upgrade=0/state=AK").exists())

    // Rollup contract: suffixed aggregates present, hour-floored timestamps.
    val rolled = spark.read.option("basePath", dataOut).parquet(dataOut)
    assert(rolled.columns.contains("bldg_id_min"))
    assert(rolled.columns.contains("load_mean"))
    assert(rolled.filter(minute(col("timestamp")) =!= 0).count() === 0)
    assert(report.dataRowsOut === rolled.count())
    assert(!report.lostOutput)

    // Saved queries through the registry against the registered tables.
    assertSavedQueries(result, 0, "AK")

    // Tracker summary: README-shaped JSON, metadata round-trip intact.
    assert(report.metadataFilesListed > 0 && report.metadataFilesWritten > 0)
    assert(result.report.toJson.contains("\"total_time_seconds\""))
    assert(result.report.toJson.contains("\"lost_output\":false"))
  }

  test("ETL writes publish planner stats under a session catalog root; consultOr finds them") {
    buildSourceTree()
    val statsRoot = Files.createTempDirectory("graft_etl_stats").toString
    spark.conf.set("spark.graft.statsCatalogRoot", statsRoot)
    try {
      val result = EtlRunner.run(spark, config(job("AK")))
      // the write's own observation published the entry — zero extra scans
      // beyond the column-pruned skew verify
      val entryName = "oedi_data_state_AK.bldg_id_min"
      val (n, dEst, top) = graft.operators.Profiling.readStatsDriver(
        spark, s"$statsRoot/$entryName", "bldg_id_min")
      assert(n === result.report.jobs.head.dataRowsOut,
        "catalog n_rows must equal the write's observed row count")
      assert(dEst > 0L && top >= 0L)
      // and the engine's consultOr resolves it — the always-on loop closes
      assert(graft.plans.CostBasedJoin.sessionStatsDir(spark, entryName).isDefined)
    } finally spark.conf.unset("spark.graft.statsCatalogRoot")
  }

  test("query-time join on a partition column gets dynamic partition pruning") {
    // The reference's core architectural bet is "prune partitions, then join
    // at query time" (README.md:162, indexer.py:204-207). Static pruning is
    // covered above; this asserts the DYNAMIC case — when the partition
    // filter only arrives through a join against a filtered dimension,
    // Catalyst injects a runtime subquery filter into the scan's
    // PartitionFilters, so non-selected state dirs are skipped at execution
    // time even though no literal state predicate exists in the query.
    buildSourceTree()
    val base = s"$lake/2024/test_release/timeseries_individual_buildings/by_state"
    val fact = spark.read.option("basePath", base).parquet(base)
    // The dim must be a real table scan: a literal Seq would be
    // constant-folded (Filter collapses into the LocalRelation) and DPP
    // requires a selective Filter node on the dimension side.
    val dimPath = s"$lake/state_dim.parquet"
    Seq(("AK", "arctic"), ("CA", "temperate")).toDF("state", "climate")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = fact.join(dim, Seq("state")).where($"climate" === "arctic")
      .groupBy($"state").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the scan's PartitionFilters:\n$plan")
    assert(joined.collect().map(_.getString(0)).toSeq === Seq("AK"))
  }

  test("two-state run: every state's saved queries answer from the run's one metadata table") {
    buildSourceTree()
    val maxId = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .agg(max(col("user_id"))).collect().head.getAs[Number](0).longValue
    assert(maxId < CaOffset, "the fixture's AK and CA ids must not overlap")
    val result = EtlRunner.run(spark, config(job("AK"), job("CA")))
    assert(result.metadataTables === Seq("oedi_metadata_parquet", "oedi_metadata_parquet"))
    assert(result.dataTables === Seq("oedi_data_state_ak", "oedi_data_state_ca"))
    assertSavedQueries(result, 0, "AK")
    assertSavedQueries(result, 1, "CA")
  }

  test("two jobs of one state share one data table over both jobs' output") {
    buildSourceTree()
    // a second upgrade of the same state, as another job
    val result = EtlRunner.run(spark, config(job("AK", Seq(0)), job("AK", Seq(1))))
    assert(result.dataTables === Seq("oedi_data_state_ak", "oedi_data_state_ak"))
    val table = spark.table(result.dataTables.head)
    assert(table.count() === result.report.jobs.map(_.dataRowsOut).sum)
    assert(table.select("upgrade").distinct().collect().map(_.getInt(0)).sorted.toSeq === Seq(0, 1))
    assertSavedQueries(result, 1, "AK")
  }

  test("a job whose data prefixes are all missing fails, naming them") {
    buildSourceTree()
    val missing = job("TX", Seq(0, 1))
    val e = intercept[IllegalArgumentException](EtlRunner.run(spark, config(missing)))
    PathResolver.dataPrefixes(lake, dataPartition, missing).foreach(p =>
      assert(e.getMessage.contains(p), e.getMessage))
    // one missing prefix among present ones is skipped
    val partial = PartitionedSource.readData(spark, lake, dataPartition, job("AK", Seq(0, 7)))
    assert(partial.select("upgrade").distinct().collect().map(_.getInt(0)).toSeq === Seq(0))
  }

  test("a two-state run starts at most 3 Spark jobs per ETL job + 1 and lists only the jobs' prefixes") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    buildSourceTree()
    val jobs = Seq(job("AK"), job("CA"))
    val cfg = config(jobs: _*)
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { started.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      EtlRunner.run(spark, cfg)
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(started.get() <= 3 * jobs.size + 1, s"${started.get()} Spark jobs for ${jobs.size} ETL jobs")
    jobs.foreach { j =>
      val prefixes = PathResolver.dataPrefixes(lake, dataPartition, j)
      val files = PartitionedSource.readData(spark, lake, dataPartition, j).inputFiles
        .map(f => new java.net.URI(f).getPath)
      assert(files.nonEmpty && files.forall(f => prefixes.exists(p => f.startsWith(p + "/"))),
        s"${j.state} indexed files outside its prefixes: ${files.mkString(", ")}")
    }
  }

  test("a run over file: URIs reads, writes, copies and counts through them, writing nothing elsewhere") {
    buildSourceTree()
    val out = Files.createTempDirectory("graft_out").toString
    val cfg = EtlConfig(EtlSettings(base_partition = s"file:$lake", output_dir = s"file:$out"),
      Seq(job("AK").copy(metadata_root_dir = s"file:$lake/meta")))
    val result = EtlRunner.run(spark, cfg)
    assert(result.runRoot.startsWith(s"file:$out/"))
    val report = result.report.jobs.head
    val dataOut = s"${result.runRoot.stripPrefix("file:")}/test_release_2024_ak_job0/data"
    assert(report.dataFilesWritten > 0 && report.dataFilesWritten === Tracker.countFiles(dataOut))
    assert(!report.lostOutput)
    assert(report.metadataFilesListed > 0 &&
      report.metadataFilesWritten === report.metadataFilesListed)
    assertSavedQueries(result, 0, "AK")
    // a file: URI taken for a relative local path lands under the working
    // directory, as ./file:/<output_dir>/...
    assert(!new java.io.File(s"file:$out").exists(), "stray directory under the working directory")
  }

  test("every county directory of a two-county run holds one data file; rows equal the rollup") {
    val prefix = buildCountyTree()
    val nv = job("NV").copy(release_name = "county_release")
    // With coalescing off the rollup's 4 shuffle partitions each hold rows
    // of both counties, so a write without clustering makes 4 files a county.
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try {
      val result = EtlRunner.run(spark, config(nv))
      val dataOut = s"${result.runRoot}/${nv.jobName(0)}/data"
      val counties = new java.io.File(s"$dataOut/upgrade=0/state=NV").listFiles()
        .filter(_.isDirectory).sortBy(_.getName).toSeq
      assert(counties.map(_.getName) === Seq("county=Clark", "county=Washoe"))
      counties.foreach { d =>
        val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        assert(files.length === 1, s"${d.getName}: ${files.mkString(", ")}")
      }
      assert(result.report.jobs.head.dataFilesWritten === 2L)
      val input = spark.read.option("basePath", s"$lake/2024/county_release/$dataPartition")
        .parquet(prefix)
      val expect = HourlyRollup(input, passThrough = Seq("upgrade", "state", "county"))
      val written = spark.read.parquet(dataOut).select(expect.columns.map(col).toSeq: _*)
      assert(written.exceptAll(expect).isEmpty && expect.exceptAll(written).isEmpty)
    } finally spark.conf.unset(key)
  }
}
