package etlbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.{Row, SparkSession}

import graft.config.EtlConfig
import graft.etl.{CatalogRegistry, EtlRunner, PartitionedSource, PathResolver, QueryRegistry, Tracker}

/** One benchmark session in a fresh JVM: the paper's workload end to end,
  * in rounds.
  *
  * Every round runs `EtlRunner.run` into its own `output_dir`, then the
  * three saved queries once for every job's state but the last, then the
  * three saved queries for the last job's state [[Batch]] times over,
  * against the tables that run registered, timed as one interval.
  * Round 0 runs in a cold JVM. Without tracing it is the only round, and it
  * is measured. With `trace=1` it and the next [[Warmup]] rounds warm the
  * JIT, and the rounds after them are measured: they repeat until `seconds`
  * have passed since round 0 began and at least [[Measured]] of them ran. Query
  * answers leave the JVM only as digests of their sorted rows; `run.py`
  * checks them, the tracker reports and the written files against its own
  * computation.
  *
  * With `trace=1` a [[LayerListener]] and spans around each public call
  * give the per-layer figures. `run.py` starts it as
  * {{{
  * java -cp <classpath> etlbench.Bench config=<etl_config.json> work=<dir> \
  *   result=<out.json> seconds=30 cpus=4 trace=0
  * }}}
  */
object Bench {

  val SpanTag = "etlbench_span_"
  val Warmup = 2
  val Measured = 3
  val Batch = 1
  val Labels = Seq("total_buildings", "buildings_by_group", "top_buildings_per_group")

  @volatile private var roundPeakHeap = 0L

  /** Track the highest heap occupancy after a garbage collection since the round began. */
  private def watchHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: NotificationEmitter =>
        emitter.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { roundPeakHeap = math.max(roundPeakHeap, used) }
          }, null, null)
      case _ => ()
    }
  }

  def digest(rows: Array[Row]): String = {
    val text = rows.map(_.toSeq.map(v => if (v == null) "\\N" else v.toString).mkString("\t"))
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def leafDirs(dir: String): Long = {
    def walk(f: java.io.File): Long = {
      val subdirs = Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
      if (subdirs.isEmpty) 1L else subdirs.map(walk).sum
    }
    walk(new java.io.File(dir))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val trace = opt("trace") == "1"
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val minRounds = if (trace) Warmup + 1 + Measured else 1
    val budget = opt("seconds").toDouble
    val work = opt("work")
    val cpus = opt("cpus")
    watchHeap()

    // Bench's session settings, sized to the machine's cores.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyEpochS = java.time.Instant.now() match { case i => i.getEpochSecond + i.getNano / 1e9 }

    val listener = new LayerListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val spanSeconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def span[T](name: String)(body: => T): T =
      if (!trace) body
      else {
        spark.sparkContext.addJobTag(SpanTag + name)
        val t0 = System.nanoTime()
        try body
        finally {
          spanSeconds(name) = spanSeconds.getOrElse(name, 0.0) + seconds(t0)
          spark.sparkContext.removeJobTag(SpanTag + name)
        }
      }

    val config = EtlConfig.fromFile(opt("config"))
    val jobs = config.job_specific
    val settings = config.settings
    val sqlText = new String(getClass.getResourceAsStream("/graft/saved-queries.sql").readAllBytes(), UTF_8)

    val rounds = ArrayBuffer.empty[String]
    var jvmAfterCold = ""
    val start = System.nanoTime()
    var r = 0
    while (r < minRounds || (trace && seconds(start) < budget)) {
      listener.reset(); spanSeconds.clear()
      synchronized { roundPeakHeap = 0L }
      val outDir = s"$work/round-$r"
      val cfg = config.copy(settings = settings.copy(output_dir = outDir))
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val res = span("EtlRunner.run")(EtlRunner.run(spark, cfg))
      val etlS = seconds(t0)
      // CPU time of every JVM thread (task threads, JIT, GC); time the host
      // gives other guests is not in it, unlike the wall time.
      val etlCpuS = (os.getProcessCpuTime - cpu0) / 1e9
      if (r == 0) {
        val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
        jvmAfterCold = obj(Seq(
          "jvm.jit_s" -> (ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3).toString,
          "jvm.gc_s" -> (gcMs / 1e3).toString,
          "jvm.classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toString))
      }

      val registries = jobs.indices.map { i =>
        QueryRegistry.load(sqlText, Map(
          "metadata_table" -> res.metadataTables(i),
          "data_table" -> res.dataTables(i),
          "state" -> jobs(i).state))
      }
      // Measured rounds: every state but the last job's, once. The batch
      // below checks the last job's state.
      val measured = !trace || r > Warmup
      val checked = if (!measured) Nil else jobs.indices.init.map { i =>
        jobs(i).state -> obj(Labels.map(l => l -> str(digest(QueryRegistry.run(spark, registries(i), l).collect()))))
      }
      // The last job's state, Batch times over, timed as one interval.
      val last = registries.last
      val tb = System.nanoTime()
      val answers = (0 until Batch).map(_ => Labels.map { l =>
        span(s"QueryRegistry.$l")(QueryRegistry.run(spark, last, l).collect())
      })
      val batchS = seconds(tb)
      val batchDigests = Labels.indices.map { q =>
        Labels(q) -> obj(answers.map(a => digest(a(q))).groupBy(identity).map { case (d, n) => d -> n.size.toString })
      }

      val layers =
        if (!trace) ""
        else {
          val base = settings.base_partition
          val part = settings.data_partition_in_release
          val listed = span("Tracker.list")(jobs.map(j => PathResolver.dataPrefixes(base, part, j).map(Tracker.countFiles).sum).sum)
          val frames = span("PartitionedSource.index")(jobs.map(j => PartitionedSource.readData(spark, base, part, j)))
          val indexed = frames.map(_.inputFiles.length.toLong).sum
          span("CatalogRegistry")(jobs.zipWithIndex.foreach { case (j, i) =>
            val jobRoot = s"${res.runRoot}/${j.jobName(i)}"
            CatalogRegistry.registerMetadata(spark, s"$jobRoot/metadata", EtlRunner.MetadataTablePrefix)
            CatalogRegistry.registerData(spark, s"$jobRoot/data", EtlRunner.DataTablePrefix, j.state)
          })
          org.apache.spark.etlbench.SchedulerBridge.drain(spark.sparkContext)
          val etl = listener.span("EtlRunner.run")
          val rollup = listener.site("HourlyRollup")
          val write = listener.site("Sink.writeData")
          val queries = Labels.map(l => listener.span(s"QueryRegistry.$l"))
          val scanned = write.filesRead
          val dataDirs = jobs.zipWithIndex.map { case (j, i) => leafDirs(s"${res.runRoot}/${j.jobName(i)}/data") }.sum
          val fields = Seq(
            "EtlRunner.spark_jobs" -> etl.jobs, "EtlRunner.stages" -> etl.stages, "EtlRunner.tasks" -> etl.tasks,
            "Tracker.list_s" -> spanSeconds("Tracker.list"), "Tracker.files_listed" -> listed,
            "PartitionedSource.index_s" -> spanSeconds("PartitionedSource.index"),
            "PartitionedSource.files_indexed" -> indexed,
            "PartitionedSource.files_scanned" -> scanned,
            "PartitionedSource.scanned_per_indexed" -> scanned.toDouble / math.max(1L, indexed),
            "PartitionedSource.input_bytes" -> rollup.inputBytes,
            "HourlyRollup.map_task_s" -> rollup.runMs / 1e3,
            "HourlyRollup.shuffle_bytes" -> rollup.shuffleWriteBytes,
            "HourlyRollup.spill_bytes" -> rollup.spillBytes,
            "HourlyRollup.gc_s" -> rollup.gcMs / 1e3,
            "Sink.write_task_s" -> write.runMs / 1e3,
            "Sink.files_written" -> res.report.jobs.map(_.dataFilesWritten).sum,
            "Sink.bytes_written" -> write.outputBytes,
            "Sink.partition_dirs" -> dataDirs,
            "Sink.metadata_s" -> listener.site("Sink.writeMetadata").jobWallMs / 1e3,
            "CatalogRegistry.register_s" -> spanSeconds("CatalogRegistry"),
            "CatalogRegistry.spark_jobs" -> listener.span("CatalogRegistry").jobs) ++
            Labels.map(l => s"QueryRegistry.${l}_ms" -> spanSeconds(s"QueryRegistry.$l") * 1e3 / Batch) ++ Seq(
            "QueryRegistry.files_scanned" -> queries.map(_.filesRead).sum / Batch,
            "QueryRegistry.shuffle_bytes" -> queries.map(_.shuffleWriteBytes).sum / Batch,
            "QueryRegistry.stages" -> queries.map(_.stages).sum / Batch)
          s""","layers":${obj(fields.map { case (k, v) => k -> v.toString })}"""
        }

      val peakHeapMb = roundPeakHeap / 1048576.0
      rounds += s"""{"measured":$measured,"etl_s":$etlS,"etl_cpu_s":$etlCpuS,"queries_s":${batchS / Batch},"peak_heap_mb":$peakHeapMb,"run_root":${str(res.runRoot)},""" +
        s""""report":${res.report.toJson},"checked":${obj(checked)},"batch":${obj(batchDigests)}$layers}"""
      // Outputs stay on disk until run.py has checked them: deleting files
      // between rounds would put the file system's discards in the next one.
      // A full collection between rounds starts each round on the same heap;
      // without it garbage piles up in the old generation, and the peak
      // after-GC occupancy grows with the number of rounds a run fits.
      System.gc()
      r += 1
    }
    spark.stop()

    val result = s"""{"ready_epoch_s":$readyEpochS,""" +
      s""""jvm":$jvmAfterCold,"rounds":${rounds.mkString("[", ",", "]")}}"""
    Files.write(Paths.get(opt("result")), result.getBytes(UTF_8))
  }
}
