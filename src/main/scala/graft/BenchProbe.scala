package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Targeted timing of named bench rows, Bench's way (one untimed warm-up
  * run, then a timed `noop` write, on Bench's session settings), with the
  * Spark jobs, stages and SQL executions each timed run started. Counts do
  * not drift with host load, so a paired A/B of two commits reads them
  * next to the wall time. Cores come from `SPARK_GRAFT_CPUS` (default
  * 32) exactly as for [[Bench]], so a row probed here runs at the width
  * Bench timed it at.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> [SPARK_GRAFT_CPUS=<n>] runMain graft.BenchProbe <row> [row ...]
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchProbe <row> [row ...] (SparkEntry.queries names)")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cores(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (jobs, stages, execs) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ => ()
      }
    })
    args.foreach { name =>
      def run(): Unit = SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      run()
      spark.catalog.clearCache()
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      val (j0, s0, e0) = (jobs.get, stages.get, execs.get)
      val t0 = System.nanoTime()
      run()
      val secs = (System.nanoTime() - t0) / 1e9
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      println(f"[probe] $name%-22s $secs%8.2f s  jobs=${jobs.get - j0} " +
        s"stages=${stages.get - s0} sqlExecs=${execs.get - e0}")
    }
    spark.stop()
  }
}
