package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Builder tooling: does pre-partitioning the closure's edge cache by the
  * per-round join key save the per-round E-sized exchange at a scale where
  * labels can no longer be broadcast? Path-shaped groups force a
  * multi-round propagation so per-round costs dominate; the listener sums
  * shuffle bytes so the exchange-reuse claim is read off the metrics, not
  * guessed from wall time (shared-host drift, SCALING #73). */
object CCScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 4000000L
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })
    def run(name: String): Unit = {
      Thread.sleep(300)
      val (b0, s0) = (shuffleWrite.get, stages.get)
      val t0 = System.nanoTime()
      // groups of 8 consecutive ids, chained: diameter 7 → ~7 rounds
      val docs = spark.range(n).select(col("id").as("doc_id"))
      val pairs = spark.range(n).filter(col("id") % 8 =!= 7)
        .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
      val out = Dedup.clusters(docs, pairs)
        .agg(count(lit(1)), sum(col("cluster_id"))).head()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[ccscale] $name n=$n wall=$secs%.2f s shuffleMB=${(shuffleWrite.get - b0) / 1e6}%.1f stages=${stages.get - s0} checksum=$out")
      spark.catalog.clearCache()
    }
    run("warm")
    run("timed_1")
    run("timed_2")
    def runStar(name: String, n2: Long): Unit = {
      Thread.sleep(300)
      val (b0, s0) = (shuffleWrite.get, stages.get)
      val t0 = System.nanoTime()
      // groups of 64 consecutive ids, chained: star contraction needs
      // several rounds — the convergence check dominates fixed cost
      val docs = spark.range(n2).select(col("id").as("doc_id"))
      val pairs = spark.range(n2).filter(col("id") % 64 =!= 63)
        .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
      val out = Dedup.clustersLogStar(docs, pairs)
        .agg(count(lit(1)), sum(col("cluster_id"))).head()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[ccscale] $name n=$n2 wall=$secs%.2f s shuffleMB=${(shuffleWrite.get - b0) / 1e6}%.1f stages=${stages.get - s0} checksum=$out")
      spark.catalog.clearCache()
    }
    runStar("star_warm", 1000000L)
    runStar("star_timed_1", 1000000L)
    runStar("star_timed_2", 1000000L)
    spark.stop()
  }
}
