package etlbench

import scala.collection.mutable

import org.apache.spark.etlbench.SchedulerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark work summed over the jobs and stages assigned to one layer. */
final class Work {
  var jobs, stages, tasks, jobWallMs = 0L
  var runMs, gcMs = 0L
  var inputBytes, inputRows = 0L
  var shuffleWriteBytes = 0L
  var outputBytes, outputRows, spillBytes, filesRead = 0L
}

/** Assigns every Spark job and stage to the program module that started it
  * and sums its task metrics there.
  *
  * A job's module is the first `graft.` frame of its SQL execution's call
  * site (or, for a job outside any SQL execution, of its stage's call
  * site), written `Object.method`. The shuffle-map stages of the rollup
  * write, whose call site is `Sink.writeData`, are the scan plus partial
  * aggregate and go to `HourlyRollup`; its result stage (final aggregate,
  * encode, write) stays with `Sink.writeData`. Jobs with no `graft.` frame
  * (the benchmark's own `collect` of a saved query) take the benchmark span
  * they ran in. Independently, every job is also summed under the span
  * (`Bench.span` job tag) it ran in.
  */
final class LayerListener extends SparkListener {
  val bySite = mutable.LinkedHashMap.empty[String, Work]
  val bySpan = mutable.LinkedHashMap.empty[String, Work]

  private val execSite = mutable.HashMap.empty[Long, String]
  private val execSpan = mutable.HashMap.empty[Long, String]
  private val filesReadIds = mutable.HashSet.empty[Long]
  private val stageOf = mutable.HashMap.empty[Int, (String, String)]
  private val jobOf = mutable.HashMap.empty[Int, (String, String, Long)]

  def reset(): Unit = synchronized { bySite.clear(); bySpan.clear() }

  def site(name: String): Work = synchronized(bySite.getOrElseUpdate(name, new Work))
  def span(name: String): Work = synchronized(bySpan.getOrElseUpdate(name, new Work))

  private def firstGraftFrame(callSite: String): Option[String] =
    Option(callSite).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft."))
      .map { frame =>
        val qualified = frame.takeWhile(_ != '(')
        val cls = qualified.substring(0, qualified.lastIndexOf('.'))
        val method = qualified.substring(qualified.lastIndexOf('.') + 1)
          .split('$').filter(s => s.nonEmpty && s != "anonfun").headOption.getOrElse("")
        cls.substring(cls.lastIndexOf('.') + 1).stripSuffix("$") + "." + method
      }

  private def spanOf(tags: Iterable[String]): String =
    tags.find(_.startsWith(Bench.SpanTag)).map(_.stripPrefix(Bench.SpanTag)).getOrElse("none")

  private def collectFileMetrics(plan: SparkPlanInfo): Unit = {
    plan.metrics.filter(_.name == "number of files read").foreach(m => filesReadIds += m.accumulatorId)
    plan.children.foreach(collectFileMetrics)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        val sp = spanOf(e.jobTags)
        execSpan(e.executionId) = sp
        execSite(e.executionId) = firstGraftFrame(e.details).getOrElse(sp)
        collectFileMetrics(e.sparkPlanInfo)
      case e: SparkListenerSQLAdaptiveExecutionUpdate =>
        collectFileMetrics(e.sparkPlanInfo)
      case e: SparkListenerDriverAccumUpdates =>
        val n = e.accumUpdates.collect { case (id, v) if filesReadIds(id) => v }.sum
        if (n > 0) {
          site(execSite.getOrElse(e.executionId, "none")).filesRead += n
          span(execSpan.getOrElse(e.executionId, "none")).filesRead += n
        }
      case _ => ()
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq.flatMap(_.split(","))
    val sp = spanOf(tags)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val st = exec.flatMap(execSite.get)
      .orElse(js.stageInfos.headOption.flatMap(s => firstGraftFrame(s.details)))
      .getOrElse(sp)
    jobOf(js.jobId) = (st, sp, js.time)
    js.stageInfos.foreach(s => stageOf(s.stageId) = (st, sp))
    site(st).jobs += 1
    span(sp).jobs += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobOf.remove(je.jobId).foreach { case (st, sp, t0) =>
      site(st).jobWallMs += je.time - t0
      span(sp).jobWallMs += je.time - t0
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val info = sc.stageInfo
    stageOf.remove(info.stageId).foreach { case (st0, sp) =>
      val st = if (st0 == "Sink.writeData" && SchedulerBridge.isMapStage(info)) "HourlyRollup" else st0
      Seq(site(st), span(sp)).foreach { w =>
        val m = info.taskMetrics
        w.stages += 1
        w.tasks += info.numTasks
        if (m != null) {
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.inputBytes += m.inputMetrics.bytesRead
          w.inputRows += m.inputMetrics.recordsRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.outputBytes += m.outputMetrics.bytesWritten
          w.outputRows += m.outputMetrics.recordsWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}
