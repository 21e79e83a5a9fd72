package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds (fractional for
  * spans the benchmark times itself). `trace` is the op the span belongs
  * to; `parent` is the span that caused it ("" at the root). */
final case class Span(id: String, parent: String, trace: String, name: String,
                      layer: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs

  def json: String =
    s"""{"id":"$id","parent":"$parent","trace":"$trace","name":${Report.str(name)},""" +
      f""""layer":"$layer","start_ms":$startMs%.3f,"end_ms":$endMs%.3f}"""
}

/** Spark work attributed to one op (one job group). */
final class SparkCounts {
  var jobs, stages, tasks, tasksFailed = 0L
  var taskWaitMs, runMs, gcMs, cpuNs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
}

/** Listener for the traced run. Every timed op runs under its own job
  * group; jobs, stages and tasks are attributed to the group of the job
  * that first listed the stage. Events outside a job group (set-up,
  * checks) are ignored. Everything stays in memory until the run ends. */
final class SparkTrace extends SparkListener {
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobTimes = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTimes = mutable.HashMap.empty[(Int, Int), (Long, Long)]
  private val counts = mutable.HashMap.empty[String, SparkCounts]

  private def groupOfStage(stageId: Int): Option[String] =
    stageJob.get(stageId).flatMap(jobGroup.get)

  private def acc(group: String): SparkCounts =
    counts.getOrElseUpdate(group, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        jobGroup(e.jobId) = g
        jobTimes(e.jobId) = (e.time, e.time)
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
        acc(g).jobs += 1
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    groupOfStage(si.stageId).foreach { g =>
      val t = si.submissionTime.getOrElse(System.currentTimeMillis())
      stageTimes((si.stageId, si.attemptNumber())) = (t, t)
      // a stage attempt > 0 is a resubmission after a fetch failure
      if (si.attemptNumber() > 0) acc(g).tasksFailed += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    groupOfStage(si.stageId).foreach { g =>
      val key = (si.stageId, si.attemptNumber())
      val start = stageTimes.get(key).map(_._1)
        .orElse(si.submissionTime).getOrElse(System.currentTimeMillis())
      stageTimes(key) = (start, si.completionTime.getOrElse(System.currentTimeMillis()))
      acc(g).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    groupOfStage(e.stageId).foreach { g =>
      val c = acc(g)
      val ti = e.taskInfo
      c.tasks += 1
      if (ti.failed || ti.killed || ti.speculative) c.tasksFailed += 1
      stageTimes.get((e.stageId, e.stageAttemptId)).foreach { case (submit, _) =>
        c.taskWaitMs += math.max(0L, ti.launchTime - submit)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def countsOf(group: String): SparkCounts = synchronized {
    counts.getOrElse(group, new SparkCounts)
  }

  /** Job and stage spans under the op span `opId` (whose job group it is). */
  def spansOf(opId: String): Seq[Span] = synchronized {
    val jobs = jobGroup.collect { case (j, g) if g == opId => j }.toSeq.sorted
    jobs.flatMap { j =>
      val (js, je) = jobTimes(j)
      val jobSpan = Span(s"$opId/job$j", opId, opId, s"job $j", "spark", js, je)
      val stages = stageTimes.toSeq.collect {
        case ((s, a), (ss, se)) if stageJob.get(s).contains(j) =>
          Span(s"$opId/job$j/stage$s.$a", jobSpan.id, opId, s"stage $s.$a", "spark", ss, se)
      }.sortBy(_.startMs)
      jobSpan +: stages
    }
  }
}

object Trace {
  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s -> math.max(0.0, s.durMs - covered(kids, s.startMs, s.endMs))
    }
  }
}
