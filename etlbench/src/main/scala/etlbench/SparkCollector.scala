package etlbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.etlbench.ListenerBus
import org.apache.spark.scheduler._

/** Spark's own counts (jobs, stages, tasks, shuffle, spill, GC, task-time
  * skew, archive bytes read) for each of the benchmark's spans.
  *
  * A span runs under a Spark job group of its name. Counts are attributed
  * by job submission time, which is exact because the benchmark runs one
  * span at a time; the group alone is not enough, because jobs submitted
  * from pooled threads carry whatever group the thread inherited
  * when it was created. A stage counts for the job that first listed it,
  * and only if it ran (a skipped stage never completes).
  */
final class SparkCollector extends SparkListener {

  private final class StageAcc {
    var tasks = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, gcMs, shuffleWrite, spill, input, records = 0L
    var completed = false
    var readsArchives = false
  }

  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val jobTimes = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAcc]

  private def stage(id: Int): StageAcc = stages.getOrElseUpdate(id, new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTimes(e.jobId) = e.time
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.records += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = stage(e.stageInfo.stageId)
      s.completed = true
      s.readsArchives ||= e.stageInfo.rddInfos.exists { r =>
        (r.name + r.scope.map(_.name).getOrElse("")).contains("binaryFile")
      }
    }

  /** Run `body` as span `name`; returns its result and wall seconds. */
  def span[A](sc: SparkContext, name: String)(body: => A): (A, Double) = {
    sc.setJobGroup(name, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - n0) / 1e9)
    } finally {
      val t1 = System.currentTimeMillis()
      synchronized { spans += ((name, t0, t1)) }
      sc.clearJobGroup()
    }
  }

  /** Counts of every span named `name`, once the bus has caught up. */
  def stats(sc: SparkContext, name: String): SparkCollector.Stats = {
    ListenerBus.drain(sc)
    synchronized {
      val windows = spans.filter(_._1 == name).map(w => (w._2, w._3))
      def inSpan(t: Long) = windows.exists { case (a, b) => t >= a && t <= b }
      val jobs = jobTimes.collect { case (j, t) if inSpan(t) => j }.toSet
      val ran = stages.collect {
        case (id, s) if s.completed && stageJob.get(id).exists(jobs) => s
      }.toSeq
      val skew = ran.filter(_.durations.size >= 2).map { s =>
        val d = s.durations.sorted
        d.last.toDouble / math.max(1L, d(d.size / 2))
      }
      SparkCollector.Stats(
        jobs = jobs.size,
        stages = ran.size,
        tasks = ran.map(_.tasks).sum,
        runS = ran.map(_.runMs).sum / 1e3,
        gcS = ran.map(_.gcMs).sum / 1e3,
        shuffleWriteBytes = ran.map(_.shuffleWrite).sum,
        spillBytes = ran.map(_.spill).sum,
        archiveBytes = ran.filter(_.readsArchives).map(_.input).sum,
        archiveRecords = ran.filter(_.readsArchives).map(_.records).sum,
        taskSkew = if (skew.isEmpty) 1.0 else skew.max)
    }
  }
}

object SparkCollector {
  final case class Stats(jobs: Int, stages: Int, tasks: Long, runS: Double,
                         gcS: Double, shuffleWriteBytes: Long,
                         spillBytes: Long, archiveBytes: Long,
                         archiveRecords: Long,
                         taskSkew: Double)
}
