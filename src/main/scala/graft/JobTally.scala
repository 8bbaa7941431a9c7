package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Listeners
import scala.util.chaining._

/** Spark work per job group (`spark.jobGroup.id`, "" outside any group):
  * jobs, stages, tasks, executor run and CPU time, shuffle bytes. A stage
  * shared by several jobs counts once, for the first job that lists it.
  * Reads drain the listener bus first, so they see every finished job
  * (partial counts if the bus is still busy after the drain's timeout).
  */
final class JobTally private (sc: SparkContext) extends SparkListener {
  import JobTally.Counts
  private var groups = Map.empty[String, Counts]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]

  private def add(group: String, c: Counts): Unit =
    groups = groups.updated(group, groups.getOrElse(group, Counts()) + c)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    add(group, Counts(jobs = 1))
    e.stageIds.foreach(stageGroup.getOrElseUpdate(_, group))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val (s, m) = (e.stageInfo, e.stageInfo.taskMetrics)
    stageGroup.get(s.stageId).foreach(add(_, Counts(0, 1, s.numTasks, m.executorRunTime,
      m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)))
  }

  def snapshot(): Map[String, Counts] = { Listeners.drain(sc); synchronized(groups) }

  def total(): Counts = snapshot().values.foldLeft(Counts())(_ + _)
}

object JobTally {
  final case class Counts(jobs: Int = 0, stages: Int = 0, tasks: Int = 0, runMs: Long = 0L,
      cpuNs: Long = 0L, shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      runMs + o.runMs, cpuNs + o.cpuNs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes)
    def cpuMs: Long = cpuNs / 1000000L
  }

  /** The context's tally, added to its listener bus on first use. */
  def of(spark: SparkSession): JobTally = synchronized {
    val sc = spark.sparkContext
    Listeners.installed[JobTally](sc).headOption
      .getOrElse(new JobTally(sc).tap(sc.addSparkListener))
  }
}
