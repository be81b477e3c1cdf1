package org.apache.spark {

  /** `SparkContext.listenerBus` is private[spark]; the collector drains it
    * around a measured body. */
  object GraftListenerBridge {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000)
  }
}

package graft.obs {

  import org.apache.spark.{GraftListenerBridge, SparkContext}
  import org.apache.spark.executor.TaskMetrics
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

  import scala.collection.mutable

  /** One Spark job; `end` is 0 until it ends. `callSite` is the job's
    * `spark.job.description`, else its last stage's name at job start (the
    * action's call site). Adaptive stage jobs have a thread-pool call site
    * of their own: `execution` and `group` attribute them to the caller. */
  final case class Job(id: Int, start: Long, end: Long, execution: Option[Long],
      callSite: String, group: Option[String])

  /** One completed stage, its job group and its stage-completed task metrics
    * (summed over its tasks). */
  final case class Stage(id: Int, name: String, tasks: Int, group: Option[String],
      metrics: TaskMetrics)

  /** What one measured body ran: jobs in start order, stages in completion
    * order, and each SQL execution's description by id. */
  final case class Records(jobs: Seq[Job], stages: Seq[Stage],
      executions: Map[Long, String]) {
    def total(f: TaskMetrics => Long): Long = stages.iterator.map(s => f(s.metrics)).sum
  }

  /** The one SparkListener in graft, attached only by [[Collector.measure]].
    * Stages take job groups the way Spark propagates them: each stage a job
    * lists at start takes the job's group unless it has one, and a submitted
    * stage takes the group it was submitted under. The collector never sets
    * a job group, a job description or any other local property. */
  final class Collector private[obs] () extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val executions = mutable.HashMap.empty[Long, String]
    private val stageGroup = mutable.HashMap.empty[Int, Option[String]]

    private def prop(p: java.util.Properties, key: String): Option[String] =
      Option(p).flatMap(q => Option(q.getProperty(key)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = prop(e.properties, "spark.jobGroup.id")
      jobs(e.jobId) = Job(e.jobId, e.time, 0L,
        prop(e.properties, "spark.sql.execution.id").map(_.toLong),
        prop(e.properties, "spark.job.description")
          .getOrElse(e.stageInfos.lastOption.fold("")(_.name)), group)
      e.stageIds.foreach(stageGroup.getOrElseUpdate(_, group))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageGroup(e.stageInfo.stageId) = prop(e.properties, "spark.jobGroup.id")
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stages += Stage(si.stageId, si.name, si.numTasks,
        stageGroup.getOrElse(si.stageId, None), si.taskMetrics)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { executions(s.executionId) = s.description }
      case _ =>
    }

    private[obs] def records: Records = synchronized {
      Records(jobs.values.toList, stages.toList, executions.toMap)
    }
  }

  object Collector {
    /** Run `body` with a fresh collector attached; return its result and
      * records. The bus is drained before attaching (an earlier run's queued
      * events are not this body's) and after the body (a fast query's last
      * events are not lost); the collector is detached even if `body` throws. */
    def measure[A](spark: SparkSession)(body: => A): (A, Records) = {
      val c = new Collector
      val a = attached(spark.sparkContext, c)(body)
      (a, c.records)
    }

    private[obs] def attached[A](sc: SparkContext, c: Collector)(body: => A): A = {
      GraftListenerBridge.drain(sc)
      sc.addSparkListener(c)
      try { val a = body; GraftListenerBridge.drain(sc); a }
      finally sc.removeSparkListener(c)
    }
  }
}
