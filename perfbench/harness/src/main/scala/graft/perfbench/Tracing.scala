package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task and job totals per Spark job group. Job groups, not call sites,
  * carry the attribution: jobs that adaptive execution submits report a
  * `CompletableFuture` call site, but they do inherit the caller's group.
  */
final class Collector extends SparkListener {
  final class Totals {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
  }

  /** (group, start ms, end ms) of every finished job. */
  val jobs = mutable.ArrayBuffer.empty[(String, Long, Long)]
  val totals = mutable.Map.empty[String, Totals]
  private val running = mutable.Map.empty[Int, (String, Long)]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    running(e.jobId) = (g, e.time)
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { case (g, t0) => jobs += ((g, t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Totals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.output += m.outputMetrics.bytesWritten
    }
  }
}

/** Counts the Spark jobs of one untraced pass. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  @volatile private var jobs = 0
  sc.addSparkListener(this)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs += 1

  def finish(): Int = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    jobs
  }
}

/** Nested named spans over one pipeline pass. Entering a span sets the
  * job group `<pass>:<span>` on the calling thread; leaving it restores the
  * parent's group.
  */
final class Tracer(spark: SparkSession, pass: String) {
  final case class Span(name: String, parent: Option[String],
      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  private val sc = spark.sparkContext
  private val collector = new Collector
  sc.addSparkListener(collector)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  var persistedMb = 0.0

  private def group(span: String) = s"$pass:$span"

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    stack = name :: stack
    sc.setJobGroup(group(name), name)
    val (ns, ms) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      val (ns1, ms1) = (System.nanoTime(), System.currentTimeMillis())
      stack = stack.tail
      parent match {
        case Some(p) => sc.setJobGroup(group(p), p)
        case None => sc.clearJobGroup()
      }
      spans += Span(name, parent, ns, ns1, ms, ms1)
    }
  }

  /** Waits for the listener bus, detaches the listener and returns every
    * span's figures. All but `self_s` include the span's descendants.
    */
  def finish(cores: Int): java.util.Map[String, Any] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(collector)
    def subtree(n: String): Set[String] =
      spans.filter(_.parent.contains(n)).map(_.name).toSet.flatMap(subtree) + n
    val out = new java.util.LinkedHashMap[String, Any]()
    collector.synchronized {
      for (s <- spans.sortBy(_.startNs)) {
        val groups = subtree(s.name).map(group)
        val jobs = collector.jobs.filter(j => groups.contains(j._1))
        val t = groups.toSeq.flatMap(collector.totals.get)
        def sum(f: collector.Totals => Long) = t.map(f).sum
        val childWall = spans.filter(_.parent.contains(s.name)).map(_.wallS).sum
        val covered = coveredMs(jobs.map(j => (j._2 max s.startMs, j._3 min s.endMs)).toSeq)
        val taskS = sum(_.runMs) / 1e3
        val mb = 1048576.0
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("wall_s", s.wallS)
        m.put("self_s", s.wallS - childWall)
        m.put("jobs", jobs.size)
        m.put("tasks", sum(_.tasks))
        m.put("task_s", taskS)
        m.put("cpu_s", sum(_.cpuNs) / 1e9)
        m.put("gap_s", math.max(0.0, s.wallS - covered / 1e3))
        m.put("util", if (s.wallS > 0) taskS / (s.wallS * cores) else 0.0)
        m.put("shuffle_write_mb", sum(_.shuffleWrite) / mb)
        m.put("shuffle_read_mb", sum(_.shuffleRead) / mb)
        m.put("spill_mb", sum(_.spill) / mb)
        m.put("input_mb", sum(_.input) / mb)
        m.put("output_mb", sum(_.output) / mb)
        out.put(s.name, m)
      }
      out.put("unattributed_jobs", collector.jobs.count(!_._1.startsWith(s"$pass:")))
    }
    out
  }

  /** Length of the union of [start, end) intervals, in ms. */
  private def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (open && a <= curE) curE = curE max b
      else {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}
