package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, with every Spark
  * job, stage and task assigned to the span that was open when it ran.
  *
  * A span sets the job group to its own id, so jobs launched from any
  * thread on its behalf (AQE and broadcast jobs inherit the group) are
  * attributed to it. Inside a span, a job is further assigned to a layer
  * by the first program frame in its call site; a job without one (for
  * example a `CompletableFuture` call site) keeps the span's own layer.
  * Planning phases come from a `QueryExecutionListener` and are matched to
  * spans by time. Everything is kept in memory until the run ends. */
final class Tracer(spark: SparkSession, layerOfFile: Map[String, String]) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
  private val executionSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      val span = group.filter(_.startsWith(Prefix))
        .map(_.stripPrefix(Prefix).toInt).getOrElse(-1)
      val result = if (e.stageInfos.isEmpty) None
        else Some(e.stageInfos.maxBy(_.stageId))
      // AQE and broadcast stages run as jobs of their own with a
      // CompletableFuture call site; the SQL execution they belong to has
      // the call site of the action that started it.
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionSite.get(id.toLong)))
      val site = (result.map(s => s.name + "\n" + s.details) ++ execution).mkString("\n")
      val j = new Job(e.jobId, span, e.time, site)
      e.stageIds.foreach(s => stageJob.put(s, j))
      jobs.put(e.jobId, j)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executionSite.put(x.executionId, x.description + "\n" + x.details)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          j.taskWall = j.taskWall max (e.taskInfo.finishTime - e.taskInfo.launchTime)
          if (m != null) {
            j.runMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.peakMem = j.peakMem max m.peakExecutionMemory
          }
        }
      }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      val at = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.endTimeMs).max
      actions.add(Action(at, planMs, durationNs / 1e9))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = new Span(spans.size, name, layer,
      open.headOption.map(_.id).getOrElse(-1))
    spans += s
    open.push(s)
    sc.setJobGroup(Prefix + s.id, name, interruptOnCancel = false)
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      s.seconds = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(Prefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** The layer a job belongs to: the package of the first program frame in
    * its call site (or its SQL execution's), refined for the store and the
    * ingest checkpoint. */
  def layerOf(j: Job, spanLayer: String): String = {
    val frames = j.site.split("\n").map(_.trim)
    frames.collectFirst {
      case Frame(cls, method, file) if cls.startsWith("graft.") && layerOfFile.contains(file) =>
      val layer = layerOfFile(file)
      (layer, method.stripPrefix("$anonfun$").takeWhile(_ != '$')) match {
        case ("store", "writeData") => "store.write"
        case ("store", m) if MetaMethods(m) => "store.meta"
        case ("store", _) => "store.view"
        case ("pipeline", _) if j.site.contains("heckpoint") => "pipeline.checkpoint"
        case (l, _) => l
      }
    }.getOrElse(spanLayer)
  }

  /** Jobs of a span and of all spans below it. */
  def jobsUnder(s: Span): Seq[Job] = {
    val ids = subtree(s).map(_.id).toSet
    jobs.values().toArray(Array.empty[Job]).toSeq.filter(j => ids(j.span))
  }

  def subtree(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    s +: kids.flatMap(subtree)
  }

  def actionsIn(s: Span): Seq[Action] =
    actions.toArray(Array.empty[Action]).toSeq
      .filter(a => a.atMs >= s.startMs && a.atMs <= s.endMs)

  /** Child time attributed to a span: the union of its child spans' and
    * its own jobs' intervals. Self time is the span minus this. */
  def childSeconds(s: Span): Double = {
    val ivs = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
      jobs.values().toArray(Array.empty[Job]).toSeq.filter(_.span == s.id)
        .map(j => (j.start, j.end))
    unionMs(ivs.toSeq) / 1e3
  }

  /** Attributed intervals must lie inside their span (one clock tick of
    * slack): a violation means the attribution, not the program, is wrong. */
  def misattributed(s: Span): Boolean = {
    val slack = 2L
    jobs.values().toArray(Array.empty[Job]).toSeq.filter(_.span == s.id)
      .exists(j => j.start < s.startMs - slack || j.end > s.endMs + slack) ||
      childSeconds(s) > (s.endMs - s.startMs + slack) / 1e3
  }
}

object Tracer {
  val Prefix = "perfbench-span-"
  private val MetaMethods = Set("swapWrite", "swapWriteRows", "log",
    "appendPart", "createVersion", "completeVersion", "failVersion",
    "updateVersion", "markCurrent", "loadMeta", "versionRows")
  private val Frame = """(?:at )?([\w.$]+)\.([\w$]+)\(([\w.]+):\d+\)""".r

  final class Span(val id: Int, val name: String, val layer: String, val parent: Int) {
    var startMs = 0L
    var endMs = 0L
    var seconds = 0.0
  }

  final class Job(val id: Int, val span: Int, val start: Long, val site: String) {
    var end: Long = start
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var taskWall = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var peakMem = 0L
  }

  final case class Action(atMs: Long, planMs: Long, execSeconds: Double)

  def unionMs(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += (curE - curS).max(0L); curS = s; curE = e }
      else curE = curE max e
    }
    total + (curE - curS).max(0L)
  }
}
