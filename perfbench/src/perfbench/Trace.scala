package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the library, plus the Spark
  * listeners that attribute jobs, tasks, plans and stream progress to
  * them. While disabled, `span` only runs its body: no local property is
  * set and no listener is registered, so untraced runs pay nothing.
  *
  * Attribution: the driver thread sets the local property [[SpanKey]]
  * around each call. Jobs carry it in their properties, stages are
  * mapped through their job, tasks through their stage and SQL plans
  * through the `spark.sql.execution.id` of their jobs. A streaming
  * query's thread inherits the property it had when it was started. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final case class Span(id: Int, name: String, parent: Int,
                        startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final class Counters {
    var jobs = 0L
    var taskS, gcS = 0.0
    var exchanges, shuffleWrite, spill, output = 0L
    var planS = 0.0
  }

  @volatile private var registered = false
  @volatile private var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val counters = mutable.Map[String, Counters]()
  private val stageSpan = mutable.Map[Int, String]()
  private val execSpan = mutable.Map[Long, String]()
  private val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  val progress = mutable.ArrayBuffer[Map[String, Long]]()

  private def ctr(span: String): Counters = counters.getOrElseUpdate(span, new Counters)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
        ctr(s).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execSpan(id.toLong) = s)
      }
    }
    // the plan as executed (final adaptive stages) and its planning phases
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => lock {
        for (s <- execSpan.get(end.executionId); qe <- PerfbenchBridge.queryExecution(end)) {
          val c = ctr(s)
          c.exchanges += exchanges(qe.executedPlan)
          c.planS += Seq("analysis", "optimization", "planning")
            .flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3
        }
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val info = e.taskInfo
      if (info != null) taskIntervals += (info.launchTime -> info.finishTime)
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = ctr(s)
        c.taskS += m.executorRunTime / 1e3
        c.gcS += m.jvmGCTime / 1e3
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock {
      if (e.progress.numInputRows > 0) {
        val d = e.progress.durationMs
        progress += d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
      }
    }
  }

  private def lock[T](f: => T): T = synchronized(f)

  def isEnabled: Boolean = enabled

  /** Turns spans on or off; the listeners are registered at the first
    * call and stay, attributing nothing while spans are off. */
  def setEnabled(on: Boolean): Unit = {
    if (on && !registered) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.streams.addListener(streamListener)
      registered = true
    }
    enabled = on
  }

  /** Runs `body` as one span. Spans nest by call order on the driver
    * thread; the local property names the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption.map(_.id).getOrElse(-1)
      val s = Span(lock(spans.size), name, parent, System.currentTimeMillis(), System.nanoTime())
      lock(spans += s)
      open.push(s)
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, name)
      try body
      finally {
        sc.setLocalProperty(SpanKey, outer)
        open.pop()
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
      }
    }

  /** Sets the span property while a streaming query is started, so the
    * query's thread (which inherits local properties) attributes every
    * micro-batch job to `name`. */
  def streamOwner[T](name: String)(start: => T): T =
    if (!enabled) start
    else {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, name)
      try start finally sc.setLocalProperty(SpanKey, outer)
    }

  /** Waits until the listener bus has delivered every event posted so
    * far, bounded so a stuck bus cannot hang the run. */
  def drain(): Unit = PerfbenchBridge.drain(spark.sparkContext, 10000L)

  /** Per-call means of the nine span counters, for every name in
    * `names` (0 for a span the workload never opened). */
  def spanMetrics(names: Seq[String]): Seq[(String, Double, String)] = lock {
    val intervals = mergedIntervals()
    names.flatMap { n =>
      val inst = spans.filter(s => s.name == n && s.endNs > 0)
      val calls = math.max(1, inst.size).toDouble
      val c = counters.getOrElse(n, new Counters)
      val self = inst.map(s => s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum).sum
      val noTask = inst.map(s => (s.endMs - s.startMs - covered(intervals, s.startMs, s.endMs)) / 1e3).sum
      Seq(
        (s"$n.self_s", self / calls, "s"),
        (s"$n.jobs", c.jobs / calls, "count"),
        (s"$n.no_task_s", noTask / calls, "s"),
        (s"$n.task_s", c.taskS / calls, "s"),
        (s"$n.gc_s", c.gcS / calls, "s"),
        (s"$n.exchanges", c.exchanges / calls, "count"),
        (s"$n.shuffle_write_bytes", c.shuffleWrite / calls, "bytes"),
        (s"$n.spill_bytes", c.spill / calls, "bytes"),
        (s"$n.output_bytes", c.output / calls, "bytes"))
    }
  }

  def calls(name: String): Int = lock(spans.count(_.name == name))

  def jobs(name: String): Long = lock(counters.get(name).map(_.jobs).getOrElse(0L))

  /** Analysis + optimization + planning seconds over every attributed plan. */
  def planSeconds: Double = lock(counters.values.map(_.planS).sum)

  def writeJson(path: java.nio.file.Path): Unit = {
    val body = lock(spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"seconds":${s.seconds}}"""
    }.mkString("[\n", ",\n", "\n]\n"))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }

  private def mergedIntervals(): Array[(Long, Long)] = {
    val sorted = taskIntervals.sortBy(_._1)
    val out = mutable.ArrayBuffer[(Long, Long)]()
    sorted.foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += (a -> b)
    }
    out.toArray
  }

  private def covered(iv: Array[(Long, Long)], from: Long, to: Long): Long =
    iv.iterator.map { case (a, b) => math.max(0L, math.min(b, to) - math.max(a, from)) }.sum
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Shuffle exchanges in a plan as executed: adaptive plans are read at
    * their final stage, reused exchanges are not counted again. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0L
    case e: ShuffleExchangeLike => 1L + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}
