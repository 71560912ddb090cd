package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import scala.util.control.NonFatal

/** Per-query cost-shape profiler for the optimization rounds (guide §1:
  * measure first). For each named query it runs the same noop-sink
  * measurement the bench uses and reports WHERE the seconds live:
  * driver-visible job count (each job is a synchronization barrier),
  * stage count (each extra stage beyond the scan is an exchange or a
  * cached-frame boundary), task count (scheduling overhead), summed
  * executor task time vs wall-clock (a wide gap = the driver or
  * planning dominates, not the cluster — guide §7.3), and shuffle
  * bytes (guide §2: the thing to shrink). The last four columns count
  * Exchange, BroadcastHashJoin, SortMergeJoin and nested-loop/cartesian
  * nodes in the final executed plan of the median rep's noop write
  * (post-AQE; the work inside a `.cut` ran in earlier jobs and is not
  * in this plan). A query that throws in any rep prints a FAILED row
  * instead of a timing.
  *
  * Usage: runMain graft.tools.QueryProfile q_a q_b ...  (no args =
  * the 25 slowest by the checked-in history medians is too much
  * coupling — just require explicit names). Env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_PROFILE_REPS (default 3). */
object QueryProfile {
  private final class Acc extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val shuffleRead = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val spill = new AtomicLong(0L)
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled)
      }
    }
  }

  /** Exchange, BroadcastHashJoin, SortMergeJoin and nested-loop or
    * cartesian node counts of the last successful SQL execution's final
    * plan — the noop write, since it is each rep's final action. */
  private final class LastPlan extends QueryExecutionListener {
    val counts = new AtomicReference[Seq[Int]](Nil)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val names = nodes(qe.executedPlan).map(_.nodeName)
      def n(p: String => Boolean) = names.count(p)
      counts.set(Seq(n(_.contains("Exchange")), n(_ == "BroadcastHashJoin"),
        n(_ == "SortMergeJoin"),
        n(x => x == "CartesianProduct" || x == "BroadcastNestedLoopJoin")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Every node of the final physical plan, subqueries included: an
    * executed AQE plan is read through its final plan (its tree string
    * would list the initial plan too) and query stages through their
    * stage plans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass query names: runMain graft.tools.QueryProfile q_x ...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val spark = graft.GraftSession.builder(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as Bench
    spark.range(1000000L).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    Seq("lineitem", "orders", "customer", "part", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
    }
    val lastPlan = new LastPlan
    spark.listenerManager.register(lastPlan)
    val qs = graft.SparkEntry.queries
    println(f"${"query"}%-26s ${"med_s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"taskT_s"}%8s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spill"}%6s ${"exch"}%4s ${"bhj"}%3s ${"smj"}%3s ${"nlj"}%3s")
    args.foreach { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
      try {
        // one untimed warm rep absorbs codegen/plan-cache misses so the
        // listener numbers describe the steady-state rep the bench medians
        spark.sparkContext.setJobDescription(s"warm:$name")
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val samples = (1 to reps).map { i =>
          val acc = new Acc
          spark.sparkContext.addSparkListener(acc)
          spark.sparkContext.setJobDescription(s"profile:$name#$i")
          lastPlan.counts.set(Nil)
          val t0 = System.nanoTime()
          val dt =
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            } finally {
              // listener bus is async: wait for queued events before reading
              org.apache.spark.sql.graft.bridge.waitListenerBus(spark.sparkContext)
              spark.sparkContext.removeSparkListener(acc)
            }
          (dt, acc, lastPlan.counts.get)
        }
        val med = samples.map(_._1).sorted.apply(samples.length / 2)
        val (_, a, counts) = samples.find(_._1 == med).get
        val Seq(exch, bhj, smj, nlj) = counts
        println(f"$name%-26s $med%7.2f ${a.jobs.get}%5d ${a.stages.get}%6d ${a.tasks.get}%6d ${a.taskTimeMs.get / 1e3}%8.2f ${a.shuffleRead.get / 1e6}%7.1f ${a.shuffleWrite.get / 1e6}%7.1f ${a.spill.get / 1e6}%6.1f $exch%4d $bhj%3d $smj%3d $nlj%3d")
      } catch {
        case NonFatal(e) => println(f"$name%-26s FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.listenerManager.unregister(lastPlan)
    spark.stop()
  }
}
