package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload: inputs made from a seed, one timed operation repeated in
  * a closed loop by one driver thread, and an output check that runs
  * outside the timed region. */
abstract class Workload {
  type Out

  /** Input rows one operation consumes (rows_per_s numerator). */
  def rowsPerOp: Long

  /** Generates the inputs and writes them under the work directory. */
  def prepare(rep: Int): Unit

  /** Untimed work before operation `i` (a stream episode's start). */
  def beforeOp(i: Int): Unit = ()

  /** The timed operation. */
  def op(i: Int): Out

  /** Untimed work after operation `i`, failed or not. */
  def afterOp(i: Int): Unit = ()

  /** Untimed warm-up after the last `prepare` (three to six passes, or
    * two stream episodes), long enough that JIT drift has settled;
    * counted into set-up time. */
  def warmUp(): Unit


  /** Errors found by the independent check; empty when correct. */
  def check(i: Int, out: Out): Seq[String]

  /** Canonical digest of an output, equal for equal outputs. */
  def digest(out: Out): String

  /** A deliberately wrong copy of `out` (self-test of the checks). */
  def tamper(out: Out): Out

  /** Stops whatever the workload left running (a stream query). */
  def abort(): Unit = ()

  /** Operations per group: 1 for a pass, a stream's batches per
    * episode. The loop stops only between groups, samples the live heap
    * after groups 1, 2, 4, 8, … and after its last group, and expects
    * operation `i` to repeat the output of operation `i + opsPerGroup`. */
  def opsPerGroup: Int = 1

  /** Spans outside `Main.Spans` that this workload opens; its traced
    * run reports them after the common ones. */
  def ownSpans: Seq[String] = Nil

  /** Workload-specific per-layer metrics from a traced phase; those not
    * named in `Main.Extras` are reported after the common ones. */
  def layerMetrics(t: Tracer): Seq[(String, Double, String)] = Nil
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      size: String, inject: String, work: Path, out: Path)

object Main {
  /** Spans every traced run reports (0 where idle): those the gated
    * workloads open. A workload outside the gated set adds its own
    * through `Workload.ownSpans`. */
  val Spans: Seq[String] = Seq(
    "core.VariantSchema.loadWide",
    "operators.VariantPipeline.run", "operators.Stats.variantStats",
    "operators.Stats.sampleDepthStatsFast", "operators.Kinship.grmTriangle",
    "functions.GenotypeKernels", "functions.MaskGt",
    "ext.Graph.pageRank", "ext.Dedup.transitiveClusters", "ext.Ivf.train")

  /** Per-layer extras every traced run reports (0 where idle). */
  val Extras: Seq[(String, String)] = Seq(
    "functions.GenotypeKernels.rows_per_s" -> "rows/s",
    "functions.MaskGt.rows_per_s" -> "rows/s",
    "operators.Filters.kept_frac" -> "ratio",
    "ext.Graph.pageRank.jobs_per_iter" -> "count",
    "ext.Ivf.train.jobs_per_iter" -> "count",
    "plans.plan_s" -> "s",
    "trace.overhead_frac" -> "ratio")

  val OpTimeoutMs = 60000L
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}") }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.getOrElse("size", "full"), m.getOrElse("inject", "none"),
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Set("full", "tiny")(a.size), s"unknown --size ${a.size}")
    require(Set("none", "exception", "tamper")(a.inject), s"unknown --inject ${a.inject}")
    val t0 = System.nanoTime()
    // graph_iter is bound by the driver thread (half of its span time has
    // no task running): two task threads leave it and the JIT a core each
    val cpus = math.min(if (a.workload == "graph_iter") 2 else 4, Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.builder(cpus.toString)
      .appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      // the status store keeps finished jobs, stages and SQL executions in
      // the driver heap; capped so live heap does not grow with run length
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try { run(spark, a, sessionS); 0 }
      finally spark.stop()
    sys.exit(code)
  }

  def workload(spark: SparkSession, a: Args, tracer: Tracer): Workload = {
    val dir = a.work.resolve("data")
    val tiny = a.size == "tiny"
    a.workload match {
      case "gt_qc" => new GtQc(spark, tracer, dir, a.seed, tiny)
      case "doc_dedup" => new DocDedup(spark, tracer, dir, a.seed, tiny)
      case "dedup_stream" => new DedupStream(spark, tracer, dir, a.seed, tiny)
      case "graph_iter" => new GraphIter(spark, tracer, dir, a.seed, tiny)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  final class Loop(w: Workload, spark: SparkSession, a: Args) {
    var attempted, failed = 0
    var opIndex = 0
    /** Seconds spent in timed operations, failed ones included. */
    var busy = 0.0
    val errors = mutable.ArrayBuffer[String]()
    private val refs = mutable.Map[Int, String]()
    private val timer = new java.util.Timer("perfbench-watchdog", true)

    /** Checks one output: the independent check when its position in the
      * group is new, digest equality with the first correct output at that
      * position after. */
    def verify(i: Int, out: w.Out): Seq[String] = {
      val d = w.digest(out)
      val key = i % w.opsPerGroup
      refs.get(key) match {
        case Some(ref) => if (ref == d) Nil else Seq(s"op $i: digest $d differs from $ref")
        case None =>
          val errs = w.check(i, out)
          if (errs.isEmpty) refs(key) = d
          errs.map(e => s"op $i: $e")
      }
    }

    /** Runs operations until `seconds` of timed work are done (at least
      * `minOps`, and up to a group's end); returns (index, latency) of
      * each correct operation. */
    def measure(seconds: Double, minOps: Int, sampleHeap: () => Unit): Seq[(Int, Double)] = {
      val lat = mutable.ArrayBuffer[(Int, Double)]()
      val start = busy
      var n = 0
      while (busy - start < seconds || n < minOps || opIndex % w.opsPerGroup != 0) {
        val i = opIndex
        opIndex += 1
        n += 1
        attempted += 1
        w.beforeOp(i)
        @volatile var timedOut = false
        val task = new java.util.TimerTask {
          def run(): Unit = { timedOut = true; spark.sparkContext.cancelAllJobs(); w.abort() }
        }
        timer.schedule(task, OpTimeoutMs)
        val t0 = System.nanoTime()
        val res = try {
          if (a.inject == "exception" && i == 1) throw new IllegalStateException("injected failure")
          Right(w.op(i))
        } catch { case NonFatal(e) => Left(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        task.cancel()
        busy += dt
        val errs = res match {
          case Left(e) => Seq(s"op $i: ${if (timedOut) "timeout" else "exception"} ${e.getClass.getName}: ${e.getMessage}")
          case Right(out) =>
            val o = if (a.inject == "tamper" && i == 1) w.tamper(out) else out
            if (timedOut) Seq(s"op $i: timeout") else verify(i, o)
        }
        if (errs.isEmpty) lat += (i -> dt)
        else { failed += 1; errors ++= errs.take(3) }
        if ((i + 1) % w.opsPerGroup == 0) {
          // a collection costs most of a second: the live heap is flat, so
          // sample at doubling intervals and at the end
          val groups = (i + 1) / w.opsPerGroup
          val last = busy - start >= seconds && n >= minOps
          if (last || (groups & (groups - 1)) == 0) sampleHeap()
        }
        w.afterOp(i)
      }
      lat.toSeq
    }

    def close(): Unit = timer.cancel()
  }

  /** Heap in use after a full collection, summed over the heap pools
    * (their collection usage), in MB. Spark's ContextCleaner frees the
    * blocks of unreachable checkpoints only after a collection has
    * enqueued them, so it gets a moment and a second collection. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it,
    * or None with fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val p = ((s.size - 10) * 100) / s.size
      Some(p -> s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def run(spark: SparkSession, a: Args, sessionS: Double): Unit = {
    val tracer = new Tracer(spark)
    val w = workload(spark, a, tracer)
    val loop = new Loop(w, spark, a)
    try {
      // set-up = session start + data preparation (several times, median)
      // + the warm-up, which pays the cold JIT and code generation
      def seconds(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      val reps = (0 until SetupReps).map(r => seconds(w.prepare(r)))
      val warmS = seconds(w.warmUp())
      val setupS = sessionS + median(reps) + warmS
      var heapPeak = 0.0
      val sample = () => heapPeak = math.max(heapPeak, liveHeapMb())
      val minOps = 3
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) {
          val lat = loop.measure(a.seconds, minOps, sample)
          val secs = lat.map(_._2)
          println(f"setup: session $sessionS%.3f s, data ${reps.map(r => f"$r%.3f").mkString(" ")} s, warm-up $warmS%.3f s")
          println(s"ops (s): ${secs.map(x => f"$x%.3f").mkString(" ")}")
          tail(secs).foreach { case (p, v) => println(s"op_tail_s p$p = $v s over ${secs.size} ops") }
          Seq(
            ("setup_s", setupS, "s"),
            ("rows_per_s", throughput(w, lat), "rows/s"),
            ("op_p50_s", median(secs), "s"),
            ("heap_live_peak_mb", heapPeak, "MB"))
        } else {
          // untraced and traced stretches alternate (one operation each, one
          // episode for a stream), so JIT drift cannot pose as overhead
          val plain, traced = mutable.ArrayBuffer[(Int, Double)]()
          var stretches = 0
          while (stretches < 4 || loop.busy < a.seconds) {
            val on = stretches % 2 == 1
            tracer.setEnabled(on)
            (if (on) traced else plain) ++= loop.measure(0, 1, () => ())
            stretches += 1
          }
          tracer.setEnabled(false)
          tracer.drain()
          val (rpsPlain, rpsTraced) = (throughput(w, plain.toSeq), throughput(w, traced.toSeq))
          val overhead = if (rpsTraced > 0) rpsPlain / rpsTraced - 1.0 else 0.0
          tracer.writeJson(a.out.resolve(s"spans-${a.workload}-${a.seed}.json"))
          val own = w.layerMetrics(tracer)
          val specific = own.map(m => m._1 -> m).toMap
          val passes = math.max(1, traced.size).toDouble
          val common = Map(
            "plans.plan_s" -> ("plans.plan_s", tracer.planSeconds / passes, "s"),
            "trace.overhead_frac" -> ("trace.overhead_frac", overhead, "ratio"))
          val extraNames = Extras.map(_._1).toSet
          tracer.spanMetrics(Spans ++ w.ownSpans) ++ Extras.map { case (n, u) =>
            specific.get(n).orElse(common.get(n)).getOrElse((n, 0.0, u))
          } ++ own.filterNot(m => extraNames(m._1))
        }
      val failedFrac = if (loop.attempted == 0) 1.0 else loop.failed.toDouble / loop.attempted
      loop.errors.take(10).foreach(e => println(s"FAILED $e"))
      metrics.foreach { case (n, v, u) => println(s"metric $n = $v $u") }
      println(s"metric failed_frac = $failedFrac ratio (${loop.failed} of ${loop.attempted})")
      val body = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": ${loop.failed == 0 && loop.attempted > 0}, "attempted": ${loop.attempted}, """ +
        s""""failed": ${loop.failed}, "metrics": {$body}}""")
    } finally {
      loop.close()
      w.abort()
    }
  }

  /** Input rows per second, the median over groups (a pass, or a
    * stream's episode) of the rows of a group's correct operations over
    * their time. A failed operation's rows and time are both left out. */
  def throughput(w: Workload, lat: Seq[(Int, Double)]): Double =
    median(lat.groupBy(_._1 / w.opsPerGroup).values.map(g => w.rowsPerOp * g.size / g.map(_._2).sum).toSeq)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def dirFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toLong
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}
