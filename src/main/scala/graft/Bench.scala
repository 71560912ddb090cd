package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Driver-run benchmark: every declared query at SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Measurement is a `noop`-sink write, not count(): count() lets Catalyst
  * prune every computed column (q_scan_project would time a metadata-only
  * scan), while noop materializes the full result rows without sink IO —
  * the honest per-operator cost. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: absorb session/codegen startup AND warm the table
    // scans — otherwise the alphabetically-first query pays ~3-4 s of
    // first-touch cost that belongs to no query (measured, SURVEY §7.1)
    spark.range(1000000L).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    Seq("lineitem", "orders", "customer", "part", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
    }
    // median of `reps` runs per query, all within this one JVM: the box
    // shares load (±50% run-to-run, SURVEY §7.1 #7), so a single sample
    // is noise — medians make round-over-round deltas signal
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // regime sentinel (VERDICT r16 #4): a fixed trivial scan+agg timed
    // exactly like a query, before AND after the suite — its time moves
    // with the box regime (112–167 s same-code total swings) and with
    // nothing we ship, so bench_medians.py divides per-query times by
    // it to separate code regressions from regime. Recorded per line
    // alongside the 1-min load average.
    def sentinelOnce(): Double = {
      val t0 = System.nanoTime()
      try spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("sum(l_quantity)", "sum(l_extendedprice)")
        .write.format("noop").mode("overwrite").save()
      catch {
        case NonFatal(_) =>
          spark.range(100000000L).selectExpr("sum(id * 3)")
            .write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    def sentinelMedian(): Double = {
      val s = (1 to 3).map(_ => sentinelOnce()).sorted; s(1)
    }
    val sentPre = sentinelMedian()
    // local A/B iteration only (driver never sets it): comma-separated
    // query names to bench instead of the full contract
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // run-order offsets (VERDICT r18 #3): each query's elapsed seconds
    // since suite start rides the history line, so bench_medians.py can
    // regress regime against run POSITION and self-adjudicate the
    // letter-cluster class (a mid-run busy window inflates a
    // time-contiguous span; without offsets that adjudication took a
    // judge reading four same-code runs)
    val suiteT0 = System.nanoTime()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val off = (System.nanoTime() - suiteT0) / 1e9
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case NonFatal(e) => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (name, times(times.length / 2), off)
    }
    val offsets = results.map(r => r._1 -> r._3)
    val total = results.map(_._2).sum
    // the regime can shift MID-run: sample the sentinel again after the
    // suite and record the mean of the two medians (plus load average,
    // so quiet-window adjudication reads off the history line itself)
    val sentPost = sentinelMedian()
    val sentinel = (sentPre + sentPost) / 2
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def line(rs: Seq[(String, Double)], fmt: Double => String,
             note: String = "", withOffsets: Boolean = false): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // offsets ride the FULL line only (the compact line has a char
      // budget; the medians tool reads history, not the tail)
      val offs = if (!withOffsets) "" else offsets
        .map { case (k, v) => "\"" + k + "\":" + "%.1f".format(v) }
        .mkString(""""offsets":{""", ",", "},")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""sentinel":${"%.3f".format(sentinel)},""" +
        s""""sentinel_pre":${"%.3f".format(sentPre)},""" +
        s""""sentinel_post":${"%.3f".format(sentPost)},""" +
        s""""load":${"%.2f".format(load)},""" +
        (if (note.isEmpty) "" else s""""note":"$note",""") +
        offs +
        s""""queries":$qs,"sf":"$sfDir"}"""
    }
    // Full precision goes to files (and stdout, first): the driver's
    // 2000-char stdout tail cannot hold 230 queries at any precision,
    // so BENCH_r*.json's parsed block is inherently partial — the
    // complete per-query medians live in bench_full.json (latest run)
    // and BENCH_HISTORY.jsonl (one appended line per full run, so
    // round-over-round per-query diffs read ONE file). Only an
    // UNFILTERED run may write the artifacts — a BENCH_ONLY
    // spot-check would otherwise clobber/pollute the full medians.
    val full = line(results.map(r => r._1 -> r._2), _.toString,
      withOffsets = true)
    if (only.isEmpty)
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
          (full + "\n").getBytes("UTF-8"))
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
          (full + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
      catch { case NonFatal(e) => System.err.println(s"[bench] file write failed: $e") }
    println(full)
    // Compact line LAST so it lands fully inside the driver's tail
    // window (json.loads-able). 2-decimal values; if the query count
    // ever pushes past the budget, keep the slowest queries (the ones
    // worth grading) and drop the fastest until it fits. Budget leaves
    // room for sbt's trailing "[success] Total time: ..." line.
    val budget = 1700
    def fmt2(v: Double): String = "%.2f".format(v)
    // VERDICT r17 #4: the truncated dict read as "these are all the
    // queries" — say what it is, right in the artifact
    def noteFor(n: Int): String =
      if (n == results.size) ""
      else s"slowest $n of ${results.size}; full dict in BENCH_HISTORY.jsonl"
    var kept = results.map(r => r._1 -> r._2).sortBy(-_._2)
    var compact = line(kept.sortBy(_._1), fmt2, noteFor(kept.size))
    while (compact.length > budget && kept.nonEmpty) {
      kept = kept.dropRight(math.max(1, kept.length / 10))
      compact = line(kept.sortBy(_._1), fmt2, noteFor(kept.size))
    }
    println(compact)
    spark.stop()
  }
}
