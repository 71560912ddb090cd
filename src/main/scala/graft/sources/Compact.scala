package graft.sources

import org.apache.spark.sql.SparkSession

/** Small-files compaction — the unglamorous operator every long-lived
  * 100 TB store needs: streaming ingest, incremental appends
  * (DocPipeline.streamIncremental's signature store) and per-batch
  * writes accumulate kilobyte parquet files whose footer/open cost
  * eventually dominates scans.
  *
  * `compactTo` rewrites a parquet directory into ~`targetBytes` files:
  * file count is computed from the ACTUAL on-disk bytes (FS listing,
  * not a row-count guess, so wide and narrow tables both land near the
  * target), `repartition(n)` round-robins rows for balanced output, and
  * partition columns are preserved by writing with the same
  * `partitionBy`. Output goes to a NEW directory — rewriting a
  * directory while reading it is undefined behavior on plain
  * parquet; atomic in-place compaction needs a commit-protocol table
  * format, which is exactly what this helper is not pretending to be. */
object Compact {

  /** Total bytes of data files under `path` (recursive, dotfiles and
    * _SUCCESS markers excluded). */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) total += f.getLen
    }
    total
  }

  /** @return the number of output files written (0 = AQE-sized: with
    * partition columns the file count is decided at runtime, see below)
    *
    * Partitioned output is REBALANCED on the partition columns, not
    * round-robined: `repartition(n)` scatters every partition value
    * across all n tasks, so `partitionBy` would re-explode the output
    * into n × values files — compaction that manufactures the very
    * small files it exists to remove (the Ivf.writeCells argument). The
    * rebalance clusters rows by partition value while AQE sizes the
    * shuffle output to `targetBytes` (scoped advisory), splitting
    * skewed values instead of bottlenecking one writer. */
  def compactTo(spark: SparkSession, inPath: String, outPath: String,
                targetBytes: Long = 128L << 20,
                partitionCols: Seq[String] = Nil): Int = {
    require(targetBytes > 0, s"targetBytes=$targetBytes must be positive")
    val df = spark.read.parquet(inPath)
    if (partitionCols.isEmpty) {
      val n = math.max(1, math.ceil(dataBytes(spark, inPath).toDouble / targetBytes).toInt)
      df.repartition(n).write.mode("overwrite").parquet(outPath)
      n
    } else {
      import org.apache.spark.sql.functions.col
      val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, targetBytes.toString)
      try df.hint("rebalance", partitionCols.map(col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outPath)
      finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      0
    }
  }
}
