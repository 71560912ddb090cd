package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.OuterSumAgg
import graft.functions.GenotypeKernels.{classIndicators, dosages}

/** Blocked pairwise-count store — the biobank-width escalation for
  * [[Stats.ibsGramian]] and [[Stats.kingGramian]], whose ~3·s² doubles
  * of driver-side aggregate state cap them at s ≈ 9k samples. Both
  * statistics are linear combinations of the SAME twelve dosage-class
  * outer-product matrices (classes R = 1[dos=0], H = 1[dos=1],
  * A = 1[dos=2], C = 1[called]):
  *
  *   IBS:  num = 2(O_RR + O_HH + O_AA) + O_RH + O_HR + O_HA + O_AH
  *         den = 2·O_CC
  *   KING: n_hethet = O_HH      n_opp   = O_RA + O_AR
  *         n_het_i  = O_HC      n_het_j = O_CH
  *
  * so ONE store serves both consumers. The cohort is split into
  * ⌈S/blockSize⌉ sample blocks; the indicator slices are materialized
  * ONCE as a column-per-(class, block) parquet (each block-pair job
  * then reads exactly its needed columns via parquet column pruning —
  * no shuffle, no replication), and each of the B(B+1)/2 block-pair
  * jobs computes its twelve [[OuterSumAgg]] matrices in ONE scan
  * (diagonal pairs compute eight and derive the four transposes
  * driver-side — within a block, O_XYᵀ = O_YX). Blocks append as one
  * parquet row PER BLOCK ROW ((bi, bj, i, j0, twelve ≤blockSize
  * value arrays) — the [[Kinship.grmBlocksWrite]] row shape, sized so
  * the vectorized reader batches happily).
  *
  * Peak memory anywhere = 12 blockSize² double buffers per in-flight
  * aggregation task (96 MB at the 1024 default — local[N] runs N
  * tasks in one heap, so the single box wants modest blocks; a real
  * cluster spreads tasks across executors and takes 2048-4096). The
  * driver holds one block pair's matrices at a time. Jobs are
  * independent — a crash resumes at the first missing block pair.
  * Indicator products are exact small integers in doubles, so the
  * assembled counts equal the exploded/gramian twins verbatim
  * (GenotypeKernelsSpec pins both differentials on ragged blocks). */
object PairBlocks {

  private val terms = Seq(
    "t00" -> ("r", "r"), "t11" -> ("h", "h"), "t22" -> ("a", "a"),
    "tcc" -> ("c", "c"), "t01" -> ("r", "h"), "t10" -> ("h", "r"),
    "t12" -> ("h", "a"), "t21" -> ("a", "h"), "t02" -> ("r", "a"),
    "t20" -> ("a", "r"), "t1c" -> ("h", "c"), "tc1" -> ("c", "h"))

  // within one block, the transpose of a stored cross term
  private val diagTranspose =
    Map("t10" -> "t01", "t21" -> "t12", "t20" -> "t02", "tc1" -> "t1c")

  /** Writes the blocked indicator parquet + the twelve-term block-pair
    * store under `outPath`. Returns (S, nBlocks). */
  def write(df: DataFrame, outPath: String, gtCol: String = "gt",
            blockSize: Int = 1024): (Int, Int) = {
    require(blockSize >= 1, s"blockSize=$blockSize must be >= 1")
    val spark = df.sparkSession
    val blocksPath = new org.apache.hadoop.fs.Path(s"$outPath/blocks")
    val fs = blocksPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(blocksPath)) fs.delete(blocksPath, true) // stale re-run
    val dosed = df.select(dosages(col(gtCol)).as("_dos"))
    val classes = Seq("r", "h", "a", "c").zip(classIndicators(col("_dos")))
    val s = dosed.select(size(col("_dos"))).head().getInt(0)
    val nb = (s + blockSize - 1) / blockSize
    val blockCols = for ((name, c) <- classes; b <- 0 until nb) yield {
      val w = math.min(blockSize, s - b * blockSize)
      slice(c, b * blockSize + 1, w).as(s"${name}_$b")
    }
    dosed.select(blockCols: _*).write.mode("overwrite").parquet(s"$outPath/ind")
    val z = spark.read.parquet(s"$outPath/ind")
    val rowSchema = StructType(
      Seq(StructField("bi", IntegerType, nullable = false),
        StructField("bj", IntegerType, nullable = false),
        StructField("i", IntegerType, nullable = false),
        StructField("j0", IntegerType, nullable = false),
        StructField("block_size", IntegerType, nullable = false)) ++
        terms.map { case (t, _) =>
          StructField(t, ArrayType(DoubleType, containsNull = false), nullable = false)
        })
    for (i <- 0 until nb; j <- i until nb) {
      val nl = math.min(blockSize, s - i * blockSize)
      val nr = math.min(blockSize, s - j * blockSize)
      val jobTerms =
        if (i == j) terms.filterNot { case (t, _) => diagTranspose.contains(t) }
        else terms
      val row = z.agg(
        jobTerms.head match { case (t, (l, r)) =>
          OuterSumAgg.of(col(s"${l}_$i"), col(s"${r}_$j")).as(t) },
        jobTerms.tail.map { case (t, (l, r)) =>
          OuterSumAgg.of(col(s"${l}_$i"), col(s"${r}_$j")).as(t) }: _*)
        .head()
      val mats: Map[String, Array[Double]] = jobTerms.zipWithIndex.map {
        case ((t, _), idx) => t -> row.getSeq[Double](idx).toArray
      }.toMap
      def entry(t: String, r: Int, c: Int): Double =
        if (mats.contains(t)) OuterSumAgg.entry(mats(t), r, c)
        else OuterSumAgg.entry(mats(diagTranspose(t)), c, r) // diag: O_XYᵀ(r,c) = O_YX(c,r)
      val rows = new java.util.ArrayList[Row](nl)
      var r = 0
      while (r < nl) {
        val vals = terms.map { case (t, _) =>
          Array.tabulate(nr)(c => entry(t, r, c)).toSeq }
        rows.add(Row(Seq(i, j, r, 0, blockSize) ++ vals: _*))
        r += 1
      }
      spark.createDataFrame(rows, rowSchema)
        .write.mode("append").parquet(s"$outPath/blocks")
    }
    (s, nb)
  }

  /** Long-form IBS view of a [[write]] store — output contract ≡
    * [[Stats.ibsPairs]]/[[Stats.ibsGramian]]. Map-only: the linear
    * combination runs elementwise over the stored row arrays BEFORE the
    * explode (zip_with chains — no shuffle anywhere), and the diagonal
    * blocks' lower triangles are filtered out post-explode. */
  def ibsFromBlocks(spark: SparkSession, outPath: String): DataFrame = {
    def z2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      zip_with(a, b, (x, y) => x + y)
    val numExact = zip_with(
      z2(z2(col("t00"), col("t11")), col("t22")),
      z2(z2(col("t01"), col("t10")), z2(col("t12"), col("t21"))),
      (sym, cross) => sym * 2 + cross)
    val paired = zip_with(numExact, col("tcc"), (n, c) =>
      struct(n.cast("long").as("num"), (c * 2).cast("long").as("den")))
    spark.read.parquet(s"$outPath/blocks")
      .select(
        (col("bi").cast("long") * col("block_size") + col("i")).as("si"),
        (col("bj").cast("long") * col("block_size") + col("j0")).as("sj0"),
        posexplode(paired))
      .filter(col("sj0") + col("pos") > col("si"))
      .select(col("si").cast("int").as("si"),
        (col("sj0") + col("pos")).cast("int").as("sj"),
        col("col.num").as("ibs_num"), col("col.den").as("ibs_den"))
  }

  /** Long-form KING view of a [[write]] store — output contract ≡
    * [[Stats.kingPairs]]/[[Stats.kingGramian]]. Map-only, same shape as
    * [[ibsFromBlocks]]. */
  def kingFromBlocks(spark: SparkSession, outPath: String): DataFrame = {
    val paired = zip_with(
      zip_with(col("t11"), zip_with(col("t02"), col("t20"), (x, y) => x + y),
        (hh, opp) => struct(hh.as("hh"), opp.as("opp"))),
      zip_with(col("t1c"), col("tc1"), (x, y) => struct(x.as("hi"), y.as("hj"))),
      (a, b) => struct(
        a.getField("hh").cast("long").as("hh"),
        a.getField("opp").cast("long").as("opp"),
        b.getField("hi").cast("long").as("hi"),
        b.getField("hj").cast("long").as("hj")))
    spark.read.parquet(s"$outPath/blocks")
      .select(
        (col("bi").cast("long") * col("block_size") + col("i")).as("si"),
        (col("bj").cast("long") * col("block_size") + col("j0")).as("sj0"),
        posexplode(paired))
      .filter(col("sj0") + col("pos") > col("si"))
      .select(col("si").cast("int").as("si"),
        (col("sj0") + col("pos")).cast("int").as("sj"),
        col("col.hh").as("n_hethet"), col("col.opp").as("n_opp"),
        col("col.hi").as("n_het_i"), col("col.hj").as("n_het_j"))
      .withColumn("phi", when(col("n_het_i") + col("n_het_j") > 0,
        (col("n_hethet") - col("n_opp") * 2L).cast("double") /
          (col("n_het_i") + col("n_het_j")).cast("double")))
  }

  /** [[Stats.ibsPairs]] with the width auto-switch: exploded pairs for
    * narrow cohorts, one-pass gramian to the driver envelope, blocked
    * store beyond (a scratch dir deleted at JVM exit unless `tmpPath`
    * is given — production callers pass a real path; the store IS the
    * artifact at that width). */
  def ibsAuto(df: DataFrame, gtCol: String = "gt",
              maxExplodedSamples: Int = 1024, maxDriverSamples: Int = 9000,
              blockSize: Int = 1024, tmpPath: Option[String] = None): DataFrame = {
    val s = df.select(size(col(gtCol))).head().getInt(0)
    if (s <= maxExplodedSamples) Stats.ibsPairs(df, gtCol)
    else if (s <= maxDriverSamples) Stats.ibsGramian(df, gtCol)
    else {
      val path = tmpPath.getOrElse(
        graft.core.Checkpoints.scratchDir("pair_blocks").toString)
      write(df, path, gtCol, blockSize)
      ibsFromBlocks(df.sparkSession, path)
    }
  }
}
