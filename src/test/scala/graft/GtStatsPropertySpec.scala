package graft

import org.apache.spark.sql.Row
import graft.core.VariantSchema
import graft.operators.{Filters, Stats}
import scala.util.Random

/** Property tests (seeded-random, SURVEY.md §5.2(3)): the codegen'd
  * gt_stats expression must agree with the interpreted HOF kernels on
  * arbitrary genotype matrices, and the domain invariants must hold. */
class GtStatsPropertySpec extends SparkTestBase {

  import scala.jdk.CollectionConverters._

  /** Random gt matrix: 0-12 samples, ploidy 1-4, alleles in {-1,0,1,2}
    * weighted toward called hom-ref. */
  private def randVariants(rnd: Random, n: Int): Seq[Seq[Seq[Int]]] =
    (0 until n).map { _ =>
      val nSamples = rnd.nextInt(13)
      val ploidy = 1 + rnd.nextInt(4)
      Seq.fill(nSamples)(Seq.fill(ploidy) {
        val r = rnd.nextInt(100)
        if (r < 5) -1 else if (r < 50) 0 else if (r < 85) 1 else 2
      })
    }

  private def mkDf(variants: Seq[Seq[Seq[Int]]]) = {
    val rows = variants.zipWithIndex.map { case (gt, i) =>
      Row("chr1", i.toLong, s"v$i", "A", Seq("T", "G"), 50.0, gt,
        gt.map(_ => 10), gt.map(_ => 99.0), null, null)
    }
    spark.createDataFrame(rows.asJava, VariantSchema.schema)
  }

  test("codegen gt_stats ≡ interpreted HOF kernels on random matrices") {
    for (seed <- 1 to 8) {
      val df = mkDf(randVariants(new Random(seed), 25))
      val fast = Stats.variantStats(df).orderBy("pos").collect()
      val slow = Stats.variantStatsHof(df).orderBy("pos").collect()
      assert(fast.length === slow.length)
      fast.zip(slow).foreach { case (f, h) =>
        for (c <- Seq("call_rate", "maf", "obs_het", "exp_het")) {
          val a = f.getAs[Double](c); val b = h.getAs[Double](c)
          assert(a.isNaN && b.isNaN || math.abs(a - b) < 1e-12,
            s"seed=$seed $c: $a vs $b @ ${f.getString(2)}")
        }
        for (c <- Seq("n_called", "n_missing", "mac", "n_alleles_obs"))
          assert(f.getAs[Long](c) === h.getAs[Long](c), s"seed=$seed $c @ ${f.getString(2)}")
        assert(f.getAs[scala.collection.Seq[Long]]("allele_counts") === h.getAs[scala.collection.Seq[Long]]("allele_counts"),
          s"seed=$seed counts @ ${f.getString(2)}")
      }
    }
  }

  test("invariant: 0 < maf <= 1 when defined; counts non-negative, major <= total") {
    for (seed <- 10 to 14) {
      val stats = Stats.variantStats(mkDf(randVariants(new Random(seed), 20))).collect()
      stats.foreach { r =>
        val counts = r.getAs[scala.collection.Seq[Long]]("allele_counts")
        val maf = r.getAs[Double]("maf")
        if (!maf.isNaN) {
          assert(maf > 0.0 && maf <= 1.0, s"seed=$seed maf=$maf")
          assert(counts.forall(_ >= 0L) && counts.max <= counts.sum)
        } else assert(counts.sum === 0L, s"seed=$seed NaN maf but counts=$counts")
      }
    }
  }

  test("invariant: masking never increases call rate (random thresholds)") {
    for (seed <- 20 to 24) {
      val rnd = new Random(seed)
      val df = mkDf(randVariants(rnd, 15))
      val minDp = rnd.nextInt(61)
      val before = Stats.variantStats(df).select("pos", "call_rate").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val after = Stats.variantStats(Filters.maskByDepth(df, minDp)).select("pos", "call_rate")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      before.foreach { case (pos, b) =>
        val a = after(pos)
        assert(a.isNaN && b.isNaN || a <= b + 1e-12, s"seed=$seed pos $pos: $b -> $a")
      }
    }
  }

  test("codegen MaskGt ≡ HOF zip_with masking on random matrices") {
    import org.apache.spark.sql.functions._
    import graft.functions.{GenotypeKernels, MaskGt}
    for (seed <- 40 to 44) {
      val rnd = new Random(seed)
      val df = mkDf(randVariants(rnd, 20))
        .withColumn("dp", transform(col("gt"), _ => lit(rnd.nextInt(40)).cast("int")))
      val thr = rnd.nextInt(40)
      val fast = df.select(col("pos"), MaskGt.of(col("gt"), col("dp"), thr.toDouble).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[scala.collection.Seq[Int]](1)).toMap
      val slow = df.select(col("pos"), GenotypeKernels.maskGtByDepth(col("gt"), col("dp"), thr).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[scala.collection.Seq[Int]](1)).toMap
      assert(fast.keySet === slow.keySet, s"seed=$seed")
      fast.keySet.foreach { k =>
        assert(fast(k).map(_.toSeq) === slow(k).map(_.toSeq), s"seed=$seed pos=$k thr=$thr")
      }
    }
  }

  test("null tolerance: null sample arrays / null allele entries count as no-call, never as ref") {
    import org.apache.spark.sql.functions._
    import graft.functions.{GtStats, MaskGt}
    // SQL-built gt columns carry containsNull=true at both levels; a
    // null slot read as getInt would silently count allele 0
    val df = spark.sql(
      """SELECT 1L AS pos, array(array(0, 1), CAST(null AS array<int>),
        |  array(0, CAST(null AS int)), array(1, 1)) AS gt,
        |  array(10, 10, 10, 10) AS dp""".stripMargin)
    val r = df.select(GtStats.of(col("gt"), lit(2)).as("s")).head().getStruct(0)
    // called: samples 0 and 3 only (null array and null allele skip)
    assert(r.getLong(1) === 2L, s"called=${r.getLong(1)}")
    assert(r.getLong(2) === 1L)                         // het: sample 0
    // allele counts include PARTIAL calls' observed alleles (the
    // established -1 semantics): sample 2's observed 0 counts even
    // though its null slot marks the call missing
    assert(r.getSeq[Long](3) === Seq(2L, 3L))
    // MaskGt: null sample stays null (the zip_with twin), masked sibling -1s
    val m = df.select(MaskGt.of(col("gt"), col("dp"), 50.0).as("m"))
      .head().getSeq[scala.collection.Seq[Int]](0)
    assert(m(1) == null)
    assert(m(0).toSeq === Seq(-1, -1))
  }

  test("MaskGt rejects a float metric at analysis time instead of reading garbage widths") {
    import org.apache.spark.sql.functions._
    import graft.functions.MaskGt
    val df = spark.sql(
      "SELECT array(array(0, 1)) AS gt, array(CAST(1.5 AS FLOAT)) AS gq")
    val e = intercept[Exception] {
      df.select(MaskGt.of(col("gt"), col("gq"), 30.0)).collect()
    }
    assert(e.getMessage.contains("array<int>") || e.getMessage.contains("DATATYPE"),
      e.getMessage)
  }

  test("majorAlleleFreqByDepth: monomorphic variant (no alts) reads freq 1.0, not an index crash") {
    import org.apache.spark.sql.functions._
    import graft.functions.GenotypeKernels
    val df = spark.sql(
      "SELECT array(array(4), array(6)) AS ao0, array(8, 2) AS ro, 0 AS n_alt")
    val f = df.select(GenotypeKernels.majorAlleleFreqByDepth(
      col("ao0"), col("ro"), col("n_alt")).as("f")).head().getDouble(0)
    assert(f === 1.0)
  }

  test("OuterSumAgg merge rejects transposed block shapes (same length, different [nl,nr])") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.{DenseSumAgg, GramianAgg, OuterSumAgg, ProjOuterAgg, VecSumAgg}
    val one = Literal(1)
    val a = Array(2.0, 3.0) ++ Array.fill(6)(1.0)
    val b = Array(3.0, 2.0) ++ Array.fill(6)(1.0)
    val agg = OuterSumAgg(one, one)
    val e = intercept[IllegalArgumentException] {
      agg.merge(a.clone(), b.clone())
    }
    assert(e.getMessage.contains("outer_sum: block shape (3,2) != established (2,3)"), e.getMessage)
    // matching shapes merge fine
    val ok = agg.merge(a.clone(), a.clone())
    assert(ok.drop(2).forall(_ === 2.0))
    // and every dense sum aggregate rejects a buffer of another length,
    // naming itself
    val table = Seq[(String, DenseSumAgg, Array[Double], Array[Double])](
      ("vec_sum", VecSumAgg(one), Array.fill(2)(1.0), Array.fill(3)(1.0)),
      ("gramian", GramianAgg(one), Array.fill(3)(1.0), Array.fill(6)(1.0)),
      ("outer_sum", OuterSumAgg(one, one),
        Array(2.0, 1.0) ++ Array.fill(2)(1.0), Array(2.0, 2.0) ++ Array.fill(4)(1.0)),
      ("proj_outer", ProjOuterAgg(one, Array.fill(2)(1.0), 2, 1),
        Array.fill(2)(1.0), Array.fill(4)(1.0)))
    for ((name, dense, x, y) <- table) {
      val err = intercept[IllegalArgumentException](dense.merge(x, y))
      assert(err.getMessage.startsWith(s"requirement failed: $name: buffer "), err.getMessage)
    }
  }

  test("GramianAgg / OuterSumAgg layout decoders ≡ a plain dense matrix product on ragged shapes") {
    import graft.functions.{GramianAgg, OuterSumAgg}
    import org.apache.spark.sql.functions.col
    val rnd = new Random(11)
    for ((nl, nr) <- Seq((1, 1), (1, 4), (3, 2), (5, 7))) {
      // small integer entries: every product sum is exact in doubles
      val rows = Seq.fill(6)((Seq.fill(nl)(rnd.nextInt(5) - 2.0), Seq.fill(nr)(rnd.nextInt(5) - 2.0)))
      val agg = spark.createDataFrame(rows).toDF("l", "r")
        .agg(GramianAgg.of(col("l")), OuterSumAgg.of(col("l"), col("r"))).head()
      val tri = agg.getSeq[Double](0).toArray
      val blk = agg.getSeq[Double](1).toArray
      assert(GramianAgg.width(tri.length) === nl)
      assert(OuterSumAgg.shape(blk) === ((nl, nr)))
      for (i <- 0 until nl; j <- i until nl)
        assert(tri(GramianAgg.index(nl, i, j)) === rows.map { case (l, _) => l(i) * l(j) }.sum,
          s"gramian ($i,$j) of $nl")
      for (i <- 0 until nl; j <- 0 until nr)
        assert(OuterSumAgg.entry(blk, i, j) === rows.map { case (l, r) => l(i) * r(j) }.sum,
          s"outer ($i,$j) of ${nl}x$nr")
    }
  }

  test("invariant: filter stats partition the input (N_KEPT + N_OUT = N)") {
    for (seed <- 30 to 34) {
      val rnd = new Random(seed)
      val variants = randVariants(rnd, 20)
      val df = mkDf(variants)
      val r = Filters(df, Filters.byCallRate(rnd.nextDouble()))
      assert(r.stats.total === variants.length.toLong, s"seed=$seed")
      assert(r.kept.count() === r.stats.nKept, s"seed=$seed")
    }
  }
}
