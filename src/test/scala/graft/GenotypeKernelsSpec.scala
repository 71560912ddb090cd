package graft

import org.apache.spark.sql.functions._
import graft.operators.Stats

/** Golden-value tests for every genotype kernel — FIXTURES.md §B.2. */
class GenotypeKernelsSpec extends SparkTestBase {

  private lazy val stats = Stats.variantStats(GoldenFixture.df(spark)).cache()

  test("call rate") {
    val g = GoldenFixture.byId[Double](stats, "call_rate")
    assertNear(g("v1"), 1.0); assertNear(g("v2"), 0.75); assertNear(g("v3"), 0.75)
    assertNear(g("v4"), 1.0); assertNear(g("v5"), 0.0); assertNear(g("v6"), 1.0)
  }

  test("called / missing counts partition the sample axis") {
    val called = GoldenFixture.byId[Long](stats, "n_called")
    val missing = GoldenFixture.byId[Long](stats, "n_missing")
    for (v <- Seq("v1", "v2", "v3", "v4", "v5", "v6"))
      assert(called(v) + missing(v) === 4L, s"$v")
    assert(called("v2") === 3L && missing("v5") === 4L)
  }

  test("allele counts (the workhorse kernel)") {
    val g = GoldenFixture.byId[Seq[Long]](stats, "allele_counts")
    assert(g("v1") === Seq(5L, 3L))
    assert(g("v2") === Seq(6L, 0L))
    assert(g("v3") === Seq(1L, 2L, 3L))
    assert(g("v4") === Seq(4L, 4L))
    assert(g("v5") === Seq(0L, 0L))
    assert(g("v6") === Seq(1L, 7L))
  }

  test("major allele frequency (MAF)") {
    val g = GoldenFixture.byId[Double](stats, "maf")
    assertNear(g("v1"), 0.625); assertNear(g("v2"), 1.0); assertNear(g("v3"), 0.5)
    assertNear(g("v4"), 0.5); assertNear(g("v5"), Double.NaN); assertNear(g("v6"), 0.875)
  }

  test("MAC = second-most-frequent allele count (pinned definition)") {
    val g = GoldenFixture.byId[Long](stats, "mac")
    assert(g("v1") === 3L); assert(g("v2") === 0L)
    assert(g("v3") === 2L) // multi-allelic: second-most-frequent, NOT least (FIXTURES §B.2 footnote)
    assert(g("v4") === 4L); assert(g("v5") === 0L); assert(g("v6") === 1L)
  }

  test("observed heterozygosity") {
    val g = GoldenFixture.byId[Double](stats, "obs_het")
    assertNear(g("v1"), 0.25); assertNear(g("v2"), 0.0); assertNear(g("v3"), 2.0 / 3.0)
    assertNear(g("v4"), 1.0); assertNear(g("v5"), Double.NaN); assertNear(g("v6"), 0.25)
  }

  test("unbiased expected heterozygosity (Nei)") {
    val g = GoldenFixture.byId[Double](stats, "exp_het")
    assertNear(g("v1"), 0.535714, 1e-5); assertNear(g("v2"), 0.0)
    assertNear(g("v3"), 0.733333, 1e-5); assertNear(g("v4"), 0.571429, 1e-5)
    assertNear(g("v5"), Double.NaN); assertNear(g("v6"), 0.25)
  }

  test("depth-based MAF uses AO/RO (v1 only; null where fields absent)") {
    import graft.functions.GenotypeKernels
    val df = GoldenFixture.df(spark).select(
      col("id"),
      GenotypeKernels.majorAlleleFreqByDepth(col("ao"), col("ro"), size(col("alt"))).as("dmaf"))
    val rows = df.collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assertNear(rows("v1").get, 26.0 / 41.0, 1e-6)
    assert(rows("v2").isEmpty && rows("v5").isEmpty)
  }

  test("allele freqs sum to 1 where called") {
    val g = GoldenFixture.byId[Seq[Double]](stats, "allele_freqs")
    assertNear(g("v1").sum, 1.0); assertNear(g("v3").sum, 1.0)
    assert(g("v5").forall(_.isNaN))
  }

  test("HWE chi-square: perfect-HW counts → 0, all-het excess → n, monomorphic → NaN") {
    import spark.implicits._
    import graft.functions.GenotypeKernels
    // (AA, Aa, aa) = (1, 2, 1): p = 0.5, expected exactly (1, 2, 1) → chi2 = 0
    // 4 hets, 0 homs: p = 0.5, expected (1, 2, 1) → chi2 = 1 + 2 + 1 = 4
    // monomorphic (all AA): p = 1 → undefined
    val gts = Seq(
      ("hw0", Seq(Seq(0, 0), Seq(0, 1), Seq(1, 0), Seq(1, 1))),
      ("het4", Seq(Seq(0, 1), Seq(0, 1), Seq(0, 1), Seq(0, 1))),
      ("mono", Seq(Seq(0, 0), Seq(0, 0), Seq(0, 0), Seq(0, 0)))
    ).toDF("id", "gt")
    val out = gts.select(col("id"),
      GenotypeKernels.hweChi2FromClasses(
        GenotypeKernels.genotypeClassCounts(col("gt"))).as("chi2"),
      GenotypeKernels.inbreedingF(col("gt"), lit(2)).as("f"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assertNear(out("hw0")._1, 0.0)
    assertNear(out("het4")._1, 4.0)
    assert(out("mono")._1.isNaN)
    // F: hw0 obsHet 0.5 vs Nei-unbiased expHet (1-0.5)·8/7 = 4/7 → 1 − 7/8
    assertNear(out("hw0")._2, 1.0 - 0.5 / (0.5 * 8 / 7.0))
    assert(out("het4")._2 < 0)      // het excess → negative F
    assert(out("mono")._2.isNaN)
  }

  test("ibsPairs: identical samples 1.0, opposite homozygotes 0, missing excluded") {
    import spark.implicits._
    // 3 samples × 2 variants; s0 ≡ s1; s2 is opposite-hom of s0 at v1 and
    // missing at v2 (so its denominators drop to one variant)
    val df = Seq(
      ("v1", Seq(Seq(0, 0), Seq(0, 0), Seq(1, 1))),
      ("v2", Seq(Seq(0, 1), Seq(0, 1), Seq(-1, -1)))
    ).toDF("id", "gt")
    val got = Stats.ibsPairs(df, "gt")
      .as[(Int, Int, Long, Long)].collect().map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((0, 1)) === ((4L, 4L)))  // identical across both variants
    assert(got((0, 2)) === ((0L, 2L)))  // |0−2| at v1 → 0 shared; v2 skipped
    assert(got((1, 2)) === ((0L, 2L)))
  }

  test("ibsGramian ≡ ibsPairs (hand case + synthetic cohort with missing)") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val hand = Seq(
      ("v1", Seq(Seq(0, 0), Seq(0, 0), Seq(1, 1))),
      ("v2", Seq(Seq(0, 1), Seq(0, 1), Seq(-1, -1)))
    ).toDF("id", "gt")
    assert(asMap(Stats.ibsGramian(hand, "gt")) === asMap(Stats.ibsPairs(hand, "gt")))
    // 40 variants × 12 samples, ~5% missing, all dosage classes present
    val synth = Synth.synthGt(spark, 40L, 12)
      .localCheckpoint()
    val (g, p) = (asMap(Stats.ibsGramian(synth, "gt")), asMap(Stats.ibsPairs(synth, "gt")))
    assert(g.keySet === p.keySet && g.keySet.size === 12 * 11 / 2)
    assert(g === p)
  }

  test("kingPairs: MZ-twin φ=½, opposite-homs drive φ negative, missing excluded") {
    import spark.implicits._
    // s0 ≡ s1 (identical: hethet=het_i=het_j → φ=½); s2 opposite-hom of
    // s0 at v1/v3 and missing at v2 (shared support drops to 2 variants)
    val df = Seq(
      ("v1", Seq(Seq(0, 0), Seq(0, 0), Seq(1, 1))),
      ("v2", Seq(Seq(0, 1), Seq(0, 1), Seq(-1, -1))),
      ("v3", Seq(Seq(1, 1), Seq(1, 1), Seq(0, 0)))
    ).toDF("id", "gt")
    val got = Stats.kingPairs(df, "gt")
      .as[(Int, Int, Long, Long, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got((0, 1)) === ((1L, 0L, 1L, 1L, Some(0.5))))
    assert(got((0, 2)) === ((0L, 2L, 0L, 0L, None))) // no hets on shared support
    assert(got((1, 2)) === ((0L, 2L, 0L, 0L, None)))
  }

  test("kingGramian ≡ kingPairs (hand case + synthetic cohort with missing)") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long, Long, Long, Long, Option[Double])].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    val hand = Seq(
      ("v1", Seq(Seq(0, 0), Seq(0, 0), Seq(1, 1))),
      ("v2", Seq(Seq(0, 1), Seq(0, 1), Seq(-1, -1))),
      ("v3", Seq(Seq(1, 1), Seq(0, 1), Seq(0, 1)))
    ).toDF("id", "gt")
    assert(asMap(Stats.kingGramian(hand, "gt")) === asMap(Stats.kingPairs(hand, "gt")))
    val synth = Synth.synthGt(spark, 40L, 12)
      .localCheckpoint()
    val (g, p) = (asMap(Stats.kingGramian(synth, "gt")), asMap(Stats.kingPairs(synth, "gt")))
    assert(g.keySet === p.keySet && g.keySet.size === 12 * 11 / 2)
    // integer counts equal verbatim; φ is the same exact division on
    // both sides (double ratio of exact integers) → bit-equal too
    assert(g === p)
  }

  test("PairBlocks: blocked IBS + KING ≡ exploded twins on ragged blocks") {
    import spark.implicits._
    // 12 samples, blockSize 5 → blocks of 5/5/2 (ragged tail exercises
    // the header-driven widths); ~5% missing, all dosage classes
    val synth = Synth.synthGt(spark, 40L, 12)
      .localCheckpoint()
    withTempDir("pair_blocks") { tmp =>
      val path = tmp.toString
      val (s, nb) = graft.operators.PairBlocks.write(synth, path, "gt", blockSize = 5)
      assert(s === 12 && nb === 3)
      def ibsMap(df: org.apache.spark.sql.DataFrame) =
        df.select("si", "sj", "ibs_num", "ibs_den").as[(Int, Int, Long, Long)]
          .collect().map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      val (bi, pi) = (ibsMap(graft.operators.PairBlocks.ibsFromBlocks(spark, path)),
        ibsMap(Stats.ibsPairs(synth, "gt")))
      assert(bi.keySet === pi.keySet && bi.keySet.size === 12 * 11 / 2)
      assert(bi === pi)
      def kingMap(df: org.apache.spark.sql.DataFrame) =
        df.as[(Int, Int, Long, Long, Long, Long, Option[Double])].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
      val (bk, pk) = (kingMap(graft.operators.PairBlocks.kingFromBlocks(spark, path)),
        kingMap(Stats.kingPairs(synth, "gt")))
      assert(bk === pk)
      // auto-switch picks the exploded path at this width but the blocked
      // path under a forced tiny envelope
      val auto = ibsMap(graft.operators.PairBlocks.ibsAuto(synth, "gt",
        maxExplodedSamples = 4, maxDriverSamples = 8, blockSize = 5))
      assert(auto === pi)
    }
  }

  test("allelicTest: perfect separation → chi2 = N, null OR; balance → 0; missing excluded") {
    import spark.implicits._
    def gt(d: Int*) = d.map {
      case -1 => Seq(-1, -1)
      case 0  => Seq(0, 0)
      case 1  => Seq(0, 1)
      case 2  => Seq(1, 1)
    }
    // 6 samples: 0-2 cases, 3-5 controls
    val df = Seq(
      ("sep",  gt(2, 2, 2, 0, 0, 0)),   // a=6 b=0 c=0 d=6 → chi2=N=12, OR null
      ("bal",  gt(1, 1, 1, 1, 1, 1)),   // same freq both groups → det=0 → chi2=0, OR=1
      ("miss", gt(2, 2, -1, 0, 0, -1)), // missing excluded: a=4 b=0 c=0 d=4 → chi2=8
      ("mono", gt(0, 0, 0, 0, 0, 0)))   // alt margin 0 → chi2 null
      .toDF("vid", "gt")
    val r = graft.operators.Assoc.allelicTest(df, "gt", Seq(0, 1, 2), Seq(3, 4, 5))
      .select("vid", "case_alt", "case_ref", "ctrl_alt", "ctrl_ref", "chi2", "odds_ratio")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("sep").getLong(1) === 6L && r("sep").getLong(4) === 6L)
    assertNear(r("sep").getDouble(5), 12.0)
    assert(r("sep").isNullAt(6))
    assertNear(r("bal").getDouble(5), 0.0); assertNear(r("bal").getDouble(6), 1.0)
    assertNear(r("miss").getDouble(5), 8.0)
    assert(r("mono").isNullAt(5))
  }

  test("quantTest: hand-computed OLS cells, perfect fit t2 null, monomorphic null") {
    import spark.implicits._
    def gt(d: Int*) = d.map {
      case -1 => Seq(-1, -1)
      case 0  => Seq(0, 0)
      case 1  => Seq(0, 1)
      case 2  => Seq(1, 1)
    }
    val df = Seq(
      ("slope", gt(0, 0, 1, 1, 2, 2)),    // Dxx=24 Dxy=480 Dyy=10500 → beta=20
      ("mono",  gt(1, 1, 1, 1, 1, 1)),    // Dxx=0 → all stats null
      ("fit",   gt(0, 1, 2, -1, -1, -1)), // perfect fit: r2=1, resid=0 → t2 null
      ("n2",    gt(0, 2, -1, -1, -1, -1)))// n=2 → beta fine, t2 null
      .toDF("vid", "gt")
    val y = Seq(10L, 20L, 30L, 40L, 50L, 60L)
    val r = graft.operators.Assoc.quantTest(df, "gt", y)
      .select("vid", "n_called", "sum_x", "sum_xy", "beta", "r2", "t2")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("slope").getLong(1) === 6L && r("slope").getLong(3) === 290L)
    assertNear(r("slope").getDouble(4), 20.0)
    assertNear(r("slope").getDouble(5), 230400.0 / 252000.0)
    assertNear(r("slope").getDouble(6), 921600.0 / 21600.0)
    assert(r("mono").isNullAt(4) && r("mono").isNullAt(5) && r("mono").isNullAt(6))
    assertNear(r("fit").getDouble(4), 10.0)
    assertNear(r("fit").getDouble(5), 1.0)
    assert(r("fit").isNullAt(6))
    assert(r("n2").getLong(1) === 2L)
    assertNear(r("n2").getDouble(4), 5.0)
    assert(r("n2").isNullAt(6))
  }

  test("burdenMatrix/burdenTest: integer rarity gate, missing→0, empty windows absent") {
    import spark.implicits._
    def gt(d: Int*) = d.map {
      case -1 => Seq(-1, -1)
      case 0  => Seq(0, 0)
      case 1  => Seq(0, 1)
      case 2  => Seq(1, 1)
    }
    val df = Seq(
      (1L,  gt(0, 0, 0, 0, 0, 1)),  // mac=1/12 → rare
      (2L,  gt(1, 1, 0, 0, 0, 0)),  // mac=2/12 → rare
      (17L, gt(2, 0, 0, 0, 0, -1)), // mac=2/10 → rare; missing contributes 0
      (18L, gt(1, 1, 1, 1, 1, 1)),  // maf=0.5 → common, excluded
      (33L, gt(0, 0, 0, 0, 0, 0)))  // monomorphic → excluded
      .toDF("pos", "gt")
    val m = graft.operators.Assoc.burdenMatrix(df, "gt", "pos", 16L, 2500L)
      .orderBy("win_start", "sample_idx")
      .as[(Long, Long, Int, Long)].collect()
    assert(m.map(_._1).distinct.toSeq === Seq(0L, 16L)) // win 32 empty → absent
    val w0 = m.filter(_._1 == 0L)
    assert(w0.forall(_._2 == 2L))
    assert(w0.map(_._4).toSeq === Seq(1L, 1L, 0L, 0L, 0L, 1L))
    val w16 = m.filter(_._1 == 16L)
    assert(w16.forall(_._2 == 1L))
    assert(w16.map(_._4).toSeq === Seq(2L, 0L, 0L, 0L, 0L, 0L))
    val t = graft.operators.Assoc.burdenTest(df, "gt", "pos", 16L, 2500L,
        Seq(10L, 20L, 30L, 40L, 50L, 60L))
      .orderBy("win_start")
      .select("win_start", "n_rare", "sum_x", "sum_xx", "sum_xy", "beta")
      .collect()
    // win 0: b=[1,1,0,0,0,1] → Sx=3 Sxx=3 Sxy=90, Dxx=9 Dxy=-90 → beta=-10
    assert(t(0).getLong(2) === 3L && t(0).getLong(3) === 3L && t(0).getLong(4) === 90L)
    assertNear(t(0).getDouble(5), -10.0)
  }

  test("trendTest: perfect additive trend → chi2 = N−1; monomorphic null; missing excluded") {
    import spark.implicits._
    def gt(d: Int*) = d.map {
      case -1 => Seq(-1, -1)
      case 0  => Seq(0, 0)
      case 1  => Seq(0, 1)
      case 2  => Seq(1, 1)
    }
    val df = Seq(
      ("sep",  gt(2, 2, 2, 0, 0, 0)),   // r=(0,0,3) s=(3,0,0): chi2 = N−1 = 5
      ("mono", gt(1, 1, 1, 1, 1, 1)),   // all het: varTerm = N·n1 − n1² = 0 → null
      ("miss", gt(2, 2, -1, 0, 0, -1))) // called: r=(0,0,2) s=(2,0,0) → chi2 = 3
      .toDF("vid", "gt")
    val r = graft.operators.Assoc.trendTest(df, "gt", Seq(0, 1, 2), Seq(3, 4, 5))
      .select("vid", "case_r0", "case_r1", "case_r2",
        "ctrl_s0", "ctrl_s1", "ctrl_s2", "chi2")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("sep").getLong(3) === 3L && r("sep").getLong(4) === 3L)
    assertNear(r("sep").getDouble(7), 5.0)
    assert(r("mono").isNullAt(7))
    assertNear(r("miss").getDouble(7), 3.0)
  }

  test("concordance: unphased compare, one-sided missing split, shared variants only") {
    import spark.implicits._
    val a = Seq(
      ("v1", Seq(Seq(0, 1), Seq(0, 0), Seq(-1, -1))),
      ("v2", Seq(Seq(1, 1), Seq(0, 1), Seq(0, 0))),
      ("v3", Seq(Seq(0, 0), Seq(0, 0), Seq(0, 0)))) // A-only variant: excluded
      .toDF("id", "gt")
    val b = Seq(
      ("v1", Seq(Seq(1, 0), Seq(0, 1), Seq(0, 0))),   // s0: 0/1≡1/0 concordant
      ("v2", Seq(Seq(1, 1), Seq(-1, -1), Seq(-1, -1))))
      .toDF("id", "gt")
    val r = Stats.concordance(a, b, "id", "gt")
      .orderBy("sample_idx")
      .as[(Int, Long, Long, Long, Long, Long, Option[Double])].collect()
    // s0: v1 conc (unphased), v2 conc → 2/2
    assert(r(0) === ((0, 2L, 2L, 0L, 0L, 0L, Some(1.0))))
    // s1: v1 discordant (0/0 vs 0/1), v2 a_only
    assert(r(1) === ((1, 1L, 0L, 1L, 0L, 0L, Some(0.0))))
    // s2: v1 b_only, v2 a_only
    assert(r(2) === ((2, 0L, 0L, 1L, 1L, 0L, None)))
  }

  test("sampleInbreeding: all-hom F=1, het deficit negative, missing drops L") {
    import spark.implicits._
    // v1: p=0.5, n2=8 → ehom = 3/7; v2: p=0, n2=6 → ehom = 1 (s3 missing)
    val df = Seq(
      ("v1", Seq(Seq(0, 0), Seq(0, 1), Seq(1, 1), Seq(0, 1))),
      ("v2", Seq(Seq(0, 0), Seq(0, 0), Seq(0, 0), Seq(-1, -1))))
      .toDF("id", "gt")
    val r = Stats.sampleInbreeding(df, "gt").orderBy("sample_idx")
      .as[(Int, Long, Long, Long, Option[Double])].collect()
    val e1 = 0.428571 // fixed-point(3/7, 1e6)/1e6
    assert(r(0)._2 === 2L && r(0)._3 === 2L && r(0)._4 === (428571L + 1000000L))
    assertNear(r(0)._5.get, 1.0)                               // O = L → F = 1
    assertNear(r(1)._5.get, (1.0 - (e1 + 1.0)) / (2.0 - (e1 + 1.0)), 1e-9)
    assertNear(r(2)._5.get, 1.0)
    assert(r(3)._2 === 1L)                                     // v2 missing → L = 1
    assertNear(r(3)._5.get, (0.0 - e1) / (1.0 - e1), 1e-9)
  }

  test("pbsWindowed: pairwise fst ≡ fstWindowed; PBS recombines the branch lengths") {
    val synth = Synth.synthGt(spark, 64L, 12)
      .localCheckpoint()
    val (pa, pb, pc) = (0 until 4, 4 until 8, 8 until 12)
    val got = graft.operators.Stats.pbsWindowed(synth, "gt", "vid", 16L, pa, pb, pc)
      .collect().map(r => r.getAs[Long]("win_start") -> r).toMap
    assert(got.size === 4)
    // each pair's windowed fst must equal the standalone fstWindowed scan
    for (((pr, x, y), idx) <- Seq(("ab", pa, pb), ("ac", pa, pc), ("bc", pb, pc)).zipWithIndex) {
      val solo = graft.operators.Stats.fstWindowed(synth, "gt", "vid", 16L, x, y)
        .collect().map(r => r.getAs[Long]("win_start") ->
          (if (r.isNullAt(r.fieldIndex("fst"))) None else Some(r.getDouble(r.fieldIndex("fst"))))).toMap
      for ((w, r) <- got) {
        val fused = if (r.isNullAt(r.fieldIndex(s"fst_$pr"))) None
          else Some(r.getDouble(r.fieldIndex(s"fst_$pr")))
        assert(fused === solo(w), s"pair $pr window $w")
      }
    }
    // PBS is the half-sum recombination of −ln(1−fst)
    for ((w, r) <- got if !r.isNullAt(r.fieldIndex("pbs_a"))) {
      def t(pr: String) = -math.log(1.0 - r.getDouble(r.fieldIndex(s"fst_$pr")))
      assertNear(r.getDouble(r.fieldIndex("pbs_a")), (t("ab") + t("ac") - t("bc")) / 2, 1e-12)
      assertNear(r.getDouble(r.fieldIndex("pbs_c")), (t("ac") + t("bc") - t("ab")) / 2, 1e-12)
    }
    assert(got.values.exists(r => !r.isNullAt(r.fieldIndex("pbs_a"))))
  }

  test("switchErrors: orientation flips counted between consecutive comparable hets") {
    import spark.implicits._
    // s0 comparable at all 4 sites, orientations 0,1,1,0 → 3 pairs, 2 switches
    // s1: v2 hom and v3 missing in B → comparable v1, v4 (orient 0, 1) → 1 pair, 1 switch
    // s2: only v1 comparable (v2-v4 het with DIFFERENT unordered gt) → 0 pairs
    val a = Seq(
      ("v1", 1L, Seq(Seq(0, 1), Seq(0, 1), Seq(0, 1))),
      ("v2", 2L, Seq(Seq(0, 1), Seq(0, 1), Seq(0, 2))),
      ("v3", 3L, Seq(Seq(0, 1), Seq(0, 1), Seq(0, 2))),
      ("v4", 4L, Seq(Seq(0, 1), Seq(1, 0), Seq(0, 2))))
      .toDF("id", "pos", "gt")
    val b = Seq(
      ("v1", Seq(Seq(0, 1), Seq(0, 1), Seq(0, 1))),
      ("v2", Seq(Seq(1, 0), Seq(0, 0), Seq(0, 1))),
      ("v3", Seq(Seq(1, 0), Seq(-1, -1), Seq(0, 1))),
      ("v4", Seq(Seq(0, 1), Seq(0, 1), Seq(0, 1))))
      .toDF("id", "gt")
    val r = Stats.switchErrors(a, b, "id", "pos", "gt").orderBy("sample_idx")
      .as[(Int, Long, Long, Option[Double])].collect()
    assert(r(0) === ((0, 3L, 2L, Some(2.0 / 3.0))))
    assert(r(1) === ((1, 1L, 1L, Some(1.0))))
    assert(r(2) === ((2, 0L, 0L, None)))
  }

  test("ibdSegments: planted shared block found; wide buckets df-capped") {
    import spark.implicits._
    def g(d: Int) = d match {
      case -1 => Seq(-1, -1); case 0 => Seq(0, 0)
      case 1  => Seq(0, 1);   case 2 => Seq(1, 1)
    }
    // 3 samples, positions 0..59 (6 windows of 10):
    //  win 0:      all three differ
    //  wins 10-30: s0 ≡ s1 (pattern p%3, includes a shared missing),
    //              s2 constant 2
    //  win 40:     s0 ≠ s1
    //  win 50:     ALL equal → bucket of 3
    val rows = (0L until 60L).map { p =>
      val dos =
        if (p < 10) Seq(0, 1, 2)
        else if (p < 40) {
          val d = if (p == 15) -1 else (p % 3).toInt
          Seq(d, d, 2)
        }
        else if (p < 50) Seq(0, 1, 2)
        else Seq(1, 1, 1)
      (p, dos.map(g))
    }
    val df = rows.toDF("pos", "gt")
    val seg = graft.operators.Stats.ibdSegments(df, "gt", "pos", 10L, 2, maxBucket = 2)
      .select("si", "sj", "win_start", "win_end", "n_windows")
      .as[(Int, Int, Long, Long, Long)].collect()
    assert(seg.toSeq === Seq((0, 1, 10L, 30L, 3L)))
    // raising the cap admits the monomorphic window 50 as 1-window runs
    val seg2 = graft.operators.Stats.ibdSegments(df, "gt", "pos", 10L, 1, maxBucket = 3)
      .orderBy("si", "sj", "win_start")
      .select("si", "sj", "win_start", "win_end", "n_windows")
      .as[(Int, Int, Long, Long, Long)].collect()
    assert(seg2.toSeq === Seq(
      (0, 1, 10L, 30L, 3L), (0, 1, 50L, 50L, 1L),
      (0, 2, 50L, 50L, 1L), (1, 2, 50L, 50L, 1L)))
  }

  test("sampleQcReport: callability, het, singleton carriage hand case") {
    import spark.implicits._
    def gt(d: Int*) = d.map {
      case -1 => Seq(-1, -1)
      case 0  => Seq(0, 0)
      case 1  => Seq(0, 1)
      case 2  => Seq(1, 1)
    }
    val df = Seq(
      ("v1", gt(1, 0, 0)),   // s0 het, cohort ac=1 → s0 singleton
      ("v2", gt(2, 0, 0)),   // ac=2 hom-alt s0 → not singleton
      ("v3", gt(-1, 1, 1)),  // s0 missing; ac=2 → no singleton
      ("v4", gt(0, 0, 1)))   // s2 singleton
      .toDF("vid", "gt")
    val r = graft.operators.Stats.sampleQcReport(df, "gt").orderBy("sample_idx")
      .select("sample_idx", "n_sites", "n_called", "n_het", "n_singleton")
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(r(0) === ((0, 4L, 3L, 1L, 1L)))
    assert(r(1) === ((1, 4L, 4L, 1L, 0L)))
    assert(r(2) === ((2, 4L, 4L, 2L, 1L)))
  }

  test("sampleSwapScan: planted swap detected, self-match clean elsewhere") {
    import spark.implicits._
    def gt(d: Int*) = d.map {
      case -1 => Seq(-1, -1)
      case 0  => Seq(0, 0)
      case 1  => Seq(0, 1)
      case 2  => Seq(1, 1)
    }
    // A has samples (s0, s1, s2); B re-calls the cohort but swaps the
    // tubes of s0 and s1; s2 is intact. 4 variants, distinct profiles.
    val a = Seq(
      ("v1", gt(0, 1, 2)), ("v2", gt(2, 0, 1)),
      ("v3", gt(1, 2, 0)), ("v4", gt(0, 0, 2)))
      .toDF("id", "gt")
    val b = Seq(
      ("v1", gt(1, 0, 2)), ("v2", gt(0, 2, 1)),
      ("v3", gt(2, 1, 0)), ("v4", gt(0, 0, 2)))
      .toDF("id", "gt")
    val r = graft.operators.Stats.sampleSwapScan(a, b, "id", "gt")
      .orderBy("a_idx")
      .select("a_idx", "best_b_idx", "n_match", "n_comp", "swapped")
      .as[(Int, Int, Long, Long, Boolean)].collect()
    assert(r(0) === ((0, 1, 4L, 4L, true)))
    assert(r(1) === ((1, 0, 4L, 4L, true)))
    assert(r(2) === ((2, 2, 4L, 4L, false)))
  }

  test("ldClump: parallel rounds ≡ literal sequential greedy on a hashed panel") {
    import spark.implicits._
    // 48 variants, deterministic hashed gts over 8 samples, scores from
    // a second hash — dense enough LD for multi-round clump chains
    val nS = 8
    def dosv(v: Int, s: Int): Int = {
      val h = math.abs(v * 2654435761L + s * 40503L).toInt % 100
      if (h < 12) -1 else (h % 3)
    }
    val rows = (0 until 48).map { v =>
      val gt = (0 until nS).map { s =>
        dosv(v, s) match {
          case -1 => Seq(-1, -1); case 0 => Seq(0, 0)
          case 1  => Seq(0, 1);   case 2 => Seq(1, 1)
        }
      }
      (v.toLong * 3, gt, ((v * 48271) % 97).toDouble)
    }
    val df = rows.toDF("pos", "gt", "score")
    val maxDist = 30L; val r2Min = 0.2
    val got = graft.operators.Stats.ldClump(df, "gt", "pos", "score", maxDist, r2Min)
      .select("pos", "clump_pos", "is_index")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // literal sequential reference over brute-force r² edges
    val dos = rows.map(r => r._1 -> (0 until nS).map(s => dosv((r._1 / 3).toInt, s))).toMap
    def r2(a: Long, b: Long): Double = {
      val ps = (0 until nS).map(s => (dos(a)(s), dos(b)(s)))
        .filter(p => p._1 >= 0 && p._2 >= 0)
      val n = ps.length.toLong
      val (sx, sy) = (ps.map(_._1.toLong).sum, ps.map(_._2.toLong).sum)
      val sxy = ps.map(p => p._1.toLong * p._2).sum
      val sxx = ps.map(p => p._1.toLong * p._1).sum
      val syy = ps.map(p => p._2.toLong * p._2).sum
      val (num, vx, vy) = (n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy)
      if (vx > 0 && vy > 0) (num * num).toDouble / (vx * vy).toDouble else -1.0
    }
    val ordered = rows.map(r => (r._3, r._1)).sorted.map(_._2)
    val nbrs = rows.map(_._1).map { p =>
      p -> rows.map(_._1).filter(q => q != p &&
        math.abs(q - p) <= maxDist && r2(p, q) >= r2Min).toSet
    }.toMap
    val claimedBy = scala.collection.mutable.Map.empty[Long, Long]
    val idxSet = scala.collection.mutable.Set.empty[Long]
    for (p <- ordered if !claimedBy.contains(p)) {
      idxSet += p
      for (q <- nbrs(p).toSeq.sorted if !claimedBy.contains(q) && !idxSet.contains(q))
        claimedBy(q) = p
    }
    val want = rows.map(_._1).map { p =>
      p -> (if (idxSet.contains(p)) (p, true) else (claimedBy(p), false))
    }.toMap
    assert(got === want)
    assert(got.values.count(_._2) > 1, "degenerate panel: everything one clump")
  }

  test("unrelatedSet: hub dropped first, deterministic high-index tie-break") {
    import spark.implicits._
    val pairs = Seq((0, 1, 0.3), (1, 2, 0.3), (1, 3, 0.3)).toDF("si", "sj", "phi")
    val r = graft.operators.Stats.unrelatedSet(pairs, "si", "sj", "phi", 0.177, 5)
      .as[(Int, Boolean)].collect().toMap
    assert(r === Map(0 -> true, 1 -> false, 2 -> true, 3 -> true, 4 -> true))
    // all degree-1 ties: drop the higher index of each edge
    val t = Seq((0, 1, 0.5), (2, 3, 0.5)).toDF("si", "sj", "phi")
    val r2 = graft.operators.Stats.unrelatedSet(t, "si", "sj", "phi", 0.177, 4)
      .as[(Int, Boolean)].collect().toMap
    assert(r2 === Map(0 -> true, 1 -> false, 2 -> true, 3 -> false))
  }

  test("mendelErrors: impossible transmissions flagged, missing excluded") {
    import spark.implicits._
    // trio = (child 0, father 1, mother 2)
    // v1: F=0/0, M=0/0, child 0/1 → error (alt from nowhere)
    // v2: F=1/1, M=0/0, child 0/0 → error (father must transmit alt)
    // v3: F=0/1, M=0/1, child 1/1 → legal
    // v4: father missing → not tested
    // v5: F=1/1, M=1/1, child 1/1 → legal (dc=2 in [2,2])
    val df = Seq(
      ("v1", Seq(Seq(0, 1), Seq(0, 0), Seq(0, 0))),
      ("v2", Seq(Seq(0, 0), Seq(1, 1), Seq(0, 0))),
      ("v3", Seq(Seq(1, 1), Seq(0, 1), Seq(0, 1))),
      ("v4", Seq(Seq(0, 0), Seq(-1, -1), Seq(0, 0))),
      ("v5", Seq(Seq(1, 1), Seq(1, 1), Seq(1, 1)))
    ).toDF("id", "gt")
    val got = Stats.mendelErrors(df, "gt", Seq((0, 1, 2)))
      .select("trio_idx", "n_tested", "n_errors").as[(Int, Long, Long)].collect()
    assert(got === Array((0, 4L, 2L)))
  }

  test("fstWindowed: ratio-of-sums over fixed-point window sums") {
    import spark.implicits._
    // 4 samples, groups {0,1} vs {2,3}; windowSize 100 → two windows
    val df = Seq(
      (10L, Seq(Seq(0, 0), Seq(0, 0), Seq(1, 1), Seq(1, 1))),   // fully diverged
      (20L, Seq(Seq(0, 1), Seq(0, 1), Seq(0, 1), Seq(0, 1))),   // identical freqs
      (110L, Seq(Seq(0, 0), Seq(0, 1), Seq(1, 1), Seq(0, 1)))   // partial
    ).toDF("pos", "gt").withColumn("alt", array(lit("A")))
    val got = Stats.fstWindowed(df, "gt", "pos", 100L, Seq(0, 1), Seq(2, 3))
      .orderBy("win_start")
      .select("win_start", "n_informative").as[(Long, Long)].collect()
    assert(got === Array((0L, 2L), (100L, 1L)))
    // cross-check window 0's ratio against the per-variant kernel's sums
    val perVariant = Stats.fstHudson(df.filter(col("pos") < 100), "gt",
      Seq(0, 1), Seq(2, 3)).select("fst_num", "fst_den")
      .as[(Option[Double], Option[Double])].collect()
    val expNum = perVariant.flatMap(_._1).map(v => math.floor(v * 1e6 + 0.5)).sum
    val expDen = perVariant.flatMap(_._2).map(v => math.floor(v * 1e6 + 0.5)).sum
    val w0 = Stats.fstWindowed(df, "gt", "pos", 100L, Seq(0, 1), Seq(2, 3))
      .filter(col("win_start") === 0).select("num_fp", "den_fp", "fst")
      .as[(Long, Long, Option[Double])].head()
    assert(w0._1 === expNum.toLong && w0._2 === expDen.toLong)
    assert(w0._3.get === expNum / expDen)
  }

  test("rohSegments: runs break at het/missing sites, minSites filters, chrom partitions") {
    import spark.implicits._
    // one sample (idx 0) hom at pos 1,2,3 then het at 4 then hom at 5,6;
    // second sample (idx 1) hom everywhere except missing at pos 3
    val df = Seq(
      ("c1", 1L, Seq(Seq(0, 0), Seq(1, 1))),
      ("c1", 2L, Seq(Seq(1, 1), Seq(0, 0))),
      ("c1", 3L, Seq(Seq(0, 0), Seq(-1, -1))),
      ("c1", 4L, Seq(Seq(0, 1), Seq(1, 1))),
      ("c1", 5L, Seq(Seq(0, 0), Seq(1, 1))),
      ("c1", 6L, Seq(Seq(1, 1), Seq(0, 0)))
    ).toDF("chrom", "pos", "gt")
    val got = Stats.rohSegments(df, "gt", "pos", minSites = 2, chromCol = Some("chrom"))
      .as[(String, Int, Long, Long, Long)].collect()
      .map(r => (r._2, r._3, r._4) -> r._5).toMap
    // sample 0: [1..3] (3 sites) and [5..6] (2 sites); sample 1:
    // [1..2] then the missing at 3 breaks, [4..6] (3 sites)
    assert(got === Map((0, 1L, 3L) -> 3L, (0, 5L, 6L) -> 2L,
      (1, 1L, 2L) -> 2L, (1, 4L, 6L) -> 3L))
    // minSites=4 keeps nothing
    assert(Stats.rohSegments(df, "gt", "pos", minSites = 4,
      chromCol = Some("chrom")).count() === 0L)
  }

  test("alleleBalance: het-only, read-gated, e6-floored per site") {
    import spark.implicits._
    // sample 0: het with reads at both variants (4/4 then 1/3);
    // sample 1: hom — never counted; sample 2: het but zero reads at
    // v1, het with reads at v2; sample 3: missing call
    val df = Seq(
      (Seq(Seq(0, 1), Seq(1, 1), Seq(0, 1), Seq(-1, -1)),
        Seq(4, 9, 0, 5), Seq(Seq(4), Seq(1), Seq(0), Seq(5))),
      (Seq(Seq(1, 0), Seq(0, 0), Seq(0, 1), Seq(-1, -1)),
        Seq(1, 2, 6, 7), Seq(Seq(3), Seq(0), Seq(2), Seq(1)))
    ).toDF("gt", "ro", "ao")
    val got = Stats.alleleBalance(df, "gt", "ro", "ao")
      .orderBy("sample_idx")
      .as[(Int, Long, Long, Long, Long, Long)].collect()
    // s0: ab6 = 4e6/8 = 500000 and 1e6/4 = 250000 → sum 750000, mean 375000
    // s2: only v2 counts (v1 has 0 reads): 6e6/8 = 750000
    assert(got.toSeq === Seq(
      (0, 2L, 5L, 7L, 750000L, 375000L),
      (2, 1L, 6L, 2L, 750000L, 750000L)))
  }
}
