package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GenotypeKernels._

/** Case/control association screens — the GWAS primitives over a
  * biallelic cohort (reference surface: variation6's per-variant
  * statistics layer; tests follow Armitage 1955 / the standard 1-df
  * allelic contingency test as presented in Balding 2006, "A tutorial
  * on statistical methods for population association studies", Nat Rev
  * Genet 7:781).
  *
  * Both tests share the scale shape of every §2.3 kernel: map-only per
  * variant (sample-group projections through the one-pass allele-count
  * kernel / a single dosage transform, then integer contingency cells),
  * so a genome-wide screen is an embarrassingly parallel scan — no
  * shuffle at any cohort width. The contingency cells are emitted as
  * exact integer columns alongside the statistic: the counts are the
  * auditable part (and hash-stable across engines); the chi-square is
  * one float expression on top. */
object Assoc {

  /** Per-variant allelic 2×2 chi-square (1 df): allele counts over
    * CALLED samples (missing excluded) with a = case alt, b = case ref,
    * c = control alt, d = control ref and N = a+b+c+d:
    *
    *   chi2       = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *   odds_ratio = ad / bc
    *
    * `chi2` is NULL when any margin is 0 (a fully-missing group or a
    * monomorphic site carries no association information); `odds_ratio`
    * is NULL when bc = 0 (infinite / undefined OR — callers who want
    * the Haldane-Anscombe +½ correction can add it on the emitted
    * cells). Margin products are computed in doubles — a biobank cohort
    * (10⁶ samples) overflows int64 at (2n)⁴ — while the cells stay
    * exact integers. */
  def allelicTest(df: DataFrame, gtCol: String,
                  cases: Seq[Int], controls: Seq[Int]): DataFrame = {
    // counts arrays materialized ONCE per group (multiply-referenced
    // lambda HOFs re-evaluate at every reference — house rule)
    val base = df
      .withColumn("_cc", alleleCounts(selectSamples(col(gtCol), cases), lit(2)))
      .withColumn("_ct", alleleCounts(selectSamples(col(gtCol), controls), lit(2)))
      .withColumn("case_alt", element_at(col("_cc"), 2).cast("long"))
      .withColumn("case_ref", element_at(col("_cc"), 1).cast("long"))
      .withColumn("ctrl_alt", element_at(col("_ct"), 2).cast("long"))
      .withColumn("ctrl_ref", element_at(col("_ct"), 1).cast("long"))
    val a = col("case_alt"); val b = col("case_ref")
    val c = col("ctrl_alt"); val d = col("ctrl_ref")
    def dbl(x: Column) = x.cast("double")
    val n = a + b + c + d
    val det = dbl(a * d - b * c)
    val m = dbl(a + b) * dbl(c + d) * dbl(a + c) * dbl(b + d)
    base
      .withColumn("chi2",
        when((a + b) > 0 && (c + d) > 0 && (a + c) > 0 && (b + d) > 0,
          dbl(n) * det * det / m))
      .withColumn("odds_ratio",
        when(b * c > 0, dbl(a * d) / dbl(b * c)))
      .drop("_cc", "_ct")
  }

  /** Per-variant quantitative-trait linear regression (the plink
    * `--linear` single-predictor screen): per variant, OLS of a
    * continuous phenotype y on additive dosage x ∈ {0,1,2} over CALLED
    * samples. `pheno(s)` is sample s's phenotype in caller-chosen
    * FIXED-POINT units (long — e.g. e3 micro-units), so every
    * sufficient statistic is an exact integer sum and the per-variant
    * reduction is partition-order-proof; `beta` is reported in those
    * same units per dosage copy.
    *
    * Emitted per variant: the exact sufficient-statistic cells
    * (n_called, sum_x, sum_xx, sum_y, sum_yy, sum_xy — the auditable,
    * hash-stable part) plus, with Dxx = n·Sxx − Sx², Dxy = n·Sxy −
    * Sx·Sy, Dyy = n·Syy − Sy² (computed in doubles — int64 overflows
    * near 10⁶-sample cohorts on Dyy, matching [[allelicTest]]'s margin
    * convention):
    *
    *   beta = Dxy / Dxx                       (NULL when Dxx = 0 —
    *                                           monomorphic among called)
    *   r2   = Dxy² / (Dxx·Dyy)                (NULL when Dxx·Dyy = 0)
    *   t2   = (n−2)·Dxy² / (Dxx·Dyy − Dxy²)   (squared t-statistic of
    *          the slope; NULL when n ≤ 2 or the residual term is 0 —
    *          a perfect fit has no finite t)
    *
    * Scale shape: map-only per variant like every §2.3 kernel — the
    * phenotype vector rides the plan as an array literal (a cohort's
    * phenotype is ~8 bytes/sample, broadcast-trivial at any width), the
    * dosage/phenotype pairs are zipped and folded per row, and a
    * genome-wide screen is an embarrassingly parallel scan with no
    * shuffle. */
  def quantTest(df: DataFrame, gtCol: String, pheno: Seq[Long]): DataFrame = {
    val ph = array(pheno.map(lit): _*)
    // called (dosage, y) pairs materialized ONCE (house rule: HOF
    // results are multiply-referenced only through a column)
    val base = df
      .withColumn("_dos", dosages(col(gtCol)))
      .withColumn("_p", filter(
        zip_with(col("_dos"), ph, (d, y) => struct(d.as("d"), y.as("y"))),
        p => p.getField("d") =!= -1))
    def fsum(f: Column => Column) =
      aggregate(col("_p"), lit(0L), (acc, p) => acc + f(p))
    val cells = base
      .withColumn("n_called", size(col("_p")).cast("long"))
      .withColumn("sum_x", fsum(p => p.getField("d").cast("long")))
      .withColumn("sum_xx", fsum(p =>
        (p.getField("d") * p.getField("d")).cast("long")))
      .withColumn("sum_y", fsum(p => p.getField("y")))
      .withColumn("sum_yy", fsum(p => p.getField("y") * p.getField("y")))
      .withColumn("sum_xy", fsum(p => p.getField("d").cast("long") * p.getField("y")))
      .drop("_dos", "_p")
    withOls(cells, col("n_called"))
  }

  /** Appends beta / r2 / t2 to a frame holding the exact OLS cells
    * (sum_x, sum_xx, sum_y, sum_yy, sum_xy) — the shared tail of
    * [[quantTest]] and [[burdenTest]]; see [[quantTest]] for the
    * formulas and NULL contract. */
  private def withOls(cells: DataFrame, n: Column): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val dxx = dbl(n * col("sum_xx") - col("sum_x") * col("sum_x"))
    val dxy = dbl(n) * dbl(col("sum_xy")) - dbl(col("sum_x")) * dbl(col("sum_y"))
    val dyy = dbl(n) * dbl(col("sum_yy")) - dbl(col("sum_y")) * dbl(col("sum_y"))
    val resid = dxx * dyy - dxy * dxy
    cells
      .withColumn("beta", when(dxx > 0, dxy / dxx))
      .withColumn("r2", when(dxx > 0 && dyy > 0, dxy * dxy / (dxx * dyy)))
      .withColumn("t2", when(n > 2 && dxx > 0 && resid > 0,
        dbl(n - 2) * dxy * dxy / resid))
  }

  /** Rare-variant burden matrix (the collapsing step of burden /
    * SKAT-style region tests, cf. Lee et al. 2014, "Rare-variant
    * association analysis", AJHG 95:5): per genomic window of
    * `windowSize` starting positions, each sample's burden is the sum
    * of its ALT dosages over the window's RARE variants — rare meaning
    * minor-allele frequency in (0, mafMaxE4/10⁴] decided by the exact
    * integer cross-multiplication `mac·10⁴ ≤ mafMaxE4·an` (no float
    * MAF anywhere, so the variant set is bit-stable across engines);
    * missing calls contribute 0. Output long form: (win_start,
    * sample_idx, burden) plus the window's `n_rare` variant count —
    * windows with no rare variant emit nothing.
    *
    * Scale shape: the rarity decision is map-only off the one-pass
    * allele-count kernel; qualifying dosage vectors reduce through ONE
    * window-keyed [[graft.functions.VecSumAgg]] elementwise aggregation
    * (partial per partition — a window's vectors never co-locate before
    * combining, and the shuffle carries one S-length array per
    * (partition, window), not S×V rows); the long form is one
    * posexplode of the aggregated row. Dosage sums are small integers
    * in doubles — exact to 2⁵³. */
  def burdenMatrix(df: DataFrame, gtCol: String, posCol: String,
                   windowSize: Long, mafMaxE4: Long): DataFrame = {
    val cc = alleleCounts(col(gtCol), lit(2))
    val base = df
      .withColumn("_cc", cc)
      .withColumn("_an", (element_at(col("_cc"), 1) + element_at(col("_cc"), 2)).cast("long"))
      .withColumn("_mac", least(element_at(col("_cc"), 1), element_at(col("_cc"), 2)).cast("long"))
      .filter(col("_an") > 0 && col("_mac") > 0 &&
        col("_mac") * lit(10000L) <= lit(mafMaxE4) * col("_an"))
      .withColumn("_dos", transform(col(gtCol), s =>
        when(exists(s, a => a === -1), lit(0.0))
          .otherwise(aggregate(s, lit(0), (acc, a) => acc + a).cast("double"))))
      .withColumn("_win", (floor(col(posCol) / lit(windowSize)) * lit(windowSize)).cast("long"))
    import graft.functions.VecSumAgg
    base.groupBy(col("_win").as("win_start"))
      .agg(count(lit(1)).as("n_rare"), VecSumAgg.of(col("_dos")).as("_b"))
      .select(col("win_start"), col("n_rare"),
        posexplode(col("_b")).as(Seq("sample_idx", "burden")))
      .withColumn("burden", col("burden").cast("long"))
  }

  /** Per-window burden association with a quantitative phenotype: OLS
    * of phenotype on each sample's [[burdenMatrix]] score, using the
    * same exact sufficient-statistic / D-term shapes as [[quantTest]]
    * (x = burden instead of dosage; every called sample participates —
    * burden has no missingness once variants collapse). Emitted per
    * window: n_rare, the six cells, beta / r2 / t2 with [[quantTest]]'s
    * NULL contract. One extra map stage over the burden matrix — the
    * genome-wide screen stays a single VecSumAgg pass + a window-keyed
    * integer agg. */
  def burdenTest(df: DataFrame, gtCol: String, posCol: String,
                 windowSize: Long, mafMaxE4: Long,
                 pheno: Seq[Long]): DataFrame = {
    val ph = array(pheno.map(lit): _*)
    val m = burdenMatrix(df, gtCol, posCol, windowSize, mafMaxE4)
      .withColumn("_y", element_at(ph, col("sample_idx") + 1))
    val cells = m.groupBy(col("win_start"))
      .agg(
        first(col("n_rare")).as("n_rare"),
        count(lit(1)).as("n_samples"),
        sum(col("burden")).as("sum_x"),
        sum(col("burden") * col("burden")).as("sum_xx"),
        sum(col("_y")).as("sum_y"),
        sum(col("_y") * col("_y")).as("sum_yy"),
        sum(col("burden") * col("_y")).as("sum_xy"))
    withOls(cells, col("n_samples"))
  }

  /** Per-variant Cochran-Armitage trend test (1 df, additive weights
    * w = (0, 1, 2) over dosage classes): with r_g / s_g the CALLED
    * case / control sample counts at dosage g, R = Σr, S = Σs,
    * N = R + S, n_g = r_g + s_g, U = Σ w·r, W = Σ w·n:
    *
    *   T    = N·U − R·W
    *   chi2 = (N−1)·T² / (R·S·(N·Σw²n − W²))
    *
    * — the exact (hypergeometric-variance, N−1) form; NULL when either
    * group has no called samples or the variance term is 0 (site
    * monomorphic among called samples). The trend test is the standard
    * GWAS screen where allelic 2×2 is anti-conservative under
    * Hardy-Weinberg departure (Balding 2006 §genotype-based tests): it
    * conditions on genotype, not allele, counts. T and the variance
    * term stay exact in int64 up to ~10⁶-sample cohorts (T ≤ 2N²);
    * only the final ratio is float. */
  def trendTest(df: DataFrame, gtCol: String,
                cases: Seq[Int], controls: Seq[Int]): DataFrame = {
    val dosed = df.withColumn("_dos", dosages(col(gtCol)))
      .withColumn("_dc", selectSamples(col("_dos"), cases))
      .withColumn("_dt", selectSamples(col("_dos"), controls))
    def cnt(c: Column, g: Int) =
      size(filter(c, d => d === g)).cast("long")
    val base = dosed
      .withColumn("case_r0", cnt(col("_dc"), 0))
      .withColumn("case_r1", cnt(col("_dc"), 1))
      .withColumn("case_r2", cnt(col("_dc"), 2))
      .withColumn("ctrl_s0", cnt(col("_dt"), 0))
      .withColumn("ctrl_s1", cnt(col("_dt"), 1))
      .withColumn("ctrl_s2", cnt(col("_dt"), 2))
    val bigR = col("case_r0") + col("case_r1") + col("case_r2")
    val bigS = col("ctrl_s0") + col("ctrl_s1") + col("ctrl_s2")
    val n = bigR + bigS
    val n1 = col("case_r1") + col("ctrl_s1")
    val n2 = col("case_r2") + col("ctrl_s2")
    val u = col("case_r1") + lit(2L) * col("case_r2")
    val w = n1 + lit(2L) * n2
    val t = n * u - bigR * w
    val varTerm = n * (n1 + lit(4L) * n2) - w * w
    def dbl(x: Column) = x.cast("double")
    base
      .withColumn("chi2",
        when(bigR > 0 && bigS > 0 && varTerm > 0,
          dbl(n - 1) * dbl(t) * dbl(t) / (dbl(bigR) * dbl(bigS) * dbl(varTerm))))
      .drop("_dos", "_dc", "_dt")
  }
}
