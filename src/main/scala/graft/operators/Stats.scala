package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.CutOps
import graft.functions.GenotypeKernels._

/** Per-variant and per-dataset statistics (`variation6/stats.py`).
  *
  * Design (SURVEY.md §3.3): a stats report is ONE `select` appending every
  * requested kernel column + ONE action — the Spark analog of the
  * reference computing a dict of dask results in a single `compute()`.
  * Per-variant kernels are map-only; the only genuine shuffle is the
  * per-SAMPLE aggregation (`sampleDepthStats`), which goes through the
  * exploded long view and aggregates on a 32-ish-cardinality key
  * (sample index) — partial aggregation makes the shuffle negligible
  * at any scale.
  */
object Stats {

  private def nAlleles: Column = coalesce(size(col("alt")), lit(0)) + 1

  /** Append the standard per-variant stat columns (map-only, no shuffle).
    *
    * The gt matrix is scanned exactly ONCE, by the codegen'd `gt_stats`
    * expression (GtStatsExpr); every stat is then cheap arithmetic over
    * the materialized struct. The HOF twin (`variantStatsHof`) is kept
    * for differential testing — GtStatsPropertySpec proves them equal. */
  def variantStats(df: DataFrame): DataFrame = {
    val gs = col("_gs")
    val counts = gs.getField("counts")
    val nSamp = gs.getField("n_samples")
    val nCalled = gs.getField("n_called")
    val nHet = gs.getField("n_het")
    val nanC = lit(Double.NaN)
    df.withColumn("_gs", graft.functions.GtStats.of(col("gt"), nAlleles))
      .select(
        col("chrom"), col("pos"), col("id"),
        when(nSamp === 0, nanC)
          .otherwise(nCalled.cast("double") / nSamp.cast("double")).as("call_rate"),
        nCalled.as("n_called"),
        (nSamp.cast("long") - nCalled).as("n_missing"),
        counts.as("allele_counts"),
        alleleFreqs(counts).as("allele_freqs"),
        majorFreqFromCounts(counts).as("maf"),
        macFromCounts(counts).as("mac"),
        when(nCalled === 0, nanC)
          .otherwise(nHet.cast("double") / nCalled.cast("double")).as("obs_het"),
        expHetFromCounts(counts).as("exp_het"),
        observedFromCounts(counts).as("n_alleles_obs"))
  }

  /** Interpreted-HOF twin of variantStats (GenotypeKernels only) — the
    * differential-testing reference for the codegen path. */
  def variantStatsHof(df: DataFrame): DataFrame =
    df.withColumn("_counts", alleleCounts(col("gt"), nAlleles))
      .select(
        col("chrom"), col("pos"), col("id"),
        callRate(col("gt")).as("call_rate"),
        calledGtCount(col("gt")).as("n_called"),
        missingGtCount(col("gt")).as("n_missing"),
        col("_counts").as("allele_counts"),
        alleleFreqs(col("_counts")).as("allele_freqs"),
        majorFreqFromCounts(col("_counts")).as("maf"),
        macFromCounts(col("_counts")).as("mac"),
        obsHet(col("gt")).as("obs_het"),
        expHetFromCounts(col("_counts")).as("exp_het"),
        observedFromCounts(col("_counts")).as("n_alleles_obs"))

  /** One row per (variant, sample): the exploded "long" view — escape
    * hatch for per-sample aggregation and for cohorts too wide for a
    * single row (SURVEY.md §1.2). */
  def longView(df: DataFrame): DataFrame = {
    val hasDp = df.columns.contains("dp")
    val hasGq = df.columns.contains("gq")
    val zipped =
      if (hasDp && hasGq) arrays_zip(col("gt").as("gt"), col("dp").as("dp"), col("gq").as("gq"))
      else if (hasDp) arrays_zip(col("gt").as("gt"), col("dp").as("dp"))
      else arrays_zip(col("gt").as("gt"))
    val base = df.select(
      col("chrom"), col("pos"), col("id"),
      posexplode(zipped).as(Seq("sample_idx", "call")))
    val withGt = base.select(
      col("chrom"), col("pos"), col("id"), col("sample_idx"),
      col("call.gt").as("gt"),
      (if (hasDp) col("call.dp") else lit(null).cast("int")).as("dp"),
      (if (hasGq) col("call.gq") else lit(null).cast("double")).as("gq"))
    withGt
  }

  /** Long-view twin of the CALL-stats subset of [[variantStats]] (call
    * rate, called/missing counts, observed het): explode to one row per
    * (variant, sample), aggregate back per variant — SURVEY.md §1.2's
    * escape hatch for cohorts too wide to hold as one row.
    *
    * WHEN TO SWITCH (rehearsed in ScaleDemo (d521caa) at 10k and 100k samples,
    * ~200M genotype calls both ways — wall-times in README §scale): the
    * wide codegen kernel stays map-only and wins at every rehearsed
    * width; this form pays explode (n_variants × n_samples rows) plus a
    * per-variant shuffle. Use it only when a single wide row stops
    * fitting comfortably in task/codegen buffers — at ploidy 2 that is
    * ≳1M samples (≈ 8 MB of gt per row), beyond any rehearsed cohort.
    * Caveat: variants with an empty sample axis produce no long rows and
    * are absent from this output (wide form: call_rate = NaN). */
  def variantCallStatsLong(df: DataFrame): DataFrame = {
    val missing = lit(graft.core.VariantSchema.MissingInt)
    longView(df)
      .withColumn("_called", !exists(col("gt"), a => a === missing))
      .withColumn("_het", col("_called") && size(array_distinct(col("gt"))) >= 2)
      .groupBy(col("chrom"), col("pos"), col("id"))
      .agg(
        count(lit(1)).as("_n"),
        sum(col("_called").cast("long")).as("n_called"),
        sum(col("_het").cast("long")).as("_n_het"))
      .select(
        col("chrom"), col("pos"), col("id"),
        (col("n_called").cast("double") / col("_n").cast("double")).as("call_rate"),
        col("n_called"),
        (col("_n") - col("n_called")).as("n_missing"),
        when(col("n_called") === 0, lit(Double.NaN))
          .otherwise(col("_n_het").cast("double") / col("n_called").cast("double")).as("obs_het"))
  }

  /** Depth mean/min/max/approx-median per sample via the DepthStatsAgg
    * TypedImperativeAggregate — no explode, no wide shuffle, no boxing:
    * one vector buffer per partition at any cohort width (use this at
    * scale; the boxed Aggregator twin SampleDepthAgg remains as the
    * narrow-cohort reference implementation). `withMedian` adds a
    * mergeable DepthHist per sample (exact below depth 256, ≤1/8
    * relative error above; 3.5 KB/sample/partition-buffer — disable at
    * ≳100k samples or use the long view). */
  def sampleDepthStatsFast(df: DataFrame, withMedian: Boolean = true): DataFrame =
    df.select(graft.functions.DepthStatsAgg.of(col("dp"), withMedian).as("r"))
      .select(explode(col("r")).as("s"))
      .select(col("s.sample_idx"), col("s.n"), col("s.mean_dp"), col("s.min_dp"), col("s.max_dp"),
        col("s.median_dp_approx"))
      .orderBy("sample_idx")

  /** Depth distribution per sample — the reference's axis-1 aggregation;
    * the one reference op that is a genuine (tiny-key) shuffle. */
  def sampleDepthStats(df: DataFrame): DataFrame =
    df.select(posexplode(col("dp")).as(Seq("sample_idx", "dp")))
      .filter(col("dp") >= 0) // -1 = missing sentinel, excluded like the fast path
      .groupBy(col("sample_idx"))
      .agg(
        count(lit(1)).as("n"),
        avg(col("dp")).as("mean_dp"),
        min(col("dp")).as("min_dp"),
        max(col("dp")).as("max_dp"),
        expr("percentile_approx(dp, 0.5)").as("median_dp_approx"))
      .orderBy(col("sample_idx"))

  /** Fixed-bin histogram of any numeric expression (DEF_NUM_BINS = 40 in
    * the reference). NaNs dropped like NumPy's histogram. */
  def histogram(df: DataFrame, value: Column, lo: Double, hi: Double, nBins: Int = 40): DataFrame = {
    val w = (hi - lo) / nBins
    df.select(value.as("v"))
      .filter(!isnan(col("v")) && col("v").isNotNull)
      .select(least(greatest(floor((col("v") - lo) / w), lit(0)), lit(nBins - 1)).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
      .orderBy("bin")
  }

  /** Whole-dataset summary in one job. */
  def datasetSummary(df: DataFrame): DataFrame =
    variantStats(df).agg(
      count(lit(1)).as("n_variants"),
      avg(when(isnan(col("call_rate")), lit(null)).otherwise(col("call_rate"))).as("mean_call_rate"),
      avg(when(isnan(col("maf")), lit(null)).otherwise(col("maf"))).as("mean_maf"),
      avg(when(isnan(col("obs_het")), lit(null)).otherwise(col("obs_het"))).as("mean_obs_het"))

  /** Pairwise identity-by-state similarity over all sample pairs of a
    * SMALL-TO-MODERATE cohort: per pair (i < j), `ibs_num = Σ_variants
    * (2 − |dosage_i − dosage_j|)` and `ibs_den = 2 · #variants where
    * both are called` — `ibs_num/ibs_den` is the usual [0,1] relatedness
    * screen (1 = identical genotypes). Dosage = allele sum per sample
    * (diploid biallelic: 0/1/2), missing excluded pairwise.
    *
    * Scale shape: each variant row emits its s·(s−1)/2 upper-triangle
    * pair terms map-side (integers, no text/arrays), and ONE
    * (i, j)-keyed sum reduces them — partial aggregation collapses
    * within partitions, so the shuffle moves O(s²) rows total, not
    * O(variants·s²). That is the right plan to ~10³ samples (≈500k
    * pairs); wider cohorts should use [[ibsGramian]], the one-pass
    * matrix-aggregate escalation (identical integer results). Integer
    * sums are exact, so results are bit-stable under any
    * partitioning. */
  def ibsPairs(df: DataFrame, gtCol: String = "gt"): DataFrame = {
    // variants with < 2 samples have no pairs — and MUST be dropped
    // before the nested sequence(): sequence(0, nS-2) counts DOWN for
    // nS <= 1 (Spark defaults the step to -1 when start > stop),
    // emitting a bogus self-pair and an index-0 element_at that throws
    val dosed = df.filter(size(col(gtCol)) >= 2)
      .withColumn("_dos", transform(col(gtCol), s =>
      when(exists(s, a => a === -1), lit(-1))
        .otherwise(aggregate(s, lit(0), (acc, a) => acc + a))))
    val nS = size(col("_dos"))
    val pairTerms = flatten(transform(sequence(lit(0), nS - 2), i =>
      transform(sequence(i + 1, nS - 1), j => {
        val di = element_at(col("_dos"), i + 1)
        val dj = element_at(col("_dos"), j + 1)
        val both = di >= 0 && dj >= 0
        struct(i.as("si"), j.as("sj"),
          when(both, lit(2) - abs(di - dj)).otherwise(lit(0)).cast("long").as("num"),
          when(both, lit(2)).otherwise(lit(0)).cast("long").as("den"))
      })))
    dosed.select(explode(pairTerms).as("_p"))
      .groupBy(col("_p.si").as("si"), col("_p.sj").as("sj"))
      .agg(sum(col("_p.num")).as("ibs_num"), sum(col("_p.den")).as("ibs_den"))
  }

  /** [[ibsPairs]] as a ONE-PASS gramian aggregation — the wide-cohort
    * escalation that removes the s²/2-pair-terms-PER-VARIANT explode:
    * IBS decomposes over dosage-class indicator vectors
    * (I_a = 1[dos = a], C = 1[called]) as
    *
    *   num = 2·(G00 + G11 + G22) + (G01 + G01ᵀ + G12 + G12ᵀ)
    *   den = 2·Gcc,      with G_ab = Σ_variants I_a·I_bᵀ
    *
    * so ONE scan with six matrix aggregates (GramianAgg packed
    * triangles for the symmetric terms, OuterSumAgg for the two
    * asymmetric ones — the same BLAS dspr/dger kernels as the GRM)
    * replaces the exploded shuffle entirely: indicator arrays never
    * leave their task, only partial matrix buffers merge. The ~3·s²
    * doubles of aggregate state bound the width (≈2 GB at s = 9k —
    * the grmTriangle driver envelope; past that, block the cohort like
    * grmBlocksWrite). Indicator products are exact small integers in
    * doubles, so results are bit-stable and equal [[ibsPairs]]
    * verbatim (StatsSpec pins the differential). Output contract ≡
    * [[ibsPairs]]; assembly of the s(s+1)/2 output rows is distributed
    * (broadcast matrices, flatMap over si). */
  def ibsGramian(df: DataFrame, gtCol: String = "gt"): DataFrame = {
    import graft.functions.{GramianAgg, OuterSumAgg}
    val spark = df.sparkSession
    import spark.implicits._
    val dosed = df.withColumn("_dos", transform(col(gtCol), s =>
      when(exists(s, a => a === -1), lit(-1))
        .otherwise(aggregate(s, lit(0), (acc, a) => acc + a))))
    def ind(p: Column => Column) =
      transform(col("_dos"), d => when(p(d), 1.0).otherwise(0.0))
    val row = dosed.select(
        ind(_ === 0).as("_i0"), ind(_ === 1).as("_i1"),
        ind(_ === 2).as("_i2"), ind(_ >= 0).as("_ic"))
      .agg(
        GramianAgg.of(col("_i0")).as("t00"),
        GramianAgg.of(col("_i1")).as("t11"),
        GramianAgg.of(col("_i2")).as("t22"),
        GramianAgg.of(col("_ic")).as("tcc"),
        OuterSumAgg.of(col("_i0"), col("_i1")).as("o01"),
        OuterSumAgg.of(col("_i1"), col("_i2")).as("o12"))
      .head()
    if (row.isNullAt(0))
      return spark.emptyDataFrame
        .select(lit(0).as("si"), lit(0).as("sj"),
          lit(0L).as("ibs_num"), lit(0L).as("ibs_den"))
        .limit(0)
    val Seq(t00, t11, t22, tcc) = (0 to 3).map(i => row.getSeq[Double](i).toArray)
    val Seq(o01, o12) = (4 to 5).map(i => row.getSeq[Double](i).toArray)
    val s = o01(0).toInt // OuterSumAgg header [nl, nr]
    val bc = spark.sparkContext.broadcast((t00, t11, t22, tcc, o01, o12))
    spark.range(0, math.max(0, s - 1)).as[Long].flatMap { iL =>
      val (a00, a11, a22, acc, b01, b12) = bc.value
      val i = iL.toInt
      val triOff = i.toLong * s - i.toLong * (i - 1) / 2 - i // + j = packed (i, j≥i)
      (i + 1 until s).iterator.map { j =>
        val t = (triOff + j).toInt
        val num = 2.0 * (a00(t) + a11(t) + a22(t)) +
          b01(2 + j * s + i) + b01(2 + i * s + j) +
          b12(2 + j * s + i) + b12(2 + i * s + j)
        (i, j, num.toLong, (2.0 * acc(t)).toLong)
      }
    }.toDF("si", "sj", "ibs_num", "ibs_den")
  }

  /** Pairwise KING kinship counts over all sample pairs of a
    * SMALL-TO-MODERATE cohort (Manichaikul et al. 2010, "Robust
    * relationship inference in genome-wide association studies",
    * Bioinformatics 26:2867 — the allele-frequency-free estimator every
    * GWAS QC pipeline runs before association). Per pair (i < j), over
    * variants where BOTH samples are called:
    *
    *   n_hethet = #{ dos_i = 1 ∧ dos_j = 1 }    (shared heterozygotes)
    *   n_opp    = #{ {dos_i, dos_j} = {0, 2} }  (opposite homozygotes)
    *   n_het_i, n_het_j = per-sample het counts on the SHARED support
    *
    * and φ̂ = (n_hethet − 2·n_opp) / (n_het_i + n_het_j) — the
    * sum-denominator form of eq. 11 (exactly ½ for identical genomes,
    * 0 in expectation for unrelateds under HWE at any allele
    * frequency, null when neither sample is ever het on the shared
    * support). Duplicates/MZ twins ≈ ½, parent-offspring ≈ ¼ with
    * n_opp ≈ 0, full sibs ≈ ¼ with n_opp > 0 — the classic screen.
    *
    * Scale shape ≡ [[ibsPairs]]: s(s−1)/2 integer pair terms explode
    * map-side per variant and ONE (i,j)-keyed partial-agg sum reduces
    * them — right to ~10³ samples; wider cohorts use [[kingGramian]]
    * (identical integers, one pass, no explode). Integer sums → exact,
    * partition-order-proof. */
  def kingPairs(df: DataFrame, gtCol: String = "gt"): DataFrame = {
    // < 2 samples: no pairs — and sequence(0, nS-2) counts DOWN for
    // nS <= 1 (see ibsPairs)
    val dosed = df.filter(size(col(gtCol)) >= 2)
      .withColumn("_dos", transform(col(gtCol), s =>
        when(exists(s, a => a === -1), lit(-1))
          .otherwise(aggregate(s, lit(0), (acc, a) => acc + a))))
    val nS = size(col("_dos"))
    val pairTerms = flatten(transform(sequence(lit(0), nS - 2), i =>
      transform(sequence(i + 1, nS - 1), j => {
        val di = element_at(col("_dos"), i + 1)
        val dj = element_at(col("_dos"), j + 1)
        val both = di >= 0 && dj >= 0
        def cnt(c: Column) = when(both && c, 1L).otherwise(0L)
        struct(i.as("si"), j.as("sj"),
          cnt(di === 1 && dj === 1).as("hh"),
          cnt((di === 0 && dj === 2) || (di === 2 && dj === 0)).as("opp"),
          cnt(di === 1).as("hi"),
          cnt(dj === 1).as("hj"))
      })))
    dosed.select(explode(pairTerms).as("_p"))
      .groupBy(col("_p.si").as("si"), col("_p.sj").as("sj"))
      .agg(sum(col("_p.hh")).as("n_hethet"), sum(col("_p.opp")).as("n_opp"),
        sum(col("_p.hi")).as("n_het_i"), sum(col("_p.hj")).as("n_het_j"))
      .withColumn("phi", when(col("n_het_i") + col("n_het_j") > 0,
        (col("n_hethet") - col("n_opp") * 2L).cast("double") /
          (col("n_het_i") + col("n_het_j")).cast("double")))
  }

  /** [[kingPairs]] as a ONE-PASS gramian aggregation — the wide-cohort
    * escalation on the [[ibsGramian]] pattern: every KING count is a
    * bilinear form over per-variant indicator vectors
    * (H = 1[dos = 1], R = 1[dos = 0], A = 1[dos = 2], C = 1[called]):
    *
    *   n_hethet = G_HH    n_opp = O_RA + O_RAᵀ
    *   n_het_i  = O_HC    n_het_j = O_HCᵀ       (G = gramian, O = outer)
    *
    * so ONE scan with one packed-triangle GramianAgg and two
    * OuterSumAggs replaces the pair explode; indicator arrays never
    * leave their task, only the ~3·s² doubles of matrix buffers merge
    * (same s ≈ 9k driver envelope as [[ibsGramian]]; block past it).
    * Indicator products are exact small integers in doubles → equals
    * [[kingPairs]] verbatim (StatsSpec pins the differential). Output
    * assembly is distributed (broadcast matrices, flatMap over si). */
  def kingGramian(df: DataFrame, gtCol: String = "gt"): DataFrame = {
    import graft.functions.{GramianAgg, OuterSumAgg}
    val spark = df.sparkSession
    import spark.implicits._
    val dosed = df.withColumn("_dos", transform(col(gtCol), s =>
      when(exists(s, a => a === -1), lit(-1))
        .otherwise(aggregate(s, lit(0), (acc, a) => acc + a))))
    def ind(p: Column => Column) =
      transform(col("_dos"), d => when(p(d), 1.0).otherwise(0.0))
    val row = dosed.select(
        ind(_ === 1).as("_ih"), ind(_ === 0).as("_ir"),
        ind(_ === 2).as("_ia"), ind(_ >= 0).as("_ic"))
      .agg(
        GramianAgg.of(col("_ih")).as("thh"),
        OuterSumAgg.of(col("_ir"), col("_ia")).as("ora"),
        OuterSumAgg.of(col("_ih"), col("_ic")).as("ohc"))
      .head()
    if (row.isNullAt(0))
      return spark.emptyDataFrame
        .select(lit(0).as("si"), lit(0).as("sj"),
          lit(0L).as("n_hethet"), lit(0L).as("n_opp"),
          lit(0L).as("n_het_i"), lit(0L).as("n_het_j"),
          lit(0.0).as("phi"))
        .limit(0)
    val thh = row.getSeq[Double](0).toArray
    val ora = row.getSeq[Double](1).toArray
    val ohc = row.getSeq[Double](2).toArray
    val s = ora(0).toInt // OuterSumAgg header [nl, nr]; entry (i,j) at 2 + j·nl + i
    val bc = spark.sparkContext.broadcast((thh, ora, ohc))
    spark.range(0, math.max(0, s - 1)).as[Long].flatMap { iL =>
      val (ahh, bra, bhc) = bc.value
      val i = iL.toInt
      val triOff = i.toLong * s - i.toLong * (i - 1) / 2 - i // + j = packed (i, j≥i)
      (i + 1 until s).iterator.map { j =>
        val hh = ahh((triOff + j).toInt).toLong
        val opp = (bra(2 + j * s + i) + bra(2 + i * s + j)).toLong
        val hi = bhc(2 + j * s + i).toLong // O_HC(i,j) = Σ H_i·C_j
        val hj = bhc(2 + i * s + j).toLong // O_HC(j,i) = Σ H_j·C_i
        val phi = if (hi + hj > 0) (hh - 2.0 * opp) / (hi + hj) else Double.NaN
        (i, j, hh, opp, hi, hj, phi)
      }
    }.toDF("si", "sj", "n_hethet", "n_opp", "n_het_i", "n_het_j", "phi")
      .withColumn("phi", when(!isnan(col("phi")), col("phi")))
  }

  /** Runs of homozygosity: per sample, maximal runs of CONSECUTIVE
    * (in `posCol` order, per `chromCol` when given) homozygous called
    * sites — the classic inbreeding/autozygosity screen (long ROH ⇒
    * recent parental relatedness; Σ length / genome = F_ROH). A run
    * BREAKS at every heterozygous OR missing site (the strict
    * complete-information contract — permissive variants that tolerate
    * k hets are a windowed post-filter the caller can layer on).
    * Emits one row per run with ≥ `minSites` sites: sample_idx,
    * start/end position, n_sites.
    *
    * Scale shape: the variant-major matrix explodes to a
    * (pos, sample, dosage) long view of ints — text/arrays never
    * shuffle — and BOTH window passes (global row index, then
    * island grouping by the rn−rn' gaps-and-islands difference) sort
    * on the SAME (sample, pos) keys, so Spark plans ONE exchange and
    * one sort, then a partial-agg groupBy on (sample, island). Skew =
    * genome size per sample — uniform by construction. */
  def rohSegments(df: DataFrame, gtCol: String = "gt", posCol: String = "vid",
      minSites: Int = 3, chromCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val partCols = chromCol.toSeq.map(col) :+ col("sample_idx")
    val long = df.select(chromCol.toSeq.map(col) :+ col(posCol).as("_pos") :+
        posexplode(col(gtCol)).as(Seq("sample_idx", "_g")): _*)
      .withColumn("_hom", !exists(col("_g"), a => a === -1) &&
        size(array_distinct(col("_g"))) === 1)
    val wAll = Window.partitionBy(partCols: _*).orderBy(col("_pos"))
    val wHom = Window.partitionBy(partCols: _*).orderBy(col("_pos"))
    val islands = long
      .withColumn("_rn", row_number().over(wAll))
      .filter(col("_hom"))
      .withColumn("_grp", col("_rn") - row_number().over(wHom))
    islands
      .groupBy(partCols :+ col("_grp"): _*)
      .agg(min(col("_pos")).as("start_pos"), max(col("_pos")).as("end_pos"),
        count(lit(1)).as("n_sites"))
      .filter(col("n_sites") >= minSites)
      .drop("_grp")
  }

  /** Per-sample F_ROH summary — the inbreeding coefficient estimate
    * the ROH literature actually reports (McQuillan 2008): fraction of
    * a sample's CALLED sites that sit inside a [[rohSegments]] run of
    * ≥ `minSites`, plus the run count and in-run site total. Sites,
    * not base pairs, because the fixture's positions are site indices
    * — callers with physical coordinates can weight by span length
    * downstream. One extra sample-keyed agg over the segments frame
    * joined to per-sample called counts (both tiny relative to the
    * matrix). */
  def frohSummary(df: DataFrame, gtCol: String = "gt", posCol: String = "vid",
                  minSites: Int = 3): DataFrame = {
    val runs = rohSegments(df, gtCol, posCol, minSites)
      .groupBy(col("sample_idx"))
      .agg(count(lit(1)).as("n_runs"), sum(col("n_sites")).as("roh_sites"))
    val called = df
      .select(posexplode(col(gtCol)).as(Seq("sample_idx", "_g")))
      .groupBy(col("sample_idx"))
      .agg(sum((!exists(col("_g"), a => a === -1)).cast("long")).as("n_called"))
    called.join(runs, Seq("sample_idx"), "left")
      .select(col("sample_idx"), col("n_called"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("roh_sites"), lit(0L)).as("roh_sites"),
        when(col("n_called") === 0, lit(null).cast("double"))
          .otherwise(coalesce(col("roh_sites"), lit(0L)).cast("double") /
            col("n_called").cast("double")).as("froh"))
  }

  /** Per-variant Hudson F_ST between two sample groups of a biallelic
    * cohort (Bhatia/Patterson/Sankararaman/Price 2013, "Estimating and
    * interpreting FST", Genome Res 23:1514 — the estimator they
    * recommend over Weir-Cockerham for its insensitivity to unequal
    * group sizes). With p̂ᵢ the alt-allele frequency and nᵢ the CALLED
    * allele count (2·called samples, missing excluded) of group i:
    *
    *   num = (p̂₁−p̂₂)² − p̂₁(1−p̂₁)/(n₁−1) − p̂₂(1−p̂₂)/(n₂−1)
    *   den = p̂₁(1−p̂₂) + p̂₂(1−p̂₁)
    *
    * `fst` is NULL where undefined (either group has n ≤ 1, or den = 0
    * — a variant fixed for the same allele in both groups carries no
    * differentiation signal). Genome-wide F_ST must be computed as the
    * RATIO OF SUMS Σnum/Σden over variants (ibid. §"Combining"), never
    * the mean of per-variant ratios — both columns are emitted so the
    * caller's one aggregation does exactly that.
    *
    * Scale shape: map-only per variant (two sample projections + the
    * one-pass allele-count kernel); no shuffle at any cohort width, so
    * the genome-wide sum is a partial-agg scan like every §2.3 kernel. */
  def fstHudson(df: DataFrame, gtCol: String, popA: Seq[Int], popB: Seq[Int]): DataFrame = {
    // counts arrays materialized ONCE per group (multiply-referenced
    // lambda HOFs re-evaluate at every reference — house rule)
    val base = df
      .withColumn("_ca", alleleCounts(selectSamples(col(gtCol), popA), lit(2)))
      .withColumn("_cb", alleleCounts(selectSamples(col(gtCol), popB), lit(2)))
      .withColumn("_na", element_at(col("_ca"), 1) + element_at(col("_ca"), 2))
      .withColumn("_nb", element_at(col("_cb"), 1) + element_at(col("_cb"), 2))
      // n = 0 (group fully missing) → p null, not 0/0 (ANSI divide throws)
      .withColumn("_pa", when(col("_na") > 0,
        element_at(col("_ca"), 2).cast("double") / col("_na").cast("double")))
      .withColumn("_pb", when(col("_nb") > 0,
        element_at(col("_cb"), 2).cast("double") / col("_nb").cast("double")))
    val pa = col("_pa"); val pb = col("_pb")
    val num = (pa - pb) * (pa - pb) -
      pa * (lit(1.0) - pa) / (col("_na") - 1).cast("double") -
      pb * (lit(1.0) - pb) / (col("_nb") - 1).cast("double")
    val den = pa * (lit(1.0) - pb) + pb * (lit(1.0) - pa)
    base.withColumn("fst_num",
        when(col("_na") > 1 && col("_nb") > 1, num))
      .withColumn("fst_den",
        when(col("_na") > 1 && col("_nb") > 1, den))
      .withColumn("fst",
        when(col("fst_den") > 0, col("fst_num") / col("fst_den")))
      .drop("_ca", "_cb", "_na", "_pa", "_nb", "_pb")
  }

  /** Per-trio Mendelian-error screen over an explicit pedigree: for
    * each (child, father, mother) sample-index triple, counts variants
    * where all three are called and the child's dosage is IMPOSSIBLE
    * under biallelic transmission — child receives exactly one allele
    * from each parent, so with per-parent transmissible-alt range
    * [1[dos=2], 1[dos≥1]] the child dosage must lie in
    * [min_f + min_m, max_f + max_m]; anything outside is a genotyping
    * or pedigree error (the classic trio-QC metric: high error rate ⇒
    * sample swap or wrong pedigree; per-cohort elevated rate at a
    * variant ⇒ genotyping artifact).
    *
    * Scale shape: map-only per variant (|trios| integer terms explode
    * from a literal list, no text/arrays), ONE partial-agg sum keyed by
    * trio — the shuffle carries |trios| rows total. Integer counts →
    * exact, partition-order-proof; `error_rate` is the one division on
    * top, null when no variant has the full trio called. */
  def mendelErrors(df: DataFrame, gtCol: String, trios: Seq[(Int, Int, Int)]): DataFrame = {
    require(trios.nonEmpty, "mendelErrors: at least one trio required")
    val dosed = df.withColumn("_dos", transform(col(gtCol), s =>
      when(exists(s, a => a === -1), lit(-1))
        .otherwise(aggregate(s, lit(0), (acc, a) => acc + a))))
    val terms = array(trios.zipWithIndex.map { case ((c, f, m), ti) =>
      val dc = element_at(col("_dos"), c + 1)
      val dF = element_at(col("_dos"), f + 1)
      val dM = element_at(col("_dos"), m + 1)
      // the dosage-range rule is inherently DIPLOID (dos in 0..2 with
      // dF===2 meaning hom-alt): haploid calls (chrY, male X) would
      // read as het and flag legitimate transmissions as errors — skip
      // them like missing calls (the per-variant overload's guard)
      val allCalled = size(element_at(col(gtCol), c + 1)) === 2 &&
        size(element_at(col(gtCol), f + 1)) === 2 &&
        size(element_at(col(gtCol), m + 1)) === 2 &&
        dc >= 0 && dF >= 0 && dM >= 0
      val minP = when(dF === 2, 1).otherwise(0) + when(dM === 2, 1).otherwise(0)
      val maxP = when(dF >= 1, 1).otherwise(0) + when(dM >= 1, 1).otherwise(0)
      struct(lit(ti).as("trio_idx"), lit(c).as("child_idx"),
        lit(f).as("father_idx"), lit(m).as("mother_idx"),
        when(allCalled, 1L).otherwise(0L).as("tested"),
        when(allCalled && (dc < minP || dc > maxP), 1L).otherwise(0L).as("err"))
    }: _*)
    dosed.select(explode(terms).as("_t"))
      .groupBy(col("_t.trio_idx").as("trio_idx"), col("_t.child_idx").as("child_idx"),
        col("_t.father_idx").as("father_idx"), col("_t.mother_idx").as("mother_idx"))
      .agg(sum(col("_t.tested")).as("n_tested"), sum(col("_t.err")).as("n_errors"))
      .withColumn("error_rate", when(col("n_tested") > 0,
        col("n_errors").cast("double") / col("n_tested").cast("double")))
  }

  /** Genome-scan windowed Hudson F_ST: [[fstHudson]]'s per-variant
    * num/den terms reduced per fixed `windowSize` position window as
    * the RATIO OF SUMS (the only valid combination — see [[fstHudson]]).
    * Per-variant doubles are converted to fixed-point integers
    * (×10^`scale`, half-up) BEFORE summing, the [[ldDecay]] house
    * pattern: integer sums are exact and partition-order-proof, so the
    * scan is reproducible across engines and any repartitioning —
    * windowed doubles summed in shuffle order would not be. `fst` is
    * the one division on top (null when the window's den ≤ 0 or holds
    * no informative variant).
    *
    * Scale shape: map-only kernel + ONE partial-agg sum keyed by
    * window start — genome scans are embarrassingly parallel; the
    * shuffle carries one integer row per window. */
  def fstWindowed(df: DataFrame, gtCol: String, posCol: String, windowSize: Long,
      popA: Seq[Int], popB: Seq[Int], scale: Int = 6): DataFrame = {
    require(windowSize > 0, "fstWindowed: windowSize must be positive")
    val fp = math.pow(10, scale)
    def fixed(c: Column) = floor(c * fp + 0.5).cast("long")
    fstHudson(df, gtCol, popA, popB)
      .withColumn("win_start",
        (floor(col(posCol) / windowSize) * windowSize).cast("long"))
      .groupBy(col("win_start"))
      .agg(
        count(when(col("fst_num").isNotNull, 1)).as("n_informative"),
        sum(when(col("fst_num").isNotNull, fixed(col("fst_num")))).as("num_fp"),
        sum(when(col("fst_den").isNotNull, fixed(col("fst_den")))).as("den_fp"))
      .withColumn("fst", when(col("den_fp") > 0,
        col("num_fp").cast("double") / col("den_fp").cast("double")))
  }

  /** Per-variant Nei (1972) gene-identity terms between two sample
    * groups of a biallelic cohort — the inputs to Nei's standard
    * genetic distance D = −ln(Jxy / √(Jx·Jy)), the classic
    * population-divergence measure alongside [[fstHudson]]. With p̂ the
    * alt-allele frequency over CALLED samples of a group:
    *
    *   jx = p̂ₓ² + (1−p̂ₓ)²,  jy likewise,  jxy = p̂ₓp̂ᵧ + (1−p̂ₓ)(1−p̂ᵧ)
    *
    * All three are NULL when either group has no called samples at the
    * locus (such loci carry no between-group information and must be
    * excluded from ALL three genome-wide means — pairwise deletion
    * would bias I). Genome-wide: D = −ln(mean(jxy)/√(mean(jx)·mean(jy)))
    * over non-null loci — means of per-locus identities, Nei's J̄
    * (use [[neiD]]; averaging per-locus ratios would be wrong the same
    * way mean-of-fst-ratios is).
    *
    * Scale shape: map-only per variant (two sample projections through
    * the one-pass allele-count kernel), no shuffle at any cohort width;
    * the genome-wide reduction is one partial-agg scan. */
  def neiIdentity(df: DataFrame, gtCol: String, popA: Seq[Int], popB: Seq[Int]): DataFrame = {
    val base = df
      .withColumn("_ca", alleleCounts(selectSamples(col(gtCol), popA), lit(2)))
      .withColumn("_cb", alleleCounts(selectSamples(col(gtCol), popB), lit(2)))
      .withColumn("_na", element_at(col("_ca"), 1) + element_at(col("_ca"), 2))
      .withColumn("_nb", element_at(col("_cb"), 1) + element_at(col("_cb"), 2))
      .withColumn("_pa", when(col("_na") > 0,
        element_at(col("_ca"), 2).cast("double") / col("_na").cast("double")))
      .withColumn("_pb", when(col("_nb") > 0,
        element_at(col("_cb"), 2).cast("double") / col("_nb").cast("double")))
    val pa = col("_pa"); val pb = col("_pb")
    // the both-groups-called guard applies to ALL three terms (jx from
    // pa alone would otherwise survive a locus where group B is fully
    // missing and bias the mean-of-jx against mean-of-jxy)
    val informative = pa.isNotNull && pb.isNotNull
    base
      .withColumn("jx", when(informative,
        pa * pa + (lit(1.0) - pa) * (lit(1.0) - pa)))
      .withColumn("jy", when(informative,
        pb * pb + (lit(1.0) - pb) * (lit(1.0) - pb)))
      .withColumn("jxy", when(informative,
        pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)))
      .drop("_ca", "_cb", "_na", "_nb", "_pa", "_pb")
  }

  /** Genome-wide Nei standard distance D between the two groups (see
    * [[neiIdentity]]); one aggregation job. */
  def neiD(df: DataFrame, gtCol: String, popA: Seq[Int], popB: Seq[Int]): Double = {
    val r = neiIdentity(df, gtCol, popA, popB)
      .agg(avg(col("jx")).as("jx"), avg(col("jy")).as("jy"), avg(col("jxy")).as("jxy"))
      .head()
    -math.log(r.getDouble(2) / math.sqrt(r.getDouble(0) * r.getDouble(1)))
  }

  /** Integer sufficient statistics for Tajima's D over COMPLETE sites
    * (every sample called — per-site haploid n is then the constant
    * 2·n_samples the classic formula assumes; sites with any missing
    * call are excluded, the standard complete-cases contract). One
    * aggregation: number of complete sites, segregating sites S, and
    * Σ c0·c1 over segregating sites — all exact integers, so the
    * reduction is partition-order-proof. π = Σc0c1 / C(n,2) and the
    * D normalization are single divisions on top (see [[tajimaD]]). */
  def tajimaComponents(df: DataFrame, gtCol: String): DataFrame = {
    val complete = df.filter(!exists(col(gtCol), s => exists(s, a => a === -1)))
      .withColumn("_c", alleleCounts(col(gtCol), lit(2)))
      .withColumn("_c0", element_at(col("_c"), 1))
      .withColumn("_c1", element_at(col("_c"), 2))
    complete.agg(
      max(col("_c0") + col("_c1")).cast("long").as("n_hap"),
      count(lit(1)).cast("long").as("n_complete"),
      count(when(col("_c0") > 0 && col("_c1") > 0, lit(1))).cast("long").as("s_seg"),
      coalesce(sum(when(col("_c0") > 0 && col("_c1") > 0, col("_c0") * col("_c1"))),
        lit(0L)).cast("long").as("sum_c0c1"))
  }

  /** Harmonic-number constants of Tajima 1989: a1 = Σ1/i, a2 = Σ1/i²
    * for i < n — LEFT-fold ascending, the order the DuckDB oracle twin
    * reproduces for bitwise-equal constants. */
  def tajimaConstants(nHap: Int): (Double, Double) = {
    var a1 = 0.0; var a2 = 0.0
    var i = 1
    while (i < nHap) { a1 += 1.0 / i; a2 += 1.0 / (i.toDouble * i); i += 1 }
    (a1, a2)
  }

  /** Tajima's D (Tajima 1989 eq. 38) from the one-pass components;
    * None when no site segregates (D undefined). */
  def tajimaD(df: DataFrame, gtCol: String): Option[Double] = {
    val r = tajimaComponents(df, gtCol).head()
    // n_hap is max over zero rows (null) when no site is complete
    if (r.isNullAt(0) || r.getLong(2) == 0) return None
    val n = r.getLong(0).toInt
    val s = r.getLong(2)
    val (a1, a2) = tajimaConstants(n)
    val nn = n.toDouble
    val pi = r.getLong(3).toDouble / (nn * (nn - 1.0) / 2.0)
    val b1 = (nn + 1.0) / (3.0 * (nn - 1.0))
    val b2 = 2.0 * (nn * nn + nn + 3.0) / (9.0 * nn * (nn - 1.0))
    val c1 = b1 - 1.0 / a1
    val c2 = b2 - (nn + 2.0) / (a1 * nn) + a2 / (a1 * a1)
    val e1 = c1 / a1
    val e2 = c2 / (a1 * a1 + a2)
    Some((pi - s / a1) / math.sqrt(e1 * s + e2 * s * (s - 1.0)))
  }

  /** Pairwise linkage disequilibrium r² for variant pairs within
    * `maxDist` positions of each other, from UNPHASED genotypes via the
    * composite (Burrows) correlation of dosages — Rogers & Huff 2009
    * ("Linkage disequilibrium between loci with unknown phase", Genetics
    * 182:839): r = corr(dosᵢ, dosⱼ) over samples called at BOTH loci.
    * With integer sums n, Σx, Σy, Σxy, Σx², Σy²:
    *
    *   r² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²) · (nΣy² − (Σy)²))
    *
    * NULL when either variance term is zero (monomorphic-in-the-
    * pairwise-complete-subset — no correlation is defined). The exact
    * integer numerators (`ld_num` = nΣxy−ΣxΣy, `ld_vx`, `ld_vy`) are
    * emitted alongside, so the division is the only FP step.
    *
    * Scale shape — never all-pairs: variants band to position buckets of
    * width `maxDist`; the left side is exploded to its own and the NEXT
    * bucket, the right side keeps one key, so every qualifying pair
    * (|Δpos| ≤ maxDist, posA < posB) meets on an equi-key EXACTLY once
    * (same-bucket pairs on b, cross-bucket on b+1) and the shuffle
    * carries each dosage vector at most twice. Pair count is linear in
    * variants × (density · maxDist), the genome-scan contract of LD
    * pruning; dosages are computed map-side BEFORE the join so gt
    * arrays never ride the exchange. */
  def ldPairs(df: DataFrame, gtCol: String, posCol: String, maxDist: Long): DataFrame = {
    require(maxDist > 0, s"maxDist=$maxDist must be > 0")
    val dosed = df.select(col(posCol).as("_pos"),
      transform(col(gtCol), s =>
        when(exists(s, a => a === -1), lit(-1))
          .otherwise(aggregate(s, lit(0), (acc, a) => acc + a))).as("_dos"))
    val bucket = floor(col("_pos") / maxDist)
    val left = dosed.select(col("_pos").as("pos_a"), col("_dos").as("_da"),
      explode(array(bucket, bucket + 1)).as("_bkt"))
    val right = dosed.select(col("_pos").as("pos_b"), col("_dos").as("_db"),
      bucket.as("_bkt"))
    val paired = left.join(right, Seq("_bkt"))
      .filter(col("pos_a") < col("pos_b") && col("pos_b") - col("pos_a") <= maxDist)
    val both = filter(
      zip_with(col("_da"), col("_db"), (a, b) => struct(a.as("x"), b.as("y"))),
      p => p("x") >= 0 && p("y") >= 0)
    val zero = struct(lit(0L).as("n"), lit(0L).as("sx"), lit(0L).as("sy"),
      lit(0L).as("sxy"), lit(0L).as("sxx"), lit(0L).as("syy"))
    val sums = aggregate(both, zero, (acc, p) => struct(
      (acc("n") + 1L).as("n"),
      (acc("sx") + p("x")).as("sx"),
      (acc("sy") + p("y")).as("sy"),
      (acc("sxy") + p("x") * p("y")).as("sxy"),
      (acc("sxx") + p("x") * p("x")).as("sxx"),
      (acc("syy") + p("y") * p("y")).as("syy")))
    paired.withColumn("_s", sums)
      .select(col("pos_a"), col("pos_b"),
        col("_s.n").as("n_called"),
        (col("_s.n") * col("_s.sxy") - col("_s.sx") * col("_s.sy")).as("ld_num"),
        (col("_s.n") * col("_s.sxx") - col("_s.sx") * col("_s.sx")).as("ld_vx"),
        (col("_s.n") * col("_s.syy") - col("_s.sy") * col("_s.sy")).as("ld_vy"))
      .withColumn("r2",
        when(col("ld_vx") > 0 && col("ld_vy") > 0,
          (col("ld_num") * col("ld_num")).cast("double") /
            (col("ld_vx") * col("ld_vy")).cast("double")))
  }

  /** LD pruning: drop every variant that is in high LD (r² > `r2Max`
    * within `maxDist`) with an EARLIER-position variant — the standard
    * thinning step before PCA/kinship (each retained pair of neighbors
    * is guaranteed below the threshold ONLY pairwise-vs-kept-or-dropped
    * earlier variants; this is the one-pass "drop the later twin"
    * approximation of plink's greedy windowed prune, which would need a
    * sequential scan). One banded self-join + one anti-join; same
    * linear-in-pairs cost as [[ldPairs]]. */
  def ldPrune(df: DataFrame, gtCol: String, posCol: String,
              maxDist: Long, r2Max: Double): DataFrame = {
    val drop = ldPairs(df, gtCol, posCol, maxDist)
      .filter(col("r2") > r2Max)
      .select(col("pos_b").as(posCol)).distinct()
    df.join(drop, Seq(posCol), "left_anti")
  }

  /** plink-style LD clumping (the post-GWAS index-variant report:
    * `--clump`): walk variants in ASCENDING `scoreCol` order (p-value
    * convention — smaller is better; ties break to lower position),
    * make each still-unclaimed variant an INDEX, and assign every
    * still-unclaimed variant within `maxDist` of it with r² ≥ `r2Min`
    * to its clump. Output one row per input variant: (posCol, score,
    * clump_pos = its index's position, is_index).
    *
    * EXACTLY the sequential greedy, computed in parallel rounds
    * (confluence: the sequential index set is the lexicographically
    * first MIS of the (score, pos) order — v is an index iff no
    * better-ordered FINAL index neighbors it — and taking all local
    * order minima of the remaining-variant LD graph each round,
    * removing them and their neighbors, computes exactly that set: the
    * Luby-MIS argument specialized to a total order. Assignment runs
    * ONCE against the final index set — each claimed variant to its
    * best-ordered adjacent index, the one whose sequential turn claims
    * it first). GenotypeKernelsSpec pins a differential vs the literal
    * sequential reference.
    *
    * Scale shape: LD edges from ONE banded [[ldPairs]] self-join
    * (checkpointed — reused every round); each round is two
    * edge-keyed joins + an anti-join on a frame that SHRINKS by at
    * least the eliminated set, with [[Dedup.transitiveClusters]]-style
    * [[graft.core.Checkpoints.cut]] lineage cuts. Rounds needed = LD-graph
    * "greedy depth", ≤ the longest better-ordered chain — single
    * digits on real panels (LD blocks are short-range). Positions
    * must be unique (the genetics position-key contract). */
  def ldClump(df: DataFrame, gtCol: String, posCol: String, scoreCol: String,
              maxDist: Long, r2Min: Double, maxIter: Int = 64): DataFrame = {
    val sym0 = ldPairs(df, gtCol, posCol, maxDist)
      .filter(col("r2") >= r2Min)
      .select(col("pos_a"), col("pos_b"))
    val sym = sym0.select(col("pos_a").as("_p"), col("pos_b").as("_q"))
      .unionByName(sym0.select(col("pos_b").as("_p"), col("pos_a").as("_q")))
      .cut
    val all = df.select(col(posCol).as("_p"), col(scoreCol).as("_s"))
      .cut
    // rounds fix the INDEX SET only (the lexicographically-first MIS of
    // the order); claims just leave candidacy. Assignment happens once
    // at the end against the FINAL index set — a round-time assignment
    // would bind a claimed variant to an early-round index even when a
    // better-ordered neighbor only becomes an index in a later round,
    // diverging from the sequential walk.
    var remaining = all
    var indexAcc = all.limit(0)
    var it = 0
    while (!remaining.isEmpty && it < maxIter) {
      val live = sym
        .join(remaining, Seq("_p"))
        .join(remaining.select(col("_p").as("_q"), col("_s").as("_qs")), Seq("_q"))
      // v is a new index iff no live neighbor precedes it in (score, pos)
      val dominated = live.filter(
          col("_qs") < col("_s") || (col("_qs") === col("_s") && col("_q") < col("_p")))
        .select(col("_p")).distinct()
      val indexes = remaining.join(dominated, Seq("_p"), "left_anti")
        .cut
      val claimed = live
        .join(indexes.select(col("_p").as("_q")), Seq("_q"))
        .select(col("_p")).distinct()
      indexAcc = indexAcc.unionByName(indexes).cut
      remaining = remaining
        .join(indexes.select(col("_p")).unionByName(claimed), Seq("_p"), "left_anti")
        .cut
      it += 1
    }
    if (!remaining.isEmpty)
      throw new IllegalStateException(
        s"ldClump did not converge within maxIter=$maxIter rounds — " +
        "a better-ordered LD chain longer than maxIter exists; raise maxIter")
    // each non-index goes to its earliest-(score, pos)-ordered adjacent
    // index — exactly the index whose sequential turn claims it first
    val assignments = all
      .join(indexAcc.select(col("_p")), Seq("_p"), "left_anti")
      .join(sym, Seq("_p"))
      .join(indexAcc.select(col("_p").as("_q"), col("_s").as("_qs")), Seq("_q"))
      .groupBy(col("_p"), col("_s"))
      .agg(min(struct(col("_qs"), col("_q"))).as("_w"))
      .select(col("_p"), col("_s"), col("_w._q").as("clump_pos"),
        lit(false).as("is_index"))
    indexAcc.select(col("_p"), col("_s"), col("_p").as("clump_pos"),
        lit(true).as("is_index"))
      .unionByName(assignments)
      .select(col("_p").as(posCol), col("_s").as(scoreCol),
        col("clump_pos"), col("is_index"))
  }

  /** Maximal-unrelated-subset selection (the plink2 `--king-cutoff`
    * step): given pairwise kinship rows (e.g. [[kingPairs]] output),
    * greedily drop the sample with the MOST above-threshold
    * relationships (ties drop the HIGHER index — deterministic) until
    * no related pair survives; emits (sample_idx, kept) for all
    * `nSamples`. The post-threshold edge list is collected to the
    * driver — documented envelope: after any sane cutoff a cohort has
    * O(S) related pairs (relatives are rare), not O(S²); the S² pair
    * GENERATION already lives distributed in [[kingPairs]] /
    * [[PairBlocks]]. */
  def unrelatedSet(pairs: DataFrame, iCol: String, jCol: String,
                   phiCol: String, phiMin: Double, nSamples: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.filter(col(phiCol) > phiMin)
      .select(col(iCol).cast("int"), col(jCol).cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val adj = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Set[Int]]
    edges.foreach { case (i, j) =>
      adj.getOrElseUpdate(i, scala.collection.mutable.Set.empty) += j
      adj.getOrElseUpdate(j, scala.collection.mutable.Set.empty) += i
    }
    val dropped = scala.collection.mutable.Set.empty[Int]
    while (adj.exists(_._2.nonEmpty)) {
      val (worst, _) = adj.filter(_._2.nonEmpty)
        .maxBy { case (s, ns) => (ns.size, s) }
      dropped += worst
      adj(worst).foreach(n => adj(n) -= worst)
      adj(worst).clear()
    }
    (0 until nSamples).map(s => (s, !dropped.contains(s)))
      .toDF("sample_idx", "kept")
  }

  /** Genome-scan windowed Population Branch Statistic (Yi 2010,
    * "Sequencing of 50 human exomes reveals adaptation to high
    * altitude", Science 329:75 — the three-population selection scan):
    * per position window, Hudson F_ST ratio-of-sums for the three pops'
    * pairs (the [[fstWindowed]] reduction), branch lengths
    * T_xy = −ln(1 − fst_xy), and
    *
    *   pbs_a = (T_ab + T_ac − T_bc) / 2    (b, c by rotation)
    *
    * — the allele-frequency branch length private to each population
    * since the divergence of the other two; a selective sweep in A
    * elevates pbs_a alone where plain A-vs-B F_ST can't tell which side
    * moved. NULL where any pairwise fst is undefined or ≥ 1 (branch
    * length infinite).
    *
    * Scale shape: ONE map-only pass computes all three pairs' num/den
    * per variant (per-pop allele counts materialized once, reused by
    * both adjacent pairs), then ONE partial-agg window sum over six
    * fixed-point integer columns — strictly better than composing
    * [[fstWindowed]] three times (three scans + a 3-way join); the
    * shuffle carries one integer row per window. */
  def pbsWindowed(df: DataFrame, gtCol: String, posCol: String, windowSize: Long,
      popA: Seq[Int], popB: Seq[Int], popC: Seq[Int], scale: Int = 6): DataFrame = {
    require(windowSize > 0, "pbsWindowed: windowSize must be positive")
    val fp = math.pow(10, scale)
    def fixed(c: Column) = floor(c * fp + 0.5).cast("long")
    val pops = Seq("a" -> popA, "b" -> popB, "c" -> popC)
    val counted = pops.foldLeft(df) { case (acc, (tag, pop)) =>
      acc.withColumn(s"_c$tag", alleleCounts(selectSamples(col(gtCol), pop), lit(2)))
        .withColumn(s"_n$tag",
          element_at(col(s"_c$tag"), 1) + element_at(col(s"_c$tag"), 2))
        .withColumn(s"_p$tag", when(col(s"_n$tag") > 0,
          element_at(col(s"_c$tag"), 2).cast("double") / col(s"_n$tag").cast("double")))
    }
    val pairs = Seq(("ab", "a", "b"), ("ac", "a", "c"), ("bc", "b", "c"))
    val termed = pairs.foldLeft(counted) { case (acc, (pr, x, y)) =>
      val px = col(s"_p$x"); val py = col(s"_p$y")
      val nx = col(s"_n$x"); val ny = col(s"_n$y")
      val num = (px - py) * (px - py) -
        px * (lit(1.0) - px) / (nx - 1).cast("double") -
        py * (lit(1.0) - py) / (ny - 1).cast("double")
      val den = px * (lit(1.0) - py) + py * (lit(1.0) - px)
      acc.withColumn(s"_num_$pr", when(nx > 1 && ny > 1, num))
        .withColumn(s"_den_$pr", when(nx > 1 && ny > 1, den))
    }
    val winned = termed
      .withColumn("win_start",
        (floor(col(posCol) / windowSize) * windowSize).cast("long"))
      .groupBy(col("win_start"))
      .agg(
        count(when(col("_num_ab").isNotNull && col("_num_ac").isNotNull &&
          col("_num_bc").isNotNull, 1)).as("n_informative"),
        pairs.flatMap { case (pr, _, _) => Seq(
          sum(when(col(s"_num_$pr").isNotNull, fixed(col(s"_num_$pr"))))
            .as(s"num_${pr}_fp"),
          sum(when(col(s"_den_$pr").isNotNull, fixed(col(s"_den_$pr"))))
            .as(s"den_${pr}_fp"))
        }: _*)
    val withFst = pairs.foldLeft(winned) { case (acc, (pr, _, _)) =>
      acc.withColumn(s"fst_$pr", when(col(s"den_${pr}_fp") > 0,
        col(s"num_${pr}_fp").cast("double") / col(s"den_${pr}_fp").cast("double")))
    }
    def t(pr: String) = -log(lit(1.0) - col(s"fst_$pr"))
    val defined = pairs.map { case (pr, _, _) =>
      col(s"fst_$pr").isNotNull && col(s"fst_$pr") < 1.0 }.reduce(_ && _)
    withFst
      .withColumn("pbs_a", when(defined, (t("ab") + t("ac") - t("bc")) / 2.0))
      .withColumn("pbs_b", when(defined, (t("ab") + t("bc") - t("ac")) / 2.0))
      .withColumn("pbs_c", when(defined, (t("ac") + t("bc") - t("ab")) / 2.0))
  }

  /** Per-sample inbreeding coefficient F by the method of moments —
    * the plink `--het` screen (Purcell 2007 §"--het"; the per-sample
    * companion of the per-variant [[graft.functions.GenotypeKernels.inbreedingF]]):
    * over the sites where a sample is CALLED,
    *
    *   F = (O_hom − E_hom) / (L − E_hom)
    *
    * with O_hom the sample's observed homozygous site count, L its
    * called site count, and E_hom = Σ_sites (1 − 2p(1−p)·2n/(2n−1))
    * the cohort-expected homozygosity (p = site alt frequency, n =
    * called samples at the site — the same Nei small-sample correction
    * as exp_het). F ≈ 0 for an outbred sample, > 0 for autozygosity /
    * DNA-quality het deficit, < 0 for contamination-style het excess —
    * the standard sample-QC axis next to [[concordance]] and call rate.
    * NULL when L = E_hom (no information, e.g. zero called sites).
    *
    * Per-site e_hom is converted to fixed point (×10^`scale`, half-up)
    * BEFORE the per-sample sum — the [[fstWindowed]] house pattern:
    * integer sums are exact and partition-order-proof where summed
    * doubles would depend on shuffle arrival order. Scale shape:
    * map-only site kernel + ONE partial-agg sum keyed by sample — the
    * shuffle carries S rows. */
  def sampleInbreeding(df: DataFrame, gtCol: String, scale: Int = 6): DataFrame = {
    val fp = math.pow(10, scale)
    val sited = df
      .withColumn("_c", alleleCounts(col(gtCol), lit(2)))
      .withColumn("_n2", element_at(col("_c"), 1) + element_at(col("_c"), 2))
      .withColumn("_ehom_fp", when(col("_n2") > 1, {
        val p = element_at(col("_c"), 2).cast("double") / col("_n2").cast("double")
        val ehom = lit(1.0) - lit(2.0) * p * (lit(1.0) - p) *
          col("_n2").cast("double") / (col("_n2") - 1).cast("double")
        floor(ehom * fp + 0.5).cast("long")
      }))
    sited
      .filter(col("_ehom_fp").isNotNull)
      .select(col("_ehom_fp"), posexplode(col(gtCol)).as(Seq("sample_idx", "_s")))
      .withColumn("_called", !exists(col("_s"), a => a === -1))
      .withColumn("_hom", col("_called") && size(array_distinct(col("_s"))) === 1)
      .filter(col("_called"))
      .groupBy(col("sample_idx"))
      .agg(
        count(lit(1)).cast("long").as("n_sites"),
        sum(when(col("_hom"), 1L).otherwise(0L)).as("n_hom_obs"),
        sum(col("_ehom_fp")).as("ehom_fp"))
      .withColumn("f", {
        val e = col("ehom_fp").cast("double") / lit(fp)
        val denom = col("n_sites").cast("double") - e
        when(denom =!= 0.0, (col("n_hom_obs").cast("double") - e) / denom)
      })
  }

  /** Per-sample phasing switch-error rate between two callsets of the
    * same cohort (the standard phasing-QC metric — switch errors per
    * comparable het-het pair, cf. the SHAPEIT/Beagle evaluation
    * convention): genotype arrays are ordered allele pairs (phased
    * representation), and at every variant where a sample is het in
    * BOTH callsets with the same unordered genotype, the relative
    * orientation is either `same` ([a₁,a₂] = [b₁,b₂]) or `flipped`
    * ([a₁,a₂] = [b₂,b₁]). Walking those comparable sites in `posCol`
    * order, a SWITCH is an orientation change between consecutive
    * sites. Output per sample: `n_pairs` (consecutive comparable-site
    * pairs), `n_switches`, `switch_rate` (null when no pairs).
    *
    * Scale shape: ONE variant-keyed equi-join (same contract as
    * [[concordance]]), a map-side explode to comparable het sites only
    * (hom and discordant sites never enter the shuffle), then ONE
    * sample-keyed window in position order + a partial-agg sum — per
    * sample the window state is O(1), and samples parallelize across
    * partitions. */
  def switchErrors(dfA: DataFrame, dfB: DataFrame,
                   idCol: String, posCol: String, gtCol: String): DataFrame = {
    val a = dfA.select(col(idCol).as("_id"), col(posCol).as("_pos"),
      col(gtCol).as("_ga"))
    val b = dfB.select(col(idCol).as("_id"), col(gtCol).as("_gb"))
    val paired = zip_with(col("_ga"), col("_gb"), (x, y) => {
      val comparable = !exists(x, v => v === -1) && !exists(y, v => v === -1) &&
        size(array_distinct(x)) === 2 && array_sort(x) === array_sort(y)
      // orientation: 0 = same allele order, 1 = flipped; null = not comparable
      when(comparable, when(x === y, 0).otherwise(1)).otherwise(lit(null).cast("int"))
    })
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("sample_idx")).orderBy(col("_pos"))
    a.join(b, "_id")
      .select(col("_pos"), posexplode(paired).as(Seq("sample_idx", "_o")))
      .filter(col("_o").isNotNull)
      .withColumn("_prev", lag(col("_o"), 1).over(w))
      .groupBy(col("sample_idx"))
      .agg(
        count(col("_prev")).cast("long").as("n_pairs"),
        sum(when(col("_prev").isNotNull && col("_o") =!= col("_prev"), 1L)
          .otherwise(0L)).as("n_switches"))
      .withColumn("switch_rate", when(col("n_pairs") > 0,
        col("n_switches").cast("double") / col("n_pairs").cast("double")))
  }

  /** Pairwise IBD-segment scan, GERMLINE-style (Gusev 2009, "Whole
    * population, genome-wide mapping of hidden relatedness", Genome
    * Res 19:318 — the hash-seeded approach that avoids all-pairs
    * comparison): slice the genome into `windowSize`-position windows,
    * fingerprint every sample's EXACT genotype sequence per window,
    * bucket samples by (window, fingerprint), and report runs of ≥
    * `minWindows` CONSECUTIVE shared windows per sample pair as IBD
    * segments (si < sj, win_start, win_end, n_windows).
    *
    * Match semantics are strict sequence identity (missing calls
    * included in the fingerprint — both samples must agree on the
    * whole window, GERMLINE's exact-match seed phase; fuzzy extension
    * over genotyping error is a caller-side relaxation). Fingerprints
    * are xxhash64 of the position-sorted (pos, dosage) structs —
    * partitioning-independent, collisions 2⁻⁶⁴ (the md5 chunk-key
    * convention).
    *
    * Scale shape: one (window, sample)-keyed agg builds fingerprints
    * (the S×V explode shuffles scalars, not arrays), one
    * (window, hash)-keyed agg forms buckets; buckets wider than
    * `maxBucket` samples are DROPPED before pair generation (the
    * inverted-index df-cap convention — a monomorphic window matches
    * everyone and carries no relatedness signal; dropped windows can
    * only split segments, never fabricate them), so pair fan-out is
    * bounded by maxBucket²/2 per window. The final islands pass is one
    * (pair)-keyed window — gaps-and-islands exactly like
    * [[rohSegments]]. */
  def ibdSegments(df: DataFrame, gtCol: String, posCol: String,
                  windowSize: Long, minWindows: Int,
                  maxBucket: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = df
      .select(col(posCol).as("_pos"),
        (floor(col(posCol) / windowSize) * windowSize).cast("long").as("_win"),
        posexplode(transform(col(gtCol), s =>
          when(exists(s, a => a === -1), lit(-1))
            .otherwise(aggregate(s, lit(0), (acc, a) => acc + a))))
          .as(Seq("sample_idx", "_dos")))
      .groupBy(col("_win"), col("sample_idx"))
      .agg(xxhash64(sort_array(collect_list(
        struct(col("_pos"), col("_dos"))))).as("_h"))
    val buckets = fp.groupBy(col("_win"), col("_h"))
      .agg(sort_array(collect_list(col("sample_idx"))).as("_ss"))
      .filter(size(col("_ss")) >= 2 && size(col("_ss")) <= maxBucket)
    val pairs = buckets
      .select(col("_win"), explode(col("_ss")).as("si"), col("_ss"))
      .select(col("_win"), col("si"), explode(col("_ss")).as("sj"))
      .filter(col("si") < col("sj"))
    val w = Window.partitionBy(col("si"), col("sj")).orderBy(col("_win"))
    pairs
      .withColumn("_rn", row_number().over(w))
      .withColumn("_grp", col("_win") - col("_rn") * windowSize)
      .groupBy(col("si"), col("sj"), col("_grp"))
      .agg(min(col("_win")).as("win_start"), max(col("_win")).as("win_end"),
        count(lit(1)).cast("long").as("n_windows"))
      .filter(col("n_windows") >= minWindows)
      .drop("_grp")
  }

  /** Mendelian-error scan over family trios — the plink `--mendel`
    * family QC: per variant, how many (child, father, mother) trios
    * were fully called and how many of those are IMPOSSIBLE under
    * Mendelian transmission (no assignment of one child allele to each
    * parent's genotype exists — unphased diploid: {c₁,c₂} valid iff
    * c₁∈F ∧ c₂∈M or c₂∈F ∧ c₁∈M, multiset membership). Excess errors
    * flag genotyping artifacts or sample swaps; trios with any missing
    * call are skipped, not counted.
    *
    * Scale shape: the trio list is study metadata (driver-side, tiny)
    * compiled into the projection — per variant the check is map-only
    * array arithmetic, no shuffle, no explode. Returns (vid, per-trio
    * sums): (posCol, n_checked, n_errors). */
  def mendelErrors(df: DataFrame, gtCol: String, posCol: String,
                   trios: Seq[(Int, Int, Int)]): DataFrame = {
    require(trios.nonEmpty, "empty trio list")
    val cells = trios.map { case (c, f, m) =>
      val ch = element_at(col(gtCol), c + 1)
      val fa = element_at(col(gtCol), f + 1)
      val mo = element_at(col(gtCol), m + 1)
      // the c1-from-one-parent / c2-from-the-other rule needs a DIPLOID
      // child call; a haploid child (chrY, male X) is skipped like a
      // missing call — the size guard also short-circuits the
      // element_at(ch, 2) below, which would throw under ANSI mode on
      // a 1-allele array (parents stay ploidy-general: membership via
      // array_contains works at any parent ploidy)
      val called = size(ch) === 2 &&
        !(array_contains(ch, -1) || array_contains(fa, -1) ||
          array_contains(mo, -1))
      val c1 = element_at(ch, 1)
      val c2 = element_at(ch, 2)
      val ok = (array_contains(fa, c1) && array_contains(mo, c2)) ||
        (array_contains(fa, c2) && array_contains(mo, c1))
      (called.cast("long"), (called && !ok).cast("long"))
    }
    df.select(col(posCol),
      cells.map(_._1).reduce(_ + _).as("n_checked"),
      cells.map(_._2).reduce(_ + _).as("n_errors"))
  }

  /** Composite per-sample QC report — the plink `--missing` +
    * `--het` + singleton-count sweep in ONE pass: per sample,
    * callability (n_called / n_sites), heterozygosity among called
    * sites, and the sample's SINGLETON count (variants whose single
    * cohort-wide alt allele this sample carries — the standard
    * contamination/quality tell: excess singletons ⇒ sequencing
    * artifacts, deficit ⇒ consanguinity or reference bias).
    *
    * Scale shape: cohort-level per-variant cells (alt count) ride the
    * row from the one-pass allele-count kernel, then ONE posexplode +
    * ONE sample-keyed integer agg — same single-exchange contract as
    * [[sampleInbreeding]]; rates are one float division on top of
    * exact integer cells. */
  def sampleQcReport(df: DataFrame, gtCol: String): DataFrame = {
    val sited = df
      .withColumn("_c", alleleCounts(col(gtCol), lit(2)))
      .withColumn("_ac", element_at(col("_c"), 2).cast("long"))
    sited
      .select(col("_ac"), posexplode(col(gtCol)).as(Seq("sample_idx", "_s")))
      .withColumn("_called", !exists(col("_s"), a => a === -1))
      .withColumn("_het",
        col("_called") && size(array_distinct(col("_s"))) > 1)
      .withColumn("_nalt",
        when(col("_called"), size(filter(col("_s"), a => a === 1)).cast("long"))
          .otherwise(lit(0L)))
      .groupBy(col("sample_idx"))
      .agg(
        count(lit(1)).cast("long").as("n_sites"),
        sum(when(col("_called"), 1L).otherwise(0L)).as("n_called"),
        sum(when(col("_het"), 1L).otherwise(0L)).as("n_het"),
        sum(when(col("_ac") === 1 && col("_nalt") === 1, 1L).otherwise(0L))
          .as("n_singleton"))
      .withColumn("call_rate",
        col("n_called").cast("double") / col("n_sites").cast("double"))
      .withColumn("het_rate", when(col("n_called") > 0,
        col("n_het").cast("double") / col("n_called").cast("double")))
  }

  /** Per-sample heterozygous ALLELE BALANCE screen (GATK's AB metric,
    * aggregated per sample — the contamination / allelic-bias tell
    * read depth makes visible: a clean het site draws reads from both
    * alleles at ~0.5 ref fraction, while cross-sample contamination
    * or reference bias skews the distribution cohort-wide; reference:
    * vcf depth-field semantics, VCFv4.x spec AD/RO/AO fields, public):
    * per (site, sample) where the call is HETEROZYGOUS and reads are
    * present, ref-read balance = ro/(ro + Σ_j ao_j); per sample the
    * report carries n_ab sites, the exact integer read totals, and
    * the micro-unit balance sum (each site's balance floored to e6
    * BEFORE summing — the [[graft.ext.Search]] fixed-point sum
    * discipline, so partial-agg order is immaterial), plus mean_ab as
    * one final division.
    *
    * Scale shape: ONE posexplode + ONE sample-keyed integer agg —
    * the [[sampleQcReport]] single-exchange contract; depth arrays
    * are consumed map-side and never shuffle. */
  def alleleBalance(df: DataFrame, gtCol: String, roCol: String,
                    aoCol: String): DataFrame = {
    df.select(posexplode(col(gtCol)).as(Seq("sample_idx", "_s")),
        col(roCol).as("_ro"), col(aoCol).as("_ao"))
      .withColumn("_het",
        !exists(col("_s"), a => a === -1) &&
          size(array_distinct(col("_s"))) > 1)
      .withColumn("_r",
        greatest(element_at(col("_ro"), col("sample_idx") + 1).cast("long"), lit(0L)))
      .withColumn("_a", aggregate(
        element_at(col("_ao"), col("sample_idx") + 1), lit(0L),
        (acc, x) => acc + greatest(x.cast("long"), lit(0L))))
      .filter(col("_het") && (col("_r") + col("_a")) > 0)
      .withColumn("_ab6", expr("_r * 1000000L div (_r + _a)"))
      .groupBy(col("sample_idx"))
      .agg(
        count(lit(1)).as("n_ab"),
        sum(col("_r")).as("ref_reads"),
        sum(col("_a")).as("alt_reads"),
        sum(col("_ab6")).as("ab_sum_e6"))
      .withColumn("mean_ab_e6",
        floor(col("ab_sum_e6").cast("double") / col("n_ab") + 0.5).cast("long"))
  }

  /** Cross-callset sample-swap scan (the identity-QC step run whenever
    * the same cohort is assayed twice — array vs sequencing, plate
    * re-runs: a mislabeled tube shows up as sample i's genotypes
    * matching some OTHER column j of the second callset better than
    * its own). For every sample i of callset A, finds the callset-B
    * column with the highest genotype concordance (n_match/n_comp over
    * variants shared by the two callsets where both calls are present;
    * unphased dosage compare), ties broken to the LOWEST j; emits the
    * best match alongside the same-index concordance and a `swapped`
    * flag (best ≠ self). Argmax on the float ratio is deterministic
    * cross-engine: equal rationals divide to the IDENTICAL double
    * (both divisions round the same real), so the (ratio DESC, j ASC)
    * order is total and engine-stable.
    *
    * Scale shape: the full SA×SB concordance matrix from ONE scan of
    * the variant-keyed equi-join via FOUR [[graft.functions.OuterSumAgg]]
    * matrices (per-dosage-class indicator outer products — matches =
    * O_RR′+O_HH′+O_AA′, comparable = O_CC′; the [[PairBlocks]]
    * decomposition applied cross-callset), so genotype arrays never
    * shuffle and no S² row explosion exists. Driver holds 4·SA·SB
    * doubles — the [[kingGramian]] envelope (~9k×9k); wider cohorts
    * block the same way [[PairBlocks]] does. */
  def sampleSwapScan(dfA: DataFrame, dfB: DataFrame,
                     idCol: String, gtCol: String): DataFrame = {
    import graft.functions.OuterSumAgg
    val spark = dfA.sparkSession
    import spark.implicits._
    def dosed(df: DataFrame, out: String) = df.select(col(idCol).as("_id"),
      transform(col(gtCol), s =>
        when(exists(s, a => a === -1), lit(-1))
          .otherwise(aggregate(s, lit(0), (acc, a) => acc + a))).as(out))
    val j = dosed(dfA, "_da").join(dosed(dfB, "_db"), "_id")
    def ind(c: String, p: Column => Column) =
      transform(col(c), d => when(p(d), 1.0).otherwise(0.0))
    val row = j.select(
        ind("_da", _ === 0).as("_ar"), ind("_da", _ === 1).as("_ah"),
        ind("_da", _ === 2).as("_aa"), ind("_da", _ >= 0).as("_ac"),
        ind("_db", _ === 0).as("_br"), ind("_db", _ === 1).as("_bh"),
        ind("_db", _ === 2).as("_ba"), ind("_db", _ >= 0).as("_bc"))
      .agg(
        OuterSumAgg.of(col("_ar"), col("_br")).as("orr"),
        OuterSumAgg.of(col("_ah"), col("_bh")).as("ohh"),
        OuterSumAgg.of(col("_aa"), col("_ba")).as("oaa"),
        OuterSumAgg.of(col("_ac"), col("_bc")).as("occ"))
      .head()
    val empty = spark.emptyDataFrame
      .select(lit(0).as("a_idx"), lit(0).as("best_b_idx"),
        lit(0L).as("n_match"), lit(0L).as("n_comp"),
        lit(0.0).as("concordance"), lit(0L).as("self_match"),
        lit(0L).as("self_comp"), lit(false).as("swapped"))
      .limit(0)
    if (row.isNullAt(0)) return empty
    val (orr, ohh, oaa, occ) = (
      row.getSeq[Double](0).toArray, row.getSeq[Double](1).toArray,
      row.getSeq[Double](2).toArray, row.getSeq[Double](3).toArray)
    val sa = orr(0).toInt; val sb = orr(1).toInt
    val bc = spark.sparkContext.broadcast((orr, ohh, oaa, occ))
    spark.range(0, sa).as[Long].flatMap { iL =>
      val (mrr, mhh, maa, mcc) = bc.value
      val i = iL.toInt
      def at(m: Array[Double], jj: Int) = m(2 + jj * sa + i).toLong
      def cells(jj: Int) =
        (at(mrr, jj) + at(mhh, jj) + at(maa, jj), at(mcc, jj))
      // (ratio DESC, j ASC) — comparable-free columns never win
      val best = (0 until sb).iterator
        .map(jj => (jj, cells(jj)))
        .filter(_._2._2 > 0)
        .reduceOption { (x, y) =>
          val (rx, ry) = (x._2._1.toDouble / x._2._2, y._2._1.toDouble / y._2._2)
          if (ry > rx || (ry == rx && y._1 < x._1)) y else x
        }
      best.iterator.map { case (bj, (m, c)) =>
        val (sm, sc) = if (i < sb) cells(i) else (0L, 0L)
        (i, bj, m, c, m.toDouble / c, sm, sc, bj != i)
      }
    }.toDF("a_idx", "best_b_idx", "n_match", "n_comp",
        "concordance", "self_match", "self_comp", "swapped")
  }

  /** Per-sample genotype concordance between two callsets sharing the
    * same sample axis (the standard cross-platform / re-call QC: array
    * vs sequencing, caller A vs caller B, pre/post-imputation). Inner
    * join on `idCol` scopes the comparison to SHARED variants; per
    * sample, counts over those variants:
    *
    *   n_both_called  — called in both callsets
    *   n_concordant   — both called, same unordered genotype
    *                    (array_sort before compare: 0/1 ≡ 1/0 — calls
    *                    are unphased)
    *   n_a_only / n_b_only — called in exactly one
    *   n_both_missing
    *   concordance    — n_concordant / n_both_called (null when 0)
    *
    * Scale shape: ONE variant-keyed equi-join (the genuinely required
    * shuffle — both callsets co-partition on `idCol`; AQE picks
    * broadcast when one side is a small panel), then a map-side
    * zip_with to per-sample flag structs and a partial-agg sum keyed by
    * sample_idx — the second shuffle carries S rows total. Flags are
    * exact integers; the rate is one division on top. */
  def concordance(dfA: DataFrame, dfB: DataFrame,
                  idCol: String, gtCol: String): DataFrame = {
    val a = dfA.select(col(idCol).as("_id"), col(gtCol).as("_ga"))
    val b = dfB.select(col(idCol).as("_id"), col(gtCol).as("_gb"))
    val flags = zip_with(col("_ga"), col("_gb"), (x, y) => {
      val ca = !exists(x, v => v === -1)
      val cb = !exists(y, v => v === -1)
      struct(
        when(ca && cb, 1L).otherwise(0L).as("bc"),
        when(ca && cb && array_sort(x) === array_sort(y), 1L).otherwise(0L).as("cc"),
        when(ca && !cb, 1L).otherwise(0L).as("ao"),
        when(!ca && cb, 1L).otherwise(0L).as("bo"),
        when(!ca && !cb, 1L).otherwise(0L).as("bm"))
    })
    a.join(b, "_id")
      .select(posexplode(flags).as(Seq("sample_idx", "_f")))
      .groupBy(col("sample_idx"))
      .agg(
        sum(col("_f.bc")).as("n_both_called"),
        sum(col("_f.cc")).as("n_concordant"),
        sum(col("_f.ao")).as("n_a_only"),
        sum(col("_f.bo")).as("n_b_only"),
        sum(col("_f.bm")).as("n_both_missing"))
      .withColumn("concordance", when(col("n_both_called") > 0,
        col("n_concordant").cast("double") / col("n_both_called").cast("double")))
  }
}
