package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-variant genotype kernels as Catalyst `Column` expressions.
  *
  * These are the engine's equivalents of the reference's NumPy kernels
  * (`variation6/stats.py::count_alleles / calc_maf_by_gt / calc_obs_het /
  * calc_unbias_expected_het / calc_missing_gt`, `variation6/filters.py`
  * masking helpers) re-expressed as higher-order functions over the
  * `VariantSchema` array columns — so every kernel stays inside
  * whole-stage codegen, is map-only (no shuffle), and composes freely
  * with filters and projections that Catalyst can reorder/push down.
  *
  * Conventions (SURVEY.md §1.1):
  *   - missing sentinel -1 inside `gt`; a *sample call* is missing when
  *     ANY of its ploidy entries is -1 (scikit-allel convention the
  *     reference follows);
  *   - statistics over "called" entries only; rates are NaN (not null)
  *     when the denominator is 0, mirroring NumPy 0/0.
  */
object GenotypeKernels {

  private val Missing = lit(graft.core.VariantSchema.MissingInt)
  private def nan: Column = lit(Double.NaN)

  /** True per sample-call: no ploidy entry is the missing sentinel. */
  private def calledSample(s: Column): Column = !exists(s, a => a === Missing)

  /** Per-sample dosage (alt-allele sum; −1 for a missing call) from a
    * `gt: array<array<int>>` column — the one missing-call convention
    * of the pairwise statistics (IBS, KING, GRM, LD, association). */
  def dosages(gt: Column): Column =
    transform(gt, s =>
      when(exists(s, a => a === -1), lit(-1))
        .otherwise(aggregate(s, lit(0), (acc, a) => acc + a)))

  /** Dosage-class indicator vectors (1.0 / 0.0) of a [[dosages]]
    * column, in the order R = 1[dos = 0], H = 1[dos = 1],
    * A = 1[dos = 2], C = 1[called] — the operands whose gramian and
    * outer-product matrices every IBS / KING / concordance count is a
    * linear combination of. */
  def classIndicators(dos: Column): Seq[Column] =
    Seq[Column => Column](_ === 0, _ === 1, _ === 2, _ >= 0)
      .map(p => transform(dos, d => when(p(d), 1.0).otherwise(0.0)))

  /** Number of samples with a fully-called genotype. */
  def calledGtCount(gt: Column): Column =
    size(filter(gt, s => calledSample(s))).cast("long")

  /** Number of samples with a missing genotype. */
  def missingGtCount(gt: Column): Column =
    (size(gt) - size(filter(gt, s => calledSample(s)))).cast("long")

  /** Fraction of samples called; NaN on an empty sample axis. */
  def callRate(gt: Column): Column =
    when(size(gt) === 0, nan)
      .otherwise(calledGtCount(gt).cast("double") / size(gt).cast("double"))

  /** All genotype entries across samples, missing excluded. */
  private def calledAlleles(gt: Column): Column =
    filter(flatten(gt), a => a =!= Missing)

  /** Total called alleles (= ploidy × called samples when no partial calls). */
  def calledAlleleCount(gt: Column): Column =
    size(calledAlleles(gt)).cast("long")

  /** Per-variant allele histogram: element i = count of allele code i,
    * for codes 0..nAlleles-1 (`nAlleles` is typically `size(alt)+1`).
    * The reference's workhorse `count_alleles` kernel. */
  def alleleCounts(gt: Column, nAlleles: Column): Column =
    transform(
      sequence(lit(0), nAlleles - 1),
      i => size(filter(calledAlleles(gt), a => a === i)).cast("long"))

  /** counts → frequencies (NaN-safe). */
  def alleleFreqs(counts: Column): Column = {
    val total = aggregate(counts, lit(0L), (acc, c) => acc + c)
    transform(counts, c =>
      when(total === 0, nan).otherwise(c.cast("double") / total.cast("double")))
  }

  // Counts-based kernel forms: callers computing several statistics
  // should materialize `alleleCounts` into a column ONCE and use these —
  // lambda HOFs are interpreted, so a multiply-referenced counts
  // EXPRESSION would be re-evaluated at every reference (see
  // Stats.variantStats / Dedup scaladoc on the same trap).

  /** Major (= max) allele frequency from a counts histogram. */
  def majorFreqFromCounts(counts: Column): Column = {
    val total = aggregate(counts, lit(0L), (acc, c) => acc + c)
    when(total === 0, nan)
      .otherwise(array_max(counts).cast("double") / total.cast("double"))
  }

  /** MAC from a counts histogram: count of the SECOND-most-frequent
    * allele (the reference's biallelic definition, pinned for
    * multi-allelic sites too — FIXTURES.md §B.2 footnote). */
  def macFromCounts(counts: Column): Column = {
    val sortedDesc = reverse(array_sort(counts))
    when(size(sortedDesc) >= 2, element_at(sortedDesc, 2)).otherwise(lit(0L))
  }

  /** Minor-allele count from GT. 0 when < 2 alleles seen. */
  def mac(gt: Column, nAlleles: Column): Column =
    macFromCounts(alleleCounts(gt, nAlleles))

  /** Distinct allele codes observed, from a counts histogram. */
  def observedFromCounts(counts: Column): Column =
    size(filter(counts, c => c > 0)).cast("long")

  /** Distinct allele codes actually observed (for variable-variants /
    * biallelic filters). */
  def observedAlleleCount(gt: Column, nAlleles: Column): Column =
    observedFromCounts(alleleCounts(gt, nAlleles))

  /** Observed heterozygosity: among called samples, fraction carrying
    * ≥ 2 distinct alleles. NaN when nothing is called. */
  def obsHet(gt: Column): Column = {
    val called = size(filter(gt, s => calledSample(s)))
    val hets = size(filter(gt, s =>
      calledSample(s) && size(array_distinct(s)) >= 2))
    when(called === 0, nan).otherwise(hets.cast("double") / called.cast("double"))
  }

  /** Nei's unbiased expected het from a counts histogram:
    * (1 − Σ pᵢ²) · t/(t−1) with t = called alleles (2n for diploid). */
  def expHetFromCounts(counts: Column): Column = {
    val t = aggregate(counts, lit(0L), (acc, c) => acc + c).cast("double")
    val sumSq = aggregate(counts, lit(0.0), (acc, c) =>
      acc + c.cast("double") * c.cast("double"))
    when(t <= 1, nan).otherwise((lit(1.0) - sumSq / (t * t)) * t / (t - 1))
  }

  /** Genotype-class counts for a biallelic diploid variant among called
    * samples: struct(n_hom_ref, n_het, n_hom_alt) — the sufficient
    * statistic for Hardy–Weinberg tests. Map-only, three filter passes
    * over the per-variant sample array. */
  def genotypeClassCounts(gt: Column): Column = struct(
    size(filter(gt, s => calledSample(s) && forall(s, a => a === 0)))
      .cast("long").as("n_hom_ref"),
    size(filter(gt, s => calledSample(s) && size(array_distinct(s)) >= 2))
      .cast("long").as("n_het"),
    size(filter(gt, s => calledSample(s) && forall(s, a => a === 1)))
      .cast("long").as("n_hom_alt"))

  /** Hardy–Weinberg chi-square (1 df) from genotype-class counts: with
    * p̂ = (2·AA + Het)/(2n), expected (p̂²n, 2p̂q̂n, q̂²n) vs observed.
    * NaN when n = 0 or the variant is monomorphic (an expected class is
    * empty — the test is undefined, not zero). Arithmetic is written in
    * a fixed evaluation order so the DuckDB oracle twin reproduces the
    * doubles bit-for-bit. */
  def hweChi2FromClasses(classes: Column): Column = {
    val aa = classes.getField("n_hom_ref").cast("double")
    val het = classes.getField("n_het").cast("double")
    val bb = classes.getField("n_hom_alt").cast("double")
    val n = aa + het + bb
    val p = (lit(2.0) * aa + het) / (lit(2.0) * n)
    val q = lit(1.0) - p
    val ea = n * p * p
    val eh = lit(2.0) * n * p * q
    val eb = n * q * q
    // nested guards, not one disjunction: under ANSI mode (Spark 4
    // default) even double division by zero throws, so p must never be
    // EVALUATED when n = 0, nor the expected-count divisions when an
    // expected class is empty — CaseWhen branches evaluate lazily.
    when(n === 0, nan).otherwise(
      when(p === 0 || q === 0, nan).otherwise(
        (aa - ea) * (aa - ea) / ea +
        (het - eh) * (het - eh) / eh +
        (bb - eb) * (bb - eb) / eb))
  }

  /** Wright's inbreeding coefficient F_IS = 1 − H_obs/H_exp. NaN when
    * either component is undefined OR H_exp = 0 (monomorphic — the
    * ratio is 0/0; guarded explicitly because ANSI mode rejects the
    * division rather than producing NaN). */
  def inbreedingF(gt: Column, nAlleles: Column): Column = {
    val he = expHetFromCounts(alleleCounts(gt, nAlleles))
    when(isnan(he) || he === 0.0, nan)
      .otherwise(lit(1.0) - obsHet(gt) / he)
  }

  /** Major allele frequency from read depths (`calc_maf_by_allele_count`):
    * ref reads from RO, per-alt reads from AO, negatives treated as 0.
    * Null when AO/RO are absent (the reference raises on missing fields;
    * relationally the row's stat is just null). */
  def majorAlleleFreqByDepth(ao: Column, ro: Column, nAlt: Column): Column = {
    val refTotal = aggregate(ro, lit(0L), (acc, r) => acc + greatest(r.cast("long"), lit(0L)))
    // monomorphic guard: sequence(1, 0) counts DOWN (Spark defaults the
    // step to -1 when start > stop) and element_at(_, 0) throws — with
    // no alts the index list is simply empty (freq = ref share,
    // greatest() ignores array_max's null)
    val altIdx = when(nAlt >= 1, sequence(lit(1), nAlt))
      .otherwise(array().cast("array<int>"))
    val altTotals = transform(
      altIdx,
      j => aggregate(ao, lit(0L), (acc, s) => acc + greatest(element_at(s, j).cast("long"), lit(0L))))
    val altSum = aggregate(altTotals, lit(0L), (acc, c) => acc + c)
    val total = refTotal + altSum
    when(ao.isNull || ro.isNull, lit(null).cast("double"))
      .when(total === 0, nan)
      .otherwise(greatest(refTotal, array_max(altTotals)).cast("double") / total.cast("double"))
  }

  /** Set a sample's GT to missing where its depth is below `minDepth`
    * (`min_depth_gt_to_missing`): cell-wise rewrite, row count unchanged. */
  def maskGtByDepth(gt: Column, dp: Column, minDepth: Int): Column =
    zip_with(gt, dp, (g, d) =>
      when(d.isNull || d < minDepth, array_repeat(Missing, size(g))).otherwise(g))

  /** Same masking keyed on genotype quality (GQ variant). */
  def maskGtByQual(gt: Column, gq: Column, minQual: Double): Column =
    zip_with(gt, gq, (g, q) =>
      when(q.isNull || q < minQual, array_repeat(Missing, size(g))).otherwise(g))

  /** Project a per-sample array column down to `indices` (0-based, in the
    * new sample order) — the reference's keep/remove_samples axis-1 slice. */
  def selectSamples(perSample: Column, indices: Seq[Int]): Column =
    array(indices.map(i => element_at(perSample, i + 1)): _*)
}
