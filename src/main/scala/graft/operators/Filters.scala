package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.VariantsMetadata
import graft.functions.GenotypeKernels._

/** Variant filters (σ) with the reference's FLT_STATS side-output protocol:
  * every filter yields the kept rows plus {N_KEPT, N_FILTERED_OUT}
  * (`variation6/filters.py`, `FLT_VARS`/`FLT_STATS` constants).
  *
  * Two entry styles:
  *   - single-filter: `Filters.apply(df, Filters.byCallRate(0.9))` — stats
  *     cost one extra aggregation job over the input;
  *   - pipeline (preferred, mirrors the reference's single `compute()`
  *     sharing): `VariantPipeline(df).maskByDepth(5).byCallRate(0.9)
  *     .byMaf(max = 0.95).run()` — ALL stages' stats come from ONE fused
  *     aggregation pass (cumulative-predicate sums), so a k-stage pipeline
  *     costs one stats scan + one output scan regardless of k, with no
  *     cache required. At 100 TB this is the difference between 2 scans
  *     and k+1 scans.
  */
object Filters {

  final case class FilterStats(nKept: Long, nFilteredOut: Long) {
    def total: Long = nKept + nFilteredOut
  }
  final case class FilterResult(kept: DataFrame, stats: FilterStats)

  /** nAlleles expression used by allele-code kernels: alt list + ref. */
  private def nAlleles: Column = coalesce(size(col("alt")), lit(0)) + 1

  /** One-pass codegen'd genotype stats struct (GtStatsExpr). Referencing
    * several fields re-states the expression, but gt_stats is
    * deterministic + codegen-capable, so whole-stage subexpression
    * elimination evaluates it once per row. */
  private def gs: Column = graft.functions.GtStats.of(col("gt"), nAlleles)

  // ── predicate builders (composable Columns). NaN semantics follow
  // Spark ordering (NaN sorts LAST/greatest): a NaN stat passes `>= min`
  // but fails `<= max` — pinned by FiltersSpec against the HOF kernels. ──
  def byCallRate(minRate: Double): Column = {
    val g = gs
    val rate = when(g.getField("n_samples") === 0, lit(Double.NaN))
      .otherwise(g.getField("n_called").cast("double") / g.getField("n_samples").cast("double"))
    rate >= minRate
  }

  def byMaf(min: Double = 0.0, max: Double = 1.0): Column = {
    val f = majorFreqFromCounts(gs.getField("counts"))
    f >= min && f <= max
  }

  def byMafDepth(min: Double = 0.0, max: Double = 1.0): Column = {
    val f = majorAlleleFreqByDepth(col("ao"), col("ro"), coalesce(size(col("alt")), lit(0)))
    f >= min && f <= max
  }

  def byMac(min: Long = 0L, max: Long = Long.MaxValue): Column = {
    val m = macFromCounts(gs.getField("counts"))
    m >= min && m <= max
  }

  def byObsHet(min: Double = 0.0, max: Double = 1.0): Column = {
    val g = gs
    val h = when(g.getField("n_called") === 0, lit(Double.NaN))
      .otherwise(g.getField("n_het").cast("double") / g.getField("n_called").cast("double"))
    h >= min && h <= max
  }

  def byQual(minQual: Double): Column = col("qual") >= minQual

  /** Keep variants inside any of the (chrom, start, end] regions —
    * pos predicates reach parquet row-group pruning, chrom predicates the
    * partition pruning (our analog of the reference's sorted-pos slicing). */
  def inRegions(regions: Seq[(String, Long, Long)]): Column =
    // an empty region list matches NOTHING (lit(false)) — reduceLeft on
    // empty would throw an opaque UnsupportedOperationException when an
    // upstream interval query comes back empty
    regions.map { case (c, s, e) =>
      col("chrom") === c && col("pos") > s && col("pos") <= e
    }.foldLeft(lit(false))(_ || _)

  def outRegions(regions: Seq[(String, Long, Long)]): Column = !inRegions(regions)

  /** ≥ 2 alleles observed (drop monomorphic) — keep_variable_variations. */
  def variableOnly: Column = observedFromCounts(gs.getField("counts")) >= 2

  /** ≤ 2 alleles observed (drop multi-allelic sites). */
  def biallelicOnly: Column = observedFromCounts(gs.getField("counts")) <= 2

  /** Run one filter, computing the FLT_STATS side-output in a single
    * aggregation job (kept remains a lazy DataFrame). */
  def apply(df: DataFrame, pred: Column): FilterResult = {
    val row = df.agg(
      sum(when(pred, 1L).otherwise(0L)).as("k"),
      count(lit(1)).as("n")).head()
    val k = if (row.isNullAt(0)) 0L else row.getLong(0)
    FilterResult(df.filter(pred), FilterStats(k, row.getLong(1) - k))
  }

  /** FLT_STATS with ZERO extra scan: the counts ride the caller's own
    * action as observed metrics (a CollectMetrics node below the
    * filter — Catalyst does not push the filter through it, so the
    * metrics see every input row). Read `observation.get` AFTER the
    * first action on the returned frame; at 100 TB this turns the
    * stats pass from a second full scan into a free side-channel. */
  def applyObserved(df: DataFrame, pred: Column,
                    name: String = "flt_stats"): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val observed = df.observe(obs,
      sum(when(pred, 1L).otherwise(0L)).as("n_kept"),
      count(lit(1)).as("n_total"))
    (observed.filter(pred), obs)
  }

  // ── per-call masking (π with array rewrite; row count unchanged).
  // Codegen'd MaskGt expression; HOF twins in GenotypeKernels are the
  // spec and the property-test reference. ──
  def maskByDepth(df: DataFrame, minDepth: Int): DataFrame =
    df.withColumn("gt", graft.functions.MaskGt.of(col("gt"), col("dp"), minDepth.toDouble))

  def maskByQual(df: DataFrame, minQual: Double): DataFrame =
    df.withColumn("gt", graft.functions.MaskGt.of(col("gt"), col("gq"), minQual))

  /** Project every per-call array down to the named samples (axis-1
    * subset, `keep_samples`); returns the updated metadata too. */
  def keepSamples(df: DataFrame, meta: VariantsMetadata, names: Seq[String]): (DataFrame, VariantsMetadata) = {
    val idx = names.map(meta.sampleIndex)
    val out = Seq("gt", "dp", "gq", "ao", "ro").foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d.withColumn(c, selectSamples(col(c), idx)) else d
    }
    (out, meta.copy(samples = names))
  }

  def removeSamples(df: DataFrame, meta: VariantsMetadata, names: Seq[String]): (DataFrame, VariantsMetadata) =
    keepSamples(df, meta, meta.samples.filterNot(names.contains))
}

/** Fused multi-stage filter pipeline — see `Filters` scaladoc. */
final class VariantPipeline private (
    df: DataFrame,
    stages: Vector[(String, Column)]) {

  private def addFilter(name: String, pred: Column): VariantPipeline =
    new VariantPipeline(df, stages :+ (name, pred))

  /** Masks rewrite columns for every LATER stage (order matters, exactly
    * like reference composition order). */
  private def rewrite(d: DataFrame): VariantPipeline = new VariantPipeline(d, stages)

  def maskByDepth(minDepth: Int): VariantPipeline = {
    require(stages.isEmpty, "masks must precede filters (cell rewrites change later stats)")
    rewrite(Filters.maskByDepth(df, minDepth))
  }
  def maskByQual(minQual: Double): VariantPipeline = {
    require(stages.isEmpty, "masks must precede filters")
    rewrite(Filters.maskByQual(df, minQual))
  }

  def byCallRate(minRate: Double): VariantPipeline = addFilter("call_rate", Filters.byCallRate(minRate))
  def byMaf(min: Double = 0.0, max: Double = 1.0): VariantPipeline = addFilter("maf", Filters.byMaf(min, max))
  def byMac(min: Long = 0L, max: Long = Long.MaxValue): VariantPipeline = addFilter("mac", Filters.byMac(min, max))
  def byObsHet(min: Double = 0.0, max: Double = 1.0): VariantPipeline = addFilter("obs_het", Filters.byObsHet(min, max))
  def byQual(minQual: Double): VariantPipeline = addFilter("qual", Filters.byQual(minQual))
  def variableOnly(): VariantPipeline = addFilter("variable", Filters.variableOnly)
  def biallelicOnly(): VariantPipeline = addFilter("biallelic", Filters.biallelicOnly)
  def inRegions(rs: Seq[(String, Long, Long)]): VariantPipeline = addFilter("regions", Filters.inRegions(rs))

  final case class PipelineResult(
      variations: DataFrame,
      stats: Seq[(String, Filters.FilterStats)],
      nInput: Long)

  /** Collision-free per-stage predicate column names (the AsOf fresh()
    * convention): a user frame already carrying "_p0" would otherwise
    * be silently overwritten and then dropped. */
  private def freshPredCols(d: DataFrame): Seq[String] = {
    val taken = d.columns.toSet
    stages.indices.map { i =>
      Iterator.from(0)
        .map(r => if (r == 0) s"_p$i" else s"_p${i}_$r")
        .filterNot(taken).next()
    }
  }

  /** The predicate materialization [[run]] and [[runObserved]] share:
    * the input with each stage's predicate as a fresh boolean column,
    * the count columns (`n_input`, then `k{i}` = rows passing stages
    * 0..i), and the step that keeps the rows passing every stage and
    * drops the predicate columns again. */
  private def withPredicates(): (DataFrame, Seq[Column], DataFrame => DataFrame) = {
    val predCols = freshPredCols(df)
    val withPreds = stages.zipWithIndex.foldLeft(df) { case (d, ((_, p), i)) =>
      d.withColumn(predCols(i), p)
    }
    val cumulative = predCols.scanLeft(lit(true)) { (acc, c) => acc && col(c) }.tail
    val counts = count(lit(1)).as("n_input") +:
      cumulative.zipWithIndex.map { case (c, i) =>
        sum(when(c, 1L).otherwise(0L)).as(s"k$i")
      }
    (withPreds, counts, _.filter(cumulative.last).drop(predCols: _*))
  }

  /** One aggregation job computes every stage's kept-count; the returned
    * DataFrame stays lazy.
    *
    * Each stage's predicate is MATERIALIZED as a boolean column first, so
    * a k-stage pipeline evaluates each (interpreted-HOF) kernel exactly
    * once per row — the naive cumulative-conjunction form re-evaluated
    * stage i's kernel in every cumulative j ≥ i (O(k²) kernel evals;
    * measured 4× slowdown at 200k×50 with 2 filter stages). */
  def run(): PipelineResult = {
    if (stages.isEmpty) return PipelineResult(df, Nil, -1L)
    val (withPreds, counts, keep) = withPredicates()
    val row = withPreds.agg(counts.head, counts.tail: _*).head()
    val nInput = row.getLong(0)
    val kept = (0 until stages.size).map(i => if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1))
    val stats = stages.zipWithIndex.map { case ((name, _), i) =>
      val before = if (i == 0) nInput else kept(i - 1)
      name -> Filters.FilterStats(kept(i), before - kept(i))
    }
    PipelineResult(keep(withPreds), stats, nInput)
  }

  /** [[run]]'s zero-extra-scan twin: the cumulative per-stage counts
    * (`n_input`, `k0` … `k{n−1}`) ride the caller's first action on the
    * returned frame as observed metrics instead of a dedicated
    * aggregation job — the same single-pass predicate materialization,
    * one fewer full scan. Read stats from `observation.get` after the
    * action; `k{i} − k{i+1}` is stage i+1's N_FILTERED_OUT. */
  def runObserved(name: String = "flt_stats"): (DataFrame, org.apache.spark.sql.Observation) = {
    require(stages.nonEmpty, "runObserved needs at least one stage")
    val (withPreds, counts, keep) = withPredicates()
    val obs = org.apache.spark.sql.Observation(name)
    (keep(withPreds.observe(obs, counts.head, counts.tail: _*)), obs)
  }
}

object VariantPipeline {
  def apply(df: DataFrame): VariantPipeline = new VariantPipeline(df, Vector.empty)
}
