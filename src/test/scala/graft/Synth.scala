package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic executor-side synthesizers for test inputs: pure
  * arithmetic per (variant, sample) from `spark.range`, no RNG state. */
object Synth {

  /** Synthetic biallelic cohort: two planted populations (sample halves
    * lean to opposite alleles on half the variants) plus deterministic
    * per-(variant, sample) mixing and ~5% missing calls. */
  def synthGt(spark: SparkSession, nVariants: Long, nSamples: Int): DataFrame =
    spark.range(nVariants).select(col("id").as("vid"))
      .withColumn("gt", transform(sequence(lit(0), lit(nSamples - 1)), sIdx => {
        val h = pmod(col("vid") * 7919L + sIdx * 104729L + col("vid") * sIdx, lit(1000L))
        // population lean as a THRESHOLD shift (a modular shift of a
        // uniform value stays uniform — no structure): on even variants
        // the first half of the cohort calls alt at p≈0.35, the second
        // at p≈0.65 — the divergence PCA must find
        val thr = lit(500L) + when(pmod(col("vid"), lit(2)) === 0,
          when(sIdx < nSamples / 2, lit(150L)).otherwise(lit(-150L))).otherwise(lit(0L))
        when(h < 50, array(lit(-1), lit(-1))) // ~5% missing
          .otherwise(array(
            when(pmod(h * 13L, lit(1000L)) < thr, lit(0)).otherwise(lit(1)),
            when(pmod(h * 7L, lit(1000L)) < thr, lit(0)).otherwise(lit(1))))
      }))

  /** Synthetic VariantSchema rows from spark.range — deterministic
    * arithmetic per (variant, sample), no RNG state, fully distributed. */
  def synthVariants(spark: SparkSession, nVariants: Long, nSamples: Int): DataFrame = {
    // rename the range column: aliasing a select item "id" while later
    // items reference col("id") trips Spark 4 lateral-column-alias
    // resolution into reading the NEW string column
    val i = col("_i")
    spark.range(nVariants).select(col("id").as("_i")).select(
      concat(lit("chr"), (i % 22 + 1).cast("string")).as("chrom"),
      (i * 37 % 248000000L).as("pos"),
      concat(lit("v"), i).as("id"),
      lit("A").as("ref"),
      when(i % 7 === 0, array(lit("T"), lit("G"))).otherwise(array(lit("T"))).as("alt"),
      (i % 100).cast("double").as("qual"),
      // gt: deterministic mix of hom-ref / het / hom-alt / missing
      transform(sequence(lit(0), lit(nSamples - 1)), s => {
        val h = pmod(i * 31 + s * 17, lit(100))
        when(h < 5, array(lit(-1), lit(-1)))                 // 5% missing
          .when(h < 55, array(lit(0), lit(0)))               // 50% hom-ref
          .when(h < 85, array(lit(0), lit(1)))               // 30% het
          .otherwise(array(lit(1), lit(1)))                  // 15% hom-alt
      }).as("gt"),
      transform(sequence(lit(0), lit(nSamples - 1)),
        s => pmod(i * 13 + s * 7, lit(60)).cast("int")).as("dp"),
      transform(sequence(lit(0), lit(nSamples - 1)),
        s => pmod(i * 11 + s * 3, lit(99)).cast("double")).as("gq"),
      lit(null).cast("array<array<int>>").as("ao"),
      lit(null).cast("array<int>").as("ro"))
  }
}
