package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.core.{VariantSchema, VariantsMetadata}
import graft.functions.{GenotypeKernels, MaskGt}
import graft.operators.{Kinship, Stats, VariantPipeline}

/** gt_qc: the variation6 analysis path over a seeded variant store.
  *
  * Store: the `ScaleDemo.synthVariants` shape with the per-call values
  * taken from one seeded xxhash64 per (variant, sample): per-variant
  * alt frequency in [0, 0.5), per-variant missing rate in [0, 0.2),
  * depth 0..39, biallelic. Each pass: load → mask by depth → call-rate
  * and MAF filters → variant stats → sample depth stats → GRM on the
  * kept variants, then one kernel pass over a cached quarter of the
  * store. The twin recomputes every output from the same formula in
  * plain Scala. */
final class GtQc(spark: SparkSession, t: Tracer, dir: Path, seed: Long, tiny: Boolean) extends Workload {
  val nVariants: Int = if (tiny) 2000 else 20000
  val nSamples: Int = if (tiny) 16 else 64
  val MinDepth = 4
  val MinCallRate = 0.8
  val MaxMaf = 0.95
  private val store = dir.resolve("variants").toString

  final case class Out(stats: Seq[(String, Long, Long)], nInput: Long,
                       variant: (Long, Double, Double), depth: Seq[(Int, Long, Double)],
                       grm: (Int, Seq[Double], Double), kernels: (Long, Long, Long), masked: Long)

  def rowsPerOp: Long = nVariants.toLong * nSamples

  private var cached: DataFrame = _
  private var last: Out = _

  def synth(): DataFrame = {
    val i = col("_i")
    val h = (k: Int) => (c: Column) => pmod(shiftright(c, k), lit(1000L))
    spark.range(nVariants).select(col("id").as("_i"))
      .withColumn("_p", pmod(xxhash64(i, lit(seed)), lit(500L)))
      .withColumn("_m", pmod(xxhash64(i, lit(seed + 1)), lit(200L)))
      .withColumn("_h", transform(sequence(lit(0), lit(nSamples - 1)), s => xxhash64(i, s, lit(seed))))
      .select(
        concat(lit("chr"), (i % 8 + 1).cast("string")).as("chrom"),
        i.as("pos"),
        concat(lit("v"), i).as("id"),
        lit("A").as("ref"),
        array(lit("T")).as("alt"),
        (i % 100).cast("double").as("qual"),
        transform(col("_h"), c =>
          when(pmod(c, lit(1000L)) < col("_m"), array(lit(-1), lit(-1)))
            .otherwise(array(
              when(h(10)(c) < col("_p"), lit(1)).otherwise(lit(0)),
              when(h(20)(c) < col("_p"), lit(1)).otherwise(lit(0))))).as("gt"),
        transform(col("_h"), c => pmod(shiftright(c, 30), lit(40L)).cast("int")).as("dp"),
        transform(col("_h"), c => pmod(shiftright(c, 40), lit(99L)).cast("double")).as("gq"),
        lit(null).cast("array<array<int>>").as("ao"),
        lit(null).cast("array<int>").as("ro"))
  }

  def prepare(rep: Int): Unit = {
    if (cached != null) cached.unpersist(true)
    VariantSchema.save(synth().repartition(4), VariantsMetadata((0 until nSamples).map(s => s"s$s"), 2), store)
    val (df, _) = VariantSchema.loadWide(spark, store)
    cached = df.filter(col("pos") % 4 === 0).select("gt", "dp", "alt").cache()
    cached.count()
  }

  /** Six passes: after three, the first timed pass still ran 10–20%
    * slower than the last of a run. */
  def warmUp(): Unit = (-6 to -1).foreach(op)

  def op(i: Int): Out = t.span("gt_qc.pass") {
    val (df, _) = t.span("core.VariantSchema.loadWide")(VariantSchema.loadWide(spark, store))
    val res = t.span("operators.VariantPipeline.run") {
      VariantPipeline(df).maskByDepth(MinDepth).byCallRate(MinCallRate).byMaf(0.0, MaxMaf).run()
    }
    val kept = res.variations
    val v = t.span("operators.Stats.variantStats") {
      Stats.variantStats(kept).agg(count(lit(1)), sum(col("call_rate")), sum(col("exp_het"))).head()
    }
    val d = t.span("operators.Stats.sampleDepthStatsFast") {
      Stats.sampleDepthStatsFast(kept).collect()
    }
    val g = t.span("operators.Kinship.grmTriangle")(Kinship.grmTriangle(kept))
    val k = t.span("functions.GenotypeKernels") {
      cached.agg(sum(GenotypeKernels.calledGtCount(col("gt"))),
        sum(GenotypeKernels.mac(col("gt"), lit(2))),
        sum(GenotypeKernels.observedAlleleCount(col("gt"), lit(2)))).head()
    }
    val m = t.span("functions.MaskGt") {
      cached.agg(sum(size(array_remove(flatten(MaskGt.of(col("gt"), col("dp"), MinDepth)), -1)))).head()
    }
    last = Out(res.stats.map { case (n, s) => (n, s.nKept, s.nFilteredOut) }, res.nInput,
      (v.getLong(0), v.getDouble(1), v.getDouble(2)),
      d.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq,
      (g._1, g._2.toSeq, g._3), (k.getLong(0), k.getLong(1), k.getLong(2)), m.getLong(0))
    last
  }

  def digest(o: Out): String = {
    def r(x: Double) = f"$x%.9e"
    Seq(o.stats.mkString(","), o.nInput, o.variant._1, r(o.variant._2), r(o.variant._3),
      o.depth.map(d => s"${d._1}:${d._2}:${r(d._3)}").mkString(","),
      o.grm._1, r(o.grm._2.sum), r(o.grm._2.map(math.abs).sum), r(o.grm._3),
      o.kernels, o.masked).mkString("|")
  }

  def tamper(o: Out): Out = o.copy(variant = o.variant.copy(_1 = o.variant._1 + 1))

  // ── independent twin: the generator formula and the filter, stats
  // and GRM definitions in plain Scala ──
  private lazy val expected: Out = {
    def pm(x: Long, n: Long) = ((x % n) + n) % n
    val stats = Array.fill(3)(0L)
    var nKept = 0L
    var sumRate, sumExpHet, den = 0.0
    val dpN = Array.fill(nSamples)(0L)
    val dpSum = Array.fill(nSamples)(0L)
    val tri = Array.fill(nSamples * (nSamples + 1) / 2)(0.0)
    var kCalled, kMac, kObs, masked = 0L
    val dos = new Array[Int](nSamples)
    val z = new Array[Double](nSamples)
    for (v <- 0 until nVariants) {
      val h0 = XXH64.hashLong(v.toLong, 42L)
      val p = pm(XXH64.hashLong(seed, h0), 500L)
      val miss = pm(XXH64.hashLong(seed + 1, h0), 200L)
      var called, alt, ref = 0L
      var rawCalled, rawAlt, rawRef = 0L
      val dps = new Array[Int](nSamples)
      for (s <- 0 until nSamples) {
        val c = XXH64.hashLong(seed, XXH64.hashInt(s, h0))
        val missing = pm(c, 1000L) < miss
        val a1 = if (pm(c >> 10, 1000L) < p) 1 else 0
        val a2 = if (pm(c >> 20, 1000L) < p) 1 else 0
        val dp = pm(c >> 30, 40L).toInt
        dps(s) = dp
        if (!missing) {
          rawCalled += 1; rawAlt += a1 + a2; rawRef += 2 - a1 - a2
        }
        if (!missing && dp >= MinDepth) {
          called += 1; alt += a1 + a2; ref += 2 - a1 - a2
          dos(s) = a1 + a2
        } else dos(s) = -1
      }
      if (v % 4 == 0) {
        kCalled += rawCalled
        kMac += math.min(rawAlt, rawRef)
        kObs += (if (rawAlt > 0) 1 else 0) + (if (rawRef > 0) 1 else 0)
        masked += 2 * called
      }
      val rate = called.toDouble / nSamples
      val total = alt + ref
      val maf = if (total == 0) Double.NaN else math.max(alt, ref).toDouble / total
      val passRate = rate >= MinCallRate
      val passMaf = passRate && maf >= 0.0 && maf <= MaxMaf
      stats(0) += (if (passRate) 1 else 0)
      stats(1) += (if (passMaf) 1 else 0)
      if (passMaf) {
        nKept += 1
        sumRate += rate
        val tt = total.toDouble
        sumExpHet += (1.0 - (alt.toDouble * alt + ref.toDouble * ref) / (tt * tt)) * tt / (tt - 1)
        for (s <- 0 until nSamples) { dpN(s) += 1; dpSum(s) += dps(s) }
        if (called > 0) {
          val pp = alt.toDouble / (called * 2.0)
          for (s <- 0 until nSamples) z(s) = if (dos(s) >= 0) dos(s) - 2.0 * pp else 0.0
          den += 2.0 * pp * (1.0 - pp)
          var idx = 0
          for (a <- 0 until nSamples; b <- a until nSamples) { tri(idx) += z(a) * z(b); idx += 1 }
        }
      }
    }
    Out(Seq(("call_rate", stats(0), nVariants - stats(0)), ("maf", stats(1), stats(0) - stats(1))),
      nVariants, (nKept, sumRate, sumExpHet),
      (0 until nSamples).map(s => (s, dpN(s), dpSum(s).toDouble / dpN(s))),
      (nSamples, tri.toSeq, den), (kCalled, kMac, kObs), masked)
  }

  def check(i: Int, o: Out): Seq[String] = {
    val e = expected
    def close(a: Double, b: Double, scale: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, scale)
    val errs = Seq.newBuilder[String]
    if (o.stats != e.stats || o.nInput != e.nInput) errs += s"filter stats ${o.stats} != ${e.stats}"
    if (o.variant._1 != e.variant._1 || !close(o.variant._2, e.variant._2, e.variant._2) ||
      !close(o.variant._3, e.variant._3, e.variant._3)) errs += s"variant stats ${o.variant} != ${e.variant}"
    if (o.depth.size != nSamples || o.depth.zip(e.depth).exists { case (a, b) =>
      a._1 != b._1 || a._2 != b._2 || !close(a._3, b._3, b._3) }) errs += "sample depth stats differ"
    val scale = e.grm._2.map(math.abs).max
    if (o.grm._1 != e.grm._1 || o.grm._2.size != e.grm._2.size ||
      o.grm._2.zip(e.grm._2).exists { case (a, b) => !close(a, b, scale) } ||
      !close(o.grm._3, e.grm._3, e.grm._3)) errs += "GRM triangle differs"
    if (o.kernels != e.kernels) errs += s"kernel sums ${o.kernels} != ${e.kernels}"
    if (o.masked != e.masked) errs += s"masked called alleles ${o.masked} != ${e.masked}"
    errs.result()
  }

  override def layerMetrics(tr: Tracer): Seq[(String, Double, String)] = {
    val rows = (nVariants + 3) / 4 * nSamples.toDouble
    def rps(span: String) = {
      val s = tr.spans.filter(_.name == span).map(_.seconds)
      if (s.isEmpty) 0.0 else rows * s.size / s.sum
    }
    Seq(("functions.GenotypeKernels.rows_per_s", rps("functions.GenotypeKernels"), "rows/s"),
      ("functions.MaskGt.rows_per_s", rps("functions.MaskGt"), "rows/s"),
      ("operators.Filters.kept_frac", last.stats.last._2.toDouble / last.nInput, "ratio"))
  }
}
