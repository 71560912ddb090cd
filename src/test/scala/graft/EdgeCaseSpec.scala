package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.VariantSchema
import graft.operators.{Filters, Stats}

/** Degenerate-input behavior: empty relations, all-missing rows, empty
  * arrays. At 100 TB a partition with zero matching rows is routine —
  * every operator must return an empty (or well-defined) result, never
  * throw. */
class EdgeCaseSpec extends SparkTestBase {

  import spark.implicits._

  private def emptyVariants = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row], VariantSchema.schema)

  test("variant stats + filters on an empty relation stay empty, no throw") {
    val stats = Stats.variantStats(emptyVariants)
    assert(stats.count() === 0)
    assert(Filters.maskByDepth(emptyVariants, 5).count() === 0)
    assert(Stats.variantCallStatsLong(emptyVariants).count() === 0)
    assert(Stats.sampleDepthStatsFast(emptyVariants).count() === 0)
    assert(Stats.sampleDepthStats(emptyVariants).count() === 0)
  }

  test("variant with zero samples: rates NaN, never divide-by-zero throw") {
    val row = Row("chr1", 1L, "v0", "A", Seq("T"), 10.0,
      Seq.empty[Seq[Int]], Seq.empty[Int], Seq.empty[Double], null, null)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row)), VariantSchema.schema)
    val s = Stats.variantStats(df).head()
    assert(s.getAs[Double]("call_rate").isNaN)
  }

  test("DocPipeline on an empty corpus returns an empty frame") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ext.DocPipeline.prepare(empty, minWords = 1).count() === 0)
  }

  test("heavy hitters: empty input and all-null column give empty sketch") {
    import graft.functions.HeavyHittersAgg
    val empty = Seq.empty[String].toDF("tok")
      .select(HeavyHittersAgg.of(col("tok"), 5).as("hh")).head()
    assert(empty.getSeq[Row](0).isEmpty)
    val nulls = Seq[Option[String]](None, None).toDF("tok")
      .select(HeavyHittersAgg.of(col("tok"), 5).as("hh")).head()
    assert(nulls.getSeq[Row](0).isEmpty)
  }

  test("similarity over an empty corpus: top-k empty, no throw") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val corpus = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val probe = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("p_emb")
    assert(graft.ext.Similarity.bruteForceTopK(corpus, "embedding", probe, "p_emb", 5).count() === 0)
    assert(graft.ext.Similarity.lshTopKMultiProbe(corpus, "embedding", probe, "p_emb", dim = 2, k = 5).count() === 0)
  }

  test("corpus ops on empty/degenerate inputs stay empty, never throw") {
    import graft.ext.Corpus
    val empty = Seq.empty[(Long, String, String, Int)].toDF("doc_id", "lang", "text", "n_tok")
    assert(Corpus.stratifiedSample(empty, Seq("lang"), 0.5, "doc_id").count() === 0L)
    assert(Corpus.stratifiedSampleN(empty, Seq("lang"), 3, "doc_id").count() === 0L)
    assert(Corpus.packSequences(empty, "doc_id", "n_tok", 100, Seq("lang")).count() === 0L)
    assert(Corpus.weightedSample(empty.withColumn("w", lit(0.5)), "w", "doc_id").count() === 0L)
    assert(Corpus.shuffleDeterministic(empty, "doc_id", 4).count() === 0L)
    // empty-text docs: zero shingles → no contamination rows, no throw
    val t = Seq((1L, ""), (2L, "a b")).toDF("doc_id", "text")
    assert(Corpus.contaminationScores(t, t, "doc_id", "text", n = 3).count() === 0L)
    // single mega-doc exceeding the packing budget still gets bin 0
    val big = Seq((1L, "x", 999)).toDF("doc_id", "lang", "n_tok")
    assert(Corpus.packSequences(big, "doc_id", "n_tok", 100, Seq("lang"))
      .select("bin_id").head().getLong(0) === 0L)
    // transitiveClusters on an empty edge set: empty result, no loop
    assert(graft.ext.Dedup.transitiveClusters(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").count() === 0L)
    // pageRank on an empty edge set: empty result (N = 0 divides nothing)
    assert(graft.ext.Graph.pageRank(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", 3).count() === 0L)
  }

  test("depth-stats median on a sample with no called depths is null") {
    val df = Seq(Tuple1(Seq(-1, -1)), Tuple1(Seq(-1, 7))).toDF("dp")
    val rows = Stats.sampleDepthStatsFast(df).collect()
    assert(rows.length === 2)
    val s0 = rows.find(_.getInt(0) == 0).get
    assert(s0.isNullAt(s0.fieldIndex("median_dp_approx")))
    val s1 = rows.find(_.getInt(0) == 1).get
    assert(s1.getAs[Double]("median_dp_approx") === 7.0)
  }

  test("round-7 operators on empty/degenerate inputs stay empty, never throw") {
    import graft.operators.{Events, Fill, Kinship}
    import graft.ext.Dedup
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.chunkDedup(emptyDocs, "doc_id", "text", 3).count() === 0)
    val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(Events.attribution(emptyEvents, "user_id", "ts", "event_id",
      "event_type", Seq("view"), "purchase").count() === 0)
    assert(Events.attributionLinear(emptyEvents, "user_id", "ts", "event_id",
      "event_type", Seq("view"), "purchase").count() === 0)
    val emptySeries = Seq.empty[(String, Long, Option[Double])].toDF("k", "t", "v")
    assert(Fill.interpolateLinear(emptySeries, Seq("k"), "t", Seq("v")).count() === 0)
    assert(Fill.ewma(emptySeries, Seq("k"), Seq("t"), "v", 0.5).count() === 0)
    val emptyGt = Seq.empty[(Long, Seq[Seq[Int]])].toDF("vid", "gt")
    assert(Kinship.grmPairs(emptyGt, "gt").count() === 0)
    assert(Kinship.meanImputedDosages(emptyGt, "gt").count() === 0)
    assert(Stats.tajimaD(emptyGt, "gt").isEmpty) // S = 0 → undefined
    // grmTriangle has nothing to aggregate → must throw the documented
    // require, not return garbage
    intercept[IllegalArgumentException](Kinship.grmTriangle(emptyGt, "gt"))
  }

  test("span dedup on empty/degenerate corpora stays empty, never throws") {
    import graft.ext.Dedup
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.spanDedup(emptyDocs, "doc_id", "text").count() === 0)
    // single doc: nothing is cross-doc repeated, text passes through
    val one = Seq((1L, (1 to 40).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(one, "doc_id", "text").count() === 0)
    val kept = Dedup.spanDedup(one, "doc_id", "text").collect()
    assert(kept.length === 1 && kept(0).getLong(1) === 0L)
    // docs shorter than the shingle width surface with no spans but
    // keep their rows in the removal output
    val short = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(short, "doc_id", "text", n = 5).count() === 0)
    assert(Dedup.spanDedup(short, "doc_id", "text", n = 5).count() === 2)
    // invalid parameters fail fast
    intercept[IllegalArgumentException](
      Dedup.duplicatedSpans(one, "doc_id", "text", minDocs = 1))
    intercept[IllegalArgumentException](
      Dedup.spanDedup(one, "doc_id", "text", n = 8, minTokens = 5))
  }

  test("tajimaD on an all-missing cohort is undefined, not a throw") {
    val df = Seq((1L, Seq(Seq(-1, -1), Seq(-1, -1)))).toDF("vid", "gt")
    assert(Stats.tajimaD(df, "gt").isEmpty)
  }
}
