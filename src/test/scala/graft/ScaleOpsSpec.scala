package graft

import org.apache.spark.sql.functions._
import graft.operators.{Skew, Stats}

/** Skew + bucketing: correctness of the salted two-phase ops, and the
  * plan-level proof that bucketed tables co-locate joins (no shuffle). */
class ScaleOpsSpec extends SparkTestBase {

  import spark.implicits._

  private def skewed = {
    // key "hot" holds 90% of rows
    (1 to 2000).map { i =>
      (if (i % 10 == 0) s"k${i % 7}" else "hot", i.toDouble)
    }.toDF("key", "v")
  }

  test("salted aggregation ≡ direct aggregation") {
    val direct = skewed.groupBy("key")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sum"), min($"v").as("min"), max($"v").as("max"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val salted = Skew.saltedAgg(skewed, Seq("key"), "v", salt = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(salted === direct)
  }

  test("salted aggregation spreads a hot key of IDENTICAL rows (content hash alone would not)") {
    // every hot row identical → a pure content-hash salt puts all of
    // them in ONE shard and the salting is a no-op
    val dupes = (1 to 2000).map(_ => ("hot", 1.0)).toDF("key", "v")
    val direct = dupes.groupBy("key")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sum"), min($"v").as("min"), max($"v").as("max"))
      .head()
    val salted = Skew.saltedAgg(dupes, Seq("key"), "v", salt = 8).head()
    assert(salted.getLong(1) === direct.getLong(1) &&
      salted.getDouble(2) === direct.getDouble(2))
  }

  test("salted join ≡ direct join") {
    val dim = Seq(("hot", "H"), ("k0", "A"), ("k3", "B")).toDF("key", "label")
    val direct = skewed.join(dim, "key").groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(skewed, dim, "key", salt = 8).groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === direct)
  }

  test("wide-cohort rehearsal at 10k samples: wide kernel ≡ long view, fast ≡ explode depth stats") {
    // 300 variants × 10,000 samples = 3M genotype calls per kernel — the
    // SURVEY §1.2 wide-row escape-hatch check above the 2,000-sample
    // ceiling the round-1 suite stopped at (full 200M-call timings live
    // in README §scale).
    val nSamples = 10000
    val df = Synth.synthVariants(spark, 300L, nSamples).cache()
    try {
      val wide = Stats.variantStats(df)
        .select("chrom", "pos", "id", "call_rate", "n_called", "n_missing", "obs_het")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
      val long = Stats.variantCallStatsLong(df).collect()
      assert(long.length === 300)
      long.foreach { r =>
        val w = wide((r.getString(0), r.getLong(1)))
        assert(r.getLong(4) === w.getLong(4), s"n_called @ ${r.getString(2)}")
        assert(r.getLong(5) === w.getLong(5), s"n_missing @ ${r.getString(2)}")
        assert(math.abs(r.getDouble(3) - w.getDouble(3)) < 1e-12, s"call_rate @ ${r.getString(2)}")
        assert(math.abs(r.getDouble(6) - w.getDouble(6)) < 1e-12, s"obs_het @ ${r.getString(2)}")
      }
      // per-sample depth: the unboxed TypedImperativeAggregate must agree
      // with the exploded long view at this width, sample for sample
      val fast = Stats.sampleDepthStatsFast(df).collect()
      val slow = Stats.sampleDepthStats(df)
        .select("sample_idx", "n", "mean_dp", "min_dp", "max_dp").collect()
      assert(fast.length === nSamples && slow.length === nSamples)
      fast.zip(slow).foreach { case (f, s) =>
        assert(f.getInt(0) === s.getInt(0))
        assert(f.getLong(1) === s.getLong(1))
        assert(math.abs(f.getDouble(2) - s.getDouble(2)) < 1e-9)
        assert(f.getInt(3) === s.getInt(3) && f.getInt(4) === s.getInt(4))
      }
    } finally df.unpersist()
  }

  test("bucketed tables co-locate the join: no shuffle exchange in plan") {
    val a = (1L to 5000L).map(i => (i % 97, s"a$i")).toDF("key", "av")
    val b = (1L to 3000L).map(i => (i % 97, s"b$i")).toDF("key", "bv")
    a.write.mode("overwrite").bucketBy(8, "key").sortBy("key").saveAsTable("bk_a")
    b.write.mode("overwrite").bucketBy(8, "key").sortBy("key").saveAsTable("bk_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
      val joined = spark.table("bk_a").join(spark.table("bk_b"), "key")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(1500))
      // and it still computes the right thing
      val n = joined.count()
      val expected = a.join(b, "key").count()
      assert(n === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // left: half the rows pile onto key 0 — one shuffle partition far
      // exceeds the (lowered) skew threshold; right: uniform small
      val left = spark.range(200000L)
        .select(when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("key"), col("id").as("v"))
      val right = spark.range(5000L).select(col("id").as("key"), (col("id") * 2).as("w"))
      val joined = left.join(right, "key")
      // drive THIS queryExecution (count() would plan its own) so AQE
      // re-plans it and the final plan carries the skew marker
      val n = joined.collect().length
      assert(n === 100000 + 2500) // key 0 matches once; 2500 odd keys < 5000
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("skew=true"), plan.take(1200))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // the shared session must leave this test as it entered: the suites
    // that run after it plan their joins under these confs
    val leaked = prior.filter { case (k, v) => spark.conf.getOption(k) != v }
    assert(leaked.isEmpty, s"confs not restored: $leaked")
  }

  test("runtime bloom filter injects on a selective dim join (semi-join reduction)") {
    // the fact-side scan gets a might_contain(bloom_of(dim keys)) filter
    // BEFORE the shuffle — at 100 TB this is the difference between
    // shuffling the whole fact table and shuffling the ~1% that can match
    val keep = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dir = "/root/testdata/sf0.001"
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val p = spark.read.parquet(s"$dir/part.parquet").filter("p_brand = 'Brand#23'")
      val j = li.join(p, li("l_partkey") === p("p_partkey"))
      assert(j.queryExecution.optimizedPlan.toString().contains("might_contain"),
        "runtime bloom filter did not inject")
      assert(j.count() > 0)
    } finally keep.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("BucketedStore API: save/load round-trip joins with no exchange") {
    import graft.sources.BucketedStore
    val a = (1L to 4000L).map(i => (i % 83, s"a$i")).toDF("key", "av")
    val b = (1L to 2500L).map(i => (i % 83, s"b$i")).toDF("key", "bv")
    BucketedStore.save(a, "bs_a", Seq("key"), buckets = 8)
    BucketedStore.save(b, "bs_b", Seq("key"), buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = BucketedStore.load(spark, "bs_a").join(BucketedStore.load(spark, "bs_b"), "key")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(1500))
      assert(joined.count() === a.join(b, "key").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
