package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streams

/** MemoryStream-driven tests for the streaming surface (no DuckDB oracle
  * exists for streaming semantics — SURVEY.md §5.2.4). */
class StreamingSpec extends SparkTestBase {

  private def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("tumbling window agg over a stream (complete mode)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.tumblingAgg(df, "ts", "1 hour", Seq("event_type"), "value")
    val q = agg.writeStream.format("memory").queryName("tumb").outputMode("complete").start()
    try {
      input.addData(
        (ts(0), "click", 1.0), (ts(10), "click", 2.0), (ts(20), "view", 5.0),
        (ts(70), "click", 3.0)) // second hour
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, cnt, sum_value FROM tumb ORDER BY win_start, event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq === Seq(("click", 2L, 3.0), ("view", 1L, 5.0), ("click", 1L, 3.0)))
    } finally q.stop()
  }

  test("session_window agg with watermark (update mode)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val agg = Streams.sessionAgg(df, "ts", "30 minutes", Seq("user_id"), watermark = Some("10 minutes"))
    // session_window streaming aggs support append mode only: a session row
    // is emitted once the watermark passes its close (last event + gap)
    val q = agg.writeStream.format("memory").queryName("sess_w").outputMode("append").start()
    try {
      // user 1: events 0,10min (one session); then 120min (new session)
      input.addData((ts(0), 1L), (ts(10), 1L), (ts(120), 1L))
      q.processAllAvailable()
      // push the watermark far past both sessions with another user's event
      input.addData((ts(1000), 2L))
      q.processAllAvailable()
      input.addData((ts(2000), 2L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, cnt FROM sess_w WHERE user_id = 1 ORDER BY sess_start").collect()
      assert(rows.map(_.getLong(1)).toSeq === Seq(2L, 1L))
    } finally q.stop()
  }

  test("stateful sessionizer: gap closes session across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streams.Event]
    val sessions = Streams.sessionize(input.toDS(), gapMs = 30 * 60000L)
    val q = sessions.writeStream.format("memory").queryName("sess_c").outputMode("append").start()
    try {
      input.addData(Streams.Event(1L, ts(0), 1.0), Streams.Event(1L, ts(5), 2.0))
      q.processAllAvailable()
      // batch 2: event far past the gap → session 1 must be emitted closed
      input.addData(Streams.Event(1L, ts(600), 7.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT userId, n, sum FROM sess_c").collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(1) === 2L)
      assert(rows.head.getDouble(2) === 3.0)
      // out-of-order within batch is sorted before sessionizing
      input.addData(Streams.Event(2L, ts(1300), 1.0), Streams.Event(2L, ts(1290), 1.0))
      q.processAllAvailable()
      input.addData(Streams.Event(2L, ts(5000), 0.0))
      q.processAllAvailable()
      val u2 = spark.sql("SELECT n FROM sess_c WHERE userId = 2").collect()
      assert(u2.map(_.getLong(0)).toSeq === Seq(2L))
    } finally q.stop()
  }

  test("streaming dedup within watermark drops duplicate keys across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_key", "payload")
    val q = Streams.dedupWithinWatermark(df, Seq("doc_key"), "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_s").outputMode("append").start()
    try {
      input.addData((ts(0), 1L, "a"), (ts(1), 2L, "b"), (ts(2), 1L, "dup"))
      q.processAllAvailable()
      input.addData((ts(3), 1L, "dup2"), (ts(4), 3L, "c"))
      q.processAllAvailable()
      val keys = spark.sql("SELECT doc_key, count(*) c FROM dedup_s GROUP BY doc_key").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(keys === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    } finally q.stop()
  }

  test("file-source readStream: tumbling agg over json files (AvailableNow)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("stream-src")
    java.nio.file.Files.writeString(dir.resolve("b1.json"),
      """{"ts":"2024-01-01 10:05:00","event_type":"click","value":1.0}
        |{"ts":"2024-01-01 10:20:00","event_type":"click","value":2.0}""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("b2.json"),
      """{"ts":"2024-01-01 11:15:00","event_type":"view","value":5.0}""".stripMargin)
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).json(dir.toString)
    val q = Streams.tumblingAgg(stream, "ts", "1 hour", Seq("event_type"), "value")
      .writeStream.format("memory").queryName("file_tumb").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      val rows = spark.sql("SELECT event_type, cnt, sum_value FROM file_tumb ORDER BY win_start")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq === Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming doc prep: gate + langid + fingerprint dedup across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)]
    val prepped = graft.ext.DocPipeline.prepareStream(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", minWords = 4)
    val q = prepped.writeStream.format("memory").queryName("doc_prep")
      .outputMode("append").start()
    try {
      val en = "the cat and the dog of it"
      input.addData((ts(0), 1L, en), (ts(1), 2L, "x y"))   // 2 gated (2 words)
      q.processAllAvailable()
      input.addData((ts(2), 3L, en))                        // dup text of 1 within watermark
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, lang_pred FROM doc_prep").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      assert(rows.toSeq === Seq(1L -> "en"))
    } finally q.stop()
  }

  test("DSIR + hashed-classifier scoring gate a stream (map-only columns are streaming-safe)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // train both models in BATCH (the serve-time pattern: weights are
    // plain literals, so the streaming plan stays stateless map-only)
    val target = ((0 until 40).map(i => s"alpha beta gamma v$i")).toDF("text")
    val pool = ((0 until 40).map(i => (i.toLong, s"alpha beta gamma v$i", 1.0)) ++
      (40 until 80).map(i => (i.toLong, s"spam click buy v$i", 0.0)))
      .toDF("doc_id", "text", "y")
    val w = graft.ext.Dsir.trainWeights(target, pool, "text", 128)
    val lrm = graft.ext.LogReg.trainHashed(pool, "text", org.apache.spark.sql.functions.col("y"), m = 128,
      lr = 0.5, iters = 3)
    val input = MemoryStream[(Long, String)]
    val scored = graft.ext.LogReg.scoreHashed(
      graft.ext.Dsir.scoreDocs(
        input.toDF().toDF("doc_id", "text"), "text", w),
      "text", lrm).filter(org.apache.spark.sql.functions.col("pred") === 1)
    val q = scored.writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha beta gamma fresh"), (2L, "spam click buy fresh"))
      q.processAllAvailable()
      input.addData((3L, "alpha beta gamma more"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, dsir_lw6 FROM dsir_gate").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows.keySet === Set(1L, 3L), s"classifier gate must drop spam: $rows")
      // streamed DSIR weights equal the batch computation on the same text
      val batch = graft.ext.Dsir.scoreDocs(
        Seq((1L, "alpha beta gamma fresh")).toDF("doc_id", "text"), "text", w)
        .select("dsir_lw6").head().getLong(0)
      assert(rows(1L) === batch)
    } finally q.stop()
  }

  test("stream-stream interval join: click matches impression only within the bound") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val joined = Streams.intervalJoin(
      imps.toDF().toDF("imp_ts", "ad_id"),
      clicks.toDF().toDF("click_ts", "click_ad_id"),
      "ad_id", "click_ad_id", "imp_ts", "click_ts",
      maxDelay = "30 minutes", watermark = "10 minutes")
      .select("ad_id", "imp_ts", "click_ts")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      imps.addData((ts(0), 1L), (ts(0), 2L))
      clicks.addData((ts(10), 1L)) // within 30 min of ad 1's impression
      clicks.addData((ts(45), 2L)) // 45 min after ad 2's impression: outside
      q.processAllAvailable()
      val rows = spark.sql("SELECT ad_id FROM ssj").collect().map(_.getLong(0))
      assert(rows.toSeq === Seq(1L))
    } finally q.stop()
  }

  test("DSv2 vcf micro-batch stream: growing directory delivers each file once") {
    val dir = java.nio.file.Files.createTempDirectory("vcf-stream")
    def writeVcf(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(dir.resolve(name),
        (Seq("##fileformat=VCFv4.3",
          "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts0") ++ rows).mkString("\n"))
    writeVcf("a.vcf", Seq(
      "chr1\t100\tv1\tA\tT\t50\tPASS\t.\tGT:DP:GQ\t0/1:10:99",
      "chr1\t200\tv2\tC\tG\t40\tPASS\t.\tGT:DP:GQ\t0/0:12:80"))
    val stream = spark.readStream.format("vcf").load(dir.toString)
      .selectExpr("id", "chrom", "pos")
    val q = stream.writeStream.format("memory").queryName("vcf_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM vcf_stream").collect().map(_.getString(0)).toSet
        === Set("v1", "v2"))
      // a later file (sorts after a.vcf) arrives: exactly its rows are appended
      writeVcf("b.vcf", Seq("chr2\t50\tv3\tT\tC\t90\tPASS\t.\tGT:DP:GQ\t1/1:30:99"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM vcf_stream").collect().map(_.getString(0))
      assert(ids.length === 3 && ids.toSet === Set("v1", "v2", "v3"))
    } finally q.stop()
  }

  test("streaming and batch tumbling agg agree on the same data") {
    import spark.implicits._
    val batch = Seq(
      (ts(0), "click", 1.0), (ts(10), "click", 2.0), (ts(20), "view", 5.0), (ts(70), "click", 3.0))
      .toDF("ts", "event_type", "value")
    val rows = Streams.tumblingAgg(batch, "ts", "1 hour", Seq("event_type"), "value")
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getString(2), r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq === Seq(("click", 2L, 3.0), ("view", 1L, 5.0), ("click", 1L, 3.0)))
  }

  test("streamIncremental dedups each micro-batch against the growing store") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val storeDir = java.nio.file.Files.createTempDirectory("sigstore").toFile
    storeDir.delete() // streamIncremental bootstraps an absent store
    val textB = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val textBNear = textB.replaceAll("upsilon$", "phi") // last word changed
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, String)]
    val q = graft.ext.DocPipeline.streamIncremental(
      input.toDF().toDF("doc_id", "text"), storeDir.getAbsolutePath,
      minWords = 4, tau = 0.7) { (df, _) =>
      accepted ++= df.select("doc_id").as[Long].collect()
    }
    try {
      input.addData((1L, "one two three four five six"), (2L, textB))
      q.processAllAvailable()
      assert(accepted.sorted.toSeq === Seq(1L, 2L))
      // next batch: exact dup of 1, near-dup of 2, and a genuinely new doc —
      // both dups are vs PREVIOUS batches, far outside any watermark horizon
      input.addData((3L, "one two three four five six"), (4L, textBNear),
        (5L, "cat dog bird fish mouse horse cow sheep"))
      q.processAllAvailable()
      assert(accepted.sorted.toSeq === Seq(1L, 2L, 5L))
      // store absorbed batch 2's survivor as well
      val storeIds = spark.read.parquet(storeDir.getAbsolutePath)
        .select("doc_id").as[Long].collect().sorted
      assert(storeIds.toSeq === Seq(1L, 2L, 5L))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(storeDir)
    }
  }

  test("streamIncrementalSharded: within-shard dups drop across batches, " +
      "cross-shard copies are independent dedup domains (the stated " +
      "contract), per-shard stores land under shard=N, and restarts at a " +
      "different shard count or band geometry die loudly") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("shardstore").toFile
    root.delete()
    // routing is a pure function of the key — discover two keys that
    // land in different shards instead of assuming hash values
    val route = Seq("t0", "t1", "t2", "t3", "t4", "t5").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1
    val kB = route.find(_._2 != route(kA)).get._1
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val fresh = "cat dog bird fish mouse horse cow sheep"
    val accepted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val input = MemoryStream[(Long, String, String)]
    val q = graft.ext.DocPipeline.streamIncrementalSharded(
      input.toDF().toDF("doc_id", "tenant", "text"),
      root.getAbsolutePath, col("tenant"), numShards = 2,
      minWords = 4, tau = 0.7) { (df, _) =>
      accepted ++= df.select(col("doc_id"), col("shard")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    try {
      input.addData((1L, kA, t1), (2L, kB, fresh))
      q.processAllAvailable()
      assert(accepted.map(_._1).sorted.toSeq === Seq(1L, 2L))
      // batch 2: doc 3 re-sends t1 under the SAME tenant → its shard's
      // store drops it; doc 4 sends t1 under the OTHER shard's tenant →
      // accepted (cross-shard dups are not caught — by design); doc 5
      // fresh under kA → accepted
      input.addData((3L, kA, t1), (4L, kB, t1), (5L, kA, fresh))
      q.processAllAvailable()
      assert(accepted.map(_._1).sorted.toSeq === Seq(1L, 2L, 4L, 5L),
        s"got $accepted")
      // the shard column matches the router
      val byDoc = accepted.toMap
      assert(byDoc(1L) === route(kA) && byDoc(4L) === route(kB))
      // per-shard store layout on disk
      assert(new java.io.File(root, s"shard=${route(kA)}").isDirectory)
      assert(new java.io.File(root, s"shard=${route(kB)}").isDirectory)
    } finally q.stop()
    // restart at numShards = 4: keys would re-route — loud death
    val in2 = MemoryStream[(Long, String, String)]
    val q2 = graft.ext.DocPipeline.streamIncrementalSharded(
      in2.toDF().toDF("doc_id", "tenant", "text"),
      root.getAbsolutePath, col("tenant"), numShards = 4,
      minWords = 4, tau = 0.7) { (_, _) => () }
    try {
      in2.addData((9L, kA, fresh))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.getMessage != null &&
        t.getMessage.contains("numShards")), s"got: $e")
    } finally q2.stop()
    // restart at the right count but a DIFFERENT key column: the key is
    // pinned via its expression-string hash in _shard_meta — loud death
    // (r16: the sidecar can now see key drift, not just count drift)
    val in2b = MemoryStream[(Long, String, String)]
    val q2b = graft.ext.DocPipeline.streamIncrementalSharded(
      in2b.toDF().toDF("doc_id", "tenant", "text"),
      root.getAbsolutePath, col("text"), numShards = 2,
      minWords = 4, tau = 0.7) { (_, _) => () }
    try {
      in2b.addData((11L, kA, fresh))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2b.processAllAvailable()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.getMessage != null &&
        t.getMessage.contains("shardKeyHash")), s"got: $e")
    } finally q2b.stop()
    // ...while an explicit shardTag matching the original expression
    // string keeps a REWRITTEN-but-identical key working
    val in2c = MemoryStream[(Long, String, String)]
    val acc2c = scala.collection.mutable.ArrayBuffer[Long]()
    val q2c = graft.ext.DocPipeline.streamIncrementalSharded(
      in2c.toDF().toDF("doc_id", "tenant", "text"),
      root.getAbsolutePath, col("tenant"), numShards = 2,
      minWords = 4, tau = 0.7, shardTag = col("tenant").toString()) { (df, _) =>
      acc2c ++= df.select("doc_id").as[Long].collect()
    }
    try {
      in2c.addData((12L, kA, t1)) // still a dup of shard kA's history
      q2c.processAllAvailable()
      assert(acc2c.isEmpty, s"tagged restart lost history: $acc2c")
    } finally q2c.stop()
    // restart at the right shard count but different band geometry:
    // the touched SHARD's own _sig_meta dies (each shard is a full store)
    val in3 = MemoryStream[(Long, String, String)]
    val q3 = graft.ext.DocPipeline.streamIncrementalSharded(
      in3.toDF().toDF("doc_id", "tenant", "text"),
      root.getAbsolutePath, col("tenant"), numShards = 2,
      minWords = 4, tau = 0.7, bands = 2) { (_, _) => () }
    try {
      in3.addData((10L, kA, fresh))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
    } finally {
      q3.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }

  test("streamIncrementalSharded atomic stores: per-shard bloom sidecars " +
      "land, and a second sharded stream on the same root FENCES the " +
      "first at the shard it touches (multi-writer deploy mistake dies " +
      "loudly, per shard)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("shardfence").toFile
    root.delete()
    val route = Seq("t0", "t1", "t2", "t3", "t4", "t5").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1
    val kB = route.find(_._2 != route(kA)).get._1
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val in1 = MemoryStream[(Long, String, String)]
    val q1 = graft.ext.DocPipeline.streamIncrementalSharded(
      in1.toDF().toDF("doc_id", "tenant", "text"),
      root.getAbsolutePath, col("tenant"), numShards = 2,
      minWords = 4, tau = 0.7, atomicStore = true) { (_, _) => () }
    try {
      in1.addData((1L, kA, t1), (2L, kB, "cat dog bird fish mouse horse"))
      q1.processAllAvailable()
      // each touched shard carries its own bloom sidecar
      Seq(kA, kB).foreach { k =>
        val sp = graft.ext.DocPipeline.shardPath(root.getAbsolutePath, route(k))
        assert(new java.io.File(graft.sources.StoreBloom.bloomDir(sp)).exists(),
          s"missing bloom sidecar for shard of $k")
      }
      // a second stream pointed at the same root (the deploy mistake the
      // single-writer contract forbids) claims a higher epoch at the
      // shard it touches...
      val in2 = MemoryStream[(Long, String, String)]
      val q2 = graft.ext.DocPipeline.streamIncrementalSharded(
        in2.toDF().toDF("doc_id", "tenant", "text"),
        root.getAbsolutePath, col("tenant"), numShards = 2,
        minWords = 4, tau = 0.7, atomicStore = true) { (_, _) => () }
      try {
        in2.addData((10L, kA, "one two three four five six seven"))
        q2.processAllAvailable()
        // ...so the FIRST stream's next append to that shard dies at the
        // fence, before any data write
        in1.addData((3L, kA, "red green blue yellow purple orange"))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q1.processAllAvailable()
        }
        val chain = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).toSeq
        assert(chain.exists(t => t.getMessage != null &&
          t.getMessage.toLowerCase.contains("fenc")), s"got: $e")
      } finally q2.stop()
    } finally {
      q1.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }

  test("streamIncrementalSharded atomic stores: two streams with DISJOINT " +
      "tenant traffic coexist on one root — per-shard fences don't cross, " +
      "both keep deduping, both die only at their own shards") {
    // the legitimate multi-tenant concurrency shape: ingest parallelized
    // by tenant family, one sharded root. Fences are claimed per shard
    // at first touch, so streams that never touch each other's shards
    // never fence each other; the root _shard_meta is shared (first
    // writer creates it, the second validates numShards).
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("shardcoex").toFile
    root.delete()
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1
    val kB = route.find(_._2 != route(kA)).get._1
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "cat dog bird fish mouse horse cow sheep"
    val accA = scala.collection.mutable.ArrayBuffer[Long]()
    val accB = scala.collection.mutable.ArrayBuffer[Long]()
    val inA = MemoryStream[(Long, String, String)]
    val inB = MemoryStream[(Long, String, String)]
    def start(in: MemoryStream[(Long, String, String)],
              acc: scala.collection.mutable.ArrayBuffer[Long]) =
      graft.ext.DocPipeline.streamIncrementalSharded(
        in.toDF().toDF("doc_id", "tenant", "text"),
        root.getAbsolutePath, col("tenant"), numShards = 2,
        minWords = 4, tau = 0.7, atomicStore = true) { (df, _) =>
        acc ++= df.select("doc_id").as[Long].collect()
      }
    val qA = start(inA, accA)
    val qB = start(inB, accB)
    try {
      inA.addData((1L, kA, textA)); qA.processAllAvailable()
      inB.addData((2L, kB, textB)); qB.processAllAvailable()
      // both streams keep working across further batches — neither was
      // fenced, and each deduplicates against its own shard's history
      inA.addData((3L, kA, textA), (4L, kA, "red green blue yellow purple"))
      qA.processAllAvailable()
      inB.addData((5L, kB, textB), (6L, kB, "one two three four five"))
      qB.processAllAvailable()
      assert(accA.sorted.toSeq === Seq(1L, 4L), s"stream A: $accA")
      assert(accB.sorted.toSeq === Seq(2L, 6L), s"stream B: $accB")
    } finally {
      qA.stop(); qB.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }

  test("streamEmbeddingDedupSharded atomic stores: two concurrent writers " +
      "with disjoint tenant traffic coexist on one root (the vector-family " +
      "twin of the fleet shape)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("embcoex").toFile
    root.delete()
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1
    val kB = route.find(_._2 != route(kA)).get._1
    def vec(seed: Int) =
      Array.tabulate(16)(j => ((seed * 131 + j * 47) % 23 - 11) / 3.0f)
    val accA = scala.collection.mutable.ArrayBuffer[Long]()
    val accB = scala.collection.mutable.ArrayBuffer[Long]()
    val inA = MemoryStream[(Long, String, Array[Float])]
    val inB = MemoryStream[(Long, String, Array[Float])]
    def start(in: MemoryStream[(Long, String, Array[Float])],
              acc: scala.collection.mutable.ArrayBuffer[Long]) =
      graft.ext.DocPipeline.streamEmbeddingDedupSharded(
        in.toDF().toDF("vec_id", "tenant", "embedding"),
        root.getAbsolutePath, col("tenant"), numShards = 2, dim = 16,
        bits = 4, tau = 0.99, atomicStore = true) { (df, _) =>
        acc ++= df.select("vec_id").as[Long].collect()
      }
    val qA = start(inA, accA)
    val qB = start(inB, accB)
    try {
      inA.addData((1L, kA, vec(1))); qA.processAllAvailable()
      inB.addData((2L, kB, vec(2))); qB.processAllAvailable()
      // neither writer fenced the other; each dedupes against ITS
      // shard's vector history across later batches
      inA.addData((3L, kA, vec(1)), (4L, kA, vec(4)))
      qA.processAllAvailable()
      inB.addData((5L, kB, vec(2)), (6L, kB, vec(6)))
      qB.processAllAvailable()
      assert(accA.sorted.toSeq === Seq(1L, 4L), s"writer A: $accA")
      assert(accB.sorted.toSeq === Seq(2L, 6L), s"writer B: $accB")
      // and the reader surface works per shard mid-fleet: a probe of
      // tenant A's vector finds its match in shard A's store
      val probe = Seq((100L, vec(1))).toDF("vec_id", "embedding")
      val got = graft.ext.DocPipeline.embeddingDupProbe(
        probe, graft.ext.DocPipeline.shardPath(root.getAbsolutePath, route(kA)),
        tau = 0.99, atomicStore = true)
        .select("match_id").as[Long].collect().toSet
      assert(got === Set(1L), s"probe: $got")
    } finally {
      qA.stop(); qB.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }

  test("sharded streams: a zero-row micro-batch reaches onBatch as zero " +
      "rows carrying each family's accepted-row columns plus shard") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("shardempty").toFile
    val seen = scala.collection.mutable.ArrayBuffer[(String, Long, Seq[String])]()
    val inSig = MemoryStream[(Long, String, String)]
    val qSig = graft.ext.DocPipeline.streamIncrementalSharded(
      inSig.toDF().toDF("doc_id", "tenant", "text"),
      new java.io.File(root, "sig").getAbsolutePath, col("tenant"),
      numShards = 2, minWords = 4, tau = 0.7) { (df, _) =>
      seen += (("sig", df.count(), df.columns.toSeq))
    }
    val inEmb = MemoryStream[(Long, String, Array[Float])]
    val qEmb = graft.ext.DocPipeline.streamEmbeddingDedupSharded(
      inEmb.toDF().toDF("vec_id", "tenant", "embedding"),
      new java.io.File(root, "emb").getAbsolutePath, col("tenant"),
      numShards = 2, dim = 4, bits = 4) { (df, _) =>
      seen += (("emb", df.count(), df.columns.toSeq))
    }
    try {
      inSig.addData()
      qSig.processAllAvailable()
      inEmb.addData()
      qEmb.processAllAvailable()
      assert(seen.toSeq === Seq(
        ("sig", 0L, Seq("doc_id", "tenant", "text", "n_words", "lang_pred", "shard")),
        ("emb", 0L, Seq("vec_id", "tenant", "embedding", "shard"))), s"got $seen")
    } finally {
      qSig.stop(); qEmb.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }

  test("adviseShardCount counts a PLAIN embedding shard layout, whose rows " +
      "carry no doc_id column") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("embadvise").toFile
    try {
      val vecs = Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)))
        .toDF("vec_id", "embedding")
      graft.ext.DocPipeline.rebuildEmbeddingStore(vecs,
        graft.ext.DocPipeline.shardPath(root.getAbsolutePath, 0),
        dim = 4, bits = 4, bands = 2)
      val adv = graft.ext.DocPipeline.adviseShardCount(spark,
        root.getAbsolutePath, numShards = 2)
      // one store row per vector per band
      assert(adv.shardDocs === Map(0L -> 4L), s"got $adv")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("sharded atomic stores under a sustained FAILOVER CHAIN: A fenced " +
      "by B fenced by C on the same shard across multiple batches each — " +
      "every zombie dies loudly at its shard fence, every successor keeps " +
      "the full dedup history, the store ends single-copy") {
    // §7.11 #8: the single-batch fencing specs, run at composition
    // length — the orchestration-retry chain (each restart claims a
    // higher epoch, fences its predecessor, and serves from the same
    // per-shard history)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("shardchain").toFile
    root.delete()
    val kA = "t0"
    val shard = spark.range(1)
      .select(graft.ext.DocPipeline.shardOf(org.apache.spark.sql.functions.lit(kA), 2))
      .head().getLong(0)
    def text(n: Int) = s"w${n}a w${n}b w${n}c w${n}d w${n}e w${n}f"
    def start(acc: scala.collection.mutable.ArrayBuffer[Long]) = {
      val in = MemoryStream[(Long, String, String)]
      val q = graft.ext.DocPipeline.streamIncrementalSharded(
        in.toDF().toDF("doc_id", "tenant", "text"),
        root.getAbsolutePath, col("tenant"), numShards = 2,
        minWords = 4, tau = 0.7, atomicStore = true) { (df, _) =>
        acc ++= df.select("doc_id").as[Long].collect()
      }
      (in, q)
    }
    def expectFencedDeath(q: org.apache.spark.sql.streaming.StreamingQuery,
                          feed: => Unit): Unit = {
      feed
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.getMessage != null &&
        t.getMessage.contains("fenced")), s"got: $e")
    }
    val accA = scala.collection.mutable.ArrayBuffer[Long]()
    val accB = scala.collection.mutable.ArrayBuffer[Long]()
    val accC = scala.collection.mutable.ArrayBuffer[Long]()
    val (inA, qA) = start(accA)
    try {
      inA.addData((1L, kA, text(1)), (2L, kA, text(2)))
      qA.processAllAvailable()
      inA.addData((3L, kA, text(1)), (4L, kA, text(4))) // 3 = re-crawl of 1
      qA.processAllAvailable()
      assert(accA.sorted.toSeq === Seq(1L, 2L, 4L), s"A: $accA")
      // B takes over (the retry): fences A's shard at first touch,
      // serves the SAME history
      val (inB, qB) = start(accB)
      try {
        inB.addData((5L, kA, text(5)), (6L, kA, text(4))) // 6 = re-crawl
        qB.processAllAvailable()
        assert(accB.sorted.toSeq === Seq(5L), s"B: $accB")
        // the zombie A's next batch dies AT THE FENCE, nothing written
        expectFencedDeath(qA, inA.addData((7L, kA, text(7))))
        // C takes over from B the same way
        val (inC, qC) = start(accC)
        try {
          inC.addData((8L, kA, text(5)), (9L, kA, text(9))) // 8 = re-crawl of B's accept
          qC.processAllAvailable()
          assert(accC.sorted.toSeq === Seq(9L), s"C: $accC")
          expectFencedDeath(qB, inB.addData((10L, kA, text(10))))
          inC.addData((11L, kA, text(9)), (12L, kA, text(12))) // 11 = re-crawl
          qC.processAllAvailable()
          assert(accC.sorted.toSeq === Seq(9L, 12L), s"C: $accC")
        } finally qC.stop()
      } finally qB.stop()
    } finally qA.stop()
    // the shard's store holds exactly the chain's accepts, single-copy
    val stored = graft.sources.AppendStore.readOr(spark,
        graft.ext.DocPipeline.shardPath(root.getAbsolutePath, shard),
        sys.error("missing shard"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(stored === Seq(1L, 2L, 4L, 5L, 9L, 12L), s"store: $stored")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("maxBatchDocs envelope: an oversized micro-batch dies loudly with " +
      "the batch-path recipe instead of collecting its keys to the driver") {
    // VERDICT r15 what's-wrong #2: the bloom gate/merge collect ~5
    // longs per batch doc — bounded by the micro-batch contract by
    // CONVENTION only; a 50M-doc backfill pointed at streamIncremental
    // would OOM the driver with no actionable message. The require
    // makes the envelope loud and names the batch path.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val storeDir = java.nio.file.Files.createTempDirectory("sigbound").toFile
    storeDir.delete()
    val input = MemoryStream[(Long, String)]
    spark.conf.set("spark.graft.maxBatchDocs", "2")
    val q = graft.ext.DocPipeline.streamIncremental(
      input.toDF().toDF("doc_id", "text"), storeDir.getAbsolutePath,
      minWords = 4, tau = 0.7) { (_, _) => () }
    try {
      input.addData(
        (1L, "one two three four five"),
        (2L, "six seven eight nine ten"),
        (3L, "cat dog bird fish mouse"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.getMessage != null &&
        t.getMessage.contains("spark.graft.maxBatchDocs") &&
        t.getMessage.contains("rebuildSignatureStore")), s"got: $e")
    } finally {
      spark.conf.unset("spark.graft.maxBatchDocs")
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(storeDir)
    }
  }

  test("streaming funnel ≡ batch funnel under per-user in-order delivery") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val stages = Seq("a", "b", "c")
    val all = (0 until 300).map { i =>
      Streams.TypedEvent(rnd.nextInt(20).toLong,
        new Timestamp(1700000000000L + i * 60000L + rnd.nextInt(50000)),
        stages(rnd.nextInt(3)))
    }.sortBy(_.ts.getTime) // global ts order ⇒ per-user in-order
    for (gap <- Seq(None, Some(30L * 60000L))) {
      val input = MemoryStream[Streams.TypedEvent]
      val name = s"funnel_${gap.isDefined}"
      val q = Streams.funnelStream(input.toDS(), stages, gap)
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      try {
        all.grouped(75).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
        // state only progresses: max reached per user is the final state
        val streamed = spark.table(name)
          .groupBy("userId").agg(org.apache.spark.sql.functions.max("reached").as("reached"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        val batch = graft.operators.Funnel.funnelTimes(
            all.toDF("user_id", "ts", "event_type"),
            "user_id", "ts", "event_type", stages,
            gap.map(_ / 1000L)) // batch deadline is in seconds, stream in ms
          .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("reached").toInt).toMap
        assert(streamed === batch, s"parity failed (gap=$gap)")
        assert(batch.values.exists(_ > 0), "degenerate test: nobody converted")
      } finally q.stop()
    }
  }

  test("funnelStream idleTimeoutMs evicts idle keys: the next event restarts from stage 0") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stages = Seq("a", "b")
    val input = MemoryStream[Streams.TypedEvent]
    val q = Streams.funnelStream(input.toDS(), stages,
        idleTimeoutMs = Some(1000L), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("funnel_idle").outputMode("update").start()
    try {
      // event-time eviction — fully deterministic, no wall clock:
      // user 7 last active at t=1000 with a 1 s idle timeout; an
      // unrelated user's events advance the watermark far past
      // t=2000 (one batch to observe the max ts, one for the new
      // watermark to fire the timeout)
      input.addData(Streams.TypedEvent(7L, new Timestamp(1000L), "a"))
      q.processAllAvailable()
      input.addData(Streams.TypedEvent(8L, new Timestamp(100000L), "a"))
      q.processAllAvailable()
      input.addData(Streams.TypedEvent(8L, new Timestamp(100001L), "x"))
      q.processAllAvailable()
      // user 7's stage-b event now finds NO state: the funnel
      // restarted, so 'b' without a fresh 'a' reports reached = 0
      input.addData(Streams.TypedEvent(7L, new Timestamp(200000L), "b"))
      q.processAllAvailable()
      val reached = spark.table("funnel_idle")
        .filter(org.apache.spark.sql.functions.col("userId") === 7L)
        .select("reached").as[Int].collect().toSeq
      assert(reached.contains(1), "pre-eviction progress must have been emitted")
      // without eviction the 'b' would complete the funnel (reached 2);
      // with eviction it finds no state and reports 0
      assert(!reached.contains(2), s"state survived the timeout: $reached")
      assert(reached.contains(0), s"expected a post-eviction restart row: $reached")
    } finally q.stop()
  }

  test("store-geometry guards: a restart at mismatched key parameters dies " +
      "loudly (chunk width; signature k/bands) instead of silently missing " +
      "every cross-run duplicate") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def expectGeometryDeath(q: org.apache.spark.sql.streaming.StreamingQuery,
                            feed: => Unit): Unit =
      try {
        feed
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
      } finally q.stop()

    // chunk store built at width 2 …
    val chunkStore = java.nio.file.Files.createTempDirectory("geomchunk").toFile
    chunkStore.delete()
    val in1 = MemoryStream[(Long, String)]
    val q1 = graft.ext.DocPipeline.streamChunkDedup(
      in1.toDF().toDF("doc_id", "text"), chunkStore.getAbsolutePath,
      chunkTokens = 2) { (_, _) => () }
    try { in1.addData((1L, "a b c d")); q1.processAllAvailable() }
    finally q1.stop()
    // … restarted at width 3: different chunk boundaries, loud failure
    val in2 = MemoryStream[(Long, String)]
    expectGeometryDeath(
      graft.ext.DocPipeline.streamChunkDedup(
        in2.toDF().toDF("doc_id", "text"), chunkStore.getAbsolutePath,
        chunkTokens = 3) { (_, _) => () },
      in2.addData((2L, "a b c d")))

    // signature store built at (k=8, bands=4) …
    val sigStore = java.nio.file.Files.createTempDirectory("geomsig").toFile
    sigStore.delete()
    val long = (w: String) => Array.tabulate(40)(i => s"$w$i").mkString(" ")
    val in3 = MemoryStream[(Long, String)]
    val q3 = graft.ext.DocPipeline.streamIncremental(
      in3.toDF().toDF("doc_id", "text"), sigStore.getAbsolutePath,
      minWords = 10, minhashK = 8, bands = 4) { (_, _) => () }
    try { in3.addData((1L, long("aaa"))); q3.processAllAvailable() }
    finally q3.stop()
    // … restarted at bands = 2: band keys never match, loud failure
    val in4 = MemoryStream[(Long, String)]
    expectGeometryDeath(
      graft.ext.DocPipeline.streamIncremental(
        in4.toDF().toDF("doc_id", "text"), sigStore.getAbsolutePath,
        minWords = 10, minhashK = 8, bands = 2) { (_, _) => () },
      in4.addData((2L, long("bbb"))))
    // same geometry restarts fine (meta adopted, history intact)
    val in5 = MemoryStream[(Long, String)]
    var ok = Seq.empty[Long]
    val q5 = graft.ext.DocPipeline.streamIncremental(
      in5.toDF().toDF("doc_id", "text"), sigStore.getAbsolutePath,
      minWords = 10, minhashK = 8, bands = 4) { (df, _) =>
      ok = df.select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    try {
      in5.addData((3L, long("aaa")), (4L, long("ccc")))
      q5.processAllAvailable()
    } finally q5.stop()
    assert(ok === Seq(4L), s"history must win across the restart: $ok")

    // rebuild at a NEW geometry from the accepted corpus: the meta
    // updates, a restart at (8, 2) now passes, and history still wins
    val acceptedCorpus = Seq((1L, long("aaa")), (4L, long("ccc")))
      .toDF("doc_id", "text")
    graft.ext.DocPipeline.rebuildSignatureStore(
      acceptedCorpus, sigStore.getAbsolutePath, minhashK = 8, bands = 2)
    val in6 = MemoryStream[(Long, String)]
    var ok6 = Seq.empty[Long]
    val q6 = graft.ext.DocPipeline.streamIncremental(
      in6.toDF().toDF("doc_id", "text"), sigStore.getAbsolutePath,
      minWords = 10, minhashK = 8, bands = 2) { (df, _) =>
      ok6 = df.select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    try {
      in6.addData(
        (5L, long("aaa")),                                        // exact dup of rebuilt history
        (6L, (long("ccc").split(" ").dropRight(1) :+ "x").mkString(" ")), // near dup
        (7L, long("zzz")))                                        // fresh
      q6.processAllAvailable()
    } finally q6.stop()
    assert(ok6 === Seq(7L), s"rebuilt store must keep rejecting history: $ok6")
  }

  test("signature-store shingle cap is geometry: sketched store rejects " +
      "history, mismatched-m restart dies loudly, pre-bkv sidecars die " +
      "(string keys), absent params read at legacy defaults") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val long = (w: String) => Array.tabulate(120)(i => s"$w$i").mkString(" ")
    // store built SKETCHED (m = 32; 120-token docs carry 118 shingles)
    val store = java.nio.file.Files.createTempDirectory("sketchsig").toFile
    store.delete()
    val in1 = MemoryStream[(Long, String)]
    val q1 = graft.ext.DocPipeline.streamIncremental(
      in1.toDF().toDF("doc_id", "text"), store.getAbsolutePath,
      minWords = 10, maxShingles = 32) { (_, _) => () }
    try { in1.addData((1L, long("aaa"))); q1.processAllAvailable() }
    finally q1.stop()
    val storedSizes = spark.read.parquet(store.getAbsolutePath)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("shingles")))
      .collect().map(_.getInt(0))
    assert(storedSizes.forall(_ === 32), s"store not sketched: ${storedSizes.toSeq}")
    // same m: history wins across the restart (exact re-crawl AND a
    // near-dup both reject through the sketched verify path)
    val in2 = MemoryStream[(Long, String)]
    var ok = Seq.empty[Long]
    val q2 = graft.ext.DocPipeline.streamIncremental(
      in2.toDF().toDF("doc_id", "text"), store.getAbsolutePath,
      minWords = 10, maxShingles = 32) { (df, _) =>
      ok = df.select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    try {
      in2.addData(
        (2L, long("aaa")),
        (3L, (long("aaa").split(" ").dropRight(1) :+ "x").mkString(" ")),
        (4L, long("zzz")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(ok === Seq(4L), s"sketched history must win: $ok")
    // mismatched m (0 = exact) would compare a full set against
    // sketches — the KMV estimator's precondition breaks, so it must
    // die loudly like any other geometry change
    val in3 = MemoryStream[(Long, String)]
    val q3 = graft.ext.DocPipeline.streamIncremental(
      in3.toDF().toDF("doc_id", "text"), store.getAbsolutePath,
      minWords = 10) { (_, _) => () }
    try {
      in3.addData((5L, long("bbb")))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
    } finally q3.stop()
    // a PRE-BKV sidecar (no "bkv" row — what every r14 store has on
    // disk) describes a store whose band_keys are "b:h1_h2" STRINGS:
    // any restart of current code must die with the rebuild recipe,
    // even at otherwise-matching geometry (r15 pack migration)
    val legacyMeta = s"${store.getAbsolutePath}_sig_meta"
    Seq(("minhashK", 8), ("bands", 4), ("fpv", 2)).toDF("param", "value")
      .coalesce(1).write.mode("overwrite").parquet(legacyMeta)
    val in4 = MemoryStream[(Long, String)]
    val q4 = graft.ext.DocPipeline.streamIncremental(
      in4.toDF().toDF("doc_id", "text"), store.getAbsolutePath,
      minWords = 10, maxShingles = 32) { (_, _) => () }
    try {
      in4.addData((6L, long("ccc")))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q4.processAllAvailable()
      }
    } finally q4.stop()
    // the legacy-default MECHANISM stays pinned: a sidecar missing a
    // later-added param reads at that param's legacy value — here a
    // bkv=2 sidecar with no "m" row admits m = 0 (exact) and refuses
    // m = 32 (the m-grace path itself; no real store writes this
    // sidecar anymore, both params land together since r15)
    Seq(("minhashK", 8), ("bands", 4), ("fpv", 2), ("bkv", 2))
      .toDF("param", "value")
      .coalesce(1).write.mode("overwrite").parquet(legacyMeta)
    val in5 = MemoryStream[(Long, String)]
    var ok5 = Seq.empty[Long]
    val q5 = graft.ext.DocPipeline.streamIncremental(
      in5.toDF().toDF("doc_id", "text"), store.getAbsolutePath,
      minWords = 10) { (df, _) =>
      ok5 = df.select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    try { in5.addData((7L, long("ddd"))); q5.processAllAvailable() }
    finally q5.stop()
    assert(ok5 === Seq(7L), s"bkv-only sidecar must admit m=0 restarts: $ok5")
    val in6 = MemoryStream[(Long, String)]
    val q6b = graft.ext.DocPipeline.streamIncremental(
      in6.toDF().toDF("doc_id", "text"), store.getAbsolutePath,
      minWords = 10, maxShingles = 32) { (_, _) => () }
    try {
      in6.addData((8L, long("eee")))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q6b.processAllAvailable()
      }
    } finally q6b.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(store)
  }

  test("crash-replay exactly-once: a replayed batch re-accepts nothing, " +
      "the atomic store stays single-copy, and fresh batches resume") {
    import org.apache.spark.sql.types._
    // file source + durable checkpoint: the replay path MemoryStream
    // cannot exercise (its offsets die with the query)
    val srcDir = java.nio.file.Files.createTempDirectory("replaysrc")
    val ckpt = java.nio.file.Files.createTempDirectory("replayckpt").toString
    val store = java.nio.file.Files.createTempDirectory("replaystore").toFile
    store.delete()
    val long = (w: String) => Array.tabulate(40)(i => s"$w$i").mkString(" ")
    def writeBatchFile(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.writeString(srcDir.resolve(name),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def source = spark.readStream.schema(schema).json(srcDir.toString)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      graft.ext.DocPipeline.streamIncremental(
        source, store.getAbsolutePath, minWords = 10,
        atomicStore = true, checkpointLocation = Some(ckpt)) { (df, bid) =>
        seen += ((bid, df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted))
      }

    def stopAndRelease(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.stop(); q.awaitTermination()
      // the active-query registry frees the checkpoint path async —
      // wait until NO query is active before restarting on the same
      // checkpoint (same-id restarts trip the concurrent-use guard)
      var i = 0
      while (spark.streams.active.nonEmpty && i < 200) {
        Thread.sleep(50); i += 1
      }
      spark.streams.resetTerminated()
      Thread.sleep(200)
    }
    writeBatchFile("b0.json", Seq((1L, long("aaa")), (2L, long("bbb"))))
    val q1 = run()
    try q1.processAllAvailable() finally stopAndRelease(q1)
    assert(seen.toSeq === Seq((0L, Seq(1L, 2L))))
    val sigCount = graft.sources.AppendStore
      .readOr(spark, store.getAbsolutePath, sys.error("missing")).count()

    // simulate a crash AFTER the store append but BEFORE the offset
    // commit: delete the checkpoint's batch-0 commit so the restarted
    // query REPLAYS batch 0 against a store that already absorbed it
    val commit0 = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(java.nio.file.Files.deleteIfExists(commit0), s"no commit at $commit0")
    // the local checksum FS keeps a .0.crc sidecar — leaving it behind
    // makes the rewrite collide (FileAlreadyExistsException → Spark's
    // concurrent-use guard); a real crash loses both together
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    seen.clear()
    val q2 = run()
    try q2.processAllAvailable() finally stopAndRelease(q2)
    // the documented semantics: replayed rows anti-join their own
    // signatures → nothing re-accepted, nothing re-appended
    assert(seen.toSeq === Seq((0L, Seq.empty[Long])),
      s"replayed batch must re-accept nothing: $seen")
    assert(graft.sources.AppendStore
      .readOr(spark, store.getAbsolutePath, sys.error("missing"))
      .count() === sigCount, "replay grew the store")

    // and the stream is healthy: a fresh batch processes normally,
    // history (incl. the pre-crash batch) still wins
    writeBatchFile("b1.json", Seq((3L, long("aaa")), (4L, long("qqq"))))
    seen.clear()
    val q3 = run()
    try q3.processAllAvailable() finally stopAndRelease(q3)
    assert(seen.map(_._2).flatten.toSeq === Seq(4L),
      s"post-replay batch wrong: $seen")
  }

  test("checkpointed failover chain (VERDICT r16 #2): A crashes MID-BATCH " +
      "after the store append, B resumes from A's checkpoint with a newer " +
      "fence and re-accepts nothing, B crashes the same way, C converges — " +
      "offsets, store, bloom, and fences all land on the successor") {
    import org.apache.spark.sql.types._
    val srcDir = java.nio.file.Files.createTempDirectory("chainsrc")
    val ckpt = java.nio.file.Files.createTempDirectory("chainckpt").toString
    val store = java.nio.file.Files.createTempDirectory("chainstore").toFile
    store.delete()
    val sp = store.getAbsolutePath
    def text(i: Int) = Array.tabulate(40)(j => s"c${i}w$j").mkString(" ")
    def writeBatchFile(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.writeString(srcDir.resolve(name),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    // crash injection: onBatch throws AFTER incrementalStoreStep ran —
    // the store appended and the bloom sidecar saved, the checkpoint
    // commit and the sink delivery both lost. The worst window.
    @volatile var crashNext = false
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      graft.ext.DocPipeline.streamIncremental(
        spark.readStream.schema(schema).json(srcDir.toString), sp,
        minWords = 10, atomicStore = true,
        checkpointLocation = Some(ckpt)) { (df, _) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0))
        if (crashNext && ids.nonEmpty) {
          crashNext = false
          throw new RuntimeException("injected driver crash")
        }
        delivered ++= ids
      }
    def stopAndRelease(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try q.stop() catch { case _: Throwable => () }
      var i = 0
      while (spark.streams.active.nonEmpty && i < 200) { Thread.sleep(50); i += 1 }
      spark.streams.resetTerminated(); Thread.sleep(200)
    }
    def storeRows() = graft.sources.AppendStore
      .readOr(spark, sp, sys.error("missing store")).count()

    // ── driver A: healthy batch, then a mid-batch crash ──
    writeBatchFile("f0.json", Seq((1L, text(1)), (2L, text(2))))
    val a = run()
    try a.processAllAvailable() finally {}
    assert(delivered.sorted.toSeq === Seq(1L, 2L))
    assert(graft.sources.AtomicCommit.maxEpoch(spark, sp) === 1L) // A's fence
    val rowsAfterF0 = storeRows()
    writeBatchFile("f1.json", Seq((3L, text(3)), (10L, text(1)))) // fresh + re-crawl
    crashNext = true
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      a.processAllAvailable()
    }
    stopAndRelease(a)
    // the crash window is real: doc 3's signatures are IN the store,
    // its delivery and the checkpoint commit are NOT
    assert(storeRows() > rowsAfterF0, "crash landed before the append?")
    assert(delivered.sorted.toSeq === Seq(1L, 2L))

    // ── driver B: resumes from A's checkpoint, claims a newer fence ──
    delivered.clear()
    val b = run()
    try {
      b.processAllAvailable() // replays f1
      // no re-accepts: the replayed batch anti-joins its own signatures
      assert(delivered.isEmpty, s"replay re-accepted: $delivered")
      assert(graft.sources.AtomicCommit.maxEpoch(spark, sp) === 2L)
      // zombie A's residual append dies at B's fence, store untouched
      val before = storeRows()
      val e = intercept[IllegalArgumentException] {
        graft.sources.AppendStore.append(
          graft.sources.AppendStore.readOr(spark, sp, sys.error("missing"))
            .limit(1), sp, fenceEpoch = Some(1L))
      }
      assert(e.getMessage.contains("fenced"), e.getMessage)
      assert(storeRows() === before)
      // healthy traffic flows on B: fresh accepts, history (incl. the
      // crash-batch doc 3) rejects
      writeBatchFile("f2.json", Seq((4L, text(4)), (11L, text(3))))
      b.processAllAvailable()
      assert(delivered.sorted.toSeq === Seq(4L), delivered.toString)
      // ── B crashes the same way on f3 ──
      writeBatchFile("f3.json", Seq((5L, text(5))))
      crashNext = true
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        b.processAllAvailable()
      }
    } finally stopAndRelease(b)

    // ── driver C: the chain's third link converges ──
    delivered.clear()
    val c = run()
    try {
      c.processAllAvailable() // replays f3 → nothing
      assert(delivered.isEmpty, s"replay re-accepted: $delivered")
      assert(graft.sources.AtomicCommit.maxEpoch(spark, sp) === 3L)
      // every doc the chain ever absorbed — including BOTH crash
      // batches' — is history now; only genuinely fresh input lands
      writeBatchFile("f4.json",
        Seq((6L, text(6)), (12L, text(5)), (13L, text(2))))
      c.processAllAvailable()
      assert(delivered.sorted.toSeq === Seq(6L), delivered.toString)
    } finally stopAndRelease(c)

    // ── convergence audit ──
    // store: exactly one signature row per unique accepted doc (1..6)
    val sigs = graft.sources.AppendStore.readOr(spark, sp, sys.error("missing"))
    assert(sigs.count() === 6L, s"store rows: ${sigs.count()}")
    assert(sigs.select("fp").distinct().count() === 6L, "duplicate fps in store")
    // bloom sidecar covers the store (over-coverage from the crash
    // windows is the safe direction; under-coverage never happens)
    val bloom = graft.sources.StoreBloom.load(spark, sp)
    assert(bloom.exists(_.rows >= 6L), s"bloom: ${bloom.map(_.rows)}")
    // fences: zombie epochs 1 and 2 both refused after the chain
    for (z <- Seq(1L, 2L)) {
      val e = intercept[IllegalArgumentException] {
        graft.sources.AppendStore.append(sigs.limit(1), sp, fenceEpoch = Some(z))
      }
      assert(e.getMessage.contains("fenced"), s"epoch $z: ${e.getMessage}")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(srcDir.toFile)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    org.apache.commons.io.FileUtils.deleteQuietly(store)
  }

  test("streamChunkDedup drops spans within AND across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val storeDir = java.nio.file.Files.createTempDirectory("chunkstore").toFile
    storeDir.delete()
    val got = scala.collection.mutable.Map[Long, (Option[String], Long, Long)]()
    val input = MemoryStream[(Long, String)]
    val q = graft.ext.DocPipeline.streamChunkDedup(
      input.toDF().toDF("doc_id", "text"), storeDir.getAbsolutePath,
      chunkTokens = 2) { (df, _) =>
      df.collect().foreach(r => got(r.getAs[Long]("doc_id")) =
        (Option(r.getAs[String]("text_kept")),
          r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped")))
    }
    try {
      // within-batch: doc 2's "c d" loses to doc 1
      input.addData((1L, "a b c d"), (2L, "c d p q"))
      q.processAllAvailable()
      assert(got(1L) === ((Some("a b c d"), 2L, 0L)))
      assert(got(2L) === ((Some("p q"), 1L, 1L)))
      // across batches: "a b" and "p q" lost to the STORE; "x y" fresh;
      // doc 4 is fully boilerplate
      input.addData((3L, "a b x y"), (4L, "p q c d"))
      q.processAllAvailable()
      assert(got(3L) === ((Some("x y"), 1L, 1L)))
      assert(got(4L) === ((None, 0L, 2L)))
      // store holds one hash per accepted chunk: a b, c d, p q, x y
      assert(spark.read.parquet(storeDir.getAbsolutePath).count() === 4L)
    } finally {
      q.stop()
    }
  }

  test("pre-r15 hex-keyed hash stores die loudly (the h column's TYPE is " +
      "its format version): a string-keyed store would silently never " +
      "match binary keys") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val storeDir = java.nio.file.Files.createTempDirectory("hexstore").toFile
    // a pre-r15 store: 32-char hex md5 strings in `h`
    Seq("0" * 32, "1" * 32).toDF("h")
      .write.mode("overwrite").parquet(storeDir.getAbsolutePath)
    for ((name, start) <- Seq[(String,
        () => org.apache.spark.sql.streaming.StreamingQuery)](
      ("chunk", () => {
        val in = MemoryStream[(Long, String)]
        val q = graft.ext.DocPipeline.streamChunkDedup(
          in.toDF().toDF("doc_id", "text"), storeDir.getAbsolutePath,
          chunkTokens = 2) { (_, _) => () }
        in.addData((1L, "a b c d")); q
      }),
      ("line", () => {
        val in = MemoryStream[(Long, String)]
        val q = graft.ext.DocPipeline.streamLineDedup(
          in.toDF().toDF("doc_id", "text"), storeDir.getAbsolutePath) {
          (_, _) => () }
        in.addData((1L, "aaa\nbbb")); q
      }))) {
      val q = start()
      try {
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(e.getMessage.contains("pre-r15 hex format"),
          s"$name store: wrong death: ${e.getMessage.take(200)}")
      } finally q.stop()
    }
    org.apache.commons.io.FileUtils.deleteQuietly(storeDir)
  }

  test("streamLineDedup: history wins across batches; single batch ≡ batch op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val storeDir = java.nio.file.Files.createTempDirectory("linestore").toFile
    storeDir.delete()
    val got = scala.collection.mutable.Map[Long, (Long, Long, String)]()
    val input = MemoryStream[(Long, String)]
    val q = graft.ext.DocPipeline.streamLineDedup(
      input.toDF().toDF("doc_id", "text"), storeDir.getAbsolutePath) { (df, _) =>
      df.collect().foreach(r => got(r.getAs[Long]("doc_id")) =
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("text_kept")))
    }
    try {
      val batch1 = Seq((1L, "alpha\nboiler\n\nbeta"), (2L, "boiler\ngamma"))
      input.addData(batch1: _*)
      q.processAllAvailable()
      // single-batch result equals the batch operator bit-for-bit
      val expect = graft.ext.Dedup.lineDedup(
        batch1.toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.toMap == expect)
      assert(got(2L) == ((2L, 1L, "gamma")))
      // across batches: "alpha" and "gamma" lost to the STORE; blank kept
      input.addData((3L, "alpha\nfresh\n\ngamma"))
      q.processAllAvailable()
      assert(got(3L) == ((4L, 2L, "fresh\n")))
      // store: one hash per accepted line (alpha, boiler, beta, gamma, fresh)
      assert(spark.read.parquet(storeDir.getAbsolutePath).count() === 5L)
    } finally {
      q.stop()
    }
  }

  test("streamSpanDedup cuts variable spans within and across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val storeDir = java.nio.file.Files.createTempDirectory("spanstore").toFile
    storeDir.delete()
    val span = (1 to 25).map(i => s"sp$i").mkString(" ")
    val doc1 = (1 to 7).map(i => s"fa$i").mkString(" ") + " " + span + " fa8 fa9"
    val got = scala.collection.mutable.Map[Long, (Long, Option[String])]()
    val input = MemoryStream[(Long, String)]
    val q = graft.ext.DocPipeline.streamSpanDedup(
      input.toDF().toDF("doc_id", "text"), storeDir.getAbsolutePath,
      n = 5, minTokens = 20) { (df, _) =>
      df.collect().foreach(r => got(r.getAs[Long]("doc_id")) =
        (r.getAs[Long]("n_removed"), Option(r.getAs[String]("text_kept"))))
    }
    try {
      // within-batch: doc 2 shares the 25-token span at a different
      // offset; min doc id 1 wins and keeps its text
      input.addData(
        (1L, doc1),
        (2L, (1 to 12).map(i => s"fb$i").mkString(" ") + " " + span + " fb13 fb14"))
      q.processAllAvailable()
      assert(got(1L) === ((0L, Some(doc1))))
      assert(got(2L) === ((25L,
        Some(((1 to 12).map(i => s"fb$i") ++ Seq("fb13", "fb14")).mkString(" ")))))
      // across batches: doc 3 carries the historical span (cut), doc 4
      // is fresh (kept), doc 5 is a byte-exact replay of doc 1 (fully
      // boilerplate now — history always wins)
      input.addData(
        (3L, "gc1 gc2 gc3 " + span + " gc4"),
        (4L, (1 to 30).map(i => s"zz$i").mkString(" ")),
        (5L, doc1))
      q.processAllAvailable()
      assert(got(3L) === ((25L, Some("gc1 gc2 gc3 gc4"))))
      assert(got(4L)._1 === 0L)
      assert(got(5L) === ((34L, None)))
      // store holds each distinct shingle exactly once
      val store = spark.read.parquet(storeDir.getAbsolutePath)
      assert(store.count() === store.distinct().count())
    } finally q.stop()
  }

  test("streamSpanDedup single batch ≡ batch spanDedup (empty history)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // random colliding corpus (the NearDupSpec differential fixture):
    // with no history, the stream's cut rule (df>=2 && doc != win) IS
    // the batch operator's winner election — outputs must match row
    // for row
    val rnd = new scala.util.Random(23)
    val corpus = (1L to 10L).map { id =>
      (id, (0 until 12 + rnd.nextInt(25)).map(_ => s"t${rnd.nextInt(5)}").mkString(" "))
    }
    val want = graft.ext.Dedup.spanDedup(
      corpus.toDF("doc_id", "text"), "doc_id", "text", n = 4, minDocs = 2, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    val storeDir = java.nio.file.Files.createTempDirectory("spanparity")
      .resolve("store").toString
    val got = scala.collection.mutable.Set[(Long, Long, Option[String])]()
    val input = MemoryStream[(Long, String)]
    val q = graft.ext.DocPipeline.streamSpanDedup(
      input.toDF().toDF("doc_id", "text"), storeDir,
      n = 4, minTokens = 8) { (df, _) =>
      df.collect().foreach(r =>
        got += ((r.getLong(0), r.getLong(1), Option(r.getString(2)))))
    }
    try {
      input.addData(corpus: _*)
      q.processAllAvailable()
      assert(got.toSet === want, s"diff: ${(got.toSet -- want) ++ (want -- got.toSet)}")
    } finally q.stop()
  }

  test("streamSpanDedup atomicStore: same cuts, debris invisible, store compacts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.sources.{AppendStore, AtomicCommit}
    val storeDir = java.nio.file.Files.createTempDirectory("spanatomic")
      .resolve("store").toString
    val span = (1 to 25).map(i => s"qp$i").mkString(" ")
    val got = scala.collection.mutable.Map[Long, (Long, Option[String])]()
    val input = MemoryStream[(Long, String)]
    val q = graft.ext.DocPipeline.streamSpanDedup(
      input.toDF().toDF("doc_id", "text"), storeDir,
      n = 5, minTokens = 20, atomicStore = true) { (df, _) =>
      df.collect().foreach(r => got(r.getAs[Long]("doc_id")) =
        (r.getAs[Long]("n_removed"), Option(r.getAs[String]("text_kept"))))
    }
    try {
      input.addData((1L, "ka1 ka2 " + span + " ka3"))
      q.processAllAvailable()
      assert(got(1L)._1 === 0L)
      // crash-debris simulation: an UNCOMMITTED version dir must be
      // invisible to the store read (plain append would ingest it)
      spark.range(1).selectExpr("CAST(99999 AS LONG) AS sh")
        .write.parquet(AtomicCommit.versionDir(storeDir, 5L))
      input.addData((2L, "kb1 kb2 kb3 " + span + " kb4"))
      q.processAllAvailable()
      // doc 2 still loses the span to HISTORY (v=1 committed), proving
      // the committed store is read and the debris changed nothing
      assert(got(2L) === ((25L, Some("kb1 kb2 kb3 kb4"))))
      val committed = AtomicCommit.committedVersions(spark, storeDir)
      assert(!committed.contains(5L), s"debris must stay uncommitted: $committed")
      // compact folds versions into one; live content unchanged
      val before = AppendStore.readOr(spark, storeDir,
        spark.range(0).selectExpr("id AS sh")).count()
      AppendStore.compact(spark, storeDir)
      val after = AppendStore.readOr(spark, storeDir,
        spark.range(0).selectExpr("id AS sh"))
      assert(after.count() === before)
      assert(AtomicCommit.committedVersions(spark, storeDir).size === 1)
    } finally q.stop()
  }

  test("streaming ewma ≡ batch ewma under per-key in-order delivery") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val all = (0 until 240).map { i =>
      Streams.Event(rnd.nextInt(9).toLong,
        new Timestamp(1700000000000L + i * 60000L), rnd.nextInt(100).toDouble)
    } // strictly increasing ts ⇒ per-key in-order
    val input = MemoryStream[Streams.Event]
    val q = Streams.ewmaStream(input.toDS(), alpha = 0.25)
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    try {
      all.grouped(60).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("ewma_stream")
        .collect()
        .map(r => (r.getAs[Long]("userId"), r.getAs[Timestamp]("ts").getTime) ->
          r.getAs[Double]("ewma")).toMap
      val batch = graft.operators.Fill.ewma(
          all.toDF("user_id", "ts", "value"),
          Seq("user_id"), Seq("ts"), "value", 0.25)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("ts").getTime) ->
          r.getAs[Double]("ewma")).toMap
      assert(streamed.size === all.size) // one final row per event
      assert(streamed.keySet === batch.keySet)
      streamed.foreach { case (k, v) =>
        assert(math.abs(v - batch(k)) < 1e-12, s"parity failed at $k: $v vs ${batch(k)}")
      }
    } finally q.stop()
  }

  test("reshardSignatureStores + adviseShardCount: resharded layouts are " +
      "stream-compatible (identical routing + meta), the advise fires on " +
      "a hot shard, an existing root is refused, and a half-built root's " +
      "sentinel meta dies loudly") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1
    val kB = route.find(_._2 != route(kA)).get._1
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "cat dog bird fish mouse horse cow sheep"
    val corpus = Seq((1L, kA, t1), (2L, kB, t2), (3L, kA, t2))
      .toDF("doc_id", "tenant", "text")
    val root = java.nio.file.Files.createTempDirectory("reshard").toFile
    root.delete()
    graft.ext.DocPipeline.reshardSignatureStores(
      corpus, root.getAbsolutePath, col("tenant"), numShards = 2)
    // the rebuilt layout serves the stream directly: same router, same
    // meta — a re-crawl of resharded history drops, fresh flows
    val acc = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String, String)]
    val q = graft.ext.DocPipeline.streamIncrementalSharded(
      in.toDF().toDF("doc_id", "tenant", "text"),
      root.getAbsolutePath, col("tenant"), numShards = 2,
      minWords = 4, tau = 0.7) { (df, _) =>
      acc ++= df.select("doc_id").as[Long].collect()
    }
    try {
      in.addData((10L, kA, t1), (11L, kA, "red green blue yellow purple"))
      q.processAllAvailable()
      assert(acc.sorted.toSeq === Seq(11L), s"got $acc")
    } finally q.stop()
    // advise: a 1-doc budget makes the 2-doc hot shard fire and the
    // recommendation scale by its overload; a loose budget stays quiet
    val fire = graft.ext.DocPipeline.adviseShardCount(
      spark, root.getAbsolutePath, numShards = 2, budgetDocs = 1L)
    assert(fire.reshard && fire.recommendedShards >= 4 &&
      fire.totalDocs === 4 && fire.maxShardDocs >= 2, fire.toString)
    val quiet = graft.ext.DocPipeline.adviseShardCount(
      spark, root.getAbsolutePath, numShards = 2, budgetDocs = 1000L)
    assert(!quiet.reshard && quiet.recommendedShards === 2, quiet.toString)
    // an existing layout is refused — reshard side-by-side
    val e = intercept[IllegalArgumentException] {
      graft.ext.DocPipeline.reshardSignatureStores(
        corpus, root.getAbsolutePath, col("tenant"), numShards = 4)
    }
    assert(e.getMessage.contains("FRESH"))
    // half-built reshard: the sentinel meta (numShards = 0) makes a
    // premature stream start die instead of bootstrapping empty shards
    val root2 = java.nio.file.Files.createTempDirectory("reshard2").toFile
    Seq(("numShards", 0), ("shardKeyHash", 1)).toDF("param", "value")
      .write.mode("overwrite").parquet(root2.getAbsolutePath + "_shard_meta")
    val in2 = MemoryStream[(Long, String, String)]
    val q2 = graft.ext.DocPipeline.streamIncrementalSharded(
      in2.toDF().toDF("doc_id", "tenant", "text"),
      root2.getAbsolutePath, col("tenant"), numShards = 2,
      minWords = 4, tau = 0.7) { (_, _) => () }
    try {
      in2.addData((20L, kA, t2))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      val chain = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.getMessage != null &&
        t.getMessage.contains("(numShards,0)")), s"got: $ex")
      // ADVICE r16: the stranded numShards=0 sentinel is PROOF the
      // prior reshard crashed before finalizing (the sentinel is a
      // SIBLING of the root, so "delete the partial root and rerun"
      // leaves it behind) — the rerun overwrites it and finalizes
      // instead of dying at the layout refusal
      graft.ext.DocPipeline.reshardSignatureStores(
        corpus, root2.getAbsolutePath, col("tenant"), numShards = 2,
        atomicStore = true)
      val meta2 = spark.read.parquet(root2.getAbsolutePath + "_shard_meta")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(meta2("numShards") === 2, meta2.toString)
      // atomic shards price the advise from commit manifests (r17):
      // same totals as the plain-layout count path, zero parquet jobs
      val advAtomic = graft.ext.DocPipeline.adviseShardCount(
        spark, root2.getAbsolutePath, numShards = 2, budgetDocs = 1000L)
      assert(advAtomic.totalDocs === 3 && !advAtomic.reshard,
        advAtomic.toString)
      (0L until 2L).foreach { s =>
        val sp = graft.ext.DocPipeline.shardPath(root2.getAbsolutePath, s)
        assert(graft.sources.AppendStore.manifestRows(spark, sp) ===
          Some(advAtomic.shardDocs(s)), s"shard $s")
      }
      // ...and a FINALIZED layout still refuses
      val e2 = intercept[IllegalArgumentException] {
        graft.ext.DocPipeline.reshardSignatureStores(
          corpus, root2.getAbsolutePath, col("tenant"), numShards = 4)
      }
      assert(e2.getMessage.contains("FINALIZED"), e2.getMessage)
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      org.apache.commons.io.FileUtils.deleteQuietly(root2)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(root2.getAbsolutePath + "_shard_meta"))
    }
  }

  test("outlierRoots: a monster tenant routes to its own root, promotion " +
      "preserves its dedup history, and the pinned table catches drift") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1 // the monster
    val kB = route.find(_._2 != route(kA)).get._1
    def text(i: Int) =
      Array.tabulate(12)(j => s"m${i}w${j}q${(i * 31 + j) % 89}").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("outlier")
    val root = tmp.resolve("store").toString
    val monsterRoot = tmp.resolve("monster").toString
    val accepted = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (doc, shard)
    def start(outliers: Map[String, String]) = {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
      val q = graft.ext.DocPipeline.streamIncrementalSharded(
        in.toDF().toDF("doc_id", "tenant", "text"), root, col("tenant"),
        numShards = 2, minWords = 4, shardTag = "tenant",
        outlierRoots = outliers) { (df, _) =>
        accepted ++= df.select("doc_id", "shard").as[(Long, Long)].collect()
      }
      (in, q)
    }
    // phase 1: no table — monster hash-routes like everyone
    val (in1, q1) = start(Map.empty)
    in1.addData((1L, kA, text(1)), (2L, kA, text(2)), (3L, kB, text(3)))
    q1.processAllAvailable(); q1.stop()
    assert(accepted.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L))
    assert(accepted.forall(_._2 >= 0L), accepted.toString)

    // PROMOTE kA: rebuild its dedicated store from the accepted corpus,
    // re-pin the table — stream stopped, one call
    val corpus = Seq((1L, kA, text(1)), (2L, kA, text(2)), (3L, kB, text(3)))
      .toDF("doc_id", "tenant", "text")
    graft.ext.DocPipeline.promoteTenants(
      corpus, root, "tenant", Map(kA -> monsterRoot))
    val monsterRows0 = spark.read.parquet(monsterRoot).count()
    assert(monsterRows0 === 2L, s"monster store bootstraps its history: $monsterRows0")

    // phase 2: with the table — re-crawls of PRE-promotion history
    // reject (the rebuild carried it over), fresh accepts at shard=-1
    accepted.clear()
    val (in2, q2) = start(Map(kA -> monsterRoot))
    in2.addData(
      (10L, kA, text(1)), // re-crawl of pre-promotion doc 1 → reject
      (11L, kA, text(11)), // fresh monster doc → accept, shard=-1
      (12L, kB, text(3)), // re-crawl of kB history → reject (hash path intact)
      (13L, kB, text(13))) // fresh → accept on its hash shard
    q2.processAllAvailable(); q2.stop()
    assert(accepted.sortBy(_._1).toSeq === Seq((11L, -1L), (13L, route(kB))),
      accepted.toString)
    assert(spark.read.parquet(monsterRoot).count() === 3L)
    // the monster's old hash-shard rows are dead weight, not deleted
    assert(spark.read.parquet(
      graft.ext.DocPipeline.shardPath(root, route(kA))).count() >= 2L)

    // phase 3: drift dies loudly — dropping the table (the monster
    // would hash back to a shard missing its post-promotion history)
    // and repointing its root both mismatch the pin
    for (bad <- Seq(Map.empty[String, String],
                    Map(kA -> tmp.resolve("elsewhere").toString))) {
      val (in3, q3) = start(bad)
      in3.addData((20L, kA, text(20)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      q3.stop()
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.getMessage != null &&
        t.getMessage.contains("promoteTenants")), s"got: $e")
    }

    // phase 4: DEMOTION — the scaladoc's recipe, drilled: rebuild the
    // tenant's hash shard from its FULL accepted corpus (including the
    // doc accepted while promoted — its dedicated history must not be
    // lost on the way back), then re-pin an empty table
    val corpusAfter = Seq(
      (1L, kA, text(1)), (2L, kA, text(2)), (11L, kA, text(11)),
      (3L, kB, text(3)), (13L, kB, text(13)))
      .toDF("doc_id", "tenant", "text")
    graft.ext.DocPipeline.rebuildSignatureStore(
      corpusAfter.filter(col("tenant") === kA).select("doc_id", "text"),
      graft.ext.DocPipeline.shardPath(root, route(kA)))
    graft.ext.DocPipeline.promoteTenants(
      corpusAfter, root, "tenant", Map.empty)
    accepted.clear()
    val (in4, q4) = start(Map.empty)
    in4.addData(
      (30L, kA, text(1)),  // pre-promotion history → reject on hash path
      (31L, kA, text(11)), // PROMOTED-ERA history → reject (carried back)
      (32L, kA, text(32))) // fresh → accept on the hash shard again
    q4.processAllAvailable(); q4.stop()
    assert(accepted.sortBy(_._1).toSeq === Seq((32L, route(kA))),
      s"demotion lost history or froze the tenant: $accepted")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("scoped writers (r18): a ROLLING promotion re-pins one tenant's " +
      "entry while a live writer whose scope excludes it keeps running; " +
      "rogue keys, stale scoped tables, and unscoped writers die loudly") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1 // the monster, writer 1's scope
    val kB = route.find(_._2 != route(kA)).get._1 // writer 2's scope
    def text(i: Int) =
      Array.tabulate(12)(j => s"r${i}w${j}z${(i * 43 + j) % 83}").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("scopedroll")
    val root = tmp.resolve("store").toString
    val monsterRoot = tmp.resolve("monster").toString
    def start(scope: Seq[String], outliers: Map[String, String],
              sink: scala.collection.mutable.ArrayBuffer[(Long, Long)]) = {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
      val q = graft.ext.DocPipeline.streamIncrementalSharded(
        in.toDF().toDF("doc_id", "tenant", "text"), root, col("tenant"),
        numShards = 2, minWords = 4, shardTag = "tenant",
        outlierRoots = outliers, tenantScope = scope) { (df, _) =>
        sink ++= df.select("doc_id", "shard").as[(Long, Long)].collect()
      }
      (in, q)
    }
    // a scoped writer's table must be its scope's slice — checked at start
    val bad = intercept[IllegalArgumentException] {
      start(Seq(kB), Map(kA -> monsterRoot),
        scala.collection.mutable.ArrayBuffer.empty)
    }
    assert(bad.getMessage.contains("tenantScope"), bad.getMessage)

    val acc1 = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val acc2 = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val (in1, q1) = start(Seq(kA), Map.empty, acc1)
    val (in2, q2) = start(Seq(kB), Map.empty, acc2)
    // bootstrap: one writer's first batch creates the meta before the
    // other races it (the FleetMonthDemo contract — concurrent meta
    // CREATION is not the supported bootstrap path)
    in1.addData((1L, kA, text(1)), (2L, kA, text(2)))
    q1.processAllAvailable()
    in2.addData((3L, kB, text(3)))
    q2.processAllAvailable()
    assert(acc1.map(_._1).sorted.toSeq === Seq(1L, 2L))
    assert(acc2.map(_._1).sorted.toSeq === Seq(3L))

    // ── ROLLING PROMOTION: stop ONLY kA's owner; kB's writer never
    // pauses and never restarts ──
    q1.stop()
    val corpus = Seq((1L, kA, text(1)), (2L, kA, text(2)), (3L, kB, text(3)))
      .toDF("doc_id", "tenant", "text")
    graft.ext.DocPipeline.promoteTenants(
      corpus, root, "tenant", Map(kA -> monsterRoot))
    // the untouched writer's NEXT batch re-checks the re-pinned meta —
    // nothing in ITS slice moved, so it keeps running
    acc2.clear()
    in2.addData((10L, kB, text(3)), (11L, kB, text(11)))
    q2.processAllAvailable()
    assert(acc2.sortBy(_._1).toSeq === Seq((11L, route(kB))),
      s"writer 2 through the re-pin: $acc2")
    // the owner restarts on its new slice: pre-promotion history
    // rejects (the rebuild carried it), fresh routes to the table
    acc1.clear()
    val (in1b, q1b) = start(Seq(kA), Map(kA -> monsterRoot), acc1)
    in1b.addData((20L, kA, text(1)), (21L, kA, text(21)))
    q1b.processAllAvailable(); q1b.stop()
    assert(acc1.sortBy(_._1).toSeq === Seq((21L, -1L)), acc1.toString)

    // ── the loud paths ──
    // an UNSCOPED writer with no table still dies on the global pin
    val (in3, q3) = start(Nil, Map.empty,
      scala.collection.mutable.ArrayBuffer.empty)
    in3.addData((30L, kB, text(30)))
    val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    q3.stop()
    assert(Iterator.iterate(e3: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null &&
        t.getMessage.contains("outlier routing table")), s"got: $e3")
    // a SCOPED writer whose slice went stale (owner forgot the table)
    val (in4, q4) = start(Seq(kA), Map.empty,
      scala.collection.mutable.ArrayBuffer.empty)
    in4.addData((40L, kA, text(40)))
    val e4 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.processAllAvailable()
    }
    q4.stop()
    assert(Iterator.iterate(e4: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("drifted")),
      s"got: $e4")
    // a rogue key outside the declared scope dies loudly — the assert
    // that makes the scoped check safe
    in2.addData((50L, kA, text(50)))
    val e5 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(Iterator.iterate(e5: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("tenantScope")),
      s"got: $e5")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("tenantScope at breadth: a 10k-key scope routes and rejects " +
      "correctly (the isin predicate converts to InSet above the " +
      "conversion threshold, so wide fleet manifests stay cheap)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("widescope")
    val root = tmp.resolve("store").toString
    val scope = (0 until 10000).map(i => s"w$i")
    def text(i: Int) =
      Array.tabulate(12)(j => s"s${i}w${j}p${(i * 37 + j) % 67}").mkString(" ")
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String, String)]
    val q = graft.ext.DocPipeline.streamIncrementalSharded(
      in.toDF().toDF("doc_id", "tenant", "text"), root, col("tenant"),
      numShards = 2, minWords = 4, shardTag = "tenant",
      tenantScope = scope) { (df, _) =>
      accepted ++= df.select("doc_id").as[Long].collect()
    }
    in.addData((1L, "w17", text(1)), (2L, "w9999", text(2)), (3L, "w0", text(3)))
    q.processAllAvailable()
    assert(accepted.sorted.toSeq === Seq(1L, 2L, 3L))
    // a key just outside the 10k scope still dies loudly
    in.addData((9L, "w10000", text(9)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("tenantScope")),
      s"got: $e")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("composite sub-tenant promotion (r18): outlierRoots keys off the " +
      "COMPOSITE key string, so one hot host of a big tenant promotes to " +
      "its own root — the two monster mitigations compose with no new code") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("subpromo")
    val root = tmp.resolve("store").toString
    val hotRoot = tmp.resolve("hot").toString
    def text(i: Int) =
      Array.tabulate(12)(j => s"c${i}w${j}k${(i * 53 + j) % 79}").mkString(" ")
    val key = graft.ext.DocPipeline.compositeKey(col("tenant"), col("host"))
    val hotKey = "big\u0001h1" // the composite string the router sees
    val accepted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def start(outliers: Map[String, String]) = {
      val in = MemoryStream[(Long, String, String, String)]
      val q = graft.ext.DocPipeline.streamIncrementalSharded(
        in.toDF().toDF("doc_id", "tenant", "host", "text"), root, key,
        numShards = 2, minWords = 4, shardTag = "tenant#host",
        outlierRoots = outliers) { (df, _) =>
        accepted ++= df.select("doc_id", "shard").as[(Long, Long)].collect()
      }
      (in, q)
    }
    val (in1, q1) = start(Map.empty)
    in1.addData((1L, "big", "h1", text(1)), (2L, "big", "h2", text(2)))
    q1.processAllAvailable(); q1.stop()
    assert(accepted.map(_._1).sorted.toSeq === Seq(1L, 2L))
    // promote the HOT SUB-TENANT: the table key is the composite
    // string; promoteTenants filters the corpus by the same composite
    val corpus = Seq((1L, "big", "h1", text(1)), (2L, "big", "h2", text(2)))
      .toDF("doc_id", "tenant", "host", "text")
      .withColumn("ckey", key)
    graft.ext.DocPipeline.promoteTenants(
      corpus, root, "ckey", Map(hotKey -> hotRoot))
    accepted.clear()
    val (in2, q2) = start(Map(hotKey -> hotRoot))
    in2.addData(
      (10L, "big", "h1", text(1)),  // hot sub-tenant re-crawl → reject
                                    // (history carried to the hot root)
      (11L, "big", "h1", text(11)), // fresh hot → accept at shard=-1
      (12L, "big", "h2", text(2)),  // other host's re-crawl → reject on
                                    // its hash sub-shard, untouched
      (13L, "big", "h2", text(13))) // fresh other host → hash path
    q2.processAllAvailable(); q2.stop()
    val got = accepted.sortBy(_._1).toSeq
    assert(got.map(_._1) === Seq(11L, 13L), got.toString)
    assert(got.head._2 === -1L && got(1)._2 >= 0L, got.toString)
    assert(spark.read.parquet(hotRoot).count() === 2L) // 1 boot + 1 fresh
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("a lost _shard_meta sidecar over an existing layout dies loudly — " +
      "bootstrap is legal only on a fresh root (silently re-pinning the " +
      "writer's current params would silently re-route keys)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("lostmeta")
    val root = tmp.resolve("store").toString
    def text(i: Int) =
      Array.tabulate(12)(j => s"g${i}w${j}v${(i * 29 + j) % 71}").mkString(" ")
    val corpus = (0 until 16).map(i => (i.toLong, s"t$i", text(i)))
      .toDF("doc_id", "tenant", "text")
    graft.ext.DocPipeline.reshardSignatureStores(corpus, root, col("tenant"),
      numShards = 2, atomicStore = true, shardTag = "tenant")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root.stripSuffix("/") + "_shard_meta"))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q = graft.ext.DocPipeline.streamIncrementalSharded(
      in.toDF().toDF("doc_id", "tenant", "text"), root, col("tenant"),
      numShards = 2, minWords = 4, shardTag = "tenant") { (_, _) => () }
    in.addData((100L, "t0", text(100)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null &&
        t.getMessage.contains("silently re-route")), s"got: $e")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("r18 outlier pin-hash migration: a pre-r18 sidecar pinning the " +
      "IDENTICAL table under String.hashCode is accepted once and " +
      "re-pinned with the digest + per-entry rows; real drift still dies") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1
    def text(i: Int) =
      Array.tabulate(12)(j => s"lm${i}w${j}p${(i * 37 + j) % 79}").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("legacypin")
    val root = tmp.resolve("store").toString
    val monsterRoot = tmp.resolve("monster").toString
    val corpus = (0 until 8).map(i => (i.toLong, s"t${i % 2}", text(i)))
      .toDF("doc_id", "tenant", "text")
    graft.ext.DocPipeline.reshardSignatureStores(corpus, root, col("tenant"),
      numShards = 2, shardTag = "tenant")
    graft.ext.DocPipeline.promoteTenants(
      corpus, root, "tenant", Map(kA -> monsterRoot))
    // rewrite the sidecar to the PRE-r18 form: same table, pinned under
    // the r17 String.hashCode mix, no per-entry rows
    val metaDir = root.stripSuffix("/") + "_shard_meta"
    val legacyHash = math.max(1,
      s"$kA->$monsterRoot".hashCode & 0x7fffffff)
    val pre = spark.read.parquet(metaDir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(pre.get("outlierHash").exists(_ != legacyHash),
      "test precondition: digest and legacy hash must differ")
    (pre.view.filterKeys(k => k != "outlierHash" && !k.startsWith("out:"))
      .toSeq :+ ("outlierHash" -> legacyHash))
      .toDF("param", "value").coalesce(1)
      .write.mode("overwrite").parquet(metaDir)
    // an upgraded writer with the IDENTICAL table runs green and the
    // sidecar self-migrates: digest pin + out: rows from the first batch
    def start(outliers: Map[String, String]) = {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
      val q = graft.ext.DocPipeline.streamIncrementalSharded(
        in.toDF().toDF("doc_id", "tenant", "text"), root, col("tenant"),
        numShards = 2, minWords = 4, shardTag = "tenant",
        outlierRoots = outliers) { (_, _) => () }
      (in, q)
    }
    val (in1, q1) = start(Map(kA -> monsterRoot))
    in1.addData((100L, kA, text(100)))
    q1.processAllAvailable(); q1.stop()
    val post = spark.read.parquet(metaDir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(post("outlierHash") === pre("outlierHash"),
      "migration must re-pin the digest value")
    assert(post.contains(s"out:$kA"),
      s"migration must write the r18 per-entry rows; got ${post.keySet}")
    // a DIFFERENT table over a legacy pin is still drift — loud, and the
    // message names the migration it ruled out
    (pre.view.filterKeys(k => k != "outlierHash" && !k.startsWith("out:"))
      .toSeq :+ ("outlierHash" -> legacyHash))
      .toDF("param", "value").coalesce(1)
      .write.mode("overwrite").parquet(metaDir)
    val (in2, q2) = start(Map(kA -> tmp.resolve("elsewhere").toString))
    in2.addData((101L, kA, text(101)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null &&
        t.getMessage.contains("pin-hash migration does not explain it")),
      s"got: $e")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("promoteTenants amend semantics (r19): an entry whose pin already " +
      "matches is NOT rebuilt — promoting B leaves A's live store " +
      "untouched; rebuildUnchanged forces the replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.AtomicCommit
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1
    val kB = route.find(_._2 != route(kA)).get._1
    def text(i: Int) =
      Array.tabulate(12)(j => s"am${i}w${j}x${(i * 41 + j) % 73}").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("amendpromo")
    val root = tmp.resolve("store").toString
    val rootA = tmp.resolve("dedA").toString
    val rootB = tmp.resolve("dedB").toString
    val corpus = (0 until 12).map(i => (i.toLong, if (i % 2 == 0) kA else kB,
      text(i))).toDF("doc_id", "tenant", "text")
    graft.ext.DocPipeline.reshardSignatureStores(corpus, root, col("tenant"),
      numShards = 2, atomicStore = true, shardTag = "tenant")
    graft.ext.DocPipeline.promoteTenants(
      corpus, root, "tenant", Map(kA -> rootA), atomicStore = true)
    val vA0 = AtomicCommit.committedVersions(spark, rootA)
    assert(vA0.nonEmpty)
    // amend: ADD kB while kA's entry is unchanged — kA's dedicated
    // store (its scoped owner could be live) must not be rewritten
    graft.ext.DocPipeline.promoteTenants(
      corpus, root, "tenant", Map(kA -> rootA, kB -> rootB),
      atomicStore = true)
    assert(AtomicCommit.committedVersions(spark, rootA) === vA0,
      "unchanged entry was rebuilt — a rolling amend would collide " +
        "with the live owner")
    assert(graft.sources.AppendStore.readOr(spark, rootB,
      sys.error("missing")).count() === 6L)
    val meta = spark.read.parquet(root.stripSuffix("/") + "_shard_meta")
      .collect().map(r => r.getString(0)).toSet
    assert(meta.contains(s"out:$kA") && meta.contains(s"out:$kB"))
    // repair valve: rebuildUnchanged replays every entry
    graft.ext.DocPipeline.promoteTenants(
      corpus, root, "tenant", Map(kA -> rootA, kB -> rootB),
      atomicStore = true, rebuildUnchanged = true)
    assert(AtomicCommit.committedVersions(spark, rootA) !== vA0,
      "rebuildUnchanged must force the replay")
    // a CHANGED entry (repoint) rebuilds even without the force flag
    val rootA2 = tmp.resolve("dedA2").toString
    graft.ext.DocPipeline.promoteTenants(
      corpus, root, "tenant", Map(kA -> rootA2, kB -> rootB),
      atomicStore = true)
    assert(graft.sources.AppendStore.readOr(spark, rootA2,
      sys.error("missing")).count() === 6L)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("vector-family outlier roots + scoped rolling promotion (r18): a " +
      "monster tenant's embedding store promotes to its own root under a " +
      "LIVE scoped writer; history carries; drift dies loudly") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1 // the monster
    val kB = route.find(_._2 != route(kA)).get._1
    def vec(i: Int): Seq[Float] =
      Array.tabulate(8)(j => (i * 8 + j).toFloat / 100f).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("vecoutlier")
    val root = tmp.resolve("store").toString
    val monsterRoot = tmp.resolve("monster").toString
    def start(scope: Seq[String], outliers: Map[String, String],
              sink: scala.collection.mutable.ArrayBuffer[(Long, Long)]) = {
      val in = MemoryStream[(Long, String, Seq[Float])]
      val q = graft.ext.DocPipeline.streamEmbeddingDedupSharded(
        in.toDF().toDF("vec_id", "tenant", "embedding"), root, col("tenant"),
        numShards = 2, dim = 8, bits = 6, bands = 2, tau = 0.999,
        atomicStore = true, shardTag = "tenant",
        outlierRoots = outliers, tenantScope = scope) { (df, _) =>
        sink ++= df.select("vec_id", "shard").as[(Long, Long)].collect()
      }
      (in, q)
    }
    val acc1 = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val acc2 = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val (in1, q1) = start(Seq(kA), Map.empty, acc1)
    in1.addData((1L, kA, vec(1)), (2L, kA, vec(2)))
    q1.processAllAvailable() // bootstraps the meta before writer 2 races
    val (in2, q2) = start(Seq(kB), Map.empty, acc2)
    in2.addData((3L, kB, vec(3)))
    q2.processAllAvailable()
    assert(acc1.map(_._1).sorted.toSeq === Seq(1L, 2L))
    assert(acc2.map(_._1).sorted.toSeq === Seq(3L))
    // ROLLING PROMOTION: only kA's writer stops; kB's writer runs on
    q1.stop()
    val corpus = Seq((1L, kA, vec(1)), (2L, kA, vec(2)), (3L, kB, vec(3)))
      .toDF("vec_id", "tenant", "embedding")
    graft.ext.DocPipeline.promoteEmbeddingTenants(
      corpus, root, "tenant", Map(kA -> monsterRoot),
      dim = 8, bits = 6, bands = 2, atomicStore = true)
    acc2.clear()
    in2.addData((10L, kB, vec(3)), (11L, kB, vec(11)))
    q2.processAllAvailable()
    assert(acc2.sortBy(_._1).toSeq === Seq((11L, route(kB))),
      s"writer 2 through the re-pin: $acc2")
    q2.stop()
    // the owner restarts on its slice: pre-promotion history rejects
    // (the rebuild carried it to the dedicated root), fresh accepts at
    // shard=-1
    acc1.clear()
    val (in1b, q1b) = start(Seq(kA), Map(kA -> monsterRoot), acc1)
    in1b.addData((20L, kA, vec(1)), (21L, kA, vec(21)))
    q1b.processAllAvailable(); q1b.stop()
    assert(acc1.sortBy(_._1).toSeq === Seq((21L, -1L)), acc1.toString)
    // drift: a scoped writer that forgot its table dies loudly
    val (in3, q3) = start(Seq(kA), Map.empty,
      scala.collection.mutable.ArrayBuffer.empty)
    in3.addData((30L, kA, vec(30)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    q3.stop()
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("drifted")),
      s"got: $e")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("streamEmbeddingDedupSharded: within-shard vector dups drop across " +
      "batches, cross-shard copies are independent domains, shard layout " +
      "and key pinning mirror the signature-store contract") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("vecshard").toFile
    root.delete()
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), graft.ext.DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1
    val kB = route.find(_._2 != route(kA)).get._1
    def v(x: Double, y: Double, z: Double, w: Double) = Seq(x, y, z, w).map(_.toFloat)
    val base = v(1, 0.2, -0.5, 0.7)
    val far = v(-0.9, 0.8, 0.3, -0.2)
    val far2 = v(0.1, -0.7, 0.9, 0.4)
    val accepted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = graft.ext.DocPipeline.streamEmbeddingDedupSharded(
      in.toDF().toDF("vec_id", "tenant", "embedding"),
      root.getAbsolutePath, col("tenant"), numShards = 2,
      dim = 4, bits = 6, bands = 2, tau = 0.98) { (df, _) =>
      accepted ++= df.select(col("vec_id"), col("shard")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    try {
      in.addData((1L, kA, base), (2L, kB, far))
      q.processAllAvailable()
      // batch 2: 3 re-sends base under kA (same shard → history drop);
      // 4 sends base under kB (OTHER shard → accepted: independent
      // domains); 5 fresh under kA
      in.addData((3L, kA, base), (4L, kB, base), (5L, kA, far2))
      q.processAllAvailable()
      assert(accepted.map(_._1).sorted.toSeq === Seq(1L, 2L, 4L, 5L),
        s"got $accepted")
      val byVec = accepted.toMap
      assert(byVec(1L) === route(kA) && byVec(4L) === route(kB))
      assert(new java.io.File(root, s"shard=${route(kA)}").isDirectory)
      assert(new java.io.File(root, s"shard=${route(kB)}").isDirectory)
    } finally q.stop()
    // restarts at a different shard count or key die at _shard_meta
    val in2 = MemoryStream[(Long, String, Seq[Float])]
    val q2 = graft.ext.DocPipeline.streamEmbeddingDedupSharded(
      in2.toDF().toDF("vec_id", "tenant", "embedding"),
      root.getAbsolutePath, col("tenant"), numShards = 4,
      dim = 4, bits = 6, bands = 2, tau = 0.98) { (_, _) => () }
    try {
      in2.addData((9L, kA, far2))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.getMessage != null &&
        t.getMessage.contains("numShards")), s"got: $e")
    } finally q2.stop()
    // per-shard geometry: a right-count restart at different bits dies
    // at the touched shard's own _emb_meta
    val in3 = MemoryStream[(Long, String, Seq[Float])]
    val q3 = graft.ext.DocPipeline.streamEmbeddingDedupSharded(
      in3.toDF().toDF("vec_id", "tenant", "embedding"),
      root.getAbsolutePath, col("tenant"), numShards = 2,
      dim = 4, bits = 8, bands = 2, tau = 0.98) { (_, _) => () }
    try {
      in3.addData((10L, kA, far2))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
    } finally {
      q3.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }

  test("streamEmbeddingDedup: in-batch pair collapses; history wins across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val storeDir = java.nio.file.Files.createTempDirectory("vecstore").toFile
    storeDir.delete()
    def v(x: Double, y: Double, z: Double, w: Double) = Seq(x, y, z, w).map(_.toFloat)
    val base = v(1, 0.2, -0.5, 0.7)
    val near = v(1.001, 0.2, -0.5, 0.7)     // cosine ≈ 1 with base
    val far = v(-0.9, 0.8, 0.3, -0.2)
    val far2 = v(0.1, -0.7, 0.9, 0.4)
    val accepted = scala.collection.mutable.Map[Long, Seq[Long]]()
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.ext.DocPipeline.streamEmbeddingDedup(
      input.toDF().toDF("vec_id", "embedding"), storeDir.getAbsolutePath,
      dim = 4, bits = 6, bands = 2, tau = 0.98) { (df, bid) =>
      accepted(bid) = df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    }
    try {
      // batch 0: base + its near-dup + one far vector → near-dup collapses
      input.addData((1L, base), (2L, near), (3L, far)); q.processAllAvailable()
      // batch 1: replay of base (historical dup) + a genuinely new vector
      input.addData((4L, base), (5L, far2)); q.processAllAvailable()
    } finally q.stop()
    assert(accepted(0L) === Seq(1L, 3L)) // 2 dropped in-batch (min id wins)
    assert(accepted(1L) === Seq(5L))     // 4 dropped against history
    // the store holds only acceptees: 3 vectors x 2 bands
    assert(spark.read.parquet(storeDir.getAbsolutePath)
      .select("id").distinct().count() === 3L)

    // geometry is persisted: a restart with DIFFERENT (bits, bands)
    // would compute mismatched bucket keys and silently miss every
    // cross-run near-dup — it must die loudly instead
    val wrong = MemoryStream[(Long, Seq[Float])]
    val qw = graft.ext.DocPipeline.streamEmbeddingDedup(
      wrong.toDF().toDF("vec_id", "embedding"), storeDir.getAbsolutePath,
      dim = 4, bits = 8, bands = 2, tau = 0.98) { (_, _) => () }
    try {
      wrong.addData((6L, far2))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qw.processAllAvailable()
      }
      assert(ex.getMessage.contains("bits=6") || ex.getCause != null)
    } finally qw.stop()

    // rebucket: re-key the SAME history at a new geometry in one pass
    // (vectors ride in the store — nothing re-embedded), then a
    // restart at the new geometry still rejects historical dups
    graft.ext.DocPipeline.rebucketEmbeddingStore(
      spark, storeDir.getAbsolutePath, dim = 4, bits = 8, bands = 3)
    assert(spark.read.parquet(storeDir.getAbsolutePath)
      .select("id").distinct().count() === 3L) // history preserved
    val input2 = MemoryStream[(Long, Seq[Float])]
    val accepted2 = scala.collection.mutable.Map[Long, Seq[Long]]()
    val q2 = graft.ext.DocPipeline.streamEmbeddingDedup(
      input2.toDF().toDF("vec_id", "embedding"), storeDir.getAbsolutePath,
      dim = 4, bits = 8, bands = 3, tau = 0.98) { (df, bid) =>
      accepted2(bid) = df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    }
    try {
      input2.addData((7L, near), (8L, v(0.4, 0.9, -0.1, -0.6)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(accepted2(0L) === Seq(8L),
      s"historical near-dup must still reject after rebucket: ${accepted2(0L)}")
  }
}
