package graft

import org.apache.spark.sql.functions._

/** Source/sink coverage beyond parquet+VCF (SURVEY §2.4 scan row):
  * csv and json round-trips through the standard readers. */
class SourcesSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("csv round-trip preserves rows and values") {
    val dir = java.nio.file.Files.createTempDirectory("src-csv").resolve("docs").toString
    docs.select("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() === docs.count())
    val a = back.agg(sum("n_chars")).head().getLong(0)
    val b = docs.agg(sum("n_chars")).head().getLong(0)
    assert(a === b)
  }

  test("json round-trip preserves nested text content") {
    val dir = java.nio.file.Files.createTempDirectory("src-json").resolve("docs").toString
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() === docs.count())
    val origFirst = docs.orderBy("doc_id").select("text").head().getString(0)
    val backFirst = back.orderBy("doc_id").select("text").head().getString(0)
    assert(origFirst === backFirst)
  }

  test("chrom-partitioned store prunes partitions on chrom predicates") {
    val out = java.nio.file.Files.createTempDirectory("prune").resolve("store").toString
    graft.core.VariantSchema.save(GoldenFixture.df(spark), GoldenFixture.meta, out)
    val pruned = spark.read.parquet(out).filter(col("chrom") === "chr2")
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("chr2"), plan.take(800))
    assert(pruned.count() === 3)
  }

  test("compactTo: 64 tiny files -> few target-size files, content preserved") {
    import graft.sources.Compact
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val in = s"$dir/in"
    val out = s"$dir/out"
    spark.range(10000).selectExpr("id", "id % 7 AS k")
      .repartition(64).write.parquet(in)
    val inFiles = new java.io.File(in).listFiles.count(_.getName.endsWith(".parquet"))
    assert(inFiles === 64)
    val bytes = Compact.dataBytes(spark, in)
    assert(bytes > 0)
    // target half the data per file -> expect exactly 2 output files
    val n = Compact.compactTo(spark, in, out, targetBytes = (bytes + 1) / 2)
    assert(n === 2)
    val outFiles = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(outFiles === 2)
    val a = spark.read.parquet(in).selectExpr("sum(id)", "count(*)").head()
    val b = spark.read.parquet(out).selectExpr("sum(id)", "count(*)").head()
    assert(a === b)
  }

  test("compactTo with partition columns: rebalance-by-key output, not " +
      "n x values re-explosion") {
    import graft.sources.Compact
    val dir = java.nio.file.Files.createTempDirectory("compactp").toString
    val in = s"$dir/in"
    val out = s"$dir/out"
    // 16 upstream partitions x 5 key values: the naive round-robin +
    // partitionBy write produces ~n x 5 files; the rebalanced one lands
    // at most a handful per key value at this tiny size
    spark.range(5000).selectExpr("id", "CAST(id % 5 AS INT) AS k")
      .repartition(16).write.partitionBy("k").parquet(in)
    def parts(p: String): Int = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.filter(_.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    assert(parts(in) >= 40, s"fixture too small: ${parts(in)} files")
    Compact.compactTo(spark, in, out, partitionCols = Seq("k"))
    assert(parts(out) <= 7, s"${parts(out)} files for 5 key values")
    val a = spark.read.parquet(in).selectExpr("sum(id)", "count(*)").head()
    val b = spark.read.parquet(out).selectExpr("sum(id)", "count(*)").head()
    assert(a === b)
    // partition layout preserved (k= dirs exist and prune)
    assert(spark.read.parquet(out).filter(col("k") === 3).count() === 1000)
  }

  test("shard store: deterministic shards, manifest validates, loss detected") {
    import graft.sources.ShardStore
    withTempDir("shards") { tmp =>
      val dir = tmp.resolve("corpus").toString
      val m1 = ShardStore.writeShards(docs, "doc_id", numShards = 4, dir)
      assert(m1.count() === 4)
      // every row landed exactly once
      assert(spark.read.parquet(dir).count() === docs.count())
      // on-disk audit: all shards ok
      val v = ShardStore.validateShards(spark, dir).collect()
      assert(v.length === 4 && v.forall(_.getAs[Boolean]("ok")))
      // determinism: rewriting from a reshuffled input yields the SAME
      // manifest (shard assignment is a function of the id, fingerprint
      // is order-independent)
      val dir2 = tmp.resolve("corpus2").toString
      val m2 = ShardStore.writeShards(docs.repartition(7).sortWithinPartitions("lang"),
        "doc_id", numShards = 4, dir2)
      def rows(m: org.apache.spark.sql.DataFrame) = m.collect()
        .map(r => (r.getAs[Number]("shard").longValue(),
          r.getAs[Long]("n_rows"), r.getAs[Long]("fingerprint"))).toSet
      assert(rows(m1) === rows(m2))
      // shard loss is caught: drop one shard directory → its ok flag false
      val victim = new java.io.File(dir).listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("shard=")).head
      victim.listFiles.foreach(_.delete()); victim.delete()
      val after = ShardStore.validateShards(spark, dir).collect()
      assert(after.count(!_.getAs[Boolean]("ok")) === 1)
    }
  }

  test("atomic shard store: crash debris invisible, readers keep the committed version") {
    import graft.sources.{AtomicCommit, ShardStore}
    val root = java.nio.file.Files.createTempDirectory("ashards").resolve("corpus").toString
    val (v1, _) = ShardStore.writeShardsAtomic(docs, "doc_id", numShards = 4, root)
    assert(v1 === 1L)
    assert(ShardStore.readShardsLatest(spark, root).count() === docs.count())
    assert(ShardStore.validateShardsLatest(spark, root).collect().forall(_.getAs[Boolean]("ok")))

    // crash simulation: a writer died after writing data but BEFORE the
    // commit — the half-written v=2 must be invisible to every reader
    docs.limit(3).write.parquet(AtomicCommit.versionDir(root, 2L) + "/shard=0")
    assert(ShardStore.latestShardPath(spark, root) === AtomicCommit.versionDir(root, 1L))
    assert(ShardStore.readShardsLatest(spark, root).count() === docs.count())
    assert(ShardStore.validateShardsLatest(spark, root).collect().forall(_.getAs[Boolean]("ok")))

    // recovery: the next atomic write claims v=2, clobbers the debris,
    // commits — and only then do readers move forward
    val (v2, _) = ShardStore.writeShardsAtomic(docs.limit(10), "doc_id", 4, root)
    assert(v2 === 2L)
    assert(ShardStore.readShardsLatest(spark, root).count() === 10L)
    assert(ShardStore.validateShardsLatest(spark, root).collect().forall(_.getAs[Boolean]("ok")))
    // v=1 still present and intact (time travel until vacuumed)
    assert(spark.read.parquet(AtomicCommit.versionDir(root, 1L)).count() === docs.count())
  }

  test("atomic commit: vacuum removes orphans and _tmp-cas debris, never " +
      "the committed version") {
    import graft.sources.{AtomicCommit, ShardStore}
    val root = java.nio.file.Files.createTempDirectory("avac").resolve("corpus").toString
    ShardStore.writeShardsAtomic(docs, "doc_id", numShards = 2, root)
    // orphan debris from a crashed writer
    docs.limit(1).write.parquet(AtomicCommit.versionDir(root, 7L))
    // ADVICE r16: publisher tmp files orphaned by a kill between the
    // tmp write and its cleanup — in the root (rename publisher) and
    // in _commits/_epochs (create publisher) — must be swept too;
    // listings already skip them, so this is debris, not correctness
    val nio = java.nio.file.Paths.get(root)
    java.nio.file.Files.write(nio.resolve("_tmp-cas-9-dead"), "x".getBytes)
    java.nio.file.Files.write(nio.resolve("_commits").resolve("_tmp-cas-9-dead"), "x".getBytes)
    java.nio.file.Files.createDirectories(nio.resolve("_epochs"))
    java.nio.file.Files.write(nio.resolve("_epochs").resolve("_tmp-cas-1-dead"), "x".getBytes)
    val removed = AtomicCommit.vacuum(spark, root)
    assert(removed.exists(_.endsWith("v=7")), removed.toString)
    assert(removed.count(_.contains("_tmp-cas-")) === 3, removed.toString)
    assert(removed.length === 4, removed.toString)
    assert(ShardStore.readShardsLatest(spark, root).count() === docs.count())
  }

  test("shard store time travel: readShardsAt serves old versions until vacuumed") {
    import graft.sources.{AtomicCommit, ShardStore}
    val root = java.nio.file.Files.createTempDirectory("attv").resolve("corpus").toString
    val (v1, _) = ShardStore.writeShardsAtomic(docs, "doc_id", numShards = 2, root)
    val (v2, _) = ShardStore.writeShardsAtomic(docs.limit(5), "doc_id", 2, root)
    val (v3, _) = ShardStore.writeShardsAtomic(docs.limit(9), "doc_id", 2, root)
    assert((v1, v2, v3) === ((1L, 2L, 3L)))
    assert(AtomicCommit.committedVersions(spark, root) === Seq(1L, 2L, 3L))
    // latest unchanged; every committed version readable AS OF, with
    // its own manifest validating
    assert(ShardStore.readShardsLatest(spark, root).count() === 9L)
    assert(ShardStore.readShardsAt(spark, root, 1L).count() === docs.count())
    assert(ShardStore.readShardsAt(spark, root, 2L).count() === 5L)
    assert(ShardStore.validateShardsAt(spark, root, 1L).collect()
      .forall(_.getAs[Boolean]("ok")))
    // retention floor 2: v=1 (data + commit file) goes, v=2 and v=3 stay
    val removed = AtomicCommit.vacuum(spark, root, keepVersions = 2)
    assert(removed.exists(_.endsWith("v=1")), s"removed=$removed")
    assert(removed.exists(_.endsWith("_commits/1")), s"removed=$removed")
    assert(AtomicCommit.committedVersions(spark, root) === Seq(2L, 3L))
    assert(ShardStore.readShardsAt(spark, root, 2L).count() === 5L)
    assert(ShardStore.readShardsLatest(spark, root).count() === 9L)
    // a vacuumed version fails at RESOLUTION (clean error), not at scan
    val e = intercept[IllegalArgumentException] {
      ShardStore.readShardsAt(spark, root, 1L)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("acquireEpoch: a non-collision rename failure aborts bounded instead of " +
      "burning epoch numbers forever (ADVICE r11)") {
    import graft.sources.AtomicCommit
    val root = java.nio.file.Files.createTempDirectory("aepochfail")
      .resolve("store").toString
    // plant a FILE where the _epochs directory must go: the local FS
    // raises from mkdirs (fail-fast — the acceptable outcome); the
    // in-loop bounded counter covers FS impls whose rename returns
    // false instead of raising (HDFS/S3A semantics). Either way the
    // observable contract holds: a non-collision failure SURFACES as
    // an exception instead of looping forever burning epoch numbers.
    new java.io.File(root).mkdirs()
    val f = new java.io.File(root, "_epochs")
    assert(f.createNewFile())
    val e = intercept[java.io.IOException] {
      AtomicCommit.acquireEpoch(spark, root, holder = "doomed")
    }
    assert(e.getMessage.contains("_epochs"))
  }

  test("writer fencing: a zombie attempt's commit is rejected after its retry acquires a newer epoch") {
    import graft.sources.AtomicCommit
    val root = java.nio.file.Files.createTempDirectory("afence").resolve("store").toString
    // attempt 1 starts and commits v=1 under its epoch
    val e1 = AtomicCommit.acquireEpoch(spark, root, holder = "attempt-1")
    assert(e1 === 1L && AtomicCommit.maxEpoch(spark, root) === 1L)
    assert(AtomicCommit.commitFenced(spark, root, 1L, "", e1))
    // the orchestrator, believing attempt 1 dead, launches attempt 2
    val e2 = AtomicCommit.acquireEpoch(spark, root, holder = "attempt-2")
    assert(e2 === 2L)
    // the stalled attempt 1 wakes and tries to publish v=2 → fenced out
    assert(!AtomicCommit.commitFenced(spark, root, 2L, "", e1))
    assert(AtomicCommit.committedVersions(spark, root) === Seq(1L))
    // attempt 2 publishes cleanly; its epoch is recorded in the body
    assert(AtomicCommit.commitFenced(spark, root, 2L, "segs:1,2", e2))
    val (v, body) = AtomicCommit.latest(spark, root).get
    assert(v === 2L && AtomicCommit.manifestEpoch(body) === Some(2L))
    // manifest codecs parse straight through the epoch header
    assert(AtomicCommit.decodeSegments(body) === Some(Seq(1L, 2L)))
    assert(AtomicCommit.decodeOwners("epoch:9\n0,3\n1,4") === Map(0 -> 3L, 1 -> 4L))
    // unfenced bodies still parse (fencing is opt-in per store)
    assert(AtomicCommit.manifestEpoch("segs:1") === None)
    // same-version CAS still arbitrates two writers on the SAME epoch
    assert(!AtomicCommit.commitFenced(spark, root, 2L, "", e2))
  }

  test("AppendStore.readOr fails fast on a plain-parquet store (atomicStore flip cannot silently drop history)") {
    import graft.sources.AppendStore
    withTempDir("aplain") { tmp =>
      val root = tmp.resolve("store").toString
      // a stream previously ran with atomicStore=false: plain part-files
      docs.limit(3).write.parquet(root)
      val e = intercept[IllegalArgumentException] {
        AppendStore.readOr(spark, root, docs.limit(0))
      }
      assert(e.getMessage.contains("non-atomic"), e.getMessage)
      // an absent path and a genuine (empty) atomic store still read fine
      val fresh = tmp.resolve("fresh").resolve("s").toString
      assert(AppendStore.readOr(spark, fresh, docs.limit(0)).count() === 0L)
      AppendStore.append(docs.limit(2), fresh)
      assert(AppendStore.readOr(spark, fresh, docs.limit(0)).count() === 2L)
    }
  }

  test("AppendStore.manifestRows: priced from commit manifests alone — " +
      "exact across appends and compact; plain and pre-rows stores decline") {
    import graft.sources.{AppendStore, AtomicCommit}
    withTempDir("amrows") { tmp =>
      val root = tmp.resolve("s").toString
      assert(AppendStore.manifestRows(spark, root) === None) // absent: not a store
      AppendStore.append(docs.limit(3), root)
      AppendStore.append(docs.limit(2), root)
      assert(AppendStore.manifestRows(spark, root) === Some(5L))
      // the count comes from _commits alone — corrupt a version dir to
      // prove no parquet read happens (a scan-backed count would throw)
      AppendStore.compact(spark, root)
      assert(AppendStore.manifestRows(spark, root) === Some(5L))
      assert(AppendStore.readOr(spark, root, docs.limit(0)).count() === 5L)
      // a pre-r17 commit (no rows line) makes the WHOLE store decline —
      // a partial sum would understate silently
      val legacy = tmp.resolve("legacy").resolve("s").toString
      docs.limit(2).write.parquet(AtomicCommit.versionDir(legacy, 1L))
      assert(AtomicCommit.commit(spark, legacy, 1L, ""))
      AppendStore.append(docs.limit(3), legacy)
      assert(AppendStore.manifestRows(spark, legacy) === None)
      // a plain parquet store has no commit log: decline, never Some(0)
      val plain = tmp.resolve("plain").resolve("s").toString
      docs.limit(3).write.parquet(plain)
      assert(AppendStore.manifestRows(spark, plain) === None)
    }
  }

  test("AppendStore.compact reader grace: readerGrace=true supersedes old " +
      "versions (no double counting) while their files survive one cycle") {
    import graft.sources.{AppendStore, AtomicCommit}
    val root = java.nio.file.Files.createTempDirectory("agrace").resolve("s").toString
    AppendStore.append(docs.limit(3), root)
    AppendStore.append(docs.limit(2), root)
    // grace fold: v3 = fold(v1,v2), commits carry folds:2; BOTH
    // pre-fold live versions are retained (supersession-boundary
    // retention, ADVICE r17 — a fixed floor of 2 would sweep v1, and
    // v1 is where most of an in-flight reader's data lives after real
    // fold cadences: it is the previous fold)
    AppendStore.compact(spark, root, readerGrace = true)
    val committed = AtomicCommit.committedVersions(spark, root)
    assert(committed === Seq(1L, 2L, 3L), committed.toString)
    assert(AppendStore.liveVersions(spark, root) === Seq(3L))
    // new reads resolve ONLY the fold — retained v1/v2 must not re-union
    assert(AppendStore.readOr(spark, root, docs.limit(0)).count() === 5L)
    assert(AppendStore.manifestRows(spark, root) === Some(5L))
    // the retained versions' files are really there (an in-flight read
    // that resolved the pre-fold manifest completes against them)
    assert(spark.read.parquet(AtomicCommit.versionDir(root, 1L)).count() === 3L)
    assert(spark.read.parquet(AtomicCommit.versionDir(root, 2L)).count() === 2L)
    // an append then the next grace fold: v5 = fold(v3,v4) retains the
    // just-superseded live set [v3,v4]; the PREVIOUS generation's grace
    // stragglers v1/v2 age out now
    AppendStore.append(docs.limit(4), root)
    AppendStore.compact(spark, root, readerGrace = true)
    assert(AppendStore.liveVersions(spark, root) === Seq(5L))
    assert(AtomicCommit.committedVersions(spark, root) === Seq(3L, 4L, 5L))
    assert(AppendStore.readOr(spark, root, docs.limit(0)).count() === 9L)
    assert(AppendStore.manifestRows(spark, root) === Some(9L))
    val f = AtomicCommit.fs(spark, root)
    assert(!f.exists(new org.apache.hadoop.fs.Path(AtomicCommit.versionDir(root, 1L))),
      "v1 should age out on the second grace cycle")
    assert(!f.exists(new org.apache.hadoop.fs.Path(AtomicCommit.versionDir(root, 2L))),
      "v2 should age out on the second grace cycle")
    // the PREVIOUS fold (v3) survives this cycle — the medium ADVICE
    // r17 case: a reader that resolved [v3,v4] pre-fold needs v3
    assert(spark.read.parquet(AtomicCommit.versionDir(root, 3L)).count() === 5L)
    // a compact with nothing to fold sweeps due stragglers even at the
    // grace setting that retained them (low ADVICE r17: the sweep used
    // the caller's retention depth and was a no-op on an idle store)
    AppendStore.compact(spark, root, readerGrace = true)
    assert(AtomicCommit.committedVersions(spark, root) === Seq(5L))
    assert(AppendStore.readOr(spark, root, docs.limit(0)).count() === 9L)
  }

  test("writer fencing: AppendStore.append honors the epoch (zombie append rejected)") {
    import graft.sources.{AppendStore, AtomicCommit}
    val root = java.nio.file.Files.createTempDirectory("afenceap").resolve("store").toString
    val e1 = AtomicCommit.acquireEpoch(spark, root)
    assert(AppendStore.append(docs.limit(3), root, Some(e1)) === Some(1L))
    val e2 = AtomicCommit.acquireEpoch(spark, root)
    val err = intercept[IllegalArgumentException] {
      AppendStore.append(docs.limit(2), root, Some(e1))
    }
    assert(err.getMessage.contains("fenced"))
    assert(AtomicCommit.committedVersions(spark, root) === Seq(1L))
    // the zombie's rejected attempt burned no version; the retry claims
    // v=2 and clobbers the uncommitted debris
    assert(AppendStore.append(docs.limit(2), root, Some(e2)) === Some(2L))
    assert(AppendStore.readOr(spark, root, docs.limit(0)).count() === 5L)
  }

  test("writer fencing: vacuum prunes epoch history but keeps zombies fenced") {
    import graft.sources.{AtomicCommit, ShardStore}
    val root = java.nio.file.Files.createTempDirectory("afencev").resolve("store").toString
    ShardStore.writeShardsAtomic(docs, "doc_id", numShards = 2, root)
    val e1 = AtomicCommit.acquireEpoch(spark, root)
    val e2 = AtomicCommit.acquireEpoch(spark, root)
    val e3 = AtomicCommit.acquireEpoch(spark, root)
    assert(Seq(e1, e2, e3) === Seq(1L, 2L, 3L))
    val removed = AtomicCommit.vacuum(spark, root)
    // epochs 1 and 2 are history; 3 must survive so the fence holds
    assert(removed.count(_.contains("_epochs/")) === 2, s"removed=$removed")
    assert(AtomicCommit.maxEpoch(spark, root) === 3L)
    assert(!AtomicCommit.commitFenced(spark, root, 99L, "", e2))
    assert(AtomicCommit.commitFenced(spark, root, 2L, "", e3))
  }

  test("shard store schema evolution: evolved read aligns old versions to latest schema") {
    import org.apache.spark.sql.functions._
    import graft.sources.ShardStore
    val root = java.nio.file.Files.createTempDirectory("aevo").resolve("corpus").toString
    // v1: (doc_id, text); v2 ADDS a quality column
    val v1df = docs.select(col("doc_id"), col("text"))
    ShardStore.writeShardsAtomic(v1df, "doc_id", numShards = 2, root)
    ShardStore.writeShardsAtomic(
      docs.select(col("doc_id"), col("text"),
        (col("n_chars") % 7).cast("double").as("quality")),
      "doc_id", numShards = 2, root)
    // raw as-of read keeps v1's own schema (reproducibility unchanged)
    assert(ShardStore.readShardsAt(spark, root, 1L).columns.toSet ===
      Set("doc_id", "text", "shard"))
    // evolved read: v1 gains quality as all-null, order = latest schema,
    // so cross-version unions line up
    val ev1 = ShardStore.readShardsAtEvolved(spark, root, 1L)
    val latest = ShardStore.readShardsLatest(spark, root)
    assert(ev1.columns.toSeq === latest.columns.toSeq)
    assert(ev1.schema("quality").dataType === latest.schema("quality").dataType)
    assert(ev1.count() === v1df.count())
    assert(ev1.filter(col("quality").isNotNull).count() === 0L)
    assert(ev1.unionByName(latest).count() === ev1.count() + latest.count())
    // v3 DROPS text: the evolved read of v1 omits it too
    ShardStore.writeShardsAtomic(
      docs.select(col("doc_id"), (col("n_chars") % 7).cast("double").as("quality")),
      "doc_id", numShards = 2, root)
    val ev1v3 = ShardStore.readShardsAtEvolved(spark, root, 1L)
    assert(ev1v3.columns.toSet === Set("doc_id", "quality", "shard"))
    // the evolved read of the latest version is the identity projection
    val ev3 = ShardStore.readShardsAtEvolved(spark, root, 3L)
    assert(ev3.columns.toSeq === ShardStore.readShardsLatest(spark, root).columns.toSeq)
    assert(ev3.count() === docs.count())
  }

  test("AppendStore: empty appends burn no version, compact no-ops below 2 versions") {
    import org.apache.spark.sql.functions._
    import graft.sources.{AppendStore, AtomicCommit}
    val root = java.nio.file.Files.createTempDirectory("apstore").resolve("s").toString
    def empty = spark.range(0).select(col("id").as("v"))
    // absent store reads as the caller's empty frame
    assert(AppendStore.readOr(spark, root, empty).count() === 0)
    // empty append is a no-op (no version burned, no commit file)
    assert(AppendStore.append(spark.range(0).toDF("v"), root).isEmpty)
    assert(AtomicCommit.committedVersions(spark, root).isEmpty)
    // single-version store: compact is a no-op
    assert(AppendStore.append(spark.range(3).toDF("v"), root) === Some(1L))
    assert(AppendStore.compact(spark, root).isEmpty)
    assert(AppendStore.readOr(spark, root, empty).count() === 3)
    // two versions → compact folds to one, content preserved
    AppendStore.append(spark.range(3, 5).toDF("v"), root)
    assert(AppendStore.compact(spark, root) === Some(3L))
    assert(AtomicCommit.committedVersions(spark, root) === Seq(3L))
    assert(AppendStore.readOr(spark, root, empty)
      .orderBy("v").collect().map(_.getLong(0)).toSeq === (0L until 5L))
  }

  test("AppendStore: appends are file-count sized — batch-scale appends land " +
      "one part file, rowsPerFile splits big ones, plain sized() matches") {
    import org.apache.spark.sql.functions._
    import graft.sources.{AppendStore, AtomicCommit}
    val root = java.nio.file.Files.createTempDirectory("apsized").resolve("s").toString
    def partFiles(dir: String): Int =
      new java.io.File(dir).listFiles((_, n) => n.endsWith(".parquet")).length
    // a many-partition micro-batch frame collapses to ONE part file
    // (previously: one near-empty file per upstream partition — the
    // small-files growth path for long-lived streams)
    val batch = spark.range(1000).repartition(16).select(col("id").as("v"))
    assert(batch.rdd.getNumPartitions === 16)
    assert(AppendStore.append(batch, root) === Some(1L))
    assert(partFiles(AtomicCommit.versionDir(root, 1L)) === 1)
    // rowsPerFile splits a bigger append; coalesce never raises
    // parallelism, so the count caps at the frame's own partitions
    assert(AppendStore.append(spark.range(1000).repartition(16).toDF("v"),
      root, rowsPerFile = 300L) === Some(2L))
    assert(partFiles(AtomicCommit.versionDir(root, 2L)) === 4) // ceil(1000/300)
    assert(AppendStore.append(spark.range(1000).repartition(2).toDF("v"),
      root, rowsPerFile = 300L) === Some(3L))
    assert(partFiles(AtomicCommit.versionDir(root, 3L)) === 2) // capped by frame
    // compact folds the three versions into one sized version
    assert(AppendStore.compact(spark, root) === Some(4L))
    assert(partFiles(AtomicCommit.versionDir(root, 4L)) === 1)
    assert(AppendStore.readOr(spark, root,
      spark.range(0).toDF("v")).count() === 3000L)
    // plain-path twin: sized() collapses the same way
    val plainDir = java.nio.file.Files.createTempDirectory("plsized")
      .resolve("p").toString
    AppendStore.sized(batch).write.parquet(plainDir)
    assert(partFiles(plainDir) === 1)
  }

  test("shard store diffVersions: CDC set-diff between committed versions") {
    import org.apache.spark.sql.functions._
    import graft.sources.ShardStore
    val root = java.nio.file.Files.createTempDirectory("adiff").resolve("corpus").toString
    val base = docs.select(col("doc_id"), col("text")).filter(col("doc_id") < 20)
    ShardStore.writeShardsAtomic(base, "doc_id", numShards = 2, root)
    // v2: drop ids < 3, modify id 5's text, add id 1000
    val v2 = base.filter(col("doc_id") >= 3)
      .withColumn("text", when(col("doc_id") === 5, lit("rewritten text")).otherwise(col("text")))
      .unionByName(spark.range(1).select(lit(1000L).as("doc_id"), lit("brand new").as("text")))
    ShardStore.writeShardsAtomic(v2, "doc_id", numShards = 2, root)
    val diff = ShardStore.diffVersions(spark, root, 1L, 2L)
      .select("doc_id", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val dropped = base.filter(col("doc_id") < 3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val want = dropped.map(_ -> "delete") ++
      Set(5L -> "delete", 5L -> "insert", 1000L -> "insert")
    assert(diff === want, s"got $diff")
    // self-diff is empty; diff respects identity-column subsetting
    assert(ShardStore.diffVersions(spark, root, 2L, 2L).count() === 0)
    val idOnly = ShardStore.diffVersions(spark, root, 1L, 2L, hashCols = Seq("doc_id"))
      .select("doc_id", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // keyed by id alone, the modified row is unchanged — only adds/drops
    assert(idOnly === dropped.map(_ -> "delete") + (1000L -> "insert"))
  }

  // ---- Queries.events timestamp-encoding normalization (VERDICT r9 #2) ----

  private def eventsDigest(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select(col("event_id"), unix_micros(col("ts")).as("us"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .orderBy("event_id", "us", "user_id", "event_type", "value", "props")
      .as[(Long, Long, Long, String, Double, String)].collect().toSeq
  }

  test("events reader: µs, TIMESTAMP_NTZ, and nanos-long encodings read identically") {
    val base = Queries.events(spark, "/root/testdata/sf0.001")
    val want = eventsDigest(base)
    assert(want.nonEmpty)
    val root = java.nio.file.Files.createTempDirectory("events-enc")
    // isAdjustedToUTC=false (TIMESTAMP_NTZ): byte-exact reinterpretation
    // under the pinned-UTC session
    val ntzDir = root.resolve("ntz").toString
    base.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
      .write.parquet(s"$ntzDir/events.parquet")
    assert(eventsDigest(Queries.events(spark, ntzDir)) === want)
    // raw INT64 nanos (the nanosAsLong read shape): exact ns→µs div
    val nsDir = root.resolve("ns").toString
    base.withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.parquet(s"$nsDir/events.parquet")
    assert(eventsDigest(Queries.events(spark, nsDir)) === want)
  }

  test("events reader: true TIMESTAMP(NANOS) parquet scopes the conf and truncates exactly") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events-nanos")
    val file = new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString)
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .named("events")
    val gf = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(file).withType(schema).build()
    val rows = Seq((1L, 1704067200123456789L), (2L, 1704067201999999999L))
    rows.foreach { case (id, ns) =>
      val g = gf.newGroup()
      g.add("event_id", id)
      g.add("ts", ns)
      w.write(g)
    }
    w.close()
    // start from a clean session: the conf must be set by events() itself,
    // and ONLY because this file is TIMESTAMP(NANOS)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try {
      val got = Queries.events(spark, dir.toString)
        .select(col("event_id"), unix_micros(col("ts")))
        .orderBy("event_id").as[(Long, Long)].collect().toSeq
      assert(got === rows.map { case (id, ns) => (id, ns / 1000L) })
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    } finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
  }

  test("events reader: non-UTC session refuses the NTZ reinterpretation") {
    val base = Queries.events(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createTempDirectory("events-tz")
    val ntzDir = root.resolve("ntz").toString
    base.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
      .write.parquet(s"$ntzDir/events.parquet")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try intercept[IllegalArgumentException] { Queries.events(spark, ntzDir) }
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }
}
