package graft

import org.apache.spark.sql.functions._
import graft.ext.{Eval, Ivf, Similarity}

/** IVF coarse-quantizer ANN on the driver's embeddings table. */
class IvfSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  test("train is deterministic; every cell id valid; cells non-trivial") {
    val c1 = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val c2 = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(c1.map(_._1) === c2.map(_._1))
    c1.zip(c2).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
    val cells = Ivf.withCell(emb, "embedding", c1)
      .groupBy("ivf_cell").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cells.keys.forall(c => c >= 0 && c < 8))
    assert(cells.size > 1, s"degenerate clustering: $cells") // not all in one cell
  }

  test("train: vectors of mixed length fail with the vec_sum length message") {
    // one partition: the lengths meet in one update, not in a merge
    val ragged = spark.createDataFrame(Seq(
      (0L, Seq(1f, 2f)), (1L, Seq(3f, 4f, 5f)), (2L, Seq(6f, 7f))))
      .toDF("vec_id", "embedding").coalesce(1)
    val e = intercept[Exception](Ivf.train(ragged, "vec_id", "embedding", k = 1, iters = 1))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("vec_sum: length")), e.toString)
  }

  test("IVF top-k scores match brute force for returned ids; decent recall") {
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val probeVec = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray.map(_.toDouble)
    val corpus = emb.filter(col("vec_id") =!= 0)

    val probe = spark.range(1).select(lit(probeVec.map(_.toFloat)).as("p"))
    val bf = Similarity.bruteForceTopK(corpus, "embedding", probe, "p", k = 20)
      .select("vec_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val ivf = Ivf.topK(corpus, "embedding", centroids, probeVec, k = 10, nprobe = 3)
      .select("vec_id", "score").collect()
    assert(ivf.nonEmpty && ivf.length <= 10)
    // every IVF score must equal the brute-force score for that id
    ivf.foreach { r => assertNear(r.getDouble(1), bf.getOrElse(r.getLong(0), Double.NaN)) }
    // recall sanity: with nprobe=3 of 8 cells, ≥ 3 of the true top-10 found
    val trueTop10 = bf.toSeq.sortBy(-_._2).take(10).map(_._1).toSet
    val found = ivf.map(_.getLong(0)).count(trueTop10)
    assert(found >= 3, s"recall too low: $found of 10")
  }

  test("persisted index: cell partition column prunes at the scan; results ≡ one-shot topK") {
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val probeVec = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray.map(_.toDouble)
    val corpus = emb.filter(col("vec_id") =!= 0)

    withTempDir("ivfidx") { dir =>
      val path = dir.resolve("index").toString
      // a deliberately many-partition build: the pre-r15 writer landed one
      // file per (upstream partition × cell); the rebalance-by-cell write
      // clusters rows so the file count is cell-bounded
      Ivf.saveIndex(corpus.repartition(16), "embedding", centroids, path)
      val nCells = Ivf.withCell(corpus, "embedding", centroids)
        .select("ivf_cell").distinct().count()
      val nFiles = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        try s.filter(_.toString.endsWith(".parquet")).count()
        finally s.close()
      }
      assert(nFiles <= nCells + 2,
        s"$nFiles part files for $nCells cells — per-partition file explosion is back")

      val indexed = spark.read.parquet(path)
      val nprobe = 3
      val viaIndex = Ivf.topKIndexed(indexed, "embedding", centroids, probeVec, k = 10, nprobe = nprobe)
      // plan-level pruning proof: the scan reads only the probed cells'
      // partition directories, not the whole index
      val cells = Ivf.probeCells(centroids, probeVec, nprobe).toSet
      // sparkPlan, not executedPlan: AQE wraps the tree in an adaptive node
      // whose leaves are exchange placeholders until execution
      val scan = viaIndex.queryExecution.sparkPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail("no FileSourceScanExec in plan"))
      val readCells = scan.selectedPartitions.toPartitionArray
        .map(_.filePath.toString)
        .map(p => "ivf_cell=(\\d+)".r.findFirstMatchIn(p).get.group(1).toInt).toSet
      assert(readCells.subsetOf(cells), s"scan read cells $readCells, probed $cells")
      val allCells = Ivf.withCell(corpus, "embedding", centroids)
        .select("ivf_cell").distinct().collect().map(_.getInt(0)).toSet
      assert(allCells.size > cells.size, "pruning vacuous: probe touched every cell")

      // result parity with the one-shot (in-memory assignment) path
      val a = viaIndex.select("vec_id", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
      val b = Ivf.topK(corpus, "embedding", centroids, probeVec, k = 10, nprobe = nprobe)
        .select("vec_id", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
      assert(a.map(_._1).toSeq === b.map(_._1).toSeq)
      a.zip(b).foreach { case ((_, x), (_, y)) => assertNear(x, y) }
    }
  }

  test("atomic index: commit-gated rebuilds, centroid sidecar enables cross-job probing") {
    import graft.sources.AtomicCommit
    withTempDir("ivfatomic") { dir =>
      val root = dir.resolve("index").toString
      val (v1, dir1) = Ivf.saveIndexAtomic(emb, "vec_id", "embedding", root, k = 8, iters = 2)
      assert(v1 === 1L)
      // a DIFFERENT job: no in-memory centroids — everything from disk
      val path = Ivf.latestIndexPath(spark, root)
      assert(path === dir1)
      val loaded = Ivf.loadCentroids(spark, path)
      val trained = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      assert(loaded.map(_._1) === trained.map(_._1))
      loaded.zip(trained).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
      val probeVec = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray.map(_.toDouble)
      val got = Ivf.topKIndexed(spark.read.parquet(path), "embedding", loaded,
        probeVec, k = 5, nprobe = 3).select("vec_id").collect().map(_.getLong(0))
      val want = Ivf.topK(emb, "embedding", trained, probeVec, k = 5, nprobe = 3)
        .select("vec_id").collect().map(_.getLong(0))
      assert(got.toSeq === want.toSeq)
      // crash debris (uncommitted v=2) is invisible; a real rebuild claims v=2
      emb.limit(3).write.parquet(AtomicCommit.versionDir(root, 2L) + "/ivf_cell=0")
      assert(Ivf.latestIndexPath(spark, root) === dir1)
      val (v2, dir2) = Ivf.saveIndexAtomic(emb.limit(50), "vec_id", "embedding",
        root, k = 4, iters = 1)
      assert(v2 === 2L && Ivf.latestIndexPath(spark, root) === dir2)
      // the old version stays probe-able until vacuumed (time travel)
      assert(spark.read.parquet(dir1).count() === emb.count())
    }
  }

  test("atomic quantized/PQ indexes: every sidecar loads, cross-job probe parity") {
    import graft.ext.Pq
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    // int8 index: centroids from the sidecar ≡ retrained in memory
    withTempDir("ivfq-atomic") { dir =>
      val rootQ = dir.resolve("idx").toString
      val (_, dirQ) = Ivf.saveIndexQAtomic(emb, "vec_id", "embedding", rootQ, k = 8)
      // the manifest census ≡ a fresh scan of the committed dir
      assert(Ivf.indexCellCounts(spark, rootQ) === Ivf.cellCounts(spark.read.parquet(dirQ)))
      val centsQ = Ivf.loadCentroids(spark, dirQ)
      val trained = Ivf.train(emb, "vec_id", "embedding", k = 8)
      centsQ.zip(trained).foreach { case ((ci, a), (cj, b)) =>
        assert(ci === cj && a.toSeq === b.toSeq)
      }
      val viaStore = Ivf.topKJoinQ(spark.read.parquet(dirQ), "vec_id", centsQ,
        probes, "probe_id", "p_emb", k = 5, nprobe = 3,
        rerank = Some((emb, "embedding")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStore.nonEmpty)
      // PQ index: BOTH sidecars (centroids + codebooks) come off disk
      withTempDir("ivfpq-atomic") { dir2 =>
        val rootP = dir2.resolve("idx").toString
        val (_, dirP) = Ivf.saveIndexPQAtomic(emb, "vec_id", "embedding", rootP,
          k = 4, m = 8, ksub = 16)
        assert(Ivf.indexCellCounts(spark, rootP) === Ivf.cellCounts(spark.read.parquet(dirP)))
        val centsP = Ivf.loadCentroids(spark, dirP)
        val books = Pq.loadCodebooks(spark, s"$dirP/_codebooks")
        val viaPQ = Ivf.topKJoinPQ(spark.read.parquet(dirP), "vec_id", centsP, books,
          probes, "probe_id", "p_emb", k = 5, nprobe = 2,
          rerank = Some((emb, "embedding")))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // parity with the all-in-memory build of the same index
        val booksMem = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
        val centsMem = Ivf.train(emb, "vec_id", "embedding", k = 4)
        withTempDir("ivfpq-mem") { dir3 =>
          val memPath = dir3.resolve("idx").toString
          Ivf.saveIndexPQ(emb, "vec_id", "embedding", centsMem, booksMem, memPath)
          val viaMem = Ivf.topKJoinPQ(spark.read.parquet(memPath), "vec_id", centsMem,
            booksMem, probes, "probe_id", "p_emb", k = 5, nprobe = 2,
            rerank = Some((emb, "embedding")))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(viaPQ === viaMem)
        }
      }
    }
  }

  test("topKJoin: many probes in one plan ≡ per-probe topKIndexed") {
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val corpus = emb.filter(col("vec_id") >= 10)
    val indexed = Ivf.withCell(corpus, "embedding", centroids)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val joined = Ivf.topKJoin(indexed, "embedding", centroids, probes,
      "probe_id", "p_emb", k = 5, nprobe = 3, tieBreak = Seq("vec_id"))
      .select("probe_id", "vec_id", "score").collect()
      .groupBy(_.getLong(0))
      .map { case (p, rs) => p -> rs.map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq }
    assert(joined.size === 10)
    probes.collect().foreach { pr =>
      val pid = pr.getLong(0)
      val pv = pr.getSeq[Float](1).toArray.map(_.toDouble)
      val single = Ivf.topKIndexed(indexed, "embedding", centroids, pv, k = 5, nprobe = 3)
        .select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(joined(pid).map(_._1) === single.map(_._1), s"probe $pid ids differ")
      joined(pid).zip(single).foreach { case ((_, x), (_, y)) => assertNear(x, y) }
    }
  }

  test("quantized index: ~4× smaller than the float index on disk") {
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    withTempDir("ivfq") { base =>
      val fPath = base.resolve("float").toString
      val qPath = base.resolve("quant").toString
      // float baseline stores the same (id, vec, cell) payload shape
      Ivf.saveIndex(emb.select("vec_id", "embedding"), "embedding", centroids, fPath)
      Ivf.saveIndexQ(emb, "vec_id", "embedding", centroids, qPath)
      val (fb, qb) = (dirBytes(fPath), dirBytes(qPath))
      assert(qb.toDouble / fb < 0.5, s"quantized index $qb B vs float $fb B — expected < 0.5×")
      // schema contract: tinyint codes + one scale per vector
      val idx = spark.read.parquet(qPath)
      assert(idx.schema("q8").dataType ===
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, containsNull = true)
        || idx.schema("q8").dataType ===
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false))
    }
  }

  test("topKJoinQ with exact re-rank: recall parity with the float path") {
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val corpus = emb.filter(col("vec_id") >= 10)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))

    withTempDir("ivfq2") { dir =>
      val path = dir.resolve("index").toString
      Ivf.saveIndexQ(corpus, "vec_id", "embedding", centroids, path)
      val indexedQ = spark.read.parquet(path)

      val floatTop = Ivf.topKJoin(Ivf.withCell(corpus, "embedding", centroids),
        "embedding", centroids, probes, "probe_id", "p_emb",
        k = 5, nprobe = 3, tieBreak = Seq("vec_id"))
      val quantTop = Ivf.topKJoinQ(indexedQ, "vec_id", centroids, probes,
        "probe_id", "p_emb", k = 5, nprobe = 3,
        rerank = Some((corpus, "embedding")))

      // identical id sets per probe (re-rank restores exact ordering; the
      // candidate pool at rerankFactor=4 comfortably covers the true top-5)
      val f = floatTop.select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val q = quantTop.select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(q === f, s"quantized∖float: ${q -- f}; float∖quantized: ${f -- q}")

      // re-ranked scores are the EXACT float dots
      val exact = floatTop.select("probe_id", "vec_id", "score").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      quantTop.collect().foreach { r =>
        assertNear(r.getDouble(2), exact((r.getLong(0), r.getLong(1))))
      }

      // and mean recall@5 vs brute-force truth matches the float path's
      val truth = Similarity.bruteForceTopKJoin(corpus, "embedding", probes,
        "probe_id", "p_emb", k = 5, tieBreak = Seq("vec_id"))
      val rf = Eval.meanRecallAtK(floatTop, truth, "probe_id", "vec_id", 5)
      val rq = Eval.meanRecallAtK(quantTop, truth, "probe_id", "vec_id", 5)
      assertNear(rq, rf, 1e-9)
      assert(rq >= 0.3, s"nprobe=3/8 mean recall@5 $rq suspiciously low")
    }
  }

  test("topKJoinQ scanBudget: budget ≥ corpus ≡ nprobe=k; budget=1 ≡ nprobe=1") {
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val corpus = emb.filter(col("vec_id") >= 10)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    withTempDir("ivfqb") { dir =>
      val path = dir.resolve("index").toString
      Ivf.saveIndexQ(corpus, "vec_id", "embedding", centroids, path)
      val indexedQ = spark.read.parquet(path)
      val census = Ivf.cellCounts(indexedQ)
      val total = census.values.sum

      def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("probe_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet

      val allBudget = ids(Ivf.topKJoinQ(indexedQ, "vec_id", centroids, probes,
        "probe_id", "p_emb", k = 5, rerank = Some((corpus, "embedding")),
        scanBudget = Some((census, total))))
      val allProbe = ids(Ivf.topKJoinQ(indexedQ, "vec_id", centroids, probes,
        "probe_id", "p_emb", k = 5, nprobe = 8, rerank = Some((corpus, "embedding"))))
      assert(allBudget === allProbe)

      val oneBudget = ids(Ivf.topKJoinQ(indexedQ, "vec_id", centroids, probes,
        "probe_id", "p_emb", k = 5, rerank = Some((corpus, "embedding")),
        scanBudget = Some((census, 1L))))
      val oneProbe = ids(Ivf.topKJoinQ(indexedQ, "vec_id", centroids, probes,
        "probe_id", "p_emb", k = 5, nprobe = 1, rerank = Some((corpus, "embedding"))))
      assert(oneBudget === oneProbe)
    }
  }

  test("quantized-only scores carry bounded error; without re-rank ids may reorder") {
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val corpus = emb.filter(col("vec_id") >= 10)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    withTempDir("ivfq3") { dir =>
      val path = dir.resolve("index").toString
      Ivf.saveIndexQ(corpus, "vec_id", "embedding", centroids, path)
      val indexedQ = spark.read.parquet(path)
      val qOnly = Ivf.topKJoinQ(indexedQ, "vec_id", centroids, probes,
        "probe_id", "p_emb", k = 5, nprobe = 3)
      val exactDots = Ivf.topKJoin(Ivf.withCell(corpus, "embedding", centroids),
        "embedding", centroids, probes, "probe_id", "p_emb",
        k = 1000000, nprobe = 3, tieBreak = Seq("vec_id"))
        .select("probe_id", "vec_id", "score").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      qOnly.collect().foreach { r =>
        val e = exactDots((r.getLong(0), r.getLong(1)))
        // int8 max-abs quantization: ~1% relative error per vector pair
        assert(math.abs(r.getDouble(2) - e) <= 0.05 * math.max(1.0, math.abs(e)),
          s"quantized score ${r.getDouble(2)} too far from exact $e")
      }
    }
  }

  test("recallAtK: planted ground truth, partial overlap, missing probes") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("probe_id", "vec_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 20L), (2L, 21L), (2L, 20L))
      .toDF("probe_id", "vec_id")
    val r = Eval.recallAtK(approx, truth, "probe_id", "vec_id", k = 3)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assertNear(r(1L), 2.0 / 3.0) // 2 of 3 found; the 99 is noise
    assertNear(r(2L), 1.0)       // both found (duplicate counted once); denom = min(2, 3)
    assertNear(r(3L), 0.0)       // probe absent from approx = total miss
    assertNear(Eval.meanRecallAtK(approx, truth, "probe_id", "vec_id", 3),
      (2.0 / 3.0 + 1.0 + 0.0) / 3.0)
  }

  test("append to index: fixed quantizer, segment-union read, time travel, vacuum liveness") {
    import graft.sources.AtomicCommit
    withTempDir("ivfappend") { dir =>
      val root = dir.resolve("index").toString
      val base = emb.filter(col("vec_id") < 200)
      val extra = emb.filter(col("vec_id") >= 200 && col("vec_id") < 260)
      val (v1, dir1) = Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 8, iters = 2)
      val (v2, segs) = Ivf.appendToIndexAtomic(extra, "embedding", root)
      assert(v1 === 1L && v2 === 2L)
      assert(segs === Seq(dir1, AtomicCommit.versionDir(root, 2L)))
      // the quantizer did NOT move: the appended segment carries the same centroids
      val c1 = Ivf.loadCentroids(spark, dir1)
      val c2 = Ivf.loadCentroids(spark, segs.last)
      assert(c1.map(_._1) === c2.map(_._1))
      c1.zip(c2).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
      // union read sees base + appended rows exactly once
      val idx = Ivf.readIndex(spark, root)
      assert(idx.count() === base.count() + extra.count())
      // probing the composed index ≡ probing the combined corpus directly
      val probeVec = extra.filter(col("vec_id") === 250).select("embedding")
        .head().getSeq[Float](0).toArray.map(_.toDouble)
      val got = Ivf.topKIndexed(idx, "embedding", c1, probeVec, k = 5, nprobe = 3)
        .select("vec_id").collect().map(_.getLong(0))
      val want = Ivf.topK(base.unionByName(extra), "embedding", c1, probeVec, k = 5, nprobe = 3)
        .select("vec_id").collect().map(_.getLong(0))
      assert(got.toSeq === want.toSeq)
      // time travel: the pre-append composition still reads only base rows
      val (_, body1) = AtomicCommit.at(spark, root, v1).get
      val segs1 = Ivf.indexSegmentsAt(spark, root, v1, body1)
      assert(segs1 === Seq(dir1))
      assert(spark.read.parquet(segs1.head).count() === base.count())
      // second append, then vacuum to the newest version only: dir1 and
      // v=2 stay ALIVE (the retained manifest references them) even
      // though their commit files (time-travel tokens) are gone
      val extra2 = emb.filter(col("vec_id") >= 260 && col("vec_id") < 290)
      val (v3, _) = Ivf.appendToIndexAtomic(extra2, "embedding", root)
      AtomicCommit.vacuum(spark, root, keepVersions = 1)
      assert(AtomicCommit.committedVersions(spark, root) === Seq(v3))
      assert(Ivf.readIndex(spark, root).count() ===
        base.count() + extra.count() + extra2.count())
    }
  }

  test("tombstone delete: masked at read, resurrected by later append, " +
      "compaction ≡ rebuild-from-scratch (VERDICT r11 #8)") {
    import graft.sources.AtomicCommit
    withTempDir("ivfdelete") { dir =>
      val root = dir.resolve("index").toString
      val base = emb.filter(col("vec_id") < 200)
      Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 8, iters = 2)
      val dead = base.filter(col("vec_id") % 7 === 0).select("vec_id")
      val nDead = dead.count()
      assert(nDead > 0)
      val (vDel, segs) = Ivf.deleteFromIndexAtomic(dead, root)
      assert(vDel === 2L && segs.length === 2)
      // anti-join at read: the masked ids are gone from every reader path
      val survivors = Ivf.readIndex(spark, root)
      assert(survivors.count() === base.count() - nDead)
      assert(survivors.filter(col("vec_id") % 7 === 0).count() === 0L)
      // probing skips deleted rows too (reader path shared)
      val c = Ivf.loadCentroids(spark, segs.head)
      val probeVec = base.filter(col("vec_id") === 7).select("embedding")
        .head().getSeq[Float](0).toArray.map(_.toDouble)
      val got = Ivf.topKIndexed(survivors, "embedding", c, probeVec, k = 5, nprobe = 8)
        .select("vec_id").collect().map(_.getLong(0))
      assert(!got.exists(_ % 7 == 0) && got.nonEmpty)
      // time travel: the pre-delete composition still holds every row
      val (_, body1) = AtomicCommit.at(spark, root, 1L).get
      assert(spark.read.parquet(
        Ivf.indexSegmentsAt(spark, root, 1L, body1).head).count() === base.count())
      // LSM ordering: re-appending one tombstoned id AFTER the delete
      // resurrects it — the tombstone masks only earlier segments
      val back = base.filter(col("vec_id") === 14)
      Ivf.appendToIndexAtomic(back, "embedding", root)
      val after = Ivf.readIndex(spark, root)
      assert(after.filter(col("vec_id") === 14).count() === 1L)
      assert(after.count() === base.count() - nDead + 1)
      // compaction drops masked rows PHYSICALLY and clears the tombstone;
      // content ≡ an index rebuilt from scratch on the surviving rows
      // (same quantizer: compact never retrains)
      val (vc, cdir) = Ivf.compactIndexAtomic(spark, root)
      val compacted = spark.read.parquet(cdir)
      val rebuilt = Ivf.withCell(
        base.filter(col("vec_id") % 7 =!= 0 || col("vec_id") === 14),
        "embedding", c)
      assert(compacted.select("vec_id", "ivf_cell").collect().map(r =>
          (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq ===
        rebuilt.select("vec_id", "ivf_cell").collect().map(r =>
          (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq)
      // the compacted manifest is single-segment and tombstone-free
      assert(Ivf.indexSegments(spark, root) ===
        Seq(AtomicCommit.versionDir(root, vc)))
      assert(Ivf.readIndex(spark, root).count() === base.count() - nDead + 1)
    }
  }

  test("census sidecar: manifest sum ≡ fresh scan through the whole lifecycle " +
      "(build/append/delete/re-delete/resurrect/compact/retrain); scan fallback") {
    withTempDir("ivfcensus") { dir =>
      val root = dir.resolve("index").toString
      val base = emb.filter(col("vec_id") < 200)
      def scanCensus(): Map[Int, Long] =
        Ivf.cellCounts(Ivf.readIndex(spark, root))
      def assertParity(stage: String): Unit =
        assert(Ivf.indexCellCounts(spark, root) === scanCensus(), stage)

      Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 8, iters = 2)
      assertParity("build")
      Ivf.appendToIndexAtomic(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 260), "embedding", root)
      assertParity("append")
      // delete masks rows across BOTH earlier segments
      Ivf.deleteFromIndexAtomic(
        emb.filter(col("vec_id") % 7 === 0).select("vec_id"), root)
      assertParity("delete")
      // overlapping re-delete: already-masked ids must NOT subtract twice
      Ivf.deleteFromIndexAtomic(
        emb.filter(col("vec_id") % 14 === 0).select("vec_id"), root)
      assertParity("re-delete overlap")
      // resurrection: the append's positive census restores the row
      Ivf.appendToIndexAtomic(base.filter(col("vec_id") === 14), "embedding", root)
      assertParity("resurrect")
      // deleting the resurrected id again subtracts ONLY the live copy
      Ivf.deleteFromIndexAtomic(
        base.filter(col("vec_id") === 14).select("vec_id"), root)
      assertParity("delete resurrected")
      Ivf.compactIndexAtomic(spark, root)
      assertParity("compact")
      Ivf.retrainAtomic(spark, root, "vec_id", "embedding", k = 8, iters = 2)
      assertParity("retrain")
      // fallback: a segment without the sidecar (pre-r14 index) degrades
      // to the one column-pruned scan, same answer
      val seg = Ivf.indexSegments(spark, root).head
      val censusPath = java.nio.file.Paths.get(seg, "_census")
      def rmTree(p: java.nio.file.Path): Unit = {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(java.nio.file.Files.delete(_))
        finally s.close()
      }
      rmTree(censusPath)
      assertParity("fallback after sidecar removal")
    }
  }

  test("streamAppend compactEvery: composition folds back to one segment in-loop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withTempDir("ivfcomp") { dir =>
      val root = dir.resolve("index").toString
      val base = emb.filter(col("vec_id") < 100)
      Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 4, iters = 1)
      def batch(lo: Long, hi: Long) = emb
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val input = MemoryStream[(Long, Seq[Float])]
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      val q = Ivf.streamAppend(
        input.toDF().toDF("vec_id", "embedding"), root, "embedding",
        compactEvery = 3) { (v, n) => seen += ((v, n)) }
      try {
        input.addData(batch(100, 120).toSeq: _*); q.processAllAvailable()
        input.addData(batch(120, 140).toSeq: _*); q.processAllAvailable()
        input.addData(batch(140, 160).toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      // batch 1: 2 segments; batch 2: reaches 3 → compacts to v4/1 seg;
      // batch 3: appends onto the compacted base → 2 segments
      assert(seen.toSeq === Seq((2L, 2), (4L, 1), (5L, 2)))
      assert(Ivf.indexSegments(spark, root).size === 2)
      assert(Ivf.readIndex(spark, root).count() === base.count() + 60)
    }
  }

  test("streamAppend fencing: a superseded ingest attempt cannot append; the retry can") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.AtomicCommit
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withTempDir("ivffence") { dir =>
      val root = dir.resolve("index").toString
      val base = emb.filter(col("vec_id") < 100)
      Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 4, iters = 1)
      def batch(lo: Long, hi: Long) = emb
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      val e1 = AtomicCommit.acquireEpoch(spark, root, "ingest-1")
      val in1 = MemoryStream[(Long, Seq[Float])]
      val q1 = Ivf.streamAppend(
        in1.toDF().toDF("vec_id", "embedding"), root, "embedding",
        fenceEpoch = Some(e1))()
      try {
        in1.addData(batch(100, 120): _*); q1.processAllAvailable()
        assert(Ivf.readIndex(spark, root).count() === base.count() + 20)
        // the retry takes over; the stalled ingest's next batch dies fenced
        val e2 = AtomicCommit.acquireEpoch(spark, root, "ingest-2")
        in1.addData(batch(120, 140): _*)
        val err = intercept[Exception](q1.processAllAvailable())
        assert(err.getMessage.contains("fenced") ||
          Option(err.getCause).exists(_.getMessage.contains("fenced")))
        assert(Ivf.readIndex(spark, root).count() === base.count() + 20)
        // the retry appends under its own token
        val in2 = MemoryStream[(Long, Seq[Float])]
        val q2 = Ivf.streamAppend(
          in2.toDF().toDF("vec_id", "embedding"), root, "embedding",
          fenceEpoch = Some(e2))()
        try {
          in2.addData(batch(120, 140): _*); q2.processAllAvailable()
          assert(Ivf.readIndex(spark, root).count() === base.count() + 40)
        } finally q2.stop()
      } finally q1.stop()
    }
  }

  test("streamAppend: per-batch atomic segments, empty batches burn no version") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withTempDir("ivfstream") { dir =>
      val root = dir.resolve("index").toString
      val base = emb.filter(col("vec_id") < 150)
      Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 8, iters = 2)
      val batch1 = emb.filter(col("vec_id") >= 150 && col("vec_id") < 180)
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val batch2 = emb.filter(col("vec_id") >= 180 && col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val input = MemoryStream[(Long, Seq[Float])]
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      val q = Ivf.streamAppend(
        input.toDF().toDF("vec_id", "embedding"), root, "embedding") {
        (v, n) => seen += ((v, n))
      }
      try {
        input.addData(batch1.toSeq: _*); q.processAllAvailable()
        input.addData(batch2.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      assert(seen.toSeq === Seq((2L, 2), (3L, 3)))
      import graft.sources.AtomicCommit
      assert(AtomicCommit.committedVersions(spark, root) === Seq(1L, 2L, 3L))
      assert(Ivf.readIndex(spark, root).count() ===
        base.count() + batch1.length + batch2.length)
      // probing the streamed composition ≡ probing the full corpus directly
      val cents = Ivf.loadCentroids(spark, Ivf.indexSegments(spark, root).head)
      val pv = batch2.head._2.toArray.map(_.toDouble)
      val got = Ivf.topKIndexed(Ivf.readIndex(spark, root), "embedding", cents,
        pv, k = 5, nprobe = 3).select("vec_id").collect().map(_.getLong(0))
      val want = Ivf.topK(emb.filter(col("vec_id") < 200), "embedding", cents,
        pv, k = 5, nprobe = 3).select("vec_id").collect().map(_.getLong(0))
      assert(got.toSeq === want.toSeq)
      // streaming probes: batch 0 sees the pre-append composition; an
      // append lands between batches; batch 1 serves the new rows
      val probeStream = MemoryStream[(Long, Seq[Float])]
      val answers = scala.collection.mutable.Map.empty[Long, Map[Long, Seq[Long]]]
      val pq = Ivf.streamTopKJoin(
        probeStream.toDF().toDF("probe_id", "p_emb"), root,
        "probe_id", "p_emb", k = 5, nprobe = 3) { (res, bid) =>
        answers(bid) = res.select("probe_id", "vec_id")
          .collect().groupBy(_.getLong(0))
          .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSeq }
      }
      val extra3 = emb.filter(col("vec_id") >= 290 && col("vec_id") < 320)
      try {
        val pv250 = batch2.head._2
        probeStream.addData((1L, pv250)); pq.processAllAvailable()
        Ivf.appendToIndexAtomic(extra3, "embedding", root)
        probeStream.addData((2L, pv250)); pq.processAllAvailable()
      } finally pq.stop()
      assert(answers.keySet === Set(0L, 1L))
      assert(!answers(0L)(1L).exists(_ >= 290)) // pre-append snapshot
      // post-append batch ≡ batch topKJoin against the full composition
      val want2 = Ivf.topKJoin(Ivf.readIndex(spark, root), "embedding", cents,
        emb.filter(col("vec_id") === batch2.head._1)
          .select(lit(2L).as("probe_id"), col("embedding").as("p_emb")),
        "probe_id", "p_emb", k = 5, nprobe = 3)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(answers(1L)(2L) === want2)

      // compaction: one segment, same quantizer, same content, same probe
      val before = Ivf.readIndex(spark, root)
        .select("vec_id", "ivf_cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted
      val (v4, dir4) = Ivf.compactIndexAtomic(spark, root)
      assert(v4 === 5L && Ivf.indexSegments(spark, root) === Seq(dir4))
      val after = Ivf.readIndex(spark, root)
        .select("vec_id", "ivf_cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted
      assert(after.toSeq === before.toSeq) // cells never recomputed
      val cents4 = Ivf.loadCentroids(spark, dir4)
      assert(cents4.map(_._1) === cents.map(_._1))
      cents4.zip(cents).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
      val got4 = Ivf.topKIndexed(Ivf.readIndex(spark, root), "embedding", cents4,
        pv, k = 5, nprobe = 3).select("vec_id").collect().map(_.getLong(0))
      val want4 = Ivf.topK(
        emb.filter(col("vec_id") < 200 ||
          (col("vec_id") >= 290 && col("vec_id") < 320)),
        "embedding", cents4, pv, k = 5, nprobe = 3)
        .select("vec_id").collect().map(_.getLong(0))
      assert(got4.toSeq === want4.toSeq)
    }
  }

  test("streamTopKJoin scanBudget: per-batch results ≡ batch topKJoinBudget " +
      "against the live composition") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withTempDir("ivfstreambudget") { dir =>
      val root = dir.resolve("index").toString
      val base = emb.filter(col("vec_id") < 150)
      Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 8, iters = 2)
      val cents = Ivf.loadCentroids(spark, Ivf.indexSegments(spark, root).head)
      val idx = Ivf.readIndex(spark, root)
      val counts = Ivf.cellCounts(idx)
      val budget = counts.values.sum / 3

      val pv = emb.filter(col("vec_id") === 160).select("embedding")
        .head().getSeq[Float](0)
      val probeStream = MemoryStream[(Long, Seq[Float])]
      val answers = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long)]]
      val q = Ivf.streamTopKJoin(
        probeStream.toDF().toDF("probe_id", "p_emb"), root,
        "probe_id", "p_emb", k = 5, tieBreak = Seq("vec_id"),
        scanBudget = Some(budget)) { (res, bid) =>
        answers(bid) = res.select("probe_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      }
      try {
        probeStream.addData((1L, pv)); q.processAllAvailable()
      } finally q.stop()
      val want = Ivf.topKJoinBudget(idx, "embedding", cents, counts,
          spark.range(1).select(lit(1L).as("probe_id"), lit(pv.toArray).as("p_emb")),
          "probe_id", "p_emb", k = 5, maxScanRows = budget, tieBreak = Seq("vec_id"))
        .select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(answers(0L) === want)
    }
  }

  test("indexSnapshot: one-fetch serving view is internally consistent " +
      "through append/delete/retrain — centroids, census, and rows all " +
      "from the SAME committed version") {
    import graft.sources.AtomicCommit
    withTempDir("ivfsnap") { dir =>
      val root = dir.resolve("index").toString
      Ivf.saveIndexAtomic(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", root, k = 8, iters = 2)
      def check(): Unit = {
        val snap = Ivf.indexSnapshot(spark, root)
        // the snapshot's pieces must be one generation: census totals ==
        // the snapshot frame's own rows, census keys ⊆ its centroid ids,
        // and the version is the latest commit it resolved
        assert(snap.centroids.size === 8)
        val cids = snap.centroids.map(_._1).toSet
        assert(snap.census.keySet.subsetOf(cids), s"census keys ${snap.census.keySet}")
        assert(snap.census.values.sum === snap.index.count())
        assert(snap.version === AtomicCommit.latest(spark, root).get._1)
        // serving through the snapshot is self-consistent: a probe built
        // from the SNAPSHOT's own centroids finds its cell populated
        assert(Ivf.topKJoinBudget(snap.index, "embedding", snap.centroids,
          snap.census, emb.filter(col("vec_id") === 7L)
            .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb")),
          "probe_id", "p_emb", k = 3, maxScanRows = 1000L,
          tieBreak = Seq("vec_id")).count() === 3L)
      }
      check()
      Ivf.appendToIndexAtomic(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 260), "embedding", root)
      check()
      Ivf.deleteFromIndexAtomic(
        emb.filter(col("vec_id") % 17 === 0).select("vec_id"), root)
      check()
      // retrain CHANGES the quantizer generation — the snapshot must hand
      // back the new centroids with the new census, never a mix
      Ivf.retrainAtomic(spark, root, "vec_id", "embedding", k = 8, iters = 2)
      check()
    }
  }

  test("IVF serve grace: vacuum keepVersions=2 keeps a held snapshot " +
      "readable across ONE maintenance cycle (keep=1 tears it; grace is " +
      "exactly one generation)") {
    // VERDICT r17 #2: the signature stores earned fold supersession +
    // keepVersions grace from a measured retry storm; the IVF segment
    // store needs NO new mechanism — the generic vacuum already keeps
    // every data dir a retained manifest references, so keepVersions=2
    // IS one-generation reader grace for the composition. This pins
    // that contract; IvfServeGraceProbe measures it at load.
    import graft.sources.AtomicCommit
    withTempDir("ivfgrace") { dir =>
      val root = dir.resolve("index").toString
      val base = emb.filter(col("vec_id") < 200)
      val nBase = base.count()
      Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 8, iters = 2)
      // a reader resolves a snapshot and HOLDS it (the in-flight slow
      // scan); a graceless maintenance cycle lands under it
      val held1 = Ivf.indexSnapshot(spark, root)
      Ivf.appendToIndexAtomic(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 260), "embedding", root)
      Ivf.compactIndexAtomic(spark, root)
      AtomicCommit.vacuum(spark, root, keepVersions = 1)
      // completing the held scan dies LOUDLY (missing files) — never a
      // silent subset
      intercept[Exception](held1.index.count())
      // same hold with grace: the cycle's vacuum keeps the superseded
      // generation's dirs because the retained previous MANIFEST still
      // references them
      val held2 = Ivf.indexSnapshot(spark, root) // v3: compact of base+60
      Ivf.appendToIndexAtomic(
        emb.filter(col("vec_id") >= 260 && col("vec_id") < 290), "embedding", root)
      Ivf.compactIndexAtomic(spark, root)
      AtomicCommit.vacuum(spark, root, keepVersions = 2)
      assert(held2.index.count() === nBase + 60L,
        "held snapshot must finish against its own committed generation")
      // and it still SERVES: a budget probe through the held pieces
      // returns its full k
      assert(Ivf.topKJoinBudget(held2.index, "embedding", held2.centroids,
        held2.census, emb.filter(col("vec_id") === 7L)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb")),
        "probe_id", "p_emb", k = 3, maxScanRows = 1000L,
        tieBreak = Seq("vec_id")).count() === 3L)
      // grace is exactly ONE generation: the next cycle sweeps it
      Ivf.appendToIndexAtomic(
        emb.filter(col("vec_id") >= 290 && col("vec_id") < 300), "embedding", root)
      Ivf.compactIndexAtomic(spark, root)
      AtomicCommit.vacuum(spark, root, keepVersions = 2)
      intercept[Exception](held2.index.count())
      // the current snapshot always serves the full content
      assert(Ivf.indexSnapshot(spark, root).index.count() === nBase + 100L)
    }
  }

  test("side-by-side index migration: a fresh root built from the committed " +
      "segments serves equivalently; the reader repoints; the old root's " +
      "teardown tears held snapshots loudly, never silently") {
    // r18 round-19 candidate (1), pulled forward: the canary-day shape
    // for the ANN tier. Indexes are DERIVED data, so migration is
    // rebuild-from-committed-segments at the new root + a reader
    // repoint — no catch-up pass exists to forget (the primary store
    // owns history); the spec pins serve-equivalence and the loud
    // teardown contract.
    import graft.sources.AtomicCommit
    withTempDir("ivfmigrate") { tmp =>
      val rootA = tmp.resolve("a").toString
      val rootB = tmp.resolve("b").toString
      val corpus = emb.filter(col("vec_id") < 300)
      Ivf.saveIndexAtomic(corpus, "vec_id", "embedding", rootA, k = 8, iters = 2)
      def probes = emb.filter(col("vec_id").isin(3L, 77L, 200L))
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      def serve(root: String) = {
        val snap = Ivf.indexSnapshot(spark, root)
        Ivf.topKJoinBudget(snap.index, "embedding", snap.centroids, snap.census,
          probes, "probe_id", "p_emb", k = 5, maxScanRows = 10000L,
          tieBreak = Seq("vec_id"))
          .select("probe_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val before = serve(rootA)
      // the migration: re-train at the new root FROM the old root's
      // committed segments (same deterministic spread init, same corpus
      // → same quantizer → same cells), one atomic commit at rootB
      val heldA = Ivf.indexSnapshot(spark, rootA)
      Ivf.saveIndexAtomic(
        Ivf.readIndex(spark, rootA).drop("ivf_cell"),
        "vec_id", "embedding", rootB, k = 8, iters = 2)
      // reader repoints: results identical (derived data, deterministic
      // training), version numbering restarts at the new root
      assert(serve(rootB) === before)
      assert(Ivf.indexSnapshot(spark, rootB).version === 1L)
      // old-root teardown: a reader still HOLDING a rootA snapshot dies
      // loudly on the swept files (retry-at-the-new-root territory) —
      // never a silent subset
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rootA))
      intercept[Exception](heldA.index.count())
      // and the migrated root keeps serving
      assert(serve(rootB) === before)
    }
  }

  test("side-by-side index migration RACING a live serve reader (r19): the " +
      "reader repoints between snapshots, every read before/during/after " +
      "is complete, 0 torn across a teardown ordered after a post-flip read") {
    // the racing extension of the solo migration pin above — the
    // FleetMonthDemo repoint day at spec scale. The teardown-ordering
    // contract: after TWO completed post-flip reads, the reader thread
    // provably has no in-flight read holding the old root (reads are
    // serial on one thread; the second post-flip completion STARTED
    // after the flip), so the teardown costs zero torn reads.
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
    withTempDir("ivfmigrace") { tmp =>
      val rootA = tmp.resolve("a").toString
      val rootB = tmp.resolve("b").toString
      val corpus = emb.filter(col("vec_id") < 300)
      Ivf.saveIndexAtomic(corpus, "vec_id", "embedding", rootA, k = 8, iters = 2)
      val probes = emb.filter(col("vec_id").isin(3L, 77L, 200L))
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        .localCheckpoint(true)
      @volatile var servedRoot = rootA
      def serve(): Set[(Long, Long)] = {
        val snap = Ivf.indexSnapshot(spark, servedRoot)
        Ivf.topKJoinBudget(snap.index, "embedding", snap.centroids, snap.census,
          probes, "probe_id", "p_emb", k = 5, maxScanRows = 10000L,
          tieBreak = Seq("vec_id"))
          .select("probe_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val expected = serve()
      val done = new AtomicBoolean(false)
      val reads = new AtomicInteger(0)
      val fatal = new AtomicReference[Throwable](null)
      val reader = new Thread("ivf-migrate-reader") {
        override def run(): Unit =
          while (!done.get() && fatal.get() == null) {
            try {
              val got = serve()
              if (got != expected)
                fatal.set(new AssertionError(s"serve drifted: $got"))
              reads.incrementAndGet()
            } catch { case e: Throwable => fatal.set(e) }
          }
      }
      reader.start()
      try {
        // let the reader establish a cadence on the old root
        val d0 = System.nanoTime() + 60L * 1000000000L
        while (reads.get() < 2 && fatal.get() == null && System.nanoTime() < d0)
          Thread.sleep(50)
        assert(reads.get() >= 2, "reader never established a cadence")
        // migrate side-by-side while the reader is live on rootA
        Ivf.saveIndexAtomic(Ivf.readIndex(spark, rootA).drop("ivf_cell"),
          "vec_id", "embedding", rootB, k = 8, iters = 2)
        val atFlip = reads.get()
        servedRoot = rootB
        val d1 = System.nanoTime() + 120L * 1000000000L
        while (reads.get() < atFlip + 2 && fatal.get() == null &&
            System.nanoTime() < d1) Thread.sleep(50)
        assert(fatal.get() == null, s"reader died across the flip: ${fatal.get()}")
        assert(reads.get() >= atFlip + 2, "reader stalled across the flip")
        // teardown AFTER a provably post-flip read: zero torn
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rootA))
        val atTear = reads.get()
        while (reads.get() < atTear + 2 && fatal.get() == null &&
            System.nanoTime() < d1) Thread.sleep(50)
        assert(fatal.get() == null,
          s"reader died after the old-root teardown: ${fatal.get()}")
        assert(reads.get() >= atTear + 2, "reader stalled after the teardown")
      } finally { done.set(true); reader.join(60000) }
      assert(fatal.get() == null, String.valueOf(fatal.get()))
    }
  }

  test("retrainAtomic: quantizer refreshed from committed segments only — " +
      "parity with a from-scratch rebuild, recall no worse on a drifted corpus") {
    import graft.sources.AtomicCommit
    withTempDir("ivfretrain") { dir =>
      val root = dir.resolve("index").toString
      val base = emb.filter(col("vec_id") < 200)
      Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 8, iters = 2)
      // months of drift: appended vectors form SIX tight clusters in
      // regions the original quantizer never saw (coordinate spikes in
      // six different directions; members = spike + 5% of a real
      // embedding, so intra-cluster distance << inter-cluster), plus
      // ordinary deletes
      val drifted = emb.filter(col("vec_id") >= 200 && col("vec_id") < 320)
        .withColumn("_j", (col("vec_id") % 6).cast("int"))
        .withColumn("embedding",
          transform(col("embedding"),
            (x, i) => x * lit(0.05f) +
              when(i === col("_j"), lit(8.0f)).otherwise(lit(0.0f))))
        .drop("_j")
        .localCheckpoint(true)
      Ivf.appendToIndexAtomic(drifted, "embedding", root)
      Ivf.deleteFromIndexAtomic(
        base.filter(col("vec_id") % 13 === 0).select("vec_id"), root)
      val oldC = Ivf.loadCentroids(spark, Ivf.indexSegments(spark, root).head)
      val resolved = Ivf.readIndex(spark, root).localCheckpoint(true)
      val nResolved = resolved.count()

      val (vr, rdir) = Ivf.retrainAtomic(
        spark, root, "vec_id", "embedding", k = 8, iters = 2)
      // single-segment, tombstone-free manifest; every surviving row kept
      assert(Ivf.indexSegments(spark, root) ===
        Seq(AtomicCommit.versionDir(root, vr)))
      val retrained = spark.read.parquet(rdir)
      assert(retrained.count() === nResolved)
      assert(retrained.filter(col("vec_id") % 13 === 0 && col("vec_id") < 200)
        .count() === 0L)
      val newC = Ivf.loadCentroids(spark, rdir)

      // parity: ≡ a from-scratch build on the surviving rows (same
      // deterministic spread init, same Lloyd rounds)
      withTempDir("ivfretrain2") { tmp2 =>
        val root2 = tmp2.resolve("index").toString
        val (_, dir2) = Ivf.saveIndexAtomic(
          resolved.drop("ivf_cell"), "vec_id", "embedding", root2, k = 8, iters = 2)
        val scratchC = Ivf.loadCentroids(spark, dir2)
        assert(newC.map(_._1) === scratchC.map(_._1))
        newC.zip(scratchC).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
        assert(retrained.select("vec_id", "ivf_cell").collect()
            .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq ===
          spark.read.parquet(dir2).select("vec_id", "ivf_cell").collect()
            .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq)
        // the refreshed quantizer actually moved (a pure no-op refresh
        // would mean the drift fixture is broken)
        assert(newC.map(_._2.toSeq) != oldC.map(_._2.toSeq))

        // recall at tight nprobe on drifted probes: refreshed >= stale
        val probes = drifted.filter(col("vec_id") % 40 === 0)
          .select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
        def overlap(idx: org.apache.spark.sql.DataFrame,
                    cents: Seq[(Int, Array[Double])]): Int =
          probes.map { case (pid, pv) =>
            val truth = Similarity.bruteForceTopK(
                resolved.filter(col("vec_id") =!= pid), "embedding",
                spark.range(1).select(lit(pv.map(_.toFloat)).as("p")), "p", k = 5)
              .select("vec_id").collect().map(_.getLong(0)).toSet
            val got = Ivf.topKIndexed(idx.filter(col("vec_id") =!= pid),
                "embedding", cents, pv, k = 5, nprobe = 1)
              .select("vec_id").collect().map(_.getLong(0)).toSet
            (truth & got).size
          }.sum
        val stale = overlap(resolved, oldC)
        val fresh = overlap(retrained, newC)
        assert(fresh >= stale, s"refresh degraded recall: $fresh < $stale")
      }
    }
  }

  test("train maxTrainRows: cap ≥ corpus ≡ unsampled bit-identical; " +
      "sampled ≡ explicit hash-prefix train; deterministic across runs") {
    val full = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    val uncapped = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 2,
      maxTrainRows = Some(Long.MaxValue))
    full.zip(uncapped).foreach { case ((i, a), (j, b)) =>
      assert(i === j); assert(a.toSeq === b.toSeq)
    }

    val m = emb.count() / 3
    val s1 = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 2,
      maxTrainRows = Some(m))
    val s2 = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 2,
      maxTrainRows = Some(m))
    s1.zip(s2).foreach { case ((i, a), (j, b)) =>
      assert(i === j); assert(a.toSeq === b.toSeq)
    }

    // the subsample IS the ~m smallest id-hashes: training on that
    // frame explicitly must reproduce the centroids exactly
    val (t, _) = graft.operators.Selection.nthSmallest(
      emb.select(xxhash64(col("vec_id")).as("_th")), "_th", m)
    val explicit = Ivf.train(emb.filter(xxhash64(col("vec_id")) <= t),
      "vec_id", "embedding", k = 4, iters = 2)
    s1.zip(explicit).foreach { case ((i, a), (j, b)) =>
      assert(i === j); assert(a.toSeq === b.toSeq)
    }

    // sampled centroids still partition the FULL corpus into valid cells
    val cells = Ivf.withCell(emb, "embedding", s1)
      .groupBy("ivf_cell").count().collect()
    assert(cells.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 4))
    assert(cells.map(_.getLong(1)).sum === emb.count())

    intercept[IllegalArgumentException] {
      Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 1, maxTrainRows = Some(3L))
    }
  }

  test("topKJoinBudget: per-probe nearest-first cell prefix by row census; " +
      "extremes ≡ nprobe=1 and brute force") {
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val corpus = Ivf.withCell(emb.filter(col("vec_id") >= 5), "embedding", centroids)
    val counts = Ivf.cellCounts(corpus)
    val total = counts.values.sum
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("pid"), col("embedding").as("p"))

    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Set[(Long, Double)]] =
      df.select("pid", "vec_id", "score").collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap

    // mid budget: every probe's result must equal topKJoin run at the
    // nprobe its census prefix implies (exclusive running count < budget)
    val budget = math.max(1L, total / 3)
    val got = asMap(Ivf.topKJoinBudget(corpus, "embedding", centroids, counts,
      probes, "pid", "p", k = 10, maxScanRows = budget, tieBreak = Seq("vec_id")))
    probes.collect().foreach { pr =>
      val pid = pr.getLong(0)
      val pv = pr.getSeq[Float](1).map(_.toDouble).toArray
      var s = 0L
      val kept = Ivf.probeCells(centroids, pv, centroids.size)
        .takeWhile { cid => val ok = s < budget; s += counts.getOrElse(cid, 0L); ok }
      assert(kept.nonEmpty, "nearest cell must always be probed")
      val one = probes.filter(col("pid") === pid)
      val expect = asMap(Ivf.topKJoin(corpus, "embedding", centroids, one,
        "pid", "p", k = 10, nprobe = kept.size, tieBreak = Seq("vec_id")))
      assert(got(pid) === expect(pid), s"probe $pid: prefix of ${kept.size} cells")
    }

    // budget ≥ corpus: probes every cell ⇒ exactly brute force
    val full = asMap(Ivf.topKJoinBudget(corpus, "embedding", centroids, counts,
      probes, "pid", "p", k = 10, maxScanRows = total, tieBreak = Seq("vec_id")))
    val bf = asMap(Similarity.bruteForceTopKJoin(corpus, "embedding", probes,
      "pid", "p", k = 10, tieBreak = Seq("vec_id")))
    assert(full === bf)

    // budget = 1: the nearest cell alone, even though it exceeds the budget
    val tight = asMap(Ivf.topKJoinBudget(corpus, "embedding", centroids, counts,
      probes, "pid", "p", k = 10, maxScanRows = 1L, tieBreak = Seq("vec_id")))
    val np1 = asMap(Ivf.topKJoin(corpus, "embedding", centroids, probes,
      "pid", "p", k = 10, nprobe = 1, tieBreak = Seq("vec_id")))
    assert(tight === np1)
  }
}
