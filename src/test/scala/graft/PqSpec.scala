package graft

import org.apache.spark.sql.functions._
import graft.ext.{Eval, Ivf, Pq, Similarity}

/** Product-quantization tier: codebook determinism, ADC identity,
  * compression monotonicity, IVF+PQ end-to-end recall and the
  * exactness of the re-ranked scores. */
class PqSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  test("train is deterministic; codes within [0, ksub); shapes line up") {
    val b1 = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val b2 = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    assert(b1.m === 8 && b1.dsub === 8 && b1.ksub === 16)
    b1.centroids.zip(b2.centroids).foreach { case (x, y) =>
      x.zip(y).foreach { case (cx, cy) => assert(cx.toSeq === cy.toSeq) }
    }
    val codes = emb.select(Pq.encode(col("embedding"), b1).as("c"))
      .collect().map(_.getSeq[Byte](0))
    assert(codes.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 16)))
  }

  test("train maxTrainRows: cap ≥ corpus ≡ unsampled; sampled codebooks " +
      "≡ per-subspace sampled Ivf.train (pass-through)") {
    val full = Pq.train(emb, "vec_id", "embedding", m = 4, ksub = 8)
    val uncapped = Pq.train(emb, "vec_id", "embedding", m = 4, ksub = 8,
      maxTrainRows = Some(Long.MaxValue))
    full.centroids.zip(uncapped.centroids).foreach { case (x, y) =>
      x.zip(y).foreach { case (cx, cy) => assert(cx.toSeq === cy.toSeq) }
    }
    val m = emb.count() / 3
    val sampled = Pq.train(emb, "vec_id", "embedding", m = 4, ksub = 8,
      maxTrainRows = Some(m))
    val bySub = (0 until 4).map { s =>
      Ivf.train(emb.select(col("vec_id"),
          slice(col("embedding"), s * 16 + 1, 16).cast("array<float>").as("_sub")),
        "vec_id", "_sub", k = 8, iters = 2, maxTrainRows = Some(m))
        .sortBy(_._1).map(_._2)
    }
    sampled.centroids.zip(bySub).foreach { case (x, y) =>
      x.zip(y).foreach { case (cx, cy) => assert(cx.toSeq === cy.toSeq) }
    }
  }

  test("codebooks round-trip through parquet: exact centroids, identical codes") {
    val books = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    withTempDir("pq-books") { tmp =>
      val dir = tmp.toString
      Pq.saveCodebooks(spark, books, dir)
      val loaded = Pq.loadCodebooks(spark, dir)
      assert(loaded.m === books.m && loaded.dsub === books.dsub &&
        loaded.ksub === books.ksub)
      loaded.centroids.zip(books.centroids).foreach { case (x, y) =>
        x.zip(y).foreach { case (cx, cy) => assert(cx.toSeq === cy.toSeq) }
      }
      // a coder rebuilt from the loaded books encodes identically
      val a = emb.select(Pq.encode(col("embedding"), books).as("c"))
        .collect().map(_.getSeq[Byte](0).toSeq)
      val b = emb.select(Pq.encode(col("embedding"), loaded).as("c"))
        .collect().map(_.getSeq[Byte](0).toSeq)
      assert(a.toSeq === b.toSeq)
    }
  }

  test("ADC score ≡ dot(probe, decode(codes)); column form ≡ literal form") {
    val books = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val probe = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray.map(_.toDouble)
    val rows = emb.limit(50)
      .select(col("vec_id"),
        Pq.adcScore(Pq.encode(col("embedding"), books), books, probe).as("adc"),
        Similarity.dot(
          Pq.decode(Pq.encode(col("embedding"), books), books),
          lit(probe)).as("viaDecode"),
        Pq.adcScoreCol(Pq.encode(col("embedding"), books), books,
          lit(probe.map(_.toFloat))).as("adcCol"))
      .collect()
    rows.foreach { r =>
      assertNear(r.getDouble(1), r.getDouble(2), 1e-9)
      assertNear(r.getDouble(1), r.getDouble(3), 1e-9)
    }
  }

  test("reconstruction error shrinks as ksub grows") {
    def mse(ksub: Int): Double = {
      val books = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = ksub)
      emb.select(
        aggregate(
          zip_with(col("embedding").cast("array<double>"),
            Pq.decode(Pq.encode(col("embedding"), books), books),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v).as("d2"))
        .agg(avg(col("d2"))).head().getDouble(0)
    }
    val (coarse, fine) = (mse(4), mse(16))
    assert(fine < coarse, s"ksub=16 mse $fine !< ksub=4 mse $coarse")
  }

  test("topKJoinPQ without re-rank: at most k rows per probe, each score the " +
      "ADC score of its (probe, id), ties toward the lower id") {
    // ksub = 4 over m = 2 subspaces leaves 16 distinct codes, so many
    // rows of a cell share a code and tie on score
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    val books = Pq.train(emb, "vec_id", "embedding", m = 2, ksub = 4)
    val corpus = emb.filter(col("vec_id") >= 10)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    withTempDir("ivfpq-coded") { tmp =>
      val path = tmp.resolve("idx").toString
      Ivf.saveIndexPQ(corpus, "vec_id", "embedding", centroids, books, path)
      val indexed = spark.read.parquet(path)
      val (k, nprobe) = (5, 2)
      val got = Ivf.topKJoinPQ(indexed, "vec_id", centroids, books, probes,
        "probe_id", "p_emb", k = k, nprobe = nprobe)
      assert(got.columns.toSeq === Seq("probe_id", "vec_id", "score"))
      val byProbe = got.collect().groupBy(_.getLong(0))
        .map { case (p, rs) => p -> rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq }
      val probeVecs = probes.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
      assert(byProbe.keySet === probeVecs.keySet)
      var boundaryTies = 0
      probeVecs.foreach { case (p, vec) =>
        // candidates: every row of the probed cells, ADC-scored driver-side
        val cands = indexed.filter(col("ivf_cell").isin(Ivf.probeCells(centroids, vec, nprobe): _*))
          .select(col("vec_id"), Pq.adcScore(col("codes"), books, vec))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val adc = cands.toMap
        val rows = byProbe(p)
        assert(rows.size <= k && rows.map(_._1).distinct.size === rows.size, s"probe $p: $rows")
        rows.foreach { case (id, s) => assertNear(s, adc(id), 1e-9) }
        val expected = cands.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
        assert(rows.sortBy { case (id, s) => (-s, id) }.map(_._1) === expected, s"probe $p")
        val edge = adc(expected.last)
        if (cands.count(_._2 == edge) > expected.count(adc(_) == edge)) boundaryTies += 1
      }
      // the lower-id rule decided at least one cut, so it was exercised
      assert(boundaryTies > 0, "no tie straddles any probe's top-k boundary")
    }
  }

  test("IVF+PQ with exact re-rank: useful recall, exact final scores, deepest compression") {
    val centroids = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val books = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val corpus = emb.filter(col("vec_id") >= 10)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))

    withTempDir("ivfpq") { base =>
      val pqPath = base.resolve("pq").toString
      val qPath = base.resolve("int8").toString
      Ivf.saveIndexPQ(corpus, "vec_id", "embedding", centroids, books, pqPath)
      Ivf.saveIndexQ(corpus, "vec_id", "embedding", centroids, qPath)
      assert(dirBytes(pqPath) < dirBytes(qPath),
        s"PQ index ${dirBytes(pqPath)} B !< int8 index ${dirBytes(qPath)} B")

      val indexedPQ = spark.read.parquet(pqPath)
      val got = Ivf.topKJoinPQ(indexedPQ, "vec_id", centroids, books, probes,
        "probe_id", "p_emb", k = 5, nprobe = 3,
        rerank = Some((corpus, "embedding")), rerankFactor = 8)

      // re-ranked scores are the exact float dots
      val exact = Ivf.topKJoin(Ivf.withCell(corpus, "embedding", centroids),
        "embedding", centroids, probes, "probe_id", "p_emb",
        k = 1000000, nprobe = 3, tieBreak = Seq("vec_id"))
        .select("probe_id", "vec_id", "score").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      got.collect().foreach { r =>
        assertNear(r.getDouble(2), exact((r.getLong(0), r.getLong(1))))
      }

      // recall vs brute-force truth: PQ (coded candidates) must land a
      // useful fraction of the true top-5, and the float-IVF recall at
      // the same nprobe is its natural ceiling
      val truth = Similarity.bruteForceTopKJoin(corpus, "embedding", probes,
        "probe_id", "p_emb", k = 5, tieBreak = Seq("vec_id"))
      val floatTop = Ivf.topKJoin(Ivf.withCell(corpus, "embedding", centroids),
        "embedding", centroids, probes, "probe_id", "p_emb",
        k = 5, nprobe = 3, tieBreak = Seq("vec_id"))
      val rPq = Eval.meanRecallAtK(got, truth, "probe_id", "vec_id", 5)
      val rFloat = Eval.meanRecallAtK(floatTop, truth, "probe_id", "vec_id", 5)
      assert(rPq <= rFloat + 1e-9, s"PQ recall $rPq above its float ceiling $rFloat?")
      assert(rPq >= 0.2, s"PQ recall@5 $rPq too low to be useful")
    }
  }
}
