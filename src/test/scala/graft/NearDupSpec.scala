package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, DocPipeline, Similarity}

/** Round-3 near-dup surface: corpus-wide embedding self-dedup, batch ANN
  * joins, transitive clustering, incremental dedup against a persisted
  * signature store, and top-k tie-break determinism. Cross-engine
  * behavior of the embedding blocking + cosine verify is separately
  * proven by the DuckDB oracle (q_neardup_lsh, q_ann_join). */
class NearDupSpec extends SparkTestBase {

  import spark.implicits._

  /** Deterministic pseudo-random 16-dim corpus with planted near-dups:
    * ids 1..n are base vectors; id 1000+i is a tiny perturbation of
    * vector i for each planted i (cosine ≈ 1 with its original). */
  private def plantedCorpus(n: Int, planted: Seq[Int]): DataFrame = {
    def base(i: Int) = Array.tabulate(16)(j => ((i * 131 + j * 47) % 23 - 11) / 3.0f)
    val rows = (1 to n).map(i => (i.toLong, base(i))) ++
      planted.map(i => (1000L + i, base(i).zipWithIndex.map { case (v, j) =>
        v + (if (j == 0) 0.001f else 0.0f)
      }))
    rows.toDF("vec_id", "embedding")
  }

  test("lshBucket plane offset: codegen ≡ HOF, independent families differ") {
    val df = (0 until 40).map { r =>
      (r.toLong, Array.tabulate(16)(i => ((r * 37 + i * 113) % 23 - 11) / 7.0f))
    }.toDF("id", "v")
    val rows = df.select(
      Similarity.lshBucket(col("v"), dim = 16, bits = 4, planeOffset = 4).as("cg"),
      Similarity.lshBucketHof(col("v"), dim = 16, bits = 4, planeOffset = 4).as("hof"),
      Similarity.lshBucket(col("v"), dim = 16, bits = 4).as("b0")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // different plane families must not be the same hash function
    assert(rows.exists(r => r.getLong(0) !== r.getLong(2)))
    // ADVICE r16: over-length input — the kernel reads exactly the
    // first dim components; the HOF path must too (zip_with used to
    // pad the PLANE side with nulls and poison the aggregate to null)
    val over = df.select(col("id"),
      concat(col("v"), array(lit(99.0f), lit(-99.0f))).as("v"))
    val orows = over.select(
      Similarity.lshBucket(col("v"), dim = 16, bits = 4).as("cg"),
      Similarity.lshBucketHof(col("v"), dim = 16, bits = 4).as("hof")).collect()
    orows.foreach { r =>
      assert(!r.isNullAt(1), "HOF path nulled on over-length input")
      assert(r.getLong(0) === r.getLong(1))
    }
  }

  test("embeddingCandidatePairs = exactly the distinct within-bucket pairs") {
    val corpus = plantedCorpus(60, Seq(7))
    val got = Dedup.embeddingCandidatePairs(corpus, "vec_id", "embedding",
      dim = 16, bits = 4, bands = 2)
      .select("vec_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // truth: bucket every vector per band with the HOF spec, all pairs
    val buckets = corpus.select(col("vec_id"),
      Similarity.lshBucketHof(col("embedding"), 16, 4, 0).as("b0"),
      Similarity.lshBucketHof(col("embedding"), 16, 4, 4).as("b1")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = (for {
      (i, b0i, b1i) <- buckets; (j, b0j, b1j) <- buckets
      if i < j && (b0i == b0j || b1i == b1j)
    } yield (j, i)).toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("embeddingNearDups: planted pairs recovered, nothing spurious") {
    val planted = Seq(3, 11, 27, 42)
    val corpus = plantedCorpus(80, planted)
    val tau = 0.999
    // truth by brute force over all pairs
    val a = corpus.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val truth = a.crossJoin(corpus.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= tau)
      .select(col("ib"), col("ia")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= planted.size, s"fixture must plant high-cos pairs, got $truth")
    val got = Dedup.embeddingNearDups(corpus, "vec_id", "embedding",
      dim = 16, bits = 6, tau = tau, bands = 4)
      .select("vec_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1 by construction (cosine-verified); recall: every truth
    // pair whose vectors agree on one band's planes is found — at 4
    // bands a near-identical pair misses only if a hyperplane separates
    // it in EVERY band; assert the planted pairs are all recovered
    assert(got.subsetOf(truth), s"spurious pairs: ${got -- truth}")
    planted.foreach { i =>
      assert(got.contains((1000L + i, i.toLong)), s"planted pair $i missed (got $got)")
    }
  }

  test("dedupByEmbedding: one survivor per planted pair; transitive collapses chains") {
    import spark.implicits._
    // base(i) cycles mod 23 (i*131 % 23), so ids 24.. are EXACT dups of
    // id-23 — the canonical survivor set is exactly {1..23}, with every
    // planted perturbation (1000+i) and every cycle dup dropped
    val planted = Seq(3, 11, 27)
    val corpus = plantedCorpus(60, planted)
    val kept = Dedup.dedupByEmbedding(corpus, "vec_id", "embedding",
      dim = 16, bits = 6, tau = 0.999, bands = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === (1L to 23L).toSet)
    // 3-chain a~b~c where only consecutive vectors are near: transitive
    // mode must keep exactly the smallest id
    def vec(eps: Float) = Array.tabulate(16)(j => ((j * 47) % 23 - 11) / 3.0f + (if (j == 0) eps else 0f))
    val chain = Seq((1L, vec(0f)), (2L, vec(0.001f)), (3L, vec(0.002f)))
      .toDF("vec_id", "embedding")
    val keptChain = Dedup.dedupByEmbedding(chain, "vec_id", "embedding",
      dim = 16, bits = 4, tau = 0.999, bands = 4, transitive = true)
      .select("vec_id").as[Long].collect().toSet
    assert(keptChain === Set(1L))
  }

  test("transitiveClusters: chains collapse, separate components stay apart") {
    val edges = Seq(
      (2L, 1L), (3L, 2L), (4L, 3L), // chain 1-2-3-4 (no direct 1-4 edge)
      (10L, 11L),                   // pair, reversed direction
      (20L, 20L)                    // self-loop degenerate
    ).toDF("src", "dst")
    val comp = Dedup.transitiveClusters(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) === 1L && comp(2L) === 1L && comp(3L) === 1L && comp(4L) === 1L)
    assert(comp(10L) === 10L && comp(11L) === 10L)
    assert(comp(20L) === 20L)
  }

  test("DocPipeline transitive mode collapses near-dup chains") {
    // A(1) → B(2) differs in the LAST word (1 trigram → J = 37/39 ≈
    // .949) → C(3) differs from B in the SECOND word (2 trigrams → J =
    // 36/40 = .9); J(A,C) spans both edits (3 trigrams → 35/41 ≈ .854).
    // At tau = 0.88: A~B and B~C are dups, A~C is not. Neither edited
    // word is a minhash argmin, so A, B, C share every band bucket with
    // min A — STAR-ONLY blocking (pathEdges = false, the pre-r15
    // default) verifies only (B,A) and (C,A), so C slips through; the
    // path edge (C,B) catches the chain, which is exactly why path
    // edges are the r15 default even without transitive mode.
    val words = Array.tabulate(40)(i => s"w${i}x")
    val aTxt = words.mkString(" ")
    val bTxt = (words.dropRight(1) :+ "endB").mkString(" ")
    val cTxt = (words.take(1) ++ Array("midC") ++ words.drop(2).dropRight(1) :+ "endB")
      .mkString(" ")
    val docs = Seq(
      (1L, aTxt), (2L, bTxt), (3L, cTxt),
      (9L, Array.tabulate(40)(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")

    val starOnly = DocPipeline.prepare(docs, minWords = 10, tau = 0.88,
      pathEdges = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val default = DocPipeline.prepare(docs, minWords = 10, tau = 0.88)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val trans = DocPipeline.prepare(docs, minWords = 10, tau = 0.88, transitive = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // sanity on the fixture: star-only mode drops B (dup of bucket-min
    // A) but keeps C (only Jaccard-similar to the already-dropped B) —
    // the in-batch recall leak the ops rehearsal measured
    assert(starOnly === Set(1L, 3L, 9L), s"fixture drifted: starOnly=$starOnly")
    // the r15 default (path edges, no transitive collapse) verifies the
    // (C,B) path edge and drops C too
    assert(default === Set(1L, 9L), s"default=$default")
    // transitive mode follows the A-B-C chain and keeps one survivor
    assert(trans === Set(1L, 9L), s"trans=$trans")
  }

  test("top-k guards: multi-row probe rejected; map-typed corpus columns skip the tie-break; negatives carry no vector") {
    import graft.ext.Similarity
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.5f, 0.5f)))
      .toDF("id", "embedding")
      .withColumn("meta", map(lit("k"), lit("v")))
    val oneProbe = Seq(Tuple1(Seq(1.0f, 0.0f))).toDF("p")
    // a map column in the corpus must not break the default tie-break
    val top = Similarity.bruteForceTopK(corpus, "embedding", oneProbe, "p", 2)
    assert(top.count() === 2L)
    // a multi-row probe would silently pool a global top-k — reject it
    val twoProbes = Seq(Tuple1(Seq(1.0f, 0.0f)), Tuple1(Seq(0.0f, 1.0f))).toDF("p")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(corpus, "embedding", twoProbes, "p", 2)
    }
    assert(e.getMessage.contains("one row"))
    // mined negatives honor the documented contract: no vector column
    val queries = Seq((100L, Seq(1.0f, 0.0f))).toDF("qid", "qvec")
    val pos = Seq((100L, 1L)).toDF("qid", "id")
    val negs = Similarity.mineHardNegatives(
      corpus.drop("meta"), "id", "embedding", queries, "qid", "qvec", pos, k = 2)
    assert(!negs.columns.contains("embedding"), negs.columns.mkString(","))
    assert(negs.count() === 2L)
  }

  test("mineHardNegatives: positives removed, ranks reassigned, no holes") {
    val corpus = Seq(
      (10L, Seq(1.0f, 0f)), (11L, Seq(0.9f, 0f)), (12L, Seq(0.8f, 0f)),
      (13L, Seq(0.7f, 0f)), (14L, Seq(-1.0f, 0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 0f))).toDF("qid", "q_emb")
    // the TOP candidate (10) is a known positive → 11,12,13 become the
    // negatives with ranks 1..3, not 2..4
    val positives = Seq((1L, 10L)).toDF("qid", "vec_id")
    val out = graft.ext.Similarity.mineHardNegatives(
        corpus, "vec_id", "embedding", queries, "qid", "q_emb",
        positives, k = 3, overFetch = 2)
      .select("qid", "vec_id", "neg_rank")
      .as[(Long, Long, Int)].collect().sortBy(_._3).toSeq
    assert(out === Seq((1L, 11L, 1), (1L, 12L, 2), (1L, 13L, 3)))
  }

  test("DocPipeline blockPhrases gate: banned docs drop in the same map stage") {
    // doc 2's base text must be DISTINCT from doc 1's: filler + 4 words
    // is a genuine near-dup (shingle jaccard ≈ 0.86 ≥ τ) that the
    // gate-off control run correctly removes. (The original shared-
    // filler fixture only survived under the pre-fix correlated rehash
    // family, where the small hash of "now" hijacked doc 2's whole
    // signature and banding missed the pair.)
    val filler = Array.tabulate(40)(i => s"w${i}x").mkString(" ")
    val docs = Seq(
      (1L, filler),
      (2L, Array.tabulate(40)(i => s"z${i}k").mkString(" ") +
        " click here to subscribe now"),
      (3L, Array.tabulate(40)(i => s"q${i}y").mkString(" "))).toDF("doc_id", "text")
    val kept = DocPipeline.prepare(docs, minWords = 10,
        blockPhrases = Seq("click here to subscribe"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
    // empty dictionary = gate off, pipeline unchanged
    val all = DocPipeline.prepare(docs, minWords = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(all === Set(1L, 2L, 3L))
  }

  test("batch brute-force top-k join ≡ per-probe top-k; one plan serves 100 probes") {
    val corpus = (1 to 200).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val probes = (0 until 100).map(p =>
      (p.toLong, Array.tabulate(8)(j => ((p * 13 + j * 5) % 9 - 4).toFloat)))
      .toDF("probe_id", "p_emb")

    val joined = Similarity.bruteForceTopKJoin(
      corpus, "embedding", probes, "probe_id", "p_emb", k = 3)
    val byProbe = joined.select("probe_id", "vec_id", "score").collect()
      .groupBy(_.getLong(0))
    assert(byProbe.size === 100)
    byProbe.values.foreach(rows => assert(rows.length === 3))

    // exact parity with the single-probe API on sampled probes
    Seq(0L, 17L, 42L, 99L).foreach { p =>
      val single = Similarity.bruteForceTopK(
        corpus, "embedding", probes.filter(col("probe_id") === p).select("p_emb"),
        "p_emb", k = 3)
        .select("vec_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = byProbe(p).sortBy(r => (-r.getDouble(2), r.getLong(1)))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(batch === single, s"probe $p: batch=$batch single=$single")
    }
  }

  test("batch LSH top-k join ≡ per-probe lshTopK; multiProbe only adds rows") {
    val corpus = (1 to 300).map(i =>
      (i.toLong, Array.tabulate(16)(j => ((i * 13 + j * 7) % 17 - 8).toFloat)))
      .toDF("vec_id", "embedding")
    val probes = (0 until 20).map(p =>
      (p.toLong, Array.tabulate(16)(j => ((p * 11 + j * 5) % 13 - 6).toFloat)))
      .toDF("probe_id", "p_emb")

    val joined = Similarity.lshTopKJoin(
      corpus, "embedding", probes, "probe_id", "p_emb", dim = 16, k = 5)
    val byProbe = joined.select("probe_id", "vec_id", "score").collect()
      .groupBy(_.getLong(0)).view.mapValues(
        _.sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    Seq(1L, 7L, 13L).foreach { p =>
      val single = Similarity.lshTopK(
        corpus, "embedding", probes.filter(col("probe_id") === p).select("p_emb"),
        "p_emb", dim = 16, k = 5)
        .select("vec_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(byProbe.getOrElse(p, Nil) === single, s"probe $p")
    }
    val multi = Similarity.lshTopKJoin(
      corpus, "embedding", probes, "probe_id", "p_emb", dim = 16, k = 5,
      multiProbe = true)
    assert(multi.count() >= joined.count())
  }

  test("top-k APIs are deterministic under shuffled input (score ties)") {
    // every vector duplicated under two ids → every score is tied
    val base = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i % 10) * 5 + j).toFloat)))
    val corpus = (base ++ base.map { case (i, v) => (i + 1000L, v) })
      .toDF("vec_id", "embedding")
    val probe = Seq(Tuple1(Array.tabulate(8)(j => (j + 1).toFloat))).toDF("p_emb")
    def ids(df: DataFrame) = df.select("vec_id").collect().map(_.getLong(0)).toSeq
    val r1 = ids(Similarity.bruteForceTopK(corpus, "embedding", probe, "p_emb", k = 7))
    val r2 = ids(Similarity.bruteForceTopK(
      corpus.repartition(7, col("embedding")).sortWithinPartitions(col("vec_id").desc),
      "embedding", probe, "p_emb", k = 7))
    assert(r1 === r2, "tie-broken top-k must not depend on partition layout")
    val l1 = ids(Similarity.lshTopK(corpus, "embedding", probe, "p_emb", dim = 8, k = 7))
    val l2 = ids(Similarity.lshTopK(corpus.repartition(5, col("embedding")),
      "embedding", probe, "p_emb", dim = 8, k = 7))
    assert(l1 === l2)
  }

  test("prepareIncremental drops exact + near dups of the persisted store") {
    val long = (w: String) => Array.tabulate(40)(i => s"$w$i").mkString(" ")
    val batch1 = Seq((1L, long("aaa")), (2L, long("bbb"))).toDF("doc_id", "text")
    val store = DocPipeline.signatures(DocPipeline.prepare(batch1, minWords = 10))

    val nearOfA = (long("aaa").split(" ").dropRight(1) :+ "changed").mkString(" ")
    val batch2 = Seq(
      (10L, long("aaa")),  // exact dup of stored 1 → dropped via fp anti-join
      (11L, nearOfA),      // near dup of stored 1 → dropped via band+Jaccard
      (12L, long("qqq")),  // fresh → survives
      (13L, long("qqq")),  // in-batch exact dup of 12 → dropped by prepare
      (14L, "too short")   // gated
    ).toDF("doc_id", "text")

    val out = DocPipeline.prepareIncremental(batch2, store, minWords = 10)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(12L), s"got $ids")
    // absorbing the accepted rows grows the store by exactly those rows
    val updated = store.unionByName(DocPipeline.signatures(out))
    assert(updated.count() === store.count() + 1)
    // and a replay of the same batch now drops everything
    val replay = DocPipeline.prepareIncremental(batch2, updated, minWords = 10)
    assert(replay.isEmpty)
  }

  test("maxStoreBandDf: hub band keys leave store candidate generation; " +
      "true near-dups still drop via their discriminative bands; " +
      "clean-corpus results identical with the guard on") {
    val long = (w: String) => Array.tabulate(40)(i => s"$w$i").mkString(" ")
    // store: 6 docs sharing heavy boilerplate (their band keys collapse
    // into hub keys held by all 6) plus one distinctive doc
    val bp = Array.tabulate(30)(i => s"cookie$i").mkString(" ")
    val stored = (1L to 6L).map(i => (i, s"$bp ${long(s"s$i")}")) :+
      (7L, long("target"))
    val store = DocPipeline.signatures(
      DocPipeline.prepare(stored.toDF("doc_id", "text"), minWords = 10))
    // every hub key is held by ≥ 2 stored docs; doc 7's keys by exactly 1
    val batch = Seq(
      (20L, long("target")),                       // exact dup of 7
      (21L, (long("target").split(" ").dropRight(1) :+ "changed")
        .mkString(" ")),                           // near dup of 7
      (22L, s"$bp ${long("fresh")}")               // boilerplate + new body
    ).toDF("doc_id", "text")
    // guard at 1: any key held by >1 stored doc (all the boilerplate
    // hubs) leaves candidate generation; doc 7's single-holder keys stay
    val out = DocPipeline.prepareIncremental(batch, store, minWords = 10,
      maxStoreBandDf = 1L)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // 20 drops at the fp stage (guard-independent), 21 drops via 7's
    // non-hub band keys, 22 survives (its only shared keys are hubs and
    // it is NOT a true near-dup of any stored doc)
    assert(ids === Set(22L), s"got $ids")
    // clean corpus (no hub keys): guard on ≡ guard off, row for row
    val cleanStore = DocPipeline.signatures(
      DocPipeline.prepare(
        Seq((1L, long("aaa")), (2L, long("bbb"))).toDF("doc_id", "text"),
        minWords = 10))
    val cleanBatch = Seq(
      (10L, long("aaa")),
      (11L, (long("bbb").split(" ").dropRight(1) :+ "x").mkString(" ")),
      (12L, long("qqq"))).toDF("doc_id", "text")
    val off = DocPipeline.prepareIncremental(cleanBatch, cleanStore, minWords = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val on = DocPipeline.prepareIncremental(cleanBatch, cleanStore, minWords = 10,
      maxStoreBandDf = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(off === on && off === Set(12L), s"off=$off on=$on")
  }

  test("signature store round-trips through parquet (no text retained)") {
    val long = (w: String) => Array.tabulate(40)(i => s"$w$i").mkString(" ")
    val docs = Seq((1L, long("aaa")), (2L, long("bbb"))).toDF("doc_id", "text")
    val sigs = DocPipeline.signatures(docs)
    assert(sigs.columns.toSet === Set("doc_id", "fp", "band_keys", "shingles"))
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    sigs.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    val out = DocPipeline.prepareIncremental(
      Seq((10L, long("aaa")), (11L, long("zzz"))).toDF("doc_id", "text"),
      loaded, minWords = 10)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === Set(11L))
  }

  test("jaccardKmv panel at the tau boundary: estimate error bounded, " +
      "decisions flip only near tau, exact degeneration below m") {
    import graft.ext.TextHash
    val m = 64
    val tau = 0.8
    // 51 pairs with controlled overlap: pair i shares o = 150+i of 200
    // tokens, sweeping exact trigram-Jaccard through ≈[0.6, 1.0] — the
    // decision boundary sits mid-sweep. Token names are pair-specific
    // (no cross-pair collisions); everything is deterministic.
    // token names are SCRAMBLED (multiplicative hash of the index), not
    // sequential: consecutive names ("t1" "t2" …) roll to clustered
    // poly-hashes, which biases any bottom-m sample — the estimator
    // assumes the hash ORDER is uniform over the set, true for natural
    // vocabularies and deliberately violated by sequential synthetic
    // names (a fixture property, not an operator bug)
    def tok(p: String, i: Int, j: Int) =
      s"$p${(j * 2654435761L + i * 7919L) % 1000003L}"
    val pairs = (0 until 51).map { i =>
      val o = 150 + i
      val shared = (1 to o).map(j => tok("s", i, j))
      val a = (shared ++ (1 to (200 - o)).map(j => tok("a", i, j))).mkString(" ")
      val b = (shared ++ (1 to (200 - o)).map(j => tok("b", i, j))).mkString(" ")
      (i.toLong, a, b)
    }.toDF("pid", "ta", "tb")
    val sh = (c: org.apache.spark.sql.Column) =>
      array_distinct(TextHash.shingleHashes(TextHash.wordHashes(c)))
    val scored = pairs
      .withColumn("_sa", sh(col("ta")))
      .withColumn("_sb", sh(col("tb")))
      .select(col("pid"),
        TextHash.jaccard(col("_sa"), col("_sb")).as("exact"),
        TextHash.jaccardKmv(
          TextHash.bottomSketch(col("_sa"), m),
          TextHash.bottomSketch(col("_sb"), m), m).as("est"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // the sweep genuinely spans the boundary
    assert(scored.exists(_._2 < tau - 0.1) && scored.exists(_._2 > tau + 0.1))
    val errs = scored.map { case (_, ex, es) => math.abs(es - ex) }
    // KMV std error at J≈0.8, m=64 is √(J(1−J)/m) ≈ 0.05: bound the
    // panel at 3σ worst-case and well under 1σ on average
    assert(errs.max <= 0.15, s"max |est-exact| = ${errs.max}")
    assert(errs.sum / errs.length <= 0.04,
      s"mean |est-exact| = ${errs.sum / errs.length}")
    // every decision flip (false drop or miss at tau) sits NEAR the
    // boundary — far-from-tau pairs never flip
    scored.foreach { case (pid, ex, es) =>
      if ((ex >= tau) != (es >= tau))
        assert(math.abs(ex - tau) <= 0.12,
          s"pair $pid flipped far from tau: exact=$ex est=$es")
    }
    // short docs (≤ m shingles): the sketch IS the set, estimate exact
    val shortPairs = Seq(
      (0L, (1 to 30).map(j => s"p$j").mkString(" "),
        ((1 to 25).map(j => s"p$j") ++ (1 to 5).map(j => s"q$j")).mkString(" ")))
      .toDF("pid", "ta", "tb")
      .withColumn("_sa", sh(col("ta")))
      .withColumn("_sb", sh(col("tb")))
      .select(
        TextHash.jaccard(col("_sa"), col("_sb")).as("exact"),
        TextHash.jaccardKmv(
          TextHash.bottomSketch(col("_sa"), m),
          TextHash.bottomSketch(col("_sb"), m), m).as("est"))
      .collect().head
    assert(shortPairs.getDouble(0) === shortPairs.getDouble(1),
      "estimate must degenerate to the exact Jaccard below m")
  }

  test("sketched signature store (maxShingles): rejection parity with the " +
      "exact store away from the boundary; store rows carry at most m hashes") {
    val long = (w: String) => Array.tabulate(120)(i => s"$w$i").mkString(" ")
    val m = 32
    val batch1 = Seq((1L, long("aaa")), (2L, long("bbb"))).toDF("doc_id", "text")
    val accepted1 = DocPipeline.prepare(batch1, minWords = 10)
    val exactStore = DocPipeline.signatures(accepted1)
    val sketchStore = DocPipeline.signatures(accepted1, maxShingles = m)
    // the cap holds: 120-token docs have 118 distinct shingles, the
    // sketched store persists exactly m of them (ascending bottom-m)
    val rows = sketchStore.select(size(col("shingles"))).collect().map(_.getInt(0))
    assert(rows.forall(_ === m), s"sketch sizes: ${rows.toSeq}")
    assert(exactStore.select(size(col("shingles"))).collect()
      .map(_.getInt(0)).forall(_ > m))
    val batch2 = Seq(
      (10L, long("aaa")),  // exact dup → fp anti-join (cap-independent)
      (11L, (long("aaa").split(" ").dropRight(1) :+ "x").mkString(" ")), // J≈0.98
      (12L, long("qqq"))   // unrelated (J≈0)
    ).toDF("doc_id", "text")
    val viaExact = DocPipeline.prepareIncremental(batch2, exactStore, minWords = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaSketch = DocPipeline.prepareIncremental(batch2, sketchStore,
      minWords = 10, maxShingles = m)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaExact === Set(12L) && viaSketch === Set(12L),
      s"exact=$viaExact sketch=$viaSketch")
    // the cap is one discipline end to end: the IN-BATCH stage-5b
    // verify sketches too — far from the boundary it drops exactly
    // what exact verification drops (here: in-batch near pair 20~21)
    val inBatch = Seq(
      (20L, long("mmm")),
      (21L, (long("mmm").split(" ").dropRight(1) :+ "x").mkString(" ")),
      (22L, long("nnn"))).toDF("doc_id", "text")
    val ibExact = DocPipeline.prepare(inBatch, minWords = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ibCapped = DocPipeline.prepare(inBatch, minWords = 10, maxShingles = m)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ibExact === Set(20L, 22L) && ibCapped === Set(20L, 22L),
      s"in-batch: exact=$ibExact capped=$ibCapped")
  }

  // ── variable-span dedup (ExactSubstr semantics, Lee et al. 2022) ────
  // Shared fixture: a 25-token span planted in two docs at offsets 7 and
  // 12 — different residues mod 3, so NO 3-token chunk of the span is
  // aligned the same way in both docs and chunkDedup(3) cannot see the
  // duplication, while shingle-run growth recovers the full span.
  private val span25 = (1 to 25).map(i => s"sp$i").mkString(" ")
  private def straddleDocs = Seq(
    (1L, (1 to 7).map(i => s"fa$i").mkString(" ") + " " + span25 + " fa8 fa9"),
    (2L, (1 to 12).map(i => s"fb$i").mkString(" ") + " " + span25 + " fb13 fb14"),
    (9L, (1 to 30).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")

  test("duplicatedSpans catches a chunk-boundary-straddling span chunkDedup misses") {
    val chunked = Dedup.chunkDedup(straddleDocs, "doc_id", "text", 3)
      .select("doc_id", "n_dropped").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fixture sanity: fixed 3-token chunking sees NO duplication at all
    assert(chunked.values.forall(_ === 0L), s"chunkDedup must miss it: $chunked")
    val spans = Dedup.duplicatedSpans(straddleDocs, "doc_id", "text",
      n = 5, minDocs = 2, minTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 1: span tokens 7..31; doc 2: tokens 12..36 — maximal extent, 25 tokens
    assert(spans === Set((1L, 7L, 31L, 25L), (2L, 12L, 36L, 25L)))
  }

  test("spanDedup: minimum doc wins per shingle and keeps its text") {
    val out = Dedup.spanDedup(straddleDocs, "doc_id", "text",
      n = 5, minDocs = 2, minTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
      .sortBy(_._1)
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 === 0L, "winner doc must lose nothing")
    assert(byId(1L)._3 === straddleDocs.filter(col("doc_id") === 1).head.getString(1))
    assert(byId(2L)._2 === 25L, "loser drops exactly the span")
    assert(byId(2L)._3 ===
      ((1 to 12).map(i => s"fb$i") ++ Seq("fb13", "fb14")).mkString(" "))
    assert(byId(9L)._2 === 0L)
  }

  test("duplicatedSpans: overlapping spans vs different partners merge into one run") {
    // X holds a 20-token region; D shares its first 12 tokens, E its last
    // 12 — the overlap makes X's repeated shingle positions contiguous,
    // so X reports ONE 20-token span though no partner shares all 20 (the
    // documented precision trade of the shingle relaxation).
    val region = (1 to 20).map(i => s"r$i")
    val docs = Seq(
      (5L, (Seq("x1", "x2") ++ region ++ Seq("x3")).mkString(" ")),
      (6L, (Seq("d1", "d2", "d3") ++ region.take(12) ++ Seq("d4", "d5")).mkString(" ")),
      (7L, (Seq("e1", "e2", "e3") ++ region.drop(8) ++ Seq("e4", "e5")).mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text",
      n = 5, minDocs = 2, minTokens = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans === Set(
      (5L, 2L, 21L, 20L),   // merged maximal run spanning BOTH partners
      (6L, 3L, 14L, 12L),   // D's copy of the first 12 tokens
      (7L, 3L, 14L, 12L)))  // E's copy of the last 12
  }

  test("duplicatedSpansExact: true straddling duplicate reported exactly like the relaxation") {
    val spans = Dedup.duplicatedSpansExact(straddleDocs, "doc_id", "text",
      n = 5, minTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans === Set((1L, 7L, 31L, 25L), (2L, 12L, 36L, 25L)))
  }

  test("duplicatedSpansExact rejects runs stitched from short overlaps with different partners") {
    // the precision case duplicatedSpans documents as its trade: X's
    // 20-token region is stitched from a 12-token overlap with D and a
    // 12-token overlap with E; at minTokens=15 the relaxation reports a
    // 20-token span in X though NO partner shares 15 consecutive tokens
    // — the exact diagonal test reports nothing.
    val region = (1 to 20).map(i => s"r$i")
    val docs = Seq(
      (8L, (Seq("x1", "x2") ++ region ++ Seq("x3")).mkString(" ")),
      (6L, (Seq("d1", "d2", "d3") ++ region.take(12) ++ Seq("d4", "d5")).mkString(" ")),
      (7L, (Seq("e1", "e2", "e3") ++ region.drop(8) ++ Seq("e4", "e5")).mkString(" "))
    ).toDF("doc_id", "text")
    val relaxed = Dedup.duplicatedSpans(docs, "doc_id", "text",
      n = 5, minDocs = 2, minTokens = 15)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(relaxed === Set((8L, 20L)), "fixture sanity: the relaxation over-reports here")
    assert(Dedup.duplicatedSpansExact(docs, "doc_id", "text",
      n = 5, minTokens = 15).count() === 0L)
    // and the removal twin: spanDedup cuts X's stitched region (its
    // shingles are won by the lower-id partners) — exact cuts nothing
    val relaxedCut = Dedup.spanDedup(docs, "doc_id", "text",
      n = 5, minDocs = 2, minTokens = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(relaxedCut(8L) === 20L, "fixture sanity: relaxation over-removes here")
    val exactCut = Dedup.spanDedupExact(docs, "doc_id", "text",
      n = 5, minTokens = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exactCut === Map(8L -> 0L, 6L -> 0L, 7L -> 0L))
  }

  test("duplicatedSpansExact: overlapping TRUE substrings union into one covered interval") {
    // X shares its first 22 region-tokens with D and its last 22 with E;
    // both pass minTokens=20 on their own, their covered positions
    // overlap, and the union is one contiguous 30-token interval.
    val region = (1 to 30).map(i => s"r$i")
    val docs = Seq(
      (5L, (Seq("x1", "x2") ++ region ++ Seq("x3")).mkString(" ")),
      (6L, (Seq("d1", "d2", "d3") ++ region.take(22) ++ Seq("d4", "d5")).mkString(" ")),
      (7L, (Seq("e1") ++ region.drop(8) ++ Seq("e2")).mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpansExact(docs, "doc_id", "text",
      n = 5, minTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans === Set(
      (5L, 2L, 31L, 30L),   // merged union of [2,23] (vs D) and [10,31] (vs E)
      (6L, 3L, 24L, 22L),
      (7L, 1L, 22L, 22L)))
  }

  test("spanDedupExact: minimum holder keeps text; loser drops exactly the true extent") {
    val out = Dedup.spanDedupExact(straddleDocs, "doc_id", "text",
      n = 5, minTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 === 0L)
    assert(byId(1L)._3 === straddleDocs.filter(col("doc_id") === 1).head.getString(1))
    assert(byId(2L)._2 === 25L)
    assert(byId(2L)._3 ===
      ((1 to 12).map(i => s"fb$i") ++ Seq("fb13", "fb14")).mkString(" "))
    assert(byId(9L)._2 === 0L)
  }

  test("duplicatedSpans minTokens boundary: exactly-minTokens kept, one-shorter dropped") {
    def docsOf(k: Int) = {
      val shared = (1 to k).map(i => s"s$i")
      Seq((1L, (Seq("a1", "a2", "a3") ++ shared ++ Seq("a4")).mkString(" ")),
        (2L, (Seq("b1") ++ shared ++ Seq("b2", "b3")).mkString(" "))).toDF("doc_id", "text")
    }
    val at = Dedup.duplicatedSpans(docsOf(20), "doc_id", "text",
      n = 5, minDocs = 2, minTokens = 20).count()
    val below = Dedup.duplicatedSpans(docsOf(19), "doc_id", "text",
      n = 5, minDocs = 2, minTokens = 20).count()
    assert(at === 2L && below === 0L)
  }

  test("duplicatedSpans maxDf: ubiquitous boilerplate excluded, true pair kept") {
    // a 25-token boilerplate block appears in TEN docs (site chrome);
    // a genuine 25-token duplicate appears in two. maxDf=5 keeps the
    // pair and drops the chrome; the default reports both.
    val chrome = (1 to 25).map(i => s"nav$i")
    val pair = (1 to 25).map(i => s"dup$i")
    val docs = ((1 to 10).map { d =>
      (d.toLong, (Seq(s"u${d}a", s"u${d}b") ++ chrome ++ Seq(s"u${d}c")).mkString(" "))
    } ++ Seq(
      (21L, (pair ++ Seq("x1", "x2")).mkString(" ")),
      (22L, (Seq("y1") ++ pair).mkString(" ")))).toDF("doc_id", "text")
    def spansAt(maxDf: Long) =
      Dedup.duplicatedSpans(docs, "doc_id", "text",
        n = 5, minDocs = 2, minTokens = 20, maxDf = maxDf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(spansAt(Long.MaxValue) === (1L to 10L).toSet ++ Set(21L, 22L))
    assert(spansAt(5L) === Set(21L, 22L))
    // removal side honors the same cap: chrome survives, the dup is cut
    val kept = Dedup.spanDedup(docs, "doc_id", "text",
      n = 5, minDocs = 2, minTokens = 20, maxDf = 5L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 10L).foreach(d => assert(kept(d) === 0L, s"chrome doc $d lost tokens"))
    assert(kept(21L) === 0L && kept(22L) === 25L)
  }

  test("maxSignatureDf: boilerplate-saturated minhash buckets miss true " +
      "near-dups; df-capping the banding signature restores them") {
    // the CurateScaleDemo hazard at spec scale: a 40-token footer on
    // every doc owns the minhash minima, so all docs share band
    // buckets, star candidates all point at the global-min doc, and
    // the true pair fails verification against that unrelated hub.
    // The pair (d-2, d) is SEPARATED by the unrelated d-1 in every hub
    // bucket, so the r15 path-edge default does not rescue it either —
    // path edges connect ADJACENT bucket members only; the df-cap
    // remains the real hub mitigation. All hashes deterministic
    // (xxhash64 of fixed words) — the outcome is pinned, not
    // probabilistic.
    val footer = (1 to 40).map(i => s"footer$i").mkString(" ")
    def uniq(d: Int) = (1 to 12).map(j => s"u${d}x$j").mkString(" ")
    val docs = ((0 until 30).map { d =>
      val body = if (d % 3 == 2) uniq(d - 2) + " zz" else uniq(d)
      (d.toLong, s"$body $footer")
    }).toDF("doc_id", "text")
    def survivors(maxSigDf: Long, pathEdges: Boolean = true,
                  allPairs: Int = 0) =
      graft.ext.DocPipeline.prepare(docs, minWords = 10, minhashK = 8,
        bands = 4, tau = 0.7, maxSignatureDf = maxSigDf,
        pathEdges = pathEdges, allPairsMaxBucket = allPairs)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val plants = (0 until 30).filter(_ % 3 == 2).map(_.toLong).toSet
    val starOnly = survivors(Long.MaxValue, pathEdges = false)
    val default = survivors(Long.MaxValue)
    val capped = survivors(20L) // footer df=30 > 20; unique tokens df<=2
    // capped banding catches every planted near-dup pair
    assert(plants.forall(p => !capped.contains(p)),
      s"capped run must drop all plants; kept ${plants.intersect(capped)}")
    assert(capped.size === 20)
    // the uncapped star-only run demonstrably misses some plants (the
    // hazard); if this ever starts passing, the fixture no longer
    // saturates and should be re-planted
    assert(plants.exists(starOnly.contains),
      "uncapped star-only run caught every plant — hazard fixture stale")
    // path edges only ever ADD candidate edges, so the default's missed
    // set is a subset of star-only's (here the pairs' shared body
    // tokens fragment some buckets into pair-private ones where the
    // partners sit adjacent, so path edges recover most plants — but
    // that is fixture luck, not a guarantee: the df-cap remains the
    // deterministic hub mitigation and the facade keeps it finite)
    assert(plants.intersect(default).subsetOf(plants.intersect(starOnly)),
      s"path edges must not lose drops: default misses " +
        s"${plants.intersect(default)}, star-only ${plants.intersect(starOnly)}")
    // non-plant docs are never dropped by the cap (verify untouched)
    assert((0 until 30).filter(_ % 3 != 2).map(_.toLong).toSet.subsetOf(capped))
    // the other escape hatch: ALL-PAIRS completion within small
    // buckets — the 30-doc hub bucket sits under the cap, so every
    // separated pair gets its candidate edge and every plant drops
    // even UNCAPPED (at bounded O(b²): b ≤ 40 here)
    val allPairs = survivors(Long.MaxValue, allPairs = 40)
    assert(plants.forall(p => !allPairs.contains(p)),
      s"all-pairs run must drop all plants; kept ${plants.intersect(allPairs)}")
    assert((0 until 30).filter(_ % 3 != 2).map(_.toLong).toSet.subsetOf(allPairs))
  }

  test("prepare(oph = true): large-k one-permutation banding catches the planted " +
      "near-dup and keeps unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " tail"),
      (3L, (1 to 40).map(i => s"oth$i").mkString(" "))).toDF("doc_id", "text")
    val kept = DocPipeline.prepare(docs, minWords = 10,
        minhashK = 32, bands = 16, tau = 0.8, oph = Some(true))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L), s"2 is a near-dup of 1, 3 unrelated; got $kept")
  }

  test("OPH is the banding default from k = OphDefaultMinK up; recall parity " +
      "with the classic kernel at the switch point") {
    assert(DocPipeline.OphDefaultMinK === 16)
    // planted near-dup pairs + unrelated docs at the switch-point k
    val docs = ((0 until 12).flatMap { d =>
      val base = (1 to 40).map(i => s"d${d}t$i").mkString(" ")
      if (d % 3 == 0) Seq((d * 10L, base), (d * 10L + 1L, base + " tail"))
      else Seq((d * 10L, base))
    }).toDF("doc_id", "text")
    def run(ophOpt: Option[Boolean]) = (ophOpt match {
      case Some(o) => DocPipeline.prepare(docs, minWords = 10,
        minhashK = 16, bands = 8, tau = 0.8, oph = Some(o))
      case None => DocPipeline.prepare(docs, minWords = 10,
        minhashK = 16, bands = 8, tau = 0.8)
    }).select("doc_id").collect().map(_.getLong(0)).toSet
    val classic = run(Some(false))
    val oph = run(Some(true))
    val dflt = run(None)
    // the default at k=16 IS the OPH kernel
    assert(dflt === oph)
    // both kernels catch every planted pair and keep every singleton
    val expect = (0 until 12).map(_ * 10L).toSet
    assert(classic === expect)
    assert(oph === expect)
    // and below the threshold the default stays classic (bit-stable
    // with earlier releases): same survivors either way here, but the
    // default-path plan must use the classic signature — asserted via
    // the k=8 default producing the documented q_doc_pipeline result
    // (its oracle twin replays classic minhash in SQL)
  }

  test("exact-span default maxDf is finite; the cap drops boilerplate and the " +
      "drop is OBSERVED, never silent (VERDICT r11 #2)") {
    assert(Dedup.DefaultExactMaxDf === 5000L)
    val chrome = (1 to 25).map(i => s"nav$i")
    val pair = (1 to 25).map(i => s"dup$i")
    val docs = ((1 to 10).map { d =>
      (d.toLong, (Seq(s"u${d}a", s"u${d}b") ++ chrome ++ Seq(s"u${d}c")).mkString(" "))
    } ++ Seq(
      (21L, (pair ++ Seq("x1", "x2")).mkString(" ")),
      (22L, (Seq("y1") ++ pair).mkString(" ")))).toDF("doc_id", "text")
    def docsAt(maxDf: Long) =
      Dedup.duplicatedSpansExact(docs, "doc_id", "text",
        n = 5, minTokens = 20, maxDf = maxDf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // the finite default sits far above the fixture's dfs: everything found
    assert(docsAt(Dedup.DefaultExactMaxDf) === (1L to 10L).toSet ++ Set(21L, 22L))
    // cap 5: chrome (df=10) dropped, the df=2 true pair kept; the 21
    // chrome-interior shingles ride the action as an observed metric
    @volatile var seen = Option.empty[(Long, Long)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.collectFirst {
          case (k, row) if k.startsWith("span_exact_df_cap_") =>
            (row.getAs[Long]("n_shingles_dropped"),
              row.getAs[Long]("max_df_dropped"))
        }.foreach(v => seen = Some(v))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(docsAt(5L) === Set(21L, 22L))
      val deadline = System.currentTimeMillis() + 30000
      while (seen.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.contains((21L, 10L)),
      s"expected 21 dropped shingles at max df 10, got $seen")
    // explicit opt-in to uncapped: no CollectMetrics node in the plan
    val uncapped = Dedup.duplicatedSpansExact(docs, "doc_id", "text",
      n = 5, minTokens = 20, maxDf = Long.MaxValue)
    assert(!uncapped.queryExecution.analyzed.toString.contains("CollectMetrics"))
  }

  test("intraDocDedup: repeated in-page passage cut once, first copy verbatim") {
    val p = (1 to 10).map(i => s"p$i")
    val q = (1 to 5).map(i => s"q$i")
    val docs = Seq(
      // the scraped-page shape: same 10-token passage twice
      (1L, (Seq("h1", "h2") ++ p ++ Seq("m1") ++ p ++ Seq("t1", "t2")).mkString(" ")),
      (2L, (1 to 20).map(i => s"u$i").mkString(" ")),       // no repetition
      // repeated but SHORT (5 tokens < minTokens=8): left alone
      (3L, (q ++ Seq("x1") ++ q ++ Seq("x2")).mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.intraDocDedup(docs, "doc_id", "text", n = 4, minTokens = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L)._1 === 10L, s"got ${out(1L)}")
    assert(out(1L)._2 ===
      (Seq("h1", "h2") ++ p ++ Seq("m1", "t1", "t2")).mkString(" "))
    assert(out(2L)._1 === 0L)
    assert(out(3L)._1 === 0L)
    // cross-doc repetition alone is NOT intra-doc repetition: two docs
    // sharing a passage lose nothing here
    val cross = Seq(
      (1L, ((1 to 25).map(i => s"s$i") ++ Seq("a1")).mkString(" ")),
      (2L, (Seq("b1") ++ (1 to 25).map(i => s"s$i")).mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.intraDocDedup(cross, "doc_id", "text", n = 5, minTokens = 20)
      .filter(col("n_removed") > 0).count() === 0L)
  }

  test("spanDedup ≡ driver-side brute-force reference on random colliding corpora") {
    // small token alphabet forces organic cross-doc shingle collisions;
    // the reference recomputes winner election, run growth, and token
    // removal from first principles on collected strings
    val n = 4; val minTokens = 8; val minDocs = 2
    for (seed <- Seq(11, 42, 97)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (1L to 12L).map { id =>
        val len = 10 + rnd.nextInt(30)
        (id, (0 until len).map(_ => s"t${rnd.nextInt(6)}").mkString(" "))
      }
      // reference: shingle strings (hash-free — collisions in the REAL
      // kernel's 64-bit space are not expected at this size)
      val toks = corpus.map { case (id, t) => id -> t.split(" ", -1) }.toMap
      def shingles(id: Long): Seq[(Int, String)] = {
        val tk = toks(id)
        if (tk.length < n) Seq.empty
        else (0 to tk.length - n).map(p => p -> tk.slice(p, p + n).mkString(" "))
      }
      val holders = corpus.flatMap { case (id, _) => shingles(id).map(_._2 -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      val expect = corpus.map { case (id, _) =>
        val cut = shingles(id).collect {
          case (p, sh) if holders(sh).size >= minDocs && holders(sh).min != id => p
        }.toSet
        // gaps-and-islands over cut positions, extended by n-1
        val runs = cut.toSeq.sorted.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.map { case (s, e) => (s, e + n - 1) }.filter { case (s, e) => e - s + 1 >= minTokens }
        val removed = toks(id).indices.filter(i => runs.exists(r => i >= r._1 && i <= r._2))
        val kept = toks(id).indices.filterNot(removed.contains).map(toks(id))
        (id, removed.size.toLong,
          if (kept.isEmpty) None else Some(kept.mkString(" ")))
      }.toSet
      val got = Dedup.spanDedup(corpus.toDF("doc_id", "text"), "doc_id", "text",
        n = n, minDocs = minDocs, minTokens = minTokens)
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
      assert(got === expect, s"seed=$seed diff: ${(got -- expect) ++ (expect -- got)}")
    }
  }

  test("Ivf spreadInit: deterministic, seeds differ from lowest-id init") {
    val corpus = (1 to 120).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 17 + j * 29) % 19 - 9).toFloat)))
      .toDF("vec_id", "embedding")
    val low = graft.ext.Ivf.train(corpus, "vec_id", "embedding", k = 4, iters = 1,
      spreadInit = false)
    val spread1 = graft.ext.Ivf.train(corpus, "vec_id", "embedding", k = 4, iters = 1,
      spreadInit = true)
    val spread2 = graft.ext.Ivf.train(corpus, "vec_id", "embedding", k = 4, iters = 1,
      spreadInit = true)
    assert(spread1.map(_._2.toSeq) === spread2.map(_._2.toSeq), "spread init must be deterministic")
    assert(low.map(_._2.toSeq) !== spread1.map(_._2.toSeq), "spread init should pick different seeds")
    // both quantizers assign every row to a valid cell
    val cells = graft.ext.Ivf.withCell(corpus, "embedding", spread1)
      .select("ivf_cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 4).toSet) && cells.nonEmpty)
  }

  test("prototypicalityPrune drops the cell cores; d4 composes dedup then prune") {
    // two fixed centroids; cluster A has 4 points at increasing distance
    // from its centroid in DISTINCT directions (colinear points would
    // all be cosine-1 "semantic duplicates" and the d4 stage below
    // would collapse them before the prune), cluster B is a singleton
    // (never emptied)
    val cents = Seq(0 -> Array(0.0, 0.0), 1 -> Array(10.0, 10.0))
    val corpus = Seq( // angles 0, 45, 90, 135 deg — pairwise cos <= 0.71
      (1L, Array(0.1f, 0.0f)), (2L, Array(0.14f, 0.14f)),
      (3L, Array(0.0f, 0.72f)), (4L, Array(-0.64f, 0.64f)),
      (5L, Array(10.0f, 10.0f))).toDF("vec_id", "embedding")
    val kept = Dedup.prototypicalityPrune(corpus, "vec_id", "embedding",
        cents, dropFrac = 0.5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // cell A: floor(4·0.5)=2 closest (ids 1,2) dropped; singleton kept
    assert(kept === Set(3L, 4L, 5L))
    // dropFrac 0 is the identity; floor semantics never empty a cell
    assert(Dedup.prototypicalityPrune(corpus, "vec_id", "embedding", cents, 0.0)
      .count() === 5L)
    val tiny = Dedup.prototypicalityPrune(
      Seq((9L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding"), "vec_id",
      "embedding", cents, 0.9)
    assert(tiny.count() === 1L)
    // d4: near-identical pair (6 ≈ 1 in ANGLE, cosine ≈ 0.99995)
    // dedups to min id FIRST, then the prune ranks the survivors —
    // with 6 gone, cluster A still drops its 2 closest survivors
    val withDup = corpus.union(Seq((6L, Array(0.2f, 0.002f))).toDF("a", "b"))
    val d4kept = Dedup.d4(withDup, "vec_id", "embedding", cents,
        tau = 0.99, dropFrac = 0.5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(d4kept === Set(3L, 4L, 5L), s"got $d4kept")
  }

  test("Ivf spreadInit is the default and beats id-order seeding on a topic-sorted corpus") {
    // the common real layout: embeddings appended topic by topic, so ids
    // are CORRELATED with cluster. 4 well-separated clusters of 40, ids
    // 1..160 in cluster order — id-order seeding draws all 4 seeds from
    // cluster 0; the xxhash64 spread draws across the corpus.
    // id base chosen so the 4 smallest xxhash64(id) fall in 4 distinct
    // clusters (the expected case for a uniform draw; pinned here to
    // keep the fixture deterministic)
    val base = 13348L
    def center(t: Int): Array[Float] =
      Array.tabulate(8)(j => if (j == t * 2) 100f else 0f)
    val rows = for (t <- 0 until 4; i <- 0 until 40) yield {
      val id = base + t * 40 + i + 1
      val jit = Array.tabulate(8)(j => ((id * 13 + j * 7) % 11 - 5).toFloat * 0.1f)
      (id, center(t).zip(jit).map { case (c, e) => c + e })
    }
    val corpus = rows.toDF("vec_id", "embedding")
    def clustersCovered(cents: Seq[(Int, Array[Double])]): Int =
      cents.map { case (_, c) =>
        (0 until 4).minBy(t => center(t).map(_.toDouble).zip(c)
          .map { case (a, b) => (a - b) * (a - b) }.sum)
      }.distinct.size
    // a single Lloyd round — the budget where seeding quality shows:
    // id-order seeds (all 4 in cluster 0) cannot spread to every
    // cluster in one round, while the hash-spread seeds start covered
    val low = graft.ext.Ivf.train(corpus, "vec_id", "embedding", k = 4, iters = 1,
      spreadInit = false)
    val default = graft.ext.Ivf.train(corpus, "vec_id", "embedding", k = 4, iters = 1)
    val spread = graft.ext.Ivf.train(corpus, "vec_id", "embedding", k = 4, iters = 1,
      spreadInit = true)
    // the default IS the spread init (VERDICT r9 task #7)
    assert(default.map(_._2.toSeq) === spread.map(_._2.toSeq))
    assert(clustersCovered(spread) === 4,
      s"expected full cluster coverage, got ${clustersCovered(spread)}")
    assert(clustersCovered(spread) > clustersCovered(low),
      s"spread covered ${clustersCovered(spread)} clusters, id-order ${clustersCovered(low)}")
  }

  test("adviseGeometryMigration: fires on shared-vocab occupancy, stays " +
      "quiet on disjoint traffic, and settles at more rows per band") {
    def svDoc(i: Long, vocab: Long, p: String) =
      Array.tabulate(16) { w =>
        val x = i * 1099511628211L + (w + 1) * 2654435761L * (i + 7)
        s"$p${java.lang.Long.remainderUnsigned(x ^ (x >>> 13), vocab)}"
      }.mkString(" ")
    val store = DocPipeline.signatures(
      (0L until 400L).map(i => (i, svDoc(i, 60, "s"))).toDF("doc_id", "text"))
      .cache()
    val sv = (1000L until 1100L).map(i => (i, svDoc(i, 60, "s")))
      .toDF("doc_id", "text")
    val disjoint = (2000L until 2100L).map(i => (i, svDoc(i, 100000, "u")))
      .toDF("doc_id", "text")
    val fire = DocPipeline.adviseGeometryMigration(sv, store, minWords = 5)
    assert(fire.migrate && fire.candidatesPerDoc > 10.0, fire.toString)
    val quiet = DocPipeline.adviseGeometryMigration(disjoint, store, minWords = 5)
    assert(!quiet.migrate && quiet.candidates === 0, quiet.toString)
    // rebuilt at 4 rows/band, the same probe volume drops (the knob's
    // whole point); the shared-vocab floor may legitimately still
    // exceed the default budget at this extreme 60-word vocabulary
    val store16 = DocPipeline.signatures(
      (0L until 400L).map(i => (i, svDoc(i, 60, "s"))).toDF("doc_id", "text"),
      minhashK = 16, bands = 4)
    val sharper = DocPipeline.adviseGeometryMigration(sv, store16,
      minWords = 5, minhashK = 16, bands = 4)
    assert(sharper.candidates < fire.candidates / 2,
      s"sharper keys did not suppress: $fire -> $sharper")
    store.unpersist()
  }

  test("adviseEmbeddingMigration: fires on a coarse-geometry store, quiet " +
      "on a healthy one, and rebucketing at sharper bits calms the probe") {
    // VERDICT r15 what's-missing #3: spread vectors jammed into 2^2=4
    // buckets per band are occupancy-crowded by GEOMETRY (the case a
    // rebucket fixes — identical-vector crowds are the SvProbe-class
    // floor no geometry fixes, deliberately not planted here)
    def vec(i: Int) = Array.tabulate(16) { j =>
      val x = (i.toLong * 2654435761L + (j + 1) * 40503L)
      val m = (x ^ (x >>> 13)) * 1099511628211L
      (java.lang.Long.remainderUnsigned(m, 2001L) - 1000L) / 1000.0f
    }
    val corpus = (1 to 256).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val batch = (9001 to 9020).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("embadvise").toString + "/store"
    DocPipeline.rebuildEmbeddingStore(corpus, dir, dim = 16, bits = 2, bands = 2)
    val fire = DocPipeline.adviseEmbeddingMigration(
      batch, spark.read.parquet(dir), dim = 16, bits = 2, bands = 2,
      maxCandidatesPerVec = 16.0)
    assert(fire.migrate && fire.candidatesPerDoc > 16.0, fire.toString)
    assert(fire.batchDocs === 20)
    // same store re-keyed at bits = 8 (2^8 buckets/band): the same
    // probe traffic reads far under budget — the decision's point
    DocPipeline.rebucketEmbeddingStore(spark, dir, dim = 16, bits = 8, bands = 2)
    val quiet = DocPipeline.adviseEmbeddingMigration(
      batch, spark.read.parquet(dir), dim = 16, bits = 8, bands = 2,
      maxCandidatesPerVec = 16.0)
    assert(!quiet.migrate, quiet.toString)
    assert(quiet.candidates < fire.candidates / 2,
      s"sharper buckets did not suppress: $fire -> $quiet")
  }

  test("packed 64-bit band keys (bkv=2): kernel matches a driver-side " +
      "reference fold, banding and store sites value-identical, band seed " +
      "separates identical slices") {
    import graft.ext.TextHash
    val docs = Seq(
      (1L, Array.tabulate(40)(i => s"w${(i * 2654435761L) % 99991L}").mkString(" ")),
      (2L, Array.tabulate(35)(i => s"v${(i * 40503L + 7) % 99991L}").mkString(" ")))
      .toDF("doc_id", "text")
    val sig = docs.withColumn("_whs", TextHash.wordHashes(col("text")))
      .withColumn("_sig", TextHash.minhashSignature(col("_whs"), 8))
    val sigRows = sig.select("doc_id", "_sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference fold: acc = acc*M + h with natural wrap, seeded b
    val M = 1099511628211L
    def ref(s: Seq[Long], bands: Int): Seq[Long] = {
      val rpb = s.length / bands
      (0 until bands).map(b =>
        s.slice(b * rpb, (b + 1) * rpb).foldLeft(b.toLong)((acc, h) => acc * M + h))
    }
    val fromKernel = sig
      .select(col("doc_id"), TextHash.bandKeys64(col("_sig"), 4).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for ((id, s) <- sigRows)
      assert(fromKernel(id) === ref(s, 4), s"kernel vs reference at doc $id")
    // the two production sites must stay value-identical: the
    // incremental candidate stage equi-joins in-batch keys
    // (Dedup.bandsFromSig) against persisted keys (signatures)
    val banded = Dedup.minhashBands(docs, "doc_id", "text", k = 8, bands = 4)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val stored = DocPipeline.signatures(docs).select("doc_id", "band_keys")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for ((id, keys) <- stored; b <- keys.indices)
      assert(banded((id, b)) === keys(b), s"site divergence at doc $id band $b")
    // identical slices in different bands must NOT share a key (the
    // band-index seed) — otherwise a constant-signature doc would
    // self-collide into one hub bucket
    val flat = Seq((9L, Seq.fill(8)(12345L))).toDF("doc_id", "_sig")
    val keys = flat.select(TextHash.bandKeys64(col("_sig"), 4)).head().getSeq[Long](0)
    assert(keys.distinct.size === 4, s"identical slices collided: $keys")
  }

  test("bandKeys64 refuses an indivisible geometry: k % bands != 0 throws " +
      "instead of silently keying over a truncated signature") {
    // Dedup.bandsFromSig/signaturesFromHashes already require k % bands
    // == 0; the public kernel/expression must match (ADVICE r15) — an
    // integer-floor rpb would drop trailing components with no error
    val e = intercept[IllegalArgumentException] {
      graft.ext.TextHashLoopsBand.bandKeys64(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.fill(7)(42L)), 4)
    }
    assert(e.getMessage.contains("not divisible"))
    // the Column route surfaces the same error through execution
    import graft.ext.TextHash
    val bad = Seq((1L, Seq.fill(7)(42L))).toDF("doc_id", "_sig")
    val eq = intercept[Throwable] {
      bad.select(TextHash.bandKeys64(col("_sig"), 4)).collect()
    }
    val chain = Iterator.iterate(eq)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.getMessage != null &&
      t.getMessage.contains("not divisible")), s"got: $eq")
  }

  test("pre-r15 (bkv=1) string band_keys stores die loudly on the BATCH " +
      "APIs too, with the rebuild recipe (ADVICE r15: the equi-join " +
      "would silently cast string keys to null and match nothing)") {
    val long = (w: String) => Array.tabulate(40)(i => s"$w$i").mkString(" ")
    val batch = Seq((1L, long("aaa"))).toDF("doc_id", "text")
    val good = DocPipeline.signatures(DocPipeline.prepare(batch, minWords = 10))
    // forge the pre-r15 shape: band_keys re-typed array<string>
    val legacy = good.withColumn("band_keys",
      expr("transform(band_keys, k -> concat('0:', cast(k as string)))"))
    val e1 = intercept[IllegalArgumentException] {
      DocPipeline.prepareIncremental(batch, legacy, minWords = 10)
    }
    assert(e1.getMessage.contains("bkv=1") &&
      e1.getMessage.contains("rebuildSignatureStore"))
    val e2 = intercept[IllegalArgumentException] {
      DocPipeline.incrementalCandidateVolume(batch, legacy, minWords = 10)
    }
    assert(e2.getMessage.contains("band_keys"))
    val e3 = intercept[IllegalArgumentException] {
      DocPipeline.adviseGeometryMigration(batch, legacy, minWords = 10)
    }
    assert(e3.getMessage.contains("rebuildSignatureStore"))
    // the packed store passes the same gate untouched
    assert(DocPipeline.prepareIncremental(batch, good, minWords = 10).isEmpty)
  }

  test("embeddingDupProbe: meta-keyed matches survive a rebucket, the " +
      "self-match is included, and a pv=1 store dies loudly") {
    val corpus = plantedCorpus(40, Seq(7)) // ids 1..40 + 1007 ≈ 7
    val tmp = java.nio.file.Files.createTempDirectory("embprobe")
    val root = tmp.resolve("store").toString
    DocPipeline.rebuildEmbeddingStore(corpus, root, dim = 16,
      bits = 4, bands = 2, atomicStore = true)
    val probe = corpus.filter(col("vec_id") === 1007L)
    def matches() = DocPipeline.embeddingDupProbe(
      probe, root, tau = 0.95, atomicStore = true)
      .select("vec_id", "match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 30 is a genuine exact dup of 7 in this corpus (mod-23 grid)
    assert(matches() === Set((1007L, 7L), (1007L, 30L), (1007L, 1007L)))
    // rebucket to more bits: the probe keys off the NEW meta and the
    // matches are unchanged (the reader never guesses geometry)
    DocPipeline.rebucketEmbeddingStore(spark, root, dim = 16,
      bits = 6, bands = 2, atomicStore = true)
    assert(matches() === Set((1007L, 7L), (1007L, 30L), (1007L, 1007L)))
    // a pv=1 (pre-r16 plane family) store must die with the recipe,
    // never silently mismatch keys
    import spark.implicits._
    Seq(("dim", 16), ("bits", 6), ("bands", 2), ("pv", 1))
      .toDF("param", "value").coalesce(1)
      .write.mode("overwrite").parquet(root + "_emb_meta")
    val e = intercept[IllegalArgumentException](matches())
    assert(e.getMessage.contains("rebucketEmbeddingStore"), e.getMessage)
    // torn reads that exhaust maxAttempts — including one on the FINAL
    // attempt (VERDICT r17 #1: the last attempt used to propagate the
    // raw FileNotFound instead) — emit the curated quiesce message,
    // with the raw cause attached for forensics. A store root whose
    // meta sidecar never lands reads as torn on every attempt.
    val torn = java.nio.file.Files.createDirectory(tmp.resolve("meta-less")).toString
    val ex = intercept[IllegalStateException] {
      DocPipeline.embeddingDupProbe(probe, torn, maxAttempts = 2)
    }
    assert(ex.getMessage.contains("no stable committed snapshot"), ex.getMessage)
    assert(ex.getMessage.contains("quiesce maintenance"), ex.getMessage)
    assert(ex.getCause != null, "raw torn cause must ride along")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("embeddingDupProbe on a store path that does not exist fails at " +
      "once with the missing-store message, not the torn-read exhaustion") {
    val tmp = java.nio.file.Files.createTempDirectory("embprobe-missing")
    try {
      val gone = tmp.resolve("never-built").toString
      val probe = plantedCorpus(4, Nil)
      val ex = intercept[RuntimeException] {
        DocPipeline.embeddingDupProbe(probe, gone, maxAttempts = 8)
      }
      assert(ex.getMessage === s"no embedding store at $gone", ex.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("auditCrossShardEmbDups: planted cross-shard VECTOR copies measured " +
      "exactly on small shards; the KMV path estimates the rate; banded " +
      "storage contributes one hash per vector") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("embaudit")
    val root = tmp.resolve("store").toString
    def vec(i: Int): Array[Float] =
      Array.tabulate(16)(j => (i * 16 + j).toFloat / 1000f) // injective in i
    val vecsA = (0 until 60).map(i => (1000L + i, vec(i)))
      .toDF("vec_id", "embedding")
    // shard B: 60 vectors, ids 2000+, of which indices 10..19 are EXACT
    // byte copies of shard A's — the uncaught cross-shard class
    val vecsB = (0 until 60).map(i =>
      (2000L + i, if (i >= 10 && i < 20) vec(i) else vec(500 + i)))
      .toDF("vec_id", "embedding")
    DocPipeline.rebuildEmbeddingStore(vecsA, DocPipeline.shardPath(root, 0),
      dim = 16, bits = 4, bands = 2, atomicStore = true)
    DocPipeline.rebuildEmbeddingStore(vecsB, DocPipeline.shardPath(root, 1),
      dim = 16, bits = 4, bands = 2, atomicStore = true)
    val exact = DocPipeline.auditCrossShardEmbDups(spark, root, 2,
      sampleK = 4096)
    assert(exact.pairs.size === 1)
    val p = exact.pairs.head
    assert(p.exact, p.toString)
    // exactly the 10 planted copies — and per-shard distinct counts are
    // VECTOR counts (60), not banded row counts (120): banding must not
    // inflate the audit
    assert(p.estSharedDocs === 10L, p.toString)
    assert(exact.shardDistinctEst.values.toSeq.sorted === Seq(60L, 60L),
      exact.shardDistinctEst.toString)
    // the KMV path (k below the shard distinct count) lands in band
    val est = DocPipeline.auditCrossShardEmbDups(spark, root, 2, sampleK = 32)
    val q = est.pairs.head
    assert(!q.exact, q.toString)
    assert(q.estSharedDocs >= 3L && q.estSharedDocs <= 30L, q.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("auditCrossShardDups: a planted cross-shard copy is measured exactly " +
      "on small shards; the KMV path estimates the planted rate") {
    import org.apache.spark.sql.functions.col
    // two tenants proven to land on different shards of a 2-way layout
    val route = (0 until 16).map(i => s"t$i").toDF("k")
      .select(col("k"), DocPipeline.shardOf(col("k"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kA = route.head._1
    val kB = route.find(_._2 != route(kA)).get._1
    def text(i: Int) =
      Array.tabulate(12)(j => s"w${(i * 131 + j * 47) % 97}x$j").mkString(" ")
    // 60 docs per tenant; ids 10..19 of tenant B carry EXACT copies of
    // tenant A's texts 10..19 — the uncaught cross-shard class
    val planted = (10 until 20).toSet
    val rows =
      (0 until 60).map(i => (i.toLong, kA, text(i))) ++
      (0 until 60).map(i => (1000L + i, kB,
        if (planted(i)) text(i)
        else Array.tabulate(12)(j => s"b${i}f$j").mkString(" ")))
    val corpus = rows.toDF("doc_id", "tenant", "text")
    val root = java.nio.file.Files.createTempDirectory("xaudit").toFile
    root.delete()
    DocPipeline.reshardSignatureStores(
      corpus, root.getAbsolutePath, col("tenant"), numShards = 2)
    try {
      // shards are far below sampleK: the audit is EXACT
      val audit = DocPipeline.auditCrossShardDups(
        spark, root.getAbsolutePath, numShards = 2)
      assert(audit.pairs.size === 1, audit.pairs.toString)
      val p = audit.pairs.head
      assert(p.exact && p.sampleShared === 10L && p.estSharedDocs === 10L, p.toString)
      assert(audit.estTotalCrossShardDups === 10L)
      assert(audit.shardDistinctEst.values.toSeq.sorted === Seq(60L, 60L))
      // force the sampled path (sampleK below shard size): the KMV
      // estimate must see the planted overlap and land in a sane band
      // (deterministic — fps are content hashes of fixed texts)
      val est = DocPipeline.auditCrossShardDups(
        spark, root.getAbsolutePath, numShards = 2, sampleK = 32)
      val q = est.pairs.head
      assert(!q.exact)
      assert(q.sampleShared >= 1, q.toString)
      assert(q.estSharedDocs >= 2 && q.estSharedDocs <= 50, q.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(root.getAbsolutePath + "_shard_meta"))
    }
  }
}
