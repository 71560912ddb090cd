package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid 2011) — the missing
  * composition step past scalar int8 (VERDICT r6 "quantized ANN"):
  * split a D-dim vector into `m` subvectors, learn a `ksub`-centroid
  * codebook per subspace, and store each vector as m one-byte codes —
  * D·4 float bytes become m bytes (64-dim → 8 bytes at m = 8, a 32×
  * residency shrink vs float32, 8× vs int8), while asymmetric scoring
  * (query stays full-precision, corpus stays coded) keeps enough rank
  * fidelity to feed an exact re-rank.
  *
  * Determinism: codebooks train per subspace via [[Ivf.train]] (k lowest
  * ids / id-hash seeds, fixed Lloyd rounds — no RNG anywhere), so codes
  * and scores reproduce across runs and engines. Train on a corpus
  * SAMPLE at scale (the FAISS discipline): training cost is driver-side
  * jobs, encoding is one map-only pass.
  *
  * Scale shape: codebooks are m·ksub·dsub doubles (16 KB at 8×16×8;
  * 0.5 MB at 8×256×8) riding expressions as literals — broadcast once
  * per stage; encoding and scoring are whole-stage-codegen map work;
  * nothing but (id, codes, cell) scalars ever shuffles. */
object Pq {

  /** Per-subspace codebooks: `centroids(s)(c)` is the dsub-dim centroid
    * `c` of subspace `s`. */
  final case class Codebooks(m: Int, dsub: Int, centroids: Seq[Seq[Array[Double]]]) {
    require(centroids.length == m, s"expected $m codebooks, got ${centroids.length}")
    def ksub: Int = centroids.head.length
    def dim: Int = m * dsub
  }

  /** Train m codebooks over `corpus.vecCol` (dim must be divisible by
    * m). Each subspace trains independently on its slice via the
    * deterministic [[Ivf.train]] coarse k-means. `maxTrainRows` bounds
    * each subspace's Lloyd passes to a deterministic radix subsample
    * (the [[Ivf.train]] contract) — with m subspaces each paying
    * `iters` corpus passes, sampling matters m× more here than for the
    * coarse quantizer. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int, ksub: Int = 256, iters: Int = 2,
            spreadInit: Boolean = true,
            maxTrainRows: Option[Long] = None): Codebooks = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(m >= 1 && dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books = (0 until m).map { s =>
      Ivf.train(
        corpus.select(col(idCol),
          slice(col(vecCol), s * dsub + 1, dsub).cast("array<float>").as("_sub")),
        idCol, "_sub", ksub, iters, spreadInit, maxTrainRows)
        .sortBy(_._1).map(_._2)
    }
    Codebooks(m, dsub, books)
  }

  /** Persist trained codebooks as (sub, cid, centroid) parquet — train
    * once, encode/score in every later job (the codebooks ARE the
    * coder; until now they lived only in the training driver's
    * memory). */
  def saveCodebooks(spark: org.apache.spark.sql.SparkSession,
                    books: Codebooks, path: String): Unit = {
    import spark.implicits._
    (for (s <- 0 until books.m; c <- 0 until books.ksub)
      yield (s, c, books.centroids(s)(c).toSeq))
      .toDF("sub", "cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load codebooks written by [[saveCodebooks]], subspace and code
    * order restored (both are semantics — codes index into them). */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession, path: String): Codebooks = {
    val rows = spark.read.parquet(path)
      .select("sub", "cid", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val bySub = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, cs) => cs.sortBy(_._2).map(_._3).toSeq }
    Codebooks(bySub.length, bySub.head.head.length, bySub)
  }

  /** Encode `vecCol` into m one-byte codes (array<tinyint>): each
    * subvector's nearest-centroid code ([[Ivf.nearest]] over the code
    * indices, ties toward the lower code). Map-only; the codebooks ride
    * the plan as literals. */
  def encode(vec: Column, books: Codebooks): Column =
    array((0 until books.m).map { s =>
      Ivf.nearest(slice(vec.cast("array<double>"), s * books.dsub + 1, books.dsub),
        books.centroids(s).zipWithIndex.map(_.swap)).cast("byte")
    }: _*)

  /** Reconstruct the (lossy) vector a code array stands for. */
  def decode(codes: Column, books: Codebooks): Column =
    concat((0 until books.m).map { s =>
      element_at(lit(books.centroids(s).toArray),
        element_at(codes, s + 1).cast("int") + 1)
    }: _*)

  /** Asymmetric (ADC) inner-product score of coded vectors against ONE
    * probe: per-subspace lookup tables `lut(s)(c) = ⟨probe_s, c⟩` are
    * precomputed driver-side and ride as literals — per row the score
    * is m array lookups and m−1 adds, no per-element arithmetic. */
  def adcScore(codes: Column, books: Codebooks, probe: Array[Double]): Column = {
    require(probe.length == books.dim,
      s"probe dim ${probe.length} != codebook dim ${books.dim}")
    val luts = (0 until books.m).map { s =>
      books.centroids(s).map { c =>
        var acc = 0.0
        var i = 0
        while (i < books.dsub) { acc += c(i) * probe(s * books.dsub + i); i += 1 }
        acc
      }.toArray
    }
    (0 until books.m).map { s =>
      element_at(lit(luts(s)), element_at(codes, s + 1).cast("int") + 1)
    }.reduce(_ + _)
  }

  /** Batch-probe score: `⟨probe, decode(codes)⟩` computed as m
    * subspace dots against the selected centroids — the LUT can't be a
    * literal when the probe is a column, but the centroid selection
    * still replaces per-element corpus arithmetic. */
  def adcScoreCol(codes: Column, books: Codebooks, probeVec: Column): Column =
    (0 until books.m).map { s =>
      Similarity.dot(
        slice(probeVec.cast("array<double>"), s * books.dsub + 1, books.dsub),
        element_at(lit(books.centroids(s).toArray),
          element_at(codes, s + 1).cast("int") + 1))
    }.reduce(_ + _)
}
