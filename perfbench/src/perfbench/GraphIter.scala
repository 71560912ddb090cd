package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64

import graft.ext.{Dedup, Graph, Ivf}

/** graph_iter: the iterative operators, each a fixed number of rounds
  * of driver-planned jobs.
  *   - `Graph.pageRank`, `PrIters` iterations, on a random directed
  *     graph whose last tenth of the nodes only receive edges (dangling);
  *   - `Dedup.transitiveClusters` on planted components of known size,
  *     each a random-order path (diameter = size − 1) plus a few chords;
  *   - `Ivf.train` (k-means, `IvfIters` rounds) on vectors drawn around
  *     planted centres, in the `AnnScaleDemo.synthVecs` shape.
  * The twins: integer PageRank, union-find and Lloyd's algorithm in
  * plain Scala on the generated inputs. */
final class GraphIter(spark: SparkSession, t: Tracer, dir: Path, seed: Long, tiny: Boolean) extends Workload {
  val prNodes: Int = if (tiny) 300 else 2000
  val prEdges: Int = prNodes * 5
  val PrIters = 2
  val ccSizes: IndexedSeq[Int] = if (tiny) IndexedSeq(2, 5, 17, 24) else (0 until 60).map(k => 2 + (k * 37) % 23)
  val nVecs: Int = if (tiny) 500 else 12000
  val Dim = 16
  val Centres = 24
  val K = 16
  val IvfIters = 2

  final case class Out(ranks: Seq[(Long, Long)], comps: Seq[(Long, Long)], centroids: Seq[(Int, Seq[Double])])

  private var pr: Array[(Long, Long)] = _
  private var cc: Array[(Long, Long)] = _
  private var vecs: Array[(Long, Array[Float])] = _
  private var ccComp: Map[Long, Long] = _

  def rowsPerOp: Long = prEdges.toLong + cc.length + nVecs

  def generate(): Unit = {
    val rnd = new SplittableRandom(seed)
    val srcMax = prNodes * 9 / 10
    pr = Array.fill(prEdges) {
      val s = rnd.nextInt(srcMax).toLong
      // skewed in-degree: small ids receive more edges
      val d = (prNodes * math.pow(rnd.nextDouble(), 2)).toLong
      (s, d)
    }
    val nV = ccSizes.sum
    val ids = { val a = Array.range(0, nV); for (i <- nV - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x }; a }
    var off = 0
    val edges = mutable.ArrayBuffer[(Long, Long)]()
    val comp = mutable.Map[Long, Long]()
    ccSizes.foreach { n =>
      val members = ids.slice(off, off + n).map(_.toLong)
      off += n
      members.sliding(2).foreach { case Array(a, b) => edges += (if (rnd.nextBoolean()) (a, b) else (b, a)) }
      (0 until n / 10).foreach(_ => edges += (members(rnd.nextInt(n)) -> members(rnd.nextInt(n))))
      members.foreach(m => comp(m) = members.min)
    }
    cc = edges.toArray
    ccComp = comp.toMap
    val centres = Array.fill(Centres, Dim)(rnd.nextDouble() * 2 - 1)
    vecs = Array.tabulate(nVecs) { i =>
      val c = centres(rnd.nextInt(Centres))
      i.toLong -> Array.tabulate(Dim)(d => (c(d) + rnd.nextGaussian() * 0.15).toFloat)
    }
  }

  def prepare(rep: Int): Unit = {
    generate()
    import spark.implicits._
    pr.toSeq.toDF("src", "dst").repartition(4).write.mode("overwrite").parquet(dir.resolve("pr").toString)
    cc.toSeq.toDF("src", "dst").repartition(4).write.mode("overwrite").parquet(dir.resolve("cc").toString)
    vecs.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
      .repartition(4).write.mode("overwrite").parquet(dir.resolve("vecs").toString)
  }

  /** Six passes: after three, each pass still ran 5–10% faster than the
    * one before (the driver's planning code is still being compiled). */
  def warmUp(): Unit = (-6 to -1).foreach(op)

  def op(i: Int): Out = t.span("graph_iter.pass") {
    val read = (n: String) => spark.read.parquet(dir.resolve(n).toString)
    val ranks = t.span("ext.Graph.pageRank") {
      Graph.pageRank(read("pr"), "src", "dst", PrIters).collect()
    }
    val comps = t.span("ext.Dedup.transitiveClusters") {
      Dedup.transitiveClusters(read("cc"), "src", "dst").collect()
    }
    val cents = t.span("ext.Ivf.train") {
      Ivf.train(read("vecs"), "vec_id", "embedding", K, IvfIters)
    }
    Out(ranks.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq,
      comps.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).sortBy(_._1).toSeq,
      cents.map { case (c, v) => (c, v.toSeq) }.sortBy(_._1))
  }

  def digest(o: Out): String =
    Seq(o.ranks.hashCode, o.comps.hashCode,
      o.centroids.map { case (c, v) => c.toString + v.map(x => f"$x%.9e").mkString(",") }.hashCode).mkString(":")

  def tamper(o: Out): Out = o.copy(comps = o.comps.map { case (v, c) => (v, if (v == o.comps.head._1) c + 1 else c) })

  // ── twins ──
  private def pageRankTwin(): Map[Long, Long] = {
    val nodes = (pr.map(_._1) ++ pr.map(_._2)).distinct
    val n = nodes.length.toLong
    val deg = pr.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val teleport = 15L * 10000000L
    var rk = nodes.map(_ -> 1000000000L).toMap
    for (_ <- 1 to PrIters) {
      val share = nodes.filterNot(deg.contains).map(rk).sum / n
      val in = mutable.Map[Long, Long]().withDefaultValue(0L)
      pr.foreach { case (s, d) => in(d) += rk(s) / deg(s) }
      rk = nodes.map(v => v -> (teleport + (in(v) + share) * 85 / 100)).toMap
    }
    rk
  }

  private def lloydTwin(): Seq[(Int, Seq[Double])] = {
    val init = vecs.sortBy { case (id, _) => (XXH64.hashLong(id, 42L), id) }.take(K)
    var cents = init.zipWithIndex.map { case ((_, v), c) => c -> v.map(_.toDouble) }.toSeq
    def d2(v: Array[Float], c: Array[Double]) = {
      var acc = 0.0; var i = 0
      while (i < v.length) { val d = v(i).toDouble - c(i); acc += d * d; i += 1 }
      acc
    }
    for (_ <- 0 until IvfIters) {
      val sums = mutable.Map[Int, (Array[Double], Long)]()
      vecs.foreach { case (_, v) =>
        val cell = cents.minBy { case (c, x) => (d2(v, x), c) }._1
        val (s, n) = sums.getOrElse(cell, (new Array[Double](Dim), 0L))
        for (i <- 0 until Dim) s(i) += v(i).toDouble
        sums(cell) = (s, n + 1)
      }
      cents = cents.map { case (c, x) => c -> sums.get(c).map { case (s, n) => s.map(_ / n) }.getOrElse(x) }
    }
    cents.map { case (c, x) => (c, x.toSeq) }
  }

  private lazy val expected: (Map[Long, Long], Seq[(Int, Seq[Double])]) = (pageRankTwin(), lloydTwin())

  def check(i: Int, o: Out): Seq[String] = {
    val (ranks, cents) = expected
    val errs = Seq.newBuilder[String]
    if (o.ranks.toMap != ranks) errs += s"pageRank differs on ${o.ranks.count { case (v, r) => !ranks.get(v).contains(r) }} nodes"
    if (o.comps.toMap != ccComp) errs += "connected components differ from the planted ones"
    val sizes = o.comps.groupBy(_._2).values.map(_.size).toSeq.sorted
    if (sizes != ccSizes.sorted) errs += "component sizes differ from the planted ones"
    if (o.centroids.size != K || o.centroids.zip(cents).exists { case ((a, x), (b, y)) =>
      a != b || x.zip(y).exists { case (p, q) => math.abs(p - q) > 1e-9 } }) errs += "k-means centroids differ from Lloyd's"
    errs.result()
  }

  override def layerMetrics(tr: Tracer): Seq[(String, Double, String)] = {
    def perIter(span: String, iters: Int) =
      if (tr.calls(span) == 0) 0.0 else tr.jobs(span).toDouble / tr.calls(span) / iters
    Seq(("ext.Graph.pageRank.jobs_per_iter", perIter("ext.Graph.pageRank", PrIters), "count"),
      ("ext.Ivf.train.jobs_per_iter", perIter("ext.Ivf.train", IvfIters), "count"))
  }
}
