package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.ext.{Dedup, Graph}

/** The round shapes of the iterative graph operators: how many jobs
  * each round costs the driver (counted by a listener, attributed to
  * SQL executions — one per `.cut`), the `maxIter` contract of
  * `transitiveClusters` at its boundaries, and hub-shaped inputs
  * against plain-Scala twins. */
class GraphRoundsSpec extends SparkTestBase {
  import spark.implicits._

  private val TagKey = "graft.test.jobTag"

  /** Jobs per SQL execution started by `body` on this thread, in
    * execution order. */
  private def jobsPerExecution(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val execs = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(TagKey) == tag)
          execs.add(Option(e.properties.getProperty("spark.sql.execution.id"))
            .map(_.toLong).getOrElse(-1L))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try body
    finally {
      sc.setLocalProperty(TagKey, null)
      org.apache.spark.sql.graft.bridge.waitListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    execs.asScala.toSeq.groupBy(identity).toSeq.sortBy(_._1).map(_._2.size)
  }

  /** Random-order paths of the given sizes, each with a few chords. */
  private def plantedPaths(sizes: Seq[Int], seed: Long): Seq[(Long, Long)] = {
    val rnd = new java.util.SplittableRandom(seed)
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((0L until sizes.sum.toLong).toVector)
    var off = 0
    sizes.flatMap { n =>
      val m = ids.slice(off, off + n)
      off += n
      m.sliding(2).collect { case Seq(a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }.toSeq ++
        (0 until n / 10).map(_ => (m(rnd.nextInt(n)), m(rnd.nextInt(n))))
    }
  }

  private def unionFindTwin(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  /** The integer recurrence of `Graph.pageRank` (`seeds = None`) and
    * `Graph.personalizedPageRank`, in plain Scala. */
  private def rankTwin(edges: Seq[(Long, Long)], iters: Int,
                       seeds: Option[Set[Long]]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val isSeed = (v: Long) => seeds.forall(_.contains(v))
    val nSeeds = nodes.count(isSeed).toLong
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rk = nodes.map(v => v -> (if (isSeed(v)) 1000000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val share = nodes.filterNot(deg.contains).map(rk).sum / nSeeds
      val in = mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (s, d) => in(d) += rk(s) / deg(s) }
      rk = nodes.map { v =>
        val s = isSeed(v)
        v -> ((if (s) 15L * 10000000L else 0L) + (in(v) + (if (s) share else 0L)) * 85 / 100)
      }.toMap
    }
    rk
  }

  test("transitiveClusters: one execution of at most 4 jobs per round") {
    val edges = plantedPaths(Seq(2, 5, 9, 17, 24), 3001)
    var rounds = -1
    var out: Map[Long, Long] = Map.empty
    val perExec = jobsPerExecution {
      out = Dedup.transitiveClusters(edges.toDF("a", "b"), "a", "b",
          onConverge = r => rounds = r)
        .as[(Long, Long)].collect().toMap
    }
    assert(out === unionFindTwin(edges))
    assert(rounds >= 2, s"fixture converged too early: $rounds rounds")
    // the canonical-edge cut, rounds + 1 round cuts (the last confirms
    // the fixpoint), the label collect
    assert(perExec.size === rounds + 3, s"jobs per execution: $perExec")
    val roundJobs = perExec.slice(1, rounds + 2)
    assert(roundJobs.forall(_ <= 4), s"jobs per round: $roundJobs")
    assert(perExec.head <= 2 && perExec.last <= 2, s"jobs per execution: $perExec")
  }

  test("pageRank and personalizedPageRank: one execution of at most 2 jobs per iteration") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (6L, 5L))
    for (seeds <- Seq(None, Some(Set(1L, 6L)))) {
      var out: Map[Long, Long] = Map.empty
      val perExec = jobsPerExecution {
        val r = seeds.fold(Graph.pageRank(edges.toDF("s", "t"), "s", "t", 3))(s =>
          Graph.personalizedPageRank(edges.toDF("s", "t"), "s", "t", s.toSeq, 3))
        out = r.as[(Long, Long)].collect().toMap
      }
      assert(out === rankTwin(edges, 3, seeds))
      // the initial state cut, 3 iteration cuts, the collect
      assert(perExec.size === 5, s"jobs per execution: $perExec")
      assert(perExec.init.forall(_ <= 2), s"jobs per execution: $perExec")
    }
  }

  test("transitiveClusters: maxIter = r succeeds with r rounds, r - 1 throws") {
    val edges = (0 until 63).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    var r = -1
    Dedup.transitiveClusters(edges, "a", "b", onConverge = n => r = n).collect()
    assert(r >= 2)
    var atBound = -1
    val comp = Dedup.transitiveClusters(edges, "a", "b", maxIter = r,
      onConverge = n => atBound = n).as[(Long, Long)].collect()
    assert(atBound === r)
    assert(comp.length === 64 && comp.forall(_._2 == 0L))
    val e = intercept[IllegalStateException] {
      Dedup.transitiveClusters(edges, "a", "b", maxIter = r - 1).collect()
    }
    assert(e.getMessage.startsWith(
      s"transitiveClusters did not converge within maxIter=${r - 1} rounds"))
  }

  test("transitiveClusters: maxIter = 0 on a star forest succeeds with 0 rounds") {
    val stars = Seq((5L, 1L), (1L, 6L), (9L, 2L), (7L, 7L)).toDF("a", "b")
    var r = -1
    val comp = Dedup.transitiveClusters(stars, "a", "b", maxIter = 0,
      onConverge = n => r = n).as[(Long, Long)].collect().toMap
    assert(r === 0)
    assert(comp === Map(1L -> 1L, 5L -> 1L, 6L -> 1L, 2L -> 2L, 9L -> 2L, 7L -> 7L))
  }

  test("hubs: a 20k-leaf star and a 20k-out-edge node match their twins") {
    val leaves = (1L to 20000L).map(i => if (i % 2 == 0) (0L, i) else (i, 0L))
    val cc = leaves ++ Seq((30001L, 30002L), (30002L, 30000L), (5L, 30003L))
    val comp = Dedup.transitiveClusters(cc.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comp === unionFindTwin(cc))

    val rnd = new java.util.SplittableRandom(7)
    val pr = (1L to 20000L).map(i => (0L, i)) ++
      (0 until 2000).map(_ => (rnd.nextInt(500).toLong, rnd.nextInt(25000).toLong))
    val ranks = Graph.pageRank(pr.toDF("s", "t"), "s", "t", 3).as[(Long, Long)].collect().toMap
    assert(ranks === rankTwin(pr, 3, None))
    val ppr = Graph.personalizedPageRank(pr.toDF("s", "t"), "s", "t", Seq(0L, 3L), 2)
      .as[(Long, Long)].collect().toMap
    assert(ppr === rankTwin(pr, 2, Some(Set(0L, 3L))))
  }
}
