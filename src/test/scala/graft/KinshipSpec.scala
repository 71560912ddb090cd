package graft

import org.apache.spark.sql.functions._
import graft.operators.Kinship

class KinshipSpec extends SparkTestBase {
  import spark.implicits._

  // 4 samples, 3 variants, one missing call on variant 2
  private lazy val gt = Seq(
    (1L, Seq(Seq(0, 0), Seq(0, 1), Seq(1, 1), Seq(1, 1))),
    (2L, Seq(Seq(0, 1), Seq(-1, -1), Seq(1, 1), Seq(0, 0))),
    (3L, Seq(Seq(0, 0), Seq(0, 0), Seq(0, 1), Seq(1, 1)))).toDF("vid", "gt")

  // driver-side reference: dosages, u = n·d − T (missing → 0)
  private val dosages = Seq(
    Seq(0, 1, 2, 2),   // v1: n=4, T=5
    Seq(1, -1, 2, 0),  // v2: n=3, T=3
    Seq(0, 0, 1, 2))   // v3: n=4, T=3

  private def uVectors: Seq[Seq[Long]] = dosages.map { dos =>
    val called = dos.filter(_ >= 0)
    val (n, t) = (called.size.toLong, called.sum.toLong)
    dos.map(d => if (d >= 0) n * d - t else 0L)
  }

  test("grmPairs = brute-force integer cross-products") {
    val expected = (for {
      i <- 0 until 4; j <- i until 4
    } yield (i.toLong, j.toLong) -> uVectors.map(u => u(i) * u(j)).sum).toMap
    val got = Kinship.grmPairs(gt, "gt").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("gramian path = exploded-pairs path on missing-free data (a = S²·g)") {
    val full = Seq(
      (1L, Seq(Seq(0, 0), Seq(0, 1), Seq(1, 1), Seq(1, 1))),
      (2L, Seq(Seq(0, 1), Seq(1, 1), Seq(1, 1), Seq(0, 0))),
      (3L, Seq(Seq(0, 0), Seq(0, 0), Seq(0, 1), Seq(1, 1)))).toDF("vid", "gt")
    val (s, tri, _) = Kinship.grmTriangle(full, "gt")
    assert(s === 4)
    val pairs = Kinship.grmPairs(full, "gt").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // no missing → n = S for every variant, so u = S·z and a = S²·[ZZᵀ]
    var idx = 0
    for (i <- 0 until s; j <- i until s) {
      assertNear(tri(idx), pairs((i.toLong, j.toLong)).toDouble / (s * s), 1e-9)
      idx += 1
    }
  }

  test("grmTriangle matches driver-side VanRaden algebra with missing calls") {
    val zs = dosages.map { dos =>
      val called = dos.filter(_ >= 0)
      val p = called.sum.toDouble / (2.0 * called.size)
      (dos.map(d => if (d >= 0) d - 2.0 * p else 0.0), 2.0 * p * (1.0 - p))
    }
    val expTri = for (i <- 0 until 4; j <- i until 4)
      yield zs.map(_._1).map(z => z(i) * z(j)).sum
    val expDen = zs.map(_._2).sum
    val (s, tri, den) = Kinship.grmTriangle(gt, "gt")
    assert(s === 4)
    assertNear(den, expDen, 1e-9)
    tri.zip(expTri).foreach { case (g, e) => assertNear(g, e, 1e-9) }
    // normalized long form agrees
    val kin = Kinship.grm(gt, "gt").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    var idx = 0
    for (i <- 0 until 4; j <- i until 4) {
      assertNear(kin((i.toLong, j.toLong)), expTri(idx) / expDen, 1e-9)
      idx += 1
    }
  }

  test("all-missing and monomorphic variants contribute nothing") {
    val padded = gt.union(Seq(
      (4L, Seq(Seq(-1, -1), Seq(-1, -1), Seq(-1, -1), Seq(-1, -1))),
      (5L, Seq(Seq(1, 1), Seq(1, 1), Seq(1, 1), Seq(1, 1)))).toDF("vid", "gt"))
    val (_, tri0, den0) = Kinship.grmTriangle(gt, "gt")
    val (_, tri1, den1) = Kinship.grmTriangle(padded, "gt")
    assertNear(den1, den0, 1e-9) // monomorphic: 2p(1−p) = 0
    tri0.zip(tri1).foreach { case (a, b) => assertNear(b, a, 1e-9) }
  }

  test("centeredDosages: fused codegen expression ≡ interpreted HOF chain") {
    // deterministic pseudo-random cohort incl. missing and monomorphic
    val rnd = new scala.util.Random(29)
    val rows = (0 until 60).map { v =>
      (v.toLong, (0 until 10).map { _ =>
        if (rnd.nextInt(8) == 0) Seq(-1, -1)
        else Seq(rnd.nextInt(2), rnd.nextInt(2))
      })
    } :+ (99L -> (0 until 10).map(_ => Seq(-1, -1))) // all-missing → dropped
    val df = rows.toDF("vid", "gt")
    def collect(out: org.apache.spark.sql.DataFrame) =
      out.select("vid", "_z", "_p", "_w").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getDouble(2), r.getDouble(3))))
        .toMap
    val fused = collect(Kinship.centeredDosages(df, "gt"))
    val hof = collect(Kinship.centeredDosagesHof(df, "gt"))
    assert(fused.keySet === hof.keySet)
    assert(!fused.contains(99L))
    fused.foreach { case (vid, (z, p, w)) =>
      val (ez, ep, ew) = hof(vid)
      assertNear(p, ep, 1e-12); assertNear(w, ew, 1e-12)
      z.zip(ez).foreach { case (a, b) => assertNear(a, b, 1e-12) }
    }
    // the fused expression must appear exactly ONCE in the optimized
    // plan (CollapseProject must not inline it into each field access);
    // a FILE source, because a local relation optimizes to evaluated rows
    val dir = java.nio.file.Files.createTempDirectory("cd").resolve("gt").toString
    df.write.parquet(dir)
    val plan = Kinship.centeredDosages(spark.read.parquet(dir), "gt")
      .queryExecution.optimizedPlan.toString
    assert(plan.split("centered_dosages").length == 2,
      s"centered_dosages duplicated in plan:\n$plan")
  }

  test("grmBlocksWrite + grmFromBlocks ≡ driver-triangle grm (ragged tail block)") {
    val path = java.nio.file.Files.createTempDirectory("grmb").toString
    val (s, den) = Kinship.grmBlocksWrite(gt, path, "gt", blockSize = 3)
    assert(s === 4) // blocks: (0,0) 3×3 diag, (0,1) 3×1, (1,1) 1×1 diag
    val exact = Kinship.grm(gt, "gt").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val blocked = Kinship.grmFromBlocks(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(blocked.keySet === exact.keySet)
    exact.foreach { case (k, v) => assertNear(blocked(k), v, 1e-9) }
    val denExact = Kinship.grmTriangle(gt, "gt")._3
    assertNear(den, denExact, 1e-9)
  }

  test("grmAuto: blocked path (forced by a tiny cap) ≡ driver path") {
    val exact = Kinship.grm(gt, "gt").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val auto = Kinship.grmAuto(gt, "gt", maxDriverSamples = 2, blockSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(auto.keySet === exact.keySet)
    exact.foreach { case (k, v) => assertNear(auto(k), v, 1e-9) }
  }

  test("pcaRandomized ≡ exact pca: eigenvalues and basis-free score projector") {
    // planted two-population cohort → separated top eigenvalues
    val df = Synth.synthGt(spark, 300L, 30).localCheckpoint()
    val k = 5
    val (le, pe) = Kinship.pca(df, "gt", k)
    val (lr, pr) = Kinship.pcaRandomized(df, "gt", k, iters = 80, seed = 7L)
    le.zip(lr).foreach { case (a, b) => assertNear(b, a, 1e-6 * math.max(1.0, le.head)) }
    // eigenvector signs (and any rotation within near-degenerate pairs)
    // are basis choices — compare the rank-k projector S·Sᵀ = U Λ Uᵀ,
    // which is basis-independent
    def scores(dfp: org.apache.spark.sql.DataFrame): Array[Array[Double]] =
      dfp.orderBy("sample_idx").collect().map(_.getSeq[Double](1).toArray)
    val (se, sr) = (scores(pe), scores(pr))
    val n = se.length
    for (i <- 0 until n; j <- 0 until n) {
      val a = se(i).zip(se(j)).map { case (x, y) => x * y }.sum
      val b = sr(i).zip(sr(j)).map { case (x, y) => x * y }.sum
      assertNear(b, a, 1e-6 * math.max(1.0, math.abs(a)))
    }
  }

  test("pcaAuto switches on cohort width") {
    val df = Synth.synthGt(spark, 200L, 12).localCheckpoint()
    val (le, _) = Kinship.pca(df, "gt", 3)
    val (la, _) = Kinship.pcaAuto(df, "gt", 3, maxDriverSamples = 100) // exact path
    val (lb, _) = Kinship.pcaAuto(df, "gt", 3, maxDriverSamples = 4,   // randomized path
      iters = 30)
    le.zip(la).foreach { case (a, b) => assertNear(b, a, 1e-12) }
    le.zip(lb).foreach { case (a, b) => assertNear(b, a, 1e-6 * math.max(1.0, le.head)) }
  }

  test("centeredDosages: null sample arrays and null alleles are missing calls") {
    // declared input type admits nulls (containsNull=true) — both eval
    // paths must agree with the null-tolerant HOF twin, not NPE
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(array(0,1), CAST(NULL AS ARRAY<INT>), array(0, CAST(NULL AS INT)), array(1,1))),
        |  (2L, array(CAST(NULL AS ARRAY<INT>), array(0, CAST(NULL AS INT))))
        |AS t(vid, gt)""".stripMargin)
    def collect(out: org.apache.spark.sql.DataFrame) =
      out.select("vid", "_z", "_p", "_w").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getDouble(2), r.getDouble(3))))
        .toMap
    val fused = collect(Kinship.centeredDosages(df, "gt"))
    val hof = collect(Kinship.centeredDosagesHof(df, "gt"))
    assert(fused.keySet === Set(1L)) // vid 2 has no fully-called sample
    assert(fused.keySet === hof.keySet)
    val (z, p, w) = fused(1L)
    val (ez, ep, ew) = hof(1L)
    assertNear(p, 0.75, 1e-12); assertNear(p, ep, 1e-12); assertNear(w, ew, 1e-12)
    assert(z === Seq(1.0 - 1.5, 0.0, 0.0, 2.0 - 1.5))
    z.zip(ez).foreach { case (a, b) => assertNear(a, b, 1e-12) }
  }

  test("meanImputedDosages: missing takes the called mean; all-missing stays null") {
    val df = Seq(
      (1L, Seq(Seq(0, 1), Seq(-1, -1), Seq(1, 1))),   // dosages 1,·,2 → mean 1.5
      (2L, Seq(Seq(-1, -1), Seq(-1, -1), Seq(-1, -1)))) // no mean to impute
      .toDF("vid", "gt")
    val out = Kinship.meanImputedDosages(df, "gt").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](2)).map(_.toSeq)).toMap
    assert(out(1L) === Some(Seq(1.0, 1.5, 2.0)))
    assert(out(2L) === None)
  }

  test("pcaLoadings: self-projection reproduces the pca scores") {
    val df = Seq(
      (1L, Seq(Seq(0, 0), Seq(0, 1), Seq(1, 1), Seq(1, 1))),
      (2L, Seq(Seq(0, 1), Seq(-1, -1), Seq(1, 1), Seq(0, 0))),
      (3L, Seq(Seq(0, 0), Seq(0, 0), Seq(0, 1), Seq(1, 1))),
      (4L, Seq(Seq(1, 1), Seq(0, 1), Seq(0, 0), Seq(0, 1)))).toDF("vid", "gt")
    val (eig, proj) = Kinship.pca(df, "gt", k = 3)
    val expected = proj.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val (eig2, loadings) = Kinship.pcaLoadings(df, "vid", "gt", k = 3)
    assert(eig.toSeq === eig2.toSeq)
    // projecting the SAME cohort through the loadings must give the
    // same coordinates: Z·L = U·Λ^(1/2)
    val got = Kinship.pcaProjectNew(df, loadings, "vid", "gt").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (i, v) =>
      v.zip(expected(i)).foreach { case (a, b) => assertNear(a, b, 1e-9) }
    }
  }

  test("pcaProjectNew places a new population-A-like sample on A's side") {
    val nV = 40
    val rows = (0 until nV).map { v =>
      val gts = (0 until 12).map { smp =>
        val base = if (smp < 6) 0 else 1
        val flip = (v * 31 + smp * 17) % 7 == 0
        val a = if (flip) 1 - base else base
        Seq(a, a)
      }
      (v.toLong, gts)
    }
    val ref = rows.toDF("vid", "gt")
    val (_, loadings) = Kinship.pcaLoadings(ref, "vid", "gt", k = 2)
    val refProj = Kinship.pcaProjectNew(ref, loadings, "vid", "gt").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).head).toMap
    val aSide = (0 until 6).map(refProj(_)) // population A's PC1 range
    // new cohort: one all-ref sample (A-like), one all-alt (B-like)
    val newbies = (0 until nV).map { v =>
      (v.toLong, Seq(Seq(0, 0), Seq(1, 1)))
    }.toDF("vid", "gt")
    val np = Kinship.pcaProjectNew(newbies, loadings, "vid", "gt").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).head).toMap
    // the A-like newcomer lands on A's sign side, B-like on the other
    assert(math.signum(np(0L)) === math.signum(aSide.sum / 6))
    assert(math.signum(np(1L)) === -math.signum(aSide.sum / 6))
  }

  test("pca separates two planted populations on PC1") {
    // 12 samples: 0-5 mostly ref (dosage 0), 6-11 mostly alt (dosage 2),
    // with a deterministic flip pattern for within-group variance
    val nV = 40
    val rows = (0 until nV).map { v =>
      val gts = (0 until 12).map { smp =>
        val base = if (smp < 6) 0 else 1
        val flip = (v * 31 + smp * 17) % 7 == 0
        val a = if (flip) 1 - base else base
        Seq(a, a)
      }
      (v.toLong, gts)
    }
    val df = rows.toDF("vid", "gt")
    val (eig, proj) = Kinship.pca(df, "gt", k = 3)
    assert(eig.length === 3)
    assert(eig(0) >= eig(1) && eig(1) >= eig(2))
    val pc1 = proj.orderBy(col("sample_idx")).collect()
      .map(r => r.getSeq[Double](1).head)
    val (grpA, grpB) = (pc1.take(6), pc1.drop(6))
    // PC1 splits the groups: all of A on one side of all of B
    assert(grpA.max < grpB.min || grpB.max < grpA.min,
      s"PC1 failed to separate populations: ${pc1.toSeq}")
    // the population split dominates the spectrum
    assert(eig(0) > 3.0 * eig(1),
      s"expected dominant first eigenvalue, got ${eig.toSeq}")
  }
}
