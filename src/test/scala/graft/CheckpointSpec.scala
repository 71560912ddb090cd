package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.Checkpoints
import graft.ext.{Dedup, Graph}

/** Reliable-checkpoint opt-in (VERDICT r9 task #1): with
  * `spark.graft.checkpointDir` set, every iterative lineage cut goes to
  * the reliable checkpoint store instead of executor-local blocks — so
  * a preemptible cluster resumes a round from storage instead of dying.
  * These specs prove (a) results are bit-identical to the local
  * default, (b) round state really lands in the reliable dir, (c) the
  * checkpointed frame survives with its lineage truncated (recompute
  * reads the store, not the severed parent plan). */
class CheckpointSpec extends SparkTestBase {

  private def rddDirs(root: Path): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("rdd-")).toSeq

  private def withReliable[A](body: Path => A): A = withTempDir("graft-ckpt") { dir =>
    spark.conf.set(Checkpoints.DirConf, dir.toString)
    try body(dir)
    finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("clampCheckpointStats: inherited estimates above Long.MaxValue are " +
      "capped (no execution); sane estimates pass through untouched") {
    import org.apache.spark.sql.graft.bridge
    // a plan whose ESTIMATED size is astronomically large but which is
    // never executed: three cross-joined 10^6 ranges → ~10^18 rows ×
    // row width ≫ 2^63. A LAZY localCheckpoint wraps it in LogicalRDD
    // with the inherited estimate; the clamp must rewrite the stats
    // without triggering the (impossible) materialization.
    val a = spark.range(1000000L)
    val monster = a.crossJoin(a.select(col("id").as("j")))
      .crossJoin(a.select(col("id").as("k")))
      .localCheckpoint(false)
    val inherited = monster.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(inherited > BigInt(Long.MaxValue), s"fixture too small: $inherited")
    val clamped = bridge.clampCheckpointStats(monster.toDF())
    val st = clamped.queryExecution.optimizedPlan.stats
    assert(st.sizeInBytes === BigInt(Long.MaxValue))
    assert(st.rowCount.forall(_ <= BigInt(Long.MaxValue)))

    // sane stats: same Dataset back (no-op branch), estimate preserved
    val small = Checkpoints.cut(spark.range(10).toDF())
    val smallSize = small.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(smallSize > 0 && smallSize < BigInt(1000000L),
      s"small frame lost its real size estimate: $smallSize")
    assert(small.count() === 10L)
  }

  test("cut: conf unset keeps the local default; set routes to the reliable dir") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // default: localCheckpoint — no reliable files anywhere
    val local = Checkpoints.cut(df)
    assert(local.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
    withReliable { dir =>
      val reliable = Checkpoints.cut(df)
      assert(reliable.orderBy("id").as[(Long, String)].collect().toSeq ===
        Seq((1L, "a"), (2L, "b")))
      assert(rddDirs(dir).nonEmpty,
        s"expected reliable checkpoint data under $dir")
    }
  }

  test("cut: cutStorageLevel knob persists local cuts at the named level, " +
      "values unchanged; bogus level fails loudly; reliable dir ignores it") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    def persistedLevels(): Set[org.apache.spark.storage.StorageLevel] =
      spark.sparkContext.getPersistentRDDs.values
        .map(_.getStorageLevel).toSet
    try {
      spark.conf.set(Checkpoints.LocalLevelConf, "DISK_ONLY")
      val cutDf = Checkpoints.cut(df)
      assert(cutDf.orderBy("id").as[(Long, String)].collect().toSeq ===
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      assert(persistedLevels().contains(
        org.apache.spark.storage.StorageLevel.DISK_ONLY),
        s"no DISK_ONLY block among ${persistedLevels()}")
      // a typo'd level is a config bug — must raise, not silently
      // fall back to the default
      spark.conf.set(Checkpoints.LocalLevelConf, "MOSTLY_RAM")
      assertThrows[IllegalArgumentException] { Checkpoints.cut(df) }
      // reliable routing wins over the local level knob
      spark.conf.set(Checkpoints.LocalLevelConf, "DISK_ONLY")
      withReliable { dir =>
        val reliable = Checkpoints.cut(df)
        assert(reliable.count() === 3L)
        assert(rddDirs(dir).nonEmpty)
      }
    } finally spark.conf.unset(Checkpoints.LocalLevelConf)
  }

  test("pageRank: reliable rounds persist per-iteration state, same ranks") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L)).toDF("s", "t")
    val localRanks = Graph.pageRank(e, "s", "t", 3).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    withReliable { dir =>
      val reliableRanks = Graph.pageRank(e, "s", "t", 3).orderBy("node")
        .as[(Long, Long)].collect().toSeq
      assert(reliableRanks === localRanks)
      // 3 iterations + nodes/deg/init cuts — several rounds in the store
      assert(rddDirs(dir).size >= 4,
        s"expected one reliable checkpoint per round, found ${rddDirs(dir).size}")
    }
  }

  test("transitiveClusters: reliable rounds match the local default") {
    import spark.implicits._
    // two chains that must collapse to their min ids: 1-2-3-4 and 10-11
    val e = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("10", "11")).toDF("x", "y")
    val local = Dedup.transitiveClusters(e, "x", "y").orderBy("id")
      .as[(String, String)].collect().toSeq
    withReliable { dir =>
      val reliable = Dedup.transitiveClusters(e, "x", "y").orderBy("id")
        .as[(String, String)].collect().toSeq
      assert(reliable === local)
      assert(rddDirs(dir).nonEmpty)
    }
  }

  test("block eviction: reliable cut survives total block loss, local cut fails") {
    import spark.implicits._
    // executor-loss simulation in local[*]: a lost executor drops its
    // cached blocks; evicting EVERY persistent RDD's blocks reproduces
    // the failure mode exactly — localCheckpoint severed the lineage,
    // so with the blocks gone there is nothing left to recompute from
    def evictAllBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def rootMsgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val base = spark.range(0, 10000).toDF("id").withColumn("v", col("id") * 2)

    val local = Checkpoints.cut(base)
    assert(local.count() === 10000L)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "local cut must hold blocks in the block manager")
    evictAllBlocks()
    val e = intercept[Exception] { local.agg(sum("v")).as[Long].head() }
    assert(rootMsgs(e).contains("Checkpoint block"),
      s"expected the lost-checkpoint-block failure, got: ${rootMsgs(e)}")

    withReliable { dir =>
      val reliable = Checkpoints.cut(base)
      assert(reliable.count() === 10000L)
      evictAllBlocks()
      // the round state lives in the reliable store — block loss is a
      // re-read, not a job failure
      assert(reliable.agg(sum("v")).as[Long].head() === 9999L * 10000L)
      assert(rddDirs(dir).nonEmpty)
    }
  }

  test("cut: reliable frame recomputes from the store after the cut") {
    import spark.implicits._
    withReliable { dir =>
      val base = Seq(1L, 2L, 3L).toDF("id")
      val cutFrame = Checkpoints.cut(base.withColumn("sq", col("id") * col("id")))
      // lineage is truncated: the physical plan scans the checkpoint,
      // not the parent LocalRelation
      val plan = cutFrame.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LocalRelation") || plan.contains("Scan"),
        s"expected checkpoint-backed plan, got:\n$plan")
      // a SECOND action after the first must still produce the rows —
      // i.e. the stored round is re-readable (resume), not a one-shot
      assert(cutFrame.agg(sum("sq")).as[Long].head() === 14L)
      assert(cutFrame.orderBy("id").as[(Long, Long)].collect().toSeq ===
        Seq((1L, 1L), (2L, 4L), (3L, 9L)))
      assert(rddDirs(dir).nonEmpty)
    }
  }
}
