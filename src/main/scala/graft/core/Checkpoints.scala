package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}

/** Lineage-cut policy for iterative operators (PageRank / label
  * propagation / transitive clustering / LD clump / BPE rounds / …).
  *
  * Every iterative operator in this library must sever lineage once per
  * round — otherwise the logical plan grows with the iteration count and
  * analysis/codegen time explodes. HOW the cut materializes is a
  * deployment decision, not an algorithm decision, so it is centralized
  * here behind one session conf:
  *
  *   - default (conf unset): eager `localCheckpoint(true)` — blocks live
  *     in executor block managers. Fastest option and fine on a single
  *     box or a non-preemptible cluster, but a lost executor loses
  *     blocks whose lineage was just severed, killing the job
  *     unrecoverably.
  *   - `spark.graft.checkpointDir=<dir>`: eager RELIABLE
  *     `checkpoint()` — round state is written to the (HDFS/object-
  *     store/…) checkpoint dir, so executor loss mid-iteration recomputes
  *     from the stored round instead of failing the job. This is the
  *     setting for preemptible/spot clusters at 100 TB; the extra cost
  *     is one distributed write per round. For rank/label/frontier
  *     frames that write is small; operators that cut edge, adjacency,
  *     or shingle frames (hits, kCore, labelPropagation, shingleDedup)
  *     pay a corpus-scale write per round — weigh that against the
  *     restart cost of the whole iteration before opting in there.
  *
  * The conf is read at each cut, so callers can flip it per-job. The
  * `SparkContext` checkpoint dir is installed on first reliable use
  * (`setCheckpointDir` qualifies the path and creates a per-context
  * subdirectory, so equality with the raw conf value can't be used to
  * detect "already set" — a tiny per-context cache does instead). */
object Checkpoints {

  /** Session conf key: set to a fault-tolerant directory to make every
    * iterative lineage cut a reliable checkpoint. */
  val DirConf = "spark.graft.checkpointDir"

  /** Session conf key: storage level for LOCAL cuts (ignored when
    * [[DirConf]] routes cuts to reliable checkpoints). Any
    * [[org.apache.spark.storage.StorageLevel]] name parses —
    * `MEMORY_AND_DISK_SER` keeps round state serialized in memory
    * (~3–5× smaller for edge/row frames at the cost of per-access
    * deserialization), `DISK_ONLY` takes round state off the heap
    * entirely. The knob exists for iterative operators whose ROUND
    * STATE, not round count, is the binding constraint — the 111M-edge
    * CC rehearsal converges in 17 rounds but holds ~220M symmetric
    * edge rows of round state per cut, OOMing a 48 g single-box heap
    * that the serialized level fits (SURVEY §7.4). Default (unset):
    * Spark's own localCheckpoint default (MEMORY_AND_DISK,
    * deserialized) — fastest when state fits. */
  val LocalLevelConf = "spark.graft.cutStorageLevel"

  // raw conf value the context's checkpoint dir was installed from —
  // setCheckpointDir appends a UUID subdir, so remember what we passed.
  // Keyed by applicationId (a short string), NOT the SparkContext
  // itself: strong context keys would pin every stopped context in
  // long-lived JVMs that restart sessions.
  private val installed =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Cut lineage on `df`: reliable eager checkpoint when
    * [[DirConf]] is set, eager localCheckpoint otherwise.
    *
    * The inherited plan statistics are clamped to Long.MaxValue
    * ([[org.apache.spark.sql.graft.bridge.clampCheckpointStats]]):
    * checkpoints preserve the origin's ESTIMATED stats, and an
    * iterative operator that joins cut frames on both sides compounds
    * the estimate multiplicatively per round — doubly exponential in
    * rounds, overflowing BigInteger in the driver's stats visitor near
    * round 15 (the CcScaleDemo (d521caa) 1M-diameter find). Clamped stats still
    * say "too big to broadcast"; small frames keep their real sizes. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cp = spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (installed.get(sc.applicationId) != dir) {
          sc.setCheckpointDir(dir)
          installed.put(sc.applicationId, dir)
        }
        df.checkpoint(eager = true)
      case None =>
        spark.conf.getOption(LocalLevelConf).filter(_.nonEmpty) match {
          case Some(level) =>
            df.localCheckpoint(true,
              org.apache.spark.storage.StorageLevel.fromString(level))
          case None => df.localCheckpoint(true)
        }
    }
    org.apache.spark.sql.graft.bridge.clampCheckpointStats(cp)
  }

  /** Read one long metric of an observe-on-cut observation: a
    * `Dataset.observe` inside the plan that [[cut]] materializes fills
    * during the cut's own job, so a round's driver-side facts (row
    * counts, payload sizes, convergence flags, dangling mass) cost no
    * extra action. The observation arrives through the listener bus,
    * which is asynchronous: read it once, and only if it is still empty
    * wait for the bus to drain — one bounded wait of at most 2 s
    * (`Observation.get` would block forever if a foreign cut
    * implementation never ran the plan as an action) — then read once
    * more. An observation still empty after the wait, or filled
    * without its metrics, gives None; callers then compute the same
    * fact with an explicit aggregate, never assume a value. */
  def observedLong(spark: SparkSession, o: Observation, key: String): Option[Long] = {
    // `future.value` never blocks. A plan the optimizer folded to an
    // empty relation fills the observation with a schema-less empty row.
    def read(): Option[Row] =
      o.future.value.flatMap(_.toOption).filter(_.schema != null)
    val row = read().orElse(
      try {
        org.apache.spark.sql.graft.bridge.waitListenerBus(spark.sparkContext, 2000L)
        read()
      } catch { case NonFatal(_) => None })
    row.flatMap(r => Option(r.getAs[Any](key))).map(_.asInstanceOf[Number].longValue)
  }

  /** A fresh local temp root for a store written by a frame that is
    * read lazily — the root cannot go before the caller's last action,
    * so it is deleted recursively at JVM exit. */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** `.cut` suffix syntax so iterative pipelines read like the
    * `.localCheckpoint(true)` chains they replace. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cut: DataFrame = Checkpoints.cut(df)
  }
}
