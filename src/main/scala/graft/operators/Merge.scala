package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.CutOps

/** Table-maintenance operators: latest-wins upsert (the MERGE INTO of
  * changelog ingestion, without a table format) and SCD-2 validity
  * intervals. The reference engine has no analog; these are the
  * keep-a-100-TB-corpus-current operators of the SURVEY.md §2.5
  * extension surface.
  *
  * Scale shape: both operators are ONE key-partitioned window over the
  * union/changelog — no join, no driver collect. Spark 4 plans the
  * rank-1 filter of [[upsert]] as partial + final WindowGroupLimit
  * (each map task pre-drops losers before the shuffle), so the
  * exchange moves O(live keys), not O(history). A pathologically hot
  * key (millions of versions of one row) is the usual window skew
  * hazard — AQE splits the sort, and upstream compaction
  * (`sources.Compact`) is the durable fix.
  */
object Merge {

  /** Latest-wins upsert of `changes` into `base` (same schema, plus an
    * optional tombstone column in both): per key, the row with the
    * highest `versionCol` wins; `base` rows rank below `changes` rows
    * at equal version. When `deleteCol` is set, a winning row with
    * that boolean true deletes the key entirely (the MERGE ... WHEN
    * MATCHED AND del THEN DELETE clause); the flag column is dropped
    * from the output, `versionCol` is kept.
    *
    * Determinism: (version, source-rank) must totally order each key's
    * rows — with non-unique versions WITHIN `changes`, add a tie-break
    * to `versionCol` upstream (e.g. a change-sequence number). */
  def upsert(base: DataFrame, changes: DataFrame, keys: Seq[String],
             versionCol: String, deleteCol: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val all = base.withColumn("_src", lit(0))
      .unionByName(changes.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("_src").desc)
    val winner = all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
    deleteCol match {
      case Some(d) => winner.filter(!coalesce(col(d), lit(false))).drop(d)
      case None    => winner
    }
  }

  /** Streaming CDC upsert: maintain a latest-wins keyed store from a
    * changelog stream — MERGE INTO as a `foreachBatch` loop over a
    * hash-bucketed parquet store. Each micro-batch:
    *
    *  1. assigns every change row its key bucket
    *     (`pmod(hash(keys), nBuckets)` — a stored partition column);
    *  2. reads back ONLY the buckets the batch touches (partition
    *     pruning on `_bucket`; an idle 100 TB store costs nothing);
    *  3. runs [[upsert]] within those buckets;
    *  4. rewrites exactly those partitions (dynamic partition
    *     overwrite).
    *
    * So per-batch cost scales with the touched-bucket fraction, not the
    * store: size `nBuckets` so a typical batch touches a minority of
    * buckets (hot-key batches degrade gracefully to a compaction).
    * `nBuckets` is fixed at store creation — changing it re-keys the
    * layout (rewrite through [[upsert]] into a fresh path).
    *
    * Tombstones are STORED, not dropped (`deleteCol` rows win their key
    * and persist with the flag set; [[readUpsertStore]] filters them) —
    * dropping them would leave a fully-tombstoned bucket with no output
    * rows, and dynamic overwrite never rewrites a partition it emits
    * nothing for, so the dead rows would survive. The merged frame is
    * MATERIALIZED (eager [[graft.core.Checkpoints.cut]]) before the write: the
    * overwrite targets files its own plan just read (SURVEY §7.1
    * self-append lesson). Same non-transactional replay caveat as
    * DocPipeline.streamIncremental: upsert is idempotent per
    * (key, version), so batch replay converges, but a crash mid-rewrite
    * of a partition needs an atomic-commit table format in production.
    *
    * Returns the started query. */
  def streamUpsert(changes: DataFrame, storePath: String, keys: Seq[String],
                   versionCol: String, nBuckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be >= 1")
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val spark = b.sparkSession
        val batch = b.withColumn("_bucket", pmod(hash(keys.map(col): _*), lit(nBuckets)))
        val touched = batch.select(col("_bucket")).distinct()
          .collect().map(_.getInt(0)) // ≤ nBuckets values by construction
        if (touched.nonEmpty) {
          val storeExists = graft.sources.AtomicCommit.pathExists(spark, storePath)
          val existing =
            if (storeExists)
              spark.read.parquet(storePath)
                .filter(col("_bucket").isin(touched.map(Integer.valueOf).toSeq: _*))
            else batch.limit(0)
          val merged = upsert(existing, batch, keys, versionCol, deleteCol = None)
            .cut // materialize BEFORE overwriting inputs
          val mode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          // rebalance clusters rows by bucket before the partitioned
          // write (Ivf.writeCells' argument): without it every writer
          // task opens a file in every touched bucket dir — file count
          // grows with traffic, reads pay per-file metadata forever
          try merged.hint("rebalance", col("_bucket"))
            .write.mode("overwrite").partitionBy("_bucket").parquet(storePath)
          finally mode match {
            case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
            case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
          }
        }
      }
      .start()
  }

  /** [[streamUpsert]] under the write-new-then-commit protocol
    * (graft.sources.AtomicCommit — the r6 torn-state fix): each batch
    * writes its rewritten buckets into a FRESH `v=<N>/` directory and
    * publishes them by committing a bucket→version ownership manifest;
    * untouched buckets keep their old owner version, so nothing is
    * copied forward. A crash anywhere mid-batch leaves an orphan
    * version directory no reader resolves, and a reader concurrent
    * with a batch sees the previous manifest in full — never a mix.
    * [[readUpsertStoreAtomic]] resolves the manifest; `AtomicCommit
    * .vacuum` clears crash debris. No eager checkpoint needed anymore:
    * the write never overwrites files its own plan reads. Single
    * writer per store (foreachBatch guarantees it) — and under
    * orchestration retries, pass `fenceEpoch` from
    * `AtomicCommit.acquireEpoch` so a stalled previous attempt can
    * never publish after this one takes over: its next commit is
    * rejected at the fence and its query fails fast instead of
    * silently corrupting ownership. */
  def streamUpsertAtomic(changes: DataFrame, storeRoot: String, keys: Seq[String],
                         versionCol: String, nBuckets: Int = 64,
                         fenceEpoch: Option[Long] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be >= 1")
    import graft.sources.AtomicCommit
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val spark = b.sparkSession
        fenceEpoch.foreach(AtomicCommit.checkFence(spark, storeRoot, _)) // before the data write
        val batch = b.withColumn("_bucket", pmod(hash(keys.map(col): _*), lit(nBuckets)))
        val touched = batch.select(col("_bucket")).distinct()
          .collect().map(_.getInt(0)).sorted // ≤ nBuckets values by construction
        if (touched.nonEmpty) {
          val prior = AtomicCommit.latest(spark, storeRoot)
          val owners = prior.map(p => AtomicCommit.decodeOwners(p._2))
            .getOrElse(Map.empty[Int, Long])
          val newV = prior.map(_._1 + 1).getOrElse(1L)
          val touchedPaths = touched.toSeq.flatMap(bk =>
            owners.get(bk).map(v => s"${AtomicCommit.versionDir(storeRoot, v)}/_bucket=$bk"))
          // direct leaf-dir reads: the v=N/_bucket=K directories sit
          // ABOVE the given paths, so no partition column is inferred —
          // nothing can collide with a data column named `v`. _bucket
          // is re-derived (pure key hash, identical by construction).
          val existing =
            if (touchedPaths.nonEmpty)
              spark.read.parquet(touchedPaths: _*)
                .withColumn("_bucket", pmod(hash(keys.map(col): _*), lit(nBuckets)))
            else batch.limit(0)
          upsert(existing, batch, keys, versionCol, deleteCol = None)
            .write.mode("overwrite") // clobbers only uncommitted crash debris
            .partitionBy("_bucket").parquet(AtomicCommit.versionDir(storeRoot, newV))
          val manifest = AtomicCommit.encodeOwners(
            owners ++ touched.map(_ -> newV))
          AtomicCommit.commitOrFail(spark, storeRoot, newV, manifest, fenceEpoch)
        }
      }
      .start()
  }

  /** Current live state of a [[streamUpsertAtomic]] store at its
    * latest committed version: bucket data dirs resolved through the
    * ownership manifest, tombstones filtered like [[readUpsertStore]]. */
  def readUpsertStoreAtomic(spark: org.apache.spark.sql.SparkSession, storeRoot: String,
                            deleteCol: Option[String] = None): DataFrame = {
    import graft.sources.AtomicCommit
    val (v, _) = AtomicCommit.latest(spark, storeRoot)
      .getOrElse(sys.error(s"no committed version under $storeRoot"))
    readUpsertStoreAt(spark, storeRoot, v, deleteCol)
  }

  /** [[readUpsertStoreAtomic]] AS OF committed version `version` —
    * time travel over the upsert store. Version `v`'s manifest is the
    * FULL bucket→owner map at commit time (each commit re-encodes
    * `owners ++ touched`), so resolving the store at `v` is exactly the
    * same read as "latest", just against an older manifest; bucket data
    * from before `v` that `v` still owned is readable until vacuum's
    * retention floor passes every manifest referencing it. Fails fast
    * when `version` was never committed or was vacuumed. */
  def readUpsertStoreAt(spark: org.apache.spark.sql.SparkSession, storeRoot: String,
                        version: Long,
                        deleteCol: Option[String] = None): DataFrame = {
    import graft.sources.AtomicCommit
    val (_, body) = AtomicCommit.at(spark, storeRoot, version)
      .getOrElse(sys.error(
        s"version $version is not committed under $storeRoot (never written, or " +
          s"vacuumed); committed: ${AtomicCommit.committedVersions(spark, storeRoot).mkString(", ")}"))
    val paths = AtomicCommit.decodeOwners(body).toSeq.map { case (bk, v) =>
      s"${AtomicCommit.versionDir(storeRoot, v)}/_bucket=$bk"
    }
    val raw = spark.read.parquet(paths: _*)
    deleteCol match {
      case Some(d) => raw.filter(!coalesce(col(d), lit(false)))
      case None    => raw
    }
  }

  /** Current live state of a [[streamUpsert]] store: tombstoned keys
    * filtered out, the bucket column dropped. */
  def readUpsertStore(spark: org.apache.spark.sql.SparkSession, storePath: String,
                      deleteCol: Option[String] = None): DataFrame = {
    val raw = spark.read.parquet(storePath).drop("_bucket")
    deleteCol match {
      case Some(d) => raw.filter(!coalesce(col(d), lit(false)))
      case None    => raw
    }
  }

  /** SCD-2 validity intervals from a change log: each change row
    * becomes a version valid from its own `tsCol` until the key's next
    * change (`valid_to` null = still current). `tieBreak` columns make
    * the per-key order total when `tsCol` alone has ties (two changes
    * in one grain — the interval between them is empty but the order,
    * and therefore the surviving current row, stays deterministic).
    *
    * One window (lead) per key partition — embarrassingly parallel
    * across keys; history length per key is the sort cost. */
  def scd2(changeLog: DataFrame, keys: Seq[String], tsCol: String,
           tieBreak: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "scd2 needs at least one key column")
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    changeLog
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
