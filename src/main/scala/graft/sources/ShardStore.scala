package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Corpus

/** Training-shard writer — the pipeline's last mile: turn a prepared
  * corpus into N reproducible parquet shards plus a verifiable
  * MANIFEST, so a trainer (or an auditor, months later) can check that
  * what it reads is byte-for-byte what the pipeline wrote.
  *
  * Sharding is `pmod(orderHash(id), numShards)` — a pure function of
  * the row id, so a document's shard never depends on partitioning,
  * input order, task retries, or corpus growth elsewhere (the
  * assignSplits stability argument applied to shards). The manifest
  * fingerprint per shard is `bit_xor` of a whole-row hash:
  * order-INDEPENDENT (parquet row order within a shard is layout, not
  * content), overflow-free, and cheap to recompute at read time.
  *
  * Scale shape: one hash-partitioned write (the only shuffle), one
  * partial+final aggregation for the manifest over the same scan; no
  * driver-side iteration at any corpus size. */
object ShardStore {

  /** Write `df` as `numShards` hash-sharded parquet directories under
    * `path` (partition column `shard`) and a `_manifest` parquet next
    * to them; returns the manifest (shard, n_rows, fingerprint).
    * `hashCols` selects the columns that DEFINE content identity
    * (default: every input column). */
  def writeShards(df: DataFrame, idCol: String, numShards: Int, path: String,
                  hashCols: Seq[String] = Nil): DataFrame = {
    require(numShards >= 1, s"numShards=$numShards must be >= 1")
    val cols = if (hashCols.nonEmpty) hashCols else df.columns.toSeq
    // numeric ids take the documented LCG directly; any other type
    // hashes to a long first — the raw form would ANSI-throw on string
    // ids ('doc-00042', URLs, UUIDs) or round-trip numeric STRINGS
    // through doubles past 2^53 precision
    val idNum = df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => col(idCol)
      case _ => xxhash64(col(idCol))
    }
    // rebalance, not repartition(col): hash-partitioning numShards
    // distinct values into the session's shuffle-partition count leaves
    // most partitions empty (collided shards double up, guide §2.5) and
    // pins one writer task per shard regardless of skew. The REBALANCE
    // hint clusters rows by shard while AQE sizes writer tasks — small
    // shards share a task, a hot shard splits across several (same
    // one-file-per-shard-per-task layout; the [[graft.ext.Ivf]] writeCells /
    // [[Compact.compactTo]] argument). Without AQE it degrades to the
    // old hash repartition. Manifest content is order-independent
    // (bit_xor), so the layout change is invisible to every reader.
    df.withColumn("shard", pmod(Corpus.orderHash(idNum), lit(numShards.toLong)))
      .hint("rebalance", col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // fingerprint the files that LANDED, not the in-memory frame — the
    // manifest certifies bytes on disk (and costs a scan of compressed
    // parquet, not a second pass over the upstream pipeline)
    val onDisk = df.sparkSession.read.parquet(path)
    val manifest = shardManifest(onDisk, cols)
    manifest.write.mode("overwrite").parquet(s"$path/_manifest")
    // schema sidecar: the version's reader-visible schema as JSON, the
    // authority schema evolution aligns old versions against (underscore
    // prefix keeps it out of parquet directory scans)
    writeSchemaSidecar(df.sparkSession, path, onDisk.schema)
    manifest
  }

  private def sidecarPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_schema.json")

  private def writeSchemaSidecar(spark: SparkSession, path: String,
                                 schema: org.apache.spark.sql.types.StructType): Unit = {
    val f = AtomicCommit.fs(spark, path)
    val out = f.create(sidecarPath(path), true)
    try out.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The reader-visible schema of a version directory: the sidecar when
    * present, else the parquet footprint (stores written before the
    * sidecar existed). */
  private[sources] def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val f = AtomicCommit.fs(spark, path)
    val p = sidecarPath(path)
    if (f.exists(p)) {
      val in = f.open(p)
      val json =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    } else spark.read.parquet(path).schema
  }

  /** The shard → (n_rows, fingerprint) aggregation; `bit_xor` over
    * xxhash64 of the content columns. */
  private def shardManifest(sharded: DataFrame, cols: Seq[String]): DataFrame =
    sharded
      .withColumn("_h", xxhash64(cols.map(col): _*))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(_h)").as("fingerprint"))

  /** [[writeShards]] under the [[AtomicCommit]] protocol: shards and
    * manifest land in a fresh `v=<N>/` directory and publish with one
    * atomic commit — a crash between shard writes leaves debris no
    * reader sees, and readers concurrent with a rewrite keep the
    * previous version in full (the r6 torn-state fix). Returns
    * (version, manifest). */
  def writeShardsAtomic(df: DataFrame, idCol: String, numShards: Int, root: String,
                        hashCols: Seq[String] = Nil): (Long, DataFrame) = {
    val spark = df.sparkSession
    val v = AtomicCommit.nextVersion(spark, root)
    val manifest = writeShards(df, idCol, numShards, AtomicCommit.versionDir(root, v), hashCols)
    require(AtomicCommit.commit(spark, root, v, ""),
      s"version $v already committed under $root — concurrent writer?")
    (v, manifest)
  }

  /** Data directory of the latest COMMITTED version. */
  def latestShardPath(spark: SparkSession, root: String): String = {
    val (v, _) = AtomicCommit.latest(spark, root)
      .getOrElse(sys.error(s"no committed shard version under $root"))
    AtomicCommit.versionDir(root, v)
  }

  /** Read / audit the latest committed version of an atomic store. */
  def readShardsLatest(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(latestShardPath(spark, root))

  /** Data directory of committed version `v` — time travel. Fails fast
    * when `v` was never committed or has been vacuumed past the
    * retention floor (its commit file is gone), rather than scanning a
    * missing or debris directory. */
  def shardPathAt(spark: SparkSession, root: String, v: Long): String = {
    require(AtomicCommit.at(spark, root, v).isDefined,
      s"version $v is not committed under $root (never written, or vacuumed); " +
        s"committed: ${AtomicCommit.committedVersions(spark, root).mkString(", ")}")
    AtomicCommit.versionDir(root, v)
  }

  /** Read the store AS OF committed version `v`: the reproducibility
    * primitive — a trainer records the version it consumed, an auditor
    * re-reads exactly those bytes months later (until vacuum's
    * retention floor passes `v`). */
  def readShardsAt(spark: SparkSession, root: String, v: Long): DataFrame =
    spark.read.parquet(shardPathAt(spark, root, v))

  /** Read committed version `v` ALIGNED TO the latest committed
    * version's schema — the schema-evolution read: columns ADDED since
    * `v` are null-filled at their current type (add-column-with-default
    * semantics), columns DROPPED since `v` are omitted, and same-name
    * columns are cast to the current type (no-op unless the type
    * widened). Column order is the latest schema's, so unions across
    * versions line up. Raw as-of bytes stay available via
    * [[readShardsAt]]. Resolution is two sidecar reads — the data scan
    * itself is unchanged (nulls come from the projection, not disk). */
  def readShardsAtEvolved(spark: SparkSession, root: String, v: Long): DataFrame = {
    val (latestV, _) = AtomicCommit.latest(spark, root)
      .getOrElse(sys.error(s"no committed shard version under $root"))
    val target = schemaOf(spark, AtomicCommit.versionDir(root, latestV))
    val old = readShardsAt(spark, root, v)
    val oldCols = old.columns.toSet
    old.select(target.fields.toSeq.map { f =>
      if (oldCols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Content diff between two committed versions — the CDC read an
    * incremental trainer runs ("give me the net-new documents since the
    * version I last consumed"): one row per content change, `change` ∈
    * ('insert', 'delete'). Identity is xxhash64 over `hashCols`
    * (default: the columns the two versions share, minus `shard`), so
    * the diff is a SET diff over content — within-version duplicates
    * collapse, and a row counts as changed when any identity column
    * changed. Schema evolution composes: only shared columns diff.
    *
    * Scale shape: two version scans, identity hash computed map-side,
    * one hash-keyed dedup + anti join per direction — never a full-row
    * comparison join, and only changed rows survive the exchanges. */
  def diffVersions(spark: SparkSession, root: String, vOld: Long, vNew: Long,
                   hashCols: Seq[String] = Nil): DataFrame = {
    val old = readShardsAt(spark, root, vOld)
    val neu = readShardsAt(spark, root, vNew)
    val cols =
      if (hashCols.nonEmpty) hashCols
      else (old.columns.toSet.intersect(neu.columns.toSet) - "shard").toSeq.sorted
    require(cols.nonEmpty,
      s"versions $vOld and $vNew share no identity columns to diff on")
    def keyed(df: DataFrame) =
      df.select(cols.map(col) :+ xxhash64(cols.map(col): _*).as("_h"): _*)
    // the hash BUCKETS the join; identity is decided on the columns
    // themselves (null-safe) — keying the set-diff purely on 64 bits
    // would silently drop a real insert/delete on a birthday collision
    // (near-certain at the 10^10-row scale this store targets)
    def oneSide(keep: DataFrame, drop: DataFrame, tag: String) = {
      val d = drop.dropDuplicates(cols)
      val joinCond = (keep("_h") === d("_h")) +: cols.map(c => keep(c) <=> d(c))
      keep.dropDuplicates(cols)
        .join(d, joinCond.reduce(_ && _), "left_anti")
        .drop("_h")
        .withColumn("change", lit(tag))
    }
    oneSide(keyed(neu), keyed(old), "insert")
      .unionByName(oneSide(keyed(old), keyed(neu), "delete"))
  }

  /** [[validateShards]] against version `v`'s own manifest. */
  def validateShardsAt(spark: SparkSession, root: String, v: Long,
                       hashCols: Seq[String] = Nil): DataFrame =
    validateShards(spark, shardPathAt(spark, root, v), hashCols)

  def validateShardsLatest(spark: SparkSession, root: String,
                           hashCols: Seq[String] = Nil): DataFrame =
    validateShards(spark, latestShardPath(spark, root), hashCols)

  /** Recompute the manifest from what is ON DISK and compare against
    * the stored one; returns per-shard rows with an `ok` flag (false =
    * corruption, truncation, or post-hoc mutation). The audit a trainer
    * runs before consuming a shard set. */
  def validateShards(spark: SparkSession, path: String,
                     hashCols: Seq[String] = Nil): DataFrame = {
    val data = spark.read.parquet(path)
    val cols = if (hashCols.nonEmpty) hashCols
      else data.columns.toSeq.filter(_ != "shard")
    val actual = shardManifest(data, cols)
      .withColumnRenamed("n_rows", "actual_rows")
      .withColumnRenamed("fingerprint", "actual_fp")
    spark.read.parquet(s"$path/_manifest")
      .join(actual, Seq("shard"), "full_outer")
      .select(col("shard"), col("n_rows"), col("actual_rows"),
        col("fingerprint"), col("actual_fp"),
        (col("n_rows") <=> col("actual_rows") &&
          col("fingerprint") <=> col("actual_fp")).as("ok"))
  }
}
