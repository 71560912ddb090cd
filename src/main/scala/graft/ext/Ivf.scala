package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the third
  * similarity path beside brute force and hyperplane LSH: a coarse
  * k-means quantizer partitions the corpus into cells; a query probes
  * only the `nprobe` nearest cells.
  *
  * Scale shape: training is `iters` rounds of (broadcast centroids →
  * map-side assign → vector-sum Aggregator per cell) — no explode, one
  * tiny shuffle per round (k buffers per partition). Search touches
  * ~nprobe/k of the corpus; with the cell id written into a partition
  * column, cells prune at the parquet scan.
  *
  * Deterministic by construction: centroids init from the k lowest ids
  * (any deterministic order works — k-means converges from any seed) and
  * Lloyd iterations are fixed-count, so indexes reproduce across runs —
  * the same no-RNG-state policy as Similarity.lshBucket.
  */
object Ivf {

  /** Squared L2 distance between two vector columns — codegen'd
    * (VectorLoops.dist2; identical doubles to the zip_with/aggregate
    * HOF spec form, same element order and cast points). */
  private def dist2(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.bridge.column(graft.functions.Dist2Expr(
      org.apache.spark.sql.graft.bridge.expression(a),
      org.apache.spark.sql.graft.bridge.expression(b)))

  /** Nearest centroid id for `vec` given a driver-side centroid list. */
  private def nearest(vec: Column, centroids: Seq[(Int, Array[Double])]): Column = {
    val ds = centroids.map { case (cid, c) =>
      struct(dist2(vec, lit(c)).as("d"), lit(cid).as("cid"))
    }
    array_min(array(ds: _*)).getField("cid")
  }

  /** Train the coarse quantizer: returns (cell id, centroid) pairs.
    * Centroid count is `k`; `iters` Lloyd rounds (2-3 suffice for a
    * coarse quantizer).
    *
    * Init: by default (`spreadInit = true`) seeds are the k smallest
    * `xxhash64(id)` values: fully deterministic (pure id hash, no RNG
    * state), pseudo-uniformly spread over the corpus, and still a
    * distributed top-k (TakeOrderedAndProject) — NOT a global sort and
    * NOT a `sample()`, whose output depends on partition layout. This
    * is the right default because real embedding stores are id-
    * CORRELATED (appended in topic/crawl order), where lowest-id
    * seeding clusters all seeds in one region and Lloyd may leave far
    * cells coarse. `spreadInit = false` seeds from the k lowest ids
    * instead — kept for replicating fixed published seedings (and the
    * declared-query DuckDB twins, which express id-order seeding as
    * plain `ORDER BY id LIMIT k` SQL).
    *
    * `maxTrainRows`: when set, the Lloyd iterations (and the seed
    * scan) run over a DETERMINISTIC uniform subsample — the ~m rows
    * with the smallest `xxhash64(id)` (hash ties at the threshold
    * included), found by radix descent
    * ([[graft.operators.Selection.nthSmallest]]: four ≤65,536-row
    * histogram envelopes, no sort, no sampler RNG state) and kept by a
    * map-only filter. A coarse quantizer needs a few hundred points
    * per centroid, not the corpus (FAISS's training convention), so at
    * index scale this turns each Lloyd round from a full-corpus pass
    * into a sample pass; the one full pass that remains is the final
    * assignment the caller does anyway. Training on the subsample ≡
    * training on `corpus.filter(xxhash64(id) <= t)` exactly, and
    * reproduces across runs and partitionings (pure id-hash
    * membership, same reasoning as the spread init). */
  def train(corpus: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int = 2,
            spreadInit: Boolean = true,
            maxTrainRows: Option[Long] = None): Seq[(Int, Array[Double])] = {
    val trainSet = maxTrainRows match {
      case Some(m) =>
        require(m >= k, s"maxTrainRows=$m must be >= k=$k")
        if (corpus.count() <= m) corpus
        else {
          val (t, _) = graft.operators.Selection.nthSmallest(
            corpus.select(xxhash64(col(idCol)).as("_th")), "_th", m)
          // materialize the ~m-row sample ONCE: without the cut every
          // Lloyd round (and the seed scan) would re-read the full
          // corpus just to re-apply this map-side filter
          import graft.core.Checkpoints.CutOps
          corpus.filter(xxhash64(col(idCol)) <= t).cut
        }
      case None => corpus
    }
    val seedOrder = if (spreadInit) xxhash64(col(idCol)) else col(idCol)
    val init = trainSet.orderBy(seedOrder, col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      .zipWithIndex.map { case (c, i) => (i, c) }.toSeq

    (0 until iters).foldLeft(init) { (centroids, _) =>
      val agg = udaf(VecMeanAgg)
      val updated = trainSet
        .withColumn("_cell", nearest(col(vecCol), centroids))
        .groupBy("_cell")
        .agg(agg(col(vecCol).cast("array<double>")).as("m"))
        .select(col("_cell"), col("m.mean"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .toMap
      // empty cells keep their previous centroid
      centroids.map { case (cid, c) => (cid, updated.getOrElse(cid, c)) }
    }
  }

  /** Assign each corpus row its IVF cell (write this as a partition
    * column for scan-level pruning at rest). */
  def withCell(corpus: DataFrame, vecCol: String, centroids: Seq[(Int, Array[Double])], cellCol: String = "ivf_cell"): DataFrame =
    corpus.withColumn(cellCol, nearest(col(vecCol), centroids))

  /** [[withCell]] additionally emitting the squared-L2 distance to the
    * owning centroid — the prototypicality measure D4-style pruning
    * ranks on ([[Dedup.prototypicalityPrune]]). Same argmin tie rule
    * as [[withCell]] (struct min: distance, then cell id). */
  def withCellDist(corpus: DataFrame, vecCol: String,
                   centroids: Seq[(Int, Array[Double])],
                   cellCol: String = "ivf_cell",
                   distCol: String = "ivf_dist2"): DataFrame = {
    val ds = centroids.map { case (cid, c) =>
      struct(dist2(col(vecCol), lit(c)).as("d"), lit(cid).as("cid"))
    }
    corpus.withColumn("_mind", array_min(array(ds: _*)))
      .withColumn(cellCol, col("_mind").getField("cid"))
      .withColumn(distCol, col("_mind").getField("d"))
      .drop("_mind")
  }

  /** Cluster an index frame by its cell column before a
    * `partitionBy(cellCol)` write. Without it, every writer task opens
    * a file in every cell directory it sees rows for — file count ≈
    * upstream partitions × cells (a 32-partition build over 1,024
    * cells lands ~32k near-empty files), and every later read pays
    * per-file listing + footer metadata (the [[graft.sources
    * .AppendStore]] small-files argument, amplified by the partition
    * column). The AQE REBALANCE hint is the idiomatic fix: one shuffle
    * on the cell id whose output partitions AQE sizes to the advisory
    * target — small cells coalesce into shared writer tasks (one file
    * per cell either way; each file holds ONE cell's rows because the
    * rows are hash-clustered by cell), a skewed hot cell SPLITS across
    * tasks instead of bottlenecking one writer. Write-path cost (one
    * extra exchange per index build/append/compact/retrain) paying
    * for every read — the index trade this store makes everywhere.
    * Without AQE the hint degrades to a plain hash repartition by
    * cell: same file counts, no skew split. */
  private def byCell(df: DataFrame, cellCol: String): DataFrame =
    df.hint("rebalance", col(cellCol))

  /** Persist the corpus as an IVF index: the cell id becomes a PARTITION
    * column, so a probe's `isin(cells)` filter prunes whole cells at the
    * parquet scan (IvfSpec asserts the pruned file count). Build once,
    * probe many times — assignment is never recomputed at query time. */
  def saveIndex(
      corpus: DataFrame, vecCol: String, centroids: Seq[(Int, Array[Double])],
      path: String, cellCol: String = "ivf_cell"): Unit =
    byCell(withCell(corpus, vecCol, centroids, cellCol), cellCol)
      .write.mode("overwrite").partitionBy(cellCol).parquet(path)

  /** Persist the trained centroids next to the index data (underscore
    * dir — invisible to the partitioned scan), so a DIFFERENT job can
    * probe a saved index without retraining: the centroid list is the
    * quantizer, and until now it lived only in the building driver's
    * memory. */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    centroids: Seq[(Int, Array[Double])], path: String): Unit = {
    import spark.implicits._
    centroids.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** Load the quantizer written by [[saveCentroids]], cell order
    * restored. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[(Int, Array[Double])] =
    spark.read.parquet(s"$path/_centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq

  /** [[saveIndex]] under the [[graft.sources.AtomicCommit]] protocol:
    * index data + centroid sidecar land in a fresh `v=<N>/` directory
    * and publish with one atomic commit — a crash mid-rebuild leaves
    * debris no reader sees, concurrent readers keep the previous index
    * in full, and old versions stay probe-able (time travel) until
    * vacuumed. Returns (version, index path). */
  def saveIndexAtomic(corpus: DataFrame, idCol: String, vecCol: String,
                      root: String, k: Int, iters: Int = 2,
                      cellCol: String = "ivf_cell",
                      spreadInit: Boolean = true,
                      maxTrainRows: Option[Long] = None): (Long, String) = {
    import graft.sources.AtomicCommit
    val spark = corpus.sparkSession
    val v = AtomicCommit.nextVersion(spark, root)
    val dir = AtomicCommit.versionDir(root, v)
    val centroids = train(corpus, idCol, vecCol, k, iters, spreadInit, maxTrainRows)
    saveIndex(corpus, vecCol, centroids, dir, cellCol)
    saveCentroids(spark, centroids, dir)
    val census = writeCensusOfDir(spark, dir, cellCol)
    require(AtomicCommit.commit(spark, root, v,
        AtomicCommit.encodeCensusLine(census)),
      s"version $v already committed under $root — concurrent writer?")
    (v, dir)
  }

  /** Data directory of the latest committed index version. */
  def latestIndexPath(spark: org.apache.spark.sql.SparkSession, root: String): String = {
    import graft.sources.AtomicCommit
    val (v, _) = AtomicCommit.latest(spark, root)
      .getOrElse(sys.error(s"no committed IVF index under $root"))
    AtomicCommit.versionDir(root, v)
  }

  /** Segment data directories composing committed version `v` (oldest
    * first): a full rebuild's manifest is empty — its own dir is the
    * whole index; an [[appendToIndexAtomic]] manifest lists every
    * composed version. */
  def indexSegmentsAt(spark: org.apache.spark.sql.SparkSession,
                      root: String, v: Long, body: String): Seq[String] = {
    import graft.sources.AtomicCommit
    AtomicCommit.decodeSegments(body)
      .getOrElse(Seq(v))
      .map(AtomicCommit.versionDir(root, _))
  }

  /** Segment dirs of the LATEST committed index version. */
  def indexSegments(spark: org.apache.spark.sql.SparkSession,
                    root: String): Seq[String] = {
    import graft.sources.AtomicCommit
    val (v, body) = AtomicCommit.latest(spark, root)
      .getOrElse(sys.error(s"no committed IVF index under $root"))
    indexSegmentsAt(spark, root, v, body)
  }

  /** The latest committed index as ONE DataFrame — a union of the
    * segment scans, each still pruned by cell-partition filters (the
    * `isin(cells)` pushdown applies per segment scan, so a probe reads
    * only the probed cells of every segment). Segments may carry
    * different attribute columns (a full rebuild keeps the corpus's
    * payload columns; an append ships whatever the new batch had) —
    * the union aligns by name and null-fills the gaps, the
    * [[graft.sources.ShardStore.readShardsAtEvolved]] convention. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    readSegments(spark, indexSegments(spark, root))

  /** One committed serving view: version, segment dirs, index frame,
    * centroids, and census — ALL derived from ONE `latest()` manifest
    * fetch. */
  final case class IndexSnapshot(version: Long, segments: Seq[String],
                                 index: DataFrame,
                                 centroids: Seq[(Int, Array[Double])],
                                 census: Map[Int, Long])

  /** Resolve the latest committed index ONCE and hand back everything
    * a serve path needs (r17 — the ServeRace rehearsal): a reader that
    * assembles the pieces itself ([[readIndex]] + [[loadCentroids]] +
    * [[indexCellCounts]] is THREE independent `latest()` resolutions)
    * can straddle a racing [[retrainAtomic]] commit and pair OLD
    * centroids with NEW cell assignments — probes then explode to
    * cells the rows were not bucketed by, the budget join matches
    * little or nothing, and recall collapses SILENTLY (no error, just
    * wrong emptiness). Resolving every piece from one manifest makes a
    * serve read a committed snapshot by construction; a vacuum racing
    * the lazy segment scan still fails LOUDLY (missing files — retry
    * and resolve the next snapshot), never silently. */
  def indexSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                    cellCol: String = "ivf_cell"): IndexSnapshot = {
    import graft.sources.AtomicCommit
    val (v, body) = AtomicCommit.latest(spark, root)
      .getOrElse(sys.error(s"no committed IVF index under $root"))
    val segs = indexSegmentsAt(spark, root, v, body)
    IndexSnapshot(v, segs, readSegments(spark, segs),
      loadCentroids(spark, segs.head),
      bodyCensus(spark, root, v, body, cellCol).filter(_._2 > 0L))
  }

  /** Union the given segment dirs as one frame, tombstones applied —
    * THE segment-resolution primitive (readIndex/compactIndexAtomic/
    * streamTopKJoin all resolve through here so schema-alignment and
    * delete semantics cannot drift). Segments are oldest-first; a
    * [[deleteFromIndexAtomic]] tombstone segment masks ids only in
    * EARLIER segments (LSM ordering — a later append resurrects the
    * id), via broadcast anti-joins on the tombstone's id column:
    * map-side, no extra shuffle, tombstone sets stay driver-small by
    * the GDPR-removal use case (compaction is the pressure valve when
    * they grow). */
  private def readSegments(spark: org.apache.spark.sql.SparkSession,
                           segs: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def tombPath(dir: String) = new Path(s"$dir/$TombstoneDir")
    def hasTombs(dir: String) = {
      val p = tombPath(dir); p.getFileSystem(conf).exists(p)
    }
    // a data segment has at least one non-hidden entry (partition dirs
    // or part files); a tombstone-only segment has just _tombstones +
    // _centroids and contributes no rows
    def hasData(dir: String) = {
      val p = new Path(dir)
      val f = p.getFileSystem(conf)
      f.exists(p) && f.listStatus(p).exists { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    }
    val parts = segs.zipWithIndex
    val masked = parts.collect { case (dir, i) if hasData(dir) =>
      val later = parts.collect {
        case (d, j) if j > i && hasTombs(d) =>
          spark.read.parquet(s"$d/$TombstoneDir")
      }
      val df = spark.read.parquet(dir)
      if (later.isEmpty) df
      else {
        val t = later.reduce(_.unionByName(_)).distinct()
        val key = t.schema.fields.head.name
        df.join(org.apache.spark.sql.functions.broadcast(t), Seq(key), "left_anti")
      }
    }
    require(masked.nonEmpty, s"no data segments among ${segs.mkString(",")}")
    masked.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private val TombstoneDir = "_tombstones"

  /** Tombstone-delete ids from the committed index WITHOUT retraining
    * or rewriting any data — the GDPR-removal path for the ANN tier.
    * `ids` is a ONE-column frame whose column name is the index's id
    * column; its values are written as a `_tombstones` sidecar in a
    * fresh data-less `v=<N>/` segment, and the commit manifest appends
    * that segment to the composition, so publish is still one atomic
    * rename, concurrent probes keep seeing a complete index, and old
    * compositions stay time-travelable (pre-delete versions still
    * resolve the row — vacuum is the actual erasure deadline; run
    * [[compactIndexAtomic]] + [[graft.sources.AtomicCommit.vacuum]] to
    * destroy the bytes).
    *
    * Read-side semantics (enforced in readSegments, shared by every
    * reader): a tombstone masks the id in segments committed BEFORE
    * it; appending the id again later resurrects it — the LSM delete
    * contract. [[compactIndexAtomic]] resolves tombstones physically:
    * the rewrite excludes masked rows and commits a single-segment,
    * tombstone-free manifest, after which results are identical to an
    * index rebuilt from scratch without the deleted ids (IvfSpec pins
    * this equivalence). Returns (version, segment dirs). */
  def deleteFromIndexAtomic(ids: DataFrame, root: String,
                            fenceEpoch: Option[Long] = None,
                            cellCol: String = "ivf_cell"): (Long, Seq[String]) = {
    import graft.sources.AtomicCommit
    val spark = ids.sparkSession
    require(ids.schema.fields.length == 1,
      s"ids frame must carry exactly the id column, got ${ids.columns.mkString(",")}")
    fenceEpoch.foreach(AtomicCommit.checkFence(spark, root, _)) // before the write
    val (pv, body) = AtomicCommit.latest(spark, root)
      .getOrElse(sys.error(s"no committed IVF index under $root to delete from"))
    val prevVersions = AtomicCommit.decodeSegments(body).getOrElse(Seq(pv))
    val v = AtomicCommit.nextVersion(spark, root)
    val dir = AtomicCommit.versionDir(root, v)
    ids.distinct().coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$TombstoneDir")
    // every segment carries the quantizer (the segs.head invariant
    // holds regardless — deletes append at the tail — but uniformity
    // costs one tiny sidecar and keeps dir shapes self-describing)
    val centroids = loadCentroids(
      spark, AtomicCommit.versionDir(root, prevVersions.head))
    saveCentroids(spark, centroids, dir)
    // NEGATIVE census for the rows this delete NEWLY masks: the prior
    // composition is resolved THROUGH readSegments, so earlier
    // tombstones already hide their rows and a re-deleted id never
    // double-subtracts. This one semi-join scan prices the rare
    // GDPR-delete path so every serve-path census read stays a
    // manifest sum (no index scan).
    val key = ids.columns.head
    val maskedCounts = readSegments(
        spark, prevVersions.map(AtomicCommit.versionDir(root, _)))
      .join(broadcast(ids.distinct()), Seq(key), "left_semi")
      .groupBy(col(cellCol)).count()
      .collect().map(r => r.getInt(0) -> -r.getLong(1)).toSeq
    writeCensus(spark, dir, maskedCounts)
    val total = mergeCensus(bodyCensus(spark, root, pv, body, cellCol), maskedCounts)
    AtomicCommit.commitOrFail(spark, root, v,
      AtomicCommit.encodeSegments(prevVersions :+ v) + "\n" +
        AtomicCommit.encodeCensusLine(total), fenceEpoch)
    (v, (prevVersions :+ v).map(AtomicCommit.versionDir(root, _)))
  }

  /** Append new vectors to the committed index WITHOUT retraining: the
    * coarse quantizer stays FIXED (new vectors are assigned to the
    * existing cells — the standard IVF maintenance contract: an index
    * rebuild is a quantizer change, an append is not), only the new
    * rows are written (a fresh `v=<N>/` holding just the appended
    * cells), and the commit manifest lists every segment composing the
    * index, so publish is still one atomic rename and time travel
    * still resolves any prior composition. Vacuum keeps every segment
    * a retained manifest references ([[graft.sources.AtomicCommit.vacuum]]).
    *
    * Distribution drift is the documented trade: a quantizer trained
    * on the original corpus mis-bins vectors from a shifted
    * distribution (skewing cells and hurting recall) — periodic
    * [[saveIndexAtomic]] rebuilds re-train and reset the manifest to a
    * single segment. Returns (version, segment dirs). */
  def appendToIndexAtomic(newVecs: DataFrame, vecCol: String, root: String,
                          cellCol: String = "ivf_cell",
                          fenceEpoch: Option[Long] = None): (Long, Seq[String]) = {
    import graft.sources.AtomicCommit
    val spark = newVecs.sparkSession
    fenceEpoch.foreach(AtomicCommit.checkFence(spark, root, _)) // before the data write
    val (pv, body) = AtomicCommit.latest(spark, root)
      .getOrElse(sys.error(s"no committed IVF index under $root to append to"))
    val prevVersions = AtomicCommit.decodeSegments(body).getOrElse(Seq(pv))
    val centroids = loadCentroids(
      spark, AtomicCommit.versionDir(root, prevVersions.head))
    val v = AtomicCommit.nextVersion(spark, root)
    val dir = AtomicCommit.versionDir(root, v)
    saveIndex(newVecs, vecCol, centroids, dir, cellCol)
    saveCentroids(spark, centroids, dir) // every segment carries the quantizer
    val own = writeCensusOfDir(spark, dir, cellCol)
    val total = mergeCensus(bodyCensus(spark, root, pv, body, cellCol), own)
    AtomicCommit.commitOrFail(spark, root, v,
      AtomicCommit.encodeSegments(prevVersions :+ v) + "\n" +
        AtomicCommit.encodeCensusLine(total), fenceEpoch)
    (v, (prevVersions :+ v).map(AtomicCommit.versionDir(root, _)))
  }

  /** [[saveIndexQ]] (int8-quantized) under the atomic-commit protocol,
    * centroid sidecar included — the quantized twin of
    * [[saveIndexAtomic]]. Returns (version, index path). */
  def saveIndexQAtomic(corpus: DataFrame, idCol: String, vecCol: String,
                       root: String, k: Int, iters: Int = 2,
                       cellCol: String = "ivf_cell",
                       spreadInit: Boolean = true,
                       maxTrainRows: Option[Long] = None): (Long, String) = {
    import graft.sources.AtomicCommit
    val spark = corpus.sparkSession
    val v = AtomicCommit.nextVersion(spark, root)
    val dir = AtomicCommit.versionDir(root, v)
    val centroids = train(corpus, idCol, vecCol, k, iters, spreadInit, maxTrainRows)
    saveIndexQ(corpus, idCol, vecCol, centroids, dir, cellCol)
    saveCentroids(spark, centroids, dir)
    val census = writeCensusOfDir(spark, dir, cellCol)
    require(AtomicCommit.commit(spark, root, v,
        AtomicCommit.encodeCensusLine(census)),
      s"version $v already committed under $root — concurrent writer?")
    (v, dir)
  }

  /** [[saveIndexPQ]] under the atomic-commit protocol, with BOTH
    * sidecars (coarse centroids + PQ codebooks via
    * [[Pq.saveCodebooks]]) — a different job loads everything it needs
    * to probe from the committed directory. Returns (version, path). */
  def saveIndexPQAtomic(corpus: DataFrame, idCol: String, vecCol: String,
                        root: String, k: Int, m: Int, ksub: Int = 256,
                        iters: Int = 2, cellCol: String = "ivf_cell",
                        spreadInit: Boolean = true,
                        maxTrainRows: Option[Long] = None): (Long, String) = {
    import graft.sources.AtomicCommit
    val spark = corpus.sparkSession
    val v = AtomicCommit.nextVersion(spark, root)
    val dir = AtomicCommit.versionDir(root, v)
    val centroids = train(corpus, idCol, vecCol, k, iters, spreadInit, maxTrainRows)
    val books = Pq.train(corpus, idCol, vecCol, m, ksub, iters, spreadInit, maxTrainRows)
    saveIndexPQ(corpus, idCol, vecCol, centroids, books, dir, cellCol)
    saveCentroids(spark, centroids, dir)
    val census = writeCensusOfDir(spark, dir, cellCol)
    Pq.saveCodebooks(spark, books, s"$dir/_codebooks")
    require(AtomicCommit.commit(spark, root, v,
        AtomicCommit.encodeCensusLine(census)),
      s"version $v already committed under $root — concurrent writer?")
    (v, dir)
  }

  /** Compact an append-fragmented index back to ONE segment WITHOUT
    * retraining: rewrite the union of the current segments (cells
    * preserved — assignment is never recomputed, so the result is
    * bit-identical content in one directory), commit with a
    * single-segment manifest. The cheap maintenance step between
    * [[appendToIndexAtomic]] runs; a [[saveIndexAtomic]] rebuild is
    * the expensive one that also re-trains the quantizer. Old
    * compositions stay time-travelable until vacuumed. Returns
    * (version, data dir). */
  def compactIndexAtomic(spark: org.apache.spark.sql.SparkSession,
                         root: String, cellCol: String = "ivf_cell",
                         fenceEpoch: Option[Long] = None): (Long, String) = {
    import graft.sources.AtomicCommit
    fenceEpoch.foreach(AtomicCommit.checkFence(spark, root, _)) // before the data write
    val segs = indexSegments(spark, root)
    val centroids = loadCentroids(spark, segs.head)
    val v = AtomicCommit.nextVersion(spark, root)
    val dir = AtomicCommit.versionDir(root, v)
    byCell(readSegments(spark, segs), cellCol)
      .write.mode("overwrite").partitionBy(cellCol).parquet(dir)
    saveCentroids(spark, centroids, dir)
    val census = writeCensusOfDir(spark, dir, cellCol)
    AtomicCommit.commitOrFail(spark, root, v,
      AtomicCommit.encodeCensusLine(census), fenceEpoch)
    (v, dir)
  }

  /** Re-train the coarse quantizer FROM THE COMMITTED SEGMENTS and
    * republish — the drift repair after months of appends, without
    * re-embedding anything: the vectors already live in the index, so
    * the refresh is read-union → [[train]] on the surviving rows
    * (tombstones applied — deleted vectors must not pull centroids) →
    * re-assign every row to the new cells → one fenced atomic commit
    * of a single-segment, tombstone-free manifest. Concurrent probes
    * keep the previous composition until the rename lands; old
    * compositions stay time-travelable until vacuumed.
    *
    * This completes the index lifecycle: [[appendToIndexAtomic]] grows
    * it under a FIXED quantizer (documented drift trade),
    * [[compactIndexAtomic]] defragments without touching assignment,
    * and retrain is the one that moves the cells — equivalent to
    * [[saveIndexAtomic]] on the resolved corpus, minus re-reading the
    * source-of-truth corpus store. `idCol` seeds the deterministic
    * spread init exactly as a from-scratch build would, so refresh vs
    * rebuild parity holds row-for-row (IvfSpec pins it). Returns
    * (version, data dir). */
  def retrainAtomic(spark: org.apache.spark.sql.SparkSession,
                    root: String, idCol: String, vecCol: String, k: Int,
                    iters: Int = 2, cellCol: String = "ivf_cell",
                    spreadInit: Boolean = true,
                    fenceEpoch: Option[Long] = None,
                    maxTrainRows: Option[Long] = None): (Long, String) = {
    import graft.sources.AtomicCommit
    fenceEpoch.foreach(AtomicCommit.checkFence(spark, root, _)) // before the write
    val segs = indexSegments(spark, root)
    // drop the stale assignment — the whole point is that it moves
    val corpus = readSegments(spark, segs).drop(cellCol)
    val centroids = train(corpus, idCol, vecCol, k, iters, spreadInit, maxTrainRows)
    val v = AtomicCommit.nextVersion(spark, root)
    val dir = AtomicCommit.versionDir(root, v)
    saveIndex(corpus, vecCol, centroids, dir, cellCol)
    saveCentroids(spark, centroids, dir)
    val census = writeCensusOfDir(spark, dir, cellCol)
    AtomicCommit.commitOrFail(spark, root, v,
      AtomicCommit.encodeCensusLine(census), fenceEpoch)
    (v, dir)
  }

  /** Streaming ANN ingestion: every non-empty micro-batch appends to
    * the committed index via [[appendToIndexAtomic]] — quantizer fixed,
    * one new segment + one atomic commit per batch, so a crash between
    * batches leaves at worst uncommitted debris (invisible to readers)
    * and concurrent probes always see a complete composition.
    * Bootstrap the index first with [[saveIndexAtomic]] on a seed
    * corpus; empty batches burn no version (the [[graft.sources.AppendStore]]
    * convention). `onBatch` sees (committed version, segment count) —
    * segment count growing past ~100s is the signal to schedule a
    * compacting [[saveIndexAtomic]] rebuild. */
  def streamAppend(vectors: DataFrame, root: String, vecCol: String,
                   cellCol: String = "ivf_cell", compactEvery: Int = 0,
                   fenceEpoch: Option[Long] = None,
                   checkpointLocation: Option[String] = None)
                  (onBatch: (Long, Int) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // compactEvery = N (0 = off) folds maintenance into the loop:
    // whenever the composition reaches N segments the batch finishes
    // with a compactIndexAtomic rewrite — safe because foreachBatch is
    // the store's single writer, atomic because the compacted version
    // publishes with one commit like any other
    require(compactEvery == 0 || compactEvery >= 2,
      s"compactEvery=$compactEvery must be 0 (off) or >= 2")
    checkpointLocation.fold(vectors.writeStream)(l =>
        vectors.writeStream.option("checkpointLocation", l))
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val (v, segs) = appendToIndexAtomic(b, vecCol, root, cellCol, fenceEpoch)
          if (compactEvery > 0 && segs.size >= compactEvery) {
            val (cv, _) = compactIndexAtomic(b.sparkSession, root, cellCol, fenceEpoch)
            onBatch(cv, 1)
          } else onBatch(v, segs.size)
        }
      }
      .start()
  }

  /** Streaming ANN serving: a STREAM of probe vectors answered per
    * micro-batch against the committed index — the query-side twin of
    * [[streamAppend]]. Each batch re-resolves the LATEST committed
    * composition (one driver read of the commit log + centroid
    * sidecar), so probes start seeing appended vectors at the batch
    * after their commit, with snapshot isolation inside a batch. The
    * per-batch plan is [[topKJoin]]: probes explode to their nprobe
    * cells map-side, equi-join the cell-partitioned segment scans
    * (pruned to probed cells), one window per probe — thousands of
    * probes per batch cost one job. `onBatch` receives (results,
    * batchId); empty batches skip the index read entirely. */
  def streamTopKJoin(probes: DataFrame, root: String,
                     probeIdCol: String, probeVecCol: String,
                     k: Int, nprobe: Int = 2, vecCol: String = "embedding",
                     cellCol: String = "ivf_cell",
                     tieBreak: Seq[String] = Nil,
                     scanBudget: Option[Long] = None,
                     checkpointLocation: Option[String] = None)
                    (onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // scanBudget census, CACHED BY COMMITTED VERSION: the budget path
    // needs per-cell counts for the same snapshot the centroids come
    // from — they come from the per-segment `_census` sidecars (a
    // manifest sum, never an index scan) and are re-read only when the
    // committed version moved between batches, so steady-state serving
    // adds zero census work per batch while appends landing between
    // batches still re-weigh the probe prefix the batch after commit
    var censusCache: Option[(Long, Map[Int, Long])] = None
    checkpointLocation.fold(probes.writeStream)(l =>
        probes.writeStream.option("checkpointLocation", l))
      .outputMode("append")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          val spark = b.sparkSession
          val (v, body) = graft.sources.AtomicCommit.latest(spark, root)
            .getOrElse(sys.error(s"no committed IVF index under $root"))
          val segs = indexSegmentsAt(spark, root, v, body)
          val centroids = loadCentroids(spark, segs.head)
          val indexed = readSegments(spark, segs)
          val result = scanBudget match {
            case Some(budget) =>
              val counts = censusCache match {
                case Some((cv, m)) if cv == v => m
                case _ =>
                  val m = bodyCensus(spark, root, v, body, cellCol)
                    .filter(_._2 > 0L)
                  censusCache = Some((v, m))
                  m
              }
              topKJoinBudget(indexed, vecCol, centroids, counts,
                b, probeIdCol, probeVecCol,
                k, budget, cellCol, tieBreak = tieBreak)
            case None =>
              topKJoin(indexed, vecCol, centroids, b,
                probeIdCol, probeVecCol, k, nprobe, cellCol,
                tieBreak = tieBreak)
          }
          onBatch(result, batchId)
        }
      }
      .start()
  }

  /** The `nprobe` cells nearest to a probe vector (driver-side: centroid
    * list is tiny by construction). Ties break toward the lower cell id,
    * matching `nearest`. */
  def probeCells(centroids: Seq[(Int, Array[Double])], probeVec: Array[Double], nprobe: Int): Seq[Int] =
    centroids
      .map { case (cid, c) =>
        (cid, c.zip(probeVec).map { case (x, y) => (x - y) * (x - y) }.sum)
      }
      .sortBy(_._2).take(nprobe).map(_._1)

  /** Top-k by dot product over a PRE-ASSIGNED corpus (`cellCol` already
    * present — typically `spark.read.parquet(indexPath)` of a
    * [[saveIndex]] store, where the cell filter prunes at the scan).
    * Scores only the probed cells; no corpus-wide recomputation. */
  def topKIndexed(
      indexed: DataFrame, vecCol: String, centroids: Seq[(Int, Array[Double])],
      probeVec: Array[Double], k: Int, nprobe: Int = 2,
      cellCol: String = "ivf_cell", scoreCol: String = "score"): DataFrame = {
    val cells = probeCells(centroids, probeVec, nprobe)
    Similarity.bruteForceTopK(
      indexed.filter(col(cellCol).isin(cells: _*)),
      vecCol,
      indexed.sparkSession.range(1).select(lit(probeVec.map(_.toFloat)).as("_probe")),
      "_probe", k, scoreCol)
      .drop(cellCol)
  }

  /** The `nprobe` nearest cell ids per probe VECTOR as an expression —
    * the column twin of [[probeCells]] (array_sort of (dist², cid)
    * structs sorts by distance then lower cid, the same tie-break). */
  private def nearestCellsExpr(vec: Column, centroids: Seq[(Int, Array[Double])],
                               nprobe: Int): Column =
    transform(
      slice(array_sort(array(centroids.map { case (cid, c) =>
        struct(dist2(vec, lit(c)).as("d"), lit(cid).as("cid"))
      }: _*)), 1, nprobe),
      s => s.getField("cid"))

  /** Batch ANN join over the IVF index: a whole DataFrame of probes
    * served in ONE plan — each probe explodes to its `nprobe` nearest
    * cells (map-side arithmetic against the broadcast centroid list),
    * equi-joins the index on the cell id, and takes its top-k by dot
    * product via a per-probe window. The IVF twin of
    * [[Similarity.lshTopKJoin]]: thousands of probes cost one job, and
    * on a [[saveIndex]] store the cell equi-join reads only the probed
    * cells' partitions. */
  def topKJoin(indexed: DataFrame, vecCol: String, centroids: Seq[(Int, Array[Double])],
               probes: DataFrame, probeIdCol: String, probeVecCol: String,
               k: Int, nprobe: Int = 2, cellCol: String = "ivf_cell",
               scoreCol: String = "score", tieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pcells = probes.select(col(probeIdCol), col(probeVecCol),
      explode(nearestCellsExpr(col(probeVecCol).cast("array<double>"), centroids, nprobe))
        .as(cellCol))
    val w = Window.partitionBy(col(probeIdCol))
      .orderBy(col(scoreCol).desc +: tieBreak.map(col): _*)
    indexed.join(broadcast(pcells), Seq(cellCol))
      .withColumn(scoreCol, Similarity.dot(col(vecCol), col(probeVecCol)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn", cellCol, probeVecCol)
  }

  /** Per-cell row counts of an assigned corpus — the ≤k-row bounded
    * envelope [[topKJoinBudget]] plans with (k coarse cells by
    * construction; the same driver-side convention as [[train]]'s
    * centroid collect). */
  def cellCounts(indexed: DataFrame, cellCol: String = "ivf_cell"): Map[Int, Long] =
    indexed.groupBy(col(cellCol)).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private val CensusDir = "_census"

  /** Write a segment's per-cell census sidecar — (cid, n) rows, one
    * underscore dir like `_centroids` (invisible to the partitioned
    * scan, vacuumed with its version dir). Data segments write the
    * counts of their OWN rows; [[deleteFromIndexAtomic]] segments write
    * NEGATIVE counts for the rows their tombstones newly mask, so the
    * committed composition's census is always the plain SUM of its
    * segments' sidecars — no index scan at read time. */
  private def writeCensus(spark: org.apache.spark.sql.SparkSession,
                          dir: String, counts: Seq[(Int, Long)]): Unit = {
    import spark.implicits._
    counts.toDF("cid", "n").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$CensusDir")
  }

  /** Census sidecar written after a data segment lands: counting the
    * just-written segment groups by its PARTITION column, so the scan
    * reads footers and directory names, not vector data — and only the
    * new segment, never the composition. A data-less segment (an
    * append of an empty frame leaves only sidecars) gets an empty
    * census, not a schema-inference error. Returns the counts so the
    * writer can fold the composition TOTAL into its commit manifest
    * (r15 — the read path then needs zero extra file reads). */
  private def writeCensusOfDir(spark: org.apache.spark.sql.SparkSession,
                               dir: String, cellCol: String): Seq[(Int, Long)] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val counts =
      if (!hasData) Seq.empty[(Int, Long)]
      else cellCounts(spark.read.parquet(dir).select(cellCol), cellCol).toSeq
    writeCensus(spark, dir, counts)
    counts
  }

  /** Previous-composition total + a new segment's census delta — the
    * manifest-body census arithmetic (positive counts for data
    * segments, negative for delete segments; zero cells kept in the
    * body, filtered at read). */
  private def mergeCensus(prev: Map[Int, Long],
                          delta: Seq[(Int, Long)]): Seq[(Int, Long)] =
    (prev.toSeq ++ delta).groupMapReduce(_._1)(_._2)(_ + _).toSeq

  /** A committed composition's TOTAL census from its manifest body
    * (zero extra reads), falling back to the per-segment sidecar sum
    * for pre-r15 commits. Unfiltered — callers that serve it filter
    * to positive cells. */
  private def bodyCensus(spark: org.apache.spark.sql.SparkSession,
                         root: String, v: Long, body: String,
                         cellCol: String): Map[Int, Long] =
    graft.sources.AtomicCommit.decodeCensus(body).getOrElse(
      censusOfSegments(spark, indexSegmentsAt(spark, root, v, body), cellCol))

  private def readCensus(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Option[Seq[(Int, Long)]] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$dir/$CensusDir")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else Some(spark.read.parquet(s"$dir/$CensusDir")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq)
  }

  /** Per-cell census of the LATEST committed composition WITHOUT
    * scanning the index — and since r15 without touching ANY file
    * beyond the commit manifest the read already fetches: every atomic
    * writer folds the composition's TOTAL census into its commit body
    * (previous total + the new segment's positive/negative delta, so
    * it equals a fresh [[cellCounts]] scan even mid-LSM — IvfSpec pins
    * the parity across build/append/delete/compact/retrain). Fallback
    * chain for older indexes: per-segment `_census` sidecar sum
    * (pre-r15 commits; measured 92 ms/segment — one Spark job each,
    * CensusCostProbe (d521caa)), then the one column-pruned scan (pre-r14). */
  def indexCellCounts(spark: org.apache.spark.sql.SparkSession,
                      root: String,
                      cellCol: String = "ivf_cell"): Map[Int, Long] = {
    import graft.sources.AtomicCommit
    val (v, body) = AtomicCommit.latest(spark, root)
      .getOrElse(sys.error(s"no committed IVF index under $root"))
    bodyCensus(spark, root, v, body, cellCol).filter(_._2 > 0L)
  }

  private def censusOfSegments(spark: org.apache.spark.sql.SparkSession,
                               segs: Seq[String],
                               cellCol: String): Map[Int, Long] = {
    val per = segs.map(readCensus(spark, _))
    if (per.forall(_.isDefined))
      per.flatMap(_.get)
        .groupMapReduce(_._1)(_._2)(_ + _)
        .filter(_._2 > 0L)
    else cellCounts(readSegments(spark, segs), cellCol)
  }

  /** Cells to probe under a ROW-SCAN BUDGET, nearest-first: keep cell c
    * iff the total row count of strictly-nearer cells is < `maxScanRows`
    * (so the nearest cell is always probed, and the kept prefix is the
    * shortest one whose scan reaches the budget). Same (distance, cid)
    * order and tie-break as [[nearestCellsExpr]]; one O(k) fold per
    * probe over the sorted k-cell array, map-side. */
  private def budgetCellsExpr(vec: Column, centroids: Seq[(Int, Array[Double])],
                              counts: Map[Int, Long], maxScanRows: Long): Column = {
    val cells = array_sort(array(centroids.map { case (cid, c) =>
      struct(dist2(vec, lit(c)).as("d"), lit(cid).as("cid"),
        lit(counts.getOrElse(cid, 0L)).as("n"))
    }: _*))
    aggregate(
      cells,
      struct(lit(0L).as("s"), array().cast("array<int>").as("keep")),
      (acc, x) => struct(
        (acc.getField("s") + x.getField("n")).as("s"),
        when(acc.getField("s") < maxScanRows,
          concat(acc.getField("keep"), array(x.getField("cid"))))
          .otherwise(acc.getField("keep")).as("keep")),
      acc => acc.getField("keep"))
  }

  /** [[topKJoin]] with the probe width set by a ROW budget instead of a
    * cell count: each probe explodes to its nearest cells until the
    * rows those cells hold reach `maxScanRows`, then joins and ranks
    * exactly as [[topKJoin]].
    *
    * Why this exists: under a STALE or skewed quantizer a fixed
    * `nprobe` conflates recall with work — probes whose region drifted
    * land on a few giant frontier cells and quietly scan 10–100× the
    * rows of a probe in a well-split region (the IvfLifecycleDemo (d521caa)
    * measured exactly this: after `retrainAtomic`, recall at nprobe=8
    * LOOKED worse on drifted probes only because the stale index had
    * been buying recall with 1.6× the scanned rows). Budget probing
    * makes per-probe cost a constant and recall the free variable, so
    * quantizer generations are comparable and tail latency is bounded —
    * the per-query cost model FAISS's IVF literature assumes
    * (nprobe/k of the corpus) made true under skew.
    *
    * `counts` is the plan-time per-cell census ([[cellCounts]] — one
    * ≤k-row collect); the budget is enforced against it, not re-counted
    * at runtime. Cells absent from `counts` weigh 0 (probing them is
    * free by the census). `maxScanRows >= 1`; the nearest cell is
    * always probed even when it alone exceeds the budget. */
  def topKJoinBudget(indexed: DataFrame, vecCol: String,
                     centroids: Seq[(Int, Array[Double])], counts: Map[Int, Long],
                     probes: DataFrame, probeIdCol: String, probeVecCol: String,
                     k: Int, maxScanRows: Long, cellCol: String = "ivf_cell",
                     scoreCol: String = "score", tieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxScanRows >= 1, s"maxScanRows=$maxScanRows must be >= 1")
    val pcells = probes.select(col(probeIdCol), col(probeVecCol),
      explode(budgetCellsExpr(col(probeVecCol).cast("array<double>"), centroids,
        counts, maxScanRows)).as(cellCol))
    val w = Window.partitionBy(col(probeIdCol))
      .orderBy(col(scoreCol).desc +: tieBreak.map(col): _*)
    indexed.join(broadcast(pcells), Seq(cellCol))
      .withColumn(scoreCol, Similarity.dot(col(vecCol), col(probeVecCol)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn", cellCol, probeVecCol)
  }

  /** Persist the QUANTIZED IVF index: (idCol, scale, q8, cell) with the
    * int8 codes stored as `array<tinyint>` — the index artifact is ~4×
    * smaller than the float32 corpus (the binding constraint at 100 TB
    * is index residency, not compute), cells still prune at the scan,
    * and every other corpus column is deliberately dropped (the index
    * answers "which ids"; attributes live in the primary store).
    * Search with [[topKJoinQ]]; re-rank against the primary store for
    * full-precision scores. */
  def saveIndexQ(corpus: DataFrame, idCol: String, vecCol: String,
                 centroids: Seq[(Int, Array[Double])], path: String,
                 cellCol: String = "ivf_cell"): Unit =
    byCell(Quantize.quantizeInt8(withCell(corpus, vecCol, centroids, cellCol), vecCol, "_q")
      .select(col(idCol), col("_q.scale").as("scale"),
        transform(col("_q.q"), x => x.cast("byte")).as("q8"), col(cellCol)), cellCol)
      .write.mode("overwrite").partitionBy(cellCol).parquet(path)

  /** Batch ANN join over a [[saveIndexQ]] store: candidate scoring runs
    * entirely on int8 codes (exact integer folds — Quantize.dotQParts),
    * each probe keeps its top `k·rerankFactor` quantized candidates,
    * and, when `rerank` supplies the full-precision corpus (idCol →
    * vecCol), those candidates alone are re-scored exactly and cut to
    * k — the standard two-stage quantized search (FAISS's IVF+refine):
    * the wide float vectors are touched for k·rerankFactor rows per
    * probe, never for whole cells. Without `rerank` the quantized
    * scores are final (scoreCol then carries quantization error ~1e-2
    * relative). Output: (probeIdCol, idCol, scoreCol).
    *
    * Ties break toward lower idCol at both stages — deterministic for
    * any partitioning.
    *
    * `scanBudget = Some((census, maxScanRows))` replaces the fixed
    * `nprobe` with row-budget probing ([[topKJoinBudget]] semantics on
    * the quantized tier — the one that actually serves at index
    * scale): cells probe nearest-first until their census rows reach
    * the budget; `nprobe` is then ignored. */
  def topKJoinQ(indexedQ: DataFrame, idCol: String,
                centroids: Seq[(Int, Array[Double])],
                probes: DataFrame, probeIdCol: String, probeVecCol: String,
                k: Int, nprobe: Int = 2,
                rerank: Option[(DataFrame, String)] = None, rerankFactor: Int = 4,
                cellCol: String = "ivf_cell", scoreCol: String = "score",
                scanBudget: Option[(Map[Int, Long], Long)] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerankFactor >= 1, s"rerankFactor=$rerankFactor must be >= 1")
    val pq = Quantize.quantizeInt8(
      probes.select(col(probeIdCol), col(probeVecCol)), probeVecCol, "_pq")
    val cellsOf = scanBudget match {
      case Some((census, budget)) =>
        require(budget >= 1, s"maxScanRows=$budget must be >= 1")
        budgetCellsExpr(col(probeVecCol).cast("array<double>"), centroids,
          census, budget)
      case None =>
        nearestCellsExpr(col(probeVecCol).cast("array<double>"), centroids, nprobe)
    }
    val pcells = pq.select(col(probeIdCol), col(probeVecCol),
      col("_pq.scale").as("_pscale"), col("_pq.q").as("_pq8"),
      explode(cellsOf).as(cellCol))
    val wq = Window.partitionBy(col(probeIdCol))
      .orderBy(col("_qscore").desc, col(idCol))
    val kq = if (rerank.isDefined) k * rerankFactor else k
    val candidates = indexedQ.join(broadcast(pcells), Seq(cellCol))
      .withColumn("_qscore",
        Quantize.dotQParts(col("q8"), col("scale"), col("_pq8"), col("_pscale")))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= kq)
    rerank match {
      case None =>
        candidates.select(col(probeIdCol), col(idCol), col("_qscore").as(scoreCol))
      case Some((corpus, vecCol)) =>
        val we = Window.partitionBy(col(probeIdCol))
          .orderBy(col(scoreCol).desc, col(idCol))
        candidates.select(col(probeIdCol), col(probeVecCol), col(idCol))
          .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
          .withColumn(scoreCol, Similarity.dot(col(vecCol), col(probeVecCol)))
          .withColumn("_rn", row_number().over(we))
          .filter(col("_rn") <= k)
          .select(col(probeIdCol), col(idCol), col(scoreCol))
    }
  }

  /** Persist the PRODUCT-QUANTIZED IVF index: (idCol, codes, cell)
    * with m one-byte PQ codes per vector — D·4 float bytes per vector
    * become m bytes (32× at D = 64, m = 8), the deepest compression
    * tier (float → int8 → PQ); cells still prune at the scan. Search
    * with [[topKJoinPQ]] + exact re-rank. */
  def saveIndexPQ(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Seq[(Int, Array[Double])], books: Pq.Codebooks,
                  path: String, cellCol: String = "ivf_cell"): Unit =
    byCell(withCell(corpus, vecCol, centroids, cellCol)
      .select(col(idCol), Pq.encode(col(vecCol), books).as("codes"), col(cellCol)), cellCol)
      .write.mode("overwrite").partitionBy(cellCol).parquet(path)

  /** Batch ANN join over a [[saveIndexPQ]] store: candidates score by
    * asymmetric PQ lookup (probe full-precision, corpus coded —
    * Pq.adcScoreCol), each probe keeps its top k·rerankFactor, and
    * `rerank` re-scores those exactly (mandatory for final ranking at
    * PQ's compression level — without it scores carry subspace
    * reconstruction error). Output: (probeIdCol, idCol, scoreCol),
    * ties toward lower idCol. */
  def topKJoinPQ(indexedPQ: DataFrame, idCol: String,
                 centroids: Seq[(Int, Array[Double])], books: Pq.Codebooks,
                 probes: DataFrame, probeIdCol: String, probeVecCol: String,
                 k: Int, nprobe: Int = 2,
                 rerank: Option[(DataFrame, String)] = None, rerankFactor: Int = 4,
                 cellCol: String = "ivf_cell", scoreCol: String = "score"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerankFactor >= 1, s"rerankFactor=$rerankFactor must be >= 1")
    val pcells = probes.select(col(probeIdCol), col(probeVecCol),
      explode(nearestCellsExpr(col(probeVecCol).cast("array<double>"), centroids, nprobe))
        .as(cellCol))
    val wq = Window.partitionBy(col(probeIdCol))
      .orderBy(col("_qscore").desc, col(idCol))
    val kq = if (rerank.isDefined) k * rerankFactor else k
    val candidates = indexedPQ.join(broadcast(pcells), Seq(cellCol))
      .withColumn("_qscore", Pq.adcScoreCol(col("codes"), books, col(probeVecCol)))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= kq)
    rerank match {
      case None =>
        candidates.select(col(probeIdCol), col(idCol), col("_qscore").as(scoreCol))
      case Some((corpus, vecCol)) =>
        val we = Window.partitionBy(col(probeIdCol))
          .orderBy(col(scoreCol).desc, col(idCol))
        candidates.select(col(probeIdCol), col(probeVecCol), col(idCol))
          .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
          .withColumn(scoreCol, Similarity.dot(col(vecCol), col(probeVecCol)))
          .withColumn("_rn", row_number().over(we))
          .filter(col("_rn") <= k)
          .select(col(probeIdCol), col(idCol), col(scoreCol))
    }
  }

  /** One-shot convenience: assign + probe in a single plan. For repeated
    * probes, [[saveIndex]] + [[topKIndexed]] is the scale path. */
  def topK(
      corpus: DataFrame, vecCol: String, centroids: Seq[(Int, Array[Double])],
      probeVec: Array[Double], k: Int, nprobe: Int = 2,
      scoreCol: String = "score"): DataFrame =
    topKIndexed(withCell(corpus, vecCol, centroids), vecCol, centroids,
      probeVec, k, nprobe, scoreCol = scoreCol)
}

final case class VecMeanBuf(sum: Array[Double], cnt: Long)
final case class VecMeanOut(mean: Seq[Double])

/** Element-wise mean of array<double> columns (same vector-buffer
  * pattern as SampleDepthAgg: one buffer per partition, no explode). */
object VecMeanAgg extends Aggregator[Seq[Double], VecMeanBuf, VecMeanOut] {
  override def zero: VecMeanBuf = VecMeanBuf(Array.empty, 0L)

  override def reduce(b: VecMeanBuf, v: Seq[Double]): VecMeanBuf = {
    if (v == null) return b
    val s = if (b.sum.length >= v.length) b.sum else java.util.Arrays.copyOf(b.sum, v.length)
    var i = 0
    while (i < v.length) { s(i) += v(i); i += 1 }
    VecMeanBuf(s, b.cnt + 1)
  }

  override def merge(x: VecMeanBuf, y: VecMeanBuf): VecMeanBuf = {
    val n = math.max(x.sum.length, y.sum.length)
    val s = java.util.Arrays.copyOf(x.sum, n)
    var i = 0
    while (i < y.sum.length) { s(i) += y.sum(i); i += 1 }
    VecMeanBuf(s, x.cnt + y.cnt)
  }

  override def finish(b: VecMeanBuf): VecMeanOut =
    VecMeanOut(if (b.cnt == 0) b.sum.toSeq else b.sum.map(_ / b.cnt).toSeq)

  override def bufferEncoder: Encoder[VecMeanBuf] = Encoders.product[VecMeanBuf]
  override def outputEncoder: Encoder[VecMeanOut] = Encoders.product[VecMeanOut]
}
