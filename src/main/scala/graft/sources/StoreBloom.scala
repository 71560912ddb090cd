package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** Driver-held bloom pair over a signature store's fingerprints and
  * band keys — a gate on the per-batch store reads (ScanFloorDemo (d521caa):
  * the store-scan term was ~49% of a 30k-doc batch's wall at an
  * 8M-doc store and grew linearly — the last store-proportional
  * per-batch cost after the r15 exchange discipline).
  *
  * Measured division of labor (ScanFloorDemo (d521caa), 30k all-fresh batch):
  * most of that slope was the store's SHINGLE column riding the
  * verify semi-join — now skipped by the zero-candidate gate in
  * prepareIncrementalWithHashes, which needs no bloom (keys absent
  * from the store produce no candidate rows). The blooms trim what
  * remains: hit-subset broadcasts for the fp/band stages (5.37 vs
  * 5.96 s at 1M, 6.02 vs 7.13 s at 8M), and a full skip when every
  * batch key misses — rare at the default fpp with large batches
  * (expected false positives ≈ fpp x batch keys), real for small or
  * genuinely disjoint ones. The residual, irreducible floor is the
  * fp + band column scans themselves; at deployment scale the
  * structural answers are store sharding or batch-size scaling, not
  * a probabilistic filter.
  *
  * Design constraints, in order:
  *
  *   - NEVER under-represent the store. A bloom MISS skips a store
  *     read, so every key the store holds must be in the bloom. The
  *     write protocol guarantees it: the merged bloom is persisted
  *     BEFORE the store append it covers (a crash between the two
  *     leaves an over-representing bloom — keys for rows that never
  *     landed — which costs a spurious full-path run, never a missed
  *     duplicate). A bloom HIT only routes to the full
  *     verification path; it can never reject a document by itself.
  *   - Never ship the bloom. At 10^9 docs / 1% fpp the fp bloom alone
  *     is ~1.2 GB — broadcasting it per batch would replace one
  *     O(store) cost with another. The batch side is the small side:
  *     its (fp, band_keys) columns collect to the driver (5 longs per
  *     doc — the same bounded-envelope discipline as the k-centroid
  *     folds) and are tested against the driver-held filters; only
  *     the HIT subsets (tiny) are broadcast back as the semi-filter
  *     sets the r15 exchange discipline already uses.
  *   - Amortized maintenance. Inserts are driver-side putLong into a
  *     filter sized at creation; when the store outgrows capacity the
  *     filter is REBUILT from one store scan at doubled size (the
  *     sidecar records coverage, so a stale or missing sidecar — e.g.
  *     after [[graft.ext.DocPipeline.rebuildSignatureStore]] — also
  *     triggers a rebuild instead of a silent skip).
  *
  * Sidecar format (`<store>_bloom/current`, tmp + rename): magic,
  * format version, rows covered, fp/band capacities, then the two
  * `BloomFilter.writeTo` payloads. Single-writer by the store's own
  * contract (the stream is fenced); readers are this stream only.
  */
object StoreBloom {

  private val Magic = 0x47424c4d // "GBLM"

  /** In-memory state: `rows` = signature-store rows covered (the
    * under-representation guard compares it to the store's count),
    * `fpCap`/`bandCap` = creation capacities (outgrowing triggers a
    * rebuild, not a degrading fpp). */
  final case class SigBlooms(fp: BloomFilter, band: BloomFilter,
                             var rows: Long, fpCap: Long, bandCap: Long) {
    def outgrown(bands: Int): Boolean = rows > fpCap || rows * bands > bandCap
  }

  /** Default false-positive probability: a false positive only costs
    * one spurious full-path batch, so this trades driver memory
    * (~1.2 GB per 10^9 docs at 0.01) against skip frequency. */
  val DefaultFpp = 0.01

  def bloomDir(storePath: String): String = s"${storePath.stripSuffix("/")}_bloom"

  def create(expectedDocs: Long, bands: Int, fpp: Double = DefaultFpp): SigBlooms =
    SigBlooms(
      BloomFilter.create(expectedDocs, fpp),
      BloomFilter.create(expectedDocs * bands, fpp),
      rows = 0L, fpCap = expectedDocs, bandCap = expectedDocs * bands)

  /** Rebuild from the store itself — one column-pruned scan. Sized at
    * max(4x store rows, `minDocs`) so steady growth amortizes to O(1)
    * rebuilds per doubling.
    *
    * Two execution shapes, picked by PARTIAL-FILTER size (bloom merge
    * requires identically-sized partials, so every task must allocate
    * the FULL-capacity pair — per-task memory scales with the store,
    * not the partition):
    *
    *   - distributed (the default up to `maxPartialBytes` ≈ caps for
    *     ~100M docs): mapPartitions builds a partial pair per
    *     partition, hashing runs on the executors in parallel, and
    *     treeReduce ORs the fixed-size bitmaps executor-side so the
    *     driver receives ~one pair, not #partitions of them;
    *   - driver-serial fallback (huge caps): one streaming fold over
    *     toLocalIterator — one partition's Spark job at a time, rows
    *     batched to the driver, exactly ONE filter pair allocated.
    *     Slower (serial hashing) but memory-honest: a 10^9-doc cap is
    *     a ~1.2 GB fp bitmap per TASK on the distributed path, which
    *     an executor running several tasks cannot afford. */
  def fromStore(store: DataFrame, bands: Int, minDocs: Long = 4L << 20,
                fpp: Double = DefaultFpp,
                maxPartialBytes: Long = 256L << 20): SigBlooms = {
    import org.apache.spark.sql.functions._
    val n = store.count()
    val fpCap = math.max(n * 4, minDocs)
    val bandCap = fpCap * bands
    if (n == 0) return create(fpCap, bands, fpp)
    // optimal bloom sizing ≈ -ln(fpp)/ln(2)^2 bits per expected key:
    // the bytes one task's partial pair pins for the whole scan
    val bitsPerKey = -math.log(fpp) / (math.log(2) * math.log(2))
    val pairBytes = ((fpCap + bandCap) * bitsPerKey / 8).toLong
    val keyed = store.select(col("fp"), col("band_keys"))
    if (pairBytes <= maxPartialBytes) {
      val (fpF, bandF) = keyed.rdd.mapPartitions { it =>
        val fp = BloomFilter.create(fpCap, fpp)
        val band = BloomFilter.create(bandCap, fpp)
        it.foreach { r =>
          fp.putLong(r.getLong(0))
          val ks = r.getSeq[Long](1)
          var i = 0
          while (i < ks.length) { band.putLong(ks(i)); i += 1 }
        }
        Iterator((fp, band))
      }.treeReduce({ (a, b) =>
        a._1.mergeInPlace(b._1); a._2.mergeInPlace(b._2); a
      }, depth = 2)
      SigBlooms(fpF, bandF, n, fpCap, bandCap)
    } else {
      val blooms = create(fpCap, bands, fpp)
      val it = keyed.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        blooms.fp.putLong(r.getLong(0))
        val ks = r.getSeq[Long](1)
        var i = 0
        while (i < ks.length) { blooms.band.putLong(ks(i)); i += 1 }
      }
      blooms.rows = n
      blooms
    }
  }

  /** Merge one batch's collected keys (driver-side putLong). */
  def addBatch(b: SigBlooms, fps: Array[Long], bandKeys: Array[Long]): Unit = {
    var i = 0
    while (i < fps.length) { b.fp.putLong(fps(i)); i += 1 }
    i = 0
    while (i < bandKeys.length) { b.band.putLong(bandKeys(i)); i += 1 }
    b.rows += fps.length
  }

  def save(spark: SparkSession, storePath: String, b: SigBlooms): Unit = {
    val dir = new Path(bloomDir(storePath))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s"_tmp_${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try {
      val d = new java.io.DataOutputStream(new java.io.BufferedOutputStream(out))
      d.writeInt(Magic); d.writeInt(1)
      d.writeLong(b.rows); d.writeLong(b.fpCap); d.writeLong(b.bandCap)
      // each filter rides length-prefixed: BloomFilter.readFrom(InputStream)
      // over-consumes the stream (Spark 4.1), so framing is explicit
      def frame(f: BloomFilter): Unit = {
        val bos = new java.io.ByteArrayOutputStream()
        f.writeTo(bos)
        val bytes = bos.toByteArray
        d.writeInt(bytes.length); d.write(bytes)
      }
      frame(b.fp); frame(b.band)
      d.flush()
    } finally out.close()
    val cur = new Path(dir, "current")
    fs.delete(cur, false)
    if (!fs.rename(tmp, cur)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"bloom sidecar rename lost a race at $cur")
    }
  }

  /** Load the sidecar; None when absent or unreadable (callers rebuild
    * — an unreadable bloom must never silently disable dedup, and a
    * rebuild is always safe). */
  def load(spark: SparkSession, storePath: String): Option[SigBlooms] = {
    val cur = new Path(bloomDir(storePath), "current")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cur)) return None
    try {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(fs.open(cur)))
      try {
        val magic = in.readInt(); val ver = in.readInt()
        if (magic != Magic || ver != 1) return None
        val rows = in.readLong(); val fpCap = in.readLong(); val bandCap = in.readLong()
        def unframe(): BloomFilter = {
          val bytes = new Array[Byte](in.readInt())
          in.readFully(bytes)
          BloomFilter.readFrom(bytes)
        }
        Some(SigBlooms(unframe(), unframe(), rows, fpCap, bandCap))
      } finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  /** Drop the sidecar (store rebuilt/re-keyed: coverage is void). */
  def invalidate(spark: SparkSession, storePath: String): Unit = {
    val dir = new Path(bloomDir(storePath))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
  }
}
