package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The engine's variant data model (SURVEY.md §1.2).
  *
  * One row per variant ("wide" form): per-variant fields plus per-call
  * arrays indexed by sample. Mirrors the reference container of named
  * arrays sharing the variant axis (`variation6/variations.py::Variations`)
  * re-expressed relationally:
  *
  *   - `gt` is n_samples × ploidy; the missing sentinel is -1
  *     (`variation6/__init__.py::MISSING_INT`), kept as a sentinel rather
  *     than NULL so every kernel stays inside Catalyst codegen.
  *   - `ao` is n_samples × n_alt (alt-allele observation counts), `ro` is
  *     n_samples (ref observations); optional, like the reference's
  *     dynamically-present fields.
  *
  * At cluster scale the wide form keeps every per-variant kernel map-only
  * (no shuffle); the exploded "long" view (one row per variant×sample,
  * `Stats.longView`) is the escape hatch for per-sample aggregations and
  * very large cohorts.
  */
object VariantSchema {

  /** Missing-call sentinel inside `gt` (reference MISSING_INT). */
  val MissingInt: Int = -1

  val schema: StructType = StructType(Seq(
    StructField("chrom", StringType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("id", StringType, nullable = true),
    StructField("ref", StringType, nullable = true),
    StructField("alt", ArrayType(StringType, containsNull = false), nullable = true),
    StructField("qual", DoubleType, nullable = true),
    StructField("gt", ArrayType(ArrayType(IntegerType, containsNull = false), containsNull = false), nullable = true),
    StructField("dp", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("gq", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("ao", ArrayType(ArrayType(IntegerType, containsNull = false), containsNull = false), nullable = true),
    StructField("ro", ArrayType(IntegerType, containsNull = false), nullable = true)
  ))

  /** Persist partitioned by chromosome, the analog of the reference's
    * zarr chunking + its region slicing: chrom partition pruning + pos
    * min/max row-group skipping serve region queries without a shuffle. */
  def save(df: DataFrame, meta: VariantsMetadata, path: String): Unit = {
    df.write.mode("overwrite").partitionBy("chrom").parquet(path)
    VariantsMetadata.save(meta, s"$path/_v6_metadata.json")
  }

  def load(spark: SparkSession, path: String): (DataFrame, VariantsMetadata) = {
    // explicit schema: without it, partition-column type inference
    // reads numeric chromosome names ('1'..'22', Ensembl style) back
    // as IntegerType — string predicates silently match nothing and
    // unions with chr-prefixed stores fail — and moves chrom to the
    // last column; the declared schema pins both type and order
    val df = spark.read.schema(schema).parquet(path)
    (df, VariantsMetadata.load(spark, s"$path/_v6_metadata.json"))
  }

  /** [[save]] under the [[graft.sources.AtomicCommit]] protocol: data +
    * metadata sidecar land in a fresh `v=<N>/` directory and publish
    * with one atomic commit — a crash mid-write leaves debris no reader
    * sees, readers concurrent with a rewrite keep the previous cohort
    * in full, and past versions stay loadable ([[loadAt]]) until
    * vacuumed. Returns the committed version. */
  def saveAtomic(df: DataFrame, meta: VariantsMetadata, root: String): Long = {
    import graft.sources.AtomicCommit
    val spark = df.sparkSession
    val v = AtomicCommit.nextVersion(spark, root)
    save(df, meta, AtomicCommit.versionDir(root, v))
    require(AtomicCommit.commit(spark, root, v, ""),
      s"version $v already committed under $root — concurrent writer?")
    v
  }

  /** Load the latest committed version of an atomic variant store. */
  def loadLatest(spark: SparkSession, root: String): (DataFrame, VariantsMetadata) = {
    import graft.sources.AtomicCommit
    val (v, _) = AtomicCommit.latest(spark, root)
      .getOrElse(sys.error(s"no committed variant store under $root"))
    load(spark, AtomicCommit.versionDir(root, v))
  }

  /** Load committed version `v` — the reproducibility primitive for
    * cohort reanalysis (fails fast if `v` was never committed or has
    * been vacuumed). */
  def loadAt(spark: SparkSession, root: String, v: Long): (DataFrame, VariantsMetadata) = {
    import graft.sources.AtomicCommit
    require(AtomicCommit.at(spark, root, v).isDefined,
      s"version $v is not committed under $root (never written, or vacuumed); " +
        s"committed: ${AtomicCommit.committedVersions(spark, root).mkString(", ")}")
    load(spark, AtomicCommit.versionDir(root, v))
  }

  /** Approximate bytes of per-call array data in one wide row. */
  private def rowBytes(nSamples: Int, ploidy: Int): Long =
    nSamples.toLong * (4L * ploidy /*gt*/ + 4L /*dp*/ + 8L /*gq*/)

  /** Rows-per-batch for the vectorized parquet reader at cohort width
    * `nSamples` (wide-cohort rehearsal finding, ScaleDemo (d521caa) 10k/100k): the
    * default `spark.sql.parquet.columnarReaderBatchSize` = 4096 would ask
    * the reader for 4096 × row-width contiguous child vectors — ~3 GB at
    * 10k samples — and fail with "Cannot reserve additional contiguous
    * bytes". Cap a batch's array payload at ~64 MB per column family:
    * ≥ ~2.7M-sample cohorts degenerate to 1-row batches, which is the
    * true wide-row ceiling — switch to `Stats.variantCallStatsLong`'s
    * long view beyond it. */
  def wideReaderBatchSize(nSamples: Int, ploidy: Int = 2): Int = {
    val target = 64L << 20
    math.max(1, math.min(4096L, target / math.max(1L, rowBytes(nSamples, ploidy)))).toInt
  }

  /** Load a wide store, sizing the vectorized-reader batch to the cohort
    * width from the metadata sidecar. SESSION-WIDE BY DESIGN: parquet
    * batch size has no per-read option and the conf must still be in
    * force when the ACTION runs (plans are lazy — restoring it after
    * this call could re-expose the wide-row OOM this guards against).
    * Narrow reads in the same session pay smaller batches; use a
    * separate session for mixed wide/narrow workloads. */
  def loadWide(spark: SparkSession, path: String): (DataFrame, VariantsMetadata) = {
    val meta = VariantsMetadata.load(spark, s"$path/_v6_metadata.json")
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize",
      wideReaderBatchSize(meta.nSamples, meta.ploidy).toString)
    (spark.read.parquet(path), meta)
  }
}

/** Sample list + ploidy + free-form metadata, the reference's
  * `Variations.samples` / `.metadata` — small, carried beside the data as
  * a JSON sidecar and broadcast-sized by construction. */
final case class VariantsMetadata(
    samples: Seq[String],
    ploidy: Int,
    extra: Map[String, String] = Map.empty) {
  def nSamples: Int = samples.size
  def sampleIndex(name: String): Int = {
    val i = samples.indexOf(name)
    require(i >= 0, s"unknown sample '$name' (have: ${samples.mkString(",")})")
    i
  }
}

object VariantsMetadata {
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def toJson(m: VariantsMetadata): String = {
    val ss = m.samples.map(s => "\"" + esc(s) + "\"").mkString("[", ",", "]")
    val ex = m.extra.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    s"""{"samples":$ss,"ploidy":${m.ploidy},"extra":$ex}"""
  }

  def fromJson(json: String): VariantsMetadata = {
    // jackson-databind ships with Spark (/opt/spark/jars) — no new deps.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    val samples = {
      val it = node.get("samples").elements()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    val extra = {
      val it = node.get("extra").properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }
    VariantsMetadata(samples, node.get("ploidy").asInt(), extra)
  }

  def save(m: VariantsMetadata, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    // Session conf (like load), so configured filesystems work for writes.
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(toJson(m).getBytes("UTF-8")) finally out.close()
  }

  def load(spark: SparkSession, path: String): VariantsMetadata = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try fromJson(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }
}
