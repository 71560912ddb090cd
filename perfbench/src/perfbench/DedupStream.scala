package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.DocPipeline
import graft.sources.{AppendStore, StoreBloom}

/** dedup_stream: incremental ingest through
  * `DocPipeline.streamIncremental` (MemoryStream source, atomic
  * AppendStore, store bloom on) in episodes of `nBatches` batches of
  * `batchDocs` documents. Set-up builds a history store of
  * `HistoryBatches` × `batchDocs` documents through the bulk signature
  * path (`DocPipeline.signatures` → `AppendStore.append`, bloom sidecar
  * from `StoreBloom.fromStore`); every episode starts from a fresh copy
  * of it, so each episode's store grows the same way, from 8× to 11× the
  * batch size. 15% of a batch re-offers exact copies and
  * 10% near copies of documents accepted earlier (history included);
  * the middle batch is the hub day, where 40% of the fresh documents
  * share one boilerplate block.
  *
  * Timed operation: one batch, from `addData` until `processAllAvailable`
  * returns. Expected per batch: every fresh and hub document accepted,
  * no exact re-offer accepted, and near re-offers accepted only as often
  * as ideal MinHash LSH would miss them (`IdealLsh.allowance`). */
final class DedupStream(spark: SparkSession, t: Tracer, dir: Path, seed: Long, tiny: Boolean) extends Workload {
  val nBatches: Int = 3
  val batchDocs: Int = if (tiny) 100 else 500
  val HistoryBatches = 8
  val hubBatch: Int = nBatches / 2
  val Span = "ext.DocPipeline.streamIncremental.batch"

  final case class Out(accepted: Seq[Long])

  final case class Doc(id: Long, text: String, kind: Char, src: Long = -1L)
  private var history: IndexedSeq[Doc] = IndexedSeq.empty
  private var batches: IndexedSeq[IndexedSeq[Doc]] = IndexedSeq.empty
  private val historyRoot = dir.resolve("history")
  private var historyVersions = 0

  private var episode = 0
  private var query: StreamingQuery = _
  private var input: MemoryStream[(Long, String)] = _
  private var storePath: String = _
  private val accepted = mutable.Map[Long, Seq[Long]]()

  // traced-phase evidence, per finished episode and per batch
  private val storeStats = mutable.ArrayBuffer[(Long, Long, Long, Long)]() // bytes, files, new versions, accepted
  private val candidates = mutable.ArrayBuffer[(Long, Long)]() // (candidate pairs, near re-offers dropped)
  private var pendingCandidates = 0L

  def rowsPerOp: Long = batchDocs

  def generate(): Unit = {
    val g = new TextGen(seed)
    val nHist = HistoryBatches * batchDocs
    history = g.permutation(nHist).toIndexedSeq.map(k => Doc(k.toLong, g.base(g.lang()).mkString(" "), 'f'))
    val pool = mutable.ArrayBuffer[(Array[String], Long)](history.map(d => (d.text.split(" "), d.id)): _*)
    batches = (0 until nBatches).map { b =>
      val ids = g.permutation(batchDocs).map(k => nHist + b.toLong * batchDocs + k)
      val docs = (0 until batchDocs).map { _ =>
        val r = g.pick(100)
        if (r < 15) { val (w, src) = pool(g.pick(pool.size)); (w, 'e', src) }
        else if (r < 25) { val (w, src) = pool(g.pick(pool.size)); (g.near(w), 'n', src) }
        else if (b == hubBatch && g.chance(0.4)) (g.hub(g.lang()), 'h', -1L)
        else (g.base(g.lang()), 'f', -1L)
      }
      val made = docs.zip(ids).map { case ((w, kind, src), id) => Doc(id, w.mkString(" "), kind, src) }
      made.filter(_.kind == 'f').foreach(d => pool += ((d.text.split(" "), d.id)))
      made
    }
  }

  def prepare(rep: Int): Unit = {
    generate()
    Main.deleteTree(historyRoot)
    val store = historyRoot.resolve("store").toString
    val docs = spark.createDataFrame(history.map(d => (d.id, d.text))).toDF("doc_id", "text")
    AppendStore.append(DocPipeline.signatures(docs), store)
    StoreBloom.save(spark, store, StoreBloom.fromStore(AppendStore.readOr(spark, store, docs), 4))
    historyVersions = AppendStore.liveVersions(spark, store).size
  }

  /** Starts a stream over a fresh copy of the history store. */
  private def start(root: Path): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    Main.deleteTree(root)
    Main.copyTree(historyRoot, root)
    storePath = root.resolve("store").toString
    accepted.clear()
    input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    query = t.streamOwner(Span) {
      DocPipeline.streamIncremental(docs, storePath, atomicStore = true) { (df: DataFrame, batchId: Long) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0)).toSeq
        accepted.synchronized(accepted(batchId) = ids)
      }
    }
  }

  /** Offers batch `b` and returns the ids the stream accepted from it.
    * The sink callback runs inside the micro-batch, so its output is in
    * place when `processAllAvailable` returns. */
  private def offer(b: Int): Seq[Long] = {
    def newest = accepted.synchronized(accepted.keys.maxOption.getOrElse(-1L))
    val before = newest
    input.addData(batches(b).map(d => (d.id, d.text)))
    query.processAllAvailable()
    val id = newest
    if (id == before) throw new IllegalStateException(s"batch $b was not processed")
    accepted.synchronized(accepted(id))
  }

  override def abort(): Unit = if (query != null) { query.stop(); query = null }

  /** Two episodes: after one, the next episode's batches still run 10–15%
    * faster (the driver's planning code is still being compiled). */
  def warmUp(): Unit = (1 to 2).foreach { k =>
    val root = dir.resolve(s"warm$k")
    start(root)
    try (0 until nBatches).foreach(offer) finally abort()
    Main.deleteTree(root)
  }

  override def opsPerGroup: Int = nBatches

  override def ownSpans: Seq[String] = Seq(Span)

  override def beforeOp(i: Int): Unit = {
    val b = i % nBatches
    if (b == 0) {
      episode += 1
      start(dir.resolve(s"episode$episode"))
    }
    if (t.isEnabled) {
      // the candidate pairs this batch will send to verification, against
      // the store as the batch will meet it
      val store = AppendStore.readOr(spark, storePath, spark.emptyDataFrame)
      val batch = spark.createDataFrame(batches(b).map(d => (d.id, d.text))).toDF("doc_id", "text")
      pendingCandidates = DocPipeline.incrementalCandidateVolume(batch, store)
    }
  }

  def op(i: Int): Out = {
    val b = i % nBatches
    val out = Out(t.span(Span)(offer(b)).sorted)
    if (t.isEnabled) {
      val kept = out.accepted.toSet
      candidates += (pendingCandidates -> batches(b).count(d => d.kind == 'n' && !kept(d.id)).toLong)
    }
    out
  }

  override def afterOp(i: Int): Unit = if (i % nBatches == nBatches - 1) {
    abort()
    val root = dir.resolve(s"episode$episode")
    if (t.isEnabled) {
      val store = root.resolve("store")
      storeStats += ((Main.dirBytes(store), Main.dirFiles(store, ".parquet"),
        AppendStore.liveVersions(spark, store.toString).size.toLong - historyVersions,
        accepted.values.map(_.size.toLong).sum))
    }
    Main.deleteTree(root)
  }

  def digest(o: Out): String = s"${o.accepted.size}:${o.accepted.hashCode}"

  def tamper(o: Out): Out = Out((o.accepted ++ batches.flatten.find(_.kind == 'e').map(_.id)).sorted)

  def check(i: Int, o: Out): Seq[String] = {
    val docs = batches(i % nBatches)
    val kept = o.accepted.toSet
    val errs = Seq.newBuilder[String]
    if (!o.accepted.forall(docs.map(_.id).toSet)) errs += "accepted id not offered in this batch"
    val lost = docs.count(d => "fh".contains(d.kind) && !kept(d.id))
    if (lost > 0) errs += s"$lost fresh or hub documents dropped"
    val exact = docs.count(d => d.kind == 'e' && kept(d.id))
    if (exact > 0) errs += s"$exact exact re-offers accepted"
    val text = (history ++ batches.flatten).map(d => d.id -> d.text).toMap
    val near = docs.filter(_.kind == 'n')
    val missed = near.count(d => kept(d.id))
    val allowed = IdealLsh.allowance(near.map(d => IdealLsh.missProb(IdealLsh.jaccard(d.text, text(d.src)))))
    if (missed > allowed) errs += s"$missed of ${near.size} near re-offers accepted; ideal MinHash LSH allows $allowed"
    errs.result()
  }

  override def layerMetrics(tr: Tracer): Seq[(String, Double, String)] = {
    val lat = tr.spans.filter(_.name == Span).map(_.seconds).toSeq
    def med(key: String) = Main.median(tr.progress.flatMap(_.get(key)).map(_ / 1e3).toSeq)
    def perEpisode(f: ((Long, Long, Long, Long)) => Long) =
      if (storeStats.isEmpty) 0.0 else storeStats.map(f).sum.toDouble / storeStats.size
    val acc = perEpisode(_._4)
    val cand = candidates.map(_._1).sum.toDouble
    Seq(
      ("ext.dedup.kept_frac", acc / (nBatches * batchDocs), "ratio"),
      ("ext.dedup.verify_yield", if (cand > 0) candidates.map(_._2).sum / cand else 0.0, "ratio"),
      ("sources.AppendStore.versions_per_batch", perEpisode(_._3) / nBatches, "count"),
      ("sources.AppendStore.files", perEpisode(_._2), "count"),
      ("sources.AppendStore.bytes_per_doc", perEpisode(_._1) / (history.size + acc), "bytes"),
      ("streaming.addBatch_s", med("addBatch"), "s"),
      ("streaming.queryPlanning_s", med("queryPlanning"), "s"),
      ("streaming.walCommit_s", med("walCommit"), "s"),
      ("streaming.batch_tail_s", Main.tail(lat).orElse(lat.sorted.lastOption.map(100 -> _)).map(_._2).getOrElse(0.0), "s"))
  }
}
