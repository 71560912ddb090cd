package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.ext.DocPipeline

/** doc_dedup: one-shot corpus curation with
  * `DocPipeline.prepare(transitive = true)` over a seeded corpus of 70%
  * originals, 10% exact copies, 10% near copies, 5% boilerplate hub and
  * 5% short documents, ids shuffled so a copy may precede its source.
  *
  * Expected output, known from the generator: one survivor per copy
  * group (its smallest id), every hub document, no short document, the
  * planted language on every survivor. Near copies that banding misses
  * may survive only as often as ideal MinHash LSH would let them
  * (`IdealLsh.allowance`). */
final class DocDedup(spark: SparkSession, t: Tracer, dir: Path, seed: Long, tiny: Boolean) extends Workload {
  val nDocs: Int = if (tiny) 400 else 6000
  private val path = dir.resolve("docs").toString

  final case class Out(kept: Seq[(Long, String)])

  final case class Doc(id: Long, text: String, kind: Char, group: Int, lang: String)
  private var docs: IndexedSeq[Doc] = IndexedSeq.empty
  private var last: Out = _

  def rowsPerOp: Long = nDocs

  override def ownSpans: Seq[String] = Seq("ext.DocPipeline.prepare")

  def generate(): IndexedSeq[Doc] = {
    val g = new TextGen(seed)
    val ids = g.permutation(nDocs)
    val made = mutable.ArrayBuffer[(Array[String], Char, Int, String)]()
    val sources = mutable.ArrayBuffer[Int]()
    for (k <- 0 until nDocs) {
      val r = g.pick(100)
      val l = g.lang()
      if (sources.isEmpty || r < 70) { sources += k; made += ((g.base(l), 'b', k, l)) }
      else {
        val src = made(sources(g.pick(sources.size)))
        if (r < 80) made += ((src._1, 'e', src._3, src._4))
        else if (r < 90) made += ((g.near(src._1), 'n', src._3, src._4))
        else if (r < 95) made += ((g.hub(l), 'h', k, l))
        else made += ((g.short(l), 's', k, l))
      }
    }
    made.zipWithIndex.map { case ((w, kind, grp, l), k) => Doc(ids(k).toLong, w.mkString(" "), kind, grp, l) }.toIndexedSeq
  }

  def prepare(rep: Int): Unit = {
    docs = generate()
    spark.createDataFrame(docs.map(d => (d.id, d.text))).toDF("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(path)
  }

  def warmUp(): Unit = (-3 to -1).foreach(op)

  def op(i: Int): Out = {
    val in = spark.read.parquet(path)
    val kept = t.span("ext.DocPipeline.prepare") {
      DocPipeline.prepare(in, transitive = true).select("doc_id", "lang_pred").collect()
    }
    last = Out(kept.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq)
    last
  }

  def digest(o: Out): String = s"${o.kept.size}:${o.kept.hashCode}"

  def tamper(o: Out): Out = {
    val extra = docs.find(d => d.kind == 's').getOrElse(docs.head)
    Out((o.kept :+ (extra.id -> extra.lang)).sortBy(_._1))
  }

  def check(i: Int, o: Out): Seq[String] = {
    val byId = docs.map(d => d.id -> d).toMap
    val kept = o.kept.map(_._1)
    val keptSet = kept.toSet
    val errs = Seq.newBuilder[String]
    if (kept.distinct.size != kept.size) errs += "duplicate ids in output"
    if (!kept.forall(byId.contains)) errs += "output id not in input"
    val shortKept = docs.count(d => d.kind == 's' && keptSet(d.id))
    if (shortKept > 0) errs += s"$shortKept short documents survived the gate"
    val hubLost = docs.count(d => d.kind == 'h' && !keptSet(d.id))
    if (hubLost > 0) errs += s"$hubLost hub documents dropped"
    val groups = docs.filter(d => "ben".contains(d.kind)).groupBy(_.group)
    val lost = groups.values.count(g => !keptSet(g.map(_.id).min))
    if (lost > 0) errs += s"$lost copy groups lost their smallest id"
    val exactKept = docs.groupBy(_.text).values.map(ds => ds.count(d => keptSet(d.id)))
    if (exactKept.exists(_ > 1)) errs += "an exact copy survived"
    val missed = groups.values.map(g => g.count(d => keptSet(d.id)) - 1).sum
    val source = docs.filter(_.kind == 'b').map(d => d.group -> d.text).toMap
    val near = docs.filter(_.kind == 'n')
    val allowed = IdealLsh.allowance(near.map(d => IdealLsh.missProb(IdealLsh.jaccard(d.text, source(d.group)))))
    if (missed > allowed) errs += s"$missed of ${near.size} near copies survived; ideal MinHash LSH allows $allowed"
    val wrongLang = o.kept.count { case (id, l) => byId.get(id).exists(_.lang != l) }
    if (wrongLang > 0) errs += s"$wrongLang survivors with the wrong language"
    errs.result()
  }

  override def layerMetrics(tr: Tracer): Seq[(String, Double, String)] =
    Seq(("ext.dedup.kept_frac", last.kept.size.toDouble / nDocs, "ratio"))
}
