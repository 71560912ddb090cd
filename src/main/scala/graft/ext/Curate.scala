package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The standard curation recipe as ONE library call — the stage order
  * the individual operators are designed to compose in (and the
  * CurationDemo (d521caa) walks through), so a user gets the whole web-corpus
  * funnel without re-deriving the sequencing:
  *
  *   1. HTML → prose ([[TextNorm.stripHtml]], when `htmlInput`)
  *   2. domain blocklist ([[Web.blockByDomain]], when `urlCol` set)
  *   3. robots.txt compliance ([[Robots.gateUrls]], when provided)
  *   4. line and/or sentence boilerplate dedup ([[Dedup.lineDedup]] /
  *      [[Dedup.sentenceDedup]] — first occurrence keeps its text)
  *   5. quality gates + phrase blocklist + exact + verified MinHash
  *      near-dup ([[DocPipeline.prepare]], one plan)
  *   6. benchmark decontamination ([[Corpus.bloomDecontaminate]],
  *      when a benchmark frame is provided)
  *   7. DSIR target-distribution selection ([[Dsir.trainWeights]] +
  *      [[Dsir.resample]], when a target frame and budget are given) —
  *      the raw side of the importance ratio is the post-cleaning
  *      survivor pool itself (the Xie et al. 2023 setup: select from
  *      the cleaned raw corpus toward the target's n-gram profile)
  *
  * Every stage is the library operator documented at its own site —
  * this object adds ORDER, not semantics. Scale shape is the sum of
  * its parts: map-only gates, short-key shuffles, text shuffled only
  * as dedup units. Returns the surviving rows with `n_words` and
  * `lang_pred` appended (the [[DocPipeline.prepare]] contract).
  *
  * The unit-dedup-before-near-dup ORDER is load-bearing, not
  * cosmetic (CurateScaleDemo (d521caa), 1M-doc rehearsal): corpus-wide
  * boilerplate lines left in place saturate the MinHash signatures,
  * collapse the LSH buckets into hubs, and crater near-dup recall
  * (DocPipeline.scala stage-5a hazard note); enabling `lineDedup` /
  * `sentenceDedup` strips those units first, restoring the banding.
  * As defense-in-depth when the unit-dedup stages are off, this
  * facade defaults `maxSignatureDf` to a finite cap (drops corpus-hot
  * tokens from the banding signature; see [[Config]]);
  * `transitive = true` is the further fallback. */
object Curate {

  /** Knobs for [[run]] — defaults give gate-light curation: no URL
    * stages (no `urlCol`), no boilerplate dedup, near-dup on. */
  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      htmlInput: Boolean = false,
      urlCol: Option[String] = None,
      blockedDomains: Seq[String] = Nil,
      robots: Option[DataFrame] = None, // (host, body) frame
      robotsAgent: String = "*",
      lineDedup: Boolean = false,
      sentenceDedup: Boolean = false,
      minWords: Long = 30,
      maxTopTokenFrac: Double = 1.0,
      maxDupBigramFrac: Double = 1.0,
      blockPhrases: Seq[String] = Nil,
      minhashK: Int = 8,
      bands: Int = 4,
      tau: Double = 0.8,
      transitive: Boolean = false,
      // finite by default at THIS facade (DocPipeline's low-level
      // default stays uncapped): the 1M-doc rehearsal measured the
      // banding df-guard at 85.0% → 94.9% planted-pair recall when the
      // unit-dedup stages are off (CurateScaleDemo (d521caa), SURVEY §7.3), and
      // a token present in >100k web documents is boilerplate-class at
      // any corpus scale — it carries no blocking signal. Uncapped is
      // the explicit opt-out (`maxSignatureDf = Long.MaxValue`).
      // BEHAVIOR CHANGE (r13, see CHANGELOG.md): this default and the
      // oph default below alter band keys vs earlier releases — pin
      // maxSignatureDf = Long.MaxValue and oph = Some(false) to
      // reproduce pre-r13 survivor sets bit-stably.
      maxSignatureDf: Long = 100000L,
      // None follows DocPipeline.prepare's measured default: OPH
      // banding from k = OphDefaultMinK up, classic below; Some pins
      oph: Option[Boolean] = None,
      // same-batch path-edge candidates (r15 default-ON — closes the
      // in-batch star-blocking recall leak; false restores the
      // pre-r15 star-only candidate set, see CHANGELOG pin recipe)
      pathEdges: Boolean = true,
      // stage-5b verification payload cap (0 = exact): bottom-m
      // shingle sketches + the KMV Jaccard estimate instead of full
      // O(doc tokens) sets on the candidate-verify exchange — the
      // long-document scale knob (DocPipeline.prepare scaladoc)
      maxShingles: Int = 0,
      // all-pairs candidate completion within buckets ≤ the cap
      // (0 = off): closes the non-adjacent-pair blocking miss at
      // bounded O(b²) — turn on when ingest order scatters re-crawls
      // far from their originals (DocPipeline.prepare scaladoc)
      allPairsMaxBucket: Int = 0,
      benchmark: Option[DataFrame] = None, // (idCol, textCol) frame
      decontaminateN: Int = 13,
      dsirTarget: Option[DataFrame] = None, // (textCol) target corpus
      dsirKeep: Int = 0,
      dsirBuckets: Int = 10000)

  def run(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    require(cfg.blockedDomains.isEmpty || cfg.urlCol.nonEmpty,
      "blockedDomains needs urlCol")
    require(cfg.robots.isEmpty || cfg.urlCol.nonEmpty, "robots needs urlCol")
    val id = cfg.idCol
    val text = cfg.textCol

    // 1. markup off first — every later gate sees prose. Newlines are
    // KEPT here: stripHtml's block-tag newlines are exactly the line
    // structure lineDedup needs (folding them first would degenerate
    // line-level boilerplate removal to whole-document dedup); they
    // fold to spaces after the unit-dedup stages below
    val prose =
      if (!cfg.htmlInput) docs
      else docs.withColumn(text, TextNorm.stripHtml(col(text)))

    // 2-3. URL hygiene
    val afterDomains = cfg.urlCol match {
      case Some(u) if cfg.blockedDomains.nonEmpty =>
        Web.blockByDomain(prose, u, id, cfg.blockedDomains)
      case _ => prose
    }
    val afterRobots = (cfg.urlCol, cfg.robots) match {
      case (Some(u), Some(rb)) =>
        Robots.gateUrls(afterDomains, u, rb, "host", "body", cfg.robotsAgent)
          .filter(col("crawl_allowed")).drop("crawl_allowed")
      case _ => afterDomains
    }

    // 4. boilerplate units: first occurrence keeps its text
    def rejoin(df: DataFrame, deduped: DataFrame): DataFrame =
      df.drop(text).join(
        deduped.select(col(id), coalesce(col("text_kept"), lit("")).as(text)),
        Seq(id))
    val afterLines =
      if (!cfg.lineDedup) afterRobots
      else rejoin(afterRobots, Dedup.lineDedup(afterRobots, id, text))
    val afterSents =
      if (!cfg.sentenceDedup) afterLines
      else rejoin(afterLines, Dedup.sentenceDedup(afterLines, id, text))
    // line structure has served its purpose — flatten for the gates
    val flattened =
      if (!cfg.htmlInput) afterSents
      else afterSents.withColumn(text, regexp_replace(col(text), "\n", " "))

    // 5. gates + exact + near-dup, one plan
    val prepared = DocPipeline.prepare(flattened, id, text,
      minWords = cfg.minWords, minhashK = cfg.minhashK, bands = cfg.bands,
      tau = cfg.tau, transitive = cfg.transitive,
      maxTopTokenFrac = cfg.maxTopTokenFrac,
      maxDupBigramFrac = cfg.maxDupBigramFrac,
      blockPhrases = cfg.blockPhrases,
      maxSignatureDf = cfg.maxSignatureDf,
      oph = cfg.oph,
      pathEdges = cfg.pathEdges,
      maxShingles = cfg.maxShingles,
      allPairsMaxBucket = cfg.allPairsMaxBucket)

    // 6. benchmark decontamination
    val decon = cfg.benchmark match {
      case Some(b) =>
        Corpus.bloomDecontaminate(prepared, b, id, text, n = cfg.decontaminateN)
      case None => prepared
    }

    // 7. DSIR selection toward the target distribution. Training runs
    // two bucket-keyed aggregation ACTIONS here (the m-row weight
    // envelope), like the bloom build in stage 6; the surviving rows
    // keep their importance log-weight (`dsir_lw6`) for inspection.
    cfg.dsirTarget match {
      case Some(tgt) =>
        require(cfg.dsirKeep > 0, "dsirTarget needs dsirKeep > 0")
        // stage 7 references the survivor pool THREE times (raw-side
        // bucket counts, the slim Gumbel-key checkpoint, the final
        // threshold emit), and each bare reference would re-run the
        // ENTIRE funnel above — the 10M rehearsal measured the DSIR
        // stage at ~50 GB marginal shuffle, ≈ 3 funnel re-executions
        // (§7.4). Materialize the survivors once: strictly cheaper
        // than re-running a multi-join pipeline per reference, and
        // `spark.graft.checkpointDir` upgrades it to a reliable
        // checkpoint on real clusters.
        val pool = graft.core.Checkpoints.cut(decon)
        val w = Dsir.trainWeights(tgt, pool, text, cfg.dsirBuckets)
        // corpus-sized budgets switch to the radix-selection path: the
        // sorted limit merges n·partitions rows on the driver, so past
        // the histogram-envelope bound the threshold form is the only
        // shape that survives (identical selected set, spec'd)
        if (cfg.dsirKeep > 65536)
          Dsir.resampleAt(pool, id, text, w, cfg.dsirKeep.toLong)
        else Dsir.resample(pool, id, text, w, cfg.dsirKeep)
      case None => decon
    }
  }
}
