package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.CutOps
import TextHash._

/** Deduplication operators for document corpora.
  *
  * Scale design (the 100 TB story): none of these ever compare documents
  * pairwise across the corpus. Exact dedup shuffles on a key; MinHash-LSH
  * shuffles each doc once per band on a short (band-id, band-hash) key so
  * candidate pairs only materialize inside buckets; SimHash groups on a
  * 16-bit value. All signature computation is map-side (TextHash kernels).
  * AQE handles bucket skew (a pathological all-identical corpus lands in
  * one bucket; salting the band key is the documented escape hatch).
  */
object Dedup {

  /** Exact dedup, deterministic representative: one row per key set,
    * keeping the minimum `orderCol` (NOT raw dropDuplicates, whose pick
    * is partition-order-dependent). */
  def exact(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(orderCol)).as(s"first_$orderCol"))

  /** Cross-document repeated n-gram statistics — the substring-level
    * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499): a span that
    * recurs across documents is boilerplate/template text even when no
    * whole document is a near-dup. Per document: how many DISTINCT
    * word n-gram shingles it has, and how many of those appear in at
    * least `minDocs` documents. `n_repeated / n_shingles` is the
    * "templated fraction" a corpus-shaping gate thresholds on.
    *
    * Scale shape: shingle hashes are map-side (TextHash fused kernel,
    * one pass); the shuffles key on the 64-bit shingle hash — first
    * the document-frequency count (map-side partial agg collapses
    * within-partition repeats), then the candidate join back — and on
    * the doc id for the final roll-up. Never a doc-pair product. The
    * df table is corpus-sized (distinct shingles) so the join back is
    * a real shuffle join by design: exactly the substring-dedup
    * exchange every published implementation pays. Documents with
    * fewer than `n` tokens surface with (0, 0) counts. */
  def repeatedShingleStats(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    val pairs = docs
      .withColumn("_whs", wordHashes(col(textCol)))
      .select(col(idCol),
        explode_outer(array_distinct(shingleHashes(col("_whs"), n))).as("_sh"))
    val repeated = pairs.filter(col("_sh").isNotNull)
      .groupBy(col("_sh")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs)
      .select(col("_sh"), lit(1).as("_rep"))
    pairs.join(repeated, Seq("_sh"), "left")
      .groupBy(col(idCol))
      .agg(count(col("_sh")).as("n_shingles"),
        count(col("_rep")).as("n_repeated"))
  }

  /** Map-side token rebuild shared by EVERY span-removal operator
    * (spanDedup / spanDedupExact / intraDocDedup / the streaming
    * twin): `spans` carries one row per doc with `_rm` =
    * array<struct<_st, _en>> of 0-based inclusive token intervals to
    * cut; returns (idCol, n_removed, text_kept), text_kept null when
    * everything was cut. One primitive so the tokenizer and the
    * indexed-filter semantics cannot drift between the batch and
    * streaming variants. */
  private[ext] def removeSpans(docs: DataFrame, idCol: String, textCol: String,
                               spans: DataFrame): DataFrame =
    docs.join(spans, Seq(idCol), "left")
      .withColumn("_toks", split(col(textCol), " "))
      .withColumn("_kept", when(col("_rm").isNull, col("_toks")).otherwise(
        filter(col("_toks"), (_, i) =>
          !exists(col("_rm"), s =>
            i.cast("long") >= s.getField("_st") && i.cast("long") <= s.getField("_en")))))
      .select(col(idCol),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_removed"),
        nullif(array_join(col("_kept"), " "), lit("")).as("text_kept"))

  /** Variable-length duplicated-span detection — the ExactSubstr
    * semantics of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499) re-expressed as
    * SHINGLE-RUN GROWTH instead of a suffix array: any substring of ≥
    * `minTokens` tokens appearing in ≥ `minDocs` documents makes every
    * one of its word n-shingles cross-doc repeated, so the maximal run
    * of consecutive repeated-shingle positions recovers the full span —
    * including spans that straddle [[chunkDedup]]'s fixed window
    * boundaries, which fixed-chunk hashing misses by construction.
    * Recall is exact (a true duplicated span always surfaces, grown to
    * its maximal extent); precision is approximate (adjacent spans
    * duplicated against different partners merge into one run — the
    * standard trade of the shingle relaxation vs. a suffix array).
    *
    * Returns one row per (doc, maximal run): (idCol, start_tok,
    * end_tok, n_tokens), token positions 0-based inclusive.
    *
    * Scale shape: positions explode map-side off the fused shingle
    * kernel; the df count shuffles (doc, shingle)-distinct rows on the
    * 64-bit shingle hash with map-side partials; the semi join back is
    * shingle-keyed; run growth is ONE doc-keyed window (per-doc state =
    * its repeated positions). Nothing is all-pairs and no suffix
    * structure is materialized — the exchanges are exactly
    * [[repeatedShingleStats]]'s plus one window. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, minDocs: Int = 2, minTokens: Int = 20,
                      maxDf: Long = Long.MaxValue): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    require(minTokens >= n, s"minTokens=$minTokens must be >= n=$n")
    require(maxDf >= minDocs, s"maxDf=$maxDf must be >= minDocs=$minDocs")
    val pos = docs.withColumn("_whs", wordHashes(col(textCol)))
      .select(col(idCol),
        posexplode(shingleHashes(col("_whs"), n)).as(Seq("_p", "_sh")))
      .withColumn("_p", col("_p").cast("long"))
    // maxDf: the web-corpus precision knob — shingles in more than
    // maxDf docs (navigation chrome, license boilerplate) are treated
    // as NOT repeated, so runs don't grow through ubiquitous text
    val rep = pos.select(col(idCol), col("_sh")).distinct()
      .groupBy(col("_sh")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs && col("_df") <= maxDf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_p"))
    pos.join(rep.select(col("_sh")), Seq("_sh"), "left_semi")
      .withColumn("_grp", col("_p") - row_number().over(w))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("_p")).as("start_tok"),
        (max(col("_p")) + lit(n - 1).cast("long")).as("end_tok"))
      .withColumn("n_tokens", col("end_tok") - col("start_tok") + 1L)
      .filter(col("n_tokens") >= minTokens)
      .select(col(idCol), col("start_tok"), col("end_tok"), col("n_tokens"))
  }

  /** Remove duplicated spans, keeping one witness copy per span — the
    * removal half of [[duplicatedSpans]]. Winner election is per
    * SHINGLE: the minimum doc id containing it. A doc's position is cut
    * when its shingle is cross-doc repeated AND the doc is not that
    * shingle's winner, grown to maximal runs ≥ `minTokens` like the
    * detector; the minimum doc of a duplicated region therefore keeps
    * its text while every other holder drops the span. (When a region's
    * shingles also occur in unrelated docs the winner can differ per
    * shingle and both holders may keep fragments — the documented
    * under-removal of the shingle relaxation; determinism is exact.)
    *
    * Returns the full input row set: (idCol, n_removed, text_kept) with
    * text_kept null when everything was cut.
    *
    * Scale shape: [[duplicatedSpans]]'s exchanges plus ONE doc-keyed
    * join of the (small) span list back to the text and a map-side
    * indexed-filter rebuild; span lists per doc are bounded by doc
    * length, never corpus size. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 5, minDocs: Int = 2, minTokens: Int = 20,
                maxDf: Long = Long.MaxValue): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    require(minTokens >= n, s"minTokens=$minTokens must be >= n=$n")
    require(maxDf >= minDocs, s"maxDf=$maxDf must be >= minDocs=$minDocs")
    val pos = docs.withColumn("_whs", wordHashes(col(textCol)))
      .select(col(idCol),
        posexplode(shingleHashes(col("_whs"), n)).as(Seq("_p", "_sh")))
      .withColumn("_p", col("_p").cast("long"))
    val rep = pos.select(col(idCol), col("_sh")).distinct()
      .groupBy(col("_sh"))
      .agg(count(lit(1)).as("_df"), min(col(idCol)).as("_win"))
      .filter(col("_df") >= minDocs && col("_df") <= maxDf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_p"))
    val spans = pos.join(rep, Seq("_sh"))
      .filter(col(idCol) =!= col("_win"))
      .withColumn("_grp", col("_p") - row_number().over(w))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("_p")).as("_st"),
        (max(col("_p")) + lit(n - 1).cast("long")).as("_en"))
      .filter(col("_en") - col("_st") + 1L >= minTokens)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("_st"), col("_en"))).as("_rm"))
    removeSpans(docs, idCol, textCol, spans)
  }

  /** EXACT variable-span duplicate detection — true ExactSubstr
    * semantics (Lee et al. 2022), closing the documented precision gap
    * of [[duplicatedSpans]]'s shingle-run relaxation. A token position
    * is duplicated iff some substring of ≥ `minTokens` tokens COVERING
    * IT literally occurs in another document; [[duplicatedSpans]]
    * over-reports when a run of repeated shingles is stitched from
    * SHORT overlaps with different partners none of which reaches
    * `minTokens` on its own. The exact test needs no suffix structure:
    * a common substring of token length L between docs A and B is
    * precisely a run of L−n+1 consecutive shingle matches along one
    * DIAGONAL i−j of the (A-position i, B-position j) match grid — so
    * gaps-and-islands per (A, B, diagonal) recovers every maximal
    * common substring, the ≥ `minTokens` filter applies to TRUE shared
    * substrings, and the per-doc union of surviving intervals (merged
    * when overlapping or adjacent) is the exact covered-position set.
    * Returns (idCol, start_tok, end_tok, n_tokens), positions 0-based
    * inclusive, one row per maximal covered interval.
    *
    * Scale shape: candidate generation is the repeated-position
    * self-join on the 64-bit shingle hash — Σ_sh df² rows, bounded by
    * `maxDf`² per shingle (set `maxDf` on web corpora: boilerplate
    * shingles are both the precision hazard and the quadratic hazard,
    * one knob caps both); run growth is ONE (docA, docB,
    * diagonal)-keyed window; the interval union is ONE doc-keyed
    * window. Nothing is all-pairs over the corpus — only docs sharing
    * a repeated shingle ever meet.
    *
    * `maxDf` recall caveat: the cap drops shingles GLOBALLY, so an
    * over-cap shingle INSIDE a true duplicated passage punches a hole
    * in its diagonal run — if the surviving fragments each fall below
    * `minTokens`, that real duplicate is missed entirely. "Exact" is
    * therefore exact AMONG the shingles the cap admits: pass
    * `maxDf = Long.MaxValue` to opt into the uncapped exact-outright
    * mode (safe on bounded corpora; at web scale the default cap is
    * what keeps candidate generation sub-quadratic — df² pair rows at
    * df = corpus size IS the all-pairs explosion); with a cap, set it
    * above the df of template text you still want caught, or run a
    * second pass at a higher cap over suspect hosts. The cap is never
    * silent: every capped run carries a `span_exact_df_cap*` observed
    * metric (CollectMetrics, the [[graft.operators.Filters.applyObserved]]
    * convention — zero extra scan) with `n_shingles_dropped` and
    * `max_df_dropped`, readable from a QueryExecutionListener on the
    * caller's own action. */
  def duplicatedSpansExact(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 5, minTokens: Int = 20,
                           maxDf: Long = DefaultExactMaxDf): DataFrame =
    exactCoveredSpans(docs, idCol, textCol, n, minTokens, maxDf,
        losersOnly = false)
      .withColumn("n_tokens", col("end_tok") - col("start_tok") + 1L)
      .select(col(idCol), col("start_tok"), col("end_tok"), col("n_tokens"))

  /** EXACT variable-span removal: cut every position of a doc covered
    * by a ≥ `minTokens` substring shared with a LOWER-id doc, so the
    * minimum holder of each duplicated region keeps its text verbatim
    * and every other holder drops exactly the true shared extent —
    * none of [[spanDedup]]'s per-shingle winner fragmentation and none
    * of the run relaxation's over-removal. Same return shape as
    * [[spanDedup]]: (idCol, n_removed, text_kept), text_kept null when
    * everything was cut. Scale shape = [[duplicatedSpansExact]] plus
    * the map-side indexed-filter rebuild. */
  def spanDedupExact(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 5, minTokens: Int = 20,
                     maxDf: Long = DefaultExactMaxDf): DataFrame = {
    val spans = exactCoveredSpans(docs, idCol, textCol, n, minTokens, maxDf,
        losersOnly = true)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("start_tok").as("_st"),
        col("end_tok").as("_en"))).as("_rm"))
    removeSpans(docs, idCol, textCol, spans)
  }

  /** Shared kernel of the exact-span operators: maximal per-doc covered
    * intervals (merged across partners). `losersOnly` restricts the
    * match grid to partners with a smaller id — the removal side's
    * winner election. */
  /** Default df cap for the exact-span operators: candidate pairs are
    * Σ df² per shingle, so an UNCAPPED default single-shingles at web
    * scale (a boilerplate shingle in 10⁸ docs → 10¹⁶ pair rows).
    * 5000 sits in the verdict's 10³–10⁴ band: far above the df of any
    * passage worth catching pairwise, far below the quadratic hazard.
    * Uncapped is an explicit `maxDf = Long.MaxValue` opt-in. */
  val DefaultExactMaxDf: Long = 5000L

  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def exactCoveredSpans(docs: DataFrame, idCol: String, textCol: String,
                                n: Int, minTokens: Int, maxDf: Long,
                                losersOnly: Boolean): DataFrame = {
    require(minTokens >= n, s"minTokens=$minTokens must be >= n=$n")
    require(maxDf >= 2, s"maxDf=$maxDf must be >= 2")
    val pos = docs.withColumn("_whs", wordHashes(col(textCol)))
      .select(col(idCol),
        posexplode(shingleHashes(col("_whs"), n)).as(Seq("_p", "_sh")))
      .withColumn("_p", col("_p").cast("long"))
    val repAll = pos.select(col(idCol), col("_sh")).distinct()
      .groupBy(col("_sh")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2)
    // no silent caps: when the cap can drop shingles, ride the drop
    // count on the caller's action as observed metrics (names are
    // unique per plan — Spark rejects duplicate CollectMetrics names
    // inside one query when the exact operators appear twice)
    val repObs = if (maxDf == Long.MaxValue) repAll
      else repAll.observe(s"span_exact_df_cap_${obsSeq.incrementAndGet()}",
        sum(when(col("_df") > maxDf, 1L).otherwise(0L)).as("n_shingles_dropped"),
        max(when(col("_df") > maxDf, col("_df"))).as("max_df_dropped"))
    val rep = repObs.filter(col("_df") <= maxDf)
    // cut: both sides of the self-join read the SAME repeated-position
    // frame — without the barrier each side re-runs the scan + shingle
    // explode + df semi join (measured 3x wall on the 2M rehearsal);
    // the cut frame is df-capped repeated positions only, far below
    // corpus scale on a deduplicated-in-anger corpus
    val posR = pos.join(rep.select(col("_sh")), Seq("_sh"), "left_semi")
      .cut
    val lhs = posR.select(col("_sh"), col(idCol).as("_ida"), col("_p").as("_i"))
    val rhs = posR.select(col("_sh"), col(idCol).as("_idb"), col("_p").as("_j"))
    val pairCond = if (losersOnly) col("_ida") > col("_idb")
                   else col("_ida") =!= col("_idb")
    val m = lhs.join(rhs, Seq("_sh")).filter(pairCond)
      .select(col("_ida"), col("_idb"), col("_i"), (col("_i") - col("_j")).as("_d"))
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_ida"), col("_idb"), col("_d")).orderBy(col("_i"))
    val runs = m.withColumn("_grp", col("_i") - row_number().over(wRun))
      .groupBy(col("_ida"), col("_idb"), col("_d"), col("_grp"))
      .agg(min(col("_i")).as("_st"),
        (max(col("_i")) + lit(n - 1).cast("long")).as("_en"))
      .filter(col("_en") - col("_st") + 1L >= minTokens)
      .select(col("_ida").as(idCol), col("_st"), col("_en"))
    // union of covered positions: islands over intervals sorted by
    // start, split where a gap opens (adjacent intervals merge — their
    // covered-position sets are contiguous)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_st"), col("_en"))
    val wPrev = wOrd.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    runs
      .withColumn("_pmax", max(col("_en")).over(wPrev))
      .withColumn("_new",
        when(col("_pmax").isNull || col("_st") > col("_pmax") + 1L, 1L).otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(wOrd))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("_st")).as("start_tok"), max(col("_en")).as("end_tok"))
      .select(col(idCol), col("start_tok"), col("end_tok"))
  }

  /** INTRA-document span dedup — keep-first removal of passages
    * repeated WITHIN one document (the scraped-page failure mode:
    * the same paragraph pasted dozens of times), which the cross-doc
    * operators above never touch (their df counts are per-corpus,
    * `minDocs >= 2`). A token position is duplicated when its word
    * `n`-shingle already occurred at an EARLIER position of the same
    * document; duplicated positions grow to maximal runs and runs ≥
    * `minTokens` are cut, so the FIRST occurrence of every repeated
    * passage survives verbatim. Returns the full input row set:
    * (idCol, n_removed, text_kept), text_kept null when everything
    * after the first copy was boilerplate.
    *
    * Scale shape: shingles explode map-side; first-occurrence election
    * is ONE (doc, shingle)-keyed aggregation joined back on the same
    * key; run growth is one doc-keyed window; rebuild is the
    * [[spanDedup]] map-side indexed filter. Never anything
    * corpus-pairwise — in fact nothing here crosses documents at
    * all, so the operator scales embarrassingly. */
  def intraDocDedup(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 5, minTokens: Int = 20): DataFrame = {
    require(minTokens >= n, s"minTokens=$minTokens must be >= n=$n")
    val pos = docs.withColumn("_whs", wordHashes(col(textCol)))
      .select(col(idCol),
        posexplode(shingleHashes(col("_whs"), n)).as(Seq("_p", "_sh")))
      .withColumn("_p", col("_p").cast("long"))
    val first = pos.groupBy(col(idCol), col("_sh"))
      .agg(min(col("_p")).as("_first"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_p"))
    val spans = pos.join(first, Seq(idCol, "_sh"))
      .filter(col("_p") > col("_first"))
      .withColumn("_grp", col("_p") - row_number().over(w))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("_p")).as("_st"),
        (max(col("_p")) + lit(n - 1).cast("long")).as("_en"))
      .filter(col("_en") - col("_st") + 1L >= minTokens)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("_st"), col("_en"))).as("_rm"))
    removeSpans(docs, idCol, textCol, spans)
  }

  /** Append a k-component MinHash signature column.
    *
    * PERFORMANCE INVARIANT (all builders here): token hashes are
    * materialized into a real column before any kernel references them.
    * Lambda HOFs are interpreted (CodegenFallback), and passing the
    * `wordHashes(text)` EXPRESSION into a k-reference kernel makes
    * Catalyst inline the whole token-hash computation at every reference
    * — measured as an O(words²)-ish 500× blowup at sf0.1. A separate
    * Project is kept by CollapseProject because the expression is
    * non-cheap and multiply-referenced. */
  def withMinhashSignature(df: DataFrame, textCol: String, k: Int = 8, outCol: String = "minhash_sig"): DataFrame =
    df.withColumn("_whs", wordHashes(col(textCol)))
      .withColumn(outCol, minhashSignature(col("_whs"), k))
      .drop("_whs")

  /** LSH banding: one output row per (doc, band); `band_key` combines the
    * band's signature components into a single group key. Downstream,
    * docs sharing a band_key are near-dup candidates — the shuffle key is
    * this short string, never the document. */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, bands: Int = 4): DataFrame =
    minhashBandsFromWhs(
      df.withColumn("_whs", wordHashes(col(textCol))), idCol, "_whs", k, bands)

  /** [[minhashBands]] over an ALREADY-materialized word-hash column —
    * use when the caller also needs the hashes for another stage
    * (DocPipeline shares one pass between banding and shingles). */
  def minhashBandsFromWhs(df: DataFrame, idCol: String, whsCol: String,
                          k: Int = 8, bands: Int = 4): DataFrame =
    bandsFromSig(df.withColumn("_sig", minhashSignature(col(whsCol), k)),
      idCol, k, bands)

  /** [[minhashBands]] on the ONE-PERMUTATION densified signature
    * ([[TextHash.ophSignature]]) — identical banding/bucket semantics,
    * O(tokens+k) signature cost instead of O(tokens·k); prefer at
    * large k (e.g. k=64+, where the classic kernel's per-token inner
    * loop dominates the near-dup map stage). */
  def ophBands(df: DataFrame, idCol: String, textCol: String,
               k: Int = 8, bands: Int = 4): DataFrame =
    ophBandsFromWhs(
      df.withColumn("_whs", wordHashes(col(textCol))), idCol, "_whs", k, bands)

  /** [[ophBands]] over an already-materialized word-hash column. */
  def ophBandsFromWhs(df: DataFrame, idCol: String, whsCol: String,
                      k: Int = 8, bands: Int = 4): DataFrame =
    bandsFromSig(df.withColumn("_sig", TextHash.ophSignature(col(whsCol), k)),
      idCol, k, bands)

  /** Shared LSH band-key construction over a `_sig` column: one row
    * per (doc, band); `band_key` = the band's signature slice packed
    * into ONE 64-bit long ([[TextHash.bandKeys64]] — band index
    * seeded in, natural wrap-around; r15 `bkv = 2`, replacing the
    * `"b:h1_h2"` string keys: measured 1.8x fewer key bytes at rest
    * and on the candidate shuffle, and long instead of string
    * equi-joins at the candidate stages). */
  private def bandsFromSig(sigged: DataFrame, idCol: String,
                           k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible into $bands bands")
    sigged
      .select(col(idCol),
        posexplode(TextHash.bandKeys64(col("_sig"), bands))
          .as(Seq("band", "band_key")))
  }

  /** Near-dup candidate groups: band buckets holding > 1 document.
    * Returns (band_key, n_docs, min doc id) per colliding bucket. */
  def minhashDupGroups(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, bands: Int = 4): DataFrame =
    minhashBands(df, idCol, textCol, k, bands)
      .groupBy("band_key")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as(s"min_$idCol"))
      .filter(col("n_docs") > 1)

  /** Append the 16-bit SimHash; exact-group near-dups = equal simhash. */
  def withSimhash(df: DataFrame, textCol: String, bits: Int = 16, outCol: String = "simhash"): DataFrame =
    df.withColumn("_whs", wordHashes(col(textCol)))
      .withColumn(outCol, simhash(col("_whs"), bits))
      .drop("_whs")

  /** Corpus-wide SimHash near-dup pairs at Hamming distance ≤
    * `maxHamming`: each doc emits its signature plus every single-bit
    * FLIP of it (bits+1 short keys), pairs sharing any key become
    * candidates (distance-1 pairs collide on the flipped key,
    * distance-2 pairs on flip-vs-flip), and `bit_count(a xor b)` keeps
    * the exact distances only. The same blocking discipline as MinHash
    * banding — the shuffle carries (key, id, sig) rows, never text, and
    * nothing is all-pairs. Output: (idCol, dup_of, hamming) with
    * idCol > dup_of, one row per pair. Exact recall for maxHamming ≤ 2
    * (a distance-2 pair always shares a flip-vs-flip key); raise the
    * probe neighborhood for larger radii. */
  def simhashNearDups(corpus: DataFrame, idCol: String, textCol: String,
                      bits: Int = 16, maxHamming: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 2,
      s"maxHamming=$maxHamming outside the single-flip blocking guarantee (0..2)")
    // materialize the signatures before the self-join: both sides would
    // otherwise re-run the tokenize + simhash kernel over the full text
    // (two scalars/doc checkpointed; the cheap flip-key explode is
    // recomputed per side — same discipline as semanticCandidatePairs)
    val sims = withSimhash(corpus.select(col(idCol), col(textCol)), textCol, bits, "_sim")
      .select(col(idCol), col("_sim")).cut
    val keyed = sims.select(col(idCol), col("_sim"), explode(array(
      col("_sim") +: (0 until bits).map(k => col("_sim").bitwiseXOR(lit(1L << k))): _*)).as("_key"))
    keyed.select(col("_key"), col(idCol).as("_lo"), col("_sim").as("_sa"))
      .join(keyed.select(col("_key"), col(idCol).as("_hi"), col("_sim").as("_sb")), Seq("_key"))
      .filter(col("_lo") < col("_hi"))
      // canonical-key dedup instead of a corpus-wide DISTINCT shuffle:
      // an equal-signature pair collides on all bits+1 keys — keep only
      // the identity-key row; a distance-1/2 pair collides on EXACTLY
      // the two keys k and k⊕sa⊕sb (exhaustive case check in the
      // maxHamming ≤ 2 contract) — keep the smaller. Row-local, stays
      // in codegen, and each qualifying pair survives exactly once.
      .filter(
        when(col("_sa") === col("_sb"), col("_key") === col("_sa"))
          .otherwise(col("_key") <=
            col("_key").bitwiseXOR(col("_sa")).bitwiseXOR(col("_sb"))))
      .withColumn("hamming", bit_count(col("_sa").bitwiseXOR(col("_sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("_hi").as(idCol), col("_lo").as("dup_of"), col("hamming"))
  }

  /** n-gram Jaccard similarity between candidate pairs: `pairs` must
    * provide the two texts as columns — this operator deliberately takes
    * pre-banded candidates (from minhashBands or any blocking) instead of
    * crossing the corpus. */
  def ngramJaccard(textA: Column, textB: Column, n: Int = 3): Column =
    jaccard(shingleHashes(wordHashes(textA), n), shingleHashes(wordHashes(textB), n))

  /** Corpus-wide CONTAINMENT pairs: detects a document quoted or
    * embedded inside another — the asymmetric near-dup Jaccard misses
    * (a 50-token passage inside a 5000-token doc has Jaccard ≈ 0.01 but
    * containment 1.0). MinHash banding is deliberately NOT the blocker
    * here: a host document's min-hashes are dominated by its non-shared
    * tokens, so a short contained passage collides with its host only
    * with probability ≈ containment-of-the-HOST — near zero exactly in
    * the interesting case. Candidates instead come from the
    * plagiarism-detection blocking: an inverted index over n-gram
    * shingle hashes — any two docs sharing a NON-UBIQUITOUS shingle
    * (document frequency in [2, maxShingleDf]) become a candidate pair,
    * then exact shingle-set containment is verified in both directions,
    * keeping pairs where either direction ≥ `tau`.
    *
    * Scale shape: the shuffles carry (id, shingle-hash) scalars (the
    * contaminationScores discipline), and the df cap bounds pair
    * generation — each surviving shingle emits < maxShingleDf² pairs,
    * and the ubiquitous boilerplate shingles that would emit corpus²
    * pairs are excluded as non-evidence (a real quote shares many RARE
    * shingles). Raise `n` so that sharing a single shingle is stronger
    * evidence (decontamination uses 13-grams). Output:
    * (idCol, other, c_in_other, c_of_other) with idCol < other. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, tau: Double = 0.8,
                       maxShingleDf: Int = 100): DataFrame = {
    // materialize the shingle sets ONCE before the join tree: shingled
    // feeds three branches (posting derivation + both verify sides) and
    // posting two (df filter + candidate keying) — without the
    // checkpoint the tokenize+shingle kernel re-runs over the full text
    // on every branch (the house discipline of simhashNearDups /
    // embeddingCandidatePairs; one hash array per doc is checkpointed,
    // never the text)
    val shingled = docs.withColumn("_whs", wordHashes(col(textCol)))
      .select(col(idCol), array_distinct(shingleHashes(col("_whs"), n)).as("_sh"))
      .cut
    val posting = shingled
      .select(col(idCol), explode(col("_sh")).as("_g"))
    val evidential = posting.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxShingleDf)
      .select(col("_g"))
    val keyed = posting.join(evidential, Seq("_g"))
    val pairs = keyed.select(col("_g"), col(idCol).as("_a"))
      .join(keyed.select(col("_g"), col(idCol).as("_b")), Seq("_g"))
      .filter(col("_a") < col("_b"))
      .select(col("_a"), col("_b")).distinct()
    pairs
      .join(shingled.select(col(idCol).as("_a"), col("_sh").as("_sha")), Seq("_a"))
      .join(shingled.select(col(idCol).as("_b"), col("_sh").as("_shb")), Seq("_b"))
      .select(col("_a").as(idCol), col("_b").as("other"),
        containment(col("_sha"), col("_shb")).as("c_in_other"),
        containment(col("_shb"), col("_sha")).as("c_of_other"))
      .filter(col("c_in_other") >= tau || col("c_of_other") >= tau)
  }

  /** Embedding near-dup: cosine over candidate pairs (see Similarity for
    * the LSH blocking that generates candidates at scale). */
  def cosineNearDup(vecA: Column, vecB: Column, threshold: Double): Column =
    Similarity.cosine(vecA, vecB) > threshold

  /** Corpus-wide embedding near-dup CANDIDATE pairs with their cosine —
    * the self-join analog of the text MinHash banding: map-side LSH
    * bucket per band (Similarity.lshBucket, band b on plane family
    * b*bits), all distinct within-bucket id pairs as candidates, then
    * cosine over the candidate pairs only.
    *
    * Scale shape: the banding shuffle carries (id, band, bucket) — three
    * scalars, never the vector; vectors are joined back for CANDIDATE
    * pairs only, and the only pairwise product is WITHIN buckets — the
    * same contract as MLlib's approxSimilarityJoin. That makes `bits`
    * the load-bearing knob: size it so the expected bucket holds O(1)-
    * O(100) rows (bits ≈ log2(corpus/targetBucket)); then candidates are
    * linear in the corpus. More `bands` raises recall (a near pair need
    * only agree on all `bits` planes of ONE band); a pathological
    * all-identical corpus lands in one bucket — AQE skew handling plus
    * the documented salting escape hatch apply, as with text banding.
    *
    * Output: (idCol, dup_of, cos) with idCol > dup_of, one row per
    * distinct candidate pair. [[embeddingNearDups]] applies the `tau`
    * verification; this unfiltered form is the oracle-checkable surface
    * (q_neardup_lsh hash-matches it against DuckDB end to end). */
  def embeddingCandidatePairs(corpus: DataFrame, idCol: String, vecCol: String,
                              dim: Int, bits: Int = 8, bands: Int = 1): DataFrame = {
    val ids = corpus.select(col(idCol), col(vecCol))
    // three scalars per (doc, band), checkpointed so the self-join's two
    // sides don't each re-run the codegen bucketing over the vectors
    val keys = ids.select(col(idCol), posexplode(array((0 until bands).map { b =>
      Similarity.lshBucket(col(vecCol), dim, bits, b * bits)
    }: _*)).as(Seq("_band", "_bucket"))).cut
    val cand = keys.select(col("_band"), col("_bucket"), col(idCol).as("_lo"))
      .join(keys.select(col("_band"), col("_bucket"), col(idCol).as("_hi")),
        Seq("_band", "_bucket"))
      .filter(col("_lo") < col("_hi"))
      .select(col("_lo"), col("_hi")).distinct()
    cand
      .join(ids.select(col(idCol).as("_hi"), col(vecCol).as("_vh")), Seq("_hi"))
      .join(ids.select(col(idCol).as("_lo"), col(vecCol).as("_vl")), Seq("_lo"))
      .select(col("_hi").as(idCol), col("_lo").as("dup_of"),
        Similarity.cosine(col("_vh"), col("_vl")).as("cos"))
  }

  /** Verified embedding near-dup pairs: [[embeddingCandidatePairs]]
    * filtered to cosine ≥ `tau` — the "band collision ≠ duplicate"
    * discipline of DocPipeline applied to vectors. Feed the result to
    * [[transitiveClusters]] when chained duplicates (A~B~C with no
    * shared bucket between A and C) must collapse to one survivor. */
  def embeddingNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                        dim: Int, bits: Int = 8, tau: Double = 0.9,
                        bands: Int = 1): DataFrame =
    embeddingCandidatePairs(corpus, idCol, vecCol, dim, bits, bands)
      .filter(col("cos") >= tau)

  /** One-call embedding-corpus dedup: [[embeddingNearDups]] edges →
    * drop every non-survivor. `transitive = false` drops any row with a
    * verified near-dup of smaller id (star blocking); `transitive =
    * true` first collapses chains via [[transitiveClusters]] so A~B~C
    * keeps exactly one survivor even when A and C share no bucket —
    * the vector twin of `DocPipeline.prepare`. */
  def dedupByEmbedding(corpus: DataFrame, idCol: String, vecCol: String,
                       dim: Int, bits: Int = 8, tau: Double = 0.9,
                       bands: Int = 1, transitive: Boolean = false): DataFrame = {
    val edges = embeddingNearDups(corpus, idCol, vecCol, dim, bits, tau, bands)
    val dropIds =
      if (!transitive) edges.select(col(idCol)).distinct()
      else transitiveClusters(edges, idCol, "dup_of")
        .filter(col("id") =!= col("comp"))
        .select(col("id").as(idCol))
    corpus.join(dropIds, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic candidate pairs: partition the corpus with
    * a (deterministic) k-means coarse quantizer — `Ivf.train` — and emit
    * every within-cell pair with its cosine. Where LSH banding
    * ([[embeddingCandidatePairs]]) blocks by random hyperplanes,
    * semantic blocking is DATA-AWARE: duplicates concentrate in the
    * same centroid cell by construction, so recall at equal candidate
    * budget is higher on clustered corpora (the SemDeDup observation —
    * Abbas et al. 2023, arXiv:2303.09540).
    *
    * Scale shape: cell assignment is map-side (centroids broadcast as
    * literals); the only shuffle keys on the cell id; the only pairwise
    * product is WITHIN cells, so `k` is the load-bearing knob — size it
    * so cells hold O(100) rows (k ≈ corpus/100), exactly the IVF cell
    * discipline. Vectors ride the cell shuffle once; joining them back
    * per PAIR instead would move strictly more data (within-cell pair
    * count ≥ row count). A mega-cell (corpus collapses onto one
    * centroid) is the skew hazard: raise k, or re-block the offending
    * cell with [[embeddingCandidatePairs]] LSH inside it.
    *
    * Output: (idCol, dup_of, cos) with idCol > dup_of, one row per
    * within-cell pair. */
  def semanticCandidatePairs(corpus: DataFrame, idCol: String, vecCol: String,
                             centroids: Seq[(Int, Array[Double])]): DataFrame = {
    // Materialize the cell assignment before the self-join: the
    // k-distance argmin (k struct distances per vector) is the
    // expensive part, and without a checkpoint both join sides would
    // recompute it and ride the cell shuffle twice.
    val celled = Ivf.withCell(corpus.select(col(idCol), col(vecCol)),
      vecCol, centroids, "_cell").cut
    val a = celled.select(col("_cell"), col(idCol).as("_lo"), col(vecCol).as("_vl"))
    val b = celled.select(col("_cell"), col(idCol).as("_hi"), col(vecCol).as("_vh"))
    a.join(b, Seq("_cell"))
      .filter(col("_lo") < col("_hi"))
      .select(col("_hi").as(idCol), col("_lo").as("dup_of"),
        Similarity.cosine(col("_vh"), col("_vl")).as("cos"))
  }

  /** One-call semantic dedup: [[semanticCandidatePairs]] ≥ `tau` edges →
    * drop non-survivors; star blocking by default, `transitive = true`
    * collapses chains via [[transitiveClusters]] (same contract as
    * [[dedupByEmbedding]], with k-means cells instead of LSH buckets). */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[(Int, Array[Double])], tau: Double = 0.9,
                    transitive: Boolean = false): DataFrame = {
    val edges = semanticCandidatePairs(corpus, idCol, vecCol, centroids)
      .filter(col("cos") >= tau)
    val dropIds =
      if (!transitive) edges.select(col(idCol)).distinct()
      else transitiveClusters(edges, idCol, "dup_of")
        .filter(col("id") =!= col("comp"))
        .select(col("id").as(idCol))
    corpus.join(dropIds, Seq(idCol), "left_anti")
  }

  /** D4-style prototypicality pruning (Tirumala et al. 2023,
    * arXiv:2308.12284 "D4: Improving LLM Pretraining via Document
    * De-Duplication and Diversification"): within each k-means cell,
    * drop the `dropFrac` fraction of rows CLOSEST to the cell centroid
    * — the SSL-prototypes rule (Sorscher et al. 2022): cluster cores
    * are semantically redundant with each other, the diverse shell
    * carries the marginal information. Composes after
    * [[semanticDedup]] — dedup removes near-copies, pruning then thins
    * the surviving dense cores; [[d4]] runs both in the paper's order.
    *
    * Per cell, `floor(dropFrac·|cell|)` rows are dropped in
    * (distance², id) order — deterministic, and a singleton cell is
    * never emptied. One window per cell: cells are O(100) rows under
    * the IVF `k` sizing discipline ([[semanticCandidatePairs]] scale
    * note), so no window partition is corpus-sized; the assignment
    * itself is map-side against centroid literals. */
  def prototypicalityPrune(corpus: DataFrame, idCol: String, vecCol: String,
                           centroids: Seq[(Int, Array[Double])],
                           dropFrac: Double): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac < 1.0,
      s"dropFrac=$dropFrac outside [0, 1)")
    val w = org.apache.spark.sql.expressions.Window
    val celled = Ivf.withCellDist(corpus, vecCol, centroids, "_cell", "_d2")
    val cell = w.partitionBy(col("_cell"))
    val proto = w.partitionBy(col("_cell")).orderBy(col("_d2"), col(idCol))
    celled.withColumn("_rn", row_number().over(proto))
      .withColumn("_cnt", count(lit(1)).over(cell))
      .filter(col("_rn") > floor(col("_cnt") * lit(dropFrac)))
      .drop("_cell", "_d2", "_rn", "_cnt")
  }

  /** The full D4 recipe: [[semanticDedup]] then
    * [[prototypicalityPrune]] on the survivors, sharing one trained
    * quantizer. */
  def d4(corpus: DataFrame, idCol: String, vecCol: String,
         centroids: Seq[(Int, Array[Double])], tau: Double = 0.9,
         dropFrac: Double = 0.1, transitive: Boolean = false): DataFrame =
    prototypicalityPrune(
      semanticDedup(corpus, idCol, vecCol, centroids, tau, transitive),
      idCol, vecCol, centroids, dropFrac)

  /** Connected components over an undirected near-dup edge set by the
    * ALTERNATING star algorithm (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond" — large-star/small-star): the
    * edge set itself is rewritten toward a disjoint union of stars,
    * each rooted at its component's minimum id. Per round:
    *
    *   - large-star: every vertex u points each LARGER neighbor at
    *     m = min(Γ(u) ∪ {u});
    *   - small-star: every vertex u points its smaller-or-equal
    *     neighborhood (and itself) at that minimum.
    *
    * Both steps preserve connectivity and never increase the edge
    * count beyond |E| + |V|; the fixpoint is exactly the star forest,
    * and the round bound is O(log² n) worst-case, O(log n) in practice
    * — INDEPENDENT of component diameter. That independence is the
    * point: this library's first implementation (hash-min relaxation
    * with pointer chases through the pre-round labels) claimed
    * O(log d) but measures LINEAR, ~d/3 rounds, on paths with PERMUTED
    * ids (CcProbe (d521caa): 330 rounds at diameter 1,000; the claimed doubling
    * never happens because label chains terminate at local minima,
    * whose own label is themselves — no new reach). Long chains are a
    * real near-dup shape (revision histories, template drift), so the
    * diameter-free algorithm is the only one that survives corpus
    * scale. Chains A~B~C still collapse to A even when A and C never
    * shared a bucket.
    *
    * Scale notes: the input is the VERIFIED candidate edge set — tiny
    * relative to the corpus (post-banding, post-threshold). Each round
    * is two groupBy+join passes over the current edge set plus an
    * exact fixpoint check (`except` on the canonical frame), and
    * [[graft.core.Checkpoints.cut]] truncates lineage per round. If
    * `maxIter` is hit before the fixpoint the result would be silently
    * wrong (non-star edges left), so it THROWS instead.
    *
    * `onConverge` fires once with the round count on success —
    * observability for sizing `maxIter` (rehearsals assert on it).
    *
    * Returns one row per vertex appearing in `edges`: (id, comp),
    * comp = the component's smallest vertex id. */
  def transitiveClusters(edges: DataFrame, srcCol: String, dstCol: String,
                         maxIter: Int = 50,
                         onConverge: Int => Unit = _ => ()): DataFrame = {
    // canonical undirected edges: u > v, no self-loops, distinct
    var e = edges.select(col(srcCol).as("_eu"), col(dstCol).as("_ev"))
      .filter(col("_eu") =!= col("_ev"))
      .select(greatest(col("_eu"), col("_ev")).as("u"),
        least(col("_eu"), col("_ev")).as("v"))
      .distinct().cut
    // vertex universe from the ORIGINAL edge set — labels are emitted
    // for every vertex even if rewiring leaves it only on the v side
    val verts = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct().cut
    val isolated = edges.select(col(srcCol).as("_eu"), col(dstCol).as("_ev"))
      .filter(col("_eu") === col("_ev"))
      .select(col("_eu").as("id")).distinct()

    // large-star: each undirected edge, seen from its SMALLER endpoint
    // x (y > x), is rewired to (y, min(Γ(x) ∪ {x})) — m ≤ x < y keeps
    // the canonical orientation for free
    def largeStar(frame: DataFrame): DataFrame = {
      val sym = frame.select(col("u").as("x"), col("v").as("y"))
        .union(frame.select(col("v").as("x"), col("u").as("y")))
      val m = sym.groupBy("x").agg(min(col("y")).as("_my"))
        .select(col("x"), least(col("_my"), col("x")).as("m"))
      // no distinct here (r19): smallStar is duplicate-insensitive (its
      // min ignores multiplicity; its own output IS distinct'd), so the
      // intermediate dedup bought nothing but one (u,v)-keyed exchange
      // per round. Self-loops cannot arise: m ≤ x < y ⇒ u > v always.
      sym.join(m, Seq("x")).filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
    }
    // small-star: each vertex u rewires its ≤-neighborhood (with the
    // canonical frame that is ALL of u's v-side partners, plus u
    // itself) onto its minimum
    def smallStar(frame: DataFrame): DataFrame = {
      val m = frame.groupBy("u").agg(min(col("v")).as("m"))
      frame.join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }

    // convergence = the edge set IS a star forest (r19; replaces the
    // next==e protocol): every u appears exactly once (one root per
    // leaf) and no vertex sits on both sides (roots are never leaves).
    // Star forests are fixpoints of both steps (largeStar rewires every
    // leaf to its root m ≤ leaf; smallStar's min is the root), and the
    // algorithm's only fixpoints are star forests (Kiveris et al. §3),
    // so this is exactly the old stop state — detected ONE ROUND
    // EARLIER (next==e needs an extra identical round to see itself)
    // and tested by one u∪v-keyed aggregate + empty-probe instead of a
    // per-round count() plus the two-sided except() on the final round.
    def isStarForest(frame: DataFrame): Boolean = {
      val sides = frame
        .select(col("u").as("x"), lit(1L).as("iu"), lit(0L).as("iv"))
        .union(frame
          .select(col("v").as("x"), lit(0L).as("iu"), lit(1L).as("iv")))
      sides.groupBy(col("x"))
        .agg(sum(col("iu")).as("su"), max(col("iv")).as("mv"))
        .filter(col("su") > 1 || (col("su") >= 1 && col("mv") >= 1))
        .isEmpty
    }
    var it = 0
    var done = isStarForest(e) // empty/self-loop-only sets pass vacuously
    while (!done && it < maxIter) {
      e = smallStar(largeStar(e)).cut
      it += 1
      done = isStarForest(e)
    }
    if (!done)
      throw new IllegalStateException(
        s"transitiveClusters did not converge within maxIter=$maxIter rounds; " +
        "the edge set is not yet a star forest — raise maxIter " +
        "(the alternating algorithm's bound is O(log^2 n) rounds)")
    onConverge(it)
    // fixpoint edges are (leaf, root) stars; roots label themselves
    verts.unionByName(isolated).distinct()
      .join(e.select(col("u").as("id"), col("v").as("_root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("_root"), col("id")).as("comp"))
  }

  /** Intra-corpus SPAN dedup (the MassiveText/Gopher "remove repeated
    * passages" step, complementing whole-document dedup): split every
    * document into non-overlapping `chunkTokens`-token windows
    * (`Corpus.chunkDocs`), keep only the corpus-wide FIRST occurrence
    * of each distinct chunk (minimum (doc, chunk_id) — deterministic,
    * not partition-order first), and reassemble each document from its
    * surviving chunks in order.
    *
    * Output: (idCol, text_kept, n_kept, n_dropped) — one row per input
    * document with ≥ 1 chunk; `text_kept` is NULL when every chunk of
    * the document was seen earlier elsewhere (a fully-boilerplate doc —
    * callers typically drop those rows).
    *
    * Scale shape — SLIM REASSEMBLY, the [[unitDedup]] pattern at chunk
    * granularity (chunk text never rides a shuffle): the
    * first-occurrence decision is a partial+final `min(struct(doc,
    * chunk_id))` AGGREGATION over a TEXT-FREE (md5, doc, chunk_id)
    * projection checkpointed once — map-side combine collapses a
    * boilerplate chunk repeated 10⁹ times to one candidate per map
    * task BEFORE the exchange, so the hot key this operator exists for
    * never lands on a single reducer, and only 16-byte hashes +
    * scalars move (md5 collisions are 2⁻¹²⁸ — accepted and
    * documented). Losing occurrences join the winner table on the
    * hash (the winner side keeps the groupBy's partitioning, so only
    * the probe side exchanges — scalars again) and aggregate to slim
    * per-doc DROPPED-chunk-id arrays, a frame far smaller than the
    * corpus on clean data. The kept text is then rebuilt MAP-SIDE: the
    * original doc rows left-join the drop arrays and re-chunk the
    * source column via the SAME `Corpus.chunkSlices` expression the
    * election saw — re-running the split is map-only CPU, far cheaper
    * at 100 TB than shuffling every chunk's text through the doc-keyed
    * ObjectHashAggregate the previous plan used. Doc text touches at
    * most the one row-level join exchange, and zero exchanges when AQE
    * broadcasts the (usually small) drop-array side. */
  /** Cross-corpus exact LINE dedup (C4 §2.1, Raffel 2020: "we discard
    * all but one of any three-sentence span occurring more than once"
    * — here at line granularity, the common production simplification):
    * every distinct line keeps its first occurrence (lowest (doc, pos))
    * and later copies are cut from their documents' reassembled text.
    * Boilerplate that plagues web corpora (cookie banners, nav text)
    * disappears from all but one document. Lines shorter than
    * `minChars` are always kept (blank separators are not content).
    *
    * Scale shape (see [[unitDedup]]): winner election and drop
    * detection move only (md5, doc, pos) scalars; the kept text is
    * rebuilt MAP-SIDE by re-splitting the original column against a
    * slim per-doc dropped-position array — line text never rides a
    * shuffle. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minChars: Int = 1): DataFrame =
    unitDedup(df, idCol, split(col(textCol), "\r?\n"), minChars,
      joiner = "\n", countCol = "n_lines")

  /** [[lineDedup]] with winner election SCOPED: a line is boilerplate
    * only when repeated within the same `scopeCols` group (the
    * per-SITE template-removal semantics of C4/CCNet — navigation
    * chrome repeats within a host; the same sentence on two unrelated
    * sites is coincidence, not boilerplate). The corpus-wide form is
    * `scopeCols = Nil` ≡ [[lineDedup]]. Scale shape unchanged — the
    * winner key becomes (scope, line-hash). */
  def lineDedupScoped(df: DataFrame, idCol: String, textCol: String,
                      scopeCols: Seq[String], minChars: Int = 1): DataFrame =
    unitDedup(df, idCol, split(col(textCol), "\r?\n"), minChars,
      joiner = "\n", countCol = "n_lines", scopeCols = scopeCols)

  /** Cross-corpus SENTENCE dedup — [[lineDedup]] at sentence
    * granularity: the corpus-wide first occurrence (min (doc,
    * position)) of each distinct sentence survives, later copies are
    * cut, documents reassembled space-joined. Catches boilerplate
    * sentences web pages repeat WITHOUT newline structure (inline
    * disclaimers, cookie prompts flowed into paragraphs), which
    * line-granularity dedup never splits apart. Segmentation is
    * [[TextAnalysis.sentences]]; returns (idCol, n_sents, n_dropped,
    * text_kept). Same scale shape as [[lineDedup]]: scalar winner
    * election + slim drop arrays, text rebuilt map-side by
    * re-segmenting — sentence text never rides a shuffle. */
  def sentenceDedup(df: DataFrame, idCol: String, textCol: String,
                    minChars: Int = 1): DataFrame =
    unitDedup(df, idCol, TextAnalysis.sentences(col(textCol)), minChars,
      joiner = " ", countCol = "n_sents")

  /** Shared first-occurrence unit-dedup engine ([[lineDedup]] /
    * [[sentenceDedup]]): winner per distinct unit = min (doc, pos);
    * sub-`minChars` units are kept verbatim (too short to be
    * meaningful boilerplate), never deduped.
    *
    * Scale shape — SLIM REASSEMBLY (unit text never rides a shuffle):
    *   1. Winner election: a text-free (md5, scope, doc, pos)
    *      projection aggregates `min(struct(doc, pos))` per distinct
    *      unit — partial+final agg, so a boilerplate unit repeated 10⁹
    *      times collapses to one candidate per map task before the
    *      exchange. Only 16-byte hashes + scalars move.
    *   2. Drop detection: the same scalar projection joins the winner
    *      table on (md5, scope); occurrences ≠ winner are DROPPED
    *      (id, pos) pairs. The winner side keeps the groupBy's hash
    *      partitioning, so only the probe side exchanges — scalars
    *      again. The hot boilerplate key is 10⁹ probe rows against ONE
    *      build row (streams through SMJ/AQE skew split; nothing
    *      collects).
    *   3. Per-doc drop arrays: dropped pairs aggregate to
    *      (id, array<int>) — only docs that actually lose a unit
    *      appear, so this frame is far smaller than the corpus on
    *      clean data.
    *   4. Map-side rebuild: the ORIGINAL doc rows left-join the slim
    *      drop arrays and the kept text is rebuilt in place by
    *      re-splitting `unitsCol` and filtering positions — re-running
    *      the split is map-only CPU, far cheaper at 100 TB than
    *      shuffling the corpus as exploded (pos, line) structs through
    *      an ObjectHashAggregate (the previous plan's 2.3 GB/1M-doc
    *      hot spot, SURVEY §7.3). Doc text touches at most this one
    *      row-level join exchange, and zero exchanges when AQE
    *      broadcasts the (usually small) drop-array side. */
  /** Broadcast a CUT (materialized) drop-array frame when its MEASURED
    * size fits the session broadcast threshold — the rebuild joins in
    * [[unitDedup]]/[[chunkDedup]] ship corpus text through their one
    * doc-keyed exchange exactly when the drop side does NOT broadcast,
    * and AQE plans that join from the checkpoint's inherited ESTIMATE,
    * which declined an ~8 MB drop frame at the 1M-doc measurement
    * (§7.6). The frame is already materialized, so the measurement is
    * one cheap aggregate: rows + total dropped positions → bytes
    * (8 B/position + 32 B/row envelope, ~2× the raw payload). Above
    * the threshold the plain frame returns and the documented
    * at-most-one text exchange stands.
    *
    * Cost note (r14 verdict): the measurement is one EAGER driver
    * action (`.head()` on the already-materialized drop frame) per
    * unitDedup/chunkDedup invocation — a small serialized job, the
    * right trade vs AQE's broken inherited estimate, but a pipeline
    * chaining DOZENS of dedup calls pays it each time; disable
    * broadcasts for the session (threshold ≤ 0) to skip it. */
  private def maybeBroadcastDrops(dropCut: DataFrame,
                                  dropCol: String): DataFrame = {
    val spark = dropCut.sparkSession
    val threshold = graft.core.Joins.broadcastThresholdBytes(spark)
    if (threshold <= 0) dropCut // broadcast disabled for the session
    else {
      val r = dropCut.agg(count(lit(1)).as("n"),
        coalesce(sum(size(col(dropCol))), lit(0L)).as("p")).head()
      val bytes = r.getLong(0) * 32L + r.getLong(1) * 8L
      if (bytes <= threshold) broadcast(dropCut) else dropCut
    }
  }

  private def unitDedup(df: DataFrame, idCol: String, unitsCol: Column,
                        minChars: Int, joiner: String,
                        countCol: String,
                        scopeCols: Seq[String] = Nil): DataFrame = {
    require(minChars >= 1, s"minChars=$minChars must be >= 1")
    val scoped = scopeCols.map(col)
    // docs with a null/empty unit array produce no rows (posexplode
    // semantics of the pre-r13 plan, kept as the documented contract);
    // the filter evaluates the segmentation map-side and does NOT
    // retain the array — each consuming branch recomputes it where it
    // runs, so the rebuild-join exchange below carries text only
    val eligible = df.filter(size(unitsCol) >= 1)
    // text-free candidate scalars (md5, scope, doc, pos) checkpointed
    // ONCE: winner election and drop detection both read this frame,
    // so segmentation runs once for the whole election phase (the
    // DocPipeline `hashed.cut` convention — scalar rows, never text)
    val candidates = eligible.select(
      (col(idCol) +: scoped) :+ posexplode(unitsCol).as(Seq("pos", "line")): _*)
      .filter(length(col("line")) >= minChars)
      .select((unhex(md5(col("line").cast("binary"))).as("_h") +: scoped) :+
        col(idCol) :+ col("pos"): _*)
      .cut
    val winners = candidates
      .groupBy(col("_h") +: scoped: _*)
      .agg(min(struct(col(idCol).as("_wid"), col("pos").as("_wpos"))).as("_w"))
    val dropAgg = maybeBroadcastDrops(candidates
      .join(winners, "_h" +: scopeCols)
      .filter(!(col(idCol) === col("_w._wid") && col("pos") === col("_w._wpos")))
      .groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("_drop"), count(lit(1)).as("_nd"))
      .cut, "_drop")
    val keepUnit: (Column, Column) => Column = (u, i) =>
      length(u) < minChars ||
        coalesce(!array_contains(col("_drop"), i), lit(true))
    // segmentation re-materializes AFTER the join — as its own Project
    // attribute (SURVEY §7.1 inlining trap: three bare unitsCol
    // references in the final select would re-segment three times;
    // CollapseProject keeps multi-referenced non-cheap aliases apart)
    // — so the doc-keyed exchange ships (id, text), not text PLUS its
    // exploded array twin (which halves the one text-carrying
    // exchange whenever the drop side is too big to broadcast)
    eligible.join(dropAgg, Seq(idCol), "left")
      .withColumn("_units", unitsCol)
      .select(col(idCol),
        size(col("_units")).cast("long").as(countCol),
        coalesce(col("_nd"), lit(0L)).as("n_dropped"),
        array_join(filter(col("_units"), keepUnit), joiner).as("text_kept"))
  }

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    // text-free candidate scalars (md5, doc, chunk_id) checkpointed
    // ONCE: winner election and drop detection both read this frame,
    // so chunking + hashing run once for the whole election phase
    // chunk_id rides as INT: a document physically cannot hold 2^31
    // 1+-token chunks, and the narrower key cuts both scalar exchanges
    // and the drop arrays by a third
    val candidates = Corpus.chunkDocs(df, idCol, textCol, chunkTokens)
      .select(unhex(md5(col("chunk").cast("binary"))).as("_h"),
        col(idCol), col("chunk_id").cast("int").as("chunk_id"))
      .cut
    val winners = candidates
      .groupBy(col("_h"))
      .agg(min(struct(col(idCol).as("_wid"),
        col("chunk_id").as("_wcid"))).as("_w"))
    val dropAgg = maybeBroadcastDrops(candidates
      .join(winners, Seq("_h"))
      .filter(!(col(idCol) === col("_w._wid") &&
        col("chunk_id") === col("_w._wcid")))
      .groupBy(col(idCol))
      .agg(collect_set(col("chunk_id")).as("_drop"),
        count(lit(1)).as("_nd"))
      .cut, "_drop")
    // map-side rebuild: re-chunk the ORIGINAL column with the exact
    // expression chunkDocs exploded (row filter replicated too — docs
    // with no chunks yield no row) and cut dropped positions in place.
    // Token/chunk arrays materialize AFTER the join so the doc-keyed
    // exchange (paid only when the drop side is too big to broadcast)
    // ships (id, text), not text plus its tokenized twin
    df.filter(length(col(textCol)) > 0 && size(split(col(textCol), " ")) > 0)
      .join(dropAgg, Seq(idCol), "left")
      .withColumn("_toks", split(col(textCol), " "))
      .withColumn("_chunks",
        transform(Corpus.chunkSlices(col("_toks"), chunkTokens, 0),
          s => array_join(s, " ")))
      .select(col(idCol),
        (size(col("_chunks")).cast("long") -
          coalesce(col("_nd"), lit(0L))).as("n_kept"),
        coalesce(col("_nd"), lit(0L)).as("n_dropped"),
        nullif(array_join(
          filter(col("_chunks"), (_, i) =>
            coalesce(!array_contains(col("_drop"), i), lit(true))),
          " "), lit("")).as("text_kept"))
  }
}
