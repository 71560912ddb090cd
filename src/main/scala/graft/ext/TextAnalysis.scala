package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: language ID, quality
  * scoring, token counting, fingerprinting. All map-side Column kernels
  * (no UDFs, no shuffle); aggregation is whatever the caller groups by.
  *
  * Two API layers:
  *   - `*Of(toks, …)` forms take a pre-materialized token array. This is
  *     the scale path: materialize `tokens(text)` ONCE via `withColumn`
  *     and feed the column to every metric. Lambda HOFs are interpreted
  *     (CodegenFallback), and Catalyst inlines a multiply-referenced
  *     HOF *expression* into each consumer — k metrics would mean k full
  *     re-tokenizations per row. A materialized column is evaluated once
  *     (CollapseProject keeps non-cheap multiply-referenced projects).
  *   - `(text)` convenience forms tokenize internally; fine for a single
  *     metric, wasteful when combining several.
  */
object TextAnalysis {

  /** Marker stopword lists for the n-gram-free language-ID heuristic.
    * Deliberately tiny + deterministic: production swaps in real
    * frequency profiles; the operator shape (token-membership scoring +
    * argmax) is what matters. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "en"))

  /** Whitespace tokenizer — materialize this once per document
    * (`df.withColumn("toks", TextAnalysis.tokens(col("text")))`) before
    * computing several token-based metrics. */
  def tokens(text: Column): Column = split(text, " ")

  /** Count of tokens belonging to `list`, over a token array.
    * Interpreted filter-HOF — the spec form; scoring several profiles
    * should use the fused [[langScoresOf]] (one pass for all). */
  def stopwordCountOf(toks: Column, list: Seq[String]): Column =
    size(filter(toks, w => w.isin(list: _*))).cast("long")

  /** ALL profiles' marker counts in ONE codegen'd pass over the token
    * array (LangScoresExpr hash-map lookup per token), array-ordered by
    * profile key — `element_at(scores, i+1)` is profile i's count,
    * identical to `stopwordCountOf` per profile. */
  def langScoresOf(toks: Column, profiles: Map[String, Seq[String]] = stopwords): Column =
    TextHashExprs.langScores(toks, profiles.toSeq.sortBy(_._1))

  /** Language-ID heuristic over a token array: argmax of per-language
    * marker counts, lexicographically-first language on ties, 'und'
    * (undetermined) when every score is 0. One filter pass per profile,
    * zero re-tokenizations. */
  def langIdOf(toks: Column, profiles: Map[String, Seq[String]] = stopwords): Column = {
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, list) =>
      (lang, stopwordCountOf(toks, list))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und"): Column) { case ((lang, score), els) =>
      when(score === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  /** Single-column language ID. NOTE: re-tokenizes per profile — for
    * pipelines computing more than one metric, materialize `tokens` and
    * use `langIdOf`. */
  def langId(text: Column, profiles: Map[String, Seq[String]] = stopwords): Column =
    langIdOf(tokens(text), profiles)

  def wordCountOf(toks: Column): Column = size(toks).cast("long")

  def wordCount(text: Column): Column = wordCountOf(tokens(text))

  /** Mode count of a token array (max multiplicity of any token) — the
    * numerator of the Gopher-style top-token repetition fraction. Fused
    * per-row loop (TopCountExpr): mode-per-document is map-side work,
    * not an explode → two-level groupBy → join shuffle. */
  def topTokenCountOf(toks: Column): Column = TextHashExprs.topTokenCount(toks)

  /** Mean token length (separator-free chars / tokens). */
  def avgWordLenOf(text: Column, toks: Column): Column = {
    val n = wordCountOf(toks)
    (length(text) - (n - 1)).cast("double") / n.cast("double")
  }

  def avgWordLen(text: Column): Column = avgWordLenOf(text, tokens(text))

  /** Fraction of characters outside [a-z0-9 ] — punctuation/symbol load.
    * Character-level: no tokenization involved. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[a-z0-9 ]", "")).cast("double") /
      length(text).cast("double")

  /** Fraction of tokens that are (any-language) stopwords — the classic
    * fluency signal (natural text ≈ 0.3-0.6; keyword spam ≈ 0). */
  def stopwordRatioOf(toks: Column, profiles: Map[String, Seq[String]] = stopwords): Column = {
    val all = profiles.values.flatten.toSeq.distinct
    stopwordCountOf(toks, all).cast("double") / wordCountOf(toks).cast("double")
  }

  /** Composite quality score in [0,1]: length sweet-spot × (1 − punct
    * excess) × stopword presence. Heuristic, monotone, deterministic. */
  def qualityScoreOf(text: Column, toks: Column): Column = {
    val n = wordCountOf(toks).cast("double")
    val lenScore = least(n / 20.0, lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    val stopScore = least(stopwordRatioOf(toks) * 4.0, lit(1.0))
    round(lenScore * punctScore * stopScore, 4)
  }

  /** Single-column quality score. NOTE: re-tokenizes internally (3
    * passes) — materialize `tokens` and use `qualityScoreOf` in
    * pipelines. */
  def qualityScore(text: Column): Column = qualityScoreOf(text, tokens(text))

  /** BPE-ish token count: alpha runs, digit runs, and single symbols —
    * the standard pre-tokenizer split, counted without a vocab. Regex
    * scan: materialize the result column before aggregating it twice. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")

  /** Whole-document rolling-hash fingerprint (see TextHash). */
  def fingerprint(text: Column): Column = TextHash.fingerprint(text)

  /** Corpus-unigram log-probability per document — the simplest member
    * of the CCNet-style LM quality-filter family: documents whose
    * average token log-prob under the corpus unigram distribution is
    * far below typical are gibberish/boilerplate candidates. Returns
    * (doc_id, n_tok, lp_e6) where `lp_e6 = Σ_tokens ⌊ln(cnt_w/total)·1e6
    * + 0.5⌋` — per-token fixed-point micro-units so the document sum is
    * exact integer addition (partition-order-proof; same convention as
    * Search.bm25); divide by `n_tok` for the average-log-prob score.
    *
    * Scale shape: one token explode, entirely codegen'd (a row-local
    * tf pass via Search.termFreqs was measured SLOWER — the per-term
    * `filter` HOFs are interpreted, and since each document's token
    * rows are partition-local, the doc-keyed partial aggregation
    * collapses them to ~1 row/doc before the shuffle either way); the
    * vocabulary count is the only term-keyed exchange and broadcasts
    * back. Self-scored here (vocab from `docs` itself); to score
    * against a reference corpus, join a precomputed vocab instead —
    * unseen terms then null out and must be smoothed by the caller. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     tokenizer: Column => Column = tokens): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"), tokenizer(col(textCol)).as("_toks"))
      .select(col("doc_id"), explode(col("_toks")).as("term"))
    val vocab = words.groupBy(col("term")).agg(count(lit(1)).as("_cnt"))
    scoreAgainstVocab(words, vocab)
  }

  /** Corpus unigram counts, the reusable artifact for
    * [[unigramLogProbWithVocab]] — at 100 TB the self-scoring form
    * above scans the corpus twice (vocab build + scoring); persist this
    * once and score any number of batches with single-scan cost.
    *
    * `tokenizer` swaps the unit the LM is estimated over — the default
    * whitespace [[tokens]], or subwords via
    * `t => Bpe.tokens(t, merges)` (then scoring and vocab share one
    * fixed merge table, the real-pipeline setup). */
  def unigramVocab(docs: DataFrame, textCol: String,
                   tokenizer: Column => Column = tokens): DataFrame =
    docs.select(explode(tokenizer(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("_cnt"))

  /** [[unigramLogProb]] against a PRECOMPUTED vocabulary (columns
    * (term, _cnt), e.g. a persisted [[unigramVocab]] of a reference
    * corpus). Out-of-vocabulary tokens are DROPPED from both the sum
    * and `n_tok` (an inner join — ln(0) is undefined); callers wanting
    * smoothing should add pseudo-count rows to the vocab instead. */
  def unigramLogProbWithVocab(docs: DataFrame, idCol: String, textCol: String,
                              vocab: DataFrame,
                              tokenizer: Column => Column = tokens): DataFrame =
    scoreAgainstVocab(
      docs.select(col(idCol).as("doc_id"), explode(tokenizer(col(textCol))).as("term")),
      vocab)

  private def scoreAgainstVocab(words: DataFrame, vocab: DataFrame): DataFrame = {
    val total = vocab.agg(sum(col("_cnt")).as("_tot"))
    words.join(broadcast(vocab), Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("_lp6",
        floor(log(col("_cnt").cast("double") / col("_tot")) * 1000000.0 + 0.5).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("_lp6")).as("lp_e6"))
  }

  /** Gopher document-quality rules (Rae et al. 2021, "Scaling language
    * models: ... Gopher" §A1.1 — the standard pre-LM-filter gate;
    * MassiveText applies these before any dedup): per document the
    * INTEGER sufficient cells and the composite keep flag:
    *
    *   - word count within [minWords, maxWords]
    *   - mean word length within [3, 10] chars
    *   - '#'-to-word ratio < 0.1, '...'-to-word ratio < 0.3
    *   - ≥ 80% of words contain an alphabetic character
    *   - ≥ 2 distinct occurrences from a tiny required-stopword list
    *
    * Every ratio gate is evaluated by INTEGER cross-multiplication
    * (10·n_hash < n_words, 3·n_words ≤ chars ≤ 10·n_words, 5·n_alpha
    * ≥ 4·n_words, 10·n_ellipsis < 3·n_words) — no float compare can
    * flip cross-engine. Map-only kernel: zero shuffle at any corpus
    * size; callers aggregate the keep flag however they group. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L,
                  requiredStopwords: Seq[String] =
                    Seq("the", "be", "to", "of", "and", "that", "have", "with"))
      : DataFrame = {
    require(requiredStopwords.nonEmpty, "requiredStopwords must be non-empty")
    val toked = docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"),
      tokens(col(textCol)).as("_toks"))
    toked
      .withColumn("n_words", size(col("_toks")).cast("long"))
      // separator-free character mass (the avgWordLenOf numerator)
      .withColumn("n_chars",
        (length(col("_text")) - (col("n_words") - 1)).cast("long"))
      .withColumn("n_hash",
        (length(col("_text")) -
          length(regexp_replace(col("_text"), "#", ""))).cast("long"))
      .withColumn("n_ellipsis",
        ((length(col("_text")) -
          length(regexp_replace(col("_text"), "\\.\\.\\.", ""))) / 3).cast("long"))
      .withColumn("n_alpha_words",
        size(filter(col("_toks"), w => w.rlike("[a-zA-Z]"))).cast("long"))
      // DISTINCT required stopwords present (Gopher A1.1: "at least
      // two OF THE FOLLOWING words" — counting occurrences would let
      // spam repeating one stopword through): count list members that
      // appear in the doc, not doc tokens that appear in the list
      .withColumn("n_stop",
        size(filter(array(requiredStopwords.map(lit): _*),
          sw => array_contains(col("_toks"), sw))).cast("long"))
      .withColumn("kept",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          lit(3L) * col("n_words") <= col("n_chars") &&
          col("n_chars") <= lit(10L) * col("n_words") &&
          lit(10L) * col("n_hash") < col("n_words") &&
          lit(10L) * col("n_ellipsis") < lit(3L) * col("n_words") &&
          lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words") &&
          col("n_stop") >= 2L)
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_hash"),
        col("n_ellipsis"), col("n_alpha_words"), col("n_stop"), col("kept"))
  }

  /** Gopher REPETITION signals (Rae et al. 2021 §A1.1, the repetition
    * half of the MassiveText filter — applied alongside the quality
    * gates in [[gopherRules]]): per document, INTEGER sufficient cells
    * for every repetition fraction in the paper's table A1:
    *
    *   - `n_units`, `dup_units` — units (lines by default, paragraphs
    *     via `unitSep`) and occurrences BEYOND THE FIRST of each
    *     distinct unit; `dup_units / n_units` = duplicate-line fraction
    *   - `unit_chars`, `dup_unit_chars` — same, weighted by unit length
    *     → duplicate-line CHARACTER fraction
    *   - `top{n}_cnt`, `top{n}_chars` for n ∈ `topNs` — occurrence
    *     count of the most frequent word n-gram and its character mass
    *     (count × joined length); `top{n}_chars / n_chars` = the
    *     top-n-gram character fraction
    *   - `dup{n}_chars` for n ∈ `dupNs` — Σ over n-grams occurring ≥ 2
    *     times of (occurrences × joined length) → duplicate-n-gram
    *     character fraction
    *
    * Conventions pinned for cross-engine determinism (the paper leaves
    * both open and public implementations differ): (1) n-gram character
    * mass counts every OCCURRENCE of a duplicated gram at its joined
    * single-space length — overlapping occurrences are NOT de-overlapped
    * (the occurrence-sum convention); (2) when several grams tie on max
    * count, `top{n}_chars` is the max of count × length over the tied
    * set — order-independent, no lexicographic tie-break needed. Empty
    * units (consecutive separators) are dropped before counting.
    *
    * Scale shape: map-only — unit term frequencies come from the
    * one-pass [[TextHashExprs.termFreqs]] kernel per row, and every
    * n-gram cell from the fused [[TextHashExprs.ngramRepStats]] codegen
    * kernel (one hash-map pass per gram width — the HOF chain it
    * replaces, kept as [[repetitionSignalsHof]], walks five interpreted
    * lambda layers per width); no explode, zero shuffle at any corpus
    * size. Callers compare the integer cells against thresholds by
    * cross-multiplication, the [[gopherRules]] convention. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String,
                        topNs: Seq[Int] = Seq(2, 3, 4),
                        dupNs: Seq[Int] = Seq(5, 10),
                        unitSep: String = "\n"): DataFrame = {
    require((topNs ++ dupNs).forall(_ >= 1), "n-gram sizes must be >= 1")
    val withUnits = repetitionUnits(docs, idCol, textCol, unitSep)
    val withTop = topNs.foldLeft(withUnits) { (df, n) =>
      df.withColumn(s"_st$n", TextHashExprs.ngramRepStats(col("_toks"), n))
        .withColumn(s"top${n}_cnt", col(s"_st$n").getField("top_cnt"))
        .withColumn(s"top${n}_chars", col(s"_st$n").getField("top_chars"))
        .drop(s"_st$n")
    }
    val withDup = dupNs.foldLeft(withTop) { (df, n) =>
      df.withColumn(s"dup${n}_chars",
        TextHashExprs.ngramRepStats(col("_toks"), n).getField("dup_chars"))
    }
    withDup.drop("_t", "_toks")
  }

  /** HOF spec form of [[repetitionSignals]] (differential reference
    * only): the same cells from termFreqs + aggregate/filter/transform
    * lambda chains. */
  private[graft] def repetitionSignalsHof(docs: DataFrame, idCol: String,
                                          textCol: String,
                                          topNs: Seq[Int] = Seq(2, 3, 4),
                                          dupNs: Seq[Int] = Seq(5, 10),
                                          unitSep: String = "\n"): DataFrame = {
    require((topNs ++ dupNs).forall(_ >= 1), "n-gram sizes must be >= 1")
    def tfSum(tf: Column, f: (Column, Column) => Column): Column =
      aggregate(tf, lit(0L),
        (acc, x) => acc + f(x.getField("tf"), length(x.getField("term")).cast("long")))
    def gramTf(n: Int): Column = {
      val toks = col("_toks")
      val grams =
        if (n == 1) toks
        else when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))
      TextHashExprs.termFreqs(grams)
    }
    val withUnits = repetitionUnits(docs, idCol, textCol, unitSep)
    val withTop = topNs.foldLeft(withUnits) { (df, n) =>
      df.withColumn(s"_tf$n", gramTf(n))
        .withColumn(s"top${n}_cnt",
          coalesce(array_max(transform(col(s"_tf$n"), x => x.getField("tf"))), lit(0L)))
        .withColumn(s"top${n}_chars",
          coalesce(array_max(transform(
            filter(col(s"_tf$n"), x => x.getField("tf") === col(s"top${n}_cnt")),
            x => x.getField("tf") * length(x.getField("term")).cast("long"))), lit(0L)))
        .drop(s"_tf$n")
    }
    val withDup = dupNs.foldLeft(withTop) { (df, n) =>
      df.withColumn(s"dup${n}_chars",
        tfSum(gramTf(n), (tf, len) => when(tf >= 2L, tf * len).otherwise(0L)))
    }
    withDup.drop("_t", "_toks")
  }

  /** Shared unit-level (line/paragraph) cells of the repetition pair:
    * (doc_id, _t, _toks, n_chars, n_units, dup_units, unit_chars,
    * dup_unit_chars). */
  private def repetitionUnits(docs: DataFrame, idCol: String,
                              textCol: String, unitSep: String): DataFrame = {
    val unitTf = TextHashExprs.termFreqs(
      filter(split(col("_t"), java.util.regex.Pattern.quote(unitSep)),
        u => length(u) >= 1))
    def tfSum(tf: Column, f: (Column, Column) => Column): Column =
      aggregate(tf, lit(0L),
        (acc, x) => acc + f(x.getField("tf"), length(x.getField("term")).cast("long")))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("_t"),
        tokens(col(textCol)).as("_toks"))
      .withColumn("_utf", unitTf)
      .select(
        col("doc_id"), col("_t"), col("_toks"),
        length(col("_t")).cast("long").as("n_chars"),
        tfSum(col("_utf"), (tf, _) => tf).as("n_units"),
        tfSum(col("_utf"), (tf, _) => tf - 1L).as("dup_units"),
        tfSum(col("_utf"), (tf, len) => tf * len).as("unit_chars"),
        tfSum(col("_utf"), (tf, len) => (tf - 1L) * len).as("dup_unit_chars"))
  }

  /** C4 line-level cleaning (Raffel et al. 2020, "Exploring the limits
    * of transfer learning with a unified text-to-text transformer"
    * §2.2 — the rule set behind the C4 corpus, applied line-by-line
    * before any document filter): a line SURVIVES iff it
    *
    *   - has at least `minLineWords` words,
    *   - ends in terminal punctuation (`.` `!` `?` `"`), and
    *   - contains no `blocklist` term (case-insensitive substring —
    *     C4 uses "javascript"; cookie-notice boilerplate is the other
    *     classic entry).
    *
    * Doc-level, the C4 page gates ride along: `doc_kept` is false
    * when the text contains `{` (code) or "lorem ipsum" (template
    * filler) — C4 drops those pages outright, whatever their lines.
    * Output: (doc_id, n_lines, n_kept, text_clean, doc_kept) with
    * `text_clean` the surviving lines re-joined by newline.
    *
    * Map-only expression chain (split → filter HOF → array_join):
    * zero shuffle at any corpus size. The line predicate is RE2-safe
    * ([[redactPii]] convention) so oracle engines replay it. */
  def c4CleanLines(docs: DataFrame, idCol: String, textCol: String,
                   minLineWords: Int = 3,
                   blocklist: Seq[String] = Seq("javascript", "cookie"))
      : DataFrame = {
    require(minLineWords >= 1, s"minLineWords must be >= 1, got $minLineWords")
    val keepLine = (x: Column) =>
      blocklist.foldLeft(
        size(split(x, " ")) >= minLineWords && x.rlike("[.!?\"]$")) {
        (acc, b) => acc && !lower(x).contains(b.toLowerCase)
      }
    docs.select(col(idCol).as("doc_id"), col(textCol).as("_t"),
        split(col(textCol), "\n").as("_lines"))
      .withColumn("_kept", filter(col("_lines"), keepLine))
      .select(col("doc_id"),
        size(col("_lines")).cast("long").as("n_lines"),
        size(col("_kept")).cast("long").as("n_kept"),
        array_join(col("_kept"), "\n").as("text_clean"),
        (!col("_t").contains("{") &&
          !lower(col("_t")).contains("lorem ipsum")).as("doc_kept"))
  }

  /** Interpolated bigram LM score (Jelinek-Mercer smoothing, the
    * textbook fixed-λ linear interpolation — Jurafsky & Martin SLP3
    * §3.5; KenLM-class pipelines use this family for corpus quality
    * filtering): per adjacent token pair,
    *
    *   p(cur | prev) = (λ·c₂(prev,cur)/c₁(prev)
    *                    + (100−λ)·c₁(cur)/Σc₁) / 100,   λ = `lambdaPct`
    *
    * self-scored (counts from `docs` itself — every bigram then has
    * c₂ ≥ 1 and every cur is in-vocab, so p > 0 with no extra
    * smoothing). Returns (doc_id, n_bigram, lp_e6) with lp_e6 the sum
    * of `floor(ln(p)·10⁶ + 0.5)` over the doc's bigrams — the
    * [[unigramLogProb]] fixed-point discipline (identical integer
    * counts divide/log to identical doubles cross-engine, floor pins
    * the sum to int64). Single-token and empty docs have no bigrams
    * and drop out (left-join downstream to keep them).
    *
    * Scale shape: bigram extraction is MAP-ONLY (zip_with of the
    * array against its own tail — no posexplode self-join); the
    * unigram vocab broadcasts back as in [[unigramLogProb]]; the ONE
    * real exchange keys on (prev, cur) — bigram-count build and
    * score join — and the doc-keyed final agg collapses map-side.
    * Corpus text never shuffles. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    lambdaPct: Int = 80,
                    tokenizer: Column => Column = tokens): DataFrame = {
    require(lambdaPct >= 1 && lambdaPct <= 99,
      s"lambdaPct must be in [1, 99] (the unigram share smooths unseen " +
        s"continuations), got $lambdaPct")
    val toked = docs.select(col(idCol).as("doc_id"),
      tokenizer(col(textCol)).as("_toks"))
    val pairs = toked.select(col("doc_id"),
        explode(zip_with(
          slice(col("_toks"), lit(1), greatest(size(col("_toks")) - 1, lit(0))),
          slice(col("_toks"), lit(2), greatest(size(col("_toks")) - 1, lit(0))),
          (a, b) => struct(a.as("prev"), b.as("cur")))).as("_bg"))
      .select(col("doc_id"), col("_bg.prev").as("prev"), col("_bg.cur").as("cur"))
    val uni = toked.select(explode(col("_toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("_c1"))
    val total = uni.agg(sum(col("_c1")).as("_tot"))
    val bi = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("_c2"))
    val lam = lambdaPct.toDouble
    pairs
      .join(bi, Seq("prev", "cur"))
      .join(broadcast(uni.select(col("term").as("prev"), col("_c1").as("_cp"))),
        Seq("prev"))
      .join(broadcast(uni.select(col("term").as("cur"), col("_c1").as("_cc"))),
        Seq("cur"))
      .crossJoin(broadcast(total))
      .withColumn("_p",
        (lit(lam) * (col("_c2").cast("double") / col("_cp")) +
          lit(100.0 - lam) * (col("_cc").cast("double") / col("_tot"))) / lit(100.0))
      .withColumn("_lp6", floor(log(col("_p")) * 1000000.0 + 0.5).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigram"), sum(col("_lp6")).as("lp_e6"))
  }

  /** Interpolated Kneser-Ney bigram LM score — the smoothing that wins
    * every LM-quality shootout (Kneser & Ney 1995; the interpolated
    * form and its empirical dominance: Chen & Goodman 1998, TR-10-98
    * §2.7): absolute-discount the bigram estimate and back off to the
    * CONTINUATION probability (how many distinct histories a word
    * follows) instead of raw frequency — "Francisco" is frequent but
    * follows only "San", so KN correctly refuses to predict it after
    * novel histories where Jelinek-Mercer ([[bigramLogProb]])
    * over-scores it:
    *
    *   p(cur | prev) = (c₂(prev,cur) − D)/h(prev)
    *                   + (D·N₁₊(prev,•)/h(prev)) · N₁₊(•,cur)/N₁₊(•,•)
    *
    * with D = `discountPct`/100, h(prev) = Σ_w c₂(prev,w) (occurrences
    * of prev as a history — NOT the raw unigram count, which
    * over-counts document-final tokens), N₁₊ the distinct-neighbor
    * counts. Self-scored: every scored bigram has c₂ ≥ 1 and D < 1,
    * so p > 0 with no extra floor. Returns (doc_id, n_bigram, lp_e6),
    * the [[bigramLogProb]] fixed-point discipline (identical integer
    * counts through an identical double expression tree, floor-pinned
    * to int64 — cross-engine bit parity).
    *
    * Scale shape mirrors [[bigramLogProb]]: map-only bigram
    * extraction; the count tables are all derived from ONE
    * bigram-keyed aggregation (h, N₁₊(prev,•) roll up by prev;
    * N₁₊(•,cur) by cur; the type total is a 1-row broadcast); the
    * vocab-sized tables broadcast back; corpus text never shuffles. */
  def bigramLogProbKN(docs: DataFrame, idCol: String, textCol: String,
                      discountPct: Int = 75,
                      tokenizer: Column => Column = tokens): DataFrame = {
    require(discountPct >= 1 && discountPct <= 99,
      s"discountPct must be in [1, 99] (D ∈ (0,1) keeps every " +
        s"discounted count and backoff mass positive), got $discountPct")
    val toked = docs.select(col(idCol).as("doc_id"),
      tokenizer(col(textCol)).as("_toks"))
    val pairs = toked.select(col("doc_id"),
        explode(zip_with(
          slice(col("_toks"), lit(1), greatest(size(col("_toks")) - 1, lit(0))),
          slice(col("_toks"), lit(2), greatest(size(col("_toks")) - 1, lit(0))),
          (a, b) => struct(a.as("prev"), b.as("cur")))).as("_bg"))
      .select(col("doc_id"), col("_bg.prev").as("prev"), col("_bg.cur").as("cur"))
    val bi = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("_c2"))
    val hist = bi.groupBy(col("prev"))
      .agg(sum(col("_c2")).as("_h"), count(lit(1)).as("_n1fw"))
    val cont = bi.groupBy(col("cur")).agg(count(lit(1)).as("_nc"))
    val types = bi.agg(count(lit(1)).as("_ntypes"))
    val d = discountPct.toDouble / 100.0
    pairs
      .join(bi, Seq("prev", "cur"))
      .join(broadcast(hist), Seq("prev"))
      .join(broadcast(cont), Seq("cur"))
      .crossJoin(broadcast(types))
      .withColumn("_p",
        (col("_c2").cast("double") - lit(d)) / col("_h").cast("double") +
          (lit(d) * col("_n1fw").cast("double") / col("_h").cast("double")) *
            (col("_nc").cast("double") / col("_ntypes").cast("double")))
      .withColumn("_lp6", floor(log(col("_p")) * 1000000.0 + 0.5).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigram"), sum(col("_lp6")).as("lp_e6"))
  }

  /** Lexical-diversity profile per document — the vocabulary-richness
    * signals corpus audits chart next to length (low TTR/entropy =
    * template or keyword-stuffed text; high hapax share = natural
    * prose): token count, distinct-type count, hapax-legomenon count
    * (types occurring once), type-token ratio, and Shannon unigram
    * entropy in nats.
    *
    * Fixed-point discipline: `ttr` is one division of two identical
    * integers (bit-identical cross-engine); entropy is the sum of
    * PER-TERM floor-pinned contributions `floor(−(tf/n)·ln(tf/n)·10⁶
    * + 0.5)` — an int64 sum, so the non-associativity of double
    * addition can never flip a comparison ([[unigramLogProb]]'s lp_e6
    * discipline). Returns (doc_id, n_tok, n_types, n_hapax, ttr,
    * entropy_e6).
    *
    * Scale shape: term counting is MAP-ONLY ([[Search.termFreqs]]'s
    * one-pass hash-map kernel — no (doc, term) shuffle); the explode
    * feeds ONE doc-keyed aggregation with map-side partials. Corpus
    * text never shuffles. */
  def lexicalStats(docs: DataFrame, idCol: String, textCol: String,
                   tokenizer: Column => Column = tokens): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokenizer(col(textCol)).as("_toks"))
      .withColumn("_tf", Search.termFreqs(col("_toks")))
      .withColumn("_n", size(col("_toks")).cast("long"))
      .withColumn("_nt", size(col("_tf")).cast("long"))
      .select(col("doc_id"), col("_n"), col("_nt"),
        explode(col("_tf")).as("_e"))
      .withColumn("_c", col("_e.tf").cast("double") / col("_n").cast("double"))
      .withColumn("_h6",
        floor((lit(0.0) - col("_c") * log(col("_c"))) * 1000000.0 + 0.5).cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("_n")).as("n_tok"),
        max(col("_nt")).as("n_types"),
        sum(when(col("_e.tf") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        (max(col("_nt")).cast("double") / max(col("_n")).cast("double")).as("ttr"),
        sum(col("_h6")).as("entropy_e6"))

  /** Rule-based sentence segmentation — the unit for sentence-level
    * dedup, chunk boundaries that respect meaning, and per-sentence
    * quality gates. A sentence is a maximal run of non-terminator
    * characters plus its trailing `[.!?]+` run; a trailing fragment
    * without a terminator is kept as a sentence. Dots after a small
    * fixed list of English abbreviations (Dr. Mr. Mrs. Ms. Prof. St.
    * Jr. Sr. vs. etc. e.g. i.e.) do NOT terminate — implemented
    * RE2-safely (no lookbehind, so DuckDB twins replay it) by
    * rewriting those dots to the U+0001 sentinel before the split and
    * restoring them after; input text containing U+0001 (a control
    * character absent from sane text) would be corrupted. Documented
    * trade: an abbreviation that genuinely ENDS a sentence ("…, etc.
    * Next point.") no longer splits there. Whitespace-only fragments
    * are dropped, sentences returned trimmed, document order.
    * Map-only codegen chain. */
  def sentences(text: Column): Column = {
    // e.g. / i.e. first (two dots each; EXACT literals, not [ei].[ge]
    // character classes, which would also silently guard the
    // non-abbreviations "i.g." and "e.e."), then the single-dot list;
    // \x01 is the sentinel the final transform restores to '.'
    val guarded = regexp_replace(
      regexp_replace(
        regexp_replace(text, "\\be\\.g\\.", "e\u0001g\u0001"),
        "\\bi\\.e\\.", "i\u0001e\u0001"),
      "\\b(Dr|Mrs|Mr|Ms|Prof|St|Jr|Sr|vs|etc)\\.", "$1\u0001")
    filter(
      transform(
        regexp_extract_all(guarded, lit("[^.!?]+[.!?]+|[^.!?]+"), lit(0)),
        s => replace(trim(s), lit("\u0001"), lit("."))),
      s => s =!= "")
  }

  /** Unicode-script profile — the ROUTER ahead of language ID (the
    * Cavnar-Trenkle profiles are Latin-script; a Cyrillic or CJK page
    * must be routed to its own model, and CommonCrawl pipelines key
    * their language shards on exactly this signal): per document,
    * character counts for the major scripts plus the dominant script
    * label (most chars; ties broken by the fixed script order below,
    * 'none' when every count is zero). Counts use Unicode script
    * classes (`\\p{IsXxx}` in Java, `\\p{Xxx}` in RE2 — same classes,
    * both engines) via the length-difference idiom — map-only, one
    * projection, no UDF. */
  def scriptProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scripts = Seq(
      "latin" -> "\\p{IsLatin}", "cyrillic" -> "\\p{IsCyrillic}",
      "greek" -> "\\p{IsGreek}", "arabic" -> "\\p{IsArabic}",
      "hebrew" -> "\\p{IsHebrew}", "han" -> "\\p{IsHan}",
      "hiragana" -> "\\p{IsHiragana}", "katakana" -> "\\p{IsKatakana}",
      "hangul" -> "\\p{IsHangul}", "devanagari" -> "\\p{IsDevanagari}")
    val withCounts = scripts.foldLeft(
        docs.select(col(idCol), col(textCol).as("_t"))) { case (df, (name, cls)) =>
      df.withColumn(s"n_$name",
        (length(col("_t")) -
          length(regexp_replace(col("_t"), cls, ""))).cast("long"))
    }
    val best = scripts.map(_._1).foldRight(lit("none"): Column) { (name, els) =>
      // strictly-greater scan in fixed order = deterministic tie-break
      when(col(s"n_$name") > lit(0L) &&
        scripts.map(_._1).filter(_ != name)
          .map(o => col(s"n_$name") >= col(s"n_$o")).reduce(_ && _),
        lit(name)).otherwise(els)
    }
    withCounts.withColumn("script", best).drop("_t")
  }

  // ── Quality buckets ────────────────────────────────────────────────

  /** CCNet-style quality bucketing (Wenzek 2020, "CCNet: Extracting
    * high quality monolingual datasets from web crawl data": rank
    * documents by LM score, split into head/middle/tail): per
    * `partitionCols` shard (CCNet buckets PER LANGUAGE — global
    * bucketing mixes incomparable LMs), rank docs by mean per-token
    * log-prob (lp_e6 / n_tok in doubles — identical operands divide to
    * identical doubles cross-engine; doc id breaks ties) and `ntile`
    * into `nBuckets` (1 = best). Scoring is [[unigramLogProb]]
    * (self-vocab; pass a persisted reference vocab via `vocab` for the
    * real CCNet setup — target-domain LM, not self).
    *
    * Scale shape: scoring never shuffles the corpus (see
    * [[unigramLogProb]]); ranking is ONE window per shard — language
    * shards bound the sort; an empty `partitionCols` means one global
    * sort partition and is for small corpora only (callers at 100 TB
    * always shard). */
  def qualityBuckets(docs: DataFrame, idCol: String, textCol: String,
                     nBuckets: Int, partitionCols: Seq[String] = Nil,
                     vocab: Option[DataFrame] = None,
                     tokenizer: Column => Column = tokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2, s"nBuckets=$nBuckets must be >= 2")
    val lp = vocab match {
      case Some(v) => unigramLogProbWithVocab(docs, idCol, textCol, v, tokenizer)
      case None    => unigramLogProb(docs, idCol, textCol, tokenizer)
    }
    val joined = docs.select(
        (col(idCol).as("doc_id") +: partitionCols.map(col)): _*)
      .join(lp, Seq("doc_id"))
      .withColumn("mean_lp", col("lp_e6").cast("double") / col("n_tok"))
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col("mean_lp").desc, col("doc_id"))
    joined.withColumn("bucket", ntile(nBuckets).over(w))
  }

  // ── Naive Bayes document classifier ────────────────────────────────
  // The workhorse cheap quality/domain classifier of corpus pipelines
  // (fastText-style linear scorers and the CCNet quality buckets are
  // this shape): train on a small labeled set, score the whole corpus
  // map-side. Multinomial NB with Laplace smoothing (standard
  // presentation: Manning/Raghavan/Schütze, IIR §13) under the house
  // fixed-point contract — per-(label, term) log-weights quantized to
  // e6 micro-units, so corpus-side scoring is INTEGER sums
  // (partition-order-proof, replicable in SQL from first principles).

  /** Trains a multinomial NB model: one row per (label, term) over the
    * FULL training vocabulary (dense grid, so scoring needs no per-label
    * OOV branch — a term seen under any label has a smoothed weight
    * under every label):
    *
    *   lw_e6    = ⌊ln((c(label,term)+1) / (tok(label)+V)) · 10⁶⌉
    *   prior_e6 = ⌊ln(docs(label) / docs) · 10⁶⌉
    *
    * Model size is V·L rows — the broadcastable artifact (a 1M-term
    * vocab × 10 labels ≈ 10M compact rows; persist once, score any
    * number of batches). Training is two token-keyed integer aggs over
    * the labeled set — the labeled set is assumed corpus-small (it's
    * hand-labeled), the CORPUS side never shuffles at all. */
  def nbModel(labeled: DataFrame, labelCol: String, textCol: String,
              tokenizer: Column => Column = tokens): DataFrame = {
    val words = labeled.select(col(labelCol).as("label"),
      explode(tokenizer(col(textCol))).as("term"))
    val vocab = words.select(col("term")).distinct()
    val vc = vocab.agg(count(lit(1)).as("_v"))
    val counts = words.groupBy(col("label"), col("term")).agg(count(lit(1)).as("_c"))
    val labelTok = words.groupBy(col("label")).agg(count(lit(1)).as("_t"))
    val labelDocs = labeled.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("_d"))
    val totDocs = labeled.agg(count(lit(1)).as("_dd"))
    vocab.crossJoin(broadcast(labelTok))
      .join(counts, Seq("label", "term"), "left")
      .crossJoin(broadcast(vc))
      .join(broadcast(labelDocs), "label")
      .crossJoin(broadcast(totDocs))
      .select(col("label"), col("term"),
        floor(log((coalesce(col("_c"), lit(0L)) + 1L).cast("double")
          / (col("_t") + col("_v"))) * 1000000.0 + 0.5).cast("long").as("lw_e6"),
        floor(log(col("_d").cast("double") / col("_dd")) * 1000000.0 + 0.5)
          .cast("long").as("prior_e6"))
  }

  /** Scores documents against a [[nbModel]], emitting each doc's
    * best label by integer NB score (prior_e6 + Σ lw_e6 over in-vocab
    * tokens; ties break to the LEXICALLY LOWEST label — integer
    * compare, engine-stable). Out-of-vocabulary tokens are dropped
    * from both the sum and `n_tok` (the [[unigramLogProbWithVocab]]
    * convention); a document with NO in-vocab token emits nothing.
    *
    * Scale shape: ONE broadcast join of the model onto the exploded
    * token stream (each token fans out to its L label rows map-side),
    * one (doc, label)-keyed partial+final integer agg, then a per-doc
    * argmax window over exactly L rows — bounded group size, no skew
    * exposure. */
  def nbScore(docs: DataFrame, idCol: String, textCol: String,
              model: DataFrame,
              tokenizer: Column => Column = tokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol).as("doc_id"),
      explode(tokenizer(col(textCol))).as("term"))
    val scored = words.join(broadcast(model), Seq("term"))
      .groupBy(col("doc_id"), col("label"))
      .agg(count(lit(1)).as("n_tok"),
        (first(col("prior_e6")) + sum(col("lw_e6"))).as("score_e6"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("label").asc)
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("doc_id"), col("label").as("best_label"),
        col("score_e6"), col("n_tok"))
  }

  // ── PII redaction ──────────────────────────────────────────────────
  // Training corpora scrub contact-like spans before anything ships to
  // a trainer. Patterns are deliberately RE2-safe (no backreferences,
  // no lookaround) so the same pattern string runs identically under
  // Spark's Java regex and RE2-family engines — cross-engine-stable
  // redaction is a lineage requirement, not a nicety. All three are
  // codegen'd map-only expressions (regexp_replace / regexp_count):
  // zero shuffle at any corpus size.

  /** RFC-ish email span (conservative: never matches across spaces). */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** NANP-style 3-4 phone fragment (e.g. `555-0142`). */
  val phonePattern: String = "\\d{3}-\\d{4}"

  /** Dotted-quad IPv4 literal. */
  val ipPattern: String = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** Redact email / IPv4 / phone spans to typed placeholder tokens
    * (`<EMAIL>`, `<IP>`, `<PHONE>`). Email first: its match can contain
    * digits the narrower patterns would nibble at; IP before phone so a
    * dotted quad is never half-eaten as a phone fragment. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(emailPattern), lit("<EMAIL>")),
        lit(ipPattern), lit("<IP>")),
      lit(phonePattern), lit("<PHONE>"))

  /** Per-category PII span counts — the audit metric reported alongside
    * redaction (how much PII a source carries drives source-level
    * filtering decisions). Counted PROGRESSIVELY in redaction order
    * (email → IP → phone): each category is counted on the string with
    * the earlier categories already replaced, so a span [[redactPii]]
    * consumes once (e.g. a phone-shaped fragment inside an email local
    * part) is never double-counted — the three counts sum to exactly
    * the spans redaction replaces. The placeholders are digit-free, so
    * replacement can never CREATE a later-category match. Still
    * map-only codegen'd regex work; for a raw independent count over an
    * arbitrary string, use `regexp_count` directly. */
  def emailCount(text: Column): Column = regexp_count(text, lit(emailPattern)).cast("long")
  def ipCount(text: Column): Column =
    regexp_count(regexp_replace(text, lit(emailPattern), lit("<EMAIL>")),
      lit(ipPattern)).cast("long")
  def phoneCount(text: Column): Column =
    regexp_count(
      regexp_replace(regexp_replace(text, lit(emailPattern), lit("<EMAIL>")),
        lit(ipPattern), lit("<IP>")),
      lit(phonePattern)).cast("long")
}
