package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text-hashing kernels for the dedup / fingerprinting
  * operators (BASELINE.json:6 "LLM-data-pipeline" extension surface).
  *
  * Word/shingle/signature hashes are plain 31-base polynomial rolls mod
  * P = 1e9+7 built from Catalyst higher-order functions — NOT
  * murmur/xxhash — deliberately: the same arithmetic is expressible in
  * any ANSI-ish SQL engine (the DuckDB oracle replicates them with
  * list_reduce/list_transform), so every dedup operator stays
  * differential-testable cross-engine. Their values stay < 2^30, so
  * double-based bit extraction is exact and the kernels survive engines
  * without 64-bit bitwise ops. The one deliberate exception is the
  * whole-document [[fingerprint]] (64-bit wrap-around roll; DuckDB
  * replays it in HUGEINT): an exact-dup key must not live in a 2^30
  * space — see [[fingerprint]].
  *
  * Scale: every kernel is map-side (per-row arrays), shuffle-free;
  * the dedup operators built on them shuffle only on the short
  * signature/bucket keys (Dedup.scala).
  */
object TextHash {

  val P: Long = TextHashLoops.P

  /** Polynomial rolling hash of a string, char code points base-31 —
    * codegen'd fused loop (TextHashExpr); `charHashHof` is the
    * HOF spec it must equal. */
  def charHash(s: Column): Column = TextHashExprs.charHash(s)

  /** Hash of every whitespace token of `text` (codegen'd). */
  def wordHashes(text: Column): Column = TextHashExprs.wordHashes(text)

  /** HOF spec form of charHash (differential-testing reference).
    * Spark 4's empty-pattern split is per code point with no trailing
    * "" (SPARK-40194) — the filter stays as cross-engine armor for
    * engines whose char-split does emit one. */
  def charHashHof(s: Column): Column =
    aggregate(
      transform(filter(split(s, ""), c => c =!= ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31L + c) % P)

  /** HOF spec form of wordHashes. */
  def wordHashesHof(text: Column): Column = transform(split(text, " "), w => charHashHof(w))

  /** i-th universal-family rehash of a word-hash: (aᵢ·w + bᵢ) mod P,
    * with the coefficients of [[TextHashLoops.minhashCoef]] — LARGE
    * mixing multipliers aᵢ = (2654435761·(i+1)) mod P (Knuth's
    * ⌊2³²/φ⌋). The original aᵢ = 2i+3 family was broken in a
    * way that mattered at corpus scale: for a token with a small base
    * hash, w·aᵢ+bᵢ never wraps P, so that token stayed the minimum of
    * EVERY component simultaneously — one boilerplate token owned the
    * whole MinHash signature and LSH banding collapsed into hubs
    * (NearDupSpec boilerplate-hazard fixture pins the repair). Products
    * stay exact: w < P < 2³⁰ and aᵢ < P ⇒ w·aᵢ < 2⁶⁰. */
  def rehash(w: Column, i: Int): Column = {
    val (a, b) = TextHashLoops.minhashCoef(i)
    (w * lit(a) + lit(b)) % P
  }

  /** MinHash component i: min over token hashes of rehash i. Null-safe:
    * empty texts yield P (an impossible hash) rather than null so
    * signatures always compare. */
  def minhash(whs: Column, i: Int): Column =
    coalesce(array_min(transform(whs, w => rehash(w, i))), lit(P))

  /** Full k-component MinHash signature — fused one-pass codegen
    * kernel (`minhashSignatureHof` is the per-component HOF spec). */
  def minhashSignature(whs: Column, k: Int): Column =
    TextHashExprs.minhashSignature(whs, k)

  /** HOF spec form of minhashSignature (differential reference) —
    * null-in/null-out like the fused kernel (a bare array() of
    * coalesced components would turn a null input into a sentinel
    * signature and diverge from the UnaryExpression's null handling). */
  def minhashSignatureHof(whs: Column, k: Int): Column =
    when(whs.isNull, lit(null))
      .otherwise(array((0 until k).map(i => minhash(whs, i)): _*))

  /** Pack a k-component signature into `bands` 64-bit LSH band keys
    * (k/bands components each, band index folded in as the seed):
    * acc = acc·M + h with natural Long wrap-around, M the FNV-64
    * prime. The ONE band-key form every banding/candidate/store stage
    * shares (r15, `bkv = 2` — pre-r15 stores persisted `"b:h1_h2"`
    * strings: measured 1.8x the bytes at rest and on the candidate
    * shuffle, and string equi-joins on every candidate exchange;
    * rebuild via DocPipeline.rebuildSignatureStore). A
    * packed collision between unrelated slices only creates a
    * spurious CANDIDATE pair that verification rejects, so the wrap
    * is recall-neutral by construction. Codegen kernel; the DuckDB
    * oracle replays the fold in HUGEINT (q_minhash_groups,
    * q_near_dup_*, q_incremental_dedup all hash-match through it). */
  def bandKeys64(sig: Column, bands: Int): Column =
    TextHashExprs.bandKeys64(sig, bands)

  /** One-permutation MinHash signature with rotation densification
    * (Li/Owen/Zhang 2012; Shrivastava & Li 2014): a single rehash per
    * token routed into `k` bins by `h mod k`, each component = its
    * bin's min, empty bins borrowing the nearest non-empty bin to the
    * right (cyclically) offset by P·distance. O(tokens+k) per doc vs
    * the classic [[minhashSignature]]'s O(tokens·k) — use for large k.
    * Collision probability per component ≈ Jaccard, same banding
    * downstream ([[Dedup.ophBands]]). Fused codegen kernel;
    * [[ophSignatureHof]] is the spec it must equal. */
  def ophSignature(whs: Column, k: Int): Column =
    TextHashExprs.ophSignature(whs, k)

  /** HOF spec form of [[ophSignature]] (differential reference).
    * Bin mins are null for empty bins; densification picks the
    * smallest rotation distance whose bin is non-null (array_min
    * skips nulls). Null-in/null-out; all-empty input (no tokens at
    * all) yields the P sentinel per component. */
  def ophSignatureHof(whs: Column, k: Int): Column = {
    val rh = transform(whs, w => rehash(w, 0))
    val binMins = transform(sequence(lit(0), lit(k - 1)),
      j => array_min(filter(rh, x => pmod(x, lit(k.toLong)) === j.cast("long"))))
    val comps = transform(sequence(lit(0), lit(k - 1)), j => {
      val d0 = array_min(transform(sequence(lit(0), lit(k - 1)), d =>
        when(element_at(binMins, (pmod(j + d, lit(k)) + 1).cast("int")).isNotNull, d)))
      coalesce(
        element_at(binMins, (pmod(j + d0, lit(k)) + 1).cast("int"))
          + d0.cast("long") * lit(P),
        lit(P))
    })
    when(whs.isNull, lit(null).cast("array<bigint>")).otherwise(comps)
  }

  /** SimHash over token hashes, low `bits` bits (default 16): per bit,
    * tokens vote ±1; the bit is set when the vote is positive. Fused
    * one-pass codegen kernel (`simhashHof` is the per-bit aggregate-HOF
    * spec it must equal — that form ran `bits` interpreted passes). */
  def simhash(whs: Column, bits: Int = 16): Column = TextHashExprs.simhash(whs, bits)

  /** HOF spec form of simhash (differential-testing reference).
    * Bit extraction via exact double floor-div (hashes < 2^30). */
  def simhashHof(whs: Column, bits: Int = 16): Column =
    (0 until bits).map { k =>
      val vote = aggregate(whs, lit(0L), (acc, w) =>
        acc + when(floor(w / pow(lit(2.0), lit(k))).cast("long") % 2 === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Hashes of the n-gram (default trigram) word shingles of `whs`;
    * empty when the text has fewer than n tokens (codegen'd fused loop;
    * `shingleHashesHof` is the spec form). */
  def shingleHashes(whs: Column, n: Int = 3): Column = TextHashExprs.shingleHashes(whs, n)

  /** HOF spec form of shingleHashes (differential-testing reference). */
  def shingleHashesHof(whs: Column, n: Int = 3): Column = {
    require(n >= 1)
    val combined: Column => Column = i =>
      (1 until n).foldLeft(element_at(whs, i + 1)) { (acc, j) =>
        (acc * 31L + element_at(whs, i + 1 + j)) % P
      }
    when(size(whs) < n, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), size(whs) - n), combined))
  }

  /** Jaccard similarity of two shingle-hash sets. NaN when both empty.
    * Codegen'd fused kernel (one set build + one probe pass;
    * `jaccardHof` is the 5-pass spec it must equal). In sessions with
    * `GraftExtensions` registered, `jaccard(a,b) >= τ` additionally
    * rewrites to the early-exit [[JaccardGteExpr]] predicate. */
  def jaccard(a: Column, b: Column): Column = TextHashExprs.jaccard(a, b)

  /** HOF spec form of jaccard (differential-testing reference). */
  def jaccardHof(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val union = size(array_distinct(concat(da, db))).cast("double")
    when(union === 0, lit(Double.NaN)).otherwise(inter / union)
  }

  /** Bottom-m sketch of a shingle-hash set: the `m` smallest distinct
    * values (ascending). The capped verification payload for signature
    * stores — a MinHash sketch of the shingle SET in the k-minimum-
    * values form (Broder 1997; Bar-Yossef et al. 2002), so a store row
    * costs O(m) instead of O(doc tokens). For docs with ≤ m shingles
    * the sketch IS the full set and [[jaccardKmv]] degenerates to the
    * exact Jaccard. */
  def bottomSketch(shingles: Column, m: Int): Column = {
    require(m >= 1, s"bottom-sketch size m=$m must be >= 1")
    slice(array_sort(array_distinct(shingles)), 1, m)
  }

  /** KMV Jaccard ESTIMATE from two [[bottomSketch]] arrays: with
    * X = the m smallest of A ∪ B, Ĵ = |X ∩ A ∩ B| / |X| — the
    * k-minimum-values estimator (std error ≈ √(J(1−J)/m), so m=64
    * gives ±0.05 at J=0.8; exact whenever |A ∪ B| ≤ m). Both inputs
    * MUST be bottom-m sketches of their sets at the SAME m (a full
    * set on one side biases the union's bottom-m). NaN when both
    * empty. HOF form only — like [[containment]], it runs on
    * CANDIDATE pairs post-blocking, never in a corpus-scan hot
    * path, so the fused-kernel escalation [[jaccard]] needed does
    * not pay for itself here.
    *
    * Validity caveat (NearDupSpec panel): the error bound assumes the
    * hash ORDER is uniform over the shingle set — true for natural
    * vocabularies under the poly-roll, but sequential synthetic token
    * names ("t1" "t2" …) roll to CLUSTERED hashes and bias the
    * bottom-m sample (the spec fixture scrambles its names for
    * exactly this reason). */
  def jaccardKmv(a: Column, b: Column, m: Int): Column = {
    require(m >= 1, s"bottom-sketch size m=$m must be >= 1")
    val x = slice(array_sort(array_distinct(concat(a, b))), 1, m)
    when(size(x) === 0, lit(Double.NaN))
      .otherwise(size(array_intersect(x, array_intersect(a, b))).cast("double")
        / size(x).cast("double"))
  }

  /** Asymmetric containment of shingle set `a` in `b`:
    * `|distinct(a) ∩ distinct(b)| / |distinct(a)|` — 1.0 when `a` is a
    * subset (a quoted/embedded passage), where Jaccard would dilute by
    * the larger document's size. NaN when `a` is empty. HOF form only:
    * containment runs on CANDIDATE pairs (post-blocking), never in a
    * corpus-scan hot path, so the fused-kernel escalation that
    * [[jaccard]] needed does not pay for itself here. */
  def containment(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    when(size(da) === 0, lit(Double.NaN))
      .otherwise(size(array_intersect(da, array_distinct(b))).cast("double") / size(da))
  }

  /** Whole-document fingerprint: char-level rolling hash with a 64-BIT
    * wrap-around space (the rolling-hash document-fingerprinting
    * operator; exact-dup detection key). NOT the mod-P [[charHash]]:
    * a whole-corpus exact-dup key in a 2^30 space false-collides at a
    * rate linear in the accepted store — the r14 ops-month rehearsal
    * measured exact dedup eating 5–11 genuinely-new docs per 24k batch
    * at just 500k stored docs, and at 10^9 docs ~63% of new content
    * would be rejected. The DuckDB twin replays the wrap with HUGEINT
    * arithmetic, so the value is still cross-engine exact. */
  def fingerprint(text: Column): Column = TextHashExprs.charHash64(text)
}
