package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd twins of the TextHash rolling-hash kernels.
  *
  * The HOF forms (`split` → `transform` → `aggregate`) are the spec and
  * stay byte-for-byte compatible with the DuckDB oracle; these
  * expressions produce IDENTICAL values in one fused loop per string
  * (interpreted HOF char-hashing dominated the documents-family bench).
  * Tokenization matches Spark `split(text, " ")`: single-space
  * separators, empty tokens (incl. trailing) preserved. Characters are
  * UTF-16 units via String.charAt — identical to the HOF `ascii()` path
  * for all BMP text (the corpus is ASCII).
  */
object TextHashLoops {
  val P = 1000000007L

  /** MinHash universal-family coefficients (aᵢ, bᵢ) of component `i`:
    * aᵢ = 2654435761·(i+1) mod P, bᵢ = 40503·(i+1)+7 mod P. The one
    * definition that the fused kernels ([[MinHashLoops]]), the HOF spec
    * (`TextHash.rehash`) and the DuckDB oracle's literal coefficients
    * all read. */
  def minhashCoef(i: Int): (Long, Long) =
    ((2654435761L * (i + 1)) % P, (40503L * (i + 1) + 7L) % P)

  def charHash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) { acc = (acc * 31L + s.charAt(i)) % P; i += 1 }
    acc
  }

  /** 64-bit document fingerprint: base-31 roll with natural Long
    * wrap-around (mod 2^64) instead of mod P. The mod-P form above is
    * the WORD/SHINGLE hash (the universal rehash family needs mod-P
    * arithmetic); a whole-DOCUMENT exact-dup key must not live in a
    * 2^30 space — at 10^9 accepted docs a mod-P fingerprint collides
    * for ~63% of new documents and exact dedup silently eats fresh
    * content (found by the r14 ops-month rehearsal at 500k docs:
    * 5–11 false rejects per 24k batch, growing with the store). */
  def charHash64(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) { acc = acc * 31L + s.charAt(i); i += 1 }
    acc
  }

  def wordHashes(s: String): Array[Long] = {
    var nTokens = 1
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') nTokens += 1; i += 1 }
    val out = new Array[Long](nTokens)
    var acc = 0L
    var t = 0
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') { out(t) = acc; t += 1; acc = 0L }
      else acc = (acc * 31L + c) % P
      i += 1
    }
    out(t) = acc
    out
  }
}

case class CharHashExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "char_hash"

  protected override def nullSafeEval(v: Any): Any =
    TextHashLoops.charHash(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.TextHashLoops.charHash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): CharHashExpr =
    copy(child = newChild)
}

case class CharHash64Expr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "char_hash64"

  protected override def nullSafeEval(v: Any): Any =
    TextHashLoops.charHash64(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.TextHashLoops.charHash64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): CharHash64Expr =
    copy(child = newChild)
}

case class WordHashesExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_hashes"

  protected override def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextHashLoops.wordHashes(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.ext.TextHashLoops.wordHashes($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): WordHashesExpr =
    copy(child = newChild)
}

object TextHashLoopsShingle {
  /** n-gram shingle hashes over a token-hash array (combined base-31 mod
    * P, same arithmetic as the HOF `TextHash.shingleHashes`). */
  def shingles(whs: org.apache.spark.sql.catalyst.util.ArrayData, n: Int): Array[Long] = {
    val len = whs.numElements()
    if (len < n) return Array.emptyLongArray
    val out = new Array[Long](len - n + 1)
    val P = TextHashLoops.P
    var i = 0
    while (i <= len - n) {
      var acc = whs.getLong(i)
      var j = 1
      while (j < n) { acc = (acc * 31L + whs.getLong(i + j)) % P; j += 1 }
      out(i) = acc
      i += 1
    }
    out
  }
}

object TextHashLoopsBand {
  /** Band-key packing multiplier (the public FNV-64 prime). Signature
    * components are < P < 2^30, so two multiply-add steps spread them
    * across the full 64-bit space with natural wrap-around. */
  val M = 1099511628211L

  /** Pack a k-component MinHash/OPH signature into `bands` 64-bit LSH
    * band keys: key_b = fold over the band's k/bands components of
    * acc = acc·M + h, seeded with the band index (so identical slices
    * in different bands never collide into one bucket). Natural Long
    * wrap-around (mod 2^64) — the DuckDB oracle replays the fold in
    * HUGEINT, the same discipline as [[TextHashLoops.charHash64]].
    *
    * A packed-key collision between UNRELATED signature slices only
    * manufactures a spurious candidate pair, which shingle-Jaccard
    * verification rejects — recall-neutral, precision untouched — so
    * 64 bits is safe by construction where the exact-dup fingerprint
    * (r14) needed the full space for correctness. vs the pre-r15
    * `"b:h1_h2"` STRING keys (~25-45 chars): measured 1.8x fewer
    * band-key bytes at rest AND 1.8x fewer candidate-stage shuffle
    * bytes (StoreMigrationDemo (d521caa) BAND-BYTES — parquet encodings and the
    * UnsafeRow envelope absorb the rest of the raw ~3-5x), plus long
    * instead of string equi-joins on every candidate stage. */
  def bandKeys64(sig: org.apache.spark.sql.catalyst.util.ArrayData, bands: Int): Array[Long] = {
    val k = sig.numElements()
    // same contract Dedup.bandsFromSig enforces — an indivisible
    // geometry would silently floor rows-per-band and key over a
    // TRUNCATED signature (trailing components never banded), quietly
    // weakening band specificity for direct callers of this kernel
    if (k % bands != 0) throw new IllegalArgumentException(
      s"bandKeys64: signature length $k not divisible by bands=$bands " +
        s"— ${k % bands} trailing component(s) would be silently dropped")
    val rpb = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong
      var i = b * rpb
      val end = i + rpb
      while (i < end) { acc = acc * M + sig.getLong(i); i += 1 }
      out(b) = acc
      b += 1
    }
    out
  }
}

case class BandKeys64Expr(child: Expression, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands >= 1)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_keys64"

  protected override def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextHashLoopsBand.bandKeys64(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bands))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.ext.TextHashLoopsBand.bandKeys64($c, $bands))")

  override protected def withNewChildInternal(newChild: Expression): BandKeys64Expr =
    copy(child = newChild)
}

case class ShingleHashesExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  protected override def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextHashLoopsShingle.shingles(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.ext.TextHashLoopsShingle.shingles($c, $n))")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** Fused Jaccard kernels over long-array columns.
  *
  * The HOF spec (`TextHash.jaccardHof`) runs array_distinct twice,
  * array_intersect, concat and a third distinct — ~5 hash-set passes and
  * as many allocations per pair. These do ONE open-addressing set build
  * over `a` plus ONE probe pass over `b` (counting new-distinct and
  * intersecting in the same step), with identical results: the division
  * is the same int-exact double division, and union=0 yields NaN.
  * Null ELEMENTS are not supported (shingle arrays are containsNull =
  * false by construction).
  */
object JaccardLoops {

  /** Minimal open-addressing long set (linear probing, power-of-2). */
  final class LongSet(expected: Int) {
    private[this] var cap = {
      var c = 8; while (c < expected * 2) c <<= 1; c
    }
    private[this] var mask = cap - 1
    private[this] var keys = new Array[Long](cap)
    private[this] var used = new Array[Boolean](cap)
    private[this] var n = 0

    def size: Int = n

    /** Adds `k`; returns true when it was not present. */
    def add(k: Long): Boolean = {
      if (n * 2 >= cap) grow()
      var i = (scramble(k) & mask).toInt
      while (used(i)) {
        if (keys(i) == k) return false
        i = (i + 1) & mask
      }
      used(i) = true; keys(i) = k; n += 1
      true
    }

    def contains(k: Long): Boolean = {
      var i = (scramble(k) & mask).toInt
      while (used(i)) {
        if (keys(i) == k) return true
        i = (i + 1) & mask
      }
      false
    }

    private def scramble(k: Long): Long = {
      // fibonacci scramble — the raw hashes are small ints
      (k * -7046029254386353131L) >>> 40
    }

    private def grow(): Unit = {
      val ok = keys; val ou = used
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); used = new Array[Boolean](cap); n = 0
      var i = 0
      while (i < ok.length) { if (ou(i)) add(ok(i)); i += 1 }
    }
  }

  import org.apache.spark.sql.catalyst.util.ArrayData

  /** |distinct(a) ∩ distinct(b)| / |distinct(a) ∪ distinct(b)|; NaN when
    * the union is empty — exactly `TextHash.jaccardHof`. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val sa = new LongSet(a.numElements())
    var i = 0
    while (i < a.numElements()) { sa.add(a.getLong(i)); i += 1 }
    val seenB = new LongSet(b.numElements())
    var inter = 0
    var onlyB = 0
    i = 0
    while (i < b.numElements()) {
      val k = b.getLong(i)
      if (seenB.add(k)) { if (sa.contains(k)) inter += 1 else onlyB += 1 }
      i += 1
    }
    val union = sa.size + onlyB
    if (union == 0) Double.NaN else inter.toDouble / union.toDouble
  }

  /** `jaccard(a, b) >= tau` under SPARK's double ordering (NaN is
    * greater than everything, so union=0 → true), with early exit: at
    * any point the final similarity is ≤ (inter + remaining)/union-so-far
    * — once that bound drops below `tau` no suffix of `b` can rescue the
    * pair. Band-collision candidates that share only a stopword minhash
    * (most of them, on same-language corpora) exit within a few probes. */
  def jaccardGte(a: ArrayData, b: ArrayData, tau: Double): Boolean = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return true // NaN >= tau in Spark's ordering
    val sa = new LongSet(na)
    var i = 0
    while (i < na) { sa.add(a.getLong(i)); i += 1 }
    val seenB = new LongSet(nb)
    var inter = 0
    var onlyB = 0
    i = 0
    while (i < nb) {
      val k = b.getLong(i)
      if (seenB.add(k)) { if (sa.contains(k)) inter += 1 else onlyB += 1 }
      i += 1
      val unionMin = sa.size + onlyB
      // the bound must use the SAME division the final check uses:
      // tau*unionMin (a multiplication) rounds differently and was
      // measured to reject pairs sitting EXACTLY at tau (e.g. tau=.28,
      // 7/25). IEEE division is correctly rounded hence monotone in
      // both operands, so finalRatio <= (inter+rem)/unionMin and the
      // early false is sound.
      if (unionMin > 0 &&
          (inter + (nb - i)).toDouble / unionMin.toDouble < tau) return false
    }
    val union = sa.size + onlyB
    if (union == 0) true else inter.toDouble / union.toDouble >= tau
  }
}

object LangScoreLoops {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  /** One pass over the token array, incrementing every profile a token
    * belongs to (a marker like "un" can sit in several languages'
    * lists) — replaces one interpreted filter-HOF pass PER profile. */
  def scores(arr: ArrayData, table: java.util.HashMap[UTF8String, Array[Int]],
             nProfiles: Int): GenericArrayData = {
    val out = new Array[Long](nProfiles)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val hit = table.get(arr.getUTF8String(i))
      if (hit != null) {
        var j = 0
        while (j < hit.length) { out(hit(j)) += 1L; j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-profile marker counts over a token array, all profiles in ONE
  * pass (profile order = the constructor's order). */
case class LangScoresExpr(child: Expression, profiles: Seq[(String, Seq[String])])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lang_scores"

  @transient private lazy val table: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    profiles.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  protected override def nullSafeEval(v: Any): Any =
    LangScoreLoops.scores(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], table, profiles.size)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("langTable", table, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.ext.LangScoreLoops.scores($c, $tableRef, ${profiles.size})")
  }

  override protected def withNewChildInternal(newChild: Expression): LangScoresExpr =
    copy(child = newChild)
}

object MinHashLoops {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  /** All k MinHash components in one pass over the token hashes —
    * replaces one interpreted transform+array_min HOF pass PER
    * component. Same universal-family arithmetic as TextHash.rehash:
    * component i = min over w of (w·aᵢ + bᵢ) mod P with the
    * coefficients of [[TextHashLoops.minhashCoef]] (see the
    * TextHash.rehash scaladoc for why small multipliers collapsed
    * banding); empty input yields P per component (the HOF's coalesce
    * sentinel). */
  // (aᵢ, bᵢ) per k, computed once per JVM instead of per row — the
  // signature loop runs once per document
  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coefs(k: Int): (Array[Long], Array[Long]) =
    coefCache.computeIfAbsent(k, k2 => Array.tabulate(k2)(TextHashLoops.minhashCoef).unzip)

  def signature(whs: ArrayData, k: Int): GenericArrayData = {
    val P = TextHashLoops.P
    val (as, bs) = coefs(k)
    val out = Array.fill(k)(P)
    val n = whs.numElements()
    var i = 0
    while (i < n) {
      val w = whs.getLong(i)
      var j = 0
      while (j < k) {
        val h = (w * as(j) + bs(j)) % P
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-permutation MinHash signature (Li/Owen/Zhang 2012) with
    * rotation densification (Shrivastava & Li 2014): ONE rehash per
    * token routed into `k` bins by `h mod k`, tracking each bin's min;
    * an empty bin then borrows the nearest non-empty bin to its RIGHT
    * (cyclically), offset by P·distance so borrowed values collide only
    * with equal-distance borrows of the same source. Cost per doc is
    * O(tokens + k) vs the classic signature's O(tokens·k) — the scale
    * path for large k. Empty input yields P per component (the classic
    * kernel's sentinel); `TextHash.ophSignatureHof` is the HOF spec
    * this must equal. */
  def ophSignature(whs: ArrayData, k: Int): GenericArrayData = {
    val P = TextHashLoops.P
    val (as, bs) = coefs(1)
    val a0 = as(0); val b0 = bs(0)
    val mins = Array.fill(k)(Long.MaxValue)
    val n = whs.numElements()
    var i = 0
    while (i < n) {
      val h = (whs.getLong(i) * a0 + b0) % P
      val bin = (h % k).toInt
      if (h < mins(bin)) mins(bin) = h
      i += 1
    }
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      if (mins(j) != Long.MaxValue) out(j) = mins(j)
      else {
        // nearest non-empty bin to the right, cyclically
        var d = 1
        while (d < k && mins((j + d) % k) == Long.MaxValue) d += 1
        out(j) = if (d == k) P else mins((j + d) % k) + P.toLong * d
      }
      j += 1
    }
    new GenericArrayData(out)
  }
}

case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  protected override def nullSafeEval(v: Any): Any =
    MinHashLoops.signature(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.MinHashLoops.signature($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** One-permutation densified MinHash signature — see
  * [[MinHashLoops.ophSignature]]. */
case class OphSigExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "oph_signature"

  protected override def nullSafeEval(v: Any): Any =
    MinHashLoops.ophSignature(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.MinHashLoops.ophSignature($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): OphSigExpr =
    copy(child = newChild)
}

object SimHashLoops {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** All `bits` SimHash bit votes in one pass over the token hashes —
    * replaces one interpreted aggregate-HOF pass PER BIT. Bit test is
    * integer shift-and, identical to the HOF's exact double floor-div
    * for the < 2^30 hash values the kernels produce. */
  def simhash(whs: ArrayData, bits: Int): Long = {
    val votes = new Array[Long](bits)
    val n = whs.numElements()
    var i = 0
    while (i < n) {
      val w = whs.getLong(i)
      var k = 0
      while (k < bits) {
        votes(k) += (if (((w >> k) & 1L) == 1L) 1L else -1L)
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < bits) { if (votes(k) > 0) out |= (1L << k); k += 1 }
    out
  }
}

case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 62)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  protected override def nullSafeEval(v: Any): Any =
    SimHashLoops.simhash(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.SimHashLoops.simhash($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

object TopCountLoops {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Max multiplicity of any element in a string array (0 when empty) —
    * the mode count, per row in one pass. The per-doc loop (tokens are
    * bounded per document) replaces an explode → groupBy(doc, token) →
    * groupBy(doc) → join plan: mode-per-row is map-side work, not a
    * corpus-wide shuffle. Exact over the token STRINGS (a hash-valued
    * variant would need a collision argument the cross-engine oracle
    * can't make). */
  def topStringCount(arr: ArrayData): Int = {
    val n = arr.numElements()
    if (n == 0) return 0
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      // null elements skip — representation-independent (an unsafe row
      // reads a null slot as "", a generic one as a null key; counting
      // either would make the mode depend on the physical layout)
      if (arr.isNullAt(i)) { i += 1 }
      else {
      val k = arr.getUTF8String(i)
      val c = counts.merge(k, 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
      }
    }
    best
  }
}

case class TopCountExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "top_token_count"

  protected override def nullSafeEval(v: Any): Any =
    TopCountLoops.topStringCount(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.TopCountLoops.topStringCount($c)")

  override protected def withNewChildInternal(newChild: Expression): TopCountExpr =
    copy(child = newChild)
}

object TermFreqLoops {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** All (term, tf) pairs in ONE LinkedHashMap pass over the token
    * array — replaces `transform(array_distinct(toks), t =>
    * filter(toks, eq t))`, which is O(distinct·len) per document and
    * quadratic on long documents (a 10⁴-token page costs 10⁸
    * comparisons; this loop costs 10⁴ hash probes). Output order is
    * first-occurrence, identical to `array_distinct`. Exact HOF
    * parity includes the null-token edge: a null element appears once
    * at its first position with tf 0 (`w === null` is never true in
    * the HOF filter) — whitespace/BPE tokenizers never produce nulls,
    * but the twins must not diverge on any input (the
    * CenteredDosagesExpr lesson). */
  def freqs(toks: ArrayData): GenericArrayData = {
    val n = toks.numElements()
    // java.lang.Long: a scala.Long value type would unbox a missing
    // key's null to 0 and make the `prev == null` guard dead (correct
    // only by coincidence)
    val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long](Math.max(16, n * 2))
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) {
        if (!m.containsKey(null)) m.put(null, 0L)
      } else {
        val t = toks.getUTF8String(i)
        val prev = m.get(t)
        m.put(t, if (prev == null) 1L else prev.longValue() + 1L)
      }
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue)): InternalRow
      j += 1
    }
    new GenericArrayData(out)
  }
}

object NgramRepLoops {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Per-row n-gram repetition cells in ONE pass — the fused kernel
    * behind [[graft.ext.TextAnalysis.repetitionSignals]]. Returns
    * (top_cnt, top_chars, dup_chars):
    *
    *   top_cnt   = max occurrence count over the row's word n-grams
    *   top_chars = max of count × numChars(gram) over grams tied at
    *               top_cnt (order-independent tie rule)
    *   dup_chars = Σ over grams occurring ≥ 2× of count × numChars
    *
    * Exact parity with the HOF spec (`repetitionSignalsHof`) on every
    * NON-NULL token array: grams are the concat_ws(" ", slice(toks,
    * i+1, n)) strings — null elements SKIPPED by concat_ws, windows
    * shorter than n never emitted, n = 1 degenerates to the tokens
    * themselves with termFreqs' null handling (a null token counts
    * nothing). A null INPUT array is the one divergence: the kernel
    * null-propagates (nullSafeEval → null struct) while the HOF's
    * `when(size(toks) >= n, …).otherwise(array())` lands in the
    * otherwise branch (size(null) is null) and yields all-zero cells —
    * immaterial in practice because `repetitionUnits` tokenizes with
    * a total function, but stated so the parity claim is honest. The
    * differential specs therefore compare on non-null inputs. The HOF
    * chain walks the token array once per gram width with five
    * interpreted lambda layers; this loop builds each gram's bytes
    * once and counts into one hash map. */
  def stats(toks: ArrayData, n: Int): GenericInternalRow = {
    val len = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, java.lang.Long]()
    if (n == 1) {
      var i = 0
      while (i < len) {
        if (!toks.isNullAt(i)) {
          val t = toks.getUTF8String(i)
          val prev = counts.get(t)
          counts.put(t, if (prev == null) 1L else prev.longValue() + 1L)
        }
        i += 1
      }
    } else if (len >= n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= len - n) {
        sb.setLength(0)
        var j = i
        var first = true
        while (j < i + n) {
          if (!toks.isNullAt(j)) {
            if (!first) sb.append(' ')
            sb.append(toks.getUTF8String(j).toString)
            first = false
          }
          j += 1
        }
        val g = UTF8String.fromString(sb.toString)
        val prev = counts.get(g)
        counts.put(g, if (prev == null) 1L else prev.longValue() + 1L)
        i += 1
      }
    }
    var top = 0L
    var topChars = 0L
    var dup = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.longValue()
      val mass = c * e.getKey.numChars()
      if (c > top) { top = c; topChars = mass }
      else if (c == top && mass > topChars) topChars = mass
      if (c >= 2L) dup += mass
    }
    new GenericInternalRow(Array[Any](top, topChars, dup))
  }
}

/** Fused per-row n-gram repetition cells — see [[NgramRepLoops.stats]]. */
case class NgramRepExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n=$n must be >= 1")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("top_cnt", LongType, nullable = false),
    StructField("top_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))
  override def prettyName: String = "ngram_rep"

  protected override def nullSafeEval(v: Any): Any =
    NgramRepLoops.stats(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.NgramRepLoops.stats($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): NgramRepExpr =
    copy(child = newChild)
}

case class TermFreqsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = true),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "term_freqs"

  protected override def nullSafeEval(v: Any): Any =
    TermFreqLoops.freqs(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.TermFreqLoops.freqs($c)")

  override protected def withNewChildInternal(newChild: Expression): TermFreqsExpr =
    copy(child = newChild)
}

case class JaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    JaccardLoops.jaccard(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ext.JaccardLoops.jaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardExpr =
    copy(left = newLeft, right = newRight)
}

/** `jaccard(l, r) >= tau` fused with early exit — produced by the
  * [[graft.plans.JaccardPredicateRule]] optimizer rewrite (registered
  * through `GraftExtensions`), never written directly by users. */
case class JaccardGteExpr(left: Expression, right: Expression, tau: Double)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "jaccard_gte"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    JaccardLoops.jaccardGte(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], tau)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // bit-pattern literal: a raw interpolation renders +/-Infinity as
    // `Infinity` — not a Java literal — and the Janino failure silently
    // degrades the whole stage to interpreted eval (the MaskGt lesson)
    val tauLit = s"Double.longBitsToDouble(${java.lang.Double.doubleToLongBits(tau)}L)"
    defineCodeGen(ctx, ev, (a, b) => s"graft.ext.JaccardLoops.jaccardGte($a, $b, $tauLit)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardGteExpr =
    copy(left = newLeft, right = newRight)
}

object TextHashExprs {
  def charHash(c: Column): Column = bridge.column(CharHashExpr(bridge.expression(c)))
  def charHash64(c: Column): Column = bridge.column(CharHash64Expr(bridge.expression(c)))
  def wordHashes(c: Column): Column = bridge.column(WordHashesExpr(bridge.expression(c)))
  def shingleHashes(c: Column, n: Int): Column =
    bridge.column(ShingleHashesExpr(bridge.expression(c), n))
  def bandKeys64(sig: Column, bands: Int): Column =
    bridge.column(BandKeys64Expr(bridge.expression(sig), bands))
  def jaccard(a: Column, b: Column): Column =
    bridge.column(JaccardExpr(bridge.expression(a), bridge.expression(b)))
  def topTokenCount(toks: Column): Column =
    bridge.column(TopCountExpr(bridge.expression(toks)))
  def langScores(toks: Column, profiles: Seq[(String, Seq[String])]): Column =
    bridge.column(LangScoresExpr(bridge.expression(toks), profiles))
  def simhash(whs: Column, bits: Int): Column =
    bridge.column(SimHashExpr(bridge.expression(whs), bits))
  def minhashSignature(whs: Column, k: Int): Column =
    bridge.column(MinHashSigExpr(bridge.expression(whs), k))
  def ophSignature(whs: Column, k: Int): Column =
    bridge.column(OphSigExpr(bridge.expression(whs), k))
  def termFreqs(toks: Column): Column =
    bridge.column(TermFreqsExpr(bridge.expression(toks)))
  def ngramRepStats(toks: Column, n: Int): Column =
    bridge.column(NgramRepExpr(bridge.expression(toks), n))
}
