package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.{Dedup, Similarity, TextAnalysis, TextHash, TextHashLoops}
import graft.core.Checkpoints.scratchDir

/** One declared query: Spark builder + (optional) DuckDB oracle SQL.
  *
  * Determinism contract (SURVEY.md §2.6 / FIXTURES.md §B.3):
  *   - every query ends in a total-order ORDER BY covering ALL output
  *     columns (the generator's (l_orderkey, l_linenumber) is NOT unique,
  *     verified at all sf — tied rows must be identical rows);
  *   - float aggregates: exact-decimal sums (2-dec money → DECIMAL(18,2),
  *     4/6-dec products → DECIMAL(18,4/6)) cast back to DOUBLE, or
  *     ROUND(x,4) where the true value is provably far from a rounding
  *     boundary; both engines then produce bit-identical doubles;
  *   - timestamps are never emitted raw (parquet ns vs µs): always
  *     date_trunc + format to 'yyyy-MM-dd HH:mm:ss' strings;
  *   - explicit NULLS FIRST on every nullable sort key (Spark default is
  *     NULLS FIRST, DuckDB's is NULLS LAST);
  *   - counts/ints cast to BIGINT on both engines.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize events.ts across the testdata generations the driver has
    * shipped: TIMESTAMP(NANOS) (which Spark rejects —
    * [PARQUET_TYPE_ILLEGAL] — so it is read as a long under
    * `nanosAsLong` and truncated ns→µs with exact integer division;
    * double division would lose sub-µs bits at 2024-epoch magnitudes),
    * plain µs TIMESTAMP, and isAdjustedToUTC=false µs (TIMESTAMP_NTZ;
    * the session timezone is pinned to UTC, so the NTZ→LTZ cast is a
    * byte-exact reinterpretation). DuckDB reads the file natively — all
    * declared queries only compare/emit at ≥second granularity or
    * strict inequalities, where sub-µs differences are immaterial. */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // Probe-read first: `nanosAsLong` is mutated ONLY when the file is
    // genuinely TIMESTAMP(NANOS) (schema inference throws
    // PARQUET_TYPE_ILLEGAL without it). Once set it must STAY set for
    // the returned frame's lifetime — the parquet scan consults the
    // session conf again at action time, so a restore-after-read would
    // break execution; scoping to nanos files keeps every other
    // session's parquet reads untouched.
    // matches both the 4.x error class and the older releases' plain
    // message ("Illegal Parquet type") so the fallback survives version
    // drift in the error-class spelling
    def isNanosReject(t: Throwable): Boolean = t != null &&
      ((t.getMessage != null &&
        (t.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
          t.getMessage.contains("Illegal Parquet type"))) ||
        isNanosReject(t.getCause))
    val raw =
      try spark.read.parquet(path)
      catch {
        case e: Exception if isNanosReject(e) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.parquet(path)
      }
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // NTZ→LTZ is a byte-exact reinterpretation ONLY under UTC; a
        // non-UTC session would silently shift every event, so refuse.
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "Queries.events requires spark.sql.session.timeZone=UTC to " +
            "reinterpret TIMESTAMP_NTZ event times without shifting them")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Deterministic synthetic genotype matrix for the genetics-kernel
    * oracle rows (the driver testdata has no variants table, so both
    * engines DERIVE the same gt arrays from `orders` with identical
    * integer arithmetic): 100 variants (vid = the 100 lowest orderkeys),
    * 12 diploid samples; sample s of variant v hashes to
    * hs = (vid*7919 + s*104729) mod 1000 — missing ([-1,-1]) when
    * hs < 150, else alleles (hs mod 2, (hs div 3) mod 2). The Spark side
    * then runs the REAL kernels (GtStatsExpr / GenotypeKernels / MaskGt)
    * over the arrays; the DuckDB twin recomputes the statistics from
    * first principles — so a hash match is a cross-engine proof of the
    * genetics kernels themselves, same as the text-kernel oracles. */
  private def gtTable(s: SparkSession, d: String): DataFrame = {
    val nS = 12
    t(s, d, "orders").select(col("o_orderkey").as("vid"))
      .orderBy(col("vid")).limit(100)
      .withColumn("gt", transform(sequence(lit(0), lit(nS - 1)), sIdx => {
        val hs = pmod(col("vid") * 7919L + sIdx * 104729L, lit(1000L))
        when(hs < 150, array(lit(-1), lit(-1)))
          .otherwise(array(
            pmod(hs, lit(2L)).cast("int"),
            pmod(floor(hs / lit(3L)).cast("long"), lit(2L)).cast("int")))
      }))
      .withColumn("alt", array(lit("A"))) // biallelic: nAlleles = 2
  }

  /** DuckDB twin of [[gtTable]]'s gt construction (shared by the three
    * genetics oracle queries). */
  private val duckGt =
    """SELECT vid, list_transform(range(0,12), s ->
      |  CASE WHEN (vid*7919 + s*104729) % 1000 < 150 THEN [-1,-1]
      |       ELSE [CAST((vid*7919 + s*104729) % 1000 % 2 AS INT),
      |             CAST(((vid*7919 + s*104729) % 1000 // 3) % 2 AS INT)] END) AS gt
      |FROM (SELECT o_orderkey AS vid FROM orders ORDER BY vid LIMIT 100)""".stripMargin

  /** `cnt(vid, a0, a1, b0, b1)`: per-variant allele-0/1 counts of the
    * two 6-sample populations of `g` (samples 0-5 → a, 6-11 → b). */
  private val duckPopCounts =
    """cnt AS (SELECT vid,
      |  len(list_filter(flatten(gt[1:6]),  a -> a = 0)) AS a0,
      |  len(list_filter(flatten(gt[1:6]),  a -> a = 1)) AS a1,
      |  len(list_filter(flatten(gt[7:12]), a -> a = 0)) AS b0,
      |  len(list_filter(flatten(gt[7:12]), a -> a = 1)) AS b1
      |  FROM g)"""
  /** `fin(vid, num, den)` over [[duckPopCounts]]: Hudson F_ST numerator
    * and denominator per variant (Stats.fstHudson), NULL unless both
    * populations have ≥ 2 called alleles. */
  private val duckHudsonTerms =
    """fr AS (SELECT vid, a0+a1 AS na, b0+b1 AS nb,
      |  a1*1.0/(a0+a1) AS pa, b1*1.0/(b0+b1) AS pb FROM cnt),
      |fin AS (SELECT vid,
      |  CASE WHEN na > 1 AND nb > 1 THEN
      |    (pa-pb)*(pa-pb) - pa*(1.0-pa)/(na-1) - pb*(1.0-pb)/(nb-1) END AS num,
      |  CASE WHEN na > 1 AND nb > 1 THEN
      |    pa*(1.0-pb) + pb*(1.0-pa) END AS den
      |  FROM fr)"""

  /** `dt`: the OLS D-terms dxx, dxy, dyy over the n/sx/sxx/sy/syy/sxy
    * sums of `cells`, carrying `keys` through (q_gt_linreg,
    * q_gt_burden_test). */
  private def duckOlsTerms(keys: String): String =
    s"""dt AS (SELECT $keys, n, sx, sxx, sy, syy, sxy,
      |  CAST(n*sxx - sx*sx AS DOUBLE) AS dxx,
      |  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
      |    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS dxy,
      |  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
      |    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS dyy
      |  FROM cells)"""

  /** `dos(vid, d)`: per-variant dosage list of `g`, -1 for a missing
    * call. */
  private val duckDosages =
    """dos AS (SELECT vid, list_transform(gt, x ->
      |  CASE WHEN list_contains(x, -1) THEN -1 ELSE x[1] + x[2] END) AS d FROM g)"""
  /** `ex(vid, si, d)`: per-sample dosages (0 for a missing call) of the
    * rare variants of `g` — MAF > 0 and ≤ 0.25 (Assoc.burdenMatrix's
    * mafMaxE4 = 2500) — through `cc` and `rare`. */
  private val duckRareDosages =
    """cc AS (SELECT vid,
      |  len(list_filter(flatten(gt), x -> x = 0)) AS c0,
      |  len(list_filter(flatten(gt), x -> x = 1)) AS c1 FROM g),
      |rare AS (SELECT vid FROM cc WHERE c0+c1 > 0
      |  AND least(c0, c1) > 0
      |  AND least(c0, c1)*10000 <= 2500*(c0+c1)),
      |ex AS (SELECT g.vid, s.i AS si,
      |  CASE WHEN list_contains(gt[CAST(s.i+1 AS INT)], -1) THEN 0
      |    ELSE gt[CAST(s.i+1 AS INT)][1] + gt[CAST(s.i+1 AS INT)][2]
      |    END AS d
      |  FROM g JOIN rare USING (vid), range(0, 12) s(i))"""
  /** Pairwise IBS over [[duckGt]] (Stats.ibsPairs and Stats.ibsGramian,
    * which compute the same statistic): integer num/den sums per sample
    * pair and the e4 ratio. */
  private val duckIbs =
    s"""WITH g AS ($duckGt),
      |$duckDosages,
      |pr AS (SELECT vid, d, r1.i AS si, r2.j AS sj
      |  FROM dos, range(0, 12) r1(i), range(0, 12) r2(j) WHERE r2.j > r1.i),
      |terms AS (SELECT si, sj,
      |  CASE WHEN d[CAST(si+1 AS INT)] >= 0 AND d[CAST(sj+1 AS INT)] >= 0
      |    THEN 2 - abs(d[CAST(si+1 AS INT)] - d[CAST(sj+1 AS INT)]) ELSE 0 END AS num,
      |  CASE WHEN d[CAST(si+1 AS INT)] >= 0 AND d[CAST(sj+1 AS INT)] >= 0
      |    THEN 2 ELSE 0 END AS den
      |  FROM pr)
      |SELECT CAST(si AS BIGINT) AS si, CAST(sj AS BIGINT) AS sj,
      |CAST(sum(num) AS BIGINT) AS ibs_num, CAST(sum(den) AS BIGINT) AS ibs_den,
      |CASE WHEN CAST(sum(den) AS BIGINT) = 0 THEN NULL
      |  ELSE CAST(floor(CAST(sum(num) AS BIGINT)*1.0/CAST(sum(den) AS BIGINT)
      |    *10000.0 + 0.5) AS BIGINT) END AS ibs_e4
      |FROM terms GROUP BY si, sj ORDER BY si, sj""".stripMargin

  /** Second-callset twin of [[gtTable]] (the "re-call": different vid
    * mix constant → genuine per-sample discordance and one-sided
    * missingness) covering only the first 80 variants — the inner-join
    * scope of the concordance query is then a real subset. */
  private def gtTableB(s: SparkSession, d: String): DataFrame = {
    val nS = 12
    t(s, d, "orders").select(col("o_orderkey").as("vid"))
      .orderBy(col("vid")).limit(80)
      .withColumn("gt", transform(sequence(lit(0), lit(nS - 1)), sIdx => {
        val hs = pmod(col("vid") * 6151L + sIdx * 104729L, lit(1000L))
        when(hs < 150, array(lit(-1), lit(-1)))
          .otherwise(array(
            pmod(hs, lit(2L)).cast("int"),
            pmod(floor(hs / lit(3L)).cast("long"), lit(2L)).cast("int")))
      }))
  }

  /** DuckDB twin of [[gtTableB]]. */
  private val duckGtB =
    """SELECT vid, list_transform(range(0,12), s ->
      |  CASE WHEN (vid*6151 + s*104729) % 1000 < 150 THEN [-1,-1]
      |       ELSE [CAST((vid*6151 + s*104729) % 1000 % 2 AS INT),
      |             CAST(((vid*6151 + s*104729) % 1000 // 3) % 2 AS INT)] END) AS gt
      |FROM (SELECT o_orderkey AS vid FROM orders ORDER BY vid LIMIT 80)""".stripMargin

  /** Fully-called twin of [[gtTable]] for the complete-sites pop-gen
    * queries (Tajima's D, windowed π): [[gtTable]]'s deterministic
    * missingness TILES the mod-1000 ring (12 exclusion windows of width
    * 150, max offset gap 103 < 150), so no site is ever complete —
    * these statistics need a cohort where the complete-sites contract
    * actually bites on every site. */
  private def fullGtTable(s: SparkSession, d: String): DataFrame = {
    val nS = 12
    t(s, d, "orders").select(col("o_orderkey").as("vid"))
      .orderBy(col("vid")).limit(100)
      .withColumn("gt", transform(sequence(lit(0), lit(nS - 1)), sIdx => {
        val hs = pmod(col("vid") * 7919L + sIdx * 104729L, lit(1000L))
        array(
          pmod(hs, lit(2L)).cast("int"),
          pmod(floor(hs / lit(3L)).cast("long"), lit(2L)).cast("int"))
      }))
  }

  /** DuckDB twin of [[fullGtTable]]. */
  private val duckFullGt =
    """SELECT vid, list_transform(range(0,12), s ->
      |  [CAST((vid*7919 + s*104729) % 1000 % 2 AS INT),
      |   CAST(((vid*7919 + s*104729) % 1000 // 3) % 2 AS INT)]) AS gt
      |FROM (SELECT o_orderkey AS vid FROM orders ORDER BY vid LIMIT 100)""".stripMargin

  /** LD-query twin of [[gtTable]]: 48 samples and a QUADRATIC vid mix
    * (vid²·7919) — [[gtTable]]'s linear mix makes neighboring variants
    * constant-shift transforms of each other (near-universal perfect
    * LD), and 12 samples of a 3-level dosage exceed r² = 0.5 by chance
    * alone; 48 quadratic-mixed samples give the prune threshold a real
    * 60/40 split to discriminate on. */
  private def ldGtTable(s: SparkSession, d: String): DataFrame = {
    val nS = 48
    t(s, d, "orders").select(col("o_orderkey").as("vid"))
      .orderBy(col("vid")).limit(100)
      .withColumn("gt", transform(sequence(lit(0), lit(nS - 1)), sIdx => {
        val hs = pmod(col("vid") * col("vid") * 7919L + sIdx * 104729L, lit(1000L))
        when(hs < 150, array(lit(-1), lit(-1)))
          .otherwise(array(
            pmod(hs, lit(2L)).cast("int"),
            pmod(floor(hs / lit(3L)).cast("long"), lit(2L)).cast("int")))
      }))
  }

  /** DuckDB twin of [[ldGtTable]] (dosage form — the LD oracle only
    * needs dosages) + the six pairwise integer sums over banded variant
    * pairs; shared by q_gt_ld and q_gt_ld_prune. Yields CTEs
    * `dos(vid, d)`, `pr`, `t(pos_a, pos_b, n, sx, sy, sxy, sxx, syy)`. */
  private val duckLdSums: String = {
    def sum(term: String, name: String) =
      s"""CAST(list_sum(list_transform(range(1,49), i ->
         |    CASE WHEN da[i]>=0 AND db[i]>=0 THEN $term ELSE 0 END)) AS BIGINT) AS $name""".stripMargin
    s"""dos AS (SELECT vid, list_transform(range(0,48), s ->
       |  CASE WHEN (vid*vid*7919 + s*104729) % 1000 < 150 THEN -1
       |       ELSE ((vid*vid*7919 + s*104729) % 1000) % 2
       |          + (((vid*vid*7919 + s*104729) % 1000) // 3) % 2 END) AS d
       |  FROM (SELECT o_orderkey AS vid FROM orders ORDER BY vid LIMIT 100)),
       |pr AS (SELECT a.vid AS pos_a, b.vid AS pos_b, a.d AS da, b.d AS db
       |  FROM dos a JOIN dos b ON b.vid > a.vid AND b.vid - a.vid <= 5),
       |t AS (SELECT pos_a, pos_b,
       |  ${sum("1", "n")},
       |  ${sum("da[i]", "sx")},
       |  ${sum("db[i]", "sy")},
       |  ${sum("da[i]*db[i]", "sxy")},
       |  ${sum("da[i]*da[i]", "sxx")},
       |  ${sum("db[i]*db[i]", "syy")}
       |  FROM pr)""".stripMargin
  }

  /** DuckDB twin of Funnel.funnelTimes(view→click→purchase, 24 h
    * deadline) — CTEs `u, s1, s2, s3(user_id, t1, t2, t3)`; shared by
    * q_funnel and q_funnel_conv. Chained CTEs keep each stage's greedy
    * pick single-nested (DuckDB lateral column aliases can't reference
    * a list_filter result inside another lambda). */
  private val duckFunnel: String =
    """u AS (SELECT user_id,
      |  list_sort(list(ts) FILTER (WHERE event_type = 'view')) AS l1,
      |  list_sort(list(ts) FILTER (WHERE event_type = 'click')) AS l2,
      |  list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS l3
      |  FROM events GROUP BY user_id),
      |s1 AS (SELECT user_id, l2, l3, l1[1] AS t1 FROM u),
      |s2 AS (SELECT user_id, l3, t1, list_filter(l2,
      |  x -> x > t1 AND x <= t1 + INTERVAL 86400 SECOND)[1] AS t2 FROM s1),
      |s3 AS (SELECT user_id, t1, t2, list_filter(l3,
      |  x -> x > t2 AND x <= t2 + INTERVAL 86400 SECOND)[1] AS t3 FROM s2)""".stripMargin

  /** Exact money sum: 2-decimal doubles → DECIMAL(18,2) → exact sum → DOUBLE. */
  private def moneySum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact sum of a product that is a true k-decimal value. */
  private def decSum(c: Column, scale: Int): Column = sum(c.cast(DecimalType(18, scale))).cast("double")

  private def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** `edges`/`nodes` CTE prefix of the q_pagerank edge construction,
    * shared by [[pageRankSql]], [[pprSql]] and [[hitsSql]]; ends with
    * a comma and newline, ready for the next CTE. */
  private val duckGraphCtes =
    """WITH edges AS (SELECT DISTINCT l_orderkey % 500 AS src,
      |  l_partkey % 500 AS dst FROM lineitem),
      |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |""".stripMargin

  /** DuckDB twin of [[graft.ext.Graph.pageRank]] over the q_pagerank
    * edge construction: the fixed iteration count lets the integer
    * recurrence unroll into chained (non-recursive) CTEs — one
    * dangling-pool scalar, one contribution sum, and one rank rebuild
    * per iteration, all floor-division arithmetic (`//` here ≡ Spark's
    * `div` on non-negatives). */
  private def pageRankSql(iters: Int): String = {
    val sb = new StringBuilder(
      duckGraphCtes + """deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rk FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      val p = s"r${i - 1}"
      sb ++= s""",
        |dang$i AS (SELECT coalesce(sum(rk), 0) AS dm FROM $p
        |  LEFT JOIN deg ON node = src WHERE d IS NULL),
        |in$i AS (SELECT dst, sum(c) AS m FROM
        |  (SELECT node, rk // d AS c FROM $p JOIN deg ON node = src) t
        |  JOIN edges ON t.node = edges.src GROUP BY dst),
        |r$i AS (SELECT node,
        |  CAST(150000000 + ((coalesce(m, 0) + dm // n) * 85) // 100 AS BIGINT) AS rk
        |  FROM $p LEFT JOIN in$i ON node = dst, dang$i, nn)""".stripMargin
    }
    sb ++= s"\nSELECT CAST(node AS BIGINT) AS node, rk FROM r$iters ORDER BY node"
    sb.toString
  }

  /** DuckDB twin of [[graft.ext.Graph.personalizedPageRank]] over the
    * q_pagerank edge construction — [[pageRankSql]] with teleport and
    * dangling mass restricted to the seed set. */
  private def pprSql(iters: Int, seeds: Seq[Long]): String = {
    val inSeeds = s"node IN (${seeds.mkString(", ")})"
    val sb = new StringBuilder(
      duckGraphCtes + """deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        |r0 AS (SELECT node, CAST(CASE WHEN """.stripMargin +
        inSeeds + """ THEN 1000000000 ELSE 0 END AS BIGINT) AS rk FROM nodes)""")
    for (i <- 1 to iters) {
      val p = s"r${i - 1}"
      sb ++= s""",
        |dang$i AS (SELECT coalesce(sum(rk), 0) AS dm FROM $p
        |  LEFT JOIN deg ON node = src WHERE d IS NULL),
        |in$i AS (SELECT dst, sum(c) AS m FROM
        |  (SELECT node, rk // d AS c FROM $p JOIN deg ON node = src) t
        |  JOIN edges ON t.node = edges.src GROUP BY dst),
        |r$i AS (SELECT node,
        |  CAST(CASE WHEN $inSeeds THEN 150000000 ELSE 0 END
        |    + ((coalesce(m, 0) + CASE WHEN $inSeeds
        |        THEN dm // ${seeds.size} ELSE 0 END) * 85) // 100
        |    AS BIGINT) AS rk
        |  FROM $p LEFT JOIN in$i ON node = dst, dang$i)""".stripMargin
    }
    sb ++= s"\nSELECT CAST(node AS BIGINT) AS node, rk FROM r$iters ORDER BY node"
    sb.toString
  }

  /** DuckDB twin of [[graft.ext.Graph.kCore]] over the q_triangles-
    * style undirected projection (mod 500, unfiltered — dense enough
    * for a k=10 core at every sf): fixed peel rounds unrolled. */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder(
      """WITH e0 AS (SELECT DISTINCT l_orderkey % 500 AS src,
        |  l_partkey % 500 AS dst FROM lineitem),
        |p0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |d0 AS (SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM p0 UNION ALL SELECT b FROM p0)
        |  GROUP BY node)""".stripMargin)
    for (i <- 1 to rounds) {
      val (pp, pd) = (s"p${i - 1}", s"d${i - 1}")
      sb ++= s""",
        |k$i AS (SELECT node FROM $pd WHERE deg >= $k),
        |p$i AS (SELECT $pp.a, $pp.b FROM $pp
        |  JOIN k$i x ON $pp.a = x.node JOIN k$i y ON $pp.b = y.node),
        |d$i AS (SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM p$i UNION ALL SELECT b FROM p$i)
        |  GROUP BY node)""".stripMargin
    }
    sb ++= s"""\nSELECT CAST(node AS BIGINT) AS node,
      |CAST(deg AS BIGINT) AS deg FROM d$rounds
      |ORDER BY node""".stripMargin
    sb.toString
  }

  /** DuckDB twin of [[graft.ext.Graph.labelPropagation]] over the
    * q_pagerank edge construction: fixed rounds unrolled, the
    * deterministic (count desc, label asc) argmax replayed with a
    * row_number window per round. */
  private def labelPropSql(rounds: Int): String = {
    val sb = new StringBuilder(
      """WITH e0 AS (SELECT DISTINCT l_orderkey % 500 AS a,
        |  l_partkey % 500 AS b FROM lineitem
        |  WHERE l_orderkey % 500 <> l_partkey % 500),
        |adj AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |nodes AS (SELECT DISTINCT a AS node FROM adj),
        |l0 AS (SELECT node, node AS lbl FROM nodes)""".stripMargin)
    for (i <- 1 to rounds) {
      sb ++= s""",
        |v$i AS (SELECT adj.a, l.lbl, count(*) AS c FROM adj
        |  JOIN l${i - 1} l ON adj.b = l.node GROUP BY 1, 2),
        |w$i AS (SELECT a, lbl FROM (SELECT a, lbl,
        |  row_number() OVER (PARTITION BY a ORDER BY c DESC, lbl) AS rn
        |  FROM v$i) WHERE rn = 1),
        |l$i AS (SELECT node, coalesce(w$i.lbl, node) AS lbl
        |  FROM nodes LEFT JOIN w$i ON node = w$i.a)""".stripMargin
    }
    sb ++= s"""\nSELECT CAST(node AS BIGINT) AS node,
      |CAST(lbl AS BIGINT) AS lbl FROM l$rounds ORDER BY node""".stripMargin
    sb.toString
  }

  /** DuckDB twin of [[graft.ext.Graph.hits]] over the q_hits edge
    * construction — the [[pageRankSql]] unrolling applied to the
    * hub/authority mutual recursion with integer max-norm rescales. */
  private def hitsSql(iters: Int): String = {
    val sb = new StringBuilder(
      duckGraphCtes + """s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub,
        |  CAST(1000000 AS BIGINT) AS auth FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      val p = s"s${i - 1}"
      sb ++= s""",
        |ar$i AS (SELECT dst, sum(hub) AS a FROM $p
        |  JOIN edges ON node = src GROUP BY dst),
        |am$i AS (SELECT coalesce(max(a), 1) AS m FROM ar$i),
        |sa$i AS (SELECT node, hub, coalesce(a, 0) * 1000000 // m AS auth
        |  FROM $p LEFT JOIN ar$i ON node = dst, am$i),
        |hr$i AS (SELECT src, sum(auth) AS h FROM sa$i
        |  JOIN edges ON node = dst GROUP BY src),
        |hm$i AS (SELECT coalesce(max(h), 1) AS m FROM hr$i),
        |s$i AS (SELECT node, coalesce(h, 0) * 1000000 // m AS hub, auth
        |  FROM sa$i LEFT JOIN hr$i ON node = src, hm$i)""".stripMargin
    }
    sb ++= s"""\nSELECT CAST(node AS BIGINT) AS node, CAST(hub AS BIGINT) AS hub,
      |CAST(auth AS BIGINT) AS auth FROM s$iters ORDER BY node""".stripMargin
    sb.toString
  }

  /** Rounding-stable 4-decimal quantization of a double: explicit
    * floor(x·1e4 + 0.5) instead of engine-native round() — Spark rounds
    * doubles through decimal HALF_UP while DuckDB rounds in binary FP,
    * so round(x,4) flips on midpoint-representable values; floor and
    * multiply are IEEE-identical given identical input doubles. */
  private def e4(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)).cast("long")

  /** e6 twin of [[e4]] for probability-scale outputs. */
  private def e6d(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)).cast("long")

  // shared inputs for the set-operation queries (defined before `all` —
  // the oracle strings interpolate them at initialization time):
  // A = orderkeys of 'F'-status orders, B = orderkeys with any quantity>49 line
  private def setOpInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val a = t(s, d, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("okey")).distinct()
    val b = t(s, d, "lineitem").filter(col("l_quantity") > 49)
      .select(col("l_orderkey").as("okey")).distinct()
    (a, b)
  }
  private val setA = "SELECT DISTINCT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'F'"
  private val setB = "SELECT DISTINCT l_orderkey AS okey FROM lineitem WHERE l_quantity > 49"

  // ── DuckDB twins of the graft.ext.TextHash kernels (SNIPPETS: none —
  // authored against duckdb 1.0 list/lambda docs). The Scala kernels and
  // these strings implement the SAME arithmetic (31-roll mod 1e9+7 etc.);
  // q_fingerprint/q_minhash_sig/... hash-matching IS the proof they agree.
  private val duckP = TextHashLoops.P.toString
  private def duckCharHash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e,''), " +
      s"c -> CAST(unicode(c) AS BIGINT))), (a,b) -> (a*31+b)%$duckP)"
  /** 64-bit fingerprint twin: the Spark kernel rolls with natural Long
    * wrap-around (mod 2^64); DuckDB replays it in HUGEINT and folds the
    * unsigned residue back into the signed BIGINT range. */
  private def duckCharHash64(e: String): String = {
    val m = "CAST(18446744073709551616 AS HUGEINT)"
    val r = s"list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
      s"list_transform(string_split($e,''), c -> CAST(unicode(c) AS HUGEINT))), " +
      s"(a,b) -> (a*31+b) % $m)"
    s"CAST(CASE WHEN ($r) >= CAST(9223372036854775808 AS HUGEINT) " +
      s"THEN ($r) - $m ELSE ($r) END AS BIGINT)"
  }
  /** Packed-64-bit LSH band-key twin (TextHash.bandKeys64, bkv=2): for
    * band b over a signature list `s` with 2 rows/band, fold
    * ((b·M + s[2b+1])·M + s[2b+2]) with M the FNV-64 prime in HUGEINT
    * mod 2^64, then fold the unsigned residue back into signed BIGINT —
    * the same replay discipline as [[duckCharHash64]]. Emitted as the
    * body of a `list_transform(range(0,4), b -> ...)`. */
  private def duckBandKey64(h1: String, h2: String, b: String = "b"): String = {
    val m64 = "CAST(1099511628211 AS HUGEINT)"
    val mod = "CAST(18446744073709551616 AS HUGEINT)"
    val r = s"((CAST($b AS HUGEINT)*$m64 + CAST($h1 AS HUGEINT))*$m64 + " +
      s"CAST($h2 AS HUGEINT)) % $mod"
    s"CAST(CASE WHEN ($r) >= CAST(9223372036854775808 AS HUGEINT) " +
      s"THEN ($r) - $mod ELSE ($r) END AS BIGINT)"
  }
  /** The full 4-band unnest body over a signature column `s` at the
    * contract geometry (k=8, bands=4, 2 rows/band). */
  private val duckBandKeys: String =
    s"unnest(list_transform(range(0,4), b -> " +
      duckBandKey64("s[CAST(2*b+1 AS INT)]", "s[CAST(2*b+2 AS INT)]") +
      ")) AS band_key"

  /** LSH plane component at flat index `k` — the pv=2 MIXED family
    * (multiply → xor-shift → multiply → xor-shift), every intermediate
    * < 2^62 so plain BIGINT arithmetic is exact on both engines; the
    * replay of VectorLoops.planeComponent. */
  private def duckPlane(k: String): String = {
    val t1 = s"((($k)*2654435761)%2147483648)"
    val t2 = s"xor($t1, $t1 >> 15)"
    val t3 = s"((($t2)*1103515245+12345)%2147483648)"
    val t4 = s"xor($t3, $t3 >> 13)"
    s"(($t4)/2147483648.0 - 0.5)"
  }

  /** Dot product of two float lists in DOUBLE (Similarity.dot), summed
    * over `a`'s length. */
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  /** Cosine of two float lists (Similarity.cosine): the dot over the
    * product of the two norms. */
  private def duckCosine(a: String, b: String): String =
    s"${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  /** `b(vec_id, embedding, bucket)`: every embedding with its 4-bit
    * LSH bucket over the 64-dim pv=2 planes (Similarity.lshBucket,
    * dim = 64, bits = 4). */
  private val duckLshBuckets =
    s"""b AS (SELECT vec_id, embedding,
       |  CAST(list_sum(list_transform(range(0,4), j ->
       |    CASE WHEN list_sum(list_transform(range(0,64), i ->
       |      CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE) *
       |      ${duckPlane("j*64+i+1")})) > 0
       |    THEN CAST(pow(2,j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM embeddings)"""

  private val duckWhs =
    s"list_transform(string_split(text,' '), w -> ${duckCharHash("w")})"
  /** MinHash rehash i of a list element `x`, (x·aᵢ + bᵢ) mod P, with
    * the coefficients of TextHashLoops.minhashCoef inlined as literals. */
  private def duckRehash(i: Int): String = {
    val (a, b) = TextHashLoops.minhashCoef(i)
    s"(x*$a+$b)%$duckP"
  }
  /** MinHash component i over the word-hash list `h` (TextHash.minhash). */
  private def duckMinhash(h: String, i: Int): String =
    s"list_min(list_transform($h, x -> ${duckRehash(i)}))"
  /** k-component MinHash signature list over the word-hash list `h`
    * (TextHash.minhashSignature). */
  private def duckMinhashSig(h: String, k: Int): String =
    (0 until k).map(duckMinhash(h, _)).mkString("[", ", ", "]")
  /** DSIR shared CTE chain (q_dsir_score / q_dsir_resample): hashed
    * unigram+bigram buckets (m=64), smoothed lp6 tables for target
    * (doc_id%7=0) vs raw (all docs), per-doc integer weight sums —
    * the relational replay of Dsir.trainWeights + scoreDocs. */
  private val duckDsirCte =
    s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
       |f AS (SELECT doc_id, list_transform(h || list_transform(range(1, len(h)),
       |        i -> (h[CAST(i AS INT)]*31 + h[CAST(i AS INT)+1]) % $duckP),
       |        x -> x % 64) AS b FROM w),
       |ex AS (SELECT doc_id, unnest(b) AS bucket FROM f),
       |tc AS (SELECT bucket, count(*) AS c FROM ex WHERE doc_id % 7 = 0 GROUP BY bucket),
       |rc AS (SELECT bucket, count(*) AS c FROM ex GROUP BY bucket),
       |tn AS (SELECT count(*) AS n FROM ex WHERE doc_id % 7 = 0),
       |rn AS (SELECT count(*) AS n FROM ex),
       |spine AS (SELECT unnest(range(0,64)) AS bucket),
       |wt AS (SELECT s.bucket,
       |    CAST(floor(ln((coalesce(tc.c,0)+1) / CAST(tn.n+64 AS DOUBLE))*1000000.0+0.5) AS BIGINT)
       |  - CAST(floor(ln((coalesce(rc.c,0)+1) / CAST(rn.n+64 AS DOUBLE))*1000000.0+0.5) AS BIGINT) AS lr6
       |  FROM spine s LEFT JOIN tc ON s.bucket = tc.bucket
       |               LEFT JOIN rc ON s.bucket = rc.bucket, tn, rn),
       |sc AS (SELECT e.doc_id, CAST(sum(wt.lr6) AS BIGINT) AS dsir_lw6
       |       FROM ex e JOIN wt ON e.bucket = wt.bucket GROUP BY e.doc_id)""".stripMargin

  /** DuckDB twin of the stopword-argmax language ID
    * (TextAnalysis.langScoresOf + argmax over the sorted languages,
    * first language on ties, `und` when no stopword hits): a SELECT of
    * `keep` plus the prediction `predAs` over relation `from`, whose
    * `text` column is scored. */
  private def duckLangId(keep: String, from: String, predAs: String): String = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scores = langs.map(l =>
      s"len(list_filter(string_split(text,' '), w -> list_contains(${duckStop(l)}, w))) AS s_$l")
      .mkString(",\n")
    val best = langs.map(l => s"s_$l").mkString("greatest(", ",", ")")
    val cases = langs.map(l => s"WHEN best > 0 AND s_$l = best THEN '$l'").mkString(" ")
    s"""SELECT $keep, CASE $cases ELSE 'und' END AS $predAs
       |  FROM (SELECT *, $best AS best FROM (SELECT $keep, $scores FROM $from))"""
  }

  /** 3-shingle hash list over a word-hash list `h` (TextHash.shingleHashes). */
  private val duckSh3 =
    s"""list_transform(range(0, len(h)-2),
       |  i -> ((h[CAST(i+1 AS INT)]*31 + h[CAST(i+2 AS INT)])%$duckP*31
       |        + h[CAST(i+3 AS INT)])%$duckP)"""

  /** DuckDB replay of the whole prepare funnel (gates → langid → exact
    * dedup → star∪path near-dup) for one document subset, CTEs suffixed
    * `sfx` — shared by the in-batch (q_doc_pipeline, q_doc_pipeline_kmv),
    * incremental (q_incremental_dedup) and sharded (q_sharded_dedup)
    * oracles; the latter two replay the funnel once per (side, shard)
    * partition of the corpus. `maxShingles` > 0 replays the capped
    * verify (prepare(maxShingles)): bottom-`maxShingles` shingle
    * sketches and the KMV Jaccard estimate instead of exact Jaccard. */
  private def duckPrepFunnel(sfx: String, pred: String, maxShingles: Int = 0): String = {
    val shSet = s"list_distinct($duckSh3)"
    val (sh, sim) =
      if (maxShingles == 0)
        (shSet, "len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s)))")
      else {
        val x = s"list_slice(list_sort(list_distinct(list_concat(a.s, b.s))), 1, $maxShingles)"
        (s"list_slice(list_sort($shSet), 1, $maxShingles)",
          s"len(list_intersect($x, list_intersect(a.s, b.s))) * 1.0 / len($x)")
      }
    s"""base$sfx AS (
       |  SELECT doc_id, text, CAST(len(string_split(text,' ')) AS BIGINT) AS n_words
       |  FROM documents WHERE ($pred) AND len(string_split(text,' ')) >= 30),
       |p$sfx AS (SELECT *, ${duckCharHash64("text")} AS fp FROM (
       |  ${duckLangId("doc_id, text, n_words", s"base$sfx", "lang_pred")})),
       |ex$sfx AS (SELECT doc_id, text, n_words, lang_pred, fp FROM (
       |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |  FROM p$sfx) WHERE rn = 1),
       |w$sfx AS (SELECT doc_id, $duckWhs AS h FROM ex$sfx),
       |sig$sfx AS (SELECT doc_id, ${duckMinhashSig("h", 8)} AS s FROM w$sfx),
       |bands$sfx AS (SELECT doc_id, $duckBandKeys FROM sig$sfx),
       |bmin$sfx AS (SELECT band_key, min(doc_id) AS min_id FROM bands$sfx GROUP BY band_key),
       |cand$sfx AS (SELECT DISTINCT doc_id, min_id FROM (
       |  SELECT b.doc_id, min_id FROM bands$sfx b
       |    JOIN bmin$sfx USING (band_key) WHERE b.doc_id > min_id
       |  UNION ALL
       |  SELECT doc_id, prev AS min_id FROM (
       |    SELECT doc_id, lag(doc_id) OVER (
       |      PARTITION BY band_key ORDER BY doc_id) AS prev FROM bands$sfx)
       |  WHERE prev IS NOT NULL)),
       |sh$sfx AS (SELECT doc_id, $sh AS s FROM w$sfx),
       |drops$sfx AS (SELECT DISTINCT c.doc_id FROM cand$sfx c
       |  JOIN sh$sfx a ON a.doc_id = c.doc_id JOIN sh$sfx b ON b.doc_id = c.min_id
       |  WHERE $sim >= 0.8),
       |acc$sfx AS (SELECT * FROM ex$sfx
       |  WHERE doc_id NOT IN (SELECT doc_id FROM drops$sfx))"""
  }

  /** The NEW×STORED incremental stage over two [[duckPrepFunnel]]
    * replays (`sSfx` = store side, `bSfx` = batch side): exact fp
    * anti-join, hub-key guard at store df > `maxDf`, band-key
    * candidates, shingle-Jaccard verify. Emits `inc$sfx` — the
    * accepted batch rows. */
  private def duckIncrStage(sfx: String, sSfx: String, bSfx: String,
                            maxDf: Long): String =
    s"""fresh$sfx AS (SELECT * FROM acc$bSfx WHERE fp NOT IN (SELECT fp FROM acc$sSfx)),
       |hot$sfx AS (SELECT band_key FROM (
       |    SELECT band_key, count(*) AS df FROM bands$sSfx
       |    WHERE doc_id IN (SELECT doc_id FROM acc$sSfx) GROUP BY band_key)
       |  WHERE df > $maxDf),
       |xcand$sfx AS (SELECT DISTINCT f.doc_id AS bid, s.doc_id AS sid
       |  FROM bands$bSfx f JOIN bands$sSfx s USING (band_key)
       |  WHERE f.doc_id IN (SELECT doc_id FROM fresh$sfx)
       |    AND s.doc_id IN (SELECT doc_id FROM acc$sSfx)
       |    AND band_key NOT IN (SELECT band_key FROM hot$sfx)),
       |xdrops$sfx AS (SELECT DISTINCT x.bid AS doc_id FROM xcand$sfx x
       |  JOIN sh$bSfx a ON a.doc_id = x.bid JOIN sh$sSfx b ON b.doc_id = x.sid
       |  WHERE len(list_intersect(a.s, b.s)) * 1.0
       |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
       |inc$sfx AS (SELECT * FROM fresh$sfx
       |  WHERE doc_id NOT IN (SELECT doc_id FROM xdrops$sfx))"""

  /** 5-gram shingle roll over a word-hash list `h` at 0-based offset `i`. */
  private val duckSh5 =
    s"((((h[CAST(i+1 AS INT)]*31 + h[CAST(i+2 AS INT)])%$duckP*31" +
      s" + h[CAST(i+3 AS INT)])%$duckP*31 + h[CAST(i+4 AS INT)])%$duckP*31" +
      s" + h[CAST(i+5 AS INT)])%$duckP"
  // ── planted fixture for the span-dedup oracle rows: a 25-token span
  // at token offsets 7 and 12 (different residues mod 3 — invisible to
  // fixed 3-token chunking, recovered in full by shingle-run growth) ───
  private val spanOracleA =
    ((1 to 7).map(i => s"fa$i") ++ (1 to 25).map(i => s"sp$i") ++
      Seq("fa8", "fa9")).mkString(" ")
  private val spanOracleB =
    ((1 to 12).map(i => s"fb$i") ++ (1 to 25).map(i => s"sp$i") ++
      Seq("fb13", "fb14")).mkString(" ")
  /** Planted scraped-page doc for the intra-doc dedup oracle: the same
    * 25-token passage twice — the second copy must boil away. */
  private val intraOracleDoc =
    (Seq("ia1", "ia2") ++ (1 to 25).map(i => s"rp$i") ++ Seq("mid") ++
      (1 to 25).map(i => s"rp$i") ++ Seq("iz1")).mkString(" ")
  private def intraAug(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), col("text"))
      .unionByName(s.range(1).select(
        lit(9000201L).as("doc_id"), lit(intraOracleDoc).as("text")))

  /** documents ∪ the two planted span docs (ids beyond any fixture id). */
  private def spanAug(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), col("text"))
      .unionByName(s.range(1).select(
        lit(9000001L).as("doc_id"), lit(spanOracleA).as("text")))
      .unionByName(s.range(1).select(
        lit(9000002L).as("doc_id"), lit(spanOracleB).as("text")))
  // ── extra planted docs for the EXACT-span oracle rows: X's 30-token
  // region is stitched from a 17-token overlap with C and a 17-token
  // overlap with D — the run relaxation reports a 30-token span in X,
  // the exact diagonal test reports nothing (no partner shares 20) ─────
  private val spanOracleX =
    (Seq("xf1", "xf2") ++ (1 to 30).map(i => s"xs$i") ++ Seq("xf3")).mkString(" ")
  private val spanOracleC =
    (Seq("cf1", "cf2", "cf3") ++ (1 to 17).map(i => s"xs$i") ++ Seq("cf4")).mkString(" ")
  private val spanOracleD =
    (Seq("df1") ++ (14 to 30).map(i => s"xs$i") ++ Seq("df2")).mkString(" ")
  private def spanExactAug(s: SparkSession, d: String): DataFrame =
    spanAug(s, d)
      .unionByName(s.range(1).select(
        lit(9000003L).as("doc_id"), lit(spanOracleX).as("text")))
      .unionByName(s.range(1).select(
        lit(9000004L).as("doc_id"), lit(spanOracleC).as("text")))
      .unionByName(s.range(1).select(
        lit(9000005L).as("doc_id"), lit(spanOracleD).as("text")))
  private val spanExactAugSql =
    s"""SELECT doc_id, text FROM documents
       |  UNION ALL SELECT 9000001, '$spanOracleA'
       |  UNION ALL SELECT 9000002, '$spanOracleB'
       |  UNION ALL SELECT 9000003, '$spanOracleX'
       |  UNION ALL SELECT 9000004, '$spanOracleC'
       |  UNION ALL SELECT 9000005, '$spanOracleD'""".stripMargin
  /** Per-position 5-shingles of `aug(doc_id, text)`, shared by every
    * span twin: `w(doc_id, h, tk)` (word hashes and raw tokens), `sg`
    * (the shingle list) and `e(doc_id, sh, p)`, one row per shingle at
    * 0-based token position `p`. */
  private val duckSpanShingles =
    s"""w AS (SELECT doc_id, $duckWhs AS h,
       |  string_split(text, ' ') AS tk FROM aug),
       |sg AS (SELECT doc_id, CASE WHEN len(h) >= 5 THEN
       |  list_transform(range(0, len(h)-4), i -> $duckSh5)
       |  ELSE [] END AS gs FROM w),
       |e AS (SELECT doc_id, unnest(gs) AS sh,
       |  unnest(range(0, len(gs))) AS p FROM sg)"""
  /** Span-removal tail over [[duckSpanShingles]]' `w`: cut every token
    * inside an interval of `iv(doc_id, st, en)` and rebuild the kept
    * text — `kept(doc_id, n_tot, n_kept, txt)`, one row per doc. */
  private def duckSpanCut(iv: String): String =
    s"""tok AS (SELECT doc_id, unnest(tk) AS tkn,
       |  unnest(range(0, len(tk))) AS i FROM w),
       |cutpos AS (SELECT DISTINCT t.doc_id, t.i FROM tok t
       |  JOIN $iv ON t.doc_id = $iv.doc_id AND t.i BETWEEN $iv.st AND $iv.en),
       |kept AS (SELECT t.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_tot,
       |    CAST(count(*) FILTER (WHERE c.i IS NULL) AS BIGINT) AS n_kept,
       |    string_agg(CASE WHEN c.i IS NULL THEN t.tkn END, ' '
       |      ORDER BY t.i) AS txt
       |  FROM tok t LEFT JOIN cutpos c
       |    ON t.doc_id = c.doc_id AND t.i = c.i
       |  GROUP BY t.doc_id)"""
  /** Shared CTE prefix of the exact-span twins: maximal per-(pair,
    * diagonal) shingle-match runs ≥ 20 tokens (`pairCond` restricts the
    * grid: detection sees both orientations, removal losers only),
    * then the per-doc interval union via gaps-and-islands. */
  private def duckExactSpans(pairCond: String): String =
    s"""$duckSpanShingles,
       |rep AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM e)
       |  GROUP BY sh HAVING count(*) >= 2),
       |er AS (SELECT * FROM e WHERE sh IN (SELECT sh FROM rep)),
       |m AS (SELECT a.doc_id AS ida, b.doc_id AS idb, a.p AS i,
       |    a.p - b.p AS diag
       |  FROM er a JOIN er b ON a.sh = b.sh AND $pairCond),
       |runs AS (SELECT ida, idb, diag, i,
       |    i - row_number() OVER (PARTITION BY ida, idb, diag ORDER BY i) AS grp
       |  FROM m),
       |sp AS (SELECT ida AS doc_id, min(i) AS st, max(i) + 4 AS en
       |  FROM runs GROUP BY ida, idb, diag, grp
       |  HAVING max(i) + 4 - min(i) + 1 >= 20),
       |ord2 AS (SELECT doc_id, st, en,
       |    max(en) OVER (PARTITION BY doc_id ORDER BY st, en
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM sp),
       |isl AS (SELECT doc_id, st, en,
       |    sum(CASE WHEN pmax IS NULL OR st > pmax + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY st, en) AS g
       |  FROM ord2),
       |cov AS (SELECT doc_id, min(st) AS st, max(en) AS en
       |  FROM isl GROUP BY doc_id, g)""".stripMargin
  /** All-language stopword list as a DuckDB array literal (same set the
    * Spark kernel uses — generated from one constant to prevent drift). */
  private val duckStopAll = TextAnalysis.stopwords.values.flatten.toSeq.distinct
    .map(w => s"'$w'").mkString("[", ",", "]")
  private def duckStop(lang: String): String =
    TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")

  // ── DuckDB twin of Ivf.train(k=4, iters=2): nearest-centroid
  // assignment + Lloyd mean update, unrolled (DuckDB has no iteration
  // outside recursive CTEs; two rounds = two CTE pairs). Shared by
  // q_ivf_topk and q_semantic_dedup — both hash-matching IS the proof
  // the SQL replicates the Scala trainer's arithmetic. ────────────────
  private def duckAssign(vecSrc: String, centSrc: String): String =
    s"""SELECT vec_id, cid AS cell FROM (
       |    SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      list_sum(list_transform(range(1, 65),
       |        i -> (v.e[i] - c.e[i]) * (v.e[i] - c.e[i]))), c.cid) AS rn
       |    FROM $vecSrc v CROSS JOIN $centSrc c) WHERE rn = 1""".stripMargin
  private def duckLloydRound(n: Int): String = {
    val (a, m, prev) = (s"a$n", s"m$n", s"c${n - 1}")
    s"""$a AS (
       |  ${duckAssign("emb", prev)}),
       |$m AS (
       |  SELECT cell, list(m ORDER BY idx) AS e FROM (
       |    SELECT $a.cell, gs.i AS idx, avg(v.e[gs.i]) AS m
       |    FROM $a JOIN emb v USING (vec_id)
       |    CROSS JOIN generate_series(1, 64) AS gs(i)
       |    GROUP BY $a.cell, gs.i) GROUP BY cell),
       |c$n AS (
       |  SELECT $prev.cid, COALESCE($m.e, $prev.e) AS e
       |  FROM $prev LEFT JOIN $m ON $m.cell = $prev.cid)""".stripMargin
  }
  /** CTE chain `emb, c0, a1, m1, c1, …, c<rounds>` — `emb(vec_id, e)`
    * is the double-cast corpus filtered by `where`, `c0` the id-order
    * seeds (spreadInit = false), `c<rounds>(cid, e)` the trained
    * centroids. */
  private def duckKmeans(where: String, rounds: Int): String =
    (s"""emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings WHERE $where),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, e
       |  FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT 4))""" +:
      (1 to rounds).map(duckLloydRound)).mkString(",\n").stripMargin

  /** DuckDB twin of q_quality_logreg: the 3 GD iterations unrolled as
    * CTEs. Every arithmetic step mirrors LogReg.train's expression
    * shape exactly (left-assoc z, ((g/scale)/n) update order, fast
    * sigmoid), so the weights — and hence the e6 fixed points — are
    * bit-identical, not merely close. */
  private val duckLogregSql: String = {
    val iters = 3
    val d = 4
    val xs = (0 until d).map(j => s"x$j")
    def gradCte(k: Int): String = {
      val sums = (0 until d).map { j =>
        s"""sum(CAST(floor(((0.5 + z/(2.0*(1.0+abs(z)))) - y)*x$j*1000000000.0 + 0.5) AS BIGINT)) AS g$j"""
      }.mkString(",\n   ")
      val z = (0 until d).map(j => s"b$j*x$j").mkString(" + ")
      s"""g$k AS (SELECT
   $sums
 FROM (SELECT y, ${xs.mkString(", ")}, ($z) AS z FROM f, w${k - 1}))"""
    }
    def weightCte(k: Int): String = {
      val ws = (0 until d).map { j =>
        s"b$j - 0.5*((CAST(g$j AS DOUBLE)/1000000000.0)/n) AS b$j"
      }.mkString(",\n   ")
      s"""w$k AS (SELECT
   $ws
 FROM g$k, w${k - 1}, n0)"""
    }
    val rounds =
      (1 to iters).map(k => gradCte(k) + ",\n" + weightCte(k)).mkString(",\n")
    val zFin = (0 until d).map(j => s"b$j*x$j").mkString(" + ")
    val outNames = Seq("bias", "x1_tokens", "x2_avglen", "x3_efreq")
    val unions = outNames.zipWithIndex.map { case (nm, j) =>
      s"""SELECT '$nm' AS feature, CAST(floor(b$j*1000000.0 + 0.5) AS BIGINT) AS weight_e6 FROM w$iters"""
    }.mkString("\n  UNION ALL ")
    s"""WITH f AS (SELECT
  CASE WHEN length(text) - length(replace(text, 'spark', '')) > 0
    THEN 1.0 ELSE 0.0 END AS y,
  1.0 AS x0,
  len(string_split(text, ' ')) / 100.0 AS x1,
  length(text) / (10.0 * len(string_split(text, ' '))) AS x2,
  (length(text) - length(replace(text, 'e', ''))) * 10.0
    / (1.0 + length(text)) AS x3
 FROM documents WHERE text IS NOT NULL),
n0 AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
w0 AS (SELECT ${(0 until d).map(j => s"0.0 AS b$j").mkString(", ")}),
$rounds,
acc AS (SELECT
  CAST(sum(CASE WHEN (z >= 0) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  count(*) AS n_rows
 FROM (SELECT y, ($zFin) AS z FROM f, w$iters))
SELECT feature, weight_e6, n_correct, n_rows FROM (
  $unions), acc
ORDER BY feature"""
  }

  /** DuckDB twin of the unigram-LM Viterbi segmentation
    * (ext.Unigram / q_unigram_score) — recomputed from FIRST PRINCIPLES
    * as an unrolled shortest-path DP (the kCoreSql/labelPropSql
    * convention): per distinct word (truncated to `maxW` chars on both
    * engines), state s_i at prefix length i is the lexicographic-
    * minimal (cost, count) encoded as ONE integer c16·64 + count —
    * piece costs are integer sixteenths (Unigram.demoPieces invariant,
    * pinned in UnigramSpec) and counts are < 64 at maxW = 12, so
    * integer `least` IS the lexicographic compare, and the final
    * cost-in-sixteenths / 16.0 reproduces Spark's exact doubles bit
    * for bit. Unmatched single chars take the UNK cost (8.0 → 128);
    * multi-char misses yield NULL arms, which DuckDB's least()
    * skips. */
  private def unigramSql: String = unigramSqlImpl("documents", bf = false)

  /** Byte-fallback variant of the unigram DP twin: the k=1 arm pays
    * 96/16 = 6.0 per UTF-8 byte and counts one piece per byte —
    * 64·(96·olen) + olen = 6145·olen in the packed unit — exactly
    * [[graft.ext.UnigramLoops.ByteCost]]'s arithmetic; substr counts
    * code points in DuckDB and UTF-16 units in Spark, so the planted
    * doc stays BMP (identical indices). */
  private def unigramSqlImpl(fromRel: String, bf: Boolean): String = {
    val maxW = 12
    val maxK = ext.Unigram.demoPieces.map(_._1.length).max
    val vals = ext.Unigram.demoPieces
      .map { case (p, c) => s"('$p', ${(c * 16).round})" }.mkString(", ")
    val sb = new StringBuilder
    sb ++= s"pc(piece, c16) AS (VALUES $vals),\n"
    sb ++= s"raw AS (SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '\\s+')) AS w0 FROM $fromRel),\n"
    sb ++= s"wd AS (SELECT doc_id, substr(w0, 1, $maxW) AS w FROM raw WHERE len(w0) > 0),\n"
    sb ++= "ww AS (SELECT DISTINCT w FROM wd),\n"
    sb ++= "d0 AS (SELECT w, CAST(0 AS BIGINT) AS s0 FROM ww),\n"
    for (i <- 1 to maxW) {
      val arms = (1 to math.min(maxK, i)).map { k =>
        val look = s"(SELECT c16 FROM pc WHERE piece = substr(w, ${i - k + 1}, $k))"
        if (k == 1 && bf)
          s"s${i - 1} + CASE WHEN $look IS NOT NULL THEN 64*$look + 1 " +
            s"ELSE 6145*octet_length(encode(substr(w, $i, 1))) END"
        else if (k == 1) s"s${i - 1} + 64*coalesce($look, 128) + 1"
        else s"s${i - k} + 64*$look + 1"
      }.mkString(", ")
      sb ++= s"d$i AS (SELECT *, least($arms) AS s$i FROM d${i - 1}),\n"
    }
    val pick = (1 to maxW).map(i => s"WHEN $i THEN s$i").mkString(" ")
    sb ++= s"dp AS (SELECT w, CASE len(w) $pick END AS s FROM d$maxW),\n"
    sb ++= "agg AS (SELECT wd.doc_id, CAST(sum(dp.s // 64) AS DOUBLE) / 16.0 AS c, " +
      "CAST(sum(dp.s % 64) AS BIGINT) AS n FROM wd JOIN dp USING (w) GROUP BY wd.doc_id)\n"
    sb ++= s"SELECT d.doc_id, coalesce(agg.c, 0.0) AS ug_cost, " +
      "CAST(coalesce(agg.n, 0) AS BIGINT) AS n_pieces " +
      s"FROM $fromRel d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"
    "WITH " + sb.toString
  }

  /** Planted multi-script doc for the byte-fallback oracle (BMP only —
    * see [[unigramSqlImpl]]): accented Latin (2-byte chars), Han
    * (3-byte), plus covered ascii words proving the fallback leaves
    * in-table segmentation untouched. */
  private val ugBfDoc = "café über niño straße 東京 data the station"
  private def ugBfAug(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), col("text"))
      .unionByName(s.range(1).select(
        lit(9000301L).as("doc_id"), lit(ugBfDoc).as("text")))
  private def unigramBfSql: String = unigramSqlImpl(
    s"(SELECT doc_id, text FROM documents UNION ALL SELECT 9000301, '$ugBfDoc')",
    bf = true)

  /** DuckDB twin of q_holt_winters: the additive Holt-Winters recurrence
    * (Fill.holtWinters scaladoc) replayed as a recursive CTE carrying the
    * seasonal history as a LIST (sbuf[i] = s_i, 1-based), then the
    * residual-anomaly epilogue in exact decimals. α=.5/β=.25/γ=.5 and
    * period=7 are spelled as the same binary-exact literals the Scala
    * side derives from its integer percents; every arithmetic expression
    * is written in the Scala op order, so doubles match bit for bit.
    * The anomaly test is division-free — |resid| · n > 3 · Σ|resid| in
    * floor-pinned integer micro-units — so neither summation order nor
    * cross-engine double rounding can perturb it. */
  private def holtWintersSql: String = {
    val sprevO = "(CASE WHEN o.rn > 7 THEN rec.sbuf[CAST(o.rn - 7 AS INT)] ELSE CAST(0 AS DOUBLE) END)"
    val lNew = s"0.5*(o.y - $sprevO) + 0.5*(rec.l + rec.b)"
    val sNew = s"0.5*(o.y - rec.l - rec.b) + 0.5*$sprevO"
    s"""WITH RECURSIVE d AS (SELECT event_type,
       |  CAST(date_trunc('day', ts) AS DATE) AS day,
       |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
       |  FROM events GROUP BY 1, 2),
       |o AS (SELECT *, row_number() OVER (PARTITION BY event_type
       |  ORDER BY day) AS rn FROM d),
       |rec AS (
       |  SELECT event_type, rn, y, y AS l, CAST(0 AS DOUBLE) AS b,
       |    [CAST(0 AS DOUBLE)] AS sbuf
       |  FROM o WHERE rn = 1
       |  UNION ALL
       |  SELECT o.event_type, o.rn, o.y,
       |    $lNew AS l,
       |    0.25*(($lNew) - rec.l) + 0.75*rec.b AS b,
       |    list_append(rec.sbuf, $sNew) AS sbuf
       |  FROM rec JOIN o ON o.event_type = rec.event_type
       |    AND o.rn = rec.rn + 1),
       |hw AS (
       |  SELECT event_type, rn, y, l AS hw_level, b AS hw_trend,
       |    sbuf[CAST(rn AS INT)] AS hw_season,
       |    l + b + (CASE WHEN rn + 1 > 7 THEN sbuf[CAST(rn + 1 - 7 AS INT)]
       |             ELSE CAST(0 AS DOUBLE) END) AS hw_next
       |  FROM rec),
       |r2 AS (
       |  SELECT *, CAST(floor((y - lag(hw_next) OVER (PARTITION BY event_type
       |    ORDER BY rn)) * 1000000.0 + 0.5) AS BIGINT) AS resid6
       |  FROM hw)
       |SELECT event_type, CAST(rn AS BIGINT) AS rn, y,
       |  hw_level, hw_trend, hw_season, hw_next,
       |  resid6 AS resid_e6,
       |  CAST(CASE WHEN resid6 IS NOT NULL
       |    AND abs(resid6) * (count(resid6) OVER k) > 3 * (sum(abs(resid6)) OVER k)
       |    THEN 1 ELSE 0 END AS BIGINT) AS anom
       |FROM r2
       |WINDOW k AS (PARTITION BY event_type)
       |ORDER BY event_type, rn""".stripMargin
  }

  /** DuckDB twin of q_detect_period — the division-free exact-decimal
    * autocovariance of Fill.detectPeriod replayed lag by lag (same
    * casts, same common support window, same n·Σyy − Σy·Σyl form; see
    * the operator scaladoc for why every intermediate is exact). */
  private def detectPeriodSql: String = {
    val lags = 2 to 10
    val lagSel = lags.map(k => s"lag(y4, $k) OVER w AS l$k").mkString(", ")
    // one operand of every product is widened past 18 digits so DuckDB
    // takes the int128 multiplication path — its int64 fast path
    // overflows at sf0.1 magnitudes (the values themselves are exact
    // either way; Spark's JVM decimals never had the issue)
    val aggSel = lags.map(k =>
      s"CAST(sum(y4*CAST(l$k AS DECIMAL(19,4))) AS DECIMAL(26,8)) AS syy$k, " +
        s"CAST(sum(l$k) AS DECIMAL(16,4)) AS sl$k").mkString(", ")
    val unions = lags.map(k =>
      s"SELECT event_type, $k AS lg, n*syy$k - sy*sl$k AS c FROM a")
      .mkString(" UNION ALL ")
    s"""WITH d AS (SELECT event_type,
       |  CAST(date_trunc('day', ts) AS DATE) AS day,
       |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(14,4)) AS y4
       |  FROM events GROUP BY 1, 2),
       |o AS (SELECT event_type, y4,
       |  row_number() OVER w AS rn, $lagSel
       |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       |f AS (SELECT * FROM o WHERE rn > 10),
       |a AS (SELECT event_type, CAST(count(*) AS DECIMAL(6,0)) AS n,
       |  CAST(sum(y4) AS DECIMAL(19,4)) AS sy, $aggSel
       |  FROM f GROUP BY event_type),
       |u AS ($unions),
       |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
       |  ORDER BY c DESC, lg) AS rk FROM u)
       |SELECT event_type, CAST(lg AS BIGINT) AS lag,
       |  CAST(c AS DOUBLE) AS acov,
       |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
       |FROM r ORDER BY event_type, lag""".stripMargin
  }

  val all: Vector[QueryDef] = Vector(
    // ── 1. scan + projection ────────────────────────────────────────────
    QueryDef(
      "q_scan_project",
      (s, d) =>
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("net"))
          .limit(100),
      Some("""SELECT l_orderkey, l_linenumber,
             |round(l_extendedprice * (1 - l_discount), 4) AS net
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, net LIMIT 100""".stripMargin)),

    // ── 2. filter / predicates ──────────────────────────────────────────
    QueryDef(
      "q_filter_predicate",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(
            col("l_quantity") > 30 && col("l_returnflag") === "R" &&
              col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_linenumber"))
          .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE l_quantity > 30 AND l_returnflag = 'R'
             |AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ── 3. rate aggregation (call-rate analog) ─────────────────────────
    QueryDef(
      "q_filter_rate",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(round(avg(when(col("l_discount") > 0.05, 1.0).otherwise(0.0)), 4).as("rate"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |round(avg(CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END), 4) AS rate
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ── 4. conditional rewrite + count partition (depth→missing analog) ─
    QueryDef(
      "q_mask_update",
      (s, d) =>
        t(s, d, "lineitem")
          .withColumn("dm", when(col("l_discount") < 0.02, -1.0).otherwise(col("l_discount")))
          .groupBy(col("l_returnflag"))
          .agg(
            count(when(col("dm") === -1.0, 1)).as("n_masked"),
            count(when(col("dm") =!= -1.0, 1)).as("n_kept"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |CAST(count(*) FILTER (WHERE dm = -1.0) AS BIGINT) AS n_masked,
             |CAST(count(*) FILTER (WHERE dm <> -1.0) AS BIGINT) AS n_kept
             |FROM (SELECT l_returnflag,
             |  CASE WHEN l_discount < 0.02 THEN -1.0 ELSE l_discount END AS dm
             |  FROM lineitem)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ── 5. projection to a subset (keep-samples analog) ────────────────
    QueryDef(
      "q_project_subset",
      (s, d) =>
        t(s, d, "customer")
          .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
          .select(col("c_custkey"), col("c_mktsegment"))
          .orderBy(col("c_custkey"), col("c_mktsegment")),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
             |ORDER BY c_custkey, c_mktsegment""".stripMargin)),

    // ── 6. hash aggregation (TPC-H Q1 flagship) ────────────────────────
    QueryDef(
      "q_agg_hash",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 4).as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_base"),
            decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc"),
            round(avg(col("l_quantity")), 4).as("avg_qty"),
            count(lit(1)).as("cnt"))
          .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |round(sum(l_quantity), 4) AS sum_qty,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
             |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
             |round(avg(l_quantity), 4) AS avg_qty,
             |CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ── 7. distinct aggregation ────────────────────────────────────────
    QueryDef(
      "q_agg_distinct",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("nparts"),
            countDistinct(col("l_suppkey")).as("nsupps"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |CAST(count(DISTINCT l_partkey) AS BIGINT) AS nparts,
             |CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nsupps
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ── 8. rollup ──────────────────────────────────────────────────────
    QueryDef(
      "q_rollup",
      (s, d) =>
        t(s, d, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping_id().cast("long").as("gid"),
            count(lit(1)).as("cnt"),
            round(sum(col("l_quantity")), 4).as("sum_qty"))
          .orderBy(
            col("gid"),
            col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
             |CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             |CAST(count(*) AS BIGINT) AS cnt,
             |round(sum(l_quantity), 4) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // ── 9. cube ────────────────────────────────────────────────────────
    QueryDef(
      "q_cube",
      (s, d) =>
        t(s, d, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("cnt"))
          .orderBy(
            col("gid"),
            col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority,
             |CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             |CAST(count(*) AS BIGINT) AS cnt
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // ── 9b. explicit grouping sets (beyond rollup/cube) ────────────────
    QueryDef(
      "q_grouping_sets",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |CAST(GROUPING(o_orderstatus) AS BIGINT) AS g1,
                |CAST(GROUPING(o_orderpriority) AS BIGINT) AS g2,
                |CAST(count(*) AS BIGINT) AS cnt
                |FROM orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
                |ORDER BY g1, g2, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |CAST(GROUPING(o_orderstatus) AS BIGINT) AS g1,
             |CAST(GROUPING(o_orderpriority) AS BIGINT) AS g2,
             |CAST(count(*) AS BIGINT) AS cnt
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY g1, g2, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // ── 10. broadcast equi-join ────────────────────────────────────────
    QueryDef(
      "q_join_broadcast",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val p = t(s, d, "part").filter(col("p_brand") === "Brand#23")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_net"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand,
             |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_net
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_brand = 'Brand#23'
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ── 11. multi-way shuffle join ─────────────────────────────────────
    QueryDef(
      "q_join_shuffle",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        val n = t(s, d, "nation")
        val r = t(s, d, "region")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("sum_price"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_orders,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // ── 12. semi join ──────────────────────────────────────────────────
    QueryDef(
      "q_join_semi",
      (s, d) => {
        val o = t(s, d, "orders")
        val li = t(s, d, "lineitem").filter(col("l_quantity") > 45)
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .select(col("o_orderkey"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |ORDER BY o_orderkey""".stripMargin)),

    // ── 13. anti join ──────────────────────────────────────────────────
    QueryDef(
      "q_join_anti",
      (s, d) => {
        val c = t(s, d, "customer")
        // "no URGENT orders" rather than "no orders" — every customer has
        // orders in this generator, which would make the anti join vacuous
        val o = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    // ── 14. equi-join + range residual ─────────────────────────────────
    QueryDef(
      "q_join_range",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey") && li("l_shipdate") >= o("o_orderdate"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem JOIN orders
             |ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ── 15. as-of join (sort-based union+window operator, AsOf.scala —
    // NOT the O(|L|·|R_key|) max-< join the oracle uses) ────────────────
    QueryDef(
      "q_join_asof",
      (s, d) => {
        val ev = events(s, d)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id").as("uid"), col("ts").as("p_ts"))
        val sg = ev.filter(col("event_type") === "signup")
          .select(col("user_id").as("uid"), col("ts").as("s_ts"))
        graft.operators.AsOf.joinAsOf(p, sg, key = "uid", leftTs = "p_ts", rightTs = "s_ts", strict = true)
          .select(col("event_id"), fmtTs(date_trunc("second", col("asof_ts"))).as("asof_ts"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT p.event_id,
             |strftime(date_trunc('second', max(s.ts)), '%Y-%m-%d %H:%M:%S') AS asof_ts
             |FROM events p LEFT JOIN events s
             |ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts < p.ts
             |WHERE p.event_type = 'purchase'
             |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin)),

    // ── 16. ranking window ─────────────────────────────────────────────
    QueryDef(
      "q_window_rank",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, rn FROM (
             |SELECT o_custkey, o_orderkey,
             |CAST(row_number() OVER (PARTITION BY o_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |FROM orders) WHERE rn <= 3
             |ORDER BY o_custkey, rn, o_orderkey""".stripMargin)),

    // ── 17. analytic window (lag) ──────────────────────────────────────
    QueryDef(
      "q_window_analytic",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        events(s, d)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .select(col("event_id"), col("prev_type"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             |FROM events ORDER BY event_id""".stripMargin)),

    // ── 17b. analytic window: lead/first/last over frames ──────────────
    QueryDef(
      "q_window_analytic2",
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        events(s, d)
          .select(
            col("event_id"),
            lead(col("event_type"), 1).over(wOrd).as("next_type"),
            first(col("event_type")).over(wAll).as("first_type"),
            last(col("event_type")).over(wAll).as("last_type"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |lead(event_type) OVER w AS next_type,
             |first_value(event_type) OVER
             |  (PARTITION BY user_id ORDER BY ts, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_type,
             |last_value(event_type) OVER
             |  (PARTITION BY user_id ORDER BY ts, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    // ── 18. window frame (moving sum; events has unique event_id) ──────
    QueryDef(
      "q_window_frame",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-2, 0)
        events(s, d)
          .withColumn("msum", round(sum(col("value")).over(w), 4))
          .select(col("event_id"), col("msum"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS msum
             |FROM events ORDER BY event_id""".stripMargin)),

    // ── 19. global top-k ───────────────────────────────────────────────
    QueryDef(
      "q_sort_limit_topk",
      (s, d) =>
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(10),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin)),

    // ── 20-22. set operations ──────────────────────────────────────────
    QueryDef(
      "q_set_union",
      (s, d) => setOpInputs(s, d) match {
        case (a, b) => a.union(b).distinct().orderBy(col("okey"))
      },
      Some(s"""$setA UNION $setB ORDER BY okey""")),
    QueryDef(
      "q_set_intersect",
      (s, d) => setOpInputs(s, d) match {
        case (a, b) => a.intersect(b).orderBy(col("okey"))
      },
      Some(s"""$setA INTERSECT $setB ORDER BY okey""")),
    QueryDef(
      "q_set_except",
      (s, d) => setOpInputs(s, d) match {
        case (a, b) => a.except(b).orderBy(col("okey"))
      },
      Some(s"""$setA EXCEPT $setB ORDER BY okey""")),

    // ── 23. string functions ───────────────────────────────────────────
    QueryDef(
      "q_string_funcs",
      (s, d) =>
        t(s, d, "part")
          .select(
            col("p_partkey"),
            upper(substring(col("p_name"), 1, 10)).as("up10"),
            length(col("p_name")).cast("long").as("name_len"),
            col("p_name").like("%green%").as("has_green"),
            element_at(split(col("p_name"), " "), 1).as("first_word"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, upper(substr(p_name, 1, 10)) AS up10,
             |CAST(length(p_name) AS BIGINT) AS name_len,
             |p_name LIKE '%green%' AS has_green,
             |string_split(p_name, ' ')[1] AS first_word
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ── 24. date functions ─────────────────────────────────────────────
    QueryDef(
      "q_date_funcs",
      (s, d) =>
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mon"),
            date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("mstart"),
            datediff(lit("1998-01-01").cast("date"), col("o_orderdate").cast("date"))
              .cast("long").as("days_to"))
          .orderBy(col("o_orderkey"))
          .limit(200),
      Some("""SELECT o_orderkey,
             |CAST(year(o_orderdate) AS BIGINT) AS yr,
             |CAST(month(o_orderdate) AS BIGINT) AS mon,
             |strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mstart,
             |CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to
             |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin)),

    // ── 25. math functions ─────────────────────────────────────────────
    QueryDef(
      "q_math_funcs",
      (s, d) =>
        t(s, d, "customer")
          .select(
            col("c_custkey"),
            round(abs(col("c_acctbal")), 2).as("ab"),
            round(sqrt(abs(col("c_acctbal"))), 4).as("sq"),
            round(log(abs(col("c_acctbal")) + 1), 4).as("lg"),
            round(col("c_acctbal") * col("c_acctbal"), 4).as("p2"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, round(abs(c_acctbal), 2) AS ab,
             |round(sqrt(abs(c_acctbal)), 4) AS sq,
             |round(ln(abs(c_acctbal) + 1), 4) AS lg,
             |round(c_acctbal * c_acctbal, 4) AS p2
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ── 26. array functions ────────────────────────────────────────────
    QueryDef(
      "q_array_funcs",
      (s, d) =>
        t(s, d, "embeddings")
          .select(
            col("vec_id"),
            size(col("embedding")).cast("long").as("dim"),
            round(element_at(col("embedding"), 1).cast("double"), 4).as("e1"),
            round(
              aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x.cast("double")),
              4).as("esum"))
          .orderBy(col("vec_id"))
          .limit(100),
      Some("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
             |round(CAST(embedding[1] AS DOUBLE), 4) AS e1,
             |round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS esum
             |FROM embeddings ORDER BY vec_id LIMIT 100""".stripMargin)),

    // ── 27. json functions ─────────────────────────────────────────────
    QueryDef(
      "q_json_funcs",
      (s, d) =>
        events(s, d)
          .groupBy(col("event_type"))
          .agg(round(avg(get_json_object(col("props"), "$.k").cast("int")), 4).as("k_avg"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type,
             |round(avg(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INTEGER)), 4) AS k_avg
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ── 28. explode / generator ────────────────────────────────────────
    QueryDef(
      "q_explode",
      (s, d) =>
        t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("word"))
          .limit(20),
      Some("""SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM
             |(SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin)),

    // ── 29. deterministic dedup ────────────────────────────────────────
    QueryDef(
      "q_dedup",
      (s, d) =>
        t(s, d, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(min(col("doc_id")).as("first_doc"))
          .orderBy(col("lang"), col("source")),
      Some("""SELECT lang, source, min(doc_id) AS first_doc
             |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // ── 29b. intra-corpus span dedup (MassiveText repeated-passage
    // removal): 3-token chunks, corpus-wide first occurrence wins,
    // documents reassembled from surviving chunks (Dedup.chunkDedup;
    // NULL text_kept = fully-boilerplate doc) ──────────────────────────
    QueryDef(
      "q_chunk_dedup",
      (s, d) =>
        graft.ext.Dedup.chunkDedup(t(s, d, "documents"), "doc_id", "text", 3)
          .select(col("doc_id"), col("text_kept"),
            col("n_kept").cast("long").as("n_kept"),
            col("n_dropped").cast("long").as("n_dropped"))
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
             |  FROM documents WHERE len(string_split(text, ' ')) > 0),
             |ex AS (SELECT doc_id, tk,
             |    unnest(range(0, CAST(floor((len(tk)-1)/3) AS BIGINT) + 1)) AS chunk_id
             |  FROM toks),
             |ch AS (SELECT doc_id, chunk_id,
             |    array_to_string(tk[chunk_id*3+1 : chunk_id*3+3], ' ') AS chunk FROM ex),
             |w AS (SELECT doc_id, chunk_id, chunk,
             |    row_number() OVER (PARTITION BY md5(chunk)
             |      ORDER BY doc_id, chunk_id) AS rn
             |  FROM ch)
             |SELECT doc_id,
             |  string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_id)
             |    AS text_kept,
             |  CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
             |  CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dropped
             |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── 29c. corpus report (the "dataset card" aggregation): per
    // (lang, source) — doc count, char volume, token mean, DISTINCT
    // content fingerprints (dedup headroom) — one scan, one agg ───────
    QueryDef(
      "q_corpus_report",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("_fp", graft.ext.TextHash.fingerprint(col("text")))
          .withColumn("_nt", size(split(col("text"), " ")).cast("long"))
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            round(avg(col("_nt")), 4).as("avg_tokens"),
            countDistinct(col("_fp")).as("n_distinct_fp"))
          .orderBy(col("lang"), col("source")),
      Some(s"""SELECT lang, source,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4)
             |    AS avg_tokens,
             |  CAST(count(DISTINCT ${duckCharHash64("text")}) AS BIGINT)
             |    AS n_distinct_fp
             |FROM documents GROUP BY lang, source
             |ORDER BY lang, source""".stripMargin)),

    // ── 30. groupwise ratio (MAF analog) ───────────────────────────────
    QueryDef(
      "q_groupwise_ratio",
      (s, d) =>
        t(s, d, "orders")
          .groupBy(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("o_orderpriority"))
          .agg(round(max(col("cnt")).cast("double") / sum(col("cnt")).cast("double"), 4)
            .as("max_ratio"))
          .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
             |round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 4) AS max_ratio
             |FROM (SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
             |  FROM orders GROUP BY o_orderpriority, o_orderstatus)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ── 31. histogram (fixed bins) ─────────────────────────────────────
    QueryDef(
      "q_histogram",
      (s, d) =>
        t(s, d, "orders")
          .select(least(floor(col("o_totalprice") / 50000), lit(9)).cast("long").as("bin"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("bin")),
      Some("""SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bin,
             |CAST(count(*) AS BIGINT) AS cnt
             |FROM orders GROUP BY bin ORDER BY bin""".stripMargin)),

    // ── 32. similarity top-k (brute-force cosine/dot baseline) ─────────
    QueryDef(
      "q_similarity_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("p_emb"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(
            col("vec_id"),
            round(
              aggregate(
                zip_with(col("embedding"), col("p_emb"),
                  (x, y) => x.cast("double") * y.cast("double")),
                lit(0.0), (acc, v) => acc + v),
              4).as("dot"))
          .orderBy(col("dot").desc, col("vec_id"))
          .limit(5)
      },
      Some(s"""SELECT v.vec_id,
             |round(${duckDot("v.embedding", "p.embedding")}, 4) AS dot
             |FROM embeddings v,
             |(SELECT embedding FROM embeddings WHERE vec_id = 0) p
             |WHERE v.vec_id <> 0
             |ORDER BY dot DESC, v.vec_id LIMIT 5""".stripMargin)),

    // ── 33. text stats ─────────────────────────────────────────────────
    QueryDef(
      "q_text_stats",
      (s, d) =>
        t(s, d, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("cnt"),
            round(avg(col("n_chars")), 4).as("avg_chars"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy(col("lang")),
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
             |round(avg(n_chars), 4) AS avg_chars,
             |CAST(count(DISTINCT source) AS BIGINT) AS n_sources
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ── 34. sessionization (gap > 30 min) ──────────────────────────────
    QueryDef(
      "q_sessionize",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn(
            "new_sess",
            when(
              col("prev_ts").isNull ||
                (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800L * 1000000L,
              1L).otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_sess")).as("n_sessions"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(sum(CASE WHEN prev_ts IS NULL
             |  OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
             |FROM (SELECT user_id, ts, event_id,
             |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events)
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ── 35. tumbling window aggregation (batch form) ───────────────────
    QueryDef(
      "q_stream_tumbling",
      (s, d) =>
        events(s, d)
          .groupBy(
            fmtTs(date_trunc("hour", col("ts"))).as("hr"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
          .orderBy(col("hr"), col("event_type")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
             |event_type, CAST(count(*) AS BIGINT) AS cnt,
             |round(sum(value), 4) AS sum_value
             |FROM events GROUP BY hr, event_type ORDER BY hr, event_type""".stripMargin)),

    // ════ training-data pipeline operators (graft.ext) ══════════════════

    // ── 36. rolling-hash document fingerprint ──────────────────────────
    QueryDef(
      "q_fingerprint",
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"), TextHash.fingerprint(col("text")).as("fp"))
          .orderBy(col("doc_id"))
          .limit(200),
      Some(s"""SELECT doc_id, ${duckCharHash64("text")} AS fp
             |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin)),

    // ── 37. minhash signature (4 components) ───────────────────────────
    QueryDef(
      "q_minhash_sig",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("_whs", TextHash.wordHashes(col("text"))) // materialize once (interpreted HOFs)
          .select(col("doc_id") +: (0 until 4).map(i => TextHash.minhash(col("_whs"), i).as(s"m$i")): _*)
          .orderBy(col("doc_id"))
          .limit(200),
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents)
             |SELECT doc_id,
             |${(0 until 4).map(i => s"${duckMinhash("h", i)} AS m$i").mkString(",\n")}
             |FROM w ORDER BY doc_id LIMIT 200""".stripMargin)),

    // ── 38. minhash-LSH near-dup candidate buckets ─────────────────────
    QueryDef(
      "q_dedup_minhash",
      (s, d) =>
        Dedup.minhashDupGroups(t(s, d, "documents"), "doc_id", "text", k = 8, bands = 4)
          .orderBy(col("band_key")),
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
             |sig AS (SELECT doc_id, ${duckMinhashSig("h", 8)} AS s FROM w),
             |bands AS (SELECT doc_id, $duckBandKeys FROM sig)
             |SELECT band_key, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_doc_id
             |FROM bands GROUP BY band_key HAVING count(*) > 1 ORDER BY band_key""".stripMargin)),

    // ── 38a. packed 64-bit band keys, the kernel alone (r15 bkv=2) ────
    // One row per (doc, band): BandKeys64Expr's wrap-around fold
    // (acc = acc·M + h seeded with the band index, M the FNV-64 prime)
    // against DuckDB's HUGEINT-mod-2^64 replay — the direct proof that
    // every banding/candidate/store stage's key arithmetic matches the
    // oracle BEFORE any grouping hides single-key divergences.
    QueryDef(
      "q_band_pack",
      (s, d) => {
        val sig = t(s, d, "documents")
          .withColumn("_whs", TextHash.wordHashes(col("text")))
          .withColumn("_sig", TextHash.minhashSignature(col("_whs"), 8))
        sig.select(col("doc_id"),
            posexplode(TextHash.bandKeys64(col("_sig"), 4)).as(Seq("band", "band_key")))
          .withColumn("band", col("band").cast("int"))
          .orderBy(col("doc_id"), col("band")).limit(2000)
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
             |sig AS (SELECT doc_id, ${duckMinhashSig("h", 8)} AS s FROM w),
             |bands AS (SELECT doc_id, CAST(b AS INT) AS band,
             |  ${duckBandKey64("s[CAST(2*b+1 AS INT)]", "s[CAST(2*b+2 AS INT)]")} AS band_key
             |FROM sig, range(0,4) t(b))
             |SELECT doc_id, band, band_key FROM bands
             |ORDER BY doc_id, band LIMIT 2000""".stripMargin)),

    // ── 38b. one-permutation densified MinHash signature (OPH) ────────
    // Li/Owen/Zhang 2012 + Shrivastava & Li 2014 rotation densification:
    // ONE rehash per token into k bins (h mod k), empty bins borrow the
    // nearest non-empty bin rightward with a P·distance offset —
    // O(tokens+k) per doc vs classic MinHash's O(tokens·k). The twin
    // replays bin mins + densification with nested captured lambdas.
    QueryDef(
      "q_oph_sig",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("_whs", TextHash.wordHashes(col("text")))
          .select(col("doc_id"),
            array_join(TextHash.ophSignature(col("_whs"), 8), "_").as("sig"))
          .orderBy(col("doc_id"))
          .limit(200),
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
             |rh AS (SELECT doc_id, list_transform(h, x -> ${duckRehash(0)}) AS r FROM w),
             |bm AS (SELECT doc_id, list_transform(range(0,8),
             |  j -> list_min(list_filter(r, x -> x%8=j))) AS m FROM rh),
             |dens AS (SELECT doc_id, list_transform(range(0,8), j ->
             |  coalesce(
             |    m[CAST((j + list_min(list_filter(list_transform(range(0,8),
             |        d -> CASE WHEN m[CAST((j+d)%8 AS INT)+1] IS NOT NULL THEN d END),
             |        v -> v IS NOT NULL)))%8 AS INT)+1]
             |    + $duckP*list_min(list_filter(list_transform(range(0,8),
             |        d -> CASE WHEN m[CAST((j+d)%8 AS INT)+1] IS NOT NULL THEN d END),
             |        v -> v IS NOT NULL)),
             |    $duckP)) AS s FROM bm)
             |SELECT doc_id, array_to_string(s, '_') AS sig FROM dens
             |ORDER BY doc_id LIMIT 200""".stripMargin)),

    // ── 39. simhash (16-bit) ───────────────────────────────────────────
    QueryDef(
      "q_dedup_simhash",
      (s, d) =>
        Dedup.withSimhash(t(s, d, "documents"), "text")
          .select(col("doc_id"), col("simhash"))
          .orderBy(col("doc_id"))
          .limit(200),
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents)
             |SELECT doc_id, CAST(list_sum(list_transform(range(0,16), k ->
             |  CASE WHEN list_sum(list_transform(h, x ->
             |    CASE WHEN CAST(floor(x/pow(2,k)) AS BIGINT)%2=1 THEN 1 ELSE -1 END)) > 0
             |  THEN CAST(pow(2,k) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
             |FROM w ORDER BY doc_id LIMIT 200""".stripMargin)),

    // ── 40. n-gram Jaccard between consecutive docs (candidate pairs) ──
    QueryDef(
      "q_dedup_ngram",
      (s, d) => {
        // shingle sets are computed ONCE per doc before the self-join —
        // never per pair, and never re-inlined per reference
        val doc = t(s, d, "documents")
          .withColumn("_whs", TextHash.wordHashes(col("text")))
          .withColumn("_sh", array_distinct(TextHash.shingleHashes(col("_whs"))))
        val a = doc.select(col("doc_id"), col("_sh").as("sa"))
        val b = doc.select((col("doc_id") - 1).as("doc_id"), col("_sh").as("sb"))
        a.join(b, "doc_id")
          .select(col("doc_id"), round(TextHash.jaccard(col("sa"), col("sb")), 4).as("jac"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
             |sh AS (SELECT doc_id, list_distinct($duckSh3) AS s FROM w)
             |SELECT a.doc_id AS doc_id,
             |round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 'NaN'::DOUBLE
             |  ELSE len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s)))
             |END, 4) AS jac
             |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 ORDER BY a.doc_id""".stripMargin)),

    // ── 41. embedding cosine near-dup over candidate pairs ─────────────
    QueryDef(
      "q_neardup_cosine",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val a = e.select(col("vec_id"), col("embedding").as("ea"))
        val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("eb"))
        a.join(b, "vec_id")
          .select(col("vec_id"), round(Similarity.cosine(col("ea"), col("eb")), 4).as("cos"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings)
             |SELECT a.vec_id AS vec_id,
             |round(${duckCosine("a.embedding", "b.embedding")}, 4) AS cos
             |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1 ORDER BY a.vec_id""".stripMargin)),

    // ── 42. LSH-bucketed ANN top-k (deterministic LCG hyperplanes) ─────
    QueryDef(
      "q_similarity_lsh",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val withBucket = e.filter(col("vec_id") =!= 0)
          .withColumn("_bucket", Similarity.lshBucket(col("embedding"), dim = 64, bits = 4))
        val probe = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("p_emb"))
          .withColumn("_pbucket", Similarity.lshBucket(col("p_emb"), dim = 64, bits = 4))
        withBucket.join(broadcast(probe), col("_bucket") === col("_pbucket"))
          .select(col("vec_id"), round(Similarity.dot(col("embedding"), col("p_emb")), 4).as("dot"))
          .orderBy(col("dot").desc, col("vec_id"))
          .limit(5)
      },
      Some(s"""WITH $duckLshBuckets,
             |p AS (SELECT embedding AS pe, bucket AS pb FROM b WHERE vec_id = 0)
             |SELECT v.vec_id,
             |round(${duckDot("v.embedding", "p.pe")}, 4) AS dot
             |FROM b v, p WHERE v.vec_id <> 0 AND v.bucket = p.pb
             |ORDER BY dot DESC, v.vec_id LIMIT 5""".stripMargin)),

    // ── 42b. brute-force COSINE top-k (normalized; q_similarity_topk is
    // the dot-product form) ────────────────────────────────────────────
    QueryDef(
      "q_similarity_cosine",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("p_emb"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), round(Similarity.cosine(col("embedding"), col("p_emb")), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(5)
      },
      Some(s"""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0)
             |SELECT v.vec_id,
             |round(${duckCosine("v.embedding", "p.pe")}, 4) AS cos
             |FROM embeddings v, p WHERE v.vec_id <> 0
             |ORDER BY cos DESC, v.vec_id LIMIT 5""".stripMargin)),

    // ── 43. language-ID heuristic (marker-stopword argmax) ─────────────
    QueryDef(
      "q_text_langid",
      (s, d) => {
        // tokenize ONCE, then score every language in ONE fused pass
        // (LangScoresExpr) from the materialized token array — the
        // single-column langId form would re-split per profile, and the
        // per-profile filter-HOF form ran 4 interpreted passes/row
        val langs = TextAnalysis.stopwords.keys.toSeq.sorted
        val toks = t(s, d, "documents")
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
          .withColumn("_ls", TextAnalysis.langScoresOf(col("_toks")))
        val scored = langs.zipWithIndex.foldLeft(toks) { case (df, (l, i)) =>
          df.withColumn(s"_s_$l", element_at(col("_ls"), i + 1))
        }.withColumn("_best", langs.map(l => col(s"_s_$l")).reduce(greatest(_, _)))
        val pred = langs.foldRight(lit("und"): Column) { case (l, els) =>
          when(col(s"_s_$l") === col("_best") && col("_best") > 0, lit(l)).otherwise(els)
        }
        scored.withColumn("pred", pred)
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("lang"), col("pred"))
      },
      Some(s"""WITH p AS (${duckLangId("lang", "documents", "pred")})
             |SELECT lang, pred, CAST(count(*) AS BIGINT) AS cnt
             |FROM p GROUP BY lang, pred ORDER BY lang, pred""".stripMargin)),

    // ── 43b. language ID, Cavnar-Trenkle char-n-gram rank profiles ─────
    // The REAL langid (VERDICT r9 task #3): per doc, build the ranked
    // top-K char-n-gram profile (1..3-grams over padded lowercased
    // tokens) and sum rank displacement against each stock profile;
    // argmin wins, ties to the lexicographically-first language. The
    // twin replicates ranking + out-of-place arithmetic in SQL against
    // the SAME profile table (embedded as literals), so hash-matching
    // proves the codegen'd kernel end to end. Accuracy on real
    // multilingual text is ExtSpec's job (this corpus's text is
    // synthetic keyword soup — the twin proves arithmetic, not F1).
    QueryDef(
      "q_text_langid_ct",
      (s, d) => {
        val langs = graft.ext.LangId.profiles.map(_._1)
        // materialize distances ONCE (the langScoresOf lesson), then
        // argmin over the array slots. Null text filtered on BOTH sides:
        // the twin's string_split(NULL) unnests to zero rows (dropping
        // the doc) while Spark would emit pred='und' — excluded rather
        // than reconciled
        val dists = t(s, d, "documents")
          .filter(col("text").isNotNull)
          .withColumn("_d", graft.ext.LangId.distances(lower(col("text"))))
        val scored = langs.zipWithIndex.foldLeft(dists) { case (df, (l, i)) =>
          df.withColumn(s"_d_$l", element_at(col("_d"), i + 1))
        }.withColumn("_best", langs.map(l => col(s"_d_$l")).reduce(least(_, _)))
        val pred = langs.foldRight(lit("und"): Column) { case (l, els) =>
          when(col(s"_d_$l") === col("_best"), lit(l)).otherwise(els)
        }
        scored.withColumn("pred", pred)
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("lang"), col("pred"))
      },
      Some {
        val k = graft.ext.LangId.TopK
        val prof = graft.ext.LangId.profiles.flatMap { case (l, grams) =>
          grams.zipWithIndex.map { case (g, r) =>
            s"('$l','${g.replace("'", "''")}',$r)"
          }
        }.mkString(",")
        s"""WITH prof(plang, g, r) AS (VALUES $prof),
           |toks AS (
           |  SELECT doc_id, lang, ' '||t||' ' AS tok
           |  FROM (SELECT doc_id, lang, unnest(string_split(lower(text),' ')) AS t
           |        FROM documents WHERE text IS NOT NULL)),
           |grams AS (
           |  SELECT doc_id, lang, unnest(
           |    list_transform(range(len(tok)),   i -> tok[i+1 : i+1]) ||
           |    list_transform(range(len(tok)-1), i -> tok[i+1 : i+2]) ||
           |    list_transform(range(len(tok)-2), i -> tok[i+1 : i+3])) AS g
           |  FROM toks),
           |docprof AS (
           |  SELECT doc_id, lang, g, r FROM (
           |    SELECT doc_id, lang, g,
           |           row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g) - 1 AS r
           |    FROM grams GROUP BY doc_id, lang, g)
           |  WHERE r < $k),
           |dist AS (
           |  SELECT dp.doc_id, dp.lang, pl.plang,
           |         sum(CASE WHEN p.r IS NULL THEN $k ELSE abs(dp.r - p.r) END) AS d
           |  FROM docprof dp
           |  CROSS JOIN (SELECT DISTINCT plang FROM prof) pl
           |  LEFT JOIN prof p ON p.plang = pl.plang AND p.g = dp.g
           |  GROUP BY dp.doc_id, dp.lang, pl.plang),
           |best AS (
           |  SELECT lang, plang AS pred FROM (
           |    SELECT lang, plang,
           |           row_number() OVER (PARTITION BY doc_id ORDER BY d, plang) AS rn
           |    FROM dist) WHERE rn = 1)
           |SELECT lang, pred, CAST(count(*) AS BIGINT) AS cnt
           |FROM best GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
      }),

    // ── 44. text quality metrics ───────────────────────────────────────
    QueryDef(
      "q_text_quality",
      (s, d) => {
        // tokenize once, then raw counts materialized once; derived
        // metrics use the columns (same arithmetic as the TextAnalysis.*
        // single-column forms)
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
        t(s, d, "documents")
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
          .withColumn("_nw", TextAnalysis.wordCountOf(col("_toks")))
          .withColumn("_nstop", TextAnalysis.stopwordCountOf(col("_toks"), allStop))
          .withColumn("_npunct", length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long"))
          .withColumn("_nchars", length(col("text")).cast("long"))
          .select(
            col("doc_id"),
            col("_nw").as("n_words"),
            round((col("_nchars") - (col("_nw") - 1)).cast("double") / col("_nw").cast("double"), 4).as("awl"),
            round(col("_nstop").cast("double") / col("_nw").cast("double"), 4).as("swr"),
            round(
              least(col("_nw").cast("double") / 20.0, lit(1.0)) *
                greatest(lit(1.0) - (col("_npunct").cast("double") / col("_nchars").cast("double")) * 5.0, lit(0.0)) *
                least((col("_nstop").cast("double") / col("_nw").cast("double")) * 4.0, lit(1.0)),
              4).as("quality"))
          .orderBy(col("doc_id"))
          .limit(200)
      },
      Some(s"""WITH m AS (SELECT doc_id,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
             |  length(text) AS n_chars,
             |  len(list_filter(string_split(text,' '), w -> list_contains($duckStopAll, w))) AS n_stop,
             |  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
             |  FROM documents)
             |SELECT doc_id, n_words,
             |round(CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS awl,
             |round(CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS swr,
             |round(least(n_words / 20.0, 1.0)
             |  * greatest(1.0 - (CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 5.0, 0.0)
             |  * least((CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 4.0, 1.0), 4) AS quality
             |FROM m ORDER BY doc_id LIMIT 200""".stripMargin)),

    // ── 45. BPE-ish token counting ─────────────────────────────────────
    QueryDef(
      "q_token_count",
      (s, d) =>
        // one regex scan per document: materialize the count, then feed
        // the column to both aggregates (inline it twice and each row
        // pays two regexp_extract_all passes)
        t(s, d, "documents")
          .withColumn("_tc", TextAnalysis.tokenCount(col("text")))
          .groupBy(col("lang"))
          .agg(
            sum(col("_tc")).as("total_tokens"),
            round(avg(col("_tc")), 4).as("avg_tokens"))
          .orderBy(col("lang")),
      Some("""SELECT lang,
             |CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_tokens,
             |round(avg(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 4) AS avg_tokens
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ── 45b. BPE subword token counting (ext.Bpe codegen kernel). The
    // merge table is rank-monotone (Bpe.demoMerges scaladoc), so the
    // oracle replicates the min-rank merge loop as an in-rank-order
    // replace() chain over a '|c|'-delimited char encoding: delimiters
    // are owned per token (adjacent matches share no characters →
    // left-to-right non-overlapping replace ≡ leftmost-first BPE), and
    // the final token count is the delimiter-pair count. ──────────────
    QueryDef(
      "q_bpe_tokens",
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            ext.Bpe.tokenCount(col("text"), ext.Bpe.demoMerges).as("n_bpe"),
            size(split(col("text"), " ")).cast("long").as("n_words"))
          .orderBy(col("doc_id")),
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
             |), enc AS (
             |  SELECT doc_id,
             |    replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(
             |      regexp_replace(w, '(.)', '|\1|', 'g'),
             |      '|t||h|','|th|'), '|th||e|','|the|'),
             |      '|d||a|','|da|'), '|da||t|','|dat|'), '|dat||a|','|data|'),
             |      '|j||o|','|jo|'), '|jo||i|','|joi|'), '|joi||n|','|join|'),
             |      '|e||r|','|er|'), '|o||r|','|or|'), '|s||t|','|st|') AS e
             |  FROM words WHERE w <> ''
             |), wc AS (
             |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
             |  FROM documents
             |)
             |SELECT enc.doc_id,
             |  CAST(sum((length(e) - length(replace(e, '|', ''))) // 2) AS BIGINT) AS n_bpe,
             |  any_value(wc.n_words) AS n_words
             |FROM enc JOIN wc ON enc.doc_id = wc.doc_id
             |GROUP BY enc.doc_id ORDER BY enc.doc_id""".stripMargin)),

    // ── 45c. Unigram-LM subword scoring (ext.Unigram Viterbi codegen
    // kernel, SentencePiece unigram family): total −ln p and piece
    // count per document under the demo piece table. Words truncated
    // to 12 chars on BOTH engines so the twin's unrolled DP covers
    // every position; costs are exact sixteenths, so the doubles
    // compare bit-exactly (see unigramSql scaladoc). ──────────────────
    QueryDef(
      "q_unigram_score",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("_t", array_join(transform(
            split(coalesce(col("text"), lit("")), "\\s+"),
            w => substring(w, 1, 12)), " "))
          .withColumn("_sc",
            ext.Unigram.score(col("_t"), ext.Unigram.demoPieces))
          .select(col("doc_id"), col("_sc.cost").as("ug_cost"),
            col("_sc.n_pieces").as("n_pieces"))
          .orderBy(col("doc_id")),
      Some(unigramSql)),

    // ── 45d. Unigram scoring with BYTE FALLBACK (SentencePiece
    // --byte_fallback): uncovered chars pay 6.0 per UTF-8 byte and
    // count one piece per byte, so scoring is total on any input; a
    // planted multi-script doc (2-byte Latin accents, 3-byte Han)
    // exercises the arm while the ascii corpus proves in-table
    // segmentation is untouched. Twin: same unrolled DP with the k=1
    // arm swapped to 6145·octet_length (see unigramSqlImpl) ───────────
    QueryDef(
      "q_unigram_bf",
      (s, d) =>
        ugBfAug(s, d)
          .withColumn("_t", array_join(transform(
            split(coalesce(col("text"), lit("")), "\\s+"),
            w => substring(w, 1, 12)), " "))
          .withColumn("_sc",
            ext.Unigram.score(col("_t"), ext.Unigram.demoPieces,
              byteFallback = true))
          .select(col("doc_id"), col("_sc.cost").as("ug_cost"),
            col("_sc.n_pieces").as("n_pieces"))
          .orderBy(col("doc_id")),
      Some(unigramBfSql)),

    // ── 46. RANGE window frame (time-based: last-5-minutes running sum).
    // RANGE includes all peers of the current order value, so the result
    // is deterministic even on tied timestamps — no tie-break needed
    // inside the frame. ──────────────────────────────────────────────────
    QueryDef(
      "q_window_range_frame",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("sec"))
          .rangeBetween(-300, 0)
        events(s, d)
          .withColumn("sec", unix_timestamp(col("ts")))
          .withColumn("rsum", round(sum(col("value")).over(w), 4))
          .withColumn("rcnt", count(lit(1)).over(w))
          .select(col("event_id"), col("sec"), col("rsum"), col("rcnt"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, sec,
             |round(sum(value) OVER w, 4) AS rsum,
             |CAST(count(*) OVER w AS BIGINT) AS rcnt
             |FROM (SELECT event_id, user_id, value, epoch_ns(ts) // 1000000000 AS sec
             |      FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY sec
             |             RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // ── 46b. Holt linear-trend smoothing (Fill.holtLinear) over per-
    // type daily sums: exact-decimal day totals feed a fixed-op-order
    // recurrence (α=.5, β=.25 — both engines derive the constants from
    // the same integers), so levels/trends/forecasts are bit-identical;
    // the twin replays the recurrence as a recursive CTE ──────────────
    QueryDef(
      "q_holt_trend",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("_day"))
          .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("y"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("_day"))
        graft.operators.Fill.holtLinear(daily,
            Seq("event_type"), Seq("_day"), "y", alphaPct = 50, betaPct = 25)
          .withColumn("rn", row_number().over(w).cast("long"))
          .select(col("event_type"), col("rn"), col("y"),
            col("holt_level"), col("holt_trend"), col("holt_next"))
          .orderBy(col("event_type"), col("rn"))
      },
      Some("""WITH RECURSIVE d AS (SELECT event_type,
             |  CAST(date_trunc('day', ts) AS DATE) AS day,
             |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
             |  FROM events GROUP BY 1, 2),
             |o AS (SELECT *, row_number() OVER (PARTITION BY event_type
             |  ORDER BY day) AS rn FROM d),
             |rec AS (
             |  SELECT event_type, rn, y, y AS l, CAST(0 AS DOUBLE) AS b
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.event_type, o.rn, o.y,
             |    0.5*o.y + 0.5*(rec.l + rec.b) AS l,
             |    0.25*((0.5*o.y + 0.5*(rec.l + rec.b)) - rec.l) + 0.75*rec.b AS b
             |  FROM rec JOIN o ON o.event_type = rec.event_type
             |    AND o.rn = rec.rn + 1)
             |SELECT event_type, CAST(rn AS BIGINT) AS rn, y,
             |l AS holt_level, b AS holt_trend, l + b AS holt_next
             |FROM rec ORDER BY event_type, rn""".stripMargin)),

    // ── 46c. Holt-Winters additive seasonal smoothing (Fill.holtWinters,
    // period 7 over per-type daily sums — four full weekly cycles at
    // sf0.01) plus residual anomaly flags: resid_t = y_t − forecast made
    // at t−1; a day is anomalous when |resid| exceeds 3× the per-key mean
    // absolute residual, tested division-free in floor-pinned integer
    // micro-units so both engines agree bit-for-bit. Twin: recursive CTE
    // with the seasonal history as a LIST column (see holtWintersSql). ──
    QueryDef(
      "q_holt_winters",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("_day"))
          .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("y"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("_day"))
        val hw = graft.operators.Fill.holtWinters(daily,
            Seq("event_type"), Seq("_day"), "y", period = 7,
            alphaPct = 50, betaPct = 25, gammaPct = 50)
          .withColumn("rn", row_number().over(w).cast("long"))
        val wk = Window.partitionBy(col("event_type"))
        val wo = Window.partitionBy(col("event_type")).orderBy(col("rn"))
        // residuals floor-pinned to integer MICRO-units (floor(x*1e6+.5)
        // is the same IEEE ops on the same doubles in both engines —
        // unlike round(double, 6), whose shortest-repr HALF_UP in Spark
        // can disagree with DuckDB's exact-binary rounding at .5
        // boundaries); the anomaly test then runs in exact integers
        hw.withColumn("_resid6",
            floor((col("y") - lag(col("hw_next"), 1).over(wo)) * 1000000.0 + 0.5)
              .cast("long"))
          .withColumn("_sumabs", sum(abs(col("_resid6"))).over(wk))
          .withColumn("_cnt", count(col("_resid6")).over(wk))
          .withColumn("anom",
            when(col("_resid6").isNotNull &&
                 abs(col("_resid6")) * col("_cnt") > lit(3) * col("_sumabs"), 1L)
              .otherwise(0L))
          .select(col("event_type"), col("rn"), col("y"),
            col("hw_level"), col("hw_trend"), col("hw_season"), col("hw_next"),
            col("_resid6").as("resid_e6"), col("anom"))
          .orderBy(col("event_type"), col("rn"))
      },
      Some(holtWintersSql)),

    // ── 46d. Seasonality-period detection (Fill.detectPeriod) — the
    // companion of q_holt_winters' period parameter: division-free
    // exact-decimal autocovariance per lag over one shared support
    // window, argmax flagged (ties to the smallest lag). Both engines
    // compute identical DECIMALs, so even the tie-break agrees. ───────
    QueryDef(
      "q_detect_period",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("_day"))
          .agg(sum(col("value").cast("decimal(18,6)")).as("y"))
        graft.operators.Fill.detectPeriod(daily,
            Seq("event_type"), Seq("_day"), "y", minLag = 2, maxLag = 10)
          .select(col("event_type"), col("lag").cast("long").as("lag"),
            col("acov").cast("double").as("acov"), col("is_best"))
          .orderBy(col("event_type"), col("lag"))
      },
      Some(detectPeriodSql)),

    // ── 47. map functions end-to-end: build a real MapType column (from
    // JSON + from scalars), then map_keys / map_values / transform_values
    // / map_filter / element_at consume it. The oracle verifies the same
    // VALUES from the base columns (DuckDB needs no MAP type for that). ──
    QueryDef(
      "q_map_funcs",
      (s, d) =>
        events(s, d)
          .withColumn("mj", from_json(col("props"), MapType(StringType, LongType)))
          .withColumn("m", map(
            lit("k"), element_at(col("mj"), "k"),
            lit("u"), col("user_id"),
            lit("v100"), floor(col("value") * 100).cast("long")))
          .withColumn("tv", transform_values(col("m"), (_, v) => v * 2))
          .withColumn("mf", map_filter(col("m"), (_, v) => v > 50))
          .select(
            col("event_id"),
            concat_ws(",", array_sort(map_keys(col("m")))).as("keys_csv"),
            aggregate(map_values(col("m")), lit(0L), (acc, v) => acc + v).as("vsum"),
            element_at(col("tv"), lit("v100")).as("v100_x2"),
            size(col("mf")).cast("long").as("n_over50"))
          .orderBy(col("event_id"))
          .limit(300),
      Some("""SELECT event_id, 'k,u,v100' AS keys_csv,
             |CAST(json_extract(props, '$.k') AS BIGINT) + user_id
             |  + CAST(floor(value * 100) AS BIGINT) AS vsum,
             |CAST(floor(value * 100) AS BIGINT) * 2 AS v100_x2,
             |CAST((CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50 THEN 1 ELSE 0 END)
             |  + (CASE WHEN user_id > 50 THEN 1 ELSE 0 END)
             |  + (CASE WHEN CAST(floor(value * 100) AS BIGINT) > 50 THEN 1 ELSE 0 END)
             |  AS BIGINT) AS n_over50
             |FROM events ORDER BY event_id LIMIT 300""".stripMargin)),

    // ── 48. IVF ANN, oracle-proven: deterministic coarse k-means (init =
    // k lowest vec_ids, 2 Lloyd rounds, ties to lower cell), probe the 2
    // nearest cells, dot-product top-5. The DuckDB twin unrolls the same
    // two rounds in SQL (element-wise means via generate_series). ────────
    QueryDef(
      "q_ivf_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        // spreadInit=false pinned: the DuckDB twin's c0 seeds by
        // `ORDER BY vec_id LIMIT 4` (id order) — xxhash64 seeding has
        // no SQL twin. Library default is the spread init.
        val centroids = graft.ext.Ivf.train(e, "vec_id", "embedding", k = 4, iters = 2,
          spreadInit = false)
        val probe = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
        graft.ext.Ivf.topKIndexed(
            graft.ext.Ivf.withCell(e.filter(col("vec_id") =!= 0), "embedding", centroids),
            "embedding", centroids, probe, k = 5, nprobe = 2)
          .select(col("vec_id"), round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
      },
      Some(s"""WITH ${duckKmeans("TRUE", 2)},
             |probe AS (SELECT e AS pe FROM emb WHERE vec_id = 0),
             |pc AS (
             |  SELECT c.cid FROM c2 c, probe p
             |  ORDER BY list_sum(list_transform(range(1, 65),
             |    i -> (c.e[i] - p.pe[i]) * (c.e[i] - p.pe[i]))), c.cid
             |  LIMIT 2),
             |af AS (
             |  ${duckAssign("(SELECT * FROM emb WHERE vec_id <> 0)", "c2")})
             |SELECT vec_id, round(dot, 4) AS score FROM (
             |  SELECT v.vec_id,
             |    list_sum(list_transform(range(1, 65), i -> v.e[i] * p.pe[i])) AS dot
             |  FROM af JOIN emb v USING (vec_id), probe p
             |  WHERE af.cell IN (SELECT cid FROM pc))
             |ORDER BY dot DESC, vec_id LIMIT 5""".stripMargin)),

    // ── 48b. IVF tombstone delete under the oracle gate: a REAL
    // committed index built in-query, ids masked by a tombstone
    // segment (anti-join at read), one id resurrected by a later
    // append (LSM ordering), then compaction drops masked rows
    // physically — both phases must equal the plain SQL id list ──────
    QueryDef(
      "q_ivf_delete",
      (s, d) => {
        import graft.ext.Ivf
        val root = scratchDir("q-ivf-delete")
          .resolve("index").toString
        val base = t(s, d, "embeddings").filter(col("vec_id") < 120)
        Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 4, iters = 1)
        Ivf.deleteFromIndexAtomic(
          base.filter(pmod(col("vec_id"), lit(7)) === 0).select("vec_id"), root)
        Ivf.appendToIndexAtomic(base.filter(col("vec_id") === 14), "embedding", root)
        val masked = Ivf.readIndex(s, root)
          .select(col("vec_id"), lit("masked").as("phase"))
        Ivf.compactIndexAtomic(s, root)
        // masked's plan resolved the PRE-compact segment dirs eagerly;
        // they survive compaction (only vacuum destroys them), so both
        // phases evaluate correctly from the one returned frame
        val compacted = Ivf.readIndex(s, root)
          .select(col("vec_id"), lit("compacted").as("phase"))
        masked.unionByName(compacted).orderBy(col("phase"), col("vec_id"))
      },
      Some("""WITH ids AS (SELECT vec_id FROM embeddings
             |  WHERE vec_id < 120 AND (vec_id % 7 <> 0 OR vec_id = 14))
             |SELECT vec_id, phase
             |FROM ids CROSS JOIN (VALUES ('masked'), ('compacted')) p(phase)
             |ORDER BY phase, vec_id""".stripMargin)),

    // ── 48c. IVF quantizer refresh from the committed segments
    // (Ivf.retrainAtomic): build → delete → resurrect-append → retrain
    // in-query; the emitted (vec_id, cell) assignment must equal the
    // DuckDB twin's kmeans run from scratch over the SURVIVING ids
    // (id-order seeding, two Lloyd rounds) — proving the refresh is
    // exactly a rebuild on the resolved rows, tombstones excluded,
    // without re-reading any source corpus ─────────────────────────────
    QueryDef(
      "q_ivf_retrain",
      (s, d) => {
        import graft.ext.Ivf
        val root = scratchDir("q-ivf-retrain")
          .resolve("index").toString
        val base = t(s, d, "embeddings").filter(col("vec_id") < 120)
        Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 4, iters = 1,
          spreadInit = false)
        Ivf.deleteFromIndexAtomic(
          base.filter(pmod(col("vec_id"), lit(7)) === 0).select("vec_id"), root)
        Ivf.appendToIndexAtomic(base.filter(col("vec_id") === 14), "embedding", root)
        val (_, dir) = Ivf.retrainAtomic(s, root, "vec_id", "embedding",
          k = 4, iters = 2, spreadInit = false)
        s.read.parquet(dir)
          .select(col("vec_id"), col("ivf_cell").cast("int").as("cell"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH ${duckKmeans("vec_id < 120 AND (vec_id % 7 <> 0 OR vec_id = 14)", 2)},
             |af AS (
             |  ${duckAssign("emb", "c2")})
             |SELECT vec_id, cell FROM af ORDER BY vec_id""".stripMargin)),

    // ── 48d'. IVF census (Ivf.indexCellCounts): per-cell row counts of
    // a LIVE committed composition — build, tombstone-delete,
    // resurrect-append — read from the commit MANIFEST's census line
    // (r15: writers fold the running total, delete segments contribute
    // negative deltas; pre-r15 fallback sums the _census sidecars),
    // never scanning the index. The DuckDB twin replays the same
    // quantizer (1 Lloyd round on the FULL base — the delete doesn't
    // retrain) and counts the surviving rows per assigned cell ────────
    QueryDef(
      "q_ivf_census",
      (s, d) => {
        import graft.ext.Ivf
        val root = scratchDir("q-ivf-census")
          .resolve("index").toString
        val base = t(s, d, "embeddings").filter(col("vec_id") < 120)
        Ivf.saveIndexAtomic(base, "vec_id", "embedding", root, k = 4, iters = 1,
          spreadInit = false)
        Ivf.deleteFromIndexAtomic(
          base.filter(pmod(col("vec_id"), lit(7)) === 0).select("vec_id"), root)
        Ivf.appendToIndexAtomic(base.filter(col("vec_id") === 14), "embedding", root)
        import s.implicits._
        Ivf.indexCellCounts(s, root).toSeq.toDF("cell", "n")
          .select(col("cell"), col("n"))
          .orderBy(col("cell"))
      },
      Some(s"""WITH ${duckKmeans("vec_id < 120", 1)},
             |af AS (
             |  ${duckAssign("(SELECT * FROM emb WHERE vec_id % 7 <> 0 OR vec_id = 14)", "c1")})
             |SELECT cell, CAST(count(*) AS BIGINT) AS n
             |FROM af GROUP BY cell ORDER BY cell""".stripMargin)),

    // ── 48d. IVF budget probing (Ivf.topKJoinBudget): probe cells
    // nearest-first until the rows they hold reach a SCAN budget (40%
    // of the corpus here), then dot-product top-5 — per-probe cost a
    // constant under cell skew instead of a fixed nprobe. The DuckDB
    // twin recomputes the census and the exclusive running-count
    // prefix with a window over the same (distance, cid) order ───────────
    QueryDef(
      "q_ivf_budget",
      (s, d) => {
        import graft.ext.Ivf
        val e = t(s, d, "embeddings")
        val centroids = Ivf.train(e, "vec_id", "embedding", k = 4, iters = 2,
          spreadInit = false)
        val probes = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        val corpus = Ivf.withCell(e.filter(col("vec_id") >= 3), "embedding", centroids)
        val counts = Ivf.cellCounts(corpus)
        val budget = (counts.values.sum * 2) / 5
        Ivf.topKJoinBudget(corpus, "embedding", centroids, counts,
            probes, "probe_id", "p_emb", k = 5, maxScanRows = budget,
            tieBreak = Seq("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            round(col("score"), 4).as("score"))
          .orderBy(col("probe_id"), col("score").desc, col("vec_id"))
      },
      Some(s"""WITH ${duckKmeans("TRUE", 2)},
             |af AS (
             |  ${duckAssign("(SELECT * FROM emb WHERE vec_id >= 3)", "c2")}),
             |cc AS (SELECT cell, count(*) AS n FROM af GROUP BY cell),
             |b AS (SELECT CAST(sum(n) * 2 // 5 AS BIGINT) AS budget FROM cc),
             |p AS (SELECT vec_id AS probe_id, e FROM emb WHERE vec_id < 3),
             |pd AS (
             |  SELECT p.probe_id, c.cid,
             |    list_sum(list_transform(range(1, 65),
             |      i -> (c.e[i] - p.e[i]) * (c.e[i] - p.e[i]))) AS d,
             |    COALESCE(cc.n, 0) AS n
             |  FROM p CROSS JOIN c2 c LEFT JOIN cc ON cc.cell = c.cid),
             |pc AS (
             |  SELECT probe_id, cid FROM (
             |    SELECT probe_id, cid,
             |      COALESCE(sum(n) OVER (PARTITION BY probe_id ORDER BY d, cid
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bf
             |    FROM pd)
             |  WHERE bf < (SELECT budget FROM b))
             |SELECT probe_id, vec_id, round(dot, 4) AS score FROM (
             |  SELECT probe_id, vec_id, dot,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY dot DESC, vec_id) AS rn
             |  FROM (
             |    SELECT pc.probe_id, v.vec_id,
             |      list_sum(list_transform(range(1, 65),
             |        i -> v.e[i] * p.e[i])) AS dot
             |    FROM af JOIN pc ON af.cell = pc.cid
             |    JOIN emb v USING (vec_id)
             |    JOIN p ON p.probe_id = pc.probe_id))
             |WHERE rn <= 5
             |ORDER BY probe_id, score DESC, vec_id""".stripMargin)),

    // ── 49. full outer join (group-level, sparse sides at small SF) ────
    QueryDef(
      "q_join_outer",
      (s, d) => {
        val a = t(s, d, "customer").filter(col("c_acctbal") > 9000)
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
        val b = t(s, d, "supplier").filter(col("s_acctbal") > 9000)
          .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
        a.join(b, a("c_nationkey") === b("s_nationkey"), "full_outer")
          .select(
            coalesce(a("c_nationkey"), b("s_nationkey")).as("nkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy(col("nkey"))
      },
      Some("""SELECT COALESCE(a.c_nationkey, b.s_nationkey) AS nkey,
             |CAST(COALESCE(n_cust, 0) AS BIGINT) AS n_cust,
             |CAST(COALESCE(n_supp, 0) AS BIGINT) AS n_supp
             |FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer
             |      WHERE c_acctbal > 9000 GROUP BY c_nationkey) a
             |FULL OUTER JOIN
             |     (SELECT s_nationkey, count(*) AS n_supp FROM supplier
             |      WHERE s_acctbal > 9000 GROUP BY s_nationkey) b
             |ON a.c_nationkey = b.s_nationkey
             |ORDER BY nkey""".stripMargin)),

    // ── 50. pivot (explicit value list: one pass, no values-collect job) ─
    QueryDef(
      "q_pivot",
      (s, d) =>
        t(s, d, "orders")
          .groupBy(col("o_orderstatus"))
          .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))
          .agg(count(lit(1)))
          .select(
            col("o_orderstatus"),
            coalesce(col("`1-URGENT`"), lit(0L)).as("n_urgent"),
            coalesce(col("`2-HIGH`"), lit(0L)).as("n_high"),
            coalesce(col("`3-MEDIUM`"), lit(0L)).as("n_medium"))
          .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus,
             |count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
             |count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
             |count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ── 51. unpivot / melt ─────────────────────────────────────────────
    QueryDef(
      "q_unpivot",
      (s, d) => {
        val agg = t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            decSum(col("l_quantity"), 2).as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_price"))
        agg.unpivot(
            Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_price")),
            "metric", "val")
          .orderBy(col("l_returnflag"), col("metric"))
      },
      Some("""WITH agg AS (SELECT l_returnflag,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM agg
             |UNION ALL
             |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS val FROM agg
             |ORDER BY l_returnflag, metric""".stripMargin)),

    // ── 52. scalar subquery (exact: integer max, no float boundary) ────
    QueryDef(
      "q_subquery_scalar",
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("li_sq")
        s.sql("""SELECT l_orderkey, l_linenumber FROM li_sq
                |WHERE l_quantity = (SELECT max(l_quantity) FROM li_sq)
                |ORDER BY l_orderkey, l_linenumber""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE l_quantity = (SELECT max(l_quantity) FROM lineitem)
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ── 53. correlated LATERAL subquery (top-1 order per customer) ─────
    QueryDef(
      "q_lateral",
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("c_lat")
        t(s, d, "orders").createOrReplaceTempView("o_lat")
        s.sql("""SELECT c_custkey, t.o_orderkey, t.o_totalprice
                |FROM c_lat, LATERAL (
                |  SELECT o_orderkey, o_totalprice FROM o_lat
                |  WHERE o_custkey = c_custkey
                |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, t.o_orderkey, t.o_totalprice
             |FROM customer, LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
             |ORDER BY c_custkey""".stripMargin)),

    // ── 54. distribution windows: ntile / percent_rank / cume_dist ─────
    // total order inside each partition (tie-break by o_orderkey) so the
    // rank-derived ratios are the same exact integer divisions in both
    // engines — no peer-group ambiguity
    QueryDef(
      "q_window_ntile",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |ntile(4) OVER w AS quartile,
             |percent_rank() OVER w AS pr,
             |cume_dist() OVER w AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // ── 55. conditional aggregation (FILTER / count_if) ────────────────
    QueryDef(
      "q_conditional_agg",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count_if(col("l_quantity") > 25).as("n_big"),
            decSum(when(col("l_discount") > 0.05, col("l_extendedprice")).otherwise(lit(0)), 2)
              .as("disc_price"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |count(*) FILTER (WHERE l_quantity > 25) AS n_big,
             |CAST(sum(CAST(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END
             |  AS DECIMAL(18,2))) AS DOUBLE) AS disc_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ── 56. array aggregation (sorted collect_list; emitted as a joined
    // string — array-typed outputs don't survive every comparator) ─────
    QueryDef(
      "q_collect_list",
      (s, d) =>
        t(s, d, "orders").filter(col("o_totalprice") > 400000)
          .groupBy(col("o_orderpriority"))
          .agg(
            array_join(
              transform(array_sort(collect_list(col("o_orderkey"))), k => k.cast("string")),
              ",").as("okeys"))
          .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
             |string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS okeys
             |FROM orders WHERE o_totalprice > 400000
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ── 57. composed training-data pipeline (gate → langid → exact
    // dedup → minhash near-dup removal → per-language stats) ───────────
    QueryDef(
      "q_doc_pipeline",
      (s, d) =>
        graft.ext.DocPipeline.prepare(t(s, d, "documents"), minWords = 30)
          .groupBy(col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"))
          .orderBy(col("lang_pred")),
      Some(s"""WITH ${duckPrepFunnel("", "TRUE")}
             |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
             |CAST(sum(n_words) AS BIGINT) AS sum_words
             |FROM acc GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)),

    // ── 57b. capped signature-store verification (r15): bottom-16
    // shingle sketches (the KMV / bottom-k MinHash sketch of the
    // shingle SET — the O(m) store payload replacing the O(doc tokens)
    // full set) + the KMV Jaccard ESTIMATE |X∩A∩B|/|X| over star
    // candidates — sketch construction, banding and the estimator all
    // proven cross-engine. m=16 < most docs' shingle count at this sf,
    // so the cap (m_a ≤ 16) and the estimate-vs-exact distinction are
    // genuinely exercised ──────────────────────────────────────────────
    QueryDef(
      "q_sig_sketch",
      (s, d) => {
        val sigs = graft.ext.DocPipeline.signatures(
          t(s, d, "documents"), "doc_id", "text", minhashK = 8, bands = 4,
          maxShingles = 16)
        val banded = sigs.select(col("doc_id"), explode(col("band_keys")).as("band_key"))
        val bmin = banded.groupBy(col("band_key")).agg(min(col("doc_id")).as("dup_of"))
        val cand = banded.join(bmin, "band_key")
          .filter(col("doc_id") > col("dup_of"))
          .select(col("doc_id"), col("dup_of")).distinct()
        val sk = sigs.select(col("doc_id"), col("shingles"))
        cand
          .join(sk.select(col("doc_id"), col("shingles").as("_a")), Seq("doc_id"))
          .join(sk.select(col("doc_id").as("dup_of"), col("shingles").as("_b")),
            Seq("dup_of"))
          .select(col("doc_id"), col("dup_of"),
            e4(TextHash.jaccardKmv(col("_a"), col("_b"), 16)).as("j_e4"),
            size(col("_a")).cast("long").as("m_a"))
          .orderBy(col("doc_id"), col("dup_of"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
             |sig AS (SELECT doc_id, ${duckMinhashSig("h", 8)} AS s FROM w),
             |bands AS (SELECT doc_id, $duckBandKeys FROM sig),
             |bmin AS (SELECT band_key, min(doc_id) AS dup_of FROM bands GROUP BY band_key),
             |cand AS (SELECT DISTINCT b.doc_id, dup_of FROM bands b
             |  JOIN bmin USING (band_key) WHERE b.doc_id > dup_of),
             |sk AS (SELECT doc_id, list_slice(list_sort(list_distinct($duckSh3)), 1, 16) AS sk
             |  FROM w),
             |est AS (SELECT c.doc_id, c.dup_of,
             |  list_slice(list_sort(list_distinct(list_concat(a.sk, b.sk))), 1, 16) AS x,
             |  a.sk AS ska, b.sk AS skb, len(a.sk) AS m_a
             |  FROM cand c JOIN sk a ON a.doc_id = c.doc_id
             |              JOIN sk b ON b.doc_id = c.dup_of)
             |SELECT doc_id, dup_of,
             |CAST(floor(len(list_intersect(x, list_intersect(ska, skb))) * 1.0
             |  / len(x) * 10000.0 + 0.5) AS BIGINT) AS j_e4,
             |CAST(m_a AS BIGINT) AS m_a
             |FROM est ORDER BY doc_id, dup_of""".stripMargin)),

    // ── 57b2. all-pairs candidate completion (r15,
    // prepare(allPairsMaxBucket)): star ∪ path ∪ every in-bucket pair
    // of buckets with 3..8 members — the bounded O(b²) escape hatch
    // for true pairs sitting NON-ADJACENT in every shared bucket
    // (§7.8's measured ~2.8% adjacency leak). The emitted candidate
    // set (not the funnel) is compared, so blocking itself is proven
    // cross-engine ──────────────────────────────────────────────────
    QueryDef(
      "q_allpairs_cand",
      (s, d) => {
        val sigs = graft.ext.DocPipeline.signatures(
          t(s, d, "documents"), "doc_id", "text", minhashK = 8, bands = 4)
        val banded = sigs.select(col("doc_id"), explode(col("band_keys")).as("band_key"))
        val bmin = banded.groupBy(col("band_key")).agg(min(col("doc_id")).as("dup_of"))
        val star = banded.join(bmin, "band_key")
          .filter(col("doc_id") > col("dup_of"))
          .select(col("doc_id"), col("dup_of"))
        val byB = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_key")).orderBy(col("doc_id"))
        val path = banded.withColumn("_p", lag(col("doc_id"), 1).over(byB))
          .filter(col("_p").isNotNull)
          .select(col("doc_id"), col("_p").as("dup_of"))
        val sizes = banded.groupBy(col("band_key"))
          .agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") > 2 && col("_bn") <= 8)
          .select(col("band_key"))
        val small = banded.join(sizes, Seq("band_key"))
        val ap = small
          .join(small.select(col("band_key"), col("doc_id").as("dup_of")),
            Seq("band_key"))
          .filter(col("doc_id") > col("dup_of"))
          .select(col("doc_id"), col("dup_of"))
        star.union(path).union(ap).distinct()
          .orderBy(col("doc_id"), col("dup_of"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
             |sig AS (SELECT doc_id, ${duckMinhashSig("h", 8)} AS s FROM w),
             |bands AS (SELECT doc_id, $duckBandKeys FROM sig),
             |bmin AS (SELECT band_key, min(doc_id) AS m FROM bands GROUP BY band_key),
             |star AS (SELECT b.doc_id, m AS dup_of FROM bands b
             |  JOIN bmin USING (band_key) WHERE b.doc_id > m),
             |pth AS (SELECT doc_id, p AS dup_of FROM (
             |  SELECT doc_id, lag(doc_id) OVER (
             |    PARTITION BY band_key ORDER BY doc_id) AS p FROM bands)
             |  WHERE p IS NOT NULL),
             |sizes AS (SELECT band_key FROM (
             |  SELECT band_key, count(*) AS n FROM bands GROUP BY band_key)
             |  WHERE n > 2 AND n <= 8),
             |small AS (SELECT b.* FROM bands b JOIN sizes USING (band_key)),
             |ap AS (SELECT a.doc_id, b.doc_id AS dup_of
             |  FROM small a JOIN small b USING (band_key)
             |  WHERE a.doc_id > b.doc_id)
             |SELECT DISTINCT doc_id, dup_of FROM (
             |  SELECT * FROM star UNION ALL SELECT * FROM pth
             |  UNION ALL SELECT * FROM ap)
             |ORDER BY doc_id, dup_of""".stripMargin)),

    // ── 57c. capped-verification doc pipeline (r15): the full prepare
    // funnel with maxShingles = 16 — stage-5b ships bottom-16 sketches
    // instead of full shingle sets and drops on the KMV estimate; the
    // DuckDB twin replays gates, langid, exact dedup, star∪path
    // candidates, the sketch AND the estimator, so the whole capped
    // discipline is cross-engine exact end to end ─────────────────────
    QueryDef(
      "q_doc_pipeline_kmv",
      (s, d) =>
        graft.ext.DocPipeline.prepare(t(s, d, "documents"), minWords = 30,
          maxShingles = 16)
          .groupBy(col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"))
          .orderBy(col("lang_pred")),
      Some(s"""WITH ${duckPrepFunnel("", "TRUE", maxShingles = 16)}
             |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
             |CAST(sum(n_words) AS BIGINT) AS sum_words
             |FROM acc GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)),

    // ── 57d. incremental dedup vs a persisted signature store (r15):
    // the store is built from half the corpus (prepare → signatures on
    // even doc_ids), the other half arrives as a batch through
    // prepareIncremental — exact fp anti-join, NEW×STORED band-key
    // candidates UNDER THE HUB-KEY GUARD, shingle-Jaccard verify. The
    // DuckDB twin replays BOTH funnels and the cross-store stages, so
    // the entire incremental path — the one the r15 store-side exchange
    // discipline rewired — is proven cross-engine, not just
    // spec-covered. maxStoreBandDf = 100 is load-bearing here, and its
    // SQL replication makes this the guard's first cross-engine proof:
    // the synthetic corpus's shared vocabulary collapses four band keys
    // into store-sized hubs (df ≈ 1,500 of ~2,400 stored docs), and the
    // unguarded NEW×STORED join feeds 3.64M candidate pairs to
    // verification where the guard leaves 10,494 (347×) — the hub-day
    // phenomenon (§7.8 #3) reproduced organically at sf0.1 ────────────
    QueryDef(
      "q_incremental_dedup",
      (s, d) => {
        val docs = t(s, d, "documents")
        // materialize the store once, as production does (a persisted
        // store is a parquet scan per reference; an UNCUT derived frame
        // would re-run the whole store-side funnel at each of the
        // incremental path's store reads — measured 14.1 s vs 3-4 s at
        // sf0.1). prepareSignatures (r19) = signatures∘prepare fused:
        // same rows, one tokenization pass instead of two, enrichment
        // columns pruned out of the store build
        val store = graft.core.Checkpoints.cut(
          graft.ext.DocPipeline.prepareSignatures(
            docs.filter(pmod(col("doc_id"), lit(2L)) === 0), minWords = 30))
        graft.ext.DocPipeline.prepareIncremental(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1), store, minWords = 30,
          maxStoreBandDf = 100L)
          .groupBy(col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"))
          .orderBy(col("lang_pred"))
      },
      Some {
        // funnel + incremental stage now live in [[duckPrepFunnel]] /
        // [[duckIncrStage]] (shared with q_sharded_dedup): _s = store
        // half, _b = batch half, inc = the accepted batch rows
        s"""WITH ${duckPrepFunnel("_s", "doc_id % 2 = 0")},
           |${duckPrepFunnel("_b", "doc_id % 2 = 1")},
           |${duckIncrStage("", "_s", "_b", 100)}
           |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
           |CAST(sum(n_words) AS BIGINT) AS sum_words
           |FROM inc
           |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
      }),

    // ── 57b. SHARDED incremental dedup (r16): the store split into
    // independent per-shard dedup domains routed by a pure key
    // function — the contract query for streamIncrementalSharded.
    // shard = (doc_id // 2) % 2 (store/batch split stays doc_id % 2),
    // so copies of a text in different shards are NOT deduped against
    // each other: the oracle replays the full funnel + incremental
    // stage once per shard and unions — proving both the per-shard
    // semantics and, by construction, the cross-shard independence. ───
    QueryDef(
      "q_sharded_dedup",
      (s, d) => {
        val docs = t(s, d, "documents")
        val isBatch = pmod(col("doc_id"), lit(2L)) === 1
        def shardIs(sh: Long) =
          pmod(floor(col("doc_id") / lit(2)).cast("long"), lit(2L)) === sh
        (0L to 1L).map { sh =>
          // prepareSignatures (r19): signatures∘prepare fused — one
          // tokenization pass per shard store instead of two
          val store = graft.core.Checkpoints.cut(
            graft.ext.DocPipeline.prepareSignatures(
              docs.filter(!isBatch && shardIs(sh)), minWords = 30))
          graft.ext.DocPipeline.prepareIncremental(
            docs.filter(isBatch && shardIs(sh)), store, minWords = 30,
            maxStoreBandDf = 100L)
            .withColumn("shard", lit(sh))
        }.reduce(_ unionByName _)
          .groupBy(col("shard"), col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"))
          .orderBy(col("shard"), col("lang_pred"))
      },
      Some(
        s"""WITH ${duckPrepFunnel("_s0", "doc_id % 2 = 0 AND (doc_id // 2) % 2 = 0")},
           |${duckPrepFunnel("_b0", "doc_id % 2 = 1 AND (doc_id // 2) % 2 = 0")},
           |${duckPrepFunnel("_s1", "doc_id % 2 = 0 AND (doc_id // 2) % 2 = 1")},
           |${duckPrepFunnel("_b1", "doc_id % 2 = 1 AND (doc_id // 2) % 2 = 1")},
           |${duckIncrStage("_x0", "_s0", "_b0", 100)},
           |${duckIncrStage("_x1", "_s1", "_b1", 100)}
           |SELECT shard, lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
           |CAST(sum(n_words) AS BIGINT) AS sum_words FROM (
           |  SELECT CAST(0 AS BIGINT) AS shard, lang_pred, n_words FROM inc_x0
           |  UNION ALL
           |  SELECT CAST(1 AS BIGINT) AS shard, lang_pred, n_words FROM inc_x1)
           |GROUP BY shard, lang_pred ORDER BY shard, lang_pred""".stripMargin)),

    // ── 58. corpus-wide embedding near-dup candidates: LSH-bucket
    // SELF-join blocking (bucket-min) + cosine verify — the missing
    // operator round 2 flagged; the unfiltered pair set is emitted so
    // the oracle checks bucketing, blocking AND scoring end to end.
    // Score quantized via explicit FP floor(x*1e4+0.5), NOT round():
    // Spark rounds doubles through decimal HALF_UP while DuckDB rounds
    // in binary FP, so engine-native round() flips the 4th decimal on
    // midpoint-representable cosines (round-3 hash mismatch); floor and
    // multiply are IEEE-identical given identical input doubles ───────
    QueryDef(
      "q_neardup_lsh",
      (s, d) =>
        Dedup.embeddingCandidatePairs(
          t(s, d, "embeddings"), "vec_id", "embedding", dim = 64, bits = 4)
          .select(col("vec_id"), col("dup_of"), e4(col("cos")).as("cos_e4"))
          .orderBy(col("vec_id"), col("dup_of")),
      Some(s"""WITH $duckLshBuckets,
             |cand AS (SELECT DISTINCT l.vec_id AS lo, h.vec_id AS hi FROM b l
             |  JOIN b h ON l.bucket = h.bucket AND l.vec_id < h.vec_id)
             |SELECT c.hi AS vec_id, c.lo AS dup_of,
             |CAST(floor(${duckCosine("a.embedding", "x.embedding")}
             |  * 10000.0 + 0.5) AS BIGINT) AS cos_e4
             |FROM cand c JOIN b a ON a.vec_id = c.hi JOIN b x ON x.vec_id = c.lo
             |ORDER BY vec_id, dup_of""".stripMargin)),

    // ── 59. batch ANN join: many probes served by ONE plan (bucket
    // equi-join + per-probe WindowGroupLimit top-k) ────────────────────
    QueryDef(
      "q_ann_join",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val corpus = e.filter(col("vec_id") >= 10)
        val probes = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        Similarity.lshTopKJoin(
          corpus, "embedding", probes, "probe_id", "p_emb",
          dim = 64, k = 3, bits = 4, tieBreak = Seq("vec_id"))
          .select(col("probe_id"), col("vec_id"), round(col("score"), 4).as("dot"))
          .orderBy(col("probe_id"), col("vec_id"))
      },
      Some(s"""WITH $duckLshBuckets,
             |p AS (SELECT vec_id AS probe_id, embedding AS pe, bucket AS pb
             |      FROM b WHERE vec_id < 10),
             |j AS (SELECT p.probe_id, c.vec_id,
             |  ${duckDot("c.embedding", "p.pe")} AS dot
             |  FROM b c JOIN p ON c.bucket = p.pb WHERE c.vec_id >= 10),
             |r AS (SELECT probe_id, vec_id, dot,
             |  row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rn FROM j)
             |SELECT probe_id, vec_id, round(dot, 4) AS dot FROM r WHERE rn <= 3
             |ORDER BY probe_id, vec_id""".stripMargin)),

    // ── 59a2. hard-negative mining (Similarity.mineHardNegatives, the
    // DPR recipe): per query, top-k corpus candidates with planted
    // positives removed and ranks reassigned. overFetch=5 ≥ positives
    // per query, so retrieve-then-remove ≡ the twin's remove-then-rank ─
    QueryDef(
      "q_hard_negatives",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val corpus = e.filter(col("vec_id") >= 10)
        val queries = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
        val positives = queries.select(col("qid"),
          (col("qid") * 7 + 20).as("vec_id"))
        Similarity.mineHardNegatives(corpus, "vec_id", "embedding",
            queries, "qid", "q_emb", positives, k = 3, overFetch = 5)
          .select(col("qid"), col("vec_id"),
            round(col("score"), 4).as("dot"),
            col("neg_rank").cast("long").as("neg_rank"))
          .orderBy(col("qid"), col("neg_rank"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
             |  FROM embeddings WHERE vec_id < 5),
             |pos AS (SELECT qid, qid*7 + 20 AS vec_id FROM q),
             |j AS (SELECT q.qid, c.vec_id,
             |  ${duckDot("c.embedding", "q.qe")} AS dot
             |  FROM embeddings c, q WHERE c.vec_id >= 10),
             |f AS (SELECT j.* FROM j LEFT JOIN pos
             |  ON pos.qid = j.qid AND pos.vec_id = j.vec_id
             |  WHERE pos.vec_id IS NULL),
             |r AS (SELECT qid, vec_id, dot, row_number() OVER (
             |  PARTITION BY qid ORDER BY dot DESC, vec_id) AS rn FROM f)
             |SELECT qid, vec_id, round(dot, 4) AS dot,
             |CAST(rn AS BIGINT) AS neg_rank
             |FROM r WHERE rn <= 3 ORDER BY qid, neg_rank""".stripMargin)),

    // ── 59b. ANN recall@k evaluation, cross-engine: the LSH ANN result
    // (q_ann_join construction) scored by Eval.recallAtK against exact
    // brute-force truth — the evaluation operator itself proven against
    // DuckDB's from-first-principles recall computation ────────────────
    QueryDef(
      "q_ann_recall",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val corpus = e.filter(col("vec_id") >= 10)
        val probes = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        val approx = Similarity.lshTopKJoin(
          corpus, "embedding", probes, "probe_id", "p_emb",
          dim = 64, k = 3, bits = 4, tieBreak = Seq("vec_id"))
        val truth = Similarity.bruteForceTopKJoin(
          corpus, "embedding", probes, "probe_id", "p_emb",
          k = 3, tieBreak = Seq("vec_id"))
        ext.Eval.recallAtK(approx, truth, "probe_id", "vec_id", 3)
          .select(col("probe_id"), round(col("recall"), 4).as("recall"))
          .orderBy(col("probe_id"))
      },
      Some(s"""WITH $duckLshBuckets,
             |p AS (SELECT vec_id AS probe_id, embedding AS pe, bucket AS pb
             |      FROM b WHERE vec_id < 10),
             |j AS (SELECT p.probe_id, c.vec_id,
             |  ${duckDot("c.embedding", "p.pe")} AS dot
             |  FROM b c JOIN p ON c.bucket = p.pb WHERE c.vec_id >= 10),
             |approx AS (SELECT probe_id, vec_id FROM (
             |  SELECT probe_id, vec_id,
             |    row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rn
             |  FROM j) WHERE rn <= 3),
             |t0 AS (SELECT p.probe_id, c.vec_id,
             |  ${duckDot("c.embedding", "p.pe")} AS dot
             |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10) c
             |  CROSS JOIN p),
             |truth AS (SELECT probe_id, vec_id FROM (
             |  SELECT probe_id, vec_id,
             |    row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rn
             |  FROM t0) WHERE rn <= 3),
             |hits AS (SELECT truth.probe_id, CAST(count(*) AS BIGINT) AS nh
             |  FROM truth JOIN approx USING (probe_id, vec_id) GROUP BY truth.probe_id)
             |SELECT tp.probe_id, round(coalesce(nh, 0) / 3.0, 4) AS recall
             |FROM (SELECT DISTINCT probe_id FROM truth) tp
             |LEFT JOIN hits USING (probe_id)
             |ORDER BY tp.probe_id""".stripMargin)),

    // ── 60. genetics kernels vs first-principles SQL: call rate, MAF,
    // MAC, observed + Nei expected het over a derived gt matrix — the
    // REAL kernel expressions (GenotypeKernels) on the Spark side ─────
    QueryDef(
      "q_gt_stats",
      (s, d) => {
        import graft.functions.GenotypeKernels
        gtTable(s, d)
          .withColumn("counts", GenotypeKernels.alleleCounts(col("gt"), lit(2)))
          .select(
            col("vid"),
            GenotypeKernels.calledGtCount(col("gt")).as("n_called"),
            round(GenotypeKernels.callRate(col("gt")), 4).as("call_rate"),
            round(GenotypeKernels.majorFreqFromCounts(col("counts")), 4).as("maf"),
            GenotypeKernels.macFromCounts(col("counts")).as("mac"),
            round(GenotypeKernels.obsHet(col("gt")), 4).as("obs_het"),
            round(GenotypeKernels.expHetFromCounts(col("counts")), 4).as("exp_het"))
          .orderBy(col("vid"))
      },
      Some(s"""WITH g AS ($duckGt),
             |st AS (SELECT vid,
             |  len(list_filter(gt, x -> NOT list_contains(x, -1))) AS n_called,
             |  len(list_filter(flatten(gt), a -> a = 0)) AS c0,
             |  len(list_filter(flatten(gt), a -> a = 1)) AS c1,
             |  len(list_filter(gt, x -> NOT list_contains(x, -1)
             |      AND len(list_distinct(x)) >= 2)) AS n_het
             |  FROM g)
             |SELECT vid, CAST(n_called AS BIGINT) AS n_called,
             |round(CAST(n_called AS DOUBLE) / 12, 4) AS call_rate,
             |round(CAST(greatest(c0, c1) AS DOUBLE) / (c0 + c1), 4) AS maf,
             |CAST(least(c0, c1) AS BIGINT) AS mac,
             |round(CAST(n_het AS DOUBLE) / n_called, 4) AS obs_het,
             |round((1 - (CAST(c0 AS DOUBLE)*c0 + CAST(c1 AS DOUBLE)*c1)
             |           / (CAST(c0 + c1 AS DOUBLE) * (c0 + c1)))
             |      * (c0 + c1) / (c0 + c1 - 1), 4) AS exp_het
             |FROM st ORDER BY vid""".stripMargin)),

    // ── 61. depth→missing mask (the codegen'd MaskGt expression) +
    // call-rate/MAF variant filter (GtStatsExpr through Filters) ──────
    QueryDef(
      "q_gt_mask",
      (s, d) => {
        import graft.functions.{GenotypeKernels, MaskGt}
        val dp = transform(sequence(lit(0), lit(11)), sIdx =>
          pmod(col("vid") * 31L + sIdx * 17L, lit(30L)).cast("int"))
        gtTable(s, d)
          .withColumn("dp", dp)
          .withColumn("gt_m", MaskGt.of(col("gt"), col("dp"), 10.0))
          .select(
            col("vid"),
            GenotypeKernels.missingGtCount(col("gt")).as("miss_before"),
            GenotypeKernels.missingGtCount(col("gt_m")).as("miss_after"))
          .orderBy(col("vid"))
      },
      Some(s"""WITH g AS ($duckGt),
             |m AS (SELECT vid, gt, list_transform(range(0,12), s ->
             |  CASE WHEN (vid*31 + s*17) % 30 < 10 THEN [-1,-1]
             |       ELSE gt[CAST(s+1 AS INT)] END) AS gt_m FROM g)
             |SELECT vid,
             |CAST(len(list_filter(gt, x -> list_contains(x, -1))) AS BIGINT) AS miss_before,
             |CAST(len(list_filter(gt_m, x -> list_contains(x, -1))) AS BIGINT) AS miss_after
             |FROM m ORDER BY vid""".stripMargin)),

    // ── 62. variant filter predicates (call rate + MAF band) driven by
    // the one-pass codegen GtStats struct via the Filters operators ───
    QueryDef(
      "q_gt_filter",
      (s, d) =>
        gtTable(s, d)
          .filter(graft.operators.Filters.byCallRate(0.8) &&
            graft.operators.Filters.byMaf(max = 0.95))
          .select(col("vid"))
          .orderBy(col("vid")),
      Some(s"""WITH g AS ($duckGt),
             |st AS (SELECT vid,
             |  len(list_filter(gt, x -> NOT list_contains(x, -1))) AS n_called,
             |  len(list_filter(flatten(gt), a -> a = 0)) AS c0,
             |  len(list_filter(flatten(gt), a -> a = 1)) AS c1
             |  FROM g)
             |SELECT vid FROM st
             |WHERE CAST(n_called AS DOUBLE) / 12 >= 0.8
             |  AND CAST(greatest(c0, c1) AS DOUBLE) / (c0 + c1) >= 0.0
             |  AND CAST(greatest(c0, c1) AS DOUBLE) / (c0 + c1) <= 0.95
             |ORDER BY vid""".stripMargin)),

    // ── 63. deterministic stratified sample: ceil(frac·|stratum|)
    // hash-first rows per (lang, source) stratum — the corpus
    // rebalancing operator; the LCG order hash is replicated in SQL so
    // both engines pick the SAME documents, not just the same counts ──
    QueryDef(
      "q_stratified_sample",
      (s, d) =>
        ext.Corpus.stratifiedSample(
          t(s, d, "documents"), Seq("lang", "source"), 0.3, "doc_id")
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang, source FROM (
             |  SELECT doc_id, lang, source,
             |    row_number() OVER (PARTITION BY lang, source
             |      ORDER BY (doc_id*1103515245 + 12345) % 2147483648, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY lang, source) AS cnt
             |  FROM documents)
             |WHERE rn <= ceil(cnt * 0.3)
             |ORDER BY doc_id""".stripMargin)),

    // ── 63b. mixture balancing to target weights en:fr:es:de = 5:2:2:1
    // (zh dropped): all-integer largest-realizable-subsample arithmetic
    // + LCG hash-first row selection, identical on both engines ────────
    QueryDef(
      "q_match_mixture",
      (s, d) =>
        ext.Corpus.matchMixture(t(s, d, "documents"), "lang", "doc_id",
            Map("en" -> 5L, "fr" -> 2L, "es" -> 2L, "de" -> 1L))
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id")),
      Some("""WITH c AS (SELECT lang, count(*) AS n,
             |  CASE lang WHEN 'en' THEN 5 WHEN 'fr' THEN 2
             |    WHEN 'es' THEN 2 WHEN 'de' THEN 1 END AS w
             |  FROM documents WHERE lang IN ('en','fr','es','de')
             |  GROUP BY lang),
             |tt AS (SELECT min(n * 10 // w) AS t FROM c),
             |k AS (SELECT lang, w * t // 10 AS keep FROM c, tt),
             |r AS (SELECT doc_id, lang,
             |  row_number() OVER (PARTITION BY lang
             |    ORDER BY (doc_id*1103515245 + 12345) % 2147483648, doc_id) AS rn
             |  FROM documents WHERE lang IN ('en','fr','es','de'))
             |SELECT doc_id, lang FROM r JOIN k USING (lang)
             |WHERE rn <= keep ORDER BY doc_id""".stripMargin)),

    // ── 64. sequence packing: streaming fill of 512-token context
    // windows per language shard (docs never split; bin = the window the
    // doc's cumulative offset starts in), then per-bin occupancy ───────
    QueryDef(
      "q_pack",
      (s, d) => {
        val docs = t(s, d, "documents").withColumn(
          "n_tok", TextAnalysis.wordCountOf(TextAnalysis.tokens(col("text"))))
        ext.Corpus.packSequences(docs, "doc_id", "n_tok", 512, Seq("lang"))
          .groupBy(col("lang"), col("bin_id"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_tok")).cast("long").as("sum_tok"))
          .orderBy(col("lang"), col("bin_id"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok FROM documents),
             |c AS (SELECT lang, doc_id, n_tok,
             |  sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             |    ROWS UNBOUNDED PRECEDING) AS cum FROM d),
             |b AS (SELECT lang, n_tok,
             |  CAST(floor((cum - n_tok) / 512) AS BIGINT) AS bin_id FROM c)
             |SELECT lang, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
             |CAST(sum(n_tok) AS BIGINT) AS sum_tok
             |FROM b GROUP BY lang, bin_id ORDER BY lang, bin_id""".stripMargin)),

    // ── 64b. packed-bin materialization: the training-shard last mile —
    // one row per (lang, bin) with in-order doc ids, per-doc lengths
    // (boundary mask = prefix sum), and the concatenated token stream;
    // one (lang, bin)-keyed shuffle, groups bounded by the 512 budget ──
    QueryDef(
      "q_unpack_roundtrip",
      (s, d) => {
        // pack → materialize → unpack must be the identity on
        // (doc_id, tokens); the twin never sees the pack at all — it
        // reads the same cells straight off the raw corpus
        val docs = t(s, d, "documents")
          .withColumn("toks", split(col("text"), " ", -1))
          .withColumn("n_tok", size(col("toks")))
        val packed = ext.Corpus.materializePacked(
          ext.Corpus.packSequences(docs, "doc_id", "n_tok", 512, Seq("lang")),
          "doc_id", "toks", "bin_id", Seq("lang"))
        ext.Corpus.unpackShards(packed)
          .select(col("doc_id"),
            size(col("tokens")).cast("long").as("n_tok"),
            element_at(col("tokens"), 1).as("first_tok"),
            md5(array_join(col("tokens"), " ").cast("binary"))
              .as("tokens_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |string_split(text, ' ')[1] AS first_tok,
             |md5(text) AS tokens_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q_pack_emit",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("toks", split(col("text"), " ", -1))
          .withColumn("n_tok", size(col("toks")))
        val binned = ext.Corpus.packSequences(docs, "doc_id", "n_tok",
          512, Seq("lang"))
        // scalar projection for the oracle compare: stream + boundary
        // digests instead of raw arrays (driver compare is scalar-typed)
        ext.Corpus.materializePacked(binned, "doc_id", "toks",
            "bin_id", Seq("lang"))
          .select(col("lang"), col("bin_id"),
            col("n_docs"), col("n_tokens"),
            element_at(col("doc_ids"), 1).as("first_doc"),
            element_at(col("doc_ids"), -1).as("last_doc"),
            md5(array_join(col("tokens"), " ")).as("tokens_md5"),
            md5(array_join(transform(col("doc_lens"), _.cast("string")), ","))
              .as("lens_md5"))
          .orderBy(col("lang"), col("bin_id"))
      },
      Some("""WITH d AS (SELECT doc_id, lang, string_split(text,' ') AS toks,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |c AS (SELECT lang, doc_id, toks, n_tok,
             |  sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             |    ROWS UNBOUNDED PRECEDING) AS cum FROM d),
             |b AS (SELECT lang, doc_id, toks, n_tok,
             |  CAST(floor((cum - n_tok) / 512) AS BIGINT) AS bin_id FROM c)
             |SELECT lang, bin_id,
             |CAST(count(*) AS BIGINT) AS n_docs,
             |CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             |min(doc_id) AS first_doc, max(doc_id) AS last_doc,
             |md5(array_to_string(flatten(list(toks ORDER BY doc_id)), ' '))
             |  AS tokens_md5,
             |md5(array_to_string(list_transform(list(n_tok ORDER BY doc_id),
             |  x -> CAST(x AS VARCHAR)), ',')) AS lens_md5
             |FROM b GROUP BY lang, bin_id
             |ORDER BY lang, bin_id""".stripMargin)),

    // ── 65. benchmark decontamination: max distinct 5-gram shingle
    // overlap of each training doc vs any single "benchmark" doc
    // (doc_id % 17 = 0 plays the held-out set); shuffle carries
    // (id, shingle-hash) pairs only, bench side broadcast ─────────────
    QueryDef(
      "q_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        ext.Corpus.contaminationScores(
          docs.filter(pmod(col("doc_id"), lit(17)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(17)) === 0),
          "doc_id", "text", n = 5)
          .orderBy(col("doc_id"))
      },
      Some {
        val sh5 = s"list_distinct(list_transform(range(0, len(h)-4), i -> $duckSh5))"
        s"""WITH wt AS (SELECT doc_id, $duckWhs AS h FROM documents WHERE doc_id % 17 <> 0),
           |wb AS (SELECT doc_id, $duckWhs AS h FROM documents WHERE doc_id % 17 = 0),
           |st AS (SELECT doc_id, unnest($sh5) AS sh FROM wt),
           |sb AS (SELECT doc_id AS bid, unnest($sh5) AS sh FROM wb),
           |p AS (SELECT st.doc_id, bid, count(*) AS shared
           |      FROM st JOIN sb USING (sh) GROUP BY 1, 2)
           |SELECT doc_id, CAST(max(shared) AS BIGINT) AS max_shared
           |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // ── 66. Gopher-style repetition quality: distinct-token fraction,
    // duplicate-bigram fraction, top-token fraction — fracs quantized
    // via explicit floor(x·1e4+0.5) (same rationale as q_neardup_lsh).
    // Mode-per-doc is the fused TopCountExpr loop (map-only plan); the
    // oracle recomputes it relationally via unnest + two aggregations ──
    QueryDef(
      "q_rep_quality",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
          .filter(size(col("_toks")) >= 2)
          .withColumn("_whs", TextHash.wordHashes(col("text")))
          .withColumn("_s2", TextHash.shingleHashes(col("_whs"), 2))
          .select(
            col("doc_id"),
            size(col("_toks")).cast("long").as("n_tok"),
            e4(size(array_distinct(col("_toks"))).cast("double") / size(col("_toks")))
              .as("distinct_e4"),
            e4(lit(1.0) - size(array_distinct(col("_s2"))).cast("double") / size(col("_s2")))
              .as("dup2_e4"),
            e4(TextAnalysis.topTokenCountOf(col("_toks")).cast("double") / size(col("_toks")))
              .as("top_word_e4"))
          .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks,
             |  $duckWhs AS h FROM documents WHERE len(string_split(text,' ')) >= 2),
             |b AS (SELECT doc_id, toks, list_transform(range(0, len(h)-1),
             |  i -> (h[CAST(i+1 AS INT)]*31 + h[CAST(i+2 AS INT)])%$duckP) AS s2 FROM d),
             |t AS (SELECT doc_id, unnest(toks) AS w FROM d),
             |tc AS (SELECT doc_id, max(c) AS topc FROM
             |  (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2) GROUP BY 1)
             |SELECT doc_id,
             |CAST(len(toks) AS BIGINT) AS n_tok,
             |CAST(floor(CAST(len(list_distinct(toks)) AS DOUBLE)/len(toks)*10000.0 + 0.5)
             |  AS BIGINT) AS distinct_e4,
             |CAST(floor((1 - CAST(len(list_distinct(s2)) AS DOUBLE)/len(s2))*10000.0 + 0.5)
             |  AS BIGINT) AS dup2_e4,
             |CAST(floor(CAST(topc AS DOUBLE)/len(toks)*10000.0 + 0.5)
             |  AS BIGINT) AS top_word_e4
             |FROM b JOIN tc USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ── 67. deterministic weighted sampling: keep row iff
    // orderHash(id) < weight·2³¹ — quality-proportional downsampling
    // with no RNG (recompute-stable, map-only); weight derived from
    // n_chars so both engines compute the identical double ───────────
    QueryDef(
      "q_weighted_sample",
      (s, d) =>
        ext.Corpus.weightedSample(
          t(s, d, "documents")
            .withColumn("w", pmod(col("n_chars"), lit(100L)).cast("double") / lit(100.0)),
          "w", "doc_id")
          .select(col("doc_id"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id FROM documents
             |WHERE (doc_id*1103515245 + 12345) % 2147483648
             |      < (n_chars % 100) / 100.0 * 2147483648.0
             |ORDER BY doc_id""".stripMargin)),

    // ── 68. recursive CTE (Spark 4 WITH RECURSIVE → UnionLoop): a
    // recursively generated month ladder outer-joined to order counts —
    // the iterative-query surface, via spark.sql on a temp view ───────
    QueryDef(
      "q_recursive_cte",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_rc")
        s.sql("""WITH RECURSIVE m(mon) AS (
                |  SELECT 1 UNION ALL SELECT mon+1 FROM m WHERE mon < 12)
                |SELECT mon, CAST(count(o_orderkey) AS BIGINT) AS n_orders
                |FROM m LEFT JOIN orders_rc ON month(o_orderdate) = mon
                |GROUP BY mon ORDER BY mon""".stripMargin)
      },
      Some("""WITH RECURSIVE m(mon) AS (
             |  SELECT 1 UNION ALL SELECT mon+1 FROM m WHERE mon < 12)
             |SELECT mon, CAST(count(o_orderkey) AS BIGINT) AS n_orders
             |FROM m LEFT JOIN orders ON month(o_orderdate) = mon
             |GROUP BY mon ORDER BY mon""".stripMargin)),

    // ── 69. exact interpolated percentiles (Spark percentile ≡ DuckDB
    // quantile_cont): TPC-H quantities are small-decimal values, so the
    // interpolated result is a ≤4-decimal true value and the e4
    // quantization is boundary-safe (see e4 scaladoc) ─────────────────
    QueryDef(
      "q_percentile",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).cast("long").as("n"),
            e4(expr("percentile(l_quantity, 0.25)")).as("p25_e4"),
            e4(expr("percentile(l_quantity, 0.5)")).as("p50_e4"),
            e4(expr("percentile(l_quantity, 0.9)")).as("p90_e4"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |CAST(floor(quantile_cont(l_quantity, 0.25)*10000.0 + 0.5) AS BIGINT) AS p25_e4,
             |CAST(floor(quantile_cont(l_quantity, 0.5)*10000.0 + 0.5) AS BIGINT) AS p50_e4,
             |CAST(floor(quantile_cont(l_quantity, 0.9)*10000.0 + 0.5) AS BIGINT) AS p90_e4
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ── 70. SimHash near-dup pairs at Hamming ≤ 1: single-bit-flip key
    // blocking (bits+1 short keys/doc, never all-pairs) + exact
    // bit_count verify — both engines replicate blocking AND verify ───
    QueryDef(
      "q_neardup_simhash",
      (s, d) =>
        Dedup.simhashNearDups(t(s, d, "documents"), "doc_id", "text",
          bits = 16, maxHamming = 1)
          .orderBy(col("doc_id"), col("dup_of")),
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
             |sim AS (SELECT doc_id, CAST(list_sum(list_transform(range(0,16), k ->
             |  CASE WHEN list_sum(list_transform(h, x ->
             |    CASE WHEN CAST(floor(x/pow(2,k)) AS BIGINT)%2=1 THEN 1 ELSE -1 END)) > 0
             |  THEN CAST(pow(2,k) AS BIGINT) ELSE 0 END)) AS BIGINT) AS s
             |  FROM w),
             |keyed AS (SELECT doc_id, s, unnest(list_concat([s],
             |  list_transform(range(0,16), k -> xor(s, CAST(pow(2,k) AS BIGINT))))) AS key
             |  FROM sim),
             |cand AS (SELECT DISTINCT a.doc_id AS lo, b.doc_id AS hi,
             |                a.s AS sa, b.s AS sb
             |  FROM keyed a JOIN keyed b ON a.key = b.key AND a.doc_id < b.doc_id)
             |SELECT hi AS doc_id, lo AS dup_of,
             |CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
             |FROM cand WHERE bit_count(xor(sa, sb)) <= 1
             |ORDER BY doc_id, dup_of""".stripMargin)),

    // ── 71. transitive near-dup clustering vs a recursive-CTE oracle:
    // the REAL large-star/small-star operator (Dedup
    // .transitiveClusters) on a derived chain graph, checked against
    // DuckDB's WITH RECURSIVE reachability closure (comp = min
    // reachable id) — the component operator is SQL-expressible after
    // all, so it gets the same cross-engine proof as everything else ──
    QueryDef(
      "q_transitive_cc",
      (s, d) => {
        // densify orderkeys to ranks 1..10k, then chain edges (rk−1, rk)
        // except every 10th — path components of exactly 10 vertices
        val rk = t(s, d, "orders").select(col("o_orderkey"))
          .orderBy(col("o_orderkey")).limit(10000)
          .select(row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("o_orderkey"))).as("rk"))
        val edges = rk.filter(pmod(col("rk"), lit(10)) =!= 1)
          .select((col("rk") - 1).as("a"), col("rk").as("b"))
        Dedup.transitiveClusters(edges, "a", "b")
          .select(col("id").cast("long").as("id"), col("comp").cast("long").as("comp"))
          .orderBy(col("id"))
      },
      Some("""WITH RECURSIVE ranked AS (SELECT row_number() OVER (ORDER BY o_orderkey) AS rk
             |  FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10000)),
             |edges AS (SELECT rk - 1 AS a, rk AS b FROM ranked WHERE rk % 10 <> 1),
             |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
             |verts AS (SELECT DISTINCT a AS id FROM sym),
             |reach AS (
             |  SELECT id, id AS comp FROM verts
             |  UNION
             |  SELECT s.b AS id, r.comp FROM reach r JOIN sym s ON s.a = r.id
             |)
             |SELECT CAST(id AS BIGINT) AS id, CAST(min(comp) AS BIGINT) AS comp
             |FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // ── 71b. integer-exact damped PageRank over the order→part
    // bipartite projection: 3 fixed iterations, floor-divided
    // contributions / dangling share / damping — DuckDB unrolls the
    // identical integer recurrence, so every rank bit must match ──────
    QueryDef(
      "q_pagerank",
      (s, d) => {
        val e = t(s, d, "lineitem").select(
          (col("l_orderkey") % 500).cast("long").as("src"),
          (col("l_partkey") % 500).cast("long").as("dst")).distinct()
        graft.ext.Graph.pageRank(e, "src", "dst", 3)
          .select(col("node"), col("rk"))
          .orderBy(col("node"))
      },
      Some(pageRankSql(3))),

    // ── 71c. integer-exact HITS hubs/authorities on the same bipartite
    // projection: 2 iterations of the mutual recursion with max-norm
    // integer rescaling — DuckDB unrolls the identical recurrence ──────
    QueryDef(
      "q_hits",
      (s, d) => {
        val e = t(s, d, "lineitem").select(
          (col("l_orderkey") % 500).cast("long").as("src"),
          (col("l_partkey") % 500).cast("long").as("dst")).distinct()
        graft.ext.Graph.hits(e, "src", "dst", 2)
          .select(col("node"), col("hub"), col("auth"))
          .orderBy(col("node"))
      },
      Some(hitsSql(2))),

    // ── 71d. personalized PageRank from seeds {0,1,2}: teleport and
    // dangling mass restart at the seed set only — proximity-to-seed
    // scores, integer-exact, DuckDB unrolls the same recurrence ────────
    QueryDef(
      "q_ppr",
      (s, d) => {
        val e = t(s, d, "lineitem").select(
          (col("l_orderkey") % 500).cast("long").as("src"),
          (col("l_partkey") % 500).cast("long").as("dst")).distinct()
        graft.ext.Graph.personalizedPageRank(e, "src", "dst", Seq(0L, 1L, 2L), 3)
          .select(col("node"), col("rk"))
          .orderBy(col("node"))
      },
      Some(pprSql(3, Seq(0L, 1L, 2L)))),

    // ── 71e. k-core peel (k=10, 3 fixed rounds) on the undirected
    // projection: degree filter + surviving-endpoint semi joins per
    // round; DuckDB unrolls the identical peel ─────────────────────────
    QueryDef(
      "q_kcore",
      (s, d) => {
        val e = t(s, d, "lineitem").select(
          (col("l_orderkey") % 500).cast("long").as("src"),
          (col("l_partkey") % 500).cast("long").as("dst"))
        graft.ext.Graph.kCore(e, "src", "dst", 10, 3)
          .orderBy(col("node"))
      },
      Some(kCoreSql(10, 3))),

    // ── 72. bag-semantics set ops (INTERSECT ALL / EXCEPT ALL): true
    // multisets (an orderkey repeats per qualifying line), multiplicity
    // arithmetic min(m_a, m_b) / max(0, m_a − m_b) checked end to end ──
    QueryDef(
      "q_set_ops_all",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val a = li.filter(col("l_quantity") > 45).select(col("l_orderkey").as("okey"))
        val b = li.filter(col("l_discount") > 0.08).select(col("l_orderkey").as("okey"))
        val ia = a.intersectAll(b).groupBy(col("okey"))
          .agg(count(lit(1)).cast("long").as("cnt")).withColumn("op", lit("ia"))
        val ea = a.exceptAll(b).groupBy(col("okey"))
          .agg(count(lit(1)).cast("long").as("cnt")).withColumn("op", lit("ea"))
        ia.unionByName(ea)
          .select(col("op"), col("okey"), col("cnt"))
          .orderBy(col("op"), col("okey"))
      },
      Some("""WITH a AS (SELECT l_orderkey AS okey FROM lineitem WHERE l_quantity > 45),
             |b AS (SELECT l_orderkey AS okey FROM lineitem WHERE l_discount > 0.08),
             |ia AS (SELECT okey FROM a INTERSECT ALL SELECT okey FROM b),
             |ea AS (SELECT okey FROM a EXCEPT ALL SELECT okey FROM b)
             |SELECT 'ia' AS op, okey, CAST(count(*) AS BIGINT) AS cnt FROM ia GROUP BY okey
             |UNION ALL
             |SELECT 'ea' AS op, okey, CAST(count(*) AS BIGINT) AS cnt FROM ea GROUP BY okey
             |ORDER BY op, okey""".stripMargin)),

    // ── 71. forward/backward gap fill (time-series imputation): sparse
    // observations (value ≥ 5 kept, rest nulled) filled per user along
    // event order — last/first(IGNORE NULLS) over one-sided frames,
    // O(1) running state per row on both engines ──────────────────────
    QueryDef(
      "q_ffill",
      (s, d) => {
        import graft.operators.Fill
        val sparse = events(s, d)
          .withColumn("obs", when(col("value") >= 5, col("value")))
          .select(col("event_id"), col("user_id"),
            col("obs").as("ff"), col("obs").as("bf"))
        val filled = Fill.backwardFill(
          Fill.forwardFill(sparse, Seq("user_id"), Seq("event_id"), Seq("ff")),
          Seq("user_id"), Seq("event_id"), Seq("bf"))
        filled
          .select(col("event_id"), col("user_id"),
            coalesce(col("ff"), lit(-1.0)).as("ff"),
            coalesce(col("bf"), lit(-1.0)).as("bf"))
          .orderBy(col("event_id"))
      },
      Some("""WITH s AS (SELECT event_id, user_id,
             |  CASE WHEN value >= 5 THEN value END AS obs FROM events)
             |SELECT event_id, user_id,
             |coalesce(last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id
             |  ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  -1.0) AS ff,
             |coalesce(first_value(obs IGNORE NULLS) OVER (PARTITION BY user_id
             |  ORDER BY event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
             |  -1.0) AS bf
             |FROM s ORDER BY event_id""".stripMargin)),

    // ── 71b. linear interpolation (pandas interpolate(method='values')):
    // nulls between observations take the order-distance-weighted blend,
    // edges hold the nearest observation. All IEEE correctly-rounded ops
    // in one fixed expression shape — raw doubles hash-match, no
    // rounding (see Fill.interpolateLinear) ───────────────────────────
    QueryDef(
      "q_interpolate",
      (s, d) => {
        import graft.operators.Fill
        val sparse = events(s, d)
          .withColumn("obs", when(col("value") >= 5, col("value")))
          .select(col("event_id"), col("user_id"), col("obs").as("li"))
        Fill.interpolateLinear(sparse, Seq("user_id"), "event_id", Seq("li"))
          .select(col("event_id"), col("user_id"),
            coalesce(col("li"), lit(-1.0)).as("li"))
          .orderBy(col("event_id"))
      },
      Some("""WITH s AS (SELECT event_id, user_id,
             |  CASE WHEN value >= 5 THEN value END AS obs FROM events),
             |w AS (SELECT event_id, user_id, obs,
             |  last_value(obs IGNORE NULLS) OVER wp AS pv,
             |  last_value(CASE WHEN obs IS NOT NULL
             |    THEN CAST(event_id AS DOUBLE) END IGNORE NULLS) OVER wp AS px,
             |  first_value(obs IGNORE NULLS) OVER wn AS nv,
             |  first_value(CASE WHEN obs IS NOT NULL
             |    THEN CAST(event_id AS DOUBLE) END IGNORE NULLS) OVER wn AS nx
             |  FROM s
             |  WINDOW wp AS (PARTITION BY user_id ORDER BY event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  wn AS (PARTITION BY user_id ORDER BY event_id
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT event_id, user_id,
             |  coalesce(CASE WHEN obs IS NOT NULL THEN obs
             |    WHEN pv IS NOT NULL AND nv IS NOT NULL
             |    THEN pv + (nv - pv) * ((CAST(event_id AS DOUBLE) - px) / (nx - px))
             |    ELSE coalesce(pv, nv) END, -1.0) AS li
             |FROM w ORDER BY event_id""".stripMargin)),

    // ── 71c. last-touch attribution: each purchase credited to the
    // nearest preceding view/click in the user's stream (strictly
    // before — (unbounded, 1 PRECEDING) frame), no touch → 'direct'.
    // Exact integer counts end to end ─────────────────────────────────
    QueryDef(
      "q_attribution",
      (s, d) => {
        import graft.operators.Events
        Events.attribution(events(s, d), "user_id", "ts", "event_id",
            "event_type", Seq("view", "click"), "purchase", "last")
          .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
          .agg(count(lit(1)).cast("long").as("conversions"),
            countDistinct(col("user_id")).cast("long").as("users"))
          .orderBy(col("channel"))
      },
      Some("""WITH a AS (SELECT user_id, event_type,
             |  last_value(CASE WHEN event_type IN ('view','click')
             |    THEN event_type END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
             |  FROM events)
             |SELECT coalesce(channel, 'direct') AS channel,
             |CAST(count(*) AS BIGINT) AS conversions,
             |CAST(count(DISTINCT user_id) AS BIGINT) AS users
             |FROM a WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── 71d. multi-touch linear attribution: integer sufficient
    // statistics per (channel, n_touches) — pair counts are exact, and
    // credit = pairs/n is ONE division then e4 floor (no float sums
    // anywhere, so engines agree bitwise) ─────────────────────────────
    QueryDef(
      "q_attribution_linear",
      (s, d) => {
        import graft.operators.Events
        Events.attributionLinear(events(s, d), "user_id", "ts", "event_id",
            "event_type", Seq("view", "click"), "purchase")
          .groupBy(col("channel"), col("n_touches"))
          .agg(count(lit(1)).cast("long").as("pairs"))
          .withColumn("credit_e4",
            floor(col("pairs").cast("double") / col("n_touches").cast("double")
              * 10000.0 + 0.5).cast("long"))
          .orderBy(col("channel"), col("n_touches"))
      },
      Some("""WITH a AS (SELECT user_id, event_id, event_type,
             |  list(event_type) FILTER (event_type IN ('view', 'click'))
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touches
             |  FROM events),
             |p AS (SELECT u.ch AS channel,
             |    CAST(len(touches) AS BIGINT) AS n_touches
             |  FROM a, unnest(touches) u(ch)
             |  WHERE event_type = 'purchase' AND len(touches) > 0)
             |SELECT channel, n_touches, CAST(count(*) AS BIGINT) AS pairs,
             |  CAST(floor(CAST(count(*) AS DOUBLE) / CAST(n_touches AS DOUBLE)
             |    * 10000.0 + 0.5) AS BIGINT) AS credit_e4
             |FROM p GROUP BY channel, n_touches
             |ORDER BY channel, n_touches""".stripMargin)),

    // ── 71. binary (multimodal) columns cross-engine: text bytes as an
    // opaque BLOB — byte length, standard MD5 content digest (the
    // media-dedup key shape), and a byte-slice, all engine-independent ─
    QueryDef(
      "q_binary_funcs",
      (s, d) =>
        t(s, d, "documents")
          .select(
            col("doc_id"),
            length(col("text").cast("binary")).cast("long").as("byte_len"),
            md5(col("text").cast("binary")).as("content_md5"),
            substring(col("text"), 1, 8).as("head8"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             |md5(text) AS content_md5,
             |substr(text, 1, 8) AS head8
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── 71. Z-order (Morton) key: the bit-interleave both engines
    // recompute from first principles — the layout key behind
    // ZOrder.layout's multi-dimensional parquet min-max pruning ────────
    QueryDef(
      "q_zorder",
      (s, d) =>
        t(s, d, "customer")
          .select(
            col("c_custkey"),
            graft.operators.ZOrder.zvalue(
              pmod(col("c_custkey"), lit(1024L)), col("c_nationkey"), 10).as("z"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, CAST(list_sum(list_transform(range(0, 10), i ->
             |  ((c_custkey % 1024) // CAST(pow(2, i) AS BIGINT)) % 2
             |    * CAST(pow(2, 2*i) AS BIGINT)
             |  + (c_nationkey // CAST(pow(2, i) AS BIGINT)) % 2
             |    * CAST(pow(2, 2*i+1) AS BIGINT))) AS BIGINT) AS z
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ── 72. temperature mixture sampling (α = 0.5): per-language keep
    // rate sqrt(min_count/count) — sqrt is IEEE correctly-rounded, so
    // both engines derive the bit-identical rate and the LCG keep rule
    // picks the SAME documents (see Corpus.temperatureSample) ──────────
    QueryDef(
      "q_temperature_mix",
      (s, d) =>
        ext.Corpus.temperatureSample(t(s, d, "documents"), "lang", "doc_id")
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id")),
      Some("""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
             |r AS (SELECT lang,
             |  sqrt(CAST((SELECT min(cnt) FROM c) AS DOUBLE) / cnt) AS rate FROM c)
             |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
             |WHERE (d.doc_id*1103515245 + 12345) % 2147483648 < rate * 2147483648.0
             |ORDER BY d.doc_id""".stripMargin)),

    // ── 72b. DSIR importance scoring (Xie et al. 2023): hashed
    // unigram+bigram features (m=64), add-one-smoothed lp6 tables for
    // target (doc_id%7=0) vs raw (all), per-doc INTEGER weight sum.
    // Spark scores map-side against the collected m-entry literal
    // table; the twin replays the whole thing relationally ────────────
    QueryDef(
      "q_dsir_score",
      (s, d) => {
        val docs = t(s, d, "documents")
        val w = ext.Dsir.trainWeights(
          docs.filter(col("doc_id") % 7 === 0), docs, "text", 64)
        ext.Dsir.scoreDocs(docs, "text", w)
          .select(col("doc_id"), col("dsir_lw6"))
          .orderBy(col("doc_id"))
          .limit(200)
      },
      Some(s"""$duckDsirCte
             |SELECT doc_id, dsir_lw6 FROM sc ORDER BY doc_id LIMIT 200""".stripMargin)),

    // ── 72c. DSIR Gumbel top-k resample: key = lw6 + g6, g6 the
    // deterministic Gumbel from the LCG order hash (exact binary
    // fraction u, ln on identical doubles) — rows come back in key
    // order, twin replays it ───────────────────────────────────────────
    QueryDef(
      "q_dsir_resample",
      (s, d) => {
        val docs = t(s, d, "documents")
        val w = ext.Dsir.trainWeights(
          docs.filter(col("doc_id") % 7 === 0), docs, "text", 64)
        ext.Dsir.resample(docs, "doc_id", "text", w, 40)
          .select(col("doc_id"), col("dsir_lw6"))
      },
      Some(s"""$duckDsirCte
             |SELECT doc_id, dsir_lw6 FROM sc
             |ORDER BY dsir_lw6 + CAST(floor(-ln(-ln(
             |    (((doc_id % 2147483648)*1103515245 + 12345) % 2147483648 + 0.5)
             |    / 2147483648.0))*1000000.0+0.5) AS BIGINT) DESC, doc_id
             |LIMIT 40""".stripMargin)),

    // ── 72d. DSIR resample via distributed radix selection
    // (Dsir.resampleAt / operators.Selection): the SAME top-40 set as
    // q_dsir_resample, but found by 16-bit histogram descent + a
    // threshold filter instead of a sorted limit — the corpus-budget
    // path where TakeOrderedAndProject's n·partitions driver merge
    // would OOM. Twin: identical Gumbel-key top-k, re-sorted by id ────
    QueryDef(
      "q_dsir_select",
      (s, d) => {
        val docs = t(s, d, "documents")
        val w = ext.Dsir.trainWeights(
          docs.filter(col("doc_id") % 7 === 0), docs, "text", 64)
        ext.Dsir.resampleAt(docs, "doc_id", "text", w, 40L)
          .select(col("doc_id"), col("dsir_lw6"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$duckDsirCte
             |SELECT doc_id, dsir_lw6 FROM (
             |  SELECT doc_id, dsir_lw6 FROM sc
             |  ORDER BY dsir_lw6 + CAST(floor(-ln(-ln(
             |      (((doc_id % 2147483648)*1103515245 + 12345) % 2147483648 + 0.5)
             |      / 2147483648.0))*1000000.0+0.5) AS BIGINT) DESC, doc_id
             |  LIMIT 40)
             |ORDER BY doc_id""".stripMargin)),

    // ── 73. token-budget selection: best-quality-first (n_chars here)
    // per-language take until 2000 tokens are drawn; the kept set is a
    // window cumsum filter, spillover convention as q_pack ─────────────
    QueryDef(
      "q_token_budget",
      (s, d) =>
        ext.Corpus.selectByBudget(
          t(s, d, "documents").withColumn(
            "n_tok", TextAnalysis.wordCountOf(TextAnalysis.tokens(col("text")))),
          Seq("lang"), "n_tok", "n_chars", 2000L, "doc_id")
          .select(col("doc_id"), col("lang"), col("n_tok").cast("long").as("n_tok"))
          .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id, lang, n_chars,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok FROM documents),
             |c AS (SELECT doc_id, lang, n_tok,
             |  sum(n_tok) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
             |    ROWS UNBOUNDED PRECEDING) AS cum FROM d)
             |SELECT doc_id, lang, n_tok FROM c
             |WHERE cum - n_tok < 2000 ORDER BY doc_id""".stripMargin)),

    // ── 73b. token-budget selection via weighted radix descent
    // (Corpus.selectByBudgetAt / Selection.budgetThreshold*): the
    // GLOBAL-budget variant where the window form would single-partition
    // the corpus — same crossing-document semantics, cut point found by
    // bounded histogram envelopes; twin replays the window rule ────────
    QueryDef(
      "q_token_budget_at",
      (s, d) =>
        ext.Corpus.selectByBudgetAt(
          t(s, d, "documents").withColumn(
            "n_tok", TextAnalysis.wordCountOf(TextAnalysis.tokens(col("text")))),
          "n_tok", "n_chars", 5000L, "doc_id")
          .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"))
          .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id, n_chars,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok FROM documents),
             |c AS (SELECT doc_id, n_tok,
             |  sum(n_tok) OVER (ORDER BY n_chars DESC, doc_id
             |    ROWS UNBOUNDED PRECEDING) AS cum FROM d)
             |SELECT doc_id, n_tok FROM c
             |WHERE cum - n_tok < 5000 ORDER BY doc_id""".stripMargin)),

    // ── 74. PII redaction: email/IPv4/phone spans → typed placeholders
    // + per-category counts. The corpus text is digit-free, so PII is
    // planted deterministically from doc_id (mod-2/3/5 → every
    // count combination 0/1 occurs); patterns are RE2-safe so Java
    // regex (Spark) and RE2 (DuckDB) match identical spans ─────────────
    QueryDef(
      "q_pii_redact",
      (s, d) => {
        val contact = concat(
          substring(col("text"), 1, 40),
          when(pmod(col("doc_id"), lit(2L)) === 0,
            concat(lit(" user"), col("doc_id").cast("string"), lit("@mail.example.com")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(3L)) === 0,
            concat(lit(" tel 555-"),
              lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5L)) === 0,
            concat(lit(" ip 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"), lit(".7")))
            .otherwise(lit("")))
        t(s, d, "documents")
          .withColumn("_c", contact)
          .select(
            col("doc_id"),
            TextAnalysis.redactPii(col("_c")).as("redacted"),
            TextAnalysis.emailCount(col("_c")).as("n_email"),
            TextAnalysis.phoneCount(col("_c")).as("n_phone"),
            TextAnalysis.ipCount(col("_c")).as("n_ip"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id,
             |  substr(text, 1, 40)
             |  || CASE WHEN doc_id % 2 = 0 THEN ' user' || CAST(doc_id AS VARCHAR)
             |       || '@mail.example.com' ELSE '' END
             |  || CASE WHEN doc_id % 3 = 0 THEN ' tel 555-'
             |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
             |  || CASE WHEN doc_id % 5 = 0 THEN ' ip 10.0.'
             |       || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END AS s
             |  FROM documents)
             |SELECT doc_id,
             |regexp_replace(regexp_replace(regexp_replace(s,
             |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |  '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
             |  '\d{3}-\d{4}', '<PHONE>', 'g') AS redacted,
             |CAST(len(regexp_extract_all(s,
             |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
             |CAST(len(regexp_extract_all(
             |  regexp_replace(regexp_replace(s,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
             |  '\d{3}-\d{4}')) AS BIGINT) AS n_phone,
             |CAST(len(regexp_extract_all(
             |  regexp_replace(s,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |  '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ── 74b. Aho-Corasick phrase blocklist (ext.PhraseMatch, one-pass
    // multi-pattern scan): per-phrase occurrence counts + the gate
    // flag. The demo phrases are BORDER-FREE (no proper prefix equals
    // a suffix), so occurrences can never self-overlap and the
    // automaton's count-all equals the twin's non-overlapping
    // replace() count; nesting/cross-phrase overlap is fine — both
    // engines count each phrase independently on the original text. ───
    QueryDef(
      "q_phrase_block",
      (s, d) => {
        val phrases = Seq("the", "sort", "table scan", "order")
        t(s, d, "documents")
          .withColumn("_c", ext.PhraseMatch.counts(col("text"), phrases))
          .select(col("doc_id"),
            element_at(col("_c"), 1).as("n_the"),
            element_at(col("_c"), 2).as("n_sort"),
            element_at(col("_c"), 3).as("n_tscan"),
            element_at(col("_c"), 4).as("n_order"),
            ext.PhraseMatch.containsAny(col("text"), phrases).as("blocked"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |CAST((len(text) - len(replace(text, 'the', ''))) // 3 AS BIGINT) AS n_the,
             |CAST((len(text) - len(replace(text, 'sort', ''))) // 4 AS BIGINT) AS n_sort,
             |CAST((len(text) - len(replace(text, 'table scan', ''))) // 10 AS BIGINT) AS n_tscan,
             |CAST((len(text) - len(replace(text, 'order', ''))) // 5 AS BIGINT) AS n_order,
             |(len(text) - len(replace(text, 'the', ''))
             | + len(text) - len(replace(text, 'sort', ''))
             | + len(text) - len(replace(text, 'table scan', ''))
             | + len(text) - len(replace(text, 'order', ''))) > 0 AS blocked
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── 74b1. sentence segmentation (TextAnalysis.sentences): the
    // corpus text is terminator-free, so periods are planted by a
    // deterministic replace on both engines; count, first sentence,
    // and trimmed char mass per doc ───────────────────────────────────
    QueryDef(
      "q_sentence_split",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("_t2",
            concat(replace(col("text"), lit(" the "), lit(". The ")), lit("!")))
          .withColumn("_sents", graft.ext.TextAnalysis.sentences(col("_t2")))
          .select(col("doc_id"),
            size(col("_sents")).cast("long").as("n_sent"),
            element_at(col("_sents"), 1).as("first_sent"),
            aggregate(col("_sents"), lit(0L),
              (acc, x) => acc + length(x).cast("long")).as("sent_chars"))
          .orderBy(col("doc_id")),
      Some("""WITH t2 AS (SELECT doc_id,
             |  replace(text, ' the ', '. The ') || '!' AS x FROM documents),
             |g AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(x,
             |    '\be\.g\.', 'e' || chr(1) || 'g' || chr(1), 'g'),
             |    '\bi\.e\.', 'i' || chr(1) || 'e' || chr(1), 'g'),
             |    '\b(Dr|Mrs|Mr|Ms|Prof|St|Jr|Sr|vs|etc)\.',
             |    '\1' || chr(1), 'g') AS x FROM t2),
             |sp AS (SELECT doc_id,
             |  list_filter(list_transform(
             |    regexp_extract_all(x, '[^.!?]+[.!?]+|[^.!?]+'),
             |    s -> replace(trim(s), chr(1), '.')), s -> s <> '') AS sents
             |  FROM g)
             |SELECT doc_id,
             |CAST(len(sents) AS BIGINT) AS n_sent,
             |sents[1] AS first_sent,
             |CAST(list_sum(list_transform(sents, s -> length(s))) AS BIGINT)
             |  AS sent_chars
             |FROM sp ORDER BY doc_id""".stripMargin)),

    // ── 74b1b. Unicode-script routing (TextAnalysis.scriptProfile):
    // the pre-langid router. The corpus is Latin, so non-Latin
    // snippets are planted by doc_id arithmetic onto a 6-char Latin
    // stub — dominance genuinely flips per doc. Java \p{IsXxx} ≡ RE2
    // \p{Xxx}; both engines count codepoints ──────────────────────────
    QueryDef(
      "q_script_route",
      (s, d) => {
        val t2 = concat(substring(col("text"), 1, 6),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(" Привет мир всем"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0, lit(" 世界和平永远"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(" γειά σου κόσμε"))
            .otherwise(lit("")))
        graft.ext.TextAnalysis.scriptProfile(
            t(s, d, "documents").withColumn("t2", t2), "doc_id", "t2")
          .select(col("doc_id"), col("n_latin"), col("n_cyrillic"),
            col("n_greek"), col("n_han"), col("script"))
          .orderBy(col("doc_id"))
      },
      Some {
        // the twin mirrors the kernel's FULL 10-script dominance scan
        // (a 4-script CASE would silently diverge the moment the
        // fixture gains arabic/kana/hangul/devanagari text)
        val scripts = Seq("latin" -> "Latin", "cyrillic" -> "Cyrillic",
          "greek" -> "Greek", "arabic" -> "Arabic", "hebrew" -> "Hebrew",
          "han" -> "Han", "hiragana" -> "Hiragana", "katakana" -> "Katakana",
          "hangul" -> "Hangul", "devanagari" -> "Devanagari")
        val bs = "\\"
        val cnt = scripts.map { case (n, c) =>
          s"CAST(length(t) - length(regexp_replace(t, '${bs}p{$c}', '', 'g')) AS BIGINT) AS n_$n"
        }.mkString(", ")
        val arms = scripts.map { case (n, _) =>
          val others = scripts.map(_._1).filterNot(_ == n)
            .map(o => s"n_$n >= n_$o").mkString(" AND ")
          s"WHEN n_$n > 0 AND $others THEN '$n'"
        }.mkString(" ")
        s"""WITH u AS (SELECT doc_id, substr(text, 1, 6)
           |  || (CASE WHEN doc_id % 3 = 0 THEN ' Привет мир всем' ELSE '' END)
           |  || (CASE WHEN doc_id % 5 = 0 THEN ' 世界和平永远' ELSE '' END)
           |  || (CASE WHEN doc_id % 7 = 0 THEN ' γειά σου κόσμε' ELSE '' END)
           |  AS t FROM documents),
           |c AS (SELECT doc_id, $cnt FROM u)
           |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han,
           |CASE $arms ELSE 'none' END AS script
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    // ── 74b2. HTML → prose (TextNorm.stripHtml): script/style/comment
    // elements dropped, block tags → newline, tags stripped, entities
    // decoded (&amp; last), whitespace folded. Pure codegen built-in
    // chain with RE2-safe patterns — the twin replays every step
    // verbatim on HTML derived identically from the corpus ────────────
    QueryDef(
      "q_html_strip",
      (s, d) => {
        val html = concat(
          lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>"),
          lit("<style>p { color: red }</style></head><body><!-- c "),
          col("doc_id"),
          lit(" --><h1>Title &amp; More</h1><p>"),
          col("text"),
          lit("</p><div class=\"foo\">tail &lt;"), col("doc_id"),
          lit("&gt;&nbsp;end</div></body></html>"))
        t(s, d, "documents")
          .select(col("doc_id"),
            graft.ext.TextNorm.stripHtml(html).as("prose"))
          .withColumn("n_prose", length(col("prose")).cast("long"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |  '<html><head><script type="text/javascript">var x = 1 < 2;</script>'
             |  || '<style>p { color: red }</style></head><body><!-- c ' || doc_id
             |  || ' --><h1>Title &amp; More</h1><p>' || text
             |  || '</p><div class="foo">tail &lt;' || doc_id
             |  || '&gt;&nbsp;end</div></body></html>' AS x
             |  FROM documents),
             |s1 AS (SELECT doc_id, regexp_replace(x,
             |  '(?is)<(script|style)[^>]*>.*?</(script|style)\s*>', ' ', 'g') AS x FROM h),
             |s2 AS (SELECT doc_id, regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') AS x FROM s1),
             |s3 AS (SELECT doc_id, regexp_replace(x,
             |  '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)[^>]*>',
             |  chr(10), 'g') AS x FROM s2),
             |s4 AS (SELECT doc_id, regexp_replace(x, '(?s)<[^>]*>', '', 'g') AS x FROM s3),
             |s5 AS (SELECT doc_id,
             |  replace(replace(replace(replace(replace(replace(x,
             |    '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''),
             |    '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS x FROM s4),
             |s6 AS (SELECT doc_id, regexp_replace(x, '[ \t]+', ' ', 'g') AS x FROM s5),
             |s7 AS (SELECT doc_id, regexp_replace(x, ' ?\n ?', chr(10), 'g') AS x FROM s6),
             |s8 AS (SELECT doc_id, regexp_replace(
             |    regexp_replace(x, '\n{2,}', chr(10), 'g'),
             |    '^\s+|\s+$', '', 'g') AS prose
             |  FROM s7)
             |SELECT doc_id, prose, CAST(length(prose) AS BIGINT) AS n_prose
             |FROM s8 ORDER BY doc_id""".stripMargin)),

    // ── 74c. robots.txt crawl gate (ext.Robots, RFC 9309): per-host
    // bodies parsed ONCE, broadcast back to the URL frame, longest-
    // match decision per URL. The planted rules are plain prefixes
    // (no wildcards — those live in RobotsSpec), so the twin decides
    // with max(len·2 + allow): longest wins, Allow wins ties — the
    // RFC tie rule encoded in one integer ─────────────────────────────
    QueryDef(
      "q_robots_gate",
      (s, d) => {
        val docs = t(s, d, "documents")
        val path = when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("/private/doc"), col("doc_id")))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat(lit("/private/ok/"), col("doc_id")))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            concat(lit("/pub/"), col("doc_id")))
          .otherwise(concat(lit("/tmp/x"), col("doc_id")))
        val urls = docs.select(col("doc_id"),
          concat(lit("https://h"), lower(col("source")), lit(".com"), path).as("url"),
          path.as("path"))
        val robots = docs.select(col("source")).distinct()
          .select(concat(lit("h"), lower(col("source")), lit(".com")).as("host"),
            lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok\nDisallow: /tmp/\n")
              .as("body"))
        graft.ext.Robots.gateUrls(urls, "url", robots, "host", "body")
          .select(col("doc_id"), col("path"), col("crawl_allowed"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |  CASE WHEN doc_id % 4 = 0 THEN '/private/doc' || doc_id
             |       WHEN doc_id % 4 = 1 THEN '/private/ok/' || doc_id
             |       WHEN doc_id % 4 = 2 THEN '/pub/' || doc_id
             |       ELSE '/tmp/x' || doc_id END AS path
             |  FROM documents),
             |r(pat, al) AS (VALUES ('/private/', 0), ('/private/ok', 1), ('/tmp/', 0)),
             |m AS (SELECT doc_id, max(len(pat) * 2 + al) AS sc
             |  FROM p JOIN r ON starts_with(p.path, r.pat) GROUP BY doc_id)
             |SELECT p.doc_id, p.path, coalesce(m.sc % 2 = 1, TRUE) AS crawl_allowed
             |FROM p LEFT JOIN m USING (doc_id) ORDER BY p.doc_id""".stripMargin)),

    // ── 75. fuzzy join: blocked edit-distance pairs over the DISTINCT
    // p_name vocabulary (block = noun, length-band prune, banded
    // Levenshtein) — entity resolution without all-pairs ────────────────
    QueryDef(
      "q_fuzzy_join",
      (s, d) =>
        graft.operators.Fuzzy.fuzzyPairs(
          t(s, d, "part").select(col("p_name")).distinct(),
          "p_name", "p_name", c => split(c, " ").getItem(1), maxDist = 3)
          .select(col("id_a").as("name_a"), col("id_b").as("name_b"), col("dist"))
          .orderBy(col("name_a"), col("name_b")),
      Some("""WITH n AS (SELECT DISTINCT p_name FROM part),
             |k AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM n)
             |SELECT a.p_name AS name_a, b.p_name AS name_b,
             |CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
             |FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name
             |WHERE levenshtein(a.p_name, b.p_name) <= 3
             |ORDER BY name_a, name_b""".stripMargin)),

    // ── 76. SemDeDup-style semantic dedup: k-means cells (the shared
    // Ivf trainer + DuckDB twin), within-cell pairs with cos ≥ τ drop
    // to the pair's min id (star blocking). Only the SURVIVOR ids are
    // compared — thresholded booleans over bit-identical doubles, no
    // rounded score column (the q_neardup_lsh lesson) ──────────────────
    QueryDef(
      "q_semantic_dedup",
      (s, d) => {
        val e = t(s, d, "embeddings")
        // spreadInit=false pinned for the id-order DuckDB twin (see q_ivf_topk)
        val cents = graft.ext.Ivf.train(e, "vec_id", "embedding", k = 4, iters = 2,
          spreadInit = false)
        graft.ext.Dedup.semanticDedup(e, "vec_id", "embedding", cents, tau = 0.35)
          .select(col("vec_id"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH ${duckKmeans("TRUE", 2)},
             |af AS (
             |  ${duckAssign("emb", "c2")}),
             |dup AS (
             |  SELECT b.vec_id AS vid
             |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
             |  JOIN emb va ON va.vec_id = a.vec_id
             |  JOIN emb vb ON vb.vec_id = b.vec_id
             |  WHERE list_sum(list_transform(range(1, 65), i -> vb.e[i] * va.e[i]))
             |    / (sqrt(list_sum(list_transform(range(1, 65), i -> vb.e[i] * vb.e[i])))
             |     * sqrt(list_sum(list_transform(range(1, 65), i -> va.e[i] * va.e[i]))))
             |    >= 0.35)
             |SELECT vec_id FROM emb
             |WHERE vec_id NOT IN (SELECT vid FROM dup)
             |ORDER BY vec_id""".stripMargin)),

    // ── 76b. D4 (Tirumala et al. 2023): SemDeDup then prototypicality
    // pruning — after cosine dedup, each k-means cell drops the
    // floor(0.25·|cell|) rows CLOSEST to its centroid (the SSL-
    // prototypes rule: cluster cores are redundant, the diverse shell
    // informs). Shares the k-means twin; ranking rides bit-identical
    // squared-L2 doubles (same sequential sum both engines) ────────────
    QueryDef(
      "q_d4_prune",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val cents = graft.ext.Ivf.train(e, "vec_id", "embedding", k = 4, iters = 2,
          spreadInit = false)
        graft.ext.Dedup.d4(e, "vec_id", "embedding", cents,
          tau = 0.35, dropFrac = 0.25)
          .select(col("vec_id"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH ${duckKmeans("TRUE", 2)},
             |afd AS (SELECT vec_id, cell, d2 FROM (
             |  SELECT v.vec_id, c.cid AS cell,
             |    list_sum(list_transform(range(1, 65),
             |      i -> (v.e[i] - c.e[i]) * (v.e[i] - c.e[i]))) AS d2,
             |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
             |      list_sum(list_transform(range(1, 65),
             |        i -> (v.e[i] - c.e[i]) * (v.e[i] - c.e[i]))), c.cid) AS rn
             |  FROM emb v CROSS JOIN c2 c) WHERE rn = 1),
             |dup AS (
             |  SELECT b.vec_id AS vid
             |  FROM afd a JOIN afd b ON a.cell = b.cell AND a.vec_id < b.vec_id
             |  JOIN emb va ON va.vec_id = a.vec_id
             |  JOIN emb vb ON vb.vec_id = b.vec_id
             |  WHERE list_sum(list_transform(range(1, 65), i -> vb.e[i] * va.e[i]))
             |    / (sqrt(list_sum(list_transform(range(1, 65), i -> vb.e[i] * vb.e[i])))
             |     * sqrt(list_sum(list_transform(range(1, 65), i -> va.e[i] * va.e[i]))))
             |    >= 0.35),
             |surv AS (SELECT * FROM afd WHERE vec_id NOT IN (SELECT vid FROM dup)),
             |rk AS (SELECT vec_id,
             |    row_number() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS rn,
             |    count(*) OVER (PARTITION BY cell) AS cnt FROM surv)
             |SELECT vec_id FROM rk WHERE rn > floor(cnt * 0.25)
             |ORDER BY vec_id""".stripMargin)),

    // ── 77. cross-document repeated n-grams (Lee et al. substring-level
    // dedup signal): per doc, distinct 5-gram shingles and how many
    // recur in ≥2 docs; rep_e4 = the templated fraction. Shuffles key
    // on the shingle hash / doc id, never a doc pair ───────────────────
    QueryDef(
      "q_crossdoc_ngram",
      (s, d) =>
        Dedup.repeatedShingleStats(t(s, d, "documents"), "doc_id", "text", n = 5)
          .select(col("doc_id"), col("n_shingles"), col("n_repeated"),
            when(col("n_shingles") === 0, lit(-1L))
              .otherwise(e4(col("n_repeated").cast("double") / col("n_shingles")))
              .as("rep_e4"))
          .orderBy(col("doc_id")),
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
             |s AS (SELECT doc_id, CASE WHEN len(h) >= 5 THEN list_distinct(
             |  list_transform(range(0, len(h)-4), i -> $duckSh5))
             |  ELSE [] END AS gs FROM w),
             |e AS (SELECT doc_id, unnest(gs) AS g FROM s),
             |dfq AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY g),
             |a AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS ns,
             |  CAST(count(CASE WHEN dfq.df >= 2 THEN 1 END) AS BIGINT) AS nr
             |  FROM e JOIN dfq USING (g) GROUP BY e.doc_id)
             |SELECT d.doc_id, COALESCE(a.ns, 0) AS n_shingles,
             |COALESCE(a.nr, 0) AS n_repeated,
             |CASE WHEN COALESCE(a.ns, 0) = 0 THEN -1
             |  ELSE CAST(floor(CAST(a.nr AS DOUBLE)/a.ns*10000.0 + 0.5) AS BIGINT)
             |  END AS rep_e4
             |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ── 77b. variable-span duplicate DETECTION (ExactSubstr semantics,
    // Lee et al. 2022 via shingle-run growth): two synthetic docs plant a
    // 25-token span at offsets 7 and 12 — different residues mod 3, so
    // fixed 3-token chunking can never align them; the maximal run of
    // cross-doc-repeated 5-shingles recovers the full span. The twin
    // recomputes repeated shingles + gaps-and-islands from first
    // principles (the q_transitive_cc pattern) ─────────────────────────
    QueryDef(
      "q_span_detect",
      (s, d) =>
        Dedup.duplicatedSpans(spanAug(s, d), "doc_id", "text",
          n = 5, minDocs = 2, minTokens = 20)
          .orderBy(col("doc_id"), col("start_tok")),
      Some(s"""WITH aug AS (SELECT doc_id, text FROM documents
             |  UNION ALL SELECT 9000001, '$spanOracleA'
             |  UNION ALL SELECT 9000002, '$spanOracleB'),
             |$duckSpanShingles,
             |rep AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM e)
             |  GROUP BY sh HAVING count(*) >= 2),
             |runs AS (SELECT doc_id, p,
             |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
             |  FROM e WHERE sh IN (SELECT sh FROM rep)),
             |sp AS (SELECT doc_id, min(p) AS st, max(p) + 4 AS en
             |  FROM runs GROUP BY doc_id, grp)
             |SELECT doc_id, CAST(st AS BIGINT) AS start_tok,
             |  CAST(en AS BIGINT) AS end_tok,
             |  CAST(en - st + 1 AS BIGINT) AS n_tokens
             |FROM sp WHERE en - st + 1 >= 20
             |ORDER BY doc_id, start_tok""".stripMargin)),

    // ── 77c. variable-span dedup REMOVAL: winner per shingle = minimum
    // holder doc; a non-winner's repeated positions grow to maximal runs
    // ≥ minTokens and are cut from its token stream, so exactly one copy
    // of every duplicated region survives (under-removal when winners
    // differ per shingle is the documented trade). The twin rebuilds
    // text_kept by anti-joining cut positions token by token ───────────
    QueryDef(
      "q_span_dedup",
      (s, d) =>
        Dedup.spanDedup(spanAug(s, d), "doc_id", "text",
          n = 5, minDocs = 2, minTokens = 20)
          .orderBy(col("doc_id")),
      Some(s"""WITH aug AS (SELECT doc_id, text FROM documents
             |  UNION ALL SELECT 9000001, '$spanOracleA'
             |  UNION ALL SELECT 9000002, '$spanOracleB'),
             |$duckSpanShingles,
             |dfw AS (SELECT sh, CAST(count(*) AS BIGINT) AS df,
             |    min(doc_id) AS win
             |  FROM (SELECT DISTINCT doc_id, sh FROM e) GROUP BY sh),
             |cut AS (SELECT e.doc_id, e.p,
             |    e.p - row_number() OVER (PARTITION BY e.doc_id ORDER BY e.p) AS grp
             |  FROM e JOIN dfw ON e.sh = dfw.sh
             |    AND dfw.df >= 2 AND e.doc_id <> dfw.win),
             |sp AS (SELECT doc_id, min(p) AS st, max(p) + 4 AS en
             |  FROM cut GROUP BY doc_id, grp
             |  HAVING max(p) + 4 - min(p) + 1 >= 20),
             |${duckSpanCut("sp")}
             |SELECT doc_id, CAST(n_tot - n_kept AS BIGINT) AS n_removed,
             |  nullif(txt, '') AS text_kept
             |FROM kept ORDER BY doc_id""".stripMargin)),

    // ── 77b2. EXACT variable-span detection (true ExactSubstr): covered
    // positions = union of TRUE ≥20-token substrings shared with some
    // partner, recovered via diagonal runs in the shingle-match grid.
    // The planted X/C/D triple proves the precision gap: the relaxation
    // would report X's stitched 30-token region; the exact test reports
    // nothing there while still catching A/B's straddling 25-token span ─
    QueryDef(
      "q_span_exact",
      (s, d) =>
        Dedup.duplicatedSpansExact(spanExactAug(s, d), "doc_id", "text",
          n = 5, minTokens = 20)
          .orderBy(col("doc_id"), col("start_tok")),
      Some(s"""WITH aug AS ($spanExactAugSql),
             |${duckExactSpans("a.doc_id <> b.doc_id")}
             |SELECT doc_id, CAST(st AS BIGINT) AS start_tok,
             |  CAST(en AS BIGINT) AS end_tok,
             |  CAST(en - st + 1 AS BIGINT) AS n_tokens
             |FROM cov ORDER BY doc_id, start_tok""".stripMargin)),

    // ── 77b3. EXACT variable-span removal: cut positions covered by a
    // true shared substring with a LOWER-id doc — the minimum holder
    // keeps text verbatim, no per-shingle winner fragmentation, no
    // stitched-run over-removal (X/C/D all keep everything) ────────────
    QueryDef(
      "q_span_dedup_exact",
      (s, d) =>
        Dedup.spanDedupExact(spanExactAug(s, d), "doc_id", "text",
          n = 5, minTokens = 20)
          .orderBy(col("doc_id")),
      Some(s"""WITH aug AS ($spanExactAugSql),
             |${duckExactSpans("a.doc_id > b.doc_id")},
             |${duckSpanCut("cov")}
             |SELECT doc_id, CAST(n_tot - n_kept AS BIGINT) AS n_removed,
             |  nullif(txt, '') AS text_kept
             |FROM kept ORDER BY doc_id""".stripMargin)),

    // ── 77d. store version diff (CDC read): the Spark side exercises
    // the REAL atomic shard store — writes v1 (docs < 20), then v2
    // (every 3rd doc dropped, doc 5 rewritten, one novel row) to a
    // fresh temp store and runs ShardStore.diffVersions; the twin
    // recomputes the expected content set-diff relationally. A hash
    // match proves write → commit → time-travel read → diff end to end ─
    QueryDef(
      "q_store_diff",
      (s, d) => {
        import graft.sources.ShardStore
        val root = scratchDir("q-store-diff")
          .resolve("store").toString
        val base = t(s, d, "documents")
          .select(col("doc_id"), col("text")).filter(col("doc_id") < 20)
        ShardStore.writeShardsAtomic(base, "doc_id", numShards = 2, root)
        val v2 = base.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .withColumn("text",
            when(col("doc_id") === 5, lit("rewritten text")).otherwise(col("text")))
          .unionByName(s.range(1).select(
            lit(9000100L).as("doc_id"), lit("novel store row").as("text")))
        ShardStore.writeShardsAtomic(v2, "doc_id", numShards = 2, root)
        ShardStore.diffVersions(s, root, 1L, 2L)
          .orderBy(col("doc_id"), col("change"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
             |v2 AS (SELECT doc_id,
             |    CASE WHEN doc_id = 5 THEN 'rewritten text' ELSE text END AS text
             |  FROM base WHERE doc_id % 3 <> 0
             |  UNION ALL SELECT 9000100, 'novel store row'),
             |ins AS (SELECT v2.doc_id, v2.text, 'insert' AS change FROM v2
             |  LEFT JOIN base ON base.doc_id = v2.doc_id AND base.text = v2.text
             |  WHERE base.doc_id IS NULL),
             |del AS (SELECT base.doc_id, base.text, 'delete' AS change FROM base
             |  LEFT JOIN v2 ON v2.doc_id = base.doc_id AND v2.text = base.text
             |  WHERE v2.doc_id IS NULL)
             |SELECT doc_id, text, change
             |FROM (SELECT * FROM ins UNION ALL SELECT * FROM del)
             |ORDER BY doc_id, change""".stripMargin)),

    // ── 77e. store schema evolution under the oracle gate: v1 writes
    // (doc_id, text), v2 adds a quality column; the evolved read of v1
    // aligns to v2's schema with quality null-filled. The twin just
    // SELECTs v1's rows with a typed NULL — matching proves the sidecar
    // resolution + projection end to end on a REAL committed store ────
    QueryDef(
      "q_store_evolve",
      (s, d) => {
        import graft.sources.ShardStore
        val root = scratchDir("q-store-evolve")
          .resolve("store").toString
        val docs = t(s, d, "documents")
        ShardStore.writeShardsAtomic(
          docs.filter(col("doc_id") < 30).select(col("doc_id"), col("text")),
          "doc_id", numShards = 2, root)
        ShardStore.writeShardsAtomic(
          docs.filter(col("doc_id") < 25).select(col("doc_id"), col("text"),
            (col("n_chars") % 7).cast("double").as("quality")),
          "doc_id", numShards = 2, root)
        ShardStore.readShardsAtEvolved(s, root, 1L)
          .select(col("doc_id"), col("text"), col("quality"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, CAST(NULL AS DOUBLE) AS quality
             |FROM documents WHERE doc_id < 30 ORDER BY doc_id""".stripMargin)),

    // ── 77f. INTRA-document span dedup (keep-first removal of passages
    // repeated within one page — the scraped-page failure mode the
    // cross-doc operators never touch): a planted doc carries the same
    // 25-token passage twice; the second copy boils away, the first
    // survives verbatim. Twin recomputes first-occurrence election +
    // gaps-and-islands + token rebuild from first principles ──────────
    QueryDef(
      "q_intradoc_dedup",
      (s, d) =>
        Dedup.intraDocDedup(intraAug(s, d), "doc_id", "text",
          n = 5, minTokens = 20)
          .orderBy(col("doc_id")),
      Some(s"""WITH aug AS (SELECT doc_id, text FROM documents
             |  UNION ALL SELECT 9000201, '$intraOracleDoc'),
             |$duckSpanShingles,
             |fst AS (SELECT doc_id, sh, min(p) AS fp
             |  FROM e GROUP BY doc_id, sh),
             |cut AS (SELECT e.doc_id, e.p,
             |    e.p - row_number() OVER (PARTITION BY e.doc_id ORDER BY e.p) AS grp
             |  FROM e JOIN fst ON e.doc_id = fst.doc_id AND e.sh = fst.sh
             |    AND e.p > fst.fp),
             |sp AS (SELECT doc_id, min(p) AS st, max(p) + 4 AS en
             |  FROM cut GROUP BY doc_id, grp
             |  HAVING max(p) + 4 - min(p) + 1 >= 20),
             |${duckSpanCut("sp")}
             |SELECT doc_id, CAST(n_tot - n_kept AS BIGINT) AS n_removed,
             |  nullif(txt, '') AS text_kept
             |FROM kept ORDER BY doc_id""".stripMargin)),

    // ── 78. inverted index build: term → df + sorted posting list (the
    // one term-keyed shuffle; postings joined to a string because the
    // compare harness can't diff array cells) ──────────────────────────
    QueryDef(
      "q_inverted_index",
      (s, d) =>
        graft.ext.Search.invertedIndex(t(s, d, "documents"), "doc_id", "text")
          .select(col("term"), col("df"),
            array_join(transform(col("postings"), _.cast("string")), ",").as("postings"))
          .orderBy(col("term")),
      Some("""SELECT term, CAST(count(*) AS BIGINT) AS df,
             |string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
             |FROM (SELECT DISTINCT doc_id, term FROM
             |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents))
             |GROUP BY term ORDER BY term""".stripMargin)),

    // ── 79. TF-IDF (smooth idf), top-5 terms per doc by score: row-local
    // tf, broadcast df/N — no corpus-wide shuffle; scores e4-quantized
    // (ln over identical doubles, floor-quantize both engines) ─────────
    QueryDef(
      "q_tfidf",
      (s, d) => {
        val scored = graft.ext.Search.tfidf(
          t(s, d, "documents").filter(col("doc_id") < 50), "doc_id", "text")
        val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
        scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= 5)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            e4(col("score")).as("score_e4"))
          .orderBy(col("doc_id"), col("term"))
      },
      Some("""WITH dd AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
             |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM dd),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) GROUP BY doc_id, term),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dd),
             |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
             |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             |  tf.tf * (ln(CAST(n.n + 1 AS DOUBLE)/(dfq.df + 1)) + 1.0) AS score
             |  FROM tf JOIN dfq USING (term), n),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |  ORDER BY score DESC, term) AS rn FROM sc)
             |SELECT doc_id, term, tf, df,
             |CAST(floor(score*10000.0 + 0.5) AS BIGINT) AS score_e4
             |FROM r WHERE rn <= 5 ORDER BY doc_id, term""".stripMargin)),

    // ── 80. BM25 ranking for a fixed query-term set. Per-term scores
    // quantized to exact micro-units BEFORE the per-doc sum (double
    // addition is partition-order-sensitive; BIGINT addition is not) ───
    QueryDef(
      "q_bm25",
      (s, d) =>
        graft.ext.Search.bm25(t(s, d, "documents"), "doc_id", "text",
          Seq("spark", "join", "fast"))
          .orderBy(col("score_e6").desc, col("doc_id"))
          .limit(50),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(len(toks)) AS BIGINT) AS sdl FROM tk),
             |q(term) AS (VALUES ('spark'), ('join'), ('fast')),
             |tf AS (SELECT doc_id, term,
             |  CAST(len(list_filter(toks, w -> w = term)) AS BIGINT) AS tf,
             |  CAST(len(toks) AS BIGINT) AS dl FROM tk, q),
             |tf2 AS (SELECT * FROM tf WHERE tf > 0),
             |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY term),
             |sc AS (SELECT tf2.doc_id,
             |  CAST(floor(ln((CAST(st.n AS DOUBLE) - dfq.df + 0.5)/(dfq.df + 0.5) + 1.0)
             |    * (tf2.tf * (1.2 + 1)) / (tf2.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf2.dl
             |      / (CAST(st.sdl AS DOUBLE)/st.n)))
             |    * 1000000.0 + 0.5) AS BIGINT) AS s6
             |  FROM tf2 JOIN dfq USING (term), st)
             |SELECT doc_id, CAST(sum(s6) AS BIGINT) AS score_e6 FROM sc
             |GROUP BY doc_id ORDER BY score_e6 DESC, doc_id LIMIT 50""".stripMargin)),

    // ── 80b. exact phrase search ("order sort" at consecutive
    // positions) via the anchor trick — map-side term prune, integer
    // anchor-vote counting on both engines ─────────────────────────────
    QueryDef(
      "q_phrase_search",
      (s, d) =>
        graft.ext.Search.phraseSearch(t(s, d, "documents"), "doc_id", "text",
            Seq("order", "sort"))
          .orderBy(col("doc_id")),
      Some("""WITH ph AS (SELECT * FROM (VALUES (0, 'order'), (1, 'sort')) v(j, w)),
             |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |w AS (SELECT doc_id, unnest(toks) AS term,
             |  generate_subscripts(toks, 1) - 1 AS pos FROM tk),
             |a AS (SELECT doc_id, pos - j AS anchor FROM w
             |  JOIN ph ON w.term = ph.w WHERE pos - j >= 0),
             |g AS (SELECT doc_id, anchor, count(*) AS c FROM a
             |  GROUP BY doc_id, anchor)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
             |FROM g WHERE c = 2 GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── 80c. URL canonicalization + host extraction over synthesized
    // crawl URLs (two shapes: http:80 + interleaved utm params + frag;
    // https:443 + lone gclid + trailing slash) — identical RE2-safe
    // rule chain authored in each engine's replacement syntax ──────────
    QueryDef(
      "q_url_canon",
      (s, d) => {
        val docs = t(s, d, "documents")
        val u = when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("HTTP://Host"), col("source"), lit(".COM:80/p/"),
            col("doc_id"), lit("?utm_source=a&id="), col("doc_id"), lit("#f")))
          .otherwise(concat(lit("HTTPS://Host"), col("source"),
            lit(".COM:443/?gclid=zzz")))
        docs.select(col("doc_id"),
            graft.ext.Web.canonicalUrl(u).as("url_canon"),
            graft.ext.Web.host(u).as("host"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH u0 AS (SELECT doc_id,
             |  CASE WHEN doc_id % 2 = 0 THEN
             |    'HTTP://Host' || source || '.COM:80/p/' || doc_id
             |      || '?utm_source=a&id=' || doc_id || '#f'
             |  ELSE 'HTTPS://Host' || source || '.COM:443/?gclid=zzz' END AS u
             |  FROM documents),
             |s1 AS (SELECT doc_id, u, regexp_replace(u, '#.*', '', 'g') AS x FROM u0),
             |s2 AS (SELECT doc_id, u,
             |  lower(regexp_extract(x, '^[^/?#]*//[^/?#]*'))
             |    || regexp_replace(x, '^[^/?#]*//[^/?#]*', '') AS x FROM s1),
             |s3 AS (SELECT doc_id, u,
             |  regexp_replace(regexp_replace(x,
             |    '^(http://[^/?#:]+):80([/?#]|$)', '\1\2'),
             |    '^(https://[^/?#:]+):443([/?#]|$)', '\1\2') AS x FROM s2),
             |s4 AS (SELECT doc_id, u,
             |  regexp_replace(regexp_replace(regexp_replace(x,
             |    '&(utm_[a-zA-Z0-9_]*|fbclid|gclid|msclkid)=[^&#]*', '', 'g'),
             |    '\?(utm_[a-zA-Z0-9_]*|fbclid|gclid|msclkid)=[^&#]*&', '?'),
             |    '\?(utm_[a-zA-Z0-9_]*|fbclid|gclid|msclkid)=[^&#]*$', '') AS x
             |  FROM s3),
             |s5 AS (SELECT doc_id, u,
             |  regexp_replace(x, '^(https?://[^/?#]+)/$', '\1') AS x FROM s4)
             |SELECT doc_id, x AS url_canon,
             |regexp_extract(lower(u), '//(?:[^/?#@]*@)?([^/?#:]+)', 1) AS host
             |FROM s5 ORDER BY doc_id""".stripMargin)),

    // ── 81. MERGE-style latest-wins upsert: changelog (derived from
    // orders; version = orderkey, 'F' status = tombstone) into the
    // customer base. One key-partitioned window, WindowGroupLimit plan ─
    QueryDef(
      "q_merge_upsert",
      (s, d) => {
        val base = t(s, d, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            lit(0L).as("v"), lit(false).as("del"))
        val changes = t(s, d, "orders")
          .select(col("o_custkey").as("c_custkey"),
            concat(lit("upd-"), col("o_orderkey").cast("string")).as("c_name"),
            col("o_totalprice").as("c_acctbal"),
            col("o_orderkey").as("v"),
            (col("o_orderstatus") === "F").as("del"))
        graft.operators.Merge.upsert(base, changes, Seq("c_custkey"), "v", Some("del"))
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("v"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH b AS (SELECT c_custkey, c_name, c_acctbal,
             |  CAST(0 AS BIGINT) AS v, false AS del FROM customer),
             |ch AS (SELECT o_custkey AS c_custkey,
             |  'upd-' || CAST(o_orderkey AS VARCHAR) AS c_name,
             |  o_totalprice AS c_acctbal, o_orderkey AS v,
             |  o_orderstatus = 'F' AS del FROM orders),
             |u AS (SELECT * FROM b UNION ALL SELECT * FROM ch),
             |r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
             |  ORDER BY v DESC) AS rn FROM u)
             |SELECT c_custkey, c_name, c_acctbal, v FROM r WHERE rn = 1 AND NOT del
             |ORDER BY c_custkey""".stripMargin)),

    // ── 82. SCD-2 validity intervals from a change log (orders per
    // custkey): valid_from/valid_to via lead(), orderkey tie-break for
    // same-timestamp changes, timestamps emitted as formatted strings ──
    QueryDef(
      "q_scd2",
      (s, d) => {
        val log0 = t(s, d, "orders").filter(col("o_custkey") < 100)
          .select(col("o_custkey").as("key"), col("o_orderdate").as("ts"),
            col("o_totalprice").as("attr"), col("o_orderkey").as("seq"))
        graft.operators.Merge.scd2(log0, Seq("key"), "ts", Seq("seq"))
          .select(col("key"), col("seq"),
            date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
            coalesce(date_format(col("valid_to"), "yyyy-MM-dd"), lit("current"))
              .as("valid_to"),
            col("is_current"), col("attr"))
          .orderBy(col("key"), col("seq"))
      },
      Some("""WITH l AS (SELECT o_custkey AS key, o_orderdate AS ts,
             |  o_totalprice AS attr, o_orderkey AS seq FROM orders WHERE o_custkey < 100),
             |v AS (SELECT key, seq, ts AS vf,
             |  lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS vt, attr FROM l)
             |SELECT key, seq, strftime(vf, '%Y-%m-%d') AS valid_from,
             |COALESCE(strftime(vt, '%Y-%m-%d'), 'current') AS valid_to,
             |vt IS NULL AS is_current, attr FROM v ORDER BY key, seq""".stripMargin)),

    // ── 83. int8 scalar quantization of the embedding store (max-abs
    // symmetric, explicit floor(x+0.5) rounding — engine-native round()
    // diverges on doubles). Full q vector emitted as a string for exact
    // element-wise cross-engine comparison ─────────────────────────────
    QueryDef(
      "q_quantize",
      (s, d) =>
        graft.ext.Quantize.quantizeInt8(t(s, d, "embeddings"), "embedding", "qc")
          .select(col("vec_id"),
            e4(col("qc.scale")).as("scale_e4"),
            aggregate(col("qc.q"), lit(0L), (a, x) => a + x).as("q_sum"),
            array_join(transform(col("qc.q"), _.cast("string")), ",").as("q_str"))
          .orderBy(col("vec_id")),
      Some("""WITH m AS (SELECT vec_id, embedding,
             |  list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx
             |  FROM embeddings),
             |q AS (SELECT vec_id, mx, CASE WHEN mx = 0
             |  THEN list_transform(embedding, v -> CAST(0 AS BIGINT))
             |  ELSE list_transform(embedding,
             |    v -> CAST(floor(CAST(v AS DOUBLE)*127.0/mx + 0.5) AS BIGINT))
             |  END AS ql FROM m)
             |SELECT vec_id,
             |CAST(floor((CASE WHEN mx = 0 THEN 0.0 ELSE mx/127.0 END)*10000.0 + 0.5)
             |  AS BIGINT) AS scale_e4,
             |CAST(list_sum(ql) AS BIGINT) AS q_sum,
             |array_to_string(ql, ',') AS q_str
             |FROM q ORDER BY vec_id""".stripMargin)),

    // ── 84. signed-random-projection dim reduction (64 → 4, the
    // lshBucket LCG plane family without the sign threshold) — each
    // output component e4-quantized ────────────────────────────────────
    QueryDef(
      "q_rand_proj",
      (s, d) =>
        t(s, d, "embeddings")
          .withColumn("_p", Similarity.randomProject(col("embedding"), dimIn = 64, dimOut = 4))
          .select((col("vec_id") +: (0 until 4).map(j =>
            e4(element_at(col("_p"), j + 1)).as(s"p${j}_e4"))): _*)
          .orderBy(col("vec_id")),
      Some(s"""SELECT vec_id,
             |${(0 until 4).map(j =>
                 s"CAST(floor(list_sum(list_transform(range(0,64), i -> " +
                 s"CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE) * " +
                 s"${duckPlane(s"$j*64+i+1")}))" +
                 s"*10000.0 + 0.5) AS BIGINT) AS p${j}_e4").mkString(",\n")}
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ── 85. context-window chunking (40-token windows, 8-token overlap):
    // map-only token-array slicing, chunk content pinned by MD5 (proven
    // cross-engine by q_binary_funcs) ──────────────────────────────────
    QueryDef(
      "q_chunk",
      (s, d) =>
        graft.ext.Corpus.chunkDocs(t(s, d, "documents"), "doc_id", "text",
          maxTokens = 40, overlap = 8)
          .select(col("doc_id"), col("chunk_id"), col("n_tok"),
            md5(col("chunk").cast("binary")).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |nn AS (SELECT doc_id, toks, len(toks) AS nt FROM tk WHERE len(toks) > 0),
             |ch AS (SELECT doc_id, toks, unnest(range(0,
             |  greatest(1, CAST(floor((nt - 9)/32) AS BIGINT) + 1))) AS k FROM nn)
             |SELECT doc_id, k AS chunk_id,
             |CAST(len(toks[CAST(k*32+1 AS INT):CAST(k*32+40 AS INT)]) AS BIGINT) AS n_tok,
             |md5(array_to_string(toks[CAST(k*32+1 AS INT):CAST(k*32+40 AS INT)], ' ')) AS chunk_md5
             |FROM ch ORDER BY doc_id, chunk_id""".stripMargin)),

    // ── 86. asymmetric shingle containment over candidate pairs
    // (consecutive ids, the q_dedup_ngram convention): quoted-passage
    // detection where Jaccard dilutes; both directions, e4-quantized ───
    QueryDef(
      "q_containment",
      (s, d) => {
        val doc = t(s, d, "documents")
          .withColumn("_whs", TextHash.wordHashes(col("text")))
          .withColumn("_sh", array_distinct(TextHash.shingleHashes(col("_whs"))))
        val a = doc.select(col("doc_id"), col("_sh").as("sa"))
        val b = doc.select((col("doc_id") - 1).as("doc_id"), col("_sh").as("sb"))
        a.join(b, "doc_id")
          .select(col("doc_id"),
            e4(TextHash.containment(col("sa"), col("sb"))).as("c_ab_e4"),
            e4(TextHash.containment(col("sb"), col("sa"))).as("c_ba_e4"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h FROM documents),
             |sh AS (SELECT doc_id, list_distinct($duckSh3) AS s FROM w)
             |SELECT a.doc_id AS doc_id,
             |CAST(floor(len(list_intersect(a.s, b.s))*1.0/len(a.s)*10000.0 + 0.5)
             |  AS BIGINT) AS c_ab_e4,
             |CAST(floor(len(list_intersect(b.s, a.s))*1.0/len(b.s)*10000.0 + 0.5)
             |  AS BIGINT) AS c_ba_e4
             |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
             |ORDER BY a.doc_id""".stripMargin)),

    // ── 87. corpus-unigram LM log-prob per doc (CCNet-style quality
    // signal): per-token fixed-point micro-units, exact integer doc
    // sums; vocabulary broadcast, term freqs row-local ─────────────────
    QueryDef(
      "q_lm_score",
      (s, d) =>
        TextAnalysis.unigramLogProb(t(s, d, "documents"), "doc_id", "text")
          .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |w AS (SELECT doc_id, unnest(toks) AS term FROM tk),
             |v AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY term),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM w),
             |lp AS (SELECT w.doc_id,
             |  CAST(floor(ln(CAST(v.cnt AS DOUBLE)/t.tot)*1000000.0 + 0.5) AS BIGINT) AS lp6
             |  FROM w JOIN v USING (term), t)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |CAST(sum(lp6) AS BIGINT) AS lp_e6
             |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── 87a2. CCNet quality buckets: per-language ntile over mean
    // per-token log-prob — fixed-point sums, double mean, ntile parity
    // (already pinned by q_window_ntile) ───────────────────────────────
    QueryDef(
      "q_quality_buckets",
      (s, d) =>
        TextAnalysis.qualityBuckets(t(s, d, "documents"), "doc_id", "text",
            3, Seq("lang"))
          .select(col("doc_id"), col("lang"), col("n_tok"), col("lp_e6"),
            col("bucket"))
          .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
             |  FROM documents),
             |w AS (SELECT doc_id, unnest(toks) AS term FROM tk),
             |v AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY term),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM w),
             |lp AS (SELECT w.doc_id,
             |  CAST(floor(ln(CAST(v.cnt AS DOUBLE)/t.tot)*1000000.0 + 0.5) AS BIGINT) AS lp6
             |  FROM w JOIN v USING (term), t),
             |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |  CAST(sum(lp6) AS BIGINT) AS lp_e6 FROM lp GROUP BY doc_id),
             |j AS (SELECT tk.doc_id, lang, n_tok, lp_e6,
             |  CAST(lp_e6 AS DOUBLE)/n_tok AS mean_lp
             |  FROM tk JOIN sc ON tk.doc_id = sc.doc_id)
             |SELECT doc_id, lang, n_tok, lp_e6,
             |CAST(ntile(3) OVER (PARTITION BY lang
             |  ORDER BY mean_lp DESC, doc_id) AS INT) AS bucket
             |FROM j ORDER BY doc_id""".stripMargin)),

    // ── 87b. multinomial Naive Bayes language classifier: train on the
    // 80% doc_id split, score the rest — e6 fixed-point log-weights,
    // integer score sums, argmax with lexical tie-break on both engines ─
    QueryDef(
      "q_nb_classify",
      (s, d) => {
        val docs = t(s, d, "documents")
        val model = TextAnalysis.nbModel(
          docs.filter(pmod(col("doc_id"), lit(10)) < 8), "lang", "text")
        TextAnalysis.nbScore(
            docs.filter(pmod(col("doc_id"), lit(10)) >= 8), "doc_id", "text", model)
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT lang AS label, unnest(string_split(text, ' ')) AS term
             |  FROM documents WHERE doc_id % 10 < 8),
             |vocab AS (SELECT DISTINCT term FROM w),
             |vc AS (SELECT count(*) AS v FROM vocab),
             |cnt AS (SELECT label, term, count(*) AS c FROM w GROUP BY label, term),
             |lt AS (SELECT label, count(*) AS t FROM w GROUP BY label),
             |ld AS (SELECT lang AS label, count(*) AS d FROM documents
             |  WHERE doc_id % 10 < 8 GROUP BY 1),
             |dd AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 < 8),
             |model AS (SELECT lt.label, vocab.term,
             |  CAST(floor(ln(CAST(coalesce(c, 0)+1 AS DOUBLE)/(t+v))
             |    *1000000.0 + 0.5) AS BIGINT) AS lw,
             |  CAST(floor(ln(CAST(d AS DOUBLE)/n)*1000000.0 + 0.5) AS BIGINT) AS prior
             |  FROM vocab CROSS JOIN lt
             |  LEFT JOIN cnt ON cnt.label = lt.label AND cnt.term = vocab.term
             |  JOIN ld ON ld.label = lt.label, vc, dd),
             |q AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents WHERE doc_id % 10 >= 8),
             |sc AS (SELECT doc_id, label, count(*) AS n_tok,
             |  min(prior) + sum(lw) AS score
             |  FROM q JOIN model USING (term) GROUP BY doc_id, label),
             |rk AS (SELECT doc_id, label, score, n_tok,
             |  row_number() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, label ASC) AS rn FROM sc)
             |SELECT doc_id, label AS best_label,
             |CAST(score AS BIGINT) AS score_e6, CAST(n_tok AS BIGINT) AS n_tok
             |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // ── 87c. logistic-regression quality classifier (fastText-style
    // corpus gate, Joulin 2016): full-batch GD with the fast sigmoid
    // (arithmetic-only ⇒ IEEE-bit-identical cross-engine) and
    // fixed-point long gradient sums (order-independent). The DuckDB
    // twin unrolls the 3 iterations as CTEs and reproduces the weights
    // BIT-FOR-BIT — an iterative ML training loop under the hash gate.
    // Label = "mentions 'spark'", which in this corpus genuinely
    // correlates with length (AUC ≈ 0.78) — the classifier has a real
    // signal to learn, not a majority-class degenerate target ─────────
    QueryDef(
      "q_quality_logreg",
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
        val nt = size(split(col("text"), " ", -1))
        val len = length(col("text"))
        val eCnt = len - length(expr("replace(text, 'e', '')"))
        val feats = Seq(
          lit(1.0),
          nt / lit(100.0),
          len / (lit(10.0) * nt),
          eCnt * lit(10.0) / (lit(1.0) + len))
        val label = when(
          len - length(expr("replace(text, 'spark', '')")) > 0, 1.0)
          .otherwise(0.0)
        val m = graft.ext.LogReg.train(docs, feats, label,
          lr = 0.5, iters = 3, scale = 1e9)
        val names = Seq("bias", "x1_tokens", "x2_avglen", "x3_efreq")
        names.zip(m.weights.toSeq)
          .map { case (nm, w) =>
            (nm, math.floor(w * 1000000.0 + 0.5).toLong, m.nCorrect, m.n)
          }
          .toDF("feature", "weight_e6", "n_correct", "n_rows")
          .orderBy(col("feature"))
      },
      Some(duckLogregSql)),

    // ── 87c2. SPARSE hashed-feature logistic regression (the actual
    // fastText shape, Joulin 2016): unigram+bigram hashes mod 16,
    // per-doc z = left-fold over the bucket array vs the weight
    // literal, per-iteration gradient = ONE explode+groupBy(bucket)
    // pass with a −1 sentinel bucket carrying bias gradient + n. Twin
    // unrolls both iterations; list_reduce replays the fold order, so
    // trained weights are bit-identical (e6 fixed-pointed for output) ──
    QueryDef(
      "q_logreg_hashed",
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val m = graft.ext.LogReg.trainHashed(docs, "text",
          (col("lang") === "en").cast("double"), m = 16, lr = 0.5, iters = 2)
        ((-1L, m.bias) +: m.weights.zipWithIndex.toSeq
          .map { case (w, i) => (i.toLong, w) })
          .map { case (b, w) => (b, math.floor(w * 1000000.0 + 0.5).toLong) }
          .toDF("bucket", "weight_e6")
          .orderBy(col("bucket"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckWhs AS h,
             |           CASE WHEN lang='en' THEN 1.0 ELSE 0.0 END AS y FROM documents),
             |f AS (SELECT doc_id, y, list_transform(h || list_transform(range(1, len(h)),
             |        i -> (h[CAST(i AS INT)]*31 + h[CAST(i AS INT)+1]) % $duckP),
             |        x -> x % 16) AS b FROM w),
             |n0 AS (SELECT count(*) AS n FROM f),
             |ex1 AS (SELECT y, unnest(b || [CAST(-1 AS BIGINT)]) AS bucket FROM f),
             |g1 AS (SELECT bucket, sum(CAST(floor((0.5 - y)*1000000000.0 + 0.5) AS BIGINT)) AS g
             |       FROM ex1 GROUP BY bucket),
             |spine AS (SELECT unnest([CAST(-1 AS BIGINT)] || range(0,16)) AS bucket),
             |w1 AS (SELECT s.bucket, 0.0 - 0.5*((coalesce(g1.g,0)/1000000000.0)/n0.n) AS wt
             |       FROM spine s LEFT JOIN g1 USING(bucket), n0),
             |wl1 AS (SELECT list(wt ORDER BY bucket) AS wl FROM w1 WHERE bucket >= 0),
             |b1 AS (SELECT wt FROM w1 WHERE bucket = -1),
             |z2 AS (SELECT f.doc_id, f.y, f.b,
             |       list_reduce(list_prepend(b1.wt, list_transform(f.b,
             |         x -> wl1.wl[CAST(x AS INT)+1])), (a,c) -> a+c) AS z
             |       FROM f, wl1, b1),
             |ex2 AS (SELECT CAST(floor((0.5 + z/(2.0*(1.0+abs(z))) - y)*1000000000.0 + 0.5) AS BIGINT) AS q,
             |        unnest(b || [CAST(-1 AS BIGINT)]) AS bucket FROM z2),
             |g2 AS (SELECT bucket, sum(q) AS g FROM ex2 GROUP BY bucket),
             |w2 AS (SELECT w1.bucket, w1.wt - 0.5*((coalesce(g2.g,0)/1000000000.0)/n0.n) AS weight
             |       FROM w1 LEFT JOIN g2 USING(bucket), n0)
             |SELECT bucket, CAST(floor(weight*1000000.0 + 0.5) AS BIGINT) AS weight_e6
             |FROM w2 ORDER BY bucket""".stripMargin)),

    // ── 87d. exact ROC-AUC of a corpus scorer vs a binary label —
    // Mann-Whitney U with midrank ties, integer rank-sums over per-score
    // aggregates (the window sorts DISTINCT SCORES, not rows). Token
    // count scores the "mentions 'spark'" label at AUC ≈ 0.78 — a real
    // ranking signal with heavy ties (integer score domain) ────────────
    QueryDef(
      "q_classifier_auc",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
        val len = length(col("text"))
        val nt = size(split(col("text"), " ", -1))
        val score = nt.cast("double")
        val label = when(
          len - length(expr("replace(text, 'spark', '')")) > 0, 1L)
          .otherwise(0L)
        graft.ext.Eval.binaryAuc(docs, score, label)
          .select(
            when(col("auc").isNotNull,
              floor(col("auc") * lit(1000000.0) + lit(0.5)).cast("long"))
              .as("auc_e6"),
            col("n_pos"), col("n_neg"))
      },
      Some("""WITH s AS (SELECT
             |  CASE WHEN length(text) - length(replace(text, 'spark', '')) > 0
             |    THEN 1 ELSE 0 END AS y,
             |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS sc
             |  FROM documents WHERE text IS NOT NULL),
             |p AS (SELECT sc, count(*) AS ct, sum(y) AS cp FROM s GROUP BY sc),
             |r AS (SELECT cp, ct, sum(ct) OVER (ORDER BY sc) AS cum FROM p),
             |u AS (SELECT CAST(sum(cp*(2*cum - ct + 1)) AS BIGINT) AS sr2 FROM r),
             |t AS (SELECT CAST(sum(y) AS BIGINT) AS np,
             |  CAST(count(*) AS BIGINT) AS n FROM s)
             |SELECT CASE WHEN np > 0 AND n - np > 0 THEN
             |  CAST(floor(CAST(sr2 - np*(np+1) AS DOUBLE)
             |    / (2.0*CAST(np AS DOUBLE)*CAST(n - np AS DOUBLE))
             |    * 1000000.0 + 0.5) AS BIGINT) END AS auc_e6,
             |np AS n_pos, n - np AS n_neg FROM u, t""".stripMargin)),

    // ── 87e. precision/recall threshold sweep: every distinct score is
    // a threshold; exact long counts from reverse-cumulative sums over
    // per-score aggregates (window sorts distinct scores only) ─────────
    QueryDef(
      "q_pr_curve",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
        val len = length(col("text"))
        val nt = size(split(col("text"), " ", -1))
        val score = nt.cast("double")
        val label = when(
          len - length(expr("replace(text, 'spark', '')")) > 0, 1L)
          .otherwise(0L)
        graft.ext.Eval.prCurve(docs, score, label)
          .select(
            e6d(col("threshold")).as("threshold_e6"),
            col("tp"), col("fp"), col("fn"),
            e6d(col("precision")).as("precision_e6"),
            when(col("recall").isNotNull, e6d(col("recall")))
              .as("recall_e6"))
          .orderBy(col("threshold_e6"))
      },
      Some("""WITH s AS (SELECT
             |  CASE WHEN length(text) - length(replace(text, 'spark', '')) > 0
             |    THEN 1 ELSE 0 END AS y,
             |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS sc
             |  FROM documents WHERE text IS NOT NULL),
             |p AS (SELECT sc, count(*) AS ct, sum(y) AS cp FROM s GROUP BY sc),
             |r AS (SELECT sc, sum(cp) OVER (ORDER BY sc DESC) AS tp,
             |  sum(ct - cp) OVER (ORDER BY sc DESC) AS fp FROM p),
             |t AS (SELECT CAST(sum(y) AS BIGINT) AS pos FROM s)
             |SELECT CAST(floor(sc*1000000.0 + 0.5) AS BIGINT) AS threshold_e6,
             |CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             |CAST(pos - tp AS BIGINT) AS fn,
             |CAST(floor(CAST(tp AS DOUBLE)/CAST(tp + fp AS DOUBLE)
             |  *1000000.0 + 0.5) AS BIGINT) AS precision_e6,
             |CASE WHEN pos > 0 THEN
             |  CAST(floor(CAST(tp AS DOUBLE)/CAST(pos AS DOUBLE)
             |    *1000000.0 + 0.5) AS BIGINT) END AS recall_e6
             |FROM r, t ORDER BY threshold_e6""".stripMargin)),

    // ── 87f. calibration reliability bins: fixed-point e9 probability
    // sums make the per-bin mean prediction partition-order-independent
    // and cross-engine exact; tiny key domain, map-side agg ────────────
    QueryDef(
      "q_calibration",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
        val len = length(col("text"))
        val nt = size(split(col("text"), " ", -1))
        // nt/(nt+50): monotone length→[0,1) squash, spreads the corpus
        // over the middle bins instead of collapsing into bin 0
        val score = nt / (nt + lit(50.0))
        val label = when(
          len - length(expr("replace(text, 'spark', '')")) > 0, 1L)
          .otherwise(0L)
        graft.ext.Eval.reliabilityBins(docs, score, label, bins = 10)
          .select(col("bin"), col("n_rows"),
            e6d(col("mean_pred")).as("mean_pred_e6"),
            e6d(col("rate")).as("rate_e6"))
          .orderBy(col("bin"))
      },
      Some("""WITH s AS (SELECT
             |  CASE WHEN length(text) - length(replace(text, 'spark', '')) > 0
             |    THEN 1 ELSE 0 END AS y,
             |  len(string_split(text, ' '))
             |    / (len(string_split(text, ' ')) + 50.0) AS p
             |  FROM documents WHERE text IS NOT NULL),
             |b AS (SELECT CAST(least(floor(p*10.0), 9.0) AS INT) AS bin,
             |  p, y FROM s),
             |g AS (SELECT bin, count(*) AS n_rows,
             |  CAST(sum(CAST(floor(p*1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sp9,
             |  CAST(sum(y) AS BIGINT) AS np FROM b GROUP BY bin)
             |SELECT bin, n_rows,
             |CAST(floor(((sp9/1000000000.0)/n_rows)*1000000.0 + 0.5) AS BIGINT)
             |  AS mean_pred_e6,
             |CAST(floor((CAST(np AS DOUBLE)/CAST(n_rows AS DOUBLE))*1000000.0
             |  + 0.5) AS BIGINT) AS rate_e6
             |FROM g ORDER BY bin""".stripMargin)),

    // ── 87g. dedup-normalization (CCNet, Wenzek 2019 §3.1): lowercase →
    // accent strip (codegen StripAccentsExpr over JDK NFD) → digits→0 →
    // punctuation→space → space fold; n_dups counts docs that collide
    // after normalization (what exact dedup would merge). Map-only plus
    // one norm-keyed window ────────────────────────────────────────────
    QueryDef(
      "q_text_normalize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
        docs.select(col("doc_id"),
            graft.ext.TextNorm.normalizeForDedup(col("text")).as("norm"))
          .withColumn("n_dups",
            count(lit(1L)).over(Window.partitionBy(col("norm"))))
          .orderBy(col("doc_id"))
      },
      Some("""WITH n AS (SELECT doc_id,
             |trim(regexp_replace(regexp_replace(regexp_replace(
             |  strip_accents(lower(text)),
             |  '[0-9]', '0', 'g'), '[^a-z0 ]+', ' ', 'g'), ' +', ' ', 'g'))
             |  AS norm
             |FROM documents WHERE text IS NOT NULL)
             |SELECT doc_id, norm,
             |count(*) OVER (PARTITION BY norm) AS n_dups
             |FROM n ORDER BY doc_id""".stripMargin)),

    // ── 88. Hardy–Weinberg chi-square + Wright's F_IS over the derived
    // gt matrix: REAL kernels (genotypeClassCounts/hweChi2/inbreedingF)
    // vs first-principles SQL in a pinned evaluation order; undefined
    // (monomorphic) variants surface as NULL on both engines ───────────
    QueryDef(
      "q_gt_hwe",
      (s, d) => {
        import graft.functions.GenotypeKernels
        def e4OrNull(c: Column): Column =
          when(isnan(c), lit(null).cast("long")).otherwise(e4(c))
        gtTable(s, d)
          .withColumn("_cls", GenotypeKernels.genotypeClassCounts(col("gt")))
          .select(
            col("vid"),
            col("_cls.n_hom_ref").as("n_hom_ref"),
            col("_cls.n_het").as("n_het"),
            col("_cls.n_hom_alt").as("n_hom_alt"),
            e4OrNull(GenotypeKernels.hweChi2FromClasses(col("_cls"))).as("chi2_e4"),
            e4OrNull(GenotypeKernels.inbreedingF(col("gt"), lit(2))).as("f_e4"))
          .orderBy(col("vid"))
      },
      Some(s"""WITH g AS ($duckGt),
             |cls AS (SELECT vid,
             |  CAST(len(list_filter(gt, x -> NOT list_contains(x, -1)
             |    AND x[1] = 0 AND x[2] = 0)) AS BIGINT) AS aa,
             |  CAST(len(list_filter(gt, x -> NOT list_contains(x, -1)
             |    AND len(list_distinct(x)) >= 2)) AS BIGINT) AS het,
             |  CAST(len(list_filter(gt, x -> NOT list_contains(x, -1)
             |    AND x[1] = 1 AND x[2] = 1)) AS BIGINT) AS bb,
             |  len(list_filter(flatten(gt), a -> a = 0)) AS c0,
             |  len(list_filter(flatten(gt), a -> a = 1)) AS c1,
             |  CAST(len(list_filter(gt, x -> NOT list_contains(x, -1))) AS BIGINT) AS nc
             |  FROM g),
             |hw AS (SELECT vid, aa, het, bb, c0, c1, nc,
             |  CAST(aa + het + bb AS DOUBLE) AS n,
             |  (2.0*aa + het)/(2.0*CAST(aa + het + bb AS DOUBLE)) AS p
             |  FROM cls),
             |hx AS (SELECT *, 1.0 - p AS q,
             |  n*p*p AS ea, 2.0*n*p*(1.0 - p) AS eh, n*(1.0 - p)*(1.0 - p) AS eb
             |  FROM hw),
             |he AS (SELECT *,
             |  (1 - (CAST(c0 AS DOUBLE)*c0 + CAST(c1 AS DOUBLE)*c1)
             |     / (CAST(c0 + c1 AS DOUBLE) * (c0 + c1)))
             |    * (c0 + c1) / (c0 + c1 - 1) AS ehet
             |  FROM hx),
             |fin AS (SELECT vid, aa, het, bb,
             |  CASE WHEN n = 0 OR p = 0 OR q = 0 THEN NULL
             |    ELSE (aa - ea)*(aa - ea)/ea + (het - eh)*(het - eh)/eh
             |       + (bb - eb)*(bb - eb)/eb END AS chi2,
             |  CASE WHEN nc = 0 OR c0 + c1 <= 1 OR ehet = 0 THEN NULL
             |    ELSE 1.0 - (CAST(het AS DOUBLE) / nc) / ehet END AS f
             |  FROM he)
             |SELECT vid, aa AS n_hom_ref, het AS n_het, bb AS n_hom_alt,
             |CASE WHEN chi2 IS NULL OR isnan(chi2) THEN NULL
             |  ELSE CAST(floor(chi2*10000.0 + 0.5) AS BIGINT) END AS chi2_e4,
             |CASE WHEN f IS NULL OR isnan(f) THEN NULL
             |  ELSE CAST(floor(f*10000.0 + 0.5) AS BIGINT) END AS f_e4
             |FROM fin ORDER BY vid""".stripMargin)),

    // ── 89. pairwise IBS relatedness matrix (12-sample cohort): integer
    // num/den sums are exact on both engines; one (i,j)-keyed shuffle ──
    QueryDef(
      "q_gt_kinship",
      (s, d) =>
        graft.operators.Stats.ibsPairs(gtTable(s, d), "gt")
          .select(col("si").cast("long").as("si"), col("sj").cast("long").as("sj"),
            col("ibs_num"), col("ibs_den"),
            when(col("ibs_den") === 0, lit(null).cast("long"))
              .otherwise(e4(col("ibs_num").cast("double") / col("ibs_den"))).as("ibs_e4"))
          .orderBy(col("si"), col("sj")),
      Some(duckIbs)),

    // ── 89a. product-quantization encode + ADC scoring vs a FIXED
    // literal codebook (2 subspaces × 4 constant-vector centroids) —
    // the PQ arithmetic (argmin-by-dist² with low-code ties, LUT
    // lookup-sum) proven cross-engine; trained codebooks are the same
    // expressions with learned literals ─────────────────────────────────
    QueryDef(
      "q_pq_encode",
      (s, d) => {
        val books = ext.Pq.Codebooks(2, 32,
          (0 until 2).map(_ => (0 until 4).map(c =>
            Array.fill(32)(0.2 * (c + 1) - 0.5))))
        val probe = Array.tabulate(64)(i => (i + 1) / 64.0)
        t(s, d, "embeddings")
          .withColumn("_codes", ext.Pq.encode(col("embedding"), books))
          .select(col("vec_id"),
            element_at(col("_codes"), 1).cast("int").as("c0"),
            element_at(col("_codes"), 2).cast("int").as("c1"),
            e4(ext.Pq.adcScore(col("_codes"), books, probe)).as("adc_e4"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH enc AS (SELECT vec_id,
             |  list_sort(list_transform(range(0, 4), c -> {'d':
             |    list_sum(list_transform(range(1, 33), i ->
             |      (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - (0.2*(c+1) - 0.5))
             |      * (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - (0.2*(c+1) - 0.5)))),
             |    'cid': c}))[1]['cid'] AS c0,
             |  list_sort(list_transform(range(0, 4), c -> {'d':
             |    list_sum(list_transform(range(33, 65), i ->
             |      (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - (0.2*(c+1) - 0.5))
             |      * (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - (0.2*(c+1) - 0.5)))),
             |    'cid': c}))[1]['cid'] AS c1
             |  FROM embeddings)
             |SELECT vec_id, CAST(c0 AS INT) AS c0, CAST(c1 AS INT) AS c1,
             |CAST(floor((
             |  list_sum(list_transform(range(1, 33), i -> (0.2*(c0+1) - 0.5) * (i/64.0))) +
             |  list_sum(list_transform(range(33, 65), i -> (0.2*(c1+1) - 0.5) * (i/64.0)))
             |) * 10000.0 + 0.5) AS BIGINT) AS adc_e4
             |FROM enc ORDER BY vec_id""".stripMargin)),

    // ── 89b. the SAME IBS semantics through the one-pass gramian
    // escalation (six matrix aggregates, no pair explode) — proving the
    // wide-cohort path bit-equal to the exploded oracle arithmetic ─────
    QueryDef(
      "q_gt_ibs_gramian",
      (s, d) =>
        graft.operators.Stats.ibsGramian(gtTable(s, d), "gt")
          .select(col("si").cast("long").as("si"), col("sj").cast("long").as("sj"),
            col("ibs_num"), col("ibs_den"),
            when(col("ibs_den") === 0, lit(null).cast("long"))
              .otherwise(e4(col("ibs_num").cast("double") / col("ibs_den"))).as("ibs_e4"))
          .orderBy(col("si"), col("sj")),
      Some(duckIbs)),

    // ── 89c. KING kinship screen (Manichaikul 2010): the four pairwise
    // integer counts + sum-denominator φ̂, exact on both engines — the
    // allele-frequency-free relatedness QC every GWAS runs ─────────────
    QueryDef(
      "q_gt_king",
      (s, d) =>
        graft.operators.Stats.kingPairs(gtTable(s, d), "gt")
          .select(col("si").cast("long").as("si"), col("sj").cast("long").as("sj"),
            col("n_hethet"), col("n_opp"), col("n_het_i"), col("n_het_j"),
            when(col("phi").isNull, lit(null).cast("long"))
              .otherwise(e4(col("phi"))).as("phi_e4"))
          .orderBy(col("si"), col("sj")),
      Some(s"""WITH g AS ($duckGt),
             |$duckDosages,
             |pr AS (SELECT vid, d[CAST(r1.i+1 AS INT)] AS di,
             |    d[CAST(r2.j+1 AS INT)] AS dj, r1.i AS si, r2.j AS sj
             |  FROM dos, range(0, 12) r1(i), range(0, 12) r2(j) WHERE r2.j > r1.i),
             |terms AS (SELECT si, sj,
             |  CASE WHEN di >= 0 AND dj >= 0 AND di = 1 AND dj = 1 THEN 1 ELSE 0 END AS hh,
             |  CASE WHEN di >= 0 AND dj >= 0 AND ((di = 0 AND dj = 2) OR (di = 2 AND dj = 0))
             |    THEN 1 ELSE 0 END AS opp,
             |  CASE WHEN di >= 0 AND dj >= 0 AND di = 1 THEN 1 ELSE 0 END AS hi,
             |  CASE WHEN di >= 0 AND dj >= 0 AND dj = 1 THEN 1 ELSE 0 END AS hj
             |  FROM pr)
             |SELECT CAST(si AS BIGINT) AS si, CAST(sj AS BIGINT) AS sj,
             |CAST(sum(hh) AS BIGINT) AS n_hethet, CAST(sum(opp) AS BIGINT) AS n_opp,
             |CAST(sum(hi) AS BIGINT) AS n_het_i, CAST(sum(hj) AS BIGINT) AS n_het_j,
             |CASE WHEN sum(hi) + sum(hj) = 0 THEN NULL
             |  ELSE CAST(floor((sum(hh) - 2.0*sum(opp)) / (sum(hi) + sum(hj))
             |    *10000.0 + 0.5) AS BIGINT) END AS phi_e4
             |FROM terms GROUP BY si, sj ORDER BY si, sj""".stripMargin)),

    // ── 89d. runs of homozygosity (gaps-and-islands over the exploded
    // long view; runs break at het AND missing sites) — the autozygosity
    // screen; both engines window on the same (sample, pos) keys ───────
    QueryDef(
      "q_gt_roh",
      (s, d) =>
        graft.operators.Stats.rohSegments(gtTable(s, d), "gt", "vid", minSites = 2)
          .select(col("sample_idx"), col("start_pos"), col("end_pos"), col("n_sites"))
          .orderBy(col("sample_idx"), col("start_pos")),
      Some(s"""WITH g AS ($duckGt),
             |lv AS (SELECT vid, s.i AS sample_idx, gt[CAST(s.i+1 AS INT)] AS al
             |  FROM g, range(0, 12) s(i)),
             |fl AS (SELECT vid, sample_idx,
             |  (NOT list_contains(al, -1)) AND al[1] = al[2] AS hom FROM lv),
             |rn AS (SELECT vid, sample_idx, hom,
             |  row_number() OVER (PARTITION BY sample_idx ORDER BY vid) AS r FROM fl),
             |isl AS (SELECT vid, sample_idx,
             |  r - row_number() OVER (PARTITION BY sample_idx ORDER BY vid) AS grp
             |  FROM rn WHERE hom)
             |SELECT CAST(sample_idx AS INT) AS sample_idx,
             |min(vid) AS start_pos, max(vid) AS end_pos,
             |CAST(count(*) AS BIGINT) AS n_sites
             |FROM isl GROUP BY sample_idx, grp HAVING count(*) >= 2
             |ORDER BY sample_idx, start_pos""".stripMargin)),

    // ── 89e. Mendelian-error trio screen over an explicit 4-trio
    // pedigree: integer tested/error counts per trio, exact on both
    // engines (transmission range [min_f+min_m, max_f+max_m]) ──────────
    QueryDef(
      "q_gt_mendel",
      (s, d) =>
        graft.operators.Stats.mendelErrors(gtTable(s, d), "gt",
            Seq((0, 1, 2), (3, 4, 5), (6, 7, 8), (9, 10, 11)))
          .select(col("trio_idx"), col("child_idx"), col("father_idx"),
            col("mother_idx"), col("n_tested"), col("n_errors"),
            when(col("error_rate").isNull, lit(null).cast("long"))
              .otherwise(e4(col("error_rate"))).as("rate_e4"))
          .orderBy(col("trio_idx")),
      Some(s"""WITH g AS ($duckGt),
             |$duckDosages,
             |tr AS (SELECT * FROM (VALUES (0,0,1,2),(1,3,4,5),(2,6,7,8),(3,9,10,11))
             |  t(ti, c, f, m)),
             |terms AS (SELECT ti, c, f, m,
             |  d[CAST(c+1 AS INT)] AS dc, d[CAST(f+1 AS INT)] AS df, d[CAST(m+1 AS INT)] AS dm
             |  FROM dos, tr),
             |fl AS (SELECT ti, c, f, m,
             |  CASE WHEN dc >= 0 AND df >= 0 AND dm >= 0 THEN 1 ELSE 0 END AS tested,
             |  CASE WHEN dc >= 0 AND df >= 0 AND dm >= 0 AND (
             |    dc < (CASE WHEN df = 2 THEN 1 ELSE 0 END + CASE WHEN dm = 2 THEN 1 ELSE 0 END)
             |    OR dc > (CASE WHEN df >= 1 THEN 1 ELSE 0 END + CASE WHEN dm >= 1 THEN 1 ELSE 0 END))
             |    THEN 1 ELSE 0 END AS err
             |  FROM terms)
             |SELECT CAST(ti AS INT) AS trio_idx, CAST(c AS INT) AS child_idx,
             |CAST(f AS INT) AS father_idx, CAST(m AS INT) AS mother_idx,
             |CAST(sum(tested) AS BIGINT) AS n_tested,
             |CAST(sum(err) AS BIGINT) AS n_errors,
             |CASE WHEN sum(tested) = 0 THEN NULL
             |  ELSE CAST(floor(sum(err)*1.0/sum(tested)*10000.0 + 0.5) AS BIGINT)
             |  END AS rate_e4
             |FROM fl GROUP BY ti, c, f, m ORDER BY trio_idx""".stripMargin)),

    // ── 89e2. allelic 2×2 case/control chi-square: exact integer
    // contingency cells (missing excluded) + identical double expression
    // shape on both engines for the statistic ──────────────────────────
    QueryDef(
      "q_gt_assoc",
      (s, d) =>
        graft.operators.Assoc.allelicTest(gtTable(s, d), "gt", 0 until 6, 6 until 12)
          .select(col("vid"), col("case_alt"), col("case_ref"),
            col("ctrl_alt"), col("ctrl_ref"),
            when(col("chi2").isNull, lit(null).cast("long"))
              .otherwise(e4(col("chi2"))).as("chi2_e4"),
            when(col("odds_ratio").isNull, lit(null).cast("long"))
              .otherwise(e4(col("odds_ratio"))).as("or_e4"))
          .orderBy(col("vid")),
      Some(s"""WITH g AS ($duckGt),
             |cnt AS (SELECT vid,
             |  len(list_filter(flatten(gt[1:6]),  x -> x = 1)) AS ca,
             |  len(list_filter(flatten(gt[1:6]),  x -> x = 0)) AS cb,
             |  len(list_filter(flatten(gt[7:12]), x -> x = 1)) AS cc,
             |  len(list_filter(flatten(gt[7:12]), x -> x = 0)) AS cd
             |  FROM g)
             |SELECT vid,
             |CAST(ca AS BIGINT) AS case_alt, CAST(cb AS BIGINT) AS case_ref,
             |CAST(cc AS BIGINT) AS ctrl_alt, CAST(cd AS BIGINT) AS ctrl_ref,
             |CASE WHEN ca+cb > 0 AND cc+cd > 0 AND ca+cc > 0 AND cb+cd > 0 THEN
             |  CAST(floor(CAST(ca+cb+cc+cd AS DOUBLE)
             |    * CAST(ca*cd - cb*cc AS DOUBLE) * CAST(ca*cd - cb*cc AS DOUBLE)
             |    / (CAST(ca+cb AS DOUBLE) * CAST(cc+cd AS DOUBLE)
             |       * CAST(ca+cc AS DOUBLE) * CAST(cb+cd AS DOUBLE))
             |    * 10000.0 + 0.5) AS BIGINT) END AS chi2_e4,
             |CASE WHEN cb*cc > 0 THEN
             |  CAST(floor(CAST(ca*cd AS DOUBLE) / CAST(cb*cc AS DOUBLE)
             |    * 10000.0 + 0.5) AS BIGINT) END AS or_e4
             |FROM cnt ORDER BY vid""".stripMargin)),

    // ── 89e3. Cochran-Armitage trend test (additive weights, exact
    // hypergeometric N−1 variance): integer genotype-class cells exact
    // on both engines; one float ratio on top ──────────────────────────
    QueryDef(
      "q_gt_trend",
      (s, d) =>
        graft.operators.Assoc.trendTest(gtTable(s, d), "gt", 0 until 6, 6 until 12)
          .select(col("vid"), col("case_r0"), col("case_r1"), col("case_r2"),
            col("ctrl_s0"), col("ctrl_s1"), col("ctrl_s2"),
            when(col("chi2").isNull, lit(null).cast("long"))
              .otherwise(e4(col("chi2"))).as("chi2_e4"))
          .orderBy(col("vid")),
      Some(s"""WITH g AS ($duckGt),
             |$duckDosages,
             |cnt AS (SELECT vid,
             |  len(list_filter(d[1:6],  x -> x = 0)) AS r0,
             |  len(list_filter(d[1:6],  x -> x = 1)) AS r1,
             |  len(list_filter(d[1:6],  x -> x = 2)) AS r2,
             |  len(list_filter(d[7:12], x -> x = 0)) AS s0,
             |  len(list_filter(d[7:12], x -> x = 1)) AS s1,
             |  len(list_filter(d[7:12], x -> x = 2)) AS s2
             |  FROM dos),
             |tm AS (SELECT vid, r0, r1, r2, s0, s1, s2,
             |  r0+r1+r2 AS rr, s0+s1+s2 AS ss, r0+r1+r2+s0+s1+s2 AS nn,
             |  r1+s1 AS n1, r2+s2 AS n2,
             |  r1 + 2*r2 AS u, (r1+s1) + 2*(r2+s2) AS w FROM cnt)
             |SELECT vid,
             |CAST(r0 AS BIGINT) AS case_r0, CAST(r1 AS BIGINT) AS case_r1,
             |CAST(r2 AS BIGINT) AS case_r2, CAST(s0 AS BIGINT) AS ctrl_s0,
             |CAST(s1 AS BIGINT) AS ctrl_s1, CAST(s2 AS BIGINT) AS ctrl_s2,
             |CASE WHEN rr > 0 AND ss > 0 AND nn*(n1+4*n2) - w*w > 0 THEN
             |  CAST(floor(CAST(nn-1 AS DOUBLE)
             |    * CAST(nn*u - rr*w AS DOUBLE) * CAST(nn*u - rr*w AS DOUBLE)
             |    / (CAST(rr AS DOUBLE) * CAST(ss AS DOUBLE)
             |       * CAST(nn*(n1+4*n2) - w*w AS DOUBLE))
             |    * 10000.0 + 0.5) AS BIGINT) END AS chi2_e4
             |FROM tm ORDER BY vid""".stripMargin)),

    // ── 89e3b. quantitative-trait linear regression (plink --linear
    // analog): exact integer sufficient-statistic cells (fixed-point
    // phenotype), identical double expression shape for beta/r²/t² ─────
    QueryDef(
      "q_gt_linreg",
      (s, d) =>
        graft.operators.Assoc.quantTest(gtTable(s, d), "gt",
            Seq(4200L, 980L, 3100L, 5050L, 120L, 2750L,
                3990L, 610L, 4480L, 1830L, 2520L, 5200L))
          .select(col("vid"), col("n_called"), col("sum_x"), col("sum_xx"),
            col("sum_y"), col("sum_yy"), col("sum_xy"),
            when(col("beta").isNull, lit(null).cast("long"))
              .otherwise(e4(col("beta"))).as("beta_e4"),
            when(col("r2").isNull, lit(null).cast("long"))
              .otherwise(e4(col("r2"))).as("r2_e4"),
            when(col("t2").isNull, lit(null).cast("long"))
              .otherwise(e4(col("t2"))).as("t2_e4"))
          .orderBy(col("vid")),
      Some(s"""WITH g AS ($duckGt),
             |ex AS (SELECT vid,
             |  CASE WHEN list_contains(gt[CAST(s.i+1 AS INT)], -1) THEN -1
             |    ELSE gt[CAST(s.i+1 AS INT)][1] + gt[CAST(s.i+1 AS INT)][2]
             |    END AS d,
             |  ([4200,980,3100,5050,120,2750,3990,610,4480,1830,2520,5200]
             |    )[CAST(s.i+1 AS INT)] AS y
             |  FROM g, range(0, 12) s(i)),
             |cells AS (SELECT vid,
             |  CAST(count(*) FILTER (d <> -1) AS BIGINT) AS n,
             |  CAST(coalesce(sum(d)      FILTER (d <> -1), 0) AS BIGINT) AS sx,
             |  CAST(coalesce(sum(d*d)    FILTER (d <> -1), 0) AS BIGINT) AS sxx,
             |  CAST(coalesce(sum(y)      FILTER (d <> -1), 0) AS BIGINT) AS sy,
             |  CAST(coalesce(sum(y*y)    FILTER (d <> -1), 0) AS BIGINT) AS syy,
             |  CAST(coalesce(sum(d*y)    FILTER (d <> -1), 0) AS BIGINT) AS sxy
             |  FROM ex GROUP BY vid),
             |${duckOlsTerms("vid")}
             |SELECT vid, n AS n_called, sx AS sum_x, sxx AS sum_xx,
             |sy AS sum_y, syy AS sum_yy, sxy AS sum_xy,
             |CASE WHEN dxx > 0 THEN
             |  CAST(floor(dxy/dxx*10000.0 + 0.5) AS BIGINT) END AS beta_e4,
             |CASE WHEN dxx > 0 AND dyy > 0 THEN
             |  CAST(floor(dxy*dxy/(dxx*dyy)*10000.0 + 0.5) AS BIGINT)
             |  END AS r2_e4,
             |CASE WHEN n > 2 AND dxx > 0 AND dxx*dyy - dxy*dxy > 0 THEN
             |  CAST(floor(CAST(n-2 AS DOUBLE)*dxy*dxy/(dxx*dyy - dxy*dxy)
             |    *10000.0 + 0.5) AS BIGINT) END AS t2_e4
             |FROM dt ORDER BY vid""".stripMargin)),

    // ── 89e3c. rare-variant burden matrix: integer cross-multiplied
    // rarity (no float MAF), per-window per-sample alt-dosage sums —
    // exact integers end to end on both engines ────────────────────────
    QueryDef(
      "q_gt_burden",
      (s, d) =>
        graft.operators.Assoc.burdenMatrix(gtTable(s, d), "gt", "vid", 16L, 2500L)
          .select(col("win_start"), col("n_rare"),
            col("sample_idx"), col("burden"))
          .orderBy(col("win_start"), col("sample_idx")),
      Some(s"""WITH g AS ($duckGt),
             |$duckRareDosages
             |SELECT CAST((vid // 16)*16 AS BIGINT) AS win_start,
             |CAST(count(*) AS BIGINT) AS n_rare,
             |CAST(si AS INT) AS sample_idx,
             |CAST(sum(d) AS BIGINT) AS burden
             |FROM ex GROUP BY 1, si ORDER BY win_start, sample_idx""".stripMargin)),

    // ── 89e3d. per-window burden association (collapsing test): OLS of
    // the fixed-point phenotype on burden, same D-term shape as linreg ─
    QueryDef(
      "q_gt_burden_test",
      (s, d) =>
        graft.operators.Assoc.burdenTest(gtTable(s, d), "gt", "vid", 16L, 2500L,
            Seq(4200L, 980L, 3100L, 5050L, 120L, 2750L,
                3990L, 610L, 4480L, 1830L, 2520L, 5200L))
          .select(col("win_start"), col("n_rare"), col("sum_x"), col("sum_xx"),
            col("sum_xy"),
            when(col("beta").isNull, lit(null).cast("long"))
              .otherwise(e4(col("beta"))).as("beta_e4"),
            when(col("t2").isNull, lit(null).cast("long"))
              .otherwise(e4(col("t2"))).as("t2_e4"))
          .orderBy(col("win_start")),
      Some(s"""WITH g AS ($duckGt),
             |$duckRareDosages,
             |bm AS (SELECT (vid // 16)*16 AS win, count(*) AS n_rare, si,
             |  sum(d) AS b,
             |  ([4200,980,3100,5050,120,2750,3990,610,4480,1830,2520,5200]
             |    )[CAST(si+1 AS INT)] AS y
             |  FROM ex GROUP BY win, si),
             |cells AS (SELECT win, min(n_rare) AS n_rare,
             |  count(*) AS n, sum(b) AS sx, sum(b*b) AS sxx,
             |  sum(y) AS sy, sum(y*y) AS syy, sum(b*y) AS sxy
             |  FROM bm GROUP BY win),
             |${duckOlsTerms("win, n_rare")}
             |SELECT CAST(win AS BIGINT) AS win_start,
             |CAST(n_rare AS BIGINT) AS n_rare,
             |CAST(sx AS BIGINT) AS sum_x, CAST(sxx AS BIGINT) AS sum_xx,
             |CAST(sxy AS BIGINT) AS sum_xy,
             |CASE WHEN dxx > 0 THEN
             |  CAST(floor(dxy/dxx*10000.0 + 0.5) AS BIGINT) END AS beta_e4,
             |CASE WHEN n > 2 AND dxx > 0 AND dxx*dyy - dxy*dxy > 0 THEN
             |  CAST(floor(CAST(n-2 AS DOUBLE)*dxy*dxy/(dxx*dyy - dxy*dxy)
             |    *10000.0 + 0.5) AS BIGINT) END AS t2_e4
             |FROM dt ORDER BY win_start""".stripMargin)),

    // ── 89e4. cross-callset genotype concordance per sample: inner
    // join on shared variants, unphased compare, exact integer count
    // cells on both engines ────────────────────────────────────────────
    QueryDef(
      "q_gt_concordance",
      (s, d) =>
        graft.operators.Stats.concordance(gtTable(s, d), gtTableB(s, d), "vid", "gt")
          .select(col("sample_idx"), col("n_both_called"), col("n_concordant"),
            col("n_a_only"), col("n_b_only"), col("n_both_missing"),
            when(col("concordance").isNull, lit(null).cast("long"))
              .otherwise(e4(col("concordance"))).as("conc_e4"))
          .orderBy(col("sample_idx")),
      Some(s"""WITH ga AS ($duckGt),
             |gb AS ($duckGtB),
             |j AS (SELECT ga.gt AS x, gb.gt AS y FROM ga JOIN gb USING (vid)),
             |fl AS (SELECT s.i AS sample_idx,
             |  NOT list_contains(x[CAST(s.i+1 AS INT)], -1) AS ca,
             |  NOT list_contains(y[CAST(s.i+1 AS INT)], -1) AS cb,
             |  list_sort(x[CAST(s.i+1 AS INT)]) = list_sort(y[CAST(s.i+1 AS INT)]) AS eq
             |  FROM j, range(0, 12) s(i))
             |SELECT CAST(sample_idx AS INT) AS sample_idx,
             |CAST(sum(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS n_both_called,
             |CAST(sum(CASE WHEN ca AND cb AND eq THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
             |CAST(sum(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
             |CAST(sum(CASE WHEN cb AND NOT ca THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
             |CAST(sum(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS n_both_missing,
             |CASE WHEN sum(CASE WHEN ca AND cb THEN 1 ELSE 0 END) > 0 THEN
             |  CAST(floor(sum(CASE WHEN ca AND cb AND eq THEN 1 ELSE 0 END)*1.0
             |    / sum(CASE WHEN ca AND cb THEN 1 ELSE 0 END)*10000.0 + 0.5) AS BIGINT)
             |  END AS conc_e4
             |FROM fl GROUP BY sample_idx ORDER BY sample_idx""".stripMargin)),

    // ── 89e5. per-sample inbreeding F (plink --het method of moments):
    // fixed-point per-site expected-hom sums — integer-exact reduction,
    // one float ratio on top ───────────────────────────────────────────
    QueryDef(
      "q_gt_inbreeding",
      (s, d) =>
        graft.operators.Stats.sampleInbreeding(gtTable(s, d), "gt")
          .select(col("sample_idx"), col("n_sites"), col("n_hom_obs"),
            col("ehom_fp"),
            when(col("f").isNull, lit(null).cast("long"))
              .otherwise(e4(col("f"))).as("f_e4"))
          .orderBy(col("sample_idx")),
      Some(s"""WITH g AS ($duckGt),
             |cnt AS (SELECT vid, gt,
             |  len(list_filter(flatten(gt), a -> a = 0)) AS c0,
             |  len(list_filter(flatten(gt), a -> a = 1)) AS c1 FROM g),
             |st AS (SELECT vid, gt,
             |  CASE WHEN c0+c1 > 1 THEN CAST(floor(
             |    (1.0 - 2.0*(c1*1.0/(c0+c1))*(1.0 - c1*1.0/(c0+c1))
             |       *CAST(c0+c1 AS DOUBLE)/CAST(c0+c1-1 AS DOUBLE))
             |    *1000000.0 + 0.5) AS BIGINT) END AS ehom_fp
             |  FROM cnt),
             |ex AS (SELECT ehom_fp, s.i AS sample_idx,
             |  gt[CAST(s.i+1 AS INT)] AS al
             |  FROM st, range(0, 12) s(i) WHERE ehom_fp IS NOT NULL),
             |fl AS (SELECT sample_idx, ehom_fp,
             |  NOT list_contains(al, -1) AND len(list_distinct(al)) = 1 AS hom
             |  FROM ex WHERE NOT list_contains(al, -1)),
             |ag AS (SELECT CAST(sample_idx AS INT) AS sample_idx,
             |  CAST(count(*) AS BIGINT) AS n_sites,
             |  CAST(sum(CASE WHEN hom THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_obs,
             |  CAST(sum(ehom_fp) AS BIGINT) AS ehom_fp
             |  FROM fl GROUP BY 1)
             |SELECT sample_idx, n_sites, n_hom_obs, ehom_fp,
             |CASE WHEN CAST(n_sites AS DOUBLE) - CAST(ehom_fp AS DOUBLE)/1000000.0 <> 0.0
             |  THEN CAST(floor(
             |    (CAST(n_hom_obs AS DOUBLE) - CAST(ehom_fp AS DOUBLE)/1000000.0)
             |    / (CAST(n_sites AS DOUBLE) - CAST(ehom_fp AS DOUBLE)/1000000.0)
             |    *10000.0 + 0.5) AS BIGINT) END AS f_e4
             |FROM ag ORDER BY sample_idx""".stripMargin)),

    // ── 89e6. windowed three-population PBS scan: one pass for all
    // three pairwise fst ratio-of-fixed-point-sums, branch lengths
    // recombined with ln (the q_tfidf/q_lm_score cross-engine ln
    // precedent) ───────────────────────────────────────────────────────
    QueryDef(
      "q_gt_pbs",
      (s, d) =>
        graft.operators.Stats.pbsWindowed(gtTable(s, d), "gt", "vid", 16L,
            0 until 4, 4 until 8, 8 until 12)
          .select(Seq(col("win_start"), col("n_informative")) ++
            Seq("ab", "ac", "bc").map(pr =>
              when(col(s"fst_$pr").isNull, lit(null).cast("long"))
                .otherwise(e4(col(s"fst_$pr"))).as(s"fst_${pr}_e4")) ++
            Seq("a", "b", "c").map(p =>
              when(col(s"pbs_$p").isNull, lit(null).cast("long"))
                .otherwise(e4(col(s"pbs_$p"))).as(s"pbs_${p}_e4")): _*)
          .orderBy(col("win_start")),
      Some(s"""WITH g AS ($duckGt),
             |cnt AS (SELECT vid,
             |  len(list_filter(flatten(gt[1:4]),  x -> x = 0)) AS a0,
             |  len(list_filter(flatten(gt[1:4]),  x -> x = 1)) AS a1,
             |  len(list_filter(flatten(gt[5:8]),  x -> x = 0)) AS b0,
             |  len(list_filter(flatten(gt[5:8]),  x -> x = 1)) AS b1,
             |  len(list_filter(flatten(gt[9:12]), x -> x = 0)) AS c0,
             |  len(list_filter(flatten(gt[9:12]), x -> x = 1)) AS c1
             |  FROM g),
             |fr AS (SELECT vid, a0+a1 AS na, b0+b1 AS nb, c0+c1 AS nc,
             |  CASE WHEN a0+a1 > 0 THEN a1*1.0/(a0+a1) END AS pa,
             |  CASE WHEN b0+b1 > 0 THEN b1*1.0/(b0+b1) END AS pb,
             |  CASE WHEN c0+c1 > 0 THEN c1*1.0/(c0+c1) END AS pc FROM cnt),
             |fin AS (SELECT vid,
             |  CASE WHEN na > 1 AND nb > 1 THEN
             |    (pa-pb)*(pa-pb) - pa*(1.0-pa)/(na-1) - pb*(1.0-pb)/(nb-1) END AS num_ab,
             |  CASE WHEN na > 1 AND nb > 1 THEN
             |    pa*(1.0-pb) + pb*(1.0-pa) END AS den_ab,
             |  CASE WHEN na > 1 AND nc > 1 THEN
             |    (pa-pc)*(pa-pc) - pa*(1.0-pa)/(na-1) - pc*(1.0-pc)/(nc-1) END AS num_ac,
             |  CASE WHEN na > 1 AND nc > 1 THEN
             |    pa*(1.0-pc) + pc*(1.0-pa) END AS den_ac,
             |  CASE WHEN nb > 1 AND nc > 1 THEN
             |    (pb-pc)*(pb-pc) - pb*(1.0-pb)/(nb-1) - pc*(1.0-pc)/(nc-1) END AS num_bc,
             |  CASE WHEN nb > 1 AND nc > 1 THEN
             |    pb*(1.0-pc) + pc*(1.0-pb) END AS den_bc
             |  FROM fr),
             |win AS (SELECT vid // 16 * 16 AS win_start,
             |  CASE WHEN num_ab IS NOT NULL AND num_ac IS NOT NULL
             |    AND num_bc IS NOT NULL THEN 1 END AS info,
             |  CAST(floor(num_ab*1000000.0 + 0.5) AS BIGINT) AS nab,
             |  CAST(floor(den_ab*1000000.0 + 0.5) AS BIGINT) AS dab,
             |  CAST(floor(num_ac*1000000.0 + 0.5) AS BIGINT) AS nac,
             |  CAST(floor(den_ac*1000000.0 + 0.5) AS BIGINT) AS dac,
             |  CAST(floor(num_bc*1000000.0 + 0.5) AS BIGINT) AS nbc,
             |  CAST(floor(den_bc*1000000.0 + 0.5) AS BIGINT) AS dbc
             |  FROM fin),
             |ag AS (SELECT CAST(win_start AS BIGINT) AS win_start,
             |  CAST(count(info) AS BIGINT) AS n_informative,
             |  CASE WHEN sum(dab) > 0 THEN sum(nab)*1.0/sum(dab) END AS fab,
             |  CASE WHEN sum(dac) > 0 THEN sum(nac)*1.0/sum(dac) END AS fac,
             |  CASE WHEN sum(dbc) > 0 THEN sum(nbc)*1.0/sum(dbc) END AS fbc
             |  FROM win GROUP BY 1)
             |SELECT win_start, n_informative,
             |CASE WHEN fab IS NOT NULL THEN
             |  CAST(floor(fab*10000.0 + 0.5) AS BIGINT) END AS fst_ab_e4,
             |CASE WHEN fac IS NOT NULL THEN
             |  CAST(floor(fac*10000.0 + 0.5) AS BIGINT) END AS fst_ac_e4,
             |CASE WHEN fbc IS NOT NULL THEN
             |  CAST(floor(fbc*10000.0 + 0.5) AS BIGINT) END AS fst_bc_e4,
             |CASE WHEN fab IS NOT NULL AND fab < 1.0 AND fac IS NOT NULL
             |  AND fac < 1.0 AND fbc IS NOT NULL AND fbc < 1.0 THEN
             |  CAST(floor((-ln(1.0-fab) + -ln(1.0-fac) - -ln(1.0-fbc))/2.0
             |    *10000.0 + 0.5) AS BIGINT) END AS pbs_a_e4,
             |CASE WHEN fab IS NOT NULL AND fab < 1.0 AND fac IS NOT NULL
             |  AND fac < 1.0 AND fbc IS NOT NULL AND fbc < 1.0 THEN
             |  CAST(floor((-ln(1.0-fab) + -ln(1.0-fbc) - -ln(1.0-fac))/2.0
             |    *10000.0 + 0.5) AS BIGINT) END AS pbs_b_e4,
             |CASE WHEN fab IS NOT NULL AND fab < 1.0 AND fac IS NOT NULL
             |  AND fac < 1.0 AND fbc IS NOT NULL AND fbc < 1.0 THEN
             |  CAST(floor((-ln(1.0-fac) + -ln(1.0-fbc) - -ln(1.0-fab))/2.0
             |    *10000.0 + 0.5) AS BIGINT) END AS pbs_c_e4
             |FROM ag ORDER BY win_start""".stripMargin)),

    // ── 89e7. phasing switch-error rate vs the second callset: exact
    // integer pair/switch counts off a per-sample position-ordered
    // lag window, identical on both engines ────────────────────────────
    QueryDef(
      "q_gt_switch",
      (s, d) =>
        graft.operators.Stats.switchErrors(gtTable(s, d), gtTableB(s, d),
            "vid", "vid", "gt")
          .select(col("sample_idx"), col("n_pairs"), col("n_switches"),
            when(col("switch_rate").isNull, lit(null).cast("long"))
              .otherwise(e4(col("switch_rate"))).as("rate_e4"))
          .orderBy(col("sample_idx")),
      Some(s"""WITH ga AS ($duckGt),
             |gb AS ($duckGtB),
             |j AS (SELECT vid, ga.gt AS x, gb.gt AS y FROM ga JOIN gb USING (vid)),
             |ex AS (SELECT vid, s.i AS sample_idx,
             |  x[CAST(s.i+1 AS INT)] AS xa, y[CAST(s.i+1 AS INT)] AS ya
             |  FROM j, range(0, 12) s(i)),
             |cmp AS (SELECT vid, sample_idx,
             |  CASE WHEN NOT list_contains(xa, -1) AND NOT list_contains(ya, -1)
             |    AND len(list_distinct(xa)) = 2 AND list_sort(xa) = list_sort(ya)
             |  THEN CASE WHEN xa = ya THEN 0 ELSE 1 END END AS o
             |  FROM ex),
             |fl AS (SELECT sample_idx, o,
             |  lag(o) OVER (PARTITION BY sample_idx ORDER BY vid) AS prev
             |  FROM cmp WHERE o IS NOT NULL)
             |SELECT CAST(sample_idx AS INT) AS sample_idx,
             |CAST(count(prev) AS BIGINT) AS n_pairs,
             |CAST(sum(CASE WHEN prev IS NOT NULL AND o <> prev
             |  THEN 1 ELSE 0 END) AS BIGINT) AS n_switches,
             |CASE WHEN count(prev) > 0 THEN
             |  CAST(floor(sum(CASE WHEN prev IS NOT NULL AND o <> prev
             |    THEN 1 ELSE 0 END)*1.0/count(prev)*10000.0 + 0.5) AS BIGINT)
             |  END AS rate_e4
             |FROM fl GROUP BY sample_idx ORDER BY sample_idx""".stripMargin)),

    // ── 89e7b. composite per-sample QC report: callability, het rate,
    // cohort-singleton carriage — one pass, exact integer cells ────────
    QueryDef(
      "q_gt_sample_qc",
      (s, d) =>
        graft.operators.Stats.sampleQcReport(gtTable(s, d), "gt")
          .select(col("sample_idx"), col("n_sites"), col("n_called"),
            col("n_het"), col("n_singleton"),
            e4(col("call_rate")).as("call_rate_e4"),
            when(col("het_rate").isNull, lit(null).cast("long"))
              .otherwise(e4(col("het_rate"))).as("het_rate_e4"))
          .orderBy(col("sample_idx")),
      Some(s"""WITH g AS ($duckGt),
             |ac AS (SELECT vid, gt,
             |  len(list_filter(flatten(gt), x -> x = 1)) AS a FROM g),
             |ex AS (SELECT vid, a, s.i AS si,
             |  gt[CAST(s.i+1 AS INT)] AS c FROM ac, range(0, 12) s(i)),
             |cells AS (SELECT si,
             |  count(*) AS n_sites,
             |  sum(CASE WHEN NOT list_contains(c, -1) THEN 1 ELSE 0 END) AS n_called,
             |  sum(CASE WHEN NOT list_contains(c, -1)
             |    AND len(list_distinct(c)) > 1 THEN 1 ELSE 0 END) AS n_het,
             |  sum(CASE WHEN a = 1 AND NOT list_contains(c, -1)
             |    AND len(list_filter(c, x -> x = 1)) = 1 THEN 1 ELSE 0 END) AS n_singleton
             |  FROM ex GROUP BY si)
             |SELECT CAST(si AS INT) AS sample_idx,
             |CAST(n_sites AS BIGINT) AS n_sites,
             |CAST(n_called AS BIGINT) AS n_called,
             |CAST(n_het AS BIGINT) AS n_het,
             |CAST(n_singleton AS BIGINT) AS n_singleton,
             |CAST(floor(n_called*1.0/n_sites*10000.0 + 0.5) AS BIGINT) AS call_rate_e4,
             |CASE WHEN n_called > 0 THEN
             |  CAST(floor(n_het*1.0/n_called*10000.0 + 0.5) AS BIGINT)
             |  END AS het_rate_e4
             |FROM cells ORDER BY sample_idx""".stripMargin)),

    // ── 89e7b. per-sample het allele balance from read depths: ref
    // fraction at heterozygous calls, e6-floored per site before the
    // integer sum — DuckDB recomputes calls AND depths from the same
    // hash arithmetic ──────────────────────────────────────────────────
    QueryDef(
      "q_gt_ab",
      (s, d) => {
        val nS = 12
        val g = gtTable(s, d)
          .withColumn("ro", transform(sequence(lit(0), lit(nS - 1)), sIdx => {
            val hs = pmod(col("vid") * 7919L + sIdx * 104729L, lit(1000L))
            pmod(floor(hs / lit(7L)).cast("long"), lit(30L)).cast("int")
          }))
          .withColumn("ao", transform(sequence(lit(0), lit(nS - 1)), sIdx => {
            val hs = pmod(col("vid") * 7919L + sIdx * 104729L, lit(1000L))
            array(pmod(floor(hs / lit(11L)).cast("long"), lit(30L)).cast("int"))
          }))
        graft.operators.Stats.alleleBalance(g, "gt", "ro", "ao")
          .orderBy(col("sample_idx"))
      },
      Some("""WITH v AS (SELECT o_orderkey AS vid FROM orders ORDER BY vid LIMIT 100),
             |x AS (SELECT vid, s.i AS si,
             |  (vid*7919 + s.i*104729) % 1000 AS hs FROM v, range(0, 12) s(i)),
             |y AS (SELECT vid, si,
             |  (hs // 7) % 30 AS r, (hs // 11) % 30 AS a FROM x
             |  WHERE hs >= 150 AND (hs % 2) <> ((hs // 3) % 2)),
             |z AS (SELECT si, count(*) AS n_ab, sum(r) AS ref_reads,
             |  sum(a) AS alt_reads,
             |  sum(r * 1000000 // (r + a)) AS ab_sum_e6
             |  FROM y WHERE r + a > 0 GROUP BY si)
             |SELECT CAST(si AS INT) AS sample_idx,
             |CAST(n_ab AS BIGINT) AS n_ab,
             |CAST(ref_reads AS BIGINT) AS ref_reads,
             |CAST(alt_reads AS BIGINT) AS alt_reads,
             |CAST(ab_sum_e6 AS BIGINT) AS ab_sum_e6,
             |CAST(floor(CAST(ab_sum_e6 AS DOUBLE) / n_ab + 0.5) AS BIGINT)
             |  AS mean_ab_e6
             |FROM z ORDER BY sample_idx""".stripMargin)),

    // ── 89e8. cross-callset sample-swap scan: full SA×SB concordance
    // matrix via four OuterSum gramians on the Spark side vs the
    // exploded pair arithmetic in DuckDB — integer cells, argmax on
    // the (identical-double) ratio with lowest-j tie-break ─────────────
    QueryDef(
      "q_gt_swap_scan",
      (s, d) =>
        graft.operators.Stats.sampleSwapScan(gtTable(s, d), gtTableB(s, d),
            "vid", "gt")
          .select(col("a_idx"), col("best_b_idx"), col("n_match"),
            col("n_comp"), e4(col("concordance")).as("conc_e4"),
            col("self_match"), col("self_comp"), col("swapped"))
          .orderBy(col("a_idx")),
      Some(s"""WITH ga AS ($duckGt),
             |gb AS ($duckGtB),
             |j AS (SELECT vid, ga.gt AS x, gb.gt AS y FROM ga JOIN gb USING (vid)),
             |ex AS (SELECT vid, i.i AS ai, jj.i AS bi,
             |  CASE WHEN list_contains(x[CAST(i.i+1 AS INT)], -1) THEN -1
             |    ELSE x[CAST(i.i+1 AS INT)][1] + x[CAST(i.i+1 AS INT)][2]
             |    END AS da,
             |  CASE WHEN list_contains(y[CAST(jj.i+1 AS INT)], -1) THEN -1
             |    ELSE y[CAST(jj.i+1 AS INT)][1] + y[CAST(jj.i+1 AS INT)][2]
             |    END AS db
             |  FROM j, range(0, 12) i(i), range(0, 12) jj(i)),
             |cells AS (SELECT ai, bi,
             |  sum(CASE WHEN da >= 0 AND db >= 0 AND da = db THEN 1 ELSE 0 END) AS m,
             |  sum(CASE WHEN da >= 0 AND db >= 0 THEN 1 ELSE 0 END) AS c
             |  FROM ex GROUP BY ai, bi),
             |rk AS (SELECT ai, bi, m, c,
             |  row_number() OVER (PARTITION BY ai
             |    ORDER BY m*1.0/c DESC, bi ASC) AS rn
             |  FROM cells WHERE c > 0),
             |sf AS (SELECT ai, m AS sm, c AS sc FROM cells WHERE ai = bi)
             |SELECT CAST(rk.ai AS INT) AS a_idx, CAST(bi AS INT) AS best_b_idx,
             |CAST(m AS BIGINT) AS n_match, CAST(c AS BIGINT) AS n_comp,
             |CAST(floor(m*1.0/c*10000.0 + 0.5) AS BIGINT) AS conc_e4,
             |CAST(coalesce(sm, 0) AS BIGINT) AS self_match,
             |CAST(coalesce(sc, 0) AS BIGINT) AS self_comp,
             |(bi <> rk.ai) AS swapped
             |FROM rk LEFT JOIN sf ON rk.ai = sf.ai
             |WHERE rn = 1 ORDER BY a_idx""".stripMargin)),

    // ── 89e9. GERMLINE-style IBD segments over an IBD-friendly derived
    // callset (samples s, s+4, s+8 share a dosage profile except in
    // every third window, which re-keys per sample and breaks runs):
    // Spark buckets by xxhash64 fingerprint, DuckDB by the literal
    // sequence string — identical buckets, identical islands ───────────
    QueryDef(
      "q_gt_ibd",
      (s, d) => {
        val nS = 12
        val gt = t(s, d, "orders").select(col("o_orderkey").as("vid"))
          .orderBy(col("vid")).limit(100)
          .withColumn("gt", transform(sequence(lit(0), lit(nS - 1)), sIdx => {
            val k = when(pmod(floor(col("vid") / lit(16)), lit(3)) === 1,
              sIdx).otherwise(pmod(sIdx, lit(4)))
            val hs = pmod(col("vid") * 7919L + k * 104729L, lit(1000L))
            val dd = pmod(hs, lit(3L))
            when(hs < 150, array(lit(-1), lit(-1)))
              .when(dd === 0, array(lit(0), lit(0)))
              .when(dd === 1, array(lit(0), lit(1)))
              .otherwise(array(lit(1), lit(1)))
          }))
        graft.operators.Stats.ibdSegments(gt, "gt", "vid", 16L, 2, maxBucket = 12)
          .orderBy(col("si"), col("sj"), col("win_start"))
      },
      Some("""WITH g AS (SELECT vid, s.i AS si,
             |  CASE WHEN (vid // 16) % 3 = 1 THEN s.i ELSE s.i % 4 END AS k
             |  FROM (SELECT o_orderkey AS vid FROM orders ORDER BY vid LIMIT 100),
             |    range(0, 12) s(i)),
             |dd AS (SELECT vid, si,
             |  CASE WHEN (vid*7919 + k*104729) % 1000 < 150 THEN -1
             |       ELSE (vid*7919 + k*104729) % 1000 % 3 END AS dos FROM g),
             |fp AS (SELECT (vid // 16)*16 AS win, si,
             |  string_agg(vid || ':' || dos, ',' ORDER BY vid) AS sig
             |  FROM dd GROUP BY 1, si),
             |bs AS (SELECT win, sig, count(*) AS c FROM fp GROUP BY win, sig),
             |pr AS (SELECT a.win, a.si AS si, b.si AS sj
             |  FROM fp a JOIN fp b ON a.win = b.win AND a.sig = b.sig AND a.si < b.si
             |  JOIN bs ON bs.win = a.win AND bs.sig = a.sig
             |  WHERE bs.c BETWEEN 2 AND 12),
             |il AS (SELECT si, sj, win,
             |  win - row_number() OVER (PARTITION BY si, sj ORDER BY win) * 16 AS grp
             |  FROM pr)
             |SELECT CAST(si AS INT) AS si, CAST(sj AS INT) AS sj,
             |CAST(min(win) AS BIGINT) AS win_start,
             |CAST(max(win) AS BIGINT) AS win_end,
             |CAST(count(*) AS BIGINT) AS n_windows
             |FROM il GROUP BY si, sj, grp HAVING count(*) >= 2
             |ORDER BY si, sj, win_start""".stripMargin)),

    // ── 89f. genome-scan windowed Hudson F_ST (ratio of per-window
    // fixed-point sums — integer-exact reduction, so the scan is
    // partition-order-proof on both engines) ───────────────────────────
    QueryDef(
      "q_gt_fst_window",
      (s, d) =>
        graft.operators.Stats.fstWindowed(gtTable(s, d), "gt", "vid", 16L,
            0 until 6, 6 until 12)
          .select(col("win_start"), col("n_informative"),
            col("num_fp"), col("den_fp"),
            when(col("fst").isNull, lit(null).cast("long"))
              .otherwise(e4(col("fst"))).as("fst_e4"))
          .orderBy(col("win_start")),
      Some(s"""WITH g AS ($duckGt),
             |$duckPopCounts,
             |$duckHudsonTerms,
             |win AS (SELECT vid // 16 * 16 AS win_start,
             |  CASE WHEN num IS NULL THEN NULL
             |    ELSE CAST(floor(num*1000000.0 + 0.5) AS BIGINT) END AS num_fp,
             |  CASE WHEN den IS NULL THEN NULL
             |    ELSE CAST(floor(den*1000000.0 + 0.5) AS BIGINT) END AS den_fp
             |  FROM fin)
             |SELECT CAST(win_start AS BIGINT) AS win_start,
             |CAST(count(num_fp) AS BIGINT) AS n_informative,
             |CAST(sum(num_fp) AS BIGINT) AS num_fp,
             |CAST(sum(den_fp) AS BIGINT) AS den_fp,
             |CASE WHEN sum(den_fp) IS NULL OR NOT sum(den_fp) > 0 THEN NULL
             |  ELSE CAST(floor(sum(num_fp)*1.0/sum(den_fp)*10000.0 + 0.5) AS BIGINT)
             |  END AS fst_e4
             |FROM win GROUP BY win_start ORDER BY win_start""".stripMargin)),

    // ── 90. distribution window functions: percent_rank + cume_dist
    // (rank-based — deterministic under value ties, unlike row_number
    // over a non-unique order) ─────────────────────────────────────────
    QueryDef(
      "q_window_dist",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            e4(percent_rank().over(w)).as("pr_e4"),
            e4(cume_dist().over(w)).as("cd_e4"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |CAST(floor(percent_rank() OVER (PARTITION BY o_orderpriority
             |  ORDER BY o_totalprice)*10000.0 + 0.5) AS BIGINT) AS pr_e4,
             |CAST(floor(cume_dist() OVER (PARTITION BY o_orderpriority
             |  ORDER BY o_totalprice)*10000.0 + 0.5) AS BIGINT) AS cd_e4
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ── 91. higher-order array functions end-to-end: transform, filter,
    // exists, forall, array_sort, zip_with over an embedding slice —
    // each replicated with DuckDB list lambdas ─────────────────────────
    QueryDef(
      "q_hof_funcs",
      (s, d) =>
        t(s, d, "embeddings")
          .withColumn("_arr", transform(slice(col("embedding"), 1, 8), v => v.cast("double")))
          .select(col("vec_id"),
            size(filter(col("_arr"), v => v > 0)).cast("long").as("n_pos"),
            exists(col("_arr"), v => v > lit(0.9)).as("any_big"),
            forall(col("_arr"), v => abs(v) < lit(10.0)).as("all_small"),
            e4(element_at(array_sort(col("_arr")), 1)).as("min_e4"),
            e4(aggregate(zip_with(col("_arr"), reverse(col("_arr")), (x, y) => x * y),
              lit(0.0), (acc, v) => acc + v)).as("revdot_e4"))
          .orderBy(col("vec_id")),
      Some("""WITH a AS (SELECT vec_id,
             |  list_transform(embedding[1:8], v -> CAST(v AS DOUBLE)) AS arr
             |  FROM embeddings)
             |SELECT vec_id,
             |CAST(len(list_filter(arr, v -> v > 0)) AS BIGINT) AS n_pos,
             |len(list_filter(arr, v -> v > 0.9)) > 0 AS any_big,
             |len(list_filter(arr, v -> NOT (abs(v) < 10.0))) = 0 AS all_small,
             |CAST(floor(list_sort(arr)[1]*10000.0 + 0.5) AS BIGINT) AS min_e4,
             |CAST(floor(list_sum(list_transform(range(1, len(arr)+1),
             |  i -> arr[i] * arr[len(arr)-i+1]))*10000.0 + 0.5) AS BIGINT) AS revdot_e4
             |FROM a ORDER BY vec_id""".stripMargin)),

    // ── 92. TPC-H Q3 analog (shipping priority): the canonical
    // 3-way star join — customer σ broadcast into orders, orders⋈lineitem
    // shuffles on the shared orderkey, partial agg before the exchange.
    // Top-10 by exact-decimal revenue, orderkey tie-break ──────────────
    QueryDef(
      "q_tpch_q3",
      (s, d) => {
        val cut = lit("1998-06-01").cast("timestamp")
        t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
          .join(t(s, d, "orders").filter(col("o_orderdate") < cut),
            col("c_custkey") === col("o_custkey"))
          .join(t(s, d, "lineitem").filter(col("l_shipdate") > cut),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_orderkey"), fmtTs(col("o_orderdate")).as("odate"))
          .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
          .select(col("l_orderkey"), col("odate"), e4(col("revenue")).as("rev_e4"))
          .orderBy(col("rev_e4").desc, col("l_orderkey"))
      },
      Some("""SELECT l_orderkey, odate, CAST(floor(revenue*10000.0 + 0.5) AS BIGINT) AS rev_e4
             |FROM (
             |  SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |  FROM customer, orders, lineitem
             |  WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
             |    AND l_orderkey = o_orderkey
             |    AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
             |    AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
             |  GROUP BY l_orderkey, odate
             |  ORDER BY revenue DESC, l_orderkey LIMIT 10)
             |ORDER BY rev_e4 DESC, l_orderkey""".stripMargin)),

    // ── 93. TPC-H Q5 analog (local-supplier volume): 6-table snowflake
    // — region/nation/supplier broadcast, the c_nationkey = s_nationkey
    // locality predicate closes the cycle; one group per nation ────────
    QueryDef(
      "q_tpch_q5",
      (s, d) => {
        val lo = lit("1997-01-01").cast("timestamp")
        val hi = lit("1998-01-01").cast("timestamp")
        t(s, d, "region").filter(col("r_name") === "ASIA")
          .join(t(s, d, "nation"), col("r_regionkey") === col("n_regionkey"))
          .join(t(s, d, "supplier"), col("n_nationkey") === col("s_nationkey"))
          .join(t(s, d, "lineitem"), col("s_suppkey") === col("l_suppkey"))
          .join(t(s, d, "orders").filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
          .select(col("n_name"), e4(col("revenue")).as("rev_e4"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name, CAST(floor(CAST(sum(CAST(l_extendedprice*(1-l_discount)
             |    AS DECIMAL(18,4))) AS DOUBLE)*10000.0 + 0.5) AS BIGINT) AS rev_e4
             |FROM region, nation, supplier, lineitem, orders, customer
             |WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey
             |  AND n_nationkey = s_nationkey AND s_suppkey = l_suppkey
             |  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
             |  AND c_nationkey = s_nationkey
             |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ── 94. TPC-H Q10 analog (returned-item reporting): big⋈big on
    // orderkey then customer/nation decoration, top-20 losers by exact
    // revenue — the classic "find the bad customers" reporting join ────
    QueryDef(
      "q_tpch_q10",
      (s, d) => {
        val lo = lit("1997-10-01").cast("timestamp")
        val hi = lit("1998-01-01").cast("timestamp")
        t(s, d, "customer")
          .join(t(s, d, "orders").filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
            col("c_custkey") === col("o_custkey"))
          .join(t(s, d, "lineitem").filter(col("l_returnflag") === "R"),
            col("o_orderkey") === col("l_orderkey"))
          .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            e4(col("revenue")).as("rev_e4"))
          .orderBy(col("rev_e4").desc, col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, n_name,
             |CAST(floor(revenue*10000.0 + 0.5) AS BIGINT) AS rev_e4
             |FROM (
             |  SELECT c_custkey, c_name, n_name,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |  FROM customer, orders, lineitem, nation
             |  WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |    AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
             |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |    AND l_returnflag = 'R' AND c_nationkey = n_nationkey
             |  GROUP BY c_custkey, c_name, n_name
             |  ORDER BY revenue DESC, c_custkey LIMIT 20)
             |ORDER BY rev_e4 DESC, c_custkey""".stripMargin)),

    // ── 95. Hudson F_ST between two 6-sample groups of the genetics
    // cohort (samples 0-5 vs 6-11): map-only kernel, DuckDB recomputes
    // from first principles over the same derived gt arrays ────────────
    QueryDef(
      "q_gt_fst",
      (s, d) =>
        graft.operators.Stats.fstHudson(gtTable(s, d), "gt", 0 until 6, 6 until 12)
          .select(col("vid"),
            when(col("fst_num").isNull, lit(null).cast("long"))
              .otherwise(e4(col("fst_num"))).as("num_e4"),
            when(col("fst_den").isNull, lit(null).cast("long"))
              .otherwise(e4(col("fst_den"))).as("den_e4"),
            when(col("fst").isNull || isnan(col("fst")), lit(null).cast("long"))
              .otherwise(e4(col("fst"))).as("fst_e4"))
          .orderBy(col("vid")),
      Some(s"""WITH g AS ($duckGt),
             |$duckPopCounts,
             |$duckHudsonTerms
             |SELECT vid,
             |CASE WHEN num IS NULL THEN NULL
             |  ELSE CAST(floor(num*10000.0 + 0.5) AS BIGINT) END AS num_e4,
             |CASE WHEN den IS NULL THEN NULL
             |  ELSE CAST(floor(den*10000.0 + 0.5) AS BIGINT) END AS den_e4,
             |CASE WHEN den IS NULL OR NOT den > 0 THEN NULL
             |  ELSE CAST(floor(num/den*10000.0 + 0.5) AS BIGINT) END AS fst_e4
             |FROM fin ORDER BY vid""".stripMargin)),

    // ── 95a. Nei (1972) gene-identity terms between the same two
    // 6-sample groups: jx, jy, jxy per variant (map-only kernel;
    // genome-wide D = −ln(mean jxy / √(mean jx · mean jy)) via
    // Stats.neiD) — DuckDB recomputes from first principles with the
    // identical expression shape, e4 fixed point ──────────────────────
    QueryDef(
      "q_nei_distance",
      (s, d) =>
        graft.operators.Stats.neiIdentity(gtTable(s, d), "gt", 0 until 6, 6 until 12)
          .select(col("vid"),
            e4(col("jx")).as("jx_e4"), e4(col("jy")).as("jy_e4"),
            e4(col("jxy")).as("jxy_e4"))
          .orderBy(col("vid")),
      Some(s"""WITH g AS ($duckGt),
             |$duckPopCounts,
             |fr AS (SELECT vid,
             |  CASE WHEN a0+a1 > 0 THEN a1*1.0/(a0+a1) END AS pa,
             |  CASE WHEN b0+b1 > 0 THEN b1*1.0/(b0+b1) END AS pb FROM cnt)
             |SELECT vid,
             |CASE WHEN pa IS NOT NULL AND pb IS NOT NULL THEN
             |  CAST(floor((pa*pa + (1.0-pa)*(1.0-pa))*10000.0 + 0.5) AS BIGINT)
             |END AS jx_e4,
             |CASE WHEN pa IS NOT NULL AND pb IS NOT NULL THEN
             |  CAST(floor((pb*pb + (1.0-pb)*(1.0-pb))*10000.0 + 0.5) AS BIGINT)
             |END AS jy_e4,
             |CASE WHEN pa IS NOT NULL AND pb IS NOT NULL THEN
             |  CAST(floor((pa*pb + (1.0-pa)*(1.0-pb))*10000.0 + 0.5) AS BIGINT)
             |END AS jxy_e4
             |FROM fr ORDER BY vid""".stripMargin)),

    // ── 95a1. per-SAMPLE heterozygosity and call rate — the sample-QC
    // screen (excess het flags contamination, low call rate flags bad
    // assays; variants have §2.3 kernels, samples get this transpose):
    // integer counts per sample index + one mirrored division ─────────
    QueryDef(
      "q_gt_sample_het",
      (s, d) =>
        gtTable(s, d)
          .select(posexplode(col("gt")).as(Seq("sample_idx", "_s")))
          .withColumn("_called", !exists(col("_s"), a => a === -1))
          .withColumn("_het", col("_called") && size(array_distinct(col("_s"))) >= 2)
          .groupBy(col("sample_idx").cast("long").as("sample_idx"))
          .agg(
            count(when(col("_called"), lit(1))).cast("long").as("n_called"),
            count(when(col("_het"), lit(1))).cast("long").as("n_het"))
          .withColumn("het_rate_e4",
            when(col("n_called") > 0,
              e4(col("n_het").cast("double") / col("n_called").cast("double"))))
          .orderBy(col("sample_idx")),
      Some(s"""WITH g AS ($duckGt),
             |ex AS (SELECT unnest(gt) AS s,
             |    unnest(range(0, len(gt))) AS sample_idx FROM g),
             |fl AS (SELECT sample_idx,
             |    NOT list_contains(s, -1) AS called,
             |    NOT list_contains(s, -1) AND len(list_distinct(s)) >= 2 AS het
             |  FROM ex),
             |ag AS (SELECT CAST(sample_idx AS BIGINT) AS sample_idx,
             |    CAST(count(CASE WHEN called THEN 1 END) AS BIGINT) AS n_called,
             |    CAST(count(CASE WHEN het THEN 1 END) AS BIGINT) AS n_het
             |  FROM fl GROUP BY 1)
             |SELECT sample_idx, n_called, n_het,
             |CASE WHEN n_called > 0 THEN CAST(floor(
             |  (CAST(n_het AS DOUBLE) / CAST(n_called AS DOUBLE))*10000.0 + 0.5)
             |  AS BIGINT) END AS het_rate_e4
             |FROM ag ORDER BY sample_idx""".stripMargin)),

    // ── 95a2. mean-imputed dosage matrix, long form: the standard
    // pre-matrix-methods imputation (missing → variant mean over
    // called), e4 fixed point; identical division shape both engines ──
    QueryDef(
      "q_gt_impute",
      (s, d) =>
        graft.operators.Kinship.meanImputedDosages(gtTable(s, d), "gt")
          .select(col("vid"), posexplode(col("dos_imp")).as(Seq("sample_idx", "_v")))
          .select(col("vid"), col("sample_idx").cast("long").as("sample_idx"),
            e4(col("_v")).as("dos_e4"))
          .orderBy(col("vid"), col("sample_idx")),
      Some(s"""WITH g AS ($duckGt),
             |dd AS (SELECT vid, list_transform(gt, x ->
             |    CASE WHEN list_contains(x, -1) THEN -1
             |         ELSE CAST(list_aggregate(x, 'sum') AS INT) END) AS dos
             |  FROM g),
             |st AS (SELECT vid, dos,
             |    len(list_filter(dos, d -> d >= 0)) AS n,
             |    coalesce(list_aggregate(list_filter(dos, d -> d >= 0), 'sum'), 0) AS t
             |  FROM dd),
             |ex AS (SELECT vid, n, t,
             |    unnest(dos) AS d, unnest(range(0, len(dos))) AS sample_idx
             |  FROM st)
             |SELECT vid, CAST(sample_idx AS BIGINT) AS sample_idx,
             |  CAST(floor((CASE WHEN d >= 0 THEN CAST(d AS DOUBLE)
             |    ELSE CAST(t AS DOUBLE) / CAST(n AS DOUBLE) END)*10000.0 + 0.5)
             |    AS BIGINT) AS dos_e4
             |FROM ex ORDER BY vid, sample_idx""".stripMargin)),

    // ── 95a3. folded site-frequency spectrum: variants per minor-allele
    // count — the classic pop-gen summary (selection/demography scans
    // read its shape); pure integer histogram, one agg ────────────────
    // per-sample F_ROH summary (Stats.frohSummary): called-site count,
    // ROH run count and in-run sites at minSites=3, froh = ratio of
    // identical integers (exact double both engines). Twin rebuilds
    // hom/called from the gt arithmetic and replays the same
    // double-row_number islands ───────────────────────────────────────
    QueryDef(
      "q_gt_froh",
      (s, d) =>
        graft.operators.Stats.frohSummary(gtTable(s, d), "gt", "vid", minSites = 3)
          .orderBy(col("sample_idx")),
      Some("""WITH v AS (SELECT o_orderkey AS vid FROM orders
             |  ORDER BY vid LIMIT 100),
             |lv AS (SELECT s, vid,
             |  CASE WHEN (vid*7919 + s*104729) % 1000 < 150 THEN 0 ELSE 1 END AS called,
             |  CASE WHEN (vid*7919 + s*104729) % 1000 < 150 THEN 0
             |       WHEN (vid*7919 + s*104729) % 1000 % 2 =
             |            ((vid*7919 + s*104729) % 1000 // 3) % 2 THEN 1
             |       ELSE 0 END AS hom
             |  FROM (SELECT unnest(range(0, 12)) AS s, vid FROM v)),
             |r1 AS (SELECT s, vid, hom,
             |  row_number() OVER (PARTITION BY s ORDER BY vid) AS rn FROM lv),
             |isl AS (SELECT s,
             |  rn - row_number() OVER (PARTITION BY s ORDER BY vid) AS grp
             |  FROM r1 WHERE hom = 1),
             |runs AS (SELECT s, count(*) AS ns FROM isl GROUP BY s, grp
             |  HAVING count(*) >= 3),
             |agg AS (SELECT s, count(*) AS n_runs, sum(ns) AS roh_sites
             |  FROM runs GROUP BY s),
             |cal AS (SELECT s, sum(called) AS n_called FROM lv GROUP BY s)
             |SELECT CAST(cal.s AS INT) AS sample_idx,
             |CAST(n_called AS BIGINT) AS n_called,
             |CAST(coalesce(n_runs, 0) AS BIGINT) AS n_runs,
             |CAST(coalesce(roh_sites, 0) AS BIGINT) AS roh_sites,
             |CASE WHEN n_called = 0 THEN NULL
             |  ELSE CAST(coalesce(roh_sites, 0) AS DOUBLE) / CAST(n_called AS DOUBLE)
             |  END AS froh
             |FROM cal LEFT JOIN agg ON agg.s = cal.s
             |ORDER BY sample_idx""".stripMargin)),

    // per-VARIANT Mendelian-error view (site-level QC twin of the
    // per-trio q_gt_mendel): fully-called trio count and impossible-
    // transmission count per variant, via the ploidy-general unphased
    // allele-membership test (vs the per-trio row's biallelic dosage
    // range — equivalent on this fixture, different generality) ───────
    QueryDef(
      "q_gt_mendel_variant",
      (s, d) =>
        graft.operators.Stats.mendelErrors(gtTable(s, d), "gt", "vid",
            Seq((0, 1, 2), (3, 4, 5), (6, 7, 8), (9, 10, 11)))
          .orderBy(col("vid")),
      Some(s"""WITH g AS ($duckGt),
             |t(c, f, m) AS (VALUES (0, 1, 2), (3, 4, 5), (6, 7, 8), (9, 10, 11)),
             |e AS (SELECT vid, gt[c+1] AS ch, gt[f+1] AS fa, gt[m+1] AS mo
             |  FROM g, t),
             |x AS (SELECT vid,
             |  CASE WHEN list_contains(ch, -1) OR list_contains(fa, -1)
             |         OR list_contains(mo, -1) THEN 0 ELSE 1 END AS chk,
             |  CASE WHEN list_contains(ch, -1) OR list_contains(fa, -1)
             |         OR list_contains(mo, -1) THEN 0
             |       WHEN (list_contains(fa, ch[1]) AND list_contains(mo, ch[2]))
             |         OR (list_contains(fa, ch[2]) AND list_contains(mo, ch[1]))
             |       THEN 0 ELSE 1 END AS err
             |  FROM e)
             |SELECT vid, CAST(sum(chk) AS BIGINT) AS n_checked,
             |CAST(sum(err) AS BIGINT) AS n_errors
             |FROM x GROUP BY vid ORDER BY vid""".stripMargin)),

    QueryDef(
      "q_gt_sfs",
      (s, d) => {
        import graft.functions.GenotypeKernels
        gtTable(s, d)
          .withColumn("_c", GenotypeKernels.alleleCounts(col("gt"), lit(2)))
          .groupBy(GenotypeKernels.macFromCounts(col("_c")).cast("long").as("mac"))
          .agg(count(lit(1)).cast("long").as("n_variants"))
          .orderBy(col("mac"))
      },
      Some(s"""WITH g AS ($duckGt),
             |cnt AS (SELECT vid,
             |  len(list_filter(flatten(gt), a -> a = 0)) AS c0,
             |  len(list_filter(flatten(gt), a -> a = 1)) AS c1
             |  FROM g)
             |SELECT CAST(least(c0, c1) AS BIGINT) AS mac,
             |  CAST(count(*) AS BIGINT) AS n_variants
             |FROM cnt GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── 95a4. Tajima's D over complete sites (n = 24 haploid): the
    // one-pass integer components in-engine, then the 1989 formula with
    // the harmonic constants inlined as IDENTICAL double literals into
    // both engines (Double.toString round-trips, so both parse to the
    // same bits — no cross-engine formula mirroring to drift) ─────────
    QueryDef(
      "q_gt_tajima",
      (s, d) => {
        import graft.operators.Stats
        val (a1, e1, e2) = Stats.tajimaNorm(24)
        val pairs = 276.0 // C(24, 2) haplotype pairs
        val comp = Stats.tajimaComponents(fullGtTable(s, d), "gt")
        val sSeg = col("s_seg").cast("double")
        val pi = col("sum_c0c1").cast("double") / lit(pairs)
        val dStat = (pi - sSeg / lit(a1)) /
          sqrt(lit(e1) * sSeg + lit(e2) * sSeg * (sSeg - lit(1.0)))
        comp.select(
          col("n_complete"), col("s_seg"),
          when(col("s_seg") > 0, e4(pi)).otherwise(lit(null).cast("long")).as("pi_e4"),
          when(col("s_seg") > 0, e4(sSeg / lit(a1)))
            .otherwise(lit(null).cast("long")).as("theta_e4"),
          when(col("s_seg") > 0, e4(dStat))
            .otherwise(lit(null).cast("long")).as("d_e4"))
      },
      Some {
        val (a1, e1, e2) = graft.operators.Stats.tajimaNorm(24)
        s"""WITH g AS ($duckFullGt),
           |cnt AS (SELECT vid,
           |  len(list_filter(flatten(gt), a -> a = 0)) AS c0,
           |  len(list_filter(flatten(gt), a -> a = 1)) AS c1
           |  FROM g WHERE NOT list_contains(flatten(gt), -1)),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_complete,
           |  CAST(count(*) FILTER (c0 > 0 AND c1 > 0) AS BIGINT) AS s_seg,
           |  CAST(coalesce(sum(c0*c1) FILTER (c0 > 0 AND c1 > 0), 0) AS BIGINT)
           |    AS sum_c0c1 FROM cnt)
           |SELECT n_complete, s_seg,
           |CASE WHEN s_seg > 0 THEN CAST(floor(
           |  (CAST(sum_c0c1 AS DOUBLE) / 276.0)*10000.0 + 0.5) AS BIGINT)
           |END AS pi_e4,
           |CASE WHEN s_seg > 0 THEN CAST(floor(
           |  (CAST(s_seg AS DOUBLE) / $a1)*10000.0 + 0.5) AS BIGINT)
           |END AS theta_e4,
           |CASE WHEN s_seg > 0 THEN CAST(floor(
           |  ((CAST(sum_c0c1 AS DOUBLE) / 276.0 - CAST(s_seg AS DOUBLE) / $a1)
           |    / sqrt($e1 * CAST(s_seg AS DOUBLE)
           |      + $e2 * CAST(s_seg AS DOUBLE) * (CAST(s_seg AS DOUBLE) - 1.0)))
           |   *10000.0 + 0.5) AS BIGINT)
           |END AS d_e4
           |FROM agg""".stripMargin
      }),

    // ── 95a5. windowed nucleotide diversity: per 20-variant genomic
    // window, complete-sites π (integer Σc0·c1, two mirrored divisions)
    // — the sliding-diversity scan behind selection sweeps ────────────
    QueryDef(
      "q_gt_pi_window",
      (s, d) => {
        import graft.functions.GenotypeKernels
        fullGtTable(s, d)
          .filter(!exists(col("gt"), g => exists(g, a => a === -1)))
          .withColumn("_c", GenotypeKernels.alleleCounts(col("gt"), lit(2)))
          .groupBy(floor(col("vid") / 20L).cast("long").as("win"))
          .agg(
            count(lit(1)).cast("long").as("n_sites"),
            coalesce(sum(element_at(col("_c"), 1) * element_at(col("_c"), 2)),
              lit(0L)).cast("long").as("sum_c0c1"))
          .withColumn("pi_mean_e4",
            e4(col("sum_c0c1").cast("double") / lit(276.0)
              / col("n_sites").cast("double")))
          .orderBy(col("win"))
      },
      Some(s"""WITH g AS ($duckFullGt),
             |cnt AS (SELECT vid,
             |  CAST(len(list_filter(flatten(gt), a -> a = 0)) AS BIGINT) AS c0,
             |  CAST(len(list_filter(flatten(gt), a -> a = 1)) AS BIGINT) AS c1
             |  FROM g WHERE NOT list_contains(flatten(gt), -1)),
             |w AS (SELECT CAST(vid // 20 AS BIGINT) AS win,
             |  CAST(count(*) AS BIGINT) AS n_sites,
             |  CAST(coalesce(sum(c0*c1), 0) AS BIGINT) AS sum_c0c1
             |  FROM cnt GROUP BY 1)
             |SELECT win, n_sites, sum_c0c1,
             |CAST(floor((CAST(sum_c0c1 AS DOUBLE) / 276.0
             |  / CAST(n_sites AS DOUBLE))*10000.0 + 0.5) AS BIGINT) AS pi_mean_e4
             |FROM w ORDER BY win""".stripMargin)),

    // ── 95a6. genome-scan Tajima's D: the statistic per 20-variant
    // window (its real field use — sweep detection scans windows, not
    // genomes); same literal-inlined constants discipline as 95a4 ─────
    QueryDef(
      "q_gt_tajima_window",
      (s, d) => {
        import graft.functions.GenotypeKernels
        import graft.operators.Stats
        val (a1, e1, e2) = Stats.tajimaNorm(24)
        val comp = fullGtTable(s, d)
          .withColumn("_c", GenotypeKernels.alleleCounts(col("gt"), lit(2)))
          .withColumn("_c0", element_at(col("_c"), 1))
          .withColumn("_c1", element_at(col("_c"), 2))
          .groupBy(floor(col("vid") / 20L).cast("long").as("win"))
          .agg(
            count(when(col("_c0") > 0 && col("_c1") > 0, lit(1)))
              .cast("long").as("s_seg"),
            coalesce(sum(when(col("_c0") > 0 && col("_c1") > 0,
              col("_c0") * col("_c1"))), lit(0L)).cast("long").as("sum_c0c1"))
        val sSeg = col("s_seg").cast("double")
        val dStat = (col("sum_c0c1").cast("double") / lit(276.0) - sSeg / lit(a1)) /
          sqrt(lit(e1) * sSeg + lit(e2) * sSeg * (sSeg - lit(1.0)))
        comp.select(col("win"), col("s_seg"),
            when(col("s_seg") > 1, e4(dStat))
              .otherwise(lit(null).cast("long")).as("d_e4"))
          .orderBy(col("win"))
      },
      Some {
        val (a1, e1, e2) = graft.operators.Stats.tajimaNorm(24)
        s"""WITH g AS ($duckFullGt),
           |cnt AS (SELECT vid,
           |  CAST(len(list_filter(flatten(gt), a -> a = 0)) AS BIGINT) AS c0,
           |  CAST(len(list_filter(flatten(gt), a -> a = 1)) AS BIGINT) AS c1
           |  FROM g),
           |w AS (SELECT CAST(vid // 20 AS BIGINT) AS win,
           |  CAST(count(*) FILTER (c0 > 0 AND c1 > 0) AS BIGINT) AS s_seg,
           |  CAST(coalesce(sum(c0*c1) FILTER (c0 > 0 AND c1 > 0), 0) AS BIGINT)
           |    AS sum_c0c1
           |  FROM cnt GROUP BY 1)
           |SELECT win, s_seg,
           |CASE WHEN s_seg > 1 THEN CAST(floor(
           |  ((CAST(sum_c0c1 AS DOUBLE) / 276.0 - CAST(s_seg AS DOUBLE) / $a1)
           |    / sqrt($e1 * CAST(s_seg AS DOUBLE)
           |      + $e2 * CAST(s_seg AS DOUBLE) * (CAST(s_seg AS DOUBLE) - 1.0)))
           |   *10000.0 + 0.5) AS BIGINT)
           |END AS d_e4
           |FROM w ORDER BY win""".stripMargin
      }),

    // ── 95b. kinship sufficient statistics: integer-exact centered
    // cross-products per sample pair (u = n·d − T, missing → 0; see
    // Kinship.grmPairs) — bit-stable under any partitioning, so raw
    // integers hash-match; the normalized VanRaden GRM and PCA build on
    // the same kernel (KinshipSpec proves the gramian twin equal) ──────
    QueryDef(
      "q_grm",
      (s, d) =>
        graft.operators.Kinship.grmPairs(gtTable(s, d), "gt")
          .select(col("si"), col("sj"), col("a").cast("long").as("a"))
          .orderBy(col("si"), col("sj")),
      Some(s"""WITH g AS ($duckGt),
             |dd AS (SELECT vid, list_transform(gt, x ->
             |    CASE WHEN list_contains(x, -1) THEN CAST(-1 AS BIGINT)
             |         ELSE CAST(list_aggregate(x, 'sum') AS BIGINT) END) AS dos
             |  FROM g),
             |st AS (SELECT vid, dos,
             |    CAST(len(list_filter(dos, d -> d >= 0)) AS BIGINT) AS n,
             |    CAST(coalesce(list_aggregate(list_filter(dos, d -> d >= 0),
             |      'sum'), 0) AS BIGINT) AS t
             |  FROM dd),
             |u AS (SELECT vid, list_transform(dos, d ->
             |    CASE WHEN d >= 0 THEN n*d - t ELSE 0 END) AS u FROM st)
             |SELECT CAST(si AS BIGINT) AS si, CAST(sj AS BIGINT) AS sj,
             |  CAST(sum(u[si+1]*u[sj+1]) AS BIGINT) AS a
             |FROM u, range(0, 12) r1(si), range(0, 12) r2(sj)
             |WHERE si <= sj GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── 96. column profiling (counts-only = engine-exact): one scan,
    // one Expand-based multi-column distinct, stack to long ────────────
    QueryDef(
      "q_profile",
      (s, d) =>
        graft.operators.Profile.profileColumns(
            t(s, d, "orders"), Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
          .select(col("column"), col("n_rows").cast("long").as("n_rows"),
            col("n_null").cast("long").as("n_null"),
            col("n_distinct").cast("long").as("n_distinct"))
          .orderBy(col("column")),
      Some("""SELECT 'o_orderstatus' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) - count(o_orderstatus) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct FROM orders
             |UNION ALL
             |SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
             |  CAST(count(*) - count(o_orderpriority) AS BIGINT),
             |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders
             |UNION ALL
             |SELECT 'o_custkey', CAST(count(*) AS BIGINT),
             |  CAST(count(*) - count(o_custkey) AS BIGINT),
             |  CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
             |ORDER BY "column"""".stripMargin)),

    // ── 97. IQR outlier gate: Tukey fence from exact interpolated
    // percentiles (parity proven by q_percentile), broadcast back,
    // closed-interval keep — 2-decimal money vs quarter-weight fences
    // keeps every comparison away from FP boundaries ───────────────────
    QueryDef(
      "q_outlier_iqr",
      (s, d) =>
        graft.operators.Profile.filterOutliers(
            t(s, d, "orders").groupBy(col("o_custkey"))
              .agg(moneySum(col("o_totalprice")).as("spend")),
            "spend", 1.5)
          .select(col("o_custkey"), e4(col("spend")).as("spend_e4"))
          .orderBy(col("o_custkey")),
      Some("""WITH v AS (SELECT o_custkey,
             |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
             |  FROM orders GROUP BY o_custkey),
             |f AS (SELECT quantile_cont(spend, 0.25) AS q1,
             |    quantile_cont(spend, 0.75) AS q3 FROM v)
             |SELECT o_custkey,
             |  CAST(floor(spend*10000.0 + 0.5) AS BIGINT) AS spend_e4
             |FROM v, f
             |WHERE spend >= q1 - (q3-q1)*1.5
             |  AND spend <= q3 + (q3-q1)*1.5
             |ORDER BY o_custkey""".stripMargin)),

    // ── 98. winsorization: same fences, clamp instead of drop ──────────
    QueryDef(
      "q_winsorize",
      (s, d) =>
        graft.operators.Profile.winsorize(
            t(s, d, "customer").select(col("c_custkey"), col("c_acctbal")),
            "c_acctbal", 1.5, "w")
          .select(col("c_custkey"), e4(col("w")).as("w_e4"))
          .orderBy(col("c_custkey")),
      Some("""WITH f AS (SELECT quantile_cont(c_acctbal, 0.25) AS q1,
             |    quantile_cont(c_acctbal, 0.75) AS q3 FROM customer)
             |SELECT c_custkey,
             |CAST(floor(least(greatest(c_acctbal, q1-(q3-q1)*1.5), q3+(q3-q1)*1.5)
             |  *10000.0 + 0.5) AS BIGINT) AS w_e4
             |FROM customer, f ORDER BY c_custkey""".stripMargin)),

    // ── 99a. composite LD r² for variant pairs within 5 positions:
    // banded self-join (each pair meets exactly once), integer Rogers-
    // Huff sums exact on both engines, division the only FP step ───────
    QueryDef(
      "q_gt_ld",
      (s, d) =>
        graft.operators.Stats.ldPairs(ldGtTable(s, d), "gt", "vid", 5L)
          .select(col("pos_a"), col("pos_b"), col("n_called"),
            col("ld_num"), col("ld_vx"), col("ld_vy"),
            when(col("r2").isNull, lit(null).cast("long"))
              .otherwise(e4(col("r2"))).as("r2_e4"))
          .orderBy(col("pos_a"), col("pos_b")),
      Some(s"""WITH $duckLdSums
             |SELECT pos_a, pos_b, n AS n_called,
             |n*sxy - sx*sy AS ld_num, n*sxx - sx*sx AS ld_vx, n*syy - sy*sy AS ld_vy,
             |CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
             |  CAST(floor((n*sxy - sx*sy)*(n*sxy - sx*sy)*1.0
             |    / ((n*sxx - sx*sx)*(n*syy - sy*sy)) * 10000.0 + 0.5) AS BIGINT)
             |END AS r2_e4
             |FROM t ORDER BY pos_a, pos_b""".stripMargin)),

    // ── 99a2. LD decay: mean r² by pairwise distance — the curve whose
    // drop-off sets pruning windows and imputation panel density. Each
    // pair's r² is fixed-pointed to e6 FIRST (one deterministic floor),
    // so the per-bin mean is integer-sum arithmetic plus two mirrored
    // divisions — no float accumulation anywhere ──────────────────────
    QueryDef(
      "q_gt_ld_decay",
      (s, d) =>
        graft.operators.Stats.ldPairs(ldGtTable(s, d), "gt", "vid", 5L)
          .filter(col("r2").isNotNull)
          .withColumn("_r2e6", floor(col("r2") * 1000000.0 + 0.5).cast("long"))
          .groupBy((col("pos_b") - col("pos_a")).cast("long").as("dist"))
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            sum(col("_r2e6")).as("_s"))
          .withColumn("mean_r2_e4",
            floor(col("_s").cast("double") / col("n_pairs").cast("double")
              / 100.0 + 0.5).cast("long"))
          .drop("_s")
          .orderBy(col("dist")),
      Some(s"""WITH $duckLdSums,
             |p2 AS (SELECT pos_b - pos_a AS dist,
             |  CAST(floor((n*sxy - sx*sy)*(n*sxy - sx*sy)*1.0
             |    / ((n*sxx - sx*sx)*(n*syy - sy*sy)) * 1000000.0 + 0.5) AS BIGINT)
             |    AS r2e6
             |  FROM t WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0)
             |SELECT CAST(dist AS BIGINT) AS dist,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(floor(CAST(sum(r2e6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    / 100.0 + 0.5) AS BIGINT) AS mean_r2_e4
             |FROM p2 GROUP BY dist ORDER BY dist""".stripMargin)),

    // ── 99b. LD pruning: variants surviving the drop-the-later-twin
    // thinning at r² > 0.8 — one anti-join over the same pair set ──────
    QueryDef(
      "q_gt_ld_prune",
      (s, d) =>
        graft.operators.Stats.ldPrune(ldGtTable(s, d), "gt", "vid", 5L, 0.8)
          .select(col("vid"))
          .orderBy(col("vid")),
      Some(s"""WITH $duckLdSums,
             |dropped AS (SELECT DISTINCT pos_b FROM t
             |  WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
             |    AND (n*sxy - sx*sy)*(n*sxy - sx*sy)*1.0
             |      / ((n*sxx - sx*sx)*(n*syy - sy*sy)) > 0.8)
             |SELECT vid FROM dos WHERE vid NOT IN (SELECT pos_b FROM dropped)
             |ORDER BY vid""".stripMargin)),

    // ── 99c. strictly-ordered funnel (view → click → purchase): one
    // user-keyed shuffle, greedy earliest-valid-event scan group-local;
    // per-user µs timestamps are collision-free so the strict
    // inequalities agree across the ns/µs parquet divide ───────────────
    QueryDef(
      "q_funnel",
      (s, d) =>
        graft.operators.Funnel.funnelTimes(events(s, d),
            "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
            maxGapSeconds = Some(86400L))
          .select(col("user_id"), col("reached"),
            fmtTs(col("t1")).as("ts1"), fmtTs(col("t2")).as("ts2"),
            fmtTs(col("t3")).as("ts3"))
          .orderBy(col("user_id")),
      Some(s"""WITH $duckFunnel
             |SELECT user_id,
             |CAST((CASE WHEN t1 IS NULL THEN 0 ELSE 1 END)
             |   + (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END)
             |   + (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS reached,
             |strftime(t1, '%Y-%m-%d %H:%M:%S') AS ts1,
             |strftime(t2, '%Y-%m-%d %H:%M:%S') AS ts2,
             |strftime(t3, '%Y-%m-%d %H:%M:%S') AS ts3
             |FROM s3 ORDER BY user_id""".stripMargin)),

    // ── 99d. funnel conversion report: non-increasing per-stage user
    // counts off the same per-user times ───────────────────────────────
    QueryDef(
      "q_funnel_conv",
      (s, d) =>
        graft.operators.Funnel.conversion(events(s, d),
            "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
            maxGapSeconds = Some(86400L))
          .select(col("stage").cast("long").as("stage"), col("stage_name"),
            col("n_users").cast("long").as("n_users"))
          .orderBy(col("stage")),
      Some(s"""WITH $duckFunnel
             |SELECT * FROM (
             |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
             |    CAST(count(t1) AS BIGINT) AS n_users FROM s3
             |  UNION ALL
             |  SELECT 2, 'click', CAST(count(t2) AS BIGINT) FROM s3
             |  UNION ALL
             |  SELECT 3, 'purchase', CAST(count(t3) AS BIGINT) FROM s3)
             |ORDER BY stage""".stripMargin)),

    // ── 99e. weekly retention triangle: signup-week cohorts × active
    // weeks, exact date arithmetic end to end ──────────────────────────
    QueryDef(
      "q_retention",
      (s, d) =>
        graft.operators.Events.retention(events(s, d),
            "user_id", "ts", "event_type", "signup")
          .select(fmtTs(col("cohort_week")).as("cohort_week"),
            col("week_offset").cast("long").as("week_offset"),
            col("n_users").cast("long").as("n_users"))
          .orderBy(col("cohort_week"), col("week_offset")),
      Some("""WITH c AS (SELECT user_id, min(date_trunc('week', ts)) AS cw
             |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
             |a AS (SELECT user_id, date_trunc('week', ts) AS aw FROM events),
             |d AS (SELECT DISTINCT c.user_id, cw,
             |  CAST(floor(date_diff('day', CAST(cw AS DATE), CAST(aw AS DATE)) / 7)
             |    AS BIGINT) AS week_offset
             |  FROM c JOIN a USING (user_id) WHERE aw >= cw)
             |SELECT strftime(cw, '%Y-%m-%d %H:%M:%S') AS cohort_week, week_offset,
             |CAST(count(*) AS BIGINT) AS n_users
             |FROM d GROUP BY cw, week_offset
             |ORDER BY cohort_week, week_offset""".stripMargin)),

    // ── 99f. event-transition matrix: per-user lead() adjacencies
    // (timestamps are per-user unique, so the order is total), counts
    // on the tiny (from, to) key space ─────────────────────────────────
    QueryDef(
      "q_transitions",
      (s, d) =>
        graft.operators.Events.transitions(events(s, d), "user_id", "ts", "event_type",
          idCol = Some("event_id"))
          .select(col("from_type"), col("to_type"), col("n").cast("long").as("n"))
          .orderBy(col("from_type"), col("to_type")),
      Some("""WITH t AS (SELECT event_type,
             |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
             |  FROM events)
             |SELECT event_type AS from_type, nxt AS to_type,
             |CAST(count(*) AS BIGINT) AS n
             |FROM t WHERE nxt IS NOT NULL
             |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin)),

    // ── 99g. per-group OLS fit (slope/intercept/r² from the five
    // classical sums): exact decimal sums, double arithmetic mirrored
    // term by term, division last ──────────────────────────────────────
    QueryDef(
      "q_linear_fit",
      (s, d) =>
        graft.operators.Profile.linearFit(t(s, d, "lineitem"),
            "l_returnflag", "l_quantity", "l_extendedprice")
          .select(col("l_returnflag"), col("n"),
            when(col("slope").isNull, lit(null).cast("long"))
              .otherwise(e4(col("slope"))).as("slope_e4"),
            when(col("intercept").isNull, lit(null).cast("long"))
              .otherwise(e4(col("intercept"))).as("intercept_e4"),
            when(col("r2").isNull, lit(null).cast("long"))
              .otherwise(e4(col("r2"))).as("r2_e4"))
          .orderBy(col("l_returnflag")),
      Some("""WITH s AS (SELECT l_returnflag,
             |  CAST(count(*) AS DOUBLE) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))*CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))*CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))*CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syy
             |  FROM lineitem GROUP BY l_returnflag),
             |f AS (SELECT l_returnflag, n, sx, sy,
             |  CASE WHEN n*sxx - sx*sx > 0
             |    THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END AS slope,
             |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
             |    THEN (n*sxy - sx*sy) * (n*sxy - sx*sy)
             |      / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END AS r2
             |  FROM s)
             |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             |CASE WHEN slope IS NULL THEN NULL
             |  ELSE CAST(floor(slope*10000.0 + 0.5) AS BIGINT) END AS slope_e4,
             |CASE WHEN slope IS NULL THEN NULL
             |  ELSE CAST(floor((sy - slope*sx)/n*10000.0 + 0.5) AS BIGINT) END AS intercept_e4,
             |CASE WHEN r2 IS NULL THEN NULL
             |  ELSE CAST(floor(r2*10000.0 + 0.5) AS BIGINT) END AS r2_e4
             |FROM f ORDER BY l_returnflag""".stripMargin)),

    // ── 99h. deterministic train/val/test split: hash-range label,
    // map-only, stable under corpus growth ─────────────────────────────
    QueryDef(
      "q_split",
      (s, d) =>
        graft.ext.Corpus.assignSplits(t(s, d, "documents"), "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("split"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |CASE WHEN (doc_id*1103515245 + 12345) % 2147483648 / 2147483648.0 < 0.8
             |  THEN 'train'
             |WHEN (doc_id*1103515245 + 12345) % 2147483648 / 2147483648.0 < 0.9
             |  THEN 'val'
             |ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── 99. null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    // MATCH each other — the semantics a plain equi-join silently drops
    // (the Fuzzy.scala class of divergence, here exercised head-on) ────
    QueryDef(
      "q_join_nullsafe",
      (s, d) => {
        val keyed = t(s, d, "orders").select(col("o_orderkey"),
          when(col("o_orderstatus") === "P", lit(null).cast("string"))
            .otherwise(col("o_orderstatus")).as("k"))
        // distinct attribute for the aggregate's key: the groupBy output
        // reuses the input exprId, so a same-name self-join is ambiguous
        val counts = keyed.groupBy(col("k").as("k2")).agg(count(lit(1)).as("n_k"))
        keyed.join(counts, col("k") <=> col("k2"))
          .select(col("o_orderkey"), col("k2").as("k"), col("n_k"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH keyed AS (SELECT o_orderkey,
             |  CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS k
             |  FROM orders),
             |counts AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k FROM keyed GROUP BY k)
             |SELECT keyed.o_orderkey, counts.k, counts.n_k
             |FROM keyed JOIN counts ON keyed.k IS NOT DISTINCT FROM counts.k
             |ORDER BY o_orderkey""".stripMargin)),

    // ── 100. TPC-H Q4 analog (order-priority checking): EXISTS
    // decorrelates to a LEFT SEMI join with a non-equi residual
    // (l_shipdate > o_orderdate) — the date-window σ prunes orders
    // BEFORE the semi probe, and the semi join short-circuits per key ──
    QueryDef(
      "q_tpch_q4",
      (s, d) => {
        val lo = lit("1997-07-01").cast("timestamp")
        val hi = lit("1997-10-01").cast("timestamp")
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ── 100b. TPC-H Q6 (forecasting revenue change): the pure-pushdown
    // scan-agg — every predicate reaches the parquet reader
    // (PushedFilters), one partial+final decimal sum, zero joins ───────
    QueryDef(
      "q_tpch_q6",
      (s, d) => {
        val lo = lit("1997-01-01").cast("timestamp")
        val hi = lit("1998-01-01").cast("timestamp")
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
          .agg(decSum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
            count(lit(1)).as("n"))
          .select(e4(col("revenue")).as("rev_e4"), col("n"))
      },
      Some("""SELECT CAST(floor(CAST(sum(CAST(l_extendedprice*l_discount
             |    AS DECIMAL(18,4))) AS DOUBLE)*10000.0 + 0.5) AS BIGINT) AS rev_e4,
             |CAST(count(*) AS BIGINT) AS n
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |  AND l_discount >= 0.05 AND l_discount <= 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // ── 100c. TPC-H Q14 analog (promotion effect): lineitem⋈part on
    // partkey (part is the broadcast dim), conditional vs total decimal
    // sums in ONE agg, the percentage division last on two exact
    // operands — identical doubles cross-engine ────────────────────────
    QueryDef(
      "q_tpch_q14",
      (s, d) => {
        val lo = lit("1997-06-01").cast("timestamp")
        val hi = lit("1997-07-01").cast("timestamp")
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
          .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
          .agg(
            decSum(when(col("p_type") === "PROMO",
                col("l_extendedprice") * (lit(1) - col("l_discount")))
              .otherwise(lit(0.0)), 4).as("promo"),
            decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("total"))
          .select(e4(lit(100.0) * col("promo") / col("total")).as("promo_pct_e4"))
      },
      Some("""SELECT CAST(floor(100.0 * promo / total * 10000.0 + 0.5) AS BIGINT)
             |  AS promo_pct_e4 FROM (
             |  SELECT
             |  CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
             |    THEN l_extendedprice*(1-l_discount) ELSE 0.0 END
             |    AS DECIMAL(18,4))) AS DOUBLE) AS promo,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount)
             |    AS DECIMAL(18,4))) AS DOUBLE) AS total
             |  FROM lineitem, part
             |  WHERE l_partkey = p_partkey
             |    AND l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00')""".stripMargin)),

    // ── 100d. TPC-H Q18 (large-volume customers): the groupBy-HAVING-
    // then-decorate shape — the qty agg runs FIRST on the narrow
    // (orderkey, quantity) projection, the >150 HAVING prunes to a few
    // thousand keys, and only those rows rejoin orders/customer.
    // Decimal qty sums, top-100 by (qty desc, orderkey) ────────────────
    QueryDef(
      "q_tpch_q18",
      (s, d) => {
        val big = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(decSum(col("l_quantity"), 2).as("qty"))
          .filter(col("qty") > 150.0)
        t(s, d, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .orderBy(col("qty").desc, col("o_orderkey"))
          .limit(100)
          .select(col("c_custkey"), col("o_orderkey"),
            fmtTs(col("o_orderdate")).as("odate"),
            e4(col("o_totalprice")).as("total_e4"),
            e4(col("qty")).as("qty_e4"))
          .orderBy(col("qty_e4").desc, col("o_orderkey"))
      },
      Some("""SELECT c_custkey, o_orderkey, odate,
             |CAST(floor(o_totalprice*10000.0 + 0.5) AS BIGINT) AS total_e4,
             |CAST(floor(qty*10000.0 + 0.5) AS BIGINT) AS qty_e4
             |FROM (
             |  SELECT c_custkey, o_orderkey,
             |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate,
             |    o_totalprice, qty
             |  FROM orders, customer,
             |    (SELECT l_orderkey,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
             |     FROM lineitem GROUP BY l_orderkey HAVING qty > 150.0) big
             |  WHERE o_orderkey = big.l_orderkey AND o_custkey = c_custkey
             |  ORDER BY qty DESC, o_orderkey LIMIT 100)
             |ORDER BY qty_e4 DESC, o_orderkey""".stripMargin)),

    // ── 101. exact triangle enumeration by degree orientation over the
    // sparsified order→part projection (undirected): wedge fan-out
    // bounded by oriented out-degree, closure by one (v,w) equi-join —
    // DuckDB replays the identical orientation and joins ───────────────
    QueryDef(
      "q_triangles",
      (s, d) => {
        val e = t(s, d, "lineitem").filter(col("l_quantity") > 45).select(
          (col("l_orderkey") % 2000).cast("long").as("src"),
          (col("l_partkey") % 2000).cast("long").as("dst"))
        graft.ext.Graph.triangles(e, "src", "dst")
          .orderBy(col("a"), col("b"), col("c"))
      },
      Some("""WITH e0 AS (SELECT DISTINCT l_orderkey % 2000 AS src,
             |    l_partkey % 2000 AS dst
             |  FROM lineitem WHERE l_quantity > 45),
             |p AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
             |  FROM e0 WHERE src <> dst),
             |d AS (SELECT node, count(*) AS deg FROM
             |  (SELECT a AS node FROM p UNION ALL SELECT b FROM p)
             |  GROUP BY node),
             |o AS (SELECT
             |  CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
             |    THEN a ELSE b END AS u,
             |  CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
             |    THEN b ELSE a END AS v
             |  FROM p JOIN d da ON da.node = p.a JOIN d db ON db.node = p.b),
             |w AS (SELECT o1.u, o1.v AS x, o2.v AS y
             |  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v)
             |SELECT CAST(least(u, x) AS BIGINT) AS a,
             |CAST(CASE WHEN u < x THEN x WHEN u > y THEN y ELSE u END AS BIGINT) AS b,
             |CAST(greatest(u, y) AS BIGINT) AS c
             |FROM w JOIN p ON w.x = p.a AND w.y = p.b
             |ORDER BY a, b, c""".stripMargin)),

    // ── 101b. multi-source BFS hop distances on the directed
    // projection, 3 hops: frontier-join/anti-join rounds vs DuckDB's
    // bounded recursive CTE with min-hop collapse ──────────────────────
    QueryDef(
      "q_bfs",
      (s, d) => {
        val e = t(s, d, "lineitem").select(
          (col("l_orderkey") % 500).cast("long").as("src"),
          (col("l_partkey") % 500).cast("long").as("dst")).distinct()
        graft.ext.Graph.bfsDepths(e, "src", "dst", Seq(0L, 1L), 3)
          .orderBy(col("node"))
      },
      Some("""WITH RECURSIVE e AS (SELECT DISTINCT l_orderkey % 500 AS src,
             |    l_partkey % 500 AS dst FROM lineitem),
             |b(node, hop) AS (
             |  SELECT * FROM (VALUES (CAST(0 AS BIGINT), 0),
             |    (CAST(1 AS BIGINT), 0)) v(node, hop)
             |  UNION
             |  SELECT e.dst, b.hop + 1 FROM b JOIN e ON b.node = e.src
             |  WHERE b.hop < 3)
             |SELECT CAST(node AS BIGINT) AS node, CAST(min(hop) AS INT) AS hop
             |FROM b GROUP BY node ORDER BY node""".stripMargin)),

    // ── 102. per-host crawl budget: ≤ 25 docs per synthesized host,
    // winners by the corpus LCG hash (stable under growth/reshuffle);
    // row_number ≤ k plans as WindowGroupLimit — map-side top-k per
    // host BEFORE the one host-keyed exchange ─────────────────────────
    QueryDef(
      "q_url_blocklist",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("url", concat(lit("https://"),
            when(pmod(col("doc_id"), lit(7)) === 0, lit("deep.sub."))
              .otherwise(lit("")),
            lit("h"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit(".example"), pmod(col("doc_id"), lit(3)).cast("string"),
            lit(".org/p/"), col("doc_id").cast("string")))
        graft.ext.Web.blockByDomain(docs, "url", "doc_id",
            Seq("example0.org", "h3.example1.org"))
          .select(col("doc_id"), graft.ext.Web.host(col("url")).as("host"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id,
             |  (CASE WHEN doc_id % 7 = 0 THEN 'deep.sub.' ELSE '' END) ||
             |  'h' || (doc_id % 5) || '.example' || (doc_id % 3) || '.org'
             |  AS host FROM documents)
             |SELECT doc_id, host FROM u
             |WHERE NOT (host = 'example0.org' OR host LIKE '%.example0.org'
             |  OR host = 'h3.example1.org' OR host LIKE '%.h3.example1.org')
             |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q_host_budget",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("url", concat(lit("https://h"), pmod(col("doc_id"), lit(7)),
            lit(".example.com/p/"), col("doc_id")))
        graft.ext.Web.hostBudget(docs, "url", "doc_id", 25)
          .select(col("doc_id"), col("host"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id,
             |  'https://h' || (doc_id % 7) || '.example.com/p/' || doc_id AS url
             |  FROM documents),
             |h AS (SELECT doc_id,
             |  regexp_extract(lower(url), '//(?:[^/?#@]*@)?([^/?#:]+)', 1) AS host
             |  FROM u),
             |r AS (SELECT doc_id, host, row_number() OVER (PARTITION BY host
             |  ORDER BY (doc_id*1103515245 + 12345) % 2147483648, doc_id) AS rn
             |  FROM h)
             |SELECT doc_id, host FROM r WHERE rn <= 25
             |ORDER BY doc_id""".stripMargin)),

    // ── 102b. interpolated bigram LM (Jelinek-Mercer λ=80), self-
    // scored: map-only zip_with bigram extraction, one (prev,cur)
    // exchange, unigram vocab broadcast — DuckDB rebuilds the identical
    // counts and the same double arithmetic per bigram ─────────────────
    QueryDef(
      "q_bigram_lm",
      (s, d) =>
        graft.ext.TextAnalysis.bigramLogProb(t(s, d, "documents"),
            "doc_id", "text", lambdaPct = 80)
          .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |w AS (SELECT doc_id, unnest(toks) AS term,
             |  generate_subscripts(toks, 1) AS pos FROM tk),
             |uni AS (SELECT term, count(*) AS c1 FROM w GROUP BY term),
             |tot AS (SELECT sum(c1) AS s FROM uni),
             |pairs AS (SELECT w1.doc_id, w1.term AS prev, w2.term AS cur
             |  FROM w w1 JOIN w w2
             |    ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1),
             |bi AS (SELECT prev, cur, count(*) AS c2 FROM pairs
             |  GROUP BY prev, cur),
             |sc AS (SELECT p.doc_id,
             |  floor(ln((80.0 * (bi.c2 / CAST(up.c1 AS DOUBLE))
             |    + 20.0 * (uc.c1 / CAST(tot.s AS DOUBLE))) / 100.0)
             |    * 1000000.0 + 0.5) AS lp6
             |  FROM pairs p
             |  JOIN bi ON p.prev = bi.prev AND p.cur = bi.cur
             |  JOIN uni up ON up.term = p.prev
             |  JOIN uni uc ON uc.term = p.cur, tot)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigram,
             |CAST(sum(lp6) AS BIGINT) AS lp_e6
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── 102b2. Kneser-Ney bigram LM (TextAnalysis.bigramLogProbKN):
    // absolute discounting + continuation-probability backoff, D=0.75.
    // The twin recomputes h(prev)=Σc₂, the distinct-neighbor counts
    // and the identical double expression tree from first principles;
    // floor(·1e6) pins the sums to int64 (q_bigram_lm discipline) ─────
    QueryDef(
      "q_bigram_kn",
      (s, d) =>
        graft.ext.TextAnalysis.bigramLogProbKN(t(s, d, "documents"),
            "doc_id", "text", discountPct = 75)
          .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |w AS (SELECT doc_id, unnest(toks) AS term,
             |  generate_subscripts(toks, 1) AS pos FROM tk),
             |pairs AS (SELECT w1.doc_id, w1.term AS prev, w2.term AS cur
             |  FROM w w1 JOIN w w2
             |    ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1),
             |bi AS (SELECT prev, cur, count(*) AS c2 FROM pairs
             |  GROUP BY prev, cur),
             |hist AS (SELECT prev, sum(c2) AS h, count(*) AS n1fw
             |  FROM bi GROUP BY prev),
             |cont AS (SELECT cur, count(*) AS nc FROM bi GROUP BY cur),
             |ty AS (SELECT count(*) AS nt FROM bi),
             |sc AS (SELECT p.doc_id,
             |  floor(ln((CAST(bi.c2 AS DOUBLE) - 0.75) / CAST(hist.h AS DOUBLE)
             |    + ((0.75 * CAST(hist.n1fw AS DOUBLE) / CAST(hist.h AS DOUBLE))
             |       * (CAST(cont.nc AS DOUBLE) / CAST(ty.nt AS DOUBLE))))
             |    * 1000000.0 + 0.5) AS lp6
             |  FROM pairs p
             |  JOIN bi ON p.prev = bi.prev AND p.cur = bi.cur
             |  JOIN hist ON hist.prev = p.prev
             |  JOIN cont ON cont.cur = p.cur, ty)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigram,
             |CAST(sum(lp6) AS BIGINT) AS lp_e6
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── 102b3. Lexical-diversity profile (TextAnalysis.lexicalStats):
    // tokens, types, hapax count, TTR, Shannon unigram entropy. TTR is
    // one integer division; entropy is an int64 sum of per-term
    // floor-pinned contributions — cross-engine bit parity ────────────
    QueryDef(
      "q_lexical_stats",
      (s, d) =>
        graft.ext.TextAnalysis.lexicalStats(t(s, d, "documents"),
            "doc_id", "text")
          .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |w AS (SELECT doc_id, unnest(toks) AS term, len(toks) AS n FROM tk),
             |tf AS (SELECT doc_id, term, any_value(n) AS n, count(*) AS c
             |  FROM w GROUP BY doc_id, term)
             |SELECT doc_id,
             |CAST(any_value(n) AS BIGINT) AS n_tok,
             |CAST(count(*) AS BIGINT) AS n_types,
             |CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
             |CAST(count(*) AS DOUBLE) / CAST(any_value(n) AS DOUBLE) AS ttr,
             |CAST(sum(floor((0.0 - (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             |  * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0 + 0.5))
             |  AS BIGINT) AS entropy_e6
             |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── 102c. Gopher document-quality rules over docs salted with
    // hash-spam (%7) and ellipsis-spam (%11) tails: every ratio gate
    // decided by integer cross-multiplication — both engines compute
    // the identical cells and the identical keep flag ─────────────────
    QueryDef(
      "q_gopher_rules",
      (s, d) => {
        val hashTail = " ## ## ## ## ## ## ## ## ## ## ## ##"
        val dotsTail = " ..." * 18
        val docs = t(s, d, "documents")
          .withColumn("t2", concat(col("text"),
            when(pmod(col("doc_id"), lit(7)) === 0, lit(hashTail)).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(11)) === 0, lit(dotsTail)).otherwise(lit(""))))
        graft.ext.TextAnalysis.gopherRules(docs, "doc_id", "t2", minWords = 40L)
          .orderBy(col("doc_id"))
      },
      Some(("""WITH u AS (SELECT doc_id, text ||
             |  CASE WHEN doc_id % 7 = 0
             |    THEN ' ## ## ## ## ## ## ## ## ## ## ## ##' ELSE '' END ||
             |  CASE WHEN doc_id % 11 = 0
             |    THEN repeat(' ...', 18) ELSE '' END AS t
             |  FROM documents),
             |c AS (SELECT doc_id, t, string_split(t, ' ') AS toks FROM u),
             |m AS (SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_words,
             |  CAST(length(t) - (len(toks) - 1) AS BIGINT) AS n_chars,
             |  CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) AS n_hash,
             |  CAST((length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT)
             |    AS n_ellipsis,
             |  CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
             |    AS BIGINT) AS n_alpha_words,
             |  CAST(len(list_filter(['the','be','to','of','and','that',
             |    'have','with'], sw -> list_contains(toks, sw))) AS BIGINT)
             |    AS n_stop
             |  FROM c)
             |SELECT doc_id, n_words, n_chars, n_hash, n_ellipsis,
             |n_alpha_words, n_stop,
             |(n_words >= 40 AND n_words <= 100000
             |  AND 3*n_words <= n_chars AND n_chars <= 10*n_words
             |  AND 10*n_hash < n_words
             |  AND 10*n_ellipsis < 3*n_words
             |  AND 5*n_alpha_words >= 4*n_words
             |  AND n_stop >= 2) AS kept
             |FROM m ORDER BY doc_id""").stripMargin)),

    // ── 102c2. Gopher repetition signals (Rae et al. 2021 §A1.1, the
    // repetition half of MassiveText filtering) over docs re-lined at
    // ' table ', with a duplicated cookie line planted on %5 docs and a
    // 4×-repeated phrase tail on %7 docs: dup-unit counts/chars, top
    // 2/3/4-gram char mass, dup 5/10-gram char mass — every integer
    // cell replayed gram-for-gram in DuckDB ───────────────────────────
    QueryDef(
      "q_repetition",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("t2", concat(
            regexp_replace(col("text"), " table ", "\n"),
            when(pmod(col("doc_id"), lit(5)) === 0,
              lit("\nthis site uses cookies\nthis site uses cookies"))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(7)) === 0,
              lit(" click here click here click here click here"))
              .otherwise(lit(""))))
        graft.ext.TextAnalysis.repetitionSignals(docs, "doc_id", "t2")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |  regexp_replace(text, ' table ', chr(10), 'g')
             |  || (CASE WHEN doc_id % 5 = 0
             |      THEN chr(10) || 'this site uses cookies'
             |        || chr(10) || 'this site uses cookies' ELSE '' END)
             |  || (CASE WHEN doc_id % 7 = 0
             |      THEN ' click here click here click here click here'
             |      ELSE '' END) AS t FROM documents),
             |tk AS (SELECT doc_id, t, string_split(t, ' ') AS toks FROM d),
             |u AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS unit
             |  FROM d),
             |uf AS (SELECT doc_id, unit, count(*) AS c FROM u
             |  WHERE length(unit) >= 1 GROUP BY doc_id, unit),
             |ua AS (SELECT doc_id, sum(c) AS n_units, sum(c-1) AS dup_units,
             |  sum(c*length(unit)) AS unit_chars,
             |  sum((c-1)*length(unit)) AS dup_unit_chars
             |  FROM uf GROUP BY doc_id),
             |gi2 AS (SELECT doc_id, toks,
             |  CAST(unnest(range(1, len(toks))) AS INT) AS i FROM tk),
             |f2 AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
             |  count(*) AS c FROM gi2 GROUP BY doc_id, gram),
             |m2 AS (SELECT doc_id, max(c) AS topc FROM f2 GROUP BY doc_id),
             |t2 AS (SELECT f2.doc_id, any_value(m2.topc) AS top_cnt,
             |  max(c*length(gram)) AS top_chars
             |  FROM f2 JOIN m2 ON f2.doc_id = m2.doc_id AND f2.c = m2.topc
             |  GROUP BY f2.doc_id),
             |gi3 AS (SELECT doc_id, toks,
             |  CAST(unnest(range(1, len(toks)-1)) AS INT) AS i FROM tk),
             |f3 AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram,
             |  count(*) AS c FROM gi3 GROUP BY doc_id, gram),
             |m3 AS (SELECT doc_id, max(c) AS topc FROM f3 GROUP BY doc_id),
             |t3 AS (SELECT f3.doc_id, any_value(m3.topc) AS top_cnt,
             |  max(c*length(gram)) AS top_chars
             |  FROM f3 JOIN m3 ON f3.doc_id = m3.doc_id AND f3.c = m3.topc
             |  GROUP BY f3.doc_id),
             |gi4 AS (SELECT doc_id, toks,
             |  CAST(unnest(range(1, len(toks)-2)) AS INT) AS i FROM tk),
             |f4 AS (SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram,
             |  count(*) AS c FROM gi4 GROUP BY doc_id, gram),
             |m4 AS (SELECT doc_id, max(c) AS topc FROM f4 GROUP BY doc_id),
             |t4 AS (SELECT f4.doc_id, any_value(m4.topc) AS top_cnt,
             |  max(c*length(gram)) AS top_chars
             |  FROM f4 JOIN m4 ON f4.doc_id = m4.doc_id AND f4.c = m4.topc
             |  GROUP BY f4.doc_id),
             |gi5 AS (SELECT doc_id, toks,
             |  CAST(unnest(range(1, len(toks)-3)) AS INT) AS i FROM tk),
             |f5 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram,
             |  count(*) AS c FROM gi5 GROUP BY doc_id, gram),
             |d5 AS (SELECT doc_id, sum(CASE WHEN c >= 2
             |  THEN c*length(gram) ELSE 0 END) AS dchars
             |  FROM f5 GROUP BY doc_id),
             |gi10 AS (SELECT doc_id, toks,
             |  CAST(unnest(range(1, len(toks)-8)) AS INT) AS i FROM tk),
             |f10 AS (SELECT doc_id, array_to_string(toks[i:i+9], ' ') AS gram,
             |  count(*) AS c FROM gi10 GROUP BY doc_id, gram),
             |d10 AS (SELECT doc_id, sum(CASE WHEN c >= 2
             |  THEN c*length(gram) ELSE 0 END) AS dchars
             |  FROM f10 GROUP BY doc_id)
             |SELECT d.doc_id,
             |CAST(length(d.t) AS BIGINT) AS n_chars,
             |CAST(coalesce(ua.n_units, 0) AS BIGINT) AS n_units,
             |CAST(coalesce(ua.dup_units, 0) AS BIGINT) AS dup_units,
             |CAST(coalesce(ua.unit_chars, 0) AS BIGINT) AS unit_chars,
             |CAST(coalesce(ua.dup_unit_chars, 0) AS BIGINT) AS dup_unit_chars,
             |CAST(coalesce(t2.top_cnt, 0) AS BIGINT) AS top2_cnt,
             |CAST(coalesce(t2.top_chars, 0) AS BIGINT) AS top2_chars,
             |CAST(coalesce(t3.top_cnt, 0) AS BIGINT) AS top3_cnt,
             |CAST(coalesce(t3.top_chars, 0) AS BIGINT) AS top3_chars,
             |CAST(coalesce(t4.top_cnt, 0) AS BIGINT) AS top4_cnt,
             |CAST(coalesce(t4.top_chars, 0) AS BIGINT) AS top4_chars,
             |CAST(coalesce(d5.dchars, 0) AS BIGINT) AS dup5_chars,
             |CAST(coalesce(d10.dchars, 0) AS BIGINT) AS dup10_chars
             |FROM d
             |LEFT JOIN ua ON ua.doc_id = d.doc_id
             |LEFT JOIN t2 ON t2.doc_id = d.doc_id
             |LEFT JOIN t3 ON t3.doc_id = d.doc_id
             |LEFT JOIN t4 ON t4.doc_id = d.doc_id
             |LEFT JOIN d5 ON d5.doc_id = d.doc_id
             |LEFT JOIN d10 ON d10.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ── 102d. C4 line-level cleaning over multi-line docs synthesized
    // by sentence-splitting the word soup at ' table ' (plus a
    // boilerplate line on %5 docs and a code brace on %13 docs): line
    // predicate and page gates replayed rule-for-rule in DuckDB ───────
    // ── 104b. cross-corpus exact line dedup (C4 §2.1 at line
    // granularity): boilerplate planted on every 5th doc survives only
    // in the lowest doc; first-occurrence winner = min (doc, pos)
    // struct, one md5-keyed shuffle + one doc-keyed reassembly ─────────
    QueryDef(
      "q_line_dedup",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("t2", concat(
            regexp_replace(col("text"), " table ", "\n"),
            when(pmod(col("doc_id"), lit(5)) === 0,
              lit("\nthis site uses cookies accept to continue"))
              .otherwise(lit(""))))
        graft.ext.Dedup.lineDedup(docs, "doc_id", "t2")
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id,
             |  string_split(regexp_replace(text, ' table ', chr(10), 'g')
             |    || (CASE WHEN doc_id % 5 = 0
             |        THEN chr(10) || 'this site uses cookies accept to continue'
             |        ELSE '' END), chr(10)) AS ls FROM documents),
             |l2 AS (SELECT doc_id,
             |  CAST(unnest(range(0, len(ls))) AS INT) AS pos, ls FROM u),
             |l3 AS (SELECT doc_id, pos, ls[pos + 1] AS line FROM l2),
             |dd AS (SELECT doc_id, pos,
             |  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos)
             |    AS rn FROM l3 WHERE length(line) >= 1),
             |k AS (SELECT l3.doc_id, l3.pos, l3.line,
             |  (length(l3.line) < 1 OR dd.rn = 1) AS kept
             |  FROM l3 LEFT JOIN dd
             |  ON dd.doc_id = l3.doc_id AND dd.pos = l3.pos)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
             |CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
             |  AS n_dropped,
             |coalesce(string_agg(line, chr(10) ORDER BY pos)
             |  FILTER (WHERE kept), '') AS text_kept
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // sentence-granularity cross-corpus dedup (Dedup.sentenceDedup):
    // periods planted by replace; a boilerplate sentence planted on %5
    // docs dedups to its first holder; twin = the q_line_dedup
    // first-occurrence SQL over the sentence segmentation ─────────────
    QueryDef(
      "q_sentence_dedup",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("t2", concat(
            replace(col("text"), lit(" the "), lit(". The ")), lit("."),
            when(pmod(col("doc_id"), lit(5)) === 0,
              lit(" This site uses cookies.")).otherwise(lit(""))))
        graft.ext.Dedup.sentenceDedup(docs, "doc_id", "t2")
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id,
             |  replace(text, ' the ', '. The ') || '.' ||
             |  (CASE WHEN doc_id % 5 = 0 THEN ' This site uses cookies.'
             |        ELSE '' END) AS x FROM documents),
             |gu AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(x,
             |  '\be\.g\.', 'e' || chr(1) || 'g' || chr(1), 'g'),
             |  '\bi\.e\.', 'i' || chr(1) || 'e' || chr(1), 'g'),
             |  '\b(Dr|Mrs|Mr|Ms|Prof|St|Jr|Sr|vs|etc)\.',
             |  '\1' || chr(1), 'g') AS x FROM u),
             |sl AS (SELECT doc_id, list_filter(list_transform(
             |  regexp_extract_all(x, '[^.!?]+[.!?]+|[^.!?]+'),
             |  s -> replace(trim(s), chr(1), '.')), s -> s <> '') AS ls FROM gu),
             |l2 AS (SELECT doc_id,
             |  CAST(unnest(range(0, len(ls))) AS INT) AS pos, ls FROM sl),
             |l3 AS (SELECT doc_id, pos, ls[pos + 1] AS line FROM l2),
             |dd AS (SELECT doc_id, pos,
             |  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos)
             |    AS rn FROM l3 WHERE length(line) >= 1),
             |k AS (SELECT l3.doc_id, l3.pos, l3.line,
             |  (length(l3.line) < 1 OR dd.rn = 1) AS kept
             |  FROM l3 LEFT JOIN dd
             |  ON dd.doc_id = l3.doc_id AND dd.pos = l3.pos)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents,
             |CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
             |  AS n_dropped,
             |coalesce(string_agg(line, ' ' ORDER BY pos)
             |  FILTER (WHERE kept), '') AS text_kept
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q_c4_lines",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("t2", concat(
            regexp_replace(col("text"), " table ", ".\n"),
            when(pmod(col("doc_id"), lit(5)) === 0,
              lit("\nthis page uses javascript and cookie consent."))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(13)) === 0, lit(" {")).otherwise(lit(""))))
        graft.ext.TextAnalysis.c4CleanLines(docs, "doc_id", "t2")
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id,
             |  replace(text, ' table ', '.' || chr(10)) ||
             |  CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
             |    'this page uses javascript and cookie consent.' ELSE '' END ||
             |  CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END AS t
             |  FROM documents),
             |l AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM u),
             |k AS (SELECT doc_id, t, lines,
             |  list_filter(lines, x -> len(string_split(x, ' ')) >= 3
             |    AND regexp_matches(x, '[.!?"]$')
             |    AND NOT contains(lower(x), 'javascript')
             |    AND NOT contains(lower(x), 'cookie')) AS keptl
             |  FROM l)
             |SELECT doc_id,
             |CAST(len(lines) AS BIGINT) AS n_lines,
             |CAST(len(keptl) AS BIGINT) AS n_kept,
             |coalesce(array_to_string(keptl, chr(10)), '') AS text_clean,
             |(NOT contains(t, '{') AND NOT contains(lower(t), 'lorem ipsum'))
             |  AS doc_kept
             |FROM k ORDER BY doc_id""".stripMargin)),

    // ── 103. top-3 characteristic terms per doc by tf-idf (keyword
    // extraction): row_number ≤ k plans as WindowGroupLimit (map-side
    // per-doc top-k before the exchange); (score desc, term) ranking
    // is deterministic cross-engine on identical count inputs ─────────
    QueryDef(
      "q_top_terms",
      (s, d) =>
        graft.ext.Search.topTerms(t(s, d, "documents"), "doc_id", "text", 3)
          .orderBy(col("doc_id"), col("rank")),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
             |tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM
             |  (SELECT doc_id, unnest(toks) AS term FROM tk)
             |  GROUP BY doc_id, term),
             |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc
             |  GROUP BY term),
             |sc AS (SELECT doc_id, term,
             |  tf * (ln(CAST(n.n + 1 AS DOUBLE) / (dfs.df + 1)) + 1.0) AS score
             |  FROM tfc JOIN dfs USING (term), n),
             |r AS (SELECT doc_id, term, score, row_number() OVER
             |  (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
             |  FROM sc)
             |SELECT doc_id, term, CAST(rank AS INT) AS rank,
             |CAST(floor(score*1000000.0 + 0.5) AS BIGINT) AS score_e6
             |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // ── 103b. reciprocal-rank fusion of two single-term BM25 rankings
    // (Cormack 2009): integer 10⁶ div (60 + rank) contributions — the
    // fusion layer every hybrid (lexical + vector) retrieval stack
    // runs; DuckDB replays both rankings and the integer fold ─────────
    QueryDef(
      "q_rrf",
      (s, d) => {
        val docs = t(s, d, "documents")
        val a = graft.ext.Search.bm25(docs, "doc_id", "text", Seq("order"))
        val b = graft.ext.Search.bm25(docs, "doc_id", "text", Seq("sort"))
        graft.ext.Search.rrfFuse(Seq(a, b), "doc_id", "score_e6")
          .orderBy(col("rrf_e6").desc, col("id"))
          .limit(50)
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(len(toks)) AS BIGINT) AS sdl FROM tk),
             |tfa AS (SELECT doc_id,
             |  CAST(len(list_filter(toks, w -> w = 'order')) AS BIGINT) AS tf,
             |  CAST(len(toks) AS BIGINT) AS dl FROM tk),
             |tfa2 AS (SELECT * FROM tfa WHERE tf > 0),
             |dfa AS (SELECT CAST(count(*) AS BIGINT) AS df FROM tfa2),
             |sca AS (SELECT doc_id,
             |  CAST(floor(ln((CAST(st.n AS DOUBLE) - dfa.df + 0.5)/(dfa.df + 0.5) + 1.0)
             |    * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl
             |      / (CAST(st.sdl AS DOUBLE)/st.n)))
             |    * 1000000.0 + 0.5) AS BIGINT) AS s6
             |  FROM tfa2, dfa, st),
             |ra AS (SELECT doc_id, row_number() OVER (ORDER BY s6 DESC, doc_id) AS rk
             |  FROM sca),
             |tfb AS (SELECT doc_id,
             |  CAST(len(list_filter(toks, w -> w = 'sort')) AS BIGINT) AS tf,
             |  CAST(len(toks) AS BIGINT) AS dl FROM tk),
             |tfb2 AS (SELECT * FROM tfb WHERE tf > 0),
             |dfb AS (SELECT CAST(count(*) AS BIGINT) AS df FROM tfb2),
             |scb AS (SELECT doc_id,
             |  CAST(floor(ln((CAST(st.n AS DOUBLE) - dfb.df + 0.5)/(dfb.df + 0.5) + 1.0)
             |    * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl
             |      / (CAST(st.sdl AS DOUBLE)/st.n)))
             |    * 1000000.0 + 0.5) AS BIGINT) AS s6
             |  FROM tfb2, dfb, st),
             |rb AS (SELECT doc_id, row_number() OVER (ORDER BY s6 DESC, doc_id) AS rk
             |  FROM scb),
             |u AS (SELECT doc_id, 1000000 // (60 + rk) AS c FROM ra
             |  UNION ALL SELECT doc_id, 1000000 // (60 + rk) FROM rb)
             |SELECT doc_id AS id, CAST(sum(c) AS BIGINT) AS rrf_e6
             |FROM u GROUP BY doc_id ORDER BY rrf_e6 DESC, id LIMIT 50""".stripMargin)),

    // ── 104. TPC-H Q7 (volume shipping): the two-nation trade-flow
    // report — nation dims broadcast TWICE under different role names,
    // the symmetric pair predicate closes after both decorations, one
    // group per (supplier-nation, customer-nation, ship-year) ──────────
    QueryDef(
      "q_tpch_q7",
      (s, d) => {
        val lo = lit("1996-01-01").cast("timestamp")
        val hi = lit("1998-01-01").cast("timestamp")
        val n1 = t(s, d, "nation")
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        val n2 = t(s, d, "nation")
          .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
        t(s, d, "supplier").join(n1, col("s_nationkey") === col("s_nkey"))
          .join(t(s, d, "lineitem")
              .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi),
            col("s_suppkey") === col("l_suppkey"))
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(n2, col("c_nationkey") === col("c_nkey"))
          .filter(
            (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
            (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
          .select(col("supp_nation"), col("cust_nation"), col("l_year"),
            e4(col("revenue")).as("rev_e4"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |CAST(year(l_shipdate) AS BIGINT) AS l_year,
             |CAST(floor(CAST(sum(CAST(l_extendedprice*(1-l_discount)
             |    AS DECIMAL(18,4))) AS DOUBLE)*10000.0 + 0.5) AS BIGINT) AS rev_e4
             |FROM supplier, lineitem, orders, customer, nation n1, nation n2
             |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
             |  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
             |  AND c_nationkey = n2.n_nationkey
             |  AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
             |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
             |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY supp_nation, cust_nation, l_year
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // ── 104b. TPC-H Q8 (national market share): the conditional-share
    // agg — ECONOMY parts sold into ASIA customers, NATION_3's slice of
    // each order-year's volume; both sums exact-decimal in ONE agg, the
    // share division last on identical doubles (q_tpch_q14 pattern) ────
    QueryDef(
      "q_tpch_q8",
      (s, d) => {
        val lo = lit("1996-01-01").cast("timestamp")
        val hi = lit("1998-01-01").cast("timestamp")
        val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
        t(s, d, "part").filter(col("p_type") === "ECONOMY")
          .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"))
          .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, d, "nation")
              .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")),
            col("s_nationkey") === col("s_nkey"))
          .join(t(s, d, "orders")
              .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(t(s, d, "nation")
              .select(col("n_nationkey").as("c_nkey"), col("n_regionkey").as("c_rkey")),
            col("c_nationkey") === col("c_nkey"))
          .join(t(s, d, "region").filter(col("r_name") === "ASIA"),
            col("c_rkey") === col("r_regionkey"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(
            decSum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0)), 4)
              .as("nat_vol"),
            decSum(vol, 4).as("tot_vol"))
          .select(col("o_year"),
            e4(col("nat_vol") / col("tot_vol")).as("mkt_share_e4"))
          .orderBy(col("o_year"))
      },
      Some("""SELECT o_year,
             |CAST(floor(nat_vol / tot_vol * 10000.0 + 0.5) AS BIGINT) AS mkt_share_e4
             |FROM (
             |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |  CAST(sum(CAST(CASE WHEN n1.n_name = 'NATION_3'
             |    THEN l_extendedprice*(1-l_discount) ELSE 0.0 END
             |    AS DECIMAL(18,4))) AS DOUBLE) AS nat_vol,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount)
             |    AS DECIMAL(18,4))) AS DOUBLE) AS tot_vol
             |  FROM part, lineitem, supplier, nation n1, orders, customer,
             |    nation n2, region
             |  WHERE p_type = 'ECONOMY' AND p_partkey = l_partkey
             |    AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
             |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
             |    AND c_nationkey = n2.n_nationkey
             |    AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
             |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |  GROUP BY o_year)
             |ORDER BY o_year""".stripMargin)),

    // ── 104c. TPC-H Q9 analog (product-type profit): widget-line
    // revenue by supplier nation and order year (the testdata carries no
    // partsupp, so profit omits the supplycost term — revenue-only) ────
    QueryDef(
      "q_tpch_q9",
      (s, d) =>
        t(s, d, "part").filter(col("p_name").like("%widget%"))
          .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"))
          .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("profit"))
          .select(col("nation"), col("o_year"), e4(col("profit")).as("profit_e4"))
          .orderBy(col("nation"), col("o_year").desc),
      Some("""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |CAST(floor(CAST(sum(CAST(l_extendedprice*(1-l_discount)
             |    AS DECIMAL(18,4))) AS DOUBLE)*10000.0 + 0.5) AS BIGINT) AS profit_e4
             |FROM part, lineitem, supplier, nation, orders
             |WHERE p_name LIKE '%widget%' AND p_partkey = l_partkey
             |  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
             |  AND l_orderkey = o_orderkey
             |GROUP BY n_name, o_year ORDER BY nation, o_year DESC""".stripMargin)),

    // ── 104d. TPC-H Q12 analog (late-shipment priority): ship-lag
    // replaces the missing commit/receipt dates — lines shipped > 90
    // days after order date in 1997, split urgent vs not per return
    // flag; conditional integer counts in one agg ─────────────────────
    QueryDef(
      "q_tpch_q12",
      (s, d) => {
        val lo = lit("1997-01-01").cast("timestamp")
        val hi = lit("1998-01-01").cast("timestamp")
        t(s, d, "orders")
          .join(t(s, d, "lineitem")
              .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi),
            col("o_orderkey") === col("l_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .groupBy(col("l_returnflag"))
          .agg(
            sum(when(col("o_orderpriority") === "1-URGENT" ||
                col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when(col("o_orderpriority") =!= "1-URGENT" &&
                col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
              .as("low_line_count"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             |  THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM orders, lineitem
             |WHERE o_orderkey = l_orderkey
             |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ── 104e. TPC-H Q13 analog (customer order distribution): LEFT
    // join so zero-order customers survive into the c_count=0 bucket,
    // the filter lives in the JOIN condition (not WHERE — the classic
    // outer-join trap), then a second agg over the first's output ──────
    QueryDef(
      "q_tpch_q13",
      (s, d) =>
        t(s, d, "customer")
          .join(t(s, d, "orders").filter(col("o_orderpriority") =!= "5-LOW"),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc),
      Some("""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
             |FROM (
             |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
             |  GROUP BY c_custkey)
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ── 105. TPC-H Q2 analog (minimum-cost supplier): the correlated-
    // min decorrelation — per-(part, supplier) unit price from lineitem
    // (no partsupp in the testdata), per-part min via a re-grouped
    // twin joined back on DOUBLE equality (both engines derive the
    // same IEEE division, so the min is bit-identical) ─────────────────
    QueryDef(
      "q_tpch_q2",
      (s, d) => {
        val eur = t(s, d, "supplier")
          .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
          .join(t(s, d, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
        val cost = t(s, d, "part")
          .filter(col("p_type") === "STANDARD")
          .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"))
          .join(eur, col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("p_partkey"), col("s_suppkey"), col("s_name"),
            col("s_acctbal"), col("n_name"))
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
        val mins = cost.groupBy(col("p_partkey").as("mk"))
          .agg(min(col("cost")).as("mincost"))
        cost.join(mins, col("p_partkey") === col("mk") &&
            col("cost") === col("mincost"))
          .select(e4(col("s_acctbal")).as("bal_e4"), col("s_name"), col("n_name"),
            col("p_partkey"), e4(col("cost")).as("cost_e4"))
          .orderBy(col("bal_e4").desc, col("s_name"), col("n_name"),
            col("p_partkey"))
      },
      Some("""WITH cost AS (
             |  SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name,
             |    min(l_extendedprice / l_quantity) AS cost
             |  FROM part, lineitem, supplier, nation, region
             |  WHERE p_type = 'STANDARD'
             |    AND p_partkey = l_partkey AND l_suppkey = s_suppkey
             |    AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |    AND r_name = 'EUROPE'
             |  GROUP BY 1, 2, 3, 4, 5)
             |SELECT CAST(floor(s_acctbal*10000.0 + 0.5) AS BIGINT) AS bal_e4,
             |s_name, n_name, p_partkey,
             |CAST(floor(cost*10000.0 + 0.5) AS BIGINT) AS cost_e4
             |FROM cost
             |WHERE cost = (SELECT min(cost) FROM cost c2
             |  WHERE c2.p_partkey = cost.p_partkey)
             |ORDER BY bal_e4 DESC, s_name, n_name, p_partkey""".stripMargin)),

    // ── 105b. TPC-H Q11 analog (important stock): part value from
    // EUROPE-supplied lineitem revenue, kept when above 1/1000 of the
    // scope total — the global scalar rides a broadcast single-row
    // cross join, both threshold operands identical doubles ────────────
    QueryDef(
      "q_tpch_q11",
      (s, d) => {
        val eur = t(s, d, "supplier")
          .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
          .join(t(s, d, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"))
        val value = t(s, d, "lineitem")
          .join(eur, col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"))
          .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("value"))
        val total = value.agg(sum(col("value").cast(DecimalType(18, 4)))
          .cast("double").as("total"))
        value.crossJoin(broadcast(total))
          .filter(col("value") > col("total") * 0.001)
          .select(col("l_partkey"), e4(col("value")).as("value_e4"))
          .orderBy(col("value_e4").desc, col("l_partkey"))
      },
      Some("""WITH value AS (
             |  SELECT l_partkey,
             |    CAST(sum(CAST(l_extendedprice*(1-l_discount)
             |      AS DECIMAL(18,4))) AS DOUBLE) AS value
             |  FROM lineitem, supplier, nation, region
             |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
             |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
             |  GROUP BY l_partkey)
             |SELECT l_partkey,
             |CAST(floor(value*10000.0 + 0.5) AS BIGINT) AS value_e4
             |FROM value
             |WHERE value > (SELECT CAST(sum(CAST(value AS DECIMAL(18,4)))
             |  AS DOUBLE) FROM value) * 0.001
             |ORDER BY value_e4 DESC, l_partkey""".stripMargin)),

    // ── 105c. TPC-H Q15 (top supplier): quarter revenue per supplier,
    // winners = revenue equal to the single-row broadcast max — exact-
    // decimal sums make the double equality safe cross-engine ──────────
    QueryDef(
      "q_tpch_q15",
      (s, d) => {
        val lo = lit("1997-01-01").cast("timestamp")
        val hi = lit("1997-04-01").cast("timestamp")
        val rev = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
          .groupBy(col("l_suppkey"))
          .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("total_revenue"))
        val top = rev.agg(max(col("total_revenue")).as("maxrev"))
        t(s, d, "supplier")
          .join(rev, col("s_suppkey") === col("l_suppkey"))
          .crossJoin(broadcast(top))
          .filter(col("total_revenue") === col("maxrev"))
          .select(col("s_suppkey"), col("s_name"),
            e4(col("total_revenue")).as("rev_e4"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |    CAST(sum(CAST(l_extendedprice*(1-l_discount)
             |      AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name,
             |CAST(floor(total_revenue*10000.0 + 0.5) AS BIGINT) AS rev_e4
             |FROM supplier, rev
             |WHERE s_suppkey = l_suppkey
             |  AND total_revenue = (SELECT max(total_revenue) FROM rev)
             |ORDER BY s_suppkey""".stripMargin)),

    // ── 105d. TPC-H Q16 analog (parts/supplier relationship): distinct
    // supplier count per (brand, type, size) over the observed lineitem
    // pairs, negative-balance suppliers excluded by ANTI join (the
    // NOT IN subquery shape), Brand#5 / PROMO / size-set σ on part ─────
    QueryDef(
      "q_tpch_q16",
      (s, d) => {
        val sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35)
        val badSupp = t(s, d, "supplier").filter(col("s_acctbal") < 0)
          .select(col("s_suppkey").as("bad_key"))
        t(s, d, "part")
          .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(sizes: _*))
          .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"))
          .join(badSupp, col("l_suppkey") === col("bad_key"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
             |CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
             |FROM part, lineitem
             |WHERE p_partkey = l_partkey
             |  AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
             |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
             |    WHERE s_acctbal < 0)
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // ── 106. TPC-H Q17 (small-quantity-order revenue): the correlated
    // per-part average decorrelates to a groupBy twin joined back;
    // the 0.2·avg threshold is the same double in both engines because
    // avg is computed as exact-decimal-sum / count, division last ──────
    QueryDef(
      "q_tpch_q17",
      (s, d) => {
        val small = t(s, d, "part").filter(col("p_type") === "SMALL")
          .select(col("p_partkey"))
        val li = t(s, d, "lineitem")
          .join(small, col("l_partkey") === col("p_partkey"))
        val avgq = li.groupBy(col("l_partkey").as("ak"))
          .agg((decSum(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"))
        li.join(avgq, col("l_partkey") === col("ak"))
          .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
          .agg(decSum(col("l_extendedprice"), 2).as("total"))
          .select(e4(col("total") / 7.0).as("avg_yearly_e4"))
      },
      Some("""WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
             |  FROM lineitem, part
             |  WHERE l_partkey = p_partkey AND p_type = 'SMALL'),
             |avgq AS (SELECT l_partkey AS ak,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             |    AS avg_qty
             |  FROM li GROUP BY 1)
             |SELECT CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             |  AS DOUBLE) / 7.0 * 10000.0 + 0.5) AS BIGINT) AS avg_yearly_e4
             |FROM li, avgq
             |WHERE l_partkey = ak AND l_quantity < 0.2 * avg_qty""".stripMargin)),

    // ── 106b. TPC-H Q19 analog (discounted revenue, OR-of-ANDs): three
    // brand/size/quantity predicate blocks OR-ed inside ONE join —
    // Catalyst extracts the common l_partkey = p_partkey equi-key and
    // keeps the disjunction as a residual, no cartesian fallback ───────
    QueryDef(
      "q_tpch_q19",
      (s, d) => {
        val b1 = col("p_brand") === "Brand#1" && col("p_size") <= 25 &&
          col("l_quantity") >= 1 && col("l_quantity") <= 20
        val b2 = col("p_brand") === "Brand#2" && col("p_size") <= 30 &&
          col("l_quantity") >= 10 && col("l_quantity") <= 30
        val b3 = col("p_brand") === "Brand#3" && col("p_size") <= 40 &&
          col("l_quantity") >= 20 && col("l_quantity") <= 40
        t(s, d, "lineitem")
          .join(t(s, d, "part"),
            col("l_partkey") === col("p_partkey") && (b1 || b2 || b3))
          .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"), count(lit(1)).as("n"))
          .select(e4(col("revenue")).as("rev_e4"), col("n"))
      },
      Some("""SELECT CAST(floor(CAST(sum(CAST(l_extendedprice*(1-l_discount)
             |    AS DECIMAL(18,4))) AS DOUBLE)*10000.0 + 0.5) AS BIGINT) AS rev_e4,
             |CAST(count(*) AS BIGINT) AS n
             |FROM lineitem, part
             |WHERE l_partkey = p_partkey AND (
             |  (p_brand = 'Brand#1' AND p_size <= 25
             |    AND l_quantity BETWEEN 1 AND 20)
             |  OR (p_brand = 'Brand#2' AND p_size <= 30
             |    AND l_quantity BETWEEN 10 AND 30)
             |  OR (p_brand = 'Brand#3' AND p_size <= 40
             |    AND l_quantity BETWEEN 20 AND 40))""".stripMargin)),

    // ── 106c. TPC-H Q20 analog (part promotion): suppliers who moved
    // > 50 units of any red part in 1997 — HAVING on the (supplier,
    // part) volume agg, then DISTINCT suppliers SEMI-join the supplier
    // dim (the nested-IN chain decorrelated bottom-up) ─────────────────
    QueryDef(
      "q_tpch_q20",
      (s, d) => {
        val lo = lit("1997-01-01").cast("timestamp")
        val hi = lit("1998-01-01").cast("timestamp")
        val red = t(s, d, "part").filter(col("p_name").like("red%"))
          .select(col("p_partkey"))
        val movers = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
          .join(red, col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(decSum(col("l_quantity"), 2).as("qty"))
          .filter(col("qty") > 50.0)
          .select(col("l_suppkey")).distinct()
        t(s, d, "supplier")
          .join(movers, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"), e4(col("s_acctbal")).as("bal_e4"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name,
             |CAST(floor(s_acctbal*10000.0 + 0.5) AS BIGINT) AS bal_e4
             |FROM supplier WHERE s_suppkey IN (
             |  SELECT l_suppkey FROM lineitem, part
             |  WHERE l_partkey = p_partkey AND p_name LIKE 'red%'
             |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |  GROUP BY l_suppkey, l_partkey
             |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 50.0)
             |ORDER BY s_suppkey""".stripMargin)),

    // ── 106d. TPC-H Q21 analog (suppliers who kept orders waiting):
    // the EXISTS + NOT-EXISTS double correlation on the SAME table —
    // semi join (another supplier contributed to the order) then anti
    // join (no OTHER supplier was late), ship-lag > 60 days standing in
    // for the missing commit/receipt dates; numwait counts l1 lines ────
    QueryDef(
      "q_tpch_q21",
      (s, d) => {
        val l1 = t(s, d, "lineitem")
          .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey"))
        val lAll = t(s, d, "lineitem")
          .select(col("l_orderkey").as("ao"), col("l_suppkey").as("asupp"))
          .distinct()
        val lLate = l1.select(col("l_orderkey").as("bo"), col("l_suppkey").as("bsupp"))
          .distinct()
        l1.join(lAll, col("l_orderkey") === col("ao") &&
            col("l_suppkey") =!= col("asupp"), "left_semi")
          .join(lLate, col("l_orderkey") === col("bo") &&
            col("l_suppkey") =!= col("bsupp"), "left_anti")
          .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
      },
      Some("""SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
             |FROM lineitem l1, orders, supplier
             |WHERE l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
             |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
             |  AND l1.l_suppkey = s_suppkey
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey
             |      AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
             |    WHERE l3.l_orderkey = l1.l_orderkey
             |      AND l3.l_suppkey <> l1.l_suppkey
             |      AND l3.l_orderkey = o3.o_orderkey AND o3.o_orderstatus = 'F'
             |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
             |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)),

    // ── 106e. TPC-H Q22 analog (global sales opportunity): nationkey
    // mod 10 stands in for the phone country code — rich (above scoped
    // positive-balance average) customers with NO orders, the scalar
    // average broadcast, the no-orders test an ANTI join ───────────────
    QueryDef(
      "q_tpch_q22",
      (s, d) => {
        val codes = Seq(0, 1, 2, 3, 4)
        val scoped = t(s, d, "customer")
          .withColumn("cntrycode", pmod(col("c_nationkey"), lit(10)).cast("long"))
          .filter(col("cntrycode").isin(codes: _*))
        val avgBal = scoped.filter(col("c_acctbal") > 0.0)
          .agg((decSum(col("c_acctbal"), 2) / count(lit(1))).as("avg_bal"))
        scoped.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(t(s, d, "orders")
              .filter(col("o_orderdate") >= lit("2000-07-01").cast("timestamp"))
              .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("cntrycode"))
          .agg(count(lit(1)).as("numcust"), moneySum(col("c_acctbal")).as("tot"))
          .select(col("cntrycode"), col("numcust"), e4(col("tot")).as("totacctbal_e4"))
          .orderBy(col("cntrycode"))
      },
      Some("""WITH scoped AS (SELECT c_custkey, c_acctbal,
             |    CAST(c_nationkey % 10 AS BIGINT) AS cntrycode
             |  FROM customer WHERE c_nationkey % 10 IN (0, 1, 2, 3, 4)),
             |ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
             |    AS DOUBLE) / count(*) AS avg_bal
             |  FROM scoped WHERE c_acctbal > 0.0)
             |SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
             |CAST(floor(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |  *10000.0 + 0.5) AS BIGINT) AS totacctbal_e4
             |FROM scoped, ab
             |WHERE c_acctbal > avg_bal
             |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
             |    AND o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
             |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)),

    // ── 107. deterministic synchronous label propagation, 3 rounds
    // over the q_pagerank projection: the (count desc, label asc)
    // argmax replaces the paper's random tie-break so DuckDB can
    // replay every round exactly (unrolled CTEs, pagerank pattern) ─────
    QueryDef(
      "q_label_prop",
      (s, d) => {
        val e = t(s, d, "lineitem").select(
          (col("l_orderkey") % 500).cast("long").as("src"),
          (col("l_partkey") % 500).cast("long").as("dst"))
        graft.ext.Graph.labelPropagation(e, "src", "dst", rounds = 3)
          .orderBy(col("node"))
      },
      Some(labelPropSql(3))),

    // ── 107b. Adamic-Adar + common-neighbor link prediction over the
    // sparse q_triangles projection: witness-blocked pair generation
    // (never all-pairs), hub witnesses capped at deg 64, per-witness
    // weight floor(10⁶/ln deg) integer-summed; top-200 predicted ───────
    QueryDef(
      "q_adamic_adar",
      (s, d) => {
        val e = t(s, d, "lineitem").filter(col("l_quantity") > 45).select(
          (col("l_orderkey") % 2000).cast("long").as("src"),
          (col("l_partkey") % 2000).cast("long").as("dst"))
        graft.ext.Graph.adamicAdar(e, "src", "dst", maxWitnessDeg = 64L)
          .orderBy(col("aa_e6").desc, col("u"), col("w"))
          .limit(200)
      },
      Some("""WITH e0 AS (SELECT DISTINCT l_orderkey % 2000 AS a,
             |    l_partkey % 2000 AS b
             |  FROM lineitem WHERE l_quantity > 45
             |    AND l_orderkey % 2000 <> l_partkey % 2000),
             |adj AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
             |deg AS (SELECT a AS v, count(*) AS deg FROM adj GROUP BY 1),
             |wit AS (SELECT adj.a AS v, adj.b AS n,
             |    CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS w6
             |  FROM adj JOIN deg ON adj.a = deg.v
             |  WHERE deg BETWEEN 2 AND 64),
             |cand AS (SELECT x.v, x.n AS u, y.n AS w, x.w6
             |  FROM wit x JOIN wit y ON x.v = y.v AND x.n < y.n)
             |SELECT CAST(u AS BIGINT) AS u, CAST(w AS BIGINT) AS w,
             |CAST(count(*) AS BIGINT) AS cn, CAST(sum(w6) AS BIGINT) AS aa_e6
             |FROM cand
             |WHERE NOT EXISTS (SELECT 1 FROM adj
             |  WHERE adj.a = cand.u AND adj.b = cand.w)
             |GROUP BY u, w ORDER BY aa_e6 DESC, u, w LIMIT 200""".stripMargin))
  )

  // duplicate names would silently shadow earlier definitions in the
  // map-based driver contract (it happened once: q_gt_roh/q_gt_mendel)
  // — fail loudly at load instead
  locally {
    val dups = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
