package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Plan properties the 100 TB design depends on (pushdown reaches the
  * scan, small sides broadcast, top-k avoids full sort, bounded
  * shuffles, no cartesian): each declared query is built at sf0.01 with
  * AQE on and its formatted physical plan is checked against one pinned
  * predicate. A failure shows the first 40 plan lines. */
class PlanCheckSpec extends SparkTestBase with BeforeAndAfterAll {
  private val sfDir = "/root/testdata/sf0.01"
  private var aqeBefore: Option[String] = None

  override def beforeAll(): Unit = {
    super.beforeAll()
    aqeBefore = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  override def afterAll(): Unit = {
    aqeBefore match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
    super.afterAll()
  }

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def head40(p: String): String = p.linesIterator.take(40).mkString("\n")

  private val checks: Seq[(String, String, String => Boolean)] = Seq(
    ("q_filter_predicate", "filters pushed to parquet scan",
      p => p.contains("PushedFilters: [IsNotNull(l_quantity)") || p.contains("GreaterThan(l_quantity,30")),
    ("q_filter_predicate", "column-pruned read schema",
      p => !p.contains("l_comment") && p.contains("ReadSchema")),
    ("q_join_broadcast", "dimension side broadcast",
      p => p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange")),
    ("q_sort_limit_topk", "top-k via TakeOrderedAndProject (no global sort)",
      p => p.contains("TakeOrderedAndProject")),
    ("q_agg_hash", "partial+final hash aggregation",
      p => p.contains("HashAggregate") && p.split("HashAggregate").length >= 3),
    ("q_scan_project", "projection computed pre-limit, codegen",
      p => p.contains("codegen id") && p.contains("TakeOrderedAndProject")),
    ("q_join_shuffle", "multi-join: every small dim broadcast (no SMJ)",
      p => p.contains("BroadcastHashJoin")),
    ("q_similarity_topk", "probe broadcast in similarity search",
      p => p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange")),
    // the final ORDER BY of every declared query adds one
    // rangepartitioning exchange — operator cost is the
    // hashpartitioning count, so that's what the checks pin down
    ("q_stratified_sample", "ONE strata shuffle: rn + count share the window sort",
      p => p.split("hashpartitioning").length == 2 && p.split("\\) Window").length == 3),
    ("q_decontaminate", "bench shingle side broadcast",
      p => p.contains("BroadcastHashJoin")),
    ("q_pack", "ONE shuffle: cumsum window and (lang,bin) agg co-partitioned",
      p => p.split("hashpartitioning").length == 2 && p.contains(") Window")),
    ("q_zorder", "Morton key is a map-only project (no hash shuffle)",
      p => !p.contains("hashpartitioning") && p.contains(") Project")),
    ("q_weighted_sample", "weighted sample is a map-only filter (no hash shuffle)",
      p => !p.contains("hashpartitioning") && p.contains(") Filter")),
    ("q_ffill", "ffill+bfill share ONE user shuffle (two frames, same partitioning)",
      p => p.split("hashpartitioning").length == 2),
    ("q_set_ops_all", "bag set-ops: no cartesian anywhere",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    ("q_neardup_simhash", "flip-key blocking: equi-join on keys, no cartesian",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    // r15 store-side exchange discipline: the store's shingle read is
    // semi-filtered by broadcast candidate ids and the verify join
    // broadcasts the candidate payload — the store side of the final
    // plan is map-side (the fp/band-key semis run inside the eager
    // cuts, asserted by StoreShuffleSpec's shuffle-byte envelope)
    ("q_incremental_dedup", "store shingle read broadcast-semi-filtered, no cartesian",
      p => p.contains("LeftSemi") && p.contains("BroadcastHashJoin") &&
        !p.contains("Cartesian")),
    ("q_merge_upsert", "upsert rank-1: partial+final WindowGroupLimit (losers dropped map-side)",
      p => p.split("WindowGroupLimit").length >= 3),
    ("q_inverted_index", "index build pays exactly ONE term-keyed shuffle",
      p => p.split("hashpartitioning").length == 2),
    ("q_bm25", "df + corpus stats broadcast; only term-df and doc-sum hash exchanges",
      p => p.contains("BroadcastHashJoin") && p.split("hashpartitioning").length <= 3),
    ("q_quantize", "int8 quantization is map-only (no hash shuffle)",
      p => !p.contains("hashpartitioning")),
    ("q_rand_proj", "random projection is map-only (no hash shuffle)",
      p => !p.contains("hashpartitioning")),
    ("q_scd2", "SCD-2 is ONE key-partitioned window",
      p => p.split("hashpartitioning").length == 2 && p.contains(") Window")),
    ("q_crossdoc_ngram", "repeated n-grams: equi-joins only, no cartesian",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    ("q_tpch_q3", "Q3: filtered customer dim broadcast, no cartesian",
      p => p.contains("BroadcastHashJoin") && !p.contains("Cartesian")),
    ("q_tpch_q5", "Q5 snowflake: region/nation/supplier/customer all broadcast",
      p => p.contains("BroadcastHashJoin") && !p.contains("Cartesian")),
    ("q_tpch_q10", "Q10: nation broadcast, big-big join on orderkey only",
      p => p.contains("BroadcastHashJoin") && !p.contains("Cartesian")),
    ("q_gt_fst", "F_ST kernel is map-only (no hash shuffle)",
      p => !p.contains("hashpartitioning")),
    ("q_profile", "multi-column distinct profile via ONE Expand scan",
      p => p.contains("Expand") && !p.contains("Join")),
    ("q_outlier_iqr", "IQR fence broadcast back (1-row BNLJ, no shuffle of corpus)",
      p => p.contains("BroadcastNestedLoop") && !p.contains("Cartesian")),
    ("q_join_nullsafe", "null-safe equality still hash-joinable (broadcast, no BNLJ)",
      p => p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoop")),
    ("q_gt_ld", "LD pairs meet on banded equi-keys, never a cartesian",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    ("q_funnel", "funnel pays exactly ONE user-keyed shuffle",
      p => p.split("hashpartitioning").length == 2),
    ("q_linear_fit", "OLS sums are one partial+final hash agg, no join",
      p => p.split("HashAggregate").length >= 3 && !p.contains("Join")),
    ("q_transitions", "transition matrix: user window + tiny-key agg only",
      p => p.split("hashpartitioning").length <= 3 && !p.contains("Join")),
    ("q_grm", "GRM pair sums are one partial+final hash agg, no join",
      p => p.split("HashAggregate").length >= 3 && !p.contains("Join")),
    ("q_nei_distance", "Nei identity kernel is map-only (no hash shuffle)",
      p => !p.contains("hashpartitioning")),
    // the election aggregates run behind the eager candidates/drops
    // cuts (r14 measured-broadcast rework), so the final plan shows
    // only the rebuild: still NO window on the md5 key anywhere
    ("q_chunk_dedup", "span dedup: NO window on md5 key (election behind cuts)",
      p => !p.contains(") Window") && !p.contains("WindowExec")),
    ("q_interpolate", "interpolation: ffill+bfill frames share ONE key shuffle",
      p => p.split("hashpartitioning").length == 2),
    ("q_attribution", "attribution: ONE user window + tiny channel agg",
      p => p.split("hashpartitioning").length <= 3 && p.contains(") Window")
        && !p.contains("Join")),
    ("q_gt_impute", "mean imputation is map-only (no hash shuffle, no join)",
      p => !p.contains("hashpartitioning") && !p.contains("Join")),
    ("q_corpus_report", "dataset card: one scan, no join (distinct via agg)",
      p => !p.contains("Join") && p.split("hashpartitioning").length <= 3),
    ("q_attribution_linear", "linear credit: ONE user window, tiny-key agg, no join",
      p => !p.contains("Join") && p.contains(") Window")
        && p.split("hashpartitioning").length <= 3),
    ("q_gt_sfs", "SFS: map-side kernel + one tiny-key agg, no join",
      p => !p.contains("Join") && p.split("hashpartitioning").length <= 2),
    ("q_gt_tajima", "Tajima components: single global agg, no join, no window",
      p => !p.contains("Join") && !p.contains(") Window")),
    ("q_gt_pi_window", "windowed diversity: one window-key agg, no join",
      p => !p.contains("Join") && p.split("hashpartitioning").length <= 2),
    ("q_gt_linreg", "per-variant OLS: map-only kernel, phenotype rides as literal",
      p => !p.contains("Join") && !p.contains("hashpartitioning")),
    ("q_gt_burden", "burden matrix: rarity map-side, ONE window-key vector agg",
      p => !p.contains("Join") && p.split("hashpartitioning").length <= 2),
    ("q_gt_burden_test", "burden OLS: no join anywhere, bounded shuffles",
      p => !p.contains("Join") && p.split("hashpartitioning").length <= 3),
    ("q_gt_sample_qc", "sample QC: one explode + one sample-keyed agg, no join",
      p => !p.contains("Join") && p.split("hashpartitioning").length <= 2),
    ("q_nb_classify", "NB scoring: model meets tokens via broadcast hash join",
      p => p.contains("BroadcastHashJoin")),
    ("q_match_mixture", "mixture: ONE group window (caps as literals, no join)",
      p => p.split("hashpartitioning").length == 2 && p.contains(") Window")),
    ("q_quality_buckets", "quality buckets: vocab broadcast, per-lang window only",
      p => p.contains("BroadcastHashJoin") && p.contains(") Window")
        && !p.contains("Cartesian")),
    ("q_pagerank", "pagerank round: equi-joins only, no cartesian",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    ("q_tpch_q6", "Q6: every predicate pushed to the parquet scan, no join",
      p => p.contains("PushedFilters: [IsNotNull") && !p.contains("Join")),
    ("q_tpch_q4", "Q4: EXISTS as a semi join, no cartesian",
      p => (p.contains("LeftSemi") || p.contains("Semi")) && !p.contains("Cartesian")),
    ("q_tpch_q18", "Q18: having-prefilter before decoration, dims broadcast",
      p => p.contains("BroadcastHashJoin") && !p.contains("Cartesian")),
    ("q_triangles", "triangles: equi-joins only, never a cartesian",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    ("q_host_budget", "host budget: rank<=k plans as partial+final WindowGroupLimit",
      p => p.split("WindowGroupLimit").length >= 3),
    ("q_top_terms", "top terms: df broadcast + per-doc WindowGroupLimit",
      p => p.split("WindowGroupLimit").length >= 3 && p.contains("BroadcastHashJoin")),
    ("q_bigram_lm", "bigram LM: unigram vocab broadcast, no cartesian",
      p => p.contains("BroadcastHashJoin") && !p.contains("Cartesian")),
    ("q_rrf", "rrf: integer fold over pre-ranked inputs, no join at fuse time",
      p => !p.contains("Cartesian")),
    ("q_tpch_q7", "Q7: both nation roles broadcast, no cartesian",
      p => p.contains("BroadcastHashJoin") && !p.contains("Cartesian")),
    ("q_tpch_q8", "Q8: snowflake dims broadcast, share in ONE conditional agg",
      p => p.contains("BroadcastHashJoin") && !p.contains("Cartesian")
        && p.split("HashAggregate").length >= 3),
    ("q_tpch_q9", "Q9: part/supplier/nation broadcast, no cartesian",
      p => p.contains("BroadcastHashJoin") && !p.contains("Cartesian")),
    ("q_tpch_q12", "Q12: orderkey equi-join with lag residual, partial+final agg",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")
        && p.split("HashAggregate").length >= 3),
    ("q_tpch_q13", "Q13: outer join keeps filter in join condition, no cartesian",
      p => !p.contains("Cartesian") && p.split("HashAggregate").length >= 3),
    ("q_tpch_q2", "Q2: correlated min decorrelates to equi joins, no cartesian",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    ("q_tpch_q11", "Q11: global threshold rides a 1-row broadcast (no shuffle)",
      p => p.contains("BroadcastNestedLoop") && !p.contains("Cartesian")),
    ("q_tpch_q15", "Q15: max-revenue scalar broadcast, winners by equality",
      p => p.contains("BroadcastExchange") && !p.contains("Cartesian")),
    ("q_tpch_q16", "Q16: complaint suppliers excluded by ANTI join, no cartesian",
      p => p.contains("Anti") && !p.contains("Cartesian")),
    ("q_tpch_q17", "Q17: per-part avg joins back on the partkey only",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    ("q_tpch_q19", "Q19: OR-of-ANDs keeps the partkey equi-key (no BNLJ)",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    ("q_tpch_q20", "Q20: nested-IN chain as SEMI join, no cartesian",
      p => p.contains("Semi") && !p.contains("Cartesian")),
    ("q_tpch_q21", "Q21: EXISTS semi + NOT-EXISTS anti on orderkey, no cartesian",
      p => p.contains("Semi") && p.contains("Anti") && !p.contains("Cartesian")),
    ("q_tpch_q22", "Q22: no-recent-orders as ANTI join, avg broadcast",
      p => p.contains("Anti") && !p.contains("Cartesian")),
    ("q_span_detect", "span detection: shingle-keyed SEMI join, one doc window, no cartesian",
      p => (p.contains("LeftSemi") || p.contains("Semi")) &&
        p.contains(") Window") && !p.contains("Cartesian") &&
        !p.contains("BroadcastNestedLoop")),
    ("q_span_dedup", "span removal: equi-joins only (shingle + doc keys), no cartesian",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop") &&
        p.contains(") Window")),
    ("q_store_diff", "CDC diff: hash-keyed ANTI joins per direction, no cartesian",
      p => p.contains("Anti") && !p.contains("Cartesian") &&
        !p.contains("BroadcastNestedLoop")),
    // classifier-gate evaluation: rows reduce to per-score aggregates
    // BEFORE any window/rank; the only non-broadcast exchanges key on
    // the score scalar, and the 1-row totals ride a broadcast join
    // totals derive from the SAME per-score aggregate (r11 refactor):
    // the plan has NO join at all — one score-keyed partial+final agg,
    // one window over distinct scores, one final single-row agg
    ("q_classifier_auc", "AUC: per-score agg feeds the distinct-score window, no join at all",
      p => p.split("HashAggregate").length >= 3 && p.contains(") Window") &&
        !p.contains("Join") && !p.contains("Cartesian")),
    ("q_pr_curve", "PR sweep: per-score agg feeds the window, totals broadcast",
      p => p.split("HashAggregate").length >= 3 && p.contains(") Window") &&
        (p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoop")) &&
        !p.contains("Cartesian")),
    ("q_calibration", "calibration: ONE bin-keyed agg exchange, no window, no join",
      p => p.split("HashAggregate").length >= 3 && !p.contains(") Window") &&
        !p.contains("Join")),
    ("q_text_normalize", "normalization: map-only chain + one norm-keyed window, no join",
      p => p.contains(") Window") && !p.contains("Join") &&
        !p.contains("Cartesian")),
    ("q_pack_emit", "pack emit: bin-keyed aggs only, no join of the corpus",
      p => p.split("HashAggregate").length >= 3 && !p.contains("Join") &&
        !p.contains("Cartesian")),
    ("q_url_blocklist", "blocklist: broadcast SEMI + ANTI equi-joins, no nested loop",
      p => p.contains("Semi") && p.contains("Anti") &&
        !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop")),
    // slim reassembly (r13): winner election + drop detection move
    // scalars through equi-joins; text is rebuilt map-side, so the
    // old union-into-doc-keyed-collect_list reassembly is GONE — no
    // collect_list of unit text anywhere in the plan
    ("q_line_dedup", "line dedup: scalar equi-joins, map-side text rebuild, no collect_list",
      p => p.contains("Join") && !p.contains("Cartesian") &&
        !p.contains("BroadcastNestedLoop") && !p.contains("collect_list") &&
        !p.contains("Union")),
    // slim reassembly (r14): same pattern at chunk granularity —
    // winner election + drop detection move (md5, doc, chunk_id)
    // scalars; text is rebuilt map-side by re-chunking, so no
    // collect_list carries chunk text (the one collect_set left
    // aggregates dropped chunk-id ints)
    ("q_chunk_dedup", "chunk dedup: scalar equi-joins, map-side re-chunk, no collect_list",
      p => p.contains("Join") && !p.contains("Cartesian") &&
        !p.contains("BroadcastNestedLoop") && !p.contains("collect_list") &&
        !p.contains("Union")),
    ("q_unigram_score", "unigram Viterbi: map-only kernel, no shuffle but the final sort",
      p => !p.contains("hashpartitioning") && !p.contains("Join")),
    ("q_phrase_block", "Aho-Corasick gate: map-only scan, no shuffle but the final sort",
      p => !p.contains("hashpartitioning") && !p.contains("Join")),
    // the one BroadcastNestedLoopJoin is the 1-row type-total
    // crossJoin — the repo-wide broadcast-scalar pattern
    ("q_bigram_kn", "KN bigram LM: count tables broadcast back, no cartesian",
      p => p.contains("BroadcastHashJoin") && !p.contains("Cartesian") &&
        p.split("BroadcastNestedLoopJoin Cross").length == 2),
    ("q_lexical_stats", "lexical profile: ONE doc-keyed agg after map-side term_freqs",
      p => p.split("hashpartitioning").length == 2 && !p.contains("Join")),
    ("q_script_route", "script routing: map-only regex-class counts, no shuffle but the sort",
      p => !p.contains("hashpartitioning") && !p.contains("Join")),
    ("q_hard_negatives", "hard negatives: probes broadcast, partial+final WindowGroupLimit",
      p => p.contains("BroadcastNestedLoopJoin") &&
        p.split("WindowGroupLimit").length >= 3 && !p.contains("Cartesian")),
    // exact spans: the match grid is a shingle-keyed EQUI self-join
    // (bounded by maxDf² per shingle) over the CUT repeated-position
    // frame (the semi-join candidate generation runs once, behind the
    // checkpoint), then keyed windows — diagonal run growth + per-doc
    // interval union; never cartesian
    ("q_span_exact", "exact spans: hash-keyed equi self-join + keyed windows, no cartesian",
      p => p.contains("HashJoin") &&
        p.split("\\) Window").length >= 3 && !p.contains("Cartesian") &&
        !p.contains("BroadcastNestedLoop")),
    ("q_span_dedup_exact", "exact removal: equi joins only, no cartesian",
      p => !p.contains("Cartesian") && !p.contains("BroadcastNestedLoop") &&
        p.split("\\) Window").length >= 3),
    // Holt-Winters: ONE key repartition feeds the sequential scan
    // (mapPartitions — the documented recurrence escape hatch); the
    // epilogue windows ride the same keying; no join anywhere
    ("q_holt_winters", "Holt-Winters: keyed scan + windows, no join",
      p => p.contains("MapPartitions") && !p.contains("Join") &&
        !p.contains("Cartesian")),
    ("q_unigram_bf", "unigram byte fallback: map-only kernel, no shuffle but the final sort",
      p => !p.contains("hashpartitioning") && !p.contains("Join")),
    // period detection: lag columns ride ONE keyed sort window, one
    // keyed aggregation, stack (no shuffle), tiny ranking window —
    // the series is never joined against itself
    ("q_detect_period", "period detection: keyed windows + one agg, no join",
      p => !p.contains("Join") && !p.contains("Cartesian") &&
        p.split("\\) Window").length >= 3)
  )

  checks.foreach { case (q, what, ok) =>
    test(s"$q: $what") {
      val p = formatted(Queries.byName(q).build(spark, sfDir))
      assert(ok(p), s"\n${head40(p)}")
    }
  }

  // zero-candidate verify gate: a disjoint batch's incremental plan must
  // not touch the store's SHINGLE column at all (the verify stage — and
  // its scan of the store's heaviest column — is skipped when the
  // materialized candidate frame is empty). The plan is runtime-dependent
  // (the gate is a driver-side probe), so this is a constructed
  // scenario, not a declared query.
  test("zero-cand gate: disjoint batch: returned plan store-free (verify + shingle scan skipped)") {
    def uniqText(id: org.apache.spark.sql.Column, p: String) =
      array_join(transform(sequence(lit(1), lit(30)),
        w => concat(lit(p), xxhash64(id, w))), " ")
    val storeDir = java.nio.file.Files.createTempDirectory("plangate")
      .resolve("sig").toString
    graft.ext.DocPipeline.signatures(
      spark.range(500L).select(col("id").as("doc_id"),
        uniqText(col("id"), "s").as("text")))
      .write.parquet(storeDir)
    val store = spark.read.parquet(storeDir)
    val disjoint = spark.range(9000L, 9040L).select(col("id").as("doc_id"),
      uniqText(col("id"), "u").as("text"))
    val out = graft.ext.DocPipeline.prepareIncrementalWithHashes(
      disjoint, store, "doc_id", "text", minWords = 5,
      minhashK = 8, bands = 4, tau = 0.8)
    val p = formatted(out)
    // the store's fp/band reads execute inside the call's eager cuts;
    // with zero candidates the verify stage is skipped, so the RETURNED
    // plan must not reference the store AT ALL — no parquet scan
    // anywhere (the in-batch pipeline reads Range + checkpoints; its own
    // stage-5b jaccard is legitimate and stays)
    assert(!p.contains("Scan parquet"), s"\n${head40(p)}")
  }
}
