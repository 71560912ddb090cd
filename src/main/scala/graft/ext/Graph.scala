package graft.ext

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.{CutOps, observedLong}

/** Link-graph operators for crawl curation — ranking a web corpus's
  * pages by link structure is the classic crawl-prioritization /
  * quality-prior signal (PageRank; Page et al. 1999, "The PageRank
  * citation ranking", Stanford InfoLab — public report).
  *
  * House determinism contract: ranks live in int64 MICRO-UNITS (10⁹
  * per node of initial mass) and every per-iteration update is integer
  * arithmetic — floor-divided edge contributions, floor-divided
  * dangling redistribution, floor-divided damping — so partial-sum
  * order can't perturb a single bit and the result is replicable from
  * first principles in any engine (the q_pagerank oracle unrolls the
  * same iterations in DuckDB). Total mass decays by < N units per
  * iteration to the floors (documented, irrelevant at 10⁹ scale);
  * ranks are comparable within a run, not probabilities. */
object Graph {

  /** Integer-exact damped PageRank over an edge list, `iters` fixed
    * iterations (the standard fixed-budget formulation for batch
    * ranking — convergence checks cost a driver action per round and
    * batch pipelines want deterministic plans):
    *
    *   rank⁰(u)   = 10⁹
    *   contrib(e) = rank(src) div outdeg(src)          per edge
    *   share      = (Σ_{outdeg=0} rank) div N          dangling mass
    *   rankᵏ⁺¹(v) = (100−d)·10⁷ + ((Σ_in contrib + share)·d) div 100
    *
    * with `d = dampingPct` (default 85). All divisions are floor on
    * non-negatives — Spark's `div` and DuckDB's `//` agree exactly.
    * An empty edge list gives an empty frame.
    *
    * Scale shape ([[rankRounds]], shared with [[personalizedPageRank]]):
    * the round state is ONE node-keyed frame that carries each node's
    * out-list, so an iteration is one node-keyed partial+final
    * aggregate — no join, no broadcast — and one
    * [[graft.core.Checkpoints.cut]]: two jobs. N and the dangling mass
    * ride the cuts' own jobs as observed metrics. The adjacency
    * therefore shuffles once per round; a cut frame keeps no
    * partitioning, so a per-round join re-shuffled the edges every
    * round anyway. A hub's out-list is one array row of 8 B per
    * out-edge (a 10⁷-out-edge node is an 80 MB row), which bounds the
    * out-degree this shape serves. Self-loops and parallel edges are
    * honored as given; callers dedup upstream if unwanted. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingPct: Int = 85): DataFrame =
    rankRounds(edges, srcCol, dstCol, None, iters, dampingPct)

  /** Integer-exact HITS hubs & authorities (Kleinberg 1999,
    * "Authoritative sources in a hyperlinked environment", JACM 46:5),
    * `iters` fixed iterations of the mutual recursion with MAX
    * rescaling in place of the float L2 norm:
    *
    *   auth'(v) = Σ_{u→v} hub(u)            then ·10⁶ div max(auth')
    *   hub'(u)  = Σ_{u→v} auth''(v)         then ·10⁶ div max(hub')
    *
    * Scores start at 10⁶ and stay in [0, 10⁶] micro-units after each
    * rescale — relative ranking is what HITS is for, and the integer
    * max-norm keeps every bit engine-replicable where an L2 norm
    * would compound float error. Nodes with no in-edges (resp.
    * out-edges) hold authority (resp. hub) 0. Intermediate sums are
    * ≤ N·10⁶ and the rescale product ≤ N·10¹² — int64-safe to
    * N ≈ 10⁶ nodes per connected region of the score mass; shard
    * wider graphs by component first.
    *
    * Scale shape per iteration: two edge-keyed integer sums + two
    * 1-row max broadcasts (in-plan scalars, no driver action),
    * [[graft.core.Checkpoints.cut]] lineage cuts. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // the edge projection is cut ONCE: without it every iteration's
    // joins would re-derive it from the SOURCE (a full input scan per
    // round at corpus scale)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).cut
    var scores = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .withColumn("hub", lit(1000000L))
      .withColumn("auth", lit(1000000L))
      .cut
    for (_ <- 1 to iters) {
      val aRaw = scores.join(e, scores("node") === e("src"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("_a"))
      val aMax = aRaw.agg(coalesce(max(col("_a")), lit(1L)).as("_am"))
      val withA = scores.select(col("node"), col("hub"))
        .join(aRaw, scores("node") === aRaw("dst"), "left")
        .crossJoin(broadcast(aMax))
        .select(col("node"), col("hub"),
          expr("coalesce(_a, 0L) * 1000000L div _am").as("auth"))
        .cut
      val hRaw = withA.select(col("node").as("_v"), col("auth"))
        .join(e, col("_v") === e("dst"))
        .groupBy(col("src")).agg(sum(col("auth")).as("_h"))
      val hMax = hRaw.agg(coalesce(max(col("_h")), lit(1L)).as("_hm"))
      scores = withA.select(col("node"), col("auth"))
        .join(hRaw, withA("node") === hRaw("src"), "left")
        .crossJoin(broadcast(hMax))
        .select(col("node"),
          expr("coalesce(_h, 0L) * 1000000L div _hm").as("hub"),
          col("auth"))
        .cut
    }
    scores
  }

  /** Integer-exact PERSONALIZED PageRank (Page 1999 §6 "personalized"
    * restart vector; the seed-expansion / crawl-frontier-scoring
    * workhorse — rank mass restarts at the `sources` set instead of
    * uniformly, so scores measure proximity to the seeds):
    *
    *   rank⁰(u)   = 10⁹·[u ∈ S∩V]
    *   share      = (Σ_{outdeg=0} rank) div |S∩V|    dangling → seeds
    *   in(v)      = Σ_in contrib + [v ∈ S]·share
    *   rankᵏ⁺¹(v) = [v ∈ S]·(100−d)·10⁷ + (in·d) div 100
    *
    * i.e. [[pageRank]]'s recurrence with teleport AND dangling mass
    * restricted to the seed set (per-seed constants identical to the
    * uniform case — total teleport stays (100−d)% of initial mass).
    * Nodes unreachable from S hold rank 0 exactly. The node universe V
    * is the EDGE LIST: a seed appearing in no edge gets no rank row
    * and takes no part in the recurrence (every Σ and divisor uses
    * S∩V, so absent seeds change nothing — their PPR would be pure
    * teleport mass); when no seed is in the graph the call fails
    * loudly instead of returning an all-zero frame.
    *
    * Scale shape: [[pageRank]]'s round ([[rankRounds]]) — one
    * node-keyed aggregate and one cut per iteration, |S∩V| and the
    * dangling pool observed on the cuts, seed membership a map-side
    * `isin` (a hashed `InSet` beyond the conversion threshold, so
    * 10⁴⁺-seed sets cost one probe per row, not a linear scan). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           sources: Seq[Long], iters: Int,
                           dampingPct: Int = 85): DataFrame = {
    require(sources.nonEmpty, "personalizedPageRank needs a non-empty seed set")
    rankRounds(edges, srcCol, dstCol, Some(sources.distinct), iters, dampingPct)
  }

  /** The one round of [[pageRank]] (`seeds = None`: every node is a
    * seed) and [[personalizedPageRank]].
    *
    * State: `(node, dsts, rk)`, `dsts` the node's out-list (empty for a
    * dangling node). It is built by the same node-keyed aggregate that
    * every round runs: each edge emits a `src` row holding `[dst]` and
    * a `dst` row holding no list, so every endpoint gets exactly one
    * state row. A round unions one `(dst, rk div |dsts|)` row per
    * out-edge with each node's own row (contribution 0, its out-list),
    * sums by node and applies the integer update. The sum and the list
    * share one ObjectHashAggregate, whose map-side combine collapses a
    * hot `dst`'s contributions before the exchange.
    *
    * Driver facts are observed on the cuts: |S∩V| and the first
    * dangling mass on the initial cut, each later mass on its round's
    * cut. An empty observation falls back to an aggregate over the cut
    * state. */
  private def rankRounds(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: Option[Seq[Long]], iters: Int,
                         dampingPct: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    val spark = edges.sparkSession
    // seed membership via isin (compiles to a hashed InSet above the
    // conversion threshold) — interpolating the seed list into a SQL
    // string would inline a |S|-element IN list per iteration
    val isSeed = seeds.fold(lit(true))(s => col("node").isin(s: _*))
    val noList = lit(null).cast("array<bigint>")
    val dangling = size(col("dsts")) === 0
    val massOf = coalesce(sum(when(dangling, col("rk"))), lit(0L)).as("mass")
    def gather(rows: DataFrame): DataFrame = rows.groupBy(col("node"))
      .agg(sum(col("c")).as("m"), flatten(collect_list(col("dsts"))).as("dsts"))

    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    var obs = Observation()
    var state = gather(e
        .select(explode(array(
          struct(col("src").as("node"), array(col("dst")).as("dsts")),
          struct(col("dst").as("node"), noList.as("dsts")))).as("r"))
        .select(col("r.node").as("node"), lit(0L).as("c"), col("r.dsts").as("dsts")))
      .select(col("node"), col("dsts"),
        when(isSeed, lit(1000000000L)).otherwise(lit(0L)).as("rk"))
      .observe(obs, count(when(isSeed, lit(1))).as("seeds"), massOf)
      .cut
    // the node UNIVERSE is the edge list: a seed appearing in no edge
    // gets no rank row (its PPR would be pure teleport mass — compute
    // it trivially if needed). The dangling redistribution must
    // therefore divide by the IN-GRAPH seed count — dividing by the
    // full seed count would permanently leak the absent seeds' share
    // of every iteration's dangling mass. Fail loudly when NO seed is
    // in the graph rather than return an all-zero frame.
    val nSeedsIn = observedLong(spark, obs, "seeds")
      .getOrElse(state.filter(isSeed).count())
    require(nSeedsIn > 0 || seeds.isEmpty,
      "personalizedPageRank: no seed appears in the edge list (the node " +
        "universe is the edge list; isolated seeds receive no rank rows)")
    // an empty graph has nothing to rank (and N = 0 would divide by 0)
    val rounds = if (nSeedsIn == 0) 0 else iters
    val teleport = (100L - dampingPct) * 10000000L
    for (_ <- 1 to rounds) {
      val pool = observedLong(spark, obs, "mass")
        .getOrElse(state.agg(massOf).head().getLong(0))
      val contribs = state.filter(!dangling)
        .select(explode(col("dsts")).as("node"),
          expr("rk div size(dsts)").as("c"), noList.as("dsts"))
      obs = Observation()
      state = gather(contribs.union(state.select(col("node"), lit(0L).as("c"), col("dsts"))))
        .withColumn("_share", when(isSeed, lit(pool / nSeedsIn)).otherwise(lit(0L)))
        .select(col("node"), col("dsts"),
          (when(isSeed, lit(teleport)).otherwise(lit(0L)) +
            expr(s"(m + _share) * $dampingPct div 100")).as("rk"))
        .observe(obs, massOf)
        .cut
    }
    state.select(col("node"), col("rk"))
  }

  /** k-core peel, `rounds` fixed rounds (Seidman 1983, "Network
    * structure and minimum degree"; the density filter link-spam and
    * community pipelines run): treat edges as UNDIRECTED, repeatedly
    * drop nodes whose degree in the SURVIVING subgraph is < `k`. A
    * round that drops nothing is the fixpoint (the true k-core);
    * `rounds` bounds the peel depth with deterministic job count —
    * the result after r rounds is a superset of the core, shrinking
    * monotonically (callers needing the exact core on pathological
    * chains pick rounds ≥ longest peel cascade; real link graphs
    * converge in a handful). Output: (node, deg) for every node with
    * a surviving edge after exactly `rounds` peels — mid-cascade
    * nodes may still show deg < k until a later round removes them.
    *
    * Scale shape per round: one node-keyed degree count over the
    * surviving pair list + two semi joins pruning edges to surviving
    * endpoints; pairs [[graft.core.Checkpoints.cut]] each round. Never touches
    * anything quadratic. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var pairs = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cut
    var deg = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    for (_ <- 1 to rounds) {
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      pairs = pairs
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .cut
      deg = pairs.select(col("a").as("node"))
        .union(pairs.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    }
    deg
  }

  /** Exact triangle enumeration by degree orientation (the standard
    * scalable formulation — Cohen 2009, "Graph twiddling in a MapReduce
    * world", CiSE 11:4; also Suri & Vassilvitskii 2011 WWW): treat
    * edges as UNDIRECTED, orient each edge from its lower-(degree,
    * node) endpoint to the higher (a total order, so orientation is a
    * DAG), generate wedges only from each node's OUT-edges, and close
    * a wedge (u→v, u→w) iff the undirected edge {v,w} exists. Each
    * triangle is emitted exactly once (its orientation-minimum vertex
    * owns it); output columns (a, b, c) are the triple sorted by node
    * id. Self-loops and duplicate/reverse edges are dropped by the
    * normalization.
    *
    * Why orientation matters at 100 TB: wedge fan-out is Σ outdeg²,
    * and orientation bounds outdeg by O(√m) even on power-law graphs
    * (a celebrity with 10⁷ followers has ~all edges oriented INTO it,
    * so it generates no wedges) — the naive per-node wedge join is
    * Σ deg² and dies on exactly those hubs.
    *
    * Scale shape: degree is one node-keyed count; orientation two
    * N-row joins onto the m-row pair list; wedges ONE src-keyed
    * self-join of the oriented list (checkpointed once, read three
    * times); closure ONE (v,w)-keyed equi-join against the normalized
    * pairs. No all-pairs anywhere. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val pairs = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cut
    val deg = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, node): strict total order, ties broken by id
    val oriented = pairs
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .cut
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), Seq("u"))
      .filter(col("x") < col("y")) // canonical wedge: closure key is {x,y}
    wedges.join(pairs, wedges("x") === pairs("a") && wedges("y") === pairs("b"))
      .select(least(col("u"), col("x")).as("a"),
        when(col("u") < col("x"), col("x"))
          .when(col("u") > col("y"), col("y"))
          .otherwise(col("u")).as("b"),
        greatest(col("u"), col("y")).as("c"))
  }

  /** Multi-source BFS hop distances, `maxHops` bounded (the frontier
    * formulation every distributed BFS uses — Pregel's SSSP example,
    * Malewicz 2010 SIGMOD, with unit weights): depth(s) = 0 for each
    * source, then per hop the FRONTIER (nodes first reached last
    * round, not the whole visited set) joins the edge list and
    * anti-joins the visited set — so each node's depth is final when
    * first assigned, and work per round is proportional to the
    * frontier, not the graph. Directed edges as given; pass the
    * symmetrized list for undirected reachability. Returns (node,
    * hop) for every node within `maxHops` of a source.
    *
    * Scale shape per hop: one src-keyed equi-join (frontier is the
    * small side), one hop-dedup agg, one anti-join against visited;
    * frontier and visited [[graft.core.Checkpoints.cut]] each round (the iterative
    * house pattern — lineage stays one round deep). Fixed `maxHops`
    * rounds keep the job count deterministic; an emptied frontier
    * makes the remaining rounds no-op joins. */
  def bfsDepths(edges: DataFrame, srcCol: String, dstCol: String,
                sources: Seq[Long], maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    require(sources.nonEmpty, "sources must be non-empty")
    val spark = edges.sparkSession
    import spark.implicits._
    // cut once, as in hits (each hop's frontier join would
    // otherwise re-scan the source)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).cut
    var visited = sources.distinct.toDF("node")
      .withColumn("hop", lit(0)).cut
    var frontier = visited
    for (h <- 1 to maxHops) {
      val reached = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
      frontier = reached.join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hop", lit(h))
        .cut
      visited = visited.union(frontier).cut
    }
    visited
  }

  /** Synchronous label propagation (Raghavan 2007, "Near linear time
    * algorithm to detect community structures in large-scale
    * networks", Phys. Rev. E 76 — the standard cheap community
    * detector), `rounds` fixed rounds with a DETERMINISTIC update in
    * place of the paper's random tie-break:
    *
    *   label⁰(v)   = v
    *   labelᵏ⁺¹(v) = argmax over neighbor labels by (count desc,
    *                 label asc); own label kept when v has no neighbor
    *
    * Fixed rounds + total-order tie-break make every round replicable
    * from first principles (the q_label_prop oracle unrolls the same
    * rounds in DuckDB); synchronous LPA may oscillate on bipartite
    * structures — callers pick `rounds`, the round output is exact
    * either way. Edges are symmetrized and deduped here; self-loops
    * dropped (a self-vote would freeze every label).
    *
    * Scale shape per round: ONE nbr-keyed equi-join (labels onto the
    * adjacency — labels are the N-row small side), ONE (node, label)
    * partial+final count, ONE node-keyed min-struct agg (map-side
    * combine collapses hot nodes), labels [[graft.core.Checkpoints.cut]] each
    * round ([[pageRank]]'s lineage-cut pattern). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val eAll = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
    val e0 = eAll.filter(col("a") =!= col("b"))
    val adj = e0.union(e0.select(col("b"), col("a")))
      .distinct().cut // (node, nbr) both directions
    // node set from the edge list BEFORE self-loops drop: a node whose
    // only edges are self-loops still appears in the input and must
    // come back labeled with itself (self-loop EDGES are excluded from
    // voting, the node is not excluded from the graph)
    val nodes = eAll.select(col("a").as("node"))
      .union(eAll.select(col("b").as("node"))).distinct()
      .cut
    var labels = nodes.withColumn("lbl", col("node")).cut
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(labels.select(col("node").as("nb"), col("lbl")),
          adj("b") === col("nb"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("c"))
      val winners = votes
        .groupBy(col("a"))
        .agg(min(struct((lit(0L) - col("c")).as("nc"), col("lbl"))).as("w"))
        .select(col("a").as("node"), col("w.lbl").as("lbl"))
      labels = labels.select(col("node"))
        .join(winners, Seq("node"), "left")
        .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
        .cut
    }
    labels
  }

  /** Common-neighbor and Adamic-Adar link prediction scores (Adamic &
    * Adar 2003, "Friends and neighbors on the web", Social Networks
    * 25:3; Liben-Nowell & Kleinberg 2007 JASIST) for non-adjacent
    * node pairs sharing at least one neighbor:
    *
    *   cn(u,w)    = |Γ(u) ∩ Γ(w)|
    *   aa_e6(u,w) = Σ_{v ∈ Γ(u) ∩ Γ(w)} floor(10⁶ / ln deg(v))
    *
    * The per-witness weight is quantized to integer e6 units BEFORE
    * the sum, so the aggregate is an integer — partial-sum order
    * can't move a bit and DuckDB replays it exactly (ln on identical
    * doubles is IEEE-identical). Degree-1 nodes are excluded from the
    * witness set up front: they can never produce a u<w pair anyway,
    * and their ln(1)=0 weight would divide by zero (ANSI) before the
    * pair join got a chance to drop them.
    *
    * Scale shape: candidate pairs are generated ONLY through shared
    * witnesses (the inverted-index blocking of [[Dedup]] applied to
    * adjacency): witnesses with degree > `maxWitnessDeg` are dropped
    * — the standard hub cap; a celebrity node's deg² pair fan-out
    * would dominate cost while contributing the least-informative
    * 1/ln(deg) weight. One witness-keyed self-join, one ANTI join
    * against the edge list (predict only NEW links), one (u,w)
    * integer agg. Never all-pairs. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 maxWitnessDeg: Long = 64L): DataFrame = {
    require(maxWitnessDeg >= 2, s"maxWitnessDeg must be >= 2, got $maxWitnessDeg")
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val adj = e0.union(e0.select(col("b"), col("a")))
      .distinct().cut
    val deg = adj.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    val witness = adj.select(col("a").as("v"), col("b").as("n"))
      .join(deg.filter(col("deg").between(2L, maxWitnessDeg)), Seq("v"))
      .withColumn("w6", floor(lit(1000000.0) / log(col("deg").cast("double")))
        .cast("long"))
      .cut
    val cand = witness.select(col("v"), col("n").as("u"), col("w6"))
      .join(witness.select(col("v"), col("n").as("w")), Seq("v"))
      .filter(col("u") < col("w"))
    // aggregate BEFORE the adjacency anti-join (guide §2.3 — r19): the
    // witness fan-out is the big frame here (Σ min(deg,cap)² rows) and
    // the anti-join only drops whole (u,w) groups, so filtering commutes
    // with the aggregation. Aggregating first sends partial-aggregated
    // (u,w) rows through the exchange — map-side combine collapses
    // multi-witness pairs — and the anti-join then probes the already
    // (u,w)-partitioned aggregate, exchanging only the adjacency side.
    val scored = cand
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("cn"), sum(col("w6")).as("aa_e6"))
    scored
      .join(adj, scored("u") === adj("a") && scored("w") === adj("b"), "left_anti")
  }
}
