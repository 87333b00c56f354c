package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge tables — the family the
  * connected-components operator ([[Dedup.connectedComponents]]) belongs
  * to, here for value propagation rather than label collapse.
  *
  * Cross-engine determinism: ranks are integer parts-per-million and
  * every step is exact integer arithmetic (floor division via `div`),
  * so the fixed-iteration result is bit-identical on any engine and any
  * partitioning — no floating-point summation-order sensitivity, the
  * same trick the surprisal and attribution operators use (micro-nat /
  * ppm quantization).
  */
object Graph {

  /** Weighted PageRank over `(src, dst, weight)` edges in exact integer
    * ppm arithmetic, run for a fixed `iters` iterations.
    *
    * Per iteration: each node sends `floor(rank · w / out_weight)` ppm
    * along each out-edge, and every node's next rank is
    * `floor((1-d)·1e6 / n) + floor(d · Σ incoming)` with the damping
    * factor `d = dampPct/100`. Dangling-node mass is dropped (not
    * redistributed) — deterministic, and at corpus scale the dangling
    * correction is a rank-one update most batch implementations skip.
    *
    * Scale shape: the edge table is the big side and is touched once per
    * iteration by an equi-join on the node key followed by a map-side
    * partial `sum` — the classic Pregel-as-joins loop. The per-source
    * out-weight is joined once up front and pinned next to each edge so
    * iterations never recompute it. Ranks (|V| rows, 16 bytes each) are
    * the only thing that reshuffles per round.
    *
    * NOTE: eagerly materializes (`localCheckpoint`) the prepared edge
    * table once and the rank table each iteration — without the
    * per-iteration cut the plan doubles every round and Catalyst
    * analysis time, not the data, becomes the bottleneck (same
    * motivation as [[Dedup.connectedComponents]]).
    */
  def pageRankPpm(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "w", iters: Int = 10, dampPct: Int = 85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct must be in [0,100], got $dampPct")
    prLoop(edges, srcCol, dstCol, weightCol, iters, dampPct,
      init = n => lit(1000000L / n),
      teleport = n => lit(((100L - dampPct) * 10000L) / n))
  }

  /** Shared Pregel-as-joins core: prepares `(src, dst, w, out-weight)`
    * edges and the node table, then runs the damped propagation loop
    * with caller-supplied initial-rank and per-iteration teleport
    * columns (both built from the node count, may reference `node`). */
  private def prLoop(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iters: Int, dampPct: Int,
      init: Long => Column, teleport: Long => Column): DataFrame = {
    // eager: the edge projection feeds THREE separate construction jobs
    // (both sides of the out-weight join, then the nodes union) — left
    // lazy, each job re-evaluates the caller's full edge derivation
    // (for the trade graph, a lineitem⋈orders join) from scratch;
    // exchange reuse never crosses job boundaries
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"),
      col(weightCol).cast("long").as("_w")).localCheckpoint()
    // static per-iteration join side, materialized once
    val eo = e.join(e.groupBy(col("_src")).agg(sum(col("_w")).as("_tw")), Seq("_src"))
      .localCheckpoint()
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct().localCheckpoint()
    val n = nodes.count() // one tiny job; |V| is known anyway at this point
    require(n > 0, "pageRank: empty edge set")
    var ranks = nodes.withColumn("rank_ppm", init(n))
    for (i <- 1 to iters) {
      // rank mass is ppm-scaled (Σrank ≈ |V|·10⁶, so a mega-hub's
      // rank_ppm can reach ~10¹⁶ at |V|=10¹⁰) and edge weights are
      // data — the products ride DECIMAL(38,0) before the integer
      // division, then come back to the long domain (positive
      // operands: decimal div == long div exactly)
      val contrib = eo
        .join(ranks.withColumnRenamed("node", "_src"), Seq("_src"))
        .select(col("_dst").as("node"),
          expr("CAST((CAST(rank_ppm AS DECIMAL(38,0)) * _w) div _tw AS BIGINT)")
            .as("_c"))
        .groupBy(col("node")).agg(sum(col("_c")).as("_in"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (teleport(n) + expr(
            s"CAST((CAST(coalesce(_in, 0L) AS DECIMAL(38,0)) * $dampPct) div 100 AS BIGINT)"))
            .as("rank_ppm"))
      // each intermediate rank table is referenced exactly once (by the
      // next iteration), so a per-iteration eager cut bought no reuse —
      // only a driver round-trip per round; cut every 4th round to bound
      // Catalyst plan growth, let the final job run the last ≤4 rounds
      if (i % 4 == 0) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Personalized PageRank (random walk with restart to a SEED set —
    * the "importance relative to these nodes" variant behind
    * related-entity ranking and seed-expansion): identical exact
    * integer-ppm Pregel-as-joins loop as [[pageRankPpm]], but both the
    * initial mass and the per-iteration teleport concentrate on
    * `seeds` — ranks start at `⌊1e6/|seeds|⌋` per seed and each
    * iteration teleports `⌊(1−d)·1e6/|seeds|⌋` back to every seed —
    * instead of spreading uniformly. Non-seed nodes receive only
    * propagated mass, so ranks decay with graph distance from the seed
    * set.
    *
    * `seeds` is a driver-side constant (same altitude as the LSH plane
    * table): seed sets are query parameters, not data. Duplicates are
    * collapsed before the per-seed mass split; a seed id that never
    * appears in the edge set has no node row to park its share on, so
    * that share is forfeited (total mass < 1e6) — validate seeds
    * upstream if that matters.
    */
  def personalizedPageRankPpm(
      edges: DataFrame, seeds: Seq[Long], srcCol: String = "src",
      dstCol: String = "dst", weightCol: String = "w", iters: Int = 10,
      dampPct: Int = 85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(seeds.nonEmpty, "personalizedPageRankPpm: empty seed set")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct must be in [0,100], got $dampPct")
    val distinctSeeds = seeds.distinct
    val isSeed = col("node").isin(distinctSeeds: _*)
    prLoop(edges, srcCol, dstCol, weightCol, iters, dampPct,
      init = _ => when(isSeed, lit(1000000L / distinctSeeds.length)).otherwise(lit(0L)),
      teleport = _ => when(isSeed,
        lit(((100L - dampPct) * 10000L) / distinctSeeds.length)).otherwise(lit(0L)))
  }

  /** Per-node triangle counts over an undirected graph given as a
    * directed `(src, dst)` edge table (duplicates, self-loops, and both
    * orientations tolerated — the input is canonicalized to distinct
    * unordered pairs first).
    *
    * Algorithm: the node-iterator with degree orientation (Chiba–Nishizeki
    * / Schank's `forward`): each undirected edge {u,v} is oriented from
    * the endpoint with (degree, id)-smaller rank to the larger, and a
    * triangle {a,b,c} is found exactly once as the join
    * `o(a,b) ⋈ o(b,c) ⋈ o(a,c)` over the oriented table. Orientation is
    * what makes this scale: every node's out-degree in `o` is bounded by
    * O(√|E|) (arboricity), so the self-join fan-out is Σ outdeg² —
    * near-linear on real sparse graphs instead of the Σ deg² blow-up of
    * the unoriented wedge join. All three joins are equi-joins on node
    * keys; no cartesian, no windows.
    *
    * Output: `(node, n_triangles)` — one row per node that participates
    * in at least one triangle, `n_triangles` the number of distinct
    * triangles containing it.
    */
  def triangleCounts(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    // eager: und feeds the degree aggregate (twice, via the union) and
    // the orientation join — left lazy, each reference re-derives the
    // caller's edge construction (for g2, the lineitem⋈orders join)
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("_u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("_v"))
      .where(col("_u") =!= col("_v"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("_u").as("_n")).union(und.select(col("_v").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("_d"))
    // orient each edge from the (degree, id)-smaller endpoint to the larger
    val o = und
      .join(deg.select(col("_n").as("_u"), col("_d").as("_du")), Seq("_u"))
      .join(deg.select(col("_n").as("_v"), col("_d").as("_dv")), Seq("_v"))
      .select(
        when(col("_du") < col("_dv") ||
          (col("_du") === col("_dv") && col("_u") < col("_v")), col("_u"))
          .otherwise(col("_v")).as("_a"),
        when(col("_du") < col("_dv") ||
          (col("_du") === col("_dv") && col("_u") < col("_v")), col("_v"))
          .otherwise(col("_u")).as("_b"))
    val ab = o.select(col("_a"), col("_b"))
    val tri = ab
      .join(ab.select(col("_a").as("_b"), col("_b").as("_c")), Seq("_b"))
      .join(ab.select(col("_a"), col("_b").as("_c")), Seq("_a", "_c"))
      .select(col("_a"), col("_b"), col("_c"))
    tri.select(explode(array(col("_a"), col("_b"), col("_c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Synchronous weighted label propagation (Raghavan et al. 2007) for
    * community detection, run a FIXED `iters` iterations: labels start
    * as node ids; each round every node adopts the label with the
    * largest total incident edge weight among its neighbors, ties to
    * the SMALLEST label — both rules deterministic, so unlike classic
    * randomized LPA the result is bit-identical on any engine and any
    * partitioning (the same fixed-iteration determinism contract as
    * [[pageRankPpm]]; synchronous updates can oscillate on bipartite
    * structures, which fixed iterations simply freeze — acceptable for
    * a deterministic community sketch, and the oracle reproduces the
    * identical trajectory). Communities complement connected
    * components: CC merges everything reachable, LPA splits a connected
    * graph into densely-linked groups.
    *
    * Scale shape: the doubled neighbor table is built once and pinned
    * ([[pageRankPpm]]'s edge-pinning rule); per iteration one
    * neighbor-key equi-join + two grouped aggregates — the argmax rides
    * the (node, label) aggregate as a struct max, never a window over
    * the edge table; labels (|V| rows) are the only per-round
    * reshuffle, with per-iteration lineage cuts. */
  def labelPropagation(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "w", iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("_u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("_v"),
        col(weightCol).cast("long").as("_w"))
      .where(col("_u") =!= col("_v"))
      .groupBy(col("_u"), col("_v")).agg(sum(col("_w")).as("_w"))
    // static per-iteration join side, materialized once
    val nb = und.select(col("_u").as("_n"), col("_v").as("_nbr"), col("_w"))
      .unionByName(und.select(col("_v").as("_n"), col("_u").as("_nbr"), col("_w")))
      .localCheckpoint()
    // every node in nb has >= 1 neighbor by construction (isolated nodes
    // have no edges and no label), so the update covers all nodes
    var labels = nb.select(col("_n")).distinct()
      .select(col("_n"), col("_n").as("_lbl")).localCheckpoint()
    for (_ <- 1 to iters) {
      labels = nb
        .join(labels.select(col("_n").as("_nbr"), col("_lbl")), "_nbr")
        .groupBy(col("_n"), col("_lbl")).agg(sum(col("_w")).as("_wt"))
        .groupBy(col("_n"))
        .agg(max(struct(col("_wt"), (-col("_lbl")).as("_neg"))).as("_m"))
        .select(col("_n"), (-col("_m._neg")).as("_lbl"))
        .localCheckpoint()
    }
    labels.select(col("_n").as("node"), col("_lbl").as("label"))
  }

  /** k-core membership by fixed-round peeling (Seidman 1983; the
    * distributed peel is Montresor et al. 2013's round structure):
    * repeatedly delete every node of degree < k (together with its
    * edges) for `rounds` synchronous rounds. At a fixpoint the
    * survivors are exactly the k-core — the unique maximal subgraph of
    * minimum degree ≥ k, the standard "dense kernel" screen for
    * community seeds and spam/bot rings. Fixed rounds (not
    * run-to-convergence) for the same reason as [[pageRankPpm]]: the
    * trajectory — and therefore the result at ANY round count — is
    * deterministic and oracle-unrollable; a non-converged prefix is a
    * well-defined partial peel (supergraph of the k-core), never
    * garbage. Peeling removes ≥1 node per non-fixpoint round, so
    * `rounds = |V|` is always exact; in practice cores stabilize in
    * O(log |V|) rounds on real sparse graphs.
    *
    * Scale shape: per round ONE degree aggregate (map-side partial
    * count over the doubled endpoint projection) and two semi-joins of
    * the edge table against the ≥k survivor list — all equi-joins on
    * node keys, nothing broadcast (survivors are |V|-sized and scale
    * with the corpus), with per-round lineage cuts. The edge table
    * strictly shrinks each round, so later rounds get cheaper, not
    * costlier.
    *
    * Output: `(node, degree)` for surviving nodes — `degree` is the
    * node's degree inside the surviving subgraph (≥ k iff converged).
    */
  def kCore(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // early exit at the fixpoint: peeling only REMOVES edges, so an
    // unchanged edge count means an unchanged edge set and every later
    // round is a no-op — the result at `rounds` is IDENTICAL, the
    // remaining rounds' 3 exchanges each are just skipped. The count is
    // observed on the round's own checkpoint.
    var (e, m) = Observed.checkpoint(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("_u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("_v"))
      .where(col("_u") =!= col("_v"))
      .distinct())
    var prev = m("rows")
    var r = 0
    var fixed = prev == 0L
    while (r < rounds && !fixed) {
      val keep = e.select(col("_u").as("_n")).union(e.select(col("_v").as("_n")))
        .groupBy(col("_n")).agg(count(lit(1)).as("_d"))
        .where(col("_d") >= k)
        .select(col("_n"))
      val (next, mNext) = Observed.checkpoint(
        e.join(keep.select(col("_n").as("_u")), Seq("_u"), "left_semi")
          .join(keep.select(col("_n").as("_v")), Seq("_v"), "left_semi"))
      e = next
      fixed = mNext("rows") == prev
      prev = mNext("rows")
      r += 1
    }
    e.select(col("_u").as("_n")).union(e.select(col("_v").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("degree"))
      .select(col("_n").as("node"), col("degree"))
  }

  /** Link prediction by the Resource-Allocation index (Zhou, Lü &
    * Zhang 2009): for every NON-adjacent pair {x, y} with at least
    * `minCommon` common neighbors, `RA(x,y) = Σ_{z ∈ N(x)∩N(y)} 1/deg(z)`
    * — common neighbors weighted down by how promiscuous they are (a
    * shared hub says little; a shared degree-2 node says a lot).
    * Chosen over the near-equivalent Adamic–Adar (1/log deg) because
    * 1/deg is EXACT in integers: each term is quantized as
    * `⌊1e6 / deg(z)⌋` micro-units and summed — no transcendental
    * function, so the score is bit-identical on any engine and any
    * partitioning (the ppm/micro-nat discipline of [[pageRankPpm]]).
    *
    * Scale shape: the wedge enumeration is the same center-keyed
    * self-join as [[triangleCounts]]'s first hop — fan-out Σ deg(z)²,
    * so a single hub is the quadratic hazard. `degCap` drops wedge
    * CENTERS with degree > cap before the self-join (a hub shared by
    * everyone carries ~zero RA mass per pair anyway — 1/deg ≤ 1/cap —
    * so the cap's score error is bounded by `missingPairs/cap` micro
    * units, the same documented-recall-contract pattern as the dedup
    * dfCap). The adjacency anti-join and all candidate joins are
    * node-key equi-joins; nothing corpus-sized is broadcast.
    *
    * Output: `(node_a, node_b, common_neighbors, ra_micro)` with
    * node_a < node_b, only non-adjacent pairs, `common_neighbors >=
    * minCommon`.
    */
  def resourceAllocationLinks(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      minCommon: Int = 2, degCap: Int = 10000): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(degCap >= 1, s"degCap must be >= 1, got $degCap")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("_u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("_v"))
      .where(col("_u") =!= col("_v"))
      .distinct()
      .localCheckpoint()
    val nb = und.select(col("_u").as("_n"), col("_v").as("_nbr"))
      .union(und.select(col("_v").as("_n"), col("_u").as("_nbr")))
    val deg = nb.groupBy(col("_n")).agg(count(lit(1)).as("_d"))
    // wedge centers carry their degree; hub centers are dropped pre-join.
    // Checkpointed: both sides of the wedge self-join read this table, and
    // without the cut each side re-derives the degree aggregate.
    val ctr = nb.join(deg.where(col("_d") <= degCap), Seq("_n"))
      .localCheckpoint()
    val wedges = ctr.as("a")
      .join(ctr.as("b"),
        col("a._n") === col("b._n") && col("a._nbr") < col("b._nbr"))
      .select(col("a._nbr").as("node_a"), col("b._nbr").as("node_b"),
        col("a._d").as("_dz"))
    wedges
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000L div _dz")).as("ra_micro"))
      .where(col("common_neighbors") >= minCommon)
      .join(und.select(col("_u").as("node_a"), col("_v").as("node_b")),
        Seq("node_a", "node_b"), "left_anti")
  }

  /** All-pairs harmonic centrality (Marchiori–Latora; Boldi–Vigna's
    * axiomatically-preferred closeness variant):
    * `H(u) = Σ_{v≠u, d(u,v)≤rounds} 1/d(u,v)`, each reciprocal
    * quantized as `⌊10⁶/d⌋` micro-units and integer-summed — no
    * division by unreachable-∞ cases (they simply contribute 0, the
    * property that makes harmonic beat classic closeness on
    * disconnected graphs), no doubles anywhere, bit-identical on any
    * engine and partitioning.
    *
    * Semantics: BFS min-hop distances by iterative join — `dist`
    * starts as the diagonal (every node at hop 0 from itself) and each
    * round extends every known pair by one edge, min-deduping per
    * (src, node); `rounds` caps the radius, so a non-converged run is
    * a well-defined truncated harmonic (Boldi–Vigna's own t-truncated
    * form), never garbage — the fixed-rounds determinism contract of
    * [[pageRankPpm]].
    *
    * Scale contract: the dist table is O(|V|·reach) — this is the
    * DIMENSION-GRAPH centrality (nation backbones, category graphs,
    * seed cohorts), the same altitude as the q41 recursive CTE. On
    * corpus-sized graphs all-pairs distances need sketches (HyperBall/
    * HyperANF-style counters riding [[pageRankPpm]]'s join loop) —
    * documented out of scope here. Per-round lineage cuts keep the
    * plan tree bounded.
    *
    * Output: `(node, n_reachable, harmonic_micro)`, one row per
    * non-isolated node.
    */
  def harmonicCentrality(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      rounds: Int = 6): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("_u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("_v"))
      .where(col("_u") =!= col("_v"))
      .distinct()
      .localCheckpoint()
    // static per-iteration join side, materialized once
    val nb = und.select(col("_u").as("_n"), col("_v").as("_nbr"))
      .union(und.select(col("_v").as("_n"), col("_u").as("_nbr")))
      .localCheckpoint()
    // early exit at the fixpoint: BFS only ADDS pairs (a pair's _h is
    // its discovery round and never changes), so an unchanged pair
    // count means the reachability closure is complete and every later
    // round recomputes the same table — the truncated-harmonic result
    // at `rounds` is IDENTICAL, the remaining rounds' join + min-dedup
    // exchanges are skipped. The count is observed on the round's own
    // checkpoint.
    var (dist, m) = Observed.checkpoint(nb.select(col("_n").as("_src")).distinct()
      .select(col("_src"), col("_src").as("_node"), lit(0L).as("_h")))
    var prev = m("rows")
    var r = 0
    var fixed = false
    while (r < rounds && !fixed) {
      val next = dist
        .join(nb.select(col("_n").as("_node"), col("_nbr")), Seq("_node"))
        .select(col("_src"), col("_nbr").as("_node"), (col("_h") + 1).as("_h"))
      val (cp, mNext) = Observed.checkpoint(dist.unionByName(next)
        .groupBy(col("_src"), col("_node")).agg(min(col("_h")).as("_h")))
      dist = cp
      fixed = mNext("rows") == prev
      prev = mNext("rows")
      r += 1
    }
    dist.where(col("_node") =!= col("_src"))
      .groupBy(col("_src"))
      .agg(count(lit(1)).as("n_reachable"),
        sum(expr("1000000L div _h")).as("harmonic_micro"))
      .select(col("_src").as("node"), col("n_reachable"), col("harmonic_micro"))
  }

  /** Two-hop reach: for every node, the number of DISTINCT nodes
    * within ≤ 2 hops (self excluded) — the friend-of-friend audience
    * size behind "people you may know" fan-out estimates, influence
    * screens, and join-fan-out forecasting (a node's 2-hop reach is
    * exactly how many rows a 2-step traversal from it will touch).
    * Reported next to the plain degree so the 1-hop → 2-hop expansion
    * ratio is read directly off the row.
    *
    * Scale shape: the 2-hop pairs come from the same center-keyed
    * wedge self-join as [[resourceAllocationLinks]] — fan-out Σ
    * deg(z)², so `degCap` drops wedge CENTERS with degree > cap before
    * the join (reach through a dropped hub is undercounted; the result
    * is a documented LOWER BOUND, the same bounded-error contract as
    * the RA cap — and a hub's neighborhood is better summarized by its
    * own degree row than by exploding it into everyone's reach).
    * Direct neighbors come from the uncapped doubled edge table, so
    * degree is always exact. The distinct over direct ∪ 2-hop pairs is
    * the dominant shuffle, bounded by Σ min(deg, cap)² — never |V|².
    *
    * Output: `(node, degree, n_reach2)` with
    * `degree <= n_reach2 <= |V| − 1`.
    */
  def twoHopReach(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      degCap: Int = 10000): DataFrame = {
    require(degCap >= 1, s"degCap must be >= 1, got $degCap")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("_u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("_v"))
      .where(col("_u") =!= col("_v"))
      .distinct()
      .localCheckpoint()
    val nb = und.select(col("_u").as("_n"), col("_v").as("_nbr"))
      .union(und.select(col("_v").as("_n"), col("_u").as("_nbr")))
    val deg = nb.groupBy(col("_n")).agg(count(lit(1)).as("degree"))
    // wedge centers are hub-capped pre-join (the RA-links rule);
    // checkpointed because both sides of the self-join read it
    val ctr = nb.join(deg.where(col("degree") <= degCap), Seq("_n"))
      .select(col("_n"), col("_nbr"))
      .localCheckpoint()
    // both orientations: x reaches y AND y reaches x through center n
    val two = ctr.as("a")
      .join(ctr.as("b"),
        col("a._n") === col("b._n") && col("a._nbr") =!= col("b._nbr"))
      .select(col("a._nbr").as("_x"), col("b._nbr").as("_y"))
    val reach = nb.select(col("_n").as("_x"), col("_nbr").as("_y"))
      .unionByName(two)
      .distinct()
    reach.groupBy(col("_x")).agg(count(lit(1)).as("n_reach2"))
      .join(deg.select(col("_n").as("_x"), col("degree")), Seq("_x"))
      .select(col("_x").as("node"), col("degree"), col("n_reach2"))
  }

  /** Weighted modularity of a community assignment (Newman–Girvan Q) —
    * the quality score that says whether [[labelPropagation]]'s (or
    * any) communities are real structure or noise:
    * `Q = Σ_c [ w_in(c)/m − (deg(c)/2m)² ]` with `m` the total edge
    * weight, `w_in(c)` the intra-community weight, and `deg(c)` the
    * community's weighted degree sum. `m` is computed over the
    * LABEL-COVERED edges (both endpoints labeled) — edges the labels
    * table does not cover are outside the partition being scored, and
    * counting them in m while excluding them from w_in/deg would
    * silently mis-scale Q. Q ≈ 0 means the partition does
    * no better than random wiring; Q ≳ 0.3 is conventional "real
    * communities". The evaluation companion to g5 the same way t33's
    * AUC evaluates t25's classifier.
    *
    * Exactness: over the common denominator the score collapses to
    * `Q·10⁶ = (Σ_c (4m·w_in(c) − deg(c)²)) · 10⁶ div 4m²` — ONE
    * signed floor division on exact DECIMAL integers, sign-split
    * (Spark `div` truncates, DuckDB `//` floors; they agree only on
    * non-negative operands), bit-identical on any engine and
    * partitioning.
    *
    * Scale shape: one node-key join stamps each endpoint's label onto
    * the edge table (two joins, same key — the labels table rides its
    * own partitioning), then a |communities|-row aggregate and a 1-row
    * total. Nothing is broadcast but the 1-row constants.
    *
    * Output: one row `(n_communities, m_weight, q_micro)`.
    */
  def modularity(
      edges: DataFrame, labels: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "w"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("_u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("_v"),
        col(weightCol).cast("long").as("_w"))
      .where(col("_u") =!= col("_v"))
      .groupBy(col("_u"), col("_v")).agg(sum(col("_w")).as("_w"))
    val lab = labels.select(col("node").as("_n"), col("label").as("_l"))
    val stamped = und
      .join(lab.select(col("_n").as("_u"), col("_l").as("_lu")), Seq("_u"))
      .join(lab.select(col("_n").as("_v"), col("_l").as("_lv")), Seq("_v"))
      .localCheckpoint()
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // per-community intra weight and weighted degree (each endpoint
    // contributes its community; an intra edge contributes twice)
    val byC = stamped
      .select(explode(array(
        struct(col("_lu").as("_c"), col("_w"),
          when(col("_lu") === col("_lv"), col("_w")).otherwise(lit(0L)).as("_in")),
        struct(col("_lv").as("_c"), col("_w"),
          when(col("_lu") === col("_lv"), col("_w")).otherwise(lit(0L)).as("_in"))))
        .as("_e"))
      .select(col("_e._c").as("_c"), col("_e._w").as("_w"), col("_e._in").as("_in"))
      .groupBy(col("_c"))
      .agg(sum(col("_w")).as("_deg"), sum(col("_in")).as("_in2"))
      // the doubled intra sum is even by construction; exact halving
      .withColumn("_win", expr("_in2 div 2"))
    // m over the STAMPED edge table, not the raw one: if the labels
    // table does not cover every endpoint, the uncovered edges are out
    // of the partition being scored, and a total over them would
    // silently mis-scale Q (deg/win sums only see covered edges).
    val m = stamped.agg(sum(col("_w")).as("_m"))
    byC.crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"), max(col("_m")).as("m_weight"),
        sum(dec(lit(4)) * dec(col("_m")) * col("_win") -
          dec(col("_deg")) * col("_deg")).as("_num"))
      .select(col("n_communities"), col("m_weight").cast("long").as("m_weight"),
        when(col("m_weight") === 0, lit(null)).otherwise(
          when(col("_num") >= 0,
            expr("CAST(_num * 1000000 div (4 * CAST(m_weight AS DECIMAL(38,0)) * m_weight) AS BIGINT)"))
            .otherwise(-expr(
              "CAST((-_num) * 1000000 div (4 * CAST(m_weight AS DECIMAL(38,0)) * m_weight) AS BIGINT)")))
          .as("q_micro"))
  }

  /** Degree assortativity (Newman's r): the Pearson correlation of the
    * endpoint degrees over all undirected edges — positive means hubs
    * link to hubs (social graphs), negative means hubs link to leaves
    * (the typical web/interaction shape). The one-number summary that
    * says whether a graph's heavy keys will COLLIDE in a join
    * (assortative graphs put both heavy endpoints on the same shuffle
    * key; disassortative ones spread them).
    *
    * Determinism: each undirected edge contributes its degree pair in
    * BOTH orientations (the standard symmetric definition, which also
    * makes Σx = Σy and Σx² = Σy², so the Pearson collapses to
    * `(m·Σxy − Sx²) / (m·Σxx − Sx²)`). All sums are exact integers in
    * decimal; doubles appear only at the final division (the cv2 rule),
    * so the result is bit-identical across engines and partitionings.
    * A degree-regular graph has zero variance → NULL, not a crash.
    *
    * Scale shape: dedup + degree count are the same two exchanges
    * [[triangleCounts]] opens with; the degree table joins back by node
    * key (never broadcast — |V| scales with the corpus); the symmetric
    * union is a projection; the final aggregate is one row. */
  def degreeAssortativity(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("_u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("_v"))
      .where(col("_u") =!= col("_v"))
      .distinct()
    val deg = und.select(col("_u").as("_n")).union(und.select(col("_v").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("_d"))
    val pts = und
      .join(deg.select(col("_n").as("_u"), col("_d").as("_du")), Seq("_u"))
      .join(deg.select(col("_n").as("_v"), col("_d").as("_dv")), Seq("_v"))
    val sym = pts.select(col("_du").as("_x"), col("_dv").as("_y"))
      .union(pts.select(col("_dv").as("_x"), col("_du").as("_y")))
    def dec(c: Column) = c.cast("decimal(38,0)")
    sym
      .agg(count(lit(1)).as("m"), sum(col("_x")).as("_sx"),
        sum(dec(col("_x")) * dec(col("_x"))).as("_sxx"),
        sum(dec(col("_x")) * dec(col("_y"))).as("_sxy"))
      .select(col("m").as("n_points"),
        when(dec(col("m")) * col("_sxx") - dec(col("_sx")) * dec(col("_sx")) === 0,
          lit(null))
          .otherwise(round(
            (dec(col("m")) * col("_sxy") - dec(col("_sx")) * dec(col("_sx")))
              .cast("double") /
              (dec(col("m")) * col("_sxx") - dec(col("_sx")) * dec(col("_sx")))
                .cast("double"),
            6)).as("assortativity"))
  }

  /** HITS hub/authority scores (Kleinberg's mutual-reinforcement pair —
    * the directed complement to [[pageRankPpm]]: PageRank finds
    * IMPORTANT nodes, HITS separates nodes that POINT WELL (hubs: a
    * customer nation that buys from the authoritative producers) from
    * nodes that ARE POINTED AT well (authorities)). Fixed `iters`
    * rounds over weighted `(src, dst, w)` edges:
    * `a ← Aᵀh`, `h ← A·a`, each followed by an exact integer ppm
    * re-normalization `x ← ⌊x·1e6 / max(x)⌋`.
    *
    * Normalizing INSIDE the loop (by max, in floor division) is what
    * keeps the arithmetic exact at any scale: un-normalized HITS values
    * square the total edge weight every iteration (overflowing even
    * decimal(38,0) in three rounds on a mid-size graph), while the
    * ppm-by-max form keeps every intermediate ≤ 1e6·w·deg and — unlike
    * the conventional float L2 norm — is bit-reproducible on any
    * engine. The fixpoint direction is preserved (scaling is what HITS
    * quotients out); floor-vs-exact drift is ≤ 1 ppm per round by the
    * same argument as [[pageRankPpm]]'s.
    *
    * Scale shape: identical to the PageRank loop — the edge table is
    * touched twice per round by node-key equi-joins with map-side
    * partial sums; the score tables (|V| rows) are the only per-round
    * reshuffles; the max is a 1-row broadcast. Eager per-round
    * materialization cuts the doubling lineage. Output:
    * `(node, hub_ppm, auth_ppm)`, both BIGINT in [0, 1e6]. */
  def hitsPpm(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "w", iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def dec(c: Column) = c.cast("decimal(38,0)")
    // static per-iteration join side, materialized once; each HITS
    // round joins it on _src (hub step) and _dst (authority step)
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"),
        col(weightCol).cast("long").as("_w"))
      .localCheckpoint()
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct().localCheckpoint()
    def ppmByMax(scored: DataFrame, c: String): DataFrame = {
      val m = scored.agg(max(col(c)).as("_m"))
      scored.crossJoin(broadcast(m))
        .select(col("node"),
          when(col("_m") === 0, lit(0L).cast("decimal(38,0)"))
            .otherwise(expr(s"($c * 1000000) div _m")).as(c))
    }
    var h = nodes.withColumn("_h", lit(1000000L).cast("decimal(38,0)"))
      .localCheckpoint()
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = nodes.join(
        e.join(h.withColumnRenamed("node", "_src"), Seq("_src"))
          .groupBy(col("_dst").as("node"))
          .agg(sum(dec(col("_w")) * col("_h")).as("_a0")),
        Seq("node"), "left")
        .select(col("node"),
          coalesce(col("_a0"), lit(0L).cast("decimal(38,0)")).as("_a"))
      a = ppmByMax(aRaw, "_a").localCheckpoint()
      val hRaw = nodes.join(
        e.join(a.withColumnRenamed("node", "_dst"), Seq("_dst"))
          .groupBy(col("_src").as("node"))
          .agg(sum(dec(col("_w")) * col("_a")).as("_h0")),
        Seq("node"), "left")
        .select(col("node"),
          coalesce(col("_h0"), lit(0L).cast("decimal(38,0)")).as("_h"))
      h = ppmByMax(hRaw, "_h").localCheckpoint()
    }
    h.join(a, Seq("node"))
      .select(col("node"), col("_h").cast("long").as("hub_ppm"),
        col("_a").cast("long").as("auth_ppm"))
  }
}
