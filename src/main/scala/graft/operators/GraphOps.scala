package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph helpers for dedup pipelines: near-dup PAIRS become duplicate
  * CLUSTERS via connected components, and the canonical keeper of a
  * cluster is its minimum id — the step a production dedup needs between
  * "pair detection" and "row dropping" (dropping `b_id` of every pair
  * over-deletes when clusters overlap: a-b and b-c with keep-min would
  * drop b and c; the component view keeps exactly one doc per cluster).
  *
  * Scale posture: min-label propagation with a POINTER-JUMPING step each
  * round (label := label of one's label), one equi-join + one aggregation
  * + one label self-join per round. Hooking alone converges in O(cluster
  * diameter) rounds — fine for shallow near-dup clusters, but a
  * degenerate giant component (the "boilerplate page" chain) has
  * diameter ∝ size; the jump step halves the remaining label-tree depth
  * every round, so convergence is O(log diameter) and the default
  * maxIter=20 covers components of diameter ~10⁶. Each round's state is
  * `localCheckpoint`ed to cut lineage and the loop stops at the first
  * round with zero label changes; hitting maxIter without convergence
  * logs a warning instead of returning silently-partial clusters.
  */
object GraphOps {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.operators.GraphOps")

  /** Connected components of the undirected graph given by (aCol, bCol)
    * edge rows. Returns (id, cluster_id) for every node that appears in
    * an edge, where cluster_id = min node id of the component.
    */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20
  ): DataFrame = {
    // Pin discipline (r15, VERDICT/ADVICE item 2): `und` roots at the
    // RAW edge derivation (e.g. a whole LSH dedup), and the first
    // round's job reads it from several concurrent stages (nbrMin join
    // side + the labels distinct) — a lazy pin races its own first
    // materialization and re-runs the derivation up to N× (measured:
    // data_grouped_split 2.1→2.6 s with a 0.69 core-scaling ratio in
    // PERF_r14 — slower with MORE cores, the recompute-race signature).
    // EAGER here; `labels` and the per-round hook frame stay lazy —
    // their subtrees root at und's materialized blocks / an exchange,
    // so a race only re-reads already-written data.
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .transform(Ckpt.eagerCkpt) // edge derivation (e.g. a full LSH dedup) runs once, not per round
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .transform(Ckpt.lazyCkpt)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // hook: pull the minimum label from the 1-hop neighborhood; the
      // round's STARTING label rides along as old_cid so convergence can
      // be read off the materialized result instead of re-joined later
      val nbrMin = und.join(labels, col("dst") === col("id"))
        .groupBy("src")
        .agg(min("cluster_id").as("nbr_min"))
      val hooked = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("cluster_id").as("old_cid"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
        .transform(Ckpt.lazyCkpt) // consumed twice by the jump self-join: don't re-run the hook join

      // jump: adopt the label OF the label (labels only ever decrease, so
      // the parent's label is ≤ ours; this halves label-tree depth and
      // turns O(diameter) convergence into O(log diameter))
      val jumped = least(col("l.cluster_id"), coalesce(col("pcid"), col("l.cluster_id")))
      // convergence count rides the checkpoint's own materialization job
      // via observe (guide §1.2) — r15: the previous shape paid a SECOND
      // job per round scanning the blocks just written; at cluster scale
      // that is a full pass over the loop state per round, gone
      val (next, meter) = Ckpt.eagerCkptMetered(
        hooked.as("l")
          .join(hooked.select(col("id").as("pid"), col("cluster_id").as("pcid")).as("p"),
            col("l.cluster_id") === col("pid"), "left")
          .select(col("l.id").as("id"), jumped.as("cluster_id"),
            (jumped =!= col("l.old_cid")).as("__chg")),
        count(when(col("__chg"), 1)))
      converged = meter.getLong(0) == 0L
      labels = next.drop("__chg")
      it += 1
    }
    if (!converged)
      log.warn(s"connectedComponents did not converge in $maxIter rounds — " +
        "labels may span partially-merged components; raise maxIter")
    labels
  }

  /** PageRank over (src, dst) edge rows — the crawl-graph quality signal
    * (rank a domain/URL graph, weight documents by source authority).
    *
    * DETERMINISTIC by construction: ranks are DECIMAL(38,18), so the
    * per-iteration contribution sums are exact and order-independent —
    * a double-based PageRank returns different last bits on every run
    * (partition merge order), which breaks replay-stable curation
    * decisions downstream (a doc on the keep/drop boundary must not
    * flip between retries). Division rounds HALF_UP at scale 18, which
    * is a fixed rule, not an accumulation order.
    *
    * Dangling nodes (no out-edges) leak their mass — acceptable for a
    * relative quality signal; iterations is fixed (no convergence scan).
    * One join + one aggregation per iteration, both hash-partitioned on
    * node id; edges/degrees are checkpointed once and reused.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      damping: BigDecimal = BigDecimal("0.85")
  ): DataFrame = {
    val dec = "decimal(38,18)"
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().transform(Ckpt.eagerCkpt)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).transform(Ckpt.eagerCkpt)
    // node count rides the checkpoint job via observe (guide §1.2, r15)
    val (nodes, nodeMeter) = Ckpt.eagerCkptMetered(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct(),
      count(lit(1)))
    val n = nodeMeter.getLong(0)
    val base = (BigDecimal(1) - damping) / BigDecimal(n) // scale-18 default is plenty
    var ranks = nodes.withColumn("rank", lit((BigDecimal(1) / BigDecimal(n)).setScale(18, BigDecimal.RoundingMode.HALF_UP)).cast(dec))
    var i = 0
    while (i < iterations) {
      val contribs = e.join(ranks, e("src") === ranks("id"))
        .join(deg, "src")
        .select(col("dst"), (col("rank") / col("deg")).cast(dec).as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).cast(dec).as("in_sum"))
      ranks = nodes.join(contribs, nodes("id") === contribs("dst"), "left")
        .select(col("id"),
          (lit(base.setScale(18, BigDecimal.RoundingMode.HALF_UP)).cast(dec) +
            (lit(damping).cast("decimal(3,2)") * coalesce(col("in_sum"), lit(0).cast(dec))).cast(dec))
            .cast(dec).as("rank"))
        .transform(Ckpt.eagerCkpt)
      i += 1
    }
    ranks
  }

  /** One row per duplicate cluster: (cluster_id, members array sorted,
    * n_members). cluster_id doubles as the canonical keeper id. */
  def dupClusters(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(edges, aCol, bCol)
      .groupBy("cluster_id")
      .agg(sort_array(collect_list(col("id"))).as("members"), count(lit(1)).as("n_members"))

  /** Multi-source BFS min-hop distances over the undirected (aCol, bCol)
    * edge graph, from the given seed nodes (one `id` column). Returns
    * (id, dist) for every node reachable from a seed, dist = MINIMUM hop
    * count (seeds get 0).
    *
    * Classic frontier-layer expansion: round k's frontier is exactly the
    * set of nodes first reached at distance k (the anti-join against the
    * settled set enforces the BFS invariant), so each round is one
    * equi-join frontier×edges + one min-agg + one anti-join, and the
    * loop runs `eccentricity` rounds — NOT O(V). Frontiers shrink as the
    * component saturates; state is localCheckpointed per round (bounded
    * lineage), and the loop exits on the first empty frontier. Per-node
    * work is degree-proportional; no global collect anywhere.
    */
  def bfsDistances(
      edges: DataFrame,
      seeds: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 30
  ): DataFrame = {
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .transform(Ckpt.eagerCkpt) // edge derivation runs once, not per BFS round
    // frontier sizes ride each round's checkpoint job via observe (guide
    // §1.2, r15) — the loop-top isEmpty was a second per-round job over
    // the frontier blocks just written
    val (seeded, seedMeter) = Ckpt.eagerCkptMetered(
      seeds.select(col("id")).distinct().withColumn("dist", lit(0L)),
      count(lit(1)))
    var settled = seeded
    var frontier = seeded
    var frontierN = seedMeter.getLong(0)
    var it = 0
    while (it < maxIter && frontierN > 0) {
      // read twice: union into settled + next frontier
      val (next, meter) = Ckpt.eagerCkptMetered(
        frontier.join(und, frontier("id") === und("src"))
          .groupBy(col("dst").as("nid"))
          .agg(min(col("dist") + 1).as("ndist"))
          .join(settled, col("nid") === settled("id"), "left_anti")
          .select(col("nid").as("id"), col("ndist").as("dist")),
        count(lit(1)))
      settled = settled.unionByName(next).transform(Ckpt.eagerCkpt)
      frontier = next
      frontierN = meter.getLong(0)
      it += 1
    }
    // only a TRUNCATED run warns: hitting maxIter on the round that also
    // emptied the frontier is ordinary convergence (round-7 advisor)
    if (it == maxIter && frontierN > 0)
      log.warn(s"bfsDistances stopped at maxIter=$maxIter with a non-empty frontier — " +
        "distances beyond this eccentricity are missing; raise maxIter")
    else
      log.info(s"bfsDistances converged after $it rounds")
    settled
  }

  /** Bounded-hop weighted shortest paths (Bellman-Ford relaxation) over
    * the undirected weighted graph given by (srcCol, dstCol, wCol) edge
    * rows, from the seed nodes (one `id` column). Returns (id, dist) =
    * MINIMUM path cost over paths of AT MOST `maxHops` edges — the bound
    * is part of the operator's contract (deterministic work, no
    * convergence scan), which is what a lane/route analysis over a
    * 100 TB edge log wants anyway: k-hop reachability cost, k small.
    *
    * Each round is one equi-join dist×edges + one min-agg (relax), state
    * localCheckpointed per round; parallel edges collapse to their min
    * weight once, up front. Unlike BFS, a settled node can improve in a
    * later round (cheaper longer path), so there is no anti-join — the
    * min-agg does the work.
    */
  def boundedShortestPaths(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      maxHops: Int
  ): DataFrame = {
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).as("w"))
      .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst"), col(wCol).as("w")))
      .groupBy("src", "dst").agg(min("w").as("w"))
      .transform(Ckpt.eagerCkpt) // derived once, joined every round
    var dist = seeds.select(col("id")).distinct()
      .withColumn("dist", lit(0L))
      .transform(Ckpt.eagerCkpt)
    for (_ <- 1 to maxHops) {
      dist = dist.join(und, dist("id") === und("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
        .unionByName(dist)
        .groupBy("id").agg(min("dist").as("dist"))
        .transform(Ckpt.eagerCkpt)
    }
    dist
  }

  /** Global triangle census of an undirected graph, via degree-ordered
    * wedge counting (the standard distributed algorithm — Suri & Vassilvitskii,
    * WWW'11 "Counting Triangles and the Curse of the Last Reducer").
    *
    * Every edge is oriented from its lower-(degree, id) endpoint to the
    * higher one; a triangle {u,v,w} is then counted EXACTLY once, as a
    * wedge at its minimum vertex closed by the (v,w) edge. The payoff at
    * scale: under this orientation every out-degree is O(√m) on ANY
    * graph (including power-law graphs, where a naive wedge join at the
    * hub vertex is quadratic in the hub degree) — so the wedge self-join
    * has no hot key and the "last reducer" never materializes.
    * Vertex ordering uses struct(deg, id) comparison — no packed-key
    * overflow assumption on id ranges.
    *
    * Input: edge rows (aCol, bCol); duplicates/orientation/self-loops are
    * normalized away. Output: ONE row — n_nodes, n_edges, n_wedges
    * (Σ C(deg,2) — all center-vertex paths), n_triangles, and the global
    * clustering coefficient 3·T/W.
    */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
      // feeds the degree agg, the orientation join, and the closing join —
      // materialize once instead of re-deriving the pair pipeline 3×
      .transform(Ckpt.lazyCkpt)
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDegs = e
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), Seq("b"))
    def key(d: String, n: String) = struct(col(d).as("kd"), col(n).as("kn"))
    val aFirst = key("da", "a") < key("db", "b")
    val oriented = withDegs.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"))
      .transform(Ckpt.lazyCkpt) // adjacency agg + both attach joins read it
    // Compact-forward counting (r14 rewrite of the wedge join): a
    // triangle with orientation keys k_u < k_v < k_w carries oriented
    // edges u→v, u→w, v→w, so it is counted EXACTLY once — at its lowest
    // edge (u,v), as the common out-neighbor w of u and v. Attaching each
    // endpoint's sorted out-neighbor list to its edges and summing
    // |N⁺(u) ∩ N⁺(v)| in-row replaces the old plan's wedge
    // MATERIALIZATION (Σ d⁺² rows — 42M at sf0.1 — generated, shuffled
    // and semi-join-probed) with the same Σ d⁺² work as packed array
    // elements inside |E| rows and zero extra shuffles past the two
    // attach joins. Out-degrees are O(√m) under the (deg, id)
    // orientation, so no adjacency array is more than √m long (the
    // ArrayAggAudit per-entity bound) and no intersection is hot.
    val adj = oriented.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .transform(Ckpt.lazyCkpt) // both attach joins read it
    val tri = oriented
      .join(adj.select(col("u"), col("nbrs").as("na")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nb")), Seq("v"))
      // coalesce: an intersection-free graph sums over zero rows (NULL)
      // where the old wedge COUNT returned 0 — keep the 0
      .agg(coalesce(sum(size(array_intersect(col("na"), col("nb")))), lit(0L))
        .cast("bigint").as("n_triangles"))
    val totals = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(deg) div 2").as("n_edges"),
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    totals.crossJoin(broadcast(tri)) // 1-row × 1-row
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        (lit(3.0) * col("n_triangles").cast("double") / col("n_wedges").cast("double"))
          .as("global_clustering"))
  }

  /** k-core of an undirected graph: the maximal induced subgraph where
    * every node keeps degree ≥ k — the standard link-graph quality core
    * (spam/fringe pages peel off; the densely-linked center remains).
    *
    * Iterative peeling: drop all nodes with degree < k, recompute on the
    * induced subgraph, repeat to fixpoint. Each round is one degree agg
    * + two semi-joins over the surviving edge set (shrinking
    * monotonically — round cost only ever goes down); state is
    * localCheckpointed per round like connectedComponents, so lineage
    * stays flat. Rounds = the graph's degeneracy-peeling depth, which
    * is NOT bounded by max degree — a path graph at k=2 peels two
    * nodes per round, Θ(n) rounds — so `maxIter` is a hard backstop
    * and hitting it FAILS (an over-included "core" silently breaks the
    * minimum-degree invariant downstream; round-8 advisor item 2). The
    * fixpoint is verified by edge count, which the round has already
    * materialized — no extra pass.
    *
    * Output: one row per core member — (node, core_deg) with core_deg
    * its degree INSIDE the core (≥ k by construction).
    */
  /** Degree assortativity (Newman 2002 PRL 89.208701): the Pearson
    * correlation of endpoint degrees across UNDIRECTED edges — positive
    * = hubs link to hubs (social nets), negative = hub-and-spoke
    * (the web, crawl graphs). A crawl-curation signal: a strongly
    * disassortative domain graph means link-based quality propagation
    * (PageRank-ish) concentrates on a few hubs.
    *
    * Exactness: each edge contributes its two endpoint degrees in BOTH
    * orientations (the standard undirected convention — 2m samples), so
    * every moment Σx, Σx², Σxy is an exact DECIMAL(38,0) integer off
    * one degree agg + two broadcast joins; the numerator/denominator
    * cross-products stay decimal-exact and ONE double division + sqrt
    * finishes. Symmetric orientation makes Σx = Σy by construction, so
    * only one marginal is carried. Shape: degree agg (one shuffle) +
    * two broadcast-or-shuffle hash joins on the edge list + a 1-row agg
    * — no windows, no iteration. */
  def degreeAssortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).cast("long").as("deg"))
    val both = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
    // both orientations: (da,db) and (db,da) — 2m samples, Σx = Σy
    val samples = both.select(col("da").as("x"), col("db").as("y"))
      .unionAll(both.select(col("db").as("x"), col("da").as("y")))
    samples.agg(
        count(lit(1)).cast("long").as("n_samples"),
        sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)").as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxy"))
      .select(
        (col("n_samples") / 2).cast("long").as("n_edges"),
        col("sx").cast("long").as("sum_deg"),
        col("sxy").cast("long").as("sum_xy"),
        // r = (nΣxy − (Σx)²) / (nΣx² − (Σx)²): one division, no sqrt —
        // the symmetric-orientation identity collapses both marginals
        ((col("n_samples") * col("sxy") - col("sx") * col("sx"))
          .cast("decimal(38,0)").cast("double")
          / (col("n_samples") * col("sxx") - col("sx") * col("sx"))
            .cast("decimal(38,0)").cast("double")).as("assortativity"))
  }

  def kcore(edges: DataFrame, aCol: String, bCol: String, k: Int, maxIter: Int = 50): DataFrame = {
    val canon = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    // surviving-edge counts ride each round's checkpoint job via observe
    // (guide §1.2, r15): the fixpoint test was a second per-round count
    // job over the edge blocks just written
    val (und0, undMeter) = Ckpt.eagerCkptMetered(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(canon.select(col("b").as("src"), col("a").as("dst"))),
      count(lit(1)))
    var und = und0
    var nEdges = undMeter.getLong(0)
    var it = 0
    var done = nEdges == 0
    while (it < maxIter && !done) {
      val keep = und.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
        .transform(Ckpt.eagerCkpt) // both semi-joins read it
      val (next, meter) = Ckpt.eagerCkptMetered(
        und
          .join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi"),
        count(lit(1)))
      val n = meter.getLong(0)
      done = n == nEdges
      und = next; nEdges = n; it += 1
    }
    if (it == maxIter && !done)
      throw new IllegalStateException(
        s"kcore did not reach its fixpoint in maxIter=$maxIter rounds — " +
          "the surviving subgraph would over-include nodes below degree " +
          s"$k; raise maxIter (peeling depth is the graph's degeneracy " +
          "round count, Θ(n) on path-like graphs)")
    und.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** One SYNCHRONOUS Louvain phase-1 sweep from singleton communities
    * (Blondel et al. 2008 §2) over a weighted undirected edge table
    * `(a, b, w)` with a < b: every node evaluates moving into each
    * neighbor's singleton community; since 2m² > 0, the modularity-gain
    * argmax is INTEGER-exact on `gain_num = 2m·w_ij − k_i·k_j` (longs —
    * fine to k ~ 10⁹; the outer Louvain loop coarsens long before
    * that). Deterministic tie-break (max gain_num, then min candidate
    * id); a node moves only on gain_num > 0, else keeps its own id.
    * Precondition: node ids are ≥ 0 and never `Long.MinValue` — the
    * min-id tie-break is encoded as max(−j), and −Long.MinValue overflows
    * to itself. Remap full-range (e.g. xxhash64) ids first.
    * Returns (node, k, community, best_gain_num, moved). Scale: m and
    * the degrees are edge aggregates, the per-node argmax a partial-
    * aggregating max(struct) over each node's neighbor list — two
    * shuffles beyond whatever produced the edges, and a hot node's
    * candidates collapse map-side before the exchange.
    */
  def louvainSweep(wEdges: DataFrame): DataFrame = {
    val w = wEdges.transform(Ckpt.lazyCkpt) // m + both directed scans
    val m = w.agg(sum("w").cast("long").as("m"))
    val dir = w.select(col("a").as("i"), col("b").as("j"), col("w"))
      .unionByName(w.select(col("b").as("i"), col("a").as("j"), col("w")))
    val deg = dir.groupBy("i").agg(sum("w").cast("long").as("k"))
    val cand = dir
      .join(deg, Seq("i"))
      .join(deg.select(col("i").as("j"), col("k").as("k_j")), Seq("j"))
      .crossJoin(broadcast(m))
      .withColumn("gain_num",
        lit(2L) * col("m") * col("w") - col("k") * col("k_j"))
    // (r15) argmax as a partial-aggregating max(struct) instead of a
    // row_number window: the window shuffled EVERY candidate row and
    // sorted each node's full neighbor list; the aggregate reduces a
    // node's candidates to one row map-side before the exchange, so a
    // hot node's cost is bounded by its per-partition degree at any
    // scale. Tie-break unchanged: max gain_num, then min j (as max −j);
    // k rides along (constant per node, never decides the comparison).
    cand
      .groupBy(col("i").as("node"))
      .agg(max(struct(col("gain_num"), (-col("j")).as("nj"), col("k"))).as("best"))
      .select(col("node"), col("best.k").as("k"),
        when(col("best.gain_num") > 0, -col("best.nj")).otherwise(col("node"))
          .as("community"),
        col("best.gain_num").as("best_gain_num"),
        (col("best.gain_num") > 0).as("moved"))
  }
}
