package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over plain edge lists — operators the
  * reference's FalkorDB backend would run as GraphBLAS kernels, expressed
  * as DataFrame programs.
  */
object GraphAlgorithms {

  /** Exact triangle count of the undirected graph given as a pair list.
    *
    * Node-iterator with DEGREE ORIENTATION (Suri & Vassilvitskii, WWW'11
    * "Counting Triangles and the Curse of the Last Reducer"): every edge is
    * oriented from its lower-(degree, id) endpoint to the higher one, so a
    * triangle is counted exactly once — at its minimum-key vertex — and,
    * crucially, the per-node out-degree is O(√m), which bounds the wedge
    * fan-out that kills the naive id-oriented plan on skewed graphs (a hub
    * node with degree d would otherwise emit d²/2 wedges on one reducer).
    *
    * Shuffle budget: degree count, adjacency groupBy, and (beyond the
    * broadcast guard) the two closing joins. Exact integer output —
    * oracle-friendly. */
  def triangleCount(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b",
      broadcastEdgeLimit: Long = 3000000L): DataFrame = {
    val e = pairs
      .select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .filter(col("x") =!= col("y")).distinct()
      .localCheckpoint(true) // read by the degree count AND the orientation
    val deg = e.select(explode(array(col("x"), col("y"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient each edge lower-(deg, id) endpoint → higher; only (lo, hi)
    // survive — the degree columns exist solely to decide the orientation
    val lower = struct(col("dx"), col("x")) < struct(col("dy"), col("y"))
    val oriented = e
      .join(deg.select(col("n").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("deg").as("dy")), "y")
      .select(
        when(lower, col("x")).otherwise(col("y")).as("lo"),
        when(lower, col("y")).otherwise(col("x")).as("hi"))
      .localCheckpoint(true) // adjacency build + both closing joins read it
    // Adjacency-intersection closing (Schank-Wagner edge-iterator): each
    // triangle {a,b,c} with a < b < c in orientation order is counted
    // exactly once, at edge (a,b), as c ∈ adj⁺(a) ∩ adj⁺(b). This
    // replaces the explicit wedge self-join, whose per-apex quadratic
    // expansion is APEX-SKEWED: profiled at sf0.1 the wedge stage ran 16
    // AQE-coalesced tasks with one ~4 s straggler (hot apex) for a 4.5 s
    // stage. Here the work is spread per-EDGE, each row costing
    // |adj⁺(lo)| + |adj⁺(hi)| ≤ 2·O(√m) — no row is hot. When the
    // adjacency table passes the size guard it is broadcast (two map-side
    // joins, no shuffle of the edge set at all); beyond the guard both
    // joins fall back to stats-driven shuffles, still skew-bounded by the
    // per-row degree cap.
    val adj = oriented.groupBy(col("lo"))
      .agg(sort_array(collect_list(col("hi"))).as("adj"))
    val small = graft.util.LimitProbe.atMost(oriented, broadcastEdgeLimit)
    val adjLo = adj.select(col("lo"), col("adj").as("adj_lo"))
    val adjHi = adj.select(col("lo").as("hi"), col("adj").as("adj_hi"))
    oriented.select(col("lo"), col("hi"))
      .join(if (small) broadcast(adjLo) else adjLo, Seq("lo"))
      .join(if (small) broadcast(adjHi) else adjHi, Seq("hi"))
      .select(size(array_intersect(col("adj_lo"), col("adj_hi"))).as("c"))
      .agg(coalesce(sum(col("c")), lit(0)).cast("long").as("n_triangles"))
  }

  /** Multi-source BFS: minimum hop distance from a seed set along directed
    * edges (the Cypher `shortestPath((s)-[*]->(n))` hop count for every
    * reachable n — cf. /root/reference/api/graph.py find_paths, which
    * enumerates paths; this is its aggregate twin).
    *
    * Level-synchronous frontier expansion: round k joins the depth-k
    * frontier to the edge table, anti-joins the visited set, and labels the
    * survivors depth k+1 — each node is settled the FIRST time it appears,
    * which for unweighted edges is its true minimum distance, so no
    * re-labeling pass is needed (Dijkstra degenerates to BFS).
    *
    * Scale: rounds = graph eccentricity from the seed set (driver-synced —
    * inherent to BFS; chains centuries long want [[GraphParityQueries
    * .g06ChainWalk]]'s pointer doubling instead). Per round only the
    * frontier shuffles: the edge table is repartition(src)+cache()d once so
    * its side of every join is exchange-free, and the frontier/visited
    * frames are eagerly localCheckpoint'ed to cut lineage (round k's plan
    * would otherwise replay rounds 1..k-1). Memory: visited grows to the
    * reachable set — at 100 TB keep it as a checkpointed table, which this
    * is. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int = 64,
      srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id"): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .repartition(col("src"))
      .cache()
    var visited = seeds.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var frontier = visited
    var depth = 0
    var exhausted = false
    while (!exhausted && depth < maxDepth) {
      depth += 1
      val next = frontier.select(col("id").as("src"))
        .join(e, Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .withColumn("dist", lit(depth.toLong))
        .localCheckpoint(true)
      if (next.isEmpty) exhausted = true
      else {
        visited = visited.union(next).localCheckpoint(true)
        frontier = next
      }
    }
    e.unpersist()
    visited
  }

  /** PageRank in FIXED-POINT integer arithmetic — bit-identical on any
    * engine, any partitioning, any cluster size.
    *
    * Float PageRank is non-deterministic across engines (summation order),
    * which blocks exact verification. Quantizing to integer units
    * (`scale` = one unit of rank mass, damping fixed at 17/20 = 0.85)
    * makes every step exact: contributions are integer divisions, sums are
    * order-independent long additions, so the result hash-matches an
    * unrolled SQL formulation. Dangling-node mass is dropped (the classic
    * simplified formulation).
    *
    * Scale: each iteration is ONE equi-join + one grouped sum (map-side
    * partial agg). The static out-degree is fused into the edge table ONCE
    * up front (not re-joined every iteration). The iteration state is kept
    * SPARSE — only the grouped in-link sums — and the rank of a node
    * absent from the sums (no in-links: rank = the base constant after
    * iteration 1) is folded into the contribution join as the outer-join
    * default, so the full node list is joined exactly once at the end, not
    * once per iteration. Lineage is cut every iteration: with a cut per
    * iteration every iteration ≥2 is the same literal-free plan shape
    * (scan-of-checkpoint ⋈ eDeg → grouped sum), so a cold session
    * Janino-compiles ~2 shapes instead of one per chained depth — cold
    * wall 22.9 s vs 25.4 s (cadence 3) vs 25.2 s (cadence 10) at sf0.1,
    * steady-state equal within noise (~4.5 s). The edge side
    * is repartition(src)+cache()d — NOT localCheckpoint'ed, which drops
    * outputPartitioning (the scan comes back as an ExistingRDD with
    * unknown distribution) and would re-shuffle the edge table under every
    * iteration's join; the cache keeps the hash distribution visible so
    * only the sparse rank side moves. Headroom: n_nodes × scale × 17 must
    * stay below 2⁶³ — at 10¹² nodes drop `scale` to 10⁵. */
  def pageRankFixed(edges: DataFrame, iters: Int = 10,
      scale: Long = 1000000L, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // ONE exchange builds the whole iteration input (was three: distinct,
    // degree groupBy+join, repartition — ~7 s of the 20 s profile at
    // sf0.1): groupBy(src).collect_set(dst) dedups, counts the degree and
    // lands partitioned on src in a single shuffle; explode preserves the
    // partitioning, so the per-iteration contribution join still moves
    // only the sparse rank side. cache() (not localCheckpoint) keeps that
    // outputPartitioning visible to Catalyst. Memory shape: one source's
    // out-list lives in one row while the stage runs — the standard
    // adjacency-list representation; a hub node's list is the same skew
    // exposure the degree groupBy already had. Safe to unpersist before
    // returning: the last iteration's sums are eagerly checkpointed, so
    // no returned plan reads it.
    val eDeg = raw.groupBy(col("src"))
      .agg(collect_set(col("dst")).as("dsts"))
      .select(col("src"), size(col("dsts")).cast("long").as("odeg"),
        explode(col("dsts")).as("dst"))
      .cache()
    // full node set (rank-of-absent fold at the end): sources are the
    // grouped keys (already distinct); only dst needs a dedup pass.
    val nodes = eDeg.select(col("src").as("id"))
      .union(raw.select(col("dst").as("id"))).distinct().localCheckpoint(true)
    val base = scale * 3 / 20 // (1 - d) mass per node, d = 17/20
    // rank_{k-1} as an expression over the sparse sums (null ⇒ no in-links)
    val rankOfSum = lit(base) +
      expr("(17 * coalesce(s, cast(0 as bigint))) div 20")
    var summed: DataFrame = null // null ⇒ iteration 0: rank = scale
    try {
      for (_ <- 1 to iters) {
        val joined =
          if (summed == null) eDeg.withColumn("rank", lit(scale))
          else eDeg
            .join(summed.withColumnRenamed("id", "src"), Seq("src"), "left_outer")
            .withColumn("rank", rankOfSum)
        summed = joined
          .select(col("dst").as("id"), expr("rank div odeg").as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("s"))
          .localCheckpoint(true)
      }
    } finally {
      // in the finally: an exception mid-loop (e.g. during the concurrent
      // bench warmup) must not leave the cached edge table orphaned in
      // the long-lived session's storage pool
      eDeg.unpersist()
    }
    if (summed == null) nodes.withColumn("rank", lit(scale))
    else nodes.join(summed, Seq("id"), "left_outer")
      .select(col("id"), rankOfSum.as("rank"))
  }

  /** k-core peeling (Seidman 1983; the distributed level-synchronous
    * form): repeatedly delete every node whose UNDIRECTED degree over the
    * distinct directed edge set falls below k, until the fixpoint — the
    * k-core — or the round budget. Returns the surviving node ids after
    * `rounds` synchronous rounds; once a round deletes nothing the loop
    * short-circuits, so for rounds ≥ the convergence round the result IS
    * the k-core. Fixed-round semantics keep the operator oracle-exact
    * (the SQL twin unrolls the same rounds) — the same contract as
    * [[pageRankFixed]].
    *
    * Scale: each round is one degree aggregation (map-side partial over
    * the doubled edge list) and two semi-joins on the survivor set, all
    * equi-shuffles on node id; lineage is cut per round with
    * localCheckpoint like every iterative here. Isolated nodes never
    * appear (degree 0 < k for any k ≥ 1). */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1 && rounds >= 1, "k-core needs k >= 1 and rounds >= 1")
    var e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(true)
    var survivors: DataFrame = null
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      r += 1
      val deg = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      survivors = deg.filter(col("deg") >= k).select(col("id"))
      // prune via the BAD set (deg < k), not the survivor set: after the
      // first round only the newly-sub-k fringe is bad, so the anti-join's
      // build side is small and (under the probe) broadcastable — the
      // alive edge set never re-shuffles. Survivor semi-joins would
      // shuffle the full edge table twice per round for the same answer
      // (an edge survives iff NEITHER endpoint is bad; endpoints always
      // appear in deg, so the anti-join sees every edge's endpoints).
      var bad = deg.filter(col("deg") < k).select(col("id"))
      // ONE probe job answers both the fixpoint test and the broadcast
      // guard (round-16: isEmpty + atMost were two scheduling barriers
      // per round on the same frame)
      val badCount = graft.util.LimitProbe.countAtMost(bad, 2000000)
      if (badCount == 0L) converged = true // fixpoint: nothing left to peel
      else {
        if (badCount <= 2000000L) bad = broadcast(bad)
        e = e
          .join(bad.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(bad.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .localCheckpoint(true)
      }
    }
    survivors
  }

  /** Semi-synchronous label propagation (Raghavan–Albert–Kumara 2007) —
    * community detection with ENGINE-EXACT semantics: every node starts
    * as its own label; each of `iters` synchronous rounds a node adopts
    * the label held by the plurality of its (undirected) neighbors, ties
    * broken toward the SMALLEST label, isolated-this-round nodes keep
    * their label. All integer ops with total tie-orders, so a fixed
    * iteration count is bit-identical on any engine / partitioning — the
    * same determinism contract as the fixed-point PageRank, and the
    * property the g13 oracle unrolls in SQL.
    *
    * Scale: per round ONE equi-join (edges × labels on the neighbor key)
    * + one grouped count + one argmax agg (`max(struct(cnt, -lbl))` —
    * no window, so the plurality pick is a partial-aggregable shuffle on
    * the node key, not a sort). The undirected edge list is deduped and
    * cached once; labels are checkpointed per round to cut lineage.
    * Returns (id, lbl). */
  def labelPropagation(edges: DataFrame, iters: Int = 3,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val dir = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val und = dir
      .union(dir.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      // partition by the per-round JOIN key FIRST, dedup locally after:
      // HashPartitioning(u) satisfies the dedup's ClusteredDistribution
      // (u, v) — every copy of (u, v) lands in u's partition — so the
      // round-17 shape pays ONE edge-sized exchange where
      // distinct().repartition(u) paid two (plan-verified; the edge
      // table then stays stationary across all rounds and only the
      // node-sized label frame shuffles to meet it — the pageRankFixed
      // posture)
      .repartition(col("u"))
      .dropDuplicates("u", "v")
      .cache()
    // labels₀ is the identity map; it is only ever MATERIALIZED for an
    // iters == 0 call — round 1 never reads it (see below)
    var labels: DataFrame =
      if (iters >= 1) null
      else und.select(col("u").as("id")).distinct()
        .withColumn("lbl", col("id"))
        .localCheckpoint(true)
    var it = 0
    try {
      while (it < iters) {
        it += 1
        labels = if (it == 1) {
          // Round-1 strength reduction (round 17): labels are the
          // identity map by construction, so every neighbor's label is
          // its own id — each (v, lbl) group counts exactly 1 (und is
          // deduped) and the plurality argmax (max cnt, tie toward the
          // SMALLEST label) degenerates to min(neighbor id). One
          // partial-aggregable min per node replaces round 1's label
          // join and two-level count/argmax aggregation. Every node
          // appears as v (und is symmetric), so no keep-own-label
          // fall-through is needed. Pinned equal to the generic round
          // by GraphAlgorithmsSpec.
          und.groupBy(col("v"))
            .agg(min(col("u")).as("lbl"))
            .select(col("v").as("id"), col("lbl"))
            .localCheckpoint(true)
        } else {
          val counts = und
            .join(labels.select(col("id").as("u"), col("lbl")), Seq("u"))
            .groupBy(col("v"), col("lbl"))
            .agg(count(lit(1)).as("cnt"))
          val best = counts.groupBy(col("v"))
            .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("b"))
            .select(col("v").as("id"), (-col("b.neg")).as("new_lbl"))
          labels.join(best, Seq("id"), "left")
            .select(col("id"),
              coalesce(col("new_lbl"), col("lbl")).as("lbl"))
            .localCheckpoint(true)
        }
      }
    } finally und.unpersist() // never orphan the cached edges on a throw
    labels
  }
}
