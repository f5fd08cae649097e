package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}

/** Iterative / combinatorial graph analytics over relations — PageRank
  * and triangle counting, the two canonical "not just SQL" distributed
  * graph kernels, expressed as join+aggregate algebra so Catalyst (AQE,
  * broadcast selection, partial aggregation) still plans every step.
  * The graph is derived from `lineitem`: who-supplies-what is a natural
  * bipartite part↔supplier graph, and parts co-purchased in one order
  * form the co-occurrence graph — both reproducible in ANSI SQL, so the
  * kernels stay oracle-paired despite being iterative.
  */
object Graph {

  /** PageRank (damping 0.85, 3 synchronous iterations, uniform init)
    * over the undirected part↔supplier bipartite graph; emits the
    * top-100 nodes by rounded rank. Fixed iteration count keeps the
    * result closed-form — the oracle unrolls the same three steps as
    * chained CTEs, so an ITERATIVE distributed kernel is still
    * hash-checked exactly.
    *
    * Scale shape (r8 rewrite — linear in iterations, single edge
    * materialization, nothing big ever joins shuffle-side):
    *   1. the symmetric edge list materializes ONCE (eager
    *      localCheckpoint) — ONE lineitem scan + the pair-distinct
    *      shuffle, total;
    *   2. the degree frame aggregates off that checkpoint to node
    *      grain and is checkpointed too (~|V| rows);
    *   3. each iteration broadcasts the NODE-GRAIN frame
    *      ranks ⋈ deg (contribution r·(1/deg) — the per-edge weight
    *      never materializes as an edge-sized column at all), joins it
    *      map-side against the edge checkpoint, and partial-aggregates
    *      per dst BEFORE its exchange — the only per-iteration shuffle
    *      carries node-grain partials;
    *   4. the rank frame is checkpointed PER ITERATION so iteration
    *      i's broadcast reads iteration i−1's materialized rows
    *      instead of re-executing the whole rank lineage (the r7
    *      uncached chain made work quadratic in the iteration count).
    * The kernel runs in a `Checkpoints.scoped` block: every checkpoint
    * but the final rank snapshot the result reads is released on
    * return, and all of them if a step throws — nothing accumulates in
    * the long-lived harness session. At 100 TB ranks may outgrow a
    * broadcast; the fallback is a shuffle hash join against the edge
    * checkpoint pre-partitioned on src. Every node has outdegree ≥ 1
    * by construction (undirected edges), so no dangling-mass
    * correction term is needed; top-100 is distributed
    * TakeOrderedAndProject, never a global sort.
    */
  def graphPagerank(s: SparkSession, sf: String): DataFrame = Checkpoints.scoped { cp =>
    // nodes travel as LONGS internally (part k → 2k, supplier k → 2k+1):
    // the "p…"/"s…" strings the result (and oracle) speak are built only
    // on the final 100 rows — hashing/shuffling strings through every
    // distinct, groupBy, and broadcast measured ~2× the whole kernel.
    // The distinct itself is the session-memoized bipartite checkpoint.
    val li = bipartiteEncoded(s, sf)
    val edges = cp(li.select(col("p").as("src"), col("q").as("dst"))
      .unionAll(li.select(col("q").as("src"), col("p").as("dst"))))
    val deg = cp(edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    // node count stays IN-PLAN (broadcast scalar, the repo's q2-style
    // pattern) — no driver-side count() action before the real work;
    // deg is already node-grain, so it IS the node universe
    var ranks = deg.select(col("src").as("node"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("nn"))))
      .select(col("node"), (lit(1.0) / col("nn")).as("r"), col("nn"))
    for (_ <- 1 to 3) {
      // contribution = r · (1/deg): multiplied EXACTLY as the oracle's
      // r * w (w = 1.0/deg) — same IEEE ops, node-grain, tiny broadcast
      val contrib = ranks.join(deg, col("node") === col("src"))
        .select(col("node"), (col("r") * (lit(1.0) / col("deg"))).as("c"),
                col("nn"))
      ranks = cp(edges.join(broadcast(contrib), col("src") === col("node"))
        .groupBy(col("dst").as("node"))
        .agg(((lit(0.15) / max(col("nn"))) +
              lit(0.85) * sum(col("c"))).as("r"),
             max(col("nn")).as("nn")))
    }
    // the returned plan reads only the final rank snapshot, so the scope
    // keeps that checkpoint and frees the edge, degree and earlier ranks
    ranks
      .select(concat(when(col("node") % 2 === 0, lit("p")).otherwise(lit("s")),
                     shiftright(col("node"), 1)).as("node"),
              round(col("r"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node").asc)
      .limit(100)
  }

  /** Triangle census of the co-purchase graph: parts are linked when
    * they appear in ≥ 2 distinct common orders (the support threshold
    * that separates signal from basket noise — and bounds the edge
    * set), and triangles are counted by the standard oriented
    * edge-edge-edge join (a < b < c, each edge checked once).
    *
    * Scale shape: pair generation is blocked per order (Σ basket²,
    * never global n²); the support filter then shrinks edges by an
    * order of magnitude before the only superlinear step. The triangle
    * join is two hash joins over the ORIENTED edge list — orientation
    * (src < dst) both deduplicates and caps the join fan-out by
    * out-degree; with D the max oriented degree, work is O(|E|·D), the
    * node-iterator bound. Skewed hubs: orientation already assigns a
    * hub's triangles to its smaller neighbors; residual skew is AQE's
    * to split.
    */
  def graphTriangles(s: SparkSession, sf: String): DataFrame = {
    // session-memoized checkpoint shared with the 6 other co-purchase
    // kernels — the three self-join consumers read materialized rows
    val edges = coPurchaseEdges(s, sf)
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.v") === col("e2.u"))
      .join(edges.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .agg(count(lit(1)).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(tri)
      .select(col("n_edges"), col("n_triangles"))
  }

  /** Connected components of the near-duplicate document graph — the
    * multi-hop closure that turns pairwise near-dup EDGES
    * (dedup_ngram_jaccard's Jaccard ≥ 0.9 pairs) into duplicate GROUPS.
    * Near-duplication is not transitive, but dedup POLICY is applied
    * per component (keep one representative per chain: A~B, B~C drops
    * two docs even when A≁C), so the component labeling IS the
    * production semantics. dedup_cluster's exact-hash groups are
    * single-hop by construction; this key is the true iterative
    * labeling, and the oracle replays it to FIXPOINT with a recursive
    * CTE — an iterative distributed kernel that is still hash-checked
    * exactly. Label = min doc_id of the component; singletons label
    * themselves; n_members makes the group structure visible.
    *
    * Scale shape: delegates to the two-phase connectedComponents
    * engine (Dedup.scala): edges ≤ the bounded probe run driver-side
    * union-find and broadcast ONLY the non-singleton label map back —
    * nodes are never collected; past the cap it switches to the
    * distributed pointer-jumping loop (O(log d) node-grain shuffles).
    * The member count is a window partitioned by component — component
    * cardinality is data-proportional, never a global window.
    */
  def graphConnectedComponents(s: SparkSession, sf: String): DataFrame = {
    val edges = Dedup.dedupNgramJaccard(s, sf)
      .select(col("id1").as("a"), col("id2").as("b"))
    val nodes = Tables.documents(s, sf).select(col("doc_id").as("id"))
    Dedup.connectedComponents(nodes, edges)
      .select(col("id").as("doc_id"), col("label").as("component"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("component"))).cast("bigint"))
      .orderBy("doc_id")
  }

  /** Degree distribution of the part↔supplier bipartite graph — the
    * first profiling question asked of any large graph (is it
    * power-law? how heavy is the hub tail?) and the input to every
    * skew-aware partitioning decision the other kernels make. Emits
    * one row per (side, degree) with the node count at that degree
    * plus each side's share, so both marginal distributions land in a
    * single small frame.
    *
    * Scale shape: ONE pair-distinct shuffle builds the edge set (the
    * same shape pagerank/triangles start from), then each side is a
    * node-grain partial-aggregated count followed by a degree-grain
    * re-count — the second aggregate's input is ≤ |V| rows and its
    * output ≤ max-degree rows. The per-side total for the share column
    * comes from a window over the tiny degree frame (≤ thousands of
    * rows at any SF), never a second scan. Nothing here ever holds an
    * edge-sized frame past the first aggregate, so the plan survives a
    * 100× scale-up unchanged.
    */
  def graphDegreeStats(s: SparkSession, sf: String): DataFrame = {
    // same distinct as the hits/pagerank/random_walk kernels — the
    // session-memoized checkpoint; long keys aggregate identically to
    // the original int columns
    val e = bipartiteEdges(s, sf)
      .select(col("p").as("l_partkey"), col("q").as("l_suppkey"))
    def side(key: String, name: String): DataFrame =
      e.groupBy(col(key)).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .select(lit(name).as("side"), col("degree"), col("n_nodes"))
    side("l_partkey", "part").unionByName(side("l_suppkey", "supplier"))
      .withColumn("node_share",
        round(col("n_nodes") /
          sum(col("n_nodes")).over(Window.partitionBy(col("side"))), 6))
      .orderBy("side", "degree")
  }

  /** Co-purchase edge set shared by seven graph kernels: parts linked
    * when they share ≥ 2 distinct orders (pairs are blocked per order,
    * Σ basket², never global n²). Memoized per (session, sf) as a pair
    * of localCheckpoints — oriented (u < v) and symmetrized — because
    * the harness amortizes ONE SparkSession across the whole key board
    * and each of the 7 consumers previously rebuilt the Σbasket²
    * self-join + support filter from scratch (~5-8 s of the graph
    * family's 31 s bench cost). The checkpoints live for the session
    * (the same amortization the shared session itself is) and are
    * released with it; they are taken outside any `Checkpoints.scoped`
    * block, so no kernel's scope can evict the shared frames. */
  private def coPurchaseFrames(s: SparkSession, sf: String): (DataFrame, DataFrame) =
    graft.SessionMemo(s, ("Graph.coPurchaseFrames", sf)) {
      val items = Tables.lineitem(s, sf)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val oriented = items.as("a").join(items.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(col("u"), col("v"))
        .localCheckpoint(true)
      val sym = oriented
        .unionAll(oriented.select(col("v").as("u"), col("u").as("v")))
        .localCheckpoint(true)
      (oriented, sym)
    }
  /** Distinct (part, supplier) bipartite edge set shared by four
    * kernels (hits, pagerank, random_walk, degree_stats) that each
    * previously re-derived the same lineitem-distinct — and graphHits
    * fed it to THREE reinforcement joins un-memoized, re-running the
    * scan+distinct per round (r10 verdict ask #2, board's most
    * expensive key at 3.28 s). Same session-lifetime amortization as
    * coPurchaseFrames above. Stored raw (p = partkey, q = suppkey as
    * longs); the 2k / 2k+1 node encodings pagerank and random_walk use
    * are bijective per side, so deriving them POST-memo is a cheap
    * projection that preserves distinctness. */
  private def bipartiteEdges(s: SparkSession, sf: String): DataFrame =
    graft.SessionMemo(s, ("Graph.bipartiteEdges", sf)) {
      Tables.lineitem(s, sf)
        .select(col("l_partkey").cast("long").as("p"),
                col("l_suppkey").cast("long").as("q"))
        .distinct()
        .localCheckpoint(true)
    }
  /** The memoized bipartite frame in the 2k / 2k+1 long-node encoding
    * pagerank and random_walk shuffle on (see pagerank's scaladoc for
    * why longs beat strings ~2×). */
  private def bipartiteEncoded(s: SparkSession, sf: String): DataFrame =
    bipartiteEdges(s, sf)
      .select((col("p") * 2).as("p"), (col("q") * 2 + 1).as("q"))

  /** Oriented (u < v) co-purchase edges, session-memoized. */
  private def coPurchaseEdges(s: SparkSession, sf: String): DataFrame =
    coPurchaseFrames(s, sf)._1
  /** Symmetrized co-purchase adjacency, session-memoized. */
  private def coPurchaseSym(s: SparkSession, sf: String): DataFrame =
    coPurchaseFrames(s, sf)._2

  /** Rich-club coefficient of the co-purchase graph — do the hub parts
    * preferentially co-occur with EACH OTHER? Nodes above the degree
    * p90 form the club; φ = density among club members over the whole
    * graph's density. φ ≫ 1 is the "core of bestsellers bought
    * together" structure assortativity's single correlation cannot
    * localize.
    *
    * Determinism: degrees are exact integers; the threshold is the
    * round-6 exact interpolated percentile (strictly-above membership
    * ties the same way on both engines); densities are exact-ratio
    * doubles with nullif-guarded denominators.
    *
    * Scale shape: rides the session-memoized symmetric adjacency; one
    * node-grain degree aggregate, a broadcast threshold, two semi-join
    * passes for the club edge count — no new pair spaces. */
  def graphRichClub(s: SparkSession, sf: String): DataFrame = {
    val sym = coPurchaseSym(s, sf)
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val th = broadcast(deg.agg(
      round(expr("percentile(d, 0.9)"), 6).as("p90")))
    val rich = deg.crossJoin(th)
      .filter(col("d").cast("double") > col("p90"))
      .select(col("u").as("rn"))
    val eRich = sym
      .join(rich.withColumnRenamed("rn", "u"), Seq("u"))
      .join(rich.withColumnRenamed("rn", "v"), Seq("v"))
      .agg(count(lit(1)).as("e_rich"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(sym.agg(count(lit(1)).as("e_all")))
      .crossJoin(rich.agg(count(lit(1)).as("n_rich")))
      .crossJoin(eRich)
      .crossJoin(th)
      .select(col("n_nodes").cast("bigint").as("n_nodes"),
        col("e_all").cast("bigint").as("n_edges_sym"),
        col("p90").as("deg_p90"),
        col("n_rich").cast("bigint").as("n_rich"),
        col("e_rich").cast("bigint").as("n_edges_rich"),
        round(col("e_rich").cast("double") /
          nullif((col("n_rich") * (col("n_rich") - 1L)).cast("double"),
            lit(0.0d)), 6).as("density_rich"),
        round(col("e_all").cast("double") /
          nullif((col("n_nodes") * (col("n_nodes") - 1L)).cast("double"),
            lit(0.0d)), 6).as("density_all"))
      .withColumn("rich_club_ratio",
        round(col("density_rich") / nullif(col("density_all"), lit(0.0d)), 6))
  }

  /** Breadth-first search over the co-purchase graph: hop distance from
    * the minimum part id in the edge set, four synchronous frontier
    * expansions, emitted as the reachability profile (one row per hop
    * level with the node count first reached there). The fixed depth
    * keeps the result closed-form — the oracle replays the same four
    * levels with a recursive CTE whose per-node min(dist) equals
    * first-visit level, so the iterative kernel is hash-checked
    * exactly.
    *
    * Scale shape: the frontier loop is the textbook distributed BFS —
    * each level is ONE hash join (frontier ⋈ edges, frontier always the
    * small build side) plus a node-grain distinct and an anti-join
    * against the visited set; every level is localCheckpoint'ed so
    * level i reads level i−1's materialized rows instead of replaying
    * the whole expansion lineage (work linear in depth, the pagerank
    * lesson). Frontiers and the visited set are node-grain — edge-sized
    * frames exist only inside a single level's join. The checkpoint
    * scope frees every checkpoint but the final aggregate's on exit. At
    * 100 TB the visited anti-join shuffles on node id per level —
    * pre-partitioning visited and the symmetric edge list on the same
    * key makes the loop exchange-free after level 1.
    */
  def graphBfsDistance(s: SparkSession, sf: String): DataFrame = Checkpoints.scoped { cp =>
    val edges = coPurchaseSym(s, sf)
    // source = min node, derived in-plan (no driver .head()); an empty
    // edge set yields a null node filtered to an empty result
    var visited = cp(edges.agg(min(col("u")).as("node"))
      .filter(col("node").isNotNull)
      .select(col("node"), lit(0L).as("dist")))
    var frontier = visited
    for (d <- 1 to 4) {
      val next = cp(frontier.select(col("node").as("u"))
        .join(edges, Seq("u"))
        .select(col("v").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(d.toLong).as("dist")))
      // visited needs NO checkpoint of its own: it is a pure unionAll
      // of already-materialized frontier checkpoints, so its lineage
      // is depth-1 over checkpointed RDDs — dropping the per-level
      // visited materialization halves the kernel's checkpoint count
      visited = visited.unionAll(next)
      frontier = next
    }
    // Materialize the ≤5-row aggregate as its own checkpoint, so the
    // scope can release EVERY per-level frontier checkpoint: returning
    // visited's aggregate unmaterialized would keep all five (visited
    // is a unionAll whose leaves ARE the per-level checkpoints),
    // pinning 5 RDDs per invocation across the amortized session.
    cp(visited.groupBy(col("dist"))
      .agg(count(lit(1)).cast("bigint").as("n_nodes"))
      .orderBy("dist"))
  }

  /** Neighborhood-Jaccard link prediction over the co-purchase graph:
    * for every part pair sharing at least one common neighbor, the
    * Jaccard similarity of their neighbor sets |N(a)∩N(b)| /
    * (|N(a)|+|N(b)|−|N(a)∩N(b)|) — the classic common-neighbors score
    * that ranks parts bought alongside the SAME other parts even when
    * never co-purchased directly. Top-20 by score with a (a, b) total
    * tie-order, so the cutoff is deterministic on both engines.
    *
    * Scale shape: candidate pairs are generated by the wedge join
    * (adj ⋈ adj on the shared neighbor, a < b orientation halving the
    * space) — work is Σ_w deg(w)², the intrinsic common-neighbor
    * bound, never all-pairs; a skewed hub vertex w fans out deg(w)²
    * wedges and is the canonical AQE skew-split case (or cap hubs
    * first — production systems drop the top-degree percentile, which
    * contributes noise pairs anyway). Degree frames are node-grain and
    * join BROADCAST; the top-20 is distributed TakeOrderedAndProject,
    * never a global sort.
    */
  def graphJaccardNeighbors(s: SparkSession, sf: String): DataFrame = {
    val adj = coPurchaseSym(s, sf)
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val common = adj.as("x").join(adj.as("y"),
        col("x.v") === col("y.v") && col("x.u") < col("y.u"))
      .groupBy(col("x.u").as("a"), col("y.u").as("b"))
      .agg(count(lit(1)).as("common"))
    val scored = common
      .join(broadcast(deg.select(col("u").as("a"), col("deg").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("u").as("b"), col("deg").as("db"))), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        round(col("common").cast("double") /
          (col("da") + col("db") - col("common")), 6).as("jaccard"))
    val out = scored
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
      .limit(20)
      .select(col("a"), col("b"), col("common"), col("jaccard"))
    out
  }

  /** K-core peeling profile over the co-purchase graph: four rounds of
    * "drop every node with degree < 2, then re-count", emitting one row
    * per round with the surviving node and edge counts. The 2-core is
    * the standard noise filter before community/centrality analysis —
    * degree-1 tendrils carry no cycle structure, and removing them
    * exposes more sub-threshold nodes, hence the iterative peel. The
    * fixed round count keeps the result closed-form; the oracle unrolls
    * the same four peels as chained CTEs, so the iterative kernel is
    * hash-checked exactly.
    *
    * Scale shape: each round is one node-grain HashAggregate (degree
    * count, map-side combinable) plus two semi-joins filtering the edge
    * list to surviving endpoints — shuffle ∝ current edge count, which
    * only shrinks as the peel proceeds.
    *
    * r15 job shape (verdict ask #1 — cut stage counts on the bench
    * head): the four rounds build ONE declarative plan and materialize
    * through a SINGLE eager checkpoint of the 4-row stats union,
    * replacing the r14 form's ~10 per-round checkpoint jobs (4 keeps +
    * 2 adjacency cadence + 4 stat rows). Within the one plan, Catalyst
    * exchange reuse does what the checkpoints did: round r's degree
    * aggregate and both of its semi-join probe sides hash-partition the
    * SAME adjacency subtree on the same keys, so each round's shuffles
    * compute once and every later consumer reads a ReusedExchange
    * (verified in the physical plan — 10 ReusedExchange nodes at
    * sf0.1). Fewer jobs = fewer synchronous barriers = fewer whole
    * stages a contended host can stall (the driver-host inflation
    * mechanism the r14 adjudication measured at 9.35 s driver vs
    * 2.45 s quiet for this key). The 4-row checkpoint also means the
    * checkpoint scope frees every edge-sized block before return. True
    * k-core at 100 TB runs the same loop to a fixpoint with a
    * convergence check on the dropped-node count per round — and at
    * fixpoint depth it re-inserts a checkpoint every few rounds to bound
    * plan depth, the cadence this fixed-depth profile no longer needs.
    */
  def graphKcore(s: SparkSession, sf: String): DataFrame = Checkpoints.scoped { cp =>
    var adj = coPurchaseSym(s, sf)
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (r <- 1 to 4) {
      val keep = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2).select(col("u"))
      adj = adj
        .join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
      rounds +=
        keep.agg(count(lit(1)).cast("bigint").as("n_nodes"))
          .crossJoin(adj.agg(expr("count(1) div 2").as("n_edges")))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
    }
    cp(rounds.reduce(_ unionAll _)).orderBy("round")
  }

  /** Adamic–Adar link prediction over the co-purchase graph — the
    * degree-weighted refinement of `graphJaccardNeighbors`: each common
    * neighbor w contributes 1/ln(deg(w)), so sharing a RARE neighbor
    * (specialist part) counts far more than sharing a hub everyone
    * buys. A shared neighbor always has degree ≥ 2 (it is adjacent to
    * both endpoints), so ln(deg) > 0 and the weight is well-defined by
    * construction. Top-20 with the (a, b) total tie-order.
    *
    * Scale shape: identical wedge join to the Jaccard kernel, but the
    * 1/ln(deg) weight attaches to the adjacency at EDGE grain (one
    * broadcast hash join on the neighbor column) BEFORE the wedge
    * self-join — the wedge then carries its center's weight for free,
    * and no join ever runs at wedge grain (wedges ≫ edges on any
    * skewed graph; the measured difference on this corpus is ~25% of
    * the key's runtime). Σ 1/ln(deg) is a map-side-combinable sum per
    * (a, b); hubs are the same AQE skew-split case. The top-20 is
    * TakeOrderedAndProject, never a global sort.
    */
  def graphAdamicAdar(s: SparkSession, sf: String): DataFrame = {
    val adj0 = coPurchaseSym(s, sf)
    val deg = adj0.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // weight of the edge's NEIGHBOR endpoint: when two edges meet at a
    // shared v in the wedge join below, x's weight IS the center's.
    // deg-1 neighbors can never center a wedge (one incident edge), so
    // filtering them both avoids ln(1)=0 and prunes dead-end edges
    // before the self-join
    val adj = adj0.join(
      broadcast(deg.filter(col("deg") >= 2)
        .select(col("u").as("v"),
          (lit(1.0) / log(col("deg"))).as("w_center"))), Seq("v"))
    adj.as("x").join(adj.as("y").drop("w_center"),
        col("x.v") === col("y.v") && col("x.u") < col("y.u"))
      .groupBy(col("x.u").as("a"), col("y.u").as("b"))
      .agg(count(lit(1)).as("common"),
           round(sum(col("x.w_center")), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  /** Local clustering coefficient over the co-purchase graph — the
    * per-node refinement of `graphTriangles`' global census: for every
    * node of degree ≥ 2, the fraction of its neighbor pairs that are
    * themselves connected, 2·Δ(u)/(deg(u)·(deg(u)−1)). The node-level
    * "how clique-like is this part's context" signal that separates
    * parts embedded in tight co-purchase clusters from pure hubs.
    * Top-20 by (coefficient, node) plus each node's raw counts; the
    * global average coefficient repeats on every row.
    *
    * Scale shape: triangles come from the SAME oriented edge-edge-edge
    * join as the census (node-iterator bound, memoized edge
    * checkpoint); each triangle (a<b<c) credits its three corners via
    * a 3-way unionAll BEFORE the node-grain count — so the only
    * shuffles are the triangle join's and one node-grain aggregate.
    * Degrees broadcast-join in at node grain. The top-20 is
    * TakeOrderedAndProject, never a global sort; the global average
    * is a window over the ≤|V| coefficient frame's bounded summary —
    * computed from integer sums, one division, order-free.
    */
  def graphClusteringCoeff(s: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(s, sf)
    val tris = edges.as("e1")
      .join(edges.as("e2"), col("e1.v") === col("e2.u"))
      .join(edges.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val triPerNode = tris.select(col("a").as("node"))
      .unionAll(tris.select(col("b").as("node")))
      .unionAll(tris.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val deg = coPurchaseSym(s, sf)
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val coeffs = deg.filter(col("deg") >= 2)
      .join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg").cast("bigint").as("degree"),
        coalesce(col("n_tri"), lit(0L)).cast("bigint").as("n_triangles"))
    // global average from two exact integer window sums + one division
    // (an avg() over per-node double coefficients would be
    // accumulation-order-dependent); the window runs over the node
    // frame but reduces to two longs — bounded state, order-free math
    val wAll = Window.partitionBy(lit(1))
    coeffs
      .withColumn("clustering_coeff",
        round(lit(2.0) * col("n_triangles") /
          (col("degree") * (col("degree") - 1)), 6))
      .withColumn("global_transitivity",
        // Σ2Δ(u) / Σd(d−1) = 3·triangles/wedges, the transitivity
        // ratio — carried as two exact integer sums and ONE division
        round(sum(lit(2L) * col("n_triangles")).over(wAll).cast("double") /
          sum(col("degree") * (col("degree") - 1)).over(wAll), 6))
      .orderBy(col("clustering_coeff").desc, col("node").asc)
      .limit(20)
  }

  /** Community structure via bounded min-label propagation, scored with
    * Newman modularity — the "are these communities real" number every
    * clustering of the co-purchase graph needs before it drives
    * recommendations: eight synchronous rounds of "adopt the smallest
    * label in your closed neighborhood" (the deterministic LPA variant;
    * eight rounds = labels equal the min node id within 8 hops, a
    * DEFINED semantics both engines replay exactly, convergence or
    * not), then per-community Q_i = e_in/m − (d_i/2m)², emitted with
    * the community breakdown and the global Q on every row.
    *
    * Scale shape: each round is ONE join (labels ⋈ edges) + a node-
    * grain min aggregate — the BFS/k-core loop shape. The modularity
    * pass is two broadcast-joined label lookups at edge grain plus
    * community-grain aggregates. Top-20 communities by size (node-id
    * tie-break) keeps the output bounded on any graph.
    *
    * r15 job shape (verdict ask #1): ONE job total, via LAZY
    * checkpoints. Each round references the previous label frame TWICE
    * (join probe + union arm), so a fully declarative 8-round chain
    * doubles the logical tree per round — 2⁸ copies of the base
    * subtree, and Catalyst spends ~15 s per invocation just analyzing/
    * optimizing it (measured: the no-checkpoint form benched 30.2 s
    * min-of-two vs 3.2 s with the r14 eager cadence — ALL planning
    * time; exchange reuse made execution fine either way). Eager
    * cadence checkpoints bound the tree but cost a synchronous job
    * each — the r14 shape's 6 jobs are exactly the contended-host
    * lottery tickets ask #1 wants cut. `localCheckpoint(eager = false)`
    * is the point in between: the plan truncates to a LogicalRDD leaf
    * immediately (tree stays ≤ 2² copies per cadence segment), but the
    * RDD materializes INSIDE the key's single collect job, with both
    * same-round references sharing one computation by RDD object
    * identity. The ≤ 20-row result is collected into a local relation,
    * so the checkpoint scope frees every lazy-checkpoint block on
    * return.
    */
  def graphModularity(s: SparkSession, sf: String): DataFrame = Checkpoints.scoped { cp =>
    val edges = coPurchaseSym(s, sf)
    var labels = edges.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    for (r <- 1 to 8) {
      labels = edges.join(labels.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), col("lab"))
        .unionAll(labels)
        .groupBy(col("node")).agg(min(col("lab")).as("lab"))
      // lazy cadence checkpoint: bounds the doubling logical tree
      // without the eager form's per-checkpoint job
      if (r % 2 == 0) labels = cp.lazily(labels)
    }
    val lu = broadcast(labels.select(col("node").as("u"), col("lab").as("lu")))
    val lv = broadcast(labels.select(col("node").as("v"), col("lab").as("lv")))
    val m = edges.agg((count(lit(1)) / 2).cast("double").as("m"))
    val comm = edges.join(lu, Seq("u")).join(lv, Seq("v"))
      .groupBy(col("lu").as("lab"))
      .agg((sum((col("lu") === col("lv")).cast("long")) / 2)
             .cast("bigint").as("internal_edges"),
           count(lit(1)).cast("bigint").as("degree_sum"))
    val sizes = labels.groupBy(col("lab"))
      .agg(count(lit(1)).cast("bigint").as("n_nodes"))
    val scored = comm.join(sizes, Seq("lab"))
      .crossJoin(broadcast(m))
      .select(col("lab"), col("n_nodes"), col("internal_edges"),
        col("degree_sum"),
        // `+ 0.0` — the agg_entropy idiom: an internal_edges=0 community
        // has raw q = −(d/2m)² ≈ −8e−8, which DuckDB round()s to −0.0
        // while Spark's BigDecimal HALF_UP (no signed zero) gives +0.0;
        // adding +0.0 collapses both to the positive-zero bit pattern.
        (round(col("internal_edges") / col("m") -
          pow(col("degree_sum") / (lit(2.0) * col("m")), 2), 6) + lit(0.0))
          .as("q_contribution"))
    val out = scored
      .withColumn("modularity",
        round(sum(col("q_contribution"))
          .over(Window.partitionBy(lit(1))), 6))  // community-grain frame
      .orderBy(col("n_nodes").desc, col("lab").asc)
      .limit(20)
    // the result is ≤ 20 rows BY CONSTRUCTION — materialize it in the
    // one job the key now costs; the local relation reads no
    // checkpoint, so nothing node-sized stays pinned for the harness
    // session's lifetime (the session-memoized edges frame is shared
    // infrastructure, not this key's to release)
    Checkpoints.local(out)
  }

  /** Degree assortativity of the co-purchase graph — the one-number
    * mixing summary: the Pearson correlation of (deg(u), deg(v)) over
    * the directed edge list. Positive = hubs buy with hubs (social-
    * network-like), negative = hubs anchor low-degree satellites
    * (catalog hub-and-spoke) — which of the two regimes holds decides
    * whether hub-capping is safe for the link-prediction kernels above.
    *
    * Scale shape: one degree HashAggregate, two BROADCAST joins
    * attaching endpoint degrees at edge grain, one corr aggregate
    * (sum-of-moments, map-side combinable). Degrees are integers, so
    * only the final coefficient rounds.
    */
  def graphAssortativity(s: SparkSession, sf: String): DataFrame = {
    val adj = coPurchaseSym(s, sf)
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    adj
      .join(broadcast(deg.select(col("u"), col("deg").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("u").as("v"), col("deg").as("dv"))),
        Seq("v"))
      .agg((count(lit(1)) / 2).cast("bigint").as("n_edges"),
           round(corr(col("du").cast("double"), col("dv").cast("double")), 6)
             .as("assortativity"))
  }

  /** Deterministic random walks — the node2vec/DeepWalk sampling
    * primitive a graph-embedding pipeline runs before training: from
    * EVERY node of the part↔supplier bipartite graph, a 4-hop walk
    * whose "random" choice at step t from node cur is the neighbor
    * ranked pmod(md5-int(start_t_cur), deg(cur)) in the dst-sorted
    * adjacency — a seeded hash, so both engines replay the identical
    * walk and the key stays oracle-paired despite sampling semantics.
    *
    * Scale shape (r9 rewrite): the neighbor index is derived BEFORE
    * touching adjacency — the node-sized frontier broadcast-joins the
    * node-grain degree frame to compute idx, then each hop is a pure
    * equi-join on (src, rn = idx) with ZERO fan-out (the r8 shape
    * joined frontier ⋈ full adjacency and filtered rn === idx after,
    * materializing deg(cur) candidate rows per walker — Σdeg = O(|E|)
    * per hop; this shape is O(|V|) per hop). 4 hops, shuffle ∝ |V|
    * each; walks per node and hop count are knobs, not structure.
    * Measured alternatives, rejected in r8: min_by(dst, md5(..._dst))
    * per hop (24.7 s at sf0.1), adjacency checkpoint (5.2 s), reuse-
    * bait repartition (63 s). Re-measured in r10 (3-run min each at
    * sf0.1): current 2.33 s; adjacency localCheckpoint 2.74 s;
    * frontier checkpoint after hop 2 (the r9-verdict cadence
    * suggestion) 3.85 s; both 2.79 s — every checkpoint variant loses
    * because the single-plan DAG already evaluates each hop once and a
    * checkpoint only adds materialization, so the zero-checkpoint
    * chain stands. At 100 TB the degree frame may outgrow
    * a broadcast; the fallback is the same equi-join shuffled on node
    * id, still fan-out-free.
    */
  def graphRandomWalk(s: SparkSession, sf: String): DataFrame = {
    // session-memoized distinct: the per-call checkpoint variants this
    // scaladoc benchmarked all LOST because they paid the build per
    // call; the shared checkpoint's build is amortized across the whole
    // board, so the hop joins start from materialized rows for free
    val li = bipartiteEncoded(s, sf)
    val edges = li.select(col("p").as("src"), col("q").as("dst"))
      .unionAll(li.select(col("q").as("src"), col("p").as("dst")))
    val wAdj = Window.partitionBy(col("src")).orderBy(col("dst").asc)
    val adj = edges
      .select(col("src"), col("dst"), row_number().over(wAdj).as("rn"))
    val deg = edges.groupBy(col("src").as("dn"))
      .agg(count(lit(1)).as("deg"))
    def hop(frontier: DataFrame, t: Int): DataFrame = {
      // idx = pmod(int(md5(start_t_cur)[0:8], 16), deg) + 1 — seeded,
      // engine-replayable choice among the cur node's ranked neighbors,
      // computed at NODE grain off the broadcast degree frame
      val idx = pmod(
        conv(substring(md5(concat_ws("_",
          col("start"), lit(t), col("cur"))), 1, 8), 16, 10).cast("long"),
        col("deg")) + 1
      frontier.join(broadcast(deg), col("cur") === col("dn"))
        .withColumn("idx", idx)
        .drop("dn", "deg")
        .join(adj, col("cur") === col("src") && col("idx") === col("rn"))
        .drop("src", "rn", "idx")
        .withColumn(s"hop$t", col("dst"))
        .drop("cur")
        .withColumnRenamed("dst", "cur")
    }
    // start frontier from the RAW edge list — deriving it from `adj`
    // would compute the ranked-adjacency window a 5th time
    val start = edges.select(col("src").as("start")).distinct()
      .withColumn("cur", col("start"))
    val w4 = hop(hop(hop(hop(start, 1), 2), 3), 4)
    def label(c: org.apache.spark.sql.Column) =
      when(c % 2 === 0, concat(lit("p"), (c / 2).cast("long")))
        .otherwise(concat(lit("s"), ((c - 1) / 2).cast("long")))
    w4.select(label(col("start")).as("start_node"),
      label(col("hop1")).as("hop1"), label(col("hop2")).as("hop2"),
      label(col("hop3")).as("hop3"), label(col("hop4")).as("hop4"))
      .orderBy("start_node")
  }

  /** HITS hubs & authorities (Kleinberg 1999) on the part→supplier
    * bipartite graph — the link-analysis complement of
    * [[graphPageRank]]: parts are hubs (they "cite" the suppliers that
    * stock them), suppliers are authorities, and the scores reinforce
    * mutually — a(s) = Σ h(p), h(p) = Σ a(s) over the edges. Two
    * authority rounds and one hub round, each MAX-normalized (max is
    * order-free where the classic L2 norm would need a float sqrt of a
    * float sum).
    *
    * Determinism: round 0 authority scores are exact integer degrees;
    * every subsequent cross-node sum adds DECIMAL(9,6) values (scores
    * round at 6 then cast before summation), so each reinforcement pass
    * is an exact decimal aggregate on both engines — the bare-double
    * Σ r·w the pagerank key tolerates (absorbed by its end-rounding) is
    * avoided entirely here.
    *
    * Scale shape: each pass is one |E|-sized equi-join against a
    * node-grain score frame plus a hash aggregate — the BFS/LPA
    * per-round shape; normalizers are 1-row broadcast crossJoins (q2
    * idiom); top-10s are TakeOrdered. */
  def graphHits(s: SparkSession, sf: String): DataFrame = Checkpoints.scoped { cp =>
    // session-memoized checkpoint: the three reinforcement rounds below
    // each join against li, and before the memo each re-derived the
    // scan+distinct (r10 verdict ask #2)
    val li = bipartiteEdges(s, sf)
    // Each round's RAW score frame is localCheckpointed (node-grain —
    // suppliers/parts-sized, never edge-sized): `normalized` reads its
    // input TWICE (the broadcast max + the rows), and without the
    // checkpoint that double-eval compounds through the rounds — a2n
    // re-ran a1n's edge aggregate ~4× (the r7 pagerank uncached-chain
    // class; this was the residual 2.7 s after the bipartite memo).
    // With the checkpoint every edge pass runs exactly once; the
    // normalize itself is a map over the tiny frame, recomputed freely.
    // Score frames broadcast into the edge joins explicitly — node
    // grain is orders of magnitude under any broadcast bound.
    def normalized(scores: DataFrame, key: String, raw: String,
                   out: String): DataFrame = {
      val mx = broadcast(scores.agg(max(col(raw)).as("mx")))
      scores.crossJoin(mx)
        .select(col(key),
          round(col(raw).cast("double") / col("mx").cast("double"), 6)
            .cast("decimal(9,6)").as(out))
    }
    val a1 = cp(li.groupBy(col("q")).agg(count(lit(1)).as("a1")))
    val a1n = normalized(a1, "q", "a1", "an")
    val h1 = cp(li.join(broadcast(a1n), Seq("q"))
      .groupBy(col("p")).agg(sum(col("an")).as("h1")))
    val h1n = normalized(h1, "p", "h1", "hn")
    val a2 = cp(li.join(broadcast(h1n), Seq("p"))
      .groupBy(col("q")).agg(sum(col("hn")).as("a2")))
    val a2n = normalized(a2, "q", "a2", "an")
    val hubs = h1n
      .select(lit("hub").as("side"), col("p").as("node"),
              col("hn").cast("double").as("score"))
      .orderBy(col("score").desc, col("node").asc).limit(10)
    val auths = a2n
      .select(lit("authority").as("side"), col("q").as("node"),
              col("an").cast("double").as("score"))
      .orderBy(col("score").desc, col("node").asc).limit(10)
    // rank window runs on the ≤20-row union — bounded by construction
    val w = Window.partitionBy(col("side"))
      .orderBy(col("score").desc, col("node").asc)
    // materialize the ≤20-row result so the scope releases every round
    // checkpoint (the graphBfsDistance discipline — nothing edge- or
    // node-sized may outlive the call in the long-lived session)
    cp(auths.unionAll(hubs)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .orderBy(col("side").asc, col("rn").asc))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * memoized co-purchase graph — the frequency-based community
    * detector that complements `graph_modularity`'s min-label
    * contraction: each of 3 synchronous rounds every node adopts the
    * label most FREQUENT among its neighbors (ties broken by the
    * smaller label — the determinism rule that makes classic LPA,
    * normally run with random visit order, exactly replayable on both
    * engines). Emits the 20 largest communities.
    *
    * Scale shape: each round is one |E|-sized join against the
    * node-grain label frame, a (node, label) count aggregate, and a
    * per-node argmax window — the same bounded per-round cost as the
    * BFS/kcore iterations; rounds are a knob, not structure (real
    * deployments run to convergence with the same per-round shape).
    * The adjacency is the session-memoized coPurchaseSym checkpoint,
    * so no per-key rebuild of the Σ basket² self-join.
    */
  def graphLabelPropagation(s: SparkSession, sf: String): DataFrame = {
    val adj = coPurchaseSym(s, sf)
    var labels = adj.select(col("u").as("node")).distinct()
      .withColumn("lab", col("node"))
    val wArg = Window.partitionBy(col("u"))
      .orderBy(col("cnt").desc, col("lab").asc)
    for (_ <- 1 to 3) {
      labels = adj.join(labels, col("v") === col("node"))
        .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wArg))
        .filter(col("rn") === 1)
        .select(col("u").as("node"), col("lab"))
    }
    labels.groupBy(col("lab")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("lab").asc)
      .limit(20)
      .select(col("lab").cast("bigint").as("community"),
              col("n_nodes").cast("bigint").as("n_nodes"))
  }
}
