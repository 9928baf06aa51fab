package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond [[ClusterOps]]'s connected
  * components. No analog in the reference (its only graph is the
  * commit DAG, walked sequentially — repository.rs); at corpus scale
  * the same shapes rank documents in a similarity/overlap graph.
  */
object GraphOps {

  /** PageRank (damping 0.85, fixed iteration count) over the
    * UNDIRECTED customer↔supplier trading graph: an edge per distinct
    * (custkey, suppkey) pair observed in orders⋈lineitem.
    * Undirectedness gives every node outdegree ≥ 1, so there is no
    * dangling-mass term and every node receives mass each round —
    * the degenerate-free shape to verify the iteration kernel under.
    *
    * Distributed shape: edge extraction is the only corpus-sized work
    * (one shuffle join + distinct); the edge set (with source degree
    * attached once) is then materialized via `localCheckpoint` — the
    * [[ClusterOps]] stance: each of the K iterations references it,
    * and plan truncation keeps iteration k's lineage one join+agg
    * deep instead of stacking all k (`checkpoint()` to reliable
    * storage on a real cluster). The rank table is O(nodes) — model-
    * sized next to the edge list, exactly like the k-means/PQ
    * codebooks — so each iteration's contrib join BROADCASTS the
    * ranks: the corpus-sized edge set is never re-shuffled, each
    * round is one broadcast-hash-join scan of the checkpointed edges
    * plus one map-side-combined sum on dst (ranks descend from an
    * aggregation, so Catalyst's stats won't infer the broadcast on
    * their own — round 7 measured K full edge exchanges, 17.7s,
    * without the hint). When node count outgrows broadcast (~billions
    * of nodes at true web scale), the iteration join must instead be
    * co-partitioned: edges stay bucketed by src, only the O(nodes)
    * rank table exchanges each round. Since round 12 that switch is
    * AUTOMATIC — [[graft.plans.StateJoin]] counts the materialized
    * degree table against `spark.graft.broadcastNodesLimit` and picks
    * the side (the window's hashpartitioning(src) already gives the
    * edges the right layout, so the flip costs nothing here);
    * [[q_pagerank_copart]] still pins the copart shape explicitly.
    * Rank lineage is localCheckpoint'd every [[checkpointEvery]]
    * iterations (BPE-trainer stance) so tokenizer-real iteration
    * counts don't stack an analyzer-killing plan.
    *
    * Oracle parity: ranks are fixed-point longs (1e12 = rank 1.0) and
    * EVERY operation is integer arithmetic — contribution = `fp div
    * deg` (exact), mass sum = long sum (associative), teleport =
    * `150000000000 div N`, damping = `(85·s) div 100` — so both
    * engines carry bit-identical longs through all K iterations; a
    * float PageRank would hit the §5.3 summation-order trap on the
    * very first round. Positive operands make Spark's truncating
    * `div` and DuckDB's flooring `//` agree everywhere.
    */
  def q_pagerank(s: SparkSession, d: String, iters: Int = 3,
                 checkpointEvery: Int = 8): DataFrame =
    pagerankUndirected(s, d, iters, checkpointEvery, forced = None)

  /** [[q_pagerank]] through the CO-PARTITIONED iteration join — the
    * documented fallback for when the O(nodes) rank table outgrows
    * broadcast (billions of nodes at true web scale), now implemented
    * and oracle-verified rather than described: the edge set is
    * hash-partitioned on `src` ONCE before its checkpoint
    * (localCheckpoint preserves the partitioning), and each
    * iteration's join shuffles ONLY the O(nodes) rank table onto that
    * same partitioning — a shuffle-hash join whose streamed side (the
    * corpus-sized edges) moves zero bytes per iteration, exactly the
    * bucketed-join shape a real cluster would pin with table buckets.
    * The `shuffle_hash` hint (not sort-merge) keeps the checkpointed
    * edge partitions un-sorted: SMJ would re-sort the edge side every
    * iteration. Identical fixed-point longs to q_pagerank by
    * construction — both run under the SAME q_pagerank oracle; the
    * spec additionally pins row-for-row equality and PlanAuditSpec
    * asserts the iteration joins are ShuffledHashJoin (no broadcast,
    * no edge-side exchange).
    */
  def q_pagerank_copart(s: SparkSession, d: String, iters: Int = 3,
                        checkpointEvery: Int = 8): DataFrame =
    pagerankUndirected(s, d, iters, checkpointEvery, forced = Some(true))

  /** The distinct customer↔supplier trading pair set (a = "c<id>",
    * b = "s<id>") — ONE orders⋈lineitem extraction + distinct,
    * memoized per (app, dir) via [[graft.plans.SharedState]]: seven
    * kernel entry points previously re-ran the identical corpus join
    * (q_pagerank / _copart / _dir / _seed, q_graph_hops / _copart,
    * q_graph_hits). Each kernel still derives its OWN symmetric /
    * directed view, degree window and checkpoint cadence from the
    * materialized pairs — only the corpus-sized extraction is shared.
    */
  private def csPairs(s: SparkSession, d: String): DataFrame =
    graft.plans.SharedState.cachedDf(s, "graph.csPairs", d,
        Seq("orders.parquet", "lineitem.parquet")) {
      orders(s, d).join(lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
        .distinct()
    }

  private def pagerankUndirected(
      s: SparkSession, d: String, iters: Int,
      checkpointEvery: Int, forced: Option[Boolean]): DataFrame = {
    // One SHARED symmetric degree-windowed edge table (r15 opt:
    // q_pagerank, _copart and _seeded each rebuilt it — union +
    // degree window + checkpoint, one src shuffle per key).
    // EVERYTHING downstream — the O(nodes) deg table, n_nodes, rank
    // init, the display join — derives from the checkpointed plans:
    // round-8 profiling showed the deg/nDf/final-join subtrees each
    // re-running the full orders⋈lineitem extraction per action
    // (broadcast builds included), tripling the query's cost.
    // In co-partitioned mode the window's own hashpartitioning(src)
    // IS the iteration partitioning, preserved through the
    // checkpoint — no extra repartition needed.
    val edgesD = SharedGraph.symEdges(s, d)
    val deg = edgesD.select(col("src"), col("deg"))
      .dropDuplicates("src").transform(graft.plans.Ckpt.maybe)
    // size-gated switch (round 12): forced by the _copart key, else
    // decided from the materialized O(nodes) degree table vs
    // spark.graft.broadcastNodesLimit — the edge side already has
    // hashpartitioning(src) from the degree window, so the copart
    // flip costs no extra edge exchange here
    val copart = forced.getOrElse(graft.plans.StateJoin.copartFor(deg))
    val nDf = deg.agg(count(lit(1)).as("n_nodes"))
    var ranks = deg.crossJoin(broadcast(nDf))
      .select(col("src").as("node"), expr("1000000000000 div n_nodes").as("fp"))
    (1 to iters).foreach { i =>
      val rside = graft.plans.StateJoin.side(ranks, copart)
      val contrib = edgesD.join(rside, edgesD("src") === ranks("node"))
        .select(col("dst"), expr("fp div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("mass"))
      ranks = contrib.crossJoin(broadcast(nDf))
        .select(col("dst").as("node"),
          expr("(150000000000 div n_nodes) + ((85 * mass) div 100)").as("fp"))
      if (i % checkpointEvery == 0 && i < iters) ranks = ranks.transform(graft.plans.Ckpt.maybe)
    }
    // display rank: ONE correctly-rounded IEEE division on exact
    // operands — bit-identical cross-engine. A round(x, 10) here
    // would flake: fp values genuinely populate the .5 tie at digit
    // 10, where Spark (HALF_UP) and DuckDB (half-even) disagree.
    ranks.join(deg, ranks("node") === deg("src"))
      .select(col("node"), col("deg"), col("fp").as("rank_fp"),
        (col("fp").cast("double") / 1e12).as("rank"))
      .orderBy("node")
  }

  /** DIRECTED PageRank with dangling-mass redistribution — the shape
    * the similarity/overlap graphs this operator is advertised for
    * actually have. Edges point customer→supplier only, so every
    * supplier is a sink (outdegree 0): without the redistribution
    * term its mass would silently leak each round and total rank
    * would decay toward the teleport floor. Per iteration the sink
    * nodes' total mass is collected into a ONE-ROW aggregate
    * (broadcast, like every other model-sized scalar in this repo)
    * and every node receives `dang_mass div N` alongside its edge
    * contributions:
    *
    *   rank' = (1−d)/N + d · (Σ_in rank(src)/outdeg(src) + dang/N)
    *
    * Nodes with no in-edges still appear every round via the left
    * join against the node table — on a sink-heavy graph the
    * "received nothing" rows are exactly the ones a naive
    * contrib-only rebuild (like the undirected kernel's) would drop.
    *
    * Same all-integer fixed-point contract as [[q_pagerank]] (1e12 =
    * rank 1.0; div/sum only; positive operands make Spark `div` and
    * DuckDB `//` agree), same broadcast-ranks iteration join against
    * a once-checkpointed edge set, same checkpoint-every-N lineage
    * cadence.
    */
  def q_pagerank_directed(s: SparkSession, d: String,
                          iters: Int = 3): DataFrame =
    // shared directed degree-windowed edge table (r15 opt)
    directedFrom(SharedGraph.dirEdges(s, d), iters)

  /** Iteration kernel for [[q_pagerank_directed]], factored out so
    * PageRankSpec can drive it with a hand-built sink graph and check
    * the dangling-mass arithmetic against hand-computed fixed-point
    * values. `edges` is a distinct (src, dst) DataFrame.
    */
  private[graft] def directedKernel(edges: DataFrame, iters: Int): DataFrame =
    // Same single-extraction discipline as [[q_pagerank]]: degree via
    // a window on the one checkpointed pass; the node table (with
    // outdeg 0 for sinks) derives from the CHECKPOINTED edges — a
    // max-groupBy over (src, deg) ∪ (dst, 0) rows — so no downstream
    // subtree ever re-runs the corpus extraction.
    directedFrom(edges
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .transform(graft.plans.Ckpt.maybe), iters)

  /** [[directedKernel]] on a pre-materialized (src, dst, deg) edge
    * table — the [[SharedGraph.dirEdges]] consumption path. */
  private def directedFrom(edgesD: DataFrame, iters: Int): DataFrame = {
    val nodes = edgesD.select(col("src").as("node"), col("deg"))
      .unionAll(edgesD.select(col("dst").as("node"), lit(0L).as("deg")))
      .groupBy("node").agg(max(col("deg")).as("deg"))
      .transform(graft.plans.Ckpt.maybe)
    // size-gated switch (round 12): the O(nodes) rank table broadcasts
    // until it outgrows spark.graft.broadcastNodesLimit, then the
    // contrib join co-partitions (edges already hashpartitioned on src
    // by the degree window)
    val copart = graft.plans.StateJoin.copartFor(nodes)
    val nDf = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(broadcast(nDf))
      .select(col("node"), expr("1000000000000 div n_nodes").as("fp"))
    (1 to iters).foreach { i =>
      val dang = ranks.join(broadcast(nodes.filter(col("deg") === 0)
          .select(col("node"))), Seq("node"))
        .agg(coalesce(sum(col("fp")), lit(0L)).as("dang_mass"))
      val contrib = edgesD.join(graft.plans.StateJoin.side(ranks, copart),
          edgesD("src") === ranks("node"))
        .select(col("dst"), expr("fp div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("mass"))
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .crossJoin(broadcast(nDf)).crossJoin(broadcast(dang))
        .select(col("node"),
          expr("(150000000000 div n_nodes) + " +
            "((85 * (coalesce(mass, 0L) + (dang_mass div n_nodes))) div 100)")
            .as("fp"))
      // materialize ranks EVERY iteration (unlike the undirected
      // kernel's every-8 cadence): the dangling aggregate makes
      // ranks_{i-1} appear TWICE in ranks_i's plan — once inside the
      // contrib broadcast build, once inside dang's — and the two are
      // not identical exchanges, so ReuseExchange cannot dedup them;
      // without per-level materialization the recompute tree doubles
      // per iteration (2^K). Ranks are O(nodes): the materialization
      // is model-sized work, the standard iterative-graph trade.
      if (i < iters) ranks = ranks.transform(graft.plans.Ckpt.maybe)
    }
    ranks.join(nodes.select(col("node").as("n2"), col("deg")),
        ranks("node") === col("n2"))
      .select(col("node"), col("deg").as("out_deg"), col("fp").as("rank_fp"),
        (col("fp").cast("double") / 1e12).as("rank"))
      .orderBy("node")
  }

  /** SEEDED (personalized) PageRank — the TrustRank-style quality
    * propagation a corpus-curation pipeline runs from trusted seeds:
    * teleport mass flows ONLY to the seed set (suppliers with key ≡ 0
    * mod 100, the [[q_graph_hops]] seeds), so rank measures proximity
    * to trust rather than global centrality; nodes the diffusion
    * never reaches stay at exactly 0 and the output keeps them (left
    * join against the node table, the [[q_pagerank_directed]]
    * stance).
    *
    * Same all-integer fixed-point contract (1e12 = total mass;
    * teleport = `150000000000 div nSeeds` to seeds, 0 elsewhere) and
    * the same scale shape as [[q_pagerank]]: one checkpointed edge
    * pass carrying degree via window, broadcast-ranks iteration
    * joins, every-8 cadence (the update reads the previous state
    * once, so the twice-referenced rule does not force per-level
    * materialization — but ranks carry a long lineage of broadcast
    * joins, and the cadence bounds it).
    */
  def q_pagerank_seeded(s: SparkSession, d: String, iters: Int = 3,
                        checkpointEvery: Int = 8): DataFrame = {
    // shared symmetric edge table (r15 opt — see pagerankUndirected)
    val edgesD = SharedGraph.symEdges(s, d)
    val isSeed = col("node").startsWith("s") &&
      substring(col("node"), 2, 18).cast("long") % 100 === 0
    val nodes = edgesD.select(col("src").as("node"), col("deg"))
      .dropDuplicates("node")
      .withColumn("seed", isSeed)
      .transform(graft.plans.Ckpt.maybe)
    val nSeeds = nodes.filter(col("seed")).agg(count(lit(1)).as("n_seeds"))
    // Loud empty-seed-set guard (ADVICE r8): without it, `div 0` in
    // the teleport term yields silently-NULL ranks on Spark while the
    // DuckDB oracle aborts on `// 0` — an asymmetric failure for an
    // operator advertised as data-derived-seeded. One combined count
    // over the already-checkpointed nodes (a scan of materialized
    // partitions, no recompute) is the price of failing identically
    // in both engines. An EMPTY GRAPH is a different case from a
    // graph with no seeds: no nodes means there is nothing to rank
    // and nothing undefined — return the empty result (both engines
    // agree: the oracle's CTEs are all empty too), don't throw.
    val counts = nodes.agg(count(lit(1)).as("n"),
      count(when(col("seed"), lit(1))).as("ns")).head()
    if (counts.getLong(0) == 0L)
      return nodes.select(col("node"), col("seed"),
        lit(0L).as("rank_fp"), lit(0.0).as("rank"))
    require(counts.getLong(1) > 0,
      "q_pagerank_seeded: seed set is empty (no supplier node with key " +
        "≡ 0 mod 100) — seeded PageRank is undefined on this data")
    // size-gated switch (round 12), for free here: the guard above
    // already counted the node table, so auto mode re-uses that count
    // instead of running StateJoin's own job
    val copart = graft.plans.StateJoin.copartForCount(s, counts.getLong(0))
    var ranks = nodes.crossJoin(broadcast(nSeeds))
      .select(col("node"),
        when(col("seed"), expr("1000000000000 div n_seeds"))
          .otherwise(lit(0L)).as("fp"))
    (1 to iters).foreach { i =>
      val contrib = edgesD.join(graft.plans.StateJoin.side(ranks, copart),
          edgesD("src") === ranks("node"))
        .select(col("dst"), expr("fp div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("mass"))
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .crossJoin(broadcast(nSeeds))
        .select(col("node"),
          expr("""(CASE WHEN seed THEN 150000000000 div n_seeds ELSE 0 END)
                 | + ((85 * coalesce(mass, 0L)) div 100)""".stripMargin).as("fp"))
      if (i % checkpointEvery == 0 && i < iters) ranks = ranks.transform(graft.plans.Ckpt.maybe)
    }
    ranks.join(nodes.select(col("node").as("n2"), col("seed")),
        ranks("node") === col("n2"))
      .select(col("node"), col("seed"), col("fp").as("rank_fp"),
        (col("fp").cast("double") / 1e12).as("rank"))
      .orderBy("node")
  }

  /** Multi-source BFS hop labeling over the undirected trading graph —
    * the distance-to-seed primitive (hop features, influence radius,
    * contamination propagation). Seeds are the suppliers whose key is
    * ≡ 0 mod 100 (deterministic, data-derived); every node reachable
    * within `maxHops` gets its minimum hop count, unreached nodes
    * report hop = -1 so the output covers the whole node set.
    *
    * Distributed shape, with the round-8 iterative lessons applied:
    * ONE corpus extraction checkpointed (edge pass), and every
    * twice-referenced per-level state materialized exactly once —
    * `fresh` (read by both the visited union and the next frontier)
    * and `visited` (read by the anti join and the union) are each
    * localCheckpoint'd, so each level costs exactly one broadcast-hash
    * expansion join plus one anti join; the edge set is never
    * re-shuffled. BFS min-hop needs no tie-break: a node enters
    * `visited` at the first level that reaches it, which IS its
    * minimum hop.
    *
    * Scale caveat (same as q_pagerank's ranks broadcast): BFS
    * frontiers are worst-case O(nodes) — on a dense graph hops 1-2
    * can reach most of the graph, outgrowing the broadcast threshold.
    * The co-partitioned fallback documented on [[q_pagerank]] applies
    * verbatim: pre-partition edges by src and shuffle-join the
    * frontier on the same key instead of broadcasting it.
    */
  def q_graph_hops(s: SparkSession, d: String, maxHops: Int = 4): DataFrame =
    graphHops(s, d, maxHops, forced = None)

  /** [[q_graph_hops]] through the CO-PARTITIONED frontier join — the
    * fallback for when BFS frontiers outgrow broadcast (hop 1-2 of a
    * dense graph reaches most nodes), implemented and oracle-verified
    * like [[q_pagerank_copart]]: edges hash-partitioned on src once
    * before the checkpoint; each level shuffle-hash-joins only the
    * O(frontier) node set onto that partitioning, so the corpus-sized
    * edge side moves zero bytes per level. Identical hop labels under
    * q_graph_hops' oracle (BFS min-hop is plan-independent).
    */
  def q_graph_hops_copart(s: SparkSession, d: String,
                          maxHops: Int = 4): DataFrame =
    graphHops(s, d, maxHops, forced = Some(true))

  private def graphHops(s: SparkSession, d: String, maxHops: Int,
                        forced: Option[Boolean]): DataFrame = {
    val e0 = csPairs(s, d)
    val sym = e0.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
    // FORCED co-partitioned mode lays the edges out on src AT the
    // checkpoint, so every level's frontier join finds the edge side
    // already exchanged
    val edgesD0 =
      if (forced.contains(true)) graft.plans.Ckpt.maybePartitioned(sym, "src")
      else graft.plans.Ckpt.maybe(sym)
    val nodes = edgesD0.select(col("src").as("node")).distinct().transform(graft.plans.Ckpt.maybe)
    // size-gated switch (round 12): BFS frontiers are worst-case
    // O(nodes), so the node count is the right gate. When AUTO flips
    // to copart the edges were checkpointed unpartitioned — pay ONE
    // repartition+rematerialization now (amortized over maxHops
    // levels; the same exchange the forced key pays up front).
    val copart = forced.getOrElse(graft.plans.StateJoin.copartFor(nodes))
    val edgesD = if (copart && !forced.contains(true))
      graft.plans.Ckpt.maybePartitioned(edgesD0, "src")
    else edgesD0
    var visited = nodes.filter(
        col("node").startsWith("s") &&
        substring(col("node"), 2, 18).cast("long") % 100 === 0)
      .select(col("node"), lit(0L).as("hop"))
      .transform(graft.plans.Ckpt.maybe)
    var frontier = visited.select(col("node")).transform(graft.plans.Ckpt.maybe)
    (1 to maxHops).foreach { i =>
      val fside = graft.plans.StateJoin.side(frontier, copart)
      val reached = edgesD.join(fside,
          edgesD("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
      // `fresh` is referenced twice below (the visited union and the
      // next frontier), so it is materialized ONCE here — otherwise
      // the expansion join + anti join above would recompute inside
      // each derivation (this exact miss was round 8's one perf-weak
      // key: ~2 edge passes per level instead of 1)
      val fresh = reached.join(visited.select(col("node").as("v")),
          reached("node") === col("v"), "left_anti")
        .select(col("node"), lit(i.toLong).as("hop"))
        .transform(graft.plans.Ckpt.maybe)
      visited = visited.unionAll(fresh).transform(graft.plans.Ckpt.maybe)
      frontier = fresh.select(col("node"))
    }
    nodes.join(visited, Seq("node"), "left")
      .select(col("node"), coalesce(col("hop"), lit(-1L)).as("hop"))
      .orderBy("node")
  }

  /** Per-node triangle counting + local clustering coefficient over
    * the part co-occurrence graph (two parts share an edge when they
    * appear in the same order) — the community-density primitive: in
    * a document-similarity graph the same shape separates tight
    * duplicate clusters (high clustering) from hub false-positives
    * (high degree, low clustering). The customer↔supplier trading
    * graph is bipartite (zero triangles by construction), and the
    * SUPPLIER co-occurrence projection is measured near-complete at
    * every sf (every supplier pair shares some order — 124M
    * triangles at sf0.1, a degenerate dense graph); parts are 20×
    * more numerous, giving the sparse regime the algorithm is for
    * (sf0.1: 20k nodes, 1.2M edges, 1.9M triangles).
    *
    * Distributed shape — the classic degree-oriented algorithm:
    *  1. co-occurrence edges: per-order self-join of the DISTINCT
    *     (order, part) pairs — bounded by parts-per-order (≤ 7
    *     here), so the join output is linear in orders, never
    *     quadratic in parts;
    *  2. orient every edge from its lower (degree, id) endpoint to
    *     its higher; each node's OUT-degree is then O(√m), which
    *     bounds total wedges by O(m^1.5) regardless of skew — the
    *     hub that would generate deg² wedges un-oriented generates
    *     none, because all its edges point INTO it (Schank/Wagner;
    *     the same orientation trick GraphFrames' triangleCount uses);
    *  3. wedge join on the shared source + one semi join closing
    *     (v, w) against the oriented edge set (broadcast below the
    *     size gate — see the strategy note in [[triangleParts]]). The
    *     oriented edge set is referenced three times (two wedge sides
    *     + closure), so it is localCheckpoint'd once
    *     (twice-referenced-state rule).
    * Degrees ride the symmetric edge view via a window (one shuffle,
    * the q_pagerank degree trick); the O(nodes) degree dim then
    * attaches the dst-side degree through a broadcast join — same
    * model-sized-broadcast stance (and the same outgrow caveat +
    * co-partitioned fallback) as the rank tables.
    *
    * Oracle parity: triangle counts and degrees are exact BIGINTs;
    * the clustering coefficient 2T / (deg·(deg−1)) is ONE
    * correctly-rounded IEEE division on exact integer operands
    * (bit-identical cross-engine, the q_pagerank display rule);
    * deg < 2 yields NULL on both sides (0/0 would be NaN, whose
    * engine equality is undefined).
    */
  def q_graph_triangles(s: SparkSession, d: String): DataFrame = {
    val (_, deg, tris) = SharedGraph.triangles(s, d)
    triangleCountsFrom(deg, tris)
  }

  /** DISTINCT a<b part co-occurrence edges (same order ⇒ edge) —
    * the shared sparse graph for [[q_graph_triangles]] and
    * [[q_graph_lpa]]. The per-order self-join is bounded by
    * parts-per-order (≤ 7), so output is linear in orders.
    */
  private def partCoEdges(s: SparkSession, d: String): DataFrame = {
    // One exchange instead of three (r16 opt, guide §2.4): the old
    // form paid distinct(ok, sk) + the ok-keyed self-join + the pair
    // distinct; collect_set per order dedups (ok, sk) inside the SAME
    // aggregation that groups the per-order parts, and the ≤
    // parts-per-order (≤ 7 ⇒ ≤ 21 pairs) in-row pair build replaces
    // the join. sort_array pins the set's nondeterministic order so
    // i < j enumerates exactly the a < b pairs; output and the final
    // distinct are unchanged.
    lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("sk"))
      .groupBy("ok").agg(sort_array(collect_set(col("sk"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"""
          .stripMargin)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
  }

  /** Once-per-(app, dir) shared enumeration artifacts for the part
    * co-occurrence graph: the materialized a<b edge list (read by all
    * seven graph keys) and the degree-oriented triangle set (read by
    * q_graph_triangles / q_graph_jaccard / q_graph_adamic). The r12
    * VERDICT measured the three triangle keys rebuilding the
    * identical O(m^1.5) wedge enumeration — ~7% of the whole bench —
    * and every graph key repeating the lineitem-self-join edge
    * extraction; a 100 TB pipeline would persist the oriented
    * edge/triangle artifact once and rebase consumers on it (the
    * q_dedup_incr_idx write→read pattern). In-process, a memoized
    * [[graft.plans.Ckpt.maybe]] is the same persist-once contract
    * with the session's lifetime as the retention policy.
    *
    * Bypassed (recompute per key) under the audit axis
    * `spark.graft.ckptCapture`: every key must capture its OWN full
    * pre-checkpoint segment chain — a cache hit would leave PlanAudit
    * blind to the subtree for keys 2..n.
    */
  private[graft] object SharedGraph {
    /** Test hook: drop cached artifacts so a spec pinning the
      * FRESH-build plan shape (PlanAuditSpec's broadcast-hint counts)
      * is independent of which suite touched the graph keys first. */
    private[graft] def reset(): Unit = graft.plans.SharedState.reset()
    /** The materialized distinct a<b edge list of [[partCoEdges]]. */
    def coEdges(s: SparkSession, d: String): DataFrame =
      graft.plans.SharedState.cachedDf(s, "graph.coEdges", d,
        Seq("lineitem.parquet"))(partCoEdges(s, d))
    /** The SYMMETRIC degree-windowed edge table (src, dst, deg) over
      * [[csPairs]], checkpointed — the shared input of the undirected
      * iteration kernels (r15 opt): q_pagerank, q_pagerank_copart and
      * q_pagerank_seeded each rebuilt the identical union + degree
      * window + checkpoint. In-memory memoization ONLY (cached, not
      * cachedDf): the degree window's hashpartitioning(src) IS the
      * copart iteration layout, preserved through localCheckpoint but
      * not through a parquet round-trip, and PlanAuditSpec pins the
      * copart join's zero-edge-exchange shape. */
    def symEdges(s: SparkSession, d: String): DataFrame =
      graft.plans.SharedState.cached(s, "graph.symEdges", d) {
        val e0 = csPairs(s, d)
        // maybePartitioned (r16): the degree window's
        // hashpartitioning(src) IS the copart iteration layout; under
        // AQE a plain localCheckpoint records UnknownPartitioning and
        // every iteration join re-exchanges the EDGES (see Ckpt)
        graft.plans.Ckpt.maybePartitioned(
          e0.select(col("a").as("src"), col("b").as("dst"))
            .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
            .withColumn("deg", count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy("src"))),
          "src")
      }

    /** The DIRECTED degree-windowed edge table (src, dst, deg) over
      * [[csPairs]] — [[q_pagerank_directed]]'s kernel input, same
      * in-memory-only stance as [[symEdges]]. */
    def dirEdges(s: SparkSession, d: String): DataFrame =
      graft.plans.SharedState.cached(s, "graph.dirEdges", d) {
        graft.plans.Ckpt.maybePartitioned(
          csPairs(s, d).select(col("a").as("src"), col("b").as("dst"))
            .withColumn("deg", count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy("src"))),
          "src")
      }

    /** The materialized final (node, label) LPA table over
      * [[coEdges]], shared by q_graph_lpa and q_graph_modularity —
      * both keys run the identical K-iteration propagation, so it
      * builds once per (app, dir, iters). */
    def lpa(s: SparkSession, d: String, iters: Int): DataFrame =
      graft.plans.SharedState.cached(s, s"graph.lpaLabels.$iters", d)(
        lpaLabelTable(coEdges(s, d), iters))
    /** (edges, degree table, oriented triangle set), the triangle
      * family's shared input. */
    def triangles(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
      val e = coEdges(s, d)
      val (deg, tris) =
        graft.plans.SharedState.cached(s, "graph.triangleParts", d) {
          val (dg, tr) = triangleParts(e)
          (graft.plans.Ckpt.maybe(dg), graft.plans.Ckpt.maybe(tr))
        }
      (e, deg, tris)
    }
  }

  /** The degree-oriented kernel of [[q_graph_triangles]], factored so
    * unit tests can drive it with hand-built graphs. `edges` must be
    * a DISTINCT undirected edge list with `a < b` (long columns
    * `a`, `b`, no self-loops).
    */
  private[graft] def triangleCounts(e: DataFrame): DataFrame = {
    val (deg, tris) = triangleParts(e)
    triangleCountsFrom(deg, tris)
  }

  /** [[triangleCounts]] on a pre-enumerated (deg, tris) pair — the
    * [[SharedGraph]] consumption path. */
  private def triangleCountsFrom(deg: DataFrame, tris: DataFrame): DataFrame = {
    val corners = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
            (col("deg") * (col("deg") - 1))).as("clustering"))
      .orderBy("node")
  }

  /** The shared degree-oriented triangle enumeration behind
    * [[triangleCounts]] and [[edgeJaccard]]: returns the per-node
    * degree table and the oriented triangle set (u, v, w). See
    * [[q_graph_triangles]]'s scaladoc for the O(m^1.5) orientation
    * argument; the oriented edge set is referenced three times (two
    * wedge sides + closure) and localCheckpoint'd once.
    */
  private def triangleParts(e: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .transform(graft.plans.Ckpt.maybePartitioned(_, "src"))
    val deg = sym.select(col("src").as("node"), col("deg")).dropDuplicates("node")
    val o = sym.join(
        broadcast(deg.select(col("node").as("dn"), col("deg").as("ddeg"))),
        col("dst") === col("dn"))
      .filter(col("deg") < col("ddeg") ||
        (col("deg") === col("ddeg") && col("src") < col("dst")))
      .select(col("src"), col("dst"), col("ddeg"))
      // maybePartitioned: o inherits sym's hashpartitioning(src);
      // keeping it recorded lets the wedge self-join plan without
      // re-exchanging either side (both read the same layout)
      .transform(graft.plans.Ckpt.maybePartitioned(_, "src"))
    val e1 = o.select(col("src").as("u"), col("dst").as("v"), col("ddeg").as("dv"))
    val e2 = o.select(col("src").as("u2"), col("dst").as("w"), col("ddeg").as("dw"))
    val wedges = e1.join(e2, col("u") === col("u2") &&
        (col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w"))))
      .select(col("u"), col("v"), col("w"))
    // Closure join strategy (r16 opt, guide §2.4/§3.1): the wedge
    // stream is the big side (measured 41M wedges from 1.2M edges at
    // sf0.1 — O(m^1.5) vs O(m)), and shuffling it by (v,w) for the
    // semi join dominated the triangle build (8.0s of the 10.7s
    // artifact). Broadcasting the ORIENTED EDGE SET instead removes
    // both exchanges: the closure test pipelines into the same stage
    // that enumerates wedges. Broadcast is size-gated on the edge
    // count (the StateJoin stance — o is corpus-scale at 100 TB, so
    // past `spark.graft.broadcastEdgesLimit` the shuffle semi join is
    // the correct plan); within the gate the (v,w) pair additionally
    // packs into ONE long key when every node id fits 32 bits
    // (LongHashedRelation, measured 5.1→3.1s cold vs the struct key)
    // — checked, not assumed, from the same one-row stats job.
    val s = e.sparkSession
    val stats = o.agg(count(lit(1)), max(greatest(col("src"), col("dst"))),
      min(least(col("src"), col("dst")))).head()
    val m = stats.getLong(0)
    val bcastOk = m <= s.conf.get("spark.graft.broadcastEdgesLimit",
      "50000000").toLong
    val packOk = m > 0 && !stats.isNullAt(1) &&
      stats.getLong(1) < (1L << 32) && stats.getLong(2) >= 0L
    val tris =
      if (bcastOk && packOk)
        wedges.withColumn("vw", shiftleft(col("v"), 32).bitwiseOR(col("w")))
          .join(broadcast(o.select(
              shiftleft(col("src"), 32).bitwiseOR(col("dst")).as("vw"))),
            Seq("vw"), "left_semi")
          .select(col("u"), col("v"), col("w"))
      else if (bcastOk)
        wedges.join(broadcast(o.select(col("src").as("v"), col("dst").as("w"))),
          Seq("v", "w"), "left_semi")
      else
        wedges.join(o.select(col("src").as("v"), col("dst").as("w")),
          Seq("v", "w"), "left_semi")
    (deg, tris)
  }

  /** Neighborhood-Jaccard similarity of every edge's endpoints —
    * the classic link-prediction / relatedness score J(u,v) =
    * |N(u)∩N(v)| / |N(u)∪N(v)| over the part co-occurrence graph.
    * Complements [[q_graph_triangles]]'s per-NODE density readout
    * with a per-EDGE one: a high-Jaccard edge joins two products
    * bought in the same baskets by the same crowd (near-substitute
    * detection; in a document-similarity graph, near-duplicate
    * communities vs incidental co-citation).
    *
    * Distributed shape: common-neighbor counts per edge are exactly
    * the per-edge triangle counts, so the enumeration reuses
    * [[triangleParts]]'s degree-oriented wedge join (O(m^1.5) bound;
    * no per-node neighbor sets are ever materialized — a
    * collect_set-based Jaccard would carry O(deg) state per row and
    * melt on hubs). Each triangle explodes into its three unordered
    * edges and one map-side-combined count agg attaches `common`;
    * degrees join via the broadcast O(nodes) dim (outgrow caveat +
    * co-partitioned fallback per q_pagerank's scaladoc). Union size
    * is pure arithmetic: deg_u + deg_v − common.
    *
    * Output: the top 5000 edges by (jaccard_fp DESC, a, b) — a total
    * order, so the cut is deterministic cross-engine; the ×1e6
    * round-half-up fixed point keeps every column an exact BIGINT.
    * The TakeOrdered top-k moves ≤ 5000 rows per partition, never
    * the full edge list.
    */
  def q_graph_jaccard(s: SparkSession, d: String, topN: Int = 5000): DataFrame = {
    val (e, deg, tris) = SharedGraph.triangles(s, d)
    edgeJaccardFrom(e, deg, tris, topN)
  }

  /** The per-edge kernel of [[q_graph_jaccard]], factored so unit
    * tests can drive it with hand-built graphs (`a < b` distinct
    * undirected edge lists, long columns).
    */
  private[graft] def edgeJaccard(e: DataFrame, topN: Int = 5000): DataFrame = {
    // e is referenced twice — triangleParts' symmetric view AND the
    // final per-edge score join — and for the public key its lineage
    // is the lineitem self-join + two distincts; without a
    // materialization that whole subtree computed twice (found by the
    // round-9 bench: 15.2s, ~2x the triangles key on the same graph).
    // The public key passes SharedGraph's already-materialized frames;
    // this entry point re-derives them for hand-built test graphs.
    val eD = e.transform(graft.plans.Ckpt.maybe)
    val (deg, tris) = triangleParts(eD)
    edgeJaccardFrom(eD, deg, tris, topN)
  }

  /** [[edgeJaccard]] on pre-enumerated artifacts ([[SharedGraph]]);
    * `e` must be cheap to rescan (materialized by the caller). */
  private def edgeJaccardFrom(
      eD: DataFrame, deg: DataFrame, tris: DataFrame, topN: Int): DataFrame = {
    val pairCounts = tris.select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    eD.join(pairCounts, Seq("a", "b"), "left")
      .join(broadcast(deg.select(col("node").as("a"), col("deg").as("deg_a"))), Seq("a"))
      .join(broadcast(deg.select(col("node").as("b"), col("deg").as("deg_b"))), Seq("b"))
      .select(col("a"), col("b"),
        coalesce(col("common"), lit(0L)).as("common"),
        col("deg_a"), col("deg_b"))
      .withColumn("jaccard_fp",
        expr("(2 * common * 1000000 + (deg_a + deg_b - common)) div (2 * (deg_a + deg_b - common))"))
      .orderBy(col("jaccard_fp").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Adamic-Adar link-prediction score of every edge's endpoints —
    * AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w): like
    * [[q_graph_jaccard]] but each common neighbor is weighted by how
    * SELECTIVE it is (Adamic & Adar 2003 — a shared neighbor that
    * touches everything, a stop-word product in a basket graph or a
    * boilerplate doc in a similarity graph, carries almost no signal;
    * a rare shared neighbor carries a lot). The two keys share the
    * triangle enumeration; this one aggregates over the wedge CENTER
    * instead of counting.
    *
    * Distributed shape: identical to [[edgeJaccard]] except each
    * exploded (edge, center) row broadcast-joins the center's degree
    * before the map-side-combined per-edge sum. A triangle corner has
    * deg ≥ 2 by construction, so ln(deg) ≥ ln 2 > 0 — no division
    * guard needed.
    *
    * Oracle parity: each term is `round(1e9 / ln(deg))` as a BIGINT —
    * ONE correctly-rounded IEEE division and one libm ln on an exact
    * integer input, then an exact long sum (the q_dsir rule: a 1-ulp
    * libm difference dies against the fixed-point quantum). The
    * top-5000 cut is deterministic under the (aa_fp DESC, a, b)
    * total order.
    */
  def q_graph_adamic(s: SparkSession, d: String, topN: Int = 5000): DataFrame = {
    val (e, deg, tris) = SharedGraph.triangles(s, d)
    edgeAdamicAdarFrom(e, deg, tris, topN)
  }

  /** The per-edge kernel of [[q_graph_adamic]], factored for
    * hand-built-graph tests (`a < b` distinct undirected edge lists).
    */
  private[graft] def edgeAdamicAdar(e: DataFrame, topN: Int = 5000): DataFrame = {
    // same twice-referenced-e materialization as edgeJaccard
    val eD = e.transform(graft.plans.Ckpt.maybe)
    val (deg, tris) = triangleParts(eD)
    edgeAdamicAdarFrom(eD, deg, tris, topN)
  }

  /** [[edgeAdamicAdar]] on pre-enumerated artifacts ([[SharedGraph]]). */
  private def edgeAdamicAdarFrom(
      eD: DataFrame, deg: DataFrame, tris: DataFrame, topN: Int): DataFrame = {
    val terms = tris.select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"),
          col("w").as("c")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b"),
          col("v").as("c")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b"),
          col("u").as("c")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.c").as("c"))
      .join(broadcast(deg.select(col("node").as("c"), col("deg").as("deg_c"))), Seq("c"))
      .select(col("a"), col("b"),
        round(lit(1e9) / log(col("deg_c"))).cast("long").as("term"))
    val pairScores = terms.groupBy("a", "b")
      .agg(count(lit(1)).as("common"), sum(col("term")).as("aa_fp"))
    eD.join(pairScores, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("common"), lit(0L)).as("common"),
        coalesce(col("aa_fp"), lit(0L)).as("aa_fp"))
      .orderBy(col("aa_fp").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * part co-occurrence graph — community detection one level up from
    * [[ClusterOps.connectedComponents]]: components find *any*
    * connectivity, LPA finds *densely* connected groups, the
    * granularity near-dup corpus analysis actually wants (a single
    * stray shared shingle connects two communities a components pass
    * would merge).
    *
    * Update rule (deterministic, both engines): every node
    * simultaneously adopts the label most frequent among its
    * neighbors, ties to the SMALLEST label; fixed K iterations
    * (synchronous LPA on near-bipartite structure can oscillate, so
    * a fixed horizon is the reproducible choice — the async variant
    * is order-dependent and unverifiable cross-engine).
    *
    * Distributed shape: the symmetric edge set is checkpointed once
    * (read by all K iterations); each iteration is one broadcast-hash
    * join of the O(nodes) label table onto the edges (the
    * broadcast-the-model stance and outgrow caveat of q_pagerank)
    * followed by two map-side-combined aggregations — (dst, label)
    * counts, then the per-dst argmax as `max(struct(cnt, -label))`
    * (codegen'd struct max; a window would sort the whole count
    * table). Labels are referenced once per iteration, so lineage
    * only needs the checkpoint CADENCE, not per-level
    * materialization (the single-reference side of the
    * twice-referenced-state rule); K=3 stays under it.
    *
    * Oracle parity: labels are exact longs end to end; the argmax
    * (count DESC, label ASC) is reproduced with a ranked window in
    * DuckDB. Community sizes attach via one O(labels) count agg.
    */
  def q_graph_lpa(s: SparkSession, d: String, iters: Int = 3): DataFrame =
    lpaFinish(SharedGraph.lpa(s, d, iters))

  /** The synchronous-LPA kernel of [[q_graph_lpa]], factored so unit
    * tests can drive it with hand-built graphs. `e` must be a
    * DISTINCT undirected edge list with `a < b` (long columns).
    */
  private[graft] def lpaLabels(e: DataFrame, iters: Int): DataFrame =
    lpaFinish(lpaLabelTable(e, iters))

  /** The K-iteration propagation loop of [[lpaLabels]], returning the
    * MATERIALIZED final (node, label) table — the expensive state
    * [[q_graph_lpa]] and [[q_graph_modularity]] both consume, so it
    * memoizes once per (app, dir, iters) via [[SharedGraph.lpa]]
    * (r14 verdict: the LPA rerun inside modularityOf was most of the
    * #2 bench key).
    */
  private[graft] def lpaLabelTable(e: DataFrame, iters: Int): DataFrame = {
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .transform(graft.plans.Ckpt.maybe)
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // size-gated switch (round 12): the label table is O(nodes) —
    // materialize the seed labels once (auto mode counts that, and
    // iteration 1 reuses it instead of recomputing the distinct). In
    // auto-copart the unpartitioned checkpointed sym is re-laid-out
    // on src once (amortized over the iterations), so each
    // iteration's shuffle-hash join moves only the label table.
    labels = labels.transform(graft.plans.Ckpt.maybe)
    val copart = graft.plans.StateJoin.copartFor(labels)
    val symJ = if (copart) graft.plans.Ckpt.maybePartitioned(sym, "src") else sym
    (1 to iters).foreach { _ =>
      labels = symJ.join(graft.plans.StateJoin.side(labels, copart),
          symJ("src") === labels("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("best"))
        .select(col("dst").as("node"), (-col("best.neg")).as("label"))
    }
    // the FINAL label table is referenced at least twice by every
    // consumer (sizes agg + output join here; three joins in the
    // modularity kernel) — materialize once or the whole K-iteration
    // chain reruns per reference (the twice-referenced-state rule;
    // labels inside the loop are single-reference and need no
    // per-level materialization)
    labels.transform(graft.plans.Ckpt.maybe)
  }

  /** The O(labels) community-size attach + presentation sort of
    * [[q_graph_lpa]] over a materialized label table. */
  private def lpaFinish(labelsD: DataFrame): DataFrame = {
    val sizes = labelsD.groupBy("label").agg(count(lit(1)).as("comm_size"))
    labelsD.join(broadcast(sizes), Seq("label"))
      .select(col("node"), col("label"), col("comm_size"))
      .orderBy("node")
  }

  /** Truncated k-core peeling over the part co-occurrence graph — the
    * web-graph quality/spam primitive (Fetterly et al.; link-farm and
    * boilerplate hubs live OUTSIDE deep cores): iteratively remove
    * nodes of degree < k, `rounds` times, and report each node's
    * initial degree, its degree inside the peeled subgraph, and
    * whether it survived. A FIXED round horizon, like
    * [[q_graph_hops]]/[[q_graph_lpa]]: the exact core is the fixed
    * point (data-dependent round count — unverifiable cross-engine
    * with an unrolled oracle); K rounds of peeling is the anytime
    * prefix both engines replay identically. The default k=95 sits at
    * the measured core-collapse threshold of the part graph (degrees
    * are narrow, p10≈87 / p90≈150): sf0.01 peels 1642 → 1230 → 377,
    * sf0.1 keeps an 8.8k-node core, and sf0.001's 200-node graph
    * genuinely has no 95-core (all-false is the correct answer, the
    * cascade is still exercised). k=3 against a ~115 average degree
    * peeled nothing anywhere — a vacuous gate.
    *
    * Distributed shape: each round is one bounded aggregation over
    * the current edge set (degree per node, O(nodes) keys, map-side
    * combined) and one two-sided semi-filter of the edges against the
    * broadcast O(nodes) alive set; `alive` is referenced twice per
    * round (src and dst filters) and the shrinking edge set by the
    * next round — both localCheckpoint'd (twice-referenced rule).
    * Peeling only ever SHRINKS the edge set, so per-round cost is
    * non-increasing.
    *
    * Oracle parity: all-integer (degrees, membership) — the unrolled
    * CTEs replay the peel exactly.
    */
  def q_graph_kcore(s: SparkSession, d: String,
                    k: Int = 95, rounds: Int = 3): DataFrame =
    kcorePeel(SharedGraph.coEdges(s, d), k, rounds)

  /** The peeling kernel of [[q_graph_kcore]], factored so unit tests
    * can drive it with hand-built graphs (`e`: DISTINCT a<b long
    * edges).
    */
  private[graft] def kcorePeel(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    val sym0 = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .transform(graft.plans.Ckpt.maybe)
    val deg0 = sym0.groupBy("src").agg(count(lit(1)).as("deg0"))
      .select(col("src").as("node"), col("deg0"))
    var sym = sym0
    var alive: DataFrame = null
    (1 to rounds).foreach { _ =>
      alive = sym.groupBy("src").agg(count(lit(1)).as("c"))
        .filter(col("c") >= k)
        .select(col("src").as("anode"))
        .transform(graft.plans.Ckpt.maybe)
      sym = sym
        .join(broadcast(alive), sym("src") === col("anode")).drop("anode")
        .join(broadcast(alive.select(col("anode").as("bnode"))),
          col("dst") === col("bnode")).drop("bnode")
        .transform(graft.plans.Ckpt.maybe)
    }
    val degF = sym.groupBy("src").agg(count(lit(1)).as("deg_final"))
      .select(col("src").as("node"), col("deg_final"))
    deg0.join(degF, Seq("node"), "left")
      .join(alive.select(col("anode").as("node"), lit(true).as("alive")),
        Seq("node"), "left")
      .select(col("node"), col("deg0"),
        coalesce(col("deg_final"), lit(0L)).as("deg_final"),
        coalesce(col("alive"), lit(false)).as("in_core"))
      .orderBy("node")
  }

  /** Degree-mixing report — the assortativity readout k_nn(k): for
    * every degree class, how many nodes have that degree and the mean
    * degree of their neighbors (Pastor-Satorras et al.'s average
    * nearest-neighbor degree). A rising k_nn(k) means hubs link to
    * hubs (assortative); falling means hubs link to leaves
    * (disassortative) — the first diagnostic to read before trusting
    * a sampled or contracted graph to behave like the original, and
    * the shape that decides whether degree-based partitioning will
    * skew.
    *
    * Scale shape ([[q_graph_triangles]] family): degrees via ONE
    * window count over the symmetric edge view (one exchange on
    * `src`), checkpointed once (referenced by the node dim and the
    * endpoint join); the neighbor-degree attach broadcasts the
    * O(nodes) degree dim — the same model-size caveat and
    * co-partitioned fallback as the PageRank ranks
    * (see [[q_pagerank]]). Both output aggs are map-side combined and
    * bounded by the distinct-degree count (≪ nodes). All columns are
    * exact BIGINTs; the mean is the standard ×1e6 round-half-up.
    */
  def q_graph_degree(s: SparkSession, d: String): DataFrame =
    degreeMixing(SharedGraph.coEdges(s, d))

  /** The k_nn(k) kernel of [[q_graph_degree]], factored so unit tests
    * can drive it with hand-built graphs (`e`: DISTINCT a<b long
    * edges, no self-loops).
    */
  private[graft] def degreeMixing(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .transform(graft.plans.Ckpt.maybePartitioned(_, "src"))
    val deg = sym.select(col("src").as("node"), col("deg")).dropDuplicates("node")
    val nByDeg = deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
    val knn = sym.join(
        broadcast(deg.select(col("node").as("dn"), col("deg").as("ddeg"))),
        col("dst") === col("dn"))
      .groupBy("deg")
      .agg(count(lit(1)).as("cnt"), sum(col("ddeg")).as("sd"))
      .select(col("deg"),
        expr("(2 * sd * 1000000 + cnt) div (2 * cnt)").as("knn_fp"))
    nByDeg.join(knn, Seq("deg"))
      .orderBy("deg")
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over the DIRECTED
    * customer→supplier graph — the mutual-reinforcement ranking the
    * family was missing next to its three PageRank variants: PageRank
    * scores a node by the mass random walks leave on it; HITS scores
    * each node TWICE (a good hub points at good authorities, a good
    * authority is pointed at by good hubs), which on this bipartite
    * purchase graph cleanly separates into customer hub scores and
    * supplier authority scores — the "which buyers define which
    * sellers matter" readout a marketplace ranks with. Fixed
    * iteration count; per half-step the raw score is the exact long
    * sum of the counterpart scores over the edges, then MAX-
    * normalized into ×1e6 fixed point (`raw·1e6 div max(raw)` — the
    * L∞ variant of HITS normalization: L2 would put a `sqrt` inside
    * the iteration and break integer exactness; max keeps every
    * operation an integer op on positive operands, where Spark `div`
    * and DuckDB `//` agree).
    *
    * Distributed shape — the [[q_pagerank]] discipline throughout:
    * ONE checkpointed edge extraction; the O(nodes) score tables
    * broadcast into each half-step's edge join (never re-shuffling
    * the corpus-sized edges); each new score table materialized
    * per half-step because it is referenced twice (the next
    * half-step's join build + the final readout — the directed
    * kernel's 2^K-recompute rationale, GraphOps.scala:165-173). The
    * co-partitioned fallback documented at [[q_pagerank_copart]]
    * applies unchanged when node count outgrows broadcast. Overflow:
    * raw = Σ of ≤ max-degree values each ≤ 1e6, so the ×1e6
    * normalization product needs max_degree < ~9·10⁶ — beyond,
    * widen to DECIMAL(38,0)/HUGEINT (the q_chi2 stance).
    */
  def q_graph_hits(s: SparkSession, d: String, iters: Int = 4): DataFrame =
    // the shared directed edge table (r15 opt): its (src, dst) rows
    // ARE this kernel's edge set, already materialized — the narrow
    // projection reads checkpointed partitions, no per-key re-copy
    hitsFrom(SharedGraph.dirEdges(s, d).select(col("src"), col("dst")), iters)

  /** Iteration kernel for [[q_graph_hits]], factored so a spec can
    * drive it with a hand-built graph and check the max-normalized
    * fixed-point arithmetic against hand-computed values.
    */
  private[graft] def hitsKernel(edges: DataFrame, iters: Int): DataFrame =
    hitsFrom(edges.transform(graft.plans.Ckpt.maybe), iters)

  /** [[hitsKernel]] on a pre-materialized edge set — the
    * [[SharedGraph.dirEdges]] consumption path. */
  private def hitsFrom(edgesIn: DataFrame, iters: Int): DataFrame = {
    val edgesD = edgesIn
    val nodes = edgesD.select(col("src").as("node"))
      .unionAll(edgesD.select(col("dst").as("node")))
      .distinct().transform(graft.plans.Ckpt.maybe)
    // size-gated switch (round 12). HITS alternates join keys (src
    // for the auth half-step, dst for the hub one), so the copart
    // side keeps TWO edge layouts — bucketed by src AND by dst, each
    // paid once — the standard both-ways bucketing a real deployment
    // stores for a mutual-reinforcement kernel; broadcast mode reads
    // the single checkpointed edge set as before.
    val copart = graft.plans.StateJoin.copartFor(nodes)
    val edgesBySrc =
      if (copart) graft.plans.Ckpt.maybePartitioned(edgesD, "src") else edgesD
    val edgesByDst =
      if (copart) graft.plans.Ckpt.maybePartitioned(edgesD, "dst") else edgesD
    var hub = nodes.select(col("node"), lit(1000000L).as("hub_fp"))
      .transform(graft.plans.Ckpt.maybe)
    var auth: DataFrame = null
    (1 to iters).foreach { _ =>
      // araw/hraw are referenced TWICE (the max-normalization scalar
      // AND the score rebuild) — unmaterialized, the corpus-scale edge
      // join ran once per reference (r16 fix, the twice-referenced
      // rule; measured 2 edge joins per half-step in the job trace).
      // Materialized, the max and the rebuild read O(nodes) rows.
      val araw = edgesBySrc.join(graft.plans.StateJoin.side(hub, copart),
          edgesBySrc("src") === hub("node"))
        .groupBy(edgesBySrc("dst")).agg(sum(col("hub_fp")).as("raw"))
        .transform(graft.plans.Ckpt.maybe)
      val amax = araw.agg(max(col("raw")).as("mx"))
      // auth/hub themselves are no longer checkpointed (r16): with
      // araw/hraw materialized they are O(nodes) projections over
      // checkpointed inputs, each referenced once per half-step (the
      // readout reads only the FINAL tables, also once), and plan
      // depth stays bounded because every half-step's lineage
      // truncates at its raw-score checkpoint.
      auth = nodes.join(araw, nodes("node") === araw("dst"), "left")
        .crossJoin(broadcast(amax))
        .withColumn("raw0", coalesce(col("raw"), lit(0L)))
        .select(nodes("node"), expr("(raw0 * 1000000) div mx").as("auth_fp"))
      val hraw = edgesByDst.join(graft.plans.StateJoin.side(auth, copart),
          edgesByDst("dst") === auth("node"))
        .groupBy(edgesByDst("src")).agg(sum(col("auth_fp")).as("raw"))
        .transform(graft.plans.Ckpt.maybe)
      val hmax = hraw.agg(max(col("raw")).as("mx"))
      hub = nodes.join(hraw, nodes("node") === hraw("src"), "left")
        .crossJoin(broadcast(hmax))
        .withColumn("raw0", coalesce(col("raw"), lit(0L)))
        .select(nodes("node"), expr("(raw0 * 1000000) div mx").as("hub_fp"))
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("hub_fp"), col("auth_fp"),
        (col("hub_fp").cast("double") / 1e6).as("hub"),
        (col("auth_fp").cast("double") / 1e6).as("auth"))
      .orderBy("node")
  }

  /** Newman modularity of the [[q_graph_lpa]] communities — the
    * standard did-the-clustering-find-real-structure score
    * (Q = Σ_c [m_c/m − (d_c/2m)²]; Newman & Girvan 2004), reported
    * per community so each label's contribution is auditable: node
    * count, intra-community edge count, degree mass, and the
    * community's Q term as a ×1e6 long.
    *
    * Exactness: the term is ((4·m·m_c − d_c²)·1e6) div (4·m²) with
    * the negative branch sign-separated (both engines then truncate
    * toward zero — Spark's `div` and DuckDB's `//` disagree on
    * NEGATIVE operands, floor vs trunc, so the sign never reaches
    * the division). Truncation rather than round-half-up here: the
    * half-up form needs a 2× factor that would overflow int64 at
    * this graph's edge count (|num|·1e6 ≤ 4m²·1e6 ≈ 5.7e18 at
    * sf0.1's m = 1.196M — headroom to m ≈ 1.5e6 edges; beyond that
    * the same expression runs in decimal(38,0) on both engines).
    *
    * Scale shape: the LPA label table is the expensive input — built
    * once via [[lpaLabels]] and checkpointed (referenced three
    * times: degree attach + both endpoint joins of the intra-edge
    * count); `m` rides as a broadcast one-row aggregate; every
    * aggregation is map-side combinable with O(labels) output.
    */
  def q_graph_modularity(s: SparkSession, d: String, iters: Int = 3): DataFrame =
    // coEdges and the label table are both already-materialized
    // shared artifacts — the LPA loop no longer reruns inside this
    // key (r14 verdict item 2)
    modularityFrom(SharedGraph.coEdges(s, d), SharedGraph.lpa(s, d, iters))

  /** The [[q_graph_modularity]] kernel over a DISTINCT undirected
    * `a < b` edge list, factored so unit tests can drive it with
    * hand-built graphs.
    */
  private[graft] def modularityOf(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.transform(graft.plans.Ckpt.maybe) // referenced 3x below
    modularityFrom(e, lpaLabelTable(e, iters))
  }

  /** [[modularityOf]] on a pre-materialized (edges, labels) pair —
    * the [[SharedGraph]] consumption path. Both inputs must be
    * materialized (each is referenced 3×). */
  private def modularityFrom(e: DataFrame, labelTable: DataFrame): DataFrame = {
    val labels = labelTable.select(col("node"), col("label"))
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dl = labels.join(deg, "node")
      .groupBy("label")
      .agg(sum(col("deg")).as("d_sum"), count(lit(1)).as("n_nodes"))
    val ie = e
      .join(labels.select(col("node").as("a"), col("label").as("la")), "a")
      .join(labels.select(col("node").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("m_intra"))
    dl.join(ie, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("m_intra"), lit(0L)).as("m_intra"), col("d_sum"),
        expr("""CASE WHEN 4 * m * coalesce(m_intra, 0) - d_sum * d_sum >= 0
               |  THEN ((4 * m * coalesce(m_intra, 0) - d_sum * d_sum)
               |        * 1000000) div (4 * m * m)
               |  ELSE -(((d_sum * d_sum - 4 * m * coalesce(m_intra, 0))
               |        * 1000000) div (4 * m * m))
               |END""".stripMargin).as("term_fp"))
      .orderBy("label")
  }

  // The co-partitioned iteration joins are physical variants only:
  // each _copart key shares its base key's oracle text, since the
  // fixed-point ranks and hop labels must come out identical.
  private val pagerankOracle: String = {
    val iters = 3
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS (SELECT node,
         |  CAST(150000000000 // (SELECT n FROM nn)
         |       + (85 * s) // 100 AS BIGINT) AS fp
         |FROM (SELECT e.dst AS node, sum(r.fp // d.deg) AS s
         |      FROM e JOIN $prev r ON e.src = r.node
         |             JOIN dg d ON e.src = d.src
         |      GROUP BY e.dst))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
       |                   's' || CAST(l.l_suppkey AS VARCHAR) AS b
       |            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM e0
       |      UNION ALL SELECT b AS src, a AS dst FROM e0),
       |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dg),
       |r0 AS (SELECT src AS node,
       |         CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS fp
       |       FROM dg),
       |$steps
       |SELECT r.node, d.deg, r.fp AS rank_fp,
       |  CAST(r.fp AS DOUBLE) / 1e12 AS rank
       |FROM r$iters r JOIN dg d ON r.node = d.src
       |ORDER BY r.node""".stripMargin
  }

  // Multi-source BFS hop labeling: unrolled frontier-expansion CTEs,
  // one (reached / fresh / visited / frontier) quadruple per level;
  // min-hop needs no tie-break (first level to reach a node IS its
  // minimum hop); unreached nodes report -1 via the final left join.
  private val graphHopsOracle: String = {
    val maxHops = 4
    val steps = (1 to maxHops).map { i =>
      val (dp, fp) = (s"d${i - 1}", s"f${i - 1}")
      s"""r$i AS (SELECT DISTINCT e.dst AS node FROM e JOIN $fp f ON e.src = f.node),
         |x$i AS (SELECT r.node, CAST($i AS BIGINT) AS hop FROM r$i r
         |        LEFT JOIN $dp d ON r.node = d.node WHERE d.node IS NULL),
         |d$i AS (SELECT * FROM $dp UNION ALL SELECT * FROM x$i),
         |f$i AS (SELECT node FROM x$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
       |                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
       |           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM e0
       |      UNION ALL SELECT b AS src, a AS dst FROM e0),
       |nd AS (SELECT DISTINCT src AS node FROM e),
       |d0 AS (SELECT node, CAST(0 AS BIGINT) AS hop FROM nd
       |       WHERE node LIKE 's%' AND CAST(substr(node, 2) AS BIGINT) % 100 = 0),
       |f0 AS (SELECT node FROM d0),
       |$steps
       |SELECT nd.node, CAST(coalesce(d.hop, -1) AS BIGINT) AS hop
       |FROM nd LEFT JOIN d$maxHops d ON nd.node = d.node
       |ORDER BY nd.node""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    // PageRank: all-integer fixed-point iterations — both engines
    // carry bit-identical longs; positive operands make Spark div and
    // DuckDB // agree
    // truncated k-core peeling: K=3 unrolled rounds; k=95 sits at the
    // measured core-collapse threshold (sf0.01: 1642 → 1230 → 377
    // survivors; k=3 was vacuous against the ~115 average degree and
    // k≥100 collapses every sf to zero by round 3) — all-integer
    Key("q_graph_kcore", (s, d) => q_graph_kcore(s, d), {
      val (k, rounds) = (95, 3)
      val steps = (1 to rounds).map { i =>
        val prev = if (i == 1) "sym" else s"s${i - 1}"
        s"""a$i AS (SELECT src AS node FROM $prev GROUP BY src HAVING count(*) >= $k),
           |s$i AS (SELECT s.src, s.dst FROM $prev s
           |        JOIN a$i x ON s.src = x.node JOIN a$i y ON s.dst = y.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem),
         |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
         |      FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
         |sym AS (SELECT a AS src, b AS dst FROM e
         |        UNION ALL SELECT b AS src, a AS dst FROM e),
         |d0 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg0
         |       FROM sym GROUP BY src),
         |$steps,
         |df AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg_final
         |       FROM s$rounds GROUP BY src)
         |SELECT d0.node, d0.deg0,
         |  CAST(coalesce(df.deg_final, 0) AS BIGINT) AS deg_final,
         |  a$rounds.node IS NOT NULL AS in_core
         |FROM d0 LEFT JOIN df USING (node) LEFT JOIN a$rounds USING (node)
         |ORDER BY d0.node""".stripMargin
    }),
    // synchronous LPA: K=3 unrolled iterations; per-iteration argmax
    // (count DESC, label ASC) as a ranked window — mirrors Spark's
    // max(struct(cnt, -label)); labels exact longs throughout
    Key("q_graph_lpa", (s, d) => q_graph_lpa(s, d), {
      val iters = 3
      val steps = (1 to iters).map { i =>
        val prev = s"l${i - 1}"
        s"""l$i AS (SELECT node, label FROM (
           |  SELECT dst AS node, label,
           |    row_number() OVER (PARTITION BY dst ORDER BY c DESC, label) AS rn
           |  FROM (SELECT e.dst, r.label, count(*) AS c
           |        FROM sym e JOIN $prev r ON e.src = r.node
           |        GROUP BY e.dst, r.label))
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem),
         |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
         |      FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
         |sym AS (SELECT a AS src, b AS dst FROM e
         |        UNION ALL SELECT b AS src, a AS dst FROM e),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
         |$steps,
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS comm_size
         |       FROM l$iters GROUP BY label)
         |SELECT l.node, l.label, sz.comm_size
         |FROM l$iters l JOIN sz USING (label) ORDER BY l.node""".stripMargin
    }),
    // Newman modularity over the LPA labels: composes the q_graph_lpa
    // CTE chain, then all-integer per-community terms with the
    // negative branch sign-separated (trunc-toward-zero both engines)
    Key("q_graph_modularity", (s, d) => q_graph_modularity(s, d), {
      val iters = 3
      val steps = (1 to iters).map { i =>
        val prev = s"l${i - 1}"
        s"""l$i AS (SELECT node, label FROM (
           |  SELECT dst AS node, label,
           |    row_number() OVER (PARTITION BY dst ORDER BY c DESC, label) AS rn
           |  FROM (SELECT e.dst, r.label, count(*) AS c
           |        FROM sym e JOIN $prev r ON e.src = r.node
           |        GROUP BY e.dst, r.label))
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem),
         |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
         |      FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
         |sym AS (SELECT a AS src, b AS dst FROM e
         |        UNION ALL SELECT b AS src, a AS dst FROM e),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
         |$steps,
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM sym GROUP BY 1),
         |dl AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS d_sum,
         |         CAST(count(*) AS BIGINT) AS n_nodes
         |       FROM l$iters l JOIN deg d USING (node) GROUP BY 1),
         |ie AS (SELECT la.label, CAST(count(*) AS BIGINT) AS m_intra
         |       FROM e JOIN l$iters la ON e.a = la.node
         |              JOIN l$iters lb ON e.b = lb.node
         |       WHERE la.label = lb.label GROUP BY 1)
         |SELECT dl.label, dl.n_nodes,
         |  CAST(coalesce(ie.m_intra, 0) AS BIGINT) AS m_intra, dl.d_sum,
         |  CASE WHEN 4 * mm.m * coalesce(ie.m_intra, 0)
         |            - dl.d_sum * dl.d_sum >= 0
         |    THEN ((4 * mm.m * coalesce(ie.m_intra, 0)
         |           - dl.d_sum * dl.d_sum) * 1000000) // (4 * mm.m * mm.m)
         |    ELSE -(((dl.d_sum * dl.d_sum
         |           - 4 * mm.m * coalesce(ie.m_intra, 0)) * 1000000)
         |          // (4 * mm.m * mm.m))
         |  END AS term_fp
         |FROM dl LEFT JOIN ie USING (label), mm
         |ORDER BY dl.label""".stripMargin
    }),
    // degree-oriented triangle counting over the part co-occurrence
    // graph; clustering = one IEEE division on exact integer
    // operands, NULL (not NaN) when deg < 2 on both sides
    Key("q_graph_triangles", (s, d) => q_graph_triangles(s, d),
      """WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem),
        |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
        |      FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
        |sym AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b AS src, a AS dst FROM e),
        |dg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |       FROM sym GROUP BY 1),
        |o AS (SELECT s.src, s.dst, d2.deg AS ddeg FROM sym s
        |      JOIN dg d1 ON s.src = d1.node JOIN dg d2 ON s.dst = d2.node
        |      WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND s.src < s.dst)),
        |wg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS wn
        |       FROM o e1 JOIN o e2 ON e1.src = e2.src
        |       WHERE e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst)),
        |t AS (SELECT u, v, wn FROM wg
        |      WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wg.v AND o.dst = wg.wn)),
        |c AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |        SELECT u AS node FROM t
        |        UNION ALL SELECT v FROM t
        |        UNION ALL SELECT wn FROM t)
        |      GROUP BY 1)
        |SELECT d.node, d.deg, CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN d.deg >= 2
        |    THEN CAST(2 * coalesce(c.n_tri, 0) AS DOUBLE) / (d.deg * (d.deg - 1)) END
        |    AS clustering
        |FROM dg d LEFT JOIN c USING (node) ORDER BY d.node""".stripMargin),
    // k_nn(k) degree mixing: per-degree node counts + mean neighbor
    // degree as the x1e6 round-half-up fixed point
    Key("q_graph_degree", q_graph_degree _,
      """WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem),
        |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
        |      FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
        |sym AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b AS src, a AS dst FROM e),
        |dg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |       FROM sym GROUP BY 1),
        |nb AS (SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
        |       FROM dg GROUP BY 1),
        |j AS (SELECT d1.deg AS deg, CAST(count(*) AS BIGINT) AS cnt,
        |        CAST(sum(d2.deg) AS BIGINT) AS sd
        |      FROM sym s JOIN dg d1 ON s.src = d1.node
        |                 JOIN dg d2 ON s.dst = d2.node
        |      GROUP BY 1)
        |SELECT nb.deg, nb.n_nodes,
        |  (2 * j.sd * 1000000 + j.cnt) // (2 * j.cnt) AS knn_fp
        |FROM nb JOIN j USING (deg) ORDER BY nb.deg""".stripMargin),
    // per-edge common neighbors = per-edge triangle counts (same
    // oriented enumeration, triangles exploded into their 3 unordered
    // edges); jaccard as x1e6 round-half-up over exact BIGINTs; the
    // top-5000 cut is deterministic under the (fp DESC, a, b) total
    // order
    Key("q_graph_jaccard", (s, d) => q_graph_jaccard(s, d),
      """WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem),
        |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
        |      FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
        |sym AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b AS src, a AS dst FROM e),
        |dg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |       FROM sym GROUP BY 1),
        |o AS (SELECT s.src, s.dst, d2.deg AS ddeg FROM sym s
        |      JOIN dg d1 ON s.src = d1.node JOIN dg d2 ON s.dst = d2.node
        |      WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND s.src < s.dst)),
        |wg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS wn
        |       FROM o e1 JOIN o e2 ON e1.src = e2.src
        |       WHERE e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst)),
        |t AS (SELECT u, v, wn FROM wg
        |      WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wg.v AND o.dst = wg.wn)),
        |pc AS (SELECT pa AS a, pb AS b, CAST(count(*) AS BIGINT) AS common FROM (
        |         SELECT least(u, v) AS pa, greatest(u, v) AS pb FROM t
        |         UNION ALL SELECT least(u, wn), greatest(u, wn) FROM t
        |         UNION ALL SELECT least(v, wn), greatest(v, wn) FROM t)
        |       GROUP BY 1, 2)
        |SELECT e.a, e.b, coalesce(pc.common, 0) AS common,
        |  da.deg AS deg_a, db.deg AS deg_b,
        |  (2 * coalesce(pc.common, 0) * 1000000 + (da.deg + db.deg - coalesce(pc.common, 0)))
        |    // (2 * (da.deg + db.deg - coalesce(pc.common, 0))) AS jaccard_fp
        |FROM e LEFT JOIN pc ON pc.a = e.a AND pc.b = e.b
        |  JOIN dg da ON da.node = e.a JOIN dg db ON db.node = e.b
        |ORDER BY jaccard_fp DESC, e.a, e.b LIMIT 5000""".stripMargin),
    // Adamic-Adar: per-edge sum of round(1e9/ln(deg)) over common
    // neighbors (= wedge centers of the same oriented triangle
    // enumeration); one libm ln per center on an exact integer input
    // (the q_dsir fixed-point rule)
    Key("q_graph_adamic", (s, d) => q_graph_adamic(s, d),
      """WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem),
        |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
        |      FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
        |sym AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b AS src, a AS dst FROM e),
        |dg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |       FROM sym GROUP BY 1),
        |o AS (SELECT s.src, s.dst, d2.deg AS ddeg FROM sym s
        |      JOIN dg d1 ON s.src = d1.node JOIN dg d2 ON s.dst = d2.node
        |      WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND s.src < s.dst)),
        |wg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS wn
        |       FROM o e1 JOIN o e2 ON e1.src = e2.src
        |       WHERE e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst)),
        |t AS (SELECT u, v, wn FROM wg
        |      WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wg.v AND o.dst = wg.wn)),
        |tc AS (SELECT pa AS a, pb AS b, c FROM (
        |         SELECT least(u, v) AS pa, greatest(u, v) AS pb, wn AS c FROM t
        |         UNION ALL SELECT least(u, wn), greatest(u, wn), v FROM t
        |         UNION ALL SELECT least(v, wn), greatest(v, wn), u FROM t)),
        |pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common,
        |         CAST(sum(CAST(round(1e9 / ln(d.deg)) AS BIGINT)) AS BIGINT) AS aa_fp
        |       FROM tc JOIN dg d ON tc.c = d.node GROUP BY 1, 2)
        |SELECT e.a, e.b, coalesce(pc.common, 0) AS common,
        |  CAST(coalesce(pc.aa_fp, 0) AS BIGINT) AS aa_fp
        |FROM e LEFT JOIN pc ON pc.a = e.a AND pc.b = e.b
        |ORDER BY aa_fp DESC, e.a, e.b LIMIT 5000""".stripMargin),
    // HITS: unrolled half-step CTEs (auth-raw / auth / hub-raw / hub
    // per iteration), max-normalized x1e6 fixed point — all-positive
    // integer ops so // and div agree; sums CAST BIGINT (HUGEINT)
    Key("q_graph_hits", (s, d) => q_graph_hits(s, d), {
      val iters = 4
      val steps = (1 to iters).map { i =>
        val hp = s"h${i - 1}"
        s"""ar$i AS (SELECT e.dst, CAST(sum(h.hub) AS BIGINT) AS raw
           |        FROM e JOIN $hp h ON e.src = h.node GROUP BY 1),
           |a$i AS (SELECT n.node,
           |          CAST((coalesce(ar.raw, 0) * 1000000)
           |               // max(ar.raw) OVER () AS BIGINT) AS auth
           |        FROM n LEFT JOIN ar$i ar ON n.node = ar.dst),
           |hr$i AS (SELECT e.src, CAST(sum(a.auth) AS BIGINT) AS raw
           |        FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1),
           |h$i AS (SELECT n.node,
           |          CAST((coalesce(hr.raw, 0) * 1000000)
           |               // max(hr.raw) OVER () AS BIGINT) AS hub
           |        FROM n LEFT JOIN hr$i hr ON n.node = hr.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         |                's' || CAST(l.l_suppkey AS VARCHAR) AS dst
         |           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM n),
         |$steps
         |SELECT h.node, h.hub AS hub_fp, a.auth AS auth_fp,
         |  CAST(h.hub AS DOUBLE) / 1e6 AS hub,
         |  CAST(a.auth AS DOUBLE) / 1e6 AS auth
         |FROM h$iters h JOIN a$iters a ON h.node = a.node
         |ORDER BY h.node""".stripMargin
    }),
    Key("q_pagerank", (s, d) => q_pagerank(s, d), pagerankOracle),
    Key("q_pagerank_copart", (s, d) => q_pagerank_copart(s, d), pagerankOracle),
    Key("q_graph_hops", (s, d) => q_graph_hops(s, d), graphHopsOracle),
    Key("q_graph_hops_copart", (s, d) => q_graph_hops_copart(s, d), graphHopsOracle),
    // Seeded PageRank: teleport only to the seed suppliers (CASE on
    // the seed flag), nodes kept alive by the left join so unreached
    // nodes report exactly 0; same all-integer fixed-point contract.
    Key("q_pagerank_seed", (s, d) => q_pagerank_seeded(s, d), {
      val iters = 3
      val steps = (1 to iters).map { i =>
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""r$i AS (SELECT nd.node,
           |  CAST((CASE WHEN nd.seed THEN 150000000000 // (SELECT n FROM ns) ELSE 0 END)
           |       + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS fp
           |FROM nd LEFT JOIN (SELECT e.dst AS node, sum(r.fp // dg.deg) AS s
           |                   FROM e JOIN $prev r ON e.src = r.node
           |                          JOIN dg ON e.src = dg.src
           |                   GROUP BY e.dst) c ON nd.node = c.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
         |                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
         |           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e AS (SELECT a AS src, b AS dst FROM e0
         |      UNION ALL SELECT b AS src, a AS dst FROM e0),
         |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |nd AS (SELECT src AS node, deg,
         |         (src LIKE 's%' AND CAST(substr(src, 2) AS BIGINT) % 100 = 0) AS seed
         |       FROM dg),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd WHERE seed),
         |r0 AS (SELECT node, CASE WHEN seed
         |         THEN CAST(1000000000000 // (SELECT n FROM ns) AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS fp
         |       FROM nd),
         |$steps
         |SELECT r.node, nd.seed, r.fp AS rank_fp,
         |  CAST(r.fp AS DOUBLE) / 1e12 AS rank
         |FROM r$iters r JOIN nd ON r.node = nd.node
         |ORDER BY r.node""".stripMargin
    }),
    // Directed PageRank with dangling-mass redistribution: suppliers
    // are sinks (outdeg 0); each step collects their total fp into a
    // one-row dangling aggregate and every node receives dm // N on
    // top of its in-edge contributions. Same all-integer fixed-point
    // contract — final CASTs normalize DuckDB's HUGEINT sums back to
    // BIGINT so both engines carry identical longs.
    Key("q_pagerank_dir", (s, d) => q_pagerank_directed(s, d), {
      val iters = 3
      val steps = (1 to iters).map { i =>
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""d$i AS (SELECT CAST(coalesce(sum(r.fp), 0) AS BIGINT) AS dm
           |  FROM $prev r JOIN nd ON r.node = nd.node WHERE nd.deg = 0),
           |r$i AS (SELECT nd.node,
           |  CAST(150000000000 // (SELECT n FROM nn)
           |       + (85 * (coalesce(c.s, 0)
           |                + (SELECT dm FROM d$i) // (SELECT n FROM nn))) // 100
           |       AS BIGINT) AS fp
           |FROM nd LEFT JOIN (SELECT e.dst AS node, sum(r.fp // dg.deg) AS s
           |                   FROM e JOIN $prev r ON e.src = r.node
           |                          JOIN dg ON e.src = dg.src
           |                   GROUP BY e.dst) c ON nd.node = c.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         |                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
         |           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |nd AS (SELECT n.node, CAST(coalesce(dg.deg, 0) AS BIGINT) AS deg
         |       FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
         |       LEFT JOIN dg ON n.node = dg.src),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
         |r0 AS (SELECT node,
         |         CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS fp
         |       FROM nd),
         |$steps
         |SELECT r.node, nd.deg AS out_deg, r.fp AS rank_fp,
         |  CAST(r.fp AS DOUBLE) / 1e12 AS rank
         |FROM r$iters r JOIN nd ON r.node = nd.node
         |ORDER BY r.node""".stripMargin
    }),
  )
}
