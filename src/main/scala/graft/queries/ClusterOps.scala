package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import graft.queries.DedupOps.duckSimhashCtes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn near-dup PAIRS (the output of the
  * MinHash/SimHash LSH family) into connected components, so the
  * pipeline can keep one canonical document per cluster. This is the
  * step that makes pair generation actionable at corpus scale — "A~B,
  * B~C" must collapse to one cluster {A,B,C} even though (A,C) was
  * never emitted as a pair.
  *
  * The algorithm is alternating large-star/small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14): each
  * round is two hash-aggregations and two joins — NO unbounded
  * per-node neighbor collection (the naive "collect neighborhood,
  * relabel" approach holds a high-degree node's whole neighborhood in
  * one aggregation state; a boilerplate dup-cluster of 10M documents
  * would OOM it). Converges in O(log² n) rounds to a star forest whose
  * centers are the component minima; near-dup graphs (dense clusters,
  * tiny diameter) converge in 2-3 rounds.
  *
  * Each round's edge set is CHECKPOINTED (localCheckpoint), not
  * merely persisted: every round references the previous edge set
  * several times (the symmetrized union alone doubles it), so without
  * plan truncation the logical plan GROWS EXPONENTIALLY across rounds
  * — by round ~10 merely formatting the plan string OOMs the driver,
  * long before any data size matters. A persist caches row data but
  * leaves the analyzed plan nested; a checkpoint replaces the plan
  * with a leaf. On a cluster the equivalent is `checkpoint()` to
  * reliable storage (localCheckpoint trades executor-loss tolerance
  * for speed — fine in a single JVM); superseded checkpoint RDDs are
  * freed by the ContextCleaner once unreferenced.
  */
object ClusterOps {

  /** Connected components over an undirected edge list. Returns one
    * row per node that appears in an edge: (node, label) where label
    * is the component's minimum node id. The result is materialized
    * (localCheckpoint) so callers get a shallow plan — the iterative
    * lineage is not replayed per downstream action — and all loop
    * intermediates are unpersisted before returning (the checkpointed
    * result itself is freed by the ContextCleaner when the DataFrame
    * is garbage-collected).
    *
    * `localFinishEdges`: once the contracted edge set fits under this
    * HARD cap (default 100k edges ≈ 3 MB collected — model-sized, same
    * stance as the collected k-means codebook), the remaining rounds
    * finish as driver-side union-find. Star contraction shrinks the
    * edge set geometrically, so at any corpus scale the tail rounds
    * schedule five-stage distributed jobs over megabytes at most —
    * O(log² n) rounds of pure latency that a millisecond local pass
    * replaces exactly. (Measured on a dense 8×-duplicate corpus: 3.8M
    * confirmed pairs contract to 37k edges after ONE round; the 10k
    * cap left 3 tail rounds ≈ 2s of scheduling that the 100k cap
    * absorbs locally.) The cap bounds driver memory explicitly; 0
    * disables the finish (used by tests to exercise the distributed
    * fixed point).
    *
    * `assumeNormalized`: callers whose edge list is already UNIQUE
    * unordered pairs (e.g. the LSH families' `doc_a < doc_b` pair
    * lists) skip the initial `distinct()` — on a dense-dup corpus that
    * is a full shuffle of the entire (quadratic-in-community-size)
    * pair list for zero reduction. Orientation and self-loop filtering
    * are still applied (cheap projections); only the dedup is trusted.
    */
  def connectedComponents(
      edges: DataFrame, a: String, b: String, maxIter: Int = 25,
      localFinishEdges: Long = 100000,
      assumeNormalized: Boolean = false): DataFrame = {
    // Convergence = the EXACT fixed point, detected directly: a
    // normalized (hi > lo) edge set is a star forest — every edge
    // points a member at its star's root — iff no node appears as both
    // a hi and a lo (no chains) and no hi carries two parents. Star
    // forests are precisely the fixed points of the
    // large-star∘small-star round (members have no larger neighbors so
    // large-star re-emits the star; each member's smaller neighborhood
    // is exactly its root so small-star does too), and in a normalized
    // star forest each root is its component's minimum, which is the
    // label set we return. Testing the fixed point STRUCTURALLY beats
    // the next==cur comparison two ways: no shuffle-heavy except(),
    // and the loop exits the round the forest forms instead of paying
    // one more full round to observe "nothing changed" — for the
    // near-dup clique graphs banding produces, that halves the rounds
    // (isolated pairs/stars are a forest after round 0 and skip the
    // loop entirely). One bounded aggregation per check: per-node
    // (hi-degree, lo-degree) counts, violations filtered, isEmpty.
    def isStarForest(df: DataFrame): Boolean =
      df.select(col("hi").as("n"), lit(1L).as("h"), lit(0L).as("l"))
        .unionAll(df.select(col("lo").as("n"), lit(0L).as("h"), lit(1L).as("l")))
        .groupBy("n").agg(sum("h").as("nh"), sum("l").as("nl"))
        .filter(col("nh") > 1 || (col("nh") > 0 && col("nl") > 0))
        .isEmpty
    // Driver union-find over the collected residual edge set: union by
    // MINIMUM root (the smaller root absorbs, so each tree's root IS
    // the component minimum) + path compression on find. Exact — the
    // same labels the distributed fixed point would reach.
    def localFinish(df: DataFrame): DataFrame = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      df.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        parent.getOrElseUpdate(ra min rb, ra min rb)
      }
      val sp = df.sparkSession
      import sp.implicits._
      parent.keys.toSeq.map(n => (n, find(n))).toDF("node", "label")
        .localCheckpoint(true) // same shallow-plan contract as the distributed path
    }
    // normalize: (hi, lo) with hi > lo, self-loops dropped, distinct
    // (distinct skipped when the caller guarantees unique pairs)
    val oriented = edges
      .select(col(a).cast("long").as("p"), col(b).cast("long").as("q"))
      .filter(col("p") =!= col("q"))
      .select(greatest(col("p"), col("q")).as("hi"), least(col("p"), col("q")).as("lo"))
    var cur = (if (assumeNormalized) oriented else oriented.distinct())
      .localCheckpoint(true)
    if (localFinishEdges > 0 && cur.count() <= localFinishEdges)
      return localFinish(cur)
    var converged = isStarForest(cur)
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: every node u connects its strictly-larger
      // neighbors to the minimum of its closed neighborhood. The
      // per-node minimum is a plain hash-agg (bounded state), joined
      // back — never a neighborhood collection. Emission-set algebra
      // keeps the join at |E| rows: {(v, m(u)) : v ∈ N(u), v > u} is
      // exactly {(hi, m(lo)) : (hi, lo) ∈ E} — each larger-neighbor
      // pair (v, u) IS a normalized edge — so instead of symmetrizing
      // to 2|E|, joining, and filtering v > u, join the edge list
      // itself against the min table on `lo`. The min aggregation
      // still reads the symmetric view (m(u) needs both directions),
      // but its output is already hash-partitioned on the join key, so
      // the join adds one exchange for `cur` only. m(lo) ≤ lo < hi, so
      // (hi, m(lo)) stays normalized.
      val sym = cur.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(cur.select(col("lo").as("u"), col("hi").as("v")))
      val minsL = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u").as("lo"), least(col("mn"), col("u")).as("m"))
      // One explicit hash(hi) exchange serves the next THREE operators:
      // the dedup (ClusteredDistribution(hi, lo) is satisfied by
      // HashPartitioning(hi) — equal pairs co-locate), the small-star
      // min aggregation (grouped by hi), and the small-star join (both
      // sides end up hash(hi)-partitioned). Without it each would plan
      // its own exchange.
      val ls = cur.join(minsL, "lo")
        .select(col("hi"), col("m").as("lo"))
        .repartition(col("hi"))
        .distinct()
      // small-star: every node connects its smaller neighbors (and
      // itself) to the minimum among them. Edges are already directed
      // hi -> lo, so the smaller neighborhood of `hi` is its lo-set.
      val minsS = ls.groupBy("hi").agg(min(col("lo")).as("m"))
      val joined = ls.join(minsS, "hi")
      val next = joined.select(col("hi"), col("m").as("lo"))
        .unionAll(joined.filter(col("lo") =!= col("m"))
          .select(col("lo").as("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint(true) // truncate lineage: see scaladoc
      cur = next
      // each round contracts the set geometrically — re-check the cap
      // (count is free: `next` is checkpoint-materialized) before
      // paying another distributed round or even the star-test job
      if (localFinishEdges > 0 && cur.count() <= localFinishEdges)
        return localFinish(cur)
      converged = isStarForest(cur)
      it += 1
    }
    // star forest: every edge points a member at its component min.
    // If maxIter exhausted before convergence, cur may NOT be a star
    // forest yet (a node can still carry edges to several provisional
    // minima) — without the defensive min below, a caller's join on
    // `node` would silently duplicate rows. Warn loudly and resolve
    // each node to its smallest label; near-dup graphs converge in
    // 2-3 rounds so this path indicates maxIter was set far too low.
    if (!converged)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"connectedComponents: not converged after $maxIter rounds; " +
          "labels resolved defensively via min() and may not be component minima")
    cur.select(col("hi").as("node"), col("lo").as("label"))
      .unionAll(cur.select(col("lo").as("node"), col("lo").as("label")))
      .groupBy("node").agg(min(col("label")).as("label"))
      .localCheckpoint(true) // shallow plan for callers
  }

  /** Declared query: duplicate clusters of the `documents` table from
    * banded SimHash near-dup pairs (hamming <= 1). Every document gets
    * a cluster id (the cluster's minimum doc_id — singletons label
    * themselves) and its cluster's size; `doc_id == cluster_id` marks
    * the canonical representative a dedup pass would keep.
    *
    * Scale shape: pair generation is the banded-LSH path (one vote
    * pass, capped buckets), the component loop is star-contraction
    * with bounded aggregation state, and the final size/labels joins
    * shuffle O(docs) rows of two longs. Nothing holds a cluster in
    * one buffer.
    */
  def q_dup_clusters(s: SparkSession, d: String): DataFrame =
    clustered(s, d)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")

  /** Shared (doc_id, cluster_id, cluster_size) assignment behind
    * [[q_dup_clusters]] and [[q_dedup_resolve]].
    */
  private def clustered(s: SparkSession, d: String): DataFrame = {
    val pairs = DedupOps.SharedDedup.simPairs(s, d).select(col("doc_a"), col("doc_b"))
    // simhashPairs emits each unordered pair exactly once (doc_a <
    // doc_b, deduped across bands) — skip the corpus-pair distinct
    val labels = connectedComponents(pairs, "doc_a", "doc_b", assumeNormalized = true)
    val base = documents(s, d).select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
    // sizes via a count window, not groupBy+join: `base` (a documents
    // scan + labels join) is consumed ONCE — Spark has no cross-branch
    // CSE, so the agg/join form would run the scan and join twice per
    // action. One shuffle on cluster_id either way; window partitions
    // are true cluster sizes (bounded by the largest dup cluster, the
    // same ceiling every dedup consumer already accepts).
    base.withColumn("cluster_size",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
  }

  /** The dedup RESOLUTION step — the surviving corpus after near-dup
    * clustering: one row per KEPT document (its cluster's minimum
    * doc_id; singletons keep themselves), with how many near-dups the
    * cluster dropped. This is the table a pipeline actually joins
    * against its corpus to materialize the deduplicated training set;
    * `sum(n_dropped)` is the dedup yield number an operator reports.
    * Same plan as [[q_dup_clusters]] plus one filter — the canonical
    * marker `doc_id == cluster_id` needs no extra shuffle.
    */
  def q_dedup_resolve(s: SparkSession, d: String): DataFrame =
    clustered(s, d)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_size").cast("long").as("n_members"),
        (col("cluster_size") - 1).cast("long").as("n_dropped"))
      .orderBy("doc_id")

  /** POLICY-driven dedup resolution — [[q_dedup_resolve]] keeps each
    * cluster's minimum doc_id, which is arbitrary with respect to
    * everything the training set cares about; this variant keeps the
    * LONGEST member (n_chars, doc_id tie-break): near-dup clusters
    * routinely pair a full document with its truncation or quote
    * ([[graft.queries.DedupOps.q_containment]]'s short-in-long
    * shape), and keeping the longest keeps the superset copy instead
    * of whichever crawl happened to get the smaller id. Emits the
    * full per-doc decision table (cluster, length, representative,
    * kept) so the policy is auditable, not just applied. Policy
    * chosen by MEASUREMENT: keep-longest diverges from keep-min-id
    * in 13 of 31 multi-member clusters at sf0.01 (all 31 vary in
    * length), while keep-rarest-source was measured DEGENERATE here
    * — this corpus's sources are uniformly sized, so the frequency
    * key always fell through to the id tie-break.
    *
    * Scale shape: the cluster assignment is the established
    * star-contraction path; the representative choice is one
    * full-partition min over a struct key on the cluster_id window —
    * the SAME exchange the cluster-size window already rides
    * (partition = near-dup cluster, bounded by the largest dup
    * community, the ceiling every dedup consumer accepts).
    */
  def q_dedup_priority(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT composed over q_dup_clusters: its declared output ends in a
    // global ORDER BY and carries no n_chars, so the composition paid
    // a wasted range exchange plus a doc_id join against a second
    // documents scan (measured 5.95s vs q_dedup_resolve's 1.8s).
    // Instead the label table attaches to ONE documents scan that
    // already carries n_chars — same shape as `clustered`, one
    // cluster_id exchange for the representative window.
    val pairs = DedupOps.SharedDedup.simPairs(s, d).select(col("doc_a"), col("doc_b"))
    val labels = connectedComponents(pairs, "doc_a", "doc_b", assumeNormalized = true)
    val base = documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val best = min(struct((-col("n_chars")).as("neg_len"), col("doc_id")))
      .over(Window.partitionBy("cluster_id"))
    base
      .withColumn("rep_id", best.getField("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"),
        col("rep_id"), (col("doc_id") === col("rep_id")).as("kept"))
      .orderBy("doc_id")
  }

  val keys: Seq[Key] = Seq(
    // Connected components in SQL: recursive min-label propagation.
    // Seed every edge-incident node with the min of its closed
    // neighborhood; the recursive step flows any neighbor's label
    // across an edge; UNION dedups so the iteration reaches a fixpoint
    // over the finite label set. The component minimum m seeds itself
    // (all its neighbors are larger) and propagates along every path,
    // so min(label) per node is exactly the component min — the same
    // labels star-contraction converges to. Singletons (no pair) get
    // cluster_id = doc_id via the left join, as in the query.
    Key("q_dup_clusters", q_dup_clusters _,
      s"""WITH RECURSIVE $duckSimhashCtes,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM s a, s b
         |  WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 1),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |lab(node, label) AS (
         |  SELECT u, least(u, min(v)) FROM e GROUP BY u
         |  UNION
         |  SELECT e.u, l.label FROM e JOIN lab l ON e.v = l.node),
         |lbl AS (SELECT node, min(label) AS label FROM lab GROUP BY node),
         |base AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM base ORDER BY doc_id""".stripMargin),
    // same label propagation; keep only canonical rows (doc_id ==
    // cluster minimum) — the surviving corpus after near-dup dedup
    Key("q_dedup_resolve", q_dedup_resolve _,
      s"""WITH RECURSIVE $duckSimhashCtes,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM s a, s b
         |  WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 1),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |lab(node, label) AS (
         |  SELECT u, least(u, min(v)) FROM e GROUP BY u
         |  UNION
         |  SELECT e.u, l.label FROM e JOIN lab l ON e.v = l.node),
         |lbl AS (SELECT node, min(label) AS label FROM lab GROUP BY node),
         |base AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node),
         |sized AS (SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |  FROM base)
         |SELECT doc_id, cluster_size AS n_members,
         |  cluster_size - 1 AS n_dropped
         |FROM sized WHERE doc_id = cluster_id ORDER BY doc_id""".stripMargin),
    // same components; representative = LONGEST member (n_chars DESC,
    // doc_id ASC) via a per-cluster rank CTE — keep-rarest-source was
    // measured degenerate on this corpus (uniform source sizes)
    Key("q_dedup_priority", q_dedup_priority _,
      s"""WITH RECURSIVE $duckSimhashCtes,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM s a, s b
         |  WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 1),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |lab(node, label) AS (
         |  SELECT u, least(u, min(v)) FROM e GROUP BY u
         |  UNION
         |  SELECT e.u, l.label FROM e JOIN lab l ON e.v = l.node),
         |lbl AS (SELECT node, min(label) AS label FROM lab GROUP BY node),
         |base AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node),
         |j AS (SELECT b.doc_id, b.cluster_id, CAST(d.n_chars AS BIGINT) AS n_chars
         |  FROM base b JOIN documents d USING (doc_id)),
         |r AS (SELECT cluster_id, doc_id AS rep_id FROM (
         |    SELECT cluster_id, doc_id,
         |      row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM j) WHERE rn = 1)
         |SELECT j.doc_id, j.cluster_id, j.n_chars, r.rep_id,
         |  j.doc_id = r.rep_id AS kept
         |FROM j JOIN r USING (cluster_id) ORDER BY j.doc_id""".stripMargin),
  )
}
