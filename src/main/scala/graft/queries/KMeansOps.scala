package graft.queries

import graft.SparkEntry.Key
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spherical k-means over an embedding column — the "training" step
  * that q_sim_ivf's coarse quantizer hand-waves (its cells are the
  * first K vectors; a production IVF index runs a few Lloyd iterations
  * first). Everything is the DataFrame shapes the rest of the library
  * already uses:
  *
  *  - E-step: broadcast the K×dim centroid table, score with the
  *    codegen'd `cosine_sim`, argmax via map-side-combined `max_by` —
  *    the exact assignment pass of SimilarityOps.q_sim_ivf, n combined
  *    rows per shuffle.
  *  - M-step: per-(cell, dim) `avg()` after a posexplode — constant
  *    aggregation state, k·dim combined rows (EmbedOps.centroidsAvg's
  *    shape, over real assignments instead of mod-k cells).
  *
  * Per iteration that is one broadcast join + two map-side-combined
  * aggregations over the corpus — no window, no collect_list, no
  * driver-side vectors beyond the K centroids themselves (K×dim
  * doubles, kilobytes — the same "model is a broadcast literal" stance
  * as the LSH planes). Iterations loop on the driver because k-means
  * is inherently synchronous: each E-step needs the finished M-step.
  * Determinism: init = first K vectors by id, cosine ties break to the
  * smallest cent_id, so reruns assign identically.
  */
object KMeansOps {

  /** One Lloyd iteration: assign every vector to its nearest centroid
    * (cosine), then recompute centroids as per-cell dimension means.
    * `centroids` must have (cent_id: long, cv: array<float>); returns
    * the same shape, one row per surviving cell (a cell that captures
    * no vectors drops out, standard Lloyd behavior).
    */
  def lloydStep(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned = assign(vectors, centroids)
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cell", "dim")
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy(col("cell").as("cent_id"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        x => x.getField("m").cast("float")).as("cv"))
  }

  /** Per-row (cosine, -cent_id) score array against a COLLECTED
    * codebook — `array_max` of it is argmax with ties to the smallest
    * cent_id. Shared with SimilarityOps.q_sim_ivf: the codebook is a
    * model literal (K×dim floats, kilobytes), so assignment fuses into
    * the scan stage with zero shuffle and zero aggregation.
    */
  private[queries] def centroidScores(
      v: org.apache.spark.sql.Column,
      cents: Array[(Long, Array[Float])]): org.apache.spark.sql.Column =
    array(centroidScoreStructs(v, cents): _*)

  private def centroidScoreStructs(
      v: org.apache.spark.sql.Column,
      cents: Array[(Long, Array[Float])]): Seq[org.apache.spark.sql.Column] =
    cents.toIndexedSeq.map { case (id, cv) =>
      struct(call_function("cosine_sim", v, typedLit(cv)).as("c"),
        lit(-id).as("negid"))
    }

  /** Nearest-centroid cell id for a vector column — `greatest` over the
    * (cosine, -cent_id) score structs, NOT `array_max` over an array of
    * them: ArrayMax on struct elements is CodegenFallback, and one
    * fallback expression evicts the entire projection (all K cosine
    * loops with it) from whole-stage codegen — measured ~10× slower
    * per row. `greatest` compares structs with generated code, so the
    * E-step stays a fused codegen'd scan. Ties go to the smallest
    * cent_id via the -id field, as everywhere else.
    */
  private[queries] def nearestCell(
      v: org.apache.spark.sql.Column,
      cents: Array[(Long, Array[Float])]): org.apache.spark.sql.Column =
    bestScore(v, cents)._2

  /** (max cosine, argmax cent_id) as two columns sharing one
    * `greatest` struct comparison — callers needing both (e.g. the
    * training query's final assignment) pay for one scan, not two.
    */
  private[queries] def bestScore(
      v: org.apache.spark.sql.Column,
      cents: Array[(Long, Array[Float])]): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val scored = centroidScoreStructs(v, cents)
    val best =
      if (scored.length == 1) scored.head else greatest(scored: _*)
    (best.getField("c"), -best.getField("negid"))
  }

  /** E-step only: (vec_id, embedding, cell) with cell = argmax cosine
    * centroid, ties to the smallest cent_id. Collects the K-row
    * centroid table into score literals (see [[centroidScores]]).
    */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    VectorFunctions.register(vectors.sparkSession) // idempotent
    val cents = centroids.collect()
      .map(r => r.getAs[Long]("cent_id") -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    require(cents.nonEmpty, "assign() needs a non-empty centroid table")
    vectors.select(col("vec_id"), col("embedding"),
      nearestCell(col("embedding"), cents).as("cell"))
  }

  /** Train k centroids with `iters` Lloyd iterations from the
    * deterministic first-k-by-id init, returning the final assignment
    * (vec_id, cell) joined with per-cell sizes. The centroid table is
    * materialized between iterations (it is K rows — the only
    * driver-side state), keeping each iteration's lineage one
    * broadcast join deep instead of stacking all iterations into a
    * single exponential plan.
    */
  def kmeans(s: SparkSession, vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    VectorFunctions.register(s)
    var cent = vectors.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    (1 to iters).foreach { _ =>
      val step = lloydStep(vectors, cent)
      val next = step.collect() // K rows, kilobytes — the model, not data
      cent = s.createDataFrame(java.util.Arrays.asList(next: _*), step.schema)
    }
    assign(vectors, cent)
      .select(col("vec_id"), col("cell"))
  }

  /** Declared query: the Lloyd loop under the DuckDB oracle. Fixed
    * k=8, iters=2 over a BOUNDED id window (vec_id < maxVecs — the
    * same bounded-verification stance as q_embed_centroid and the
    * other oracle kernels), deterministic first-k init, output =
    * final (vec_id, cell, cosine-to-assigned-centroid).
    *
    * Cross-engine determinism, piece by piece:
    *  - E-step: the production codegen'd literal-model scan
    *    ([[nearestCell]]); cosine_sim is bit-identical to DuckDB's
    *    list_cosine_similarity (q_sim_ivf's hash-match proves it), and
    *    ties break to the smallest cent_id on both sides.
    *  - M-step: per-(cell, dim) mean via the ORDERED fold
    *    (q_embed_centroid's kernel — `list_sum(list(v ORDER BY
    *    vec_id))` in DuckDB), because plain avg() sums in partition
    *    order and the last float bits would diverge; then round(,6)
    *    and cast to float, so both engines carry bit-identical
    *    centroids into the next iteration. Per-group fold state is
    *    ≤ maxVecs rows by construction. The production path
    *    ([[kmeans]]: order-free avg(), constant aggregation state,
    *    any scale) is pinned to this kernel by the unit suite.
    */
  def q_embed_train(s: SparkSession, d: String, k: Int = 8, iters: Int = 2,
      maxVecs: Int = 256): DataFrame = {
    VectorFunctions.register(s)
    val vecs = graft.Tables.embeddings(s, d)
      .filter(col("vec_id") < maxVecs) // bounded verification window
      .select(col("vec_id"), col("embedding"))
    val cents = sharedKernelCents(s, d, k, iters, maxVecs)
    if (cents.isEmpty) // degenerate corpus: no seeds, nothing to train
      return vecs.select(col("vec_id"), col("vec_id").as("cell"),
        lit(0.0).as("cosine")).limit(0)
    val (bestCos, bestCell) = bestScore(col("embedding"), cents)
    vecs.select(col("vec_id"), bestCell.as("cell"),
        round(bestCos, 6).as("cosine"))
      .orderBy("vec_id")
  }

  /** The oracle-exact Lloyd kernel behind [[q_embed_train]] and
    * [[q_silhouette]]: `iters` iterations of the ORDERED-fold M-step
    * (bit-identical to the DuckDB CTE chain — see [[q_embed_train]]'s
    * scaladoc), returning the collected K-row centroid table. Shared
    * so the evaluation key scores the EXACT model the training key
    * reports, not a re-derivation that could drift.
    */
  /** [[trainedKernelCents]] memoized per (app, dir, k, iters,
    * maxVecs) — q_embed_train, q_silhouette and q_prune_proto each
    * ran the identical Lloyd training loop (r15 opt); the collected
    * K-row model is kilobytes of driver state, the cheapest possible
    * artifact. The bounded `vecs` window is rebuilt per call (a
    * filter over the scan — construction only, never executed when
    * the model is cached). */
  private def sharedKernelCents(
      s: SparkSession, d: String, k: Int, iters: Int,
      maxVecs: Int): Array[(Long, Array[Float])] =
    graft.plans.SharedState.cached(s, s"kmeans.cents.$k.$iters.$maxVecs", d) {
      trainedKernelCents(s,
        graft.Tables.embeddings(s, d)
          .filter(col("vec_id") < maxVecs)
          .select(col("vec_id"), col("embedding")),
        k, iters)
    }

  private[queries] def trainedKernelCents(
      s: SparkSession, vecs: DataFrame, k: Int,
      iters: Int): Array[(Long, Array[Float])] = {
    def collectCents(df: DataFrame): Array[(Long, Array[Float])] =
      df.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .sortBy(_._1)
    var cents = collectCents(vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv")))
    if (cents.isEmpty) return cents
    (1 to iters).foreach { _ =>
      val assigned = vecs.select(col("vec_id"), col("embedding"),
        nearestCell(col("embedding"), cents).as("cell"))
      val next = assigned
        .select(col("cell"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg(
          sort_array(collect_list(struct(col("vec_id"), col("v").cast("double").as("v")))).as("xs"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          round(aggregate(col("xs"), lit(0.0), (acc, x) => acc + x.getField("v")) / col("n"), 6)
            .cast("float").as("m"))
        .groupBy(col("cell").as("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m")).as("cv"))
      cents = collectCents(next) // K rows, kilobytes — the model
    }
    cents
  }

  /** Per-cluster SIMPLIFIED SILHOUETTE over the trained kernel's
    * assignment — the cluster-quality audit an embedding pipeline
    * publishes next to its clustering (is cluster c cohesive, or a
    * dumping ground?): for each vector, a = cosine distance (1 − cos)
    * to its OWN centroid, b = distance to the nearest OTHER centroid,
    * s = (b − a) / max(a, b) ∈ [−1, 1] — equivalently
    * (c₁ − c₂) / max(1 − c₁, 1 − c₂) on the top-2 cosines. The
    * simplified (centroid-based) form is the one that scales: the
    * classic silhouette's mean-pairwise-distance a/b terms are O(n²)
    * in cluster size; against centroids the whole audit is one scan
    * against a K-row model literal (Hruschka et al.'s standard
    * substitution).
    *
    * Determinism: the centroid table is the bit-exact
    * [[trainedKernelCents]] kernel model; each cosine is the
    * codegen'd `cosine_sim` (bit-identical to DuckDB's
    * list_cosine_similarity — q_sim_ivf's hash-match proves it);
    * top-2 selection orders (c DESC, cent_id); the silhouette is one
    * mirrored IEEE expression quantized ×1e6 (floor(x+0.5) — exact
    * on an exactly-shared double) BEFORE the per-cell sum, so sums
    * are exact longs; the mean divides sign-separated (Spark div
    * truncates, DuckDB // floors — they disagree below zero unless
    * the magnitude divides).
    *
    * Scale shape: zero-shuffle K-literal scoring explode (k rows per
    * vector, k = 8), one vec_id-partitioned window over those k rows
    * (no skew possible — every partition is exactly k), one
    * map-side-combined K-row agg. The bounded maxVecs window is the
    * oracle-verification stance (q_embed_centroid); the production
    * path drops the bound and scales linearly.
    */
  def q_silhouette(s: SparkSession, d: String, k: Int = 8, iters: Int = 2,
      maxVecs: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    VectorFunctions.register(s)
    val vecs = graft.Tables.embeddings(s, d)
      .filter(col("vec_id") < maxVecs)
      .select(col("vec_id"), col("embedding"))
    val cents = sharedKernelCents(s, d, k, iters, maxVecs)
    if (cents.isEmpty)
      return vecs.select(col("vec_id").as("cell"), lit(0L).as("n_vecs"),
        lit(0L).as("sum_sil_fp"), lit(0L).as("mean_sil_fp")).limit(0)
    val scores = explode(array(cents.toIndexedSeq.map { case (id, cv) =>
      struct(lit(id).as("cent_id"),
        call_function("cosine_sim", col("embedding"), typedLit(cv)).as("c"))
    }: _*))
    // no null-embedding filter: mirrors the q_embed_train chain (and
    // its oracle's v CTE) exactly — the shared window is null-free by
    // the same evidence that hash-matches the training key
    val sc = vecs
      .select(col("vec_id"), scores.as("s"))
      .select(col("vec_id"), col("s.cent_id").as("cent_id"), col("s.c").as("c"))
    val top2 = sc
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("c").desc, col("cent_id"))))
      .filter(col("rn") <= 2)
    val per = top2.groupBy("vec_id").agg(
      max(when(col("rn") === 1, col("cent_id"))).as("cell"),
      max(when(col("rn") === 1, col("c"))).as("c1"),
      max(when(col("rn") === 2, col("c"))).as("c2"))
    val silFp = expr(
      """CAST(floor((CASE WHEN greatest(1.0 - c1, 1.0 - c2) = 0.0 THEN 0.0
        |  ELSE (c1 - c2) / greatest(1.0 - c1, 1.0 - c2) END) * 1000000 + 0.5)
        |AS BIGINT)""".stripMargin)
    per.select(col("cell"), silFp.as("s_fp"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum(col("s_fp")).as("sum_sil_fp"))
      .select(col("cell"), col("n_vecs"), col("sum_sil_fp"),
        expr("""CASE WHEN sum_sil_fp >= 0 THEN sum_sil_fp div n_vecs
               |ELSE -((-sum_sil_fp) div n_vecs) END""".stripMargin)
          .as("mean_sil_fp"))
      .orderBy("cell")
  }

  /** Prototype pruning over the trained kernel's assignment — the
    * data-pruning pass of Sorscher et al. 2022 ("Beyond neural
    * scaling laws") / D4 (Tirumala et al. 2023): within each cluster,
    * rank members by cosine to their own centroid and mark the most
    * PROTOTYPICAL (closest) fraction for removal — in the abundant-
    * data regime easy/redundant examples contribute least, and the
    * per-cluster form prunes evenly instead of collapsing small
    * clusters. Complements [[q_silhouette]] (cluster quality) and
    * q_embed_outliers (far points): this key targets the NEAR points.
    *
    * Output per vector: cell, ×1e6 fixed-point cosine, within-cell
    * rank (cosine DESC, vec_id tie-break), cell size, and the pruned
    * flag `rnk·1000 ≤ n_cell·(1000 − keepPermille)` — a pure integer
    * cross-multiplication, so the 30%-of-cell cutoff needs no
    * division and both engines branch identically.
    *
    * Determinism: centroids are the bit-exact [[trainedKernelCents]]
    * model (the same evidence chain as [[q_embed_train]]'s
    * hash-match); the cosine is quantized BEFORE ranking so the
    * window orders identical longs in both engines. Scale shape:
    * zero-shuffle K-literal scoring, then ONE exchange on `cell`
    * shared by both window functions (row_number + count over the
    * same partitioning — one hash exchange, two window stages, no
    * second shuffle). Cluster sizes are corpus-scale but each
    * partition holds one cell; at real scale the rank-within-cell is
    * skew-bounded by K ≈ n/cell_target (the q_dedup_semantic recipe),
    * which also bounds per-cell partition width.
    */
  def q_prune_proto(s: SparkSession, d: String, k: Int = 8, iters: Int = 2,
      maxVecs: Int = 256, keepPermille: Int = 700): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    VectorFunctions.register(s)
    val vecs = graft.Tables.embeddings(s, d)
      .filter(col("vec_id") < maxVecs)
      .select(col("vec_id"), col("embedding"))
    val cents = sharedKernelCents(s, d, k, iters, maxVecs)
    if (cents.isEmpty) // degenerate corpus: no seeds, nothing to prune
      return vecs.select(col("vec_id"), col("vec_id").as("cell"),
        lit(0L).as("cos_fp"), lit(0L).as("rnk"), lit(0L).as("n_cell"),
        lit(false).as("pruned")).limit(0)
    val (bestCos, bestCell) = bestScore(col("embedding"), cents)
    val scored = vecs.select(col("vec_id"), bestCell.as("cell"),
      floor(bestCos * 1e6 + lit(0.5)).cast("long").as("cos_fp"))
    val byCell = Window.partitionBy("cell")
    scored
      .withColumn("rnk", row_number()
        .over(byCell.orderBy(col("cos_fp").desc, col("vec_id"))).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(byCell).cast("long"))
      .withColumn("pruned",
        col("rnk") * 1000 <= col("n_cell") * (1000 - keepPermille))
      .orderBy("vec_id")
  }

  /** Mean within-cluster cosine — the quality metric the unit test
    * tracks across iterations (must not decrease for spherical
    * k-means on normalized-ish data).
    */
  def distortion(s: SparkSession, vectors: DataFrame, centroids: DataFrame): Double = {
    VectorFunctions.register(s)
    assign(vectors, centroids)
      .join(broadcast(centroids), col("cell") === col("cent_id"))
      .select(expr("cosine_sim(embedding, cv)").as("c"))
      .agg(avg("c")).head().getDouble(0)
  }

  /** The k-means kernel's DuckDB CTE chain (v, c0, then s/a/pe/m/c per
    * iteration, ending in c`iters`): bounded window vec_id < 256,
    * first-8-by-id init, ordered-fold M-step rounded to 6 and cast
    * REAL so both engines carry bit-identical centroids. Shared by the
    * q_embed_train and q_silhouette oracles so the evaluated model
    * cannot drift from the trained one.
    */
  private def duckKmeansCtes(iters: Int): String = {
    val stepCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      s"""s$i AS (SELECT v.vec_id, c.cent_id, list_cosine_similarity(v.e, c.cv) AS c
         |  FROM v, $prev c),
         |a$i AS (SELECT vec_id, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
         |    FROM s$i) WHERE rn = 1),
         |pe$i AS (SELECT a.cell, v.vec_id,
         |    CAST(generate_subscripts(v.e,1) - 1 AS BIGINT) AS dim, unnest(v.e) AS val
         |  FROM a$i a JOIN v USING (vec_id)),
         |m$i AS (SELECT cell, dim,
         |    CAST(round(list_sum(list(val ORDER BY vec_id)) / count(*), 6) AS REAL) AS m
         |  FROM pe$i GROUP BY cell, dim),
         |c$i AS (SELECT cell AS cent_id, list(m::DOUBLE ORDER BY dim) AS cv
         |  FROM m$i GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 256),
       |c0 AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8),
       |$stepCtes""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    // Two Lloyd iterations, k=8, bounded window, first-k init — the
    // Spark side's ordered-fold M-step (round 6 → REAL) makes the
    // inter-iteration centroids bit-identical in both engines, so the
    // E-step argmax (cosine DESC, cent_id — DuckDB ranked window vs
    // Spark's greatest over (c, -id) structs) agrees exactly, as
    // q_sim_ivf already proves for cosine ranking.
    Key("q_embed_train", (s, d) => q_embed_train(s, d),
      s"""WITH ${duckKmeansCtes(2)},
         |sf AS (SELECT v.vec_id, c.cent_id, list_cosine_similarity(v.e, c.cv) AS c
         |  FROM v, c2 c)
         |SELECT vec_id, cell, round(c, 6) AS cosine FROM (
         |  SELECT vec_id, cent_id AS cell, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
         |  FROM sf) WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    // Silhouette over the SAME trained kernel (shared CTE chain):
    // top-2 cosines per vector, one mirrored IEEE silhouette
    // expression quantized x1e6 before the per-cell sum, mean by
    // sign-separated integer division.
    Key("q_silhouette", (s, d) => q_silhouette(s, d),
      s"""WITH ${duckKmeansCtes(2)},
         |sf AS (SELECT v.vec_id, c.cent_id, list_cosine_similarity(v.e, c.cv) AS c
         |  FROM v, c2 c),
         |r AS (SELECT vec_id, cent_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
         |  FROM sf),
         |p AS (SELECT vec_id,
         |    max(CASE WHEN rn = 1 THEN cent_id END) AS cell,
         |    max(CASE WHEN rn = 1 THEN c END) AS c1,
         |    max(CASE WHEN rn = 2 THEN c END) AS c2
         |  FROM r WHERE rn <= 2 GROUP BY vec_id),
         |q AS (SELECT cell,
         |    CAST(floor((CASE WHEN greatest(1.0 - c1, 1.0 - c2) = 0.0 THEN 0.0
         |      ELSE (c1 - c2) / greatest(1.0 - c1, 1.0 - c2) END) * 1000000 + 0.5)
         |      AS BIGINT) AS s_fp
         |  FROM p),
         |g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(sum(s_fp) AS BIGINT) AS sum_sil_fp
         |  FROM q GROUP BY cell)
         |SELECT cell, n_vecs, sum_sil_fp,
         |  CASE WHEN sum_sil_fp >= 0 THEN sum_sil_fp // n_vecs
         |       ELSE -((-sum_sil_fp) // n_vecs) END AS mean_sil_fp
         |FROM g ORDER BY cell""".stripMargin),
    // Prototype pruning over the SAME trained kernel: cosine quantized
    // x1e6 BEFORE the within-cell ranking (identical longs order
    // identically in both engines); the prune cutoff is the integer
    // cross-multiplication rnk*1000 <= n_cell*300 — no division.
    Key("q_prune_proto", (s, d) => q_prune_proto(s, d),
      s"""WITH ${duckKmeansCtes(2)},
         |sf AS (SELECT v.vec_id, c.cent_id, list_cosine_similarity(v.e, c.cv) AS c
         |  FROM v, c2 c),
         |bst AS (SELECT vec_id, cent_id AS cell,
         |    CAST(floor(c * 1000000 + 0.5) AS BIGINT) AS cos_fp
         |  FROM (SELECT vec_id, cent_id, c,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
         |    FROM sf) WHERE rn = 1),
         |rk AS (SELECT vec_id, cell, cos_fp,
         |    CAST(row_number() OVER (PARTITION BY cell ORDER BY cos_fp DESC, vec_id) AS BIGINT) AS rnk,
         |    CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n_cell
         |  FROM bst)
         |SELECT vec_id, cell, cos_fp, rnk, n_cell,
         |  rnk * 1000 <= n_cell * 300 AS pruned
         |FROM rk ORDER BY vec_id""".stripMargin),
  )
}
