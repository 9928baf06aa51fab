package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, the SentencePiece
  * `--model_type=unigram` family) — the other tokenizer a real
  * pipeline chooses between next to [[BpeOps]]' BPE: instead of
  * greedy bottom-up merges, fit a piece VOCABULARY with scores and
  * segment every word by maximum-likelihood (Viterbi) decoding. No
  * analog in the reference (commit messages are opaque strings —
  * log.rs:17).
  *
  * This is the deterministic hard-EM (Viterbi-EM) variant, declared
  * end to end so a DuckDB oracle can replay it bit-for-bit:
  *
  *  - Candidate seeding: every substring of length 1..4 of every
  *    corpus word, weighted by word occurrence count. The vocabulary
  *    is ALL single characters (segmentation closure — every word
  *    stays decodable) plus the top-`topM` multi-character candidates
  *    under the (freq DESC, piece ASC) total order.
  *  - Seed scores: ×1e9-quantized ln(freq / F) over the selected
  *    vocabulary (the q_dsir quantized-ln rule: one libm ln on an
  *    exact integer ratio, then the 1e-9 quantum absorbs ulp noise).
  *  - E-step: per DISTINCT word, exact integer Viterbi over the
  *    scored pieces — forward pass builds best[0..W] as a left fold
  *    (each step maximizes over the ≤4 admissible piece lengths;
  *    absent pieces read the −1e15 sentinel), backward pass re-derives
  *    the argmax at each boundary with the DECLARED tie-break
  *    "prefer the longer last piece" via the enc = score·8 + len
  *    packing (len recovered as the positive mod, `pmod`/((m%8)+8)%8
  *    on both engines).
  *  - M-step: usage-count the segmentation over the FIXED vocabulary
  *    and re-score with add-one smoothing, ln((u+1)/(T+V)) ×1e9.
  *  - K = 2 EM rounds (fixed horizon, the q_bpe_train stance — a
  *    data-dependent stopping rule is unverifiable cross-engine);
  *    the per-round corpus Viterbi objective Σ n·best[W] is reported
  *    (obj1_fp ≤ obj2_fp on this corpus — the EM-improvement readout,
  *    spec-pinned).
  *
  * Distributed shape (the [[KMeansOps]]/[[BpeOps]] stance): the
  * corpus is touched ONCE (the word count); everything after runs on
  * the Zipf-bounded distinct-word table with the model attached as
  * two sorted array columns via a broadcast one-row cross join —
  * piece lookup is `array_position` against the O(vocab) array
  * (linear scan; at tokenizer-real vocab ≈ 32k the documented
  * escalation is the same sorted-array binary search / map-literal
  * form the PQ codebooks use). Each EM round is one O(words·W·L)
  * zero-shuffle scan plus one O(vocab) aggregation; model tables are
  * [[graft.plans.Ckpt.maybe]]'d so round k+1's lineage reads a
  * truncated O(vocab) scan, not the whole prior round.
  */
object UnigramOps {

  private val BIGNEG = "CAST(-1000000000000000 AS BIGINT)"

  /** Piece-score lookup against the row-bound `ps`/`ss` arrays:
    * Spark's array_position returns 0 (not NULL) on a miss, so the
    * miss branch must short-circuit before element_at's 1-based
    * bounds check; both branches coalesce to the sentinel.
    */
  private def look(piece: String): String =
    s"""coalesce(CASE WHEN array_position(ps, $piece) > 0
       |  THEN element_at(ss, CAST(array_position(ps, $piece) AS INT)) END,
       |  $BIGNEG)""".stripMargin

  /** The forward Viterbi fold: best[0..W] with best[0] = 0; step j
    * maximizes best[j−l] + score(word[j−l+1..j]) over l = 1..4
    * (array_max skips the NULL of out-of-range lengths).
    */
  private val forwardDp: String =
    s"""aggregate(sequence(1, length(word)),
       |  array(CAST(0 AS BIGINT)),
       |  (acc, j) -> array_append(acc,
       |    array_max(transform(array(1, 2, 3, 4), l ->
       |      CASE WHEN j - l >= 0 THEN
       |        element_at(acc, CAST(j + 1 - l AS INT)) +
       |        ${look("substring(word, j + 1 - l, l)")}
       |      END))))""".stripMargin

  /** The backward extraction fold: piece lengths appended in
    * REVERSE order (last piece first). The current boundary j is
    * re-derived each step as W − Σ lens; at each boundary the argmax
    * is re-found with the enc = cand·8 + len packing and the longer
    * piece wins score ties.
    */
  private val backwardLens: String = {
    val J = "(length(word) - aggregate(lens, CAST(0 AS BIGINT), (a, x) -> a + x))"
    val m =
      s"""array_max(transform(array(1, 2, 3, 4), l ->
         |  CASE WHEN l <= $J THEN
         |    (element_at(bests, CAST($J + 1 - l AS INT)) +
         |     ${look(s"substring(word, $J + 1 - l, l)")}) * 8 + l
         |  END))""".stripMargin
    s"""aggregate(sequence(1, length(word)),
       |  CAST(array() AS ARRAY<BIGINT>),
       |  (lens, s) -> CASE WHEN $J > 0
       |    THEN array_append(lens, pmod($m, 8)) ELSE lens END)""".stripMargin
  }

  /** Distinct corpus words with occurrence counts — the Zipf-bounded
    * table every EM round scans. Materialized once (read by the
    * candidate seeding AND all K+1 Viterbi passes).
    */
  private def words(s: SparkSession, d: String): DataFrame =
    graft.plans.SharedState.cachedDf(s, "unigram.words", d,
        Seq("documents.parquet")) {
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n"))
    }

  /** One Viterbi E-step over `w` (word, n) with the model row `vv`
    * (ps, ss sorted arrays) broadcast-attached: adds bests + lens.
    */
  private def estep(w: DataFrame, vv: DataFrame): DataFrame =
    w.crossJoin(broadcast(vv))
      .withColumn("bests", expr(forwardDp))
      .withColumn("lens", expr(backwardLens))

  /** The add-one-smoothed M-step over the fixed vocabulary: usage
    * table (piece, u) → scores and the one-row (ps, ss) model.
    */
  private def mstep(usage: DataFrame): (DataFrame, DataFrame) = {
    val tot = usage.agg(sum(col("u")).as("t"), count(lit(1)).as("v"))
    val sc = usage.crossJoin(broadcast(tot))
      .select(col("piece"), col("u"),
        expr("CAST(round(ln(CAST(u + 1 AS DOUBLE) / (t + v)) * 1e9) AS BIGINT)")
          .as("score"))
      .transform(graft.plans.Ckpt.maybe) // model-sized; read by vv + output
    (sc, toVv(sc))
  }

  /** The one-row (ps, ss) model: arrays sorted by piece so both
    * engines index identically. */
  private def toVv(sc: DataFrame): DataFrame =
    sc.agg(sort_array(collect_list(struct(col("piece"), col("score")))).as("a"))
      .select(expr("transform(a, x -> x.piece)").as("ps"),
        expr("transform(a, x -> x.score)").as("ss"))

  /** Usage of each vocab piece under an E-step's segmentation
    * (0 for unused — the piece stays in the vocabulary; hard-EM
    * prunes by score, not by deletion, at this fixed-vocab horizon).
    */
  private def usageOf(vocab: DataFrame, e: DataFrame): DataFrame = {
    val segs = e.select(col("n"), posexplode(col("lens")).as(Seq("k0", "len")),
        col("word"), col("lens"))
      .select(col("n"),
        expr("""substring(word,
               |  CAST(length(word) - aggregate(slice(lens, 1, CAST(k0 + 1 AS INT)),
               |    CAST(0 AS BIGINT), (a, x) -> a + x) + 1 AS INT),
               |  CAST(len AS INT))""".stripMargin).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("u0"))
    vocab.join(segs, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("u0"), lit(0L)).as("u"))
      .transform(graft.plans.Ckpt.maybe) // model-sized; read by mstep + output
  }

  /** Corpus Viterbi objective of an E-step: Σ n·best[W], one row. */
  private def objOf(e: DataFrame): DataFrame =
    e.agg(sum(col("n") *
      expr("element_at(bests, CAST(length(word) + 1 AS INT))")).as("obj"))

  /** The shared trained-model chain: (vocab, usage2, sc2, vv2,
    * obj1, obj2) after two EM rounds — memoized once per
    * (app, dir, topM): q_unigram_train / q_unigram_encode /
    * q_unigram_prune each consumed their own full EM chain before
    * round 13 (the graph-family cross-key re-enumeration pattern,
    * shared via [[graft.plans.SharedState]]; every member table is
    * checkpointed model-sized state).
    */
  private def train(s: SparkSession, d: String, topM: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    graft.plans.SharedState.cached(s, s"unigram.train.$topM", d) {
      trainBuild(s, d, topM)
    }

  private def trainBuild(s: SparkSession, d: String, topM: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val w = words(s, d)
    // candidate substrings, weighted by corpus occurrences
    val cand = w
      .select(col("n"), explode(expr(
        """flatten(transform(sequence(1, length(word)), i ->
          |  transform(sequence(1, least(4, length(word) - i + 1)), l ->
          |    substring(word, i, l))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("f"))
      .transform(graft.plans.Ckpt.maybe) // Zipf-bounded; read 3x below
    val vocab = cand.filter(length(col("piece")) === 1).select("piece")
      .unionAll(cand.filter(length(col("piece")) > 1)
        .orderBy(col("f").desc, col("piece")).limit(topM).select("piece"))
      .transform(graft.plans.Ckpt.maybe) // read by every usage join
    val ftot = cand.join(vocab, "piece").agg(sum(col("f")).as("ft"))
    val sc0 = cand.join(vocab, "piece").crossJoin(broadcast(ftot))
      .select(col("piece"),
        expr("CAST(round(ln(CAST(f AS DOUBLE) / ft) * 1e9) AS BIGINT)").as("score"))
    val e1 = estep(w, toVv(sc0)).transform(graft.plans.Ckpt.maybe)
    val u1 = usageOf(vocab, e1)
    val (_, vv1) = mstep(u1)
    val e2 = estep(w, vv1).transform(graft.plans.Ckpt.maybe)
    val u2 = usageOf(vocab, e2)
    val (sc2, vv2) = mstep(u2)
    (vocab, u2, sc2, vv2, objOf(e1), objOf(e2))
  }

  /** The trainer key: final vocabulary with last-round usage and
    * final smoothed scores, plus the two EM objectives as report
    * columns, ordered (usage DESC, piece).
    */
  def q_unigram_train(s: SparkSession, d: String, topM: Int = 24): DataFrame = {
    val (vocab, u2, sc2, _, obj1, obj2) = train(s, d, topM)
    vocab.join(u2, "piece").join(sc2.select(col("piece"), col("score")), "piece")
      .crossJoin(broadcast(obj1.select(col("obj").as("obj1_fp"))))
      .crossJoin(broadcast(obj2.select(col("obj").as("obj2_fp"))))
      .select(col("piece"), length(col("piece")).cast("long").as("len"),
        col("u").as("usage"), col("score").as("score_fp"),
        col("obj1_fp"), col("obj2_fp"))
      .orderBy(col("usage").desc, col("piece"))
  }

  /** The vocabulary-PRUNING criterion that completes the
    * SentencePiece loop (train → prune → encode): for every
    * removable piece — multi-character, actually used by the trained
    * segmentation; single characters are never prunable
    * (segmentation closure) — the corpus likelihood LOSS if it were
    * dropped, delta_fp = obj(full vocab) − obj(vocab ∖ piece), both
    * Viterbi objectives under the SAME final scores (the standard
    * prune approximation: re-decode, don't re-run EM). Ascending
    * delta IS the prune order; a real fit drops the cheapest X% per
    * outer iteration. delta ≥ 0 by construction (removing an option
    * can only lower a max), and a large delta marks a load-bearing
    * piece.
    *
    * Scale shape: the masked models are MODEL-sized (one
    * (cand, ps, ss) row per removable piece, built from the collected
    * final score table — kilobytes) and broadcast onto the
    * Zipf-bounded distinct-word table: one forward-Viterbi scan of
    * O(words · candidates) rows, no extraction pass (only the
    * objective is needed), one O(candidates)-key aggregation.
    */
  def q_unigram_prune(s: SparkSession, d: String, topM: Int = 24): DataFrame = {
    import s.implicits._
    val (_, _, sc2, vv2, _, _) = train(s, d, topM)
    val w = words(s, d)
    val objFull = estep(w, vv2)
      .agg(sum(col("n") *
        expr("element_at(bests, CAST(length(word) + 1 AS INT))")).as("obj_full"))
    val model = sc2.collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("u"),
        r.getAs[Long]("score"))).sortBy(_._1)
    val cands = model.filter(c => c._1.length > 1 && c._2 > 0)
    if (cands.isEmpty)
      return s.emptyDataset[(String, Long, Long)]
        .toDF("piece", "usage", "delta_fp")
    val maskedModels = cands.toSeq.map { case (cand, u, _) =>
      val rest = model.filter(_._1 != cand)
      (cand, u, rest.map(_._1).toSeq, rest.map(_._3).toSeq)
    }.toDF("cand", "usage", "ps", "ss")
    w.crossJoin(broadcast(maskedModels))
      .withColumn("bests", expr(forwardDp))
      .groupBy("cand", "usage")
      .agg(sum(col("n") *
        expr("element_at(bests, CAST(length(word) + 1 AS INT))")).as("obj_masked"))
      .crossJoin(broadcast(objFull))
      .select(col("cand").as("piece"), col("usage"),
        (col("obj_full") - col("obj_masked")).as("delta_fp"))
      .orderBy("delta_fp", "piece")
  }

  /** The encode twin: segment every document with the TRAINED model
    * (one more Viterbi pass over the distinct-word table under the
    * final scores — the train-once/encode-often economics of
    * [[BpeOps.encodeWith]]) and report per-doc word/char/token
    * counts. The (word → n_tok) model is Zipf-bounded and joins onto
    * the corpus by broadcast; the corpus pass itself is
    * explode + one map-side-combined per-doc aggregation.
    */
  def q_unigram_encode(s: SparkSession, d: String, topM: Int = 24): DataFrame = {
    val (_, _, _, vv2, _, _) = train(s, d, topM)
    encodeUnder(s, d, vv2)
  }

  /** Encode the corpus with an ALREADY-TRAINED (piece, score) model
    * table from ANY source — typically a
    * [[graft.sources.Sinks.writeModel]] round trip of
    * [[q_unigram_train]]'s output (accepts either `score` or the
    * train key's `score_fp` column name). The production encode
    * path, mirroring [[BpeOps.encodeWith]]: a pipeline encodes
    * orders of magnitude more often than it trains, so encoding must
    * not re-run the K EM chains; the model is model-sized, sorted
    * into the (ps, ss) arrays once, and the corpus pass is the same
    * one-join aggregation as the oracle key. UnigramSpec pins
    * persisted-model encode ≡ the composed [[q_unigram_encode]].
    */
  def encodeWithModel(s: SparkSession, d: String, model: DataFrame): DataFrame = {
    val normalized =
      if (model.columns.contains("score_fp"))
        model.select(col("piece"), col("score_fp").as("score"))
      else model.select(col("piece"), col("score"))
    encodeUnder(s, d, toVv(normalized))
  }

  /** The shared encode tail: one Viterbi pass over the distinct
    * words under `vv`, then the Zipf-bounded (word, n_tok) model
    * broadcast-joined onto documents. */
  private def encodeUnder(s: SparkSession, d: String, vv: DataFrame): DataFrame = {
    val wordTok = estep(words(s, d), vv)
      .select(col("word"), size(col("lens")).cast("long").as("n_tok"))
    documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("array_remove(split(text, ' '), '')")).as("word"))
      .join(broadcast(wordTok), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_tok")).as("n_unigram_tokens"))
      .orderBy("doc_id")
  }

  /** Full WITH-RECURSIVE body replaying this object's
    * hard-EM unigram trainer: candidate seeding, seed scores, and per
    * EM round a forward-Viterbi recursive CTE (dp$k — one row per
    * word carrying the growing best[] list), the backward extraction
    * (ex$k — piece lengths appended last-first, the enc = score·8+len
    * argmax with positive-mod length recovery), segmentation usage,
    * and the add-one-smoothed rescore. Shared by the q_unigram_train
    * and q_unigram_encode oracles; every fan-out CTE is pinned
    * AS MATERIALIZED (the q_pca_power inlined-CTE lesson). `sub17`
    * replaces the lateral range() DuckDB 1.0 rejects inside a
    * recursive step; its upper bound is DERIVED from the corpus
    * (max word length, floor 16 — ADVICE r13: the former fixed 1..16
    * range silently skipped substrings starting past position 16 and
    * pieces past the 16th on any corpus with longer words, diverging
    * from the unbounded Spark side via a puzzling hash mismatch
    * instead of loudly), guarded per-use by length predicates.
    */
  private def duckUnigramCtes(topM: Int, rounds: Int = 2): String = {
    val BIGNEG = "CAST(-1000000000000000 AS BIGINT)"
    def emRound(k: Int, vv: String): String =
      s"""dp$k AS (
         |  SELECT word, n, ps, ss, [CAST(0 AS BIGINT)] AS bests, 0 AS j
         |  FROM w, $vv
         |  UNION ALL
         |  SELECT word, n, ps, ss, list_append(bests,
         |    list_max(list_transform([1,2,3,4], l -> CASE WHEN j + 1 - l >= 0
         |      THEN bests[j + 2 - l] +
         |        coalesce(ss[list_position(ps, substr(word, j + 2 - l, l))], $BIGNEG)
         |      END))), j + 1
         |  FROM dp$k WHERE j < length(word)),
         |dpf$k AS MATERIALIZED (SELECT word, n, ps, ss, bests FROM dp$k
         |  WHERE j = length(word)),
         |obj$k AS (SELECT CAST(sum(n * bests[length(word) + 1]) AS BIGINT) AS obj
         |  FROM dpf$k),
         |ex$k AS (
         |  SELECT word, n, ps, ss, bests, CAST([] AS BIGINT[]) AS lens,
         |    length(word) AS j
         |  FROM dpf$k
         |  UNION ALL
         |  SELECT word, n, ps, ss, bests, list_append(lens, ((m % 8) + 8) % 8),
         |    j - (((m % 8) + 8) % 8)
         |  FROM (SELECT *, list_max(list_transform([1,2,3,4], l -> CASE WHEN l <= j
         |          THEN (bests[j + 1 - l] +
         |            coalesce(ss[list_position(ps, substr(word, j + 1 - l, l))],
         |              $BIGNEG)) * 8 + l END)) AS m
         |        FROM ex$k WHERE j > 0)),
         |seg$k AS MATERIALIZED (
         |  SELECT word, n, substr(word,
         |      length(word) - CAST(list_sum(lens[1:CAST(g.k AS INT)]) AS BIGINT) + 1,
         |      lens[CAST(g.k AS INT)]) AS piece
         |  FROM (SELECT word, n, lens FROM ex$k WHERE j = 0), sub17 g
         |  WHERE g.k <= len(lens)),
         |usage$k AS MATERIALIZED (
         |  SELECT v.piece, CAST(coalesce(sum(s.n), 0) AS BIGINT) AS u
         |  FROM vocab v LEFT JOIN seg$k s ON v.piece = s.piece GROUP BY 1),
         |tot$k AS (SELECT CAST(sum(u) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
         |  FROM usage$k),
         |sc$k AS MATERIALIZED (
         |  SELECT piece, u,
         |    CAST(round(ln(CAST(u + 1 AS DOUBLE) / (t + v)) * 1e9) AS BIGINT) AS score
         |  FROM usage$k, tot$k),
         |vv$k AS MATERIALIZED (SELECT list(piece ORDER BY piece) AS ps,
         |  list(score ORDER BY piece) AS ss FROM sc$k)""".stripMargin
    s"""w AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |    WHERE text IS NOT NULL) WHERE length(word) > 0 GROUP BY 1),
       |sub17 AS (SELECT unnest(range(1,
       |    greatest(17, (SELECT max(length(word)) + 1 FROM w)))) AS k),
       |cand AS MATERIALIZED (
       |  SELECT substr(word, CAST(s.k AS INT), CAST(ls.l AS INT)) AS piece,
       |    CAST(sum(n) AS BIGINT) AS f
       |  FROM w, sub17 s, (SELECT unnest([1,2,3,4]) AS l) ls
       |  WHERE s.k + ls.l - 1 <= length(word)
       |  GROUP BY 1),
       |vocab AS MATERIALIZED (
       |  SELECT piece FROM cand WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece FROM (SELECT piece FROM cand WHERE length(piece) > 1
       |                     ORDER BY f DESC, piece LIMIT $topM)),
       |ftot AS (SELECT CAST(sum(f) AS BIGINT) AS ft FROM cand JOIN vocab USING (piece)),
       |sc0 AS MATERIALIZED (
       |  SELECT piece, CAST(round(ln(CAST(f AS DOUBLE) / ft) * 1e9) AS BIGINT) AS score
       |  FROM cand JOIN vocab USING (piece), ftot),
       |vv0 AS MATERIALIZED (SELECT list(piece ORDER BY piece) AS ps,
       |  list(score ORDER BY piece) AS ss FROM sc0),
       |${(1 to rounds).map(k => emRound(k, s"vv${k - 1}")).mkString(",\n")}"""
      .stripMargin
  }

  val keys: Seq[Key] = Seq(
    // Unigram-LM trainer: two recursive-CTE Viterbi-EM rounds over
    // the distinct-word table; final vocab with last-round usage,
    // smoothed scores, and the per-round EM objectives
    Key("q_unigram_train", (s, d) => q_unigram_train(s, d),
      s"""WITH RECURSIVE
         |${duckUnigramCtes(24)}
         |SELECT v.piece, CAST(length(v.piece) AS BIGINT) AS len,
         |  s2.u AS usage, s2.score AS score_fp,
         |  (SELECT obj FROM obj1) AS obj1_fp,
         |  (SELECT obj FROM obj2) AS obj2_fp
         |FROM vocab v JOIN sc2 s2 ON v.piece = s2.piece
         |ORDER BY s2.u DESC, v.piece""".stripMargin),
    // Unigram encode: a THIRD Viterbi pass under the trained (vv2)
    // scores gives each distinct word its token count; docs join the
    // Zipf-bounded (word, n_tok) model and aggregate per doc
    Key("q_unigram_encode", (s, d) => q_unigram_encode(s, d),
      s"""WITH RECURSIVE
         |${duckUnigramCtes(24, rounds = 3)},
         |wt AS (SELECT word, CAST(len(lens) AS BIGINT) AS n_tok
         |       FROM ex3 WHERE j = 0),
         |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |       FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |  CAST(sum(n_tok) AS BIGINT) AS n_unigram_tokens
         |FROM dw JOIN wt USING (word)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin),
    // Unigram prune: per removable piece, the Viterbi-objective loss
    // of dropping it under the FINAL scores - masked (cand, ps, ss)
    // model rows from the sc2 table, one forward DP per (cand, word)
    Key("q_unigram_prune", (s, d) => q_unigram_prune(s, d),
      s"""WITH RECURSIVE
         |${duckUnigramCtes(24, rounds = 3)},
         |cands AS (SELECT piece AS cand, u FROM sc2
         |          WHERE length(piece) > 1 AND u > 0),
         |mv AS MATERIALIZED (
         |  SELECT c.cand, c.u, list(s.piece ORDER BY s.piece) AS ps,
         |    list(s.score ORDER BY s.piece) AS ss
         |  FROM cands c JOIN sc2 s ON s.piece <> c.cand GROUP BY c.cand, c.u),
         |dpp AS (
         |  SELECT cand, u, word, n, ps, ss, [CAST(0 AS BIGINT)] AS bests, 0 AS j
         |  FROM w, mv
         |  UNION ALL
         |  SELECT cand, u, word, n, ps, ss, list_append(bests,
         |    list_max(list_transform([1,2,3,4], l -> CASE WHEN j + 1 - l >= 0
         |      THEN bests[j + 2 - l] +
         |        coalesce(ss[list_position(ps, substr(word, j + 2 - l, l))],
         |          CAST(-1000000000000000 AS BIGINT)) END))), j + 1
         |  FROM dpp WHERE j < length(word)),
         |objm AS (SELECT cand, u,
         |    CAST(sum(n * bests[length(word) + 1]) AS BIGINT) AS obj_masked
         |  FROM dpp WHERE j = length(word) GROUP BY 1, 2)
         |SELECT cand AS piece, u AS usage,
         |  (SELECT obj FROM obj3) - obj_masked AS delta_fp
         |FROM objm ORDER BY delta_fp, piece""".stripMargin),
  )
}
