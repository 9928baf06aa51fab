package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import graft.functions.HashFunctions.duckHexValue
import graft.plans.GlobalRank.globalRowNumber
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact distributed ranking operators (round 11) — the user-facing
  * family over [[graft.plans.GlobalRank]], the primitive that replaced
  * the single-partition global windows in q_rfm / q_ccnet_split /
  * q_lorenz. Three shapes a training-data pipeline actually runs:
  * corpus-wide position ranks, per-group ranks that survive group
  * skew, and systematic sampling off a deterministic total order. All
  * bit-exact (integer arithmetic + engine-portable md5 hashing), so
  * every key sits under the DuckDB hash oracle.
  */
object RankOps {

  /** Token count per document — q_lorenz's whitespace formula (null
    * text drops, empty text counts 0), shared by the ranking keys.
    */
  private def perDocTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        size(array_remove(split(col("text"), " "), ""))
          .cast("long").as("t"))
      .filter(col("t") >= 0)

  /** Corpus-wide exact rank + percentile bucket of every document by
    * token count — the "where does this doc sit in the length
    * distribution" readout behind length-based curricula and cutoff
    * tuning, as a whole-corpus column (q_lorenz aggregates the same
    * order into 10 rows; this keeps per-doc resolution).
    *
    * Scale shape: [[globalRowNumber]] (range exchange + partitioned
    * rank + O(P) broadcast offsets — no single-partition WindowExec),
    * one broadcast one-row count; percentile is the q_rfm integer
    * position formula `(rn−1)·100 div n + 1`, exact in both engines.
    */
  def q_rank_global(s: SparkSession, d: String): DataFrame = {
    val per = perDocTokens(s, d)
    globalRowNumber(per, "rn", col("t"), col("doc_id"))
      .crossJoin(broadcast(per.agg(count(lit(1)).as("n"))))
      .select(col("doc_id"), col("t"), col("rn"),
        expr("(rn - 1) * 100 div n + 1").as("pctile"))
      .orderBy("doc_id")
  }

  /** Per-LANGUAGE exact rank + percentile of document length — the
    * stratified form every per-language quality cutoff needs. The
    * naive `Window.partitionBy(lang)` puts each language in ONE task,
    * and language mass is exactly the skewed axis of a web corpus (en
    * is ~half the tokens) — so this runs as one GLOBAL rank with lang
    * as the leading sort key instead: languages occupy contiguous
    * global-rank intervals, and the within-language rank is
    * `global_rn − min(global_rn of my lang) + 1`, an O(langs)
    * broadcast attach. Work per task stays O(n/P) no matter how
    * lopsided the language mix is.
    */
  def q_rank_strat(s: SparkSession, d: String): DataFrame = {
    val per = documents(s, d)
      .filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(array_remove(split(col("text"), " "), ""))
          .cast("long").as("t"))
      .filter(col("t") >= 0)
    val g = globalRowNumber(per, "grn", col("lang"), col("t"), col("doc_id"))
    val offs = g.groupBy("lang")
      .agg(min(col("grn")).as("base"), count(lit(1)).as("n_lang"))
    g.join(broadcast(offs), "lang")
      .select(col("doc_id"), col("lang"), col("t"),
        (col("grn") - col("base") + 1).as("rn_in_lang"), col("n_lang"))
      .select(col("doc_id"), col("lang"), col("t"), col("rn_in_lang"),
        expr("(rn_in_lang - 1) * 100 div n_lang + 1").as("pctile"))
      .orderBy("doc_id")
  }

  /** Exact quantile cutpoint table — value at every 5th percentile of
    * `l_extendedprice` (cents), nearest-rank-lower definition
    * `r_p = 1 + (n−1)·p div 20`. [[Relational.q_percentile]] shows
    * Spark's built-in exact `percentile()`, which BUFFERS every value
    * per group in the aggregator (fine per-group, impossible for one
    * corpus-wide distribution at 100 TB); this is the exact path that
    * scales: [[globalRowNumber]] for the total order, then a
    * broadcast 21-row target-rank join picks the cutpoints. Ranks are
    * fully tie-broken (orderkey, linenumber) so the rank permutation
    * is deterministic, and the VALUE at a target rank is independent
    * of tie order anyway — both engines agree bit-for-bit.
    *
    * Scale shape: GlobalRank's two exchanges + checkpoint, a one-row
    * count broadcast, a 21-row broadcast join — no per-group value
    * buffer, no single-partition sort, no collect.
    */
  def q_quantiles_exact(s: SparkSession, d: String): DataFrame = {
    val v = lineitem(s, d).select(
      (Relational.dec2(col("l_extendedprice")) * 100).cast("long").as("c"),
      col("l_orderkey"), col("l_linenumber"))
    val ranked = globalRowNumber(
      v, "rn", col("c"), col("l_orderkey"), col("l_linenumber"))
    val targets = s.range(0, 21).select(col("id").as("p"))
      .crossJoin(broadcast(v.agg(count(lit(1)).as("n"))))
      .select((col("p") * lit(5L)).as("pct"),
        expr("1 + ((n - 1) * p) div 20").as("rn"))
    ranked.join(broadcast(targets), Seq("rn"))
      .select(col("pct"), col("rn").as("r"), col("c").as("value_c"))
      .orderBy("pct")
  }

  /** Cross-source quantile NORMALIZATION of document length — map
    * each document's within-source quantile onto the pooled corpus
    * distribution (the bioinformatics quantile-norm recipe applied to
    * the score-harmonization problem: two sources whose quality/length
    * scores live on different scales must be aligned before a single
    * corpus-wide cutoff or mixing weight means anything; Dolma and
    * RedPajama normalize per-source score distributions for exactly
    * this reason).
    *
    * Exact, float-free definition: within source s, rank r_s of n_s
    * (ties broken by doc_id); the normalized value is the pooled
    * value at rank ceil(r_s·n_p / n_s) — integer arithmetic only, so
    * min→~min, max→max, and equal-distribution sources are fixed
    * points (up to tie order). The ceil keeps every target in
    * [1, n_p] with no float quantile in between (headroom: r_s·n_p
    * needs n_s·n_p < 2⁶³ — past 10⁹ docs per source, lift to the
    * (128-bit) decimal product the same formula supports).
    *
    * Scale shape: TWO [[globalRowNumber]] passes (source-leading for
    * the within-source rank — the [[q_rank_strat]] skew-proof trick,
    * languages/sources occupy contiguous intervals, O(sources) offset
    * broadcast; value-leading for the pooled order), then ONE
    * equi-join keyed on the target pooled rank. No per-group window,
    * no value buffer, no collect — each step is a range exchange or
    * a hash shuffle on an integer key.
    */
  def q_quantile_norm(s: SparkSession, d: String): DataFrame = {
    val per = documents(s, d)
      .filter(col("source").isNotNull && col("n_chars").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars").as("v"))
    val g = globalRowNumber(per, "grn", col("source"), col("v"), col("doc_id"))
    val offs = g.groupBy("source")
      .agg(min(col("grn")).as("base"), count(lit(1)).as("n_s"))
    val ranked = g.join(broadcast(offs), "source")
      .select(col("doc_id"), col("source"), col("v"),
        (col("grn") - col("base") + 1).as("r_s"), col("n_s"))
    val pooled = globalRowNumber(
        per.select(col("v"), col("doc_id")), "rn", col("v"), col("doc_id"))
      .select(col("rn").as("target_rn"), col("v").as("v_norm"))
    ranked.crossJoin(broadcast(per.agg(count(lit(1)).as("n_p"))))
      .select(col("doc_id"), col("source"), col("v"), col("r_s"),
        col("n_s"), expr("(r_s * n_p + n_s - 1) div n_s").as("target_rn"))
      .join(pooled, Seq("target_rn"))
      .select(col("doc_id"), col("source"), col("v"), col("r_s"),
        col("n_s"), col("target_rn"), col("v_norm"))
      .orderBy("doc_id")
  }

  /** Systematic sample: every k-th document from a deterministic
    * pseudo-random total order (md5-keyed) — the eval-split draw that
    * guarantees even coverage of the order statistic (a Bernoulli
    * hash draw — q_sample_hash — leaves gap-size variance; systematic
    * sampling pins the stride exactly). Order key = the engine-
    * portable 60-bit md5 window (the q_sketch_kmv convention), id
    * tie-break; selection = rank ≡ 1 (mod k).
    *
    * Scale shape: one scan to hash, [[globalRowNumber]] for the
    * order, per-row modulo filter — no collect, no global window.
    */
  def q_sample_systematic(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val hashed = documents(s, d).select(
      col("doc_id"),
      graft.functions.HashFunctions.md5WindowU(
        concat(lit("sys:"), col("doc_id")), 1, 15).as("hv"))
    globalRowNumber(hashed, "rn", col("hv"), col("doc_id"))
      .filter((col("rn") - 1) % k === 0)
      .select(col("doc_id"), col("hv"), col("rn"))
      .orderBy("doc_id")
  }

  val keys: Seq[Key] = Seq(
    // round 11: exact distributed ranking family — oracle = the naive
    // global window DuckDB runs fine at these sfs; Spark produces the
    // identical values through plans/GlobalRank (range-partitioned,
    // no single-partition WindowExec)
    Key("q_rank_global", q_rank_global _,
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc_id, t,
        |        row_number() OVER (ORDER BY t, doc_id) AS rn,
        |        count(*) OVER () AS n
        |      FROM w)
        |SELECT doc_id, t, rn, (rn - 1) * 100 // n + 1 AS pctile
        |FROM r ORDER BY doc_id""".stripMargin),
    Key("q_rank_strat", q_rank_strat _,
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS t
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
        |r AS (SELECT doc_id, lang, t,
        |        row_number() OVER (PARTITION BY lang ORDER BY t, doc_id) AS rn_in_lang,
        |        count(*) OVER (PARTITION BY lang) AS n_lang
        |      FROM w)
        |SELECT doc_id, lang, t, rn_in_lang,
        |  (rn_in_lang - 1) * 100 // n_lang + 1 AS pctile
        |FROM r ORDER BY doc_id""".stripMargin),
    // quantile normalization: two row_number orders (within-source,
    // pooled) + the exact ceil-rank map (r_s*n_p + n_s - 1) // n_s —
    // positive operands, so DuckDB's truncating // is floor here
    Key("q_quantile_norm", q_quantile_norm _,
      """WITH d AS (SELECT doc_id, source, n_chars AS v FROM documents
        |           WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |r AS (SELECT doc_id, source, v,
        |        row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r_s,
        |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
        |      FROM d),
        |p AS (SELECT row_number() OVER (ORDER BY v, doc_id) AS target_rn,
        |             v AS v_norm
        |      FROM d),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_p FROM d),
        |t AS (SELECT doc_id, source, v, r_s, n_s,
        |        CAST((r_s * n_p + n_s - 1) // n_s AS BIGINT) AS target_rn
        |      FROM r, n)
        |SELECT doc_id, source, v, r_s, n_s, target_rn, v_norm
        |FROM t JOIN p USING (target_rn) ORDER BY doc_id""".stripMargin),
    Key("q_quantiles_exact", q_quantiles_exact _,
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |r AS (SELECT c,
        |        row_number() OVER (ORDER BY c, l_orderkey, l_linenumber) AS rn,
        |        count(*) OVER () AS n
        |      FROM v),
        |p AS (SELECT unnest(range(21)) AS p)
        |SELECT CAST(p.p * 5 AS BIGINT) AS pct,
        |       1 + (r.n - 1) * p.p // 20 AS r, c AS value_c
        |FROM p JOIN r ON r.rn = 1 + (r.n - 1) * p.p // 20
        |ORDER BY pct""".stripMargin),
    // systematic sample: same 60-bit md5-window order key as
    // q_sketch_kmv (nibble arithmetic — DuckDB has no base-16 conv)
    Key("q_sample_systematic", (s, d) => q_sample_systematic(s, d),
      s"""WITH m AS (
         |  SELECT doc_id, md5('sys:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |hv AS (SELECT doc_id, ${duckHexValue("h", 1, 15)} AS hv FROM m),
         |r AS (SELECT doc_id, hv,
         |        row_number() OVER (ORDER BY hv, doc_id) AS rn
         |      FROM hv)
         |SELECT doc_id, hv, rn FROM r
         |WHERE (rn - 1) % 20 = 0 ORDER BY doc_id""".stripMargin),
  )
}
