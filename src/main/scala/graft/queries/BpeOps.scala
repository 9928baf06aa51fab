package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** BPE tokenizer training (Sennrich et al. 2016) — the full iterative
  * merge loop, not just one step ([[TextOps.q_bpe]] is the single
  * inner step under the same oracle). No analog in the reference
  * (commit messages are opaque strings — log.rs:17); this is the
  * operator a training-data pipeline runs to fit its tokenizer on the
  * corpus it just cleaned.
  *
  * Distributed shape (the [[KMeansOps]] stance): per-iteration state
  * collected to the driver is MODEL-sized — exactly one (pair, count)
  * row, like Lloyd's K centroids — while the vocab stays distributed.
  * The word-frequency vocab is built with ONE corpus shuffle and
  * persisted; each of the K merge iterations then runs a narrow
  * projection (cheap literal `replace` chain over the persisted base)
  * plus one O(distinct pairs) aggregation. Corpus size touches only
  * the initial word count; iteration cost is Zipf-bounded by the
  * vocabulary, which is why BPE training is tractable at 100 TB.
  *
  * Words are represented as bracket-wrapped symbol strings
  * (`"abc"` → `"<a><b><c>"`), so a merge is a single codegen'd
  * leftmost-non-overlapping `replace("<a><b>" → "<ab>")` — string
  * semantics identical in Spark and DuckDB, and structurally safe
  * because `<`/`>` cannot occur inside a symbol (asserted against the
  * corpus charset; a caller with angle brackets in text swaps the
  * bracket pair). Greedy leftmost replace is exactly learn_bpe's merge
  * order. Ties on pair counts break lexicographically on the
  * bracketed pair, mirrored in the oracle's ORDER BY.
  */
object BpeOps {

  /** One merge-step's pair extraction: `syms` column (symbol array) →
    * bracketed adjacent pairs. `syms` is a bound attribute, not an
    * inline expression — the lambda references it for free (the
    * round-7 let-bind rule).
    */
  private val pairsOfSyms =
    expr("""transform(
           |  slice(syms, 1, greatest(size(syms) - 1, 0)),
           |  (x, i) -> concat('<', x, '><', element_at(syms, i + 2), '>'))""".stripMargin)

  /** Train `merges` BPE merges over the corpus vocabulary; returns the
    * merge table (step, lhs, rhs, merged, cnt) — learn_bpe's
    * `merges.txt` with counts. Single-character words carry no pairs
    * and can never be rewritten, so they are dropped from the vocab.
    *
    * Lineage cadence: each merge appends one `replace` projection to
    * the vocab plan. At the oracle's K=8 that is invisible, but a
    * tokenizer-real K (30k merges) would stack 30k projections and
    * kill the analyzer long before the data mattered. Every
    * `checkpointEvery` merges the vocab is re-materialized via
    * `localCheckpoint` (the [[graft.queries.ClusterOps]] stance;
    * `checkpoint()` to reliable storage on a real cluster), truncating
    * the plan to a scan — the vocab is Zipf-bounded, so the
    * materialization is O(vocab), never corpus-sized. BpeSpec trains
    * K=64 with a short cadence to prove the loop survives past the
    * depth that un-truncated lineage starts visibly degrading.
    *
    * Tokenizer-real K (≈30k merges), extrapolated from the proven
    * K=64 mechanics: the corpus is still touched exactly ONCE (the
    * initial word count); every iteration after that reads only the
    * materialized O(vocab) table, so total work is
    * K × (vocab scan + pair aggregation + one-row driver round-trip)
    * with ~K/64 ≈ 470 checkpoint cycles re-materializing the vocab.
    * Between checkpoints the plan carries at most `checkpointEvery`
    * stacked literal `replace` projections per row — 64 nested
    * codegen'd string rewrites over a Zipf-bounded table, the same
    * per-row depth BpeSpec exercises, independent of K. The loop is
    * inherently SEQUENTIAL (merge k+1's pair counts depend on merge
    * k's rewrite — true of BPE itself, not this implementation), so
    * wall-clock is K × per-iteration latency: at a driver-round-trip-
    * dominated ~0.3-0.5s per merge on a warm cluster, 30k merges is
    * a 2.5-4h fit — run once per tokenizer, then amortized across
    * every [[encodeWith]] pass. That is the same asymmetric
    * train-once/encode-often economics real BPE trainers have; what
    * Spark buys is the corpus-scale word count and the distributed
    * encode, neither of which a single-node trainer can do at 100 TB.
    */
  def q_bpe_train(s: SparkSession, d: String, merges: Int = 8,
                  checkpointEvery: Int = 64): DataFrame =
    SharedBpe.merges(s, d, merges, checkpointEvery).orderBy("step")

  /** Once-per-(app, dir, K) BPE artifacts — the SharedState pattern
    * (r15 opt): the bench ran the K-iteration training loop THREE
    * times (q_bpe_encode, q_tok_fertility and q_bpe_sweep each
    * compose train-then-read) and the corpus encode pass twice. The
    * merge table is MODEL-sized (K driver-local rows — a
    * LocalRelation, no recompute risk); the per-doc encode table is
    * O(docs). Both are exactly what a production pipeline persists
    * once per tokenizer fit (the [[graft.sources.Sinks.writeModel]]
    * path BpeSpec round-trips).
    */
  private[graft] object SharedBpe {
    /** Trained merge table, unsorted (sort applied outside the cache
      * boundary — the SharedDedup convention). `checkpointEvery` is
      * lineage cadence only, invisible in the result, so it is not
      * part of the key.
      */
    def merges(s: SparkSession, d: String, k: Int,
               checkpointEvery: Int = 64): DataFrame =
      graft.plans.SharedState.cached(s, s"bpe.merges.$k", d)(
        trainMerges(s, d, k, checkpointEvery))

    /** Per-doc encode stats (doc_id, n_words, n_base_symbols,
      * n_bpe_tokens) under the K-merge fit, unsorted. */
    def encoded(s: SparkSession, d: String, k: Int): DataFrame =
      graft.plans.SharedState.cachedDf(s, s"bpe.encoded.$k", d,
        Seq("documents.parquet"))(
        encodePerDoc(s, d, merges(s, d, k)))
  }

  /** The [[q_bpe_train]] loop body (see that scaladoc for the full
    * design account); returns the merge table UNSORTED. */
  private def trainMerges(s: SparkSession, d: String, merges: Int,
                          checkpointEvery: Int): DataFrame = {
    import s.implicits._
    val vocab0 = documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 1)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("r", concat(lit("<"),
        array_join(expr("array_remove(split(word, ''), '')"), "><"), lit(">")))
      .select(col("n"), col("r"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var vocab = vocab0
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val top = vocab
        .select(col("n"),
          expr("split(substring(r, 2, length(r) - 2), '><')").as("syms"))
        .select(col("n"), explode(pairsOfSyms).as("pat"))
        .groupBy("pat").agg(sum(col("n")).as("cnt"))
        .orderBy(desc("cnt"), col("pat"))
        .limit(1)
        .collect() // exactly one row — the model update, never data
      if (top.isEmpty) exhausted = true
      else {
        val (pat, cnt) = (top(0).getString(0), top(0).getLong(1))
        val Array(lhs, rhs) = pat.substring(1, pat.length - 1).split("><")
        found += ((step.toLong, lhs, rhs, lhs + rhs, cnt))
        vocab = vocab.withColumn("r",
          expr(s"replace(r, '$pat', '<$lhs$rhs>')"))
        if (step % checkpointEvery == 0) vocab = vocab.transform(graft.plans.Ckpt.maybe)
        step += 1
      }
    }
    vocab0.unpersist()
    found.toSeq.toDF("step", "lhs", "rhs", "merged", "cnt")
  }

  /** Encode the corpus with an ALREADY-TRAINED merge table — the
    * production encode path (round-8 verdict #3: a pipeline encodes
    * orders of magnitude more often than it trains, so encoding must
    * not re-run the K driver-round-trip training aggregations).
    * `mergeTable` is [[q_bpe_train]]'s output schema
    * (step, lhs, rhs, merged, cnt) from ANY source — typically a
    * [[graft.sources.Sinks.writeModel]] round-trip, the same
    * persisted-model stance as the fingerprint index. The table is
    * MODEL-sized (K rows), collected once in step order and applied
    * as a chain of K codegen'd literal `replace`s over each word's
    * bracketed symbol string: one corpus pass, ZERO shuffle before
    * the per-doc count aggregation, and the merge literals ride the
    * closure — the same broadcast-the-model stance as the k-means/PQ
    * codebooks. Greedy leftmost replace in merge order is exactly
    * apply_bpe's semantics on the bracketed representation.
    *
    * Output per document: word count, base symbol count (pre-merge
    * characters), and the post-merge BPE token count (each token ends
    * in `>`, so tokens = occurrences of `>`), all exact longs — the
    * compression a tokenizer-fit diagnostic actually reads. Single-
    * char words carry no pairs (never merged) but still count their
    * one token, unlike training where they can't contribute merges.
    */
  def encodeWith(s: SparkSession, d: String, mergeTable: DataFrame): DataFrame =
    encodePerDoc(s, d, mergeTable).orderBy("doc_id")

  /** [[encodeWith]] without the final presentation sort — the
    * composable form: downstream aggregations ([[q_tok_fertility]])
    * re-shuffle anyway, and a global sort of the per-doc table would
    * be pure waste mid-pipeline.
    */
  private def encodePerDoc(s: SparkSession, d: String, mergeTable: DataFrame): DataFrame = {
    // model fit: K (pat → merged) rows, in step order
    val table = mergeTable.orderBy("step").collect()
      .map(r => (s"<${r.getAs[String]("lhs")}><${r.getAs[String]("rhs")}>",
        s"<${r.getAs[String]("merged")}>"))
    val words = documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("array_remove(split(text, ' '), '')")).as("word"))
    val bracketed = concat(lit("<"),
      array_join(expr("array_remove(split(word, ''), '')"), "><"), lit(">"))
    val encoded = table.foldLeft(bracketed) { case (c, (pat, mrg)) =>
      replace(c, lit(pat), lit(mrg))
    }
    words
      .select(col("doc_id"), length(col("word")).cast("long").as("n_sym"),
        (length(encoded) - length(replace(encoded, lit(">"), lit(""))))
          .cast("long").as("n_tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_base_symbols"),
        sum(col("n_tok")).as("n_bpe_tokens"))
  }

  /** The ORACLE key's composed definition: train-then-encode in one
    * call, so the applied fit IS the reported fit by construction
    * (the DuckDB oracle mirrors the same composition). Production
    * code should train once, persist via
    * [[graft.sources.Sinks.writeModel]], and call [[encodeWith]]
    * per corpus — BpeSpec pins persisted-table encode ≡ this
    * composition.
    */
  def q_bpe_encode(s: SparkSession, d: String, merges: Int = 8): DataFrame =
    // shared train + shared encode (r15 opt); sort outside the cache
    SharedBpe.encoded(s, d, merges).orderBy("doc_id")

  /** Per-language tokenizer fertility / compression report — the
    * diagnostic a multilingual pipeline reads before committing to a
    * tokenizer fit: symbols-per-token (compression; 1.0 means the
    * merges bought nothing) and tokens-per-word (fertility; the
    * XLM-R/BLOOM papers' per-language cost metric — a language with
    * high fertility pays more sequence length per word under the
    * shared vocabulary).
    *
    * Scale shape: the [[encodePerDoc]] encode pass (zero-shuffle
    * literal-replace chain + one per-doc agg) joins the O(docs) lang
    * projection on doc_id and collapses into one O(langs)
    * map-side-combined agg. The ratios are the repo's ×1e6
    * round-half-up fixed point on exact long sums — every output
    * column an exact BIGINT. Denominators cannot be zero: a document
    * contributes rows only if it has ≥ 1 word, and every word is ≥ 1
    * token. Like [[q_bpe_encode]], the oracle key composes
    * train-then-report so the applied fit IS the reported fit;
    * production passes a persisted merge table to [[fertilityWith]].
    */
  def q_tok_fertility(s: SparkSession, d: String, merges: Int = 8): DataFrame =
    // shared train + shared per-doc encode (r15 opt): the bench paid
    // the full training loop AND a second corpus encode here on top
    // of q_bpe_encode's
    fertilityFrom(s, d, SharedBpe.encoded(s, d, merges))

  /** [[q_tok_fertility]] against an already-trained merge table (the
    * [[encodeWith]] stance).
    */
  def fertilityWith(s: SparkSession, d: String, mergeTable: DataFrame): DataFrame =
    fertilityFrom(s, d, encodePerDoc(s, d, mergeTable))

  /** The [[q_tok_fertility]] aggregation over a per-doc encode table
    * of [[encodePerDoc]] shape. */
  private def fertilityFrom(s: SparkSession, d: String,
                            perDoc: DataFrame): DataFrame =
    perDoc
      .join(documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_base_symbols")).as("n_base_symbols"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_base_symbols"), col("n_bpe_tokens"),
        expr("(2 * n_base_symbols * 1000000 + n_bpe_tokens) div (2 * n_bpe_tokens)")
          .as("symbols_per_token_fp"),
        expr("(2 * n_bpe_tokens * 1000000 + n_words) div (2 * n_words)")
          .as("tokens_per_word_fp"))
      .orderBy("lang")

  /** Vocabulary-size sweep — the tokenizer-tuning table a pipeline
    * reads before committing to a merge count (the [[q_dedup_savings]]
    * stance applied to the tokenizer: one fit, every candidate cutoff
    * read off it). BPE merges are strictly nested — the first k of a
    * K-merge fit ARE the k-merge fit (the merge chosen at step i
    * depends only on steps 1..i−1) — so ONE training at K yields the
    * compression curve at every prefix: train once, then ONE corpus
    * pass computes the encoded form at each checkpoint k ∈
    * {0, stride, 2·stride, …, K} INCREMENTALLY (checkpoint k's
    * encoding applies merges (k−stride, k] to checkpoint k−stride's
    * string, never restarting from the raw symbols; each intermediate
    * encoding lands in its own projection and is referenced twice —
    * the token count and the next stage — so CollapseProject keeps it
    * materialized, the [[graft.queries.DedupOps.q_cdc_chunks]] rule).
    * Total replace work over the corpus is exactly K, the same as one
    * full encode.
    *
    * Output per checkpoint: merge budget k, merges actually trained
    * (≤ k on a corpus that exhausts pairs early), total base symbols,
    * total BPE tokens, ×1e6 round-half-up symbols-per-token
    * compression, and the marginal tokens saved vs the previous
    * checkpoint — the diminishing-returns curve that picks the vocab
    * size. k = 0 anchors the curve (tokens = base symbols,
    * compression exactly 1e6).
    *
    * Scale shape: training is [[q_bpe_train]]'s proven loop (one
    * corpus shuffle + Zipf-bounded iterations); the sweep itself is
    * one zero-shuffle corpus pass folding K literal replaces, one
    * map-side-combined global aggregation to a SINGLE row, and a
    * row-local `stack` fan-out to |checkpoints| rows — nothing here
    * grows with corpus size except the one scan.
    */
  def q_bpe_sweep(s: SparkSession, d: String, merges: Int = 8,
                  stride: Int = 2): DataFrame = {
    val trained = SharedBpe.merges(s, d, merges).orderBy("step").collect()
      .map(r => (r.getAs[Long]("step"),
        s"<${r.getAs[String]("lhs")}><${r.getAs[String]("rhs")}>",
        s"<${r.getAs[String]("merged")}>"))
    val checkpoints = 0L +: (stride.toLong to merges.toLong by stride.toLong)
    val bracketed = concat(lit("<"),
      array_join(expr("array_remove(split(word, ''), '')"), "><"), lit(">"))
    val nTok = (c: Column) =>
      (length(c) - length(replace(c, lit(">"), lit("")))).cast("long")
    var staged = documents(s, d)
      .filter(col("text").isNotNull)
      .select(explode(expr("array_remove(split(text, ' '), '')")).as("word"))
      .select(length(col("word")).cast("long").as("n_sym"),
        bracketed.as("enc_0"))
    checkpoints.drop(1).foreach { k =>
      val step = trained.filter(t => t._1 > k - stride && t._1 <= k)
      val prev = col(s"enc_${k - stride}")
      staged = staged.withColumn(s"enc_$k",
        step.foldLeft(prev) { case (c, (_, pat, mrg)) =>
          replace(c, lit(pat), lit(mrg)) })
    }
    val sums = staged.agg(
      sum(col("n_sym")).as("s0"),
      checkpoints.drop(1).map(k => sum(nTok(col(s"enc_$k"))).as(s"t$k")): _*)
    val rows = checkpoints.map { k =>
      val tok = if (k == 0) "s0" else s"t$k"
      val nm = trained.count(_._1 <= k)
      val saved = if (k == 0) lit(0L)
        else (col(if (k - stride == 0) "s0" else s"t${k - stride}") - col(tok))
      struct(lit(k).as("k"), lit(nm.toLong).as("n_merges"),
        col("s0").as("total_base_symbols"),
        col(tok).as("total_bpe_tokens"),
        expr(s"(2 * s0 * 1000000 + $tok) div (2 * $tok)")
          .as("symbols_per_token_fp"),
        saved.as("tokens_saved"))
    }
    sums.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
      .orderBy("k")
  }

  /** Full WITH-body CTE chain deriving the BPE merge tables m1..mK
    * (pat, mrg, cnt) plus rewritten vocabs v0..vK from the documents
    * corpus — shared by the q_bpe_train, q_bpe_encode, q_tok_fertility
    * and q_bpe_sweep oracles so the fit the encoder applies is BY
    * CONSTRUCTION the fit the trainer reports. v0/m_i/v_i are pinned
    * AS MATERIALIZED (the q_pca_power inlined-CTE lesson): each m_i is
    * referenced by v_i AND by every downstream scalar subquery
    * (q_bpe_sweep's checkpoint columns reference m_1 four times), and
    * DuckDB re-inlines an unmaterialized CTE per reference — the whole
    * training prefix would re-evaluate multiplicatively.
    */
  private def duckBpeTrainCtes(merges: Int): String = {
    val steps = (1 to merges).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""p$i AS (SELECT pat, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, unnest(list_transform(range(1, len(syms)), j ->
         |      '<' || syms[j] || '><' || syms[j + 1] || '>')) AS pat
         |    FROM (SELECT n, string_split(substr(r, 2, length(r) - 2), '><') AS syms
         |          FROM $prev)) GROUP BY pat),
         |m$i AS MATERIALIZED (SELECT pat, replace(pat, '><', '') AS mrg, cnt
         |        FROM p$i ORDER BY cnt DESC, pat LIMIT 1),
         |v$i AS MATERIALIZED (SELECT n, replace(v.r, m.pat, m.mrg) AS r FROM $prev v, m$i m)"""
        .stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT word, count(*) AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |    WHERE text IS NOT NULL)
       |  WHERE length(word) > 1 GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT n, '<' || array_to_string(string_split(word, ''), '><') || '>' AS r
       |       FROM w),
       |$steps""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    // BPE trainer: 8 written-out merge iterations (the q_embed_train
    // iterative-CTE stance); each m_i is the argmax pair (cnt DESC,
    // pat ASC), each v_i the vocab after that literal replace
    Key("q_bpe_train", (s, d) => q_bpe_train(s, d), {
      val merges = 8
      val steps = duckBpeTrainCtes(merges)
      val out = (1 to merges).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS step,
           |  string_split(substr(pat, 2, length(pat) - 2), '><')[1] AS lhs,
           |  string_split(substr(pat, 2, length(pat) - 2), '><')[2] AS rhs,
           |  replace(substr(pat, 2, length(pat) - 2), '><', '') AS merged,
           |  cnt FROM m$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $steps
         |SELECT * FROM ($out) ORDER BY step""".stripMargin
    }),
    // BPE encode: the SAME training CTE chain derives the merge
    // tables m1..mK; the corpus is then re-tokenized word-by-word by
    // a K-deep nested replace whose pat/mrg arguments are scalar
    // subqueries against those CTEs — mirroring the Spark side's
    // collected-literal replace chain step for step. Token count =
    // occurrences of '>' (every symbol ends with one).
    Key("q_bpe_encode", (s, d) => q_bpe_encode(s, d), {
      val merges = 8
      // coalesce (ADVICE r8): a corpus that exhausts merges before
      // K leaves m$i empty, its scalar subquery NULL, and
      // replace(x, NULL, NULL) would null the whole encoding — the
      // Spark side applies only trained merges, so a missing merge
      // must be a no-op here too (replace(x, '', '') is identity)
      val applied = (1 to merges).foldLeft("r") { (acc, i) =>
        s"replace($acc, coalesce((SELECT pat FROM m$i), '')," +
          s" coalesce((SELECT mrg FROM m$i), ''))"
      }
      s"""WITH ${duckBpeTrainCtes(merges)},
         |dw AS (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE length(word) > 0),
         |db AS (SELECT doc_id, CAST(length(word) AS BIGINT) AS n_sym,
         |         '<' || array_to_string(string_split(word, ''), '><') || '>' AS r
         |       FROM dw),
         |de AS (SELECT doc_id, n_sym, $applied AS enc FROM db)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_base_symbols,
         |  CAST(sum(length(enc) - length(replace(enc, '>', ''))) AS BIGINT) AS n_bpe_tokens
         |FROM de GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),
    // per-language fertility: the encode CTE chain regrouped by lang;
    // every sum CAST to BIGINT before the fixed-point arithmetic
    // (DuckDB sum() returns HUGEINT — the q_corpus_report lesson)
    Key("q_tok_fertility", (s, d) => q_tok_fertility(s, d), {
      val merges = 8
      val applied = (1 to merges).foldLeft("r") { (acc, i) =>
        s"replace($acc, coalesce((SELECT pat FROM m$i), '')," +
          s" coalesce((SELECT mrg FROM m$i), ''))"
      }
      s"""WITH ${duckBpeTrainCtes(merges)},
         |dw AS (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE length(word) > 0),
         |db AS (SELECT doc_id, CAST(length(word) AS BIGINT) AS n_sym,
         |         '<' || array_to_string(string_split(word, ''), '><') || '>' AS r
         |       FROM dw),
         |de AS (SELECT doc_id, n_sym, $applied AS enc FROM db),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
         |         CAST(sum(n_sym) AS BIGINT) AS ns,
         |         CAST(sum(length(enc) - length(replace(enc, '>', ''))) AS BIGINT) AS nt
         |       FROM de GROUP BY doc_id),
         |pl AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(nw) AS BIGINT) AS n_words,
         |         CAST(sum(ns) AS BIGINT) AS n_base_symbols,
         |         CAST(sum(nt) AS BIGINT) AS n_bpe_tokens
         |       FROM pd JOIN documents d USING (doc_id) GROUP BY d.lang)
         |SELECT lang, n_docs, n_words, n_base_symbols, n_bpe_tokens,
         |  (2 * n_base_symbols * 1000000 + n_bpe_tokens) // (2 * n_bpe_tokens)
         |    AS symbols_per_token_fp,
         |  (2 * n_bpe_tokens * 1000000 + n_words) // (2 * n_words)
         |    AS tokens_per_word_fp
         |FROM pl ORDER BY lang""".stripMargin
    }),
    // vocab-size sweep: the training CTE chain once, then each
    // checkpoint's encoding as the full replace-prefix (the oracle
    // pays 2+4+6+8 replaces where Spark's incremental columns pay 8 —
    // same values, the oracle optimizes for dialect simplicity);
    // empty-merge coalesce no-ops as in q_bpe_encode
    Key("q_bpe_sweep", (s, d) => q_bpe_sweep(s, d), {
      val (merges, stride) = (8, 2)
      val cps = stride to merges by stride
      def applied(k: Int) = (1 to k).foldLeft("r") { (acc, i) =>
        s"replace($acc, coalesce((SELECT pat FROM m$i), '')," +
          s" coalesce((SELECT mrg FROM m$i), ''))"
      }
      val encCols = cps.map(k => s"${applied(k)} AS e$k").mkString(",\n")
      val tokSums = cps.map(k =>
        s"CAST(sum(length(e$k) - length(replace(e$k, '>', ''))) AS BIGINT) AS t$k")
        .mkString(",\n")
      def nm(k: Int) =
        if (k == 0) "CAST(0 AS BIGINT)"
        else "CAST(" + (1 to k).map(i => s"(SELECT count(*) FROM m$i)")
          .mkString(" + ") + " AS BIGINT)"
      val rows = (s"""SELECT CAST(0 AS BIGINT) AS k, ${nm(0)} AS n_merges,
        |  s0 AS total_base_symbols, s0 AS total_bpe_tokens,
        |  (2 * s0 * 1000000 + s0) // (2 * s0) AS symbols_per_token_fp,
        |  CAST(0 AS BIGINT) AS tokens_saved FROM tot""".stripMargin +:
        cps.map { k =>
          val prev = if (k - stride == 0) "s0" else s"t${k - stride}"
          s"""SELECT CAST($k AS BIGINT), ${nm(k)}, s0, t$k,
             |  (2 * s0 * 1000000 + t$k) // (2 * t$k), $prev - t$k
             |FROM tot""".stripMargin
        }).mkString("\nUNION ALL\n")
      s"""WITH ${duckBpeTrainCtes(merges)},
         |dw AS (SELECT word FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE length(word) > 0),
         |db AS (SELECT CAST(length(word) AS BIGINT) AS ns,
         |         '<' || array_to_string(string_split(word, ''), '><') || '>' AS r
         |       FROM dw),
         |de AS (SELECT ns,
         |$encCols
         |FROM db),
         |tot AS (SELECT CAST(sum(ns) AS BIGINT) AS s0,
         |$tokSums
         |FROM de)
         |SELECT * FROM ($rows) ORDER BY k""".stripMargin
    }),
  )
}
