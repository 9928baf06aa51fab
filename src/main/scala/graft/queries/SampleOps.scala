package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import graft.functions.HashFunctions.{duckHashDraw, duckHexValue}
import graft.functions.TopKAggregator
import graft.queries.DedupOps.{duckMinhash, duckSimhashCtes}
import graft.queries.TextOps.duckQualityScore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data selection operators (builder north star): the sampling
  * and corpus-prep stages that sit between raw documents and a training
  * mix. All are DETERMINISTIC — sampling decisions derive from md5 of
  * the row key, not an RNG — so runs are reproducible, incremental
  * reruns keep their selections, and the DuckDB oracle can verify every
  * row. (Spark's `sample()`/`sampleBy()` are seeded-random: fine for
  * stats, wrong for reproducible corpus builds — a re-run with one new
  * input file reshuffles every selection.)
  */
object SampleOps {

  private val Hex = "0123456789abcdef"

  /** First `chars` hex chars of md5(key) as an integer column — the
    * deterministic "random" draw, identical in Spark and DuckDB
    * (nibble arithmetic, see the oracle SQL). Since r16 the Spark-side
    * evaluation is the codegen'd [[graft.functions.Md5WindowU]] kernel
    * — bit-identical to the previous
    * `conv(substring(md5(key), 1, chars), 16, 10)` chain
    * (HashKernelSpec) without its per-row hex-string/substring
    * allocations and conv re-parse.
    */
  def hashDraw(key: Column, chars: Int): Column =
    graft.functions.HashFunctions.md5WindowU(key.cast("string"), 1, chars)

  /** Stratified downsampling by language with per-stratum keep rates —
    * the standard rebalancing move (downweight the dominant language,
    * keep the tail). Keep iff hash(doc_id) mod 1000 < rate(lang).
    *
    * Scale shape: a pure per-row filter on a scan — no shuffle, no
    * driver state, prunes to the kept fraction before anything
    * downstream. Rates ride as a broadcast map literal.
    */
  def q_sample_hash(s: SparkSession, d: String): DataFrame = {
    val rates = typedLit(Map("en" -> 200L, "zh" -> 400L)) // per-mille; default 600
    val bucket = hashDraw(col("doc_id"), 4) % 1000
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), bucket.as("bucket"),
        coalesce(element_at(rates, col("lang")), lit(600L)).as("keep_rate"))
      .filter(col("bucket") < col("keep_rate"))
      .select("doc_id", "lang", "source", "bucket")
      .orderBy("doc_id")
  }

  /** Quality-weighted deterministic sampling: a document's admission
    * probability is proportional to its quality score (floor 10%, so
    * low-quality strata stay measurable) — the quality-weighted mixing
    * step a curation pipeline runs between scoring and training-set
    * assembly. Keep iff hash(doc_id) mod 1000 < 100 + 900·quality.
    *
    * Same scale shape as [[q_sample_hash]]: a pure per-row scan filter
    * (score + draw are both row-local expressions), zero shuffle, no
    * driver state, reproducible across reruns and engines.
    */
  def q_sample_weighted(s: SparkSession, d: String): DataFrame = {
    val quality = graft.queries.TextOps.qualityScore(col("text"))
    val bucket = hashDraw(col("doc_id"), 4) % 1000
    documents(s, d)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        floor(lit(100.0) + lit(900.0) * quality).cast("long").as("keep_rate"))
      .filter(col("bucket") < col("keep_rate"))
      .orderBy("doc_id")
  }

  /** Corpus rebalancing to uniform language shares — the multilingual
    * mixing step: every language is deterministically downsampled to
    * the SMALLEST language's document count (keep_rate per mille =
    * floor(1000·target/n_lang), target = min group size), so the
    * sampled corpus is share-balanced without an operator-supplied
    * rate table ([[q_sample_hash]] is the hand-tuned-rates cousin).
    *
    * Scale shape: one map-side-combined count per language (O(langs)
    * rows), a one-row min, and a broadcast rate join over the scan —
    * the corpus itself is touched by exactly one pass plus the
    * per-row hash-draw filter. Deterministic end to end: counts are
    * integers, the rate division is a single floor on exact operands,
    * and the draw is the md5 bridge — reruns keep their selections.
    */
  /** Exactly-k-per-stratum deterministic sampling through the CUSTOM
    * whole-operator plan ([[graft.plans.TopKPerGroup]]) — the
    * deliberate physical A/B twin of [[q_sample_reservoir]]: the same
    * contract (per language, the k docs with the smallest md5 draws,
    * doc_id tie-break) computed by the repo's two §2.12 machineries —
    * there a typed Aggregator with bounded array state inside a hash
    * aggregate, here the planner-injected bounded-heap operator pair.
    * Each key carries its own independent DuckDB oracle, and
    * SampleSpec additionally pins the two outputs row-identical — two
    * implementations, two oracles, one answer, so a regression in
    * either machinery surfaces as a three-way disagreement.
    */
  def q_sample_stratified(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("lang"),
      hashDraw(col("doc_id"), 6).as("draw"))
    graft.plans.TopKPerGroup.topKPerGroup(base,
        Seq(col("lang")), Seq(col("draw"), col("doc_id")), k)
      .select(col("doc_id"), col("lang"), col("draw"), col("rank"))
      .orderBy("lang", "rank")
  }

  def q_sample_balance(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d).groupBy("lang")
      .agg(count(lit(1)).as("n_lang"))
    val target = counts.agg(min(col("n_lang")).as("target_n"))
    val rates = counts.crossJoin(broadcast(target))
      .select(col("lang"),
        floor(col("target_n") * lit(1000.0) / col("n_lang"))
          .cast("long").as("keep_rate"))
    val bucket = hashDraw(col("doc_id"), 4) % 1000
    documents(s, d)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .join(broadcast(rates), Seq("lang"))
      .filter(col("bucket") < col("keep_rate"))
      .select("doc_id", "lang", "bucket", "keep_rate")
      .orderBy("doc_id")
  }

  /** Bounded per-group sample ("reservoir" with a deterministic
    * priority): per language, keep the k docs with the smallest
    * hash(doc_id) — a uniform-ish, reproducible k-per-group sample.
    *
    * Implemented with [[TopKAggregator]] (negated draw as the score),
    * so each map partition reduces to ≤ k candidates per group before
    * the shuffle — the same bounded-state shape a true reservoir
    * sampler needs, and the reuse case the aggregate was built for.
    */
  def q_sample_reservoir(s: SparkSession, d: String, k: Int = 20): DataFrame =
    documents(s, d)
      .select(col("lang"), col("doc_id"),
        hashDraw(col("doc_id"), 6).as("draw"))
      .filter(col("draw").isNotNull) // null key ⇒ null draw ⇒ encoder crash
      .groupBy("lang")
      .agg(TopKAggregator.topk(k)(-col("draw").cast("double"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(
        col("lang"),
        (col("pos") + 1).cast("long").as("rank"),
        col("pair._2").as("doc_id"),
        (-col("pair._1")).cast("long").as("draw"))
      .orderBy("lang", "rank")

  /** Sequence packing — the concat-then-chunk layout step of training
    * data prep: documents are laid out in deterministic order and cut
    * into fixed token-budget windows; each doc records the sequence its
    * first token lands in and its offset there.
    *
    * Scale shape: packing is per-SHARD (hash of the doc id), so the
    * running-sum window parallelizes — one partition per shard, no
    * global sort. seq ids are namespaced by shard (shard ≪ 40 | local
    * seq: 2^40 sequences ≈ 5·10^14 tokens of headroom per shard at the
    * default budget — far past any single shard's share of a 100 TB
    * corpus), how a 1000-executor packing job stays embarrassingly
    * parallel without id collisions.
    *
    * `shards` defaults to the cluster's parallelism (the library form —
    * one window partition per core); the declared query pins 8 so the
    * oracle is shard-count-stable. Offsets are per-shard, so the
    * packing is consistent at ANY shard count (unit-tested at 3).
    */
  def packSequences(s: SparkSession, d: String, budget: Int = 512,
      shards: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = shards.getOrElse(s.sparkContext.defaultParallelism)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards)).as("shard"),
        size(split(col("text"), "\\s+", -1)).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(
        col("doc_id"), col("shard"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("shard_offset"),
        (shiftleft(col("shard"), 40) +
          floor((col("cum") - col("n_tokens")) / budget).cast("long")).as("seq_id"))
      .orderBy("doc_id")
  }

  /** Oracle-pinned form of [[packSequences]]: 8 shards, 512-token
    * budget — the declared `q_pack_sequences` key.
    */
  def q_pack_sequences(s: SparkSession, d: String, budget: Int = 512): DataFrame =
    packSequences(s, d, budget, Some(8))

  /** Sliding-window document chunking — the embedding/RAG prep step:
    * cut each document into fixed `window`-token chunks advancing by
    * `stride` tokens (overlap = window − stride), so every token is
    * covered and context straddles chunk boundaries. A document with
    * ≤ window tokens is one chunk; the final chunk keeps the tail
    * (shorter than window, never empty).
    *
    * Scale shape: pure row-local array expressions (sequence →
    * transform → explode) inside the scan stage — zero shuffle, zero
    * state; output rows ≈ tokens/stride. The explode pipelines into
    * whatever consumes the chunks (an embedding UDF, a writer), so
    * chunking never materializes the corpus twice. NULL documents
    * produce no chunks (null flows through sequence/explode).
    */
  def chunkDocs(s: SparkSession, d: String,
      window: Int = 32, stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val w = split(col("text"), " ")
    val n = size(w)
    // chunks = 1 for n <= window, else 1 + ceil((n-window)/stride) —
    // the float division is on exact small ints (deterministic), and
    // the form mirrors the oracle SQL token for token
    val nChunks = when(n <= window, lit(1))
      .otherwise(floor((n - window + (stride - 1)).cast("double") / stride)
        .cast("int") + 1)
    documents(s, d)
      .select(col("doc_id"), n.as("n"), w.as("w"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("w"), col("chunk_idx") * stride + 1, lit(window)))
          .as("chunk_text"),
        least(lit(window), col("n") - col("chunk_idx") * stride)
          .cast("long").as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Oracle-pinned form of [[chunkDocs]] (window 32, stride 24) — the
    * declared `q_chunk` key.
    */
  def q_chunk(s: SparkSession, d: String): DataFrame = chunkDocs(s, d)

  /** Per-language quality-percentile gate — keep every document at or
    * above its language's median quality. Absolute-threshold gates
    * ([[q_pipeline_prep]]'s `quality >= 0.45`) misfire across
    * languages whose score distributions differ; gating on a
    * per-stratum PERCENTILE adapts the bar to each stratum, the
    * standard quality-stratification move before mixing.
    *
    * The threshold is the discrete lower median over exact fixed-point
    * scores — computed from a (lang, score) value-count table with an
    * integer cumulative window, NOT `percentile()`: interpolated
    * medians average two neighboring doubles, and the midpoint of two
    * 10-decimal values can sit exactly on a rounding boundary where
    * Spark/DuckDB float tails diverge (the §5.3 rule). Every
    * comparison here is long vs long; the one division (fp → double
    * for display) runs on bit-identical operands in both engines.
    *
    * Scale shape: the corpus is touched by one scan projection; the
    * threshold pipeline aggregates (lang, score_fp) value counts —
    * map-side-combined, O(langs × distinct scores) rows — then runs
    * the cumulative window over that TINY table (never over corpus
    * rows; a percent_rank window partitioned by lang would sort whole
    * strata on single partitions). Thresholds broadcast back and the
    * gate is a scan-side integer filter.
    */
  def q_quality_gate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qf = round(TextOps.qualityScore(col("text")) * 1e10).cast("long")
    val scored = documents(s, d)
      .select(col("doc_id"), col("lang"), qf.as("qf"))
    val valueCounts = scored.filter(col("qf").isNotNull)
      .groupBy("lang", "qf").agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy("lang").orderBy("qf")
    val thr = valueCounts
      .withColumn("cum", sum(col("c")).over(cum))
      .withColumn("n_lang", sum(col("c")).over(Window.partitionBy("lang")))
      .filter(col("cum") >= ceil(col("n_lang") / 2.0).cast("long"))
      .groupBy("lang").agg(min(col("qf")).as("thr_fp"))
    scored.join(broadcast(thr), Seq("lang"))
      .filter(col("qf") >= col("thr_fp"))
      .select(col("doc_id"), col("lang"),
        (col("qf").cast("double") / 1e10).as("quality"),
        (col("thr_fp").cast("double") / 1e10).as("lang_median"))
      .orderBy("doc_id")
  }

  /** Dedup-safe train/val/test assignment (80/10/10): the split draw
    * hashes the NORMALIZED CONTENT fingerprint, not the doc id, so
    * every copy of a duplicated document lands in the same split —
    * the property that prevents train→test leakage through near-exact
    * duplicates surviving upstream dedup. Null documents (no content
    * to leak) draw on a namespaced doc id instead, spreading them
    * uniformly rather than collapsing all nulls into one split.
    *
    * Scale shape: pure per-row scan expressions (fingerprint + md5
    * draw + range test), zero shuffle, reproducible across reruns —
    * appending new files to the corpus never reassigns an existing
    * document.
    */
  def q_split(s: SparkSession, d: String): DataFrame = {
    val key = coalesce(TextOps.normalizedFp(col("text")),
      concat(lit("null:"), col("doc_id").cast("string")))
    val bucket = hashDraw(key, 4) % 1000
    documents(s, d)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        when(bucket < 800, "train").when(bucket < 900, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Train/val/test LEAKAGE audit — the check [[q_split]] cannot make
    * unnecessary: the split is content-keyed (normalized fingerprint),
    * so EXACT duplicates and bag-of-words permutations land in the
    * same split by construction — but NEAR-duplicates have different
    * fingerprints and hash independently, so a paraphrased test
    * document can sit next to its training twin. This key joins the
    * MinHash-LSH near-dup pairs ([[graft.queries.DedupOps
    * .q_dedup_minhash]]) against the split assignment and flags every
    * pair whose members straddle a boundary — the eval-integrity
    * report a pipeline must publish with its split (measured here: 10
    * of 25 near-dup pairs at sf0.01 cross splits — the audit is not
    * hypothetical).
    *
    * Scale shape: the pair table is candidate-sized (LSH-bounded) and
    * the split side is a zero-shuffle scan projection, so the two
    * joins stream the split scan against a small build side; nothing
    * corpus-scale shuffles beyond what candidate generation already
    * paid.
    */
  def q_split_leakage(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.queries.DedupOps.SharedDedup.pairs(
      s, d, graft.queries.HashFamily.fromConf(s))
    val splits = q_split(s, d).select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("leaks"))
      .orderBy("doc_a", "doc_b")
  }

  /** GROUP-AWARE train/val/test split — the fix for exactly the leak
    * [[q_split_leakage]] measures: near-duplicates fingerprint
    * independently under the content-keyed [[q_split]], so a
    * paraphrased test document can sit next to its training twin (10
    * of 25 near-dup pairs crossed boundaries at sf0.01 when the audit
    * first ran). This operator routes every member of a near-dup
    * GROUP to one split: the group is the connected component over
    * the union of both near-dup evidence families — MinHash-LSH
    * confirmed pairs at exact Jaccard ≥ 0.5 (compared on the ROUNDED
    * value, the [[graft.queries.DedupOps.q_source_overlap]] stance)
    * and SimHash pairs at Hamming ≤ 1 — and the split draw hashes the
    * group id (the component's minimum doc_id; singletons route by
    * their own id). Any near-dup evidence from either family
    * therefore forces co-assignment, and the leakage audit over this
    * split is zero BY CONSTRUCTION (pinned in SampleSpec).
    *
    * Reproducibility caveat vs [[q_split]] (documented trade): the
    * content-keyed split never reassigns an existing doc when the
    * corpus grows; a group split can — a new document bridging two
    * groups merges them and may move members. That is inherent to
    * group-aware splitting (the group IS corpus-dependent), which is
    * why pipelines re-audit rather than re-split incrementally.
    *
    * Scale shape: pair generation is the two families' banded-LSH
    * paths (bucketed, capped — nothing all-pairs); the component
    * loop is star contraction over the pair-sized edge list; the
    * final join attaches O(members-of-groups) labels to a zero-shuffle
    * documents scan (left join — singletons never enter the exchange);
    * the draw is a per-row scan expression.
    */
  def q_split_group(s: SparkSession, d: String): DataFrame = {
    val mh = DedupOps.SharedDedup.pairs(s, d, HashFamily.fromConf(s))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    val sh = DedupOps.SharedDedup.simPairs(s, d)
      .select(col("doc_a"), col("doc_b"))
    // cross-family union can repeat a pair — let CC normalize (its
    // initial distinct is pair-sized, not corpus-sized)
    val labels = ClusterOps.connectedComponents(
      mh.unionAll(sh), "doc_a", "doc_b")
    val base = documents(s, d).select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("group_id"))
    val bucket =
      hashDraw(concat(lit("grp:"), col("group_id").cast("string")), 4) % 1000
    base
      .select(col("doc_id"), col("group_id"), bucket.as("bucket"),
        when(bucket < 800, "train").when(bucket < 900, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Token-budget source mixing — the mixing step that assembles a
    * training set of `sharePerMille`/1000 of corpus tokens spread
    * UNIFORMLY across sources: each source's keep rate is its equal
    * share of the token budget over its own token count (capped at
    * keep-everything), and documents are admitted by the deterministic
    * hash draw. Emits the per-source mixing report (planned rate,
    * admitted docs/tokens) a pipeline run logs next to the output.
    *
    * Scale shape: one map-side-combined per-source token count
    * (O(sources) rows), a one-row total, broadcast rates, and a
    * per-row draw filter on the second scan — the corpus shuffles
    * nothing. Determinism: counts are exact longs and the rate is one
    * float division sequence on exact operands, written token for
    * token identically in the oracle SQL (bit-identical IEEE in both
    * engines); draw-vs-rate comparisons are long vs long.
    */
  def q_mix_budget(s: SparkSession, d: String, sharePerMille: Int = 500): DataFrame = {
    val toks = size(split(col("text"), "\\s+", -1)).cast("long")
    val perSrc = documents(s, d)
      .select(col("source"), toks.as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("src_docs"), sum(col("n_toks")).as("src_tokens"))
    val total = perSrc.agg(
      sum(col("src_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val rates = perSrc.crossJoin(broadcast(total))
      .select(col("source"), col("src_docs"), col("src_tokens"),
        least(lit(1000L),
          floor(col("total_tokens") * lit(sharePerMille.toDouble) /
            (col("n_sources") * col("src_tokens"))).cast("long")).as("rate_mille"))
    val bucket = hashDraw(col("doc_id"), 4) % 1000
    val kept = documents(s, d)
      .select(col("source"), bucket.as("bucket"), toks.as("n_toks"))
      .join(broadcast(rates.select("source", "rate_mille")), Seq("source"))
      .filter(col("bucket") < col("rate_mille"))
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_toks")).as("kept_tokens"))
    // left join: a source whose rate admits nothing still appears in
    // the mixing report (kept 0), it does not silently vanish
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("src_docs"), col("src_tokens"), col("rate_mille"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** Temperature-based source mixing (α = 0.5) — the multilingual-LM
    * sampling standard (XLM-R style): source weights ∝ tokens^α, so
    * high-resource sources are downweighted and the tail upweighted
    * relative to proportional sampling, without ever inverting the
    * order. α is fixed at 0.5 because the weight is then `sqrt`,
    * which IEEE 754 requires to be correctly rounded — bit-identical
    * in every engine — where general `pow` carries no such guarantee
    * and would flake an exact-hash oracle.
    *
    * Determinism: weights are fixed-pointed with floor (not round —
    * Spark rounds doubles half-up, DuckDB half-even) so the
    * normalizing sum is an exact, associative long sum; the rate is
    * one double expression written token for token as the oracle SQL
    * (identical IEEE op sequence on exact operands).
    *
    * Scale shape: identical to [[q_mix_budget]] — O(sources) agg
    * rows, one-row total, broadcast rates, per-row draw filter; the
    * corpus shuffles nothing.
    */
  def q_mix_temp(s: SparkSession, d: String, sharePerMille: Int = 500): DataFrame = {
    val toks = size(split(col("text"), "\\s+", -1)).cast("long")
    val perSrc = documents(s, d)
      .select(col("source"), toks.as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("src_docs"), sum(col("n_toks")).as("src_tokens"))
      .withColumn("weight_fp",
        floor(sqrt(col("src_tokens").cast("double")) * 1e6).cast("long"))
    val total = perSrc.agg(
      sum(col("src_tokens")).as("total_tokens"),
      sum(col("weight_fp")).as("w_sum"))
    val rates = perSrc.crossJoin(broadcast(total))
      .select(col("source"), col("src_docs"), col("src_tokens"), col("weight_fp"),
        least(lit(1000L),
          floor(col("total_tokens").cast("double") * lit(sharePerMille.toDouble) *
            col("weight_fp") /
            (col("w_sum").cast("double") * col("src_tokens"))).cast("long"))
          .as("rate_mille"))
    val bucket = hashDraw(col("doc_id"), 4) % 1000
    val kept = documents(s, d)
      .select(col("source"), bucket.as("bucket"), toks.as("n_toks"))
      .join(broadcast(rates.select("source", "rate_mille")), Seq("source"))
      .filter(col("bucket") < col("rate_mille"))
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_toks")).as("kept_tokens"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("src_docs"), col("src_tokens"),
        col("weight_fp"), col("rate_mille"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** Epoch allocation under a fixed training-token budget — the
    * data-constrained scaling decision (Muennighoff et al. 2023:
    * repeating data holds value for ~4 epochs, then decays fast;
    * BLOOM/XLM-R-style multilingual training combines that cap with
    * α = 0.5 temperature weights): given a budget of `budgetX` × the
    * corpus's total tokens, allocate per-LANGUAGE token counts
    * proportional to the sqrt weight ([[q_mix_temp]]'s fixed-point
    * form — languages here are the corpus's one measured non-uniform
    * axis; sources are uniform by construction and would verify a
    * constant), and report each language's implied epoch count, the
    * >4-epoch flag, and the 4-epoch-capped effective tokens. The gap
    * between `alloc_tokens` and `effective_tokens` summed over
    * languages is the budget a mixing stage must re-spread (or spend
    * on new data) — the actionable number.
    *
    * Exactness: weight_fp = floor(sqrt(tokens)·1e6) (IEEE sqrt is
    * correctly rounded — bit-identical cross-engine, the q_mix_temp
    * rationale); the allocation `(budgetX · total · w) div w_sum` and
    * the ×1e6 round-half-up epochs are pure integer arithmetic. Int64
    * headroom: total·budgetX·w_fp < 2⁶³ up to ~10⁹ corpus tokens at
    * budgetX = 4; beyond that divide budget by w_sum FIRST (one ulp
    * of drift, documented) or move the product to decimal(38,0) (the
    * q_graph_modularity escalation).
    *
    * Scale shape: one map-side-combined O(langs) aggregation, one
    * broadcast one-row total, O(langs) output — nothing else touches
    * the corpus.
    */
  def q_mix_epoch(s: SparkSession, d: String, budgetX: Int = 4,
                  capEpochs: Int = 4): DataFrame = {
    val toks = size(split(col("text"), "\\s+", -1)).cast("long")
    val perLang = documents(s, d)
      .select(col("lang"), toks.as("n_toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("lang_tokens"))
      .withColumn("weight_fp",
        floor(sqrt(col("lang_tokens").cast("double")) * 1e6).cast("long"))
    val total = perLang.agg(
      sum(col("lang_tokens")).as("total_tokens"),
      sum(col("weight_fp")).as("w_sum"))
    perLang.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("lang_tokens"), col("weight_fp"),
        expr(s"($budgetX * total_tokens * weight_fp) div w_sum")
          .as("alloc_tokens"))
      .select(col("lang"), col("n_docs"), col("lang_tokens"), col("weight_fp"),
        col("alloc_tokens"),
        expr("(2 * alloc_tokens * 1000000 + lang_tokens) div (2 * lang_tokens)")
          .as("epochs_fp"),
        (expr("(2 * alloc_tokens * 1000000 + lang_tokens) div (2 * lang_tokens)")
          > capEpochs * 1000000L).as("over_cap"),
        least(col("alloc_tokens"), col("lang_tokens") * capEpochs)
          .as("effective_tokens"))
      .orderBy("lang")
  }

  /** Deterministic corpus shuffle into training shards — the final
    * layout step before sequence packing: a pseudo-random but
    * reproducible global order (md5 of the doc id), sharded by the
    * draw so each shard is an unbiased sample, with a dense
    * within-shard sequence number. This is exactly the distributed
    * write shape — `repartition(shard)` + `sortWithinPartitions(rkey)`
    * — so a 1000-executor job writes all shards in parallel with no
    * global sort; the only ordered structure is per-shard.
    *
    * Scale shape: one hash-partitioned exchange on shard + per-shard
    * sort (the row_number window); shards are balanced by construction
    * (the draw is uniform), so no executor owns more than ~1/shards of
    * the corpus. Reproducible: reruns and engines agree on every
    * (shard, seq) assignment; ties cannot occur (doc_id breaks them).
    */
  def q_shuffle_shards(s: SparkSession, d: String, shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("rkey", "doc_id")
    documents(s, d)
      .select(col("doc_id"), hashDraw(col("doc_id"), 8).as("rkey"))
      .withColumn("shard", pmod(col("rkey"), lit(shards.toLong)))
      .withColumn("seq", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "seq", "rkey")
      .orderBy("doc_id")
  }

  /** Differentially-private count release — the Laplace mechanism
    * (Dwork et al. 2006) over the per-language document counts:
    * noise ~ Laplace(Δ/ε) with sensitivity Δ = 1 (one document moves
    * one count by one), drawn by inverse-CDF transform
    * `noise = −(Δ/ε)·sign(u−½)·ln(1−2|u−½|)` of a uniform u. The
    * statistic a pipeline publishes about a private corpus without
    * revealing membership — the release-side complement of
    * [[graft.queries.TextOps.q_minkprob]]'s attack-side readout.
    *
    * NOISE SOURCE, honestly stated: u here is the md5 hash draw of
    * the group key — DETERMINISTIC, because the oracle contract
    * verifies the mechanism (inverse CDF, sensitivity accounting,
    * fixed-point release) rather than the sampling. A real release
    * swaps ONE line — the draw — for a CSPRNG; hash-seeded noise is
    * NOT private (the adversary can recompute it), and the scaladoc
    * is the warning label. The ε accounting itself is real: at ε = 1
    * the released `noisy_n_fp` is the count ±O(1) — utility a 5-group
    * histogram keeps, membership a single document loses.
    *
    * Parity shape: the draw is exact integer nibble arithmetic; sign
    * is an integer comparison on the raw draw (never the float u);
    * ln is the ×1e6-quantized precedent ([[graft.queries.TextOps
    * .q_lm_score]]'s 1e9 form); `mag` is floored at 2⁻³² so a zero
    * draw cannot reach ln(0). One O(langs) aggregation, zero extra
    * shuffles.
    */
  def q_dp_hist(s: SparkSession, d: String): DataFrame = {
    val perLang = documents(s, d)
      .filter(col("lang").isNotNull)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("draw", hashDraw(col("lang"), 8))
    val mag = greatest(
      lit(1.0) - lit(2.0) * abs(col("draw").cast("double") / 4294967296.0 - 0.5),
      lit(1.0 / 4294967296.0))
    val noise = (when(col("draw") >= 2147483648L, 1L).otherwise(-1L) *
      round(-log(mag) * 1e6)).cast("long")
    perLang
      .select(col("lang"), col("n"), noise.as("noise_fp"))
      .select(col("lang"), col("n"), col("noise_fp"),
        (col("n") * 1000000L + col("noise_fp")).as("noisy_n_fp"))
      .orderBy("lang")
  }

  /** Shard-mix quality audit — the check that runs AFTER
    * [[q_shuffle_shards]] and before training starts: each shard
    * should be an unbiased sample of the corpus, so any shard whose
    * language mix deviates from the global mix signals a broken
    * shuffle (a hash draw correlated with content, a skewed
    * partitioner) that would feed the trainer non-stationary batches.
    * Per shard: document count, distinct languages present, and the
    * max per-language absolute share deviation vs the corpus in
    * per-mille (`max_dev_mille`, round-half-up on the exact
    * cross-multiplication |n_sl·N − n_l·n_s|·1000 / (n_s·N) — zero
    * divisions until the final integer round; int64 to ~10⁸ docs ×
    * 1000 shards, decimal(38,0) beyond, the q_graph_modularity
    * escalation).
    *
    * Scale shape: ONE (shard, lang) aggregation (key cardinality
    * shards × langs), lang marginals re-aggregated from those partials
    * (never a second corpus pass), both small sides broadcast back.
    * The sharding itself re-derives the [[q_shuffle_shards]] draw as
    * a scan-side expression — composing over the declared output
    * would pay its presentation ORDER BY (the q_dedup_priority
    * lesson).
    */
  def q_shard_quality(s: SparkSession, d: String, shards: Int = 8): DataFrame = {
    val cell = documents(s, d)
      .filter(col("lang").isNotNull)
      .select(pmod(hashDraw(col("doc_id"), 8), lit(shards.toLong)).as("shard"),
        col("lang"))
      .groupBy("shard", "lang")
      .agg(count(lit(1)).as("n_sl"))
      .transform(graft.plans.Ckpt.maybe) // shards x langs rows; read 3x below
    val byShard = cell.groupBy("shard").agg(sum(col("n_sl")).as("n_s"),
      count(lit(1)).as("n_langs"))
    val byLang = cell.groupBy("lang").agg(sum(col("n_sl")).as("n_l"))
    val total = cell.agg(sum(col("n_sl")).as("n_total"))
    cell
      .join(broadcast(byLang), Seq("lang"))
      .join(broadcast(byShard), Seq("shard"))
      .crossJoin(broadcast(total))
      .select(col("shard"), col("n_s"), col("n_langs"),
        expr("(2 * 1000 * abs(n_sl * n_total - n_l * n_s) + n_s * n_total)" +
          " div (2 * n_s * n_total)").as("dev_mille"))
      .groupBy("shard", "n_s", "n_langs")
      .agg(max(col("dev_mille")).as("max_dev_mille"))
      .select(col("shard"), col("n_s").as("n_docs"), col("n_langs"),
        col("max_dev_mille"))
      .orderBy("shard")
  }

  /** Composed corpus-prep pipeline — the end-to-end shape a training
    * mix actually runs: quality gate → language allow-list → exact
    * near-order-insensitive dedup (min doc per normalized fingerprint)
    * → token accounting. Every stage is a deterministic column
    * expression; the only shuffle is the dedup group-by.
    */
  def q_pipeline_prep(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        TextOps.qualityScore(col("text")).as("quality"),
        size(split(col("text"), "\\s+", -1)).cast("long").as("n_tokens"),
        TextOps.normalizedFp(col("text")).as("fp"))
      .filter(col("quality") >= 0.45 && col("lang").isin("en", "fr", "de", "es"))
      .groupBy("fp")
      .agg(
        // min() everywhere: engine-deterministic even if metadata were
        // to differ inside a normalized-duplicate group
        min(col("doc_id")).as("doc_id"),
        min(col("lang")).as("lang"),
        min(col("quality")).as("quality"),
        min(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_dups"))
      .select("doc_id", "lang", "quality", "n_tokens", "n_dups")
      .orderBy("doc_id")
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data
    * Selection via Importance Resampling"): score every document by
    * the log-likelihood ratio of a hashed-unigram model of a TARGET
    * domain against the model of the RAW corpus, then gate on "more
    * target-like than the average document": a doc is selected when
    * its mean per-token LLR exceeds the corpus's mean per-token LLR,
    * compared by EXACT long cross-multiplication
    * (llr_fp·ΣN > Σllr·n_toks — no division, no rounding). The
    * paper's Gumbel top-k resampling needs a global order; this gate
    * keeps the core (importance weights from hashed n-gram LMs) with
    * only a one-row broadcast aggregate as global state — a
    * fixed-budget variant would TakeOrdered on (llr_fp, doc_id).
    * (An absolute ratio>1 gate is near-degenerate here: the shared
    * 31-word vocabulary plus add-one smoothing biases every token's
    * LLR slightly negative — 1 of 500 docs passed; relative-to-mean
    * splits the corpus meaningfully and is scale-free.)
    *
    * Target choice: the high-quality slice (qualityScore ≥ 0.45, the
    * q_pipeline_prep gate) — the classic DSIR deployment is "make raw
    * web data look like the curated slice". A lang-keyed target is
    * DEGENERATE on this corpus by construction: every language draws
    * from the identical 31-word vocabulary (measured — en/zh distinct
    * vocab overlap 31/31), so no unigram model can separate them;
    * the quality slice's stopword-heavy distribution genuinely
    * differs.
    *
    * Shape: the exploded token stream is read TWICE by design — once
    * into the bucket-stats aggregation, once into the scoring pass —
    * because materializing O(corpus tokens) rows to save a re-scan is
    * the worse trade (the q_dedup_minhash text-ride lesson). Pass 1
    * is a BOUNDED-KEY aggregation: `groupBy(bucket)` has ≤ 1024 keys
    * (both the target and raw counts in ONE pass via conditional
    * count), so map-side combine collapses every partition to
    * kilobytes — the CMS shape. The 1024-row model and the one-row
    * totals then broadcast into pass 2; per-doc sums are the only
    * other shuffle.
    *
    * Oracle parity: each token's log term is ONE `ln` ON AN EXACT
    * INTEGER RATIO — the smoothed probabilities are composed into a
    * single rational ((t+1)·(R+1024)) / ((r+1)·(T+1024)) with
    * integer-multiply-then-cast on both engines, so both compute one
    * correctly-rounded division and one libm ln on identical doubles
    * (the q_lm_score rule; a 1-ulp libm difference dies against the
    * 1e9 fixed-point quantum). Per-doc sums are exact longs.
    * Long-overflow headroom: (t+1)·(R+1024) needs t·R < 2^63 —
    * fine to ~3e9 corpus tokens; past that, pre-divide the ratio or
    * widen to DECIMAL.
    */
  /** The (doc_id, bucket) token stream of [[q_dsir]] — shared by the
    * model builder and the scoring pass.
    */
  private def dsirBucketed(df: DataFrame): DataFrame = df
    .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    .filter(length(col("w")) > 0)
    .select(col("doc_id"), (hashDraw(col("w"), 15) % 1024L).as("b"))

  /** The trained DSIR model: 1024 rows of (bucket, raw count, target
    * count), materialized once (its lineage is two corpus scans and
    * q_dsir references it twice — twice-referenced-state rule; the
    * row count is model-sized, so the checkpoint is kilobytes).
    * Persist with [[graft.sources.Sinks.writeModel]] and score
    * streams online via [[graft.streaming.StreamingOps
    * .streamingDsirScore]] — the train-once/score-often split, same
    * stance as the BPE merge table and the fp index.
    */
  def dsirModel(s: SparkSession, d: String): DataFrame =
    // memoized once per (app, dir): the model is 1024 rows but its
    // lineage is TWO corpus token scans (raw + quality-filtered) —
    // the train-once/score-often split made literal (r15 opt, the
    // SharedBpe/SharedDedup stance)
    graft.plans.SharedState.cachedDf(s, "dsir.model", d,
      Seq("documents.parquet")) {
      dsirBucketed(documents(s, d)).groupBy("b").agg(count(lit(1)).as("r"))
        .join(dsirBucketed(documents(s, d)
            .filter(TextOps.qualityScore(col("text")) >= 0.45))
          .groupBy("b").agg(count(lit(1)).as("t")), Seq("b"), "left")
        .na.fill(0L, Seq("t"))
    }

  def q_dsir(s: SparkSession, d: String): DataFrame = {
    // Token-bucket stream WITHOUT the target flag. Carrying
    // `qualityScore(text) >= 0.45 AS tgt` through the explode looks
    // per-doc but ISN'T: CollapseProject pulls the projection ABOVE
    // the Generate, so the score's three splits + regexp ran per
    // TOKEN (~50× the character work, measured 7.4-9.6s at sf0.1 —
    // the round-7 re-evaluated-through-a-generator class). The target
    // model instead aggregates a FILTERED scan: a per-doc predicate
    // below the Generate, evaluated once per document.
    val tok = dsirBucketed(documents(s, d))
    val bstats = dsirModel(s, d)
    val totals = bstats.agg(sum(col("r")).as("bigR"), sum(col("t")).as("bigT"))
    val scored = tok.join(broadcast(bstats), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        round(log(
          ((col("t") + 1) * (col("bigR") + 1024)).cast("double") /
          ((col("r") + 1) * (col("bigT") + 1024)).cast("double")) * 1e9)
          .cast("long").as("lfp"))
    // the per-doc score table is referenced twice (the corpus-mean
    // aggregate AND the output join) — materialize once or the whole
    // two-pass scoring pipeline executes twice (the twice-referenced
    // rule, hit at the gate: measured 7.8-9.6s → ~2s at sf0.1)
    val per = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(col("lfp")).as("llr_fp"))
      .transform(graft.plans.Ckpt.maybe)
    val corpus = per.agg(sum(col("llr_fp")).as("totL"),
      sum(col("n_toks")).as("totN"))
    documents(s, d).select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        col("llr_fp"),
        (col("llr_fp").cast("double") / 1e9).as("llr"),
        coalesce(col("llr_fp") * col("totN") > col("totL") * col("n_toks"),
          lit(false)).as("selected"))
      .orderBy("doc_id")
  }

  /** Length-bucketed batching report — the padding-efficiency
    * diagnostic behind length-grouped batching (bucket sequences by
    * power-of-two token length so a batch pads to its bucket cap, not
    * the corpus max): per bucket, document/token counts, the padded
    * token cost, and the waste fraction as a ×1e6 round-half-up
    * fixed-point BIGINT. Pipelines read this to pick bucket
    * boundaries before committing to a packing layout ([[q_pack_sequences]]
    * is the alternative that eliminates padding entirely — this
    * quantifies what padding would cost).
    *
    * Scale shape: a per-row codegen'd bucket expression (ceil-pow2 via
    * integer shifts — no floats) into one map-side-combined O(log
    * max_len)-key aggregation; shuffle volume is constant in corpus
    * size (the CMS-shape argument). All-integer output.
    */
  def q_length_buckets(s: SparkSession, d: String): DataFrame = {
    val n = size(split(col("text"), " ", -1)).cast("long")
    // smallest power of two ≥ n (n ≥ 1): 1L << (64 - clz(n-1)); Spark
    // has no clz builtin — shift-or smear then +1 is the classic
    // branchless form, expressible as nested bitwise exprs
    val m = lit(1L)
    def smear(c: Column): Column = {
      val s1 = c.bitwiseOR(shiftright(c, 1))
      val s2 = s1.bitwiseOR(shiftright(s1, 2))
      val s4 = s2.bitwiseOR(shiftright(s2, 4))
      val s8 = s4.bitwiseOR(shiftright(s4, 8))
      val s16 = s8.bitwiseOR(shiftright(s8, 16))
      s16.bitwiseOR(shiftright(s16, 32))
    }
    val bucket = when(n <= 1, m).otherwise(smear(n - 1) + 1)
    documents(s, d)
      .filter(col("text").isNotNull)
      .select(bucket.as("bucket"), n.as("n_toks"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        (col("bucket") * col("n_docs")).as("padded_tokens"),
        expr("""(2 * (bucket * n_docs - n_tokens) * 1000000
               | + bucket * n_docs) div (2 * bucket * n_docs)""".stripMargin)
          .as("waste_fp"))
      .orderBy("bucket")
  }

  /** Curriculum staging plan — the difficulty-ORDERED data layout a
    * curriculum-learning run trains through (Bengio et al. 2009;
    * quality-ordered variants are standard LLM practice: clean text
    * first, noisy tail last): rank every document by the ×1e10
    * quality fixed point (descending, doc_id tiebreak) and cut the
    * order into `stages` equal-position bands; the per-stage report
    * (docs, tokens, quality extrema and mean) is what a trainer reads
    * to set per-stage epochs and learning-rate schedules.
    *
    * Distinct from its neighbors by construction: [[q_mix_temp]]
    * reweights SOURCES, q_length_buckets costs PADDING,
    * q_shuffle_shards randomizes; this one ORDERS by difficulty —
    * the remaining axis of data layout.
    *
    * Exactness: the quality score quantizes ×1e10 at the expression
    * boundary (the q_quality_gate fixed point), the rank comes from
    * [[graft.plans.GlobalRank]] (no single-partition window), stage =
    * the q_rfm position formula (rn−1)·stages div n + 1, and the
    * stage mean is the round-half-up division of the exact ×1e10 sum
    * (int64 headroom to ~10⁸ docs; decimal(38,0) beyond — the
    * q_graph_modularity escalation).
    */
  def q_curriculum(s: SparkSession, d: String, stages: Int = 4): DataFrame = {
    val qf = round(TextOps.qualityScore(col("text")) * 1e10).cast("long")
    val per = documents(s, d)
      .filter(col("text").isNotNull && qf.isNotNull)
      .select(col("doc_id"), qf.as("qf"),
        size(array_remove(split(col("text"), " "), ""))
          .cast("long").as("t"))
    val ranked = graft.plans.GlobalRank.globalRowNumber(
      per, "rn", negate(col("qf")), col("doc_id"))
    ranked
      .crossJoin(broadcast(per.agg(count(lit(1)).as("n"))))
      .select(expr(s"(rn - 1) * $stages div n + 1").as("stage"),
        col("qf"), col("t"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        min(col("qf")).as("qf_min"), max(col("qf")).as("qf_max"),
        sum(col("qf")).as("qf_sum"))
      .select(col("stage"), col("n_docs"), col("n_tokens"),
        col("qf_min"), col("qf_max"),
        expr("(2 * qf_sum + n_docs) div (2 * n_docs)").as("mean_qf"))
      .orderBy("stage")
  }

  /** Per-shard reproducibility manifest — the artifact a pipeline
    * writes NEXT TO its training shards so any later run (or another
    * engine) can verify shard integrity without re-reading the corpus:
    * row count, token sum, null-document count, an ORDER-FREE content
    * checksum, and the content-fingerprint extrema.
    *
    * Shard assignment is [[q_shuffle_shards]]'s draw (`md5(doc_id)`
    * mod shards) so the manifest describes exactly the shards that
    * layout step writes. The checksum is `bit_xor` over each
    * document's 60-bit md5(text) fingerprint: XOR is commutative and
    * associative, so the aggregate is independent of row order AND of
    * partitioning — the property a distributed checksum needs (a
    * concat-then-hash checksum would impose a global sort; a long SUM
    * over 60-bit values overflows int64 at ~10 docs and diverges from
    * DuckDB's HUGEINT sum — the q_corpus_report round-8 lesson).
    *
    * Scale shape: one map-side-combined aggregation over O(shards)
    * keys — partials collapse each partition to `shards` rows before
    * the exchange, so shuffle volume is constant in corpus size. All
    * output columns are BIGINT (exact) except nothing: no floats
    * anywhere.
    */
  def q_shard_manifest(s: SparkSession, d: String, shards: Int = 8): DataFrame = {
    val fp = graft.functions.HashFunctions.md5WindowU(col("text"), 1, 15)
    documents(s, d)
      .select(
        pmod(hashDraw(col("doc_id"), 8), lit(shards.toLong)).as("shard"),
        // -1 keeps trailing empty tokens: split must agree with
        // DuckDB string_split on boundary whitespace
        when(col("text").isNotNull,
          size(split(col("text"), " ", -1)).cast("long")).as("n_toks"),
        fp.as("cfp"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("cfp")).as("n_content"), // docs with non-null text
        coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"),
        // bit_xor skips nulls on both engines; coalesce pins the
        // all-null-shard degenerate case to 0 rather than NULL
        coalesce(expr("bit_xor(cfp)"), lit(0L)).as("checksum_xor"),
        min(col("cfp")).as("fp_min"),
        max(col("cfp")).as("fp_max"))
      .orderBy("shard")
  }

  /** Z-order (Morton-curve) clustering report over
    * (l_partkey, l_suppkey) — the lakehouse data-LAYOUT primitive
    * (Delta `OPTIMIZE ZORDER BY`, Iceberg sort orders): interleaving
    * the bits of both keys makes rows close in EITHER dimension land
    * in the same bucket, so per-file min/max stats prune scans for
    * predicates on either column. A linear sort gives tight spans on
    * the leading key only; the report quantifies what z-ordering buys
    * — each bucket's 2-D span (p_span × s_span covers ~1/buckets of
    * the key plane instead of a full-range stripe on the second key).
    *
    * Both keys are first scaled to a fixed 16-bit domain by the
    * data-derived maxima (`(k · 65535) div max` — exact integer
    * arithmetic, so both engines compute identical codes at every
    * sf); z is the 32-bit bit-interleave (16 codegen'd shift/mask
    * terms per key, no UDF), bucket = the top `bucketBits` of z.
    *
    * Scale shape: the maxima are a one-row broadcast aggregate; the
    * z-value is a pure scan projection; the report is one
    * map-side-combined O(2^bucketBits)-key agg. The WRITE side of
    * the same primitive is [[graft.sources.Sinks.writeZOrdered]]
    * (range-repartition + sort on z, so file-level min/max are
    * tight); this key is its pruning-effectiveness readout.
    */
  def q_zorder(s: SparkSession, d: String, bucketBits: Int = 6): DataFrame = {
    val li = lineitem(s, d).select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
    val mx = li.agg(max(col("p")).as("pmax"), max(col("sk")).as("smax"))
    val scaled = li.crossJoin(broadcast(mx))
      .select(col("p"), col("sk"),
        expr("(p * 65535) div greatest(pmax, 1)").as("p16"),
        expr("(sk * 65535) div greatest(smax, 1)").as("s16"))
    scaled.select(col("p"), col("sk"), zInterleave(col("p16"), col("s16")).as("z"))
      .groupBy(shiftright(col("z"), 32 - bucketBits).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("p")).as("p_min"), max(col("p")).as("p_max"),
        min(col("sk")).as("s_min"), max(col("sk")).as("s_max"))
      .select(col("bucket"), col("n"),
        col("p_min"), col("p_max"), col("s_min"), col("s_max"),
        (col("p_max") - col("p_min") + 1).as("p_span"),
        (col("s_max") - col("s_min") + 1).as("s_span"))
      .orderBy("bucket")
  }

  /** k-anonymity audit (Sweeney 2002) over the quasi-identifier pair
    * (nation, market segment) — the release-side privacy gate a
    * training-data pipeline runs before publishing per-cohort corpora
    * or metadata: a record is k-anonymous iff at least k records share
    * its quasi-identifier tuple, so an adversary joining on public
    * attributes cannot narrow below k candidates. Complements
    * [[q_dp_hist]] (noise the counts) and
    * [[graft.queries.TextOps.q_pii]] (scrub the payload) with the
    * third standard control: audit the cohort sizes themselves.
    *
    * Output: one row per equivalence class — size `n`, the `violates_k`
    * flag, and `risk_fp` = round-half-up(10⁶/n), the per-record
    * re-identification risk (prosecutor model: 1/class-size) as an
    * exact fixed-point BIGINT (the `(2a·S + d) div (2d)` form on
    * positive operands — no floats anywhere).
    *
    * Scale shape: ONE map-side-combined aggregation whose key
    * cardinality is the quasi-identifier domain (nations × segments —
    * bounded by design: that is WHAT k-anonymity measures), so the
    * exchange is O(classes) regardless of corpus size; the report
    * ORDER BY is on the unique class tuple. Measured non-degenerate at
    * sf0.01 (35/125 classes violate k=10, sizes 5–21).
    */
  def q_kanon(s: SparkSession, d: String, k: Int = 10): DataFrame =
    customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        (col("n") < k).as("violates_k"),
        expr("(2 * 1000000 + n) div (2 * n)").as("risk_fp"))
      .orderBy("c_nationkey", "c_mktsegment")

  /** l-diversity audit (Machanavajjhala et al. 2007) — the follow-up
    * check [[q_kanon]] needs: a class can be k-anonymous yet leak its
    * SENSITIVE attribute if all k members share one value (homogeneity
    * attack). Per quasi-identifier class, the count of distinct
    * sensitive values (account-balance band of 1000 currency units)
    * and the `violates_l` flag.
    *
    * Parity shape: money → DECIMAL(18,2) → exact integer cents (the
    * money rule); the band is FLOOR division of possibly-negative
    * cents — and BOTH engines' integer division truncates toward zero
    * (Spark `div`, and DuckDB's integer `//`: −7 // 2 = −3, measured —
    * only DuckDB's FLOAT `//` floors), so each side spells floor
    * explicitly: Spark subtracts `pmod` first (`(cents − pmod(cents,
    * m)) div m`), the oracle sign-separates (−ceil(|x|/m) when
    * negative).
    *
    * Scale shape: two-level aggregation — (class, band) partials
    * (map-side combined, key space = classes × bands, both bounded
    * domains) re-aggregated to O(classes); no second corpus pass, no
    * countDistinct over raw rows. Measured non-degenerate at sf0.01
    * (15/125 classes violate l=6; band diversity spans 4–10).
    */
  def q_ldiversity(s: SparkSession, d: String, l: Int = 6): DataFrame =
    customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(cents - pmod(cents, 100000)) div 100000").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("n_sv"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(sum(col("n_sv")).as("n"),
        count(lit(1)).as("distinct_sensitive"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        col("distinct_sensitive"),
        (col("distinct_sensitive") < l).as("violates_l"))
      .orderBy("c_nationkey", "c_mktsegment")

  /** Exact-k weighted sampling WITHOUT replacement via exponential
    * keys (Efraimidis & Spirakis 2006, A-Res) — the member of the
    * sampling family the others don't cover: [[q_sample_weighted]] is
    * Bernoulli (random TOTAL size), [[q_sample_reservoir]] /
    * [[q_sample_stratified]] are exactly-k but UNWEIGHTED, this is
    * exactly-k with inclusion probability proportional to weight
    * (document length here — the length-balanced pick a token-budgeted
    * corpus build wants). Each doc draws key u^(1/w); the k largest
    * keys ARE a weight-proportional sample without replacement —
    * equivalently the k SMALLEST of −ln(u)/w (one exponential draw at
    * rate w each; the winner distribution is the softmax over
    * weights), which is the integer form used here.
    *
    * Parity shape: u is the md5 hash draw (deterministic, the
    * [[q_sample_hash]] stance — reruns and both engines select the
    * identical k docs); −ln(u) is the ×10⁹-quantized precedent with
    * the 2⁻³² floor; the per-doc key is the positive-operand
    * round-half-up fixed point (2·lnu·10⁶ + w) div (2w). Headroom:
    * lnu_fp ≤ 22.2·10⁹, ×2·10⁶ ≈ 4.4·10¹⁶ < 2⁶³.
    *
    * Scale shape: a pure per-row scan expression followed by
    * `orderBy(key).limit(k)`, which plans TakeOrderedAndProject —
    * every partition forwards at most k rows, no global sort of the
    * corpus ever materializes (the q_topk rule). Weight spread
    * measured non-degenerate: n_chars spans 48–553 (313 distinct) at
    * sf0.01, so the weighting decision is real, not a uniform draw
    * in disguise.
    */
  /** The ×1e9-quantized −ln(draw) of the md5 hash draw — one source
    * of truth for [[q_sample_es]] and the streaming reservoir's spec
    * ([[graft.streaming.StatefulOps.streamingWeightedSample]] claims
    * BIT-parity with the batch selection, so the key spelling must
    * be shared, not copied). */
  def esLnuFp(id: Column): Column =
    round(-log(greatest(hashDraw(id, 8).cast("double") / 4294967296.0,
      lit(1.0 / 4294967296.0))) * 1e9).cast("long")

  /** The round-half-up ES key over the named columns `lnu_fp` /
    * `n_chars` — shared with the streaming-reservoir spec. */
  val esKeyExpr: String = "(2 * lnu_fp * 1000000 + n_chars) div (2 * n_chars)"

  def q_sample_es(s: SparkSession, d: String, k: Int = 50): DataFrame =
    documents(s, d)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        esLnuFp(col("doc_id")).as("lnu_fp"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        expr(esKeyExpr).as("key_fp"))
      .orderBy(col("key_fp"), col("doc_id"))
      .limit(k)

  /** Differentially-private median release via the EXPONENTIAL
    * mechanism (McSherry & Talwar 2007) — the second standard DP
    * mechanism after [[q_dp_hist]]'s Laplace: for a non-numeric-noise
    * release (pick ONE value from a candidate set), each candidate
    * balance band scores exp(ε·u/2) where the utility u(b) =
    * −|rank(b) − n/2| is its rank distance from the true median
    * (sensitivity 1: one record moves any rank by one). Selection uses
    * the Gumbel-max trick — argmax(ε·u/2 + Gumbel(0,1)) samples the
    * exponential mechanism EXACTLY, and turns the release into one
    * integer argmax instead of a normalized-weight inverse-CDF walk.
    *
    * NOISE SOURCE, honestly stated (the [[q_dp_hist]] contract): the
    * Gumbel draw is −ln(−ln(u)) of the md5 hash draw of the band —
    * DETERMINISTIC, so the oracle verifies the mechanism (utilities,
    * Gumbel transform, scoring, argmax) rather than the sampling; a
    * real release swaps the draw for a CSPRNG. Parity: u is an exact
    * power-of-two division of the integer draw; the INNER ln is
    * quantized to the ×10⁹ grid before the OUTER ln sees it (a 1-ulp
    * inner divergence would otherwise amplify through the
    * composition), the outer to ×10⁶; both lands are the measured
    * cross-engine-stable grids. For ε = 1, ε·u/2 ×10⁶ = u2 · 250000
    * exactly, where u2 = −|2·cum − n| is the integer TWICE-utility.
    * Ties (never observed — Gumbel draws are distinct) break to the
    * smaller band via the max_by struct order.
    *
    * Scale shape: ONE map-side-combined O(bands) aggregation of the
    * corpus; the cumulative-rank window runs on the O(bands)
    * value-count spine (the q_outliers precedent — allowlisted
    * bounded spine, 11 rows here); the released flag attaches via a
    * broadcast one-row max. Output = the full per-band score table
    * (the mechanism's verifiable content), released row flagged.
    */
  def q_dp_quantile(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cell = customer(s, d)
      .select((col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .select(expr("(cents - pmod(cents, 100000)) div 100000").as("bal_band"))
      .groupBy("bal_band").agg(count(lit(1)).as("n_b"))
      .transform(graft.plans.Ckpt.maybe) // O(bands); read twice (spine + total)
    val tot = cell.agg(sum(col("n_b")).as("n"))
    val w = Window.orderBy("bal_band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = hashDraw(col("bal_band"), 8)
    val innerFp = greatest(lit(1L), // floor: a draw of ~1.0 still yields a finite outer ln
      round(-log(greatest(u.cast("double") / 4294967296.0, lit(1.0 / 4294967296.0))) * 1e9)
        .cast("long"))
    val scored = cell
      .withColumn("cum", sum(col("n_b")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("bal_band"), col("n_b"),
        (-abs(lit(2L) * col("cum") - col("n"))).as("u2"),
        innerFp.as("y_fp"))
      .withColumn("gumbel_fp",
        (-round(log(col("y_fp").cast("double") / 1e9) * 1e6)).cast("long"))
      .withColumn("score_fp", col("u2") * 250000L + col("gumbel_fp"))
      // O(bands) score table read twice (argmax + release join) — the
      // twice-referenced-state rule; also keeps the spine window
      // planned once
      .transform(graft.plans.Ckpt.maybe)
    val top = scored.agg(max(struct(col("score_fp"),
      (-col("bal_band")).as("nb"))).as("m")).select(col("m.score_fp").as("best"),
      (-col("m.nb")).as("best_band"))
    scored.crossJoin(broadcast(top))
      .select(col("bal_band"), col("n_b"), col("u2"), col("gumbel_fp"),
        col("score_fp"),
        (col("bal_band") === col("best_band")).as("released"))
      .orderBy("bal_band")
  }

  /** DP top-k release (Durfee & Rogers 2019: one-shot top-k via the
    * exponential mechanism ≡ independent Gumbel noise per candidate,
    * then take the k best) — the fourth privacy release after
    * [[q_dp_hist]]/[[q_dp_quantile]]: which (lang, source) cells are
    * SAFE TO PUBLISH as "largest slices" without the selection itself
    * leaking a neighboring record. Utility = cell count (sensitivity
    * 1), ε cleared into the ×1e6 integer coefficient (2·10⁶ ⇒ ε = 4 —
    * chosen so utility spans 2–32·10⁶ against Gumbel noise in
    * [−3, +21]·10⁶: borderline cells genuinely flip while the clear
    * leaders survive, the regime worth auditing; the spec pins both).
    *
    * Honesty contract (the q_dp_hist/q_dp_quantile stance): the
    * Gumbel draw is the deterministic md5 hash of the cell key so
    * both engines replay it — a real release swaps [[hashDraw]] for a
    * CSPRNG and nothing else changes. The inner −ln(u) quantizes ×1e9
    * BEFORE the outer ln (the ln∘ln composition would amplify a 1-ulp
    * divergence).
    *
    * Scale shape: ONE map-side-combined O(cells) aggregation; the
    * k-th score threshold comes from a TakeOrdered limit(k) + one-row
    * min (no unpartitioned window over the cell spine); released =
    * score ≥ threshold, a broadcast compare. Ties on the threshold
    * release all tied cells identically in both engines
    * (deterministic draws ⇒ identical ties).
    */
  def q_dp_topk(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val cell = documents(s, d)
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val u = hashDraw(concat(col("lang"), lit(":"), col("source")), 8)
    val yFp = greatest(lit(1L),
      round(-log(greatest(u.cast("double") / 4294967296.0,
        lit(1.0 / 4294967296.0))) * 1e9).cast("long"))
    val scored = cell
      .select(col("lang"), col("source"), col("n"), yFp.as("y_fp"))
      .withColumn("gumbel_fp",
        (-round(log(col("y_fp").cast("double") / 1e9) * 1e6)).cast("long"))
      .withColumn("score_fp", col("n") * 2000000L + col("gumbel_fp"))
      // O(cells) score table read twice: threshold cut + release join
      .transform(graft.plans.Ckpt.maybe)
    val thr = scored
      .orderBy(col("score_fp").desc, col("lang"), col("source")).limit(k)
      .agg(min(col("score_fp")).as("thr_fp"))
    scored.crossJoin(broadcast(thr))
      .select(col("lang"), col("source"), col("n"), col("gumbel_fp"),
        col("score_fp"), (col("score_fp") >= col("thr_fp")).as("released"))
      .orderBy("lang", "source")
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    * member of the privacy triple after [[q_kanon]] and
    * [[q_ldiversity]]: a class can be l-diverse yet still leak if its
    * sensitive-value DISTRIBUTION is skewed vs the corpus (skewness
    * attack — "this cohort is mostly in the bottom balance band" is a
    * disclosure even when all bands appear). Per class: the Earth
    * Mover's Distance between the class's balance-band distribution
    * and the global one, using the ordered-domain closed form
    * EMD = Σ|cum_p − cum_q| / (B−1), and a `violates_t` flag at
    * t = 0.2.
    *
    * Parity shape: all-integer cross-multiplication — the per-band
    * cumulative counts `cn` (class) and `cg` (global) are exact longs,
    * each band contributes |cn·N − cg·n|, and the final t is the
    * round-half-up ×10⁶ fixed point over denominator n·N·(B−1), so no
    * float ever forms on either engine. At sf0.1 the largest
    * numerator term is ~2·10¹³ — int64 holds to ~10⁹-row corpora;
    * beyond that the q_graph_modularity decimal(38,0) escalation
    * applies. B ≤ 1 (a single global band) makes every class
    * trivially t-close: the denominator floor `greatest(B−1, 1)` keeps
    * the division defined and the diff is zero by construction.
    *
    * Scale shape: ONE (class, band) map-side-combined aggregation of
    * the corpus; everything downstream re-aggregates those partials
    * (the q_shard_quality rule — never a second corpus pass): class
    * marginals, band marginals, the one-row (N, B) total. The dense
    * class×band spine is a broadcast crossJoin of the O(bands) dim
    * onto the O(classes) table; the cumulative window partitions by
    * class over a ≤B-row spine (bounded, partitioned — PlanAudit
    * clean). Measured: t spans 0.029–0.325 across sf0.01's 125
    * classes (5 violate t=0.2; the flag saturates at the sf extremes
    * but the per-class t_fp readout varies at every sf).
    */
  def q_tcloseness(s: SparkSession, d: String, tMille: Int = 200): DataFrame = {
    val cell = customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(cents - pmod(cents, 100000)) div 100000").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("nb"))
      .transform(graft.plans.Ckpt.maybe) // classes x bands; read 4x below
    val cls = cell.groupBy("c_nationkey", "c_mktsegment")
      .agg(sum(col("nb")).as("n"))
    val gb = cell.groupBy("bal_band").agg(sum(col("nb")).as("g"))
    val tot = cell.agg(sum(col("nb")).as("big_n"),
      countDistinct(col("bal_band")).as("n_bands"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey", "c_mktsegment").orderBy("bal_band")
    cls.crossJoin(broadcast(gb))
      .join(cell, Seq("c_nationkey", "c_mktsegment", "bal_band"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        col("bal_band"), col("g"), coalesce(col("nb"), lit(0L)).as("nb"))
      .withColumn("cn", sum(col("nb")).over(w))
      .withColumn("cg", sum(col("g")).over(w))
      .crossJoin(broadcast(tot))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(max(col("n")).as("n"),
        sum(abs(col("cn") * col("big_n") - col("cg") * col("n"))).as("diff"),
        max(col("big_n")).as("big_n"), max(col("n_bands")).as("n_bands"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        expr("(2 * 1000000 * diff + n * big_n * greatest(n_bands - 1, 1)) div " +
          "(2 * n * big_n * greatest(n_bands - 1, 1))").as("t_fp"))
      .withColumn("violates_t", col("t_fp") > tMille * 1000L)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** 32-bit Morton interleave of two 16-bit codes (`a` takes the odd
    * bits, `b` the even) — 32 shift/mask terms, fully codegen'd.
    */
  private[graft] def zInterleave(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  val keys: Seq[Key] = Seq(
    // Leakage audit: q_dedup_minhash's confirmed pairs joined to the
    // q_split assignment on both members; leaks = boundary-straddling
    Key("q_split_leakage", q_split_leakage _, {
      val key = "coalesce(md5(array_to_string(list_sort(string_split(text, ' ')), ' ')), " +
        "'null:' || CAST(doc_id AS VARCHAR))"
      val draw = duckHexValue(s"md5($key)", 1, 4)
      s"""WITH sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3
        |    THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |    ELSE [text] END AS shingles
        |  FROM (SELECT doc_id, text, string_split(text,' ') AS w FROM documents)),
        |sig AS (
        |  SELECT doc_id,
        |SIG_COLUMNS
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, concat_ws(':', h1, h2, h3, h4) AS band FROM sig
        |  UNION ALL SELECT doc_id, concat_ws(':', h5, h6, h7, h8) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |dsh AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh
        |        WHERE NOT (len(shingles) = 1 AND shingles[1] IS NULL)),
        |mh AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / len(list_distinct(x.sset || y.sset)), 10) AS jaccard
        |  FROM cand JOIN dsh x ON x.doc_id = doc_a JOIN dsh y ON y.doc_id = doc_b),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN $draw % 1000 < 800 THEN 'train'
        |         WHEN $draw % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT doc_a, doc_b, jaccard, sa.split AS split_a, sb.split AS split_b,
        |  sa.split <> sb.split AS leaks
        |FROM mh JOIN sp sa ON sa.doc_id = doc_a JOIN sp sb ON sb.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin
        .replace("SIG_COLUMNS",
          (1 to 8).map(i => s"    ${duckMinhash(i)} AS h$i").mkString(",\n"))
    }),
    // Group-aware split: union of the two near-dup pair families
    // (MinHash exact-jaccard >= 0.5 on the ROUNDED value + SimHash
    // hamming <= 1), recursive min-label components (the
    // q_dup_clusters oracle's CC form), draw on 'grp:' || group_id.
    // CTE namespaces don't collide: minhash uses sh/sig/bands/cand/
    // dsh/mh, simhash w/h/v/s.
    Key("q_split_group", q_split_group _, {
      val draw = duckHexValue("md5('grp:' || CAST(group_id AS VARCHAR))", 1, 4)
      s"""WITH RECURSIVE sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3
        |    THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |    ELSE [text] END AS shingles
        |  FROM (SELECT doc_id, text, string_split(text,' ') AS w FROM documents)),
        |sig AS (
        |  SELECT doc_id,
        |SIG_COLUMNS
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, concat_ws(':', h1, h2, h3, h4) AS band FROM sig
        |  UNION ALL SELECT doc_id, concat_ws(':', h5, h6, h7, h8) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |dsh AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh
        |        WHERE NOT (len(shingles) = 1 AND shingles[1] IS NULL)),
        |mh AS (
        |  SELECT doc_a, doc_b
        |  FROM cand JOIN dsh x ON x.doc_id = doc_a JOIN dsh y ON y.doc_id = doc_b
        |  WHERE round(CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE)
        |          / len(list_distinct(x.sset || y.sset)), 10) >= 0.5),
        |$duckSimhashCtes,
        |p AS (SELECT doc_a, doc_b FROM mh
        |  UNION
        |  SELECT a.doc_id, b.doc_id FROM s a, s b
        |  WHERE a.doc_id < b.doc_id
        |    AND bit_count(xor(a.simhash, b.simhash)) <= 1),
        |e AS (SELECT doc_a AS u, doc_b AS vtx FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p),
        |lab(node, label) AS (
        |  SELECT u, least(u, min(vtx)) FROM e GROUP BY u
        |  UNION
        |  SELECT e.u, l.label FROM e JOIN lab l ON e.vtx = l.node),
        |lbl AS (SELECT node, min(label) AS label FROM lab GROUP BY node),
        |base AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS group_id
        |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node)
        |SELECT doc_id, group_id, $draw % 1000 AS bucket,
        |  CASE WHEN $draw % 1000 < 800 THEN 'train'
        |       WHEN $draw % 1000 < 900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM base ORDER BY doc_id""".stripMargin
        .replace("SIG_COLUMNS",
          (1 to 8).map(i => s"    ${duckMinhash(i)} AS h$i").mkString(",\n"))
    }),
    // Deterministic hash draw shared by the sampling oracles: integer
    // value of the first N hex chars of md5(doc_id), via per-nibble
    // strpos arithmetic (DuckDB has no base-16 conv()).
    Key("q_sample_weighted", q_sample_weighted _, {
      val draw4 = duckHashDraw(4)
      s"""WITH q AS (
         |  SELECT doc_id, lang, $draw4 % 1000 AS bucket,
         |    CAST(floor(100.0 + 900.0 * $duckQualityScore) AS BIGINT) AS keep_rate
         |  FROM documents)
         |SELECT doc_id, lang, bucket, keep_rate
         |FROM q WHERE bucket < keep_rate ORDER BY doc_id""".stripMargin
    }),
    // sliding-window chunking: DuckDB 1-based inclusive list slicing
    // w[a:b] == Spark slice(w, a, b-a+1); chunk count mirrors the
    // Spark floor form token for token; NULL text yields no rows on
    // both engines (range(NULL) / sequence(NULL))
    Key("q_chunk", q_chunk _,
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, w,
        |    unnest(range(0, CASE WHEN n <= 32 THEN 1
        |      ELSE CAST(floor((n - 32 + 23) / 24.0) AS BIGINT) + 1 END)) AS chunk_idx
        |  FROM d)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(w[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ') AS chunk_text,
        |  least(32, n - chunk_idx*24) AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    // uniform language rebalancing: integer counts, one exact floor
    // division for the rate, the shared md5 draw — fully deterministic
    Key("q_sample_balance", q_sample_balance _, {
      val draw4 = duckHashDraw(4)
      s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
         |t AS (SELECT min(n_lang) AS target_n FROM c),
         |r AS (SELECT lang, CAST(floor(target_n * 1000.0 / n_lang) AS BIGINT) AS keep_rate
         |      FROM c, t),
         |d AS (SELECT doc_id, lang, $draw4 % 1000 AS bucket FROM documents)
         |SELECT doc_id, lang, bucket, keep_rate
         |FROM d JOIN r USING (lang)
         |WHERE bucket < keep_rate ORDER BY doc_id""".stripMargin
    }),
    // exactly-k-per-stratum: smallest md5 draws per language, doc_id
    // tie-break — the custom heap operator vs the rank-filter oracle
    Key("q_sample_stratified", (s, d) => q_sample_stratified(s, d), {
      val draw6 = duckHashDraw(6)
      s"""WITH d AS (SELECT doc_id, lang, $draw6 AS draw FROM documents),
         |r AS (SELECT doc_id, lang, draw,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY draw, doc_id) AS BIGINT) AS rank
         |      FROM d)
         |SELECT doc_id, lang, draw, rank FROM r
         |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin
    }),
    Key("q_sample_hash", q_sample_hash _, {
      val draw4 = duckHashDraw(4)
      s"""SELECT doc_id, lang, source, $draw4 % 1000 AS bucket
         |FROM documents
         |WHERE $draw4 % 1000 <
         |  (CASE lang WHEN 'en' THEN 200 WHEN 'zh' THEN 400 ELSE 600 END)
         |ORDER BY doc_id""".stripMargin
    }),
    Key("q_sample_reservoir", (s, d) => q_sample_reservoir(s, d), {
      val draw6 = duckHashDraw(6)
      s"""WITH d AS (SELECT lang, doc_id, $draw6 AS draw FROM documents),
         |r AS (SELECT lang, doc_id, draw,
         |  row_number() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rank
         |  FROM d WHERE draw IS NOT NULL)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, CAST(draw AS BIGINT) AS draw
         |FROM r WHERE rank <= 20 ORDER BY lang, rank""".stripMargin
    }),
    Key("q_pack_sequences", (s, d) => q_pack_sequences(s, d),
      """WITH toks AS (SELECT doc_id, doc_id % 8 AS shard,
        |    len(regexp_split_to_array(text, '\s+')) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM toks)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(cum - n_tokens AS BIGINT) AS shard_offset,
        |  (shard << 40) + CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id
        |FROM c ORDER BY doc_id""".stripMargin),
    Key("q_pipeline_prep", q_pipeline_prep _,
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    $duckQualityScore AS quality,
         |    len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
         |    md5(array_to_string(list_sort(string_split(text,' ')), ' ')) AS fp
         |  FROM documents),
        |kept AS (SELECT * FROM scored
        |  WHERE quality >= 0.45 AND lang IN ('en','fr','de','es'))
        |SELECT min(doc_id) AS doc_id, min(lang) AS lang, min(quality) AS quality,
        |  CAST(min(n_tokens) AS BIGINT) AS n_tokens, count(*) AS n_dups
        |FROM kept GROUP BY fp ORDER BY doc_id""".stripMargin),
    // per-language discrete lower median over exact fixed-point scores
    // (integer cumulative window over value counts — no interpolated
    // percentile, whose two-value midpoint can sit exactly on a float
    // rounding boundary); the gate compares longs
    Key("q_quality_gate", q_quality_gate _,
      s"""WITH sc AS (SELECT doc_id, lang,
         |    CAST(round($duckQualityScore * 1e10) AS BIGINT) AS qf FROM documents),
         |v AS (SELECT lang, qf, count(*) AS c FROM sc
         |      WHERE qf IS NOT NULL GROUP BY 1, 2),
         |cw AS (SELECT lang, qf,
         |         sum(c) OVER (PARTITION BY lang ORDER BY qf) AS cum,
         |         sum(c) OVER (PARTITION BY lang) AS nl FROM v),
         |t AS (SELECT lang, min(qf) AS thr_fp FROM cw
         |      WHERE cum >= CAST(ceil(nl / 2.0) AS BIGINT) GROUP BY 1)
         |SELECT doc_id, lang, CAST(qf AS DOUBLE) / 1e10 AS quality,
         |  CAST(thr_fp AS DOUBLE) / 1e10 AS lang_median
         |FROM sc JOIN t USING (lang)
         |WHERE qf >= thr_fp ORDER BY doc_id""".stripMargin),
    // dedup-safe split: the draw hashes the normalized-content
    // fingerprint (null docs: a namespaced doc id), same md5-nibble
    // bridge as the sampling oracles
    Key("q_split", q_split _, {
      val key = "coalesce(md5(array_to_string(list_sort(string_split(text, ' ')), ' ')), " +
        "'null:' || CAST(doc_id AS VARCHAR))"
      val draw = duckHexValue(s"md5($key)", 1, 4)
      s"""SELECT doc_id, lang, $draw % 1000 AS bucket,
         |  CASE WHEN $draw % 1000 < 800 THEN 'train'
         |       WHEN $draw % 1000 < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // token-budget mixing: integer token counts, ONE float division
    // sequence for the rate written token for token as the query
    // (identical IEEE ops on exact operands), the shared md5 draw;
    // left join keeps zero-admission sources in the report
    Key("q_mix_budget", (s, d) => q_mix_budget(s, d), {
      val draw4 = duckHashDraw(4)
      s"""WITH ps AS (SELECT source, count(*) AS src_docs,
         |      CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS src_tokens
         |    FROM documents GROUP BY 1),
         |tt AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
         |         count(*) AS n_sources FROM ps),
         |r AS (SELECT source, src_docs, src_tokens,
         |        least(1000, CAST(floor(total_tokens * 500.0 / (n_sources * src_tokens))
         |          AS BIGINT)) AS rate_mille
         |      FROM ps, tt),
         |k AS (SELECT d.source, count(*) AS kept_docs,
         |        CAST(sum(len(regexp_split_to_array(d.text, '\\s+'))) AS BIGINT) AS kept_tokens
         |      FROM documents d JOIN r USING (source)
         |      WHERE $draw4 % 1000 < rate_mille GROUP BY 1)
         |SELECT source, src_docs, src_tokens, rate_mille,
         |  coalesce(kept_docs, 0) AS kept_docs,
         |  coalesce(kept_tokens, 0) AS kept_tokens
         |FROM r LEFT JOIN k USING (source) ORDER BY source""".stripMargin
    }),
    // temperature mixing: sqrt weight (α=0.5 — IEEE-correctly-rounded
    // in both engines, unlike pow), floor fixed-pointing (round
    // diverges: Spark half-up, DuckDB half-even), exact long
    // normalizing sum, rate = one double op sequence mirrored token
    // for token
    Key("q_mix_temp", (s, d) => q_mix_temp(s, d), {
      val draw4 = duckHashDraw(4)
      s"""WITH ps AS (SELECT source, count(*) AS src_docs,
         |      CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS src_tokens
         |    FROM documents GROUP BY 1),
         |w AS (SELECT source, src_docs, src_tokens,
         |        CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)) * 1e6) AS BIGINT)
         |          AS weight_fp FROM ps),
         |tt AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
         |         CAST(sum(weight_fp) AS BIGINT) AS w_sum FROM w),
         |r AS (SELECT source, src_docs, src_tokens, weight_fp,
         |        least(1000, CAST(floor(CAST(total_tokens AS DOUBLE) * 500.0 * weight_fp /
         |          (CAST(w_sum AS DOUBLE) * src_tokens)) AS BIGINT)) AS rate_mille
         |      FROM w, tt),
         |k AS (SELECT d.source, count(*) AS kept_docs,
         |        CAST(sum(len(regexp_split_to_array(d.text, '\\s+'))) AS BIGINT) AS kept_tokens
         |      FROM documents d JOIN r USING (source)
         |      WHERE $draw4 % 1000 < rate_mille GROUP BY 1)
         |SELECT source, src_docs, src_tokens, weight_fp, rate_mille,
         |  coalesce(kept_docs, 0) AS kept_docs,
         |  coalesce(kept_tokens, 0) AS kept_tokens
         |FROM r LEFT JOIN k USING (source) ORDER BY source""".stripMargin
    }),
    // epoch allocation: q_mix_temp's sqrt weights over LANGUAGES, 4x
    // token budget, integer allocation and round-half-up epochs; the
    // >4-epoch cap mirrors as a pure integer comparison
    Key("q_mix_epoch", (s, d) => q_mix_epoch(s, d),
      s"""WITH ps AS (SELECT lang, count(*) AS n_docs,
         |      CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS lang_tokens
         |    FROM documents GROUP BY 1),
         |w AS (SELECT lang, n_docs, lang_tokens,
         |        CAST(floor(sqrt(CAST(lang_tokens AS DOUBLE)) * 1e6) AS BIGINT)
         |          AS weight_fp FROM ps),
         |tt AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
         |         CAST(sum(weight_fp) AS BIGINT) AS w_sum FROM w),
         |a AS (SELECT lang, n_docs, lang_tokens, weight_fp,
         |        CAST((4 * total_tokens * weight_fp) // w_sum AS BIGINT)
         |          AS alloc_tokens
         |      FROM w, tt)
         |SELECT lang, n_docs, lang_tokens, weight_fp, alloc_tokens,
         |  (2 * alloc_tokens * 1000000 + lang_tokens) // (2 * lang_tokens)
         |    AS epochs_fp,
         |  (2 * alloc_tokens * 1000000 + lang_tokens) // (2 * lang_tokens)
         |    > 4000000 AS over_cap,
         |  least(alloc_tokens, lang_tokens * 4) AS effective_tokens
         |FROM a ORDER BY lang""".stripMargin),
    // deterministic shard shuffle: the 8-hex-char draw is the
    // pseudo-random order key; seq = per-shard row_number (ties
    // impossible: doc_id breaks them)
    Key("q_shuffle_shards", (s, d) => q_shuffle_shards(s, d), {
      val draw8 = duckHashDraw(8)
      s"""WITH d AS (SELECT doc_id, $draw8 AS rkey FROM documents)
         |SELECT doc_id, rkey % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY rkey % 8 ORDER BY rkey, doc_id)
         |    AS BIGINT) AS seq,
         |  rkey
         |FROM d ORDER BY doc_id""".stripMargin
    }),
    // DP Laplace release: integer nibble draw over md5(lang), sign
    // from the raw draw, x1e6-quantized ln, 2^-32 floor on mag
    Key("q_dp_hist", (s, d) => q_dp_hist(s, d), {
      val draw = duckHexValue("md5(lang)", 1, 8)
      s"""WITH pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         |    FROM documents WHERE lang IS NOT NULL GROUP BY 1),
         |dr AS (SELECT lang, n, $draw AS draw FROM pl),
         |nz AS (SELECT lang, n,
         |    CAST(CASE WHEN draw >= 2147483648 THEN 1 ELSE -1 END AS BIGINT) AS sgn,
         |    greatest(1.0 - 2.0 * abs(draw / 4294967296.0 - 0.5),
         |             1.0 / 4294967296.0) AS mag
         |  FROM dr)
         |SELECT lang, n,
         |  sgn * CAST(round(-ln(mag) * 1000000.0) AS BIGINT) AS noise_fp,
         |  n * 1000000 + sgn * CAST(round(-ln(mag) * 1000000.0) AS BIGINT)
         |    AS noisy_n_fp
         |FROM nz ORDER BY lang""".stripMargin
    }),
    // k-anonymity audit: one group-size agg over the quasi-identifier
    // pair; risk_fp is the positive-operand round-half-up fixed point
    // (// == div on positives)
    Key("q_kanon", (s, d) => q_kanon(s, d),
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  count(*) < 10 AS violates_k,
        |  (2 * 1000000 + CAST(count(*) AS BIGINT))
        |    // (2 * CAST(count(*) AS BIGINT)) AS risk_fp
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    // l-diversity: DECIMAL cents (money rule), FLOOR-division band.
    // DuckDB's integer // truncates toward zero just like Spark div
    // (-7 // 2 = -3, measured — only its FLOAT // floors), so floor is
    // spelled sign-separated as -ceil(|x|/d) on the negative side;
    // the Spark side subtracts pmod first. Two-level agg.
    Key("q_ldiversity", (s, d) => q_ldiversity(s, d),
      """WITH sv AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CASE WHEN cents >= 0 THEN cents // 100000
        |         ELSE -((-cents + 99999) // 100000) END AS bal_band
        |  FROM (SELECT c_nationkey, c_mktsegment,
        |          CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |        FROM customer)),
        |cell AS (SELECT c_nationkey, c_mktsegment, bal_band,
        |    CAST(count(*) AS BIGINT) AS n_sv
        |  FROM sv GROUP BY 1, 2, 3)
        |SELECT c_nationkey, c_mktsegment, CAST(sum(n_sv) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS distinct_sensitive,
        |  CAST(count(*) AS BIGINT) < 6 AS violates_l
        |FROM cell GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    // Efraimidis-Spirakis exact-k weighted sampling: deterministic
    // doc_id draw, x1e9-quantized -ln(u), round-half-up key over the
    // length weight, total-order cut
    Key("q_sample_es", (s, d) => q_sample_es(s, d), {
      val draw8 = duckHashDraw(8)
      s"""WITH dr AS (SELECT doc_id, lang, n_chars, $draw8 AS draw
         |    FROM documents WHERE n_chars > 0),
         |ln0 AS (SELECT doc_id, lang, n_chars,
         |    CAST(round(-ln(greatest(draw / 4294967296.0,
         |      1.0 / 4294967296.0)) * 1000000000.0) AS BIGINT) AS lnu_fp
         |  FROM dr)
         |SELECT doc_id, lang, n_chars,
         |  (2 * lnu_fp * 1000000 + n_chars) // (2 * n_chars) AS key_fp
         |FROM ln0 ORDER BY key_fp, doc_id LIMIT 50""".stripMargin
    }),
    // DP median via the exponential mechanism (Gumbel-max): integer
    // twice-utility from the cumulative band ranks; inner ln quantized
    // x1e9 BEFORE the outer ln (composition amplifies a 1-ulp inner
    // divergence), outer x1e6; deterministic md5 draw per band
    Key("q_dp_quantile", (s, d) => q_dp_quantile(s, d), {
      val draw = duckHexValue("md5(CAST(bal_band AS VARCHAR))", 1, 8)
      s"""WITH cell AS MATERIALIZED (
         |  SELECT CASE WHEN cents >= 0 THEN cents // 100000
         |         ELSE -((-cents + 99999) // 100000) END AS bal_band,
         |    CAST(count(*) AS BIGINT) AS n_b
         |  FROM (SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
         |          AS cents FROM customer)
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n FROM cell),
         |sp AS (SELECT bal_band, n_b,
         |    CAST(sum(n_b) OVER (ORDER BY bal_band) AS BIGINT) AS cum,
         |    $draw AS draw
         |  FROM cell),
         |sc AS (SELECT bal_band, n_b, -abs(2 * cum - n) AS u2,
         |    greatest(1, CAST(round(-ln(greatest(draw / 4294967296.0,
         |      1.0 / 4294967296.0)) * 1000000000.0) AS BIGINT)) AS y_fp
         |  FROM sp CROSS JOIN tot),
         |s2 AS (SELECT bal_band, n_b, u2,
         |    CAST(-round(ln(y_fp / 1000000000.0) * 1000000.0) AS BIGINT)
         |      AS gumbel_fp
         |  FROM sc),
         |s3 AS (SELECT *, u2 * 250000 + gumbel_fp AS score_fp FROM s2),
         |best AS MATERIALIZED (SELECT bal_band AS best_band FROM s3
         |  ORDER BY score_fp DESC, bal_band ASC LIMIT 1)
         |SELECT bal_band, n_b, u2, gumbel_fp, score_fp,
         |  bal_band = (SELECT best_band FROM best) AS released
         |FROM s3 ORDER BY bal_band""".stripMargin
    }),
    // DP top-k: one-shot exponential mechanism via per-cell Gumbel
    // noise (same quantize-inner-ln-first composition as
    // q_dp_quantile); threshold = k-th best score from the scored
    // CTE, released on score >= threshold
    Key("q_dp_topk", (s, d) => q_dp_topk(s, d), {
      val draw = duckHexValue("md5(lang || ':' || source)", 1, 8)
      s"""WITH cell AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
         |  FROM documents
         |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         |sc AS (SELECT lang, source, n,
         |    greatest(1, CAST(round(-ln(greatest($draw / 4294967296.0,
         |      1.0 / 4294967296.0)) * 1000000000.0) AS BIGINT)) AS y_fp
         |  FROM cell),
         |s2 AS MATERIALIZED (SELECT lang, source, n,
         |    CAST(-round(ln(y_fp / 1000000000.0) * 1000000.0) AS BIGINT)
         |      AS gumbel_fp,
         |    n * 2000000 +
         |      CAST(-round(ln(y_fp / 1000000000.0) * 1000000.0) AS BIGINT)
         |      AS score_fp
         |  FROM sc),
         |thr AS (SELECT min(score_fp) AS thr_fp FROM (
         |  SELECT score_fp FROM s2
         |  ORDER BY score_fp DESC, lang, source LIMIT 5))
         |SELECT lang, source, n, gumbel_fp, score_fp,
         |  score_fp >= (SELECT thr_fp FROM thr) AS released
         |FROM s2 ORDER BY lang, source""".stripMargin
    }),
    // t-closeness: ordered-domain EMD as all-integer cross-multiplied
    // cumulative diffs over a dense class x band spine; the 4x-read
    // cell CTE and the totals are MATERIALIZED (DuckDB re-inlines per
    // reference); positive-operand round-half-up fixed point
    Key("q_tcloseness", (s, d) => q_tcloseness(s, d),
      """WITH cell AS MATERIALIZED (
        |  SELECT c_nationkey, c_mktsegment,
        |    CASE WHEN cents >= 0 THEN cents // 100000
        |         ELSE -((-cents + 99999) // 100000) END AS bal_band,
        |    CAST(count(*) AS BIGINT) AS nb
        |  FROM (SELECT c_nationkey, c_mktsegment,
        |          CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |        FROM customer)
        |  GROUP BY 1, 2, 3),
        |cls AS (SELECT c_nationkey, c_mktsegment, CAST(sum(nb) AS BIGINT) AS n
        |  FROM cell GROUP BY 1, 2),
        |gb AS (SELECT bal_band, CAST(sum(nb) AS BIGINT) AS g FROM cell GROUP BY 1),
        |tot AS MATERIALIZED (SELECT CAST(sum(nb) AS BIGINT) AS big_n,
        |  CAST(count(DISTINCT bal_band) AS BIGINT) AS n_bands FROM cell),
        |spine AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.n,
        |    gb.bal_band, gb.g, coalesce(cell.nb, 0) AS nb
        |  FROM cls CROSS JOIN gb
        |  LEFT JOIN cell USING (c_nationkey, c_mktsegment, bal_band)),
        |cum AS (SELECT c_nationkey, c_mktsegment, n,
        |    CAST(sum(nb) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY bal_band) AS BIGINT) AS cn,
        |    CAST(sum(g) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY bal_band) AS BIGINT) AS cg
        |  FROM spine),
        |emd AS (SELECT c_nationkey, c_mktsegment, max(n) AS n,
        |    CAST(sum(abs(cn * big_n - cg * n)) AS BIGINT) AS diff,
        |    max(big_n) AS big_n, max(n_bands) AS n_bands
        |  FROM cum CROSS JOIN tot GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment, n,
        |  (2 * 1000000 * diff + n * big_n * greatest(n_bands - 1, 1))
        |    // (2 * n * big_n * greatest(n_bands - 1, 1)) AS t_fp,
        |  (2 * 1000000 * diff + n * big_n * greatest(n_bands - 1, 1))
        |    // (2 * n * big_n * greatest(n_bands - 1, 1)) > 200000 AS violates_t
        |FROM emd ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    // shard-mix audit: same draw, (shard, lang) cells, integer
    // cross-multiplied per-mille deviation, max per shard
    Key("q_shard_quality", (s, d) => q_shard_quality(s, d), {
      val draw8 = duckHashDraw(8)
      s"""WITH c AS (SELECT ($draw8) % 8 AS shard, lang,
         |      CAST(count(*) AS BIGINT) AS n_sl
         |    FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
         |bs AS (SELECT shard, CAST(sum(n_sl) AS BIGINT) AS n_s,
         |         CAST(count(*) AS BIGINT) AS n_langs FROM c GROUP BY 1),
         |bl AS (SELECT lang, CAST(sum(n_sl) AS BIGINT) AS n_l FROM c GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_sl) AS BIGINT) AS n_total FROM c),
         |dev AS (SELECT c.shard, bs.n_s, bs.n_langs,
         |    (2 * 1000 * abs(c.n_sl * n_total - bl.n_l * bs.n_s) + bs.n_s * n_total)
         |      // (2 * bs.n_s * n_total) AS dev_mille
         |  FROM c JOIN bl USING (lang) JOIN bs USING (shard), tt)
         |SELECT shard, n_s AS n_docs, n_langs,
         |  CAST(max(dev_mille) AS BIGINT) AS max_dev_mille
         |FROM dev GROUP BY shard, n_s, n_langs ORDER BY shard""".stripMargin
    }),
    // shard manifests: same doc_id draw as q_shuffle_shards; content
    // checksum = bit_xor of 60-bit md5(text) fingerprints (order-free;
    // a BIGINT SUM would overflow into HUGEINT divergence — the
    // q_corpus_report round-8 lesson); every aggregate cast to BIGINT
    // Morton interleave as 32 generated shift/mask terms; keys scaled
    // to a fixed 16-bit domain by the data maxima with exact integer
    // division — identical codes in both engines at every sf
    Key("q_zorder", (s, d) => q_zorder(s, d), {
      val terms = (0 until 16).map { i =>
        s"((((p16 >> $i) & 1) << ${2 * i + 1}) + (((s16 >> $i) & 1) << ${2 * i}))"
      }.mkString(" + ")
      s"""WITH mx AS (SELECT max(l_partkey) AS pmax, max(l_suppkey) AS smax FROM lineitem),
         |sc AS (SELECT l_partkey AS p, l_suppkey AS sk,
         |         (l_partkey * 65535) // greatest(pmax, 1) AS p16,
         |         (l_suppkey * 65535) // greatest(smax, 1) AS s16
         |       FROM lineitem, mx),
         |zz AS (SELECT p, sk, $terms AS z FROM sc)
         |SELECT z >> 26 AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(p) AS p_min, max(p) AS p_max, min(sk) AS s_min, max(sk) AS s_max,
         |  max(p) - min(p) + 1 AS p_span, max(sk) - min(sk) + 1 AS s_span
         |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    Key("q_shard_manifest", (s, d) => q_shard_manifest(s, d), {
      val draw8 = duckHashDraw(8)
      val cfp = duckHexValue("md5(text)", 1, 15)
      s"""WITH d AS (
         |  SELECT doc_id, $draw8 % 8 AS shard, $cfp AS cfp,
         |    CASE WHEN text IS NOT NULL
         |      THEN len(string_split(text, ' ')) END AS n_toks
         |  FROM documents)
         |SELECT shard, count(*) AS n_docs, count(cfp) AS n_content,
         |  CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(bit_xor(cfp), 0) AS BIGINT) AS checksum_xor,
         |  min(cfp) AS fp_min, max(cfp) AS fp_max
         |FROM d GROUP BY shard ORDER BY shard""".stripMargin
    }),
    // curriculum staging: x1e10 quality fixed point ranked DESC
    // (doc_id tiebreak), q_rfm position-formula stages, exact-long
    // stage stats with the round-half-up mean
    Key("q_curriculum", (s, d) => q_curriculum(s, d),
      s"""WITH per AS (SELECT doc_id,
         |    CAST(round($duckQualityScore * 1e10) AS BIGINT) AS qf,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      x -> len(x) > 0)) AS BIGINT) AS t
         |  FROM documents WHERE text IS NOT NULL),
         |p2 AS (SELECT doc_id, qf, t FROM per WHERE qf IS NOT NULL),
         |r AS (SELECT qf, t,
         |        CAST(row_number() OVER (ORDER BY qf DESC, doc_id) AS BIGINT) AS rn,
         |        CAST(count(*) OVER () AS BIGINT) AS n
         |      FROM p2),
         |st AS (SELECT (rn - 1) * 4 // n + 1 AS stage, qf, t FROM r)
         |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(t) AS BIGINT) AS n_tokens,
         |  min(qf) AS qf_min, max(qf) AS qf_max,
         |  (2 * CAST(sum(qf) AS BIGINT) + count(*)) // (2 * count(*)) AS mean_qf
         |FROM st GROUP BY 1 ORDER BY 1""".stripMargin),
    // length-bucketed batching report: power-of-two bucket via the
    // same branchless bit-smear both engines evaluate on exact longs;
    // waste is (2a+d) div 2d round-half-up fixed point
    Key("q_length_buckets", q_length_buckets _, {
      var smear = "(n - 1)"
      Seq(1, 2, 4, 8, 16, 32).foreach { sh =>
        smear = s"(($smear) | (($smear) >> $sh))"
      }
      s"""WITH t AS (
         |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |b AS (SELECT CASE WHEN n <= 1 THEN 1 ELSE $smear + 1 END AS bucket, n
         |      FROM t),
         |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n) AS BIGINT) AS n_tokens
         |      FROM b GROUP BY bucket)
         |SELECT bucket, n_docs, n_tokens,
         |  CAST(bucket * n_docs AS BIGINT) AS padded_tokens,
         |  CAST((2 * (bucket * n_docs - n_tokens) * 1000000 + bucket * n_docs)
         |       // (2 * bucket * n_docs) AS BIGINT) AS waste_fp
         |FROM g ORDER BY bucket""".stripMargin
    }),
    // DSIR importance weights: one ln per token on an exact integer
    // ratio (smoothed target/raw probabilities composed into a single
    // rational, integer-multiply-then-cast), 1e9 fixed-point longs,
    // exact per-doc sums; totals CAST to BIGINT (HUGEINT trap)
    Key("q_dsir", q_dsir _, {
      val bucket = s"(${duckHexValue("md5(w)", 1, 15)}) % 1024"
      s"""WITH tok AS (SELECT doc_id, ($duckQualityScore) >= 0.45 AS tgt,
         |               unnest(string_split(text, ' ')) AS w
         |             FROM documents),
         |tk AS (SELECT doc_id, tgt, $bucket AS b FROM tok WHERE len(w) > 0),
         |bs AS (SELECT b, CAST(count(*) AS BIGINT) AS r,
         |         CAST(count(CASE WHEN tgt THEN 1 END) AS BIGINT) AS t
         |       FROM tk GROUP BY b),
         |tt AS (SELECT CAST(sum(r) AS BIGINT) AS bigR,
         |              CAST(sum(t) AS BIGINT) AS bigT FROM bs),
         |term AS (SELECT k.doc_id,
         |    CAST(round(ln(
         |      CAST((bs.t + 1) * ((SELECT bigR FROM tt) + 1024) AS DOUBLE) /
         |      CAST((bs.r + 1) * ((SELECT bigT FROM tt) + 1024) AS DOUBLE)) * 1e9)
         |      AS BIGINT) AS lfp
         |  FROM tk k JOIN bs ON k.b = bs.b),
         |p AS (SELECT doc_id, count(*) AS n_toks,
         |        CAST(sum(lfp) AS BIGINT) AS llr_fp
         |      FROM term GROUP BY doc_id),
         |c AS (SELECT CAST(sum(llr_fp) AS BIGINT) AS totL,
         |             CAST(sum(n_toks) AS BIGINT) AS totN FROM p)
         |SELECT d.doc_id, CAST(coalesce(p.n_toks, 0) AS BIGINT) AS n_toks,
         |  p.llr_fp, CAST(p.llr_fp AS DOUBLE) / 1e9 AS llr,
         |  coalesce(p.llr_fp * (SELECT totN FROM c)
         |           > (SELECT totL FROM c) * p.n_toks, false) AS selected
         |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id""".stripMargin
    }),
  )
}
