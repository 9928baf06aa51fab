package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import graft.functions.HashFunctions.{duckHashDraw, duckHexValue}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Which hash function the dedup family's signature stages use.
  *
  * - [[HashFamily.Md5]] (default): engine-portable — the DuckDB oracle
  *   reproduces every signature bit-for-bit. The correctness path.
  * - [[HashFamily.Xxh64]]: one 64-bit xxhash64 call where md5 needs a
  *   digest + hex decode — measured ~3.5× cheaper hashing (a hashing
  *   micro-benchmark: minhash cold 1.63s md5 vs 0.46s xxh64 at sf0.1),
  *   and the win grows with corpus size since hashing is the only
  *   per-token term. A/B it end to end with
  *   `SPARK_GRAFT_CONF=spark.graft.hashFamily=xxh64 runMain graft.Bench
  *   q_minhash --reps 3`.
  *   Not DuckDB-reproducible, so not for oracle runs.
  *
  * Selected per-session via `spark.conf.set("spark.graft.hashFamily",
  * "xxh64")` — every public dedup query ([[DedupOps.q_minhash]],
  * [[DedupOps.q_dedup_minhash]], [[DedupOps.q_simhash]],
  * [[DedupOps.q_dedup_simhash]] and the ClusterOps consumers of
  * [[DedupOps.simhashPairs]]) picks it up; unset means md5. The two
  * families produce different signature VALUES but the same pair
  * decisions wherever the decision isn't a near-threshold coin flip
  * (exact duplicates collide under any hash; HashFamilySpec pins
  * this on a fixture). Near-threshold pairs are family-sensitive by
  * construction — LSH recall is probabilistic in the hash draw.
  */
sealed trait HashFamily
object HashFamily {
  case object Md5 extends HashFamily
  case object Xxh64 extends HashFamily
  def fromConf(s: SparkSession): HashFamily =
    s.conf.getOption("spark.graft.hashFamily").getOrElse("md5") match {
      case "md5"                => Md5
      case "xxh64" | "xxhash64" => Xxh64
      case other => throw new IllegalArgumentException(
        s"spark.graft.hashFamily must be md5 or xxh64, got: $other")
    }
}

/** Near-duplicate detection family for a training-data pipeline
  * (builder north star). Exact dedup is in Relational.q_dedup; here:
  * MinHash signatures, MinHash-LSH candidate pairs, SimHash, and
  * n-gram Jaccard.
  *
  * Hashing is md5-based by default so the DuckDB oracle can reproduce
  * signatures bit-for-bit (md5 is engine-portable; Spark's murmur
  * `hash()` and DuckDB's `hash()` are not compatible). At production
  * scale set `spark.graft.hashFamily=xxh64` ([[HashFamily]]) for ~3.5×
  * cheaper hashing — the plan shape (explode-free array exprs, one
  * grouped explode on the band key) is identical in both families.
  */
object DedupOps {

  /** Fan a narrow CPU-bound stage out to all cores — but ONLY when the
    * scan is under-partitioned (few small parquet files at test scale).
    * At 100 TB the input splits already provide parallelism and a
    * blanket repartition would be a full shuffle of the raw text ahead
    * of the hashing; the guard makes it a no-op there. (Partition count
    * comes from the planned scan, no job is triggered.)
    */
  private def fanOut(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Distinct co-bucket id pairs (a < b) via a per-bucket grouped
    * explode — the LSH candidate-generation shape shared by the MinHash
    * band join and the random-hyperplane bucket join
    * (SimilarityOps.q_sim_lsh). Only (bucket, id) enters the shuffle;
    * pairs are deduped across buckets BEFORE any expensive verification
    * joins back.
    *
    * `maxBucket` is the degenerate-bucket guard: a bucket holding m ids
    * emits m·(m−1)/2 pairs, so one pathological hash value (empty
    * documents, a boilerplate band) can dominate the whole job
    * quadratically. Buckets above the cap are DROPPED — at that size
    * the bucket carries no similarity signal (it is a hash collision
    * class, not a near-dup cluster), and production dedup systems cut
    * them for the same reason.
    *
    * The guard is [[graft.functions.BoundedCollectAggregator]]: ONE
    * aggregation pass with state hard-capped at maxBucket+1 ids per
    * group (overflow finishes empty). The earlier count-prefilter
    * enforced the same ceiling but needed a second pass over
    * `bucketed`, which recomputed the bucket column's entire lineage —
    * for MinHash bands, the 8-hash signature scan of the corpus —
    * a 2× compute tax that dominates at scale.
    */
  private[graft] def candidatePairs(
      bucketed: DataFrame, bucket: String, id: String,
      aName: String, bName: String, maxBucket: Int = 10000): DataFrame =
    bucketed.groupBy(bucket)
      .agg(graft.functions.BoundedCollectAggregator.bounded(maxBucket)(col(id)).as("ids"))
      .filter(size(col("ids")) > 1) // singletons and overflowed buckets
      // pair emission via posexplode + slice, not filter(ids, _ > a):
      // the bucket arrays arrive SORTED, so "strictly greater ids" is
      // exactly the suffix after this position — and slice is a
      // codegen'd expression while the HOF filter lambda runs
      // interpreted per (element, row), the inner loop of the
      // quadratic pair explosion
      .select(posexplode(col("ids")).as(Seq("pos", aName)), col("ids"))
      .select(col(aName),
        explode(slice(col("ids"), col("pos") + 2, size(col("ids")))).as(bName))
      // strictness guard: position-based emission would turn a
      // duplicated id within one bucket array into a self-pair (the
      // old value filter excluded it). Uniqueness holds for current
      // callers, but a codegen'd comparison keeps the contract
      // explicit rather than a comment-only precondition.
      .filter(col(aName) < col(bName))
      .distinct()

  /** [[candidatePairs]] with a fixed-width payload riding each id
    * (same cap semantics, pairs ordered by id): emits
    * (aName, bName) STRUCT columns `{_1: id, _2: payload}`. When the
    * confirm step only needs a small per-doc value (a simhash long),
    * carrying it through the bucket shuffle costs 8 bytes/row and
    * saves BOTH a join back to the signature table and — the dominant
    * term — a full recompute of the signature lineage that join's
    * other side would be (no cross-branch reuse without a persist).
    */
  /** `dedup = false` skips the cross-band `distinct()` — callers that
    * can decide band ownership per pair from the payloads alone (see
    * [[simhashPairs]]'s first-matching-band filter) replace that full
    * shuffle of every candidate pair with a map-side predicate.
    * `keepBucket = true` carries the bucket column through for exactly
    * that decision (only meaningful with `dedup = false`: distinct
    * over (bucket, pair) would NOT dedup pairs across buckets).
    */
  private[graft] def candidatePairsTagged(
      bucketed: DataFrame, bucket: String, id: String, tag: String,
      aName: String, bName: String, maxBucket: Int = 10000,
      dedup: Boolean = true, keepBucket: Boolean = false): DataFrame = {
    require(!(dedup && keepBucket), "keepBucket requires dedup = false")
    val keep = if (keepBucket) Seq(col(bucket)) else Nil
    val exploded = bucketed.groupBy(bucket)
      .agg(graft.functions.BoundedCollectAggregator
        .boundedPairs(maxBucket)(col(id), col(tag)).as("ids"))
      .filter(size(col("ids")) > 1)
      // same codegen'd posexplode+slice pair emission as
      // [[candidatePairs]] (arrays sorted by _1)
      .select(keep :+ posexplode(col("ids")).as(Seq("pos", aName)) :+ col("ids"): _*)
      .select(keep :+ col(aName) :+
        explode(slice(col("ids"), col("pos") + 2, size(col("ids")))).as(bName): _*)
      // same self-pair strictness guard as [[candidatePairs]]
      .filter(col(aName).getField("_1") < col(bName).getField("_1"))
    // a doc's payload is functionally determined by its id, so
    // distinct over the two structs IS distinct over the id pair
    if (dedup) exploded.distinct() else exploded
  }

  /** Word 3-shingles of `text` as an array column (no explode — stays
    * row-local until a join needs it).
    */
  def shingles3(text: Column): Column = shinglesN(text, 3)

  /** Word n-grams of `text` as an array column; documents shorter than
    * n words fall back to the whole text as the single shingle, so
    * short-text exact matches still collide. The single source for
    * every n-gram builder (shingles3, q_contamination, q_repetition's
    * no-fallback variant).
    */
  def shinglesN(text: Column, n: Int, fallbackToText: Boolean = true): Column = {
    // LET-BOUND word array (transform over a singleton — see
    // winnowFps): with `split(text)` written inline, each gram's
    // slice re-splits the whole document — O(words²) character work
    // per doc, ruinous on web-length documents even though n-gram
    // output is linear. Binding the split as a lambda variable makes
    // HOF evaluation materialize it exactly once per row.
    element_at(
      transform(array(split(text, " ")), ws =>
        when(size(ws) >= n,
          transform(sequence(lit(0), size(ws) - n),
            i => concat_ws(" ", slice(ws, i + 1, lit(n)))))
          .otherwise(
            if (fallbackToText) array(text) else typedLit(Seq.empty[String]))),
      1)
  }


  /** Codegen'd first-occurrence-distinct 3-gram array — replaces the
    * interpreted `array_distinct(shingles3(c))` HOF chain at every
    * confirm/shingle site (r15 opt; bit-identical for non-null text,
    * pinned by GramStatsSpec; every call site filters null text first
    * — signature/shingle tables by construction, q_ngram_jaccard
    * explicitly since r16 — because the kernel returns NULL where the
    * old HOF built [NULL]).
    */
  private def distinctShingles3(s: SparkSession, c: Column): Column = {
    graft.functions.TextFunctions.register(s)
    call_function("distinct_grams", c, lit(3))
  }


  /** Codegen'd raw gram builder (the TextOps.wordGramsC twin). */
  private def wordGramsC(s: SparkSession, c: Column, n: Int,
                         fallback: Boolean): Column = {
    graft.functions.TextFunctions.register(s)
    call_function("word_grams", c, lit(n), lit(fallback))
  }

  /** 8-function MinHash signature per document.
    *
    * Shape: explode shingles → 4 codegen'd scalar md5s per shingle row
    * (each digest feeding two draws — see [[signatures]]) → hash-agg
    * min per doc. A per-row `transform(...)` higher-order function
    * computes the same values but runs *interpreted* (Spark HOF
    * lambdas are outside whole-stage codegen) — measured ~4× slower.
    * The explode pipelines inside the scan stage; the single shuffle
    * carries only partial per-doc minima (map-side combine), so
    * shuffle volume is O(docs), not O(shingles), at any scale.
    *
    * MinHash value = a 15-hex-char window of a seeded md5 read as a
    * 60-bit BIGINT (the `conv`↔nibble-arithmetic bridge SampleOps
    * .hashDraw already proves engine-portable). LONG, not the hex
    * string, deliberately: `min(string)` has an immutable aggregation
    * buffer, which forces SortAggregate — a per-partition sort of the
    * entire exploded shingle stream — while `min(long)` plans
    * codegen'd partial HashAggregate; the shuffle rows also shrink
    * ~4×. 15 chars (not 16) keeps the value inside a signed long's
    * positive range so numeric min == unsigned hex min on both
    * engines.
    */
  def q_minhash(s: SparkSession, d: String): DataFrame =
    SharedDedup.sig(s, d, HashFamily.fromConf(s)).orderBy("doc_id")

  /** Unsorted signature table, dispatched on the session's
    * [[HashFamily]] — both branches emit the same (doc_id, h1..h8)
    * schema and the same explode → codegen'd hash → map-side-combined
    * min plan, so downstream band logic is family-blind.
    */
  private[graft] def signatures(
      s: SparkSession, d: String, family: HashFamily): DataFrame =
    family match {
      case HashFamily.Md5   => signaturesMd5(s, d)
      case HashFamily.Xxh64 => signaturesFast(s, d)
    }

  /** Unsorted md5 signature table — the internal form (q_dedup_minhash
    * consumes this so the presentation sort isn't materialized into
    * the cache and immediately destroyed by the band join's shuffle).
    *
    * Digest reuse: an md5 digest is 128 bits and a minhash draw only
    * needs 60, so each seeded digest yields TWO independent values
    * (hex chars 1-15 and 17-31) — 4 md5 calls per shingle instead of
    * 8, halving the dominant hash cost. The digests are materialized
    * in an explicit projection below the aggregation so the sharing is
    * structural, not left to codegen subexpression elimination.
    * (signaturesFast keeps the one-hash-per-function scaffold: a
    * 64-bit xxhash64 has no spare bits to split.)
    */
  /** The [[SharedDedup.shingles]] builder: fan out, shingle once,
    * fingerprint once. Null-text docs drop here (shingles3 of null is
    * null — the pre-sharing explode dropped them the same way). */
  private def shingleTable(s: SparkSession, d: String): DataFrame =
    fanOut(s, documents(s, d))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        distinctShingles3(s, col("text")).as("g"),
        (size(split(col("text"), " ")) < 3).as("fb"))
      .select(col("doc_id"), col("g"),
        array_distinct(transform(col("g"), x => xxhash64(x))).as("fps"),
        col("fb"))

  private def signaturesMd5(s: SparkSession, d: String): DataFrame = {
    val exploded = SharedDedup.shingles(s, d)
      .select(col("doc_id"), explode(col("g")).as("x"))
    val withDigests = exploded.select(
      col("doc_id") +:
        (1 to 4).map(i => md5(concat(lit(s"$i:"), col("x"))).as(s"d$i")): _*)
    val mins = (1 to 8).map { i =>
      val seed = (i + 1) / 2           // digest 1..4, used twice
      val off = if (i % 2 == 1) 1 else 17 // hex window within the digest
      min(graft.functions.HashFunctions.hexWindowU(col(s"d$seed"), off, 15)).as(s"h$i")
    }
    withDigests.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash function i over a `shingles` list column in DuckDB SQL,
    * mirroring [[signaturesMd5]]' digest reuse: seeded digest (i+1)/2, 60-bit
    * hex window at char 1 (odd i) or 17 (even i), list_min.
    */
  private[graft] def duckMinhash(i: Int): String = {
    val seed = (i + 1) / 2
    val off = if (i % 2 == 1) 1 else 17
    s"list_min(list_transform([md5('$seed:' || x) for x in shingles], " +
      s"h -> ${duckHexValue("h", off, 15)}))"
  }

  /** Signature scaffold for one-hash-per-function variants: fan-out →
    * explode shingles → 8 codegen'd scalar hashes → map-side-combined
    * min per doc. `hashFn(i)` builds minhash function i's per-shingle
    * hash column. Used by [[signaturesFast]] (xxhash64); the md5 form
    * ([[signatures]]) diverged when it adopted digest reuse, which
    * needs a digest projection this per-function shape can't express.
    */
  private def signaturesWith(
      s: SparkSession, d: String, hashFn: Int => Column => Column): DataFrame = {
    // the shared shingle table arrives fanned out to all cores (its
    // builder repartitions the under-partitioned test-scale scan —
    // see shingleTable/fanOut), so the CPU-bound hashing below
    // inherits full parallelism
    val exploded = SharedDedup.shingles(s, d)
      .select(col("doc_id"), explode(col("g")).as("x"))
    val mins = (1 to 8).map(i => min(hashFn(i)(col("x"))).as(s"h$i"))
    exploded.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Production-scale signature variant: xxhash64 (one 64-bit hash per
    * shingle per function) instead of md5+substring — ~4× cheaper
    * hashing with the SAME plan shape (explode → codegen'd scalar hash
    * → map-side-combined min), so every scale property of the md5 form
    * carries over. Not DuckDB-reproducible (xxhash64 is Spark-specific),
    * which is why the oracle default stays md5; select it with
    * `spark.conf.set("spark.graft.hashFamily", "xxh64")` when the
    * corpus, not the oracle, is the point ([[HashFamily]]).
    */
  def signaturesFast(s: SparkSession, d: String): DataFrame =
    signaturesWith(s, d, i => x => xxhash64(lit(i), x))

  /** The 2-band × 4-row LSH band table of a signature frame — band i
    * is the colon-joined hex of its four minima, tagged by position
    * through the concat prefix order (band 1 = h1..h4, band 2 =
    * h5..h8), so cross-band collisions are impossible. Shared by every
    * MinHash-LSH candidate generator ([[SharedDedup.cand]]).
    */
  private def minhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      explode(array(
        concat_ws(":", col("h1"), col("h2"), col("h3"), col("h4")),
        concat_ws(":", col("h5"), col("h6"), col("h7"), col("h8")))).as("band"))

  /** Memoized per-(app, dir, family) artifacts of the near-dup family —
    * the [[graft.queries.GraphOps.SharedGraph]] persist-once pattern
    * applied to its biggest remaining patient (r13 VERDICT: ten keys
    * re-derived the signature/candidate/confirmed-pair chain per key,
    * 48 s = 16% of the bench). The MinHash signature table, the banded
    * candidate pairs, the exact-Jaccard-confirmed pair list, and the
    * SimHash pair table each build ONCE per (app, dir, [[HashFamily]])
    * and every consumer key rebases on the checkpointed artifact — the
    * literal write→read shape a production dedup pipeline has (signature
    * store + pair store), with the opt-in cross-JVM parquet form via
    * `spark.graft.artifacts.dir` ([[graft.plans.SharedState.cachedDf]]).
    * Family-keyed so the xxh64 production path and the md5 oracle path
    * never share an artifact; bypassed under the audit axes so every
    * key still captures its own full segment chain.
    */
  private[graft] object SharedDedup {
    /** Test hook: drop cached artifacts so a spec pinning the
      * FRESH-build plan shape is independent of suite order. */
    private[graft] def reset(): Unit = graft.plans.SharedState.reset()

    /** Family-blind distinct word-3-gram shingle table (doc_id, g,
      * fps, fb): g = the distinct shingle set with the whole-text
      * fallback for sub-3-word docs (marked `fb`), fps = xxhash64
      * fingerprints of g. Built ONCE per (app, dir) and consumed by
      * BOTH the MinHash signature pass (explode(g) — the min over the
      * distinct set equals the min over the raw multiset, so the
      * signatures are unchanged) and the AllPairs prefix-filter join
      * (which drops fallback docs, its documented no-fallback
      * semantics) — r14 verdict item 3: allPairsOf re-shingled the
      * corpus that this family had already shingled. */
    def shingles(s: SparkSession, d: String): DataFrame =
      graft.plans.SharedState.cachedDf(s, "dedup.shingles3", d,
        Seq("documents.parquet"))(shingleTable(s, d))

    /** Unsorted 8-minima signature table (doc_id, h1..h8). */
    def sig(s: SparkSession, d: String, family: HashFamily): DataFrame =
      graft.plans.SharedState.cachedDf(s, s"dedup.sig.$family", d,
        Seq("documents.parquet"))(signatures(s, d, family))

    /** Banded LSH candidate pairs (doc_a < doc_b), deduped and
      * bucket-capped ([[candidatePairs]]). */
    def cand(s: SparkSession, d: String, family: HashFamily): DataFrame =
      graft.plans.SharedState.cachedDf(s, s"dedup.cand.$family", d,
        Seq("documents.parquet"))(
        candidatePairs(minhashBands(sig(s, d, family)),
          "band", "doc_id", "doc_a", "doc_b"))

    /** Exact-Jaccard-confirmed near-dup pairs (doc_a, doc_b, jaccard),
      * unsorted — the dedup-decision input of q_dedup_savings /
      * q_source_overlap / q_split_leakage / q_split_group /
      * q_dedup_agreement. */
    def pairs(s: SparkSession, d: String, family: HashFamily): DataFrame =
      graft.plans.SharedState.cachedDf(s, s"dedup.pairs.$family", d,
        Seq("documents.parquet"))(confirmJaccard(s, d, cand(s, d, family)))

    /** Memoized [[simhashPairs]] (doc_a, doc_b, hamming), unsorted —
      * keyed by maxHamming too (q_dedup_simhash and the ClusterOps /
      * SampleOps consumers all use the default 1). */
    def simPairs(s: SparkSession, d: String, maxHamming: Int = 1,
                 family: HashFamily = null): DataFrame = {
      val fam = Option(family).getOrElse(HashFamily.fromConf(s))
      graft.plans.SharedState.cachedDf(s,
        s"dedup.simPairs.h$maxHamming.$fam", d,
        Seq("documents.parquet"))(simhashPairs(s, d, maxHamming, fam))
    }
  }

  /** MinHash-LSH near-dup candidate pairs: 2 bands × 4 rows, self-join
    * on the band key, then exact shingle-set Jaccard to confirm.
    *
    * This is the 100 TB dedup shape: the only shuffle is on the band
    * key (tiny — 64 hex chars/doc), the candidate set is a minuscule
    * fraction of the n² pair space, and the expensive Jaccard runs only
    * on candidates. Band-key skew (many docs in one bucket) is the
    * failure mode — mitigated by more/narrower bands or by salting the
    * giant buckets. Since round 14 the whole chain (signatures →
    * candidates → confirmed pairs) is built once per (app, dir, family)
    * and shared across its ten consumer keys ([[SharedDedup]]).
    */
  def q_dedup_minhash(s: SparkSession, d: String): DataFrame =
    dedupMinhash(s, d, HashFamily.fromConf(s))

  /** [[q_dedup_minhash]] with an explicit [[HashFamily]] — the family
    * only drives candidate GENERATION (which band values collide); the
    * confirm step's exact Jaccard is computed from raw text and is
    * family-independent, so any pair surfaced by either family carries
    * the same jaccard value.
    */
  private[graft] def dedupMinhash(
      s: SparkSession, d: String, family: HashFamily): DataFrame =
    SharedDedup.pairs(s, d, family).orderBy("doc_a", "doc_b")

  /** Exact-Jaccard confirmation of a candidate pair table — the verify
    * stage behind [[SharedDedup.pairs]].
    */
  private def confirmJaccard(
      s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    // Exact-Jaccard confirmation, with BOTH expensive lineages consumed
    // exactly ONCE and shingling done only where it's needed: each pair
    // explodes into its two member ids, joins the raw documents scan a
    // single time (AQE broadcasts the tiny candidate side, so the scan
    // streams and only matching texts survive), and a bounded regroup
    // (state = two texts per pair) reassembles both sides; the
    // 3-gram shingle sets are then computed POST-shuffle, once per pair
    // side. The earlier form shingled the ENTIRE corpus into string
    // arrays before the join — O(docs) shingling plus a ~3×-larger
    // join payload (a doc's overlapping 3-gram array outweighs its
    // text) to confirm a candidate set that is a minuscule fraction of
    // the corpus. Nothing is cached: docs are scanned twice total
    // (signature pass + this text ride-along), and only candidate
    // pairs' texts ride the regroup shuffle. A doc appearing in many
    // pairs is re-shingled per pair — bounded by candidatePairs' cap
    // and far cheaper than shingling every non-candidate doc.
    val sides = cand.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    val shA = distinctShingles3(s, col("t_a"))
    val shB = distinctShingles3(s, col("t_b"))
    sides.join(documents(s, d).select(col("doc_id"), col("text")), Seq("doc_id"))
      .groupBy("doc_a", "doc_b")
      .agg(
        // exactly one of the two member rows matches each side; max
        // over {text, NULL} selects it deterministically
        max(when(col("doc_id") === col("doc_a"), col("text"))).as("t_a"),
        max(when(col("doc_id") === col("doc_b"), col("text"))).as("t_b"))
      // explicit invariant: a pair whose member id is ever missing from
      // the documents table (possible only if documents admitted null
      // text) must drop, as a two-sided inner join would — not emit a
      // null-jaccard row
      .filter(col("t_a").isNotNull && col("t_b").isNotNull)
      .select(
        col("doc_a"), col("doc_b"),
        round(size(array_intersect(shA, shB)).cast("double") /
          size(array_union(shA, shB)), 10).as("jaccard"))
  }

  /** MinHash estimator CALIBRATION over the LSH candidate pairs — the
    * q_sim_recall of the dedup family: for every surfaced pair,
    * compare the Jaccard the 8-function signature ESTIMATES
    * (agreement fraction, the value LSH banding implicitly thresholds
    * on) against the EXACT shingle-set Jaccard the confirm step
    * computes. A pipeline reads the error column to answer "are 8
    * hash functions enough at my dedup threshold?" — expected |error|
    * is ~1/sqrt(k) per pair, and a drifting calibration (e.g. after a
    * shingling change) shows up here before it shows up as recall
    * loss in production.
    *
    * Scale shape: the signature table is computed ONCE and
    * materialized (three consumers: bands, a-side, b-side — the
    * twice-referenced rule), candidates come from the same
    * one-shuffle band groupBy as [[q_dedup_minhash]], the per-pair
    * signature join streams the O(docs) signature table against the
    * capped candidate set, and the exact side is the established
    * text-ride regroup. All-integer output (×1e6 round-half-up fixed
    * point; est = n_agree × 125000 exactly) so the oracle compare is
    * bit-exact.
    */
  def q_minhash_calib(s: SparkSession, d: String): DataFrame = {
    val family = HashFamily.fromConf(s)
    // both artifacts arrive checkpointed from the shared cache: sig
    // feeds three consumers here (a-side, b-side; the band groupBy was
    // its third before sharing), cand feeds two pipelines (signature
    // agreement + exact confirm)
    val sig = SharedDedup.sig(s, d, family)
    val cand = SharedDedup.cand(s, d, family)
    val sigA = sig.select(
      col("doc_id").as("ida") +: (1 to 8).map(i => col(s"h$i").as(s"a$i")): _*)
    val sigB = sig.select(
      col("doc_id").as("idb") +: (1 to 8).map(i => col(s"h$i").as(s"b$i")): _*)
    // null-signature slots (null-text docs) compare as unknown → 0,
    // matching the oracle's CASE WHEN ... THEN 1 ELSE 0 on NULL=NULL;
    // those pairs drop at the exact-side join anyway (t_a/t_b rule)
    val nAgree = (1 to 8)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val agree = cand
      .join(sigA, col("doc_a") === col("ida"))
      .join(sigB, col("doc_b") === col("idb"))
      .select(col("doc_a"), col("doc_b"), nAgree.as("n_agree"))
    val sides = cand.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    val shA = distinctShingles3(s, col("t_a"))
    val shB = distinctShingles3(s, col("t_b"))
    val ex = sides
      .join(documents(s, d).select(col("doc_id"), col("text")), Seq("doc_id"))
      .groupBy("doc_a", "doc_b")
      .agg(
        max(when(col("doc_id") === col("doc_a"), col("text"))).as("t_a"),
        max(when(col("doc_id") === col("doc_b"), col("text"))).as("t_b"))
      .filter(col("t_a").isNotNull && col("t_b").isNotNull)
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(shA, shB)).cast("long").as("inter"),
        size(array_union(shA, shB)).cast("long").as("uni"))
    val exactFp = expr("(2 * 1000000 * inter + uni) div (2 * uni)")
    agree.join(ex, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        (col("n_agree") * 125000).as("est_jaccard_fp"),
        exactFp.as("exact_jaccard_fp"),
        (col("n_agree") * 125000 - exactFp).as("err_fp"))
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT maximal common-token-run localization — the
    * exact-guarantee complement to [[q_overlap]] (winnowing SAMPLES
    * ~1/win of gram fingerprints, so its spans are approximate and
    * short overlaps can slip between selected grams; this operator
    * keys on EVERY k-gram, so any shared run of ≥ k tokens is found,
    * maximal, with exact boundaries — the Lee et al. 2021
    * "Deduplicating Training Data" substring pass, re-expressed as
    * fingerprint diagonals instead of a suffix array, which is the
    * shape that parallelizes): matched gram positions (pa, pb) of a
    * shared run lie on one diagonal pa − pb with consecutive pa, so
    * gaps-and-islands over (pair, diagonal) reassembles each maximal
    * run; its token length is gram-count + k − 1.
    *
    * Scale shape: the gram-fingerprint table is token-scale but
    * 16 B/row (doc, pos, 60-bit md5 hash — no text moves); the
    * df-bounded rare slice (df ∈ [2, maxDocs], the [[q_overlap]] /
    * candidatePairs cap stance) prunes unpaired grams and
    * stop-phrase boilerplate BEFORE the fp self-join, so pair
    * emission is bounded by maxDocs per fingerprint; the island
    * window partitions by (pair, diagonal) — matched-gram scale, not
    * corpus scale. The documented trade: a run shared by more than
    * maxDocs documents is boilerplate and is CUT by the df cap
    * (q_boilerplate is the operator for those).
    */
  def q_substr_runs(s: SparkSession, d: String, k: Int = 8,
                    maxDocs: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashes = transform(wordGramsC(s, col("text"), k, fallback = false),
      g => graft.functions.HashFunctions.md5WindowU(g, 1, 15))
    // materialized ONCE (r15 opt, twice-referenced rule): fp feeds
    // the df aggregate AND the join below, and f2 feeds BOTH sides of
    // the diagonal self-join — unmaterialized, the token-scale
    // gram-hash explode ran up to four times per query
    val fp = documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(hashes).as(Seq("pos", "fp")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("fp"))
      .transform(graft.plans.Ckpt.maybe)
    val rare = fp.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDocs)
      .select("fp")
    val f2 = fp.join(rare, "fp").transform(graft.plans.Ckpt.maybe)
    val matched = f2.as("a").join(f2.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .withColumn("diag", col("pa") - col("pb"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    matched
      .withColumn("island", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("pa")).as("a_from"), min(col("pb")).as("b_from"),
        (count(lit(1)) + (k - 1)).as("n_tokens"))
      .select(col("doc_a"), col("doc_b"), col("a_from"), col("b_from"),
        col("n_tokens"))
      .orderBy("doc_a", "doc_b", "a_from", "b_from")
  }

  /** Cross-family dedup DECISION AGREEMENT — the third leg of the
    * evaluation set ([[graft.queries.SimilarityOps.q_sim_recall]]
    * evaluates the ANN index, [[q_minhash_calib]] the estimator, this
    * the decision layer): the full outer union of the MinHash-LSH
    * pair set ([[q_dedup_minhash]], shingle-resemblance recall) and
    * the SimHash banded pair set ([[q_dedup_simhash]], ≤1-bit
    * word-set similarity), each pair flagged by which family
    * surfaced it, carrying both scores where computed. A pipeline
    * reads the disagreement rows before switching families or
    * tightening thresholds: simhash-only pairs are word-set twins
    * whose shingle orders diverge; minhash-only pairs share phrasing
    * the bag-of-words sketch can't see.
    *
    * Scale shape: both inputs are the established one-band-shuffle
    * pipelines; the agreement join matches two candidate-sized
    * tables on (doc_a, doc_b) — output-driven, never corpus-driven.
    */
  def q_dedup_agreement(s: SparkSession, d: String): DataFrame = {
    // both sides from the shared artifacts, unsorted (the full-outer
    // join reshuffles on the pair key anyway)
    val mh = SharedDedup.pairs(s, d, HashFamily.fromConf(s))
      .select(col("doc_a").as("ma"), col("doc_b").as("mb"), col("jaccard"))
    val sh = SharedDedup.simPairs(s, d)
      .select(col("doc_a").as("sa"), col("doc_b").as("sb"), col("hamming"))
    mh.join(sh, col("ma") === col("sa") && col("mb") === col("sb"), "full_outer")
      .select(
        coalesce(col("ma"), col("sa")).as("doc_a"),
        coalesce(col("mb"), col("sb")).as("doc_b"),
        col("ma").isNotNull.as("in_minhash"),
        col("sa").isNotNull.as("in_simhash"),
        col("jaccard"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Content-defined chunking (CDC) — the rolling-hash boundary
    * segmentation storage dedup is built on (and the
    * insertion-robust alternative to [[SampleOps.q_chunk]]'s fixed
    * stride): a chunk boundary falls wherever the 4-gram hash60
    * satisfies fp ≡ 0 (mod 16), so boundaries are CONTENT-anchored —
    * insert a sentence and only the chunks it touches change, where
    * fixed-stride chunking shifts every later window and destroys
    * chunk-level dedup. Output: one row per chunk (start, length,
    * content fingerprint) plus the chunk's corpus document frequency
    * — df ≥ 2 chunks are the shared passages a chunk-level dedup or
    * a RAG chunk store would collapse. Expected chunk length is the
    * modulus (16 tokens) + gram overhang.
    *
    * Scale shape: boundary detection, span assembly, and chunk
    * fingerprints are all row-local array expressions in the scan
    * stage (the [[shinglesN]] let-binding discipline: each derived
    * array lands in its OWN projection, so the twice-referenced
    * boundary list materializes once per row — the q_repetition
    * CollapseProject rule); the only exchanges are the explode-side
    * df count (map-side combined, bounded by distinct chunks) and
    * its join back. Short docs (< 4 tokens) and boundary-free docs
    * are a single whole-doc chunk; null docs carry no chunks.
    */
  def q_cdc_chunks(s: SparkSession, d: String, k: Int = 4,
                   mod: Int = 16): DataFrame = {
    val chunks = cdcChunkTable(s, d, k, mod)
    val dfc = chunks.groupBy("chunk_fp")
      .agg(count_distinct(col("doc_id")).as("df"))
    chunks.join(dfc, "chunk_fp")
      .select(col("doc_id"), col("chunk_id"), col("start_pos"),
        col("n_tokens"), col("chunk_fp"), col("df"))
      .orderBy("doc_id", "chunk_id")
  }

  /** The CDC chunk table behind [[q_cdc_chunks]] and
    * [[q_cdc_savings]]: one row per content-defined chunk
    * (doc_id, chunk_id, start_pos, n_tokens, chunk_fp), boundary
    * detection and span assembly all row-local in the scan stage.
    */
  private def cdcChunkTable(s: SparkSession, d: String, k: Int,
                            mod: Int): DataFrame =
    // chunk rows ≈ tokens/mod — the same artifact class as the winnow
    // fingerprints; consumed twice inside q_cdc_chunks (df count +
    // join back) and again by q_cdc_savings
    graft.plans.SharedState.cachedDf(s, s"dedup.cdc.$k.$mod", d,
      Seq("documents.parquet"))(cdcChunkTableOf(s, d, k, mod))

  private def cdcChunkTableOf(s: SparkSession, d: String, k: Int,
                              mod: Int): DataFrame = {
    val h60 = (g: Column) =>
      graft.functions.HashFunctions.md5WindowU(g, 1, 15)
    val staged = documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("w"),
        wordGramsC(s, col("text"), k, fallback = false).as("grams"))
      .select(col("doc_id"), col("w"),
        filter(
          transform(col("grams"),
            (g, i) => when(h60(g) % mod === 0, i.cast("long")).otherwise(lit(-1L))),
          p => p >= 0).as("bpos"))
      .select(col("doc_id"), col("w"),
        concat(array(lit(0L)), transform(col("bpos"), p => p + k)).as("starts"),
        concat(transform(col("bpos"), p => p + (k - 1)),
          array((size(col("w")) - 1).cast("long"))).as("ends"))
      .select(col("doc_id"), col("w"),
        posexplode(filter(
          zip_with(col("starts"), col("ends"),
            (s0, e0) => struct(s0.as("st"), e0.as("en"))),
          c => c.getField("st") <= c.getField("en"))).as(Seq("chunk_id", "c")))
    staged.select(
      col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
      col("c.st").as("start_pos"),
      (col("c.en") - col("c.st") + 1).as("n_tokens"),
      md5(array_join(
        slice(col("w"), col("c.st") + 1, col("c.en") - col("c.st") + 1),
        " ")).as("chunk_fp"))
  }

  /** CDC storage-dedup savings report — the number a chunk store or
    * a dedup-aware corpus cache reads before turning chunk-level
    * dedup on: for each source (and the `(all)` global row), how many
    * chunk copies collapse to how many distinct chunks, and what
    * fraction of chunk tokens a single-instance store saves
    * (`savings_fp`, ×1e6 round-half-up). Per-source rows dedup WITHIN
    * the source; the `(all)` row dedups globally — the gap between
    * the global row and the per-source sum is exactly the
    * cross-source sharing [[q_source_overlap]] localizes by pair.
    *
    * Distributed shape: ONE [[cdcChunkTable]] scan joined to the
    * (doc_id, source) dimension (AQE broadcasts it against the
    * chunk-sized left), checkpointed because BOTH aggregations read
    * it; each aggregation is two map-side-combined shuffles whose
    * key cardinality is bounded by distinct chunks, and the final
    * report is O(sources) rows. `n_tokens` rides the fp group via
    * `min` (content-determined, so min = the value; min keeps the
    * agg order-free in both engines).
    */
  def q_cdc_savings(s: SparkSession, d: String, k: Int = 4,
                    mod: Int = 16): DataFrame = {
    val chunks = cdcChunkTable(s, d, k, mod)
      .join(documents(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("chunk_fp"), col("n_tokens"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: per-source + global rollup
    def rollup(groups: org.apache.spark.sql.RelationalGroupedDataset,
               src: Column): DataFrame = groups
      .agg(sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_unique_chunks"),
        sum(col("cnt") * col("tok")).as("total_tokens"),
        sum(col("tok")).as("unique_tokens"))
      .select(src.as("source"), col("n_chunks"), col("n_unique_chunks"),
        col("total_tokens"), col("unique_tokens"))
    val perSrc = rollup(
      chunks.groupBy("source", "chunk_fp")
        .agg(count(lit(1)).as("cnt"), min(col("n_tokens")).as("tok"))
        .groupBy("source"), col("source"))
    val global = rollup(
      chunks.groupBy("chunk_fp")
        .agg(count(lit(1)).as("cnt"), min(col("n_tokens")).as("tok"))
        .groupBy(), lit("(all)"))
    perSrc.unionByName(global)
      .select(col("source"), col("n_chunks"), col("n_unique_chunks"),
        col("total_tokens"), col("unique_tokens"),
        expr("(2 * (total_tokens - unique_tokens) * 1000000 + total_tokens)" +
          " div (2 * total_tokens)").as("savings_fp"))
      .orderBy("source")
  }

  /** Cross-source duplication provenance — the near-dup pair matrix
    * by (source, source): which feeds duplicate WITHIN themselves
    * (re-crawls, mirrored shards) and which duplicate EACH OTHER
    * (the same upstream scraped twice). This is the report that
    * decides source-level dedup ordering and weighting before
    * pair-level dedup runs — at 100 TB you drop a mirrored SOURCE in
    * one metadata decision instead of confirming a billion pairs.
    *
    * Built on [[q_dedup_minhash]]'s confirmed pairs (exact Jaccard ≥
    * `minJaccard`, compared on the ROUNDED value so both engines
    * branch identically — the q_containment stance); sources attach
    * by two joins against the doc dimension that AQE broadcasts
    * (pairs are output-sized, the dimension is (id, source)); the
    * matrix agg is bounded by |sources|². The unordered (least,
    * greatest) key makes within-source rows the diagonal.
    */
  def q_source_overlap(s: SparkSession, d: String,
                       minJaccard: Double = 0.5): DataFrame = {
    val pairs = SharedDedup.pairs(s, d, HashFamily.fromConf(s))
      .filter(col("jaccard") >= minJaccard)
    val src = documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(src.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        least(col("sa.source"), col("sb.source")).as("source_a"),
        greatest(col("sa.source"), col("sb.source")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Asymmetric CONTAINMENT scoring over the MinHash-LSH candidate
    * pairs — the quote/subset detector symmetric Jaccard
    * structurally misses: a short document fully embedded in a long
    * one has containment(short→long) ≈ 1 while its Jaccard ≈
    * |short|/|long| can sit far below any dedup threshold. Broder's
    * containment C(A→B) = |S_A ∩ S_B| / |S_A|, both directions, plus
    * the symmetric Jaccard and a `quote_like` flag (one side ≥ 0.8
    * contained while Jaccard < 0.5 — high-asymmetry pairs, the
    * quotation/boilerplate-inclusion signature).
    *
    * Same scale shape as [[q_dedup_minhash]] (shared candidate
    * generation + text-ride regroup — one band shuffle, exact math
    * on candidates only). Recall caveat inherited and sharper: LSH
    * bands are tuned for RESEMBLANCE, so low-Jaccard/high-containment
    * pairs are surfaced only when a band happens to collide; the
    * dedicated scale path for exhaustive quote detection is the
    * winnowing fingerprint join ([[q_overlap]]), which keys on shared
    * grams directly. This operator scores what LSH surfaces.
    *
    * Oracle parity: per-pair integer set sizes; each score is one
    * IEEE division rounded at 10; the flag compares ROUNDED values so
    * both engines branch identically.
    */
  /** Dedup threshold-sweep report — the tuning table consulted BEFORE
    * committing a corpus-wide dedup pass: for each candidate Jaccard
    * cutoff (0.900 … 0.990 per-mille — MEASURED against the confirmed
    * pair distribution: this band geometry only surfaces resemblance
    * ≥ ~0.9, where the pairs spread 0.90-0.99; a 0.5-0.9 sweep
    * verified the same number four times), how many confirmed pairs
    * clear it, how many
    * distinct documents those pairs touch, and how many tokens ride
    * on the touched documents (the upper bound on what resolution
    * could reclaim). On 100 TB you read this 5-row table and pick τ
    * instead of re-running the full cluster+resolve pipeline per
    * candidate.
    *
    * Determinism: thresholds compare against the ROUNDED jaccard via
    * `jaccard >= thr/100.0` — thr/100.0 is the same IEEE division in
    * both engines and jaccard doubles are bit-identical (the
    * established rounded-compare stance), so both engines branch
    * identically. Counts and token sums are exact longs; absent
    * thresholds (no pair clears 0.9) keep a zero row via the literal
    * spine.
    *
    * Scale shape: the confirmed pair table is computed ONCE and
    * checkpointed (it feeds the pair count and both distinct-doc
    * branches — the twice-referenced-state rule); everything after is
    * pair-sized (threshold explode = ×5) plus one join of the
    * involved-doc list against a scan-side token count. Nothing
    * corpus-scale shuffles beyond what candidate generation paid.
    */
  def q_dedup_savings(s: SparkSession, d: String): DataFrame = {
    val thresholds = Seq(900L, 925L, 950L, 975L, 990L)
    // the shared artifact arrives checkpointed — read by the pair
    // count AND both doc branches (the twice-referenced rule)
    val pairs = SharedDedup.pairs(s, d, HashFamily.fromConf(s))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val pt = pairs
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(typedLit(thresholds)).as("thr_mille"))
      .filter(col("jaccard") >= col("thr_mille") / lit(1000.0))
    val perThr = pt.groupBy("thr_mille").agg(count(lit(1)).as("n_pairs"))
    val involved = pt.select(col("thr_mille"), col("doc_a").as("doc_id"))
      .unionAll(pt.select(col("thr_mille"), col("doc_b").as("doc_id")))
      .distinct()
    val toks = documents(s, d).select(col("doc_id"),
      size(split(col("text"), "\\s+", -1)).cast("long").as("n_toks"))
    val docAgg = involved.join(toks, Seq("doc_id")).groupBy("thr_mille")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    import s.implicits._
    thresholds.toDF("thr_mille")
      .join(perThr, Seq("thr_mille"), "left")
      .join(docAgg, Seq("thr_mille"), "left")
      .select(col("thr_mille"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy("thr_mille")
  }

  def q_containment(s: SparkSession, d: String): DataFrame = {
    val cand = SharedDedup.cand(s, d, HashFamily.fromConf(s))
    val sides = cand.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    // let-bound (inter, na, nb) struct: each shingle array is bound
    // as a lambda variable of a singleton transform so it is built
    // ONCE per pair even though two fields reference it (the
    // q_repetition lesson applied at birth); the struct itself sits
    // in its own projection so the three scores' field reads stay
    // reads (CollapseProject won't inline it)
    val stats = element_at(
      transform(array(distinctShingles3(s, col("t_a"))), shA =>
        element_at(
          transform(array(distinctShingles3(s, col("t_b"))), shB =>
            struct(size(array_intersect(shA, shB)).cast("long").as("inter"),
              size(shA).cast("long").as("na"),
              size(shB).cast("long").as("nb"))), 1)), 1)
    val jac = round(col("st.inter").cast("double") /
      (col("st.na") + col("st.nb") - col("st.inter")), 10)
    val ca = round(col("st.inter").cast("double") / col("st.na"), 10)
    val cb = round(col("st.inter").cast("double") / col("st.nb"), 10)
    sides.join(documents(s, d).select(col("doc_id"), col("text")), Seq("doc_id"))
      .groupBy("doc_a", "doc_b")
      .agg(
        max(when(col("doc_id") === col("doc_a"), col("text"))).as("t_a"),
        max(when(col("doc_id") === col("doc_b"), col("text"))).as("t_b"))
      .filter(col("t_a").isNotNull && col("t_b").isNotNull)
      .select(col("doc_a"), col("doc_b"), stats.as("st"))
      .select(col("doc_a"), col("doc_b"),
        jac.as("jaccard"), ca.as("containment_a"), cb.as("containment_b"),
        (greatest(ca, cb) >= 0.8 && jac < 0.5).as("quote_like"))
      .orderBy("doc_a", "doc_b")
  }

  /** Pairwise word-3-gram Jaccard over a bounded window of documents
    * (doc_id < 40 ⇒ 780 pairs): the exact-verification kernel that
    * LSH candidates feed at scale. Never run unbounded — the LSH query
    * above is the scale path; this exists to oracle-check the kernel.
    */
  def q_ngram_jaccard(s: SparkSession, d: String): DataFrame = {
    // text.isNotNull (r15 ADVICE): the distinct_grams kernel returns
    // NULL for null text where the old HOF built [NULL] and DuckDB's
    // list_distinct builds [] — a null-text doc would score -1/-1 ⇒
    // jaccard 1.0 against every partner. Null docs don't participate
    // (the winnowFps convention); the oracle SQL pins the same filter.
    val sh = documents(s, d)
      .filter(col("doc_id") < 40 && col("text").isNotNull)
      .select(col("doc_id"), distinctShingles3(s, col("text")).as("sh"))
    sh.as("a")
      .join(broadcast(sh.as("b")), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))), 10).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Winnowing positional fingerprints (the MOSS algorithm; Schleimer
    * et al. 2003): hash every word k-gram, then in each window of
    * `win` consecutive k-gram hashes select the minimum (leftmost on
    * ties) and record it WITH its gram position. The winnowing
    * guarantee: any shared substring of ≥ win+k−1 words between two
    * documents yields at least one identical (fp) selection in both —
    * so joining fingerprint tables localizes WHERE documents overlap,
    * the primitive behind exact-substring contamination localization
    * (Lee et al. 2022 dedup) that whole-document hashes (q_minhash,
    * q_simhash) cannot provide. Density is ~2/(win+1) of grams —
    * a bounded, position-carrying sample.
    *
    * Scale shape: entirely row-local array expressions (k-grams →
    * per-gram md5 hash60 → windowed struct-min → array_distinct)
    * pipelined in the scan stage, then one explode — zero shuffle,
    * O(tokens) work, fingerprint output ≈ 2·tokens/(win+1) rows. The
    * downstream overlap join shuffles only (fp, doc, pos) triples.
    * Short docs (< k words) fall back to a single whole-text gram,
    * so exact short-text matches still fingerprint.
    */
  def q_winnow(s: SparkSession, d: String, k: Int = 4, win: Int = 4): DataFrame =
    winnowFps(s, d, k, win).orderBy("doc_id", "pos")

  /** Unsorted winnowing fingerprint table — the internal form
    * [[q_overlap]] consumes (its joins re-shuffle immediately, so the
    * presentation sort would be wasted).
    */
  private[graft] def winnowFps(
      s: SparkSession, d: String, k: Int = 4, win: Int = 4): DataFrame =
    // fingerprint rows ≈ 2·tokens/(win+1) of three longs — the
    // pair-scale artifact class (graph.coEdges precedent), and the
    // md5-heavy build was re-run up to 3× inside q_overlap alone
    // (rare slice + both self-join sides) plus once more by q_winnow:
    // build once per (app, dir, k, win), every consumer rebases
    graft.plans.SharedState.cachedDf(s, s"dedup.winnow.$k.$win", d,
      Seq("documents.parquet"))(winnowFpsOf(s, d, k, win))

  private def winnowFpsOf(
      s: SparkSession, d: String, k: Int, win: Int): DataFrame = {
    val hashes = transform(wordGramsC(s, col("text"), k, fallback = true),
      g => graft.functions.HashFunctions.md5WindowU(g, 1, 15))
    // (hash, 0-based position) structs: struct ordering is
    // field-by-field, so array_min = smallest hash, leftmost on ties
    val hp = transform(hashes, (h, i) => struct(h.as("h"), i.cast("long").as("p")))
    // LET-BINDING, not a named column: the window selection references
    // the gram-hash array once per window, and routing it through a
    // projection attribute leaves the evaluation subject to plan
    // rewrites that re-inline the md5 pipeline into every slice —
    // measured 98s for sf0.1's 270k grams (O(grams²) hashing) vs 3.7s
    // let-bound. transform over a singleton array binds hp to a lambda
    // variable, which HOF evaluation materializes exactly once per row.
    val sel = element_at(
      transform(array(hp), hpv =>
        array_distinct(transform(
          sequence(lit(0), greatest(size(hpv) - (win - 1), lit(1)) - 1),
          j => array_min(slice(hpv, j + 1, lit(win)))))), 1)
    documents(s, d)
      // a NULL document has no fingerprints — without this filter the
      // [null]-gram fallback would emit a (pos 0, fp null) row, and
      // null rows in a fingerprint table poison downstream overlap
      // joins (null never equi-matches, but the rows inflate counts)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(sel).as("s"))
      .select(col("doc_id"),
        col("s").getField("p").as("pos"),
        col("s").getField("h").as("fp"))
  }

  /** Cross-document overlap localization — the consumer of
    * [[q_winnow]]'s fingerprint table: documents sharing winnowed
    * fingerprints, with how many they share and WHERE (the position
    * span on each side). This is the report an exact-substring
    * decontamination pass acts on: n_shared ≥ 2 with a tight span is
    * a copied passage; the spans say what to cut.
    *
    * Scale shape: fingerprints whose document frequency is outside
    * [2, maxDocs] are dropped FIRST (df ≤ 1 can't pair; df > maxDocs
    * is a stop-phrase whose pair count grows quadratically — same cap
    * stance as candidatePairs' maxBucket), so the self-join runs on
    * the rare-fp slice only: one fp-keyed shuffle, pair emission
    * bounded by maxDocs per fingerprint, one (doc_a, doc_b) regroup.
    * No corpus text moves — only (fp, doc, pos) triples.
    */
  def q_overlap(s: SparkSession, d: String, maxDocs: Int = 10): DataFrame = {
    val fp = winnowFps(s, d)
    val rare = fp.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDocs)
      .select("fp")
    val f2 = fp.join(rare, "fp")
    f2.as("a").join(f2.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(
        countDistinct(col("a.fp")).as("n_shared"),
        min(col("a.pos")).as("a_from"), max(col("a.pos")).as("a_to"),
        min(col("b.pos")).as("b_from"), max(col("b.pos")).as("b_to"))
      .orderBy("doc_a", "doc_b")
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * 5-word n-gram with a held-out benchmark set (here: the
    * deterministic doc_id %% 100 < 2 slice stands in for an eval
    * suite). The canonical pre-training hygiene pass (GPT-3 appendix C
    * / PaLM style n-gram overlap).
    *
    * Scale shape: the benchmark side is SMALL by construction (eval
    * suites are thousands of docs, not billions), so its distinct
    * n-gram set broadcasts; the corpus side explodes its distinct
    * n-grams inside the scan stage and the broadcast hash join + one
    * map-side-combined count per doc is the only shuffle — O(hit docs)
    * rows, no corpus-wide pairing ever materializes. Short documents
    * (< 5 words) fall back to their full text as the single n-gram, so
    * exact short-text collisions still flag.
    */
  /** FUZZY benchmark decontamination — [[q_contamination]]'s exact
    * 5-gram overlap misses paraphrased leakage; this variant surfaces
    * near-matches via MinHash-LSH banding (the [[q_dedup_minhash]]
    * machinery pointed across the bench/corpus split instead of at a
    * self-join) and confirms with exact shingle Jaccard.
    *
    * Scale shape: the benchmark side is MODEL-sized relative to the
    * corpus (the real-world property of eval suites), so its band
    * table broadcasts and the corpus band stream is never
    * self-joined — no quadratic anywhere, candidates bounded by band
    * collisions against the tiny bench set. The signature table feeds
    * BOTH the corpus branch and the broadcast bench branch, so it is
    * localCheckpoint'd once (O(docs) rows of 8 longs — the round-8
    * twice-referenced-state rule: a second consumer of an
    * unmaterialized corpus-sized lineage means a second corpus pass,
    * inside the broadcast build). Confirm is the dedup family's
    * text-ride regroup: only candidate pairs' texts cross a shuffle.
    *
    * Output: every corpus doc with its confirmed-candidate count,
    * best-matching benchmark doc (highest exact Jaccard, ties on
    * bench_id — rounded-score ordering is engine-stable), and a
    * contaminated flag at Jaccard ≥ 0.5.
    */
  def q_contamination_fuzzy(s: SparkSession, d: String): DataFrame = {
    val bands = minhashBands(SharedDedup.sig(s, d, HashFamily.fromConf(s)))
    val bench = bands.filter(col("doc_id") % 100 < 2)
      .select(col("band"), col("doc_id").as("bench_id")).distinct()
    val cand = bands.filter(col("doc_id") % 100 >= 2)
      .join(broadcast(bench), "band")
      .select(col("doc_id"), col("bench_id")).distinct()
    // exact-Jaccard confirm via the dedup family's text-ride regroup
    val sides = cand.select(col("doc_id"), col("bench_id"),
      explode(array(col("doc_id"), col("bench_id"))).as("member"))
    val shA = distinctShingles3(s, col("t_a"))
    val shB = distinctShingles3(s, col("t_b"))
    val conf = sides
      .join(documents(s, d).select(col("doc_id").as("member"), col("text")),
        Seq("member"))
      .groupBy("doc_id", "bench_id")
      .agg(
        max(when(col("member") === col("doc_id"), col("text"))).as("t_a"),
        max(when(col("member") === col("bench_id"), col("text"))).as("t_b"))
      .filter(col("t_a").isNotNull && col("t_b").isNotNull)
      .select(col("doc_id"), col("bench_id"),
        round(size(array_intersect(shA, shB)).cast("double") /
          size(array_union(shA, shB)), 10).as("jaccard"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val best = conf
      .withColumn("rn", row_number().over(w.orderBy(desc("jaccard"), col("bench_id"))))
      .withColumn("n_cand", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_cand"),
        col("bench_id").as("best_bench_id"), col("jaccard").as("best_jaccard"))
    documents(s, d).select(col("doc_id")).filter(col("doc_id") % 100 >= 2)
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("best_bench_id"), col("best_jaccard"),
        coalesce(col("best_jaccard") >= 0.5, lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  def q_contamination(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), {
      graft.functions.TextFunctions.register(s)
      call_function("distinct_grams", col("text"), lit(5)).as("gs")
    })
    val bench = docs.filter(col("doc_id") % 100 < 2)
      .select(explode(col("gs")).as("g")).distinct()
    val corpus = docs.filter(col("doc_id") % 100 >= 2)
    val hits = corpus.select(col("doc_id"), explode(col("gs")).as("g"))
      .join(broadcast(bench), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    corpus.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** 63-bit SimHash per document. Bits derive from the first 16 hex
    * chars of md5(word) — engine-portable, so the DuckDB oracle can
    * reproduce the hash bit-for-bit. 63 bits, not 64, keeps the sign
    * bit clear so band shifts and thresholds behave identically on
    * both engines; not 32, because a narrow simhash over a corpus with
    * a shared vocabulary collapses (at sf0.1, 32 bits put 5000
    * nearly-all-distinct docs into so few values that 83k pairs
    * collided exactly — 63 bits cuts that by half and spreads the
    * hamming histogram). At production scale the same plan runs with
    * xxhash64 — one hash call instead of md5+conv, same
    * explode→codegen-agg shape.
    */
  def q_simhash(s: SparkSession, d: String): DataFrame =
    simhashes(s, d, HashFamily.fromConf(s)).orderBy("doc_id")

  /** Unsorted (doc_id, simhash) table shared by the signature query
    * and the banded dedup below, dispatched on [[HashFamily]] — both
    * branches emit a 63-bit non-negative simhash long, so band
    * slicing and Hamming confirm downstream are family-blind.
    */
  private[graft] def simhashes(
      s: SparkSession, d: String, family: HashFamily): DataFrame =
    family match {
      case HashFamily.Md5   => simhashesMd5(s, d)
      case HashFamily.Xxh64 => simhashesFast(s, d)
    }

  private def simhashesMd5(s: SparkSession, d: String): DataFrame = {
    // Same explode→codegen-agg shape as q_minhash (a 32×aggregate()
    // HOF stack would run interpreted): one md5 per distinct word,
    // then 32 codegen'd conditional sums; votes(bit) = Σ ±1, simhash
    // bit = votes > 0. Bit b lives in hex nibble b/4 (1-based char
    // position b/4+1), bit b%4 within the nibble.
    val hashed = fanOut(s, documents(s, d))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("word"))
      .select(col("doc_id"), substring(md5(col("word")), 1, 16).as("hx"))
      // decode the hex ONCE into two longs (chars 1-15 and 16) and
      // read bits with shifts — 2 string convs per row instead of 16.
      // Char 1 is the most significant nibble of `lo`, so bit b of
      // nibble j = char b/4+1 sits at lo bit 4*(14 - b/4) + b%4.
      .select(col("doc_id"),
        graft.functions.HashFunctions.hexWindowU(col("hx"), 1, 15).as("lo"),
        graft.functions.HashFunctions.hexWindowU(col("hx"), 16, 1).as("hi"))
    def bitOf(b: Int) =
      if (b < 60) shiftright(col("lo"), 4 * (14 - b / 4) + b % 4).bitwiseAND(1)
      else shiftright(col("hi"), b - 60).bitwiseAND(1)
    packedSimhash(hashed, bitOf)
  }

  /** DuckDB CTE block `w,h,v,s` computing the 63-bit SimHash per
    * document — bit b of the simhash = bit b%4 of hex nibble b/4 of
    * md5(word), identical in both engines. Shared by the q_simhash /
    * q_dedup_simhash / q_dup_clusters oracles.
    */
  private[graft] def duckSimhashCtes: String = {
    val votes = (0 until 63).map { b =>
      s"  sum(CASE WHEN (((strpos('0123456789abcdef', substr(hx,${b / 4 + 1},1)) - 1) >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n")
    val bits = (0 until 63).map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""w AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
       |h AS (SELECT doc_id, substr(md5(word),1,16) AS hx FROM w),
       |v AS (SELECT doc_id,
       |$votes
       |FROM h GROUP BY doc_id),
       |s AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM v)""".stripMargin
  }

  /** Packed 63-bit vote aggregation shared by both hash families:
    * votes_b > 0 ⟺ 2·Σbit_b > n, and Σbit_b is non-negative, so three
    * 21-bit counters pack into one long — 21 sum() buffers plus a
    * count instead of 63. `bitOf(b)` reads bit b of the per-word hash
    * (md5 hex-decode or xxhash64), 0/1. Lane headroom: ≤ 2^21 − 1
    * distinct words per document. Measured on the 8× dense probe: the
    * unpacked 63-buffer form was ~40% slower warm — aggregation state
    * width, not hashing, dominates the simhash stage.
    */
  private def packedSimhash(hashed: DataFrame, bitOf: Int => Column): DataFrame = {
    val lanes = (0 until 21).map { g =>
      (0 until 3).map(j => bitOf(3 * g + j) * lit(1L << (21 * j))).reduce(_ + _).as(s"p$g")
    }
    val packed = hashed.select(col("doc_id") +: lanes: _*)
    val aggs = (0 until 21).map(g => sum(col(s"p$g")).as(s"s$g")) :+ count(lit(1)).as("n")
    def bitSet(b: Int) = {
      val (g, j) = (b / 3, b % 3)
      shiftright(col(s"s$g"), 21 * j).bitwiseAND((1L << 21) - 1) * 2 > col("n")
    }
    val simhash = (0 until 63)
      .map(b => when(bitSet(b), lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    packed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
  }

  /** Production-scale simhash variant: one xxhash64 per word (its low
    * 63 bits vote directly) instead of md5 + hex decode — the same
    * explode→codegen-agg shape with ~4× cheaper hashing, mirroring
    * [[signaturesFast]]. Not DuckDB-reproducible (xxhash64 is
    * Spark-specific), so the oracle default stays md5; select it with
    * `spark.conf.set("spark.graft.hashFamily", "xxh64")` when the
    * corpus, not the oracle, is the point ([[HashFamily]]).
    */
  def simhashesFast(s: SparkSession, d: String): DataFrame = {
    val hashed = fanOut(s, documents(s, d))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("word"))
      .select(col("doc_id"), xxhash64(col("word")).as("h"))
    def bitOf(b: Int) = shiftright(col("h"), b).bitwiseAND(1)
    packedSimhash(hashed, bitOf)
  }

  /** SimHash near-dup pairs: band the 63-bit simhash into exactly
    * maxHamming+1 slices, take same-band doc pairs as candidates,
    * confirm with the exact Hamming distance. Pigeonhole gives
    * guaranteed recall *up to the bucket cap*: a pair within the
    * threshold differs in at most maxHamming bands, so at least one of
    * the maxHamming+1 bands matches — banding prunes the n² pair space
    * with zero false negatives (unlike MinHash-LSH's probabilistic
    * recall) PROVIDED no bucket the pair lands in overflows
    * `candidatePairs`' maxBucket cap. Two cap caveats, both deliberate
    * skew ceilings rather than accidents: (1) a pair whose every
    * matching band sits in an overflowed (≥ maxBucket) bucket is shed
    * with the bucket; (2) under the first-matching-band filter below, a
    * pair is owned by its FIRST matching band — if that band's bucket
    * overflowed, the pair drops even when a later matching band's
    * bucket was small (the pre-round-6 cross-band `distinct()` form
    * kept any surviving copy, at the price of a full candidate-pair
    * exchange). An overflowed band means ≥ maxBucket docs share a
    * 31-bit slice — a hash-collision class, not a near-dup community —
    * and shedding its quadratic pair work is the cap's purpose; recall
    * on corpora with no overflowing bucket (the oracle fixtures, and
    * any corpus after the cap-sized communities are handled upstream)
    * is exactly the pigeonhole guarantee.
    *
    * The band count is the MINIMUM the guarantee needs, deliberately:
    * fewer, wider bands are more discriminative, and on a
    * shared-vocabulary corpus that is the difference between a
    * candidate set near the confirmed set and a quadratic blow-up
    * (sf0.1, threshold 1: two 31/32-bit bands give 179k candidates
    * for 57k confirmed pairs; four 16-bit bands gave 2.76M).
    * Same scale shape as the other dedups: only (band, doc_id)
    * shuffles, candidatePairs caps degenerate bands, and the simhash
    * table re-joins by id for the cheap bit_count confirm.
    */
  def q_dedup_simhash(s: SparkSession, d: String, maxHamming: Int = 1): DataFrame =
    SharedDedup.simPairs(s, d, maxHamming).orderBy("doc_a", "doc_b")

  /** Unsorted (doc_a, doc_b, hamming) near-dup pairs — the internal
    * form ClusterOps consumes (its component loop re-shuffles the
    * pairs immediately, so the presentation sort would be wasted).
    */
  /** `family = null` (the default) resolves from the session conf at
    * call time — a sentinel, not an API value, kept because Scala
    * default expressions can't reference earlier parameters of the
    * same list. `fullRecall = true` restores the pre-round-6
    * cross-band `distinct()` ownership: a pair survives if ANY of its
    * matching bands' buckets is under the cap, not just the first —
    * the opt-in for recall-critical callers on skewed corpora, at the
    * price of a full exchange of every candidate pair. Identical
    * output whenever no bucket overflows (SimTextSpec pins this).
    */
  private[graft] def simhashPairs(
      s: SparkSession, d: String, maxHamming: Int = 1,
      family: HashFamily = null, fullRecall: Boolean = false): DataFrame = {
    val fam = Option(family).getOrElse(HashFamily.fromConf(s))
    bandedHammingPairs(simhashes(s, d, fam), "doc_id", "simhash",
      maxHamming, fullRecall)
  }

  /** The banded-Hamming near-pair kernel over ANY (id, hash) 63-bit
    * hash table — [[simhashPairs]]' pigeonhole machinery factored out
    * (r15) so the image-pHash family runs the IDENTICAL scale path
    * ([[graft.queries.Multimodal.q_media_dedup]]): maxHamming+1 bands,
    * so a pair within the Hamming threshold must agree exactly on at
    * least one band; candidates come from per-band bucket joins and
    * the exact bit_count confirm runs only on candidates. Emits
    * (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ maxHamming.
    */
  private[graft] def bandedHammingPairs(
      hashes: DataFrame, idCol: String, hCol: String,
      maxHamming: Int, fullRecall: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 8, s"maxHamming out of range: $maxHamming")
    val nBands = maxHamming + 1
    val width = 63 / nBands // last band takes the remainder bits
    // rename FIRST, band second: referencing the "simhash" alias in
    // the same select would be a lateral column alias, which the
    // analyzer refuses inside the Generate when hCol isn't literally
    // named "simhash" (the q_media_dedup path)
    val renamed = hashes.select(col(idCol).as("doc_id"), col(hCol).as("simhash"))
    // band i value lives in its own keyspace: i << 40 | slice
    val bands = renamed.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map { i =>
        val slice =
          if (i == nBands - 1) shiftright(col("simhash"), width * i)
          else shiftright(col("simhash"), width * i).bitwiseAND((1L << width) - 1)
        slice + lit(i.toLong << 40)
      }: _*)).as("band"))
    // Hamming confirm with ZERO extra passes: the simhash long rides
    // the bucket collection (candidatePairsTagged), so each candidate
    // pair already carries both hashes — no join back to the signature
    // table, whose other side would RECOMPUTE the whole vote
    // aggregation (no cross-branch reuse without a persist). The vote
    // aggregation — the corpus-scale term — now runs exactly once.
    //
    // Cross-band dedup WITHOUT a distinct: each pair is emitted only
    // from its FIRST matching band — both simhashes are in hand, so
    // "no earlier band also matched" is a codegen'd filter. The
    // distinct this replaces is a full exchange of every candidate
    // pair; on a dense-duplicate corpus (8× probe: 3.8M confirmed
    // pairs) that shuffle is a dominant term. Overflow nuance: a pair
    // whose first matching band overflowed the bucket cap is dropped
    // even if a later band's bucket was small (the distinct form kept
    // any surviving copy) — both are explicit cap semantics, and the
    // oracle-parity caveat (no bucket may overflow) is unchanged.
    val cand =
      if (fullRecall)
        candidatePairsTagged(bands, "band", "doc_id", "simhash", "a", "b")
      else
        candidatePairsTagged(bands, "band", "doc_id", "simhash", "a", "b",
          dedup = false, keepBucket = true)
    def sliceOf(sim: Column, j: Int): Column =
      if (j == nBands - 1) shiftright(sim, width * j)
      else shiftright(sim, width * j).bitwiseAND((1L << width) - 1)
    // band ids fit under bit 40 only when slices do (nBands >= 2);
    // with a single band no cross-band duplicate can exist anyway
    // (fullRecall's distinct already owns cross-band dedup)
    val firstMatch =
      if (fullRecall || nBands == 1) lit(true)
      else {
        val bandIdx = shiftright(col("band"), 40)
        (0 until nBands).map { j =>
          when(lit(j.toLong) < bandIdx,
            sliceOf(col("a").getField("_2"), j) =!= sliceOf(col("b").getField("_2"), j))
            .otherwise(lit(true))
        }.reduce(_ && _)
      }
    cand.filter(firstMatch)
      .select(
        col("a").getField("_1").as("doc_a"),
        col("b").getField("_1").as("doc_b"),
        bit_count(col("a").getField("_2").bitwiseXOR(col("b").getField("_2")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Block-level exact dedup — the line/paragraph-dedup stage of a
    * CCNet-style pipeline, adapted to this corpus's separator-free
    * text: documents are cut into consecutive `blockWords`-word blocks
    * and each block survives only at its FIRST corpus occurrence
    * (smallest (doc_id, pos)); later occurrences are dropped and the
    * document is re-assembled from its surviving blocks in order.
    * This removes boilerplate shared across documents (headers,
    * navigation, license text) that document-level dedup cannot see.
    *
    * Scale shape: two shuffles. (1) Ownership is a row_number window
    * over the block-hash partition — one exchange keyed on md5(block),
    * with the block text riding so no second corpus-scale join is
    * needed to re-attach it (the alternative — shuffling (hash, doc,
    * pos) only and joining decisions back — pays a second full-corpus
    * exchange; riding the text once is strictly cheaper). (2) The
    * per-document regroup re-assembles surviving text. Both are
    * map-side-combinable aggregations over corpus-linear rows; no
    * state grows with corpus size beyond the shuffle itself. At 100 TB
    * a pipeline that only needs drop DECISIONS (not rebuilt text)
    * omits the kept_text column and the regroup moves hashes only.
    *
    * Null documents pass through with zero blocks (counts 0, null
    * text); empty documents form one empty block that dedups like any
    * other content. A fully-duplicated document keeps an EMPTY string
    * (0 surviving blocks), distinct from the null passthrough.
    */
  /** Consecutive `blockWords`-word block strings of `text`, as an
    * array column. Let-bound word array (see shinglesN): inline, each
    * block's slice would re-split the whole document —
    * O(words²/blockWords) work. Shared by [[q_dedup_block]] and
    * [[q_boilerplate]].
    */
  private def blockSlices(blockWords: Int): Column = element_at(
    transform(array(split(col("text"), " ")), ws =>
      transform(
        sequence(lit(0),
          ceil(size(ws) / lit(blockWords.toDouble)).cast("int") - 1),
        i => concat_ws(" ", slice(ws, i * blockWords + 1, lit(blockWords))))),
    1)

  def q_dedup_block(s: SparkSession, d: String, blockWords: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(blockSlices(blockWords)).as(Seq("pos", "block")))
    val own = Window.partitionBy(md5(col("block"))).orderBy(col("doc_id"), col("pos"))
    val flagged = blocks.withColumn("kept", row_number().over(own) === 1)
    val perDoc = flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_blocks"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      array_join(
        transform(
          filter(array_sort(collect_list(struct(col("pos"), col("kept"), col("block")))),
            x => x.getField("kept")),
          x => x.getField("block")), " ").as("kept_text"))
    documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("kept_text"))
      .orderBy("doc_id")
  }

  /** Boilerplate removal by document frequency — the C4/RefinedWeb
    * line-dedup rule adapted to this corpus's separator-free text:
    * any `blockWords`-word block occurring in at least `minDf`
    * DISTINCT documents is boilerplate (headers, navigation, license
    * text) and is removed from EVERY document. Complementary to
    * [[q_dedup_block]]'s first-occurrence ownership (which keeps one
    * copy — right for content dedup, wrong for boilerplate: the first
    * document does not deserve the navigation bar either).
    *
    * Scale shape: the same two exchanges as q_dedup_block. (1) One
    * block-hash exchange computes the distinct-document frequency with
    * two window functions over the SAME partition key (dense_rank by
    * doc_id, then its partition max) — no groupBy+join round trip and,
    * unlike `collect_set(doc_id)` over the window, no O(df) per-row
    * state (a hot block's df is the whole corpus). Block text rides
    * the exchange once (the q_dedup_block trade). (2) The per-document
    * regroup re-assembles surviving text. A pipeline needing only drop
    * decisions omits kept_text and the regroup moves hashes only.
    *
    * Null documents pass through (null kept_text, zero counts); a doc
    * that is entirely boilerplate keeps an EMPTY string, distinct from
    * the null passthrough. Counts are exact BIGINTs.
    */
  def q_boilerplate(s: SparkSession, d: String, blockWords: Int = 20,
      minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(blockSlices(blockWords)).as(Seq("pos", "block")))
    val wRank = Window.partitionBy(md5(col("block"))).orderBy(col("doc_id"))
    val wAll  = Window.partitionBy(md5(col("block")))
    val flagged = blocks
      .withColumn("dr", dense_rank().over(wRank))
      .withColumn("kept", max(col("dr")).over(wAll) < minDf)
    val perDoc = flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_blocks"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      array_join(
        transform(
          filter(array_sort(collect_list(struct(col("pos"), col("kept"), col("block")))),
            x => x.getField("kept")),
          x => x.getField("block")), " ").as("kept_text"))
    documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("kept_text"))
      .orderBy("doc_id")
  }

  /** Exact substring-level dedup — the Lee et al. 2021 ExactSubstr
    * stage ("Deduplicating Training Data Makes Language Models
    * Better"), re-expressed distributively: remove from every
    * document the token spans that duplicate text seen earlier in the
    * corpus. Where [[q_dedup_block]] dedups FIXED disjoint blocks
    * (a span straddling a block boundary survives) and q_substr_runs
    * only LOCALIZES pair overlaps, this operator resolves duplicated
    * spans at every token offset corpus-wide:
    *
    *  1. every consecutive `k`-token window of every document is
    *     fingerprinted (stride 1 — the every-k-gram equivalent of the
    *     paper's suffix-array match enumeration: any duplicated span
    *     of length ≥ k contains at least one duplicated k-gram, and
    *     every duplicated k-gram witnesses a duplicated span);
    *  2. first-occurrence ownership: per distinct fingerprint the
    *     smallest (doc_id, pos) keeps the text, every later
    *     occurrence marks its k tokens duplicated — including later
    *     occurrences INSIDE the same document, so internal repetition
    *     (the paper's self-duplication case) dedups too;
    *  3. per document the marked [pos, pos+k−1] intervals merge into
    *     maximal spans (overlapping duplicated k-grams chain into one
    *     removed span, exactly how consecutive suffix matches chain).
    *
    * Output per non-null document: token count, duplicated-token
    * count, merged span count, kept tokens, and the ×1e6
    * round-half-up duplicated share. (The reconstruction of cleaned
    * text is the q_dedup_block regroup applied to the kept positions;
    * the decision columns are the pipeline artifact.)
    *
    * Scale shape: two corpus-sized exchanges. (1) Ownership is a
    * row_number window over the fingerprint partition — one exchange
    * keyed on md5(k-gram), the q_dedup_block stance (hot boilerplate
    * fingerprints make big window groups; the group's work is a scan,
    * and AQE's skew handling splits the preceding exchange). The
    * gram stream is ~n_tokens rows of (doc_id, pos, 32-char fp) —
    * production would swap md5 for xxhash64 ([[HashFamily]]) to halve
    * the hashed bytes; md5 keeps the DuckDB oracle bit-exact.
    * (2) Span merge is two windows PARTITIONED by doc_id over the
    * duplicated occurrences only (running max(e) then span-group
    * sums — the classic interval-merge recipe, O(dups) rows). The
    * token array is split twice (gram pass + token-count pass) — the
    * q_tfidf stance: two passes over token-scale state beat
    * materializing it.
    *
    * Non-degeneracy (measured before building, sf0.01): k=8 marks
    * 1086 of 23665 grams duplicated across 24 of 500 docs — real
    * signal, not a constant. Null documents report all-zero counts
    * via the left join (same as empty documents — no tokens).
    */
  def q_dedup_substr(s: SparkSession, d: String, k: Int = 8): DataFrame =
    substrDedupOf(documents(s, d), k)

  /** The span-resolution kernel of [[q_dedup_substr]], factored so
    * unit tests can drive it with hand-built (doc_id, text) rows and
    * pin the interval-merge semantics.
    */
  private[graft] def substrDedupOf(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.filter(col("text").isNotNull)
      .withColumn("w", expr("filter(split(text, ' '), x -> x <> '')"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("n_tokens"))
    // let-bound word array (the shinglesN rule); docs shorter than k
    // contribute no grams and fall out through the final left join
    val grams = toks.filter(col("n_tokens") >= k)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w) - ${k - 1}),
           |  p -> struct(CAST(p AS BIGINT) AS pos,
           |              md5(array_join(slice(w, p, $k), ' ')) AS fp))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.fp").as("fp"))
    val own = Window.partitionBy("fp").orderBy("doc_id", "pos")
    val dups = grams.withColumn("rn", row_number().over(own))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + (k - 1)).as("e"))
    // interval merge: a row starts a new span iff its start exceeds
    // the running max end of all earlier intervals; the running sum
    // of those starts is the span group id. (doc_id, s) is unique —
    // one k-gram per position — so ORDER BY s is a total order.
    val wDoc = Window.partitionBy("doc_id").orderBy("s")
    val spans = dups
      .withColumn("pmax", max(col("e")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ns",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("ns")).over(wDoc))
      .groupBy("doc_id", "grp")
      .agg(min(col("s")).as("ss"), max(col("e")).as("ee"))
    val perDoc = spans.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      sum(col("ee") - col("ss") + 1).as("dup_tokens"))
    docs.select(col("doc_id"))
      .join(toks.select("doc_id", "n_tokens"), Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (coalesce(col("n_tokens"), lit(0L)) -
          coalesce(col("dup_tokens"), lit(0L))).as("kept_tokens"),
        expr("""CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0
               |  ELSE (2 * coalesce(dup_tokens, 0) * 1000000 + n_tokens)
               |       div (2 * n_tokens) END""".stripMargin).as("dup_share_fp"))
      .orderBy("doc_id")
  }

  /** Sorted-neighborhood (SNM) near-duplicate detection — the classic
    * entity-resolution blocking family (Hernández & Stolfo 1995) the
    * inventory was missing next to its hash blocking
    * ([[q_dedup_block]]) and LSH ([[q_dedup_minhash]]): sort the
    * corpus by a normalization key, slide a window of `w` over the
    * sort order, and compare only neighbors. Where LSH bounds recall
    * probabilistically, SNM bounds it POSITIONALLY — any two
    * documents whose keys sort within w of each other are compared
    * exactly, which catches the prefix-stable edit families
    * (truncations, suffix boilerplate, small in-place edits) that
    * minhash's bag-of-shingles view dilutes. Candidates are confirmed
    * by edit distance ≤ `maxDist` on the normalized text —
    * `levenshtein` is codegen'd in Spark and mirrored by DuckDB's
    * `levenshtein` (both count unweighted character edits).
    *
    * The sort neighborhood is PARTITIONED by the 12-char key prefix:
    * the window runs inside each block, which is what makes the
    * operator distribute — a global-order window would serialize the
    * corpus through one task ([[graft.queries.Windows]] §empty-
    * partition rule). The prefix block is also the SNM trade
    * documented in the ER literature: pairs whose keys diverge within
    * the first 12 characters are not neighbors under ANY in-block
    * window; at 100 TB, widen the prefix to re-bound skewed blocks
    * (each extra character divides the expected block size by the
    * alphabet) rather than shrinking w.
    *
    * Scale shape: one shuffle on the block key, an in-block sort
    * window emitting ≤ w−1 lead pairs per row (O(w·n) candidates
    * total, never n²), and the edit-distance confirm runs only on
    * those candidates. 70 candidates / 24 confirms at sf0.01,
    * measured non-degenerate before building.
    */
  def q_dedup_sorted(s: SparkSession, d: String, w: Int = 4,
      maxDist: Int = 12): DataFrame =
    sortedNeighborPairs(documents(s, d), w, maxDist)

  /** The SNM kernel of [[q_dedup_sorted]], factored so unit tests can
    * drive it with hand-built (doc_id, text) rows.
    */
  private[graft] def sortedNeighborPairs(docs: DataFrame, w: Int,
      maxDist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val keyed = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), norm.as("norm"))
      .withColumn("blk", substring(col("norm"), 1, 12))
    val win = Window.partitionBy("blk").orderBy("norm", "doc_id")
    val withLeads = keyed.select(
      col("blk") +: col("doc_id") +: col("norm") +:
        (1 until w).flatMap(i => Seq(
          lead(col("doc_id"), i).over(win).as(s"id_$i"),
          lead(col("norm"), i).over(win).as(s"norm_$i"))): _*)
      .transform(graft.plans.Ckpt.maybe) // referenced w-1 times by the pair branches
    val pairs = (1 until w).map { i =>
      withLeads.filter(col(s"id_$i").isNotNull)
        .select(col("doc_id").as("a_id"), col(s"id_$i").as("b_id"),
          // the THRESHOLD overload runs the banded O(maxDist·n) DP
          // with early exit instead of the full O(n·m) matrix — the
          // dominant cost at scale since most neighbors are far
          // apart; it returns the exact distance when ≤ maxDist and
          // −1 otherwise, so kept rows carry identical values to the
          // oracle's plain levenshtein under `dist <= maxDist`
          levenshtein(col("norm"), col(s"norm_$i"), maxDist)
            .cast("long").as("dist"))
    }.reduce(_ unionAll _)
    pairs.filter(col("dist") =!= -1L)
      .orderBy("a_id", "b_id")
  }

  /** EXACT all-pairs similarity join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW 2007; Xiao et al., "Efficient Similarity
    * Joins for Near Duplicate Detection", WWW 2008): every document
    * pair with 3-gram-shingle-set Jaccard ≥ 1/2, with NO false
    * negatives — the exact complement to [[q_dedup_minhash]]'s
    * probabilistic LSH recall. Emits (doc_a, doc_b, n_inter, n_a,
    * n_b, j_fp) with the Jaccard as a ×1e6 round-half-up long.
    *
    * Why this is exact: order all shingles by ascending global
    * document frequency (rarest first, ties by hash — any consistent
    * total order works); for threshold t, two sets with J ≥ t MUST
    * share at least one of each other's first `|d| − ⌈t·|d|⌉ + 1`
    * elements (if the prefixes were disjoint, the intersection is
    * confined to the suffixes, too small to reach t). So bucketing by
    * prefix tokens generates a candidate superset, and the exact
    * verify keeps precisely the qualifying pairs. Candidate
    * generation runs on xxhash64 fingerprints (hash collisions can
    * only MERGE shingles, which raises hashed-set Jaccard — the
    * candidate superset only grows, never loses a pair); the verify
    * intersects the RAW shingle arrays, so the output is
    * collision-proof and independent of the internal ordering.
    *
    * Scale shape: df is one map-side-combined exchange; per-doc
    * ordering is a row-local array_sort after the df attach (shuffle
    * on fp, Zipf-bounded keys); candidate buckets hold only docs
    * whose PREFIX contains the token — prefixes are rare-token-heavy
    * by construction, so buckets stay small exactly where df is
    * large. The in-bucket PPJoin length filter (t·|A| ≤ |B| ≤ |A|/t)
    * prunes before the exchange-side distinct. The shingled corpus is
    * referenced three times (df build + both verify sides) →
    * checkpointed once, the signature-table rule. Worst-case remains
    * a stop-gram resident in many SHORT docs' prefixes (short docs
    * have proportionally long prefixes); the positional filter of
    * PPJoin and prefix-token df caps are the documented escalation
    * path — not needed at this corpus's measured bucket sizes.
    */
  def q_dedup_allpairs(s: SparkSession, d: String): DataFrame =
    // rebased on the shared shingle artifact (r14 verdict item 3):
    // dropping the fallback docs (fb) is exactly the old
    // fallbackToText=false + non-empty filter — docs of ≥3 words
    // always have ≥1 gram, sub-3-word docs never did
    allPairsFrom(SharedDedup.shingles(s, d).filter(!col("fb")).drop("fb"))

  /** The [[q_dedup_allpairs]] kernel over (doc_id, text) rows,
    * factored so unit tests can drive it with planted fixtures.
    */
  private[graft] def allPairsOf(input: DataFrame): DataFrame =
    allPairsFrom(input.filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_distinct(shinglesN(col("text"), 3, fallbackToText = false))
          .as("g"))
      .filter(size(col("g")) > 0)
      .select(col("doc_id"), col("g"),
        array_distinct(transform(col("g"), x => xxhash64(x))).as("fps"))
      .transform(graft.plans.Ckpt.maybe))

  /** [[allPairsOf]] on a pre-materialized (doc_id, g, fps) shingle
    * table — the [[SharedDedup]] consumption path. `docs` must be
    * materialized (referenced three times: df build + both verify
    * sides).
    */
  private def allPairsFrom(docs: DataFrame): DataFrame = {
    val ex = docs.select(col("doc_id"), explode(col("fps")).as("fp"))
    val dfreq = ex.groupBy("fp").agg(count(lit(1)).as("df"))
    // prefix for t = 1/2 over the HASHED set of size n:
    // p = n − ⌈n/2⌉ + 1 = ⌊n/2⌋ + 1
    // materialized ONCE: the prefix-entry table is referenced twice
    // (both sides of the in-bucket self-join below), and without the
    // checkpoint the whole lineage — explode, df attach, collect_list
    // aggregation (its exchange included), prefix explode — ran per
    // side, doubling the key's dominant cost (r15 opt: the benched
    // plan held the subtree twice). Each entry carries its 1-based
    // prefix POSITION for the PPJoin positional filter below.
    val pe = ex.join(dfreq, "fp")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("fp")))).as("ord"))
      .select(col("doc_id"), size(col("ord")).as("n"),
        posexplode(expr(
          "slice(transform(ord, x -> x.fp), 1, (size(ord) div 2) + 1)")))
      .select(col("doc_id"), col("n"), col("col").as("fp"),
        (col("pos") + 1).as("p"))
      .transform(graft.plans.Ckpt.maybe)
    // PPJoin positional filter (Xiao 2008), r15 opt: overlap between
    // two df-ordered sets that first agree at positions (p_a, p_b) is
    // at most 1 + min(n_a − p_a, n_b − p_b) (the matched token plus
    // the shorter remaining suffix; for the FIRST common token no
    // earlier common token exists, so the bound is exact-valid, and
    // the first common token maximizes the bound over a pair's match
    // instances — filtering every instance then distinct keeps a pair
    // iff its best bound passes, an exact candidate superset). At
    // J ≥ 1/2 the requirement is 3·o ≥ n_a + n_b; measured sf0.1:
    // 310k → 125k candidates, identical 256 survivors.
    val cand = pe.as("a").join(pe.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
          // PPJoin length filter for t = 1/2: sizes within 2x
          col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2 &&
          (lit(1) + least(col("a.n") - col("a.p"), col("b.n") - col("b.p")))
            * 3 >= col("a.n") + col("b.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Two-phase verify (r15 opt): phase 1 intersects the LONG
    // fingerprint arrays — every common raw gram maps to a common fp,
    // so |fps_a ∩ fps_b| ≥ |g_a ∩ g_b| and |g| ≥ |fps| per side;
    // a true pair (3·|g∩| ≥ |g_a|+|g_b|) therefore always satisfies
    // 3·|fps∩| ≥ |fps_a|+|fps_b| — collision-safe up to INTRA-
    // intersection collisions (r15 ADVICE correction: an xxhash64
    // collision between two distinct COMMON grams of a borderline
    // pair shrinks |fps∩| by 1 but |fps_a|+|fps_b| by only 2, so
    // that pair could be pruned — ~2⁻⁶⁴ per gram pair, the same
    // trust level as the MinHash stack). Phase 2 runs the exact
    // RAW-gram intersect
    // on the survivors only, so the declared output is unchanged
    // while the expensive string-array join touches ~256 rows, not
    // ~125k (measured verify 4.8 → ~1.5 s).
    val fpsA = docs.select(col("doc_id").as("doc_a"), col("fps").as("fa"))
    val fpsB = docs.select(col("doc_id").as("doc_b"), col("fps").as("fb2"))
    val pre = cand
      .join(fpsA, "doc_a")
      .join(fpsB, "doc_b")
      .filter(size(array_intersect(col("fa"), col("fb2"))) * 3
        >= size(col("fa")) + size(col("fb2")))
      .select(col("doc_a"), col("doc_b"))
    pre
      .join(docs.select(col("doc_id").as("doc_a"), col("g").as("ga")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("g").as("gb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("n_inter"),
        size(col("ga")).cast("long").as("n_a"),
        size(col("gb")).cast("long").as("n_b"))
      .filter(expr("3 * n_inter >= n_a + n_b")) // J >= 1/2, cross-multiplied
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"),
        expr("""(2 * n_inter * 1000000 + (n_a + n_b - n_inter))
               | div (2 * (n_a + n_b - n_inter))""".stripMargin).as("j_fp"))
      .orderBy("doc_a", "doc_b")
  }

  /** The winnowing fingerprint table as a reusable CTE chain ending in
    * `wfp(doc_id, pos, fp)` — shared by the q_winnow and q_overlap
    * oracles so the selection logic cannot drift between them. Mirrors
    * DedupOps.winnowFps: word 4-grams (whole-text fallback under 4
    * words, NULL docs contribute nothing), hash60 per gram, windows of
    * 4, leftmost-min selection, 0-based gram positions.
    */
  private lazy val duckWinnowFps: String = {
    val h60 = duckHexValue("md5(x)", 1, 15)
    s"""t AS (
       |  SELECT doc_id, CASE WHEN len(w) >= 4
       |    THEN [array_to_string(w[i:i+3], ' ') for i in range(1, len(w)-2)]
       |    ELSE [text] END AS gs
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
       |        WHERE text IS NOT NULL)),
       |h AS (SELECT doc_id, [$h60 for x in gs] AS hs FROM t),
       |wdw AS (SELECT doc_id, hs,
       |        unnest(range(0, greatest(len(hs) - 3, 1))) AS j FROM h),
       |sel AS (SELECT doc_id,
       |         CAST(j + list_position(hs[j+1 : j+4], list_min(hs[j+1 : j+4])) - 1
       |              AS BIGINT) AS pos,
       |         list_min(hs[j+1 : j+4]) AS fp
       |        FROM wdw),
       |wfp AS (SELECT DISTINCT doc_id, pos, fp FROM sel)""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    // winnowing: 4-gram hash60 values (15-nibble md5 bridge), windows
    // of 4, leftmost-min selection with 0-based gram positions —
    // list_position finds the first (leftmost) occurrence, matching
    // Spark's (h, p) struct-min tie rule; short docs fall back to one
    // whole-text gram like q_contamination
    Key("q_winnow", (s, d) => q_winnow(s, d),
      s"""WITH $duckWinnowFps
         |SELECT doc_id, pos, fp FROM wfp
         |ORDER BY doc_id, pos""".stripMargin),
    // overlap localization over the winnow table: fps in 2..10 docs
    // only (df<2 can't pair, df>10 is a stop-phrase cap), self-join on
    // fp, span aggregation per ordered doc pair
    Key("q_overlap", (s, d) => q_overlap(s, d),
      s"""WITH $duckWinnowFps,
         |rare AS (SELECT fp FROM wfp GROUP BY fp
         |         HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
         |f2 AS (SELECT wfp.* FROM wfp JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(DISTINCT a.fp) AS n_shared,
         |  min(a.pos) AS a_from, max(a.pos) AS a_to,
         |  min(b.pos) AS b_from, max(b.pos) AS b_to
         |FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin),
    // same benchmark slice (doc_id % 100 < 2) and 5-gram fallback-to-
    // full-text rule as DedupOps.q_contamination
    Key("q_contamination", q_contamination _,
      """WITH g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 5
        |    THEN [array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3)]
        |    ELSE [text] END) AS gs
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
        |bench AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 100 < 2),
        |corpus AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id % 100 >= 2),
        |hits AS (SELECT doc_id, count(*) AS n_hits
        |         FROM corpus JOIN bench USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM g WHERE doc_id % 100 >= 2) d
        |LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // MinHash values are the first 15 hex chars of the seeded md5 read
    // as a 60-bit BIGINT (see DedupOps.signatures for why long, not
    // hex-string): md5 once per (seed, shingle), then the hex→int
    // nibble arithmetic of duckHashDraw applied to the 15-char prefix.
    Key("q_minhash", q_minhash _,
      s"""WITH sh AS (
         |  SELECT doc_id, CASE WHEN len(w) >= 3
         |    THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
         |    ELSE [text] END AS shingles
         |  FROM (SELECT doc_id, text, string_split(text,' ') AS w FROM documents))
         |SELECT doc_id,
         |${(1 to 8).map(i => s"  ${duckMinhash(i)} AS h$i").mkString(",\n")}
         |FROM sh ORDER BY doc_id""".stripMargin),
    // Carries no maxBucket cap (same caveat as q_sim_lsh /
    // q_dedup_simhash): parity holds while no band bucket exceeds
    // candidatePairs' 10k ceiling — an overflowed bucket would make
    // the Spark side drop pairs the oracle keeps. Cap drop semantics
    // are unit-tested separately.
    Key("q_dedup_minhash", q_dedup_minhash _,
      """WITH sh AS (
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
        |-- shingles = [NULL] iff text IS NULL (the short-text fallback
        |-- wraps the raw text): null-text docs leave dsh, so the inner
        |-- join drops their pairs — mirroring the Spark regroup's
        |-- t_a/t_b IS NOT NULL invariant (a null doc confirms nothing)
        |dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh
        |        WHERE NOT (len(shingles) = 1 AND shingles[1] IS NULL))
        |SELECT doc_a, doc_b,
        |  round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)), 10) AS jaccard
        |FROM cand JOIN dsh x ON x.doc_id = doc_a JOIN dsh y ON y.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin
        .replace("SIG_COLUMNS",
          (1 to 8).map(i => s"    ${duckMinhash(i)} AS h$i").mkString(",\n"))),
    // Threshold sweep: the q_dedup_minhash pair CTEs, thresholds via
    // unnest, rounded-jaccard >= thr/100.0 compare (identical IEEE
    // division + bit-identical jaccard doubles → identical branches),
    // literal spine keeps zero rows
    Key("q_dedup_savings", q_dedup_savings _,
      """WITH sh AS (
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
        |thr AS (SELECT unnest([900, 925, 950, 975, 990]) AS thr_mille),
        |pt AS (SELECT t.thr_mille, m.doc_a, m.doc_b FROM mh m, thr t
        |       WHERE m.jaccard >= t.thr_mille / 1000.0),
        |pc AS (SELECT thr_mille, CAST(count(*) AS BIGINT) AS n_pairs
        |       FROM pt GROUP BY 1),
        |inv AS (SELECT DISTINCT thr_mille, doc_id FROM (
        |    SELECT thr_mille, doc_a AS doc_id FROM pt
        |    UNION ALL SELECT thr_mille, doc_b FROM pt)),
        |tk AS (SELECT doc_id, CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_toks
        |       FROM documents),
        |da AS (SELECT thr_mille, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |       FROM inv JOIN tk USING (doc_id) GROUP BY 1)
        |SELECT CAST(t.thr_mille AS BIGINT) AS thr_mille,
        |  coalesce(pc.n_pairs, 0) AS n_pairs,
        |  coalesce(da.n_docs, 0) AS n_docs,
        |  coalesce(da.n_tokens, 0) AS n_tokens
        |FROM thr t LEFT JOIN pc USING (thr_mille) LEFT JOIN da USING (thr_mille)
        |ORDER BY thr_mille""".stripMargin
        .replace("SIG_COLUMNS",
          (1 to 8).map(i => s"    ${duckMinhash(i)} AS h$i").mkString(",\n"))),
    // CDC: boundaries where the 4-gram hash60 = 0 mod 16; spans from
    // prepend/append of the boundary list; chunk fp = md5 of the
    // token slice; df across the corpus
    Key("q_cdc_chunks", (s, d) => q_cdc_chunks(s, d), {
      val h60g = duckHexValue("md5(array_to_string(w[p:p+3], ' '))", 1, 15)
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |           WHERE text IS NOT NULL),
         |b AS (SELECT doc_id, w, len(w) AS n,
         |        CASE WHEN len(w) >= 4 THEN
         |          [CAST(p - 1 AS BIGINT) FOR p IN range(1, len(w) - 2)
         |           IF ($h60g) % 16 = 0]
         |        ELSE [] END AS bpos
         |      FROM t),
         |c AS (SELECT doc_id, w,
         |        list_prepend(CAST(0 AS BIGINT),
         |          [CAST(p + 4 AS BIGINT) FOR p IN bpos]) AS starts,
         |        list_append([CAST(p + 3 AS BIGINT) FOR p IN bpos],
         |          CAST(n - 1 AS BIGINT)) AS ends
         |      FROM b),
         |u AS (SELECT doc_id, w,
         |        CAST(generate_subscripts(starts, 1) - 1 AS BIGINT) AS chunk_id,
         |        unnest(starts) AS st, unnest(ends) AS en
         |      FROM c),
         |ch AS (SELECT doc_id, chunk_id, st AS start_pos,
         |         en - st + 1 AS n_tokens,
         |         md5(array_to_string(w[st+1 : en+1], ' ')) AS chunk_fp
         |       FROM u WHERE st <= en),
         |dfc AS (SELECT chunk_fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |        FROM ch GROUP BY 1)
         |SELECT doc_id, chunk_id, start_pos, n_tokens, chunk_fp, df
         |FROM ch JOIN dfc USING (chunk_fp)
         |ORDER BY doc_id, chunk_id""".stripMargin
    }),
    // CDC savings: the same chunk CTE chain up to `ch`, source
    // attached, then per-(source, fp) and per-fp collapse; n_tokens
    // rides the fp group via min (content-determined)
    Key("q_cdc_savings", (s, d) => q_cdc_savings(s, d), {
      val h60g = duckHexValue("md5(array_to_string(w[p:p+3], ' '))", 1, 15)
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |           WHERE text IS NOT NULL),
         |b AS (SELECT doc_id, w, len(w) AS n,
         |        CASE WHEN len(w) >= 4 THEN
         |          [CAST(p - 1 AS BIGINT) FOR p IN range(1, len(w) - 2)
         |           IF ($h60g) % 16 = 0]
         |        ELSE [] END AS bpos
         |      FROM t),
         |c AS (SELECT doc_id, w,
         |        list_prepend(CAST(0 AS BIGINT),
         |          [CAST(p + 4 AS BIGINT) FOR p IN bpos]) AS starts,
         |        list_append([CAST(p + 3 AS BIGINT) FOR p IN bpos],
         |          CAST(n - 1 AS BIGINT)) AS ends
         |      FROM b),
         |u AS (SELECT doc_id, w,
         |        unnest(starts) AS st, unnest(ends) AS en
         |      FROM c),
         |ch AS (SELECT doc_id, en - st + 1 AS n_tokens,
         |         md5(array_to_string(w[st+1 : en+1], ' ')) AS chunk_fp
         |       FROM u WHERE st <= en),
         |chs AS (SELECT d.source, ch.n_tokens, ch.chunk_fp
         |        FROM ch JOIN documents d USING (doc_id)),
         |per AS (SELECT source, chunk_fp, CAST(count(*) AS BIGINT) AS cnt,
         |          CAST(min(n_tokens) AS BIGINT) AS tok
         |        FROM chs GROUP BY 1, 2),
         |sa AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chunks,
         |         CAST(count(*) AS BIGINT) AS n_unique_chunks,
         |         CAST(sum(cnt * tok) AS BIGINT) AS total_tokens,
         |         CAST(sum(tok) AS BIGINT) AS unique_tokens
         |       FROM per GROUP BY 1),
         |gp AS (SELECT chunk_fp, CAST(count(*) AS BIGINT) AS cnt,
         |          CAST(min(n_tokens) AS BIGINT) AS tok
         |        FROM chs GROUP BY 1),
         |ga AS (SELECT '(all)' AS source, CAST(sum(cnt) AS BIGINT) AS n_chunks,
         |         CAST(count(*) AS BIGINT) AS n_unique_chunks,
         |         CAST(sum(cnt * tok) AS BIGINT) AS total_tokens,
         |         CAST(sum(tok) AS BIGINT) AS unique_tokens
         |       FROM gp)
         |SELECT source, n_chunks, n_unique_chunks, total_tokens, unique_tokens,
         |  (2 * (total_tokens - unique_tokens) * 1000000 + total_tokens)
         |    // (2 * total_tokens) AS savings_fp
         |FROM (SELECT * FROM sa UNION ALL SELECT * FROM ga)
         |ORDER BY source""".stripMargin
    }),
    // Provenance matrix: q_dedup_minhash's pairs at jaccard >= 0.5
    // (compared on the ROUNDED value), sources attached both sides,
    // unordered (least, greatest) key
    Key("q_source_overlap", (s, d) => q_source_overlap(s, d),
      """WITH sh AS (
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
        |so AS (
        |  SELECT least(da.source, db.source) AS source_a,
        |         greatest(da.source, db.source) AS source_b
        |  FROM mh JOIN documents da ON da.doc_id = doc_a
        |          JOIN documents db ON db.doc_id = doc_b
        |  WHERE jaccard >= 0.5)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM so GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin
        .replace("SIG_COLUMNS",
          (1 to 8).map(i => s"    ${duckMinhash(i)} AS h$i").mkString(",\n"))),
    // Calibration: q_dedup_minhash's candidate CTEs plus the
    // signature-agreement count; every output column is an integer
    // (est = n_agree*125000 exactly; exact jaccard is x1e6
    // round-half-up on integer set sizes), so the compare is
    // bit-exact. NULL=NULL signature slots score 0 in both engines.
    Key("q_minhash_calib", q_minhash_calib _,
      """WITH sh AS (
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
        |agree AS (
        |  SELECT doc_a, doc_b, CAST(
        |    (CASE WHEN x.h1 = y.h1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN x.h2 = y.h2 THEN 1 ELSE 0 END) +
        |    (CASE WHEN x.h3 = y.h3 THEN 1 ELSE 0 END) +
        |    (CASE WHEN x.h4 = y.h4 THEN 1 ELSE 0 END) +
        |    (CASE WHEN x.h5 = y.h5 THEN 1 ELSE 0 END) +
        |    (CASE WHEN x.h6 = y.h6 THEN 1 ELSE 0 END) +
        |    (CASE WHEN x.h7 = y.h7 THEN 1 ELSE 0 END) +
        |    (CASE WHEN x.h8 = y.h8 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |  FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b),
        |dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh
        |        WHERE NOT (len(shingles) = 1 AND shingles[1] IS NULL)),
        |ex AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
        |    CAST(len(list_distinct(a.s || b.s)) AS BIGINT) AS uni
        |  FROM cand JOIN dsh a ON a.doc_id = doc_a JOIN dsh b ON b.doc_id = doc_b)
        |SELECT p.doc_a, p.doc_b, n_agree,
        |  CAST(n_agree * 125000 AS BIGINT) AS est_jaccard_fp,
        |  CAST((2 * 1000000 * inter + uni) // (2 * uni) AS BIGINT) AS exact_jaccard_fp,
        |  CAST(n_agree * 125000 - (2 * 1000000 * inter + uni) // (2 * uni) AS BIGINT) AS err_fp
        |FROM agree p JOIN ex USING (doc_a, doc_b)
        |ORDER BY p.doc_a, p.doc_b""".stripMargin
        .replace("SIG_COLUMNS",
          (1 to 8).map(i => s"    ${duckMinhash(i)} AS h$i").mkString(",\n"))),
    // Exact run localization: every 8-gram hash60 with its position,
    // df-bounded rare slice, fp self-join, gaps-and-islands on the
    // (pair, diagonal) partition; run length = gram count + 7
    Key("q_substr_runs", (s, d) => q_substr_runs(s, d), {
      val h60 = duckHexValue("hx", 1, 15)
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
         |           WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, unnest(range(1, len(w) - 6)) AS i, w
         |      FROM t WHERE len(w) >= 8),
         |fpt AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, CAST($h60 AS BIGINT) AS fp
         |        FROM (SELECT doc_id, i, md5(array_to_string(w[i:i+7], ' ')) AS hx FROM g)),
         |rare AS (SELECT fp FROM fpt GROUP BY fp
         |         HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
         |f2 AS (SELECT fpt.* FROM fpt JOIN rare USING (fp)),
         |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
         |      FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |isl AS (SELECT *, pa - row_number()
         |          OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
         |        FROM m)
         |SELECT doc_a, doc_b, CAST(min(pa) AS BIGINT) AS a_from,
         |  CAST(min(pb) AS BIGINT) AS b_from,
         |  CAST(count(*) + 7 AS BIGINT) AS n_tokens
         |FROM isl GROUP BY doc_a, doc_b, diag, island
         |ORDER BY doc_a, doc_b, a_from, b_from""".stripMargin
    }),
    // Agreement: the q_dedup_minhash chain (sh/sig/bands/cand/dsh)
    // and the q_dedup_simhash chain (w/h/v/s — disjoint CTE names by
    // construction) full-outer joined on the pair key; flags are
    // presence booleans, scores ride where computed.
    Key("q_dedup_agreement", q_dedup_agreement _,
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
        |  SELECT doc_a AS ma, doc_b AS mb,
        |    round(CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / len(list_distinct(x.sset || y.sset)), 10) AS jaccard
        |  FROM cand JOIN dsh x ON x.doc_id = doc_a JOIN dsh y ON y.doc_id = doc_b),
        |$duckSimhashCtes,
        |shp AS (
        |  SELECT a.doc_id AS sa, b.doc_id AS sb,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM s a, s b
        |  WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 1)
        |SELECT coalesce(ma, sa) AS doc_a, coalesce(mb, sb) AS doc_b,
        |  ma IS NOT NULL AS in_minhash, sa IS NOT NULL AS in_simhash,
        |  jaccard, hamming
        |FROM mh FULL OUTER JOIN shp ON ma = sa AND mb = sb
        |ORDER BY doc_a, doc_b""".stripMargin
        .replace("SIG_COLUMNS",
          (1 to 8).map(i => s"    ${duckMinhash(i)} AS h$i").mkString(",\n"))),
    // Containment: q_dedup_minhash's candidate CTEs, with Broder
    // containment both directions + the quote_like flag compared on
    // ROUNDED values (both engines branch identically)
    Key("q_containment", q_containment _,
      """WITH sh AS (
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
        |dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh
        |        WHERE NOT (len(shingles) = 1 AND shingles[1] IS NULL)),
        |sc AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |      / len(list_distinct(x.s || y.s)), 10) AS jaccard,
        |    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(x.s), 10)
        |      AS containment_a,
        |    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(y.s), 10)
        |      AS containment_b
        |  FROM cand JOIN dsh x ON x.doc_id = doc_a JOIN dsh y ON y.doc_id = doc_b)
        |SELECT doc_a, doc_b, jaccard, containment_a, containment_b,
        |  (greatest(containment_a, containment_b) >= 0.8 AND jaccard < 0.5)
        |    AS quote_like
        |FROM sc ORDER BY doc_a, doc_b""".stripMargin
        .replace("SIG_COLUMNS",
          (1 to 8).map(i => s"    ${duckMinhash(i)} AS h$i").mkString(",\n"))),
    // Fuzzy decontamination: same sig/band CTEs as q_dedup_minhash,
    // but bands join corpus-side against bench-side (doc_id%100 split,
    // q_contamination's convention) instead of self-joining; exact
    // shingle Jaccard confirms; argmax via row_number on the rounded
    // score (engine-stable ordering), left join keeps clean docs.
    Key("q_contamination_fuzzy", q_contamination_fuzzy _,
      """WITH sh AS (
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
        |  SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
        |  FROM bands c JOIN bands b ON c.band = b.band
        |  WHERE c.doc_id % 100 >= 2 AND b.doc_id % 100 < 2),
        |dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh
        |        WHERE NOT (len(shingles) = 1 AND shingles[1] IS NULL)),
        |conf AS (
        |  SELECT cand.doc_id, cand.bench_id,
        |    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)), 10) AS jaccard
        |  FROM cand JOIN dsh x ON x.doc_id = cand.doc_id
        |            JOIN dsh y ON y.doc_id = cand.bench_id),
        |rb AS (
        |  SELECT doc_id, bench_id, jaccard,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, bench_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_cand
        |  FROM conf)
        |SELECT d.doc_id, coalesce(r.n_cand, 0) AS n_cand,
        |  r.bench_id AS best_bench_id, r.jaccard AS best_jaccard,
        |  coalesce(r.jaccard >= 0.5, false) AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 100 >= 2) d
        |LEFT JOIN (SELECT * FROM rb WHERE rn = 1) r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin
        .replace("SIG_COLUMNS",
          (1 to 8).map(i => s"    ${duckMinhash(i)} AS h$i").mkString(",\n"))),
    Key("q_ngram_jaccard", q_ngram_jaccard _,
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
        |    ELSE [text] END) AS s
        |  FROM (SELECT doc_id, text, string_split(text,' ') AS w FROM documents
        |        WHERE doc_id < 40 AND text IS NOT NULL))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)), 10) AS jaccard
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id ORDER BY doc_a, doc_b""".stripMargin),
    // AllPairs truth: the quadratic inverted-index form (co-occurring
    // pair intersection counts) — prefix filtering is EXACT, so the
    // scalable Spark plan must reproduce this byte for byte.
    Key("q_dedup_allpairs", q_dedup_allpairs _,
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |        WHERE text IS NOT NULL)
        |  WHERE len(w) >= 3),
        |e AS (SELECT doc_id, unnest(g) AS sh FROM sh),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |            CAST(count(*) AS BIGINT) AS n_inter
        |          FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b,
        |  (2 * n_inter * 1000000 + (sa.n + sb.n - n_inter))
        |    // (2 * (sa.n + sb.n - n_inter)) AS j_fp
        |FROM inter JOIN sz sa ON doc_a = sa.doc_id
        |           JOIN sz sb ON doc_b = sb.doc_id
        |WHERE 3 * n_inter >= sa.n + sb.n
        |ORDER BY doc_a, doc_b""".stripMargin),
    // Bit b of the simhash = bit b%4 of hex nibble b/4 of md5(word) —
    // identical strings, identical md5s, identical bits in both engines.
    Key("q_simhash", q_simhash _,
      s"""WITH $duckSimhashCtes
         |SELECT doc_id, simhash FROM s ORDER BY doc_id""".stripMargin),
    // banding is pure pruning (pigeonhole: maxHamming+1 bands — here
    // 2 bands for the default threshold 1, so a pair differing in <=1
    // bit leaves at least one band equal), so the oracle can skip it
    // and take ALL pairs within the Hamming threshold — same result by
    // theory, and the hash-match proves the banded path loses no
    // pairs. Like q_sim_lsh's oracle, this SQL carries no maxBucket
    // cap: parity holds while no band bucket exceeds candidatePairs'
    // 10k ceiling (an overflowed bucket would make the Spark side drop
    // pairs the oracle keeps; the cap's drop semantics are unit-tested
    // separately).
    Key("q_dedup_simhash", (s, d) => q_dedup_simhash(s, d),
      s"""WITH $duckSimhashCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM s a, s b
         |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY doc_a, doc_b""".stripMargin),
    // block-level exact dedup: 20-word blocks, first-occurrence
    // ownership by (doc_id, pos) via the same row_number window; DuckDB
    // 1-based inclusive slicing ws[a:b] == Spark slice(w, a, 20); a
    // fully-dropped doc keeps '' (coalesce of string_agg) on both
    // sides, a null doc keeps NULL via the left join
    Key("q_dedup_block", (s, d) => q_dedup_block(s, d),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents WHERE text IS NOT NULL),
        |b0 AS (SELECT doc_id, ws,
        |         unnest(range(0, CAST(ceil(len(ws)/20.0) AS BIGINT))) AS pos FROM d),
        |b AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |        array_to_string(ws[pos*20 + 1 : pos*20 + 20], ' ') AS block FROM b0),
        |f AS (SELECT doc_id, pos, block,
        |        (row_number() OVER (PARTITION BY md5(block) ORDER BY doc_id, pos)) = 1 AS kept
        |      FROM b),
        |p AS (SELECT doc_id, count(*) AS n_blocks,
        |        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |        coalesce(string_agg(CASE WHEN kept THEN block END, ' ' ORDER BY pos), '') AS kept_text
        |      FROM f GROUP BY doc_id)
        |SELECT doc.doc_id, coalesce(n_blocks, 0) AS n_blocks,
        |  coalesce(n_kept, 0) AS n_kept, kept_text
        |FROM documents doc LEFT JOIN p USING (doc_id)
        |ORDER BY doc.doc_id""".stripMargin),
    // exact substring-level dedup (Lee et al. 2021 style): every-8-gram
    // fingerprints, first-occurrence ownership (rn > 1 == Spark's
    // struct-min filter — (doc_id, pos) is unique per fp), then the
    // running-max interval merge; DuckDB list_slice is 1-based
    // inclusive == Spark slice(w, p, 8); sum() is HUGEINT -> CAST
    Key("q_dedup_substr", (s, d) => q_dedup_substr(s, d),
      """WITH toks AS (SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS w
        |       FROM documents WHERE text IS NOT NULL),
        |base AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tokens FROM toks),
        |grams AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |        md5(array_to_string(list_slice(w, p, p + 7), ' ')) AS fp
        |      FROM base, unnest(range(1, CAST(n_tokens - 6 AS BIGINT))) AS t(p)
        |      WHERE n_tokens >= 8),
        |marked AS (SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
        |      FROM grams),
        |dups AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM marked WHERE rn > 1),
        |m AS (SELECT doc_id, s, e,
        |        max(e) OVER (PARTITION BY doc_id ORDER BY s
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM dups),
        |flg AS (SELECT doc_id, s, e,
        |        CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS ns FROM m),
        |grp AS (SELECT doc_id, s, e,
        |        sum(ns) OVER (PARTITION BY doc_id ORDER BY s) AS g FROM flg),
        |spans AS (SELECT doc_id, g, min(s) AS ss, max(e) AS ee
        |      FROM grp GROUP BY doc_id, g),
        |per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |        CAST(sum(ee - ss + 1) AS BIGINT) AS dup_tokens
        |      FROM spans GROUP BY doc_id)
        |SELECT doc.doc_id,
        |  coalesce(b.n_tokens, 0) AS n_tokens,
        |  coalesce(p.dup_tokens, 0) AS dup_tokens,
        |  coalesce(p.n_spans, 0) AS n_spans,
        |  coalesce(b.n_tokens, 0) - coalesce(p.dup_tokens, 0) AS kept_tokens,
        |  CASE WHEN coalesce(b.n_tokens, 0) = 0 THEN 0
        |    ELSE (2 * coalesce(p.dup_tokens, 0) * 1000000 + b.n_tokens)
        |         // (2 * b.n_tokens) END AS dup_share_fp
        |FROM documents doc
        |LEFT JOIN base b USING (doc_id)
        |LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY doc.doc_id""".stripMargin),
    // sorted-neighborhood dedup: in-block lead window over the
    // normalized sort key, levenshtein confirm on candidates only;
    // regexp_replace needs the 'g' flag (DuckDB default replaces the
    // FIRST match; Spark replaces all)
    Key("q_dedup_sorted", (s, d) => q_dedup_sorted(s, d),
      """WITH k AS (SELECT doc_id,
        |         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |       FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, norm, substr(norm, 1, 12) AS blk FROM k),
        |w AS (SELECT blk, doc_id, norm,
        |        lead(doc_id,1) OVER sw AS id_1, lead(norm,1) OVER sw AS norm_1,
        |        lead(doc_id,2) OVER sw AS id_2, lead(norm,2) OVER sw AS norm_2,
        |        lead(doc_id,3) OVER sw AS id_3, lead(norm,3) OVER sw AS norm_3
        |      FROM b WINDOW sw AS (PARTITION BY blk ORDER BY norm, doc_id)),
        |p AS (SELECT doc_id AS a_id, id_1 AS b_id,
        |        CAST(levenshtein(norm, norm_1) AS BIGINT) AS dist
        |      FROM w WHERE id_1 IS NOT NULL
        |      UNION ALL SELECT doc_id, id_2, CAST(levenshtein(norm, norm_2) AS BIGINT)
        |      FROM w WHERE id_2 IS NOT NULL
        |      UNION ALL SELECT doc_id, id_3, CAST(levenshtein(norm, norm_3) AS BIGINT)
        |      FROM w WHERE id_3 IS NOT NULL)
        |SELECT a_id, b_id, dist FROM p WHERE dist <= 12
        |ORDER BY a_id, b_id""".stripMargin),
    // df = distinct docs per block via dense_rank + partition max
    // (mirrors the Spark two-window form); blocks with df >= 2 are
    // boilerplate and removed from ALL docs; n_kept CAST BIGINT
    // (DuckDB sum() returns HUGEINT — the q_corpus_report lesson)
    Key("q_boilerplate", (s, d) => q_boilerplate(s, d),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents WHERE text IS NOT NULL),
        |b0 AS (SELECT doc_id, ws,
        |         unnest(range(0, CAST(ceil(len(ws)/20.0) AS BIGINT))) AS pos FROM d),
        |b AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |        array_to_string(ws[pos*20 + 1 : pos*20 + 20], ' ') AS block FROM b0),
        |f AS (SELECT doc_id, pos, block,
        |        dense_rank() OVER (PARTITION BY md5(block) ORDER BY doc_id) AS dr
        |      FROM b),
        |g AS (SELECT doc_id, pos, block,
        |        (max(dr) OVER (PARTITION BY md5(block))) < 2 AS kept FROM f),
        |p AS (SELECT doc_id, count(*) AS n_blocks,
        |        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |        coalesce(string_agg(CASE WHEN kept THEN block END, ' ' ORDER BY pos), '') AS kept_text
        |      FROM g GROUP BY doc_id)
        |SELECT doc.doc_id, coalesce(n_blocks, 0) AS n_blocks,
        |  coalesce(n_kept, 0) AS n_kept, kept_text
        |FROM documents doc LEFT JOIN p USING (doc_id)
        |ORDER BY doc.doc_id""".stripMargin),
  )
}
