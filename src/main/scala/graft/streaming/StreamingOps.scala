package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming variants of the windowed operators
  * (SURVEY.md §2.10). The reference is one-shot batch (main.rs:4-28);
  * these expose the same *column logic* as the batch queries in
  * graft.queries.TimeSeries, applied to an unbounded source — the
  * DataFrame transformations are identical, only the source/sink and
  * watermark differ. Each takes any streaming (or batch) DataFrame
  * with the events schema (ts timestamp, event_type string,
  * user_id long, value double, event_id long).
  *
  * Scale notes: state store size is bounded by the watermark horizon ×
  * key cardinality; the shuffle is on the same group keys as batch.
  */
object StreamingOps {

  /** Tumbling 1-hour counts with a 10-minute watermark: late rows
    * beyond the watermark are dropped, windows finalize (append mode)
    * once the watermark passes their end.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1-hour/15-minute windows under watermark — identical
    * column logic to TimeSeries.q_time_slide.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Per-user session windows (30-minute inactivity gap) — streaming
    * analog of TimeSeries.q_time_session; session state merges as
    * events arrive and emits on watermark close.
    */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join: each click joined to the same user's
    * purchases within the following hour. Both sides carry watermarks
    * and the join condition bounds event-time distance, so Spark can
    * expire join state — the canonical unbounded-join-made-bounded
    * shape. State per side is (watermark + interval) × key cardinality.
    */
  def clickToPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("value").as("purchase_value"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(
      purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "click_id", "purchase_id", "purchase_value")
  }

  /** Stateful exact dedup by event_id within the watermark horizon
    * (SURVEY.md §2.10: `dropDuplicatesWithinWatermark`) — the streaming
    * counterpart of the batch dedup family: state is bounded by the
    * watermark, unlike an unbounded global dropDuplicates.
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming Count-Min Sketch maintenance over a document stream —
    * the live-ingest corpus monitor. The CMS update rule is already a
    * bounded-key aggregation (see
    * [[graft.queries.SketchOps.q_ngram_cms]]), so the streaming state
    * store IS the sketch: at most depth×width counter rows regardless
    * of how long the stream runs, updated incrementally per
    * micro-batch with map-side partial aggregation — no watermark
    * needed because the state never grows past d·w. Counter-for-
    * counter parity with the batch sketch over the same documents is
    * pinned in CmsSpec (same trigram and lane-hash expressions by
    * construction — they are shared code).
    */
  def streamingCms(docs: DataFrame, depth: Int = 4,
                   width: Int = 1024): DataFrame =
    graft.queries.SketchOps.trigramRows(docs)
      .select(explode(graft.queries.SketchOps.cmsLanes(depth, width)).as("lb"))
      .groupBy(col("lb.lane").as("lane"), col("lb.bucket").as("bucket"))
      .agg(count(lit(1)).as("counter"))

  /** STATELESS streaming quality-classifier gate — the online half of
    * the q_quality_classifier batch gate: score arriving documents
    * against the same hashed-bucket linear model and tag accepts, with
    * ZERO state (no watermark, no aggregation — pure per-row
    * projection, so it runs at source throughput in append mode and
    * trivially scales to any partition count). The per-row score is
    * [[graft.queries.TextOps.classifierFold]] — shared code with the
    * batch key's weight function, so the model cannot drift between
    * the offline and online surfaces; StreamingSpec pins row-for-row
    * parity against the batch output over the same documents.
    */
  /** STATELESS streaming DSIR scorer — the online half of
    * [[graft.queries.SampleOps.q_dsir]]: score arriving documents
    * against a PERSISTED bucket model ([[graft.queries.SampleOps
    * .dsirModel]] via Sinks.writeModel/readParquet) with zero
    * state. The 1024-row model collects into two map LITERALS (the
    * broadcast-the-model stance — kilobytes); the corpus-mean gate
    * constants derive from the model alone (ΣN = Σr; ΣL = Σ r_b·lfp_b
    * — the per-token log term depends only on the bucket, so the
    * training corpus's total decomposes over buckets EXACTLY, in long
    * arithmetic). Per-token arithmetic mirrors the batch key
    * operation for operation (one ln on the same exact integer
    * ratio), so StreamingSpec pins row-for-row batch parity. A
    * bucket never seen at training time scores with r=t=0 smoothing —
    * well-defined for genuinely novel stream content.
    */
  def streamingDsirScore(docs: DataFrame, model: DataFrame): DataFrame = {
    val rows = model.select("b", "r", "t").collect()
      .map(x => (x.getAs[Long]("b"), x.getAs[Long]("r"), x.getAs[Long]("t")))
    val bigR = rows.map(_._2).sum
    val bigT = rows.map(_._3).sum
    def lfpOf(r: Long, t: Long): Long =
      math.round(math.log(
        ((t + 1) * (bigR + 1024)).toDouble / ((r + 1) * (bigT + 1024)).toDouble) * 1e9)
    val totL = rows.map { case (_, r, t) => r * lfpOf(r, t) }.sum
    val totN = bigR
    val rM = typedLit(rows.map(x => x._1 -> x._2).toMap)
    val tM = typedLit(rows.map(x => x._1 -> x._3).toMap)
    def lfp(tk: Column): Column = {
      val b = graft.queries.SampleOps.hashDraw(tk, 15) % 1024L
      val r = coalesce(element_at(rM, b), lit(0L))
      val t = coalesce(element_at(tM, b), lit(0L))
      round(log(((t + 1) * lit(bigR + 1024)).cast("double") /
                ((r + 1) * lit(bigT + 1024)).cast("double")) * 1e9).cast("long")
    }
    // let-bound token array (round-7 HOF rule); aggregate = per-row fold
    val stats = element_at(transform(
      array(filter(split(col("text"), " "), w => length(w) > 0)), ws =>
        struct(size(ws).cast("long").as("n"),
          aggregate(ws, lit(0L), (acc, tk) => acc + lfp(tk)).as("s"))), 1)
    docs.select(col("doc_id"), stats.as("st"))
      .select(col("doc_id"),
        coalesce(col("st.n"), lit(0L)).as("n_toks"),
        when(col("st.n") > 0, col("st.s")).as("llr_fp"),
        (when(col("st.n") > 0, col("st.s")).cast("double") / 1e9).as("llr"),
        coalesce(when(col("st.n") > 0,
          col("st.s") * lit(totN) > lit(totL) * col("st.n")), lit(false))
          .as("selected"))
  }

  def streamingClassifierGate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.queries.TextOps.classifierFold(col("text")).as("c"))
      .select(col("doc_id"),
        coalesce(col("c.n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("c.score_sum"), lit(0L)).as("score_sum"),
        when(col("c.n_toks") > 0,
          col("c.score_sum").cast("double") / col("c.n_toks")).as("score"),
        coalesce(col("c.score_sum") > 0, lit(false)).as("accept"))

  /** Streaming twin of [[graft.queries.TimeSeries.q_value_hist]] —
    * the mergeable-histogram property exercised where it matters: a
    * groupBy(type, bucket) count IS the merge, so the same
    * aggregation maintains the histogram incrementally over
    * micro-batches (complete mode; at most types x buckets rows of
    * state). Bucket BOUNDS are parameters, not derived: a stream
    * cannot scan its own future for min/max, so a pipeline trains
    * bounds offline and ships them like any other model (the
    * persisted-model stance of streamingDsirScore). Values drifting
    * outside the trained range clamp into the edge buckets — a
    * visible pile-up at bucket 0 or buckets-1 is the monitoring
    * signal to re-train bounds. Within the trained range the bucket
    * function is integer-for-integer the batch key's, so ValueHist
    * parity (StreamingSpec) is counter-for-counter exact.
    */
  def streamingValueHist(events: DataFrame, minC: Long, maxC: Long,
                         buckets: Int = 32): DataFrame = {
    require(maxC >= minC, s"empty bounds: [$minC, $maxC]")
    val cents = col("value").cast("decimal(18,2)").multiply(100).cast("long")
    events.filter(col("value").isNotNull)
      .select(col("event_type"), cents.as("c"))
      .select(col("event_type"),
        greatest(lit(0L), least(lit(buckets - 1L),
          expr(s"((c - ${minC}L) * $buckets) div (${maxC}L - ${minC}L + 1)")))
          .as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
  }

  /** Streaming twin of [[graft.queries.TimeSeries.q_ohlc]] — the
    * hourly open/high/low/close resample maintained incrementally:
    * high/low are plain min/max, and open/close ride `min_by`/`max_by`
    * keyed on the batch key's exact (ts, event_id) order contract, so
    * the streaming state is FOUR cents values + a count per
    * (hour, type) cell no matter how many events stream past — where
    * the batch key's row_number formulation would need the whole cell
    * buffered, the by-key form is the mergeable sufficient statistic
    * (each partial keeps its earliest/latest candidate; merge keeps
    * the earlier/later of two — associative, order-free).
    * Complete/update mode; parity with q_ohlc is cell-for-cell exact
    * (StreamingSpec) because both sides resolve ties by the unique
    * (ts, event_id) pair.
    */
  def streamingOhlc(events: DataFrame): DataFrame = {
    val cents = col("value").cast("decimal(18,2)").multiply(100).cast("long")
    events
      .select(
        unix_timestamp(date_trunc("hour", col("ts"))).as("w_start"),
        col("event_type"), col("ts"), col("event_id"), cents.as("c"))
      .groupBy("w_start", "event_type")
      .agg(count(lit(1)).as("n"),
        min_by(col("c"), struct(col("ts"), col("event_id"))).as("open_cents"),
        max(col("c")).as("high_cents"),
        min(col("c")).as("low_cents"),
        max_by(col("c"), struct(col("ts"), col("event_id"))).as("close_cents"))
  }

  /** Streaming twin of [[graft.queries.TimeSeries.q_bootstrap]]'s
    * replicate moments — live uncertainty monitoring: every arriving
    * event contributes its B hash-derived Poisson(1) replicate
    * weights (the identical [[graft.queries.TimeSeries.poissonWeight]]
    * draw, so batch/stream weights are bit-equal), and the running
    * per-(type, replicate) weighted sums ARE the bootstrap sufficient
    * statistics — state is hard-bounded at types × B counters
    * regardless of stream length (the mergeable-statistic stance of
    * streamingValueHist). The CI finish (rank the B replicate means)
    * is an O(types × B) batch step over the sink at read time.
    */
  def streamingBootstrap(events: DataFrame, reps: Int = 32): DataFrame = {
    val cents = col("value").cast("decimal(18,2)").multiply(100).cast("long")
    events.filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), cents.as("cents"))
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("cnt",
        graft.queries.TimeSeries.poissonWeight(col("event_id"), col("rep")))
      .groupBy("event_type", "rep")
      .agg(sum(col("cnt") * col("cents")).as("num"), sum(col("cnt")).as("den"))
  }

  /** Streaming PBM/IPS ranker eval over a live (query_id, rank,
    * click) impression log — the online twin of
    * [[graft.queries.TextOps.q_pbm]] (r13 VERDICT #5): maintain the
    * naive CTR and the inverse-propensity debiased relevance estimate
    * per query as the click log arrives, so a counterfactual-LTR
    * pipeline watches its position-bias correction live instead of
    * recomputing it per snapshot.
    *
    * The aggregation is [[graft.queries.TextOps.pbmAggregate]] —
    * SHARED CODE with the batch key, and both estimators are plain
    * sums (n_clicks = Σ click, ips_sum = Σ rank·click), so the state
    * store holds exactly the batch sufficient statistics: state is
    * hard-bounded at O(queries) rows of two longs regardless of
    * stream length (the bounded-key stance of streamingCms — no
    * watermark needed), merged map-side per micro-batch, and the
    * batch-boundary outputs are BIT-IDENTICAL to q_pbm over the same
    * prefix (an associative order-independent fold, the strongest
    * parity class — pinned in StreamingSpec over a two-batch replay).
    */
  def streamingPbm(clicks: DataFrame, depth: Int = 20): DataFrame =
    graft.queries.TextOps.pbmAggregate(clicks, depth)
}
