package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import graft.functions.HashFunctions.duckHexValue
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-windowed aggregation inventory (SURVEY.md §2.10). The reference
  * is one-shot batch (main.rs:4-28) but stores epoch timestamps
  * (repository.rs:178), so its output is time-series-queryable; these
  * are the Spark-native windowed operators, written with the built-in
  * `window`/`session_window` expressions so the *same column logic*
  * runs under Structured Streaming (see graft.streaming.StreamingOps).
  *
  * Window starts are surfaced as epoch-second longs: engine-neutral for
  * the DuckDB oracle and stable across parquet timestamp encodings.
  */
object TimeSeries {

  /** Tumbling 1-hour window aggregation. Spark aligns tumbling windows
    * to the epoch, so `window(ts, '1 hour').start == date_trunc('hour', ts)`.
    */
  def q_time_tumble(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Relational.money(sum(Relational.dec2(col("value")))).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")

  /** Sliding window: 1 hour wide, sliding every 15 minutes — each event
    * lands in exactly 4 windows, all epoch-aligned. The expansion is a
    * Generator (explode of the 4 window structs) before the hash agg,
    * so it pipelines inside one stage; the only shuffle is the final
    * group-by on (window, event_type).
    */
  def q_time_slide(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Relational.money(sum(Relational.dec2(col("value")))).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")

  /** Session windows: events grouped into per-user sessions separated
    * by >= 30 minutes of inactivity. Oracle-checked via the DuckDB
    * gaps-and-islands formulation (lag + cumulative flag over
    * (user_id, ts) at microsecond precision) — see its entry in [[keys]];
    * also covered by a unit test with hand-computed sessions.
    */
  def q_time_session(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Relational.money(sum(Relational.dec2(col("value")))).as("sum_value"))
      .select(
        unix_timestamp(col("session_window.start")).as("sess_start"),
        unix_timestamp(col("session_window.end")).as("sess_end"),
        col("user_id"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "sess_start")

  /** Cohort retention matrix — the classic product-analytics readout
    * (cohort = each user's first-active epoch-day; cell (c, k) = how
    * many of cohort c's users were active k days later, as an exact
    * count plus a ×1e6 round-half-up retention rate).
    *
    * Scale shape: the ONLY corpus-scale exchange is the distinct
    * (user, day) projection — map-side combinable, output bounded by
    * users × days, after which everything is O(users) / O(days²):
    * cohorts are a per-user min over that table, cohort sizes an
    * O(cohorts) count, and both attach back via broadcast joins (a
    * user dimension outgrowing broadcast would co-partition on
    * user_id instead — the GraphOps.q_pagerank_copart recipe). The
    * distinct table is referenced twice (cohort derivation + offset
    * cell count) so it is localCheckpoint'd once; cohort likewise
    * (sizes + the broadcast attach).
    *
    * Day arithmetic is integral end to end: `unix_timestamp(ts) div
    * 86400` ↔ DuckDB `epoch_us(ts) // 86400000000` (identical floor
    * on the positive epoch range); the rate is the repo's standard
    * `(2a+d) div 2d` round-half-up fixed point, so every output
    * column is an exact BIGINT.
    */
  def q_retention(s: SparkSession, d: String): DataFrame =
    retentionOf(events(s, d)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day")))

  /** The cohort kernel of [[q_retention]], factored so unit tests can
    * drive it with hand-built (user_id, day) activity rows.
    */
  private[graft] def retentionOf(userDay: DataFrame): DataFrame = {
    val ud = userDay.distinct().transform(graft.plans.Ckpt.maybe)
    val cohort = ud.groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"))
      .transform(graft.plans.Ckpt.maybe)
    val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("n_cohort"))
    ud.join(broadcast(cohort), Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_active"), col("n_cohort"),
        expr("(2 * n_active * 1000000 + n_cohort) div (2 * n_cohort)").as("retention_fp"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Robust outlier report per event type — median / MAD (median
    * absolute deviation) with a 3-MAD outlier gate, the
    * breakdown-point-0.5 alternative to mean/stddev monitoring (one
    * corrupted feed can drag a mean arbitrarily far; the median
    * doesn't move until half the data is bad). The metric-stream
    * quality monitor a pipeline runs next to ingestion.
    *
    * Scale shape: ONE corpus-scale exchange — the map-side-combined
    * (event_type, cents) value-count agg, bounded by the value
    * domain (measured 17.8k distinct cents at sf0.1 vs 100k rows),
    * checkpointed once (referenced three times: median, deviation
    * table, outlier count). Both medians are discrete LOWER medians
    * computed by the integer cumulative-window trick over the tiny
    * value-count table (the q_quality_gate form, float-free:
    * `2·cum ≥ n` ⟺ `cum ≥ ceil(n/2)` for integers); deviations
    * re-aggregate value counts, never raw rows. Medians attach back
    * by broadcast O(types) joins.
    *
    * Everything is exact integer cents (the DECIMAL(18,2) money
    * idiom ×100), so both engines carry identical longs end to end;
    * the outlier share is the ×1e6 round-half-up fixed point.
    */
  def q_outliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    val vc = events(s, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), cents.as("c")).agg(count(lit(1)).as("n"))
      .transform(graft.plans.Ckpt.maybe)
    def lowerMedian(df: DataFrame, valueCol: String, cntCol: String, out: String) =
      df.withColumn("cum", sum(col(cntCol)).over(
          Window.partitionBy("event_type").orderBy(valueCol)))
        .withColumn("nl", sum(col(cntCol)).over(Window.partitionBy("event_type")))
        .filter(col("cum") * 2 >= col("nl"))
        .groupBy("event_type").agg(min(col(valueCol)).as(out))
    val med = lowerMedian(vc, "c", "n", "median_c")
    val dv = vc.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"), abs(col("c") - col("median_c")).as("dev"))
      .agg(sum(col("n")).as("dn"))
    val mad = lowerMedian(dv, "dev", "dn", "mad_c")
    val out = vc.join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"),
        sum(when(abs(col("c") - col("median_c")) > col("mad_c") * 3, col("n"))
          .otherwise(0L)).as("n_outliers"))
    out.join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("n"), col("median_c"), col("mad_c"),
        col("n_outliers"),
        expr("(2 * n_outliers * 1000000 + n) div (2 * n)").as("outlier_share_fp"))
      .orderBy("event_type")
  }

  /** OHLC resample — the canonical time-series downsample (candlestick
    * bars): per (hour, event_type), the OPEN (first value by event
    * time), HIGH, LOW, CLOSE (last value), and count. Completes the
    * resampling family next to [[q_time_tumble]]'s sums and
    * [[q_ewma]]'s smoothing: monitoring dashboards and feature
    * pipelines both consume bars, not raw ticks.
    *
    * Exactness: money in exact integer cents (the DECIMAL(18,2)
    * contract); first/last are defined by the TOTAL order
    * (ts, event_id), so same-microsecond ticks resolve identically in
    * both engines. Distributed shape: two opposite-sort row_number
    * windows over the SAME (hour, type) partitioning + the final
    * aggregation on that key — one hash exchange total, the q_scd2
    * one-exchange rule; open/close ride the aggregation as
    * max(CASE rn = 1) so no self-join re-reads the bars.
    */
  def q_ohlc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    val base = events(s, d).select(
      unix_timestamp(date_trunc("hour", col("ts"))).as("w_start"),
      col("event_type"), col("ts"), col("event_id"), cents.as("c"))
    val w = Window.partitionBy("w_start", "event_type")
    base
      .withColumn("rf", row_number().over(w.orderBy(col("ts"), col("event_id"))))
      .withColumn("rl", row_number().over(
        w.orderBy(col("ts").desc, col("event_id").desc)))
      .groupBy("w_start", "event_type")
      .agg(count(lit(1)).as("n"),
        max(when(col("rf") === 1, col("c"))).as("open_cents"),
        max(col("c")).as("high_cents"),
        min(col("c")).as("low_cents"),
        max(when(col("rl") === 1, col("c"))).as("close_cents"))
      .orderBy("w_start", "event_type")
  }

  /** Event-type transition matrix — the first-order Markov readout of
    * user behavior (what follows what, and with what probability):
    * per user, events ordered by (epoch second, event_id — the
    * [[graft.queries.Windows.q_window_lag]] ordering contract), each
    * adjacent pair contributes one (prev_type, next_type) transition;
    * the report is counts plus row-normalized probabilities. The
    * input to next-event prediction, anomaly scoring on broken flows,
    * and the Sankey diagram every product-analytics dashboard draws.
    *
    * Scale shape: ONE corpus exchange — the lag window partitions by
    * `user_id`; the transition count agg is map-side combined and
    * bounded by |types|² rows, after which normalization is a window
    * over that tiny table. Probabilities are the ×1e6 round-half-up
    * fixed point of exact counts.
    */
  def q_transitions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val es = unix_timestamp(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(es, col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("event_type").as("next_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
    pairs.groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("tot",
        sum(col("n")).over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("(2 * n * 1000000 + tot) div (2 * tot)").as("p_fp"))
      .orderBy("prev_type", "next_type")
  }

  /** RFM user segmentation — the recency / frequency / monetary
    * scoring behind every customer-value report (and the
    * contributor-activity readout in the reference's domain: how
    * recently, how often, and how much): per purchasing user, days
    * since last purchase, purchase count, and exact cents spent,
    * each scored into position quintiles 1–5 (5 = best) and combined
    * into the classic three-digit RFM code.
    *
    * Quintiles are POSITION quintiles from row_number —
    * `(rn−1)·5 div n + 1` over a total order with the user-id
    * tie-break — not ntile(): the formula is one exact integer
    * expression identical in both engines, where ntile's
    * remainder-distribution rule is engine lore. Scale shape: one
    * map-side-combined per-user agg, then three exact distributed
    * ranks over the O(users) report table via
    * [[graft.plans.GlobalRank.globalRowNumber]] (range-partition +
    * per-partition offsets — NO single-partition WindowExec anywhere
    * in the plan); the one-row (max day, user count) aggregate
    * rides as a broadcast. Money stays in the DECIMAL(18,2)→cents
    * long idiom; day arithmetic is the integral epoch-day pair.
    * Users with no purchases are absent by definition (they have no
    * R/F/M to score).
    */
  def q_rfm(s: SparkSession, d: String): DataFrame = {
    import graft.plans.GlobalRank.globalRowNumber
    val p = events(s, d)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        (Relational.dec2(col("value")) * 100).cast("long").as("cents"))
    val per = p.groupBy("user_id").agg(
      max(col("day")).as("last_day"),
      count(lit(1)).as("frequency"),
      sum(col("cents")).as("monetary_c"))
    val g = per.agg(max(col("last_day")).as("gmax"),
      count(lit(1)).as("n_users"))
    val base = per.crossJoin(broadcast(g))
      .select(col("user_id"),
        (col("gmax") - col("last_day")).as("recency_days"),
        col("frequency"), col("monetary_c"), col("n_users"))
    val ranked = Seq(
      ("rn_r", "recency_days"), ("rn_f", "frequency"), ("rn_m", "monetary_c"))
      .foldLeft(base) { case (df, (rn, v)) =>
        globalRowNumber(df, rn, col(v).asc, col("user_id"))
      }
    ranked
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_c"),
        expr("6 - (((rn_r - 1) * 5) div n_users + 1)").as("r_score"),
        expr("((rn_f - 1) * 5) div n_users + 1").as("f_score"),
        expr("((rn_m - 1) * 5) div n_users + 1").as("m_score"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_c"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
          .as("rfm_code"))
      .orderBy("user_id")
  }

  /** Event-rate spike detector — the ingestion-health monitor that
    * pages before a bad feed poisons a training snapshot: hourly
    * counts per event type, each hour tested against its type's
    * trailing 24 observed hours by the 3σ rule. The test is the
    * integer cross-multiplication
    * (w·n − S)² > 9·(w·Q − S²) with S = Σ counts and Q = Σ counts²
    * over the window — algebraically identical to
    * (n − μ)² > 9σ² (population σ, both sides ×w²) but containing
    * ZERO divisions or floats, so both engines compare identical
    * longs. Upward-only (n·w > S) and warm-up-gated (w ≥ 12); an
    * hour missing entirely from a type simply doesn't extend that
    * type's window ("trailing 24 observed hours" — deterministic and
    * identical cross-engine). 47 of 3,385 hours flag at sf0.01 —
    * measured non-degenerate before building.
    *
    * Scale shape: ONE map-side-combined (type, hour) count agg
    * bounded by |types|·hours; the trailing window runs over that
    * tiny table. The squared terms stay far below 2⁶³ while hourly
    * counts are < ~10⁸ (beyond that, pre-scale the counts or widen
    * to DECIMAL(38,0)).
    */
  def q_spikes(s: SparkSession, d: String, wMin: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = events(s, d)
      .groupBy(col("event_type"), expr("unix_timestamp(ts) div 3600").as("hr"))
      .agg(count(lit(1)).as("n"))
    val tw = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(-24, -1)
    h.select(col("event_type"), col("hr"), col("n"),
        count(lit(1)).over(tw).as("w"),
        sum(col("n")).over(tw).as("s"),
        sum(col("n") * col("n")).over(tw).as("q"))
      .select(col("event_type"), col("hr"), col("n"), col("w"),
        (col("w") >= wMin &&
          (col("w") * col("n") - col("s")) * (col("w") * col("n") - col("s")) >
            lit(9L) * (col("w") * col("q") - col("s") * col("s")) &&
          col("n") * col("w") > col("s")).as("is_spike"))
      .orderBy("event_type", "hr")
  }

  /** Deadline micros for [[q_funnel]]'s conversion window — 72 hours,
    * chosen by measurement: unbounded, the synthetic corpus converts
    * every user through every stage (degenerate 100%); at 24 h the
    * final stage is empty at sf0.01; 72 h splits every stage
    * non-degenerately at all three sfs (150/105/57/21 at sf0.01).
    */
  val FunnelWindowMicros: Long = 72L * 3600L * 1000000L

  /** Ordered conversion funnel signup → view → click → purchase,
    * anchored at each user's FIRST signup and bounded to
    * [[FunnelWindowMicros]] after it: a user reaches stage k+1 iff an
    * event of that type exists STRICTLY after the stage-k timestamp
    * and within the deadline. Greedy earliest-match is exact here
    * (the standard subsequence argument: taking the earliest
    * qualifying event at each stage can only extend reachability, and
    * the deadline is fixed once stage 1 is — so greedy succeeds iff
    * any strictly-increasing chain exists).
    *
    * Scale shape: ONE corpus exchange — events of the four funnel
    * types group by user (map-side combinable collect into a per-user
    * array bounded by that user's event count), then the greedy chain
    * is a row-local sorted `aggregate` fold (state = 3 longs). The
    * per-stage readout explodes ≤ 4 rows per user into an O(stages)
    * count agg; conversion ratios are lag arithmetic over the 4-row
    * report (the whole-partition window is over 4 rows, not data).
    * The DuckDB oracle proves the same semantics through the
    * 4-level conditional-min CTE chain — two independent
    * formulations, one answer.
    *
    * All output columns are exact BIGINTs (counts + the repo's
    * `(2a+d) div 2d` ×1e6 fixed-point conversions).
    */
  def q_funnel(s: SparkSession, d: String): DataFrame =
    funnelOf(events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tu")))

  /** The greedy-chain kernel of [[q_funnel]], factored so unit tests
    * can drive it with hand-built (user_id, event_type, tu) rows.
    */
  /** The funnel stage names in chain order — shared with
    * [[graft.streaming.StatefulOps.streamingFunnel]] so the batch and
    * streaming kernels cannot drift.
    */
  val FunnelStages: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** Per-user greedy chain depth (0..4) — the row-local fold behind
    * [[funnelOf]], exposed so the streaming parity spec can compare
    * the incremental mapGroupsWithState kernel user for user.
    */
  private[graft] def funnelReached(ev: DataFrame): DataFrame = {
    val stages = FunnelStages
    val stageIdx = stages.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (name, i)) =>
        when(col("event_type") === name, lit(i)).otherwise(acc)
      }
    ev
      .filter(col("event_type").isin(stages.map(x => x: Any): _*))
      .select(col("user_id"),
        struct(col("tu"), stageIdx.as("stage")).as("ev"))
      .groupBy("user_id")
      .agg(array_sort(collect_list(col("ev"))).as("evs"))
      .select(col("user_id"),
        aggregate(col("evs"),
          struct(lit(0).as("reached"), lit(0L).as("tlast"), lit(0L).as("t1")),
          (acc, x) =>
            when(acc.getField("reached") === 0 && x.getField("stage") === 0,
              struct(lit(1).as("reached"), x.getField("tu").as("tlast"),
                x.getField("tu").as("t1")))
            .when(acc.getField("reached").between(1, stages.length - 1) &&
                x.getField("stage") === acc.getField("reached") &&
                x.getField("tu") > acc.getField("tlast") &&
                x.getField("tu") <= acc.getField("t1") + FunnelWindowMicros,
              struct((acc.getField("reached") + 1).as("reached"),
                x.getField("tu").as("tlast"), acc.getField("t1").as("t1")))
            .otherwise(acc),
          a => a.getField("reached")).as("reached"))
  }

  private[graft] def funnelOf(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stages = FunnelStages
    val perStage = funnelReached(ev)
      .filter(col("reached") >= 1)
      .select(explode(sequence(lit(1), col("reached"))).as("stage_idx"))
      .groupBy("stage_idx").agg(count(lit(1)).as("n_users"))
    val w = Window.orderBy("stage_idx")
    val stageName = stages.zipWithIndex
      .foldLeft(lit("")) { case (acc, (name, i)) =>
        when(col("stage_idx") === i + 1, lit(name)).otherwise(acc)
      }
    perStage
      .withColumn("n_prev", lag(col("n_users"), 1).over(w))
      .withColumn("n_first", first(col("n_users")).over(w))
      .select(col("stage_idx").cast("long").as("stage_idx"),
        stageName.as("stage"),
        col("n_users"),
        coalesce(
          expr("(2 * n_users * 1000000 + n_prev) div (2 * n_prev)"),
          lit(1000000L)).as("conv_prev_fp"),
        expr("(2 * n_users * 1000000 + n_first) div (2 * n_first)").as("conv_first_fp"))
      .orderBy("stage_idx")
  }

  /** Equi-width value histogram per event type — the mergeable
    * monitoring summary behind every metrics dashboard (and the
    * cheap first look before the exact percentile machinery of
    * [[q_outliers]] runs): 32 shared buckets spanning the global
    * value range, so per-type histograms are directly comparable and
    * per-shard partials merge by bucket-wise addition (the
    * sketch-family property — groupBy(type, bucket) IS the merge).
    *
    * All arithmetic is exact integer cents (the DECIMAL(18,2) money
    * rule) and integer floor division on non-negative operands, so
    * bucket assignment and edges are bit-identical cross-engine.
    * Scale shape: one scan, a broadcast one-row bounds aggregate, and
    * one map-side-combined count agg whose output is O(types x 32)
    * regardless of corpus size. NULL values are excluded (a NULL has
    * no bucket); empty input yields an empty histogram.
    */
  def q_value_hist(s: SparkSession, d: String, buckets: Int = 32): DataFrame = {
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    val ev = events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), cents.as("c"))
    val bounds = ev.agg(min(col("c")).as("min_c"), max(col("c")).as("max_c"))
    ev.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        expr(s"((c - min_c) * $buckets) div (max_c - min_c + 1)").as("bucket"),
        col("min_c"), col("max_c"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"),
        min(col("min_c")).as("min_c"), min(col("max_c")).as("max_c"))
      .select(col("event_type"), col("bucket"),
        expr(s"min_c + (bucket * (max_c - min_c + 1)) div $buckets").as("lo_c"),
        expr(s"min_c + ((bucket + 1) * (max_c - min_c + 1)) div $buckets - 1").as("hi_c"),
        col("n"))
      .orderBy("event_type", "bucket")
  }

  /** OLS linear trend of the DAILY event count — the ingestion-volume
    * drift monitor next to [[q_spikes]] (spikes page on an hour;
    * trend answers "is the feed growing or decaying week over week",
    * the question behind capacity planning and staleness alarms).
    * The series is the DENSE day spine from min to max observed day
    * (a missing day is a real zero, not an absent sample — skipping
    * it would bias the slope toward the surviving days), x = day
    * offset from the first day, y = that day's event count.
    *
    * Oracle determinism: the six moment sums (n, Σx, Σy, Σxy, Σx²,
    * Σy²) are exact order-free longs; slope / intercept / r² are one
    * mirrored `round(double, 6)` expression each over those longs —
    * the [[TextOps.q_zipf]] stance (the doubles are a deterministic
    * function of identical integers, so both engines round the same
    * value; no float accumulation order exists anywhere).
    *
    * Scale shape: one map-side-combined day-count agg bounded by the
    * calendar (O(days), not O(events)), a broadcast one-row bounds
    * row exploded into the spine, and everything after runs on that
    * O(days) table. Moment overflow: Σx²·y terms stay < 2⁶³ while
    * days·(daily count)² < 9·10¹⁸ — fine to ~10⁸ events/day over a
    * decade; beyond, widen the moments to DECIMAL(38,0) (the
    * [[TextOps.q_chi2]] documented headroom stance).
    */
  def q_trend(s: SparkSession, d: String): DataFrame =
    trendOf(events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("y")))

  /** The dense-spine OLS kernel of [[q_trend]], factored so unit
    * tests can drive it with hand-built (day, y) rows (the
    * [[funnelOf]] stance).
    */
  private[graft] def trendOf(dayCounts: DataFrame): DataFrame = {
    val dayCnt = dayCounts
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: bounds + the spine join
    val bounds = dayCnt.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds.select(explode(expr("sequence(d0, d1)")).as("day"))
    val xy = spine.join(dayCnt, Seq("day"), "left")
      .crossJoin(broadcast(bounds))
      .select((col("day") - col("d0")).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    xy.agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n_days"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        col("syy"),
        expr("CASE WHEN n_days*sxx - sx*sx = 0 THEN NULL ELSE " +
          "round(CAST(n_days*sxy - sx*sy AS DOUBLE) / " +
          "CAST(n_days*sxx - sx*sx AS DOUBLE), 6) END").as("slope"),
        expr("CASE WHEN n_days*sxx - sx*sx = 0 THEN NULL ELSE " +
          "round(CAST(sy*sxx - sx*sxy AS DOUBLE) / " +
          "CAST(n_days*sxx - sx*sx AS DOUBLE), 6) END").as("intercept"),
        expr("CASE WHEN n_days*sxx - sx*sx = 0 OR n_days*syy - sy*sy = 0 " +
          "THEN NULL ELSE " +
          "round(CAST(n_days*sxy - sx*sy AS DOUBLE) * " +
          "CAST(n_days*sxy - sx*sy AS DOUBLE) / " +
          "(CAST(n_days*sxx - sx*sx AS DOUBLE) * " +
          "CAST(n_days*syy - sy*sy AS DOUBLE)), 6) END").as("r2"))
  }

  /** Autocorrelation of the HOURLY event count at lags 1..`maxLag` —
    * the periodicity detector that tells a pipeline whether its feed
    * has a daily/weekly pulse before it trusts any "rate changed"
    * alarm ([[q_spikes]] and [[q_trend]] both assume exchangeable
    * residuals; a 24-hour acf spike says they aren't). Series = dense
    * hour spine (missing hour = real zero, as in [[q_trend]]);
    * r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)², computed EXACTLY by
    * clearing the mean's denominator: both sides ×n² gives
    * num_k = Σ(n·x_t−S)(n·x_{t+k}−S) over t ≤ n−k and
    * den = Σ(n·x_t−S)² with S = Σx — integer arithmetic only, no
    * float accumulation. The report is the ×1e6 round-half-up fixed
    * point applied to |num| with the sign reattached, because Spark's
    * `div` truncates toward zero while DuckDB's `//` floors — on a
    * NEGATIVE numerator the two disagree by one ulp, so the division
    * is only ever run on non-negative operands (the q_drift_psi
    * sign-separation rule).
    *
    * Scale shape: one map-side-combined hour-count agg bounded by the
    * calendar, a broadcast one-row total, and a lag self-join of the
    * O(hours) dense table against itself on hr+k — every post-agg
    * row count is O(hours·maxLag), independent of corpus size.
    * Overflow: |n·x−S| ≤ n·max_count, so num terms need
    * hours²·(peak hourly count)² < 2⁶³ — fine to ~10⁵ hours × ~10⁴
    * events/hour; beyond, widen to DECIMAL(38,0).
    */
  def q_acf(s: SparkSession, d: String, maxLag: Int = 6): DataFrame =
    acfOf(events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 3600").as("hr"))
      .agg(count(lit(1)).as("y")), maxLag)

  /** The dense-spine autocorrelation kernel of [[q_acf]], factored so
    * unit tests can drive it with hand-built (hr, y) rows.
    */
  private[graft] def acfOf(hourCounts: DataFrame, maxLag: Int): DataFrame = {
    val s = hourCounts.sparkSession
    val hrCnt = hourCounts
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: bounds + the spine join
    val bounds = hrCnt.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val dense = bounds.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .join(hrCnt, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("y"), lit(0L)).as("y"))
      .transform(graft.plans.Ckpt.maybe) // referenced 3x: total, lag-left, lag-right
    val tot = dense.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val lags = s.range(1, maxLag + 1).select(col("id").as("lag"))
    val left = dense.crossJoin(broadcast(lags))
      .select(col("lag"), col("hr"), col("y").as("ya"))
    val pairs = left.join(
        dense.select(col("hr").as("hrb"), col("y").as("yb")),
        col("hrb") === col("hr") + col("lag"))
      .crossJoin(broadcast(tot))
    val perLag = pairs
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("n") * col("ya") - col("s")) *
            (col("n") * col("yb") - col("s"))).as("num"),
        first(col("n")).as("n"), first(col("s")).as("s"))
    val den = dense.crossJoin(broadcast(tot))
      .agg(sum((col("n") * col("y") - col("s")) *
               (col("n") * col("y") - col("s"))).as("den"))
    perLag.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"), col("num"), col("den"),
        expr("CASE WHEN num < 0 THEN -1 ELSE 1 END * " +
          "((2 * abs(num) * 1000000 + den) div (2 * den))").as("acf_fp"))
      .orderBy("lag")
  }

  /** Peak concurrent user-sessions per day — the interval-overlap
    * sweep every capacity dashboard runs over sessionized activity
    * ([[q_time_session]] builds the intervals; this operator asks how
    * many are OPEN at once). Classic sweep-line: each session emits
    * (+1 at start, −1 at end), the running sum over time order IS the
    * concurrency, and the tie rule (at equal timestamps, ends sort
    * before starts via `delta` ascending) encodes half-open [start,
    * end) intervals — a session ending exactly when another starts
    * never overlaps it. Reported peak is the maximum over the states
    * REACHED BY a change within the day (the change-stream semantics
    * a monitoring system reports; a day whose whole span is one
    * unchanged plateau inherited from the previous day has no rows
    * here, and the plateau was already counted on the day its last
    * change occurred).
    *
    * Scale shape — the sweep distributes via hourly carry partials
    * instead of one global running window (which would serialize the
    * corpus through a single task): per-hour delta totals (a
    * map-side-combined O(hours) agg) get a cumulative carry via a
    * window over that calendar-bounded table; the in-hour running sum
    * is then a window PARTITIONED by hour; each row's concurrency =
    * hour carry + in-hour prefix. Equal-(t, delta) rows commute
    * inside the prefix sum, so the per-day max is deterministic.
    */
  /** Two-proportion A/B conversion test over the event stream — the
    * experimentation readout run before any mix or quality change
    * ships: cohort A = even user ids, cohort B = odd (the stand-in
    * for a real assignment column), conversion = the user ever
    * purchased. Counts and the ×1e6 conversion rates are exact
    * integers; the pooled two-proportion z-statistic is the one
    * mirrored `round(double, 6)` over those longs (the
    * [[TextOps.q_zipf]] stance), with the fraction pre-cleared:
    * z = (x_a·n_b − x_b·n_a)·√(n / (n_a·n_b·x·(n−x))), x = x_a+x_b —
    * algebraically the classic (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)).
    * Degenerate splits (an empty cohort, zero or total conversion)
    * report NULL z identically in both engines instead of dividing
    * by zero.
    *
    * Scale shape: ONE map-side-combined per-user agg (output bounded
    * by users), then a one-row reduction — no further shuffle.
    */
  def q_ab_test(s: SparkSession, d: String): DataFrame =
    abTestOf(events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv")))

  /** The pooled-z kernel of [[q_ab_test]], factored so unit tests can
    * drive it with hand-built (user_id, conv) rows.
    */
  private[graft] def abTestOf(per: DataFrame): DataFrame = {
    per.agg(
        sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("user_id") % 2 === 0, col("conv")).otherwise(0L)).as("x_a"),
        sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("user_id") % 2 =!= 0, col("conv")).otherwise(0L)).as("x_b"))
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        expr("CASE WHEN n_a = 0 THEN NULL ELSE " +
          "(2 * x_a * 1000000 + n_a) div (2 * n_a) END").as("rate_a_fp"),
        expr("CASE WHEN n_b = 0 THEN NULL ELSE " +
          "(2 * x_b * 1000000 + n_b) div (2 * n_b) END").as("rate_b_fp"),
        expr("CASE WHEN n_a = 0 OR n_b = 0 OR x_a + x_b = 0 OR " +
          "x_a + x_b = n_a + n_b THEN NULL ELSE " +
          "round(CAST(x_a*n_b - x_b*n_a AS DOUBLE) * " +
          "sqrt(CAST(n_a + n_b AS DOUBLE) / " +
          "(CAST(n_a AS DOUBLE) * n_b * (x_a + x_b) * " +
          "(n_a + n_b - x_a - x_b))), 6) END").as("z"))
  }

  /** Cohort lifetime-value curve — [[q_retention]]'s revenue twin:
    * per (cohort, age) the purchase revenue that cohort generated at
    * that age, its running total, and the per-user LTV (cumulative
    * cents div cohort size, round-half-up). Cohort = each user's
    * first-active epoch-day over ALL events (the retention
    * definition, so the two reports join on identical cohorts); the
    * age axis is DENSE from 0 to the cohort's last observable age —
    * an age with no purchases is a flat step on the curve, not a
    * missing x (the [[q_trend]] spine argument).
    *
    * Scale shape: one distinct (user, day) pass for cohorts (the
    * retention shape), one purchase-rows pass joined to the broadcast
    * O(users) cohort dim, a (cohort, age) agg bounded by days², and
    * the cumulative window runs per cohort over that bounded table.
    * All money is exact integer cents (DECIMAL(18,2) ×100).
    */
  def q_ltv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"),
        col("event_type"), col("value"))
      .transform(graft.plans.Ckpt.maybe) // referenced 3x: cohorts, bounds, purchases
    val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      .transform(graft.plans.Ckpt.maybe) // referenced 3x: sizes, purchase join, spine
    val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("n_cohort"))
    val dMax = ev.agg(max(col("day")).as("d1"))
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    val rev = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull)
      .select(col("user_id"), col("day"), cents.as("c"))
      .join(broadcast(cohort), Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age"))
      .agg(sum(col("c")).as("rev_c"))
    val spine = sizes.crossJoin(broadcast(dMax))
      .select(col("cohort_day"), col("n_cohort"),
        explode(expr("sequence(0, d1 - cohort_day)")).as("age"))
    spine.join(rev, Seq("cohort_day", "age"), "left")
      .select(col("cohort_day"), col("age"), col("n_cohort"),
        coalesce(col("rev_c"), lit(0L)).as("rev_c"))
      .withColumn("cum_rev_c", sum(col("rev_c")).over(
        Window.partitionBy("cohort_day").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("cohort_day"), col("age"), col("n_cohort"), col("rev_c"),
        col("cum_rev_c"),
        expr("CASE WHEN cum_rev_c >= 0 THEN " +
          "(2 * cum_rev_c + n_cohort) div (2 * n_cohort) " +
          "ELSE -((2 * abs(cum_rev_c) + n_cohort) div (2 * n_cohort)) END")
          .as("ltv_c"))
      .orderBy("cohort_day", "age")
  }

  /** Kaplan–Meier user-lifetime curve — the survival-analysis readout
    * behind churn modeling: lifetime = days between a user's first
    * and last observed event; at each distinct lifetime t the report
    * carries the at-risk count, the deaths, and the KM survival
    * estimate S(t) = Π_{i≤t}(1 − dᵢ/nᵢ). The product is computed as
    * exp of a SUM of ×1e9-quantized lns of exact integer ratios —
    * order-free longs inside the cumulative window, one deterministic
    * `exp`/`round` readout per row (the §5.3 quantized-ln stance used
    * by q_entropy/q_zipf); the final lifetime (n = d) reports S = 0
    * directly instead of ln(0). All users are uncensored by
    * construction (the corpus ends; a production variant would carry
    * a censoring flag into dᵢ).
    *
    * Scale shape: one per-user min/max agg, then everything runs on
    * the O(distinct lifetimes) ≤ days table.
    */
  def q_survival(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val life = events(s, d)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .groupBy("user_id")
      .agg((max(col("day")) - min(col("day"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("d"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: total + the risk window
    val tot = life.agg(sum(col("d")).as("n_users"))
    val risk = life.crossJoin(broadcast(tot))
      .select(col("t"), col("d"),
        (col("n_users") - (sum(col("d")).over(Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("d"))).as("n_risk"))
    risk
      .withColumn("lq",
        when(col("n_risk") > col("d"),
          expr("CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1e9) " +
            "AS BIGINT)").cast("long")).otherwise(lit(0L)))
      .withColumn("cum_lq", sum(col("lq")).over(Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("t").as("t_days"), col("n_risk"), col("d"),
        expr("CASE WHEN n_risk = d THEN 0 ELSE " +
          "CAST(round(exp(CAST(cum_lq AS DOUBLE) / 1e9) * 1e6) AS BIGINT) " +
          "END").as("km_fp"))
      .orderBy("t_days")
  }

  /** Additive seasonal decomposition of the hourly event count —
    * y = trend + seasonal + residual, the STL-style readout behind
    * every "is this drop real or just 3am" question ([[q_seasonality]]
    * profiles the cycle; this SUBTRACTS it so the residual is
    * monitorable). Trend = centered 25-hour moving average (full
    * windows only — edge rows report NULL rather than a biased
    * partial mean); detrended = y·1e6 − trend_fp exactly; seasonal =
    * per hour-of-day mean of the detrended values (sign-separated
    * round-half-up — detrended values are negative half the time);
    * residual = detrended − seasonal. Every non-NULL output is an
    * exact long in ×1e6 units.
    *
    * Scale shape: the trend window runs over the calendar-bounded
    * dense hour table (the q_ks stance); the seasonal profile is a
    * 24-row agg joined back by broadcast.
    */
  def q_decompose(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hrCnt = events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 3600").as("hr"))
      .agg(count(lit(1)).as("y"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: bounds + the spine join
    val bounds = hrCnt.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val dense = bounds.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .join(hrCnt, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("y"), lit(0L)).as("y"))
    val wMa = Window.orderBy("hr").rowsBetween(-12, 12)
    val trended = dense
      .withColumn("w_n", count(lit(1)).over(wMa))
      .withColumn("w_s", sum(col("y")).over(wMa))
      .withColumn("trend_fp",
        when(col("w_n") === 25, expr("(2 * w_s * 1000000 + 25) div 50")))
      .withColumn("det_fp", col("y") * 1000000L - col("trend_fp"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: seasonal agg + final join
    val seasonal = trended.filter(col("det_fp").isNotNull)
      .groupBy((col("hr") % 24).as("hod"))
      .agg(sum(col("det_fp")).as("sd"), count(lit(1)).as("nd"))
      .select(col("hod"),
        expr("CASE WHEN sd >= 0 THEN (2 * sd + nd) div (2 * nd) " +
          "ELSE -((2 * abs(sd) + nd) div (2 * nd)) END").as("seasonal_fp"))
    trended
      .withColumn("hod", col("hr") % 24)
      .join(broadcast(seasonal), Seq("hod"))
      .select(col("hr"), col("y"), col("trend_fp"),
        when(col("det_fp").isNotNull, col("seasonal_fp")).as("seasonal_fp"),
        (col("det_fp") - col("seasonal_fp")).as("resid_fp"))
      .orderBy("hr")
  }

  /** CUSUM change-point detector over the hourly event count — the
    * monitor that catches a PERSISTENT small shift ([[q_spikes]]
    * needs one loud hour; a feed that quietly drops 10% forever never
    * trips 3σ but accumulates in CUSUM). The recursion
    * S_t = max(0, S_{t−1} + (x_t − μ)) is not window-expressible
    * directly, but distributes EXACTLY through the max-prefix
    * identity S_t = P_t − min_{j≤t} P_j with P the running sum of
    * deviations — two cumulative windows, no recursion. Deviations
    * are mean-cleared integers (n·x_t − S, the [[q_acf]] trick), so
    * the whole statistic is exact longs; the decision threshold is
    * the classic h = 5σ, compared integer-only via
    * cusum² > 25·(nQ − S²)  (both sides ×n²). Both one-sided
    * detectors are reported (upward = P − min-prefix, downward =
    * max-prefix − P).
    *
    * Scale shape: one map-side-combined hour-count agg; the
    * cumulative windows run over the calendar-bounded dense hour
    * table (the q_ks stance). Overflow: cusum ≤ hours·n·peak, so the
    * squared compare needs (hours²·peak)² ≲ 2⁶³ — fine to ~10⁴
    * events/hour over a decade; beyond, widen to DECIMAL(38,0).
    */
  def q_cusum(s: SparkSession, d: String): DataFrame =
    cusumOf(events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 3600").as("hr"))
      .agg(count(lit(1)).as("y")))

  /** The max-prefix kernel of [[q_cusum]], factored so unit tests can
    * drive it with hand-built (hr, y) rows.
    */
  private[graft] def cusumOf(hourCounts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hrCnt = hourCounts
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: bounds + the spine join
    val bounds = hrCnt.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val dense = bounds.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .join(hrCnt, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("y"), lit(0L)).as("y"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: totals + the deviation scan
    val tot = dense.agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
      sum(col("y") * col("y")).as("q"))
    val wCum = Window.orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense.crossJoin(broadcast(tot))
      .select(col("hr"), col("y"), col("n"), col("s"), col("q"),
        sum(col("n") * col("y") - col("s")).over(wCum).as("p"))
      .select(col("hr"), col("y"), col("n"), col("s"), col("q"), col("p"),
        min(col("p")).over(wCum).as("mn"),
        max(col("p")).over(wCum).as("mx"))
      .select(col("hr"), col("y"),
        (col("p") - col("mn")).as("cusum_up"),
        (col("mx") - col("p")).as("cusum_dn"),
        ((col("p") - col("mn")) * (col("p") - col("mn")) >
          lit(25L) * (col("n") * col("q") - col("s") * col("s")))
          .as("up_flag"),
        ((col("mx") - col("p")) * (col("mx") - col("p")) >
          lit(25L) * (col("n") * col("q") - col("s") * col("s")))
          .as("dn_flag"))
      .orderBy("hr")
  }

  /** Mann–Kendall trend test over the daily event count — the
    * nonparametric companion to [[q_trend]] (OLS asks "what line";
    * Mann–Kendall asks "is there ANY monotone trend", immune to
    * outliers and distribution shape — the standard test in
    * operations and environmental monitoring). S = Σ_{i<j}
    * sign(y_j − y_i) over the dense day spine is an exact integer
    * pair sum; the tie-corrected variance is cleared of its /18
    * (var18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5)); z applies the ±1
    * continuity correction and is the one mirrored `round(double,6)`
    * over those longs: z = (S ∓ 1)·√(18/var18).
    *
    * Scale shape: the pair sum is a self-join of the calendar-bounded
    * day table (O(days²) pairs — 30 days = 435, a decade ≈ 6.7M;
    * bounded by the calendar, not the corpus), tie counts one more
    * O(days) agg.
    */
  def q_mk_trend(s: SparkSession, d: String): DataFrame =
    mkTrendOf(events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("y")))

  /** The pair-sign kernel of [[q_mk_trend]], factored so unit tests
    * can drive it with hand-built (day, y) rows.
    */
  private[graft] def mkTrendOf(dayCounts: DataFrame): DataFrame = {
    val dayCnt = dayCounts
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: bounds + the spine join
    val bounds = dayCnt.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val dense = bounds.select(explode(expr("sequence(d0, d1)")).as("day"))
      .join(dayCnt, Seq("day"), "left")
      .select(col("day"), coalesce(col("y"), lit(0L)).as("y"))
      .transform(graft.plans.Ckpt.maybe) // referenced 3x: both pair sides + ties
    val a = dense.select(col("day").as("di"), col("y").as("yi"))
    val b = dense.select(col("day").as("dj"), col("y").as("yj"))
    val sSum = a.join(broadcast(b), col("di") < col("dj"))
      .agg(coalesce(sum(signum(col("yj") - col("yi")).cast("long")), lit(0L))
        .as("s_mk"))
    val ties = dense.groupBy("y").agg(count(lit(1)).as("t"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("t18"))
    sSum.crossJoin(broadcast(ties))
      .select(col("n_days"), col("s_mk"),
        (col("n_days") * (col("n_days") - 1)
          * (lit(2L) * col("n_days") + 5) - col("t18")).as("var18"))
      .select(col("n_days"), col("s_mk"), col("var18"),
        expr("CASE WHEN var18 <= 0 THEN NULL " +
          "WHEN s_mk > 0 THEN round((s_mk - 1) * sqrt(18.0 / var18), 6) " +
          "WHEN s_mk < 0 THEN round((s_mk + 1) * sqrt(18.0 / var18), 6) " +
          "ELSE 0.0 END").as("z"))
  }

  /** Benford first-digit conformance over the money values — the
    * classic fabricated-data screen (organically-grown magnitudes
    * follow P(d) = log₁₀(1+1/d); synthetic or truncated feeds don't):
    * per leading digit the observed count, observed ×1e6 share, the
    * Benford expectation (PINNED ×1e6 literals — no engine log in the
    * hot path), and the absolute deviation. The leading digit is
    * extracted from the DECIMAL STRING of the positive integer cents
    * — `substring(CAST(c AS STRING), 1, 1)` is engine-neutral where
    * floor(log₁₀) float paths are not. The dense 1..9 spine keeps
    * never-seen digits in the report.
    *
    * Scale shape: one map-side-combined 9-key count agg; everything
    * after runs on 9 rows.
    */
  def q_benford(s: SparkSession, d: String): DataFrame = {
    val benfordFp: Map[Int, Long] = Map(1 -> 301030L, 2 -> 176091L,
      3 -> 124939L, 4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
      8 -> 51153L, 9 -> 45757L)
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    val digits = events(s, d).filter(col("value").isNotNull)
      .select(cents.as("c")).filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: total + the spine join
    val tot = digits.agg(sum(col("n")).as("tot"))
    val spine = s.range(1, 10).select(col("id").as("digit"))
      .withColumn("benford_fp",
        benfordFp.foldLeft(lit(0L)) { case (acc, (dg, fp)) =>
          when(col("digit") === dg, lit(fp)).otherwise(acc)
        })
    spine.join(digits, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("benford_fp"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("(2 * n * 1000000 + tot) div (2 * tot)").as("share_fp"),
        col("benford_fp"),
        expr("abs((2 * n * 1000000 + tot) div (2 * tot) - benford_fp)")
          .as("dev_fp"))
      .orderBy("digit")
  }

  /** Winsorized mean per event type — the robust location estimate
    * between [[q_outliers]]' median (throws away all magnitude
    * information) and the raw mean (one corrupted feed drags it
    * arbitrarily): values below the (lower) p10 clamp UP to p10,
    * above p90 clamp DOWN to p90, then the mean is taken — the
    * standard 10% winsorization a metrics pipeline applies before
    * averaging noisy usage values. Percentiles come from the
    * float-free `cum·100 ≥ n·p` rank test on the per-type value-count
    * table (the q_skew_stats idiom); the clamped sum re-aggregates
    * VALUE COUNTS, never raw rows, and both means are exact
    * round-half-up integer cents.
    *
    * Scale shape: ONE corpus-scale exchange — the map-side-combined
    * (type, cents) count agg bounded by the value domain — then
    * windows and joins over that tiny table; O(types) output.
    */
  def q_winsorize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    val vc = events(s, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), cents.as("c")).agg(count(lit(1)).as("n"))
      .transform(graft.plans.Ckpt.maybe) // referenced 3x: totals, cum window, clamp sum
    val tot = vc.groupBy("event_type")
      .agg(sum(col("n")).as("nr"), sum(col("c") * col("n")).as("s_raw"))
    val cum = vc.select(col("event_type"), col("c"),
      sum(col("n")).over(Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: the p10 and p90 cuts
    def pcut(p: Int, out: String) =
      cum.join(broadcast(tot.select(col("event_type"), col("nr"))),
          Seq("event_type"))
        .filter(col("cum") * 100 >= col("nr") * p)
        .groupBy("event_type").agg(min(col("c")).as(out))
    val bounds = pcut(10, "p10_c").join(pcut(90, "p90_c"), Seq("event_type"))
    vc.join(broadcast(bounds), Seq("event_type"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"),
        sum(greatest(least(col("c"), col("p90_c")), col("p10_c")) * col("n"))
          .as("s_w"),
        first(col("p10_c")).as("p10_c"), first(col("p90_c")).as("p90_c"))
      .join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("n"), col("p10_c"), col("p90_c"),
        expr("CASE WHEN s_raw >= 0 THEN (2 * s_raw + n) div (2 * n) " +
          "ELSE -((2 * abs(s_raw) + n) div (2 * n)) END").as("mean_c"),
        expr("CASE WHEN s_w >= 0 THEN (2 * s_w + n) div (2 * n) " +
          "ELSE -((2 * abs(s_w) + n) div (2 * n)) END").as("wmean_c"))
      .orderBy("event_type")
  }

  /** Fano factor (variance-to-mean ratio) of the hourly count per
    * event type — the burstiness diagnostic that separates a Poisson
    * feed (F ≈ 1) from a bursty one (F ≫ 1, e.g. batched uploads) or
    * an anti-bursty rate-limited one (F < 1); [[q_spikes]] flags
    * individual hours, this scores the TYPE's whole arrival process.
    * Series = the GLOBAL dense hour spine per type (an hour with no
    * events of a type is a real zero for that type). With w hours,
    * S = Σy, Q = Σy²: F = σ²/μ = (w·Q − S²)/(w·S), reported as the
    * ×1e6 round-half-up fixed point on exact longs (w·Q − S² ≥ 0 by
    * Cauchy–Schwarz, so no sign handling is needed).
    *
    * Scale shape: one map-side-combined (type, hour) count agg
    * bounded by |types|·hours, a |types|×O(hours) spine, and an
    * O(types)-row output. Overflow: (w·Q − S²)·1e6 needs
    * hours²·(peak hourly count)² ≲ 4·10¹² — fine to ~10³ events/hour
    * over a decade of hours; beyond, widen to DECIMAL(38,0).
    */
  def q_burstiness(s: SparkSession, d: String): DataFrame = {
    val hc = events(s, d)
      .groupBy(col("event_type"), expr("unix_timestamp(ts) div 3600").as("hr"))
      .agg(count(lit(1)).as("y"))
      .transform(graft.plans.Ckpt.maybe) // referenced 3x: bounds, types, the spine join
    val bounds = hc.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val types = hc.select("event_type").distinct()
    val spine = types.crossJoin(broadcast(
      bounds.select(explode(expr("sequence(h0, h1)")).as("hr"))))
    spine.join(hc, Seq("event_type", "hr"), "left")
      .select(col("event_type"), coalesce(col("y"), lit(0L)).as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("w"), sum(col("y")).as("n_events"),
        sum(col("y") * col("y")).as("q"))
      .select(col("event_type"), col("w"), col("n_events"),
        expr("(2 * (w*q - n_events*n_events) * 1000000 + w*n_events) div " +
          "(2 * w*n_events)").as("fano_fp"))
      .orderBy("event_type")
  }

  /** Inter-arrival-time report per event type — the gap distribution
    * (min / p50 / p90 / max / mean micros between consecutive events
    * of a type) that sizes watermarks, session gaps, and timeout
    * budgets; the distributional companion to [[q_burstiness]]'s
    * one-number summary. Gaps are exact micros between consecutive
    * events ordered by (ts, event_id) within each type (the unique-id
    * tie-break makes simultaneous events a deterministic zero gap);
    * percentiles use the float-free `cum·100 ≥ n·p` rank test on the
    * per-type gap-value count table (the q_skew_stats idiom) and the
    * mean is the `(2S+n) div 2n` round-half-up integer.
    *
    * Scale shape: one lag window partitioned by type, one
    * map-side-combined (type, gap) count agg bounded by distinct gap
    * values, cumulative windows over that table, O(types) output.
    */
  def q_gap_stats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("tu"),
        col("event_id"))
    val gaps = ev
      .withColumn("gap", col("tu") - lag(col("tu"), 1).over(
        Window.partitionBy("event_type").orderBy(col("tu"), col("event_id"))))
      .filter(col("gap").isNotNull)
    val gc = gaps.groupBy(col("event_type"), col("gap"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: totals + the cum window
    val tot = gc.groupBy("event_type")
      .agg(sum(col("c")).as("n_gaps"), min(col("gap")).as("min_gap"),
        max(col("gap")).as("max_gap"),
        sum(col("gap") * col("c")).as("s_gap"))
    val cum = gc.select(col("event_type"), col("gap"),
      sum(col("c")).over(Window.partitionBy("event_type").orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
    val p50 = cum.join(broadcast(tot), Seq("event_type"))
      .filter(col("cum") * 100 >= col("n_gaps") * 50)
      .groupBy("event_type").agg(min(col("gap")).as("p50_gap"))
    val p90 = cum.join(broadcast(tot), Seq("event_type"))
      .filter(col("cum") * 100 >= col("n_gaps") * 90)
      .groupBy("event_type").agg(min(col("gap")).as("p90_gap"))
    tot.join(p50, Seq("event_type")).join(p90, Seq("event_type"))
      .select(col("event_type"), col("n_gaps"), col("min_gap"),
        col("p50_gap"), col("p90_gap"), col("max_gap"),
        expr("(2 * s_gap + n_gaps) div (2 * n_gaps)").as("mean_gap"))
      .orderBy("event_type")
  }

  /** The per-user 30-minute-gap session intervals shared by
    * [[q_concurrency]] and [[q_join_overlap]] — the same
    * `session_window` construction [[q_time_session]] reports,
    * reduced to (user_id, [s_us, e_us)) half-open micro intervals.
    */
  private def sessionIntervals(s: SparkSession, d: String): DataFrame =
    // memoized once per (app, dir) — q_concurrency and q_join_overlap
    // each rebuilt the identical session aggregation (r15 opt, the
    // SharedState funnel; O(sessions) rows)
    graft.plans.SharedState.cachedDf(s, "ts.sessionIntervals", d,
      Seq("events.parquet")) {
      events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("s_us"),
          unix_micros(col("session_window.end")).as("e_us"))
    }

  def q_concurrency(s: SparkSession, d: String): DataFrame =
    concurrencyOf(sessionIntervals(s, d).select("s_us", "e_us"))

  /** Interval-overlap SELF-join over the session table: which user
    * pairs were online simultaneously, how often, and for how long —
    * the co-presence affinity mining behind "suggest a teammate" and
    * fraud-ring features, and the remaining member of the temporal-
    * join family (equi = [[Relational.q_join_inner]], point-in-range
    * = [[Relational.q_join_range]], nearest-past = [[Windows
    * .q_join_asof]], point-in-validity = [[Windows.q_scd2_lookup]];
    * this one is interval × interval). Overlap is the half-open test
    * a.s < b.e AND b.s < a.e; the reported duration is the exact
    * integer min(e)−max(s) micros.
    *
    * Scale shape — the [[Relational.q_join_range_binned]] rewrite
    * applied to a SELF-join: a naive interval self-join is O(n²) in
    * sessions; instead each session explodes to the HOURS it covers
    * (bounded by session length, not corpus), the join runs on the
    * hour bin (+ user_a < user_b to orient pairs), and each
    * overlapping pair is CREDITED EXACTLY ONCE in the bin containing
    * its overlap start (`hr = max(s₁,s₂) div 1h` — the standard
    * bin-credit dedup, cheaper than a post-join distinct on session
    * ids because it filters inside the join). Output is bounded by
    * co-present user pairs. Skewed hours (everyone online at 9am)
    * re-bound the same way as [[Relational.q_join_skew]]: salt the
    * bin key.
    */
  def q_join_overlap(s: SparkSession, d: String): DataFrame =
    overlapOf(sessionIntervals(s, d))

  /** The hour-binned overlap-join kernel of [[q_join_overlap]],
    * factored so unit tests can drive it with hand-built
    * (user_id, s_us, e_us) intervals.
    */
  private[graft] def overlapOf(sessions: DataFrame): DataFrame = {
    val binned = sessions
      .select(col("user_id"), col("s_us"), col("e_us"),
        explode(expr("sequence(s_us div 3600000000, (e_us - 1) div 3600000000)"))
          .as("hr"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: both sides of the self-join
    val a = binned.select(col("hr"), col("user_id").as("ua"),
      col("s_us").as("sa"), col("e_us").as("ea"))
    val b = binned.select(col("hr"), col("user_id").as("ub"),
      col("s_us").as("sb"), col("e_us").as("eb"))
    a.join(b, Seq("hr"))
      .filter(col("ua") < col("ub") &&
        col("sa") < col("eb") && col("sb") < col("ea") &&
        col("hr") === expr("greatest(sa, sb) div 3600000000"))
      .select(col("ua").as("user_a"), col("ub").as("user_b"),
        (least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
          .as("ov"))
      .groupBy("user_a", "user_b")
      .agg(count(lit(1)).as("n_overlaps"), sum(col("ov")).as("total_overlap_us"))
      .orderBy("user_a", "user_b")
  }

  /** The hourly-carry sweep kernel of [[q_concurrency]], factored so
    * unit tests can drive it with hand-built (s_us, e_us) intervals.
    */
  private[graft] def concurrencyOf(sessions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = sessions
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: the +1 and -1 branches
    val deltas = sess.select(col("s_us").as("t"), lit(1L).as("delta"))
      .unionAll(sess.select(col("e_us").as("t"), lit(-1L).as("delta")))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: hour totals + in-hour sweep
    val carry = deltas
      .groupBy(expr("t div 3600000000").as("hr"))
      .agg(sum(col("delta")).as("d_h"))
      .select(col("hr"),
        (sum(col("d_h")).over(Window.orderBy("hr")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("d_h")).as("carry"))
    val run = deltas.withColumn("hr", expr("t div 3600000000"))
      .join(broadcast(carry), Seq("hr"))
      .select(col("t"), col("delta"),
        (col("carry") + sum(col("delta")).over(
          Window.partitionBy("hr").orderBy(col("t"), col("delta"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .as("open"))
    run.groupBy(expr("t div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_changes"), max(col("open")).as("peak"))
      .orderBy("day")
  }

  /** Exponentially-weighted moving average of the hourly event count
    * — the smoothed-rate line drawn under [[q_spikes]]' flags (the 3σ
    * test needs a window statistic; operators watch the EWMA). α=1/2
    * with a `window`-hour truncation makes the smoothing EXACT
    * integer arithmetic: the weights are powers of two
    * (y_{t−j} · 2^{w−1−j}), so the weighted sum and the weight total
    * are plain long sums and the report is the ×1e6 round-half-up
    * fixed point of their ratio — no float, no order dependence, no
    * recursive state (the recursion s_t = (s_{t−1}+x_t)/2 would carry
    * unbounded denominators; truncation at w=20 drops terms below
    * 2⁻²⁰ — sub-integer for any realistic count — and renormalizes
    * by the ACTUAL weight total, which also defines the warm-up rows
    * near the series start). Dense hour spine as in [[q_acf]].
    *
    * Scale shape: the O(hours) dense table cross-joined with the
    * w-row offset table (calendar-bounded ×20), one map-side-combined
    * groupBy on the target hour. Overflow: num ≤ peak-count·2^w —
    * fine to ~10¹² events/hour at w=20.
    */
  def q_ewma(s: SparkSession, d: String, w: Int = 20): DataFrame =
    ewmaOf(events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 3600").as("hr"))
      .agg(count(lit(1)).as("y")), w)

  /** The truncated power-of-two smoothing kernel of [[q_ewma]],
    * factored so unit tests can drive it with hand-built (hr, y)
    * rows.
    */
  private[graft] def ewmaOf(hourCounts: DataFrame, w: Int): DataFrame = {
    val s = hourCounts.sparkSession
    val hrCnt = hourCounts
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: bounds + the spine join
    val bounds = hrCnt.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val dense = bounds.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .join(hrCnt, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("y"), lit(0L)).as("y"))
      .transform(graft.plans.Ckpt.maybe) // referenced 3x: contributions, domain, readout
    val offs = s.range(w).select(col("id").as("off"))
      .select(col("off"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${w - 1} - off AS INT))")
          .as("wt"))
    val contrib = dense.crossJoin(broadcast(offs))
      .select((col("hr") + col("off")).as("t"), col("y"), col("wt"))
      // targets past the series end would have partial windows built
      // from the FUTURE edge; restrict to the dense domain
      .join(dense.select(col("hr").as("t")), Seq("t"))
    contrib.groupBy("t")
      .agg(sum(col("y") * col("wt")).as("num"), sum(col("wt")).as("den"))
      .join(dense.select(col("hr").as("t"), col("y")), Seq("t"))
      .select(col("t").as("hr"), col("y"),
        expr("(2 * num * 1000000 + den) div (2 * den)").as("ewma_fp"))
      .orderBy("hr")
  }

  /** Day-of-week × hour-of-day seasonality profile — the periodic
    * fingerprint behind [[q_acf]]'s lag spikes, materialized as the
    * 168-cell matrix every on-call dashboard draws: per cell the
    * event count and its lift vs the uniform rate (lift 1.0 = the
    * cell carries exactly 1/168 of the week). Day-of-week is computed
    * ARITHMETICALLY from the epoch day ((day+4) mod 7, Sunday = 0 —
    * 1970-01-01 was a Thursday) rather than from either engine's
    * calendar functions, whose numbering conventions differ (DuckDB
    * dayofweek is 0-based Sunday, Spark's is 1-based Sunday, and both
    * are locale-stable only by documentation); integer arithmetic on
    * the epoch cannot drift. The DENSE 168-cell spine keeps never-hit
    * cells in the profile as zeros, where a dashboard needs them.
    *
    * Scale shape: one map-side-combined (dow, hod) count agg with an
    * output bounded at 168 rows regardless of corpus size, joined to
    * a generated 7×24 spine; lift is the ×1e6 round-half-up fixed
    * point of 168·n/total on exact longs.
    */
  def q_seasonality(s: SparkSession, d: String): DataFrame = {
    val cells = events(s, d)
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("(unix_timestamp(ts) div 3600) % 24").as("hod"))
      .select(expr("(day + 4) % 7").as("dow"), col("hod"))
      .groupBy("dow", "hod").agg(count(lit(1)).as("n_events"))
      .transform(graft.plans.Ckpt.maybe) // referenced 2x: total + the spine join
    val spine = s.range(7).select(col("id").as("dow"))
      .crossJoin(broadcast(s.range(24).select(col("id").as("hod"))))
    val tot = cells.agg(sum(col("n_events")).as("tot"))
    spine.join(cells, Seq("dow", "hod"), "left")
      .select(col("dow"), col("hod"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .crossJoin(broadcast(tot))
      .select(col("dow"), col("hod"), col("n_events"),
        expr("(2 * 168 * n_events * 1000000 + tot) div (2 * tot)")
          .as("lift_fp"))
      .orderBy("dow", "hod")
  }

  /** Poisson-bootstrap confidence interval for the mean event value per
    * type — the resampling method that actually runs at corpus scale
    * (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", 2012): instead of materializing B resamples, every row
    * draws B independent Poisson(1) replicate weights from a hash of
    * (event_id, replicate), so ALL B resamples fuse into one scan and
    * one map-side-combined aggregation whose output is exactly
    * types × B rows. A driver-side loop over B samples — the textbook
    * bootstrap — would re-scan the corpus B times; this shape reads it
    * once regardless of B.
    *
    * Determinism/parity: the replicate weight is the inverse-CDF of
    * Poisson(1) applied to a 52-bit uniform from the repo's standard
    * md5-nibble draw (SampleOps.hashDraw idiom), with the CDF
    * thresholds pre-scaled to integers (⌊CDF·2^52⌋, capped at 8 —
    * tail mass beyond 8 is 1.1e-6); both engines compare the same
    * longs, so every weight is bit-identical cross-engine. Replicate
    * means are the `(2a+d) div 2d` round-half-up fixed point
    * (cents × 1e4) on exact long sums; the CI is rank-based (2nd
    * smallest / 2nd largest of the B=32 replicate means ≈ a 94% CI),
    * so no float enters the output. Overflow headroom: per-(type,rep)
    * `num ≤ 8·maxCents·n` stays under 2^63 up to ~10^12 rows per type.
    *
    * Scale shape: the ×B row expansion is scan-side (no shuffle
    * carries it — partial aggregation collapses each partition to
    * ≤ types×B rows before the exchange); the base scan is read once
    * per subtree but never checkpointed — it is a bare
    * scan+projection, and materializing the whole corpus to save a
    * second columnar scan would be the wrong trade. Everything after
    * the two aggregations is O(types × B).
    */
  def q_bootstrap(s: SparkSession, d: String, reps: Int = 32): DataFrame = {
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    bootstrapOf(events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), cents.as("cents")), reps)
  }

  /** ⌊CDF_Poisson(1)(k)·2^52⌋ for k = 0..7; u ≥ last ⇒ weight 8 —
    * shared with the spec's independent driver-side recompute.
    */
  private[graft] val PoissonThresholds: Seq[Long] =
    Seq(1656781714176974L, 3313563428353948L, 4141954285442435L,
      4418084571138597L, 4487117142562638L, 4500923656847446L,
      4503224742561580L, 4503553469092171L)

  /** The [[q_bootstrap]] kernel over (event_type, event_id, cents)
    * rows, factored so unit tests can drive it with hand-built data.
    */
  /** The hash-derived Poisson(1) replicate weight for (event_id, rep)
    * — factored so the streaming twin applies the identical draw.
    */
  private[graft] def poissonWeight(eventId: Column, rep: Column): Column = {
    val thresholds = PoissonThresholds
    val u = graft.functions.HashFunctions.md5WindowU(
      concat(eventId.cast("string"), lit(":"), rep.cast("string")), 1, 13)
    thresholds.tail.zipWithIndex
      .foldLeft(when(u < thresholds.head, 0)) { case (acc, (th, i)) =>
        acc.when(u < th, i + 1)
      }.otherwise(8).cast("long")
  }

  /** The per-(type, replicate) weighted moment stage of
    * [[q_bootstrap]] over the corpus — exposed so the streaming
    * parity spec compares the identical sufficient statistics
    * (StreamingOps.streamingBootstrap).
    */
  private[graft] def bootstrapMoments(s: SparkSession, d: String,
      reps: Int): DataFrame = {
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), cents.as("cents"))
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("cnt", poissonWeight(col("event_id"), col("rep")))
      .groupBy("event_type", "rep")
      .agg(sum(col("cnt") * col("cents")).as("num"), sum(col("cnt")).as("den"))
  }

  private[graft] def bootstrapOf(base: DataFrame, reps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = base
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("cnt", poissonWeight(col("event_id"), col("rep")))
      .groupBy(col("event_type"), col("rep"))
      .agg(sum(col("cnt") * col("cents")).as("num"), sum(col("cnt")).as("den"))
      .filter(col("den") > 0)
      .select(col("event_type"), col("rep"),
        expr("(2 * num * 10000 + den) div (2 * den)").as("m_fp"))
    val ranked = bm
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("m_fp"), col("rep"))))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy("event_type")))
    val ci = ranked.groupBy("event_type").agg(
      max(when(col("rn") === 2, col("m_fp"))).as("boot_lo_fp"),
      max(when(col("rn") === col("nb") - 1, col("m_fp"))).as("boot_hi_fp"))
    base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .select(col("event_type"), col("n"),
        expr("(2 * s * 10000 + n) div (2 * n)").as("mean_fp"))
      .join(ci, Seq("event_type"), "left")
      .select("event_type", "n", "mean_fp", "boot_lo_fp", "boot_hi_fp")
      .orderBy("event_type")
  }

  /** First- and last-touch revenue attribution — the conversion-credit
    * readout every growth team runs: each purchase credits (a) the
    * user's earliest preceding touch (signup/view/click) and (b) the
    * most recent one, and the report aggregates conversions and
    * revenue cents per (model, touch_type). Purchases with no
    * preceding touch report under '(none)' so the two models' totals
    * both reconcile to the purchase count.
    *
    * Scale shape: ONE exchange (the per-user window partitioning);
    * the first/last touch ride as `first/last(…, ignoreNulls)` over
    * the rows-preceding frame — no self-join, no per-purchase scan of
    * the user's history (the oracle SQL does the quadratic
    * inequality-join + row_number form precisely because the oracle
    * need not scale). Strict (tu, event_id) ordering makes same-
    * microsecond ties deterministic and identical cross-engine.
    */
  def q_attribution(s: SparkSession, d: String): DataFrame = {
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    attributionOf(events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("tu"), cents.as("cents")))
  }

  /** The [[q_attribution]] kernel over (user_id, event_id, event_type,
    * tu, cents) rows, factored for hand-built fixtures.
    */
  private[graft] def attributionOf(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(
      col("event_type").isin("signup", "view", "click"), col("event_type"))
    ev.withColumn("first_t", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_t", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("cents"), explode(array(
        struct(lit("first").as("model"),
          coalesce(col("first_t"), lit("(none)")).as("touch_type")),
        struct(lit("last").as("model"),
          coalesce(col("last_t"), lit("(none)")).as("touch_type")))).as("a"))
      .groupBy(col("a.model").as("model"), col("a.touch_type").as("touch_type"))
      .agg(count(lit(1)).as("n_conv"), sum(col("cents")).as("revenue_cents"))
      .orderBy("model", "touch_type")
  }

  /** Top-N session paths — the path-mining / Sankey-source readout:
    * sessionize each user's events with a 30-minute inactivity gap
    * (the q_time_session cutoff, hand-rolled via the lag-flag cumsum
    * so the session id is engine-neutral), render each session as its
    * ordered `a>b>c` event-type string, and rank the N most frequent
    * paths (ties broken by path text, so the cut is total-ordered and
    * deterministic).
    *
    * Scale shape: one per-user window exchange + one groupBy(path)
    * exchange, both map-side combinable; the global rank runs on the
    * top-N rows AFTER a sort-limit (TakeOrderedAndProject — the
    * distributed top-N physical op), not a single-partition window
    * over all distinct paths. In-session order is pinned by
    * array_sort over (tu, event_id, type) structs — collect_list
    * order is not a contract (the funnelOf idiom).
    */
  /** Seasonal-naive forecast backtest with MASE — the baseline every
    * forecasting pipeline must beat, and the monitoring readout that
    * says whether a series is even predictable: forecast each hour as
    * the same hour yesterday (ŷ_t = y_{t−24}), score the last 48
    * observed hours, and normalize by the in-sample one-step naive
    * MAE (Hyndman & Koehler 2006 — MASE = test MAE / train naive
    * MAE, scale-free across series). mase_fp < 1e6 means daily
    * seasonality beats a random walk on that series.
    *
    * Exactness: counts are integers, absolute errors are integer
    * |y − lag(y)|, and MASE clears its two fractions by
    * cross-multiplication into the standard (2a+d) div 2d
    * round-half-up fixed point — no float anywhere. NULL when the
    * train segment is constant (d_sum = 0) in both engines.
    *
    * Scale shape: one map-side-combined (type, hour) aggregation,
    * then everything runs on the DENSE type × 720-hour spine
    * (O(types·hours) rows — gaps must score as zeros, the q_decompose
    * spine rule); both lag windows and the final agg share the
    * per-type partitioning, so the spine costs ONE exchange. The
    * hour-count table is referenced twice (bounds + spine join) →
    * checkpointed.
    */
  def q_forecast(s: SparkSession, d: String, season: Int = 24,
      hTest: Int = 48): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hc = events(s, d)
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("y"))
      .transform(graft.plans.Ckpt.maybe)
    val b = hc.agg(min("hr").as("h0"), max("hr").as("h1"))
    val dense = hc.select("event_type").distinct()
      .crossJoin(broadcast(b))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1")))
        .as("hr"), col("h1"))
      .join(hc, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"), col("h1"),
        coalesce(col("y"), lit(0L)).as("y"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    dense
      .withColumn("nav", abs(col("y") - lag(col("y"), season).over(w)))
      .withColumn("stp", abs(col("y") - lag(col("y"), 1).over(w)))
      .withColumn("is_test", col("hr") > col("h1") - hTest)
      .groupBy("event_type").agg(
        count(when(col("is_test") && col("nav").isNotNull, lit(1)))
          .as("n_test"),
        sum(when(col("is_test"), col("nav"))).as("e_sum"),
        count(when(!col("is_test") && col("stp").isNotNull, lit(1)))
          .as("n_train"),
        sum(when(!col("is_test"), col("stp"))).as("d_sum"))
      .select(col("event_type"), col("n_test"), col("e_sum"),
        col("n_train"), col("d_sum"),
        when(col("d_sum") > 0,
          expr("""(2 * e_sum * n_train * 1000000 + n_test * d_sum)
                 | div (2 * n_test * d_sum)""".stripMargin))
          .as("mase_fp"))
      .orderBy("event_type")
  }

  /** Exact Spearman rank correlation between event value and
    * hour-of-day, per type — "is value seasonal in rank?", the
    * nonparametric sibling of q_seasonality's lift matrix. Ties are
    * handled with textbook AVERAGE ranks, kept integral by the 2r
    * trick: a tied run starting at min-rank f with c members has
    * average position f + (c−1)/2, so 2r = 2f + c − 1 is an exact
    * integer from rank() + a same-partition count window. Ranks are
    * then CENTERED (x = 2r − (n+1), Σx ≡ 0), which both kills the
    * mean-subtraction term and caps every moment at n³ — without
    * centering, n·Σxy − ΣxΣy overflows int64 at n ≈ 40k; centered,
    * the headroom is n ≈ 2M rows per group. rho is the one mirrored
    * double expression Σx_ax_b/(√Σx_a²·√Σx_b²) on exact integer
    * moments (the q_trend stance), NULL when either variable is
    * constant.
    *
    * Scale shape: both rank windows and the count windows share the
    * per-type partitioning — ONE exchange, consecutive sorts — and
    * the output is one row per type from a map-side-combinable agg.
    * Values rank as exact cents (the money idiom), never raw doubles.
    */
  def q_spearman(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = (Relational.dec2(col("value")) * 100).cast("long")
    val ev = events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), cents.as("v"),
        expr("(unix_timestamp(ts) div 3600) % 24").as("hod"))
    val p = Window.partitionBy("event_type")
    val ranked = ev
      .withColumn("n", count(lit(1)).over(p))
      .withColumn("fa", rank().over(p.orderBy("v")))
      .withColumn("ca", count(lit(1)).over(Window.partitionBy("event_type", "v")))
      .withColumn("fb", rank().over(p.orderBy("hod")))
      .withColumn("cb", count(lit(1)).over(Window.partitionBy("event_type", "hod")))
      .select(col("event_type"), col("n"),
        (lit(2) * col("fa") + col("ca") - 1 - (col("n") + 1)).as("xa"),
        (lit(2) * col("fb") + col("cb") - 1 - (col("n") + 1)).as("xb"))
    ranked.groupBy("event_type").agg(
        max(col("n")).as("n"),
        sum(col("xa") * col("xb")).as("sxy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"))
      .select(col("event_type"), col("n"), col("sxy"), col("sxx"), col("syy"),
        when(col("sxx") > 0 && col("syy") > 0,
          round(expr("sxy / (sqrt(sxx) * sqrt(syy))"), 6)).as("rho"))
      .orderBy("event_type")
  }

  /** Session-basket association mining — support and lift for every
    * event-type pair co-occurring in a session (the market-basket
    * readout over behavioral sessions; lift > 1e6 means the pair
    * co-occurs above independence). The set-co-occurrence complement
    * to [[q_transitions]]' adjacency counts.
    *
    * All metrics are ×1e6 round-half-up integers on exact session
    * counts: support = n_ab/N, lift = n_ab·N/(n_a·n_b) — the double
    * fraction cleared by cross-multiplication (headroom:
    * n_ab·N·1e6 < 2^63 to N ≈ 3e6 sessions; beyond that the same
    * expression runs in decimal(38,0)).
    *
    * Scale shape: sessionization is the one per-user window exchange
    * (shared with [[q_session_paths]]'s contract); baskets collapse
    * to ≤ |types| entries per session via collect_set, pairs are
    * built row-locally from the SORTED basket (≤ C(|types|,2) per
    * session — bounded, not a self-join), and the pair/single/total
    * aggregations are all map-side combinable with O(|types|²)
    * output. Singles and the total attach via broadcast.
    */
  def q_basket(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("tu"))
    val wOrd = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
    val gap = col("tu") - lag(col("tu"), 1).over(wOrd)
    val baskets = ev
      .withColumn("new_s",
        when(gap.isNull || gap > lit(1800L * 1000000L), 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_s")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(array_sort(collect_set(col("event_type"))).as("types"))
      .transform(graft.plans.Ckpt.maybe) // referenced 3x: pairs, singles, total
    val pairs = baskets
      // size >= 2 guard: Spark's sequence(0, size-2) would run
      // DESCENDING for singleton baskets and fabricate (b, a)/(a, a)
      .filter(size(col("types")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("types")) - 2), i => transform(
          sequence(i + 1, size(col("types")) - 1), j => struct(
            element_at(col("types"), i + 1).as("a"),
            element_at(col("types"), j + 1).as("b")))))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val singles = baskets.select(explode(col("types")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n_t"))
    val total = baskets.agg(count(lit(1)).as("n_sessions"))
    pairs
      .join(broadcast(singles.select(col("t").as("a"), col("n_t").as("n_a"))), "a")
      .join(broadcast(singles.select(col("t").as("b"), col("n_t").as("n_b"))), "b")
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_sessions"),
        expr("(2 * n_ab * 1000000 + n_sessions) div (2 * n_sessions)")
          .as("support_fp"),
        expr("""(2 * n_ab * n_sessions * 1000000 + n_a * n_b)
               | div (2 * n_a * n_b)""".stripMargin).as("lift_fp"))
      .orderBy("a", "b")
  }

  def q_session_paths(s: SparkSession, d: String, topN: Int = 20): DataFrame =
    sessionPathsOf(events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("tu")), topN)

  /** The [[q_session_paths]] kernel over (user_id, event_id,
    * event_type, tu) rows, factored for hand-built fixtures.
    */
  private[graft] def sessionPathsOf(ev: DataFrame, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
    val gap = col("tu") - lag(col("tu"), 1).over(wOrd)
    val counted = ev
      .withColumn("new_s",
        when(gap.isNull || gap > lit(1800L * 1000000L), 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_s")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(array_sort(collect_list(
        struct(col("tu"), col("event_id"), col("event_type")))).as("evs"))
      .select(array_join(expr("transform(evs, e -> e.event_type)"), ">")
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
    counted.orderBy(col("n_sessions").desc, col("path")).limit(topN)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))).cast("long"))
      .select("rn", "path", "n_sessions")
      .orderBy("rn")
  }

  val keys: Seq[Key] = Seq(
    // first-order Markov transition matrix over the per-user ordered
    // event stream; probabilities x1e6 round-half-up per prev row
    Key("q_transitions", q_transitions _,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |         epoch_us(ts) // 1000000 AS es FROM events),
        |p AS (SELECT event_type AS next_type,
        |        lag(event_type) OVER
        |          (PARTITION BY user_id ORDER BY es, event_id) AS prev_type
        |      FROM o),
        |c AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS tot
        |      FROM c)
        |SELECT prev_type, next_type, n,
        |  (2 * n * 1000000 + tot) // (2 * tot) AS p_fp
        |FROM t ORDER BY prev_type, next_type""".stripMargin),
    // RFM: per-user purchase recency/frequency/cents with position
    // quintiles from row_number ((rn-1)*5 // n + 1 — not ntile, whose
    // remainder rule is engine lore), user-id tie-breaks throughout
    Key("q_rfm", q_rfm _,
      """WITH p AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |       FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |per AS (SELECT user_id, max(day) AS last_day,
        |          CAST(count(*) AS BIGINT) AS frequency,
        |          CAST(sum(cents) AS BIGINT) AS monetary_c
        |        FROM p GROUP BY 1),
        |g AS (SELECT max(last_day) AS gmax, CAST(count(*) AS BIGINT) AS n_users
        |      FROM per),
        |b AS (SELECT user_id, gmax - last_day AS recency_days, frequency,
        |        monetary_c, n_users FROM per, g),
        |r AS (SELECT *,
        |        CAST(row_number() OVER (ORDER BY recency_days ASC, user_id) AS BIGINT) AS rn_r,
        |        CAST(row_number() OVER (ORDER BY frequency ASC, user_id) AS BIGINT) AS rn_f,
        |        CAST(row_number() OVER (ORDER BY monetary_c ASC, user_id) AS BIGINT) AS rn_m
        |      FROM b),
        |sc AS (SELECT user_id, recency_days, frequency, monetary_c,
        |         6 - (((rn_r - 1) * 5) // n_users + 1) AS r_score,
        |         ((rn_f - 1) * 5) // n_users + 1 AS f_score,
        |         ((rn_m - 1) * 5) // n_users + 1 AS m_score
        |       FROM r)
        |SELECT user_id, recency_days, frequency, monetary_c,
        |  r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm_code
        |FROM sc ORDER BY user_id""".stripMargin),
    // 3-sigma hourly spike flags by integer cross-multiplication:
    // (w*n-S)^2 > 9(w*Q-S^2), upward-only, 12-hour warm-up
    Key("q_spikes", (s, d) => q_spikes(s, d),
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |         CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hr, n,
        |        CAST(count(*) OVER tw AS BIGINT) AS w,
        |        CAST(sum(n) OVER tw AS BIGINT) AS s,
        |        CAST(sum(n*n) OVER tw AS BIGINT) AS q
        |      FROM h
        |      WINDOW tw AS (PARTITION BY event_type ORDER BY hr
        |        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hr, n, w,
        |  (w >= 12 AND (w*n - s)*(w*n - s) > 9*(w*q - s*s) AND n*w > s)
        |    AS is_spike
        |FROM w ORDER BY event_type, hr""".stripMargin),
    // OLS daily-count trend over the dense day spine: exact integer
    // moments, slope/intercept/r2 as one mirrored round(double,6)
    // each (the q_zipf stance)
    Key("q_trend", q_trend _,
      """WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
        |xy AS (SELECT CAST(s.day - b.d0 AS BIGINT) AS x,
        |         CAST(coalesce(dc.y, 0) AS BIGINT) AS y
        |       FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM b) s
        |       JOIN b ON TRUE LEFT JOIN dc ON s.day = dc.day),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x*y) AS BIGINT) AS sxy,
        |        CAST(sum(x*x) AS BIGINT) AS sxx,
        |        CAST(sum(y*y) AS BIGINT) AS syy FROM xy)
        |SELECT n_days, sx, sy, sxy, sxx, syy,
        |  CASE WHEN n_days*sxx - sx*sx = 0 THEN NULL ELSE
        |    round(CAST(n_days*sxy - sx*sy AS DOUBLE) /
        |          CAST(n_days*sxx - sx*sx AS DOUBLE), 6) END AS slope,
        |  CASE WHEN n_days*sxx - sx*sx = 0 THEN NULL ELSE
        |    round(CAST(sy*sxx - sx*sxy AS DOUBLE) /
        |          CAST(n_days*sxx - sx*sx AS DOUBLE), 6) END AS intercept,
        |  CASE WHEN n_days*sxx - sx*sx = 0 OR n_days*syy - sy*sy = 0
        |  THEN NULL ELSE
        |    round(CAST(n_days*sxy - sx*sy AS DOUBLE) *
        |          CAST(n_days*sxy - sx*sy AS DOUBLE) /
        |          (CAST(n_days*sxx - sx*sx AS DOUBLE) *
        |           CAST(n_days*syy - sy*sy AS DOUBLE)), 6) END AS r2
        |FROM a""".stripMargin),
    // hourly-count autocorrelation at lags 1..6 over the dense hour
    // spine: mean cleared by x n^2, integer num/den, sign-separated
    // x1e6 fixed point (Spark div truncates, DuckDB // floors — the
    // division only ever sees non-negative operands)
    Key("q_acf", (s, d) => q_acf(s, d),
      """WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS hr,
        |         CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM hc),
        |dense AS (SELECT s.hr, CAST(coalesce(hc.y, 0) AS BIGINT) AS y
        |          FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM b) s
        |          LEFT JOIN hc ON s.hr = hc.hr),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(y) AS BIGINT) AS s FROM dense),
        |lg AS (SELECT unnest(generate_series(1, 6)) AS "lag"),
        |pl AS (SELECT lg."lag", CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum((t.n*a.y - t.s) * (t.n*bb.y - t.s)) AS BIGINT) AS num
        |       FROM lg JOIN dense a ON TRUE
        |       JOIN dense bb ON bb.hr = a.hr + lg."lag", tot t
        |       GROUP BY 1),
        |den AS (SELECT CAST(sum((t.n*y - t.s)*(t.n*y - t.s)) AS BIGINT) AS den
        |        FROM dense, tot t)
        |SELECT pl."lag" AS "lag", pl.n_pairs, pl.num, den.den,
        |  (CASE WHEN pl.num < 0 THEN -1 ELSE 1 END) *
        |    ((2*abs(pl.num)*1000000 + den.den) // (2*den.den)) AS acf_fp
        |FROM pl, den ORDER BY "lag"""".stripMargin),
    // dow x hod seasonality: arithmetic dow from the epoch day
    // ((day+4) mod 7, Sunday=0 — engine calendar functions disagree
    // on numbering), dense 168-cell spine, x1e6 lift vs uniform
    Key("q_seasonality", q_seasonality _,
      """WITH c AS (SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
        |         (epoch_us(ts) // 3600000000) % 24 AS hod,
        |         CAST(count(*) AS BIGINT) AS n_events
        |       FROM events GROUP BY 1, 2),
        |spine AS (SELECT d.dow, h.hod
        |          FROM (SELECT unnest(generate_series(0, 6)) AS dow) d,
        |               (SELECT unnest(generate_series(0, 23)) AS hod) h),
        |tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot FROM c)
        |SELECT s.dow, s.hod,
        |  CAST(coalesce(c.n_events, 0) AS BIGINT) AS n_events,
        |  (2 * 168 * coalesce(c.n_events, 0) * 1000000 + t.tot)
        |    // (2 * t.tot) AS lift_fp
        |FROM spine s LEFT JOIN c ON s.dow = c.dow AND s.hod = c.hod, tot t
        |ORDER BY s.dow, s.hod""".stripMargin),
    // peak concurrent sessions per day: sweep-line over the session
    // intervals (q_time_session's gaps-and-islands construction),
    // ends before starts at equal t (half-open intervals), hourly
    // carry partials + in-hour prefix sums
    Key("q_concurrency", q_concurrency _,
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS eus FROM events),
        |m AS (SELECT user_id, eus,
        |  CASE WHEN lag(eus) OVER w IS NULL
        |       OR eus - lag(eus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY eus)),
        |g AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY eus
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM m),
        |sessn AS (SELECT min(eus) AS s_us, max(eus) + 1800000000 AS e_us
        |          FROM g GROUP BY user_id, sess),
        |deltas AS (SELECT s_us AS t, CAST(1 AS BIGINT) AS delta FROM sessn
        |           UNION ALL
        |           SELECT e_us AS t, CAST(-1 AS BIGINT) AS delta FROM sessn),
        |carry AS (SELECT hr, CAST(sum(d_h) OVER (ORDER BY hr
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            - d_h AS BIGINT) AS carry
        |          FROM (SELECT t // 3600000000 AS hr,
        |                  CAST(sum(delta) AS BIGINT) AS d_h
        |                FROM deltas GROUP BY 1)),
        |run AS (SELECT d.t, d.delta,
        |          c.carry + CAST(sum(d.delta) OVER (PARTITION BY d.t // 3600000000
        |            ORDER BY d.t, d.delta
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |            AS open
        |        FROM deltas d JOIN carry c ON d.t // 3600000000 = c.hr)
        |SELECT t // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n_changes,
        |  max(open) AS peak
        |FROM run GROUP BY 1 ORDER BY day""".stripMargin),
    // EWMA (alpha=1/2, w=20 truncation): power-of-two weights make
    // the smoothing exact integer arithmetic; renormalized by the
    // actual weight total at the series-start warm-up
    Key("q_ewma", (s, d) => q_ewma(s, d),
      """WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS hr,
        |         CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM hc),
        |dense AS (SELECT s.hr, CAST(coalesce(hc.y, 0) AS BIGINT) AS y
        |          FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM b) s
        |          LEFT JOIN hc ON s.hr = hc.hr),
        |offs AS (SELECT o AS off,
        |           CAST(1 AS BIGINT) << CAST(19 - o AS INT) AS wt
        |         FROM (SELECT unnest(generate_series(0, 19)) AS o)),
        |c AS (SELECT d.hr + o.off AS t, d.y, o.wt FROM dense d, offs o),
        |a AS (SELECT c.t, CAST(sum(c.y * c.wt) AS BIGINT) AS num,
        |        CAST(sum(c.wt) AS BIGINT) AS den
        |      FROM c JOIN dense dd ON c.t = dd.hr GROUP BY 1)
        |SELECT a.t AS hr, d.y, (2 * num * 1000000 + den) // (2 * den) AS ewma_fp
        |FROM a JOIN dense d ON a.t = d.hr ORDER BY hr""".stripMargin),
    // interval-overlap self-join over the session table: hour-binned
    // (the range-binned idiom on a self-join), each pair credited
    // once in the bin holding its overlap start; half-open overlap
    Key("q_join_overlap", q_join_overlap _,
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS eus FROM events),
        |m AS (SELECT user_id, eus,
        |  CASE WHEN lag(eus) OVER w IS NULL
        |       OR eus - lag(eus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY eus)),
        |g AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY eus
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM m),
        |sessn AS (SELECT user_id, min(eus) AS s_us, max(eus) + 1800000000 AS e_us
        |          FROM g GROUP BY user_id, sess),
        |bn AS (SELECT user_id, s_us, e_us,
        |         unnest(generate_series(s_us // 3600000000,
        |                               (e_us - 1) // 3600000000)) AS hr
        |       FROM sessn),
        |p AS (SELECT x.user_id AS user_a, y.user_id AS user_b,
        |        least(x.e_us, y.e_us) - greatest(x.s_us, y.s_us) AS ov
        |      FROM bn x JOIN bn y ON x.hr = y.hr
        |        AND x.user_id < y.user_id
        |        AND x.s_us < y.e_us AND y.s_us < x.e_us
        |      WHERE x.hr = greatest(x.s_us, y.s_us) // 3600000000)
        |SELECT user_a, user_b, CAST(count(*) AS BIGINT) AS n_overlaps,
        |  CAST(sum(ov) AS BIGINT) AS total_overlap_us
        |FROM p GROUP BY 1, 2 ORDER BY user_a, user_b""".stripMargin),
    // two-proportion A/B z-test: exact integer counts/rates, pooled z
    // pre-cleared to (x_a*n_b - x_b*n_a)*sqrt(n/(n_a*n_b*x*(n-x))) as
    // the one mirrored round(double,6); degenerate splits -> NULL z
    Key("q_ab_test", q_ab_test _,
      """WITH per AS (SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |       FROM events GROUP BY 1),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN conv ELSE 0 END) AS BIGINT) AS x_b
        |  FROM per)
        |SELECT n_a, x_a, n_b, x_b,
        |  CASE WHEN n_a = 0 THEN NULL ELSE
        |    (2 * x_a * 1000000 + n_a) // (2 * n_a) END AS rate_a_fp,
        |  CASE WHEN n_b = 0 THEN NULL ELSE
        |    (2 * x_b * 1000000 + n_b) // (2 * n_b) END AS rate_b_fp,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR x_a + x_b = 0 OR
        |    x_a + x_b = n_a + n_b THEN NULL ELSE
        |    round(CAST(x_a*n_b - x_b*n_a AS DOUBLE) *
        |      sqrt(CAST(n_a + n_b AS DOUBLE) /
        |        (CAST(n_a AS DOUBLE) * n_b * (x_a + x_b) *
        |         (n_a + n_b - x_a - x_b))), 6) END AS z
        |FROM c""".stripMargin),
    // cohort LTV: retention's cohort definition + exact integer cents,
    // dense age spine, per-cohort cumulative, sign-separated div
    Key("q_ltv", q_ltv _,
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         event_type, value FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
        |sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_cohort
        |       FROM coh GROUP BY 1),
        |dm AS (SELECT max(day) AS d1 FROM ev),
        |rev AS (SELECT c.cohort_day, e.day - c.cohort_day AS age,
        |         CAST(sum(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |           AS BIGINT) AS rev_c
        |       FROM ev e JOIN coh c ON e.user_id = c.user_id
        |       WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        |       GROUP BY 1, 2),
        |sp AS (SELECT sz.cohort_day, sz.n_cohort,
        |         unnest(generate_series(0, dm.d1 - sz.cohort_day)) AS age
        |       FROM sz, dm),
        |j AS (SELECT sp.cohort_day, sp.age, sp.n_cohort,
        |        CAST(coalesce(rev.rev_c, 0) AS BIGINT) AS rev_c
        |      FROM sp LEFT JOIN rev ON sp.cohort_day = rev.cohort_day
        |        AND sp.age = rev.age),
        |cc AS (SELECT *, CAST(sum(rev_c) OVER (PARTITION BY cohort_day
        |         ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum_rev_c FROM j)
        |SELECT cohort_day, age, n_cohort, rev_c, cum_rev_c,
        |  CASE WHEN cum_rev_c >= 0
        |       THEN (2 * cum_rev_c + n_cohort) // (2 * n_cohort)
        |       ELSE -((2 * abs(cum_rev_c) + n_cohort) // (2 * n_cohort)) END
        |    AS ltv_c
        |FROM cc ORDER BY cohort_day, age""".stripMargin),
    // Kaplan-Meier: quantized-ln product via cumulative long sum,
    // final-lifetime S = 0 emitted directly instead of ln(0)
    Key("q_survival", q_survival _,
      """WITH lf AS (SELECT user_id, max(d) - min(d) AS t
        |       FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS d
        |             FROM events) GROUP BY 1),
        |dd AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM lf GROUP BY 1),
        |tt AS (SELECT CAST(sum(d) AS BIGINT) AS n_users FROM dd),
        |rk AS (SELECT t, d, n_users -
        |         (CAST(sum(d) OVER (ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) - d) AS n_risk
        |       FROM dd, tt),
        |lq AS (SELECT t, d, n_risk,
        |        CASE WHEN n_risk > d THEN
        |          CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1e9)
        |            AS BIGINT) ELSE 0 END AS lq
        |      FROM rk),
        |cl AS (SELECT *, CAST(sum(lq) OVER (ORDER BY t
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum_lq FROM lq)
        |SELECT t AS t_days, n_risk, d,
        |  CASE WHEN n_risk = d THEN 0 ELSE
        |    CAST(round(exp(CAST(cum_lq AS DOUBLE) / 1e9) * 1e6) AS BIGINT) END
        |    AS km_fp
        |FROM cl ORDER BY t_days""".stripMargin),
    // additive decomposition: full-window 25h MA trend, exact x1e6
    // detrending, sign-separated per-hod seasonal mean
    Key("q_decompose", q_decompose _,
      """WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS hr,
        |         CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM hc),
        |dense AS (SELECT s.hr, CAST(coalesce(hc.y, 0) AS BIGINT) AS y
        |          FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM b) s
        |          LEFT JOIN hc ON s.hr = hc.hr),
        |ma AS (SELECT hr, y, CAST(count(*) OVER wd AS BIGINT) AS w_n,
        |         CAST(sum(y) OVER wd AS BIGINT) AS w_s
        |       FROM dense WINDOW wd AS (ORDER BY hr
        |         ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |dt AS (SELECT hr, y,
        |         CASE WHEN w_n = 25 THEN (2 * w_s * 1000000 + 25) // 50 END
        |           AS trend_fp,
        |         y * 1000000 - CASE WHEN w_n = 25
        |           THEN (2 * w_s * 1000000 + 25) // 50 END AS det_fp
        |       FROM ma),
        |se AS (SELECT hod, CASE WHEN sd >= 0 THEN (2*sd + nd) // (2*nd)
        |         ELSE -((2*abs(sd) + nd) // (2*nd)) END AS seasonal_fp
        |       FROM (SELECT hr % 24 AS hod, CAST(sum(det_fp) AS BIGINT) AS sd,
        |               CAST(count(*) AS BIGINT) AS nd
        |             FROM dt WHERE det_fp IS NOT NULL GROUP BY 1))
        |SELECT dt.hr, dt.y, dt.trend_fp,
        |  CASE WHEN dt.det_fp IS NOT NULL THEN se.seasonal_fp END AS seasonal_fp,
        |  dt.det_fp - se.seasonal_fp AS resid_fp
        |FROM dt JOIN se ON dt.hr % 24 = se.hod
        |ORDER BY dt.hr""".stripMargin),
    // Seasonal-naive MASE backtest on the dense per-type hour spine;
    // the MASE double fraction cleared by cross-multiplication into
    // the (2a+d) // 2d round-half-up fixed point
    Key("q_forecast", (s, d) => q_forecast(s, d),
      """WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |         CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM hc),
        |dense AS (SELECT t.event_type, s.hr, b.h1,
        |            CAST(coalesce(hc.y, 0) AS BIGINT) AS y
        |          FROM (SELECT DISTINCT event_type FROM hc) t
        |          CROSS JOIN b
        |          CROSS JOIN (SELECT unnest(generate_series(
        |            (SELECT h0 FROM b), (SELECT h1 FROM b))) AS hr) s
        |          LEFT JOIN hc ON hc.event_type = t.event_type
        |                      AND hc.hr = s.hr),
        |l AS (SELECT event_type, hr, h1, y,
        |        abs(y - lag(y, 24) OVER w) AS nav,
        |        abs(y - lag(y, 1) OVER w) AS stp,
        |        hr > h1 - 48 AS is_test
        |      FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |a AS (SELECT event_type,
        |        CAST(count(CASE WHEN is_test AND nav IS NOT NULL
        |                   THEN 1 END) AS BIGINT) AS n_test,
        |        CAST(sum(CASE WHEN is_test THEN nav END) AS BIGINT) AS e_sum,
        |        CAST(count(CASE WHEN NOT is_test AND stp IS NOT NULL
        |                   THEN 1 END) AS BIGINT) AS n_train,
        |        CAST(sum(CASE WHEN NOT is_test THEN stp END) AS BIGINT)
        |          AS d_sum
        |      FROM l GROUP BY 1)
        |SELECT event_type, n_test, e_sum, n_train, d_sum,
        |  CASE WHEN d_sum > 0
        |    THEN (2 * e_sum * n_train * 1000000 + n_test * d_sum)
        |         // (2 * n_test * d_sum) END AS mase_fp
        |FROM a ORDER BY event_type""".stripMargin),
    // Spearman with average ranks kept integral (2r = 2·min_rank +
    // tie_count − 1) and CENTERED (x = 2r − (n+1)) so every moment
    // stays under n³ — rho is the one mirrored double expression
    Key("q_spearman", q_spearman _,
      """WITH ev AS (SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |         (epoch_us(ts) // 3600000000) % 24 AS hod
        |       FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type,
        |        count(*) OVER (PARTITION BY event_type) AS n,
        |        rank() OVER (PARTITION BY event_type ORDER BY v) AS fa,
        |        count(*) OVER (PARTITION BY event_type, v) AS ca,
        |        rank() OVER (PARTITION BY event_type ORDER BY hod) AS fb,
        |        count(*) OVER (PARTITION BY event_type, hod) AS cb
        |      FROM ev),
        |x AS (SELECT event_type, n,
        |        2 * fa + ca - 1 - (n + 1) AS xa,
        |        2 * fb + cb - 1 - (n + 1) AS xb FROM r),
        |a AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |        CAST(sum(xa * xb) AS BIGINT) AS sxy,
        |        CAST(sum(xa * xa) AS BIGINT) AS sxx,
        |        CAST(sum(xb * xb) AS BIGINT) AS syy
        |      FROM x GROUP BY 1)
        |SELECT event_type, n, sxy, sxx, syy,
        |  CASE WHEN sxx > 0 AND syy > 0
        |    THEN round(sxy / (sqrt(sxx) * sqrt(syy)), 6) END AS rho
        |FROM a ORDER BY event_type""".stripMargin),
    // Poisson bootstrap: replicate weights from the shared md5-nibble
    // 52-bit uniform against ⌊CDF_Poisson(1)·2^52⌋ integer thresholds —
    // both engines compare identical longs, so every weight matches
    // bit-for-bit; sums re-cast to BIGINT (DuckDB sum(BIGINT) widens
    // to HUGEINT — the q_corpus_report lesson).
    Key("q_bootstrap", (s, d) => q_bootstrap(s, d), {
      val h = "md5(CAST(event_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR))"
      val u = duckHexValue(h, 1, 13)
      val ts = Seq(1656781714176974L, 3313563428353948L, 4141954285442435L,
        4418084571138597L, 4487117142562638L, 4500923656847446L,
        4503224742561580L, 4503553469092171L)
      val caseCnt = ts.zipWithIndex.map { case (t, k) =>
        s"WHEN $u < $t THEN $k" }.mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH base AS (SELECT event_type, event_id,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |       FROM events WHERE value IS NOT NULL),
        |r AS (SELECT base.*, rep FROM base
        |      CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS rep)),
        |w AS (SELECT event_type, rep, cents,
        |        CAST($caseCnt AS BIGINT) AS cnt FROM r),
        |bm AS (SELECT event_type, rep,
        |         CAST(sum(cnt * cents) AS BIGINT) AS num,
        |         CAST(sum(cnt) AS BIGINT) AS den
        |       FROM w GROUP BY 1, 2),
        |mm AS (SELECT event_type, rep,
        |         (2 * num * 10000 + den) // (2 * den) AS m_fp
        |       FROM bm WHERE den > 0),
        |rk AS (SELECT event_type, m_fp,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY m_fp, rep) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS nb
        |       FROM mm),
        |ci AS (SELECT event_type,
        |         max(CASE WHEN rn = 2 THEN m_fp END) AS boot_lo_fp,
        |         max(CASE WHEN rn = nb - 1 THEN m_fp END) AS boot_hi_fp
        |       FROM rk GROUP BY 1),
        |f AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(cents) AS BIGINT) AS s FROM base GROUP BY 1)
        |SELECT f.event_type, f.n, (2 * s * 10000 + n) // (2 * n) AS mean_fp,
        |  ci.boot_lo_fp, ci.boot_hi_fp
        |FROM f LEFT JOIN ci ON f.event_type = ci.event_type
        |ORDER BY f.event_type""".stripMargin
    }),
    // Attribution oracle: the O(purchases × touches-per-user)
    // inequality join + row_number form — correct and simple at oracle
    // scale; the Spark side is the one-exchange windowed form.
    Key("q_attribution", q_attribution _,
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |         epoch_us(ts) AS tu,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |       FROM events),
        |p AS (SELECT user_id, event_id, tu, cents FROM ev
        |      WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id, tu, event_type FROM ev
        |      WHERE event_type IN ('signup', 'view', 'click')),
        |pair AS (SELECT p.event_id AS pid, t.event_type, t.tu,
        |           t.event_id AS tid
        |         FROM p JOIN t ON p.user_id = t.user_id
        |          AND (t.tu < p.tu OR (t.tu = p.tu AND t.event_id < p.event_id))),
        |rk AS (SELECT pid, event_type,
        |         row_number() OVER (PARTITION BY pid ORDER BY tu, tid) AS rf,
        |         row_number() OVER (PARTITION BY pid
        |           ORDER BY tu DESC, tid DESC) AS rl
        |       FROM pair),
        |fst AS (SELECT pid, event_type FROM rk WHERE rf = 1),
        |lst AS (SELECT pid, event_type FROM rk WHERE rl = 1),
        |m AS (SELECT 'first' AS model,
        |        coalesce(fst.event_type, '(none)') AS touch_type, p.cents
        |      FROM p LEFT JOIN fst ON fst.pid = p.event_id
        |      UNION ALL
        |      SELECT 'last', coalesce(lst.event_type, '(none)'), p.cents
        |      FROM p LEFT JOIN lst ON lst.pid = p.event_id)
        |SELECT model, touch_type, CAST(count(*) AS BIGINT) AS n_conv,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM m GROUP BY model, touch_type
        |ORDER BY model, touch_type""".stripMargin),
    // Basket mining over sessions: same sessionization CTE as
    // q_session_paths; pairs via DISTINCT (sess, type) self-join
    // (quadratic is fine at oracle scale — the Spark side builds
    // pairs row-locally from the sorted basket array)
    Key("q_basket", q_basket _,
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |         epoch_us(ts) AS tu FROM events),
        |g AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
        |           OR tu - lag(tu) OVER w > 1800000000 THEN 1 ELSE 0 END
        |         AS new_s
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |        ORDER BY tu, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
        |      FROM g),
        |bt AS (SELECT DISTINCT user_id, sess_id, event_type FROM s),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        |        FROM (SELECT DISTINCT user_id, sess_id FROM s)),
        |sg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        |       FROM bt GROUP BY 1),
        |pr AS (SELECT x.event_type AS a, y.event_type AS b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |       FROM bt x JOIN bt y ON x.user_id = y.user_id
        |         AND x.sess_id = y.sess_id AND x.event_type < y.event_type
        |       GROUP BY 1, 2)
        |SELECT pr.a, pr.b, pr.n_ab, sa.n_t AS n_a, sb.n_t AS n_b,
        |  tot.n_sessions,
        |  (2 * pr.n_ab * 1000000 + tot.n_sessions)
        |    // (2 * tot.n_sessions) AS support_fp,
        |  (2 * pr.n_ab * tot.n_sessions * 1000000 + sa.n_t * sb.n_t)
        |    // (2 * sa.n_t * sb.n_t) AS lift_fp
        |FROM pr JOIN sg sa ON pr.a = sa.event_type
        |        JOIN sg sb ON pr.b = sb.event_type, tot
        |ORDER BY pr.a, pr.b""".stripMargin),
    // Session paths: 30-min-gap sessionization via the lag-flag cumsum
    // (engine-neutral, unlike session_window's internal ids); in-path
    // order pinned by ORDER BY inside string_agg ↔ array_sort structs.
    Key("q_session_paths", (s, d) => q_session_paths(s, d),
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |         epoch_us(ts) AS tu FROM events),
        |g AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
        |           OR tu - lag(tu) OVER w > 1800000000 THEN 1 ELSE 0 END
        |         AS new_s
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |        ORDER BY tu, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
        |      FROM g),
        |p AS (SELECT string_agg(event_type, '>' ORDER BY tu, event_id) AS path
        |      FROM s GROUP BY user_id, sess_id),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |      FROM p GROUP BY path),
        |r AS (SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
        |         AS BIGINT) AS rn, path, n_sessions FROM c)
        |SELECT rn, path, n_sessions FROM r WHERE rn <= 20
        |ORDER BY rn""".stripMargin),
    // CUSUM via the max-prefix identity S_t = P_t - min prefix; mean
    // cleared by x n (the q_acf trick); 5-sigma decision integer-only
    // via cusum^2 > 25(nQ - S^2)
    Key("q_cusum", q_cusum _,
      """WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS hr,
        |         CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM hc),
        |dense AS (SELECT s.hr, CAST(coalesce(hc.y, 0) AS BIGINT) AS y
        |          FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM b) s
        |          LEFT JOIN hc ON s.hr = hc.hr),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(y) AS BIGINT) AS s,
        |          CAST(sum(y*y) AS BIGINT) AS q FROM dense),
        |pp AS (SELECT hr, y, n, s, q,
        |         CAST(sum(n*y - s) OVER (ORDER BY hr
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS p
        |       FROM dense, tot),
        |m AS (SELECT hr, y, n, s, q, p,
        |        min(p) OVER (ORDER BY hr
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn,
        |        max(p) OVER (ORDER BY hr
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
        |      FROM pp)
        |SELECT hr, y, p - mn AS cusum_up, mx - p AS cusum_dn,
        |  (p - mn)*(p - mn) > 25*(n*q - s*s) AS up_flag,
        |  (mx - p)*(mx - p) > 25*(n*q - s*s) AS dn_flag
        |FROM m ORDER BY hr""".stripMargin),
    // Mann-Kendall: exact pair-sign sum over the dense day spine,
    // tie-corrected var x18, continuity-corrected z as the one
    // mirrored round(double,6)
    Key("q_mk_trend", q_mk_trend _,
      """WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
        |dense AS (SELECT s.day, CAST(coalesce(dc.y, 0) AS BIGINT) AS y
        |          FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM b) s
        |          LEFT JOIN dc ON s.day = dc.day),
        |sp AS (SELECT CAST(coalesce(sum(CASE WHEN bj.y > ai.y THEN 1
        |                 WHEN bj.y < ai.y THEN -1 ELSE 0 END), 0) AS BIGINT)
        |         AS s_mk
        |       FROM dense ai JOIN dense bj ON ai.day < bj.day),
        |ti AS (SELECT CAST(sum(t) AS BIGINT) AS n_days,
        |         CAST(sum(t*(t-1)*(2*t+5)) AS BIGINT) AS t18
        |       FROM (SELECT y, CAST(count(*) AS BIGINT) AS t
        |             FROM dense GROUP BY 1))
        |SELECT ti.n_days, sp.s_mk,
        |  ti.n_days*(ti.n_days-1)*(2*ti.n_days+5) - ti.t18 AS var18,
        |  CASE WHEN ti.n_days*(ti.n_days-1)*(2*ti.n_days+5) - ti.t18 <= 0
        |       THEN NULL
        |       WHEN sp.s_mk > 0 THEN round((sp.s_mk - 1) * sqrt(18.0 /
        |         (ti.n_days*(ti.n_days-1)*(2*ti.n_days+5) - ti.t18)), 6)
        |       WHEN sp.s_mk < 0 THEN round((sp.s_mk + 1) * sqrt(18.0 /
        |         (ti.n_days*(ti.n_days-1)*(2*ti.n_days+5) - ti.t18)), 6)
        |       ELSE 0.0 END AS z
        |FROM sp, ti""".stripMargin),
    // Benford first digit from the decimal STRING of positive cents
    // (engine-neutral; float log10 paths are not); expectations are
    // pinned x1e6 literals
    Key("q_benford", q_benford _,
      """WITH d AS (SELECT substr(CAST(c AS VARCHAR), 1, 1) AS dg
        |       FROM (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |               AS c FROM events WHERE value IS NOT NULL)
        |       WHERE c > 0),
        |c AS (SELECT CAST(dg AS BIGINT) AS digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
        |e(digit, benford_fp) AS (VALUES (1, 301030), (2, 176091),
        |  (3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992),
        |  (8, 51153), (9, 45757))
        |SELECT CAST(e.digit AS BIGINT) AS digit,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        |  (2 * coalesce(c.n, 0) * 1000000 + t.tot) // (2 * t.tot) AS share_fp,
        |  CAST(e.benford_fp AS BIGINT) AS benford_fp,
        |  abs((2 * coalesce(c.n, 0) * 1000000 + t.tot) // (2 * t.tot)
        |      - e.benford_fp) AS dev_fp
        |FROM e LEFT JOIN c ON e.digit = c.digit, tot t
        |ORDER BY digit""".stripMargin),
    // winsorized mean per type: float-free p10/p90 cuts on the value-
    // count table, clamp re-aggregates counts, round-half-up cents
    // with sign separation (value cents can be negative)
    Key("q_winsorize", q_winsorize _,
      """WITH vc AS (SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nr,
        |          CAST(sum(c*n) AS BIGINT) AS s_raw FROM vc GROUP BY 1),
        |cum AS (SELECT event_type, c,
        |          CAST(sum(n) OVER (PARTITION BY event_type ORDER BY c
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum
        |        FROM vc),
        |p10 AS (SELECT cum.event_type, min(c) AS p10_c FROM cum
        |        JOIN tot ON cum.event_type = tot.event_type
        |        WHERE cum * 100 >= nr * 10 GROUP BY 1),
        |p90 AS (SELECT cum.event_type, min(c) AS p90_c FROM cum
        |        JOIN tot ON cum.event_type = tot.event_type
        |        WHERE cum * 100 >= nr * 90 GROUP BY 1),
        |w AS (SELECT vc.event_type, CAST(sum(n) AS BIGINT) AS n,
        |        CAST(sum(greatest(least(c, p90_c), p10_c) * n) AS BIGINT) AS s_w,
        |        any_value(p10_c) AS p10_c, any_value(p90_c) AS p90_c
        |      FROM vc JOIN p10 ON vc.event_type = p10.event_type
        |              JOIN p90 ON vc.event_type = p90.event_type
        |      GROUP BY 1)
        |SELECT w.event_type, w.n, w.p10_c, w.p90_c,
        |  CASE WHEN t.s_raw >= 0 THEN (2 * t.s_raw + w.n) // (2 * w.n)
        |       ELSE -((2 * abs(t.s_raw) + w.n) // (2 * w.n)) END AS mean_c,
        |  CASE WHEN w.s_w >= 0 THEN (2 * w.s_w + w.n) // (2 * w.n)
        |       ELSE -((2 * abs(w.s_w) + w.n) // (2 * w.n)) END AS wmean_c
        |FROM w JOIN tot t ON w.event_type = t.event_type
        |ORDER BY w.event_type""".stripMargin),
    // Fano factor per event type over the global dense hour spine:
    // F = (wQ - S^2)/(wS) on exact longs, x1e6 round-half-up (the
    // numerator is >= 0 by Cauchy-Schwarz, no sign handling)
    Key("q_burstiness", q_burstiness _,
      """WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |         CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM hc),
        |ty AS (SELECT DISTINCT event_type FROM hc),
        |sp AS (SELECT ty.event_type, s.hr FROM ty,
        |         (SELECT unnest(generate_series(h0, h1)) AS hr FROM b) s),
        |dn AS (SELECT sp.event_type, CAST(coalesce(hc.y, 0) AS BIGINT) AS y
        |       FROM sp LEFT JOIN hc
        |         ON sp.event_type = hc.event_type AND sp.hr = hc.hr),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS w,
        |        CAST(sum(y) AS BIGINT) AS n_events,
        |        CAST(sum(y*y) AS BIGINT) AS q FROM dn GROUP BY 1)
        |SELECT event_type, w, n_events,
        |  (2 * (w*q - n_events*n_events) * 1000000 + w*n_events)
        |    // (2 * w*n_events) AS fano_fp
        |FROM a ORDER BY event_type""".stripMargin),
    // inter-arrival gaps per type: lag micros with (ts, event_id)
    // tie-break, float-free cum*100 >= n*p percentiles, round-half-up
    // integer mean
    Key("q_gap_stats", q_gap_stats _,
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS tu, event_id FROM events),
        |g AS (SELECT event_type, tu - lag(tu) OVER
        |        (PARTITION BY event_type ORDER BY tu, event_id) AS gap
        |      FROM ev),
        |gc AS (SELECT event_type, gap, CAST(count(*) AS BIGINT) AS c
        |       FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_gaps,
        |          min(gap) AS min_gap, max(gap) AS max_gap,
        |          CAST(sum(gap*c) AS BIGINT) AS s_gap FROM gc GROUP BY 1),
        |cum AS (SELECT event_type, gap,
        |          CAST(sum(c) OVER (PARTITION BY event_type ORDER BY gap
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum
        |        FROM gc),
        |p50 AS (SELECT c.event_type, min(c.gap) AS p50_gap FROM cum c
        |        JOIN tot t ON c.event_type = t.event_type
        |        WHERE c.cum * 100 >= t.n_gaps * 50 GROUP BY 1),
        |p90 AS (SELECT c.event_type, min(c.gap) AS p90_gap FROM cum c
        |        JOIN tot t ON c.event_type = t.event_type
        |        WHERE c.cum * 100 >= t.n_gaps * 90 GROUP BY 1)
        |SELECT t.event_type, t.n_gaps, t.min_gap, p50.p50_gap, p90.p90_gap,
        |  t.max_gap, (2 * t.s_gap + t.n_gaps) // (2 * t.n_gaps) AS mean_gap
        |FROM tot t JOIN p50 ON t.event_type = p50.event_type
        |           JOIN p90 ON t.event_type = p90.event_type
        |ORDER BY t.event_type""".stripMargin),
    Key("q_time_tumble", q_time_tumble _,
      """SELECT CAST(date_part('epoch', date_trunc('hour', ts)) AS BIGINT) AS w_start,
        |  event_type, count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // OHLC bars: exact cents, first/last by the (ts, event_id) total
    // order via two opposite-sort row_numbers, one grouped agg
    Key("q_ohlc", q_ohlc _,
      """WITH b AS (SELECT
        |    CAST(date_part('epoch', date_trunc('hour', ts)) AS BIGINT) AS w_start,
        |    event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY w_start, event_type
        |      ORDER BY ts, event_id) AS rf,
        |    row_number() OVER (PARTITION BY w_start, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rl
        |  FROM b)
        |SELECT w_start, event_type, count(*) AS n,
        |  CAST(max(CASE WHEN rf = 1 THEN c END) AS BIGINT) AS open_cents,
        |  CAST(max(c) AS BIGINT) AS high_cents,
        |  CAST(min(c) AS BIGINT) AS low_cents,
        |  CAST(max(CASE WHEN rl = 1 THEN c END) AS BIGINT) AS close_cents
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Key("q_time_slide", q_time_slide _,
      """SELECT ((epoch_us(ts) // 900000000) * 900 - t.k * 900) AS w_start,
        |  event_type, count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_value
        |FROM events, (VALUES (0),(1),(2),(3)) t(k)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Key("q_retention", q_retention _,
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1),
        |s AS (SELECT cohort_day, count(*) AS n_cohort FROM c GROUP BY 1),
        |a AS (SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_active
        |      FROM ud JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_day, a.day_offset, a.n_active, s.n_cohort,
        |  (2 * a.n_active * 1000000 + s.n_cohort) // (2 * s.n_cohort) AS retention_fp
        |FROM a JOIN s USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin),
    Key("q_funnel", q_funnel _,
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
        |s1 AS (SELECT user_id, min(tu) AS t1 FROM ev WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, t1, min(tu) AS t2 FROM ev e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND tu > t1
        |         AND tu <= t1 + ${FunnelWindowMicros} GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, t1, min(tu) AS t3 FROM ev e JOIN s2 USING (user_id)
        |       WHERE event_type = 'click' AND tu > t2
        |         AND tu <= t1 + ${FunnelWindowMicros} GROUP BY 1, 2),
        |s4 AS (SELECT e.user_id, min(tu) AS t4 FROM ev e JOIN s3 USING (user_id)
        |       WHERE event_type = 'purchase' AND tu > t3
        |         AND tu <= t1 + ${FunnelWindowMicros} GROUP BY 1),
        |n AS (SELECT 1 AS stage_idx, 'signup' AS stage, (SELECT count(*) FROM s1) AS n_users
        |      UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |      UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
        |      UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)),
        |r AS (SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, n_users,
        |  coalesce((2 * n_users * 1000000 + lag(n_users) OVER (ORDER BY stage_idx))
        |    // (2 * lag(n_users) OVER (ORDER BY stage_idx)), 1000000) AS conv_prev_fp,
        |  (2 * n_users * 1000000 + first_value(n_users) OVER (ORDER BY stage_idx))
        |    // (2 * first_value(n_users) OVER (ORDER BY stage_idx)) AS conv_first_fp
        |FROM n)
        |SELECT * FROM r WHERE n_users > 0 ORDER BY stage_idx""".stripMargin),
    // 32 shared equi-width buckets over global [min,max] cents; all
    // integer floor division on non-negative operands
    Key("q_value_hist", (s, d) => q_value_hist(s, d),
      """WITH e AS (SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |       FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(c) AS min_c, max(c) AS max_c FROM e),
        |g AS (SELECT event_type, (c - min_c) * 32 // (max_c - min_c + 1) AS bucket,
        |        min_c, max_c
        |      FROM e, b)
        |SELECT event_type, bucket,
        |  min_c + (bucket * (max_c - min_c + 1)) // 32 AS lo_c,
        |  min_c + ((bucket + 1) * (max_c - min_c + 1)) // 32 - 1 AS hi_c,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM g GROUP BY event_type, bucket, min_c, max_c
        |ORDER BY event_type, bucket""".stripMargin),
    // median/MAD in exact integer cents; discrete lower medians via
    // the float-free 2*cum >= n cumulative-window form; every sum
    // CAST BIGINT (HUGEINT trap)
    Key("q_outliers", q_outliers _,
      """WITH vc AS (SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |mw AS (SELECT event_type, c,
        |         sum(n) OVER (PARTITION BY event_type ORDER BY c) AS cum,
        |         sum(n) OVER (PARTITION BY event_type) AS nl FROM vc),
        |med AS (SELECT event_type, min(c) AS median_c FROM mw
        |        WHERE cum * 2 >= nl GROUP BY 1),
        |dv AS (SELECT vc.event_type, abs(vc.c - med.median_c) AS dev,
        |         CAST(sum(vc.n) AS BIGINT) AS dn
        |       FROM vc JOIN med USING (event_type) GROUP BY 1, 2),
        |aw AS (SELECT event_type, dev,
        |         sum(dn) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
        |         sum(dn) OVER (PARTITION BY event_type) AS nl FROM dv),
        |mad AS (SELECT event_type, min(dev) AS mad_c FROM aw
        |        WHERE cum * 2 >= nl GROUP BY 1),
        |o AS (SELECT vc.event_type, CAST(sum(vc.n) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN abs(vc.c - med.median_c) > mad.mad_c * 3
        |          THEN vc.n ELSE 0 END) AS BIGINT) AS n_outliers
        |      FROM vc JOIN med USING (event_type) JOIN mad USING (event_type)
        |      GROUP BY 1)
        |SELECT o.event_type, o.n, med.median_c, mad.mad_c, o.n_outliers,
        |  (2 * o.n_outliers * 1000000 + o.n) // (2 * o.n) AS outlier_share_fp
        |FROM o JOIN med USING (event_type) JOIN mad USING (event_type)
        |ORDER BY o.event_type""".stripMargin),
    // Spark session_window ≡ gaps-and-islands: a new session starts
    // when the gap to the previous event is >= 30 min (Spark merges
    // strictly-before-end starts); end = last event + gap. Computed at
    // microsecond precision so sub-second timestamps can't diverge,
    // floored to seconds only at the output boundary.
    Key("q_time_session", q_time_session _,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS eus, value FROM events),
        |m AS (SELECT user_id, eus, value,
        |  CASE WHEN lag(eus) OVER w IS NULL
        |       OR eus - lag(eus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY eus)),
        |g AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY eus
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM m)
        |SELECT (min(eus) // 1000000) AS sess_start,
        |  ((max(eus) + 1800000000) // 1000000) AS sess_end,
        |  user_id, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, sess
        |ORDER BY user_id, sess_start""".stripMargin),
  )
}
