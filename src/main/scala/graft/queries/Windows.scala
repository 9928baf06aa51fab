package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function inventory (SURVEY.md §2.5). The reference's schema
  * is built for exactly these "top files per repo" / "time between
  * commits" analytics (README.md:51-78); here they run over the
  * testdata star schema.
  *
  * Scale note: every window below partitions by a grouping key, so the
  * single shuffle is on that key; no global ordering is required.
  * Skewed partition keys are the one hazard at 100 TB — mitigated by
  * AQE skew handling, or pre-filtering to the ranked slice.
  */
object Windows {

  /** row_number ranking per group, keep top 3 (rank-filter pushes the
    * per-group sort into one shuffle + per-partition sort).
    */
  def q_window_rank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    customer(s, d)
      .select(
        col("c_nationkey"),
        col("c_custkey"),
        col("c_acctbal"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("c_nationkey", "rn")
  }

  /** lag analytic — inter-event gap per user in seconds (the reference's
    * natural "time between commits" query).
    */
  def q_window_lag(s: SparkSession, d: String): DataFrame = {
    // Order by truncated epoch seconds (not raw ts): events.ts is
    // nanosecond-precision parquet, which Spark truncates to µs but
    // DuckDB keeps — ordering on the shared truncation is the only key
    // both engines agree on.
    val es = unix_timestamp(col("ts"))
    val w  = Window.partitionBy(col("user_id")).orderBy(es, col("event_id"))
    events(s, d)
      .select(
        col("user_id"),
        col("event_id"),
        (es - lag(es, 1).over(w)).as("gap_s"))
      .orderBy("user_id", "event_id")
  }

  /** Distribution window functions: ntile / percent_rank / cume_dist /
    * lead, per nation ordered by balance with a unique tie-break.
    */
  def q_window_dist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").asc, col("c_custkey"))
    customer(s, d)
      .select(
        col("c_nationkey"),
        col("c_custkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 10).as("pct_rank"),
        round(cume_dist().over(w), 10).as("cume"),
        lead(col("c_custkey"), 1).over(w).as("next_cust"))
      .orderBy("c_nationkey", "c_custkey")
  }

  /** As-of join (SURVEY.md §2.3 stretch): for every event, the value of
    * the same user's most recent purchase at-or-before the event
    * (inclusive on the shared truncated-seconds key).
    *
    * Spark-native realization: tag-and-union both sides, then one
    * window pass with `last(..., ignoreNulls)` over an unbounded
    * preceding frame — a single shuffle on the join key, no range
    * join, no per-row probe. Purchase rows sort before event rows at
    * equal timestamps (is_p desc) to get inclusive as-of semantics;
    * the right side is pre-deduplicated per (user, second) with max_by
    * so the result is deterministic. The DuckDB oracle is a native
    * ASOF LEFT JOIN over the same deduped side.
    *
    * At 100 TB this beats the naive range-join formulation outright:
    * shuffle is O(|left| + |right|) on the equi-key, and the window
    * state is one value per partition.
    */
  def q_join_asof(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_timestamp(col("ts")).as("es"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "es")
      .agg(max_by(col("value"), col("event_id")).as("p_value"))
    val leftTagged = ev.select(
      col("user_id"), col("es"), lit(0).as("is_p"), col("event_id"),
      lit(null).cast("double").as("p_value"))
    val rightTagged = purchases.select(
      col("user_id"), col("es"), lit(1).as("is_p"), lit(null).cast("long").as("event_id"),
      col("p_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("es").asc, col("is_p").desc, col("event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leftTagged.unionByName(rightTagged)
      .withColumn("last_purchase", last(col("p_value"), ignoreNulls = true).over(w))
      .filter(col("is_p") === 0)
      .select(col("event_id"), col("user_id"), col("es"), col("last_purchase"))
      .orderBy("event_id")
  }

  /** As-of join with a MATCH TOLERANCE — pandas
    * `merge_asof(tolerance=...)` semantics, the form feature
    * pipelines actually need: a last-purchase older than
    * `tolSeconds` is reported as NULL (a stale as-of value is a
    * feature leak, not a feature), and the gap itself is surfaced so
    * the cutoff is auditable. Same ONE-pass tag-union kernel as
    * [[q_join_asof]]: the purchase (time, value) rides the window as
    * a single struct `last(..., ignoreNulls)` — one extra window
    * function over the SAME frame, zero additional shuffles, and the
    * struct keeps gap and value from the same purchase row even when
    * the purchase's value is NULL (two separate last() calls would
    * skip nulls asymmetrically and pair a new gap with an older
    * value).
    */
  def q_join_asof_tol(s: SparkSession, d: String,
                      tolSeconds: Long = 3600): DataFrame = {
    val ev = events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_timestamp(col("ts")).as("es"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "es")
      .agg(max_by(col("value"), col("event_id")).as("p_value"))
    val leftTagged = ev.select(
      col("user_id"), col("es"), lit(0).as("is_p"), col("event_id"),
      lit(null).cast("double").as("p_value"))
    val rightTagged = purchases.select(
      col("user_id"), col("es"), lit(1).as("is_p"),
      lit(null).cast("long").as("event_id"), col("p_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("es").asc, col("is_p").desc, col("event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leftTagged.unionByName(rightTagged)
      .withColumn("lp", last(
        when(col("is_p") === 1, struct(col("es").as("p_es"),
          col("p_value").as("pv"))), ignoreNulls = true).over(w))
      .filter(col("is_p") === 0)
      .select(col("event_id"), col("user_id"), col("es"),
        (col("es") - col("lp.p_es")).as("gap_s"),
        when(col("es") - col("lp.p_es") <= tolSeconds, col("lp.pv"))
          .as("last_purchase_tol"))
      .orderBy("event_id")
  }

  /** Explicit frame spec — running total per customer ordered by date
    * (cumulative churn in the reference's domain).
    */
  def q_window_running(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        graft.queries.Relational.money(sum(Relational.dec2(col("o_totalprice"))).over(w)).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Slowly-changing-dimension type-2 materialization — the lakehouse
    * dimension-history primitive (`MERGE INTO` + validity intervals):
    * each customer's order stream, ordered by (epoch day, order key),
    * collapses consecutive equal-status runs into versioned rows with
    * [valid_from_day, valid_to_day) intervals and an is_current flag.
    * This is how a warehouse keeps the full history of a mutable
    * dimension while point-in-time joins stay a range lookup.
    *
    * Scale shape: ONE exchange — both window stages partition by
    * `o_custkey` with the same (day, key) ordering, and the change
    * filter between them preserves the partitioning, so Catalyst
    * plans one hash exchange; the post-filter stage's sort runs over
    * already-sorted partitions. Per-customer
    * state is that customer's rows only; no broadcast, no corpus-wide
    * join. Deterministic under same-day conflicts: the order-key
    * tie-break makes same-day status flips produce zero-length
    * versions rather than nondeterministic picks.
    *
    * Day arithmetic is the integral `unix_timestamp div 86400` ↔
    * `epoch_us // 86400000000` pair ([[TimeSeries.q_retention]]); all
    * outputs are exact BIGINT / VARCHAR.
    */
  def q_scd2(s: SparkSession, d: String): DataFrame =
    scd2Of(orders(s, d).select(
      col("o_custkey"),
      expr("unix_timestamp(o_orderdate) div 86400").as("day"),
      col("o_orderkey"),
      col("o_orderstatus").as("status")))

  /** Point-in-time lookup against the [[q_scd2]] dimension — the
    * consumer side of SCD-2: every order is joined to the dimension
    * version whose [valid_from_day, valid_to_day) interval contains
    * its order day (an open current version matches everything from
    * its start). This is the temporal fact-to-dimension join every
    * warehouse report runs ("what was the customer's status WHEN the
    * order happened"), and the proof that the interval set [[q_scd2]]
    * emits is a partition of each customer's timeline: exactly one
    * version matches per order.
    *
    * Scale shape: an equi join on `o_custkey` with the interval
    * predicate as a residual filter — co-partitioned, per-customer
    * bounded (a customer's versions ≪ its orders), never a cartesian;
    * AQE handles customer skew. Zero-length same-day-flip intervals
    * [d, d) correctly match nothing — both same-day orders land on
    * the surviving version.
    */
  def q_scd2_lookup(s: SparkSession, d: String): DataFrame = {
    val dim = q_scd2(s, d).select(
      col("o_custkey"), col("version"), col("status"),
      col("valid_from_day"), col("valid_to_day"))
    val facts = orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      expr("unix_timestamp(o_orderdate) div 86400").as("day"))
    facts.join(dim,
        facts("o_custkey") === dim("o_custkey") &&
          col("day") >= col("valid_from_day") &&
          (col("valid_to_day").isNull || col("day") < col("valid_to_day")))
      .select(col("o_orderkey"), facts("o_custkey").as("o_custkey"),
        col("day"), col("version"), col("status"))
      .orderBy("o_orderkey")
  }

  /** The run-collapse kernel of [[q_scd2]], factored so unit tests can
    * drive it with hand-built (o_custkey, day, o_orderkey, status)
    * change streams.
    */
  private[graft] def scd2Of(st: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"), col("o_orderkey"))
    st.withColumn("prev", lag(col("status"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
      .select(
        col("o_custkey"),
        row_number().over(w).cast("long").as("version"),
        col("status"),
        col("day").as("valid_from_day"),
        lead(col("day"), 1).over(w).as("valid_to_day"),
        when(lead(col("day"), 1).over(w).isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("o_custkey", "version")
  }

  val keys: Seq[Key] = Seq(
    Key("q_window_rank", q_window_rank _,
      """SELECT * FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin),
    Key("q_window_lag", q_window_lag _,
      """SELECT user_id, event_id,
        |  (epoch_us(ts) // 1000000)
        |    - lag(epoch_us(ts) // 1000000, 1) OVER (
        |        PARTITION BY user_id
        |        ORDER BY epoch_us(ts) // 1000000, event_id) AS gap_s
        |FROM events ORDER BY user_id, event_id""".stripMargin),
    Key("q_window_dist", q_window_dist _,
      """SELECT c_nationkey, c_custkey,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 10) AS pct_rank,
        |  round(cume_dist() OVER w, 10) AS cume,
        |  lead(c_custkey, 1) OVER w AS next_cust
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin),
    Key("q_window_running", q_window_running _,
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    // SCD type-2: consecutive-run collapse via lag, then version /
    // validity intervals via row_number + lead over the change rows;
    // integral epoch-day pair (div 86400 <-> // 86400000000)
    Key("q_scd2", q_scd2 _,
      """WITH st AS (SELECT o_custkey,
        |         epoch_us(o_orderdate) // 86400000000 AS day,
        |         o_orderkey, o_orderstatus AS status FROM orders),
        |ch AS (SELECT *, lag(status) OVER
        |         (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS prev
        |       FROM st),
        |f AS (SELECT o_custkey, day, o_orderkey, status FROM ch
        |      WHERE prev IS NULL OR prev <> status)
        |SELECT o_custkey,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  status,
        |  day AS valid_from_day,
        |  lead(day) OVER w AS valid_to_day,
        |  CAST(CASE WHEN lead(day) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_current
        |FROM f
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)
        |ORDER BY o_custkey, version""".stripMargin),
    // point-in-time SCD-2 lookup: equi join on customer + interval
    // residual; exactly one version matches per order
    Key("q_scd2_lookup", q_scd2_lookup _,
      """WITH st AS (SELECT o_custkey,
        |         epoch_us(o_orderdate) // 86400000000 AS day,
        |         o_orderkey, o_orderstatus AS status FROM orders),
        |ch AS (SELECT *, lag(status) OVER
        |         (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS prev
        |       FROM st),
        |f AS (SELECT o_custkey, day, o_orderkey, status FROM ch
        |      WHERE prev IS NULL OR prev <> status),
        |dim AS (SELECT o_custkey,
        |    CAST(row_number() OVER w AS BIGINT) AS version, status,
        |    day AS valid_from_day, lead(day) OVER w AS valid_to_day
        |  FROM f
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)),
        |fact AS (SELECT o_orderkey, o_custkey,
        |    epoch_us(o_orderdate) // 86400000000 AS day FROM orders)
        |SELECT fact.o_orderkey, fact.o_custkey, fact.day,
        |  dim.version, dim.status
        |FROM fact JOIN dim ON fact.o_custkey = dim.o_custkey
        |  AND fact.day >= dim.valid_from_day
        |  AND (dim.valid_to_day IS NULL OR fact.day < dim.valid_to_day)
        |ORDER BY fact.o_orderkey""".stripMargin),
    Key("q_join_asof", q_join_asof _,
      """WITH ev AS (SELECT event_id, user_id, event_type, value,
        |  epoch_us(ts)//1000000 AS es FROM events),
        |p AS (SELECT user_id, es, arg_max(value, event_id) AS p_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY user_id, es)
        |SELECT e.event_id, e.user_id, e.es, p.p_value AS last_purchase
        |FROM ev e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.es >= p.es
        |ORDER BY event_id""".stripMargin),
    // tolerance as-of: DuckDB's ASOF join surfaces the matched p.es,
    // so gap and cutoff are plain projections over the same match
    Key("q_join_asof_tol", (s, d) => q_join_asof_tol(s, d),
      """WITH ev AS (SELECT event_id, user_id, event_type, value,
        |  epoch_us(ts)//1000000 AS es FROM events),
        |p AS (SELECT user_id, es, arg_max(value, event_id) AS p_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY user_id, es)
        |SELECT e.event_id, e.user_id, e.es,
        |  e.es - p.es AS gap_s,
        |  CASE WHEN e.es - p.es <= 3600 THEN p.p_value END AS last_purchase_tol
        |FROM ev e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.es >= p.es
        |ORDER BY event_id""".stripMargin),
  )
}
