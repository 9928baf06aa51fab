package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local JVM SparkContext. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
  val sf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("every declared query runs and q_* with data returns rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("every oracleSql key has a matching queries key") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without query impl: $missing")
    val names = SparkEntry.keys.map(_.name)
    assert(names.distinct == names, "a key name is registered by two families")
    assert(names == names.sorted, "keys must come sorted by name")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 265)
    // twins share their base key's oracle text, not a copy of it
    Seq("q_dedup_incr_idx" -> "q_dedup_incr", "q_dedup_bloom" -> "q_dedup_incr",
      "q_pagerank_copart" -> "q_pagerank", "q_graph_hops_copart" -> "q_graph_hops",
      "q_join_range_binned" -> "q_join_range").foreach { case (twin, base) =>
      assert(SparkEntry.oracleSql(twin) eq SparkEntry.oracleSql(base), twin)
    }
  }

  test("q_agg_hash: group count and row invariants") {
    val rows = q("q_agg_hash").collect()
    assert(rows.nonEmpty && rows.length <= 9) // <=3 flags x <=3 statuses
    rows.foreach { r =>
      assert(r.getAs[Long]("count_order") > 0)
      assert(r.getAs[Double]("sum_base_price") >= r.getAs[Double]("sum_disc_price"))
    }
  }

  test("q_stats_agg: exact-moment kernel matches the float builtins within 1e-9") {
    // the oracle kernel computes stddev/var/corr/mean from exact
    // integer moments (order-independent); the builtins remain the
    // production path at scale — pin the two within float noise so a
    // formula drift in either form fails loudly
    val builtin = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(
        stddev_samp(col("l_quantity")).as("sd_qty"),
        var_samp(col("l_discount")).as("var_disc"),
        corr(col("l_quantity"), col("l_extendedprice")).as("qty_price_corr"),
        avg(col("l_tax")).as("avg_tax"))
      .collect().map(r => r.getString(0) -> r).toMap
    val kernel = q("q_stats_agg").collect()
    assert(kernel.nonEmpty)
    // kernel columns are rounded for the oracle (4 or 6 decimals), so
    // the bound is half the rounding quantum plus float noise
    val quantum = Map("sd_qty" -> 5e-5, "var_disc" -> 5e-7,
      "qty_price_corr" -> 5e-5, "avg_tax" -> 5e-7)
    kernel.foreach { r =>
      val b = builtin(r.getAs[String]("l_returnflag"))
      for (c <- Seq("sd_qty", "var_disc", "qty_price_corr", "avg_tax"))
        assert(math.abs(r.getAs[Double](c) - b.getAs[Double](c)) < quantum(c) + 1e-9,
          s"$c: kernel=${r.getAs[Double](c)} builtin=${b.getAs[Double](c)}")
    }
  }

  test("q_agg_count matches direct count") {
    val n = q("q_agg_count").collect().head.getAs[Long]("n_rows")
    assert(n == Tables.lineitem(spark, sf).count())
  }

  test("q_topk: exactly 10 rows in non-increasing acctbal order") {
    val bals = q("q_topk").collect().map(_.getAs[Double]("c_acctbal"))
    assert(bals.length == 10)
    assert(bals.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("q_explode: row count equals total word count of selected docs") {
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") < 50)
      .select(sum(size(split(col("text"), " "))))
      .collect().head.getLong(0)
    assert(q("q_explode").count() == expected)
  }

  test("q_window_rank: at most 3 rows per nation, rn in 1..3") {
    val rows = q("q_window_rank").collect()
    val perNation = rows.groupBy(_.getAs[Int]("c_nationkey"))
    assert(perNation.values.forall(_.length <= 3))
    assert(rows.forall { r => val rn = r.getAs[Long]("rn"); rn >= 1 && rn <= 3 })
  }

  test("q_window_running: final running total equals group sum") {
    val rt = q("q_window_running").collect()
      .groupBy(_.getAs[Long]("o_custkey"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Double]("running_total")).max }
    val direct = Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double").as("t"))
      .collect().map(r => r.getAs[Long]("o_custkey") -> r.getAs[Double]("t")).toMap
    rt.foreach { case (k, v) => assert(math.abs(v - direct(k)) < 1e-6, s"cust $k") }
  }

  test("q_union row count = sum of both sides") {
    val o = Tables.orders(spark, sf)
    val expected = o.filter(col("o_orderstatus") === "F").count() +
      o.filter(col("o_totalprice") > 400000.0).count()
    assert(q("q_union").count() == expected)
  }

  test("q_intersect/q_except partition the F-custkey set") {
    val f = Tables.orders(spark, sf).filter(col("o_orderstatus") === "F")
      .select("o_custkey").distinct().count()
    val inter = q("q_intersect").count()
    val ex    = Tables.orders(spark, sf).filter(col("o_orderstatus") === "F").select("o_custkey")
      .except(Tables.orders(spark, sf).filter(col("o_orderstatus") === "P").select("o_custkey")).count()
    assert(inter <= f && ex <= f)
  }

  test("q_dedup: doc_id is the min per (lang, source) and groups cover all docs") {
    val rows = q("q_dedup").collect()
    val total = rows.map(_.getAs[Long]("n_dups")).sum
    assert(total == Tables.documents(spark, sf).count())
  }

  test("q_time_tumble: n sums to event count; w_start hour-aligned") {
    val rows = q("q_time_tumble").collect()
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.events(spark, sf).count())
    assert(rows.forall(_.getAs[Long]("w_start") % 3600 == 0))
  }

  test("q_time_slide: each event lands in exactly 4 windows") {
    val slide = q("q_time_slide").collect().map(_.getAs[Long]("n")).sum
    assert(slide == 4 * Tables.events(spark, sf).count())
  }

  test("q_time_session: sessions respect the 30-minute gap per user") {
    val rows = q("q_time_session").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("sess_start"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session starts at least 30min after previous session's end-window base
          assert(b.getAs[Long]("sess_start") >= a.getAs[Long]("sess_end") - 1800)
        case _ =>
      }
    }
  }

  test("q_join_asof: lookback matches a hand-computed per-user scan") {
    val evs = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_timestamp(col("ts")).as("es"))
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"), r.getAs[Long]("es")))
    val expected = evs.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.map { case (id, _, _, _, es) =>
        val prior = rows.filter(r => r._3 == "purchase" && r._5 <= es)
        val best = if (prior.isEmpty) None
          else Some(prior.maxBy(r => (r._5, r._1))._4)
        id -> best
      }
    }
    val got = q("q_join_asof").collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("last_purchase")).map(_.toDouble)).toMap
    expected.foreach { case (id, exp) => assert(got(id) == exp, s"event $id") }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
