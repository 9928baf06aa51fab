package graft

import java.sql.Timestamp
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

// Top-level (not spec-nested) event/doc rows: an inner case class makes
// Spark's codegen'd encoder constructor lookup fail and fall back to
// interpreted with a logged Janino stack per query — green but noisy.
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class Doc(ts: Timestamp, doc_id: Long, lang: String, text: String)

/** Structured Streaming semantics: the same column logic as the batch
  * TimeSeries queries, driven through MemoryStream + memory sink.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runToCompletion(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("streaming doc pipeline: quality gate is batch-identical, dedup drops reordered duplicate") {
    val good = (1 to 60).map(i => s"the w$i of x.").mkString(" ") // stopword-rich, long
    val goodPerm = good.split(" ").reverse.mkString(" ")          // same bag of words
    val junk = "#### @@@@ !!!! %%%% ^^^^ &&&& ****"               // punct-heavy, short
    val input = MemoryStream[Doc]
    input.addData(
      Doc(ts("2024-01-01 10:00:00"), 1L, "en", good),
      Doc(ts("2024-01-01 10:01:00"), 2L, "en", junk),
      Doc(ts("2024-01-01 10:02:00"), 3L, "zh", good),       // lang-gated
      Doc(ts("2024-01-01 10:03:00"), 4L, "en", goodPerm))   // near-dup of doc 1
    val out = runToCompletion(
      graft.streaming.DocPipeline.prep(input.toDF(), keepPerMille = 1000),
      "doc_prep", "append")
    val kept = out.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L), s"kept=$kept") // junk gated, zh gated, permutation deduped
    // the gate's quality number equals the batch expression on the same text
    val batchQ = Seq((1L, good)).toDF("doc_id", "text")
      .select(graft.queries.TextOps.qualityScore(col("text"))).head.getDouble(0)
    assert(out.collect().head.getAs[Double]("quality") == batchQ)
  }

  test("streaming incremental dedup: index blocks, stream dedups, nulls admit individually") {
    // persisted index carries doc "known"'s fingerprint
    val known = "alpha beta gamma delta"
    val tmpIdx = java.nio.file.Files.createTempDirectory("sidx").resolve("fp").toString
    graft.sources.Sinks.writeFpIndex(
      Seq((0L, known)).toDF("doc_id", "text"), tmpIdx)
    val index = graft.sources.Sinks.readFpIndex(spark, tmpIdx)
    val input = MemoryStream[Doc]
    input.addData(
      Doc(ts("2024-01-01 10:00:00"), 1L, "en", known),                 // blocked by index
      Doc(ts("2024-01-01 10:01:00"), 2L, "en", "delta gamma beta alpha"), // permutation → blocked
      Doc(ts("2024-01-01 10:02:00"), 3L, "en", "fresh new document"),  // admitted
      Doc(ts("2024-01-01 10:03:00"), 4L, "en", "new fresh document"),  // in-stream dup of 3
      Doc(ts("2024-01-01 10:04:00"), 5L, "en", null),                  // null: admitted
      Doc(ts("2024-01-01 10:05:00"), 6L, "en", null))                  // null: ALSO admitted
    val out = runToCompletion(
      graft.streaming.DocPipeline.dedupIncrStream(input.toDF(), index),
      "incr_stream", "append")
    val kept = out.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(3L, 5L, 6L), s"kept=$kept")
  }

  test("tumbling window streaming agg matches batch on the same data") {
    val input = MemoryStream[Ev]
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:55:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 11:05:00"), 2, "view", 3.0),
      Ev(4, ts("2024-01-01 12:30:00"), 2, "click", 4.0))
    input.addData(evs: _*)
    val got = runToCompletion(
      StreamingOps.tumblingCounts(input.toDF()), "tumble_out", "update")
      .collect().map(r => (r.getAs[Timestamp]("w_start").toString, r.getAs[String]("event_type"), r.getAs[Long]("n")))
      .toSet
    assert(got == Set(
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 11:00:00.0", "view", 1L),
      ("2024-01-01 12:00:00.0", "click", 1L)))
  }

  test("watermark drops late rows in append mode") {
    val input = MemoryStream[Ev]
    // batch 1: event at 10:05 then watermark-advancing event at 12:00
    input.addData(Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0))
    val agg = StreamingOps.tumblingCounts(input.toDF())
    val q = agg.writeStream.format("memory").queryName("wm_out").outputMode("append").start()
    q.processAllAvailable()
    input.addData(Ev(2, ts("2024-01-01 12:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 3: a very late row for the already-finalized 10:00 window
    input.addData(Ev(3, ts("2024-01-01 10:10:00"), 1, "click", 99.0))
    q.processAllAvailable()
    q.stop()
    val finalized = spark.table("wm_out")
      .filter(col("w_start") === ts("2024-01-01 10:00:00"))
      .collect()
    // the 10:00 window emitted once, with n=1: the late row never joined it
    assert(finalized.length == 1 && finalized.head.getAs[Long]("n") == 1L)
  }

  test("session windows merge events within the 30-minute gap") {
    val input = MemoryStream[Ev]
    input.addData(
      Ev(1, ts("2024-01-01 09:00:00"), 7, "click", 1.0),
      Ev(2, ts("2024-01-01 09:20:00"), 7, "click", 1.0),  // same session
      Ev(3, ts("2024-01-01 10:30:00"), 7, "click", 1.0))  // new session (>30min gap)
    val q = StreamingOps.sessionize(input.toDF())
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    q.processAllAvailable()
    // advance the watermark far past both sessions so they finalize
    input.addData(Ev(99, ts("2024-01-02 00:00:00"), 8, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_out")
      .filter(col("user_id") === 7).collect()
    assert(got.length == 2)
    val ns = got.map(_.getAs[Long]("n_events")).sorted.toSeq
    assert(ns == Seq(1L, 2L))
  }

  test("file-source streaming tumble matches the batch result") {
    // readStream over parquet files (the production source shape):
    // write the µs-normalized events out, stream them back, and compare
    // against the batch aggregation on the same data.
    val batch = Tables.events(spark, TestSpark.sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val tmp = java.nio.file.Files.createTempDirectory("stream-src").toString
    batch.write.mode("overwrite").parquet(s"$tmp/events")
    val streamed = spark.readStream
      .schema(batch.schema)
      .parquet(s"$tmp/events")
    val q = StreamingOps.tumblingCounts(streamed)
      .writeStream.format("memory").queryName("file_tumble").outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("file_tumble")
      .groupBy("w_start", "event_type").agg(sum("n").as("n"))
    val expected = batch
      .groupBy(window(col("ts"), "1 hour").getField("start").as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("checkpointed restart resumes exactly-once across stream restarts") {
    // The production recovery contract: a checkpointed query stopped and
    // restarted over a grown source must emit each input row exactly
    // once — batch 1 is not reprocessed, batch 2 is not missed.
    val tmp = java.nio.file.Files.createTempDirectory("ckpt").toString
    val (srcDir, outDir, ck) = (s"$tmp/src", s"$tmp/out", s"$tmp/ck")
    def evDf(ids: Range) = ids.map(i =>
      (i.toLong, ts("2024-01-01 10:00:00"), i.toLong % 3, "click", i.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    evDf(1 to 50).write.mode("append").parquet(srcDir)
    val schema = evDf(1 to 1).schema
    def start() = spark.readStream.schema(schema).parquet(srcDir)
      .withColumn("doubled", col("value") * 2)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ck)
      .outputMode("append").start()
    val s1 = start(); s1.processAllAvailable(); s1.stop()
    evDf(51 to 80).write.mode("append").parquet(srcDir)
    val s2 = start(); s2.processAllAvailable(); s2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 80L, "exactly-once violated: duplicate or missing rows")
    assert(out.select("event_id").distinct().count() == 80L)
    assert(out.agg(sum("doubled")).head.getDouble(0) == (1 to 80).map(_ * 2.0).sum)
  }

  test("stream-stream interval join pairs clicks with in-window purchases") {
    val input = MemoryStream[Ev]
    input.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      Ev(2, ts("2024-01-01 10:30:00"), 1, "purchase", 50.0), // within 1h of click 1
      Ev(3, ts("2024-01-01 12:00:00"), 1, "purchase", 70.0), // outside 1h
      Ev(4, ts("2024-01-01 10:10:00"), 2, "click", 0.0))     // user 2: no purchase
    val got = runToCompletion(
      StreamingOps.clickToPurchaseJoin(input.toDF()), "ssj_out", "append")
      .collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"), r.getAs[Double]("purchase_value")))
      .toSet
    assert(got == Set((1L, 2L, 50.0)))
  }

  test("dropDuplicatesWithinWatermark removes stateful duplicates") {
    val input = MemoryStream[Ev]
    input.addData(
      Ev(1, ts("2024-01-01 09:00:00"), 1, "click", 1.0),
      Ev(1, ts("2024-01-01 09:00:05"), 1, "click", 1.0), // dup id within watermark
      Ev(2, ts("2024-01-01 09:01:00"), 1, "view", 2.0))
    val got = runToCompletion(
      StreamingOps.dedupWithinWatermark(input.toDF()), "dedup_out", "append")
      .collect()
    assert(got.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 2L))
  }

  test("streaming classifier gate equals the batch q_quality_classifier row for row") {
    // real corpus rows (incl. any empty texts) streamed in two
    // micro-batches through the STATELESS gate must reproduce the
    // batch key exactly — the HOF fold and the explode+agg are
    // different plans over shared weight expressions
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => Doc(ts("2024-01-01 10:00:00"), r.getAs[Long]("doc_id"),
        r.getAs[String]("lang"), r.getAs[String]("text")))
    val input = MemoryStream[Doc]
    val out = {
      val q = StreamingOps.streamingClassifierGate(input.toDF())
        .writeStream.format("memory").queryName("cls_gate")
        .outputMode("append").start()
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      q.stop()
      spark.table("cls_gate")
    }
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id")
    def payload(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_toks"), r.getAs[Long]("score_sum"),
        Option(r.getAs[java.lang.Double]("score")).map(_.doubleValue),
        r.getAs[Boolean]("accept"))
    val streamed = out.collect().map(r => key(r) -> payload(r)).toMap
    val batch = SparkEntry.queries("q_quality_classifier")(spark, TestSpark.sf)
      .collect().map(r => key(r) -> payload(r)).toMap
    assert(streamed.size == batch.size)
    batch.foreach { case (id, p) =>
      assert(streamed(id) == p, s"doc $id stream/batch divergence")
    }
  }

  test("streaming DSIR scorer over a persisted model equals the batch q_dsir row for row") {
    // train → persist → read back (the Sinks round trip) → stream the
    // same corpus in two micro-batches: the stateless scorer must
    // reproduce the batch key exactly, gate included (the gate
    // constants are derived from the model alone — the per-token log
    // term depends only on the bucket, so the corpus totals decompose
    // over buckets exactly)
    val tmp = java.nio.file.Files.createTempDirectory("dsirm").resolve("m").toString
    graft.sources.Sinks.writeModel(
      graft.queries.SampleOps.dsirModel(spark, TestSpark.sf), tmp)
    val model = graft.sources.Sinks.readModel(spark, tmp)
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => Doc(ts("2024-01-01 10:00:00"), r.getAs[Long]("doc_id"),
        r.getAs[String]("lang"), r.getAs[String]("text")))
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingDsirScore(input.toDF(), model)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    input.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
    input.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def payload(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_toks"),
        Option(r.getAs[java.lang.Long]("llr_fp")).map(_.longValue),
        Option(r.getAs[java.lang.Double]("llr")).map(_.doubleValue),
        r.getAs[Boolean]("selected"))
    val streamed = spark.table("dsir_stream").collect()
      .map(r => r.getAs[Long]("doc_id") -> payload(r)).toMap
    val batch = SparkEntry.queries("q_dsir")(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> payload(r)).toMap
    assert(streamed.size == batch.size)
    batch.foreach { case (id, p) =>
      assert(streamed(id) == p, s"doc $id stream/batch divergence")
    }
  }
  test("streaming value histogram over two micro-batches equals batch, counter-for-counter") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Tables.events(spark, TestSpark.sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val minC = rows.map(_._2).min
    val maxC = rows.map(_._2).max
    val input = MemoryStream[(String, Double)]
    val stream = graft.streaming.StreamingOps.streamingValueHist(
        input.toDF().toDF("event_type", "value"), minC, maxC)
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode("complete").start()
    // replay the same values (cents/100 keeps the decimal exact)
    val replay = rows.map { case (t, c) => (t, c.toDouble / 100.0) }
    val (b1, b2) = replay.splitAt(replay.length / 2)
    input.addData(b1: _*); stream.processAllAvailable()
    input.addData(b2: _*); stream.processAllAvailable()
    stream.stop()
    val streamed = spark.table("hist_stream").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("n")).toMap
    // batch reference: the same bucket function over the same rows
    val batch = rows.groupBy { case (t, c) =>
      (t, math.max(0L, math.min(31L, (c - minC) * 32 / (maxC - minC + 1))))
    }.map { case (k, vs) => k -> vs.size.toLong }
    assert(streamed == batch)
    // and the q_value_hist key's per-type totals agree with the stream
    val keyTotals = graft.queries.TimeSeries.q_value_hist(spark, TestSpark.sf)
      .collect().groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t -> rs.map(_.getAs[Long]("n")).sum }
    val streamTotals = streamed.groupBy(_._1._1)
      .map { case (t, m) => t -> m.values.sum }
    assert(streamTotals == keyTotals)
  }

  test("streaming OHLC equals the batch q_ohlc cells over a two-batch replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1),
        r.getString(2), r.getAs[java.lang.Double]("value"))).toSeq
    val input = MemoryStream[(java.sql.Timestamp, Long, String, java.lang.Double)]
    val stream = graft.streaming.StreamingOps.streamingOhlc(
        input.toDF().toDF("ts", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("ohlc_stream")
      .outputMode("complete").start()
    // two batches split mid-corpus: open/close candidates must merge
    // across the batch boundary, not reset at it
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1: _*); stream.processAllAvailable()
    input.addData(b2: _*); stream.processAllAvailable()
    stream.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("w_start"), r.getAs[String]("event_type"))
    def cell(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n"), r.getAs[java.lang.Long]("open_cents"),
        r.getAs[java.lang.Long]("high_cents"),
        r.getAs[java.lang.Long]("low_cents"),
        r.getAs[java.lang.Long]("close_cents"))
    val streamed = spark.table("ohlc_stream").collect()
      .map(r => key(r) -> cell(r)).toMap
    val batch = graft.queries.TimeSeries.q_ohlc(spark, TestSpark.sf)
      .collect().map(r => key(r) -> cell(r)).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (k, v) =>
      assert(streamed(k) == v, s"cell $k: streaming ${streamed(k)} != batch $v")
    }
  }

  test("streaming bootstrap moments equal the batch replicate sums, counter-for-counter") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Tables.events(spark, TestSpark.sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val input = MemoryStream[(String, Long, Double)]
    val stream = graft.streaming.StreamingOps.streamingBootstrap(
        input.toDF().toDF("event_type", "event_id", "value"))
      .writeStream.format("memory").queryName("boot_stream")
      .outputMode("complete").start()
    val replay = rows.map { case (t, id, c) => (t, id, c.toDouble / 100.0) }
    val (b1, b2) = replay.splitAt(replay.length / 2)
    input.addData(b1: _*); stream.processAllAvailable()
    input.addData(b2: _*); stream.processAllAvailable()
    stream.stop()
    val streamed = spark.table("boot_stream").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("rep")) ->
        ((r.getAs[Long]("num"), r.getAs[Long]("den")))).toMap
    // batch reference: the same moments through the batch kernel path
    val batch = graft.queries.TimeSeries
      .bootstrapMoments(spark, TestSpark.sf, 32)
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("rep")) ->
        ((r.getAs[Long]("num"), r.getAs[Long]("den")))).toMap
    assert(streamed == batch)
    assert(streamed.size == batch.size && streamed.nonEmpty)
  }

  test("foreachBatch into the snapshot sink: one version per batch, replay is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("snapstream").toString + "/tbl"
    val input = MemoryStream[Doc]
    val q = input.toDF().writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        graft.sources.Sinks.writeSnapshotBatch(df, dir, id): Unit
      }
      .start()
    input.addData(Doc(ts("2024-01-01 10:00:00"), 1L, "en", "a"))
    q.processAllAvailable()
    input.addData(Doc(ts("2024-01-01 10:01:00"), 2L, "en", "b"),
      Doc(ts("2024-01-01 10:02:00"), 3L, "en", "c"))
    q.processAllAvailable()
    q.stop()
    assert(graft.sources.Sinks.snapshotVersions(dir) == Seq(1L, 2L))
    // appends accumulate: latest version sees every batch's rows
    val latest = graft.sources.Sinks.readSnapshot(spark, dir)
      .select("doc_id").as[Long].collect().sorted
    assert(latest.sameElements(Seq(1L, 2L, 3L)))
    // a crash-restart replay of batch 1 must be a no-op, not a dup
    val replay = Seq(Doc(ts("2024-01-01 10:01:00"), 2L, "en", "b"),
      Doc(ts("2024-01-01 10:02:00"), 3L, "en", "c")).toDF()
    assert(!graft.sources.Sinks.writeSnapshotBatch(replay, dir, 1L))
    assert(graft.sources.Sinks.readSnapshot(spark, dir).count() == 3)
    // time travel still sees the pre-append state
    assert(graft.sources.Sinks.readSnapshot(spark, dir, 1L).count() == 1)
  }

  test("streaming k-anon gate: backlog releases when a class crosses k at a batch boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps.QRec
    implicit val qrecEnc: org.apache.spark.sql.Encoder[QRec] =
      org.apache.spark.sql.Encoders.product[QRec]
    val input = MemoryStream[QRec]
    val stream = graft.streaming.StatefulOps
      .streamingKAnonGate(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("kanon_gate")
      .outputMode("append").start()
    // batch 1: A has 2 (< k, held), B has 3 (crosses k in-batch), C has 1 (held)
    input.addData(QRec(1, "A"), QRec(2, "A"),
      QRec(10, "B"), QRec(11, "B"), QRec(12, "B"), QRec(20, "C"))
    stream.processAllAvailable()
    val after1 = spark.table("kanon_gate").collect()
      .map(r => (r.getAs[Long]("rec_id"), r.getAs[String]("qclass"))).toSet
    assert(after1 == Set((10L, "B"), (11L, "B"), (12L, "B")),
      s"only the class that reached k may release: $after1")
    // batch 2: A's 3rd record arrives -> the 2-row backlog flushes with it;
    // B passes through immediately; C stays suppressed
    input.addData(QRec(3, "A"), QRec(13, "B"))
    stream.processAllAvailable()
    stream.stop()
    val all = spark.table("kanon_gate").collect()
      .map(r => (r.getAs[Long]("rec_id"), r.getAs[String]("qclass"))).toSeq
    // exactly-once: no record emitted twice
    assert(all.distinct.length == all.length, s"duplicate release: $all")
    // the drained release set equals the batch rule (classes with >= k rows)
    assert(all.toSet == Set(
      (1L, "A"), (2L, "A"), (3L, "A"),
      (10L, "B"), (11L, "B"), (12L, "B"), (13L, "B")), s"released: $all")
  }
}

class MultimodalSpec extends AnyFunSuite {
  import TestSpark._
  import graft.queries.Multimodal

  test("media features: one row per doc, deterministic 8-dim features") {
    val a = Multimodal.mediaFeatures(spark, sf).collect()
    val b = Multimodal.mediaFeatures(spark, sf).collect()
    assert(a.length == Tables.documents(spark, sf).count())
    assert(a.sameElements(b))
    a.take(10).foreach { r =>
      assert(r.getSeq[Float](3).length == 8)
      assert(r.getAs[Long]("n_bytes") > 0)
    }
  }

  test("frame sampling: frame count = ceil(bytes/64), frames reassemble payload") {
    val frames = Multimodal.frameSample(spark, sf).collect()
      .groupBy(_.getAs[Long]("media_id"))
    val media = Multimodal.mediaTable(spark, sf)
      .filter(org.apache.spark.sql.functions.col("kind") === "video").collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Array[Byte]]("bytes")).toMap
    assert(frames.keySet == media.keySet)
    frames.foreach { case (id, fs) =>
      val expected = math.ceil(media(id).length / 64.0).toInt
      assert(fs.length == expected, s"media $id")
      val reassembled = fs.sortBy(_.getAs[Int]("frame_no"))
        .flatMap(_.getAs[Array[Byte]]("frame_bytes"))
      assert(reassembled.sameElements(media(id)), s"media $id payload mismatch")
    }
  }

  test("frame meta: scalars agree with the binary frames they summarize") {
    val metas = Multimodal.q_media_frame_meta(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("frame_no")) ->
        (r.getAs[Long]("n_bytes"), r.getAs[String]("frame_md5"), r.getAs[Long]("first_byte"))).toMap
    val frames = Multimodal.frameSample(spark, sf).collect()
    assert(frames.length == metas.size)
    frames.foreach { f =>
      val bytes = f.getAs[Array[Byte]]("frame_bytes")
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      val got = metas((f.getAs[Long]("media_id"), f.getAs[Int]("frame_no").toLong))
      assert(got == ((bytes.length.toLong, md, bytes.head.toLong)),
        s"media ${f.getAs[Long]("media_id")} frame ${f.getAs[Int]("frame_no")}")
    }
  }

  test("resize meta: aspect ratio preserved, width capped") {
    Multimodal.resizeMeta(spark, sf).collect().foreach { r =>
      assert(r.getAs[Int]("out_width") <= 640)
      val scale = r.getAs[Int]("out_width").toDouble / r.getAs[Int]("width")
      assert(math.abs(r.getAs[Int]("out_height") - (r.getAs[Int]("height") * scale).toInt) <= 1)
    }
  }

  test("real codec: PNG encode->ImageIO decode recovers exact closed-form pixels") {
    // hand-computed expectation, independent of both encodePng and
    // decodeImage internals
    def expectSum(id: Long, c: Int): Long =
      (for (x <- 0 until 16; y <- 0 until 16)
        yield (id * 37 + x * 5 + y * 11 + c * 3) % 256).sum
    for (id <- Seq(0L, 7L, 63L)) {
      val bytes = Multimodal.encodePng(id, 16, 16)
      // a real PNG container, not a stub: magic bytes
      assert(bytes.take(4).sameElements(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
      val Some((w, h, sr, sg, sb)) = Multimodal.decodeImage(bytes)
      assert((w, h) == (16, 16))
      assert(sr == expectSum(id, 0), s"sum_r id=$id")
      assert(sg == expectSum(id, 1), s"sum_g id=$id")
      assert(sb == expectSum(id, 2), s"sum_b id=$id")
    }
  }

  test("real codec: non-image payloads decode to None, image rows fall back cleanly") {
    assert(Multimodal.decodeImage("not an image at all".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
    // a decodable image payload yields the real feature shape:
    // (w, h, n_px, meanR, meanG, meanB, luma, 0)
    val feats = Multimodal.decodeImageFeatures(Multimodal.encodePng(5L, 8, 4)).get
    assert(feats.length == 8 && feats(0) == 8f && feats(1) == 4f && feats(2) == 32f)
    assert(feats(3) >= 0f && feats(3) <= 255f)
  }

  test("q_media_phash: NN readout consistent; one-pixel perturbation barely moves the hash") {
    val rows = SparkEntry.queries("q_media_phash")(spark, sf).collect()
    assert(rows.length == 64)
    val hashOf = rows.map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("phash")).toMap
    rows.foreach { r =>
      val (id, nn) = (r.getAs[Long]("media_id"), r.getAs[Long]("nn_id"))
      assert(id != nn)
      assert(java.lang.Long.bitCount(hashOf(id) ^ hashOf(nn)) ==
        r.getAs[Long]("nn_hamming"))
    }
    // hashes discriminate: the 64 closed-form images are not clones
    assert(hashOf.values.toSet.size > 32)
    // perceptual property, through the REAL codec: bump one pixel's R
    // channel and the hash moves at most a couple of bits (only the
    // touched block and near-threshold blocks can flip), while the
    // operator's own rows show unrelated images many bits apart
    def hashBytes(bytes: Array[Byte]): Long = {
      val blocks = Multimodal.decodeLumaBlocks(bytes, 8).get
      val total = blocks.sum
      (0 until 63).foldLeft(0L)((h, b) =>
        if (64L * blocks(b) > total) h | (1L << b) else h)
    }
    val base = Multimodal.encodePng(1L, 16, 16)
    val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    im.setRGB(0, 0, im.getRGB(0, 0) ^ 0x280000) // flip some R bits at (0,0)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", out)
    val moved = java.lang.Long.bitCount(hashBytes(base) ^ hashBytes(out.toByteArray))
    assert(moved <= 4, s"one-pixel edit moved $moved bits")
    assert(hashBytes(base) == hashOf(1L)) // codec path = operator path
  }

  test("q_media_decode: one row per bounded doc, dims decoded from the container") {
    val rows = SparkEntry.queries("q_media_decode")(spark, sf).collect()
    val expected = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 64).count()
    assert(rows.length == expected)
    rows.foreach { r =>
      assert(r.getAs[Int]("width") == 16 && r.getAs[Int]("height") == 16)
      assert(r.getAs[Long]("sum_r") > 0)
    }
  }

  test("streaming PBM equals the batch q_pbm per-query estimates over a two-batch replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the IDENTICAL declared click log the batch key aggregates
    val rows = graft.queries.TextOps.pbmClicked(spark, TestSpark.sf, 20)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("click"))).toSeq
    assert(rows.nonEmpty, "click log fixture is empty")
    val input = MemoryStream[(Long, Long, Long)]
    val stream = graft.streaming.StreamingOps.streamingPbm(
        input.toDF().toDF("query_id", "rank", "click"))
      .writeStream.format("memory").queryName("pbm_stream")
      .outputMode("complete").start()
    // split mid-corpus so per-query counters must merge across the
    // batch boundary, not reset at it
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1: _*); stream.processAllAvailable()
    input.addData(b2: _*); stream.processAllAvailable()
    stream.stop()
    def cell(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("query_id") -> ((r.getAs[Long]("n_clicks"),
        r.getAs[Long]("ctr_fp"), r.getAs[Long]("ips_fp")))
    val streamed = spark.table("pbm_stream").collect().map(cell).toMap
    val batch = graft.queries.TextOps.q_pbm(spark, TestSpark.sf)
      .collect().map(cell).toMap
    assert(streamed == batch,
      s"streaming PBM diverged: ${(streamed.toSet diff batch.toSet).take(3)}")
  }
}
