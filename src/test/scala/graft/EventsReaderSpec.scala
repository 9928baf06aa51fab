package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Regression trap for the round-7 events incident: the driver
  * regenerated /root/testdata and `events.ts` changed physical type
  * from TIMESTAMP(NANOS) parquet (read as a nanos long under
  * spark.sql.legacy.parquet.nanosAsLong) to plain timestamp[us] NTZ —
  * and the reader's hard-coded `ts div 1000` killed all nine
  * events-reading query keys. `Tables.events` is now schema-adaptive;
  * this suite writes each physical era to a temp dir and asserts the
  * reader yields identical instants for all of them.
  */
class EventsReaderSpec extends AnyFunSuite {
  import TestSpark._

  // Three instants, exercising sub-second precision (µs survives, ns floor-divides).
  private val micros = Seq(1700000000000001L, 1700000123456789L, 1712345678901234L)

  private def writeDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def baseRows(tsCol: (Long, Int) => Any): Seq[Row] =
    micros.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, tsCol(us, i), i.toLong % 2, s"type_$i", i.toDouble, "{}")
    }

  private def writeEvents(dir: String, tsType: DataType, tsCol: (Long, Int) => Any): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(baseRows(tsCol), 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def readMicros(dir: String): Seq[Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType,
      s"reader must normalize ts to TimestampType, got ${df.schema("ts").dataType}")
    df.select(unix_micros(col("ts"))).orderBy("ts").collect().map(_.getLong(0)).toSeq
  }

  test("nanos-long era (rounds 1-6: TIMESTAMP(NANOS) read as long) rebuilds identical micros") {
    val dir = writeDir("events-nanos")
    // nanosAsLong surfaces the physical column as LongType; a plain int64
    // column exercises the exact same reader branch.
    writeEvents(dir, LongType, (us, _) => us * 1000L)
    assert(readMicros(dir) === micros)
  }

  test("TIMESTAMP(NANOS) parquet without Spark metadata (rounds 1-6) rebuilds identical micros") {
    // written by parquet-mr itself, as pyarrow wrote the old testdata:
    // the footer has no Spark schema key, so the reader converts the
    // parquet type, and only the session's nanosAsLong (set by
    // Sessions.local, not by Tables) makes the column readable
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val dir = writeDir("events-nanos-parquet")
    val schema = MessageTypeParser.parseMessageType(
      """message schema {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try baseRows((us, _) => us * 1000L).foreach { r =>
      writer.write(groups.newGroup().append("event_id", r.getLong(0)).append("ts", r.getLong(1))
        .append("user_id", r.getLong(2)).append("event_type", r.getString(3))
        .append("value", r.getDouble(4)).append("props", r.getString(5)))
    } finally writer.close()
    assert(graft.sources.Sinks.parquetSchema(spark, s"$dir/events.parquet")("ts").dataType === LongType)
    assert(readMicros(dir) === micros)
  }

  test("timestamp[us] NTZ era (round 7+ regenerated testdata) passes through identical micros") {
    val dir = writeDir("events-ntz")
    writeEvents(dir, TimestampNTZType,
      (us, _) => java.time.LocalDateTime.ofEpochSecond(us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC))
    assert(readMicros(dir) === micros)
  }

  test("session-TZ timestamp era passes through unchanged") {
    val dir = writeDir("events-tz")
    writeEvents(dir, TimestampType,
      (us, _) => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)))
    assert(readMicros(dir) === micros)
  }

  test("int64 epoch-MICROS era fails loudly instead of silently shifting 1000x") {
    // ADVICE r8: a future testdata era shipping raw epoch-micros as
    // int64 lands in the nanos branch, where div 1000 would silently
    // misplace every event by 1000x. The unit guard must reject it.
    val dir = writeDir("events-micros-as-long")
    writeEvents(dir, LongType, (us, _) => us) // micros, NOT nanos
    val e = intercept[IllegalStateException] {
      Tables.events(spark, dir).collect()
    }
    assert(e.getMessage.contains("too small for epoch-nanos"))
  }

  test("current driver testdata reads and all three eras agree on unix_timestamp semantics") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.count() > 0)
    // unix_timestamp must be directly usable (the asof/range joins depend on it)
    assert(df.select(unix_timestamp(col("ts"))).first().getLong(0) > 0L)
  }
}
