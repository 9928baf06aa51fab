package graft

import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver testdata star schema
  * (TESTDATA.md). Scans are [[Sinks.readParquet]], with the table's
  * footer schema (no job), so Catalyst pushes filters/projections
  * into the parquet reader (SURVEY.md §2.1 S8); at cluster scale the
  * same call reads a table directory, so nothing here assumes
  * single-file inputs.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Sinks.readParquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Schema-adaptive events reader. The driver has shipped `events.ts`
    * in two physical forms so far: TIMESTAMP(NANOS) parquet (rounds 1–6;
    * read as a raw nanos long under [[Sessions.local]]'s nanosAsLong,
    * and we rebuild a µs timestamp) and plain `timestamp[us]` NTZ
    * (round 7+). Branch on the type Spark actually observes rather
    * than hard-coding either era:
    *
    *   - LongType (nanosAsLong read of TIMESTAMP(NANOS)): integral
    *     `div 1000` — not `/` — because epoch-nanos (~1.7e18) exceeds
    *     double's 2^53 exact-integer range and a float division would
    *     corrupt low-order digits.
    *   - TimestampNTZType: cast to session-TZ TimestampType. Every
    *     session in this repo pins spark.sql.session.timeZone=UTC, so
    *     the cast is value-preserving and downstream `unix_timestamp`/
    *     `window` semantics match DuckDB's naive-as-UTC reading.
    *   - TimestampType: already what downstream queries expect.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType            =>
        // Unit sanity guard (ADVICE r8): the int64 branch assumes
        // epoch-NANOS (the rounds-1..6 physical era). A future era
        // shipping raw epoch-MICROS as int64 would land in this same
        // branch and be silently shifted 1000x by the div. One probe
        // row bounds the unit: nanos of any date after 1971 is
        // >= 3.2e16, micros of any date before year 2200 is
        // <= 7.3e15 — the ranges cannot overlap, so a single sample
        // decides, and a wrong unit fails LOUDLY here instead of
        // shifting every window downstream. (The probe reads one row
        // of one column; this branch is dead in the current
        // timestamp_ntz era, so it costs nothing today.)
        df.select(col("ts")).where(col("ts").isNotNull).limit(1).collect()
          .headOption.foreach { r =>
            val v = r.getLong(0)
            if (v != 0L && math.abs(v) < 1e16.toLong)
              throw new IllegalStateException(
                s"events.ts is int64 but value $v is too small for " +
                  "epoch-nanos (looks like epoch-micros/millis) — refusing " +
                  "the div-1000 nanos conversion; teach Tables.events this era")
          }
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts has unexpected physical type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  /** Defensive on the same axis that broke events in round 7: if a
    * testdata regeneration ships `embedding` as list<double> (pandas'
    * default float width) instead of list<float>, normalize back to
    * the float array every vector operator assumes. A float→float
    * cast is a no-op projection, so the guard costs nothing today.
    */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "embeddings")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case _: ArrayType => df.withColumn("embedding",
        col("embedding").cast(ArrayType(FloatType)))
      case other => throw new IllegalStateException(
        s"embeddings.embedding has unexpected physical type $other")
    }
  }
}
