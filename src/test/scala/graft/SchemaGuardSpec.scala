package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Loud failure channel for driver testdata regenerations. Round 7
  * lost 9 query keys because events.parquet silently changed physical
  * schema between rounds; Tables now adapts where adaptation is safe
  * (events.ts eras, embeddings float width), and THIS suite pins the
  * post-adaptation logical schema of every table loader. If the
  * environment shifts again on an axis we don't adapt to, the failure
  * is one named assertion here — not a scatter of dead query keys.
  */
class SchemaGuardSpec extends AnyFunSuite {
  import TestSpark._

  private def loader(name: String) = name match {
    case "events"     => Tables.events(spark, sf)
    case "documents"  => Tables.documents(spark, sf)
    case "embeddings" => Tables.embeddings(spark, sf)
    case t            => Tables.table(spark, sf, t)
  }

  private def fields(name: String): Map[String, DataType] =
    loader(name).schema.fields.map(f => f.name -> f.dataType).toMap

  test("events normalizes to the contract schema under any physical era") {
    val f = fields("events")
    assert(f("ts") === TimestampType)
    assert(f("event_id") === LongType && f("user_id") === LongType)
    assert(f("event_type") === StringType && f("props") === StringType)
    assert(f("value") === DoubleType)
  }

  test("documents carries the text-pipeline contract columns") {
    val f = fields("documents")
    assert(f("doc_id") === LongType && f("n_chars") === LongType)
    assert(f("text") === StringType && f("lang") === StringType
      && f("source") === StringType)
  }

  test("embeddings normalizes embedding to array<float> under any physical width") {
    val f = fields("embeddings")
    assert(f("vec_id") === LongType)
    assert(f("embedding") === ArrayType(FloatType, containsNull = true)
      || f("embedding") === ArrayType(FloatType, containsNull = false))
    // the adaptive branch: a double-width parquet must come back float
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("emb").toString
    Seq((1L, Seq(0.25d, 0.5d), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val adapted = Tables.embeddings(spark, tmp)
    assert(adapted.schema("embedding").dataType
      .asInstanceOf[ArrayType].elementType === FloatType)
    assert(adapted.selectExpr("embedding[1]").first().getFloat(0) === 0.5f)
  }

  test("tpch tables keep their key columns' types") {
    assert(fields("orders")("o_orderkey") === LongType)
    assert(fields("lineitem")("l_orderkey") === LongType)
    assert(fields("customer")("c_custkey") === LongType)
    assert(fields("supplier")("s_suppkey") === LongType)
    assert(fields("part")("p_partkey") === LongType)
    // the small-dim keys ship as int32 — queries rely on Spark's
    // implicit widening in joins, so pin the current width
    assert(fields("nation")("n_nationkey") === IntegerType)
    assert(fields("region")("r_regionkey") === IntegerType)
  }

  test("every loader's footer schema equals the inferred one after the era adaptations") {
    // the testdata is pyarrow-written: no Spark row metadata in any
    // footer, so this is the parquet-schema conversion path
    def adapted(name: String, t: StructType) = StructType(t.fields.map { f =>
      (name, f.name) match {
        case ("events", "ts") => f.copy(dataType = TimestampType)
        case ("embeddings", "embedding") => f.copy(dataType = ArrayType(FloatType))
        case _ => f
      }
    })
    for (name <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      val inferred = spark.read.parquet(s"$sf/$name.parquet").schema
      assert(Tables.table(spark, sf, name).schema === inferred, name)
      assert(loader(name).schema === adapted(name, inferred), name)
    }
  }

  test("constructing a query that only reads tables runs no job") {
    for (key <- Seq("q_agg_hash", "q_join_inner", "q_sample_hash", "q_sketch_kmv", "q_window_rank")) {
      val (_, jobs) = JobCount(spark)(SparkEntry.queries(key)(spark, sf))
      assert(jobs == 0, s"$key ran $jobs jobs while constructed")
    }
  }
}
