package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashFunctions

/** The codegen'd [[graft.functions.Md5WindowU]] / [[graft.functions
  * .HexWindowU]] kernels must be BIT-IDENTICAL to the
  * `conv(substring(md5(x), off, len), 16, 10) :: long` chains they
  * replaced (r16 opt) — the DuckDB oracle reproduces those chains with
  * nibble arithmetic, so the kernels inherit the cross-engine contract
  * only if every draw matches, including multi-byte UTF-8 input (the
  * digest runs over UTF-8 bytes) and the empty string.
  */
class HashKernelSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val gen: Gen[String] = Gen.frequency(
    5 -> Gen.asciiPrintableStr,
    3 -> Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.const(' '), Gen.const('é'), Gen.const('界'),
      Gen.const(' '))).map(_.mkString),
    1 -> Gen.const(""),
    1 -> Gen.numStr.map(s => s + ":" + s))

  private def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i =>
      gen(Gen.Parameters.default, Seed(0xC0FFEE + i)))

  test("md5_window_u == conv(substring(md5(s), off, len), 16, 10) on every window in use") {
    val texts = samples(300)
    // (off, len) pairs actually used: hashDraw 4/6/8/15, poisson 13,
    // and the digest-reuse second window 17..31
    for ((off, len) <- Seq((1, 4), (1, 6), (1, 8), (1, 13), (1, 15), (17, 15))) {
      val rows = texts.toDF("t")
        .select(
          HashFunctions.md5WindowU(col("t"), off, len).as("kernel"),
          conv(substring(md5(col("t")), off, len), 16, 10).cast("long").as("old"))
        .collect()
      rows.zip(texts).foreach { case (r, t) =>
        assert(r.getLong(0) == r.getLong(1),
          s"off=$off len=$len text='${t.take(40)}': " +
            s"kernel=${r.getLong(0)} old=${r.getLong(1)}")
      }
    }
  }

  test("hex_window_u == conv(substring(hex, off, len), 16, 10) over md5 hex columns") {
    val texts = samples(200)
    for ((off, len) <- Seq((1, 15), (16, 1), (17, 15))) {
      val rows = texts.toDF("t")
        .select(md5(col("t")).as("hx"))
        .select(
          HashFunctions.hexWindowU(col("hx"), off, len).as("kernel"),
          conv(substring(col("hx"), off, len), 16, 10).cast("long").as("old"))
        .collect()
      rows.foreach { r =>
        assert(r.getLong(0) == r.getLong(1),
          s"off=$off len=$len: kernel=${r.getLong(0)} old=${r.getLong(1)}")
      }
    }
  }

  test("hex_window_u: uppercase parses like conv, short input is NULL (both eval paths)") {
    // SQL-callable on any string: uppercase and mixed-case hex must
    // parse as conv does, and a string ending before the window's last
    // byte must yield NULL, never a read past its end
    val full = Seq("0123456789ABCDEF0123456789abcdef", "DEADBEEFdeadbeefCAFEBABE00FF00FF")
    val short = Seq("", "A", "abc", "0123456789ABCDE")
    // repartition(1) keeps the projection out of ConvertToLocalRelation,
    // which would evaluate it at optimize time
    def run(codegen: Boolean) = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      spark.conf.set("spark.sql.codegen.factoryMode",
        if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      try (full ++ short).toDF("h").repartition(1)
        .select(col("h"),
          HashFunctions.hexWindowU(col("h"), 2, 15).as("kernel"),
          conv(substring(col("h"), 2, 15), 16, 10).cast("long").as("conv"))
        .collect()
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    for (codegen <- Seq(false, true); r <- run(codegen)) {
      val h = r.getString(0)
      if (full.contains(h))
        assert(!r.isNullAt(1) && r.getLong(1) == r.getLong(2),
          s"codegen=$codegen '$h': kernel=${r.get(1)} conv=${r.get(2)}")
      else
        assert(r.isNullAt(1), s"codegen=$codegen short '$h' read past its end: ${r.get(1)}")
    }
  }

  test("NULL input propagates NULL, matching md5(NULL)") {
    val r = Seq[Option[String]](None, Some("x")).toDF("t")
      .select(HashFunctions.md5WindowU(col("t"), 1, 15).as("k"))
      .orderBy(col("k").asc_nulls_first)
      .collect()
    assert(r(0).isNullAt(0))
    assert(!r(1).isNullAt(0))
  }

  test("kernel runs inside whole-stage codegen (no CodegenFallback eviction)") {
    val df = spark.range(4).select(col("id").cast("string").as("t"))
      .select(HashFunctions.md5WindowU(col("t"), 1, 15).as("k"))
    // the "*(n)" prefix is explain's WholeStageCodegen marker; the
    // projection carrying the kernel must sit inside a codegen span
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }
}
