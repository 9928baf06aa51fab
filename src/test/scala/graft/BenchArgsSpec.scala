package graft

import org.scalatest.funsuite.AnyFunSuite

/** Command-line parsing of the timing loop and the session factory's
  * conf passthrough — pure functions, no Spark session needed.
  */
class BenchArgsSpec extends AnyFunSuite {
  private val known = Set("q_a", "q_b", "q_c")
  private def parse(args: String*) = Bench.parseArgs(args, known)

  test("no arguments is the full sorted run: one rep, no explain") {
    assert(parse() == Right(Bench.Args()))
    assert(Bench.Args().keys.isEmpty)
  }

  test("an unknown key fails and lists every known key, sorted") {
    val err = parse("q_b,q_typo").swap.getOrElse(fail("accepted an unknown key"))
    assert(err.contains("q_typo"))
    assert(err.endsWith("known keys: q_a, q_b, q_c"))
  }

  test("listed keys keep the order given, without duplicates") {
    assert(parse("q_c,q_a,q_c").map(_.keys) == Right(Some(Seq("q_c", "q_a"))))
    assert(parse(",").isLeft)
  }

  test("--reps takes a positive integer") {
    assert(parse("q_a", "--reps", "3") == Right(Bench.Args(Some(Seq("q_a")), reps = 3)))
    assert(parse("--reps", "2").map(_.reps) == Right(2))
    Seq(Seq("--reps"), Seq("--reps", "0"), Seq("--reps", "x")).foreach { a =>
      assert(parse(a: _*).isLeft, a)
    }
  }

  test("--explain is a flag in any position after the key list") {
    assert(parse("q_b", "--explain", "--reps", "2") ==
      Right(Bench.Args(Some(Seq("q_b")), reps = 2, explain = true)))
    assert(parse("--explain").map(_.explain) == Right(true))
  }

  test("the key list must come first and flags must be known") {
    assert(parse("--reps", "2", "q_a").isLeft)
    assert(parse("q_a", "--verbose").isLeft)
  }

  test("SPARK_GRAFT_CONF parsing: k=v;k=v, empty entries skipped, '=' kept in values") {
    assert(Sessions.parseConf("a.b=1;;c=x=y;") == Seq("a.b" -> "1", "c" -> "x=y"))
    assert(Sessions.parseConf("") == Nil)
    intercept[IllegalArgumentException](Sessions.parseConf("novalue"))
    intercept[IllegalArgumentException](Sessions.parseConf("=v"))
  }
}
