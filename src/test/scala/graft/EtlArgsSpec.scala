package graft

import graft.etl.Main
import org.scalatest.funsuite.AnyFunSuite

/** Command-line parsing of the git ETL CLI — a pure function, no Spark
  * session needed.
  */
class EtlArgsSpec extends AnyFunSuite {
  private def parse(args: String*) = Main.parseArgs(args)

  test("the root alone takes every default") {
    val a = parse("repos").getOrElse(fail("rejected a bare root"))
    assert(a == Main.Args("repos"))
    assert(a.out == "git-tables" && a.depth == 1 && a.threads.isEmpty)
  }

  test("every flag parses; --database is --out") {
    assert(parse("r", "--database", "db", "--config", "c.toml", "--max-depth", "3",
      "--num-threads", "2", "--clear") ==
      Right(Main.Args("r", out = "db", config = Some("c.toml"), maxDepth = Some(3),
        threads = Some(2), clear = true)))
    assert(parse("r", "--out", "o", "--incremental") ==
      Right(Main.Args("r", out = "o", incremental = true)))
  }

  test("--recursive is unbounded unless --max-depth caps it") {
    assert(parse("r", "--recursive").map(_.depth) == Right(Int.MaxValue))
    assert(parse("r", "--recursive", "--max-depth", "2").map(_.depth) == Right(2))
  }

  test("--max-depth and --num-threads take a positive integer") {
    for (flag <- Seq("--max-depth", "--num-threads"); v <- Seq("0", "-1", "x", "1.5")) {
      val err = parse("r", flag, v).swap.getOrElse(fail(s"accepted $flag $v"))
      assert(err.contains(flag), err)
    }
    assert(parse("r", "--num-threads").isLeft)
  }

  test("unknown flags, --shards among them, and a missing root fail") {
    assert(parse("r", "--shards", "2") == Left("unknown argument '--shards'"))
    assert(parse("r", "--verbose").isLeft)
    assert(parse().isLeft)
    assert(parse("--out", "o").isLeft)
  }

  test("--incremental takes no --clear") {
    assert(parse("r", "--incremental", "--clear").isLeft)
    assert(parse("r", "--clear", "--incremental").isLeft)
  }
}
