package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cli.{Cli, SearchCli}

/** The CLI mains' argument parsing, Spark-free: a short or malformed
  * command line yields the usage line (which `main` prints to stderr
  * before exiting 2) instead of a MatchError, an index error or a
  * NumberFormatException. */
class CliArgsSpec extends AnyFunSuite {

  test("two positional arguments: fewer is the usage line, extras are kept for the caller") {
    val usage = "usage: RankPages <corpus> <outDir>"
    assert(Cli.twoArgs(Array.empty, usage) == Left(usage))
    assert(Cli.twoArgs(Array("corpus.txt"), usage) == Left(usage))
    assert(Cli.twoArgs(Array("corpus.txt", "out"), usage) == Right(("corpus.txt", "out")))
    assert(Cli.twoArgs(Array("corpus.txt", "out", "spark"), usage) ==
      Right(("corpus.txt", "out")))
  }

  test("SearchCli: docCount must be an integer and at least one term must follow") {
    def parse(args: String*) = SearchCli.parse(args.toArray)
    Seq(Seq(), Seq("serve"), Seq("serve", "12"), Seq("serve", "12", "--ranked"),
      Seq("serve", "--ranked", "12", "spark"), Seq("serve", "x12", "spark"),
      Seq("serve", "0", "spark"), Seq("serve", "-5", "spark"))
      .foreach(a => assert(parse(a: _*) == Left(SearchCli.Usage), a))
    assert(parse("serve", "12", "spark", "join") ==
      Right(SearchCli.Args("serve", 12L, ranked = false, Seq("spark", "join"))))
    assert(parse("serve", "12", "--ranked", "spark") ==
      Right(SearchCli.Args("serve", 12L, ranked = true, Seq("spark"))))
    assert(parse("serve", "12", "spark", "--ranked", "join") ==
      Right(SearchCli.Args("serve", 12L, ranked = true, Seq("spark", "join"))))
  }
}
