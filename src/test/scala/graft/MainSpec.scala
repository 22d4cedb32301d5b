package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Main`'s argument parser: every malformed command line is
  * refused with a reason, before any session starts.
  */
class MainSpec extends AnyFunSuite {

  private def parse(args: String*) = Main.parseArgs(args.toList)

  test("well-formed flags parse; --ledger and --max-bytes are optional") {
    assert(parse("--input", "in", "--output", "out") ==
      Right(Map("input" -> "in", "output" -> "out")))
    assert(parse("--max-bytes", "1024", "--output", "o", "--ledger", "l", "--input", "i") ==
      Right(Map("input" -> "i", "output" -> "o", "ledger" -> "l", "max-bytes" -> "1024")))
  }

  test("an unknown or misspelled flag is refused") {
    assert(parse("--input", "i", "--output", "o", "--max-byte", "10") ==
      Left("unknown flag --max-byte"))
    // flags the job no longer reads are unknown too
    assert(parse("--input", "i", "--output", "o", "--partitions", "8").isLeft)
    assert(parse("--input", "i", "--output", "o", "--host-salt", "8").isLeft)
  }

  test("a flag with no value is refused, trailing or followed by another flag") {
    assert(parse("--input", "i", "--output", "o", "--max-bytes") ==
      Left("--max-bytes needs a value"))
    assert(parse("--input", "--output", "o") == Left("--input needs a value"))
  }

  test("a stray positional argument is refused") {
    assert(parse("in", "--input", "i", "--output", "o") == Left("unexpected argument 'in'"))
    assert(parse("--input", "i", "extra", "--output", "o") == Left("unexpected argument 'extra'"))
  }

  test("missing --input/--output and a non-numeric --max-bytes are refused") {
    assert(parse("--input", "i").isLeft)
    assert(parse().isLeft)
    assert(parse("--input", "i", "--output", "o", "--max-bytes", "64MB") ==
      Left("--max-bytes needs a positive integer"))
    assert(parse("--input", "i", "--output", "o", "--max-bytes", "0").isLeft)
  }
}
