package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {

  // Five lines: punctuation, a blank line, a run of two spaces, a line of
  // spaces only, and a last line with no newline. Offsets worked by hand:
  //   "Hello world" (11 cleaned chars) at 0: Hello@0, world@6   -> 11
  //   blank line adds 1                                          -> 12
  //   "foo  bar foo": foo@12, the empty token does not advance, so
  //   bar@16 (its true position is 17), foo@20; 12 chars         -> 24
  //   "  ": no words, 2 cleaned chars                            -> 26
  //   "bar baz": bar@26, baz@30
  private val corpus = "Hello, world!\n\nfoo  bar foo\n  \nbar (baz)"

  test("word counts and postings reproduce the reference's offset quirks") {
    val r = Oracle.mapReduce(corpus)
    assert(r.counts == Map("Hello" -> 1L, "world" -> 1L, "foo" -> 2L, "bar" -> 2L, "baz" -> 1L))
    assert(r.postings == Map("Hello" -> Seq(0L), "world" -> Seq(6L), "foo" -> Seq(12L, 20L),
      "bar" -> Seq(16L, 26L), "baz" -> Seq(30L)))
  }

  test("lines split like a line reader: a final newline ends the last line") {
    assert(Oracle.lines("a\nb") == Seq("a", "b"))
    assert(Oracle.lines("a\n") == Seq("a"))
    assert(Oracle.lines("a\n\n") == Seq("a", ""))
    assert(Oracle.lines("") == Nil)
  }

  test("cleaning keeps only ASCII letters, digits and spaces") {
    assert(Oracle.clean("Café 24/7, (ok)!") == "Caf 247 ok")
  }

  test("exact top-k ranks by cosine and breaks ties by id") {
    val corpus = Seq(3L -> Array(1f, 0f), 1L -> Array(2f, 0f), 2L -> Array(0f, 1f), 4L -> Array(1f, 1f))
    assert(Oracle.exactTopK(Seq(Array(1f, 0f), Array(0f, 1f)), corpus, 3) ==
      Seq(Seq(1L, 3L, 4L), Seq(2L, 4L, 1L)))
  }

  test("the result sink's JSON object parses back into its entries") {
    assert(MapReduceText.parseObject("""{"a": 1, "b": 22}""") == Seq("a" -> "1", "b" -> "22"))
    assert(MapReduceText.parseObject("""{"a": [1,5], "b": [3]}""") == Seq("a" -> "[1,5]", "b" -> "[3]"))
    assert(MapReduceText.parseObject("{}") == Nil)
  }
}
