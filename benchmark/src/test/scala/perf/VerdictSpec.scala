package perf

import org.scalatest.funsuite.AnyFunSuite

/** The library verdict fails on every kind of wrong output. */
class VerdictSpec extends AnyFunSuite {

  private val expected = Map("a" -> Fingerprint.Print(1, "x"), "b" -> Fingerprint.Print(2, "y"))
  private val span = Span(0, "q", 0, "p", 0L, 1L)

  private def run(q: String, error: Option[String] = None) = QueryRun(q, "lib_warm", 1e-9, error, span)

  test("matching outputs and clean runs pass") {
    val wrong = LibraryMix.wrong(Seq("a" -> Right(expected("a")), "b" -> Right(expected("b"))), expected)
    assert(wrong.isEmpty)
    assert(LibraryMix.verdict(Seq(run("a"), run("b")), wrong) == ((0, true)))
  }

  test("a mismatched fingerprint fails the verdict") {
    val wrong = LibraryMix.wrong(Seq("a" -> Right(expected("a")), "b" -> Right(Fingerprint.Print(2, "z"))), expected)
    assert(wrong == Set("b"))
    assert(LibraryMix.verdict(Seq(run("a"), run("b")), wrong) == ((1, false)))
  }

  test("a check that throws fails the verdict") {
    val wrong = LibraryMix.wrong(Seq("a" -> Left("boom"), "b" -> Right(expected("b"))), expected)
    assert(wrong == Set("a"))
    assert(LibraryMix.verdict(Seq(run("a"), run("b")), wrong) == ((1, false)))
  }

  test("a timed run that throws fails the verdict") {
    val wrong = LibraryMix.wrong(Seq("a" -> Right(expected("a")), "b" -> Right(expected("b"))), expected)
    assert(LibraryMix.verdict(Seq(run("a"), run("b", Some("boom"))), wrong) == ((1, false)))
  }
}
