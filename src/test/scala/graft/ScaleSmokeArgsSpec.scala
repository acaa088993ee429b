package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ScaleSmoke.{Gate, Run}

/** ScaleSmoke's command line is strict: the six surviving forms parse,
  * and any other word (a removed mode name, a typo) is rejected instead
  * of silently running the default subset. */
class ScaleSmokeArgsSpec extends AnyFunSuite {

  private def parse(words: String*) = ScaleSmoke.parseArgs(words)

  test("the surviving forms parse") {
    assert(parse() === Right(Run(16, skew = false, organic = false, None)))
    assert(parse("100", "skew") === Right(Run(100, skew = true, organic = false, None)))
    assert(parse("4", "organic", "only=q1_pricing_summary,e_knn_brute") ===
      Right(Run(4, skew = false, organic = true,
        Some(Seq("q1_pricing_summary", "e_knn_brute")))))
    assert(parse("gate", "r10") === Right(Gate("r10")))
    assert(parse("gate") === Right(Gate("rX")))
  }

  test("removed mode names and typos are rejected") {
    val removed = Seq("manifest50k", "layoutab", "manifestmany", "manifestupd",
      "compactab", "zdepthab", "paneab", "topkab", "saltab", "hotq",
      "consteval", "calib64", "fresh", "tpch", "latest", "orgainc")
    removed.foreach { w =>
      assert(parse("16", w).left.exists(_.contains(s"'$w'")), w)
    }
  }

  test("rN belongs to gate, and gate takes nothing else") {
    assert(parse("r7").isLeft)
    assert(parse("16", "r8").isLeft)
    assert(parse("gate", "skew").isLeft)
    assert(parse("gate", "r10", "100").isLeft)
  }

  test("malformed mult and only= are rejected") {
    assert(parse("0").isLeft)
    assert(parse("99999999999").isLeft)
    assert(parse("only=").isLeft)
  }

  test("the usage line names all six forms") {
    Seq("gate", "[rN]", "[mult]", "[skew]", "[organic]", "[only=")
      .foreach(f => assert(ScaleSmoke.Usage.contains(f), f))
  }
}
