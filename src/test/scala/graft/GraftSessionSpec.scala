package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  private val catalog: Map[String, GraftSession.Entry] =
    Seq("qt05_b", "q01_a", "q10_c").map(n => n -> ((_, _) => null): (String, GraftSession.Entry)).toMap

  test("entries: every entry in name order when unfiltered") {
    assert(GraftSession.entries(None, catalog).map(_._1) === Seq("q01_a", "q10_c", "qt05_b"))
    val real = GraftSession.entries(None).map(_._1)
    assert(real === SparkEntry.queries.keys.toSeq.sorted)
  }

  test("entries: the filter keeps the named entries, still in name order") {
    assert(GraftSession.entries(Some(" qt05_b, q01_a ,"), catalog).map(_._1) === Seq("q01_a", "qt05_b"))
  }

  test("entries: an unknown name fails with that name in the message") {
    val e = intercept[IllegalArgumentException](GraftSession.entries(Some("q01_a,q01_agx"), catalog))
    assert(e.getMessage.endsWith("unknown catalog entries: q01_agx"))
    intercept[IllegalArgumentException](GraftSession.entries(Some(" , "), catalog))
  }
}
