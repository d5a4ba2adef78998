package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class QueryArgsSpec extends AnyFunSuite {

  test("names and flag values split, in any order") {
    assert(QueryArgs.parse(Array("-n", "5", "q74_pagerank", "-sf", "/d", "q81_label_prop"),
      "-sf", "-n") == (Seq("q74_pagerank", "q81_label_prop"), Map("-sf" -> "/d", "-n" -> "5")))
  }

  test("bad command lines fail before any session boots") {
    val typo = intercept[IllegalArgumentException](QueryArgs.parse(Array("q74_pagerankk"), "-sf"))
    assert(typo.getMessage.contains("q74_pagerankk (did you mean: q74_pagerank)"))
    intercept[IllegalArgumentException](QueryArgs.parse(Array("q74_pagerank", "-sf"), "-sf"))
    intercept[IllegalArgumentException](QueryArgs.parse(Array("-sf", "/d"), "-sf"))
  }
}
