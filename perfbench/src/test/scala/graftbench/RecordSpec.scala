package graftbench

import org.scalatest.funsuite.AnyFunSuite

class RecordSpec extends AnyFunSuite {
  test("records render as JSON and refuse non-finite numbers and duplicate keys") {
    assert(Json.render(Json.obj("a" -> Json.num(1.5), "b" -> Json.Arr(Seq(Json.Str("x\"\n")))))
      == """{"a":1.5,"b":["x\"\n"]}""")
    val nan = intercept[IllegalArgumentException](Json.render(Json.obj("m" -> Json.num(Double.NaN))))
    assert(nan.getMessage.contains("$.m"))
    intercept[IllegalArgumentException](Json.render(Json.obj("m" -> Json.num(1.0 / 0))))
    intercept[IllegalArgumentException](
      Json.render(Json.obj("k" -> Json.Null, "k" -> Json.Bool(true))))
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(1, 0, "write", 0, 100, "r"),
      Span(2, 1, "put", 10, 40, "r"),
      Span(3, 1, "put", 30, 50, "r"), // overlaps the first child
      Span(4, 1, "put", 90, 120, "r")) // runs past its parent
    val self = Trace.selfSeconds(spans)
    assert(self("write") == (100 - 40 - 10) / 1e9)
    assert(self("put") == (30 + 20 + 30) / 1e9)
    assert(Trace.union(Seq((0L, 5L), (5L, 7L), (10L, 11L))) == 8L)
  }
}
