package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("resolve accepts a full query name") {
    assert(Session.resolve("q30_hourly_windows") === "q30_hourly_windows")
  }

  test("resolve expands a short qNNN prefix") {
    assert(Session.resolve("q161") === "q161_image_decode")
  }

  test("resolve fails loudly on an unknown name, naming it") {
    val e = intercept[IllegalArgumentException](Session.resolve("q9999"))
    assert(e.getMessage.contains("q9999"))
  }

  test("jsonString escapes quotes, backslashes and control chars") {
    assert(Session.jsonString("a\"b\\c\nd\te\u0001") ===
      "\"a\\\"b\\\\c\\nd\\te\\u0001\"")
  }
}
