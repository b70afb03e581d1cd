package graft.delivery

import org.scalatest.funsuite.AnyFunSuite

/** The header-map codec the SYNC sink and the ASYNC queue share: what
  * `toJson` writes, `parse` reads back unchanged. */
class HeadersCodecSpec extends AnyFunSuite {
  test("parse(toJson(m)) == m with escaped quotes and backslashes") {
    val m = Map(
      "X-API-Key" -> "plain",
      "X-Quote" -> "say \"hi\"",
      "X-Back\\slash" -> "C:\\path\\",
      "X-Both" -> "\\\"",
      "X-\"Key\"" -> "\"\\\\\"",
      "X-Empty" -> "")
    assert(HeadersCodec.parse(HeadersCodec.toJson(m)) == m)
  }

  test("parse reads a JSON object with whitespace; the empty object is empty") {
    assert(HeadersCodec.parse("""{ "A" : "1",  "B":"x\"y" }""") == Map("A" -> "1", "B" -> "x\"y"))
    assert(HeadersCodec.parse("{}").isEmpty)
    assert(HeadersCodec.toJson(Map.empty) == "{}")
  }
}
