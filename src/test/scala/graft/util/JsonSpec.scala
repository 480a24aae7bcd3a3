package graft.util

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The one escaper behind every JSON artifact: each special character
  * gets its escape, and the result parses back to the input. */
class JsonSpec extends AnyFunSuite {

  test("quote, backslash, newline, tab and other control chars escape") {
    assert(Json.str("a\"b") == "\"a\\\"b\"")
    assert(Json.str("C:\\dir") == "\"C:\\\\dir\"")
    assert(Json.str("l1\nl2") == "\"l1\\nl2\"")
    assert(Json.str("a\tb\rc") == "\"a\\tb\\rc\"")
    assert(Json.str("x\u0001y\u001f") == "\"x\\u0001y\\u001f\"")
    assert(Json.str("/root/testdata/sf0.1") == "\"/root/testdata/sf0.1\"")
  }

  test("every escaped string parses back to itself") {
    val s = "q\"b\\s\nn\tt\r\u0000\u0007\u001f é /"
    assert(new ObjectMapper().readValue(Json.str(s), classOf[String]) == s)
  }
}
