package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  test("Json.quote round-trips quotes, backslashes, control and non-ASCII characters") {
    val s = "a \"quoted\" \\ path\nnext\tcol\u0001 é ✓"
    val quoted = Json.quote(s)
    assert(new ObjectMapper().readValue(quoted, classOf[String]) == s)
    // the short escapes stay short, so oracle_sql.json keeps its bytes
    assert(quoted == "\"a \\\"quoted\\\" \\\\ path\\nnext\\tcol\\u0001 é ✓\"")
  }
}
