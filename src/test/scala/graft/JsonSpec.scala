package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("quote round-trips quotes, backslashes, every control char and non-ASCII") {
    val controls = (0 until 0x20).map(_.toChar).mkString
    val cases = Seq(
      "",
      "plain",
      "say \"hi\"",
      "C:\\dir\\file",
      "\\\"",
      controls,
      s"a${controls}b",
      "SELECT 1\n\tFROM t\r\n",
      "é ü 日本 \ud83d\ude00")
    cases.foreach { s =>
      val quoted = Json.quote(s)
      // Jackson rejects an unescaped control character by default, so a
      // successful read also shows none was left raw
      assert(mapper.readValue(quoted, classOf[String]) == s, quoted)
      assert(!quoted.exists(_ < ' '), quoted)
    }
  }
}
