package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Json.str]] must round-trip through a real JSON parser for every
  * ASCII char (all controls included) and for non-ASCII text. */
class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def back(json: String): String = mapper.readValue(json, classOf[String])

  test("every char 0x00-0x7f and a non-ASCII char read back unchanged") {
    val chars = (0 to 0x7f).map(_.toChar) :+ 'é'
    chars.foreach { c =>
      assert(back(Json.str(c.toString)) === c.toString, f"char 0x${c.toInt}%02x")
    }
    val all = chars.mkString
    assert(back(Json.str(all)) === all)
  }
}
