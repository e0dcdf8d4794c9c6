package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{MissingNode, ObjectNode}

import graft.core.Json

/** The page decoder that [[Page]]'s byte scan replaced, kept as the oracle
  * the scan is checked against: Jackson's streaming parser over the decoded
  * body, each element of the records array cut out of the body's text with
  * the whitespace outside strings removed, and the rest of the body read as
  * a tree. Returns `(fields, records)`; a malformed page throws.
  */
object JacksonPageOracle {
  def apply(body: String, recordsPath: Seq[String]): (JsonNode, IndexedSeq[String]) = {
    val d = new Decoder(body)
    try {
      val fields = (d.p.nextToken(), recordsPath) match {
        case (null, _) => MissingNode.getInstance
        case (JsonToken.START_ARRAY, Seq()) => d.readArray(); MissingNode.getInstance
        case (JsonToken.START_OBJECT, path) if path.nonEmpty => d.readObject(path.toList)
        case _ => Json.mapper.readTree[JsonNode](d.p)
      }
      (fields, d.records.toIndexedSeq)
    } finally d.p.close()
  }

  // The characters the record text is cut at: JSON's four whitespace
  // characters, then the quote.
  private val Marks = Array(' ', '\n', '\r', '\t', '"')
  private val Quote = 4

  /** The decode state of one page. */
  private final class Decoder(body: String) {
    val p: JsonParser = Json.mapper.getFactory.createParser(body)
    val records = mutable.ArrayBuffer[String]()
    // Per mark, its first position in `body` at or after the last position
    // looked from (-1: none left, -2: not looked for yet). Positions are
    // looked from in increasing order, so `String.indexOf` reads the page
    // about once per mark.
    private val cursor = Array.fill(Marks.length)(-2)

    /** The fields of the object `p` has just opened, with the records array
      * at `path` (relative to it) collected into `records` instead.
      */
    def readObject(path: List[String]): ObjectNode = {
      val node = Json.obj()
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        val t = p.nextToken()
        if (name == path.head) records.clear() // the last duplicate key wins, as in a tree
        if (name == path.head && path.tail.isEmpty && t == JsonToken.START_ARRAY) readArray()
        else if (name == path.head && path.tail.nonEmpty && t == JsonToken.START_OBJECT)
          node.replace(name, readObject(path.tail))
        else node.replace(name, Json.mapper.readTree[JsonNode](p))
      }
      node
    }

    /** Each element of the array `p` has just opened, as its own text. */
    def readArray(): Unit =
      while (p.nextToken() != JsonToken.END_ARRAY) {
        val from = p.currentTokenLocation().getCharOffset.toInt
        p.skipChildren() // to the closing bracket of an object or array
        p.finishToken() // to the closing quote of a string
        records += text(from, p.currentLocation().getCharOffset.toInt)
      }

    /** `body[from, until)`, which the parser has just read as one value,
      * without the whitespace outside strings. The loop steps from one
      * whitespace character to the next, and over the strings before each,
      * with `String.indexOf`: it never visits the characters in between. A
      * value with no whitespace outside its strings is cut out with
      * `substring`. JSON allows no raw control character inside a string,
      * so the result has no newline.
      */
    private def text(from: Int, until: Int): String = {
      var sb: java.lang.StringBuilder = null
      var copied = from // body[from, copied) is in sb
      var scanned = from // outside any string
      var ws = whitespace(from)
      while (ws < until) {
        scanned = pastStrings(scanned, ws)
        if (scanned > ws) ws = whitespace(scanned) // ws is inside a string
        else {
          if (sb == null) sb = new java.lang.StringBuilder(until - from)
          sb.append(body, copied, ws)
          copied = ws + 1
          scanned = copied
          ws = whitespace(copied)
        }
      }
      if (sb == null) body.substring(from, until) else sb.append(body, copied, until).toString
    }

    /** From `at`, outside any string, past every string that opens before
      * `ws`: the end of the last one, or `at` if none opens before it.
      */
    private def pastStrings(at: Int, ws: Int): Int = {
      var i = at
      var open = find(Quote, at)
      while (open < ws) {
        var close = find(Quote, open + 1)
        while (escaped(close)) close = find(Quote, close + 1)
        i = close + 1
        open = if (i > ws) Int.MaxValue else find(Quote, i)
      }
      i
    }

    /** Whether the quote at `q` is escaped: an odd run of backslashes. */
    private def escaped(q: Int): Boolean = {
      var n = 0
      while (body.charAt(q - 1 - n) == '\\') n += 1
      n % 2 == 1
    }

    private def whitespace(from: Int): Int =
      math.min(math.min(find(0, from), find(1, from)), math.min(find(2, from), find(3, from)))

    /** The first position of `Marks(k)` at or after `from`, or
      * `Int.MaxValue`. `from` never decreases from one call to the next.
      */
    private def find(k: Int, from: Int): Int = {
      if (cursor(k) != -1 && cursor(k) < from) cursor(k) = body.indexOf(Marks(k), from)
      if (cursor(k) == -1) Int.MaxValue else cursor(k)
    }
  }
}
