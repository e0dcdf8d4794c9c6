package graft.sources

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import scala.annotation.switch
import scala.collection.mutable

import com.fasterxml.jackson.core.JsonParseException
import com.fasterxml.jackson.core.exc.StreamConstraintsException
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{MissingNode, ObjectNode}

import graft.core.Json

/** One decoded page. Record `i` is the UTF-8 text
  * `data[offset(i), offset(i) + length(i))`: the upstream's source text for
  * that element of the records array, with the whitespace outside strings
  * removed. Number spellings, escapes and key order stay as the upstream
  * sent them, as fastjson's `MarshalTo` keeps them in the reference's
  * `EmitBatch` (`proto.go:283-293`). `data` is the response's own bytes
  * unless some record had whitespace to remove; no tree and no `String` is
  * built for records. `fields` is the rest of the body as a tree, the
  * records array left out: with the record count and the response headers,
  * it is all a [[Pagination]] reads.
  */
final case class Page(response: HttpResponse, fields: JsonNode, data: Array[Byte], slices: Array[Int]) {
  /** Records on the page. */
  def size: Int = slices.length >> 1
  def offset(i: Int): Int = slices(2 * i)
  def length(i: Int): Int = slices(2 * i + 1)
  /** Record `i` as a `String`. */
  def record(i: Int): String = new String(data, offset(i), length(i), UTF_8)
}

object Page {
  /** Decode `resp`'s body in one validating scan of its UTF-8 bytes.
    * `recordsPath` names the records array (`resp.GetArray(keys...)` in the
    * reference); an empty path means the body itself is the array. A
    * missing or non-array records field yields no records; of duplicate
    * keys on the path, the last wins, as in a tree. The whole page is
    * decoded before any record is handed out, so a malformed page fails as
    * a whole, with Jackson's own error for it.
    *
    * The scan accepts exactly what Jackson's parser accepts over the
    * decoded body: JSON without extensions, nesting at most
    * [[MaxDepth]] deep from the page root, numbers of at most
    * [[MaxNumberLength]] digits, names of at most [[MaxNameLength]] and
    * string records of at most [[MaxStringLength]] characters (Jackson
    * checks that one only where its text buffer fills a segment, so it
    * lets a string up to 64 Ki characters longer pass). Text after the
    * root value is not read. A body declared in another charset, or
    * one whose bytes are not UTF-8, is scanned in its `String` decoding's
    * UTF-8 form, so malformed bytes read as U+FFFD, as in that decoding.
    */
  def apply(resp: HttpResponse, recordsPath: Seq[String]): Page = {
    val path = recordsPath.toArray
    var scan = new Scan(resp.utf8Content.getOrElse(resp.body.getBytes(UTF_8)), path)
    scan.run()
    if (scan.malformed) { // not UTF-8: scan the decoding instead
      scan = new Scan(resp.body.getBytes(UTF_8), path)
      scan.run()
    }
    if (scan.failure != null) {
      Json.mapper.readTree(resp.body) // Jackson's own error for the page
      throw (if (scan.overLimit) new StreamConstraintsException(scan.failure)
        else new JsonParseException(null, scan.failure))
    }
    scan.page(resp)
  }

  val MaxDepth = 1000
  val MaxNumberLength = 1000
  val MaxNameLength = 50000
  val MaxStringLength = 20000000

  // Byte classes inside a string: plain, quote, backslash, control, non-ASCII.
  private final val Plain = 0
  private final val Quote = 1
  private final val Backslash = 2
  private final val Control = 3
  private final val High = 4
  private val InString: Array[Byte] = Array.tabulate(256) { c =>
    (if (c < 0x20) Control else if (c == '"') Quote else if (c == '\\') Backslash
      else if (c >= 0x80) High else Plain).toByte
  }
  private val Escapable: Array[Boolean] = Array.tabulate(256)(c => "\"\\/bfnrt".indexOf(c) >= 0)
  private val Hex: Array[Boolean] = Array.tabulate(256)(c => Character.digit(c, 16) >= 0 && c < 0x80)

  // Value start classes.
  private final val Bad = 0
  private final val Open = 1
  private final val Str = 2
  private final val Num = 3
  private final val Word = 4
  private val Start: Array[Byte] = Array.tabulate(256) { c =>
    (if (c == '{' || c == '[') Open else if (c == '"') Str else if (c == '-' || c >= '0' && c <= '9') Num
      else if (c == 't' || c == 'f' || c == 'n') Word else Bad).toByte
  }

  // Eight bytes at a time: each mask has the top bit of every byte that is
  // such a byte, exactly so for the lowest one (SWAR).
  private final val Ones = 0x0101010101010101L
  private final val Tops = 0x8080808080808080L
  /** Bytes that end a run of plain string bytes: `"`, `\`, < 0x20, ≥ 0x80. */
  private def special(w: Long): Long = {
    val q = w ^ (Ones * '"')
    val b = w ^ (Ones * '\\')
    ((q - Ones) & ~q | (b - Ones) & ~b | (w - Ones * 0x20) & ~w | w) & Tops
  }

  private def ws(c: Byte): Boolean = c == ' ' || c == '\n' || c == '\r' || c == '\t'
  private def digit(c: Byte): Boolean = c >= '0' && c <= '9'

  // Scan states.
  private final val Value = 0     // a value is next
  private final val After = 1     // a value has just ended
  private final val FirstKey = 2  // `{` has just opened: a key or `}`
  private final val Key = 3       // after `,` in an object: a key
  private final val FirstElem = 4 // `[` has just opened: a value or `]`

  private val True = "true".getBytes(ISO_8859_1)
  private val False = "false".getBytes(ISO_8859_1)
  private val Null = "null".getBytes(ISO_8859_1)

  /** A member of an object on the records path: a value to read as a tree
    * (`start` ≥ 0) or the next object on the path (`start` < 0).
    */
  private final class Member(val level: Int, val name: String, val start: Int) {
    var end = 0
  }

  /** The scan of one page's bytes: a flat loop over a state and a stack of
    * container kinds, with byte class tables, and string bodies read eight
    * bytes at a time.
    */
  private final class Scan(buf: Array[Byte], path: Array[String]) {
    private val end = buf.length
    private val words = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var failure: String = null
    var overLimit = false
    var malformed = false // bytes inside a string that are not UTF-8

    private var objects = new Array[Boolean](32) // per depth: object, else array
    private var rootStart = -1
    private var rootEnd = -1
    private var rootKind: Byte = 0

    // Records: (offset, length) pairs; a negative length marks a record with
    // whitespace to remove.
    private var slices = new Array[Int](256)
    private var count = 0
    private var dirty = 0
    private var recDepth = Int.MaxValue // depth of the records array, while open
    private var recStart = 0
    private var recWs = false

    // The objects at depths 1..pathTop lie on the records path.
    private var pathTop = 0
    private val members = mutable.ArrayBuffer[Member]()
    private var open: Member = null // the member value being read, at depth `openDepth`
    private var openDepth = -1

    private var escaped = false // the last string had an escape or a non-ASCII byte

    private def fail(msg: String, at: Int): Int = {
      if (failure == null) failure = s"$msg at byte $at"
      -1
    }

    private def failLimit(msg: String, at: Int): Int = { overLimit = true; fail(msg, at) }

    /** Whitespace from `i`; whitespace inside a record marks it. */
    private def skip(i0: Int, depth: Int): Int = {
      var i = i0
      if (i < end && buf(i) > ' ') return i
      while (i < end && ws(buf(i))) i += 1
      if (i > i0 && depth > recDepth) recWs = true
      i
    }

    def run(): Unit = {
      var i = skip(0, 0)
      if (i == end) return // no root value
      rootStart = i
      rootKind = buf(i)
      if (rootKind == '[' && path.isEmpty) recDepth = 1
      if (rootKind == '{' && path.nonEmpty) pathTop = 1
      var depth = 0
      var name: String = null // the key just read, in an object on the path
      var state = Value
      while (i >= 0) {
        (state: @switch) match {
          case Value =>
            i = skip(i, depth)
            if (i == end) { fail("unexpected end of input", i); return }
            if (depth == recDepth) { recStart = i; recWs = false }
            else if (name != null) { member(name, depth, i); name = null }
            val c = buf(i)
            (Start(c & 0xff).toInt: @switch) match {
              case Open =>
                depth += 1
                if (depth > MaxDepth) { failLimit(s"nesting deeper than $MaxDepth", i); return }
                if (depth == objects.length) objects = java.util.Arrays.copyOf(objects, depth * 2)
                objects(depth) = c == '{'
                i += 1
                state = if (c == '{') FirstKey else FirstElem
              case Str =>
                val from = i
                i = string(i)
                if (i - from - 2 > MaxStringLength && depth == recDepth && chars(from + 1, i - 1) > MaxStringLength)
                  i = failLimit(s"string longer than $MaxStringLength characters", from)
                state = After
              case Num => i = number(i, depth == 0); state = After
              case Word => i = literal(i, if (c == 't') True else if (c == 'f') False else Null, depth == 0); state = After
              case _ => i = fail("expected a value", i)
            }
          case After =>
            if (depth == recDepth) record(i)
            if (depth == openDepth) { open.end = i; open = null; openDepth = -1 }
            if (depth == 0) { rootEnd = i; return }
            i = skip(i, depth)
            if (i == end) { fail("unexpected end of input", i); return }
            val c = buf(i)
            if (c == ',') { i += 1; state = if (objects(depth)) Key else Value }
            else if (c == (if (objects(depth)) '}' else ']')) { depth = close(depth); i += 1 }
            else i = fail(if (objects(depth)) "expected ',' or '}'" else "expected ',' or ']'", i)
          case FirstElem =>
            i = skip(i, depth)
            if (i < end && buf(i) == ']') { depth = close(depth); i += 1; state = After }
            else state = Value
          case FirstKey | Key =>
            i = skip(i, depth)
            if (state == FirstKey && i < end && buf(i) == '}') { depth = close(depth); i += 1; state = After }
            else if (i == end || buf(i) != '"') i = fail("expected a field name", i)
            else {
              val from = i
              i = string(i)
              if (i >= 0 && i - from - 2 > MaxNameLength && chars(from + 1, i - 1) > MaxNameLength)
                i = failLimit(s"name longer than $MaxNameLength characters", from)
              if (i >= 0 && depth == pathTop) name = decode(from, i)
              if (i >= 0) i = skip(i, depth)
              if (i >= 0) {
                if (i < end && buf(i) == ':') { i += 1; state = Value }
                else i = fail("expected ':'", i)
              }
            }
        }
      }
    }

    /** Ends the container at `depth`; returns the depth of the one around it. */
    private def close(depth: Int): Int = {
      if (depth == recDepth) recDepth = Int.MaxValue
      if (depth == pathTop) pathTop -= 1
      depth - 1
    }

    /** The value of member `name` of the object on the path at `depth`
      * starts at `i`.
      */
    private def member(name: String, depth: Int, i: Int): Unit = {
      val level = depth - 1
      val c = buf(i)
      if (name == path(level)) {
        count = 0 // the last duplicate key wins, as in a tree
        dirty = 0
        if (level == path.length - 1 && c == '[') { recDepth = depth + 1; return }
        if (level < path.length - 1 && c == '{') {
          pathTop = depth + 1
          members += new Member(level, name, -1)
          return
        }
      }
      open = new Member(level, name, i)
      openDepth = depth
      members += open
    }

    private def record(until: Int): Unit = {
      if (2 * count + 2 > slices.length) slices = java.util.Arrays.copyOf(slices, slices.length * 2)
      slices(2 * count) = recStart
      slices(2 * count + 1) = if (recWs) { dirty += 1; recStart - until } else until - recStart
      count += 1
    }

    /** The string opening at `from`; returns the position past it. */
    private def string(from: Int): Int = {
      var i = from + 1
      escaped = false
      while (true) {
        var m = 0L
        while (i + 8 <= end && { m = special(words.getLong(i)); m == 0 }) i += 8
        if (m != 0) i += java.lang.Long.numberOfTrailingZeros(m) >>> 3
        else while (i < end && InString(buf(i) & 0xff) == Plain) i += 1
        if (i == end) return fail("unterminated string", from)
        (InString(buf(i) & 0xff).toInt: @switch) match {
          case Quote => return i + 1
          case Backslash =>
            escaped = true
            if (i + 1 == end) return fail("unterminated string", from)
            val e = buf(i + 1) & 0xff
            if (Escapable(e)) i += 2
            else if (e == 'u') {
              if (i + 6 > end || !(Hex(buf(i + 2) & 0xff) && Hex(buf(i + 3) & 0xff) &&
                  Hex(buf(i + 4) & 0xff) && Hex(buf(i + 5) & 0xff)))
                return fail("expected four hex digits after \\u", i)
              i += 6
            } else return fail("unrecognized escape", i)
          case Control => return fail("control character in string", i)
          case _ =>
            escaped = true
            i = utf8(i)
        }
      }
      -1
    }

    /** Past the UTF-8 sequence at `i`, or one byte on if it is malformed. */
    private def utf8(i: Int): Int = {
      val n = sequence(i)
      if (n > 0) i + n else { malformed = true; i + 1 }
    }

    /** Length of the well-formed UTF-8 sequence at `i` (Unicode Table 3-7),
      * 0 if there is none.
      */
    private def sequence(i: Int): Int = {
      val b0 = buf(i) & 0xff
      def cont(k: Int, lo: Int, hi: Int): Boolean =
        i + k < end && (buf(i + k) & 0xff) >= lo && (buf(i + k) & 0xff) <= hi
      if (b0 < 0x80) 1
      else if (b0 < 0xc2) 0
      else if (b0 < 0xe0) if (cont(1, 0x80, 0xbf)) 2 else 0
      else if (b0 < 0xf0) {
        val ok1 = if (b0 == 0xe0) cont(1, 0xa0, 0xbf) else if (b0 == 0xed) cont(1, 0x80, 0x9f) else cont(1, 0x80, 0xbf)
        if (ok1 && cont(2, 0x80, 0xbf)) 3 else 0
      } else if (b0 < 0xf5) {
        val ok1 = if (b0 == 0xf0) cont(1, 0x90, 0xbf) else if (b0 == 0xf4) cont(1, 0x80, 0x8f) else cont(1, 0x80, 0xbf)
        if (ok1 && cont(2, 0x80, 0xbf) && cont(3, 0x80, 0xbf)) 4 else 0
      } else 0
    }

    /** Characters (UTF-16 units) in the validated string body `[from, until)`. */
    private def chars(from: Int, until: Int): Long = {
      var n = 0L
      var i = from
      while (i < until) {
        val b = buf(i) & 0xff
        i += (if (b == '\\') { if (buf(i + 1) == 'u') 6 else 2 }
          else if (b < 0x80) 1 else if (b < 0xe0) 2 else if (b < 0xf0) 3 else { n += 1; 4 })
        n += 1
      }
      n
    }

    /** The key `[from, until)` (quotes included) as a `String`. */
    private def decode(from: Int, until: Int): String =
      if (!escaped) new String(buf, from + 1, until - from - 2, ISO_8859_1)
      else Json.mapper.readTree(new String(buf, from, until - from, UTF_8)).textValue

    /** The literal `word` at `from`. At the root, a letter or digit right
      * after it makes it another token, as in Jackson.
      */
    private def literal(from: Int, word: Array[Byte], root: Boolean): Int = {
      var k = 0
      while (k < word.length) {
        if (from + k == end || buf(from + k) != word(k)) return fail("unrecognized token", from)
        k += 1
      }
      val i = from + word.length
      if (root && i < end) {
        val c = buf(i) & 0xff
        if (c >= '0' && c != ']' && c != '}' && Character.isJavaIdentifierPart(charAt(i)))
          return fail("unrecognized token", from)
      }
      i
    }

    /** The UTF-16 unit that starts at `i` in the body's decoding. */
    private def charAt(i: Int): Char = {
      val b0 = buf(i) & 0xff
      (sequence(i): @switch) match {
        case 1 => b0.toChar
        case 2 => (((b0 & 0x1f) << 6) | (buf(i + 1) & 0x3f)).toChar
        case 3 => (((b0 & 0x0f) << 12) | ((buf(i + 1) & 0x3f) << 6) | (buf(i + 2) & 0x3f)).toChar
        case 4 => Character.highSurrogate(((b0 & 0x07) << 18) | ((buf(i + 1) & 0x3f) << 12) |
          ((buf(i + 2) & 0x3f) << 6) | (buf(i + 3) & 0x3f))
        case _ => '�'
      }
    }

    /** The number at `from`. Jackson's length limit counts the digits of
      * the integer, fraction and exponent parts. At the root, only
      * whitespace or the end may follow it.
      */
    private def number(from: Int, root: Boolean): Int = {
      var i = from
      if (buf(i) == '-') i += 1
      val intStart = i
      if (i == end || !digit(buf(i))) return fail("expected a digit", i)
      if (buf(i) == '0') {
        i += 1
        if (i < end && digit(buf(i))) return fail("leading zeroes not allowed", from)
      } else while (i < end && digit(buf(i))) i += 1
      val intLen = i - intStart
      var fracLen = -1
      var expLen = -1
      if (i < end && buf(i) == '.') {
        i += 1
        val s = i
        while (i < end && digit(buf(i))) i += 1
        fracLen = i - s
        if (fracLen == 0) return fail("decimal point not followed by a digit", i)
      }
      if (i < end && (buf(i) == 'e' || buf(i) == 'E')) {
        i += 1
        if (i < end && (buf(i) == '+' || buf(i) == '-')) i += 1
        val s = i
        while (i < end && digit(buf(i))) i += 1
        expLen = i - s
        if (expLen == 0) return fail("exponent not followed by a digit", i)
      }
      val len = if (fracLen < 0 && expLen < 0) intLen else intLen + math.max(0, fracLen) + math.max(0, expLen)
      // A number that ends the body takes Jackson's slow path, which counts
      // a float's missing fraction or exponent as -1 digits.
      val counted = if (i == end && (fracLen < 0) != (expLen < 0)) len - 1 else len
      if (counted > MaxNumberLength) return failLimit(s"number longer than $MaxNumberLength digits", from)
      if (root && i < end && !ws(buf(i))) return fail("expected space after a root-level number", i)
      i
    }

    /** The page this scan found; call once `run` succeeded. */
    def page(resp: HttpResponse): Page = {
      val fields: JsonNode =
        if (rootStart < 0 || rootKind == '[' && path.isEmpty) MissingNode.getInstance
        else if (rootKind == '{' && path.nonEmpty) tree()
        else tree(rootStart, rootEnd)
      val out = java.util.Arrays.copyOf(slices, 2 * count)
      Page(resp, fields, if (dirty == 0) buf else compact(out), out)
    }

    /** The fields of the root object, from the members on the path. */
    private def tree(): ObjectNode = {
      val nodes = new Array[ObjectNode](path.length)
      nodes(0) = Json.obj()
      members.foreach { m =>
        if (m.start < 0) {
          val child = Json.obj()
          nodes(m.level).replace(m.name, child)
          nodes(m.level + 1) = child
        } else nodes(m.level).replace(m.name, tree(m.start, m.end))
      }
      nodes(0)
    }

    /** The value `[from, until)` as a tree, read from its `String` as the
      * body's decoding is: Jackson's byte parser differs from its `String`
      * parser on some input, such as a broken surrogate escape in a name.
      */
    private def tree(from: Int, until: Int): JsonNode =
      Json.mapper.readTree(new String(buf, from, until - from, UTF_8))

    /** The records copied out, each without its whitespace outside strings;
      * rewrites `out`'s slices to point into the copy.
      */
    private def compact(out: Array[Int]): Array[Byte] = {
      var total = 0
      var k = 0
      while (k < count) { total += math.abs(out(2 * k + 1)); k += 1 }
      val data = new Array[Byte](total)
      var o = 0
      k = 0
      while (k < count) {
        val from = out(2 * k)
        val len = out(2 * k + 1)
        out(2 * k) = o
        if (len >= 0) { System.arraycopy(buf, from, data, o, len); o += len }
        else {
          var i = from
          var inString = false
          while (i < from - len) {
            val c = buf(i)
            if (inString || !ws(c)) { data(o) = c; o += 1 }
            if (inString && c == '\\') { data(o) = buf(i + 1); o += 1; i += 1 }
            else if (c == '"') inString = !inString
            i += 1
          }
        }
        out(2 * k + 1) = o - out(2 * k)
        k += 1
      }
      data
    }
  }
}
