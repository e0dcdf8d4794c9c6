package graft.props

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.parsers.XmlToJson
import graft.sources._

/** Property tests (SURVEY §5 item 4): XML converter invariants over
  * generated documents; pagination loops terminate on arbitrary page
  * sequences.
  */
class PropertySpec extends AnyFunSuite {

  /** Run a scalacheck property under ScalaTest (no scalatestplus bridge in
    * the offline cache): 100 successful evals or fail with the counterexample.
    */
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  private val tagGen =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val textGen =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))

  test("xml: attributed elements keep @attr (text dropped, ref behavior); bare elements implode to text") {
    check(Prop.forAll(tagGen, textGen, textGen) { (tag, attr, text) =>
      // with an attribute the element object is non-empty → no text
      // implosion (the reference drops leaf text then, xml.go:163-167)
      val attributed = new XmlToJson().parse(s"""<root><$tag a="$attr">$text</$tag></root>""")
      val bare = new XmlToJson().parse(s"""<root><$tag>$text</$tag></root>""")
      attributed.at(s"/root/$tag/@a").asText == attr &&
        bare.at(s"/root/$tag").asText == text
    })
  }

  test("xml: declared array always yields array with one element per occurrence (object items)") {
    check(Prop.forAll(Gen.choose(1, 10)) { k =>
      val items = (1 to k).map(i => s"<it><v>$i</v></it>").mkString
      val n = new XmlToJson(arrays = Seq("r.it")).parse(s"<r>$items</r>")
      n.at("/r/it").isArray && n.at("/r/it").size == k &&
        (0 until k).forall(i => n.at(s"/r/it/$i/v").asText == (i + 1).toString)
    })
  }

  test("xml: 30-char bug-compat truncation caps exactly, never pads") {
    check(Prop.forAll(textGen) { text =>
      val n = new XmlToJson(maxTextLen = Some(30)).parse(s"<r><t>$text</t></r>")
      n.at("/r/t").asText == text.take(30)
    })
  }

  test("offset pagination terminates for any page-size sequence and never overlaps offsets") {
    val pageSizes = Gen.listOfN(6, Gen.choose(0, 3)) // server honors num=3 (never over-returns)
    check(Prop.forAll(pageSizes) { sizes =>
      var call = 0
      val client: HttpClient = req => {
        val n = if (call < sizes.length) sizes(call) else 0
        call += 1
        val start = req.params.collectFirst { case ("start", v) => v.toInt }.getOrElse(0)
        val items = (0 until n).map(i => s"""{"id":${start + i}}""").mkString("[", ",", "]")
        HttpResponse(200, s"""{"items":$items}""", Map.empty)
      }
      val recs = PaginatedStream(HttpRequest("http://x"),
        Pagination.Offset("start", "num", num = 3, Seq("items")), Seq("items"))
        .fetch(client).toList
      // terminates (short page < 3 always arrives since sizes run out → 0)
      // and ids are unique (offsets advance by num, never overlap)
      recs.distinct.size == recs.size
    })
  }

  // -- generated pages: JSON text with arbitrary whitespace between tokens --
  private val ws = Gen.frequency(4 -> Gen.const(""), 1 -> Gen.oneOf(" ", "\n", "\t", "\r\n  ", "\n    "))
  private val jsonString = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf(" ", "é", "日", "{", "]", ":", ","),
    1 -> Gen.oneOf("\\\"", "\\\\", "\\/", "\\n", "\\t", "\\u00e9", "\\ud83d\\ude00")))
    .map(_.take(12).mkString("\"", "", "\""))
  private val jsonNumber = Gen.oneOf(
    Gen.choose(-1000000L, 1000000L).map(_.toString),
    Gen.const("1.50"), Gen.const("-0.0"), Gen.const("1e3"), Gen.const("2.5E-2"),
    Gen.const("123456789012345678901234567890"))
  private val jsonScalar = Gen.oneOf(jsonString, jsonNumber, Gen.oneOf("true", "false", "null"))
  private def jsonValue(depth: Int): Gen[String] =
    if (depth == 0) jsonScalar
    else Gen.frequency(2 -> jsonScalar, 1 -> jsonObject(depth - 1), 1 -> jsonArray(depth - 1))
  private def jsonArray(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 3); vs <- Gen.listOfN(n, Gen.zip(ws, jsonValue(depth), ws))
  } yield vs.map { case (a, v, b) => a + v + b }.mkString("[", ",", "]")
  private def jsonObject(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 3); kvs <- Gen.listOfN(n, Gen.zip(ws, jsonString, ws, ws, jsonValue(depth), ws))
  } yield kvs.map { case (a, k, b, c, v, d) => a + k + b + ":" + c + v + d }.mkString("{", ",", "}")

  test("page pass: every record is one line and parses to its element of the page's tree") {
    val otherKeys = Gen.oneOf("\"a\"", "\"next\"", "\"meta\"", "\"n\\u0065xt\"")
    val page = for {
      before <- Gen.listOfN(2, Gen.zip(otherKeys, jsonValue(1)))
      elems <- Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.zip(ws, jsonValue(3), ws)))
      after <- Gen.listOfN(2, Gen.zip(otherKeys, jsonValue(1)))
      sp <- ws
    } yield {
      val fields = (before.map { case (k, v) => s"$k:$sp$v" } :+
        elems.map { case (a, v, b) => a + v + b }.mkString(s"\"data\":$sp{\"items\":$sp[", ",", s"]$sp}")) ++
        after.map { case (k, v) => s"$k:$sp$v" }
      fields.mkString(s"{$sp", s",$sp", s"$sp}")
    }
    check(Prop.forAll(page) { body =>
      val recs = PaginatedStream(HttpRequest("http://x"), Pagination.Marker("next", "m"),
        Seq("data", "items")).copy(maxPages = 1)
        .fetch(_ => HttpResponse(200, body, Map.empty)).toVector
      // the test descends the page's tree itself
      val items = graft.core.Json.parse(body).get("data").get("items")
      val ok = recs.size == items.size && recs.zipWithIndex.forall { case (r, i) =>
        !r.contains('\n') && !r.contains('\r') && graft.core.Json.parse(r) == items.get(i) &&
          !r.replaceAll("\"(?:[^\"\\\\]|\\\\.)*\"", "").exists(Character.isWhitespace)
      }
      Prop(ok) :| s"page: $body\nrecords: ${recs.mkString("\n")}"
    })
  }

  // -- generated page bytes: the byte scan against the parent's Jackson decoder --
  // A char in U+E000-U+E0FF stands for the raw byte of its low 8 bits, so a
  // generated page can hold bytes that are not UTF-8.
  private def raw(bytes: Int*): String = bytes.map(b => (0xe000 + b).toChar).mkString
  private def isRaw(c: Char): Boolean = c >= '\ue000' && c <= '\ue0ff'
  private def bytesOf(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    var from = 0
    for (i <- 0 to s.length) if (i == s.length || isRaw(s.charAt(i))) {
      out.writeBytes(s.substring(from, i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (i < s.length) out.write(s.charAt(i) - 0xe000)
      from = i + 1
    }
    out.toByteArray
  }
  /** Printable ASCII as is, everything else escaped, for failure labels. */
  private def ascii(s: Iterable[Int]): String =
    s.map(c => if (c >= 0x20 && c < 0x7f) c.toChar.toString else f"\\x{$c%x}").mkString

  private val ws2 = Gen.frequency(5 -> Gen.const(""), 1 -> Gen.oneOf(" ", "\n", "\t", "\r\n  ", "\n    "))
  // string bodies: brackets, colons and commas; escaped quotes and runs of
  // escaped backslashes before brackets; non-ASCII, and bytes that are not UTF-8
  private val strPiece = Gen.frequency(
    24 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(" ", "é", "日", "😀", "{", "}", "[", "]", ":", ",", "\u007f"),
    3 -> Gen.oneOf("\\\"", "\\\\", "\\/", "\\n", "\\t", "\\u00e9", "\\ud83d\\ude00", "\\uD800",
      "\\\\\\\"", "\\\\]", "\\\\\\\\}"),
    1 -> Gen.oneOf(raw(0x80), raw(0xc3), raw(0xed, 0xa0, 0x80), raw(0xf8), raw(0xc0, 0xaf), raw(0xe2, 0x82),
      raw(0xf0, 0x9f, 0x98), raw(0xff)))
  private val str2 = Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, strPiece)).map(_.mkString("\"", "", "\""))
  // numbers at and past Jackson's 1000-digit limit, integer and float
  private val num2 = Gen.oneOf(
    Gen.choose(-1000000L, 1000000L).map(_.toString),
    Gen.oneOf("0", "-0", "1.50", "-0.0", "1e3", "2.5E-2", "1E+5", "123456789012345678901234567890",
      "1" * 1000, "-" + "9" * 1000, "1" * 1001, "1." + "2" * 998, "1." + "2" * 999, "1e" + "0" * 999))
  // invalid numbers, literals, escapes and control characters; trailing commas
  private val badScalar = Gen.oneOf("01", "-01", "1.", "-", "1e", "1e+", ".5", "+1", "0x1", "--1", "1.e5",
    "tru", "nul", "True", "truex", "nulll", "fals", "NaN", "\"a\\a\"", "\"\\u12\"", "\"\\x\"",
    "\"a\u0001b\"", "\"a\tb\"", "\"open", "'a'", "[1,]", "{\"a\":1,}", "[,1]", "{\"a\"}", "{1:2}")
  private def value2(depth: Int): Gen[String] = {
    val scalar = Gen.frequency(4 -> str2, 4 -> num2, 2 -> Gen.oneOf("true", "false", "null"))
    if (depth == 0) scalar
    // nesting just under and past the 1000-deep limit, counted from the page root
    else Gen.frequency(3 -> scalar, 1 -> obj2(depth - 1), 1 -> arr2(depth - 1),
      1 -> Gen.choose(995, 999).map(k => "[" * k + "]" * k))
  }
  private def arr2(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 3); vs <- Gen.listOfN(n, Gen.zip(ws2, value2(depth), ws2))
  } yield vs.map { case (a, v, b) => a + v + b }.mkString("[", ",", "]")
  private def obj2(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 3); kvs <- Gen.listOfN(n, Gen.zip(ws2, str2, ws2, ws2, value2(depth), ws2))
  } yield kvs.map { case (a, k, b, c, v, d) => a + k + b + ":" + c + v + d }.mkString("{", ",", "}")

  /** A page body and its records path: nested, flat or root-array pages,
    * duplicated records keys, root scalars, text after the root value; one
    * page in four carries exactly one bad token, in a record, inside one or
    * as the root; now and then one fragment is inserted anywhere.
    */
  private val pageBytes: Gen[(Array[Byte], Seq[String])] = for {
    bad <- Gen.frequency(3 -> Gen.const(None), 1 -> badScalar.flatMap(b =>
      Gen.oneOf(b, s"[1,$b]", s"""{"k":$b}""", s"""{"k":[{"j":$b}]}""").map(Some(_))))
    shape <- Gen.oneOf("nested", "flat", "root", "scalar")
    good <- Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, Gen.zip(ws2, value2(3), ws2)))
    badAt <- Gen.choose(0, 5)
    elems2 <- Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, value2(1)))
    dup <- Gen.frequency(4 -> 0, 1 -> 1, 1 -> 2)
    others <- Gen.listOfN(2, Gen.zip(
      Gen.oneOf("\"a\"", "\"next\"", "\"items\"", "\"data\"", "\"n\\u0065xt\"", "\"é\""), value2(1)))
    sp <- ws2
    trailer <- Gen.frequency(4 -> Gen.const(""),
      1 -> Gen.oneOf(" x", "]", "}", "x", "1", "é", "\u00a0", ":", " ,", raw(0xff)))
    scalar <- value2(0)
    insert <- Gen.frequency(3 -> Gen.const(""), 1 -> Gen.oneOf(",", "]", "}", ":", "\"", "\\", " ", "0", ".", "e",
      "x", "[", "{", "\u0001", raw(0x80), raw(0xe9), "\ufeff"))
    at <- Gen.choose(0, 1 << 20)
  } yield {
    val elems = bad.fold(good)(b => good.patch(math.min(badAt, good.size), Seq(("", b, "")), 0))
    val items = elems.map { case (a, v, b) => a + v + b }.mkString(s"[$sp", ",", s"$sp]")
    val items2 = elems2.mkString("[", ",", "]")
    val Seq(k1, k2) = others.map { case (k, v) => s"$k:$sp$v" }
    val (text, path) = shape match {
      case "nested" =>
        val inner =
          if (dup == 1) s"""{"items":$items2,$k1,"items":$items}""" else s"""{$k1,"items":$sp$items}"""
        val data = if (dup == 2) s""""data":{"items":$items2},"data":$inner""" else s""""data":$sp$inner"""
        (s"{$sp$k2,$data$sp}", Seq("data", "items"))
      case "flat" =>
        val body = if (dup == 1) s""""items":$items,"items":$items2""" else s""""items":$items"""
        (s"{$k1,$sp$body,$k2}", Seq("items"))
      case "root" => (sp + items, Seq())
      case _ => (sp + bad.getOrElse(scalar), Seq("items"))
    }
    val whole = text + trailer
    val cut = at % (whole.length + 1)
    (bytesOf(whole.substring(0, cut) + insert + whole.substring(cut)), path)
  }

  test("page pass: the byte scan agrees with Jackson's decoder on every generated page") {
    import java.nio.charset.StandardCharsets.UTF_8
    import scala.util.{Failure, Success, Try}
    var accepted = 0
    var rejected = 0
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAllNoShrink(pageBytes) { case (bytes, path) =>
        // the oracle reads the body as the response decodes it
        val want = Try(JacksonPageOracle(new String(bytes, UTF_8), path))
        val got = Try(Page(HttpResponse(200, bytes, UTF_8, Map.empty), path))
        val ok = (want, got) match {
          case (Failure(_), Failure(e)) =>
            rejected += 1
            e.isInstanceOf[com.fasterxml.jackson.core.JsonProcessingException]
          case (Success((fields, recs)), Success(page)) =>
            accepted += 1
            fields == page.fields && fields.toString == page.fields.toString &&
              recs.map(_.getBytes(UTF_8).toSeq) ==
                (0 until page.size).map(i => page.data.slice(page.offset(i), page.offset(i) + page.length(i)).toSeq)
          case _ => false
        }
        Prop(ok) :| s"path ${path.mkString(".")}, page ${ascii(bytes.take(3000).map(_ & 0xff))}\n" +
          s"oracle: ${ascii(want.map(w => w._1.toString + " " + w._2.mkString("|")).toString.map(_.toInt))}\n" +
          s"scan: ${ascii(got.map(p => p.fields.toString + " " + (0 until p.size).map(p.record).mkString("|")).toString.map(_.toInt))}"
      })
    assert(res.passed, res.status.toString)
    // both outcomes must be well represented for the agreement to mean much
    assert(accepted > 400 && rejected > 400, s"accepted $accepted, rejected $rejected")
  }

  test("rate limiter: cumulative wait enforces the sustained rate for any burst pattern") {
    val acquires = Gen.choose(2, 40)
    val rates = Gen.oneOf(1.0, 5.0, 50.0)
    val bursts = Gen.choose(1, 5)
    check(Prop.forAll(acquires, rates, bursts) { (n, rate, burst) =>
      // frozen clock: all n acquires arrive at t=0; the k-th (0-based) must
      // wait exactly max(0, k - burst + 1) intervals — the token bucket
      // degenerates to a precise arithmetic sequence
      val interval = (1e9 / rate).toLong
      val rl = new RateLimiter(rate, burst, nanoClock = () => 0L)
      (0 until n).forall { k =>
        rl.acquireWaitNanos() == math.max(0L, (k - burst + 1).toLong) * interval
      }
    })
  }

  test("union-find clustering: representative is the component minimum for any random graph") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.choose(0, 15)
      edges <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L)))
    } yield edges.filter(e => e._1 != e._2)
    // fewer evals: each builds DataFrames
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20),
      Prop.forAll(edgeGen) { edges =>
        val ids = (1L to 12L).map(Tuple1(_)).toDF("doc_id")
        val pairs = if (edges.isEmpty)
          Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        else edges.toDF("id_a", "id_b")
        val got = graft.operators.Dedup.clusterRepresentatives(pairs, ids, "doc_id")
          .as[(Long, Long)].collect().toMap
        // reference: brute-force transitive closure
        val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        def component(x: Long): Set[Long] = {
          var seen = Set(x); var frontier = Set(x)
          while (frontier.nonEmpty) {
            val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
            seen ++= next; frontier = next
          }
          seen
        }
        (1L to 12L).forall(x => got(x) == component(x).min)
      })
    assert(res.passed, res.status.toString)
  }

  test("token auth: verify never throws on arbitrary input; honest round-trip always verifies") {
    import graft.server.TokenAuth
    val kp = TokenAuth.generateKeyPair()
    val pub = TokenAuth.rawPublicKey(kp.getPublic)
    // fuzz: arbitrary strings (incl. valid base64 of garbage) → Left, no throw
    val junk = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(bs =>
        java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bs.toArray)))
    check(Prop.forAll(junk) { s =>
      TokenAuth.verify(s, "/x", Seq(pub)).isLeft
    })
    // round-trip: any expiry in the future + any prefix of the path verifies;
    // the probe path is uppercase so no lowercase prefix can collide with it
    val pathGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(cs => "/" + cs.mkString)
    check(Prop.forAllNoShrink(pathGen, Gen.choose(1, 5)) { (path, cut) =>
      val prefix = path.take(math.min(path.length, cut + 1))
      val tok = TokenAuth.Token(Long.MaxValue / 2000, prefix, pub)
      val signed = TokenAuth.signToken(tok, kp.getPrivate)
      TokenAuth.verify(signed, path, Seq(pub), now = () => 1700000000L).isRight &&
        TokenAuth.verify(signed, "/OUTSIDE", Seq(pub), now = () => 1700000000L).isLeft
    })
    // key round-trip: generated keys survive the raw wire form
    check(Prop.forAll(Gen.const(())) { _ =>
      val k = TokenAuth.generateKeyPair()
      val raw = TokenAuth.rawPublicKey(k.getPublic)
      TokenAuth.rawPublicKey(TokenAuth.publicKeyFromRaw(raw)).toSeq == raw.toSeq
    })
  }

  test("marker pagination terminates whenever the marker chain reaches 0/empty") {
    val chain = Gen.listOf(Gen.choose(1, 9).map(_.toString))
    check(Prop.forAll(chain) { markers =>
      var i = 0
      val client: HttpClient = _ => {
        val next = if (i < markers.length) markers(i) else "0"
        i += 1
        HttpResponse(200, s"""{"data":[{"n":$i}],"next":"$next"}""", Map.empty)
      }
      val recs = PaginatedStream(HttpRequest("http://x"),
        Pagination.Marker("next", "since"), Seq("data")).fetch(client).toList
      recs.size == markers.length + 1
    })
  }
}
