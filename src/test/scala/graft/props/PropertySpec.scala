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
