package graft

import org.apache.spark.sql.functions._

/** Golden tests for the T-chain on a fixture newsletter body (SURVEY.md
  * §5), plus serde roundtrips (Z1-Z3). */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def runClean(body: String): String =
    Seq(body).toDF("b").select(TextOps.cleanBodyPlain(col("b")).as("c"))
      .collect().head.getString(0)

  test("T-chain golden: full newsletter fixture") {
    val fixture =
      """Sponsor preamble
        |Together With Acme Corp
        |TLDR AI 2025-08-29
        |
        |BIG NEWS TODAY
        |Content-Type: text/plain; charset=utf-8
        |Content-Transfer-Encoding: quoted-printable
        |--boundary-123
        |Some story about chipsé here
        |[brackets]
        |by John Smith reporting
        |https://cdn.site/pic.png
        |Love TLDR? Tell your friends and get rewards!
        |Referral footer""".stripMargin
    val expected =
      """TLDR AI 2025-08-29
        |*BIG NEWS TODAY*
        |Some story about chips here
        |brackets""".stripMargin
    assert(runClean(fixture) == expected)
  }

  test("T4: first Together With line and everything before it removed") {
    assert(runClean("junk\nmore Together With X\nkeep") == "keep")
    assert(runClean("no marker\nkeep") == "no marker\nkeep")
  }

  test("T5: trims to first TLDR line, case-insensitive") {
    assert(runClean("preamble\ntldr daily\nrest") == "tldr daily\nrest")
  }

  test("T6/T7: footer truncation") {
    assert(runClean("keep\nLove TLDR? Tell your friends and get rewards!\ngone") == "keep")
    assert(runClean("keep\nHOW DID WE DO TODAY?\ngone") == "keep")
  }

  test("T14: ALL-CAPS heading bolded with inner trim (reference nuance)") {
    assert(runClean("AI NEWS & MORE") == "*AI NEWS & MORE*")
    // JS does `*${line.trim()}*` — the bold hugs the trimmed text. The
    // leading spaces make the line fail ^[A-Z0-9 &]+$? No: space is in
    // the class, so "  CAPS  " matches and trims inside the stars.
    assert(runClean("x\n  CAPS  \ny") == "x\n*CAPS*\ny")
    // all-spaces line: matches the JS class, trims to empty → bare "**"
    assert(runClean("x\n   \ny") == "x\n**\ny")
    // inner & at the edges of the trimmed core
    assert(runClean("x\n & CAPS & \ny") == "x\n*& CAPS &*\ny")
  }

  test("T1: subject styling with null/empty coalesce") {
    val out = Seq(("a"), (""), (null: String)).toDF("s")
      .select(TextOps.subjectStyle(col("s"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("*a*", "*No Subject*", "*No Subject*"))
  }

  test("T19: mention strip") {
    val out = Seq("<@U123ABC> hello <@U9> world").toDF("s")
      .select(TextOps.stripMentions(col("s"))).collect().head.getString(0)
    assert(out == "hello  world")
  }

  test("T3: HTML→text anchor heuristics (reference kafkaProducer.js:133-159)") {
    val html =
      """<html><head><style>p{color:red}</style><script>evil()</script></head>
        |<body><h1>Weekly Digest</h1>
        |<p>Top story by <a href="https://ex.am/author">Jane Doe</a> today.</p>
        |<p><a href="https://ex.am/name">Ada May Lovelace</a> wrote it.</p>
        |<p><a href="https://ex.am/story">the big launch recap</a> happened.</p>
        |<p><a href="https://ex.am/naked"></a> and &amp; &lt;tags&gt; &#233;</p>
        |</body></html>""".stripMargin
    val out = HtmlToText.convert(html)
    // by-context anchor and author-name-shaped anchor → plain text
    assert(out.contains("by Jane Doe today."))
    assert(out.contains("Ada May Lovelace wrote it."))
    assert(!out.contains("https://ex.am/author") && !out.contains("https://ex.am/name"))
    // normal anchor → Slack hyperlink with bolded text
    assert(out.contains("<https://ex.am/story|*the big launch recap*>"))
    // empty anchor text → Link fallback
    assert(out.contains("<https://ex.am/naked|*Link*>"))
    // script/style dropped, entities decoded, block tags → newlines
    assert(!out.contains("evil") && !out.contains("color:red"))
    assert(out.contains("and & <tags> é"))
    assert(out.startsWith("Weekly Digest"))
  }

  test("T3: wordwrap at 230 columns, long words unbroken") {
    val longLine = ("word " * 60).trim            // 299 chars
    val out = HtmlToText.convert(s"<body><p>$longLine</p></body>")
    assert(out.split("\n").forall(_.length <= 230))
    assert(out.replace("\n", " ") == longLine)
    val bigWord = "x" * 300
    assert(HtmlToText.convert(s"<body>$bigWord</body>") == bigWord)
  }

  test("T2: cleanBody routes HTML through the converter, plain text untouched") {
    val df = Seq(
      ("<html><body><p>CAPS LINE</p><p>by Ann Lee</p></body></html>", 1),
      ("plain text\nCAPS LINE\nbody", 2),
      ("<html><body><p>Read <a href=\"https://ex.am/x\">the full story</a> now</p></body></html>", 3))
      .toDF("b", "i")
    val out = df.select(col("i"), TextOps.cleanBody(col("b")).as("c"))
      .orderBy("i").collect().map(_.getString(1))
    assert(out(0) == "*CAPS LINE*")        // html→text, byline killed, caps bolded
    assert(out(1) == "plain text\n*CAPS LINE*\nbody")
    // T3 turns the anchor into a Slack link `<href|*text*>` and T12's
    // `<[^>]+>` strip, later in the same chain (kafkaProducer.js:133-158,
    // then :189), deletes it whole — the reference drops its links too
    assert(out(2) == "Read  now")
  }

  test("Z1/Z2: Avro roundtrip and corrupt-buffer drop") {
    assert(Serde.decodeEmail(Serde.encodeEmail(7, "s", "b")) ==
      Serde.EmailRecord(7, "s", "b"))
    assert(Serde.decodeEmail(Array[Byte](1, 2, 3)) == null)
    assert(Serde.decodeEmail(null) == null)
  }

  test("Z3: quoted-printable decode — hex escapes, soft breaks, utf-8") {
    assert(Serde.qpDecode("a=20b") == "a b")
    assert(Serde.qpDecode("line1=\nline2") == "line1line2")
    assert(Serde.qpDecode("line1=\r\nline2") == "line1line2")
    assert(Serde.qpDecode("caf=C3=A9") == "café")
    assert(Serde.qpDecode("=XZ stays") == "=XZ stays")
    // non-ASCII passthrough (technically invalid QP) survives intact —
    // chars must NOT be truncated to their low byte
    assert(Serde.qpDecode("café =41") == "café A")
    assert(Serde.qpDecode("€10 =3D 10") == "€10 = 10")
    assert(Serde.qpDecode("emoji 😀 ok") == "emoji 😀 ok")
  }

  test("T3: malformed numeric entities stay literal, never crash; sentinel-shaped content inert") {
    // hex digits without the 'x' prefix (common typo), overflow, invalid code point
    assert(HtmlToText.convert("<html><body>a &#e9; b</body></html>") == "a &#e9; b")
    assert(HtmlToText.convert("<html><body>n &#99999999999; m</body></html>") == "n &#99999999999; m")
    assert(HtmlToText.convert("<html><body>x &#x110000; y</body></html>") == "x &#x110000; y")
    // valid entities still decode
    assert(HtmlToText.convert("<html><body>caf&#233; &#x41;</body></html>") == "café A")
    // U+0001 (raw or as &#1;) can never alias a link sentinel
    assert(HtmlToText.convert("<html><body>&#1;7&#1;</body></html>") == "7")
    assert(HtmlToText.convert("<html><body>a\u00017\u0001b <a href=\"u\">t</a></body></html>")
      == "a7b <u|*t*>")
  }
}
