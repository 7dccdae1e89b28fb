package pipebench

import scala.collection.mutable.ArrayBuffer

/** One generated newsletter: what the inbox receives (`subject` may be
  * null or empty, `body` is raw) and the cleaned body the producer leg
  * must produce, derived from how the email was built. */
final case class Email(seqno: Int, subject: String, body: String, expectedBody: String)

/** Seeded newsletter generator. Each email is assembled from parts
  * whose cleaned form is known by construction: a sponsor preamble, a
  * TLDR marker, MIME header and boundary lines, all-caps headings,
  * heading+URL and title+URL pairs, prose with inline tags, non-ASCII
  * characters, tabs and inline image URLs, image-only lines, bylines,
  * bracketed lines, spaces-only lines and blank lines, then footers.
  * The parts avoid each other's patterns (no "--", "<" or "by " in
  * prose, no image extension inside an article URL), so the expected
  * body does not depend on how the cleaning regexes interact. */
final class NewsletterGen(seed: Long) {
  private val rng = new java.util.Random(seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
  private def chance(p: Double): Boolean = rng.nextDouble() < p
  private def between(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)

  private val words = IndexedSeq(
    "model", "cloud", "latency", "release", "startup", "funding", "chip", "agent",
    "browser", "privacy", "security", "update", "database", "stream", "open", "source",
    "kernel", "benchmark", "compiler", "network", "storage", "pricing", "launch",
    "research", "paper", "dataset", "training", "inference", "robot", "battery",
    "market", "feature", "users", "engineers", "platform", "service", "outage",
    "patch", "library", "framework", "rust", "python", "scala", "spark", "kafka",
    "query", "index", "vector", "search", "ranking", "design", "review", "team",
    "growth", "revenue", "quarter", "hiring", "remote", "policy", "regulation",
    "court", "ruling", "acquisition", "merger", "device", "phone", "laptop",
    "display", "camera", "sensor", "drone", "satellite", "rocket", "orbit", "energy",
    "solar", "grid", "carbon", "climate", "health", "genome", "protein", "vaccine",
    "trial", "study", "results", "faster", "cheaper", "smaller", "larger", "new",
    "first", "latest", "quietly", "finally", "really", "still", "again", "every",
    "about", "after", "before", "under", "over", "with", "without", "into", "from",
    "this", "that", "these", "their", "its", "more", "less", "most", "some", "many")
  private val capWords = IndexedSeq("AI", "BIG TECH", "SCIENCE", "FUTURISTIC", "PROGRAMMING",
    "DESIGN", "DATA", "MISCELLANEOUS", "QUICK LINKS", "LAUNCHES", "R&D", "DEV TOOLS",
    "HEADLINES", "DEEP DIVES", "OPINION", "TUTORIALS", "JOBS", "CRYPTO", "2024", "TOP 10",
    "AI & ML", "SECURITY")
  private val names = IndexedSeq("Tech", "AI", "Crypto", "Founders", "Web Dev", "InfoSec",
    "DevOps", "Design", "Marketing", "Product")
  private val people = IndexedSeq("Jane Doe", "John Smith", "Ada Park", "Lin Wu",
    "Sam Rivera", "Omar Haddad", "Mia Rossi", "Noah Berg")
  private val nonAscii = IndexedSeq("café", "naïve", "—", "’",
    "🚀", "über", "résumé", "…")
  private val imageExt = IndexedSeq("png", "jpg", "jpeg", "gif", "svg", "PNG")

  private def word(): String = pick(words)
  private def sentenceWords(n: Int): String = (1 to n).map(_ => word()).mkString(" ")
  private def capital(s: String): String = s.head.toUpper.toString + s.tail

  private def articleUrl(): String = {
    val host = pick(IndexedSeq("news.example.com", "blog.example.org", "example.dev",
      "research.example.net"))
    val path = (1 to between(1, 3)).map(_ => word()).mkString("/")
    val q = if (chance(0.3)) s"?utm_source=tldr&id=${rng.nextInt(100000)}" else ""
    s"https://$host/$path$q"
  }
  private def imageUrl(): String =
    s"https://cdn.example.com/img/${rng.nextInt(1000000)}.${pick(imageExt)}"

  /** A prose line and its cleaned form: inline tags, non-ASCII, tabs
    * and image URLs are planted in the raw line and left out of the
    * expected one. Never starts with "by", "[", "tldr" or a capital-only
    * word run, never holds "--", "<" outside a tag, or a footer marker. */
  private def prose(minLen: Int, maxLen: Int): (String, String) = {
    val target = between(minLen, maxLen)
    val raw = new StringBuilder
    val exp = new StringBuilder
    def both(s: String): Unit = { raw.append(s); exp.append(s) }
    both(capital(pick(words.filter(_ != "by"))))
    while (exp.length < target) {
      rng.nextInt(20) match {
        case 0 =>
          val w = word(); raw.append(s" <b>$w</b>"); exp.append(s" $w")
        case 1 =>
          val w = word(); raw.append(s""" <a href="${articleUrl()}">$w</a>"""); exp.append(s" $w")
        case 2 =>
          val na = pick(nonAscii)
          val kept = na.filter(c => c >= 0x20 && c <= 0x7e)
          raw.append(s" $na"); exp.append(s" $kept")
        case 3 =>
          raw.append(s" ${imageUrl()}"); exp.append(" ")
        case 4 =>
          raw.append("\t"); both(word())
        case 5 =>
          both(s", ${word()}")
        case 6 =>
          both(s". ${capital(word())}")
        case _ =>
          both(s" ${word()}")
      }
    }
    both(".")
    (raw.toString, exp.toString)
  }

  /** An all-caps heading; the cleaned form is bolded and trimmed. */
  private def heading(): (String, String) = {
    val core = (1 to between(1, 2)).map(_ => pick(capWords)).mkString(" ")
    val pad = if (chance(0.2)) "  " else ""
    (s"$pad$core$pad", s"*$core*")
  }

  private def title(): String =
    s"${capital(sentenceWords(between(3, 9)))} (${between(1, 15)} minute read)"

  /** Build one email. `targetChars` is the approximate raw body size. */
  def email(seqno: Int, targetChars: Int): Email = {
    val nl = if (chance(0.1)) "\r\n" else "\n"
    val raw = new StringBuilder
    val exp = ArrayBuffer.empty[String]
    def line(s: String): Unit = { raw.append(s); raw.append(nl) }
    val name = pick(names)
    val sponsor = chance(0.7)
    val tldr = chance(0.8)
    if (sponsor || tldr) {
      (1 to between(1, 3)).foreach(_ => line(pick(IndexedSeq(
        "View this email in your browser", "Sign Up | Advertise | View Online",
        s"Welcome to TLDR $name, the daily digest", "Read time: about 5 minutes",
        "Forwarded this email? Subscribe here"))))
    }
    if (sponsor) line(s"Together With ${pick(IndexedSeq("Acme Cloud", "Globex", "Initech", "Hooli"))}")
    if (sponsor && tldr) (1 to between(0, 2)).foreach(_ => line(pick(IndexedSeq(
      "Get started free today", "Sponsored: a better way to ship", "Learn more at the link below"))))
    if (tldr) {
      val m = s"TLDR $name ${2020 + rng.nextInt(6)}-${f"${between(1, 12)}%02d"}-${f"${between(1, 28)}%02d"}"
      line(m); exp += m
    }
    // the kept region: always opens and closes on a prose line so that
    // header, boundary and spaces-only lines have a successor
    def addProse(): Unit = { val (r, e) = prose(40, 900); line(r); exp += e }
    addProse()
    var lastWasImageOnly = false
    while (raw.length < targetChars) {
      val k = rng.nextInt(100)
      var imageOnly = false
      if (k < 14) {
        val (r, e) = heading(); line(r); exp += e
        if (chance(0.6)) { val u = articleUrl(); line(u); exp += u }
      } else if (k < 30) {
        val t = title(); val u = articleUrl()
        line(t); line(u); exp += t; exp += u
      } else if (k < 34) {
        // a long paragraph followed by a source URL: linked only if < 300 chars
        val (r, e) = prose(200, 500); val u = articleUrl()
        line(r); line(u); exp += e; exp += u
      } else if (k < 38) {
        line(imageUrl()); exp += ""; imageOnly = true
      } else if (k < 42 && !lastWasImageOnly) {
        line(s"${pick(IndexedSeq("By", "by"))} ${pick(people)}${pick(IndexedSeq("", ", Staff Writer", " and team"))}")
      } else if (k < 45) {
        val (r, e) = prose(20, 120); line(s"[$r]"); exp += e
      } else if (k < 48) {
        line(pick(IndexedSeq("Content-Type: text/plain; charset=\"UTF-8\"",
          "Content-Transfer-Encoding: quoted-printable",
          s"--000000000000${java.lang.Long.toHexString(rng.nextLong() & 0xffffffffffL)}")))
        addProse()
      } else if (k < 50) {
        line(" " * between(1, 4)); exp += "**"
        addProse()
      } else if (k < 53) {
        raw.append(nl * between(1, 3))
        addProse()
      } else {
        addProse()
      }
      lastWasImageOnly = imageOnly
    }
    addProse()
    val love = chance(0.6)
    val feedback = chance(0.4)
    def footerLove(): Unit = {
      line("Love TLDR? Tell your friends and get rewards!")
      line("Share your referral link below")
    }
    def footerFeedback(): Unit = {
      line("How did we do today? Rate this issue")
      line("Awesome | Okay | Meh")
    }
    if (love && feedback && chance(0.5)) { footerFeedback(); footerLove() }
    else { if (love) footerLove(); if (feedback) footerFeedback() }
    if (love || feedback) line("Unsubscribe | Manage preferences")
    val subject = rng.nextInt(100) match {
      case 0 | 1 | 2 => null
      case 3 | 4 => ""
      case 5 => s"TLDR $name #$seqno: ${pick(nonAscii)} ${sentenceWords(3)}"
      case _ => s"TLDR $name #$seqno: ${sentenceWords(between(3, 7))}"
    }
    Email(seqno, subject, raw.toString, strip(exp.mkString("\n")))
  }

  /** Remove the spaces and newlines the final trim removes; nothing
    * else of the whitespace class survives cleaning. */
  private def strip(s: String): String = {
    var a = 0; var z = s.length
    while (a < z && (s.charAt(a) == ' ' || s.charAt(a) == '\n')) a += 1
    while (z > a && (s.charAt(z - 1) == ' ' || s.charAt(z - 1) == '\n')) z -= 1
    s.substring(a, z)
  }

  /** Raw sizes of one backlog round of `n` long newsletters: tens of KB
    * with a tail of a few hundred KB, taken at fixed quantiles and in a
    * fixed order so that every round and every seed carries the same
    * amount of text. Only the content varies with the seed. */
  def longSizes(n: Int): Seq[Int] = {
    def at(u: Double): Int =
      if (u < 0.90) (8000 + u / 0.90 * 52000).toInt
      else if (u < 0.98) (60000 + (u - 0.90) / 0.08 * 90000).toInt
      else (150000 + (u - 0.98) / 0.02 * 170000).toInt
    val sizes = (0 until n).map(i => at((i + 0.5) / n))
    // interleave small and large so no feed holds only the tail
    (0 until n).map(i => if (i % 2 == 0) sizes(i / 2) else sizes(n - 1 - i / 2))
  }
}

/** The reference consumer's W1 and W2 rules as plain sequential code
  * (`Consumer/kafkaConsumer.js:76-115`), plus the Block Kit layout of
  * K2. Applied to the generator's expected body they give the blocks a
  * post must carry. */
object BlockModel {
  val MaxLen = 2900

  private def isUrlLine(l: String): Boolean = {
    val rest =
      if (l.startsWith("https://")) l.substring(8)
      else if (l.startsWith("http://")) l.substring(7)
      else null
    rest != null && rest.nonEmpty && !l.exists(c => c == ' ' || c == '\t' || c == '\n' ||
      c == '\r' || c == '\f' || c == '\u000b')
  }

  /** W1: a non-empty line under 300 chars followed by a bare URL line
    * becomes `<url|line>`; the URL line is consumed. */
  def hyperlink(body: String): String = {
    val out = ArrayBuffer.empty[String]
    var pend: String = null
    body.split("\n", -1).foreach { l =>
      if (pend != null && isUrlLine(l) && pend.nonEmpty && pend.length < 300) {
        out += s"<$l|$pend>"; pend = null
      } else {
        if (pend != null) out += pend
        pend = l
      }
    }
    if (pend != null) out += pend
    out.mkString("\n")
  }

  /** W2: greedy fold of lines into blocks of at most `maxLen` chars; a
    * non-empty tail is flushed. */
  def chunks(body: String, maxLen: Int = MaxLen): Seq[String] = {
    val blocks = ArrayBuffer.empty[String]
    var cur = ""
    body.split("\n", -1).foreach { l =>
      if (cur.length + 1 + l.length > maxLen) { blocks += cur; cur = l }
      else cur = if (cur.isEmpty) l else cur + "\n" + l
    }
    if (cur.nonEmpty) blocks += cur
    blocks.toSeq
  }

  def styledSubject(subject: String): String =
    if (subject == null || subject.isEmpty) "*No Subject*" else s"*$subject*"

  /** Every block text of the email's post, block 0 first. */
  def blocks(e: Email): Seq[String] =
    s"*Subject:* ${styledSubject(e.subject)}\n*Body:*" +: chunks(hyperlink(e.expectedBody))
}
