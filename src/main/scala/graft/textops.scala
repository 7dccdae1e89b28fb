package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's scalar text-transform "expression library" (SURVEY.md
  * §2.4, T1–T21), re-expressed as native Column chains so the whole body
  * cleaning stays inside whole-stage codegen — no UDF in the hot path.
  *
  * Source of truth: `Producer/kafkaProducer.js:118-201` (subject + body
  * cleaning chain) and `Slack Event Server/slackEventServer.js:70-71`
  * (mention strip). Each step keeps the original JS first-match/global and
  * trim semantics:
  *  - JS `.replace(re, ..)` without /g replaces the FIRST match only → the
  *    Spark pattern is \A-anchored (a lazy-from-start JS match always
  *    begins at index 0 when it exists, so anchoring is equivalent) since
  *    Spark's regexp_replace is always global.
  *  - JS `.trim()` trims all whitespace (not just spaces) → jsTrim.
  *
  * Every operator has a DuckDB-SQL twin in [[TextOracle]]; the two are
  * maintained in lockstep and verified by the driver's oracle gate.
  */
object TextOps {

  /** JS String.prototype.trim (all-whitespace, both ends). */
  def jsTrim(c: Column): Column =
    regexp_replace(c, """\A\s+|\s+\z""", "")

  /** T1 — subject wrap with missing/empty coalesce
    * (`Producer/kafkaProducer.js:118-124`). */
  def subjectStyle(subject: Column): Column =
    when(subject.isNull || subject === "", lit("*No Subject*"))
      .otherwise(concat(lit("*"), subject, lit("*")))

  /** T4 — delete everything up to and including the first
    * "Together With …" line (`kafkaProducer.js:162-163`). */
  def stripTogetherWith(c: Column): Column =
    regexp_replace(c, """(?is)\A.*?Together With[^\n]*\n?""", "")

  /** T5 — keep from the first line starting with TLDR, trimmed
    * (`kafkaProducer.js:166-170`). The JS regex's optional date group is a
    * no-op; semantics are substring(match.index).trim(). */
  def trimToTldr(c: Column): Column = {
    val ext = regexp_extract(c, """(?is)\A(?:.*?\n)??(tldr.*)""", 1)
    when(ext =!= "", jsTrim(ext)).otherwise(c)
  }

  /** T6 — truncate at the "Love TLDR? …" footer, trimmed
    * (`kafkaProducer.js:173-176`). One split doubles as the match test
    * (2 elements ⟺ the pattern occurred) — half the regex passes of a
    * separate rlike guard, same semantics. */
  private val loveTldrPat = """Love TLDR\? Tell your friends and get rewards!"""
  def truncateAtLoveTldr(c: Column): Column = {
    val parts = split(c, loveTldrPat, 2)
    when(size(parts) > 1, jsTrim(parts.getItem(0))).otherwise(c)
  }

  /** T7 — truncate at "how did we do today" (case-insensitive), trimmed
    * (`kafkaProducer.js:179-182`). */
  private val feedbackPat = """(?i)how did we do today"""
  def truncateAtFeedback(c: Column): Column = {
    val parts = split(c, feedbackPat, 2)
    when(size(parts) > 1, jsTrim(parts.getItem(0))).otherwise(c)
  }

  /** T8–T13 — MIME/markup cleanup chain (`kafkaProducer.js:185-190`),
    * all global replaces, order preserved.
    *
    * T12 (strip tags) and T13 (strip non-ASCII) run as ONE fused
    * alternation pass. This is EXACTLY equivalent to the sequential
    * passes for every input, not just the corpus: both branches delete,
    * a non-ASCII char can never START a tag match ('<' is ASCII), and a
    * regex scan advances one char on failure either way — so the fused
    * scan attempts the tag pattern at exactly the positions T12's scan
    * does (match sets identical), and the chars it deletes via the
    * second branch are exactly the non-ASCII chars surviving T12.
    * TextFusionProps pins the theorem over arbitrary adversarial
    * strings. (T8/T9/T10 stay sequential: deleting one header line can
    * splice a NEW match for a later pattern out of its neighbours —
    * e.g. "Content-Transfer" + [T8 match] + "-Encoding:..." — which a
    * single alternation pass would miss.) */
  def stripMimeAndMarkup(c: Column): Column = {
    val t8  = regexp_replace(c,   """Content-Type:.*?(\r\n|\n|\r)+""", "")
    val t9  = regexp_replace(t8,  """Content-Transfer-Encoding:.*?(\r\n|\n|\r)+""", "")
    val t10 = regexp_replace(t9,  """--.*?(\r\n|\n|\r)+""", "")
    val t11 = regexp_replace(t10, """(\r\n|\n|\r)+""", "\n")
    regexp_replace(t11, """<[^>]+>|[^\x20-\x7E\n]""", "")
  }

  /** T14 — bold ALL-CAPS heading lines, trimming inside the stars
    * (`kafkaProducer.js:191`: `*${line.trim()}*`). The JS line class is
    * [A-Z0-9 &] — space is its only whitespace — so "trim inside" is
    * expressible as pure regex after all: capture the space-stripped core
    * (non-space at both edges) and re-wrap. A second pass handles the
    * all-spaces line, which JS maps to `**`. Two multiline regexp_replace
    * passes keep the whole step inside whole-stage codegen; the previous
    * transform(split(...)) form evaluated interpreted per line (SURVEY
    * §2.11 HOF caveat) and dominated the q09 profile. */
  def boldCapsHeadings(c: Column): Column =
    // ONE alternation pass (was two): the branches match DISJOINT line
    // sets (branch 1 needs a [A-Z0-9&] char, branch 2 is all-space), a
    // branch-1 replacement `*CORE*` contains `*` so it can never create
    // a branch-2 line, and no replacement adds/removes newlines — so the
    // fused pass equals the sequential two. On the all-space branch
    // group 1 does not participate and `$1` substitutes empty on both
    // engines (Java appendReplacement, RE2 \1) → `**`, exactly pass 2's
    // output. TextFusionProps pins the equivalence adversarially.
    regexp_replace(c,
      """(?m)^ *([A-Z0-9&](?:[A-Z0-9 &]*[A-Z0-9&])?) *$|^ +$""", "*$1*")

  /** T15–T17 — stray brackets, image URLs, author bylines
    * (`kafkaProducer.js:192-194`).
    *
    * T15+T16 run as ONE fused alternation pass. Equivalence to the
    * sequential passes holds for EVERY input: T15's matches are single
    * chars at line edges (`[` first-on-line, `]` last-on-line) so they
    * can never sit INSIDE a URL match (a URL starts with `h`, needs a
    * position before the `[`, and cannot extend past a line-final `]`),
    * deleting them joins a char to a newline/string edge only (no new
    * URL contiguity), and a T16 deletion that exposes a `[`/`]` at a
    * line edge exposes it only in T16's OUTPUT — the sequential chain
    * (T15 before T16) does not delete it either. TextFusionProps pins
    * the theorem over bracket/URL-adversarial strings.
    *
    * T17 must stay SEQUENTIAL: deleting a line-leading `[` (T15) or a
    * line-leading image URL (T16) can expose a `by Xxx` byline at the
    * line start that T17's `^\s*by` then matches — a fused scan of the
    * original string misses it (counterexample pinned in
    * TextFusionProps: "[by John Smith\nkeep"). */
  def stripBracketsImagesBylines(c: Column): Column = {
    val t16 = regexp_replace(c,
      """(?m)^\[|\]$|(?i:https?://\S+\.(?:png|jpg|jpeg|gif|svg))""", "")
    regexp_replace(t16, """(?im)^\s*by [A-Z][a-z]+(?: [A-Z][a-z]+)*.*(\n|$)""", "")
  }

  /** T2+T3 — HTML detection + conversion branch (`kafkaProducer.js:131-159`). */
  def htmlBranch(c: Column): Column =
    when(c.contains("<html") || c.contains("<body"), HtmlToText.htmlToTextUdf(c))
      .otherwise(c)

  /** The full producer body-cleaning chain T2–T18 in reference order
    * (`kafkaProducer.js:131-197`): the HTML branch, then the plain chain. */
  def cleanBody(c: Column): Column = cleanBodyPlain(htmlBranch(c))

  /** T4–T18, the body-cleaning chain without the HTML branch — the
    * native, fully codegen'd chain used when inputs are known plain-text. */
  def cleanBodyPlain(c: Column): Column = {
    val t4  = stripTogetherWith(c)
    val t5  = trimToTldr(t4)
    val t6  = truncateAtLoveTldr(t5)
    val t7  = truncateAtFeedback(t6)
    val t13 = stripMimeAndMarkup(t7)
    val t14 = boldCapsHeadings(t13)
    val t17 = stripBracketsImagesBylines(t14)
    jsTrim(t17)
  }

  /** T19 — Slack mention strip (`slackEventServer.js:70-71`). */
  def stripMentions(c: Column): Column =
    jsTrim(regexp_replace(c, """<@[A-Z0-9]+>""", ""))

  /** T21 — bare-URL line predicate (`Consumer/kafkaConsumer.js:104`). */
  def isUrlLine(c: Column): Column = c.rlike("""^https?://\S+$""")
}

/** DuckDB-SQL twins of TextOps, assembled as CTE chains. DuckDB's
  * regexp_replace is first-match unless passed 'g'; RE2 has no lookaround,
  * so the same lookaround-free patterns run on both engines.
  */
object TextOracle {
  /** JS trim as DuckDB SQL over expression `x`. */
  def jsTrimSql(x: String): String =
    s"regexp_replace($x, '\\A\\s+|\\s+\\z', '', 'g')"

  /** Chain step SQL bodies: each maps column b -> b. Mirrors
    * TextOps.cleanBodyPlain step for step. */
  val cleanBodySteps: Seq[String] = Seq(
    // T4 (first-match in JS; anchored, no 'g')
    """regexp_replace(b, '(?is)\A.*?Together With[^\n]*\n?', '')""",
    // T5 (s-interp processes \\ -> \; DuckDB strings are raw, so RE2 sees \A)
    s"""CASE WHEN regexp_extract(b, '(?is)\\A(?:.*?\\n)??(tldr.*)', 1) <> ''
       |THEN ${jsTrimSql("""regexp_extract(b, '(?is)\A(?:.*?\n)??(tldr.*)', 1)""")}
       |ELSE b END""".stripMargin,
    // T6
    s"""CASE WHEN regexp_matches(b, 'Love TLDR\\? Tell your friends and get rewards!')
       |THEN ${jsTrimSql("""string_split_regex(b, 'Love TLDR\? Tell your friends and get rewards!')[1]""")}
       |ELSE b END""".stripMargin,
    // T7
    s"""CASE WHEN regexp_matches(b, '(?i)how did we do today')
       |THEN ${jsTrimSql("string_split_regex(b, '(?i)how did we do today')[1]")}
       |ELSE b END""".stripMargin,
    // T8-T13
    """regexp_replace(b, 'Content-Type:.*?(\r\n|\n|\r)+', '', 'g')""",
    """regexp_replace(b, 'Content-Transfer-Encoding:.*?(\r\n|\n|\r)+', '', 'g')""",
    """regexp_replace(b, '--.*?(\r\n|\n|\r)+', '', 'g')""",
    """regexp_replace(b, '(\r\n|\n|\r)+', chr(10), 'g')""",
    // T12+T13 fused exactly as in TextOps.stripMimeAndMarkup (branch
    // priority is irrelevant: the branches trigger on disjoint chars)
    """regexp_replace(b, '<[^>]+>|[^\x20-\x7E\n]', '', 'g')""",
    // T14 (one fused alternation, same as TextOps.boldCapsHeadings;
    // RE2 substitutes empty for the non-participating \1 on the
    // all-space branch, same as Java)
    """regexp_replace(b, '(?m)^ *([A-Z0-9&](?:[A-Z0-9 &]*[A-Z0-9&])?) *$|^ +$', '*\1*', 'g')""",
    // T15+T16 fused (same pass as TextOps.stripBracketsImagesBylines),
    // then T17 sequential (see the unfusability note there)
    """regexp_replace(b, '(?m)^\[|\]$|(?i:https?://\S+\.(?:png|jpg|jpeg|gif|svg))', '', 'g')""",
    """regexp_replace(b, '(?im)^\s*by [A-Z][a-z]+(?: [A-Z][a-z]+)*.*(\n|$)', '', 'g')""",
    // T18
    jsTrimSql("b"),
  )

  /** Full CTE chain: `WITH src AS (SELECT doc_id, <inputExpr> AS b FROM
    * documents), s1 AS (...), ...` followed by `finalSelect` (which may
    * reference the last CTE as %LAST%). */
  def cleanBodySql(inputExpr: String, finalSelect: String): String = {
    val src = s"src AS (SELECT doc_id, $inputExpr AS b FROM documents)"
    val steps = cleanBodySteps.zipWithIndex.map { case (body, i) =>
      val prev = if (i == 0) "src" else s"s$i"
      s"s${i + 1} AS (SELECT doc_id, $body AS b FROM $prev)"
    }
    val fin = s"$finalSelect s${cleanBodySteps.size} ORDER BY doc_id"
    s"WITH ${(src +: steps).mkString(",\n")}\n$fin"
  }
}
