package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.IndexLifecycle.ArtifactWriter

/** Text-analysis operators for a large-scale training-data pipeline
  * (extensions beyond the reference per BASELINE.json north star):
  * token counting, quality scoring, n-gram language ID, and document
  * fingerprinting. All are pure per-row expression pipelines — zero
  * shuffle, fully codegen'd, embarrassingly parallel at 100 TB.
  *
  * Cross-engine determinism rules used throughout the extension suite:
  *  - hashes are md5 hex strings (identical in Spark and DuckDB);
  *    lexicographic MIN over hex strings replaces numeric minhash
  *  - sequential folds (aggregate here, list_reduce in DuckDB) accumulate
  *    in the same left-to-right order, and DuckDB's first-element init
  *    equals Spark's zero-init after one step for our operators
  *  - doubles that cross the oracle boundary are floor((x) * 1e6 + 0.5) / 1e6
  */
object TextAnalysis {

  /** q18 — token counting: whitespace tokens plus a BPE-ish regex
    * tokenizer (letter runs / digit runs / single punctuation). */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    // doc_id sort runs on the raw scan, BEFORE the per-row regex work —
    // a trailing sort's range-exchange sampling would evaluate the whole
    // chain twice (measured on q09; TextQueries.cleanText has the note)
    Tables.documents(s, d).select("doc_id", "text").selectExpr(
      "doc_id",
      "cast(length(text) as bigint) as n_chars",
      "cast(size(split(trim(text), '\\\\s+')) as bigint) as n_ws_tokens",
      "cast(regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]') as bigint) as n_bpe_tokens",
      "floor((cast(length(text) as double) / size(split(trim(text), '\\\\s+'))) * 1e6 + 0.5) / 1e6 as avg_chars_per_token",
    )

  val tokenStatsSql: String =
    """SELECT doc_id,
      |  length(text)::BIGINT AS n_chars,
      |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS n_bpe_tokens,
      |  floor((length(text)::DOUBLE / len(string_split_regex(trim(text), '\s+'))) * 1e6 + 0.5) / 1e6 AS avg_chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q19 — quality scoring: stopword ratio, unique-token ratio, mean token
    * length, punctuation ratio, combined into one bounded score. */
  def qualityScore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select("doc_id", "text").selectExpr(
      "doc_id",
      "split(text, ' ') as toks",
      "cast(regexp_count(text, '[^a-z0-9 ]') as bigint) as n_punct",
      "cast(length(text) as bigint) as n_chars",
    ).selectExpr(
      "doc_id",
      "cast(size(toks) as bigint) as n_tokens",
      "floor((size(filter(toks, t -> t in ('the', 'a', 'and', 'of', 'to'))) / cast(size(toks) as double)) * 1e6 + 0.5) / 1e6 as stop_ratio",
      "floor((size(array_distinct(toks)) / cast(size(toks) as double)) * 1e6 + 0.5) / 1e6 as uniq_ratio",
      "floor((aggregate(toks, cast(0 as bigint), (acc, t) -> acc + length(t)) / cast(size(toks) as double)) * 1e6 + 0.5) / 1e6 as mean_tok_len",
      "floor((n_punct / cast(n_chars as double)) * 1e6 + 0.5) / 1e6 as punct_ratio",
      """floor((0.25 * (size(filter(toks, t -> t in ('the', 'a', 'and', 'of', 'to'))) / cast(size(toks) as double))
        |+ 0.45 * (size(array_distinct(toks)) / cast(size(toks) as double))
        |+ 0.30 * least((aggregate(toks, cast(0 as bigint), (acc, t) -> acc + length(t)) / cast(size(toks) as double)) / 10.0, 1.0)) * 1e6 + 0.5) / 1e6 as quality_score"""
        .stripMargin.replace("\n", " "),
    )

  val qualityScoreSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |  len(regexp_extract_all(text, '[^a-z0-9 ]'))::BIGINT AS n_punct,
      |  length(text)::BIGINT AS n_chars FROM documents)
      |SELECT doc_id,
      |  len(toks)::BIGINT AS n_tokens,
      |  floor((len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'to'))) / len(toks)::DOUBLE) * 1e6 + 0.5) / 1e6 AS stop_ratio,
      |  floor((len(list_distinct(toks)) / len(toks)::DOUBLE) * 1e6 + 0.5) / 1e6 AS uniq_ratio,
      |  floor((list_reduce(list_prepend(0::BIGINT, list_transform(toks, x -> length(x)::BIGINT)), (a, b) -> a + b) / len(toks)::DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_tok_len,
      |  floor((n_punct / n_chars::DOUBLE) * 1e6 + 0.5) / 1e6 AS punct_ratio,
      |  floor((0.25 * (len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'to'))) / len(toks)::DOUBLE)
      |      + 0.45 * (len(list_distinct(toks)) / len(toks)::DOUBLE)
      |      + 0.30 * least((list_reduce(list_prepend(0::BIGINT, list_transform(toks, x -> length(x)::BIGINT)), (a, b) -> a + b) / len(toks)::DOUBLE) / 10.0, 1.0)) * 1e6 + 0.5) / 1e6 AS quality_score
      |FROM t ORDER BY doc_id""".stripMargin

  /** q71 — composite rule-based quality GATE (the Gopher/Dolma-style
    * document filter battery, distinct from q19's continuous score): each
    * document gets a boolean verdict per rule plus the conjunction —
    * the form a curation pipeline actually branches on. Rules (public
    * Gopher filter set, thresholds from the paper, word-level because
    * this corpus is single-line):
    *   - word count in [50, 100000];
    *   - mean word length in [3, 10] chars;
    *   - ≥80% of words contain an alphabetic character;
    *   - ≥1 distinct member of the 8-word English stopword probe
    *     present ('the be to of and that have with') — Gopher's rule
    *     asks for ≥2, but this synthetic corpus draws from a tech
    *     vocabulary that carries at most one probe word per doc
    *     (measured 0:118 / 1:382 at sf0.01), so the threshold is
    *     fixture-adapted to keep the gate's split meaningful; the
    *     machinery (distinct-intersect count vs threshold) is the rule;
    *   - ≤10% symbol-only words (no alphanumeric at all).
    * Every rule is INTEGER arithmetic (ratios as cross-multiplied
    * comparisons, e.g. mean-length∈[3,10] ⇔ 3n ≤ Σlen ≤ 10n), so the
    * oracle compares bit-exactly with no float rounding discipline.
    *
    * 100 TB: pure per-row codegen'd HOFs over the token array — zero
    * shuffle, zero driver state; composes with q67-style mixing or the
    * q51 hash-split downstream. Fan-out: same per-row-CPU rationale as
    * q19 (gated test-scale exchange, no-op at production file counts). */
  /** The q71 rule battery as a REUSABLE stateless transform: keeps every
    * input column (which must include `text`), appends the five metric
    * columns, the five per-rule verdicts, and `pass`. Pure per-row
    * projection — streaming-safe by construction, so the online curation
    * leg composes it ahead of mixStream/packStream (the gate→mix→pack
    * end-to-end case in StreamingSpec); the batch q71 query is this
    * transform over the documents scan. `__graft_gate_toks` is reserved
    * (the mixStream `__graft_mix_*` discipline). */
  /** Columns qualityGateVerdict appends (plus its scratch token array):
    * input frames must not already contain any of them — a collision
    * would silently produce duplicate/ambiguous columns downstream. */
  val qualityGateReserved: Seq[String] = Seq(
    "__graft_gate_toks", "n_words", "sum_word_chars", "n_alpha_words",
    "n_stop_kinds", "n_symbol_words", "ok_n_words", "ok_word_len",
    "ok_alpha", "ok_stop", "ok_symbol", "pass")

  def qualityGateVerdict(df: DataFrame): DataFrame = {
    require(df.columns.contains("text"),
      s"qualityGateVerdict: input must include a `text` column; got ${df.columns.mkString(", ")}")
    val clash = df.columns.toSeq.intersect(qualityGateReserved)
    require(clash.isEmpty,
      "qualityGateVerdict: input columns collide with the appended/reserved " +
        s"set (${clash.mkString(", ")}); rename them first — reserved: " +
        qualityGateReserved.mkString(", "))
    val keep = df.columns.toSeq
    df.selectExpr(keep :+ "split(text, ' ') as __graft_gate_toks": _*)
      .selectExpr(keep ++ Seq(
        "cast(size(__graft_gate_toks) as bigint) as n_words",
        "aggregate(__graft_gate_toks, cast(0 as bigint), (acc, t) -> acc + length(t)) as sum_word_chars",
        "cast(size(filter(__graft_gate_toks, t -> t rlike '[a-z]')) as bigint) as n_alpha_words",
        "cast(size(array_intersect(array_distinct(__graft_gate_toks), array('the','be','to','of','and','that','have','with'))) as bigint) as n_stop_kinds",
        "cast(size(filter(__graft_gate_toks, t -> t rlike '^[^a-z0-9]+$')) as bigint) as n_symbol_words"): _*)
      .selectExpr(keep ++ Seq(
        "n_words", "sum_word_chars", "n_alpha_words",
        "n_stop_kinds", "n_symbol_words",
        "n_words >= 50 and n_words <= 100000 as ok_n_words",
        "3 * n_words <= sum_word_chars and sum_word_chars <= 10 * n_words as ok_word_len",
        "5 * n_alpha_words >= 4 * n_words as ok_alpha",
        "n_stop_kinds >= 1 as ok_stop",
        "10 * n_symbol_words <= n_words as ok_symbol",
        """n_words >= 50 and n_words <= 100000
          | and 3 * n_words <= sum_word_chars and sum_word_chars <= 10 * n_words
          | and 5 * n_alpha_words >= 4 * n_words
          | and n_stop_kinds >= 1
          | and 10 * n_symbol_words <= n_words as pass""".stripMargin.replace("\n", " ")): _*)
  }

  def qualityGate(s: SparkSession, d: String): DataFrame =
    qualityGateVerdict(
      Tables.fanOut(Tables.documents(s, d), "doc_id").select("doc_id", "text"))
      .drop("text")

  val qualityGateSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |m AS (SELECT doc_id,
      |  len(toks)::BIGINT AS n_words,
      |  list_reduce(list_prepend(0::BIGINT, list_transform(toks, x -> length(x)::BIGINT)), (a, b) -> a + b) AS sum_word_chars,
      |  len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha_words,
      |  len(list_intersect(list_distinct(toks), ['the','be','to','of','and','that','have','with']))::BIGINT AS n_stop_kinds,
      |  len(list_filter(toks, x -> regexp_matches(x, '^[^a-z0-9]+$')))::BIGINT AS n_symbol_words
      |FROM t)
      |SELECT doc_id, n_words, sum_word_chars, n_alpha_words, n_stop_kinds, n_symbol_words,
      |  n_words >= 50 AND n_words <= 100000 AS ok_n_words,
      |  3 * n_words <= sum_word_chars AND sum_word_chars <= 10 * n_words AS ok_word_len,
      |  5 * n_alpha_words >= 4 * n_words AS ok_alpha,
      |  n_stop_kinds >= 1 AS ok_stop,
      |  10 * n_symbol_words <= n_words AS ok_symbol,
      |  (n_words >= 50 AND n_words <= 100000
      |    AND 3 * n_words <= sum_word_chars AND sum_word_chars <= 10 * n_words
      |    AND 5 * n_alpha_words >= 4 * n_words
      |    AND n_stop_kinds >= 1
      |    AND 10 * n_symbol_words <= n_words) AS pass
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q72 — linear text-classifier scoring (the fastText-style quality /
  // toxicity filter every curation pipeline runs between heuristics and
  // the trainer): hashed bag-of-ngrams — word unigrams + bigrams,
  // md5-bucketed into `clfDim` features — dotted with a model weight
  // vector and normalized by feature count; the sign is the verdict.
  // The weight vector stands in for trained parameters LOADED AS DATA
  // (a one-row frame, the realistic deployment shape), generated here by
  // a deterministic integer LCG over the bucket index so both engines
  // can rebuild it bit-identically.
  //
  // Scale shape: feature hashing + count-vector build is ONE typed
  // mapPartitions pass (the q61 idiom — per-row hot loop goes native,
  // one MessageDigest per partition, zero shuffle); the weight row joins
  // as a one-row BROADCAST (BNLJ — the IVF codebook shape, q38); the
  // dot is the codegen'd `graft_dot` primitive loop. The corpus crosses
  // ZERO keyed exchanges at any scale — the only exchange in the test
  // plan is the gated fan-out. Determinism: bucket counts are integers
  // (order-independent), and both engines fold cnt[i]·w[i] in ascending
  // bucket order (graft_dot left-to-right == the oracle's list_reduce),
  // so the pre-rounding double is bit-identical.
  // ---------------------------------------------------------------------

  private[graft] val clfDim = 128

  /** q72's md5 feature bucket — THE hashing contract every
    * classifier-family operator (q72/q78/q90/q97/q99) shares: first 4
    * digest bytes as unsigned mod dim, kept in lockstep with the
    * oracles' ('0x' || substr(md5(g), 1, 8))::BIGINT % dim idiom.
    * Takes the partition's digest instance (one per mapPartitions). */
  private def clfBucket(md: java.security.MessageDigest, f: String, dim: Int): Int = {
    val dg = md.digest(f.getBytes("UTF-8"))
    ((((dg(0) & 0xFFL) << 24) | ((dg(1) & 0xFFL) << 16) |
      ((dg(2) & 0xFFL) << 8) | (dg(3) & 0xFFL)) % dim).toInt
  }

  /** The classifier family's feature counts of one text: every word
    * unigram, then every `w1_w2` bigram, each counted into its
    * [[clfBucket]] — (n_feats, cnt over `dim` buckets). */
  private def featureCounts(md: java.security.MessageDigest, text: String,
                            dim: Int): (Long, Array[Double]) = {
    val toks = text.split(" ", -1)
    val cnt = new Array[Double](dim)
    var n = 0L
    var i = 0
    while (i < toks.length) { cnt(clfBucket(md, toks(i), dim)) += 1.0; n += 1; i += 1 }
    i = 0
    while (i + 1 < toks.length) {
      cnt(clfBucket(md, toks(i) + "_" + toks(i + 1), dim)) += 1.0; n += 1; i += 1
    }
    (n, cnt)
  }

  /** Per-document (doc_id, n_feats, cnt) feature counts of `df`. */
  private def featureCountsOf(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val dim = clfDim
    df.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val (n, cnt) = featureCounts(md, text, dim)
          (id, n, cnt)
        }
      }
      .toDF("doc_id", "n_feats", "cnt")
  }

  /** Ascending-index dot — graft_dot's left-to-right loop. */
  private def ascDot(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0
    var j = 0
    while (j < a.length) { dot += a(j) * b(j); j += 1 }
    dot
  }

  /** The q72 weight row of [[clfWeightsExpr]] as task-closure doubles. */
  private def clfWeights: Array[Double] = Array.tabulate(clfDim)(j =>
    (((j.toLong * 1103515245L + 12345L) % 1000L) - 500L) / 1000.0)

  /** q72's per-row score of one text: feature counts · w over n_feats,
    * 1e-6-rounded — bit-identical to the batch q72 `score`. */
  private def clfScoreOf(md: java.security.MessageDigest, w: Array[Double],
                         text: String): Double = {
    val (n, cnt) = featureCounts(md, text, w.length)
    math.floor(ascDot(cnt, w) / n * 1e6 + 0.5) / 1e6
  }

  /** The q72 weight row: w[j] = (((j·1103515245 + 12345) mod 1000) − 500)
    * / 1000 — pure integer arithmetic until the final division, exact in
    * both engines. */
  private[graft] val clfWeightsExpr: String =
    s"transform(sequence(0, ${clfDim - 1}), j -> " +
      "((((cast(j as bigint) * 1103515245 + 12345) % 1000) - 500) / 1000.0D)) as w"

  def classifierScore(s: SparkSession, d: String): DataFrame = {
    Similarity.withFns(s)
    val weights = s.range(1).selectExpr(clfWeightsExpr)
    featureCountsOf(Tables.fanOut(Tables.documents(s, d), "doc_id"))
      .crossJoin(broadcast(weights))
      .selectExpr("doc_id", "n_feats",
        "floor(graft_dot(cnt, w) / cast(n_feats as double) * 1e6 + 0.5) / 1e6 as score")
      .withColumn("label", col("score") >= 0)
  }

  /** q72's scorer as a REUSABLE stateless per-row transform for the
    * online curation leg (the qualityGateVerdict discipline): same
    * feature hashing, same ascending-bucket dot — bit-identical to the
    * batch q72 `score` (pinned in ExtensionsSpec) — with the weight row
    * folded into the task closure instead of a broadcast join, so it
    * composes ahead of mixStream/packStream in a continuous query with
    * zero extra plan nodes. Fixed (doc_id, source, text) input schema
    * (the PackDoc discipline); appends clf_score + clf_label. */
  def classifierVerdict(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val w = clfWeights
        it.map { case (id, src, text) =>
          val score = clfScoreOf(md, w, text)
          (id, src, text, score, score >= 0)
        }
      }
      .toDF("doc_id", "source", "text", "clf_score", "clf_label")
  }

  val classifierScoreSql: String =
    s"""WITH w AS (SELECT list_transform(range(0, $clfDim),
       |    j -> (((j * 1103515245 + 12345) % 1000) - 500) / 1000.0) AS wv),
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |f AS (SELECT doc_id, list_concat(toks,
       |    list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])) AS feats
       |  FROM t),
       |c AS (SELECT doc_id, len(feats)::BIGINT AS n_feats,
       |    list_transform(range(0, $clfDim), j ->
       |      len(list_filter(feats, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT % $clfDim = j))::DOUBLE) AS cnt
       |  FROM f),
       |sc AS (SELECT doc_id, n_feats,
       |    floor(list_reduce(list_prepend(0.0::DOUBLE,
       |        list_transform(range(1, ${clfDim + 1}), i -> cnt[i] * wv[i])), (a, b) -> a + b)
       |      / n_feats::DOUBLE * 1e6 + 0.5) / 1e6 AS score
       |  FROM c, w)
       |SELECT doc_id, n_feats, score, score >= 0 AS label
       |FROM sc ORDER BY doc_id""".stripMargin

  /** q20 — n-gram-heuristic language ID: score per language = stopword-
    * marker overlap count; argmax with alphabetic tie-break. The synthetic
    * corpus is English-ish word salad, so predictions are stable — the
    * oracle verifies the scoring machinery, fixtures verify behavior. */
  private val markers = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "que", "y", "los"),
    "fr" -> Seq("le", "et", "les", "des", "un"),
  )

  /** The q20 scoring chain without a presentation order — q57 aggregates
    * it (a pre-aggregation sort would be a wasted range exchange). */
  private def langIdScored(s: SparkSession, d: String): DataFrame = {
    val scoreCols = markers.map { case (l, ws) =>
      s"cast(size(filter(toks, t -> t in (${ws.map(w => s"'$w'").mkString(", ")}))) as bigint) as s_$l"
    }
    val caseExpr = markers.map(_._1).map { l =>
      val others = markers.map(_._1).filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString("CASE ", " ", " END")
    val src = Tables.documents(s, d).select("doc_id", "lang", "text")
    src
      .selectExpr("doc_id", "lang", "split(text, ' ') as toks")
      .selectExpr(Seq("doc_id", "lang") ++ scoreCols: _*)
      .selectExpr("doc_id", "lang", "s_de", "s_en", "s_es", "s_fr",
        s"$caseExpr as predicted")
      .withColumn("matched", col("predicted") === col("lang"))
  }

  def langId(s: SparkSession, d: String): DataFrame =
    langIdScored(s, d)

  val langIdSql: String = {
    val scoreCols = markers.map { case (l, ws) =>
      s"len(list_filter(toks, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")})))::BIGINT AS s_$l"
    }.mkString(",\n  ")
    val caseExpr = markers.map(_._1).map { l =>
      val others = markers.map(_._1).filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString("CASE ", " ", " END")
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  $scoreCols
       |FROM t)
       |SELECT doc_id, lang, s_de, s_en, s_es, s_fr,
       |  $caseExpr AS predicted,
       |  ($caseExpr = lang) AS matched
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** q57 — lang-ID confusion matrix: actual × predicted counts with
    * per-cell share of the actual class — the evaluation report for the
    * q20 classifier (how a curation pipeline audits its labelers). One
    * keyed shuffle over ≤ |langs|² groups after per-row scoring. */
  def langIdConfusion(s: SparkSession, d: String): DataFrame =
    langIdScored(s, d)
      .groupBy(col("lang").as("actual"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("class_share",
        floor(col("n_docs") / sum(col("n_docs")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("actual")))
          * 1e6 + 0.5) / 1e6)

  val langIdConfusionSql: String =
    s"""WITH p AS ($langIdSql)
       |SELECT lang AS actual, predicted, COUNT(*) AS n_docs,
       |  floor(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY lang) * 1e6 + 0.5) / 1e6 AS class_share
       |FROM p GROUP BY lang, predicted
       |ORDER BY actual, predicted""".stripMargin

  /** q21 — document fingerprinting: a 31-polynomial rolling hash over the
    * first 64 chars plus a winnowing-style min-hash over word 3-gram
    * shingles (lexicographic min of md5-hex — engine-neutral). Runs as a
    * mapPartitions JVM loop (one digest per partition); the oracle keeps
    * the equivalent HOF form — identical fold order and arithmetic.
    * ascii(char) == charAt on the ASCII-only corpus (asserted in specs). */
  /** Rolling 31-base poly-hash of the first 64 chars (q21's cheap
    * content key). */
  private def polyHashOf(text: String): Long = {
    var acc = 0L
    var i = 0
    val n = math.min(64, text.length)
    while (i < n) { acc = (acc * 31 + text.charAt(i).toLong) % 1000000007L; i += 1 }
    acc
  }

  /** Minimum word-3-gram md5-prefix shingle hash (null when the doc has
    * < 3 tokens). One md5 per shingle, one pass. Split from the
    * poly-hash so the decontamination reports don't compute a hash they
    * discard on every corpus row. */
  private def minShingleHashOf(md: java.security.MessageDigest,
                               text: String): String = {
    val toks = text.split(" ", -1)
    var minHash: String = null
    var j = 0
    while (j + 2 < toks.length) {
      val h = Tables.hex(md.digest((toks(j) + " " + toks(j + 1) + " " + toks(j + 2))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))).substring(0, 16)
      if (minHash == null || h < minHash) minHash = h
      j += 1
    }
    minHash
  }

  private def fingerprintRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, d).select(col("doc_id"), col("text"))
    src
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          (id, polyHashOf(text), minShingleHashOf(md, text))
        }
      }
      .toDF("doc_id", "poly_hash", "min_shingle_hash")
  }

  /** Fingerprints WITH the doc metadata the decontamination reports
    * aggregate on, carried through the same single mapPartitions pass.
    * The previous shape re-joined `documents` to its own derivative on
    * doc_id — AQE broadcasts that at test scale, but at 100 TB it is a
    * corpus⋈corpus sort-merge (two corpus-wide exchanges) plus a second
    * full scan, recombining a frame with data it was derived FROM.
    * Carrying the columns costs a few bytes per row and zero shuffles. */
  private def fingerprintWithMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"), col("lang"), col("n_chars"))
      .as[(Long, String, String, String, Long)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text, source, lang, nChars) =>
          (id, source, lang, nChars, minShingleHashOf(md, text))
        }
      }
      .toDF("doc_id", "source", "lang", "n_chars", "min_shingle_hash")
  }

  /** q21 — the fingerprint frame above as the query surface. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    fingerprintRaw(s, d)

  /** The q21 fingerprint pipeline as reusable DuckDB CTEs (ends with `fp`:
    * doc_id, poly_hash, min_shingle_hash). */
  private val fingerprintCtes: String =
    """t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |fp AS (SELECT doc_id,
      |  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, least(64, length(text)) + 1),
      |    i -> ascii(substr(text, i::INT, 1))::BIGINT)), (a, b) -> (a * 31 + b) % 1000000007) AS poly_hash,
      |  CASE WHEN len(toks) >= 3 THEN
      |    list_aggregate(list_transform(range(1, len(toks) - 1),
      |      i -> substr(md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]), 1, 16)), 'min')
      |  ELSE NULL END AS min_shingle_hash
      |FROM t)""".stripMargin

  val fingerprintSql: String =
    s"""WITH $fingerprintCtes
       |SELECT doc_id, poly_hash, min_shingle_hash FROM fp ORDER BY doc_id""".stripMargin

  /** q34 — deterministic train/val/test split assignment: bucket = 8 hex
    * chars of md5(doc_id) mod 100 → 80/10/10. Content-hash bucketing is
    * how a 100 TB corpus splits reproducibly with no shuffle and no
    * coordination — assignment is per-row expression work; only the audit
    * aggregation below shuffles (3×languages groups). */
  private val bucketCol =
    "cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"

  def splitAssign(s: SparkSession, d: String): DataFrame =
    // NO fanOut — the aggregate-first exception (q22/q07) applies: at
    // test scale the pre-aggregate per-row work is 5 000 md5s
    // (microseconds), so q34's time is the 2-stage scheduling floor, and
    // an added exchange buys nothing (r7 A/B min-of-7: 0.383 s with
    // fan-out vs 0.401 s without — inside each other's spread). The r6
    // 0.176→0.398 s delta was host stage-overhead variance, not
    // de-parallelization. The bucket is projected ONCE (a CASE
    // referencing $bucketCol twice would md5 every row twice — Catalyst
    // does not CSE across WHEN branches).
    Tables.documents(s, d)
      .selectExpr("lang", "n_chars", s"$bucketCol as bucket")
      .selectExpr("lang", "n_chars",
        """CASE WHEN bucket < 80 THEN 'train'
          |WHEN bucket < 90 THEN 'val' ELSE 'test' END as split"""
          .stripMargin.replace("\n", " "))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  val splitAssignSql: String = {
    val b = "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100"
    s"""SELECT CASE WHEN $b < 80 THEN 'train'
       |  WHEN $b < 90 THEN 'val' ELSE 'test' END AS split,
       |  lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars
       |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q37 — deterministic per-group sampling: the 5 documents per
    * (source, lang) with the smallest md5(doc_id) — reproducible uniform
    * sampling with no RNG state, the per-source cap / data-mixing
    * primitive. One shuffle on the group key; top-k via ranked window,
    * never a global sort. */
  def groupSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr("source", "lang", "doc_id", "n_chars",
        "md5(cast(doc_id as string)) as h")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("lang"))
          .orderBy(col("h"), col("doc_id"))))
      .filter(col("rk") <= 5)
      .select("source", "lang", "rk", "doc_id", "n_chars")

  val groupSampleSql: String =
    """SELECT source, lang, rk, doc_id, n_chars FROM (
      |  SELECT source, lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source, lang
      |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      |  FROM documents) t WHERE rk <= 5
      |ORDER BY source, lang, rk""".stripMargin

  // ---------------------------------------------------------------------
  // q42 — PII scrubbing. The corpus is synthetic word salad with no real
  // PII (asserted: zero '@'/'http' hits), so the query deterministically
  // plants one email, one phone and one IP derived from doc_id, then
  // scrubs them back out with the redaction chain a real pipeline would
  // run. Redaction itself is pure per-row regexp_replace — zero shuffle,
  // codegen'd, embarrassingly parallel at 100 TB. Patterns stay inside
  // the RE2 ∩ java.util.regex common subset so both engines agree.
  // ---------------------------------------------------------------------

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneRe = "\\+\\d[\\d-]{7,}\\d"

  /** Doubles every backslash so a regex survives Spark SQL's escaped
    * string-literal parsing (DuckDB literals keep backslashes as-is). */
  private def sqlRe(re: String): String = re.replace("\\", "\\\\")

  def piiScrub(s: SparkSession, d: String): DataFrame =
    // three regex redaction passes + three counts per row — fan out the
    // single-file test scan (Tables.fanOut; no-op at scale)
    Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select("doc_id", "text").selectExpr(
      "doc_id",
      """concat(text, ' contact user', cast(doc_id as string),
        |'@mail.example.com or +1-555-',
        |lpad(cast(doc_id % 10000 as string), 4, '0'),
        |' at 10.', cast(doc_id % 256 as string), '.0.7 today')"""
        .stripMargin.replace("\n", " ") + " as dirty",
    ).selectExpr(
      "doc_id",
      s"cast(regexp_count(dirty, '${sqlRe(emailRe)}') as bigint) as n_emails",
      s"cast(regexp_count(dirty, '${sqlRe(ipRe)}') as bigint) as n_ips",
      s"cast(regexp_count(dirty, '${sqlRe(phoneRe)}') as bigint) as n_phones",
      s"""regexp_replace(regexp_replace(regexp_replace(dirty,
         |'${sqlRe(emailRe)}', '<EMAIL>'),
         |'${sqlRe(ipRe)}', '<IP>'),
         |'${sqlRe(phoneRe)}', '<PHONE>')""".stripMargin.replace("\n", " ")
        + " as clean",
      "cast(length(dirty) as bigint) as n_dirty_chars",
    ).selectExpr(
      "doc_id", "n_emails", "n_ips", "n_phones",
      "substr(md5(clean), 1, 16) as clean_fp",
      "n_dirty_chars - cast(length(clean) as bigint) as n_removed_chars",
    )

  val piiScrubSql: String =
    s"""WITH dirty AS (SELECT doc_id,
       |  text || ' contact user' || doc_id::VARCHAR ||
       |  '@mail.example.com or +1-555-' ||
       |  lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
       |  ' at 10.' || (doc_id % 256)::VARCHAR || '.0.7 today' AS dirty
       |FROM documents),
       |clean AS (SELECT doc_id, dirty,
       |  regexp_replace(regexp_replace(regexp_replace(dirty,
       |    '$emailRe', '<EMAIL>', 'g'),
       |    '$ipRe', '<IP>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g') AS clean
       |FROM dirty)
       |SELECT doc_id,
       |  len(regexp_extract_all(dirty, '$emailRe'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(dirty, '$ipRe'))::BIGINT AS n_ips,
       |  len(regexp_extract_all(dirty, '$phoneRe'))::BIGINT AS n_phones,
       |  substr(md5(clean), 1, 16) AS clean_fp,
       |  (length(dirty) - length(clean))::BIGINT AS n_removed_chars
       |FROM clean ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q43 — TF-IDF top terms per document. The scale-shaped plan:
  //  - TF: one shuffle on (doc_id, term) with map-side partial counts;
  //  - DF: distinct (term, doc) then one shuffle on term — the result is
  //    vocabulary-sized (≪ corpus), so it broadcasts;
  //  - corpus size N: a 1-row aggregate, broadcast via cross join;
  //  - scoring: TF ⋈ broadcast(IDF) — the fact side never reshuffles;
  //  - top-3/doc: ranked window over the existing (doc_id, term)
  //    clustering, never a global sort.
  // ln() differences across libm land at the 1e-16 ulp level; the 1e-6
  // output quantization (suite-wide rule) absorbs them.
  // ---------------------------------------------------------------------

  def tfidf(s: SparkSession, d: String): DataFrame = {
    // persisted: feeds both the TF and the DF aggregations — without it
    // the scan + split + explode runs twice (module caching rule)
    // doc_id fan-out SATISFIES both downstream clusterings — the
    // (doc_id, term) TF groupBy and the distinct() — so the exchange
    // replaces the TF shuffle instead of adding one (net zero), while
    // the explode runs parallel instead of on one scan task
    val toks = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .transform(Tables.maybePersist)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val n  = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(n))
      .withColumn("idf", log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0)
    val scored = tf.join(broadcast(idf), "term")
      .withColumn("score",
        floor(col("tf") * col("idf") * 1e6 + 0.5) / 1e6)
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))).cast("long"))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "tf", "df", "score")
  }

  val tfidfSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df
      |  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |  floor((tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)) * 1e6 + 0.5) / 1e6 AS score
      |  FROM tf, df, n WHERE tf.term = df.term),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |  ORDER BY score DESC, term) AS rk FROM scored)
      |SELECT doc_id, rk, term, tf, df, score FROM r WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------------
  // q129 — BM25 RANKED RETRIEVAL (r14): the lexical scoring rung above
  // q43's TF-IDF — the probabilistic saturation form (Robertson/Lucene)
  // that hybrid retrieval stacks pair with the vector side (q26/q127):
  // score(doc) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(0.25 + 0.75·dl/avgdl))
  // with idf = ln((N − df + 0.5)/(df + 0.5) + 1) (always positive, the
  // Lucene guard) and k1 = 1.2, b = 0.75. The query is derived from the
  // corpus deterministically — the 3 highest-df terms appearing in at
  // most 90% of docs (exact-integer filter df·10 ≤ n·9, ties
  // alphabetical) — so the row works at every fixture scale with no
  // baked-in tokens. Determinism: tf/df/dl/N are exact longs, avgdl a
  // double of exact longs, both engines evaluate the IDENTICAL
  // expression tree (the q94 ln discipline), per-(doc, term) scores
  // micro-quantize to exact longs BEFORE the per-doc sum (order-free),
  // top-10 orders by the exact long.
  //
  // Scale shape (100 TB): one corpus-keyed exchange for (doc, term)
  // tf + one doc-keyed count for dl (both map-side combined from the
  // same persisted token frame); df/stats collapse to term-granular and
  // 1-row frames; the query terms are a 3-row broadcast, so scoring
  // touches only the ≤3·N matching tf rows; top-10 is TakeOrdered.
  // ---------------------------------------------------------------------

  /** The q129 scoring tail over ANY (doc_id, term, tf) + (doc_id, dl)
    * + 3-row (term, df, n_docs, avgdl) frames — shared verbatim by the
    * from-scratch q129 and the standing-index probe q132, so the two
    * routes cannot drift. Per-(doc, term) scores micro-quantize to
    * exact longs BEFORE the per-doc sum (order-free); top-10 orders by
    * the exact long. */
  /** The per-(doc, term) exact-long BM25 score over columns
    * (tf, df, n_docs, avgdl, dl) — ONE expression string shared by the
    * batch score, the index probe, and the online serving leg. */
  private[graft] val bm25MicroExpr: String =
    """cast(floor(
      |  ln((cast(n_docs as double) - cast(df as double) + 0.5) / (cast(df as double) + 0.5) + 1.0)
      |  * (cast(tf as double) * 2.2)
      |  / (cast(tf as double) + 1.2 * (0.25 + 0.75 * (cast(dl as double) / avgdl)))
      |  * 1e6 + 0.5) as bigint) as micro"""
      .stripMargin.replace("\n", " ")

  private[graft] def bm25Score(tf: DataFrame, dl: DataFrame,
                               qterms: DataFrame): DataFrame =
    tf.join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .selectExpr("doc_id", bm25MicroExpr)
      .groupBy("doc_id").agg(sum(col("micro")).as("micro"))
      .orderBy(col("micro").desc, col("doc_id")).limit(10)
      .selectExpr("doc_id", "micro / 1e6 as bm25")

  /** The q129/q132 query derivation over a (term, df) frame + 1-row
    * stats: top-3 df terms in ≤ 90% of docs, ties alphabetical. */
  private[graft] def bm25QueryTerms(df: DataFrame, stats: DataFrame): DataFrame =
    df.crossJoin(broadcast(stats))
      .filter(col("df") * 10 <= col("n_docs") * 9)
      .orderBy(col("df").desc, col("term")).limit(3)
      .select("term", "df", "n_docs", "avgdl")

  def bm25(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .transform(Tables.maybePersist)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      .selectExpr("n_docs", "cast(tot as double) / cast(n_docs as double) as avgdl")
    val df = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    bm25Score(tf, dl, bm25QueryTerms(df, stats))
  }

  // ---------------------------------------------------------------------
  // q132 — STANDING LEXICAL (BM25) INVERTED INDEX (r15): the lexical
  // member of the standing-index family (raw ANN q119, compressed
  // IVF-PQ q126) — a production retrieval stack does not re-tokenize
  // 100 TB per query; it builds the inverted index ONCE and serves
  // probes from it. q132b is the once-per-life build: postings
  // (term, doc_id, tf) written PARTITIONED BY a 16-way term-hash bucket
  // (`tb = pmod(hash(term), 16)` — Murmur3, deterministic), plus the
  // doc-length table, the term-granular (term, df) dictionary, and the
  // 1-row corpus stats. q132 is the nightly probe: the SAME q129 query
  // derivation runs off the stored dictionary (term-granular, tiny),
  // and the postings scan PRUNES to the probed terms' buckets — the
  // partition-column isin filter reaches the file listing, so a probe
  // touches ≤ 3/16 of the postings files no matter how large the
  // corpus (BucketingSpec-style numFiles proof). Scoring is
  // [[bm25Score]] verbatim — the index is LOSSLESS, so the oracle is
  // q129's from-scratch SQL and stored ≡ inline is additionally
  // spec-pinned.
  //
  // Scale shape (100 TB): the build is q129's two corpus-keyed
  // exchanges + a partitioned write (one shuffle on tb to co-locate
  // buckets); the probe reads 3 bucket partitions + two tiny tables,
  // joins the 3-row broadcast query, and its only wide work is the
  // ≤3·N_matching tf rows — the corpus text itself is never touched.
  // ---------------------------------------------------------------------

  private[graft] def lexIndexPathFor(d: String): String =
    ScratchPaths.indexPathFor(s"q132-${ScratchPaths.tableFingerprint(d, "documents")}", d)

  private val LexBuckets = 16

  // ---------------------------------------------------------------------
  // LEXICAL INDEX LIFECYCLE (r19, VERDICT r18 #1): the BM25 index was the
  // one standing-index family with build+probe only — no merge, no
  // right-to-be-forgotten, no versioning, and idf/avgdl frozen at build
  // time — while hybrid serving (q133) reads it in production position.
  // It now carries the full ANN/media lifecycle contract, LSM-style:
  //
  //  · terms and stats are SEGMENT-STAMPED CONTRIBUTION LOGS, not
  //    materialized values: build writes the base segment (seg = −1),
  //    each merge APPENDS (+df per term, +n_docs/+token mass) under its
  //    own segment id, each takedown APPENDS the victims' negatives.
  //    Readers fold (distinct → sum) — so idf and avgdl re-price against
  //    the CURRENT population at EVERY read, continuously closing the
  //    frozen-statistic tax the plane-dial crossing quantified at 3×
  //    (BENCH_NOTES_r18 §1), with no growth trigger to mistune. The
  //    distinct is the crash-replay guard: a merge that crashed between
  //    artifact appends recomputes byte-identical rows on redelivery
  //    (same segment id — Structured Streaming's stable batchId — same
  //    deterministic tokenize), so replays collapse instead of
  //    double-counting. Segment ids must be unique per logical merge —
  //    the foreachBatch contract; batch gate rows use a constant because
  //    their re-runs ARE replays.
  //  · postings/doclens append admitted docs only (the doclens registry
  //    anti-join is the replay guard — doclens is written LAST, so a
  //    crashed merge re-runs in full and its partials collapse).
  //  · deletion is LAZY (the ANN r19 discipline): takedowns append to a
  //    root-level tombstone log (+ the media pending-forget log for
  //    ids that have not arrived yet); every reader anti-joins it;
  //    [[compactLexIndex]] makes it physical in a fresh committed
  //    version (the [[IndexLifecycle]] version store) and keep-N GC
  //    retires the tail. No reader's planned file listing is ever
  //    invalidated by any writer — appends and fresh version dirs only.
  //
  // Scale shape (100 TB): merges touch batch-sized rows (tokenize +
  // three appends, zero index rewrite); takedowns cost one pushdown
  // locate + request-sized appends; the probe still reads ≤ 3/16
  // postings buckets + the dictionary fold (term-granular) + the
  // request-sized tombstone broadcast; compaction is the only
  // corpus-sized pass and amortizes LSM-style.
  // ---------------------------------------------------------------------

  /** The lexical family's lifecycle: doclens is the registry, the build
    * writes postings last, the doc lengths ride into the takedown for
    * the negative stat contributions, and contribution segments past
    * `spark.graft.lexCompactSegments` (default 16) are a second
    * compaction trigger — bounding the per-read fold width and the
    * crash-dupe distinct's input; the stamp-memoized [[lexSegCount]]
    * keeps that check zero-job between mutations. The tombstone and
    * pending logs stay at the PATH ROOT, shared across versions. */
  private[graft] val lexFamily = IdLogFamily("lex", "doc_id", "doclens", "postings",
    Seq("postings", "doclens", "terms", "stats"), compactLexIndex,
    carry = Seq("dl"),
    fragmented = (s, root) => lexSegCount(s, root) - 1 >
      IndexLifecycle.confInt(s, "spark.graft.lexCompactSegments", 16))

  /** The folded dictionary of a resolved root: segment contributions
    * collapsed (distinct = the crash-replay guard) then summed per term;
    * fully-forgotten terms (df folds to 0) drop out. Term-granular —
    * always far smaller than the corpus. */
  private[graft] def lexTermsOf(s: SparkSession, root: String): DataFrame =
    IndexLifecycle.readStamped(s, s"$root/terms").distinct()
      .groupBy("term").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)

  /** The folded 1-row corpus stats of a resolved root — n_docs and avgdl
    * derived from the contribution log at READ time, so every probe
    * prices idf/avgdl against the population as of now. */
  private[graft] def lexStatsOf(s: SparkSession, root: String): DataFrame =
    IndexLifecycle.readStamped(s, s"$root/stats").distinct()
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot")).as("tot"))
      .selectExpr("cast(n_docs as bigint) as n_docs",
        "cast(tot as double) / cast(n_docs as double) as avgdl")

  /** Live doc lengths: stored rows minus the tombstone log. */
  private[graft] def lexDoclensOf(s: SparkSession, path: String,
                                  root: String): DataFrame =
    IndexLifecycle.live(lexFamily, path)(
      IndexLifecycle.readStamped(s, s"$root/doclens"))

  /** Segment count of a root's contribution log — MEMOIZED per root
    * (r20, VERDICT r19 #5 + advice #4): probes, serving-stream setups,
    * and the per-micro-batch maintenance check must not re-derive it
    * with a driver-side job each time. The cache is validated against
    * the stats directory's (fileCount, byteLength) STAMP, read BEFORE
    * deriving — any append, from this driver or another, adds a parquet
    * file and so changes the stamp, forcing a re-derive at the next
    * read. This closes both under-count routes a writer-maintained
    * counter would have (a reader caching a pre-append derivation over
    * a concurrent writer's bump; a foreign driver appending into the
    * same root), and an under-count here is the one staleness that
    * could skip the crash-dupe distinct and corrupt BM25. The stamp
    * and the value live in ONE atomic memo entry
    * ([[IndexLifecycle.stampedMemo]]) — split across keys, a reader
    * could pair a concurrent deriver's fresh stamp with the stale
    * count it had not yet replaced. Steady-state read cost: one flat
    * content summary, zero Spark jobs. */
  private[graft] def lexSegCount(s: SparkSession, root: String): Long =
    IndexLifecycle.stampedMemo(s"$root#lex.segs",
        IndexLifecycle.dirStamp(s, s"$root/stats")) {
      IndexLifecycle.readStamped(s, s"$root/stats").select("seg").distinct().count()
    }

  /** Whether the root carries appended merge/forget segments beyond the
    * build's base. Posting-row duplicates can ONLY exist once a merge's
    * stats segment has landed (the merge writes terms → stats →
    * postings → doclens, so any crash window that leaves replayable
    * posting rows has already appended its stats row), and compaction
    * collapses back to the single base segment — so a single-segment
    * stats log PROVES the postings are dupe-free and the crash-dupe
    * distinct can be skipped. Memoized via [[lexSegCount]] (r20) — no
    * per-probe driver job. */
  private[graft] def lexHasSegments(s: SparkSession, root: String): Boolean =
    lexSegCount(s, root) > 1

  /** Live postings (unpruned — the stream-static serving side): crash
    * dupes collapsed when segments exist, tombstoned docs subtracted. */
  private[graft] def lexPostingsOf(s: SparkSession, path: String,
                                   root: String): DataFrame = {
    val base = IndexLifecycle.readStamped(s, s"$root/postings").drop("tb")
    IndexLifecycle.live(lexFamily, path)(
      if (lexHasSegments(s, root)) base.distinct() else base)
  }

  /** The shared deterministic tokenizer — build, merge, and the q129
    * from-scratch route must agree to the token. */
  private def lexTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))

  /** Once-per-life build; returns the read-back postings row count.
    * Stat/dictionary artifacts first, postings LAST — the lazy gates key
    * "built" on postings/_SUCCESS, so a crash mid-build can never leave
    * a gate-visible index with missing statistics (the buildIndexFrom
    * write-order discipline). */
  def buildLexIndex(s: SparkSession, d: String, path: String): Long =
    IndexLifecycle.withWriter(s, path) {
      val toks = lexTokens(Tables.fanOut(Tables.documents(s, d), "doc_id"))
        .transform(Tables.maybePersist)
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        .transform(Tables.maybePersist)
      // doclens is materialized FIRST on its own (it populates both
      // persisted frames exactly once — two racing legs would otherwise
      // both compute the token explode); then the three remaining side
      // artifacts are mutually independent and overlap (guide §2.6).
      // The write-order crash discipline only requires every side
      // artifact to land BEFORE postings (the lazy gates key "built" on
      // postings/_SUCCESS), which the join below preserves.
      dl.write.mode("overwrite").parquet(s"$path/doclens")
      Par.run2(
        toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
          .withColumn("seg", lit(-1L)) // the base contribution segment
          .write.mode("overwrite").parquet(s"$path/terms"),
        dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
          .selectExpr("cast(n_docs as bigint) as n_docs",
            "cast(tot as bigint) as tot", "cast(-1 as bigint) as seg")
          .write.mode("overwrite").parquet(s"$path/stats"))
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("tb", pmod(hash(col("term")), lit(LexBuckets)))
        .repartition(col("tb")) // co-locate buckets: one file per partition value
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings")
      // read-back count from the artifact's parquet footers (r21): same
      // value as the Spark count it replaces, zero jobs on the build tail
      IndexLifecycle.parquetFooterRows(s, s"$path/postings")
    }

  /** The nightly probe against the stored artifacts — version root
    * resolved ONCE (a compaction committing mid-plan must not mix
    * versions within one probe), statistics folded as of now, postings
    * bucket-pruned then crash-dupe-collapsed and tombstone-subtracted. */
  def lexIndexProbeStored(s: SparkSession, d: String, path: String): DataFrame = {
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    val qterms = bm25QueryTerms(lexTermsOf(s, root), lexStatsOf(s, root))
      .transform(Tables.maybePersist) // 3 rows — feeds the bucket filter AND the score join
    // probed buckets, derived with the WRITE side's own expression —
    // a 3-value isin on the partition column, so pruning reaches the
    // file listing (numFiles ≤ 3 of 16, proven in BucketingSpec)
    val tbs = qterms
      .selectExpr(s"pmod(hash(term), $LexBuckets) as tb")
      .distinct().collect().map(_.getInt(0).toString)
    // crash-dupe collapse, GATED on segmented-ness ([[lexHasSegments]]:
    // a single-segment stats log proves the postings dupe-free, so the
    // common base-index probe keeps its r18 plan) and run AFTER the
    // query-term semi-join — the exchange carries the ≤3-term matched
    // rows of ≤3 pruned buckets, never the bucket population. This is
    // the one probe-side cost of the LSM merge's replay contract (a
    // crashed merge's partial appends are byte-identical to their
    // redelivery, collapsed here).
    val pruned = IndexLifecycle.readStamped(s, s"$root/postings")
      .filter(col("tb").isin(tbs: _*))
      .drop("tb")
    val postings = IndexLifecycle.live(lexFamily, path)(
      if (lexHasSegments(s, root))
        pruned.join(broadcast(qterms.select("term")), Seq("term"), "left_semi")
          .distinct()
      else pruned)
    bm25Score(postings, lexDoclensOf(s, path, root), qterms)
  }

  /** q142's core — fold ONE (doc_id, text) batch into the standing
    * lexical index. `seg` stamps this merge's term/stat contribution
    * rows; it must be unique per logical merge (Structured Streaming's
    * batchId — stable across replays — in the online leg). Returns
    * (admitted, refused). Idempotent: already-indexed ids anti-join away
    * against the doclens registry, tombstoned ids can never re-admit,
    * and a crash-windowed partial replay re-appends byte-identical rows
    * that the read-side distinct collapses. */
  def mergeLexBatchIntoIndex(batch: DataFrame, path: String, seg: Long): (Long, Long) = {
    val s = batch.sparkSession
    IndexLifecycle.withWriter(s, path) {
      val counts = IndexLifecycle.merge(lexFamily,
          batch.select(col("doc_id").cast("long"), col("text")), path) { (root, fresh, _) =>
        val toks = lexTokens(fresh).transform(Tables.maybePersist)
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .transform(Tables.maybePersist)
        // one eager pass: the count and both dl consumers below read it
        val (dl, Seq(nAdmit)) = IndexLifecycle.checkpointCounting(
          toks.groupBy("doc_id").agg(count(lit(1)).as("dl")), lit(true))
        try if (nAdmit > 0) {
          // the three contribution appends are mutually independent and
          // none is the replay guard — overlap them (guide §2.6, the
          // buildLexIndex Par discipline on the merge tail, r21); the
          // write-order crash rule only requires every one of them to
          // land BEFORE the doclens registry, which the join preserves
          Par.run3(
            // df contributions: +1 per (term, admitted doc), this segment
            tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
              .withColumn("seg", lit(seg))
              .writeArtifact(s"$root/terms", "append"),
            // corpus-stat contribution: admitted docs + their token mass —
            // idf/avgdl re-price at the next read, no trigger needed
            dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
              .selectExpr("cast(n_docs as bigint) as n_docs",
                "cast(tot as bigint) as tot", s"cast($seg as bigint) as seg")
              .writeArtifact(s"$root/stats", "append"),
            // delta postings into the bucket layout (append-only — a
            // probe's planned listing is never invalidated)
            tf.withColumn("tb", pmod(hash(col("term")), lit(LexBuckets)))
              .repartition(col("tb"))
              .writeArtifact(s"$root/postings", "append", "tb"))
          // the registry LAST: a crash anywhere above replays the whole
          // batch (identical rows → read-side collapse); after this write
          // the replay anti-joins to nothing
          dl.writeArtifact(s"$root/doclens", "append")
        } finally { // a stream merges per micro-batch: hold nothing past it
          Tables.freeCheckpoint(dl)
          tf.unpersist(blocking = false)
          toks.unpersist(blocking = false)
        }
        nAdmit
      }
      // merge-side maintenance, UNCONDITIONAL (r20, the forget-tail
      // rule): a crash after the doclens registry but before the check
      // replays into nAdmit = 0, which must not skip the fragmentation
      // check forever; the check is zero-job (stamp-memoized segment
      // count + the amortized tombstone bound)
      IndexLifecycle.maybeCompact(s, lexFamily, path)
      counts
    }
  }

  /** q143's core — right-to-be-forgotten against the standing lexical
    * index, LSM-style: victims located in the doclens registry append to
    * the root tombstone log (lazy deletion — effective immediately, one
    * broadcast anti-join per read) PLUS their negative df/doc-count/
    * token-mass contributions (so idf/avgdl re-price to the surviving
    * population at the next read); never-admitted ids land in the
    * pending log, consumed by the id's first arrival. The artifacts are
    * never rewritten — [[compactLexIndex]] makes deletion physical.
    * Idempotent: already-tombstoned ids drop out of `marked`, so
    * re-delivery appends nothing; a crash between the contribution
    * appends and the tombstone write replays into byte-identical
    * contribution rows that the read-side distinct collapses. Returns
    * the newly-tombstoned count. */
  def forgetLexFromIndex(requests: DataFrame, path: String, seg: Long): Long =
    IndexLifecycle.takedown(lexFamily, requests, path, beforeTombstone = (root, present) => {
      val s = requests.sparkSession
      // the two negative contribution appends are independent of each
      // other — overlap them; the tombstone registry stays LAST (a crash
      // here replays in full — identical negatives collapse; a crash
      // after the tombstone append replays to nothing)
      Par.run2(
        // negative df contributions, derived by locating the victims'
        // postings rows (request-sized broadcast onto a pushdown id scan)
        IndexLifecycle.readStamped(s, s"$root/postings")
          .join(broadcast(present.select("doc_id")), Seq("doc_id"), "left_semi")
          .select("doc_id", "term").distinct() // collapse crash-dupe segments
          .groupBy("term")
          .agg((count(lit(1)) * lit(-1L)).cast("long").as("df"))
          .withColumn("seg", lit(seg))
          .writeArtifact(s"$root/terms", "append"),
        present
          .agg((count(lit(1)) * lit(-1L)).as("n_docs"),
            (sum(col("dl")) * lit(-1L)).as("tot"))
          .selectExpr("cast(n_docs as bigint) as n_docs",
            "cast(tot as bigint) as tot", s"cast($seg as bigint) as seg")
          .writeArtifact(s"$root/stats", "append")): Unit
    })

  /** Scheduled compaction, VERSIONED (the compactMediaIndex discipline):
    * rewrites postings/doclens minus the tombstoned docs, collapses the
    * contribution logs to one base segment each, lands in a fresh
    * committed `versions/v%05d` (a probe that resolved pre-commit keeps
    * its files end-to-end), then keep-N GC retires the tail. No-ops when
    * there are no live victims and no appended segments — the fixed-
    * point re-run costs counts, not a corpus copy. Logs stay at the
    * PATH ROOT (audit trail + the merge-side replay guard forever). */
  def compactLexIndex(s: SparkSession, path: String): Unit =
    IndexLifecycle.compactVersion(s, lexFamily, path) { root =>
      val victims = IndexLifecycle.liveVictims(s, lexFamily, path, root)
      val segments = IndexLifecycle.readStamped(s, s"$root/stats")
        .select("seg").distinct().count()
      Option.when(victims > 0 || segments > 1) { newRoot =>
        val dl = lexDoclensOf(s, path, root).transform(Tables.maybePersist)
        // the four writes are independent: overlap them two-by-two
        // (guide §2.6, r21; dl's two consumers share one thread so the
        // persisted frame fills once)
        try Par.run2(
          {
            dl.write.mode("overwrite").parquet(s"$newRoot/doclens")
            dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
              .selectExpr("cast(n_docs as bigint) as n_docs",
                "cast(tot as bigint) as tot", "cast(-1 as bigint) as seg")
              .write.mode("overwrite").parquet(s"$newRoot/stats")
          },
          {
            lexTermsOf(s, root).withColumn("seg", lit(-1L))
              .write.mode("overwrite").parquet(s"$newRoot/terms")
            IndexLifecycle.live(lexFamily, path)(
                IndexLifecycle.readStamped(s, s"$root/postings").drop("tb").distinct())
              .withColumn("tb", pmod(hash(col("term")), lit(LexBuckets)))
              .repartition(col("tb"))
              .write.mode("overwrite").partitionBy("tb").parquet(s"$newRoot/postings")
          }): Unit
        finally dl.unpersist(blocking = false): Unit
      }
    }

  /** The q142 gate chain: lazy build → fold the +100000-rekeyed delta
    * docs in → probe the MERGED index. The oracle recomputes BM25 from
    * scratch over the unioned corpus, so the probe's answer certifies
    * the delta postings fold AND the re-priced df/n_docs/avgdl — a
    * frozen statistic moves the query-term derivation or the scores and
    * breaks the hash. Re-runs are fixed points (the registry anti-join
    * refuses the replayed delta). */
  def lexIndexMerge(s: SparkSession, d: String): DataFrame = {
    val path = ScratchPaths.indexPathFor(
      s"q142-${ScratchPaths.tableFingerprint(d, "documents")}", d)
    if (!IndexLifecycle.exists(s, lexFamily, path)) buildLexIndex(s, d, path)
    mergeLexBatchIntoIndex(
      Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
        .selectExpr("doc_id + 100000 as doc_id", "text"),
      path, seg = 1L)
    lexIndexProbeStored(s, d, path)
  }

  /** The q143 gate chain: lazy build → forget the doc_id % 7 = 3 docs →
    * probe the post-takedown index. The oracle recomputes BM25 over the
    * SURVIVING corpus only, so the probe certifies the tombstone
    * anti-joins on postings/doclens AND the negative df/doc-count/token-
    * mass contributions — idf and avgdl must price the survivors
    * exactly. Fixed point under re-runs (victims already tombstoned →
    * nothing appended). */
  def lexIndexForget(s: SparkSession, d: String): DataFrame = {
    val path = ScratchPaths.indexPathFor(
      s"q143-${ScratchPaths.tableFingerprint(d, "documents")}", d)
    if (!IndexLifecycle.exists(s, lexFamily, path)) buildLexIndex(s, d, path)
    forgetLexFromIndex(
      Tables.documents(s, d).filter(col("doc_id") % 7 === 3).select("doc_id"),
      path, seg = 1L)
    lexIndexProbeStored(s, d, path)
  }

  /** The q144 gate chain (r19): the full auto-maintained lifecycle in
    * one arc — lazy build → merge the rekeyed delta → forget ~29% of the
    * population, which crosses `spark.graft.compactTombstoneFrac`'s
    * default so the forget's MAINTENANCE TAIL auto-compacts (no explicit
    * compact call anywhere — the row certifies the policy trigger's
    * output, a fresh committed version with victims physically removed
    * and the contribution logs collapsed to one base segment) → probe
    * the compacted index. The oracle recomputes BM25 from scratch over
    * (survivors ∪ delta), so the probe certifies that compaction
    * preserved the merged postings, the physical deletion, AND the
    * re-priced idf/avgdl exactly. Fixed point under re-runs (delta
    * refused by the registry, victims already tombstoned, compaction
    * no-ops on a single-segment victimless version). */
  def lexIndexMaintain(s: SparkSession, d: String): DataFrame = {
    val path = ScratchPaths.indexPathFor(
      s"q144-${ScratchPaths.tableFingerprint(d, "documents")}", d)
    if (!IndexLifecycle.exists(s, lexFamily, path)) buildLexIndex(s, d, path)
    mergeLexBatchIntoIndex(
      Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
        .selectExpr("doc_id + 100000 as doc_id", "text"),
      path, seg = 1L)
    forgetLexFromIndex(
      Tables.documents(s, d).filter(col("doc_id") % 3 === 1).select("doc_id"),
      path, seg = 2L)
    lexIndexProbeStored(s, d, path)
  }

  /** The q129 CTE chain through the per-doc exact-long score `ag`,
    * parameterized by the corpus source so the lifecycle rows (q142
    * merged corpus, q143 survivors) reuse the identical arithmetic. */
  private val bm25CtesTail: String =
    """
      |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, COUNT(*)::BIGINT AS dl FROM toks GROUP BY 1),
      |st AS (SELECT COUNT(*)::BIGINT AS n_docs,
      |    SUM(dl)::DOUBLE / COUNT(*)::DOUBLE AS avgdl FROM dl),
      |df AS (SELECT term, COUNT(*)::BIGINT AS df
      |  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
      |qt AS (SELECT term, df, n_docs, avgdl FROM df, st
      |  WHERE df * 10 <= n_docs * 9 ORDER BY df DESC, term LIMIT 3),
      |sc AS (SELECT tf.doc_id,
      |    CAST(floor(
      |      ln((qt.n_docs::DOUBLE - qt.df::DOUBLE + 0.5) / (qt.df::DOUBLE + 0.5) + 1.0)
      |      * (tf.tf::DOUBLE * 2.2)
      |      / (tf.tf::DOUBLE + 1.2 * (0.25 + 0.75 * (dl.dl::DOUBLE / qt.avgdl)))
      |      * 1e6 + 0.5) AS BIGINT) AS micro
      |  FROM tf JOIN qt ON qt.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id),
      |ag AS (SELECT doc_id, SUM(micro)::BIGINT AS micro FROM sc GROUP BY doc_id)""".stripMargin

  def bm25CtesSqlFrom(src: String): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM $src),""".stripMargin + bm25CtesTail

  /** The q129 CTE chain over `documents`, exposed so q131's hybrid
    * fusion reuses the lexical head verbatim. */
  val bm25CtesSql: String = bm25CtesSqlFrom("documents")

  /** q142's oracle: BM25 from scratch over the MERGED corpus (base ∪
    * the +100000-rekeyed delta) — the DuckDB mirror of probing the
    * post-merge standing index. */
  val lexIndexMergeSql: String =
    s"""WITH docs2 AS (SELECT doc_id, text FROM documents
       |    UNION ALL
       |    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 3),
       |${bm25CtesSqlFrom("docs2")}
       |SELECT doc_id, micro / 1e6 AS bm25
       |FROM ag ORDER BY micro DESC, doc_id LIMIT 10""".stripMargin

  /** q143's oracle: BM25 from scratch over the SURVIVING corpus — idf,
    * avgdl, and the query-term derivation all priced on survivors. */
  val lexIndexForgetSql: String =
    s"""WITH docs2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
       |${bm25CtesSqlFrom("docs2")}
       |SELECT doc_id, micro / 1e6 AS bm25
       |FROM ag ORDER BY micro DESC, doc_id LIMIT 10""".stripMargin

  /** q144's oracle: BM25 from scratch over (survivors ∪ the rekeyed
    * delta) — the DuckDB mirror of probing the auto-compacted index
    * after the merge + policy-triggered takedown compaction. */
  val lexIndexMaintainSql: String =
    s"""WITH docs2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 1
       |    UNION ALL
       |    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 3),
       |${bm25CtesSqlFrom("docs2")}
       |SELECT doc_id, micro / 1e6 AS bm25
       |FROM ag ORDER BY micro DESC, doc_id LIMIT 10""".stripMargin

  val bm25Sql: String =
    s"""WITH $bm25CtesSql
       |SELECT doc_id, micro / 1e6 AS bm25
       |FROM ag ORDER BY micro DESC, doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q44 — corpus length distribution per language: exact interpolated
  // quantiles (Spark `percentile` ≡ DuckDB `quantile_cont`, both
  // a[h] + frac·(a[h+1]−a[h]) on the sorted column). One shuffle on the
  // group key; per-group sorted accumulation is bounded by group size.
  // The curation use: cut thresholds (p10 floor / p99 ceiling) for
  // length-based filtering are derived per language, not globally.
  // ---------------------------------------------------------------------

  def lengthQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        expr("floor(percentile(n_chars, 0.10) * 1e6 + 0.5) / 1e6").as("p10"),
        expr("floor(percentile(n_chars, 0.50) * 1e6 + 0.5) / 1e6").as("p50"),
        expr("floor(percentile(n_chars, 0.90) * 1e6 + 0.5) / 1e6").as("p90"),
        expr("floor(percentile(n_chars, 0.99) * 1e6 + 0.5) / 1e6").as("p99"),
        max(col("n_chars")).as("max_chars"))

  val lengthQuantilesSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  MIN(n_chars) AS min_chars,
      |  floor(quantile_cont(n_chars, 0.10) * 1e6 + 0.5) / 1e6 AS p10,
      |  floor(quantile_cont(n_chars, 0.50) * 1e6 + 0.5) / 1e6 AS p50,
      |  floor(quantile_cont(n_chars, 0.90) * 1e6 + 0.5) / 1e6 AS p90,
      |  floor(quantile_cont(n_chars, 0.99) * 1e6 + 0.5) / 1e6 AS p99,
      |  MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q64 — q44's 100 TB twin: the report a user actually runs at corpus
  // scale is `percentile_approx` (Greenwald-Khanna, bounded memory per
  // group regardless of group size), not exact `percentile` (buffers
  // every distinct value). The approx VALUE itself is not
  // oracle-mappable — DuckDB's approx_quantile is a t-digest, a
  // different public algorithm, so cross-engine hash equality is
  // impossible by construction. What IS pinnable is GK's deterministic
  // contract: the returned value's RANK is within ε·n of the target
  // rank (ε = 1/accuracy). So the query runs the real approx operator,
  // then rank-validates each result against the same corpus in-query
  // (tie-safe two-sided check: strictly-below count can't exceed the
  // upper rank bound, at-or-below count can't miss the lower bound) and
  // emits the validation verdicts next to exact min/max/count. The
  // oracle pins the whole row including all-within-tolerance — a GK
  // contract violation, a rank-check bug, or a grouping drift all break
  // the hash. Scale shape: one agg pass + one broadcast-join validation
  // pass over the corpus (the validation is the test harness's job; a
  // production run keeps only the first pass).
  // ---------------------------------------------------------------------

  private val ApproxQs = Seq(0.10, 0.50, 0.90, 0.99)
  private val ApproxAccuracy = 100 // ε = 1/accuracy = 1% rank error

  def lengthQuantilesApprox(s: SparkSession, d: String): DataFrame = {
    val eps = 1.0 / ApproxAccuracy
    val docs = Tables.documents(s, d).select(col("lang"), col("n_chars"))
    val approx = docs.groupBy("lang").agg(
      count(lit(1)).as("n"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"),
      percentile_approx(col("n_chars"),
        array(ApproxQs.map(lit): _*), lit(ApproxAccuracy)).as("ap"))
    val aggs: Seq[org.apache.spark.sql.Column] =
      Seq(first(col("n")).as("n_docs"),
          first(col("min_chars")).as("min_chars"),
          first(col("max_chars")).as("max_chars")) ++
        ApproxQs.indices.map { i =>
          sum(when(col("n_chars") < col("ap")(i), 1L).otherwise(0L)).as(s"lt$i")
        } ++ ApproxQs.indices.map { i =>
          sum(when(col("n_chars") <= col("ap")(i), 1L).otherwise(0L)).as(s"le$i")
        }
    val validated = docs.join(broadcast(approx), Seq("lang"))
      .groupBy(col("lang"))
      .agg(aggs.head, aggs.tail: _*)
    val checks = ApproxQs.zipWithIndex.map { case (p, i) =>
      // returned rank r ∈ [⌈p·n⌉ − ε·n, ⌈p·n⌉ + ε·n]; +1 absorbs the ceil
      ((col(s"lt$i") <= lit(p + eps) * col("n_docs") + lit(1.0)) &&
       (col(s"le$i") >= lit(p - eps) * col("n_docs") - lit(1.0)))
        .as(s"p${(p * 100).round}_in_tolerance")
    }
    validated.select(
      col("lang") +: col("n_docs") +: col("min_chars") +: col("max_chars") +:
        checks: _*)
  }

  // The oracle pins the exact side (count/min/max) and the contract
  // verdicts; DuckDB cannot reproduce GK values (see the q64 note), so
  // TRUE is the pinned expectation the Spark-side validation must earn.
  val lengthQuantilesApproxSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      |  TRUE AS p10_in_tolerance, TRUE AS p50_in_tolerance,
      |  TRUE AS p90_in_tolerance, TRUE AS p99_in_tolerance
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q65 — approximate distinct counts, the other always-approx report at
  // corpus scale: distinct users per event type via HyperLogLog++
  // (`approx_count_distinct`) — fixed-size sketch per group, mergeable
  // map-side, no distinct-expand shuffle — beside the exact
  // count_distinct the validation needs. Same verdict-pinning pattern as
  // q64: the HLL++ VALUE is impl-specific (DuckDB's approx_count_distinct
  // is its own HLL with different hashing), so the oracle pins the exact
  // counts plus the all-within-tolerance verdict. Tolerance 3·rsd: HLL++
  // standard error is rsd (here 2%), observed error on a fixed dataset is
  // deterministic, and >3σ would indicate a sketch-merge bug, which is
  // exactly what the verdict exists to catch. Production keeps only the
  // approx aggregation; the exact column is the harness's yardstick.
  // ---------------------------------------------------------------------

  private val HllRsd = 0.02

  def approxDistinctUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id"), HllRsd).as("hll"))
      .withColumn("approx_in_tolerance",
        abs(col("hll") - col("n_users")) <= lit(3 * HllRsd) * col("n_users"))
      .drop("hll")

  val approxDistinctUsersSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  TRUE AS approx_in_tolerance
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q97 — DSIR IMPORTANCE RESAMPLING: the sampling step q78's weights
  // exist FOR (Xie et al. 2023 resample with probability ∝ the
  // importance weight; here the deterministic engine form): keep rate =
  // min(1, exp(T·logw / n_feats)) with temperature T = 10 — the
  // per-feature-normalized likelihood ratio, contrast-amplified so the
  // near-homogeneous fixture still yields a measurable split;
  // target-like documents (logw ≥ 0) keep everything and raw-like
  // documents down-sample by their amplified ratio — applied
  // through the q51 md5-bucket keep (no RNG, replay-stable, the same
  // verdict on redelivery). Completes the DSIR leg: q78 scores, q97
  // selects.
  //
  // Scale shape: q78's chain (two 128-row aggregates, one-row Δ
  // broadcast, zero corpus keyed exchange) plus a per-row projection.
  // Determinism: logw_micro is exact-integer (q78); the rate passes
  // through the floor(exp(·)·1e6 + 0.5) micro grid (the q74 ~1-ulp
  // argument); the keep is integer hash arithmetic.
  // ---------------------------------------------------------------------

  def dsirResample(s: SparkSession, d: String): DataFrame =
    dsirWeight(s, d)
      .selectExpr("doc_id", "n_feats", "logw_micro",
        // exponent clamped to <= 0 (exp(min(0,x)) == min(1, exp(x)) for
        // all finite x) so an extreme weight can never push exp() to
        // +inf — whose BIGINT cast DuckDB rejects while Spark saturates
        """cast(floor(exp(least(cast(0.0 as double),
          |(logw_micro / cast(n_feats as double)) / 1e6 * 10.0)) * 1e6 + 0.5) as bigint) as keep_micro"""
          .stripMargin.replace("\n", " "))
      .selectExpr("doc_id", "n_feats", "logw_micro", "keep_micro",
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 1000000 < keep_micro as kept")

  // lazy: derives from dsirWeightSql, declared later in this object
  lazy val dsirResampleSql: String = {
    val anchor =
      """SELECT doc_id, n_feats, logw_micro, logw_micro > 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin
    // anchor drift would make replace() a silent no-op and hand q97 the
    // q78 oracle (missing keep_micro/kept), surfacing only at compare
    // time — fail fast at first use instead
    require(dsirWeightSql.contains(anchor),
      "dsirResampleSql: tail anchor no longer present in dsirWeightSql")
    dsirWeightSql.replace(anchor,
      """, km AS (SELECT doc_id, n_feats, logw_micro,
        |    floor(exp(least(0.0::DOUBLE, (logw_micro / n_feats::DOUBLE) / 1e6 * 10.0))
        |      * 1e6 + 0.5)::BIGINT AS keep_micro
        |  FROM sc)
        |SELECT doc_id, n_feats, logw_micro, keep_micro,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 < keep_micro AS kept
        |FROM km ORDER BY doc_id""".stripMargin)
  }

  // ---------------------------------------------------------------------
  // q99 — GATE×CLASSIFIER CALIBRATION REPORT: the 2×2 agreement table
  // between the rule battery (q71 gate) and the learned scorer (q72
  // classifier) with per-cell counts and decimal-exact mean scores —
  // the calibration read a pipeline does before trusting one filter to
  // replace the other (disagreement cells are the docs to hand-audit).
  // Scale shape: classifier score in the per-row typed pass (q90's
  // fusion), gate appended as codegen'd HOFs, then ONE 4-row aggregate
  // — the corpus crosses a single tiny keyed exchange. Mean scores
  // accumulate in DECIMAL(25,6) (scores are 1e-6-rounded per doc, so
  // the cast is exact) — order-independent, bit-equal both engines.
  // ---------------------------------------------------------------------

  def calibrationReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val w = clfWeights
        it.map { case (id, text) => (id, text, clfScoreOf(md, w, text)) }
      }
      .toDF("doc_id", "text", "clf_score")
    qualityGateVerdict(scored)
      .groupBy(col("pass").as("gate_pass"), (col("clf_score") >= 0).as("clf_label"))
      .agg(count(lit(1)).as("n_docs"),
           expr("cast(sum(cast(clf_score as decimal(25,6))) as double)").as("ssum"))
      .selectExpr("gate_pass", "clf_label", "n_docs",
        "floor(ssum / n_docs * 1e6 + 0.5) / 1e6 as mean_score")
  }

  val calibrationReportSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id,
       |  len(toks)::BIGINT AS n_words,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(toks, x -> length(x)::BIGINT)), (a, b) -> a + b) AS sum_word_chars,
       |  len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha_words,
       |  len(list_intersect(list_distinct(toks), ['the','be','to','of','and','that','have','with']))::BIGINT AS n_stop_kinds,
       |  len(list_filter(toks, x -> regexp_matches(x, '^[^a-z0-9]+$$')))::BIGINT AS n_symbol_words
       |  FROM t),
       |gp AS (SELECT doc_id,
       |  (n_words >= 50 AND n_words <= 100000
       |    AND 3 * n_words <= sum_word_chars AND sum_word_chars <= 10 * n_words
       |    AND 5 * n_alpha_words >= 4 * n_words
       |    AND n_stop_kinds >= 1
       |    AND 10 * n_symbol_words <= n_words) AS pass
       |  FROM g),
       |cf AS (SELECT doc_id, list_concat(toks,
       |    list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])) AS feats FROM t),
       |cc AS (SELECT doc_id, len(feats)::BIGINT AS n_feats,
       |    list_transform(range(0, $clfDim), j ->
       |      len(list_filter(feats, g2 -> ('0x' || substr(md5(g2), 1, 8))::BIGINT % $clfDim = j))::DOUBLE) AS cnt
       |  FROM cf),
       |csc AS (SELECT doc_id,
       |    floor(list_reduce(list_prepend(0.0::DOUBLE,
       |        list_transform(range(1, ${clfDim + 1}), i -> cnt[i] *
       |          (((((i - 1) * 1103515245 + 12345) % 1000) - 500) / 1000.0))), (a, b) -> a + b)
       |      / n_feats::DOUBLE * 1e6 + 0.5) / 1e6 AS score
       |  FROM cc)
       |SELECT gp.pass AS gate_pass, csc.score >= 0 AS clf_label,
       |  COUNT(*)::BIGINT AS n_docs,
       |  floor(CAST(SUM(CAST(csc.score AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS mean_score
       |FROM gp JOIN csc USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q103 — WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis–Spirakis
  // 2006, A-Res): draw k = 50 documents with inclusion probability ∝
  // n_chars by ranking on key = ln(u)/w with u a per-doc deterministic
  // md5-uniform — the one-pass distributed scheme for exact-k weighted
  // draws (the data-mixing cousin of q51's rate-based keep: rates give
  // a BINOMIAL sample size, this gives exactly k). No RNG: u derives
  // from md5(doc_id), so the draw is reproducible and replay-stable.
  //
  // Scale shape: the key is per-row arithmetic; exact top-k collapses
  // to TakeOrderedAndProject (per-partition heaps + a driver merge of
  // k×partitions rows — the q26 discipline); the corpus never
  // shuffles. Determinism: u is an exact integer /2^32; ln/pow agree
  // across engines to ~1 ulp, so the SELECTION comparator uses the
  // micro-grid discipline one level stronger — key quantized to 1e-9
  // nats as BIGINT (floor, exact both engines), ties to the lowest
  // doc_id; an integer comparator cannot flip across engines.
  // ---------------------------------------------------------------------

  def weightedSample(s: SparkSession, d: String, k: Int = 50): DataFrame = {
    val keyExpr =
      // u in (0, 1]: (bucket + 1) / 2^32 over the first 8 md5 hex chars
      """cast(floor(ln((cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) + 1)
        |  / 4294967296.0D) / cast(n_chars as double) * 1e9) as bigint)"""
        .stripMargin.replace("\n", " ")
    Tables.documents(s, d)
      .selectExpr("doc_id", "n_chars", s"$keyExpr as key_nano")
      .orderBy(col("key_nano").desc, col("doc_id"))
      .limit(k)
      .selectExpr("doc_id", "n_chars", "key_nano")
  }

  val weightedSampleSql: String =
    """WITH s AS (SELECT doc_id, n_chars,
      |    floor(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
      |      / 4294967296.0) / n_chars::DOUBLE * 1e9)::BIGINT AS key_nano
      |  FROM documents)
      |SELECT doc_id, n_chars, key_nano FROM s
      |ORDER BY key_nano DESC, doc_id LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // q96 — SPLIT-LEAKAGE AUDIT: near-identical documents that land on
  // opposite sides of the train/val/test split leak evaluation signal —
  // the QA check every pipeline should run AFTER splitting (q34) and
  // dedup (q22): group documents by their q21 content fingerprint,
  // collect which splits each fingerprint reaches, and report the
  // fingerprint/document counts per split combination — `train+test`
  // rows ARE the leak. On the fixture 32 fingerprint groups span two
  // splits (the duplicate groups q48's denylist relies on, split by the
  // doc_id-hash bucket ~independently of content — exactly the failure
  // mode content-hash splitting exists to prevent, measured).
  //
  // Scale shape: fingerprint + split bucket are the one fused per-row
  // pass (fingerprintWithMeta discipline); ONE fp-keyed exchange
  // (map-side combined); the combination regroup runs on the collapsed
  // fingerprint frame. Determinism: collect_set orders arbitrarily →
  // array_sort before joining; counts exact longs.
  // ---------------------------------------------------------------------

  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val sp = fingerprintWithMeta(s, d)
      .filter(col("min_shingle_hash").isNotNull)
      .selectExpr("min_shingle_hash as f", s"$bucketCol as bucket")
      .selectExpr("f",
        """CASE WHEN bucket < 80 THEN 'train'
          |WHEN bucket < 90 THEN 'val' ELSE 'test' END as split"""
          .stripMargin.replace("\n", " "))
    sp.groupBy("f")
      .agg(count(lit(1)).as("nd"),
           array_join(array_sort(collect_set(col("split"))), "+").as("splits"))
      .groupBy("splits")
      .agg(count(lit(1)).as("n_fps"), sum(col("nd")).cast("long").as("n_docs"))
      .withColumn("leaky", col("splits").contains("+"))
  }

  val splitLeakageSql: String =
    s"""WITH $fingerprintCtes,
       |sp AS (SELECT min_shingle_hash AS f,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT min_shingle_hash,
       |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
       |        FROM fp WHERE min_shingle_hash IS NOT NULL)),
       |g AS (SELECT f, COUNT(*)::BIGINT AS nd,
       |    array_to_string(list_sort(list_distinct(list(split))), '+') AS splits
       |  FROM sp GROUP BY f)
       |SELECT splits, COUNT(*)::BIGINT AS n_fps, SUM(nd)::BIGINT AS n_docs,
       |  contains(splits, '+') AS leaky
       |FROM g GROUP BY splits ORDER BY splits""".stripMargin

  // ---------------------------------------------------------------------
  // q93 — HEAVY HITTERS via a mergeable Misra-Gries summary: the
  // bounded-memory frequent-items sketch (Misra & Gries 1982; mergeable
  // form per Agarwal et al., "Mergeable Summaries", PODS 2012) — the
  // missing member of the suite's sketch family (q64 quantiles, q65
  // HLL, q66 Bloom). At 100 TB the exact token-frequency top-k (q56)
  // costs a token-keyed shuffle of the whole stream; the MG summary
  // costs ONE ≤k-counter buffer per map partition with a merge tree,
  // and still guarantees: every item with true count > n/(k+1) is
  // present, with est ∈ [true − n/(k+1), true].
  //
  // Fixture: the corpus vocabulary is 31 near-uniform words — no head —
  // so the query plants one (the q61/q69/q89 idiom): each doc appends
  // ⌊n_chars/4⌋ copies of its `hot-(doc_id%4)` tag, giving 4 heavy
  // tokens (~14% of the stream each) over the 35-token alphabet. With
  // k = 16 < 35 the decrement path genuinely fires and exactly the four
  // hot tags clear the n/17 guarantee bar.
  //
  // Verdict-pinned oracle (the q64/q65 discipline): summary CONTENT
  // depends on partition/merge order, so the output carries the exact
  // counts of the guaranteed set plus two contract verdicts —
  // membership (guaranteed item present in the summary) and the error
  // bound (0 ≤ exact − est ≤ n/(k+1), integer-exact as cross-
  // multiplied comparisons) — which a correct sketch earns as TRUE on
  // every row regardless of merge order. Production ships ONLY the
  // sketch pass; the exact side here is the harness's yardstick.
  // ---------------------------------------------------------------------

  private[graft] val mgK = 16

  /** Mergeable Misra-Gries buffer: stream length + ≤k counters
    * (Kryo-encoded; one per map partition crosses the exchange). */
  case class MgBuf(var n: Long, cnt: scala.collection.mutable.HashMap[String, Long])

  object MisraGries extends org.apache.spark.sql.expressions.Aggregator[
      Array[String], MgBuf, Map[String, Long]] {
    def zero: MgBuf = MgBuf(0L, scala.collection.mutable.HashMap.empty)
    def reduce(b: MgBuf, toks: Array[String]): MgBuf = {
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        b.n += 1
        b.cnt.get(t) match {
          case Some(c) => b.cnt(t) = c + 1
          case None if b.cnt.size < mgK => b.cnt(t) = 1L
          case None => // classic decrement step: all counters down one
            val dead = b.cnt.iterator.flatMap { case (k, c) =>
              if (c == 1L) Some(k) else { b.cnt(k) = c - 1; None } }.toList
            dead.foreach(b.cnt.remove)
        }
        i += 1
      }
      b
    }
    def merge(x: MgBuf, y: MgBuf): MgBuf = {
      // pairwise counter sum, then subtract the (k+1)-th largest and
      // drop non-positives — the PODS'12 merge that preserves the
      // eps·n = n/(k+1) bound across any merge tree
      y.cnt.foreach { case (k, c) => x.cnt(k) = x.cnt.getOrElse(k, 0L) + c }
      if (x.cnt.size > mgK) {
        val cut = x.cnt.values.toArray.sortBy(-_).apply(mgK)
        val dead = x.cnt.iterator.flatMap { case (k, c) =>
          if (c - cut <= 0L) Some(k) else { x.cnt(k) = c - cut; None } }.toList
        dead.foreach(x.cnt.remove)
      }
      x.n += y.n
      x
    }
    def finish(b: MgBuf): Map[String, Long] = b.cnt.toMap
    def bufferEncoder: org.apache.spark.sql.Encoder[MgBuf] =
      org.apache.spark.sql.Encoders.kryo[MgBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** The q93 planted-head token stream, shared by the sketch pass, the
    * exact yardstick, and the spec's driver model. */
  private[graft] def hotTokenStream(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d), "doc_id")
      .selectExpr(
        """concat(split(text, ' '),
          |  array_repeat(concat('hot-', cast(doc_id % 4 as string)),
          |    cast(n_chars div 4 as int))) as toks"""
          .stripMargin.replace("\n", " "))

  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = hotTokenStream(s, d).transform(Tables.maybePersist)
    val est = toks.as[Array[String]].select(MisraGries.toColumn).head()
    val estLit = map(est.toSeq.sortBy(_._1).flatMap {
      case (t, c) => Seq(lit(t), lit(c)) }: _*)
    val exact = toks.selectExpr("explode(toks) as tok")
      .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    val totals = exact.agg(sum(col("exact_cnt")).as("n"))
    exact.crossJoin(broadcast(totals))
      .filter(col("exact_cnt") * (mgK + 1) > col("n"))
      .withColumn("est", element_at(estLit, col("tok")))
      .selectExpr("tok", "exact_cnt",
        "est is not null as in_summary",
        s"""est is not null and est <= exact_cnt
           |and (exact_cnt - est) * ${mgK + 1} <= n as est_ok"""
          .stripMargin.replace("\n", " "))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  val heavyHittersSql: String =
    s"""WITH d AS (SELECT doc_id, list_concat(string_split(text, ' '),
       |    list_transform(range(0, n_chars // 4),
       |      x -> 'hot-' || (doc_id % 4)::VARCHAR)) AS toks FROM documents),
       |tk AS (SELECT unnest(toks) AS tok FROM d),
       |c AS (SELECT tok, COUNT(*)::BIGINT AS exact_cnt FROM tk GROUP BY tok),
       |t AS (SELECT SUM(exact_cnt)::BIGINT AS n FROM c)
       |SELECT tok, exact_cnt, TRUE AS in_summary, TRUE AS est_ok
       |FROM c, t WHERE exact_cnt * ${mgK + 1} > n
       |ORDER BY exact_cnt DESC, tok""".stripMargin

  // ---------------------------------------------------------------------
  // q95 — BPE MERGE INDUCTION: the first `rounds` merges of byte-pair
  // encoding learned from the corpus (Sennrich et al. 2016 — the
  // tokenizer-training step of a data pipeline, here as a corpus-scale
  // operator): count adjacent symbol pairs weighted by WORD FREQUENCY,
  // merge the most frequent pair everywhere, repeat. Output per round:
  // the learned merge, its weighted count, and the corpus symbol count
  // after applying it (the compression curve).
  //
  // Scale shape (100 TB): the corpus crosses exactly ONE keyed exchange
  // — the word-frequency aggregate; every subsequent round runs on the
  // VOCABULARY table (Heap's law: ≪ corpus), so pair counting, the
  // top-1 selection, and the merge rewrite are vocab-sized jobs. This
  // is the classical BPE formulation (frequencies over the word-count
  // table, not the raw stream).
  //
  // Cross-engine determinism: symbol sequences are space-joined strings;
  // applying merge (a b) = literal replace of ' a b ' in the
  // space-padded string — left-to-right non-overlapping in BOTH engines
  // (and exactly BPE's greedy merge order); pair counts are exact longs
  // (overlapping pairs count toward frequency, as in reference BPE);
  // top-1 ties break to the lexicographically first pair. The oracle
  // unrolls the rounds as chained CTEs (the q84/q92 idiom).
  // ---------------------------------------------------------------------

  private def bpePairsExpr: String =
    """explode(transform(
      |  filter(sequence(1, size(split(sym, ' '))), i -> i < size(split(sym, ' '))),
      |  i -> concat(element_at(split(sym, ' '), i), ' ',
      |              element_at(split(sym, ' '), i + 1)))) as pair"""
      .stripMargin.replace("\n", " ")

  /** The shared BPE vocab fit (q95 induction / q114 encode): corpus →
    * word-frequency table (the ONLY corpus-keyed exchange), then
    * `rounds` top-pair merges rewritten on the vocab. Returns the final
    * (w, freq, sym) vocab plus the per-round ledger; the
    * `n_symbols_after` compression-curve job only runs when `trackCurve`
    * (q95's output needs it, q114's doesn't — one fewer job per round). */
  private def bpeFitLoop(s: SparkSession, d: String, rounds: Int,
                         trackCurve: Boolean):
      (DataFrame, Seq[(Int, String, Long, Long)]) = {
    import s.implicits._
    // length >= 1 guard: an empty token would make sequence(1, 0) step
    // DOWNWARD in Spark while DuckDB's range(1, 1) is empty (q74 note).
    var vocab = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .selectExpr("explode(split(text, ' ')) as w")
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .selectExpr("w", "freq",
        "concat_ws(' ', transform(sequence(1, length(w)), i -> substring(w, i, 1))) as sym")
      .transform(Tables.maybePersist)
    def topPair(v: DataFrame): (String, Long) =
      v.selectExpr("freq", bpePairsExpr)
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .as[(String, Long)].head()
    def nsymOf(v: DataFrame): Long =
      v.selectExpr("freq * size(split(sym, ' ')) as ns")
        .agg(sum(col("ns")).as("n")).as[Long].head()
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long)]()
    // round r's compression-curve scalar and round r+1's top-pair draw
    // are independent reads of the same rewritten vocab — overlapped
    // (guide §2.6, r21) so each round costs ONE driver round-trip
    // instead of two; values are unchanged (same frames, same aggs)
    var next = topPair(vocab)
    for (r <- 1 to rounds) {
      val (pair, cnt) = next
      // the merge target rides in as a lit() Column, never a SQL string
      // literal — no escaping surface (a corpus token containing \ or '
      // would otherwise need Spark-literal escaping the DuckDB twin and
      // the spec's driver model don't apply)
      val merged = pair.replace(" ", "")
      vocab = vocab.select(col("w"), col("freq"),
          trim(org.apache.spark.sql.functions.replace(
            concat(lit(" "), col("sym"), lit(" ")),
            lit(s" $pair "), lit(s" $merged "))).as("sym"))
        .transform(Tables.maybePersist)
      val nsym =
        if (!trackCurve) 0L
        else if (r < rounds) {
          val (n2, ns) = Par.run2(topPair(vocab), nsymOf(vocab))
          next = n2
          ns
        } else nsymOf(vocab)
      if (!trackCurve && r < rounds) next = topPair(vocab)
      out += ((r, pair, cnt, nsym))
    }
    (vocab, out.toSeq)
  }

  def bpeMerges(s: SparkSession, d: String, rounds: Int = 3): DataFrame = {
    import s.implicits._
    val (_, ledger) = bpeFitLoop(s, d, rounds, trackCurve = true)
    ledger.toDF("round", "merge_pair", "pair_count", "n_symbols_after")
  }

  val bpeMergesSql: String = {
    def pairs(v: String): String =
      s"""SELECT pair, SUM(freq)::BIGINT AS cnt FROM (
         |  SELECT freq, sy[i::INT] || ' ' || sy[(i + 1)::INT] AS pair
         |  FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i
         |        FROM (SELECT freq, string_split(sym, ' ') AS sy FROM $v)))
         |GROUP BY pair""".stripMargin
    def round(n: Int): String = {
      val prev = s"v${n - 1}"
      s"""p$n AS (${pairs(prev)}),
         |t$n AS (SELECT pair, cnt FROM p$n ORDER BY cnt DESC, pair LIMIT 1),
         |v$n AS (SELECT freq, trim(replace(' ' || sym || ' ',
         |    ' ' || (SELECT pair FROM t$n) || ' ',
         |    ' ' || replace((SELECT pair FROM t$n), ' ', '') || ' ')) AS sym FROM $prev),
         |n$n AS (SELECT SUM(freq * len(string_split(sym, ' ')))::BIGINT AS ns FROM v$n)"""
        .stripMargin
    }
    s"""WITH v0 AS (SELECT freq,
       |    array_to_string(list_transform(range(1, length(w) + 1), i -> w[i::INT]), ' ') AS sym
       |  FROM (SELECT w, COUNT(*)::BIGINT AS freq
       |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |        WHERE length(w) >= 1 GROUP BY w)),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT 1 AS round, (SELECT pair FROM t1) AS merge_pair,
       |  (SELECT cnt FROM t1) AS pair_count, (SELECT ns FROM n1) AS n_symbols_after
       |UNION ALL SELECT 2, (SELECT pair FROM t2), (SELECT cnt FROM t2), (SELECT ns FROM n2)
       |UNION ALL SELECT 3, (SELECT pair FROM t3), (SELECT cnt FROM t3), (SELECT ns FROM n3)
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q114 — BPE ENCODE + TOKEN COUNTING (r14): the APPLICATION side of
  // q95's induction — the tokenizer-sizing pass every training-data
  // pipeline runs (token counts drive mixture weights, packing, cost
  // estimates). The q95 fit loop learns the merge table; encoding then
  // happens on the VOCABULARY (each distinct word's symbol sequence
  // already carries all merges applied in rank order), and the corpus
  // gets its per-document token counts by JOINING words to the encoded
  // vocab — never by re-running merges per occurrence. Output per doc:
  // word count, character count, post-BPE token count.
  //
  // Scale shape (100 TB): the fit is q95's (corpus crosses ONE keyed
  // exchange into word frequencies; every merge round is vocab-sized).
  // The encode adds: corpus word explode → join to the Heap's-law-sized
  // (w, n_tok) table (AQE broadcasts it at fixture scale; at corpus
  // scale it degrades to a keyed co-partition — either way the payload
  // side carries only (doc_id, w)) → ONE partial-aggregated exchange to
  // per-doc counts. All counts are exact longs — no doubles anywhere.
  // ---------------------------------------------------------------------

  def bpeEncode(s: SparkSession, d: String, rounds: Int = 3): DataFrame = {
    val (vocab, _) = bpeFitLoop(s, d, rounds, trackCurve = false)
    val enc = vocab.selectExpr("w", "size(split(sym, ' ')) as n_tok")
    Tables.fanOut(Tables.documents(s, d), "doc_id")
      .selectExpr("doc_id", "explode(split(text, ' ')) as w")
      .filter(length(col("w")) >= 1)
      .join(enc, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_tok").cast("long")).as("n_tokens"))
  }

  val bpeEncodeSql: String = {
    def pairs(v: String): String =
      s"""SELECT pair, SUM(freq)::BIGINT AS cnt FROM (
         |  SELECT freq, sy[i::INT] || ' ' || sy[(i + 1)::INT] AS pair
         |  FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i
         |        FROM (SELECT freq, string_split(sym, ' ') AS sy FROM $v)))
         |GROUP BY pair""".stripMargin
    def round(n: Int): String = {
      val prev = s"v${n - 1}"
      s"""p$n AS (${pairs(prev)}),
         |t$n AS (SELECT pair, cnt FROM p$n ORDER BY cnt DESC, pair LIMIT 1),
         |v$n AS (SELECT w, freq, trim(replace(' ' || sym || ' ',
         |    ' ' || (SELECT pair FROM t$n) || ' ',
         |    ' ' || replace((SELECT pair FROM t$n), ' ', '') || ' ')) AS sym FROM $prev)"""
        .stripMargin
    }
    s"""WITH v0 AS (SELECT w, freq,
       |    array_to_string(list_transform(range(1, length(w) + 1), i -> w[i::INT]), ' ') AS sym
       |  FROM (SELECT w, COUNT(*)::BIGINT AS freq
       |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |        WHERE length(w) >= 1 GROUP BY w)),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |toks AS (SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1)
       |SELECT t.doc_id, COUNT(*)::BIGINT AS n_words,
       |  SUM(length(t.w))::BIGINT AS n_chars,
       |  SUM(len(string_split(v.sym, ' ')))::BIGINT AS n_tokens
       |FROM toks t JOIN v3 v ON v.w = t.w
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q48 — benchmark decontamination: drop every corpus document whose
  // content fingerprint collides with an "eval set" denylist (here:
  // every 20th doc's q21 min-shingle fingerprint — a deterministic
  // stand-in for held-out benchmark data). The scale shape: the denylist
  // is eval-set-sized (tiny) → broadcast LEFT ANTI join; the 100 TB
  // corpus side is never shuffled. NULL fingerprints (docs with < 3
  // tokens) match nothing and survive on both engines (anti-join null
  // semantics == NOT EXISTS, deliberately NOT `NOT IN`).
  // ---------------------------------------------------------------------

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    // persisted: feeds the deny build side AND the probe side — without
    // it the md5-per-shingle fingerprint pass runs twice. Metadata rides
    // along in the fingerprint pass (see fingerprintWithMeta), so the
    // corpus is scanned once and never joined back to itself.
    val fp = fingerprintWithMeta(s, d).transform(Tables.maybePersist)
    val deny = fp.filter(col("doc_id") % 20 === 0)
      .select(col("min_shingle_hash").as("deny_fp")).distinct()
    fp.join(broadcast(deny), col("min_shingle_hash") === col("deny_fp"), "left_anti")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
  }

  val decontaminateSql: String =
    s"""WITH $fingerprintCtes,
       |deny AS (SELECT DISTINCT min_shingle_hash FROM fp WHERE doc_id % 20 = 0),
       |kept AS (SELECT d.source, d.lang, d.n_chars
       |  FROM documents d JOIN fp ON fp.doc_id = d.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM deny
       |    WHERE deny.min_shingle_hash = fp.min_shingle_hash))
       |SELECT source, lang, COUNT(*) AS n_kept,
       |  SUM(n_chars)::BIGINT AS kept_chars
       |FROM kept GROUP BY source, lang ORDER BY source, lang""".stripMargin

  // ---------------------------------------------------------------------
  // q66 — q48's Bloom-filter twin: when the eval-set denylist outgrows a
  // comfortable broadcast (a 100 TB run decontaminating against many
  // benchmarks), the exact-set broadcast anti-join gives way to a Bloom
  // filter — ~10 bits/item at 1% fpp instead of the full key set, O(1)
  // probe, corpus side still never shuffles. Direction of error is the
  // safe one for decontamination: NO false negatives (every contaminated
  // doc is dropped, guaranteed), false positives overdrop clean docs at
  // rate ≤ fpp. Spark's df.stat.bloomFilter builds the sketch with a
  // distributed tree-aggregate; only the MB-sized filter visits the
  // driver for broadcast. Verdict-pinned like q64/q65 (bloom bits are
  // impl-specific): the oracle pins exact per-source doc/contamination
  // counts plus two contract verdicts — zero contaminated survivors
  // (structural) and overdrop within 3·fpp·n_clean + 10 (≥3σ Poisson
  // headroom; deterministic for a fixed corpus + Spark's fixed seed).
  // ---------------------------------------------------------------------

  private val BloomFpp = 0.01

  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val fp = fingerprintWithMeta(s, d).transform(Tables.maybePersist)
    val deny = fp.filter(col("doc_id") % 20 === 0 && col("min_shingle_hash").isNotNull)
      .select(col("min_shingle_hash").as("deny_fp")).distinct()
    val bloom = deny.stat.bloomFilter("deny_fp", math.max(deny.count(), 1L), BloomFpp)
    // Broadcast lifetime: the returned DataFrame is lazy, so the filter
    // cannot be destroy()ed here — it must outlive every consumption of
    // the plan. The MB-scale copy lives until ContextCleaner reaps the
    // unreferenced broadcast (or context shutdown); at 100 TB the driver
    // pattern is build → probe → `bloomBc.destroy()` once the probe
    // action has completed.
    val bloomBc = s.sparkContext.broadcast(bloom)
    val bloomHit = udf((h: String) => h != null && bloomBc.value.mightContainString(h))
    fp
      // exact membership flag for the verdicts: distinct build side, so
      // the broadcast left join is flag-only — no fanout, no shuffle
      .join(broadcast(deny), col("min_shingle_hash") === col("deny_fp"), "left")
      .withColumn("contaminated", col("deny_fp").isNotNull)
      .withColumn("bloom_dropped", bloomHit(col("min_shingle_hash")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("contaminated") && !col("bloom_dropped"), 1L).otherwise(0L)).as("survivors"),
        sum(when(!col("contaminated") && col("bloom_dropped"), 1L).otherwise(0L)).as("overdrop"))
      .withColumn("all_contaminated_dropped", col("survivors") === 0L)
      .withColumn("overdrop_within_bound",
        col("overdrop") <= lit(3 * BloomFpp) * (col("n_docs") - col("n_contaminated")) + lit(10.0))
      .select("source", "n_docs", "n_contaminated",
        "all_contaminated_dropped", "overdrop_within_bound")
  }

  val bloomDecontaminateSql: String =
    s"""WITH $fingerprintCtes,
       |deny AS (SELECT DISTINCT min_shingle_hash FROM fp
       |  WHERE doc_id % 20 = 0 AND min_shingle_hash IS NOT NULL)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  SUM(CASE WHEN EXISTS (SELECT 1 FROM deny
       |    WHERE deny.min_shingle_hash = fp.min_shingle_hash)
       |    THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
       |  TRUE AS all_contaminated_dropped,
       |  TRUE AS overdrop_within_bound
       |FROM documents d JOIN fp ON fp.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------------
  // q56 — vocabulary Zipf report: global top-20 tokens with rank and
  // cumulative corpus share — the head-of-distribution summary that
  // drives stopword lists and tokenizer-vocab decisions. Scale shape:
  // token counts are one keyed shuffle (vocabulary-sized result); the
  // global ranking window runs AFTER limit(20), so the single-partition
  // window only ever sees 20 rows, never the vocabulary.
  // ---------------------------------------------------------------------

  def vocabZipf(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .selectExpr("explode(split(text, ' ')) as tok")
      .filter(col("tok") =!= "")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("total"))
    val order = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok"))
    counts.orderBy(col("cnt").desc, col("tok")).limit(20)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(order).cast("long"))
      .withColumn("cum_share",
        floor(sum(col("cnt")).over(order.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
          / col("total") * 1e6 + 0.5) / 1e6)
      .select("rank", "tok", "cnt", "cum_share")
  }

  val vocabZipfSql: String =
    """WITH t2 AS (SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok
      |    FROM documents) WHERE tok != ''),
      |counts AS (SELECT tok, COUNT(*) AS cnt FROM t2 GROUP BY tok),
      |total AS (SELECT COUNT(*) AS total FROM t2),
      |top AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 20),
      |r AS (SELECT tok, cnt,
      |  row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
      |  SUM(cnt) OVER (ORDER BY cnt DESC, tok
      |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM top)
      |SELECT rank, tok, cnt, floor(cum / total.total * 1e6 + 0.5) / 1e6 AS cum_share
      |FROM r, total ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // q52 — pivoted corpus matrix: sources × languages in one relational
  // pivot (explicit value list → no extra distinct-values job; Spark
  // compiles it to the same Expand→partial-agg→one-exchange shape as
  // the rollup). Nulls (empty cells) coalesce to 0 so both engines
  // agree on absent combinations.
  // ---------------------------------------------------------------------

  private val pivotLangs = Seq("de", "en", "es", "fr", "zh")

  def pivotReport(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .pivot("lang", pivotLangs)
      .agg(count(lit(1)))
      .selectExpr(Seq("source") ++
        pivotLangs.map(l => s"coalesce($l, cast(0 as bigint)) as n_$l"): _*)

  val pivotReportSql: String = {
    val cells = pivotLangs
      .map(l => s"SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END)::BIGINT AS n_$l")
      .mkString(",\n  ")
    s"""SELECT source,
       |  $cells
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q51 — per-source mixing rates: keep a document iff its content-hash
  // bucket falls under the source's sampling rate (src0 100%, src1 50%,
  // src2 25%, everything else 10%) — the deterministic data-mixing
  // primitive: re-running the job, on any cluster size, keeps exactly
  // the same documents, with no RNG state and no shuffle for the
  // keep/drop decision (only the audit aggregate shuffles).
  // ---------------------------------------------------------------------

  private val mixRates = Seq("src0" -> 1000000L, "src1" -> 500000L, "src2" -> 250000L)
  private val mixDefault = 100000L

  def sourceMix(s: SparkSession, d: String): DataFrame = {
    val bucket = keepBucketSql // ONE definition shared with q67/mixStream
    val thresh = mixRates.map { case (src, r) => s"WHEN source = '$src' THEN ${r}L" }
      .mkString("CASE ", " ", s" ELSE ${mixDefault}L END")
    Tables.documents(s, d)
      .selectExpr("source", "n_chars",
        s"case when $bucket < ($thresh) then 1 else 0 end as kept")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("kept")).as("n_kept"),
           sum(col("n_chars") * col("kept")).as("kept_chars"))
      .withColumn("kept_ratio",
        floor(col("n_kept") / col("n_docs").cast("double") * 1e6 + 0.5) / 1e6)
  }

  val sourceMixSql: String = {
    val b = "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000"
    val thresh = mixRates.map { case (src, r) => s"WHEN source = '$src' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $mixDefault END")
    s"""WITH k AS (SELECT source, n_chars,
       |  CASE WHEN $b < ($thresh) THEN 1 ELSE 0 END AS kept
       |FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  SUM(kept)::BIGINT AS n_kept,
       |  SUM(n_chars * kept)::BIGINT AS kept_chars,
       |  floor(SUM(kept) / COUNT(*)::DOUBLE * 1e6 + 0.5) / 1e6 AS kept_ratio
       |FROM k GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q67 — temperature-resampled source mixing: the data-mixing step of a
  // multi-corpus training run. Uniform sampling over-represents huge
  // crawls and starves small curated sources; sampling source s with
  // weight ∝ n_s^α (α = 0.5 here) flattens the mix. Per source:
  // w_s = q_s / Σq where q_s = floor(sqrt(n_s)·1e6 + 0.5) (INTEGER-
  // quantized before the normalizing sum, so Σq is an order-independent
  // BIGINT sum and w_s is one double division on identical operands —
  // bit-identical cross-engine with no decimal-sum machinery); sampling
  // rate = min(1, w_s·N / n_s) against a global budget N = ⌊total/2⌋;
  // the keep/drop decision is the q51 deterministic md5-bucket primitive
  // (no RNG state, identical on any cluster size / re-run).
  //
  // Scale shape (100 TB): pass 1 aggregates the corpus to |sources| rows
  // (the scan prunes to the `source` column); the rate table (tiny by
  // definition) broadcasts back; pass 2 is per-row hash work + one
  // source-keyed audit aggregate. The corpus itself never shuffles.
  // ---------------------------------------------------------------------

  /** The q67 rate table — (source, w, keep_micro), |sources| rows. Also
    * the static side of the streaming twin ([[graft.streaming
    * .StreamingOps.mixStream]]): a rate table computed in batch joins
    * the live stream as a broadcast. */
  private[graft] def temperatureRates(s: SparkSession, d: String): DataFrame = {
    // persisted: |sources| rows feeding TWO consumers (the totals agg
    // and the crossJoin) — without it the corpus scan + source
    // aggregate runs twice (module caching rule, cf. tfidf's toks)
    val stats = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .selectExpr("source", "n_docs",
        "cast(floor(sqrt(cast(n_docs as double)) * 1e6 + 0.5) as bigint) as q")
      .transform(Tables.maybePersist)
    val totals = stats.agg(
      sum(col("q")).as("q_total"), sum(col("n_docs")).as("docs_total"))
    stats.crossJoin(broadcast(totals))
      .selectExpr("source",
        "cast(q as double) / cast(q_total as double) as w",
        // rate = min(1, w·N/n): (w * N) first, then / n — the oracle
        // multiplies and divides in the same order (doubles are exact
        // on identical operand order)
        """least(1.0D, (cast(q as double) / cast(q_total as double)
          |  * cast(cast(floor(cast(docs_total as double) / 2) as bigint) as double))
          |  / cast(n_docs as double)) as rate""".stripMargin.replace("\n", " "))
      .selectExpr("source", "w",
        "cast(floor(rate * 1e6 + 0.5) as bigint) as keep_micro")
  }

  /** The q51/q67 deterministic keep predicate: md5-bucket(doc_id) under
    * the source's threshold. Pure expression — identical decision on any
    * cluster size, any re-run, and any REPLAY (the property an
    * at-least-once streaming ingest needs). */
  private[graft] val keepBucketSql: String =
    "cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 1000000"

  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val rates = temperatureRates(s, d)
    val bucket = keepBucketSql
    docs.join(broadcast(rates), Seq("source"))
      .selectExpr("source", "n_chars", "w", "keep_micro",
        s"case when $bucket < keep_micro then 1 else 0 end as kept")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           max(col("w")).as("wc"),            // constant within the group
           max(col("keep_micro")).as("rate_micro"),
           sum(col("kept")).as("n_sampled"),
           sum(col("n_chars") * col("kept")).as("sampled_chars"))
      .selectExpr("source", "n_docs",
        "floor(wc * 1e6 + 0.5) / 1e6 as weight",
        "rate_micro", "n_sampled", "sampled_chars")
  }

  val temperatureMixSql: String = {
    val b = "('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000"
    s"""WITH s AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY source),
       |w AS (SELECT source, n_docs,
       |        floor(sqrt(n_docs::DOUBLE) * 1e6 + 0.5)::BIGINT AS q FROM s),
       |t AS (SELECT SUM(q)::BIGINT AS q_total, SUM(n_docs)::BIGINT AS docs_total FROM w),
       |r AS (SELECT source, q::DOUBLE / q_total::DOUBLE AS w,
       |        floor(least(1.0, (q::DOUBLE / q_total::DOUBLE
       |          * floor(docs_total::DOUBLE / 2)::BIGINT::DOUBLE)
       |          / n_docs::DOUBLE) * 1e6 + 0.5)::BIGINT AS keep_micro
       |      FROM w, t),
       |k AS (SELECT d.source, d.n_chars, r.w, r.keep_micro,
       |        CASE WHEN $b < r.keep_micro THEN 1 ELSE 0 END AS kept
       |      FROM documents d JOIN r USING (source))
       |SELECT source, COUNT(*)::BIGINT AS n_docs,
       |  floor(max(w) * 1e6 + 0.5) / 1e6 AS weight,
       |  max(keep_micro)::BIGINT AS rate_micro,
       |  SUM(kept)::BIGINT AS n_sampled,
       |  SUM(n_chars * kept)::BIGINT AS sampled_chars
       |FROM k GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q68 — greedy sequence packing: assemble documents into fixed-budget
  // training sequences (next-fit in doc_id order per source, 4096-char
  // budget — the batch-assembly step between curation and the trainer;
  // chars stand in for tokens, same fold). A doc larger than the budget
  // gets a sequence of its own. Like W2's in-record chunking, the fold is
  // inherently sequential WITHIN a group and embarrassingly parallel
  // ACROSS groups; at 100 TB the pack key is (source, shard) so no
  // single fold outgrows a task — the per-source form here keeps the
  // oracle deterministic.
  //
  // Scale shape: ONE shuffle (hash-repartition on source), an in-task
  // sort, then a STREAMING per-partition fold (mapPartitions holds three
  // scalars, never the group) — no collect, no window over the corpus.
  // ---------------------------------------------------------------------

  private[graft] val packBudget = 4096L

  def sequencePack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = packBudget
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .as[(Long, String, Long)]
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
      .mapPartitions { it =>
        // several sources can share a hash partition; the fold resets on
        // the source boundary (rows arrive sorted by (source, doc_id))
        var curSrc: String = null
        var seqNo = 0L
        var fill = 0L
        it.map { case (id, src, n) =>
          if (src != curSrc) { curSrc = src; seqNo = 0L; fill = 0L }
          if (fill > 0L && fill + n > budget) { seqNo += 1L; fill = 0L }
          val off = fill
          fill += n
          (id, src, seqNo, off)
        }
      }
      .toDF("doc_id", "source", "seq_no", "offset_chars")
  }

  /** DuckDB twin: the same next-fit fold as a recursive CTE stepping one
    * row per source per iteration (depth = max docs per source). */
  val sequencePackSql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, source, n_chars,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents),
       |pack AS (
       |  SELECT doc_id, source, rn,
       |         0::BIGINT AS seq_no, 0::BIGINT AS offset_chars,
       |         n_chars::BIGINT AS fill
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.doc_id, d.source, d.rn,
       |         CASE WHEN p.fill > 0 AND p.fill + d.n_chars > $packBudget
       |              THEN p.seq_no + 1 ELSE p.seq_no END,
       |         CASE WHEN p.fill > 0 AND p.fill + d.n_chars > $packBudget
       |              THEN 0::BIGINT ELSE p.fill END,
       |         CASE WHEN p.fill > 0 AND p.fill + d.n_chars > $packBudget
       |              THEN d.n_chars::BIGINT ELSE p.fill + d.n_chars END
       |  FROM pack p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
       |SELECT doc_id, source, seq_no, offset_chars
       |FROM pack ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q73 — TOKEN-budget sequence packing: q68's next-fit fold with the
  // cost term a real trainer batches on — tokens, not characters. The
  // tokenizer is pinned and deterministic in BOTH engines: greedy
  // left-to-right longest-prefix-free matching over a fixed merge table
  // (ten frequent English letter pairs) with single characters as the
  // base vocabulary and whitespace as a free boundary — expressed as ONE
  // regex alternation, because regex scanning IS greedy left-to-right
  // non-overlapping matching, and alternation order IS the tie-break
  // (both Java regex and DuckDB's RE2 use leftmost-first alternation
  // preference). n_tokens = match count.
  //
  // Scale shape: identical to q68 — the token count fuses into the scan
  // (codegen'd regexp_count, per-row), then ONE hash-repartition on the
  // pack key and a streaming per-partition fold holding three scalars.
  // At 100 TB the pack key is (source, shard); text never moves, only
  // (id, source, n_tokens) triples.
  // ---------------------------------------------------------------------

  private[graft] val tokBudget = 512L
  /** The pinned merge table, in tie-break order. */
  private[graft] val bpeMerges =
    Seq("th", "he", "in", "er", "an", "re", "on", "at", "nd", "st")
  /** Regex form of the tokenizer (merge pairs first, then the base
    * vocabulary; `\s` excluded everywhere = whitespace is a boundary). */
  private[graft] val bpeRegexDuck: String =
    bpeMerges.mkString("|") + "|[a-z0-9]|[^a-z0-9\\s]"

  def sequencePackTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = tokBudget
    val pattern = bpeMerges.mkString("|") + "|[a-z0-9]|[^a-z0-9\\\\s]"
    Tables.documents(s, d)
      .selectExpr("doc_id", "source",
        s"cast(regexp_count(text, '$pattern') as bigint) as n_tokens")
      .as[(Long, String, Long)]
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
      .mapPartitions { it =>
        // the q68 fold verbatim, over tokens (several sources can share
        // a hash partition; reset on the source boundary)
        var curSrc: String = null
        var seqNo = 0L
        var fill = 0L
        it.map { case (id, src, n) =>
          if (src != curSrc) { curSrc = src; seqNo = 0L; fill = 0L }
          if (fill > 0L && fill + n > budget) { seqNo += 1L; fill = 0L }
          val off = fill
          fill += n
          (id, src, n, seqNo, off)
        }
      }
      .toDF("doc_id", "source", "n_tokens", "seq_no", "offset_tokens")
  }

  /** DuckDB twin: the q68 recursive CTE with the token-length term. */
  val sequencePackTokensSql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '$bpeRegexDuck'))::BIGINT AS n_tokens,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents),
       |pack AS (
       |  SELECT doc_id, source, n_tokens, rn,
       |         0::BIGINT AS seq_no, 0::BIGINT AS offset_tokens,
       |         n_tokens AS fill
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.doc_id, d.source, d.n_tokens, d.rn,
       |         CASE WHEN p.fill > 0 AND p.fill + d.n_tokens > $tokBudget
       |              THEN p.seq_no + 1 ELSE p.seq_no END,
       |         CASE WHEN p.fill > 0 AND p.fill + d.n_tokens > $tokBudget
       |              THEN 0::BIGINT ELSE p.fill END,
       |         CASE WHEN p.fill > 0 AND p.fill + d.n_tokens > $tokBudget
       |              THEN d.n_tokens ELSE p.fill + d.n_tokens END
       |  FROM pack p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
       |SELECT doc_id, source, n_tokens, seq_no, offset_tokens
       |FROM pack ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q69 — line-level dedup with document REBUILD (the C4-style curation
  // rule "drop any line that occurs in ≥ N documents corpus-wide, keep
  // the rest of the document"): where q49 only SCORES boilerplate
  // coverage, this operator produces the cleaned corpus — the actual
  // output a curation pipeline ships. The fixture builds a 6-line body
  // per document (same expression both engines): a universal footer
  // (df = corpus), a 25-variant promo line (df ≫ threshold), a
  // 200-variant segment line (df straddles the threshold ACROSS SCALES —
  // kept at sf0.01, dropped at sf0.1, proving the corpus-dependence is
  // reproduced identically), and three unique text slices.
  //
  // Scale shape: doc_id fan-out → posexplode (lines stay doc_id-
  // partitioned) → line-df aggregate (the only line-keyed exchange;
  // the ≥N frequent set is the boilerplate itself, tiny → broadcast
  // LEFT flag-join) → rebuild groupBy(doc_id) REUSES the fan-out
  // partitioning (no extra exchange). The corpus crosses one keyed
  // exchange total at any scale.
  // ---------------------------------------------------------------------

  def lineDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .selectExpr("doc_id",
        """array(
          |  'SUBSCRIBE to our newsletter',
          |  array_join(slice(split(text, ' '), 1, 8), ' '),
          |  concat('promo-', cast(doc_id % 25 as string)),
          |  array_join(slice(split(text, ' '), 9, 8), ' '),
          |  concat('seg-', cast(doc_id % 200 as string)),
          |  array_join(slice(split(text, ' '), 17, 8), ' ')) as ls"""
          .stripMargin.replace("\n", " "))
    // persisted: feeds the line-frequency aggregate AND the rebuild join
    val lines = docs.selectExpr("doc_id", "posexplode(ls) as (pos, line)")
      .transform(Tables.maybePersist)
    val frequent = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 10)
    lines.join(broadcast(frequent), Seq("line"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
           sum(when(col("df").isNotNull, 1).otherwise(0)).cast("long").as("n_dropped"),
           // collect_list skips the nulls the `when` leaves for dropped
           // lines; array_sort on struct(pos, _) restores document order
           array_join(transform(array_sort(collect_list(
             when(col("df").isNull, struct(col("pos"), col("line"))))),
             x => x.getField("line")), "\n").as("cleaned"))
  }

  val lineDedupSql: String =
    """WITH docs AS (SELECT doc_id,
      |  ['SUBSCRIBE to our newsletter',
      |   coalesce(array_to_string(string_split(text, ' ')[1:8], ' '), ''),
      |   'promo-' || (doc_id % 25)::VARCHAR,
      |   coalesce(array_to_string(string_split(text, ' ')[9:16], ' '), ''),
      |   'seg-' || (doc_id % 200)::VARCHAR,
      |   coalesce(array_to_string(string_split(text, ' ')[17:24], ' '), '')] AS ls
      |  FROM documents),
      |l AS (SELECT doc_id, i::INT - 1 AS pos, ls[i::INT] AS line
      |  FROM docs, unnest(range(1, len(ls) + 1)) AS t(i)),
      |f AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM l
      |  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 10)
      |SELECT l.doc_id, COUNT(*)::BIGINT AS n_lines,
      |  SUM(CASE WHEN f.df IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
      |  coalesce(array_to_string(list(l.line ORDER BY l.pos)
      |    FILTER (WHERE f.df IS NULL), chr(10)), '') AS cleaned
      |FROM l LEFT JOIN f USING (line)
      |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q89 — SUBSTRING-WINDOW DEDUP: exact duplicated-span detection at
  // character grain — the distributed expression of suffix-based
  // substring dedup (Lee et al. 2021, "Deduplicating Training Data Makes
  // Language Models Better"): a fixed-width character window (40 chars,
  // stride 20) appearing verbatim in ≥2 DISTINCT documents marks a
  // duplicated span. Finer than q69's line grain (catches shared spans
  // that cross line boundaries or sit mid-line) and exact, unlike the
  // MinHash/SimHash whole-doc estimates. Each document reports its
  // window count, duplicated-window count, and duplicated fraction —
  // the signal pipelines trim or drop on.
  //
  // Fixture: the corpus is word salad (no organic cross-doc spans), so
  // the query builds a deterministic body with BOTH engines' string
  // concat: a 40-char universal footer (duplicated corpus-wide), a
  // 40-char 50-variant promo line (duplicated within its variant group
  // — both the aligned promo window and the straddling footer/promo
  // window), then the document's own text (unique). Stride-aligned
  // 40-char blocks make the expected dup pattern exact: windows 0–2
  // duplicated, the text tail unique.
  //
  // Scale shape (100 TB): the fan-out is ~2 windows per 40 chars (the
  // inherent cost of substring-grain dedup — Lee et al. pay a suffix
  // array for the same coverage). "Duplicated" needs only min(doc_id)
  // <> max(doc_id) per window — partial min/max aggregation, NOT a
  // countDistinct, so the hyper-frequent footer window contributes ONE
  // buffer row per map partition to the exchange, never its full
  // occurrence list. Three corpus-scale exchanges total: window-keyed
  // aggregate, window-keyed fact⋈dup-set join (the dup set after the
  // min<>max cut is small but corpus-proportional — NOT broadcastable
  // at 100 TB, unlike q69's frequent-line set; the aggregate output is
  // already partitioned on the join key so only the fact side moves,
  // and hyper-frequent-window skew is AQE skew-join fodder with a
  // deduped build side), then the doc_id regroup. In production the
  // window text would be keyed as xxhash64(win) to shrink both
  // exchanges 5× (collision-tolerable for dedup flagging); the oracle
  // keys the raw text so both engines count identically.
  // ---------------------------------------------------------------------

  /** The q89 window-occurrence frame (doc_id, win) — also the input of
    * the online leg (frequentLines at threshold 2 over windows: a
    * window crossing two distinct docs IS the duplicated-span event). */
  private[graft] def windowOccurrences(s: SparkSession, d: String): DataFrame = {
    val body = "concat('TERMS OF SERVICE APPLY - SEE FOOTER NOTE', " +
      "'PROMO CODE ', lpad(cast(doc_id % 50 as string), 4, '0'), " +
      "' REDEEM AT CHECKOUT TODAY', coalesce(text, ''))"
    Tables.fanOut(Tables.documents(s, d), "doc_id")
      .selectExpr("doc_id", s"$body as body")
      .selectExpr("doc_id",
        "explode(transform(sequence(0, (length(body) - 40) div 20), " +
          "i -> substring(body, cast(1 + i * 20 as int), 40))) as win")
  }

  def windowDedup(s: SparkSession, d: String): DataFrame = {
    // persisted: feeds the dup-set aggregate AND the rebuild join
    val wins = windowOccurrences(s, d).transform(Tables.maybePersist)
    val dup = wins.groupBy("win")
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("dup"))
      .filter(col("dup"))
    wins.join(dup, Seq("win"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
           sum(when(col("dup"), 1L).otherwise(0L)).cast("long").as("n_dup"))
      .selectExpr("doc_id", "n_windows", "n_dup",
        "floor(n_dup / cast(n_windows as double) * 1e6 + 0.5) / 1e6 as dup_ratio")
  }

  val windowDedupSql: String =
    """WITH d AS (SELECT doc_id,
      |  'TERMS OF SERVICE APPLY - SEE FOOTER NOTE' || 'PROMO CODE ' ||
      |  lpad((doc_id % 50)::VARCHAR, 4, '0') || ' REDEEM AT CHECKOUT TODAY' ||
      |  coalesce(text, '') AS body FROM documents),
      |w AS (SELECT doc_id, substring(body, (1 + i * 20)::INT, 40) AS win
      |  FROM d, unnest(range(0, ((length(body) - 40) // 20) + 1)) AS t(i)),
      |dup AS (SELECT win FROM w GROUP BY win HAVING MIN(doc_id) <> MAX(doc_id))
      |SELECT w.doc_id, COUNT(*)::BIGINT AS n_windows,
      |  SUM(CASE WHEN dup.win IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup,
      |  floor(SUM(CASE WHEN dup.win IS NOT NULL THEN 1 ELSE 0 END)
      |    / COUNT(*)::DOUBLE * 1e6 + 0.5) / 1e6 AS dup_ratio
      |FROM w LEFT JOIN dup USING (win)
      |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q90 — CURATION FUNNEL: the four selection stages a production corpus
  // actually chains — quality gate (q71 rule battery) → exact-dedup keep
  // (q22 key, lowest passing doc_id wins) → benchmark decontamination
  // (q48 deny list) → classifier threshold (q72 score ≥ 0) — run as ONE
  // operator emitting the per-stage attrition row (n_docs → n_gate →
  // n_dedup → n_decon → n_final + surviving chars): the funnel report a
  // curation dashboard reads, and the proof the engine's stages compose.
  // Stage order is the production order (cheap row-local gates first,
  // keyed dedup on the survivors, then the per-doc model scores).
  //
  // Scale shape (100 TB): fingerprint and classifier score are per-row
  // text work FUSED into one typed mapPartitions pass (computing them as
  // separate frames would mean re-joining the corpus to its own
  // derivatives on doc_id — two corpus⋈corpus exchanges for signals
  // derivable in the same scan); the gate battery is appended as
  // codegen'd HOF expressions (qualityGateVerdict); `text` drops before
  // the only corpus-keyed exchange (the dedup-key window over the slim
  // flag frame); the deny list is eval-set-sized → broadcast; the final
  // report is a singleton aggregate of boolean counters. Every stage
  // verdict matches its standalone query bit-for-bit (same expressions,
  // same integer/floor disciplines).
  // ---------------------------------------------------------------------

  /** The funnel's per-doc stage flags (doc_id, source, n_chars, s1–s4,
    * split) — shared by the q90 attrition report and the q100 export
    * leg. Slim by construction: `text` drops before the only
    * corpus-keyed exchange (the dedup-key window). */
  private[graft] def funnelFlags(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // one pass: q21 min-shingle fingerprint + q72 classifier verdict
    val scored = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .as[(Long, String, String, Long)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val w = clfWeights
        it.map { case (id, text, source, nChars) =>
          (id, text, source, nChars, minShingleHashOf(md, text), clfScoreOf(md, w, text) >= 0)
        }
      }
      .toDF("doc_id", "text", "source", "n_chars", "fp", "clf_pass")
    // persisted: the deny build side AND the funnel probe share it
    val slim = qualityGateVerdict(scored)
      .selectExpr("doc_id", "source", "n_chars", "fp", "clf_pass", "pass",
        "concat_ws(' ', slice(split(text, ' '), 1, 2)) as dkey")
      .transform(Tables.maybePersist)
    val deny = slim.filter(col("doc_id") % 20 === 0 && col("fp").isNotNull)
      .select(col("fp").as("deny_fp")).distinct()
    slim
      .join(broadcast(deny), col("fp") === col("deny_fp"), "left")
      .withColumn("keep_id",
        min(when(col("pass"), col("doc_id"))).over(Window.partitionBy(col("dkey"))))
      .selectExpr("doc_id", "source", "n_chars",
        "pass as s1",
        "pass and doc_id = keep_id as s2",
        "pass and doc_id = keep_id and deny_fp is null as s3",
        "pass and doc_id = keep_id and deny_fp is null and clf_pass as s4",
        // bucket projected once (q34 note: no CSE across WHEN branches)
        s"$bucketCol as bucket")
      .selectExpr("doc_id", "source", "n_chars", "s1", "s2", "s3", "s4",
        """CASE WHEN bucket < 80 THEN 'train'
          |WHEN bucket < 90 THEN 'val' ELSE 'test' END as split"""
          .stripMargin.replace("\n", " "))
  }

  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    funnelFlags(s, d).groupBy()
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("s1"), 1L).otherwise(0L)).cast("long").as("n_gate"),
           sum(when(col("s2"), 1L).otherwise(0L)).cast("long").as("n_dedup"),
           sum(when(col("s3"), 1L).otherwise(0L)).cast("long").as("n_decon"),
           sum(when(col("s4"), 1L).otherwise(0L)).cast("long").as("n_final"),
           coalesce(sum(when(col("s4"), col("n_chars"))), lit(0L))
             .cast("long").as("kept_chars"))
  }

  /** The funnel's per-doc flag CTEs (through `fl`: doc_id, source,
    * n_chars, split, s1–s4) — shared by the q90 and q100 oracles. */
  private val funnelCtesSql: String =
    s"""t AS (SELECT doc_id, source, n_chars, text, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, source, n_chars, toks,
       |  concat_ws(' ', toks[1], toks[2]) AS dkey,
       |  len(toks)::BIGINT AS n_words,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(toks, x -> length(x)::BIGINT)), (a, b) -> a + b) AS sum_word_chars,
       |  len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha_words,
       |  len(list_intersect(list_distinct(toks), ['the','be','to','of','and','that','have','with']))::BIGINT AS n_stop_kinds,
       |  len(list_filter(toks, x -> regexp_matches(x, '^[^a-z0-9]+$$')))::BIGINT AS n_symbol_words
       |  FROM t),
       |gp AS (SELECT doc_id, source, n_chars, dkey,
       |  (n_words >= 50 AND n_words <= 100000
       |    AND 3 * n_words <= sum_word_chars AND sum_word_chars <= 10 * n_words
       |    AND 5 * n_alpha_words >= 4 * n_words
       |    AND n_stop_kinds >= 1
       |    AND 10 * n_symbol_words <= n_words) AS pass
       |  FROM g),
       |fpx AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
       |    list_aggregate(list_transform(range(1, len(toks) - 1),
       |      i -> substr(md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]), 1, 16)), 'min')
       |  ELSE NULL END AS fp FROM t),
       |deny AS (SELECT DISTINCT fp FROM fpx WHERE doc_id % 20 = 0 AND fp IS NOT NULL),
       |cf AS (SELECT doc_id, list_concat(toks,
       |    list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])) AS feats FROM t),
       |cc AS (SELECT doc_id, len(feats)::BIGINT AS n_feats,
       |    list_transform(range(0, $clfDim), j ->
       |      len(list_filter(feats, g2 -> ('0x' || substr(md5(g2), 1, 8))::BIGINT % $clfDim = j))::DOUBLE) AS cnt
       |  FROM cf),
       |csc AS (SELECT doc_id,
       |    floor(list_reduce(list_prepend(0.0::DOUBLE,
       |        list_transform(range(1, ${clfDim + 1}), i -> cnt[i] *
       |          (((((i - 1) * 1103515245 + 12345) % 1000) - 500) / 1000.0))), (a, b) -> a + b)
       |      / n_feats::DOUBLE * 1e6 + 0.5) / 1e6 >= 0 AS clf_pass
       |  FROM cc),
       |k AS (SELECT gp.doc_id, gp.source, gp.n_chars, gp.pass, fpx.fp, csc.clf_pass,
       |    MIN(CASE WHEN gp.pass THEN gp.doc_id END) OVER (PARTITION BY gp.dkey) AS keep_id,
       |    CASE WHEN ('0x' || substr(md5(gp.doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80 THEN 'train'
       |    WHEN ('0x' || substr(md5(gp.doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90 THEN 'val'
       |    ELSE 'test' END AS split
       |  FROM gp JOIN fpx USING (doc_id) JOIN csc USING (doc_id)),
       |fl AS (SELECT doc_id, source, n_chars, split,
       |    pass AS s1,
       |    pass AND doc_id = keep_id AS s2,
       |    pass AND doc_id = keep_id
       |      AND NOT EXISTS (SELECT 1 FROM deny WHERE deny.fp = k.fp) AS s3,
       |    pass AND doc_id = keep_id
       |      AND NOT EXISTS (SELECT 1 FROM deny WHERE deny.fp = k.fp) AND clf_pass AS s4
       |  FROM k)""".stripMargin

  val curationFunnelSql: String =
    s"""WITH $funnelCtesSql
       |SELECT COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN s1 THEN 1 ELSE 0 END)::BIGINT AS n_gate,
       |  SUM(CASE WHEN s2 THEN 1 ELSE 0 END)::BIGINT AS n_dedup,
       |  SUM(CASE WHEN s3 THEN 1 ELSE 0 END)::BIGINT AS n_decon,
       |  SUM(CASE WHEN s4 THEN 1 ELSE 0 END)::BIGINT AS n_final,
       |  coalesce(SUM(CASE WHEN s4 THEN n_chars END), 0)::BIGINT AS kept_chars
       |FROM fl""".stripMargin

  // ---------------------------------------------------------------------
  // q100 — CURATED-CORPUS EXPORT MANIFEST + the export itself: the ship
  // step. [[exportManifest]] (the oracle-gated query) is the stats
  // manifest a training job reads before consuming the corpus — per
  // (split, source): surviving docs and characters, over the q90 funnel
  // survivors bucketed by the q34 content-hash split.
  // [[exportCurated]] performs the write: the slim per-doc flag frame
  // selects survivors, joins BACK to the corpus on doc_id (the one
  // corpus-keyed exchange an export needs — the flags never carried
  // `text`), and writes parquet partitioned by split — the layout a
  // trainer consumes split-by-split with partition pruning.
  // Side-effectful → spec-verified (ExtensionsSpec: read-back set ==
  // survivor set, partition dirs exist, manifest reconciles); the
  // manifest query is pure and oracle-gated.
  // ---------------------------------------------------------------------

  def exportManifest(s: SparkSession, d: String): DataFrame =
    funnelFlags(s, d).filter(col("s4"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("sum_chars"))

  val exportManifestSql: String =
    s"""WITH $funnelCtesSql
       |SELECT split, source, COUNT(*)::BIGINT AS n_docs,
       |  SUM(n_chars)::BIGINT AS sum_chars
       |FROM fl WHERE s4 GROUP BY split, source ORDER BY split, source""".stripMargin

  /** Write the curated corpus to `outPath`, partitioned by split.
    * Returns the count written (one action drives the whole plan). */
  def exportCurated(s: SparkSession, d: String, outPath: String): Long = {
    val kept = funnelFlags(s, d).filter(col("s4")).select("doc_id", "split")
    Tables.documents(s, d)
      .join(kept, Seq("doc_id"))
      .select("doc_id", "source", "lang", "n_chars", "text", "split")
      .write.mode("overwrite").partitionBy("split").parquet(outPath)
    // count written, from the output's parquet footers (r21): identical
    // to the Spark read-back count, zero jobs after the write action
    IndexLifecycle.parquetFooterRows(s, outPath)
  }

  // ---------------------------------------------------------------------
  // q49 — boilerplate detection: a 3-gram shingle is "boilerplate" when
  // it appears in ≥ 10 distinct documents; each document reports how much
  // of its shingle set is boilerplate (the repeated-template/footer
  // signal curation pipelines filter on). Scale shape: per-doc DISTINCT
  // shingles are per-row expression work; shingle document frequency is
  // one keyed shuffle; the frequent set after the ≥10 cut is far smaller
  // than the corpus (it IS the boilerplate) → broadcast LEFT SEMI join
  // back, so the exploded fact side never reshuffles. At 100 TB the df
  // cut happens before the broadcast, keeping the build side bounded.
  // ---------------------------------------------------------------------

  def boilerplate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // distinct 3-gram shingles per doc as a typed JVM loop — the HOF
    // transform/array_distinct form evaluates interpreted (suite
    // playbook: hot per-row loops go native; oracle keeps the HOF twin).
    // Dedup.shingles3 is THE shingling contract (q21/q23 share it) —
    // one implementation to keep in lockstep with the DuckDB twins.
    // Kept in ARRAY form (persisted: two consumers — frequent-set agg
    // and probe — share the md5-free but still hot shingling pass);
    // explode_outer with the array size riding along keeps zero-shingle
    // docs in-band, which kills the old corpus⋈corpus rejoin of
    // `documents` to its own doc_id-keyed aggregates (two extra
    // corpus-wide exchanges at 100 TB, gone).
    val shArr = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(it => it.map { case (id, text) => (id, Dedup.shingles3(text)) })
      .toDF("doc_id", "sh")
      .transform(Tables.maybePersist)
    val exploded = shArr.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode_outer(col("sh")).as("shingle"))
    val frequent = exploded.filter(col("shingle").isNotNull)
      .groupBy("shingle").agg(count(lit(1)).as("df")).filter(col("df") >= 10)
      .select(col("shingle").as("freq_shingle"))
    // left join against the distinct frequent set (no fanout) + count of
    // matches == the old semi-join + second aggregation, one pass
    exploded.join(broadcast(frequent), col("shingle") === col("freq_shingle"), "left")
      .groupBy("doc_id")
      .agg(first(col("n_sh")).as("n_sh"), count(col("freq_shingle")).as("n_boiler"))
      .selectExpr("doc_id",
        "cast(n_sh as bigint) as n_shingles",
        "n_boiler",
        """case when n_sh = 0 then 0.0
          |else floor((n_boiler / cast(n_sh as double)) * 1e6 + 0.5) / 1e6
          |end as boiler_ratio""".stripMargin.replace("\n", " "))
  }

  val boilerplateSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN
      |    list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
      |  ELSE [] END)) AS shingle FROM t),
      |freq AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM sh
      |  GROUP BY shingle) WHERE df >= 10),
      |per_doc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
      |boiler AS (SELECT doc_id, COUNT(*) AS n_boiler FROM sh
      |  WHERE EXISTS (SELECT 1 FROM freq WHERE freq.shingle = sh.shingle)
      |  GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(per_doc.n_shingles, 0)::BIGINT AS n_shingles,
      |  coalesce(boiler.n_boiler, 0)::BIGINT AS n_boiler,
      |  CASE WHEN coalesce(per_doc.n_shingles, 0) = 0 THEN 0.0
      |    ELSE floor((coalesce(boiler.n_boiler, 0) / per_doc.n_shingles::DOUBLE) * 1e6 + 0.5) / 1e6
      |  END AS boiler_ratio
      |FROM documents d
      |LEFT JOIN per_doc ON per_doc.doc_id = d.doc_id
      |LEFT JOIN boiler ON boiler.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q46 — corpus composition report with rollup subtotals: per
  // (source, lang), per source, and grand total in ONE pass — Spark
  // expands grouping sets before the single keyed shuffle (Expand
  // operator), so the subtotal levels cost one extra map-side row copy
  // each, not extra passes over 100 TB. The curation use: data-mixing
  // dashboards read exactly this shape.
  // ---------------------------------------------------------------------

  def corpusRollup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(
        coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("sum_chars"))

  val corpusRollupSql: String =
    """SELECT coalesce(source, 'ALL') AS source,
      |  coalesce(lang, 'ALL') AS lang,
      |  COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars
      |FROM documents GROUP BY ROLLUP (source, lang)
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q61 — repetition detection (the Gopher-style "most frequent n-gram
  // fraction" quality signal: templated/boilerplate text repeats the same
  // 3-gram over and over). The corpus is word salad, so the query plants
  // doc_id%4 copies of the document's own 40-char prefix — repetition the
  // detector must then measure out. Counting happens per ROW in one
  // mapPartitions pass (a per-doc hash map; interpreted HOF folds are 8×
  // slower — SURVEY §2.11): ZERO shuffle, embarrassingly parallel at
  // 100 TB. The DuckDB oracle states the same math relationally
  // (explode → group → window); tie-break = lexicographically least
  // among max-count shingles, ASCII corpus so Java/DuckDB collate alike.
  // ---------------------------------------------------------------------

  def repetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .selectExpr("doc_id",
        "concat(text, repeat(concat(' ', substring(text, 1, 40)), cast(doc_id % 4 as int))) as rtext")
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, rtext) =>
          val toks = rtext.split(" ", -1)
          if (toks.length < 3) (id, 0L, 0L, 0L, "", 0.0)
          else {
            val counts = new java.util.HashMap[String, Long]()
            var i = 0
            while (i + 2 < toks.length) {
              counts.merge(toks(i) + " " + toks(i + 1) + " " + toks(i + 2),
                1L, (a, b) => a + b)
              i += 1
            }
            var top = 0L
            var topSh = ""
            counts.forEach { (sh, c) =>
              if (c > top || (c == top && sh < topSh)) { top = c; topSh = sh }
            }
            val total = (toks.length - 2).toLong
            (id, total, counts.size.toLong, top, topSh,
              math.floor(top / total.toDouble * 1e6 + 0.5) / 1e6)
          }
        }
      }
      .toDF("doc_id", "n_shingles", "n_distinct", "top_count", "top_shingle", "rep_frac")
  }

  val repetitionSql: String =
    """WITH r AS (SELECT doc_id,
      |  text || repeat(' ' || substr(text, 1, 40), (doc_id % 4)::INT) AS rtext
      |  FROM documents),
      |tk AS (SELECT doc_id, string_split(rtext, ' ') AS toks FROM r),
      |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS s
      |  FROM tk WHERE len(toks) >= 3),
      |c AS (SELECT doc_id, s, COUNT(*) AS cnt FROM sh GROUP BY doc_id, s),
      |w AS (SELECT doc_id, s, cnt,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, s) AS rk,
      |  SUM(cnt) OVER (PARTITION BY doc_id) AS tot,
      |  COUNT(*) OVER (PARTITION BY doc_id) AS nd FROM c),
      |sel AS (SELECT doc_id, tot::BIGINT AS n_shingles, nd::BIGINT AS n_distinct,
      |  cnt::BIGINT AS top_count, s AS top_shingle,
      |  floor(cnt / tot::DOUBLE * 1e6 + 0.5) / 1e6 AS rep_frac
      |  FROM w WHERE rk = 1)
      |SELECT d.doc_id, coalesce(n_shingles, 0) AS n_shingles,
      |  coalesce(n_distinct, 0) AS n_distinct, coalesce(top_count, 0) AS top_count,
      |  coalesce(top_shingle, '') AS top_shingle, coalesce(rep_frac, 0.0) AS rep_frac
      |FROM documents d LEFT JOIN sel USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q62 — URL/domain extraction + per-domain corpus stats (domain
  // blocklists and source audits are core corpus-cleaning inputs). The
  // word-salad corpus has no URLs (q42 asserts zero 'http' hits), so the
  // query plants two per doc, then extracts every URL, derives the
  // domain, and aggregates. Scale: per-row regex extraction fused into
  // the scan; ONE keyed shuffle whose output is domain-vocabulary-sized.
  // ---------------------------------------------------------------------

  def domainStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr("doc_id",
        """concat(text, ' see https://news-', cast(doc_id % 7 as string),
          |'.example.com/a/', cast(doc_id as string),
          |' and http://cdn', cast(doc_id % 3 as string),
          |'.example.org/img/', cast(doc_id as string), '.png')"""
          .stripMargin.replace("\n", " ") + " as urltext")
      .selectExpr("doc_id",
        "explode(regexp_extract_all(urltext, 'https?://[^ ]+', 0)) as url")
      .selectExpr("doc_id", "regexp_extract(url, '^https?://([^/]+)', 1) as domain")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
           countDistinct(col("doc_id")).as("n_docs"),
           min(col("doc_id")).as("min_doc_id"))

  val domainStatsSql: String =
    """WITH u AS (SELECT doc_id,
      |  text || ' see https://news-' || (doc_id % 7)::VARCHAR ||
      |  '.example.com/a/' || doc_id::VARCHAR ||
      |  ' and http://cdn' || (doc_id % 3)::VARCHAR ||
      |  '.example.org/img/' || doc_id::VARCHAR || '.png' AS urltext
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(regexp_extract_all(urltext, 'https?://[^ ]+')) AS url FROM u),
      |dom AS (SELECT doc_id, regexp_extract(url, '^https?://([^/]+)', 1) AS domain FROM ex)
      |SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs,
      |  MIN(doc_id) AS min_doc_id
      |FROM dom GROUP BY domain ORDER BY domain""".stripMargin

  // ---------------------------------------------------------------------
  // q63 — contamination overlap SCORE: q48 decides keep/drop on an exact
  // fingerprint hit; real decontamination (GPT-3/PaLM appendices) scores
  // the FRACTION of a document's n-grams appearing in the eval set and
  // thresholds it. Eval set = distinct shingles of every 20th doc
  // (deterministic stand-in, derived from the 5%-of-docs frame BEFORE
  // exploding — eval-set-sized, so it lands as a broadcast build side).
  // The corpus side explodes and re-aggregates on doc_id: one keyed
  // shuffle with map-side partial agg; the broadcast join adds none.
  // Shingling is ONE typed mapPartitions pass (the q61 idiom — the
  // interpreted transform() HOF is ~8× slower and this frame feeds TWO
  // consumers), persisted under the `spark.graft.persist` policy so the
  // deny and scored branches share it. Counts are order-independent, so
  // the HOF-built oracle arrays and this hand-built set agree exactly.
  // ---------------------------------------------------------------------

  def contaminationScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = text.split(" ", -1)
          val out =
            if (toks.length < 3) Array.empty[String]
            else {
              val seen = new java.util.LinkedHashSet[String]()
              var i = 0
              while (i + 2 < toks.length) {
                seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
                i += 1
              }
              seen.toArray(new Array[String](seen.size))
            }
          (id, out)
        }
      }
      .toDF("doc_id", "sh")
      .transform(Tables.maybePersist)
    val deny = sh.filter(col("doc_id") % 20 === 0)
      .selectExpr("explode(sh) as deny_s").distinct()
    // explode_outer + array size in-band: zero-shingle docs survive the
    // aggregation with (0, 0, 0.0, false), so the old left-rejoin of
    // `documents` to this corpus-sized doc_id aggregate (a corpus⋈corpus
    // sort-merge at 100 TB) is gone
    sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode_outer(col("sh")).as("s"))
      .join(broadcast(deny), col("s") === col("deny_s"), "left")
      .groupBy("doc_id")
      .agg(first(col("n_sh")).as("n_sh"),
           count(col("deny_s")).as("n_contaminated"))
      .select(col("doc_id"),
        col("n_sh").cast("long").as("n_shingles"),
        col("n_contaminated"),
        when(col("n_sh") === 0, 0.0)
          .otherwise(floor(col("n_contaminated") / col("n_sh").cast("double") * 1e6 + 0.5) / 1e6)
          .as("contamination"))
      .withColumn("flagged", col("contamination") >= 0.8)
  }

  val contaminationScoreSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |shl AS (SELECT doc_id, ${Dedup.shinglesSqlDuck} AS sh FROM tk),
       |deny AS (SELECT DISTINCT unnest(sh) AS deny_s FROM shl WHERE doc_id % 20 = 0),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM shl),
       |agg AS (SELECT ex.doc_id, COUNT(*) AS n_sh, COUNT(deny.deny_s) AS n_cont,
       |  floor(COUNT(deny.deny_s) / COUNT(*)::DOUBLE * 1e6 + 0.5) / 1e6 AS cont
       |  FROM ex LEFT JOIN deny ON ex.s = deny.deny_s GROUP BY ex.doc_id)
       |SELECT d.doc_id, coalesce(n_sh, 0)::BIGINT AS n_shingles,
       |  coalesce(n_cont, 0)::BIGINT AS n_contaminated,
       |  coalesce(cont, 0.0) AS contamination,
       |  coalesce(cont >= 0.8, FALSE) AS flagged
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q74 — bigram-LM perplexity filter (the CCNet-style quality gate: fit a
  // small LM on an in-domain reference slice, score every document by
  // average negative log-likelihood, flag the out-of-domain tail).
  // Reference slice = doc_id % 10 == 0 (the q63 denylist idiom). Model:
  // add-one-smoothed bigram LM, P(w2|w1) = (c(w1 w2)+1)/(c(w1)+V) with V =
  // reference vocabulary size.
  //
  // Scale shape: the two count tables are keyed aggregates of the 10%
  // REFERENCE slice only (vocabulary-bounded — at 100 TB you'd prune to
  // top-K n-grams before broadcast, same shape); both join back as
  // BROADCASTs, V rides a one-row broadcast (the IVF codebook shape). The
  // corpus side is scan → explode → 3 broadcast joins → partial-agg →
  // ONE keyed exchange of (doc_id, sum, count) triples. Text never
  // re-shuffles.
  //
  // Determinism: p is a double division of exact integers (identical bits
  // both engines); each bigram's -ln(p) is quantized to integer
  // MICRO-NATS (floor(x*1e6+0.5) as BIGINT) BEFORE the per-doc sum, so
  // the sum is exact long arithmetic — order-independent, immune to the
  // float-sum ordering hazard of a distributed fold. ln agrees across
  // engines to ~1 ulp; the 1e-6 quantization grid makes a boundary flip
  // astronomically unlikely (measured clean at both test SFs).
  // ---------------------------------------------------------------------

  private[graft] val perplexityThreshold = 3.6

  def perplexityFilter(s: SparkSession, d: String): DataFrame = {
    val toksOf = "split(text, ' ')"
    val ref = Tables.documents(s, d)
      .filter(col("doc_id") % 10 === 0)
      .selectExpr("doc_id", s"$toksOf as toks")
      .transform(Tables.maybePersist)
    val ug = ref.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("uc"))
    val bg = ref
      .selectExpr("explode(transform(filter(sequence(0, size(toks) - 1), i -> i + 1 < size(toks)), i -> concat(toks[i], ' ', toks[i + 1]))) as b")
      .groupBy("b").agg(count(lit(1)).as("bc"))
    val vRow = ug.agg(count(lit(1)).cast("long").as("vsz"))
    // pairs via filter(sequence(0, size-1)) — sequence() with start>stop
    // steps DOWNWARD in Spark, so a naive sequence(0, size-2) on a
    // 1-token doc would yield [0,-1] instead of []; split() never returns
    // an empty array, so sequence(0, size-1) is always ascending
    val bx = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .selectExpr("doc_id", s"$toksOf as toks")
      .select(col("doc_id"), expr(
        "explode_outer(transform(filter(sequence(0, size(toks) - 1), i -> i + 1 < size(toks)), " +
          "i -> struct(toks[i] as w1, concat(toks[i], ' ', toks[i + 1]) as b)))").as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.b").as("b"))
    bx.join(broadcast(bg), Seq("b"), "left")
      .join(broadcast(ug), col("w1") === col("w"), "left")
      .crossJoin(broadcast(vRow))
      .select(col("doc_id"),
        col("b"),
        when(col("b").isNull, lit(null).cast("long")).otherwise(expr(
          "cast(floor(-ln(cast(coalesce(bc, 0) + 1 as double) / cast(coalesce(uc, 0) + vsz as double)) * 1e6 + 0.5) as bigint)"))
          .as("nll"))
      .groupBy("doc_id")
      .agg(count(col("b")).as("n_bigrams"),
           coalesce(sum(col("nll")), lit(0L)).as("sum_nll_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_nll_micro"),
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(floor(col("sum_nll_micro").cast("double") / col("n_bigrams") + 0.5) / 1e6)
          .as("avg_nll"))
      .withColumn("flagged", col("avg_nll") > perplexityThreshold)
  }

  // ---------------------------------------------------------------------
  // q78 — DSIR-style importance weighting (Xie et al. 2023: Data
  // Selection via Importance Resampling): per-document log importance
  // weight under hashed-n-gram bag models of a TARGET slice (doc_id%10
  // == 0, the q74 reference) vs the RAW corpus, keep = more
  // target-like than raw. log w(d) = Σ_feats [ln pt(b) − ln pr(b)] =
  // Σ_buckets cnt_d[b] · Δ[b] with Δ[b] the per-bucket quantized
  // log-ratio — so the per-doc score is an INTEGER dot product:
  // Δ is quantized to micro-nats once (128 values), cnt and Δ are
  // integer-valued doubles, every product and the 128-term sum stay
  // < 2^53 → graft_dot is EXACT here, no float-sum hazard anywhere.
  //
  // Scale shape: two bucket-count aggregates (target slice + raw
  // corpus) collapse to 128 rows each with map-side combine; the
  // scoring side is the q72 machinery — per-row mapPartitions feature
  // hashing, one-row broadcast Δ frame, ZERO corpus keyed exchange.
  // ---------------------------------------------------------------------

  /** Per-bucket feature counts of `df`'s text as a 128-long vector in a
    * ONE-ROW frame (bucket = q72 md5 hash of word uni+bigrams). */
  private def bucketTotals(df: DataFrame, outPrefix: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val dim = clfDim
    df.select(col("text")).as[String]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map(text => featureCounts(md, text, dim)._2)
      }
      .toDF("cnt")
      .selectExpr(s"explode(transform(sequence(0, ${dim - 1}), j -> struct(j as j, cast(cnt[j] as bigint) as c))) as p")
      .selectExpr("p.j as j", "p.c as c")
      .groupBy("j").agg(sum(col("c")).as("c"))
      .agg(sort_array(collect_list(struct(col("j"), col("c")))).as("jc"))
      .selectExpr(s"transform(jc, x -> x.c) as ${outPrefix}_cnt",
                  s"aggregate(jc, cast(0 as bigint), (a, x) -> a + x.c) as ${outPrefix}_tot")
  }

  /** The q78 Δ model as a one-row frame: Δ[b] in micro-nats, 128
    * integer-valued doubles. */
  private def dsirDelta(s: SparkSession, d: String): DataFrame = {
    val dim = clfDim
    val target = bucketTotals(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0), "t")
    val raw = bucketTotals(Tables.documents(s, d), "r")
    target.crossJoin(raw).selectExpr(
      s"""transform(sequence(0, ${dim - 1}), j ->
         |  cast(cast(floor((ln((t_cnt[j] + 1) / cast(t_tot + $dim as double))
         |            - ln((r_cnt[j] + 1) / cast(r_tot + $dim as double))) * 1e6 + 0.5) as bigint) as double)) as delta"""
        .stripMargin.replace("\n", " "))
  }

  def dsirWeight(s: SparkSession, d: String): DataFrame = {
    Similarity.withFns(s)
    featureCountsOf(Tables.fanOut(Tables.documents(s, d), "doc_id"))
      .crossJoin(broadcast(dsirDelta(s, d)))
      .selectExpr("doc_id", "n_feats",
        "cast(graft_dot(cnt, delta) as bigint) as logw_micro")
      .withColumn("keep", col("logw_micro") > 0L)
  }

  /** The fitted q78 Δ model as plain data (128 integer-valued micro-nat
    * doubles — the fitBigramLm model-fit-collect discipline). */
  def fitDsirDelta(s: SparkSession, d: String): Array[Double] = {
    import s.implicits._
    dsirDelta(s, d).as[Array[Double]].head()
  }

  /** q78's scorer as a REUSABLE stateless per-row transform (the
    * classifierVerdict discipline): Δ in the task closure, same
    * ascending-bucket dot as graft_dot over the same exact
    * integer-valued doubles → logw_micro is IDENTICAL to the batch q78
    * (pinned in ExtensionsSpec). Fixed (doc_id, source, text) input;
    * appends n_feats, logw_micro, keep. */
  def dsirVerdict(df: DataFrame, delta: Array[Double]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val dim = clfDim
    df.select(col("doc_id").cast("long"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, src, text) =>
          val (n, cnt) = featureCounts(md, text, dim)
          val logw = ascDot(cnt, delta).toLong
          (id, src, text, n, logw, logw > 0L)
        }
      }
      .toDF("doc_id", "source", "text", "n_feats", "logw_micro", "keep")
  }

  val dsirWeightSql: String = {
    val dim = clfDim
    val bucketOf = s"('0x' || substr(md5(g), 1, 8))::BIGINT % $dim"
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |f AS (SELECT doc_id, list_concat(toks,
       |    list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])) AS feats
       |  FROM tk),
       |ex AS (SELECT doc_id, $bucketOf AS j FROM (SELECT doc_id, unnest(feats) AS g FROM f)),
       |tc AS (SELECT j, COUNT(*)::BIGINT AS c FROM ex WHERE doc_id % 10 = 0 GROUP BY j),
       |rc AS (SELECT j, COUNT(*)::BIGINT AS c FROM ex GROUP BY j),
       |tt AS (SELECT SUM(c)::BIGINT AS t_tot FROM tc),
       |rt AS (SELECT SUM(c)::BIGINT AS r_tot FROM rc),
       |js AS (SELECT unnest(range(0, $dim)) AS j),
       |dj AS (SELECT js.j,
       |    floor((ln((coalesce(tc.c, 0) + 1) / (t_tot + $dim)::DOUBLE)
       |         - ln((coalesce(rc.c, 0) + 1) / (r_tot + $dim)::DOUBLE)) * 1e6 + 0.5)::BIGINT AS dv
       |  FROM js LEFT JOIN tc ON tc.j = js.j LEFT JOIN rc ON rc.j = js.j
       |       CROSS JOIN tt CROSS JOIN rt),
       |dl AS (SELECT list(dv ORDER BY j) AS delta FROM dj),
       |dc AS (SELECT doc_id, len(feats)::BIGINT AS n_feats,
       |    list_transform(range(0, $dim), j ->
       |      len(list_filter(feats, g -> $bucketOf = j))::BIGINT) AS cnt
       |  FROM f),
       |sc AS (SELECT doc_id, n_feats,
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range(1, $dim + 1), i -> cnt[i] * delta[i])),
       |      (a, b) -> a + b) AS logw_micro
       |  FROM dc CROSS JOIN dl)
       |SELECT doc_id, n_feats, logw_micro, logw_micro > 0 AS keep
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** The fitted q74 model as plain data: reference-slice n-gram counts +
    * vocabulary size. Vocabulary-bounded (NOT corpus-bounded) — at 100 TB
    * you prune to top-K n-grams before materializing, same as any
    * broadcast LM. */
  case class BigramLm(unigrams: Map[String, Long],
                      bigrams: Map[String, Long],
                      vocabSize: Long)

  /** Fit the q74 bigram LM on a reference frame with a `toks`
    * array<string> column. The terminal collect here is a MODEL FIT of
    * vocabulary-bounded aggregates (the q66 `df.stat.bloomFilter`
    * discipline — parameters come to the driver once, documents never
    * do), not a hot-path materialization.
    *
    * `topK > 0` makes the fit DRIVER-SAFE at any reference-slice size:
    * only the topK most-frequent unigrams and topK bigrams materialize
    * (count desc, key asc — a deterministic TakeOrdered applied to the
    * aggregate BEFORE collect; under Heap's law an unpruned bigram
    * vocabulary on a 100 TB reference slice is not driver-friendly).
    * `vocabSize` stays the EXACT distinct-unigram count (a scalar off
    * the same aggregate), so smoothing denominators do not move: a
    * pruned-away n-gram scores through the add-one smoothing path
    * exactly as an unseen n-gram would — pruning ≡ restricting the
    * count maps, never a new arithmetic path (pinned in
    * ExtensionsSpec). Default 0 = exact (the sf-scale batch twin). */
  def fitBigramLm(ref: DataFrame, topK: Int = 0): BigramLm = {
    val s = ref.sparkSession
    import s.implicits._
    val ugAgg = ref.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bgAgg = ref
      .selectExpr("explode(transform(filter(sequence(0, size(toks) - 1), i -> i + 1 < size(toks)), i -> concat(toks[i], ' ', toks[i + 1]))) as b")
      .groupBy("b").agg(count(lit(1)).as("c"))
    if (topK <= 0) {
      val ug = ugAgg.as[(String, Long)].collect().toMap
      val bg = bgAgg.as[(String, Long)].collect().toMap
      BigramLm(ug, bg, ug.size.toLong)
    } else {
      // vocab scalar + topK prune off ONE persisted vocabulary-sized
      // aggregate (persisting the AGGREGATE, never the corpus)
      val ugP = ugAgg.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val vsz = ugP.count()
        val ug = ugP.orderBy(col("c").desc, col("w")).limit(topK)
          .as[(String, Long)].collect().toMap
        val bg = bgAgg.orderBy(col("c").desc, col("b")).limit(topK)
          .as[(String, Long)].collect().toMap
        BigramLm(ug, bg, vsz)
      } finally { ugP.unpersist(blocking = false); () }
    }
  }

  /** q74's scorer as a REUSABLE stateless per-row transform for the
    * online curation leg (the classifierVerdict discipline): the fitted
    * LM rides the task closure, scoring is a per-row JVM loop whose
    * arithmetic — integer-count division, math.log, micro-nat floor,
    * exact long sum — is the batch q74 chain operation-for-operation,
    * so scores are BIT-IDENTICAL (pinned in ExtensionsSpec). Fixed
    * (doc_id, source, text) input schema; appends n_bigrams,
    * avg_nll, ppl_flagged. */
  def perplexityVerdict(df: DataFrame, lm: BigramLm): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val threshold = perplexityThreshold
    df.select(col("doc_id").cast("long"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (id, src, text) =>
          val toks = text.split(" ", -1)
          var sum = 0L
          var i = 1
          while (i < toks.length) {
            val w1 = toks(i - 1)
            val bc = lm.bigrams.getOrElse(w1 + " " + toks(i), 0L)
            val uc = lm.unigrams.getOrElse(w1, 0L)
            val p = (bc + 1L).toDouble / (uc + lm.vocabSize).toDouble
            sum += math.floor(-math.log(p) * 1e6 + 0.5).toLong
            i += 1
          }
          val nb = (toks.length - 1).toLong
          val avg = if (nb == 0L) 0.0
                    else math.floor(sum.toDouble / nb + 0.5) / 1e6
          (id, src, text, nb, avg, avg > threshold)
        }
      }
      .toDF("doc_id", "source", "text", "n_bigrams", "avg_nll", "ppl_flagged")
  }

  val perplexityFilterSql: String =
    s"""WITH ref AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE doc_id % 10 = 0),
       |ug AS (SELECT w, COUNT(*)::BIGINT AS uc
       |  FROM (SELECT unnest(toks) AS w FROM ref) GROUP BY w),
       |v AS (SELECT COUNT(*)::BIGINT AS vsz FROM ug),
       |bg AS (SELECT b, COUNT(*)::BIGINT AS bc
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |          i -> toks[i] || ' ' || toks[i + 1])) AS b FROM ref) GROUP BY b),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |bx AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS b
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tk)),
       |sc AS (SELECT bx.doc_id,
       |    floor(-ln((coalesce(bg.bc, 0) + 1)::DOUBLE
       |              / (coalesce(ug.uc, 0) + v.vsz)::DOUBLE) * 1e6 + 0.5)::BIGINT AS nll
       |  FROM bx LEFT JOIN bg ON bx.b = bg.b
       |          LEFT JOIN ug ON bx.w1 = ug.w
       |          CROSS JOIN v),
       |ag AS (SELECT doc_id, COUNT(*)::BIGINT AS nb, SUM(nll)::BIGINT AS s
       |  FROM sc GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(nb, 0)::BIGINT AS n_bigrams,
       |  coalesce(s, 0)::BIGINT AS sum_nll_micro,
       |  CASE WHEN coalesce(nb, 0) = 0 THEN 0.0
       |       ELSE floor(s::DOUBLE / nb + 0.5) / 1e6 END AS avg_nll,
       |  CASE WHEN coalesce(nb, 0) = 0 THEN FALSE
       |       ELSE floor(s::DOUBLE / nb + 0.5) / 1e6 > $perplexityThreshold END AS flagged
       |FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q18_token_stats"   -> ((s, d) => tokenStats(s, d)),
    "q34_split_assign"  -> ((s, d) => splitAssign(s, d)),
    "q37_group_sample"  -> ((s, d) => groupSample(s, d)),
    "q19_quality_score" -> ((s, d) => qualityScore(s, d)),
    "q20_lang_id"       -> ((s, d) => langId(s, d)),
    "q21_fingerprint"   -> ((s, d) => fingerprint(s, d)),
    "q42_pii_scrub"     -> ((s, d) => piiScrub(s, d)),
    "q43_tfidf"         -> ((s, d) => tfidf(s, d)),
    "q129_bm25"         -> ((s, d) => bm25(s, d)),
    // q132 probes the standing lexical index (built lazily once per
    // process — the q102/q119/q126 gate pattern); q132b is the build
    "q132_lex_index_probe" -> ((s, d) => {
      val path = lexIndexPathFor(d)
      if (!IndexLifecycle.exists(s, lexFamily, path)) buildLexIndex(s, d, path)
      lexIndexProbeStored(s, d, path)
    }),
    "q132b_lex_index_build" -> ((s, d) => {
      import s.implicits._
      Seq(buildLexIndex(s, d, lexIndexPathFor(d))).toDF("n_index_rows")
    }),
    // q142/q143 (r19): the lexical lifecycle rows — merge and
    // right-to-be-forgotten against standing BM25 artifacts, each
    // certified by probing the post-maintenance index against a
    // from-scratch DuckDB recompute
    "q142_lex_index_merge"  -> ((s, d) => lexIndexMerge(s, d)),
    "q143_lex_index_forget" -> ((s, d) => lexIndexForget(s, d)),
    // q144 (r19): the auto-maintained lifecycle — merge + a takedown
    // heavy enough to fire the compaction policy, probed post-compaction
    "q144_lex_index_maintain" -> ((s, d) => lexIndexMaintain(s, d)),
    "q44_len_quantiles" -> ((s, d) => lengthQuantiles(s, d)),
    "q64_len_quantiles_approx" -> ((s, d) => lengthQuantilesApprox(s, d)),
    "q65_approx_distinct" -> ((s, d) => approxDistinctUsers(s, d)),
    "q66_bloom_decontaminate" -> ((s, d) => bloomDecontaminate(s, d)),
    "q46_corpus_rollup" -> ((s, d) => corpusRollup(s, d)),
    "q48_decontaminate" -> ((s, d) => decontaminate(s, d)),
    "q49_boilerplate"   -> ((s, d) => boilerplate(s, d)),
    "q51_source_mix"    -> ((s, d) => sourceMix(s, d)),
    "q52_pivot_report"  -> ((s, d) => pivotReport(s, d)),
    "q56_vocab_zipf"    -> ((s, d) => vocabZipf(s, d)),
    "q57_lang_confusion"-> ((s, d) => langIdConfusion(s, d)),
    "q61_repetition"    -> ((s, d) => repetition(s, d)),
    "q62_domain_stats"  -> ((s, d) => domainStats(s, d)),
    "q63_contamination" -> ((s, d) => contaminationScore(s, d)),
    "q67_temperature_mix" -> ((s, d) => temperatureMix(s, d)),
    "q68_sequence_pack" -> ((s, d) => sequencePack(s, d)),
    "q69_line_dedup" -> ((s, d) => lineDedup(s, d)),
    "q71_quality_gate" -> ((s, d) => qualityGate(s, d)),
    "q72_classifier_score" -> ((s, d) => classifierScore(s, d)),
    "q73_token_pack" -> ((s, d) => sequencePackTokens(s, d)),
    "q74_lm_perplexity" -> ((s, d) => perplexityFilter(s, d)),
    "q78_dsir_weight" -> ((s, d) => dsirWeight(s, d)),
    "q89_window_dedup" -> ((s, d) => windowDedup(s, d)),
    "q90_curation_funnel" -> ((s, d) => curationFunnel(s, d)),
    "q93_heavy_hitters" -> ((s, d) => heavyHitters(s, d)),
    "q95_bpe_merges" -> ((s, d) => bpeMerges(s, d)),
    "q114_bpe_encode" -> ((s, d) => bpeEncode(s, d)),
    "q96_split_leakage" -> ((s, d) => splitLeakage(s, d)),
    "q97_dsir_resample" -> ((s, d) => dsirResample(s, d)),
    "q99_calibration" -> ((s, d) => calibrationReport(s, d)),
    "q103_weighted_sample" -> ((s, d) => weightedSample(s, d)),
    "q100_export_manifest" -> ((s, d) => exportManifest(s, d)),
  )

  def oracle: Map[String, String] = Map(
    "q18_token_stats"   -> tokenStatsSql,
    "q34_split_assign"  -> splitAssignSql,
    "q37_group_sample"  -> groupSampleSql,
    "q19_quality_score" -> qualityScoreSql,
    "q20_lang_id"       -> langIdSql,
    "q21_fingerprint"   -> fingerprintSql,
    "q42_pii_scrub"     -> piiScrubSql,
    "q43_tfidf"         -> tfidfSql,
    "q129_bm25"         -> bm25Sql,
    // the index is LOSSLESS, so the stored-probe oracle is the
    // from-scratch computation itself
    "q132_lex_index_probe" -> bm25Sql,
    "q132b_lex_index_build" ->
      """SELECT COUNT(*)::BIGINT AS n_index_rows FROM (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents))""".stripMargin,
    "q142_lex_index_merge"  -> lexIndexMergeSql,
    "q143_lex_index_forget" -> lexIndexForgetSql,
    "q144_lex_index_maintain" -> lexIndexMaintainSql,
    "q44_len_quantiles" -> lengthQuantilesSql,
    "q64_len_quantiles_approx" -> lengthQuantilesApproxSql,
    "q65_approx_distinct" -> approxDistinctUsersSql,
    "q66_bloom_decontaminate" -> bloomDecontaminateSql,
    "q46_corpus_rollup" -> corpusRollupSql,
    "q48_decontaminate" -> decontaminateSql,
    "q49_boilerplate"   -> boilerplateSql,
    "q51_source_mix"    -> sourceMixSql,
    "q52_pivot_report"  -> pivotReportSql,
    "q56_vocab_zipf"    -> vocabZipfSql,
    "q57_lang_confusion"-> langIdConfusionSql,
    "q61_repetition"    -> repetitionSql,
    "q62_domain_stats"  -> domainStatsSql,
    "q63_contamination" -> contaminationScoreSql,
    "q67_temperature_mix" -> temperatureMixSql,
    "q68_sequence_pack" -> sequencePackSql,
    "q69_line_dedup" -> lineDedupSql,
    "q71_quality_gate" -> qualityGateSql,
    "q72_classifier_score" -> classifierScoreSql,
    "q73_token_pack" -> sequencePackTokensSql,
    "q74_lm_perplexity" -> perplexityFilterSql,
    "q78_dsir_weight" -> dsirWeightSql,
    "q89_window_dedup" -> windowDedupSql,
    "q90_curation_funnel" -> curationFunnelSql,
    "q93_heavy_hitters" -> heavyHittersSql,
    "q95_bpe_merges" -> bpeMergesSql,
    "q114_bpe_encode" -> bpeEncodeSql,
    "q96_split_leakage" -> splitLeakageSql,
    "q97_dsir_resample" -> dsirResampleSql,
    "q99_calibration" -> calibrationReportSql,
    "q103_weighted_sample" -> weightedSampleSql,
    "q100_export_manifest" -> exportManifestSql,
  )
}
