package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.IndexLifecycle.ArtifactWriter

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH banding (shingle → minhash signature →
  * band buckets → bucket-join → exact-Jaccard verify), SimHash, and
  * n-gram Jaccard similarity.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on the content key with map-side
  *    partial aggregation;
  *  - MinHash/LSH is the canonical near-dup pattern: signatures are
  *    per-row expression work (no shuffle), candidate generation shuffles
  *    ONLY (band_idx, band_hash) pairs — never all-pairs — and the
  *    Jaccard verify touches only bucket-collision candidates;
  *  - SimHash is pure per-row expression work.
  *
  * The synthetic corpus has no real near-dups, so the LSH query builds a
  * mutated twin per document (first token dropped, doc_id+10000) with the
  * same expression on both engines — the oracle verifies the dedup
  * machinery end-to-end (signature, banding, candidate join, verify).
  */
/** Per-process scratch locations for the standing-index artifacts
  * (q102/q119/q126). The PID token isolates concurrent runs (bench vs
  * verify over one sf dir — the r13 advice race fix); the lifecycle
  * discipline here is the r14 advice fix: without it every process
  * leaked its artifacts into java.io.tmpdir forever.
  *
  *  - a single JVM shutdown hook deletes every path THIS process
  *    minted (build-once/probe-many within the process still holds —
  *    the path is stable until exit);
  *  - at mint time, sibling artifacts of the same family whose owning
  *    PID is no longer alive are swept (covers kill -9 / crashed runs
  *    the hook can't reach). Both legs are best-effort: scratch cleanup
  *    must never fail a query.
  */
private[graft] object ScratchPaths {
  private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      owned.forEach(p => deleteRecursively(new java.io.File(p)))
    }))

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** `tag` is the family ("q102"/"q119"/"q126"); `d` the testdata dir. */
  def indexPathFor(tag: String, d: String): String = {
    hookInstalled
    val tmp = System.getProperty("java.io.tmpdir")
    val pid = ProcessHandle.current().pid()
    sweepStale(tmp, tag, pid)
    val p = s"$tmp/graft-$tag-index-p$pid-" +
      d.replaceAll("[^A-Za-z0-9.]", "_")
    owned.add(p)
    p
  }

  /** A cheap content fingerprint of one testdata table directory
    * (max mtime ⊕ total bytes over the parquet dir's files): cached
    * corpus statistics key on it so a corpus REGENERATED mid-process
    * (ScaleUp rewrite then re-query in one JVM) re-probes instead of
    * serving the stale value while the DuckDB oracle recomputes inline
    * (r16 advice). Driver-side directory listing only — never a job. */
  def tableFingerprint(d: String, table: String): String = {
    val dir = new java.io.File(s"$d/$table.parquet")
    val kids = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
    val (mt, sz) = kids.foldLeft((dir.lastModified(), 0L)) {
      case ((m, s0), k) => (math.max(m, k.lastModified()), s0 + k.length())
    }
    java.lang.Long.toHexString(mt ^ java.lang.Long.rotateLeft(sz, 17))
  }

  /** Artifact-existence guard through the session's Hadoop FileSystem.
    * `java.io.File` silently reports "missing" for any non-local scheme
    * (hdfs:/s3a:), which would no-op the tombstone read guards on
    * exactly the deployments that need them (VERDICT r17 #4) — every
    * index-artifact existence check routes here instead. */
  def artifactExists(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Cross-driver write-intent marker (VERDICT r17 #5). The in-JVM index
    * locks serialize same-process writers; across drivers the single-
    * writer-per-path contract was documented but UNENFORCED — a second
    * driver's merge racing this one silently corrupts the artifact.
    * Inside the JVM lock every writer now stakes an epoch-stamped marker
    * file at `$path/_writer.lock`: a LIVE foreign marker fails loudly
    * (refuse), a STALE one — older than spark.graft.writerIntentTtlMs,
    * i.e. a crashed driver — is stolen. Marker ops ride the Hadoop
    * FileSystem (exclusive create is atomic on HDFS; on object stores
    * without it the guard degrades to best-effort detection — still
    * strictly better than silent corruption).
    *
    * RE-ENTRY + RELEASE DISCIPLINE (r19, advisor): same-process nested
    * re-entry (a merge that triggers compaction) is tracked by an
    * in-JVM depth counter — only the OUTERMOST frame touches the
    * marker, so an inner exit can no longer strip the outer writer's
    * protection. And release re-reads the marker before deleting,
    * removing it only when owner AND epoch still match what this frame
    * wrote: a writer whose body outlived the TTL and was stolen leaves
    * the stealing driver's live marker intact instead of silently
    * disabling the guard for a third driver. */
  private val intentDepth =
    scala.collection.mutable.Map.empty[String, (Int, String)] // path -> (depth, stamp)

  def withWriteIntent[T](s: SparkSession, path: String)(body: => T): T = {
    val marker = new org.apache.hadoop.fs.Path(s"$path/_writer.lock")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    val self = ProcessHandle.current().pid() + "@" +
      java.net.InetAddress.getLocalHost.getHostName
    val ttl = s.conf.getOption("spark.graft.writerIntentTtlMs")
      .map(_.toLong).getOrElse(600000L)
    val now = System.currentTimeMillis()
    val reentered = intentDepth.synchronized {
      intentDepth.get(path) match {
        case Some((d, st)) => intentDepth(path) = (d + 1, st); true
        case None          => false
      }
    }
    if (reentered) {
      try body
      finally intentDepth.synchronized {
        intentDepth(path) match {
          case (d, st) if d > 1 => intentDepth(path) = (d - 1, st)
          case _                => intentDepth.remove(path): Unit
        }
      }
    } else {
      if (fs.exists(marker)) {
        val raw = readMarker(fs, marker)
        val (owner, epoch) = raw.trim.split(' ') match {
          case Array(o, e) => (o, e.toLong)
          case _           => ("?", 0L) // unparseable = treat as stale
        }
        if (owner != self && now - epoch < ttl)
          throw new IllegalStateException(
            s"index $path has a live writer $owner (epoch $epoch, ttl $ttl ms): " +
            "single-writer-per-path contract violated — refusing to write")
        fs.delete(marker, false) // own leftover renews; stale foreign steals
      }
      val stamp = s"$self $now"
      val out = fs.create(marker, false) // exclusive: racing stealers fail loudly
      try out.write(stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      intentDepth.synchronized { intentDepth(path) = (1, stamp) }
      try body
      finally {
        intentDepth.synchronized { intentDepth.remove(path): Unit }
        try { // release only what we still own: a stolen marker is not ours
          if (fs.exists(marker) && readMarker(fs, marker).trim == stamp)
            fs.delete(marker, false): Unit
        } catch { case _: Exception => () }
      }
    }
  }

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
                         marker: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(marker)
    try {
      val buf = new Array[Byte](256)
      val n = in.read(buf)
      new String(buf, 0, math.max(n, 0), java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** A persisted per-(tag, dir) integer statistic — the standing-
    * statistic form of the adaptive dials (VERDICT r15 #4): computed
    * once per process per corpus, read from the scratch file by every
    * later consumer in the same ledger. Same lifecycle discipline as
    * the index artifacts (shutdown hook + stale-PID sweep); concurrent
    * writers race benignly (same deterministic value). Callers fold
    * [[tableFingerprint]] of the source table into `tag` so the cache
    * self-invalidates when the corpus is rewritten. */
  def cachedIntStat(tag: String, d: String)(compute: => Int): Int = {
    val p = java.nio.file.Paths.get(indexPathFor(tag, d))
    if (java.nio.file.Files.isRegularFile(p))
      new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    else {
      val v = compute
      val tmp = java.nio.file.Paths.get(s"$p.w${System.nanoTime()}")
      java.nio.file.Files.write(tmp,
        String.valueOf(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      catch { case _: Exception =>
        java.nio.file.Files.deleteIfExists(tmp): Unit }
      v
    }
  }

  private val PidPat = """graft-([A-Za-z0-9-]+)-index-p(\d+)-.*""".r
  private def sweepStale(tmp: String, tag: String, self: Long): Unit =
    try {
      val kids = new java.io.File(tmp).listFiles()
      if (kids != null) kids.foreach { f =>
        f.getName match {
          case PidPat(t, pidStr) if t == tag =>
            val pid = pidStr.toLong
            if (pid != self && !ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false))
              deleteRecursively(f)
          case _ => ()
        }
      }
    } catch { case _: Exception => () }
}

object Dedup {

  /** q22 — exact dedup on a normalized content key. */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr("doc_id", "concat_ws(' ', slice(split(text, ' '), 1, 2)) as dkey")
      .groupBy("dkey")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keep_doc_id"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("doc_ids"))

  val exactSql: String =
    """SELECT concat_ws(' ', string_split(text, ' ')[1], string_split(text, ' ')[2]) AS dkey,
      |  COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id,
      |  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
      |FROM documents GROUP BY dkey ORDER BY dkey""".stripMargin

  // Corpus with a near-duplicate twin per doc: same text minus its first
  // token, id offset by 10000 (Spark side builds the same frame with the
  // DataFrame API in nearDupPairs).
  private val corpusSqlDuck =
    "SELECT doc_id, text FROM documents UNION ALL " +
    "SELECT doc_id + 10000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text FROM documents"

  /** Distinct word-3-gram shingles of `text` (Spark SQL fragment). */
  private[graft] val shinglesExpr =
    """CASE WHEN size(toks) >= 3 THEN
      |array_distinct(transform(sequence(1, size(toks) - 2),
      |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      |ELSE array() END""".stripMargin.replace("\n", " ")

  private[graft] val shinglesSqlDuck =
    """CASE WHEN len(toks) >= 3 THEN
      |list_distinct(list_transform(range(1, len(toks) - 1),
      |  i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
      |ELSE [] END""".stripMargin.replace("\n", " ")

  private val MinhashP = 1000000007L
  private val NumHashes = 12

  /** MinHash signature of one shingle set, Carter-Wegman family: ONE md5
    * per shingle; its two 60-bit hex halves seed h_i(x) = (a + i·b) mod p.
    * Imperative on purpose: the 12-way running-min over every shingle is
    * the hot loop, and Spark's higher-order functions evaluate interpreted
    * (boxed, no codegen) — measured 8× slower than this JVM loop. The
    * arithmetic is reproduced verbatim in the DuckDB oracle. */
  private[graft] def minhashSig(md: java.security.MessageDigest, sh: Seq[String]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    sh.foreach { x =>
      val hex = Tables.hex(md.digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      val a = java.lang.Long.parseLong(hex.substring(0, 15), 16) % MinhashP
      val b = java.lang.Long.parseLong(hex.substring(16, 31), 16) % MinhashP
      var i = 0
      while (i < NumHashes) {
        val h = (a + i * b) % MinhashP
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Distinct word-3-gram shingles, first-occurrence order (== Spark's
    * array_distinct / DuckDB's list_distinct; downstream consumers —
    * min-over-set and intersection sizes — are order-independent anyway).
    * Tokenization matches `split(text, ' ')` exactly (trailing empties
    * kept, hence the -1 limit). */
  private[graft] def shingles3(text: String): Array[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < 3) return Array.empty
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i + 2 < toks.length) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Triangle-blocked candidate pairs from LSH band-bucket collisions —
    * same pair set as the naive `bands ⋈ bands` self-join, but per-task
    * work is BOUNDED under arbitrary bucket skew. The naive join puts
    * every row of one (band_idx, band_hash) bucket into a single task and
    * emits O(n²) pairs there — and a mass-duplicated boilerplate corpus
    * (exactly what a near-dup pass exists to find) makes such a bucket
    * arbitrarily hot. Construction (same as [[boundedBucketPairs]]):
    *
    *  1. bucket sizes via a count window on the band key — one keyed
    *     exchange; the hottest bucket lands in one task for counting,
    *     which is LINEAR work (the hazard being removed is the O(n²)
    *     pair emit, not the O(n) scan — any keyed repartition of the
    *     bucket pays the same linear pass);
    *  2. every row hashes into one of m = ⌈n/cap⌉ sub-groups and
    *     replicates to the m triangle blocks (i,j), i≤j, containing its
    *     sub-group; buckets under `cap` keep m=1 (zero overhead);
    *  3. block (i,j) emits sub-group-i × sub-group-j pairs — every
    *     in-bucket pair lands in EXACTLY one block, so the union over
    *     blocks is the exact naive pair set, while no task ever holds
    *     more than ~2·(n/m) rows or emits more than ~cap² pairs.
    *
    * Input: (band_idx, band_hash, doc_id). Output: distinct (doc_a,
    * doc_b), doc_a < doc_b. */
  /** Step 1+2 of [[boundedBandCandidates]]: each (band, bucket) row
    * replicated to its triangle blocks. Split out so the hot-band spec can
    * assert the per-block row bound directly. */
  private[graft] def bandBlocks(bands: DataFrame, cap: Int): DataFrame = {
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_hash"))
    bands.withColumn("bn", count(lit(1)).over(byBucket))
      .withColumn("m", ceil(col("bn") / lit(cap)).cast("int"))
      .withColumn("sr", pmod(hash(col("doc_id")), col("m")).cast("int"))
      .withColumn("blk", explode(expr(
        "transform(sequence(0, m - 1), k -> struct(least(sr, k) as bi, greatest(sr, k) as bj))")))
      .select(col("band_idx"), col("band_hash"), col("blk.bi").as("bi"),
              col("blk.bj").as("bj"), col("sr"), col("doc_id"))
  }

  // Encoders for the triangle-block rows, derived ONCE per JVM: the r17
  // form dispatched through a runtime-universe TypeTag and re-derived the
  // ExpressionEncoder inside every query's plan (runtime reflection under
  // a global lock, paid at plan time — the q25 0.23→0.63 s regression,
  // VERDICT r17 #2). The key is only grouped on, never inspected, so two
  // monomorphic encoder sets cover the packed-long form (graft_bits2long
  // prefixes, 8-byte shuffle keys) and the historical string form.
  private lazy val pairEnc =
    org.apache.spark.sql.Encoders.product[(Long, Long)]
  private lazy val rowEncL =
    org.apache.spark.sql.Encoders.product[(Int, Long, Int, Int, Int, Long)]
  private lazy val keyEncL =
    org.apache.spark.sql.Encoders.product[(Int, Long, Int, Int)]
  private lazy val rowEncS =
    org.apache.spark.sql.Encoders.product[(Int, String, Int, Int, Int, Long)]
  private lazy val keyEncS =
    org.apache.spark.sql.Encoders.product[(Int, String, Int, Int)]

  private[graft] def boundedBandCandidates(s: SparkSession, bands: DataFrame,
                                           cap: Int): DataFrame =
    bands.schema("band_hash").dataType match {
      case org.apache.spark.sql.types.LongType =>
        boundedBandCandidatesT[Long](bands, cap)(rowEncL, keyEncL)
      case _ =>
        boundedBandCandidatesT[String](bands, cap)(rowEncS, keyEncS)
    }

  private def boundedBandCandidatesT[K](bands: DataFrame, cap: Int)(
      rowEnc: org.apache.spark.sql.Encoder[(Int, K, Int, Int, Int, Long)],
      keyEnc: org.apache.spark.sql.Encoder[(Int, K, Int, Int)]): DataFrame = {
    bandBlocks(bands, cap)
      .as[(Int, K, Int, Int, Int, Long)](rowEnc)
      .groupByKey(t => (t._1, t._2, t._3, t._4))(keyEnc)
      .flatMapGroups { (key: (Int, K, Int, Int), it: Iterator[(Int, K, Int, Int, Int, Long)]) =>
        val (bi, bj) = (key._3, key._4)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        def emit(a: Long, b: Long): Unit =
          if (a < b) out += ((a, b)) else if (b < a) out += ((b, a))
        if (bi == bj) {
          val ids = it.map(_._6).toArray
          var i = 0
          while (i < ids.length) {
            var j = i + 1
            while (j < ids.length) { emit(ids(i), ids(j)); j += 1 }
            i += 1
          }
        } else {
          val (as, bs) = (scala.collection.mutable.ArrayBuffer.empty[Long],
                          scala.collection.mutable.ArrayBuffer.empty[Long])
          it.foreach(t => if (t._5 == bi) as += t._6 else bs += t._6)
          as.foreach(a => bs.foreach(b => emit(a, b)))
        }
        out.iterator
      }(pairEnc)
      .toDF("doc_a", "doc_b")
      .distinct()
  }

  /** q23 — MinHash+LSH near-dup: ONE mapPartitions pass tokenizes,
    * shingles, and signs every document (a digest instance per partition;
    * interpreted HOF expressions measured 8× slower for this hot loop);
    * then LSH banding (4 bands × 3 rows, string band keys),
    * triangle-blocked bucket-collision candidates (bounded per-task work
    * under band skew — see [[boundedBandCandidates]]), exact-Jaccard
    * verification at 0.5. The (sh, sig) frame is persisted — it feeds
    * the band path and both sides of the verify join, and at 100 TB
    * recomputing shingles three times dwarfs the cache cost. Unsorted —
    * q23 adds its presentation sort; q41 consumes the pairs as edges,
    * where a sort would be a wasted range-exchange. */
  /** The near-dup working corpus: every doc plus its mutated twin
    * (first token dropped, doc_id+10000). One definition for every
    * near-dup row and the specs, so each signs the same corpus. */
  private[graft] def nearDupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), col("text")).unionAll(
      docs.selectExpr("doc_id + 10000 as doc_id",
                      "substring(text, instr(text, ' ') + 1) as text"))
  }

  /** Signing stage: (doc_id, shingles, minhash sig) in ONE mapPartitions
    * pass (a digest instance per partition). */
  private[graft] def signedCorpus(s: SparkSession, corpus: DataFrame): DataFrame = {
    import s.implicits._
    // NOT fanned out (measured, round 6): q23 gains ~0.1 s from a
    // parallel signing pass, but the wider persisted frame cascades 32
    // partitions into every q41/q60 CC-loop round and their per-round
    // scheduling floor balloons 2.3→4.3 s / 2.6→3.2 s — the signing
    // loop is shared by both pipelines, so it stays narrow
    corpus.as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val shingles = shingles3(text)
          (id, shingles, minhashSig(md, shingles))
        }
      }
      .toDF("doc_id", "sh", "sig")
  }

  /** LSH banding stage: 4 bands × 3 signature rows, string band keys. */
  private[graft] def lshBands(sh: DataFrame): DataFrame =
    sh.filter(size(col("sh")) > 0).selectExpr("doc_id",
      """posexplode(transform(sequence(0, 3),
        |  b -> concat_ws(':', element_at(sig, 3 * b + 1), element_at(sig, 3 * b + 2), element_at(sig, 3 * b + 3))))
        |as (band_idx, band_hash)""".stripMargin.replace("\n", " "))

  /** Verify stage: exact Jaccard over candidate pairs at 0.5. */
  private[graft] def verifyPairs(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", floor((
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_distinct(concat(col("sh_a"), col("sh_b")))).cast("double")) * 1e6 + 0.5) / 1e6)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")

  private[graft] def nearDupPairs(s: SparkSession, d: String): DataFrame = {
    val sh = signedCorpus(s, nearDupCorpus(s, d)).transform(Tables.maybePersist)
    // candidate ids from band-bucket collisions only (never all pairs),
    // per-task work bounded even when one band bucket goes hot
    val cand = boundedBandCandidates(s, lshBands(sh), cap = 1024)
    verifyPairs(cand, sh)
  }

  // ---------------------------------------------------------------------
  // q101 — EDIT-DISTANCE VERIFICATION of LSH candidates: the q23 chain
  // with a CHARACTER-level verifier — Levenshtein distance on the raw
  // text, matched when lev ≤ max(len)/5 (the 0.2 relative bar as an
  // integer cross-multiplication). Where Jaccard-on-shingles (q23) is
  // order-insensitive at 3-gram grain, edit distance certifies
  // near-identity at character grain — the verifier of record when the
  // dedup policy must survive audits ("these two documents really are
  // the same text"). DP cost per pair is exactly WHY pipelines only
  // ever run it on banding candidates: the LSH stage bounds the pair
  // count, the verifier bounds the false positives — and the verifier
  // itself runs BANDED at the acceptance threshold ([[levDpBounded]]),
  // O(len·len/5) instead of O(len²) with early exits on the dominant
  // reject path.
  //
  // Scale shape: identical to q23 through the candidate stage (signing
  // per row, triangle-blocked band join); the verify joins candidates
  // back to the persisted corpus for text (two keyed joins — the same
  // shape as verifyPairs' shingle joins) and the DP runs inside
  // codegen (both engines ship native levenshtein with the unit-cost
  // insert/delete/substitute definition — cross-checked by the oracle).
  // ---------------------------------------------------------------------

  /** Classic Wagner-Fischer unit-cost edit distance (two-row DP). The
    * VALUE is implementation-unambiguous — identical to both engines'
    * native levenshtein(), which the oracle keeps using. Native here
    * per the suite playbook (hot per-row loops go JVM), and crucially
    * it sits behind a typed-object boundary: Catalyst cannot inline it
    * into the threshold filter and push the O(m·n) work below the
    * parallelism gate. Kept as the unbounded reference —
    * ExtensionsSpec pins [[levDpBounded]] against it. */
  private[graft] def levDp(a: String, b: String): Int = {
    if (a == b) 0
    else {
      val (s0, t0) = if (a.length <= b.length) (a, b) else (b, a)
      val n = s0.length
      var prev = Array.tabulate(n + 1)(identity)
      var cur = new Array[Int](n + 1)
      var i = 1
      while (i <= t0.length) {
        cur(0) = i
        val tc = t0.charAt(i - 1)
        var j = 1
        while (j <= n) {
          val cost = if (s0.charAt(j - 1) == tc) 0 else 1
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
          j += 1
        }
        val tmp = prev; prev = cur; cur = tmp
        i += 1
      }
      prev(n)
    }
  }

  /** BANDED (Ukkonen 1985) unit-cost edit distance with threshold
    * `bound` (r13, VERDICT r12 #3): exact whenever the true distance is
    * ≤ bound, and returns bound+1 otherwise — which is ALL the q101
    * verdict needs, since its acceptance test is lev ≤ ⌊max(len)/5⌋.
    * Only cells with |i−j| ≤ bound are computed (any cheaper path is
    * impossible: D(i,j) ≥ |i−j|), so per-pair cost drops from O(m·n)
    * to O(max(len)·bound) ≈ max(len)²/5 — the suite's hottest per-row
    * CPU cut ~5× on its dominant reject path — with two further early
    * exits: a length-difference pre-reject (lev ≥ |m−n|) and a
    * row-minimum cutoff (row minima are non-decreasing along any DP
    * path). Boundary cells just outside the band are pinned to INF
    * each row so the rolling two-row arrays never read a stale value
    * from two rows back. */
  private[graft] def levDpBounded(a: String, b: String, bound: Int): Int = {
    if (a == b) 0
    else if (bound < 0) 1 // degenerate caller bound: anything unequal rejects
    else {
      val (s0, t0) = if (a.length <= b.length) (a, b) else (b, a)
      val n = s0.length
      val m = t0.length
      if (m - n > bound) bound + 1
      else {
        val INF = Int.MaxValue / 2
        var prev = new Array[Int](n + 1)
        var cur = new Array[Int](n + 1)
        java.util.Arrays.fill(prev, INF)
        java.util.Arrays.fill(cur, INF)
        var j = 0
        while (j <= math.min(n, bound)) { prev(j) = j; j += 1 }
        var i = 1
        var cut = false
        while (i <= m && !cut) {
          val lo = math.max(1, i - bound)
          val hi = math.min(n, i + bound)
          cur(0) = if (i <= bound) i else INF
          if (lo > 1) cur(lo - 1) = INF
          val tc = t0.charAt(i - 1)
          var rowMin = cur(0)
          j = lo
          while (j <= hi) {
            val cost = if (s0.charAt(j - 1) == tc) 0 else 1
            val v = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
              prev(j - 1) + cost)
            cur(j) = v
            if (v < rowMin) rowMin = v
            j += 1
          }
          if (hi < n) cur(hi + 1) = INF
          if (rowMin > bound) cut = true
          val tmp = prev; prev = cur; cur = tmp
          i += 1
        }
        if (cut) bound + 1 else math.min(prev(n), bound + 1)
      }
    }
  }

  def editDistancePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corpus = nearDupCorpus(s, d).transform(Tables.maybePersist)
    val sh = signedCorpus(s, corpus).transform(Tables.maybePersist)
    val cand = boundedBandCandidates(s, lshBands(sh), cap = 1024)
    cand
      .join(corpus.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
      .join(corpus.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
      // per-row CPU gate AFTER the joins, immediately before the typed
      // DP pass: the candidate frame is BYTES-tiny, so every exchange
      // AQE may plan around the joins coalesces to ~one partition (at
      // replica scale the text side outgrows the broadcast threshold
      // and the doc_b SMJ re-shuffles the pairs — the r12 audit caught
      // the DP serializing there at 10×). An explicit numbered
      // repartition is exempt from AQE coalescing (REPARTITION_BY_NUM),
      // and the typed mapPartitions below is an optimizer barrier — the
      // threshold filter CANNOT be inlined-and-pushed beneath the gate
      // (the first fix's failure mode). Measured: 12.3 → 1.6 s at
      // sf0.1; 32 → ~3 s at the 10× replica.
      .transform(df => df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, col("doc_a")))
      .select(col("doc_a"), col("doc_b"), col("ta"), col("tb"))
      .as[(Long, Long, String, String)]
      // banded DP at exactly the acceptance bound ⌊max(len)/5⌋: accepted
      // pairs get the EXACT distance (band ≥ true distance there),
      // rejected pairs get bound+1 which the filter below drops — the
      // verdict set and every emitted lev are provably identical to the
      // full-matrix form (ExtensionsSpec pins it against levDp)
      .mapPartitions(it => it.map { case (a, b, ta, tb) =>
        val bound = math.max(ta.length, tb.length) / 5
        (a, b, levDpBounded(ta, tb, bound).toLong,
          ta.length.toLong, tb.length.toLong)
      })
      .toDF("doc_a", "doc_b", "lev", "len_a", "len_b")
      .filter(expr("5 * lev <= greatest(len_a, len_b)"))
      .selectExpr("doc_a", "doc_b", "lev", "len_a", "len_b",
        "floor(lev / cast(greatest(len_a, len_b) as double) * 1e6 + 0.5) / 1e6 as rel_dist")
  }

  // lazy: interpolates sigBandCtes, declared later in this object
  lazy val editDistancePairsSql: String =
    s"""WITH $sigBandCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |  WHERE a.doc_id < b.doc_id),
       |m AS (SELECT doc_a, doc_b,
       |    levenshtein(ca.text, cb.text)::BIGINT AS lev,
       |    length(ca.text)::BIGINT AS len_a, length(cb.text)::BIGINT AS len_b
       |  FROM cand JOIN corpus ca ON ca.doc_id = cand.doc_a
       |            JOIN corpus cb ON cb.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b, lev, len_a, len_b,
       |  floor(lev / greatest(len_a, len_b)::DOUBLE * 1e6 + 0.5) / 1e6 AS rel_dist
       |FROM m WHERE 5 * lev <= greatest(len_a, len_b)
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q102 — INCREMENTAL INGESTION DEDUP: the nightly-crawl shape — a
  // small DELTA batch probed against the standing corpus index, the
  // reverse asymmetry of q85 (there the deny side was small; here the
  // INDEX is the 100 TB side and the delta is broadcast). Per delta
  // document: how many index documents it near-duplicates (exact
  // Jaccard ≥ 0.5 on the q23 chain) and whether it is genuinely new —
  // the admit/drop decision an ingestion pipeline makes per batch.
  //
  // Fixture: delta = mutated twins of the doc_id%10==7 slice (must
  // match their originals) ∪ token-REVERSED texts of the %10==3 slice
  // (reversal shares no word-3-gram with the original — genuinely new),
  // both built with the same expressions in both engines.
  //
  // Scale shape: the index signs ONCE and is STORED (r13, VERDICT r12
  // #4): [[buildDedupIndex]] writes the banding signatures + shingle
  // sets as write-once parquet artifacts and the q102 entry PROBES the
  // stored index ([[incrementalDedupStored]]) — the shape a nightly
  // 100 TB crawl actually runs (sign each batch once, append to the
  // artifact, never re-sign the corpus). The delta signs per-row and
  // its bands BROADCAST to the index band side, so the index never
  // shuffles for candidate generation; verification joins the
  // delta-sized candidate set against index shingles (broadcast delta
  // side again — at scale a broadcast semi-join against the index
  // scan). The per-delta verdict aggregate is delta-sized. The inline
  // form ([[incrementalDedup]]) is kept as the reference —
  // ExtensionsSpec pins stored ≡ inline.
  // ---------------------------------------------------------------------

  private[graft] def deltaBatch(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 7)
      .selectExpr("doc_id + 20000 as doc_id",
        "substring(text, instr(text, ' ') + 1) as text")
      .unionAll(docs.filter(col("doc_id") % 10 === 3)
        .selectExpr("doc_id + 30000 as doc_id",
          "array_join(reverse(split(text, ' ')), ' ') as text"))

  /** The probe chain shared by the inline and stored-index forms:
    * delta bands broadcast against the standing `idxBands`, Jaccard
    * verify against `idxSh` (doc_id, sh), delta-sized verdict. */
  private def incrementalDedupProbe(s: SparkSession, docs: DataFrame,
                                    idxBands: DataFrame,
                                    idxSh: DataFrame): DataFrame = {
    val delta = deltaBatch(docs)
    val deltaSh = signedCorpus(s, delta).transform(Tables.maybePersist)
    val cand = idxBands
      .join(broadcast(lshBands(deltaSh)
          .select(col("band_idx").as("d_idx"), col("band_hash").as("d_hash"),
            col("doc_id").as("delta_id"))),
        col("band_idx") === col("d_idx") && col("band_hash") === col("d_hash"))
      .select(col("delta_id").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    // verifyPairs' Jaccard, across the two frames (delta side broadcast)
    val verified = cand
      .join(broadcast(deltaSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))), Seq("doc_a"))
      .join(idxSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", floor((
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_distinct(concat(col("sh_a"), col("sh_b")))).cast("double")) * 1e6 + 0.5) / 1e6)
      .filter(col("jaccard") >= 0.5)
    delta.select(col("doc_id").as("delta_id"))
      .join(verified.groupBy("doc_a")
          .agg(count(lit(1)).as("nm"), max(col("jaccard")).as("bj"))
          .withColumnRenamed("doc_a", "delta_id"),
        Seq("delta_id"), "left")
      .selectExpr("delta_id", "cast(coalesce(nm, 0) as bigint) as n_matches",
        "coalesce(bj, 0.0) as best_jaccard", "nm is null as is_new")
  }

  /** Inline reference form: index computed in the same plan. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val index = signedCorpus(s, docs.select(col("doc_id"), col("text")))
      .transform(Tables.maybePersist)
    incrementalDedupProbe(s, docs, lshBands(index),
      index.select(col("doc_id"), col("sh")))
  }

  // ---------------------------------------------------------------------
  // STANDING DEDUP INDEX LIFECYCLE (r19b): q102's artifact was the last
  // standing index in production position with build+probe only — the
  // nightly-crawl pipeline it models appends every admitted batch and
  // honours takedowns, so the artifact now carries the same contract as
  // the ANN/media/lexical families (the r18→r19 lifecycle-parity arc):
  //  · [[mergeDedupBatchIntoIndex]] signs ONE batch and appends its
  //    band + shingle rows (the corpus is signed exactly once in its
  //    life — the whole point of the standing index); idempotent via the
  //    shingle registry (written LAST: a crash-windowed replay re-appends
  //    byte-identical band rows, which candidate generation's existing
  //    `distinct()` collapses), tombstone-aware (a forgotten id can never
  //    re-admit through an at-least-once replay), pending-forget aware
  //    (the media q137 ordering for takedowns that beat their id's first
  //    arrival).
  //  · [[forgetDedupFromIndex]] is LAZY deletion: the takedown appends to
  //    the root tombstone log; every reader subtracts it (one broadcast
  //    anti-join on each artifact — effective immediately, no stored file
  //    touched); [[compactDedupIndex]] makes it physical in a fresh
  //    committed version (the [[IndexLifecycle]] version store) + keep-N
  //    GC, and defragments crash-dupe band rows along the way.
  //  · MAINTENANCE POLICY: the forget tail auto-compacts once live
  //    victims cross `spark.graft.compactTombstoneFrac` (0.25).
  // Scale shape (100 TB): merge = batch-sized sign + appends; takedown =
  // request-sized log append; probe unchanged (index never reshuffles);
  // compaction is the one corpus-sized pass and amortizes LSM-style.
  // ---------------------------------------------------------------------

  /** The dedup family's lifecycle: the shingle set is the registry, the
    * build writes bands last. The tombstone/pending logs stay at the
    * PATH ROOT, shared across versions (audit trail + the merge-side
    * replay guard forever). */
  private[graft] val dedupFamily = IdLogFamily("dedup", "doc_id", "shingles", "bands",
    Seq("shingles", "bands"), compactDedupIndex)

  /** Live rows of one artifact of version `root`: stored minus the
    * tombstone log (skipped — plan untouched — when no log exists, so
    * q102's pinned shape holds). */
  private def dedupLiveOf(s: SparkSession, path: String, root: String,
                          artifact: String): DataFrame =
    IndexLifecycle.live(dedupFamily, path)(
      IndexLifecycle.readStamped(s, s"$root/$artifact"))

  /** Build the STANDING dedup index as parquet artifacts (the q100
    * export discipline): `path/shingles` = (doc_id, sh) and
    * `path/bands` = (doc_id, band_idx, band_hash). The 100 TB corpus is
    * signed exactly once in its life; [[mergeDedupBatchIntoIndex]]
    * appends each admitted batch afterwards. Returns the band-row count
    * read BACK from the artifact (one action drives the write and proves
    * the read path). Write order: shingles first, bands LAST — the lazy
    * gates key "built" on bands/_SUCCESS, so a crash mid-build can never
    * leave a gate-visible index missing its verify-side artifact. */
  def buildDedupIndex(s: SparkSession, d: String, path: String): Long =
    IndexLifecycle.withWriter(s, path) {
      val index = signedCorpus(s,
          Tables.documents(s, d).select(col("doc_id"), col("text")))
        .transform(Tables.maybePersist)
      index.select(col("doc_id"), col("sh"))
        .write.mode("overwrite").parquet(s"$path/shingles")
      lshBands(index).write.mode("overwrite").parquet(s"$path/bands")
      // read-back count from the artifact's parquet footers (r21): same
      // value as the Spark count it replaces, zero jobs on the build tail
      IndexLifecycle.parquetFooterRows(s, s"$path/bands")
    }

  /** q145's core — sign ONE (doc_id, text) batch and fold it into the
    * standing dedup index. Idempotent: already-indexed ids anti-join
    * away against the shingle registry (written LAST — a crash-windowed
    * replay re-appends byte-identical band rows that candidate
    * generation's `distinct()` collapses, then registers once),
    * tombstoned ids can never re-admit, and a takedown that arrived
    * before the id's first admit is honored here (pending consumed,
    * arrival refused via a permanent tombstone). Returns
    * (admitted, refused). */
  def mergeDedupBatchIntoIndex(batch: DataFrame, path: String): (Long, Long) =
    IndexLifecycle.merge(dedupFamily,
        batch.select(col("doc_id").cast("long"), col("text")), path) { (root, fresh, nFresh) =>
      // signed once, inside the first append (a lazy checkpoint): both
      // appends consume it. Signing is 1:1, so every fresh doc admits.
      val signed = signedCorpus(batch.sparkSession, fresh.select(col("doc_id"), col("text")))
        .localCheckpoint(eager = false)
      try {
        lshBands(signed).writeArtifact(s"$root/bands", "append")
        // the registry LAST: a crash anywhere above replays the whole
        // batch (identical band rows → candidate-side collapse); after
        // this write the replay anti-joins to nothing
        signed.select(col("doc_id"), col("sh")).writeArtifact(s"$root/shingles", "append")
      } finally Tables.freeCheckpoint(signed): Unit
      nFresh
    }

  /** q146's core — right-to-be-forgotten against the standing dedup
    * index, LSM-style: victims located in the shingle registry append to
    * the root tombstone log (lazy deletion — effective immediately, one
    * broadcast anti-join per read); never-admitted ids land in the
    * pending log, consumed by the id's first arrival. No stored file is
    * touched — [[compactDedupIndex]] makes deletion physical. Idempotent
    * (already-tombstoned and absent ids append nothing). Returns the
    * newly-tombstoned count. */
  def forgetDedupFromIndex(requests: DataFrame, path: String): Long =
    IndexLifecycle.takedown(dedupFamily, requests, path)

  /** Scheduled compaction, VERSIONED (the family discipline): rewrites
    * shingles/bands minus the tombstoned docs — collapsing crash-dupe
    * band rows along the way — into a fresh committed `versions/v%05d`
    * (a probe that resolved pre-commit keeps its files end-to-end), then
    * keep-N GC retires the tail. No-ops when there are no live victims —
    * the fixed-point re-run costs a count, not a corpus copy. */
  def compactDedupIndex(s: SparkSession, path: String): Unit =
    IndexLifecycle.compactVersion(s, dedupFamily, path) { root =>
      Option.when(IndexLifecycle.liveVictims(s, dedupFamily, path, root) > 0) { newRoot =>
        // both rewrites are independent: overlap them (guide §2.6, r21)
        Par.run2(
          dedupLiveOf(s, path, root, "shingles")
            .writeArtifact(s"$newRoot/shingles", "overwrite"),
          dedupLiveOf(s, path, root, "bands").distinct() // crash-dupe band rows fold
            .writeArtifact(s"$newRoot/bands", "overwrite")): Unit
      }
    }

  /** Probe the STORED index — the production q102 path: candidates and
    * verification read the parquet artifacts, never re-signing the
    * corpus (delta verdicts identical to the inline form;
    * ExtensionsSpec pins it). r19b: version root resolved ONCE,
    * tombstoned docs subtracted from both artifacts (the anti-join is
    * skipped — plan untouched — when no log exists, so the un-maintained
    * gate artifact keeps its pinned shape). */
  def incrementalDedupStored(s: SparkSession, d: String, path: String): DataFrame = {
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    incrementalDedupProbe(s, Tables.documents(s, d),
      dedupLiveOf(s, path, root, "bands"), dedupLiveOf(s, path, root, "shingles"))
  }

  /** The q145 gate chain: lazy build → fold the +50000-rekeyed UNMUTATED
    * %10==7 docs in → probe the MERGED index with the standard delta.
    * Each mutated twin now matches its original AND the merged copy
    * (n_matches 1 → 2), so the oracle — the incremental-dedup verdict
    * recomputed from scratch over the unioned index corpus — certifies
    * the signed fold end-to-end. Fixed point under re-runs (the registry
    * refuses the replayed batch). */
  def dedupIndexMerge(s: SparkSession, d: String): DataFrame = {
    val path = ScratchPaths.indexPathFor(
      s"q145-${ScratchPaths.tableFingerprint(d, "documents")}", d)
    if (!IndexLifecycle.exists(s, dedupFamily, path)) buildDedupIndex(s, d, path)
    mergeDedupBatchIntoIndex(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 7)
        .selectExpr("doc_id + 50000 as doc_id", "text"),
      path)
    incrementalDedupStored(s, d, path)
  }

  /** The q146 gate chain: lazy build → forget the %10==7 docs → probe
    * the post-takedown index. The mutated twins' only near-dups are the
    * victims, so every twin must flip to is_new (the oracle recomputes
    * the verdict over the SURVIVING corpus) — certifying the tombstone
    * anti-joins on BOTH artifacts. 10% victims: under the maintenance
    * fraction, so the row certifies the LAZY read path specifically.
    * Fixed point under re-runs (victims already tombstoned). */
  def dedupIndexForget(s: SparkSession, d: String): DataFrame = {
    val path = ScratchPaths.indexPathFor(
      s"q146-${ScratchPaths.tableFingerprint(d, "documents")}", d)
    if (!IndexLifecycle.exists(s, dedupFamily, path)) buildDedupIndex(s, d, path)
    forgetDedupFromIndex(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 7).select("doc_id"),
      path)
    incrementalDedupStored(s, d, path)
  }

  /** Deterministic scratch location for the q102 artifact of one
    * testdata dir. Per-PROCESS (the PID token, r13 advice fix): two
    * concurrent runs over the same sf dir (e.g. bench and verify) used
    * to share one path and could race an overwrite-mode write against a
    * concurrent read; now each process owns its artifact, while within
    * a process the path is stable so the build-once/probe-many shape
    * holds. Different sf dirs stay disjoint as before. Lifecycle
    * (cleanup hook + stale-PID sweep): [[ScratchPaths]]. */
  private[graft] def indexPathFor(d: String): String =
    ScratchPaths.indexPathFor(s"q102-${ScratchPaths.tableFingerprint(d, "documents")}", d)

  /** The q23 sign→band CTE chain for an arbitrary (doc_id, text) source
    * CTE, name-prefixed so two chains coexist in one query. */
  private def sigChainSql(src: String, p: String): String =
    s"""${p}tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
       |${p}sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM ${p}tk),
       |${p}hs AS (SELECT doc_id, sh, list_transform(sh, x -> {'a':
       |    ('0x' || substr(md5(x), 1, 15))::BIGINT % 1000000007, 'b':
       |    ('0x' || substr(md5(x), 17, 15))::BIGINT % 1000000007}) AS hs
       |  FROM ${p}sh WHERE len(sh) > 0),
       |${p}sig AS (SELECT doc_id, sh, list_transform(range(0, 12),
       |  i -> list_min(list_transform(hs, h -> (h.a + i * h.b) % 1000000007))) AS sig FROM ${p}hs),
       |${p}bands AS (SELECT doc_id, sh, b AS band_idx,
       |  concat_ws(':', sig[3 * b + 1], sig[3 * b + 2], sig[3 * b + 3]) AS band_hash
       |  FROM (SELECT doc_id, sh, sig, unnest(range(0, 4)) AS b FROM ${p}sig))""".stripMargin

  /** The incremental-dedup verdict over an arbitrary INDEX corpus CTE
    * (the delta always derives from the original `documents` — merging
    * into or forgetting from the standing index changes what the delta
    * is probed AGAINST, never the delta itself — mirroring the Spark
    * side, where [[deltaBatch]] reads the documents table and the index
    * side reads the maintained artifact). */
  private def incrementalDedupSqlFrom(baseSql: String): String =
    s"""WITH orig AS (SELECT doc_id, text FROM documents),
       |base AS ($baseSql),
       |delta AS (SELECT doc_id + 20000 AS doc_id,
       |    substr(text, strpos(text, ' ') + 1) AS text FROM orig WHERE doc_id % 10 = 7
       |  UNION ALL SELECT doc_id + 30000,
       |    array_to_string(list_reverse(string_split(text, ' ')), ' ') FROM orig WHERE doc_id % 10 = 3),
       |${sigChainSql("base", "i_")},
       |${sigChainSql("delta", "d_")},
       |cand AS (SELECT DISTINCT d.doc_id AS doc_a, i.doc_id AS doc_b
       |  FROM i_bands i JOIN d_bands d
       |    ON i.band_idx = d.band_idx AND i.band_hash = d.band_hash),
       |ver AS (SELECT doc_a, doc_b,
       |    floor((len(list_intersect(sa.sh, sb.sh))
       |      / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
       |  FROM cand JOIN d_sh sa ON sa.doc_id = cand.doc_a
       |            JOIN i_sh sb ON sb.doc_id = cand.doc_b),
       |agg AS (SELECT doc_a, COUNT(*)::BIGINT AS nm, MAX(jaccard) AS bj
       |  FROM ver WHERE jaccard >= 0.5 GROUP BY doc_a)
       |SELECT delta.doc_id AS delta_id,
       |  coalesce(agg.nm, 0)::BIGINT AS n_matches,
       |  coalesce(agg.bj, 0.0) AS best_jaccard,
       |  agg.nm IS NULL AS is_new
       |FROM delta LEFT JOIN agg ON agg.doc_a = delta.doc_id
       |ORDER BY delta_id""".stripMargin

  lazy val incrementalDedupSql: String =
    incrementalDedupSqlFrom("SELECT doc_id, text FROM documents")

  /** q145's oracle: the verdict recomputed over the MERGED index corpus
    * (documents ∪ the +50000-rekeyed unmutated %10==7 slice). */
  lazy val dedupIndexMergeSql: String = incrementalDedupSqlFrom(
    """SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 50000 AS doc_id, text
      |  FROM documents WHERE doc_id % 10 = 7""".stripMargin)

  /** q146's oracle: the verdict recomputed over the SURVIVING corpus. */
  lazy val dedupIndexForgetSql: String = incrementalDedupSqlFrom(
    "SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7")

  /** q102b's oracle: the standing index's band-row count — the q23 sign
    * chain over the corpus, counted (what [[buildDedupIndex]] reads back
    * from the written artifact). */
  lazy val indexBuildSql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |${sigChainSql("base", "i_")}
       |SELECT COUNT(*)::BIGINT AS n_band_rows FROM i_bands""".stripMargin

  /** q23 — the near-dup pair pipeline above as the query surface. */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    nearDupPairs(s, d)

  /** The q23 sign→band stages as reusable DuckDB CTEs (through `bands`;
    * also read by the q85 cross-frame candidate chain). */
  private val sigBandCtes: String =
    s"""corpus AS ($corpusSqlDuck),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
       |sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM tk),
       |hs AS (SELECT doc_id, sh, list_transform(sh, x -> {'a':
       |    ('0x' || substr(md5(x), 1, 15))::BIGINT % 1000000007, 'b':
       |    ('0x' || substr(md5(x), 17, 15))::BIGINT % 1000000007}) AS hs
       |  FROM sh WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, sh, list_transform(range(0, 12),
       |  i -> list_min(list_transform(hs, h -> (h.a + i * h.b) % 1000000007))) AS sig FROM hs),
       |bands AS (SELECT doc_id, sh, b AS band_idx,
       |  concat_ws(':', sig[3 * b + 1], sig[3 * b + 2], sig[3 * b + 3]) AS band_hash
       |  FROM (SELECT doc_id, sh, sig, unnest(range(0, 4)) AS b FROM sig))""".stripMargin

  /** The q23 pipeline as reusable DuckDB CTEs (ends with `ver`). */
  private val minhashCtes: String =
    s"""$sigBandCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |  WHERE a.doc_id < b.doc_id),
       |ver AS (SELECT doc_a, doc_b,
       |  floor((len(list_intersect(sa.sh, sb.sh)) / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
       |            JOIN sh sb ON sb.doc_id = cand.doc_b)""".stripMargin

  val minhashLshSql: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q79 — LSH dedup AUDIT: the in-engine measurement a production dedup
  // pipeline runs to trust its approximation. Draw a deterministic
  // PAIRED sample (md5-lowest 50 base docs + their planted twins — the
  // seeded-recall protocol), compute EXACT Jaccard over all sample
  // pairs as ground truth, run the production q23 chain (sign → band →
  // triangle-blocked candidates → verify) on the same sample, and
  // report: banding recall (verified true pairs / exact true pairs),
  // candidate precision (verified / candidates), and the MinHash
  // signature's mean |estimate − exact| error over verified pairs.
  //
  // Scale shape: everything downstream of the sample filter is
  // sample-sized (100 docs) — exact ground truth is a broadcast
  // self-join (the audit's cost is O(K²) BY DESIGN, bounded by the
  // sample knob, never corpus²); the candidate chain is the production
  // machinery itself, so the audit measures the real banding structure.
  // Determinism: md5-order sampling (no RNG), integer pair counts,
  // micro-quantized per-pair errors summed as exact longs.
  // ---------------------------------------------------------------------

  def lshAudit(s: SparkSession, d: String): DataFrame = {
    val sampleK = 50
    val corpus = nearDupCorpus(s, d)
    val sampBase = corpus.filter(col("doc_id") < 10000)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .orderBy("h").limit(sampleK).select("doc_id")
    val sampIds = sampBase.unionAll(
      sampBase.select((col("doc_id") + 10000).as("doc_id")))
    val sh = signedCorpus(s, corpus.join(broadcast(sampIds), "doc_id"))
      .filter(size(col("sh")) > 0)
      .transform(Tables.maybePersist)
    val cand = boundedBandCandidates(s, lshBands(sh), cap = 1024)
    val jacExpr = (a: String, b: String) =>
      s"floor((size(array_intersect($a, $b)) / cast(size(array_distinct(concat($a, $b))) as double)) * 1e6 + 0.5) / 1e6"
    val verified = cand
      .join(sh.selectExpr("doc_id as doc_a", "sh as sh_a", "sig as sig_a"), Seq("doc_a"))
      .join(sh.selectExpr("doc_id as doc_b", "sh as sh_b", "sig as sig_b"), Seq("doc_b"))
      .selectExpr("doc_a", "doc_b", s"${jacExpr("sh_a", "sh_b")} as jaccard",
        "cast(floor(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / 12.0 * 1e6 + 0.5) as bigint) as est_micro")
      .filter(col("jaccard") >= 0.5)
      .selectExpr("doc_a", "doc_b", "est_micro",
        "cast(floor(jaccard * 1e6 + 0.5) as bigint) as jac_micro")
    val exact = sh.selectExpr("doc_id as doc_a", "sh as sh_a")
      .join(broadcast(sh.selectExpr("doc_id as doc_b", "sh as sh_b")),
        col("doc_a") < col("doc_b"))
      .selectExpr(s"${jacExpr("sh_a", "sh_b")} as jaccard")
      .filter(col("jaccard") >= 0.5)
    // ONE summary aggregation (r12): the four count frames union as
    // tagged one-column branches into a single conditional aggregate —
    // one final exchange instead of four agg+crossJoin stage chains
    // (the query was pure stage-count floor: ~100 sample docs).
    // Zero-denominator guards (r11 advice): an empty slice emits 0.0,
    // identically in both engines, instead of Spark-NaN-vs-DuckDB-NULL.
    val tagged = sh.selectExpr("'s' as tag", "0L as err")
      .unionAll(exact.selectExpr("'e' as tag", "0L as err"))
      .unionAll(cand.selectExpr("'c' as tag", "0L as err"))
      .unionAll(verified.selectExpr("'v' as tag", "abs(est_micro - jac_micro) as err"))
    tagged.groupBy().agg(
        count(when(col("tag") === "s", 1)).as("n_sampled"),
        count(when(col("tag") === "e", 1)).as("n_exact"),
        count(when(col("tag") === "c", 1)).as("n_candidates"),
        count(when(col("tag") === "v", 1)).as("n_verified"),
        coalesce(sum(when(col("tag") === "v", col("err"))), lit(0L)).as("sum_err"))
      .selectExpr("n_sampled", "n_exact", "n_candidates", "n_verified",
        "case when n_exact = 0 then 0.0 else floor(n_verified / cast(n_exact as double) * 1e6 + 0.5) / 1e6 end as recall",
        "case when n_candidates = 0 then 0.0 else floor(n_verified / cast(n_candidates as double) * 1e6 + 0.5) / 1e6 end as candidate_precision",
        "case when n_verified = 0 then 0.0 else floor(sum_err / cast(n_verified as double) + 0.5) / 1e6 end as mean_est_err")
  }

  val lshAuditSql: String =
    s"""WITH corpus AS ($corpusSqlDuck),
       |sb AS (SELECT doc_id FROM corpus WHERE doc_id < 10000
       |  ORDER BY md5(doc_id::VARCHAR) LIMIT 50),
       |sids AS (SELECT doc_id FROM sb UNION ALL SELECT doc_id + 10000 FROM sb),
       |tk AS (SELECT c.doc_id, string_split(c.text, ' ') AS toks
       |  FROM corpus c JOIN sids USING (doc_id)),
       |sh0 AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM tk),
       |sh AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
       |hs AS (SELECT doc_id, sh, list_transform(sh, x -> {'a':
       |    ('0x' || substr(md5(x), 1, 15))::BIGINT % 1000000007, 'b':
       |    ('0x' || substr(md5(x), 17, 15))::BIGINT % 1000000007}) AS hs
       |  FROM sh),
       |sig AS (SELECT doc_id, sh, list_transform(range(0, 12),
       |  i -> list_min(list_transform(hs, h -> (h.a + i * h.b) % 1000000007))) AS sig FROM hs),
       |bands AS (SELECT doc_id, b AS band_idx,
       |  concat_ws(':', sig[3 * b + 1], sig[3 * b + 2], sig[3 * b + 3]) AS band_hash
       |  FROM (SELECT doc_id, sig, unnest(range(0, 4)) AS b FROM sig)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |  WHERE a.doc_id < b.doc_id),
       |ver AS (SELECT doc_a, doc_b,
       |    floor((len(list_intersect(sa.sh, sb2.sh)) / len(list_distinct(list_concat(sa.sh, sb2.sh)))::DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard,
       |    floor(len(list_filter(range(1, 13), i -> sa.sig[i] = sb2.sig[i])) / 12.0 * 1e6 + 0.5)::BIGINT AS est_micro
       |  FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
       |            JOIN sig sb2 ON sb2.doc_id = cand.doc_b),
       |verf AS (SELECT doc_a, doc_b, est_micro,
       |    floor(jaccard * 1e6 + 0.5)::BIGINT AS jac_micro
       |  FROM ver WHERE jaccard >= 0.5),
       |ex AS (SELECT floor((len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |cnts AS (SELECT
       |    (SELECT COUNT(*) FROM sh)::BIGINT AS n_sampled,
       |    (SELECT COUNT(*) FROM ex WHERE jaccard >= 0.5)::BIGINT AS n_exact,
       |    (SELECT COUNT(*) FROM cand)::BIGINT AS n_candidates,
       |    (SELECT COUNT(*) FROM verf)::BIGINT AS n_verified,
       |    (SELECT coalesce(SUM(abs(est_micro - jac_micro)), 0) FROM verf)::BIGINT AS sum_err)
       |SELECT n_sampled, n_exact, n_candidates, n_verified,
       |  CASE WHEN n_exact = 0 THEN 0.0
       |       ELSE floor(n_verified / n_exact::DOUBLE * 1e6 + 0.5) / 1e6 END AS recall,
       |  CASE WHEN n_candidates = 0 THEN 0.0
       |       ELSE floor(n_verified / n_candidates::DOUBLE * 1e6 + 0.5) / 1e6 END AS candidate_precision,
       |  CASE WHEN n_verified = 0 THEN 0.0
       |       ELSE floor(sum_err / n_verified::DOUBLE + 0.5) / 1e6 END AS mean_est_err
       |FROM cnts""".stripMargin

  /** Row-set signature for CC convergence: (row count, XOR-fold of
    * xxhash64 over the rows). Both loops' frames are duplicate-free by
    * construction (labels keyed by vertex, edge sets distinct()ed), so
    * two consecutive rounds with equal signatures ⇒ the set is unchanged
    * ⇒ fixpoint. Replaces the old per-round old-vs-new comparison (an
    * extra join or except — 1-4 extra exchanges per round); a missed
    * change needs two different same-size sets with XOR-colliding 64-bit
    * hashes (~2⁻⁶⁴ — far below any operational noise floor, and both CC
    * oracle rows stay hash-exact under it). bit_xor rather than sum:
    * order-independent AND immune to ANSI-mode long-sum overflow. One
    * scalar pair visits the driver per round. */
  private def ccSignature(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      expr(s"bit_xor(xxhash64(${cols.mkString(", ")}))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Connected components by hash-min label propagation: every vertex
    * starts as its own root; each round, a vertex adopts the minimum root
    * among itself and its neighbours; fixpoint when nothing changes. The
    * component root is the component's minimum vertex id — deterministic,
    * so oracle-comparable.
    *
    * Scale notes (100 TB): each round is exactly TWO exchanges — the
    * edge⋈label join and the min aggregation. Self-loops seeded into the
    * edge frame make the aggregation total (every vertex hears its own
    * current root), which removes the old per-round left-join carry.
    * Rounds needed = graph diameter (near-dup graphs are shallow — twins
    * and short chains). Lineage is truncated per round with
    * localCheckpoint and the superseded round's blocks are freed as soon
    * as the next round lands, so neither the plan nor the block-manager
    * footprint grows with iterations. For adversarially deep graphs swap
    * in alternating large-star/small-star (same join primitives, O(log n)
    * rounds); the convergence loop here IS the canonical Spark
    * iterative-dataframe shape — data never visits the driver, only the
    * convergence signature does.
    *
    * PRECONDITION: every edge endpoint must appear in `vertices`. The
    * self-loop formulation aggregates over vertices ∪ endpoints, so a
    * foreign endpoint would be labeled and RETURNED (the previous
    * left-join formulation silently dropped it). Both callers pass the
    * full corpus id set, and the star variant anchors its output to
    * `vertices` explicitly — keep the invariant if adding callers. */
  /** One hash-min propagation round: edge⋈label join + min aggregation —
    * exactly TWO keyed exchanges at scale. Extracted so PlanBudgetSpec
    * pins the per-round exchange ceiling on the code the loop runs (the
    * loop's total cost is rounds × this shape). */
  private[graft] def ccRound(both: DataFrame, lab: DataFrame): DataFrame =
    both.join(lab, both("src") === lab("id"))
      .groupBy(col("dst").as("id")).agg(min(col("root")).as("root"))

  private[graft] def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame = {
    // undirected: propagate both ways; self-loops carry each vertex's own
    // root through the aggregation. Materialized ONCE up front — without
    // this every iteration would re-run the (possibly expensive)
    // pair-finding pipeline that produced `edges`; the edge list itself
    // is pairs-of-ids, tiny relative to the corpus.
    val ids = vertices.select(col("id"))
    // r22 (guide §2.4 "two operations keyed the same way share one
    // exchange"): `both` is the loop-INVARIANT side of every round's
    // src===id join, so it is hash-partitioned by src ONCE and cached —
    // an InMemoryRelation preserves its plan's outputPartitioning
    // (localCheckpoint does not: LogicalRDD reports UnknownPartitioning,
    // measured r22), so EnsureRequirements drops the per-round exchange
    // of the 2|E|+|V| frame and each round shuffles only the (id, root)
    // label frame + the min aggregation — the documented 2-exchange
    // round body now holds at any scale. The cache fills inside round
    // 1's signature job (the lazy-entry discipline, r21) and is
    // released at the fixpoint.
    val both = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .unionAll(ids.select(col("id").as("src"), col("id").as("dst")))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var lab = ids.select(col("id"), col("id").as("root")).localCheckpoint(eager = false)
    var sig = ccSignature(lab, Seq("id", "root"))
    var converged = false
    while (!converged) {
      // lazy checkpoint (r12): the signature aggregate is the round's
      // ONE action — it materializes the checkpoint blocks and computes
      // the convergence scalar in the same job, instead of an eager
      // checkpoint job followed by a second signature job per round
      val next = ccRound(both, lab).localCheckpoint(eager = false)
      val nsig = ccSignature(next, Seq("id", "root"))
      converged = nsig == sig
      Tables.freeCheckpoint(lab) // superseded round, never re-read
      lab = next
      sig = nsig
    }
    // the returned labels are materialized checkpoint blocks — the edge
    // cache has no further reader (its blocks otherwise sit until the
    // caller's query ends)
    both.unpersist(blocking = false)
    lab
  }

  /** Connected components by alternating large-star/small-star — the
    * O(log n)-round swap-in for adversarially DEEP graphs (a 100 TB
    * chain-shaped dup graph, e.g. crawl mirrors, makes the O(diameter)
    * hash-min loop grind). Public algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", 2014):
    *
    *  - large-star: each vertex u links every strictly-larger neighbour
    *    to m = min(N(u) ∪ {u});
    *  - small-star: orienting edges larger→smaller, each vertex u links
    *    its smaller neighbours and itself to m;
    *  - alternate until the edge set reaches a fixpoint, at which every
    *    component is a star centred on its minimum vertex id — the same
    *    deterministic min-id root the hash-min loop produces.
    *
    * Each step is one groupBy (map-side combined min) + one keyed join —
    * the same shuffle primitives per round as hash-min, but rounds are
    * O(log n) in the component size instead of O(diameter). Lineage is
    * truncated per round with localCheckpoint and superseded round frames
    * are freed as the loop advances; only the scalar convergence
    * signature visits the driver. Returns (labels, rounds) — rounds so
    * the deep-chain spec can assert the logarithmic bound. */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    // r22 (guide §2.4): mn = min(N(u)) rides ONE window exchange instead
    // of the old groupBy(min) + join-back pair — the 2|E| nbrs frame
    // crossed the network twice per step (once partial-aggregated, once
    // raw for the join; a SortMergeJoin + two keyed exchanges at scale)
    // where the window moves it exactly once. Values identical: the
    // window min over the u-partition IS the joined mn, row for row.
    // Skew exposure is unchanged (a hot vertex's neighbours met in one
    // join partition before and meet in one window partition now); the
    // window buffers its partition but spills (§5), while the bytes
    // saved are a full 2|E| exchange per step at any scale.
    nbrs.withColumn("mn", min(col("v")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("u"))))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
  }

  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val o = e.select(greatest(col("u"), col("v")).as("u"),
                     least(col("u"), col("v")).as("v"))
    // r22 (guide §2.4, same move as largeStar) — and the old unionAll of
    // the mins branch is gone: mn = min(v) over u's partition, so every
    // u-partition holds ≥ 1 row with v = mn, and THAT row emits the
    // (u, mn) star edge the union branch used to add (rows with v ≠ mn
    // emit (v, mn) exactly as before; duplicates collapse in the same
    // closing distinct). Same edge SET, one evaluation of the upstream
    // round instead of the union's two (the pre-r22 plan re-planned the
    // whole largeStar subtree under EACH union branch — 3× per round
    // with the mins join).
    o.withColumn("mn", min(col("v")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("u"))))
      .select(when(col("v") === col("mn"), col("u")).otherwise(col("v")).as("u"),
              col("mn").as("v"))
      .distinct()
  }

  /** One large-star + small-star alternation (top-level, like [[ccRound]],
    * so PlanBudgetSpec pins the per-round exchange ceiling). */
  private[graft] def starRound(e: DataFrame): DataFrame = smallStar(largeStar(e))

  private[graft] def connectedComponentsStar(vertices: DataFrame,
                                             edges: DataFrame): (DataFrame, Int) = {
    // lazy initial checkpoint (r21): the signature aggregate is the
    // entry's ONE action — it materializes the checkpoint blocks and
    // computes the scalar in the same job (the per-round discipline,
    // applied to round 0)
    var e = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint(eager = false)
    var sig = ccSignature(e, Seq("u", "v"))
    var rounds = 0
    var converged = sig._1 == 0
    while (!converged) {
      // lazy checkpoint + one-action round (see connectedComponents)
      val next = starRound(e).localCheckpoint(eager = false)
      val nsig = ccSignature(next, Seq("u", "v"))
      rounds += 1
      // both frames are distinct()-outputs, so equal signatures over the
      // order-independent hash sum ⇒ the edge SET is at its fixpoint —
      // this replaces the old next.except(e) probe (4 extra exchanges on
      // the convergence round)
      converged = nsig == sig
      Tables.freeCheckpoint(e)
      e = next
      sig = nsig
    }
    // fixpoint: every non-root vertex carries exactly its (vertex, root)
    // star edge; isolated vertices root themselves
    val roots = e.groupBy(col("u").as("id")).agg(min(col("v")).as("sroot"))
    val lab = vertices.select(col("id"))
      .join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("sroot"), col("id")).as("root"))
    (lab, rounds)
  }

  /** q41 — near-dup clustering: connected components over the q23 pair
    * graph, i.e. the step a real dedup pipeline runs AFTER pair finding
    * to pick one canonical document per duplicate cluster. Output: every
    * corpus doc with its component root (= keep id) and component size;
    * isolated docs root themselves with size 1. */
  def dupComponents(s: SparkSession, d: String): DataFrame =
    dupComponentsWith(s, d, connectedComponents)

  /** q60 — the SAME clustering computed by the large-star/small-star
    * loop (one oracle row proving the O(log n) variant end-to-end on the
    * production pair graph, not just on spec fixtures). */
  def dupComponentsStar(s: SparkSession, d: String): DataFrame =
    dupComponentsWith(s, d, (v, e) => connectedComponentsStar(v, e)._1)

  private def dupComponentsWith(s: SparkSession, d: String,
      cc: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    val vertices = docs.select(col("doc_id").as("id")).unionAll(
      docs.select((col("doc_id") + 10000).as("id")))
    // materialize the verified-pairs frame ONCE (r12): the q23-shaped
    // sign→band→verify chain runs exactly one time, and both CC
    // variants iterate over the resulting checkpointed id-pair frame —
    // q41's both-directions union previously planned the chain under
    // EACH union branch (exchange reuse is AQE's call, not a
    // guarantee), and the star loop's own initial checkpoint re-chained
    // it too. Within-query only — no frame crosses query boundaries
    // (the suite invariant).
    val pairs = nearDupPairs(s, d)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint()
    val lab = cc(vertices, pairs)
    val sizes = lab.groupBy(col("root")).agg(count(lit(1)).as("n_members"))
    lab.join(sizes, Seq("root"))
      .select(col("id").as("doc_id"), col("root").as("keep_doc_id"), col("n_members"))
  }

  val dupComponentsSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |verts AS (SELECT doc_id AS id FROM corpus),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
       |roots AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
       |sizes AS (SELECT root, COUNT(*) AS n_members FROM roots GROUP BY root)
       |SELECT roots.id AS doc_id, roots.root AS keep_doc_id, sizes.n_members
       |FROM roots JOIN sizes ON roots.root = sizes.root
       |ORDER BY doc_id""".stripMargin

  /** 16-bit SimHash of one token list (frequency-weighted): bit b is set
    * when the count of tokens whose (b+1)-th md5 hex digit has its high
    * bit set ('8'..'f') exceeds the count that don't. One md5 per token,
    * one pass — the expression form re-hashed every token 16 times in
    * interpreted HOF eval. Arithmetic mirrored in the DuckDB oracle. */
  private def simhash16(md: java.security.MessageDigest, toks: Seq[String]): Long = {
    val votes = new Array[Int](16)
    toks.foreach { t =>
      val h = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var b = 0
      while (b < 16) {
        // hex digit b+1 = high or low nibble of byte b/2; high bit = 8
        val nibble = if (b % 2 == 0) (h(b / 2) >> 4) & 0xF else h(b / 2) & 0xF
        votes(b) += (if (nibble >= 8) 1 else -1)
        b += 1
      }
    }
    (0 until 16).map(b => if (votes(b) > 0) 1L << b else 0L).sum
  }

  /** q24 — SimHash per document (mapPartitions hot loop) plus the size of
    * each exact-SimHash cluster (the only shuffle, on the 16-bit key). */
  def simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // not fanned out: the simhash window needs its own exchange anyway
    // and the added one costs more than the loop saves (measured r6)
    Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') as toks")
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, toks) => (id, simhash16(md, toks)) }
      }
      .toDF("doc_id", "simhash")
      .withColumn("n_cluster", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("simhash"))))
  }

  val simhashSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id,
      |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
      |    b -> CASE WHEN list_reduce(list_prepend(0, list_transform(toks,
      |             t -> CASE WHEN strpos('89abcdef', substr(md5(t), (b + 1)::INT, 1)) > 0 THEN 1 ELSE -1 END)),
      |             (x, y) -> x + y) > 0
      |         THEN (1::BIGINT << b) ELSE 0::BIGINT END)), (a, c) -> a + c) AS simhash
      |  FROM t)
      |SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_cluster
      |FROM sh ORDER BY doc_id""".stripMargin

  /** q25 — n-gram Jaccard similarity search: top-20 documents most similar
    * to doc 0 by word-3-gram Jaccard (brute force against a single
    * broadcast query row — the verify-stage primitive of q23). */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // the interpreted shingle HOF + per-pair set ops are per-row-heavy;
    // fan out the single-file scan (Tables.fanOut; no-op at scale)
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .selectExpr("doc_id", "split(text, ' ') as toks")
      .selectExpr("doc_id", s"$shinglesExpr as sh")
    val query = docs.filter(col("doc_id") === 0).select(col("sh").as("qsh"))
    docs.filter(col("doc_id") =!= 0)
      .crossJoin(broadcast(query))
      .withColumn("jaccard", floor((
        size(array_intersect(col("sh"), col("qsh"))) /
          size(array_distinct(concat(col("sh"), col("qsh")))).cast("double")) * 1e6 + 0.5) / 1e6)
      .select("doc_id", "jaccard")
      .orderBy(col("jaccard").desc, col("doc_id"))
      .limit(20)
  }

  val ngramJaccardSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM tk),
       |q AS (SELECT sh AS qsh FROM sh WHERE doc_id = 0)
       |SELECT doc_id,
       |  floor((len(list_intersect(sh, qsh)) / len(list_distinct(list_concat(sh, qsh)))::DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
       |FROM sh, q WHERE doc_id <> 0
       |ORDER BY jaccard DESC, doc_id LIMIT 20""".stripMargin

  /** Exact all-pairs cosine within each bucket with BOUNDED per-task work
    * (triangle blocking). A plain group-by-bucket pairwise loop is O(n²)
    * in the hottest bucket — one straggler task at 100 TB. Here every
    * bucket larger than `cap` splits into m = ⌈n/cap⌉ sub-groups by a
    * hash of the id; each row replicates to the m blocks (i,j), i≤j, that
    * contain its sub-group, and block (i,j) compares only sub-group-i ×
    * sub-group-j rows. Every in-bucket pair lands in EXACTLY one block
    * (the (min,max) of its two sub-ids), so the pair set — and therefore
    * the result — is identical to the naive loop, but no task ever holds
    * more than ~2·cap rows or ~cap² comparisons. Replication cost is m×
    * per row of the oversized bucket only; buckets under `cap` keep m=1
    * (single block, zero overhead).
    *
    * Input columns: (bucket, vec_id, e, nrm). Output: (vec_a, vec_b, cos)
    * for same-bucket pairs with cos ≥ `minCos`, vec_a < vec_b. The dot
    * fold is left-to-right per pair — bit-identical to the DuckDB
    * oracle's list_reduce (products are commutative-exact, so block
    * orientation cannot change the value).
    *
    * PRECONDITION (the assignCells nrm-guard class, r13 advice): every
    * input row must have nrm > 0. A zero-norm embedding makes cos NaN,
    * and the two engines then DISAGREE on `cos >= minCos` (JVM compares
    * NaN false → pair dropped; DuckDB orders NaN greatest → pair kept).
    * All current callers derive nrm from fixture embeddings that are
    * nonzero by construction; a caller ingesting untrusted vectors must
    * filter nrm > 0 on BOTH engines before this kernel. */
  private[graft] def boundedBucketPairs(s: SparkSession, withB: DataFrame,
                                        cap: Int, minCos: Double): DataFrame = {
    import s.implicits._
    val sizes = withB.groupBy("bucket").agg(count(lit(1)).as("bn"))
    withB.join(broadcast(sizes), Seq("bucket"))
      .withColumn("m", ceil(col("bn") / lit(cap)).cast("int"))
      .withColumn("sr", pmod(hash(col("vec_id")), col("m")))
      .withColumn("blk", explode(expr(
        "transform(sequence(0, m - 1), k -> struct(least(sr, k) as bi, greatest(sr, k) as bj))")))
      .select(col("bucket"), col("blk.bi").as("bi"), col("blk.bj").as("bj"),
              col("sr"), col("vec_id"), col("e"), col("nrm"))
      .as[(Long, Int, Int, Int, Long, Array[Double], Double)]
      .groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (key: (Long, Int, Int), it: Iterator[(Long, Int, Int, Int, Long, Array[Double], Double)]) =>
        blockPairIterator(it.toArray, key._2, key._3, minCos)
      }
      .toDF("vec_a", "vec_b", "cos")
  }

  /** The block-pair enumeration of [[boundedBucketPairs]] as a LAZY
    * iterator — extracted so PairIteratorProps can pin it against the
    * naive buffered double loop it replaced. STREAM the pairs, never
    * buffer them: a block holds ≤ ~2·cap rows but up to cap² pairs —
    * with a permissive minCos (q118/q122/q123 pass -2 to keep every
    * pair) a buffered ArrayBuffer is O(cap²) tuples PER TASK and OOMs a
    * 32-thread executor long before per-task CPU is the limit (the e30
    * q122 audit is the pinned regression). Lazily emitted pairs pipeline
    * straight into the downstream partial aggregate / filter, so peak
    * memory stays O(cap·d) regardless of minCos. Diagonal blocks
    * (bi == bj) enumerate the strict upper triangle; off-diagonal blocks
    * enumerate sub-group-bi × sub-group-bj. Each emitted pair is
    * id-ordered (vec_a < vec_b) with the left-to-right dot fold. */
  private[graft] def blockPairIterator(
      rows: Array[(Long, Int, Int, Int, Long, Array[Double], Double)],
      bi: Int, bj: Int, minCos: Double): Iterator[(Long, Long, Double)] = {
    val same = bi == bj
    val as = if (same) rows else rows.filter(_._4 == bi)
    val bs = if (same) rows else rows.filter(_._4 == bj)
    new scala.collection.AbstractIterator[(Long, Long, Double)] {
      private var i = 0
      private var j = if (same) 1 else 0
      private var nextElem: (Long, Long, Double) = _
      private def step(): Unit = {
        j += 1
        if (j >= bs.length) { i += 1; j = if (same) i + 1 else 0 }
      }
      private def advance(): Unit = {
        nextElem = null
        while (nextElem == null && i < as.length && (if (same) i < bs.length - 1 else bs.length > 0)) {
          val a = as(i); val b = bs(j)
          val (ida, ea, na) = (a._5, a._6, a._7)
          val (idb, eb, nb) = (b._5, b._6, b._7)
          var dot = 0.0
          var k = 0
          while (k < ea.length) { dot += ea(k) * eb(k); k += 1 }
          val cos = dot / (na * nb)
          if (cos >= minCos)
            nextElem = if (ida < idb) (ida, idb, cos) else (idb, ida, cos)
          step()
        }
      }
      advance()
      def hasNext: Boolean = nextElem != null
      def next(): (Long, Long, Double) = {
        val e = nextElem; advance(); e
      }
    }
  }

  /** q32 — embedding-cosine near-dup: plant a perturbed twin per vector
    * (component shift 0.01·(i mod 3), id+10000), LSH-bucket the doubled
    * corpus with the Similarity hyperplanes, and keep same-bucket pairs
    * with cosine ≥ 0.98. Candidates touch bucket collisions only (q23's
    * scale shape in embedding space); label-clustered data skews the
    * buckets ~100×, so the pairwise stage runs through
    * [[boundedBucketPairs]] — per-task work stays ≤ cap² no matter how
    * hot a bucket gets. */
  def embedNearDup(s: SparkSession, d: String): DataFrame = {
    Similarity.withFns(s)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    val corpus = base.unionAll(
      base.selectExpr("vec_id + 10000 as vec_id",
        "zip_with(e, sequence(0, 63), (x, i) -> x + 0.01 * cast(i % 3 as double)) as e"))
    // probe the DERIVED corpus (r15): the planted twin per vector is
    // part of the volume the dial bounds; cached per (family, dir) —
    // r15 #4
    val withB = corpus.selectExpr("vec_id", "e",
      s"sqrt(${Similarity.dotExpr("e", "e")}) as nrm",
      s"${Similarity.bucketExpr("e",
        Similarity.cachedPlanes("q32", d)(
          Similarity.adaptivePlanesFor(corpus, "e")))} as bucket")
    boundedBucketPairs(s, withB.select("bucket", "vec_id", "e", "nrm"),
        cap = 1024, minCos = 0.98)
      .selectExpr("vec_a", "vec_b", "floor((cos) * 1e6 + 0.5) / 1e6 as cosine")
  }

  val embedNearDupSql: String =
    s"""WITH base AS (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
       |corpus AS (SELECT vec_id, e FROM base
       |  UNION ALL SELECT vec_id + 10000,
       |    list_transform(range(1, len(e) + 1), i -> e[i] + 0.01 * ((i - 1) % 3)::DOUBLE)
       |  FROM base),
       |b AS (SELECT vec_id, e,
       |  sqrt(${Similarity.dotSqlDuck("e", "e")}) AS nrm,
       |  ${Similarity.bucketSqlDuckIn("e", Similarity.planesSqlDuckFor("corpus", "e"))} AS bucket FROM corpus),
       |p AS (SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       |  (list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(a.e) + 1),
       |     i -> a.e[i] * b2.e[i])), (p_, q_) -> p_ + q_)) / (a.nrm * b2.nrm) AS cos
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
       |SELECT vec_a, vec_b, floor((cos) * 1e6 + 0.5) / 1e6 AS cosine
       |FROM p WHERE cos >= 0.98 ORDER BY vec_a, vec_b""".stripMargin

  /** q70 — canonical selection, the KEEP/DROP decision a dedup pipeline
    * actually emits downstream of clustering: within each exact-SimHash
    * cluster keep the LONGEST document (tie-break: lowest doc_id) and
    * drop the rest in its favour. q41/q60 pick the min-id root — an
    * arbitrary but deterministic survivor; real curation keeps the most
    * content-complete member, which is a per-cluster argmax over a
    * content feature, not an id. Output: every doc with its cluster key,
    * its cluster's keeper, and its own kept/dropped verdict.
    *
    * 100 TB: per-row signing (no shuffle), then ONE keyed exchange on
    * the signature for the window argmax — clusters are near-dup sets
    * (tiny, skew-bounded by construction: a giant cluster means a
    * boilerplate storm, which upstream line-dedup removes), and the
    * corpus text itself never moves, only (id, n_chars, sig) triples. */
  def simhashKeep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sigs = Tables.documents(s, d)
      .selectExpr("doc_id", "n_chars", "split(text, ' ') as toks")
      .as[(Long, Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, n, toks) => (id, n, simhash16(md, toks)) }
      }
      .toDF("doc_id", "n_chars", "simhash")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("simhash"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    sigs
      .withColumn("keep_doc_id", first(col("doc_id")).over(w))
      .withColumn("kept", col("doc_id") === col("keep_doc_id"))
      .select("doc_id", "simhash", "n_chars", "keep_doc_id", "kept")
  }

  val simhashKeepSql: String =
    """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, n_chars,
      |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
      |    b -> CASE WHEN list_reduce(list_prepend(0, list_transform(toks,
      |             t -> CASE WHEN strpos('89abcdef', substr(md5(t), (b + 1)::INT, 1)) > 0 THEN 1 ELSE -1 END)),
      |             (x, y) -> x + y) > 0
      |         THEN (1::BIGINT << b) ELSE 0::BIGINT END)), (a, c) -> a + c) AS simhash
      |  FROM t)
      |SELECT doc_id, simhash, n_chars,
      |  first_value(doc_id) OVER (PARTITION BY simhash
      |    ORDER BY n_chars DESC, doc_id) AS keep_doc_id,
      |  doc_id = first_value(doc_id) OVER (PARTITION BY simhash
      |    ORDER BY n_chars DESC, doc_id) AS kept
      |FROM sh ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q85 — FUZZY decontamination: the near-duplicate sibling of q48/q66.
  // Exact-fingerprint decontamination misses a contaminated document
  // that was lightly edited (the common leakage mode — eval text pasted
  // with a dropped word or changed whitespace); production pipelines
  // (GPT-3 appendix C, Llama) therefore decontaminate by N-GRAM OVERLAP
  // against the eval set. Here: the q23 MinHash chain run CROSS-FRAME —
  // corpus bands probed against the deny slice's bands (doc_id % 20 == 0
  // base docs model the eval set), candidates verified by exact Jaccard
  // ≥ 0.5, and any corpus doc with a verified deny match is dropped.
  // A deny doc matches itself at Jaccard 1.0 (dropped, = q48's exact
  // behaviour); its planted mutated twin (first token removed) is what
  // ONLY the fuzzy chain catches — the report splits base/twin slices
  // so that difference is the visible result.
  //
  // Scale shape (100 TB): the corpus is signed ONCE (the persisted q23
  // frame); deny bands are eval-set-sized (corpus/20 here, benchmarks
  // in production) → BROADCAST to the corpus-side band probe, so the
  // corpus never shuffles for candidate generation; per-task probe work
  // is bounded by the deny side's bucket sizes (eval-sized by
  // construction — the triangle-cap machinery stays on the self-join
  // path where both sides are corpus-sized). The verify join shuffles
  // only candidate pairs. Empty-shingle docs band nowhere and survive
  // on both engines.
  // ---------------------------------------------------------------------

  /** The q85 drop set: distinct corpus doc_ids with a verified deny
    * match, from a signed corpus frame (shared with the verdict spec). */
  private[graft] def fuzzyDroppedIds(s: SparkSession, sh: DataFrame): DataFrame = {
    val bands = lshBands(sh)
    val denyBands = bands
      .filter(col("doc_id") % 20 === 0 && col("doc_id") < 10000)
      .select(col("band_idx").as("d_idx"), col("band_hash").as("d_hash"),
        col("doc_id").as("deny_id"))
    val cand = bands
      .join(broadcast(denyBands),
        col("band_idx") === col("d_idx") && col("band_hash") === col("d_hash"))
      .select(col("doc_id").as("doc_a"), col("deny_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, sh)
      .select(col("doc_a").as("doc_id")).distinct()
  }

  def fuzzyDecontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = signedCorpus(s, nearDupCorpus(s, d)).transform(Tables.maybePersist)
    val dropped = fuzzyDroppedIds(s, sh).withColumn("hit", lit(true))
    sh.select("doc_id")
      .join(dropped, Seq("doc_id"), "left")
      .selectExpr("case when doc_id < 10000 then 'base' else 'twin' end as slice",
        "coalesce(hit, false) as hit")
      .groupBy("slice")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(!col("hit"), 1L).otherwise(0L)).as("n_kept"))
  }

  val fuzzyDecontaminateSql: String =
    s"""WITH $sigBandCtes,
       |deny AS (SELECT band_idx, band_hash, doc_id AS deny_id FROM bands
       |  WHERE doc_id % 20 = 0 AND doc_id < 10000),
       |cand AS (SELECT DISTINCT b.doc_id AS doc_a, dy.deny_id AS doc_b
       |  FROM bands b JOIN deny dy
       |    ON b.band_idx = dy.band_idx AND b.band_hash = dy.band_hash),
       |ver AS (SELECT doc_a, doc_b,
       |  floor((len(list_intersect(sa.sh, sb.sh)) / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
       |            JOIN sh sb ON sb.doc_id = cand.doc_b),
       |drp AS (SELECT DISTINCT doc_a AS doc_id FROM ver WHERE jaccard >= 0.5)
       |SELECT CASE WHEN c.doc_id < 10000 THEN 'base' ELSE 'twin' END AS slice,
       |  COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN drp.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |  SUM(CASE WHEN drp.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept
       |FROM sh c LEFT JOIN drp ON drp.doc_id = c.doc_id
       |GROUP BY slice ORDER BY slice""".stripMargin

  /** The fitted q85 deny index: band key → deny ids, deny id → shingle
    * set. Eval-set-sized BY CONSTRUCTION (the deny slice models the
    * benchmark suite), so it is always driver/closure-sized — the same
    * contract as the classifier weights and the DSIR Δ. */
  case class DenyIndex(bands: Map[(Int, String), Array[Long]],
                       shingles: Map[Long, Array[String]])

  /** Fit the q85 deny index (the fit-then-stream discipline): sign the
    * deny slice with the PRODUCTION signing stage and collect its band
    * keys + shingle sets. */
  def fitDenyIndex(s: SparkSession, d: String): DenyIndex = {
    import s.implicits._
    val deny = Tables.documents(s, d)
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("text"))
    val rows = signedCorpus(s, deny)
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"), col("sig"))
      .as[(Long, Array[String], Array[Long])]
      .collect()
    val bands = scala.collection.mutable.Map.empty[(Int, String), scala.collection.mutable.ArrayBuffer[Long]]
    rows.foreach { case (id, _, sig) =>
      var b = 0
      while (b < 4) {
        val key = (b, s"${sig(3 * b)}:${sig(3 * b + 1)}:${sig(3 * b + 2)}")
        bands.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) += id
        b += 1
      }
    }
    DenyIndex(bands.view.mapValues(_.toArray.sorted).toMap,
      rows.map(t => t._1 -> t._2).toMap)
  }

  /** q85's check as a stateless per-row transform (the classifierVerdict
    * discipline) — route any batch or streaming (doc_id, text) frame
    * against an offline-fitted deny index. Arithmetic mirrors the batch
    * chain operation-for-operation: the same shingle/signature code
    * (shared functions, not a reimplementation), the same band keys,
    * and the same micro-rounded Jaccard bar — a doc drops online iff it
    * drops in the batch q85 (spec-pinned). */
  def fuzzyDecontamVerdict(df: DataFrame, idx: DenyIndex): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val sh = shingles3(text)
          if (sh.isEmpty) (id, 0, false)
          else {
            val sig = minhashSig(md, sh)
            val cands = scala.collection.mutable.SortedSet.empty[Long]
            var b = 0
            while (b < 4) {
              idx.bands.get((b, s"${sig(3 * b)}:${sig(3 * b + 1)}:${sig(3 * b + 2)}"))
                .foreach(_.foreach(cands += _))
              b += 1
            }
            val mine = sh.toSet
            val hit = cands.exists { dId =>
              val other = idx.shingles(dId)
              var inter = 0
              var i = 0
              while (i < other.length) { if (mine.contains(other(i))) inter += 1; i += 1 }
              val union = mine.size + other.length - inter
              math.floor(inter.toDouble / union.toDouble * 1e6 + 0.5) / 1e6 >= 0.5
            }
            (id, cands.size, hit)
          }
        }
      }
      .toDF("doc_id", "n_candidates", "dropped")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_dedup_exact"   -> ((s, d) => exact(s, d)),
    "q23_minhash_lsh"   -> ((s, d) => minhashLsh(s, d)),
    "q24_simhash"       -> ((s, d) => simhash(s, d)),
    "q25_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "q32_embed_neardup" -> ((s, d) => embedNearDup(s, d)),
    "q41_dup_components" -> ((s, d) => dupComponents(s, d)),
    "q60_star_components" -> ((s, d) => dupComponentsStar(s, d)),
    "q70_simhash_keep"  -> ((s, d) => simhashKeep(s, d)),
    "q79_lsh_audit"     -> ((s, d) => lshAudit(s, d)),
    "q85_fuzzy_decontaminate" -> ((s, d) => fuzzyDecontaminate(s, d)),
    "q101_edit_verify"  -> ((s, d) => editDistancePairs(s, d)),
    // q102 is the nightly PROBE against the standing artifact; q102b is
    // the once-per-life index BUILD (r14, VERDICT r13 #5 — one fused
    // entry conflated a one-time cost with the repeated probe, so the
    // bench now carries them as separate ledger rows). The probe entry
    // builds lazily if this process has no artifact yet (first warmup /
    // verify pass), then every timed run measures ONLY what production
    // repeats; both paths stay gate-certified (q102b's oracle counts
    // the band rows read BACK from the artifact).
    "q102_incremental_dedup" -> ((s, d) => {
      val path = indexPathFor(d)
      if (!IndexLifecycle.exists(s, dedupFamily, path)) buildDedupIndex(s, d, path)
      incrementalDedupStored(s, d, path)
    }),
    "q102b_index_build" -> ((s, d) => {
      import s.implicits._
      Seq(buildDedupIndex(s, d, indexPathFor(d))).toDF("n_band_rows")
    }),
    // q145/q146 (r19b): the dedup-index lifecycle rows — merge and
    // right-to-be-forgotten against the standing band/shingle artifacts,
    // each certified by probing the post-maintenance index against a
    // from-scratch DuckDB recompute over the updated corpus
    "q145_dedup_index_merge"  -> ((s, d) => dedupIndexMerge(s, d)),
    "q146_dedup_index_forget" -> ((s, d) => dedupIndexForget(s, d)),
  )

  def oracle: Map[String, String] = Map(
    "q22_dedup_exact"   -> exactSql,
    "q23_minhash_lsh"   -> minhashLshSql,
    "q24_simhash"       -> simhashSql,
    "q25_ngram_jaccard" -> ngramJaccardSql,
    "q32_embed_neardup" -> embedNearDupSql,
    "q41_dup_components" -> dupComponentsSql,
    "q60_star_components" -> dupComponentsSql,
    "q70_simhash_keep"  -> simhashKeepSql,
    "q79_lsh_audit"     -> lshAuditSql,
    "q85_fuzzy_decontaminate" -> fuzzyDecontaminateSql,
    "q101_edit_verify"  -> editDistancePairsSql,
    "q102_incremental_dedup" -> incrementalDedupSql,
    "q102b_index_build" -> indexBuildSql,
    "q145_dedup_index_merge"  -> dedupIndexMergeSql,
    "q146_dedup_index_forget" -> dedupIndexForgetSql,
  )
}
