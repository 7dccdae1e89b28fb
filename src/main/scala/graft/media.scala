package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.IndexLifecycle.ArtifactWriter

/** One opaque media payload: bytes + typed metadata (SURVEY.md §2.7 E2
  * generalized — the reference fetches Slack image bytes and carries them
  * as (media_type, data) structs, `slackEventServer.js:157-184`). */
case class MediaRecord(doc_id: Long, mime: String, media: Array[Byte])

/** Decoded/extracted features for one media payload. */
case class MediaFeature(doc_id: Long, mime: String, n_bytes: Long,
                        width: Int, height: Int, rs_width: Int, rs_height: Int,
                        n_frames: Int, content_hash: String, frame_hashes: String)

/** Multimodal columns: image/audio/video as opaque binary columns with
  * typed metadata, processed by an imperative per-partition decoder —
  * the one operator family where row-at-a-time native code beats
  * expressions (real decoders are C libraries, not SQL).
  *
  * The decode step is a clearly-marked DETERMINISTIC STUB (this container
  * has no image/audio codecs): "dimensions" come from the payload's md5,
  * "frame sampling" hashes byte-range slices. Everything around the stub
  * is the real production plumbing and is what these queries verify:
  *  - binary payload column + mime metadata in a typed Dataset[MediaRecord]
  *  - mapPartitions batch shape: ONE decoder instance per partition
  *    (MessageDigest here; a JNI codec handle in production), amortized
  *    across the partition's rows — never per-row setup
  *  - per-row decode work parallel across partitions, no shuffle
  *  - downstream relational composition (q30 aggregates the typed output)
  *
  * Scale notes (100 TB): payloads stay opaque bytes end-to-end (no
  * base64 inflation in flight); decode is map-side only; the only
  * shuffle anywhere is q30's 3-group aggregation. Real-decoder swap-in
  * touches exactly one function (decodeStub).
  */
object MediaOps {

  /** The documents table as a media corpus: payload = UTF-8 text bytes,
    * mime assigned round-robin. (Docs are pure ASCII, so byte length,
    * char length, and DuckDB octet_length all agree — asserted in tests.) */
  def mediaCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).selectExpr(
      "doc_id",
      """CASE cast(doc_id % 3 as int) WHEN 0 THEN 'image/png'
        |WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END as mime"""
        .stripMargin.replace("\n", " "),
      "cast(text as binary) as media")

  private def md5hex(md: MessageDigest, bytes: Array[Byte]): String =
    Tables.hex(md.digest(bytes))

  /** SQL-semantics substring over bytes: 1-based, length-clamped. */
  private def sqlSlice(bytes: Array[Byte], pos: Int, len: Int): Array[Byte] = {
    val from = math.min(math.max(pos - 1, 0), bytes.length)
    val until = math.min(from + math.max(len, 0), bytes.length)
    java.util.Arrays.copyOfRange(bytes, from, until)
  }

  /** >>> DECODE STUB <<< — stands in for a real image/audio/video
    * decoder. Deterministic: features derive from md5 + byte slices so
    * the DuckDB oracle can reproduce them exactly. */
  private def decodeStub(md: MessageDigest, r: MediaRecord): MediaFeature = {
    val n = r.media.length.toLong
    val hash = md5hex(md, r.media)
    def hv(i: Int) = Character.digit(hash.charAt(i), 16)
    val width  = 16 * hv(0) + hv(1) + 16   // fake "decoded" dimensions
    val height = 16 * hv(2) + hv(3) + 16
    val nFrames = 1 + (n % 5).toInt        // fake stream length
    val seg = (n / nFrames).toInt          // frame-sample stride
    val frames = (0 until nFrames).map { f =>
      md5hex(md, sqlSlice(r.media, 1 + f * seg, seg)).substring(0, 8)
    }.mkString(",")
    MediaFeature(r.doc_id, r.mime, n, width, height,
      math.max(width / 2, 1), math.max(height / 2, 1), nFrames, hash, frames)
  }

  /** Shared decode pass: one decoder per partition over the media corpus
    * (the single implementation q29 and q30 both consume — a real
    * decoder is expensive enough that two copies of this block would
    * inevitably drift). */
  private def decodedFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // no sort (round 6): per-record decode values are row-local and the
    // gate compares canonicalized rows (see RelOps header) — the decode
    // runs straight off the scan.
    val corpus = mediaCorpus(s, d)
    corpus.as[MediaRecord]
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5") // per-partition, reused
        it.map(r => decodeStub(md, r))
      }
      .toDF()
  }

  /** q29 — decode/feature-extract/resize/frame-sample over the media
    * corpus via mapPartitions (decoder instantiated once per partition). */
  def mediaFeatures(s: SparkSession, d: String): DataFrame =
    decodedFeatures(s, d)

  // DuckDB twin of the stub, over the same bytes (text is ASCII so char
  // ops == byte ops; mod/div arithmetic is integer-exact in both).
  val mediaFeaturesSql: String = {
    def hv(i: Int) = s"(strpos('0123456789abcdef', substr(content_hash, $i, 1)) - 1)"
    s"""WITH m AS (SELECT doc_id,
       |  CASE (doc_id % 3)::INT WHEN 0 THEN 'image/png'
       |       WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
       |  text, length(text)::BIGINT AS n_bytes, md5(text) AS content_hash
       |  FROM documents),
       |dims AS (SELECT *,
       |  (16 * ${hv(1)} + ${hv(2)} + 16)::INT AS width,
       |  (16 * ${hv(3)} + ${hv(4)} + 16)::INT AS height,
       |  (1 + (n_bytes % 5))::INT AS n_frames FROM m),
       |seg AS (SELECT *, (n_bytes // n_frames)::INT AS seg FROM dims)
       |SELECT doc_id, mime, n_bytes, width, height,
       |  greatest(width // 2, 1)::INT AS rs_width,
       |  greatest(height // 2, 1)::INT AS rs_height,
       |  n_frames, content_hash,
       |  array_to_string(list_transform(range(0, n_frames),
       |    f -> substr(md5(substr(text, (1 + f * seg)::INT, seg)), 1, 8)), ',') AS frame_hashes
       |FROM seg ORDER BY doc_id""".stripMargin
  }

  /** q30 — the typed mapPartitions output composes relationally: per-mime
    * decode statistics (the only shuffle in the module, 3 groups). */
  def mediaStats(s: SparkSession, d: String): DataFrame = {
    decodedFeatures(s, d)
      .groupBy("mime")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("n_frames").cast("long")).as("sum_frames"),
        min(col("content_hash")).as("min_hash"))
  }

  val mediaStatsSql: String = {
    def hv(i: Int) = s"(strpos('0123456789abcdef', substr(content_hash, $i, 1)) - 1)"
    s"""WITH m AS (SELECT doc_id,
       |  CASE (doc_id % 3)::INT WHEN 0 THEN 'image/png'
       |       WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
       |  length(text)::BIGINT AS n_bytes, md5(text) AS content_hash
       |  FROM documents)
       |SELECT mime, COUNT(*) AS n_media, SUM(n_bytes)::BIGINT AS total_bytes,
       |  SUM((16 * ${hv(1)} + ${hv(2)} + 16)::BIGINT)::BIGINT AS sum_width,
       |  SUM((1 + (n_bytes % 5))::BIGINT)::BIGINT AS sum_frames,
       |  MIN(content_hash) AS min_hash
       |FROM m GROUP BY mime ORDER BY mime""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q107 — IMAGE-GRAIN NEAR-DUP DEDUP (r14, VERDICT r13 #1): the one
  // payload family the dedup engine never inspected. Every other dedup
  // operator keys on text or text embeddings, so a re-encoded
  // near-identical image sails through the whole curation funnel; this
  // closes it with the standard perceptual-hash pipeline — dHash-64
  // over the decoded luma grid, Hamming-banded candidates through the
  // existing [[Dedup.boundedBandCandidates]] machinery, exact-Hamming
  // verify. Reference motivation: the E2 media path
  // (`Slack Event Server/slackEventServer.js:157-184`) carries image
  // bytes end-to-end; a curation pipeline at 100 TB must dedup them at
  // PIXEL grain, not byte grain (re-encode/resize changes every byte
  // but almost no luma structure).
  //
  // dHash: downsample the luma raster to an 8-row × 9-column grid
  // (box-filter cell means), emit bit b = 1 iff cell (r, c+1) is
  // brighter than cell (r, c) — 8 horizontal gradients × 8 rows = 64
  // bits, stored as FOUR 16-bit band values (v[0..3]). The 16-bit
  // bands double as the LSH keys: two images whose Hamming distance is
  // ≤ 6 agree on at least one of the 4 bands unless all differing bits
  // spread across every band, so band-equality collisions are the
  // candidate generator (exactly the q23 banding argument, in Hamming
  // space). NOTE: equal cell sums ⇒ bit 0 (ties are "not brighter"),
  // and the 4×16-bit representation is deliberate — a single packed
  // 64-bit value would need bit 63, which the DuckDB oracle's BIGINT
  // shift refuses (overflow), while per-band xor + bit_count is
  // integer-exact in both engines.
  //
  // The decode step rides the SAME deterministic stub discipline as
  // q29/q30: the "luma raster" is the payload byte stream itself
  // (values 0..255 — exactly what a real decoder's luma plane is), so
  // the DuckDB twin reproduces it via ascii(); a real decoder swap-in
  // touches only the bytes→codes step. The planted twin models a
  // RE-ENCODE: +1 luma on every 17th pixel (compression noise), which
  // byte-grain dedup (md5, q22) can never match but the box-filtered
  // dHash absorbs — the q32 perturbed-twin discipline at image grain.
  //
  // Scale shape (100 TB): hashing is one mapPartitions pass fused with
  // the scan (base + twin signed in the same pass — zero shuffle);
  // candidates shuffle ONLY (band_idx, band_hash, doc_id) triples with
  // per-task work triangle-capped under band skew (an all-black-images
  // bucket cannot straggle); the verify joins hash vectors (4 ints per
  // row) over the candidate set only. Images below 72 luma samples are
  // excluded up front (no 8×9 grid exists) — documented precondition,
  // enforced identically in both engines.
  // ---------------------------------------------------------------------

  /** Cell sums, historical truncation scheme: seg = ⌊n/k⌋, cell c sums
    * codes[c·seg, (c+1)·seg) — trailing remainder dropped. The coarse
    * grids ([[dhash4x16]]/[[afp4x16]]) keep this layout so every
    * pre-r16 hash value is byte-identical. */
  private def cellSumsTrunc(codes: Array[Int], k: Int): Array[Long] = {
    val seg = codes.length / k
    val s = new Array[Long](k)
    var c = 0
    while (c < k) {
      var acc = 0L
      var i = c * seg
      val end = i + seg
      while (i < end) { acc += codes(i); i += 1 }
      s(c) = acc
      c += 1
    }
    s
  }

  /** Cell sums, floor-boundary scheme: cell c sums codes[⌊c·n/k⌋,
    * ⌊(c+1)·n/k⌋) — covers every sample, tolerates n < k (empty cells
    * sum to 0, deterministically in both engines). The FINE grids of
    * the r16 adaptive band keys use this: their cell count (272/297)
    * can exceed a short stub payload's length, where the truncation
    * scheme's seg would be 0 for every cell. */
  private def cellSumsFloor(codes: Array[Int], k: Int): Array[Long] = {
    val n = codes.length
    val s = new Array[Long](k)
    var c = 0
    while (c < k) {
      var i = (c.toLong * n / k).toInt
      val end = ((c + 1).toLong * n / k).toInt
      var acc = 0L
      while (i < end) { acc += codes(i); i += 1 }
      s(c) = acc
      c += 1
    }
    s
  }

  /** dHash-64 of one luma byte stream as four 16-bit band values.
    * Grid cell c (0..71) = sum of the seg = ⌊n/72⌋ luma values in
    * [c·seg, (c+1)·seg) — comparing sums of equal-width cells ≡
    * comparing box-filter means, integer-exact. Bit b (0..63): row
    * r = b/8, col c = b%8, set iff cell(r·9+c+1) > cell(r·9+c).
    * PRECONDITION: codes.length ≥ 72 (callers filter). */
  private[graft] def dhash4x16(codes: Array[Int]): Array[Int] = {
    val s = cellSumsTrunc(codes, 72)
    val v = new Array[Int](4)
    var b = 0
    while (b < 64) {
      val cell = (b / 8) * 9 + (b % 8)
      if (s(cell + 1) > s(cell)) v(b / 16) |= 1 << (b % 16)
      b += 1
    }
    v
  }

  // ---------------------------------------------------------------------
  // ADAPTIVE BAND KEYS (r16, VERDICT r15 #1): the fixed 4×16-bit band
  // space was the one remaining scale-killer of the r15 LSH class — a
  // 65,536-bucket-per-band space means band occupancy grows linearly
  // with the corpus and candidate volume quadratically (the x10 audio
  // audit measured 7.5 k → 916 k candidates for 10× data; at 10⁹ images
  // the random-collision term alone is ~10¹³ pairs, and the triangle
  // cap bounds per-task work, not volume). Fix = the r15 plane-dial
  // discipline transplanted to Hamming space: each band's key becomes a
  // PREFIX-STRUCTURED 80-char bit string and the consumed key width is
  // the smallest in {16, 32, 48, 64, 80} whose MEASURED same-key pair
  // volume is ≤ PairBudgetPerRow·n ([[adaptiveBandWidth]] — one narrow
  // probe prices every width off the same full-key frame, exactly the
  // depth-40-prefix trick of `Similarity.adaptivePlanesFor`).
  //
  // Key layout (per band k, chars 1-indexed):
  //   [1..16]  the band's historical 16 coarse bits (char j = bit j of
  //            v(k)) — a width-16 key partitions docs exactly as the
  //            old integer band value did, so every fixture corpus
  //            (measured under budget at 16) produces the r15 candidate
  //            set and byte-identical oracle rows;
  //   [17..32] SAME-SCALE extension bits: comparisons the coarse grid
  //            already supports but the 64-bit hash never consumed
  //            (vertical gradients for dHash, within-frame band deltas
  //            for the audio fingerprint). Same box-filter scale ⇒ same
  //            noise robustness as the coarse bits — the first dial
  //            step costs no recall headroom on short stub payloads;
  //   [33..80] FINE-GRID bits (16×17 luma cells / 33×9 energy cells,
  //            floor boundaries): the 100-TB path — real decoded
  //            payloads are thousands of samples, where a finer grid is
  //            exactly as stable as the coarse one (PDQ-style 256-bit
  //            hashes are the production norm for this reason).
  //
  // Recall: banding was always the q23 probabilistic argument (agree on
  // ≥1 of 4 bands), and the oracle mirrors the dial term for term, so
  // both engines see the same candidates at every width. Wider keys
  // only engage when measured volume demands them; the e10/e30 replica
  // audit (BENCH_NOTES_r17.md) pins pairs/row and planted-twin recall
  // at the dialed widths, and ExtensionsSpec pins recall at EVERY
  // width in [[BandWidths]] on genuine decoded payloads (real PNGs and
  // generated WAVs through the real decode legs).
  // ---------------------------------------------------------------------

  private[graft] val BandWidths = Seq(16, 32, 48, 64, 80)

  /** The four 80-char adaptive band-key strings of one luma stream
    * (see layout above). Char j of the coarse prefix = bit j of
    * [[dhash4x16]]'s v(k); same-scale chars are the 63 vertical
    * gradients vb[r·9+c] = cell(r+1,c) > cell(r,c) (r 0..6) consumed
    * round-robin; fine chars are the 16×17-grid horizontal gradients
    * of band k's spatial stripe (rows 4k..4k+2). */
  private[graft] def dhashBandKeys(codes: Array[Int]): Array[String] = {
    val v = dhash4x16(codes)
    val s = cellSumsTrunc(codes, 72)
    val fs = cellSumsFloor(codes, 272)
    Array.tabulate(4) { k =>
      val sb = new java.lang.StringBuilder(80)
      var j = 0
      while (j < 16) {
        sb.append(if (((v(k) >> j) & 1) == 1) '1' else '0'); j += 1
      }
      j = 0
      while (j < 16) {
        val vi = (16 * k + j) % 63
        val r = vi / 9
        val c = vi % 9
        sb.append(if (s((r + 1) * 9 + c) > s(r * 9 + c)) '1' else '0'); j += 1
      }
      j = 0
      while (j < 48) {
        val p = (4 * k + j / 16) * 17 + (j % 16)
        sb.append(if (fs(p + 1) > fs(p)) '1' else '0'); j += 1
      }
      sb.toString
    }
  }

  /** The four 80-char adaptive band-key strings of one magnitude stream
    * (the [[afp4x16]] twin of [[dhashBandKeys]]): coarse prefix = bit j
    * of afp's v(k); same-scale chars are the plain within-frame band
    * deltas db[f·4+b] = E(f,b+1) > E(f,b) over the 17×5 grid (the
    * comparisons the energy-DIFFERENCE bits never consumed); fine chars
    * are Haitsma–Kalker bits over a 33×9 floor-boundary grid, band k
    * covering frames 8k..8k+6. */
  private[graft] def afpBandKeys(codes: Array[Int]): Array[String] = {
    val v = afp4x16(codes)
    val s = cellSumsTrunc(codes, 85)
    val fs = cellSumsFloor(codes, 297)
    Array.tabulate(4) { k =>
      val sb = new java.lang.StringBuilder(80)
      var j = 0
      while (j < 16) {
        sb.append(if (((v(k) >> j) & 1) == 1) '1' else '0'); j += 1
      }
      j = 0
      while (j < 16) {
        val di = 16 * k + j
        val f = di / 4
        val b = di % 4
        sb.append(if (s(f * 5 + b + 1) > s(f * 5 + b)) '1' else '0'); j += 1
      }
      j = 0
      while (j < 48) {
        val f = 8 * k + j / 8
        val b = j % 8
        val dt = (fs((f + 1) * 9 + b) - fs(f * 9 + b)) -
          (fs((f + 1) * 9 + b + 1) - fs(f * 9 + b + 1))
        sb.append(if (dt > 0) '1' else '0'); j += 1
      }
      sb.toString
    }
  }

  /** Volume-budgeted band-key width (the r15 plane dial in Hamming
    * space): smallest width in [[BandWidths]] whose measured same-key
    * pair volume Σ bn·(bn−1)/2 over (band_idx, prefix) groups is
    * ≤ PairBudgetPerRow per DOC (nn/bandsPerDoc docs ride along in the
    * same aggregate). Fast path: one ≤(4·65536)-group probe at width 16
    * — volume is monotone non-increasing in width (prefix refinement
    * only splits groups), so "16 fits" IS the min rule's answer, and
    * every gate-fixture corpus takes this path (measured under budget),
    * keeping the historical candidate sets. `bands0` = (band_idx,
    * band_hash, doc_id) with FULL 80-char keys. */
  private[graft] def adaptiveBandWidth(bands0: DataFrame, bandsPerDoc: Int): Int =
    adaptiveBandWidthAndCount(bands0, bandsPerDoc)._1

  /** [[adaptiveBandWidth]] plus the band-row count its probe already
    * aggregates (nn = sum over groups) — the build reads the population
    * for `priced_n` off the same job instead of paying a second count. */
  private[graft] def adaptiveBandWidthAndCount(bands0: DataFrame,
                                               bandsPerDoc: Int): (Int, Long) = {
    val w16 = bands0
      .selectExpr("band_idx", "substring(band_hash, 1, 16) as pk")
      .groupBy("band_idx", "pk").agg(count(lit(1)).as("bn"))
      .agg(sum(expr("(bn * (bn - 1)) div 2")).as("pairs"), sum(col("bn")).as("nn"))
      .collect()(0)
    val nn = if (w16.isNullAt(1)) 0L else w16.getLong(1)
    if (w16.isNullAt(0) ||
        w16.getLong(0) * bandsPerDoc <= Similarity.PairBudgetPerRow * nn)
      (16, nn)
    else {
      val vols = bands0
        .groupBy("band_idx", "band_hash").agg(count(lit(1)).as("bn"))
        .selectExpr(s"explode(array(${BandWidths.drop(1).mkString(", ")})) as w",
          "band_idx", "band_hash", "bn")
        .selectExpr("w", "band_idx", "substring(band_hash, 1, w) as pk", "bn")
        .groupBy("w", "band_idx", "pk").agg(sum(col("bn")).as("bn"))
        .groupBy("w").agg(
          sum(expr("(bn * (bn - 1)) div 2")).as("pairs"),
          sum(col("bn")).as("nn"))
        .collect()
      val under = vols.collect {
        case r if !r.isNullAt(1) &&
          r.getLong(1) * bandsPerDoc <= Similarity.PairBudgetPerRow * r.getLong(2) =>
          r.getInt(0)
      }
      (if (under.isEmpty) BandWidths.last else under.min, nn)
    }
  }

  /** The width dial as a persisted standing statistic (VERDICT r15 #4's
    * discipline, applied here from day one): the selected width of one
    * (family, dir) corpus is computed once per process and written to a
    * scratch artifact; every later consumer in the same ledger reads the
    * file instead of re-running the probe — at production grain this is
    * an index-build-time corpus statistic (the PQ-fit-ladder pricing
    * adjudication applies). The cache key folds in the documents
    * table's content fingerprint, so a corpus regenerated mid-process
    * re-probes instead of serving a stale width (r16 advice). */
  private[graft] def cachedBandWidth(tag: String, d: String,
                                     hashes: DataFrame, bandsPerDoc: Int): Int =
    ScratchPaths.cachedIntStat(
      s"bandw-$tag-${ScratchPaths.tableFingerprint(d, "documents")}", d)(
      adaptiveBandWidth(
        hashes.selectExpr("doc_id", "posexplode(bk) as (band_idx, band_hash)"),
        bandsPerDoc))

  /** The row-major ITU-R BT.601 integer luma plane of one decoded
    * image — (299·R + 587·G + 114·B) / 1000, exact integer arithmetic.
    * The PNG and the GIF decode legs both convert through here. */
  private def lumaOf(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xFF
        val g = (rgb >> 8) & 0xFF
        val b = rgb & 0xFF
        out(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL PNG luma decode (r15, verdict item 3 — JDK `javax.imageio`,
    * no new dependency): the [[lumaOf]] plane of a genuine PNG payload;
    * None otherwise. Gated on the 8-byte PNG
    * signature so non-PNG payloads never pay a reader probe — the
    * synthetic fixture corpus (text bytes) takes the stub leg with
    * zero ImageIO calls. Decode failures (truncated/corrupt payloads)
    * also fall back rather than killing the task — the Z2 corrupt-drop
    * discipline at pixel grain. */
  private[graft] def decodePngLuma(bytes: Array[Byte]): Option[Array[Int]] = {
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    if (bytes.length < 8 || (0 until 8).exists(i => (bytes(i) & 0xFF) != sig(i))) None
    else try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))).map(lumaOf)
    } catch { case _: Exception => None }
  }

  /** Luma plane of one media payload: REAL decode for genuine PNGs,
    * payload-bytes-AS-luma stub otherwise (the q29/q30 discipline that
    * keeps the DuckDB twin exact on the synthetic corpus — the oracle
    * covers the stub leg; the decoded leg is spec-pinned on genuine
    * ImageIO-round-tripped PNGs in ExtensionsSpec). */
  private[graft] def lumaPlane(bytes: Array[Byte]): Array[Int] =
    decodePngLuma(bytes).getOrElse {
      val n = bytes.length
      val out = new Array[Int](n)
      var i = 0
      while (i < n) { out(i) = bytes(i) & 0xFF; i += 1 }
      out
    }

  // ---------------------------------------------------------------------
  // ONE MODALITY DESCRIPTOR: image (q107/q110/q117/q136), audio
  // (q113/q138) and video (q111/q139) run ONE copy of every Spark leg —
  // the signing pass, the pair chain, the stored-index build, probe,
  // merge and compaction, the deny index — and differ only in what their
  // [[Modality]] declares: how a payload decodes to sample planes, how a
  // plane signs, how many band keys a payload carries and which rule
  // verifies a candidate. A standing index records its modality in its
  // stat, so every later reader knows what the index holds.
  // ---------------------------------------------------------------------

  /** A duplicate rule over two aligned signature vectors `va`/`vb`: the
    * score column it names and its SQL, the bar a duplicate clears, and
    * the probe's per-delta best score — its column, the aggregate that
    * picks it, and its value when nothing matched. */
  final case class VerifyRule(score: String, sql: String, bar: String,
                              best: String, pick: String, none: Int) {
    /** `pairs` (carrying `va`, `vb`) cut to the (a, b, score) rows that
      * clear the bar. */
    def verify(pairs: DataFrame, a: String, b: String): DataFrame =
      pairs.selectExpr(a, b, s"$sql as $score").filter(bar)
  }

  /** Scalar Hamming ≤ 6 over the whole vector (image, audio). */
  private val HammingRule = VerifyRule("hamming",
    """aggregate(zip_with(va, vb,
      |  (x, y) -> bit_count(cast(x as bigint) ^ cast(y as bigint))),
      |  cast(0 as bigint), (a, h) -> a + cast(h as bigint))"""
      .stripMargin.replace("\n", " "),
    "hamming <= 6", "best_hamming", "min", 99)

  /** Frame-aligned: ≥ 2 of 3 frames whose 4-band dHash sits within
    * Hamming 6 of the same frame's (video — q111's semantics). */
  private val FramesRule = VerifyRule("matched_frames",
    """cast(size(filter(sequence(0, 2), f ->
      |  aggregate(transform(sequence(0, 3), b ->
      |    bit_count(cast(element_at(va, f * 4 + b + 1) as bigint)
      |      ^ cast(element_at(vb, f * 4 + b + 1) as bigint))),
      |    cast(0 as bigint), (a, x) -> a + cast(x as bigint)) <= 6))
      |as bigint)""".stripMargin.replace("\n", " "),
    "matched_frames >= 2", "best_frames", "max", 0)

  /** What one media modality declares; [[hashesOf]] and every leg after
    * it are written once against it.
    *
    * @param name         the name an index's stat records
    * @param mime         the corpus slice's mime predicate
    * @param byteFloor    payloads shorter than this carry no grid: corpus
    *                     scans push it down as a length filter, and the
    *                     signing pass refuses them on every frame
    * @param planes       decode, payload → sample planes: the real decode
    *                     for a genuine PNG/WAV/GIF, the byte-plane stub
    *                     (which the DuckDB twin mirrors) otherwise
    * @param planeFloor   the samples each decoded plane needs for its grid
    * @param code         sample → signed code, after the perturbation
    * @param signature    one plane's 4×16-bit signature (the verify vector)
    * @param bandKeys     one plane's four 80-char adaptive band keys
    * @param bands        band keys per payload (4 per plane), the dial's
    *                     bands-per-doc
    * @param rule         the verify rule
    * @param twinResidue  the planted re-encode twin's residue (doc_id + 10000)
    * @param deltaResidue the probe delta batch's residue (doc_id + 40000) */
  final case class Modality(
      name: String,
      mime: Column => Column,
      byteFloor: Int,
      planes: Array[Byte] => Seq[Array[Int]],
      planeFloor: Int,
      code: Int => Int,
      signature: Array[Int] => Array[Int],
      bandKeys: Array[Int] => Array[String],
      bands: Int,
      rule: VerifyRule,
      twinResidue: Int,
      deltaResidue: Int)

  /** dHash-64 of the luma plane ([[lumaPlane]]). */
  val Image: Modality = Modality("image", _ === "image/png", 72,
    b => Seq(lumaPlane(b)), 72, x => x, dhash4x16, dhashBandKeys, 4,
    HammingRule, twinResidue = 17, deltaResidue = 11)

  /** The energy-difference fingerprint of the |sample| magnitudes
    * ([[samplePlane]], folded by `abs` AFTER the perturbation). */
  val Audio: Modality = Modality("audio", _ === "audio/wav", 85,
    b => Seq(samplePlane(b)), 85, x => math.abs(x), afp4x16, afpBandKeys, 4,
    HammingRule, twinResidue = 13, deltaResidue = 9)

  /** dHash-64 of each of 3 sampled luma frames ([[videoFramePlanes]]):
    * 12 band keys, frame f's signature at v(4f..4f+3). */
  val Video: Modality = Modality("video", _.startsWith("video/"), 216,
    videoFramePlanes, 72, x => x, dhash4x16, dhashBandKeys, 12,
    FramesRule, twinResidue = 17, deltaResidue = 7)

  private val Modalities = Seq(Image, Audio, Video)

  /** The signing pass, ONE decoder-shaped mapPartitions over a (doc_id,
    * media) frame: each payload decodes once, and each `(shift, residue)`
    * copy signs the decoded planes perturbed by +1 at every global sample
    * index ≡ 0 (mod residue) — residue 0 leaves them as decoded — then
    * mapped through the modality's code: (doc_id + shift, v, bk), v the
    * planes' signatures and bk their band keys, concatenated in plane
    * order. The perturbation models a RE-ENCODE (compression noise,
    * gain ripple), which byte-grain md5 (q22) never matches and the
    * box-filtered signatures absorb; signing base and twin off one decode
    * in one pass keeps the scan single at 100 TB. On the video stub leg,
    * sample i of frame f is byte f·L + i, so the global index walks the
    * historical whole-stream residues. Payloads under either floor emit
    * nothing. The default copy is the payload as it arrived — the online
    * population is whatever arrives. */
  private def hashesOf(m: Modality, frame: DataFrame,
                       copies: Seq[(Long, Int)] = Seq(0L -> 0)): DataFrame = {
    val s = frame.sparkSession
    import s.implicits._
    frame.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        codesOf(m, bytes, copies.map(_._2)).zip(copies).map { case (codes, (shift, _)) =>
          (id + shift, codes.flatMap(m.signature(_)).toArray, codes.flatMap(m.bandKeys(_)).toArray)
        }
      })
      .toDF("doc_id", "v", "bk")
  }

  /** Per residue, one payload's code planes ([[hashesOf]]'s perturbation
    * and code map); none under either floor. */
  private def codesOf(m: Modality, bytes: Array[Byte],
                      residues: Seq[Int]): Seq[Seq[Array[Int]]] =
    if (bytes.length < m.byteFloor) Nil
    else {
      val planes = m.planes(bytes)
      if (planes.exists(_.length < m.planeFloor)) Nil
      else residues.map { r =>
        var o = 0 // global sample index of the plane's first sample
        planes.map { p =>
          val c = new Array[Int](p.length)
          var i = 0
          while (i < p.length) {
            c(i) = m.code(if (r > 0 && (o + i) % r == 0) p(i) + 1 else p(i))
            i += 1
          }
          o += p.length
          c
        }
      }
    }

  /** The modality's slice of a media corpus: its mime, at or above its
    * byte floor (a length filter the scan pushes down). */
  private def sliceOf(m: Modality, corpus: DataFrame): DataFrame =
    corpus.filter(m.mime(col("mime")) && length(col("media")) >= m.byteFloor)

  /** The slice and its planted re-encode twins, signed: the population
    * the q107/q110/q111/q113 pair chains and the q136b/q138b/q139b
    * indexes cover. */
  private[graft] def corpusHashes(m: Modality, corpus: DataFrame): DataFrame =
    hashesOf(m, sliceOf(m, corpus), Seq(0L -> 0, 10000L -> m.twinResidue))

  /** The width-`w` prefix of band-key string `x` as the candidate-join
    * shuffle key: a PACKED LONG (`graft_bits2long` — injective for
    * w ≤ 64, so the candidate set is identical to the string form's
    * while the exploded band frame's key shrinks from w bytes to 8;
    * r16 verdict #7) on every dial step but the 80-bit ceiling, where
    * the string key survives (80 bits don't fit one long; the ceiling
    * only engages when even width 64 is over budget). */
  private[graft] def packedPrefixExpr(x: String, width: Int): String =
    if (width <= 64) s"graft_bits2long(substring($x, 1, $width))"
    else s"substring($x, 1, $width)"

  /** The q107 pair chain from a (persisted) hash frame: adaptive-width
    * Hamming band keys → triangle-capped band-collision candidates →
    * modality `m`'s verify rule over the signature vectors v (the dial
    * moves CANDIDATE volume, never the output's distance semantics).
    * Shared by q107 (pair surface), q110 (clustering consumes the pairs
    * as edges), q111, q113 and q117 (caption audit on the pair surface).
    *
    * `oneBitProbe` (r17): ALSO emit, per band, the `width` one-bit-
    * masked variants of the prefix (each in its own band_idx namespace
    * — variant j masks bit j, so two prefixes within Hamming 1 share a
    * variant). At width 16 this is the multi-index-hashing guarantee
    * (see [[denyProbe]]): every pair within the Hamming-6 bar has some
    * band within Hamming 1 and CANNOT be missed. The price is a
    * (width+1)× band-stage volume multiplier, so it is a RECALL-POLICY
    * dial for bounded compliance scans, not the 10⁹-row default — the
    * measured single-probe loss is ≤ 0.1% at replica scale (e100)
    * (BENCH_NOTES_r17.md). */
  private[graft] def imagePairs(s: SparkSession, hashes: DataFrame,
                                width: Int,
                                oneBitProbe: Boolean = false,
                                m: Modality = Image): DataFrame = {
    Similarity.withFns(s)
    val bandExpr =
      if (!oneBitProbe)
        s"posexplode(transform(bk, x -> ${packedPrefixExpr("x", width)})) as (band_idx, band_hash)"
      else {
        require(width <= 64, s"oneBitProbe needs a packable width, got $width")
        s"""posexplode(flatten(transform(bk, x ->
           |  transform(sequence(0, $width), j ->
           |    graft_bits2long(substring(x, 1, $width)) & (case when j = 0
           |      then cast(-1 as bigint)
           |      else ~shiftleft(cast(1 as bigint), j - 1) end)))))
           |as (band_idx, band_hash)""".stripMargin.replace("\n", " ")
      }
    val bands = hashes.selectExpr("doc_id", bandExpr)
    val cand = Dedup.boundedBandCandidates(s, bands, cap = 1024)
    m.rule.verify(cand
        .join(hashes.select(col("doc_id").as("doc_a"), col("v").as("va")), Seq("doc_a"))
        .join(hashes.select(col("doc_id").as("doc_b"), col("v").as("vb")), Seq("doc_b")),
      "doc_a", "doc_b")
  }

  /** The near-dup pair surface of one modality's twin-planted corpus
    * (q107, q111, q113): signatures → [[imagePairs]] at the dialed width
    * → (doc_a, doc_b, score, is_twin). */
  private def dedupPairs(s: SparkSession, d: String, m: Modality, tag: String): DataFrame = {
    // persisted: feeds the width probe, the band explode and BOTH
    // verify-join sides
    val hashes = corpusHashes(m, mediaCorpus(s, d)).transform(Tables.maybePersist)
    imagePairs(s, hashes, cachedBandWidth(tag, d, hashes, m.bands), m = m)
      .selectExpr("doc_a", "doc_b", m.rule.score, "doc_b = doc_a + 10000 as is_twin")
  }

  /** q107 — image near-dup pairs: dHash → adaptive-width Hamming bands
    * → triangle-capped band-collision candidates → exact Hamming ≤ 6. */
  def imageDedup(s: SparkSession, d: String): DataFrame = dedupPairs(s, d, Image, "q107")

  // ---------------------------------------------------------------------
  // q110 — IMAGE CLUSTERING + CANONICAL KEEP (r14): the q41→q70
  // composition at image grain — connected components over the q107
  // pair graph, then per cluster keep the LARGEST payload (most pixels
  // decoded = most content; tie → lowest doc_id), drop the rest. This
  // is the decision an image-curation pipeline actually emits: q107
  // finds the re-encode twins, this picks which copy survives.
  //
  // Scale shape: the pair chain is q107's (band-blocked, never
  // all-pairs); the pair frame is localCheckpoint'ed ONCE so the CC
  // loop iterates over materialized id-pairs (the q41 discipline);
  // hash-min CC is 2 exchanges/round over (id, root) longs; the keep
  // argmax is one window over (id, root, n_bytes) triples — payload
  // bytes never enter any exchange.
  // ---------------------------------------------------------------------

  def imageKeep(s: SparkSession, d: String): DataFrame = {
    val base = sliceOf(Image, mediaCorpus(s, d))
      .select(col("doc_id"), length(col("media")).cast("long").as("n_bytes"))
    // twins carry the same byte length (the +1 luma perturbation is
    // value-level, not length-level)
    val lens = base.unionAll(
      base.select((col("doc_id") + 10000).as("doc_id"), col("n_bytes")))
    val hashes = corpusHashes(Image, mediaCorpus(s, d)).transform(Tables.maybePersist)
    val pairs = imagePairs(s, hashes, cachedBandWidth("q107", d, hashes, Image.bands))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint()
    val lab = Dedup.connectedComponents(
      lens.select(col("doc_id").as("id")), pairs)
    val sizes = lab.groupBy(col("root")).agg(count(lit(1)).as("n_members"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("root"))
      .orderBy(col("n_bytes").desc, col("doc_id"))
    lab.select(col("id").as("doc_id"), col("root"))
      .join(lens, Seq("doc_id"))
      .join(sizes, Seq("root"))
      .withColumn("keep_doc_id", first(col("doc_id")).over(w))
      .withColumn("kept", col("doc_id") === col("keep_doc_id"))
      .select("doc_id", "root", "n_bytes", "keep_doc_id", "n_members", "kept")
  }

  // --- DuckDB fragment builders for the adaptive band keys (r16) ------

  /** The four 80-char dHash band keys from coarse sums alias `s`
    * (72-cell, 1-based) and fine sums alias `fs` (272-cell) — mirrors
    * [[dhashBandKeys]] char for char. */
  private def imageKeysExprDuck(s: String, fs: String): String =
    s"""list_transform(range(0, 4), k ->
       |  array_to_string(list_transform(range(0, 16), j -> CASE WHEN
       |      $s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 2)::INT]
       |      > $s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 1)::INT]
       |    THEN '1' ELSE '0' END), '')
       |  || array_to_string(list_transform(range(0, 16), j -> CASE WHEN
       |      $s[((((16 * k + j) % 63) // 9 + 1) * 9 + ((16 * k + j) % 63) % 9 + 1)::INT]
       |      > $s[(((16 * k + j) % 63) // 9 * 9 + ((16 * k + j) % 63) % 9 + 1)::INT]
       |    THEN '1' ELSE '0' END), '')
       |  || array_to_string(list_transform(range(0, 48), j -> CASE WHEN
       |      $fs[((4 * k + j // 16) * 17 + j % 16 + 2)::INT]
       |      > $fs[((4 * k + j // 16) * 17 + j % 16 + 1)::INT]
       |    THEN '1' ELSE '0' END), ''))""".stripMargin.replace("\n", " ")

  /** The four 80-char audio fingerprint band keys from coarse sums `s`
    * (85-cell) and fine sums `fs` (297-cell) — mirrors [[afpBandKeys]]. */
  private def audioKeysExprDuck(s: String, fs: String): String =
    s"""list_transform(range(0, 4), k ->
       |  array_to_string(list_transform(range(0, 16), j -> CASE WHEN
       |      ($s[(((16 * k + j) // 4 + 1) * 5 + (16 * k + j) % 4 + 1)::INT]
       |       - $s[(((16 * k + j) // 4) * 5 + (16 * k + j) % 4 + 1)::INT])
       |    - ($s[(((16 * k + j) // 4 + 1) * 5 + (16 * k + j) % 4 + 2)::INT]
       |       - $s[(((16 * k + j) // 4) * 5 + (16 * k + j) % 4 + 2)::INT]) > 0
       |    THEN '1' ELSE '0' END), '')
       |  || array_to_string(list_transform(range(0, 16), j -> CASE WHEN
       |      $s[((16 * k + j) // 4 * 5 + (16 * k + j) % 4 + 2)::INT]
       |      > $s[((16 * k + j) // 4 * 5 + (16 * k + j) % 4 + 1)::INT]
       |    THEN '1' ELSE '0' END), '')
       |  || array_to_string(list_transform(range(0, 48), j -> CASE WHEN
       |      ($fs[((8 * k + j // 8 + 1) * 9 + j % 8 + 1)::INT]
       |       - $fs[((8 * k + j // 8) * 9 + j % 8 + 1)::INT])
       |    - ($fs[((8 * k + j // 8 + 1) * 9 + j % 8 + 2)::INT]
       |       - $fs[((8 * k + j // 8) * 9 + j % 8 + 2)::INT]) > 0
       |    THEN '1' ELSE '0' END), ''))""".stripMargin.replace("\n", " ")

  /** 272-cell floor-boundary fine sums over sample list `cs` of length
    * `n` — mirrors [[cellSumsFloor]] (empty cells sum to 0). */
  private def fineSumsExprDuck(cells: Int): String =
    s"""list_transform(range(0, $cells), p ->
       |  coalesce(list_aggregate(cs[((p * n) // $cells + 1)::INT:(((p + 1) * n) // $cells)::INT],
       |    'sum'), 0))""".stripMargin.replace("\n", " ")

  /** bands0 → wsel → bands: full keys exploded, the measured-volume
    * width dial (term-for-term [[adaptiveBandWidth]]: smallest width
    * whose Σ bn·(bn−1)/2 ≤ PairBudgetPerRow·docs, docs = nn/bandsPerDoc
    * riding along), and the prefix-keyed band frame the candidate join
    * consumes. Expects a `keys (doc_id, kb)` CTE upstream. */
  private def bandDialCtesDuck(nBands: Int, bandsPerDoc: Int): String =
    s"""bands0 AS (SELECT doc_id, b AS band_idx, kb[(b + 1)::INT] AS band_hash
       |  FROM (SELECT doc_id, kb, unnest(range(0, $nBands)) AS b FROM keys)),
       |wsel AS (SELECT coalesce(min(w), CASE WHEN
       |    (SELECT count(*) FROM bands0) = 0 THEN ${BandWidths.head}
       |    ELSE ${BandWidths.last} END) AS w FROM (
       |  SELECT w, sum((bn * (bn - 1)) // 2) AS pairs, sum(bn) AS nn FROM (
       |    SELECT w, band_idx, substr(band_hash, 1, w::INT) AS pk, count(*) AS bn
       |    FROM bands0, (SELECT unnest([${BandWidths.mkString(", ")}]) AS w)
       |    GROUP BY 1, 2, 3)
       |  GROUP BY w) WHERE pairs * $bandsPerDoc <= ${Similarity.PairBudgetPerRow} * nn),
       |bands AS (SELECT doc_id, band_idx,
       |  substr(band_hash, 1, (SELECT w FROM wsel)::INT) AS band_hash FROM bands0)""".stripMargin.replace("\n", " ")

  /** The q107 sign→band→candidate→Hamming CTE chain (through `ham`),
    * shared by the q107 pair surface and the q110 clustering oracle. */
  private val imageChainCtes: String =
    s"""imgs AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE doc_id % 3 = 0 AND length(text) >= 72),
       |corpus AS (
       |  SELECT doc_id, n, list_transform(range(1, n + 1),
       |    i -> ascii(substr(text, i::INT, 1))) AS cs FROM imgs
       |  UNION ALL
       |  SELECT doc_id + 10000, n, list_transform(range(1, n + 1),
       |    i -> ascii(substr(text, i::INT, 1))
       |         + CASE WHEN (i - 1) % 17 = 0 THEN 1 ELSE 0 END) FROM imgs),
       |cells AS (SELECT doc_id, n // 72 AS seg, cs FROM corpus),
       |sums AS (SELECT doc_id, list_transform(range(0, 72),
       |    c -> list_aggregate(cs[(c * seg + 1)::INT:(c * seg + seg)::INT], 'sum')) AS s
       |  FROM cells),
       |bv AS (SELECT doc_id, list_transform(range(0, 4),
       |    k -> list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
       |      j -> CASE WHEN s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 2)::INT]
       |                   > s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 1)::INT]
       |           THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END)),
       |      (a, b) -> a + b)) AS v FROM sums),
       |fsums AS (SELECT doc_id, ${fineSumsExprDuck(272)} AS fs FROM corpus),
       |keys AS (SELECT sums.doc_id, ${imageKeysExprDuck("s", "fs")} AS kb
       |  FROM sums JOIN fsums ON fsums.doc_id = sums.doc_id),
       |${bandDialCtesDuck(nBands = 4, bandsPerDoc = 4)},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |  WHERE a.doc_id < b.doc_id),
       |ham AS (SELECT doc_a, doc_b,
       |    (bit_count(xor(va.v[1], vb.v[1])) + bit_count(xor(va.v[2], vb.v[2]))
       |   + bit_count(xor(va.v[3], vb.v[3])) + bit_count(xor(va.v[4], vb.v[4])))::BIGINT AS hamming
       |  FROM cand JOIN bv va ON va.doc_id = cand.doc_a
       |            JOIN bv vb ON vb.doc_id = cand.doc_b)""".stripMargin

  val imageDedupSql: String =
    s"""WITH $imageChainCtes
       |SELECT doc_a, doc_b, hamming, doc_b = doc_a + 10000 AS is_twin
       |FROM ham WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin

  val imageKeepSql: String =
    s"""WITH RECURSIVE $imageChainCtes,
       |pairs AS (SELECT doc_a, doc_b FROM ham WHERE hamming <= 6),
       |lens AS (SELECT doc_id, n::BIGINT AS n_bytes FROM imgs
       |  UNION ALL SELECT doc_id + 10000, n::BIGINT FROM imgs),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |verts AS (SELECT doc_id AS id FROM lens),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
       |roots AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
       |sizes AS (SELECT root, COUNT(*)::BIGINT AS n_members FROM roots GROUP BY root)
       |SELECT roots.id AS doc_id, roots.root, lens.n_bytes,
       |  first_value(roots.id) OVER (PARTITION BY roots.root
       |    ORDER BY lens.n_bytes DESC, roots.id) AS keep_doc_id,
       |  sizes.n_members,
       |  roots.id = first_value(roots.id) OVER (PARTITION BY roots.root
       |    ORDER BY lens.n_bytes DESC, roots.id) AS kept
       |FROM roots JOIN lens ON lens.doc_id = roots.id JOIN sizes USING (root)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q111 — VIDEO FRAME-HASH NEAR-DUP (r14): dedup at the VIDEO grain —
  // per video, F = 3 sampled frames (equal byte-stride thirds of the
  // decoded stream, the q29 frame-sample discipline), each frame
  // dHashed with the SHARED [[dhash4x16]]; two videos near-duplicate
  // when ≥ 2 of 3 FRAME-ALIGNED dHashes sit within Hamming 6 — the
  // temporal-structure test image-grain q107 cannot express (a video
  // is a sequence, not a bag of pixels). LSH keys = (frame_idx × 4 +
  // band_idx, band value): 12 collision chances per pair, through the
  // same triangle-capped band machinery. The re-encode twin (+1 luma
  // every 17th byte of the whole stream) recalls 100% at every
  // fixture with all 3 frames matching; videos under 216 bytes carry
  // no 3×(8×9) grid and are excluded up front (the q107 precondition,
  // per frame).
  //
  // Scale shape: hashing one mapPartitions pass (base + twin, F
  // dHashes per row — still O(bytes) per video); candidates shuffle
  // (band_idx, band_hash, doc_id) triples only; verify joins 12-int
  // hash vectors over candidates. Payloads never shuffle.
  // ---------------------------------------------------------------------

  /** REAL multi-frame video decode (r17 — the GIF container is the one
    * video format the JDK genuinely decodes, `javax.imageio`'s
    * standard GIF reader, no new dependency): the per-frame BT.601
    * integer luma planes of a genuine animated-GIF payload; None
    * otherwise. Gated on the 6-byte GIF87a/GIF89a signature so non-GIF
    * payloads (including the synthetic fixture's text bytes and real
    * mp4s, which the JDK cannot decode) never pay a reader probe;
    * decode failures fall back to the byte-plane stub — the
    * [[decodePngLuma]]/[[decodeWavSamples]] contract at frame grain. */
  private[graft] def decodeGifFrames(bytes: Array[Byte]): Option[Seq[Array[Int]]] = {
    val okSig = bytes.length >= 6 &&
      bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == '8' && (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a'
    if (!okSig) None
    else try {
      val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          reader.setInput(iis, false, true)
          val n = reader.getNumImages(true)
          if (n <= 0) None
          else Some((0 until n).map(f => lumaOf(reader.read(f))))
        } finally {
          reader.dispose()
          iis.close()
        }
      }
    } catch { case _: Exception => None }
  }

  /** The 3 sampled luma frames of one video payload: REAL decode for
    * genuine animated GIFs (first/middle/last decoded frame — with
    * repetition when the stream is shorter), equal byte-stride thirds
    * of the byte plane otherwise (the q29 frame-sample stub the oracle
    * covers). Every frame must carry the 8×9 dHash grid (≥ 72
    * samples); a decoded stream failing that falls back to the stub —
    * fallback, never a dropped task. */
  private[graft] def videoFramePlanes(bytes: Array[Byte]): Seq[Array[Int]] =
    decodeGifFrames(bytes)
      .map { fr =>
        Seq(fr.head, fr(fr.size / 2), fr.last)
      }
      .filter(_.forall(_.length >= 72))
      .getOrElse {
        val n = bytes.length
        val frameLen = n / 3
        (0 until 3).map { f =>
          val out = new Array[Int](frameLen)
          var i = 0
          while (i < frameLen) { out(i) = bytes(f * frameLen + i) & 0xFF; i += 1 }
          out
        }
      }

  /** q111 — video near-dup pairs: frame dHashes → 12 adaptive-width
    * Hamming band keys → triangle-capped candidates → per-frame exact
    * Hamming, matched when ≥ 2 of 3 aligned frames verify. */
  def videoDedup(s: SparkSession, d: String): DataFrame = dedupPairs(s, d, Video, "q111")

  val videoDedupSql: String =
    """WITH vids AS (SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE doc_id % 3 = 2 AND length(text) >= 216),
      |corpus AS (
      |  SELECT doc_id, n, list_transform(range(1, n + 1),
      |    i -> ascii(substr(text, i::INT, 1))) AS cs FROM vids
      |  UNION ALL
      |  SELECT doc_id + 10000, n, list_transform(range(1, n + 1),
      |    i -> ascii(substr(text, i::INT, 1))
      |         + CASE WHEN (i - 1) % 17 = 0 THEN 1 ELSE 0 END) FROM vids),
      |cells AS (SELECT doc_id, n // 3 AS L, (n // 3) // 72 AS seg, cs FROM corpus),
      |fsums AS (SELECT doc_id, f, list_transform(range(0, 72),
      |    c -> list_aggregate(cs[(f * L + c * seg + 1)::INT:(f * L + c * seg + seg)::INT], 'sum')) AS s
      |  FROM cells, (SELECT unnest(range(0, 3)) AS f)),
      |fb AS (SELECT doc_id, f, list_transform(range(0, 4),
      |    k -> list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
      |      j -> CASE WHEN s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 2)::INT]
      |                   > s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 1)::INT]
      |           THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END)),
      |      (a, b) -> a + b)) AS fv FROM fsums),
      |bv AS (SELECT doc_id, flatten(list(fv ORDER BY f)) AS v FROM fb GROUP BY doc_id),
      |ffine AS (SELECT doc_id, f, list_transform(range(0, 272), p ->
      |    coalesce(list_aggregate(
      |      cs[(f * L + (p * L) // 272 + 1)::INT:(f * L + ((p + 1) * L) // 272)::INT],
      |      'sum'), 0)) AS fs
      |  FROM cells, (SELECT unnest(range(0, 3)) AS f)),
      |fkeys AS (SELECT fsums.doc_id, fsums.f,
      |    """.stripMargin + "\n" + imageKeysExprDuck("s", "fs") + """ AS fk
      |  FROM fsums JOIN ffine ON ffine.doc_id = fsums.doc_id AND ffine.f = fsums.f),
      |keys AS (SELECT doc_id, flatten(list(fk ORDER BY f)) AS kb
      |  FROM fkeys GROUP BY doc_id),
      |""".stripMargin + bandDialCtesDuck(nBands = 12, bandsPerDoc = 12) + """,
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      |  WHERE a.doc_id < b.doc_id),
      |mf AS (SELECT doc_a, doc_b,
      |    len(list_filter(range(0, 3), f ->
      |      list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 4),
      |        b -> bit_count(xor(va.v[(f * 4 + b + 1)::INT], vb.v[(f * 4 + b + 1)::INT]))::BIGINT)),
      |        (a2, x) -> a2 + x) <= 6))::BIGINT AS matched_frames
      |  FROM cand JOIN bv va ON va.doc_id = cand.doc_a
      |            JOIN bv vb ON vb.doc_id = cand.doc_b)
      |SELECT doc_a, doc_b, matched_frames, doc_b = doc_a + 10000 AS is_twin
      |FROM mf WHERE matched_frames >= 2 ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q113 — AUDIO FINGERPRINT NEAR-DUP (r14): the last payload modality
  // without a dedup grain (text q22-q25, image q107, video q111). Audio
  // re-encodes (gain ripple, dither) change every byte but almost no
  // ENERGY STRUCTURE, so the fingerprint is the Haitsma–Kalker
  // energy-difference family, not a pixel hash: the decoded stream
  // (bytes → |centered PCM| via [[samplePlane]] — REAL
  // javax.sound.sampled decode for genuine RIFF/WAVE payloads since
  // r17, byte-plane stub for the synthetic fixture) splits into 17 frames
  // × 5 sub-bands of summed |amplitude| energy; bit (f, b), f<16, b<4,
  // is the SIGN of the time-delta of the band-energy delta —
  //   ((E[f+1,b] − E[f,b]) − (E[f+1,b+1] − E[f,b+1])) > 0
  // — 64 bits packed as the same FOUR 16-bit band values q107 uses
  // (integer-exact in both engines; bit 63 never needed). The 16-bit
  // bands double as the LSH keys through the SAME triangle-capped
  // machinery; exact Hamming ≤ 6 verifies. The planted twin models a
  // re-encode: +1 amplitude on every 13th sample (value-level, under
  // the abs-centering) — byte-grain md5 can never match it, the
  // energy-difference signs absorb it (measured: 100% twin recall at
  // sf0.01 AND sf0.1, plus genuine non-twin audio near-dups). Streams
  // under 85 samples carry no 17×5 grid and are excluded up front (the
  // q107 precondition).
  //
  // Scale shape: q107's exactly — fingerprinting is one mapPartitions
  // pass fused with the scan (base + twin per row, zero shuffle);
  // candidates shuffle (band_idx, band_hash, doc_id) triples
  // triangle-capped under band skew; the verify joins 4-int vectors
  // over candidates only. Payload bytes never enter an exchange.
  // ---------------------------------------------------------------------

  /** Haitsma–Kalker-style 64-bit audio fingerprint as four 16-bit band
    * values. `codes` = |centered| sample magnitudes; cell (f, b),
    * f 0..16, b 0..4 = sum of the seg = ⌊n/85⌋ magnitudes in its
    * stride; bit k (0..63): f = k/4, b = k%4, set iff the time-delta
    * of the band-energy delta is positive (see header).
    * PRECONDITION: codes.length ≥ 85 (callers filter). */
  private[graft] def afp4x16(codes: Array[Int]): Array[Int] = {
    val seg = codes.length / 85
    val s = new Array[Long](85)
    var c = 0
    while (c < 85) {
      var acc = 0L
      var i = c * seg
      val end = i + seg
      while (i < end) { acc += codes(i); i += 1 }
      s(c) = acc
      c += 1
    }
    val v = new Array[Int](4)
    var k = 0
    while (k < 64) {
      val f = k / 4
      val b = k % 4
      val dt = (s((f + 1) * 5 + b) - s(f * 5 + b)) -
        (s((f + 1) * 5 + b + 1) - s(f * 5 + b + 1))
      if (dt > 0) v(k / 16) |= 1 << (k % 16)
      k += 1
    }
    v
  }

  /** REAL WAV/PCM decode (r17, verdict item 3 — JDK
    * `javax.sound.sampled`, no new dependency): the centered integer
    * sample stream (channel-0) of a genuine RIFF/WAVE payload; None
    * otherwise. Gated on the 12-byte "RIFF…WAVE" container signature so
    * non-WAV payloads never pay a reader probe — the synthetic fixture
    * corpus (text bytes) takes the stub leg with zero AudioSystem
    * calls, keeping the DuckDB oracle exact. Decode covers the PCM
    * encodings the WAVE container actually carries (8-bit unsigned,
    * 16-bit signed, either endianness, any channel count — channel 0 is
    * the fingerprinted stream); anything else, and truncated/corrupt
    * payloads, fall back to the stub rather than killing the task —
    * the Z2 corrupt-drop discipline at sample grain (the
    * [[decodePngLuma]] contract, transplanted). */
  private[graft] def decodeWavSamples(bytes: Array[Byte]): Option[Array[Int]] = {
    def tag(off: Int, s: String): Boolean =
      (0 until 4).forall(i => (bytes(off + i) & 0xFF) == s.charAt(i))
    if (bytes.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val ok =
          (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED && bits == 16) ||
          (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED && bits == 8)
        if (!ok || ais.getFrameLength <= 0L ||
            ais.getFrameLength > Int.MaxValue) None
        else {
          val frames = ais.getFrameLength.toInt
          val fsz = fmt.getFrameSize
          val data = ais.readNBytes(frames * fsz)
          if (data.length < frames * fsz) None // truncated stream
          else {
            val out = new Array[Int](frames)
            var f = 0
            if (bits == 8) {
              while (f < frames) { out(f) = (data(f * fsz) & 0xFF) - 128; f += 1 }
            } else {
              val be = fmt.isBigEndian
              while (f < frames) {
                val b0 = data(f * fsz) & 0xFF
                val b1 = data(f * fsz + 1) & 0xFF
                out(f) = (if (be) (b0 << 8) | b1 else (b1 << 8) | b0).toShort.toInt
                f += 1
              }
            }
            Some(out)
          }
        }
      } finally ais.close()
    } catch { case _: Exception => None }
  }

  /** Centered sample stream of one audio payload: REAL decode for
    * genuine WAVs, byte-minus-128 stub otherwise (the [[lumaPlane]]
    * discipline — the oracle covers the stub leg; the decoded leg is
    * spec-pinned on genuine AudioSystem-round-tripped WAVs in
    * ExtensionsSpec). The fingerprint consumes |sample| magnitudes and
    * the twin perturbation applies at the SAMPLE level, so the stub
    * leg's |raw − 128 + δ| is byte-identical to the historical form. */
  private[graft] def samplePlane(bytes: Array[Byte]): Array[Int] =
    decodeWavSamples(bytes).getOrElse {
      val n = bytes.length
      val out = new Array[Int](n)
      var i = 0
      while (i < n) { out(i) = (bytes(i) & 0xFF) - 128; i += 1 }
      out
    }

  /** q113 — audio near-dup pairs: energy-difference fingerprint →
    * adaptive-width Hamming bands → triangle-capped candidates → exact
    * Hamming ≤ 6 (the [[imagePairs]] chain over the fingerprint frame). */
  def audioDedup(s: SparkSession, d: String): DataFrame = dedupPairs(s, d, Audio, "q113")

  val audioDedupSql: String =
    s"""WITH auds AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE doc_id % 3 = 1 AND length(text) >= 85),
       |corpus AS (
       |  SELECT doc_id, n, list_transform(range(1, n + 1),
       |    i -> abs(ascii(substr(text, i::INT, 1)) - 128)) AS cs FROM auds
       |  UNION ALL
       |  SELECT doc_id + 10000, n, list_transform(range(1, n + 1),
       |    i -> abs(ascii(substr(text, i::INT, 1))
       |         + CASE WHEN (i - 1) % 13 = 0 THEN 1 ELSE 0 END - 128)) FROM auds),
       |cells AS (SELECT doc_id, n // 85 AS seg, cs FROM corpus),
       |sums AS (SELECT doc_id, list_transform(range(0, 85),
       |    c -> list_aggregate(cs[(c * seg + 1)::INT:(c * seg + seg)::INT], 'sum')) AS s
       |  FROM cells),
       |bv AS (SELECT doc_id, list_transform(range(0, 4),
       |    k -> list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
       |      j -> CASE WHEN
       |             (s[(((16 * k + j) // 4 + 1) * 5 + (16 * k + j) % 4 + 1)::INT]
       |              - s[(((16 * k + j) // 4) * 5 + (16 * k + j) % 4 + 1)::INT])
       |           - (s[(((16 * k + j) // 4 + 1) * 5 + (16 * k + j) % 4 + 2)::INT]
       |              - s[(((16 * k + j) // 4) * 5 + (16 * k + j) % 4 + 2)::INT]) > 0
       |           THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END)),
       |      (a, b) -> a + b)) AS v FROM sums),
       |fsums AS (SELECT doc_id, ${fineSumsExprDuck(297)} AS fs FROM corpus),
       |keys AS (SELECT sums.doc_id, ${audioKeysExprDuck("s", "fs")} AS kb
       |  FROM sums JOIN fsums ON fsums.doc_id = sums.doc_id),
       |${bandDialCtesDuck(nBands = 4, bandsPerDoc = 4)},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |  WHERE a.doc_id < b.doc_id),
       |ham AS (SELECT doc_a, doc_b,
       |    (bit_count(xor(va.v[1], vb.v[1])) + bit_count(xor(va.v[2], vb.v[2]))
       |   + bit_count(xor(va.v[3], vb.v[3])) + bit_count(xor(va.v[4], vb.v[4])))::BIGINT AS hamming
       |  FROM cand JOIN bv va ON va.doc_id = cand.doc_a
       |            JOIN bv vb ON vb.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b, hamming, doc_b = doc_a + 10000 AS is_twin
       |FROM ham WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q117 — CROSS-MODAL DUPLICATE CONSISTENCY (r14): the audit the
  // single-modality dedup family cannot express — an image-grain
  // duplicate whose CAPTION disagrees (a re-captioned copy) is invisible
  // to q107 (same pixels pass) AND to text dedup (different shingles,
  // never a candidate pair), yet it is exactly what a multimodal
  // curation pipeline must catch: conflicting supervision on identical
  // pixels. The operator joins the two modalities' verdicts: q107's
  // image pair surface (shared chain) × the q25 word-3-gram Jaccard of
  // the pair's captions, verdict = image-dup AND caption Jaccard < 0.5.
  //
  // Planted twins (the q32/q107 discipline, at the CAPTION grain): each
  // image gets a re-captioned copy — IDENTICAL bytes (Hamming 0 by
  // construction) with the TOKEN-REVERSED caption (the q102 reversal
  // argument: word-3-gram shingle sets of a ≥5-token reversal are
  // disjoint, so Jaccard collapses). Every planted pair must emit
  // caption_mismatch = true; the fixture's genuine image-dup pairs all
  // carry near-identical captions (media ≡ payload bytes here), so both
  // verdicts are exercised and the mismatch set is exactly the planted
  // re-captions — asserted in the spec, exact values oracle-gated.
  //
  // Scale shape: the pair chain is q107's (band-blocked, payloads never
  // shuffle); captions join the PAIR frame (pair-sized, not corpus-
  // sized) by doc_id — two broadcast-hash lookups at fixture scale, a
  // keyed co-partition at corpus scale; the shingle sets ride only on
  // pair rows. One new exchange beyond q107's chain per join side.
  // ---------------------------------------------------------------------

  def crossModalAudit(s: SparkSession, d: String): DataFrame = {
    // base images + RE-CAPTIONED twins: identical bytes → identical
    // dHash and band keys, so the twin copy is unperturbed (residue 0)
    val hashes = hashesOf(Image, sliceOf(Image, mediaCorpus(s, d)),
      Seq(0L -> 0, 10000L -> 0)).transform(Tables.maybePersist)
    val pairs = imagePairs(s, hashes,
      cachedBandWidth("q117", d, hashes, Image.bands))
    val imgDocs = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .filter(col("doc_id") % 3 === 0 && length(col("text")) >= 72)
    val caps = imgDocs.selectExpr("doc_id", "split(text, ' ') as toks")
      .unionAll(imgDocs.selectExpr("doc_id + 10000 as doc_id",
        "reverse(split(text, ' ')) as toks"))
      .selectExpr("doc_id", s"${Dedup.shinglesExpr} as sh")
    pairs
      .join(caps.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(caps.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      .withColumn("jaccard", floor((
        size(array_intersect(col("sa"), col("sb"))) /
          size(array_distinct(concat(col("sa"), col("sb")))).cast("double")) * 1e6 + 0.5) / 1e6)
      .selectExpr("doc_a", "doc_b", "hamming", "jaccard",
        "jaccard < 0.5 as caption_mismatch")
  }

  val crossModalAuditSql: String =
    s"""WITH imgs AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE doc_id % 3 = 0 AND length(text) >= 72),
       |corpus AS (SELECT doc_id, n, list_transform(range(1, n + 1),
       |    i -> ascii(substr(text, i::INT, 1))) AS cs FROM imgs),
       |cells AS (SELECT doc_id, n // 72 AS seg, cs FROM corpus),
       |sums AS (SELECT doc_id, list_transform(range(0, 72),
       |    c -> list_aggregate(cs[(c * seg + 1)::INT:(c * seg + seg)::INT], 'sum')) AS s
       |  FROM cells),
       |bv0 AS (SELECT doc_id, list_transform(range(0, 4),
       |    k -> list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
       |      j -> CASE WHEN s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 2)::INT]
       |                   > s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 1)::INT]
       |           THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END)),
       |      (a, b) -> a + b)) AS v FROM sums),
       |bv AS (SELECT doc_id, v FROM bv0
       |  UNION ALL SELECT doc_id + 10000, v FROM bv0),
       |fsums AS (SELECT doc_id, ${fineSumsExprDuck(272)} AS fs FROM corpus),
       |keys0 AS (SELECT sums.doc_id, ${imageKeysExprDuck("s", "fs")} AS kb
       |  FROM sums JOIN fsums ON fsums.doc_id = sums.doc_id),
       |keys AS (SELECT doc_id, kb FROM keys0
       |  UNION ALL SELECT doc_id + 10000, kb FROM keys0),
       |${bandDialCtesDuck(nBands = 4, bandsPerDoc = 4)},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |  WHERE a.doc_id < b.doc_id),
       |ham AS (SELECT doc_a, doc_b,
       |    (bit_count(xor(va.v[1], vb.v[1])) + bit_count(xor(va.v[2], vb.v[2]))
       |   + bit_count(xor(va.v[3], vb.v[3])) + bit_count(xor(va.v[4], vb.v[4])))::BIGINT AS hamming
       |  FROM cand JOIN bv va ON va.doc_id = cand.doc_a
       |            JOIN bv vb ON vb.doc_id = cand.doc_b),
       |pairs AS (SELECT * FROM ham WHERE hamming <= 6),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM imgs
       |  UNION ALL SELECT doc_id + 10000, list_reverse(string_split(text, ' ')) FROM imgs),
       |caps AS (SELECT doc_id, ${Dedup.shinglesSqlDuck} AS sh FROM tk),
       |jac AS (SELECT p.doc_a, p.doc_b, p.hamming,
       |    floor((len(list_intersect(a.sh, b.sh))
       |      / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
       |  FROM pairs p JOIN caps a ON a.doc_id = p.doc_a
       |               JOIN caps b ON b.doc_id = p.doc_b)
       |SELECT doc_a, doc_b, hamming, jaccard, jaccard < 0.5 AS caption_mismatch
       |FROM jac ORDER BY doc_a, doc_b""".stripMargin

  /** A fitted DENYLIST index (the q85 DenyIndex discipline at media
    * grain — the production shape of a perceptual-hash blocklist: the
    * deny side is a bounded curated list, so it is closure-sized BY
    * CONSTRUCTION, the same contract as the classifier weights and the
    * q85 deny bands; the unbounded-corpus shape is the batch pair
    * chain). `modality`: what the verdict signs with; `bands(k)`:
    * band-k value → deny ids; `hashes`: deny id → its 4 band values. */
  case class MediaDenyIndex(modality: Modality, bands: Array[Map[Int, Array[Long]]],
                            hashes: Map[Long, Array[Int]])

  /** Fit the deny index of a 4-band modality over its doc_id % 20 == 0
    * slice with the PRODUCTION signing pass ([[hashesOf]]). */
  def fitDenyIndex(s: SparkSession, d: String, m: Modality): MediaDenyIndex = {
    require(m.bands == 4, s"a deny index probes 4 bands; ${m.name} carries ${m.bands}")
    import s.implicits._
    val rows = hashesOf(m, sliceOf(m, mediaCorpus(s, d)).filter(col("doc_id") % 20 === 0))
      .select("doc_id", "v").as[(Long, Array[Int])].collect()
    val bandMaps = Array.tabulate(4) { b =>
      rows.groupBy(_._2(b)).view
        .mapValues(_.map(_._1).sorted).toMap
    }
    MediaDenyIndex(m, bandMaps, rows.toMap)
  }

  /** The batch chain's check as a stateless per-row transform (the
    * fuzzyDecontamVerdict discipline): route any batch or streaming
    * (doc_id, media) frame against the fitted denylist — decode, code
    * and sign the payload exactly as [[hashesOf]] does under the index's
    * modality, probe the 4 band maps for candidates, verify exact
    * Hamming ≤ 6. A payload drops online iff the batch chain would pair
    * it with a deny item (spec-pinned against a driver model, genuine
    * PNGs included). Payloads under either floor carry no grid and
    * always pass. */
  def denyVerdict(df: DataFrame, idx: MediaDenyIndex): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        codesOf(idx.modality, bytes, Seq(0)).headOption.fold((id, 0, false)) { codes =>
          val (n, hit) = denyProbe(codes.flatMap(idx.modality.signature(_)).toArray, idx)
          (id, n, hit)
        }
      })
      .toDF("doc_id", "n_candidates", "dropped")
  }

  /** Band-probe + exact-Hamming verify of one 4×16-bit fingerprint
    * against a deny index — the per-row kernel of [[denyVerdict]].
    * MULTI-PROBE (r17, the multi-index-hashing guarantee): each band is
    * probed at its exact value AND all 16 one-bit flips. If every band
    * differed by ≥ 2 bits the total would be ≥ 8, so any payload within
    * Hamming 7 (a fortiori the ≤ 6 bar) of a deny item has some band
    * within Hamming 1 of the deny band and MUST surface as a candidate
    * — the verdict is
    * therefore EXACTLY "within Hamming 6 of any deny item", with zero
    * banding loss. A takedown/compliance scan is where 100% recall is
    * the contract; the cost is 68 driver-map lookups per row instead of
    * 4 — noise next to the fingerprint pass itself. (The unbounded
    * all-pairs chain keeps single-probe banding: its measured loss is
    * ≤ 0.1% at replica scale (e100) — BENCH_NOTES_r17 — and a 17× band-stage
    * volume multiplier is not a default you ship at 10⁹ rows.)
    * Returns (n_candidates, dropped). */
  private[graft] def denyProbe(v: Array[Int], idx: MediaDenyIndex): (Int, Boolean) = {
    val cands = scala.collection.mutable.SortedSet.empty[Long]
    var b = 0
    while (b < 4) {
      idx.bands(b).get(v(b)).foreach(_.foreach(cands += _))
      var j = 0
      while (j < 16) {
        idx.bands(b).get(v(b) ^ (1 << j)).foreach(_.foreach(cands += _))
        j += 1
      }
      b += 1
    }
    val hit = cands.exists { dId =>
      val dv = idx.hashes(dId)
      var ham = 0
      var k = 0
      while (k < 4) { ham += Integer.bitCount(v(k) ^ dv(k)); k += 1 }
      ham <= 6
    }
    (cands.size, hit)
  }

  // ---------------------------------------------------------------------
  // q136 — INCREMENTAL MEDIA DEDUP against a STANDING PERCEPTUAL INDEX
  // (r17): the q102/q119 nightly-crawl discipline at media grain — the
  // op an image-ingest pipeline runs on every batch: "is this upload a
  // re-encode of anything already admitted?". The index is built ONCE
  // ([[buildMediaIndex]]): `path/vecs` = (doc_id, 4×16-bit dHash v),
  // `path/bands` = (doc_id, band_idx, FULL 80-char band key — prefix
  // keys make the stored index width-agnostic), and `path/stat` = the
  // modality and the volume-dialed width, priced AT BUILD TIME and persisted WITH the
  // index (the standing-statistic discipline made literal: probes read
  // the artifact, never re-run the volume probe). Each delta batch
  // (re-encodes of doc_id % 5 = 2 pngs: +1 luma every 11th decoded
  // sample — a different residue than the q107 twin's 17th, so delta
  // rows are a third population) signs per-row, cuts prefixes at the
  // STORED width, and probes: delta bands BROADCAST to the index band
  // scan (the index never shuffles for candidates — prefix packing is
  // computed per-row in the scan, codegen'd), candidates verify by
  // exact Hamming ≤ 6 against `vecs`, and the per-delta verdict
  // (n_matches, best_hamming, is_new) is delta-sized.
  //
  // Scale shape: at 10⁹ admitted images the probe cost is one index
  // scan (pruned to the delta's band keys by the broadcast hash join)
  // + a delta-sized verify — no corpus shuffle anywhere; the artifact
  // is append-only across nightly batches like q102's. q136 is the
  // nightly PROBE (artifact built lazily once per process, the q102
  // gate pattern); q136b is the once-per-life BUILD, its oracle
  // certifying the write→read-back band-row count.
  // ---------------------------------------------------------------------

  /** Per-(family, dir) index scratch path. Folds the source table's
    * content fingerprint into the tag (the cachedIntStat discipline,
    * r17 advice): a corpus regenerated mid-process (ScaleUp rewrite then
    * re-query in one JVM) mints a NEW path, so the lazy gate builds
    * re-index instead of serving probe rows from an index built against
    * the old corpus. */
  private[graft] def mediaIndexScratch(tag: String, d: String): String =
    ScratchPaths.indexPathFor(
      s"$tag-${ScratchPaths.tableFingerprint(d, "documents")}", d)

  private[graft] def mediaIndexPathFor(d: String): String =
    mediaIndexScratch("q136", d)

  /** Once-per-life build from any (doc_id, v, bk) hash frame of modality
    * `m`: vecs + FULL-width band keys, plus a 1-row stat artifact
    * carrying the volume-dialed width, the modality (which fixes the
    * bands per doc and the verify rule every later probe, merge and
    * compaction reads off this one row) and the population the width
    * was priced against (`priced_n` — [[mergeMediaBatchIntoIndex]]
    * re-prices the dial once ingest growth doubles it, VERDICT r17 #1).
    * Returns the read-back band-row count (one action drives the write
    * and proves the read path). Stat is written FIRST (r17 advice): the
    * lazy gates key "built" on bands/_SUCCESS, the LAST artifact written,
    * so a crash mid-build can never leave a gate-visible index with a
    * missing or stale stat. Takes the per-path writer lock — a rebuild
    * racing a running ingest merge on the same path must serialize like
    * every other writer (r17 advice, medium). */
  private[graft] def buildIndexFrom(hashes0: DataFrame, path: String,
                                    m: Modality = Image): Long =
    IndexLifecycle.withWriter(hashes0.sparkSession, path) {
      val s = hashes0.sparkSession
      import s.implicits._
      val hashes = hashes0.transform(Tables.maybePersist)
      val (width, nn) = adaptiveBandWidthAndCount(
        hashes.selectExpr("doc_id", "posexplode(bk) as (band_idx, band_hash)"),
        m.bands)
      val n = nn / m.bands // the dial probe already aggregated the rows
      Seq((width, m.name, n)).toDF("width", "modality", "priced_n")
        .write.mode("overwrite").parquet(s"$path/stat")
      hashes.select(col("doc_id"), col("v"))
        .write.mode("overwrite").parquet(s"$path/vecs")
      hashes.selectExpr("doc_id", "posexplode(bk) as (band_idx, band_hash)")
        .write.mode("overwrite").parquet(s"$path/bands")
      // read-back count from the artifact's parquet footers (r21): same
      // value as the Spark count it replaces, zero jobs on the build tail
      IndexLifecycle.parquetFooterRows(s, s"$path/bands")
    }

  /** The stat of an ALREADY-RESOLVED version root — (dial width,
    * modality, priced_n) in one read. Probes resolve the live root
    * exactly once at plan assembly (r19 advice: a compaction committing
    * mid-plan must not mix versions within one probe, the resolve-once
    * discipline `probeAnnIndex` pins) and thread it into every read. */
  private def statAt(s: SparkSession, root: String): (Int, Modality, Long) = {
    val st = IndexLifecycle.readStamped(s, s"$root/stat")
      .select("width", "modality", "priced_n").head()
    val m = Modalities.find(_.name == st.getString(1)).getOrElse(
      throw new IllegalStateException(s"$root/stat names no modality: ${st.getString(1)}"))
    (st.getInt(0), m, st.getLong(2))
  }

  /** The stored dial width of an index artifact. */
  private[graft] def storedWidth(s: SparkSession, path: String): Int =
    statAt(s, IndexLifecycle.resolveIndexRoot(s, path))._1

  /** q136b / q138b / q139b: the image, audio and video indexes over their
    * twin-planted corpus slices — one artifact layout, dial, probe
    * machinery and forget lifecycle; the stat records the modality. */
  def buildMediaIndex(s: SparkSession, d: String, path: String): Long =
    buildIndexFrom(corpusHashes(Image, mediaCorpus(s, d)), path, Image)
  def buildAudioIndex(s: SparkSession, d: String, path: String): Long =
    buildIndexFrom(corpusHashes(Audio, mediaCorpus(s, d)), path, Audio)
  def buildVideoIndex(s: SparkSession, d: String, path: String): Long =
    buildIndexFrom(corpusHashes(Video, mediaCorpus(s, d)), path, Video)

  /** The probe delta batch: re-encoded copies of the doc_id % 5 = 2
    * slice at the modality's delta residue (+1 every 11th / 9th / 7th
    * decoded sample for image / audio / video — residues apart from the
    * twins' 17 and 13, so delta rows are a third population), delta_id =
    * doc_id + 40000, signed through the same kernels as the index. */
  private def deltaHashes(s: SparkSession, d: String, m: Modality): DataFrame =
    hashesOf(m, sliceOf(m, mediaCorpus(s, d)).filter(col("doc_id") % 5 === 2),
      Seq(40000L -> m.deltaResidue))

  /** The probe's candidate stage alone — delta bands broadcast onto the
    * index band scan, prefixes cut at the STORED width: distinct
    * (delta_id, idx_id). Split out so the growth/re-pricing spec can
    * measure candidate volume before/after a dial re-price. */
  private[graft] def probeCandidates(delta: DataFrame, path: String): DataFrame = {
    val s = delta.sparkSession
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    probeCandidatesAt(delta, path, root, statAt(s, root)._1)
  }

  /** [[probeCandidates]] with the version root and width ALREADY
    * resolved — the resolve-once inner form every multi-read probe
    * threads through. */
  private[graft] def probeCandidatesAt(delta: DataFrame, path: String,
                                       root: String, width: Int): DataFrame = {
    val s = delta.sparkSession
    Similarity.withFns(s)
    val dBands = delta.selectExpr("doc_id as delta_id",
      s"posexplode(transform(bk, x -> ${packedPrefixExpr("x", width)})) as (band_idx, band_hash)")
    val iBands = IndexLifecycle.live(mediaFamily, path)(
        IndexLifecycle.readStamped(s, s"$root/bands"))
      .selectExpr("doc_id as idx_id", "band_idx",
        s"${packedPrefixExpr("band_hash", width)} as band_hash")
    iBands
      .join(broadcast(dBands), Seq("band_idx", "band_hash"))
      .select(col("delta_id"), col("idx_id"))
      .distinct()
  }

  /** The candidates of `delta` that verify under `m`'s rule against the
    * live vecs of `root`: (delta_id, idx_id, score), the delta side
    * broadcast — the one verify join of the probe and the merge. */
  private def verifiedAt(delta: DataFrame, path: String, root: String,
                         width: Int, m: Modality): DataFrame =
    m.rule.verify(probeCandidatesAt(delta, path, root, width)
        .join(IndexLifecycle.live(mediaFamily, path)(
            IndexLifecycle.readStamped(delta.sparkSession, s"$root/vecs"))
            .select(col("doc_id").as("idx_id"), col("v").as("vb")), Seq("idx_id"))
        .join(broadcast(delta.select(col("doc_id").as("delta_id"), col("v").as("va"))),
          Seq("delta_id")),
      "delta_id", "idx_id")

  /** Probe an arbitrary delta hash frame against the STORED index:
    * prefixes cut at the stat's width on both sides, candidates verified
    * under the rule of the modality the stat records, and one verdict
    * per delta — (delta_id, n_matches, best score, is_new), the best
    * score `best_hamming` (min, 99 when unmatched) for image and audio,
    * `best_frames` (max, 0) for video. */
  def probeStoredIndexWith(delta0: DataFrame, path: String): DataFrame = {
    val s = delta0.sparkSession
    // resolve the live version ONCE: a compaction committing mid-plan
    // must never mix versions inside one probe (old bands joined against
    // new vecs) — the probeAnnIndex resolve-once discipline (r19 advice)
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    val (width, m, _) = statAt(s, root)
    val r = m.rule
    val delta = delta0.transform(Tables.maybePersist)
    delta.select(col("doc_id").as("delta_id"))
      .join(verifiedAt(delta, path, root, width, m).groupBy("delta_id")
          .agg(count(lit(1)).as("nm"), expr(s"${r.pick}(${r.score})").as("b")),
        Seq("delta_id"), "left")
      .selectExpr("delta_id", "cast(coalesce(nm, 0) as bigint) as n_matches",
        s"cast(coalesce(b, ${r.none}) as bigint) as ${r.best}", "nm is null as is_new")
  }

  /** q136 / q138 / q139: the image, audio and video probes. */
  def mediaIndexProbeStored(s: SparkSession, d: String, path: String): DataFrame =
    probeStoredIndexWith(deltaHashes(s, d, Image), path)
  def audioIndexProbeStored(s: SparkSession, d: String, path: String): DataFrame =
    probeStoredIndexWith(deltaHashes(s, d, Audio), path)
  def videoIndexProbeStored(s: SparkSession, d: String, path: String): DataFrame =
    probeStoredIndexWith(deltaHashes(s, d, Video), path)

  /** The media family's lifecycle: vecs is the registry, the build
    * writes bands last (the q137 gate row's 1/7 ≈ 14% victims sit under
    * the default compaction fraction, so its explicit compact call and
    * oracle are unchanged). [[compactMediaIndex]] writes each
    * compaction as a new committed version (r18); the append-only logs
    * (tombstones/pending) stay at the path root, shared across versions. */
  private[graft] val mediaFamily = IdLogFamily("media", "doc_id", "vecs", "bands",
    Seq("vecs", "bands", "stat"), compactMediaIndex)

  /** ONLINE ingest-dedup merge (q136's streaming leg — the admission
    * decision an image-ingest pipeline makes per arriving batch): sign
    * the batch as modality `m` — the one the index's stat records, or
    * the merge fails rather than admit it — probe the STANDING index at
    * the stored width, and append ONLY the admitted-as-new rows to the
    * artifacts — so a re-encode of anything already admitted (including
    * a doc admitted by an EARLIER micro-batch) is refused. Delivery
    * semantics: already-stored ids anti-join out before the probe, so
    * an at-least-once replay converges to the same artifact; bands are
    * written BEFORE vecs so a crash between the two appends leaves only
    * surplus band rows, which the candidate `distinct` makes harmless
    * and the replay cannot double (the vecs anti-join is the guard).
    * In-batch near-dups (two new near-identical payloads in ONE batch)
    * both admit by design — standing-index dedup, not batch-internal;
    * the nightly q110 clustering compaction owns that grain. Returns
    * (admitted, refused) counts.
    *
    * GROWTH-TRIGGERED RE-PRICING (VERDICT r17 #1): the dial width is a
    * statistic of the population it was priced against — an index grown
    * 10–100× online at a frozen width reverts to the super-linear
    * candidate regime the dial exists to prevent (the me300 pre-crossing
    * worst point, BENCH_NOTES_r17 §4). The merge tracks the admitted
    * population against the stat's `priced_n`; once it doubles,
    * [[compactMediaIndex]] runs inline (same lock — reentrant), which
    * re-measures the volume dial over the stored FULL-width keys and
    * overwrites the stat, so later probes/merges cut prefixes at the
    * width the CURRENT population prices. */
  def mergeMediaBatchIntoIndex(df: DataFrame, path: String,
                               m: Modality = Image): (Long, Long) =
    mergeHashesIntoIndex(hashesOf(m, df), path, Some(m))

  /** [[mergeMediaBatchIntoIndex]] from a pre-hashed (doc_id, v, bk)
    * frame — the decode kernels already applied; `signedAs`, when known,
    * must be the modality the index's stat records. Split out so the
    * growth/re-pricing lifecycle is testable with constructed band
    * keys (real payloads whose dHashes collide at one prefix width and
    * split at the next are not constructible on demand). */
  private[graft] def mergeHashesIntoIndex(hashes0: DataFrame, path: String,
                                          signedAs: Option[Modality] = None): (Long, Long) = {
    val s = hashes0.sparkSession
    Similarity.withFns(s)
    // the skeleton drops in-batch id replays, runs the pending consult
    // and hands over the ids neither stored nor tombstoned (the ANN
    // merge's r17 replay guards); refusals here count near-dups only
    var nFresh = 0L
    val (nAdmit, _) = IndexLifecycle.merge(mediaFamily, hashes0, path) { (root, fresh, n) =>
      nFresh = n
      val (width, m, pricedN) = statAt(s, root)
      signedAs.foreach(a => require(a == m,
        s"a ${a.name} batch cannot merge into the ${m.name} index at $path"))
      val dupIds = verifiedAt(fresh, path, root, width, m)
        .select(col("delta_id").as("doc_id")).distinct()
      // localCheckpoint (not persist): the admit frame's LINEAGE reads
      // the same vecs/bands paths the appends below write — under
      // spark.graft.persist=never a lazy plan would re-read them at
      // write time (the compactMediaIndex read-write-cycle discipline);
      // counts also come BEFORE the appends for the same reason
      val (admit, Seq(nAdmit)) = IndexLifecycle.checkpointCounting(
        fresh.join(dupIds, Seq("doc_id"), "left_anti"), lit(true))
      try {
        if (nAdmit > 0) {
          // stored population before this merge's appends, from the vecs
          // artifact's parquet footers (r21) — writer gate held, so the
          // listing is stable; zero Spark jobs
          val priorPop = IndexLifecycle.parquetFooterRows(s, s"$root/vecs")
          admit.selectExpr("doc_id", "posexplode(bk) as (band_idx, band_hash)")
            .writeArtifact(s"$root/bands", "append")
          admit.select(col("doc_id"), col("v")).writeArtifact(s"$root/vecs", "append")
          // growth trigger: population doubled since the width was priced
          // → compact (which re-measures the dial and overwrites the stat)
          if (pricedN > 0 && priorPop + nAdmit >= 2 * pricedN)
            compactMediaIndex(s, path)
        }
        nAdmit
      } finally Tables.freeCheckpoint(admit): Unit
    }
    (nAdmit, nFresh - nAdmit)
  }

  // ---------------------------------------------------------------------
  // q137 — RIGHT-TO-BE-FORGOTTEN on the standing MEDIA index (r17): the
  // q135/forgetStream discipline at media grain, LSM-style because the
  // media artifacts are not victim-prunable (band keys, not ids, are
  // the lookup structure): forget APPENDS to an id-level tombstone log
  // (idempotent — already-logged and not-present ids anti-join out);
  // probes and the online merge anti-join the log (lazy deletion — a
  // takedown is effective IMMEDIATELY, at one broadcast anti-join per
  // read); [[compactMediaIndex]] is the scheduled rewrite that makes
  // deletion physical. A tombstoned id can never re-admit through an
  // at-least-once ingest replay (the merge-side guard — the exact
  // defect class VERDICT r16 #3 flagged on the ANN index), while a NEW
  // upload of the same content under a fresh id admits (the content is
  // no longer in the index — dedup semantics, not a content ban; the
  // content-ban op is the deny index, q40's denyProbe family).
  // q137 runs the whole lifecycle — forget → compact → report — and
  // its report is a re-run FIXED POINT (victims already tombstoned →
  // nothing appended → identical rewrite → identical report).
  // ---------------------------------------------------------------------

  /** Takedown: append the present-and-not-yet-logged request ids to the
    * tombstone log; ids NOT yet in the index land in the pending-forget
    * log `$path/pending` instead of being dropped (r17 advice #5 —
    * [[mediaForgetStream]] and [[mediaIngestStream]] are independent
    * streams with no cross-stream ordering). The merge consults it: a
    * pending id's first arrival is REFUSED and the id moves to the
    * tombstone log, whose permanence makes the refusal replay-safe; fresh
    * CONTENT under a fresh id still admits (dedup-forget, not a content
    * ban). Idempotent at both artifacts (re-delivery appends nothing);
    * returns the newly-tombstoned count. */
  def forgetMediaFromIndex(requests: DataFrame, path: String): Long =
    IndexLifecycle.takedown(mediaFamily, requests, path)

  /** Scheduled compaction, VERSIONED (r18): rewrites vecs/bands minus
    * the tombstoned ids — defragmenting the ingest appends along the
    * way — and RE-PRICES the band dial against the compacted population
    * when it has GROWN past `priced_n` (VERDICT r17 #1; volume is
    * monotone in population, so a forget-only compaction keeps the
    * stored width). The rewrite lands in a fresh `$path/versions/v%05d`
    * directory committed by the atomic `_COMMITTED` marker (the
    * [[Similarity.rebuildAnnIndex]] discipline): a probe that resolved
    * pre-commit keeps reading the old version's files end-to-end — the
    * in-place overwrite this replaces could yank files out from under a
    * concurrent reader — and the fresh directory removes the read-write
    * lineage cycle, so no localCheckpoint is needed. No-ops (writes
    * nothing) when there is nothing to compact — no live victims and no
    * growth — so the q137 fixed-point re-run costs counts, not a corpus
    * copy. The tombstone/pending logs stay at the PATH ROOT, shared
    * across versions (the audit artifact a compliance pipeline retains;
    * the merge-side replay guard needs the tombstones forever).
    * Amortization: one corpus copy per population doubling sums
    * geometrically to ≈ 2× the final corpus — the LSM bargain. */
  def compactMediaIndex(s: SparkSession, path: String): Unit =
    IndexLifecycle.compactVersion(s, mediaFamily, path) { root =>
      import s.implicits._
      val (w0, m, pricedN) = statAt(s, root)
      val stored = IndexLifecycle.readStamped(s, s"$root/vecs")
      val victims = IndexLifecycle.liveVictims(s, mediaFamily, path, root)
      val pop = stored.count() - victims
      Option.when(victims > 0 || pop > pricedN) { newRoot =>
        val live = IndexLifecycle.live(mediaFamily, path) _
        val bands = live(IndexLifecycle.readStamped(s, s"$root/bands"))
        val width2 = if (pop > pricedN) adaptiveBandWidth(bands, m.bands) else w0
        // the three writes are independent: overlap them (guide §2.6, r21)
        Par.run3(
          Seq((width2, m.name, pop)).toDF("width", "modality", "priced_n")
            .write.mode("overwrite").parquet(s"$newRoot/stat"),
          live(stored).write.mode("overwrite").parquet(s"$newRoot/vecs"),
          bands.write.mode("overwrite").parquet(s"$newRoot/bands")): Unit
      }
    }

  /** The q137 gate row: lazy build → forget the doc_id % 7 = 3 victims
    * → compact → certify BOTH post-delete artifacts against the log. */
  def mediaIndexForget(s: SparkSession, d: String): DataFrame = {
    val path = mediaIndexScratch("q137", d)
    if (!IndexLifecycle.exists(s, mediaFamily, path))
      buildMediaIndex(s, d, path)
    forgetMediaFromIndex(
      IndexLifecycle.readStamped(s, s"${IndexLifecycle.resolveIndexRoot(s, path)}/vecs")
        .select("doc_id").filter("doc_id % 7 = 3"), path)
    compactMediaIndex(s, path)
    val root = IndexLifecycle.resolveIndexRoot(s, path) // post-compact: the new version
    IndexLifecycle.readStamped(s, s"$root/vecs").agg(count(lit(1)).as("n_kept"))
      .crossJoin(IndexLifecycle.readStamped(s, s"$root/bands").agg(count(lit(1)).as("n_kept_bands")))
      .crossJoin(IndexLifecycle.idLogOf(s, s"$path/tombstones", "doc_id")
        .agg(count(lit(1)).as("n_tombstones")))
  }

  val mediaIndexForgetSql: String =
    """WITH imgs AS (SELECT doc_id FROM documents
      |    WHERE doc_id % 3 = 0 AND length(text) >= 72),
      |pop AS (SELECT doc_id FROM imgs UNION ALL SELECT doc_id + 10000 FROM imgs),
      |vic AS (SELECT doc_id FROM pop WHERE doc_id % 7 = 3)
      |SELECT ((SELECT count(*) FROM pop) - (SELECT count(*) FROM vic))::BIGINT AS n_kept,
      |  (4 * ((SELECT count(*) FROM pop) - (SELECT count(*) FROM vic)))::BIGINT AS n_kept_bands,
      |  (SELECT count(*) FROM vic)::BIGINT AS n_tombstones""".stripMargin

  /** The q136 DuckDB mirror: index chain = the q107 corpus (base +
    * twins) through the SAME sign→band→dial CTEs; delta chain = the
    * % 5 = 2 pngs with the 11th-sample perturbation; prefixes on both
    * sides cut at the index-side wsel (the stored stat's math). */
  val mediaIndexProbeSql: String = {
    def signChain(p: String, src: String): String =
      s"""${p}cells AS (SELECT doc_id, n // 72 AS seg, cs FROM $src),
         |${p}sums AS (SELECT doc_id, list_transform(range(0, 72),
         |    c -> list_aggregate(cs[(c * seg + 1)::INT:(c * seg + seg)::INT], 'sum')) AS s
         |  FROM ${p}cells),
         |${p}bv AS (SELECT doc_id, list_transform(range(0, 4),
         |    k -> list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
         |      j -> CASE WHEN s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 2)::INT]
         |                   > s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 1)::INT]
         |           THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END)),
         |      (a, b) -> a + b)) AS v FROM ${p}sums),
         |${p}fsums AS (SELECT doc_id, ${fineSumsExprDuck(272)} AS fs FROM $src),
         |${p}keys AS (SELECT ${p}sums.doc_id, ${imageKeysExprDuck("s", "fs")} AS kb
         |  FROM ${p}sums JOIN ${p}fsums ON ${p}fsums.doc_id = ${p}sums.doc_id)""".stripMargin
    s"""WITH imgs AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE doc_id % 3 = 0 AND length(text) >= 72),
       |corpus AS (
       |  SELECT doc_id, n, list_transform(range(1, n + 1),
       |    i -> ascii(substr(text, i::INT, 1))) AS cs FROM imgs
       |  UNION ALL
       |  SELECT doc_id + 10000, n, list_transform(range(1, n + 1),
       |    i -> ascii(substr(text, i::INT, 1))
       |         + CASE WHEN (i - 1) % 17 = 0 THEN 1 ELSE 0 END) FROM imgs),
       |${signChain("", "corpus")},
       |${bandDialCtesDuck(nBands = 4, bandsPerDoc = 4)},
       |d_corpus AS (SELECT doc_id + 40000 AS doc_id, n, list_transform(range(1, n + 1),
       |    i -> ascii(substr(text, i::INT, 1))
       |         + CASE WHEN (i - 1) % 11 = 0 THEN 1 ELSE 0 END) AS cs
       |  FROM imgs WHERE doc_id % 5 = 2),
       |${signChain("d_", "d_corpus")},
       |d_bands AS (SELECT doc_id, b AS band_idx,
       |  substr(kb[(b + 1)::INT], 1, (SELECT w FROM wsel)::INT) AS band_hash
       |  FROM (SELECT doc_id, kb, unnest(range(0, 4)) AS b FROM d_keys)),
       |cand AS (SELECT DISTINCT d.doc_id AS delta_id, i.doc_id AS idx_id
       |  FROM bands i JOIN d_bands d
       |    ON i.band_idx = d.band_idx AND i.band_hash = d.band_hash),
       |ham AS (SELECT delta_id, idx_id,
       |    (bit_count(xor(va.v[1], vb.v[1])) + bit_count(xor(va.v[2], vb.v[2]))
       |   + bit_count(xor(va.v[3], vb.v[3])) + bit_count(xor(va.v[4], vb.v[4])))::BIGINT AS hamming
       |  FROM cand JOIN d_bv va ON va.doc_id = cand.delta_id
       |            JOIN bv vb ON vb.doc_id = cand.idx_id),
       |m AS (SELECT delta_id, count(*)::BIGINT AS nm, min(hamming) AS bh
       |  FROM ham WHERE hamming <= 6 GROUP BY delta_id)
       |SELECT d.doc_id AS delta_id, coalesce(nm, 0)::BIGINT AS n_matches,
       |  coalesce(bh, 99)::BIGINT AS best_hamming, nm IS NULL AS is_new
       |FROM d_corpus d LEFT JOIN m ON m.delta_id = d.doc_id
       |ORDER BY delta_id""".stripMargin
  }

  /** q136b oracle: band rows = 4 bands × (base + twin) index docs. */
  val mediaIndexBuildSql: String =
    """SELECT (4 * 2 * count(*))::BIGINT AS n_band_rows FROM documents
      |WHERE doc_id % 3 = 0 AND length(text) >= 72""".stripMargin

  /** The q138 DuckDB mirror — [[mediaIndexProbeSql]]'s structure over
    * the AUDIO sign chain (85-cell coarse grid, 297-cell fine grid,
    * [[audioKeysExprDuck]]; magnitude stream abs(byte − 128); twin
    * residue 13, delta residue 9). */
  val audioIndexProbeSql: String = {
    def signChain(p: String, src: String): String =
      s"""${p}cells AS (SELECT doc_id, n // 85 AS seg, cs FROM $src),
         |${p}sums AS (SELECT doc_id, list_transform(range(0, 85),
         |    c -> list_aggregate(cs[(c * seg + 1)::INT:(c * seg + seg)::INT], 'sum')) AS s
         |  FROM ${p}cells),
         |${p}bv AS (SELECT doc_id, list_transform(range(0, 4),
         |    k -> list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
         |      j -> CASE WHEN
         |             (s[(((16 * k + j) // 4 + 1) * 5 + (16 * k + j) % 4 + 1)::INT]
         |              - s[(((16 * k + j) // 4) * 5 + (16 * k + j) % 4 + 1)::INT])
         |           - (s[(((16 * k + j) // 4 + 1) * 5 + (16 * k + j) % 4 + 2)::INT]
         |              - s[(((16 * k + j) // 4) * 5 + (16 * k + j) % 4 + 2)::INT]) > 0
         |           THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END)),
         |      (a, b) -> a + b)) AS v FROM ${p}sums),
         |${p}fsums AS (SELECT doc_id, ${fineSumsExprDuck(297)} AS fs FROM $src),
         |${p}keys AS (SELECT ${p}sums.doc_id, ${audioKeysExprDuck("s", "fs")} AS kb
         |  FROM ${p}sums JOIN ${p}fsums ON ${p}fsums.doc_id = ${p}sums.doc_id)""".stripMargin
    s"""WITH auds AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE doc_id % 3 = 1 AND length(text) >= 85),
       |corpus AS (
       |  SELECT doc_id, n, list_transform(range(1, n + 1),
       |    i -> abs(ascii(substr(text, i::INT, 1)) - 128)) AS cs FROM auds
       |  UNION ALL
       |  SELECT doc_id + 10000, n, list_transform(range(1, n + 1),
       |    i -> abs(ascii(substr(text, i::INT, 1))
       |         + CASE WHEN (i - 1) % 13 = 0 THEN 1 ELSE 0 END - 128)) FROM auds),
       |${signChain("", "corpus")},
       |${bandDialCtesDuck(nBands = 4, bandsPerDoc = 4)},
       |d_corpus AS (SELECT doc_id + 40000 AS doc_id, n, list_transform(range(1, n + 1),
       |    i -> abs(ascii(substr(text, i::INT, 1))
       |         + CASE WHEN (i - 1) % 9 = 0 THEN 1 ELSE 0 END - 128)) AS cs
       |  FROM auds WHERE doc_id % 5 = 2),
       |${signChain("d_", "d_corpus")},
       |d_bands AS (SELECT doc_id, b AS band_idx,
       |  substr(kb[(b + 1)::INT], 1, (SELECT w FROM wsel)::INT) AS band_hash
       |  FROM (SELECT doc_id, kb, unnest(range(0, 4)) AS b FROM d_keys)),
       |cand AS (SELECT DISTINCT d.doc_id AS delta_id, i.doc_id AS idx_id
       |  FROM bands i JOIN d_bands d
       |    ON i.band_idx = d.band_idx AND i.band_hash = d.band_hash),
       |ham AS (SELECT delta_id, idx_id,
       |    (bit_count(xor(va.v[1], vb.v[1])) + bit_count(xor(va.v[2], vb.v[2]))
       |   + bit_count(xor(va.v[3], vb.v[3])) + bit_count(xor(va.v[4], vb.v[4])))::BIGINT AS hamming
       |  FROM cand JOIN d_bv va ON va.doc_id = cand.delta_id
       |            JOIN bv vb ON vb.doc_id = cand.idx_id),
       |m AS (SELECT delta_id, count(*)::BIGINT AS nm, min(hamming) AS bh
       |  FROM ham WHERE hamming <= 6 GROUP BY delta_id)
       |SELECT d.doc_id AS delta_id, coalesce(nm, 0)::BIGINT AS n_matches,
       |  coalesce(bh, 99)::BIGINT AS best_hamming, nm IS NULL AS is_new
       |FROM d_corpus d LEFT JOIN m ON m.delta_id = d.doc_id
       |ORDER BY delta_id""".stripMargin
  }

  /** q138b oracle: band rows = 4 bands × (base + twin) audio docs. */
  val audioIndexBuildSql: String =
    """SELECT (4 * 2 * count(*))::BIGINT AS n_band_rows FROM documents
      |WHERE doc_id % 3 = 1 AND length(text) >= 85""".stripMargin

  /** The q139 DuckDB mirror — the q136 probe structure over the VIDEO
    * sign chain (3 frames × (72-cell coarse + 272-cell fine) grids per
    * doc, 12 bands, [[imageKeysExprDuck]] per frame) with q111's
    * frame-aligned ≥ 2-of-3 verify; twin residue 17, delta residue 7. */
  val videoIndexProbeSql: String = {
    def signChain(p: String, src: String): String =
      s"""${p}cells AS (SELECT doc_id, n // 3 AS L, (n // 3) // 72 AS seg, cs FROM $src),
         |${p}fsums AS (SELECT doc_id, f, list_transform(range(0, 72),
         |    c -> list_aggregate(cs[(f * L + c * seg + 1)::INT:(f * L + c * seg + seg)::INT], 'sum')) AS s
         |  FROM ${p}cells, (SELECT unnest(range(0, 3)) AS f)),
         |${p}fb AS (SELECT doc_id, f, list_transform(range(0, 4),
         |    k -> list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
         |      j -> CASE WHEN s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 2)::INT]
         |                   > s[((16 * k + j) // 8 * 9 + (16 * k + j) % 8 + 1)::INT]
         |           THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END)),
         |      (a, b) -> a + b)) AS fv FROM ${p}fsums),
         |${p}bv AS (SELECT doc_id, flatten(list(fv ORDER BY f)) AS v FROM ${p}fb GROUP BY doc_id),
         |${p}ffine AS (SELECT doc_id, f, list_transform(range(0, 272), p2 ->
         |    coalesce(list_aggregate(
         |      cs[(f * L + (p2 * L) // 272 + 1)::INT:(f * L + ((p2 + 1) * L) // 272)::INT],
         |      'sum'), 0)) AS fs
         |  FROM ${p}cells, (SELECT unnest(range(0, 3)) AS f)),
         |${p}fkeys AS (SELECT ${p}fsums.doc_id, ${p}fsums.f,
         |    ${imageKeysExprDuck("s", "fs")} AS fk
         |  FROM ${p}fsums JOIN ${p}ffine
         |    ON ${p}ffine.doc_id = ${p}fsums.doc_id AND ${p}ffine.f = ${p}fsums.f),
         |${p}keys AS (SELECT doc_id, flatten(list(fk ORDER BY f)) AS kb
         |  FROM ${p}fkeys GROUP BY doc_id)""".stripMargin
    s"""WITH vids AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE doc_id % 3 = 2 AND length(text) >= 216),
       |corpus AS (
       |  SELECT doc_id, n, list_transform(range(1, n + 1),
       |    i -> ascii(substr(text, i::INT, 1))) AS cs FROM vids
       |  UNION ALL
       |  SELECT doc_id + 10000, n, list_transform(range(1, n + 1),
       |    i -> ascii(substr(text, i::INT, 1))
       |         + CASE WHEN (i - 1) % 17 = 0 THEN 1 ELSE 0 END) FROM vids),
       |${signChain("", "corpus")},
       |${bandDialCtesDuck(nBands = 12, bandsPerDoc = 12)},
       |d_corpus AS (SELECT doc_id + 40000 AS doc_id, n, list_transform(range(1, n + 1),
       |    i -> ascii(substr(text, i::INT, 1))
       |         + CASE WHEN (i - 1) % 7 = 0 THEN 1 ELSE 0 END) AS cs
       |  FROM vids WHERE doc_id % 5 = 2),
       |${signChain("d_", "d_corpus")},
       |d_bands AS (SELECT doc_id, b AS band_idx,
       |  substr(kb[(b + 1)::INT], 1, (SELECT w FROM wsel)::INT) AS band_hash
       |  FROM (SELECT doc_id, kb, unnest(range(0, 12)) AS b FROM d_keys)),
       |cand AS (SELECT DISTINCT d.doc_id AS delta_id, i.doc_id AS idx_id
       |  FROM bands i JOIN d_bands d
       |    ON i.band_idx = d.band_idx AND i.band_hash = d.band_hash),
       |mf AS (SELECT delta_id, idx_id,
       |    len(list_filter(range(0, 3), f ->
       |      list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 4),
       |        b -> bit_count(xor(va.v[(f * 4 + b + 1)::INT], vb.v[(f * 4 + b + 1)::INT]))::BIGINT)),
       |        (a2, x) -> a2 + x) <= 6))::BIGINT AS matched_frames
       |  FROM cand JOIN d_bv va ON va.doc_id = cand.delta_id
       |            JOIN bv vb ON vb.doc_id = cand.idx_id),
       |m AS (SELECT delta_id, count(*)::BIGINT AS nm, max(matched_frames) AS bf
       |  FROM mf WHERE matched_frames >= 2 GROUP BY delta_id)
       |SELECT d.doc_id AS delta_id, coalesce(nm, 0)::BIGINT AS n_matches,
       |  coalesce(bf, 0)::BIGINT AS best_frames, nm IS NULL AS is_new
       |FROM d_corpus d LEFT JOIN m ON m.delta_id = d.doc_id
       |ORDER BY delta_id""".stripMargin
  }

  /** q139b oracle: band rows = 12 bands × (base + twin) video docs. */
  val videoIndexBuildSql: String =
    """SELECT (12 * 2 * count(*))::BIGINT AS n_band_rows FROM documents
      |WHERE doc_id % 3 = 2 AND length(text) >= 216""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_media_features" -> ((s, d) => mediaFeatures(s, d)),
    "q30_media_stats"    -> ((s, d) => mediaStats(s, d)),
    "q107_image_dedup"   -> ((s, d) => imageDedup(s, d)),
    "q110_image_keep"    -> ((s, d) => imageKeep(s, d)),
    "q111_video_dedup"   -> ((s, d) => videoDedup(s, d)),
    "q113_audio_dedup"   -> ((s, d) => audioDedup(s, d)),
    "q117_crossmodal"    -> ((s, d) => crossModalAudit(s, d)),
    "q136_media_index_probe" -> ((s, d) => {
      val path = mediaIndexPathFor(d)
      if (!IndexLifecycle.exists(s, mediaFamily, path))
        buildMediaIndex(s, d, path)
      mediaIndexProbeStored(s, d, path)
    }),
    "q136b_media_index_build" -> ((s, d) => {
      import s.implicits._
      Seq(buildMediaIndex(s, d, mediaIndexPathFor(d))).toDF("n_band_rows")
    }),
    "q137_media_index_forget" -> ((s, d) => mediaIndexForget(s, d)),
    "q138_audio_index_probe" -> ((s, d) => {
      val path = mediaIndexScratch("q138", d)
      if (!IndexLifecycle.exists(s, mediaFamily, path))
        buildAudioIndex(s, d, path)
      audioIndexProbeStored(s, d, path)
    }),
    "q138b_audio_index_build" -> ((s, d) => {
      import s.implicits._
      Seq(buildAudioIndex(s, d, mediaIndexScratch("q138", d)))
        .toDF("n_band_rows")
    }),
    "q139_video_index_probe" -> ((s, d) => {
      val path = mediaIndexScratch("q139", d)
      if (!IndexLifecycle.exists(s, mediaFamily, path))
        buildVideoIndex(s, d, path)
      videoIndexProbeStored(s, d, path)
    }),
    "q139b_video_index_build" -> ((s, d) => {
      import s.implicits._
      Seq(buildVideoIndex(s, d, mediaIndexScratch("q139", d)))
        .toDF("n_band_rows")
    }),
  )

  def oracle: Map[String, String] = Map(
    "q29_media_features" -> mediaFeaturesSql,
    "q30_media_stats"    -> mediaStatsSql,
    "q107_image_dedup"   -> imageDedupSql,
    "q110_image_keep"    -> imageKeepSql,
    "q111_video_dedup"   -> videoDedupSql,
    "q113_audio_dedup"   -> audioDedupSql,
    "q117_crossmodal"    -> crossModalAuditSql,
    "q136_media_index_probe" -> mediaIndexProbeSql,
    "q136b_media_index_build" -> mediaIndexBuildSql,
    "q137_media_index_forget" -> mediaIndexForgetSql,
    "q138_audio_index_probe" -> audioIndexProbeSql,
    "q138b_audio_index_build" -> audioIndexBuildSql,
    "q139_video_index_probe" -> videoIndexProbeSql,
    "q139b_video_index_build" -> videoIndexBuildSql,
  )
}
