package graft.streaming

import java.sql.Timestamp

import graft.{LineOps, Serde, TextAnalysis, TextOps}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One Slack-ish event for A1 state tracking. (Top-level: Spark's state
  * encoder codegen requires a no-outer-pointer constructor.) */
case class ThreadEvent(channel: String, ts: Timestamp, thread_ts: Option[String])
/** Emitted once per newly-seen (channel, thread) key. */
case class ThreadSeen(thread_key: String, first_ts: Timestamp)
private[streaming] case class SeenState(firstTsMs: Long)

/** Input/output/state rows for [[StreamingOps.packStream]] (q68's twin).
  * `maxDocId` guards the fold against SOURCE-level duplicate delivery —
  * the same contract HistoryMsg meets with id-dedup. */
case class PackDoc(source: String, doc_id: Long, n_chars: Long)
case class PackAssign(source: String, doc_id: Long, seq_no: Long, offset_chars: Long)
private[streaming] case class PackState(seqNo: Long, fill: Long, maxDocId: Long)

/** Input/output/state rows for [[StreamingOps.frequentLines]] (q69's
  * twin). One occurrence of `line` in document `doc_id`; the state is
  * TWO scalars per distinct line (running document frequency + the
  * highest doc_id counted), so state size is O(|distinct lines|) with
  * O(1) bytes per line — never O(corpus). */
/** Cluster-membership row for the online canonical-keeper fold (q70's
  * streaming twin): a document's cluster key (exact-SimHash signature),
  * id, and content length. */
case class KeepDoc(simhash: Long, doc_id: Long, n_chars: Long)
/** A keeper REVISION: cluster `simhash`'s canonical doc is now
  * `keep_doc_id`. Downstream takes the latest row per cluster. */
case class KeeperChange(simhash: Long, keep_doc_id: Long, n_chars: Long)
private[streaming] case class KeepState(keepId: Long, nChars: Long)

/** One metric event for the online A/B monitor (q76's streaming twin):
  * variant `v` (0/1) is assigned upstream by the same md5 rule as the
  * batch query. `event_id` carries the packStream-style in-order
  * id-dedup contract. */
case class AbEvent(event_type: String, event_id: Long, value: Double, v: Long)
/** One monitor report per (event_type, micro-batch): the Welch t over
  * EVERYTHING delivered so far. `rev` increments per emission —
  * downstream keeps the max-rev row per key. `dropped` counts arrivals
  * discarded by the id-dedup high-water mark: under the documented
  * in-order delivery contract those are exactly the replays, so a
  * value that keeps growing while the source claims no redelivery is
  * the observable signature of OUT-OF-ORDER delivery (which this
  * monitor would otherwise silently misread as replay). */
case class AbReport(event_type: String, rev: Long, n_a: Long, n_b: Long,
                    mean_a: Double, mean_b: Double, var_a: Double,
                    var_b: Double, t_stat: Double, dof: Double,
                    significant: Boolean, dropped: Long)
private[streaming] case class AbState(rev: Long, maxId: Long,
  nA: Long, nB: Long,
  sumA: java.math.BigDecimal, sumB: java.math.BigDecimal,
  ssqA: java.math.BigDecimal, ssqB: java.math.BigDecimal,
  dropped: Long)

/** One event for the online conversion monitor (q77's streaming twin):
  * the (event_type, user_id) pair is the conversion grain; `v` is the
  * md5 variant (assigned upstream, the batch rule); `event_id` carries
  * the in-order id-dedup contract. */
case class ChiPair(event_type: String, user_id: Long, event_id: Long, v: Long)
/** Experiment design constants for the online chi-square: fit OFFLINE
  * on a reference window ([[graft.RelOps.fitChiDesign]] — the
  * fitCellCodebook fit-then-stream discipline) because both are
  * cross-key aggregates a per-type monitor cannot see: `bar` is the
  * batch query's data-relative conversion bar (global mean events per
  * (type, user) pair) and `nA`/`nB` the per-variant exposed-user
  * totals. */
case class ChiDesign(bar: Double, nA: Long, nB: Long)
/** One monitor report per (event_type, micro-batch): the 2×2
  * chi-square over everything delivered so far. Same rev / dropped
  * contract as [[AbReport]]. */
case class ChiReport(event_type: String, rev: Long, n_a: Long, n_b: Long,
                     conv_a: Long, conv_b: Long, chi_sq: Double,
                     significant: Boolean, dropped: Long)
private[streaming] case class ChiUser(c: Long, v: Long, crossed: Boolean)
private[streaming] case class ChiState(rev: Long, maxId: Long,
  convA: Long, convB: Long, users: Map[Long, ChiUser], dropped: Long)

/** One event for the online PSI drift monitor (q94's streaming twin):
  * value lands in a weekly bin; `event_id` carries the in-order
  * id-dedup contract the other monitors use. */
case class PsiEvent(event_type: String, event_id: Long, ts_us: Long, value: Double)
/** The fixed binning frame for the online PSI: global value extremes,
  * fit OFFLINE ([[graft.RelOps.fitPsiDesign]]) — a cross-key aggregate
  * a per-type monitor cannot see (the fitChiDesign discipline). */
case class PsiDesign(vmin: Double, vmax: Double)
/** One report per (event_type, consecutive-week pair, micro-batch) —
  * the batch q94 row plus the rev/dropped monitor contract. */
case class PsiReport(event_type: String, rev: Long, week_from: Long,
                     week_to: Long, n_from: Long, n_to: Long, psi: Double,
                     drift: Boolean, dropped: Long)
private[streaming] case class PsiState(rev: Long, maxId: Long,
  weeks: Map[Long, Seq[Long]], dropped: Long)

/** One cell-routed re-embedded vector for the online drift monitor
  * (q125's streaming twin) — rows are pre-assigned STATELESSLY via
  * [[graft.Similarity.kmeansAssignVerdict]] (the batch graft_km_best
  * assignment over a one-row codebook); `vec_id` carries the
  * in-order id-dedup contract the other monitors use. */
case class DriftEvent(vec_id: Long, cid: Int)
/** The frozen base population for the online drift PSI: the k
  * cid-indexed base cell counts, fit OFFLINE
  * ([[graft.Similarity.fitDriftDesign]]) — the reference frame the
  * candidate re-embed is compared against (the PsiDesign discipline). */
case class DriftDesign(baseCounts: Array[Long])
/** One report per micro-batch: the batch q125 summary (psi over the
  * re-embed counts seen so far vs the frozen base shares) plus the
  * rev/dropped monitor contract. */
case class DriftReport(rev: Long, n_base: Long, n_reembed: Long,
                       psi: Double, drift: Boolean, dropped: Long)
private[streaming] case class DriftState(rev: Long, maxId: Long,
  counts: Seq[Long], dropped: Long)

/** One retrieval request for the online lexical-serving leg (q132's
  * streaming twin): a query id plus its term set — the shape a search
  * frontend actually emits. Replays (a query_id already served) emit
  * nothing, the packStream id-dedup contract. */
case class LexQuery(query_id: Long, terms: Seq[String])
/** One ranked hit of one served query. */
case class LexHit(query_id: Long, rank: Int, doc_id: Long, bm25: Double)
private[streaming] case class LexServeState(served: Long)

/** One hybrid retrieval request for the online q133 serving leg: a
  * query id, its term set (the lexical side) and its embedding (the
  * dense side) — the shape a hybrid search frontend emits. */
case class HybridQuery(query_id: Long, terms: Seq[String], embedding: Array[Float])
/** One fused hit of one served hybrid query. */
case class HybridHit(query_id: Long, rank: Int, item_id: Long,
                     n_lists: Long, rrf: Double)

/** One tokenized document for the online trending-tokens monitor
  * (q93's streaming twin); `doc_id` carries the id-dedup contract. */
case class TrendDoc(source: String, doc_id: Long, toks: Array[String])
/** One summary entry per (source, micro-batch): a Misra-Gries counter
  * with the stream length — the q93 guarantee holds against (est, n)
  * at any revision. Same rev/dropped contract as the other monitors. */
case class TrendReport(source: String, rev: Long, tok: String, est: Long,
                       n: Long, dropped: Long)
private[streaming] case class TrendState(rev: Long, maxId: Long, n: Long,
  cnt: Map[String, Long], dropped: Long)

/** A vector routed to its coarse cell — input to the online semantic-
  * dedup fold (q75's streaming twin). Produced by
  * [[graft.Similarity.assignCells]] (stateless closure-codebook
  * scoring, bit-identical to the batch assignment). */
case class SemVec(cell: Int, vec_id: Long, e: Array[Double], nrm: Double)
/** One verdict per vector, mirroring the batch q75 columns. */
case class SemVerdict(vec_id: Long, c_label: Int, dup_of: Option[Long],
                      max_cos: Option[Double], keep: Boolean)
/** Per-cell exemplar: EVERY vector seen (kept AND dropped) — the batch
  * pair relation ranges over all smaller-id members, not just keeps, so
  * exact batch equality requires the full cell history. */
private[streaming] case class SemEx(id: Long, e: Seq[Double], nrm: Double)
private[streaming] case class SemState(ex: List[SemEx])

case class LineOcc(line: String, doc_id: Long)
/** Emitted ONCE, in the micro-batch where `line`'s accumulated document
  * frequency first reaches the threshold. `df` is the count at crossing
  * time (≥ threshold; can exceed it when one batch jumps the bar). */
case class FrequentLine(line: String, df: Long)
private[streaming] case class LineFreqState(df: Long, maxDocId: Long)

/** One history message for A2/A3 rolling context. `id` is the message's
  * unique identity (Slack ts string / Kafka offset) — state inserts dedup
  * on it so at-least-once replays are idempotent. */
case class HistoryMsg(key: String, tsMs: Long, id: String, user: String, text: String)
/** Rolling context emitted per key update. */
case class HistoryContext(key: String, context: String, n_msgs: Int)
private[streaming] case class HistoryBuf(msgs: Vector[(Long, String, String)])

/** The reference's three service legs as Structured Streaming transforms
  * (SURVEY.md §2.1-§2.2, §2.8). Every transform is source-agnostic: it
  * takes a DataFrame that may come from MemoryStream (tests), files, or
  * Kafka (`spark.readStream.format("kafka").option("subscribe","technews")
  * .option("startingOffsets","earliest")` — S4/ST6; the connector jar is
  * not in this container, so tests drive MemoryStream), and reuses the
  * SAME batch Column functions verified by the DuckDB oracle — one code
  * path for both modes is the point of Structured Streaming.
  *
  * Delivery semantics vs the reference (ST4/ST5): checkpointed sources +
  * foreachBatch sinks give at-least-once, matching the producer's
  * send-then-mark-seen (`Producer/kafkaProducer.js:208-218`) and beating
  * the consumer's swallow-errors at-most-once Slack leg
  * (`Consumer/kafkaConsumer.js:145-147`).
  */
object StreamingOps {

  /** Producer leg (S1→T*→Z1→K1, `kafkaProducer.js:79-232`): raw email
    * records → subject styling + body cleaning → Avro-encoded `value`
    * ready for a Kafka sink. Trigger in the reference is a 10-minute
    * processing-time poll (ST1) — callers pass
    * `Trigger.ProcessingTime("10 minutes")` at `writeStream` time. */
  def producerTransform(raw: DataFrame): DataFrame =
    raw.select(
      col("seqno"),
      TextOps.subjectStyle(col("subject")).as("subject"),
      TextOps.cleanBody(col("body")).as("body"))
      .select(
        col("seqno"),
        Serde.toAvroEmail(col("seqno"), col("subject"), col("body")).as("value"))

  /** Consumer leg (S4→Z2→W1→W2→W3, `kafkaConsumer.js:51-148`): Avro
    * `value` → decode with drop-on-corrupt → hyperlink headings → chunk →
    * Block Kit section rows for the Slack sink. */
  def consumerTransform(withValue: DataFrame): DataFrame = {
    val decoded = withValue
      .select(Serde.fromAvroEmail(col("value")).as("email"))
      .filter(col("email").isNotNull)   // Z2 malformed-record drop
      .select(col("email.seqno").as("seqno"),
              col("email.subject").as("subject"),
              col("email.body").as("body"))
    val linked = decoded.withColumn("body_linked",
      LineOps.hyperlinkHeadingsHof("body"))
    LineOps.blockKitRows(linked, "seqno", "subject", "body_linked", maxLen = 2900)
  }

  /** K2 — the Slack-webhook payload: ONE JSON document per record with
    * the Block Kit structure the reference posts
    * (`Consumer/kafkaConsumer.js:123-143`): a subject section followed by
    * one section per body chunk, `{"blocks":[{type,text:{type,text}}…]}`.
    * Built per row with array/struct/transform + to_json — stateless, so
    * it streams in append mode with no aggregation state. Feed to
    * [[foreachBatchHttpSink]] (tests capture the posts). */
  def blockKitPayload(df: DataFrame, idCol: String, subjectCol: String,
                      bodyCol: String, maxLen: Int): DataFrame = {
    def section(text: org.apache.spark.sql.Column) = struct(
      lit("section").as("type"),
      struct(lit("mrkdwn").as("type"), text.as("text")).as("text"))
    df.select(col(idCol), to_json(struct(
      concat(
        array(section(concat(lit("*Subject:* "), col(subjectCol), lit("\n*Body:*")))),
        transform(LineOps.chunkBlocks(bodyCol, maxLen), c => section(c)))
        .as("blocks"))).as("payload"))
  }

  /** K2/K3 delivery shape: at-least-once via checkpointed foreachBatch —
    * the batch id + an idempotent consumer give the reference's
    * send-then-ack semantics without its swallow-errors data loss
    * (`Consumer/kafkaConsumer.js:117-148`).
    *
    * Posting happens ON THE EXECUTORS via foreachPartition: `mkClient` is
    * a serializable factory invoked once per partition, so the HTTP client
    * is amortized across the partition's rows (same rule as the MediaOps
    * decoders) and delivery parallelism scales with partitions. Nothing is
    * ever collected to the driver — a fat micro-batch streams through
    * executor memory row by row. */
  def foreachBatchHttpSink(payloads: DataFrame, mkClient: () => (Long, String) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    payloads.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.select("payload").foreachPartition {
          (it: Iterator[org.apache.spark.sql.Row]) =>
            val post = mkClient()
            it.foreach(r => post(batchId, r.getString(0)))
        }
    }

  /** K3 — threaded chat.postMessage payload (`slackEventServer.js:97-101`,
    * `:136-139`): the reply targets the thread when `thread_ts` is
    * present. `to_json` omits null fields, so an unthreaded reply simply
    * carries no `thread_ts` key — the reference's conditional as a
    * stateless per-row projection (append-mode streamable, feeds
    * [[foreachBatchHttpSink]]). */
  def threadedReplyPayload(df: DataFrame, channelCol: String, textCol: String,
                           threadTsCol: String): DataFrame =
    df.select(to_json(struct(
      col(channelCol).as("channel"),
      col(textCol).as("text"),
      col(threadTsCol).as("thread_ts"))).as("payload"))

  /** Write one micro-batch's `value` column as deterministic segment
    * files: `b{batchId}-p{partition}.seg`, temp-file + atomic rename.
    * Deterministic names make an at-least-once REPLAY of the same batch
    * overwrite its own files instead of duplicating records — the
    * checkpoint + idempotent-sink pairing (ST4) that upgrades the
    * reference's send-then-ack (`Producer/kafkaProducer.js:208-218`).
    * Runs on the executors (one file per partition, no driver collect). */
  def writeBatchSegments(batch: Dataset[org.apache.spark.sql.Row],
                         dir: String, batchId: Long): Unit = {
    val d0 = java.nio.file.Paths.get(dir)
    // replay guard: if THIS batch was already PUBLISHED (its .done marker
    // exists), a rewrite is legal only when it lands the same record
    // count — otherwise every later record's global offset renumbers and
    // a reader whose checkpoint committed past this batch silently skips
    // or re-reads records. Refuse loudly BEFORE mutating anything; the
    // count() re-run is paid only on this rare replay-of-published path.
    if (java.nio.file.Files.isDirectory(d0)) {
      graft.streaming.GraftLog.publishedCount(d0, batchId).foreach { published =>
        val replay = batch.count()
        require(published == replay,
          s"refusing to rewrite published batch $batchId: $published records " +
            s"on disk, replay computed $replay — rewriting would renumber " +
            "every subsequent global offset under committed readers")
      }
    }
    // replay hygiene (driver side, before the write): a failed earlier
    // attempt of THIS batch may have run with a different partition
    // count — same-name segments get overwritten below, but orphans
    // from a wider attempt would survive as duplicates. Delete the
    // batch's segments up front so a replay is a clean rewrite.
    if (java.nio.file.Files.isDirectory(d0)) {
      // un-publish first: readers must not observe the half-rewritten batch
      java.nio.file.Files.deleteIfExists(d0.resolve(f".b$batchId%08d.done"))
      val s = java.nio.file.Files.list(d0)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith(f"b$batchId%08d-p"))
          .toList.foreach(java.nio.file.Files.delete)
      } finally s.close()
    }
    // the published total rides in the .done marker (for the replay
    // guard above); counted on the executors as the rows stream past
    val written = batch.sparkSession.sparkContext.longAccumulator(
      s"graftlog-batch-$batchId-rows")
    batch.select("value").foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val d = java.nio.file.Paths.get(dir)
          java.nio.file.Files.createDirectories(d)
          // rows stream straight to the temp file — the partition is
          // never materialized in executor memory
          graft.streaming.GraftLog.writeSegment(d,
            it.map { r =>
              written.add(1L)
              java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](0))
            },
            d.resolve(f"b$batchId%08d-p$pid%05d.seg"))
        }
    }
    // publish: every partition is on disk — make the batch visible to
    // readers in one atomic step (crash before this = batch invisible,
    // replayed cleanly by the checkpoint; the at-least-once window)
    java.nio.file.Files.createDirectories(d0)
    graft.streaming.GraftLog.markBatchDone(d0, batchId, written.value)
  }

  /** K1 — Kafka-shaped sink over the [[graft.streaming.GraftLog]] segment
    * log: the stream's Avro `value` column lands in offset-ordered
    * segments a GraftLogSource (or any consumer) replays from earliest. */
  def foreachBatchLogSink(values: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    values.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeBatchSegments(batch, dir, batchId)
    }

  /** ST2/ST3 (extension — the reference's Flink file is empty): event-time
    * tumbling counts with a watermark bounding state. */
  def windowedCounts(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** Sliding windows over event time — the streaming twin of batch q45
    * (10-minute width, 5-minute slide: every event lands in 2 windows,
    * bounded width/slide amplification before the keyed state update). */
  def slidingCounts(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming twin of q65 (approx distinct users): HLL++ sketches are
    * the ONLY viable distinct-count state for an unbounded stream — an
    * exact streaming countDistinct would hold every id in the state
    * store, unbounded; the sketch is fixed-size and mergeable, so
    * map-side partials combine into windowed state exactly as they
    * combine across a 1000-executor batch job. Same rsd contract as the
    * batch query, pinned by StreamingSpec against exact per-window
    * counts computed batch-side over the identical input. */
  def windowedApproxDistinct(events: DataFrame, watermarkDelay: String,
                             rsd: Double): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"),
           count(lit(1)).as("n_events"))

  /** Streaming twin of q64 (approx length quantiles): percentile_approx's
    * bounded GK sketch as windowed streaming state — the per-window
    * median report a 100 TB ingest pipeline emits continuously. Same
    * ε = 1/accuracy rank contract as the batch query; StreamingSpec
    * validates each emitted p50 against the exact per-window value set
    * with the tie-safe two-sided rank check. */
  def windowedApproxQuantile(docs: DataFrame, watermarkDelay: String,
                             accuracy: Int): DataFrame =
    docs
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "10 minutes"), col("lang"))
      .agg(expr(s"percentile_approx(n_chars, 0.5, $accuracy)").as("p50_approx"),
           count(lit(1)).as("n_docs"),
           min(col("n_chars")).as("min_chars"),
           max(col("n_chars")).as("max_chars"))

  /** Session windows over event time — the streaming twin of the batch
    * sessionize query (q08), 30-minute gap. */
  def sessionCounts(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Stream-stream join with event-time bounds — the streaming twin of
    * the batch range join (q36): each purchase joins clicks by the same
    * user within the preceding `windowMinutes`. Both sides carry
    * watermarks and the join condition bounds click time relative to
    * purchase time, so Spark can evict click state once the watermark
    * passes the window — state stays proportional to the window, not the
    * stream. (At 100 TB-scale state, configure the RocksDB state store
    * provider; the operator is unchanged.) */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        watermarkDelay: String, windowMinutes: Int): DataFrame = {
    val c = clicks.withWatermark("c_ts", watermarkDelay)
    val p = purchases.withWatermark("p_ts", watermarkDelay)
    p.join(c,
      expr(s"""p_user_id = c_user_id AND
              |c_ts > p_ts - INTERVAL $windowMinutes MINUTES AND
              |c_ts <= p_ts""".stripMargin))
  }

  /** A2/A3 as a streaming operator — rolling last-K history per key with
    * ordered string context (the reference refetches the last 100
    * messages from Slack per event, `slackEventServer.js:187-221`; the
    * streaming-native form keeps a bounded per-key buffer in the state
    * store instead of re-reading). Emits (key, context, n_msgs) after
    * each update; state is capped at `k` messages per key, so it cannot
    * grow with stream length.
    *
    * Replay-idempotent under at-least-once delivery: inserts dedup on the
    * message id (a replayed micro-batch re-inserting the same ids is a
    * no-op), and ordering is by (tsMs, id) so equal-timestamp ties are
    * deterministic regardless of arrival order. */
  def rollingHistory(msgs: Dataset[HistoryMsg], k: Int): Dataset[HistoryContext] = {
    import msgs.sparkSession.implicits._
    msgs
      .groupByKey(_.key)
      .mapGroupsWithState[HistoryBuf, HistoryContext](
        GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[HistoryMsg], state: GroupState[HistoryBuf]) =>
          val prev = if (state.exists) state.get.msgs else Vector.empty
          val seen = prev.map(_._2).toSet
          val fresh = it.filter(m => !seen.contains(m.id))
            .map(m => (m.tsMs, m.id, m.user + ": " + m.text)).toVector
            .distinctBy(_._2)
          val all = (prev ++ fresh)
            .sortBy(m => (m._1, m._2)).takeRight(k) // top-K by recency, ascending
          state.update(HistoryBuf(all))
          HistoryContext(key, all.map(_._3).mkString("\n"), all.size)
      }
  }

  /** Streaming twin of q67 (temperature source mixing): the rate table —
    * computed in batch over corpus stats (TextAnalysis.temperatureRates),
    * tiny by definition — joins the live document stream as a BROADCAST
    * static frame, and the keep/drop decision is the same deterministic
    * md5-bucket predicate. Statelessness is the point: a replayed
    * micro-batch (at-least-once delivery) makes byte-identical keep
    * decisions, so the sampled stream is replay-idempotent with no
    * dedup state.
    *
    * Sources MISSING from the rate table (they appeared on the stream
    * after the batch stats ran) are NOT silently dropped — an inner
    * join would discard them with no audit trail. They take
    * `defaultKeepMicro`, the same explicit-default shape as q51's
    * CASE ... ELSE rate.
    *
    * The rate table's columns are renamed to the reserved
    * `__graft_mix_*` prefix before the join: a stream frame that itself
    * carries a `keep_micro` or `w` column would otherwise hit an
    * ambiguous-reference AnalysisException (or be silently overwritten
    * by the withColumn). Only the reserved prefix is off-limits to
    * callers. */
  def mixStream(docs: DataFrame, rates: DataFrame,
                defaultKeepMicro: Long = 0L): DataFrame = {
    val r = broadcast(rates.select(
      col("source").as("__graft_mix_source"),
      col("keep_micro").as("__graft_mix_keep")))
    docs.join(r, col("source") === col("__graft_mix_source"), "left")
      .filter(expr(s"${graft.TextAnalysis.keepBucketSql} < " +
        s"coalesce(__graft_mix_keep, ${defaultKeepMicro}L)"))
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  /** Streaming twin of q68 (greedy sequence packing): the next-fit fold
    * as keyed state — (seq_no, fill) per source carries ACROSS
    * micro-batches, so a partially-filled training sequence is continued
    * by the next batch's documents (the online batch-assembly loop a
    * continuous ingest pipeline runs; the batch query is the backfill
    * form of the same fold, TextAnalysis.sequencePack). Within a batch,
    * documents pack in doc_id order (sorted in the group iterator —
    * micro-batch arrival order is not a semantic); the per-source state
    * is THREE scalars, so state size is O(|sources|) regardless of
    * stream length — no eviction needed.
    *
    * Delivery semantics: ENGINE replays are consistent for free (the
    * state store versions per micro-batch; a failed batch retries from
    * the uncommitted snapshot and re-emits identical rows for an
    * idempotent sink). SOURCE-level duplicates would double-fold the
    * fill, so state carries `maxDocId` and docs at or below it are
    * dropped — the HistoryMsg id-dedup contract. Flip side: ordered
    * ingest is required; a doc arriving with a LOWER id than one
    * already packed for its source reads as a duplicate. Late
    * stragglers belong to the batch/backfill form, not the online
    * fold. */
  def packStream(docs: Dataset[PackDoc], budget: Long): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[PackState, PackAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src: String, it: Iterator[PackDoc], state: GroupState[PackState]) =>
          var st = if (state.exists) state.get else PackState(0L, 0L, Long.MinValue)
          // source-duplicate guard, BOTH halves of the HistoryMsg
          // id-dedup contract: maxDocId drops cross-batch redeliveries,
          // distinctBy drops same-batch ones (sorted first, so the first
          // occurrence is kept) — without it a doc delivered twice in
          // one micro-batch double-counts its n_chars into `fill` and
          // corrupts every later offset for the source.
          val out = it.toVector.sortBy(_.doc_id)
            .distinctBy(_.doc_id)
            .filter(_.doc_id > st.maxDocId)
            .map { d =>
              var seqNo = st.seqNo
              var fill = st.fill
              if (fill > 0L && fill + d.n_chars > budget) { seqNo += 1L; fill = 0L }
              val off = fill
              st = PackState(seqNo, fill + d.n_chars, d.doc_id)
              PackAssign(src, d.doc_id, seqNo, off)
            }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming twin of q70 (canonical selection): the per-cluster keeper
    * tracked ONLINE as keyed state, so a continuously-ingesting dedup
    * pipeline always knows each cluster's current canonical document
    * instead of waiting for a backfill argmax. Grouping key is the
    * exact-SimHash signature; state per cluster is TWO scalars (current
    * keeper id + its length). A batch emits a `KeeperChange` row for a
    * cluster only when its keeper actually changes — the first member
    * seen, or a strictly better one (longer, or equal-length with a
    * LOWER id, the q70 tie-break). Downstream consumes revisions
    * last-write-wins per cluster; the batch simhashKeep is the backfill
    * form producing the same final keeper over the same deliveries.
    *
    * Replay-idempotent by construction, with NO id-dedup contract
    * needed (unlike packStream/frequentLines): the keeper fold is a
    * monotone max, so redelivering any already-seen document — keeper
    * included — can never beat the current keeper strictly and never
    * re-emits. Arrival order within or across batches is irrelevant for
    * the final keeper; only the revision COUNT depends on order (worst
    * case one revision per batch per cluster).
    *
    * At scale: state is O(|distinct clusters|) at two scalars each and
    * shards by signature across executors — the same one-keyed-exchange
    * shape as the batch window argmax; corpus text never enters state.
    *
    * State BOUNDING: with the default `idleTtlMillis = 0` state is
    * O(|distinct clusters ever seen|) — exact, but unbounded on an
    * unbounded stream. A positive TTL evicts any cluster not sighted
    * for that long (processing-time timeout; each sighting refreshes
    * it), bounding state to the active-cluster set. The error
    * direction is benign here — more so than frequentLines' set
    * contract: an evicted cluster that re-sights restarts keeper
    * tracking and EMITS its next member as a fresh revision, and since
    * downstream is last-write-wins per cluster anyway, the worst case
    * is a temporarily shorter keeper (a near-dup survives that the
    * full-history fold would have folded), never a lost document. */
  def keepStream(docs: Dataset[KeepDoc],
                 idleTtlMillis: Long = 0L): Dataset[KeeperChange] = {
    import docs.sparkSession.implicits._
    val timeoutConf =
      if (idleTtlMillis > 0L) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    docs
      .groupByKey(_.simhash)
      .flatMapGroupsWithState[KeepState, KeeperChange](
        OutputMode.Append(), timeoutConf) {
        (sig: Long, it: Iterator[KeepDoc], state: GroupState[KeepState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            def better(nChars: Long, id: Long, st: KeepState): Boolean =
              nChars > st.nChars || (nChars == st.nChars && id < st.keepId)
            // batch-best first: one state comparison per batch, not per row
            val best = it.reduceOption { (a, b) =>
              if (b.n_chars > a.n_chars ||
                  (b.n_chars == a.n_chars && b.doc_id < a.doc_id)) b else a
            }
            val out = best match {
              case Some(d) if !state.exists ||
                  better(d.n_chars, d.doc_id, state.get) =>
                state.update(KeepState(d.doc_id, d.n_chars))
                Iterator.single(KeeperChange(sig, d.doc_id, d.n_chars))
              case _ => Iterator.empty
            }
            // any sighting refreshes the idle TTL, displacing or not
            // (after the update — a timeout needs present state)
            if (idleTtlMillis > 0L && state.exists)
              state.setTimeoutDuration(idleTtlMillis)
            out
          }
      }
  }

  /** Streaming twin of q76 (A/B experiment analysis): the sequential
    * experiment MONITOR — per event_type, maintain exact per-variant
    * moment sums as keyed state and emit the updated Welch t /
    * Welch–Satterthwaite dof after every micro-batch, so an experiment
    * dashboard reads a running significance test instead of waiting for
    * a batch backfill.
    *
    * EXACTNESS: state accumulates value and value² as BigDecimal at the
    * batch cast's exact semantics (BigDecimal.valueOf(double) — the
    * toString-shortest representation Spark's double→DECIMAL cast uses —
    * setScale(6, HALF_UP), mirroring CAST(value AS DECIMAL(25,6))), so
    * decimal addition is order-independent and after all deliveries the
    * state sums EQUAL the batch q76 DECIMAL sums; the derived doubles
    * then run the identical arithmetic chain → the final report matches
    * the batch row EXACTLY (StreamingSpec). Under-populated groups
    * (either variant < 2) report zeros until they fill.
    *
    * Replay: the packStream id-dedup contract — events at or below the
    * key's high-water event_id are ignored, so redelivering a batch
    * changes nothing but the revision counter. Requires per-key
    * id-ordered delivery for exactness (the log-offset order a
    * Kafka-shaped source provides).
    *
    * At scale: state is EIGHT scalars per event_type — never events —
    * and the per-batch fold is the same map-side-combine shape as the
    * batch aggregate. */
  def abTestStream(events: Dataset[AbEvent]): Dataset[AbReport] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[AbState, AbReport](GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[AbEvent], state: GroupState[AbState]) =>
          val z = java.math.BigDecimal.ZERO
          var st = if (state.exists) state.get
                   else AbState(0L, Long.MinValue, 0L, 0L, z, z, z, z, 0L)
          def d6(x: Double): java.math.BigDecimal =
            java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
          val arrivals = it.toArray
          // discarded = at-or-below-high-water replays across batches
          // PLUS duplicate ids within this batch (both redelivery shapes
          // an at-least-once source can produce — distinctBy keeps the
          // first of an id after the sort, so a same-batch redelivery
          // counts once, exactly like a cross-batch one); a growing
          // count WITHOUT source redelivery flags out-of-order delivery
          // (see AbReport.dropped)
          val fresh = arrivals.filter(_.event_id > st.maxId)
            .sortBy(_.event_id).distinctBy(_.event_id)
          st = st.copy(dropped = st.dropped + (arrivals.length - fresh.length))
          fresh.foreach { e =>
            st =
              if (e.v == 0L)
                st.copy(maxId = e.event_id, nA = st.nA + 1L,
                  sumA = st.sumA.add(d6(e.value)),
                  ssqA = st.ssqA.add(d6(e.value * e.value)))
              else
                st.copy(maxId = e.event_id, nB = st.nB + 1L,
                  sumB = st.sumB.add(d6(e.value)),
                  ssqB = st.ssqB.add(d6(e.value * e.value)))
          }
          st = st.copy(rev = st.rev + 1L)
          state.update(st)
          def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
          val (na, nb) = (st.nA, st.nB)
          if (na < 2L || nb < 2L)
            AbReport(key, st.rev, na, nb, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
              significant = false, dropped = st.dropped)
          else {
            // the batch q76 arithmetic chain, operation for operation —
            // including its zero-pooled-variance sentinel (both variants
            // constant ⇒ t/dof emit 0.0, never Inf/NaN)
            val sa = st.sumA.doubleValue; val sb2 = st.sumB.doubleValue
            val qa = st.ssqA.doubleValue; val qb = st.ssqB.doubleValue
            val ma = sa / na; val mb = sb2 / nb
            val va = (qa - sa * sa / na) / (na - 1)
            val vb = (qb - sb2 * sb2 / nb) / (nb - 1)
            val pooled = va / na + vb / nb
            val t = if (pooled > 0) (ma - mb) / math.sqrt(pooled) else 0.0
            val dof = if (pooled > 0)
              pooled * pooled /
                ((va / na) * (va / na) / (na - 1) +
                 (vb / nb) * (vb / nb) / (nb - 1))
              else 0.0
            AbReport(key, st.rev, na, nb, q6(ma), q6(mb), q6(va), q6(vb),
              q6(t), q6(dof), significant = math.abs(t) > 1.96,
              dropped = st.dropped)
          }
      }
  }

  /** Streaming twin of q77 (categorical A/B conversion chi-square): the
    * online monitor an experiment dashboard runs while q77 is its
    * backfill. Keyed by event_type; per-key state tracks each exposed
    * user's event count for that type (`users` map) plus EXACT-LONG
    * conversion cells. The conversion bar and the per-variant exposure
    * totals are DESIGN CONSTANTS fit offline ([[graft.RelOps
    * .fitChiDesign]] — the fit-then-stream discipline of
    * fitCellCodebook/fitBigramLm), because both are cross-key
    * aggregates a per-type monitor cannot observe.
    *
    * EQUALS batch q77 after full delivery, independent of micro-batch
    * boundaries: counts are monotone and the bar fixed, so a pair
    * crosses the bar exactly once and the final crossed set is exactly
    * {pairs with total count > bar} — the batch cells. The chi-square
    * emission is the batch arithmetic chain operation-for-operation
    * (double products over exact longs, zero-marginal guard, 1e6 floor
    * for display, UNROUNDED statistic for the flag).
    *
    * Replay: arrivals at or below the key's high-water event_id are
    * discarded and COUNTED (`dropped` — the AbReport observability
    * contract); stats never move on redelivery, only rev.
    *
    * At scale: state is one map entry per exposed (type, user) pair —
    * the SAME asymptotics as the batch query's pair-count exchange,
    * sharded by the state store; a pair that crossed keeps a 3-field
    * tombstone so re-arrivals cannot re-count. Production bounding is
    * the semDedupStream discipline (idle-TTL eviction; error direction:
    * an evicted pair that re-sights restarts its count — conversions
    * can only be UNDER-counted, never double-counted). */
  def abChiSqStream(pairs: Dataset[ChiPair], design: ChiDesign):
      Dataset[ChiReport] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(_.event_type)
      .mapGroupsWithState[ChiState, ChiReport](GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[ChiPair], state: GroupState[ChiState]) =>
          var st = if (state.exists) state.get
                   else ChiState(0L, Long.MinValue, 0L, 0L, Map.empty, 0L)
          val arrivals = it.toArray
          // cross-batch replays AND same-batch duplicate ids both drop
          // (and count) — the abTestStream dedup contract
          val fresh = arrivals.filter(_.event_id > st.maxId)
            .sortBy(_.event_id).distinctBy(_.event_id)
          st = st.copy(dropped = st.dropped + (arrivals.length - fresh.length))
          fresh.foreach { p =>
            val u = st.users.getOrElse(p.user_id, ChiUser(0L, p.v, crossed = false))
            val c = u.c + 1L
            val crosses = !u.crossed && c.toDouble > design.bar
            st = st.copy(
              maxId = p.event_id,
              convA = st.convA + (if (crosses && u.v == 0L) 1L else 0L),
              convB = st.convB + (if (crosses && u.v != 0L) 1L else 0L),
              users = st.users.updated(p.user_id,
                u.copy(c = c, crossed = u.crossed || crosses)))
          }
          st = st.copy(rev = st.rev + 1L)
          state.update(st)
          // the batch q77 chain, operation for operation
          val a = st.convA.toDouble
          val b = st.convB.toDouble
          val cc = (design.nA - st.convA).toDouble
          val dd = (design.nB - st.convB).toDouble
          val n = (design.nA + design.nB).toDouble
          val chi2 =
            if (a + b == 0.0 || cc + dd == 0.0 || a + cc == 0.0 || b + dd == 0.0) 0.0
            else n * (a * dd - b * cc) * (a * dd - b * cc) /
              ((a + b) * (cc + dd) * (a + cc) * (b + dd))
          ChiReport(key, st.rev, design.nA, design.nB, st.convA, st.convB,
            math.floor(chi2 * 1e6 + 0.5) / 1e6, significant = chi2 >= 3.841,
            dropped = st.dropped)
      }
  }

  /** q93's streaming twin: per-source trending-token summaries held as
    * Misra-Gries counters in keyed state — the bounded-memory
    * frequent-items monitor a 100 TB stream can actually afford (state
    * per key = ≤k counters + two longs, independent of stream length).
    * The fold IS the batch aggregator's reduce
    * ([[graft.TextAnalysis.MisraGries]].reduce — shared code, the
    * assignCells discipline), so the online summary carries exactly the
    * batch guarantee at every revision: any token with true count >
    * n/(k+1) for this source is present, with est ∈ [true − n/(k+1),
    * true] (spec-pinned against exact counts after full delivery).
    * Summary CONTENT is arrival-order-dependent — the guarantee, not
    * the content, is the contract (q93's verdict-pin discipline).
    * Replays freeze the summary and are counted via `dropped`. */
  def trendingStream(docs: Dataset[TrendDoc]): Dataset[TrendReport] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[TrendState, TrendReport](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[TrendDoc], state: GroupState[TrendState]) =>
          var st = if (state.exists) state.get
                   else TrendState(0L, Long.MinValue, 0L, Map.empty, 0L)
          val arrivals = it.toArray
          // cross-batch replays AND same-batch duplicate ids both drop
          // (and count) — the abTestStream dedup contract
          val fresh = arrivals.filter(_.doc_id > st.maxId)
            .sortBy(_.doc_id).distinctBy(_.doc_id)
          val buf = graft.TextAnalysis.MgBuf(st.n,
            scala.collection.mutable.HashMap(st.cnt.toSeq: _*))
          fresh.foreach { d =>
            graft.TextAnalysis.MisraGries.reduce(buf, d.toks); ()
          }
          st = TrendState(st.rev + 1L,
            if (fresh.isEmpty) st.maxId else fresh.map(_.doc_id).max,
            buf.n, buf.cnt.toMap,
            st.dropped + (arrivals.length - fresh.length))
          state.update(st)
          st.cnt.toSeq.sortBy { case (t, c) => (-c, t) }.iterator.map {
            case (tok, est) => TrendReport(key, st.rev, tok, est, st.n, st.dropped)
          }
      }
  }

  /** q94's streaming twin: per-type keyed state of weekly 10-bin
    * histograms (exact longs); every micro-batch re-emits the batch q94
    * row for each consecutive-week pair seen so far — arithmetic mirrors
    * the batch expression operation for operation (same bin formula,
    * same Laplace-smoothed shares, ln on the same doubles, the same
    * micro-quantized term sum), so once all events are delivered the
    * latest-rev report set equals batch q94 exactly. Replays (at-or-
    * below the per-type high-water id) freeze the stats and are COUNTED
    * via the `dropped` observability contract the other monitors carry.
    * State is weeks×10 longs per event_type — bounded by the stream's
    * week span, OR by `horizonWeeks` when set (r15, verdict item 7 —
    * the semDedupStream TTL discipline as an explicit caller choice):
    * only the trailing `horizonWeeks` weeks (relative to the newest
    * week seen) are retained, weeks beyond the horizon are RETIRED
    * from state (their pairs were already reported in prior
    * revisions — retirement is forgetting, not un-reporting), and a
    * beyond-horizon LATE arrival cannot resurrect a retired week with
    * partial counts: it is counted into `dropped` instead (the
    * watermark discipline, applied to the monitor's own state). */
  def psiDriftStream(events: Dataset[PsiEvent], design: PsiDesign,
                     horizonWeeks: Option[Int] = None): Dataset[PsiReport] = {
    import events.sparkSession.implicits._
    horizonWeeks.foreach(h => require(h >= 2,
      s"psiDriftStream: a comparison horizon needs >= 2 weeks, got $h"))
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[PsiState, PsiReport](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[PsiEvent], state: GroupState[PsiState]) =>
          var st = if (state.exists) state.get
                   else PsiState(0L, Long.MinValue, Map.empty, 0L)
          val arrivals = it.toArray
          // cross-batch replays AND same-batch duplicate ids both drop
          // (and count) — the abTestStream dedup contract
          val fresh = arrivals.filter(_.event_id > st.maxId)
            .sortBy(_.event_id).distinctBy(_.event_id)
          st = st.copy(dropped = st.dropped + (arrivals.length - fresh.length))
          // the horizon cutoff advances with the newest week anywhere in
          // sight (state or this batch) — computed BEFORE folding so a
          // stale arrival never transits through state
          val weekOf = (e: PsiEvent) => e.ts_us / 604800000000L
          val cutoff = horizonWeeks.map { h =>
            val newest = (st.weeks.keys ++ fresh.map(weekOf)).foldLeft(Long.MinValue)(_ max _)
            newest - (h - 1L)
          }
          val (inHorizon, stale) = cutoff match {
            case Some(c) => fresh.partition(e => weekOf(e) >= c)
            case None => (fresh, Array.empty[PsiEvent])
          }
          // beyond-horizon late arrivals: counted, never folded, and
          // deliberately NOT advancing the id high-water mark — a stale
          // event with a fresh id must not shadow later in-horizon
          // events with lower ids (re-delivery of the same stale event
          // re-counts into dropped, which is observability, not loss)
          st = st.copy(dropped = st.dropped + stale.length)
          inHorizon.foreach { e =>
            val wk = weekOf(e)
            // degenerate-range guard mirrors the batch CASE (a constant
            // value column bins everything to 0 on both sides)
            val b = if (design.vmax == design.vmin) 0
              else math.min(9,
                math.floor((e.value - design.vmin) * 10.0 / (design.vmax - design.vmin)).toInt)
            val bins = st.weeks.getOrElse(wk, Seq.fill(10)(0L))
            st = st.copy(maxId = st.maxId max e.event_id,
              weeks = st.weeks.updated(wk, bins.updated(b, bins(b) + 1L)))
          }
          // retire state weeks that fell out of the horizon
          cutoff.foreach(c => st = st.copy(weeks = st.weeks.filter(_._1 >= c)))
          st = st.copy(rev = st.rev + 1L)
          state.update(st)
          st.weeks.keys.toSeq.sorted.filter(w => st.weeks.contains(w + 1L))
            .iterator.map { w =>
              val f = st.weeks(w)
              val o = st.weeks(w + 1L)
              val nf = f.sum
              val nt = o.sum
              val micro = (0 until 10).map { i =>
                val pf = (f(i) + 1L) / (nf + 10L).toDouble
                val pt = (o(i) + 1L) / (nt + 10L).toDouble
                math.floor((pt - pf) * math.log(pt / pf) * 1e6 + 0.5).toLong
              }.sum
              PsiReport(key, st.rev, w, w + 1L, nf, nt,
                micro / 1e6, drift = micro >= 200000L, dropped = st.dropped)
            }
      }
  }

  /** q125's streaming twin: the candidate re-embed arrives as a stream
    * (pre-routed to cells statelessly — codebook in the closure) and
    * every micro-batch re-emits the drift report against the FROZEN
    * base shares. Arithmetic mirrors the batch q125 expression
    * operation for operation (same Laplace-smoothed shares over k=
    * baseCounts.length cells, ln on the same doubles, the same
    * micro-quantized term sum), so once the full re-embed is delivered
    * the latest report's psi equals batch q125 exactly. Replays (at or
    * below the high-water vec_id) and same-batch duplicates freeze the
    * stats and are COUNTED via the `dropped` contract. State is k longs
    * + a high-water mark — constant, the cheapest monitor state in the
    * file. */
  def embeddingDriftStream(events: Dataset[DriftEvent],
                           design: DriftDesign): Dataset[DriftReport] = {
    import events.sparkSession.implicits._
    val k = design.baseCounts.length
    events
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[DriftState, DriftReport](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, it: Iterator[DriftEvent], state: GroupState[DriftState]) =>
          var st = if (state.exists) state.get
                   else DriftState(0L, Long.MinValue, Seq.fill(k)(0L), 0L)
          // A corrupt/mis-routed event with cid outside [0, k) would
          // index past the counts vector and kill the whole monitor;
          // it is instead COUNTED into `dropped` (the same contract as
          // replays) and never advances the high-water mark.
          val (arrivals, invalid) =
            it.toArray.partition(e => e.cid >= 0 && e.cid < k)
          val fresh = arrivals.filter(_.vec_id > st.maxId)
            .sortBy(_.vec_id).distinctBy(_.vec_id)
          st = st.copy(dropped = st.dropped + invalid.length +
            (arrivals.length - fresh.length))
          fresh.foreach { e =>
            st = st.copy(maxId = e.vec_id,
              counts = st.counts.updated(e.cid, st.counts(e.cid) + 1L))
          }
          st = st.copy(rev = st.rev + 1L)
          state.update(st)
          val na = design.baseCounts.sum
          val nb = st.counts.sum
          val micro = (0 until k).map { i =>
            val pf = (design.baseCounts(i) + 1L) / (na + k).toDouble
            val pt = (st.counts(i) + 1L) / (nb + k).toDouble
            math.floor((pt - pf) * math.log(pt / pf) * 1e6 + 0.5).toLong
          }.sum
          Iterator.single(DriftReport(st.rev, na, nb,
            micro / 1e6, drift = micro >= 200000L, dropped = st.dropped))
      }
  }

  /** q132's online serving leg: retrieval requests stream against the
    * STANDING lexical index — the index parquet is the STATIC side of
    * stream-static joins, so serving never re-tokenizes the corpus.
    * Scoring is the batch [[graft.TextAnalysis.bm25MicroExpr]]
    * verbatim; the per-query top-10 folds in-task over exact longs
    * with the batch tie-break ((micro desc, doc_id) — bit-identical to
    * [[graft.TextAnalysis.bm25Score]], spec-pinned). A query's terms
    * arrive in ONE event, so all its scored rows land in its own
    * micro-batch — no cross-batch score state; the only retained state
    * is one served marker per query_id, making replays emit NOTHING
    * (the packStream id-dedup contract). Production note: per-term
    * posting lists bound the in-task fold — a serving stack caps or
    * WAND-prunes them; the probe side here is the pruned 3-bucket
    * scan, never the corpus. */
  def lexProbeStream(queries: Dataset[LexQuery], path: String,
                     servedTtlMillis: Long): Dataset[LexHit] = {
    val s = queries.sparkSession
    import s.implicits._
    // the static sides resolve the LIVE version once at stream setup and
    // read through the r19 lifecycle helpers: tombstoned docs subtracted,
    // contribution logs folded — serving re-prices idf/avgdl to the
    // population as of stream start
    val root = graft.IndexLifecycle.resolveIndexRoot(s, path)
    val postings = graft.TextAnalysis.lexPostingsOf(s, path, root)
    val dl = graft.TextAnalysis.lexDoclensOf(s, path, root)
    val qstats = graft.TextAnalysis.lexTermsOf(s, root)
      .crossJoin(graft.TextAnalysis.lexStatsOf(s, root)) // static × 1-row static
    val scored = queries
      .selectExpr("query_id", "explode(terms) as term")
      .join(postings, Seq("term"))
      .join(dl, Seq("doc_id"))
      .join(qstats, Seq("term"))
      .selectExpr("query_id", "doc_id", TextAnalysis.bm25MicroExpr)
      .as[(Long, Long, Long)]
    // served markers are per-query state a long-running serving stream
    // would otherwise retain FOREVER — the semDedupStream TTL discipline
    // applies (r15 advice): retire markers idle past the replay horizon
    // (a replay later than that re-serves, the benign error direction);
    // 0 = unbounded, callers choose explicitly (the r11 rule).
    val timeoutConf =
      if (servedTtlMillis > 0L) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    scored.groupByKey(_._1)
      .flatMapGroupsWithState[LexServeState, LexHit](
        OutputMode.Update(), timeoutConf) {
        (qid: Long, it: Iterator[(Long, Long, Long)], state: GroupState[LexServeState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            // replayed query: emit nothing — but RE-ARM the timeout
            // (Spark cancels a group's previously-set timeout on every
            // invocation, so returning without setting it would retain
            // the marker forever after any pre-TTL replay — the q69
            // "any sighting refreshes the TTL" discipline, r16 advice)
            if (servedTtlMillis > 0L) state.setTimeoutDuration(servedTtlMillis)
            Iterator.empty
          }
          else {
            val byDoc = new scala.collection.mutable.HashMap[Long, Long]()
            it.foreach { case (_, doc, micro) =>
              byDoc.update(doc, byDoc.getOrElse(doc, 0L) + micro)
            }
            state.update(LexServeState(qid))
            if (servedTtlMillis > 0L) state.setTimeoutDuration(servedTtlMillis)
            byDoc.toSeq.sortBy { case (doc, micro) => (-micro, doc) }.take(10)
              .zipWithIndex.iterator.map { case ((doc, micro), i) =>
                LexHit(qid, i + 1, doc, micro / 1e6)
              }
          }
      }
  }

  /** q134's streaming form — CONTINUOUS INGESTION into the standing
    * ANN index: each micro-batch of (vec_id, embedding) arrivals folds
    * into the artifact through the batch merge verbatim
    * ([[graft.Similarity.mergeDeltaIntoIndex]] inside foreachBatch —
    * the Structured Streaming idiom for transactional sinks Spark has
    * no connector for). Delivery semantics: the merge is IDEMPOTENT
    * (already-present ids anti-join away), so the at-least-once replay
    * a foreachBatch restart produces converges to the same artifact —
    * the segment-sink discipline, spec-pinned by streaming the same
    * delta twice and comparing the artifact to the one-shot batch
    * merge byte-for-byte. Completes the index lifecycle: q119 probes,
    * THIS ingests, q134 compacts, q135 forgets, q125 says when the
    * frozen codebook is due a refit. */
  def annIngestStream(deltas: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltas.writeStream.foreachBatch {
      (df: DataFrame, _: Long) => graft.Similarity.mergeDeltaIntoIndex(df, path)
    }

  /** [[annIngestStream]] with the r18 drift-gated auto-refit: after each
    * micro-batch's merge, the live population's cell-share PSI against
    * the fit-time frame is checked (one columnless partition-count scan
    * + k-row arithmetic) and a rebuild-and-swap fires when it crosses
    * q125's threshold — the standing index re-fits itself under
    * sustained drift instead of serving a stale codebook until an
    * operator notices. Convergent under replay: the merge is
    * idempotent, and a fired rebuild resets the reference frame so the
    * replayed batch re-measures PSI ≈ 0 and does not re-fire. */
  def annIngestStreamAutoRefit(deltas: DataFrame, path: String,
                               psiMicroThreshold: Long = 200000L):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltas.writeStream.foreachBatch {
      (df: DataFrame, _: Long) =>
        graft.Similarity.mergeDeltaIntoIndex(df, path)
        graft.Similarity.maybeRebuildAnnIndex(
          df.sparkSession, path, psiMicroThreshold): Unit
    }

  /** q136's streaming form (r17) — CONTINUOUS INGEST-DEDUP against the
    * standing PERCEPTUAL index: each micro-batch of (doc_id, media)
    * payloads folds through [[graft.MediaOps.mergeMediaBatchIntoIndex]]
    * (the [[annIngestStream]] pattern) — decode→sign→probe at the
    * index's stored width, append only the admitted-as-new rows. The
    * payloads sign as modality `m`, which must be the one the index's
    * stat records (a mismatched batch fails rather than admitting). A
    * re-encode of anything already admitted — by the base build OR by
    * an earlier micro-batch — is refused, so the standing population
    * grows online. Delivery semantics: already-stored ids anti-join
    * out, replays converge (spec-pinned by replaying a batch and
    * comparing artifact counts). */
  def mediaIngestStream(payloads: DataFrame, path: String,
                        m: graft.MediaOps.Modality = graft.MediaOps.Image):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    payloads.writeStream.foreachBatch {
      (df: DataFrame, _: Long) =>
        { graft.MediaOps.mergeMediaBatchIntoIndex(df, path, m); () }
    }

  /** [[mediaIngestStream]] from pre-hashed (doc_id, v, bk) frames — the
    * decode kernel already applied. The growth/re-pricing spec drives
    * THIS leg with constructed band keys (payloads whose dHashes collide
    * at one prefix width and split at the next are not constructible on
    * demand); the merge/trigger/compaction path is byte-identical to
    * [[mediaIngestStream]]'s. */
  private[graft] def mediaIngestHashStream(hashes: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    hashes.writeStream.foreachBatch {
      (df: DataFrame, _: Long) =>
        { graft.MediaOps.mergeHashesIntoIndex(df, path); () }
    }

  /** q137's streaming form (r17) — CONTINUOUS TAKEDOWN against the
    * standing MEDIA index: each micro-batch of requests (any frame with
    * a `doc_id` column) appends to the id-level tombstone log
    * ([[graft.MediaOps.forgetMediaFromIndex]] — idempotent, so
    * at-least-once replays converge); probes and the ingest merge
    * anti-join the log, so a takedown is effective immediately and a
    * replayed ingest batch can never resurrect a forgotten id. The
    * scheduled [[graft.MediaOps.compactMediaIndex]] makes it physical. */
  def mediaForgetStream(requests: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.foreachBatch {
      (df: DataFrame, _: Long) => { graft.MediaOps.forgetMediaFromIndex(df, path); () }
    }

  /** q142's streaming form (r19) — CONTINUOUS INGESTION into the
    * standing LEXICAL (BM25) index: each micro-batch of (doc_id, text)
    * arrivals folds through the batch merge
    * ([[graft.TextAnalysis.mergeLexBatchIntoIndex]] inside foreachBatch
    * — the annIngestStream pattern). The batchId — STABLE across
    * at-least-once replays — is the merge's segment stamp, so a replayed
    * batch either anti-joins away at the doclens registry or re-appends
    * byte-identical contribution rows the read-side fold collapses;
    * either way the artifacts converge. idf/avgdl re-price at every
    * read, so an index grown online never serves frozen statistics. */
  def lexIngestStream(docs: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (df: DataFrame, batchId: Long) =>
        { graft.TextAnalysis.mergeLexBatchIntoIndex(df, path, seg = batchId); () }
    }

  /** q143's streaming form (r19) — CONTINUOUS TAKEDOWN against the
    * standing LEXICAL index: requests append to the root tombstone log
    * plus the victims' negative statistic contributions
    * ([[graft.TextAnalysis.forgetLexFromIndex]] — idempotent; early
    * takedowns pend until the id's first arrival, the media q137
    * ordering discipline). Probes and the ingest merge anti-join the
    * log, so a takedown is effective immediately and a replayed ingest
    * batch can never resurrect a forgotten doc;
    * [[graft.TextAnalysis.compactLexIndex]] makes it physical. */
  def lexForgetStream(requests: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.foreachBatch {
      (df: DataFrame, batchId: Long) =>
        { graft.TextAnalysis.forgetLexFromIndex(df, path, seg = batchId); () }
    }

  /** q147's streaming form (r19b) — CONTINUOUS INGESTION into the
    * standing COMPRESSED (IVF-PQ) index: each micro-batch of
    * (vec_id, embedding) arrivals routes through the stored coarse frame
    * and encodes against the frozen stored codebook
    * ([[graft.Similarity.mergePqBatchIntoIndex]] inside foreachBatch).
    * Idempotent (the codes artifact is the registry), tombstone-aware. */
  def pqIngestStream(deltas: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltas.writeStream.foreachBatch {
      (df: DataFrame, _: Long) =>
        { graft.Similarity.mergePqBatchIntoIndex(df, path); () }
    }

  /** The DISTORTION-GATED AUTO-REFIT form of PQ ingestion (r19c — the
    * ANN drift-gated auto-refit's twin at compressed grain): each
    * micro-batch folds through the frozen-codebook merge, then
    * [[graft.Similarity.maybeRefitPqIndex]] prices the decay — the
    * corpus-priced distortion pass runs only once per population
    * doubling, and a 1.5× distortion decay re-fits the codebook on the
    * live rows in a fresh committed version (keep-N GC'd). The index
    * maintains its own quantization quality unattended. */
  def pqIngestStreamAutoRefit(deltas: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltas.writeStream.foreachBatch {
      (df: DataFrame, _: Long) => {
        graft.Similarity.mergePqBatchIntoIndex(df, path)
        graft.Similarity.maybeRefitPqIndex(df.sparkSession, path)
        ()
      }
    }

  /** q148's streaming form (r19b) — CONTINUOUS TAKEDOWN against the
    * standing PQ index: requests append to the root tombstone log
    * ([[graft.Similarity.forgetPqFromIndex]] — lazy deletion, effective
    * immediately at every probe); the maintenance policy compacts once
    * live victims cross the fraction. */
  def pqForgetStream(requests: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.foreachBatch {
      (df: DataFrame, _: Long) =>
        { graft.Similarity.forgetPqFromIndex(df, path); () }
    }

  /** q145's streaming form (r19b) — CONTINUOUS INGESTION into the
    * standing DEDUP (MinHash band/shingle) index: each micro-batch of
    * (doc_id, text) arrivals signs once and folds through the batch
    * merge ([[graft.Dedup.mergeDedupBatchIntoIndex]] inside foreachBatch
    * — the annIngestStream pattern). Idempotent: replayed ids anti-join
    * away at the shingle registry; a crash-windowed replay re-appends
    * byte-identical band rows that candidate generation's `distinct()`
    * collapses — either way the artifacts converge. */
  def dedupIngestStream(docs: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (df: DataFrame, _: Long) =>
        { graft.Dedup.mergeDedupBatchIntoIndex(df, path); () }
    }

  /** q146's streaming form (r19b) — CONTINUOUS TAKEDOWN against the
    * standing DEDUP index: requests append to the root tombstone log
    * ([[graft.Dedup.forgetDedupFromIndex]] — idempotent; early takedowns
    * pend until the id's first arrival). Probes and the ingest merge
    * anti-join the log, so a takedown is effective immediately and a
    * replayed ingest batch can never resurrect a forgotten doc; the
    * maintenance policy compacts once live victims cross the fraction. */
  def dedupForgetStream(requests: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.foreachBatch {
      (df: DataFrame, _: Long) =>
        { graft.Dedup.forgetDedupFromIndex(df, path); () }
    }

  /** q135's streaming form (r16) — CONTINUOUS TAKEDOWN against the
    * standing ANN index: each micro-batch of right-to-be-forgotten
    * requests (any frame with a `vec_id` column) folds through the batch
    * delete verbatim ([[graft.Similarity.forgetVictimIdsFrom]] inside
    * foreachBatch — the [[annIngestStream]] pattern). Delivery
    * semantics: the delete is IDEMPOTENT at both artifacts
    * (already-deleted ids locate nowhere in the index; already-logged
    * ids anti-join out of the append-only tombstone log), so the
    * at-least-once replay a foreachBatch restart produces converges to
    * the same (assignments, tombstones) pair as a one-shot batch delete
    * — spec-pinned by streaming the request set twice and comparing
    * both artifacts row-for-row against the batch path. Closes the
    * index lifecycle online: ingest ([[annIngestStream]]) and forget
    * (THIS) are now both continuous; q119 probes, q134 compacts, q125
    * says when the frozen codebook is due a refit. */
  def forgetStream(requests: DataFrame, path: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.foreachBatch {
      (df: DataFrame, _: Long) => graft.Similarity.forgetVictimIdsFrom(df, path)
    }

  /** q133's online serving leg: hybrid retrieval requests stream
    * against BOTH standing indexes. The lexical side is
    * [[lexProbeStream]]'s stream-static joins; the dense side routes
    * each request's embedding against the index's 10-row centroid
    * codebook as ONE expression (the pqBestExpr argmax idiom — no
    * streaming aggregation, which Structured Streaming would refuse
    * before the stateful fold) and stream-static-joins the routed cell
    * against the cell-partitioned assignments. Both heads' scored rows
    * meet in one flatMapGroupsWithState keyed by query_id: per-head
    * top-10 ranked in-task with the batch tie-breaks ((micro desc,
    * doc_id) lexical / (cos desc, vec_id) dense), fused with q131's
    * exact-long RRF fold — served ≡ the batch q133 bit-for-bit for the
    * same request (spec-pinned). One served marker per query_id:
    * replays emit nothing. */
  def hybridServeStream(requests: Dataset[HybridQuery],
                        lexPath: String, annPath: String,
                        servedTtlMillis: Long): Dataset[HybridHit] = {
    val s = requests.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(s)
    import s.implicits._
    // --- lexical head: scored (query, doc, micro) rows — static sides
    // through the r19 lifecycle helpers (live version, tombstones
    // subtracted, contribution logs folded)
    val lexRoot = graft.IndexLifecycle.resolveIndexRoot(s, lexPath)
    val postings = graft.TextAnalysis.lexPostingsOf(s, lexPath, lexRoot)
    val dl = graft.TextAnalysis.lexDoclensOf(s, lexPath, lexRoot)
    val qstats = graft.TextAnalysis.lexTermsOf(s, lexRoot)
      .crossJoin(graft.TextAnalysis.lexStatsOf(s, lexRoot))
    val lex = requests
      .selectExpr("query_id", "explode(terms) as term")
      .join(postings, Seq("term"))
      .join(dl, Seq("doc_id"))
      .join(qstats, Seq("term"))
      .selectExpr("query_id", "doc_id", TextAnalysis.bm25MicroExpr)
      .selectExpr("query_id", "'L' as head", "doc_id as item_id",
        "cast(micro as double) as score") // micro <= ~1e7: exact in a double
    // --- dense head: per-row argmax routing over the one-row codebook,
    // then the routed cell joins the cell-partitioned assignments
    val dot = (a: String, b: String) => s"graft_dot($a, $b)"
    // dense statics: version-resolved once, live rows only (r19)
    val annRoot = graft.IndexLifecycle.resolveIndexRoot(s, annPath)
    val centsRow = graft.Similarity.routingCodebook(s.read.parquet(s"$annRoot/centroids"), "cents")
    val routed = requests
      .selectExpr("query_id", "embedding as qe")
      .crossJoin(broadcast(centsRow))
      .selectExpr("query_id", "qe",
        s"sqrt(${dot("qe", "qe")}) as qn",
        s"""array_max(transform(cents, c -> named_struct(
           |'cos', ${dot("qe", "c.centroid")} / (sqrt(${dot("qe", "qe")}) * sqrt(${dot("c.centroid", "c.centroid")})),
           |'neg', -c.c_label))) as best"""
          .stripMargin.replace("\n", " "))
      .selectExpr("query_id", "qe", "qn", "-best.neg as q_cell")
    val vec = routed
      .join(graft.Similarity.liveAssignments(s, annPath, annRoot),
        col("c_label") === col("q_cell"))
      .selectExpr("query_id", "'V' as head", "vec_id as item_id",
        s"${dot("embedding", "qe")} / (nrm * qn) as score")
    // served-marker TTL: the lexProbeStream discipline (r15 advice) —
    // retire markers idle past the replay horizon; 0 = unbounded.
    val timeoutConf =
      if (servedTtlMillis > 0L) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    lex.unionByName(vec)
      .as[(Long, String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LexServeState, HybridHit](
        OutputMode.Update(), timeoutConf) {
        (qid: Long, it: Iterator[(Long, String, Long, Double)],
         state: GroupState[LexServeState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            // replayed query: emit nothing, but re-arm the timeout (the
            // lexProbeStream rule — Spark cancels it on every invocation)
            if (servedTtlMillis > 0L) state.setTimeoutDuration(servedTtlMillis)
            Iterator.empty
          }
          else {
            val rows = it.toArray
            state.update(LexServeState(qid))
            if (servedTtlMillis > 0L) state.setTimeoutDuration(servedTtlMillis)
            // lexical: per-doc exact-long sum, batch tie-break
            val lexTop = rows.filter(_._2 == "L")
              .groupBy(_._3).view.mapValues(_.map(_._4.toLong).sum).toSeq
              .sortBy { case (id, m) => (-m, id) }.take(10).map(_._1)
            // dense: one row per item, batch tie-break
            val vecTop = rows.filter(_._2 == "V").map(r => (r._3, r._4))
              .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
            val fused = (lexTop.zipWithIndex ++ vecTop.zipWithIndex)
              .map { case (id, i) =>
                (id, math.floor(1e6 / (60 + (i + 1)) + 0.5).toLong)
              }
              .groupBy(_._1).view
              .mapValues(ts => (ts.map(_._2).sum, ts.size.toLong)).toSeq
            fused.sortBy { case (id, (m, _)) => (-m, id) }.take(10)
              .zipWithIndex.iterator.map { case ((id, (m, nl)), i) =>
                HybridHit(qid, i + 1, id, nl, m / 1e6)
              }
          }
      }
  }

  /** Streaming twin of q75 (SemDeDup): within-cell cosine-duplicate
    * pruning as a keyed stateful fold, so a continuously-ingesting
    * pipeline drops semantic near-dups on arrival instead of waiting
    * for a backfill. Input rows are pre-routed to cells
    * ([[graft.Similarity.assignCells]] — stateless, codebook in the
    * closure); grouping key is the cell; state is the cell's exemplar
    * history.
    *
    * EQUALS the batch q75 verdict (same dup_of, same max_cos, same
    * keep) whenever vectors arrive in vec_id order across batches,
    * because the batch pair relation j < i then coincides with
    * "already seen". Out-of-order arrival degrades gracefully to
    * arrival-order-greedy verdicts (each decision uses the smaller-id
    * members seen SO FAR) — the verdicts stay deterministic per
    * delivery schedule, and a replayed vector (id already in state)
    * emits NOTHING (the packStream id-dedup contract).
    *
    * State cost is O(vectors seen) per cell — the batch relation needs
    * dropped members too, so this is the exact-equality price, NOT an
    * implementation sloppiness. Production bounding: `idleTtlMillis`
    * evicts cells idle past the TTL (the keepStream discipline); the
    * error direction is benign — a re-sighted evicted cell restarts
    * its history, so a near-dup of a forgotten exemplar survives
    * (recall loss), never a lost vector. The batch side bounds cell
    * population by scaling the codebook with the corpus
    * (k = n/targetCellSize, r12) — the same knob that keeps this
    * fold's per-cell history small.
    *
    * `idleTtlMillis` has NO default (r11 advice): 0 = unbounded state —
    * the exact-batch-equality mode — and callers must choose it
    * explicitly rather than inherit an unbounded configuration. */
  def semDedupStream(vecs: Dataset[SemVec], tau: Double,
                     idleTtlMillis: Long): Dataset[SemVerdict] = {
    import vecs.sparkSession.implicits._
    val timeoutConf =
      if (idleTtlMillis > 0L) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    vecs
      .groupByKey(_.cell)
      .flatMapGroupsWithState[SemState, SemVerdict](
        OutputMode.Append(), timeoutConf) {
        (cell: Int, it: Iterator[SemVec], state: GroupState[SemState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var ex = if (state.exists) state.get.ex else List.empty[SemEx]
            val seen = scala.collection.mutable.HashSet[Long](ex.map(_.id): _*)
            val out = scala.collection.mutable.ArrayBuffer.empty[SemVerdict]
            // id order within the batch keeps the fold deterministic and,
            // under globally ordered arrival, batch-identical
            it.toArray.sortBy(_.vec_id).foreach { v =>
              if (!seen.contains(v.vec_id)) {
                var dupOf = Long.MaxValue
                var maxCos = Double.NegativeInfinity
                ex.foreach { x =>
                  if (x.id < v.vec_id) {
                    // same ascending-index dot as boundedBucketPairs
                    var dot = 0.0
                    var k = 0
                    while (k < v.e.length) { dot += x.e(k) * v.e(k); k += 1 }
                    val cos = dot / (x.nrm * v.nrm)
                    if (cos >= tau) {
                      if (x.id < dupOf) dupOf = x.id
                      if (cos > maxCos) maxCos = cos
                    }
                  }
                }
                val dup = dupOf != Long.MaxValue
                out += SemVerdict(v.vec_id, cell,
                  if (dup) Some(dupOf) else None,
                  if (dup) Some(math.floor(maxCos * 1e6 + 0.5) / 1e6) else None,
                  keep = !dup)
                ex = SemEx(v.vec_id, v.e.toSeq, v.nrm) :: ex
                seen += v.vec_id
              }
            }
            state.update(SemState(ex))
            if (idleTtlMillis > 0L) state.setTimeoutDuration(idleTtlMillis)
            out.iterator
          }
      }
  }

  /** Streaming twin of q69 (line-level dedup): the frequent-line set —
    * computed in batch as one corpus-wide aggregate
    * (TextAnalysis.lineDedup) — learned ONLINE as keyed state, so a
    * continuously-ingesting curation pipeline discovers boilerplate as
    * it crosses the ≥threshold document-frequency bar instead of
    * waiting for a backfill. Grouping key is the line itself; the state
    * per distinct line is TWO scalars (running df + highest doc_id
    * counted), and a line is EMITTED once per state lifetime, in the
    * micro-batch where its accumulated df first reaches `threshold`
    * (Append mode — downstream, the growing frequent set is the
    * q67-style broadcast side that cleans the document stream; the
    * batch rebuild is the backfill form over the same set). With the
    * default TTL=0 a state lifetime is the whole stream, so that is
    * exactly-once per line; with `idleTtlMillis > 0` an evicted line
    * that re-crosses the threshold in a later window emits AGAIN —
    * at-most-once per TTL window — so downstream consumers must union
    * emissions into a set, which the q67-style broadcast side does by
    * construction (set semantics absorb the duplicate).
    *
    * Cross-batch accumulation is the point: a line seen by 6 documents
    * in one batch and 4 in a later one crosses a threshold of 10 at the
    * second batch. Delivery semantics match packStream: df counts
    * DISTINCT documents under at-least-once delivery via the id-dedup
    * contract — same-batch duplicates collapse (distinct), cross-batch
    * redeliveries drop against `maxDocId` (ordered ingest by doc_id,
    * like packStream; late stragglers belong to the batch form).
    *
    * At scale the state store shards by line hash across executors —
    * the same one-keyed-exchange shape as the batch aggregate, with
    * RocksDB state for corpora whose distinct-line set exceeds memory.
    *
    * State BOUNDING: with the default `idleTtlMillis = 0` state is
    * O(|distinct lines ever seen|) — exact, but unbounded on an
    * unbounded stream. A positive TTL evicts any line not sighted for
    * that long (processing-time timeout; each sighting refreshes it),
    * making state O(|lines active within one TTL window|) — and df a
    * recency-bounded LOWER bound of the true corpus df. The direction
    * of error is the safe one for boilerplate detection: genuinely
    * recurring boilerplate re-sights within any reasonable TTL and
    * still crosses; a rare line can only be under-counted, i.e. KEPT —
    * the same conservative direction as the bloom decontaminator's
    * no-false-negative contract (there for drops, here for keeps). */
  def frequentLines(occs: Dataset[LineOcc], threshold: Long,
                    idleTtlMillis: Long = 0L): Dataset[FrequentLine] = {
    import occs.sparkSession.implicits._
    val timeoutConf =
      if (idleTtlMillis > 0L) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    occs
      .groupByKey(_.line)
      .flatMapGroupsWithState[LineFreqState, FrequentLine](
        OutputMode.Append(), timeoutConf) {
        (line: String, it: Iterator[LineOcc], state: GroupState[LineFreqState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = if (state.exists) state.get else LineFreqState(0L, Long.MinValue)
            val fresh = it.map(_.doc_id).toVector.distinct.sorted
              .filter(_ > st.maxDocId)
            val next =
              if (fresh.isEmpty) st else LineFreqState(st.df + fresh.size, fresh.last)
            // any sighting (fresh or duplicate) refreshes the idle TTL
            if (fresh.nonEmpty || state.exists) {
              state.update(next)
              if (idleTtlMillis > 0L) state.setTimeoutDuration(idleTtlMillis)
            }
            if (fresh.nonEmpty && st.df < threshold && next.df >= threshold)
              Iterator.single(FrequentLine(line, next.df))
            else Iterator.empty
          }
      }
  }

  /** A1 — thread-membership tracking (`slackEventServer.js:48,54-66`:
    * `participatingThreads.add(`${channel}-${thread_ts ?? ts}`)`), as
    * keyed state in flatMapGroupsWithState. The reference's Set is
    * unbounded and lost on restart; here state is checkpointed and
    * evicted by event-time timeout (deliberate deviation, SURVEY §7.4) so
    * it cannot grow without bound at 100 TB. Emits each key once. */
  def threadMembership(events: Dataset[ThreadEvent], watermarkDelay: String,
                       ttlMillis: Long): Dataset[ThreadSeen] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => e.channel + "-" + e.thread_ts.getOrElse(e.ts.toString))
      .flatMapGroupsWithState[SeenState, ThreadSeen](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, it: Iterator[ThreadEvent], state: GroupState[SeenState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            // insert-only set semantics: emit nothing for a re-sighted
            // thread — but re-arm the eviction timestamp (Spark cancels
            // a group's timeout on every invocation; without this a
            // pre-TTL re-sighting would retain the key forever). The
            // stored first-sighting keeps the deadline FIXED at
            // first + ttl — re-sightings never extend membership.
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
              math.max(state.get.firstTsMs + ttlMillis, wm + 1))
            Iterator.empty
          }
          else {
            val first = it.map(_.ts.getTime).min
            state.update(SeenState(first))
            // flatMapGroupsWithState does NOT drop late rows (watermark
            // filtering applies only to aggregations), so a very late
            // first event can put first+ttl at or below the current
            // watermark — setTimeoutTimestamp would throw and kill the
            // query. Clamp to just past the watermark: the state then
            // expires at the next watermark advance instead of crashing.
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(first + ttlMillis, wm + 1))
            Iterator.single(ThreadSeen(key, new Timestamp(first)))
          }
      }
  }
}
