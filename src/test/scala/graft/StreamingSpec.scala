package graft

import java.sql.Timestamp

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** MemoryStream-driven tests of the streaming layer (SURVEY.md §2.8).
  * Each transform is also the batch implementation — the producer/consumer
  * legs reuse the oracle-verified Column functions unchanged, so these
  * tests check streaming wiring: micro-batch progress, watermarks,
  * append-mode emission, and keyed state with TTL. */
/** Executor-side post capture: task closures are serialized even in local
  * mode, so a captured queue would be a deserialized copy — a companion
  * singleton is the shared-JVM rendezvous. */
object PostCollector {
  val posts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Seqnos observed across checkpointed runs of the GraftLog source test. */
object SeqnoCollector {
  val seqnos = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = new Timestamp(minute * 60000L)

  test("producer→consumer legs: streaming Kafka-shaped roundtrip == batch result") {
    val in = MemoryStream[(Int, String, String)](spark)
    val raw = in.toDF().toDF("seqno", "subject", "body")
    // both legs in one continuous plan: clean → Avro value → decode → blocks
    val out = StreamingOps.consumerTransform(StreamingOps.producerTransform(raw))
    val body = "HEADLINE ONE\nhttps://ex.am/1\nplain text\n" + ("y" * 3000)
    in.addData((1, "Subj", body), (2, null, "tiny"))
    val q = out.writeStream.format("memory").queryName("blocks")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()

    val streamed = spark.table("blocks")
      .orderBy("seqno", "block_no")
      .select("seqno", "block_no", "btext").collect().toSeq
    val batch = StreamingOps.consumerTransform(StreamingOps.producerTransform(
        Seq((1, "Subj", body), (2, null: String, "tiny")).toDF("seqno", "subject", "body")))
      .orderBy("seqno", "block_no")
      .select("seqno", "block_no", "btext").collect().toSeq
    assert(streamed == batch)
    assert(streamed.exists(_.getString(2).contains("<https://ex.am/1|*HEADLINE ONE*")))
    assert(streamed.count(_.getInt(0) == 1) >= 3) // subject + >=2 chunks (3000 chars)
  }

  test("corrupt Avro records are dropped, not failed (Z2 semantics)") {
    val in = MemoryStream[Array[Byte]](spark)
    val out = StreamingOps.consumerTransform(in.toDF().toDF("value"))
    in.addData(Serde.encodeEmail(1, "ok", "body"), Array[Byte](9, 9, 9))
    val q = out.writeStream.format("memory").queryName("corrupt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val seqnos = spark.table("corrupt").select("seqno").as[Int].collect().toSet
    assert(seqnos == Set(1))
  }

  test("K2: foreachBatch sink posts one Block Kit JSON payload per record") {
    val in = MemoryStream[(Int, String, String)](spark)
    val decoded = in.toDF().toDF("seqno", "subject", "body")
      .withColumn("body_linked", org.apache.spark.sql.functions.expr("body"))
    val payloads = StreamingOps.blockKitPayload(
      decoded, "seqno", "subject", "body_linked", maxLen = 12)
    PostCollector.posts.clear()
    in.addData((1, "S1", "short line\nanother longer line"), (2, "S2", "x"))
    // mkClient runs once per partition ON the executors; the task closure is
    // serialized, so capture goes through a JVM-singleton collector (local
    // mode shares the JVM) — no row ever reaches the driver
    val q = StreamingOps.foreachBatchHttpSink(payloads, () => (_, p) => PostCollector.posts.add(p))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val got = PostCollector.posts.toArray(Array.empty[String]).sorted
    assert(got.length == 2)
    // JSON shape: blocks[0] = subject section; later blocks = chunks
    val p1 = got.find(_.contains("S1")).get
    assert(p1.startsWith("""{"blocks":[{"type":"section","text":{"type":"mrkdwn","text":"*Subject:* S1\n*Body:*"}}"""))
    assert(p1.contains(""""text":"short line"""") && p1.contains("another longer"))
    assert(got.find(_.contains("S2")).get.endsWith(
      """{"type":"section","text":{"type":"mrkdwn","text":"x"}}]}"""))
  }

  test("K3: threaded reply payload carries thread_ts only when present") {
    val in = MemoryStream[(String, String, String)](spark)
    val payloads = StreamingOps.threadedReplyPayload(
      in.toDF().toDF("channel", "text", "thread_ts"), "channel", "text", "thread_ts")
    in.addData(("C1", "in thread", "1724.001"), ("C2", "top level", null))
    val q = payloads.writeStream.format("memory").queryName("k3")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val got = spark.table("k3").as[String].collect().sorted
    assert(got(0) == """{"channel":"C1","text":"in thread","thread_ts":"1724.001"}""")
    assert(got(1) == """{"channel":"C2","text":"top level"}""") // no thread_ts key
  }

  test("windowed counts: watermark drops late data in append mode") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = StreamingOps.windowedCounts(in.toDF().toDF("ts", "event_type"), "5 minutes")
    val q = out.writeStream.format("memory").queryName("wincounts")
      .outputMode("append").start()
    in.addData((ts(1), "a"), (ts(4), "a"), (ts(12), "b"))
    q.processAllAvailable()
    in.addData((ts(40), "c"))   // watermark → 35min: closes windows ≤30
    q.processAllAvailable()
    in.addData((ts(2), "a"))    // late beyond watermark → dropped
    q.processAllAvailable()
    in.addData((ts(70), "d"))   // close remaining
    q.processAllAvailable(); q.stop()
    val got = spark.table("wincounts")
      .selectExpr("unix_millis(window.start) div 60000 as m", "event_type", "n_events")
      .as[(Long, String, Long)].collect().toSet
    assert(got.contains((0L, "a", 2L)))   // late (ts 2) NOT counted
    assert(got.contains((10L, "b", 1L)))
    assert(got.contains((40L, "c", 1L)))
  }

  test("sliding windows: each event counted in width/slide = 2 windows (ST3, q45 twin)") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = StreamingOps.slidingCounts(in.toDF().toDF("ts", "event_type"), "5 minutes")
    val q = out.writeStream.format("memory").queryName("slidecounts")
      .outputMode("append").start()
    in.addData((ts(7), "a"), (ts(12), "a"))
    q.processAllAvailable()
    in.addData((ts(60), "z"))   // advance watermark to close the early windows
    q.processAllAvailable(); q.stop()
    val got = spark.table("slidecounts")
      .selectExpr("unix_millis(window.start) div 60000 as m", "event_type", "n_events")
      .as[(Long, String, Long)].collect().toSet
    // ts=7 → windows [0,10) and [5,15); ts=12 → [5,15) and [10,20)
    assert(got.contains((0L, "a", 1L)) && got.contains((5L, "a", 2L)) &&
      got.contains((10L, "a", 1L)), s"got $got")
  }

  test("q65 streaming twin: windowed HLL distinct users honors the 3·rsd contract") {
    val rsd = 0.02
    val in = MemoryStream[(Timestamp, String, Long)](spark)
    val out = StreamingOps.windowedApproxDistinct(
      in.toDF().toDF("ts", "event_type", "user_id"), "5 minutes", rsd)
    val q = out.writeStream.format("memory").queryName("hllwin")
      .outputMode("append").start()
    // window [0,10): 40 distinct users under "a", 10 under "b" (overlapping
    // ids across types — per-group distinct must not bleed); window
    // [10,20): users re-appear (distinct within window, not global)
    val batch1 = (0 until 40).map(u => (ts(u % 9), "a", u.toLong)) ++
      (0 until 10).map(u => (ts(u % 9), "b", u.toLong)) ++
      (0 until 25).map(u => (ts(10 + u % 9), "a", u.toLong))
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData((ts(90), "z", 999L)) // advance watermark → close all windows
    q.processAllAvailable(); q.stop()
    val got = spark.table("hllwin")
      .selectExpr("unix_millis(window.start) div 60000 as m", "event_type",
        "approx_users", "n_events")
      .as[(Long, String, Long, Long)].collect()
      .map { case (m, t, a, n) => (m, t) -> (a, n) }.toMap
    val exact = Map((0L, "a") -> 40L, (0L, "b") -> 10L, (10L, "a") -> 25L)
    exact.foreach { case (key, want) =>
      val (approx, _) = got(key)
      assert(math.abs(approx - want) <= 3 * rsd * want + 1,
        s"$key: approx $approx vs exact $want breaks the 3·rsd contract")
    }
    assert(got((0L, "a"))._2 == 40L) // n_events rides along exactly
  }

  test("q64 streaming twin: windowed GK median honors the ε rank contract") {
    val accuracy = 100 // ε = 1%
    val in = MemoryStream[(Timestamp, String, Long)](spark)
    val out = StreamingOps.windowedApproxQuantile(
      in.toDF().toDF("ts", "lang", "n_chars"), "5 minutes", accuracy)
    val q = out.writeStream.format("memory").queryName("gkwin")
      .outputMode("append").start()
    // window [0,10): lang "en" gets 200 skewed lengths; lang "de" a tiny
    // exact-median set; window [10,20): a different distribution
    val en = (1 to 200).map(i => (ts(i % 9), "en", (i * i % 997).toLong))
    val de = Seq((ts(1), "de", 5L), (ts(2), "de", 7L), (ts(3), "de", 9L))
    val en2 = (1 to 50).map(i => (ts(10 + i % 9), "en", (1000 + i).toLong))
    in.addData(en ++ de ++ en2: _*)
    q.processAllAvailable()
    in.addData((ts(90), "zz", 0L)) // advance watermark → close all windows
    q.processAllAvailable(); q.stop()
    val got = spark.table("gkwin")
      .selectExpr("unix_millis(window.start) div 60000 as m", "lang",
        "p50_approx", "n_docs", "min_chars", "max_chars")
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map { case (m, l, p, n, mn, mx) => (m, l) -> (p, n, mn, mx) }.toMap
    val inputs = Map(
      (0L, "en") -> en.map(_._3), (0L, "de") -> de.map(_._3),
      (10L, "en") -> en2.map(_._3))
    inputs.foreach { case (key, vals) =>
      val (p50, n, mn, mx) = got(key)
      assert(n == vals.size && mn == vals.min && mx == vals.max, s"$key side stats")
      // tie-safe two-sided rank check, same contract as batch q64:
      // |{v < p50}| ≤ n/2 + εn  AND  |{v ≤ p50}| ≥ n/2 − εn
      val eps = n.toDouble / accuracy
      val below = vals.count(_ < p50)
      val atOrBelow = vals.count(_ <= p50)
      assert(below <= n / 2.0 + eps && atOrBelow >= n / 2.0 - eps,
        s"$key: p50 $p50 rank ($below, $atOrBelow) outside ε window for n=$n")
    }
  }

  test("session windows: 30-minute gap splits sessions, matches batch q08 grouping") {
    val in = MemoryStream[(Timestamp, Long)](spark)
    val out = StreamingOps.sessionCounts(in.toDF().toDF("ts", "user_id"), "5 minutes")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // user 1: events at 0,10,20 (one session), then 60,65 (second session)
    in.addData((ts(0), 1L), (ts(10), 1L), (ts(20), 1L), (ts(60), 1L), (ts(65), 1L))
    q.processAllAvailable()
    in.addData((ts(600), 9L))  // advance watermark far → close all user-1 sessions
    q.processAllAvailable(); q.stop()
    val got = spark.table("sessions")
      .filter(col("user_id") === 1L)
      .selectExpr("unix_millis(session_window.start) div 60000 as m", "n_events")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 3L), (60L, 2L)))
  }

  test("A2/A3: rolling history keeps last-K per key, oldest-first context") {
    val in = MemoryStream[graft.streaming.HistoryMsg](spark)
    val out = StreamingOps.rollingHistory(in.toDS(), k = 3)
    val q = out.writeStream.format("memory").queryName("history")
      .outputMode("update").start()
    in.addData(
      graft.streaming.HistoryMsg("C1", 1000, "m1", "u1", "first"),
      graft.streaming.HistoryMsg("C1", 2000, "m2", "u2", "second"))
    q.processAllAvailable()
    in.addData(
      graft.streaming.HistoryMsg("C1", 3000, "m3", "u1", "third"),
      graft.streaming.HistoryMsg("C1", 4000, "m4", "u3", "fourth")) // evicts "first"
    q.processAllAvailable(); q.stop()
    val last = spark.table("history").as[graft.streaming.HistoryContext]
      .collect().filter(_.n_msgs == 3)
    assert(last.nonEmpty)
    assert(last.last.context == "u2: second\nu1: third\nu3: fourth")
  }

  test("q67 streaming twin: broadcast rate table samples the stream; replay makes identical decisions") {
    val in = MemoryStream[(Long, String)](spark)
    val docs = in.toDF().toDF("doc_id", "source")
    val rates = Seq(("sA", 1000000L), ("sB", 500000L), ("sC", 0L))
      .toDF("source", "keep_micro")
    val q = StreamingOps.mixStream(docs, rates)
      .writeStream.format("memory").queryName("mixstream")
      .outputMode("append").start()
    val batch = (0L until 40L).map(id => (id, Seq("sA", "sB", "sC")(id.toInt % 3)))
    in.addData(batch: _*)
    q.processAllAvailable()
    val first = spark.table("mixstream").as[(Long, String)].collect().toSeq
    // batch model: same join+filter over a static frame
    val model = StreamingOps.mixStream(batch.toDF("doc_id", "source"), rates)
      .as[(Long, String)].collect().toSeq
    assert(first.sorted == model.sorted)
    // rate semantics: all of sA survives, none of sC
    assert(first.count(_._2 == "sA") == batch.count(_._2 == "sA"))
    assert(!first.exists(_._2 == "sC"))
    assert(first.count(_._2 == "sB") < batch.count(_._2 == "sB"))
    // at-least-once replay: redelivering the SAME batch appends exactly
    // the same keep set again (deterministic decisions, no flapping)
    in.addData(batch: _*)
    q.processAllAvailable(); q.stop()
    val all = spark.table("mixstream").as[(Long, String)].collect().toSeq
    assert(all.sorted == (first ++ first).sorted)
    // a source MISSING from the rate table is not silently dropped: it
    // takes the explicit default (0 here → dropped BY POLICY; a
    // nonzero default keeps its hash share)
    val unknown = Seq((1000L, "sNEW"), (1001L, "sNEW")).toDF("doc_id", "source")
    assert(StreamingOps.mixStream(unknown, rates).count() == 0)
    assert(StreamingOps.mixStream(unknown, rates, defaultKeepMicro = 1000000L)
      .count() == 2)
  }

  test("q68 streaming twin: pack state carries a partially-filled sequence across batches") {
    import graft.streaming.{PackAssign, PackDoc}
    val in = MemoryStream[PackDoc](spark)
    val out = StreamingOps.packStream(in.toDS(), budget = 100L)
    val q = out.writeStream.format("memory").queryName("packstream")
      .outputMode("append").start()
    // batch 1: doc2 arrives before doc1 — packing must use doc_id order;
    // seq 0 ends at fill=90 (10 headroom)
    in.addData(PackDoc("sA", 2L, 50L), PackDoc("sA", 1L, 40L), PackDoc("sB", 1L, 150L))
    q.processAllAvailable()
    // batch 2: 10-char doc CONTINUES sA's seq 0 from the checkpointed
    // fill (offset 90); the next doc overflows into seq 1; sB's
    // over-budget single doc owns seq 0 and the next one starts seq 1
    in.addData(PackDoc("sA", 3L, 10L), PackDoc("sA", 4L, 60L), PackDoc("sB", 2L, 30L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("packstream").as[PackAssign].collect()
      .map(a => (a.source, a.doc_id) -> (a.seq_no, a.offset_chars)).toMap
    assert(got(("sA", 1L)) == (0L, 0L) && got(("sA", 2L)) == (0L, 40L))
    assert(got(("sA", 3L)) == (0L, 90L), "cross-batch fill not carried")
    assert(got(("sA", 4L)) == (1L, 0L))
    assert(got(("sB", 1L)) == (0L, 0L) && got(("sB", 2L)) == (1L, 0L))
    // and the two-batch stream equals the batch fold over the full input
    // in (source, doc_id) order — the backfill/online equivalence
    val model = Map(
      ("sA", 1L) -> (0L, 0L), ("sA", 2L) -> (0L, 40L), ("sA", 3L) -> (0L, 90L),
      ("sA", 4L) -> (1L, 0L), ("sB", 1L) -> (0L, 0L), ("sB", 2L) -> (1L, 0L))
    assert(got == model)
  }

  test("q68 streaming twin: a doc redelivered WITHIN one micro-batch packs once") {
    // the r6 ADVICE gap: maxDocId only guards against CROSS-batch
    // redelivery; a same-batch duplicate must not double-count n_chars
    // into the fill or emit a second PackAssign row
    import graft.streaming.{PackAssign, PackDoc}
    val in = MemoryStream[PackDoc](spark)
    val out = StreamingOps.packStream(in.toDS(), budget = 100L)
    val q = out.writeStream.format("memory").queryName("packdupe")
      .outputMode("append").start()
    // doc 1 delivered TWICE in the same batch (at-least-once source)
    in.addData(PackDoc("sA", 1L, 40L), PackDoc("sA", 1L, 40L), PackDoc("sA", 2L, 50L))
    q.processAllAvailable()
    // cross-batch redelivery of both, plus one genuinely new doc: had the
    // duplicate folded, fill would sit at 130 and doc 3 would start seq 1
    // at offset 0 instead of continuing seq 0 at 90
    in.addData(PackDoc("sA", 2L, 50L), PackDoc("sA", 1L, 40L), PackDoc("sA", 3L, 10L))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("packdupe").as[PackAssign].collect()
    assert(rows.length == 3, s"duplicate emitted an extra assignment: ${rows.toSeq}")
    val got = rows.map(a => (a.source, a.doc_id) -> (a.seq_no, a.offset_chars)).toMap
    assert(got == Map(
      ("sA", 1L) -> (0L, 0L), ("sA", 2L) -> (0L, 40L), ("sA", 3L) -> (0L, 90L)))
  }

  test("abTestStream: the online experiment monitor's final report == batch q76; replay moves nothing but the revision") {
    import graft.streaming.{AbEvent, AbReport}
    val batch = RelOps.abTest(spark, sf)
      .select("event_type", "n_a", "n_b", "mean_a", "mean_b", "var_a",
        "var_b", "t_stat", "dof", "significant")
      .as[(String, Long, Long, Double, Double, Double, Double, Double, Double, Boolean)]
      .collect().toSet
    val rows = Tables.events(spark, sf).selectExpr("event_type", "event_id", "value",
        "cast(conv(substr(md5(cast(user_id as string)), 1, 8), 16, 10) as bigint) % 2 as v")
      .as[AbEvent].collect().sortBy(_.event_id)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[AbEvent](spark)
    val q = StreamingOps.abTestStream(in.toDS())
      .writeStream.format("memory").queryName("abmonitor")
      .outputMode("update").start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    def latest(): Map[String, (Long, Long, Long, Double, Double, Double, Double, Double, Double, Boolean)] =
      spark.table("abmonitor").as[AbReport].collect()
        .groupBy(_.event_type).map { case (k, rs) =>
          val r = rs.maxBy(_.rev)
          k -> (r.rev, r.n_a, r.n_b, r.mean_a, r.mean_b, r.var_a, r.var_b,
            r.t_stat, r.dof, r.significant)
        }
    val afterAll = latest()
    val gotFinal = afterAll.map { case (k, r) =>
      (k, r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10) }.toSet
    assert(gotFinal == batch, "online monitor's final report != batch q76")
    // intermediate reports existed (a monitor, not a batch job): some
    // key emitted >= 2 revisions across the two batches
    assert(afterAll.values.exists(_._1 >= 2L), "no running revisions emitted")
    // at-least-once redelivery of batch 1: ids are at or below every
    // key's high-water mark — stats must not move (only rev does)
    in.addData(b1: _*); q.processAllAvailable(); q.stop()
    val afterReplay = latest().map { case (k, r) =>
      (k, r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10) }.toSet
    assert(afterReplay == batch, "replayed batch moved the monitor's stats")
    // the replayed arrivals are OBSERVABLE: every replayed key's final
    // report carries a dropped count equal to its share of batch 1 (the
    // r11 advice item — silent discard is indistinguishable from an
    // out-of-order source; the counter makes it visible)
    val droppedByKey = spark.table("abmonitor").as[AbReport].collect()
      .groupBy(_.event_type).map { case (k, rs) => k -> rs.maxBy(_.rev).dropped }
    val b1ByKey = b1.groupBy(_.event_type).map { case (k, es) => k -> es.length.toLong }
    b1ByKey.foreach { case (k, n) =>
      assert(droppedByKey(k) == n,
        s"key $k: dropped=${droppedByKey(k)} != replayed share $n")
    }
  }

  test("abChiSqStream: online conversion chi-square == batch q77 after full delivery; replay counted, stats frozen") {
    import graft.streaming.{ChiPair, ChiReport}
    val batch = RelOps.abChiSq(spark, sf)
      .select("event_type", "n_a", "n_b", "conv_a", "conv_b", "chi_sq", "significant")
      .as[(String, Long, Long, Long, Long, Double, Boolean)]
      .collect().toSet
    // design constants fit offline with the batch frames (fit-then-stream)
    val design = RelOps.fitChiDesign(spark, sf)
    assert(design.bar > 0.0 && design.nA > 0L && design.nB > 0L)
    val rows = Tables.events(spark, sf).selectExpr("event_type", "user_id", "event_id",
        "cast(conv(substr(md5(cast(user_id as string)), 1, 8), 16, 10) as bigint) % 2 as v")
      .as[ChiPair].collect().sortBy(_.event_id)
    // split mid-stream: crossings that straddle the boundary must still
    // count exactly once (monotone counts + fixed bar)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[ChiPair](spark)
    val q = StreamingOps.abChiSqStream(in.toDS(), design)
      .writeStream.format("memory").queryName("chimonitor")
      .outputMode("update").start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    def latest(): Map[String, ChiReport] =
      spark.table("chimonitor").as[ChiReport].collect()
        .groupBy(_.event_type).map { case (k, rs) => k -> rs.maxBy(_.rev) }
    val afterAll = latest()
    val gotFinal = afterAll.values.map(r =>
      (r.event_type, r.n_a, r.n_b, r.conv_a, r.conv_b, r.chi_sq, r.significant)).toSet
    assert(gotFinal == batch, "online chi-square monitor's final report != batch q77")
    assert(afterAll.values.exists(_.rev >= 2L), "no running revisions emitted")
    assert(afterAll.values.forall(_.dropped == 0L), "clean run reported drops")
    // at-least-once redelivery: stats frozen, rev moves, drops counted
    in.addData(b1: _*); q.processAllAvailable(); q.stop()
    val afterReplay = latest()
    val replayFinal = afterReplay.values.map(r =>
      (r.event_type, r.n_a, r.n_b, r.conv_a, r.conv_b, r.chi_sq, r.significant)).toSet
    assert(replayFinal == batch, "replayed batch moved the monitor's stats")
    val b1ByKey = b1.groupBy(_.event_type).map { case (k, es) => k -> es.length.toLong }
    b1ByKey.foreach { case (k, n) =>
      assert(afterReplay(k).dropped == n,
        s"key $k: dropped=${afterReplay(k).dropped} != replayed share $n")
    }
  }

  test("semDedupStream: online semantic dedup == batch q75 under ordered arrival; replay emits nothing") {
    import graft.streaming.{SemVec, SemVerdict}
    val batch = Similarity.semDedup(spark, sf)
      .select("vec_id", "c_label", "dup_of", "max_cos", "keep")
      .as[(Long, Int, Option[Long], Option[Double], Boolean)].collect().toSet
    // same corpus construction as the batch query (base + perturbed twins)
    val cb = Similarity.fitCellCodebook(spark, sf)
    val base = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    val corpus = base.unionAll(
      base.selectExpr("vec_id + 10000 as vec_id",
        "zip_with(e, sequence(0, 63), (x, i) -> x + 0.004 * cast(i % 5 as double)) as e"))
    val vecs = Similarity.assignCells(corpus, cb).collect().sortBy(_.vec_id)
    assert(vecs.length == batch.size)
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    val in = MemoryStream[SemVec](spark)
    // idleTtlMillis = 0: the explicit unbounded exact-equality mode
    val q = StreamingOps.semDedupStream(in.toDS(), Similarity.semDedupTau,
        idleTtlMillis = 0L)
      .writeStream.format("memory").queryName("semdedupstream")
      .outputMode("append").start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    val got = spark.table("semdedupstream").as[SemVerdict].collect()
      .map(v => (v.vec_id, v.c_label, v.dup_of, v.max_cos, v.keep)).toSet
    assert(got == batch, "ordered-arrival online verdicts != batch q75")
    assert(got.exists(_._5) && got.exists(!_._5), "degenerate keep/drop split")
    // at-least-once redelivery of batch 1: every id is in state — nothing new
    in.addData(b1: _*); q.processAllAvailable(); q.stop()
    assert(spark.table("semdedupstream").count() == got.size,
      "replayed batch emitted new verdicts")
  }

  test("perplexityVerdict scores a stream with a statically fitted LM; == batch transform on the same rows") {
    // the q74 online form: model fit offline (static frame), scoring
    // stateless in the stream — replay re-scores identically by
    // construction (no state, no RNG)
    // vocab padding: an OOV bigram scores ln(V) nats, so V must satisfy
    // ln(V) > perplexityThreshold (3.6) for the flag assertion below —
    // 9 core words + 41 padding words = V 50, ln 50 ≈ 3.91
    val refDocs = (Seq(
      "the cat sat on the mat", "the dog sat on the log",
      "a cat and a dog") :+ (1 to 41).map(i => s"pad$i").mkString(" "))
      .toDF("text")
    val lm = TextAnalysis.fitBigramLm(refDocs.selectExpr("split(text, ' ') as toks"))
    assert(lm.vocabSize > 0 && lm.bigrams.nonEmpty)
    val rows = Seq(
      (1L, "sA", "the cat sat on the log"),   // in-domain: every bigram seen
      (2L, "sA", "quantum flux capacitor overload imminent"), // fully OOV
      (3L, "sB", "the"),                       // single token: zero bigrams
      (4L, "sB", "a dog and a cat"))
    val in = MemoryStream[(Long, String, String)](spark)
    val q = TextAnalysis.perplexityVerdict(
        in.toDF().toDF("doc_id", "source", "text"), lm)
      .writeStream.format("memory").queryName("pplverdict")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("pplverdict")
      .select("doc_id", "n_bigrams", "avg_nll", "ppl_flagged")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val batch = TextAnalysis.perplexityVerdict(
        rows.toDF("doc_id", "source", "text"), lm)
      .select("doc_id", "n_bigrams", "avg_nll", "ppl_flagged")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(got == batch, "stream scoring != batch scoring on identical rows")
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(3L)._2 == 0L && byId(3L)._3 == 0.0 && !byId(3L)._4,
      "zero-bigram doc must score 0 / unflagged")
    assert(byId(2L)._3 > byId(1L)._3,
      "fully-OOV doc must out-score the in-domain doc")
    assert(byId(2L)._4, "fully-OOV doc must be flagged")
  }

  test("fuzzyDecontamVerdict drops a stream exactly like the batch q85 chain") {
    // the q85 online form: deny index fit offline (eval-set-sized, the
    // classifier-weights contract), per-row shingle→sign→band→probe→
    // verify in the stream with the SHARED signing code
    val idx = Dedup.fitDenyIndex(spark, sf)
    assert(idx.bands.nonEmpty && idx.shingles.nonEmpty)
    val rows = Dedup.nearDupCorpus(spark, sf)
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = Dedup.fuzzyDecontamVerdict(in.toDF().toDF("doc_id", "text"), idx)
      .writeStream.format("memory").queryName("fuzzyverdict")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("fuzzyverdict")
      .filter($"dropped").select("doc_id").as[Long].collect().toSet
    val sh = Dedup.signedCorpus(spark, Dedup.nearDupCorpus(spark, sf))
    val batch = Dedup.fuzzyDroppedIds(spark, sh).as[Long].collect().toSet
    assert(got == batch, "online drop set != batch drop set on identical rows")
    assert(got.nonEmpty, "fixture must exercise a non-empty drop set")
  }

  test("semDecontamVerdict drops a stream exactly like the batch q121 chain (r14)") {
    // the q121 online form: deny matrix fit offline (eval-suite-sized,
    // the classifier-weights contract), per-row max-cosine verdict in
    // the stream — ascending-index double fold ≡ the batch graft_dot
    val deny = Similarity.fitSemDenyMatrix(spark, sf)
    assert(deny.nonEmpty)
    val rows = Similarity.semDecontamCorpus(spark, sf)
      .as[(Long, Array[Double])].collect().toSeq
    val in = MemoryStream[(Long, Array[Double])](spark)
    val q = Similarity.semDecontamVerdict(in.toDF().toDF("vec_id", "e"), deny)
      .writeStream.format("memory").queryName("semdecon")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val online = spark.table("semdecon")
      .filter($"hit").select("vec_id").as[Long].collect().toSet
    val batch = Similarity.semDecontamMax(spark, sf)
      .filter($"maxcos" >= 0.95).select("vec_id").as[Long].collect().toSet
    assert(online == batch, "online drop set != batch drop set on identical rows")
    assert(online.nonEmpty, "fixture must exercise a non-empty drop set")
    // and the verdict's maxcos is BIT-identical to the batch frame's
    val onlineCos = spark.table("semdecon")
      .select("vec_id", "maxcos").as[(Long, Double)].collect().toMap
    Similarity.semDecontamMax(spark, sf)
      .as[(Long, Double)].collect().foreach { case (id, mc) =>
        assert(onlineCos(id) == mc, s"maxcos diverged for vec $id")
      }
  }

  test("imageDenyVerdict drops a stream exactly like its batch form (r14)") {
    // the q107 online form: perceptual-hash denylist fit offline
    // (bounded list, the fitDenyIndex contract), per-row dHash→band-
    // probe→Hamming-verify in the stream with the SHARED hashing code
    val idx = MediaOps.fitImageDenyIndex(spark, sf)
    assert(idx.hashes.nonEmpty)
    val rows = MediaOps.mediaCorpus(spark, sf)
      .where("mime = 'image/png'")
      .select("doc_id", "media").as[(Long, Array[Byte])].collect().toSeq
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val q = MediaOps.imageDenyVerdict(in.toDF().toDF("doc_id", "media"), idx)
      .writeStream.format("memory").queryName("imagedeny")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val online = spark.table("imagedeny")
      .select("doc_id", "n_candidates", "dropped")
      .as[(Long, Int, Boolean)].collect().sortBy(_._1).toSeq
    val batch = MediaOps.imageDenyVerdict(
        rows.toDF("doc_id", "media"), idx)
      .as[(Long, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(online == batch, "online verdicts != batch verdicts on identical rows")
    assert(online.exists(_._3) && online.exists(!_._3),
      "fixture must exercise both drop and keep")
  }

  test("q119's online form: per-micro-batch probe of the standing ANN index == batch probe (r14)") {
    // the nightly-ingest stream: delta vectors arrive continuously, each
    // micro-batch probes the SAME stored artifacts via foreachBatch —
    // the production shape of online vector-index admission
    val path = Similarity.annIndexPathFor(sf) + "-stream"
    Similarity.buildAnnIndex(spark, sf, path)
    val cents = spark.read.parquet(s"$path/centroids")
    val idx = spark.read.parquet(s"$path/assignments")
    val deltas = Tables.embeddings(spark, sf).limit(30)
      .selectExpr("vec_id + 500000 as vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double, Boolean)]
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= Similarity.annProbe(batch, cents, idx)
            .as[(Long, Int, Long, Double, Boolean)].collect()
        }
        ()
      }
      .outputMode("append").start()
    val (b1, b2) = deltas.splitAt(deltas.length / 2)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val batchAll = Similarity.annProbe(
        deltas.toDF("vec_id", "embedding"), cents, idx)
      .as[(Long, Int, Long, Double, Boolean)].collect()
    assert(got.sortBy(_._1).toSeq == batchAll.sortBy(_._1).toSeq,
      "streamed micro-batch probes != one batch probe on identical deltas")
    assert(got.nonEmpty && got.forall(r => r._4 <= 1.000001))
  }

  test("q126's online form: per-micro-batch probe of the standing COMPRESSED index == batch probe (r14)") {
    // the q119 streaming-probe discipline at compressed grain: delta
    // vectors probe the same stored codes/codebook/coarse artifacts per
    // micro-batch via foreachBatch — the index stays codes-hot
    val path = Similarity.pqIndexPathFor(sf) + "-stream"
    Similarity.buildPqIndex(spark, sf, path)
    val coarse = spark.read.parquet(s"$path/coarse")
    val cells = Similarity.pqCellsOfRead(spark, s"$path/codebook")
    val idx = spark.read.parquet(s"$path/codes")
    val deltas = Tables.embeddings(spark, sf).limit(24)
      .selectExpr("vec_id + 500000 as vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double, Boolean)]
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= Similarity.pqIndexProbe(batch, coarse, cells, idx)
            .as[(Long, Int, Long, Double, Boolean)].collect()
        }
        ()
      }
      .outputMode("append").start()
    val (b1, b2) = deltas.splitAt(deltas.length / 2)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val batchAll = Similarity.pqIndexProbe(
        deltas.toDF("vec_id", "embedding"), coarse, cells, idx)
      .as[(Long, Int, Long, Double, Boolean)].collect()
    assert(got.sortBy(_._1).toSeq == batchAll.sortBy(_._1).toSeq,
      "streamed micro-batch probes != one batch probe on identical deltas")
    assert(got.nonEmpty && got.forall(r => r._4 <= 1.000001))
  }

  test("audioDenyVerdict drops a stream exactly like its batch form (r14)") {
    // the q113 online form: audio deny fingerprints fit offline, per-row
    // fingerprint→band-probe→Hamming-verify in the stream with the
    // SHARED afp4x16 stage
    val idx = MediaOps.fitAudioDenyIndex(spark, sf)
    assert(idx.hashes.nonEmpty)
    val rows = MediaOps.mediaCorpus(spark, sf)
      .where("mime = 'audio/wav'")
      .select("doc_id", "media").as[(Long, Array[Byte])].collect().toSeq
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val q = MediaOps.audioDenyVerdict(in.toDF().toDF("doc_id", "media"), idx)
      .writeStream.format("memory").queryName("audiodeny")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val online = spark.table("audiodeny")
      .select("doc_id", "n_candidates", "dropped")
      .as[(Long, Int, Boolean)].collect().sortBy(_._1).toSeq
    val batch = MediaOps.audioDenyVerdict(
        rows.toDF("doc_id", "media"), idx)
      .as[(Long, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(online == batch, "online verdicts != batch verdicts on identical rows")
    assert(online.exists(_._3) && online.exists(!_._3),
      "fixture must exercise both drop and keep")
  }

  test("pqEncodeVerdict encodes a stream with a statically fitted codebook; bit-identical to its batch call (r14)") {
    // the q112 online form: PQ codebook fit offline (m·k sub-dim
    // centroids, driver-sized), encode stateless in the stream; the
    // batch-expression lockstep is pinned in ExtensionsSpec — here the
    // STREAMING execution of the same transform
    val cells = Similarity.fitPqCells(spark, sf)
    assert(cells.nonEmpty)
    val rows = Tables.embeddings(spark, sf).limit(25)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.pqEncodeVerdict(
        in.toDF().toDF("vec_id", "embedding"), cells)
      .writeStream.format("memory").queryName("pqverdict")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("pqverdict")
      .select("vec_id", "codes", "qd").as[(Long, Array[Int], Double)].collect()
      .map { case (v, c, dd) => (v, c.toSeq, java.lang.Double.doubleToLongBits(dd)) }.toSet
    val batch = Similarity.pqEncodeVerdict(
        rows.toDF("vec_id", "embedding"), cells)
      .select("vec_id", "codes", "qd").as[(Long, Array[Int], Double)].collect()
      .map { case (v, c, dd) => (v, c.toSeq, java.lang.Double.doubleToLongBits(dd)) }.toSet
    assert(got == batch, "streaming encode != batch encode on identical vectors")
  }

  test("embeddingDriftStream: online drift monitor == batch q125 after full delivery; replay counted, psi frozen (r14)") {
    import graft.streaming.{DriftEvent, DriftReport}
    val (cells, design) = Similarity.fitDriftDesign(spark, sf)
    assert(design.baseCounts.sum == Tables.embeddings(spark, sf).count())
    // the candidate re-embed, routed statelessly with the fitted codebook
    // (the same perturbation expression as the batch q125)
    val reembed = Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        """transform(embedding, (x, i) -> cast(
          |  cast(x as double) * (case when vec_id % 10 = 0 then 2.0D else 1.0D end)
          |  + 0.05D * cast(i % 5 as double) as float)) as embedding"""
          .stripMargin.replace("\n", " "))
    val routed = Similarity.kmeansAssignVerdict(reembed, cells)
      .select("vec_id", "cid").as[(Long, Int)].collect().sortBy(_._1)
      .map { case (v, c) => DriftEvent(v, c) }
    val (first, rest) = routed.splitAt(routed.length / 2)
    val in = MemoryStream[DriftEvent](spark)
    val q = StreamingOps.embeddingDriftStream(in.toDS(), design)
      .writeStream.format("memory").queryName("driftmonitor")
      .outputMode("update").start()
    in.addData(first.toSeq: _*)
    q.processAllAvailable()
    in.addData(rest.toSeq: _*)
    q.processAllAvailable()
    // replay: the first row again — stats must freeze, dropped must count
    in.addData(first.head)
    q.processAllAvailable(); q.stop()
    val reports = spark.table("driftmonitor")
      .as[DriftReport].collect().sortBy(_.rev)
    assert(reports.length == 3)
    val batch = Similarity.embeddingDrift(spark, sf).collect()
    val batchPsi = batch.head.getDouble(4)
    val fin = reports(1) // after full delivery
    assert(fin.n_reembed == routed.length && fin.psi == batchPsi && fin.drift,
      s"online psi ${fin.psi} != batch psi $batchPsi")
    val replayed = reports(2)
    assert(replayed.psi == batchPsi && replayed.dropped == 1L && replayed.n_reembed == routed.length,
      "replay must freeze the stats and count the drop")
  }

  test("embeddingDriftStream: out-of-range cid is counted into dropped, never kills the monitor (r15)") {
    import graft.streaming.{DriftEvent, DriftReport}
    val (cells, design) = Similarity.fitDriftDesign(spark, sf)
    val k = design.baseCounts.length
    val reembed = Tables.embeddings(spark, sf).limit(8)
      .selectExpr("vec_id", "embedding")
    val routed = Similarity.kmeansAssignVerdict(reembed, cells)
      .select("vec_id", "cid").as[(Long, Int)].collect().sortBy(_._1)
      .map { case (v, c) => DriftEvent(v, c) }
    val in = MemoryStream[DriftEvent](spark)
    val q = StreamingOps.embeddingDriftStream(in.toDS(), design)
      .writeStream.format("memory").queryName("driftcorrupt")
      .outputMode("update").start()
    in.addData(routed.toSeq: _*)
    q.processAllAvailable()
    // two corrupt routings (negative and past-end cid) plus one valid —
    // pre-r15 either corrupt row threw inside flatMapGroupsWithState
    // and failed the whole query; now they count as dropped and the
    // valid row still lands
    in.addData(DriftEvent(900001L, -1), DriftEvent(900002L, k),
      DriftEvent(900003L, 0))
    q.processAllAvailable(); q.stop()
    val reports = spark.table("driftcorrupt")
      .as[DriftReport].collect().sortBy(_.rev)
    assert(reports.length == 2 && q.exception.isEmpty)
    assert(reports(1).dropped == 2L, s"corrupt cids must count: ${reports(1)}")
    assert(reports(1).n_reembed == routed.length + 1,
      "the valid row in the corrupt batch must still be counted")
  }

  test("centroidOutlierVerdict: a cid absent from the fitted stats never flags instead of throwing (r15)") {
    // Lloyd cells can end up empty in the fitted stats — a routed
    // vector then has no cluster-relative bar; the verdict must be
    // never-flag, not a NoSuchElementException that kills the stream
    val (cells, stats) = Similarity.fitOutlierScreen(spark, sf)
    val rows = Tables.embeddings(spark, sf).limit(6)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    val routedCids = Similarity.centroidOutlierVerdict(
        rows.toDF("vec_id", "embedding"), cells, stats)
      .select("cid").as[Int].collect().toSet
    assert(routedCids.nonEmpty)
    val holey = stats -- routedCids // every routed cell is now "empty"
    val got = Similarity.centroidOutlierVerdict(
        rows.toDF("vec_id", "embedding"), cells, holey)
      .select("vec_id", "outlier").as[(Long, Boolean)].collect()
    assert(got.length == rows.length && got.forall(!_._2),
      "vectors routed to stats-less cells must never flag")
  }

  test("centroidOutlierVerdict flags a stream exactly like the batch q124 screen (r14)") {
    // fit-then-stream: codebook + k-row stats fit offline, the flag
    // stateless per row — a micro-batch of mixed organic/noise vectors
    // must reproduce the batch verdicts bit-for-bit
    val (cells, stats) = Similarity.fitOutlierScreen(spark, sf)
    val organic = Tables.embeddings(spark, sf).limit(10)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    val noise = Tables.embeddings(spark, sf)
      .filter($"vec_id" % 20 === 0).limit(5)
      .selectExpr("vec_id + 400001 as vec_id",
        "transform(embedding, x -> cast(cast(x as double) * 3.0D as float)) as embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val rows = organic ++ noise
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.centroidOutlierVerdict(
        in.toDF().toDF("vec_id", "embedding"), cells, stats)
      .writeStream.format("memory").queryName("outlierverdict")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("outlierverdict")
      .select("vec_id", "cid", "dm", "outlier").as[(Long, Int, Long, Boolean)]
      .collect().toSet
    val batch = Similarity.centroidOutlierVerdict(
        rows.toDF("vec_id", "embedding"), cells, stats)
      .as[(Long, Int, Long, Boolean)].collect().toSet
    assert(got == batch, "streaming verdicts != batch verdicts on identical vectors")
    assert(got.count(_._4) == 5 && got.filter(_._4).forall(_._1 > 400000),
      "exactly the five noise rows must flag")
  }

  test("kmeansAssignVerdict routes a stream with statically fitted centroids; bit-identical to batch assignment") {
    // the q84 online form: centroids fit offline (k×dim doubles,
    // driver-sized), assignment stateless in the stream — the
    // fit-then-stream discipline of classifier/DSIR/perplexity
    val cells = Similarity.fitKmeansCells(spark, sf)
    assert(cells.nonEmpty && cells.map(_.cid).distinct.length == cells.length)
    val rows = Tables.embeddings(spark, sf).limit(25)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.kmeansAssignVerdict(
        in.toDF().toDF("vec_id", "embedding"), cells)
      .writeStream.format("memory").queryName("kmverdict")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("kmverdict")
      .select("vec_id", "cid", "d").as[(Long, Int, Double)].collect()
      .map { case (v, c, dd) => (v, c, java.lang.Double.doubleToLongBits(dd)) }.toSet
    val (emb, cellsDf) = Similarity.kmFitFrames(spark, sf, 10, 3)
    val ids = rows.map(_._1).toSet
    val batch = Similarity.kmAssign(emb, cellsDf)
      .filter($"vec_id".isin(ids.toSeq: _*))
      .select("vec_id", "cid", "d").as[(Long, Int, Double)].collect()
      .map { case (v, c, dd) => (v, c, java.lang.Double.doubleToLongBits(dd)) }.toSet
    assert(got == batch, "online assignment != batch expression on identical vectors")
  }

  test("q89's online form: frequentLines at threshold 2 over windows == the batch dup-window set") {
    // a duplicated SPAN is a window reaching two distinct docs — the
    // q69 frequent-line machinery at threshold 2, reused verbatim over
    // the q89 window-occurrence stream (shared code, not a twin impl)
    import graft.streaming.{LineOcc, FrequentLine}
    val occs = TextAnalysis.windowOccurrences(spark, sf)
      .selectExpr("win as line", "doc_id").as[LineOcc].collect().sortBy(_.doc_id)
    val batchDup = TextAnalysis.windowOccurrences(spark, sf)
      .groupBy("win")
      .agg((min($"doc_id") =!= max($"doc_id")).as("dup"))
      .filter($"dup").select("win").as[String].collect().toSet
    val (b1, b2) = occs.splitAt(occs.length / 2)
    val in = MemoryStream[LineOcc](spark)
    val q = StreamingOps.frequentLines(in.toDS(), threshold = 2L)
      .writeStream.format("memory").queryName("windupes")
      .outputMode("append").start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    val got = spark.table("windupes").as[FrequentLine].collect()
    assert(got.map(_.line).toSet == batchDup,
      "online dup-window set != batch q89 dup set")
    assert(got.forall(_.df >= 2L))
    assert(got.map(_.line).distinct.length == got.length, "a window emitted twice")
  }

  test("trendingStream: per-source MG summaries carry the q93 guarantee online; replay counted, frozen") {
    import graft.streaming.{TrendDoc, TrendReport}
    // per-doc planted head (the q93 fixture idiom): heavy 'hot' tag per
    // source so the per-source guarantee set is non-empty while the
    // 31-word base stays under the bar and overflows the counters
    val docs = Tables.documents(spark, sf)
      .selectExpr("source", "doc_id",
        "concat(split(text, ' '), array_repeat('hot', cast(n_chars div 4 as int))) as toks")
      .as[TrendDoc].collect().sortBy(_.doc_id)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[TrendDoc](spark)
    val q = StreamingOps.trendingStream(in.toDS())
      .writeStream.format("memory").queryName("trendmonitor")
      .outputMode("update").start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    def latest(): Map[String, Seq[TrendReport]] = {
      val all = spark.table("trendmonitor").as[TrendReport].collect()
      val rev = all.groupBy(_.source).view.mapValues(_.map(_.rev).max).toMap
      all.filter(r => r.rev == rev(r.source)).groupBy(_.source)
        .view.mapValues(_.toSeq).toMap
    }
    val fin = latest()
    val exact = docs.groupBy(_.source).view.mapValues { ds =>
      (ds.iterator.map(_.toks.length.toLong).sum,
       ds.flatMap(_.toks).groupBy(identity).view.mapValues(_.size.toLong).toMap)
    }.toMap
    exact.foreach { case (src, (n, counts)) =>
      val summary = fin(src)
      assert(summary.length <= TextAnalysis.mgK, s"$src summary exceeds the counter bound")
      assert(summary.head.n == n, s"$src stream length diverged")
      assert(counts.size > TextAnalysis.mgK, "fixture must overflow the counters per source")
      val bar = n / (TextAnalysis.mgK + 1).toLong
      val est = summary.map(r => r.tok -> r.est).toMap
      counts.filter(_._2 > bar).foreach { case (t, c) =>
        val e = est.getOrElse(t, fail(s"$src: guaranteed item $t missing online"))
        assert(e <= c && (c - e) <= bar, s"$src/$t: est $e vs exact $c breaks the bound")
      }
      assert(counts.keys.exists(t => !est.contains(t)),
        s"$src: bounded memory unproven — every token fit")
    }
    // replay: summaries frozen, drops counted per key
    in.addData(b1: _*); q.processAllAvailable(); q.stop()
    val after = latest()
    after.foreach { case (src, rs) =>
      val before = fin(src).map(r => (r.tok, r.est, r.n)).toSet
      assert(rs.map(r => (r.tok, r.est, r.n)).toSet == before,
        s"$src: replay moved the summary")
      val share = b1.count(_.source == src).toLong
      assert(rs.forall(_.dropped == share), s"$src: dropped != replayed share $share")
    }
  }

  test("psiDriftStream: online drift monitor == batch q94 after full delivery; replay counted, stats frozen") {
    import graft.streaming.{PsiEvent, PsiReport}
    val batch = RelOps.psiDrift(spark, sf)
      .select("event_type", "week_from", "week_to", "n_from", "n_to", "psi", "drift")
      .as[(String, Long, Long, Long, Long, Double, Boolean)]
      .collect().toSet
    // binning frame fit offline (global extremes — the fit-then-stream rule)
    val design = RelOps.fitPsiDesign(spark, sf)
    assert(design.vmax > design.vmin)
    val rows = Tables.events(spark, sf)
      .selectExpr("event_type", "event_id", "ts_us", "value")
      .as[PsiEvent].collect().sortBy(_.event_id)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[PsiEvent](spark)
    val q = StreamingOps.psiDriftStream(in.toDS(), design)
      .writeStream.format("memory").queryName("psimonitor")
      .outputMode("update").start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    def latest(): Seq[PsiReport] = {
      val all = spark.table("psimonitor").as[PsiReport].collect()
      val rev = all.groupBy(_.event_type).view.mapValues(_.map(_.rev).max).toMap
      all.filter(r => r.rev == rev(r.event_type)).toSeq
    }
    val afterAll = latest()
    val gotFinal = afterAll.map(r =>
      (r.event_type, r.week_from, r.week_to, r.n_from, r.n_to, r.psi, r.drift)).toSet
    assert(gotFinal == batch, "online PSI monitor's final report != batch q94")
    assert(afterAll.forall(_.dropped == 0L), "clean run reported drops")
    // at-least-once redelivery: stats frozen, drops counted per key
    in.addData(b1: _*); q.processAllAvailable(); q.stop()
    val afterReplay = latest()
    val replayFinal = afterReplay.map(r =>
      (r.event_type, r.week_from, r.week_to, r.n_from, r.n_to, r.psi, r.drift)).toSet
    assert(replayFinal == batch, "replayed batch moved the monitor's stats")
    val b1ByKey = b1.groupBy(_.event_type).map { case (k, es) => k -> es.length.toLong }
    afterReplay.groupBy(_.event_type).foreach { case (k, rs) =>
      assert(rs.forall(_.dropped == b1ByKey(k)),
        s"key $k: dropped != replayed share ${b1ByKey(k)}")
    }
  }

  test("lexProbeStream: online serving from the standing lexical index == the batch q132 probe; replay emits nothing (r15)") {
    import graft.streaming.{LexHit, LexQuery}
    val path = TextAnalysis.lexIndexPathFor(sf) + "-serve"
    TextAnalysis.buildLexIndex(spark, sf, path)
    val batch = TextAnalysis.lexIndexProbeStored(spark, sf, path).collect()
      .zipWithIndex.map { case (r, i) =>
        (i + 1, r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }.toSeq
    assert(batch.length == 10)
    // the request carries the same derived terms the batch probe used
    val qt = TextAnalysis.bm25QueryTerms(
        TextAnalysis.lexTermsOf(spark, path), TextAnalysis.lexStatsOf(spark, path))
      .select("term").as[String].collect().toSeq
    assert(qt.length == 3)
    val in = MemoryStream[LexQuery](spark)
    val q = StreamingOps.lexProbeStream(in.toDS(), path, servedTtlMillis = 0L)
      .writeStream.format("memory").queryName("lexserve")
      .outputMode("update").start()
    in.addData(LexQuery(7L, qt))
    q.processAllAvailable()
    // a second, narrower query (one term) and a REPLAY of query 7
    in.addData(LexQuery(8L, qt.take(1)), LexQuery(7L, qt))
    q.processAllAvailable(); q.stop()
    val got = spark.table("lexserve").as[LexHit].collect()
    val got7 = got.filter(_.query_id == 7L).sortBy(_.rank)
      .map(h => (h.rank, h.doc_id, java.lang.Double.doubleToLongBits(h.bm25))).toSeq
    assert(got7 == batch, "served ranking != batch standing-index probe")
    assert(got.count(_.query_id == 7L) == 10, "replayed query re-emitted hits")
    val got8 = got.filter(_.query_id == 8L)
    assert(got8.nonEmpty && got8.length <= 10 &&
      got8.map(_.rank).sorted.sameElements(1 to got8.length),
      "single-term query not served with dense ranks")
  }

  test("hybridServeStream: online hybrid serving from both standing indexes == batch q133; replay emits nothing (r15)") {
    import graft.streaming.{HybridHit, HybridQuery}
    val lexPath = TextAnalysis.lexIndexPathFor(sf) + "-hserve"
    TextAnalysis.buildLexIndex(spark, sf, lexPath)
    val annPath = Similarity.annIndexPathFor(sf) + "-hserve"
    Similarity.buildAnnIndex(spark, sf, annPath)
    val batch = Similarity.hybridIndexProbe(spark, sf, lexPath, annPath).collect()
      .zipWithIndex.map { case (r, i) =>
        (i + 1, r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)))
      }.toSeq
    assert(batch.length == 10)
    val qt = TextAnalysis.bm25QueryTerms(
        TextAnalysis.lexTermsOf(spark, lexPath), TextAnalysis.lexStatsOf(spark, lexPath))
      .select("term").as[String].collect().toSeq
    val qe = Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select("embedding").as[Array[Float]].collect()(0)
    val in = MemoryStream[HybridQuery](spark)
    val q = StreamingOps.hybridServeStream(in.toDS(), lexPath, annPath,
        servedTtlMillis = 0L)
      .writeStream.format("memory").queryName("hybridserve")
      .outputMode("update").start()
    in.addData(HybridQuery(99L, qt, qe))
    q.processAllAvailable()
    in.addData(HybridQuery(99L, qt, qe)) // replay
    q.processAllAvailable(); q.stop()
    val got = spark.table("hybridserve").as[HybridHit].collect()
    assert(got.length == 10, s"replay re-emitted: ${got.length} rows")
    val gotSeq = got.sortBy(_.rank)
      .map(h => (h.rank, h.item_id, h.n_lists, java.lang.Double.doubleToLongBits(h.rrf))).toSeq
    assert(gotSeq == batch, "served hybrid ranking != batch q133")
    // the dense head found the indexed copy of the request item itself
    assert(got.exists(h => h.item_id == 0L && h.rank == 1),
      "the indexed copy of the query item should lead the fusion")
  }

  test("lexIngestStream: online ingest into the standing BM25 index converges to the one-shot batch merge; hybrid serving reads the merged artifact (r19, VERDICT r18 #1)") {
    // A ingests the delta docs as a STREAM (two micro-batches + an
    // at-least-once full replay), B merges them once in batch — the
    // artifacts must agree: postings/doclens row-for-row, terms/stats as
    // FOLDED values (segmentation may differ, the statistics must not)
    val pathA = TextAnalysis.lexIndexPathFor(sf) + "-lingestA"
    val pathB = TextAnalysis.lexIndexPathFor(sf) + "-lingestB"
    TextAnalysis.buildLexIndex(spark, sf, pathA)
    TextAnalysis.buildLexIndex(spark, sf, pathB)
    val delta = Tables.documents(spark, sf).filter($"doc_id" % 7 === 3)
      .selectExpr("doc_id + 100000 as doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(delta.nonEmpty)
    val (b1, b2) = delta.splitAt(delta.length / 2)
    // a probe PLANNED pre-merge must never be invalidated (append-only)
    val midMergeProbe = spark.read.parquet(s"$pathA/postings")
    val preCount = midMergeProbe.count()
    val in = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.lexIngestStream(
      in.toDF().toDF("doc_id", "text"), pathA).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(delta: _*) // at-least-once full replay
    q.processAllAvailable(); q.stop()
    assert(midMergeProbe.count() == preCount,
      "a probe planned pre-merge saw the merge's writes (or lost files)")
    val (nA, nR) = TextAnalysis.mergeLexBatchIntoIndex(
      delta.toDF("doc_id", "text"), pathB, seg = 1L)
    assert(nA == delta.length && nR == 0)
    def rows(p: String, sub: String): Seq[String] =
      spark.read.parquet(s"$p/$sub").drop("tb").collect()
        .map(_.toString).sorted.toSeq
    assert(rows(pathA, "postings") == rows(pathB, "postings"),
      "streamed ingest diverged from batch merge on postings")
    assert(rows(pathA, "doclens") == rows(pathB, "doclens"),
      "streamed ingest diverged on doclens")
    def folded(p: String): (Seq[String], Seq[String]) = (
      TextAnalysis.lexTermsOf(spark, p).collect().map(_.toString).sorted.toSeq,
      TextAnalysis.lexStatsOf(spark, p).collect().map(_.toString).toSeq)
    assert(folded(pathA) == folded(pathB),
      "folded dictionary/statistics diverged between streamed and batch merge")
    // idf/avgdl re-priced: the folded doc count includes the delta
    val st = TextAnalysis.lexStatsOf(spark, pathA).head()
    val base = Tables.documents(spark, sf).count()
    assert(st.getLong(0) == base + delta.length,
      s"n_docs not re-priced: ${st.getLong(0)} != ${base + delta.length}")
    // probes and HYBRID SERVING read the merged artifact identically
    val probeA = TextAnalysis.lexIndexProbeStored(spark, sf, pathA).collect()
    val probeB = TextAnalysis.lexIndexProbeStored(spark, sf, pathB).collect()
    assert(probeA.map(_.toString).toSeq == probeB.map(_.toString).toSeq)
    val annPath = Similarity.annIndexPathFor(sf) + "-lingest"
    Similarity.buildAnnIndex(spark, sf, annPath)
    val hA = Similarity.hybridIndexProbe(spark, sf, pathA, annPath).collect()
    val hB = Similarity.hybridIndexProbe(spark, sf, pathB, annPath).collect()
    assert(hA.length == 10 &&
      hA.map(_.toString).toSeq == hB.map(_.toString).toSeq,
      "q133 hybrid serving diverged on the online-merged lexical artifact")
  }

  test("lexForgetStream: streamed takedowns converge to the batch forget; early takedowns pend until arrival; crash-dupe segments collapse at read (r19)") {
    val pathA = TextAnalysis.lexIndexPathFor(sf) + "-lforgetA"
    val pathB = TextAnalysis.lexIndexPathFor(sf) + "-lforgetB"
    TextAnalysis.buildLexIndex(spark, sf, pathA)
    TextAnalysis.buildLexIndex(spark, sf, pathB)
    val victims = Tables.documents(spark, sf).filter($"doc_id" % 7 === 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(victims.nonEmpty)
    val (v1, v2) = victims.splitAt(victims.length / 2)
    val in = MemoryStream[Long](spark)
    val q = StreamingOps.lexForgetStream(in.toDF().toDF("doc_id"), pathA).start()
    in.addData(v1: _*); q.processAllAvailable()
    in.addData(v2: _*); q.processAllAvailable()
    in.addData(victims: _*) // at-least-once full replay: appends nothing
    q.processAllAvailable(); q.stop()
    assert(TextAnalysis.forgetLexFromIndex(
      victims.toDF("doc_id"), pathB, seg = 1L) == victims.length)
    def tombs(p: String) = spark.read.parquet(s"$p/tombstones")
      .as[Long].collect().sorted.toSeq
    assert(tombs(pathA) == victims && tombs(pathB) == victims)
    def folded(p: String): (Seq[String], Seq[String]) = (
      TextAnalysis.lexTermsOf(spark, p).collect().map(_.toString).sorted.toSeq,
      TextAnalysis.lexStatsOf(spark, p).collect().map(_.toString).toSeq)
    assert(folded(pathA) == folded(pathB),
      "streamed takedown statistics diverged from the batch forget")
    // the post-takedown probe == the q143 oracle semantics (survivors)
    val probeA = TextAnalysis.lexIndexProbeStored(spark, sf, pathA).collect()
    val probeB = TextAnalysis.lexIndexProbeStored(spark, sf, pathB).collect()
    assert(probeA.map(_.toString).toSeq == probeB.map(_.toString).toSeq)
    assert(!probeA.exists(r => r.getLong(0) % 7 == 3),
      "a takedown victim surfaced in the post-forget ranking")
    // EARLY takedown: id 999999 was never admitted — it pends, then its
    // first arrival is refused and tombstoned (the media q137 ordering)
    assert(TextAnalysis.forgetLexFromIndex(
      Seq(999999L).toDF("doc_id"), pathA, seg = 7L) == 0L)
    assert(TextAnalysis.lexPendingOf(spark, pathA)
      .as[Long].collect().toSeq == Seq(999999L))
    val (admEarly, refEarly) = TextAnalysis.mergeLexBatchIntoIndex(
      Seq((999999L, "pending victim text")).toDF("doc_id", "text"), pathA, seg = 9L)
    assert(admEarly == 0L && refEarly == 1L, "pending takedown did not refuse the arrival")
    assert(TextAnalysis.lexPendingOf(spark, pathA).isEmpty, "pending entry not consumed")
    assert(tombs(pathA).contains(999999L), "delivered pending takedown not tombstoned")
    // crash-window replay: re-append one victim batch's EXACT negative
    // contribution rows (what a mid-crash redelivery produces) — the
    // read-side distinct must collapse them, not double-subtract
    val before = folded(pathA)
    val negRows = spark.read.parquet(s"$pathA/stats").filter($"seg" === 0L)
    assert(negRows.count() == 1) // the streamed v1 batch's segment
    negRows.write.mode("append").parquet(s"$pathA/stats")
    assert(folded(pathA)._2 == before._2,
      "a replayed (duplicate) contribution segment double-counted at read")
  }

  test("compactLexIndex: versioned physical deletion — old version intact for in-flight probes, probe rows unchanged, GC retires the tail (r19)") {
    val path = TextAnalysis.lexIndexPathFor(sf) + "-lcompact"
    TextAnalysis.buildLexIndex(spark, sf, path)
    // nothing to compact: no version is minted (the fixed-point cost)
    TextAnalysis.compactLexIndex(spark, path)
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == path)
    val victims = Tables.documents(spark, sf).filter($"doc_id" % 7 === 3)
      .select("doc_id")
    val nV = TextAnalysis.forgetLexFromIndex(victims, path, seg = 1L)
    assert(nV > 0)
    val probePre = TextAnalysis.lexIndexProbeStored(spark, sf, path).collect()
      .map(_.toString).toSeq
    val flatPostings = spark.read.parquet(s"$path/postings").count()
    TextAnalysis.compactLexIndex(spark, path)
    val v2 = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(v2 == s"$path/versions/v00002", s"live root $v2")
    // the flat artifacts stay byte-count-identical for in-flight readers
    assert(spark.read.parquet(s"$path/postings").count() == flatPostings)
    // physical deletion: no victim row survives in the new version
    assert(spark.read.parquet(s"$v2/doclens")
      .filter($"doc_id" % 7 === 3).count() == 0)
    assert(spark.read.parquet(s"$v2/postings")
      .filter($"doc_id" % 7 === 3).count() == 0)
    // one collapsed contribution segment each
    assert(spark.read.parquet(s"$v2/stats").count() == 1)
    // the probe answer is UNCHANGED by compaction (lazy == physical)
    val probePost = TextAnalysis.lexIndexProbeStored(spark, sf, path).collect()
      .map(_.toString).toSeq
    assert(probePost == probePre, "compaction moved the probe answer")
    // re-run: nothing left to compact (victims physical, one segment)
    TextAnalysis.compactLexIndex(spark, path)
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == v2)
    // merges fold into the live version; a second compaction's GC
    // retires the flat root (keep=2 window filled)
    TextAnalysis.mergeLexBatchIntoIndex(
      Seq((888888L, "fresh doc after compaction")).toDF("doc_id", "text"),
      path, seg = 5L)
    assert(spark.read.parquet(s"$v2/doclens").filter($"doc_id" === 888888L).count() == 1,
      "merge must target the live version")
    TextAnalysis.compactLexIndex(spark, path) // segments > 1 -> v00003 + GC
    val v3 = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(v3 == s"$path/versions/v00003")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/postings")),
      "compaction's GC must retire the flat root once the keep window fills")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$v2/postings")))
    // the root logs survive GC (audit trail + merge replay guard)
    assert(spark.read.parquet(s"$path/tombstones").count() == nV)
    // post-GC probe serves from the live version, victims still gone,
    // the merged doc present
    val probeFinal = TextAnalysis.lexIndexProbeStored(spark, sf, path)
    assert(probeFinal.collect().length == 10)
    assert(spark.read.parquet(s"$v3/doclens").filter($"doc_id" === 888888L).count() == 1)
  }

  test("lexical maintenance policy: tombstone-heavy takedowns and segment fragmentation auto-compact — no operator call (r19)") {
    val path = TextAnalysis.lexIndexPathFor(sf) + "-lmaint"
    TextAnalysis.buildLexIndex(spark, sf, path)
    // 10/500 = 2% victims: under the fraction — lazy deletion only
    assert(TextAnalysis.forgetLexFromIndex(
      Tables.documents(spark, sf).filter($"doc_id" % 50 === 0).select("doc_id"),
      path, seg = 1L) > 0)
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == path,
      "policy fired under the tombstone threshold")
    // ~35% cumulative victims: the forget's OWN maintenance tail compacts
    assert(TextAnalysis.forgetLexFromIndex(
      Tables.documents(spark, sf).filter($"doc_id" % 3 === 1).select("doc_id"),
      path, seg = 2L) > 0)
    val v2 = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(v2.startsWith(s"$path/versions/"),
      "tombstone-fraction trigger did not compact")
    assert(spark.read.parquet(s"$v2/doclens").filter($"doc_id" % 3 === 1).count() == 0,
      "auto-compaction left victims physical")
    assert(spark.read.parquet(s"$v2/stats").count() == 1,
      "auto-compaction did not collapse the contribution logs")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/postings")),
      "first compaction must keep the flat root for in-flight readers")
    // segment-fragmentation leg: drop the limit, the second appended
    // segment crosses it and the MERGE's tail compacts
    spark.conf.set("spark.graft.lexCompactSegments", "1")
    try {
      TextAnalysis.mergeLexBatchIntoIndex(
        Seq((777001L, "alpha beta")).toDF("doc_id", "text"), path, seg = 10L)
      assert(IndexLifecycle.resolveIndexRoot(spark, path) == v2,
        "one appended segment must not trigger at limit 1")
      TextAnalysis.mergeLexBatchIntoIndex(
        Seq((777002L, "beta gamma")).toDF("doc_id", "text"), path, seg = 11L)
      val v3 = IndexLifecycle.resolveIndexRoot(spark, path)
      assert(v3 != v2, "segment-fragmentation trigger did not compact")
      assert(spark.read.parquet(s"$v3/stats").count() == 1)
      assert(spark.read.parquet(s"$v3/doclens")
        .filter($"doc_id" >= 777001L).count() == 2,
        "merged docs lost across the fragmentation compaction")
    } finally spark.conf.unset("spark.graft.lexCompactSegments")
    // the probe serves the auto-maintained artifact: victims gone,
    // statistics re-priced to the survivors (single folded segment)
    val probe = TextAnalysis.lexIndexProbeStored(spark, sf, path).collect()
    assert(probe.length == 10)
    assert(!probe.exists(r => r.getLong(0) % 3 == 1 || r.getLong(0) % 50 == 0),
      "a takedown victim surfaced after auto-maintenance")
  }

  test("lexProbeStream: served markers retire after the TTL — a late replay re-serves identically (r16, r15 advice)") {
    import graft.streaming.{LexHit, LexQuery}
    val path = TextAnalysis.lexIndexPathFor(sf) + "-servettl"
    TextAnalysis.buildLexIndex(spark, sf, path)
    val qt = TextAnalysis.bm25QueryTerms(
        TextAnalysis.lexTermsOf(spark, path), TextAnalysis.lexStatsOf(spark, path))
      .select("term").as[String].collect().toSeq
    // 3 s, not sub-second — the q69 TTL spec's full-suite-load rule
    val ttlMs = 3000L
    val in = MemoryStream[LexQuery](spark)
    val q = StreamingOps.lexProbeStream(in.toDS(), path, servedTtlMillis = ttlMs)
      .writeStream.format("memory").queryName("lexservettl")
      .outputMode("update").start()
    def awaitInput(total: Long): Unit = {
      val dl = System.currentTimeMillis() + 60000L
      while (q.recentProgress.map(_.numInputRows).sum < total &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(q.recentProgress.map(_.numInputRows).sum >= total,
        s"stream did not consume $total rows in time")
    }
    // the q69 spec's two-batch rule: a batch that STARTS after the lapse
    // is the one whose timeout check retires the marker
    def awaitTimeoutBatch(): Unit = {
      Thread.sleep(ttlMs + 400L)
      val b0 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val dl = System.currentTimeMillis() + 60000L
      while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < b0 + 2 &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= b0 + 2,
        "no timeout-check batch completed after the TTL lapsed")
    }
    in.addData(LexQuery(7L, qt))
    awaitInput(1L)
    val first = spark.table("lexservettl").as[LexHit].collect()
    assert(first.length == 10, "initial serve incomplete")
    // marker now retired — a LATE replay re-serves (the benign error
    // direction: duplicate answer, never a lost one) with identical hits
    awaitTimeoutBatch()
    in.addData(LexQuery(7L, qt))
    awaitInput(2L)
    val dl = System.currentTimeMillis() + 60000L
    while (spark.table("lexservettl").count() < 20 &&
           System.currentTimeMillis() < dl) Thread.sleep(50L)
    val all = spark.table("lexservettl").as[LexHit].collect()
    assert(all.length == 20, s"late replay after TTL must re-serve: ${all.length}")
    val byRank = all.groupBy(_.rank)
    assert(byRank.size == 10 &&
      byRank.values.forall(v => v.length == 2 && v(0) == v(1)),
      "re-served ranking != original serve")
    q.stop()
  }

  test("lexProbeStream: a PRE-TTL replay re-arms the marker's timeout — it still retires, a late replay re-serves (r17, r16 advice)") {
    import graft.streaming.{LexHit, LexQuery}
    // Spark cancels a group's previously-set timeout on every function
    // invocation: a replay arriving BEFORE the TTL used to permanently
    // disarm the served marker (retained forever, later replays never
    // re-served). The fixed branch re-arms on every sighting.
    val path = TextAnalysis.lexIndexPathFor(sf) + "-servettl2"
    TextAnalysis.buildLexIndex(spark, sf, path)
    val qt = TextAnalysis.bm25QueryTerms(
        TextAnalysis.lexTermsOf(spark, path), TextAnalysis.lexStatsOf(spark, path))
      .select("term").as[String].collect().toSeq
    val ttlMs = 3000L
    val in = MemoryStream[LexQuery](spark)
    val q = StreamingOps.lexProbeStream(in.toDS(), path, servedTtlMillis = ttlMs)
      .writeStream.format("memory").queryName("lexservettl2")
      .outputMode("update").start()
    def awaitInput(total: Long): Unit = {
      val dl = System.currentTimeMillis() + 60000L
      while (q.recentProgress.map(_.numInputRows).sum < total &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(q.recentProgress.map(_.numInputRows).sum >= total,
        s"stream did not consume $total rows in time")
    }
    def awaitTimeoutBatch(): Unit = {
      Thread.sleep(ttlMs + 400L)
      val b0 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val dl = System.currentTimeMillis() + 60000L
      while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < b0 + 2 &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= b0 + 2,
        "no timeout-check batch completed after the TTL lapsed")
    }
    in.addData(LexQuery(9L, qt))
    awaitInput(1L)
    assert(spark.table("lexservettl2").count() == 10, "initial serve incomplete")
    // EARLY replay, well inside the TTL: suppressed (marker live) — and
    // the timeout must be re-armed by this very invocation
    in.addData(LexQuery(9L, qt))
    awaitInput(2L)
    assert(spark.table("lexservettl2").count() == 10,
      "pre-TTL replay must be suppressed")
    // after the (re-armed) TTL lapses the marker retires; a late replay
    // re-serves identically — with the disarm bug, state is retained
    // forever and this emits nothing
    awaitTimeoutBatch()
    in.addData(LexQuery(9L, qt))
    awaitInput(3L)
    val dl = System.currentTimeMillis() + 60000L
    while (spark.table("lexservettl2").count() < 20 &&
           System.currentTimeMillis() < dl) Thread.sleep(50L)
    val all = spark.table("lexservettl2").as[LexHit].collect()
    assert(all.length == 20,
      s"late replay after a pre-TTL replay must re-serve: ${all.length}")
    val byRank2 = all.groupBy(_.rank)
    assert(byRank2.size == 10 &&
      byRank2.values.forall(v => v.length == 2 && v(0) == v(1)),
      "re-served ranking != original serve")
    q.stop()
  }

  test("forgetStream: streamed takedowns + full replay converge to the one-shot batch delete — assignments AND tombstones (r16)") {
    // A forgets via the STREAM (two micro-batches + an at-least-once full
    // replay), B via the batch q135 core once — both artifacts must agree
    val pathA = Similarity.forgetIndexPathFor(sf) + "-streamA"
    val pathB = Similarity.forgetIndexPathFor(sf) + "-streamB"
    Similarity.buildAnnIndex(spark, sf, pathA)
    Similarity.buildAnnIndex(spark, sf, pathB)
    val victims = spark.read.parquet(s"$pathB/assignments")
      .filter($"vec_id" % 50 === 0).select("vec_id").as[Long]
      .collect().sorted.toSeq
    assert(victims.nonEmpty)
    val (b1, b2) = victims.splitAt(victims.length / 2)
    val in = MemoryStream[Long](spark)
    val q = StreamingOps.forgetStream(in.toDF().toDF("vec_id"), pathA).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(victims: _*) // at-least-once full replay
    q.processAllAvailable(); q.stop()
    Similarity.forgetVictimIdsFrom(
      spark.read.parquet(s"$pathB/assignments")
        .filter($"vec_id" % 50 === 0).select("vec_id"), pathB)
    def rows(p: String, sub: String): Seq[String] =
      spark.read.parquet(s"$p/$sub").collect()
        .map(_.toString).sorted.toSeq
    assert(rows(pathA, "assignments") == rows(pathB, "assignments"),
      "streamed forget diverged from batch delete on the index")
    assert(rows(pathA, "tombstones") == rows(pathB, "tombstones"),
      "streamed forget diverged from batch delete on the tombstone log")
    // deletion is lazy (r19): the LIVE view excludes every victim
    assert(Similarity.liveAssignments(spark, pathA)
      .filter($"vec_id" % 50 === 0).isEmpty,
      "victims survived the streamed delete in the live view")
    // PENDING-FORGET ordering (r19c — the media q137 discipline at
    // vector grain): a takedown racing ahead of its id's first arrival
    // pends, then the arrival is refused and permanently tombstoned
    Similarity.forgetVictimIdsFrom(Seq(999999L).toDF("vec_id"), pathA)
    assert(spark.read.parquet(s"$pathA/pending")
      .as[Long].collect().toSeq == Seq(999999L), "early takedown not pending")
    // re-delivered early takedown appends nothing
    Similarity.forgetVictimIdsFrom(Seq(999999L).toDF("vec_id"), pathA)
    assert(spark.read.parquet(s"$pathA/pending").count() == 1)
    val lateVec = Similarity.annDelta(spark, sf)
      .select("embedding").as[Array[Float]].head()
    Similarity.mergeDeltaIntoIndex(
      Seq((999999L, lateVec)).toDF("vec_id", "embedding"), pathA)
    assert(Similarity.liveAssignments(spark, pathA)
      .filter($"vec_id" === 999999L).isEmpty,
      "pending takedown did not refuse the late arrival")
    assert(spark.read.parquet(s"$pathA/tombstones")
      .filter($"vec_id" === 999999L).count() == 1,
      "consumed pending forget must tombstone the id")
    // r20: a consume that EMPTIES the log deletes the directory — no
    // future merge pays a dead existence check + empty broadcast join
    assert(!ScratchPaths.artifactExists(spark, s"$pathA/pending/_SUCCESS"),
      "fully-consumed pending log must be deleted, not rewritten empty")
    // at-least-once replay of the late arrival stays refused
    Similarity.mergeDeltaIntoIndex(
      Seq((999999L, lateVec)).toDF("vec_id", "embedding"), pathA)
    assert(Similarity.liveAssignments(spark, pathA)
      .filter($"vec_id" === 999999L).isEmpty)
  }

  test("forgetVictimIdsFrom: a fully-victimized cell leaves the live view at once and the rebuilt version physically, stored files untouched (r16→r19)") {
    // build a tiny 2-cell artifact by hand: cell 0's rows are ALL victims
    val path = Similarity.forgetIndexPathFor(sf) + "-emptycell"
    val mk = (id: Long, cell: Int) =>
      (id, cell.toLong, Array(1.0f, 0.0f), 1.0, cell)
    Seq(mk(1L, 0), mk(2L, 0), mk(3L, 1), mk(4L, 1), mk(5L, 1))
      .toDF("vec_id", "label", "embedding", "nrm", "c_label")
      .write.mode("overwrite").partitionBy("c_label")
      .parquet(s"$path/assignments")
    Similarity.forgetVictimIdsFrom(
      Seq(1L, 2L, 4L).toDF("vec_id"), path)
    // lazy deletion (r19): the stored rows stay, every LIVE read excludes
    // the victims — including the whole of fully-victimized cell 0
    val kept = Similarity.liveAssignments(spark, path)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 5L),
      s"victims of the fully-hit cell must not survive the live view: $kept")
    assert(spark.read.parquet(s"$path/assignments").count() == 5,
      "the lazy takedown rewrote the stored artifact")
    val tombs = spark.read.parquet(s"$path/tombstones")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(tombs == Seq(1L, 2L, 4L), s"tombstone log wrong: $tombs")
    // re-run converges (idempotent): nothing newly tombstoned
    Similarity.forgetVictimIdsFrom(Seq(1L, 2L, 4L).toDF("vec_id"), path)
    assert(Similarity.liveAssignments(spark, path)
      .select("vec_id").as[Long].collect().sorted.toSeq == Seq(3L, 5L))
    assert(spark.read.parquet(s"$path/tombstones")
      .select("vec_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    // the rebuild makes it physical: the new version stores ONLY the
    // survivors — the fully-victimized cell never materializes
    val newRoot = Similarity.rebuildAnnIndex(spark, path)
    assert(spark.read.parquet(s"$newRoot/assignments")
      .select("vec_id").as[Long].collect().sorted.toSeq == Seq(3L, 5L),
      "rebuild must physically drop the tombstoned rows")
  }

  test("annIngestStream: micro-batch ingestion converges to the one-shot batch merge; replayed batch is a no-op (r15)") {
    // two artifacts from the same base index: A ingests the delta as a
    // STREAM (two micro-batches + a full replay), B merges it once in
    // batch — the artifacts must agree row for row, bit for bit
    val pathA = Similarity.mergeIndexPathFor(sf) + "-ingestA"
    val pathB = Similarity.mergeIndexPathFor(sf) + "-ingestB"
    Similarity.buildAnnIndex(spark, sf, pathA)
    Similarity.buildAnnIndex(spark, sf, pathB)
    val delta = Similarity.annDelta(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).toSeq
    assert(delta.nonEmpty)
    val (b1, b2) = delta.splitAt(delta.length / 2)
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamingOps.annIngestStream(
        in.toDF().toDF("vec_id", "embedding"), pathA)
      .start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(delta: _*) // at-least-once full replay
    q.processAllAvailable(); q.stop()
    Similarity.mergeDeltaIntoIndex(
      Similarity.annDelta(spark, sf).select("vec_id", "embedding"), pathB)
    def rows(p: String) = spark.read.parquet(s"$p/assignments")
      .selectExpr("vec_id", "label", "c_label",
        "cast(nrm as double) as nrm", "embedding")
      .collect()
      .map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        r.get(2).toString, r.getSeq[Float](4).toList))
      .sortBy(_._1).toSeq
    assert(rows(pathA) == rows(pathB),
      "streamed ingestion diverged from the one-shot batch merge")
  }

  test("mediaIngestStream: online admission against the standing perceptual index — dups refused, replay converges, standing population grows (r17)") {
    val path = java.nio.file.Files.createTempDirectory("graft-mediaingest").toString
    MediaOps.buildMediaIndex(spark, sf, path)
    val vecs0 = spark.read.parquet(s"$path/vecs").count()
    val bands0 = spark.read.parquet(s"$path/bands").count()
    // a RE-ENCODE of an admitted doc (+1 every 11th byte of an indexed
    // png payload — the q136 delta model) and one genuinely-new payload
    val srcBytes = MediaOps.mediaCorpus(spark, sf)
      .filter("mime = 'image/png' and length(media) >= 72")
      .orderBy("doc_id").select("media").head().getAs[Array[Byte]](0)
    val dupOfIndexed = srcBytes.zipWithIndex.map { case (b, i) =>
      if (i % 11 == 0) (b + 1).toByte else b }
    val newDoc = Array.tabulate(300)(i =>
      ((i * i * 31 + i * 7 + 5) % 251).toByte) // far from any text payload
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val q = StreamingOps.mediaIngestStream(
        in.toDF().toDF("doc_id", "media"), path)
      .start()
    // batch 1: the dup is refused, the new doc admits
    in.addData((900001L, dupOfIndexed), (900002L, newDoc))
    q.processAllAvailable()
    assert(spark.read.parquet(s"$path/vecs").count() == vecs0 + 1)
    assert(spark.read.parquet(s"$path/bands").count() == bands0 + 4)
    assert(spark.read.parquet(s"$path/vecs")
      .filter("doc_id = 900002").count() == 1, "new doc not admitted")
    // batch 2: at-least-once replay of batch 1 — artifact unchanged
    in.addData((900001L, dupOfIndexed), (900002L, newDoc))
    q.processAllAvailable()
    assert(spark.read.parquet(s"$path/vecs").count() == vecs0 + 1, "replay re-admitted")
    assert(spark.read.parquet(s"$path/bands").count() == bands0 + 4)
    // batch 3: a re-encode of the doc batch 1 admitted — refused, the
    // standing population grew ONLINE
    val dupOfStreamed = newDoc.zipWithIndex.map { case (b, i) =>
      if (i % 11 == 0) (b + 1).toByte else b }
    in.addData((900003L, dupOfStreamed))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$path/vecs").count() == vecs0 + 1,
      "re-encode of an online-admitted doc was re-admitted")
  }

  test("mediaIngestStream generalizes across modalities: audio and video online admission (r17)") {
    // audio grain
    val aPath = java.nio.file.Files.createTempDirectory("graft-ingest-audio").toString
    MediaOps.buildAudioIndex(spark, sf, aPath)
    val aVecs0 = spark.read.parquet(s"$aPath/vecs").count()
    val aSrc = MediaOps.mediaCorpus(spark, sf)
      .filter("mime = 'audio/wav' and length(media) >= 85")
      .orderBy("doc_id").select("media").head().getAs[Array[Byte]](0)
    val aDup = aSrc.zipWithIndex.map { case (b, i) =>
      if (i % 9 == 0) (b + 1).toByte else b }
    val aNew = Array.tabulate(200)(i => ((i * 53 + i * i * 17 + 3) % 251).toByte)
    val ain = MemoryStream[(Long, Array[Byte])](spark)
    val aq = StreamingOps.mediaIngestStream(
        ain.toDF().toDF("doc_id", "media"), aPath, family = "audio").start()
    ain.addData((920001L, aDup), (920002L, aNew))
    aq.processAllAvailable(); aq.stop()
    assert(spark.read.parquet(s"$aPath/vecs").count() == aVecs0 + 1,
      "audio: dup admitted or new refused")
    assert(spark.read.parquet(s"$aPath/vecs").filter("doc_id = 920002").count() == 1)
    // video grain (frame-aligned dup rule)
    val vPath = java.nio.file.Files.createTempDirectory("graft-ingest-video").toString
    MediaOps.buildVideoIndex(spark, sf, vPath)
    val vVecs0 = spark.read.parquet(s"$vPath/vecs").count()
    val vSrc = MediaOps.mediaCorpus(spark, sf)
      .filter("mime = 'video/mp4' and length(media) >= 216")
      .orderBy("doc_id").select("media").head().getAs[Array[Byte]](0)
    val vDup = vSrc.zipWithIndex.map { case (b, i) =>
      if (i % 7 == 0) (b + 1).toByte else b }
    val vNew = Array.tabulate(400)(i => ((i * 41 + i * i * 13 + 11) % 251).toByte)
    val vin = MemoryStream[(Long, Array[Byte])](spark)
    val vq = StreamingOps.mediaIngestStream(
        vin.toDF().toDF("doc_id", "media"), vPath, family = "video").start()
    vin.addData((930001L, vDup), (930002L, vNew))
    vq.processAllAvailable(); vq.stop()
    assert(spark.read.parquet(s"$vPath/vecs").count() == vVecs0 + 1,
      "video: dup admitted or new refused")
    assert(spark.read.parquet(s"$vPath/vecs").filter("doc_id = 930002").count() == 1)
    assert(spark.read.parquet(s"$vPath/bands").count() == (vVecs0 + 1) * 12,
      "video bands must carry 12 keys per doc")
  }

  test("media index lifecycle under spark.graft.persist=never: counts and artifacts identical (r17)") {
    // the ingest/forget write paths localCheckpoint their frames — the
    // lineage reads the same artifact paths the appends write, so a
    // lazily-recomputed plan (the persist=never mode) must not re-read
    // mid-write or double-count; pin the whole lifecycle under the knob
    val path = java.nio.file.Files.createTempDirectory("graft-nopersist").toString
    MediaOps.buildMediaIndex(spark, sf, path)
    val vecs0 = spark.read.parquet(s"$path/vecs").count()
    val newDoc = Array.tabulate(300)(i => ((i * i * 43 + i * 3 + 7) % 251).toByte)
    val dupOfNew = newDoc.zipWithIndex.map { case (b, i) =>
      if (i % 11 == 0) (b + 1).toByte else b }
    spark.conf.set("spark.graft.persist", "never")
    try {
      val (a1, r1) = MediaOps.mergeMediaBatchIntoIndex(
        Seq((950001L, newDoc)).toDF("doc_id", "media"), path)
      assert(a1 == 1L && r1 == 0L, s"first merge ($a1, $r1)")
      val (a2, r2) = MediaOps.mergeMediaBatchIntoIndex(
        Seq((950002L, dupOfNew)).toDF("doc_id", "media"), path)
      assert(a2 == 0L && r2 == 1L, s"dup merge ($a2, $r2)")
      assert(MediaOps.forgetMediaFromIndex(
        Seq(950001L).toDF("doc_id"), path) == 1L)
      assert(MediaOps.forgetMediaFromIndex(
        Seq(950001L).toDF("doc_id"), path) == 0L, "re-delivery must no-op")
      MediaOps.compactMediaIndex(spark, path)
      assert(spark.read.parquet(
        s"${IndexLifecycle.resolveIndexRoot(spark, path)}/vecs").count() == vecs0)
    } finally spark.conf.unset("spark.graft.persist")
  }

  test("deny verdicts run unchanged on streaming frames: the MIH compliance guarantee at ingest (r17)") {
    // imageDenyVerdict is a stateless per-row map over a broadcast-able
    // fitted index — exactly the shape Structured Streaming transforms
    // support. A compliance scan therefore runs AT INGEST with the same
    // exact "within Hamming 6 of a deny item" guarantee the batch spec
    // pins (denyProbe's one-bit multi-probe pigeonhole).
    val idx = MediaOps.fitImageDenyIndex(spark, sf)
    assert(idx.hashes.nonEmpty)
    val denied = MediaOps.mediaCorpus(spark, sf)
      .filter("mime = 'image/png' and length(media) >= 72 and doc_id % 20 = 0")
      .orderBy("doc_id").select("media").head().getAs[Array[Byte]](0)
    val clean = Array.tabulate(300)(i => ((i * 67 + i * i * 29 + 1) % 251).toByte)
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val q = MediaOps.imageDenyVerdict(in.toDF().toDF("doc_id", "media"), idx)
      .writeStream.format("memory").queryName("deny_stream").start()
    in.addData((940001L, denied), (940002L, clean))
    q.processAllAvailable(); q.stop()
    val out = spark.table("deny_stream").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(940001L), "deny-listed payload passed the streaming scan")
    assert(!out(940002L), "clean payload was dropped by the streaming scan")
  }

  test("mediaForgetStream: takedown is immediate, survives ingest replay, and frees the content for fresh admission (r17)") {
    val path = java.nio.file.Files.createTempDirectory("graft-mediaforget").toString
    MediaOps.buildMediaIndex(spark, sf, path)
    val vecs0 = spark.read.parquet(s"$path/vecs").count()
    val newDoc = Array.tabulate(300)(i =>
      ((i * i * 37 + i * 11 + 9) % 251).toByte)
    // ingest a new doc online, then take it down
    val in = MemoryStream[(Long, Array[Byte])](spark)
    val qi = StreamingOps.mediaIngestStream(
        in.toDF().toDF("doc_id", "media"), path).start()
    in.addData((910001L, newDoc)); qi.processAllAvailable()
    assert(spark.read.parquet(s"$path/vecs").count() == vecs0 + 1)
    val fin = MemoryStream[Long](spark)
    val qf = StreamingOps.mediaForgetStream(
        fin.toDF().toDF("doc_id"), path).start()
    fin.addData(910001L); qf.processAllAvailable()
    // immediate (lazy deletion): a re-encode of the victim no longer
    // matches — but its ID cannot re-admit either (tombstone guard), so
    // an at-least-once REPLAY of the original ingest batch is a no-op
    in.addData((910001L, newDoc)); qi.processAllAvailable()
    assert(MediaOps.tombstonesOf(spark, path).count() == 1)
    assert(spark.read.parquet(s"$path/vecs")
      .join(MediaOps.tombstonesOf(spark, path), Seq("doc_id"), "left_anti")
      .count() == vecs0, "replayed ingest resurrected a forgotten id")
    // replayed takedown converges (append-only log unchanged)
    fin.addData(910001L); qf.processAllAvailable()
    assert(MediaOps.tombstonesOf(spark, path).count() == 1)
    // the content is OUT of the index: the same bytes under a fresh id
    // admit as new (dedup semantics, not a content ban)
    in.addData((910002L, newDoc)); qi.processAllAvailable()
    qi.stop(); qf.stop()
    assert(spark.read.parquet(s"$path/vecs")
      .filter("doc_id = 910002").count() == 1,
      "fresh submission of forgotten content was refused")
    // compaction makes the deletion physical (in a NEW committed
    // version — the flat artifacts stay for in-flight readers); the
    // log is kept at the root
    MediaOps.compactMediaIndex(spark, path)
    val live = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(live != path, "compaction with live victims must version")
    assert(spark.read.parquet(s"$live/vecs")
      .filter("doc_id = 910001").count() == 0)
    assert(spark.read.parquet(s"$live/vecs").count() == vecs0 + 1)
    assert(spark.read.parquet(s"$live/bands").count() == (vecs0 + 1) * 4)
    assert(MediaOps.tombstonesOf(spark, path).count() == 1, "audit log lost")
  }

  test("tombstone-aware merge: a replayed ingest batch after a takedown cannot resurrect forgotten vec_ids (r17, verdict #2)") {
    // the at-least-once hazard the reference transport creates
    // (`Consumer/kafkaConsumer.js:53` fromBeginning: true): ingest a
    // delta, take some of it down, then REPLAY the original ingest
    // checkpoint — without the merge-side tombstone anti-join the
    // replayed rows pass the stored-index anti-join (the takedown
    // removed them) and silently reinsert forgotten vectors
    val path = Similarity.mergeIndexPathFor(sf) + "-tombmerge"
    Similarity.buildAnnIndex(spark, sf, path)
    val delta = Similarity.annDelta(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).toSeq
    assert(delta.length >= 4)
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamingOps.annIngestStream(
        in.toDF().toDF("vec_id", "embedding"), path)
      .start()
    in.addData(delta: _*); q.processAllAvailable()
    // takedown: every other delta id
    val victims = delta.map(_._1).zipWithIndex.collect {
      case (id, i) if i % 2 == 0 => id
    }
    Similarity.forgetVictimIdsFrom(victims.toDF("vec_id"), path)
    val tombsBefore = spark.read.parquet(s"$path/tombstones")
      .collect().map(_.toString).sorted.toSeq
    assert(tombsBefore.nonEmpty)
    // at-least-once replay of the ORIGINAL ingest batch
    in.addData(delta: _*); q.processAllAvailable(); q.stop()
    val ids = Similarity.liveAssignments(spark, IndexLifecycle.resolveIndexRoot(spark, path))
      .select("vec_id").as[Long].collect().toSet
    victims.foreach(v => assert(!ids.contains(v),
      s"forgotten vec_id $v resurrected by the replayed ingest"))
    // the survivors of the delta are still present (the anti-join must
    // not over-drop), and the tombstone log is untouched by the merge
    delta.map(_._1).filterNot(victims.contains)
      .foreach(v => assert(ids.contains(v), s"surviving delta id $v lost"))
    val tombsAfter = spark.read.parquet(s"$path/tombstones")
      .collect().map(_.toString).sorted.toSeq
    assert(tombsAfter == tombsBefore, "merge mutated the tombstone log")
  }

  test("psiDriftStream horizon: beyond-horizon weeks retire from state; stale arrivals count, never resurrect (r15)") {
    import graft.streaming.{PsiEvent, PsiDesign, PsiReport}
    val design = PsiDesign(0.0, 10.0)
    val wk = 604800000000L
    def ev(id: Long, week: Long, v: Double) = PsiEvent("t", id, week * wk, v)
    val in = MemoryStream[PsiEvent](spark)
    val q = StreamingOps.psiDriftStream(in.toDS(), design, horizonWeeks = Some(2))
      .writeStream.format("memory").queryName("psihorizon")
      .outputMode("update").start()
    // weeks 0,1 -> one adjacent pair (0,1)
    in.addData(ev(1, 0, 1.0), ev(2, 0, 2.0), ev(3, 1, 9.0))
    q.processAllAvailable()
    // week 2 arrives -> week 0 falls out of the 2-week horizon: the
    // revision must report ONLY (1,2); a retained week 0 would emit
    // (0,1) too, since reports enumerate every adjacent pair in state
    in.addData(ev(4, 2, 5.0))
    q.processAllAvailable()
    def latest(): Seq[PsiReport] = {
      val all = spark.table("psihorizon").as[PsiReport].collect()
      all.filter(_.rev == all.map(_.rev).max).toSeq
    }
    val afterW2 = latest()
    assert(afterW2.map(r => (r.week_from, r.week_to)).toSet == Set((1L, 2L)),
      s"retired week still reporting: ${afterW2.map(r => (r.week_from, r.week_to))}")
    assert(afterW2.forall(_.dropped == 0L))
    // a late arrival for the RETIRED week 0 (fresh id) must not
    // resurrect it with partial counts — counted into dropped instead
    in.addData(ev(5, 0, 3.0))
    q.processAllAvailable(); q.stop()
    val afterLate = latest()
    assert(afterLate.map(r => (r.week_from, r.week_to)).toSet == Set((1L, 2L)),
      "a stale arrival resurrected a retired week")
    assert(afterLate.forall(_.dropped == 1L), s"stale arrival not counted: $afterLate")
  }

  test("clusterMixVerdict applies offline-fitted rates in a stream; per-cluster totals == batch q88") {
    // the q88 online form: cells AND the k-row rate table fit offline
    // (fitClusterRates, same integer/floor expressions as the batch
    // query), keep decision per-row md5-bucket — replay-stable, no RNG
    val (cells, rates) = Similarity.fitClusterRates(spark, sf)
    assert(rates.nonEmpty && rates.values.forall(m => m >= 0L && m <= 1000000L))
    val rows = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.clusterMixVerdict(
        in.toDF().toDF("vec_id", "embedding"), cells, rates)
      .writeStream.format("memory").queryName("cmixverdict")
      .outputMode("append").start()
    // two micro-batches: the per-row decision must not depend on batching
    in.addData(rows.take(100): _*)
    q.processAllAvailable()
    in.addData(rows.drop(100): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("cmixverdict")
      .groupBy("cid").agg(count(lit(1)).as("n_vecs"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_sampled"))
      .select("cid", "n_vecs", "n_sampled").as[(Int, Long, Long)].collect().toSet
    val batch = Similarity.clusterBalancedMix(spark, sf)
      .select("cid", "n_vecs", "n_sampled").as[(Int, Long, Long)].collect().toSet
    assert(got == batch, "streamed per-cluster keep totals != batch q88")
    assert(got.exists(_._3 > 0L) && got.exists(t => t._3 < t._2),
      "fixture must exercise a non-trivial keep split")
  }

  test("gate→classifier→mix→pack: the four-stage curation leg as ONE streaming query; == batch model") {
    // r11: the q72 scorer joins the continuous curation leg via
    // classifierVerdict (weights in the closure, zero extra plan nodes).
    // Keep = clf_score < 0 — the toxicity-filter polarity, which on this
    // fixture keeps 13 of 16 gate survivors so the pack fold still
    // overflows its budget (keeping >= 0 would leave 3 docs and a
    // vacuous fold).
    import graft.streaming.{PackAssign, PackDoc}
    def goodText(seed: Int): String =
      ("the" +: (1 to 59).map(i => s"w${seed}x$i")).mkString(" ")
    val badText = (1 to 60).map(_ => "!!").mkString(" ")
    val in = MemoryStream[(Long, String, String)](spark)
    val docs = in.toDF().toDF("doc_id", "source", "text")
    val rates = Seq(("sA", 1000000L), ("sB", 600000L)).toDF("source", "keep_micro")
    val gated = TextAnalysis.qualityGateVerdict(docs)
      .filter(col("pass")).select("doc_id", "source", "text")
    val classified = TextAnalysis.classifierVerdict(gated)
      .filter(col("clf_score") < 0).select("doc_id", "source", "text")
    val packIn = StreamingOps.mixStream(classified, rates)
      .selectExpr("source", "doc_id", "cast(length(text) as bigint) as n_chars")
      .as[PackDoc]
    val q = StreamingOps.packStream(packIn, budget = 1000L)
      .writeStream.format("memory").queryName("gateclfmixpack")
      .outputMode("append").start()
    val batch = (0L until 24L).map(id =>
      (id, if (id % 2 == 0) "sA" else "sB",
        if (id % 3 == 0) badText else goodText(id.toInt)))
    in.addData(batch: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("gateclfmixpack").as[PackAssign].collect()
    // driver model of all four stages
    val md = java.security.MessageDigest.getInstance("MD5")
    val dim = TextAnalysis.clfDim
    val w = (0 until dim).map(j =>
      (((j.toLong * 1103515245L + 12345L) % 1000L) - 500L) / 1000.0)
    def bucket(f: String): Int = {
      val dg = md.digest(f.getBytes("UTF-8"))
      ((((dg(0) & 0xFFL) << 24) | ((dg(1) & 0xFFL) << 16) |
        ((dg(2) & 0xFFL) << 8) | (dg(3) & 0xFFL)) % dim).toInt
    }
    def clfScore(text: String): Double = {
      val toks = text.split(" ", -1)
      val feats = toks ++ toks.sliding(2).filter(_.length == 2).map(_.mkString("_"))
      val cnt = new Array[Double](dim)
      feats.foreach(f => cnt(bucket(f)) += 1.0)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += cnt(i) * w(i); i += 1 }
      math.floor(acc / feats.length * 1e6 + 0.5) / 1e6
    }
    def keepBucket(id: Long): Long = {
      val dg = md.digest(id.toString.getBytes("UTF-8"))
      ((((dg(0) & 0xFFL) << 24) | ((dg(1) & 0xFFL) << 16) |
        ((dg(2) & 0xFFL) << 8) | (dg(3) & 0xFFL)) % 1000000L)
    }
    val rateMap = Map("sA" -> 1000000L, "sB" -> 600000L)
    val gateSurvivors = batch.filter(_._3 != badText)
    val clfSurvivors = gateSurvivors.filter(d => clfScore(d._3) < 0)
    val survivors = clfSurvivors.filter(d => keepBucket(d._1) < rateMap(d._2))
    val model = survivors.groupBy(_._2).iterator.flatMap { case (src, rows) =>
      var seqNo = 0L; var fill = 0L
      rows.sortBy(_._1).map { case (id, _, text) =>
        val n = text.length.toLong
        if (fill > 0L && fill + n > 1000L) { seqNo += 1L; fill = 0L }
        val off = fill; fill += n
        (src, id, seqNo, off)
      }
    }.toSet
    assert(got.map(a => (a.source, a.doc_id, a.seq_no, a.offset_chars))
      .toSet == model, "streaming gate→classifier→mix→pack != batch model")
    // the classifier stage actually dropped gate survivors, and the pack
    // fold still overflowed — neither stage is vacuous in this composition
    assert(clfSurvivors.length < gateSurvivors.length,
      "classifier stage vacuous")
    assert(model.exists(_._3 > 0L), "budget never overflowed — fold vacuous")
  }

  test("gate→mix→pack: the full curation leg as ONE streaming query; == batch model; replay is a no-op") {
    // q71's stateless rule battery, q67's broadcast rate sampling, and
    // q68's keyed pack fold composed in a single continuous query — the
    // online form of the batch curation pipeline. The gate and mix
    // stages are pure per-row projections (replay-deterministic with no
    // state); only the pack fold is stateful, and its id-dedup contract
    // absorbs the redelivery.
    import graft.streaming.{PackAssign, PackDoc}
    def goodText(seed: Int): String =
      ("the" +: (1 to 59).map(i => s"w${seed}x$i")).mkString(" ")
    val badText = (1 to 60).map(_ => "!!").mkString(" ")   // symbol-only words
    val in = MemoryStream[(Long, String, String)](spark)
    val docs = in.toDF().toDF("doc_id", "source", "text")
    val rates = Seq(("sA", 1000000L), ("sB", 600000L)).toDF("source", "keep_micro")
    val gated = TextAnalysis.qualityGateVerdict(docs)
      .filter(col("pass")).select("doc_id", "source", "text")
    val packIn = StreamingOps.mixStream(gated, rates)
      .selectExpr("source", "doc_id", "cast(length(text) as bigint) as n_chars")
      .as[PackDoc]
    val q = StreamingOps.packStream(packIn, budget = 1000L)
      .writeStream.format("memory").queryName("gatemixpack")
      .outputMode("append").start()
    val batch1 = (0L until 12L).map(id =>
      (id, if (id % 2 == 0) "sA" else "sB",
        if (id % 3 == 0) badText else goodText(id.toInt)))
    val batch2 = (12L until 24L).map(id =>
      (id, if (id % 2 == 0) "sA" else "sB",
        if (id % 3 == 0) badText else goodText(id.toInt)))
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    val firstTwo = spark.table("gatemixpack").as[PackAssign].collect()
    // driver model of the same three stages over the full ordered input
    val md = java.security.MessageDigest.getInstance("MD5")
    def keepBucket(id: Long): Long = {
      val dg = md.digest(id.toString.getBytes("UTF-8"))
      ((((dg(0) & 0xFFL) << 24) | ((dg(1) & 0xFFL) << 16) |
        ((dg(2) & 0xFFL) << 8) | (dg(3) & 0xFFL)) % 1000000L)
    }
    val rateMap = Map("sA" -> 1000000L, "sB" -> 600000L)
    val survivors = (batch1 ++ batch2)
      .filter(_._3 != badText)                      // gate (by construction)
      .filter(d => keepBucket(d._1) < rateMap(d._2)) // mix keep predicate
    val model = survivors.groupBy(_._2).iterator.flatMap { case (src, rows) =>
      var seqNo = 0L; var fill = 0L
      rows.sortBy(_._1).map { case (id, _, text) =>
        val n = text.length.toLong
        if (fill > 0L && fill + n > 1000L) { seqNo += 1L; fill = 0L }
        val off = fill; fill += n
        (src, id, seqNo, off)
      }
    }.toSet
    assert(firstTwo.map(a => (a.source, a.doc_id, a.seq_no, a.offset_chars))
      .toSet == model, "streaming gate→mix→pack != batch model")
    // the sB rate actually dropped something the gate passed, or the mix
    // stage is vacuous in this composition
    assert(survivors.count(_._2 == "sB") <
      (batch1 ++ batch2).count(d => d._2 == "sB" && d._3 != badText))
    assert(model.exists(_._3 > 0L), "budget never overflowed — fold vacuous")
    // at-least-once replay of batch 1: gate+mix re-decide identically and
    // the pack fold's id-dedup drops every redelivered doc — ZERO new rows
    in.addData(batch1: _*)
    q.processAllAvailable(); q.stop()
    assert(spark.table("gatemixpack").count() == firstTwo.length,
      "replayed batch emitted new assignments")
  }

  test("q67 streaming twin: a stream carrying its own keep_micro/w columns still mixes") {
    // the r6 ADVICE gap: the rate table's column names must not be able
    // to collide with the stream frame's own columns (ambiguous-reference
    // AnalysisException / silent overwrite); rates now join under the
    // reserved __graft_mix_* names
    val docs = Seq((0L, "sA", 123L, 0.5), (1L, "sA", 456L, 0.7))
      .toDF("doc_id", "source", "keep_micro", "w")
    val rates = Seq(("sA", 1000000L)).toDF("source", "keep_micro")
    val out = StreamingOps.mixStream(docs, rates)
    assert(out.columns.toSeq == Seq("doc_id", "source", "keep_micro", "w"))
    // full keep rate → both rows survive, the stream's OWN keep_micro/w
    // values pass through untouched
    val got = out.as[(Long, String, Long, Double)].collect().toSet
    assert(got == Set((0L, "sA", 123L, 0.5), (1L, "sA", 456L, 0.7)))
  }

  test("q69 streaming twin: frequent-line state accumulates df across batches, equals the batch rule") {
    import graft.streaming.{FrequentLine, LineOcc}
    val in = MemoryStream[LineOcc](spark)
    val out = StreamingOps.frequentLines(in.toDS(), threshold = 4L)
    val q = out.writeStream.format("memory").queryName("freqlines")
      .outputMode("append").start()
    // batch 1: "footer" in docs 1-3 (df 3, under the bar), "promo" in
    // docs 1-2; footer@2 delivered TWICE in the batch (at-least-once
    // source) — must count once
    in.addData(
      LineOcc("footer", 1L), LineOcc("footer", 2L), LineOcc("footer", 2L),
      LineOcc("footer", 3L),
      LineOcc("promo", 1L), LineOcc("promo", 2L),
      LineOcc("unique-a", 1L))
    q.processAllAvailable()
    assert(spark.table("freqlines").as[FrequentLine].collect().isEmpty,
      "nothing reaches df>=4 in batch 1")
    // batch 2: footer crosses via ONE genuinely new doc — the crossing
    // only happens if batch 1's count carried (cross-batch
    // accumulation); its doc 2 redelivery must not inflate df. promo
    // jumps 2 -> 5 inside one batch.
    in.addData(
      LineOcc("footer", 2L), LineOcc("footer", 4L),
      LineOcc("promo", 3L), LineOcc("promo", 4L), LineOcc("promo", 5L),
      LineOcc("unique-b", 4L))
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("freqlines").as[FrequentLine].collect().toSeq
    assert(emitted.map(_.line).sorted == Seq("footer", "promo"),
      s"each frequent line emitted exactly once: $emitted")
    assert(emitted.find(_.line == "footer").get.df == 4L,
      "cross-batch redelivery of doc 2 double-counted")
    assert(emitted.find(_.line == "promo").get.df == 5L)
    // batch-rule equivalence: the stream-learned frequent set == the
    // q69 batch aggregate (COUNT(DISTINCT doc_id) >= N) over everything
    // the stream delivered, duplicates included
    val delivered = Seq(
      ("footer", 1L), ("footer", 2L), ("footer", 2L), ("footer", 3L),
      ("footer", 2L), ("footer", 4L),
      ("promo", 1L), ("promo", 2L), ("promo", 3L), ("promo", 4L), ("promo", 5L),
      ("unique-a", 1L), ("unique-b", 4L)).toDF("line", "doc_id")
    val model = delivered.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 4).select("line").as[String].collect().toSet
    assert(emitted.map(_.line).toSet == model)
  }

  test("q69 streaming twin: idle TTL evicts line state; df restarts conservatively") {
    import graft.streaming.{FrequentLine, LineOcc}
    val in = MemoryStream[LineOcc](spark)
    // TTL = 3 s, NOT sub-second: the final phase needs footer's df=2
    // state (docs 3/4) to SURVIVE until doc 5's batch. With a 250 ms
    // TTL the collect + assert between those adds can itself outlast
    // the TTL under full-suite load, the state evicts a second time,
    // doc 5 restarts at df=1, and the crossing never happens — that
    // was the r7/r8 full-suite flake (sink empty at the last assert).
    // The TTL must dominate any inter-batch test gap; the eviction
    // phase waits deterministically regardless of the TTL's size.
    val ttlMs = 3000L
    val out = StreamingOps.frequentLines(in.toDS(), threshold = 3L,
      idleTtlMillis = ttlMs)
    val q = out.writeStream.format("memory").queryName("freqttl")
      .outputMode("append").start()
    // processAllAvailable is unusable here BY DESIGN: once a
    // processing-time timeout is registered the engine keeps scheduling
    // timeout-check batches, so the stream never reports quiescent.
    // Await on the input-rows progress counter instead.
    def awaitInput(total: Long): Unit = {
      val dl = System.currentTimeMillis() + 60000L
      while (q.recentProgress.map(_.numInputRows).sum < total &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(q.recentProgress.map(_.numInputRows).sum >= total,
        s"stream did not consume $total rows in time")
    }
    // A fixed sleep is not proof of eviction on a loaded host: the TTL
    // lapsing is necessary but the EVICTION happens only inside a
    // timeout-check batch that STARTS after the lapse. So: sleep past
    // the TTL, observe the latest completed batchId b0, then wait for
    // batchId >= b0+2 — batch b0+1 may have started before the lapse,
    // but b0+2 can only start after b0+1 completes, i.e. strictly after
    // our post-lapse observation, so its timeout check sees the expired
    // timer and removes footer's state.
    def awaitTimeoutBatch(): Unit = {
      Thread.sleep(ttlMs + 400L) // let the idle TTL lapse
      val b0 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val dl = System.currentTimeMillis() + 60000L
      while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < b0 + 2 &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= b0 + 2,
        "no timeout-check batch completed after the TTL lapsed")
    }
    in.addData(LineOcc("footer", 1L), LineOcc("footer", 2L))
    awaitInput(2L)
    // let the idle TTL lapse and a post-lapse timeout-check batch
    // complete — footer's df=2 state is now evicted
    awaitTimeoutBatch()
    // post-eviction: two sightings do NOT cross threshold 3 (the count
    // restarted — a lapsed line is under-counted, never over-counted)
    in.addData(LineOcc("footer", 3L), LineOcc("footer", 4L))
    awaitInput(4L)
    assert(spark.table("freqttl").as[FrequentLine].collect().isEmpty,
      "evicted state must not retain pre-eviction df")
    // a third post-eviction doc crosses; df counts only the new window
    in.addData(LineOcc("footer", 5L))
    val dl = System.currentTimeMillis() + 60000L
    while (spark.table("freqttl").isEmpty && System.currentTimeMillis() < dl)
      Thread.sleep(50L)
    q.stop()
    assert(spark.table("freqttl").as[FrequentLine].collect().toSeq ==
      Seq(FrequentLine("footer", 3L)))
  }

  test("q69 streaming twin: TTL re-emission — an evicted line that re-crosses emits AGAIN (set contract)") {
    import graft.streaming.{FrequentLine, LineOcc}
    val in = MemoryStream[LineOcc](spark)
    val out = StreamingOps.frequentLines(in.toDS(), threshold = 2L,
      idleTtlMillis = 250L)
    val q = out.writeStream.format("memory").queryName("freqttl2")
      .outputMode("append").start()
    def awaitInput(total: Long): Unit = {
      val dl = System.currentTimeMillis() + 60000L
      while (q.recentProgress.map(_.numInputRows).sum < total &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(q.recentProgress.map(_.numInputRows).sum >= total,
        s"stream did not consume $total rows in time")
    }
    def awaitTimeoutBatch(): Unit = { // same b0+2 argument as the TTL test
      Thread.sleep(400L)
      val b0 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val dl = System.currentTimeMillis() + 60000L
      while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < b0 + 2 &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= b0 + 2,
        "no timeout-check batch completed after the TTL lapsed")
    }
    // first lifetime: crosses threshold 2 → first emission
    in.addData(LineOcc("footer", 1L), LineOcc("footer", 2L))
    awaitInput(2L)
    val dl1 = System.currentTimeMillis() + 60000L
    while (spark.table("freqttl2").count() < 1 &&
           System.currentTimeMillis() < dl1) Thread.sleep(50L)
    assert(spark.table("freqttl2").as[FrequentLine].collect().toSeq ==
      Seq(FrequentLine("footer", 2L)), "first-lifetime emission")
    // evict, then second lifetime: re-crossing emits a SECOND row for
    // the same line — the documented at-most-once-per-TTL-window
    // contract; downstream must union emissions into a set
    awaitTimeoutBatch()
    in.addData(LineOcc("footer", 3L), LineOcc("footer", 4L))
    awaitInput(4L)
    val dl2 = System.currentTimeMillis() + 60000L
    while (spark.table("freqttl2").count() < 2 &&
           System.currentTimeMillis() < dl2) Thread.sleep(50L)
    q.stop()
    val emitted = spark.table("freqttl2").as[FrequentLine].collect().toSeq
    assert(emitted == Seq(FrequentLine("footer", 2L), FrequentLine("footer", 2L)),
      s"re-crossing after eviction must emit again: $emitted")
    // the set-union view downstream consumers must take is stable
    assert(emitted.toSet == Set(FrequentLine("footer", 2L)))
  }

  test("q70 streaming twin: online keeper tracking emits revisions, replay-idempotent, q70 tie-break") {
    import graft.streaming.{KeepDoc, KeeperChange}
    val in = MemoryStream[KeepDoc](spark)
    val out = StreamingOps.keepStream(in.toDS())
    val q = out.writeStream.format("memory").queryName("keepers")
      .outputMode("append").start()
    // batch 1: first member of each cluster becomes its keeper
    in.addData(KeepDoc(5L, 1L, 40L), KeepDoc(7L, 10L, 10L))
    q.processAllAvailable()
    // batch 2: cluster 5 sees a longer doc AND a middling one in the
    // same batch — exactly ONE revision, to the batch-best
    in.addData(KeepDoc(5L, 2L, 80L), KeepDoc(5L, 3L, 60L))
    q.processAllAvailable()
    // batch 3: redelivery of the current keeper (at-least-once) plus an
    // equal-length HIGHER id — neither beats keeper 2 strictly (the
    // q70 tie-break prefers the LOWER id), so NO emission
    in.addData(KeepDoc(5L, 2L, 80L), KeepDoc(5L, 4L, 80L))
    q.processAllAvailable()
    // batch 4: equal-length LOWER id DOES displace (tie-break)
    in.addData(KeepDoc(5L, 0L, 80L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("keepers").as[KeeperChange].collect().toSeq
    // batch 1 emits one row per cluster and within-batch sink order is
    // shuffle-partition order — an engine implementation detail — so
    // assert the batch SET; the cross-batch tail (one row per batch) is
    // append-ordered and asserted exactly
    assert(got.length == 4 && got.take(2).toSet == Set(
      KeeperChange(5L, 1L, 40L), KeeperChange(7L, 10L, 10L)),
      s"batch-1 emission set: $got")
    assert(got.drop(2) == Seq(
      KeeperChange(5L, 2L, 80L),
      KeeperChange(5L, 0L, 80L)), s"revision tail: $got")
    // batch-twin equality: last revision per cluster == the q70 window
    // argmax over everything delivered (duplicates included)
    val delivered = Seq(
      (5L, 1L, 40L), (7L, 10L, 10L), (5L, 2L, 80L), (5L, 3L, 60L),
      (5L, 2L, 80L), (5L, 4L, 80L), (5L, 0L, 80L))
      .toDF("simhash", "doc_id", "n_chars")
    val model = delivered
      .withColumn("keep_doc_id", first(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("simhash"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .select("simhash", "keep_doc_id").distinct()
      .as[(Long, Long)].collect().toMap
    val lastPerCluster = got.groupBy(_.simhash)
      .map { case (sig, rows) => sig -> rows.last.keep_doc_id }
    assert(lastPerCluster == model)
  }

  test("q70 streaming twin: idle TTL evicts cluster state; re-sight re-emits a fresh revision") {
    import graft.streaming.{KeepDoc, KeeperChange}
    val in = MemoryStream[KeepDoc](spark)
    // same TTL sizing rationale as the q69 TTL test: the TTL must
    // dominate any inter-batch test gap; eviction is waited for
    // deterministically, so a large TTL costs only wall-clock
    val ttlMs = 3000L
    val out = StreamingOps.keepStream(in.toDS(), idleTtlMillis = ttlMs)
    val q = out.writeStream.format("memory").queryName("keepttl")
      .outputMode("append").start()
    def awaitRows(n: Long): Unit = {
      val dl = System.currentTimeMillis() + 60000L
      while (spark.table("keepttl").count() < n &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(spark.table("keepttl").count() >= n, s"expected $n revisions")
    }
    def awaitTimeoutBatch(): Unit = { // same b0+2 argument as the q69 TTL test
      Thread.sleep(ttlMs + 400L)
      val b0 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val dl = System.currentTimeMillis() + 60000L
      while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < b0 + 2 &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= b0 + 2,
        "no timeout-check batch completed after the TTL lapsed")
    }
    in.addData(KeepDoc(5L, 1L, 80L))
    awaitRows(1L)
    // evict cluster 5's keeper, then re-sight with a SHORTER doc: with
    // retained state doc 2 (40 < 80) would not displace and nothing
    // would emit; after eviction it is a fresh first member and MUST
    // emit — the benign error direction (downstream last-write-wins
    // temporarily holds a shorter keeper, no document is ever lost)
    awaitTimeoutBatch()
    in.addData(KeepDoc(5L, 2L, 40L))
    awaitRows(2L)
    q.stop()
    val got = spark.table("keepttl").as[KeeperChange].collect().toSeq
    assert(got == Seq(KeeperChange(5L, 1L, 80L), KeeperChange(5L, 2L, 40L)),
      s"post-eviction re-sight must emit a fresh revision: $got")
  }

  test("q75 streaming twin: idle TTL evicts cell state; re-sighted near-dup survives (recall loss, never data loss)") {
    import graft.streaming.{SemVec, SemVerdict}
    val in = MemoryStream[SemVec](spark)
    val ttlMs = 3000L // dominates any inter-batch gap (q69/q70 TTL sizing)
    val out = StreamingOps.semDedupStream(in.toDS(), tau = 0.95,
      idleTtlMillis = ttlMs)
    val q = out.writeStream.format("memory").queryName("semttl")
      .outputMode("append").start()
    def awaitRows(n: Long): Unit = {
      val dl = System.currentTimeMillis() + 60000L
      while (spark.table("semttl").count() < n &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(spark.table("semttl").count() >= n, s"expected $n verdicts")
    }
    def awaitTimeoutBatch(): Unit = { // the q69/q70 b0+2 argument
      Thread.sleep(ttlMs + 400L)
      val b0 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val dl = System.currentTimeMillis() + 60000L
      while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < b0 + 2 &&
             System.currentTimeMillis() < dl) Thread.sleep(50L)
      assert(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= b0 + 2,
        "no timeout-check batch completed after the TTL lapsed")
    }
    val e1 = Array.tabulate(4)(i => (i + 1).toDouble)
    val nrm1 = math.sqrt(e1.map(x => x * x).sum)
    in.addData(SemVec(7, 1L, e1, nrm1))
    awaitRows(1L)
    // evict cell 7's exemplar history, then re-sight a near-copy: with
    // retained state vec 2 would be DROPPED as a dup of 1; after
    // eviction its cell history is empty so it KEEPS — the documented
    // benign error direction (a near-dup survives, nothing is lost)
    awaitTimeoutBatch()
    val twin = e1.map(_ * 1.001)
    in.addData(SemVec(7, 2L, twin, math.sqrt(twin.map(x => x * x).sum)))
    awaitRows(2L)
    q.stop()
    val got = spark.table("semttl").as[SemVerdict].collect()
      .map(v => v.vec_id -> v.keep).toMap
    assert(got == Map(1L -> true, 2L -> true),
      s"post-eviction near-dup must survive as a fresh first member: $got")
  }

  test("A2/A3: rolling history is replay-idempotent and tie-order deterministic") {
    val in = MemoryStream[graft.streaming.HistoryMsg](spark)
    val out = StreamingOps.rollingHistory(in.toDS(), k = 5)
    val q = out.writeStream.format("memory").queryName("historyreplay")
      .outputMode("update").start()
    // equal timestamps → order decided by id, not arrival
    in.addData(
      graft.streaming.HistoryMsg("C1", 1000, "mB", "u2", "tieB"),
      graft.streaming.HistoryMsg("C1", 1000, "mA", "u1", "tieA"))
    q.processAllAvailable()
    // at-least-once replay: same ids delivered again plus one new message
    in.addData(
      graft.streaming.HistoryMsg("C1", 1000, "mA", "u1", "tieA"),
      graft.streaming.HistoryMsg("C1", 1000, "mB", "u2", "tieB"),
      graft.streaming.HistoryMsg("C1", 2000, "mC", "u3", "third"))
    q.processAllAvailable(); q.stop()
    val last = spark.table("historyreplay").as[graft.streaming.HistoryContext]
      .collect().last
    assert(last.n_msgs == 3) // replayed ids inserted once, not twice
    assert(last.context == "u1: tieA\nu2: tieB\nu3: third")
  }

  test("ST1: ProcessingTime trigger drives repeated micro-batches (reference's 10-min poll)") {
    // the reference polls on a processing-time interval
    // (Producer/kafkaProducer.js:80,232); here the same trigger type at a
    // test-friendly interval drives the producer leg end-to-end
    val in = MemoryStream[(Int, String, String)](spark)
    val out = StreamingOps.producerTransform(in.toDF().toDF("seqno", "subject", "body"))
    in.addData((1, "S1", "body one"))
    val q = out.writeStream.format("memory").queryName("ptrig")
      .outputMode("append").trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    q.processAllAvailable()
    in.addData((2, "S2", "body two"))   // arrives for a LATER timed batch
    q.processAllAvailable()
    val batches = q.recentProgress.map(_.batchId).distinct
    q.stop()
    assert(batches.length >= 2)         // multiple timer-fired micro-batches
    val seqnos = spark.table("ptrig").select("seqno").as[Int].collect().toSet
    assert(seqnos == Set(1, 2))
  }

  test("stream-static join: events enrich against a static dimension table") {
    val dim = Seq(("C1", "general"), ("C2", "random")).toDF("channel", "channel_name")
    val in = MemoryStream[(String, String)](spark)
    val joined = in.toDF().toDF("channel", "text")
      .join(dim, Seq("channel"), "left")
    in.addData(("C1", "hello"), ("C3", "orphan"))
    val q = joined.writeStream.format("memory").queryName("enriched")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val got = spark.table("enriched")
      .selectExpr("channel", "coalesce(channel_name, '?') as cn")
      .as[(String, String)].collect().toSet
    assert(got == Set(("C1", "general"), ("C3", "?")))
  }

  test("streaming decontamination: stream-static LEFT ANTI vs a denylist (q48 twin)") {
    // the ingest-time form of q48: documents stream in, the (tiny, static)
    // eval-set fingerprint denylist broadcasts, contaminated docs never
    // reach the sink; NULL fingerprints survive (anti-join null semantics)
    val deny = Seq("fp_bad1", "fp_bad2").toDF("deny_fp")
    val in = MemoryStream[(Long, String)](spark)
    val kept = in.toDF().toDF("doc_id", "fp")
      .join(broadcast(deny), $"fp" === $"deny_fp", "left_anti")
    in.addData((1L, "fp_ok"), (2L, "fp_bad1"), (3L, null), (4L, "fp_bad2"), (5L, "fp_ok"))
    val q = kept.writeStream.format("memory").queryName("decon")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val got = spark.table("decon").select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 5L))
  }

  test("A1 alternative route: streaming dropDuplicates state store") {
    val in = MemoryStream[(String, String)](spark)
    val deduped = in.toDF().toDF("channel", "thread_ts")
      .dropDuplicates("channel", "thread_ts")
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    in.addData(("C1", "t1"), ("C1", "t1"), ("C2", "t9"))
    q.processAllAvailable()
    in.addData(("C1", "t1"), ("C1", "t2"))  // t1 already seen across batches
    q.processAllAvailable(); q.stop()
    val got = spark.table("dd").as[(String, String)].collect().toSeq
    assert(got.sorted == Seq(("C1", "t1"), ("C1", "t2"), ("C2", "t9")))
  }

  test("A1 bounded-state route: dropDuplicatesWithinWatermark evicts expired dedup state") {
    // the 100 TB-correct form of streaming dedup: plain dropDuplicates
    // keeps every key forever; withinWatermark bounds state to the
    // watermark horizon — duplicates inside the horizon are dropped,
    // and a key can legitimately reappear after its state expires
    val in = MemoryStream[(Timestamp, String)](spark)
    val deduped = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.format("memory").queryName("ddww")
      .outputMode("append").start()
    in.addData((ts(1), "a"), (ts(2), "a"), (ts(3), "b"))  // dup a within horizon
    q.processAllAvailable()
    in.addData((ts(60), "z"))                // watermark → 50min: a/b state expires
    q.processAllAvailable()
    in.addData((ts(61), "a"))                // a again, AFTER expiry → re-emitted
    q.processAllAvailable(); q.stop()
    val got = spark.table("ddww").select("k", "ts").as[(String, Timestamp)].collect()
    assert(got.count(_._1 == "a") == 2, s"got ${got.toSeq}")  // once per horizon
    assert(got.count(_._1 == "b") == 1 && got.count(_._1 == "z") == 1)
  }

  test("stream-stream join: purchases match clicks in the 30-minute window") {
    val cIn = MemoryStream[(Long, Timestamp, Long)](spark)
    val pIn = MemoryStream[(Long, Timestamp, Long)](spark)
    val joined = StreamingOps.clickPurchaseJoin(
      cIn.toDF().toDF("c_user_id", "c_ts", "c_id"),
      pIn.toDF().toDF("p_user_id", "p_ts", "p_id"),
      watermarkDelay = "10 minutes", windowMinutes = 30)
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    cIn.addData((1L, ts(0), 101L), (1L, ts(25), 102L), (2L, ts(10), 103L))
    pIn.addData((1L, ts(40), 901L))   // window (10, 40]: click 102 only
    q.processAllAvailable()
    cIn.addData((9L, ts(120), 999L))  // advance both watermarks
    pIn.addData((9L, ts(120), 998L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj").select("p_id", "c_id")
      .as[(Long, Long)].collect().toSet
    assert(got.contains((901L, 102L)))
    assert(!got.contains((901L, 101L)))  // outside the 30-minute window
    assert(!got.exists(_._2 == 103L))    // different user
  }

  test("GraftLog DSv2 source: earliest replay, checkpoint restart resumes, commit acks (S4/K4/ST4-ST6)") {
    val dir = java.nio.file.Files.createTempDirectory("graftlog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graftlog-ckpt").toString
    graft.streaming.GraftLog.append(dir,
      (1 to 3).map(i => Serde.encodeEmail(i, s"S$i", s"body $i")))

    // run 1: fresh checkpoint → fromBeginning (ST6), Kafka-shaped value
    // column feeds consumerTransform unchanged. Sink = foreachBatch (the
    // memory sink refuses checkpoint recovery, the scenario under test).
    def src = spark.readStream.format("graft.streaming.GraftLogSource").load(dir)
    def runWithCheckpoint(): Set[Int] = {
      SeqnoCollector.seqnos.clear()
      val q = StreamingOps.consumerTransform(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.select("seqno").collect().foreach(r => SeqnoCollector.seqnos.add(r.getInt(0)))
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
      import scala.jdk.CollectionConverters._
      SeqnoCollector.seqnos.asScala.toSet
    }
    assert(runWithCheckpoint() == Set(1, 2, 3))

    // run 2: SAME checkpoint + two appended segments → only new offsets
    graft.streaming.GraftLog.append(dir, Seq(Serde.encodeEmail(4, "S4", "body 4")))
    graft.streaming.GraftLog.append(dir, Seq(Serde.encodeEmail(5, "S5", "body 5")))
    assert(runWithCheckpoint() == Set(4, 5))

    // K4 source-side ack: the .committed marker advanced past run 1's data
    // (commit(end) fires once the following batch is planned, so after two
    // runs at least offset 3 is acknowledged)
    assert(graft.streaming.GraftLog.committedOffset(dir) >= 3)

    // run 3: FRESH checkpoint → full replay from earliest again
    val ckpt3 = java.nio.file.Files.createTempDirectory("graftlog-ckpt3").toString
    val q3 = StreamingOps.consumerTransform(src)
      .writeStream.format("memory").queryName("log3")
      .option("checkpointLocation", ckpt3)
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination(60000); q3.stop()
    assert(spark.table("log3").select("seqno").as[Int].collect().toSet == Set(1, 2, 3, 4, 5))
  }

  test("S1 poll shape: ProcessingTime trigger picks up newly appended segments") {
    // the reference's 10-minute IMAP poll (Producer/kafkaProducer.js:80,232)
    // = a timer-fired micro-batch source; records appended BETWEEN timer
    // firings arrive in later batches
    val dir = java.nio.file.Files.createTempDirectory("graftlog-poll").toString
    graft.streaming.GraftLog.append(dir, Seq(Serde.encodeEmail(1, "S1", "b1")))
    val q = StreamingOps.consumerTransform(
        spark.readStream.format("graft.streaming.GraftLogSource").load(dir))
      .writeStream.format("memory").queryName("poll")
      .outputMode("append").trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    q.processAllAvailable()
    graft.streaming.GraftLog.append(dir, Seq(Serde.encodeEmail(2, "S2", "b2")))
    q.processAllAvailable(); q.stop()
    val seqnos = spark.table("poll").select("seqno").as[Int].collect().toSet
    assert(seqnos == Set(1, 2))
  }

  test("GraftLog sink: replayed batch overwrites its own segments (idempotent, ST4)") {
    val outDir = java.nio.file.Files.createTempDirectory("graftlog-out").toString
    val batch = Seq(10, 11, 12).map(i => Tuple1(Serde.encodeEmail(i, s"S$i", "b")))
      .toDF("value")
    // the same (batch, batchId) delivered twice — the at-least-once window
    StreamingOps.writeBatchSegments(batch, outDir, batchId = 7)
    val after1 = graft.streaming.GraftLog.segmentCounts(
      java.nio.file.Paths.get(outDir))
    StreamingOps.writeBatchSegments(batch, outDir, batchId = 7)
    val after2 = graft.streaming.GraftLog.segmentCounts(
      java.nio.file.Paths.get(outDir))
    assert(after1.map { case (p, n) => (p.getFileName.toString, n) } ==
           after2.map { case (p, n) => (p.getFileName.toString, n) })
    assert(after2.map(_._2).sum == 3) // 3 records total, not 6
    // and the written log replays through the DSv2 source end-to-end
    val q = StreamingOps.consumerTransform(
        spark.readStream.format("graft.streaming.GraftLogSource").load(outDir))
      .writeStream.format("memory").queryName("sinkroundtrip")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    assert(spark.table("sinkroundtrip").select("seqno").as[Int].collect().toSet
      == Set(10, 11, 12))
  }

  test("GraftLog sink: replay of a PUBLISHED batch with a different record count is refused") {
    val outDir = java.nio.file.Files.createTempDirectory("graftlog-guard").toString
    val batch3 = Seq(10, 11, 12).map(i => Tuple1(Serde.encodeEmail(i, s"S$i", "b")))
      .toDF("value")
    StreamingOps.writeBatchSegments(batch3, outDir, batchId = 7)
    // same count replays fine (idempotent overwrite, tested above); a
    // DIFFERENT count would renumber every later global offset under a
    // committed reader — must refuse loudly, not rewrite
    val batch2 = Seq(10, 11).map(i => Tuple1(Serde.encodeEmail(i, s"S$i", "b")))
      .toDF("value")
    val e = intercept[IllegalArgumentException] {
      StreamingOps.writeBatchSegments(batch2, outDir, batchId = 7)
    }
    assert(e.getMessage.contains("refusing to rewrite published batch 7"))
    // the published log is untouched by the refused attempt
    val counts = graft.streaming.GraftLog.segmentCounts(
      java.nio.file.Paths.get(outDir))
    assert(counts.map(_._2).sum == 3)
    // a NEW batch id still appends normally
    StreamingOps.writeBatchSegments(batch2, outDir, batchId = 8)
    assert(graft.streaming.GraftLog.segmentCounts(
      java.nio.file.Paths.get(outDir)).map(_._2).sum == 5)
  }

  test("GraftLog line-count cache holds every live segment of a log past 8,192 segments") {
    // a long-lived topic: 8,300 one-line segments written directly (the
    // appender lists the directory per call, which would dominate here)
    val d = java.nio.file.Files.createTempDirectory("graftlog-countcache")
    val nSegs = 8300
    (0 until nSegs).foreach { i =>
      java.nio.file.Files.write(d.resolve(f"$i%08d.seg"), "ab\n".getBytes("UTF-8"))
    }
    val first = graft.streaming.GraftLog.segmentCounts(d)
    assert(first.length == nSegs && first.map(_._2).sum == nSegs)
    // rewrite the FIRST segment in place: same inode, same size, two
    // lines instead of one. Segments are immutable once visible, so the
    // cache may serve the count it already holds — and a cache that
    // still holds every live segment must: re-reading it means the
    // second call paid a re-count of the log
    val seg0 = d.resolve("00000000.seg")
    val key0 = java.nio.file.Files.getAttribute(seg0, "unix:ino")
    java.nio.file.Files.write(seg0, "a\n\n".getBytes("UTF-8"))
    assert(java.nio.file.Files.getAttribute(seg0, "unix:ino") == key0 &&
      java.nio.file.Files.size(seg0) == 3L)
    val second = graft.streaming.GraftLog.segmentCounts(d)
    assert(second.head._2 == 1L,
      "the cache dropped live segments of the log and re-counted them")
    assert(second.map(_._2).sum == nSegs)
  }

  test("full reference topology: producer → GraftLog → consumer → Block Kit HTTP") {
    // the reference's whole pipeline as one flow over REAL machinery:
    // raw email → clean/style → Avro value → segment log (Kafka stand-in,
    // S1-K1) → replay from earliest (S4/ST6) → corrupt-safe decode (Z2) →
    // hyperlink headings (W1) → Block Kit payload (W3) → executor-side
    // HTTP posts (K2) with the source-side ack advancing (K4)
    val logDir = java.nio.file.Files.createTempDirectory("graftlog-e2e").toString
    val in = MemoryStream[(Int, String, String)](spark)
    val produced = StreamingOps.producerTransform(in.toDF().toDF("seqno", "subject", "body"))
    val prodCkpt = java.nio.file.Files.createTempDirectory("graftlog-e2e-prod").toString
    def runProducer(): Unit = {
      val prod = StreamingOps.foreachBatchLogSink(produced.select("value"), logDir)
        .option("checkpointLocation", prodCkpt)
        .trigger(Trigger.AvailableNow()).start()
      prod.awaitTermination(60000); prod.stop()
    }
    in.addData(
      (1, "Digest", "HEADLINE OF THE DAY\nhttps://ex.am/h\nstory text"),
      (2, null, "tiny"))
    runProducer()

    val decoded = spark.readStream.format("graft.streaming.GraftLogSource").load(logDir)
      .select(Serde.fromAvroEmail(col("value")).as("email"))
      .filter(col("email").isNotNull)
      .select(col("email.seqno").as("seqno"),
              col("email.subject").as("subject"),
              col("email.body").as("body"))
      .withColumn("body_linked", LineOps.hyperlinkHeadingsHof("body"))
    val payloads = StreamingOps.blockKitPayload(
      decoded, "seqno", "subject", "body_linked", maxLen = 2900)
    PostCollector.posts.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graftlog-e2e-ckpt").toString
    def runConsumer(): Unit = {
      val cons = StreamingOps.foreachBatchHttpSink(
          payloads, () => (_, p) => PostCollector.posts.add(p))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      cons.awaitTermination(60000); cons.stop()
    }
    runConsumer()
    val posts = PostCollector.posts.toArray(Array.empty[String])
    assert(posts.length == 2)
    val p1 = posts.find(_.contains("*Digest*")).get
    assert(p1.contains("<https://ex.am/h|*HEADLINE OF THE DAY*>")) // W1 through the wire
    assert(posts.exists(_.contains("*No Subject*")))               // T1 null coalesce
    // K4: commit(end) fires when the FOLLOWING batch is planned — push a
    // second email through the whole pipe; the consumer's next run plans a
    // real batch, acknowledging run 1's offsets, and posts exactly the one
    // new payload (offsets advanced — nothing re-posted)
    in.addData((3, "Later", "follow-up"))
    runProducer()
    runConsumer()
    val after = PostCollector.posts.toArray(Array.empty[String])
    assert(after.length == 3 && after.exists(_.contains("*Later*")))
    assert(graft.streaming.GraftLog.committedOffset(logDir) >= 2L)
  }

  test("GraftLog sink: replay with fewer partitions leaves no orphan segments") {
    val outDir = java.nio.file.Files.createTempDirectory("graftlog-orphan").toString
    val wide = Seq(20, 21, 22, 23)
      .map(i => Tuple1(Serde.encodeEmail(i, s"S$i", "b"))).toDF("value")
      .repartition(4)
    StreamingOps.writeBatchSegments(wide, outDir, batchId = 3)
    // the wide attempt FAILED before publishing: crash between segment
    // writes and markBatchDone (a published batch may only be replayed
    // with the same record count — tested separately)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(outDir, ".b00000003.done"))
    val narrow = Seq(20, 21).map(i => Tuple1(Serde.encodeEmail(i, s"S$i", "b")))
      .toDF("value").repartition(1)
    StreamingOps.writeBatchSegments(narrow, outDir, batchId = 3) // the replay
    val total = graft.streaming.GraftLog.segmentCounts(
      java.nio.file.Paths.get(outDir)).map(_._2).sum
    assert(total == 2, s"stale wide-attempt segments must be gone, saw $total records")
  }

  test("GraftLog reader ignores sink segments of an unpublished (in-flight) batch") {
    val dir = java.nio.file.Files.createTempDirectory("graftlog-inflight")
    val batch = Seq(Tuple1(Serde.encodeEmail(1, "S", "b"))).toDF("value")
    StreamingOps.writeBatchSegments(batch, dir.toString, batchId = 0) // published
    // a straggler partition of batch 1 lands WITHOUT its .done marker
    java.nio.file.Files.write(dir.resolve("b00000001-p00000.seg"),
      "aGVsbG8=\n".getBytes("UTF-8"))
    val visible = graft.streaming.GraftLog.segmentCounts(dir)
      .map(_._1.getFileName.toString)
    assert(visible == Seq("b00000000-p00000.seg"),
      s"in-flight batch must be invisible to readers, saw $visible")
  }

  test("GraftLog append refuses a sink-written directory (offset order would break)") {
    val dir = java.nio.file.Files.createTempDirectory("graftlog-mixed").toString
    val batch = Seq(Tuple1(Serde.encodeEmail(1, "S", "b"))).toDF("value")
    StreamingOps.writeBatchSegments(batch, dir, batchId = 0)
    intercept[IllegalArgumentException] {
      graft.streaming.GraftLog.append(dir, Seq(Serde.encodeEmail(2, "S2", "b")))
    }
  }

  test("thread membership: insert-only keyed state emits each key once") {
    val in = MemoryStream[graft.streaming.ThreadEvent](spark)
    val out = StreamingOps.threadMembership(in.toDS(), "10 minutes", ttlMillis = 3600000L)
    val q = out.writeStream.format("memory").queryName("threads")
      .outputMode("append").start()
    in.addData(
      graft.streaming.ThreadEvent("C1", ts(1), Some("t1")),
      graft.streaming.ThreadEvent("C1", ts(2), Some("t1")),   // same thread
      graft.streaming.ThreadEvent("C2", ts(3), None))         // root = own ts
    q.processAllAvailable()
    in.addData(graft.streaming.ThreadEvent("C1", ts(5), Some("t1"))) // still known
    in.addData(graft.streaming.ThreadEvent("C1", ts(6), Some("t2"))) // new thread
    q.processAllAvailable(); q.stop()
    val keys = spark.table("threads").select("thread_key").as[String].collect().toSeq
    assert(keys.sorted == Seq("C1-t1", "C1-t2", s"C2-${ts(3)}").sorted)
  }

  test("thread membership: very-late event is dropped by the watermark, query survives") {
    // With EventTimeTimeout, FlatMapGroupsWithStateExec filters input
    // rows older than the watermark BEFORE the state function — so a
    // stale first event never reaches setTimeoutTimestamp. This pins
    // that semantics (the in-function watermark clamp stays as defense
    // in depth for any future timeout-mode change).
    val in = MemoryStream[graft.streaming.ThreadEvent](spark)
    val out = StreamingOps.threadMembership(in.toDS(), "10 minutes", ttlMillis = 60000L)
    val q = out.writeStream.format("memory").queryName("latethreads")
      .outputMode("append").start()
    in.addData(graft.streaming.ThreadEvent("C1", ts(120), Some("t1")))
    q.processAllAvailable()  // watermark → 110min
    in.addData(graft.streaming.ThreadEvent("C9", ts(1), Some("old"))) // 109min late
    q.processAllAvailable()  // must not crash; row silently dropped
    in.addData(graft.streaming.ThreadEvent("C1", ts(121), Some("t2")))
    q.processAllAvailable(); q.stop()
    val keys = spark.table("latethreads").select("thread_key").as[String].collect().toSeq
    assert(!keys.contains("C9-old") && keys.contains("C1-t2"), s"got $keys")
  }

  test("E1 enrichOnline across a REAL loopback HTTP socket: one connection per partition, framed replies correct (r17, verdict #6)") {
    // the mapPartitions/connection-reuse claim, proven over an actual
    // socket: a keep-alive HTTP/1.1 server counts ACCEPTS (connections)
    // and REQUESTS separately — enrichOnline at maxConcurrency=2 must
    // produce exactly 2 connections for 40 requests
    import java.util.concurrent.atomic.AtomicInteger
    val accepts = new AtomicInteger(0)
    val served = new AtomicInteger(0)
    val server = new java.net.ServerSocket(0, 64,
      java.net.InetAddress.getLoopbackAddress)
    val port = server.getLocalPort
    def readFramed(in: java.io.BufferedReader): Option[String] = {
      val first = in.readLine()
      if (first == null) None
      else {
        var len = 0
        var line = in.readLine()
        while (line != null && line.nonEmpty) {
          if (line.toLowerCase.startsWith("content-length:"))
            len = line.substring(15).trim.toInt
          line = in.readLine()
        }
        val buf = new Array[Char](len)
        var off = 0
        while (off < len) {
          val k = in.read(buf, off, len - off)
          if (k < 0) throw new java.io.EOFException()
          off += k
        }
        Some(new String(buf))
      }
    }
    def model(prompt: String): String =
      "echo:" + Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(prompt))
    val acceptLoop = new Thread(() => {
      try while (true) {
        val sock = server.accept()
        accepts.incrementAndGet()
        new Thread(() => {
          try {
            val in = new java.io.BufferedReader(
              new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
            val out = new java.io.BufferedOutputStream(sock.getOutputStream)
            var open = true
            while (open) readFramed(in) match {
              case None => open = false
              case Some(prompt) =>
                served.incrementAndGet()
                val rb = model(prompt).getBytes("UTF-8")
                out.write(("HTTP/1.1 200 OK\r\nContent-Length: " + rb.length +
                  "\r\nConnection: keep-alive\r\n\r\n").getBytes("UTF-8"))
                out.write(rb)
                out.flush()
            }
          } catch { case _: Exception => () } finally sock.close()
        }).start()
      } catch { case _: Exception => () } // server closed → exit
    })
    acceptLoop.start()
    try {
      // the production factory contract: ONE socket opened per partition
      // (per mkClient() call), every row of the partition flows through
      // it as a framed HTTP request — connection reuse is structural
      val mk: () => String => String = () => {
        val sock = new java.net.Socket("127.0.0.1", port)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
        (prompt: String) => {
          val pb = prompt.getBytes("UTF-8")
          out.write(("POST /v1/complete HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
            "Content-Length: " + pb.length +
            "\r\nConnection: keep-alive\r\n\r\n").getBytes("UTF-8"))
          out.write(pb)
          out.flush()
          readFramed(in).getOrElse(throw new java.io.EOFException())
        }
      }
      val reqs = spark.createDataset(
        (1L to 40L).map(i => PromptRequest(i, s"ctx-$i", s"question $i")))
        .repartition(8)
      val replies = Enrich.enrichOnline(reqs, mk, maxConcurrency = 2)
        .collect().sortBy(_.id)
      assert(replies.length == 40)
      replies.foreach { r =>
        val expected = model(Enrich.buildPrompt(s"ctx-${r.id}", s"question ${r.id}"))
        assert(r.reply == expected, s"req ${r.id}: ${r.reply} != $expected")
      }
      assert(served.get() == 40, s"server saw ${served.get()} requests")
      assert(accepts.get() == 2,
        s"maxConcurrency=2 must open exactly 2 connections, saw ${accepts.get()}")
    } finally {
      try server.close() catch { case _: Exception => () }
    }
  }

  test("E1 enrichOnlineSafe: an injected failing record gets bounded retries then the sentinel — the batch completes, errors are counted, connections stay per-partition (r18, VERDICT r17 #7)") {
    import java.util.concurrent.atomic.AtomicInteger
    val accepts = new AtomicInteger(0)
    val served = new AtomicInteger(0)
    val poisonSeen = new AtomicInteger(0)
    val server = new java.net.ServerSocket(0, 64,
      java.net.InetAddress.getLoopbackAddress)
    val port = server.getLocalPort
    def readFramed(in: java.io.BufferedReader): Option[String] = {
      val first = in.readLine()
      if (first == null) None
      else {
        var len = 0
        var line = in.readLine()
        while (line != null && line.nonEmpty) {
          if (line.toLowerCase.startsWith("content-length:"))
            len = line.substring(15).trim.toInt
          line = in.readLine()
        }
        val buf = new Array[Char](len)
        var off = 0
        while (off < len) {
          val k = in.read(buf, off, len - off)
          if (k < 0) throw new java.io.EOFException()
          off += k
        }
        Some(new String(buf))
      }
    }
    def model(prompt: String): String =
      "echo:" + Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(prompt))
    val acceptLoop = new Thread(() => {
      try while (true) {
        val sock = server.accept()
        accepts.incrementAndGet()
        new Thread(() => {
          try {
            val in = new java.io.BufferedReader(
              new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
            val out = new java.io.BufferedOutputStream(sock.getOutputStream)
            var open = true
            while (open) readFramed(in) match {
              case None => open = false
              case Some(prompt) if prompt.contains("poison") =>
                // transport failure injection: hang up mid-exchange
                poisonSeen.incrementAndGet()
                open = false
              case Some(prompt) =>
                served.incrementAndGet()
                val rb = model(prompt).getBytes("UTF-8")
                out.write(("HTTP/1.1 200 OK\r\nContent-Length: " + rb.length +
                  "\r\nConnection: keep-alive\r\n\r\n").getBytes("UTF-8"))
                out.write(rb)
                out.flush()
            }
          } catch { case _: Exception => () } finally sock.close()
        }).start()
      } catch { case _: Exception => () }
    })
    acceptLoop.start()
    try {
      val mk: () => String => String = () => {
        val sock = new java.net.Socket("127.0.0.1", port)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
        (prompt: String) => {
          val pb = prompt.getBytes("UTF-8")
          out.write(("POST /v1/complete HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
            "Content-Length: " + pb.length +
            "\r\nConnection: keep-alive\r\n\r\n").getBytes("UTF-8"))
          out.write(pb)
          out.flush()
          readFramed(in).getOrElse(throw new java.io.EOFException())
        }
      }
      val poison = Set(13L, 27L)
      val reqs = spark.createDataset((1L to 40L).map(i =>
        PromptRequest(i, s"ctx-$i",
          if (poison(i)) s"poison $i" else s"question $i")))
        .repartition(8)
      val (ds, errored) = Enrich.enrichOnlineSafe(
        reqs, mk, maxConcurrency = 2, maxRetries = 2)
      val replies = ds.collect().sortBy(_.id)
      // the batch COMPLETES: every record has a reply row
      assert(replies.length == 40)
      replies.foreach { r =>
        if (poison(r.id))
          assert(r.reply == "[enrichment unavailable]",
            s"poisoned req ${r.id} must get the sentinel, got ${r.reply}")
        else {
          val expected = model(Enrich.buildPrompt(s"ctx-${r.id}", s"question ${r.id}"))
          assert(r.reply == expected, s"req ${r.id}: ${r.reply} != $expected")
        }
      }
      // observability: the errored counter says exactly what was substituted
      assert(errored.value == 2L, s"errored counter ${errored.value} != 2")
      assert(served.get() == 38, s"server completed ${served.get()} != 38")
      // bounded retries: each poison record tried 1 + maxRetries times
      assert(poisonSeen.get() == 6, s"poison attempts ${poisonSeen.get()} != 6")
      // connection amortization survives the failures: the 2 base
      // connections plus at most (1 + maxRetries) re-mints per poison
      assert(accepts.get() >= 2 && accepts.get() <= 2 + 2 * 3,
        s"connection count ${accepts.get()} outside [2, 8]")
    } finally {
      try server.close() catch { case _: Exception => () }
    }
  }

  /** Synthetic hash frame for the dial-growth tests: every doc's band-b
    * key shares one 16-char prefix (binary of b) and splits at chars
    * 17–32 (binary of doc_id) — collides at width 16, unique-ish at 32.
    * v entries are golden-ratio-scattered ints, pairwise Hamming ≫ 6. */
  private def dialHashes(ids: Range, nBands: Int): org.apache.spark.sql.DataFrame = {
    def bits(v: Long, n: Int): String =
      (n - 1 to 0 by -1).map(k => if (((v >> k) & 1L) == 1L) '1' else '0').mkString
    ids.map { id =>
      val v = Array.tabulate(nBands)(k => ((id * 2654435761L) ^ (k * 0x9E3779B9L)).toInt)
      val bk = Array.tabulate(nBands)(b => bits(b, 16) + bits(id & 0xFFFFL, 16) + "0" * 48)
      (id.toLong, v, bk)
    }.toDF("doc_id", "v", "bk")
  }

  test("media index dial re-prices under online ingest growth: width widens at the trigger, probe candidate volume collapses, verdicts unchanged (r18, VERDICT r17 #1)") {
    val path = java.nio.file.Files.createTempDirectory("graft-dialgrow").toString
    // build 150 width-16-colliding docs: measured volume under budget → 16
    MediaOps.buildIndexFrom(dialHashes(0 until 150, 4), path)
    assert(MediaOps.storedWidth(spark, path) == 16)
    // the probe delta: a twin of doc 5 (same keys+vector → dup at any
    // width) and a genuinely new doc (far vector, unique 32-suffix)
    val delta = dialHashes(5 to 5, 4).selectExpr("doc_id + 900000 as doc_id", "v", "bk")
      .unionAll(dialHashes(64000 to 64000, 4))
    val candBefore = MediaOps.probeCandidates(delta, path).count()
    assert(candBefore >= 150,
      s"width-16 probe must hit every colliding doc, saw $candBefore")
    val verdictBefore = MediaOps.probeStoredIndexWith(delta, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(verdictBefore.map(v => (v._1, v._4)) ==
      Seq((64000L, true), (900005L, false)))
    // grow ONLINE past the trigger (2× the priced population) through the
    // streaming ingest leg: batch A stays under, batch B crosses
    val in = MemoryStream[(Long, Array[Int], Array[String])](spark)
    val q = StreamingOps.mediaIngestHashStream(
      in.toDF().toDF("doc_id", "v", "bk"), path).start()
    in.addData(dialHashes(150 until 230, 4).as[(Long, Array[Int], Array[String])].collect().toSeq: _*)
    q.processAllAvailable()
    assert(MediaOps.storedWidth(spark, path) == 16,
      "trigger fired below the 2x growth threshold")
    in.addData(dialHashes(230 until 320, 4).as[(Long, Array[Int], Array[String])].collect().toSeq: _*)
    q.processAllAvailable(); q.stop()
    // 320 docs in one width-16 bucket per band prices over budget → the
    // growth-triggered compaction re-measured the dial and widened it
    assert(MediaOps.storedWidth(spark, path) == 32,
      s"dial did not re-price after 2x growth (width ${MediaOps.storedWidth(spark, path)})")
    val stat = spark.read.parquet(
      s"${IndexLifecycle.resolveIndexRoot(spark, path)}/stat").head()
    assert(stat.getLong(2) == 320L, s"priced_n must reset to the re-priced population")
    // candidate volume collapses at the re-priced width...
    val candAfter = MediaOps.probeCandidates(delta, path).count()
    assert(candAfter <= 8,
      s"width-32 probe candidates did not collapse: $candBefore -> $candAfter")
    // ...while the verdicts are byte-identical (the twin still dups, the
    // new doc still admits — same n_matches/best_hamming)
    val verdictAfter = MediaOps.probeStoredIndexWith(delta, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(verdictAfter == verdictBefore,
      s"re-pricing changed probe verdicts: $verdictBefore -> $verdictAfter")
  }

  test("video-grain index dial re-prices under growth (12-band frame, r18)") {
    val path = java.nio.file.Files.createTempDirectory("graft-dialgrow-v").toString
    MediaOps.buildIndexFrom(dialHashes(0 until 60, 12), path, bandsPerDoc = 12)
    assert(MediaOps.storedWidth(spark, path) == 16)
    val twin = dialHashes(7 to 7, 12).selectExpr("doc_id + 900000 as doc_id", "v", "bk")
    val candBefore = MediaOps.probeCandidates(twin, path).count()
    assert(candBefore >= 60)
    val (a, _) = MediaOps.mergeHashesIntoIndex(
      dialHashes(60 until 130, 12), path, "video")
    assert(a == 70L)
    assert(MediaOps.storedWidth(spark, path) == 32,
      "video dial did not re-price after 2x growth")
    val candAfter = MediaOps.probeCandidates(twin, path).count()
    assert(candAfter <= 4,
      s"video candidates did not collapse: $candBefore -> $candAfter")
  }

  test("ANN index refit: drift-lost recall restored by the rebuild, probes keep the old version until the atomic commit (r18, VERDICT r17 #3)") {
    Similarity.withFns(spark)
    val path = java.nio.file.Files.createTempDirectory("graft-refit").toString
    def vec(x: Double, y: Double): Array[Float] = {
      val n = math.sqrt(x * x + y * y)
      Array((x / n).toFloat, (y / n).toFloat, 0f, 0f)
    }
    // v1: two cells — an A-cluster on e0 (cell 0), a B-cluster on e1
    val rows = (1L to 5L).map(i => (i, 0, vec(1, 0.001 * i), 0)) ++
      (11L to 15L).map(i => (i, 1, vec(0.001 * i, 1), 1))
    rows.toDF("vec_id", "label", "embedding", "c_label")
      .selectExpr("vec_id", "label", "embedding",
        "sqrt(graft_dot(embedding, embedding)) as nrm", "c_label")
      .write.partitionBy("c_label").parquet(s"$path/assignments")
    Seq((0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("c_label", "centroid").write.parquet(s"$path/centroids")
    // drift: a 21-row cluster g BARELY on the c0 side of the Voronoi
    // boundary — the frozen codebook stores all of it in cell 0
    val g = (100L to 120L).map(i => (i, vec(0.72, 0.694 + 0.00001 * (i - 100))))
    Similarity.mergeDeltaIntoIndex(g.toDF("vec_id", "embedding"), path)
    assert(spark.read.parquet(s"$path/assignments")
      .filter("vec_id >= 100 and c_label = 0").count() == 21,
      "drift cluster must store in cell 0 under the stale codebook")
    // the probe: a re-embed of a g-member, jittered ACROSS the boundary —
    // it routes to cell 1 where its twin is not, and recall is LOST
    val probe = Seq((900100L, vec(0.694, 0.72))).toDF("vec_id", "embedding")
    val before = Similarity.probeAnnIndex(probe, path).head()
    assert(before.getAs[Int]("q_cell") == 1 && !before.getAs[Boolean]("is_dup"),
      s"drift probe must misroute pre-refit: $before")
    // rebuild: round-1 centroid update pulls cell 0 to the drift mass
    // (21 g-rows vs 5 A-rows), the boundary moves, the probe re-finds
    val newRoot = Similarity.rebuildAnnIndex(spark, path, rounds = 2)
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == newRoot)
    val after = Similarity.probeAnnIndex(probe, path).head()
    assert(after.getAs[Boolean]("is_dup") &&
      after.getAs[Long]("nn_id") >= 100L && after.getAs[Long]("nn_id") <= 120L,
      s"refit did not restore recall: $after")
    // the old version's files are never touched — an in-flight probe
    // that resolved pre-commit reads a complete, intact artifact
    assert(spark.read.parquet(s"$path/assignments").count() == 31,
      "pre-refit artifact must be retained for in-flight probes")
    // an UNCOMMITTED version never serves: resolution flips only on the
    // atomic _COMMITTED marker-create (the last act of a rebuild)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$path/versions/v00099/assignments"))
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == newRoot,
      "a crashed (uncommitted) rebuild must not capture resolution")
    // incremental writers fold into the LIVE version post-swap
    Similarity.mergeDeltaIntoIndex(
      Seq((500L, vec(0.5, 0.5))).toDF("vec_id", "embedding"), path)
    assert(spark.read.parquet(s"$newRoot/assignments")
      .filter("vec_id = 500").count() == 1, "merge must target the live version")
    assert(spark.read.parquet(s"$path/assignments").count() == 31,
      "merge must not touch the retired version")
  }

  test("snapshot-rebuild-catchup: a merge and a takedown landing DURING the refit survive the swap — merged rows routed by the NEW codebook (r19, VERDICT r18 #5)") {
    Similarity.withFns(spark)
    val path = java.nio.file.Files.createTempDirectory("graft-catchup").toString
    def vec(x: Double, y: Double): Array[Float] = {
      val n = math.sqrt(x * x + y * y)
      Array((x / n).toFloat, (y / n).toFloat, 0f, 0f)
    }
    val rows = (1L to 5L).map(i => (i, 0, vec(1, 0.001 * i), 0)) ++
      (11L to 15L).map(i => (i, 1, vec(0.001 * i, 1), 1))
    rows.toDF("vec_id", "label", "embedding", "c_label")
      .selectExpr("vec_id", "label", "embedding",
        "sqrt(graft_dot(embedding, embedding)) as nrm", "c_label")
      .write.partitionBy("c_label").parquet(s"$path/assignments")
    Seq((0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("c_label", "centroid").write.parquet(s"$path/centroids")
    val g = (100L to 120L).map(i => (i, vec(0.72, 0.694 + 0.00001 * (i - 100))))
    Similarity.mergeDeltaIntoIndex(g.toDF("vec_id", "embedding"), path)
    // the refit no longer holds the writer lock for its corpus-sized
    // phase (r19): writers landing mid-refit fold into the OLD live
    // version, and the locked catchup phase replays them onto the new
    // one before the commit. The beforeCatchup seam makes the race
    // deterministic — the refit snapshot is already read AND written
    // when these land, so without the catchup pass the merge would
    // silently vanish at the swap and the takedown would be un-forgotten.
    val newRoot = Similarity.rebuildAnnIndex(spark, path, rounds = 2,
      beforeCatchup = () => {
        Similarity.mergeDeltaIntoIndex(
          Seq((700L, vec(0.695, 0.719))).toDF("vec_id", "embedding"), path)
        Similarity.forgetVictimIdsFrom(Seq(3L).toDF("vec_id"), path)
      })
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == newRoot)
    // the mid-refit merge is IN the new version, exactly once
    assert(spark.read.parquet(s"$newRoot/assignments")
      .filter("vec_id = 700").count() == 1, "mid-refit merge lost at the swap")
    // …and probe-reachable: routed by the NEW codebook, so its twin finds
    // it through the live version (routing by the old codebook would
    // file it in a cell the post-swap probe never scans)
    val hit = Similarity.probeAnnIndex(
      Seq((900700L, vec(0.695, 0.719))).toDF("vec_id", "embedding"), path).head()
    assert(hit.getAs[Boolean]("is_dup") && hit.getAs[Long]("nn_id") == 700L,
      s"mid-refit merged row not probe-reachable post-swap: $hit")
    // the mid-refit takedown survives the swap: the tombstone log was
    // re-read at commit, so vec 3 stays hidden from every live read
    assert(Similarity.liveAssignments(spark, newRoot).filter("vec_id = 3").isEmpty,
      "mid-refit takedown lost at the swap")
    // and the refit routing itself holds (the drift probe re-finds home)
    val dhit = Similarity.probeAnnIndex(
      Seq((900100L, vec(0.694, 0.72))).toDF("vec_id", "embedding"), path).head()
    assert(dhit.getAs[Boolean]("is_dup") && dhit.getAs[Long]("nn_id") >= 100L)
  }

  test("drift-gated auto-refit: the ingest stream re-fits the index itself once the population's PSI crosses the dial, and converges (r18)") {
    Similarity.withFns(spark)
    val path = java.nio.file.Files.createTempDirectory("graft-autorefit").toString
    def vec(x: Double, y: Double): Array[Float] = {
      val n = math.sqrt(x * x + y * y)
      Array((x / n).toFloat, (y / n).toFloat, 0f, 0f)
    }
    val rows = (1L to 5L).map(i => (i, 0, vec(1, 0.001 * i), 0)) ++
      (11L to 15L).map(i => (i, 1, vec(0.001 * i, 1), 1))
    rows.toDF("vec_id", "label", "embedding", "c_label")
      .selectExpr("vec_id", "label", "embedding",
        "sqrt(graft_dot(embedding, embedding)) as nrm", "c_label")
      .write.partitionBy("c_label").parquet(s"$path/assignments")
    Seq((0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("c_label", "centroid").write.parquet(s"$path/centroids")
    // hand-built artifacts carry no fit-time frame: the first check
    // SELF-SEEDS (current population becomes the reference, PSI = 0)
    assert(Similarity.annIndexDriftPsiMicro(spark, path) == 0L)
    assert(Similarity.maybeRebuildAnnIndex(spark, path).isEmpty,
      "undrifted index must not rebuild")
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == path)
    // sustained drift arrives through the auto-refit ingest stream: a
    // 21-row cluster all routing to cell 0 moves the shares from
    // (.5, .5) to (27/33, 6/33) — PSI 0.477, over the 0.2 dial
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamingOps.annIngestStreamAutoRefit(
      in.toDF().toDF("vec_id", "embedding"), path).start()
    in.addData((100L to 120L).map(i =>
      (i, vec(0.72, 0.694 + 0.00001 * (i - 100)))): _*)
    q.processAllAvailable()
    val live = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(live != path, "drift crossing the dial must fire the rebuild")
    // the rebuild reset the reference frame: the replayed batch merges
    // idempotently and measures PSI ~ 0 — no rebuild storm
    in.addData((100L to 120L).map(i =>
      (i, vec(0.72, 0.694 + 0.00001 * (i - 100)))): _*)
    q.processAllAvailable(); q.stop()
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == live,
      "replayed drift batch re-fired the rebuild")
    assert(Similarity.annIndexDriftPsiMicro(spark, path) < 200000L)
    assert(Similarity.maybeRebuildAnnIndex(spark, path).isEmpty)
    // the refit codebook routes the drift cluster's re-embeds home
    val probe = Seq((900100L, vec(0.694, 0.72))).toDF("vec_id", "embedding")
    val hit = Similarity.probeAnnIndex(probe, path).head()
    assert(hit.getAs[Boolean]("is_dup") && hit.getAs[Long]("nn_id") >= 100L)
    // SECOND drift wave → second self-triggered rebuild, and the rebuild's
    // own keep-N GC holds the version count (r19, VERDICT r18 #3): an
    // unattended auto-refit stream must not accumulate versions × corpus
    val q2 = StreamingOps.annIngestStreamAutoRefit(
      in.toDF().toDF("vec_id", "embedding"), path).start()
    in.addData((300L to 499L).map(i => (i, vec(1, 0.0001 * (i - 300)))): _*)
    q2.processAllAvailable(); q2.stop()
    val live2 = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(live2 != live, "second drift wave must re-fire the rebuild")
    val committed = new java.io.File(s"$path/versions").listFiles()
      .filter(d => d.getName.matches("v\\d+") &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$d/_COMMITTED")))
    assert(committed.length <= 2,
      s"auto-refit GC must hold committed versions at keep=2: ${committed.length}")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/assignments")),
      "auto-refit GC must retire the flat root once the keep window fills")
    // the retired flat root must not strand readers: probes resolve live
    assert(Similarity.probeAnnIndex(probe, path).count() == 1)
  }

  test("version GC: old versions retire, the live version and a probe buffer stay, in-flight rebuilds are never touched (r18)") {
    Similarity.withFns(spark)
    val path = java.nio.file.Files.createTempDirectory("graft-prune").toString
    def vec(x: Double, y: Double): Array[Float] = {
      val n = math.sqrt(x * x + y * y)
      Array((x / n).toFloat, (y / n).toFloat, 0f, 0f)
    }
    val rows = (1L to 5L).map(i => (i, 0, vec(1, 0.001 * i), 0)) ++
      (11L to 15L).map(i => (i, 1, vec(0.001 * i, 1), 1))
    rows.toDF("vec_id", "label", "embedding", "c_label")
      .selectExpr("vec_id", "label", "embedding",
        "sqrt(graft_dot(embedding, embedding)) as nrm", "c_label")
      .write.partitionBy("c_label").parquet(s"$path/assignments")
    Seq((0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("c_label", "centroid").write.parquet(s"$path/centroids")
    // hold the auto-GC open (rebuild now prunes as it commits, r19) so
    // the EXPLICIT prune's contract is what this test exercises
    spark.conf.set("spark.graft.indexKeepVersions", "99")
    try {
      Similarity.rebuildAnnIndex(spark, path) // -> v00002
      Similarity.rebuildAnnIndex(spark, path) // -> v00003
      Similarity.rebuildAnnIndex(spark, path) // -> v00004 (live)
    } finally spark.conf.unset("spark.graft.indexKeepVersions")
    // a crashed rebuild's leftover: uncommitted, OLDER than the live one
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$path/versions/v00001/assignments"))
    // an in-flight rebuild (uncommitted, NEWER than live) must survive
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$path/versions/v00099/assignments"))
    val pruned = IndexLifecycle.pruneVersions(spark, Similarity.annFamily, path, keep = 2)
    // retired: v00002 (old committed), v00001 (crashed), the flat root
    assert(pruned == 3L, s"pruned $pruned != 3")
    def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    assert(!exists(s"$path/versions/v00002") && !exists(s"$path/versions/v00001"))
    assert(!exists(s"$path/assignments") && !exists(s"$path/centroids"),
      "flat v1 artifacts must retire once the keep window is committed")
    assert(exists(s"$path/versions/v00003") && exists(s"$path/versions/v00004"))
    assert(exists(s"$path/versions/v00099"), "in-flight rebuild dir was deleted")
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == s"$path/versions/v00004")
    // probes and the report survive the GC (report baselines v00003 now)
    val probe = Seq((900001L, vec(1, 0.002))).toDF("vec_id", "embedding")
    assert(Similarity.probeAnnIndex(probe, path).count() == 1)
    assert(Similarity.rebuildReport(spark, path).count() > 0)
    // idempotent: a second prune retires nothing further
    assert(IndexLifecycle.pruneVersions(spark, Similarity.annFamily, path, keep = 2) == 0L)
  }

  test("ANN maintenance policy: a takedown crossing the tombstone fraction auto-compacts (rounds = 0) — codebook and drift frame carried, victims physical (r19)") {
    Similarity.withFns(spark)
    val path = java.nio.file.Files.createTempDirectory("graft-annmaint").toString
    def vec(x: Double, y: Double): Array[Float] = {
      val n = math.sqrt(x * x + y * y)
      Array((x / n).toFloat, (y / n).toFloat, 0f, 0f)
    }
    val rows = (1L to 10L).map(i => (i, 0, vec(1, 0.001 * i), 0)) ++
      (11L to 20L).map(i => (i, 1, vec(0.001 * i, 1), 1))
    rows.toDF("vec_id", "label", "embedding", "c_label")
      .selectExpr("vec_id", "label", "embedding",
        "sqrt(graft_dot(embedding, embedding)) as nrm", "c_label")
      .write.partitionBy("c_label").parquet(s"$path/assignments")
    Seq((0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("c_label", "centroid").write.parquet(s"$path/centroids")
    // a drift reference frame to carry: a pure compaction must NOT reset
    // it — that would zero measured drift without refitting and suppress
    // the drift-gated auto-refit under frequent compactions
    spark.read.parquet(s"$path/assignments")
      .groupBy("c_label").agg(count(lit(1)).as("n"))
      .write.parquet(s"$path/cellstat")
    def sorted(p: String): Seq[String] =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    val cents0 = sorted(s"$path/centroids")
    val frame0 = sorted(s"$path/cellstat")
    // 2/20 = 10% victims: under the fraction — lazy deletion only
    Similarity.forgetVictimIdsFrom(Seq(1L, 2L).toDF("vec_id"), path)
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == path,
      "policy fired under the tombstone threshold")
    // 8/20 = 40% cumulative: the forget's OWN maintenance tail compacts
    Similarity.forgetVictimIdsFrom((3L to 8L).map(identity).toDF("vec_id"), path)
    val v2 = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(v2 != path, "tombstone-fraction trigger did not compact")
    assert(spark.read.parquet(s"$v2/assignments").filter($"vec_id" <= 8L).count() == 0,
      "auto-compaction left victims physical")
    assert(spark.read.parquet(s"$v2/assignments").count() == 12)
    assert(spark.read.parquet(s"$path/assignments").count() == 20,
      "auto-compaction rewrote the flat artifact in place")
    // rounds = 0 semantics: codebook CARRIED (no refit), drift frame CARRIED
    assert(sorted(s"$v2/centroids") == cents0, "pure compaction moved the codebook")
    assert(sorted(s"$v2/cellstat") == frame0,
      "pure compaction reset the drift reference frame")
    // the carried tombstone log still guards replays: a replayed
    // pre-takedown ingest batch cannot resurrect a victim
    Similarity.mergeDeltaIntoIndex(
      Seq((5L, vec(1, 0.005))).toDF("vec_id", "embedding"), path)
    assert(Similarity.liveAssignments(spark, v2).filter($"vec_id" === 5L).isEmpty,
      "replayed ingest resurrected a forgotten id post-compaction")
    // re-delivered takedown: victims already physical — nothing appended,
    // no version churn (the fraction prices LIVE victims, not log size)
    Similarity.forgetVictimIdsFrom((3L to 8L).map(identity).toDF("vec_id"), path)
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == v2,
      "re-delivered takedown re-compacted a clean version")
  }

  test("dedup index lifecycle: streamed ingest ≡ batch merge, lazy takedown, pending-forget ordering, versioned auto-compaction ≡ lazy view (r19b)") {
    val pathA = Dedup.indexPathFor(sf) + "-dlifeA"
    val pathB = Dedup.indexPathFor(sf) + "-dlifeB"
    Dedup.buildDedupIndex(spark, sf, pathA)
    Dedup.buildDedupIndex(spark, sf, pathB)
    // the q145 merge batch: +50000-rekeyed UNMUTATED %10==7 docs
    val batch = Tables.documents(spark, sf).filter($"doc_id" % 10 === 7)
      .selectExpr("doc_id + 50000 as doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    // A ingests via the STREAM (two micro-batches + an at-least-once
    // full replay); B folds once in batch — artifacts must agree
    val (b1, b2) = batch.splitAt(batch.length / 2)
    val in = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.dedupIngestStream(
        in.toDF().toDF("doc_id", "text"), pathA).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(batch: _*) // full replay: the registry refuses everything
    q.processAllAvailable(); q.stop()
    val (adm, ref) = Dedup.mergeDedupBatchIntoIndex(
      batch.toDF("doc_id", "text"), pathB)
    assert(adm == batch.length && ref == 0, s"batch merge ($adm, $ref)")
    val (adm2, ref2) = Dedup.mergeDedupBatchIntoIndex(
      batch.toDF("doc_id", "text"), pathB)
    assert(adm2 == 0 && ref2 == batch.length, "replayed batch merge must refuse")
    def rows(p: String, sub: String): Seq[String] =
      spark.read.parquet(s"$p/$sub").collect().map(_.toString).sorted.toSeq
    assert(rows(pathA, "shingles") == rows(pathB, "shingles"),
      "streamed ingest diverged from batch merge on the registry")
    assert(rows(pathA, "bands") == rows(pathB, "bands"),
      "streamed ingest diverged from batch merge on the bands")
    // the q145 semantics: every mutated twin now matches original + copy
    def probe(p: String): Seq[String] =
      Dedup.incrementalDedupStored(spark, sf, p)
        .orderBy("delta_id").collect().map(_.toString).toSeq
    val merged = Dedup.incrementalDedupStored(spark, sf, pathA)
      .filter($"delta_id" < 30000).collect()
    assert(merged.nonEmpty && merged.forall(_.getLong(1) >= 2),
      "a mutated twin does not see the merged copy")
    // IDENTICAL logical takedowns on both: A under a low maintenance
    // fraction (auto-compacts), B under the default (stays lazy) — the
    // final probe equality proves lazy == physical
    val victims = batch.map(_._1)
    assert(Dedup.forgetDedupFromIndex(victims.toDF("doc_id"), pathB)
      == victims.length)
    assert(Dedup.forgetDedupFromIndex(victims.toDF("doc_id"), pathB) == 0L,
      "re-delivered takedown must no-op")
    // early takedown on B: pends, then the arrival is refused + tombstoned
    assert(Dedup.forgetDedupFromIndex(Seq(999999L).toDF("doc_id"), pathB) == 0L)
    assert(Dedup.dedupPendingOf(spark, pathB).as[Long].collect().toSeq == Seq(999999L))
    val (a3, r3) = Dedup.mergeDedupBatchIntoIndex(
      Seq((999999L, "pending victim text")).toDF("doc_id", "text"), pathB)
    assert(a3 == 0L && r3 == 1L, "pending takedown did not refuse the arrival")
    assert(Dedup.dedupPendingOf(spark, pathB).isEmpty, "pending entry not consumed")
    spark.conf.set("spark.graft.dedupCompactTombstoneFrac", "0.05")
    try {
      // stream the takedowns into A: the last batch crosses 5% and the
      // forget's own maintenance tail compacts
      val inF = MemoryStream[Long](spark)
      val qA = StreamingOps.dedupForgetStream(inF.toDF().toDF("doc_id"), pathA).start()
      inF.addData(victims: _*); qA.processAllAvailable()
      inF.addData(999999L); qA.processAllAvailable(); qA.stop()
      val v2 = IndexLifecycle.resolveIndexRoot(spark, pathA)
      assert(v2 != pathA, "tombstone-fraction trigger did not compact")
      assert(spark.read.parquet(s"$v2/shingles")
        .filter($"doc_id" >= 50000L).count() == 0,
        "auto-compaction left victims physical")
      // B consumed 999999's pending into a tombstone; A's early takedown
      // stays pending (no arrival streamed) — align before comparing
      assert(Dedup.dedupPendingOf(spark, pathA).as[Long].collect().toSeq == Seq(999999L))
    } finally spark.conf.unset("spark.graft.dedupCompactTombstoneFrac")
    // the probes agree: A physical (compacted version) ≡ B lazy (flat +
    // tombstone anti-join) — 999999 was never admitted to either index
    assert(probe(pathA) == probe(pathB),
      "auto-compacted probe diverged from the lazy view")
    assert(IndexLifecycle.resolveIndexRoot(spark, pathB) == pathB, "B must have stayed lazy")
  }

  test("PQ index lifecycle: streamed frozen-codebook ingest ≡ batch merge; lazy takedown; versioned auto-compaction carries codebook and coarse (r19b)") {
    val pathA = Similarity.pqIndexPathFor(sf) + "-plifeA"
    val pathB = Similarity.pqIndexPathFor(sf) + "-plifeB"
    Similarity.buildPqIndex(spark, sf, pathA)
    Similarity.buildPqIndex(spark, sf, pathB)
    def probe(p: String): Seq[String] =
      Similarity.pqIndexProbeStored(spark, sf, p)
        .orderBy("vec_id").collect().map(_.toString).toSeq
    val probe0 = probe(pathA)
    // the q147 merge batch: exact copies of the jittered delta leg
    val batch = Similarity.annDelta(spark, sf).filter($"vec_id" < 200000L)
      .selectExpr("vec_id + 200000 as vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    val (b1, b2) = batch.splitAt(batch.length / 2)
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamingOps.pqIngestStream(
        in.toDF().toDF("vec_id", "embedding"), pathA).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(batch: _*) // full replay: the codes registry refuses
    q.processAllAvailable(); q.stop()
    val (adm, ref) = Similarity.mergePqBatchIntoIndex(
      batch.toDF("vec_id", "embedding"), pathB)
    assert(adm == batch.length && ref == 0, s"batch merge ($adm, $ref)")
    val (adm2, ref2) = Similarity.mergePqBatchIntoIndex(
      batch.toDF("vec_id", "embedding"), pathB)
    assert(adm2 == 0 && ref2 == batch.length, "replayed batch merge must refuse")
    def rows(p: String): Seq[String] =
      spark.read.parquet(s"$p/codes").collect().map(_.toString).sorted.toSeq
    assert(rows(pathA) == rows(pathB),
      "streamed ingest diverged from batch merge on the codes artifact")
    // every jittered probe row finds its exact merged twin at cosine 1.0
    val hits = Similarity.pqIndexProbeStored(spark, sf, pathA)
      .filter($"vec_id" < 200000L).collect()
    assert(hits.nonEmpty && hits.forall(r =>
        r.getLong(2) == r.getLong(0) + 200000L && r.getBoolean(4)),
      "a jittered probe row missed its merged exact twin")
    // IDENTICAL takedowns: A streamed under a low fraction (compacts),
    // B batch under the default (stays lazy)
    val victims = batch.map(_._1) :+ 1L
    assert(Similarity.forgetPqFromIndex(victims.toDF("vec_id"), pathB)
      == victims.length)
    assert(Similarity.forgetPqFromIndex(victims.toDF("vec_id"), pathB) == 0L,
      "re-delivered takedown must no-op")
    // PENDING-FORGET ordering (r19c): an early takedown pends, the late
    // arrival is refused + tombstoned, a replay stays refused
    assert(Similarity.forgetPqFromIndex(Seq(888888L).toDF("vec_id"), pathB) == 0L)
    assert(spark.read.parquet(s"$pathB/pending")
      .as[Long].collect().toSeq == Seq(888888L), "early takedown not pending")
    val lateVec = batch.head._2
    val (aL, rL) = Similarity.mergePqBatchIntoIndex(
      Seq((888888L, lateVec)).toDF("vec_id", "embedding"), pathB)
    assert(aL == 0L && rL == 1L, "pending takedown did not refuse the arrival")
    // r20: a consume that EMPTIES the log deletes the directory — no
    // future merge pays a dead existence check + empty broadcast join
    assert(!ScratchPaths.artifactExists(spark, s"$pathB/pending/_SUCCESS"),
      "fully-consumed pending log must be deleted, not rewritten empty")
    assert(Similarity.livePqCodes(spark, pathB, IndexLifecycle.resolveIndexRoot(spark, pathB))
      .filter($"vec_id" === 888888L).isEmpty)
    // the null-cell tombstone carries the refusal memory — a replay of
    // the late arrival stays refused with the log gone
    val (aL2, rL2) = Similarity.mergePqBatchIntoIndex(
      Seq((888888L, lateVec)).toDF("vec_id", "embedding"), pathB)
    assert(aL2 == 0L && rL2 == 1L,
      "replayed late arrival re-admitted after pending-log delete")
    spark.conf.set("spark.graft.pqCompactTombstoneFrac", "0.001")
    try {
      val inF = MemoryStream[Long](spark)
      val qA = StreamingOps.pqForgetStream(inF.toDF().toDF("vec_id"), pathA).start()
      inF.addData(victims: _*); qA.processAllAvailable(); qA.stop()
      val v2 = IndexLifecycle.resolveIndexRoot(spark, pathA)
      assert(v2 != pathA, "tombstone-fraction trigger did not compact")
      assert(spark.read.parquet(s"$v2/codes")
        .filter($"vec_id" >= 300000L || $"vec_id" === 1L).count() == 0,
        "auto-compaction left victims physical")
      // compaction carries the frozen fit: codebook and coarse byte-equal
      def sortedRows(p: String): Seq[String] =
        spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
      assert(sortedRows(s"$v2/codebook") == sortedRows(s"$pathA/codebook"),
        "compaction moved the frozen codebook")
      assert(sortedRows(s"$v2/coarse") == sortedRows(s"$pathA/coarse"),
        "compaction moved the coarse frame")
    } finally spark.conf.unset("spark.graft.pqCompactTombstoneFrac")
    // A physical ≡ B lazy, and both ≡ the pre-merge probe except where
    // vec_id 1 was someone's neighbour (identical divergence on both)
    assert(probe(pathA) == probe(pathB),
      "auto-compacted probe diverged from the lazy view")
    assert(IndexLifecycle.resolveIndexRoot(spark, pathB) == pathB, "B must have stayed lazy")
    // a replayed pre-takedown ingest cannot resurrect forgotten ids
    val (a4, r4) = Similarity.mergePqBatchIntoIndex(
      batch.toDF("vec_id", "embedding"), pathA)
    assert(a4 == 0L && r4 == batch.length,
      "replayed ingest resurrected forgotten ids post-compaction")
    assert(probe(pathA) == probe(pathB))
    // the jittered rows' twins are gone again: no verdict still points
    // at a +300000 neighbour (probe0 is the pre-merge reference frame)
    assert(probe(pathA).size == probe0.size &&
      !Similarity.pqIndexProbeStored(spark, sf, pathA)
        .filter($"nn_id" >= 300000L).collect().exists(_ => true),
      "a forgotten merged twin still serves as a neighbour")
  }

  test("PQ distortion-gated auto-refit: the ingest stream re-fits the codebook once quantization decay crosses the dial; mid-refit merges survive the swap (r19c)") {
    val path = Similarity.pqIndexPathFor(sf) + "-prefit"
    Similarity.buildPqIndex(spark, sf, path)
    // fresh artifact: the stored-code reconstruction reproduces the
    // fit's own distortion bit-for-bit, and the dials read not-due
    val rep0 = Similarity.pqIndexDistortionReport(spark, path).head()
    assert(rep0.getDouble(1) == rep0.getDouble(2),
      s"fresh index d_now ${rep0.getDouble(2)} != d_build ${rep0.getDouble(1)}")
    assert(!rep0.getBoolean(3), "fresh index read refit_due")
    // grow the population past the 2x growth gate with FAR-from-codebook
    // vectors (scaled + shifted: residuals dwarf the fitted sub-cells,
    // so the frozen codebook quantizes them badly and decay crosses the
    // 1.5x dial decisively)
    val far = Tables.embeddings(spark, sf)
      .selectExpr("vec_id + 900000 as vec_id",
        "transform(embedding, (x, i) -> cast(x * 7.0 + cast(i % 5 as double) as float)) as embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    val (f1, f2) = far.splitAt(far.length / 2)
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamingOps.pqIngestStreamAutoRefit(
        in.toDF().toDF("vec_id", "embedding"), path).start()
    in.addData(f1: _*); q.processAllAvailable()
    // 1.5x the reference population: growth gate not crossed, no refit
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == path,
      "auto-refit fired before the growth gate")
    in.addData(f2: _*); q.processAllAvailable()
    // 2x crossed -> distortion priced -> dial crossed -> SELF-REFIT
    val v1 = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(v1 != path, "distortion crossing did not trigger the refit")
    // the refit re-fitted the codebook on the live rows (not a copy) and
    // re-priced the stat: the report reads fresh again, not-due
    def sortedRows(p: String): Seq[String] =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    assert(sortedRows(s"$v1/codebook") != sortedRows(s"$path/codebook"),
      "auto-refit did not re-fit the codebook")
    val rep1 = Similarity.pqIndexDistortionReport(spark, path).head()
    assert(rep1.getDouble(1) == rep1.getDouble(2) && !rep1.getBoolean(3),
      "refit did not re-price the decay reference")
    assert(spark.read.parquet(s"$v1/codes")
      .filter($"vec_id" >= 900000L).count() == far.length,
      "merged rows lost across the self-refit")
    // at-least-once replay of the whole far set: registry refuses, no
    // version churn
    in.addData(far: _*); q.processAllAvailable(); q.stop()
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == v1,
      "replayed ingest caused a second refit")
    // snapshot-refit-catchup at PQ grain: a merge landing DURING a refit
    // survives the swap, encoded with the NEW codebook
    val extra = Tables.embeddings(spark, sf).filter($"vec_id" < 4)
      .selectExpr("vec_id + 950000 as vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val v2 = Similarity.rebuildPqIndex(spark, path, beforeCatchup = () => {
      Similarity.mergePqBatchIntoIndex(
        extra.toDF("vec_id", "embedding"), path): Unit
    })
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == v2 && v2 != v1)
    assert(spark.read.parquet(s"$v2/codes")
      .filter($"vec_id" >= 950000L).count() == extra.length,
      "mid-refit merge lost at the swap")
  }

  test("media compaction is versioned: the old artifact stays for in-flight readers, merges fold into the live version, GC retires the tail (r18)") {
    val path = java.nio.file.Files.createTempDirectory("graft-mversion").toString
    MediaOps.buildIndexFrom(dialHashes(0 until 20, 4), path)
    // nothing to compact -> no version is minted (the fixed-point cost)
    MediaOps.compactMediaIndex(spark, path)
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == path)
    // a takedown then a compaction: the rewrite lands in a COMMITTED
    // version; the flat artifacts are left byte-for-byte for a probe
    // that resolved pre-commit
    assert(MediaOps.forgetMediaFromIndex(Seq(3L).toDF("doc_id"), path) == 1L)
    MediaOps.compactMediaIndex(spark, path)
    val v2 = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(v2 == s"$path/versions/v00002", s"live root $v2")
    assert(spark.read.parquet(s"$path/vecs").count() == 20,
      "pre-compact artifact must stay intact for in-flight readers")
    assert(spark.read.parquet(s"$v2/vecs").count() == 19)
    // probes resolve the live version: the tombstoned doc is gone
    // physically, and a twin of a survivor still verifies
    val twin = dialHashes(7 to 7, 4).selectExpr("doc_id + 900000 as doc_id", "v", "bk")
    val hit = MediaOps.probeStoredIndexWith(twin, path)
      .filter("delta_id = 900007").head()
    assert(!hit.getBoolean(3), "survivor twin lost after versioned compact")
    // a re-run with nothing new is a no-op (no version churn)
    MediaOps.compactMediaIndex(spark, path)
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == v2)
    // merges append into the LIVE version, not the retired flat root
    val (a, _) = MediaOps.mergeHashesIntoIndex(dialHashes(50 to 50, 4), path, "image")
    assert(a == 1L)
    assert(spark.read.parquet(s"$v2/vecs").filter("doc_id = 50").count() == 1)
    assert(spark.read.parquet(s"$path/vecs").count() == 20, "merge touched the retired root")
    // keep-N GC at media grain is WIRED INTO the compaction (r19,
    // VERDICT r18 #3): the second version's commit retires the flat
    // root itself (v2 stays as the keep buffer) — no manual prune call
    assert(MediaOps.forgetMediaFromIndex(Seq(5L).toDF("doc_id"), path) == 1L)
    MediaOps.compactMediaIndex(spark, path) // -> v00003 + auto-GC
    val v3 = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(v3 == s"$path/versions/v00003")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/vecs")),
      "compaction's own GC must retire the flat root once the keep window fills")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$v2/vecs")))
    // idempotent: an explicit prune finds nothing further to retire
    assert(IndexLifecycle.pruneVersions(spark, MediaOps.mediaFamily, path, keep = 2) == 0L)
    assert(MediaOps.tombstonesOf(spark, path).count() == 2, "root audit log lost")
    assert(MediaOps.probeStoredIndexWith(twin, path).count() == 1)
  }

  test("pending-forget set: a takedown delivered before its id's first admit is honored at arrival and survives replay (r18, r17 advice #5)") {
    val path = java.nio.file.Files.createTempDirectory("graft-pending").toString
    MediaOps.buildIndexFrom(dialHashes(0 until 20, 4), path)
    // the early takedown: id 9999 has never been admitted
    assert(MediaOps.forgetMediaFromIndex(Seq(9999L).toDF("doc_id"), path) == 0L)
    assert(MediaOps.pendingForgetsOf(spark, path).collect().map(_.getLong(0)).toSeq
      == Seq(9999L), "early takedown not logged as pending")
    assert(MediaOps.tombstonesOf(spark, path).count() == 0)
    // re-delivery of the early takedown is idempotent
    assert(MediaOps.forgetMediaFromIndex(Seq(9999L).toDF("doc_id"), path) == 0L)
    assert(MediaOps.pendingForgetsOf(spark, path).count() == 1)
    // the id arrives (plus an unrelated new doc): the pending forget is
    // consumed — arrival refused, id tombstoned, the other doc admits
    val batch = dialHashes(9999 to 9999, 4).unionAll(dialHashes(50 to 50, 4))
    val (a1, _) = MediaOps.mergeHashesIntoIndex(batch, path, "image")
    assert(a1 == 1L, s"pending id admitted or sibling refused (admitted $a1)")
    assert(spark.read.parquet(s"$path/vecs").filter("doc_id = 9999").count() == 0)
    assert(spark.read.parquet(s"$path/vecs").filter("doc_id = 50").count() == 1)
    assert(MediaOps.tombstonesOf(spark, path).filter("doc_id = 9999").count() == 1,
      "consumed pending forget must tombstone the id")
    assert(MediaOps.pendingForgetsOf(spark, path).count() == 0, "pending entry not consumed")
    // at-least-once replay of the SAME batch: the tombstone keeps the id out
    val (a2, _) = MediaOps.mergeHashesIntoIndex(batch, path, "image")
    assert(a2 == 0L, "replayed batch re-admitted a forgotten id")
    assert(spark.read.parquet(s"$path/vecs").filter("doc_id = 9999").count() == 0)
    // fresh-id re-submission of the CONTENT admits (dedup-forget, not a
    // content ban): 9999's content never reached the index
    val fresh = dialHashes(9999 to 9999, 4).selectExpr("doc_id + 1 as doc_id", "v", "bk")
    val (a3, _) = MediaOps.mergeHashesIntoIndex(fresh, path, "image")
    assert(a3 == 1L, "fresh-id re-submission of never-admitted content must admit")
    // a takedown for an ADMITTED id still tombstones immediately
    assert(MediaOps.forgetMediaFromIndex(Seq(3L).toDF("doc_id"), path) == 1L)
  }
}
