package pipebench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{Enrich, PromptRequest, Routing, TextOps}
import graft.streaming.{HistoryContext, HistoryMsg, StreamingOps, ThreadEvent}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** One Slack event as the event server receives it. `thread_ts`,
  * `subtype` and `bot_id` are null when absent. */
final case class SlackEvent(event_id: Long, etype: String, channel: String, channel_type: String,
                            user: String, text: String, ts: String, ts_ms: Long,
                            thread_ts: String, subtype: String, bot_id: String) {
  def isBot: Boolean = subtype == "bot_message" || bot_id != null
  /** A4: the thread's history when in a thread, else the channel's. */
  def historyKey: String = if (thread_ts != null) s"$channel/$thread_ts" else channel
  /** A1's membership key: channel plus thread ts, or plus the event's
    * own time for a top-level message. */
  def threadKey: String = channel + "-" + Option(thread_ts).getOrElse(new Timestamp(ts_ms).toString)
}

/** An event after the routing filters, with its mention-free message. */
final case class Routed(event_id: Long, channel: String, user: String, ts: String, ts_ms: Long,
                        thread_ts: String, message: String)

/** Seeded Slack event stream: channel mentions and DMs from many users,
  * replies that pick their thread by Zipf-skewed popularity (older
  * threads are hotter), and bot messages that the router must drop. */
final class SlackGen(seed: Long) {
  private val rng = new java.util.Random(seed ^ 0x5bd1e995L)
  private val channelRoots = mutable.ArrayBuffer.empty[SlackEvent]
  private val dmRoots = mutable.ArrayBuffer.empty[SlackEvent]
  private val ZipfS = 1.1
  private val zipfCdf: Array[Double] = {
    val w = (1 to 4096).map(k => 1.0 / math.pow(k, ZipfS)).toArray
    w.scanLeft(0.0)(_ + _).tail
  }
  private val words = IndexedSeq("deploy", "build", "failing", "test", "spark", "kafka",
    "latency", "why", "is", "the", "cluster", "down", "again", "can", "you", "summarize",
    "thread", "please", "what", "changed", "in", "release", "notes", "for", "today",
    "newsletter", "link", "broken", "fix", "merged", "review", "my", "pr", "status")

  private def zipf[T](xs: mutable.ArrayBuffer[T]): T = {
    val n = math.min(xs.size, zipfCdf.length)
    val u = rng.nextDouble() * zipfCdf(n - 1)
    var i = java.util.Arrays.binarySearch(zipfCdf, 0, n, u)
    if (i < 0) i = -i - 1
    xs(math.min(i, n - 1))
  }
  private def phrase(n: Int): String = (1 to n).map(_ => words(rng.nextInt(words.size))).mkString(" ")
  private def user(): String = f"U${rng.nextInt(200)}%03d"
  private def mention(): String = if (rng.nextInt(5) == 0) s"<@${user()}> " else ""

  /** `n` events with ids from `firstId`, event times `periodMs` apart
    * from `startMs`. Thread state carries over between calls. */
  def events(n: Int, firstId: Long, startMs: Long, periodMs: Long): Seq[SlackEvent] =
    (0 until n).map { i =>
      val id = firstId + i
      val tsMs = startMs + i * periodMs
      val ts = f"${tsMs / 1000}.${(tsMs % 1000) * 1000 + id % 1000}%06d"
      val u = rng.nextDouble()
      val tail = s"(#$id)"
      if (u < 0.12) {
        val root = if (channelRoots.nonEmpty && rng.nextBoolean()) zipf(channelRoots) else null
        val byBotId = rng.nextBoolean()
        SlackEvent(id, "message", if (root != null) root.channel else f"C${rng.nextInt(30)}%02d",
          "channel", "UBOT", s"automated digest ${phrase(4)} $tail", ts, tsMs,
          if (root != null) root.ts else null,
          if (byBotId) null else "bot_message", if (byBotId) f"B${rng.nextInt(9)}%03d" else null)
      } else if (u < 0.34) {
        val root = if (dmRoots.nonEmpty && rng.nextInt(4) == 0) zipf(dmRoots) else null
        val e = SlackEvent(id, "message",
          if (root != null) root.channel else f"D${rng.nextInt(20)}%02d", "im", user(),
          s"${mention()}${phrase(3 + rng.nextInt(8))} $tail", ts, tsMs,
          if (root != null) root.ts else null, null, null)
        if (root == null) dmRoots += e
        e
      } else {
        val root = if (channelRoots.nonEmpty && rng.nextDouble() < 0.55) zipf(channelRoots) else null
        val text =
          if (rng.nextInt(4) == 0) s"${phrase(2)} <@UBOT> ${mention()}${phrase(3 + rng.nextInt(6))} $tail"
          else s"<@UBOT> ${mention()}${phrase(3 + rng.nextInt(8))} $tail"
        val e = SlackEvent(id, "app_mention",
          if (root != null) root.channel else f"C${rng.nextInt(30)}%02d", "channel", user(),
          text, ts, tsMs, if (root != null) root.ts else null, null, null)
        if (root == null) channelRoots += e
        e
      }
    }
}

/** The deterministic in-process completion client: no sleeps, no
  * network. Its reply depends only on the prompt. */
object Completion {
  val calls = new AtomicLong(0)
  def reply(prompt: String): String =
    f"ack ${scala.util.hashing.MurmurHash3.stringHash(prompt)}%08x/${prompt.length}"
  val client: () => String => String = () => (prompt: String) => {
    val t0 = System.nanoTime()
    calls.incrementAndGet()
    val r = reply(prompt)
    Tracer.current.leaf("enrich.client", t0, System.nanoTime())
    r
  }
}

/** The Slack event server as a stream of events. Each micro-batch of the
  * events query runs the routing filters (E4 bot drop, E5 DM filter,
  * T19 mention strip), feeds the routed events to two keyed-state
  * queries — A2/A3 `rollingHistory` for context and A1
  * `threadMembership` — and waits for both, then enriches every routed
  * event with its key's context through `enrichOnlineSafe` and posts a
  * `threadedReplyPayload` per event. Events are due at a fixed rate
  * (open loop). The events query runs on a fixed [[TriggerMs]] trigger,
  * longer than a trigger takes, so the number of triggers in a run, and
  * with it the state files written per event, does not follow the
  * host's speed; an event waits for the next trigger, then for it to
  * finish. */
final class SlackThreads extends Workload {
  private val RatePerS = 40
  private val TriggerMs = 2000L
  private val AlignMs = 100L
  private val WarmSeconds = 12
  private val K = 5

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new SlackGen(ctx.seed)
    val periodMs = 1000L / RatePerS
    val startMs = 1700000000000L
    val warm = gen.events(WarmSeconds * RatePerS, 1L, startMs, periodMs)
    val timed = gen.events(ctx.seconds * RatePerS, warm.size + 1L,
      startMs + warm.size * periodMs, periodMs)
    Main.note("inputs generated")

    val contexts = new ConcurrentHashMap[String, String]()
    val admitted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val batchOf = new ConcurrentHashMap[Long, Long]()
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[PromptRequest]()
    val stores = Seq("ckpt-events", "ckpt-history", "ckpt-threads").map(ctx.dir)

    val histIn = MemoryStream[HistoryMsg](spark)
    val histQ = StreamingOps.rollingHistory(histIn.toDS(), K)
      .writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[HistoryContext], _: Long) =>
        ds.collect().foreach(c => contexts.put(c.key, c.context))
      }
      .option("checkpointLocation", stores(1).toString).queryName("history").start()
    val thrIn = MemoryStream[ThreadEvent](spark)
    val thrQ = StreamingOps.threadMembership(thrIn.toDS(), "10 minutes", 3600000L)
      .writeStream.outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.ThreadSeen], _: Long) =>
        ds.collect().foreach(t => admitted.add(t.thread_key))
      }
      .option("checkpointLocation", stores(2).toString).queryName("threads").start()

    def serve(batch: DataFrame, batchId: Long): Unit = {
      val routed = Routing.dropBotMessages(batch)
      val rows = routed.filter(col("etype") === "app_mention")
        .unionByName(Routing.onlyDms(routed.filter(col("etype") === "message")))
        .select(col("event_id"), col("channel"), col("user"), col("ts"), col("ts_ms"),
          col("thread_ts"), TextOps.stripMentions(col("text")).as("message"))
        .as[Routed].collect()
      if (rows.nonEmpty) {
        rows.foreach(r => batchOf.put(r.event_id, batchId))
        def key(r: Routed) = if (r.thread_ts != null) s"${r.channel}/${r.thread_ts}" else r.channel
        histIn.addData(rows.map(r => HistoryMsg(key(r), r.ts_ms, r.ts, r.user, r.message)).toSeq)
        thrIn.addData(rows.map(r =>
          ThreadEvent(r.channel, new Timestamp(r.ts_ms), Option(r.thread_ts))).toSeq)
        histQ.processAllAvailable()
        thrQ.processAllAvailable()
        val reqs = rows.map(r => PromptRequest(r.event_id, contexts.get(key(r)), r.message)).toSeq
        reqs.foreach(requests.add)
        val (replies, _) = Enrich.enrichOnlineSafe(spark.createDataset(reqs), Completion.client,
          maxConcurrency = ctx.threads)
        val meta = rows.map(r => (r.event_id, r.channel, r.thread_ts, r.ts)).toSeq
          .toDF("event_id", "channel", "thread_ts", "ts")
        val text = replies.toDF().join(meta, col("id") === col("event_id"))
          .select(col("channel"), concat(col("reply"), lit(" ["), col("ts"), lit("]")).as("text"),
            col("thread_ts"))
        StreamingOps.threadedReplyPayload(text, "channel", "text", "thread_ts")
          .foreachPartition((it: Iterator[Row]) => it.foreach(r => Posts.add(batchId, r.getString(0))))
      }
    }

    val evIn = MemoryStream[SlackEvent](spark)
    val evQ = evIn.toDF().writeStream
      .foreachBatch((b: DataFrame, id: Long) => serve(b, id))
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", stores(0).toString).queryName("events").start()

    val periodNs = periodMs * 1000000L
    def send(e: SlackEvent): Unit = ctx.span("generator.append")(evIn.addData(Seq(e)))
    OpenLoop.run(System.nanoTime(), periodNs, warm.size)(i => send(warm(i)))
    evQ.processAllAvailable()
    val warmPosts = Posts.drain()
    val setupS = Main.sinceJvmStart()
    // Spark fires a processing-time trigger at each multiple of its
    // interval since the epoch. Starting the timed phase just after one
    // splits the events over the triggers the same way in every run.
    Thread.sleep(Math.floorMod(AlignMs - System.currentTimeMillis(), TriggerMs))

    val t0 = System.nanoTime(); val cpu0 = Gauges.cpuNs()
    val (due, lateMs) = OpenLoop.run(t0, periodNs, timed.size)(i => send(timed(i)))
    evQ.processAllAvailable()
    val t1 = System.nanoTime(); val cpuNs = Gauges.cpuNs() - cpu0
    ctx.tracer.markTimed(t0, t1)
    val heapMb = Gauges.heapLiveMb()
    val stored = stores.map(Gauges.dirBytes).sum
    val posts = Posts.drain()

    val all = warm ++ timed
    val check = SlackCheck(all, warmPosts ++ posts, batchOf.asScala.toMap.map { case (k, v) => k.longValue -> v.longValue },
      admitted.asScala.toSeq, K)
    val dueById = Latency.openLoopDue(timed.map(_.event_id), due)
    val timedReplied = timed.filterNot(_.isBot)
    val lat = timedReplied.flatMap(e =>
      check.sinkNs.get(e.event_id).map(ns => Latency.ms(dueById(e.event_id), ns)))
    val sinks = timedReplied.flatMap(e => check.sinkNs.get(e.event_id))
    // the rate runs to the last reply: processAllAvailable returns only
    // after the next trigger finds nothing new, a fixed interval later
    val e2e = EndToEnd(setupS, Seq(Window(sinks.size.toLong, sinks.maxOption.getOrElse(t1) - t0,
      cpuNs)), lat, heapMb, stored, all.size.toLong)
    val failedTimed = timed.count(e => check.failed(e.event_id)).toLong
    val warmFailed = warm.exists(e => check.failed(e.event_id))

    val layers =
      if (!ctx.tracing) Map.empty[String, Metric]
      else {
        val reqs = requests.asScala.toSeq
        val allTrig = ctx.tracer.triggers.asScala.toSeq
        val timedTrig = ctx.tracer.timedTriggers()
        val n = math.max(reqs.size, 1).toDouble
        val calls = Completion.calls.get()
        val promptNs = {
          val ds = spark.createDataset(reqs).cache(); ds.count()
          val t = Stats.median((1 to 3).map { i =>
            val a = System.nanoTime()
            ctx.span("pass.enrich", Map("repeat" -> i.toString)) {
              Enrich.enrichOnlineSafe(ds, Completion.client, ctx.threads)._1.count()
            }
            (System.nanoTime() - a).toDouble
          })
          ds.unpersist(); t
        }
        val sample = timedReplied.take(400)
        Layers.complete(
          Layers.passes(ctx, sample.map(e => (e.event_id.toInt, e.channel, e.text)),
            sample.map(e => (e.event_id.toInt, s"*${e.channel}*", SlackCheck.stripMentions(e.text)))) ++
          Tracer.streamingMetrics(timedTrig) ++ Tracer.stateMetrics(allTrig, timedTrig) ++
          ctx.tracer.scheduler(None) ++ Map(
            "routing.replies_per_event" -> Metric(posts.size.toDouble / timed.size, "ratio"),
            "enrich.prompt_us_per_request" -> Metric(promptNs / 1e3 / n, "us"),
            "enrich.client_calls_per_request" -> Metric(calls / n, "ratio"),
            "enrich.context_chars_per_request" ->
              Metric(Stats.mean(reqs.map(_.context.length.toDouble)), "chars"),
            "bench.generator_late_ms_max" -> Metric(lateMs, "ms")))
      }
    Outcome(!warmFailed && failedTimed == 0 && check.unmatched == 0, timed.size.toLong,
      failedTimed, e2e, layers)
  }
}

/** Checks the replies against a sequential model of the event server. */
object SlackCheck {
  private val mapper = new ObjectMapper()
  private val Mention = "<@[A-Z0-9]+>".r
  private val Ref = """ \[(\d+\.\d+)\]$""".r.unanchored

  final case class Result(sinkNs: Map[Long, Long], failed: Set[Long], unmatched: Int)

  /** T19: mentions removed, then JS trim. */
  def stripMentions(s: String): String = Mention.replaceAllIn(s, "").trim

  /** E1's prompt, written out independently of the program. */
  def prompt(context: String, message: String): String =
    "You are a helpful assistant in a Slack workspace.\n" +
      "Recent conversation context:\n" + context + "\n\n" +
      "User message: " + message + "\nFormat your reply with Slack markup."

  /** One reply per non-bot event; `thread_ts` present exactly when the
    * event is in a thread; each reply's context is the last `k`
    * messages of its key over every routed event delivered in the same
    * or an earlier micro-batch (a sequential fold); each thread key is
    * admitted exactly once. A non-bot event fails when its reply is
    * missing, repeated or wrong, or its thread key was not admitted
    * exactly once; a bot event fails when anything is posted for it. */
  def apply(events: Seq[SlackEvent], posts: Seq[Post], batchOf: Map[Long, Long],
            admitted: Seq[String], k: Int): Result = {
    val byTs = events.map(e => e.ts -> e).toMap
    val byKey = events.filterNot(_.isBot).groupBy(_.historyKey)
      .map { case (key, es) => key -> es.sortBy(e => (e.ts_ms, e.ts)) }
    def context(e: SlackEvent): Option[String] = batchOf.get(e.event_id).map { b =>
      byKey(e.historyKey).filter(x => batchOf.get(x.event_id).exists(_ <= b)).takeRight(k)
        .map(x => s"${x.user}: ${stripMentions(x.text)}").mkString("\n")
    }
    val got = mutable.Map.empty[Long, List[Post]].withDefaultValue(Nil)
    var unmatched = 0
    posts.foreach { p =>
      val text = Option(mapper.readTree(p.payload).get("text")).map(_.asText()).getOrElse("")
      text match {
        case Ref(ts) if byTs.contains(ts) => got(byTs(ts).event_id) = p :: got(byTs(ts).event_id)
        case _ => unmatched += 1
      }
    }
    val admittedCount = admitted.groupBy(identity).map { case (key, v) => key -> v.size }
    val failed = events.filter { e =>
      if (e.isBot) got(e.event_id).nonEmpty
      else got(e.event_id) match {
        case List(p) =>
          val node = mapper.readTree(p.payload)
          val fields = node.fieldNames().asScala.toSet
          val wantFields = if (e.thread_ts != null) Set("channel", "text", "thread_ts")
            else Set("channel", "text")
          val ok = fields == wantFields && node.get("channel").asText() == e.channel &&
            (e.thread_ts == null || node.get("thread_ts").asText() == e.thread_ts) &&
            context(e).exists(c => node.get("text").asText() ==
              s"${Completion.reply(prompt(c, stripMentions(e.text)))} [${e.ts}]") &&
            admittedCount.getOrElse(e.threadKey, 0) == 1
          !ok
        case _ => true
      }
    }.map(_.event_id).toSet
    val expectedKeys = events.filterNot(_.isBot).map(_.threadKey).toSet
    unmatched += admittedCount.keySet.diff(expectedKeys).size
    Result(got.collect { case (id, List(p)) => id -> p.ns }.toMap, failed, unmatched)
  }
}
