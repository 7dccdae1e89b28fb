package pipebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{LineOps, Serde}
import graft.streaming.{GraftLog, StreamingOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The paper's two pipeline legs over one GraftLog topic: an in-process
  * inbox feeds the producer (clean, style, Avro-encode, append to the
  * log); the consumer replays the log (decode, W1 hyperlink, W2 chunk,
  * Block Kit payload) and posts to [[Posts]]. Both run on their default
  * triggers. */
final class NewsletterLegs(ctx: Ctx) {
  private val spark: SparkSession = ctx.spark
  import spark.implicits._

  val logDir: Path = ctx.dir("topic")
  val stores: Seq[Path] = Seq(logDir, ctx.dir("ckpt-producer"), ctx.dir("ckpt-consumer"))
  val inbox: MemoryStream[(Int, String, String)] = MemoryStream[(Int, String, String)](spark)
  var producer: StreamingQuery = _
  var consumer: StreamingQuery = _

  def startProducer(): Unit = {
    val raw = inbox.toDF().toDF("seqno", "subject", "body")
    producer = StreamingOps.foreachBatchLogSink(
        StreamingOps.producerTransform(raw).select("value"), logDir.toString)
      .option("checkpointLocation", stores(1).toString)
      .queryName("producer").start()
  }

  def startConsumer(): Unit = {
    val decoded = spark.readStream.format("graft.streaming.GraftLogSource").load(logDir.toString)
      .select(Serde.fromAvroEmail(col("value")).as("email"))
      .filter(col("email").isNotNull)
      .select(col("email.seqno").as("seqno"), col("email.subject").as("subject"),
        col("email.body").as("body"))
      .withColumn("body_linked", LineOps.hyperlinkHeadingsHof("body"))
    val payloads = StreamingOps.blockKitPayload(decoded, "seqno", "subject", "body_linked",
      BlockModel.MaxLen)
    consumer = StreamingOps.foreachBatchHttpSink(payloads,
        () => (b: Long, p: String) => Posts.add(b, p))
      .option("checkpointLocation", stores(2).toString)
      .queryName("consumer").start()
  }

  def send(batch: Seq[Email]): Unit =
    ctx.span("generator.append", Map("records" -> batch.size.toString)) {
      inbox.addData(batch.map(e => (e.seqno, e.subject, e.body)))
    }

  def segments(): Long = {
    val s = Files.list(logDir)
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".seg")).toLong
    finally s.close()
  }

  def storedBytes(): Long = stores.map(Gauges.dirBytes).sum

  /** Append each group of `emails` as one segment of `dir`, encoded as
    * the producer would; returns each `GraftLog.append`'s wall time. */
  def timedAppends(dir: Path, emails: Seq[Email], perSegment: Int): Seq[Double] =
    emails.grouped(perSegment).map { seg =>
      val recs = seg.map(e => Serde.encodeEmail(e.seqno, BlockModel.styledSubject(e.subject),
        e.expectedBody))
      val t0 = System.nanoTime()
      ctx.span("graftlog.append")(GraftLog.append(dir.toString, recs))
      (System.nanoTime() - t0) / 1e6
    }.toSeq
}

/** Matches posted Block Kit payloads to the emails they carry and checks
  * them against [[BlockModel]]. */
object PostCheck {
  private val mapper = new ObjectMapper()

  def blocks(payload: String): Seq[String] = {
    val arr = mapper.readTree(payload).get("blocks")
    (0 until arr.size).map(i => arr.get(i).get("text").get("text").asText())
  }

  final case class Result(sinkNs: Map[Int, Long], failed: Set[Int], unmatched: Int)

  /** An email passes when exactly one post carries exactly its model
    * blocks, each at most 2,900 characters. */
  def apply(emails: Seq[Email], posts: Seq[Post]): Result = {
    val bySeq = emails.map(e => e.seqno -> e).toMap
    val expected: Map[Seq[String], Int] = emails.map(e => BlockModel.blocks(e) -> e.seqno).toMap
    val seen = mutable.Map.empty[Int, List[Long]].withDefaultValue(Nil)
    var unmatched = 0
    val bad = mutable.Set.empty[Int]
    val SubjectNo = """\*Subject:\* \*TLDR [^#]*#(\d+):""".r.unanchored
    posts.foreach { p =>
      val bs = blocks(p.payload)
      expected.get(bs) match {
        case Some(n) if bs.forall(_.length <= BlockModel.MaxLen) => seen(n) = p.ns :: seen(n)
        case _ =>
          unmatched += 1
          bs.headOption.collect { case SubjectNo(n) => n.toInt }.filter(bySeq.contains)
            .foreach(bad += _)
      }
    }
    val failed = emails.map(_.seqno).filter(n => bad(n) || seen(n).size != 1).toSet
    Result(seen.collect { case (n, List(t)) => n -> t }.toMap, failed, unmatched)
  }
}

/** A closed loop draining a backlog of long newsletters through both
  * legs. A round is [[RoundEmails]] emails, all present when the round
  * starts, fed to the producer [[BatchEmails]] at a time, each feed
  * waiting for the producer to finish the previous one; the round ends
  * when the consumer has posted all of them. The run is the whole rounds
  * that fit in its length; throughput and CPU per record are medians
  * over its rounds. */
final class NewsletterBacklog extends Workload {
  private val RoundEmails = 36
  private val BatchEmails = 12
  private val WarmRounds = 3
  /** Upper bound on the drain rate, used to size the pre-generated input. */
  private val MaxEmailsPerS = 40

  def run(ctx: Ctx): Outcome = {
    val gen = new NewsletterGen(ctx.seed)
    var seq = 0
    def next(): Seq[Email] = gen.longSizes(RoundEmails).map { n => seq += 1; gen.email(seq, n) }
    val warm = (1 to WarmRounds).map(_ => next())
    val rounds = (1 to math.max(2, ctx.seconds * MaxEmailsPerS / RoundEmails)).map(_ => next())
    Main.note("inputs generated")

    val legs = new NewsletterLegs(ctx)
    legs.startProducer(); legs.startConsumer()
    def drainRound(round: Seq[Email]): Unit = {
      round.grouped(BatchEmails).foreach { b => legs.send(b); legs.producer.processAllAvailable() }
      legs.consumer.processAllAvailable()
    }
    warm.foreach(drainRound)
    val warmOk = PostCheck(warm.flatten, Posts.drain()).failed.isEmpty
    val setupS = Main.sinceJvmStart()

    // per round: start and end wall time, CPU time spent
    val spans = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val t0 = System.nanoTime()
    while (spans.size < rounds.size &&
        Rounds.another(spans.size, System.nanoTime() - t0, ctx.seconds * 1000000000L)) {
      val start = System.nanoTime(); val cpu0 = Gauges.cpuNs()
      drainRound(rounds(spans.size))
      spans += ((start, System.nanoTime(), Gauges.cpuNs() - cpu0))
    }
    val t1 = System.nanoTime()
    ctx.tracer.markTimed(t0, t1)
    val heapMb = Gauges.heapLiveMb()
    val stored = legs.storedBytes()
    val done = rounds.take(spans.size)
    val timed = done.flatten
    val dueBySeq = Latency.backlogDue(done.map(_.map(_.seqno)), spans.map(_._1).toSeq)
    val storedRecords = (warm.size * RoundEmails + timed.size).toLong

    val r = PostCheck(timed, Posts.drain())
    val windows = done.zip(spans).map { case (round, (start, end, cpuNs)) =>
      Window(round.count(e => r.sinkNs.contains(e.seqno)).toLong, end - start, cpuNs)
    }
    val lat = timed.flatMap(e => r.sinkNs.get(e.seqno).map(ns => Latency.ms(dueBySeq(e.seqno), ns)))
    val e2e = EndToEnd(setupS, windows, lat, heapMb, stored, storedRecords)
    val layers =
      if (!ctx.tracing) Map.empty[String, Metric]
      else {
        val all = ctx.tracer.triggers.asScala.toSeq
        val timedTrig = ctx.tracer.timedTriggers()
        val sample = timed.take(200)
        Layers.complete(
          Layers.passes(ctx, sample.map(e => (e.seqno, e.subject, e.body)),
            sample.map(e => (e.seqno, BlockModel.styledSubject(e.subject), e.expectedBody))) ++
          Tracer.streamingMetrics(timedTrig) ++ Tracer.stateMetrics(all, timedTrig) ++
          ctx.tracer.scheduler(None) ++ Map(
            "graftlog.segments" -> Metric(legs.segments().toDouble, "count"),
            "graftlog.latest_offset_ms_p50" -> Metric(Stats.median(
              timedTrig.filter(_.query == "consumer").flatMap(_.durationMs.get("latestOffset"))
                .map(_.toDouble)), "ms"),
            "graftlog.append_ms_p50" -> Metric(Stats.median(
              legs.timedAppends(ctx.dir("append-pass"), timed, BatchEmails)), "ms"),
            "graftlog.stored_bytes_per_record" ->
              Metric(Gauges.dirBytes(legs.logDir).toDouble / math.max(storedRecords, 1L), "bytes")))
      }
    Outcome(warmOk && r.failed.isEmpty && r.unmatched == 0, timed.size.toLong,
      r.failed.size.toLong, e2e, layers)
  }
}
