package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
                      attrs: Map[String, String])

/** One micro-batch as Spark's own progress event reports it. */
final case class Trigger(query: String, queryId: String, batchId: Long, startUs: Long,
                         durationMs: Map[String, Long], rows: Long,
                         stateRows: Long, stateBytes: Long, stateCommitMs: Long)

/** One Spark job as a `SparkListener` sees it. */
final case class JobRec(jobId: Int, startUs: Long, endUs: Long, props: Map[String, String],
                        stageIds: Seq[Int])

/** The span recorder of a traced run. Every span comes from the
  * benchmark's own code: around calls it makes into the program, from a
  * `StreamingQueryListener` (one span per trigger, with its `durationMs`
  * phases as children) and from a `SparkListener` (one span per job,
  * parented to the trigger or call that launched it). Spans stay in
  * memory until [[write]]. The untraced run uses [[Tracer.Off]], whose
  * methods only run the body. */
class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  /** stage id -> (tasks, shuffle write bytes) */
  val stages = new ConcurrentHashMap[Int, (Int, Long)]()
  @volatile var timedFromUs: Long = 0L
  @volatile var timedToUs: Long = Long.MaxValue

  def leaf(name: String, t0Ns: Long, t1Ns: Long, attrs: Map[String, String] = Map.empty): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), 0L, name, Gauges.epochUs(t0Ns), Gauges.epochUs(t1Ns), attrs))

  /** Time `body` as a root span. Jobs it launches on this thread carry
    * the span id as a local property, which is how [[jobParents]]
    * parents them. */
  def span[T](spark: SparkSession, name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanKey, prev)
        spans.add(Span(id, 0L, name, Gauges.epochUs(t0), Gauges.epochUs(t1), attrs))
      }
    }

  def markTimed(fromNs: Long, toNs: Long): Unit = {
    timedFromUs = Gauges.epochUs(fromNs)
    timedToUs = Gauges.epochUs(toNs)
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = Option(p.stateOperators).getOrElse(Array.empty)
        triggers.add(Trigger(
          Option(p.name).getOrElse(p.id.toString), p.id.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty)
          .filter { case (k, _) => Tracer.PropKeys(k) }
        jobs.put(e.jobId, JobRec(e.jobId, e.time * 1000L, 0L, props, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endUs = e.time * 1000L))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = Option(i.taskMetrics)
        stages.put(i.stageId, (i.numTasks, m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
      }
    })
  }

  private def inTimed(startUs: Long): Boolean = startUs >= timedFromUs && startUs <= timedToUs

  /** Data-carrying triggers that started inside the timed phase. */
  def timedTriggers(): Seq[Trigger] =
    triggers.asScala.toSeq.filter(t => t.rows > 0 && inTimed(t.startUs))

  /** Trigger spans and each job's parent, built once after the run. */
  private lazy val frozen: (Seq[(Trigger, Span)], Seq[(JobRec, Long)]) = {
    val trigSpans = triggers.asScala.toSeq.map { t =>
      val dur = t.durationMs.getOrElse("triggerExecution", 0L)
      (t, Span(ids.incrementAndGet(), 0L, s"trigger.${t.query}", t.startUs,
        t.startUs + dur * 1000L, Map("batch" -> t.batchId.toString, "rows" -> t.rows.toString)))
    }
    (trigSpans, jobParents(trigSpans))
  }

  /** Trigger spans, their phase children and job spans, in one list. */
  def allSpans(): Seq[Span] = {
    val (trigSpans, parents) = frozen
    // Spark reports phase durations, not their start times; lay them
    // out in the order MicroBatchExecution runs them.
    val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    val phases = trigSpans.flatMap { case (t, s) =>
      var at = s.startUs
      phaseOrder.flatMap { ph =>
        t.durationMs.get(ph).map { ms =>
          val sp = Span(ids.incrementAndGet(), s.id, s"phase.$ph", at, at + ms * 1000L,
            Map("placed" -> "sequential"))
          at += ms * 1000L
          sp
        }
      }
    }
    val jobSpans = parents.map { case (j, parent) =>
      val st = j.stageIds.flatMap(i => Option(stages.get(i)))
      Span(ids.incrementAndGet(), parent, "spark.job", j.startUs, math.max(j.endUs, j.startUs),
        Map("job" -> j.jobId.toString, "stages" -> j.stageIds.size.toString,
          "tasks" -> st.map(_._1).sum.toString,
          "shuffle_write" -> st.map(_._2).sum.toString))
    }
    spans.asScala.toSeq ++ trigSpans.map(_._2) ++ phases ++ jobSpans
  }

  /** Each job with the span that launched it: the trigger named by the
    * streaming local properties, else the benchmark span named by ours,
    * else the root span whose interval contains the job's start. */
  private def jobParents(trigSpans: Seq[(Trigger, Span)]): Seq[(JobRec, Long)] = {
    val byBatch = trigSpans.map { case (t, s) => (t.queryId, t.batchId) -> s.id }.toMap
    val roots = spans.asScala.toSeq.filter(s => s.parent == 0L && s.endUs > s.startUs)
      .sortBy(_.startUs).toArray
    jobs.values.asScala.toSeq.sortBy(_.jobId).map { j =>
      val viaStream = for {
        q <- j.props.get("sql.streaming.queryId")
        b <- j.props.get("streaming.sql.batchId")
        id <- byBatch.get((q, b.toLong))
      } yield id
      val viaSpan = j.props.get(Tracer.SpanKey).map(_.toLong)
      val viaTime = roots.find(s => s.startUs <= j.startUs && j.startUs <= s.endUs &&
        s.name.startsWith("dedup.")).map(_.id)
      (j, viaStream.orElse(viaSpan).orElse(viaTime).getOrElse(0L))
    }
  }

  /** Scheduler metrics per "batch": a data-carrying trigger of the
    * streaming workloads or one lifecycle call of index-churn, both
    * limited to the timed phase. */
  private def schedulerMetrics(batches: Seq[Span], jobParent: Seq[(JobRec, Long)]): Map[String, Metric] = {
    val ids = batches.map(_.id).toSet
    val mine = jobParent.filter { case (_, p) => ids(p) }
    val n = math.max(batches.size, 1).toDouble
    val st = mine.flatMap(_._1.stageIds).flatMap(i => Option(stages.get(i)))
    val byParent = mine.groupBy(_._2)
    val covered = batches.map { b =>
      val iv = byParent.getOrElse(b.id, Nil).map { case (j, _) =>
        (math.max(j.startUs, b.startUs), math.min(math.max(j.endUs, j.startUs), b.endUs))
      }.filter { case (a, z) => z > a }.sortBy(_._1)
      var total = 0L; var curA = -1L; var curZ = -1L
      iv.foreach { case (a, z) =>
        if (a > curZ) { if (curZ > curA) total += curZ - curA; curA = a; curZ = z }
        else curZ = math.max(curZ, z)
      }
      if (curZ > curA) total += curZ - curA
      total
    }.sum
    val busy = batches.map(b => b.endUs - b.startUs).sum
    Map(
      "spark.jobs_per_batch" -> Metric(mine.size / n, "count"),
      "spark.stages_per_batch" -> Metric(mine.map(_._1.stageIds.size).sum / n, "count"),
      "spark.tasks_per_batch" -> Metric(st.map(_._1).sum / n, "count"),
      "spark.job_busy_share" -> Metric(if (busy > 0) covered.toDouble / busy else 0.0, "ratio"),
      "spark.shuffle_bytes_per_batch" -> Metric(st.map(_._2).sum / n, "bytes"))
  }

  /** Scheduler metrics over the timed phase: batches are data triggers
    * (streaming workloads) or spans named by `callPrefix`. */
  def scheduler(callPrefix: Option[String]): Map[String, Metric] = {
    val (trigSpans, parents) = frozen
    val batches = callPrefix match {
      case Some(pfx) => spans.asScala.toSeq.filter(s => s.name.startsWith(pfx) && inTimed(s.startUs))
      case None => trigSpans.filter { case (t, _) => t.rows > 0 && inTimed(t.startUs) }.map(_._2)
    }
    schedulerMetrics(batches, parents)
  }

  /** Write every span as one JSON object per line. */
  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val lines = allSpans().sortBy(_.startUs).map { s =>
      val a = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""start_us": ${s.startUs}, "end_us": ${s.endUs}, "attrs": ${a.mkString("{", ", ", "}")}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val SpanKey = "pipebench.span"
  val PropKeys: Set[String] = Set("sql.streaming.queryId", "streaming.sql.batchId", SpanKey)
  val Off = new Tracer(false)
  /** The run's recorder, reachable from task closures in this JVM. */
  @volatile var current: Tracer = Off

  /** Medians of the streaming progress phases over `ts`. */
  def streamingMetrics(ts: Seq[Trigger]): Map[String, Metric] = {
    def p50(k: String) = Stats.median(ts.flatMap(_.durationMs.get(k)).map(_.toDouble))
    Map(
      "streaming.batches" -> Metric(ts.size.toDouble, "count"),
      "streaming.trigger_ms_p50" -> Metric(p50("triggerExecution"), "ms"),
      "streaming.planning_ms_p50" -> Metric(p50("queryPlanning"), "ms"),
      "streaming.add_batch_ms_p50" -> Metric(p50("addBatch"), "ms"),
      "streaming.wal_commit_ms_p50" -> Metric(p50("walCommit"), "ms"),
      "streaming.commit_offsets_ms_p50" -> Metric(p50("commitOffsets"), "ms"),
      "streaming.rows_per_batch_p50" -> Metric(Stats.median(ts.map(_.rows.toDouble)), "count"))
  }

  /** State-store figures from the last progress of each stateful query
    * and the median commit time over `ts`. */
  def stateMetrics(all: Seq[Trigger], ts: Seq[Trigger]): Map[String, Metric] = {
    val last = all.groupBy(_.query).values.map(_.maxBy(_.batchId)).toSeq
    val stateful = ts.filter(_.stateRows > 0)
    Map(
      "streaming.state_rows" -> Metric(last.map(_.stateRows).sum.toDouble, "count"),
      "streaming.state_memory_mb" -> Metric(last.map(_.stateBytes).sum / 1048576.0, "MB"),
      "streaming.state_commit_ms_p50" ->
        Metric(Stats.median(stateful.map(_.stateCommitMs.toDouble)), "ms"))
  }
}
