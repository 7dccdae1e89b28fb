package pipebench

import graft.{LineOps, Serde, TextOps}
import org.apache.spark.sql.functions._

/** Isolated passes of the per-record layers over a workload's own
  * inputs, run after the timed phase of a traced run. Each pass is
  * repeated and its median kept; each repeat is one span. */
object Layers {
  private val Repeats = 3

  private def timedMedianNs(ctx: Ctx, name: String)(body: => Unit): Double =
    Stats.median((1 to Repeats).map { i =>
      val t0 = System.nanoTime()
      ctx.span(s"pass.$name", Map("repeat" -> i.toString))(body)
      (System.nanoTime() - t0).toDouble
    })

  /** `records` are (seqno, subject, raw body); `cleaned` the matching
    * (seqno, styled subject, cleaned body) the producer leg emits. */
  def passes(ctx: Ctx, records: Seq[(Int, String, String)],
             cleaned: Seq[(Int, String, String)]): Map[String, Metric] = {
    val spark = ctx.spark
    import spark.implicits._
    val raw = records.toDF("seqno", "subject", "body").cache()
    val clean = cleaned.toDF("seqno", "subject", "body").cache()
    raw.count(); clean.count()
    val rawKb = records.map(_._3.length.toLong).sum / 1024.0
    val cleanKb = cleaned.map(_._3.length.toLong).sum / 1024.0

    val cleanNs = timedMedianNs(ctx, "textops") {
      raw.select(length(TextOps.subjectStyle(col("subject"))).as("s"),
          length(TextOps.cleanBodyPlain(col("body"))).as("b"))
        .agg(sum("s"), sum("b")).collect()
    }
    val encoded = cleaned.map { case (n, s, b) => Serde.encodeEmail(n, s, b) }
    val encNs = timedMedianNs(ctx, "serde.encode") {
      cleaned.foreach { case (n, s, b) => Serde.encodeEmail(n, s, b) }
    }
    val decNs = timedMedianNs(ctx, "serde.decode") {
      encoded.foreach(Serde.decodeEmail)
    }
    val linkNs = timedMedianNs(ctx, "lineops.hyperlink") {
      clean.select(length(LineOps.hyperlinkHeadingsHof("body")).as("n")).agg(sum("n")).collect()
    }
    val chunkNs = timedMedianNs(ctx, "lineops.chunk") {
      clean.select(size(LineOps.chunkBlocks("body", BlockModel.MaxLen)).as("n")).agg(sum("n")).collect()
    }
    val blocks = clean.select(size(LineOps.chunkBlocks("body", BlockModel.MaxLen)).as("n"))
      .agg(avg("n")).first().getDouble(0)
    raw.unpersist(); clean.unpersist()
    val n = math.max(records.size, 1).toDouble
    Map(
      "textops.clean_us_per_kb" -> Metric(cleanNs / 1e3 / math.max(rawKb, 1e-9), "us/KB"),
      "serde.encode_us_per_record" -> Metric(encNs / 1e3 / n, "us"),
      "serde.decode_us_per_record" -> Metric(decNs / 1e3 / n, "us"),
      "serde.avro_bytes_per_record" -> Metric(encoded.map(_.length.toLong).sum / n, "bytes"),
      "lineops.hyperlink_us_per_kb" -> Metric(linkNs / 1e3 / math.max(cleanKb, 1e-9), "us/KB"),
      "lineops.chunk_us_per_kb" -> Metric(chunkNs / 1e3 / math.max(cleanKb, 1e-9), "us/KB"),
      "lineops.blocks_per_record" -> Metric(blocks, "count"))
  }

  /** Every per-layer metric name, so each workload reports all of them;
    * layers a workload does not reach read 0. */
  val names: Seq[(String, String)] = Seq(
    "textops.clean_us_per_kb" -> "us/KB",
    "serde.encode_us_per_record" -> "us", "serde.decode_us_per_record" -> "us",
    "serde.avro_bytes_per_record" -> "bytes",
    "lineops.hyperlink_us_per_kb" -> "us/KB", "lineops.chunk_us_per_kb" -> "us/KB",
    "lineops.blocks_per_record" -> "count",
    "graftlog.segments" -> "count", "graftlog.latest_offset_ms_p50" -> "ms",
    "graftlog.append_ms_p50" -> "ms", "graftlog.stored_bytes_per_record" -> "bytes",
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms", "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.rows_per_batch_p50" -> "count",
    "streaming.state_rows" -> "count", "streaming.state_memory_mb" -> "MB",
    "streaming.state_commit_ms_p50" -> "ms",
    "routing.replies_per_event" -> "ratio", "enrich.prompt_us_per_request" -> "us",
    "enrich.client_calls_per_request" -> "ratio", "enrich.context_chars_per_request" -> "chars",
    "dedup.merge_ms_p50" -> "ms", "dedup.forget_ms_p50" -> "ms", "dedup.probe_ms_p50" -> "ms",
    "lifecycle.compactions" -> "count", "lifecycle.index_files" -> "count",
    "lifecycle.index_bytes_per_doc" -> "bytes",
    "spark.jobs_per_batch" -> "count", "spark.stages_per_batch" -> "count",
    "spark.tasks_per_batch" -> "count", "spark.job_busy_share" -> "ratio",
    "spark.shuffle_bytes_per_batch" -> "bytes",
    "bench.generator_late_ms_max" -> "ms")

  /** `measured` completed with a 0 for every name it does not hold. */
  def complete(measured: Map[String, Metric]): Map[String, Metric] = {
    val unknown = measured.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
    names.map { case (k, u) => k -> measured.getOrElse(k, Metric(0.0, u)) }.toMap
  }
}
