package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its seed and run length, a
  * private work directory, and the run's tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val work: Path,
                val tracer: Tracer, val threads: Int) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    tracer.span(spark, name, attrs)(body)
  def tracing: Boolean = tracer.enabled
}

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** `pipebench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR [--trace-dir DIR]`. Prints one JSON line last on stdout.
  * A traced run writes its spans and its own end-to-end figures (to set
  * against untraced runs: the tracing overhead) under the trace dir.
  * Usually started by `run.py`, which builds the classes and fixes the
  * JVM flags. */
object Main {
  val workloads: Map[String, () => Workload] = Map(
    "newsletter-backlog" -> (() => new NewsletterBacklog),
    "slack-threads" -> (() => new SlackThreads),
    "index-churn" -> (() => new IndexChurn))

  /** Spark gets fewer local threads than the machine has cores, so the
    * driver, the load generator, GC and JIT keep one. */
  def sparkThreads(): Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a.getOrElse("workload", "")
    val mk = workloads.getOrElse(name, sys.error(s"unknown workload '$name'"))
    val work = Files.createDirectories(Paths.get(a("work")).toAbsolutePath)
    val tracer = new Tracer(a.getOrElse("trace", "0") == "1")
    Tracer.current = tracer
    val threads = sparkThreads()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"pipebench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "60000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark)
    note(s"session ready (local[$threads])")
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toInt, work, tracer, threads)
    val out = try mk().run(ctx)
    finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    }
    a.get("trace-dir").foreach { d =>
      val stem = s"$name-seed${a("seed")}"
      tracer.write(Paths.get(d, s"$stem.spans.jsonl"))
      Files.write(Paths.get(d, s"$stem.e2e.json"),
        Json.metrics(out.endToEnd).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    val metrics = if (tracer.enabled) out.perLayer else out.endToEnd
    println(s"""{"correct": ${out.correct}, """ +
      s""""attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": ${Json.metrics(metrics)}}""")
    System.out.flush()
    // a helper thread left behind must not keep the JVM past its result
    System.exit(0)
  }

  /** A progress note on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit = System.err.println(f"[pipebench ${sinceJvmStart()}%7.2f s] $msg")

  /** Seconds from JVM start to now: the set-up time of a run. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
