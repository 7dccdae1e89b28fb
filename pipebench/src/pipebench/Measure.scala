package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Order statistics used by every workload. Kept free of Spark so that
  * `SelfTest` can pin them down. */
object Stats {
  private def sorted(xs: Iterable[Double]): Array[Double] = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    a
  }

  /** The usual median: the middle value, or the mean of the two middle
    * values for an even count. 0 for no samples. */
  def median(xs: Iterable[Double]): Double = {
    val a = sorted(xs)
    val n = a.length
    if (n == 0) 0.0
    else if (n % 2 == 1) a(n / 2)
    else (a(n / 2 - 1) + a(n / 2)) / 2.0
  }

  /** The tail: the highest percentile that still has at least
    * `TailBeyond` samples beyond it, i.e. the value at ascending rank
    * n - 11 (0-based), which leaves exactly ten larger ranks. It is
    * never below the median once n >= 21. Below 40 samples such a
    * percentile sits too close to the median to be a tail, so the
    * figure is the slowest sample instead. */
  val TailBeyond = 10
  val TailMinSamples = 40
  def tail(xs: Iterable[Double]): Double = {
    val a = sorted(xs)
    val n = a.length
    if (n == 0) 0.0
    else if (n < TailMinSamples) a(n - 1)
    else a(n - TailBeyond - 1)
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Where a record's latency is measured from: its due time. A backlog
  * record is present when its round starts, so it is due at the round
  * start, whatever order the round sends its records in; an open-loop
  * record is due at its scheduled send time, so the generator's own
  * lateness counts against the system. */
object Latency {
  def backlogDue[K](rounds: Seq[Seq[K]], roundStartNs: Seq[Long]): Map[K, Long] =
    rounds.zip(roundStartNs).flatMap { case (round, start) => round.map(_ -> start) }.toMap
  def openLoopDue[K](records: Seq[K], dueNs: Array[Long]): Map[K, Long] =
    records.indices.map(i => records(i) -> dueNs(i)).toMap
  def ms(dueNs: Long, sinkNs: Long): Double = (sinkNs - dueNs) / 1e6
}

/** Process-level gauges read from outside the program. */
object Gauges {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  /** Live heap after forced full collections. Spark's ContextCleaner
    * drops blocks, broadcasts and shuffles of unreachable frames on its
    * own thread once a collection has cleared their references, so the
    * reading waits for it between collections. */
  def heapLiveMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def fileCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(Files.isRegularFile(_)).toLong
      finally s.close()
    }

  /** Process-wide epoch clock in microseconds with nanoTime resolution,
    * so spans from the benchmark and from Spark's listeners share one
    * time axis. */
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def epochUs(ns: Long): Long = baseEpochUs + (ns - baseNs) / 1000L
}

/** The sink every workload posts to: one entry per delivered payload,
  * stamped when the post call runs. Executor tasks run in this JVM in
  * local mode, so a singleton is the rendezvous between task closures
  * and the driver. */
final case class Post(ns: Long, batchId: Long, payload: String)
object Posts {
  private val queue = new ConcurrentLinkedQueue[Post]()
  def add(batchId: Long, payload: String): Unit = {
    val t0 = System.nanoTime()
    queue.add(Post(t0, batchId, payload))
    Tracer.current.leaf("sink.post", t0, System.nanoTime())
  }
  def drain(): Seq[Post] = {
    val out = Seq.newBuilder[Post]
    var p = queue.poll()
    while (p != null) { out += p; p = queue.poll() }
    out.result()
  }
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What one workload run hands back to [[Main]]. `correct` is false
  * when any output check failed, set-up checks included. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         endToEnd: Map[String, Metric],
                         perLayer: Map[String, Metric])

/** One stretch of the timed phase: records delivered, wall time and
  * process CPU time. A closed loop has one per round; an open loop has
  * one for the whole phase. */
final case class Window(records: Long, ns: Long, cpuNs: Long)

/** The seven end-to-end metrics every workload reports. Throughput and
  * CPU per record are medians over the windows, so a round that a
  * short host stall slows does not move them. */
object EndToEnd {
  def apply(setupS: Double, windows: Seq[Window], latenciesMs: Seq[Double],
            heapLiveMb: Double, storedBytes: Long, storedRecords: Long): Map[String, Metric] = Map(
    "setup_s" -> Metric(setupS, "s"),
    "throughput_per_s" -> Metric(Stats.median(windows.map(w => w.records / (w.ns / 1e9))), "records/s"),
    "latency_p50_ms" -> Metric(Stats.median(latenciesMs), "ms"),
    "latency_tail_ms" -> Metric(Stats.tail(latenciesMs), "ms"),
    "cpu_ms_per_record" ->
      Metric(Stats.median(windows.map(w => w.cpuNs / 1e6 / math.max(w.records, 1L))), "ms"),
    "heap_live_mb" -> Metric(heapLiveMb, "MB"),
    "stored_bytes_per_record" -> Metric(storedBytes.toDouble / math.max(storedRecords, 1L), "bytes"))
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def metrics(m: Map[String, Metric]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${str(k)}: {\"value\": ${num(v.value)}, \"unit\": ${str(v.unit)}}"
    }.mkString("{", ", ", "}")
}

/** The closed loops' round rule: run whole rounds while the next one,
  * at the mean round time so far, still fits in the run length; always
  * at least one. Stopping only when time is up would let a round that
  * ends just under the run length start another, so the round count
  * (and with it every figure) would flip between runs. */
object Rounds {
  def another(done: Int, elapsedNs: Long, budgetNs: Long): Boolean =
    done == 0 || elapsedNs + elapsedNs / done <= budgetNs
}

/** An open-loop load generator: record `i` is due at `t0 + i * period`
  * whatever the system does, and is sent from this thread as soon as it
  * is due. Returns each record's due time and the worst lateness. */
object OpenLoop {
  def run(t0Ns: Long, periodNs: Long, count: Int)(send: Int => Unit): (Array[Long], Double) = {
    val due = Array.tabulate(count)(i => t0Ns + i.toLong * periodNs)
    var lateMax = 0L
    var i = 0
    while (i < count) {
      var now = System.nanoTime()
      while (now < due(i)) {
        java.util.concurrent.locks.LockSupport.parkNanos(due(i) - now)
        now = System.nanoTime()
      }
      lateMax = math.max(lateMax, now - due(i))
      send(i)
      i += 1
    }
    (due, lateMax / 1e6)
  }
}
