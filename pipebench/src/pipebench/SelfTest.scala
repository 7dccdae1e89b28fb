package pipebench

/** Tests of the benchmark's own arithmetic: the median, the tail rule,
  * the latency origin of backlog and open-loop records, the per-round
  * rates, the open-loop schedule, and the W1/W2 model the newsletter checks rely on. Run with
  * `python3 pipebench/run.py --self-test`; exits non-zero on a failure. */
object SelfTest {
  private var failures = 0
  private var checks = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    checks += 1
    val ok = scala.util.Try(cond).getOrElse(false)
    if (!ok) { failures += 1; println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    // median
    check("median of nothing is 0")(Stats.median(Nil) == 0.0)
    check("median of an odd count is the middle value")(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    check("median of an even count is the mean of the middle two")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // tail: exactly ten samples beyond it, never below the median
    val hundred = (1 to 100).map(_.toDouble)
    check("tail of 1..100 leaves ten samples beyond it")(
      Stats.tail(hundred) == 90.0 && hundred.count(_ > Stats.tail(hundred)) == 10)
    check("tail of 1..1000 is p99")(Stats.tail((1 to 1000).map(_.toDouble)) == 990.0)
    check("below 40 samples the tail is the slowest sample")(
      Stats.tail((1 to 39).map(_.toDouble)) == 39.0 && Stats.tail(Seq(1600.0, 2000.0, 1700.0)) == 2000.0)
    check("tail of nothing is 0")(Stats.tail(Nil) == 0.0)
    check("tail does not depend on sample order")(
      Stats.tail(scala.util.Random.shuffle(hundred)) == Stats.tail(hundred))
    val rng = new java.util.Random(7)
    check("tail is never below the median and has ten larger samples") {
      (1 to 200).forall { _ =>
        val n = 40 + rng.nextInt(2000)
        val xs = Seq.fill(n)(math.exp(rng.nextGaussian()) * 100)
        val t = Stats.tail(xs)
        t >= Stats.median(xs) && xs.count(_ > t) == Stats.TailBeyond
      }
    }
    check("a tail over tied samples is still at least the median") {
      val xs = Seq.fill(60)(1700.0) ++ Seq.fill(60)(1900.0) ++ Seq.fill(120)(2100.0)
      Stats.tail(xs) == 2100.0 && Stats.tail(xs) >= Stats.median(xs)
    }

    // latency origin
    check("a backlog record is due at its round's start, whatever its place in the round") {
      val due = Latency.backlogDue(Seq(Seq(3, 1, 2), Seq(4, 5)), Seq(1000000000L, 9000000000L))
      due == Map(3 -> 1000000000L, 1 -> 1000000000L, 2 -> 1000000000L,
        4 -> 9000000000L, 5 -> 9000000000L) &&
        Latency.ms(due(2), 1250000000L) == 250.0
    }
    check("backlog rounds that never started give no due times")(
      Latency.backlogDue(Seq(Seq(1), Seq(2)), Seq(5L)) == Map(1 -> 5L))
    check("an open-loop record is due at its scheduled time, not when it was sent") {
      // record 0's send blocks for 30 ms, so record 1 goes out late
      val sent = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime() + 2000000L
      val period = 10000000L
      val (dueNs, lateMs) = OpenLoop.run(t0, period, 2) { i =>
        sent += System.nanoTime(); if (i == 0) Thread.sleep(30)
      }
      val due = Latency.openLoopDue(Seq("a", "b"), dueNs)
      due == Map("a" -> t0, "b" -> (t0 + period)) && sent(1) - due("b") >= 20000000L &&
        lateMs >= 20.0 && Latency.ms(due("b"), sent(1)) >= 20.0
    }

    // closed-loop rates
    check("throughput and CPU per record are medians over rounds; one stalled round moves neither") {
      val w = Seq(Window(36, 1200000000L, 2400000000L), Window(36, 6000000000L, 9000000000L),
        Window(36, 1300000000L, 2600000000L))
      val m = EndToEnd(1.0, w, Nil, 0.0, 0L, 1L)
      m("throughput_per_s").value == 36 / 1.3 && m("cpu_ms_per_record").value == 2600.0 / 36
    }

    // open-loop schedule
    check("open-loop records are due one period apart from t0") {
      val sent = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime() + 2000000L
      val (due, lateMs) = OpenLoop.run(t0, 1000000L, 20)(_ => sent += System.nanoTime())
      due.indices.forall(i => due(i) == t0 + i * 1000000L) &&
        sent.indices.forall(i => sent(i) >= due(i)) && lateMs >= 0.0
    }

    // W1 / W2 model
    check("W1 links a heading to the URL line under it")(
      BlockModel.hyperlink("*AI*\nhttps://x.io/a\ntext") == "<https://x.io/a|*AI*>\ntext")
    check("W1 consumes URL lines alternately")(
      BlockModel.hyperlink("h\nhttps://a.io\nhttps://b.io") == "<https://a.io|h>\nhttps://b.io")
    check("W1 does not link an empty line or a line of 300 chars")(
      BlockModel.hyperlink("\nhttps://a.io") == "\nhttps://a.io" &&
        BlockModel.hyperlink(("x" * 300) + "\nhttps://a.io") == ("x" * 300) + "\nhttps://a.io")
    check("W2 packs lines greedily and keeps every block within the limit")(
      BlockModel.chunks("aaaa\nbbbb\ncccc", 9) == Seq("aaaa\nbbbb", "cccc"))
    check("W2 pushes an empty block before an oversized first line")(
      BlockModel.chunks("x" * 12, 9) == Seq("", "x" * 12))
    check("W2 drops an empty tail")(BlockModel.chunks("", 9) == Nil)
    check("block 0 carries the styled subject")(
      BlockModel.styledSubject(null) == "*No Subject*" && BlockModel.styledSubject("") == "*No Subject*" &&
        BlockModel.styledSubject("Hi") == "*Hi*")

    println(s"$checks checks, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
