package pipebench

import scala.collection.mutable

import graft.Dedup

/** One step of the index-churn sequence. */
sealed trait Op
final case class Merge(rows: Seq[(Long, String)]) extends Op
final case class Forget(ids: Seq[Long]) extends Op
case object Probe extends Op
case object Compact extends Op

/** A plain model of the standing dedup index's contract: the registry
  * of admitted ids, the tombstone log and the pending log, with the
  * merge and forget rules of `Dedup.mergeDedupBatchIntoIndex` and
  * `Dedup.forgetDedupFromIndex`, plus word-3-gram shingles for exact
  * Jaccard. Compaction changes no id set. */
final class IndexModel {
  val text = mutable.Map.empty[Long, String]
  val registry = mutable.Set.empty[Long]
  val tombstones = mutable.Set.empty[Long]
  val pending = mutable.Set.empty[Long]
  private val bySh = mutable.Map.empty[String, mutable.Set[Long]]
  private val shOf = mutable.Map.empty[Long, Set[String]]

  def live: collection.Set[Long] = registry.diff(tombstones)

  /** Returns (admitted, refused) over the batch's distinct ids. */
  def merge(rows: Seq[(Long, String)]): (Long, Long) = {
    val first = mutable.LinkedHashMap.empty[Long, String]
    rows.foreach { case (id, t) => if (!first.contains(id)) first(id) = t }
    val delivered = first.keySet.intersect(pending)
    tombstones ++= delivered
    pending --= delivered
    val fresh = first.filter { case (id, _) => !registry(id) && !tombstones(id) }
    fresh.foreach { case (id, t) =>
      registry += id; text(id) = t
      val sh = IndexModel.shingles(t)
      shOf(id) = sh
      sh.foreach(s => bySh.getOrElseUpdate(s, mutable.Set.empty) += id)
    }
    (fresh.size.toLong, (first.size - fresh.size).toLong)
  }

  /** Returns the number of ids newly tombstoned. Ids not yet admitted
    * go to the pending log. */
  def forget(ids: Seq[Long]): Long = {
    val marked = ids.distinct.filterNot(id => tombstones(id) || pending(id))
    val (present, early) = marked.partition(registry)
    tombstones ++= present
    pending ++= early
    present.size.toLong
  }

  /** For a probe text: (docs with the identical shingle set, docs with
    * Jaccard >= 0.5 after the program's rounding, best rounded Jaccard)
    * over the live docs. */
  def expect(probe: String): (Int, Int, Double) = {
    val sh = IndexModel.shingles(probe)
    val cand = sh.iterator.flatMap(s => bySh.getOrElse(s, Nil)).toSet.filter(id => live(id))
    val js = cand.toSeq.map { id =>
      val o = shOf(id)
      val inter = sh.count(o)
      math.floor(inter.toDouble / (sh.size + o.size - inter) * 1e6 + 0.5) / 1e6
    }
    (cand.count(id => shOf(id) == sh), js.count(_ >= 0.5), if (js.isEmpty) 0.0 else js.max)
  }
}

object IndexModel {
  def shingles(t: String): Set[String] = {
    val w = t.split(" ", -1)
    if (w.length < 3) Set.empty else (0 until w.length - 2).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }
}

/** Seeded corpus and operation plan. Texts are random runs over a large
  * vocabulary, so unrelated docs share no shingle; a near-duplicate twin
  * is its original minus the first word (Jaccard about 0.99). */
final class IndexGen(seed: Long) {
  private val rng = new java.util.Random(seed ^ 0x2545f4914f6cdd1dL)
  private val vocab: IndexedSeq[String] = (0 until 4000).map { _ =>
    (1 to 3 + rng.nextInt(7)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
  }
  private var nextId = 0L
  def freshId(): Long = { val id = nextId; nextId += 1; id }
  def peekId(ahead: Int): Long = nextId + ahead
  def text(): String = (1 to 80 + rng.nextInt(81)).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
  def twin(t: String): String = t.substring(t.indexOf(' ') + 1)
  def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
  def nextInt(n: Int): Int = rng.nextInt(n)
}

/** A closed loop with one caller over the standing dedup index. Set-up
  * writes a seeded corpus, builds the index over it (`buildDedupIndex`)
  * and runs one warm-up round. A round is a fixed sequence of
  * lifecycle calls: four forgets, each naming live ids, forgotten ids
  * and the next merge's first new ids (ahead of their arrival, so the
  * pending log is used); four equal-size merges carrying
  * near-duplicate twins, replayed ids and in-batch repeats; a
  * stored-index probe; and one compaction at a fixed step. The run is
  * the whole rounds that fit in its length. On a 4-vCPU host a
  * lifecycle call lasts over a second whatever its size, so a 15 s run
  * fits one round: latency counts each merge call once, and its median
  * and tail are those of four calls. */
final class IndexChurn extends Workload {
  private val BaseDocs = 1000
  private val MergeRows = 60
  private val ForgetIds = 24
  private val ProbeTargets = 150
  /** Every merge follows a forget that names the merge's first new ids,
    * so every merge takes the pending-log path and merges are alike. */
  private val WarmRound: Seq[Char] = "FMPC"
  private val Round: Seq[Char] = "FMFMFMFMPC"
  /** Lower bound on a round's duration, used to size the plan. */
  private val MinRoundSeconds = 2

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new IndexGen(ctx.seed)
    val plan = new IndexModel
    val base = (0 until BaseDocs).map { _ =>
      val id = gen.freshId()
      val t = if (id > 0 && gen.nextInt(100) < 15) gen.twin(plan.text(gen.nextInt(id.toInt).toLong))
        else gen.text()
      plan.merge(Seq(id -> t))
      id -> t
    }
    // the plan is drawn against a model run of itself, so forgets name
    // live, dead and not-yet-arrived ids in known shares
    val knownIds = mutable.ArrayBuffer.from(base.map(_._1))
    val rounds = (WarmRound +: Seq.fill(ctx.seconds / MinRoundSeconds + 1)(Round)).map { round =>
      round.map {
        case 'M' =>
          val known = knownIds.toIndexedSeq
          val fresh = (1 to MergeRows * 2 / 3).map(_ => gen.freshId() -> gen.text())
          val twins = (1 to MergeRows / 6).map(_ => gen.freshId() -> gen.twin(plan.text(gen.pick(known))))
          val replays = (1 to MergeRows / 8).map { _ => val id = gen.pick(known); id -> plan.text(id) }
          val body = fresh ++ twins ++ replays
          val rows = body ++ (1 to MergeRows - body.size).map(_ => gen.pick(body))
          plan.merge(rows)
          knownIds ++= (fresh ++ twins).map(_._1).filter(plan.text.contains)
          Merge(rows)
        case 'F' =>
          val live = plan.live.toIndexedSeq.sorted
          val dead = plan.tombstones.toIndexedSeq.sorted
          val ids = (1 to ForgetIds * 3 / 4).map(_ => gen.pick(live)) ++
            (if (dead.isEmpty) Nil else (1 to ForgetIds / 8).map(_ => gen.pick(dead))) ++
            (0 until ForgetIds / 8).map(gen.peekId)
          plan.forget(ids)
          Forget(ids)
        case 'P' => Probe
        case 'C' => Compact
      }
    }
    // probe corpus: doc 10j+7 is "zq " + target j's text, so the probe's
    // first-word-dropped twin is the target itself; docs 10j+3 are
    // fresh texts whose reversed twins match nothing
    val everyId = knownIds.toIndexedSeq
    val targets = (0 until ProbeTargets).map(_ => gen.pick(everyId)).distinct
    val probeDocs = targets.zipWithIndex.map { case (id, j) => (10L * j + 7, "zq " + plan.text(id)) } ++
      (0 until 40).map(j => (10L * j + 3, gen.text()))
    val probeTexts = probeDocs.flatMap { case (pid, t) =>
      if (pid % 10 == 7) Some(pid + 20000 -> gen.twin(t))
      else Some(pid + 30000 -> t.split(" ", -1).reverse.mkString(" "))
    }.toMap
    Main.note("inputs generated")

    val corpusDir = ctx.dir("corpus"); val probeDir = ctx.dir("probe")
    base.toDF("doc_id", "text").write.parquet(corpusDir.resolve("documents.parquet").toString)
    probeDocs.toDF("doc_id", "text").write.parquet(probeDir.resolve("documents.parquet").toString)
    val path = ctx.work.resolve("index").toString
    Dedup.buildDedupIndex(spark, corpusDir.toString, path)
    Main.note("index built")

    val model = new IndexModel
    base.foreach(d => model.merge(Seq(d)))
    val timing = mutable.Map.empty[Char, mutable.ArrayBuffer[Double]]
    var failed = 0L
    var attempted = 0L
    var mergedRows = 0L
    var setupFailed = false
    def step(op: Op, timedPhase: Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok = op match {
        case Merge(rows) =>
          val got = ctx.span("dedup.merge")(
            Dedup.mergeDedupBatchIntoIndex(rows.toDF("doc_id", "text"), path))
          got == model.merge(rows)
        case Forget(ids) =>
          val got = ctx.span("dedup.forget")(
            Dedup.forgetDedupFromIndex(ids.toDF("doc_id"), path))
          got == model.forget(ids)
        case Probe =>
          val got = ctx.span("dedup.probe")(
            Dedup.incrementalDedupStored(spark, probeDir.toString, path).collect())
          probeOk(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))),
            probeTexts, model)
        case Compact =>
          ctx.span("dedup.compact")(Dedup.compactDedupIndex(spark, path))
          true
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (timedPhase) {
        attempted += 1
        if (!ok) failed += 1
        val c = op match { case _: Merge => 'M'; case _: Forget => 'F'; case Probe => 'P'; case Compact => 'C' }
        timing.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += ms
        op match {
          case Merge(rows) => mergedRows += rows.size
          case _ =>
        }
      } else if (!ok) setupFailed = true
    }
    rounds.head.foreach(step(_, timedPhase = false))
    val setupS = Main.sinceJvmStart()

    // per timed round: rows merged, wall time, CPU time
    val windows = mutable.ArrayBuffer.empty[Window]
    val t0 = System.nanoTime()
    while (windows.size + 1 < rounds.size &&
        Rounds.another(windows.size, System.nanoTime() - t0, ctx.seconds * 1000000000L)) {
      val start = System.nanoTime(); val cpu0 = Gauges.cpuNs(); val rows0 = mergedRows
      rounds(windows.size + 1).foreach(step(_, timedPhase = true))
      windows += Window(mergedRows - rows0, System.nanoTime() - start, Gauges.cpuNs() - cpu0)
    }
    val t1 = System.nanoTime()
    ctx.tracer.markTimed(t0, t1)
    val heapMb = Gauges.heapLiveMb()
    val indexPath = ctx.work.resolve("index")
    val stored = Gauges.dirBytes(indexPath)
    val records = BaseDocs.toLong +
      rounds.take(windows.size + 1).flatten.collect { case Merge(rows) => rows.size }.sum
    val e2e = EndToEnd(setupS, windows.toSeq, timing.getOrElse('M', Nil).toSeq, heapMb, stored, records)
    val layers =
      if (!ctx.tracing) Map.empty[String, Metric]
      else {
        val sample = base.take(400)
        val versions = indexPath.resolve("versions")
        Layers.complete(
          Layers.passes(ctx, sample.map { case (id, t) => (id.toInt, s"doc $id", t) },
            sample.map { case (id, t) => (id.toInt, s"*doc $id*", t) }) ++
          ctx.tracer.scheduler(Some("dedup.")) ++ Map(
            "dedup.merge_ms_p50" -> Metric(Stats.median(timing.getOrElse('M', Nil)), "ms"),
            "dedup.forget_ms_p50" -> Metric(Stats.median(timing.getOrElse('F', Nil)), "ms"),
            "dedup.probe_ms_p50" -> Metric(Stats.median(timing.getOrElse('P', Nil)), "ms"),
            "lifecycle.compactions" -> Metric(
              if (!java.nio.file.Files.isDirectory(versions)) 0.0
              else {
                val s = java.nio.file.Files.list(versions)
                try s.count().toDouble finally s.close()
              }, "count"),
            "lifecycle.index_files" -> Metric(Gauges.fileCount(indexPath).toDouble, "count"),
            "lifecycle.index_bytes_per_doc" -> Metric(stored.toDouble / math.max(model.live.size, 1), "bytes")))
      }
    Outcome(!setupFailed && failed == 0, attempted, failed, e2e, layers)
  }

  /** Every delta row is checked against the model: between the docs
    * with an identical shingle set (which LSH cannot miss) and the docs
    * at Jaccard >= 0.5; a best Jaccard of 1.0 exactly when such an
    * identical doc is live; `is_new` exactly when nothing matched. */
  private def probeOk(rows: Seq[(Long, Long, Double, Boolean)], texts: Map[Long, String],
                      model: IndexModel): Boolean =
    rows.size == texts.size && rows.forall { case (id, n, best, isNew) =>
      texts.get(id).exists { t =>
        val (lo, hi, bestJ) = model.expect(t)
        lo <= n && n <= hi && isNew == (n == 0) &&
          (n == 0 || (best >= 0.5 && best <= bestJ)) && ((lo > 0) == (best == 1.0))
      }
    }
}
