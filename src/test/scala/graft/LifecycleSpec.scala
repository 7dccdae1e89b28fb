package graft

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** The r20 hardening of the shared standing-index lifecycle core
  * (VERDICT r19 #1/#2/#5): the id-log broadcast hint is SIZE-GATED (the
  * maintenance policy bounds the logs as a corpus fraction, so the
  * unconditional hint was a 100×-scale read-path failure in every
  * family's probe plan), the tombstone-fraction maintenance check is
  * AMORTIZED (no registry-sized scan per takedown batch), and the
  * per-root read descriptors are memoized (no driver-side job per probe
  * or serving-stream setup). */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    val exec = df.queryExecution.executedPlan
    exec.collectFirst { case a: AdaptiveSparkPlanExec => a }
      .map(_.executedPlan).getOrElse(exec)
  }
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    (p +: p.children.flatMap(allNodes)) ++ (p match {
      case q: QueryStageExec => allNodes(q.plan)
      case _                 => Nil
    })

  test("id-log broadcast is SIZE-GATED: a request-sized log keeps the hint, a ceiling-crossing log joins unhinted (r20, VERDICT r19 #1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-loggate").toString
    val logDir = s"$dir/tombstones"
    spark.range(0, 50).selectExpr("id as doc_id").write.parquet(logDir)
    val stored = spark.range(0, 1000).selectExpr("id as doc_id")
    // with auto-broadcast OFF, only the explicit hint can produce a
    // BroadcastHashJoin — isolating the gate's decision from the
    // planner's own size estimate
    val savedAuto = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // request-sized log (under the 8 MB default ceiling): hinted
      val small = IndexLifecycle.minusIdLog(stored, spark, logDir, "doc_id")
      small.collect()
      assert(allNodes(finalPlan(small)).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "a request-sized id log must keep its broadcast hint")
      // ceiling forced under the log's byte size: the hint is DROPPED
      // and the join strategy is the planner's to pick from runtime
      // sizes — at 100× a quarter-registry log must never be collected
      // onto the driver
      spark.conf.set("spark.graft.idLogBroadcastBytes", "0")
      val big = IndexLifecycle.minusIdLog(stored, spark, logDir, "doc_id")
      big.collect()
      assert(!allNodes(finalPlan(big)).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "a ceiling-crossing id log must not carry a broadcast hint")
      // the ROW ceiling binds independently of bytes (delta/RLE-packed
      // parquet can hold orders of magnitude more longs per byte — a
      // byte-only gate would re-admit the driver OOM): this 50-row log
      // is tiny on disk but must still go unhinted under a 10-row cap,
      // measured from the parquet footers, no job
      spark.conf.unset("spark.graft.idLogBroadcastBytes")
      spark.conf.set("spark.graft.idLogBroadcastRows", "10")
      val dense = IndexLifecycle.minusIdLog(stored, spark, logDir, "doc_id")
      dense.collect()
      assert(!allNodes(finalPlan(dense)).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "a row-ceiling-crossing id log must not carry a broadcast hint")
      // the gate changes STRATEGY only, never the answer
      assert(big.count() == 950 && small.count() == 950 && dense.count() == 950)
    } finally {
      spark.conf.unset("spark.graft.idLogBroadcastBytes")
      spark.conf.unset("spark.graft.idLogBroadcastRows")
      savedAuto match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("tombstoneHeavy is AMORTIZED: a below-threshold takedown batch never touches the registry (r20, VERDICT r19 #2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tombamort").toString
    val logDir = s"$dir/tombstones"
    val memoKey = s"$dir/rootv1"
    spark.range(0, 10).selectExpr("id as doc_id").write.parquet(logDir)
    def stored = spark.range(0, 1000).selectExpr("id as doc_id")
    // first check on a root pays the real scan once and seeds the bound
    assert(!IndexLifecycle.tombstoneHeavy(spark, stored, logDir, "doc_id",
      "spark.graft.lexCompactTombstoneFrac", memoKey))
    // a below-threshold batch lands: the registry side must not even be
    // CONSTRUCTED — deriving the by-name frame fails the test — and the
    // whole check launches ZERO Spark jobs (the log row count comes
    // from the stamp-memoized parquet footers... but the append just
    // changed the stamp, so this call re-reads footers driver-side:
    // still no job)
    spark.range(1000, 1010).selectExpr("id as doc_id")
      .write.mode("append").parquet(logDir)
    val tag = s"tombamort-${System.nanoTime()}"
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            tag == js.properties.getProperty("spark.jobGroup.id"))
          jobCount.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(tag, "below-threshold takedown check")
    try {
      assert(!IndexLifecycle.tombstoneHeavy(spark,
        sys.error("below-threshold check must not derive the registry frame"),
        logDir, "doc_id", "spark.graft.lexCompactTombstoneFrac", memoKey))
      Thread.sleep(500)
      assert(jobCount.get() == 0,
        s"below-threshold check launched ${jobCount.get()} jobs (wants 0)")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    // the bound is conservative: once appended log rows COULD have
    // crossed the fraction, the real check runs — and fires
    spark.range(0, 400).selectExpr("id as doc_id")
      .write.mode("append").parquet(logDir)
    assert(IndexLifecycle.tombstoneHeavy(spark, stored, logDir, "doc_id",
      "spark.graft.lexCompactTombstoneFrac", memoKey),
      "a threshold-crossing victim mass must fire the policy")
    // a compaction lands in a FRESH root → fresh memo key → the first
    // check there RE-DERIVES: the registry frame IS constructed
    var derived = false
    assert(IndexLifecycle.tombstoneHeavy(spark,
      { derived = true; stored }, logDir, "doc_id",
      "spark.graft.lexCompactTombstoneFrac", s"$dir/rootv2"))
    assert(derived, "a fresh memo key must re-derive the registry frame")
  }

  test("lex read descriptors are MEMOIZED behind the artifact stamp: steady-state reads launch zero jobs, any append invalidates (r20, VERDICT r19 #5 + advice #4)") {
    val path = java.nio.file.Files.createTempDirectory("graft-lexmemo").toString
    TextAnalysis.buildLexIndex(spark, sf, path)
    // first read derives (once per root per mutation) and caches under
    // the stats directory's (fileCount, bytes) stamp
    assert(!TextAnalysis.lexHasSegments(spark, path),
      "a fresh build is single-segment")
    // steady state — what a probe or serving-stream setup pays: ZERO
    // Spark jobs (one flat content summary only)
    val tag = s"lexmemo-${System.nanoTime()}"
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        // properties can be null for jobs launched without local props
        if (js.properties != null &&
            tag == js.properties.getProperty("spark.jobGroup.id"))
          jobCount.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(tag, "lex descriptor memo probe")
    try {
      assert(!TextAnalysis.lexHasSegments(spark, path))
      Thread.sleep(500)
      assert(jobCount.get() == 0,
        s"memoized descriptor read launched ${jobCount.get()} jobs (wants 0)")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    // a merge APPENDS a stats segment — the stamp changes, so the next
    // read re-derives and sees it, with no writer-maintained counter to
    // race or go stale across drivers (this is the direction that must
    // never under-count: it gates the crash-dupe distinct)
    TextAnalysis.mergeLexBatchIntoIndex(
      Seq((900001L, "memo bump text")).toDF("doc_id", "text"), path, seg = 3L)
    assert(TextAnalysis.lexSegCount(spark, path) == 2L,
      "append did not invalidate the memoized segment count")
    assert(TextAnalysis.lexHasSegments(spark, path))
  }

  /** One standing-index family as the replay and compaction cases drive
    * it: build a fresh index at `path`, admit a batch, take ids down,
    * compact. `registry` is the artifact whose rows are the admitted ids;
    * `audit` marks the families whose tombstone rows record the stored
    * cell; `lifecycle` is the family's descriptor. The replay case never
    * compacts, so the ANN tombstone log — kept under the version root —
    * sits at `path/tombstones` like the rest. */
  private case class Family(name: String, idCol: String, registry: String,
      audit: Boolean, build: String => Unit,
      arrival: Long => org.apache.spark.sql.DataFrame,
      merge: (org.apache.spark.sql.DataFrame, String) => Unit,
      forget: (org.apache.spark.sql.DataFrame, String) => Unit,
      lifecycle: IdLogFamily, compact: String => Unit)

  private def mediaHashes(ids: Seq[Long]): org.apache.spark.sql.DataFrame = {
    def bits(v: Long, n: Int): String =
      (n - 1 to 0 by -1).map(k => if (((v >> k) & 1L) == 1L) '1' else '0').mkString
    ids.map { id =>
      (id, Array.tabulate(4)(k => ((id * 2654435761L) ^ (k * 0x9E3779B9L)).toInt),
        Array.tabulate(4)(b => bits(b, 16) + bits(id & 0xFFFFL, 16) + "0" * 48))
    }.toDF("doc_id", "v", "bk")
  }

  private lazy val vec: Array[Float] =
    Similarity.annDelta(spark, sf).select("embedding").as[Array[Float]].head()

  private lazy val families = Seq(
    Family("dedup", "doc_id", "shingles", audit = false,
      p => Dedup.buildDedupIndex(spark, sf, p): Unit,
      id => Seq((id, "a late arrival of a forgotten document")).toDF("doc_id", "text"),
      (b, p) => Dedup.mergeDedupBatchIntoIndex(b, p): Unit,
      (r, p) => Dedup.forgetDedupFromIndex(r, p): Unit,
      Dedup.dedupFamily, p => Dedup.compactDedupIndex(spark, p)),
    Family("lexical", "doc_id", "doclens", audit = false,
      p => TextAnalysis.buildLexIndex(spark, sf, p): Unit,
      id => Seq((id, "a late arrival of a forgotten document")).toDF("doc_id", "text"),
      (b, p) => TextAnalysis.mergeLexBatchIntoIndex(b, p, seg = 1L): Unit,
      (r, p) => TextAnalysis.forgetLexFromIndex(r, p, seg = 2L): Unit,
      TextAnalysis.lexFamily, p => TextAnalysis.compactLexIndex(spark, p)),
    Family("media", "doc_id", "vecs", audit = false,
      p => MediaOps.buildIndexFrom(mediaHashes(0L until 20L), p): Unit,
      id => mediaHashes(Seq(id)),
      (b, p) => MediaOps.mergeHashesIntoIndex(b, p, "image"): Unit,
      (r, p) => MediaOps.forgetMediaFromIndex(r, p): Unit,
      MediaOps.mediaFamily, p => MediaOps.compactMediaIndex(spark, p)),
    Family("ann", "vec_id", "assignments", audit = true,
      p => Similarity.buildAnnIndex(spark, sf, p): Unit,
      id => Seq((id, vec)).toDF("vec_id", "embedding"),
      (b, p) => Similarity.mergeDeltaIntoIndex(b, p),
      (r, p) => Similarity.forgetVictimIdsFrom(r, p),
      // the rounds = 0 pure compaction of rebuildAnnIndex, victim-gated
      Similarity.annFamily, p => Similarity.compactAnnIndex(spark, p)),
    Family("pq", "vec_id", "codes", audit = true,
      p => Similarity.buildPqIndex(spark, sf, p): Unit,
      id => Seq((id, vec)).toDF("vec_id", "embedding"),
      (b, p) => Similarity.mergePqBatchIntoIndex(b, p): Unit,
      (r, p) => Similarity.forgetPqFromIndex(r, p): Unit,
      Similarity.pqFamily, p => Similarity.compactPqIndex(spark, p)))

  test("every family's id logs survive replay: a crashed first append, a redelivered takedown, the pending consult's crash window") {
    families.foreach { f =>
      val path = java.nio.file.Files.createTempDirectory(s"graft-replay-${f.name}").toString
      f.build(path)
      val (tombs, pending) = (s"$path/tombstones", s"$path/pending")
      def ids(dir: String): Seq[Long] =
        IndexLifecycle.idLogOf(spark, dir, f.idCol).select(f.idCol).as[Long]
          .collect().sorted.toSeq
      def stamps = (IndexLifecycle.dirStamp(spark, tombs), IndexLifecycle.dirStamp(spark, pending))
      val registry = spark.read.parquet(s"$path/${f.registry}")
      val auditCols = if (f.audit) Seq("c_label") else Nil
      val present = registry.select(f.idCol).as[Long].collect().sorted.take(2).toSeq
      val absent = Seq(900001L, 900002L)
      val requests = (present ++ absent).toDF(f.idCol)

      // (1) the takedown's first tombstone append crashed after its part
      // files landed but before `_SUCCESS`: the log reads as absent, so
      // the replay writes every id again — and must not publish the
      // crashed attempt's files beside its own
      registry.filter(col(f.idCol).isin(present: _*))
        .select((f.idCol +: auditCols).map(col): _*).write.parquet(tombs)
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tombs/_SUCCESS"))
      f.forget(requests, path)
      assert(ids(tombs) == present,
        s"${f.name}: present ids must land in tombstones exactly once")
      assert(ids(pending) == absent, s"${f.name}: absent ids must land in pending exactly once")
      if (f.audit)
        assert(spark.read.parquet(tombs).filter(col("c_label").isNull).isEmpty,
          s"${f.name}: a takedown tombstone lost its stored cell")
      // (2) the same takedown delivered again appends nothing
      val before = stamps
      f.forget(requests, path)
      assert(stamps == before, s"${f.name}: the redelivered takedown appended to a log")
      assert(ids(tombs) == present && ids(pending) == absent)

      // (3) the consult's crash window, built by hand: a pending takedown
      // was delivered — its tombstone landed — and the driver died before
      // the pending consume. The replayed merge must not tombstone the id
      // again, must finish the consume, and must refuse the arrival.
      val late = 900007L
      Seq(late).toDF(f.idCol).write.mode("append").parquet(pending)
      spark.range(1).selectExpr(
        Seq(s"cast($late as bigint) as ${f.idCol}") ++
          (if (f.audit) Seq("cast(null as int) as c_label") else Nil): _*)
        .write.mode("append").parquet(tombs)
      f.merge(f.arrival(late), path)
      assert(ids(tombs) == (present :+ late).sorted,
        s"${f.name}: replayed consult re-tombstoned the id")
      assert(ids(pending) == absent, s"${f.name}: replayed consult left the pending entry")
      assert(spark.read.parquet(s"$path/${f.registry}").filter(col(f.idCol) === late).isEmpty,
        s"${f.name}: replayed consult admitted a forgotten id")
    }
  }

  test("every family's compaction tail and build gate: one version per due compaction, a fixed point, the flat root retired without a rebuild, merges into the live version") {
    families.foreach { f =>
      val path = java.nio.file.Files.createTempDirectory(s"graft-tail-${f.name}").toString
      f.build(path)
      def versions: Seq[String] =
        Option(new java.io.File(s"$path/versions").list()).fold(Seq.empty[String])(_.toSeq.sorted)
      def committed: Seq[String] =
        versions.filter(v => new java.io.File(s"$path/versions/$v/_COMMITTED").exists)
      def live: String = IndexLifecycle.resolveIndexRoot(spark, path)
      def registered: Seq[Long] =
        spark.read.parquet(s"$live/${f.registry}").select(f.idCol).as[Long].collect().sorted.toSeq
      def takedown(): Unit = f.forget(registered.take(2).toDF(f.idCol), path)

      takedown()
      assert(versions.isEmpty, s"${f.name}: a 2-id takedown must not compact on its own")
      f.compact(path)
      assert(versions == Seq("v00002") && committed == versions,
        s"${f.name}: a due compaction must commit exactly one new version, got $versions")
      f.compact(path)
      assert(versions == Seq("v00002"),
        s"${f.name}: a compaction with nothing due created a directory: $versions")

      takedown()
      f.compact(path)
      assert(committed == Seq("v00002", "v00003") && live == s"$path/versions/v00003")
      assert(f.lifecycle.artifacts.forall(a => !new java.io.File(s"$path/$a").exists),
        s"${f.name}: keep-2 GC must retire the flat root")
      assert(IndexLifecycle.exists(spark, f.lifecycle, path),
        s"${f.name}: the build gate lost a versioned index (a silent rebuild)")

      val late = 900011L
      f.merge(f.arrival(late), path)
      assert(live == s"$path/versions/v00003" && registered.contains(late),
        s"${f.name}: a merge must fold into the live version")
    }
  }

  /** The job descriptions of the jobs `body` launched, collected under
    * a job group (a `Par` leg's thread inherits the group). */
  private def jobsOf(body: => Unit): Seq[String] = {
    val tag = s"jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            tag == js.properties.getProperty("spark.jobGroup.id"))
          jobs.add(String.valueOf(js.properties.getProperty("spark.job.description"))): Unit
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(tag, "lifecycle job budget")
    try { body; Thread.sleep(500) }
    finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  private def docs(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
    ids.map(id => (id, s"lifecycle budget document $id with a few more words")).toDF("doc_id", "text")

  test("dedup job budget: a pending-path merge, a takedown and the first takedown after a compaction") {
    val path = java.nio.file.Files.createTempDirectory("graft-budget").toString
    Dedup.buildDedupIndex(spark, sf, path)
    val live = spark.read.parquet(s"$path/shingles").select("doc_id").as[Long]
      .collect().sorted.toSeq
    // one cycle the way a long-lived stream runs it: each call reads
    // artifacts the call before it wrote
    def cycle(k: Int): (Seq[String], Seq[String]) = {
      val future = Seq(910000L + 10 * k, 910001L + 10 * k)
      val forget = jobsOf(Dedup.forgetDedupFromIndex(
        (live.slice(4 * k, 4 * k + 4) ++ future).toDF("doc_id"), path): Unit)
      val merge = jobsOf(Dedup.mergeDedupBatchIntoIndex(
        docs(future ++ Seq(920000L + 10 * k, 920001L + 10 * k) :+ live(100)), path): Unit)
      (forget, merge)
    }
    cycle(0)
    val (takedown, merge) = cycle(1)
    // measured before the marking pass: 10 (takedown) and 25 (merge)
    assert(takedown.size <= 6, s"a takedown ran ${takedown.size} jobs (budget 6): $takedown")
    assert(merge.size <= 8, s"a pending-path merge ran ${merge.size} jobs (budget 8): $merge")
    Dedup.compactDedupIndex(spark, path)
    // the commit seeded the new root's bound: a below-threshold check
    // never derives the registry frame
    assert(!IndexLifecycle.tombstoneHeavy(spark,
      sys.error("the check after a compaction must not derive the registry frame"),
      s"$path/tombstones", "doc_id", "spark.graft.dedupCompactTombstoneFrac",
      memoKey = IndexLifecycle.resolveIndexRoot(spark, path)))
    val (afterCompact, _) = cycle(2)
    // the tombstone-mass bound is seeded at commit: no registry scan
    // (measured 16 before)
    assert(afterCompact.size <= 6,
      s"the first takedown after a compaction ran ${afterCompact.size} jobs (budget 6): $afterCompact")
    // every job carries its phase label
    Seq(takedown -> "dedup.forget/", merge -> "dedup.merge/", afterCompact -> "dedup.forget/")
      .foreach { case (jobs, call) =>
        assert(jobs.forall(_.startsWith(call)), s"unlabelled lifecycle jobs: $jobs")
      }
    def phases(jobs: Seq[String]) =
      jobs.groupBy(identity).toSeq.sortBy(_._1).map { case (p, n) => s"$p ${n.size}" }.mkString(", ")
    info(s"takedown: ${phases(takedown)}; merge: ${phases(merge)}; " +
      s"first takedown after a compaction: ${phases(afterCompact)}")
  }

  test("dedup merge and takedown count each distinct id once, whatever duplicates the logs and the registry hold") {
    val path = java.nio.file.Files.createTempDirectory("graft-dupes").toString
    Dedup.buildDedupIndex(spark, sf, path)
    val shingles = spark.read.parquet(s"$path/shingles")
    val Seq(r1, r2, t) = shingles.select("doc_id").as[Long].collect().sorted.take(3).toSeq
    val (p, n) = (930001L, 930002L)
    // a crash-replayed registry append, and each log holding an id twice
    shingles.filter(col("doc_id") === r1).write.mode("append").parquet(s"$path/shingles")
    Seq(t, t).toDF("doc_id").write.parquet(s"$path/tombstones")
    Seq(p, p).toDF("doc_id").write.parquet(s"$path/pending")
    // r1 is registered (twice) and new to the logs; 930003 is unknown
    assert(Dedup.forgetDedupFromIndex(Seq(r1, r1, t, 930003L).toDF("doc_id"), path) == 1L,
      "a registry duplicate must tombstone its id once")
    // p is delivered (pending twice), t tombstoned, r2 a replay, n new
    // and repeated in the batch: 4 distinct ids, one admitted
    assert(Dedup.mergeDedupBatchIntoIndex(docs(Seq(p, t, r2, n, n)), path) == ((1L, 3L)))
    assert(!new java.io.File(s"$path/pending/_SUCCESS").exists ||
      spark.read.parquet(s"$path/pending").filter(col("doc_id") === p).isEmpty,
      "the delivered id must leave the pending log, both copies")
    assert(spark.read.parquet(s"$path/tombstones").select("doc_id").as[Long].collect().toSet ==
      Set(t, r1, p))
    assert(Dedup.mergeDedupBatchIntoIndex(docs(Seq(p, n)), path) == ((0L, 2L)),
      "a replay admits nothing")
  }

  test("no lifecycle call leaves a persisted or checkpointed frame behind") {
    families.foreach { f =>
      val path = java.nio.file.Files.createTempDirectory(s"graft-leak-${f.name}").toString
      f.build(path)
      def registered: Seq[Long] =
        spark.read.parquet(s"${IndexLifecycle.resolveIndexRoot(spark, path)}/${f.registry}")
          .select(f.idCol).as[Long].collect().sorted.toSeq
      def held = spark.sparkContext.getPersistentRDDs.keySet
      def noLeak(call: String)(body: => Unit): Unit = {
        val before = held
        body
        val left = held -- before
        assert(left.isEmpty, s"${f.name}: a $call left persisted RDDs ${left.toSeq.sorted} behind")
      }
      noLeak("merge")(f.merge(f.arrival(900021L), path))
      noLeak("takedown")(f.forget((registered.take(2) :+ 900022L).toDF(f.idCol), path))
      noLeak("compaction")(f.compact(path))
    }
  }

  test("versions order by NUMBER, not name: past v99999, resolve, allocation and GC all see v100000 as the newest") {
    val path = java.nio.file.Files.createTempDirectory("graft-vorder").toString
    // marker-only versions: the version store reads names and markers alone
    Seq("v99998", "v99999", "v100000").foreach { v =>
      val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$path/versions/$v"))
      java.nio.file.Files.createFile(dir.resolve("_COMMITTED"))
    }
    assert(IndexLifecycle.resolveIndexRoot(spark, path) == s"$path/versions/v100000")
    assert(IndexLifecycle.nextVersionName(spark, path) == "v100001")
    assert(IndexLifecycle.pruneVersions(spark, Dedup.dedupFamily, path, keep = 2) == 1L)
    assert(new java.io.File(s"$path/versions").list().sorted.toSeq == Seq("v100000", "v99999"),
      "keep-2 GC must keep the newest committed version and its predecessor")
  }
}
