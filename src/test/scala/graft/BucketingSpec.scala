package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Storage-layout scale techniques the 100 TB plan depends on, proven on
  * real plans rather than asserted in prose:
  *
  *  - BUCKETING: pre-hashing both join sides into the same bucket count
  *    on the join key makes the join (and any same-key aggregation after
  *    it) exchange-free — the shuffle is paid once at write time, then
  *    every downstream join/agg on that key reads co-located buckets.
  *    This is how the fact⋈fact joins (q36-style) avoid per-query
  *    shuffles of the 100 TB side.
  *  - PARTITION PRUNING: directory-partitioning on a low-cardinality
  *    predicate column turns `WHERE event_type = 'click'` into a file
  *    listing that never opens non-matching partitions.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  /** Final adaptive plan (AQE re-plans at runtime; assert on what ran). */
  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    val exec = df.queryExecution.executedPlan
    exec.collectFirst { case a: AdaptiveSparkPlanExec => a }
      .map(_.executedPlan).getOrElse(exec)
  }

  /** Shuffles in the final plan. AQE query stages (ShuffleQueryStage,
    * ResultQueryStage) are LEAF nodes whose real subtree hangs off
    * `.plan`, so plain `collect` never sees inside them — walk through. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    (p +: p.children.flatMap(allNodes)) ++ (p match {
      case q: QueryStageExec => allNodes(q.plan)
      case _                 => Nil
    })

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int =
    allNodes(finalPlan(df)).count(_.isInstanceOf[ShuffleExchangeLike])

  test("bucketed co-located join + same-key agg: zero shuffle exchanges") {
    val conf = spark.conf
    val savedThresh = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("b_orders")
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("b_lineitem")

      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderkey")
        .agg(sum($"l_quantity").as("qty"), first($"o_totalprice").as("tp"))
      val n = joined.collect().length
      assert(n > 0)

      assert(shuffleCount(joined) == 0,
        s"bucketed join+agg must not shuffle, found:\n${finalPlan(joined)}")

      // same query on unbucketed parquet DOES shuffle (the cost bucketing saves)
      val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val plain = o.join(l, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderkey")
        .agg(sum($"l_quantity").as("qty"), first($"o_totalprice").as("tp"))
      assert(plain.collect().length == n)
      assert(shuffleCount(plain) > 0)
    } finally {
      savedThresh.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("partition pruning: predicate on the partition column opens only its directory") {
    val dir = "/tmp/graft-test-part-events"
    Tables.events(spark, sf).select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)

    val clicks = spark.read.parquet(dir).filter($"event_type" === "click")
      .select("event_id", "user_id")
    val n = clicks.collect().length
    assert(n > 0)
    // the scan must carry the predicate as a PARTITION filter (directory
    // pruning) and actually open only the one matching file of five —
    // the runtime numFiles metric is the ground truth
    val scan = allNodes(finalPlan(clicks))
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.metadata("PartitionFilters").contains("event_type"),
      s"expected PartitionFilters on event_type: ${scan.metadata}")
    val total = spark.read.parquet(dir).inputFiles.length
    val opened = scan.metrics("numFiles").value
    assert(opened < total && opened >= 1,
      s"pruning failed: opened $opened of $total files")
  }

  test("q119 index layout: a single-cell probe opens only that cell's partition (r14)") {
    // the reason buildAnnIndex writes partitionBy(c_label): the nightly
    // probe filters on the routed cell, and the scan must prune to one
    // directory of the standing index — measured by numFiles, not
    // asserted from the plan text alone
    val path = Similarity.annIndexPathFor(sf) + "-prune"
    Similarity.buildAnnIndex(spark, sf, path)
    val dir = s"$path/assignments"
    val one = spark.read.parquet(dir).filter($"c_label" === 3)
      .select("vec_id", "nrm")
    assert(one.collect().nonEmpty)
    val scan = allNodes(finalPlan(one))
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.metadata("PartitionFilters").contains("c_label"),
      s"expected PartitionFilters on c_label: ${scan.metadata}")
    val total = spark.read.parquet(dir).inputFiles.length
    val opened = scan.metrics("numFiles").value
    assert(opened < total && opened >= 1,
      s"index pruning failed: opened $opened of $total files")
  }

  test("q126 compressed index: the ADC probe scan is column-pruned to codes; the re-rank scan to orig (r14)") {
    // the reason codes and originals share ONE cell-partitioned parquet:
    // parquet's columnar layout gives the hot/cold split for free — the
    // ADC ranking path must never read the 64-float orig column and the
    // shortlist re-rank must never read codes. Asserted on the EXECUTED
    // probe's scans of the codes artifact, not from intent.
    val path = Similarity.pqIndexPathFor(sf) + "-colprune"
    Similarity.buildPqIndex(spark, sf, path)
    val probe = Similarity.pqIndexProbeStored(spark, sf, path)
    assert(probe.collect().nonEmpty)
    val scans = allNodes(finalPlan(probe))
      .collect { case f: FileSourceScanExec => f }
      .filter(_.metadata.get("Location").exists(_.contains("codes")))
    assert(scans.length == 2, s"expected two codes-artifact scans, got ${scans.length}")
    val schemas = scans.map(_.schema.fieldNames.toSet)
    assert(schemas.exists(s => s.contains("codes") && !s.contains("orig")),
      s"no codes-only (ADC) scan among $schemas")
    assert(schemas.exists(s => s.contains("orig") && !s.contains("codes")),
      s"no orig-only (re-rank) scan among $schemas")
  }

  test("q134 merge: APPEND-ONLY fold — every pre-merge file survives byte-for-byte, a probe planned mid-merge is never invalidated, merge is idempotent (r19)") {
    // the reason the merge appends instead of dynamic-partition-
    // overwriting (r18 verdict #2): an overwrite REPLACES the touched
    // cells' files, so a concurrent probe whose plan listed them
    // pre-merge has them yanked mid-read; an append can only ADD files
    // — proven on the directory listing, not asserted from intent
    val path = Similarity.mergeIndexPathFor(sf) + "-prove"
    Similarity.buildAnnIndex(spark, sf, path)
    def filesByCell(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$path/assignments")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("c_label="))
        .map(dir => dir.getName ->
          dir.listFiles().map(f => s"${f.getName}:${f.length}:${f.lastModified}").toSet)
        .toMap
    }
    val before = filesByCell()
    // a probe PLANNED pre-merge (its parquet file listing is fixed at
    // read time): collected only after the merge lands, it must read
    // exactly the pre-merge rows — the verdict's mid-merge reader proof
    val midMergeProbe = spark.read.parquet(s"$path/assignments")
      .select("vec_id")
    val preRows = midMergeProbe.as[Long].collect().sorted.toSeq
    val report1 = Similarity.mergeAnnIndex(spark, sf, path).collect()
    assert(midMergeProbe.as[Long].collect().sorted.toSeq == preRows,
      "a probe planned pre-merge saw the merge's writes (or lost files)")
    val after = filesByCell()
    val hitCells = report1.filter(_.getLong(2) > 0)
      .map(r => s"c_label=${r.get(0)}").toSet
    val untouched = before.keySet -- hitCells
    assert(hitCells.nonEmpty && untouched.nonEmpty,
      s"fixture must have both hit and untouched cells: hit=$hitCells")
    untouched.foreach { cell =>
      assert(after(cell) == before(cell),
        s"untouched $cell was touched by the merge")
    }
    hitCells.foreach { cell =>
      assert(before(cell).subsetOf(after(cell)),
        s"hit $cell lost or rewrote a pre-merge file (append-only violated)")
      assert(after(cell) != before(cell), s"hit $cell gained no delta file")
    }
    // idempotence: a second merge converges — identical report, the
    // artifact row set fixed (delta rows anti-join away), and NO new
    // files at all (the replay appends nothing)
    val afterFiles = filesByCell()
    val report2 = Similarity.mergeAnnIndex(spark, sf, path).collect()
    assert(report1.map(_.toString).toSeq == report2.map(_.toString).toSeq,
      "re-running the merge moved the report")
    assert(filesByCell() == afterFiles,
      "an idempotent re-merge wrote files")
    val totals = report2.map(r => (r.get(0).toString, r.getLong(3))).toMap
    val counted = spark.read.parquet(s"$path/assignments")
      .groupBy("c_label").count().collect()
      .map(r => (r.get(0).toString, r.getLong(1))).toMap
    assert(counted == totals, "artifact counts != reported totals after re-merge")
  }

  test("q135 forget: LAZY deletion — victims leave every LIVE read immediately, the stored files are never touched, the rebuild makes it physical (r19)") {
    val path = Similarity.forgetIndexPathFor(sf) + "-prove"
    Similarity.buildAnnIndex(spark, sf, path)
    val nBefore = spark.read.parquet(s"$path/assignments").count()
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/assignments"))
        .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").toSet
    }
    val filesBefore = files()
    val report1 = Similarity.forgetFromAnnIndex(spark, sf, path).collect()
    // the takedown is effective IMMEDIATELY on the live view…
    val live = Similarity.liveAssignments(spark, path, IndexLifecycle.resolveIndexRoot(spark, path))
    assert(live.filter($"vec_id" % 50 === 0).count() == 0,
      "a takedown victim survived in the live view")
    val deleted = report1.map(_.getLong(2)).sum
    assert(deleted > 0 && live.count() == nBefore - deleted,
      "kept + deleted != pre-delete index size")
    // …while the stored artifact is UNTOUCHED (append-only takedown: a
    // concurrent probe's planned file listing stays valid end-to-end —
    // the in-place cell rewrite this replaced could yank its files)
    assert(files() == filesBefore,
      "the lazy takedown touched the stored assignment files")
    // the tombstone log carries exactly the victims with their stored cells
    val tombs = spark.read.parquet(s"$path/tombstones")
    assert(tombs.count() == deleted &&
      tombs.filter($"vec_id" % 50 =!= 0).count() == 0)
    // re-run: nothing newly tombstoned, identical report
    val report2 = Similarity.forgetFromAnnIndex(spark, sf, path).collect()
    assert(report1.map(_.toString).toSeq == report2.map(_.toString).toSeq,
      "re-running the delete moved the report")
    // the versioned rebuild is the compaction that makes deletion
    // physical: the new version's stored rows carry no victim
    val newRoot = Similarity.rebuildAnnIndex(spark, path)
    assert(spark.read.parquet(s"$newRoot/assignments")
      .filter($"vec_id" % 50 === 0).count() == 0,
      "rebuild must physically drop tombstoned rows")
    assert(spark.read.parquet(s"$newRoot/assignments").count() == nBefore - deleted)
  }

  test("q132 lexical index: the probe opens only the query terms' postings buckets (r15)") {
    // the reason buildLexIndex writes partitionBy(tb): a probe touches
    // <= 3 of the 16 term-hash buckets no matter how large the corpus —
    // measured on the EXECUTED probe's numFiles, not asserted from
    // intent
    val path = TextAnalysis.lexIndexPathFor(sf) + "-prune"
    TextAnalysis.buildLexIndex(spark, sf, path)
    val probe = TextAnalysis.lexIndexProbeStored(spark, sf, path)
    assert(probe.collect().length == 10)
    val scan = allNodes(finalPlan(probe))
      .collect { case f: FileSourceScanExec => f }
      .filter(_.metadata.get("Location").exists(_.contains("postings")))
    assert(scan.length == 1, s"expected one postings scan, got ${scan.length}")
    assert(scan.head.metadata("PartitionFilters").contains("tb"),
      s"expected PartitionFilters on tb: ${scan.head.metadata}")
    val total = spark.read.parquet(s"$path/postings").inputFiles.length
    val opened = scan.head.metrics("numFiles").value
    assert(opened <= 3 && opened >= 1 && total > 3,
      s"postings pruning failed: opened $opened of $total files")
  }
}
