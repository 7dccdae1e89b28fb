package graft

import org.apache.spark.sql.functions._

/** Behavior checks for the extension suites (dedup, similarity, media)
  * on sf0.001 — the oracle gate proves cross-engine equality; these prove
  * the semantics are the intended ones. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("q23 MinHash+LSH finds every planted near-duplicate twin") {
    // The query plants a twin (doc_id+10000, first token dropped) per doc;
    // LSH banding + 0.5-Jaccard verify must recover (id, id+10000) pairs.
    val pairs = Dedup.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    // twins of 10+-token docs share all but ~2 shingles → Jaccard ≫ 0.5
    val planted = texts.filter(_._2.split(" ").length >= 10)
      .map { case (id, _) => (id, id + 10000) }.toSet
    assert(planted.subsetOf(pairs), s"missing ${(planted -- pairs).take(5)}")
  }

  /** Driver-side exact cosine with the same left-to-right double fold the
    * Spark expressions use — bit-identical reference values. */
  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    def dot(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  private lazy val embs: Map[Long, Seq[Float]] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap

  test("boundedBucketPairs: skew-amplified hot bucket == brute force, work bounded") {
    // skew fixture: ONE hot bucket holding 90% of rows (the label-clustered
    // failure mode the naive group-by-bucket pairwise loop degrades on)
    val n = 300
    val rows = (0L until n).map { id =>
      val bucket = if (id < n * 9 / 10) 7L else id % 3 // 270 rows in bucket 7
      val e = Array.tabulate(8)(j => 1.0 + 0.001 * ((id + j) % 5))
      val nrm = math.sqrt(e.map(x => x * x).sum)
      (bucket, id, e, nrm)
    }
    val df = rows.toDF("bucket", "vec_id", "e", "nrm")
    val cap = 64 // forces m = ceil(270/64) = 5 sub-groups for the hot bucket
    val got = Dedup.boundedBucketPairs(spark, df, cap, minCos = 0.0)
      .select("vec_a", "vec_b", "cos").as[(Long, Long, Double)].collect().toSet
    // brute force in the driver, same fold order
    val byBucket = rows.groupBy(_._1)
    val want = byBucket.values.flatMap { vs =>
      val v = vs.sortBy(_._2)
      for {
        i <- v.indices; j <- (i + 1) until v.length
        (_, ida, ea, na) = v(i); (_, idb, eb, nb) = v(j)
        dot = ea.zip(eb).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
      } yield (ida, idb, dot / (na * nb))
    }.toSet
    assert(got == want) // exact pair set AND exact cosine values
    // the hot bucket really was split: per-task comparison count is bounded
    // by cap² while the naive loop would run 270·269/2 in one task
    val m = math.ceil(270.0 / cap).toInt
    assert(m == 5)
    val maxBlockPairs = (cap.toLong + 270 / m) * (270 / m) // generous bound
    assert(maxBlockPairs < 270L * 269 / 2)
  }

  test("boundedBandCandidates: hot band == naive self-join, per-block work bounded") {
    // hot-band fixture: 400 docs (mass-duplicated boilerplate) collide in
    // ONE (band_idx, band_hash) bucket — the naive bands⋈bands join would
    // emit all 400·399/2 pairs from a single task. Plus two normal buckets
    // and a doc appearing in two bands (cross-band duplicate pair).
    val hot = (0L until 400L).map(id => (0, "HOT", id))
    val cold = Seq((1, "c1", 500L), (1, "c1", 501L), (2, "c2", 500L),
                   (2, "c2", 501L), (3, "c3", 502L))
    val bands = (hot ++ cold).toDF("band_idx", "band_hash", "doc_id")
    val cap = 32 // m = ceil(400/32) = 13 sub-groups for the hot bucket
    val got = Dedup.boundedBandCandidates(spark, bands, cap)
      .as[(Long, Long)].collect()
    val naive = bands.select($"doc_id".as("doc_a"), $"band_idx", $"band_hash")
      .join(bands.select($"doc_id".as("doc_b"), $"band_idx", $"band_hash"),
            Seq("band_idx", "band_hash"))
      .filter($"doc_a" < $"doc_b").select("doc_a", "doc_b").distinct()
      .as[(Long, Long)].collect()
    assert(got.toSet == naive.toSet)              // exact same candidate set
    assert(got.length == got.toSet.size)          // each pair emitted once
    assert(got.toSet.contains((500L, 501L)))      // cross-band dup collapsed
    // the bound itself: no triangle block (= no single task) holds more
    // than ~2 sub-groups of rows; the naive join's single 400-row task
    // cannot occur. 4×cap absorbs hash-mod sub-group unevenness.
    val blockSizes = Dedup.bandBlocks(bands, cap)
      .groupBy("band_idx", "band_hash", "bi", "bj").count()
      .as[(Int, String, Int, Int, Long)].collect()
    val maxBlock = blockSizes.map(_._5).max
    assert(maxBlock <= 4L * cap, s"block of $maxBlock rows exceeds bound")
    assert(maxBlock < 400, "hot bucket was not split")
    // every hot-bucket pair lands in exactly one block: total pair count
    // across blocks (before distinct) == C(400,2) + cold pairs
    val hotPairs = 400L * 399 / 2
    val blockPairCount = blockSizes.map { case (_, _, bi, bj, n) => n }.sum
    assert(blockPairCount >= 400) // blocks really did replicate rows
    assert(got.count { case (a, b) => a < 400 && b < 400 } == hotPairs)
  }

  test("q61: repetition == driver-side model; planted repeats raise the fraction") {
    val got = TextAnalysis.repetition(spark, sf)
      .as[(Long, Long, Long, Long, String, Double)].collect()
      .map(r => r._1 -> r).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    docs.foreach { case (id, text) =>
      val rtext = text + (" " + text.take(40)) * (id % 4).toInt
      val toks = rtext.split(" ", -1)
      val want =
        if (toks.length < 3) (id, 0L, 0L, 0L, "", 0.0)
        else {
          val counts = toks.sliding(3).map(_.mkString(" ")).toSeq
            .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
          val top = counts.values.max
          val topSh = counts.filter(_._2 == top).keys.min
          val total = (toks.length - 2).toLong
          (id, total, counts.size.toLong, top, topSh,
            math.floor(top / total.toDouble * 1e6 + 0.5) / 1e6)
        }
      assert(got(id) == want, s"doc $id")
    }
    // the planted 3x-prefix docs must measure strictly more repetition
    // than their 0x siblings (both long enough to have shingles)
    val longIds = docs.filter(_._2.split(" ").length >= 15).map(_._1)
    val f3 = longIds.filter(_ % 4 == 3).map(got(_)._6)
    val f0 = longIds.filter(_ % 4 == 0).map(got(_)._6)
    assert(f3.nonEmpty && f0.nonEmpty &&
      f3.sum / f3.size > 1.5 * (f0.sum / f0.size),
      "planted repetition must dominate the word-salad baseline on average")
  }

  test("q62: exactly the planted domain vocabulary, two URLs per doc") {
    val rows = TextAnalysis.domainStats(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    val nDocs = Tables.documents(spark, sf).count()
    val wantDomains = ((0 until 7).map(i => s"news-$i.example.com") ++
      (0 until 3).map(i => s"cdn$i.example.org")).toSet
    assert(rows.map(_._1).toSet == wantDomains)
    assert(rows.map(_._2).sum == 2 * nDocs) // every doc planted 2 URLs
    // a doc contributes to exactly one news- and one cdn domain
    assert(rows.filter(_._1.startsWith("news-")).map(_._3).sum == nDocs)
    assert(rows.filter(_._1.startsWith("cdn")).map(_._3).sum == nDocs)
  }

  test("q63: eval-set docs score contamination 1.0 and are flagged; clean docs 0.0") {
    val got = TextAnalysis.contaminationScore(spark, sf)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    val byId = got.map(r => r._1 -> r).toMap
    // every 20th doc IS the eval set: all its shingles hit the denylist
    got.filter(r => r._1 % 20 == 0 && r._2 > 0).foreach { r =>
      assert(r._4 == 1.0 && r._5, s"eval doc ${r._1}: $r")
    }
    assert(got.length == Tables.documents(spark, sf).count())
    // contamination is a fraction and consistent with its numerator
    got.foreach { r =>
      assert(r._3 <= r._2)
      if (r._2 > 0)
        assert(r._4 == math.floor(r._3.toDouble / r._2 * 1e6 + 0.5) / 1e6)
      else assert(r._4 == 0.0 && !r._5)
    }
  }

  test("spark.graft.persist=never recomputes multi-consumer frames, result identical") {
    // minhashLsh has no ORDER BY: its contract is the row set, not an order
    val want = Dedup.minhashLsh(spark, sf).collect().toSeq.sortBy(_.toString)
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set("spark.graft.persist", "never")
    try {
      val got = Dedup.minhashLsh(spark, sf).collect().toSeq.sortBy(_.toString)
      assert(got == want)
      assert(spark.sharedState.cacheManager.isEmpty,
        "the knob must disable caching, not merely change results")
    } finally spark.conf.unset("spark.graft.persist")
  }

  test("connectedComponents: chain, triangle, and isolated vertex resolve to min-id roots") {
    val vertices = (1L to 9L).toDF("id")
    // chain 1-2-3-4, triangle 5-6-7 (+redundant edge), pair 8-9... minus 9:
    // vertex 9 isolated, 8 isolated too (no edge)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (7L, 5L))
      .toDF("src", "dst")
    val got = Dedup.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
                      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("connectedComponentsStar: 1000-node path graph converges in O(log n) rounds") {
    // the adversarial-depth case: a chain has diameter n-1, so hash-min
    // propagation needs ~n rounds; large-star/small-star must stay ≤
    // ~2·log2(n) + slack
    val n = 1000
    val vertices = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val (lab, rounds) = Dedup.connectedComponentsStar(vertices, edges)
    val got = lab.as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), "every chain vertex must root at 1")
    val bound = 2 * (math.log(n) / math.log(2)).ceil.toInt + 5
    assert(rounds <= bound, s"$rounds rounds exceeds O(log n) bound $bound")
  }

  test("connectedComponentsStar == hash-min on a seeded random graph + edge cases") {
    val rnd = new scala.util.Random(42)
    val n = 200L
    val vertices = (0L until n).toDF("id")
    // ~150 random edges: several components, some isolated vertices,
    // self-loops and duplicate edges thrown in
    val edges = (Seq.fill(150)((rnd.nextLong(n), rnd.nextLong(n))) ++
        Seq((5L, 5L), (7L, 9L), (7L, 9L), (9L, 7L)))
      .toDF("src", "dst")
    val want = Dedup.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    val (lab, _) = Dedup.connectedComponentsStar(vertices, edges)
    val got = lab.as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("freeCheckpoint finds the LogicalRDD behind a localCheckpoint (Spark-internals tripwire)") {
    // The CC loops free superseded label generations by pattern-matching
    // the Spark-internal LogicalRDD node a localCheckpoint analyzes to.
    // If a Spark upgrade changes that plan shape the free silently
    // no-ops and O(rounds) checkpoint blocks accumulate at scale — this
    // pin makes that upgrade a test failure instead of a slow leak.
    val df = (1L to 100L).toDF("id").localCheckpoint(eager = true)
    assert(Tables.freeCheckpoint(df),
      "localCheckpoint's analyzed plan no longer contains a LogicalRDD")
    // and a plain scan must NOT claim a free happened
    assert(!Tables.freeCheckpoint((1L to 3L).toDF("id")))
  }

  test("connectedComponentsStar: empty edge set roots every vertex at itself") {
    val vertices = (1L to 5L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (lab, rounds) = Dedup.connectedComponentsStar(vertices, edges)
    assert(lab.as[(Long, Long)].collect().toMap == (1L to 5L).map(i => i -> i).toMap)
    assert(rounds == 0)
  }

  test("q41: every planted twin shares a component with its source doc") {
    val comp = Dedup.dupComponents(spark, sf)
      .select("doc_id", "keep_doc_id").as[(Long, Long)].collect().toMap
    val longDocs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
      .filter(_._2.split(" ").length >= 10).map(_._1)
    longDocs.foreach { id =>
      assert(comp(id) == comp(id + 10000), s"doc $id and twin in different components")
    }
  }

  test("q26: matches brute-force exact top-20 computed in the driver") {
    val got = Similarity.cosineTopK(spark, sf)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toSeq
    val q = embs(0L)
    val want = embs.toSeq.filter(_._1 != 0L)
      .map { case (id, e) => (id, cos(e, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(20)
      .map { case (id, c) => (id, math.floor(c * 1000000.0 + 0.5) / 1000000.0) }
    assert(got == want)
  }

  test("q26: cosine to self is 1.0") {
    val emb = Tables.embeddings(spark, sf).limit(3)
    val self = emb.selectExpr("vec_id",
      """round(aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)),
        |cast(0 as double), (acc, v) -> acc + v) /
        |(sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)),
        |cast(0 as double), (acc, v) -> acc + v)) *
        |sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)),
        |cast(0 as double), (acc, v) -> acc + v))), 9) as c""".stripMargin.replace("\n", " "))
      .collect().map(_.getDouble(1))
    assert(self.forall(_ == 1.0))
  }

  test("q27: ANN == exact top-5 restricted to the query's LSH bucket") {
    val ann = Similarity.annLsh(spark, sf)
      .select("q_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val buckets = Similarity.withLsh(spark, sf)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    for (q <- 0L until 10L) {
      val want = buckets.keys.toSeq
        .filter(v => v != q && buckets(v) == buckets(q))
        .map(v => (v, cos(embs(v), embs(q))))
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      assert(ann.getOrElse(q, Seq.empty) == want, s"query $q")
    }
  }

  test("q82: multi-probe ANN == exact top-5 restricted to Hamming-<=1 buckets") {
    val ann = Similarity.annMultiProbe(spark, sf)
      .select("q_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val buckets = Similarity.withLsh(spark, sf)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    for (q <- 0L until 10L) {
      val want = buckets.keys.toSeq
        .filter(v => v != q &&
          java.lang.Long.bitCount(buckets(v) ^ buckets(q)) <= 1)
        .map(v => (v, cos(embs(v), embs(q))))
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      assert(ann.getOrElse(q, Seq.empty) == want, s"query $q")
    }
  }

  test("q83: multi-probe recall dominates single-probe recall (the dial moves one way)") {
    // same exact ground truth, strictly larger candidate set: recall can
    // only stay equal or rise, and max_missed_cos can only fall
    val one = Similarity.annAudit(spark, sf)
      .select("recall_at_5", "max_missed_cos").collect().head
    val multi = Similarity.annMultiProbeAudit(spark, sf)
      .select("recall_at_5", "max_missed_cos").collect().head
    assert(multi.getDouble(0) >= one.getDouble(0),
      s"multi-probe recall ${multi.getDouble(0)} < single ${one.getDouble(0)}")
    assert(multi.getDouble(1) <= one.getDouble(1),
      s"multi-probe max-missed ${multi.getDouble(1)} > single ${one.getDouble(1)}")
  }

  test("q85: fuzzy decontamination drops every shingled deny doc and catches mutated twins") {
    val rows = Dedup.fuzzyDecontaminate(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val nDeny = docs.filter("doc_id % 20 = 0 and size(split(text, ' ')) >= 3").count()
    val (nb, db, kb) = rows("base")
    val (nt, dt, kt) = rows("twin")
    assert(nb == n && nt == n && db + kb == nb && dt + kt == nt)
    // a deny doc always matches itself at Jaccard 1.0 — the exact-rule floor
    assert(db >= nDeny, s"base drops $db < shingled deny count $nDeny")
    // the fuzzy-only catch: lightly-edited twins of deny docs must drop
    // even though their exact fingerprints differ
    assert(dt > 0, "the fuzzy chain must catch mutated twins the exact rule cannot")
  }

  test("q121: semantic decontamination separates clean/exact/twin slices with a wide margin") {
    val rows = Similarity.semDecontaminate(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val nVec = Tables.embeddings(spark, sf).count()
    val nDeny = Tables.embeddings(spark, sf).filter("vec_id % 20 = 0").count()
    val (nc, dc, _, _, maxClean) = rows("clean")
    val (ne, de, ke, minExact, _) = rows("exact")
    val (nt, dt, kt, minTwin, _) = rows("twin")
    assert(nc == nVec - nDeny && ne == nDeny && nt == nDeny)
    // every exact benchmark member self-matches at cosine 1.0
    assert(de == ne && ke == 0 && minExact >= 0.999999)
    // the semantic-only catch: every planted paraphrase twin drops even
    // though its text/exact fingerprint differs from the benchmark's
    assert(dt == nt && kt == 0, "a paraphrase twin escaped the semantic screen")
    // clean rows never drop, and the margin is wide — not a knife edge
    assert(dc == 0, "a clean row was dropped")
    assert(maxClean < 0.9 && minTwin > 0.99,
      s"separation margin too narrow: clean max $maxClean vs twin min $minTwin")
  }

  test("q122: margin mining returns planted translation pairs and nothing else") {
    val mined = Similarity.bitextMine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(mined.length >= 40, s"mined only ${mined.length} pairs")
    mined.foreach { case (src, tgt, cos, margin) =>
      // at fixture scale every pair clearing the margin bar IS a planted
      // translation twin — organic mutual-best pairs top out at ~0.36
      assert(tgt == src + 10001, s"organic pair ($src,$tgt) cleared the margin bar")
      assert(src % 10 == 0, s"source $src is not a planted-translation source")
      assert(cos > 0.99 && margin >= 0.45, s"pair ($src,$tgt): cos=$cos margin=$margin")
    }
    // bucket-locality is the only recall loss: every planted twin whose
    // bucket survived the perturbation must be mined
    val sameBucket = Similarity.plantedSameBucketCount(spark, sf)
    assert(mined.length == sameBucket,
      s"mined ${mined.length} != same-bucket planted count $sameBucket")
  }

  test("q123: density pruning flags exactly the fully-co-bucketed planted clumps") {
    val pruned = Similarity.knnDensityPrune(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(pruned.length >= 150, s"flagged only ${pruned.length} vectors")
    pruned.foreach { case (id, den) =>
      val src =
        if (id > 300000) id - 300001
        else if (id > 200000) id - 200001
        else if (id > 100000) id - 100001
        else id
      assert(src % 10 == 0 && (id > 100000 || id % 10 == 0),
        s"organic vector $id flagged as redundant")
      assert(den >= 0.95 && den <= 1.0, s"vector $id density $den out of range")
    }
    // independent model: a member's top-3 can be its 3 siblings (cos
    // ~0.9997+, vs organic <= 0.52) iff ALL FOUR clump members share one
    // LSH bucket — computed by per-clump bucket grouping, no kNN
    // machinery involved
    import org.apache.spark.sql.functions._
    val base = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
      .filter(col("vec_id") % 10 === 0)
    def slice(off: Long, m: Int) = base.selectExpr("vec_id as src",
      s"vec_id + ${off}L as vec_id",
      s"graft_lsh_bucket(zip_with(e, sequence(0, 63), (x, i) -> x + 0.001 * cast(i % $m as double))) as bucket")
    val members = base.selectExpr("vec_id as src", "vec_id", "graft_lsh_bucket(e) as bucket")
      .unionAll(slice(100001L, 3)).unionAll(slice(200001L, 5)).unionAll(slice(300001L, 7))
    val expected = members.groupBy("src")
      .agg(countDistinct("bucket").as("nb"), collect_list("vec_id").as("ids"))
      .filter(col("nb") === 1)
      .selectExpr("explode(ids) as vec_id").collect().map(_.getLong(0)).toSet
    assert(pruned.map(_._1).toSet == expected,
      s"flagged set (${pruned.length}) != co-bucketed clump members (${expected.size})")
  }

  test("q124: centroid-distance pruning flags all planted noise and no organic rows") {
    val flagged = Similarity.centroidOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    // expected = EXACTLY the x3-scaled planted rows: every one sits 5x+
    // beyond its cluster's mean squared distance while concentration of
    // measure keeps every organic 64-dim vector under the 1.5x bar
    val expected = Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 20 === 0)
      .selectExpr("vec_id + 400001 as vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(flagged.map(_._1).toSet == expected,
      s"flagged ${flagged.length} rows != ${expected.size} planted noise rows")
    flagged.foreach { case (id, ratio) =>
      assert(ratio >= 1.5, s"flagged $id with ratio $ratio under the bar")
    }
  }

  test("q124 online: centroidOutlierVerdict flags exactly the batch flagged set") {
    val (cells, stats) = Similarity.fitOutlierScreen(spark, sf)
    assert(stats.values.map(_._1).sum > 0 && cells.nonEmpty)
    // the screened corpus (base + planted noise), as the online leg sees it
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val planted = Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 20 === 0)
      .selectExpr("vec_id + 400001 as vec_id",
        "transform(embedding, x -> cast(cast(x as double) * 3.0D as float)) as embedding")
    val online = Similarity.centroidOutlierVerdict(base.unionByName(planted), cells, stats)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    val flaggedOnline = online.filter(_._4).map(_._1).toSet
    val batch = Similarity.centroidOutliers(spark, sf).collect().map(_.getLong(0)).toSet
    assert(flaggedOnline == batch,
      s"online flagged ${flaggedOnline.size} != batch flagged ${batch.size}")
    assert(online.length == online.map(_._1).distinct.length)
  }

  test("q125: modeled encoder update flags drift; the unperturbed control is an exact null") {
    val drifted = Similarity.embeddingDrift(spark, sf).collect()
    assert(drifted.length == 10, s"expected one row per cell, got ${drifted.length}")
    val psi = drifted.head.getDouble(4)
    assert(drifted.forall(_.getDouble(4) == psi), "psi must repeat identically per cell")
    assert(psi >= 0.2 && drifted.forall(_.getBoolean(5)), s"modeled update must flag (psi=$psi)")
    // micro-exact bookkeeping: the per-cell terms sum to psi exactly
    val termSum = drifted.map(r => math.round(r.getDouble(3) * 1e6)).sum
    assert(termSum == math.round(psi * 1e6), "terms do not sum to psi")
    // conservation: both populations carry the full corpus
    assert(drifted.map(_.getLong(1)).sum == drifted.map(_.getLong(2)).sum)
    // the honest null (q94's stationary-stream discipline): an identical
    // re-embed gives ln(1) = 0 in every cell — PSI exactly zero
    val nullRun = Similarity.embeddingDrift(spark, sf, perturb = false).collect()
    assert(nullRun.length == 10)
    nullRun.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), "null control moved a cell count")
      assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0 && !r.getBoolean(5))
    }
  }

  test("q126: stored compressed-index probe == inline; verdicts match the exact q119 index") {
    val path = Similarity.pqIndexPathFor(sf) + "-spec"
    Similarity.buildPqIndex(spark, sf, path)
    val stored = Similarity.pqIndexProbeStored(spark, sf, path).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    val inline = Similarity.pqIndexProbeInline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(stored.toSet == inline.toSet, "stored probe != inline probe")
    assert(stored.nonEmpty)
    // cross-index consistency: the compressed probe must reach the SAME
    // duplicate verdicts as q119's exact (raw-vector) standing index,
    // and agree on the matched neighbour + exact cosine for every dup —
    // compression changes the shortlist mechanics, not the verdict
    val exact = Similarity.incrementalAnnInline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    val exactById = exact.map(t => t._1 -> t).toMap
    assert(stored.map(_._1).toSet == exact.map(_._1).toSet)
    stored.foreach { case (dv, _, nn, cos, dup) =>
      val (_, enn, ecos, edup) = exactById(dv)
      assert(dup == edup, s"delta $dv: compressed verdict $dup != exact verdict $edup")
      if (dup) assert(nn == enn && cos == ecos,
        s"delta $dv: dup matched ($nn, $cos) vs exact ($enn, $ecos)")
    }
    // the q119 jitter contract holds through compression: every jittered
    // twin lands on its original
    stored.filter(t => t._1 < 200000L).foreach { case (dv, _, nn, _, dup) =>
      assert(dup && nn == dv - 100000L, s"jitter twin $dv missed its original")
    }
    stored.filter(_._1 >= 200000L).foreach { case (dv, _, _, _, dup) =>
      assert(!dup, s"reversed newcomer $dv flagged as duplicate")
    }
  }

  test("q127: MaxSim ranks the planted doc copy first with near-maximal score") {
    val top = Similarity.maxSimRetrieval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 10)
    val (bestDoc, bestScore) = top.head
    assert(bestDoc == 100000L, s"planted copy not rank 1 (got doc $bestDoc)")
    // a perturbed copy's 8 per-query maxes are each ~0.9997+ against its
    // own twin vector; organic docs top out far below (random 64-dim)
    assert(bestScore >= 7.9, s"planted score $bestScore below the 8-token ceiling")
    val organicMax = top.tail.map(_._2).max
    assert(organicMax < 4.0, s"organic MaxSim $organicMax suspiciously high")
    // scores are sums of per-query maxes: bounded by |Q| and descending
    assert(top.forall(_._2 <= 8.000001))
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("q128: MRL audit — planted anchor heads both rankings, overlap non-decreasing in k") {
    val rows = Similarity.mrlAudit(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(5, 10, 20))
    // the exact copy (cos = 1 in BOTH spaces) anchors rank 1 of both
    // rankings — overlap is structurally >= 1 at every k
    rows.foreach { case (k, ov, rc) =>
      assert(ov >= 1 && ov <= k, s"k=$k overlap $ov out of range")
      assert(math.abs(rc - math.floor(ov.toDouble * 1e6 / k + 0.5) / 1e6) == 0.0)
    }
    // nested top-k sets make overlap non-decreasing in k
    assert(rows.map(_._2).sliding(2).forall(p => p.head <= p.last),
      s"overlap not monotone: ${rows.map(_._2).mkString(",")}")
  }

  test("q129: BM25 top-10 is positive, descending, and every hit contains a query term") {
    val top = TextAnalysis.bm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 10)
    assert(top.forall(_._2 > 0.0))
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last), "scores not descending")
    // recompute the corpus-derived query terms with the same rule and
    // assert retrieval sanity: a BM25 hit must contain >= 1 query term
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val n = Tables.documents(spark, sf).count()
    val qterms = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") * 10 <= n * 9)
      .orderBy(col("df").desc, col("term")).limit(3)
      .collect().map(_.getString(0)).toSet
    assert(qterms.size == 3)
    val hitIds = top.map(_._1).toSet
    val hitsWithTerm = toks.filter(col("doc_id").isin(hitIds.toSeq: _*))
      .filter(col("term").isin(qterms.toSeq: _*))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(hitsWithTerm == hitIds,
      s"docs ${hitIds -- hitsWithTerm} ranked without containing any query term")
  }

  test("q130: RRF fusion — multi-list consensus outranks any single-list candidate") {
    val top = Similarity.rrfFusion(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top.length == 10)
    assert(top.forall(t => t._2 >= 1 && t._2 <= 3))
    assert(top.map(_._3).sliding(2).forall(p => p.head >= p.last), "rrf not descending")
    // the RRF property the fold exists for: any candidate in >= 2 lists
    // beats every single-list candidate (2/80 > 1/61 at k = 60, top-20
    // lists), so the consensus block sits strictly above the singles
    val (multi, single) = top.partition(_._2 >= 2)
    if (multi.nonEmpty && single.nonEmpty)
      assert(multi.map(_._3).min > single.map(_._3).max,
        "a single-list candidate outranked a consensus candidate")
    // score ceiling: 3 lists x rank 1 = 3/61
    assert(top.forall(_._3 <= math.floor(1e6 / 61 + 0.5) * 3 / 1e6 + 1e-9))
  }

  test("pqCellsLocal (driver-built literal codebook) == pqCellsOf (distributed agg), bit-identical (r15)") {
    // the r15 PQ fit-ladder fusion swaps the per-rung agg→broadcast
    // chain for a driver-rebuilt literal relation — this pin is what
    // makes that swap a pure job-count optimization: same cells order
    // (sort_array struct order ≡ (s, cid) — unique), same cc fold
    val rows = Array(
      (1, 0, Array(0.25, -1.5, 3.0)),
      (0, 1, Array(2.0, 0.125, -0.75)),
      (0, 0, Array(-1.0, 1.0 / 3.0, 7.5)),
      (3, 2, Array(0.1, 0.2, 0.3))) // 0.1+0.2+0.3: inexact doubles on purpose
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val dist = Similarity.pqCellsOf(rows.toSeq.toDF("s", "cid", "c")).collect()(0)
    val local = Similarity.pqCellsLocal(spark, rows).collect()(0)
    def canon(r: org.apache.spark.sql.Row) = {
      def cell(x: org.apache.spark.sql.Row) =
        (x.getInt(0), x.getInt(1), x.getSeq[Double](2).toList,
         java.lang.Double.doubleToLongBits(x.getDouble(3)))
      (r.getSeq[org.apache.spark.sql.Row](0).map(cell).toList,
       r.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](1)
         .map(_.map(cell).toList).toList)
    }
    assert(canon(dist) == canon(local), "driver-built codebook != distributed agg")
  }

  test("kmCellsLocal (driver-built literal codebook) == kmCellsOf (distributed agg), bit-identical (r21)") {
    // the r21 kmeans fit-ladder fusion (the r15 PQ discipline applied to
    // the q84/q88/q124/q125 family): per Lloyd rung the k centroids are
    // collected and rebuilt as a literal relation — this pin is what
    // makes that swap a pure job-count optimization: same cells order
    // (sort_array struct order ≡ cid — unique), same cc fold
    val rows = Array(
      (2, Array(0.25, -1.5, 3.0)),
      (0, Array(2.0, 0.125, -0.75)),
      (1, Array(0.1, 0.2, 0.3)), // 0.1+0.2+0.3: inexact doubles on purpose
      (3, Array(-1.0, 1.0 / 3.0, 7.5)))
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val dist = Similarity.kmCellsOf(rows.toSeq.toDF("cid", "c")).collect()(0)
    val local = Similarity.kmCellsLocal(spark, rows).collect()(0)
    def canon(r: org.apache.spark.sql.Row) = {
      def cell(x: org.apache.spark.sql.Row) =
        (x.getInt(0), x.getSeq[Double](1).toList,
         java.lang.Double.doubleToLongBits(x.getDouble(2)))
      r.getSeq[org.apache.spark.sql.Row](0).map(cell).toList
    }
    assert(canon(dist) == canon(local), "driver-built km codebook != distributed agg")
  }

  test("coarseCellsLit (driver-built literal coarse codebook) == agg(sort_array(collect_list)) form, bit-identical (r21)") {
    // the r21 IVF-chain fusion: the (c_label, centroid) coarse frame is
    // collected ONCE per query and rebuilt as literal relations where
    // the plan used to embed the centroidsByLabel agg→broadcast subtree
    // 2-3 times — this pin makes the swap a pure job-count optimization
    val rows = Array(
      (3, Array(0.25, -1.5, 3.0)),
      (0, Array(2.0, 0.125, -0.75)),
      (1, Array(0.1, 0.2, 0.3)),
      (2, Array(-1.0, 1.0 / 3.0, 7.5)))
    import spark.implicits._
    val dist = rows.toSeq.toDF("c_label", "centroid")
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("c_label"),
            org.apache.spark.sql.functions.col("centroid")))).as("cells"))
      .collect()(0)
    val local = Similarity.coarseCellsLit(spark, rows, "cells").collect()(0)
    def canon(r: org.apache.spark.sql.Row) =
      r.getSeq[org.apache.spark.sql.Row](0).map(x =>
        (x.getInt(0), x.getSeq[Double](1).toList
          .map(java.lang.Double.doubleToLongBits))).toList
    assert(canon(dist) == canon(local), "driver-built coarse codebook != distributed agg")
    // the k-row twin carries exactly the collected rows, label-sorted
    val frame = Similarity.coarseFrameLit(spark, rows, "c_label").collect()
    assert(frame.map(x => (x.getInt(0), x.getSeq[Double](1).toList)).toList ==
      rows.sortBy(_._1).map { case (l, c) => (l, c.toList) }.toList)
  }

  test("q107 decode leg: genuine PNGs decode via javax.imageio; twin recall + exact luma pin; stub fallback (r15)") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, f: Int => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(y * w + x) & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // exact luma pin: a gray pixel (v,v,v) has BT.601 luma
    // (299+587+114)·v/1000 = v exactly — the decoded plane must equal
    // the constructed pixel values sample for sample
    val ramp = png(9, 8, i => i * 3 % 256)
    val luma = MediaOps.decodePngLuma(ramp).get
    assert(luma.length == 72 && luma.sameElements((0 until 72).map(_ * 3 % 256)),
      "decoded luma plane != constructed gray values")
    // non-PNG payloads take the stub leg (signature gate, no reader probe)
    assert(MediaOps.decodePngLuma("definitely not a png".getBytes("UTF-8")).isEmpty)
    assert(MediaOps.lumaPlane(Array[Byte](65, 66, 67)).sameElements(Array(65, 66, 67)))
    // end-to-end through the REAL kernel: a corpus of genuine PNGs
    // (two distinct 24×24 images) runs the decode→dhash→twin pass; the
    // planted re-encode twin must land within the Hamming-6 bar of its
    // base, and distinct images must stay far apart
    val imgs = Seq(
      1L -> png(24, 24, i => (i * 7) % 256),
      2L -> png(24, 24, i => 255 - (i * 13) % 256))
    val corpus = imgs.toDF("doc_id", "media")
      .selectExpr("doc_id", "'image/png' as mime", "media")
    val hashes = MediaOps.corpusHashes(MediaOps.Image, corpus).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(hashes.keySet == Set(1L, 2L, 10001L, 10002L))
    def ham(a: Array[Int], b: Array[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    assert(ham(hashes(1L), hashes(10001L)) <= 6, "re-encode twin escaped the bar")
    assert(ham(hashes(2L), hashes(10002L)) <= 6, "re-encode twin escaped the bar")
    assert(ham(hashes(1L), hashes(2L)) > 6, "distinct images collided")
  }

  // one 16-bit little-endian mono PCM WAVE container (the
  // AudioSystem-round-trip discipline of the PNG spec)
  private def wav16(samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      data(2 * i) = samples(i).toByte
      data(2 * i + 1) = (samples(i) >> 8).toByte
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong),
      AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  // a deterministic "real-ish" PCM stream: two incommensurate tones +
  // integer pseudo-noise — genuine energy structure for the
  // Haitsma–Kalker kernel, distinct per seed
  private def tone(seed: Int, n: Int = 4000): Array[Short] = Array.tabulate(n) { i =>
    val b = math.sin(i * (0.031 + 0.007 * seed)) * 2800 +
      math.sin(i * 0.0049 * (seed + 3)) * 1400
    (b + ((i * 2654435761L + seed * 40503L) % 997L - 498L) / 2).toShort
  }

  test("q113 decode leg: genuine WAVs decode via javax.sound.sampled; twin recall + exact sample pin; stub fallback (r17)") {
    import javax.sound.sampled._
    // exact sample pin: decode must reproduce the constructed PCM stream
    val src = Array.tabulate(400)(i => ((i * 37) % 1201 - 600).toShort)
    val dec = MediaOps.decodeWavSamples(wav16(src)).get
    assert(dec.length == 400 && dec.sameElements(src.map(_.toInt)),
      "decoded sample stream != constructed PCM values")
    // 8-bit unsigned leg centers at 128
    val src8 = Array.tabulate(200)(i => (i * 11) % 256)
    val fmt8 = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
      8000f, 8, 1, 1, 8000f, false)
    val bos8 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(src8.map(_.toByte)), fmt8, src8.length.toLong),
      AudioFileFormat.Type.WAVE, bos8)
    val dec8 = MediaOps.decodeWavSamples(bos8.toByteArray).get
    assert(dec8.sameElements(src8.map(_ - 128)), "8-bit leg must center at 128")
    // non-WAV payloads take the stub leg (signature gate, no reader probe)
    assert(MediaOps.decodeWavSamples("definitely not audio".getBytes("UTF-8")).isEmpty)
    assert(MediaOps.samplePlane(Array[Byte](65, 66, 67)).sameElements(Array(-63, -62, -61)))
    // corrupt payload: genuine RIFF/WAVE signature, truncated stream →
    // stub fallback, never a task kill (the Z2 discipline)
    assert(MediaOps.decodeWavSamples(wav16(src).take(50)).isEmpty)
    // end-to-end through the REAL kernel: genuine WAVs run the
    // decode→fingerprint→twin pass; the planted re-encode twin must land
    // within the Hamming-6 bar of its base, distinct audio stays apart
    val auds = Seq(1L -> wav16(tone(1)), 2L -> wav16(tone(2)))
    val corpus = auds.toDF("doc_id", "media")
      .selectExpr("doc_id", "'audio/wav' as mime", "media")
    val fps = MediaOps.corpusHashes(MediaOps.Audio, corpus).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(fps.keySet == Set(1L, 2L, 10001L, 10002L))
    def ham(a: Array[Int], b: Array[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    assert(ham(fps(1L), fps(10001L)) <= 6, "re-encode twin escaped the bar")
    assert(ham(fps(2L), fps(10002L)) <= 6, "re-encode twin escaped the bar")
    assert(ham(fps(1L), fps(2L)) > 6, "distinct audio collided")
  }

  test("q111 decode leg: genuine animated GIFs decode frame-by-frame via javax.imageio; twin recall + exact luma pin; stub fallback (r17)") {
    import java.awt.image.BufferedImage
    def grayFrame(w: Int, h: Int, f: Int => Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(y * w + x) & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def gif(frames: Seq[BufferedImage]): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(img => writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null))
      writer.endWriteSequence()
      ios.close()
      writer.dispose()
      bos.toByteArray
    }
    // exact luma pin: gray (v,v,v) pixels decode to luma v, per frame —
    // GIF is palette-coded but round-trips an exact gray staircase
    val fr = (0 until 4).map(k => grayFrame(16, 9, i => (i * 7 + k * 40) % 250))
    val planes = MediaOps.decodeGifFrames(gif(fr)).get
    assert(planes.length == 4, s"frame count: ${planes.length}")
    (0 until 4).foreach { k =>
      assert(planes(k).sameElements((0 until 144).map(i => (i * 7 + k * 40) % 250)),
        s"frame $k luma != constructed gray values")
    }
    // frame sampling: first / middle / last decoded frame
    val sampled = MediaOps.videoFramePlanes(gif(fr))
    assert(sampled.map(_.toSeq) ==
      Seq(planes(0).toSeq, planes(2).toSeq, planes(3).toSeq))
    // non-GIF payloads take the stub leg (signature gate, no reader
    // probe): byte-stride thirds
    val stub = MediaOps.videoFramePlanes(Array.tabulate(300)(i => i.toByte))
    assert(stub.length == 3 && stub.forall(_.length == 100) &&
      stub(1)(0) == 100, "stub leg must keep byte-stride thirds")
    // corrupt payload: genuine GIF signature, truncated stream → stub
    // fallback, never a task kill
    assert(MediaOps.decodeGifFrames(gif(fr).take(40)).isEmpty)
    // end-to-end through the REAL kernel: genuine animated GIFs run
    // decode→frame-sample→dhash→twin; the re-encode twin must match on
    // >= 2 of 3 aligned frames, distinct videos stay apart
    def vid(seed: Int): Array[Byte] = gif((0 until 5).map { k =>
      grayFrame(24, 24, i => (math.sin(i * (0.07 + 0.011 * seed) + k) * 100 +
        ((i * 13 + k * 29 + seed * 71) % 37) + 120).toInt.max(0).min(255))
    })
    val corpus = Seq(1L -> vid(1), 2L -> vid(2)).toDF("doc_id", "media")
      .selectExpr("doc_id", "'video/gif' as mime", "media")
    val hashes = MediaOps.corpusHashes(MediaOps.Video, corpus).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(hashes.keySet == Set(1L, 2L, 10001L, 10002L))
    def matchedFrames(a: Array[Int], b: Array[Int]): Int =
      (0 until 3).count(f => (0 until 4).map(k =>
        Integer.bitCount(a(f * 4 + k) ^ b(f * 4 + k))).sum <= 6)
    assert(matchedFrames(hashes(1L), hashes(10001L)) >= 2, "GIF twin escaped")
    assert(matchedFrames(hashes(2L), hashes(10002L)) >= 2, "GIF twin escaped")
    assert(matchedFrames(hashes(1L), hashes(2L)) < 2, "distinct GIFs collided")
  }

  test("adaptive band widths: planted-twin recall at EVERY dial width on genuine decoded payloads (r17, verdict #1)") {
    import java.awt.image.BufferedImage
    // genuine payloads are THOUSANDS of samples (the fine grid's design
    // premise): 64×64 PNGs (4096 luma samples) and 4000-sample WAVs
    def png(seed: Int): Array[Byte] = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = (math.sin(x * (0.11 + 0.013 * seed)) * 90 +
          math.sin(y * 0.07 * (seed % 5 + 1)) * 70 +
          ((x * 31 + y * 17 + seed * 97) % 41) + 128).toInt.max(0).min(255)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def recallAt(hashes: org.apache.spark.sql.DataFrame, width: Int): (Long, Long) = {
      val rows = hashes.selectExpr("doc_id", "bk").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).map(_.take(width)))
        .toMap
      val bases = rows.keys.filter(_ < 10000L).toSeq
      val hit = bases.count(id => rows.get(id + 10000L).exists(t =>
        rows(id).zip(t).exists { case (a, b) => a == b }))
      (hit.toLong, bases.length.toLong)
    }
    val imgCorpus = (1 to 24).map(i => i.toLong -> png(i)).toDF("doc_id", "media")
      .selectExpr("doc_id", "'image/png' as mime", "media")
    val ih = MediaOps.corpusHashes(MediaOps.Image, imgCorpus).transform(Tables.maybePersist)
    val audCorpus = (1 to 24).map(i => i.toLong -> wav16(tone(i))).toDF("doc_id", "media")
      .selectExpr("doc_id", "'audio/wav' as mime", "media")
    val ah = MediaOps.corpusHashes(MediaOps.Audio, audCorpus).transform(Tables.maybePersist)
    MediaOps.BandWidths.foreach { w =>
      val (ihit, itot) = recallAt(ih, w)
      assert(itot == 24L)
      assert(ihit == itot, s"image twin recall at width $w: $ihit/$itot")
      val (ahit, atot) = recallAt(ah, w)
      assert(atot == 24L)
      assert(ahit == atot, s"audio twin recall at width $w: $ahit/$atot")
    }
  }

  test("q136: standing media index — width stat persisted with the artifact, probe verdicts, re-probe fixed point (r17)") {
    val path = java.nio.file.Files.createTempDirectory("graft-q136-spec").toString
    val nBands = MediaOps.buildMediaIndex(spark, sf, path)
    val nIdx = spark.read.parquet(s"$path/vecs").count()
    assert(nBands == nIdx * 4, s"band rows $nBands != 4 * $nIdx")
    // the dial is priced at BUILD time and persisted WITH the index
    val w = spark.read.parquet(s"$path/stat").head().getInt(0)
    assert(MediaOps.BandWidths.contains(w), s"stored width $w")
    // stored keys are FULL width — the artifact is width-agnostic (a
    // re-dial never rewrites it, probes cut prefixes at read time)
    val lens = spark.read.parquet(s"$path/bands")
      .selectExpr("min(length(band_hash)) as lo", "max(length(band_hash)) as hi")
      .head()
    assert(lens.getInt(0) == 80 && lens.getInt(1) == 80, s"key lengths $lens")
    val probe = MediaOps.mediaIndexProbeStored(spark, sf, path)
      .orderBy("delta_id").collect()
    assert(probe.nonEmpty, "empty delta batch")
    // every delta is a re-encode of an ADMITTED doc: none may be
    // admitted as new, and the best match sits within the exact bar
    probe.foreach { r =>
      assert(!r.getBoolean(3), s"delta ${r.getLong(0)} admitted as new")
      assert(r.getLong(1) >= 1 && r.getLong(2) <= 6,
        s"delta ${r.getLong(0)}: n=${r.getLong(1)} ham=${r.getLong(2)}")
    }
    // delta population: exactly the %5==2 pngs, at +40000
    val expect = MediaOps.mediaCorpus(spark, sf)
      .filter("mime = 'image/png' and length(media) >= 72 and doc_id % 5 = 2")
      .select((col("doc_id") + 40000L).as("id")).as[Long].collect().sorted.toSeq
    assert(probe.map(_.getLong(0)).toSeq == expect)
    // fixed point: a second probe reads the same artifact unchanged
    val again = MediaOps.mediaIndexProbeStored(spark, sf, path)
      .orderBy("delta_id").collect()
    assert(probe.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("q138: the audio-grain standing index shares the artifact layout, probe machinery, and forget lifecycle (r17)") {
    val path = java.nio.file.Files.createTempDirectory("graft-q138-spec").toString
    val nBands = MediaOps.buildAudioIndex(spark, sf, path)
    val nIdx = spark.read.parquet(s"$path/vecs").count()
    assert(nBands == nIdx * 4 && nIdx > 0)
    assert(MediaOps.BandWidths.contains(
      spark.read.parquet(s"$path/stat").head().getInt(0)))
    val probe = MediaOps.audioIndexProbeStored(spark, sf, path)
      .orderBy("delta_id").collect()
    assert(probe.nonEmpty)
    probe.foreach { r =>
      assert(!r.getBoolean(3) && r.getLong(1) >= 1 && r.getLong(2) <= 6,
        s"audio delta ${r.getLong(0)}: n=${r.getLong(1)} ham=${r.getLong(2)}")
    }
    // the forget lifecycle is family-agnostic (id-level tombstones):
    // take down one indexed id, the probe's matches against it vanish
    // immediately, compaction makes it physical
    val victim = probe.head.getLong(0) - 40000L // the first delta's source
    MediaOps.forgetMediaFromIndex(
      Seq(victim).toDF("doc_id"), path)
    val after = MediaOps.audioIndexProbeStored(spark, sf, path)
      .filter(col("delta_id") === victim + 40000L).head()
    assert(after.getLong(1) < probe.head.getLong(1),
      "takedown did not reduce the victim delta's match count")
    MediaOps.compactMediaIndex(spark, path)
    val live = IndexLifecycle.resolveIndexRoot(spark, path)
    assert(spark.read.parquet(s"$live/vecs")
      .filter(col("doc_id") === victim).count() == 0)
    assert(spark.read.parquet(s"$live/vecs").count() == nIdx - 1)
  }

  test("a payload batch signed as another modality than the index's stat records is refused, not admitted") {
    val path = java.nio.file.Files.createTempDirectory("graft-modality").toString
    MediaOps.buildAudioIndex(spark, sf, path)
    val vecs0 = spark.read.parquet(s"$path/vecs").count()
    val batch = Seq((960001L, Array.tabulate(200)(i => ((i * 53 + i * i * 17 + 3) % 251).toByte)))
      .toDF("doc_id", "media")
    val e = intercept[IllegalArgumentException](MediaOps.mergeMediaBatchIntoIndex(batch, path))
    assert(e.getMessage.contains("image batch cannot merge into the audio index"), e.getMessage)
    assert(spark.read.parquet(s"$path/vecs").count() == vecs0, "the refused batch reached the index")
    assert(MediaOps.mergeMediaBatchIntoIndex(batch, path, MediaOps.Audio) == ((1L, 0L)))
  }

  test("q139: the video-grain standing index — 12-band layout, frame-aligned verify, forget lifecycle (r17)") {
    val path = java.nio.file.Files.createTempDirectory("graft-q139-spec").toString
    val nBands = MediaOps.buildVideoIndex(spark, sf, path)
    val nIdx = spark.read.parquet(s"$path/vecs").count()
    assert(nBands == nIdx * 12 && nIdx > 0, s"video band rows $nBands vs $nIdx docs")
    assert(MediaOps.BandWidths.contains(
      spark.read.parquet(s"$path/stat").head().getInt(0)))
    val probe = MediaOps.videoIndexProbeStored(spark, sf, path)
      .orderBy("delta_id").collect()
    assert(probe.nonEmpty)
    // each delta re-encode matches exactly its source and the source's
    // twin, with ALL THREE aligned frames inside the bar
    probe.foreach { r =>
      assert(!r.getBoolean(3) && r.getLong(1) == 2 && r.getLong(2) == 3,
        s"video delta ${r.getLong(0)}: n=${r.getLong(1)} frames=${r.getLong(2)}")
    }
    // family-agnostic forget at video grain
    val victim = probe.head.getLong(0) - 40000L
    MediaOps.forgetMediaFromIndex(Seq(victim).toDF("doc_id"), path)
    val after = MediaOps.videoIndexProbeStored(spark, sf, path)
      .filter(col("delta_id") === victim + 40000L).head()
    assert(after.getLong(1) == 1, "takedown did not remove the victim match")
    MediaOps.compactMediaIndex(spark, path)
    assert(spark.read.parquet(
      s"${IndexLifecycle.resolveIndexRoot(spark, path)}/bands").count() == (nIdx - 1) * 12)
  }

  test("q132: the standing-lexical-index probe == the from-scratch q129, bit-identical (r15)") {
    // the index is LOSSLESS (postings = the exact tf frame, dictionary
    // = the exact df frame), and the probe reuses bm25Score verbatim —
    // so stored and inline rankings must agree to the last micro
    val path = TextAnalysis.lexIndexPathFor(sf) + "-equiv"
    val n = TextAnalysis.buildLexIndex(spark, sf, path)
    assert(n > 0)
    val stored = TextAnalysis.lexIndexProbeStored(spark, sf, path).collect()
      .map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
    val inline = TextAnalysis.bm25(spark, sf).collect()
      .map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
    assert(stored.toSeq == inline.toSeq, "stored probe != from-scratch ranking")
  }

  test("q131: hybrid BM25+vector RRF — both heads represented; cross-modal consensus dominates (r15)") {
    val top = Similarity.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top.length == 10)
    assert(top.forall(t => t._2 >= 1 && t._2 <= 2))
    assert(top.map(_._3).sliding(2).forall(p => p.head >= p.last), "rrf not descending")
    // both modalities must actually reach the fused list: with two
    // depth-10 heads and a top-10 fusion, every head contributes unless
    // the other fully dominates — which the consensus rule forbids for
    // disjoint heads (all ranks <= 10 score >= 1/70 each)
    val lexIds = TextAnalysis.bm25(spark, sf).select("doc_id").as[Long].collect().toSet
    val vecIds = Similarity.cosineTopK(spark, sf).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val fused = top.map(_._1).toSet
    assert(fused.subsetOf(lexIds ++ vecIds), "fused item outside both heads")
    // an item surfaced by BOTH modes (if any) beats every single-mode
    // item: 2/70 > 1/61 at k = 60 with depth-10 heads
    val (multi, single) = top.partition(_._2 >= 2)
    if (multi.nonEmpty && single.nonEmpty)
      assert(multi.map(_._3).min > single.map(_._3).max,
        "a single-mode item outranked a cross-modal consensus item")
    // consensus bookkeeping is honest: n_lists == 2 exactly when the
    // item sits in both heads
    top.foreach { case (id, nl, _) =>
      val expect = (if (lexIds(id)) 1 else 0) + (if (vecIds(id)) 1 else 0)
      assert(nl == expect, s"item $id n_lists $nl != membership $expect")
    }
  }

  test("q86: probing two IVF cells pointwise-dominates the single-cell q38 ranking") {
    // same exact scoring over a strictly larger candidate pool (top-2
    // cells ⊇ top-1 cell): the rank-i cosine can only rise
    val p1 = Similarity.ivfSearch(spark, sf)
      .select("cosine").as[Double].collect()
    val p2 = Similarity.ivfSearchProbe2(spark, sf)
      .select("vec_id", "c_label", "cosine").as[(Long, Int, Double)].collect()
    assert(p2.length == p1.length)
    p2.map(_._3).sorted.reverse.zip(p1.sorted.reverse).zipWithIndex.foreach {
      case ((two, one), i) =>
        assert(two >= one, s"rank $i: nprobe=2 cosine $two < nprobe=1 cosine $one")
    }
    assert(p2.map(_._2).distinct.length <= 2, "results must come from at most 2 cells")
  }

  test("q87: int8 shortlist re-rank returns true cosines; quantization error is bounded") {
    val rows = Similarity.int8Search(spark, sf)
      .select("vec_id", "approx_cosine", "cosine").as[(Long, Double, Double)].collect()
    assert(rows.length == 10)
    rows.foreach { case (v, approx, exact) =>
      // the exact column must equal the brute-force cosine of that row
      val want = math.floor(cos(embs(v), embs(0L)) * 1e6 + 0.5) / 1e6
      assert(math.abs(exact - want) < 1e-9, s"vec $v: re-rank cosine $exact != brute force $want")
      // per-element quantization error ≤ scale/2 ⇒ the score error is
      // small relative to the cosine range; 0.01 is ~5x the observed max
      assert(math.abs(approx - exact) <= 0.01, s"vec $v: |approx - exact| = ${math.abs(approx - exact)}")
    }
    // ordering is by EXACT cosine (the re-rank happened)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sortBy(-_).toSeq)
  }

  test("q88: cluster-balanced sampling flattens the mix (bigger cluster, lower rate)") {
    val rows = Similarity.clusterBalancedMix(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).sum == n, "cluster sizes must sum to the corpus")
    rows.foreach { case (cid, nv, rate, sampled) =>
      assert(sampled <= nv && rate <= 1000000L, s"cid $cid")
    }
    // temperature flattening: rates are non-increasing in cluster size
    val bySize = rows.sortBy(_._2)
    bySize.sliding(2).foreach {
      case Array((_, n1, r1, _), (_, n2, r2, _)) if n1 < n2 =>
        assert(r2 <= r1, s"rate must not rise with cluster size ($n1->$r1 vs $n2->$r2)")
      case _ =>
    }
  }

  test("q84: k-means conserves membership and Lloyd iterations weakly improve inertia") {
    val n = Tables.embeddings(spark, sf).count()
    val r3 = Similarity.kmeansClusters(spark, sf, 10, 3).collect()
    assert(r3.map(_.getLong(1)).sum == n, "cluster sizes must sum to the corpus")
    assert(r3.forall(_.getLong(1) >= 1), "reported clusters are non-empty by construction")
    // Lloyd's invariant: each (assign, update) round weakly decreases the
    // objective (exact-decimal means make the update step exact; the 1e-3
    // slack covers double dist² and micro-unit rounding)
    val i0 = Similarity.kmeansClusters(spark, sf, 10, 0).collect().map(_.getDouble(2)).sum
    val i3 = r3.map(_.getDouble(2)).sum
    assert(i3 <= i0 + 1e-3, s"3 Lloyd rounds must not raise inertia: $i3 > $i0")
  }

  test("graft_dot (codegen Expression) is bit-identical to the HOF fold") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val both = Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        "graft_dot(embedding, embedding) as native",
        """aggregate(zip_with(embedding, embedding,
          |(x, y) -> cast(x as double) * cast(y as double)),
          |cast(0 as double), (acc, v) -> acc + v) as hof""".stripMargin.replace("\n", " "))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"vec ${r.getLong(0)}")
    }
    // and to the driver-side fold
    both.take(10).foreach { r =>
      val id = r.getLong(0)
      val d = embs(id).foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
      assert(r.getDouble(1) == d)
    }
  }

  test("adaptive plane count: fixtures stay at 8; a planted hot cluster forces a deeper space; budget holds (r15)") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // both gate fixtures sit within the pair budget at depth 8: the
    // selected count IS the historical 8, so every oracle row is
    // unchanged by the parameterization
    assert(Similarity.corpusPlanes(spark, sf) == 8)
    // the corpus replicated 40× with per-replica jitter (the embScale
    // replica shape) blows the depth-8 pair budget — the volume probe
    // must deepen the space to restore the per-row bound
    val base = Tables.embeddings(spark, sf)
    val clones = base.crossJoin(spark.range(40).toDF("rep"))
      .selectExpr("vec_id * 100 + rep as vec_id",
        """transform(embedding, (x, i) -> cast(cast(x as double)
          | + 0.0005D * cast(rep as double) * cast(i % 3 as double) as float)) as embedding"""
          .stripMargin.replace("\n", " "))
    val np = Similarity.adaptivePlanesFor(clones, "embedding")
    assert(np > 8, s"hot-cluster corpus must deepen the space, chose $np")
    // the chosen depth actually meets the budget it was chosen for
    val n = clones.count()
    val pairs = clones
      .selectExpr(s"${Similarity.bucketExpr("embedding", np)} as b")
      .groupBy("b").count()
      .selectExpr("sum((count * (count - 1)) div 2) as pairs")
      .collect()(0).getLong(0)
    assert(pairs <= Similarity.PairBudgetPerRow * n,
      s"chosen depth $np has $pairs pairs for $n rows")
  }

  test("graft_lsh_bucket at a non-default plane count == literal-array form; low bits prefix-stable (r15)") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rows = Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        s"${Similarity.bucketExpr("embedding", 11)} as native11",
        s"${Similarity.bucketExprLiteral("embedding", 11)} as literal11",
        s"${Similarity.bucketExpr("embedding", 8)} as native8")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}")
      // plane p's bit does not depend on the plane count: a wider space
      // REFINES the narrower one (bucket mod 256 is the 8-plane bucket)
      assert((r.getLong(1) & 0xffL) == r.getLong(3), s"vec ${r.getLong(0)} prefix")
    }
  }

  test("graft_lsh_bucket (native single node) == literal-array plane form, bit-identical") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // the native expression computes plane coefficients via the inline
    // integer formula; the literal route materializes them as 8×64
    // double literals (the DuckDB oracle's shape). Same buckets on every
    // corpus vector ⇒ the q27 candidate sets are unchanged.
    val rows = Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        s"${Similarity.bucketExpr("embedding")} as native",
        s"${Similarity.bucketExprLiteral("embedding")} as literal")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}")
    }
    // and the interpreted (non-codegen) path agrees: evaluate one row
    // through nullSafeEval directly
    val e = embs(0L).toArray
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(e)
    val interp = graft.functions.LshBucket(
      org.apache.spark.sql.catalyst.expressions.Literal(arr,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
      .eval(null).asInstanceOf[Long]
    val fromDf = rows.find(_.getLong(0) == 0L).get.getLong(1)
    assert(interp == fromDf)
  }

  test("asOfJoin: inclusive on equal ts, latest-at-or-before, null when none") {
    val left = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 5L, 300L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, 10L, 777L), (1L, 15L, 888L))
      .toDF("k", "ts", "pid")
    val got = RelOps.asOfJoin(left, right, "k", "ts", Seq("pid"))
      .select("lid", "pid").as[(Long, Option[Long])].collect().toMap
    assert(got(100L).contains(777L))  // equal ts → inclusive
    assert(got(200L).contains(888L))  // latest at-or-before, not first
    assert(got(300L).isEmpty)         // no right row ≤ ts → null
  }

  test("asOfJoin == brute-force model on a seeded random corpus") {
    val rnd = new scala.util.Random(7)
    val left = (1 to 300).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val rightRaw = (1 to 200).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, 1000L + i))
    // unique per (key, ts): keep max payload id (the operator's contract)
    val right = rightRaw.groupBy(r => (r._1, r._2))
      .map { case ((k, ts), rs) => (k, ts, rs.map(_._3).max) }.toSeq
    val got = RelOps.asOfJoin(
        left.toDF("k", "ts", "lid"), right.toDF("k", "ts", "pid"), "k", "ts", Seq("pid"))
      .select("lid", "pid").as[(Long, Option[Long])].collect().toMap
    left.foreach { case (k, ts, lid) =>
      val want = right.filter(r => r._1 == k && r._2 <= ts)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      assert(got(lid) == want, s"left $lid key $k ts $ts")
    }
  }

  test("q64/q65 contract: approx sketches honor their bounds on adversarial cardinalities") {
    // beyond the oracle fixture: GK rank bound and HLL 3·rsd bound on a
    // skewed synthetic column (heavy ties + a long unique tail — the
    // shapes that stress both sketches)
    val vals = (1 to 2000).map(i => if (i <= 1000) (i % 7).toLong else i.toLong)
    val df = vals.toDF("v")
    val n = vals.size
    for (p <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val a = df.agg(expr(s"percentile_approx(v, $p, 100)")).head().getLong(0)
      val lt = vals.count(_ < a)
      val le = vals.count(_ <= a)
      assert(lt <= (p + 0.01) * n + 1 && le >= (p - 0.01) * n - 1,
        s"GK rank contract violated at p=$p: value=$a lt=$lt le=$le n=$n")
    }
    val exact = vals.distinct.size
    val hll = df.agg(approx_count_distinct(col("v"), 0.02)).head().getLong(0)
    assert(math.abs(hll - exact) <= 3 * 0.02 * exact,
      s"HLL 3·rsd contract violated: hll=$hll exact=$exact")
  }

  test("q66 contract: bloom filter has zero false negatives, bounded false positives") {
    val members = (0 until 1000).map(i => s"member_$i")
    val bloom = members.toDF("k").stat.bloomFilter("k", 1000, 0.01)
    assert(members.forall(bloom.mightContainString),
      "bloom false negative — structurally impossible, indicates a build bug")
    val probes = (0 until 20000).map(i => s"outsider_$i")
    val fps = probes.count(bloom.mightContainString)
    assert(fps <= 3 * 0.01 * probes.size + 10,
      s"bloom false-positive rate blew its bound: $fps / ${probes.size}")
  }

  test("q66: every contaminated doc dropped, overdrop verdicts all true") {
    val out = TextAnalysis.bloomDecontaminate(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("all_contaminated_dropped"))
      assert(r.getAs[Boolean]("overdrop_within_bound"))
    }
  }

  test("documents are pure ASCII (media byte ops == char ops invariant)") {
    val n = Tables.documents(spark, sf)
      .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
    assert(n == 0)
  }

  test("q29: media stub is deterministic and length-consistent") {
    val f = MediaOps.mediaFeatures(spark, sf)
    val rows = f.collect()
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_bytes") == texts(id).length)
      assert(r.getAs[Int]("n_frames") == 1 + (texts(id).length % 5))
      assert(r.getAs[String]("frame_hashes").split(",").length == r.getAs[Int]("n_frames"))
      assert(r.getAs[Int]("rs_width") == math.max(r.getAs[Int]("width") / 2, 1))
    }
    // determinism: second run bit-identical
    assert(MediaOps.mediaFeatures(spark, sf).collect().toSeq == rows.toSeq)
  }

  test("q42: PII scrub == independent driver-side regex model") {
    val got = TextAnalysis.piiScrub(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, text) =>
      val dirty = text + " contact user" + id + "@mail.example.com or +1-555-" +
        ("000" + id % 10000).takeRight(4) + " at 10." + id % 256 + ".0.7 today"
      val clean = dirty
        .replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
        .replaceAll("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
        .replaceAll("\\+\\d[\\d-]{7,}\\d", "<PHONE>")
      val fp = Tables.hex(md.digest(clean.getBytes("UTF-8"))).substring(0, 16)
      val r = got(id)
      assert(r.getAs[Long]("n_emails") == 1 && r.getAs[Long]("n_ips") == 1 &&
        r.getAs[Long]("n_phones") == 1, s"doc $id counts")
      assert(r.getAs[String]("clean_fp") == fp, s"doc $id fingerprint")
      assert(r.getAs[Long]("n_removed_chars") == dirty.length - clean.length)
      // nothing PII-shaped survives redaction
      assert(!clean.contains("@mail.example.com") && !clean.contains("+1-555-"))
    }
  }

  test("q43: TF-IDF top-3 == exhaustive driver-side model") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    val nDocs = texts.length
    val docToks = texts.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val dfm = docToks.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).map { case (t, xs) => t -> xs.length }
    def q(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val want = docToks.flatMap { case (id, ts) =>
      ts.groupBy(identity).toSeq.map { case (t, xs) =>
        val idf = math.log((nDocs + 1.0) / (dfm(t) + 1.0)) + 1.0
        (id, t, xs.length.toLong, dfm(t).toLong, q(xs.length * idf))
      }.sortBy { case (_, t, _, _, s) => (-s, t) }.take(3).zipWithIndex
        .map { case ((i, t, tf, df, s), k) => (i, (k + 1).toLong, t, tf, df, s) }
    }.toSet
    val got = TextAnalysis.tfidf(spark, sf)
      .as[(Long, Long, String, Long, Long, Double)].collect().toSet
    assert(got == want, s"diff ${(got -- want).take(3)} / ${(want -- got).take(3)}")
  }

  test("q47: int8 quantization invariants (saturation + error bound)") {
    val embMap = embs
    Similarity.int8Quantize(spark, sf).collect().foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val v = embMap(id).map(_.toDouble)
      val maxAbs = v.map(math.abs).max
      // the max-|x| element always saturates to ±127
      assert(r.getAs[Long]("n_saturated") >= 1, s"vec $id")
      // per-element rounding error is ≤ scale/2 = maxAbs/254
      assert(r.getAs[Double]("mean_abs_err") <= maxAbs / 254.0 + 1e-6, s"vec $id")
      // checksum is reachable: |sum(q)| ≤ 127·dims
      assert(math.abs(r.getAs[Long]("q_checksum")) <= 127L * v.length)
    }
  }

  test("q49: boilerplate ratios == exhaustive driver-side shingle-DF model") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    val docSh = texts.map { case (id, t) =>
      val toks = t.split(" ", -1)
      id -> (if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
             else Seq.empty[String])
    }
    val df = docSh.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.length }
    val frequent = df.filter(_._2 >= 10).keySet
    val want = docSh.map { case (id, sh) =>
      val nb = sh.count(frequent)
      val ratio = if (sh.isEmpty) 0.0
                  else math.floor(nb.toDouble / sh.length * 1e6 + 0.5) / 1e6
      (id, sh.length.toLong, nb.toLong, ratio)
    }.toSet
    val got = TextAnalysis.boilerplate(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want, s"diff ${(got -- want).take(3)} / ${(want -- got).take(3)}")
  }

  test("q51: mixing keep-decision == driver-side hash model; rates ordered") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "n_chars")
      .as[(Long, String, Long)].collect()
    def bucket(id: Long): Long =
      java.lang.Long.parseLong(
        Tables.hex(md.digest(id.toString.getBytes("UTF-8"))).substring(0, 8), 16) % 1000000L
    def rate(src: String): Long = src match {
      case "src0" => 1000000L; case "src1" => 500000L
      case "src2" => 250000L;  case _ => 100000L
    }
    val want = docs.groupBy(_._2).map { case (src, xs) =>
      val kept = xs.filter(x => bucket(x._1) < rate(src))
      (src, xs.length.toLong, kept.length.toLong, kept.map(_._3).sum,
        math.floor(kept.length.toDouble / xs.length * 1e6 + 0.5) / 1e6)
    }.toSet
    val got = TextAnalysis.sourceMix(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(got == want, s"diff ${(got -- want).take(3)} / ${(want -- got).take(3)}")
  }

  test("q54: session funnel == driver-side sequential model (converted is two-valued)") {
    val events = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "ts_us")
      .as[(Long, Long, String, Long)].collect()
    val gap = 30L * 60 * 1000 * 1000
    val want = events.groupBy(_._1).flatMap { case (uid, evs) =>
      val sorted = evs.sortBy(e => (e._4, e._2))
      var sess = 0L; var prev = Long.MinValue
      val tagged = sorted.map { e =>
        if (prev == Long.MinValue || e._4 - prev > gap) sess += 1
        prev = e._4
        (sess, e)
      }
      tagged.groupBy(_._1).map { case (sno, xs) =>
        val es = xs.map(_._2)
        val clicks = es.filter(_._3 == "click")
        val purchases = es.filter(_._3 == "purchase")
        // coalesce(..., false) on both engines: clicked-but-no-purchase is
        // FALSE, not the three-valued NULL a naive true-AND-NULL yields
        val converted =
          clicks.nonEmpty && purchases.nonEmpty &&
            purchases.map(_._4).max > clicks.map(_._4).min
        (uid, sno, es.length.toLong, clicks.length.toLong, purchases.length.toLong,
          java.lang.Boolean.valueOf(converted))
      }
    }.toSet
    val got = RelOps.sessionFunnel(spark, sf).collect().map { r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("sess_no"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_clicks"), r.getAs[Long]("n_purchases"),
        if (r.isNullAt(5)) null else java.lang.Boolean.valueOf(r.getBoolean(5)))
    }.toSet
    assert(got == want, s"diff ${(got -- want).take(3)} / ${(want -- got).take(3)}")
  }

  test("q55: retention matrix == driver-side model; week-0 row covers every cohort user") {
    val wk = 7L * 86400 * 1000000
    val events = Tables.events(spark, sf).select("user_id", "ts_us")
      .as[(Long, Long)].collect()
    val userWeeks = events.map { case (u, t) => (u, t / wk) }.distinct
    val firstWeek = userWeeks.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val want = userWeeks.groupBy { case (u, w) => (firstWeek(u), w - firstWeek(u)) }
      .map { case (k, xs) => (k._1, k._2, xs.map(_._1).distinct.length.toLong) }.toSet
    val got = RelOps.retentionCohorts(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    // offset 0 counts exactly the cohort's full population
    val cohortSizes = firstWeek.values.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    got.filter(_._2 == 0L).foreach { case (cw, _, n) => assert(n == cohortSizes(cw)) }
  }

  test("q52/q53/q56: report invariants (pivot totals, promo bounds, Zipf monotonicity)") {
    // q52: pivot cells sum to the corpus size; no negative cells
    val piv = TextAnalysis.pivotReport(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    val cells = piv.flatMap(r => (1 until r.length).map(r.getAs[Long]))
    assert(cells.forall(_ >= 0) && cells.sum == nDocs)
    // q53: promo share within (0, 100); revenue components consistent
    val p = RelOps.promoRevenue(spark, sf).collect().head
    val (promo, totalRev, pct) =
      (p.getAs[Double]("promo_revenue"), p.getAs[Double]("total_revenue"),
        p.getAs[Double]("promo_pct"))
    assert(promo >= 0 && promo <= totalRev && pct >= 0 && pct <= 100)
    assert(math.abs(pct - math.floor(100.0 * promo / totalRev * 1e6 + 0.5) / 1e6) == 0.0)
    // q56: ranks 1..20 contiguous, counts non-increasing, cumulative share
    // strictly increasing and ≤ 1
    val z = TextAnalysis.vocabZipf(spark, sf).collect()
    assert(z.map(_.getAs[Long]("rank")).toSeq == (1L to 20L))
    val cnts = z.map(_.getAs[Long]("cnt")).toSeq
    assert(cnts == cnts.sorted.reverse)
    val shares = z.map(_.getAs[Double]("cum_share")).toSeq
    assert(shares == shares.sorted && shares.distinct == shares && shares.last <= 1.0)
  }

  test("q44: per-lang quantiles == interpolated model, monotone") {
    val byLang = Tables.documents(spark, sf).select("lang", "n_chars")
      .as[(String, Long)].collect().groupBy(_._1)
    def qc(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted; val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      val v = if (lo + 1 < s.length) s(lo) + (h - lo) * (s(lo + 1) - s(lo)) else s(lo)
      math.floor(v * 1e6 + 0.5) / 1e6
    }
    TextAnalysis.lengthQuantiles(spark, sf).collect().foreach { r =>
      val lang = r.getAs[String]("lang")
      val xs = byLang(lang).map(_._2.toDouble).toSeq
      for ((c, p) <- Seq("p10" -> 0.10, "p50" -> 0.50, "p90" -> 0.90, "p99" -> 0.99))
        assert(r.getAs[Double](c) == qc(xs, p), s"$lang $c")
      assert(r.getAs[Long]("min_chars") <= r.getAs[Double]("p10") &&
        r.getAs[Double]("p10") <= r.getAs[Double]("p50") &&
        r.getAs[Double]("p50") <= r.getAs[Double]("p90") &&
        r.getAs[Double]("p90") <= r.getAs[Double]("p99") &&
        r.getAs[Double]("p99") <= r.getAs[Long]("max_chars").toDouble)
    }
  }

  test("q68: sequence packing == driver next-fit model; multi-doc sequences fit the budget") {
    val budget = TextAnalysis.packBudget
    val out = TextAnalysis.sequencePack(spark, sf)
      .select("doc_id", "source", "seq_no", "offset_chars")
      .as[(Long, String, Long, Long)].collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "n_chars")
      .as[(Long, String, Long)].collect()
    // reference model: the same next-fit fold, run sequentially per source
    val model = docs.groupBy(_._2).iterator.flatMap { case (src, rows) =>
      var seqNo = 0L; var fill = 0L
      rows.sortBy(_._1).map { case (id, _, n) =>
        if (fill > 0L && fill + n > budget) { seqNo += 1L; fill = 0L }
        val off = fill; fill += n
        (id, src, seqNo, off)
      }
    }.toSet
    assert(out.length == docs.length && out.toSet == model)
    // packing invariant: a sequence holding >1 doc never exceeds the
    // budget (a single over-budget doc legitimately owns its sequence)
    val chars = docs.map(t => t._1 -> t._3).toMap
    out.groupBy(r => (r._2, r._3)).foreach { case (key, rows) =>
      val total = rows.map(r => chars(r._1)).sum
      assert(rows.length == 1 || total <= budget, s"overfull sequence $key: $total chars")
      // offsets are the exclusive running sum in doc_id order
      val sorted = rows.sortBy(_._1)
      val expectOff = sorted.map(r => chars(r._1)).scanLeft(0L)(_ + _).init.toSeq
      assert(sorted.map(_._4).toSeq == expectOff, s"offsets drift in $key")
    }
  }

  test("q72: classifier score == driver-side hashed-ngram linear model; both labels occur") {
    val out = TextAnalysis.classifierScore(spark, sf)
      .select("doc_id", "n_feats", "score", "label")
      .as[(Long, Long, Double, Boolean)].collect()
    val dim = TextAnalysis.clfDim
    // independent model: same weight formula, same md5 bucketing, same
    // ascending-bucket dot fold — values must be bit-identical
    val w = (0 until dim).map(j =>
      (((j.toLong * 1103515245L + 12345L) % 1000L) - 500L) / 1000.0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(f: String): Int = {
      val dg = md.digest(f.getBytes("UTF-8"))
      ((((dg(0) & 0xFFL) << 24) | ((dg(1) & 0xFFL) << 16) |
        ((dg(2) & 0xFFL) << 8) | (dg(3) & 0xFFL)) % dim).toInt
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    val model = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val feats = toks ++ toks.sliding(2).filter(_.length == 2).map(_.mkString("_"))
      val cnt = new Array[Double](dim)
      feats.foreach(f => cnt(bucket(f)) += 1.0)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += cnt(i) * w(i); i += 1 }
      val score = math.floor(acc / feats.length * 1e6 + 0.5) / 1e6
      (id, feats.length.toLong, score, score >= 0)
    }.toSet
    assert(out.length == docs.length && out.toSet == model)
    assert(out.exists(_._4) && out.exists(!_._4), "degenerate label split")
  }

  test("q72: classifierVerdict (streaming form) is bit-identical to the batch q72 score") {
    // the verdict transform folds the weight row into the closure and
    // does the dot in the JVM — same ascending-bucket order as
    // graft_dot, so the scores must match EXACTLY, not approximately
    val batch = TextAnalysis.classifierScore(spark, sf)
      .select("doc_id", "score", "label")
      .as[(Long, Double, Boolean)].collect().toSet
    val online = TextAnalysis.classifierVerdict(
        Tables.documents(spark, sf).select("doc_id", "source", "text"))
      .select("doc_id", "clf_score", "clf_label")
      .as[(Long, Double, Boolean)].collect().toSet
    assert(online == batch, "streaming classifier verdict != batch q72 score")
  }

  test("q78: dsirVerdict (streaming form) is identical to the batch q78 weights") {
    // exact-integer contract: both sides dot integer-valued doubles in
    // ascending bucket order, so the long weights must match EXACTLY
    val batch = TextAnalysis.dsirWeight(spark, sf)
      .select("doc_id", "n_feats", "logw_micro", "keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val delta = TextAnalysis.fitDsirDelta(spark, sf)
    assert(delta.length == TextAnalysis.clfDim &&
      delta.exists(_ > 0) && delta.exists(_ < 0))
    val online = TextAnalysis.dsirVerdict(
        Tables.documents(spark, sf).select("doc_id", "source", "text"), delta)
      .select("doc_id", "n_feats", "logw_micro", "keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(online == batch, "streaming DSIR verdict != batch q78 weights")
  }

  test("q74: perplexityVerdict (streaming form) is bit-identical to the batch q74 filter") {
    // the verdict transform scores with the fitted LM in the task
    // closure — same integer-count division, same ln, same micro-nat
    // floor, same exact long sum as the batch broadcast-join chain
    val batch = TextAnalysis.perplexityFilter(spark, sf)
      .select("doc_id", "n_bigrams", "avg_nll", "flagged")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val lm = TextAnalysis.fitBigramLm(
      Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
        .selectExpr("split(text, ' ') as toks"))
    assert(lm.vocabSize > 0 && lm.bigrams.nonEmpty)
    val online = TextAnalysis.perplexityVerdict(
        Tables.documents(spark, sf).select("doc_id", "source", "text"), lm)
      .select("doc_id", "n_bigrams", "avg_nll", "ppl_flagged")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(online == batch, "streaming perplexity verdict != batch q74")
  }

  test("q74: top-K-pruned LM fit == map restriction of the exact fit; scores degrade only via the smoothing path") {
    val ref = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
      .selectExpr("split(text, ' ') as toks")
    val exact = TextAnalysis.fitBigramLm(ref)
    val topK = 50
    val pruned = TextAnalysis.fitBigramLm(ref, topK)
    // pruning semantics: EXACTLY the topK (count desc, key asc) slice of
    // the exact maps — no other arithmetic path exists
    def topOf(m: Map[String, Long]): Map[String, Long] =
      m.toSeq.sortBy { case (k, c) => (-c, k) }.take(topK).toMap
    assert(pruned.unigrams == topOf(exact.unigrams), "pruned unigrams != topK slice")
    assert(pruned.bigrams == topOf(exact.bigrams), "pruned bigrams != topK slice")
    assert(pruned.unigrams.size == math.min(topK, exact.unigrams.size))
    assert(pruned.bigrams.size == math.min(topK, exact.bigrams.size))
    // the fixture must actually exercise the prune: the bigram table is
    // larger than topK (the sf0.01 slice has ~31 unigrams, hundreds of
    // bigrams — so the unigram leg stays exact and every delta below is
    // attributable to bigram pruning alone)
    assert(exact.bigrams.size > topK, "topK too large — prune leg unexercised")
    // vocabSize stays EXACT: smoothing denominators identical to the
    // unpruned fit (the pruned fit differs ONLY by map misses)
    assert(pruned.vocabSize == exact.vocabSize, "vocab scalar moved under pruning")
    // scoring: no crash, and every per-doc delta is explained by the
    // smoothing path — a doc whose unigrams AND bigrams all survived
    // pruning scores BIT-IDENTICAL to the exact LM
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val exactScores = TextAnalysis.perplexityVerdict(docs, exact)
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    val prunedScores = TextAnalysis.perplexityVerdict(docs, pruned)
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    assert(prunedScores.keySet == exactScores.keySet)
    // bit-identity leg, non-vacuously: a doc built from the single
    // most-frequent bigram is fully covered by the pruned maps by
    // construction — its score must not move at all
    val topBigram = exact.bigrams.toSeq.sortBy { case (k, c) => (-c, k) }.head._1
    val coveredDoc = Seq((0L, "synthetic", topBigram)).toDF("doc_id", "source", "text")
    val exCov = TextAnalysis.perplexityVerdict(coveredDoc, exact)
      .select("avg_nll").as[Double].head()
    val prCov = TextAnalysis.perplexityVerdict(coveredDoc, pruned)
      .select("avg_nll").as[Double].head()
    assert(exCov == prCov, "fully-covered doc moved under pruning")
    // smoothing-path leg: docs touching pruned-away bigrams DO move
    // (their deltas exist and are finite — no crash, no NaN)
    assert(prunedScores.keys.exists(id => prunedScores(id) != exactScores(id)),
      "pruning changed nothing — topK too large for the fixture")
    prunedScores.values.foreach(v => assert(!v.isNaN && !v.isInfinite))
  }

  test("q73: token packing == driver model; regex tokenizer == greedy merge-table model; budget invariants") {
    val budget = TextAnalysis.tokBudget
    val out = TextAnalysis.sequencePackTokens(spark, sf)
      .select("doc_id", "source", "n_tokens", "seq_no", "offset_tokens")
      .as[(Long, String, Long, Long, Long)].collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    // independent tokenizer model: EXPLICIT greedy left-to-right scan with
    // the merge table tried in tie-break order — proves the regex
    // alternation encodes the intended tokenizer, not just "some count"
    val merges = TextAnalysis.bpeMerges
    def nTokens(text: String): Long = {
      var i = 0; var n = 0L
      while (i < text.length) {
        if (text.charAt(i).isWhitespace) i += 1
        else if (merges.exists(p => text.startsWith(p, i))) { n += 1; i += 2 }
        else { n += 1; i += 1 }
      }
      n
    }
    val toks = docs.map(d => d._1 -> nTokens(d._3)).toMap
    out.foreach(r => assert(r._3 == toks(r._1), s"tokenizer mismatch doc ${r._1}"))
    // the q68 next-fit fold with the token term
    val model = docs.groupBy(_._2).iterator.flatMap { case (src, rows) =>
      var seqNo = 0L; var fill = 0L
      rows.sortBy(_._1).map { case (id, _, _) =>
        val n = toks(id)
        if (fill > 0L && fill + n > budget) { seqNo += 1L; fill = 0L }
        val off = fill; fill += n
        (id, src, n, seqNo, off)
      }
    }.toSet
    assert(out.length == docs.length && out.toSet == model)
    out.groupBy(r => (r._2, r._4)).foreach { case (key, rows) =>
      val total = rows.map(_._3).sum
      assert(rows.length == 1 || total <= budget, s"overfull sequence $key: $total tokens")
      val sorted = rows.sortBy(_._1)
      val expectOff = sorted.map(_._3).scanLeft(0L)(_ + _).init.toSeq
      assert(sorted.map(_._5).toSeq == expectOff, s"offsets drift in $key")
    }
    // multi-doc sequences must actually occur at this budget, or the
    // invariants above are vacuous
    assert(out.groupBy(r => (r._2, r._4)).exists(_._2.length > 1))
  }

  test("q69: line dedup == driver model; planted boilerplate dropped, unique lines kept in order") {
    val out = TextAnalysis.lineDedup(spark, sf)
      .select("doc_id", "n_lines", "n_dropped", "cleaned")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    // driver model of the same fixture + rule
    def ls(id: Long, text: String): Seq[String] = {
      val t = text.split(" ", -1)
      def sl(from: Int, n: Int) = t.slice(from - 1, from - 1 + n).mkString(" ")
      Seq("SUBSCRIBE to our newsletter", sl(1, 8), s"promo-${id % 25}",
          sl(9, 8), s"seg-${id % 200}", sl(17, 8))
    }
    val df = docs.flatMap { case (id, tx) => ls(id, tx).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
    val frequent = df.filter(_._2 >= 10).keySet
    assert(frequent.contains("SUBSCRIBE to our newsletter"))
    assert(frequent.exists(_.startsWith("promo-")))
    val model = docs.map { case (id, tx) =>
      val all = ls(id, tx)
      val kept = all.filterNot(frequent)
      (id, all.size.toLong, (all.size - kept.size).toLong, kept.mkString("\n"))
    }.sortBy(_._1)
    assert(out.toSeq == model.toSeq)
    // every doc lost at least the footer + its promo line
    assert(out.forall(_._3 >= 2))
    // and no cleaned doc still contains a frequent line
    assert(out.forall { case (_, _, _, c) =>
      c.split("\n", -1).filterNot(_.isEmpty).forall(l => !frequent.contains(l)) })
  }

  test("q67: temperature weights normalize; rates match the driver model; audit consistent") {
    val rows = TextAnalysis.temperatureMix(spark, sf)
      .select("source", "n_docs", "weight", "rate_micro", "n_sampled", "sampled_chars")
      .as[(String, Long, Double, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // quantized weights sum to ~1
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-3)
    // driver model: q_s = floor(sqrt(n)·1e6+.5); w = q/Q; rate = min(1, w·N/n)
    val q = rows.map(r => r._1 -> math.floor(math.sqrt(r._2.toDouble) * 1e6 + 0.5).toLong).toMap
    val qTot = q.values.sum
    val target = math.floor(rows.map(_._2).sum.toDouble / 2).toLong
    rows.foreach { case (src, n, w, rateMicro, nSampled, _) =>
      val wd = q(src).toDouble / qTot.toDouble
      assert(w == math.floor(wd * 1e6 + 0.5) / 1e6, s"$src weight")
      val rate = math.min(1.0, wd * target.toDouble / n.toDouble)
      assert(rateMicro == math.floor(rate * 1e6 + 0.5).toLong, s"$src rate")
      assert(rateMicro <= 1000000L && nSampled <= n)
    }
    // small sources are upsampled RELATIVE to large ones: keep-rates are
    // non-increasing in source size (w·N/n ∝ n^-0.5 before the cap)
    val bySize = rows.sortBy(_._2)
    val ratesBySize = bySize.map(_._4)
    assert(ratesBySize.zip(ratesBySize.tail).forall { case (a, b) => a >= b },
      s"rates not monotone vs size: ${bySize.map(r => (r._2, r._4)).toSeq}")
  }

  test("q89: window dedup — planted spans flagged, window count matches the body arithmetic") {
    // fixture bodies: 40-char universal footer + 40-char 50-variant
    // promo + text. Stride alignment makes exactly windows 0-2 shared
    // (footer / footer+promo straddle / promo; every doc_id%50 group
    // has >= 2 members at any tested SF) and the text tail unique
    // unless the corpus carries organic cross-doc spans.
    val rows = TextAnalysis.windowDedup(spark, sf)
      .select("doc_id", "n_windows", "n_dup").as[(Long, Long, Long)].collect()
    val lens = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap.view.mapValues(_.length).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, nw, nd) =>
      assert(nw == (80L + lens(id) - 40L) / 20L + 1L,
        s"doc $id window count $nw != body arithmetic")
      assert(nd >= 3L, s"doc $id missed a planted duplicated span ($nd)")
      assert(nd <= nw)
    }
  }

  test("q90: curation funnel — monotone attrition, stage counts match the standalone operators") {
    val Array((nDocs, nGate, nDedup, nDecon, nFinal, kept)) =
      TextAnalysis.curationFunnel(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(nDocs >= nGate && nGate >= nDedup && nDedup >= nDecon && nDecon >= nFinal,
      s"funnel not monotone: $nDocs/$nGate/$nDedup/$nDecon/$nFinal")
    assert(nFinal > 0 && kept > 0, "fixture must keep a non-empty final slice")
    // stage 0/1 match the standalone corpus count and q71 gate exactly
    assert(nDocs == Tables.documents(spark, sf).count())
    assert(nGate == TextAnalysis.qualityGate(spark, sf)
      .filter(col("pass")).count(), "funnel gate != standalone q71 pass count")
    // every stage must actually bite on the fixture (a stage that drops
    // nothing is a vacuous composition test)
    assert(nGate < nDocs && nDedup < nGate && nDecon < nDedup && nFinal < nDecon)
  }

  test("q91: hard negatives == brute-force different-label top-5; labels genuinely differ") {
    val got = Similarity.hardNegatives(spark, sf)
      .select("q_id", "rank", "vec_id", "neg_label")
      .as[(Long, Int, Long, Int)].collect()
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])].collect()
    val labels = emb.map(t => t._1 -> t._2).toMap
    val anchors = emb.filter(_._1 < 10)
    assert(got.forall { case (q, _, v, nl) =>
      labels(v) == nl && nl != labels(q) }, "a negative shares its anchor's label")
    // driver-side brute force with the same fold arithmetic
    val expected = anchors.flatMap { case (qid, qlab, qe) =>
      emb.filter(t => t._1 != qid && t._2 != qlab)
        .map(t => (qid, t._1, cos(qe.toSeq, t._3.toSeq)))
        .sortBy(t => (-t._3, t._2)).take(5).zipWithIndex
        .map { case ((q, v, _), i) => (q, i + 1, v) }
    }.toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == expected,
      "hard negatives != brute-force different-label top-5")
  }

  test("q92: PCA loading is unit-norm, not the start vector, and deterministic") {
    val a = Similarity.pcaPower(spark, sf)
      .select("dim", "loading").as[(Long, Double)].collect().sortBy(_._1)
    assert(a.length == 64)
    val norm = a.map(_._2).map(x => x * x).sum
    // components round to 1e-6 for display; 64 dims of rounding slack
    assert(math.abs(norm - 1.0) < 1e-3, s"loading norm^2 = $norm")
    assert(a.count(_._2 != 0.0) > 1, "iteration never left the start vector e0")
    val b = Similarity.pcaPower(spark, sf)
      .select("dim", "loading").as[(Long, Double)].collect().sortBy(_._1)
    assert(a.map(_._2).map(java.lang.Double.doubleToLongBits).toSeq ==
      b.map(_._2).map(java.lang.Double.doubleToLongBits).toSeq,
      "power iteration must be bit-deterministic across runs")
  }

  test("q93: Misra-Gries summary is bounded, decrements fire, guarantee holds vs exact counts") {
    import TextAnalysis.{mgK, MisraGries}
    val toks = TextAnalysis.hotTokenStream(spark, sf)
      .as[Array[String]].collect()
    val est = TextAnalysis.hotTokenStream(spark, sf)
      .as[Array[String]].select(MisraGries.toColumn).head()
    val exact = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = toks.iterator.map(_.length.toLong).sum
    assert(est.size <= mgK, s"summary exceeded its ${mgK}-counter bound: ${est.size}")
    assert(exact.size > mgK, "fixture must overflow the counters or the decrement path is untested")
    assert(exact.keys.exists(t => !est.contains(t)),
      "bounded memory unproven: every stream token fit in the summary")
    val bar = n / (mgK + 1).toLong
    val guaranteed = exact.filter(_._2 > bar)
    assert(guaranteed.keySet == (0 to 3).map(i => s"hot-$i").toSet,
      s"fixture head must be exactly the four hot tags: ${guaranteed.keySet}")
    guaranteed.foreach { case (t, c) =>
      val e = est.getOrElse(t, fail(s"guaranteed item $t missing from summary"))
      assert(e <= c && (c - e) <= bar, s"$t: est $e vs exact $c breaks the n/(k+1) bound")
    }
    // merge semantics unit check: combined counters minus the (k+1)-th
    // largest, non-positives dropped (the PODS'12 mergeable step)
    def buf(m: (String, Long)*): TextAnalysis.MgBuf =
      TextAnalysis.MgBuf(m.map(_._2).sum, scala.collection.mutable.HashMap(m: _*))
    val x = buf((1 to mgK).map(i => s"a$i" -> i.toLong): _*)
    val y = buf((1 to mgK).map(i => s"b$i" -> i.toLong): _*)
    val m = MisraGries.merge(x, y)
    val cut = (1 to mgK).flatMap(i => Seq(i.toLong, i.toLong)).sortBy(-_).apply(mgK)
    assert(m.cnt.size <= mgK)
    assert(m.cnt.forall { case (k0, c) =>
      val orig = k0.substring(1).toInt.toLong
      c == orig - cut && c > 0L })
  }

  test("q94: PSI is nonnegative and matches a driver-side model recompute") {
    val got = RelOps.psiDrift(spark, sf)
      .select("event_type", "week_from", "n_from", "n_to", "psi")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.forall(_._5 >= 0.0), "PSI terms share sign with their log — sum must be >= 0")
    // independent model: raw events → weekly 10-bin histograms →
    // smoothed-share PSI with the same micro-quantization
    val ev = Tables.events(spark, sf)
      .selectExpr("event_type", "ts_us div 604800000000 as week", "value")
      .as[(String, Long, Double)].collect()
    val vmin = ev.map(_._3).min
    val vmax = ev.map(_._3).max
    def bin(v: Double): Int = math.min(9, math.floor((v - vmin) * 10.0 / (vmax - vmin)).toInt)
    val hist = ev.groupBy(e => (e._1, e._2)).view
      .mapValues(_.groupBy(e => bin(e._3)).view.mapValues(_.size.toLong).toMap).toMap
    got.foreach { case (et, wf, nf, nt, psi) =>
      val f = hist((et, wf)); val o = hist((et, wf + 1))
      assert(nf == f.values.sum && nt == o.values.sum)
      val micro = (0 to 9).map { b =>
        val pf = (f.getOrElse(b, 0L) + 1) / (nf + 10).toDouble
        val pt = (o.getOrElse(b, 0L) + 1) / (nt + 10).toDouble
        math.floor((pt - pf) * math.log(pt / pf) * 1e6 + 0.5).toLong
      }.sum
      assert(psi == micro / 1e6, s"$et week $wf: query $psi != model ${micro / 1e6}")
    }
  }

  test("q95: BPE merges == driver-side reference model; symbol count strictly decreases") {
    val got = TextAnalysis.bpeMerges(spark, sf)
      .as[(Int, String, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 3)
    assert(got.map(_._4).toSeq.sliding(2).forall { case Seq(a, b) => b < a },
      "each merge must strictly shrink the corpus symbol count")
    // reference model over the word-frequency table, same tie-break and
    // the same left-to-right non-overlapping replace semantics
    var vocab = Tables.documents(spark, sf)
      .selectExpr("explode(split(text, ' ')) as w").filter(length($"w") >= 1)
      .groupBy("w").agg(count(lit(1)).as("f")).as[(String, Long)].collect()
      .map { case (w, f) => (w.toCharArray.mkString(" "), f) }
    got.foreach { case (_, pair, cnt, nsym) =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      vocab.foreach { case (sym, f) =>
        val sy = sym.split(" ")
        (0 until sy.length - 1).foreach { i =>
          val p = sy(i) + " " + sy(i + 1)
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      val best = counts.toSeq.minBy { case (p, c) => (-c, p) }
      assert((best._1, best._2) == (pair, cnt),
        s"model picked $best, query picked ($pair, $cnt)")
      vocab = vocab.map { case (sym, f) =>
        ((" " + sym + " ").replace(" " + pair + " ", " " + pair.replace(" ", "") + " ").trim, f)
      }
      val modelN = vocab.map { case (sym, f) => f * sym.split(" ").length }.sum
      assert(modelN == nsym, s"model symbol count $modelN != query $nsym after merging '$pair'")
    }
  }

  test("q96: split-leakage report == driver recompute from q21 fingerprints; totals conserve") {
    val got = TextAnalysis.splitLeakage(spark, sf)
      .select("splits", "n_fps", "n_docs", "leaky")
      .as[(String, Long, Long, Boolean)].collect().toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    def split(id: Long): String = {
      val b = bucket(id); if (b < 80) "train" else if (b < 90) "val" else "test" }
    val fps = TextAnalysis.fingerprint(spark, sf)
      .select("doc_id", "min_shingle_hash").as[(Long, Option[String])].collect()
      .collect { case (id, Some(f)) => (f, split(id)) }
    val expected = fps.groupBy(_._1).values.toSeq
      .map(g => (g.map(_._2).distinct.sorted.mkString("+"), g.size.toLong))
      .groupBy(_._1).map { case (k, gs) =>
        (k, gs.size.toLong, gs.map(_._2).sum, k.contains("+")) }.toSet
    assert(got == expected, s"report != driver model:\n got $got\n exp $expected")
    assert(got.exists(_._4), "fixture must exhibit cross-split leakage")
    assert(got.filter(_._4).forall(r => r._3 >= 2 * r._2),
      "a leaky fingerprint needs at least two docs")
    assert(got.toSeq.map(_._3).sum == fps.length.toLong, "document totals must conserve")
  }

  test("q97: DSIR resampling == driver model over q78 weights; both classes non-trivial") {
    val got = TextAnalysis.dsirResample(spark, sf)
      .select("doc_id", "n_feats", "logw_micro", "keep_micro", "kept")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    val weights = TextAnalysis.dsirWeight(spark, sf)
      .select("doc_id", "n_feats", "logw_micro")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    got.foreach { case (id, nf, lw, km, kept) =>
      val (enf, elw) = weights(id)
      assert((nf, lw) == (enf, elw), s"doc $id: weight columns diverge from q78")
      val ekm =
        math.floor(math.exp(math.min(0.0, lw / nf.toDouble / 1e6 * 10.0)) * 1e6 + 0.5).toLong
      assert(km == ekm, s"doc $id: keep_micro $km != model $ekm")
      assert(kept == (bucket(id) < km), s"doc $id: kept flag != md5-bucket rule")
    }
    // target-like docs keep everything; the split must genuinely bite
    assert(got.count(_._5) > 0 && got.count(!_._5) > 0)
    assert(got.filter(t => t._3 >= 0L).forall(_._4 == 1000000L),
      "a non-negative log-weight must keep at rate 1.0")
  }

  test("q98: JL distortion — 190 sample pairs, ratios concentrate near 1, mean within JL bounds") {
    val rows = Similarity.jlDistortion(spark, sf)
      .select("va", "vb", "d_orig", "d_proj", "ratio")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rows.length == 190, s"20-sample must yield 190 pairs, got ${rows.length}")
    assert(rows.forall(r => r._3 > 0.0 && r._4 > 0.0 && r._5 > 0.0))
    val mean = rows.map(_._5).sum / rows.length
    // k=16 concentration: the mean ratio sits near 1 even though single
    // pairs spread; a sign-matrix bug (all-ones, transposed indices)
    // collapses projected distances and lands far outside this window
    assert(mean > 0.8 && mean < 1.25, s"mean distortion ratio $mean outside JL window")
  }

  test("q99: calibration cells reconcile with the standalone gate and classifier counts") {
    val cells = TextAnalysis.calibrationReport(spark, sf)
      .select("gate_pass", "clf_label", "n_docs")
      .as[(Boolean, Boolean, Long)].collect()
    assert(cells.length == 4, "fixture must populate every agreement cell")
    val total = cells.map(_._3).sum
    assert(total == Tables.documents(spark, sf).count())
    val gatePass = cells.filter(_._1).map(_._3).sum
    assert(gatePass == TextAnalysis.qualityGate(spark, sf).filter(col("pass")).count())
    val clfTrue = cells.filter(_._2).map(_._3).sum
    assert(clfTrue == TextAnalysis.classifierScore(spark, sf).filter(col("label")).count())
  }

  test("q100: curated export writes split-partitioned parquet; read-back reconciles with the manifest") {
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    try {
      val n = TextAnalysis.exportCurated(spark, sf, out)
      val expected = TextAnalysis.funnelFlags(spark, sf).filter($"s4")
        .select("doc_id").as[Long].collect().toSet
      assert(n == expected.size.toLong, "written count != survivor count")
      // partition layout: one dir per present split, prunable by a trainer
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("split=")).toSet
      assert(dirs.nonEmpty && dirs.subsetOf(Set("split=train", "split=val", "split=test")))
      val back = spark.read.parquet(out)
      assert(back.select("doc_id").as[Long].collect().toSet == expected,
        "read-back doc set != survivor set")
      // the manifest is exactly the read-back group counts
      val manifest = TextAnalysis.exportManifest(spark, sf)
        .select("split", "source", "n_docs", "sum_chars")
        .as[(String, String, Long, Long)].collect().toSet
      val fromFiles = back.groupBy("split", "source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("c"))
        .as[(String, String, Long, Long)].collect().toSet
      assert(manifest == fromFiles, "manifest != exported files")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(out))
    }
  }

  test("q101: edit-distance verify certifies every planted twin; lev equals the dropped-token cost") {
    val got = Dedup.editDistancePairs(spark, sf)
      .select("doc_a", "doc_b", "lev").as[(Long, Long, Long)].collect()
    val pairs = got.map(t => (t._1, t._2)).toSet
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    val planted = texts.filter(_._2.split(" ").length >= 10)
      .map { case (id, _) => (id, id + 10000L) }.toSet
    assert(planted.subsetOf(pairs), s"missing ${(planted -- pairs).take(5)}")
    // for a twin, the distance is exactly the dropped first token + its
    // separating space
    val byPair = got.map(t => (t._1, t._2) -> t._3).toMap
    texts.filter(_._2.split(" ").length >= 10).foreach { case (id, text) =>
      val expected = text.split(" ", 2).head.length.toLong + 1L
      assert(byPair((id, id + 10000L)) == expected,
        s"doc $id: lev ${byPair((id, id + 10000L))} != dropped-token cost $expected")
    }
  }

  test("q102: incremental dedup admits every genuinely-new doc and drops every twin") {
    val rows = Dedup.incrementalDedup(spark, sf)
      .select("delta_id", "n_matches", "is_new")
      .as[(Long, Long, Boolean)].collect()
    val twins = rows.filter(r => r._1 >= 20000L && r._1 < 30000L)
    val fresh = rows.filter(_._1 >= 30000L)
    assert(twins.nonEmpty && fresh.nonEmpty)
    // every mutated twin of a >=10-token doc must land on its original
    val lens = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap.view.mapValues(_.split(" ").length).toMap
    twins.filter(t => lens(t._1 - 20000L) >= 10).foreach { case (id, nm, isNew) =>
      assert(!isNew && nm >= 1L, s"twin $id escaped the index probe")
    }
    // reversal shares no word-3-gram with the original: all new
    fresh.foreach { case (id, nm, isNew) =>
      assert(isNew && nm == 0L, s"reversed doc $id falsely matched the index")
    }
  }

  test("q103: weighted sample == driver A-Res model; weighting measurably biases toward long docs") {
    val got = TextAnalysis.weightedSample(spark, sf)
      .select("doc_id", "n_chars", "key_nano")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 50)
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .as[(Long, Long)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def keyOf(id: Long, w: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1L) / 4294967296.0
      math.floor(math.log(u) / w.toDouble * 1e9).toLong
    }
    val expected = docs.map { case (id, w) => (id, w, keyOf(id, w)) }
      .sortBy(t => (-t._3, t._1)).take(50).toSeq
    assert(got.sortBy(t => (-t._3, t._1)).toSeq == expected,
      "sample != driver-side Efraimidis-Spirakis model")
    // inclusion probability ∝ n_chars: the sample mean length must sit
    // clearly above the corpus mean on this fixture
    val sampleMean = got.map(_._2).sum.toDouble / got.length
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    assert(sampleMean > corpusMean * 1.05,
      s"weighting did not bite: sample $sampleMean vs corpus $corpusMean")
  }

  test("q104: key-skew report == driver recompute; factor >= 1 by construction") {
    val got = RelOps.keySkewReport(spark, sf)
      .select("event_type", "n_keys", "n_rows", "max_cnt", "hottest_key", "skew_factor")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf).select("event_type", "user_id")
      .as[(String, Long)].collect()
    got.foreach { case (et, nKeys, nRows, maxCnt, hot, skew) =>
      val counts = ev.filter(_._1 == et).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert(nKeys == counts.size.toLong && nRows == counts.values.sum)
      val (eHot, eMax) = counts.toSeq.minBy { case (k, c) => (-c, k) }
      assert((hot, maxCnt) == (eHot, eMax), s"$et: hottest $hot/$maxCnt != model $eHot/$eMax")
      assert(skew >= 1.0, s"$et: max/avg cannot sit below 1")
      assert(skew == math.floor(eMax * counts.size * 1e6 / nRows.toDouble + 0.5) / 1e6)
    }
  }

  test("q105: first-touch attribution == driver model; lookback bound respected") {
    val got = RelOps.firstTouchAttribution(spark, sf)
      .select("user_id", "p_event_id", "p_ts_us", "first_click_id", "lag_us")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
    assert(got.exists(_._4.isDefined) && got.exists(_._4.isEmpty),
      "fixture must exercise both attribution branches")
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type", "ts_us")
      .as[(Long, Long, String, Long)].collect()
    val clicksByUser = ev.filter(_._3 == "click").groupBy(_._1)
    val week = 604800000000L
    got.foreach { case (u, pid, pts, fc, lag) =>
      val qualifying = clicksByUser.getOrElse(u, Array.empty)
        .filter(c => c._4 <= pts && c._4 > pts - week)
      if (qualifying.isEmpty) assert(fc.isEmpty && lag.isEmpty, s"purchase $pid: false touch")
      else {
        val first = qualifying.minBy(c => (c._4, c._2))
        assert(fc.contains(first._2), s"purchase $pid: touch ${fc} != model ${first._2}")
        assert(lag.contains(pts - first._4) && lag.get >= 0L && lag.get < week)
      }
    }
    assert(got.length == ev.count(_._3 == "purchase"),
      "every purchase must appear exactly once")
  }

  test("qualityGateVerdict rejects reserved-column collisions and missing text up front") {
    // ADVICE r9: a frame already carrying an appended name (n_words, pass,
    // ok_*, __graft_gate_toks) would silently yield duplicate/ambiguous
    // columns downstream; the transform must fail fast instead.
    val ok = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
    assert(TextAnalysis.qualityGateVerdict(ok).columns.count(_ == "pass") == 1)
    for (bad <- Seq("n_words", "pass", "ok_alpha", "__graft_gate_toks")) {
      val df = ok.withColumn(bad, lit(0L))
      val e = intercept[IllegalArgumentException](TextAnalysis.qualityGateVerdict(df))
      assert(e.getMessage.contains(bad), s"error must name the colliding column $bad")
    }
    val noText = Seq((1L, "x")).toDF("doc_id", "body")
    val e2 = intercept[IllegalArgumentException](TextAnalysis.qualityGateVerdict(noText))
    assert(e2.getMessage.contains("text"))
  }

  test("q102: stored-index probe == inline form; artifact reads back complete (r13)") {
    val path = java.nio.file.Files.createTempDirectory("graft-q102-spec").toString
    val nBands = Dedup.buildDedupIndex(spark, sf, path)
    // 4 bands per indexed doc (zero-shingle docs band nothing)
    assert(nBands > 0 && nBands % 4 == 0, s"band rows: $nBands")
    val stored = Dedup.incrementalDedupStored(spark, sf, path)
      .orderBy("delta_id").collect().map(_.toSeq).toSeq
    val inline = Dedup.incrementalDedup(spark, sf)
      .orderBy("delta_id").collect().map(_.toSeq).toSeq
    assert(stored == inline, "stored-index verdicts must equal the inline form")
  }

  test("levDpBounded == min(levDp, bound+1) over corpus pairs and adversarial cases (r13)") {
    // contract: exact whenever true distance <= bound, bound+1 otherwise
    // — so the q101 verdict set and every emitted lev are unchanged
    val texts = Tables.documents(spark, sf).select("text")
      .as[String].collect().take(30)
    val cases = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (i <- texts.indices; j <- (i + 1) until math.min(texts.length, i + 4))
      cases += ((texts(i), texts(j)))
    for (t <- texts.take(10)) {
      cases += ((t, t))                                      // equal
      cases += ((t, t.drop(math.min(7, t.length))))          // prefix drop
      cases += ((t, t.replace('e', 'x')))                    // substitutions
      cases += ((t, ""))                                     // empty side
      cases += ((t, t.reverse))                              // far pair
    }
    for ((a, b) <- cases; bound <- Seq(0, 1, 3, math.max(a.length, b.length) / 5,
        math.max(a.length, b.length))) {
      val exact = Dedup.levDp(a, b)
      val banded = Dedup.levDpBounded(a, b, bound)
      assert(banded == math.min(exact, bound + 1),
        s"bound=$bound exact=$exact banded=$banded a=${a.take(20)} b=${b.take(20)}")
    }
  }

  test("assignCellsJoined (distributed seeds) is bit-identical to the closure assignCells (r13)") {
    // the q75 corpus (base + planted twins) through BOTH assignment
    // routes; fitCellCodebook collects the same distributed fit, so any
    // arithmetic divergence between routes must surface here
    val base = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    val corpus = base.unionAll(
      base.selectExpr("vec_id + 10000 as vec_id",
        "zip_with(e, sequence(0, 63), (x, i) -> x + 0.004 * cast(i % 5 as double)) as e"))
    val plan = Similarity.fitSeedPlan(spark, sf)
    val cb = Similarity.fitCellCodebook(spark, sf)
    val viaJoin = Similarity.assignCellsJoined(corpus, plan)
      .select("vec_id", "c_label", "nrm", "e")
      .as[(Long, Int, Double, Array[Double])].collect()
      .map(r => (r._1, (r._2, r._3, r._4.toSeq))).toMap
    val viaClosure = Similarity.assignCells(corpus, cb).collect()
      .map(v => (v.vec_id, (v.cell, v.nrm, v.e.toSeq))).toMap
    assert(viaJoin.keySet == viaClosure.keySet)
    // supSeedIdx covers every seed exactly once (the level-2 index table)
    assert(cb.supSeedIdx.map(_.length).sum == cb.seedIds.length)
    assert(cb.supSeedIdx.flatten.sorted.toSeq == cb.seedIds.indices.toSeq)
    viaJoin.foreach { case (id, got) =>
      assert(got == viaClosure(id), s"vec $id: joined=$got closure=${viaClosure(id)}")
    }
  }

  test("q107: dHash absorbs re-encode noise, separates distinct images (r14)") {
    // controlled raster: adjacent cell sums differ by >= seg (each cell's
    // values are constant at 40 + 8*(cell % 7), so |sum(c+1) - sum(c)|
    // >= 8*seg), while the +1-every-17th re-encode perturbation moves any
    // cell sum by at most ceil(seg/17)+1 < 8*seg — NO bit can flip, so
    // the twin's dHash is IDENTICAL (hamming 0), not merely close
    val seg = 5
    val base = Array.tabulate(72 * seg)(i => 40 + 8 * ((i / seg) % 7))
    val twin = base.zipWithIndex.map { case (v, i) => if (i % 17 == 0) v + 1 else v }
    val hb = MediaOps.dhash4x16(base)
    val ht = MediaOps.dhash4x16(twin)
    assert(hb.toSeq == ht.toSeq, "re-encode noise must not move the dHash")
    assert(hb.forall(v => v >= 0 && v <= 0xFFFF), "band values are 16-bit")
    // a genuinely different image (reversed gradient) lands far away
    val other = MediaOps.dhash4x16(base.reverse)
    val ham = hb.zip(other).map { case (a, b) => Integer.bitCount(a ^ b) }.sum
    assert(ham > 6, s"distinct images must exceed the match bar (got $ham)")
    // determinism (the decode-stub discipline)
    assert(MediaOps.dhash4x16(base).toSeq == hb.toSeq)
  }

  test("adaptive band keys: layout invariants — coarse prefix == the historical band bits; 80 binary chars (r16)") {
    val rng = new scala.util.Random(41)
    (0 until 25).foreach { t =>
      val n = 72 + rng.nextInt(600)
      val codes = Array.fill(n)(rng.nextInt(256))
      val v = MediaOps.dhash4x16(codes)
      val bk = MediaOps.dhashBandKeys(codes)
      assert(bk.length == 4 && bk.forall(k =>
        k.length == 80 && k.forall(c => c == '0' || c == '1')),
        s"trial $t: malformed dHash keys")
      (0 until 4).foreach { k =>
        val coarse = (0 until 16).map(j =>
          if (((v(k) >> j) & 1) == 1) '1' else '0').mkString
        assert(bk(k).substring(0, 16) == coarse,
          s"trial $t band $k: width-16 prefix must equal the historical band bits")
      }
      if (n >= 85) {
        val va = MediaOps.afp4x16(codes)
        val ak = MediaOps.afpBandKeys(codes)
        assert(ak.length == 4 && ak.forall(k =>
          k.length == 80 && k.forall(c => c == '0' || c == '1')))
        (0 until 4).foreach { k =>
          val coarse = (0 until 16).map(j =>
            if (((va(k) >> j) & 1) == 1) '1' else '0').mkString
          assert(ak(k).substring(0, 16) == coarse,
            s"trial $t afp band $k: width-16 prefix mismatch")
        }
      }
      // determinism (the decode-stub discipline)
      assert(MediaOps.dhashBandKeys(codes).toSeq == bk.toSeq)
    }
  }

  test("adaptive band width: fixture corpora take the width-16 fast path; a saturated corpus dials wider; monotone budget rule (r16)") {
    // the real fixture frames choose 16 (measured under budget) — this is
    // what keeps every historical media oracle row byte-identical
    Seq(
      (MediaOps.corpusHashes(MediaOps.Image, MediaOps.mediaCorpus(spark, sf)), 4),
      (MediaOps.corpusHashes(MediaOps.Audio, MediaOps.mediaCorpus(spark, sf)), 4),
      (MediaOps.corpusHashes(MediaOps.Video, MediaOps.mediaCorpus(spark, sf)), 12)
    ).foreach { case (hashes, bpd) =>
      val bands0 = hashes.selectExpr("doc_id",
        "posexplode(bk) as (band_idx, band_hash)")
      assert(MediaOps.adaptiveBandWidth(bands0, bpd) == 16,
        "fixture corpus must take the width-16 fast path")
    }
    // a corpus whose width-16 prefixes saturate but whose wider prefixes
    // discriminate must dial past 16: n docs, ALL sharing one 16-char
    // prefix, unique beyond it → volume at 16 = n(n-1)/2 > 512n for
    // n > 1025, volume at 32 = 0
    val n = 1200
    val rows = (0 until n).map { i =>
      val suffix = (0 until 64).map(b => if (((i >> (b % 11)) & 1) == 1) '1' else '0').mkString
      (0, "1" * 16 + suffix, i.toLong)
    } // distinct suffixes for i < 2048: bits of i repeated — i != j < 2048 differ somewhere
    val hot = spark.createDataset(rows.toSeq).toDF("band_idx", "band_hash", "doc_id")
    val w = MediaOps.adaptiveBandWidth(hot, 1)
    assert(w == 32, s"saturated 16-prefix corpus must dial to 32, got $w")
  }

  test("adaptive band keys: the same-scale extension (chars 17..32) absorbs re-encode noise on the fixture corpus (r16)") {
    // the design claim behind the first dial step: for every planted
    // twin, at least one of the 4 WIDTH-32 keys still collides with its
    // base (coarse + same-scale chars ride the same box-filter scale) —
    // so dialing 16 → 32 keeps full twin recall on this corpus
    def recallAt(hashes: org.apache.spark.sql.DataFrame, width: Int): (Long, Long) = {
      val rows = hashes.selectExpr("doc_id", "bk").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).map(_.take(width)))
        .toMap
      val bases = rows.keys.filter(_ < 10000L).toSeq
      val hit = bases.count(id => rows.get(id + 10000L).exists(t =>
        rows(id).zip(t).exists { case (a, b) => a == b }))
      (hit.toLong, bases.length.toLong)
    }
    Seq(MediaOps.corpusHashes(MediaOps.Image, MediaOps.mediaCorpus(spark, sf)), MediaOps.corpusHashes(MediaOps.Audio, MediaOps.mediaCorpus(spark, sf)))
      .foreach { h =>
        val (hit32, total) = recallAt(h, 32)
        assert(total > 0)
        assert(hit32 == total, s"width-32 twin collision: $hit32/$total")
      }
  }

  test("q107: image dedup finds EVERY planted re-encoded twin; bar enforced (r14)") {
    val nImages = Tables.documents(spark, sf)
      .where("doc_id % 3 = 0 AND length(text) >= 72").count()
    val pairs = MediaOps.imageDedup(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect()
    val twins = pairs.filter(p => p._2 == p._1 + 10000 && p._4)
    assert(twins.length == nImages,
      s"planted-twin recall: ${twins.length}/$nImages")
    assert(pairs.forall(_._3 <= 6), "no emitted pair may exceed the Hamming bar")
    assert(pairs.forall(p => p._1 < p._2), "pairs are ordered (a < b)")
    // is_twin is exactly the id relation (no mislabeled rows)
    assert(pairs.forall(p => p._4 == (p._2 == p._1 + 10000)))
  }

  test("image deny verdict (online leg) == exact band-probe model; twins of deny images drop (r14)") {
    val idx = MediaOps.fitDenyIndex(spark, sf, MediaOps.Image)
    val imgs = MediaOps.mediaCorpus(spark, sf)
      .where("mime = 'image/png' AND length(media) >= 72")
      .select("doc_id", "media").as[(Long, Array[Byte])].collect()
    val twins = imgs.map { case (id, b) =>
      (id + 10000L, b.zipWithIndex.map { case (x, i) =>
        if (i % 17 == 0) (x + 1).toByte else x })
    }
    val input = spark.createDataset((imgs ++ twins).toSeq).toDF("doc_id", "media")
    val verdict = MediaOps.denyVerdict(input, idx)
      .as[(Long, Int, Boolean)].collect().map(t => t._1 -> t._3).toMap
    // driver model (r17, multi-probe): the 1-bit band multi-probe makes
    // the verdict EXACT — dropped iff within Hamming 6 of any deny item,
    // no banding caveat (the multi-index-hashing guarantee)
    val hash = MediaOps.corpusHashes(MediaOps.Image, MediaOps.mediaCorpus(spark, sf)).select("doc_id", "v")
      .as[(Long, Array[Int])].collect().toMap
    val denyIds = imgs.map(_._1).filter(_ % 20 == 0)
    assert(denyIds.nonEmpty, "fixture must populate the deny slice")
    def ham(a: Array[Int], b: Array[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    def expect(v: Array[Int]): Boolean = denyIds.exists(d => ham(v, hash(d)) <= 6)
    hash.foreach { case (id, v) =>
      assert(verdict(id) == expect(v), s"image $id: online=${verdict(id)} model=${expect(v)}")
    }
    // the leg bites: every deny image drops (self-match at Hamming 0),
    // and so does every re-encoded twin of one (the dHash absorbed the
    // perturbation — the capability q107 exists for); non-deny images
    // are not all swept up
    denyIds.foreach { d =>
      assert(verdict(d), s"deny image $d must drop")
      assert(verdict(d + 10000L), s"re-encoded twin of deny image $d must drop")
    }
    assert(imgs.map(_._1).exists(id => !verdict(id)), "some non-deny image survives")
  }

  test("image deny verdict signs the DECODED luma: a genuine PNG of a deny document, and its re-encoded twin, drop like the batch model") {
    import java.awt.image.BufferedImage
    val idx = MediaOps.fitDenyIndex(spark, sf, MediaOps.Image)
    val (denyId, doc) = MediaOps.mediaCorpus(spark, sf)
      .where("mime = 'image/png' AND length(media) >= 72 AND doc_id % 20 = 0")
      .orderBy("doc_id").select("doc_id", "media").as[(Long, Array[Byte])].head()
    // the deny document's bytes as the pixels of a one-row gray PNG: a
    // gray (v,v,v) pixel decodes to luma v, so the payload decodes to
    // exactly the document's codes
    def png(px: Array[Int]): Array[Byte] = {
      val img = new BufferedImage(px.length, 1, BufferedImage.TYPE_INT_RGB)
      px.indices.foreach { x =>
        val v = px(x) & 0xFF
        img.setRGB(x, 0, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val codes = doc.map(_ & 0xFF)
    val base = png(codes)
    assert(MediaOps.decodePngLuma(base).get.sameElements(codes),
      "the PNG must decode to the deny document's codes")
    // the twin model (+1 luma at every 17th sample), written as a PNG again
    val twin = png(codes.zipWithIndex.map { case (v, i) => if (i % 17 == 0) v + 1 else v })
    val verdict = MediaOps.denyVerdict(Seq((1L, base), (2L, twin)).toDF("doc_id", "media"), idx)
      .as[(Long, Int, Boolean)].collect().map(t => t._1 -> t._3).toMap
    // the batch model: the base PNG and its planted twin signed by the
    // corpus pass, within the Hamming-6 bar of the deny document
    val model = MediaOps.corpusHashes(MediaOps.Image,
        Seq((1L, base)).toDF("doc_id", "media").selectExpr("doc_id", "'image/png' as mime", "media"))
      .select("doc_id", "v").as[(Long, Array[Int])].collect().toMap
    def ham(a: Array[Int], b: Array[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    assert(ham(model(1L), idx.hashes(denyId)) == 0 && ham(model(10001L), idx.hashes(denyId)) <= 6,
      "the batch model must pair both PNGs with the deny document")
    assert(verdict(1L), "a genuine PNG of a deny document passed the online verdict")
    assert(verdict(2L), "the re-encoded twin of a deny PNG passed the online verdict")
  }

  test("q110: image keep — one keeper per cluster, keeper is max-payload, twins co-cluster (r14)") {
    val rows = MediaOps.imageKeep(spark, sf)
      .select("doc_id", "root", "n_bytes", "keep_doc_id", "n_members", "kept")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    val nImages = Tables.documents(spark, sf)
      .where("doc_id % 3 = 0 AND length(text) >= 72").count()
    assert(rows.length.toLong == 2 * nImages, "every image and twin labeled exactly once")
    rows.groupBy(_._2).foreach { case (root, members) =>
      assert(members.count(_._6) == 1, s"cluster $root must keep exactly one member")
      val keeper = members.find(_._6).get
      assert(members.forall(m => m._4 == keeper._1), "keep_doc_id consistent across the cluster")
      // keeper is the payload argmax, ties to the lowest id (q70 discipline)
      val best = members.minBy(m => (-m._3, m._1))
      assert(keeper._1 == best._1, s"cluster $root keeps ${keeper._1}, argmax is ${best._1}")
      assert(members.forall(_._5 == members.length.toLong), "n_members matches")
    }
    // full twin recall (the q107 spec) implies every (base, twin) pair
    // shares a component
    val rootOf = rows.map(r => r._1 -> r._2).toMap
    rows.filter(_._1 < 10000).foreach { r =>
      assert(rootOf(r._1) == rootOf(r._1 + 10000),
        s"image ${r._1} and its re-encoded twin must co-cluster")
    }
  }

  test("q111: video frame dedup recalls every re-encoded twin; frame grain is real (r14)") {
    val nVideos = Tables.documents(spark, sf)
      .where("doc_id % 3 = 2 AND length(text) >= 216").count()
    assert(nVideos > 0, "fixture must populate the video slice")
    val hashes = MediaOps.corpusHashes(MediaOps.Video, MediaOps.mediaCorpus(spark, sf)).select("doc_id", "v")
      .as[(Long, Array[Int])].collect()
    assert(hashes.length.toLong == 2 * nVideos)
    hashes.foreach { case (id, v) =>
      assert(v.length == 12, s"video $id: 3 frames x 4 bands")
      assert(v.forall(x => x >= 0 && x <= 0xFFFF), s"video $id: 16-bit bands")
    }
    // frames carry DISTINCT content: within a video the 3 frame hashes
    // are not all identical (else the frame grain would be vacuous)
    val distinctFrames = hashes.count { case (_, v) =>
      val frames = v.grouped(4).map(_.toSeq).toSeq
      frames.distinct.length > 1
    }
    assert(distinctFrames > hashes.length / 2,
      "most videos must have non-identical frames")
    val pairs = MediaOps.videoDedup(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect()
    val twins = pairs.filter(p => p._2 == p._1 + 10000 && p._4)
    assert(twins.length.toLong == nVideos,
      s"planted-twin recall: ${twins.length}/$nVideos")
    assert(pairs.forall(p => p._3 >= 2 && p._3 <= 3), "match bar enforced")
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("q109: whitened Gram has unit diagonal and near-zero off-diagonals (r14)") {
    val g = Similarity.pcaWhitenAudit(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(g.length == 10, "m=4 upper triangle")
    g.foreach { case (i, j, _, w) =>
      if (i == j) assert(w == 1.0, s"diag ($i,$j) must be exactly 1.0, got $w")
      // bound = the 3-round power-iteration convergence residual at the
      // ~100-vector fixture (measured ~0.07 worst pair); exact values
      // are oracle-gated — this asserts the decorrelation STRUCTURE
      else assert(math.abs(w) < 0.15,
        s"off-diag ($i,$j) must be decorrelated, got $w")
    }
  }

  test("q113: audio fingerprint kernel absorbs re-encode noise; distinct audio lands far (r14)") {
    // mirrors the q107 dHash kernel pin at audio grain: |centered PCM|
    // magnitudes in, four 16-bit bands out
    val base = Array.tabulate(340)(i => math.abs((i * 37 + 11) % 256 - 128))
    val twin = base.zipWithIndex.map { case (v, i) => if (i % 13 == 0) v + 1 else v }
    val hb = MediaOps.afp4x16(base)
    val ht = MediaOps.afp4x16(twin)
    val hamTwin = hb.zip(ht).map { case (a, b) => Integer.bitCount(a ^ b) }.sum
    assert(hamTwin <= 6, s"re-encode ripple must stay inside the bar (got $hamTwin)")
    assert(hb.forall(v => v >= 0 && v <= 0xFFFF), "band values are 16-bit")
    val other = MediaOps.afp4x16(base.reverse)
    val ham = hb.zip(other).map { case (a, b) => Integer.bitCount(a ^ b) }.sum
    assert(ham > 6, s"distinct audio must exceed the match bar (got $ham)")
    assert(MediaOps.afp4x16(base).toSeq == hb.toSeq, "determinism")
  }

  test("q113: audio dedup finds EVERY planted re-encoded twin; bar enforced (r14)") {
    val nAudio = Tables.documents(spark, sf)
      .where("doc_id % 3 = 1 AND length(text) >= 85").count()
    assert(nAudio > 0, "fixture must populate the audio slice")
    val pairs = MediaOps.audioDedup(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect()
    val twins = pairs.filter(p => p._2 == p._1 + 10000 && p._4)
    assert(twins.length == nAudio,
      s"planted-twin recall: ${twins.length}/$nAudio")
    assert(pairs.forall(_._3 <= 6), "no emitted pair may exceed the Hamming bar")
    assert(pairs.forall(p => p._1 < p._2), "pairs are ordered (a < b)")
    assert(pairs.forall(p => p._4 == (p._2 == p._1 + 10000)))
  }

  test("audio deny verdict (online leg) == exact band-probe model; twins of deny audio drop (r14)") {
    val idx = MediaOps.fitDenyIndex(spark, sf, MediaOps.Audio)
    val auds = MediaOps.mediaCorpus(spark, sf)
      .where("mime = 'audio/wav' AND length(media) >= 85")
      .select("doc_id", "media").as[(Long, Array[Byte])].collect()
    val twins = auds.map { case (id, b) =>
      (id + 10000L, b.zipWithIndex.map { case (x, i) =>
        if (i % 13 == 0) (x + 1).toByte else x })
    }
    val input = spark.createDataset((auds ++ twins).toSeq).toDF("doc_id", "media")
    val verdict = MediaOps.denyVerdict(input, idx)
      .as[(Long, Int, Boolean)].collect().map(t => t._1 -> t._3).toMap
    // driver model (r17, multi-probe): exact semantics — dropped iff
    // within Hamming 6 of any deny fingerprint (the MIH guarantee)
    val hash = MediaOps.corpusHashes(MediaOps.Audio, MediaOps.mediaCorpus(spark, sf)).select("doc_id", "v")
      .as[(Long, Array[Int])].collect().toMap
    val denyIds = auds.map(_._1).filter(_ % 20 == 0)
    assert(denyIds.nonEmpty, "fixture must populate the deny slice")
    def ham(a: Array[Int], b: Array[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    def expect(v: Array[Int]): Boolean = denyIds.exists(d => ham(v, hash(d)) <= 6)
    hash.foreach { case (id, v) =>
      assert(verdict(id) == expect(v), s"audio $id: online=${verdict(id)} model=${expect(v)}")
    }
    denyIds.foreach { d =>
      assert(verdict(d), s"deny audio $d must drop")
      assert(verdict(d + 10000L), s"re-encoded twin of deny audio $d must drop")
    }
    assert(auds.map(_._1).exists(id => !verdict(id)), "some non-deny audio survives")
  }

  test("deny multi-probe: an all-band Hamming spread (2+2+1+1) is caught — the single-probe banding loss is closed (r17)") {
    // a near-dup at distance 6 whose differing bits hit EVERY band: no
    // band equal, so the r16 exact-band probe missed it (the replica
    // audit measured this loss class at ≤ 0.1% (e100)); the 1-bit multi-probe
    // guarantees a candidate — some band is within Hamming 1
    val deny = Array(0x1234, 0x0F0F, 0x00FF, 0x5555)
    val idx = MediaOps.MediaDenyIndex(MediaOps.Image,
      Array.tabulate(4)(b => Map(deny(b) -> Array(42L))),
      Map(42L -> deny))
    val spread = Array(deny(0) ^ 0x3, deny(1) ^ 0x9, deny(2) ^ 0x10, deny(3) ^ 0x80)
    val (nCand, hit) = MediaOps.denyProbe(spread, idx)
    assert(nCand == 1 && hit, "Hamming-6 all-band spread must drop under multi-probe")
    // the boundary the guarantee states: all bands >= 2 differing bits
    // (total 8) surfaces no candidate AND sits beyond the verify bar
    val far = Array(deny(0) ^ 0x3, deny(1) ^ 0x9, deny(2) ^ 0x11, deny(3) ^ 0x81)
    assert(!MediaOps.denyProbe(far, idx)._2, "Hamming-8 item must not drop")
  }

  test("imagePairs oneBitProbe: the batch chain's all-band spread miss is recovered; default chain documents the loss (r17)") {
    def key(v: Int): String =
      (0 until 16).map(j => if (((v >> j) & 1) == 1) '1' else '0').mkString + "0" * 64
    val va = Array(0x1234, 0x0F0F, 0x00FF, 0x5555)
    val vb = Array(0x1234 ^ 0x3, 0x0F0F ^ 0x9, 0x00FF ^ 0x10, 0x5555 ^ 0x80)
    val hashes = Seq((1L, va.toSeq, va.toSeq.map(key)), (2L, vb.toSeq, vb.toSeq.map(key)))
      .toDF("doc_id", "v", "bk")
    // Hamming 6 spread 2+2+1+1: every band differs → single-probe
    // banding emits NOTHING (the loss class the replica audit measured
    // at <= 0.1% (e100))
    assert(MediaOps.imagePairs(spark, hashes, 16).count() == 0L,
      "single-probe banding should miss the all-band spread")
    // the one-bit probe guarantees the pair (some band within Hamming 1)
    val hit = MediaOps.imagePairs(spark, hashes, 16, oneBitProbe = true)
      .selectExpr("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSeq
    assert(hit == Seq((1L, 2L, 6L)), s"oneBitProbe must recover the pair: $hit")
  }

  test("q119: stored ANN index probe == inline probe; jittered twins dup on their original, reversed admit new (r14)") {
    val path = Similarity.annIndexPathFor(sf) + "-spec"
    val n = Similarity.buildAnnIndex(spark, sf, path)
    assert(n == Tables.embeddings(spark, sf).count(), "index covers the corpus")
    val stored = Similarity.incrementalAnnStored(spark, sf, path)
      .as[(Long, Int, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    val inline = Similarity.incrementalAnnInline(spark, sf)
      .as[(Long, Int, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(stored == inline, "stored-artifact probe != inline probe")
    val twins = stored.filter(r => r._1 >= 100000 && r._1 < 200000)
    val fresh = stored.filter(_._1 >= 200000)
    assert(twins.nonEmpty && fresh.nonEmpty, "fixture populates both delta kinds")
    // at the spec fixture every jitter survives its cell assignment
    twins.foreach { r =>
      assert(r._3 == r._1 - 100000, s"twin ${r._1} must find its original (got ${r._3})")
      assert(r._5, s"twin ${r._1} must flag duplicate (cos=${r._4})")
    }
    fresh.foreach(r => assert(!r._5, s"reversed ${r._1} must admit as new (cos=${r._4})"))
  }

  test("q118: kNN graph — dense ranks, no self-edges, neighbours are bucket-mates (r14)") {
    val rows = Similarity.knnGraph(spark, sf)
      .as[(Long, Int, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r._1 != r._3, s"self-edge on ${r._1}"))
    // per-vector: ranks are exactly 1..n (n <= 5), cosines non-increasing
    rows.groupBy(_._1).foreach { case (v, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to g.length).toSeq, s"ranks of $v not dense")
      assert(g.length <= 5, s"$v exceeds k")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 >= b._4, s"cosine not monotone for $v")
        case _ =>
      }
    }
    // neighbour lists are bucket-local by design
    val bucketOf = Similarity.withLsh(spark, sf)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    rows.foreach(r => assert(bucketOf(r._1) == bucketOf(r._3),
      s"${r._1}->${r._3} crosses buckets"))
    // symmetry of candidacy: if b lists a at rank 1 with cos c, then a
    // either lists b or has 5 neighbours all >= c (the pair was seen)
    val topByVec = rows.groupBy(_._1)
    topByVec.foreach { case (v, g) =>
      g.foreach { r =>
        val back = topByVec.getOrElse(r._3, Array.empty)
        val listed = back.exists(_._3 == v)
        assert(listed || (back.length == 5 && back.forall(_._4 >= r._4)),
          s"pair ($v,${r._3}) asymmetric without a full better list")
      }
    }
  }

  test("q117: every re-captioned twin flags caption_mismatch; genuine image dups stay consistent (r14)") {
    val nImages = Tables.documents(spark, sf)
      .where("doc_id % 3 = 0 AND length(text) >= 72").count()
    val rows = MediaOps.crossModalAudit(spark, sf)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    // planted re-captions: identical bytes (Hamming 0), reversed caption
    val planted = rows.filter(r => r._2 == r._1 + 10000)
    assert(planted.length == nImages, s"planted recall ${planted.length}/$nImages")
    planted.foreach { r =>
      assert(r._3 == 0, s"identical bytes must hash identically (pair ${r._1})")
      assert(r._5, s"reversed caption must flag mismatch (pair ${r._1}, j=${r._4})")
    }
    // the fixture's genuine image dups carry near-identical captions
    val real = rows.filter(r => r._1 < 10000 && r._2 < 10000)
    assert(real.nonEmpty, "fixture must contain genuine image-dup pairs")
    real.foreach { r =>
      assert(!r._5, s"genuine dup (${r._1},${r._2}) must stay consistent (j=${r._4})")
    }
    rows.foreach(r => assert(!(r._4 > 1.0) && !(r._4 < 0.0), "jaccard in [0,1]"))
  }

  test("q116: residual PQ quantizes strictly better than raw PQ (the q115 design claim) (r14)") {
    val rows = Similarity.pqResidualAudit(spark, sf)
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(rows.keySet == Set("raw", "residual"))
    val raw = rows("raw"); val res = rows("residual")
    assert(raw._2 == res._2, "both variants encode the whole corpus")
    assert(res._3 < raw._3,
      s"residual total distortion ${res._3} must beat raw ${raw._3}")
    assert(res._3 > 0.0, "distortion is not degenerate (codebook smaller than corpus)")
  }

  test("q112: PQ online encode == batch encode route, bit-identical codes and distortion (r14)") {
    // the kmeansAssignVerdict lockstep discipline at PQ grain: the
    // offline-collected codebook and the per-row scan must reproduce the
    // batch expressions' codes AND the double-fold distortion exactly
    val cells = Similarity.fitPqCells(spark, sf)
    assert(cells.length == 32, "4 subspaces x 8 codes (no cell lost at fixture)")
    assert(cells.forall(_.c.length == 16), "sub-dim centroids")
    val batch = Similarity.pqEncodeBatch(spark, sf)
      .as[(Long, Array[Int], Double)].collect()
      .map(t => t._1 -> ((t._2.toSeq, t._3))).toMap
    val online = Similarity.pqEncodeVerdict(
        Tables.embeddings(spark, sf).select("vec_id", "embedding"), cells)
      .as[(Long, Array[Int], Double)].collect()
    assert(online.length == batch.size)
    online.foreach { case (id, codes, qd) =>
      val (bc, bqd) = batch(id)
      assert(codes.toSeq == bc, s"vec $id: online codes $codes != batch $bc")
      assert(qd == bqd, s"vec $id: online qd $qd != batch $bqd (must be bit-identical)")
    }
  }

  test("online k-means and PQ verdicts run the batch kernels: graft_km_best / graft_pq_best, no MapPartitions node") {
    // the online legs call the batch kernels instead of a Scala copy of
    // them, so a per-row argmin loop cannot grow back beside the kernel
    val rows = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val verdicts = Seq(
      "graft_km_best" -> Similarity.kmeansAssignVerdict(rows, Similarity.fitKmeansCells(spark, sf)),
      "graft_pq_best" -> Similarity.pqEncodeVerdict(rows, Similarity.fitPqCells(spark, sf)))
    verdicts.foreach { case (kernel, df) =>
      assert(df.collect().length == rows.count())
      val nodes = PlanWalk.allNodes(PlanWalk.finalPlan(df))
      val calls = nodes.flatMap(_.expressions).exists(_.find(_.prettyName == kernel).isDefined)
      assert(calls, s"$kernel missing from the executed plan:\n${PlanWalk.finalPlan(df)}")
      val mapParts = nodes.filter(_.nodeName.contains("MapPartitions"))
      assert(mapParts.isEmpty, s"$kernel verdict runs a MapPartitions node: ${mapParts.map(_.nodeName)}")
    }
  }

  test("assignment routes reject degenerate (zero-norm) embeddings in LOCKSTEP (r14)") {
    // the advice finding: joined max-struct ranked NaN cos greatest while
    // the closure scan skipped it — now BOTH routes refuse the row at the
    // same stage with the same message (documented precondition)
    val degenerate = Tables.embeddings(spark, sf).limit(3)
      .selectExpr("vec_id", "transform(embedding, x -> cast(0.0 as double)) as e")
    def messageOf(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    val plan = Similarity.fitSeedPlan(spark, sf)
    val cb = Similarity.fitCellCodebook(spark, sf)
    val eJoin = intercept[Throwable] {
      Similarity.assignCellsJoined(degenerate, plan).collect()
    }
    val eClosure = intercept[Throwable] {
      Similarity.assignCells(degenerate, cb).collect()
    }
    Seq(eJoin, eClosure).foreach { e =>
      assert(messageOf(e).contains("cosine cell routing is undefined"),
        s"expected the shared precondition message, got: ${messageOf(e).take(300)}")
    }
  }

  test("q108: top-m deflation basis is orthonormal; m=2 prefix == q106 bit-exact (r14)") {
    val (_, _, vs, _) = Similarity.pcaComponents(spark, sf, m = 4, iters = 3)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    for (i <- vs.indices) {
      assert(math.abs(math.sqrt(dot(vs(i), vs(i))) - 1.0) < 1e-12,
        s"component $i not unit-norm")
      // deflation removes each earlier component from the DATA, so later
      // iterates live in the orthogonal complement up to convergence
      // error of the 3-round power iteration
      for (j <- 0 until i)
        assert(math.abs(dot(vs(i), vs(j))) < 1e-3,
          s"components $j,$i not orthogonal: ${dot(vs(i), vs(j))}")
    }
    // shared kernel + shared starts: the m=2 prefix of q108 must be the
    // q106 result EXACTLY (same rounded grid, same columns)
    val top2 = Similarity.pcaTop2(spark, sf)
      .select("dim", "mu", "loading1", "loading2")
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
    val topM = Similarity.pcaTopM(spark, sf, m = 4)
      .select("dim", "mu", "loading1", "loading2")
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(topM == top2, "q108's first two loadings must equal q106")
  }

  test("artifact guards route through the session's Hadoop FileSystem, not java.io.File (r18, VERDICT r17 #4)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fsguard").toString
    // a scheme-qualified path: java.io.File would treat "file:/..." as a
    // relative path and report missing — the Hadoop FS helper must not
    assert(ScratchPaths.artifactExists(spark, s"file:$dir"),
      "file:-scheme path not resolved through Hadoop FileSystem")
    assert(!new java.io.File(s"file:$dir").exists(),
      "test premise: java.io.File cannot see scheme-qualified paths")
    assert(!ScratchPaths.artifactExists(spark, s"file:$dir/nope"))
    // _SUCCESS-keyed tombstone guard (r17 advice): a crash during the
    // first tombstone append can leave a tombstones dir with no committed
    // parquet — reads must treat it as "no log", not die inferring schema
    val idx = java.nio.file.Files.createTempDirectory("graft-fsguard-idx").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$idx/tombstones"))
    assert(IndexLifecycle.idLogOf(spark, s"$idx/tombstones", "doc_id").count() == 0,
      "uncommitted tombstones dir must read as an empty log")
  }

  test("write-intent marker: a live foreign writer refuses loudly, a stale (crashed) one is stolen (r18, VERDICT r17 #5)") {
    val path = java.nio.file.Files.createTempDirectory("graft-intent").toString
    def bits(v: Long): String =
      (15 to 0 by -1).map(k => if (((v >> k) & 1L) == 1L) '1' else '0').mkString
    val hashes = Seq(1L, 2L, 3L).map { id =>
      (id, Array.tabulate(4)(k => ((id * 2654435761L) ^ k).toInt),
        Array.tabulate(4)(b => bits(b) + bits(id) + "0" * 48))
    }.toDF("doc_id", "v", "bk")
    MediaOps.buildIndexFrom(hashes, path) // stakes and releases its own marker
    val marker = java.nio.file.Paths.get(s"$path/_writer.lock")
    assert(!java.nio.file.Files.exists(marker), "marker must release after the build")
    // a LIVE foreign marker: a second driver is writing — refuse loudly
    java.nio.file.Files.write(marker,
      s"99999@otherhost ${System.currentTimeMillis()}".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      MediaOps.forgetMediaFromIndex(Seq(1L).toDF("doc_id"), path)
    }
    assert(e.getMessage.contains("single-writer-per-path"))
    assert(IndexLifecycle.idLogOf(spark, s"$path/tombstones", "doc_id")
        .count() == 0, "refused write ran anyway")
    // a STALE foreign marker (epoch beyond the TTL = crashed driver):
    // steal it, do the write, release
    java.nio.file.Files.write(marker,
      s"99999@otherhost ${System.currentTimeMillis() - 700000L}".getBytes("UTF-8"))
    assert(MediaOps.forgetMediaFromIndex(Seq(1L).toDF("doc_id"), path) == 1L)
    assert(!java.nio.file.Files.exists(marker), "stolen marker must release")
    // the ANN-side writers share the guard (the rebuild stakes it only
    // for its catchup+commit phase since r19 — the merge is the
    // guard-first writer to pin here)
    java.nio.file.Files.write(marker,
      s"99999@otherhost ${System.currentTimeMillis()}".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      Similarity.mergeDeltaIntoIndex(
        Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"), path)
    }
  }

  test("graft_pq_best (native) == transform/array_min HOF chain, bit-identical incl. ties and empty cells (r21)") {
    // the r21 PQ-encode native expression: this pin is what makes the
    // swap a pure engine optimization — same d arithmetic order, same
    // SQL double ordering (-0.0 == 0.0), ties to the lowest cid, empty
    // cell list → null entry (array_min semantics)
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val m = 3
    // cells engineered so subspace 0 has a TIE on d between cid 1 and 2
    // (identical centroids), subspace 2 has an empty cell list
    val rows = Seq(
      (1L, Array(0.5f, -1.25f, 2.0f, 0.125f, 3.5f, -0.75f)),
      (2L, Array(-2.0f, 0.0f, 1.0f, 1.0f, -1.5f, 0.25f)),
      (3L, Array(0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f)))
      .toDF("vec_id", "embedding")
    val subs = rows.selectExpr("vec_id",
      s"""transform(sequence(0, ${m - 1}), sx -> named_struct('s', sx,
         |'v', slice(embedding, sx * 2 + 1, 2))) as sub0"""
        .stripMargin.replace("\n", " "))
      .selectExpr("vec_id",
        """transform(sub0, x -> named_struct('s', x.s, 'v', x.v,
          |'vv', graft_dot(x.v, x.v))) as subs"""
          .stripMargin.replace("\n", " "))
    val cellRows = Seq(
      (0, 1, Array(1.0, 0.5)), (0, 2, Array(1.0, 0.5)), // tie by value
      (0, 3, Array(9.0, 9.0)),
      (1, 1, Array(0.25, -0.5)), (1, 2, Array(-0.125, 1.0 / 3.0)))
      // subspace 2: NO cells
      .toDF("s", "cid", "c")
    val cells = cellRows
      .selectExpr("s", "cid", "c", "graft_dot(c, c) as cc")
      .agg(sort_array(collect_list(struct(col("s"), col("cid"), col("c"), col("cc")))).as("cells"))
      .selectExpr("cells",
        s"transform(sequence(0, ${m - 1}), sx -> filter(cells, cx -> cx.s = sx)) as bys")
    val joined = subs.crossJoin(broadcast(cells))
    val hof = joined.selectExpr("vec_id",
      s"""transform(sequence(0, ${m - 1}), sx -> array_min(transform(bys[sx],
         |cx -> named_struct('d', (subs[sx].vv - (2 * graft_dot(subs[sx].v, cx.c))) + cx.cc,
         |'cid', cx.cid)))) as best""".stripMargin.replace("\n", " "))
    val nat = joined.selectExpr("vec_id", "graft_pq_best(subs, bys) as best")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getSeq[org.apache.spark.sql.Row](1).map(x =>
          if (x == null) null
          else (java.lang.Double.doubleToLongBits(x.getDouble(0)), x.getInt(1))).toList)
      }.sortBy(_._1).toList
    assert(canon(nat) == canon(hof), "native pq_best != HOF chain")
    // the tie must resolve to the LOWEST cid and the empty subspace to null
    val b1 = canon(nat).head._2
    assert(b1(0) != null && b1(0).asInstanceOf[(Long, Int)]._2 == 1, "tie not lowest-cid")
    assert(b1(2) == null, "empty cell list not null")
  }

  test("graft_pq_adc (native) == aggregate/filter/element_at HOF fold, bit-identical incl. missing-code null (r21)") {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val m = 3
    // dtab: per-subspace (cid, dq) tables; codes pick existing entries,
    // and one row carries a code with NO table entry (null fold)
    val df = Seq(
      (1L, Seq(Seq((1, 0.5), (2, -0.25)), Seq((1, 1.0 / 3.0)), Seq((7, 2.5))),
        Seq(2, 1, 7)),
      (2L, Seq(Seq((1, 0.5), (2, -0.25)), Seq((1, 1.0 / 3.0)), Seq((7, 2.5))),
        Seq(1, 1, 7)))
      .toDF("vec_id", "dtab0", "codes")
      .selectExpr("vec_id",
        "transform(dtab0, t -> transform(t, x -> named_struct('cid', x._1, 'dq', x._2))) as dtab",
        "codes")
    val hof = df.selectExpr("vec_id",
      s"""aggregate(sequence(0, ${m - 1}), cast(0.0 as double),
         |(acc, sx) -> acc + element_at(filter(dtab[sx], tx -> tx.cid = codes[sx]), 1).dq) as adc_d"""
        .stripMargin.replace("\n", " "))
    val nat = df.selectExpr("vec_id", "graft_pq_adc(dtab, codes) as adc_d")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L
        else java.lang.Double.doubleToLongBits(r.getDouble(1)))).sortBy(_._1).toList
    assert(canon(nat) == canon(hof), "native pq_adc != HOF fold")
    // the codebooks cover every stored code by construction, so a
    // missing entry is unreachable in production; on that edge the HOF
    // form ERRORS under ANSI (element_at on the empty filter result)
    // where the native fold yields NULL — strictly more defensive, and
    // a null adc_d sorts last so it could never enter a shortlist
    val missing = df.selectExpr("vec_id", "dtab", "array(1, 1, 9) as codes")
      .selectExpr("graft_pq_adc(dtab, codes) as adc_d")
    assert(missing.collect().forall(_.isNullAt(0)),
      "missing code did not null the fold")
    // the struct-input shape (PqBest output) projects cid identically
    val natStruct = df.selectExpr("vec_id",
      "transform(codes, c -> named_struct('d', cast(0.0 as double), 'cid', c)) as best", "dtab")
      .selectExpr("vec_id", "graft_pq_adc(dtab, best) as adc_d")
    assert(canon(natStruct) == canon(hof), "struct-shaped codes != int codes")
    // r22 (ADVICE r21): a NULL codes entry — what PqBest emits for an
    // empty per-subspace cell list, piped straight in on the search
    // paths — must POISON the fold like the HOF's null cid (the old
    // struct path NPE'd, the old int path silently read code 0)
    val nullStruct = df.selectExpr("vec_id",
      """transform(codes, c -> if(c = 1, cast(null as struct<d:double, cid:int>),
        |named_struct('d', cast(0.0 as double), 'cid', c))) as best"""
        .stripMargin.replace("\n", " "), "dtab")
      .selectExpr("graft_pq_adc(dtab, best) as adc_d")
    assert(nullStruct.collect().forall(_.isNullAt(0)),
      "null codes entry did not null the fold (struct shape)")
    val nullInt = df.selectExpr("vec_id",
      "transform(codes, c -> if(c = 1, cast(null as int), c)) as codes2", "dtab")
      .selectExpr("graft_pq_adc(dtab, codes2) as adc_d")
    assert(nullInt.collect().forall(_.isNullAt(0)),
      "null codes entry did not null the fold (int shape)")
  }

  test("graft_pq_dcode (native) == aggregate + double element_at(filter) HOF fold, bit-identical (r21)") {
    // the q149 stored-code distortion reconstruction: the HOF form
    // walks the per-subspace filter TWICE per row (.c and .cc); the
    // native fold is one scan — this pin makes the swap pure
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val m = 2
    val rows = Seq(
      (1L, Array(0.5f, -1.25f, 2.0f, 0.125f), Seq(2, 1)),
      (2L, Array(-2.0f, 0.0f, 1.0f, 1.0f), Seq(1, 1)))
      .toDF("vec_id", "embedding", "codes")
    val subs = rows.selectExpr("vec_id", "codes",
      s"""transform(sequence(0, ${m - 1}), sx -> named_struct('s', sx,
         |'v', slice(embedding, sx * 2 + 1, 2))) as sub0"""
        .stripMargin.replace("\n", " "))
      .selectExpr("vec_id", "codes",
        """transform(sub0, x -> named_struct('s', x.s, 'v', x.v,
          |'vv', graft_dot(x.v, x.v))) as subs"""
          .stripMargin.replace("\n", " "))
    val cells = Seq(
      (0, 1, Array(1.0, 0.5)), (0, 2, Array(-0.25, 1.0 / 3.0)),
      (1, 1, Array(0.25, -0.5)), (1, 2, Array(0.125, 2.0)))
      .toDF("s", "cid", "c")
      .selectExpr("s", "cid", "c", "graft_dot(c, c) as cc")
      .agg(sort_array(collect_list(struct(col("s"), col("cid"), col("c"), col("cc")))).as("cells"))
      .selectExpr(
        s"transform(sequence(0, ${m - 1}), sx -> filter(cells, cx -> cx.s = sx)) as bys")
    val joined = subs.crossJoin(broadcast(cells))
    val at = (sx: String) =>
      s"element_at(filter(bys[$sx], cx -> cx.cid = codes[$sx]), 1)"
    val hof = joined.selectExpr("vec_id",
      s"""aggregate(sequence(0, ${m - 1}), cast(0.0 as double),
         |(acc, sx) -> acc + ((subs[sx].vv -
         |(2 * graft_dot(subs[sx].v, ${at("sx")}.c))) +
         |${at("sx")}.cc)) as dsum""".stripMargin.replace("\n", " "))
    val nat = joined.selectExpr("vec_id", "graft_pq_dcode(subs, bys, codes) as dsum")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).sortBy(_._1).toList
    assert(canon(nat) == canon(hof), "native pq_dcode != HOF fold")
    // a code with no codebook entry nulls the fold (the PqAdc stance)
    val missing = joined.selectExpr("graft_pq_dcode(subs, bys, array(9, 1)) as dsum")
    assert(missing.collect().forall(_.isNullAt(0)), "missing code did not null")
  }

  test("graft_route_max (native) == array_max/transform cosine HOF chain, bit-identical incl. ties (r21)") {
    // the coarse-routing argmax of every IVF/ANN/PQ build/merge/probe:
    // same dot / (nrm * sqrt(cc)) operation order, SQL double order,
    // ties to the highest nl (= lowest c_label)
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rows = Seq(
      (1L, Array(0.5f, -1.25f, 2.0f, 0.125f)),
      (2L, Array(-2.0f, 0.0f, 1.0f, 1.0f)),
      (3L, Array(0.1f, 0.2f, 0.3f, 0.4f)))
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding",
        "sqrt(graft_dot(embedding, embedding)) as nrm")
    // cells 1 and 2 are SCALED copies of one direction — identical cos,
    // the tie must resolve to the lower c_label
    val cells = Seq(
      (1, Array(1.0, 0.5, -0.25, 2.0)), (2, Array(2.0, 1.0, -0.5, 4.0)),
      (3, Array(-1.0, 1.0 / 3.0, 7.5, 0.125)))
      .toDF("c_label", "centroid")
      .agg(sort_array(collect_list(struct(col("c_label"), col("centroid")))).as("cells"))
    val joined = rows.crossJoin(broadcast(cells))
    val hof = joined.selectExpr("vec_id",
      """array_max(transform(cells, c -> named_struct(
        |'cos', graft_dot(embedding, c.centroid) /
        |  (nrm * sqrt(graft_dot(c.centroid, c.centroid))),
        |'nl', -c.c_label))) as best""".stripMargin.replace("\n", " "))
    val nat = joined.selectExpr("vec_id",
      "graft_route_max(embedding, nrm, cells) as best")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map { r =>
        val b = r.getStruct(1)
        (r.getLong(0),
          java.lang.Double.doubleToLongBits(b.getDouble(0)), b.getInt(1))
      }.sortBy(_._1).toList
    assert(canon(nat) == canon(hof), "native route_max != HOF chain")
    // scaling preserves the cosine exactly only when the scaled dots
    // round identically — assert the tie rule directly instead: two
    // IDENTICAL centroids under different labels
    val tieCells = Seq((2, Array(1.0, 0.5, -0.25, 2.0)), (1, Array(1.0, 0.5, -0.25, 2.0)))
      .toDF("c_label", "centroid")
      .agg(sort_array(collect_list(struct(col("c_label"), col("centroid")))).as("cells"))
    val tie = rows.crossJoin(broadcast(tieCells))
    val tieHof = tie.selectExpr("vec_id",
      """array_max(transform(cells, c -> named_struct(
        |'cos', graft_dot(embedding, c.centroid) /
        |  (nrm * sqrt(graft_dot(c.centroid, c.centroid))),
        |'nl', -c.c_label))) as best""".stripMargin.replace("\n", " "))
    val tieNat = tie.selectExpr("vec_id",
      "graft_route_max(embedding, nrm, cells) as best")
    assert(canon(tieNat) == canon(tieHof), "tie case diverged")
    assert(canon(tieNat).forall(_._3 == -1), "tie not lowest c_label")
  }

  test("graft_km_best (native) == array_min/transform Lloyd-assignment HOF chain, bit-identical (r21)") {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rows = Seq(
      (1L, Array(0.5f, -1.25f, 2.0f, 0.125f)),
      (2L, Array(-2.0f, 0.0f, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding",
        "graft_dot(embedding, embedding) as ee")
    val cells = Seq(
      (1, Array(1.0, 0.5, -0.25, 2.0)), (0, Array(0.1, 0.2, 0.3, 0.4)),
      (2, Array(-1.0, 1.0 / 3.0, 7.5, 0.125)))
      .toDF("cid", "c")
      .selectExpr("cid", "c", "graft_dot(c, c) as cc")
      .agg(sort_array(collect_list(struct(col("cid"), col("c"), col("cc")))).as("cells"))
    val joined = rows.crossJoin(broadcast(cells))
    val hof = joined.selectExpr("vec_id",
      """array_min(transform(cells, x -> named_struct(
        |'d', (ee - (2 * graft_dot(embedding, x.c))) + x.cc,
        |'cid', x.cid))) as best""".stripMargin.replace("\n", " "))
    val nat = joined.selectExpr("vec_id",
      "graft_km_best(embedding, ee, cells) as best")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map { r =>
        val b = r.getStruct(1)
        (r.getLong(0),
          java.lang.Double.doubleToLongBits(b.getDouble(0)), b.getInt(1))
      }.sortBy(_._1).toList
    assert(canon(nat) == canon(hof), "native km_best != HOF chain")
  }

  test("parquetFooterRows == Spark count, flat and partitioned; per-partition footer counts == groupBy (r21)") {
    // the r21 read-back discipline: the index builds' "count what I just
    // wrote" tails answer from the written files' parquet footers (zero
    // Spark jobs) — this pin is what makes that swap a pure job-count
    // optimization: a parquet footer records the writer's exact row
    // count at commit, so the two counts can never diverge
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-footer-").toString
    val df = (0 until 257).map(i => (i.toLong, i % 5, s"v$i"))
      .toDF("id", "cell", "payload")
    df.write.mode("overwrite").parquet(s"$dir/flat")
    assert(IndexLifecycle.parquetFooterRows(spark, s"$dir/flat") ===
      spark.read.parquet(s"$dir/flat").count())
    df.repartition(4).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/part")
    assert(IndexLifecycle.parquetFooterRows(spark, s"$dir/part") === 257L)
    val byPart = IndexLifecycle
      .parquetFooterRowsByPartition(spark, s"$dir/part", "cell")
      .map { case (c, n) => (c.toInt, n) }.sortBy(_._1)
    val byGroup = spark.read.parquet(s"$dir/part")
      .groupBy("cell").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(byPart === byGroup, "per-partition footer counts != groupBy counts")
    // appends accumulate (the media merge priorPop read)
    df.limit(10).write.mode("append").parquet(s"$dir/flat")
    assert(IndexLifecycle.parquetFooterRows(spark, s"$dir/flat") === 267L)
    // hidden paths (r22, ADVICE r21): a crashed prior append leaves
    // task files under `_temporary/` — Spark's scan ignores any path
    // with a `_`/`.` segment, so the footer count must too (the old
    // recursive walk summed them, inflating priorPop / idLog counts)
    df.limit(10).write.mode("overwrite")
      .parquet(s"$dir/flat/_temporary/0/task_1/leftover")
    df.limit(7).write.mode("overwrite").parquet(s"$dir/flat/.hidden")
    assert(spark.read.parquet(s"$dir/flat").count() === 267L,
      "Spark itself must ignore the planted hidden files")
    assert(IndexLifecycle.parquetFooterRows(spark, s"$dir/flat") === 267L,
      "footer count must skip _temporary/.hidden leftovers like the scan")
    // r22: above spark.graft.footerCountFiles the count falls back to
    // the executor-parallel Spark count (the driver pool is the wrong
    // tool at 10⁴⁺ files) — same value on either side of the gate,
    // including the hidden-file semantics
    spark.conf.set("spark.graft.footerCountFiles", "1")
    try {
      assert(IndexLifecycle.parquetFooterRows(spark, s"$dir/flat") === 267L,
        "gated Spark-count path diverged from the footer walk (flat)")
      assert(IndexLifecycle.parquetFooterRows(spark, s"$dir/part") === 257L,
        "gated Spark-count path diverged from the footer walk (partitioned)")
    } finally spark.conf.unset("spark.graft.footerCountFiles")
  }

  test("Par.run2 joins the helper leg before propagating the calling leg's failure (r22)") {
    // VERDICT r21 #4: if leg a throws, leg b's thread must not keep
    // running detached (a write still in flight while the caller
    // unwinds). The helper here blocks until interrupted; run2 must
    // interrupt + join it, so by the time the exception escapes the
    // helper has observably FINISHED (flag set in its finally).
    val helperDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val helperStarted = new java.util.concurrent.CountDownLatch(1)
    val boom = intercept[RuntimeException] {
      Par.run2(
        { helperStarted.await(); throw new RuntimeException("leg a failed") },
        try { helperStarted.countDown(); Thread.sleep(120000); 42 }
        finally helperDone.set(true))
    }
    assert(boom.getMessage === "leg a failed")
    assert(helperDone.get(),
      "helper leg must be joined (finished) before the failure propagates")
  }
}
