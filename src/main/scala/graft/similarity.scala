package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.IndexLifecycle.ArtifactWriter

/** Similarity search over the `embeddings` table (64-d float vectors):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * Scale design (100 TB):
  *  - brute force broadcasts the (tiny) query side; the corpus scan is
  *    one pass, no shuffle, and top-k collapses to TakeOrderedAndProject
  *    (per-partition heaps, then a driver merge of k×partitions rows);
  *  - LSH buckets are per-row expression work; the candidate join
  *    shuffles on the bucket id only (never all pairs), so cost scales
  *    with collision count, not corpus²;
  *  - both keep every arithmetic step inside whole-stage codegen.
  *
  * Cross-engine determinism: dot products and norms are LEFT-TO-RIGHT
  * folds over float→double widened products. Spark's aggregate() and
  * DuckDB's list_reduce both fold left-to-right over identical element
  * values, and IEEE-754 +,*,/,sqrt are exactly rounded, so cosines are
  * bit-identical on both engines — orderings and LIMIT cut-offs agree
  * exactly. Output cosines are floor((x) * 1e6 + 0.5) / 1e6 for display only; sort keys
  * stay unrounded.
  */
/** Partial-aggregation buffer for [[Similarity.VecCentroid]]: element-wise
  * decimal sums + row count. Kryo-encoded (tiny: one buffer per (label,
  * partition), 64 BigDecimals each). */
case class VecMeanBuf(n: Long, sums: Array[java.math.BigDecimal])

object Similarity {

  /** Typed Aggregator computing the element-wise decimal-exact mean of a
    * float-vector column — the centroid build as ONE pass with map-side
    * partial aggregation. The posexplode form shuffled (label, dim) pairs:
    * 64× the corpus row count through the exchange; this shuffles one
    * 64-element buffer per (label, input partition) — at 100 TB that is
    * the difference between a 6.4-trillion-row exchange and a few
    * thousand buffers.
    *
    * Arithmetic is bit-identical to the SQL form it replaces (and to the
    * DuckDB oracle): each float widens to double, takes its shortest
    * decimal representation rounded to scale 12 HALF_UP (= Spark's
    * float→DECIMAL(25,12) cast), sums exactly (order-independent), and
    * the final mean is decimal→double cast divided by the count in
    * double — `cast(sum(cast(v as decimal(25,12))) as double) / n`. */
  object VecCentroid extends org.apache.spark.sql.expressions.Aggregator[
      Array[Float], VecMeanBuf, Array[Double]] {
    import java.math.{BigDecimal => JBD, RoundingMode}
    private def dec(v: Float): JBD =
      new JBD(java.lang.Double.toString(v.toDouble)).setScale(12, RoundingMode.HALF_UP)
    def zero: VecMeanBuf = VecMeanBuf(0L, Array.empty)
    def reduce(b: VecMeanBuf, a: Array[Float]): VecMeanBuf = {
      val sums = if (b.sums.isEmpty) Array.fill(a.length)(JBD.ZERO) else b.sums
      var i = 0
      while (i < a.length) { sums(i) = sums(i).add(dec(a(i))); i += 1 }
      VecMeanBuf(b.n + 1, sums)
    }
    def merge(x: VecMeanBuf, y: VecMeanBuf): VecMeanBuf =
      if (x.sums.isEmpty) y
      else if (y.sums.isEmpty) x
      else {
        val sums = new Array[JBD](x.sums.length)
        var i = 0
        while (i < sums.length) { sums(i) = x.sums(i).add(y.sums(i)); i += 1 }
        VecMeanBuf(x.n + y.n, sums)
      }
    def finish(b: VecMeanBuf): Array[Double] =
      b.sums.map(s => s.doubleValue() / b.n)
    def bufferEncoder: org.apache.spark.sql.Encoder[VecMeanBuf] =
      org.apache.spark.sql.Encoders.kryo[VecMeanBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Centroid per label via [[VecCentroid]] — (label, centroid) frame. */
  private[graft] def centroidsByLabel(s: SparkSession, d: String, outName: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select(col("label"), col("embedding")).as[(Int, Array[Float])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(VecCentroid.toColumn.name("centroid"))
      .toDF(outName, "centroid")
  }

  /** COLLECTED (c_label, centroid) coarse rows — label-count-sized,
    * always driver-sized (the model-fit contract). ONE job; queries
    * whose plan used to embed the [[centroidsByLabel]] agg→broadcast
    * subtree two or three times (the IVF/IVF-PQ chains) now collect
    * once and ride literal relations everywhere (the r15/r21 ladder-
    * fusion discipline). */
  private def coarseRows(s: SparkSession, d: String): Array[(Int, Array[Double])] = {
    import s.implicits._
    centroidsByLabel(s, d, "c_label").as[(Int, Array[Double])].collect()
  }

  /** Literal k-row twin of a collected [[centroidsByLabel]] frame
    * (sorted by label — collect order is partition-arbitrary). The rows
    * ARE the distributed frame's rows, so the values are bit-identical
    * by construction. */
  private[graft] def coarseFrameLit(s: SparkSession,
      rows: Array[(Int, Array[Double])], outName: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(outName, IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
    s.createDataFrame(
      java.util.Arrays.asList(
        rows.sortBy(_._1).map { case (l, c) => Row(l, c.toSeq) }: _*),
      schema)
  }

  /** Literal one-row twin of
    * `centroidsByLabel(..).agg(sort_array(collect_list(struct(c_label,
    * centroid))))` — the broadcast codebook shape every IVF chain
    * consumes. Bit-identity with the distributed form: sort_array on
    * struct(c_label, centroid) orders by c_label (unique, so the
    * centroid never tie-breaks) ≡ the driver sortBy; the doubles are
    * the collected values untouched. ExtensionsSpec pins it. */
  private[graft] def coarseCellsLit(s: SparkSession,
      rows: Array[(Int, Array[Double])], outName: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cellT = StructType(Seq(
      StructField("c_label", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
    s.createDataFrame(
      java.util.Arrays.asList(
        Row(rows.sortBy(_._1).map { case (l, c) => Row(l, c.toSeq) }.toSeq)),
      StructType(Seq(StructField(outName, ArrayType(cellT)))))
  }

  /** Spark SQL: left-to-right dot product of two numeric-array columns,
    * widened to double per element — the native codegen'd
    * [[graft.functions.DotProduct]] expression (bit-identical to the HOF
    * fold `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)`,
    * asserted in ExtensionsSpec). Callers must run on a session that has
    * passed through [[Similarity.withFns]]. */
  private[graft] def dotExpr(a: String, b: String): String =
    s"graft_dot($a, $b)"

  /** Register the engine's native functions on this session (idempotent;
    * sessions launched with spark.sql.extensions=graft.functions.
    * GraftExtensions get them for free). */
  private[graft] def withFns(s: SparkSession): SparkSession = {
    graft.functions.GraftFunctions.ensureRegistered(s); s
  }

  /** DuckDB: same fold, same order, same widening. */
  private[graft] def dotSqlDuck(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a) + 1),
       |i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (p, q) -> p + q)""".stripMargin.replace("\n", " ")

  /** q26 — brute-force cosine top-k: the 20 nearest neighbours of
    * vec_id 0. Query side is a single broadcast row; corpus side is one
    * codegen'd scan; top-k is TakeOrderedAndProject (no full sort). */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    val emb = Tables.embeddings(s, d)
      .selectExpr("vec_id", "label", "embedding",
        s"sqrt(${dotExpr("embedding", "embedding")}) as nrm")
    val query = emb.filter(col("vec_id") === 0)
      .selectExpr("embedding as qe", "nrm as qn")
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(query))
      .selectExpr("vec_id", "label",
        s"${dotExpr("embedding", "qe")} / (nrm * qn) as cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(20)
      .selectExpr("vec_id", "label", "floor((cos) * 1e6 + 0.5) / 1e6 as cosine")
  }

  val cosineTopKSql: String = {
    val dot = dotSqlDuck("e.embedding", "q.embedding")
    val nrm = dotSqlDuck("e.embedding", "e.embedding")
    val qn  = dotSqlDuck("q.embedding", "q.embedding")
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |c AS (SELECT e.vec_id, e.label,
       |  ($dot) / (sqrt($nrm) * sqrt($qn)) AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> 0)
       |SELECT vec_id, label, floor((cos) * 1e6 + 0.5) / 1e6 AS cosine
       |FROM c ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin
  }

  // Deterministic pseudo-random hyperplanes: coef(p, j) =
  // ((p*73856093 + j*19349663) % 97) / 48.0 - 1.0 — pure integer
  // arithmetic then one exact division, identical on both engines.
  //
  // The PLANE COUNT IS DERIVED FROM THE CORPUS (r15 — previously a
  // hardcoded 8, the suite's one named scale-killer): with a fixed
  // 2^8-bucket space, the floor-less pair stages (q118/q122/q123 —
  // pair work = Σ_b occ_b²/2 dots; the triangle cap bounds per-TASK
  // work, not volume) went QUADRATIC at replica scale (the r14 e30
  // audit measured 211M capped candidates).
  //
  // The dial is VOLUME-BUDGETED, not occupancy-derived: planes = the
  // smallest p in [floor, ceil] whose MEASURED candidate-pair volume
  // Σ_b bn·(bn−1)/2 at depth p is ≤ PairBudgetPerRow·n. The naive
  // closed form (p = log₂(n/targetOccupancy), assuming uniform
  // occupancy) FAILS on real embedding corpora: they are label-
  // clustered, a tight cluster off the origin is split only by the
  // minority of sign planes that happen to cut it, and the measured
  // pair volume dropped just ~0.79× per added plane on the e30 replica
  // — the uniform dial left the stages super-linear. Measuring the
  // volume directly subsumes the uniform model (on uniform data the
  // budget rule reduces to the occupancy rule) and self-calibrates to
  // any cluster structure.
  //
  // The probe is ONE narrow aggregation pass: bucket bit p is
  // independent of the plane count (bit p's sign only depends on plane
  // p), so the depth-p bucket is the low-p-bit PREFIX of the depth-40
  // bucket — one scan computes the 40-bit bucket per row, one
  // two-level aggregate yields every depth's pair volume, and the
  // smallest depth under budget wins. O(33·n) narrow rows through one
  // map-side-combined shuffle, once per corpus — an index-build-time
  // statistic at production grain (and there, computed on a
  // deterministic hash-sample with s² rescaling if even that pass is
  // too dear).
  //
  // Exactness across engines: counts, masks and the budget comparison
  // are pure integer arithmetic; the depth-40 bucket's sign bits are
  // the same float→double widened fold both sides (pinned by the
  // ExtensionsSpec equivalence + prefix-stability tests). Both fixture
  // corpora (500 / 2 000 vectors, ≤ 99 pairs/row at depth 8) choose
  // the old 8 at both gate scales — every oracle row is byte-identical
  // — while the e10/e30 replicas (20k/60k vectors) choose 11/15 and
  // hold ~465 pairs/row across the 3× step: the pair stages are linear
  // in n by construction.
  private[graft] val PlanesFloor = 8
  private[graft] val PlanesCeil = 40 // bucket ids stay well under 2^62
  private[graft] val PairBudgetPerRow = 512L

  /** The volume-budgeted plane count of one embedding frame (see
    * header): smallest depth in [PlanesFloor, PlanesCeil] whose
    * same-bucket pair volume is within budget; PlanesCeil if none is.
    * ONE probe job (n rides along as sum(bn) so no separate count).
    * `col` must be a float/double array column named in the frame. */
  private[graft] def adaptivePlanesFor(emb: DataFrame, colName: String): Int = {
    val s = emb.sparkSession
    withFns(s)
    // fast path: the depth-8 volume alone (one shuffle collapsing to
    // ≤256 groups — map-side combined, scheduler-floor cheap). Volume
    // is monotone non-increasing in depth (finer buckets only split
    // groups), so "depth 8 fits" IS the SQL min-rule's answer — every
    // gate-fixture corpus takes this path and the probed queries pay
    // ~one tiny job, not the 33-depth sweep.
    val d8 = emb
      .selectExpr(s"${bucketExpr(colName, PlanesFloor)} as b")
      .groupBy("b").agg(count(lit(1)).as("bn"))
      .agg(sum(expr("(bn * (bn - 1)) div 2")).as("pairs"), sum(col("bn")).as("n"))
      .collect()(0)
    if (d8.isNullAt(0) || d8.getLong(0) <= PairBudgetPerRow * d8.getLong(1))
      PlanesFloor
    else {
      val volumes = emb
        .selectExpr(s"${bucketExpr(colName, PlanesCeil)} as b40")
        .selectExpr(s"explode(sequence(${PlanesFloor + 1}, $PlanesCeil)) as p", "b40")
        .selectExpr("p", "b40 & (shiftleft(1L, p) - 1L) as b")
        .groupBy("p", "b").agg(count(lit(1)).as("bn"))
        .groupBy("p").agg(
          sum(expr("(bn * (bn - 1)) div 2")).as("pairs"),
          sum(col("bn")).as("n"))
        .collect()
      val under = volumes.collect {
        case r if !r.isNullAt(1) && r.getLong(1) <= PairBudgetPerRow * r.getLong(2) =>
          r.getInt(0)
      }
      if (under.isEmpty) PlanesCeil else under.min
    }
  }

  /** The budgeted plane count of one testdata dir's embedding corpus.
    * Queries that bucket a DERIVED corpus (planted twins/clumps —
    * q32/q122/q123) probe THAT corpus via [[adaptivePlanesFor]]
    * directly instead: the pair volume the dial exists to bound is the
    * volume of the frame actually joined, and planted dense clumps are
    * exactly the structure a base-keyed probe under-prices. */
  private[graft] def corpusPlanes(s: SparkSession, d: String): Int =
    cachedPlanes("base", d)(adaptivePlanesFor(Tables.embeddings(s, d), "embedding"))

  /** The plane dial as a persisted standing statistic (VERDICT r15 #4,
    * completed r17 — the machinery the media width dial already uses):
    * one probe per (derived-corpus family, dir) per process; every
    * later bucket consumer in the same ledger reads the scratch file.
    * The key folds in the embeddings table's content fingerprint so a
    * corpus regenerated mid-process re-probes (r16 advice). At
    * production grain this is an index-build-time corpus statistic —
    * the PQ-fit-ladder pricing adjudication applies. */
  private[graft] def cachedPlanes(tag: String, d: String)(compute: => Int): Int =
    graft.ScratchPaths.cachedIntStat(
      s"planes-$tag-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)(
      compute)

  /** DuckDB: the same budgeted selection as an inline scalar subquery
    * mirroring [[adaptivePlanesFor]] term for term (same depth-40
    * prefix trick, same integer pair counts, same budget compare).
    * `src` is the table or earlier CTE holding vector column `col` —
    * the derived-corpus queries point it at their own corpus CTE so
    * both engines probe the same frame. */
  private[graft] def planesSqlDuckFor(src: String, colName: String): String = {
    val proj =
      s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($colName) + 1),
         |i -> $colName[i]::DOUBLE * (((pl * 73856093 + (i - 1) * 19349663) % 97) / 48.0 - 1.0))),
         |(p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val b40 = s"CAST(list_aggregate(list_transform(range(0, $PlanesCeil), " +
      s"pl -> CASE WHEN $proj > 0 THEN (1::BIGINT << pl) ELSE 0::BIGINT END), 'sum') AS BIGINT)"
    s"(SELECT coalesce(min(p), $PlanesCeil) FROM " +
      s"(SELECT p, sum((bn * (bn - 1)) // 2) AS pairs, sum(bn) AS n FROM " +
      s"(SELECT p, b40 & ((1::BIGINT << p) - 1) AS b, count(*) AS bn FROM " +
      s"(SELECT $b40 AS b40 FROM $src), range($PlanesFloor, ${PlanesCeil + 1}) t(p) " +
      s"GROUP BY p, b) GROUP BY p) WHERE pairs <= $PairBudgetPerRow * n)"
  }

  private[graft] val planesSqlDuck: String =
    planesSqlDuckFor("embeddings", "embedding")

  /** Spark SQL: LSH bucket id (`planes` sign bits) of float-array
    * column `e` — the native [[graft.functions.LshBucket]] expression
    * (one node; the planes are a closed-form coefficient computed
    * inline in codegen). The previous form inlined the planes as 8×64
    * literal doubles: ~13 KB of expression text per join side that
    * every optimizer pass and AQE re-optimization re-traversed.
    * ExtensionsSpec pins the two routes bit-identical over the corpus. */
  private[graft] def bucketExpr(e: String, planes: Int = PlanesFloor): String =
    s"graft_lsh_bucket($e, $planes)"

  /** The literal-array formulation the native expression replaced —
    * kept as the cross-checkable reference (ExtensionsSpec asserts
    * equality with [[bucketExpr]] over the corpus; the DuckDB oracle
    * [[bucketSqlDuck]] is this same shape). */
  private[graft] def bucketExprLiteral(e: String, planes: Int = PlanesFloor): String = {
    val bits = (0 until planes).map { p =>
      val coeffs = (0 until 64).map { j =>
        val v = ((p.toLong * 73856093L + j.toLong * 19349663L) % 97L) / 48.0 - 1.0
        s"${v}D"
      }.mkString("array(", ", ", ")")
      s"IF(graft_dot($e, $coeffs) > 0, ${1L << p}L, 0L)"
    }
    bits.mkString("(", " + ", ")")
  }

  /** DuckDB: same bucket id, with the plane count derived IN SQL from
    * the same corpus count ([[planesSqlDuck]]) — the oracle string is
    * static, so the derivation must live inside the expression. Nested
    * lambdas: outer `pl` ranges over planes, inner `i` over dims; the
    * projection fold and coefficient arithmetic are byte-identical to
    * the fixed-plane form this replaced (and to the Spark native
    * expression), and DuckDB folds the uncorrelated scalar subquery to
    * a constant. list_aggregate('sum') widens to HUGEINT → cast back
    * to BIGINT (bucket ids stay ≤ 2^40 by the PlanesCeil clamp). */
  private[graft] def bucketSqlDuck(e: String): String =
    bucketSqlDuckIn(e, planesSqlDuck)

  /** [[bucketSqlDuck]] with an explicit plane-count SQL (a literal or a
    * [[planesSqlDuckFor]] subquery over the actually-bucketed frame). */
  private[graft] def bucketSqlDuckIn(e: String, planesSql: String): String = {
    val proj =
      s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($e) + 1),
         |i -> $e[i]::DOUBLE * (((pl * 73856093 + (i - 1) * 19349663) % 97) / 48.0 - 1.0))),
         |(p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    s"CAST(list_aggregate(list_transform(range(0, CAST($planesSql AS BIGINT)), " +
      s"pl -> CASE WHEN $proj > 0 THEN (1::BIGINT << pl) ELSE 0::BIGINT END), 'sum') AS BIGINT)"
  }

  /** Corpus annotated with norm + LSH bucket (exposed for tests), in
    * the corpus-derived bucket space (`planes` from [[corpusPlanes]] —
    * pass it in when the caller also needs the count, e.g. for probe
    * generation). */
  private[graft] def withLsh(s: SparkSession, d: String): DataFrame =
    withLsh(s, d, corpusPlanes(s, d))

  private[graft] def withLsh(s: SparkSession, d: String, planes: Int): DataFrame = {
    withFns(s)
    Tables.embeddings(s, d)
      .selectExpr("vec_id", "label", "embedding",
        s"sqrt(${dotExpr("embedding", "embedding")}) as nrm",
        s"${bucketExpr("embedding", planes)} as bucket")
  }

  /** q27 — LSH-bucketed approximate nearest neighbours: for each query
    * (vec_id < 10), the top-5 same-bucket candidates by exact cosine.
    * Candidate generation touches only bucket collisions; the bucket id
    * is per-row expression work computed in the same scan as the norm. */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val emb = withLsh(s, d)
    val queries = emb.filter(col("vec_id") < 10)
      .selectExpr("vec_id as q_id", "embedding as qe", "nrm as qn", "bucket")
    val ranked = emb
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id", "label", "bucket",
        s"${dotExpr("embedding", "qe")} / (nrm * qn) as cos")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
    // no trailing presentation sort (see RelOps header): the gate's
    // compare is row-order-insensitive, and an un-limited orderBy would
    // range-sample — re-executing the join+window — per action
    ranked.selectExpr("q_id", "rank", "vec_id", "label", "bucket",
      "floor((cos) * 1e6 + 0.5) / 1e6 as cosine")
  }

  val annLshSql: String = {
    val dot = dotSqlDuck("e.embedding", "q.embedding")
    s"""WITH b AS (SELECT vec_id, label, embedding,
       |  sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm,
       |  ${bucketSqlDuck("embedding")} AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding, nrm AS qn, bucket FROM b WHERE vec_id < 10),
       |c AS (SELECT q.q_id, e.vec_id, e.label, e.bucket,
       |  ($dot) / (e.nrm * q.qn) AS cos
       |  FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM c)
       |SELECT q_id, rank, vec_id, label, bucket, floor((cos) * 1e6 + 0.5) / 1e6 AS cosine
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** q82 — multi-probe LSH ANN: q27 with Hamming-1 probing. q81's audit
    * measured WHY plain bucketing under-recalls on this corpus (true
    * neighbours at cos ≈ 0.5 ⇒ per-plane collision prob ≈ 0.67 ⇒ an
    * 8-plane exact-match bucket keeps ~4% of them); the standard dial is
    * to probe the query's own bucket PLUS the 8 buckets that differ in
    * one sign bit (Lv et al., VLDB 2007) — candidates whose signature
    * disagrees on at most one hyperplane.
    *
    * Scale shape: probe expansion multiplies the QUERY side only (9
    * probe rows per query, still a broadcast); the corpus side is the
    * same single scan + broadcast hash join on the bucket id as q27 —
    * zero corpus shuffle, candidate count grows ~9× per query, corpus
    * work stays O(collisions), never all-pairs. Each corpus vector owns
    * exactly one bucket and a query's 9 probes are distinct, so
    * (q_id, vec_id) candidates are already unique — no distinct step. */
  def annMultiProbe(s: SparkSession, d: String): DataFrame = {
    val np = corpusPlanes(s, d)
    val emb = withLsh(s, d, np)
    val probes = (0 until np).map(p => s"bucket ^ ${1L << p}L").mkString(", ")
    val queries = emb.filter(col("vec_id") < 10)
      .selectExpr("vec_id as q_id", "embedding as qe", "nrm as qn",
        s"explode(array(bucket, $probes)) as probe")
    val ranked = emb
      .join(broadcast(queries), col("bucket") === col("probe"))
      .filter(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id", "label", "bucket",
        s"${dotExpr("embedding", "qe")} / (nrm * qn) as cos")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
    ranked.selectExpr("q_id", "rank", "vec_id", "label", "bucket",
      "floor((cos) * 1e6 + 0.5) / 1e6 as cosine")
  }

  val annMultiProbeSql: String = {
    val dot = dotSqlDuck("e.embedding", "q.qe")
    // Hamming-1 probes over the DERIVED plane count (one per plane),
    // generated in SQL so the probe set tracks the bucket space
    val probes = s"unnest(list_prepend(bucket, list_transform(" +
      s"range(0, CAST($planesSqlDuck AS BIGINT)), pp -> xor(bucket, (1::BIGINT << pp)))))"
    s"""WITH b AS (SELECT vec_id, label, embedding,
       |  sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm,
       |  ${bucketSqlDuck("embedding")} AS bucket FROM embeddings),
       |q0 AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qn, bucket FROM b WHERE vec_id < 10),
       |q AS (SELECT q_id, qe, qn, $probes AS probe FROM q0),
       |c AS (SELECT q.q_id, e.vec_id, e.label, e.bucket,
       |  ($dot) / (e.nrm * q.qn) AS cos
       |  FROM b e JOIN q ON e.bucket = q.probe AND e.vec_id <> q.q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM c)
       |SELECT q_id, rank, vec_id, label, bucket, floor((cos) * 1e6 + 0.5) / 1e6 AS cosine
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** q28 — label-centroid assignment: mean vector per label (element-wise
    * decimal-exact average via the [[VecCentroid]] typed Aggregator — one
    * pass, partial aggregation, no row amplification), then each vector's
    * cosine to its own label centroid — the IVF coarse-quantizer step of
    * an ANN index, expressed as one typed agg + one broadcast join. */
  def labelCentroids(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    val emb = Tables.embeddings(s, d)
    // centroid norm computed ONCE per label in the 10-row broadcast frame
    // (same bits as per-row recompute — sqrt of the identical dot)
    val centroids = centroidsByLabel(s, d, "label")
      .selectExpr("label", "centroid", s"sqrt(${dotSparkDD("centroid")}) as c_nrm")
    emb.join(broadcast(centroids), Seq("label"))
      .selectExpr("vec_id", "label",
        s"""${dotExpr("embedding", "centroid")} /
           |(sqrt(${dotExpr("embedding", "embedding")}) * c_nrm) as cos"""
          .stripMargin.replace("\n", " "))
      .selectExpr("vec_id", "label", "floor((cos) * 1e6 + 0.5) / 1e6 as cos_to_centroid")
  }

  /** Spark SQL: dot of a double-array column with itself. */
  private def dotSparkDD(a: String): String = s"graft_dot($a, $a)"

  val labelCentroidsSql: String =
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |j AS (SELECT e.vec_id, e.label,
       |  (list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
       |     i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p, q) -> p + q))
       |  / (sqrt(${dotSqlDuck("e.embedding", "e.embedding")})
       |     * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
       |         i -> c.centroid[i] * c.centroid[i])), (p, q) -> p + q))) AS cos
       |  FROM embeddings e JOIN c ON e.label = c.label)
       |SELECT vec_id, label, floor((cos) * 1e6 + 0.5) / 1e6 AS cos_to_centroid
       |FROM j ORDER BY vec_id""".stripMargin

  /** Centroid codebook + nearest-centroid assignment for every vector
    * (argmax cosine over the 10 centroids, label tie-break) — the IVF
    * coarse quantizer.
    *
    * The codebook collapses to ONE broadcast row holding
    * array<struct<c_label, centroid>>, and the assignment is a per-row
    * `array_max` over the per-cell cosines — the corpus never shuffles
    * and never amplifies. (The previous form cross-joined the 10-row
    * codebook and ranked with a window over vec_id: 10× the corpus
    * pushed through a keyed exchange — the difference between zero and
    * one corpus-sized shuffle at 100 TB.)
    *
    * Selection semantics are EXACTLY the window's
    * `row_number() over (order by c_cos desc, c_label asc) = 1`:
    * array_max on struct<cos, -c_label> compares lexicographically with
    * Spark's double ordering (NaN greatest, same as sort-desc), so the
    * highest cosine wins and ties break to the LOWEST label. Cosine
    * arithmetic is unchanged (same dots, same division order). */
  private def ivfAssigned(s: SparkSession, d: String): DataFrame =
    ivfAssignedWith(s, d, coarseRows(s, d))

  private def ivfAssignedWith(s: SparkSession, d: String,
      rows: Array[(Int, Array[Double])]): DataFrame = {
    withFns(s)
    val emb = Tables.embeddings(s, d)
    val codebook = coarseCellsLit(s, rows, "cells")
    emb.crossJoin(broadcast(codebook))
      // vector norm hoisted out of the 10-cell fold (same bits — sqrt of
      // the identical dot, just computed once per row instead of per cell)
      .selectExpr("vec_id", "label", "embedding", "cells",
        s"sqrt(${dotExpr("embedding", "embedding")}) as nrm")
      .selectExpr("vec_id", "label", "embedding",
        // r21: native routing argmax (graft.functions.RouteMax) — ≡ the
        // array_max/transform HOF chain, bit-identical (ExtensionsSpec
        // pin); one primitive loop per row, codegen restored
        "graft_route_max(embedding, nrm, cells) as best")
      .selectExpr("vec_id", "label", "embedding", "cast(-best.nl as int) as c_label")
  }

  /** q38 — IVF search: route the query (vec 0) to its nearest centroid,
    * exact-search only that cell, top-10 by cosine. At 100 TB the
    * assignment is written once (partitioned by cell) and a probe scans
    * ~1/k of the corpus; here both stages run inline. Exactly the
    * q26 machinery with the scan bounded by the coarse quantizer. */
  def ivfSearch(s: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssigned(s, d)
      .transform(Tables.maybePersist)
    val query = assigned.filter(col("vec_id") === 0)
      .selectExpr("embedding as qe", s"sqrt(${dotExpr("embedding", "embedding")}) as qn",
                  "c_label as q_cell")
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(query), col("c_label") === col("q_cell"))
      .selectExpr("vec_id", "label", "c_label",
        s"${dotExpr("embedding", "qe")} / (sqrt(${dotExpr("embedding", "embedding")}) * qn) as cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
      .selectExpr("vec_id", "label", "c_label", "floor((cos) * 1e6 + 0.5) / 1e6 as cosine")
  }

  val ivfSearchSql: String = {
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, label, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dotSqlDuck("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |a AS (SELECT vec_id, label, embedding, c_label FROM asg WHERE rn = 1),
       |q AS (SELECT embedding AS qe,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS qn, c_label AS q_cell
       |  FROM a WHERE vec_id = 0),
       |r AS (SELECT a.vec_id, a.label, a.c_label,
       |    (${dotSqlDuck("a.embedding", "q.qe")})
       |    / (sqrt(${dotSqlDuck("a.embedding", "a.embedding")}) * q.qn) AS cos
       |  FROM a JOIN q ON a.c_label = q.q_cell WHERE a.vec_id <> 0)
       |SELECT vec_id, label, c_label, floor((cos) * 1e6 + 0.5) / 1e6 AS cosine
       |FROM r ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  /** q86 — IVF search with nprobe = 2: q38's recall dial (the q82 story
    * for the OTHER ANN family — a coarse quantizer's nearest cell can
    * miss true neighbours that sit just across a Voronoi boundary, and
    * the standard fix is probing the top-nprobe cells). The query routes
    * to its TWO nearest centroids (descending cosine, ties to the lowest
    * label — the q38 selection semantics extended to rank 2) and the
    * exact search scans both cells: ~2/k of the corpus instead of 1/k,
    * still never all of it. The probe expansion multiplies only the
    * broadcast query side (2 rows); the corpus-side assignment frame is
    * unchanged. */
  def ivfSearchProbe2(s: SparkSession, d: String): DataFrame = {
    val rows = coarseRows(s, d) // ONE collect feeds routing AND the top-2 probe
    val assigned = ivfAssignedWith(s, d, rows)
      .transform(Tables.maybePersist)
    val codebook = coarseCellsLit(s, rows, "cells")
    val query = assigned.filter(col("vec_id") === 0)
      .crossJoin(broadcast(codebook))
      .selectExpr("embedding as qe", s"sqrt(${dotExpr("embedding", "embedding")}) as qn",
        s"""slice(reverse(array_sort(transform(cells, c -> named_struct(
           |  'cos', ${dotExpr("embedding", "c.centroid")} /
           |    (sqrt(${dotExpr("embedding", "embedding")}) * sqrt(graft_dot(c.centroid, c.centroid))),
           |  'nl', -c.c_label)))), 1, 2) as top2"""
          .stripMargin.replace("\n", " "))
      .selectExpr("qe", "qn", "explode(top2) as probe")
      .selectExpr("qe", "qn", "cast(-probe.nl as int) as q_cell")
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(query), col("c_label") === col("q_cell"))
      .selectExpr("vec_id", "label", "c_label",
        s"${dotExpr("embedding", "qe")} / (sqrt(${dotExpr("embedding", "embedding")}) * qn) as cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
      .selectExpr("vec_id", "label", "c_label", "floor((cos) * 1e6 + 0.5) / 1e6 as cosine")
  }

  val ivfSearchProbe2Sql: String = {
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, label, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dotSqlDuck("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |a AS (SELECT vec_id, label, embedding, c_label FROM asg WHERE rn = 1),
       |q AS (SELECT embedding AS qe,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS qn, c_label AS q_cell
       |  FROM asg WHERE vec_id = 0 AND rn <= 2),
       |r AS (SELECT a.vec_id, a.label, a.c_label,
       |    (${dotSqlDuck("a.embedding", "q.qe")})
       |    / (sqrt(${dotSqlDuck("a.embedding", "a.embedding")}) * q.qn) AS cos
       |  FROM a JOIN q ON a.c_label = q.q_cell WHERE a.vec_id <> 0)
       |SELECT vec_id, label, c_label, floor((cos) * 1e6 + 0.5) / 1e6 AS cosine
       |FROM r ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q84 — Lloyd k-means over the embedding corpus: the clustering step of
  // cluster-based data curation (topic balancing, cluster-stratified
  // mixing, SemDeDup-style cell refinement — the refinement iterations
  // q75 deliberately omits, here as their own operator). k seeds drawn
  // in md5(vec_id) order (the q34/q79 deterministic-sample idiom, cid =
  // ascending-md5 rank), then `iters` Lloyd rounds: assign each vector
  // to its nearest centroid by squared L2, recompute centroids as
  // per-dim decimal-exact means. Report: per-cluster size + inertia.
  //
  // Scale shape (100 TB): centroids are always a k-row frame riding a
  // one-row broadcast (the q38 codebook shape) — assignment is per-row
  // expression work, ZERO corpus exchange; each round's centroid update
  // is ONE keyed exchange carrying k×partitions decimal buffers (the
  // VecCentroid map-side partial agg — never (vec, dim) pairs). Total:
  // iters+1 corpus passes, the canonical distributed-Lloyd cost; the
  // iteration count is a constant, not data-dependent.
  //
  // Cross-engine determinism: dist² = (ee − 2·ec) + cc with each dot a
  // left-to-right float→double-widened fold (bit-identical both
  // engines); ties break to the LOWEST cid via lexicographic array_min
  // on struct<d, cid> ≡ the oracle's row_number ORDER BY d, cid.
  // Centroid means are the q28 VecCentroid discipline (decimal-exact
  // sums, one double division). Inertia follows the q74 micro-unit
  // rule: per-row floor(d·1e6 + 0.5) into exact BIGINT sums — no
  // order-dependent double accumulation crosses an aggregate. Clusters
  // that lose all members drop out (no row, both engines).
  // ---------------------------------------------------------------------

  /** One-row broadcastable codebook: cells = sorted array of
    * struct(cid, c, cc) from a (cid, c: array<double>) frame. Since the
    * r21 ladder fusion the production fit path builds the codebook
    * driver-side ([[kmCellsLocal]]); this distributed form remains the
    * reference the ExtensionsSpec bit-equivalence pin checks against. */
  private[graft] def kmCellsOf(cdf: DataFrame): DataFrame =
    cdf.selectExpr("cid", "c", s"${dotExpr("c", "c")} as cc")
      .agg(sort_array(collect_list(struct(col("cid"), col("c"), col("cc")))).as("cells"))

  /** Nearest-centroid assignment: (vec_id, embedding, ee) × cells →
    * + (cid, d) — per-row argmin, no corpus exchange. */
  private[graft] def kmAssign(emb: DataFrame, cells: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cells))
      .selectExpr("vec_id", "embedding", "ee",
        // r21: native Lloyd-assignment argmin (graft.functions.KmBest) —
        // ≡ the array_min/transform HOF chain, bit-identical (pin)
        "graft_km_best(embedding, ee, cells) as best")
      .selectExpr("vec_id", "embedding", "best.cid as cid", "best.d as d")

  /** Per-cluster decimal-exact centroid recompute (VecCentroid keyed by
    * the round's assignment). */
  private def kmCentroids(assigned: DataFrame): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    assigned.select(col("cid"), col("embedding")).as[(Int, Array[Float])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(VecCentroid.toColumn.name("c"))
      .toDF("cid", "c")
  }

  /** Driver-side twin of [[kmCellsOf]] for a COLLECTED (cid, c) set
    * (k rows — always driver-sized, the model-fit contract): builds the
    * one-row cells codebook as a literal local relation. Bit-identity
    * with the distributed form: cc is the same ascending c(j)·c(j) fold
    * as graft_dot over the same doubles, and the sort by cid ≡
    * sort_array's struct order (cid is unique, so later fields never
    * tie-break) — ExtensionsSpec pins the equivalence. Same r15
    * rationale as [[pqCellsLocal]]: a literal codebook broadcast costs
    * ~one empty job, where the chained agg→collect_list→broadcast
    * subtree costs 2–3 driver-blocking jobs PER LLOYD ITERATION. */
  private[graft] def kmCellsLocal(s: SparkSession, rows: Array[(Int, Array[Double])]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cells = rows.sortBy(_._1).map { case (cid, c) =>
      var cc = 0.0
      var j = 0
      while (j < c.length) { cc += c(j) * c(j); j += 1 }
      Row(cid, c.toSeq, cc)
    }
    val cellT = StructType(Seq(
      StructField("cid", IntegerType),
      StructField("c", ArrayType(DoubleType)),
      StructField("cc", DoubleType)))
    val schema = StructType(Seq(StructField("cells", ArrayType(cellT))))
    s.createDataFrame(java.util.Arrays.asList(Row(cells.toSeq)), schema)
  }

  /** The Lloyd loop over an annotated (vec_id, embedding, ee) frame:
    * returns the final one-row cells frame — a LITERAL local relation
    * (r21 ladder fusion, the r15 [[pqFitCells]] discipline): each rung
    * COLLECTS its k-row centroid set (one driver-blocking job) and
    * rebuilds the codebook via [[kmCellsLocal]], so the fit is exactly
    * 1 (seed collect) + iters (assignment+centroid agg) jobs. The old
    * chained form re-aggregated and re-broadcast the codebook inside
    * the consumer plan, paying 2–3 extra driver-blocking jobs per
    * round for k-row frames — the q84/q88/q124/q125 family's wall at
    * fixture scale was this sequential job ladder, not compute.
    * Fitted values are unchanged: the collected rows ARE the old
    * chain's intermediate frame, and [[kmCellsLocal]] reproduces
    * [[kmCellsOf]] bit-for-bit (ExtensionsSpec pins the equivalence). */
  private[graft] def kmFitLoop(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    var cellsArr = emb
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h")).limit(k)
      // single-partition window over k rows only (the q56 post-limit idiom)
      .withColumn("cid", row_number().over(Window.orderBy(col("h"))) - 1)
      .selectExpr("cid", "transform(embedding, x -> cast(x as double)) as c")
      .as[(Int, Array[Double])].collect()
    for (_ <- 1 to iters)
      cellsArr = kmCentroids(kmAssign(emb, kmCellsLocal(s, cellsArr)))
        .as[(Int, Array[Double])].collect()
    kmCellsLocal(s, cellsArr)
  }

  /** The Lloyd loop: returns (corpus frame, final one-row cells frame). */
  private[graft] def kmFitFrames(s: SparkSession, d: String, k: Int,
                          iters: Int): (DataFrame, DataFrame) = {
    withFns(s)
    val emb = Tables.embeddings(s, d)
      .selectExpr("vec_id", "embedding", s"${dotExpr("embedding", "embedding")} as ee")
      .transform(Tables.maybePersist)
    (emb, kmFitLoop(emb, k, iters))
  }

  def kmeansClusters(s: SparkSession, d: String, k: Int = 10, iters: Int = 3): DataFrame = {
    val (emb, cells) = kmFitFrames(s, d, k, iters)
    kmAssign(emb, cells)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        sum(floor(col("d") * 1e6 + 0.5).cast("long")).as("im"))
      .selectExpr("cid", "n_members", "im / 1e6 as inertia")
  }

  /** A fitted k-means cell: centroid + its precomputed self-dot. */
  case class KmCell(cid: Int, c: Array[Double], cc: Double)

  /** Fit the q84 centroids and collect them (k×dim doubles — always
    * driver-sized), for the online assignment leg. */
  def fitKmeansCells(s: SparkSession, d: String, k: Int = 10,
                     iters: Int = 3): Array[KmCell] = {
    import s.implicits._
    val (_, cells) = kmFitFrames(s, d, k, iters)
    cells.selectExpr("explode(cells) as x")
      .selectExpr("x.cid", "x.c", "x.cc")
      .as[(Int, Array[Double], Double)]
      .collect().sortBy(_._1)
      .map { case (cid, c, cc) => KmCell(cid, c, cc) }
  }

  /** q84's assignment as a stateless per-row transform (the
    * classifierVerdict discipline) — score any (vec_id, embedding)
    * frame, batch or streaming, against an offline-fitted codebook.
    * Arithmetic mirrors the batch [[kmAssign]] expression operation-
    * for-operation: ee and ec are ascending-index float→double-widened
    * folds, d = (ee − 2·ec) + cc, and the ascending-cid
    * strict-improvement scan ≡ array_min over struct<d, cid> (lowest d,
    * ties to the lowest cid) — a vector lands in the SAME cell online
    * and offline (spec-pinned bit-identity). */
  def kmeansAssignVerdict(df: DataFrame, cells: Array[KmCell]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val sorted = cells.sortBy(_.cid)
    df.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          var ee = 0.0
          var i = 0
          while (i < e.length) { val x = e(i).toDouble; ee += x * x; i += 1 }
          var bestD = Double.PositiveInfinity
          var bestC = Int.MaxValue
          var p = 0
          while (p < sorted.length) {
            val cell = sorted(p)
            var ec = 0.0
            var j = 0
            while (j < cell.c.length) { ec += e(j).toDouble * cell.c(j); j += 1 }
            val dd = (ee - (2 * ec)) + cell.cc
            if (dd < bestD) { bestD = dd; bestC = cell.cid }
            p += 1
          }
          (id, bestC, bestD)
        }
      }
      .toDF("vec_id", "cid", "d")
  }

  /** The q84 Lloyd loop as reusable DuckDB CTEs (through `fin`:
    * (vec_id, cid, d) — also read by the q88 mixing chain). */
  private def kmeansCtesSql(k: Int, iters: Int): String = {
    def dotDuck(a: String, b: String) = dotSqlDuck(a, b)
    // one Lloyd round: assignment against centroid CTE `cPrev` → `aN`,
    // then per-dim decimal means → `cN` (the q28 oracle shape, keyed by
    // cid instead of label)
    def round(n: Int, cPrev: String): String = {
      val dist = s"((e.ee - (2 * ${dotDuck("e.embedding", "c.c")})) + c.cc)"
      s"""a$n AS (SELECT vec_id, embedding, cid, d FROM (
         |  SELECT e.vec_id, e.embedding, c.cid, $dist AS d,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY $dist, c.cid) AS rn
         |  FROM e0 e CROSS JOIN $cPrev c) WHERE rn = 1),
         |c$n AS (SELECT cid, list(cv ORDER BY dim) AS c,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(list(cv ORDER BY dim),
         |      x -> x * x)), (p_, q_) -> p_ + q_) AS cc
         |  FROM (SELECT cid, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
         |    FROM (SELECT cid, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
         |      FROM (SELECT cid, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM a$n))
         |    GROUP BY cid, dim) GROUP BY cid)""".stripMargin
    }
    val rounds = (1 to iters).map(n => round(n, s"c${n - 1}")).mkString(",\n")
    val distF = s"((e.ee - (2 * ${dotDuck("e.embedding", "c.c")})) + c.cc)"
    s"""e0 AS (SELECT vec_id, embedding,
       |  ${dotDuck("embedding", "embedding")} AS ee FROM embeddings),
       |sd AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cid, embedding
       |  FROM embeddings ORDER BY md5(vec_id::VARCHAR) LIMIT $k),
       |c0 AS (SELECT cid, list_transform(embedding, x -> x::DOUBLE) AS c,
       |  ${dotDuck("embedding", "embedding")} AS cc FROM sd),
       |$rounds,
       |fin AS (SELECT vec_id, cid, d FROM (
       |  SELECT e.vec_id, c.cid, $distF AS d,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY $distF, c.cid) AS rn
       |  FROM e0 e CROSS JOIN c$iters c) WHERE rn = 1)""".stripMargin
  }

  val kmeansClustersSql: String =
    s"""WITH ${kmeansCtesSql(10, 3)}
       |SELECT cid, COUNT(*)::BIGINT AS n_members,
       |  SUM(CAST(floor(d * 1e6 + 0.5) AS BIGINT)) / 1e6 AS inertia
       |FROM fin GROUP BY cid ORDER BY cid""".stripMargin

  // ---------------------------------------------------------------------
  // q88 — cluster-balanced sampling: q67's temperature-mixing discipline
  // keyed by q84's TOPIC CLUSTERS instead of the source column — the
  // curation step that rebalances a corpus by discovered content
  // clusters (a dominant boilerplate cluster gets down-sampled, small
  // topical clusters keep everything) rather than by provenance. Exactly
  // q67's arithmetic: per cluster q_c = floor(sqrt(n_c)·1e6 + 0.5)
  // (integer-quantized BEFORE the normalizing sum — order-independent
  // BIGINT total), rate_c = min(1, w_c·N/n_c) with N = ⌊total/2⌋, and
  // the q51 deterministic md5-bucket keep — no RNG, replay-stable.
  //
  // Scale shape: the assignment frame (from the q84 loop) crosses ONE
  // keyed count aggregate to k rows; the rate table (k rows) broadcasts
  // back; the keep decision is per-row hash work. The corpus crosses no
  // additional exchange beyond the q84 assignment chain it reuses.
  // ---------------------------------------------------------------------

  def clusterBalancedMix(s: SparkSession, d: String, k: Int = 10, iters: Int = 3): DataFrame = {
    val (emb, cells) = kmFitFrames(s, d, k, iters)
    val assigned = kmAssign(emb, cells).select("vec_id", "cid")
      .transform(Tables.maybePersist)
    val stats = assigned.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      .selectExpr("cid", "n_vecs",
        "cast(floor(sqrt(cast(n_vecs as double)) * 1e6 + 0.5) as bigint) as q")
      .transform(Tables.maybePersist)
    val totals = stats.agg(sum(col("q")).as("q_total"), sum(col("n_vecs")).as("vecs_total"))
    val rates = stats.crossJoin(broadcast(totals))
      .selectExpr("cid",
        "cast(q as double) / cast(q_total as double) as w",
        """least(1.0D, (cast(q as double) / cast(q_total as double)
          |  * cast(cast(floor(cast(vecs_total as double) / 2) as bigint) as double))
          |  / cast(n_vecs as double)) as rate""".stripMargin.replace("\n", " "))
      .selectExpr("cid", "w",
        "cast(floor(rate * 1e6 + 0.5) as bigint) as keep_micro")
    val bucket =
      "cast(conv(substr(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint) % 1000000"
    assigned.join(broadcast(rates), Seq("cid"))
      .selectExpr("cid", "w", "keep_micro",
        s"case when $bucket < keep_micro then 1 else 0 end as kept")
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
           max(col("w")).as("wc"),
           max(col("keep_micro")).as("rate_micro"),
           sum(col("kept")).as("n_sampled"))
      .selectExpr("cid", "n_vecs",
        "floor(wc * 1e6 + 0.5) / 1e6 as weight", "rate_micro", "n_sampled")
  }

  val clusterBalancedMixSql: String = {
    val b = "('0x' || substr(md5(f.vec_id::VARCHAR), 1, 8))::BIGINT % 1000000"
    s"""WITH ${kmeansCtesSql(10, 3)},
       |s AS (SELECT cid, COUNT(*)::BIGINT AS n_vecs FROM fin GROUP BY cid),
       |w AS (SELECT cid, n_vecs,
       |        floor(sqrt(n_vecs::DOUBLE) * 1e6 + 0.5)::BIGINT AS q FROM s),
       |t AS (SELECT SUM(q)::BIGINT AS q_total, SUM(n_vecs)::BIGINT AS vecs_total FROM w),
       |r AS (SELECT cid, q::DOUBLE / q_total::DOUBLE AS w,
       |        floor(least(1.0, (q::DOUBLE / q_total::DOUBLE
       |          * floor(vecs_total::DOUBLE / 2)::BIGINT::DOUBLE)
       |          / n_vecs::DOUBLE) * 1e6 + 0.5)::BIGINT AS keep_micro
       |      FROM w, t),
       |kk AS (SELECT f.cid, r.w, r.keep_micro,
       |        CASE WHEN $b < r.keep_micro THEN 1 ELSE 0 END AS kept
       |      FROM fin f JOIN r USING (cid))
       |SELECT cid, COUNT(*)::BIGINT AS n_vecs,
       |  floor(max(w) * 1e6 + 0.5) / 1e6 AS weight,
       |  max(keep_micro)::BIGINT AS rate_micro,
       |  SUM(kept)::BIGINT AS n_sampled
       |FROM kk GROUP BY cid ORDER BY cid""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q124 — CENTROID-DISTANCE OUTLIER PRUNING (r14): the noise-filtering
  // complement to SemDeDup/q123 — q123 prunes the DENSEST regions
  // (redundancy); this prunes the SPARSEST rows (noise): vectors far
  // from every discovered cluster are encoder failures, OCR garbage, or
  // off-distribution scrapes, and CLIP-style curation drops them before
  // training. Criterion: squared distance to the OWN cluster centroid
  // > 1.5× the cluster's mean squared distance — cluster-relative, so a
  // tight cluster flags at a tight bar and a diffuse one doesn't flag
  // its whole tail. Determinism: d comes bit-identical from the q84
  // fit/assign chain (spec-pinned since r11), is micro-quantized to an
  // exact BIGINT, and the flag compares doubles CAST FROM EXACT LONGS
  // (dm·n > 1.5·im) — identical operands → identical IEEE results in
  // both engines; longs are never multiplied as longs (dm·n would
  // overflow BIGINT at 100 TB cluster sizes — the q104 lesson).
  //
  // Scale shape (100 TB): the q84 fit chain (pinned) + one assignment
  // pass (one-row cells broadcast, no corpus exchange) + ONE keyed
  // count/sum to k rows + the k-row stats broadcast back — the corpus
  // crosses exactly one keyed exchange beyond the fit; the flagged
  // slice is the output (no sort, the q123 discipline).
  // ---------------------------------------------------------------------

  def centroidOutliers(s: SparkSession, d: String, k: Int = 10,
                       iters: Int = 3): DataFrame = {
    // fit on the BASE corpus; screen base + planted (the production
    // shape: a trained quantizer scores everything, including the junk
    // it was never fit on). Planted noise = every 20th vector scaled ×3
    // (double-exact multiply, one float round — identical both engines)
    val (emb, cells) = kmFitFrames(s, d, k, iters)
    val planted = Tables.embeddings(s, d)
      .filter(col("vec_id") % 20 === 0)
      .selectExpr("vec_id + 400001 as vec_id",
        "transform(embedding, x -> cast(cast(x as double) * 3.0D as float)) as embedding")
      .selectExpr("vec_id", "embedding", s"${dotExpr("embedding", "embedding")} as ee")
    val assigned = kmAssign(emb.unionByName(planted), cells)
      .selectExpr("vec_id", "cid", "cast(floor(d * 1e6 + 0.5) as bigint) as dm")
      .transform(Tables.maybePersist) // feeds the stats agg AND the flag pass
    val stats = assigned.groupBy("cid")
      .agg(count(lit(1)).as("n_members"), sum(col("dm")).as("im"))
    assigned.join(broadcast(stats), Seq("cid"))
      .filter(col("dm").cast("double") * col("n_members").cast("double")
        > lit(1.5d) * col("im").cast("double"))
      .selectExpr("vec_id", "cid", "dm / 1e6 as dist",
        """floor(((cast(dm as double) * cast(n_members as double))
          |  / cast(im as double)) * 1e6 + 0.5) / 1e6 as ratio"""
          .stripMargin.replace("\n", " "))
  }

  val centroidOutliersSql: String = {
    val distF = s"((e.ee - (2 * ${dotSqlDuck("e.embedding", "c.c")})) + c.cc)"
    s"""WITH ${kmeansCtesSql(10, 3)},
       |pl AS (SELECT vec_id + 400001 AS vec_id,
       |    list_transform(embedding, x -> ((3.0 * x::DOUBLE)::FLOAT4)) AS embedding
       |  FROM embeddings WHERE vec_id % 20 = 0),
       |corp AS (SELECT vec_id, embedding FROM embeddings
       |  UNION ALL SELECT vec_id, embedding FROM pl),
       |e1 AS (SELECT vec_id, embedding,
       |  ${dotSqlDuck("embedding", "embedding")} AS ee FROM corp),
       |fin2 AS (SELECT vec_id, cid, d FROM (
       |  SELECT e.vec_id, c.cid, $distF AS d,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY $distF, c.cid) AS rn
       |  FROM e1 e CROSS JOIN c3 c) WHERE rn = 1),
       |a AS (SELECT vec_id, cid, CAST(floor(d * 1e6 + 0.5) AS BIGINT) AS dm FROM fin2),
       |st AS (SELECT cid, COUNT(*)::BIGINT AS n_members, SUM(dm)::BIGINT AS im
       |  FROM a GROUP BY cid)
       |SELECT vec_id, a.cid, dm / 1e6 AS dist,
       |  floor(((dm::DOUBLE * n_members::DOUBLE) / im::DOUBLE) * 1e6 + 0.5) / 1e6 AS ratio
       |FROM a JOIN st ON a.cid = st.cid
       |WHERE dm::DOUBLE * n_members::DOUBLE > 1.5 * im::DOUBLE
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q125 — EMBEDDING-SPACE DRIFT MONITOR (r14): the pre-swap check a
  // production vector pipeline runs before replacing its encoder — q94's
  // PSI discipline lifted from value histograms to CODEBOOK CELL SHARES:
  // assign the base corpus and the candidate re-embed to the SAME fitted
  // q84 codebook (the reference frame must not move between the two
  // populations — exactly q94's fixed global bins), Laplace-smooth the
  // k cell shares ((n+1)/(N+k)), per-cell term (p_re − p_base)·
  // ln(p_re/p_base) micro-quantized to an exact long BEFORE the sum
  // (q94's ln discipline — the only transcendental is applied to
  // identical doubles and absorbed into the quantized term), PSI ≥ 0.2
  // flags. The fixture's modeled encoder update (per-dim +0.05·(i mod 5)
  // bias + ×2 scaling of every 10th vector) moves shares enough to
  // flag; the UNPERTURBED control re-embed is the honest null — every
  // term is exactly ln(1) = 0 and PSI = 0 (spec-pinned, the q94
  // stationary-stream discipline).
  //
  // Scale shape (100 TB): two assignment passes (one-row codebook
  // broadcast each, no corpus exchange) + two keyed counts to k rows;
  // everything after is k-row arithmetic on broadcast one-row totals.
  // ---------------------------------------------------------------------

  def embeddingDrift(s: SparkSession, d: String, k: Int = 10,
                     iters: Int = 3, perturb: Boolean = true): DataFrame = {
    val (emb, cells) = kmFitFrames(s, d, k, iters)
    val re =
      if (!perturb) emb
      else Tables.embeddings(s, d)
        .selectExpr("vec_id",
          """transform(embedding, (x, i) -> cast(
            |  cast(x as double) * (case when vec_id % 10 = 0 then 2.0D else 1.0D end)
            |  + 0.05D * cast(i % 5 as double) as float)) as embedding"""
            .stripMargin.replace("\n", " "))
        .selectExpr("vec_id", "embedding", s"${dotExpr("embedding", "embedding")} as ee")
    val nA = kmAssign(emb, cells).groupBy("cid").agg(count(lit(1)).as("n_base"))
    val nB = kmAssign(re, cells).groupBy("cid").agg(count(lit(1)).as("n_reembed"))
    val dense = cells.selectExpr("explode(cells) as x").selectExpr("x.cid as cid")
      .join(broadcast(nA), Seq("cid"), "left")
      .join(broadcast(nB), Seq("cid"), "left")
      .selectExpr("cid", "coalesce(n_base, 0L) as n_base",
        "coalesce(n_reembed, 0L) as n_reembed")
    val tot = dense.agg(sum(col("n_base")).as("ta"), sum(col("n_reembed")).as("tb"))
    val terms = dense.crossJoin(broadcast(tot))
      .selectExpr("cid", "n_base", "n_reembed",
        s"""cast(floor((
           |  (n_reembed + 1) / cast(tb + $k as double)
           |  - (n_base + 1) / cast(ta + $k as double))
           |  * ln(((n_reembed + 1) / cast(tb + $k as double))
           |       / ((n_base + 1) / cast(ta + $k as double)))
           |  * 1e6 + 0.5) as bigint) as term_micro"""
          .stripMargin.replace("\n", " "))
      .transform(Tables.maybePersist) // feeds the psi sum AND the output
    val psi = terms.agg(sum(col("term_micro")).as("psi_micro"))
    terms.crossJoin(broadcast(psi))
      .selectExpr("cid", "n_base", "n_reembed", "term_micro / 1e6 as term",
        "psi_micro / 1e6 as psi", "psi_micro >= 200000 as drift")
      .orderBy("cid")
  }

  val embeddingDriftSql: String = {
    val k = 10
    s"""WITH ${kmeansCtesSql(k, 3)},
       |na AS (SELECT cid, COUNT(*)::BIGINT AS n_base FROM fin GROUP BY cid),
       |re AS (SELECT vec_id, list_transform(range(1, len(embedding) + 1),
       |    i -> (embedding[i]::DOUBLE * (CASE WHEN vec_id % 10 = 0 THEN 2.0 ELSE 1.0 END)
       |          + 0.05 * ((i - 1) % 5)::DOUBLE)::FLOAT4) AS embedding
       |  FROM embeddings),
       |e2 AS (SELECT vec_id, embedding,
       |  ${dotSqlDuck("embedding", "embedding")} AS ee FROM re),
       |fin3 AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ((e.ee - (2 * ${dotSqlDuck("e.embedding", "c.c")})) + c.cc), c.cid) AS rn
       |  FROM e2 e CROSS JOIN c3 c) WHERE rn = 1),
       |nb AS (SELECT cid, COUNT(*)::BIGINT AS n_reembed FROM fin3 GROUP BY cid),
       |dense AS (SELECT c.cid, coalesce(na.n_base, 0) AS n_base,
       |    coalesce(nb.n_reembed, 0) AS n_reembed
       |  FROM (SELECT cid FROM c3) c
       |  LEFT JOIN na ON na.cid = c.cid LEFT JOIN nb ON nb.cid = c.cid),
       |t AS (SELECT SUM(n_base)::BIGINT AS ta, SUM(n_reembed)::BIGINT AS tb FROM dense),
       |terms AS (SELECT cid, n_base, n_reembed,
       |    floor((
       |      (n_reembed + 1) / ((tb + $k)::DOUBLE)
       |      - (n_base + 1) / ((ta + $k)::DOUBLE))
       |      * ln(((n_reembed + 1) / ((tb + $k)::DOUBLE))
       |           / ((n_base + 1) / ((ta + $k)::DOUBLE)))
       |      * 1e6 + 0.5)::BIGINT AS term_micro
       |  FROM dense, t),
       |p AS (SELECT SUM(term_micro)::BIGINT AS psi_micro FROM terms)
       |SELECT cid, n_base, n_reembed, term_micro / 1e6 AS term,
       |  psi_micro / 1e6 AS psi, psi_micro >= 200000 AS drift
       |FROM terms, p ORDER BY cid""".stripMargin
  }

  /** Fit the q125 online monitor's frozen reference frame (the
    * fitPsiDesign discipline): the q84 codebook plus the base corpus's
    * dense cid-indexed cell counts — k longs, computed with the batch
    * assignment chain. Returns the cells too (the stream side routes
    * rows statelessly through [[kmeansAssignVerdict]] with them). */
  def fitDriftDesign(s: SparkSession, d: String, k: Int = 10, iters: Int = 3)
      : (Array[KmCell], graft.streaming.DriftDesign) = {
    import s.implicits._
    val (emb, cellsDf) = kmFitFrames(s, d, k, iters)
    val cells = cellsDf.selectExpr("explode(cells) as x")
      .selectExpr("x.cid", "x.c", "x.cc")
      .as[(Int, Array[Double], Double)]
      .collect().sortBy(_._1)
      .map { case (cid, c, cc) => KmCell(cid, c, cc) }
    val counts = kmAssign(emb, cellsDf).groupBy("cid")
      .agg(count(lit(1)).as("n")).as[(Int, Long)].collect().toMap
    val dense = Array.tabulate(k)(cid => counts.getOrElse(cid, 0L))
    (cells, graft.streaming.DriftDesign(dense))
  }

  /** Fit the q124 screen offline (the fitClusterRates discipline): one
    * Lloyd fit, the cells collected (k×dim doubles — driver-sized), and
    * each cluster's (n_members, im) micro-stats computed over the SAME
    * screened corpus with EXACTLY the batch expressions — k rows. */
  def fitOutlierScreen(s: SparkSession, d: String, k: Int = 10,
                       iters: Int = 3): (Array[KmCell], Map[Int, (Long, Long)]) = {
    import s.implicits._
    val (emb, cellsDf) = kmFitFrames(s, d, k, iters)
    val cells = cellsDf.selectExpr("explode(cells) as x")
      .selectExpr("x.cid", "x.c", "x.cc")
      .as[(Int, Array[Double], Double)]
      .collect().sortBy(_._1)
      .map { case (cid, c, cc) => KmCell(cid, c, cc) }
    val planted = Tables.embeddings(s, d)
      .filter(col("vec_id") % 20 === 0)
      .selectExpr("vec_id + 400001 as vec_id",
        "transform(embedding, x -> cast(cast(x as double) * 3.0D as float)) as embedding")
      .selectExpr("vec_id", "embedding", s"${dotExpr("embedding", "embedding")} as ee")
    val stats = kmAssign(emb.unionByName(planted), cellsDf)
      .selectExpr("cid", "cast(floor(d * 1e6 + 0.5) as bigint) as dm")
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"), sum(col("dm")).as("im"))
      .as[(Int, Long, Long)].collect()
    (cells, stats.map(t => t._1 -> (t._2, t._3)).toMap)
  }

  /** q124's flag as a stateless per-row transform (the classifierVerdict
    * discipline) — route any batch or streaming (vec_id, embedding)
    * frame against the offline-fitted codebook + k-row stats table.
    * Assignment rides [[kmeansAssignVerdict]] (spec-pinned bit-identical
    * to the batch kmAssign), the micro-quantization and the dm·n >
    * 1.5·im comparison repeat the batch expressions on identical
    * doubles — a vector flags online iff it flags in the batch q124. */
  def centroidOutlierVerdict(df: DataFrame, cells: Array[KmCell],
                             stats: Map[Int, (Long, Long)]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    kmeansAssignVerdict(df, cells)
      .as[(Long, Int, Double)]
      .map { case (id, cid, dd) =>
        val dm = math.floor(dd * 1e6 + 0.5).toLong
        // Lloyd cells CAN end up empty in the fitted stats; a vector
        // routed to one has no cluster-relative bar to compare against,
        // so it never flags ((0,0) makes the comparison 0 > 0) instead
        // of throwing inside the executor and killing the stream.
        val (n, im) = stats.getOrElse(cid, (0L, 0L))
        (id, cid, dm, dm.toDouble * n.toDouble > 1.5 * im.toDouble)
      }
      .toDF("vec_id", "cid", "dm", "outlier")
  }

  /** Fit the q88 per-cluster keep rates offline (k rows — driver-sized
    * by construction), for the online mixing leg: returns the fitted
    * cells plus cid → keep_micro, derived with EXACTLY the batch
    * expressions (same integer quantization, same floor discipline). */
  def fitClusterRates(s: SparkSession, d: String, k: Int = 10,
                      iters: Int = 3): (Array[KmCell], Map[Int, Long]) = {
    import s.implicits._
    val (emb, cells) = kmFitFrames(s, d, k, iters)
    val stats = kmAssign(emb, cells).groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"))
      .selectExpr("cid", "n_vecs",
        "cast(floor(sqrt(cast(n_vecs as double)) * 1e6 + 0.5) as bigint) as q")
      .transform(Tables.maybePersist)
    val totals = stats.agg(sum(col("q")).as("q_total"), sum(col("n_vecs")).as("vecs_total"))
    val rates = stats.crossJoin(broadcast(totals))
      .selectExpr("cid",
        """cast(floor(least(1.0D, (cast(q as double) / cast(q_total as double)
          |  * cast(cast(floor(cast(vecs_total as double) / 2) as bigint) as double))
          |  / cast(n_vecs as double)) * 1e6 + 0.5) as bigint) as keep_micro"""
          .stripMargin.replace("\n", " "))
      .as[(Int, Long)].collect().toMap
    val fitted = cells.selectExpr("explode(cells) as x")
      .selectExpr("x.cid", "x.c", "x.cc")
      .as[(Int, Array[Double], Double)]
      .collect().sortBy(_._1)
      .map { case (cid, c, cc) => KmCell(cid, c, cc) }
    (fitted, rates)
  }

  /** q88's keep decision as a stateless per-row transform for the online
    * curation leg: route the vector with the SAME compiled assignment
    * the batch/stream q84 leg uses ([[kmeansAssignVerdict]]), then apply
    * the offline-fitted rate via the q51 md5-bucket keep — no RNG, so a
    * replayed row gets the same verdict (at-least-once safe). The rate
    * table rides a k-entry literal map expression (codegen'd), the
    * corpus crosses zero exchanges. */
  def clusterMixVerdict(df: DataFrame, cells: Array[KmCell],
                        rates: Map[Int, Long]): DataFrame = {
    val rateMap = map(rates.toSeq.sortBy(_._1).flatMap {
      case (cid, micro) => Seq(lit(cid), lit(micro)) }: _*)
    val bucket =
      "cast(conv(substr(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint) % 1000000"
    kmeansAssignVerdict(df, cells)
      .withColumn("keep_micro", element_at(rateMap, col("cid")))
      .selectExpr("vec_id", "cid",
        s"case when $bucket < keep_micro then true else false end as kept")
  }

  // ---------------------------------------------------------------------
  // q75 — SemDeDup-style semantic deduplication (Abbas et al. 2023): route
  // every embedding to its nearest codebook cell, then prune within-cell
  // cosine-duplicates, keeping the EARLIEST member (lowest vec_id) of each
  // duplicate relation. The corpus (like q32) plants deterministic
  // perturbed twins so the oracle exercises a non-trivial drop set —
  // the base synthetic embeddings top out at cos≈0.51.
  //
  // CODEBOOK SCALES WITH THE CORPUS (the r11 verdict's one scale flag):
  // k = max(nLabels, ⌈n / targetCellSize⌉) cells, so expected cell
  // population stays ~targetCellSize and within-cell pair work stays
  // LINEAR in corpus size (the fixed 10-cell codebook measured 3.4×
  // time for 3× data at the 30× audit — O(Σ|cell|²) with |cell| ∝ n).
  // Cells are Voronoi regions around k seed vectors drawn in md5(vec_id)
  // order from the base table (the q34/q79 deterministic-sample idiom —
  // k-means with sampled init and zero refinement steps; refinement
  // iterations would sharpen boundaries but add nothing to the scale
  // shape). Assignment is HIERARCHICAL so it does not reintroduce the
  // quadratic term as n·k dot products: the first ⌈√k⌉ seeds act as
  // super-cells; each seed routes to its nearest super-seed once (k·√k
  // work on a k-row frame), and each corpus vector routes nearest-super
  // then nearest-seed-within-super — O(√k + k/√k) ≈ O(√k) dots per row
  // instead of O(k). Level-1 targets only NON-EMPTY super-cells (inner
  // join with the seed routing), so no vector can strand in a seedless
  // super-cell. Beyond ~10⁶ cells the one-row broadcast codebook itself
  // outgrows a task: the next rung is the same construction recursed —
  // SHIPPED r14 as the general-L [[fitHierPlan]]/[[assignCellsHierJoined]]
  // (fan = k^(1/L) per tier, O(L·fan·d) dots/row, closure residency
  // O(fan·d) at any k; spec-pinned ≡ this 2-level form at L=2 and
  // join ≡ closure at L=3, HierScale audits 30× linear).
  //
  // Scale shape (r13 — the de-drivered form, VERDICT r12 #2): with
  // k ∝ corpus, the k-row codebook can NO LONGER live on the driver or
  // in task closures (at targetCellSize=1000 a 100 TB corpus implies
  // k ~ 10⁷⁺ → multi-GB closure and an Int-bounded limit). The fit now
  // keeps only the ⌈√k⌉ SUPER-seeds driver-side (≤10⁴ rows up to
  // k=10⁸ — always closure-sized) and holds the k seeds as a
  // DISTRIBUTED frame keyed by super-cell ([[SeedPlan]]): seed
  // selection is an approx-quantile prefilter + exact distributed rank
  // (zero corpus shuffle, no driver TakeOrdered, no Int bound), and
  // level-2 routing is a JOIN on the super-cell key
  // ([[assignCellsJoined]]) — broadcast at test scale, a keyed exchange
  // at 10⁷⁺ seeds — followed by a per-vector max-struct argmax. That
  // argmax is the one corpus exchange the de-drivered form pays; it
  // replaces a codebook broadcast that stops fitting long before the
  // corpus stops growing. Candidate pairs then shuffle ONCE keyed by
  // cell and are triangle-blocked (boundedBucketPairs) so an oversize
  // cell bounds per-task pairs at cap² instead of |cell|² — SemDeDup's
  // cluster-size cap, expressed as blocking. The verdict joins back
  // keyed on vec_id (the drop set is a duplicate-rate fraction of the
  // corpus; AQE broadcasts it at test scale, a keyed exchange
  // co-partitions it at 100 TB — either way text/embeddings never move
  // twice). The CLOSURE assignment ([[assignCells]], fed by
  // [[fitCellCodebook]] — now a collect() of the same distributed seed
  // frame, so both forms share one fit) remains the right plan when the
  // codebook fits a task — the streaming twin's per-row stateless
  // routing — and ExtensionsSpec pins the two assignment routes
  // bit-identical over the corpus.
  //
  // Determinism: the pair loop and the oracle fold both run
  // left-to-right double dots (the q32 contract); every argmax breaks
  // ties toward the smaller id on both sides (strict-improvement scan
  // in ascending id order ≡ row_number ORDER BY cos DESC, id ASC); md5
  // ordering is engine-identical on the decimal vec_id string; k and √k
  // derive from counts with exactly-rounded double ceil/sqrt on both
  // engines.
  // ---------------------------------------------------------------------

  private[graft] val semDedupTau = 0.95

  def semDedup(s: SparkSession, d: String, targetCellSize: Int = 1000): DataFrame = {
    withFns(s)
    val plan = fitSeedPlan(s, d, targetCellSize)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    val corpus = base.unionAll(
      base.selectExpr("vec_id + 10000 as vec_id",
        "zip_with(e, sequence(0, 63), (x, i) -> x + 0.004 * cast(i % 5 as double)) as e"))
    val assigned = assignCellsJoined(corpus, plan)
      .transform(Tables.maybePersist)
    val drops = Dedup.boundedBucketPairs(s,
        assigned.selectExpr("cast(c_label as bigint) as bucket", "vec_id", "e", "nrm"),
        cap = 1024, minCos = semDedupTau)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"), max(col("cos")).as("mc"))
    assigned.select("vec_id", "c_label")
      .join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_label"), col("dup_of"),
        (floor(col("mc") * 1e6 + 0.5) / 1e6).as("max_cos"),
        col("dup_of").isNull.as("keep"))
  }

  val semDedupSql: String = {
    def dd(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a) + 1),
         |i -> $a[i] * $b[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    s"""WITH base AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |corpus AS (SELECT vec_id, e FROM base
       |  UNION ALL SELECT vec_id + 10000,
       |    list_transform(range(1, len(e) + 1), i -> e[i] + 0.004 * ((i - 1) % 5)::DOUBLE)
       |  FROM base),
       |prm AS (SELECT GREATEST(
       |    (SELECT count(DISTINCT label) FROM embeddings),
       |    CEIL((SELECT 2 * count(*) FROM embeddings) / 1000.0)::BIGINT) AS k),
       |prm2 AS (SELECT k, CEIL(sqrt(k))::BIGINT AS sq FROM prm),
       |sd0 AS (SELECT vec_id, e,
       |    row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS sid FROM base),
       |seeds AS (SELECT sid, e, sqrt(${dd("e", "e")}) AS nrm FROM sd0
       |  WHERE sid < (SELECT k FROM prm2)),
       |sups AS (SELECT sid AS sup, e AS se, nrm AS sn FROM seeds
       |  WHERE sid < (SELECT sq FROM prm2)),
       |ssr AS (SELECT s.sid, s.e, s.nrm, u.sup, row_number() OVER (
       |    PARTITION BY s.sid ORDER BY (${dd("s.e", "u.se")}) / (s.nrm * u.sn) DESC, u.sup) AS rn
       |  FROM seeds s CROSS JOIN sups u),
       |sm AS (SELECT sid, e, nrm, sup FROM ssr WHERE rn = 1),
       |sv AS (SELECT u.sup, u.se, u.sn FROM sups u
       |  WHERE u.sup IN (SELECT sup FROM sm)),
       |n AS (SELECT vec_id, e, sqrt(${dd("e", "e")}) AS nrm FROM corpus),
       |l1 AS (SELECT n.vec_id, n.e, n.nrm, v.sup, row_number() OVER (
       |    PARTITION BY n.vec_id ORDER BY (${dd("n.e", "v.se")}) / (n.nrm * v.sn) DESC, v.sup) AS rn
       |  FROM n CROSS JOIN sv v),
       |r1 AS (SELECT vec_id, e, nrm, sup FROM l1 WHERE rn = 1),
       |l2 AS (SELECT r.vec_id, r.e, r.nrm, m.sid, row_number() OVER (
       |    PARTITION BY r.vec_id ORDER BY (${dd("r.e", "m.e")}) / (r.nrm * m.nrm) DESC, m.sid) AS rn
       |  FROM r1 r JOIN sm m ON r.sup = m.sup),
       |a AS (SELECT vec_id, e, nrm, sid::INT AS c_label FROM l2 WHERE rn = 1),
       |p AS (SELECT x.vec_id AS va, y.vec_id AS vb,
       |    (${dd("x.e", "y.e")}) / (x.nrm * y.nrm) AS cos
       |  FROM a x JOIN a y ON x.c_label = y.c_label AND x.vec_id < y.vec_id),
       |f AS (SELECT vb AS vec_id, min(va) AS dup_of, max(cos) AS mc
       |  FROM p WHERE cos >= $semDedupTau GROUP BY vb)
       |SELECT a.vec_id, a.c_label, f.dup_of,
       |  floor(f.mc * 1e6 + 0.5) / 1e6 AS max_cos,
       |  f.dup_of IS NULL AS keep
       |FROM a LEFT JOIN f ON a.vec_id = f.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Map-side-combining top-k-by-(cos desc, id asc) Aggregator for the
    * q81 exact ground truth: each task reduces its partition to ≤k
    * (cos, vec_id) pairs per query, so the per-query aggregation
    * shuffles |queries| k-element buffers instead of |queries|·n rows —
    * at 100 TB the difference between a 10-buffer exchange and a
    * corpus-sized window shuffle. Selection order is EXACTLY the
    * oracle's row_number() ORDER BY cos DESC, vec_id ASC. */
  object TopKCos extends org.apache.spark.sql.expressions.Aggregator[
      (Double, Long), List[(Double, Long)], List[(Double, Long)]] {
    private val k = 5
    private def top(l: List[(Double, Long)]): List[(Double, Long)] =
      l.sortBy(t => (-t._1, t._2)).take(k)
    def zero: List[(Double, Long)] = Nil
    def reduce(b: List[(Double, Long)], a: (Double, Long)): List[(Double, Long)] =
      top(a :: b)
    def merge(x: List[(Double, Long)], y: List[(Double, Long)]): List[(Double, Long)] =
      top(x ++ y)
    def finish(b: List[(Double, Long)]): List[(Double, Long)] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[List[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()
    def outputEncoder: org.apache.spark.sql.Encoder[List[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()
  }

  // ---------------------------------------------------------------------
  // q81 — LSH ANN AUDIT: recall measurement for the approximate q27
  // search, closing the trust gap the r11 verdict flagged for the ANN
  // leg. Ground truth: EXACT cosine top-5 per query (vec_id < 10) over
  // the whole corpus — brute force is the audit's cost BY DESIGN, one
  // corpus pass against a 10-row broadcast with per-partition top-k
  // reduction ([[TopKCos]]), so the only exchange carries 10 five-row
  // buffers. The production q27 chain then re-runs unchanged, and ONE
  // tagged-union aggregate reports recall@5, the LSH result size, and
  // the highest-cosine true neighbour the bucketing MISSED (q80's risk
  // metric, here for search instead of dedup).
  //
  // Reading the sf fixture's number: recall@5 ≈ 0.16 with max missed
  // cos ≈ 0.49 is the CORRECT measurement, not a defect — the base
  // synthetic corpus has no near-duplicates (pairwise cos tops out
  // ≈ 0.51), and random-hyperplane LSH recall concentrates on
  // high-cosine pairs (collision probability 1 − θ/π per plane): for
  // far "neighbours" an 8-plane bucket keeps ~1/256 of candidates by
  // design. The audit exists precisely to surface that: a production
  // corpus whose true neighbours sit at cos 0.5 needs multi-probe or
  // fewer planes, and this query is the dial that shows it.
  // ---------------------------------------------------------------------

  def annAudit(s: SparkSession, d: String): DataFrame =
    annAuditAgainst(s, d, annLsh(s, d))

  /** q83 — the same audit against the multi-probe chain: the two reports
    * side by side are the dial the q81 commentary promised — Hamming-1
    * probing lifts far-neighbour recall at ~9× candidate cost, measured,
    * on the unchanged production chains. */
  def annMultiProbeAudit(s: SparkSession, d: String): DataFrame =
    annAuditAgainst(s, d, annMultiProbe(s, d))

  /** Shared audit body: exact top-5 ground truth vs any approximate
    * chain producing (q_id, vec_id) rows. */
  private def annAuditAgainst(s: SparkSession, d: String, approx: DataFrame): DataFrame = {
    import s.implicits._
    val emb = withLsh(s, d).transform(Tables.maybePersist)
    val queries = emb.filter(col("vec_id") < 10)
      .selectExpr("vec_id as q_id", "embedding as qe", "nrm as qn")
    val exactTop = emb
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", s"${dotExpr("embedding", "qe")} / (nrm * qn) as cos", "vec_id")
      .as[(Long, Double, Long)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(TopKCos.toColumn.name("top"))
      .toDF("q_id", "top")
      .selectExpr("q_id", "explode(top) as t")
      .selectExpr("q_id", "t._1 as cos", "t._2 as vec_id")
    val lsh = approx.select(col("q_id"), col("vec_id"), lit(true).as("hit"))
    val tagged = queries.selectExpr("'q' as tag", "0.0 as cos", "false as hit")
      .unionAll(lsh.selectExpr("'l' as tag", "0.0 as cos", "hit"))
      .unionAll(exactTop.join(lsh, Seq("q_id", "vec_id"), "left")
        .selectExpr("'e' as tag", "cos", "coalesce(hit, false) as hit"))
    tagged.groupBy().agg(
        count(when(col("tag") === "q", 1)).as("n_queries"),
        count(when(col("tag") === "e", 1)).as("n_exact"),
        count(when(col("tag") === "l", 1)).as("n_lsh"),
        count(when(col("tag") === "e" && col("hit"), 1)).as("n_hits"),
        coalesce(max(when(col("tag") === "e" && !col("hit"), col("cos"))), lit(0.0))
          .as("missed"))
      .selectExpr("n_queries", "n_exact", "n_lsh", "n_hits",
        "case when n_exact = 0 then 0.0 else floor(n_hits / cast(n_exact as double) * 1e6 + 0.5) / 1e6 end as recall_at_5",
        "floor(missed * 1e6 + 0.5) / 1e6 as max_missed_cos")
  }

  /** Audit SQL, parameterized by the candidate-generation CTE: `candCte`
    * must read CTEs `b` (bucketed corpus) and `qq` (queries) and yield
    * (q_id, vec_id, cos) rows. */
  private def annAuditSqlFor(candCte: String): String = {
    val dot = dotSqlDuck("e.embedding", "q.qe")
    s"""WITH b AS (SELECT vec_id, label, embedding,
       |  sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm,
       |  ${bucketSqlDuck("embedding")} AS bucket FROM embeddings),
       |qq AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qn, bucket FROM b WHERE vec_id < 10),
       |ex0 AS (SELECT q.q_id, e.vec_id, ($dot) / (e.nrm * q.qn) AS cos,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ($dot) / (e.nrm * q.qn) DESC, e.vec_id) AS rn
       |  FROM b e CROSS JOIN qq q WHERE e.vec_id <> q.q_id),
       |ex AS (SELECT q_id, vec_id, cos FROM ex0 WHERE rn <= 5),
       |c AS ($candCte),
       |r AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM c),
       |lsh AS (SELECT q_id, vec_id FROM r WHERE rank <= 5),
       |ej AS (SELECT ex.q_id, ex.cos,
       |    (lsh.vec_id IS NOT NULL) AS hit
       |  FROM ex LEFT JOIN lsh ON ex.q_id = lsh.q_id AND ex.vec_id = lsh.vec_id),
       |cnts AS (SELECT
       |    (SELECT COUNT(*) FROM qq)::BIGINT AS n_queries,
       |    (SELECT COUNT(*) FROM ej)::BIGINT AS n_exact,
       |    (SELECT COUNT(*) FROM lsh)::BIGINT AS n_lsh,
       |    (SELECT COUNT(*) FROM ej WHERE hit)::BIGINT AS n_hits,
       |    (SELECT coalesce(MAX(cos), 0.0) FROM ej WHERE NOT hit)::DOUBLE AS missed)
       |SELECT n_queries, n_exact, n_lsh, n_hits,
       |  CASE WHEN n_exact = 0 THEN 0.0
       |       ELSE floor(n_hits / n_exact::DOUBLE * 1e6 + 0.5) / 1e6 END AS recall_at_5,
       |  floor(missed * 1e6 + 0.5) / 1e6 AS max_missed_cos
       |FROM cnts""".stripMargin
  }

  val annAuditSql: String = {
    val dot = dotSqlDuck("e.embedding", "q.qe")
    annAuditSqlFor(
      s"""SELECT q.q_id, e.vec_id, ($dot) / (e.nrm * q.qn) AS cos
         |  FROM b e JOIN qq q ON e.bucket = q.bucket AND e.vec_id <> q.q_id""".stripMargin)
  }

  val annMultiProbeAuditSql: String = {
    val dot = dotSqlDuck("e.embedding", "q.qe")
    val probes = s"unnest(list_prepend(bucket, list_transform(" +
      s"range(0, CAST($planesSqlDuck AS BIGINT)), pp -> xor(bucket, (1::BIGINT << pp)))))"
    annAuditSqlFor(
      s"""SELECT q.q_id, e.vec_id, ($dot) / (e.nrm * q.qn) AS cos
         |  FROM b e JOIN (SELECT q_id, qe, qn,
         |      $probes AS probe FROM qq) q
         |    ON e.bucket = q.probe AND e.vec_id <> q.q_id""".stripMargin)
  }

  // ---------------------------------------------------------------------
  // q91 — HARD-NEGATIVE MINING: for each anchor query, the top-5
  // highest-cosine corpus vectors whose label DIFFERS from the anchor's —
  // the contrastive-training selection step (near the anchor in embedding
  // space, semantically another class; the negatives that actually teach
  // a retrieval/embedding model, vs. easy random negatives). Reference
  // scope: the reference pipeline stops at enrichment; this is part of
  // the 100 TB training-data extension suite.
  //
  // Scale shape: the anchor side is a 10-row broadcast; the corpus side
  // is ONE codegen'd scan with the label-mismatch filter applied BEFORE
  // any aggregation; per-query top-5 selection rides the map-side
  // [[TopKCos]] reduction, so the only keyed exchange carries 10
  // five-row buffers — never the corpus (identical discipline to q81's
  // ground truth). The negatives' labels are then fetched by ONE
  // broadcast join of the ≤50-row result against the corpus scan (at
  // 100 TB this is the id→metadata sidecar lookup; here it is a second
  // scan with zero shuffle). Determinism: left-to-right double dots
  // (bit-identical both engines), ties break to the lowest vec_id —
  // exactly the oracle's row_number() order.
  // ---------------------------------------------------------------------

  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withFns(s)
    val emb = Tables.embeddings(s, d)
      .selectExpr("vec_id", "label", "embedding",
        s"sqrt(${dotExpr("embedding", "embedding")}) as nrm")
      .transform(Tables.maybePersist)
    val anchors = emb.filter(col("vec_id") < 10)
      .selectExpr("vec_id as q_id", "label as q_label", "embedding as qe", "nrm as qn")
    // TopKCos keeps the buffer sorted by (cos desc, vec_id asc), so the
    // explode position IS the rank.
    val top = emb
      .crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .selectExpr("q_id", s"${dotExpr("embedding", "qe")} / (nrm * qn) as cos", "vec_id")
      .as[(Long, Double, Long)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(TopKCos.toColumn.name("top"))
      .toDF("q_id", "top")
      .selectExpr("q_id", "posexplode(top) as (r0, t)")
      .selectExpr("q_id", "cast(r0 + 1 as int) as rank", "t._2 as vec_id", "t._1 as cos")
    emb.select(col("vec_id"), col("label").as("neg_label"))
      .join(broadcast(top), Seq("vec_id"))
      .selectExpr("q_id", "rank", "vec_id", "neg_label",
        "floor((cos) * 1e6 + 0.5) / 1e6 as cosine")
  }

  val hardNegativesSql: String = {
    val dot = dotSqlDuck("e.embedding", "q.qe")
    s"""WITH b AS (SELECT vec_id, label, embedding,
       |  sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe, nrm AS qn
       |  FROM b WHERE vec_id < 10),
       |c AS (SELECT q.q_id, e.vec_id, e.label AS neg_label, ($dot) / (e.nrm * q.qn) AS cos
       |  FROM b e CROSS JOIN q WHERE e.vec_id <> q.q_id AND e.label <> q.q_label),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM c)
       |SELECT q_id, rank::INT AS rank, vec_id, neg_label,
       |  floor(cos * 1e6 + 0.5) / 1e6 AS cosine
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** Componentwise exact sum of pre-quantized long vectors — the
    * map-side-combining reduction under the q92 power iteration: one
    * 64-long buffer per map partition crosses the exchange, never
    * (row, dim) pairs. Zero-length buffer = additive zero. */
  object VecLongSum extends org.apache.spark.sql.expressions.Aggregator[
      Array[Long], Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.empty[Long]
    def reduce(b: Array[Long], a: Array[Long]): Array[Long] =
      if (b.isEmpty) a.clone()
      else { var i = 0; while (i < b.length) { b(i) += a(i); i += 1 }; b }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      if (x.isEmpty) y else if (y.isEmpty) x else reduce(x, y)
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  // ---------------------------------------------------------------------
  // q92 — PCA TOP COMPONENT via power iteration: the principal direction
  // of the (centered) embedding corpus — the spectral step of embedding
  // curation (whitening/decorrelation before clustering, domain-shift
  // visualization, the rotation PQ/OPQ indexes precompute). Three fixed
  // rounds of v ← normalize(C·v) starting from e₀, with C·v computed
  // implicitly as (1/n)·Σᵢ (eᵢ−μ)((eᵢ−μ)·v) — the covariance matrix is
  // NEVER materialized (d² driver state, not n·d² corpus work). Output:
  // per-dim mean and PC-1 loading.
  //
  // Scale shape (100 TB): μ is the q28 VecCentroid decimal-exact mean
  // (one pass, 64-decimal buffers per partition); each iteration is ONE
  // corpus pass whose only exchange is the [[VecLongSum]] singleton
  // aggregate (one 64-long buffer per map partition); the 64-double
  // iterate lives driver-side (O(d) state — the fit-then-stream
  // discipline, like the classifier weights and LM fit). Total
  // iters+2 passes over the persisted projection, zero corpus shuffles.
  // Further PCs = deflation with the same machinery — implemented in
  // [[pcaTop2]] (q106, r13).
  //
  // Cross-engine determinism: the centered dot (eᵢ−μ)·v folds
  // left-to-right per row (bit-identical both engines); each per-row
  // product (eᵢⱼ−μⱼ)·c quantizes to micro-units via floor(x·1e6 + 0.5)
  // BEFORE the sum (the q74 integer-sum rule — no order-dependent
  // double accumulation crosses the aggregate); the normalize step is
  // the same left-to-right norm fold and division in both engines. The
  // oracle unrolls the three rounds as chained CTEs (the q84 idiom).
  // ---------------------------------------------------------------------

  def pcaPower(s: SparkSession, d: String, iters: Int = 3): DataFrame = {
    import s.implicits._
    val embDf = Tables.embeddings(s, d).select(col("embedding"))
      .transform(Tables.maybePersist)
    val emb = embDf.as[Array[Float]]
    val n = embDf.count()
    val mu: Array[Double] = emb.select(VecCentroid.toColumn).head()
    val dims = mu.length
    // shared kernel, zero deflation terms — arithmetic unchanged (q106
    // reuses the same kernel with one deflation term)
    val v = powerIterate(emb, n, mu, Array.empty,
      Array.tabulate(dims)(j => if (j == 0) 1.0 else 0.0), iters)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    (0 until dims).map(j => (j.toLong, r6(mu(j)), r6(v(j))))
      .toDF("dim", "mu", "loading")
  }

  val pcaPowerSql: String = {
    def iter(i: Int, prevV: String): String =
      s"""c$i AS (SELECT embedding, list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(1, len(embedding) + 1),
         |      j -> (embedding[j]::DOUBLE - mu[j]) * v[j])), (a, b) -> a + b) AS c
         |  FROM embeddings, muA, $prevV),
         |s$i AS (SELECT (j - 1) AS dim,
         |    SUM(CAST(floor((embedding[j]::DOUBLE - mu[j]) * c * 1e6 + 0.5) AS BIGINT)) AS sq
         |  FROM (SELECT embedding, c, unnest(range(1, len(embedding) + 1)) AS j FROM c$i), muA
         |  GROUP BY j),
         |u$i AS (SELECT list(sq / 1e6 / (SELECT n FROM n) ORDER BY dim) AS u FROM s$i),
         |v$i AS (SELECT list_transform(u, x -> x / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(u, y -> y * y)), (a, b) -> a + b))) AS v FROM u$i)""".stripMargin
    s"""WITH n AS (SELECT COUNT(*)::BIGINT AS n FROM embeddings),
       |md AS (SELECT (i - 1) AS dim,
       |    CAST(SUM(CAST(embedding[i]::DOUBLE AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM (SELECT embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
       |  GROUP BY i),
       |muA AS (SELECT list(m ORDER BY dim) AS mu FROM md),
       |v0 AS (SELECT list_transform(range(1, len(mu) + 1),
       |    j -> CASE WHEN j = 1 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS v FROM muA),
       |${iter(1, "v0")},
       |${iter(2, "v1")},
       |${iter(3, "v2")}
       |SELECT md.dim::BIGINT AS dim, floor(md.m * 1e6 + 0.5) / 1e6 AS mu,
       |  floor(v3.v[(md.dim + 1)::INT] * 1e6 + 0.5) / 1e6 AS loading
       |FROM md, v3 ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q106 — PCA TOP-2 COMPONENTS via DEFLATION (r13, VERDICT r12 #6):
  // q92's power iteration run twice, the second pass on DATA-DEFLATED
  // rows — per row, the PC-1 projection is subtracted from the centered
  // vector (cen′ = cen − (cen·v₁)·v₁) before the covariance-product
  // fold, so iteration 2 converges in the orthogonal complement. Data
  // deflation (not C − λ·v₁v₁ᵀ) needs no eigenvalue estimate and keeps
  // every step a per-row fold. Output: per-dim mean + both loadings —
  // the 2-d projection basis an embedding-drift scatter plot or OPQ
  // rotation starts from.
  //
  // Scale shape: exactly q92 × 2 — each of the 2·iters passes is one
  // corpus scan whose only exchange is the VecLongSum singleton
  // aggregate (one 64-long buffer per map partition, zero corpus
  // shuffles); the deflation adds two more per-row folds (t = cen·v₁,
  // then the subtract), CPU-only. Both iterates live driver-side (O(d)
  // — the fit-then-stream discipline).
  //
  // Cross-engine determinism: the q92 contract extended — cen′ⱼ =
  // (eⱼ−μⱼ) − t·v₁ⱼ is one multiply-subtract per element with t a
  // left-to-right fold, identical IEEE in both engines; v₁ enters
  // deflation UNROUNDED (the oracle's v3 CTE list, not the 1e-6 display
  // grid); per-row products micro-quantize BEFORE the sum (the q74
  // integer-sum rule). The oracle unrolls both components' rounds as
  // chained CTEs (the q84/q92 idiom).
  // ---------------------------------------------------------------------

  /** Shared power-iteration kernel: `iters` rounds of v ← normalize(
    * Σᵢ cen′ᵢ (cen′ᵢ·v) / 1e6-grid / n) where cen′ is the centered row
    * deflated against `prev` (earlier components, possibly empty). */
  private def powerIterate(emb: Dataset[Array[Float]], n: Long,
                           mu: Array[Double], prev: Array[Array[Double]],
                           start: Array[Double], iters: Int): Array[Double] = {
    implicit val longArrEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    var v = start
    for (_ <- 1 to iters) {
      val muL = mu
      val prevL = prev
      val vL = v
      val sums = emb.mapPartitions { it =>
        it.map { e =>
          val dims = e.length
          val cen = new Array[Double](dims)
          var j = 0
          while (j < dims) { cen(j) = e(j).toDouble - muL(j); j += 1 }
          var q = 0
          while (q < prevL.length) {
            val vq = prevL(q)
            var t = 0.0
            j = 0
            while (j < dims) { t += cen(j) * vq(j); j += 1 }
            j = 0
            while (j < dims) { cen(j) = cen(j) - t * vq(j); j += 1 }
            q += 1
          }
          var c = 0.0
          j = 0
          while (j < dims) { c += cen(j) * vL(j); j += 1 }
          val out = new Array[Long](dims)
          j = 0
          while (j < dims) {
            out(j) = math.floor(cen(j) * c * 1e6 + 0.5).toLong
            j += 1
          }
          out
        }
      }.select(VecLongSum.toColumn).head()
      val u = sums.map(x => x / 1e6 / n)
      val nrm = math.sqrt(u.foldLeft(0.0)((a, y) => a + y * y))
      v = u.map(_ / nrm)
    }
    v
  }

  /** Shared model fit for q106/q108: the per-dim mean and the top-m
    * principal directions, each component one [[powerIterate]] run
    * data-deflated against every earlier component (sequentially — the
    * c-th projection is removed from the ALREADY-deflated row, exactly
    * what the chained oracle CTEs compute). Split from the query
    * surface so ExtensionsSpec can assert orthonormality on the
    * UNROUNDED basis. */
  private[graft] def pcaComponents(s: SparkSession, d: String, m: Int,
      iters: Int): (Long, Array[Double], Array[Array[Double]], Dataset[Array[Float]]) = {
    import s.implicits._
    val embDf = Tables.embeddings(s, d).select(col("embedding"))
      .transform(Tables.maybePersist)
    val emb = embDf.as[Array[Float]]
    val n = embDf.count()
    val mu: Array[Double] = emb.select(VecCentroid.toColumn).head()
    val dims = mu.length
    require(m >= 1 && m <= dims, s"m=$m out of range for $dims dims")
    def basis(b: Int) = Array.tabulate(dims)(j => if (j == b) 1.0 else 0.0)
    val vs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    for (c <- 0 until m)
      vs += powerIterate(emb, n, mu, vs.toArray, basis(c), iters)
    (n, mu, vs.toArray, emb)
  }

  def pcaTop2(s: SparkSession, d: String, iters: Int = 3): DataFrame = {
    import s.implicits._
    val (_, mu, vs, _) = pcaComponents(s, d, m = 2, iters)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    mu.indices.map(j => (j.toLong, r6(mu(j)), r6(vs(0)(j)), r6(vs(1)(j))))
      .toDF("dim", "mu", "loading1", "loading2")
  }

  val pcaTop2Sql: String = {
    // PC-1 rounds: the exact q92 chain (cen = e − μ)
    def iter1(i: Int, prevV: String): String =
      s"""c$i AS (SELECT embedding, list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(1, len(embedding) + 1),
         |      j -> (embedding[j]::DOUBLE - mu[j]) * v[j])), (a, b) -> a + b) AS c
         |  FROM embeddings, muA, $prevV),
         |s$i AS (SELECT (j - 1) AS dim,
         |    SUM(CAST(floor((embedding[j]::DOUBLE - mu[j]) * c * 1e6 + 0.5) AS BIGINT)) AS sq
         |  FROM (SELECT embedding, c, unnest(range(1, len(embedding) + 1)) AS j FROM c$i), muA
         |  GROUP BY j),
         |u$i AS (SELECT list(sq / 1e6 / (SELECT n FROM n) ORDER BY dim) AS u FROM s$i),
         |v$i AS (SELECT list_transform(u, x -> x / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(u, y -> y * y)), (a, b) -> a + b))) AS v FROM u$i)""".stripMargin
    // PC-2 rounds over the DEFLATED rows (cen2 fixed per row given w1)
    def iter2(i: Int, prevV: String): String =
      s"""d$i AS (SELECT cen2, list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(1, len(cen2) + 1),
         |      j -> cen2[j] * v[j])), (a, b) -> a + b) AS c
         |  FROM defl, $prevV),
         |t$i AS (SELECT (j - 1) AS dim,
         |    SUM(CAST(floor(cen2[j] * c * 1e6 + 0.5) AS BIGINT)) AS sq
         |  FROM (SELECT cen2, c, unnest(range(1, len(cen2) + 1)) AS j FROM d$i)
         |  GROUP BY j),
         |x$i AS (SELECT list(sq / 1e6 / (SELECT n FROM n) ORDER BY dim) AS u FROM t$i),
         |w$i AS (SELECT list_transform(u, x -> x / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(u, y -> y * y)), (a, b) -> a + b))) AS v FROM x$i)""".stripMargin
    s"""WITH n AS (SELECT COUNT(*)::BIGINT AS n FROM embeddings),
       |md AS (SELECT (i - 1) AS dim,
       |    CAST(SUM(CAST(embedding[i]::DOUBLE AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM (SELECT embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
       |  GROUP BY i),
       |muA AS (SELECT list(m ORDER BY dim) AS mu FROM md),
       |v0 AS (SELECT list_transform(range(1, len(mu) + 1),
       |    j -> CASE WHEN j = 1 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS v FROM muA),
       |${iter1(1, "v0")},
       |${iter1(2, "v1")},
       |${iter1(3, "v2")},
       |cen0 AS (SELECT list_transform(range(1, len(embedding) + 1),
       |    j -> embedding[j]::DOUBLE - mu[j]) AS cen FROM embeddings, muA),
       |tp AS (SELECT cen, list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(1, len(cen) + 1), j -> cen[j] * v[j])),
       |    (a, b) -> a + b) AS t FROM cen0, v3),
       |defl AS (SELECT list_transform(range(1, len(cen) + 1),
       |    j -> cen[j] - t * v[j]) AS cen2 FROM tp, v3),
       |w0 AS (SELECT list_transform(range(1, len(mu) + 1),
       |    j -> CASE WHEN j = 2 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS v FROM muA),
       |${iter2(1, "w0")},
       |${iter2(2, "w1")},
       |${iter2(3, "w2")}
       |SELECT md.dim::BIGINT AS dim, floor(md.m * 1e6 + 0.5) / 1e6 AS mu,
       |  floor(v3.v[(md.dim + 1)::INT] * 1e6 + 0.5) / 1e6 AS loading1,
       |  floor(w3.v[(md.dim + 1)::INT] * 1e6 + 0.5) / 1e6 AS loading2
       |FROM md, v3, w3 ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q108 — PCA TOP-m VIA CHAINED DEFLATION (r14, VERDICT r13 #8): q106's
  // two-component deflation generalized to an m-component basis on the
  // SAME [[powerIterate]] kernel — component c runs on rows sequentially
  // deflated against components 1..c-1 (cen ← cen − (cen·vq)·vq in
  // ascending q, per row, per pass). m = 4 here: the 4-d projection
  // basis the OPQ/whitening rungs above it consume. Deflation makes
  // each new iterate converge in the orthogonal complement of the span
  // so far, so the basis is orthonormal up to convergence error —
  // ExtensionsSpec asserts |vᵢ·vⱼ| on the unrounded vectors and that
  // the m=2 prefix is BIT-IDENTICAL to q106 (shared kernel, shared
  // starts).
  //
  // Scale shape: exactly q92 × (m·iters) — every pass is one corpus
  // scan whose only exchange is the VecLongSum singleton aggregate (one
  // 64-long buffer per partition); all m iterates live driver-side
  // (O(m·d) doubles — the fit-then-stream discipline). The oracle
  // unrolls all m components' rounds as GENERATED chained CTEs (the
  // q106 idiom, parameterized by m), so the gate covers every
  // component, not just the first two.
  // ---------------------------------------------------------------------

  def pcaTopM(s: SparkSession, d: String, m: Int = 4, iters: Int = 3): DataFrame = {
    val (_, mu, vs, _) = pcaComponents(s, d, m, iters)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("dim",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("mu",
            org.apache.spark.sql.types.DoubleType, nullable = false)) ++
      (1 to m).map(c => org.apache.spark.sql.types.StructField(s"loading$c",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rows = mu.indices.map { j =>
      org.apache.spark.sql.Row.fromSeq(
        j.toLong +: r6(mu(j)) +: vs.map(v => r6(v(j))).toSeq)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
  }

  /** The q108 oracle, GENERATED by (m, iters): r0 = centered rows, then
    * per component c — `iters` power rounds over r{c-1} (the q106 iter2
    * pattern) followed by one deflation CTE producing r{c}. Every CTE
    * is `AS MATERIALIZED`: DuckDB inlines plain CTEs per reference, and
    * with m·iters chained rounds each referencing its predecessors the
    * inlined expansion grows exponentially (the un-hinted m=4 query
    * planned for minutes; materialized it runs in ~0.3 s — values
    * identical, it is purely an evaluation hint). */
  def pcaTopMSql(m: Int = 4, iters: Int = 3): String = {
    def dot(vecA: String, vecB: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(
         |range(1, len($vecA) + 1), j -> $vecA[j] * $vecB[j])), (a, b) -> a + b)"""
        .stripMargin.replace("\n", " ")
    def iterBlock(c: Int, i: Int, prevV: String): String =
      s"""p${c}_$i AS MATERIALIZED (SELECT cen, ${dot("cen", "v")} AS c FROM r${c - 1}, $prevV),
         |t${c}_$i AS MATERIALIZED (SELECT (j - 1) AS dim,
         |    SUM(CAST(floor(cen[j] * c * 1e6 + 0.5) AS BIGINT)) AS sq
         |  FROM (SELECT cen, c, unnest(range(1, len(cen) + 1)) AS j FROM p${c}_$i)
         |  GROUP BY j),
         |x${c}_$i AS MATERIALIZED (SELECT list(sq / 1e6 / (SELECT n FROM n) ORDER BY dim) AS u FROM t${c}_$i),
         |v${c}_$i AS MATERIALIZED (SELECT list_transform(u, x -> x / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(u, y -> y * y)), (a, b) -> a + b))) AS v FROM x${c}_$i)""".stripMargin
    val comps = (1 to m).map { c =>
      val start =
        s"""v${c}_0 AS MATERIALIZED (SELECT list_transform(range(1, len(mu) + 1),
           |    j -> CASE WHEN j = $c THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS v FROM muA)"""
          .stripMargin
      val rounds = (1 to iters).map(i => iterBlock(c, i, s"v${c}_${i - 1}"))
      val defl = if (c == m) Nil else Seq(
        s"""d$c AS MATERIALIZED (SELECT cen, ${dot("cen", "v")} AS t FROM r${c - 1}, v${c}_$iters),
           |r$c AS MATERIALIZED (SELECT list_transform(range(1, len(cen) + 1),
           |    j -> cen[j] - t * v[j]) AS cen FROM d$c, v${c}_$iters)""".stripMargin)
      (Seq(start) ++ rounds ++ defl).mkString(",\n")
    }
    val loadings = (1 to m).map(c =>
      s"floor(v${c}_$iters.v[(md.dim + 1)::INT] * 1e6 + 0.5) / 1e6 AS loading$c")
    s"""WITH n AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS n FROM embeddings),
       |md AS MATERIALIZED (SELECT (i - 1) AS dim,
       |    CAST(SUM(CAST(embedding[i]::DOUBLE AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM (SELECT embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
       |  GROUP BY i),
       |muA AS MATERIALIZED (SELECT list(m ORDER BY dim) AS mu FROM md),
       |r0 AS MATERIALIZED (SELECT list_transform(range(1, len(embedding) + 1),
       |    j -> embedding[j]::DOUBLE - mu[j]) AS cen FROM embeddings, muA),
       |${comps.mkString(",\n")}
       |SELECT md.dim::BIGINT AS dim, floor(md.m * 1e6 + 0.5) / 1e6 AS mu,
       |  ${loadings.mkString(",\n  ")}
       |FROM md, ${(1 to m).map(c => s"v${c}_$iters").mkString(", ")}
       |ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q109 — PCA WHITENING AUDIT (r14): the rung the q108 basis exists FOR
  // — whiten the corpus onto the top-m directions (z_c = (cen·v_c)/√λ_c,
  // λ_c the empirical variance of projection c) and MEASURE that the
  // whitened coordinates are unit-variance and decorrelated: the full
  // m×m whitened Gram matrix, diag exactly 1 by construction (proving
  // the normalization is self-consistent), off-diag ≈ 0 (the
  // decorrelation the OPQ rotation / embedding-preprocessing consumer
  // assumes). λ and the cross-moments come from ONE extra corpus pass:
  // per row the m projections fold left-to-right, the m(m+1)/2 products
  // micro-quantize to exact longs (the q74 rule) and reduce through the
  // same VecLongSum singleton aggregate as the power kernel — zero
  // corpus shuffles at any scale, O(m²) driver state.
  //
  // Cross-engine determinism: v enters UNROUNDED on both sides (the
  // oracle reuses the q108 CTE chain); per-row t_c are identical folds;
  // the moment sums are exact integers; λ = M_cc and
  // gram = M_ij/√(λ_i·λ_j) are the same exactly-rounded double ops in
  // the same order.
  // ---------------------------------------------------------------------

  def pcaWhitenAudit(s: SparkSession, d: String, m: Int = 4, iters: Int = 3): DataFrame = {
    import s.implicits._
    val (n, mu, vs, emb) = pcaComponents(s, d, m, iters)
    val pairs = (for { i <- 0 until m; j <- i until m } yield (i, j)).toArray
    val muL = mu
    val vsL = vs
    val pairsL = pairs
    val sums = emb.mapPartitions { it =>
      it.map { e =>
        val dims = e.length
        val cen = new Array[Double](dims)
        var j = 0
        while (j < dims) { cen(j) = e(j).toDouble - muL(j); j += 1 }
        val t = new Array[Double](vsL.length)
        var c = 0
        while (c < vsL.length) {
          val v = vsL(c)
          var acc = 0.0
          j = 0
          while (j < dims) { acc += cen(j) * v(j); j += 1 }
          t(c) = acc
          c += 1
        }
        val out = new Array[Long](pairsL.length)
        var p = 0
        while (p < pairsL.length) {
          out(p) = math.floor(t(pairsL(p)._1) * t(pairsL(p)._2) * 1e6 + 0.5).toLong
          p += 1
        }
        out
      }
    }.select(VecLongSum.toColumn).head()
    val moments = sums.map(_ / 1e6 / n)
    val lam = new Array[Double](m)
    pairs.indices.foreach { p =>
      if (pairs(p)._1 == pairs(p)._2) lam(pairs(p)._1) = moments(p)
    }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    pairs.indices.map { p =>
      val (i, j) = pairs(p)
      (i.toLong, j.toLong, r6(moments(p)),
        r6(moments(p) / math.sqrt(lam(i) * lam(j))))
    }.toDF("ci", "cj", "cross_moment", "whitened_gram")
  }

  /** The q109 oracle: the q108 component chain (shared generator —
    * MATERIALIZED for the same inlining reason), then per-row
    * projections onto the m-vector list and the micro-quantized
    * moment sums per (ci ≤ cj) pair. */
  def pcaWhitenAuditSql(m: Int = 4, iters: Int = 3): String = {
    val topm = pcaTopMSql(m, iters)
    // reuse everything up to the final SELECT of the q108 oracle
    val ctes = topm.substring(0, topm.lastIndexOf("SELECT md.dim"))
    val vsList = (1 to m).map(c => s"v${c}_$iters.v").mkString("[", ", ", "]")
    val vsFrom = (1 to m).map(c => s"v${c}_$iters").mkString(", ")
    s"""${ctes.trim.stripSuffix(",")},
       |va AS MATERIALIZED (SELECT $vsList AS vs FROM $vsFrom),
       |tt AS MATERIALIZED (SELECT list_transform(range(1, ${m + 1}),
       |    c -> list_reduce(list_prepend(0.0::DOUBLE, list_transform(
       |      range(1, len(cen) + 1), j -> cen[j] * vs[c][j])), (a, b) -> a + b)) AS t
       |  FROM r0, va),
       |mm AS MATERIALIZED (SELECT ci, cj,
       |    SUM(CAST(floor(t[ci] * t[cj] * 1e6 + 0.5) AS BIGINT)) AS s
       |  FROM tt, (SELECT unnest(range(1, ${m + 1})) AS ci) a,
       |       (SELECT unnest(range(1, ${m + 1})) AS cj) b
       |  WHERE ci <= cj GROUP BY ci, cj),
       |lam AS (SELECT ci AS c, s / 1e6 / (SELECT n FROM n) AS lambda FROM mm WHERE ci = cj)
       |SELECT (mm.ci - 1)::BIGINT AS ci, (mm.cj - 1)::BIGINT AS cj,
       |  floor((mm.s / 1e6 / (SELECT n FROM n)) * 1e6 + 0.5) / 1e6 AS cross_moment,
       |  floor((mm.s / 1e6 / (SELECT n FROM n)) / sqrt(li.lambda * lj.lambda) * 1e6 + 0.5) / 1e6 AS whitened_gram
       |FROM mm JOIN lam li ON li.c = mm.ci JOIN lam lj ON lj.c = mm.cj
       |ORDER BY ci, cj""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q98 — JOHNSON-LINDENSTRAUSS PROJECTION + DISTORTION AUDIT: project
  // the 64-d embeddings to 16-d with a deterministic ±1 sign matrix
  // (Achlioptas 2003 database-friendly random projections — the cheap
  // dimensionality-reduction rung below q92's PCA: data-independent, no
  // fit pass) and MEASURE what the compression does to pairwise
  // distances — the JL lemma's ε, observed: for the md5-lowest 20
  // vectors, every pair's original vs projected Euclidean distance and
  // the distortion ratio.
  //
  // Scale shape: projection is pure per-row work (16 ascending-index
  // folds over 64 terms, sign from integer LCG arithmetic — zero state,
  // zero shuffle at any scale; the 100 TB use is a 4× smaller ANN
  // index); the audit is SAMPLE-sized by construction (20-row broadcast
  // self-join, the q79/q80 discipline). Determinism: the sign matrix is
  // pure integer arithmetic identical in both engines; distance folds
  // are left-to-right (bit-identical); zero-distance pairs guard to 0.0
  // ratio on both sides.
  // ---------------------------------------------------------------------

  def jlDistortion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 16
    val sample = Tables.embeddings(s, d)
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h")).limit(20)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          val p = new Array[Double](k)
          var j = 0
          while (j < k) {
            var acc = 0.0
            var i = 0
            while (i < e.length) {
              val sign =
                if (((i + 1).toLong * 1103515245L + (j + 1).toLong * 12345L) % 1000L < 500L) 1.0
                else -1.0
              acc += e(i).toDouble * sign
              i += 1
            }
            p(j) = acc / 4.0 // 1/sqrt(16), exact
            j += 1
          }
          (id, e, p)
        }
      }.toDF("vec_id", "e", "p")
      .transform(Tables.maybePersist)
    val a = sample.selectExpr("vec_id as va", "e as ea", "p as pa")
    val b = sample.selectExpr("vec_id as vb", "e as eb", "p as pb")
    a.join(broadcast(b), col("va") < col("vb"))
      .selectExpr("va", "vb",
        "sqrt(aggregate(zip_with(ea, eb, (x, y) -> (double(x) - double(y)) * (double(x) - double(y))), 0d, (acc, v) -> acc + v)) as do_",
        "sqrt(aggregate(zip_with(pa, pb, (x, y) -> (x - y) * (x - y)), 0d, (acc, v) -> acc + v)) as dp_")
      .selectExpr("va", "vb",
        "floor(do_ * 1e6 + 0.5) / 1e6 as d_orig",
        "floor(dp_ * 1e6 + 0.5) / 1e6 as d_proj",
        "case when do_ = 0d then cast(0.0 as double) else floor(dp_ / do_ * 1e6 + 0.5) / 1e6 end as ratio")
  }

  val jlDistortionSql: String =
    """WITH sm AS (SELECT vec_id, embedding FROM embeddings
      |  ORDER BY md5(vec_id::VARCHAR) LIMIT 20),
      |pr AS (SELECT vec_id, embedding, list_transform(range(1, 17), j ->
      |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i::INT]::DOUBLE *
      |        (CASE WHEN (i * 1103515245 + j * 12345) % 1000 < 500
      |         THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END))),
      |      (a, b) -> a + b) / 4.0) AS p
      |  FROM sm),
      |m AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(a.embedding) + 1),
      |    i -> (a.embedding[i::INT]::DOUBLE - b.embedding[i::INT]::DOUBLE)
      |       * (a.embedding[i::INT]::DOUBLE - b.embedding[i::INT]::DOUBLE))), (x, y) -> x + y)) AS do_,
      |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 17),
      |    j -> (a.p[j::INT] - b.p[j::INT]) * (a.p[j::INT] - b.p[j::INT]))), (x, y) -> x + y)) AS dp_
      |  FROM pr a JOIN pr b ON a.vec_id < b.vec_id)
      |SELECT va, vb,
      |  floor(do_ * 1e6 + 0.5) / 1e6 AS d_orig,
      |  floor(dp_ * 1e6 + 0.5) / 1e6 AS d_proj,
      |  CASE WHEN do_ = 0 THEN 0.0 ELSE floor(dp_ / do_ * 1e6 + 0.5) / 1e6 END AS ratio
      |FROM m ORDER BY va, vb""".stripMargin

  // ---------------------------------------------------------------------
  // q80 — SemDeDup AUDIT: the q79 seeded-recall protocol applied to the
  // semantic stack. q75 is approximate in exactly one place — a near-dup
  // pair is only caught if both members route to the SAME cell — so the
  // audit measures that routing: draw the md5-lowest 50 base vectors +
  // their planted twins (the paired sample), compute EXACT cosine over
  // all sample pairs as ground truth, run the PRODUCTION routing
  // (fitCellCodebook + assignCells — the very code q75 executes) on the
  // sample, and report cell-routing recall (tau-pairs co-routed / all
  // tau-pairs), cell precision (tau-pairs among co-routed pairs), and
  // the highest cosine the routing MISSED (the live risk metric — 0.0
  // when nothing escaped).
  //
  // Scale shape: the codebook fit is the production artifact (two
  // driver jobs); everything downstream of the sample filter is
  // SAMPLE-sized — the exact all-pairs ground truth is a broadcast
  // self-join, O(K²) BY DESIGN and bounded by the sample knob. ONE
  // tagged-union aggregate emits the whole report (the r12 q79
  // discipline). Determinism: md5-order sample, left-to-right double
  // dots, integer counts; zero-denominator ratios guard to 0.0 in both
  // engines.
  // ---------------------------------------------------------------------

  def semDedupAudit(s: SparkSession, d: String, sampleK: Int = 50,
                    targetCellSize: Int = 1000): DataFrame = {
    withFns(s)
    val plan = fitSeedPlan(s, d, targetCellSize)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    val corpus = base.unionAll(
      base.selectExpr("vec_id + 10000 as vec_id",
        "zip_with(e, sequence(0, 63), (x, i) -> x + 0.004 * cast(i % 5 as double)) as e"))
    val sampBase = base
      .select(col("vec_id"), md5(col("vec_id").cast("string")).as("h"))
      .orderBy("h").limit(sampleK).select("vec_id")
    val sampIds = sampBase.unionAll(
      sampBase.select((col("vec_id") + 10000).as("vec_id")))
    val assigned = assignCellsJoined(corpus.join(broadcast(sampIds), "vec_id"), plan)
      .transform(Tables.maybePersist)
    val pairs = assigned.selectExpr("vec_id as va", "c_label as ca", "e as ea", "nrm as na")
      .join(broadcast(assigned.selectExpr(
          "vec_id as vb", "c_label as cb", "e as eb", "nrm as nb")),
        col("va") < col("vb"))
      .selectExpr("ca = cb as same_cell",
        s"${dotExpr("ea", "eb")} / (na * nb) as cos")
    val tagged = assigned.selectExpr("'s' as tag", "false as same_cell", "0.0 as cos")
      .unionAll(pairs.selectExpr("'p' as tag", "same_cell", "cos"))
    val tau = semDedupTau
    tagged.groupBy().agg(
        count(when(col("tag") === "s", 1)).as("n_sampled"),
        count(when(col("tag") === "p" && col("cos") >= tau, 1)).as("n_exact"),
        count(when(col("tag") === "p" && col("same_cell"), 1)).as("n_candidates"),
        count(when(col("tag") === "p" && col("same_cell") && col("cos") >= tau, 1))
          .as("n_verified"),
        coalesce(max(when(col("tag") === "p" && !col("same_cell") && col("cos") >= tau,
          col("cos"))), lit(0.0)).as("missed"))
      .selectExpr("n_sampled", "n_exact", "n_candidates", "n_verified",
        "case when n_exact = 0 then 0.0 else floor(n_verified / cast(n_exact as double) * 1e6 + 0.5) / 1e6 end as recall",
        "case when n_candidates = 0 then 0.0 else floor(n_verified / cast(n_candidates as double) * 1e6 + 0.5) / 1e6 end as cell_precision",
        "floor(missed * 1e6 + 0.5) / 1e6 as max_missed_cos")
  }

  val semDedupAuditSql: String = {
    def dd(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a) + 1),
         |i -> $a[i] * $b[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    s"""WITH base AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |corpus AS (SELECT vec_id, e FROM base
       |  UNION ALL SELECT vec_id + 10000,
       |    list_transform(range(1, len(e) + 1), i -> e[i] + 0.004 * ((i - 1) % 5)::DOUBLE)
       |  FROM base),
       |prm AS (SELECT GREATEST(
       |    (SELECT count(DISTINCT label) FROM embeddings),
       |    CEIL((SELECT 2 * count(*) FROM embeddings) / 1000.0)::BIGINT) AS k),
       |prm2 AS (SELECT k, CEIL(sqrt(k))::BIGINT AS sq FROM prm),
       |sd0 AS (SELECT vec_id, e,
       |    row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS sid FROM base),
       |seeds AS (SELECT sid, e, sqrt(${dd("e", "e")}) AS nrm FROM sd0
       |  WHERE sid < (SELECT k FROM prm2)),
       |sups AS (SELECT sid AS sup, e AS se, nrm AS sn FROM seeds
       |  WHERE sid < (SELECT sq FROM prm2)),
       |ssr AS (SELECT s.sid, s.e, s.nrm, u.sup, row_number() OVER (
       |    PARTITION BY s.sid ORDER BY (${dd("s.e", "u.se")}) / (s.nrm * u.sn) DESC, u.sup) AS rn
       |  FROM seeds s CROSS JOIN sups u),
       |sm AS (SELECT sid, e, nrm, sup FROM ssr WHERE rn = 1),
       |sv AS (SELECT u.sup, u.se, u.sn FROM sups u
       |  WHERE u.sup IN (SELECT sup FROM sm)),
       |sb AS (SELECT vec_id FROM base ORDER BY md5(vec_id::VARCHAR) LIMIT 50),
       |sids AS (SELECT vec_id FROM sb UNION ALL SELECT vec_id + 10000 FROM sb),
       |n AS (SELECT c.vec_id, c.e, sqrt(${dd("c.e", "c.e")}) AS nrm
       |  FROM corpus c JOIN sids USING (vec_id)),
       |l1 AS (SELECT n.vec_id, n.e, n.nrm, v.sup, row_number() OVER (
       |    PARTITION BY n.vec_id ORDER BY (${dd("n.e", "v.se")}) / (n.nrm * v.sn) DESC, v.sup) AS rn
       |  FROM n CROSS JOIN sv v),
       |r1 AS (SELECT vec_id, e, nrm, sup FROM l1 WHERE rn = 1),
       |l2 AS (SELECT r.vec_id, r.e, r.nrm, m.sid, row_number() OVER (
       |    PARTITION BY r.vec_id ORDER BY (${dd("r.e", "m.e")}) / (r.nrm * m.nrm) DESC, m.sid) AS rn
       |  FROM r1 r JOIN sm m ON r.sup = m.sup),
       |a AS (SELECT vec_id, e, nrm, sid::INT AS c_label FROM l2 WHERE rn = 1),
       |p AS (SELECT x.c_label = y.c_label AS same_cell,
       |    (${dd("x.e", "y.e")}) / (x.nrm * y.nrm) AS cos
       |  FROM a x JOIN a y ON x.vec_id < y.vec_id),
       |cnts AS (SELECT
       |    (SELECT COUNT(*) FROM a)::BIGINT AS n_sampled,
       |    (SELECT COUNT(*) FROM p WHERE cos >= $semDedupTau)::BIGINT AS n_exact,
       |    (SELECT COUNT(*) FROM p WHERE same_cell)::BIGINT AS n_candidates,
       |    (SELECT COUNT(*) FROM p WHERE same_cell AND cos >= $semDedupTau)::BIGINT AS n_verified,
       |    (SELECT coalesce(MAX(cos), 0.0) FROM p
       |       WHERE NOT same_cell AND cos >= $semDedupTau)::DOUBLE AS missed)
       |SELECT n_sampled, n_exact, n_candidates, n_verified,
       |  CASE WHEN n_exact = 0 THEN 0.0
       |       ELSE floor(n_verified / n_exact::DOUBLE * 1e6 + 0.5) / 1e6 END AS recall,
       |  CASE WHEN n_candidates = 0 THEN 0.0
       |       ELSE floor(n_verified / n_candidates::DOUBLE * 1e6 + 0.5) / 1e6 END AS cell_precision,
       |  floor(missed * 1e6 + 0.5) / 1e6 AS max_missed_cos
       |FROM cnts""".stripMargin
  }

  /** In-task L2 norm — the exact ascending-index fold every assignment
    * route (closure, joined, streaming) and the DuckDB oracle run, so
    * norms are bit-identical everywhere they are computed. */
  private def l2norm(c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    math.sqrt(acc)
  }

  /** q75's codebook in its SCALE form (r13): only the ⌈√k⌉ super-seeds
    * are driver/closure-resident (`supIds`/`supVecs`/`supNorms` — LIVE,
    * i.e. non-empty, super-cells only, ascending); the k seeds live in
    * `seeds`, a persisted DISTRIBUTED frame (sup: int, sid: bigint,
    * e: array<double>, nrm: double) keyed by super-cell. Nothing
    * k-sized ever crosses to the driver and no Int bound caps k. */
  case class SeedPlan(k: Long, sq: Int,
                      supIds: Array[Int],
                      supVecs: Array[Array[Double]],
                      supNorms: Array[Double],
                      seeds: DataFrame)

  /** The closure-resident codebook — the SMALL-k / streaming form (a
    * per-row stateless router needs its parameters in the task, the
    * fitBigramLm model-fit contract — models fit the driver by
    * definition; the batch path at k ∝ corpus uses [[SeedPlan]]).
    * `seedNorms`/`supNorms` pre-compute each seed's L2 norm with the
    * same ascending-dot + sqrt chain the batch assignment runs, so
    * closure-side scoring stays bit-identical. `supIds` holds only
    * NON-EMPTY super-cells (ascending); `seedSups` is each seed's
    * routed super-cell; `supSeedIdx` (r13, VERDICT r12 #1) is the
    * sup→seed-index table — parallel to `supIds`, each entry the
    * ascending seed positions of that super-cell — so level-2 routing
    * touches only the chosen super-cell's ~√k seeds instead of guard-
    * scanning all k (an O(n·k) comparison term once k ∝ corpus). */
  case class CellCodebook(supIds: Array[Int],
                          supVecs: Array[Array[Double]],
                          supNorms: Array[Double],
                          seedIds: Array[Int],
                          seedSups: Array[Int],
                          seedVecs: Array[Array[Double]],
                          seedNorms: Array[Double],
                          supSeedIdx: Array[Array[Int]])

  /** Fit the distributed seed plan. Seed selection = the k md5-lowest
    * base vectors with sid = exact global md5 rank (the oracle's
    * row_number() OVER (ORDER BY md5(vec_id)) - 1), computed WITHOUT a
    * driver TakeOrdered and WITHOUT shuffling the corpus:
    *
    *  1. approx-quantile PREFILTER on the 48-bit numeric prefix of the
    *     md5 (exact in double; a monotone coarsening of the md5 order,
    *     so `prefix ≤ t` keeps a clean md5-prefix superset) cuts the
    *     rank candidates from n to ~1.5k rows in one aggregate pass +
    *     one filter scan — zero exchanges over the corpus. A count
    *     guard re-widens the threshold (and ultimately falls back to
    *     no filter) if the approx quantile under-shot, so the true
    *     k-smallest are provably inside the candidate set.
    *  2. exact two-phase rank of the candidates: range-exchange on the
    *     md5, sort within partitions, per-partition counts (≤P rows to
    *     the driver) turn local positions into the global rank.
    *
    * Super-seeds (sid < ⌈√k⌉) come to the driver — √k rows, closure-
    * sized up to k ~ 10⁸ (beyond that: [[fitHierPlan]], the general-L
    * recursion of this construction, r14). Each seed then routes to its nearest super-seed
    * IN-TASK (one mapPartitions over the k-row frame — the k·√k fit
    * work never touches the driver), and only NON-EMPTY super-cells
    * survive into `supIds`. */
  /** Geometric threshold ladder for the prefilter: approx percentiles
    * at these fracs are all computed in the ONE fused stats job (r14,
    * VERDICT r13 #4 — the old path paid a separate approxQuantile job
    * per retry); the guard escalates UP the ladder on undershoot
    * without ever re-scanning for a quantile. */
  private val prefilterLadder: Array[Double] =
    Array(1e-5, 4e-5, 1.6e-4, 6.4e-4, 2.56e-3, 1.024e-2,
      4.096e-2, 0.16384, 0.65536, 1.0)

  /** Below this candidate-set size the prefilter is skipped outright
    * (r14, VERDICT r13 #4's knee): range-ranking a few million 2-column
    * rows is one cheap exchange, while the prefilter costs a
    * filter+persist+count pass — only ABOVE this floor does cutting the
    * ranked set from n to ~1.5k pay. At 100 TB (n ~ 10⁹ vectors) the
    * prefilter always runs. */
  private val prefilterFloorRows: Long = 1L << 22

  /** Ranked-seed stage shared by the 2-level [[fitSeedPlan]] and the
    * L-level [[fitHierPlan]]: the fused stats job, the ladder
    * prefilter, and the exact distributed rank. Returns (k,
    * seeds(sid, e), top, release) — `release` frees the rank stage's
    * persisted frame once the caller's derived frames are materialized.
    *
    * `top` (r14, the fit's job-count floor): the caller's top-level
    * rows (global rank < prefix(k)) PIGGYBACKED on the counts job when
    * the overshoot is bounded. The rank frame is RANGE-partitioned and
    * locally sorted, so the global first-`prefix` rows are contained in
    * the per-partition prefixes of that length; each task ships
    * min(n_p, prefix) rows, the driver drops the overshoot once the
    * offsets are known. Fused ONLY while P·prefix stays tiny
    * (≤ 20k rows — the fixture/streaming regime); at production P the
    * gate is off, `top` comes back None, and the caller pays its own
    * collect job exactly as before — what crosses the driver never
    * grows with the gate. */
  private def fitRankedSeeds(s: SparkSession, d: String, targetCellSize: Int,
      prefix: Long => Int): (Long, DataFrame,
        Option[Array[(Long, Array[Double])]], () => Unit) = {
    import s.implicits._
    val src = Tables.embeddings(s, d)
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> cast(x as double)) as e")
      .withColumn("h", md5(col("vec_id").cast("string")))
      .withColumn("hl", conv(substring(col("h"), 1, 12), 16, 10).cast("long"))
    // ONE fused stats job (r14, VERDICT r13 #4): corpus cardinality (the
    // planted-twin union doubles the base) + label count (the k floor) +
    // the whole prefilter threshold ladder in a single aggregate pass —
    // the old fit paid count, then quantile (per retry) as separate
    // driver-blocking jobs. The 48-bit hl prefix is exact in double, so
    // each ladder percentile is a monotone md5-order threshold; the
    // count guard below keeps correctness independent of sketch error.
    val (nBase, nLabels, qs) = src
      .agg(count(lit(1)), countDistinct(col("label")),
        expr(s"percentile_approx(hl, array(${prefilterLadder.mkString(",")}), 10000)"))
      .as[(Long, Long, Seq[Long])].head()
    val n = 2L * nBase
    val k = math.max(nLabels, math.ceil(n / targetCellSize.toDouble).toLong)
    // --- 1. prefilter — only when the candidate cut can pay for itself:
    // skipped when k is already a large fraction of n (ranking everything
    // beats two extra passes) OR when n sits under the row floor
    var prefiltered: Option[DataFrame] = None
    val cand =
      if (k * 20L >= nBase || nBase <= prefilterFloorRows) src
      else {
        var li = prefilterLadder.indexWhere(_ >= math.min(1.0,
          k.toDouble / nBase * 1.5 + 1e-4)) match {
          case -1 => prefilterLadder.length - 1
          case i  => i
        }
        var out: DataFrame = null
        while (out == null) {
          if (prefilterLadder(li) >= 1.0) out = src
          else {
            val f = src.filter(col("hl") <= lit(qs(li)))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            if (f.count() >= k) { prefiltered = Some(f); out = f }
            else { f.unpersist(); li += 1 } // climb the ladder, no new quantile job
          }
        }
        out
      }
    // --- 2. exact distributed rank of the candidates. Real persist (not
    // maybePersist): the counts job and the rank job MUST read the same
    // frozen partition layout.
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    val sorted = cand.select(col("h"), col("e"))
      .repartitionByRange(parts, col("h"))
      .sortWithinPartitions("h")
      .as[(String, Array[Double])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pfx = prefix(k)
    val fusePrefix = parts.toLong * pfx <= 20000L
    val pfxCap = if (fusePrefix) pfx else 0
    val partStats = sorted.rdd
      .mapPartitionsWithIndex { (i, it) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        var cnt = 0L
        it.foreach { case (_, e) =>
          if (cnt < pfxCap) buf += e
          cnt += 1
        }
        Iterator((i, cnt, buf.toArray))
      }
      .collect().sortBy(_._1)
    val counts = partStats.map(_._2)
    // the counts job materialized `sorted`; the prefilter frame is never
    // read again (r14 advice fix — it used to stay cached for the
    // session lifetime)
    prefiltered.foreach(_.unpersist(blocking = false))
    val offs = counts.scanLeft(0L)(_ + _)
    val top =
      if (!fusePrefix) None
      else Some(partStats.flatMap { case (i, _, rows) =>
        rows.zipWithIndex.flatMap { case (e, j) =>
          val sid = offs(i) + j
          if (sid < pfx && sid < k) Some((sid, e)) else None
        }
      }.sortBy(_._1))
    val kCap = k // stable closure capture
    val seedsRanked = sorted.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var r = offs(i)
        it.flatMap { case (_, e) =>
          val sid = r; r += 1
          if (sid < kCap) Iterator((sid, e)) else Iterator.empty
        }
      }
    val seedsDf = s.createDataset(seedsRanked).toDF("sid", "e")
    (k, seedsDf, top, () => sorted.unpersist())
  }

  def fitSeedPlan(s: SparkSession, d: String,
                  targetCellSize: Int = 1000): SeedPlan = {
    import s.implicits._
    val sqOf = (k: Long) => math.ceil(math.sqrt(k.toDouble)).toInt
    val (k, seedsDf, top, release) = fitRankedSeeds(s, d, targetCellSize, sqOf)
    val sq = sqOf(k)
    // --- super-seeds to the driver (√k rows), ascending sid — fused
    // into the counts job when the gate held, otherwise one collect
    val supRows = top.getOrElse(seedsDf.filter(col("sid") < sq)
      .as[(Long, Array[Double])].collect().sortBy(_._1))
    val supAll = supRows.map(_._2)
    val supAllNorms = supAll.map(l2norm)
    // --- route each seed to its nearest super-seed IN-TASK —
    // strict-improvement scan in ascending sup order ≡ the batch
    // array_max over (cos, -sup)
    val routed = seedsDf.as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (sid, e) =>
          val nr = l2norm(e)
          var bestCos = Double.NegativeInfinity
          var best = Int.MaxValue
          var p = 0
          while (p < supAll.length) {
            val sv = supAll(p)
            var dot = 0.0
            var j = 0
            while (j < sv.length) { dot += e(j) * sv(j); j += 1 }
            val cos = dot / (nr * supAllNorms(p))
            if (cos > bestCos) { bestCos = cos; best = p }
            p += 1
          }
          (best, sid, e, nr)
        }
      }
      .toDF("sup", "sid", "e", "nrm")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // non-empty super-cells only (≤√k values through the driver) — a
    // per-partition distinct fold over the persisted frame (r14: this
    // collect is also the job that MATERIALIZES `routed`, so folding the
    // distinct in-task drops the old shuffle+distinct job's exchange;
    // each task ships ≤ live-count ints)
    val live = routed.select(col("sup")).as[Int]
      .mapPartitions(it => it.toSet.iterator)
      .collect().distinct.sorted
    release()
    SeedPlan(k, sq, live, live.map(supAll), live.map(supAllNorms), routed)
  }

  /** The closure codebook, collected from the SAME distributed fit —
    * one code path for both forms, so the streaming router and the
    * batch join route share every fitted double bit-for-bit. Only the
    * small-k / streaming leg calls this (the collect is the model-fit
    * contract: a per-row stateless router's parameters must fit a
    * task). */
  def fitCellCodebook(s: SparkSession, d: String,
                      targetCellSize: Int = 1000): CellCodebook = {
    import s.implicits._
    val plan = fitSeedPlan(s, d, targetCellSize)
    val rows = plan.seeds.select(col("sid"), col("sup"), col("e"), col("nrm"))
      .as[(Long, Int, Array[Double], Double)]
      .collect().sortBy(_._1) // ascending sid
    val seedSups = rows.map(_._2)
    // sup→seed-index table: per live super-cell, that cell's seed
    // positions in ascending sid order (VERDICT r12 #1 — level-2 looks
    // up ~√k seeds instead of guard-scanning all k)
    val posOf = plan.supIds.zipWithIndex.toMap
    val idxBuf = Array.fill(plan.supIds.length)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    var i = 0
    while (i < seedSups.length) { idxBuf(posOf(seedSups(i))) += i; i += 1 }
    // the collect above is this plan's ONE consumer — free the seed
    // frame's cached blocks now (r14 advice fix: every streaming
    // codebook fit used to leak its seed frame for the session)
    plan.seeds.unpersist(blocking = false)
    CellCodebook(plan.supIds, plan.supVecs, plan.supNorms,
      rows.map(_._1.toInt), seedSups, rows.map(_._3), rows.map(_._4),
      idxBuf.map(_.toArray))
  }

  /** Shared degenerate-input guard for BOTH assignment routes (r14
    * advice fix): a zero-norm (or NaN) embedding makes every cosine
    * NaN — the closure route's strict `>` scan would then never pick a
    * seed while the joined route's max-struct would rank NaN greatest
    * and pick one, silently breaking the pinned route bit-identity.
    * Cosine routing over such a vector is undefined, so BOTH routes
    * reject it at the same stage with the same message (the documented
    * precondition; ExtensionsSpec pins the lockstep failure). */
  private def requireRoutableNorm(id: Long, nrm: Double): Unit =
    if (!(nrm > 0.0)) // catches 0, negatives (impossible) and NaN alike
      throw new IllegalArgumentException(
        s"assignCells: zero-norm or NaN embedding for vec_id=$id - " +
          "cosine cell routing is undefined (documented precondition)")

  /** Route (vec_id, e: array<double>) rows to their nearest codebook
    * cell — the q75 assignment as a stateless per-row transform for the
    * online leg. Argmax arithmetic mirrors the batch expression
    * operation-for-operation at BOTH levels (ascending-index dots,
    * cos = dot/(nrm·cnorm), strict-improvement scan in ascending id
    * order ≡ the batch array_max over (cos, -id) structs; level 1 over
    * non-empty super-cells, level 2 over that super-cell's seeds), so a
    * vector lands in the SAME cell online and offline. */
  def assignCells(df: DataFrame, cb: CellCodebook): Dataset[graft.streaming.SemVec] = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("vec_id").cast("long"), col("e"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          var acc = 0.0
          var k = 0
          while (k < e.length) { acc += e(k) * e(k); k += 1 }
          val nrm = math.sqrt(acc)
          requireRoutableNorm(id, nrm)
          var bestCos = Double.NegativeInfinity
          var bestPos = -1
          var c = 0
          while (c < cb.supIds.length) {
            val cen = cb.supVecs(c)
            var dot = 0.0
            k = 0
            while (k < cen.length) { dot += e(k) * cen(k); k += 1 }
            val cos = dot / (nrm * cb.supNorms(c))
            if (cos > bestCos) { bestCos = cos; bestPos = c }
            c += 1
          }
          // level 2 over the chosen super-cell's OWN seeds only (the
          // supSeedIdx table, ascending sid — r12's guard scan over all
          // k seeds was an O(n·k) comparison term once k ∝ corpus)
          bestCos = Double.NegativeInfinity
          var bestSid = Int.MaxValue
          val idx = cb.supSeedIdx(bestPos)
          var ii = 0
          while (ii < idx.length) {
            val i = idx(ii)
            val cen = cb.seedVecs(i)
            var dot = 0.0
            k = 0
            while (k < cen.length) { dot += e(k) * cen(k); k += 1 }
            val cos = dot / (nrm * cb.seedNorms(i))
            if (cos > bestCos) { bestCos = cos; bestSid = cb.seedIds(i) }
            ii += 1
          }
          graft.streaming.SemVec(bestSid, id, e, nrm)
        }
      }
  }

  /** The DISTRIBUTED assignment (r13, VERDICT r12 #2) — bit-identical to
    * [[assignCells]] (ExtensionsSpec pins it) but with the k seeds on
    * the executors instead of in the closure. Level 1 routes per-row
    * against the closure-sized live super-seeds (the exact assignCells
    * loop); level 2 is a join on the super-cell key against the
    * distributed seed frame — AQE broadcasts it at test scale, a keyed
    * exchange co-partitions it at 10⁷⁺ seeds — then ONE per-vector
    * max-struct argmax (cos via the codegen'd graft_dot ≡ the closure's
    * ascending fold; ties to the smaller sid via the negated-sid
    * field, exactly the closure's strict-improvement scan). The argmax
    * group-by is the one corpus exchange this form pays for unbounded
    * k; e/nrm ride the max struct ((cos, -sid) is unique per group, so
    * they are never compared) to spare a join-back. */
  def assignCellsJoined(corpus: DataFrame, plan: SeedPlan): DataFrame = {
    val s = corpus.sparkSession
    withFns(s)
    import s.implicits._
    val supIds = plan.supIds
    val supVecs = plan.supVecs
    val supNorms = plan.supNorms
    val l1 = corpus.select(col("vec_id").cast("long"), col("e"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          val nrm = l2norm(e)
          requireRoutableNorm(id, nrm)
          var bestCos = Double.NegativeInfinity
          var bestSup = Int.MaxValue
          var c = 0
          while (c < supIds.length) {
            val cen = supVecs(c)
            var dot = 0.0
            var k = 0
            while (k < cen.length) { dot += e(k) * cen(k); k += 1 }
            val cos = dot / (nrm * supNorms(c))
            if (cos > bestCos) { bestCos = cos; bestSup = supIds(c) }
            c += 1
          }
          (id, e, nrm, bestSup)
        }
      }
      .toDF("vec_id", "e", "nrm", "sup")
    l1.join(plan.seeds.selectExpr("sup", "sid", "e as se", "nrm as sn"), "sup")
      .selectExpr("vec_id", "e", "nrm", "sid",
        s"${dotExpr("e", "se")} / (nrm * sn) as cos")
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("sid")).as("nsid"),
        col("e"), col("nrm"))).as("m"))
      .selectExpr("cast(-m.nsid as int) as c_label", "vec_id",
        "m.e as e", "m.nrm as nrm")
  }

  // ---------------------------------------------------------------------
  // L-LEVEL HIERARCHICAL ROUTING (r14, VERDICT r13 #3): the 2-level
  // SeedPlan's documented ceilings were (a) the O(√k·d) dots per row —
  // an O(n^1.5) total once k ∝ corpus — and (b) the √k super-seed
  // closure array, which stops fitting a task around k ~ 10⁸. The
  // general-L form routes through `levels` tiers with fan-out
  // fan = ⌈k^(1/L)⌉ per tier: per-row cost O(L·fan·d), closure
  // residency O(fan·d) (level 0 only — fan ≤ 10⁴ even at k = 10¹²,
  // L = 3), and the corpus pays L−1 join+argmax exchanges against
  // level frames keyed by parent. Level ℓ's node set is the
  // min(k, fan^(ℓ+1)) lowest-rank seeds — the same md5 rank the
  // 2-level fit uses, so the hierarchy is deterministic.
  //
  // Upper-level nodes SELF-ROUTE (a level-ℓ node's level-(ℓ−1) parent
  // is itself). This coincides with nearest-routing except when two
  // seeds are exact duplicate directions (cos 1.0 ties break to the
  // smaller sid), and it guarantees every node has ≥1 child — the
  // descent joins can never strand a vector on a childless branch, so
  // no liveness pruning pass is needed at any depth. The L=2
  // production form ([[fitSeedPlan]]/[[assignCellsJoined]], which the
  // q75/q80 oracles encode) keeps pure nearest-routing; ExtensionsSpec
  // pins hier(L=2) ≡ the production assignment on the fixture corpus
  // and join ≡ closure in lockstep at L=3.
  // ---------------------------------------------------------------------

  /** The L-level plan: roots closure-resident, each deeper level a
    * persisted distributed frame (parent, sid, e, nrm) keyed by its
    * level-(ℓ−1) parent; frames(levels−2)'s sid is the cell label. */
  case class HierPlan(k: Long, fan: Int, levels: Int,
                      rootIds: Array[Long],
                      rootVecs: Array[Array[Double]],
                      rootNorms: Array[Double],
                      frames: IndexedSeq[DataFrame])

  /** Closure twin of [[HierPlan]] for the small-k / streaming leg: per
    * level, nodes ascending by sid plus the parent-sid → child-position
    * index (the supSeedIdx table generalized to depth). */
  case class HierCodebook(rootIds: Array[Long],
                          rootVecs: Array[Array[Double]],
                          rootNorms: Array[Double],
                          levelIds: IndexedSeq[Array[Long]],
                          levelVecs: IndexedSeq[Array[Array[Double]]],
                          levelNorms: IndexedSeq[Array[Double]],
                          levelChildIdx: IndexedSeq[Map[Long, Array[Int]]])

  /** Generalized joined descent: level-0 closure scan over the roots
    * (the exact assignCells level-1 loop), then one join + max-struct
    * argmax per deeper level — per level the same arithmetic as
    * [[assignCellsJoined]]'s level 2 (graft_dot cos ≡ the ascending
    * fold, ties to the smaller sid via the negated-sid field, e/nrm
    * riding the unique-keyed max struct). Returns (vec_id, e, nrm,
    * parent) with parent the chosen node of the DEEPEST frame given. */
  private def descendJoined(vecs: DataFrame, rootIds: Array[Long],
      rootVecs: Array[Array[Double]], rootNorms: Array[Double],
      frames: Seq[DataFrame]): DataFrame = {
    val s = vecs.sparkSession
    withFns(s)
    import s.implicits._
    val l0 = vecs.select(col("vec_id").cast("long"), col("e"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          val nrm = l2norm(e)
          requireRoutableNorm(id, nrm)
          var bestCos = Double.NegativeInfinity
          var best = Long.MaxValue
          var c = 0
          while (c < rootIds.length) {
            val cen = rootVecs(c)
            var dot = 0.0
            var j = 0
            while (j < cen.length) { dot += e(j) * cen(j); j += 1 }
            val cos = dot / (nrm * rootNorms(c))
            if (cos > bestCos) { bestCos = cos; best = rootIds(c) }
            c += 1
          }
          (id, e, nrm, best)
        }
      }
      .toDF("vec_id", "e", "nrm", "parent")
    frames.foldLeft(l0) { (cur, fr) =>
      cur.join(fr.selectExpr("parent as fp", "sid", "e as se", "nrm as sn"),
          col("parent") === col("fp"))
        .selectExpr("vec_id", "e", "nrm", "sid",
          s"${dotExpr("e", "se")} / (nrm * sn) as cos")
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("sid")).as("nsid"),
          col("e"), col("nrm"))).as("m"))
        .selectExpr("vec_id", "m.e as e", "m.nrm as nrm",
          "-m.nsid as parent")
    }
  }

  def fitHierPlan(s: SparkSession, d: String, targetCellSize: Int = 1000,
                  levels: Int = 2): HierPlan = {
    import s.implicits._
    require(levels >= 2, s"hierarchical routing needs >= 2 levels, got $levels")
    val fanOf = (k: Long) =>
      math.max(2, math.ceil(math.pow(k.toDouble, 1.0 / levels)).toInt)
    val (k, seedsDf, top, release) = fitRankedSeeds(s, d, targetCellSize, fanOf)
    val fan = fanOf(k)
    // cumulative level sizes fan, fan², …, k (overflow-safe multiply)
    val sizes = new Array[Long](levels)
    sizes(0) = math.min(k, fan.toLong)
    for (l <- 1 until levels)
      sizes(l) = if (sizes(l - 1) >= (k + fan - 1) / fan) k
                 else sizes(l - 1) * fan
    sizes(levels - 1) = k
    // roots to the driver — fan rows, ascending sid (= rank, contiguous;
    // fused into the counts job when the gate held)
    val rootRows = top.map(_.filter(_._1 < sizes(0)))
      .getOrElse(seedsDf.filter(col("sid") < sizes(0))
        .as[(Long, Array[Double])].collect().sortBy(_._1))
    val rootIds = rootRows.map(_._1)
    val rootVecs = rootRows.map(_._2)
    val rootNorms = rootVecs.map(l2norm)
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (l <- 1 until levels) {
      val upper = sizes(l - 1)
      // upper nodes self-route (parent = own sid); fresh nodes descend
      // through the levels fitted so far — the fit work per level is a
      // distributed descent, nothing level-sized visits the driver
      val self = seedsDf.filter(col("sid") < upper)
        .as[(Long, Array[Double])]
        .mapPartitions(it => it.map { case (sid, e) => (sid, sid, e, l2norm(e)) })
        .toDF("parent", "sid", "e", "nrm")
      val fresh = seedsDf
        .filter(col("sid") >= upper && col("sid") < sizes(l))
        .selectExpr("sid as vec_id", "e")
      val descended = descendJoined(fresh, rootIds, rootVecs, rootNorms,
          frames.toSeq)
        .selectExpr("parent", "vec_id as sid", "e", "nrm")
      val frame = self.select("parent", "sid", "e", "nrm")
        .unionAll(descended.select("parent", "sid", "e", "nrm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      frames += frame
    }
    frames.last.count() // materialize the cascade before freeing the rank stage
    release()
    HierPlan(k, fan, levels, rootIds, rootVecs, rootNorms, frames.toIndexedSeq)
  }

  /** The L-level corpus assignment, joined form — output schema matches
    * [[assignCellsJoined]] (c_label, vec_id, e, nrm). */
  def assignCellsHierJoined(corpus: DataFrame, plan: HierPlan): DataFrame =
    descendJoined(corpus, plan.rootIds, plan.rootVecs, plan.rootNorms,
        plan.frames)
      .selectExpr("cast(parent as int) as c_label", "vec_id", "e", "nrm")

  /** Collect the L-level plan into closure form (the fitCellCodebook
    * contract: small-k / streaming only — parameters must fit a task).
    * Frees each collected frame's cache as it goes. */
  def fitHierCodebook(s: SparkSession, d: String, targetCellSize: Int = 1000,
                      levels: Int = 2): HierCodebook = {
    import s.implicits._
    val plan = fitHierPlan(s, d, targetCellSize, levels)
    val collected = plan.frames.map { fr =>
      val rows = fr.select(col("parent"), col("sid"), col("e"), col("nrm"))
        .as[(Long, Long, Array[Double], Double)]
        .collect().sortBy(_._2) // ascending sid
      fr.unpersist(blocking = false)
      rows
    }
    HierCodebook(plan.rootIds, plan.rootVecs, plan.rootNorms,
      collected.map(_.map(_._2)),
      collected.map(_.map(_._3)),
      collected.map(_.map(_._4)),
      collected.map { rows =>
        val byParent = scala.collection.mutable.Map
          .empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
        var i = 0
        while (i < rows.length) {
          byParent.getOrElseUpdate(rows(i)._1,
            scala.collection.mutable.ArrayBuffer.empty[Int]) += i
          i += 1
        }
        byParent.view.mapValues(_.toArray).toMap
      })
  }

  /** The L-level closure assignment — per level the exact
    * strict-improvement scan of [[assignCells]], candidates looked up
    * through the parent→children index (the supSeedIdx discipline at
    * every depth). Output schema matches [[assignCellsHierJoined]];
    * ExtensionsSpec pins the two routes bit-identical at L=3. */
  def assignCellsHier(df: DataFrame, cb: HierCodebook): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("vec_id").cast("long"), col("e"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          val nrm = l2norm(e)
          requireRoutableNorm(id, nrm)
          var parent = Long.MaxValue
          var bestCos = Double.NegativeInfinity
          var c = 0
          while (c < cb.rootIds.length) {
            val cen = cb.rootVecs(c)
            var dot = 0.0
            var j = 0
            while (j < cen.length) { dot += e(j) * cen(j); j += 1 }
            val cos = dot / (nrm * cb.rootNorms(c))
            if (cos > bestCos) { bestCos = cos; parent = cb.rootIds(c) }
            c += 1
          }
          var l = 0
          while (l < cb.levelIds.length) {
            val idx = cb.levelChildIdx(l)(parent)
            bestCos = Double.NegativeInfinity
            var best = Long.MaxValue
            var ii = 0
            while (ii < idx.length) {
              val i = idx(ii)
              val cen = cb.levelVecs(l)(i)
              var dot = 0.0
              var j = 0
              while (j < cen.length) { dot += e(j) * cen(j); j += 1 }
              val cos = dot / (nrm * cb.levelNorms(l)(i))
              if (cos > bestCos) { bestCos = cos; best = cb.levelIds(l)(i) }
              ii += 1
            }
            parent = best
            l += 1
          }
          (parent.toInt, id, e, nrm)
        }
      }
      .toDF("c_label", "vec_id", "e", "nrm")
  }

  /** q47 — int8 symmetric quantization of the embedding column: per
    * vector, scale = max|x|/127, q_i = floor(x_i/scale + 0.5) ∈
    * [-127, 127] — the 4× storage compression a 100 TB vector corpus
    * ships to serving. Pure per-row work (typed mapPartitions JVM loop,
    * zero shuffle); reported: quantized L2 norm, int8 checksum,
    * saturation count, mean reconstruction error. Every fold is
    * left-to-right with float→double widening; /, *, floor, abs, sqrt
    * are exactly-rounded IEEE ops, so the DuckDB twin is bit-identical
    * before the 1e6 output quantization. */
  def int8Quantize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def quant(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    // no sort at all (round 6; see RelOps header): per-row values are
    // order-independent and the gate compares canonicalized rows, so
    // the quantization pass runs straight off the scan — zero exchanges
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          var maxAbs = 0.0
          v.foreach { x => val a = math.abs(x.toDouble); if (a > maxAbs) maxAbs = a }
          val scale = maxAbs / 127.0
          if (scale == 0.0) (id, 0.0, 0L, 0L, 0.0) // all-zero vector: defined, not NaN
          else {
            var norm2 = 0.0; var cks = 0L; var nSat = 0L; var err = 0.0
            v.foreach { xf =>
              val x = xf.toDouble
              norm2 += x * x
              val q = math.floor(x / scale + 0.5)
              cks += q.toLong
              if (math.abs(q) == 127.0) nSat += 1
              err += math.abs(x - q * scale)
            }
            (id, quant(math.sqrt(norm2)), cks, nSat, quant(err / v.length))
          }
        }
      }
      .toDF("vec_id", "l2_norm", "q_checksum", "n_saturated", "mean_abs_err")
  }

  val int8QuantizeSql: String =
    """WITH s AS (SELECT vec_id, embedding,
      |  list_aggregate(list_transform(embedding, x -> abs(x::DOUBLE)), 'max') / 127.0 AS scale
      |  FROM embeddings)
      |SELECT vec_id,
      |  floor(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b)) * 1e6 + 0.5) / 1e6 AS l2_norm,
      |  CASE WHEN scale = 0 THEN 0 ELSE list_reduce(list_prepend(0::BIGINT,
      |    list_transform(embedding, x -> floor(x::DOUBLE / scale + 0.5)::BIGINT)), (a, b) -> a + b) END AS q_checksum,
      |  CASE WHEN scale = 0 THEN 0 ELSE len(list_filter(embedding, x -> abs(floor(x::DOUBLE / scale + 0.5)) = 127.0))::BIGINT END AS n_saturated,
      |  CASE WHEN scale = 0 THEN 0.0 ELSE floor((list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(embedding, x -> abs(x::DOUBLE - floor(x::DOUBLE / scale + 0.5) * scale))), (a, b) -> a + b)
      |    / len(embedding)) * 1e6 + 0.5) / 1e6 END AS mean_abs_err
      |FROM s ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q87 — int8 quantized search with exact re-rank: the memory-bound ANN
  // scale path q47's quantization exists FOR. At 100 TB the float
  // corpus does not fit hot storage; the index holds int8 codes (4×
  // smaller, integer SIMD dots) and the search is two-stage: rank ALL
  // candidates by the cheap quantized score, keep a shortlist, re-rank
  // only the shortlist with exact float cosine. Here: per-vector
  // symmetric max-abs/127 quantization (exactly q47's arithmetic),
  // approx_cos = (int8·int8 dot) · s_e · s_q / (‖e‖·‖q‖) — the integer
  // dot is EXACT in both engines (|q|≤127 ⇒ products ≤ 16129, 64-term
  // sums ≪ 2^53, so the codegen'd graft_dot double fold is exact on the
  // integer-valued arrays) — top-20 shortlist by approx score, exact
  // top-10 by true cosine within it. Output carries BOTH scores, so the
  // quantization error the re-rank absorbs is visible per row.
  //
  // Scale shape: quantization is per-row mapPartitions (zero shuffle,
  // fused with the scan); the query is a one-row broadcast; the
  // shortlist is TakeOrdered (per-partition heaps, never a full sort);
  // the re-rank touches 20 rows. The corpus crosses no keyed exchange.
  // ---------------------------------------------------------------------

  /** Corpus quantized per q47's arithmetic: (vec_id, label, embedding,
    * q: integer-valued array<double>, scale, nrm). */
  private def quantizedCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, label, v) =>
          var maxAbs = 0.0
          var i = 0
          while (i < v.length) {
            val a = math.abs(v(i).toDouble); if (a > maxAbs) maxAbs = a; i += 1
          }
          val scale = maxAbs / 127.0
          val q = new Array[Double](v.length)
          var norm2 = 0.0
          i = 0
          while (i < v.length) {
            val x = v(i).toDouble
            norm2 += x * x
            q(i) = if (scale == 0.0) 0.0 else math.floor(x / scale + 0.5)
            i += 1
          }
          (id, label, v, q, scale, math.sqrt(norm2))
        }
      }
      .toDF("vec_id", "label", "embedding", "q", "scale", "nrm")
  }

  def int8Search(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    val quant = quantizedCorpus(s, d).transform(Tables.maybePersist)
    val query = quant.filter(col("vec_id") === 0)
      .selectExpr("embedding as qe", "q as qq", "scale as qscale", "nrm as qn")
    val shortlist = quant.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(query))
      .selectExpr("vec_id", "label", "embedding", "nrm", "qe", "qn",
        s"${dotExpr("q", "qq")} * (scale * qscale) / (nrm * qn) as approx_cos")
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(20)
    shortlist
      .selectExpr("vec_id", "label", "approx_cos",
        s"${dotExpr("embedding", "qe")} / (nrm * qn) as cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
      .selectExpr("vec_id", "label",
        "floor((approx_cos) * 1e6 + 0.5) / 1e6 as approx_cosine",
        "floor((cos) * 1e6 + 0.5) / 1e6 as cosine")
  }

  val int8SearchSql: String = {
    def qv(e: String, sc: String) =
      s"CASE WHEN $sc = 0 THEN list_transform($e, x -> 0.0::DOUBLE) ELSE list_transform($e, x -> floor(x::DOUBLE / $sc + 0.5)) END"
    s"""WITH s AS (SELECT vec_id, label, embedding,
       |  list_aggregate(list_transform(embedding, x -> abs(x::DOUBLE)), 'max') / 127.0 AS scale,
       |  sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |qz AS (SELECT vec_id, label, embedding, scale, nrm,
       |  ${qv("embedding", "scale")} AS q FROM s),
       |qu AS (SELECT embedding AS qe, q AS qq, scale AS qscale, nrm AS qn
       |  FROM qz WHERE vec_id = 0),
       |ap AS (SELECT e.vec_id, e.label, e.embedding, e.nrm, q.qe, q.qn,
       |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.q) + 1),
       |      i -> e.q[i] * q.qq[i])), (p_, q_) -> p_ + q_) * (e.scale * q.qscale) / (e.nrm * q.qn) AS approx_cos
       |  FROM qz e CROSS JOIN qu q WHERE e.vec_id <> 0),
       |sl AS (SELECT * FROM ap ORDER BY approx_cos DESC, vec_id LIMIT 20),
       |rr AS (SELECT vec_id, label, approx_cos,
       |    (${dotSqlDuck("embedding", "qe")}) / (nrm * qn) AS cos
       |  FROM sl)
       |SELECT vec_id, label,
       |  floor((approx_cos) * 1e6 + 0.5) / 1e6 AS approx_cosine,
       |  floor((cos) * 1e6 + 0.5) / 1e6 AS cosine
       |FROM rr ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q112 — PRODUCT-QUANTIZATION (PQ) ADC SEARCH with exact re-rank: the
  // memory rung BELOW q87's int8 codes. int8 keeps 1 byte per DIMENSION
  // (64 B/vector); PQ keeps one code per SUBSPACE (m=4 bytes/vector at
  // d=64) — the standard billion-scale ANN index layout (IVF-PQ), here
  // as the flat-PQ stage so the codebook fit, the asymmetric-distance
  // computation (ADC), and the re-rank are each separately visible.
  //
  // Fit: the embedding splits into m=4 contiguous 16-dim sub-vectors;
  // each subspace gets its own k=8-cell Lloyd codebook (seeds = the
  // q84 md5-rank draw, 2 rounds, decimal-exact means via VecCentroid —
  // all four subspaces fit in the SAME jobs, keyed by (s, cid), not one
  // job per subspace). Encode: per row, argmin-L2 code per subspace
  // (ties to the lowest cid — the q84 discipline). Search: the query
  // (vec 0) precomputes a 4×8 ADC table ||q_s − c_{s,j}||²; a row's
  // approximate distance is the ascending-s fold of its codes' table
  // entries; top-20 shortlist by (adc_d, vec_id), exact-L2 re-rank to
  // top-10. Output carries BOTH distances so the quantization error the
  // re-rank absorbs is visible per row (the q87 contract).
  //
  // Scale shape (100 TB): the codebook is m·k = 32 rows riding a
  // one-row broadcast (the q38/q84 codebook shape) — encode and ADC are
  // per-row expression work, ZERO corpus exchange; each fit round's
  // centroid update is ONE keyed exchange of (s, cid)-bucketed decimal
  // buffers (m·k·partitions, corpus-independent); the shortlist is
  // TakeOrdered (per-partition heaps). The corpus crosses no keyed
  // exchange end-to-end. Cross-engine determinism: every dot is the
  // ascending-index float→double-widened fold (graft_dot ≡ the oracle's
  // list_reduce), the ADC sum is an ascending-s fold both sides, ties
  // break (d, cid) / (d, vec_id) via array_min-struct ≡ row_number.
  // ---------------------------------------------------------------------

  private val PqM = 4; private val PqSub = 16
  private val PqK = 8; private val PqIters = 2

  /** Sub-vector view of a (vec_id, label, embedding float-array [, extra])
    * frame: per row, `subs` = m structs (s, v = float sub-slice, vv = its
    * self-dot). One scan, no exchange. `extra` columns pass through
    * (q115 carries the coarse cell + the original vector this way). */
  private def pqCorpusOf(emb: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    withFns(emb.sparkSession)
    val keep = Seq("vec_id", "label", "embedding") ++ extra
    emb
      .selectExpr(keep ++ Seq(
        s"${dotExpr("embedding", "embedding")} as ee",
        s"""transform(sequence(0, ${PqM - 1}), sx -> named_struct(
           |'s', sx, 'v', slice(embedding, sx * $PqSub + 1, $PqSub))) as sub0"""
          .stripMargin.replace("\n", " ")): _*)
      .selectExpr(keep ++ Seq("ee",
        s"""transform(sub0, x -> named_struct('s', x.s, 'v', x.v,
           |'vv', ${dotExpr("x.v", "x.v")})) as subs"""
          .stripMargin.replace("\n", " ")): _*)
  }

  private def pqCorpus(s: SparkSession, d: String): DataFrame =
    pqCorpusOf(Tables.embeddings(s, d))

  /** One-row broadcastable PQ codebook from a (s, cid, c) frame: `cells`
    * flat (dtab build) + `bys` grouped per subspace — the per-s filter
    * runs ONCE on the broadcast side, never per corpus row. */
  private[graft] def pqCellsOf(cdf: DataFrame): DataFrame =
    cdf.selectExpr("s", "cid", "c", s"${dotExpr("c", "c")} as cc")
      .agg(sort_array(collect_list(
        struct(col("s"), col("cid"), col("c"), col("cc")))).as("cells"))
      .selectExpr("cells",
        s"transform(sequence(0, ${PqM - 1}), sx -> filter(cells, cx -> cx.s = sx)) as bys")

  /** Per-row, per-subspace argmin code (needs `subs` + broadcast `bys`
    * in scope): best = array over s of struct(d, cid), ties → lowest cid. */
  private val pqBestExpr: String =
    // r21: the native codegen'd argmin (graft.functions.PqBest) replaces
    // the interpreted transform/array_min HOF chain — bit-identical
    // (ExtensionsSpec pin), one primitive loop per row instead of m·k
    // lambda-bound trees + an m·k struct allocation on the corpus-sized
    // encode/fit/search hot path (guide §4 / §1.2 step 2)
    "graft_pq_best(subs, bys) as best"

  /** Decimal-exact per-(s, cid) centroid recompute — all m subspaces in
    * one keyed aggregate (the VecCentroid discipline). */
  private def pqCentroids(assigned: DataFrame): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    assigned.selectExpr(
        s"""inline(transform(sequence(0, ${PqM - 1}), sx -> named_struct(
           |'s', sx, 'cid', best[sx].cid, 'v', subs[sx].v)))"""
          .stripMargin.replace("\n", " "))
      .as[(Int, Int, Array[Float])]
      .groupByKey(t => (t._1, t._2)).mapValues(_._3)
      .agg(VecCentroid.toColumn.name("c"))
      .map { case ((sx, cid), c) => (sx, cid, c) }
      .toDF("s", "cid", "c")
  }

  /** Driver-side twin of [[pqCellsOf]] for a COLLECTED (s, cid, c) set
    * (m·k rows — always driver-sized, the model-fit contract): builds
    * the one-row cells/bys codebook frame as a literal local relation.
    * Bit-identity with the distributed form: cc is the same ascending
    * c(j)·c(j) fold as graft_dot over the same doubles; sort by (s, cid)
    * ≡ sort_array's struct order ((s, cid) is unique, so later fields
    * never tie-break). The point (r15, verdict item 6): a literal
    * codebook broadcast costs ~one empty job, where the chained
    * agg→collect_list→broadcast subtree cost 2–3 driver-blocking jobs
    * PER LLOYD ITERATION — the PQ family's wall at fixture scale was
    * this sequential job ladder, not compute. */
  private[graft] def pqCellsLocal(s: SparkSession, rows: Array[(Int, Int, Array[Double])]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sorted = rows.sortBy(t => (t._1, t._2))
    val cells = sorted.map { case (sx, cid, c) =>
      var cc = 0.0
      var j = 0
      while (j < c.length) { cc += c(j) * c(j); j += 1 }
      Row(sx, cid, c.toSeq, cc)
    }
    val bys = (0 until PqM).map(sx => cells.filter(_.getInt(0) == sx).toSeq)
    val cellT = StructType(Seq(
      StructField("s", IntegerType), StructField("cid", IntegerType),
      StructField("c", ArrayType(DoubleType)), StructField("cc", DoubleType)))
    val schema = StructType(Seq(
      StructField("cells", ArrayType(cellT)),
      StructField("bys", ArrayType(ArrayType(cellT)))))
    s.createDataFrame(
      java.util.Arrays.asList(Row(cells.toSeq, bys)), schema)
  }

  /** The Lloyd codebook fit over an already-pqCorpusOf'd (persisted)
    * frame — shared by q112 (raw vectors) and q115 (coarse residuals).
    * r15 ladder fusion: each rung COLLECTS its m·k-row centroid set
    * (one driver-blocking job) and rebuilds the codebook as a literal
    * local relation via [[pqCellsLocal]], so the fit is exactly
    * 1 (seed TakeOrdered) + PqIters (assignment+centroid agg) jobs —
    * the old chain re-aggregated and re-broadcast the codebook inside
    * the plan, paying 2–3 extra jobs per rung for 32-row frames.
    * Fitted values are unchanged: the collected rows ARE the old
    * chain's intermediate frame, and [[pqCellsLocal]] reproduces
    * [[pqCellsOf]] bit-for-bit (ExtensionsSpec pins the equivalence). */
  private def pqFitCells(corpus: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    var cellsArr = corpus
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h")).limit(PqK)
      // single-partition window over k rows only (the q56 post-limit idiom)
      .withColumn("cid", row_number().over(Window.orderBy(col("h"))) - 1)
      .selectExpr(
        """inline(transform(subs, x -> named_struct('s', x.s, 'cid', cid,
          |'c', transform(x.v, y -> cast(y as double)))))"""
          .stripMargin.replace("\n", " "))
      .as[(Int, Int, Array[Double])].collect()
    for (_ <- 1 to PqIters)
      cellsArr = pqCentroids(
        corpus.crossJoin(broadcast(pqCellsLocal(s, cellsArr)))
          .selectExpr("vec_id", "subs", pqBestExpr))
        .as[(Int, Int, Array[Double])].collect()
    pqCellsLocal(s, cellsArr)
  }

  /** The PQ fit: (persisted corpus frame, final one-row codebook). */
  private[graft] def pqFitFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val corpus = pqCorpus(s, d).transform(Tables.maybePersist)
    (corpus, pqFitCells(corpus))
  }

  def pqSearch(s: SparkSession, d: String): DataFrame = {
    val (corpus, cells) = pqFitFrames(s, d)
    // query row → 4×8 ADC table, one-row broadcast
    val query = corpus.filter(col("vec_id") === 0)
      .crossJoin(broadcast(cells))
      .selectExpr("embedding as qe", "ee as qee",
        s"""transform(bys, sc -> transform(sc, cx -> named_struct('cid', cx.cid,
           |'dq', (subs[cx.s].vv - (2 * ${dotExpr("subs[cx.s].v", "cx.c")})) + cx.cc))) as dtab"""
          .stripMargin.replace("\n", " "))
    val shortlist = corpus.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(cells)).crossJoin(broadcast(query))
      .selectExpr("vec_id", "label", "embedding", "ee", "qe", "qee", "dtab", pqBestExpr)
      .selectExpr("vec_id", "label", "embedding", "ee", "qe", "qee",
        // r21: native ADC fold (graft.functions.PqAdc) — ≡ the
        // aggregate/filter/element_at HOF chain, bit-identical (pin)
        "graft_pq_adc(dtab, best) as adc_d")
      .orderBy(col("adc_d"), col("vec_id")).limit(20)
    val out = shortlist
      .selectExpr("vec_id", "label", "adc_d",
        s"(ee - (2 * ${dotExpr("embedding", "qe")})) + qee as d")
      .orderBy(col("d"), col("vec_id")).limit(10)
      .selectExpr("vec_id", "label",
        "floor(adc_d * 1e6 + 0.5) / 1e6 as adc_dist",
        "floor(d * 1e6 + 0.5) / 1e6 as dist")
    out
  }

  /** The q112 oracle: the same fit/encode/ADC/re-rank chain as DuckDB
    * CTEs — all m subspaces ride ONE exploded (vec_id, s) relation, the
    * Lloyd rounds are the q84 chained-CTE idiom keyed by (s, cid). */
  /** One DuckDB Lloyd round over the exploded (vec_id, s) sub-vector
    * relation `${p}subd` — shared by the q112/q115/q116 oracles
    * (`p` prefixes every CTE so two fit chains coexist in one query,
    * the sigChainSql discipline). */
  private def pqRoundCtes(n: Int, cPrev: String, p: String = ""): String = {
    val d = s"((b.vv - (2 * ${dotSqlDuck("b.v", "c.c")})) + c.cc)"
    s"""${p}a$n AS (SELECT vec_id, s, v, vv, cid, d FROM (
       |  SELECT b.vec_id, b.s, b.v, b.vv, c.cid, $d AS d,
       |    row_number() OVER (PARTITION BY b.vec_id, b.s ORDER BY $d, c.cid) AS rn
       |  FROM ${p}subd b JOIN $cPrev c ON c.s = b.s) WHERE rn = 1),
       |${p}c$n AS (SELECT s, cid, list(cv ORDER BY dim) AS c,
       |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(list(cv ORDER BY dim),
       |      x -> x * x)), (p_, q_) -> p_ + q_) AS cc
       |  FROM (SELECT s, cid, dim, CAST(SUM(CAST(vx AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |    FROM (SELECT s, cid, (i - 1)::INT AS dim, v[i]::DOUBLE AS vx
       |      FROM (SELECT s, cid, v, unnest(range(1, len(v) + 1)) AS i FROM ${p}a$n))
       |    GROUP BY s, cid, dim) GROUP BY s, cid)""".stripMargin
  }

  /** The full DuckDB PQ fit chain from a source CTE holding
    * (vec_id, `$vecCol` float list): `${p}subd` → seeds → `$iters`
    * Lloyd rounds → `${p}enc` (vec_id, s, cid, d — the per-subspace
    * code AND its distortion). */
  private def pqFitChainSql(p: String, src: String, vecCol: String,
                            m: Int = PqM, sub: Int = PqSub, k: Int = PqK,
                            iters: Int = PqIters): String = {
    val slice = s"$vecCol[s * $sub + 1 : s * $sub + $sub]"
    val rounds = (1 to iters).map(n => pqRoundCtes(n, s"${p}c${n - 1}", p)).mkString(",\n")
    val dEnc = s"((b.vv - (2 * ${dotSqlDuck("b.v", "c.c")})) + c.cc)"
    s"""${p}subd AS (SELECT vec_id, s, $slice AS v, ${dotSqlDuck(slice, slice)} AS vv
       |  FROM $src CROSS JOIN (SELECT unnest(range(0, $m)) AS s)),
       |${p}sd AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cid, vec_id
       |  FROM $src ORDER BY md5(vec_id::VARCHAR) LIMIT $k),
       |${p}c0 AS (SELECT b.s, sd.cid, list_transform(b.v, x -> x::DOUBLE) AS c, b.vv AS cc
       |  FROM ${p}sd sd JOIN ${p}subd b ON b.vec_id = sd.vec_id),
       |$rounds,
       |${p}enc AS (SELECT vec_id, s, cid, d FROM (
       |  SELECT b.vec_id, b.s, c.cid, $dEnc AS d,
       |    row_number() OVER (PARTITION BY b.vec_id, b.s ORDER BY $dEnc, c.cid) AS rn
       |  FROM ${p}subd b JOIN ${p}c$iters c ON c.s = b.s) WHERE rn = 1)""".stripMargin
  }

  def pqSearchSql(m: Int = PqM, sub: Int = PqSub, k: Int = PqK,
                  iters: Int = PqIters): String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    val rounds = (1 to iters).map(n => pqRoundCtes(n, s"c${n - 1}")).mkString(",\n")
    val slice = s"embedding[s * $sub + 1 : s * $sub + $sub]"
    val dEnc = s"((b.vv - (2 * ${dot("b.v", "c.c")})) + c.cc)"
    s"""WITH e0 AS (SELECT vec_id, label, embedding,
       |  ${dot("embedding", "embedding")} AS ee FROM embeddings),
       |subd AS (SELECT vec_id, s, $slice AS v, ${dot(slice, slice)} AS vv
       |  FROM e0 CROSS JOIN (SELECT unnest(range(0, $m)) AS s)),
       |sd AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cid, vec_id
       |  FROM embeddings ORDER BY md5(vec_id::VARCHAR) LIMIT $k),
       |c0 AS (SELECT b.s, sd.cid, list_transform(b.v, x -> x::DOUBLE) AS c, b.vv AS cc
       |  FROM sd JOIN subd b ON b.vec_id = sd.vec_id),
       |$rounds,
       |enc AS (SELECT vec_id, s, cid FROM (
       |  SELECT b.vec_id, b.s, c.cid, $dEnc AS d,
       |    row_number() OVER (PARTITION BY b.vec_id, b.s ORDER BY $dEnc, c.cid) AS rn
       |  FROM subd b JOIN c$iters c ON c.s = b.s) WHERE rn = 1),
       |qsub AS (SELECT s, v AS qv, vv AS qvv FROM subd WHERE vec_id = 0),
       |qfull AS (SELECT embedding AS qe, ee AS qee FROM e0 WHERE vec_id = 0),
       |dtab AS (SELECT c.s, c.cid, ((q.qvv - (2 * ${dot("q.qv", "c.c")})) + c.cc) AS dq
       |  FROM c$iters c JOIN qsub q ON q.s = c.s),
       |adc AS (SELECT a.vec_id,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(t.dq ORDER BY a.s)), (p, q) -> p + q) AS adc_d
       |  FROM enc a JOIN dtab t ON t.s = a.s AND t.cid = a.cid
       |  WHERE a.vec_id <> 0 GROUP BY a.vec_id),
       |sl AS (SELECT vec_id, adc_d FROM adc ORDER BY adc_d, vec_id LIMIT 20),
       |rr AS (SELECT sl.vec_id, e.label, sl.adc_d,
       |    ((e.ee - (2 * ${dot("e.embedding", "q.qe")})) + q.qee) AS d
       |  FROM sl JOIN e0 e ON e.vec_id = sl.vec_id CROSS JOIN qfull q)
       |SELECT vec_id, label,
       |  floor(adc_d * 1e6 + 0.5) / 1e6 AS adc_dist,
       |  floor(d * 1e6 + 0.5) / 1e6 AS dist
       |FROM rr ORDER BY d, vec_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q115 — IVF-PQ SEARCH (r14): the q38 coarse quantizer COMPOSED with
  // q112's product quantizer — the standard billion-scale ANN index
  // layout (inverted file of coarse cells, residuals PQ-coded inside
  // them). Vectors route to their nearest label centroid (q38's
  // assignment, verbatim); each vector's RESIDUAL (vector − its coarse
  // centroid, float32 — the stored-code precision) is what the shared
  // PQ codebooks fit and encode, because residuals concentrate near the
  // origin and quantize far better than raw vectors. Search: the query
  // routes to its coarse cell, builds the ADC table from ITS residual,
  // and ranks ONLY that cell's rows (the IVF win: ~1/k of the corpus
  // sees any per-row work) by the ascending-s fold of their residual
  // codes' entries; top-20 shortlist, exact-L2 re-rank ON THE ORIGINAL
  // vectors to top-10, both distances reported (the q87/q112 contract).
  //
  // Scale shape (100 TB): coarse centroids are a 10-row broadcast, the
  // PQ codebook a 32-row one-row broadcast; residual computation,
  // encode, and ADC are per-row expression work — the corpus crosses
  // keyed exchanges ONLY inside the m·k-bucketed decimal centroid
  // updates of the fit (corpus-independent buffer counts). At
  // production scale the assignment is written once partitioned by
  // cell and a probe scans one partition; here both stages run inline.
  // Cross-engine determinism: the float32 residual cast is IEEE
  // round-to-nearest in both engines; everything else is the q112
  // discipline (ascending-index folds, (d, cid)/(d, vec_id) ties).
  // ---------------------------------------------------------------------

  /** The q115/q116 residual corpus: q38-assigned vectors minus their
    * coarse centroid, float32-cast, pqCorpusOf'd with the coarse cell
    * and the original vector carried through. */
  private def ivfPqResidualCorpus(s: SparkSession, d: String): DataFrame =
    ivfPqResidualCorpusWith(s, d, coarseRows(s, d))

  private def ivfPqResidualCorpusWith(s: SparkSession, d: String,
      rows: Array[(Int, Array[Double])]): DataFrame = {
    withFns(s)
    val assigned = ivfAssignedWith(s, d, rows)
    val coarse = coarseCellsLit(s, rows, "coarse")
    val resid = assigned.crossJoin(broadcast(coarse))
      .selectExpr("vec_id", "label", "c_label", "embedding as orig",
        s"""transform(sequence(1, ${PqM * PqSub}), i -> cast(
           |double(element_at(embedding, i)) -
           |element_at(element_at(filter(coarse, x -> x.c_label = c_label), 1).centroid, i)
           |as float)) as embedding"""
          .stripMargin.replace("\n", " "))
    pqCorpusOf(resid, Seq("c_label", "orig"))
  }

  def ivfPqSearch(s: SparkSession, d: String): DataFrame = {
    val corpus = ivfPqResidualCorpus(s, d).transform(Tables.maybePersist)
    val cells = pqFitCells(corpus)
    val query = corpus.filter(col("vec_id") === 0)
      .crossJoin(broadcast(cells))
      .selectExpr("c_label as q_cell", "orig as qe",
        s"${dotExpr("orig", "orig")} as qee",
        s"""transform(bys, sc -> transform(sc, cx -> named_struct('cid', cx.cid,
           |'dq', (subs[cx.s].vv - (2 * ${dotExpr("subs[cx.s].v", "cx.c")})) + cx.cc))) as dtab"""
          .stripMargin.replace("\n", " "))
    val shortlist = corpus.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(cells))
      .join(broadcast(query), col("c_label") === col("q_cell"))
      .selectExpr("vec_id", "label", "c_label", "orig", "qe", "qee", "dtab", pqBestExpr)
      .selectExpr("vec_id", "label", "c_label", "orig", "qe", "qee",
        // r21: native ADC fold (graft.functions.PqAdc) — ≡ the
        // aggregate/filter/element_at HOF chain, bit-identical (pin)
        "graft_pq_adc(dtab, best) as adc_d")
      .orderBy(col("adc_d"), col("vec_id")).limit(20)
    shortlist
      .selectExpr("vec_id", "label", "c_label", "adc_d",
        s"(${dotExpr("orig", "orig")} - (2 * ${dotExpr("orig", "qe")})) + qee as d")
      .orderBy(col("d"), col("vec_id")).limit(10)
      .selectExpr("vec_id", "label", "c_label",
        "floor(adc_d * 1e6 + 0.5) / 1e6 as adc_dist",
        "floor(d * 1e6 + 0.5) / 1e6 as dist")
  }

  // ---------------------------------------------------------------------
  // q120 — IVF-PQ with nprobe = 2 (r14): the q86 recall dial applied to
  // q115 — a coarse quantizer's nearest cell can miss true neighbours
  // just across a Voronoi boundary (measured live: 3 of 50 q119 jitter
  // twins stray exactly this way), and the standard fix probes the
  // query's top-nprobe cells. The PQ side needs NO change: codebooks
  // are shared across cells and the ADC table depends only on the
  // query's residual sub-vectors — so the probe expansion multiplies
  // ONLY the broadcast query side (2 rows), exactly the q86 shape; the
  // candidate set doubles (~2/k of the corpus), the shortlist/re-rank
  // contract is q115's verbatim.
  //
  // NOTE the residual asymmetry probing exposes: a candidate's stored
  // codes quantize its residual vs ITS OWN cell's centroid, and the ADC
  // table is built from the query's residual vs the query's TOP-1 cell
  // centroid — so for second-cell candidates ADC compares residuals
  // taken about different origins (the standard IVF-PQ trade; exact
  // re-rank on the originals absorbs it, and both distances are
  // reported so the error is visible per row).
  // ---------------------------------------------------------------------

  def ivfPqSearchProbe2(s: SparkSession, d: String): DataFrame = {
    val rows = coarseRows(s, d) // ONE collect: routing, residuals AND top-2
    val corpus = ivfPqResidualCorpusWith(s, d, rows).transform(Tables.maybePersist)
    val cells = pqFitCells(corpus)
    val coarse = coarseCellsLit(s, rows, "cb")
    // query row → ADC table (from ITS residual) + its TOP-2 coarse cells
    // (descending cosine, ties to the lowest label — q86's selection)
    val query = corpus.filter(col("vec_id") === 0)
      .crossJoin(broadcast(cells)).crossJoin(broadcast(coarse))
      .selectExpr("orig as qe", s"${dotExpr("orig", "orig")} as qee",
        s"sqrt(${dotExpr("orig", "orig")}) as qn",
        s"""transform(bys, sc -> transform(sc, cx -> named_struct('cid', cx.cid,
           |'dq', (subs[cx.s].vv - (2 * ${dotExpr("subs[cx.s].v", "cx.c")})) + cx.cc))) as dtab"""
          .stripMargin.replace("\n", " "),
        s"""slice(reverse(array_sort(transform(cb, c -> named_struct(
           |'cos', ${dotExpr("orig", "c.centroid")} /
           |  (sqrt(${dotExpr("orig", "orig")}) * sqrt(graft_dot(c.centroid, c.centroid))),
           |'nl', -c.c_label)))), 1, 2) as top2"""
          .stripMargin.replace("\n", " "))
      .selectExpr("qe", "qee", "dtab", "explode(top2) as probe")
      .selectExpr("qe", "qee", "dtab", "cast(-probe.nl as int) as q_cell")
    val shortlist = corpus.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(cells))
      .join(broadcast(query), col("c_label") === col("q_cell"))
      .selectExpr("vec_id", "label", "c_label", "orig", "qe", "qee", "dtab", pqBestExpr)
      .selectExpr("vec_id", "label", "c_label", "orig", "qe", "qee",
        // r21: native ADC fold (graft.functions.PqAdc) — ≡ the
        // aggregate/filter/element_at HOF chain, bit-identical (pin)
        "graft_pq_adc(dtab, best) as adc_d")
      .orderBy(col("adc_d"), col("vec_id")).limit(20)
    shortlist
      .selectExpr("vec_id", "label", "c_label", "adc_d",
        s"(${dotExpr("orig", "orig")} - (2 * ${dotExpr("orig", "qe")})) + qee as d")
      .orderBy(col("d"), col("vec_id")).limit(10)
      .selectExpr("vec_id", "label", "c_label",
        "floor(adc_d * 1e6 + 0.5) / 1e6 as adc_dist",
        "floor(d * 1e6 + 0.5) / 1e6 as dist")
  }

  def ivfPqSearchProbe2Sql(m: Int = PqM, sub: Int = PqSub, k: Int = PqK,
                           iters: Int = PqIters): String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    val rounds = (1 to iters).map(n => pqRoundCtes(n, s"c${n - 1}")).mkString(",\n")
    val slice = s"rs[s * $sub + 1 : s * $sub + $sub]"
    val dEnc = s"((b.vv - (2 * ${dot("b.v", "c.c")})) + c.cc)"
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, label, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |a AS (SELECT vec_id, label, embedding, c_label FROM asg WHERE rn = 1),
       |resid AS (SELECT a.vec_id, a.label, a.c_label, a.embedding AS orig,
       |    list_transform(range(1, ${m * sub} + 1),
       |      i -> (a.embedding[i]::DOUBLE - c.centroid[i])::FLOAT) AS rs
       |  FROM a JOIN c ON a.c_label = c.c_label),
       |subd AS (SELECT vec_id, s, $slice AS v, ${dot(slice, slice)} AS vv
       |  FROM resid CROSS JOIN (SELECT unnest(range(0, $m)) AS s)),
       |sd AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cid, vec_id
       |  FROM resid ORDER BY md5(vec_id::VARCHAR) LIMIT $k),
       |c0 AS (SELECT b.s, sd.cid, list_transform(b.v, x -> x::DOUBLE) AS c, b.vv AS cc
       |  FROM sd JOIN subd b ON b.vec_id = sd.vec_id),
       |$rounds,
       |enc AS (SELECT vec_id, s, cid FROM (
       |  SELECT b.vec_id, b.s, c.cid, $dEnc AS d,
       |    row_number() OVER (PARTITION BY b.vec_id, b.s ORDER BY $dEnc, c.cid) AS rn
       |  FROM subd b JOIN c$iters c ON c.s = b.s) WHERE rn = 1),
       |qsub AS (SELECT s, v AS qv, vv AS qvv FROM subd WHERE vec_id = 0),
       |qfull AS (SELECT orig AS qe, ${dot("orig", "orig")} AS qee FROM resid WHERE vec_id = 0),
       |qcells AS (SELECT c_label AS q_cell FROM (
       |  SELECT e.vec_id, c.c_label, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |      ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
       |      c_label) AS rn
       |    FROM (SELECT vec_id, orig AS embedding FROM resid WHERE vec_id = 0) e
       |    CROSS JOIN c) WHERE rn <= 2),
       |dtab AS (SELECT c.s, c.cid, ((q.qvv - (2 * ${dot("q.qv", "c.c")})) + c.cc) AS dq
       |  FROM c$iters c JOIN qsub q ON q.s = c.s),
       |adc AS (SELECT a2.vec_id,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(t.dq ORDER BY a2.s)), (p, q) -> p + q) AS adc_d
       |  FROM enc a2 JOIN dtab t ON t.s = a2.s AND t.cid = a2.cid
       |  JOIN resid r ON r.vec_id = a2.vec_id
       |  WHERE r.c_label IN (SELECT q_cell FROM qcells) AND a2.vec_id <> 0
       |  GROUP BY a2.vec_id),
       |sl AS (SELECT vec_id, adc_d FROM adc ORDER BY adc_d, vec_id LIMIT 20),
       |rr AS (SELECT sl.vec_id, r.label, r.c_label, sl.adc_d,
       |    ((${dot("r.orig", "r.orig")} - (2 * ${dot("r.orig", "q.qe")})) + q.qee) AS d
       |  FROM sl JOIN resid r ON r.vec_id = sl.vec_id CROSS JOIN qfull q)
       |SELECT vec_id, label, c_label, floor(adc_d * 1e6 + 0.5) / 1e6 AS adc_dist,
       |  floor(d * 1e6 + 0.5) / 1e6 AS dist
       |FROM rr ORDER BY d, vec_id LIMIT 10""".stripMargin
  }

  /** The q115 oracle: q38's coarse CTEs → float32 residuals → the q112
    * PQ chain over them (shared [[pqRoundCtes]]) → cell-scoped ADC →
    * exact re-rank on the originals. */
  def ivfPqSearchSql(m: Int = PqM, sub: Int = PqSub, k: Int = PqK,
                     iters: Int = PqIters): String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    val rounds = (1 to iters).map(n => pqRoundCtes(n, s"c${n - 1}")).mkString(",\n")
    val slice = s"rs[s * $sub + 1 : s * $sub + $sub]"
    val dEnc = s"((b.vv - (2 * ${dot("b.v", "c.c")})) + c.cc)"
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, label, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |a AS (SELECT vec_id, label, embedding, c_label FROM asg WHERE rn = 1),
       |resid AS (SELECT a.vec_id, a.label, a.c_label, a.embedding AS orig,
       |    list_transform(range(1, ${m * sub} + 1),
       |      i -> (a.embedding[i]::DOUBLE - c.centroid[i])::FLOAT) AS rs
       |  FROM a JOIN c ON a.c_label = c.c_label),
       |subd AS (SELECT vec_id, s, $slice AS v, ${dot(slice, slice)} AS vv
       |  FROM resid CROSS JOIN (SELECT unnest(range(0, $m)) AS s)),
       |sd AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cid, vec_id
       |  FROM resid ORDER BY md5(vec_id::VARCHAR) LIMIT $k),
       |c0 AS (SELECT b.s, sd.cid, list_transform(b.v, x -> x::DOUBLE) AS c, b.vv AS cc
       |  FROM sd JOIN subd b ON b.vec_id = sd.vec_id),
       |$rounds,
       |enc AS (SELECT vec_id, s, cid FROM (
       |  SELECT b.vec_id, b.s, c.cid, $dEnc AS d,
       |    row_number() OVER (PARTITION BY b.vec_id, b.s ORDER BY $dEnc, c.cid) AS rn
       |  FROM subd b JOIN c$iters c ON c.s = b.s) WHERE rn = 1),
       |qsub AS (SELECT s, v AS qv, vv AS qvv FROM subd WHERE vec_id = 0),
       |qfull AS (SELECT orig AS qe, ${dot("orig", "orig")} AS qee, c_label AS q_cell
       |  FROM resid WHERE vec_id = 0),
       |dtab AS (SELECT c.s, c.cid, ((q.qvv - (2 * ${dot("q.qv", "c.c")})) + c.cc) AS dq
       |  FROM c$iters c JOIN qsub q ON q.s = c.s),
       |adc AS (SELECT a2.vec_id,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(t.dq ORDER BY a2.s)), (p, q) -> p + q) AS adc_d
       |  FROM enc a2 JOIN dtab t ON t.s = a2.s AND t.cid = a2.cid
       |  JOIN resid r ON r.vec_id = a2.vec_id CROSS JOIN qfull q
       |  WHERE r.c_label = q.q_cell AND a2.vec_id <> 0 GROUP BY a2.vec_id),
       |sl AS (SELECT vec_id, adc_d FROM adc ORDER BY adc_d, vec_id LIMIT 20),
       |rr AS (SELECT sl.vec_id, r.label, r.c_label, sl.adc_d,
       |    ((${dot("r.orig", "r.orig")} - (2 * ${dot("r.orig", "q.qe")})) + q.qee) AS d
       |  FROM sl JOIN resid r ON r.vec_id = sl.vec_id CROSS JOIN qfull q)
       |SELECT vec_id, label, c_label, floor(adc_d * 1e6 + 0.5) / 1e6 AS adc_dist,
       |  floor(d * 1e6 + 0.5) / 1e6 AS dist
       |FROM rr ORDER BY d, vec_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q116 — PQ RESIDUAL-CODING DISTORTION AUDIT (r14): the measurement
  // the q115 design claim rests on ("residuals concentrate near the
  // origin and quantize far better than raw vectors") — the q79/q80/q81
  // trust-audit discipline applied to the PQ family. Both codebooks fit
  // with the IDENTICAL production machinery (q112's raw chain, q115's
  // residual chain, byte-for-byte the same Lloyd jobs); the report is
  // each variant's total and worst per-vector quantization distortion
  // Σ_s ||x_s − c_{code(x,s)}||² — micro-unit exact longs across the
  // aggregate (the q74/q84 rule), so the raw-vs-residual gap is an
  // oracle-gated number, not a narrative. A spec pins the inequality
  // (residual < raw) the q115 header asserts.
  //
  // Scale shape: two fit chains (each: corpus-independent (s,cid)
  // decimal exchanges only) + per-row encode under a one-row broadcast
  // + ONE global micro-unit aggregate per variant — the corpus never
  // crosses a keyed exchange.
  // ---------------------------------------------------------------------

  /** Encode a pqCorpusOf'd frame against a fitted codebook and reduce
    * to (variant, n_vecs, total_qd, max_qd) — micro-unit totals. */
  private def pqDistortionOf(corpus: DataFrame, cells: DataFrame,
                             variant: String): DataFrame =
    corpus.crossJoin(broadcast(cells))
      .selectExpr("vec_id", "subs", pqBestExpr)
      .selectExpr("vec_id",
        s"""aggregate(sequence(0, ${PqM - 1}), cast(0.0 as double),
           |(acc, sx) -> acc + best[sx].d) as qd""".stripMargin.replace("\n", " "))
      .groupBy()
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("qd") * 1e6 + 0.5).cast("long")).as("tm"),
        max(col("qd")).as("mx"))
      .selectExpr(s"'$variant' as variant", "n_vecs", "tm / 1e6 as total_qd",
        "floor(mx * 1e6 + 0.5) / 1e6 as max_qd")

  def pqResidualAudit(s: SparkSession, d: String): DataFrame = {
    // the two fit chains are INDEPENDENT until the final union — each is
    // a strictly sequential seed+Lloyd collect ladder, so running them
    // sequentially left the cluster idle through half the driver
    // round-trips. Par.run2 overlaps them (guide §2.6); each leg's fit
    // is bit-identical to its sequential run (separate persisted
    // corpora, separate codebooks — no shared mutable state).
    val ((rawCorpus, rawCells), (residCorpus, residCells)) = Par.run2(
      pqFitFrames(s, d),
      {
        val rc = ivfPqResidualCorpus(s, d).transform(Tables.maybePersist)
        (rc, pqFitCells(rc))
      })
    pqDistortionOf(rawCorpus, rawCells, "raw")
      .unionAll(pqDistortionOf(residCorpus, residCells, "residual"))
      .orderBy("variant")
  }

  def pqResidualAuditSql(m: Int = PqM, sub: Int = PqSub, k: Int = PqK,
                         iters: Int = PqIters): String = {
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    def variantAgg(name: String, qCte: String) =
      s"""SELECT '$name' AS variant, COUNT(*)::BIGINT AS n_vecs,
         |  SUM(CAST(floor(qd * 1e6 + 0.5) AS BIGINT)) / 1e6 AS total_qd,
         |  floor(MAX(qd) * 1e6 + 0.5) / 1e6 AS max_qd FROM $qCte""".stripMargin
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, label, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dotSqlDuck("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |a AS (SELECT vec_id, label, embedding, c_label FROM asg WHERE rn = 1),
       |resid AS (SELECT a.vec_id, a.label, a.c_label, a.embedding AS orig,
       |    list_transform(range(1, ${m * sub} + 1),
       |      i -> (a.embedding[i]::DOUBLE - c.centroid[i])::FLOAT) AS rs
       |  FROM a JOIN c ON a.c_label = c.c_label),
       |${pqFitChainSql("r_", "embeddings", "embedding", m, sub, k, iters)},
       |${pqFitChainSql("v_", "resid", "rs", m, sub, k, iters)},
       |rq AS (SELECT vec_id, list_reduce(list_prepend(0.0::DOUBLE,
       |    list(d ORDER BY s)), (p, q) -> p + q) AS qd FROM r_enc GROUP BY vec_id),
       |vq AS (SELECT vec_id, list_reduce(list_prepend(0.0::DOUBLE,
       |    list(d ORDER BY s)), (p, q) -> p + q) AS qd FROM v_enc GROUP BY vec_id)
       |${variantAgg("raw", "rq")}
       |UNION ALL
       |${variantAgg("residual", "vq")}
       |ORDER BY variant""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q118 — ALL-VECTORS kNN GRAPH (r14): every ANN operator so far
  // serves ONE query (q26/q38/q87/q112/q115) or ten (q27/q81–q83); the
  // graph-construction primitive behind graph-based curation (SemDeDup
  // cell refinement, diversity sampling, NN-descent seeding, label
  // propagation) needs the top-k neighbour list of EVERY vector. The
  // quadratic-avoidance shape is the q32 discipline: LSH-bucket the
  // corpus once (the q27 closed-form planes), generate same-bucket
  // pairs through the TRIANGLE-BLOCKED pair machinery (per-task work
  // capped under arbitrary bucket skew — an all-boilerplate bucket
  // cannot straggle), symmetrize, and keep each vector's top-5 by
  // exact cosine via the map-side [[TopKCos]] reduction. Neighbour
  // lists are bucket-local BY DESIGN (the q81 recall story measures
  // what that misses); vectors alone in their bucket emit no rows —
  // identically in both engines.
  //
  // Scale shape (100 TB): ONE corpus-keyed exchange to co-locate
  // buckets (bucket id computed in the scan), pair work capped at
  // ~cap² per task, then ONE keyed exchange whose payload is ≤5-row
  // (cos, nb) buffers per vector — never the corpus, never the pair
  // list (TopKCos partials combine map-side). Cross-engine: the pair
  // dot is a left-to-right double fold (products commutative-exact, so
  // block orientation cannot change the value); ties (cos desc, nb
  // asc) ≡ the oracle's row_number.
  // ---------------------------------------------------------------------

  def knnGraph(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val withB = withLsh(s, d)
      .selectExpr("bucket", "vec_id",
        "transform(embedding, x -> cast(x as double)) as e", "nrm")
    // minCos = -2 disables the threshold: a kNN graph keeps ALL bucket
    // pairs and lets the top-k selection decide
    val pairs = Dedup.boundedBucketPairs(s, withB, cap = 1024, minCos = -2.0)
    val edges = pairs.selectExpr("vec_a as src", "cos", "vec_b as nb")
      .unionAll(pairs.selectExpr("vec_b as src", "cos", "vec_a as nb"))
    edges.as[(Long, Double, Long)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(TopKCos.toColumn.name("top"))
      .toDF("vec_id", "top")
      .selectExpr("vec_id", "posexplode(top) as (r0, t)")
      .selectExpr("vec_id", "cast(r0 + 1 as int) as rank", "t._2 as nb_id",
        "floor(t._1 * 1e6 + 0.5) / 1e6 as cosine")
  }

  val knnGraphSql: String = {
    val dot = dotSqlDuck("a.embedding", "e.embedding")
    s"""WITH b AS (SELECT vec_id, embedding,
       |  sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm,
       |  ${bucketSqlDuck("embedding")} AS bucket FROM embeddings),
       |p AS (SELECT a.vec_id AS va, e.vec_id AS vb,
       |    ($dot) / (a.nrm * e.nrm) AS cos
       |  FROM b a JOIN b e ON a.bucket = e.bucket AND a.vec_id < e.vec_id),
       |ed AS (SELECT va AS src, cos, vb AS nb FROM p
       |  UNION ALL SELECT vb, cos, va FROM p),
       |r AS (SELECT src, nb, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, nb) AS rank
       |  FROM ed)
       |SELECT src AS vec_id, rank::INT AS rank, nb AS nb_id,
       |  floor(cos * 1e6 + 0.5) / 1e6 AS cosine
       |FROM r WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q122 — MARGIN-BASED PARALLEL-PAIR MINING (r14): the bitext-mining
  // shape behind web-scale parallel corpora (Artetxe & Schwenk's margin
  // criterion; CCMatrix mines billions of pairs this way) — align two
  // embedding spaces by MUTUAL nearest neighbour and keep a pair only
  // when it beats each side's runner-up by a margin, which kills the
  // hub problem (a vector that is everyone's neighbour scores high cos
  // against many partners but low margin against all of them). Sides
  // are modeled by vec_id parity (a pure function of id — no lookup
  // join anywhere in the chain) and every 10th even vector plants a
  // perturbed "translation" twin at id+10001 (odd → side B by
  // construction). The mined set separates widely on the fixture:
  // organic mutual-best pairs top out at margin ≈ 0.36 while planted
  // translations sit ≥ 0.57 — the 0.45 bar is not a knife edge. The
  // raw ratio margin is deliberately NOT used: random fixture
  // embeddings put near-zero kNN averages in its denominator (observed
  // range −319…+20 — meaningless); the runner-up DISTANCE margin keeps
  // the same discrimination with bounded arithmetic.
  //
  // Scale shape (100 TB): candidates are bucket collisions through the
  // triangle-blocked pair machinery (per-task work ≤ cap² under any
  // skew); the per-vector top-2 rides the map-side [[TopKCos]]
  // reduction (5-row buffers cross the one keyed exchange, never the
  // pair list); mutual-best is an id-keyed self-join of 4-column
  // frames. Nothing corpus-wide shuffles after the bucket stage.
  // Bucket-local by design (the q118/q81 caveat): a twin hashed into a
  // different bucket is not a candidate — identically in both engines
  // (47/50 planted pairs survive bucketing at sf0.01, 175/200 at
  // sf0.1). Cross-engine: identical left-to-right dot folds, ranking
  // ties broken (cos desc, nb asc) ≡ the oracle's row_number, the
  // margin threshold compares RAW doubles on both sides and rounding
  // happens only on output.
  // ---------------------------------------------------------------------

  def bitextMine(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withFns(s)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    val corpus = base.unionAll(
      base.filter(col("vec_id") % 10 === 0)
        .selectExpr("vec_id + 10001 as vec_id",
          "zip_with(e, sequence(0, 63), (x, i) -> x + 0.01 * cast(i % 3 as double)) as e"))
    // probe the DERIVED corpus (r15): the planted twins are part of the
    // volume the dial bounds; cached per (family, dir) — r15 #4
    val withB = corpus.selectExpr("vec_id", "e",
      s"sqrt(${dotExpr("e", "e")}) as nrm",
      s"${bucketExpr("e", cachedPlanes("q122", d)(adaptivePlanesFor(corpus, "e")))} as bucket")
    val pairs = Dedup.boundedBucketPairs(s,
        withB.select("bucket", "vec_id", "e", "nrm"), cap = 1024, minCos = -2.0)
      .filter(pmod(col("vec_a"), lit(2)) =!= pmod(col("vec_b"), lit(2)))
    val edges = pairs.selectExpr("vec_a as src", "cos", "vec_b as nb")
      .unionAll(pairs.selectExpr("vec_b as src", "cos", "vec_a as nb"))
    val top2 = edges.as[(Long, Double, Long)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(TopKCos.toColumn.name("top"))
      .toDF("src", "top")
      .selectExpr("src", "top[0]._2 as best_nb", "top[0]._1 as best_cos",
        "case when size(top) > 1 then top[1]._1 else cast(0.0 as double) end as snd_cos")
      .transform(Tables.maybePersist) // feeds both sides of the mutual join
    val sideA = top2.filter(pmod(col("src"), lit(2)) === 0)
      .selectExpr("src as ia", "best_nb as ib", "best_cos as cos", "snd_cos as snd_a")
    val sideB = top2.selectExpr("src as jb", "best_nb as jback", "snd_cos as snd_b")
    sideA.join(sideB, col("ib") === col("jb") && col("jback") === col("ia"))
      .selectExpr("ia as src_id", "ib as tgt_id", "cos",
        "cos - 0.5 * (snd_a + snd_b) as margin_raw")
      .filter(col("margin_raw") >= 0.45)
      .selectExpr("src_id", "tgt_id",
        "floor(cos * 1e6 + 0.5) / 1e6 as cosine",
        "floor(margin_raw * 1e6 + 0.5) / 1e6 as margin")
      .orderBy("src_id")
  }

  /** Count of planted translation twins sharing their source's LSH
    * bucket — q122's recall ceiling (bucket-locality is the only loss;
    * the ExtensionsSpec pins mined == this count on the fixture). */
  private[graft] def plantedSameBucketCount(s: SparkSession, d: String): Long = {
    withFns(s)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    // the same derived-corpus probe as bitextMine — the planted count
    // only certifies recall if it lives in the same bucket space
    val corpus = base.unionAll(
      base.filter(col("vec_id") % 10 === 0)
        .selectExpr("vec_id + 10001 as vec_id",
          "zip_with(e, sequence(0, 63), (x, i) -> x + 0.01 * cast(i % 3 as double)) as e"))
    val np = cachedPlanes("q122", d)(adaptivePlanesFor(corpus, "e"))
    val src = base.filter(col("vec_id") % 10 === 0)
      .selectExpr("vec_id", s"${bucketExpr("e", np)} as bucket")
    val twin = base.filter(col("vec_id") % 10 === 0)
      .selectExpr("vec_id",
        "zip_with(e, sequence(0, 63), (x, i) -> x + 0.01 * cast(i % 3 as double)) as e")
      .selectExpr("vec_id", s"${bucketExpr("e", np)} as tbucket")
    src.join(twin, Seq("vec_id"))
      .filter(col("bucket") === col("tbucket")).count()
  }

  val bitextMineSql: String = {
    val dot = dotSqlDuck("a.e", "c.e")
    s"""WITH base AS (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
       |corpus AS (SELECT vec_id, e FROM base
       |  UNION ALL SELECT vec_id + 10001,
       |    list_transform(range(1, len(e) + 1), i -> e[i] + 0.01 * ((i - 1) % 3)::DOUBLE)
       |  FROM base WHERE vec_id % 10 = 0),
       |b AS (SELECT vec_id, e, sqrt(${dotSqlDuck("e", "e")}) AS nrm,
       |  ${bucketSqlDuckIn("e", planesSqlDuckFor("corpus", "e"))} AS bucket FROM corpus),
       |p0 AS (SELECT a.vec_id AS va, c.vec_id AS vb, ($dot) / (a.nrm * c.nrm) AS cos
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |  WHERE (a.vec_id % 2) <> (c.vec_id % 2)),
       |ed AS (SELECT va AS src, cos, vb AS nb FROM p0
       |  UNION ALL SELECT vb, cos, va FROM p0),
       |r AS (SELECT src, nb, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, nb) AS rk FROM ed),
       |best AS (SELECT src, nb AS best_nb, cos AS best_cos FROM r WHERE rk = 1),
       |scnd AS (SELECT src, cos AS snd_cos FROM r WHERE rk = 2),
       |mutual AS (SELECT x.src AS ia, x.best_nb AS ib, x.best_cos AS cos
       |  FROM best x JOIN best y ON y.src = x.best_nb AND y.best_nb = x.src
       |  WHERE x.src % 2 = 0),
       |sc AS (SELECT ia, ib, cos,
       |    cos - 0.5 * (coalesce(sa.snd_cos, 0.0) + coalesce(sb.snd_cos, 0.0)) AS margin_raw
       |  FROM mutual LEFT JOIN scnd sa ON sa.src = ia LEFT JOIN scnd sb ON sb.src = ib)
       |SELECT ia AS src_id, ib AS tgt_id,
       |  floor(cos * 1e6 + 0.5) / 1e6 AS cosine,
       |  floor(margin_raw * 1e6 + 0.5) / 1e6 AS margin
       |FROM sc WHERE margin_raw >= 0.45 ORDER BY src_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q123 — kNN-DENSITY REDUNDANCY PRUNING (r14): the D4 / SSL-prototypes
  // shape — after dedup, the next curation lever prunes the DENSEST
  // regions of embedding space (prototypical near-clones that add mass,
  // not information; D4 shows removing them IMPROVES loss at fixed
  // compute). Per-vector density = mean cosine to its 3 nearest
  // neighbours, read straight off the q118 graph machinery: LSH-bucket
  // once, triangle-capped same-bucket pairs with NO cosine floor,
  // symmetrize, map-side TopKCos top-5, density = the left-to-right
  // fold (top₁+top₂+top₃)/3 (the oracle pivots rk=1..3 and sums in the
  // same order — bit-identical). Output = the FLAGGED redundant slice
  // (density ≥ 0.95); canonical survivor selection within a flagged
  // region is q70/q110's job, deliberately not re-solved here. The
  // fixture plants a 4-clump (3 perturbed copies at +100001/+200001/
  // +300001 of every 10th vector): clump members' top-3 are their
  // siblings (density ≥ 0.9997 when all share the bucket), organic
  // density tops out at 0.43 (sf0.01) / 0.51 (sf0.1) — the 0.95 bar has
  // ~0.5 of clearance on both sides. Vectors with < 3 same-bucket
  // neighbours carry insufficient evidence and are never flagged
  // (identically in both engines: HAVING count(*) = 3 ≡ size(top) >= 3);
  // bucket-locality is the recall story (768/796 clump members flag at
  // sf0.1 — the 28 strays lost siblings to bucket moves, the q81 dial).
  //
  // Scale shape (100 TB): identical to q118 — one corpus-keyed exchange
  // to co-locate buckets, per-task pair work ≤ cap², one keyed exchange
  // of ≤5-row buffers — plus a per-row slice-mean and filter (no new
  // exchange, no corpus join-back: the flagged slice IS the output).
  // ---------------------------------------------------------------------

  def knnDensityPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withFns(s)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    def clones(off: Long, m: Int) = base.filter(col("vec_id") % 10 === 0)
      .selectExpr(s"vec_id + ${off}L as vec_id",
        s"zip_with(e, sequence(0, 63), (x, i) -> x + 0.001 * cast(i % $m as double)) as e")
    val corpus = base.unionAll(clones(100001L, 3))
      .unionAll(clones(200001L, 5)).unionAll(clones(300001L, 7))
    // probe the DERIVED corpus (r15): the planted 4-clumps are exactly
    // the dense structure a base-keyed probe under-prices; cached per
    // (family, dir) — r15 #4
    val withB = corpus.selectExpr("vec_id", "e",
      s"sqrt(${dotExpr("e", "e")}) as nrm",
      s"${bucketExpr("e", cachedPlanes("q123", d)(adaptivePlanesFor(corpus, "e")))} as bucket")
    val pairs = Dedup.boundedBucketPairs(s,
      withB.select("bucket", "vec_id", "e", "nrm"), cap = 1024, minCos = -2.0)
    val edges = pairs.selectExpr("vec_a as src", "cos", "vec_b as nb")
      .unionAll(pairs.selectExpr("vec_b as src", "cos", "vec_a as nb"))
    edges.as[(Long, Double, Long)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(TopKCos.toColumn.name("top"))
      .toDF("vec_id", "top")
      .filter(size(col("top")) >= 3)
      .selectExpr("vec_id",
        "(top[0]._1 + top[1]._1 + top[2]._1) / 3 as density_raw")
      .filter(col("density_raw") >= 0.95)
      // no output sort (the q118 discipline): the flagged slice is
      // corpus-fraction-sized at production grain — a range exchange
      // for presentation order would be the plan's only avoidable stage
      .selectExpr("vec_id",
        "floor(density_raw * 1e6 + 0.5) / 1e6 as density")
  }

  val knnDensityPruneSql: String = {
    val dot = dotSqlDuck("a.e", "c.e")
    def clone(off: Long, m: Int) =
      s"""UNION ALL SELECT vec_id + $off,
         |    list_transform(range(1, len(e) + 1), i -> e[i] + 0.001 * ((i - 1) % $m)::DOUBLE)
         |  FROM base WHERE vec_id % 10 = 0""".stripMargin
    s"""WITH base AS (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
       |corpus AS (SELECT vec_id, e FROM base
       |  ${clone(100001L, 3)}
       |  ${clone(200001L, 5)}
       |  ${clone(300001L, 7)}),
       |b AS (SELECT vec_id, e, sqrt(${dotSqlDuck("e", "e")}) AS nrm,
       |  ${bucketSqlDuckIn("e", planesSqlDuckFor("corpus", "e"))} AS bucket FROM corpus),
       |p AS (SELECT a.vec_id AS va, c.vec_id AS vb, ($dot) / (a.nrm * c.nrm) AS cos
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
       |ed AS (SELECT va AS src, cos FROM p UNION ALL SELECT vb, cos FROM p),
       |r AS (SELECT src, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC) AS rk FROM ed),
       |d3 AS (SELECT src,
       |    (max(CASE WHEN rk = 1 THEN cos END) + max(CASE WHEN rk = 2 THEN cos END)
       |     + max(CASE WHEN rk = 3 THEN cos END)) / 3 AS density_raw
       |  FROM r WHERE rk <= 3 GROUP BY src HAVING count(*) = 3)
       |SELECT src AS vec_id, floor(density_raw * 1e6 + 0.5) / 1e6 AS density
       |FROM d3 WHERE density_raw >= 0.95 ORDER BY src""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q119 — INCREMENTAL ANN INGESTION against a STANDING VECTOR INDEX
  // (r14): the q102 nightly-crawl discipline at vector grain — the shape
  // a production vector store runs every night: the corpus index is
  // built ONCE (coarse-assigned vectors written PARTITIONED BY CELL —
  // the probe prunes to one partition per delta cell — plus the 10-row
  // centroid codebook), and each delta batch routes to its nearest
  // centroid, scans ONLY its probed cell, and takes its exact-cosine
  // top-1 with an admit/duplicate verdict (cos ≥ 0.9). The index never
  // shuffles: the routed DELTA side broadcasts onto the cell-pruned
  // index scan, and the top-1 is a max-struct keyed by the delta id
  // (ties to the lowest neighbour — the q104 trick).
  //
  // Fixture deltas (deterministic, both engines): every vec_id % 40 == 0
  // vector re-enters JITTERED (+0.01 on every 7th dimension in double,
  // one float32 cast — the q115 cast discipline; models a re-embedded
  // duplicate) and every % 40 == 20 vector re-enters REVERSED (a
  // genuinely new direction). Jittered twins land on their original at
  // cos ≈ 0.9995 wherever their cell assignment survives the jitter
  // (13/13 at sf0.001+sf0.01, 47/50 at sf0.1 — the three strays route
  // across a Voronoi boundary, exactly the nprobe=1 recall story q86
  // exists to dial); reversed vectors admit as new at every fixture.
  //
  // q119 is the nightly PROBE (artifact built lazily once per process,
  // the q102 gate pattern); q119b is the once-per-life BUILD, its
  // oracle certifying the write→read-back row count.
  // ---------------------------------------------------------------------

  private[graft] def annIndexPathFor(d: String): String =
    graft.ScratchPaths.indexPathFor(s"q119-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)

  /** Once-per-life build: coarse-assign the corpus, write it partitioned
    * by cell + the centroid codebook + the fit-time per-cell population
    * (`cellstat` — the frozen reference frame [[annIndexDriftPsiMicro]]
    * compares the live population against); returns the read-back row
    * count. */
  def buildAnnIndex(s: SparkSession, d: String, path: String): Long = {
    import s.implicits._
    val rows = coarseRows(s, d) // ONE collect: routing AND the artifact
    // centroids FIRST (a k-row literal, one trivial job): the lazy gate
    // keys "built" on assignments/_SUCCESS, so every side artifact a
    // probe needs must land before it (the buildIndexFrom write-order
    // discipline) — this also fixes the pre-r21 window where a crash
    // between the two writes left a gate-visible index with no codebook
    coarseFrameLit(s, rows, "c_label")
      .write.mode("overwrite").parquet(s"$path/centroids")
    ivfAssignedWith(s, d, rows)
      .selectExpr("vec_id", "label", "embedding",
        s"sqrt(${dotExpr("embedding", "embedding")}) as nrm", "c_label")
      .write.mode("overwrite").partitionBy("c_label").parquet(s"$path/assignments")
    // per-cell populations and the read-back total from the partition
    // directories' parquet footers (r21): identical values to the
    // groupBy + count read-backs these replace, zero Spark jobs
    val cellRows = graft.IndexLifecycle
      .parquetFooterRowsByPartition(s, s"$path/assignments", "c_label")
      .map { case (cl, n) => (cl.toInt, n) }.sortBy(_._1)
    cellRows.toDF("c_label", "n")
      .write.mode("overwrite").parquet(s"$path/cellstat")
    cellRows.map(_._2).sum
  }

  /** The deterministic delta batch: jittered re-embeds (+100000) and
    * reversed newcomers (+200000). */
  private[graft] def annDelta(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    val emb = Tables.embeddings(s, d)
    emb.filter(col("vec_id") % 40 === 0)
      .selectExpr("vec_id + 100000 as vec_id",
        """transform(sequence(1, size(embedding)), i -> cast(
          |double(element_at(embedding, i)) +
          |(case when (i - 1) % 7 = 0 then cast(0.01 as double) else cast(0.0 as double) end)
          |as float)) as embedding""".stripMargin.replace("\n", " "))
      .unionAll(emb.filter(col("vec_id") % 40 === 20)
        .selectExpr("vec_id + 200000 as vec_id", "reverse(embedding) as embedding"))
  }

  /** The probe: route each delta vector to its nearest centroid (q38's
    * argmax semantics), broadcast the routed delta onto the cell-scoped
    * index, keep the exact-cosine top-1 per delta. `private[graft]` so
    * the streaming leg can run it per micro-batch (foreachBatch) against
    * the stored artifacts — the q119 online form. */
  /** Route a (vec_id, embedding) delta to its nearest stored centroid —
    * (vec_id, de, dnrm, q_cell); frozen-codebook routing shared by the
    * q119 probe and the q134 merge (a merge never refits). */
  private[graft] def routeAnnDelta(delta0: DataFrame, cents: DataFrame): DataFrame = {
    val cells = cents
      .agg(sort_array(collect_list(struct(col("c_label"), col("centroid")))).as("cells"))
    delta0.crossJoin(broadcast(cells))
      .selectExpr("vec_id", "embedding", "cells",
        s"sqrt(${dotExpr("embedding", "embedding")}) as dnrm")
      .selectExpr("vec_id", "embedding as de", "dnrm",
        // r21: native routing argmax — bit-identical to the HOF chain
        "graft_route_max(embedding, dnrm, cells) as best")
      .selectExpr("vec_id", "de", "dnrm", "cast(-best.nl as int) as q_cell")
  }

  private[graft] def annProbe(delta0: DataFrame, cents: DataFrame, idx: DataFrame): DataFrame = {
    val routed = routeAnnDelta(delta0, cents)
    idx.selectExpr("vec_id as nn_id", "embedding as ie", "nrm as inrm", "c_label")
      .join(broadcast(routed), col("c_label") === col("q_cell"))
      .selectExpr("vec_id", "q_cell", "nn_id",
        s"${dotExpr("ie", "de")} / (inrm * dnrm) as cos")
      .groupBy("vec_id", "q_cell")
      .agg(max(struct(col("cos"), (-col("nn_id")).as("nn_neg"))).as("b"))
      .selectExpr("vec_id", "q_cell", "cast(-b.nn_neg as long) as nn_id",
        "floor(b.cos * 1e6 + 0.5) / 1e6 as cosine", "b.cos >= 0.9 as is_dup")
  }

  /** Probe the STORED index artifacts (the production path). */
  def incrementalAnnStored(s: SparkSession, d: String, path: String): DataFrame =
    probeAnnIndex(annDelta(s, d), path)

  /** Probe ANY (vec_id, embedding) delta against the stored artifacts —
    * version-resolved once at plan time, so a rebuild committing mid-
    * flight never mixes versions within one probe. */
  private[graft] def probeAnnIndex(delta: DataFrame, path0: String): DataFrame = {
    val s = delta.sparkSession
    val path = IndexLifecycle.resolveIndexRoot(s, path0)
    annProbe(delta,
      IndexLifecycle.readStamped(s, s"$path/centroids"),
      // live rows only: deletion is lazy (r19) — a forgotten vector must
      // never surface as a neighbour before compaction makes it physical
      liveAssignments(s, path))
  }

  /** The same probe over in-memory frames (no artifact) — the spec pins
    * stored ≡ inline. */
  private[graft] def incrementalAnnInline(s: SparkSession, d: String): DataFrame =
    annProbe(annDelta(s, d),
      centroidsByLabel(s, d, "c_label"),
      ivfAssigned(s, d).selectExpr("vec_id", "label", "embedding",
        s"sqrt(${dotExpr("embedding", "embedding")}) as nrm", "c_label"))

  val incrementalAnnSql: String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, label, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |idx AS (SELECT vec_id, label, embedding, c_label,
       |    sqrt(${dot("embedding", "embedding")}) AS nrm
       |  FROM asg WHERE rn = 1),
       |delta AS (
       |  SELECT vec_id + 100000 AS vec_id, list_transform(range(1, len(embedding) + 1),
       |      i -> (embedding[i]::DOUBLE + CASE WHEN (i - 1) % 7 = 0 THEN 0.01 ELSE 0.0 END)::FLOAT) AS embedding
       |    FROM embeddings WHERE vec_id % 40 = 0
       |  UNION ALL
       |  SELECT vec_id + 200000, list_reverse(embedding)
       |    FROM embeddings WHERE vec_id % 40 = 20),
       |dr AS (SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm,
       |    c_label AS q_cell FROM (
       |  SELECT e.vec_id, e.embedding, c.c_label, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |      ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
       |      c_label) AS rn
       |    FROM delta e CROSS JOIN c) WHERE rn = 1),
       |sc AS (SELECT dr.vec_id, dr.q_cell, idx.vec_id AS nn_id,
       |    (${dot("idx.embedding", "dr.embedding")}) / (idx.nrm * dr.nrm) AS cos
       |  FROM idx JOIN dr ON idx.c_label = dr.q_cell),
       |top AS (SELECT vec_id, q_cell, nn_id, cos, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rn FROM sc)
       |SELECT vec_id, q_cell, nn_id, floor(cos * 1e6 + 0.5) / 1e6 AS cosine,
       |  cos >= 0.9 AS is_dup
       |FROM top WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  val annIndexBuildSql: String =
    "SELECT COUNT(*)::BIGINT AS n_index_rows FROM embeddings"

  // ---------------------------------------------------------------------
  // q134 — STANDING-INDEX MERGE / COMPACTION (r15): q119 PROBES a delta
  // against the standing index; this is the maintenance operation the
  // probe implies — folding the admitted delta INTO the artifact. The
  // Spark-native mechanism is DYNAMIC PARTITION OVERWRITE: the routed
  // delta touches ≤ |delta| distinct cells, the merge rewrites ONLY
  // those cells' partitions (affected rows ∪ deduped delta, one
  // partitioned write under partitionOverwriteMode=dynamic) and every
  // untouched cell's files are left byte-for-byte alone — proven on the
  // file listing in BucketingSpec, not asserted from intent. Routing
  // uses the FROZEN stored centroids (a merge never refits — the q125
  // drift monitor is the dial that says when a refit is due). The merge
  // is IDEMPOTENT: delta rows already present anti-join away, so
  // re-running converges — and the report reads the POST-merge artifact
  // (per-cell base/added/total counts), making it stable across re-runs
  // (the gate and min-of-N bench both re-execute).
  //
  // Scale shape (100 TB): the delta is broadcast-routed (zero index
  // shuffle), the rewrite reads+writes only the touched cells (~|delta
  // cells|/k of the index), the untouched ~ (k − |delta cells|)
  // partitions cost NOTHING — exactly why a production vector store
  // partitions by cell. Delta ids live at +100000/+200000 (the q119
  // fixture contract) — the report's n_added keys on that range.
  // ---------------------------------------------------------------------

  private[graft] def mergeIndexPathFor(d: String): String =
    graft.ScratchPaths.indexPathFor(s"q134-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)

  /** The ANN family's lifecycle: assignments is both the registry and
    * the artifact the build writes last, each tombstone records the
    * victim's stored cell, and the tombstone log lives under the
    * VERSION ROOT — the refit carries it into each new version. */
  private[graft] val annFamily = IdLogFamily("ann", "vec_id", "assignments",
    "assignments", Seq("assignments", "centroids", "cellstat"),
    "spark.graft.annCompactTombstoneFrac", compactAnnIndex,
    audit = Seq("c_label"), tombstonesAtRoot = true)

  /** ANN compaction: the `rounds = 0` PURE COMPACTION of
    * [[rebuildAnnIndex]] (codebook and drift reference frame carried,
    * victims removed physically, LSM appends defragmented), run only
    * while live victims exist — the fixed-point re-run writes nothing.
    * It needs the stored codebook: a bare assignments artifact (mid-
    * build, or a hand-assembled fixture) stays on lazy deletion alone.
    * The DRIFT-gated auto-refit handles routing decay; this leg handles
    * deletion mass. */
  def compactAnnIndex(s: SparkSession, path: String): Unit = {
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    if (graft.ScratchPaths.artifactExists(s, s"$root/centroids/_SUCCESS") &&
        IndexLifecycle.liveVictims(s, annFamily, path, root) > 0)
      rebuildAnnIndex(s, path, rounds = 0): Unit
  }

  /** The LIVE rows of a resolved version root's assignments — the stored
    * artifact minus the tombstone log (LAZY DELETION, r19: a takedown
    * only appends to the log, every reader subtracts it, and the
    * versioned rebuild makes deletion physical). The ANN log lives under
    * the version root, so the root stands in for the index path. */
  private[graft] def liveAssignments(s: SparkSession, root: String): DataFrame =
    IndexLifecycle.live(annFamily, root, root)(
      IndexLifecycle.readStamped(s, s"$root/assignments"))

  /** The q134 fold for ONE (vec_id, embedding) delta frame — shared by
    * the batch gate row and the streaming ingestion sink
    * ([[graft.streaming.StreamingOps.annIngestStream]]). Idempotent:
    * already-merged ids anti-join away, so at-least-once redelivery of
    * a micro-batch converges (the segment-sink discipline). TOMBSTONE-
    * AWARE (r16 verdict): the delta also anti-joins the q135 takedown
    * log, so an at-least-once replay of an old ingest batch AFTER a
    * takedown cannot resurrect forgotten vec_ids — without this leg the
    * replay would silently violate the right-to-be-forgotten contract
    * the forget path just enforced (the reference's transport replays
    * from the beginning on restart, `Consumer/kafkaConsumer.js:53`). */
  private[graft] def mergeDeltaIntoIndex(delta: DataFrame, path0: String): Unit =
      IndexLifecycle.withWriter(delta.sparkSession, path0) {
    val s = delta.sparkSession
    val path = IndexLifecycle.resolveIndexRoot(s, path0) // fold into the LIVE version
    val assignments = IndexLifecycle.readStamped(s, s"$path/assignments")
    val deduped = delta.dropDuplicates("vec_id")
    // at-least-once sources can repeat a vec_id WITHIN one micro-batch;
    // without dropDuplicates the copies all pass the stored-index
    // anti-join below and insert duplicate rows (r15 advice)
    //
    // pending-forget consult (the media q137 ordering at vector grain)
    IndexLifecycle.consultPending(s, annFamily, path0, path, deduped)
    val admitted = IndexLifecycle.live(annFamily, path0, path)(deduped)
    val routed = routeAnnDelta(admitted,
      IndexLifecycle.readStamped(s, s"$path/centroids"))
    val labelT = assignments.schema("label").dataType.sql
    val newRows = routed.selectExpr("vec_id", s"cast(-1 as $labelT) as label",
      "de as embedding", "dnrm as nrm", "q_cell as c_label")
    // affected cells only (≤ |delta| values — driver-sized)
    val hit = newRows.select("c_label").distinct().collect().map(_.get(0))
    if (hit.isEmpty) return
    // APPEND-ONLY fold (r19, VERDICT r18 #2): the merge writes NEW files
    // into the touched cells' partition directories and never rewrites
    // or deletes a stored one — a concurrent probe whose plan listed
    // files pre-merge keeps every listed file end-to-end (the in-place
    // dynamic-partition overwrite this replaces could yank them
    // mid-read). Idempotence: already-present ids anti-join away
    // against the cell-pruned id scan (routing is deterministic under
    // the frozen codebook, so a replayed id always probes the cell it
    // landed in); replays therefore append nothing. Fragmentation from
    // repeated appends is the LSM bargain — [[rebuildAnnIndex]] is the
    // compaction that rewrites cells contiguously.
    val affectedIds = assignments.filter(col("c_label").isin(hit: _*))
      .select("vec_id")
    // checkpointed to break lineage: the append writes the path being read
    val (fresh, Seq(n)) = IndexLifecycle.checkpointCounting(
      newRows.join(affectedIds, Seq("vec_id"), "left_anti"), lit(true))
    try if (n > 0) fresh.writeArtifact(s"$path/assignments", "append", "c_label")
    finally Tables.freeCheckpoint(fresh): Unit
  }

  def mergeAnnIndex(s: SparkSession, d: String, path: String): DataFrame = {
    if (!IndexLifecycle.exists(s, annFamily, path))
      buildAnnIndex(s, d, path)
    mergeDeltaIntoIndex(annDelta(s, d), path)
    // the report reads the POST-merge LIVE rows — idempotent across runs
    liveAssignments(s, IndexLifecycle.resolveIndexRoot(s, path))
      .groupBy("c_label")
      .agg(count(lit(1)).as("nt"),
        count(when(col("vec_id") >= 100000L, 1)).as("na"))
      .selectExpr("c_label", "cast(nt - na as bigint) as n_base",
        "cast(na as bigint) as n_added", "cast(nt as bigint) as n_total")
      .orderBy("c_label")
  }

  // ---------------------------------------------------------------------
  // q135 — DELETION FROM THE STANDING INDEX (r15, mechanism replaced
  // r19): the privacy-ops twin of q134 — a training-data platform
  // receives right-to-be-forgotten / takedown requests and must remove
  // specific items from every standing artifact without rebuilding it.
  // Deletion is LAZY (VERDICT r18 #2): the takedown locates the victims'
  // cells (one id-pushdown scan of the artifact — the audit log records
  // (vec_id, c_label) as stored) and APPENDS them to the tombstone log;
  // every reader subtracts the log ([[liveAssignments]] — effective
  // immediately), and the versioned [[rebuildAnnIndex]] makes deletion
  // physical. No stored file is ever rewritten or deleted, so no
  // reader's planned file listing can be invalidated — the in-place
  // dynamic-partition overwrite this replaced could yank a touched
  // cell's files out from under a probe planned pre-overwrite. The
  // report reads POST-delete LIVE counts joined to tombstone counts, so
  // re-runs (victims already logged, nothing appended) report
  // identically. Fixture delete set: every vec_id % 50 == 0 —
  // deterministic in both engines.
  //
  // Scale shape (100 TB): the locate pass is a columnar id scan with
  // the isin pushed down; the takedown itself writes request-sized log
  // appends; each read pays one broadcast anti-join of the (request-
  // sized) log; the versioned rebuild amortizes the physical removal.
  // ---------------------------------------------------------------------

  private[graft] def forgetIndexPathFor(d: String): String =
    graft.ScratchPaths.indexPathFor(s"q135-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)

  /** The q135 delete for ONE takedown frame (any frame with a `vec_id`
    * column — request-sized, broadcast semantics) — shared by the batch
    * gate row and the streaming takedown sink
    * ([[graft.streaming.StreamingOps.forgetStream]]). IDEMPOTENT at both
    * artifacts: victims are located in the STORED index (already-deleted
    * ids locate nowhere → nothing rewritten), and the tombstone log is
    * append-only with already-logged ids anti-joined away — so
    * at-least-once redelivery of a takedown batch converges to the same
    * (assignments, tombstones) pair as a one-shot delete.
    *
    * The tombstone append IS the whole takedown (r19 — lazy deletion):
    * nothing is rewritten here, every reader subtracts the log, and the
    * versioned [[rebuildAnnIndex]] makes the deletion physical. */
  private[graft] def forgetVictimIdsFrom(victimIds: DataFrame, path0: String): Unit =
    IndexLifecycle.takedown(annFamily, victimIds, path0): Unit

  def forgetFromAnnIndex(s: SparkSession, d: String, path: String): DataFrame = {
    if (!IndexLifecycle.exists(s, annFamily, path))
      buildAnnIndex(s, d, path)
    // the takedown request: every 50th item (request-sized, broadcast) —
    // drawn from the LIVE version (the flat root may be GC-retired)
    forgetVictimIdsFrom(
      IndexLifecycle.readStamped(s, s"${IndexLifecycle.resolveIndexRoot(s, path)}/assignments")
        .filter(pmod(col("vec_id"), lit(50)) === 0).select("vec_id"),
      path)
    // POST-delete LIVE counts (stored minus tombstones — deletion is
    // lazy, r19) joined to the tombstone log — both fixed points under
    // re-execution
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    liveAssignments(s, root)
      .groupBy("c_label").agg(count(lit(1)).as("n_kept"))
      .join(
        IndexLifecycle.readStamped(s, s"$root/tombstones")
          .groupBy("c_label").agg(count(lit(1)).as("n_deleted")),
        Seq("c_label"), "left")
      .selectExpr("c_label", "cast(n_kept as bigint) as n_kept",
        "cast(coalesce(n_deleted, 0) as bigint) as n_deleted")
      .orderBy("c_label")
  }

  val annIndexForgetSql: String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |idx AS (SELECT vec_id, c_label FROM asg WHERE rn = 1),
       |kept AS (SELECT c_label, COUNT(*)::BIGINT AS n_kept FROM idx
       |  WHERE vec_id % 50 <> 0 GROUP BY c_label),
       |del AS (SELECT c_label, COUNT(*)::BIGINT AS n_deleted FROM idx
       |  WHERE vec_id % 50 = 0 GROUP BY c_label)
       |SELECT kept.c_label, kept.n_kept,
       |  coalesce(del.n_deleted, 0)::BIGINT AS n_deleted
       |FROM kept LEFT JOIN del ON kept.c_label = del.c_label
       |ORDER BY kept.c_label""".stripMargin
  }

  val annIndexMergeSql: String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |idx AS (SELECT vec_id, c_label FROM asg WHERE rn = 1),
       |delta AS (
       |  SELECT vec_id + 100000 AS vec_id, list_transform(range(1, len(embedding) + 1),
       |      i -> (embedding[i]::DOUBLE + CASE WHEN (i - 1) % 7 = 0 THEN 0.01 ELSE 0.0 END)::FLOAT) AS embedding
       |    FROM embeddings WHERE vec_id % 40 = 0
       |  UNION ALL
       |  SELECT vec_id + 200000, list_reverse(embedding)
       |    FROM embeddings WHERE vec_id % 40 = 20),
       |dr AS (SELECT vec_id, c_label FROM (
       |  SELECT e.vec_id, c.c_label, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |      ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
       |      c_label) AS rn
       |    FROM delta e CROSS JOIN c) WHERE rn = 1),
       |bc AS (SELECT c_label, COUNT(*)::BIGINT AS n_base FROM idx GROUP BY c_label),
       |dc AS (SELECT c_label, COUNT(*)::BIGINT AS n_added FROM dr GROUP BY c_label)
       |SELECT bc.c_label, bc.n_base,
       |  coalesce(dc.n_added, 0)::BIGINT AS n_added,
       |  (bc.n_base + coalesce(dc.n_added, 0))::BIGINT AS n_total
       |FROM bc LEFT JOIN dc ON bc.c_label = dc.c_label
       |ORDER BY bc.c_label""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q140 — ANN INDEX REFIT / REBUILD-AND-SWAP (r18, VERDICT r17 #3): the
  // operator the q125 drift monitor's dial points at. Merges deliberately
  // never refit ("a merge never refits"), so a drifted population keeps
  // routing against stale centroids — cells bloat, boundary probes
  // misroute, recall decays. The refit: re-fit the coarse codebook on the
  // CURRENT population (Lloyd rounds in cosine space, SEEDED by the
  // stored partition — round 1's centroid update runs over the stored
  // cells, exactly one-step-of-q84 semantics per round), re-route every
  // row, and write the result as a NEW VERSION under `$path/versions/`,
  // committed by an atomic marker-create (the [[IndexLifecycle]] version
  // store). Probes resolve the version once at plan time, so a probe in
  // flight during the swap reads the OLD version's files end-to-end
  // (never touched, never deleted); the tombstone log rides along so the
  // merge-side replay guard survives the swap.
  //
  // Scale shape (100 TB): each Lloyd round is ONE partial aggregate whose
  // shuffle carries k decimal-sum buffers per map task (k·dim, never the
  // corpus) + a broadcast-k argmax re-route fused into the scan; the
  // write is the only corpus-sized cost — the same price as the original
  // build, paid into a fresh directory with zero read-write cycle. The
  // report's moved-rows audit joins new-vs-old assignment on vec_id (one
  // corpus-keyed exchange, audit-time only).
  // Reference analogue: the pipeline redeploys with a new in-code schema
  // and replays from the bus (`Producer/kafkaProducer.js:58-65`,
  // `Consumer/kafkaConsumer.js:53`) — rebuild-then-cutover, never
  // edit-in-place.
  // ---------------------------------------------------------------------

  private[graft] def refitIndexPathFor(d: String): String =
    graft.ScratchPaths.indexPathFor(s"q140-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)

  /** Per-cell centroid update (exact decimal means — [[VecCentroid]],
    * the label-centroid arithmetic keyed by the current cell). */
  private def cellMeans(asg: DataFrame): DataFrame = {
    val s = asg.sparkSession
    import s.implicits._
    asg.select(col("c_label").cast("int"), col("embedding")).as[(Int, Array[Float])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(VecCentroid.toColumn.name("centroid"))
      .toDF("c_label", "centroid")
  }

  /** Cosine-argmax re-route of a population against a k-row codebook —
    * broadcast-k, ties to the lowest cell (the routeAnnDelta idiom, with
    * the stored nrm reused). Keeps the `c0` pre-refit-cell rider. */
  private def reassignCells(pop: DataFrame, cents: DataFrame): DataFrame = {
    val cells = cents
      .agg(sort_array(collect_list(struct(col("c_label"), col("centroid")))).as("cells"))
    pop.drop("c_label").crossJoin(broadcast(cells))
      .selectExpr("vec_id", "label", "embedding", "nrm", "c0",
        // r21: native routing argmax — bit-identical to the HOF chain
        "graft_route_max(embedding, nrm, cells) as best")
      .selectExpr("vec_id", "label", "embedding", "nrm", "c0",
        "cast(-best.nl as int) as c_label")
  }

  /** The refit: `rounds` Lloyd rounds (update-then-assign) over the LIVE
    * version's population (minus the tombstone log — the rebuild is the
    * compaction that makes lazy deletion physical, r19), written as a
    * new committed version. Returns the new version's root. `rounds = 0`
    * is PURE COMPACTION: the stored codebook and the drift reference
    * frame (cellstat) carry forward unchanged, and the write just
    * removes tombstoned rows physically and defragments the LSM appends
    * — the tombstone-mass maintenance leg uses it so a takedown-heavy
    * stream compacts without paying (or mistiming) a refit.
    *
    * SNAPSHOT-REBUILD-CATCHUP (r19, VERDICT r18 #5): the corpus-sized
    * refit no longer holds the writer lock, so ingest merges and
    * takedowns keep landing on the LIVE version while it runs instead
    * of queueing behind it. Phase 1 (lockless) refits a snapshot of the
    * live rows and writes the uncommitted new version; phase 2 (locked)
    * replays whatever landed meanwhile — the tombstone log is re-read,
    * and rows merged mid-refit are routed with the NEW codebook and
    * appended — then the `_COMMITTED` marker flips resolution and keep-N
    * GC retires stale versions (VERDICT r18 #3: every write path now
    * calls its own GC). `beforeCatchup` is the deterministic seam the
    * concurrency spec drives a mid-refit merge through — same-JVM
    * writers are serialized by the per-path lock, so a sleeping-thread
    * race would be flaky where this hook is exact. Multi-driver
    * deployments keep the documented single-writer-per-path contract
    * (phase 2 stakes the cross-driver intent marker). */
  def rebuildAnnIndex(s: SparkSession, path: String, rounds: Int = 2,
                      beforeCatchup: () => Unit = () => ()): String = {
    withFns(s)
    // version allocation is the only phase-1 step needing the lock
    val (root, newRoot) = IndexLifecycle.withLock(path) {
      val nr = IndexLifecycle.allocateVersion(s, path)
      (IndexLifecycle.resolveIndexRoot(s, path), nr)
    }
    var asg = liveAssignments(s, root)
      .selectExpr("vec_id", "label", "embedding", "nrm", "c_label",
        "c_label as c0")
      .transform(Tables.maybePersist)
    // rounds = 0 is PURE COMPACTION (r19, the tombstone-mass maintenance
    // leg): the stored codebook is kept, no row changes cell — the write
    // below just makes lazy deletion physical and defragments the LSM
    // appends. rounds > 0 is the refit proper.
    var cents: DataFrame =
      if (rounds == 0) IndexLifecycle.readStamped(s, s"$root/centroids") else null
    // every frame this rebuild persists, freed once the version commits
    val held = scala.collection.mutable.ArrayBuffer(asg)
    for (_ <- 1 to rounds) {
      cents = cellMeans(asg).transform(Tables.maybePersist)
      held += cents
      asg = reassignCells(asg, cents)
    }
    // both phase-1 writes land in the UNCOMMITTED version directory —
    // order free until the _COMMITTED marker: overlap them (§2.6, r21)
    Par.run2(
      asg.selectExpr("vec_id", "label", "embedding", "nrm", "c_label")
        .write.mode("overwrite").partitionBy("c_label")
        .parquet(s"$newRoot/assignments"),
      cents.write.mode("overwrite").parquet(s"$newRoot/centroids"))
    beforeCatchup()
    IndexLifecycle.withWriter(s, path) {
      // the tombstone log rides along AS OF NOW (not the phase-1 read):
      // it is the merge-side replay guard, and a takedown that landed
      // during the refit must survive the swap — its victim is physically
      // present in the refit output and stays hidden by the carried log
      // until the NEXT rebuild removes it
      if (graft.ScratchPaths.artifactExists(s, s"$root/tombstones/_SUCCESS")) {
        val log = IndexLifecycle.readStamped(s, s"$root/tombstones").localCheckpoint()
        log.write.mode("overwrite").parquet(s"$newRoot/tombstones")
        Tables.freeCheckpoint(log)
      }
      // catchup: live rows that merged into the OLD version mid-refit
      // (fresh file listing — the LSM merge appends files, so a fresh
      // read sees them) and are absent from the refit output
      val missed = liveAssignments(s, root)
        .join(IndexLifecycle.readStamped(s, s"$newRoot/assignments").select("vec_id"),
          Seq("vec_id"), "left_anti")
        .selectExpr("vec_id", "label", "embedding", "nrm", "c_label as c0")
        .localCheckpoint()
      if (!missed.isEmpty)
        reassignCells(missed, IndexLifecycle.readStamped(s, s"$newRoot/centroids"))
          .selectExpr("vec_id", "label", "embedding", "nrm", "c_label")
          .write.mode("append").partitionBy("c_label")
          .parquet(s"$newRoot/assignments")
      Tables.freeCheckpoint(missed)
      // a REFIT's population (caught-up rows included, carried tombstones
      // excluded) is the new drift reference frame; a PURE COMPACTION
      // (rounds = 0) carries the OLD frame forward — resetting cellstat
      // to the current population would zero the measured drift without
      // refitting, silently suppressing the drift-gated auto-refit under
      // frequent tombstone-triggered compactions
      if (rounds == 0 &&
          graft.ScratchPaths.artifactExists(s, s"$root/cellstat/_SUCCESS"))
        IndexLifecycle.readStamped(s, s"$root/cellstat")
          .write.mode("overwrite").parquet(s"$newRoot/cellstat")
      else
        liveAssignments(s, newRoot)
          .groupBy("c_label").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$newRoot/cellstat")
      // atomic commit + keep-N GC (VERDICT r18 #3) — the shared tail:
      // the old version's files stay for in-flight (and replayed)
      // readers; an unattended auto-refit stream must not accumulate
      // versions × corpus on disk
      graft.IndexLifecycle.commitVersion(s, annFamily, path, newRoot)
    }
    held.foreach(_.unpersist(blocking = false))
    newRoot
  }

  /** The q140 audit report — a pure read of the LIVE version against its
    * predecessor (the version it replaced; the flat root for a
    * first-rebuild chain): per-cell population and how many rows the
    * refit moved in. Stable across re-runs (nothing is written). */
  private[graft] def rebuildReport(s: SparkSession, path: String): DataFrame = {
    val live = IndexLifecycle.resolveIndexRoot(s, path)
    val prev = IndexLifecycle.previousVersionRoot(s, annFamily, path).getOrElse(
      throw new IllegalStateException(
        s"rebuild report for $path needs the predecessor version; it was pruned"))
    liveAssignments(s, live).select(col("vec_id"), col("c_label"))
      .join(IndexLifecycle.readStamped(s, s"$prev/assignments")
        .select(col("vec_id"), col("c_label").as("c_prev")), Seq("vec_id"))
      .groupBy("c_label")
      .agg(count(lit(1)).as("nm"),
        sum(when(col("c_label") =!= col("c_prev"), 1L).otherwise(0L)).as("mv"))
      .selectExpr("c_label", "cast(nm as bigint) as n_members",
        "cast(mv as bigint) as n_moved")
      .orderBy("c_label")
  }

  /** PSI of the LIVE population's cell shares against the fit-time
    * reference frame (`cellstat`, written by build/rebuild) — q125's
    * Laplace-smoothed micro-quantized arithmetic at index grain. This
    * is the drift statistic the "a merge never refits" discipline
    * defers to: merges/forgets move the population but never the
    * codebook OR the reference frame, so the PSI measures exactly the
    * shift SINCE THE LAST FIT. Cost: one columnless partition-count
    * scan + k-row arithmetic — cheap enough to check per maintenance
    * window. A version without a cellstat (hand-built artifacts)
    * self-seeds: the current population becomes the reference and the
    * check returns 0 (the standing-statistic discipline). */
  def annIndexDriftPsiMicro(s: SparkSession, path: String): Long = {
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    if (!graft.ScratchPaths.artifactExists(s, s"$root/cellstat/_SUCCESS"))
      IndexLifecycle.withWriter(s, path) {
        liveAssignments(s, root)
          .groupBy("c_label").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$root/cellstat")
      }
    val ref = IndexLifecycle.readStamped(s, s"$root/cellstat")
      .selectExpr("c_label", "n as n_ref")
    val cur = liveAssignments(s, root)
      .groupBy("c_label").agg(count(lit(1)).as("n_cur"))
    // dense over the codebook's cell list — a cell can be empty in
    // either population and still carries a smoothed term
    val dense = IndexLifecycle.readStamped(s, s"$root/centroids").select("c_label")
      .join(broadcast(ref), Seq("c_label"), "left")
      .join(broadcast(cur), Seq("c_label"), "left")
      .selectExpr("c_label", "coalesce(n_ref, 0L) as n_ref",
        "coalesce(n_cur, 0L) as n_cur")
      .transform(Tables.maybePersist)
    val k = dense.count()
    val tot = dense.agg(sum(col("n_ref")).as("ta"), sum(col("n_cur")).as("tb"))
    dense.crossJoin(broadcast(tot))
      .selectExpr(
        s"""cast(floor((
           |  (n_cur + 1) / cast(tb + $k as double)
           |  - (n_ref + 1) / cast(ta + $k as double))
           |  * ln(((n_cur + 1) / cast(tb + $k as double))
           |       / ((n_ref + 1) / cast(ta + $k as double)))
           |  * 1e6 + 0.5) as bigint) as term_micro"""
          .stripMargin.replace("\n", " "))
      .agg(sum(col("term_micro")).as("psi_micro"))
      .head().getLong(0)
  }

  /** The drift check as an auditable per-cell report (q141 — the q125
    * output discipline at index grain): (c_label, n_ref, n_cur,
    * term_micro, psi, needs_refit). The gate row runs it on a drifted
    * index (build + q134 merge, NO rebuild) so the oracle certifies the
    * exact statistic [[maybeRebuildAnnIndex]] acts on. */
  def annIndexDriftReport(s: SparkSession, path: String,
                          psiMicroThreshold: Long = 200000L): DataFrame = {
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    val ref = IndexLifecycle.readStamped(s, s"$root/cellstat")
      .selectExpr("c_label", "n as n_ref")
    val cur = liveAssignments(s, root)
      .groupBy("c_label").agg(count(lit(1)).as("n_cur"))
    val dense = IndexLifecycle.readStamped(s, s"$root/centroids").select("c_label")
      .join(broadcast(ref), Seq("c_label"), "left")
      .join(broadcast(cur), Seq("c_label"), "left")
      .selectExpr("c_label", "coalesce(n_ref, 0L) as n_ref",
        "coalesce(n_cur, 0L) as n_cur")
      .transform(Tables.maybePersist)
    val k = dense.count()
    val tot = dense.agg(sum(col("n_ref")).as("ta"), sum(col("n_cur")).as("tb"))
    val terms = dense.crossJoin(broadcast(tot))
      .selectExpr("c_label", "n_ref", "n_cur",
        s"""cast(floor((
           |  (n_cur + 1) / cast(tb + $k as double)
           |  - (n_ref + 1) / cast(ta + $k as double))
           |  * ln(((n_cur + 1) / cast(tb + $k as double))
           |       / ((n_ref + 1) / cast(ta + $k as double)))
           |  * 1e6 + 0.5) as bigint) as term_micro"""
          .stripMargin.replace("\n", " "))
      .transform(Tables.maybePersist)
    val psi = terms.agg(sum(col("term_micro")).as("psi_micro"))
    terms.crossJoin(broadcast(psi))
      .selectExpr("c_label", "n_ref", "n_cur", "term_micro / 1e6 as term",
        "psi_micro / 1e6 as psi", s"psi_micro >= ${psiMicroThreshold}L as needs_refit")
      .orderBy("c_label")
  }

  /** The q141 gate chain: lazy build → q134's drifted-delta merge → the
    * drift report the auto-refit acts on (no rebuild — this row
    * certifies the PRE-refit statistic; q140 certifies the refit). */
  def annIndexDriftCheck(s: SparkSession, d: String): DataFrame = {
    val path = graft.ScratchPaths.indexPathFor(
      s"q141-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)
    if (!IndexLifecycle.exists(s, annFamily, path)) {
      buildAnnIndex(s, d, path)
      mergeDeltaIntoIndex(annDelta(s, d), path)
    }
    annIndexDriftReport(s, path)
  }

  val annIndexDriftCheckSql: String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    def dotEC(e: String, c: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($e) + 1),
         |i -> $e[i]::DOUBLE * $c[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    def normC(c: String) =
      s"""sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($c) + 1),
         |i -> $c[i] * $c[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    (${dotEC("e.embedding", "c.centroid")})
       |      / (sqrt(${dot("e.embedding", "e.embedding")}) * ${normC("c.centroid")}) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |idx AS (SELECT vec_id, c_label FROM asg WHERE rn = 1),
       |delta AS (
       |  SELECT vec_id + 100000 AS vec_id, list_transform(range(1, len(embedding) + 1),
       |      i -> (embedding[i]::DOUBLE + CASE WHEN (i - 1) % 7 = 0 THEN 0.01 ELSE 0.0 END)::FLOAT) AS embedding
       |    FROM embeddings WHERE vec_id % 40 = 0
       |  UNION ALL
       |  SELECT vec_id + 200000, list_reverse(embedding)
       |    FROM embeddings WHERE vec_id % 40 = 20),
       |dr AS (SELECT vec_id, c_label FROM (
       |  SELECT e.vec_id, c.c_label, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |      (${dotEC("e.embedding", "c.centroid")})
       |        / (sqrt(${dot("e.embedding", "e.embedding")}) * ${normC("c.centroid")}) DESC,
       |      c_label) AS rn
       |    FROM delta e CROSS JOIN c) WHERE rn = 1),
       |ref AS (SELECT c_label, COUNT(*)::BIGINT AS n_ref FROM idx GROUP BY c_label),
       |cur AS (SELECT c_label, COUNT(*)::BIGINT AS n_cur FROM (
       |  SELECT c_label FROM idx UNION ALL SELECT c_label FROM dr) GROUP BY c_label),
       |dense AS (SELECT c.c_label, coalesce(ref.n_ref, 0) AS n_ref,
       |    coalesce(cur.n_cur, 0) AS n_cur
       |  FROM (SELECT c_label FROM c) c
       |  LEFT JOIN ref ON ref.c_label = c.c_label
       |  LEFT JOIN cur ON cur.c_label = c.c_label),
       |kk AS (SELECT COUNT(*)::BIGINT AS k FROM dense),
       |t AS (SELECT SUM(n_ref)::BIGINT AS ta, SUM(n_cur)::BIGINT AS tb FROM dense),
       |terms AS (SELECT c_label, n_ref, n_cur,
       |    floor((
       |      (n_cur + 1) / ((tb + k)::DOUBLE)
       |      - (n_ref + 1) / ((ta + k)::DOUBLE))
       |      * ln(((n_cur + 1) / ((tb + k)::DOUBLE))
       |           / ((n_ref + 1) / ((ta + k)::DOUBLE)))
       |      * 1e6 + 0.5)::BIGINT AS term_micro
       |  FROM dense, t, kk),
       |p AS (SELECT SUM(term_micro)::BIGINT AS psi_micro FROM terms)
       |SELECT c_label, n_ref, n_cur, term_micro / 1e6 AS term,
       |  psi_micro / 1e6 AS psi, psi_micro >= 200000 AS needs_refit
       |FROM terms, p ORDER BY c_label""".stripMargin
  }

  /** DRIFT-GATED AUTO-REFIT (r18): the wiring between q125's dial and
    * q140's operator — checks the live population's PSI against the
    * fit-time frame and rebuilds when it crosses the threshold (q125's
    * 0.2 = 200 000 micro). Returns the new version root when a rebuild
    * fired. This is the ANN twin of the media index's growth-triggered
    * dial re-pricing: both standing indexes now re-measure their own
    * fit statistic and re-fit themselves when the population outgrows
    * it, instead of freezing the build-time answer forever. */
  def maybeRebuildAnnIndex(s: SparkSession, path: String,
                           psiMicroThreshold: Long = 200000L,
                           rounds: Int = 2): Option[String] =
    if (annIndexDriftPsiMicro(s, path) >= psiMicroThreshold)
      Some(rebuildAnnIndex(s, path, rounds))
    else None

  /** The q140 gate chain: lazy build → fold the drifted delta → rebuild
    * once per process → report. Re-runs are fixed points (the committed
    * version short-circuits the rebuild; the report only reads). */
  def annIndexRebuild(s: SparkSession, d: String): DataFrame = {
    val path = refitIndexPathFor(d)
    if (!IndexLifecycle.exists(s, annFamily, path)) {
      buildAnnIndex(s, d, path)
      mergeDeltaIntoIndex(annDelta(s, d), path)
    }
    if (IndexLifecycle.resolveIndexRoot(s, path) == path) rebuildAnnIndex(s, path, rounds = 2)
    rebuildReport(s, path)
  }

  val annIndexRebuildSql: String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    def dotEC(e: String, c: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($e) + 1),
         |i -> $e[i]::DOUBLE * $c[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    def normC(c: String) =
      s"""sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($c) + 1),
         |i -> $c[i] * $c[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    // one Lloyd round from population CTE `src` (vec_id, embedding,
    // c_prev, cell) → `out`: decimal per-dim means per cell, then
    // cosine-argmax re-route (ties to the lowest cell)
    def round(p: String, src: String): String =
      s"""${p}d AS (SELECT cell, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
         |  FROM (SELECT cell, embedding, unnest(range(1, len(embedding) + 1)) AS i
         |        FROM $src)),
         |${p}s AS (SELECT cell, dim,
         |    CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
         |  FROM ${p}d GROUP BY cell, dim),
         |${p}c AS (SELECT cell AS c_label, list(cv ORDER BY dim) AS centroid
         |  FROM ${p}s GROUP BY cell),
         |${p}a AS (SELECT vec_id, embedding, c_prev, c_label AS cell FROM (
         |  SELECT p.vec_id, p.embedding, p.c_prev, c.c_label, row_number() OVER (
         |      PARTITION BY p.vec_id ORDER BY
         |      (${dotEC("p.embedding", "c.centroid")})
         |        / (sqrt(${dot("p.embedding", "p.embedding")}) * ${normC("c.centroid")}) DESC,
         |      c.c_label) AS rn
         |    FROM $src p CROSS JOIN ${p}c c) WHERE rn = 1)""".stripMargin
    s"""WITH d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    (${dotEC("e.embedding", "c.centroid")})
       |      / (sqrt(${dot("e.embedding", "e.embedding")}) * ${normC("c.centroid")}) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |idx AS (SELECT vec_id, embedding, c_label FROM asg WHERE rn = 1),
       |delta AS (
       |  SELECT vec_id + 100000 AS vec_id, list_transform(range(1, len(embedding) + 1),
       |      i -> (embedding[i]::DOUBLE + CASE WHEN (i - 1) % 7 = 0 THEN 0.01 ELSE 0.0 END)::FLOAT) AS embedding
       |    FROM embeddings WHERE vec_id % 40 = 0
       |  UNION ALL
       |  SELECT vec_id + 200000, list_reverse(embedding)
       |    FROM embeddings WHERE vec_id % 40 = 20),
       |dr AS (SELECT vec_id, embedding, c_label FROM (
       |  SELECT e.vec_id, e.embedding, c.c_label, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |      (${dotEC("e.embedding", "c.centroid")})
       |        / (sqrt(${dot("e.embedding", "e.embedding")}) * ${normC("c.centroid")}) DESC,
       |      c_label) AS rn
       |    FROM delta e CROSS JOIN c) WHERE rn = 1),
       |pop AS (SELECT vec_id, embedding, c_label AS c_prev, c_label AS cell FROM idx
       |  UNION ALL SELECT vec_id, embedding, c_label, c_label FROM dr),
       |${round("r1", "pop")},
       |${round("r2", "r1a")}
       |SELECT cell AS c_label, COUNT(*)::BIGINT AS n_members,
       |  SUM(CASE WHEN cell <> c_prev THEN 1 ELSE 0 END)::BIGINT AS n_moved
       |FROM r2a GROUP BY cell ORDER BY cell""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q126 — STANDING COMPRESSED (IVF-PQ) VECTOR INDEX (r14): q119 stores
  // raw float vectors; at billion scale the resident index stores PQ
  // CODES (m bytes/vector, 32× smaller here) and touches originals only
  // to re-rank a shortlist — the FAISS IVFPQ-on-disk layout. The Spark-
  // native twist: codes AND originals live in ONE cell-partitioned
  // parquet, and parquet's columnar layout gives the hot/cold split for
  // free — the ADC probe scans ONLY (vec_id, codes) (ReadSchema-pruned,
  // spec-pinned), the re-rank scans ONLY (vec_id, orig) for the ≤5-row-
  // per-delta shortlist. Build: the q115 fit verbatim (coarse route →
  // float32 residuals → shared PQ codebook) + per-row encode, written
  // partitionBy(c_label) with the 32-row codebook and 10-row coarse
  // frame as side artifacts (per-process path, the q102 discipline).
  // Probe: the q119 delta contract (jittered re-embeds + reversed
  // newcomers) — route to the nearest coarse cell, build the ADC table
  // from the DELTA's residual, rank the probed cell's stored codes
  // (ascending-s fold), ADC top-5 per delta via the map-side TopKCos
  // reduction (value = −adc_d, ties ≡ the oracle's (adc_d, nn_id)
  // row_number), exact-cosine re-rank on the originals to top-1,
  // duplicate verdict at cos ≥ 0.9.
  //
  // Scale shape (100 TB): the index never shuffles — stored side is a
  // codes-only columnar scan joined to the broadcast routed delta, the
  // one keyed exchange carries ≤5-row ADC buffers per delta, and the
  // re-rank is a broadcast shortlist into an orig-only scan. Memory:
  // the resident per-row payload is m=4 codes, not 64 floats.
  // Cross-engine: the q115 residual/ADC discipline end-to-end.
  // ---------------------------------------------------------------------

  private[graft] def pqIndexPathFor(d: String): String =
    graft.ScratchPaths.indexPathFor(s"q126-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)

  /** Encode the corpus against a fitted codebook: (vec_id, orig, codes,
    * c_label) — the stored row shape. */
  private def pqEncodedIndex(corpus: DataFrame, cells: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cells))
      .selectExpr("vec_id", "c_label", "orig", pqBestExpr)
      .selectExpr("vec_id", "orig", "transform(best, x -> x.cid) as codes", "c_label")

  /** The fit's own per-row quantization distortion Σ_s d(best cid),
    * micro-quantized per row BEFORE the corpus sum (order-free — the q84
    * inertia discipline; the per-row fold runs s-ascending over `best`,
    * matching the report side and the DuckDB mirror bit-for-bit). */
  private def pqFitDistortionMicros(corpus: DataFrame, cells: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cells))
      .selectExpr("vec_id", pqBestExpr)
      .selectExpr("vec_id",
        "aggregate(best, cast(0.0 as double), (acc, x) -> acc + x.d) as dsum")
      .selectExpr("cast(floor(dsum * 1e6 + 0.5) as long) as micro")

  /** (row count, long-average distortion micro) of a micros frame. */
  private def pqDistortionStat(micros: DataFrame): DataFrame =
    micros.agg(count(lit(1)).as("n"), sum(col("micro")).as("m"))
      .selectExpr("cast(n as bigint) as n_rows",
        "cast(floor(cast(m as double) / n + 0.5) as bigint) as dmicro")

  /** Side artifacts first, codes LAST — the lazy gates key "built" on
    * codes/_SUCCESS, so a crash mid-build can never leave a gate-visible
    * index missing its codebook/coarse frames (the buildIndexFrom
    * write-order discipline, r19b). The `stat` artifact records the
    * fit's own distortion — the reference the distortion-gated
    * auto-refit (r19c) prices decay against. */
  def buildPqIndex(s: SparkSession, d: String, path: String): Long =
      IndexLifecycle.withWriter(s, path) {
    val rows = coarseRows(s, d) // ONE collect: routing, residuals, artifact
    val corpus = ivfPqResidualCorpusWith(s, d, rows).transform(Tables.maybePersist)
    // the coarse artifact is independent of the fit ladder — overlap the
    // two legs (guide §2.6). The write-order crash discipline only
    // requires every side artifact to land BEFORE codes (the gate keys
    // "built" on codes/_SUCCESS), which the join below preserves. The
    // artifact rows are the collected coarse rows themselves.
    val (cells, _) = Par.run2(
      pqFitCells(corpus),
      coarseFrameLit(s, rows, "c_label")
        .write.mode("overwrite").parquet(s"$path/coarse"))
    // codebook and stat both derive from (corpus, cells) and are
    // mutually independent — same overlap, same write-order guarantee
    Par.run2(
      cells.selectExpr("explode(cells) as x").selectExpr("x.s", "x.cid", "x.c")
        .write.mode("overwrite").parquet(s"$path/codebook"),
      pqDistortionStat(pqFitDistortionMicros(corpus, cells))
        .write.mode("overwrite").parquet(s"$path/stat"))
    pqEncodedIndex(corpus, cells)
      .write.mode("overwrite").partitionBy("c_label").parquet(s"$path/codes")
    corpus.unpersist(blocking = false)
    // read-back count from the artifact's parquet footers (r21): same
    // value as the Spark count it replaces, zero jobs on the build tail
    graft.IndexLifecycle.parquetFooterRows(s, s"$path/codes")
  }

  /** The probe over any (delta, coarse, codebook, index) frames — shared
    * by the stored and inline routes (the annProbe discipline). */
  private[graft] def pqIndexProbe(delta0: DataFrame, coarseDf: DataFrame,
                                  cellsDf: DataFrame, idx: DataFrame): DataFrame = {
    val s = delta0.sparkSession
    import s.implicits._
    val cb = coarseDf
      .agg(sort_array(collect_list(struct(col("c_label"), col("centroid")))).as("cb"))
    val routed = delta0.crossJoin(broadcast(cb))
      .selectExpr("vec_id", "embedding", "cb",
        s"sqrt(${dotExpr("embedding", "embedding")}) as dnrm")
      .selectExpr("vec_id", "embedding as de", "dnrm", "cb",
        // r21: native routing argmax — bit-identical to the HOF chain
        "graft_route_max(embedding, dnrm, cb) as best")
      .selectExpr("vec_id", "de", "dnrm", "cb", "cast(-best.nl as int) as q_cell")
      // the delta's residual about ITS probed cell (q115's float cast)
      .selectExpr("vec_id", "de", "dnrm", "q_cell",
        s"""transform(sequence(1, ${PqM * PqSub}), i -> cast(
           |double(element_at(de, i)) -
           |element_at(element_at(filter(cb, x -> x.c_label = q_cell), 1).centroid, i)
           |as float)) as embedding"""
          .stripMargin.replace("\n", " "))
    val withTab = pqCorpusOf(
        routed.selectExpr("vec_id", "0 as label", "embedding", "de", "dnrm", "q_cell"),
        Seq("de", "dnrm", "q_cell"))
      .crossJoin(broadcast(cellsDf))
      .selectExpr("vec_id as dv", "de", "dnrm", "q_cell",
        s"""transform(bys, sc -> transform(sc, cx -> named_struct('cid', cx.cid,
           |'dq', (subs[cx.s].vv - (2 * ${dotExpr("subs[cx.s].v", "cx.c")})) + cx.cc))) as dtab"""
          .stripMargin.replace("\n", " "))
      .transform(Tables.maybePersist) // feeds the ADC scan AND the re-rank
    // ADC over the CODES-ONLY scan (orig is never read on this path)
    val adc = idx.select("vec_id", "codes", "c_label")
      .join(broadcast(withTab.select("dv", "q_cell", "dtab")),
        col("c_label") === col("q_cell"))
      .selectExpr("dv", "vec_id as nn_id",
        // r21: native ADC fold over the stored codes (bit-identical pin)
        "graft_pq_adc(dtab, codes) as adc_d")
    val short = adc.as[(Long, Long, Double)]
      .groupByKey(_._1).mapValues(t => (-t._3, t._2))
      .agg(TopKCos.toColumn.name("top"))
      .toDF("dv", "top")
      .selectExpr("dv", "explode(top) as t")
      .selectExpr("dv", "t._2 as nn_id")
      .join(broadcast(withTab.select("dv", "de", "dnrm", "q_cell")), Seq("dv"))
    // exact re-rank on the ORIG-ONLY scan (codes are never read here)
    idx.selectExpr("vec_id as nn_id", "orig")
      .join(broadcast(short), Seq("nn_id"))
      .selectExpr("dv", "q_cell", "nn_id",
        s"${dotExpr("orig", "de")} / (sqrt(${dotExpr("orig", "orig")}) * dnrm) as cos")
      .groupBy("dv", "q_cell")
      .agg(max(struct(col("cos"), (-col("nn_id")).as("nn_neg"))).as("b"))
      .selectExpr("dv as vec_id", "q_cell", "cast(-b.nn_neg as long) as nn_id",
        "floor(b.cos * 1e6 + 0.5) / 1e6 as cosine", "b.cos >= 0.9 as is_dup")
  }

  /** Rebuild the one-row broadcastable codebook from the stored exploded
    * artifact (cc recomputed with the same fold — deterministic). */
  private[graft] def pqCellsOfRead(s: SparkSession, path: String): DataFrame =
    pqCellsOf(IndexLifecycle.readStamped(s, path))

  // ---------------------------------------------------------------------
  // STANDING PQ INDEX LIFECYCLE (r19b): q126's compressed artifact was a
  // standing index in production position with build+probe only — the
  // billion-scale resident index is exactly the artifact a crawl
  // pipeline grows continuously and serves takedowns from, so it now
  // carries the family contract (the r18→r19 lifecycle-parity arc):
  //  · [[mergePqBatchIntoIndex]]: new vectors route through the STORED
  //    coarse frame and encode against the FROZEN stored codebook (a
  //    merge never refits — the ANN q134 discipline at compressed grain),
  //    appending m-byte code rows into their cell partitions; idempotent
  //    (the codes artifact is the registry), tombstone-aware (forgotten
  //    ids never resurrect through a replay).
  //  · [[forgetPqFromIndex]]: LAZY deletion — the takedown appends
  //    (vec_id, c_label as stored) to the root tombstone log; the probe
  //    subtracts it from BOTH the ADC scan and the re-rank (effective
  //    immediately, no stored file touched); [[compactPqIndex]] makes it
  //    physical in a fresh committed version (codebook/coarse carried —
  //    compaction never refits) + keep-N GC.
  //  · MAINTENANCE POLICY: the forget tail auto-compacts once live
  //    victims cross `spark.graft.pqCompactTombstoneFrac` (0.25).
  // Scale shape (100 TB): merge = |batch| routed dots + an append;
  // takedown = one pushdown locate + a request-sized append; probe
  // unchanged (codes-only columnar scan); compaction = one codes-only
  // rewrite, the cheapest corpus pass in the family (m bytes/row).
  // ---------------------------------------------------------------------

  /** The PQ family's lifecycle: codes is both the registry and the
    * artifact the build writes last, and each tombstone records the
    * victim's stored cell; the q148 gate row's 1/40 = 2.5% victims sit
    * far under the default compaction fraction, so the row certifies
    * the LAZY read path specifically. */
  private[graft] val pqFamily = IdLogFamily("pq", "vec_id", "codes", "codes",
    Seq("codes", "codebook", "coarse", "stat"),
    "spark.graft.pqCompactTombstoneFrac", compactPqIndex,
    audit = Seq("c_label"))

  /** Live code rows: stored minus the root tombstone log (skipped — plan
    * untouched — when no log exists, so q126's pinned shape holds). */
  private[graft] def livePqCodes(s: SparkSession, path: String,
                                 root: String): DataFrame =
    IndexLifecycle.live(pqFamily, path, root)(
      IndexLifecycle.readStamped(s, s"$root/codes"))

  /** Route a raw (vec_id, embedding) batch with the STORED coarse frame
    * and compute its float32 residuals — the encode-side twin of the
    * probe's delta routing (same argmax, same tie-break, same float
    * cast), shaped for [[pqCorpusOf]] + [[pqEncodedIndex]]. */
  private def pqRouteResidual(batch: DataFrame, coarseDf: DataFrame): DataFrame = {
    withFns(batch.sparkSession)
    val cb = coarseDf
      .agg(sort_array(collect_list(struct(col("c_label"), col("centroid")))).as("cb"))
    batch.crossJoin(broadcast(cb))
      .selectExpr("vec_id", "embedding", "cb",
        s"sqrt(${dotExpr("embedding", "embedding")}) as dnrm")
      .selectExpr("vec_id", "embedding as orig", "cb",
        // r21: native routing argmax — bit-identical to the HOF chain
        "graft_route_max(embedding, dnrm, cb) as best")
      .selectExpr("vec_id", "orig", "cb", "cast(-best.nl as int) as c_label")
      .selectExpr("vec_id", "cast(0 as int) as label", "c_label", "orig",
        s"""transform(sequence(1, ${PqM * PqSub}), i -> cast(
           |double(element_at(orig, i)) -
           |element_at(element_at(filter(cb, x -> x.c_label = c_label), 1).centroid, i)
           |as float)) as embedding"""
          .stripMargin.replace("\n", " "))
  }

  /** q147's core — fold ONE (vec_id, embedding) batch into the standing
    * PQ index: route with the stored coarse frame, encode against the
    * frozen stored codebook, append into the cell partitions (append-
    * only — no reader's file listing is ever invalidated). Idempotent
    * (already-encoded ids anti-join away against the codes registry),
    * tombstone-aware. Returns (admitted, refused). */
  def mergePqBatchIntoIndex(batch: DataFrame, path: String): (Long, Long) =
    IndexLifecycle.merge(pqFamily,
        batch.select(col("vec_id").cast("long"), col("embedding")), path) { (root, fresh, nFresh) =>
      val s = batch.sparkSession
      val cells = pqCellsOfRead(s, s"$root/codebook")
      // the encode chain is row-preserving (every step crossJoins a
      // one-row broadcast frame and projects), so the admitted count IS
      // the marked fresh count; the append is the leg's only write (the
      // codes artifact is the registry)
      pqEncodedIndex(
          pqCorpusOf(pqRouteResidual(fresh, IndexLifecycle.readStamped(s, s"$root/coarse")),
            Seq("c_label", "orig")),
          cells)
        .writeArtifact(s"$root/codes", "append", "c_label")
      nFresh
    }

  /** q148's core — right-to-be-forgotten against the standing PQ index,
    * LSM-style: victims located in the codes artifact (the audit log
    * records the stored cell) append to the root tombstone log; every
    * probe subtracts it from the ADC scan AND the re-rank; compaction
    * makes it physical. Idempotent. Returns the newly-tombstoned count. */
  def forgetPqFromIndex(victimIds: DataFrame, path: String): Long =
    IndexLifecycle.takedown(pqFamily, victimIds, path)

  /** Scheduled compaction, VERSIONED: rewrites the codes artifact minus
    * the tombstoned ids into a fresh committed version, carrying the
    * codebook and coarse frames unchanged (compaction never refits —
    * the fit is once-per-life, q126b's row), then keep-N GC. No-ops when
    * there are no live victims. */
  def compactPqIndex(s: SparkSession, path: String): Unit =
    IndexLifecycle.compactVersion(s, pqFamily, path) { root =>
      Option.when(IndexLifecycle.liveVictims(s, pqFamily, path, root) > 0) { newRoot =>
        // the three artifact writes are mutually independent: overlap
        // them (guide §2.6, r21)
        Par.run3(
          livePqCodes(s, path, root)
            .write.mode("overwrite").partitionBy("c_label")
            .parquet(s"$newRoot/codes"),
          IndexLifecycle.readStamped(s, s"$root/codebook")
            .write.mode("overwrite").parquet(s"$newRoot/codebook"),
          IndexLifecycle.readStamped(s, s"$root/coarse")
            .write.mode("overwrite").parquet(s"$newRoot/coarse"))
        // the stat rides along: n re-counted to the compacted population,
        // the distortion REFERENCE unchanged (same codebook — compaction
        // never refits; the decay dial must not reset without a refit)
        if (graft.ScratchPaths.artifactExists(s, s"$root/stat/_SUCCESS")) {
          import s.implicits._
          val dRef = IndexLifecycle.readStamped(s, s"$root/stat").head().getLong(1)
          // compacted population from the just-written codes' parquet
          // footers (r21) — identical to the Spark count, zero jobs
          Seq((graft.IndexLifecycle.parquetFooterRows(s, s"$newRoot/codes"), dRef))
            .toDF("n_rows", "dmicro")
            .write.mode("overwrite").parquet(s"$newRoot/stat")
        }
      }
    }

  // ---------------------------------------------------------------------
  // PQ DISTORTION DRIFT + REFIT (r19c): the last family asymmetry — ANN
  // re-fits itself on routing drift (q141), media re-prices its band
  // dial on growth, lexical statistics re-price at every read; the PQ
  // codebook was frozen FOREVER. A codebook fitted on yesterday's
  // residual distribution quantizes tomorrow's merges worse — ADC
  // distances blur and recall decays silently. The decay statistic is
  // MEASURED, oracle-certified (q149 — the q141 discipline: the number
  // the trigger acts on is itself gate-verified): per-row stored-code
  // distortion Σ_s ||resid_s − c(code_s)||², reconstructed from the
  // stored artifact (orig + frozen coarse + stored codebook), compared
  // to the fit's own distortion recorded in `stat` at build. The refit
  // (q150) re-fits the codebook on the LIVE rows and re-encodes, in a
  // fresh committed version (snapshot-refit-catchup — the
  // rebuildAnnIndex r19 discipline: merges land mid-refit and are
  // replayed with the NEW codebook before the commit). The coarse frame
  // stays frozen — coarse-cell drift is the ANN family's q141 dial;
  // this family owns the SUBSPACE codebook.
  // ---------------------------------------------------------------------

  /** The live rows' residual corpus, reconstructed from the STORED
    * artifact (orig + the row's stored coarse cell — bit-identical to
    * the build-time residuals) and shaped for [[pqCorpusOf]]; `codes`
    * carried for the distortion fold. */
  private def pqLiveResidualCorpus(s: SparkSession, path: String,
                                   root: String): DataFrame = {
    withFns(s)
    val cb = IndexLifecycle.readStamped(s, s"$root/coarse")
      .agg(sort_array(collect_list(struct(col("c_label"), col("centroid")))).as("cb"))
    val resid = livePqCodes(s, path, root).crossJoin(broadcast(cb))
      .selectExpr("vec_id", "cast(0 as int) as label", "c_label", "orig", "codes",
        s"""transform(sequence(1, ${PqM * PqSub}), i -> cast(
           |double(element_at(orig, i)) -
           |element_at(element_at(filter(cb, x -> x.c_label = c_label), 1).centroid, i)
           |as float)) as embedding"""
          .stripMargin.replace("\n", " "))
    pqCorpusOf(resid, Seq("c_label", "orig", "codes"))
  }

  /** Per-row distortion of the STORED codes against the STORED codebook
    * (s-ascending fold, micro-quantized per row — identical arithmetic
    * to [[pqFitDistortionMicros]], so a fresh index reads d_now ==
    * d_build exactly). */
  private def pqStoredDistortionMicros(s: SparkSession, path: String,
                                       root: String): DataFrame = {
    val cells = pqCellsOfRead(s, s"$root/codebook")
    pqLiveResidualCorpus(s, path, root)
      .crossJoin(broadcast(cells))
      // r21: native stored-code distortion fold (graft.functions.PqDcode)
      // — ≡ the aggregate/element_at(filter(...)) HOF chain, which also
      // evaluated the per-subspace filter TWICE per row (once for .c,
      // once for .cc); bit-identical (ExtensionsSpec pin)
      .selectExpr("vec_id", "graft_pq_dcode(subs, bys, codes) as dsum")
      .selectExpr("vec_id", "cast(floor(dsum * 1e6 + 0.5) as long) as micro")
  }

  /** The q149 report — the dial input the auto-refit acts on, oracle-
    * certified: (live rows, the build fit's own distortion, the stored
    * codes' distortion as of now, refit_due under the session dials).
    * A fresh index reads d_now == d_build bit-for-bit, which certifies
    * the residual/codebook reconstruction path end-to-end; a grown or
    * drifted index reads the decay the trigger prices. Lazily prices a
    * missing stat (pre-r19c version roots) under the writer gate. */
  /** The EFFECTIVE (n_ref, d_ref) reference frame of a version root
    * (r20, advice #2): the build/refit's `stat` row, with the GROWTH
    * reference overridden by the largest re-priced value in the
    * append-only `statref` sidecar. The re-pricing used to rewrite
    * `stat` in place — the one mutation of a live version directory in
    * a family whose stated discipline is that no stored file is ever
    * rewritten (a concurrent report that listed stat's files
    * pre-overwrite could fail mid-read). `statref` is append-only
    * within a version (the re-priced n is monotone) and intentionally
    * does NOT carry across versions: a refit resets the reference to
    * its own fit, and a compaction re-counts `stat` to the compacted
    * live population. One lazy 1-row frame: (n_ref, d_ref_micro). */
  private def pqRefFrame(s: SparkSession, root: String): DataFrame = {
    val st = IndexLifecycle.readStamped(s, s"$root/stat")
      .selectExpr("n_rows as n_build", "dmicro as d_ref_micro")
    if (graft.ScratchPaths.artifactExists(s, s"$root/statref/_SUCCESS"))
      st.crossJoin(broadcast(
          IndexLifecycle.readStamped(s, s"$root/statref").agg(max("n_rows").as("n_repriced"))))
        .selectExpr("greatest(n_build, n_repriced) as n_ref", "d_ref_micro")
    else st.selectExpr("n_build as n_ref", "d_ref_micro")
  }

  def pqIndexDistortionReport(s: SparkSession, path: String): DataFrame = {
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    if (!graft.ScratchPaths.artifactExists(s, s"$root/stat/_SUCCESS"))
      IndexLifecycle.withWriter(s, path) {
        // re-check under the gate (r20, advice #2): two concurrent
        // reports may both have seen it missing — only one writes
        if (!graft.ScratchPaths.artifactExists(s, s"$root/stat/_SUCCESS"))
          pqDistortionStat(pqStoredDistortionMicros(s, path, root))
            .write.mode("overwrite").parquet(s"$root/stat")
      }
    val growth = graft.IndexLifecycle.confDouble(s, "spark.graft.pqRefitGrowth", 2.0)
    val dial = graft.IndexLifecycle.confDouble(s, "spark.graft.pqRefitDistortionDial", 1.5)
    // refit_due prices against the EFFECTIVE reference (statref-aware),
    // so the report and the trigger can never disagree; d_build stays
    // the fit's own distortion. A gate-fixture root has no statref, so
    // q149's plan and oracle are unchanged.
    pqDistortionStat(pqStoredDistortionMicros(s, path, root))
      .crossJoin(broadcast(pqRefFrame(s, root)))
      .selectExpr("n_rows",
        "d_ref_micro / 1e6 as d_build",
        "dmicro / 1e6 as d_now",
        s"(n_rows >= cast($growth * n_ref as bigint)) and " +
          s"(cast(dmicro as double) >= $dial * d_ref_micro) as refit_due")
  }

  /** The PQ refit (q150): re-fit the subspace codebook on the LIVE rows'
    * residuals and re-encode, as a new committed version — deletion made
    * physical along the way, `stat` re-priced to the new fit. SNAPSHOT-
    * REFIT-CATCHUP (the rebuildAnnIndex r19 discipline): phase 1
    * (lockless) fits and writes the uncommitted version, so merges and
    * takedowns keep landing on the live version meanwhile; phase 2
    * (locked) re-encodes whatever landed — with the NEW codebook — and
    * commits. The tombstone log lives at the PATH ROOT, so it needs no
    * carry and keeps guarding replays across the swap. Returns the new
    * version's root. */
  def rebuildPqIndex(s: SparkSession, path: String,
                     beforeCatchup: () => Unit = () => ()): String = {
    withFns(s)
    val (root, newRoot) = IndexLifecycle.withLock(path) {
      val nr = IndexLifecycle.allocateVersion(s, path)
      (IndexLifecycle.resolveIndexRoot(s, path), nr)
    }
    val snapshot = pqLiveResidualCorpus(s, path, root)
      .transform(Tables.maybePersist)
    val cells = pqFitCells(snapshot)
    cells.selectExpr("explode(cells) as x").selectExpr("x.s", "x.cid", "x.c")
      .write.mode("overwrite").parquet(s"$newRoot/codebook")
    IndexLifecycle.readStamped(s, s"$root/coarse") // frozen — the ANN family owns coarse drift
      .write.mode("overwrite").parquet(s"$newRoot/coarse")
    pqEncodedIndex(snapshot.drop("codes"), cells)
      .write.mode("overwrite").partitionBy("c_label").parquet(s"$newRoot/codes")
    snapshot.unpersist(blocking = false)
    beforeCatchup()
    IndexLifecycle.withWriter(s, path) {
      // catchup: live rows merged into the OLD version mid-refit, encoded
      // with the NEW codebook (fresh file listing — the merge appends)
      val missed = pqLiveResidualCorpus(s, path, root).drop("codes")
        .join(IndexLifecycle.readStamped(s, s"$newRoot/codes").select("vec_id"),
          Seq("vec_id"), "left_anti")
        .localCheckpoint()
      if (!missed.isEmpty)
        pqEncodedIndex(missed, cells)
          .write.mode("append").partitionBy("c_label")
          .parquet(s"$newRoot/codes")
      // stat re-priced to the NEW fit over the post-catchup population —
      // the decay dial resets to the refit's own distortion
      pqDistortionStat(pqStoredDistortionMicros(s, path, newRoot))
        .write.mode("overwrite").parquet(s"$newRoot/stat")
      graft.IndexLifecycle.commitVersion(s, pqFamily, path, newRoot)
    }
    newRoot
  }

  /** The distortion-gated AUTO-REFIT check (the media growth-trigger
    * shape, priced lazily): only when the population has grown past
    * `spark.graft.pqRefitGrowth` (2×) of the stat's reference does the
    * corpus-priced distortion pass run; if decay crosses
    * `spark.graft.pqRefitDistortionDial` (1.5×) the index re-fits
    * itself, else the growth reference re-prices so the next check
    * waits for the next doubling — a stable population never pays the
    * distortion pass at all. */
  def maybeRefitPqIndex(s: SparkSession, path: String): Boolean = {
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    if (!graft.ScratchPaths.artifactExists(s, s"$root/stat/_SUCCESS"))
      return false
    val ref = pqRefFrame(s, root).head()
    val (nRef, dRef) = (ref.getLong(0), ref.getLong(1))
    val growth = graft.IndexLifecycle.confDouble(s, "spark.graft.pqRefitGrowth", 2.0)
    val nLive = livePqCodes(s, path, root).count()
    // truncating gate, matching the report's `cast(growth * n_ref as
    // bigint)` exactly (r20): a fractional dial must not let the report
    // read refit_due=true while this trigger declines to fire
    if (nLive < (growth * nRef).toLong) return false
    val dNow = pqDistortionStat(pqStoredDistortionMicros(s, path, root))
      .head().getLong(1)
    val dial = graft.IndexLifecycle.confDouble(
      s, "spark.graft.pqRefitDistortionDial", 1.5)
    if (dNow.toDouble >= dial * dRef) {
      rebuildPqIndex(s, path); true
    } else {
      // growth reference re-priced: wait for the next doubling. An
      // APPEND to the statref sidecar (r20, advice #2) — never a
      // rewrite of `stat` inside the live version, which a concurrent
      // report may have file-listed already.
      IndexLifecycle.withWriter(s, path) {
        import s.implicits._
        val refPath = s"$root/statref"
        val mode =
          if (graft.ScratchPaths.artifactExists(s, s"$refPath/_SUCCESS"))
            "append" else "overwrite"
        Seq(nLive).toDF("n_rows").write.mode(mode).parquet(refPath)
      }
      false
    }
  }

  /** Probe the STORED artifacts (the production path). r19b: version
    * root resolved ONCE, live rows only (tombstones subtracted from the
    * codes scan feeding BOTH the ADC pass and the re-rank; the anti-join
    * is skipped — plan untouched — when no log exists, so q126's pinned
    * shape holds). */
  def pqIndexProbeStored(s: SparkSession, d: String, path: String): DataFrame = {
    val root = IndexLifecycle.resolveIndexRoot(s, path)
    pqIndexProbe(annDelta(s, d),
      IndexLifecycle.readStamped(s, s"$root/coarse"),
      pqCellsOfRead(s, s"$root/codebook"),
      livePqCodes(s, path, root))
  }

  /** The q147 gate chain: lazy build → fold the +300000-rekeyed EXACT
    * COPIES of the jittered delta leg into the standing PQ index → probe
    * with the standard delta. Every jittered probe row now has an exact
    * twin IN the index (cosine 1.0 at nn_id + 200000 beats the ~0.999
    * original), so the oracle — the full IVF-PQ probe recomputed with
    * the frozen fit over the merged corpus — certifies the stored-coarse
    * routing, the frozen-codebook encode, and the cell-partitioned fold
    * end-to-end. Fixed point under re-runs (the codes registry refuses
    * the replayed batch). */
  def pqIndexMerge(s: SparkSession, d: String): DataFrame = {
    val path = graft.ScratchPaths.indexPathFor(
      s"q147-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)
    if (!IndexLifecycle.exists(s, pqFamily, path)) buildPqIndex(s, d, path)
    mergePqBatchIntoIndex(
      annDelta(s, d).filter(col("vec_id") < 200000L)
        .selectExpr("vec_id + 200000 as vec_id", "embedding"),
      path)
    pqIndexProbeStored(s, d, path)
  }

  /** The q149 gate chain: lazy build → the distortion report. On the
    * fresh artifact d_now must equal d_build BIT-FOR-BIT — the row
    * certifies the stored-artifact reconstruction (orig + frozen coarse
    * → residual → stored-code decode) against the fit's own number, and
    * the oracle certifies that number from scratch. The statistic the
    * auto-refit trigger acts on is itself gate-verified — the q141
    * discipline at PQ grain. */
  def pqIndexDistortionCheck(s: SparkSession, d: String): DataFrame = {
    val path = graft.ScratchPaths.indexPathFor(
      s"q149-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)
    if (!IndexLifecycle.exists(s, pqFamily, path)) buildPqIndex(s, d, path)
    // the gate row PINS the refit dials to their defaults (r20, advice
    // #5): the DuckDB oracle hardcodes 2.0 / 1.5, so a session running
    // non-default dials must not silently diverge on refit_due. The
    // dials are interpolated into the plan at construction, so the
    // session values are restored before the row is even executed.
    val pinned = Seq("spark.graft.pqRefitGrowth" -> "2.0",
      "spark.graft.pqRefitDistortionDial" -> "1.5")
    val saved = pinned.map { case (k, _) => k -> s.conf.getOption(k) }
    pinned.foreach { case (k, v) => s.conf.set(k, v) }
    try pqIndexDistortionReport(s, path)
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The q150 gate chain: lazy build → forget the vec_id % 40 == 0 rows
    * → REFIT (rebuildPqIndex: the codebook re-fitted on the survivors,
    * deletion made physical, fresh committed version) → probe. The
    * oracle runs the ENTIRE chain — coarse population, residuals, PQ
    * fit, encodings, probe — on the survivors, so the row certifies
    * that the refit equals a from-scratch fit of the live population
    * (seed rule and iteration count included). Once-per-life: a
    * committed version short-circuits the forget+refit on re-runs (the
    * q140 discipline). */
  def pqIndexRefit(s: SparkSession, d: String): DataFrame = {
    val path = graft.ScratchPaths.indexPathFor(
      s"q150-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)
    if (!IndexLifecycle.exists(s, pqFamily, path)) buildPqIndex(s, d, path)
    if (IndexLifecycle.resolveIndexRoot(s, path) == path) {
      forgetPqFromIndex(
        IndexLifecycle.readStamped(s, s"$path/codes")
          .filter(pmod(col("vec_id"), lit(40)) === 0).select("vec_id"),
        path)
      rebuildPqIndex(s, path): Unit
    }
    pqIndexProbeStored(s, d, path)
  }

  /** The q148 gate chain: lazy build → forget the vec_id % 40 == 0 rows
    * (every jittered probe row's nearest neighbour) → probe. Each
    * jittered row must re-rank to its post-takedown best match, so the
    * oracle (the probe recomputed over the surviving corpus under the
    * frozen full-corpus fit) certifies the tombstone anti-join on both
    * the ADC scan and the re-rank. 2.5% victims: far under the
    * maintenance fraction — the row certifies the LAZY read path. Fixed
    * point under re-runs (victims already tombstoned). */
  def pqIndexForget(s: SparkSession, d: String): DataFrame = {
    val path = graft.ScratchPaths.indexPathFor(
      s"q148-${graft.ScratchPaths.tableFingerprint(d, "embeddings")}", d)
    if (!IndexLifecycle.exists(s, pqFamily, path)) buildPqIndex(s, d, path)
    forgetPqFromIndex(
      IndexLifecycle.readStamped(s, s"${IndexLifecycle.resolveIndexRoot(s, path)}/codes")
        .filter(pmod(col("vec_id"), lit(40)) === 0).select("vec_id"),
      path)
    pqIndexProbeStored(s, d, path)
  }

  /** The same probe over in-memory frames — the spec pins stored ≡
    * inline. */
  private[graft] def pqIndexProbeInline(s: SparkSession, d: String): DataFrame = {
    val corpus = ivfPqResidualCorpus(s, d).transform(Tables.maybePersist)
    val cells = pqFitCells(corpus)
    pqIndexProbe(annDelta(s, d), centroidsByLabel(s, d, "c_label"), cells,
      pqEncodedIndex(corpus, cells))
  }

  /** The q126 oracle, parameterized for the lifecycle rows (r19b): the
    * fit chain always runs over the ORIGINAL corpus (the codebook is
    * frozen at build — merges encode against it, takedowns never refit),
    * while `extraCtes` can add merged rows encoded with that frozen
    * codebook and `aliveSql`/`allencSql` define what the ADC scan and
    * the re-rank actually see (the stored artifact's live rows). */
  /** The DuckDB dot of a delta row's embedding against a coarse centroid
    * and the centroid's norm — shared by every PQ oracle's routing. */
  private def pqDotECSql: String =
    """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
      |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
  private def pqNormCSql: String =
    """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
      |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")

  /** The shared PQ-oracle head: decimal-exact coarse fit → assignment
    * (`aFilter` restricts the population the FIT ITSELF sees — q150's
    * refit-on-survivors mirror) → float residuals → the PQ fit chain
    * (yields `enc` with per-(vec, s) d at the argmin cid). */
  private def pqOracleHeadSql(aFilter: String): String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    s"""d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, label, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($pqDotECSql) / (sqrt(${dot("e.embedding", "e.embedding")}) * $pqNormCSql) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |a AS (SELECT vec_id, label, embedding, c_label FROM asg WHERE rn = 1$aFilter),
       |resid AS (SELECT a.vec_id, a.label, a.c_label, a.embedding AS orig,
       |    list_transform(range(1, ${PqM * PqSub} + 1),
       |      i -> (a.embedding[i]::DOUBLE - c.centroid[i])::FLOAT) AS rs
       |  FROM a JOIN c ON a.c_label = c.c_label),
       |${pqFitChainSql("", "resid", "rs")}""".stripMargin
  }

  private def pqIndexProbeSqlWith(extraCtes: String, aliveSql: String,
                                  allencSql: String,
                                  aFilter: String = ""): String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    val dotEC = pqDotECSql
    val normC = pqNormCSql
    val dslice = s"rs2[s * $PqSub + 1 : s * $PqSub + $PqSub]"
    s"""WITH ${pqOracleHeadSql(aFilter)},
       |delta AS (
       |  SELECT vec_id + 100000 AS vec_id, list_transform(range(1, len(embedding) + 1),
       |      i -> (embedding[i]::DOUBLE + CASE WHEN (i - 1) % 7 = 0 THEN 0.01 ELSE 0.0 END)::FLOAT) AS embedding
       |    FROM embeddings WHERE vec_id % 40 = 0
       |  UNION ALL
       |  SELECT vec_id + 200000, list_reverse(embedding)
       |    FROM embeddings WHERE vec_id % 40 = 20),
       |dr AS (SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm,
       |    c_label AS q_cell FROM (
       |  SELECT e.vec_id, e.embedding, c.c_label, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |      ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
       |      c_label) AS rn
       |    FROM delta e CROSS JOIN c) WHERE rn = 1),
       |drs AS (SELECT dr.vec_id, dr.q_cell,
       |    list_transform(range(1, ${PqM * PqSub} + 1),
       |      i -> (dr.embedding[i]::DOUBLE - c.centroid[i])::FLOAT) AS rs2
       |  FROM dr JOIN c ON c.c_label = dr.q_cell),
       |dsub AS (SELECT vec_id, s, $dslice AS v, ${dot(dslice, dslice)} AS vv
       |  FROM drs CROSS JOIN (SELECT unnest(range(0, $PqM)) AS s)),
       |dtab AS (SELECT q.vec_id AS dv, cc2.s, cc2.cid,
       |    ((q.vv - (2 * ${dot("q.v", "cc2.c")})) + cc2.cc) AS dq
       |  FROM c$PqIters cc2 JOIN dsub q ON q.s = cc2.s),$extraCtes
       |alive AS ($aliveSql),
       |allenc AS ($allencSql),
       |adc AS (SELECT dr.vec_id AS dv, a.vec_id AS nn_id, dr.q_cell,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(t.dq ORDER BY e2.s)), (p, q) -> p + q) AS adc_d
       |  FROM dr JOIN alive a ON a.c_label = dr.q_cell
       |  JOIN allenc e2 ON e2.vec_id = a.vec_id
       |  JOIN dtab t ON t.dv = dr.vec_id AND t.s = e2.s AND t.cid = e2.cid
       |  GROUP BY dr.vec_id, a.vec_id, dr.q_cell),
       |sl AS (SELECT dv, nn_id, q_cell, row_number() OVER (
       |    PARTITION BY dv ORDER BY adc_d, nn_id) AS rk FROM adc),
       |rr AS (SELECT sl.dv, sl.q_cell, sl.nn_id,
       |    (${dot("a.embedding", "dr.embedding")}) / (sqrt(${dot("a.embedding", "a.embedding")}) * dr.nrm) AS cos
       |  FROM sl JOIN alive a ON a.vec_id = sl.nn_id JOIN dr ON dr.vec_id = sl.dv
       |  WHERE sl.rk <= 5),
       |top AS (SELECT dv, q_cell, nn_id, cos, row_number() OVER (
       |    PARTITION BY dv ORDER BY cos DESC, nn_id) AS rn FROM rr)
       |SELECT dv AS vec_id, q_cell, nn_id, floor(cos * 1e6 + 0.5) / 1e6 AS cosine,
       |  cos >= 0.9 AS is_dup
       |FROM top WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  val pqIndexProbeSql: String = pqIndexProbeSqlWith("",
    "SELECT vec_id, label, embedding, c_label FROM a",
    "SELECT vec_id, s, cid FROM enc")

  /** q147's oracle: merged rows = exact copies of the jittered delta leg
    * rekeyed +200000, routed over the frozen coarse frame and encoded
    * against the frozen codebook (the chain the Spark merge runs), then
    * probed alongside the original corpus. */
  val pqIndexMergeSql: String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    val mslice = s"rs[s * $PqSub + 1 : s * $PqSub + $PqSub]"
    val dEnc = s"((b.vv - (2 * ${dot("b.v", "c.c")})) + c.cc)"
    val extra =
      s"""
         |mdelta AS (SELECT vec_id + 200000 AS vec_id, embedding
         |  FROM delta WHERE vec_id < 200000),
         |ma AS (SELECT vec_id, 0 AS label, embedding, c_label FROM (
         |  SELECT e.vec_id, e.embedding, c.c_label, row_number() OVER (
         |      PARTITION BY e.vec_id ORDER BY
         |      ($dotEC) / (sqrt(${dot("e.embedding", "e.embedding")}) * $normC) DESC,
         |      c_label) AS rn
         |    FROM mdelta e CROSS JOIN c) WHERE rn = 1),
         |mresid AS (SELECT ma.vec_id, list_transform(range(1, ${PqM * PqSub} + 1),
         |      i -> (ma.embedding[i]::DOUBLE - c.centroid[i])::FLOAT) AS rs
         |  FROM ma JOIN c ON ma.c_label = c.c_label),
         |msubd AS (SELECT vec_id, s, $mslice AS v, ${dot(mslice, mslice)} AS vv
         |  FROM mresid CROSS JOIN (SELECT unnest(range(0, $PqM)) AS s)),
         |menc AS (SELECT vec_id, s, cid FROM (
         |  SELECT b.vec_id, b.s, c.cid, $dEnc AS d, row_number() OVER (
         |    PARTITION BY b.vec_id, b.s ORDER BY $dEnc, c.cid) AS rn
         |  FROM msubd b JOIN c$PqIters c ON c.s = b.s) WHERE rn = 1),""".stripMargin
    pqIndexProbeSqlWith(extra,
      """SELECT vec_id, label, embedding, c_label FROM a
        |  UNION ALL SELECT vec_id, label, embedding, c_label FROM ma""".stripMargin,
      """SELECT vec_id, s, cid FROM enc
        |  UNION ALL SELECT vec_id, s, cid FROM menc""".stripMargin)
  }

  /** q148's oracle: the probe over the SURVIVING rows only — the fit
    * (and therefore `enc`) still runs on the full original corpus, the
    * codebook being frozen at build time. */
  val pqIndexForgetSql: String = pqIndexProbeSqlWith("",
    "SELECT vec_id, label, embedding, c_label FROM a WHERE vec_id % 40 <> 0",
    "SELECT vec_id, s, cid FROM enc")

  /** q149's oracle: the fit's own distortion recomputed from scratch —
    * per-row Σ_s d at the argmin cid (s-ascending fold, micro-quantized
    * per row, long-averaged), reported as BOTH d_build and d_now: on a
    * fresh index the stored-artifact reconstruction must reproduce the
    * fit's number bit-for-bit, and the refit dials read not-due. */
  val pqIndexDistortionSql: String =
    s"""WITH ${pqOracleHeadSql("")},
       |rowd AS (SELECT vec_id,
       |    floor(list_reduce(list_prepend(0.0::DOUBLE, list(d ORDER BY s)),
       |      (p, q) -> p + q) * 1e6 + 0.5)::BIGINT AS micro
       |  FROM enc GROUP BY vec_id),
       |ag AS (SELECT COUNT(*)::BIGINT AS n_rows,
       |    floor(SUM(micro)::DOUBLE / COUNT(*) + 0.5)::BIGINT AS dm FROM rowd)
       |SELECT n_rows, dm / 1e6 AS d_build, dm / 1e6 AS d_now,
       |  (n_rows >= (2.0 * n_rows)::BIGINT AND dm::DOUBLE >= 1.5 * dm) AS refit_due
       |FROM ag""".stripMargin

  /** q150's oracle: the full probe where the WHOLE chain — coarse
    * assignment population, residuals, the PQ fit itself, encodings —
    * runs on the survivors, mirroring the engine's refit-on-live
    * rebuild (seeded by the same md5 rule over the same id set). */
  val pqIndexRefitSql: String = pqIndexProbeSqlWith("",
    "SELECT vec_id, label, embedding, c_label FROM a",
    "SELECT vec_id, s, cid FROM enc",
    aFilter = " AND vec_id % 40 <> 0")

  val pqIndexBuildSql: String =
    "SELECT COUNT(*)::BIGINT AS n_index_rows FROM embeddings"

  // ---------------------------------------------------------------------
  // q127 — LATE-INTERACTION (MaxSim) RETRIEVAL (r14): the ColBERT/PLAID
  // scoring shape — a query is a SET of vectors and a document a SET of
  // vectors; score(doc) = Σ over query vectors of the max cosine against
  // any of the doc's vectors. Single-vector retrieval (q26) collapses a
  // document to one point; late interaction keeps token-level geometry
  // and is the standard quality rung above bi-encoders. Documents are
  // modeled as 8-vector groups (doc_id = vec_id div 8); the query is doc
  // 0's own vector set, and a planted perturbed copy of doc 0 (at doc_id
  // 100000) must rank first with score ≈ |Q| — organic docs top out far
  // below (random 64-dim maxes). Determinism: per-(doc, q) maxes are
  // maxes over identical doubles; the per-doc SUM of 8 maxes is
  // micro-quantized to exact longs BEFORE summing (order-free, the q84
  // inertia discipline), and the top-10 orders by the exact long.
  //
  // Scale shape (100 TB): the query set is a one-row broadcast; the
  // corpus is scanned once, per-row work is |Q| fused dots; the ONLY
  // keyed exchange carries (doc, q)-granular partial maxes (map-side
  // combined — the per-vector cos stream never crosses), then a
  // doc-granular sum; top-10 is TakeOrdered. The ANN-prefiltered
  // variant (PLAID: route query vectors through q38/q126's index to
  // shortlist docs, MaxSim only the shortlist) is the q26→q27 dial.
  // ---------------------------------------------------------------------

  def maxSimRetrieval(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    val planted = base.filter(col("vec_id") < 8)
      .selectExpr("vec_id + 800000 as vec_id",
        "zip_with(e, sequence(0, 63), (x, i) -> x + 0.001 * cast(i % 3 as double)) as e")
    val corpus = base.unionAll(planted)
      .selectExpr("vec_id div 8 as doc_id", "e",
        s"sqrt(${dotExpr("e", "e")}) as nrm")
    val query = base.filter(col("vec_id") < 8)
      .selectExpr("vec_id as qi", "e as qe", s"sqrt(${dotExpr("e", "e")}) as qn")
      .agg(sort_array(collect_list(struct(col("qi"), col("qe"), col("qn")))).as("qs"))
    corpus.filter(col("doc_id") =!= 0)
      .crossJoin(broadcast(query))
      .selectExpr("doc_id", "explode(qs) as q", "e", "nrm")
      .selectExpr("doc_id", "q.qi as qi",
        s"${dotExpr("e", "q.qe")} / (nrm * q.qn) as cos")
      .groupBy("doc_id", "qi").agg(max(col("cos")).as("mc"))
      .groupBy("doc_id")
      .agg(sum(floor(col("mc") * 1e6 + 0.5).cast("long")).as("micro"))
      .orderBy(col("micro").desc, col("doc_id")).limit(10)
      .selectExpr("doc_id", "micro / 1e6 as maxsim")
  }

  val maxSimRetrievalSql: String = {
    val dot = dotSqlDuck("c.e", "q.qe")
    s"""WITH base AS (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
       |corpus AS (SELECT vec_id, e FROM base
       |  UNION ALL SELECT vec_id + 800000,
       |    list_transform(range(1, len(e) + 1), i -> e[i] + 0.001 * ((i - 1) % 3)::DOUBLE)
       |  FROM base WHERE vec_id < 8),
       |cd AS (SELECT vec_id // 8 AS doc_id, e, sqrt(${dotSqlDuck("e", "e")}) AS nrm
       |  FROM corpus),
       |q AS (SELECT vec_id AS qi, e AS qe, sqrt(${dotSqlDuck("e", "e")}) AS qn
       |  FROM base WHERE vec_id < 8),
       |sc AS (SELECT c.doc_id, q.qi, MAX(($dot) / (c.nrm * q.qn)) AS mc
       |  FROM cd c CROSS JOIN q WHERE c.doc_id <> 0 GROUP BY 1, 2),
       |ag AS (SELECT doc_id, SUM(floor(mc * 1e6 + 0.5)::BIGINT)::BIGINT AS micro
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, micro / 1e6 AS maxsim
       |FROM ag ORDER BY micro DESC, doc_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q128 — MATRYOSHKA-TRUNCATION RETRIEVAL AUDIT (r14): the trust-audit
  // discipline (q79–q83) applied to DIMENSION truncation — MRL-style
  // embeddings let a pipeline rank with a 16-dim prefix (4× cheaper
  // dots, 4× smaller resident index) and re-rank survivors at full
  // width; whether that's safe is a MEASURED recall, not an assumption.
  // Both rankings run the exact q26 contract (cos desc, vec_id ties)
  // from ONE corpus scan computing both cosines; the top-20 frames get
  // ranks via the q56 post-limit single-partition window (20 rows), and
  // the report is |full top-k ∩ prefix top-k| for k = 5/10/20 —
  // non-decreasing in k by construction (nested prefixes), spec-pinned.
  // A planted EXACT copy of the query (id 900000) scores cos = 1 in
  // both spaces, so it anchors rank 1 of both rankings structurally —
  // the overlap is never vacuously zero and the anchor proves both
  // rankings share their head.
  //
  // Scale shape (100 TB): one corpus scan, two fused dots per row, two
  // TakeOrdered top-20s (per-partition heaps) — no corpus-keyed
  // exchange anywhere; everything after the limits is 20-row work.
  // ---------------------------------------------------------------------

  def mrlAudit(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    val corpus = base.unionAll(
      base.filter(col("vec_id") === 0).selectExpr("900000 as vec_id", "e"))
    val scored0 = corpus
      .selectExpr("vec_id", "e", "slice(e, 1, 16) as p")
    val query = scored0.filter(col("vec_id") === 0)
      .selectExpr("e as qe", "p as qp",
        s"sqrt(${dotExpr("e", "e")}) as qn", s"sqrt(${dotExpr("p", "p")}) as qpn")
    val scored = scored0.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(query))
      .selectExpr("vec_id",
        s"${dotExpr("e", "qe")} / (sqrt(${dotExpr("e", "e")}) * qn) as cf",
        s"${dotExpr("p", "qp")} / (sqrt(${dotExpr("p", "p")}) * qpn) as cp")
      .transform(Tables.maybePersist) // feeds both top-20 branches
    def top(cCol: String, rank: String) = scored
      .orderBy(col(cCol).desc, col("vec_id")).limit(20)
      // single-partition window over 20 rows only (the q56 idiom)
      .withColumn(rank,
        row_number().over(Window.orderBy(col(cCol).desc, col("vec_id"))))
      .select(col("vec_id"), col(rank))
    val joined = top("cf", "rf").join(top("cp", "rp"), Seq("vec_id"))
    val ks = s.createDataFrame(Seq(Tuple1(5), Tuple1(10), Tuple1(20))).toDF("k")
    joined.crossJoin(broadcast(ks))
      .filter(col("rf") <= col("k") && col("rp") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("overlap"))
      .selectExpr("k", "overlap",
        "floor(cast(overlap as double) * 1e6 / cast(k as double) + 0.5) / 1e6 as recall")
      .orderBy("k")
  }

  val mrlAuditSql: String = {
    def dot(a: String, b: String) = dotSqlDuck(a, b)
    s"""WITH base AS (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
       |corpus AS (SELECT vec_id, e FROM base
       |  UNION ALL SELECT 900000, e FROM base WHERE vec_id = 0),
       |s0 AS (SELECT vec_id, e, e[1:16] AS p FROM corpus),
       |q AS (SELECT e AS qe, p AS qp, sqrt(${dot("e", "e")}) AS qn,
       |  sqrt(${dot("p", "p")}) AS qpn FROM s0 WHERE vec_id = 0),
       |sc AS (SELECT vec_id,
       |    (${dot("e", "qe")}) / (sqrt(${dot("e", "e")}) * qn) AS cf,
       |    (${dot("p", "qp")}) / (sqrt(${dot("p", "p")}) * qpn) AS cp
       |  FROM s0, q WHERE vec_id <> 0),
       |tf AS (SELECT vec_id, row_number() OVER (ORDER BY cf DESC, vec_id) AS rf
       |  FROM sc ORDER BY cf DESC, vec_id LIMIT 20),
       |tp AS (SELECT vec_id, row_number() OVER (ORDER BY cp DESC, vec_id) AS rp
       |  FROM sc ORDER BY cp DESC, vec_id LIMIT 20),
       |j AS (SELECT tf.vec_id, rf, rp FROM tf JOIN tp ON tf.vec_id = tp.vec_id),
       |ks AS (SELECT unnest([5, 10, 20]) AS k)
       |SELECT k, COUNT(*)::BIGINT AS overlap,
       |  floor(COUNT(*)::DOUBLE * 1e6 / k::DOUBLE + 0.5) / 1e6 AS recall
       |FROM j CROSS JOIN ks WHERE rf <= k AND rp <= k
       |GROUP BY k ORDER BY k""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q130 — RECIPROCAL-RANK FUSION (r14): the ensemble-retrieval
  // primitive hybrid stacks ship (Cormack et al.'s RRF; every
  // BM25+vector "hybrid search" product uses this exact fold) — fuse
  // the engine's three vector rankings for query 0 (q26 exact top-20,
  // q27 LSH bucket top-20, q38 IVF cell top-20) by
  // score(v) = Σ_lists 1/(60 + rank_list(v)): rank-based, so the three
  // incomparable score scales (exact cosine, bucket-local cosine,
  // cell-local cosine) need no calibration, and a candidate surfaced by
  // several views beats a slightly-higher single-view one. Each 1/(60+r)
  // term micro-quantizes to an exact long (pure integer-derived
  // rational, identical both engines) BEFORE the per-candidate sum;
  // top-10 orders by the exact long. n_lists is reported so the fusion
  // is auditable per row.
  //
  // Scale shape (100 TB): all three rankings share ONE scan of the
  // LSH-annotated corpus (+ the q38 assignment chain, pinned at q38);
  // each is TakeOrdered top-20 then a 20-row post-limit window (the q56
  // idiom); the fusion unions three ≤20-row frames — every operation
  // after the heads is constant-size.
  // ---------------------------------------------------------------------

  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    val emb = withLsh(s, d).transform(Tables.maybePersist) // feeds exact AND lsh heads
    val q = emb.filter(col("vec_id") === 0)
      .selectExpr("embedding as qe", "nrm as qn", "bucket as qb")
    def rankHead(scored: DataFrame) = scored
      .orderBy(col("cos").desc, col("vec_id")).limit(20)
      // single-partition window over 20 rows only (the q56 idiom)
      .withColumn("rank", row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
      .select("vec_id", "rank")
    val scoredAll = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .selectExpr("vec_id", "bucket", "qb",
        s"${dotExpr("embedding", "qe")} / (nrm * qn) as cos")
      .transform(Tables.maybePersist) // feeds the exact AND bucket heads
    val exact = rankHead(scoredAll.select("vec_id", "cos"))
    val lsh = rankHead(scoredAll.filter(col("bucket") === col("qb")).select("vec_id", "cos"))
    val assigned = ivfAssigned(s, d).transform(Tables.maybePersist)
    val qc = assigned.filter(col("vec_id") === 0)
      .selectExpr("embedding as qe", s"sqrt(${dotExpr("embedding", "embedding")}) as qn",
        "c_label as q_cell")
    val ivf = rankHead(assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(qc), col("c_label") === col("q_cell"))
      .selectExpr("vec_id",
        s"${dotExpr("embedding", "qe")} / (sqrt(${dotExpr("embedding", "embedding")}) * qn) as cos"))
    exact.unionAll(lsh).unionAll(ivf)
      .selectExpr("vec_id",
        "cast(floor(1e6 / (60 + rank) + 0.5) as bigint) as micro")
      .groupBy("vec_id")
      .agg(sum(col("micro")).as("micro"), count(lit(1)).as("n_lists"))
      .orderBy(col("micro").desc, col("vec_id")).limit(10)
      .selectExpr("vec_id", "n_lists", "micro / 1e6 as rrf")
  }

  val rrfFusionSql: String = {
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    s"""WITH b AS (SELECT vec_id, label, embedding,
       |  sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm,
       |  ${bucketSqlDuck("embedding")} AS bucket FROM embeddings),
       |qv AS (SELECT embedding AS qe, nrm AS qn, bucket AS qb FROM b WHERE vec_id = 0),
       |sc AS (SELECT e.vec_id, e.bucket, q.qb,
       |    (${dotSqlDuck("e.embedding", "q.qe")}) / (e.nrm * q.qn) AS cos
       |  FROM b e, qv q WHERE e.vec_id <> 0),
       |exact AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
       |  FROM sc ORDER BY cos DESC, vec_id LIMIT 20),
       |lsh AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
       |  FROM sc WHERE bucket = qb ORDER BY cos DESC, vec_id LIMIT 20),
       |d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dotSqlDuck("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |a AS (SELECT vec_id, embedding, c_label FROM asg WHERE rn = 1),
       |qc AS (SELECT embedding AS qe,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS qn, c_label AS q_cell
       |  FROM a WHERE vec_id = 0),
       |ivf AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank FROM (
       |  SELECT a.vec_id,
       |      (${dotSqlDuck("a.embedding", "q.qe")})
       |      / (sqrt(${dotSqlDuck("a.embedding", "a.embedding")}) * q.qn) AS cos
       |    FROM a JOIN qc q ON a.c_label = q.q_cell WHERE a.vec_id <> 0)
       |  ORDER BY cos DESC, vec_id LIMIT 20),
       |u AS (SELECT vec_id, rank FROM exact
       |  UNION ALL SELECT vec_id, rank FROM lsh
       |  UNION ALL SELECT vec_id, rank FROM ivf),
       |ag AS (SELECT vec_id,
       |    SUM(CAST(floor(1e6 / (60 + rank) + 0.5) AS BIGINT))::BIGINT AS micro,
       |    COUNT(*)::BIGINT AS n_lists
       |  FROM u GROUP BY vec_id)
       |SELECT vec_id, n_lists, micro / 1e6 AS rrf
       |FROM ag ORDER BY micro DESC, vec_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q131 — HYBRID BM25 + VECTOR FUSION (r15): the fusion every hybrid-
  // search product actually ships — q130 fused three VECTOR views of one
  // query; the production stack fuses the LEXICAL ranking (q129's BM25,
  // its corpus-derived 3-term query) with the DENSE ranking (q26's exact
  // cosine top-k for the same item's embedding — documents and
  // embeddings share the id space, so item 0's info need has both a
  // text and a vector form). Same RRF fold as q130: each 1/(60+rank)
  // micro-quantizes to an exact long before the per-item sum; top-10
  // orders by the exact long; n_lists exposes which items both modes
  // surfaced. Rank-based fusion is exactly what makes the two
  // incomparable score scales (BM25 sum vs cosine) composable with no
  // calibration.
  //
  // Scale shape (100 TB): the lexical head is q129's shape (two corpus-
  // keyed exchanges off one persisted token frame, 3-row broadcast
  // scoring, TakeOrdered top-10), the dense head q26's (one scan,
  // broadcast query row, TakeOrdered); the fusion unions two ≤10-row
  // frames — constant-size past the heads.
  // ---------------------------------------------------------------------

  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    // lexical head: q129's top-10; bm25 = micro/1e6, so ranking by it
    // is the exact-integer ordering (10-row post-limit window)
    val lex = TextAnalysis.bm25(s, d)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
      .selectExpr("doc_id as item_id", "rank")
    // dense head: q26's exact top-20, cut to the same depth 10 (rank
    // over the micro-quantized cosine — the oracle's own column)
    val vec = cosineTopK(s, d)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= 10)
      .selectExpr("vec_id as item_id", "rank")
    lex.unionAll(vec)
      .selectExpr("item_id", "cast(floor(1e6 / (60 + rank) + 0.5) as bigint) as micro")
      .groupBy("item_id")
      .agg(sum(col("micro")).as("micro"), count(lit(1)).as("n_lists"))
      .orderBy(col("micro").desc, col("item_id")).limit(10)
      .selectExpr("item_id", "n_lists", "micro / 1e6 as rrf")
  }

  val hybridRrfSql: String = {
    val dot = dotSqlDuck("e.embedding", "q.embedding")
    val nrm = dotSqlDuck("e.embedding", "e.embedding")
    val qn  = dotSqlDuck("q.embedding", "q.embedding")
    s"""WITH ${TextAnalysis.bm25CtesSql},
       |lex AS (SELECT doc_id AS item_id,
       |    row_number() OVER (ORDER BY micro DESC, doc_id) AS rank
       |  FROM ag ORDER BY micro DESC, doc_id LIMIT 10),
       |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |cs AS (SELECT e.vec_id, ($dot) / (sqrt($nrm) * sqrt($qn)) AS cos
       |  FROM embeddings e, qv q WHERE e.vec_id <> 0),
       |ct AS (SELECT vec_id, floor((cos) * 1e6 + 0.5) / 1e6 AS cosine
       |  FROM cs ORDER BY cos DESC, vec_id LIMIT 20),
       |vec AS (SELECT item_id, rank FROM (
       |    SELECT vec_id AS item_id,
       |      row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank FROM ct)
       |  WHERE rank <= 10),
       |u AS (SELECT item_id, rank FROM lex UNION ALL SELECT item_id, rank FROM vec),
       |fg AS (SELECT item_id,
       |    SUM(CAST(floor(1e6 / (60 + rank) + 0.5) AS BIGINT))::BIGINT AS micro,
       |    COUNT(*)::BIGINT AS n_lists
       |  FROM u GROUP BY item_id)
       |SELECT item_id, n_lists, micro / 1e6 AS rrf
       |FROM fg ORDER BY micro DESC, item_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q133 — HYBRID SEARCH FROM STANDING INDEXES (r15): the q131 fusion
  // re-expressed the way a production stack actually SERVES it — both
  // heads read standing artifacts, nothing re-derives from the corpus:
  // the lexical ranking probes the q132 inverted index (bucket-pruned
  // postings scan), the dense ranking probes the q119 ANN index (the
  // request routes via the index's own stored row — the indexed copy of
  // the query item carries its cell — and the ranking scans ONLY that
  // cell's partition, a literal partition filter). No self-exclusion:
  // an external request ranks whatever the index holds, so the indexed
  // copy of the query item surfaces at cos ≈ 1 — rank-1 by design, the
  // behavior a deduplicating search frontend wants visible. The fusion
  // is q131's exact-long RRF fold.
  //
  // Scale shape (100 TB): the lexical head touches ≤3 of 16 postings
  // buckets + two tiny tables; the dense head touches ONE cell
  // partition (~1/k of the corpus) after a 1-row lookup; the fusion
  // unions two ≤10-row frames. Nothing tokenizes, embeds, or scans the
  // corpus itself — the whole probe is index-artifact I/O.
  // ---------------------------------------------------------------------

  def hybridIndexProbe(s: SparkSession, d: String,
                       lexPath: String, annPath: String): DataFrame = {
    withFns(s)
    val lex = TextAnalysis.lexIndexProbeStored(s, d, lexPath)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
      .selectExpr("doc_id as item_id", "rank")
    // the request: item 0's embedding. Its INDEXED row carries its cell
    // — the 1-row lookup is the routing (no centroid math at probe
    // time), and the cell value becomes a literal partition filter.
    // Version-resolved ONCE and read live (minus tombstones) — the
    // q119-family read discipline (r19).
    val assignments = liveAssignments(s, IndexLifecycle.resolveIndexRoot(s, annPath))
    val qRow = assignments.filter(col("vec_id") === 0)
      .selectExpr("embedding as qe", "nrm as qn", "c_label as q_cell")
      .transform(Tables.maybePersist)
    val qCell = qRow.select("q_cell").collect()(0).get(0)
    val vec = assignments
      .filter(col("c_label") === lit(qCell))
      .crossJoin(broadcast(qRow))
      .selectExpr("vec_id", s"${dotExpr("embedding", "qe")} / (nrm * qn) as cos")
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .selectExpr("vec_id as item_id", "rank")
    lex.unionAll(vec)
      .selectExpr("item_id", "cast(floor(1e6 / (60 + rank) + 0.5) as bigint) as micro")
      .groupBy("item_id")
      .agg(sum(col("micro")).as("micro"), count(lit(1)).as("n_lists"))
      .orderBy(col("micro").desc, col("item_id")).limit(10)
      .selectExpr("item_id", "n_lists", "micro / 1e6 as rrf")
  }

  val hybridIndexProbeSql: String = {
    val dotEC =
      """list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
        |i -> e.embedding[i]::DOUBLE * c.centroid[i])), (p_, q_) -> p_ + q_)""".stripMargin.replace("\n", " ")
    val normC =
      """sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.centroid) + 1),
        |i -> c.centroid[i] * c.centroid[i])), (p_, q_) -> p_ + q_))""".stripMargin.replace("\n", " ")
    s"""WITH ${TextAnalysis.bm25CtesSql},
       |lex AS (SELECT doc_id AS item_id,
       |    row_number() OVER (ORDER BY micro DESC, doc_id) AS rank
       |  FROM ag ORDER BY micro DESC, doc_id LIMIT 10),
       |d AS (SELECT label, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS v
       |  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |s AS (SELECT label, dim, CAST(SUM(CAST(v AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS cv
       |  FROM d GROUP BY label, dim),
       |c AS (SELECT label AS c_label, list(cv ORDER BY dim) AS centroid
       |  FROM s GROUP BY label),
       |asg AS (SELECT vec_id, embedding, c_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY
       |    ($dotEC) / (sqrt(${dotSqlDuck("e.embedding", "e.embedding")}) * $normC) DESC,
       |    c_label) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |a AS (SELECT vec_id, embedding, c_label,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm FROM asg WHERE rn = 1),
       |qc AS (SELECT embedding AS qe, nrm AS qn, c_label AS q_cell FROM a WHERE vec_id = 0),
       |vec AS (SELECT vec_id AS item_id,
       |    row_number() OVER (ORDER BY cos DESC, vec_id) AS rank FROM (
       |    SELECT a.vec_id, (${dotSqlDuck("a.embedding", "q.qe")}) / (a.nrm * q.qn) AS cos
       |      FROM a JOIN qc q ON a.c_label = q.q_cell)
       |  ORDER BY cos DESC, vec_id LIMIT 10),
       |u AS (SELECT item_id, rank FROM lex UNION ALL SELECT item_id, rank FROM vec),
       |fg AS (SELECT item_id,
       |    SUM(CAST(floor(1e6 / (60 + rank) + 0.5) AS BIGINT))::BIGINT AS micro,
       |    COUNT(*)::BIGINT AS n_lists
       |  FROM u GROUP BY item_id)
       |SELECT item_id, n_lists, micro / 1e6 AS rrf
       |FROM fg ORDER BY micro DESC, item_id LIMIT 10""".stripMargin
  }

  /** A fitted PQ codebook cell: subspace s, code cid, centroid, self-dot. */
  case class PqCell(s: Int, cid: Int, c: Array[Double], cc: Double)

  /** Fit the q112 codebook and collect it (m·k sub-dim centroids —
    * always driver-sized), for the online encode leg. */
  def fitPqCells(s: SparkSession, d: String): Array[PqCell] = {
    import s.implicits._
    val (corpus, cells) = pqFitFrames(s, d)
    val out = cells.selectExpr("explode(cells) as x")
      .selectExpr("x.s", "x.cid", "x.c", "x.cc")
      .as[(Int, Int, Array[Double], Double)]
      .collect().sortBy(t => (t._1, t._2))
      .map { case (sx, cid, c, cc) => PqCell(sx, cid, c, cc) }
    corpus.unpersist(blocking = false)
    out
  }

  /** The batch encode route verbatim (q112's expressions), exposed for
    * the online-lockstep spec: (vec_id, codes, qd). */
  private[graft] def pqEncodeBatch(s: SparkSession, d: String): DataFrame = {
    val (corpus, cells) = pqFitFrames(s, d)
    corpus.crossJoin(broadcast(cells))
      .selectExpr("vec_id", "subs", pqBestExpr)
      .selectExpr("vec_id",
        "transform(best, x -> x.cid) as codes",
        "aggregate(best, cast(0.0 as double), (acc, x) -> acc + x.d) as qd")
  }

  /** q112's encode as a stateless per-row transform (the
    * kmeansAssignVerdict discipline): PQ codes + quantization distortion
    * for any (vec_id, embedding) frame, batch or streaming, against an
    * offline-fitted codebook. Arithmetic mirrors [[pqBestExpr]]
    * operation-for-operation: vv and ec are ascending-index
    * float→double-widened folds over the sub-slice, d = (vv − 2·ec) + cc,
    * the ascending-cid strict-improvement scan ≡ array_min over
    * struct<d, cid>, and qd is the ascending-s fold of the per-subspace
    * minima — a vector encodes to the SAME codes online and offline
    * (spec-pinned bit-identity). */
  def pqEncodeVerdict(df: DataFrame, cells: Array[PqCell]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val bySub: Array[Array[PqCell]] =
      (0 until PqM).map(sx => cells.filter(_.s == sx).sortBy(_.cid)).toArray
    df.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          val codes = new Array[Int](PqM)
          var qd = 0.0
          var sx = 0
          while (sx < PqM) {
            val off = sx * PqSub
            var vv = 0.0
            var j = 0
            while (j < PqSub) { val x = e(off + j).toDouble; vv += x * x; j += 1 }
            var bestD = Double.PositiveInfinity
            var bestC = Int.MaxValue
            val cs = bySub(sx)
            var p = 0
            while (p < cs.length) {
              val cell = cs(p)
              var ec = 0.0
              j = 0
              while (j < PqSub) { ec += e(off + j).toDouble * cell.c(j); j += 1 }
              val dd = (vv - (2 * ec)) + cell.cc
              if (dd < bestD) { bestD = dd; bestC = cell.cid }
              p += 1
            }
            codes(sx) = bestC
            qd += bestD
            sx += 1
          }
          (id, codes, qd)
        }
      }
      .toDF("vec_id", "codes", "qd")
  }

  // ---------------------------------------------------------------------
  // q121 — SEMANTIC DECONTAMINATION (r14): the embedding-space member of
  // the decontamination family — exact (q48), Bloom (q66) and fuzzy
  // MinHash (q85) all key on TEXT, so a paraphrased benchmark item
  // (reworded prompt, translated answer) sails through every one of
  // them. The semantic leg screens the corpus against the benchmark
  // suite in EMBEDDING space: deny = the benchmark embeddings (modeled
  // as the q85 deny-slice discipline, vec_id % 20 = 0 — eval-suite-sized
  // BY CONSTRUCTION), corpus = all vectors plus a planted paraphrase
  // twin per deny row (the q32 perturbation, id+10000), verdict = max
  // cosine over the deny set ≥ 0.95. Fixture separation is wide: clean
  // rows top out at maxcos ≈ 0.49, paraphrase twins sit ≥ 0.994, exact
  // members at 1.0 — the threshold is not a knife edge.
  //
  // Scale shape (100 TB): the deny side is the benchmark suite —
  // thousands of rows, broadcast once (the classifier-weights
  // contract). The corpus crossJoins the BROADCAST deny frame and the
  // per-vector max collapses in the partial aggregate, so the expanded
  // (row × deny) stream never crosses an exchange: ONE corpus scan,
  // O(|deny|·d) fused dot work per row, then an n-row map-side-combined
  // max and a 3-row slice rollup. No shuffle keyed on the corpus at
  // all. Cross-engine: graft_dot is the ascending float→double fold ≡
  // the oracle's list_reduce; max over bit-identical doubles is
  // order-free; the 0.95 compare precedes any rounding on BOTH sides.
  // ---------------------------------------------------------------------

  /** The q121 deny frame: benchmark embeddings + norms (the q85
    * deny-slice discipline — eval-suite-sized by construction; the
    * `< 10000` bound pins the suite to the base copy under scale
    * replicas, the production fixed-eval-vs-growing-corpus shape, and
    * is a no-op at both fixture scales). */
  private def semDenyFrame(base: DataFrame): DataFrame =
    base.filter(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      .selectExpr("vec_id as deny_id", "e as de",
        s"sqrt(${dotExpr("e", "e")}) as dn")

  /** The q121 corpus: every vector plus a planted paraphrase twin per
    * deny row (the q32 perturbation, id+10000). */
  private[graft] def semDecontamCorpus(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    base.unionAll(
      semDenyFrame(base).selectExpr("deny_id + 10000 as vec_id",
        "zip_with(de, sequence(0, 63), (x, i) -> x + 0.01 * cast(i % 3 as double)) as e"))
  }

  /** Per-vector max deny cosine — the q121 screening frame, shared by
    * the batch rollup and the online-vs-batch lockstep spec. */
  private[graft] def semDecontamMax(s: SparkSession, d: String): DataFrame = {
    withFns(s)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    semDecontamCorpus(s, d)
      .selectExpr("vec_id", "e", s"sqrt(${dotExpr("e", "e")}) as nrm")
      .crossJoin(broadcast(semDenyFrame(base)))
      .selectExpr("vec_id", s"${dotExpr("e", "de")} / (nrm * dn) as cos")
      .groupBy("vec_id")
      .agg(max(col("cos")).as("maxcos"))
  }

  def semDecontaminate(s: SparkSession, d: String): DataFrame = {
    semDecontamMax(s, d).selectExpr(
        "case when vec_id >= 10000 and vec_id < 20000 then 'twin' " +
          "when vec_id % 20 = 0 and vec_id < 10000 then 'exact' " +
          "else 'clean' end as slice",
        "maxcos")
      .groupBy("slice")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("maxcos") >= 0.95, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("maxcos") < 0.95, 1L).otherwise(0L)).as("n_kept"),
        expr("floor(min(maxcos) * 1e6 + 0.5) / 1e6").as("min_maxcos"),
        expr("floor(max(maxcos) * 1e6 + 0.5) / 1e6").as("max_maxcos"))
      .orderBy("slice")
  }

  val semDecontaminateSql: String =
    s"""WITH base AS (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
       |deny AS (SELECT vec_id AS deny_id, e AS de,
       |  sqrt(${dotSqlDuck("e", "e")}) AS dn FROM base
       |  WHERE vec_id % 20 = 0 AND vec_id < 10000),
       |corpus AS (SELECT vec_id, e FROM base
       |  UNION ALL SELECT deny_id + 10000,
       |    list_transform(range(1, len(de) + 1), i -> de[i] + 0.01 * ((i - 1) % 3)::DOUBLE)
       |  FROM deny),
       |c AS (SELECT vec_id, e, sqrt(${dotSqlDuck("e", "e")}) AS nrm FROM corpus),
       |mx AS (SELECT c.vec_id, max((${dotSqlDuck("c.e", "de")}) / (c.nrm * dn)) AS maxcos
       |  FROM c CROSS JOIN deny GROUP BY c.vec_id)
       |SELECT CASE WHEN vec_id >= 10000 AND vec_id < 20000 THEN 'twin'
       |            WHEN vec_id % 20 = 0 AND vec_id < 10000 THEN 'exact'
       |            ELSE 'clean' END AS slice,
       |  COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN maxcos >= 0.95 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |  SUM(CASE WHEN maxcos < 0.95 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  floor(min(maxcos) * 1e6 + 0.5) / 1e6 AS min_maxcos,
       |  floor(max(maxcos) * 1e6 + 0.5) / 1e6 AS max_maxcos
       |FROM mx GROUP BY 1 ORDER BY 1""".stripMargin

  /** The fitted q121 deny matrix: (deny_id, embedding, norm) of the
    * benchmark suite — eval-suite-sized BY CONSTRUCTION, so always
    * driver/closure-sized (the classifier-weights / q85 DenyIndex
    * contract). Fit once offline, ship to any batch or streaming job. */
  def fitSemDenyMatrix(s: SparkSession, d: String): Array[(Long, Array[Double], Double)] = {
    import s.implicits._
    withFns(s)
    val base = Tables.embeddings(s, d)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
    semDenyFrame(base)
      .as[(Long, Array[Double], Double)]
      .collect()
      .sortBy(_._1)
  }

  /** q121's screen as a stateless per-row transform (the
    * classifierVerdict / fuzzyDecontamVerdict discipline) — route any
    * batch or streaming (vec_id, e: array<double>) frame against an
    * offline-fitted deny matrix. The cosine is the same ascending-index
    * double fold as the batch chain's codegen'd graft_dot and max over
    * identical doubles is order-free, so a vector drops online iff it
    * drops in the batch q121 (spec-pinned lockstep). */
  def semDecontamVerdict(df: DataFrame,
                         deny: Array[(Long, Array[Double], Double)]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("vec_id").cast("long"), col("e"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          var d2 = 0.0
          var i = 0
          while (i < e.length) { d2 += e(i) * e(i); i += 1 }
          val nrm = math.sqrt(d2)
          var maxcos = Double.NegativeInfinity
          var k = 0
          while (k < deny.length) {
            val (_, de, dn) = deny(k)
            var dot = 0.0
            var j = 0
            while (j < e.length) { dot += e(j) * de(j); j += 1 }
            val c = dot / (nrm * dn)
            if (c > maxcos) maxcos = c
            k += 1
          }
          (id, maxcos, maxcos >= 0.95)
        }
      }
      .toDF("vec_id", "maxcos", "hit")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q26_cosine_topk"     -> ((s, d) => cosineTopK(s, d)),
    "q27_ann_lsh"         -> ((s, d) => annLsh(s, d)),
    "q28_label_centroids" -> ((s, d) => labelCentroids(s, d)),
    "q38_ivf_search"      -> ((s, d) => ivfSearch(s, d)),
    "q47_int8_quantize"   -> ((s, d) => int8Quantize(s, d)),
    "q75_semdedup"        -> ((s, d) => semDedup(s, d)),
    "q80_semdedup_audit"  -> ((s, d) => semDedupAudit(s, d)),
    "q81_ann_audit"       -> ((s, d) => annAudit(s, d)),
    "q82_ann_multiprobe"  -> ((s, d) => annMultiProbe(s, d)),
    "q83_multiprobe_audit" -> ((s, d) => annMultiProbeAudit(s, d)),
    "q84_kmeans"          -> ((s, d) => kmeansClusters(s, d)),
    "q86_ivf_probe2"      -> ((s, d) => ivfSearchProbe2(s, d)),
    "q87_int8_search"     -> ((s, d) => int8Search(s, d)),
    "q88_cluster_mix"     -> ((s, d) => clusterBalancedMix(s, d)),
    "q91_hard_negatives"  -> ((s, d) => hardNegatives(s, d)),
    "q92_pca_power"       -> ((s, d) => pcaPower(s, d)),
    "q98_jl_distortion"   -> ((s, d) => jlDistortion(s, d)),
    "q106_pca_deflation"  -> ((s, d) => pcaTop2(s, d)),
    "q108_pca_topm"       -> ((s, d) => pcaTopM(s, d)),
    "q109_pca_whitening"  -> ((s, d) => pcaWhitenAudit(s, d)),
    "q112_pq_search"      -> ((s, d) => pqSearch(s, d)),
    "q115_ivfpq_search"   -> ((s, d) => ivfPqSearch(s, d)),
    "q116_pq_resid_audit" -> ((s, d) => pqResidualAudit(s, d)),
    "q118_knn_graph"      -> ((s, d) => knnGraph(s, d)),
    // q119 probes the standing artifact (built lazily once per process —
    // the q102 gate pattern); q119b is the once-per-life build
    "q119_incremental_ann" -> ((s, d) => {
      val path = annIndexPathFor(d)
      if (!IndexLifecycle.exists(s, annFamily, path))
        buildAnnIndex(s, d, path)
      incrementalAnnStored(s, d, path)
    }),
    "q119b_ann_index_build" -> ((s, d) => {
      import s.implicits._
      Seq(buildAnnIndex(s, d, annIndexPathFor(d))).toDF("n_index_rows")
    }),
    "q120_ivfpq_probe2"   -> ((s, d) => ivfPqSearchProbe2(s, d)),
    "q121_sem_decontaminate" -> ((s, d) => semDecontaminate(s, d)),
    "q122_bitext_margin"  -> ((s, d) => bitextMine(s, d)),
    "q123_knn_density"    -> ((s, d) => knnDensityPrune(s, d)),
    "q124_centroid_outliers" -> ((s, d) => centroidOutliers(s, d)),
    "q125_embedding_drift" -> ((s, d) => embeddingDrift(s, d)),
    // q126 probes the standing compressed artifact (built lazily once
    // per process — the q119 gate pattern); q126b is the build
    "q126_pq_index_probe" -> ((s, d) => {
      val path = pqIndexPathFor(d)
      if (!IndexLifecycle.exists(s, pqFamily, path))
        buildPqIndex(s, d, path)
      pqIndexProbeStored(s, d, path)
    }),
    "q126b_pq_index_build" -> ((s, d) => {
      import s.implicits._
      Seq(buildPqIndex(s, d, pqIndexPathFor(d))).toDF("n_index_rows")
    }),
    // q147/q148 (r19b): the PQ-index lifecycle rows — frozen-codebook
    // merge and lazy right-to-be-forgotten against the standing
    // compressed artifact, certified by the full probe recomputed over
    // the updated corpus under the frozen fit
    "q147_pq_index_merge"  -> ((s, d) => pqIndexMerge(s, d)),
    "q148_pq_index_forget" -> ((s, d) => pqIndexForget(s, d)),
    // q149/q150 (r19c): the PQ distortion statistic the auto-refit acts
    // on, and the refit itself — fit-on-live equivalence via the probe
    "q149_pq_index_distortion" -> ((s, d) => pqIndexDistortionCheck(s, d)),
    "q150_pq_index_refit"      -> ((s, d) => pqIndexRefit(s, d)),
    "q127_maxsim"         -> ((s, d) => maxSimRetrieval(s, d)),
    "q128_mrl_audit"      -> ((s, d) => mrlAudit(s, d)),
    "q130_rrf_fusion"     -> ((s, d) => rrfFusion(s, d)),
    "q131_hybrid_rrf"     -> ((s, d) => hybridRrf(s, d)),
    // q134 merges the routed delta into ITS OWN index copy (lazily
    // built once per process; the merge itself is idempotent)
    "q134_ann_index_merge" -> ((s, d) =>
      mergeAnnIndex(s, d, mergeIndexPathFor(d))),
    // q135 deletes the takedown set from ITS OWN index copy (same
    // lazy-build pattern; delete + report are re-run fixed points)
    "q135_index_forget" -> ((s, d) =>
      forgetFromAnnIndex(s, d, forgetIndexPathFor(d))),
    // q140 refits the codebook on ITS OWN drifted index copy and swaps
    // in the rebuilt version (lazy; rebuild once per process; the
    // report is a pure read — re-runs are fixed points)
    "q140_ann_index_rebuild" -> ((s, d) => annIndexRebuild(s, d)),
    // q141 certifies the PRE-refit drift statistic the auto-refit acts
    // on (its own drifted index copy: build + merge, no rebuild)
    "q141_ann_drift_check" -> ((s, d) => annIndexDriftCheck(s, d)),
    // q133 probes BOTH standing indexes (each built lazily once per
    // process — the q102/q119/q126/q132 gate pattern)
    "q133_hybrid_index_probe" -> ((s, d) => {
      val lexPath = TextAnalysis.lexIndexPathFor(d)
      if (!IndexLifecycle.exists(s, TextAnalysis.lexFamily, lexPath))
        TextAnalysis.buildLexIndex(s, d, lexPath)
      val annPath = annIndexPathFor(d)
      if (!IndexLifecycle.exists(s, annFamily, annPath))
        buildAnnIndex(s, d, annPath)
      hybridIndexProbe(s, d, lexPath, annPath)
    }),
  )

  def oracle: Map[String, String] = Map(
    "q26_cosine_topk"     -> cosineTopKSql,
    "q27_ann_lsh"         -> annLshSql,
    "q28_label_centroids" -> labelCentroidsSql,
    "q38_ivf_search"      -> ivfSearchSql,
    "q47_int8_quantize"   -> int8QuantizeSql,
    "q75_semdedup"        -> semDedupSql,
    "q80_semdedup_audit"  -> semDedupAuditSql,
    "q81_ann_audit"       -> annAuditSql,
    "q82_ann_multiprobe"  -> annMultiProbeSql,
    "q83_multiprobe_audit" -> annMultiProbeAuditSql,
    "q84_kmeans"          -> kmeansClustersSql,
    "q86_ivf_probe2"      -> ivfSearchProbe2Sql,
    "q87_int8_search"     -> int8SearchSql,
    "q88_cluster_mix"     -> clusterBalancedMixSql,
    "q91_hard_negatives"  -> hardNegativesSql,
    "q92_pca_power"       -> pcaPowerSql,
    "q98_jl_distortion"   -> jlDistortionSql,
    "q106_pca_deflation"  -> pcaTop2Sql,
    "q108_pca_topm"       -> pcaTopMSql(),
    "q109_pca_whitening"  -> pcaWhitenAuditSql(),
    "q112_pq_search"      -> pqSearchSql(),
    "q115_ivfpq_search"   -> ivfPqSearchSql(),
    "q116_pq_resid_audit" -> pqResidualAuditSql(),
    "q118_knn_graph"      -> knnGraphSql,
    "q119_incremental_ann" -> incrementalAnnSql,
    "q119b_ann_index_build" -> annIndexBuildSql,
    "q120_ivfpq_probe2"   -> ivfPqSearchProbe2Sql(),
    "q121_sem_decontaminate" -> semDecontaminateSql,
    "q122_bitext_margin"  -> bitextMineSql,
    "q123_knn_density"    -> knnDensityPruneSql,
    "q124_centroid_outliers" -> centroidOutliersSql,
    "q125_embedding_drift" -> embeddingDriftSql,
    "q126_pq_index_probe" -> pqIndexProbeSql,
    "q126b_pq_index_build" -> pqIndexBuildSql,
    "q147_pq_index_merge"  -> pqIndexMergeSql,
    "q148_pq_index_forget" -> pqIndexForgetSql,
    "q149_pq_index_distortion" -> pqIndexDistortionSql,
    "q150_pq_index_refit"      -> pqIndexRefitSql,
    "q127_maxsim"         -> maxSimRetrievalSql,
    "q128_mrl_audit"      -> mrlAuditSql,
    "q130_rrf_fusion"     -> rrfFusionSql,
    "q131_hybrid_rrf"     -> hybridRrfSql,
    "q133_hybrid_index_probe" -> hybridIndexProbeSql,
    "q134_ann_index_merge" -> annIndexMergeSql,
    "q135_index_forget" -> annIndexForgetSql,
    "q140_ann_index_rebuild" -> annIndexRebuildSql,
    "q141_ann_drift_check" -> annIndexDriftCheckSql,
  )
}
