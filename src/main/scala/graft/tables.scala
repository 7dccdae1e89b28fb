package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst predicate pushdown and
  * column pruning reach the source (SURVEY.md S2/S3 — the reference
  * hand-rolls pushdown at its IMAP source, `Producer/kafkaProducer.js:92,
  * 103-106`; here it is free).
  *
  * `events.ts` is nanosecond-precision INT64 in parquet. Spark's
  * TimestampType is microsecond, so sessions run with
  * `spark.sql.legacy.parquet.nanosAsLong=true` and this loader exposes:
  *   - `ts_ns`  — raw nanos (long), total ordering key
  *   - `ts_us`  — floor(ns/1000) micros (long), matches DuckDB's read of
  *                the same file as TIMESTAMP (which truncates ns → µs)
  *   - `ts`     — TimestampType at µs, for window()/watermark operators
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    // schema via the stamp-keyed memo (r22): a plain read.parquet runs
    // a schema-inference footer job per call, and most queries load
    // 2-5 tables — the memo removes that per-action driver round-trip
    // while the stamp keeps inference authoritative if the dir changes
    IndexLifecycle.readStamped(spark, s"$dir/$name.parquet")

  /** Persist policy for corpus-scale frames that feed ≥2 consumers
    * (q23 signatures, q43 TF, q48/q49 exploded corpus, q28 centroids).
    *
    * Default `auto` = MEMORY_AND_DISK: at test scale, and whenever the
    * frame's recompute cost (md5 per shingle, corpus re-explode)
    * dominates its storage cost, caching wins. At 100 TB the trade can
    * invert — a signature frame wider than cluster storage evicts under
    * pressure and degrades to disk-spill thrash, while its upstream is
    * ONE mapPartitions pass over a columnar scan; there, recomputing
    * per consumer is the faster, and strictly more predictable, plan.
    * `spark.graft.persist=never` flips every such call site to
    * recompute without touching operator code. The knob is deliberately
    * global: per-frame tuning at that scale belongs to a cost model,
    * not scattered literals. */
  def maybePersist(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.graft.persist", "auto") == "never") df
    else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Free a localCheckpoint'ed frame's storage blocks once its last
    * reader is done (a loop's superseded round, a lifecycle call's
    * marked frame). Dataset.unpersist only covers cacheManager entries;
    * checkpoint blocks hang off the LogicalRDD's backing RDD and would
    * otherwise accumulate one generation per round (or per call) until
    * the RDD is garbage-collected — at 100 TB a label generation is
    * corpus-vertex-sized. The match is against a Spark-internal node, so
    * a miss warns loudly (and ExtensionsSpec pins that the free fires):
    * an upgrade that defeats it must not become a silent leak. */
  private[graft] def freeCheckpoint(df: DataFrame): Boolean = {
    var found = false
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        found = true
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
    if (!found)
      System.err.println(
        "[graft] freeCheckpoint: no LogicalRDD in analyzed plan - " +
          "localCheckpoint blocks will NOT be freed (Spark internals changed?)")
    found
  }

  /** Scan-parallelism floor for the fact tables: the test corpora are
    * single small parquet files (documents at sf0.1 = 0.6 MB → ONE scan
    * task, because a parquet row group is the minimum split —
    * `files.maxPartitionBytes` cannot subdivide it), which serializes
    * every per-row operator chain onto one core of local[32]. When the
    * PLANNED scan has fewer partitions than the session's parallelism,
    * hash-repartition on the table's id column up to core count — a
    * plan-time, data-independent decision. At production scale a corpus
    * plans thousands of scan tasks, the gate never fires, and the
    * corpus still never shuffles; at test scale the redistributed bytes
    * are single-digit megabytes. Hash (not round-robin) partitioning:
    * deterministic row→partition under task retry with no
    * sortBeforeRepartition local sort.
    *
    * Applied PER QUERY, not per table: the exchange only pays when
    * per-row CPU dominates the chain before its first natural exchange
    * (measured: q01 decimal aggs 1.04→0.60 s, q09 regex chain
    * 0.61→0.23 s, q42 scrub 0.66→0.21 s — while aggregate-first
    * queries like q22/q07 LOSE 0.2-0.3 s to the same fan-out, so
    * loaders stay plain scans). `spark.graft.fanout=off` disables
    * every site (FanOutSpec proves the knob and the at-scale no-op). */
  private[graft] def fanOut(df: DataFrame, key: String): DataFrame = {
    val s = df.sparkSession
    if (s.conf.get("spark.graft.fanout", "auto") == "off") df
    else {
      val cores = s.sparkContext.defaultParallelism
      // Decide from the PLANNED physical tree, never df.rdd: under AQE,
      // .rdd finalizes the adaptive plan and eagerly EXECUTES any
      // upstream exchange stages as a side effect of merely probing the
      // partition count. sparkPlan (pre-AQE, pre-EnsureRequirements) is
      // inspectable for free: an explicit repartition is already a
      // ShuffleExchange there, and a raw scan's split count comes from
      // the lazily-built FileScanRDD (driver-side file listing only, no
      // job). Inputs that already contain an exchange redistributed
      // deliberately — pass them through untouched.
      val plan = df.queryExecution.sparkPlan
      val hasExchange = plan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      if (hasExchange) df
      else {
        val planned = plan.collectLeaves().map {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.inputRDD.getNumPartitions
          // non-file leaf (local/in-memory relation): probe the LEAF's
          // own RDD, not the whole plan's — a leaf holds no exchange by
          // construction, so execute() builds lineage without running a
          // job, and in a mixed file/non-file union each leaf reports
          // its own split count instead of the plan's output count
          case leaf => leaf.execute().getNumPartitions
        }.maxOption.getOrElse(0)
        if (planned < cores) df.repartition(cores, col(key)) else df
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** events with ts exposed as (ts_ns: long, ts_us: long, ts: timestamp).
    *
    * The driver's parquet has shipped `ts` two ways across rounds:
    * INT64 TIMESTAMP(NANOS) (read as raw long under nanosAsLong — rounds
    * ≤10) and TIMESTAMP(MICROS) (reads as timestamp/timestamp_ntz —
    * round 11+). Branch on the physical type so both generations load;
    * every downstream consumer keys on µs (the oracle's precision), and
    * ts_ns stays a total-ordering key (µs·1000 under the new layout). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_us", expr("ts_ns div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      // TIMESTAMP(MICROS) reads as TIMESTAMP_NTZ in Spark 4: derive the
      // epoch micros with an NTZ-NTZ timestampdiff — tz-FREE by
      // construction (the old cast(ts as timestamp) was value-preserving
      // only because every entrypoint pins session.timeZone=UTC; an
      // embedding context that omits it would silently shift ts_us by
      // the host zone relative to the DuckDB oracle — r11 advice)
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts_us", expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
          .withColumn("ts_ns", col("ts_us") * 1000L)
          .withColumn("ts", timestamp_micros(col("ts_us")))
      // plain TimestampType: unix_micros is epoch-based — already tz-free
      case _ =>
        raw.withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("ts_ns", col("ts_us") * 1000L)
          .withColumn("ts", timestamp_micros(col("ts_us")))
    }
  }

  /** Lowercase hex of a byte array — table-driven (a formatter per byte
    * costs more than the md5 itself in the hash hot loops). */
  private val HexChars = "0123456789abcdef".toCharArray
  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      out(i * 2) = HexChars(b >>> 4)
      out(i * 2 + 1) = HexChars(b & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Sum a double column exactly: decimal accumulation (order-independent)
    * then a single cast back to double. Keeps Spark-vs-DuckDB aggregate
    * results bit-identical regardless of row order/partitioning — required
    * for the driver's hash-match oracle.
    * Oracle-side equivalent: CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE).
    */
  def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(25,6)")).cast("double")
}
