package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale audit for the r20 id-log broadcast gate: builds the standing
  * lexical index on a corpus, takes down 20% of it (a REAL
  * corpus-fraction tombstone log — under the 25% compaction dial, so
  * lazy deletion keeps the log on the read path), then times the
  * stored probe under the three gate regimes:
  *
  *  - `hinted`: the default ceilings — the log is broadcast-hinted;
  *  - `gated_aqe`: row ceiling forced to 1 (the over-ceiling regime) —
  *    the hint is dropped and the planner/AQE pick the strategy from
  *    their own size estimates (often still a broadcast at replica
  *    scale: the gate removes the FORCED collect, it does not forbid
  *    one the planner prices as safe);
  *  - `gated_smj`: over-ceiling AND `autoBroadcastJoinThreshold=-1` —
  *    the fully non-broadcast plan, what a 100×-scale log whose size
  *    estimate exceeds every threshold would run.
  *
  * All three must return hash-identical rows (the gate changes
  * STRATEGY, never the answer). Run against sf0.1 and the tmp/x{10,100}
  * docScale replicas; prints ONE JSON line.
  *
  *   sbt "runMain graft.LogGateScale <sfDir>"
  */
object LogGateScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: LogGateScale <sfDir>")
    val d = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val nDocs = Tables.documents(spark, d).count() // warm the scan + JIT
    val path = ScratchPaths.indexPathFor(
      s"loggate-${ScratchPaths.tableFingerprint(d, "documents")}", d)
    // a re-run against an already-forgotten scratch index would time an
    // idempotent no-op takedown (forgotten=0) and record it as if it
    // were a real 20% wave — rebuild fresh so every run measures the
    // same work
    if (ScratchPaths.artifactExists(spark, s"$path/tombstones/_SUCCESS"))
      IndexLifecycle.hadoopFs(spark, path)
        .delete(new org.apache.hadoop.fs.Path(path), true): Unit
    if (!IndexLifecycle.exists(spark, TextAnalysis.lexFamily, path))
      TextAnalysis.buildLexIndex(spark, d, path): Unit
    val t0 = System.nanoTime()
    val forgotten = TextAnalysis.forgetLexFromIndex(
      Tables.documents(spark, d).filter(col("doc_id") % 5 === 0)
        .select("doc_id"), path, seg = 77L)
    val forgetSec = (System.nanoTime() - t0) / 1e9
    val (logFiles, logBytes) = IndexLifecycle.dirStamp(spark, s"$path/tombstones")
    def probeMin(): (Double, Long) = {
      var best = Double.MaxValue
      var hash = 0L
      for (_ <- 1 to 3) {
        val t = System.nanoTime()
        val rows = TextAnalysis.lexIndexProbeStored(spark, d, path).collect()
        best = math.min(best, (System.nanoTime() - t) / 1e9)
        hash = rows.map(_.toString.hashCode.toLong).sum
      }
      (best, hash)
    }
    val (hintedSec, h1) = probeMin()
    spark.conf.set("spark.graft.idLogBroadcastRows", "1")
    val (gatedAqeSec, h2) = probeMin()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (gatedSmjSec, h3) = probeMin()
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.graft.idLogBroadcastRows")
    require(h1 == h2 && h2 == h3,
      s"the gate changed the ANSWER, not just the strategy: $h1 / $h2 / $h3")
    def f3(v: Double) = math.round(v * 1000) / 1000.0
    println(s"""{"audit":"log_gate_scale","sf":"$d","n_docs":$nDocs,""" +
      s""""forgotten":$forgotten,"forget_sec":${f3(forgetSec)},""" +
      s""""log_files":$logFiles,"log_bytes":$logBytes,""" +
      s""""probe_hinted_sec":${f3(hintedSec)},""" +
      s""""probe_gated_aqe_sec":${f3(gatedAqeSec)},""" +
      s""""probe_gated_smj_sec":${f3(gatedSmjSec)}}""")
    spark.stop()
  }
}
