package graft
// Plan inspection tool: `sbt "runMain graft.Explain q03_region_revenue ..."`
// prints the formatted physical plan of each named SparkEntry query under
// the plan-shaping confs Bench and Verify set (SparkEntry.planConfs).
// Used to audit pushdown/pruning/broadcast/codegen per operator (the
// audit results live in SURVEY.md §2.11).
import org.apache.spark.sql.SparkSession
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(SparkEntry.planConfs).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    for (q <- args) {
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
