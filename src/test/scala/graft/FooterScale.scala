package graft

/** Diagnostic main (r22, VERDICT r21 #2's done-criterion): the footer
  * row-count file-count ladder. Writes artifacts of 10²/10³/10⁴ parquet
  * files and times [[IndexLifecycle.parquetFooterRows]] (bounded
  * thread-pool reads) against the pre-r22 serial walk, replicated
  * inline — the 100 TB exposure was a serial driver stall growing
  * linearly in file count. Not a test. */
object FooterScale {
  def main(args: Array[String]): Unit = {
    val s = TestSession.spark
    import s.implicits._
    val conf = s.sparkContext.hadoopConfiguration
    def serialWalk(dir: String): Long = {
      val fs = IndexLifecycle.hadoopFs(s, dir)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var sum = 0L
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
          try sum += r.getRecordCount finally r.close()
        }
      }
      sum
    }
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    }
    for (files <- Seq(100, 1000, 10000)) {
      val dir = s"/tmp/graft-footer-scale/$files"
      (0L until files.toLong * 3).toDF("id").repartition(files)
        .write.mode("overwrite").parquet(dir)
      // warm the fs metadata once, then min-of-3 each form
      serialWalk(dir): Unit
      val ser = (1 to 3).map(_ => timed(serialWalk(dir))).minBy(_._2)
      // pooled walk forced (gate disabled), then the SHIPPED gated path
      s.conf.set("spark.graft.footerCountFiles", Int.MaxValue.toString)
      val par = (1 to 3).map(_ =>
        timed(IndexLifecycle.parquetFooterRows(s, dir))).minBy(_._2)
      s.conf.unset("spark.graft.footerCountFiles")
      val shp = (1 to 3).map(_ =>
        timed(IndexLifecycle.parquetFooterRows(s, dir))).minBy(_._2)
      require(ser._1 == par._1 && ser._1 == shp._1,
        s"count mismatch: ${ser._1} vs ${par._1} vs ${shp._1}")
      println(f"[footerscale] files=$files%6d rows=${par._1}%8d " +
        f"serial=${ser._2}%7.3fs pooled=${par._2}%7.3fs " +
        f"shipped=${shp._2}%7.3fs (serial/shipped ${ser._2 / shp._2}%5.1fx)")
    }
    s.stop()
  }
}
