package graft

import org.apache.spark.sql.SparkSession

/** Scale-slope bench: time a named subset of the harness queries on an
  * arbitrary data dir (the driver SFs or a [[ScaleData]] replica),
  * median of `SPARK_GRAFT_SCALE_RUNS` (default 3) after one warm-up.
  * Prints one JSON line and writes it to the optional second arg.
  * Usage: runMain graft.ScaleBench <dir> <q1,q2,...> [outFile]
  *
  * r18: the line carries the same `calib_st_ms`/`calib_mt_ms`
  * fixed-work CPU probe fields as the main bench artifact
  * (additions-only), so a scale capture is regime-comparable across
  * rounds without forensics.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val outPath = if (args.length > 2) Some(args(2)) else None
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      Queries.prewarm(spark, dir)
      LlmQueries.prewarm(spark, dir)
    } catch { case _: Throwable => () }
    // calibrate immediately before the timed region (the Bench recipe)
    val (calibStMs, calibMtMs) = Bench.calibProbe(cpus.toInt)
    val qmap = SparkEntry.queries
    val results = names.map { name =>
      val fn = qmap(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, dir).count() } catch { case _: Throwable => return -1.0 }
        (System.nanoTime() - t0) / 1e9
      }
      Bench.hygiene()
      once() // warm-up
      // between-run hygiene (untimed), the Bench recipe: drain the
      // previous run's retired checkpoint blocks before timing the next
      val ts = Array.fill(runs) { Bench.hygiene(); once() }.sorted
      name -> (if (ts.head < 0) -1.0 else ts(runs / 2))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val line = s"""{"dir":"$dir","runs":$runs,"agg":"median","calib_st_ms":$calibStMs,"calib_mt_ms":$calibMtMs,"queries":$qs}"""
    outPath.foreach { p =>
      val w = new java.io.PrintWriter(p)
      try w.println(line) finally w.close()
    }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(line)
    Console.out.flush()
  }
}
