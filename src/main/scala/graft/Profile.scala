package graft

/** Local-iteration helper: run registered queries N times each and print
  * per-iteration wall time, separating cold-start (codegen, parquet
  * footers, broadcast warmup) from steady-state cost. Not used by the
  * driver — Bench is the recorded number.
  *
  * Usage: runMain graft.Profile <sfDir> <n> <query> [query...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = args(1).toInt
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    for (q <- args.drop(2)) {
      val fn = SparkEntry.queries(q)
      val times = (1 to n).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$q%-28s " + times.map(t => f"$t%.2f").mkString(" "))
    }
    spark.stop()
  }
}
