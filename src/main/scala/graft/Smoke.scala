package graft

/** Local replica of the driver's t1 smoke gate: SparkEntry.entry must
  * return rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkTuning.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = SparkEntry.entry(spark).count()
    println(s"SMOKE_ENTRY_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
