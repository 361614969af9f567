package graft
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkTuning.local("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { n =>
      println(s"===== $n =====")
      val df = if (n == "classifier-ex")
        graft.operators.Classifier.examples(spark, sfDir)
          .repartition(8, org.apache.spark.sql.functions.col("sh"))
          .sortWithinPartitions("sh", "doc_id")
      else SparkEntry.queries(n)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      println(df.queryExecution.executedPlan.toString.take(12000))
    }
    spark.stop()
  }
}
