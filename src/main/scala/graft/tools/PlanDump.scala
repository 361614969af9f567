package graft.tools

/** Debug utility: print or dump physical plans of registered queries.
  *
  *  - `runMain graft.tools.PlanDump <queryName> [sfDir]` — print the
  *    executed plan (the original single-query face);
  *  - `runMain graft.tools.PlanDump --out <dir> <q1> [q2 ...]` — write
  *    `<dir>/<qN>.txt` with `explain("formatted")` output for each
  *    query (the round-16 optimization-evidence face: one JVM, many
  *    plans). sfDir comes from SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkTuning.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.toList match {
      case "--out" :: outDir :: names if names.nonEmpty =>
        val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          val df = graft.SparkEntry.queries(name)(spark, dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"PLANDUMP wrote $outDir/$name.txt")
        }
      case name :: rest =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.1")
        val df = graft.SparkEntry.queries(name)(spark, dir)
        println(df.queryExecution.executedPlan.toString)
      case Nil => sys.error("usage: PlanDump <query> [sfDir] | " +
        "PlanDump --out <dir> <q1> [q2 ...]")
    }
    spark.stop()
  }
}
