package graft.tools

/** One-query result dump: `runMain graft.tools.DumpQ <query> <sfDir>
  * <outParquetDir>` — the Verify contract for a single query, for
  * scale-point oracle comparisons (sf1 confirmations) without paying
  * the full Verify dump of every query. */
object DumpQ {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, out) = args.take(3)
    val spark = graft.SparkTuning.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.mode("overwrite").parquet(out)
    // the query's oracle SQL lands beside the dump so a scale-point
    // DuckDB compare needs no full Verify run for oracle_sql.json
    graft.SparkEntry.oracleSql.get(name).foreach { sql =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$out.oracle.sql"),
        sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    println(s"DUMPQ $name -> $out")
    spark.stop()
  }
}
