package graft.tools

import graft.engine.QueryEngine

/** Child-JVM writer for the TWO-PROCESS concurrency soak
  * (ConcurrencySoak2JvmSpec): a SECOND Spark process sharing only the
  * WAREHOUSE DIRECTORY with the spec's JVM, running file-level
  * copy-on-write point UPDATEs through the engine while the first
  * process reads. Each process has its own in-memory catalog — only
  * the commit log ([[graft.engine.CommitLog]]) coordinates them,
  * which is exactly the contract under test.
  *
  * args: warehouseDir tableLocation iterations
  * Registers the shared table as an EXTERNAL parquet table (the data
  * and the commit log already exist on disk), then runs `iterations`
  * point updates. Prints SOAK_WRITER_DONE on success. */
object SoakWriter {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, tableLoc, iters) = args.take(3)
    val key = if (args.length > 3) args(3).toLong else 105L
    // qualified table name must match the PARENT's: the persisted
    // index store is keyed by it, and without the index the UPDATE
    // loses file-level CoW and truncates the table mid-statement
    val table = if (args.length > 4) args(4) else "soak2.t"
    val Array(db, bare) = table.split("\\.", 2)
    val spark = graft.SparkTuning.local("2")
      .appName("graft-soak-writer")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $db.$bare (id BIGINT, v STRING)
           |USING parquet LOCATION '$tableLoc'""".stripMargin)
      val engine = new QueryEngine(spark)
      for (i <- 1 to iters.toInt) {
        val r = engine.execute(
          s"UPDATE $db.$bare SET v = 'w$i' WHERE id = $key")
        require(r.rowCount == 1, s"iteration $i updated ${r.rowCount} rows")
      }
      println(s"SOAK_WRITER_DONE $iters")
    } finally spark.stop()
  }
}
