package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (Spark startup is ~5s). */
object TestSpark {
  lazy val spark: SparkSession = {
    val warehouse =
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString
    // removed at JVM exit, after Spark's own hook (priority 40) has
    // stopped the session: lower priorities run later
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warehouse)), 20)
    val s = graft.SparkTuning.local("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse)
      // the server's scheduler: FAIR over its bounded pool set
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file",
        graft.server.GraftServer.allocationFile(8))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
