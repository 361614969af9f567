package graft.tools

import graft.engine.Changefeed

/** Child-JVM changefeed publisher for the TWO-PROCESS lossless-publish
  * spec (ChangefeedLossSpec): a second Spark process sharing only the
  * warehouse directory, emitting `count` CDC events as fast as it can
  * while the parent does the same. Every acked (tag, seq, id) is
  * printed so the spec can diff the union of both writers' acks
  * against the surviving log — the at-least-once contract of the
  * reference's event store (server/astha/event_store.go): an acked
  * event is never lost and never replaced.
  *
  * args: warehouseDir count tag */
object CdcHammer {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, count, tag) = args.take(3)
    val spark = graft.SparkTuning.local("2")
      .appName("graft-cdc-hammer")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      for (i <- 1 to count.toInt) {
        val id = Changefeed.emit(spark, "tables", "INSERT",
          Map("writer" -> tag, "seq" -> i.toString))
        println(s"ACK $tag $i $id")
      }
      println(s"CDC_HAMMER_DONE $tag ${count.toInt}")
    } finally spark.stop()
  }
}
