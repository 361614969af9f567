package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Per-statement file-skipping evidence (`system.scans`, round-11
  * verdict "Next #5"): at 100 TB the first question an operator asks
  * of a slow or suspiciously-fast query is "how many files did that
  * scan actually read, and WHY were the others skipped". The zonemap
  * rule records one row per relation it gathered evidence for —
  * files total vs files read plus the evidence kinds consulted
  * (zonemap / bloom) — keyed by the engine's query id
  * (the Spark job group the ExecutionManager sets). A bounded ring
  * buffer: observability, not an audit log.
  *
  * The reference has no analog (its scan layer is DuckDB's); the
  * shape follows Iceberg's scan-metrics reporting. */
object ScanStats {

  /** Evidence for one relation of one statement. `kinds` is the
    * '+'-joined set of evidence families CONSULTED (a kind may appear
    * even when another kind did the actual dropping — attribution per
    * file would cost a second evaluation pass). */
  final case class Evidence(table: String, filesTotal: Int,
                            filesRead: Int, kinds: String)

  private final case class Rec(queryId: String, table: String,
                               filesTotal: Int, filesRead: Int,
                               evidence: String, atMs: Long)

  private val cap = 512
  private val buf = new java.util.ArrayDeque[Rec]()

  def record(queryId: String, e: Evidence): Unit = buf.synchronized {
    buf.addLast(Rec(queryId, e.table, e.filesTotal, e.filesRead,
      e.kinds, System.currentTimeMillis()))
    while (buf.size > cap) buf.removeFirst()
  }

  /** Newest-first snapshot as the `system_scans` relation. */
  def view(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = buf.synchronized { buf.iterator().asScala.toSeq }.reverse
      .map(r => Row(r.queryId, r.table, r.filesTotal.toLong,
        r.filesRead.toLong, r.evidence, new java.sql.Timestamp(r.atMs)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("query_id", StringType),
        StructField("table_name", StringType),
        StructField("files_total", LongType),
        StructField("files_read", LongType),
        StructField("evidence", StringType),
        StructField("recorded_at", TimestampType))))
  }

  private[graft] def clear(): Unit = buf.synchronized(buf.clear())
}
