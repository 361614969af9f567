package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 made the Column <-> Expression conversions `private[sql]`
  * (columnNodeSupport.scala). Extension libraries that define native
  * Catalyst expressions need exactly these two calls, so this bridge
  * re-exports them from inside the sql package — no Spark internals are
  * modified or shadowed. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Logical plan of a DataFrame (classic Dataset). */
  def plan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** Parse with the session's parser while the session is active, as
    * `spark.sql` does (parser settings read the active session's conf). */
  def parsePlan(spark: SparkSession, sql: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].withActive(
      spark.sessionState.sqlParser.parsePlan(sql))

  /** DataFrame over a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Strip a checkpointed DataFrame's ORIGIN statistics.
    * `Dataset.checkpoint`/`localCheckpoint` truncate lineage but
    * PRESERVE the original plan's statistics inside the resulting
    * LogicalRDD (so the optimizer keeps size knowledge). For an
    * ITERATIVE computation whose per-round plan self-joins the
    * previous round's checkpoint, that preservation compounds: each
    * round's size ESTIMATE is a product of ~12 references to the
    * previous round's, so the estimate's exponent grows as 12^rounds
    * and Spark's SizeInBytesOnly visitor overflows BigInteger around
    * round 9 (measured on the 50x-replica clustering). Rebuilding the
    * LogicalRDD without originStats resets the estimate to the
    * default; runtime (AQE) sizes are unaffected. No-op on
    * non-LogicalRDD plans. */
  def dropOriginStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.logicalPlan match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        classic.Dataset.ofRows(ds.sparkSession,
          lr.copy(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            ds.sparkSession, None, None))
      case _ => df
    }
  }

  /** Pin a DataFrame as NEVER-the-broadcast-build-side of any join it
    * feeds (catalyst's internal NO_BROADCAST_HASH strategy hint — the
    * one AQE's DynamicJoinSelection itself attaches to shuffle-heavy
    * sides; there is no public `df.hint` spelling for it). Unlike
    * `hint("shuffle_hash")`/`hint("merge")`, it does NOT pick the
    * join strategy: the static plan falls out of broadcast because
    * THIS side is banned, and AQE remains free to broadcast the OTHER
    * side at runtime when its real bytes fit. Exists because static
    * size estimates of Generate (explode) output equal the CHILD's
    * bytes — a well-compressed document scan "fits" the broadcast
    * threshold while its exploded token/bigram stream is corpus-sized,
    * and the driver would collect all of it (q82/q85/q69 at 10x). */
  def neverBroadcast(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.catalyst.plans.logical.ResolvedHint(
        ds.logicalPlan,
        org.apache.spark.sql.catalyst.plans.logical.HintInfo(
          strategy = Some(
            org.apache.spark.sql.catalyst.plans.logical.NO_BROADCAST_HASH))))
  }

  /** An isolated copy of the session that INHERITS its current state
    * (temp views, conf, current database) and diverges from there —
    * `newSession()` starts empty, which would hide server-registered
    * temp views from per-connection sessions. cloneSession is
    * `private[sql]`, hence the bridge. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
