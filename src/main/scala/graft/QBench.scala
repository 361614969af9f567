package graft

/** Single-query bench harness for iterating on one operator's plan:
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.QBench q70_span_coverage [q51 ...]"`.
  * Same session config as [[Bench]]; prints warm latency (median of 3
  * after one warm-up) per query — no concurrent pass, no JSON contract.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkTuning.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // `-stages` prefix: after the timed passes, re-run once under the
    // bench's QueryMetricsListener and dump every completed stage's
    // (wall, taskTime, nTasks, par) — the per-stage view behind the
    // serial_suspects verdict, for iterating on ONE query's plan.
    val (showStages, names) = args.partition(_ == "-stages") match {
      case (flags, rest) => (flags.nonEmpty, rest)
    }
    val listener = new graft.bench.QueryMetricsListener
    if (showStages) spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm
      val times = (1 to 3).map(_ => once()).sorted
      println(f"QBENCH $name median=${times(1)}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
      if (showStages) {
        listener.snapshotFullAndReset() // drop warm/timed-pass stages
        // same attributable-work contract as Bench's sequential pass:
        // a memoized trained artifact is re-materialized inside the
        // probed run, so training stages are visible
        Bench.MemoBypass.get(name).foreach(graft.operators.Artifacts.clear)
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
        val probeWall = try once() finally spark.sparkContext.clearJobGroup()
        println(f"QBENCH $name probe_wall=$probeWall%.3f (memo-cleared)")
        listener.awaitQuiescent()
        val snap = listener.snapshotFullAndReset()
        snap.stages.getOrElse(name, Nil).foreach { r =>
          println(f"  stage ${r.stageId}%4d wall=${r.wall}%7.3f task=${r.taskTime}%7.3f n=${r.nTasks}%3d par=${r.par}%5.2f  ${r.name.take(70)}")
        }
      }
    }
    spark.stop()
  }
}
