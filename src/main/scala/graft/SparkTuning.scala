package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide core-conf tuning applied at session build time (core
  * and static SQL confs cannot change after the SparkContext exists —
  * unlike the SQL confs the extensions/operators manage). Every main,
  * the server, the tests and the benchmark build their session here:
  * the codegen cache size ([[CodegenCacheEntries]]) and the shuffle
  * writer below.
  *
  * `spark.shuffle.sort.bypassMergeThreshold=1` (round 17): Spark's
  * bypass-merge shuffle writer opens R compressed partition-file
  * streams PER MAP TASK whenever R <= 200. Measured on this engine's
  * dominant shuffle shape (32 map tasks x 32 reduce partitions,
  * kilobyte-to-megabyte payloads): 2.5-2.8 s of shuffle-write time to
  * move 1.3-2.5 MB — ~2.5 ms of stream setup per (task, partition),
  * 1024 streams per stage, charged to every Exchange in every query.
  * Forcing the regular sort writer (one spill-merged file per map
  * task + index) cut the same stage's write time to 4-11 ms and total
  * stage CPU 3-5x (stage-metric A/B, min-of-run, both orders; see
  * OPTIMIZATION_r17.md). At production scale the law is the same per stage: the
  * sort writer pays an in-memory partition-id sort per task (cheap,
  * cache-friendly) instead of R stream setups + R-way tiny-file
  * output; large shuffles (R > 200) already use it. Parameterised for
  * A/B and rollback: SPARK_GRAFT_SHUFFLE_BYPASS_THR (unset -> 1;
  * "default" -> leave Spark's 200). */
object SparkTuning {
  /** The `local[cores]` session builder every main starts from: the
    * core tuning below plus the confs they all share — UTC session
    * time zone, [[GraftExtensions]], no UI, one shuffle partition per
    * core. Callers add only the confs they differ on. */
  def local(cores: String): SparkSession.Builder =
    tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf read once per
    * JVM, when the first class compiles). Spark's default of 100 is
    * below even the 195 classes of perfbench's 10-query slice, so every
    * pass evicted and recompiled (about 19 ms of Janino time per
    * class).
    *
    * Sizing, measured by counting `CodegenMetrics` compiles over full
    * passes of all 157 `SparkEntry` queries, one JVM, `local[4]`: the
    * first pass compiles 1719 distinct classes at sf0.1 (1723 at
    * sf0.01). With this cap the second and third passes compile 28
    * and 22 classes, for queries whose generated code differs from
    * pass to pass; a 100000-entry cap recompiles at the same rate (26
    * and 14 per pass at sf0.01), so no class of the working set is
    * evicted. 4000 leaves
    * 2.3x headroom for those one-off classes and for the server's own
    * statements; with [[graft.plans.LiteralRefRule]] a literal-varying
    * statement adds none.
    *
    * Worst-case memory of a full cache: about 28 KB of heap plus 18 KB
    * of metaspace per cached class (holding 800 classes measured heap
    * +22.5 MB, metaspace +14.4 MB), so 4000 entries hold at most about
    * 110 MB of heap and 70 MB of metaspace. */
  val CodegenCacheEntries = 4000

  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    val b0 = b.config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    val b1 = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_BYPASS_THR", "1") match {
      case "default" => b0
      case v => b0.config("spark.shuffle.sort.bypassMergeThreshold", v)
    }
    // Optional scratch-dir override (r17): shuffle-map commits run
    // under ONE synchronized IndexShuffleBlockResolver per JVM (thread
    // dumps: 14/32 executor threads blocked there mid-q61d), so the
    // held time of each commit's create+write+rename bounds map-task
    // throughput at high stage counts. SPARK_GRAFT_LOCAL_DIR points
    // spark.local.dir at faster ephemeral storage (e.g. /dev/shm) —
    // the standard "fastest local scratch" deployment choice. Unset =
    // Spark's default (java.io.tmpdir).
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty) match {
      case Some(d) => b1.config("spark.local.dir", d)
      case None => b1
    }
  }
}
