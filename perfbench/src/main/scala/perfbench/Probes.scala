package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark-layer counters, attributed to the job group each job ran in
  * (the engine's query id, or the id the benchmark sets around its own
  * calls). Totals cover everything since the last [[reset]]. */
final class SparkProbe extends SparkListener {
  final class Group {
    val jobs = new AtomicLong
    val inputRows = new AtomicLong
    val stageSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  }
  private val groups = new ConcurrentHashMap[String, Group]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  val jobs, stages, tasks = new AtomicLong
  val cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill, inputBytes = new AtomicLong

  def reset(): Unit = {
    groups.clear()
    Seq(jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleWrite, shuffleRead,
      spill, inputBytes).foreach(_.set(0))
  }

  def group(id: String): Option[Group] = Option(groups.get(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventNs.set(System.nanoTime())
    jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        groups.computeIfAbsent(g, _ => new Group).jobs.incrementAndGet()
        e.stageIds.foreach(s => stageGroup.put(s, g))
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventNs.set(System.nanoTime())
    stages.incrementAndGet()
    val si = e.stageInfo
    for (g <- Option(stageGroup.get(si.stageId)); gr <- Option(groups.get(g));
         s <- si.submissionTime; c <- si.completionTime)
      gr.stageSpans.add((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs.set(System.nanoTime())
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      for (g <- Option(stageGroup.get(e.stageId)); gr <- Option(groups.get(g)))
        gr.inputRows.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Waits (bounded) until no listener event arrived for 300 ms: the
    * listener bus delivers asynchronously. */
  def awaitQuiet(maxMs: Long = 5000): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - lastEventNs.get()) < 300e6 &&
           (System.nanoTime() - t0) < maxMs * 1e6) Thread.sleep(50)
  }

  /** Milliseconds covered by the union of a group's stage intervals. */
  def stageWallMs(id: String): Double = group(id).map { g =>
    var total = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    g.stageSpans.asScala.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total.toDouble
  }.getOrElse(0.0)
}

/** JVM counters: collector time, old-generation occupancy after the
  * last collection, peak live threads, resident set size. */
object JvmProbe {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  def threadsPeak: Double = ManagementFactory.getThreadMXBean.getPeakThreadCount.toDouble

  /** VmHWM of this process, in MiB (0 where /proc is absent). */
  def peakRssMb: Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) 0.0
    else java.nio.file.Files.readAllLines(f).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  def heapFlags: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:MaxRAM") ||
        a.startsWith("-XX:+Use") && a.endsWith("GC"))

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** Spark's whole-stage codegen compile counter. */
object CodegenProbe {
  private def hist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def compiles: Long = hist.getCount
  /** Milliseconds spent compiling since the count stood at `since`:
    * the compiles since then times the histogram's mean, which is a
    * decaying sample of recent compile times, so this is an estimate. */
  def compileMs(since: Long): Double = (compiles - since) * hist.getSnapshot.getMean
}

/** Byte and file counts under a table's directories: data files, the
  * commit log, the Iceberg mirror, its snapshot archive, and the
  * warehouse changefeed. */
object StorageProbe {
  final case class Usage(dataBytes: Long, dataFiles: Long, logBytes: Long,
                         icebergBytes: Long, snapshotBytes: Long) {
    def total: Long = dataBytes + logBytes + icebergBytes + snapshotBytes
  }

  private def walk(dir: java.io.File): Seq[(String, Long)] =
    if (!dir.exists()) Nil
    else {
      val base = dir.toPath
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p)).toList
      finally s.close()
    }

  def table(warehouse: String, db: String, table: String): Usage = {
    val files = walk(new java.io.File(s"$warehouse/$db.db/$table"))
    val (log, rest) = files.partition(_._1.split('/').contains("_graft_log"))
    val (ice, data) = rest.partition(_._1.startsWith("metadata/"))
    val dataFiles = data.filter(_._1.endsWith(".parquet"))
    val snaps = walk(new java.io.File(s"$warehouse/.graft-snapshots/$db.$table"))
    Usage(data.map(_._2).sum, dataFiles.size.toLong, log.map(_._2).sum,
      ice.map(_._2).sum, snaps.map(_._2).sum)
  }

  def cdcBytes(warehouse: String): Long =
    walk(new java.io.File(s"$warehouse/.graft-cdc")).map(_._2).sum
}
