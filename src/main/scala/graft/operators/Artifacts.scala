package graft.operators

import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one store for everything an operator derives from an input
  * corpus and serves across queries: cluster labels, trained models
  * (k-means codebooks, BPE merges, perceptron weights), cached corpus
  * projections, the engine tables behind the index faces. Each is a
  * deterministic function of its inputs, so "train offline, load the
  * model" is a memo here — the store IS the model store a production
  * pipeline would persist to.
  *
  * Key: (owner tag, session, input dirs, params). The owner tag names
  * the artifact (by convention the memoized method's name) and is what
  * [[clear]] takes. Each entry records its inputs' fingerprint — the
  * sorted (path, size, mtime) listing of every file under the input
  * dirs — and a call that lists something else rebuilds and releases
  * the stale entry, so a corpus rewritten in place never serves labels
  * or models of the old files.
  *
  * Sessions are held weakly: driver-side artifacts (codebooks, weights,
  * table names) die with their session. A DataFrame artifact references
  * its own session, so it lives until [[clear]], a fingerprint change,
  * or its SparkContext stops.
  *
  * Builds run outside the map's lock through a per-key once-cell:
  * concurrent callers of one key build once, and a build may read
  * another owner's artifact (Lloyd books from the sampled init,
  * incremental clusters from the pre-batch state). A build that throws
  * leaves no entry; its waiters see the error and the next call
  * retries. */
object Artifacts {

  private type Key = (String, Seq[String], Any)

  private final class Cell(val fingerprint: String) {
    val value: Promise[Any] = Promise()
  }

  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, Cell]]())

  private def entries(s: SparkSession): ConcurrentHashMap[Key, Cell] =
    sessions.synchronized {
      var m = sessions.get(s)
      if (m == null) {
        // a stopped context's artifacts are unusable; drop them
        sessions.keySet.removeIf(_.sparkContext.isStopped)
        m = new ConcurrentHashMap[Key, Cell]()
        sessions.put(s, m)
      }
      m
    }

  /** The artifact of (owner, s, inputs, params): `build`'s value, built
    * on the first call and again whenever the inputs' listing changed. */
  def getOrCompute[A](owner: String, s: SparkSession, inputs: Seq[String],
                      params: Any)(build: => A): A = {
    val key: Key = (owner, inputs, params)
    val fp = fingerprint(s, inputs)
    val map = entries(s)
    val fresh = new Cell(fp)
    var stale: Cell = null
    val cell = map.compute(key, (_, old) =>
      if (old != null && old.fingerprint == fp) old
      else { stale = old; fresh })
    if (stale != null) release(stale)
    if (cell eq fresh)
      try fresh.value.success(build)
      catch {
        case e: Throwable =>
          map.remove(key, fresh)
          fresh.value.failure(e)
          throw e
      }
    Await.result(cell.value.future, Duration.Inf).asInstanceOf[A]
  }

  /** Drops every entry `owner` holds, in every session, and releases
    * the finished ones. A bench clears the artifact a query owns so its
    * measured pass rebuilds it; a spec clears after a conf switch that
    * changes how the artifact is built. */
  def clear(owner: String): Unit = {
    val maps = sessions.synchronized(new java.util.ArrayList(sessions.values))
    maps.forEach(m => m.forEach { (k, c) =>
      if (k._1 == owner && m.remove(k, c)) release(c)
    })
  }

  /** Sorted (path, size, mtime) of every file under `inputs`; a missing
    * input lists as nothing. Plain listStatus, not listFiles: a located
    * status reads each local file's permissions, which Hadoop may fork
    * a shell to do — per file, on every call. */
  private def fingerprint(s: SparkSession, inputs: Seq[String]): String = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    def walk(fs: FileSystem, p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) walk(fs, f.getPath)
        else Seq(s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
      }
    inputs.flatMap { in =>
      val p = new Path(in)
      try walk(p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
      catch { case _: java.io.FileNotFoundException => Nil }
    }.sorted.mkString("\n")
  }

  /** A finished build's value is released; an unfinished one is only
    * dropped (its caller is about to use it — Spark's ContextCleaner
    * reclaims the blocks once it is unreachable). */
  private def release(c: Cell): Unit =
    c.value.future.value.foreach(_.foreach(unpersist))

  /** The one release routine: unpersist every DataFrame in `v`,
    * walking tuples — its cache entry and the blocks a (local)
    * checkpoint's LogicalRDD sits on, which otherwise stay pinned until
    * the ContextCleaner's next weak-reference sweep (on a bench JVM,
    * possibly never). Non-blocking: a measured pass must not wait on
    * block-removal RPCs. */
  private[operators] def unpersist(v: Any): Unit = v match {
    case df: Dataset[_] =>
      try withRddLogSilenced {
        if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
          df.unpersist(blocking = false)
        org.apache.spark.sql.GraftBridge.plan(df.toDF()).foreach {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(blocking = false)
          case _ => ()
        }
      } catch { case NonFatal(_) => () }
    case _: Iterable[_] => ()
    case p: Product => p.productIterator.foreach(unpersist)
    case _ => ()
  }

  /** Run `body` with the `org.apache.spark.rdd` loggers raised to
    * ERROR: deliberately unpersisting a LOCALLY-CHECKPOINTED RDD makes
    * RDD.unpersist warn "lineage truncated, cannot be recomputed",
    * which is exactly the intent. Restores the previous level. */
  private def withRddLogSilenced[A](body: => A): A = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.config.Configurator
    val name = "org.apache.spark.rdd"
    val prev = LogManager.getLogger(name)
      .asInstanceOf[org.apache.logging.log4j.core.Logger].getLevel
    Configurator.setLevel(name, org.apache.logging.log4j.Level.ERROR)
    try body finally Configurator.setLevel(name, prev)
  }
}
