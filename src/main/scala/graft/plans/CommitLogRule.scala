package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.engine.CommitLog

/** Reader side of the per-table commit log ([[graft.engine.CommitLog]]):
  * every scan of a table whose `_graft_log/` holds a manifest resolves
  * the CURRENT one at planning time and reads exactly its file set —
  * retired files a copy-on-write commit left in place are invisible, and
  * files a newer commit added after this statement planned do not leak
  * in mid-read. One tiny log-dir listing per query per relation; the
  * session's cached directory listing is refreshed only when the
  * manifest version actually moved (the same version-gating discipline
  * the in-JVM engine uses), so the steady state costs no re-list.
  *
  * The gate is the log itself, never a table property: a table created
  * outside the engine carries none, yet gets its log at the engine's
  * first commit — from then on its retired files are on disk and only
  * the manifest tells them apart. Runs BEFORE ZonemapPruneRule
  * (injection order), which then prunes WITHIN the manifest's
  * listing, on the per-file bounds this same manifest carries. */
final class CommitLogRule(session: SparkSession) extends Rule[LogicalPlan] {
  import CommitLogRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      case l: LogicalRelation
          if l.catalogTable.isDefined &&
            l.relation.isInstanceOf[HadoopFsRelation] &&
            l.getTagValue(Applied).isEmpty =>
        l.setTagValue(Applied, true)
        resolve(l, l.relation.asInstanceOf[HadoopFsRelation]).getOrElse(l)
    }
  }

  private def resolve(l: LogicalRelation,
                      rel: HadoopFsRelation): Option[LogicalRelation] = {
    try {
      val loc = new Path(l.catalogTable.get.location)
      val fs = loc.getFileSystem(session.sessionState.newHadoopConf())
      val v = CommitLog.currentVersion(fs, loc)
      if (v <= 0L) return None // no commit yet: plain listing is the truth
      val m = CommitLog.read(fs, loc, v).getOrElse(return None)
      // a manifest change means files were added/retired since this
      // session's listing was built — re-list ONCE per manifest, in
      // place (the shared index), so the filter below always filters a
      // superset of its files (grace-window contract). Gated on the
      // manifest's UUID STAMP, not the version number: DROP then
      // CREATE at the same location restarts numbering, and a reader
      // that saw the OLD v1 must still re-list for the NEW v1.
      val seen = seenMap(session)
      val key = loc.toString
      if (!Option(seen.get(key)).contains(m.stamp)) {
        try rel.location.refresh() catch { case _: Exception => () }
        seen.put(key, m.stamp)
      }
      val wrapped = new ManifestFileIndex(rel.location, loc, m, fs)
      val newRel = l.copy(relation = rel.copy(location = wrapped)(session))
      newRel.setTagValue(Applied, true)
      // PRESERVE the sibling rule's tags: both rules run in the same
      // fixed point, and a copy that drops the other's marker makes
      // the two re-wrap each other every iteration (and the final
      // relation would lose the evidence EXPLAIN SKIPPING reads). Tag
      // sets must be UNIONED across replacements.
      l.getTagValue(ZonemapPruneRule.Examined)
        .foreach(newRel.setTagValue(ZonemapPruneRule.Examined, _))
      l.getTagValue(ZonemapPruneRule.EvidenceTag)
        .foreach(newRel.setTagValue(ZonemapPruneRule.EvidenceTag, _))
      Some(newRel)
    } catch { case _: Exception => None } // unreadable log: fall back to listing
  }
}

object CommitLogRule {

  /** Fixed-point guard: each relation is resolved once per query. */
  private[plans] val Applied =
    TreeNodeTag[Boolean]("graft.commitlog.applied")

  /** session → (table location → STAMP of the manifest its listing
    * reflects). Weak-keyed: state dies with the session. */
  private val seenVersions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]())

  private def seenMap(s: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, String] =
    seenVersions.computeIfAbsent(s, _ =>
      new java.util.concurrent.ConcurrentHashMap[String, String]())
}
