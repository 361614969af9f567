package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.engine.{CommitLog, FsPaths}

/** A [[FileIndex]] serving exactly one commit-log manifest's file set
  * (table-RELATIVE paths, the manifest's own representation): the
  * underlying listing may contain retired files a copy-on-write commit
  * left in place, or fresh files from a commit newer than the resolved
  * manifest — both are invisible through this index, which is what
  * gives a statement snapshot isolation against writers in OTHER
  * processes. Partition pruning — static and dynamic — composes by
  * delegation: `listFiles` forwards the filters to the underlying index
  * and then drops non-manifest files from each [[PartitionDirectory]],
  * preserving its partition values. Matching is in decoded-URI-path
  * space on the TABLE-relative suffix, so partition-dir escaping (a
  * listing string prints `r=o%27brien` as `r=o%2527brien`) cannot
  * desync the comparison.
  *
  * It carries the whole manifest, so [[ZonemapPruneRule]] reads each
  * listed file's stats (zonemap bounds) from the version this scan
  * resolved — one map lookup per file, no further read — and reads
  * only the bloom sidecars that version marks. */
final class ManifestFileIndex(underlying: FileIndex, tableLocation: Path,
                              val manifest: CommitLog.Manifest,
                              @transient private val fs: FileSystem)
    extends FileIndex {

  private val basePath = tableLocation.toUri.getPath.stripSuffix("/")
  private val keepRels = manifest.files.toSet

  private def rel(p: Path): Option[String] = {
    val s = p.toUri.getPath
    if (s.startsWith(basePath + "/")) Some(s.substring(basePath.length + 1))
    else None
  }

  private def kept(p: Path): Boolean = rel(p).exists(keepRels)

  /** The manifest's stats for a file of this index's listing (an
    * `inputFiles` string), None when it has none. */
  def statsOf(listing: String): Option[CommitLog.FileStats] =
    rel(FsPaths.fromListing(listing)).flatMap(manifest.stats.get)

  /** The commit log's bloom filter of `col` (lowercased) for a listed
    * file, None when the manifest marks none or it is unreadable. */
  def bloomOf(listing: String,
              col: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    rel(FsPaths.fromListing(listing))
      .filter(r => manifest.stats.get(r).exists(_.blooms(col)))
      .flatMap(CommitLog.readBloom(fs, tableLocation, _, col))

  /** This index narrowed to `listings` (a subset of [[inputFiles]]) —
    * the pruned scan [[ZonemapPruneRule]] plans. */
  def keepOnly(listings: Seq[String]): ManifestFileIndex = {
    val keep = listings.flatMap(s => rel(FsPaths.fromListing(s))).toSet
    new ManifestFileIndex(underlying, tableLocation,
      manifest.copy(files = manifest.files.filter(keep)), fs)
  }

  override def rootPaths: Seq[Path] = underlying.rootPaths

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    underlying.listFiles(partitionFilters, dataFilters)
      .map(pd => pd.copy(files = pd.files.filter(f => kept(f.getPath))))
      .filter(_.files.nonEmpty)

  override def inputFiles: Array[String] =
    underlying.inputFiles.filter(s => kept(FsPaths.fromListing(s)))

  override def refresh(): Unit = underlying.refresh()

  /** Kept-files size, so join-strategy stats see a pruned scan (a
    * 1-of-200-files point lookup should broadcast). */
  override lazy val sizeInBytes: Long =
    underlying.listFiles(Nil, Nil).iterator
      .flatMap(_.files).filter(f => kept(f.getPath))
      .map(_.getLen).sum

  override def partitionSchema: StructType = underlying.partitionSchema

  override def metadataOpsTimeNs: Option[Long] =
    underlying.metadataOpsTimeNs
}
