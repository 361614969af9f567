package graft.engine

import org.apache.hadoop.fs.Path

/** The one conversion from a FILE-LISTING STRING back to a usable
  * Path. Listing strings (`Dataset.inputFiles`,
  * `FileIndex.inputFiles`, FileStatus stringifications) arrive
  * URI-ENCODED: an escaped partition directory's literal '%' — e.g.
  * `p=O%27Brien` on disk for the value O'Brien — prints as
  * `p=O%2527Brien`. Handing that string to `new Path(String)` or
  * `spark.read.parquet` quotes the '%' AGAIN (Hadoop's Path(String)
  * goes through the multi-arg URI constructor), landing on a
  * doubly-escaped, nonexistent path — `fs.exists` quietly false,
  * reads fail with PATH_NOT_FOUND. Stock Spark has the same
  * asymmetry (verified: `spark.read.parquet(df.inputFiles.head)`
  * fails on any table with an escaped partition value), which is why
  * every engine path that round-trips file STRINGS — file-level CoW
  * commits, per-file index shard builds — must decode through here
  * first.
  *
  * One URI parse yields the on-disk path; `toString` of the result is
  * the form that survives a further Path(String)/DataFrameReader
  * round-trip. Strings that do not parse as URIs (raw spaces, no
  * scheme) pass through as plain paths. */
object FsPaths {

  /** On-disk Path for a listing string. */
  def fromListing(s: String): Path =
    try new Path(new java.net.URI(s))
    catch { case _: java.net.URISyntaxException => new Path(s) }

  /** Listing string → a string `spark.read`/Path(String) lands on
    * the on-disk file with. */
  def readable(s: String): String = fromListing(s).toString
}
