package graft.util

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** One listing of a table path, taken in the calling JVM: the qualified
  * path and its entries (the file itself when the path is a file, none
  * when it is absent). The one staleness check behind graft's caches of what a
  * corpus table holds: the session memos ([[SessionMemo]]) and the
  * corpus schema cache ([[graft.Tables.load]]). */
private[graft] final case class Listing(path: Path, entries: Seq[FileStatus]) {

  /** `name:len:mtime` per entry, sorted and comma-joined; "" when the
    * path is absent. It is the FULL listing string, never a hashCode of
    * it: two table states colliding on a 32-bit hash would silently
    * reuse a stale value, the exact hazard the fingerprint exists to
    * close (a short string kept in the calling JVM, so the long key costs
    * nothing). */
  def fingerprint: String =
    entries.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
}

private[graft] object Listing {
  def apply(s: SparkSession, path: String): Listing = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    Listing(fs.makeQualified(p), if (fs.exists(p)) fs.listStatus(p).toSeq else Nil)
  }
}
