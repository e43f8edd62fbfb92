package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Exclusive-create-as-mutex over a Hadoop FileSystem — the one idiom
  * shared by every rename-committed layout in this library (index
  * build locks, compaction generation claims). `create(path,
  * overwrite=false)` is atomic on HDFS-class and local filesystems; on
  * an object store without atomic create-if-absent, the same caveat as
  * every rename-committed protocol applies.
  *
  * Ownership: the creator's `token` is written as the file content, so
  * release can refuse to delete a lock that was broken and re-acquired
  * by someone else (the content read races the create's write by a
  * moment — a mismatch or missing content errs toward NOT deleting,
  * the safe direction).
  */
object FsMutex {

  /** Atomically create `path` carrying `token`; false if it exists. */
  def tryAcquire(fs: FileSystem, path: Path, token: String = ""): Boolean = {
    var created = false
    try {
      val out = fs.create(path, false)
      created = true
      out.write(token.getBytes("UTF-8"))
      out.close()
      true
    } catch {
      case _: java.io.IOException =>
        // If the create itself won but stamping the token failed, the
        // file on disk is a lock NOBODY owns (empty content ≠ any
        // caller's token) — remove it rather than leak it until the
        // full stale-break budget elapses.
        if (created) scala.util.Try(fs.delete(path, false))
        false
    }
  }

  /** The lock's current content, read to EOF (a single `read` may
    * legitimately short-read on HDFS-class streams — comparing a
    * partial buffer would spuriously fail the ownership check and leak
    * the lock for the full stale-break budget). None on any IO error.
    */
  def readToken(fs: FileSystem, path: Path): Option[String] =
    try {
      val in = fs.open(path)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      Some(new String(bytes, "UTF-8"))
    } catch { case _: java.io.IOException => None }

  /** Delete `path` only when its content matches `token` — never
    * release a lock someone else now holds. Returns whether deleted.
    */
  def releaseIfOwner(fs: FileSystem, path: Path, token: String): Boolean =
    try {
      if (readToken(fs, path).contains(token)) fs.delete(path, false) else false
    } catch { case _: java.io.IOException => false }
}
