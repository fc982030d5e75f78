package graft.io

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one in-place directory replace. A replace of `dir/name`:
  *
  *  1. settles any interrupted replace of it ([[recover]]);
  *  2. lets `stage` write the new copy at `dir/.name.next`;
  *  3. creates the marker `dir/.name.commit` — the point of no return;
  *  4. moves the old copy aside to `dir/.name.prev`, renames the new
  *     one in;
  *  5. deletes the old copy, then the marker.
  *
  * A crash therefore leaves the old copy (before the marker) or, once
  * settled, the new one; the next writer of the target settles it. The
  * dot prefix keeps the siblings out of Spark's file index and Athena's
  * listings. Every rename and delete is checked, and nothing is renamed
  * onto an existing path (Hadoop would move the source INTO it).
  *
  * One writer per target at a time. Readers never settle anything —
  * a read may race a writer's in-flight state — they refuse while
  * [[pending]].
  *
  * The guarantees rest on an atomic directory rename (local FS, HDFS).
  * An S3A directory rename is a copy plus a delete, not atomic.
  */
object Publish {

  private def sibling(target: Path, suffix: String): Path =
    new Path(target.getParent, s".${target.getName}.$suffix")

  /** Replace (or create) `target` with what `stage` writes at the path
    * it is given.
    */
  def replace(fs: FileSystem, target: Path)(stage: Path => Unit): Unit = {
    recover(fs, target)
    val next = sibling(target, "next")
    stage(next)
    if (!fs.exists(next))
      throw new IllegalStateException(s"publish of $target staged nothing at $next")
    fs.create(sibling(target, "commit"), false).close()
    finish(fs, target)
  }

  /** Settle an interrupted replace: past the marker finish it, before
    * it drop the staged copy. True when the target changed, so callers
    * holding a cached listing of it know to refresh.
    */
  def recover(fs: FileSystem, target: Path): Boolean =
    if (pending(fs, target)) { finish(fs, target); true }
    else { delete(fs, sibling(target, "next")); false }

  /** A replace of `target` is past its marker and unfinished: the
    * target may be missing or still old.
    */
  def pending(fs: FileSystem, target: Path): Boolean =
    fs.exists(sibling(target, "commit"))

  /** Targets directly under `dir` with siblings of an interrupted
    * replace, pending or not.
    */
  def leftovers(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith(".") && (n.endsWith(".next") || n.endsWith(".commit")) =>
        new Path(dir, n.substring(1, n.lastIndexOf('.')))
    }.distinct

  /** Steps 4–5, from wherever an earlier attempt stopped. */
  private def finish(fs: FileSystem, target: Path): Unit = {
    val (next, prev) = (sibling(target, "next"), sibling(target, "prev"))
    if (fs.exists(next)) {
      if (fs.exists(target)) rename(fs, target, prev)
      rename(fs, next, target)
    }
    delete(fs, prev)
    delete(fs, sibling(target, "commit"))
  }

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit = {
    if (fs.exists(dst)) throw new IOException(s"cannot rename $src to $dst: $dst exists")
    if (!fs.rename(src, dst)) throw new IOException(s"could not rename $src to $dst")
  }

  private def delete(fs: FileSystem, p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p)) throw new IOException(s"could not delete $p")
}
