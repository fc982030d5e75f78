package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system under the `faulty:` scheme, failing one chosen
  * operation: after [[FaultyFs.failNth]], the n-th `create`, `rename` or
  * `delete` whose path matches a regex throws an IOException, once.
  * A rename matches on `"<src> -> <dst>"`.
  *
  * `faulty:///tmp/x` and `/tmp/x` are the same files, so a test builds
  * a tree on local paths and drives the code under test through the
  * `faulty:` URI of the same tree. Local-mode tasks run in this JVM, so
  * Spark's own write tasks hit the fault too. [[SparkTestSession]]
  * registers the scheme. It subclasses the raw local file system under
  * another scheme, the pattern Spark's own suites use, because a
  * FilterFileSystem over local would reject `faulty:` paths.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = FaultyFs.Uri
  override def getScheme: String = "faulty"

  // every create overload and createNonRecursive open their stream here
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream = {
    FaultyFs.check("create", f.toString)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.check("rename", s"$src -> $dst")
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultyFs.check("delete", p.toString)
    super.delete(p, recursive)
  }
}

object FaultyFs {
  val Uri: URI = URI.create("faulty:///")

  private case class Fault(op: String, pattern: scala.util.matching.Regex,
                           var left: Int)
  private var armed: Option[Fault] = None

  /** The `faulty:` URI of a local path. */
  def uri(localPath: String): String = s"faulty://$localPath"

  /** Fail the `n`-th `op` whose path matches `pattern` (a regex found
    * anywhere in the path), then disarm.
    */
  def failNth(op: String, pattern: String, n: Int = 1): Unit = synchronized {
    armed = Some(Fault(op, pattern.r, n))
  }

  /** Disarm; true when the armed fault never fired. */
  def reset(): Boolean = synchronized {
    val unfired = armed.isDefined
    armed = None
    unfired
  }

  private def check(op: String, path: String): Unit = synchronized {
    armed.foreach { f =>
      if (f.op == op && f.pattern.findFirstIn(path).isDefined) {
        f.left -= 1
        if (f.left == 0) {
          armed = None
          throw new IOException(s"injected fault: $op $path")
        }
      }
    }
  }
}
