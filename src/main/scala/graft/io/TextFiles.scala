package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** Small UTF-8 text files kept beside published data: the streaming
  * registry's build params, a vector index's build record, absorb
  * manifests. Params are one `key=value` per line.
  */
object TextFiles {

  def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val b = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, b, 4096, false)
      b.toString("UTF-8")
    } finally in.close()
  }

  def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  def readParams(fs: FileSystem, p: Path): Map[String, String] =
    read(fs, p).linesIterator.filter(_.contains("=")).map { l =>
      val i = l.indexOf('=')
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  def writeParams(fs: FileSystem, p: Path, params: Seq[(String, String)]): Unit =
    write(fs, p, params.map { case (k, v) => s"$k=$v" }.mkString("\n"))
}
