package org.apache.spark

/** Test-scope control of a SparkContext's checkpoint directory — the
  * setting `spark.checkpoint.dir` installs at start-up, which the
  * iterative operators read to pick reliable over local truncation.
  * Lives in `org.apache.spark` because `SparkContext.checkpointDir` is
  * `private[spark]`: the public API can set a directory but never
  * clear one, so a spec could not otherwise put the context back the
  * way it found it.
  */
object TestCheckpointDir {

  /** Run `body` with `dir` installed as `sc`'s checkpoint directory,
    * then restore the previous directory (or none), also when `body`
    * throws.
    */
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body
    finally sc.checkpointDir = prev
  }
}
