// Lives under org.apache.spark so it can restore the private[spark]
// SparkContext.checkpointDir: Spark has a public setter but no unset,
// and specs that switch the shared test session to reliable
// checkpointing must hand it back in local mode to later suites.
package org.apache.spark.graft

import org.apache.spark.SparkContext

object SessionCheckpointDir {
  /** Run `body` with the session checkpoint dir set to `dir`, then
    * restore the previous setting (usually none).
    */
  def withDir[A](sc: SparkContext, dir: String)(body: => A): A = {
    val saved = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = saved
  }
}
