package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Runs a test body with a checkpoint dir on the context, then restores
  * the previous setting (usually none): Spark's public API can set a dir
  * but never unset it, and later tests share the context.
  */
object CheckpointDirs {
  def withDir[A](sc: SparkContext, dir: String)(body: => A): A = {
    val before = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = before
  }
}
