package org.apache.spark.sql.graft

import java.io.File

import org.apache.spark.util.ShutdownHookManager

/** Spark's delete-on-exit registry for temp directories the engine
  * makes outside Spark's own local dirs (session artifacts at rest).
  * Spark deletes every registered directory in a shutdown hook that
  * runs after the SparkContext stops. The registry is
  * `private[spark]`; like [[StreamingFrame]], this object lives under
  * `org.apache.spark` only so scalac accepts the call.
  */
object ShutdownDelete {
  def register(dir: String): Unit =
    ShutdownHookManager.registerShutdownDeleteDir(new File(dir))

  def registered(dir: String): Boolean =
    ShutdownHookManager.hasShutdownDeleteDir(new File(dir))
}
