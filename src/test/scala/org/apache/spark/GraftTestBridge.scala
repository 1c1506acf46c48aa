package org.apache.spark

/** Test-only access to `SparkContext` internals (private[spark]): lets a
  * spec exercise the reliable-checkpoint path of
  * `graft.ops.Checkpoints.materialize` and then restore the shared
  * session's local-mode default for the rest of the suite, and wait for
  * the listener bus so a spec can count the jobs an action started.
  */
object GraftTestBridge {
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
