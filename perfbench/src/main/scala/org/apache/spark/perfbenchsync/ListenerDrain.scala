package org.apache.spark.perfbenchsync

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: listener events arrive
  * asynchronously, so the trace is only complete once the queue has
  * drained. The public API offers no flush. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
