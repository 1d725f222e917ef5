// Lives in an org.apache.spark subpackage only to reach the listener bus's
// private[spark] wait, which the tracer needs so that every event of a span
// is delivered before the span closes.
package org.apache.spark.perfbench

import org.apache.spark.SparkContext

object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
