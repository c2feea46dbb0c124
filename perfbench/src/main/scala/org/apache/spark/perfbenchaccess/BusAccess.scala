package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` and its `waitUntilEmpty` are `private[spark]`;
  * this accessor lets the benchmark settle the bus instead of sleeping.
  */
object BusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
