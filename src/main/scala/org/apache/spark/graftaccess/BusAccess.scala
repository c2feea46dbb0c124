package org.apache.spark.graftaccess

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` and its `waitUntilEmpty` are `private[spark]`;
  * this accessor lets diagnostics settle the bus instead of sleeping.
  */
object BusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
