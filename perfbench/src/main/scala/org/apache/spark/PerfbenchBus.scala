/* The listener bus delivers events asynchronously; the benchmark drains it
 * before it reads what its own listener has gathered for a finished span.
 */
package org.apache.spark

object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
