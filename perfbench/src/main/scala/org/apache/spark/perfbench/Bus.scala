package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's flush, which Spark keeps package-private:
  * a traced run must see every job and stage event before it attributes
  * them to spans.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
