package org.apache.spark.servebench

import org.apache.spark.SparkContext

/** Access to the listener bus flush, which Spark keeps package-private:
  * the traced run reads job and task counts only after every event of
  * the request it just timed has been delivered.
  */
object ListenerBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
