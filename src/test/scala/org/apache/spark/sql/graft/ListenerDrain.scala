package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-scope seam: block until every event already posted to the
  * listener bus has been delivered. Query-execution listeners hear about
  * a finished write asynchronously; a harness that collects them must
  * drain before it reads what they recorded. */
object ListenerDrain {
  def apply(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
