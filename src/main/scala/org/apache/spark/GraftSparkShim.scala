package org.apache.spark

/** Bridge to the spark-package-private listener bus (same pattern as
  * [[org.apache.spark.sql.GraftSqlShim]]). Its caller is
  * [[graft.obs.Census]], which attributes Spark jobs to the span that
  * ran them: that is only exact if queued listener events are drained
  * when the span opens and when it closes. Lives in `org.apache.spark`
  * solely to satisfy `private[spark]` access; no Spark internals are
  * modified. */
object GraftSparkShim {
  def flushListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
