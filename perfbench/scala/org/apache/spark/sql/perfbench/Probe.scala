package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession

/** Session internals the benchmark reads between runs. The listener bus,
  * the execution-listener registry and the cache manager's entry count are
  * `private[spark]`/`private[sql]`, so this shim is compiled under
  * `org.apache.spark.sql`. It only reads state and drains the event queue;
  * it changes no engine behaviour. */
object Probe {
  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Block until every posted listener event has been delivered, so spans
    * and counters are complete before they are read. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Id of the QueryExecution an SQL execution ran (-1 if not attached). */
  def queryExecutionId(
      e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.id).getOrElse(-1L)

  /** Cached-plan entries in the session's CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    classic(spark).sharedState.cacheManager.numCachedEntries

  /** SparkListeners registered on the context's listener bus, except
    * execution-listener buses: a cloned session (the cache manager clones
    * one per cached plan) brings its own whenever a QueryExecutionListener
    * is registered, and the context cleaner retires it with the clone.
    * Leaked QueryExecutionListeners are counted by [[executionListeners]]. */
  def sparkListeners(spark: SparkSession): Seq[AnyRef] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
      .filterNot(_.isInstanceOf[org.apache.spark.sql.util.ExecutionListenerBus])
  }

  def removeSparkListener(spark: SparkSession, l: AnyRef): Unit =
    spark.sparkContext.listenerBus.removeListener(
      l.asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])

  /** QueryExecutionListeners registered on the session. */
  def executionListeners(spark: SparkSession): Int = {
    val mgr = classic(spark).listenerManager
    val f = mgr.getClass.getDeclaredField("listenerBus")
    f.setAccessible(true)
    f.get(mgr).asInstanceOf[Option[org.apache.spark.sql.util.ExecutionListenerBus]]
      .map(_.listeners.size).getOrElse(0)
  }

  /** Drop the listeners a run left behind beyond the first `keep`. */
  def removeExecutionListenersBeyond(spark: SparkSession, keep: Int): Unit = {
    val mgr = classic(spark).listenerManager
    val f = mgr.getClass.getDeclaredField("listenerBus")
    f.setAccessible(true)
    f.get(mgr).asInstanceOf[Option[org.apache.spark.sql.util.ExecutionListenerBus]]
      .foreach { bus =>
        val ls = bus.listeners
        (keep until ls.size).reverse.foreach(i => mgr.unregister(ls.get(i)))
      }
  }
}
