package org.apache.spark

/** Package-private parts of the running context that specs and probes
  * need, bridged from Spark's own package: a spec cannot start a second
  * context, so it changes the one it has.
  */
object SparkInternals {

  /** The context's own conf, which the scheduler reads as it starts each
    * job's task set (`spark.driver.maxResultSize` among others), set for
    * the length of `body` and then restored.
    */
  def withConf[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val old = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally old.fold[Unit](sc.conf.remove(key))(v => sc.conf.set(key, v))
  }

  /** Wait until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
