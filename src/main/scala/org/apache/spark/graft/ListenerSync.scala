package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain for job-counting listeners (the
  * test suites' Spark-job guards): `SparkContext.listenerBus.waitUntilEmpty`
  * is `private[spark]`, so this one-method bridge lives under
  * `org.apache.spark`. A fixed sleep instead would race: under load,
  * late JobStart/JobEnd events land after the count is read.
  * Measurement plumbing only; no query path touches this.
  */
object ListenerSync {
  /** Block until every queued listener event has been delivered, or
    * `timeoutMs` elapses (best-effort: a timeout or a stopped context
    * degrades to the old imprecision, never to a failure).
    */
  def drain(sc: SparkContext, timeoutMs: Long = 5000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }
}
