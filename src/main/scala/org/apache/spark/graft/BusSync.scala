package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus drain hook for [[graft.tools.Trace]].
  *
  * `LiveListenerBus.waitUntilEmpty()` is `private[spark]`, so the one
  * call the trace needs (deliver a window's queued job, task, progress
  * and plan events BEFORE its record is read, or a heavy query's tasks
  * land in the next query's record) lives in this two-line shim inside
  * the `org.apache.spark` namespace. Nothing else of Spark's internals
  * is touched; a bus that cannot drain within the timeout is reported
  * as a warning, never an abort — the record degrades to "±the queued
  * tail", the timings themselves are unaffected.
  */
object BusSync {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch {
      // NonFatal only: an OOM/fatal error must propagate, and an
      // interrupt must keep its flag — the bench's child-JVM kill path
      // interrupts this thread and a swallowed flag would hang it
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        System.err.println(s"[bench] listener bus drain interrupted: ${e.getMessage}")
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] listener bus drain failed: ${e.getMessage}")
    }
}
