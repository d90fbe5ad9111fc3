package org.apache.spark.sql

import java.util.concurrent.{CompletableFuture, CountDownLatch, ExecutorService, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SQLExecution

/** Expression ⇄ Column bridge for graft's custom Catalyst expressions, a
  * drain for listeners on the listener bus's shared queue, and a way to run
  * driver work on another thread with the caller's context.
  *
  * Spark 4 removed the public `new Column(expr)` constructor; the supported
  * conversion lives in `org.apache.spark.sql.classic.ExpressionUtils`, which
  * is `private[sql]` — so this one-file shim sits in the `sql` package, the
  * standard pattern for Spark-native libraries that ship their own
  * expressions (the alternative, SparkSessionExtensions.injectFunction,
  * requires controlling session construction, which a library cannot assume).
  *
  * VERSION PIN: `classic.ExpressionUtils`, `SparkContext.listenerBus` and
  * `SQLExecution.withThreadLocalCaptured` are Spark 4.1.x-internal
  * (matching build.sbt's provided 4.1.2 jars). On a Spark upgrade, re-check
  * `org.apache.spark.sql.classic.ExpressionUtils.{column, expression}`,
  * `LiveListenerBus.post` and `SQLExecution.withThreadLocalCaptured(
  * classic.SparkSession, ExecutorService)(=> T)` first. If
  * `ExpressionUtils` moved, fall back to registering each expression via
  * `SparkSessionExtensions.injectFunction` (public, stable) and routing
  * `column`/`expression` through `Column(functionName, args)`. If
  * `withThreadLocalCaptured` moved, set `SparkSession.active` and a copy of
  * `SparkContext.getLocalProperties` on the pool thread by hand (artifact
  * state then falls back to the session's own). The shim is the only file
  * in the library that touches a `private[sql]`/`private[spark]` Spark API.
  */
object GraftFunctions {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached the listeners on
    * the bus's shared queue — the queue `SparkContext.addSparkListener`
    * puts every user listener on. An action posts all of its task-end
    * events before it returns, so such a listener's totals read after this
    * call count every task of the actions that already finished; a fixed
    * sleep cannot promise that on a loaded host.
    *
    * A marker event is posted behind them and awaited on that queue alone
    * (each queue delivers in posting order), so the wait never depends on
    * other queues such as the event log. Returns false if the marker has
    * not arrived within `timeoutMs`.
    */
  def drainSharedListeners(sc: SparkContext, timeoutMs: Long = 5000L): Boolean = {
    val marker = new DrainMarker
    val probe = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = if (event eq marker) marker.arrived.countDown()
    }
    sc.addSparkListener(probe)
    try {
      sc.listenerBus.post(marker)
      marker.arrived.await(timeoutMs, TimeUnit.MILLISECONDS)
    } finally sc.removeSparkListener(probe)
  }

  /** Runs `body` on `pool` under the caller's context: its active session,
    * its local properties (job group, job tags, scheduler pool, as a copy
    * taken now) and its job artifact state. The pool thread's own context is
    * put back when `body` returns normally. A failure completes the future
    * exceptionally (`get` throws an `ExecutionException` around it).
    */
  def withCallerContext[T](spark: SparkSession, pool: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool)(body)

  private final class DrainMarker extends SparkListenerEvent {
    val arrived = new CountDownLatch(1)
    override protected[spark] def logEvent: Boolean = false
  }
}
