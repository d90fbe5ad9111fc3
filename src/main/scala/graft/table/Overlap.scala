package graft.table

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Try}

import org.apache.spark.sql.{GraftFunctions, SparkSession}

/** Overlaps a few independent, latency-bound driver calls — schema
  * inference, small Spark jobs — that would otherwise leave the executors
  * idle while they run one after another. Each call's own work is unchanged.
  */
private[table] object Overlap {

  /** Runs `bodies` at the same time on a pool of `min(bodies.size, maxThreads)`
    * daemon threads named `<name>-<i>`, created for this call. Each body
    * sees the caller's active session, local properties and artifact state
    * ([[GraftFunctions.withCallerContext]]).
    *
    * Results come back in the order of `bodies`. If any body throws, every
    * other body is waited for, then the first failure in that order is
    * rethrown as itself. Every pool thread has ended when this returns.
    */
  def all[T](spark: SparkSession, name: String, maxThreads: Int)(bodies: Seq[() => T]): Seq[T] = {
    val threads = ArrayBuffer.empty[Thread]
    val factory: ThreadFactory = r => threads.synchronized {
      val t = new Thread(r, s"$name-${threads.size}")
      t.setDaemon(true)
      threads += t
      t
    }
    val pool = Executors.newFixedThreadPool(math.min(bodies.size, maxThreads), factory)
    try {
      val futures = bodies.map(b => GraftFunctions.withCallerContext(spark, pool)(b())).toVector
      futures.map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }).map(_.get)
    } finally {
      pool.shutdown()
      threads.synchronized(threads.toVector).foreach(_.join())
    }
  }
}
