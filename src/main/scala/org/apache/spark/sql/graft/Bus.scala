package org.apache.spark.sql.graft

import java.util.Properties
import java.util.concurrent.TimeoutException

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The listener-bus internals `graft.etl.Telemetry` reads; they are
  * `private[spark]` or `private[sql]`, hence this package. */
object Bus {
  /** Waits up to `timeoutMs` until every posted event is delivered. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }

  def listeners[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  def jobTags(props: Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .toSeq.flatMap(_.split(SparkContext.SPARK_JOB_TAGS_SEP)).filter(_.nonEmpty)

  /** The executed query of a successful SQL execution. */
  def succeeded(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    if (e.executionFailure.isEmpty) Option(e.qe) else None
}
