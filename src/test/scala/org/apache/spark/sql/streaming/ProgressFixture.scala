package org.apache.spark.sql.streaming

import scala.jdk.CollectionConverters._

/** Test-side access to the progress-event constructor Spark keeps
  * `private[spark]`, so a listener can be driven with exact durations
  * instead of a live query's timings. */
object ProgressFixture {
  def event(name: String, timestamp: String, durationMs: Map[String, Long])
      : StreamingQueryListener.QueryProgressEvent =
    new StreamingQueryListener.QueryProgressEvent(new StreamingQueryProgress(
      java.util.UUID.randomUUID(), java.util.UUID.randomUUID(), name,
      timestamp, 0L, durationMs.getOrElse("triggerExecution", 0L),
      durationMs.map { case (k, v) => k -> java.lang.Long.valueOf(v) }.asJava,
      new java.util.HashMap[String, String](), Array.empty, Array.empty,
      null, new java.util.HashMap[String, org.apache.spark.sql.Row]()))
}
