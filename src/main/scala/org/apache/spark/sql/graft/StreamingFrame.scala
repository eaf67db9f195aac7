package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}

/** The `private[sql]` bridge for streaming frames.
  *
  * A V1 streaming [[org.apache.spark.sql.execution.streaming.Source]]'s
  * `getBatch` must return a DataFrame with `isStreaming = true`
  * (MicroBatchExecution asserts exactly that), and the only constructor
  * for such a frame is `SparkSession.internalCreateDataFrame` — the
  * same call Spark's own `MemoryStream` makes for its batches. Scala's
  * `private[sql]` compiles to a public JVM member; this object lives
  * under `org.apache.spark.sql` solely so scalac accepts the call. No
  * other internal API is touched: the plan wrapped here is the batch
  * DataFrame the source computed with the public surface.
  */
object StreamingFrame {
  def apply(df: DataFrame): DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema, isStreaming = true)
  }

  /** The inverse direction, for a V1 streaming SINK's `addBatch`: the
    * micro-batch arrives flagged `isStreaming = true`, and handing it
    * to a batch writer (`df.write`) would be rejected; re-wrap the
    * same physical rows as a batch frame — the same
    * `internalCreateDataFrame` call, `isStreaming = false`.
    */
  def unstream(df: DataFrame): DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema, isStreaming = false)
  }
}
