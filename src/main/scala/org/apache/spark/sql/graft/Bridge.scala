package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.SerializableConfiguration

/** Minimal `private[sql]` access bridge: converts between the public
  * `Column` API and catalyst `Expression`s so the engine's native
  * expressions (graft.functions) can be used from the DataFrame API
  * without requiring `spark.sql.extensions` registration. This is the
  * standard pattern for libraries that ship custom catalyst expressions.
  * The only other private surface touched is the Hadoop-conf broadcast
  * every file format's reader uses.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Broadcasts `conf` the way Spark's own file formats do in
    * `buildReader`; the returned function reads it back inside a task.
    */
  def broadcastHadoopConf(sc: SparkContext, conf: Configuration): () => Configuration = {
    val b = SerializableConfiguration.broadcast(sc, conf)
    () => b.value.value
  }
}
