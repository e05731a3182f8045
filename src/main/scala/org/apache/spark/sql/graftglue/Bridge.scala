package org.apache.spark.sql.graftglue

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.Utils

/** Minimal bridge to the private[sql] Column <-> Expression converters —
  * the supported extension seam for user-defined Catalyst expressions in
  * Spark 4 (Column no longer exposes .expr publicly) — and to the
  * private[spark] thread-local properties a pooled thread must be handed
  * explicitly (it inherited only its creator's copy).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The active context and a copy of this thread's local properties
    * (job description, group, tags, interrupt-on-cancel, ...). */
  def captureLocalProperties(): Option[(SparkContext, Properties)] =
    SparkContext.getActive.map(sc => (sc, Utils.cloneProperties(sc.getLocalProperties)))

  /** Run `body` with `props` as this thread's local properties, then
    * put the thread's own back. */
  def withLocalProperties[T](sc: SparkContext, props: Properties)(body: => T): T = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }
}
