package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/** Standard Spark extension packaging: enables graft's native functions
  * in ANY session via configuration —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * — for pure-SQL users and notebooks that never touch graft's Scala
  * API. It injects [[GraftFunctions]]' one list, the list
  * `GraftFunctions.register` binds imperatively, so either (or both)
  * can be active and the two cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
