package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Gives a session graft's native SQL functions ([[Registry.functions]]).
  *
  * `--conf spark.sql.extensions=graft.GraftExtensions` gives every
  * session the functions, pure-SQL users included, without a code call.
  * The optimizer rules are not injected here: call
  * [[GraftSession.install]]`(spark)` once on the session to add them
  * ([[GraftSession.install]] says why they go there).
  * [[GraftSession.build]] does both.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Registry.functions.foreach(ext.injectFunction)
}
