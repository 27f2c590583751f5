package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension registration of the engine's native expressions —
  * the `SparkSessionExtensions` injection point, so a deployment can
  * enable the engine's SQL surface cluster-wide without any
  * driver-side `register()` call:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions   // or
  * SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * Functions are injected into the analyzer's registry (not temp
  * functions), so they resolve in views, `spark.sql`, and thrift
  * sessions alike. Every program's session ([[Sessions]]) is built
  * with it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.table.foreach(ext.injectFunction)
}
