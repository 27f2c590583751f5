package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every program builds on: master, shuffle
  * partitions, the UTC session time zone, no UI, and the engine's SQL
  * functions through [[GraftExtensions]]. A caller adds only what is
  * its own (an app name, a result-size rail) before `getOrCreate()`. */
object Sessions {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
