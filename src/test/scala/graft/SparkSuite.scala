package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites that need one (one session per
  * suite, lazily created — spark_guide ScalaTest pattern), built like
  * every program's: [[Sessions]], so the engine's functions come from
  * the extension. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.builder("local[4]", "4")
    .appName(getClass.getSimpleName)
    .getOrCreate()
}
