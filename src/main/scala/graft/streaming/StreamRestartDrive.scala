package graft.streaming

import org.apache.spark.sql.types._

/** Restart driver for the TRUE same-checkpoint streaming recovery
  * test (StreamRestartSpec): Spark's in-process concurrency guard
  * caches commit-log entries per checkpoint path JVM-wide, so a
  * genuine stop-and-resume on one checkpoint can only be exercised
  * from a SECOND JVM (documented at StreamingSpec's replay test —
  * in-suite restarts trip STREAM_FAILED "concurrently using"). This
  * main runs ONE drain of a [[StreamOps.streamingUpsert]] over a JSON
  * file source: process everything available, stop, exit. The spec
  * invokes it twice against the same checkpoint with new input in
  * between and asserts offset and state continuity.
  *
  * args: <srcDir> <checkpointDir> <statePath>
  */
object StreamRestartDrive {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: StreamRestartDrive <srcDir> <checkpointDir> <statePath>")
    val Array(srcDir, checkpoint, statePath) = args
    val spark = graft.Sessions.builder("local[2]", "2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val schema = StructType(Seq(
      StructField("key", StringType),
      StructField("ord", LongType),
      StructField("value", StringType)))
    val stream = spark.readStream.schema(schema).json(srcDir)
    val q = StreamOps.streamingUpsert(stream, statePath, checkpoint, "key", "ord")
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    spark.stop()
    sys.exit(0)
  }
}
