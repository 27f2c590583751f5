package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.normalize.Normalizer

/** End-to-end EL slice (SURVEY.md §7.2): extended-JSON source ->
  * infer -> config rewrite -> normalize -> hive-partitioned parquet ->
  * read-back. The Spark replacement for the reference's main()
  * (mongo2pq/main.py:17-97). */
class EngineSpec extends SparkSuite {

  private def res(name: String): String =
    Paths.get(getClass.getResource(s"/$name").toURI).toString

  test("run: infer + config + normalize + partitionBy write + read back") {
    val out = Files.createTempDirectory("engine").toString
    val result = Engine.run(spark, Engine.JobConfig(
      input = res("telemetry.jsonl"),
      collection = "telemetry",
      outDir = out,
      configFile = Some(res("telemetry_config.yaml")),
      partitionKey = Some("source_source"),
      samples = 0,
      mode = Normalizer.Strict,
      schemaOutDir = Some(out)))

    assert(result.rowsWritten == 5)
    // config applied: datapoint_source renamed (rename_regex \1_source),
    // small_int -> small_INT (rename_regex_upper), flap retyped to float
    val names = result.schema.fields.map(_._1)
    assert(names.contains("source_source") && names.contains("small_INT"))
    assert(result.schema.fieldMap("flap_orientation") == graft.types.AType.AFloat32)
    assert(result.schema.fieldMap("telemetry_snapshot_time") == graft.types.AType.ATimestampS)

    // hive layout: one directory per partition value (extract_load.py:46-56 analogue)
    val partDirs = new java.io.File(result.outPath).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(partDirs.exists(_.startsWith("source_source=sensor_a")), partDirs)

    // read back: schema + values survived the round trip
    val back = spark.read.parquet(result.outPath)
    assert(back.count() == 5)
    assert(back.schema("flap_orientation").dataType == FloatType)
    val sensorA = back.filter(back("source_source") === "sensor_a")
    assert(sensorA.count() == 2)
    // partition PRUNING, not just filtering: the predicate must reach
    // the scan as a PartitionFilter so only sensor_a's directory is
    // read — at 100 TB this is the difference between one partition
    // and a full-table scan
    val scanPlan = sensorA.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters") &&
      scanPlan.contains("sensor_a"), scanPlan)

    // inferred schema YAML was persisted and re-loads
    val yaml = graft.schema.SchemaYaml.loadFile(Paths.get(out, "telemetry.yaml"))
    assert(yaml.name == "telemetry")
  }

  test("an absent nested sub-document loads as null, as the stream path loads it") {
    val dir = Files.createTempDirectory("nested")
    val in = dir.resolve("orders.jsonl")
    Files.write(in, java.util.Arrays.asList(
      """{"_id": {"$oid": "65a1"}, "n": 1, "cust": {"name": "ann", "since": {"$date": 0}}}""",
      """{"_id": {"$oid": "65a2"}, "n": 2}"""))
    val result = Engine.run(spark, Engine.JobConfig(
      input = in.toString, collection = "orders", outDir = dir.resolve("out").toString, samples = 0))
    val back = spark.read.parquet(result.outPath)
    val byN = back.collect().map(r => r.getAs[Long]("n") -> r).toMap
    assert(!byN(1L).isNullAt(byN(1L).fieldIndex("cust")))
    assert(byN(2L).isNullAt(byN(2L).fieldIndex("cust")),
      s"absent sub-document became ${byN(2L).get(byN(2L).fieldIndex("cust"))}")
  }

  test("schema file loads when valid; parse failure falls back to inference (main.py:59-70)") {
    val out = Files.createTempDirectory("engine2").toString
    val good = Engine.run(spark, Engine.JobConfig(
      input = res("telemetry.jsonl"), collection = "telemetry",
      outDir = out + "/good", schemaFile = Some(res("telemetry.yaml")), samples = 0))
    // declared schema wins: flap_orientation is double in telemetry.yaml
    assert(good.schema.fieldMap("flap_orientation") == graft.types.AType.AFloat64)

    val fallback = Engine.run(spark, Engine.JobConfig(
      input = res("telemetry.jsonl"), collection = "telemetry",
      outDir = out + "/fb", schemaFile = Some(res("telemetry_broken.yaml")), samples = 0))
    // broken schema file -> inferred instead (float32 from the data)
    assert(fallback.schema.fieldMap("flap_orientation") == graft.types.AType.AFloat32)
  }
}
