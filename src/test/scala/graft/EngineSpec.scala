package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.normalize.Normalizer
import graft.schema.SchemaYaml

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

  test("a field widened to string next to sub-documents holds their JSON, batch and stream alike") {
    // a null widens the field to string (TypeLattice.inferJson); the one
    // reader parses it as STRING, so a sub-document keeps its JSON text,
    // as written, on both paths (the schema-less read wrote `{1, x}`)
    val dir = Files.createTempDirectory("widened")
    val in = Files.createDirectory(dir.resolve("in")).resolve("docs.jsonl")
    Files.write(in, java.util.Arrays.asList(
      """{"_id": 1, "s": {"a": 1, "b": "x"}}""",
      """{"_id": 2, "s": {"a": 2, "b": null}}""",
      """{"_id": 3, "s": null}"""))
    val batch = Engine.run(spark, Engine.JobConfig(
      input = in.toString, collection = "docs", outDir = dir.resolve("batch").toString, samples = 0))
    assert(batch.schema.fieldMap("s") == graft.types.AType.AString)
    val streamOut = dir.resolve("stream").toString
    val q = Engine.runStreaming(spark, in.getParent.toString, batch.schema, streamOut,
      dir.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    def texts(path: String) = spark.read.parquet(path).orderBy("_id").select("s").collect()
      .map(r => Option(r.getString(0))).toSeq
    val json = Seq(Some("""{"a": 1, "b": "x"}"""), Some("""{"a": 2, "b": null}"""), None)
    assert(texts(batch.outPath) == json)
    assert(texts(streamOut) == json)
  }

  test("Compat mode tests the document's own value: text \"0\" keeps its 0, batch and stream alike") {
    // the reference's `if field` (schema.py:115-116) sees text "0" as
    // truthy and casts it to 0; a number 0, a false and '' are falsy
    val dir = Files.createTempDirectory("compat")
    val in = Files.createDirectory(dir.resolve("in")).resolve("docs.jsonl")
    Files.write(in, java.util.Arrays.asList(
      """{"_id": 1, "n": 5, "b": true, "x": 1.5}""",
      """{"_id": 2, "n": "0", "b": "x", "x": "0"}""",
      """{"_id": 3, "n": 0, "b": false, "x": 0.0}""",
      """{"_id": 4, "n": {"$numberLong": "0"}, "b": "", "x": ""}"""))
    val schemaFile = dir.resolve("docs.yaml")
    Files.write(schemaFile, java.util.Arrays.asList(
      "!schema", "name: docs", "fields:", "  _id: int64", "  n: int32", "  b: bool", "  x: double"))
    val batch = Engine.run(spark, Engine.JobConfig(input = in.toString, collection = "docs",
      outDir = dir.resolve("batch").toString, schemaFile = Some(schemaFile.toString), mode = Normalizer.Compat))
    val streamOut = dir.resolve("stream").toString
    val q = Engine.runStreaming(spark, in.getParent.toString, batch.schema, streamOut,
      dir.resolve("ckpt").toString, mode = Normalizer.Compat)
    try q.processAllAvailable() finally q.stop()
    def rows(path: String) = spark.read.parquet(path).orderBy("_id").select("_id", "n", "b", "x").collect()
      .map(_.toSeq).toSeq
    val expected = Seq(Seq(1L, 5, true, 1.5), Seq(2L, 0, false, 0.0), Seq(3L, null, null, null),
      Seq(4L, null, null, null))
    assert(rows(batch.outPath) == expected)
    assert(rows(streamOut) == expected)
  }

  /** `lines` as a dump loaded against a declared schema (by default
    * {a: int64, s: string, x: double}), by `Engine.run` and by
    * `Engine.runStreaming`: each path's rows, or its failure. */
  private def loadLines(lines: Seq[String], fields: Seq[(String, String)] = Seq("a" -> "int64", "s" -> "string",
      "x" -> "double")): Seq[Either[Throwable, Seq[String]]] = {
    val dir = Files.createTempDirectory("lines")
    val in = Files.createDirectory(dir.resolve("in")).resolve("docs.jsonl")
    Files.writeString(in, lines.mkString("", "\n", "\n"))
    val schemaFile = dir.resolve("docs.yaml")
    Files.write(schemaFile, java.util.Arrays.asList(
      (Seq("!schema", "name: docs", "fields:") ++ fields.map { case (n, t) => s"  $n: $t" }): _*))
    def rows(path: String) = spark.read.parquet(path).select(fields.map(_._1).map(col): _*).collect()
      .map(_.mkString(",")).toSeq.sorted
    val batch = scala.util.Try(rows(Engine.run(spark, Engine.JobConfig(input = in.toString, collection = "docs",
      outDir = dir.resolve("batch").toString, schemaFile = Some(schemaFile.toString))).outPath)).toEither
    val streamOut = dir.resolve("stream").toString
    val q = Engine.runStreaming(spark, in.getParent.toString, SchemaYaml.loadFile(schemaFile), streamOut,
      dir.resolve("ckpt").toString)
    val stream = scala.util.Try(try q.processAllAvailable() finally q.stop()).toEither.map(_ => rows(streamOut))
    Seq(batch, stream)
  }

  /** One line of each shape the reader meets, and the rows they load. */
  private val lineLevel = Seq(
    """{"a": 1, "s": "one", "x": 1.5}""",
    "",
    "   \t ",
    """[{"a": 2, "s": "two"}, {"a": 7, "x": 3.5}]""",
    "[]",
    """{"a":2,"a":3}""",
    """{"a": 4, "s": "tail"} trailing text""",
    "not json",
    "[1,2]",
    "5",
    """{"a": 5, "x": NaN}""")
  private val lineLevelRows = Seq("1,one,1.5", "2,two,null", "7,null,3.5", "3,null,null", "4,tail,null",
    "null,null,null", "null,null,null", "null,null,null", "5,null,NaN").sorted

  test("line level: blank lines, top-level arrays, duplicate keys, trailing text, non-JSON lines, NaN") {
    for (r <- loadLines(lineLevel)) assert(r == Right(lineLevelRows))
    // NaN does not read as a bigint: both paths raise, naming the column
    for (r <- loadLines(Seq("""{"a": NaN, "s": "nan"}"""))) {
      val e = r.swap.getOrElse(fail(s"NaN loaded into a bigint column: $r"))
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.getMessage.contains("for column a")), e)
    }
  }

  test("inference reads lines as the reader does: a line that is not a document gives no evidence") {
    // the line-level case's lines, loaded with the schema inferred from all of them
    val dir = Files.createTempDirectory("inferlines")
    val in = dir.resolve("docs.jsonl")
    Files.writeString(in, lineLevel.mkString("", "\n", "\n"))
    val result = Engine.run(spark, Engine.JobConfig(input = in.toString, collection = "docs",
      outDir = dir.resolve("out").toString, samples = 0))
    assert(result.schema.fields.map(_._1) == Seq("a", "s", "x"), result.schema)
    val rows = spark.read.parquet(result.outPath).select("a", "s", "x").collect().map(_.mkString(",")).toSeq.sorted
    assert(rows == lineLevelRows)
  }

  test("a uint64 column holds 20 digits, as text and as a number, batch and stream alike") {
    val max = "18446744073709551615"
    for (r <- loadLines(Seq(s"""{"u": $max}""", s"""{"u": "$max"}""", """{"u": 7}"""), Seq("u" -> "uint64")))
      assert(r == Right(Seq(max, max, "7")))
    // 21 digits do not fit: both paths raise
    for (r <- loadLines(Seq("""{"u": 184467440737095516150}"""), Seq("u" -> "uint64")))
      assert(r.isLeft, r)
    import spark.implicits._
    val schema = graft.schema.InferredSchema("t", Vector("u" -> graft.types.AType.AUInt64))
    val text = Normalizer(schema, Seq(max).toDF("u")).collect().map(_.get(0).toString)
    val typed = Normalizer(schema, Seq(max).toDF("u").select(col("u").cast(DecimalType(20, 0)).as("u")))
      .collect().map(_.get(0).toString)
    assert(text.toSeq == Seq(max) && typed.toSeq == Seq(max))
  }

  test("Engine.run reads its input once") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler._
    val dir = Files.createTempDirectory("readonce")
    val in = dir.resolve("docs.jsonl")
    Files.write(in, (0 until 2000).map { i =>
      s"""{"_id": {"$$oid": "${f"$i%024x"}"}, "n": {"$$numberLong": "$i"}, "at": {"$$date": ${i * 3600000L}}, """ +
        s""""x": ${i * 0.25}, "ok": ${i % 2 == 0}, "note": "document $i of a dump read once by the load"}"""
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    val bytesRead = new AtomicLong
    val marker = new CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("readonce.marker") != null) markerJob = e.jobId
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == markerJob) marker.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Engine.run(spark, Engine.JobConfig(
        input = in.toString, collection = "docs", outDir = dir.resolve("out").toString, samples = 100))
      // listener events arrive in order: once a later job has ended,
      // every task of the load has been counted
      spark.sparkContext.setLocalProperty("readonce.marker", "1")
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty("readonce.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    val size = Files.size(in)
    assert(bytesRead.get < 1.5 * size, s"read ${bytesRead.get} bytes of a $size-byte input")
    assert(bytesRead.get >= size, s"read ${bytesRead.get} bytes of a $size-byte input")
  }

  test("the EL read of a 40-field dump generates no method the JIT refuses (8,000 bytes of bytecode)") {
    // HotSpot never compiles a method above HugeMethodLimit (8,000 bytes):
    // a read whose whole-stage method grows past it runs interpreted
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val root = Files.createTempDirectory("wide")
    val dump = Files.createDirectory(root.resolve("db")).resolve("wide.jsonl")
    def value(f: Int, i: Int): String = f % 8 match {
      case 0 => s"${i * 7 + f}"
      case 1 => s"""{"$$numberLong": "${8589934592L + i}"}"""
      case 2 => s"${i + f / 8 + 0.25}"
      case 3 => s""""text $i of $f""""
      case 4 => s"${i % 2 == 0}"
      case 5 => s"""{"$$date": "2024-03-${1 + i % 28}T00:00:00Z"}"""
      case 6 => s"""{"$$date": ${1709287200123L + i * 1000L}}"""
      case _ => s""""${i + f}""""
    }
    Files.write(dump, (0 until 200).map(i =>
      (0 until 40).map(f => f"\"f$f%02d\": ${value(f, i)}").mkString("{", ", ", "}")).mkString("\n").getBytes("UTF-8"))
    val src = new graft.sources.DumpSource(spark, root.toString)
    val schema = graft.schema.SchemaInference.infer(src.rawDocuments("db", "wide"), "wide")
    assert(schema.fields.size == 40)
    for ((what, df) <- Seq("DumpSource.read" -> src.read("db", "wide"),
        "DumpSource.load" -> src.load("db", "wide", schema, Normalizer.Strict))) {
      assert(df.count() == 200)
      val sizes = codegenStringSeq(df.queryExecution.executedPlan).map(_._3.maxMethodCodeSize)
      assert(sizes.nonEmpty && sizes.max <= 8000, s"$what generates a ${sizes.max}-byte method")
    }
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
