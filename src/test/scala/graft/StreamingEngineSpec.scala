package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{call_function, col, inline, lit}
import org.apache.spark.sql.types.VariantType

import graft.normalize.Normalizer
import graft.schema.{InferredSchema, SchemaInference, SchemaYaml}
import graft.types.AType
import graft.types.AType._

/** End-to-end streaming EL: files arriving in a directory are
  * continuously normalized into parquet with exactly-once
  * checkpointing (Engine.runStreaming). */
class StreamingEngineSpec extends SparkSuite {

  test("stream of arriving jsonl files lands normalized in parquet") {
    val in = Files.createTempDirectory("streamin")
    val out = Files.createTempDirectory("streamout").toString
    val ckpt = Files.createTempDirectory("ckpt").toString

    // seed schema from the fixture via the batch path
    val fixture = Paths.get(getClass.getResource("/telemetry.jsonl").toURI)
    val schema = SchemaInference.inferFile(spark, fixture.toString, "telemetry",
      samples = 0, nowEpochSec = 1767225600.0)

    // first batch of files arrives
    Files.copy(fixture, in.resolve("batch1.jsonl"))
    val q = Engine.runStreaming(spark, in.toString, schema, out, ckpt)
    q.processAllAvailable()
    val afterOne = spark.read.parquet(out).count()
    assert(afterOne == 5)

    // a second file arrives: incremental pickup, no reprocessing
    Files.copy(fixture, in.resolve("batch2.jsonl"))
    q.processAllAvailable()
    q.stop()
    val df = spark.read.parquet(out)
    assert(df.count() == 10)
    // normalized types survived: flap_orientation inferred float32
    assert(df.schema("flap_orientation").dataType ==
      org.apache.spark.sql.types.FloatType)
  }

  /** JSON tokens as one-field documents `{"n": token}`, read by
    * `parse_ejson` as `t`: one row per token, no UDF. */
  private def readTokens(t: AType, tokens: Seq[String]) = {
    import spark.implicits._
    val yaml = SchemaYaml.dump(InferredSchema("t", Vector("n" -> t)))
    val df = tokens.map(token => s"""{"n": $token}""").toDF("value")
      .select(inline(call_function("parse_ejson", col("value"), lit(yaml), lit("strict"))))
    val exprs = df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[graft.functions.ParseExtendedJson]) &&
      !exprs.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
    df
  }

  // text reads through the Python grammar in a typed field and as
  // written in a string field
  test("parse_ejson reads numbers, wrappers and UTF-8 text; a value it cannot read raises") {
    def read(to: AType, tokens: String*): Seq[Option[Any]] =
      readTokens(to, tokens).collect().map(r => Option(r.get(0))).toSeq
    // numbers, bools, the $number* wrappers and numeric text; '' and a JSON null are NULL
    val numbers = Seq("42", "1.5", "-2.75", "true", """{"$numberLong": "8589934592"}""", """{"$numberInt": "7"}""",
      """{"$numberDouble": "2.5"}""", "\"\"", "\"12\"", "null")
    assert(read(AInt64, numbers: _*) ==
      Seq(Some(42L), Some(1L), Some(-2L), Some(1L), Some(8589934592L), Some(7L), Some(2L), None, Some(12L), None))
    assert(read(AFloat64, numbers: _*) ==
      Seq(Some(42.0), Some(1.5), Some(-2.75), Some(1.0), Some(8589934592.0), Some(7.0), Some(2.5), None, Some(12.0),
        None))
    assert(read(ABool, "true", "false", "1", "2", "null", "\"yes\"") ==
      Seq(Some(true), Some(false), Some(true), Some(false), None, Some(true)))
    // as a string: a string's own text ('' is null at the top level), a
    // wrapper's text, any other token's JSON as written
    assert(read(AString, "\"\"", "\"δέλτα\"", """{"$oid": "65a1b2c3d4e5f60718293a4b"}""",
      """{"$numberLong": "8589934592"}""", "42", "true", "null", "[1]", """{"a": 1}""", """{"$date": 0}""") ==
      Seq(None, Some("δέλτα"), Some("65a1b2c3d4e5f60718293a4b"), Some("8589934592"), Some("42"), Some("true"),
        None, Some("[1]"), Some("""{"a": 1}"""), Some("""{"$date": 0}""")))
    // $date (millis, {$numberLong}, ISO) and $binary ({base64}, legacy text)
    val dates = read(ATimestampS, """{"$date": 1709287200123}""",
      """{"$date": {"$numberLong": "1709287200123"}}""", """{"$date": "2024-03-01T10:00:00.123Z"}""")
    assert(dates.map(_.get.asInstanceOf[java.sql.Timestamp].toInstant.toString) ==
      Seq.fill(3)("2024-03-01T10:00:00.123Z"))
    // millis to micros is exact: the double (ms / 1000.0) read lands 1 µs early here
    assert(read(ATimestampS, """{"$date": 2182727972319}""").head.get.asInstanceOf[java.sql.Timestamp]
      .toInstant.toString == "2039-03-03T01:19:32.319Z")
    // a number read as a timestamp is epoch seconds, in any number shape
    val epochs = read(ATimestampS, "1709287200", "1709287200.5", "1.7092872005E9")
      .map(_.get.asInstanceOf[java.sql.Timestamp].toInstant.toString)
    assert(epochs == Seq("2024-03-01T10:00:00Z", "2024-03-01T10:00:00.500Z", "2024-03-01T10:00:00.500Z"))
    val blobs = read(ABinary, """{"$binary": {"base64": "aGVsbG8=", "subType": "00"}}""",
      """{"$binary": "aGVsbG8=", "$type": "00"}""").map(b => new String(b.get.asInstanceOf[Array[Byte]]))
    assert(blobs == Seq("hello", "hello"))
    // a value that does not read as the type raises, naming the column:
    // a wrapper of another type, an array, a plain sub-document, bad text
    for ((to, token) <- Seq(AInt64 -> """{"$oid": "65a1b2c3d4e5f60718293a4b"}""", AFloat64 -> """{"$date": 0}""",
        ABool -> "[1]", AInt64 -> """{"a": 1}""", ATimestampS -> """{"$binary": "aGVsbG8="}""",
        ABinary -> "1", AInt64 -> """{"$numberLong": "x"}""", ATimestampS -> """{"$date": "noon"}""")) {
      val e = intercept[Exception](read(to, token))
      val name = to.sparkType.simpleString
      assert(e.isInstanceOf[org.apache.spark.SparkThrowable] && e.getMessage.contains(s"as $name for column n"),
        s"$name $token: $e")
    }
  }

  test("parse_ejson numeric parity: float tokens truncate, wrappers parse, empty nulls") {
    val out = readTokens(AInt64, Seq("42", "1.5", "-2.75", "\"\"", """{"$numberLong": "8589934592"}"""))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    // a float token truncates like the batch path (json infers double;
    // ANSI double->long truncates) instead of crashing the stream; ""
    // is falsy -> null; wrappers unwrap
    assert(out.toSeq == Seq(Some(42L), Some(1L), Some(-2L), None, Some(8589934592L)))
    // genuinely non-numeric text still raises (reference ValueError parity)
    val err = intercept[Throwable] {
      readTokens(AInt64, Seq("\"abc\"")).collect()
    }
    assert(err.isInstanceOf[org.apache.spark.SparkThrowable], err.getClass.getName)
  }

  test("parse_ejson accepts Python literal grammar numerics like Normalizer's text cast") {
    // underscored, Unicode-digit, and Unicode-whitespace-padded ints —
    // all valid Python int() literals (TypeLattice.parsePythonInt)
    val ints = readTokens(AInt64, Seq("1_0", "٤٢", "  42  ").map(s => s"\"$s\""))
      .collect().map(_.getLong(0))
    assert(ints.toSeq == Seq(10L, 42L, 42L))
    val floats = readTokens(AFloat64, Seq("1_0.5", "inf", "-Infinity", "nan", "1e3").map(s => s"\"$s\""))
      .collect().map(_.getDouble(0))
    assert(floats(0) == 10.5 && floats(1).isPosInfinity &&
      floats(2).isNegInfinity && floats(3).isNaN && floats(4) == 1000.0)
  }

  test("the EL read, batch and stream, is a text scan and parse_ejson: no VARIANT, no JSON scan, no UDF") {
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.text.TextFileFormat
    val dir = Files.createTempDirectory("elplan")
    val in = Files.createDirectory(dir.resolve("shop"))
    Files.writeString(in.resolve("orders.jsonl"),
      """{"_id": {"$oid": "65a1"}, "n": {"$numberLong": "1"}, "at": {"$date": 0}, "sub": {"x": [1.5]}, "s": "a"}""" +
        "\n")
    val schema = SchemaInference.inferFile(spark, in.resolve("orders.jsonl").toString, "orders", samples = 0)
    def check(plans: Seq[QueryPlan[_]]): Unit = {
      val nodes = plans.flatMap(_.collect { case n: QueryPlan[_] => n })
      assert(!nodes.flatMap(_.output).exists(a => a.dataType.catalogString.contains(VariantType.catalogString)), plans)
      val exprs = nodes.flatMap(_.expressions).flatMap(_.collect { case e => e })
      assert(exprs.exists(_.isInstanceOf[graft.functions.ParseExtendedJson]) &&
        !exprs.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]), plans)
      val scans = nodes.collect { case s: FileSourceScanExec => s.relation.fileFormat }
      assert(scans.nonEmpty && scans.forall(_.isInstanceOf[TextFileFormat]), scans)
    }
    val load = new graft.sources.DumpSource(spark, dir.toString).load("shop", "orders", schema, Normalizer.Strict)
    load.collect()
    check(Seq(load.queryExecution.analyzed, load.queryExecution.executedPlan))
    val q = Engine.runStreaming(spark, in.toString, schema, dir.resolve("out").toString, dir.resolve("ckpt").toString)
    try {
      q.processAllAvailable()
      val run = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper].streamingQuery
      check(Seq(run.logicalPlan, run.lastExecution.executedPlan))
    } finally q.stop()
  }

  test("streaming unwraps BSON wrappers identically to the batch path") {
    val in = Files.createTempDirectory("streamwrap")
    val out = Files.createTempDirectory("streamwrapout").toString
    val ckpt = Files.createTempDirectory("wrapckpt").toString

    // wrapper-heavy documents: $oid, $numberLong, $date-as-millis,
    // $date-as-ISO, $binary, plus plain scalars. Each column keeps ONE
    // shape across rows — a column mixing wrapper and plain shapes
    // degrades to stringified JSON at json-schema-union time on the
    // batch path too (both paths share that limitation).
    val docs = Seq(
      """{"_id": {"$oid": "65a1b2c3d4e5f60718293a4b"}, "n": {"$numberLong": "8589934592"}, "ts": {"$date": 1709287200000}, "iso": {"$date": "2024-03-01T12:00:00Z"}, "blob": {"$binary": {"base64": "aGVsbG8=", "subType": "00"}}, "label": "alpha", "score": 1.5, "ok": true}""",
      """{"_id": {"$oid": "65a1b2c3d4e5f60718293a4c"}, "n": {"$numberLong": "8589934593"}, "ts": {"$date": 1709290800000}, "iso": {"$date": "2024-03-02T08:30:00Z"}, "blob": {"$binary": {"base64": "d29ybGQ=", "subType": "00"}}, "label": "beta", "score": 2.25, "ok": false}""",
      """{"_id": {"$oid": "65a1b2c3d4e5f60718293a4d"}, "n": {"$numberLong": "8589934594"}, "ts": {"$date": 1709294400000}, "iso": {"$date": "2024-03-03T23:59:59Z"}, "blob": {"$binary": {"base64": "YWJj", "subType": "00"}}, "label": "gamma", "score": -0.5, "ok": true}""")
    val src = Files.createTempDirectory("wrapsrc").resolve("docs.jsonl")
    Files.writeString(src, docs.mkString("", "\n", "\n"))

    val schema = SchemaInference.inferFile(spark, src.toString, "wrapped",
      samples = 0, nowEpochSec = 1767225600.0)

    // batch pipeline = ground truth
    val batchOut = Files.createTempDirectory("wrapbatch").toString
    val batch = Engine.run(spark, Engine.JobConfig(
      input = src.toString, collection = "wrapped", outDir = batchOut, samples = 0))

    Files.copy(src, in.resolve("batch1.jsonl"))
    val q = Engine.runStreaming(spark, in.toString, schema, out, ckpt)
    q.processAllAvailable()
    q.stop()

    val batchRows = spark.read.parquet(batch.outPath)
      .orderBy("_id").collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      })
    val streamRows = spark.read.parquet(out)
      .selectExpr(spark.read.parquet(batch.outPath).columns.map(c => s"`$c`"): _*)
      .orderBy("_id").collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      })
    assert(streamRows.toSeq == batchRows.toSeq)
  }

  test("streaming unwraps wrappers NESTED in struct/array columns like the batch path") {
    // the r3 documented limitation, now closed: wrapper scalars inside
    // arrays and sub-documents unwrap on the stream path, which reads
    // nested values as the batch path does
    val in = Files.createTempDirectory("nestwrap")
    val out = Files.createTempDirectory("nestwrapout").toString
    val ckpt = Files.createTempDirectory("nestwrapckpt").toString
    val docs = Seq(
      """{"_id": "a", "tags": [{"$numberLong": "1"}, {"$numberLong": "2"}], "meta": {"uid": {"$oid": "65a1b2c3d4e5f60718293a4b"}, "hits": {"$numberLong": "10"}}}""",
      """{"_id": "b", "tags": [{"$numberLong": "3"}], "meta": {"uid": {"$oid": "65a1b2c3d4e5f60718293a4c"}, "hits": {"$numberLong": "20"}}}""",
      """{"_id": "c", "tags": [], "meta": {"uid": {"$oid": "65a1b2c3d4e5f60718293a4d"}, "hits": {"$numberLong": "30"}}}""")
    val src = Files.createTempDirectory("nestsrc").resolve("docs.jsonl")
    Files.writeString(src, docs.mkString("", "\n", "\n"))
    val schema = SchemaInference.inferFile(spark, src.toString, "nested",
      samples = 0, nowEpochSec = 1767225600.0)
    val batchOut = Files.createTempDirectory("nestbatch").toString
    val batch = Engine.run(spark, Engine.JobConfig(
      input = src.toString, collection = "nested", outDir = batchOut, samples = 0))
    Files.copy(src, in.resolve("batch1.jsonl"))
    val q = Engine.runStreaming(spark, in.toString, schema, out, ckpt)
    q.processAllAvailable()
    q.stop()
    val cols = spark.read.parquet(batch.outPath).columns
    val batchRows = spark.read.parquet(batch.outPath)
      .orderBy("_id").collect().map(_.toSeq)
    val streamRows = spark.read.parquet(out)
      .selectExpr(cols.map(c => s"`$c`"): _*)
      .orderBy("_id").collect().map(_.toSeq)
    assert(streamRows.toSeq == batchRows.toSeq)
    // and the unwrap really landed values, not wrapper JSON text: the
    // empty array in doc c widens tags to AList(AString), so elements
    // are the unwrapped digits as strings — same as batch
    val row = spark.read.parquet(out).orderBy("_id").collect().head
    val tags = row.getSeq[String](row.fieldIndex("tags")).toList
    assert(tags == List("1", "2"), tags.toString)
    // the struct landed in inferred field order with typed leaves
    val meta = row.getStruct(row.fieldIndex("meta"))
    assert(meta.getString(0) == "65a1b2c3d4e5f60718293a4b" && meta.getLong(1) == 10L)
  }
}
