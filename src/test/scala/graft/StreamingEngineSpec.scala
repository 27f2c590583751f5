package graft

import java.nio.file.{Files, Paths}

import graft.schema.SchemaInference

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

  /** `unwrapVariant` over JSON tokens, as the EL reader parses them: one
    * `bson_unwrap` call per leaf, no UDF. */
  private def unwrapTokens(tokens: Seq[String], t: graft.types.AType) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, parse_json}
    val df = tokens.toDF("n").select(graft.sources.ExtendedJsonSource.unwrapVariant(
      "n", parse_json(col("n")), t, graft.normalize.Normalizer.Strict).as("v"))
    val exprs = df.queryExecution.analyzed.expressions.flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[graft.functions.BsonUnwrap]) &&
      !exprs.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
    df
  }

  test("bson_unwrap reads numbers, wrappers and UTF-8 text; a value it cannot read raises") {
    import spark.implicits._
    def read(to: String, tokens: String*): Seq[Option[Any]] = tokens.toDF("n")
      .selectExpr(s"bson_unwrap(parse_json(n), '$to', 'n')").collect().map(r => Option(r.get(0))).toSeq
    // numbers, bools and the $number* wrappers; a string or a JSON null is NULL
    val numbers = Seq("42", "1.5", "-2.75", "true", """{"$numberLong": "8589934592"}""", """{"$numberInt": "7"}""",
      """{"$numberDouble": "2.5"}""", "\"\"", "\"12\"", "null")
    assert(read("bigint", numbers: _*) ==
      Seq(Some(42L), Some(1L), Some(-2L), Some(1L), Some(8589934592L), Some(7L), Some(2L), None, None, None))
    assert(read("double", numbers: _*) ==
      Seq(Some(42.0), Some(1.5), Some(-2.75), Some(1.0), Some(8589934592.0), Some(7.0), Some(2.5), None, None, None))
    assert(read("boolean", "true", "false", "1", "2", "null", "\"yes\"") ==
      Seq(Some(true), Some(false), Some(true), Some(false), None, None))
    // as 'string': a string's own text and a wrapper's text; NULL for the
    // rest, whose JSON the reader keeps
    assert(read("string", "\"\"", "\"δέλτα\"", """{"$oid": "65a1b2c3d4e5f60718293a4b"}""",
      """{"$numberLong": "8589934592"}""", "42", "true", "null", "[1]", """{"a": 1}""", """{"$date": 0}""") ==
      Seq(Some(""), Some("δέλτα"), Some("65a1b2c3d4e5f60718293a4b"), Some("8589934592"), None, None, None, None,
        None, None))
    // $date (millis, {$numberLong}, ISO) and $binary ({base64}, legacy text)
    val dates = read("timestamp", """{"$date": 1709287200123}""", """{"$date": {"$numberLong": "1709287200123"}}""",
      """{"$date": "2024-03-01T10:00:00.123Z"}""")
    assert(dates.map(_.get.asInstanceOf[java.sql.Timestamp].toInstant.toString) ==
      Seq.fill(3)("2024-03-01T10:00:00.123Z"))
    // millis to micros is exact: the double (ms / 1000.0) read lands 1 µs early here
    assert(read("timestamp", """{"$date": 2182727972319}""").head.get.asInstanceOf[java.sql.Timestamp]
      .toInstant.toString == "2039-03-03T01:19:32.319Z")
    // a number read as a timestamp is epoch seconds, in any number shape
    val epochs = read("timestamp", "1709287200", "1709287200.5", "1.7092872005E9")
      .map(_.get.asInstanceOf[java.sql.Timestamp].toInstant.toString)
    assert(epochs == Seq("2024-03-01T10:00:00Z", "2024-03-01T10:00:00.500Z", "2024-03-01T10:00:00.500Z"))
    val blobs = read("binary", """{"$binary": {"base64": "aGVsbG8=", "subType": "00"}}""",
      """{"$binary": "aGVsbG8=", "$type": "00"}""").map(b => new String(b.get.asInstanceOf[Array[Byte]]))
    assert(blobs == Seq("hello", "hello"))
    // a value that does not read as the type raises, naming the column:
    // a wrapper of another type, an array, a plain sub-document, bad text
    for ((to, token) <- Seq("bigint" -> """{"$oid": "65a1b2c3d4e5f60718293a4b"}""", "double" -> """{"$date": 0}""",
        "boolean" -> "[1]", "bigint" -> """{"a": 1}""", "timestamp" -> """{"$binary": "aGVsbG8="}""",
        "binary" -> "1", "bigint" -> """{"$numberLong": "x"}""", "timestamp" -> """{"$date": "noon"}""")) {
      val e = intercept[Exception](read(to, token))
      assert(e.isInstanceOf[org.apache.spark.SparkThrowable] && e.getMessage.contains(s"as $to for column n"),
        s"$to $token: $e")
    }
  }

  test("unwrapVariant numeric parity: float tokens truncate, wrappers parse, empty nulls") {
    import graft.types.AType
    val out = unwrapTokens(Seq("42", "1.5", "-2.75", "\"\"", """{"$numberLong": "8589934592"}"""),
      AType.AInt64).collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    // a float token truncates like the batch path (json infers double;
    // ANSI double->long truncates) instead of crashing the stream; ""
    // is falsy -> null; wrappers unwrap
    assert(out.toSeq == Seq(Some(42L), Some(1L), Some(-2L), None, Some(8589934592L)))
    // genuinely non-numeric text still raises (reference ValueError parity)
    val err = intercept[Throwable] {
      unwrapTokens(Seq("\"abc\""), AType.AInt64).collect()
    }
    assert(err.isInstanceOf[org.apache.spark.SparkThrowable], err.getClass.getName)
  }

  test("unwrapVariant accepts Python literal grammar numerics like the batch py_norm path") {
    import graft.types.AType
    // underscored, Unicode-digit, and Unicode-whitespace-padded ints —
    // all valid Python int() literals the batch path accepts via
    // py_norm/parsePythonInt
    val ints = unwrapTokens(Seq("1_0", "٤٢", "  42  ").map(s => s"\"$s\""), AType.AInt64)
      .collect().map(_.getLong(0))
    assert(ints.toSeq == Seq(10L, 42L, 42L))
    val floats = unwrapTokens(Seq("1_0.5", "inf", "-Infinity", "nan", "1e3").map(s => s"\"$s\""),
      AType.AFloat64).collect().map(_.getDouble(0))
    assert(floats(0) == 10.5 && floats(1).isPosInfinity &&
      floats(2).isNegInfinity && floats(3).isNaN && floats(4) == 1000.0)
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
    // arrays and sub-documents unwrap on the stream path via recursed
    // VARIANT parse types + element-wise unwrapVariant
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
