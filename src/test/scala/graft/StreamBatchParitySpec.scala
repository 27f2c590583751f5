package graft

import java.nio.file.Files
import java.time.Instant

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.normalize.Normalizer

/** Batch and streaming EL agree on generated extended-JSON documents,
  * and both reproduce the engine's old schema-less reader
  * ([[SchemaLessReader]], its old text cast and `Normalizer`, which then
  * meets only typed columns, so the reader's own cast is not checked
  * against itself): for every generated dump,
  * `Engine.runStreaming` (fed the schema the batch load inferred) writes
  * the same rows as `Engine.run`, and each writes the rows of the old
  * reader. Batch and stream share one reader, so their agreement alone
  * would prove little; the old reader is the reference.
  *
  * The generator mixes, per row: `$oid`/`$numberLong`/`$numberInt`/
  * `$numberDouble` wrappers in one field, `$date` as millis, as
  * `{$numberLong}` and as ISO text, `$binary`, arrays of sub-documents,
  * absent sub-documents, falsy `''`/`0`/`false`/null values, int vs
  * numeric-text drift and int vs float drift (float tokens such as
  * `2.0`, `1e3` and `1.50`, also in a field that the lattice widens to
  * string). Within one field every row keeps to shapes the old reader
  * unwraps: plain values never share a field with wrappers, and one
  * field holds one `$date` shape.
  *
  * One known difference from the old reader is generated, in field
  * `alt` (`Plan.widenedSub`), and left out of the comparison with the
  * old reader only: a JSON null or an empty array in a field whose other
  * rows hold sub-documents. The lattice widens such a field to string;
  * the old reader wrote Spark's struct text (`{1, x}`) there, the engine
  * writes the document's JSON (see CHANGES.md). The old reader also
  * reads `$date` millis through a double (`millis / 1000.0`), up to 1 µs
  * early, so timestamps are compared with it to the millisecond.
  */
class StreamBatchParitySpec extends SparkSuite {

  private val mapper = new ObjectMapper()
  private def str(s: String): String = mapper.writeValueAsString(s)
  private def wrap(key: String, value: String): String = s"""{"$key": $value}"""
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private val word: Gen[String] = Gen.oneOf("alpha", "beta", "Gamma x", "δέλτα", "e\"q", "x\\y")
  private val smallInt: Gen[Long] = Gen.chooseNum(-1000L, 1000L)
  private val floatToken: Gen[String] =
    Gen.oneOf("1.5", "2.0", "-0.25", "1e3", "1.50", "100.0", "3.14159", "2.5E-3", "12345678.0")
  private val numericText: Gen[String] =
    Gen.oneOf(smallInt.map(_.toString), Gen.const(" 7 "), Gen.const("1_0"), Gen.const("+3"))

  /** Epoch millis in 1970..2099; on midnight only when `midnight`. */
  private def millis(midnight: Boolean): Gen[Long] =
    Gen.chooseNum(0L, 4102444799999L).map(ms => if (midnight) ms - ms % 86400000L else ms)
  private def dateField(shape: Int, midnight: Boolean): Gen[String] = millis(midnight).map { ms =>
    shape match {
      case 0 => wrap("$date", ms.toString)
      case 1 => wrap("$date", wrap("$numberLong", str(ms.toString)))
      case _ => wrap("$date", str(Instant.ofEpochMilli(ms).toString))
    }
  }

  private val oid: Gen[String] =
    Gen.listOfN(24, Gen.hexChar).map(h => wrap("$oid", str(h.mkString.toLowerCase)))
  private val numberLong: Gen[String] =
    Gen.chooseNum(-9000000000L, 9000000000L).map(n => wrap("$numberLong", str(n.toString)))
  private val numberInt: Gen[String] = smallInt.map(n => wrap("$numberInt", str(n.toString)))
  private val numberDouble: Gen[String] =
    Gen.oneOf("1.5", "-0.25", "3.0", "1e3", "Infinity", "42").map(d => wrap("$numberDouble", str(d)))
  private val binary: Gen[String] = word.map { w =>
    val b64 = java.util.Base64.getEncoder.encodeToString(w.getBytes("UTF-8"))
    wrap("$binary", obj(Seq("base64" -> str(b64), "subType" -> str("00"))))
  }

  /** Per-dump choices, so the lattice types vary from dump to dump. */
  private final case class Plan(idMixed: Boolean, midnight: Boolean, textInInt: Boolean,
      floatInFloat: Boolean, widenedSub: Boolean)

  private def subDocument(plan: Plan): Gen[String] = for {
    k <- numberLong
    name <- Gen.frequency(4 -> word.map(str), 1 -> Gen.const(str("")), 1 -> Gen.const("null"))
    at <- dateField(0, plan.midnight)
    v <- Gen.oneOf(smallInt.map(_.toString), numericText.map(str))
  } yield obj(Seq("k" -> k, "name" -> name, "at" -> at, "v" -> v))

  private def item(plan: Plan): Gen[String] = for {
    q <- if (plan.textInInt) Gen.oneOf(smallInt.map(_.toString), numericText.map(str))
         else smallInt.map(_.toString)
    p <- numberDouble
    w <- Gen.oneOf(smallInt.map(_.toString), floatToken)
    tag <- Gen.option(word.map(str))
  } yield obj(Seq("q" -> q, "p" -> p, "w" -> w) ++ tag.map("tag" -> _))

  private def document(plan: Plan): Gen[String] = {
    val fields: Seq[(String, Gen[String])] = Seq(
      "_id" -> (if (plan.idMixed) Gen.oneOf(oid, numberLong) else oid),
      "n" -> Gen.oneOf(numberInt, numberLong),
      "d" -> Gen.oneOf(numberDouble, numberInt, numberLong),
      "ts_ms" -> dateField(0, plan.midnight),
      "ts_nl" -> dateField(1, plan.midnight),
      "ts_iso" -> dateField(2, plan.midnight),
      "blob" -> binary,
      "txt" -> Gen.frequency(4 -> word.map(str), 1 -> Gen.const(str("")), 1 -> Gen.const("null")),
      "i_drift" -> (if (plan.textInInt) Gen.oneOf(smallInt.map(_.toString), numericText.map(str))
                    else smallInt.map(_.toString)),
      "f_drift" -> (if (plan.floatInFloat) Gen.oneOf(smallInt.map(_.toString), floatToken)
                    else smallInt.map(_.toString)),
      "zero" -> Gen.frequency(1 -> Gen.const("0"), 2 -> smallInt.map(_.toString)),
      "flag" -> Gen.oneOf("true", "false", "null"),
      "yn" -> Gen.oneOf("true", "false", str("yes"), str("no")),
      "mixed" -> Gen.oneOf(word.map(str), smallInt.map(_.toString), floatToken,
        Gen.const("12345678901234567890123"), Gen.const("true")),
      "sub" -> subDocument(plan),
      "items" -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, item(plan))).map(_.mkString("[", ", ", "]"))) ++
      (if (plan.widenedSub) Seq("alt" -> Gen.frequency(
        4 -> Gen.zip(smallInt, word).map { case (a, b) => obj(Seq("a" -> a.toString, "b" -> str(b))) },
        1 -> Gen.const("null"), 1 -> Gen.const("[]")))
      else Nil)
    // every field but _id is absent from about one row in six
    val present = fields.map { case (name, g) =>
      if (name == "_id") g.map(v => Some(name -> v))
      else Gen.frequency(5 -> g.map(v => Some(name -> v)), 1 -> Gen.const(None))
    }
    Gen.sequence[Seq[Option[(String, String)]], Option[(String, String)]](present)
      .map(fs => obj(fs.flatten))
  }

  private val dump: Gen[Seq[String]] = for {
    plan <- Gen.resultOf(Plan.apply _)
    n <- Gen.choose(20, 60)
    docs <- Gen.listOfN(n, document(plan))
  } yield docs

  /** Load `docs` both ways and with the old reader; None when all rows
    * agree, else a report. */
  private def mismatch(docs: Seq[String]): Option[String] = {
    val src = Files.createTempDirectory("paritysrc").resolve("docs.jsonl")
    Files.writeString(src, docs.mkString("", "\n", "\n"))
    val batch = Engine.run(spark, Engine.JobConfig(input = src.toString, collection = "docs",
      outDir = Files.createTempDirectory("paritybatch").toString, samples = 0))
    val in = Files.createTempDirectory("parityin")
    Files.copy(src, in.resolve("docs.jsonl"))
    val out = Files.createTempDirectory("parityout").toString
    val q = Engine.runStreaming(spark, in.toString, batch.schema, out,
      Files.createTempDirectory("parityckpt").toString)
    try q.processAllAvailable() finally q.stop()
    val b = spark.read.parquet(batch.outPath)
    val s = spark.read.parquet(out)
    val path = Files.createTempDirectory("parityoracle").resolve("docs").toString
    val oracle = Normalizer(batch.schema, SchemaLessReader.castText(SchemaLessReader.read(spark, src.toString),
      batch.schema))
    // the oracle must not run the reader's own cast
    assert(!oracle.queryExecution.analyzed.exists(_.expressions.exists(_.exists(e =>
      e.isInstanceOf[graft.functions.PyCast] || e.isInstanceOf[graft.functions.ParseExtendedJson]))))
    oracle.write.parquet(path)
    def asOld(df: DataFrame): DataFrame = toMillis(df.drop("alt"))
    val o = asOld(spark.read.parquet(path))
    val diffs = differ("batch", b, "stream", s) ++
      differ("old reader", o, "batch", asOld(b)) ++ differ("old reader", o, "stream", asOld(s))
    diffs.headOption.map(d =>
      s"schema ${batch.schema.fields.map { case (n, t) => s"$n: ${t.alias}" }.mkString(", ")}\n$d")
  }

  /** `df` with every timestamp, at any depth, rounded to the millisecond. */
  private def toMillis(df: DataFrame): DataFrame = {
    def round(c: Column, t: DataType): Column = t match {
      case TimestampType => timestamp_millis(functions.round(unix_micros(c) / 1000.0).cast(LongType))
      case StructType(fs) => when(c.isNull, lit(null)).otherwise(struct(fs.map(f =>
        round(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
      case ArrayType(e, _) => transform(c, round(_, e))
      case _ => c
    }
    df.select(df.schema.fields.map(f => round(df.col(s"`${f.name}`"), f.dataType).as(f.name)).toIndexedSeq: _*)
  }

  /** None when `a` and `b` hold the same rows, else a report. */
  private def differ(an: String, a: DataFrame, bn: String, b: DataFrame): Option[String] =
    if (a.columns.sorted.toSeq != b.columns.sorted.toSeq)
      Some(s"columns: $an ${a.columns.mkString(",")} vs $bn ${b.columns.mkString(",")}")
    else {
      val bt = b.select(a.columns.map(c => b.col(s"`$c`")).toIndexedSeq: _*)
      val onlyA = a.exceptAll(bt).collect()
      val onlyB = bt.exceptAll(a).collect()
      if (onlyA.isEmpty && onlyB.isEmpty) None
      else {
        // the columns that differ, on the first row whose _id differs
        def show(v: Any): String = v match {
          case x: Array[Byte] => x.toSeq.toString
          case x => String.valueOf(x)
        }
        val id = a.columns.indexOf("_id")
        val diff = onlyA.headOption.flatMap(r => onlyB.find(_.get(id) == r.get(id)).map { o =>
          a.columns.indices.filter(i => show(r.get(i)) != show(o.get(i)))
            .map(i => s"${a.columns(i)}: $an ${show(r.get(i))} $bn ${show(o.get(i))}").mkString("; ")
        })
        Some(s"${onlyA.length} rows only in $an, ${onlyB.length} only in $bn; " +
          diff.getOrElse(s"first $an-only row ${onlyA.headOption.map(_.toSeq.map(show))}"))
      }
    }

  test("generated extended-JSON dumps: runStreaming rows equal Engine.run rows") {
    val seed = Seed.random()
    val prop = Prop.forAllNoShrink(dump) { docs =>
      val bad = mismatch(docs)
      Prop(bad.isEmpty) :| bad.getOrElse("") :| docs.take(3).mkString("\n")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8).withWorkers(1)
      .withInitialSeed(seed), prop)
    assert(res.passed, s"seed ${seed.toBase64}: ${res.status}")
  }
}
