package layerbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the benchmark's inputs.
  *
  * Every value is a pure function of (seed, row id, salt) through
  * `xxhash64`, and rows come from `spark.range` with a fixed partition
  * count, so the same seed gives the same tables and byte-identical
  * dumps whatever the core count. The tables follow the TPC-H-style
  * star schema the registry queries read (plus events, documents and
  * embeddings); `sf` scales row counts like TPC-H's scale factor.
  */
final class Gen(spark: SparkSession, seed: Long, sf: Double) {
  import Gen._

  private def h(salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)
  /** Uniform integer in [0, n). */
  private def pick(n: Long, salt: Int, cols: Column*): Column = pmod(h(salt, cols: _*), lit(n))
  /** Uniform double in [0, 1). */
  private def unit(salt: Int, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(1L << 40)).cast(DoubleType) / lit((1L << 40).toDouble)
  private def oneOf(values: Seq[String], salt: Int, cols: Column*): Column =
    element_at(typedLit(values), (pick(values.size, salt, cols: _*) + 1).cast(IntegerType))

  private def rows(n: Long): DataFrame = spark.range(0, n, 1, Partitions).toDF("id")
  private val id = col("id")

  val nCustomer: Long = math.max(150L, (150000 * sf).toLong)
  val nSupplier: Long = math.max(10L, (10000 * sf).toLong)
  val nPart: Long = math.max(200L, (200000 * sf).toLong)
  val nOrders: Long = math.max(1500L, (1500000 * sf).toLong)
  val nEvents: Long = math.max(1000L, (1000000 * sf).toLong)
  val nDocuments: Long = math.max(500L, (50000 * sf).toLong)
  val nEmbeddings: Long = math.max(500L, (20000 * sf).toLong)

  def region: DataFrame = spark.createDataFrame(
    Regions.zipWithIndex.map { case (n, i) => (i, n) }).toDF("r_regionkey", "r_name")

  def nation: DataFrame = spark.createDataFrame(
    Nations.zipWithIndex.map { case (n, i) => (i, n, i % 5) })
    .toDF("n_nationkey", "n_name", "n_regionkey")

  /** Customer columns as functions of the key, so documents can embed
    * a customer without a join. */
  private def customerCols(ck: Column): Seq[Column] = Seq(
    ck.as("c_custkey"),
    format_string("Customer#%09d", ck).as("c_name"),
    pick(25, 1, ck).cast(IntegerType).as("c_nationkey"),
    round(lit(-999.99) + unit(2, ck) * 10999.98, 2).as("c_acctbal"),
    oneOf(Segments, 3, ck).as("c_mktsegment"))

  def customer: DataFrame = rows(nCustomer).select(customerCols(id): _*)

  def supplier: DataFrame = rows(nSupplier).select(
    id.as("s_suppkey"),
    format_string("Supplier#%09d", id).as("s_name"),
    pick(25, 11, id).cast(IntegerType).as("s_nationkey"),
    round(lit(-999.99) + unit(12, id) * 10999.98, 2).as("s_acctbal"))

  def part: DataFrame = rows(nPart).select(
    id.as("p_partkey"),
    concat_ws(" ", oneOf(Colors, 21, id), oneOf(Things, 22, id)).as("p_name"),
    concat(lit("Brand#"), (pick(25, 23, id) + 1).cast(StringType)).as("p_brand"),
    oneOf(PartTypes, 24, id).as("p_type"),
    (pick(50, 25, id) + 1).cast(IntegerType).as("p_size"),
    round(lit(900.0) + pmod(id, lit(20000L)).cast(DoubleType) / 10.0, 2).as("p_retailprice"))

  /** Order date of an order key: midnight, 1992-01-01 .. 2002-12-12. */
  private def orderDate(ok: Column): Column =
    date_add(lit("1992-01-01").cast(DateType), pick(4000, 31, ok).cast(IntegerType))

  private def custOf(ok: Column): Column = pick(nCustomer, 32, ok)

  def orders: DataFrame = rows(nOrders).select(
    id.as("o_orderkey"),
    custOf(id).as("o_custkey"),
    oneOf(Seq("O", "F", "P"), 33, id).as("o_orderstatus"),
    round(unit(34, id) * 500000.0, 2).as("o_totalprice"),
    orderDate(id).cast(TimestampType).as("o_orderdate"),
    oneOf(Priorities, 35, id).as("o_orderpriority"))

  /** Number of lines of an order: 1..7 (mean 4), so sf 0.1 gives about
    * 600k lineitem rows like TPC-H. */
  private def linesOf(ok: Column): Column = (pick(7, 41, ok) + 1).cast(IntegerType)

  /** Lineitem columns as functions of (order key, line number). */
  private def lineCols(ok: Column, ln: Column): Seq[Column] = {
    val qty = (pick(50, 42, ok, ln) + 1).cast(DoubleType)
    Seq(
      ok.as("l_orderkey"),
      pick(nPart, 43, ok, ln).as("l_partkey"),
      pick(nSupplier, 44, ok, ln).as("l_suppkey"),
      ln.as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + pick(110000, 45, ok, ln).cast(DoubleType) / 100.0), 2)
        .as("l_extendedprice"),
      (pick(11, 46, ok, ln).cast(DoubleType) / 100.0).as("l_discount"),
      (pick(9, 47, ok, ln).cast(DoubleType) / 100.0).as("l_tax"),
      oneOf(Seq("R", "A", "N"), 48, ok, ln).as("l_returnflag"),
      oneOf(Seq("O", "F"), 49, ok, ln).as("l_linestatus"),
      date_add(orderDate(ok), (pick(121, 50, ok, ln) + 1).cast(IntegerType))
        .cast(TimestampType).as("l_shipdate"))
  }

  def lineitem: DataFrame =
    rows(nOrders).select(id.as("ok"), explode(sequence(lit(1), linesOf(id))).as("ln"))
      .select(lineCols(col("ok"), col("ln")): _*)

  /** Event stream in event-time order: ~30 s apart from 2024-01-01. */
  def events: DataFrame = rows(nEvents).select(
    id.as("event_id"),
    timestamp_micros(lit(1704067200000000L) + id * 30000000L + pick(30000000L, 61, id))
      .as("ts"),
    pick(math.max(100L, nEvents / 50), 62, id).as("user_id"),
    oneOf(EventTypes, 63, id).as("event_type"),
    round(unit(64, id) * 200.0, 2).as("value"),
    format_string("{\"k\": %d}", pick(100, 65, id)).as("props"))

  /** Word-salad documents over a small vocabulary; one in 16 is a
    * near-copy of a recent document with every 7th word redrawn, so
    * the dedup queries have pairs to find. */
  def documents: DataFrame = {
    val isCopy = pick(16, 71, id) === 0 && id > 0
    val base = when(isCopy, greatest(lit(0L), id - 1 - pick(40, 72, id))).otherwise(id)
    val withBase = rows(nDocuments).select(id, base.as("base"))
    val b = col("base")
    val len = (pick(50, 73, b) + 12).cast(IntegerType)
    val words = transform(sequence(lit(0), len - 1), k =>
      element_at(typedLit(Vocab),
        (when(b =!= id && pmod(k, lit(7)) === pick(7, 74, id), pick(Vocab.size, 75, id, k))
          .otherwise(pick(Vocab.size, 76, b, k)) + 1).cast(IntegerType)))
    withBase.select(
      id.as("doc_id"),
      concat_ws(" ", words).as("text"),
      oneOf(Langs, 77, id).as("lang"),
      concat(lit("src"), pick(20, 78, id).cast(StringType)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** 64-d vectors around ten label centres. */
  def embeddings: DataFrame = {
    val lab = pick(10, 81, id)
    rows(nEmbeddings).select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        ((unit(82, lab, d) - 0.5) * 0.6 + (unit(83, id, d) - 0.5) * 0.3).cast(FloatType))
        .as("embedding"),
      lab.cast(IntegerType).as("label"))
  }

  def table(name: String): DataFrame = name match {
    case "region" => region
    case "nation" => nation
    case "customer" => customer
    case "supplier" => supplier
    case "part" => part
    case "orders" => orders
    case "lineitem" => lineitem
    case "events" => events
    case "documents" => documents
    case "embeddings" => embeddings
  }

  /** Write every table as `<dir>/<name>.parquet`, one file each (the
    * layout the registry queries and the DuckDB oracle read). The
    * writes are independent single-task jobs, so they run side by side,
    * one per core. */
  def writeTables(dir: Path): Unit = {
    val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(TableNames)(t => Future(writeTable(t, dir))), Duration.Inf)
    finally pool.shutdown()
  }

  private def writeTable(t: String, dir: Path): Unit = {
    val tmp = dir.resolve(s"$t.tmp")
    table(t).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s"$t.parquet"))
    deleteTree(tmp)
  }

  // ---- extended-JSON dumps ----------------------------------------

  private def numberLong(c: Column): Column = struct(c.cast(StringType).as("$numberLong"))
  private def numberInt(c: Column): Column = struct(c.cast(StringType).as("$numberInt"))
  private def numberDouble(c: Column): Column = struct(c.cast(StringType).as("$numberDouble"))
  private def dateIso(c: Column): Column =
    struct(date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'").as("$date"))
  private def dateMillis(c: Column): Column =
    struct(numberLong(unix_millis(c)).as("$date"))

  /** lineitem as mongoexport documents: `l_orderkey` a `$numberLong`
    * wrapper, `l_shipdate` a `$date` wrapper, the rest plain JSON. */
  def lineitemDocs: DataFrame = {
    val li = lineitem
    li.select(to_json(struct(
      numberLong(col("l_orderkey")).as("l_orderkey"),
      col("l_partkey"), col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"),
      dateIso(col("l_shipdate")).as("l_shipdate"))).as("doc"))
  }

  /** orders as documents with nested lineitems and a customer
    * sub-document. Wrappers vary by field and by row (`$oid`,
    * `$numberLong`/`$numberInt`, `$numberDouble`, `$date`), scalar
    * types drift (int vs numeric string, int vs float), falsy values
    * ('' / 0 / false) are common, and `o_audit` only appears in the
    * last 3% of the file, past the per-partition sample windows of a
    * file much larger than the sample (a smaller one is sampled whole). */
  def orderDocs: DataFrame = {
    val ok = id
    val shipPriority = pick(6, 91, ok)
    val isInt = pick(10, 93, ok) < 3
    val asText = pick(8, 94, ok) === 0
    val isFloat = pick(4, 95, ok) === 1
    val lineDocs = transform(sequence(lit(1), linesOf(ok)), ln => {
      val Seq(_, partkey, _, _, qty, price, discount, _, flag, _, ship) = lineCols(ok, ln)
      struct(
        numberInt(ln).as("l_linenumber"),
        numberLong(partkey).as("l_partkey"),
        qty.as("l_quantity"),
        numberDouble(price).as("l_extendedprice"),
        discount.as("l_discount"),
        flag.as("l_returnflag"),
        dateIso(ship).as("l_shipdate"))
    })
    val Seq(ck, cname, _, cbal, cseg) = customerCols(custOf(ok))
    val fields = Seq(
      struct(lower(concat(lpad(hex(h(92, ok)), 16, "0"), lpad(hex(ok), 8, "0"))).as("$oid"))
        .as("_id"),
      struct(when(isInt, ok.cast(StringType)).as("$numberInt"),
        when(!isInt, ok.cast(StringType)).as("$numberLong")).as("o_orderkey"),
      custOf(ok).as("o_custkey"),
      oneOf(Seq("O", "F", "P"), 33, ok).as("o_orderstatus"),
      numberDouble(round(unit(34, ok) * 500000.0, 2)).as("o_totalprice"),
      dateMillis(orderDate(ok).cast(TimestampType)).as("o_orderdate"),
      oneOf(Priorities, 35, ok).as("o_orderpriority"),
      // drift: mostly an int, sometimes the same number as text
      when(asText, shipPriority.cast(StringType)).as("o_shippriority"),
      when(!asText, shipPriority).as(s"o_shippriority$IntSuffix"),
      // drift: int (0 in a quarter of rows) or float
      when(isFloat, pick(100, 97, ok).cast(DoubleType) / 4.0).as("o_priority_score"),
      when(!isFloat, when(pick(4, 95, ok) === 0, lit(0L)).otherwise(pick(100, 98, ok)))
        .as(s"o_priority_score$IntSuffix"),
      // falsy '' in one row in five
      when(pick(5, 99, ok) === 0, lit("")).otherwise(
        concat_ws(" ", oneOf(Vocab, 100, ok), oneOf(Vocab, 101, ok))).as("o_comment"),
      (pick(3, 102, ok) === 0).as("o_gift"),
      struct(
        numberLong(ck).as("c_custkey"),
        cname.as("c_name"),
        numberDouble(cbal).as("c_acctbal"),
        cseg.as("c_mktsegment")).as("customer"),
      lineDocs.as("lineitems"),
      // to_json drops null fields: o_audit is absent before the tail
      when(ok >= lit((nOrders * 0.97).toLong), struct(
        oneOf(Seq("ana", "bo", "cy"), 103, ok).as("auditor"),
        pick(10, 104, ok).as("score"))).as("o_audit"))
    // a field's int variant is written under a suffixed name, then the
    // suffix is cut from the text: one key, two JSON types across rows
    rows(nOrders).select(
      replace(to_json(struct(fields: _*)), lit(s"$IntSuffix\""), lit("\"")).as("doc"))
  }
}

object Gen {
  private val IntSuffix = "__int"
  /** Fixed so the dumps do not depend on the core count. */
  val Partitions = 8

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
    "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Colors = Seq("blue", "red", "hot", "large", "small", "green", "pale", "dark")
  val Things = Seq("ring", "bolt", "nut", "gear", "plate", "screw", "pipe")
  val PartTypes = Seq("LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Seq("view", "click", "purchase", "signup", "error")
  val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  val Vocab = Seq("a", "the", "batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "vector",
    "customer", "join", "der", "und", "la", "le", "de", "shi")

  final case class Dump(path: Path, docs: Long, bytes: Long, sha256: String)

  /** Write a one-column `doc` frame as `<root>/<db>/<collection>.jsonl`
    * (the DumpSource layout): Spark writes the part files, which are
    * then concatenated in partition order into the single dump file. */
  def writeDump(docs: DataFrame, root: Path, db: String, collection: String): Dump = {
    val dbDir = root.resolve(db)
    Files.createDirectories(dbDir)
    val parts = root.resolve(s".$collection.parts")
    docs.write.mode("overwrite").text(parts.toString)
    val target = dbDir.resolve(s"$collection.jsonl")
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    val out = new BufferedOutputStream(new FileOutputStream(target.toFile), 1 << 20)
    try {
      Files.list(parts).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
        .foreach { p =>
          val bytes = Files.readAllBytes(p)
          md.update(bytes); out.write(bytes)
          var i = 0
          while (i < bytes.length) { if (bytes(i) == '\n') n += 1; i += 1 }
        }
    } finally out.close()
    deleteTree(parts)
    Dump(target, n, Files.size(target), md.digest().map("%02x".format(_)).mkString)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }
}
