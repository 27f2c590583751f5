package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table readers + cross-engine determinism helpers shared by every
  * registered query.
  *
  * Determinism contract: each query's output is hash-compared against
  * DuckDB running the oracle SQL on the same parquet (driver contract,
  * /root/repo/BASELINE.md). Floating-point aggregation order is
  * engine-dependent, so every SUM/AVG over doubles goes through an
  * exact decimal: `sum(cast(x as decimal(s)))` is order-insensitive and
  * bit-identical in both engines; the final cast back to double is a
  * single deterministic rounding. The same pattern appears verbatim in
  * the oracle SQL.
  */
object Tables {

  /** Every registry query opens its data here, so this is where the
    * engine's SQL functions get installed on a caller's session that
    * was built without [[graft.GraftExtensions]]. (Wrapping each
    * query's build function instead would hide the operator module
    * that defines it from anything that inspects the function.) */
  def apply(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    s.read.parquet(s"$dir/$name.parquet")
  }

  def lineitem(s: SparkSession, dir: String): DataFrame = apply(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame   = apply(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = apply(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = apply(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = apply(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame   = apply(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame   = apply(s, dir, "region")
  def documents(s: SparkSession, dir: String): DataFrame = apply(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = apply(s, dir, "embeddings")

  /** events.parquet carries `timestamp[ns]`, which Spark's parquet
    * reader rejects ([PARQUET_TYPE_ILLEGAL]). Read nanos as raw longs
    * (legacy conf, runtime-settable) and truncate to the engine's
    * microsecond timestamps — the same truncation DuckDB applies when
    * casting TIMESTAMP_NS to TIMESTAMP, so both engines agree. A lake
    * rewritten by another engine (e.g. the 10x sweep corpus) may carry
    * µs timestamps instead — with nanosAsLong those arrive as a real
    * timestamp column and need no conversion, so branch on the READ
    * type, not on an assumption about the writer. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Exact order-insensitive sum of a double column: route through
    * decimal, return double. `scale` must exceed the data's true
    * decimal scale so the per-value rounding is unambiguous. */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType)

  /** Matching oracle-side SQL fragment for [[dsum]]. */
  def dsumSql(expr: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(30,$scale))) AS DOUBLE)"

  /** Exact mean: decimal sum divided by count, in double. */
  def davg(c: Column, scale: Int = 4): Column =
    (sum(c.cast(DecimalType(30, scale))).cast(DoubleType) / count(c)).cast(DoubleType)

  def davgSql(expr: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(30,$scale))) AS DOUBLE) / COUNT($expr)"

  /** Spark's `round(x, 6)` on the driver or inside a task: HALF_UP on
    * finite doubles; NaN and ±Inf pass through (a zero-norm vector's
    * cosine is NaN). The task-local kernels round with it before every
    * decision so they decide exactly as the SQL plans do. */
  def r6(x: Double): Double =
    if (java.lang.Double.isFinite(x))
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    else x
}

/** One registered operator: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the DuckDB oracle. */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
