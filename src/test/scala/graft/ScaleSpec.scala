package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scale

/** Skew-mitigation + session-extension specs. */
class ScaleSpec extends SparkSuite {

  test("salted two-phase agg equals the plain aggregate") {
    import spark.implicits._
    // a deliberately skewed key: 9000 of 10000 rows share key 'hot'
    val df = ((1 to 9000).map(i => ("hot", i.toDouble)) ++
      (1 to 1000).map(i => (s"k${i % 7}", i.toDouble))).toDF("k", "v")
    val salted = Scale.saltedAgg(df, $"k", $"v".cast(DecimalType(30, 4)), saltBuckets = 8)
      .select($"k", $"n", $"s".cast("double").as("s")).orderBy($"k")
    val plain = df.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v".cast(DecimalType(30, 4))).cast("double").as("s"))
      .orderBy($"k")
    assert(salted.collect().toSeq == plain.collect().toSeq)
  }

  test("AQE splits the skewed partition of a shuffle join at runtime") {
    import spark.implicits._
    // ~64 MB-at-scale analogue shrunk to test size: one hot key owns
    // ~90% of the left side's bytes. With broadcast off, a static plan
    // sends every hot row to ONE reducer; AQE's skew-join rule must
    // split that partition into parallel sub-reads instead.
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.coalescePartitions.enabled" -> spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // 60% of all rows (and bytes) carry key 0 -> with 4 shuffle
      // partitions the hot partition is ~2.5x the median. The payload
      // must depend on a column or constant folding hoists it past the
      // exchange and the hot partition's bytes vanish.
      val left = spark.range(50000)
        .select(when($"id" % 5 < 3, lit(0L)).otherwise($"id").as("k"),
          concat(lit("x" * 128), $"id" % 97).as("pay"))
      val right = spark.range(50000).select($"id".as("k"), lit(1L).as("m"))
      val joined = left.join(right, "k")
      // collect() executes THIS queryExecution (count() would plan a
      // separate one and leave joined's adaptive plan unfinalized)
      assert(joined.collect().length == 50000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split SMJ in the adaptive plan:\n$finalPlan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("v1Bloom: zero false negatives, and realized fp near the requested rate") {
    import spark.implicits._
    // the round-6 q142 finding this guards against: Spark's built-in
    // stat.bloomFilter default measured fp 0.22 where 0.01 was asked
    val n = 200000L
    val ins = spark.range(n).select(xxhash64($"id").as("k"))
    val bf = Scale.v1Bloom(ins, "k", n, fpp = 0.01)
    val inserted = ins.collect().map(_.getLong(0))
    assert(inserted.forall(bf.mightContain), "bloom filters must never false-negative")
    val fresh = spark.range(n, n + 200000L).select(xxhash64($"id").as("k"))
      .collect().map(_.getLong(0))
    val fp = fresh.count(bf.mightContain).toDouble / fresh.length
    // pow2 round-UP makes the realized rate <= requested; 3x headroom
    // on the assertion keeps it jitter-proof
    assert(fp <= 0.03, s"realized fp $fp vs requested 0.01")
    assert(bf.expectedFpp() <= 0.011, s"self-reported fpp ${bf.expectedFpp()}")
  }

  test("GraftExtensions injects dot_product/rolling_hash at session build") {
    // getOrCreate would silently return the active session and ignore
    // withExtensions — stop it first so the extension path really runs
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = s2.sql(
        "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "rolling_hash(array('a', 'b'), 31L) AS h").first()
      assert(r.getDouble(0) == 11.0)
      assert(r.getLong(1) != 0L)
      // the whole table, not only the two called above
      assert(graft.functions.GraftFunctions.table.map(_._1.funcName).toSet == Set("dot_product",
        "rolling_hash", "count_in_set", "sum_strlen", "simhash64", "py_cast", "minhash_sig", "token_tf",
        "intersect_count", "parse_ejson"))
      graft.functions.GraftFunctions.table.foreach { case (id, _, _) =>
        assert(s2.sessionState.functionRegistry.functionExists(id), id)
      }
    } finally {
      s2.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

}
