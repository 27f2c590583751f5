package graft

import org.apache.spark.sql.functions._

import graft.functions.RollingHash
import graft.schema.{SchemaAggregator, SchemaYaml}

/** Specs for the engine's native expressions (codegen dot product,
  * rolling hash) and the schema-union Aggregator. */
class FunctionsSpec extends SparkSuite {

  test("dot_product matches the higher-order-function fold bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, 0.2), Seq(0.3, 0.7)),
      (Seq.empty[Double], Seq.empty[Double])
    ).toDF("a", "b")
    val out = df.select(
      expr("dot_product(a, b)").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p)").as("ref"))
      .collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(out(0).getDouble(0) == 32.0)
    assert(out(2).getDouble(0) == 0.0)
  }

  test("intersect_count equals array_intersect cardinality on sorted sets (incl. empty/disjoint)") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)), // partial overlap
      (Seq(1L, 2L), Seq(3L, 4L)),                  // disjoint
      (Seq.empty[Long], Seq(1L, 2L)),              // empty side
      (Seq(-5L, 0L, 7L), Seq(-5L, 0L, 7L))         // identical, negatives
    ).toDF("a", "b")
    val out = df.select(
      expr("intersect_count(a, b)").as("fast"),
      size(array_intersect($"a", $"b")).cast("long").as("ref")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 0L, 0L, 3L))
  }

  test("intersect_count stays inside whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("sort_array(transform(embedding, x -> CAST(x * 1000 AS BIGINT))) AS v")
      .selectExpr("intersect_count(v, v) AS c")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("intersect_count") && l.contains("*(")), plan)
    assert(df.agg(min("c")).first().getLong(0) >= 0L)
  }

  test("minhash_sig emits the shingle set SORTED ascending (intersect_count precondition)") {
    import spark.implicits._
    val sets = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("split(lower(text), '\\\\W+') AS toks")
      .where(size($"toks") >= 3)
      .selectExpr("minhash_sig(toks).shs AS shs")
      .collect().map(_.getSeq[Long](0))
    assert(sets.nonEmpty)
    sets.foreach(s => assert(s == s.sorted, s.take(5).toString))
  }

  test("dot_product stays inside whole-stage codegen") {
    // needs a real scan: a local relation is folded at plan time
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("dot_product(v, v) AS d")
    // executedPlan.toString marks codegen stages with a `*(n)` prefix;
    // the dot_product projection must carry one (note: the transform()
    // projection below it does NOT — higher-order fns break codegen,
    // which is exactly why DotProduct exists)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("dot_product") && l.contains("*(")), plan)
    assert(df.agg(min("d")).first().getDouble(0) >= 0.0)
  }

  test("py_cast stays inside whole-stage codegen and matches the Python grammars") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("CAST(doc_id AS STRING) AS s")
      .selectExpr("s", "py_cast(s, 'int64', 'strict', 's') AS n")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("py_cast") && l.contains("*(")), plan)
    assert(!df.orderBy("n").first().isNullAt(1)) // digits: int yes
    // iso no: a literal Python rejects raises, naming the column
    val e = intercept[Exception](df.selectExpr("py_cast(s, 'date32[day]', 'strict', 's') AS d").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("ValueError: invalid iso literal for column s: '")), e)
  }

  test("count_in_set matches the IN-list HOF filter; sum_strlen matches the fold") {
    import spark.implicits._
    val df = Seq(
      Seq("the", "cat", "and", "the", "dog"),
      Seq("x", "", "THE"), // case-sensitive like IN; empty never matches
      Seq.empty[String]
    ).toDF("toks")
    val out = df.select(
      expr("count_in_set(toks, array('the', 'a', 'of', 'and'))").as("fast"),
      expr("size(filter(toks, t -> t IN ('the', 'a', 'of', 'and')))").as("ref"),
      expr("sum_strlen(toks)").as("len_fast"),
      expr("aggregate(transform(toks, t -> length(t)), 0L, (a, x) -> a + x)").as("len_ref"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(0) == r.getInt(1))
      assert(r.getLong(2) == r.getLong(3))
    }
    assert(out(0).getInt(0) == 3)
    assert(out(1).getInt(0) == 0)
  }

  test("count_in_set and sum_strlen stay inside whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("array_remove(split(lower(text), '\\\\W+'), '') AS toks")
      .selectExpr(
        "count_in_set(toks, array('the', 'a')) AS c",
        "sum_strlen(toks) AS l")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("count_in_set") && l.contains("*(")), plan)
    assert(df.agg(min("c"), min("l")).first().getInt(0) >= 0)
  }

  test("simhash64: distinct-token set semantics, reference fold parity, codegen") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("alpha", "beta", "gamma")),
      (2L, Seq("beta", "alpha", "gamma", "alpha", "")), // reorder + dup + empty: same set
      (3L, Seq("alpha", "beta", "delta")),
      (4L, Seq.empty[String])
    ).toDF("id", "toks")
    val rows = df.select($"id", expr("simhash64(toks)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // order/duplication/empty-token invariant (set semantics)
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
    assert(rows(4L) == 0L)
    // independent Scala reference: per-bit majority vote over fnv1a
    def ref(toks: Set[String]): Long = {
      val hs = toks.map(t => graft.functions.RollingHash.fnv1a(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)))
      (0 until 64).foldLeft(0L) { (acc, j) =>
        val v = hs.toSeq.map(h => if (((h >>> j) & 1L) == 1L) 1 else -1).sum
        if (v > 0) acc | (1L << j) else acc
      }
    }
    assert(rows(1L) == ref(Set("alpha", "beta", "gamma")))
    // stays inside whole-stage codegen on a real scan
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("simhash64(array_remove(split(lower(text), '\\\\W+'), '')) AS h")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("simhash64") && l.contains("*(")), plan)
  }

  test("token_tf: matches explode+groupBy multiset, skips empties/nulls, codegen") {
    import spark.implicits._
    // unit semantics: dup counting, empty + null skipped, first-occurrence order
    val rows = Seq((1L, Seq("b", "a", "", "b", null, "a", "b")))
      .toDF("id", "toks")
      .selectExpr("explode(token_tf(toks)) AS kv")
      .selectExpr("kv.tok AS tok", "kv.tf AS tf")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("b", 3L), ("a", 2L)))
    // parity on the real corpus: kernel (tok, tf) multiset per doc ==
    // the explode + filter + groupBy twin it replaces in q82
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", raw"split(lower(text), '\\W+') AS toks")
    val kernel = docs.selectExpr("doc_id", "explode(token_tf(toks)) AS kv")
      .selectExpr("doc_id", "kv.tok AS tok", "kv.tf AS tf")
    val twin = docs.selectExpr("doc_id", "explode(toks) AS tok")
      .where("length(tok) > 0")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    assert(kernel.exceptAll(twin).isEmpty && twin.exceptAll(kernel).isEmpty)
    // stays inside whole-stage codegen on a real scan
    val plan = docs.selectExpr("token_tf(toks) AS m")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("token_tf") && l.contains("*(")), plan)
  }

  test("rolling_hash: deterministic, position-sensitive, interpreted == codegen") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "b", "a")), // same bag, different order
      (3L, Seq("a", "b", "c"))
    ).toDF("id", "toks")
    val rows = df.select($"id", expr("rolling_hash(toks, 31L)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(1) == rows(3))
    assert(rows(1) != rows(2), "rolling hash must be position-sensitive")
    // interpreted path agrees with codegen
    val expected = Seq("a", "b", "c").foldLeft(0L)((h, t) =>
      h * 31L + RollingHash.fnv1a(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    assert(rows(1) == expected)
  }

  test("schema-union Aggregator: one inferred schema per group in one pass") {
    import spark.implicits._
    val now = 1767225600.0
    val docs = Seq(
      ("t1", """{"a": 1, "b": "x"}"""),
      ("t1", """{"a": 2.5, "c": true}"""),
      ("t2", """{"only": "2024-01-01"}""")
    ).toDF("tenant", "doc")
    val out = docs.groupBy($"tenant")
      .agg(SchemaAggregator.inferSchemaAgg($"doc", "grouped", now).as("schema_yaml"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val t1 = SchemaYaml.load(out("t1"))
    assert(t1.fieldMap("a") == graft.types.AType.AFloat32) // int x float -> float
    assert(t1.fieldMap("b") == graft.types.AType.AString)
    assert(t1.fieldMap("c") == graft.types.AType.ABool)
    val t2 = SchemaYaml.load(out("t2"))
    assert(t2.fieldMap("only") == graft.types.AType.ADate32)
  }

  test("schema-union Aggregator preserves nested types (no lossy alias round-trip)") {
    import spark.implicits._
    val now = 1767225600.0
    // nested structs/lists: a buffer that round-tripped through alias
    // strings could degrade these mid-aggregation; the typed buffer must
    // agree with the treeAggregate inference path exactly
    // same keys in the same order everywhere, so the merged field order
    // is independent of partition-combine order on both paths
    val docs = Seq(
      """{"user": {"name": "ada", "age": 36}, "tags": ["x", "y"]}""",
      """{"user": {"name": "alan", "age": 41.5}, "tags": ["z"]}""",
      """{"user": {"name": "grace", "age": 29}, "tags": []}""")
    val agg = docs.toDF("doc").repartition(3)
      .agg(SchemaAggregator.inferSchemaAgg($"doc", "nested", now))
      .collect()(0).getString(0)
    val batch = graft.schema.SchemaInference.infer(
      spark.createDataset(docs), "nested", samples = 0, nowEpochSec = now)
    assert(agg == SchemaYaml.dump(batch))
    // and the nested shape really is nested, not string
    assert(agg.contains("struct<"), s"expected struct alias in:\n$agg")
  }

  test("MisraGries bound holds for every item under any chunking/merge order") {
    import graft.functions.MisraGries
    val m = 7
    // Zipf-ish synthetic stream with a long singleton tail
    val stream = (1 to 60).flatMap(i => Seq.fill(61 - i)(s"w$i")) ++
      (1 to 500).map(i => s"tail$i")
    val n = stream.length.toLong
    val truth = stream.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val mg = new MisraGries(m)
    def summarize(xs: Seq[String]) = xs.foldLeft(mg.zero)(mg.reduce)
    def bound(est: Map[String, Long]): Unit = {
      assert(est.size <= m, s"${est.size} counters > $m")
      truth.foreach { case (k, t) =>
        val e = est.getOrElse(k, 0L)
        assert(e <= t, s"$k overestimated: $e > $t")
        assert((t - e) * (m + 1) <= n, s"$k undershoots the bound: $t - $e")
      }
    }
    // single pass
    bound(mg.finish(summarize(stream)))
    // two different merge trees over four chunks (incl. a skewed one)
    val chunks = stream.grouped(stream.length / 4 + 1).map(summarize).toSeq
    val leftFold = chunks.reduceLeft(mg.merge)
    bound(mg.finish(leftFold))
    val pairwise = mg.merge(mg.merge(summarize(stream.take(13)),
      summarize(stream.slice(13, 500))), summarize(stream.drop(500)))
    bound(mg.finish(pairwise))
    // the retention guarantee: anything above n/(m+1) must survive
    val line = n / (m + 1)
    truth.filter(_._2 > line).keys.foreach { k =>
      assert(mg.finish(leftFold).contains(k), s"heavy $k evicted") }
  }

  test("q131 candidates retain every token above the N/257 line with margin") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val tok = graft.operators.Tables.documents(spark, dir)
      .select(explode(array_remove(split(lower($"text"), "\\W+"), "")).as("tok"))
    val exact = tok.groupBy($"tok").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = exact.map(_._2).sum
    val cand = tok.agg(graft.functions.MisraGries.summary($"tok", 256))
      .collect()(0).getMap[String, Long](0)
    val line = n / 257
    exact.filter(_._2 > line).foreach { case (t, c) =>
      assert(cand.contains(t), s"token $t (count $c > $line) missing") }
    // the comment's promised margin: the published 10th token clears
    // the guarantee line comfortably, so the top-10 can never be lost
    val top10 = exact.sortBy(t => (-t._2, t._1)).take(10)
    assert(top10.last._2 > 2 * line,
      s"10th count ${top10.last._2} too close to line $line")
    // and the published rows ARE the exact top-10
    val got = SparkEntry.queries("q131_heavy_hitters")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(x => (x._1, x._2)).toSeq == top10.toSeq)
    got.foreach { case (t, _, ok) => assert(ok, s"$t out of MG bound") }
  }
}
