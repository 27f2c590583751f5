package graft

/** Parity gate for the round-13 broadcast-local NSW beam
  * (Similarity.nswBeamRoundsLocal): the serve dispatches to a
  * task-local beam against broadcast artifacts when the graph fits
  * under the node cap; forcing the cap to 0 (system property) routes
  * the SAME query through the distributed round loop. The two paths
  * must produce identical rows — every published column (scored,
  * dead_scored, hits, recall) derives from the per-round visited
  * frames, so row equality proves frame equality bit-for-bit.
  *
  * r14: extended to every nswBeamRounds call site (q223's
  * incrementally-built edges, q224's live-only rebuild, q225's
  * persistence round-trip reload all feed DISTINCT artifact shapes
  * through the same dispatch), and the local frontier comparator is
  * checked against Spark's own DoubleType sort semantics on
  * non-finite scores (a zero-norm vector scores NaN/±Inf). */
class NswLocalParitySpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[Seq[Any]] =
    SparkEntry.queries(name)(spark, dir).collect().toSeq.map(_.toSeq)

  test("broadcast-local beam equals distributed round loop (all 5 serves)") {
    for (name <- Seq("q219_nsw_graph_recall", "q222_nsw_tombstone_serve",
        "q223_nsw_ingest", "q224_nsw_compacted_recall",
        "q225_nsw_index_persist")) {
      val local = rows(name)
      val dist =
        try { sys.props("graft.nsw.local.maxNodes") = "0"; rows(name) }
        finally sys.props -= "graft.nsw.local.maxNodes"
      assert(local.nonEmpty, s"$name returned no rows")
      assert(local == dist, s"$name diverged:\nlocal=$local\ndist=$dist")
    }
  }

  test("local frontier order matches Spark's (cosr DESC, cid ASC) on non-finite scores") {
    import spark.implicits._
    // every non-finite class a zero-norm query/corpus vector can
    // produce through cosr = dot / (na*nb): NaN (0/0), ±Inf (x/0),
    // plus signed zeros and ties — Spark treats NaN as LARGEST and
    // -0.0 == 0.0 (nanSafeCompareDoubles)
    val vals = Seq(
      (1L, Double.NaN), (2L, Double.PositiveInfinity), (3L, 1.0),
      (4L, 0.0), (5L, -0.0), (6L, -1.0), (7L, Double.NegativeInfinity),
      (8L, Double.NaN), (9L, 1.0), (10L, Double.PositiveInfinity))
    val sparkOrder = vals.toDF("cid", "cosr")
      .orderBy(org.apache.spark.sql.functions.col("cosr").desc,
        org.apache.spark.sql.functions.col("cid"))
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    val localOrder = vals.sortWith(graft.operators.Similarity.cosrDescIdAsc)
    assert(localOrder.map(_._1) == sparkOrder.map(_._1),
      s"comparator diverged from Spark:\nlocal=$localOrder\nspark=$sparkOrder")
  }

  test("malformed node-cap override degrades instead of failing the serve") {
    val out =
      try { sys.props("graft.nsw.local.maxNodes") = "not-a-number"; rows("q219_nsw_graph_recall") }
      finally sys.props -= "graft.nsw.local.maxNodes"
    assert(out.nonEmpty)
  }
}

/** Pins the streaming NSW serve's rows on a hand-built graph whose
  * corpus holds a zero vector (every cosine against it is NaN, which
  * sorts first in the frontier) and whose edges point at an id the
  * corpus does not hold (skipped, like the batch inner join). The
  * expected rows were produced by the serve before it shared its beam
  * with the batch path, so they pin that the shared kernel keeps the
  * stream's entry rule, frontier order, self exclusion and ranking. */
class NswStreamFixtureSpec extends SparkSuite {
  test("nswServeStream rows on a NaN-scoring, dangling-edge fixture are pinned") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.8, 0.6)), (3L, Seq(0.0, 1.0)),
      (4L, Seq(0.0, 0.0)), (5L, Seq(-1.0, 0.0)), (6L, Seq(0.6, -0.8)),
      (7L, Seq(0.3, 0.2))).toDF("vec_id", "v")
    val centroids = Seq((100L, Seq(1.0, 0.0), 1.0), (101L, Seq(0.0, 1.0), 1.0),
      (102L, Seq(-1.0, 0.0), 1.0)).toDF("cid", "cv", "cc")
    val anchors = Seq((100L, 1L), (100L, 7L), (101L, 3L), (102L, 5L)).toDF("cell", "cid")
    // 99 is not in the corpus
    val edges = Seq((1L, 2L), (1L, 4L), (2L, 3L), (2L, 99L), (3L, 4L), (3L, 5L),
      (4L, 6L), (5L, 6L), (6L, 1L), (7L, 99L), (7L, 2L), (99L, 5L)).toDF("src", "dst")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamOps.nswServeStream(input.toDF().toDF("qid", "v"),
        corpus, centroids, edges, anchors, k = 3, beam = 2, rounds = 2)
      .writeStream.format("memory").queryName("nsw_fixture").outputMode("append").start()
    try {
      // qid 1 is also a corpus id (excluded as its own entry and
      // neighbour); qid 40 is a zero query (every cosine NaN)
      input.addData((1L, Seq(1.0, 0.1)), (40L, Seq(0.0, 0.0)), (41L, Seq(0.2, 0.9)),
        (42L, Seq(-0.5, -0.5)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("nsw_fixture").as[graft.streaming.StreamOps.NswHit].collect()
      .sortBy(h => (h.qid, h.rank)).toSeq
    val nan = Double.NaN
    val expected = Seq(
      (1L, 1, 4L, nan), (1L, 2, 7L, 0.883116), (1L, 3, 2L, 0.855732),
      (40L, 1, 1L, nan), (40L, 2, 2L, nan), (40L, 3, 3L, nan),
      (41L, 1, 4L, nan), (41L, 2, 3L, 0.976187), (41L, 3, 2L, 0.759257),
      (42L, 1, 4L, nan), (42L, 2, 5L, 0.707107), (42L, 3, 6L, 0.141421))
    // toString compares NaN equal to NaN
    assert(got.map(h => (h.qid, h.rank, h.vec_id, h.cosine.toString)) ==
      expected.map { case (q, r, id, c) => (q, r, id, c.toString) }, got.mkString("\n"))
  }
}
