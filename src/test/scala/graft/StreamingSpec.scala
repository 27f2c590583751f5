package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps

/** Deterministic MemoryStream tests for the streaming surface
  * (SURVEY.md §7.4.8: oracle-free, watermark semantics can't be
  * modeled in DuckDB). */
class StreamingSpec extends SparkSuite {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  final case class Ev(ts: Timestamp, event_type: String, value: Double)

  test("tumbling window agg drops late data past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.tumblingAgg(input.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()

    // batch 1: two events in hour 10, one in hour 11
    input.addData(
      Ev(ts("2024-01-01 10:05:00"), "click", 1.0),
      Ev(ts("2024-01-01 10:55:00"), "click", 2.0),
      Ev(ts("2024-01-01 11:30:00"), "click", 4.0))
    q.processAllAvailable()
    // batch 2: watermark is now 11:20; this 10:xx event is late -> dropped,
    // and the 12:xx event advances the watermark so hour-11 closes
    input.addData(
      Ev(ts("2024-01-01 10:10:00"), "click", 100.0),
      Ev(ts("2024-01-01 12:40:00"), "click", 8.0))
    q.processAllAvailable()
    input.addData(Ev(ts("2024-01-01 14:00:00"), "click", 16.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tumbling")
      .select(date_format($"w_start", "HH").as("h"), $"n", $"total_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // hour 10 closed with only the two on-time events; the late 100.0 never lands
    assert(rows.contains(("10", 2L, 3.0)))
    assert(rows.contains(("11", 1L, 4.0)))
    assert(!rows.exists(_._3 == 103.0), s"late row leaked: $rows")
  }

  test("dropDuplicatesWithinWatermark dedups per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    final case class KEv(ts: Timestamp, k: String)
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "k")
    val q = StreamOps.dedupWithinWatermark(df, Seq("k"), "10 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    input.addData(
      (ts("2024-01-01 10:00:00"), "a"),
      (ts("2024-01-01 10:01:00"), "a"),
      (ts("2024-01-01 10:02:00"), "b"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 10:03:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val ks = spark.table("dedup").select($"k").collect().map(_.getString(0)).toSeq
    assert(ks.sorted == Seq("a", "b"), s"got $ks")
  }

  test("fingerprintDedup drops near-identical docs by row-local simhash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamOps.fingerprintDedup(df, "text", "10 minutes")
      .writeStream.format("memory").queryName("fpdedup")
      .outputMode("append").start()
    input.addData(
      (ts("2024-01-01 10:00:00"), 1L, "the quick brown fox"),
      (ts("2024-01-01 10:01:00"), 2L, "quick, the brown FOX"), // same token set -> dup
      (ts("2024-01-01 10:02:00"), 3L, "an entirely different document"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("fpdedup").select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 2 && kept.contains(3L), s"got $kept")
    assert(kept.intersect(Set(1L, 2L)).size == 1)
  }

  test("incrementalIndexedDedup grows the index across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexPath = java.nio.file.Files.createTempDirectory("iidx").resolve("index").toString
    val outPath = java.nio.file.Files.createTempDirectory("iout").resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ickpt").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.incrementalIndexedDedup(
      input.toDF().toDF("doc_id", "text"), indexPath, outPath, ckpt)
    // batch 1: within-batch fingerprint dup (same token set) collapses
    // to the smallest doc_id; a distinct doc survives
    input.addData(
      (1L, "alpha beta gamma delta"),
      (2L, "ALPHA beta, gamma delta"), // same token set -> same fp
      (3L, "a completely different document"))
    q.processAllAvailable()
    val afterOne = spark.read.parquet(outPath).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterOne == Set(1L, 3L), s"got $afterOne")
    // batch 2: dup of batch 1 (caught by the PERSISTED index, not
    // batch-local state), one fresh doc, one token-less passthrough
    input.addData(
      (4L, "alpha beta gamma delta"), // fp already in the index -> dropped
      (5L, "another brand new document entirely"),
      (6L, "!!!")) // token-less: no fingerprint, always passes
    q.processAllAvailable()
    q.stop()
    val afterTwo = spark.read.parquet(outPath).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterTwo == Set(1L, 3L, 5L, 6L), s"got $afterTwo")
    // the index holds exactly the surviving fingerprints (no nulls)
    val idx = spark.read.parquet(indexPath)
    assert(idx.count() == 3 && idx.filter($"simhash".isNull).count() == 0)
  }

  test("incrementalIndexedDedup: a replayed batch leaves corpus and index unchanged") {
    import spark.implicits._
    // replay simulation: run batch 0 to completion, then restart the
    // query over the SAME source file with a FRESH checkpoint — the
    // worst-case recovery (checkpoint lost entirely), so the whole
    // batch re-runs through foreachBatch with bit-identical content.
    // (Deleting just the commit marker would be the narrower window,
    // but Spark 4's checkpoint concurrency guard keeps a JVM-wide
    // cache of commit-log entries per path, and re-running batch 0 on
    // the same checkpoint in-process trips STREAM_FAILED
    // "concurrently using"; the sink effects exercised are the same.)
    val base = java.nio.file.Files.createTempDirectory("iidx_replay")
    val srcDir = base.resolve("src").toString
    val indexPath = base.resolve("index").toString
    val outPath = base.resolve("out").toString
    Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "ALPHA beta, gamma delta"), // same token set -> in-batch dup of 1
      (3L, "a completely different document"),
      (6L, "!!!")) // token-less: null fingerprint, passes un-deduped
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(srcDir)
    def start(ckpt: String) = StreamOps.incrementalIndexedDedup(
      spark.readStream.schema("doc_id BIGINT, text STRING").parquet(srcDir),
      indexPath, outPath, base.resolve(ckpt).toString)
    val q1 = start("ckpt1")
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(outPath).select($"doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 6L))
    assert(spark.read.parquet(indexPath).count() == 2)
    val q2 = start("ckpt2")
    q2.processAllAvailable(); q2.stop()
    // fingerprinted docs: caught by the PERSISTED index on replay —
    // corpus rows and index size unchanged (document-level idempotence)
    val replayed = spark.read.parquet(outPath).select($"doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(replayed.filter(_ != 6L) == Seq(1L, 3L), s"got $replayed")
    assert(spark.read.parquet(indexPath).count() == 2, "index must not grow on replay")
    // the DOCUMENTED at-least-once exception: token-less docs carry no
    // fingerprint, so a replay re-appends them (downstream exact dedup
    // owns them — StreamOps.scala's contract)
    assert(replayed.count(_ == 6L) == 2, s"got $replayed")
    // and the stream keeps deduping correctly after recovery: ckpt2
    // committed the replayed batch, so only the new file processes
    Seq((4L, "alpha beta gamma delta"), (5L, "another brand new document"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val q3 = start("ckpt2")
    q3.processAllAvailable(); q3.stop()
    val after = spark.read.parquet(outPath).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(1L, 3L, 5L, 6L), s"got $after")
    assert(spark.read.parquet(indexPath).count() == 3)
  }

  test("fingerprintDedup passes token-less docs through un-deduped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamOps.fingerprintDedup(df, "text", "10 minutes")
      .writeStream.format("memory").queryName("fpdedup_tokenless")
      .outputMode("append").start()
    input.addData(
      // distinct punctuation-only docs: no tokens, no fingerprint —
      // must NOT collapse into one (exact dedup owns them)
      (ts("2024-01-01 10:00:00"), 1L, "!!!"),
      (ts("2024-01-01 10:01:00"), 2L, "???"),
      (ts("2024-01-01 10:02:00"), 3L, ""),
      // tokened dup pair still dedups alongside
      (ts("2024-01-01 10:03:00"), 4L, "real document text"),
      (ts("2024-01-01 10:04:00"), 5L, "real DOCUMENT text"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fpdedup_tokenless")
      .select($"doc_id", $"simhash".isNull.as("nofp")).collect()
    val kept = rows.map(_.getLong(0)).toSet
    assert(kept.intersect(Set(1L, 2L, 3L)) == Set(1L, 2L, 3L), s"got $kept")
    assert(kept.intersect(Set(4L, 5L)).size == 1, s"got $kept")
    // the passthrough rows carry a null fingerprint
    assert(rows.filter(r => Set(1L, 2L, 3L)(r.getLong(0))).forall(_.getBoolean(1)))
  }

  test("sliding windows produce overlapping buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.slidingAgg(input.toDF(), "1 minute", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("sliding")
      .outputMode("append").start()
    input.addData(Ev(ts("2024-01-01 10:07:00"), "click", 1.0))
    q.processAllAvailable()
    input.addData(Ev(ts("2024-01-01 11:00:00"), "click", 1.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val starts = spark.table("sliding")
      .select(date_format($"w_start", "HH:mm").as("s")).collect().map(_.getString(0)).toSet
    // 10:07 falls in [10:00,10:10) and [10:05,10:15)
    assert(Set("10:00", "10:05").subsetOf(starts), s"got $starts")
  }

  test("stream-stream interval join pairs errors after purchases") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    final case class Sev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val df = input.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val q = StreamOps.bandJoinStream(df, "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("band")
      .outputMode("append").start()
    input.addData(
      (1L, ts("2024-01-01 10:00:00"), 7L, "purchase"),
      (2L, ts("2024-01-01 10:03:00"), 7L, "error"),   // within 5 min -> pair
      (3L, ts("2024-01-01 10:09:00"), 7L, "error"),   // 9 min later -> no
      (4L, ts("2024-01-01 10:03:30"), 8L, "error"))   // other user -> no
    q.processAllAvailable()
    input.addData((9L, ts("2024-01-01 12:00:00"), 9L, "purchase")) // advance wm
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("band").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("stream-static enrich join is broadcast (no stream shuffle)") {
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val stream = Seq((1L, 10.0), (3L, 5.0)).toDF("user_id", "value")
    val out = StreamOps.enrich(stream, dim, "user_id")
    val rows = out.orderBy("user_id").collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(rows.toSeq == Seq((1L, 10.0, "gold"), (3L, 5.0, null)))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  final case class Doc(doc_id: Long, text: String)

  test("streaming decontamination drops docs sharing an n-gram with the static benchmark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val input = MemoryStream[Doc]
    val q = StreamOps.decontaminate(input.toDF(), bench)
      .writeStream.format("memory").queryName("decontam")
      .outputMode("append").start()
    input.addData(
      Doc(1L, "intro alpha beta gamma delta epsilon outro"), // contaminated
      Doc(2L, "one two three four five six seven"),          // clean
      Doc(3L, "short doc"))                                  // < n tokens: clean
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("decontam").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), kept)
  }

  test("streaming dedup against a static fingerprint index drops near-identical docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val textA = (1 to 30).map(i => s"tok$i").mkString(" ")
    val textB = (1 to 30).map(i => s"other$i").mkString(" ")
    val fpA = Seq(textA).toDF("text")
      .selectExpr("simhash64(array_remove(split(lower(text), '\\\\W+'), '')) AS s")
      .first().getLong(0)
    // index holds a fingerprint at hamming distance 1 from textA's
    val index = Seq(fpA ^ 1L).toDF("simhash")

    val input = MemoryStream[Doc]
    val q = StreamOps.dedupAgainstIndex(input.toDF(), index)
      .writeStream.format("memory").queryName("idxdedup")
      .outputMode("append").start()
    input.addData(Doc(1L, textA), Doc(2L, textB), Doc(3L, ""))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("idxdedup").select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 1 is hamming-1 from the index -> dropped; unique and
    // token-less docs pass
    assert(kept == Set(2L, 3L), kept)

    // at maxHamming = 0 the hamming-1 neighbor is NOT a match
    val strict = StreamOps.dedupAgainstIndex(
      Seq((1L, textA)).toDF("doc_id", "text"), index, maxHamming = 0)
    assert(strict.count() == 1)

    // SCALE_DESIGN rule 2, mechanically enforced: an index beyond the
    // broadcast contract fails FAST (before any driver collect) and
    // the message names the foreachBatch escape hatch
    val big = spark.range(5).selectExpr("id AS simhash")
    val err = intercept[IllegalArgumentException] {
      StreamOps.dedupAgainstIndex(
        Seq((1L, textA)).toDF("doc_id", "text"), big, maxIndexEntries = 3L)
    }
    assert(err.getMessage.contains("incrementalIndexedDedup"), err.getMessage)
  }

  test("anomaliesVsBaseline flags only windows above the trained threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // baseline: click windows average 2 events, sigma 1 -> threshold 4;
    // view has a ZERO-variance baseline, which cannot express a
    // k-sigma threshold -> its windows must never emit (a missing
    // sigma>0 guard would emit every above-mean view window with a
    // divide-by-zero NULL zscore)
    val baseline = Seq(("click", 2.0, 1.0), ("view", 0.5, 0.0))
      .toDF("event_type", "mean", "sigma")
    val input = MemoryStream[Ev]
    val q = StreamOps.anomaliesVsBaseline(input.toDF(), baseline,
        k = 2.0, watermarkDelay = "10 minutes", windowLen = "1 hour")
      .writeStream.format("memory").queryName("anom")
      .outputMode("append").start()
    // hour 10: 5 clicks (anomalous, 5 > 2 + 2*1) and 2 views (above
    // the view mean but sigma=0 -> guarded); hour 11: 2 clicks (normal)
    input.addData(
      (1 to 5).map(i => Ev(ts(s"2024-01-01 10:0$i:00"), "click", 1.0)) ++
      Seq(Ev(ts("2024-01-01 10:15:00"), "view", 1.0),
          Ev(ts("2024-01-01 10:25:00"), "view", 1.0),
          Ev(ts("2024-01-01 11:10:00"), "click", 1.0),
          Ev(ts("2024-01-01 11:20:00"), "click", 1.0)): _*)
    q.processAllAvailable()
    // advance watermark past both windows so they finalize
    input.addData(Ev(ts("2024-01-01 13:00:00"), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("anom")
      .select($"event_type", date_format($"w_start", "HH").as("h"), $"n", $"zscore")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(r => (r._1, r._2)).toSet == Set(("click", "10")),
      s"only click hour 10 should flag: ${rows.toSeq}")
    assert(rows.head._3 == 5L && math.abs(rows.head._4 - 3.0) < 1e-9)
  }

  test("runningValueAnomalies scores against prior history and keeps training") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.ValueEvent]
    val q = StreamOps.runningValueAnomalies(input.toDS(), k = 3.0, minHistory = 4L)
      .writeStream.format("memory").queryName("vanom")
      .outputMode("append").start()
    // batch 1: four training values around 10 (n reaches minHistory)
    input.addData(
      StreamOps.ValueEvent("click", ts("2024-01-01 10:00:00"), 10.0),
      StreamOps.ValueEvent("click", ts("2024-01-01 10:01:00"), 11.0),
      StreamOps.ValueEvent("click", ts("2024-01-01 10:02:00"), 9.0),
      StreamOps.ValueEvent("click", ts("2024-01-01 10:03:00"), 10.0))
    q.processAllAvailable()
    assert(spark.table("vanom").count() == 0, "training events must not flag")
    // batch 2: an extreme value flags; a normal one doesn't; state
    // persisted across batches (n_seen = 4 proves batch-1 history)
    input.addData(
      StreamOps.ValueEvent("click", ts("2024-01-01 10:04:00"), 100.0),
      StreamOps.ValueEvent("click", ts("2024-01-01 10:05:00"), 10.5))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("vanom").as[StreamOps.ValueAnomaly].collect()
    assert(out.length == 1, out.mkString(","))
    assert(out.head.value == 100.0 && out.head.n_seen == 4L)
    assert(out.head.zscore > 3.0)
  }

  test("streamingUpsert: latest row per key wins regardless of batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = s"/tmp/upsert_spec_${System.nanoTime()}"
    val input = MemoryStream[(Long, Long, String)]
    val q = StreamOps.streamingUpsert(
      input.toDF().toDF("k", "ver", "v"),
      s"$base/state", s"$base/ckpt", "k", "ver")
    // batch 1: two keys, key 1 twice (ver 2 wins within the batch)
    input.addData((1L, 1L, "a1"), (1L, 2L, "a2"), (2L, 1L, "b1"))
    q.processAllAvailable()
    val s1 = StreamOps.upsertState(spark, s"$base/state")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 == Map(1L -> "a2", 2L -> "b1"), s1.toString)
    // a partially-written (no _SUCCESS) higher version must be
    // invisible to both readers and the next batch's merge
    new java.io.File(s"$base/state/v999").mkdirs()
    // a crashed LOWER write (no _SUCCESS) must be garbage-collected by
    // the next commit, not accumulate forever
    new java.io.File(s"$base/state/v0").mkdirs()
    // batch 2: update key 2, insert key 3, a late lower version of
    // key 2 (loses to the batch's own ver 3), and a CROSS-BATCH late
    // row for key 1 (ver 0 must lose to the ver 2 already in state)
    input.addData((2L, 3L, "b3"), (2L, 2L, "b2"), (3L, 1L, "c1"), (1L, 0L, "a0-late"))
    q.processAllAvailable()
    q.stop()
    val s2 = StreamOps.upsertState(spark, s"$base/state")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(s2 == Map(1L -> ((2L, "a2")), 2L -> ((3L, "b3")), 3L -> ((1L, "c1"))), s2.toString)
    // exactly one row per key — an upsert, not an append
    assert(StreamOps.upsertState(spark, s"$base/state").count() == 3)
    // superseded committed versions AND crashed uncommitted lower
    // versions are cleaned up; only a higher-numbered uncommitted dir
    // (possibly someone else's in-flight write) is left alone
    val dirs = new java.io.File(s"$base/state").listFiles().map(_.getName).toSet
    assert(dirs.filter(_.matches("v\\d+")) == Set("v2", "v999"), dirs.toString)
    // before any commit, upsertState with a schema yields a selectable
    // empty frame (the column-less emptyDataFrame otherwise)
    val sc = StreamOps.upsertState(spark, s"$base/nonexistent",
      Some(org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, ver BIGINT, v STRING")))
    assert(sc.select("k", "ver", "v").count() == 0)
    assert(StreamOps.upsertState(spark, s"$base/nonexistent").columns.isEmpty)
  }

  test("MisraGries runs natively on a stream: state merges keep the bound across batches") {
    // the point of a MERGEABLE aggregate: the identical udaf runs on an
    // unbounded stream in complete mode — the state store holds the
    // 256-entry buffer and every micro-batch is one more merge, so the
    // any-merge-order guarantee (true - N/(m+1) <= est <= true) is
    // exactly the cross-batch guarantee, no streaming-specific code
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = input.toDF().toDF("tok")
      .agg(graft.functions.MisraGries.summary(col("tok"), 5).as("mg"),
        count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("mgstream")
      .outputMode("complete").start()

    val b1 = Seq.fill(30)("alpha") ++ Seq.fill(12)("beta") ++ (1 to 9).map(i => s"t$i")
    val b2 = Seq.fill(25)("alpha") ++ Seq.fill(20)("gamma") ++ (10 to 19).map(i => s"t$i")
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val row = spark.sql("SELECT * FROM mgstream").collect()(0)
    q.stop()
    val est = row.getMap[String, Long](0)
    val n = row.getLong(1)
    val truth = (b1 ++ b2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(n == (b1.size + b2.size).toLong)
    assert(est.size <= 5)
    truth.foreach { case (k, t) =>
      val e = est.getOrElse(k, 0L)
      assert(e <= t, s"$k overestimated")
      assert((t - e) * 6 <= n, s"$k undershoots the bound")
    }
    // retention guarantee across the batch boundary: alpha (55 > n/6)
    // must be present no matter how the per-batch partials merged
    assert(est.contains("alpha"))
  }

  test("QuantileSketch runs natively on a stream: rank budget holds across batches") {
    // same mergeable-aggregate story as the MG case for ORDER
    // statistics: the state store holds one bounded compactor, each
    // micro-batch is one more merge, and the self-certified rank
    // budget (QuantileSketchProperties' law) is exactly the
    // cross-batch guarantee — streaming quantiles with no
    // streaming-specific code
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Double]
    val q = input.toDF().toDF("x")
      .agg(graft.functions.QuantileSketch.summary(col("x"), 64, Seq(0.5, 0.9)).as("qs"))
      .writeStream.format("memory").queryName("qsstream")
      .outputMode("complete").start()

    val b1 = (1 to 500).map(_.toDouble)
    val b2 = (501 to 1500).map(_.toDouble)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val out = spark.sql("SELECT * FROM qsstream").collect()(0).getSeq[Double](0)
    q.stop()
    val (n, errBound) = (out(0), out(1))
    assert(n == 1500.0)
    // data is 1..1500, so value == true rank: the estimate must sit
    // within the published budget of the target rank (+ walk slop,
    // bounded by the budget's own max level weight <= errBound here)
    val all = b1 ++ b2
    List(out(2) -> 0.5, out(3) -> 0.9).foreach { case (est, p) =>
      val target = math.ceil(p * all.size)
      val rank = all.count(_ <= est)
      assert(math.abs(rank - target) <= 3 * errBound + 1,
        s"p=$p est=$est rank=$rank target=$target budget=$errBound")
    }
    // and the budget itself stays sketch-sized, not data-sized
    assert(errBound < 0.2 * n, s"budget $errBound vs n $n")
  }

  test("streaming sequencePack: offsets survive batches, chunks tile, spans cover docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ctx = 16L
    val input = MemoryStream[StreamOps.PackDoc]
    val q = StreamOps.sequencePack(input.toDS(), ctx)
      .writeStream.format("memory").queryName("packspans")
      .outputMode("append").start()

    // batch 1: src A fills one chunk and spills into the next
    input.addData(
      StreamOps.PackDoc("A", 1L, 10L),
      StreamOps.PackDoc("A", 2L, 10L),
      StreamOps.PackDoc("B", 7L, 40L))
    q.processAllAvailable()
    // batch 2: continuation — A's offset must resume at 20, not 0
    input.addData(StreamOps.PackDoc("A", 3L, 20L))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("packspans").as[StreamOps.PackSpan].collect().toSeq
      .sortBy(s => (s.source, s.chunk, s.chunk_off))

    // in-memory reference over the SAME arrival order (batch, then doc_id)
    val arrival = Seq(("A", 1L, 10L), ("A", 2L, 10L), ("A", 3L, 20L),
      ("B", 7L, 40L))
    val expect = arrival.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      var off = 0L
      ds.flatMap { case (_, id, n) =>
        val st = off; off += n
        (st / ctx to (off - 1) / ctx).map { c =>
          val s0 = math.max(st, c * ctx); val s1 = math.min(off, (c + 1) * ctx)
          StreamOps.PackSpan(src, c, id, s0 - st, s1 - s0, s0 - c * ctx)
        }
      }
    }.sortBy(s => (s.source, s.chunk, s.chunk_off))
    assert(got == expect, s"\ngot    $got\nexpect $expect")

    // invariants: every doc fully covered; every non-final chunk holds exactly ctx
    arrival.foreach { case (src, id, n) =>
      val spans = got.filter(s => s.source == src && s.doc_id == id)
      assert(spans.map(_.n_tok).sum == n && spans.minBy(_.doc_off).doc_off == 0L)
    }
    got.groupBy(s => (s.source, s.chunk)).foreach { case ((src, c), spans) =>
      val last = got.filter(_.source == src).map(_.chunk).max
      assert(c == last || spans.map(_.n_tok).sum == ctx,
        s"$src chunk $c not fully tiled")
    }
  }

  test("streaming skewMonitor: MG bounds hold across batches, state accumulates, shards isolate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 4
    val input = MemoryStream[StreamOps.KeyObs]
    val q = StreamOps.skewMonitor(input.toDS(), m)
      .writeStream.format("memory").queryName("heavies")
      .outputMode("append").start()

    // batch 1: shard 0 — 'hot' dominates over 10 singletons; shard 1 quiet
    input.addData(
      (Seq.fill(30)(StreamOps.KeyObs(0, "hot")) ++
        (1 to 10).map(i => StreamOps.KeyObs(0, s"k$i")) ++
        Seq.fill(3)(StreamOps.KeyObs(1, "other"))): _*)
    q.processAllAvailable()
    val b1 = spark.table("heavies").as[StreamOps.ShardHeavy].collect().toSeq
    // batch 2: 'hot' keeps flowing, 'warm' arrives — STATE must carry over
    input.addData(
      (Seq.fill(20)(StreamOps.KeyObs(0, "hot")) ++
        Seq.fill(15)(StreamOps.KeyObs(0, "warm"))): _*)
    q.processAllAvailable()
    q.stop()
    val all = spark.table("heavies").as[StreamOps.ShardHeavy].collect().toSeq
    val b2 = all.diff(b1)

    val true1 = Map("hot" -> 30L); val n1 = 40L
    val true2 = Map("hot" -> 50L, "warm" -> 15L); val n2 = 75L
    // batch-1 shard 0: n and bound right; est in [true - n/(m+1), true]
    val h1 = b1.filter(r => r.shard == 0 && r.key == "hot")
    assert(h1.size == 1 && h1.head.n == n1 && h1.head.bound == n1 / (m + 1))
    assert(h1.head.est <= true1("hot") && h1.head.est >= true1("hot") - n1 / (m + 1))
    // batch 2 reflects CUMULATIVE counts (state survived the trigger)
    val h2 = b2.filter(r => r.shard == 0 && r.key == "hot")
    assert(h2.size == 1 && h2.head.n == n2, s"state lost: $b2")
    assert(h2.head.est <= true2("hot") && h2.head.est >= true2("hot") - n2 / (m + 1))
    assert(h2.head.est > h1.head.est, "est did not grow with the stream")
    // guarantee direction: every emitted key's TRUE count exceeds the bound
    b2.filter(_.shard == 0).foreach { r =>
      assert(true2.getOrElse(r.key, 0L) > r.bound,
        s"${r.key} emitted but not truly heavy") }
    // 'hot' is >2x bound in both batches -> MUST be emitted (completeness)
    assert(true2("hot") > 2 * (n2 / (m + 1)) && h2.nonEmpty)
    // shard isolation: shard 1 never saw shard 0's keys
    assert(all.filter(_.shard == 1).forall(_.key == "other"))
  }

  test("incrementalIndexedDedup ingest report: per-batch per-source classes partition n_new") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("irep")
    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.incrementalIndexedDedup(
      input.toDF().toDF("doc_id", "text", "source"),
      base.resolve("index").toString, base.resolve("out").toString,
      base.resolve("ckpt").toString,
      reportPath = Some(base.resolve("report").toString))
    // batch 0: s1 sends a doc, its exact-token dup, and a distinct doc;
    // s2 sends one fresh doc
    input.addData(
      (1L, "alpha beta gamma delta", "s1"),
      (2L, "ALPHA beta, gamma delta", "s1"), // same token set -> dup_batch
      (3L, "a completely different document", "s1"),
      (4L, "payment events arriving hourly", "s2"))
    q.processAllAvailable()
    // batch 1: s1 re-sends batch-0 content (dup_index) + a fresh pair
    // of in-batch dups; s2 sends one fresh doc
    input.addData(
      (5L, "alpha beta gamma delta", "s1"),    // in the index -> dup_index
      (6L, "totally novel text body here", "s1"),
      (7L, "totally NOVEL text body here!", "s1"), // token-dup of 6 -> dup_batch
      (8L, "fresh corpus material again", "s2"))
    q.processAllAvailable()
    q.stop()
    // batch_id arrives via partition discovery (the directory layout
    // IS the batch key; a replayed batch overwrites its own dir)
    val rep = spark.read.parquet(base.resolve("report").toString)
      .select("batch_id", "source", "n_new", "dup_index", "dup_batch", "kept")
      .collect().map(r => ((r.getInt(0).toLong, r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rep((0L, "s1")) == ((3L, 0L, 1L, 2L)), rep.toString)
    assert(rep((0L, "s2")) == ((1L, 0L, 0L, 1L)), rep.toString)
    assert(rep((1L, "s1")) == ((3L, 1L, 1L, 1L)), rep.toString)
    assert(rep((1L, "s2")) == ((1L, 0L, 0L, 1L)), rep.toString)
    // the identity the report ships with: classes partition n_new
    rep.values.foreach { case (n, di, db, k) => assert(n == di + db + k) }
  }

  test("boilerplatePromotions: a hash fires exactly once when distinct-doc df crosses the threshold, within-doc repeats don't count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.LineObs
    val input = MemoryStream[LineObs]
    val q = StreamOps.boilerplatePromotions(input.toDS(), minDf = 3)
      .writeStream.format("memory").queryName("boiler")
      .outputMode("append").start()

    // batch 1: banner in docs 1,2 (df=2, below), spam in doc 9 twice
    // (within-doc repeat: df=1)
    input.addData(LineObs(1L, "banner"), LineObs(2L, "banner"),
      LineObs(9L, "spam"), LineObs(9L, "spam"))
    q.processAllAvailable()
    assert(spark.table("boiler").count() == 0, "nothing crosses df=3 yet")
    // batch 2: banner reaches doc 3 -> promotes at df=3; doc 2 again
    // changes nothing
    input.addData(LineObs(3L, "banner"), LineObs(2L, "banner"))
    q.processAllAvailable()
    // batch 3: banner seen again -> must NOT re-emit (latched);
    // spam reaches docs 10, 11 -> promotes
    input.addData(LineObs(4L, "banner"),
      LineObs(10L, "spam"), LineObs(11L, "spam"))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("boiler").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(("banner", 3L), ("spam", 3L)),
      s"each hash must fire exactly once at df=3: $got")
  }

  test("boilerplatePromotions stateTtl: quiet sub-threshold censuses expire and restart; promoted latches survive the TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.LineObs
    // ProcessingTimeTimeout makes the engine plan follow-up batches
    // continuously (real clock), so processAllAvailable never observes
    // quiescence — poll the sink instead (the scaladoc's operational
    // note, learned the hard way)
    def awaitCount(n: Long, timeoutMs: Long = 30000): Unit = {
      val deadline = System.currentTimeMillis + timeoutMs
      while (spark.table("boilerttl").count() < n
             && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(spark.table("boilerttl").count() >= n, s"timed out waiting for $n emissions")
    }
    val input = MemoryStream[LineObs]
    val q = StreamOps.boilerplatePromotions(input.toDS(), minDf = 2,
      stateTtl = Some("4 seconds"))
      .writeStream.format("memory").queryName("boilerttl")
      .outputMode("append").start()

    // banner promotes immediately (df=2); slow and ban2 at df=1 get a
    // TTL armed
    input.addData(LineObs(1L, "banner"), LineObs(2L, "banner"),
      LineObs(1L, "slow"), LineObs(1L, "ban2"))
    awaitCount(1)
    // ban2 promotes (df=2) while still carrying its earlier timeout —
    // the latch must survive that stale timeout firing later
    input.addData(LineObs(2L, "ban2"))
    awaitCount(2)

    // let the TTL lapse: the engine fires the timeouts on its own —
    // slow's census is dropped; ban2's latch is kept
    Thread.sleep(7000)
    // slow returns with a SECOND distinct doc: without expiry this
    // would be df=2 and emit — expiry restarted the census at df=1.
    // ban2 re-seen: must not re-emit (latched across the TTL).
    input.addData(LineObs(2L, "slow"), LineObs(7L, "ban2"))
    Thread.sleep(2000)
    assert(spark.table("boilerttl").collect().map(_.getString(0)).sorted.toSeq
      == Seq("ban2", "banner"), "slow must NOT emit (census restarted); ban2 must not re-emit")
    // and a fresh second doc within the TTL window does promote
    input.addData(LineObs(3L, "slow"))
    awaitCount(3)
    q.stop()
    val got = spark.table("boilerttl").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(("ban2", 2L), ("banner", 2L), ("slow", 2L)), got)
  }

  test("semanticDecontamStream: flags match a brute-force replay incl. the min-id tie, sub-tau rows never emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two orthogonal-ish benchmark vectors; 5 and 6 are DUPLICATES so
    // a parallel stream vector ties on cosine and must take id 5
    val bench = Seq(
      (5L, Seq(1.0, 0.0, 0.0, 0.0)),
      (6L, Seq(1.0, 0.0, 0.0, 0.0)),
      (7L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("bench_id", "v")
    val vecs = Seq(
      (100L, Seq(2.0, 0.0, 0.0, 0.0)),  // cos 1.0 to 5 AND 6 -> id 5, n=2
      (101L, Seq(1.0, 1.0, 0.0, 0.0)),  // cos .707107 to all three -> id 5, n=3
      (102L, Seq(0.0, 0.0, 3.0, 4.0)))  // orthogonal: cos 0 -> never emits

    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.semanticDecontamStream(
      input.toDF().toDF("vec_id", "v"), bench)
      .writeStream.format("memory").queryName("semdecon")
      .outputMode("append").start()
    input.addData(vecs.take(2): _*)
    q.processAllAvailable()
    input.addData(vecs.drop(2): _*)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("semdecon").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((100L, 5L, 1.0, 2L), (101L, 5L, 0.707107, 3L)),
      s"streaming flags diverged from the q192 contract: $got")
  }

  test("streaming IVF serve: assignments match the batch argmin contract, centroids frozen across batches, deltas feed the imbalance alarm") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivfserve").toString

    // a tiny trained index: 3 cells in 4 dims (cc = |cv|^2)
    val cvs = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.0, 1.0)))
    val cents = cvs.map { case (cid, cv) => (cid, cv, cv.map(x => x * x).sum) }
      .toDF("cid", "cv", "cc")

    val vecs = Seq(
      (10L, Seq(0.1, 0.0, 0.0, 0.0)),   // -> cell 0
      (11L, Seq(0.9, 1.1, 0.0, 0.0)),   // -> cell 1
      (12L, Seq(0.0, 0.1, 0.9, 1.0)),   // -> cell 2
      (13L, Seq(0.5, 0.5, 0.5, 0.5)),   // equidistant to all three -> cid tiebreak: cell 0
      (14L, Seq(1.0, 1.0, 1.0, 1.0)))   // equidistant to cells 1,2 -> cell 1

    val input = MemoryStream[(Long, Seq[Double])]
    val assigned = StreamOps.assignAgainstFrozenCentroids(
      input.toDF().toDF("vec_id", "v"), cents)
    val q = StreamOps.ivfIngestDeltas(assigned, s"$dir/deltas", s"$dir/ckpt")
    val qa = assigned.writeStream.format("memory").queryName("ivfassign")
      .outputMode("append").start()

    input.addData(vecs.take(3): _*)
    q.processAllAvailable(); qa.processAllAvailable()
    // batch 2 re-sends vec 10 (cross-batch centroid stability: same
    // row must land in the same cell) plus the tiebreak vectors
    input.addData(vecs.drop(3) :+ vecs.head: _*)
    q.processAllAvailable(); qa.processAllAvailable()
    q.stop(); qa.stop()

    val got = spark.table("ivfassign")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // dual implementation: brute-force batch argmin with the q64
    // contract (1e-6-rounded expanded d2, cid tiebreak) over the same
    // (row, centroid) grid
    val want = (vecs :+ vecs.head).map { case (id, v) =>
      val vv = v.map(x => x * x).sum
      val best = cvs.map { case (cid, cv) =>
        val d2 = BigDecimal(vv - 2.0 * v.zip(cv).map(t => t._1 * t._2).sum
          + cv.map(x => x * x).sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (d2, cid)
      }.min
      (id, best._2, best._1)
    }
    assert(got.sorted.toSeq == want.sorted,
      s"streaming assignment diverged from the batch contract:\n${got.sorted.toSeq}\nvs $want")
    // the designed tiebreaks actually exercised the cid contract
    assert(want.find(_._1 == 13L).get._2 == 0L)
    assert(want.find(_._1 == 14L).get._2 == 1L)
    // vec 10 identical across both batches: frozen index
    assert(got.filter(_._1 == 10L).map(t => (t._2, t._3)).distinct.length == 1)

    // per-trigger deltas: two committed batch dirs partitioning the row
    // count, and the alarm folds them onto a base census
    val deltas = spark.read.parquet(s"$dir/deltas/b0", s"$dir/deltas/b1")
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
    assert(deltas.map(_._3).sum == got.length.toLong,
      s"deltas must partition the assigned rows: $deltas")
    val base = Seq((0L, 5L), (1L, 5L), (2L, 5L)).toDF("cell", "szo")
    val alarm = StreamOps.ivfImbalanceAfterIngest(spark, s"$dir/deltas", base, 3L)
      .collect().head
    assert(alarm.getLong(1) == 15L && alarm.getLong(2) == got.length.toLong)
    val maxAfter = alarm.getLong(3)
    assert(alarm.getDouble(4) ==
      BigDecimal(maxAfter.toDouble * 3.0 / (15 + got.length))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("ivfTombstoneDeltas: negative deltas fold into the alarm; a crash-replay double-delete does NOT double-count") {
    import spark.implicits._
    val base0 = java.nio.file.Files.createTempDirectory("ivftomb")
    val srcDir = base0.resolve("src").toString
    val deltaDir = base0.resolve("deltas").toString

    // the same tiny trained index as the serve test: 3 cells in 4 dims
    val cents = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.0, 1.0)))
      .map { case (cid, cv) => (cid, cv, cv.map(x => x * x).sum) }
      .toDF("cid", "cv", "cc")

    // tombstones via a FILE source so a lost-checkpoint replay re-runs
    // batch 0 verbatim (the incrementalIndexedDedup replay discipline):
    // three deletes -> cells 0, 1, 1
    Seq(
      (10L, Seq(0.1, 0.0, 0.0, 0.0)),  // -> cell 0
      (11L, Seq(0.9, 1.1, 0.0, 0.0)),  // -> cell 1
      (14L, Seq(1.0, 1.0, 1.0, 1.0)))  // tie 1,2 -> cid tiebreak: cell 1
      .toDF("vec_id", "v").coalesce(1).write.parquet(srcDir)
    def start(ckpt: String) = StreamOps.ivfTombstoneDeltas(
      spark.readStream.schema("vec_id BIGINT, v ARRAY<DOUBLE>").parquet(srcDir),
      cents, deltaDir, base0.resolve(ckpt).toString)
    val q1 = start("ckpt1")
    q1.processAllAvailable(); q1.stop()

    val d0 = spark.read.parquet(s"$deltaDir/d0")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d0 == Map(0L -> -1L, 1L -> -2L), s"negative per-cell deltas: $d0")

    val base = Seq((0L, 5L), (1L, 5L), (2L, 5L)).toDF("cell", "szo")
    def alarm() = StreamOps.ivfImbalanceAfterIngest(spark, deltaDir, base, 3L)
      .collect().head
    val a1 = alarm()
    // net sizes 4/3/5; deleted 3; worst dead fraction = 2/5 in cell 1
    assert((a1.getLong(1), a1.getLong(2), a1.getLong(3)) == ((15L, -3L, 5L)), a1.toString)
    assert(a1.getLong(5) == 3L, s"n_deleted: $a1")
    assert(a1.getDouble(6) == 0.4, s"max_dead_frac: $a1")

    // crash replay: fresh checkpoint, same source file -> batch 0
    // re-runs bit-identical and OVERWRITES d0 instead of double-counting
    val q2 = start("ckpt2")
    q2.processAllAvailable(); q2.stop()
    val a2 = alarm()
    assert(a2.toSeq == a1.toSeq, s"replayed delete double-counted: $a2 vs $a1")
  }

  test("qualityYieldStream: final per-source yield tables equal the batch twin exactly, across triggers and on a full replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.{QYObs, QualityYieldRow}
    // two sources, qualities spread over the grid, token masses skewed
    // so the yield column actually discriminates cuts
    val obs = Seq(
      QYObs("web", 0.12, 10L), QYObs("web", 0.37, 200L), QYObs("web", 0.37, 50L),
      QYObs("web", 0.55, 400L), QYObs("web", 0.81, 800L), QYObs("web", 0.93, 100L),
      QYObs("books", 0.44, 5000L), QYObs("books", 0.62, 3000L),
      QYObs("books", 0.70, 2000L), QYObs("books", 0.99, 1000L))

    def lastTables(rows: Array[QualityYieldRow]): Map[(String, Int), QualityYieldRow] = {
      val maxN = rows.groupBy(_.source).map { case (s, rs) => s -> rs.map(_.n_scored).max }
      rows.filter(r => r.n_scored == maxN(r.source))
        .map(r => (r.source, r.cut_keep_from) -> r).toMap
    }
    def run(name: String, batches: Seq[Seq[QYObs]]): Map[(String, Int), QualityYieldRow] = {
      val input = MemoryStream[QYObs]
      val q = StreamOps.qualityYieldStream(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      lastTables(spark.table(name).as[QualityYieldRow].collect())
    }

    val want = StreamOps.qualityYieldBatch(obs.toDS()).collect()
      .map(r => (r.source, r.cut_keep_from) -> r).toMap
    // split across two triggers: final tables must equal the batch pass
    val got = run("qy1", Seq(obs.take(4), obs.drop(4)))
    assert(got == want, s"stream diverged from batch:\n$got\nvs $want")
    // full replay with a different batch boundary: identical again
    // (the census is order-free and exactly mergeable)
    val got2 = run("qy2", Seq(obs.take(7), obs.drop(7)))
    assert(got2 == want, s"replayed stream diverged:\n$got2\nvs $want")
    // sanity on the published semantics: cut 1 keeps everything
    assert(got(("books", 1)).docs_kept == 4L && got(("books", 1)).token_yield == 1.0)
    // and the web cut curve is non-increasing in docs and tokens
    val webCurve = (1 to 10).map(d => got(("web", d)))
    assert(webCurve.sliding(2).forall(p => p(0).docs_kept >= p(1).docs_kept))
    assert(webCurve.sliding(2).forall(p => p(0).tokens_kept >= p(1).tokens_kept))
  }

  test("bm25ServeStream: a streamed query returns exactly q145's batch top-10; queries stay isolated per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.operators.Tables.documents(spark, dir)
    val (postings, nDocs, tot) = StreamOps.buildBm25Postings(docs)
    val frozen = postings.localCheckpoint(true) // the serving fleet's loaded index

    val input = MemoryStream[StreamOps.BmQuery]
    val q = StreamOps.bm25ServeStream(input.toDS(), frozen, nDocs, tot)
      .writeStream.format("memory").queryName("bmserve")
      .outputMode("append").start()
    // batch 1: the q145 query bag; batch 2: a different bag
    input.addData(StreamOps.BmQuery(1L, Seq("window", "spark", "merge")))
    q.processAllAvailable()
    input.addData(StreamOps.BmQuery(2L, Seq("data", "join")))
    q.processAllAvailable()
    // batch 3: the q145 bag with REPEATED terms — scoring is over the
    // term SET (array_distinct before the postings join), so repeats
    // must not double partials or inflate n_terms
    input.addData(StreamOps.BmQuery(3L,
      Seq("window", "spark", "merge", "window", "window", "spark")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("bmserve").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // serve contract: qid 1's rows ARE q145's published frame
    val batch = SparkEntry.queries("q145_bm25_topk")(spark, dir).collect()
      .map(r => (1L, r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val got1 = got.filter(_._1 == 1L).sortBy(t => (-t._4, t._2)).toSeq
    assert(got1 == batch, s"\nstream $got1\nbatch  $batch")
    // the second query produced its own bounded, positive-scored result
    val got2 = got.filter(_._1 == 2L)
    assert(got2.nonEmpty && got2.length <= 10 && got2.forall(_._4 > 0.0))
    // the repeated-term bag serves EXACTLY the deduped bag's frame
    val got3 = got.filter(_._1 == 3L).map(t => (1L, t._2, t._3, t._4))
      .sortBy(t => (-t._4, t._2)).toSeq
    assert(got3 == batch,
      s"repeated terms changed the serve:\nstream $got3\nbatch  $batch")
    // at-least-once serving: the same query re-sent later re-serves
    // identically against the frozen index
    val input2 = MemoryStream[StreamOps.BmQuery]
    val q2 = StreamOps.bm25ServeStream(input2.toDS(), frozen, nDocs, tot)
      .writeStream.format("memory").queryName("bmserve2")
      .outputMode("append").start()
    input2.addData(StreamOps.BmQuery(1L, Seq("window", "spark", "merge")))
    q2.processAllAvailable()
    input2.addData(StreamOps.BmQuery(1L, Seq("window", "spark", "merge")))
    q2.processAllAvailable()
    q2.stop()
    val replays = spark.table("bmserve2").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .grouped(10).map(_.sortBy(t => (-t._3, t._1)).toSeq).toSeq
    assert(replays.length == 2 && replays(0) == replays(1),
      "re-sent query did not re-serve identically")
  }

  test("ivfMmrServeStream: cell-restricted candidates, q203's greedy contract, frozen across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two well-separated cells in 4 dims; corpus pre-assigned
    val centroids = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), 1.0),
      (1L, Seq(0.0, 0.0, 1.0, 0.0), 1.0)).toDF("cid", "cv", "cc")
    // cell 0: four x-axis-ish vectors (two near-duplicates 10/11 so
    // diversity must bind); cell 1: two z-axis vectors — one of them
    // (20) has HIGHER cosine to the query than 13, but sits in the
    // other cell and must NOT appear at nprobe=1
    val corpus = Seq(
      (10L, Seq(1.0, 0.1, 0.0, 0.0), 0L),
      (11L, Seq(1.0, 0.11, 0.0, 0.0), 0L),
      (12L, Seq(1.0, -0.9, 0.0, 0.0), 0L),
      (13L, Seq(0.4, 0.9, 0.0, 0.0), 0L),
      (20L, Seq(1.0, 0.0, 0.2, 0.0), 1L),
      (21L, Seq(0.0, 0.0, 1.0, 0.3), 1L)).toDF("vec_id", "v", "cell")

    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.ivfMmrServeStream(
      input.toDF().toDF("qid", "v"), centroids, corpus, k = 3)
      .writeStream.format("memory").queryName("mmrserve")
      .outputMode("append").start()
    input.addData((100L, Seq(1.0, 0.0, 0.0, 0.0)))
    q.processAllAvailable()
    input.addData((100L, Seq(1.0, 0.0, 0.0, 0.0))) // replay: frozen index
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mmrserve").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val batches = got.grouped(got.length / 2).map(_.sortBy(_._2).toSeq).toSeq
    assert(batches.length == 2 && batches(0) == batches(1),
      s"re-served query diverged: $batches")
    val sel = batches(0)
    // cell restriction: vec 20 (other cell) never appears despite its
    // high cosine — the nprobe=1 contract
    assert(!sel.exists(_._3 == 20L), s"cross-cell candidate leaked: $sel")
    // in-test replay of q203's algorithm restricted to cell 0
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map(t => t._1 * t._2).sum
    val qv = Seq(1.0, 0.0, 0.0, 0.0)
    val cell0 = Seq(
      10L -> Seq(1.0, 0.1, 0.0, 0.0), 11L -> Seq(1.0, 0.11, 0.0, 0.0),
      12L -> Seq(1.0, -0.9, 0.0, 0.0), 13L -> Seq(0.4, 0.9, 0.0, 0.0))
    def cos(a: Seq[Double], b: Seq[Double]) =
      r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val scored = cell0.map { case (id, v) => (id, v, cos(qv, v)) }
      .sortBy { case (id, _, rel) => (-rel, id) }
    val rel = scored.map(c => c._1 -> c._3).toMap
    val vecs = scored.map(c => c._1 -> c._2).toMap
    var selected = Vector.empty[(Int, Long, Double, Double)]
    var remaining = rel.keySet
    for (rank <- 1 to 3) {
      val cands = remaining.toSeq.map { c =>
        val ms = if (selected.isEmpty) 0.0
                 else selected.map(s2 => cos(vecs(c), vecs(s2._2))).max
        (c, r6(0.5 * rel(c) - 0.5 * ms))
      }
      val (bc, bm) = cands.minBy { case (c, m) => (-m, c) }
      selected :+= ((rank, bc, rel(bc), bm))
      remaining -= bc
    }
    assert(sel.map(t => (t._2, t._3, t._4, t._5)) == selected,
      s"\nstream $sel\nreplay $selected")
    // diversity must bind: 10 and 11 are near-dups, so after picking
    // one the other cannot be the second pick
    assert(!(sel.map(_._3).take(2).toSet == Set(10L, 11L)),
      s"near-duplicates dominated the diversified head: $sel")
  }

  test("mediaDupIngestStream: in-stream real-codec fingerprinting, all four classifications, frozen replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = graft.multimodal.Multimodal
    // the q195 closed-form grays: base pattern b, optional variant bit
    // (+3 on cell 0 flips exactly one dHash comparison -> hamming 1)
    def grays(b: Long, variant: Long): Array[Int] = Array.tabulate(64) { i0 =>
      val i = i0.toLong
      val ii = if (i == 1L) 0L else i
      (8L * ((b * 37 + ii * 11 + (ii * ii) % 7) % 32) +
        (if (variant == 1 && i == 0L) 3L else 0L)).toInt
    }
    def png(b: Long, v: Long) = m.encodeGridPng(grays(b, v), g = 8, cellPx = 4)
    // frozen corpus index: patterns b = 0..3, variant 0 (media ids 0..3)
    val corpusMedia = (0L to 3L).map(b => (b, png(b, 0))).toDF("media_id", "media")
    val corpusHashes = m.dHash64(corpusMedia).toDF("media_id", "phash")
      .localCheckpoint(true)

    val input = MemoryStream[(Long, Array[Byte])]
    val q = StreamOps.mediaDupIngestStream(
      input.toDF().toDF("media_id", "media"), corpusHashes)
      .writeStream.format("memory").queryName("mediaingest")
      .outputMode("append").start()
    // one batch carrying all four cases: 100 = exact re-post of corpus
    // b0; 101 = b0's variant (hamming-1 re-encode-alike); 102 = novel
    // pattern; 103/104 = identical novel arrivals (batch dup)
    val batch = Seq(
      (100L, png(0, 0)), (101L, png(0, 1)), (102L, png(9, 0)),
      (103L, png(10, 0)), (104L, png(10, 0)))
    input.addData(batch)
    q.processAllAvailable()
    input.addData(batch) // replay: frozen index, stateless -> identical
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mediaingest").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    val batches = got.grouped(got.length / 2).map(_.sortBy(_._1).toSeq).toSeq
    assert(batches.length == 2 && batches(0) == batches(1),
      s"replay diverged: $batches")
    val byId = batches(0).map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(100L) == (("dup_corpus_exact", 0L)), s"100: ${byId(100L)}")
    assert(byId(101L) == (("dup_corpus_near", 0L)), s"101: ${byId(101L)}")
    assert(byId(102L) == (("kept", -1L)), s"102: ${byId(102L)}")
    assert(byId(103L) == (("kept", -1L)), s"103: ${byId(103L)}")
    assert(byId(104L) == (("dup_batch", 103L)), s"104: ${byId(104L)}")
  }

  test("ragPackServeStream: the MMR selection packed under the token budget, skip-on-overflow, admitted-only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the ivfMmrServeStream fixture + a token column engineered so the
    // budget BINDS mid-selection: the greedy pick order in cell 0 is
    // (10, 12, 11) — 12 before 11 because 11 is 10's near-dup;
    // tokens 40/50/30 under budget 75 admit 10 (acc 40), SKIP 12
    // (90 > 75), admit 11 (70) — the non-contiguous admission
    // q211/q216 define
    val centroids = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), 1.0),
      (1L, Seq(0.0, 0.0, 1.0, 0.0), 1.0)).toDF("cid", "cv", "cc")
    val corpus = Seq(
      (10L, Seq(1.0, 0.1, 0.0, 0.0), 0L, 40L),
      (11L, Seq(1.0, 0.11, 0.0, 0.0), 0L, 30L),
      (12L, Seq(1.0, -0.9, 0.0, 0.0), 0L, 50L),
      (13L, Seq(0.4, 0.9, 0.0, 0.0), 0L, 45L),
      (20L, Seq(1.0, 0.0, 0.2, 0.0), 1L, 10L),
      (21L, Seq(0.0, 0.0, 1.0, 0.3), 1L, 10L)).toDF("vec_id", "v", "cell", "n_tokens")

    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.ragPackServeStream(
      input.toDF().toDF("qid", "v"), centroids, corpus, k = 3, budget = 75L)
      .writeStream.format("memory").queryName("ragpack")
      .outputMode("append").start()
    input.addData((100L, Seq(1.0, 0.0, 0.0, 0.0)))
    q.processAllAvailable()
    input.addData((100L, Seq(1.0, 0.0, 0.0, 0.0))) // replay: frozen + stateless
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ragpack").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))
    val batches = got.grouped(got.length / 2).map(_.sortBy(_._2).toSeq).toSeq
    assert(batches.length == 2 && batches(0) == batches(1),
      s"re-served query diverged: $batches")
    val sel = batches(0)
    // the packed context: rank 2 (vec 12, 50 tokens) skipped at acc 40,
    // rank 3 (vec 11, 30 tokens) admitted into its slack
    assert(sel.map(t => (t._2, t._3, t._6, t._7)) ==
      Seq((1, 10L, 40L, 40L), (3, 11L, 30L, 70L)),
      s"packed context diverged: $sel")
    // recurrence + budget invariants
    sel.foldLeft(0L) { case (acc, (_, _, _, _, _, nt, cum)) =>
      assert(cum == acc + nt); cum }
    assert(sel.last._7 <= 75L)
    // the packed rows are exactly the MMR stream's selection minus the
    // budget-skipped ranks — selection itself must not drift between
    // the two serve shapes (shared mmrFold)
    val input2 = MemoryStream[(Long, Seq[Double])]
    val q2 = StreamOps.ivfMmrServeStream(
      input2.toDF().toDF("qid", "v"), centroids,
      corpus.select("vec_id", "v", "cell"), k = 3)
      .writeStream.format("memory").queryName("ragpack_mmr")
      .outputMode("append").start()
    input2.addData((100L, Seq(1.0, 0.0, 0.0, 0.0)))
    q2.processAllAvailable()
    q2.stop()
    val mmr = spark.table("ragpack_mmr").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(sel.map(t => (t._2, t._3, t._4, t._5)) ==
      mmr.filter(m => sel.exists(_._2 == m._1)).toSeq,
      "packed rows diverged from the MMR selection")
  }

  test("nbQualityFilterStream: frozen-model scores reproduce q221's held-out confusion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val tf = graft.operators.TextAnalysis.nbHashedTf(spark, dir)
    val (model, consts) = graft.operators.TextAnalysis.nbModelConsts(tf)
    val batch = SparkEntry.queries("q221_nb_quality_filter")(spark, dir)
      .filter($"alpha" === 1).collect().head
    val threshold = batch.getAs[Double]("threshold")
    // the held-out docs arrive as a stream, split across two triggers
    val testDocs = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"doc_id" % 5 === 0 && length($"text") > 0)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .filter { case (_, t) => t.toLowerCase.split("\\W+").exists(_.nonEmpty) }
      .sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.nbQualityFilterStream(
      input.toDF().toDF("doc_id", "text"), model, consts,
      alpha = 1, threshold = threshold)
      .writeStream.format("memory").queryName("nbfilter")
      .outputMode("append").start()
    input.addData(testDocs.take(testDocs.length / 2): _*)
    q.processAllAvailable()
    input.addData(testDocs.drop(testDocs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("nbfilter").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(got.size == testDocs.length, "every non-empty test doc must be scored")
    // labels recomputed independently (q30's lexical gate)
    val stopEn = Set("the", "a", "of", "and", "to", "in", "is", "it")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val good = testDocs.map { case (id, t) =>
      val toks = t.toLowerCase.split("\\W+").filter(_.nonEmpty)
      id -> (r6(toks.count(stopEn).toDouble / toks.length) >= 0.10)
    }.toMap
    val tp = got.count { case (id, (_, p)) => p && good(id) }
    val fp = got.count { case (id, (_, p)) => p && !good(id) }
    val fn = got.count { case (id, (_, p)) => !p && good(id) }
    val tn = got.count { case (id, (_, p)) => !p && !good(id) }
    assert((tp.toLong, fp.toLong, fn.toLong, tn.toLong) ==
      ((batch.getAs[Long]("tp"), batch.getAs[Long]("fp"),
        batch.getAs[Long]("fn"), batch.getAs[Long]("tn"))),
      s"stream confusion ($tp,$fp,$fn,$tn) diverged from q221's alpha=1 row")
  }

  test("nswServeStream: serves the frozen graph batch-identically, stateless across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val (e, c1, edges, anchors) =
      graft.operators.Similarity.nswArtifacts(spark, dir)
    val probes = e.filter($"vec_id" < 50).select($"vec_id", $"v")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.nswServeStream(
      input.toDF().toDF("qid", "v"), e.select($"vec_id", $"v"),
      c1, edges, anchors)
      .writeStream.format("memory").queryName("nswserve")
      .outputMode("append").start()
    // two triggers — the serve must be stateless (per-query pure
    // against the frozen artifacts), so the split is invisible
    input.addData(probes.take(25): _*)
    q.processAllAvailable()
    input.addData(probes.drop(25): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("nswserve").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).distinct.length == 50, "every query must be served")
    assert(got.length == 250, s"expected 50 x top-5, got ${got.length}")
    got.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 5), "ranks must be dense 1..5")
      val byRank = rs.sortBy(_._2)
      assert(byRank.sliding(2).forall(p => p(0)._4 >= p(1)._4),
        "cosine must be non-increasing in rank")
    }
    // recall parity with the BATCH serve: this stream's hits against
    // the exact top-5 truth must equal q219's round-6 hits — the two
    // paths run the same beam over the same frozen artifacts
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val all = e.select($"vec_id", $"v").as[(Long, Seq[Double])].collect()
    val nrm = all.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val vec = all.toMap
    val exact: Map[Long, Set[Long]] = probes.map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid).map { case (id, v) =>
        (id, r6(dot(qv, v) / (nrm(qid) * nrm(id))))
      }.sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    val hits = got.count { case (qid, _, cid, _) => exact(qid)(cid) }
    val batchHits = SparkEntry.queries("q219_nsw_graph_recall")(spark, dir)
      .filter($"round" === 6).collect().head.getAs[Long]("hits")
    assert(hits.toLong == batchHits,
      s"stream hits $hits != batch q219 round-6 hits $batchHits")
  }
}
